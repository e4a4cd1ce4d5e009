package graft
import org.apache.spark.sql.SparkSession

/** Local timing harness for individual registered queries — Bench's
  * timed region (noop write, one fence scope per query) over an
  * explicit subset, with the same sf0.001 warm-up, so a single query's
  * plan change can be measured without a full 180-query run.
  * Usage: runMain graft.BenchSubset <sfDir> <queryName>...
  *
  * SPARK_GRAFT_MASTER overrides the master — notably
  * `local-cluster[4,8,4096]` (4 SEPARATE executor JVMs × 8 cores):
  * real RPC, serialized shuffle blocks over the network stack, and
  * closure/kryo costs that local[32]'s in-process block manager never
  * pays. That is the SCALE_PROBE multi-node-exchange evidence mode (no
  * cluster needed). The forked run JVM's full classpath is handed to
  * the executors (graft classes aren't in SPARK_HOME's jars), plus the
  * JDK-17 --add-opens set the driver itself needs. */
object BenchSubset {
  def main(args: Array[String]): Unit = {
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[32]")
    val builder = SparkSession.builder().master(master)
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    if (master.startsWith("local-cluster")) {
      val addOpens = Seq(
        "java.base/java.lang", "java.base/java.lang.invoke",
        "java.base/java.lang.reflect", "java.base/java.io",
        "java.base/java.net", "java.base/java.nio",
        "java.base/java.util", "java.base/java.util.concurrent",
        "java.base/java.util.concurrent.atomic",
        "java.base/sun.nio.ch", "java.base/sun.nio.cs",
        "java.base/sun.security.action", "java.base/sun.util.calendar")
        .map(p => s"--add-opens $p=ALL-UNNAMED").mkString(" ")
      builder
        .config("spark.executor.extraClassPath", sys.props("java.class.path"))
        .config("spark.executor.extraJavaOptions", addOpens)
        .config("spark.executor.memory",
          sys.env.getOrElse("SPARK_GRAFT_EXECUTOR_MEM", "3g"))
    }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    // the same one-time artifact builds Bench performs outside the timed
    // region, so memo-served queries measure serving, not building
    Bench.warmArtifacts(spark, dir)
    def force(n: String, dir: String): Unit = graft.util.Fence.scope {
      SparkEntry.queries(n)(spark, dir)
        .write.format("noop").mode("overwrite").save()
    }
    for (n <- args.drop(1)) force(n, "/root/testdata/sf0.001") // warm-up, untimed
    for (n <- args.drop(1)) {
      val t0 = System.nanoTime()
      force(n, dir)
      println(f"TIMED $n ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.stop()
  }
}
