import org.apache.spark.sql.SparkSession

/** Scratch: dump `explain("formatted")` of named registered queries to
  * files — the plans/r19 before/after evidence the optimization round
  * commits. Usage: runMain PlanDump <sfDir> <outDir> <suffix> <query>...
  * where `sfDir` is the fixture directory the queries read. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val Array(sf, outDir, suffix) = args.take(3)
    new java.io.File(outDir).mkdirs()
    for (q <- args.drop(3)) graft.util.Fence.scope {
      val df = graft.SparkEntry.queries(q)(spark, sf)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"${q}_$suffix.txt"),
        txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"dumped $q")
    }
    spark.stop()
  }
}
