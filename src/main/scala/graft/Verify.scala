package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [queryName...] — names restrict the dump to a
    // subset for fast local iteration; the driver always passes just two.
    val sfDir = args(0)
    val outDir = args(1)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args.drop(2).toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Queries are independent; run 8 at a time so one slow query doesn't
    // serialize the whole gate (Spark's scheduler interleaves the jobs).
    // coalesce(1) keeps each result a single ordered file — the hash
    // compare is row-order-sensitive.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    // Failures must be VISIBLE to the driver (VERDICT r8 item 3): a query
    // that throws used to just never write its output dir, and the driver
    // silently dropped it from CORRECTNESS (r8: 39 absences instead of 39
    // err rows). Collect per-query messages and write errors.json beside
    // oracle_sql.json so a regression shows up as an explicit failure.
    val errors = new java.util.concurrent.ConcurrentHashMap[String, String]()
    // Each query runs in its own fence scope, so one query's release can
    // never drop another in-flight query's blocks (graft.util.Fence).
    val futures = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
      scala.concurrent.Future {
        try graft.util.Fence.scope {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          errors.put(name,
            s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(500)}")
        }
      }
    }
    scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(futures),
      scala.concurrent.duration.Duration.Inf)
    pool.shutdown()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Always written (empty object when clean) so absence vs emptiness is
    // itself a signal: one entry per failed query.
    val errorsJson = {
      import scala.jdk.CollectionConverters._
      errors.asScala.toSeq.sortBy(_._1)
        .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    }
    Files.writeString(Paths.get(s"$outDir/errors.json"), errorsJson)
    spark.stop()
  }
}
