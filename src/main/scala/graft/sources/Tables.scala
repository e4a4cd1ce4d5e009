package graft.sources

import java.util.concurrent.ConcurrentHashMap
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Fixture-table loader. All engine queries read the driver-provided
  * parquet fixtures (TESTDATA.md) — columnar scans with predicate pushdown
  * and column pruning, the Spark analog of the reference's storage layer. */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  /** Per table path: its files' (path, length, mtime) and the schema
    * inferred from them — inference is a Spark job, a read with the schema
    * none. A rewritten table lists other files, so it is re-inferred. (Not
    * an `ArtifactMemo` cell, whose hits Bench counts as `memo_served`.) */
  private val schemas = new ConcurrentHashMap[String, (Seq[(String, Long, Long)], StructType)]

  private def read(spark: SparkSession, path: String): DataFrame = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return spark.read.parquet(path) // Spark's own "path not found"
    val it = fs.listFiles(p, true)
    val files = Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
      .map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).toSeq.sorted
    val schema = Option(schemas.get(path)).collect { case (`files`, s) => s }.getOrElse {
      val s = spark.read.parquet(path).schema
      schemas.put(path, (files, s))
      s
    }
    spark.read.schema(schema).parquet(path)
  }

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") {
      // events.ts has shipped in two physical generations: parquet
      // TIMESTAMP(NANOS) (which Spark 4 rejects at schema-read time unless
      // the session-global legacy nanosAsLong flag is on — so it is
      // switched on BEFORE inference, once) and plain timestamp[us].
      // Branch on the resolved dataType so both generations resolve to
      // identical TimestampType instants under the UTC session, and a
      // future fixture regeneration can't break the read path again.
      if (!spark.conf.getOption(NanosAsLong).contains("true"))
        spark.conf.set(NanosAsLong, "true")
      val raw = read(spark, s"$dir/events.parquet")
      raw.schema("ts").dataType match {
        case LongType =>
          // nanos-as-long generation: integer `div` truncates exactly like
          // DuckDB's ns->us narrowing, so oracle SQL on the same file sees
          // identical instants.
          raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case TimestampNTZType =>
          // timestamp[us] generation loads as TIMESTAMP_NTZ; the UTC
          // session makes the cast to TimestampType instant-preserving.
          raw.withColumn("ts", col("ts").cast(TimestampType))
        case _ =>
          raw // already TimestampType — use as-is
      }
    } else {
      read(spark, s"$dir/$name.parquet")
    }
}
