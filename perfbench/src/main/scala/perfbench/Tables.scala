package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Landing envelope files and reading the activity table back for checks. */
object Tables {

  /** `envs` in `n` consecutive, near-equal slices. */
  def split[T](envs: Seq[T], n: Int): Seq[Seq[T]] =
    (0 until n).map(k => envs.slice(k * envs.size / n, (k + 1) * envs.size / n))

  /** Write `envs` as `files` JSON-lines files into `dir`, named
    * `<prefix>-<n>.json`. */
  def stage(dir: String, prefix: String, envs: Seq[Envelope], files: Int): Unit =
    split(envs, files).zipWithIndex.foreach { case (chunk, i) =>
      Files.write(Paths.get(dir, f"$prefix-$i%05d.json"), chunk.map(_.line).asJava)
    }

  /** Every row of the activity table at `path`, as the model's rows. */
  def read(spark: SparkSession, path: String): Vector[ActivityRow] =
    spark.read.parquet(path)
      .select(col("user_id"), col("activity_type"), unix_millis(col("event_timestamp")),
        col("target_id"), col("target_type"), col("activity_pk"), col("metadata"))
      .collect().iterator.map { r =>
        ActivityRow(r.getString(0), r.getString(1), r.getLong(2), r.getString(3),
          r.getString(4), r.getLong(5), r.getMap[String, String](6).toMap)
      }.toVector

  /** `None` when the table holds exactly the expected rows (as a
    * multiset), else what differs. */
  def diff(expected: Seq[ActivityRow], got: Seq[ActivityRow]): Option[String] = {
    val e = expected.groupBy(identity).view.mapValues(_.size).toMap
    val g = got.groupBy(identity).view.mapValues(_.size).toMap
    val missing = e.flatMap { case (r, n) => Seq.fill(n - g.getOrElse(r, 0))(r) }
    val extra = g.flatMap { case (r, n) => Seq.fill(n - e.getOrElse(r, 0))(r) }
    if (missing.isEmpty && extra.isEmpty) None
    else Some(s"table has ${got.size} rows, model ${expected.size}: ${missing.size} missing " +
      s"(e.g. ${missing.take(2).mkString(", ")}), ${extra.size} unexpected " +
      s"(e.g. ${extra.take(2).mkString(", ")})")
  }

  /** Parquet data files under a table directory. */
  def dataFiles(path: String): Int = {
    val root = Paths.get(path)
    if (!Files.exists(root)) 0
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.count(p => p.toString.endsWith(".parquet")) finally s.close()
    }
  }

  def delete(path: String): Unit = {
    val root = Paths.get(path)
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
    }
  }
}
