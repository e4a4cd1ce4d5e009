package graft.ingest

import graft.SparkSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** CDC current-state (upsert view) semantics: latest-wins per key,
  * update-upserts, delete-removal, tombstone retention against
  * out-of-order replays, and the streaming fold across micro-batches. */
class CurrentStateSpec extends SparkSuite {

  import spark.implicits._

  // (pk, op, ts, payload)
  private def df(rows: (Long, String, Long, String)*) =
    rows.toDF("pk", "__op", "__source_ts_ms", "payload")

  test("latest version wins; updates upsert; deletes remove the key") {
    val cdc = df(
      (1L, "c", 100L, "v1"), (1L, "u", 200L, "v2"),      // update wins
      (2L, "c", 100L, "a"), (2L, "d", 300L, "a"),        // deleted key gone
      (3L, "u", 100L, "orphan"),                         // update w/o create upserts
      (4L, "c", 100L, "x"), (4L, "u", 90L, "stale"))     // old update loses
    val cur = CurrentState.currentState(cdc, Seq("pk"))
      .orderBy("pk").collect()
    assert(cur.map(r => (r.getLong(0), r.getString(3))).toSeq ===
      Seq((1L, "v2"), (3L, "orphan"), (4L, "x")))
  }

  test("timestamp ties resolve deterministically via the tieBreak column") {
    val cdc = df((1L, "c", 100L, "lo"), (1L, "u", 100L, "hi"))
      .withColumn("seq", when(col("payload") === "hi", 2L).otherwise(1L))
    val cur = CurrentState
      .currentState(cdc, Seq("pk"), tieBreak = Seq("seq"))
      .collect()
    assert(cur.length === 1 && cur.head.getAs[String]("payload") === "hi")
  }

  test("tombstones block resurrection by older replayed updates") {
    val first = df((1L, "c", 100L, "v1"), (1L, "d", 300L, "v1"))
    val state1 = CurrentState.latestPerKey(first, Seq("pk"))
    // an out-of-order update OLDER than the delete arrives later
    val replay = state1.unionByName(df((1L, "u", 200L, "zombie")))
    val state2 = CurrentState.latestPerKey(replay, Seq("pk"))
    assert(state2.collect().head.getAs[String]("__op") === "d") // still dead
    assert(CurrentState.currentState(replay, Seq("pk")).count() === 0)
  }

  test("streaming fold maintains the table across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, Long, String)]
    val path = tmpDir("graft_curstate") + "/state"
    val ckpt = tmpDir("graft_curstate_ckpt")
    def run() = CurrentState.runCurrentStateTable(
      mem.toDF().toDF("pk", "__op", "__source_ts_ms", "payload"),
      path, ckpt, Seq("pk")).awaitTermination()

    mem.addData((1L, "c", 100L, "v1"), (2L, "c", 100L, "a"))
    run()
    assert(CurrentState.readCurrentState(spark, path).count() === 2)

    // batch 2: update pk 1, delete pk 2, create pk 3
    mem.addData((1L, "u", 200L, "v2"), (2L, "d", 300L, "a"), (3L, "c", 150L, "n"))
    run()
    val cur = CurrentState.readCurrentState(spark, path)
      .orderBy("pk").collect()
    assert(cur.map(r => (r.getAs[Long]("pk"), r.getAs[String]("payload"))).toSeq ===
      Seq((1L, "v2"), (3L, "n")))
    // tombstone for pk 2 retained in the underlying table
    assert(spark.read.parquet(path).count() === 3)
  }

  test("a fold after a crash between the swap's renames keeps every " +
      "earlier key") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, Long, String)]
    val path = tmpDir("graft_curstate_crash") + "/state"
    val ckpt = tmpDir("graft_curstate_crash_ckpt")
    def run() = CurrentState.runCurrentStateTable(
      mem.toDF().toDF("pk", "__op", "__source_ts_ms", "payload"),
      path, ckpt, Seq("pk")).awaitTermination()

    mem.addData((1L, "c", 100L, "a"), (2L, "c", 100L, "b"))
    run()
    // the crash window: live renamed aside, second rename never ran
    val live = new org.apache.hadoop.fs.Path(path)
    val old = new org.apache.hadoop.fs.Path(path + "__old")
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(live, old))
    mem.addData((3L, "c", 200L, "c"))
    run()
    assert(CurrentState.readCurrentState(spark, path)
      .select("pk").as[Long].collect().sorted.toSeq === Seq(1L, 2L, 3L))
    assert(!fs.exists(old))
  }
}
