package graft.ingest

import graft.SparkSuite

/** F1/F2/F3 gate semantics, including the malformed-JSON skip-and-continue
  * path (≙ reference event_processor.py:75-77, strategy.py:12-18). */
class EnvelopeSpec extends SparkSuite {

  import spark.implicits._

  private val create =
    """{"id":1,"shard_id":3,"liked_by":"2","__op":"c","__table":"likes","__source_ts_ms":1752228000000,"__source_table":"likes"}"""
  private val update =
    """{"id":2,"shard_id":3,"liked_by":"2","__op":"u","__table":"likes","__source_ts_ms":1752228000001,"__source_table":"likes"}"""
  private val delete =
    """{"id":3,"shard_id":3,"liked_by":"2","__op":"d","__table":"likes","__source_ts_ms":1752228000002,"__source_table":"likes","__deleted":"true"}"""
  private val missingMeta =
    """{"id":4,"shard_id":3,"liked_by":"2","__source_table":"likes"}"""
  private val malformed = """{"id":5,"shard_id": BROKEN"""

  private def run(rows: Seq[String]) =
    CdcEnvelope.admitted(
      CdcEnvelope.parse(rows.toDF("value")))

  test("F3: only creates survive; updates and deletes are dropped") {
    val out = run(Seq(create, update, delete)).collect()
    assert(out.map(_.getAs[Long]("id")).toSeq === Seq(1L))
  }

  test("F2: events missing the required meta-fields are dropped") {
    assert(run(Seq(create, missingMeta)).count() === 1)
  }

  test("F1: malformed JSON becomes all-null row → dropped, not crashed") {
    // PERMISSIVE parse maps the bad record to nulls; F2 then drops it
    assert(run(Seq(create, malformed)).count() === 1)
  }

  test("deletes arrive flagged but never pass the gate (rewrite mode)") {
    val parsed = CdcEnvelope.parse(Seq(delete).toDF("value"))
    assert(parsed.count() === 1)                    // it arrives
    assert(parsed.where("__deleted = 'true'").count() === 1)
    assert(CdcEnvelope.admitted(parsed).count() === 0) // it never passes
  }
}
