package graft.ingest

import graft.model.Schemas
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** CDC envelope handling: JSON deserialization + validity/op gates.
  *
  * Mirrors the reference's consumer-side contract:
  *  - F1 json.loads per message, once, with one envelope schema for all
  *    four tables                          (reference: event_processor.py:63)
  *  - F2 require __op/__table/__source_ts_ms, else drop
  *                                         (reference: strategy.py:12-18)
  *  - F3 keep only op='c' (creates); updates/deletes intentionally ignored —
  *    the feed is append-only              (reference: strategy.py:16-17)
  *  - malformed JSON -> skip-and-continue  (reference: event_processor.py:75-77),
  *    reproduced via PERMISSIVE parse -> null meta-fields -> dropped by F2.
  *
  * All gates are plain Column predicates: they stay inside whole-stage
  * codegen and push down to the source where possible.
  */
object CdcEnvelope {

  /** F1: parse a Kafka-shaped frame (`value: binary|string`) once, with
    * [[Schemas.cdcEnvelope]], whatever table the message comes from; the
    * adapters route the row on `__source_table`. PERMISSIVE mode maps
    * malformed records to all-null rows (then dropped by [[valid]]).
    * `inline(array(...))` expands the parsed struct through a Generate,
    * which the gate predicates cannot be pushed below: a `r.*` projection
    * lets Catalyst copy `from_json` into every gate conjunct, parsing each
    * envelope up to six times. */
  def parse(raw: DataFrame): DataFrame =
    raw.select(inline(array(
      from_json(
        col("value").cast("string"),
        Schemas.cdcEnvelope,
        Map("mode" -> "PERMISSIVE")))))

  /** F2: validity gate — the three required meta-fields must be present
    * (reference: strategy.py:12-18). */
  def valid(df: DataFrame): DataFrame =
    df.where(
      col("__op").isNotNull &&
        col("__table").isNotNull &&
        col("__source_ts_ms").isNotNull)

  /** F3: creates only. Deletes still *arrive* (`__deleted=true` under
    * delete.handling.mode=rewrite, reference config.json:18) but never pass
    * this gate (SURVEY.md §2.10 item 1). */
  def createsOnly(df: DataFrame): DataFrame =
    df.where(col("__op") === "c")

  /** F2 + F3 composed: the full admission predicate for the activity feed. */
  def admitted(df: DataFrame): DataFrame = createsOnly(valid(df))
}
