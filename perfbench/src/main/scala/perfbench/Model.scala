package perfbench

/** One row of the `user_activity` table as the model expects it. */
final case class ActivityRow(
    userId: String,
    activityType: String,
    tsMs: Long,
    targetId: String,
    targetType: String,
    pk: Long,
    metadata: Map[String, String])

/** The expected-result model: plain Scala over the generated envelopes. It
  * restates the paper's contract (F2 required meta-fields, F3 creates only,
  * P1–P4 per-table projections, effectively-once on the event key, and the
  * feed page order ts desc, pk desc) without calling the program. */
object Model {

  private val ActivityType = Map(
    "likes" -> "LIKE_SHARD", "comments" -> "COMMENT_SHARD",
    "shards" -> "CREATE_SHARD", "followers" -> "FOLLOW_USER")

  def admitted(e: Envelope): Boolean = e.flaw == Envelope.Clean && e.op == "c"

  def row(e: Envelope): ActivityRow = {
    val base = Map(
      "source_table" -> e.table, "primary_key_value" -> e.id.toString,
      "primary_key_field" -> "id", "primary_key_type" -> "integer")
    val extra = e.table match {
      case "comments" => e.extra
      case "shards" =>
        e.extra.map { case (k, v) => (if (k == "templateType") "template_type" else k) -> v }
      case _ => Nil
    }
    ActivityRow(e.actor, ActivityType(e.table), e.tsMs, e.target,
      if (e.table == "followers") "user" else "shard", e.id, base ++ extra)
  }

  /** Expected table rows: gated, projected and deduplicated on the event
    * key (activity type, pk, commit time). */
  def activity(envs: Iterable[Envelope]): Vector[ActivityRow] =
    envs.iterator.filter(admitted).map(row)
      .distinctBy(r => (r.activityType, r.pk, r.tsMs)).toVector

  /** Follow edges (follower → followee) the admitted rows establish. */
  def followees(rows: Iterable[ActivityRow]): Map[String, Set[String]] =
    rows.iterator.filter(_.activityType == "FOLLOW_USER").toVector
      .groupMapReduce(_.userId)(r => Set(r.targetId))(_ ++ _)

  private val IsoSeconds =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss")
      .withZone(java.time.ZoneOffset.UTC)

  /** The API-edge JSON payload of one row (user, type, ISO time to the
    * second, target id and type). */
  def payload(r: ActivityRow): String =
    s"""{"user_id":"${r.userId}","activity_type":"${r.activityType}",""" +
      s""""event_time_iso":"${IsoSeconds.format(java.time.Instant.ofEpochMilli(r.tsMs))}",""" +
      s""""target_id":"${r.targetId}","target_type":"${r.targetType}"}"""

  /** Expected feed pages over a fixed table and follow graph. */
  final class Pages(rows: Iterable[ActivityRow], val follows: Map[String, Set[String]]) {
    private val byUser: Map[String, Vector[ActivityRow]] =
      rows.toVector.groupBy(_.userId)

    /** (pk, payload) of the page, newest first. */
    def page(reader: String, offset: Int, limit: Int): Vector[(Long, String)] =
      follows.getOrElse(reader, Set.empty).toVector
        .flatMap(u => byUser.getOrElse(u, Vector.empty))
        .sortBy(r => (-r.tsMs, -r.pk))
        .slice(offset, offset + limit)
        .map(r => (r.pk, payload(r)))
  }

  /** `None` when `got` is exactly the expected page, else what differs. */
  def checkPage(expected: Vector[(Long, String)], got: Vector[(Long, String)]): Option[String] =
    if (expected == got) None
    else if (expected.size != got.size) Some(s"${got.size} rows, expected ${expected.size}")
    else {
      val i = expected.indices.find(i => expected(i) != got(i)).get
      Some(s"row $i is ${got(i)}, expected ${expected(i)}")
    }
}
