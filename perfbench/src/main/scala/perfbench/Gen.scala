package perfbench

import java.util.SplittableRandom

/** One Debezium envelope as the load generator lands it: the JSON line the
  * program reads, plus the fields the expected-result model needs. */
final case class Envelope(
    table: String,
    id: Long,
    op: String,
    tsMs: Long,
    actor: String,
    target: String,
    extra: Seq[(String, String)],
    flaw: Int,
    line: String)

object Envelope {
  val Clean = 0
  /** Truncated JSON: every field parses to null, so the F2 gate drops it. */
  val Malformed = 1
  /** Well-formed JSON without `__table`: dropped by the F2 gate. */
  val MissingMeta = 2
}

/** Rank-frequency sampler: rank r (0-based) is drawn with weight
  * 1/(r+1)^s, and ranks map to ids through a seeded permutation so the
  * hot ids are not simply the smallest ones. */
final class Zipf(n: Int, s: Double, rng: SplittableRandom) {
  private val cdf = {
    val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1, s))
    val c = w.scanLeft(0.0)(_ + _).tail
    c.map(_ / c.last)
  }
  private val perm = Gen.shuffled(0 until n, rng)
  def sample(r: SplittableRandom): Int = at(r.nextDouble())

  /** The id at quantile `u` (0 ≤ u < 1) of the distribution. */
  def at(u: Double): Int = {
    val i = java.util.Arrays.binarySearch(cdf, u)
    perm(math.min(if (i >= 0) i else -i - 1, n - 1))
  }
}

/** The seeded universe every workload draws from: `users` users with
  * Zipf-skewed activity, a heavy-tailed follower count per user (who gets
  * followed is Zipf too), the four CDC source tables, creates : updates :
  * deletes = 8 : 1 : 1, ~1% malformed JSON, ~0.5% envelopes missing a
  * required meta-field, and ~5% of envelopes replayed verbatim shortly
  * after their first delivery.
  *
  * The generator is a stream: successive [[next]] calls continue ids and
  * commit timestamps, so a setup batch and a live batch never collide.
  * Commit times advance [[stepMs]] per envelope and stay unique, so the
  * served page order (ts desc, pk desc) has no ties. */
final class Gen(seed: Long, val users: Int) {
  import Gen._

  private val rng = new SplittableRandom(seed)
  // The universe's shape (which users are hot, which are popular) is the
  // same for every seed; the seed draws the events and requests. Runs
  // with different seeds then differ by sampling, not by a different
  // hottest user.
  private val shape = new SplittableRandom(StructureSeed)
  private val activity = new Zipf(users, 1.1, shape.split())
  private val popularity = new Zipf(users, 1.0, shape.split())
  private val nextId = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(1L)
  private val created =
    scala.collection.mutable.Map.empty[String, scala.collection.mutable.ArrayBuffer[Long]]
  private val recent = scala.collection.mutable.ArrayBuffer.empty[Envelope]
  private var clock = BaseTsMs

  /** Drawn from the activity distribution — also how readers are chosen. */
  def activeUser(r: SplittableRandom): Int = activity.sample(r)
  def activeUserAt(u: Double): Int = activity.at(u)

  /** `n` new envelopes plus their replays, in landing order. Replays only
    * repeat envelopes of the same call, so separately ingested batches
    * (a set-up table and a live stream) never share an event. */
  def next(n: Int): Vector[Envelope] = {
    recent.clear()
    val out = Vector.newBuilder[Envelope]
    var i = 0
    while (i < n) {
      val e = fresh()
      out += e
      recent += e
      if (recent.size > ReplayWindow) recent.remove(0)
      if (rng.nextDouble() < ReplayShare) out += recent(rng.nextInt(recent.size))
      i += 1
    }
    out.result()
  }

  /** Follow-only envelopes (all creates): `edges` follow edges from
    * active users to popular ones. */
  def follows(edges: Int): Vector[Envelope] =
    Vector.fill(edges)(make("followers", "c", Envelope.Clean))

  private def fresh(): Envelope = {
    val u = rng.nextDouble()
    val table =
      if (u < 0.40) "likes" else if (u < 0.65) "comments"
      else if (u < 0.80) "shards" else "followers"
    val o = rng.nextInt(10)
    val op = if (o < 8) "c" else if (o == 8) "u" else "d"
    val f = rng.nextDouble()
    val flaw =
      if (f < MalformedShare) Envelope.Malformed
      else if (f < MalformedShare + MissingMetaShare) Envelope.MissingMeta
      else Envelope.Clean
    make(table, op, flaw)
  }

  private def make(table: String, opWanted: String, flaw: Int): Envelope = {
    val ids = created.getOrElseUpdate(table, scala.collection.mutable.ArrayBuffer.empty)
    val op = if (opWanted != "c" && ids.isEmpty) "c" else opWanted
    val id =
      if (op == "c") { val i = nextId(table); nextId(table) = i + 1; ids += i; i }
      else ids(rng.nextInt(ids.size))
    clock += StepMs
    val ts = clock + rng.nextInt(StepMs)
    clock = ts
    val actor = activity.sample(rng).toString
    val (target, extra) = table match {
      case "likes" => ((rng.nextInt(ShardIds) + 1).toString, Nil)
      case "comments" =>
        ((rng.nextInt(ShardIds) + 1).toString, Seq("message" -> s"comment $id by $actor"))
      case "shards" =>
        (id.toString, Seq(
          "templateType" -> Templates(rng.nextInt(Templates.size)),
          "mode" -> (if (rng.nextBoolean()) "normal" else "collaboration"),
          "type" -> Types(rng.nextInt(Types.size)),
          "title" -> s"Shard $id of user $actor"))
      case "followers" =>
        var t = popularity.sample(rng)
        if (t.toString == actor) t = (t + 1) % users
        (t.toString, Nil)
    }
    Envelope(table, id, op, ts, actor, target, extra, flaw,
      json(table, id, op, ts, actor, target, extra, flaw))
  }
}

object Gen {
  val StructureSeed = 20250711L
  /** 2025-07-11T10:00:00Z, the reference's smoke-test epoch. */
  val BaseTsMs = 1752228000000L
  /** Commit-time step per envelope: 100k envelopes span ~33 minutes, inside
    * the ingest dedup's one-hour watermark, so no row is ever late. */
  val StepMs = 10
  val ReplayShare = 0.05
  val ReplayWindow = 500
  val MalformedShare = 0.01
  val MissingMetaShare = 0.005
  val ShardIds = 5000
  val Templates = Vector("react", "node", "static")
  val Types = Vector("public", "private", "forked")

  /** `xs` in a random order (Fisher–Yates). */
  def shuffled[T](xs: Seq[T], r: SplittableRandom): Vector[T] = {
    val a = xs.toBuffer
    for (i <- a.length - 1 to 1 by -1) {
      val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toVector
  }

  private def iso(ms: Long): String =
    java.time.Instant.ofEpochMilli(ms).toString

  def json(table: String, id: Long, op: String, ts: Long, actor: String,
      target: String, extra: Seq[(String, String)], flaw: Int): String = {
    val body = table match {
      case "likes" => s""""id":$id,"shard_id":$target,"liked_by":"$actor""""
      case "comments" =>
        s""""id":$id,"message":"${extra.head._2}","user_id":"$actor","shard_id":$target"""
      case "shards" =>
        val m = extra.toMap
        s""""id":$id,"title":"${m("title")}","user_id":"$actor","templateType":"${m("templateType")}",""" +
          s""""mode":"${m("mode")}","type":"${m("type")}","last_sync_timestamp":"${iso(ts)}""""
      case "followers" =>
        s""""id":$id,"follower_id":"$actor","following_id":"$target""""
    }
    val table_ = if (flaw == Envelope.MissingMeta) "" else s""""__table":"$table","""
    val line =
      s"""{$body,"updated_at":null,"created_at":"${iso(ts)}","__op":"$op",$table_""" +
        s""""__source_ts_ms":$ts,"__source_table":"$table","__deleted":"${op == "d"}"}"""
    if (flaw == Envelope.Malformed) line.substring(0, line.length / 2) else line
  }

  /** Rows of the `events` fixture table (the repository test fixtures' schema: event_id,
    * ts, user_id, event_type, value, props), `n` events over 30 days with
    * Zipf-skewed users. Deterministic in `seed`. */
  def events(seed: Long, n: Int, users: Int): Vector[(Long, Long, Long, String, Double, String)] = {
    val rng = new SplittableRandom(seed)
    val who = new Zipf(users, 1.1, rng.split())
    val kinds = Vector("click", "view", "signup", "purchase", "error")
    val spanUs = 30L * 24 * 3600 * 1000000
    val t0Us = 1704067200000000L // 2024-01-01
    val ts = Array.fill(n)(t0Us + (rng.nextDouble() * spanUs).toLong).sorted
    Vector.tabulate(n) { i =>
      (i.toLong, ts(i), who.sample(rng).toLong, kinds(rng.nextInt(kinds.size)),
        math.round(rng.nextDouble() * 20000) / 100.0, s"""{"k": ${rng.nextInt(100)}}""")
    }
  }
}
