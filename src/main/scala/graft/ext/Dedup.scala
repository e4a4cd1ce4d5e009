package graft.ext

import graft.util.Fence
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for a training-data pipeline, over the
  * `documents` table: exact (normalized-text), MinHash+LSH banded near-dup,
  * and SimHash near-dup.
  *
  * Scale design (the part that matters at 100 TB):
  *  - exact dedup is one hash-shuffle on the normalized text (Catalyst
  *    turns the ranking window / group-min into a single exchange);
  *  - near-dup NEVER goes all-pairs: LSH banding turns candidate generation
  *    into `groupBy(band_id, band_hash)` — a shuffle whose key cardinality
  *    is O(docs × bands), followed by within-bucket pairing. Verification
  *    joins candidate id-pairs back to the shingle sets (so the wide shingle
  *    arrays never ride through the band explode). Exact duplicates — the
  *    realistic bucket-skew case (a viral page crawled d times collides in
  *    every band) — are collapsed to one representative per distinct
  *    shingle set BEFORE banding and expanded back after verification
  *    (exact, spec-pinned), so banding/verify work is bounded by distinct
  *    content, never by duplicate multiplicity.
  *  - SimHash is one 64-bit fingerprint per doc; banding its 16-bit quarters
  *    gives candidates for hamming-distance verify (Manku et al., WWW'07).
  */
object Dedup {

  import TextOps._

  /** Free the intermediates registered with no [[graft.util.Fence]] scope
    * open. Kept for perfbench's `FeedAnalytics`, which forces each query
    * outside any scope and releases between queries; engine code and the
    * harnesses scope their blocks with `Fence.scope` instead. */
  def releaseAll(): Unit = Fence.releaseRoot()

  /** Exact dedup survivors: first doc_id per normalized-text group.
    * One shuffle; at scale this is the canonical `groupBy(norm)` keeper
    * pattern. */
  def exactSurvivors(docs: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("norm")).orderBy(col("doc_id"))
    docs
      .withColumn("norm", normText(col("text")))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select("doc_id", "lang", "source", "n_chars")
  }

  /** Incremental dedup: docs in the incoming batch (`isIncoming`) whose
    * content fingerprint does not already exist in the retained corpus —
    * the anti-join a continuously-ingesting pipeline runs per batch
    * against its historical fingerprint index.
    *
    * Scale: the corpus side carries only (fp) — 16 bytes/doc, not the
    * text — so the anti-join shuffles a fingerprint column, not the
    * corpus. With a daily batch ≪ corpus, pair this with the Bloom
    * prefilter ([[TextAnalysis.contaminationBloom]]'s pattern) to skip
    * the shuffle for the overwhelmingly-novel majority. */
  def incrementalSurvivors(docs: DataFrame, isIncoming: Column): DataFrame = {
    val fps = docs.select(col("doc_id"), isIncoming.as("inc"),
      md5(normText(col("text"))).as("fp"))
    fps.where(col("inc")).select("doc_id", "fp")
      .join(fps.where(!col("inc")).select("fp"), Seq("fp"), "left_anti")
      .select("doc_id", "fp")
      .orderBy("doc_id")
  }

  // ------------------------------------------------------------- MinHash/LSH

  /** Number of minhash functions = bands × rowsPerBand. 32×3 ⇒ candidate
    * recall ≥ 1-(1-J³)³² (≈ 1 - 1e-18 at J=0.9) — effectively exact for the
    * verify threshold while staying strictly sub-quadratic. */
  val bands = 32
  val rowsPerBand = 3
  val numHashes: Int = bands * rowsPerBand

  /** doc_id + distinct word-3-gram shingle set, as ascending-sorted
    * xxhash64 values ([[graft.expr.ShingleHashes]] — one fused pass; the
    * shingle strings themselves are never materialized). Jaccard over
    * these hash sets equals Jaccard over the string sets modulo 64-bit
    * collisions (~s²·2⁻⁶⁴ per pair — immaterial). */
  def shingled(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      graft.expr.ShingleHashes(wsTokens(lower(col("text"))), 3).as("sh"))

  /** MinHash signature: the 96 per-function minima over the shingle-hash
    * set via the [[graft.expr.MinHashSignature]] codegen expression
    * (splitmix64-mixed) in one pass — no shuffle, no string re-hashing. */
  def signed(sh: DataFrame): DataFrame =
    sh.withColumn("sig", graft.expr.MinHashSignature(col("sh"), numHashes))

  /** [[shingled]] with the md5-derived [[portableTokenHash]] as the
    * element hash instead of the fused xxhash64 — the same trade
    * `near_dup_simhash` makes: md5 is defined identically in every
    * engine, so signatures built downstream (MinHash minima are
    * splitmix64 mixes of these hashes — integer-exact everywhere) are
    * reproducible in DuckDB, which is what lets the persisted-index
    * probe `dedup_incremental_indexed` carry a FULL oracle instead of a
    * rows-only check. The shingle strings here materialize briefly
    * inside one projection (the fused path never builds them); identical
    * distinct-3-gram semantics. */
  def shingledPortable(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      graft.expr.PortableShingleHashes(wsTokens(lower(col("text"))), 3)
        .as("sh"))

  /** Candidate pairs from LSH banding: docs sharing any (band_id, band hash)
    * bucket. Returns distinct (doc_a < doc_b) id pairs only — the scalable
    * shape: wide arrays stay out of the shuffle. */
  /** (doc_id, band_id, band_hash) rows of a signed frame — the skinny
    * banding shared by [[lshCandidates]] and the persisted
    * [[graft.sinks.DedupIndex]]. */
  private[graft] def banded(signed: DataFrame): DataFrame =
    signed.select(
      col("doc_id"),
      posexplode(
        transform(sequence(lit(0), lit(bands - 1)),
          b => hash(slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand)))))
        .as(Seq("band_id", "band_hash")))

  def lshCandidates(signed: DataFrame): DataFrame = {
    // persist the banding before the self-join (r19 optimization, guide
    // §2.4): both join sides derive from the same frame, so the 96-hash
    // MinHash signature + band slicing otherwise computes twice. The
    // banded frame is skinny by design (three longs per (doc, band) row,
    // `bands`× the rep count) — exactly what [[graft.sinks.DedupIndex]]
    // persists durably for the same reason.
    val bd = Fence.cached(banded(signed))
    val a = bd.as("a")
    val b = bd.as("b")
    a.join(b,
        col("a.band_id") === col("b.band_id") &&
          col("a.band_hash") === col("b.band_hash") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** Verified near-dup pairs: LSH candidates whose shingle-set Jaccard
    * meets the threshold — |∩|/|∪| on the distinct shingle-hash sets
    * (equal to the string-set Jaccard modulo 64-bit collisions; the
    * DuckDB oracle computes the string form and hash-matches). */
  /** The collapsed near-dup CORE: the identical-content membership map
    * (doc_id, rep) and the verified representative pairs (rep_a, rep_b,
    * jaccard). Both the full pair expansion ([[nearDupJaccard]]) and the
    * linear clustering edge list ([[nearDupEdges]]) derive from these
    * two skinny frames — and at 100 TB they are what a pipeline should
    * persist: O(docs) + O(verified distinct-content pairs) rows, vs the
    * Σ d² expanded pair list. */
  private[ext] def nearDupCore(
      docs: DataFrame, threshold: Double): (DataFrame, DataFrame) = {
    // the identical-content collapse below treats within-group pairs
    // (jaccard exactly 1.0) as unconditionally passing; a degenerate
    // threshold > 1.0 would break that equivalence, so enforce the
    // precondition rather than assume it
    require(threshold <= 1.0,
      s"near-dup threshold must be <= 1.0 (got $threshold): the " +
        "identical-content collapse emits jaccard-1.0 pairs unconditionally")
    // docs with < n tokens have EMPTY shingle sets — which hash to the
    // same all-max MinHash signature, collide in every band, and reach
    // the Jaccard verify as 0/0 (a job-killing error under ANSI mode).
    // They can never be near-dups, and the oracle agrees: NULL jaccard
    // never passes the threshold. Not cached: since the collapse, its
    // single consumer is the window below (withRep carries the cache).
    val sh = shingled(docs).where(size(col("sh")) > 0)
    // IDENTICAL-CONTENT COLLAPSE (r11): exact duplicates — the realistic
    // 100 TB skew, a viral page crawled d times — share a shingle SET,
    // hence a signature, hence EVERY band bucket: uncollapsed banding
    // emits d² candidate rows and drags two shingle arrays through the
    // verify join for each of them. Collapsing identical sets to one
    // representative (min doc_id — one extra shuffle of the per-doc set
    // rows, each row traveling once) bounds banding AND verification by
    // DISTINCT content; the expansion back to member pairs is exact:
    //  - within a group every pair has Jaccard exactly 1.0 (identical
    //    sets) and identical signatures collide in every band, so the
    //    uncollapsed plan emitted each such pair too;
    //  - across groups a member pair is a candidate iff its reps are
    //    (identical signatures) and carries the reps' exact jaccard
    //    (identical arrays) — expanding verified rep pairs over the two
    //    member lists reproduces the uncollapsed output value-for-value
    //    (NearDupCollapseSpec pins both claims on a planted corpus).
    // The d²-shaped piece that remains is the OUTPUT pair list itself —
    // inherent to pair semantics; it carries only (id, id, double), and
    // the clustering consumers collapse it to component labels.
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("sh"))
    val withRep = Fence.cached(sh.select(col("doc_id"), col("sh"))
      .withColumn("rep", min(col("doc_id")).over(w)))
    val members = withRep.select(col("doc_id"), col("rep"))
    val reps = withRep.where(col("doc_id") === col("rep"))
      .select(col("doc_id"), col("sh"))
    val cands = lshCandidates(signed(reps))
    // |∩| in ONE merge pass over the ascending-sorted hash sets
    // (SortedIntersectCount); |∪| = |a|+|b|−|∩| by inclusion–exclusion on
    // distinct sets — replaces array_intersect + array_union, which built
    // two hash sets and materialized two arrays per candidate pair just
    // to take their sizes.
    val repPairs = cands
      .join(reps.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), Seq("doc_a"))
      .join(reps.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), Seq("doc_b"))
      .withColumn("inter",
        graft.expr.SortedIntersectCount(col("sh_a"), col("sh_b")))
      .withColumn("jaccard",
        col("inter").cast("double") /
          (size(col("sh_a")) + size(col("sh_b")) - col("inter")))
      .where(col("jaccard") >= threshold)
      .select(col("doc_a").as("rep_a"), col("doc_b").as("rep_b"),
        col("jaccard"))
    (members, repPairs)
  }

  /** Expand a collapsed (members, verified rep pairs) core back to the
    * full member-pair list: cross-group pairs carry the reps' exact
    * verify value, within-group pairs carry `withinValue` (the identical-
    * content identity: jaccard 1.0 / hamming 0). Shared by the Jaccard
    * and SimHash paths — only the value column differs. */
  private def expandMemberPairs(
      members: DataFrame, repPairs: DataFrame,
      valueName: String, withinValue: Column): DataFrame = {
    val cross = repPairs
      .join(members.select(col("doc_id").as("id_a"), col("rep").as("rep_a")),
        Seq("rep_a"))
      .join(members.select(col("doc_id").as("id_b"), col("rep").as("rep_b")),
        Seq("rep_b"))
      .select(least(col("id_a"), col("id_b")).as("doc_a"),
        greatest(col("id_a"), col("id_b")).as("doc_b"), col(valueName))
    val within = members.select(col("rep"), col("doc_id").as("doc_a"))
      .join(members.select(col("rep"), col("doc_id").as("doc_b")), Seq("rep"))
      .where(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), withinValue.as(valueName))
    cross.unionByName(within)
  }

  /** [[nearDupCore]] → the full pair list (the uncollapsed output,
    * value-for-value). */
  private def expandPairs(members: DataFrame, repPairs: DataFrame): DataFrame =
    expandMemberPairs(members, repPairs, "jaccard", lit(1.0))

  /** [[nearDupCore]] → the linear clustering edge list (see
    * [[nearDupEdges]] for the equivalence argument). */
  private def edgesFrom(members: DataFrame, repPairs: DataFrame): DataFrame =
    members.where(col("doc_id") =!= col("rep"))
      .select(col("doc_id").as("doc_a"), col("rep").as("doc_b"))
      .unionByName(repPairs.select(
        col("rep_a").as("doc_a"), col("rep_b").as("doc_b")))

  def nearDupJaccard(docs: DataFrame, threshold: Double = 0.8): DataFrame = {
    val (members, repPairs) = nearDupCore(docs, threshold)
    expandPairs(members, repPairs)
  }

  /** Connectivity-equivalent LINEAR edge list for clustering: one star
    * edge per non-representative group member (doc → its rep) plus the
    * verified representative pairs. Connected components over these
    * edges EQUAL components over [[nearDupJaccard]]'s full expansion —
    * each identical-content group is connected through its rep, and
    * cross-group reachability rides the rep pairs (a member pair exists
    * in the expansion iff its rep pair exists here) — at
    * O(docs + repPairs) rows instead of Σ d²: the input the components
    * loop should see at 100 TB, where one viral duplicate group would
    * otherwise quadratically dominate the edge list. Membership also
    * matches: a non-rep member always has a within pair (group ≥ 2) and
    * always has its star edge; a singleton's rep appears in either form
    * iff it has a verified cross pair. NearDupCollapseSpec pins label
    * equality on the planted corpus. */
  def nearDupEdges(docs: DataFrame, threshold: Double = 0.8): DataFrame = {
    val (members, repPairs) = nearDupCore(docs, threshold)
    edgesFrom(members, repPairs)
  }

  // --------------------------------------------------------------- SimHash

  /** Portable 64-bit token hash: the first 16 hex chars of md5, composed
    * as `(hi32 << 32) | lo32`. md5 is defined identically in every engine,
    * so fingerprints built on it are reproducible outside Spark — which is
    * what lets `near_dup_simhash` carry a full DuckDB oracle instead of a
    * rows-only check (xxhash64 would be marginally faster but its seeded
    * variant exists only in Spark). Both 32-bit halves fit a signed long
    * before the shift, and the shift wraps to the same two's-complement
    * bit pattern DuckDB's unsigned arithmetic produces — votes, bands and
    * hamming read bits only, so the engines agree exactly. */
  def portableTokenHash(token: Column): Column = {
    val m = md5(token)
    shiftleft(conv(substring(m, 1, 8), 16, 10).cast("long"), 32)
      .bitwiseOR(conv(substring(m, 9, 8), 16, 10).cast("long"))
  }

  /** 64-bit SimHash over the whitespace-token multiset: per bit b, sum ±1
    * votes of each token's hash bit b; fingerprint bit = vote sign. Tokens
    * are string-hashed once ([[portableTokenHash]]); voting + packing is
    * the [[graft.expr.SimHash64]] codegen expression. Output is ONE long —
    * 8 bytes ride through the banding explode and verify joins where an
    * array<int> of bits would carry 64 elements. */
  def simhash64(tokens: Column): Column =
    graft.expr.SimHash64(
      transform(transform(tokens, t => md5(t)),
        m => shiftleft(conv(substring(m, 1, 8), 16, 10).cast("long"), 32)
          .bitwiseOR(conv(substring(m, 9, 8), 16, 10).cast("long"))))

  /** Docs fingerprinted with the packed simhash + the 4 × 16-bit band
    * values used for candidate bucketing (same band values as the
    * pre-packing array form: band q = (fp >>> 16q) & 0xFFFF). */
  def simhashed(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), simhash64(wsTokens(lower(col("text")))).as("fp"))
      .withColumn("bands",
        array((0 until 4).map(q =>
          shiftright(col("fp"), q * 16).bitwiseAND(lit(0xFFFFL)).cast("int")): _*))

  /** Containment join: directed pairs (a, b) with
    * |sh(a) ∩ sh(b)| / |sh(a)| ≥ threshold — the partial-duplicate case
    * Jaccard misses (doc a quoted verbatim inside a much larger doc b has
    * containment ≈ 1 but Jaccard ≈ |a|/|b|).
    *
    * Candidates via PREFIX FILTERING (the set-similarity-join family of
    * Chaudhuri et al. ICDE'06 / PPJoin): under any global total order on
    * shingles, a pair with containment ≥ t over a must share at least one
    * of a's first ⌊(1−t)·|a|⌋+1 shingles — if the whole prefix misses,
    * at most |a| − (⌊(1−t)|a|⌋+1) < t·|a| shingles can match.
    *
    * The global order is RAREST-FIRST (ascending corpus document
    * frequency, shingle hash as tie-break) — the ordering the
    * set-similarity literature shows minimizes candidates: a doc's prefix
    * is its rarest shingles, so prefix postings are short and a
    * corpus-common shingle ("terms of service" boilerplate) never enters
    * any probe prefix — the hot join keys the previous hash-ordered form
    * suffered at scale drop out of the probe side entirely (VERDICT r4
    * item 2). Any fixed order preserves the no-false-negative guarantee;
    * frequency order only shrinks the candidate set.
    *
    * Scale: one map-side-combined count over the postings builds the
    * frequency dictionary; the probe prefix is a per-doc rank window
    * (doc-keyed shuffle, partitions with the corpus). Postings with df = 1
    * are dropped from BOTH join sides — a unique shingle's only occurrence
    * is its own doc, which the a≠b filter excludes — so the candidate join
    * touches only shingles that actually co-occur. Candidates are id
    * pairs; the wide arrays re-attach only for the exact verify, as in
    * [[nearDupJaccard]]. */
  def containmentPairs(docs: DataFrame, threshold: Double = 0.8): DataFrame = {
    // scanParallel: the fused shingle pass + posting explode otherwise run
    // on a single-file scan's one partition
    val sh = Fence.cached(
      shingled(TextOps.scanParallel(docs)).where(size(col("sh")) > 0))
    val postings = Fence.cached(
      sh.select(col("doc_id"), size(col("sh")).as("n_sh"),
        explode(col("sh")).as("h")))
    val dfreq = postings.groupBy("h").agg(count(lit(1)).as("df"))
    // The +1e-9 guards the floor against float representation error:
    // (1.0-0.8)*|sh| can evaluate just below the true product when |sh| is
    // divisible by 5, shortening the prefix by one and silently dropping a
    // pair sitting exactly at the threshold. Overshooting only widens the
    // candidate set — it can never lose a pair.
    val k = (floor(lit(1.0 - threshold) * col("n_sh") + lit(1e-9)) + 1)
      .cast("int")
    val byRarity = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("df"), col("h"))
    // NOT cached: both probe and index read this join, but the shuffles
    // feeding it are reused via ReuseExchange, and a cache materialization
    // here measures SLOWER (5.2 s vs 2.6 s at sf0.1) than recomputing the
    // cheap hash-join from the cached postings
    val withDf = postings.join(dfreq, Seq("h"))
    // rank over the FULL rarest-first order (df=1 shingles sort first and
    // occupy prefix slots), then drop df=1 members from the probe: the
    // guarantee says a qualifying pair shares ≥1 TRUE-prefix shingle, and
    // a shared shingle necessarily has df ≥ 2 — so the df≥2 subset of the
    // true prefix finds every pair.
    val probe = withDf
      .withColumn("rn", row_number().over(byRarity))
      .where(col("rn") <= k && col("df") >= 2)
      .select(col("doc_id").as("doc_a"), col("n_sh").as("n_a"), col("h"))
    val index = withDf.where(col("df") >= 2) // df=1 matches only itself
      .select(col("doc_id").as("doc_b"), col("n_sh").as("n_b"), col("h"))
    // LENGTH FILTER (PPJoin family): |∩| ≥ t·|a| and |∩| ≤ |b| force
    // |b| ≥ t·|a| — applied inside the join so undersized partners never
    // reach the distinct or the verify. The -1e-9 guards the same float
    // representation edge as the prefix floor (0.8·n can evaluate just
    // above the true product and reject an exactly-at-threshold pair);
    // admitting a borderline partner only costs a verify row.
    val cands = probe.join(index, Seq("h"))
      .where(col("doc_a") =!= col("doc_b") &&
        col("n_b").cast("double") >= lit(threshold) * col("n_a") - lit(1e-9))
      .select("doc_a", "doc_b").distinct()
    cands
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), Seq("doc_b"))
      .withColumn("containment",
        graft.expr.SortedIntersectCount(col("sh_a"), col("sh_b"))
          .cast("double") / size(col("sh_a")))
      .where(col("containment") >= threshold)
      .select("doc_a", "doc_b", "containment")
  }

  /** Cross-modal near-dup evidence: every verified text-Jaccard pair
    * annotated with the embedding cosine of the same two docs — the
    * fusion view a dedup pipeline uses to separate true rewrites (high
    * jaccard AND high cosine) from template collisions (high jaccard,
    * low cosine). The embedding attach is two id-keyed joins of 64-float
    * vectors against the (tiny relative to corpus) verified pair set. */
  def nearDupFused(
      docs: DataFrame,
      embeddings: DataFrame,
      threshold: Double = 0.8): DataFrame = {
    val e = embeddings.select(col("vec_id"),
      Similarity.asDouble(col("embedding")).as("v"))
    nearDupJaccard(docs, threshold)
      .join(e.select(col("vec_id").as("doc_a"), col("v").as("v_a")), Seq("doc_a"))
      .join(e.select(col("vec_id").as("doc_b"), col("v").as("v_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("jaccard"),
        round(Similarity.cosine(col("v_a"), col("v_b")), 6).as("cosine_r"))
      .orderBy("doc_a", "doc_b")
  }

  // ----------------------------------------------------------- clustering

  /** The convergence sum of one [[components]] round, read from its
    * observed metric. Strict: defaulting anything but the empty-graph
    * null sum to ZERO would fake instant convergence and ship wrong
    * labels, so a missing key (a renamed metric) or a mis-typed value
    * fails loudly instead. */
  private[ext] def convergenceSum(metric: Option[Any]): java.math.BigDecimal =
    metric match {
      case Some(d: java.math.BigDecimal) => d
      case Some(d: scala.math.BigDecimal) => d.bigDecimal
      case Some(null) => java.math.BigDecimal.ZERO
      case Some(other) => throw new IllegalStateException(
        s"convergence metric has unexpected type ${other.getClass}")
      case None => throw new IllegalStateException(
        "convergence metric missing from the round's observation")
    }

  /** Connected components over an undirected pair graph — the step that
    * turns verified near-dup PAIRS into duplicate CLUSTERS, so a pipeline
    * can keep exactly one representative per transitive group (A~B, B~C ⇒
    * {A,B,C} even when A≁C directly).
    *
    * Algorithm: iterative min-label propagation with pointer jumping. Each
    * round a node's label becomes the min of (its label, its neighbors'
    * labels, its label's label). The neighbor step is one hash-join on the
    * edge list; the pointer-jump step (label-of-label) collapses chains in
    * O(log diameter) rounds where plain propagation needs O(diameter).
    * Labels are node ids throughout, so every frame in flight is two longs
    * per row — document text never enters the loop.
    *
    * Scale posture: per round, two key-shuffles over |V|+|E| (long, long)
    * rows — and exactly ONE Spark job: each round's frame is persisted and
    * materialized by the convergence aggregate itself (labels are monotone
    * non-increasing, so an unchanged label SUM is an exact fixpoint test).
    * Superseded rounds unpersist eagerly; each round's plan reads the
    * previous round's in-memory relation, so lineage depth is bounded by
    * the (log-diameter) round count — for near-dup graphs, 1–3 rounds.
    * On high-diameter graphs an eager `localCheckpoint` is interposed
    * every [[checkpointEvery]] rounds to truncate the plan.
    */
  /** Default rounds between lineage-truncating localCheckpoints in
    * [[components]]. Each round's logical plan references the previous
    * round's THREE times (neighbor join, pointer-jump join, main select),
    * so the analyzed plan grows as 3^rounds between truncations — at 8 the
    * plan-string machinery alone OOMs (observed on a 400-node path); 4
    * bounds the growth to ~81× a single round's plan. */
  val defaultCheckpointEvery = 4

  def components(
      pairs: DataFrame,
      maxIter: Int = 25,
      checkpointEvery: Int = defaultCheckpointEvery): DataFrame = {
    // EAGER localCheckpoint, not persist: every round's logical plan
    // references the edge list, and a persisted frame keeps its full
    // upstream LOGICAL plan — so each round would re-analyze the whole
    // pair-generation pipeline (LSH banding / semantic assignment), and
    // the analyzed tree triples per round. Truncating lineage at the loop
    // entrance makes every round's plan leaf a checkpointed RDD scan:
    // measured 15.1 s → 2.2 s for semantic_dedup's 158-edge graph at
    // sf0.1 (the loop itself; 2.6 s end-to-end — PLANS.md round-5 table).
    // The materialization itself is the pair set — two longs/row.
    val edges =
      pairs.select(col("doc_a").as("u"), col("doc_b").as("v"))
        .union(pairs.select(col("doc_b").as("u"), col("doc_a").as("v")))
        .transform(Fence.checkpointed)
    // one job per round: persist, then materialize the cache with a
    // noop write whose OBSERVED metric is the convergence sum (r20,
    // guide §2.4 — the r19 shape ran a separate agg over the fresh
    // cache, paying a final-agg exchange + collect per round; an
    // Observation rides the materializing job itself, so the round's
    // last stage IS the fixpoint test). The test sums labels as
    // decimal(38,0): labels are monotone non-increasing, so an
    // unchanged sum is exact — but only if the sum itself cannot wrap.
    // A Long sum over billions of 64-bit ids overflows (ANSI: job
    // failure; non-ANSI: two distinct label vectors could collide mod
    // 2^64); decimal(38,0) holds ~10^38 ≫ |V|·2^63 for any realistic
    // corpus.
    def materialize(df: DataFrame): (DataFrame, java.math.BigDecimal) = {
      val p = Fence.cached(df)
      val obs = org.apache.spark.sql.Observation()
      p.observe(obs, sum(col("label").cast("decimal(38,0)")).as("s"))
        .write.format("noop").mode("overwrite").save()
      (p, convergenceSum(obs.get.get("s")))
    }
    // round 0 folded into init: label = min(id, min neighbor). Same
    // groupBy shuffle the plain identity-init would pay for its distinct,
    // but one propagation round ahead — cliques (the common near-dup
    // shape) converge on the first loop check.
    var (labels, prevSum) = materialize(
      edges.groupBy("u").agg(min("v").as("mv"))
        .select(col("u").as("id"), least(col("u"), col("mv")).as("label")))
    var it = 0
    var converged = false // an empty graph self-converges on round 1
    while (!converged && it < maxIter) {
      val jump = labels.select(col("id").as("jid"), col("label").as("jlabel"))
      // min(own label, neighbor labels) as ONE aggregate over the union
      // of the self rows and the neighbor-join rows (r20, guide §2.4):
      // the r19 shape computed nbr_min in its own groupBy(u) exchange
      // and then LEFT-joined it back onto labels — a second id-keyed
      // exchange per round for what one union + groupBy expresses.
      // Identical labels: every id contributes its self row, so the
      // aggregate is least(label, min nbr) with the coalesce-on-no-
      // neighbor case falling out of the union for free.
      val l1 = edges
        .join(labels.select(col("id").as("v"), col("label").as("cand")), "v")
        .select(col("u").as("id"), col("cand"))
        .unionByName(labels.select(col("id"), col("label").as("cand")))
        .groupBy("id").agg(min("cand").as("l1"))
      val plan =
        l1
          // every label value is itself a node id (labels start as ids and
          // only min-combine), so the jump join is inner and total
          .join(jump, col("l1") === col("jid"))
          .select(col("id"), least(col("l1"), col("jlabel")).as("label"))
      // Each round's plan nests the previous round's, so on pathological
      // high-diameter graphs the analyzed plan grows superlinearly and
      // late rounds replan expensively. Truncate lineage every few rounds;
      // near-dup graphs converge in 1-3 rounds and never hit this.
      val truncated =
        if ((it + 1) % checkpointEvery == 0) Fence.checkpointed(plan) else plan
      val (next, s) = materialize(truncated)
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      labels.unpersist(blocking = false) // superseded round
      labels = next
      it += 1
    }
    labels.select(col("id").as("doc_id"), col("label").as("cluster_id"))
  }

  /** Near-dup clusters end-to-end: LSH-verified Jaccard pairs →
    * connected components. Output: (doc_id, cluster_id = min doc_id in
    * the component), one row per doc that participates in any near-dup
    * pair. The components loop runs over [[nearDupEdges]]' linear star +
    * rep-pair edges, not the Σ d² expanded pair list — identical labels
    * (spec-pinned), bounded input. */
  def nearDupClusters(docs: DataFrame, threshold: Double = 0.8): DataFrame =
    components(nearDupEdges(docs, threshold))

  /** The docs a dedup pipeline KEEPS under transitive near-dup semantics:
    * everything except non-representative members of a near-dup cluster
    * (representative = min doc_id). The anti-join side carries only
    * (doc_id, cluster_id) longs — at 100 TB the clustered-duplicate set is
    * orders of magnitude smaller than the corpus, so this is a skinny
    * broadcast-able anti-join, not a corpus shuffle. */
  def nearDupSurvivors(docs: DataFrame, threshold: Double = 0.8): DataFrame =
    docs
      .join(
        nearDupClusters(docs, threshold)
          .where(col("doc_id") =!= col("cluster_id")),
        Seq("doc_id"), "left_anti")
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy("doc_id")

  /** Quality-aware survivor selection: like [[nearDupSurvivors]], but each
    * near-dup cluster keeps its HIGHEST-[[TextAnalysis.qualityScore]]
    * member (deterministic tie-break on min doc_id) instead of blindly
    * keeping the min id — the policy production pipelines actually want:
    * when a doc exists in both a clean and a boilerplate-ridden variant,
    * keep the clean one.
    *
    * Scale: the quality expression evaluates only on cluster MEMBERS (the
    * verified-near-dup set — orders of magnitude smaller than the corpus),
    * via an id-keyed join; the drop set is again (doc_id) longs, so the
    * final anti-join stays skinny and AQE-broadcastable exactly as in
    * [[nearDupSurvivors]]. */
  def nearDupSurvivorsQuality(docs: DataFrame, threshold: Double = 0.8): DataFrame =
    keepBestQuality(docs, nearDupClusters(docs, threshold))

  /** SOFT dedup — downweight instead of drop: every document gets a
    * training weight `1 / |its near-dup cluster|`, singletons weight 1.
    * Hard dedup ([[nearDupSurvivors]]) discards the information that a
    * document was duplicated at all; a weighted-loss pipeline instead
    * keeps every variant and scales its gradient contribution so each
    * CONTENT is seen with equal total mass regardless of how many
    * near-copies the crawl collected (the epoch-equivalent of keeping
    * one copy, without betting on which variant survived a tie-break).
    *
    * Output: `(doc_id, cluster_id, cluster_size, weight_r)` for EVERY
    * document — singletons carry `cluster_id = doc_id`, size 1.
    *
    * Scale: the cluster frame is the verified-near-dup set (orders of
    * magnitude smaller than the corpus) in (doc_id, cluster_id) longs;
    * its size histogram is one count per cluster; the corpus-side join
    * is left outer against that skinny frame — AQE-broadcastable, the
    * exact [[nearDupSurvivors]] anti-join shape with a weight column
    * instead of a drop. */
  def softDedupWeights(docs: DataFrame, threshold: Double = 0.8): DataFrame =
    softWeightsFrom(docs, Fence.cached(nearDupClusters(docs, threshold)))

  /** [[softDedupWeights]]' body over ANY (doc_id, cluster_id) labeling —
    * shared by the direct and memoized entry points. */
  private def softWeightsFrom(docs: DataFrame, clusters: DataFrame): DataFrame = {
    val sizes = clusters.groupBy("cluster_id").agg(count(lit(1)).as("csz"))
    docs.select(col("doc_id"))
      .join(clusters.join(sizes, Seq("cluster_id"))
        .select(col("doc_id"), col("cluster_id"), col("csz")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"),
        coalesce(col("csz"), lit(1L)).as("cluster_size"),
        round(lit(1.0) / coalesce(col("csz"), lit(1L)), 6).as("weight_r"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------- line-level dedup

  /** C4-style line-level exact dedup (Raffel et al. 2020 §2.2 deduplicate
    * "any three-sentence span"; practical pipelines dedup repeated LINES —
    * boilerplate headers, nav bars, license blurbs — across documents):
    * drop every line that occurs in ≥ `minDocs` DISTINCT documents, then
    * reassemble each doc from its surviving lines in original order.
    *
    * `lines` is the caller's line-splitter expression over the doc columns
    * — `split(col("text"), "\n")` in production; the registered query uses
    * deterministic 10-token segments ([[tokenBlockLines]]) because the
    * synthetic fixture has no newlines.
    *
    * Output per doc: original line count, kept count, and the md5 of the
    * reassembled text (the gate's payload stays small; the cleaned text
    * itself is the same `concat_ws` without the hash).
    *
    * Scale: explode → one map-side-combined `count(distinct doc)` per line
    * (line-keyed, partitions with the corpus) → left-anti against the
    * repeated-line set → one doc-keyed reassembly shuffle. Nothing is
    * corpus-global; the repeated-line frame is the only small relation and
    * rides the anti-join as a hashed relation. At 100 TB, count on
    * xxhash64(line) instead of the string to keep the exchange narrow
    * (the string form here is what makes the DuckDB oracle exact). */
  def lineDedup(
      docs: DataFrame,
      lines: Column,
      minDocs: Int = 2): DataFrame = {
    val exploded = TextOps.scanParallel(docs).select(col("doc_id"),
      posexplode(lines).as(Seq("pos", "line")))
    val repeated = exploded
      .groupBy("line")
      .agg(countDistinct(col("doc_id")).as("n_docs_with"))
      .where(col("n_docs_with") >= minDocs)
      .select("line")
    val kept = exploded.join(repeated, Seq("line"), "left_anti")
    val reassembled = kept
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_kept"),
        concat_ws("\n",
          transform(
            array_sort(collect_list(struct(col("pos"), col("line")))),
            s => s.getField("line"))).as("clean"))
    docs.select(col("doc_id"), size(lines).cast("long").as("n_lines"))
      .join(reassembled, Seq("doc_id"), "left")
      .select(
        col("doc_id"), col("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        md5(coalesce(col("clean"), lit(""))).as("clean_md5"))
      .orderBy("doc_id")
  }

  /** Deterministic "lines" for a corpus without newlines: consecutive
    * non-overlapping `block`-token segments of a token array. The final
    * partial block is kept (same rule as [[TextAnalysis.chunk]]'s tail).
    * A doc always yields ≥ 1 block (the normalized-empty doc yields one
    * "" block — both engines agree).
    *
    * `toks` must be a MATERIALIZED token-array column (an attribute, not
    * an inline `split(...)`): higher-order functions run interpreted, so
    * an inlined split would re-tokenize the doc for every block — the
    * O(tokens²) trap [[TextAnalysis.bigramTopK]] documents. Callers
    * project the array in its own select first. */
  def tokenBlockLines(toks: Column, block: Int = 10): Column =
    transform(
      sequence(lit(0), floor((size(toks) - 1) / lit(block)).cast("int")),
      b => concat_ws(" ", slice(toks, b * block + 1, lit(block))))

  /** Exact-substring duplication metric (Lee et al. 2022, arXiv:2107.06499
    * "Deduplicating Training Data Makes Language Models Better", ExactSubstr):
    * an L-token window at EVERY offset of every document, flagged when the
    * identical window occurs anywhere else in the corpus (including the
    * same document — self-repetition is duplication too). Per doc:
    * the flagged-window count and the number of tokens covered by the
    * union of flagged windows (overlapping windows merged by the
    * `Σ min(L, next_offset − offset)` telescope over offset order), as a
    * fraction of the doc.
    *
    * This is the OVERLAPPING-window complement of [[lineDedup]]'s
    * non-overlapping [[tokenBlockLines]] segments: segment dedup misses
    * duplication at arbitrary alignment (a copied paragraph starting
    * mid-block never matches — Lee et al. §2's argument for suffix-array
    * dedup over line dedup); windows at every offset catch it. The true
    * suffix-array construction is replaced by the rolling window at a
    * fixed L — the same duplicates for span lengths ≥ L, at
    * shuffle-friendly cost.
    *
    * Output: `(doc_id, n_tok, n_dup_spans, dup_tokens, dup_frac_r)` for
    * every document (zeros when nothing repeats).
    *
    * Scale: |tokens| window rows of (doc_id, off, 16-byte md5) — the
    * corpus re-keyed by span hash, one map-side-combined count, one
    * skinny join back, one per-DOC window (bounded by document length,
    * never corpus-sized partitions). md5 spans make the flags
    * cross-engine reproducible; at 100 TB the same shape runs on
    * xxhash64 to keep the exchange narrow. */
  def exactSubstrSpans(docs: DataFrame, spanLen: Int = 10): DataFrame = {
    val L = spanLen
    // token array materialized behind its own projection (the
    // interpreted-HOF rule: an inline split would re-tokenize per window)
    val withToks = Fence.cached(TextOps.scanParallel(docs).select(
      col("doc_id"), TextOps.wsTokens(lower(col("text"))).as("toks")))
    val spans = withToks
      .select(col("doc_id"),
        explode(when(size(col("toks")) >= L,
          transform(sequence(lit(0), size(col("toks")) - L),
            i => struct(i.cast("long").as("off"),
              md5(concat_ws(" ", slice(col("toks"), i + 1, lit(L)))).as("h"))))
          .otherwise(array().cast("array<struct<off:long,h:string>>"))).as("s"))
      .select(col("doc_id"), col("s.off").as("off"), col("s.h").as("h"))
    val repeated = spans.groupBy("h").agg(count(lit(1)).as("n_occ"))
      .where(col("n_occ") >= 2).select("h")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("off")
    val perDoc = spans.join(repeated, Seq("h"))
      .withColumn("gap",
        coalesce(lead(col("off"), 1).over(w) - col("off"), lit(L.toLong)))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_dup_spans"),
        sum(least(col("gap"), lit(L.toLong))).as("dup_tokens"))
    withToks.select(col("doc_id"), size(col("toks")).cast("long").as("n_tok"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tok"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        round(coalesce(col("dup_tokens"), lit(0L)).cast("double") /
          greatest(col("n_tok"), lit(1L)), 6).as("dup_frac_r"))
      .orderBy("doc_id")
  }

  // ------------------------------------------------------ semantic dedup

  /** Intra-cluster semantic near-dup pairs — the candidate stage of
    * SemDeDup (Abbas et al. 2023, arXiv:2303.09540): coarse-cluster the
    * embedding space, then compare pairs only WITHIN a cluster, where
    * semantic duplicates concentrate. Clustering reuses the IVF
    * coarse-quantizer ([[Similarity.ivfTopK]]'s assignment pass) with
    * data-sampled centroids — fully deterministic, so unlike
    * hash-parameterized LSH this composition carries a full DuckDB oracle.
    *
    * Scale: centroids broadcast; assignment is one corpus scan with a
    * map-side-combined argmax (corpus never shuffles by centroid); the
    * pair join shuffles by cell, so the quadratic term is bounded per cell
    * (centroid count scales with the corpus: cells stay O(N/C)). Pairs
    * carry ids + one double. */
  def semanticPairs(
      embeddings: DataFrame,
      threshold: Double = 0.4,
      stride: Int = Similarity.ivfStride,
      maxOccupancy: Int = Similarity.maxCellOccupancy): DataFrame = {
    val base = Fence.cached(embeddings.select(
      col("vec_id"), Similarity.asDouble(col("embedding")).as("v")))
    val cents = base.where(pmod(col("vec_id"), lit(stride)) === 0)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"))
    // cached: the corpus × centroids argmax is the expensive pass, and the
    // pair self-join references the assignment from BOTH sides — without
    // the cache the whole subtree computes twice. Two longs per row.
    // capCells bounds the per-cell quadratic under pathological skew
    // (one collapsed cell); identity on every healthy fixture, so the
    // oracle's uncapped within-cell pair set is unchanged. The RAW
    // assignment is cached FIRST: capCells' occupancy aggregate and the
    // capped projection both read it, and an uncached subtree would run
    // the N×C argmax twice (and re-display a second
    // BroadcastNestedLoopJoin in the plan — PlanShapeSpec pins one).
    val rawCells = Fence.cached(base
      .crossJoin(broadcast(cents))
      .withColumn("csim", Similarity.cosine(col("v"), col("cv")))
      .groupBy("vec_id")
      .agg(max_by(col("cent_id"),
        struct(col("csim"), (-col("cent_id")).as("neg_id"))).as("cell")))
    val cells = Fence.cached(Similarity.capCells(rawCells, maxOccupancy))
    val withCell = base.join(cells, Seq("vec_id"))
    withCell.select(col("cell"), col("vec_id").as("id_a"), col("v").as("v_a"))
      .join(withCell.select(
        col("cell"), col("vec_id").as("id_b"), col("v").as("v_b")), Seq("cell"))
      .where(col("id_a") < col("id_b"))
      .withColumn("sim", Similarity.cosine(col("v_a"), col("v_b")))
      .where(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("sim"), 6).as("sim_r"))
  }

  /** Semantic dedup survivors: [[semanticPairs]] → [[components]] → drop
    * non-representative cluster members (min vec_id representative). This
    * is the member of the dedup family lexical ops provably cannot cover —
    * a paraphrase shares no shingles ([[nearDupJaccard]] blind), no tokens
    * ([[nearDupSimhash]] blind), but its embedding is near-parallel.
    * Docs without an embedding row pass through as survivors. */
  def semanticSurvivors(
      docs: DataFrame,
      embeddings: DataFrame,
      threshold: Double = 0.4): DataFrame = {
    val drop = components(
      semanticPairs(embeddings, threshold)
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b")))
      .where(col("doc_id") =!= col("cluster_id"))
      .select("doc_id")
    docs.join(drop, Seq("doc_id"), "left_anti")
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy("doc_id")
  }

  /** Quality-aware representative selection over ANY (doc_id, cluster_id)
    * clustering: drop every cluster member except the
    * highest-[[TextAnalysis.qualityScore]] one (min doc_id tie-break).
    * Shared by [[nearDupSurvivorsQuality]] (lexical clusters) and
    * [[semanticSurvivorsQuality]] (embedding clusters) — the policy is
    * independent of how the clusters were found. */
  private[ext] def keepBestQuality(
      docs: DataFrame,
      clusters: DataFrame): DataFrame = {
    // clusters join FIRST, quality after: the cluster-member set is
    // orders of magnitude smaller than the corpus at scale, so only
    // members pay tokenize + the interpreted lexicon filter (and only
    // member text rides withQuality's scan-parallel shuffle) — scoring
    // the whole corpus to then keep members would invert the cost model
    val scored = TextAnalysis
      .withQuality(docs.join(clusters, Seq("doc_id")), "q")
      .select(col("doc_id"), col("cluster_id"), col("q"))
    val byQuality = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id"))
      .orderBy(col("q").desc, col("doc_id"))
    val drop = scored
      .withColumn("rn", row_number().over(byQuality))
      .where(col("rn") > 1)
      .select("doc_id")
    docs.join(drop, Seq("doc_id"), "left_anti")
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy("doc_id")
  }

  /** Semantic dedup with the quality survivor policy: each embedding
    * cluster keeps its highest-quality member instead of the min id —
    * [[semanticSurvivors]] × [[nearDupSurvivorsQuality]] composed. */
  def semanticSurvivorsQuality(
      docs: DataFrame,
      embeddings: DataFrame,
      threshold: Double = 0.4): DataFrame =
    keepBestQuality(docs,
      components(
        semanticPairs(embeddings, threshold)
          .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"))))

  /** Cluster-size profile of the near-dup graph: how many clusters exist
    * at each size — the shape a dedup pipeline inspects before choosing a
    * survivor policy (a corpus of pairs behaves very differently from one
    * with thousand-member boilerplate clusters). One extra tiny aggregate
    * over the (doc_id, cluster_id) longs. */
  def clusterSizeStats(pairs: DataFrame): DataFrame =
    components(pairs)
      .groupBy("cluster_id").agg(count(lit(1)).as("sz"))
      .groupBy(col("sz").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
      .orderBy("cluster_size")

  /** One-row corpus dedup report: total docs, survivors under each policy
    * (exact, transitive lexical near-dup, semantic), and docs any policy
    * would drop — the before/after accounting a pipeline logs per run.
    * Each count is a 1-row aggregate of an already-skinny survivor frame;
    * the joins are broadcast single-row crosses. */
  /** Corpus snapshot diff — the dataset-versioning primitive: one row
    * per document whose membership or content CHANGED between two
    * snapshots of a corpus (`added` — in curr only; `removed` — in prev
    * only; `changed` — in both with different content md5). Unchanged
    * docs emit nothing, so the output is |delta|-sized however large the
    * corpus — what makes an incremental pipeline auditable (which docs
    * does today's training set gain/lose vs the one we trained on last
    * week?) and re-processable (feed `added`+`changed` to the index
    * appends; tombstone `removed`).
    *
    * Scale: one doc_id-keyed full-outer hash join of two fingerprint
    * projections — 16-byte md5 per row rides the shuffle, never the
    * text. Snapshots stored via [[graft.sinks.CorpusSink]]-style
    * doc-bucketed layouts co-locate this join for free. */
  def snapshotDiff(prev: DataFrame, curr: DataFrame): DataFrame = {
    val a = prev.select(col("doc_id"), md5(col("text")).as("fp_prev"))
    val b = curr.select(col("doc_id"), md5(col("text")).as("fp_curr"))
    a.join(b, Seq("doc_id"), "full_outer")
      .withColumn("change",
        when(col("fp_curr").isNull, lit("removed"))
          .when(col("fp_prev").isNull, lit("added"))
          .when(col("fp_prev") =!= col("fp_curr"), lit("changed")))
      .where(col("change").isNotNull)
      .select(col("doc_id"), col("change"))
      .orderBy("doc_id")
  }

  /** Near-dup pairs by SimHash: candidates share at least one 16-bit band
    * (so any pair within hamming ≤ 3 of each other is guaranteed caught;
    * we verify up to `maxHamming`). Hamming = bit_count(XOR) on the packed
    * fingerprints. */
  def nearDupSimhash(docs: DataFrame, maxHamming: Int = 6): DataFrame =
    hammingPairs64(simhashed(docs).select("doc_id", "fp"), maxHamming)

  /** Banded hamming self-join over (doc_id, fp: long) 64-bit fingerprints:
    * candidates share one of the 4 × 16-bit bands (pigeonhole: every pair
    * within hamming ≤ 3 is guaranteed a shared band), verified by
    * bit_count(xor) ≤ maxHamming. Shared by [[nearDupSimhash]] (token
    * SimHash) and [[Multimodal.mediaNearDup]] (byte-4-gram SimHash) — only
    * the fingerprint construction differs. 8-byte fingerprints are all
    * that ride the banding explode and verify joins. */
  private[ext] def hammingPairs64(fps: DataFrame, maxHamming: Int): DataFrame = {
    // the identical-fingerprint collapse treats within-group pairs
    // (hamming exactly 0) as unconditionally passing; a negative
    // maxHamming would break that equivalence — enforce it
    require(maxHamming >= 0,
      s"maxHamming must be >= 0 (got $maxHamming): the identical-" +
        "fingerprint collapse emits hamming-0 pairs unconditionally")
    // identical-fingerprint collapse (r11, the nearDupJaccard argument
    // specialized to a one-long key): equal fps collide in all 4 bands,
    // so a d-copy group would emit d² candidate rows; collapsing to the
    // min-doc_id representative bounds banding/verify by DISTINCT
    // fingerprints, and the expansion is exact — within a group hamming
    // is 0 (≤ any maxHamming ≥ 0), across groups a member pair is a
    // candidate iff its reps are and carries the reps' exact hamming.
    // NULL fingerprints (a null-text doc simhashes to null) are dropped:
    // the window would group them as one "identical" cluster (SQL
    // grouping equates NULLs) where the replaced band equi-join never
    // matched them (null band_val joins nothing). The filter sits ABOVE
    // the cache, not below the window: pushed below, `isnotnull(fp)`
    // substitutes the whole fingerprint expression into the predicate —
    // for the media path that is an interpreted higher-order lambda
    // (no codegen CSE, so fp computes TWICE) whose hex input then
    // collapses into the per-gram transform (the O(n²) re-hex trap) —
    // measured 0.9 s → 6.3 s on media_near_dup before this ordering.
    // Nulls ride the window in their own harmless partition and are
    // dropped from the cached output everywhere downstream.
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))
    val withRep0 = Fence.cached(fps.select(col("doc_id"), col("fp"))
      .withColumn("rep", min(col("doc_id")).over(w)))
    val withRep = withRep0.where(col("fp").isNotNull)
    val members = withRep.select(col("doc_id"), col("rep"))
    val fp = withRep.where(col("doc_id") === col("rep"))
      .select(col("doc_id"), col("fp"))
      .withColumn("bands",
        array((0 until 4).map(q =>
          shiftright(col("fp"), q * 16).bitwiseAND(lit(0xFFFFL)).cast("int")): _*))
    val banded = fp.select(
      col("doc_id"),
      posexplode(col("bands")).as(Seq("band_id", "band_val")))
    val cands = banded.as("a")
      .join(banded.as("b"),
        col("a.band_id") === col("b.band_id") &&
          col("a.band_val") === col("b.band_val") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val repPairs = cands
      .join(fp.select(col("doc_id").as("doc_a"), col("fp").as("fp_a")), Seq("doc_a"))
      .join(fp.select(col("doc_id").as("doc_b"), col("fp").as("fp_b")), Seq("doc_b"))
      .withColumn("hamming",
        bit_count(col("fp_a").bitwiseXOR(col("fp_b"))).cast("int"))
      .where(col("hamming") <= maxHamming)
      .select(col("doc_a").as("rep_a"), col("doc_b").as("rep_b"),
        col("hamming"))
    expandMemberPairs(members, repPairs, "hamming", lit(0))
  }

  // ---- per-fixture disk memos for the shared dedup intermediates ----
  // (the Similarity.knnComponentsPath pattern): the verified Jaccard
  // pair set, its component labeling, and the semantic (embedding)
  // component labeling are each consumed by SEVERAL registered queries
  // in one verify/bench run — pairs by near_dup_jaccard +
  // dedup_cluster_stats, lexical components by dedup_clusters +
  // both survivor policies + dedup_soft + dedup_summary, semantic
  // components by semantic_dedup(+quality) + dedup_summary. Each used
  // to re-run the banded candidate generation and the multi-round
  // checkpointed components loop independently. Disk, not cache,
  // because the bench harness drops cache/checkpoint blocks between
  // queries; paths via [[graft.util.ArtifactMemo]] (full key + digest —
  // distinct keys can never share a path).

  /** The memos' thresholds: Jaccard for the lexical pairs, raw cosine
    * for the semantic (IVF-cell) pairs. */
  private val nearDupAt = 0.8
  private val semanticAt = 0.4

  /** Memoized [[nearDupCore]] — the members map and verified rep pairs
    * written once per fixture under `$path/members` and
    * `$path/reppairs`. The pair expansion AND the component labeling
    * both derive from these two skinny tables, so one banding/verify
    * run serves every dedup consumer — and what sits on disk is the
    * O(docs + repPairs) core, not the Σ d² pair list. */
  private def nearDupCorePathAt(
      spark: org.apache.spark.sql.SparkSession, sfDir: String): String =
    graft.util.ArtifactMemo.path("jaccore", s"$sfDir|$nearDupAt") { out =>
      val (members, repPairs) = nearDupCore(
        graft.sources.Tables(spark, sfDir, "documents"), nearDupAt)
      members.write.mode("overwrite").parquet(s"$out/members")
      repPairs.write.mode("overwrite").parquet(s"$out/reppairs")
    }

  /** Memoized [[nearDupJaccard]] over a fixture's documents (expanded
    * from the core memo). */
  def nearDupPairsAt(
      spark: org.apache.spark.sql.SparkSession, sfDir: String): DataFrame = {
    spark.read.parquet(
      graft.util.ArtifactMemo.path("jacpairs", s"$sfDir|$nearDupAt") { out =>
        val core = nearDupCorePathAt(spark, sfDir)
        expandPairs(
          spark.read.parquet(s"$core/members"),
          spark.read.parquet(s"$core/reppairs"))
          .write.mode("overwrite").parquet(out)
      })
  }

  /** Memoized component labeling of the verified Jaccard pair graph —
    * the loop runs over the core's linear star + rep-pair edges. */
  def nearDupComponentsAt(
      spark: org.apache.spark.sql.SparkSession, sfDir: String): DataFrame = {
    spark.read.parquet(
      graft.util.ArtifactMemo.path("jaccomp", s"$sfDir|$nearDupAt") { out =>
        val core = nearDupCorePathAt(spark, sfDir)
        components(edgesFrom(
          spark.read.parquet(s"$core/members"),
          spark.read.parquet(s"$core/reppairs")))
          .write.mode("overwrite").parquet(out)
      })
  }

  /** Memoized component labeling of the semantic (IVF-cell) pair graph. */
  def semanticComponentsAt(
      spark: org.apache.spark.sql.SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(
      graft.util.ArtifactMemo.path(
          "semcomp", s"$sfDir|$semanticAt|${Similarity.ivfStride}") { out =>
        components(
          semanticPairs(graft.sources.Tables(spark, sfDir, "embeddings"),
              semanticAt)
            .select(col("id_a").as("doc_a"), col("id_b").as("doc_b")))
          .write.mode("overwrite").parquet(out)
      })

  /** Min-id survivors of ANY (doc_id, cluster_id) labeling — the body
    * [[nearDupSurvivors]]/[[semanticSurvivors]] share. */
  private def survivorsFrom(docs: DataFrame, clusters: DataFrame): DataFrame =
    docs
      .join(clusters.where(col("doc_id") =!= col("cluster_id"))
          .select("doc_id"),
        Seq("doc_id"), "left_anti")
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy("doc_id")

  // Registered-query entry points through the memos (same rows, same
  // oracles as their frame-based twins above).
  def nearDupClustersAt(
      spark: org.apache.spark.sql.SparkSession, sfDir: String): DataFrame =
    nearDupComponentsAt(spark, sfDir).orderBy("doc_id")

  def nearDupSurvivorsAt(
      spark: org.apache.spark.sql.SparkSession, sfDir: String): DataFrame =
    survivorsFrom(graft.sources.Tables(spark, sfDir, "documents"),
      nearDupComponentsAt(spark, sfDir))

  def nearDupSurvivorsQualityAt(
      spark: org.apache.spark.sql.SparkSession, sfDir: String): DataFrame =
    keepBestQuality(graft.sources.Tables(spark, sfDir, "documents"),
      nearDupComponentsAt(spark, sfDir))

  def clusterSizeStatsAt(
      spark: org.apache.spark.sql.SparkSession, sfDir: String): DataFrame =
    nearDupComponentsAt(spark, sfDir)
      .groupBy("cluster_id").agg(count(lit(1)).as("sz"))
      .groupBy(col("sz").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
      .orderBy("cluster_size")

  def softDedupWeightsAt(
      spark: org.apache.spark.sql.SparkSession, sfDir: String): DataFrame =
    softWeightsFrom(graft.sources.Tables(spark, sfDir, "documents"),
      nearDupComponentsAt(spark, sfDir))

  def semanticSurvivorsAt(
      spark: org.apache.spark.sql.SparkSession, sfDir: String): DataFrame =
    survivorsFrom(graft.sources.Tables(spark, sfDir, "documents"),
      semanticComponentsAt(spark, sfDir))

  def semanticSurvivorsQualityAt(
      spark: org.apache.spark.sql.SparkSession, sfDir: String): DataFrame =
    keepBestQuality(graft.sources.Tables(spark, sfDir, "documents"),
      semanticComponentsAt(spark, sfDir))

  def dedupSummaryAt(
      spark: org.apache.spark.sql.SparkSession, sfDir: String): DataFrame = {
    val docs = graft.sources.Tables(spark, sfDir, "documents")
    def c(df: DataFrame, name: String) =
      df.agg(count(lit(1)).cast("long").as(name))
    c(docs, "n_docs")
      .crossJoin(broadcast(c(exactSurvivors(docs), "exact_survivors")))
      .crossJoin(broadcast(c(
        survivorsFrom(docs, nearDupComponentsAt(spark, sfDir)),
        "near_survivors")))
      .crossJoin(broadcast(c(
        survivorsFrom(docs, semanticComponentsAt(spark, sfDir)),
        "semantic_survivors")))
  }
}
