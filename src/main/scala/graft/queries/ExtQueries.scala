package graft.queries

import graft.ext.{Dedup, EventWindows, Multimodal, Similarity, TextAnalysis}
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Registered queries for the training-data-pipeline tier (SURVEY.md §7.5 +
  * builder brief): dedup, text analysis, similarity search. Oracle SQL is
  * the DuckDB twin of each DataFrame program; ops that are inherently
  * approximate (HLL, LSH top-k, SimHash banding) are registered rows-only
  * and verified by ScalaTest instead.
  */
object ExtQueries {

  type Q = (SparkSession, String) => DataFrame

  private def docs(s: SparkSession, d: String) = Tables(s, d, "documents")
  private def embs(s: SparkSession, d: String) = Tables(s, d, "embeddings")

  // Shared DuckDB fragments — twins of graft.ext.TextOps. Keep in lockstep.
  private val normSql = "trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))"
  private val toksSql = "string_split_regex(trim(lower(text)), '\\s+')"
  private val shinglesSql =
    """CASE WHEN len(toks) >= 3
       THEN list_distinct(list_transform(range(1, len(toks)-1),
              i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
       ELSE [] END"""

  // The exact Jaccard-pair ground truth (the `ug`/`ic`/`p` triplet used
  // by every near-dup oracle) runs in streaming form: unnest to
  // (doc, shingle) rows, hash-join on shingle EQUALITY, count the
  // intersection per candidate pair, then filter |∩|/(|A|+|B|−|∩|).
  // A pair at Jaccard ≥ 0.8 shares a shingle by definition (and the
  // empty-shingle 0/0 case is NaN, which never passed the old filter),
  // so the pair set is identical to the inequality-join form — but the
  // old form made DuckDB buffer both list-typed sides of a join with no
  // equality key, which is what kept tipping the driver's memory-
  // constrained verify host over (VERDICT r9 item 1).
  // The chain: tokens `t`, shingle sets `sh`, the per-pair intersection
  // counts `ic(doc_a, doc_b, inter)` ...
  private lazy val jaccardIcCtes: String =
    s"""t AS (SELECT doc_id, $toksSql AS toks FROM documents),
sh AS (SELECT doc_id, $shinglesSql AS sh FROM t),
ug AS (SELECT doc_id, unnest(sh) AS g FROM sh),
ic AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
       FROM ug a JOIN ug b ON a.g = b.g AND a.doc_id < b.doc_id
       GROUP BY a.doc_id, b.doc_id)"""

  // ... then the verified pairs `p(doc_a, doc_b)` at Jaccard ≥ 0.8 ...
  private lazy val jaccardPairCtes: String =
    s"""$jaccardIcCtes,
p AS (SELECT ic.doc_a, ic.doc_b
      FROM ic JOIN sh la ON la.doc_id = ic.doc_a
      JOIN sh lb ON lb.doc_id = ic.doc_b
      WHERE ic.inter::DOUBLE / (len(la.sh) + len(lb.sh) - ic.inter) >= 0.8)"""

  // ... then their transitive closure `r(u, v)` over the undirected pair
  // graph `e` (a recursive CTE: the query must open WITH RECURSIVE).
  private lazy val jaccardClosureCtes: String =
    s"""$jaccardPairCtes,
e AS (SELECT doc_a AS u, doc_b AS v FROM p
      UNION ALL SELECT doc_b, doc_a FROM p),
r AS (SELECT u, u AS v FROM (SELECT DISTINCT u FROM e) n
      UNION
      SELECT r.u, e.v FROM r JOIN e ON r.v = e.u)"""

  private def lexSql(words: Seq[String]): String =
    words.map(w => s"'$w'").mkString("[", ", ", "]")

  // The plain-WHERE oracle of [[statusDays]] over the (custkey `x`,
  // epoch-day `y`) box.
  private def statusDaySql(x: Option[(Long, Long)], y: (Long, Long))
  : String = {
    val xCond = x.fold("") { case (lo, hi) =>
      s"\n  AND o_custkey BETWEEN $lo AND $hi" }
    s"""SELECT o_orderstatus, count(*)::BIGINT AS n,
       min(epoch_ms(o_orderdate) // 86400000) AS d_min,
       max(epoch_ms(o_orderdate) // 86400000) AS d_max
FROM orders
WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL$xCond
  AND (epoch_ms(o_orderdate) // 86400000) BETWEEN ${y._1} AND ${y._2}
GROUP BY 1 ORDER BY 1"""
  }

  // Per-user sessions over `events` (twin of EventWindows.sessions): a
  // new session starts after a 4-hour gap; `s` numbers them per user
  // (`sid`) beside `cols`.
  private def sessionCtes(cols: String): String =
    s"""o AS (
  SELECT user_id, ts, $cols,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   >= INTERVAL '4 hours'
              THEN 1 ELSE 0 END AS brk
  FROM events),
s AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS sid
      FROM o)"""

  // SimHash candidate pairs: 4 × 16-bit bands of `fp(doc_id, fp)`, a pair
  // per shared band, verified at hamming ≤ 3.
  private lazy val simhashPairsSql: String =
    """bands AS (SELECT doc_id, q, (fp >> (16 * q)) & 65535 AS band_val
          FROM fp CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS q) qs),
cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM bands a JOIN bands b
           ON a.q = b.q AND a.band_val = b.band_val AND a.doc_id < b.doc_id)
SELECT c.doc_a, c.doc_b, bit_count(xor(fa.fp, fb.fp))::INT AS hamming
FROM cand c
JOIN fp fa ON fa.doc_id = c.doc_a
JOIN fp fb ON fb.doc_id = c.doc_b
WHERE bit_count(xor(fa.fp, fb.fp)) <= 3
ORDER BY doc_a, doc_b"""

  // DuckDB twin of graft.ext.Layout's key pipeline on orders: normalize
  // (o_custkey, epoch-day(o_orderdate)) onto [0, 65535] by exact integer
  // scaling, then interleave via the same constant-mask spread ladder
  // (0x00FF00FF / 0x0F0F0F0F / 0x33333333 / 0x55555555 in decimal).
  // Ends with CTE `z(xk, yk, zv)`. Keep in lockstep with Layout.spread16.
  private val zorderKeyCte: String =
    """WITH base AS (
  SELECT o_custkey::BIGINT AS xr,
         (epoch_ms(o_orderdate) // 86400000)::BIGINT AS yr
  FROM orders WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL),
mm AS (SELECT min(xr) AS x_lo, max(xr) AS x_hi,
              min(yr) AS y_lo, max(yr) AS y_hi FROM base),
k AS (SELECT ((xr - x_lo) * 65535) // greatest(x_hi - x_lo, 1) AS xk,
             ((yr - y_lo) * 65535) // greatest(y_hi - y_lo, 1) AS yk
      FROM base CROSS JOIN mm),
s0 AS (SELECT xk, yk, xk & 65535 AS xa, yk & 65535 AS ya FROM k),
s1 AS (SELECT xk, yk, (xa | (xa << 8)) & 16711935 AS xb,
              (ya | (ya << 8)) & 16711935 AS yb FROM s0),
s2 AS (SELECT xk, yk, (xb | (xb << 4)) & 252645135 AS xc,
              (yb | (yb << 4)) & 252645135 AS yc FROM s1),
s3 AS (SELECT xk, yk, (xc | (xc << 2)) & 858993459 AS xd,
              (yc | (yc << 2)) & 858993459 AS yd FROM s2),
s4 AS (SELECT xk, yk, (xd | (xd << 1)) & 1431655765 AS xe,
              (yd | (yd << 1)) & 1431655765 AS ye FROM s3),
z AS (SELECT xk, yk, (xe | (ye << 1)) AS zv FROM s4)"""

  /** DuckDB twin of graft.ext.Layout.hilbertIndex: the iterative xy2d
    * rotation chain, one generated CTE stage per level, over a source CTE
    * `src` exposing (xq, yq) plus `carry` columns. Ends in a stage named
    * `hfin(<carry>, xq, yq, hd)`. Keep in lockstep with hilbertIndex. */
  private def hilbertSqlStages(src: String, bits: Int,
    carry: Seq[String]): String = {
    val n = 1 << bits
    val cols = (carry :+ "xq" :+ "yq").mkString(", ")
    val levels = Iterator.iterate(n / 2)(_ / 2).takeWhile(_ > 0).toSeq
    val stages = levels.zipWithIndex.map { case (s, i) =>
      val prev = if (i == 0)
        s"(SELECT $cols, xq AS hx, yq AS hy, 0 AS hd FROM $src)"
      else s"h$i"
      val last = i == levels.size - 1
      s"""h${i + 1} AS (
  SELECT $cols, hd + ${s * s} * xor(3 * rx, ry) AS hd,
    CASE WHEN ry = 0 THEN (CASE WHEN rx = 1 THEN ${n - 1} - hy ELSE hy END)
         ELSE hx END AS hx,
    CASE WHEN ry = 0 THEN (CASE WHEN rx = 1 THEN ${n - 1} - hx ELSE hx END)
         ELSE hy END AS hy
  FROM (SELECT *, CASE WHEN (hx & $s) > 0 THEN 1 ELSE 0 END AS rx,
               CASE WHEN (hy & $s) > 0 THEN 1 ELSE 0 END AS ry
        FROM $prev))""" +
        (if (last) s",\nhfin AS (SELECT $cols, hd FROM h${i + 1})" else "")
    }
    stages.mkString(",\n")
  }

  private val enLex = lexSql(graft.ext.TextOps.langLexica.toMap.apply("en"))

  /** Shared lang-id scoring SQL (r17): token-lexicon hits for segmented
    * languages, script-range char counts for unsegmented ones — twins
    * of TextOps.langScores over (toksExpr, txtExpr). ONE generator
    * feeding lang_id / lang_id_accuracy / lang_confusion /
    * web_lang_mix(_served). */
  private def langScoresSql(toksExpr: String, txtExpr: String): String = {
    val ranges = graft.ext.TextOps.scriptLangRanges.toMap
    def cnt(l: String) =
      s"len(regexp_extract_all($txtExpr, '${ranges(l)}'))"
    // zh/ja kana-precedence CASEs — twin of TextOps.scriptScores (r18):
    // any kana present reassigns the Han count from zh to ja
    def scriptSql(l: String): String = l match {
      case "zh" =>
        s"(CASE WHEN ${cnt("ja")} > 0 THEN 0 ELSE ${cnt("zh")} END)"
      case "ja" =>
        s"(${cnt("ja")} + (CASE WHEN ${cnt("ja")} > 0 " +
          s"THEN ${cnt("zh")} ELSE 0 END))"
      case other => cnt(other)
    }
    (graft.ext.TextOps.tokenLangLexica.map { case (l, lex) =>
      s"len(list_filter($toksExpr, t -> list_contains(${lexSql(lex)}, t))) AS s_$l"
    } ++ graft.ext.TextOps.scriptLangRanges.map { case (l, _) =>
      s"${scriptSql(l)} AS s_$l"
    }).mkString(",\n       ")
  }

  // Per-doc lang-id scores `sc(doc_id, labeled_lang, s_<lang>...)`.
  private lazy val langScoredCtes: String =
    s"""t AS (SELECT doc_id, lang AS labeled_lang, text,
           $toksSql AS toks FROM documents),
sc AS (SELECT doc_id, labeled_lang,
       ${langScoresSql("toks", "text")}
FROM t)"""

  private lazy val langColsSql: String =
    graft.ext.TextOps.langNames.map("s_" + _).mkString(", ")

  private lazy val langCaseSql: String = {
    val langs = graft.ext.TextOps.langNames
    langs.map { l =>
      val conds = langs.map(o => s"s_$l >= s_$o").mkString(" AND ")
      s"WHEN $conds THEN '$l'"
    }.mkString("\n         ")
  }

  // Largest-remainder seat grants (twin of graft.ext.Mixture): half of
  // the `totals` CTE's seats split by weight `w`, each source capped at
  // its own `c.<seats>` — `a(source, granted)`.
  private def seatGrantCtes(totals: String, seats: String): String =
    s"""q AS (SELECT source, weight,
        (((total // 2)::HUGEINT) * weight) // w_sum AS base,
        (((total // 2)::HUGEINT) * weight) % w_sum AS rem,
        total // 2 AS budget
      FROM w CROSS JOIN $totals),
l AS (SELECT min(budget) - sum(base) AS leftover FROM q),
r AS (SELECT q.source, q.base, q.rem, l.leftover FROM q CROSS JOIN l),
a AS (SELECT r2.source,
             least(base + CASE WHEN row_number() OVER (ORDER BY rem DESC, r2.source)
                               <= leftover THEN 1 ELSE 0 END,
                   c.$seats) AS granted
      FROM r r2 JOIN c ON c.source = r2.source)"""

  // Token seats: per-doc token counts `t`, per-source mass `c`,
  // √-temperature weights `w` and their totals `tt` ...
  private lazy val tokenWeightCtes: String =
    s"""t AS (SELECT doc_id, source, len($toksSql)::BIGINT AS n_tok FROM documents),
c AS (SELECT source, sum(n_tok)::BIGINT AS n_tokens FROM t GROUP BY source),
w AS (SELECT source, n_tokens, CAST(floor(sqrt(n_tokens::DOUBLE) * 1e6) AS BIGINT) AS weight FROM c),
tt AS (SELECT sum(n_tokens)::BIGINT AS total, sum(weight)::BIGINT AS w_sum FROM w)"""

  // ... the granted seats and each doc's exclusive token prefix `p`
  // within its source (a doc is sampled while tok_pfx < granted) ...
  private lazy val tokenSampleCtes: String =
    s"""$tokenWeightCtes,
${seatGrantCtes("tt", "n_tokens")},
p AS (SELECT doc_id, source, n_tok,
        coalesce(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS tok_pfx
      FROM t)"""

  // ... and the sampled docs' salted-md5 shard `o(doc_id, source, shard, h)`
  // (twin of Mixture.trainingOrder).
  private lazy val trainingOrderCtes: String =
    s"""$tokenSampleCtes,
sel AS (SELECT p.doc_id, p.source FROM p
        JOIN a ON p.source = a.source WHERE p.tok_pfx < a.granted),
k AS (SELECT doc_id, source, md5(doc_id::VARCHAR || ':order') AS h FROM sel),
o AS (SELECT doc_id, source,
             (CAST('0x' || substring(h, 1, 8) AS UBIGINT) % 8)::BIGINT AS shard, h
      FROM k)"""

  // BM25 over the standard query batch (twin of TextIndex.standardLexRun:
  // queries are the 8-token prefixes of every 50th doc, each scoring its
  // 4 most selective terms, per-term scores floored to 1e-12 fixed point
  // before the order-free sum): per-term scores in CTE `sc` (a caller
  // that already owns `sc` renames it), summed per (query, doc) in `agg`.
  private def bm25AggCtes(sc: String): String =
    s"""t AS (SELECT doc_id, $toksSql AS toks FROM documents),
post AS (SELECT doc_id, unnest(toks) AS term FROM t),
p AS (SELECT term, doc_id, count(*)::BIGINT AS tf FROM post GROUP BY term, doc_id),
dlen AS (SELECT doc_id, len(toks)::BIGINT AS dl FROM t),
st AS (SELECT count(*)::BIGINT AS n_docs, sum(dl)::BIGINT AS sum_dl FROM dlen),
q AS (SELECT doc_id AS query_id, list_distinct(toks[1:8]) AS qt
      FROM t WHERE doc_id % 50 = 0),
qt AS (SELECT query_id, unnest(qt) AS term FROM q),
dfs AS (SELECT term, count(*)::BIGINT AS df FROM p
        WHERE term IN (SELECT DISTINCT term FROM qt) GROUP BY term),
qsel AS (SELECT query_id, term FROM (
  SELECT qt.query_id, qt.term,
         row_number() OVER (PARTITION BY qt.query_id
                            ORDER BY dfs.df ASC, qt.term ASC) AS trn
  FROM qt JOIN dfs ON dfs.term = qt.term) WHERE trn <= 4),
$sc AS (SELECT qsel.query_id, p.doc_id,
        CAST(floor(ln(1.0 + (st.n_docs::DOUBLE - dfs.df::DOUBLE + 0.5)
                      / (dfs.df::DOUBLE + 0.5))
             * ((p.tf::DOUBLE * 2.2)
                / (p.tf::DOUBLE + 1.2 * (0.25 + 0.75 *
                    (dlen.dl::DOUBLE
                     / (st.sum_dl::DOUBLE / st.n_docs::DOUBLE)))))
             * 1000000000000.0) AS BIGINT) AS term_score
       FROM qsel JOIN p ON p.term = qsel.term
       JOIN dfs ON dfs.term = qsel.term
       JOIN dlen ON dlen.doc_id = p.doc_id CROSS JOIN st),
agg AS (SELECT query_id, doc_id, sum(term_score) AS score
        FROM $sc GROUP BY query_id, doc_id)"""

  // ... and the lexical run `lex(query_id, doc_id, lex_rank)`, top 20.
  private def bm25LexCtes(sc: String): String =
    s"""${bm25AggCtes(sc)},
lexr AS (SELECT query_id, doc_id,
          row_number() OVER (PARTITION BY query_id
                             ORDER BY score DESC, doc_id) AS lex_rank
         FROM agg),
lex AS (SELECT query_id, doc_id, lex_rank FROM lexr WHERE lex_rank <= 20)"""

  // Reciprocal Rank Fusion of `lex` and the dense run `dr(query_id,
  // doc_id, dense_rank)`: 1/(60+rank) summed, top 10 per query.
  private lazy val rrfFuseSql: String =
    """f AS (SELECT coalesce(l.query_id, d.query_id) AS query_id,
       coalesce(l.doc_id, d.doc_id) AS doc_id,
       coalesce(1.0 / (60.0 + l.lex_rank::DOUBLE), 0.0)
         + coalesce(1.0 / (60.0 + d.dense_rank::DOUBLE), 0.0) AS rrf
      FROM lex l FULL OUTER JOIN dr d
        ON l.query_id = d.query_id AND l.doc_id = d.doc_id),
r AS (SELECT query_id, doc_id, rrf,
        row_number() OVER (PARTITION BY query_id
                           ORDER BY rrf DESC, doc_id) AS rank
      FROM f)
SELECT query_id, rank, doc_id, round(rrf, 6) AS rrf_r
FROM r WHERE rank <= 10 ORDER BY query_id, rank"""

  // SemDeDup clusters (twin of Dedup.semanticSurvivors): intra-IVF-cell
  // pairs at cosine ≥ 0.4 closed transitively, `cl(doc_id, cluster_id)`
  // (a recursive CTE: the query must open WITH RECURSIVE).
  private lazy val semanticClusterCtes: String =
    s"""$embNormCtes,
${ivfCellCtes(dotSql)},
p AS (SELECT x.vec_id AS id_a, y.vec_id AS id_b
      FROM asg x JOIN asg y ON x.cell = y.cell AND x.vec_id < y.vec_id
      WHERE (${dotSql("x.v", "y.v")}) / (x.nrm * y.nrm) >= 0.4),
ed AS (SELECT id_a AS u, id_b AS v FROM p
       UNION ALL SELECT id_b, id_a FROM p),
r AS (SELECT u, u AS v FROM (SELECT DISTINCT u FROM ed) nn
      UNION
      SELECT r.u, ed.v FROM r JOIN ed ON r.v = ed.u),
cl AS (SELECT u AS doc_id, min(v) AS cluster_id FROM r GROUP BY u)"""

  // The quality survivor policy over clusters `cl(doc_id, cluster_id)`:
  // each cluster keeps its highest-quality member (the composite score
  // inlined over `documents`; ties → min id), singletons survive.
  private def qualitySurvivorsSql(cl: String): String =
    s"""q AS (SELECT doc_id,
        least(len($toksSql), 256)::DOUBLE / 256 * 0.4
          + len(regexp_extract_all(text, '[a-zA-Z]'))::DOUBLE
            / greatest(length(text), 1) * 0.4
          + least(len(list_filter($toksSql, t -> list_contains($enLex, t)))::DOUBLE
            / greatest(len($toksSql), 1) * 5, 1.0) * 0.2 AS quality
      FROM documents),
m AS (SELECT $cl.doc_id,
             row_number() OVER (PARTITION BY $cl.cluster_id
               ORDER BY q.quality DESC, $cl.doc_id) AS rn
      FROM $cl JOIN q USING (doc_id))
SELECT d.doc_id, d.lang, d.source, d.n_chars FROM documents d
WHERE NOT EXISTS (SELECT 1 FROM m WHERE m.doc_id = d.doc_id AND m.rn > 1)
ORDER BY d.doc_id"""

  // Near fingerprints (twin of TextAnalysis.contamination(near = true)):
  // each doc's min shingle md5 `f(doc_id, fp)`.
  private lazy val nearFpCtes: String =
    s"""t AS (SELECT doc_id, $toksSql AS toks FROM documents),
s AS (SELECT doc_id, $shinglesSql AS sh FROM t),
f AS (SELECT doc_id,
             list_aggregate(list_transform(sh, x -> md5(x)), 'min') AS fp
      FROM s)"""

  // Each doc's distinct 13-token grams `g` and their md5 `h(doc_id, gh)`.
  private lazy val gram13Ctes: String =
    """g AS (SELECT doc_id,
             unnest(CASE WHEN len(toks) >= 13
               THEN list_distinct(list_transform(range(1, len(toks)-11),
                      i -> array_to_string(list_slice(toks, i, i+12), ' ')))
               ELSE [] END) AS gram
      FROM t),
h AS (SELECT doc_id, md5(gram) AS gh FROM g)"""

  // Window placement (twin of Packing.packWindows, 512-token windows)
  // from `o(doc_id, n_tok, tok_offset)`.
  private lazy val packWindowsSql: String =
    """SELECT doc_id, n_tok, tok_offset,
       (tok_offset // 512)::BIGINT AS win_first,
       ((tok_offset + greatest(n_tok, 1) - 1) // 512)::BIGINT AS win_last,
       ((tok_offset + greatest(n_tok, 1) - 1) // 512
         - tok_offset // 512 + 1)::BIGINT AS n_windows
FROM o ORDER BY doc_id"""

  // --- n-gram LM perplexity twins (graft.ext.Lm): per-doc token lists
  //     `tl` with their tokens, vocabulary size and bigrams; the KN
  //     bigram counts (occurrences, continuation counts, types); the
  //     first token's log-prob under the continuation distribution; and
  //     the perplexity row over `slp`/`n_tokens` sums. ---
  private lazy val knTokenCtes: String =
    s"""tl AS (SELECT doc_id, $toksSql AS ts FROM documents),
toks AS (SELECT doc_id, unnest(ts) AS t FROM tl),
vt AS (SELECT count(DISTINCT t)::BIGINT AS vsz FROM toks),
bg AS (SELECT doc_id, unnest(ts[1:len(ts)-1]) AS a,
              unnest(ts[2:len(ts)]) AS b FROM tl)"""

  private lazy val knCountCtes: String =
    """cb AS (SELECT a, b, count(*)::BIGINT AS nab FROM bg GROUP BY a, b),
cc AS (SELECT a, sum(nab)::BIGINT AS na, count(*)::BIGINT AS n1a
       FROM cb GROUP BY a),
cw AS (SELECT b, count(*)::BIGINT AS n1b FROM cb GROUP BY b),
bt AS (SELECT count(*)::BIGINT AS btypes FROM cb)"""

  private lazy val knFirstTokenCte: String =
    """fst AS (SELECT doc_id, ts[1] AS t FROM tl WHERE len(ts) >= 1),
flp AS (SELECT fst.doc_id,
  CAST(ln((coalesce(cw.n1b, 0) + 0.5) / (btypes + 0.5 * (vsz + 1)))
       AS DECIMAL(28,12)) AS lp
  FROM fst LEFT JOIN cw ON fst.t = cw.b CROSS JOIN bt CROSS JOIN vt)"""

  private def pplSql(src: String): String =
    s"""SELECT doc_id, n_tokens,
  round(-(slp::DOUBLE)/n_tokens, 6) AS avg_nll_r,
  round(exp(round(-(slp::DOUBLE)/n_tokens, 6)), 4) AS ppl_r
FROM $src ORDER BY doc_id"""

  // First-token (`su`) plus bigram (`blp`) log-prob sums per doc.
  private lazy val bigramPplSql: String =
    s"""sb AS (SELECT bg.doc_id, sum(blp.lp) AS s2, count(*)::BIGINT AS c2
  FROM bg JOIN blp ON bg.a = blp.a AND bg.b = blp.b GROUP BY bg.doc_id),
agg AS (SELECT su.doc_id,
  su.s1 + coalesce(sb.s2, CAST(0 AS DECIMAL(28,12))) AS slp,
  su.c1 + coalesce(sb.c2, 0) AS n_tokens
  FROM su LEFT JOIN sb ON su.doc_id = sb.doc_id)
${pplSql("agg")}"""

  // Composite quality score (twin of TextAnalysis.qualityScore): the
  // per-doc inputs `toks`/`alpha`/`stops` after the given columns, and the
  // score over them.
  private def qualityInputs(cols: String): String =
    s"""$cols, $toksSql AS toks,
         len(regexp_extract_all(text, '[a-zA-Z]')) AS alpha,
         len(list_filter($toksSql, t -> list_contains($enLex, t))) AS stops"""

  private lazy val qualitySql: String =
    """least(len(toks), 256)::DOUBLE / 256 * 0.4
           + alpha::DOUBLE / greatest(length(text), 1) * 0.4
           + least(stops::DOUBLE / greatest(len(toks), 1) * 5, 1.0) * 0.2"""

  // The corpus gate's tail (twin of CorpusIngest): first doc per
  // fingerprint `fp` of the quality-kept `f`, and the probe slice's
  // fingerprints `p` for decontamination.
  private lazy val gateDedupCtes: String =
    s"""r AS (SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn FROM f),
p AS (SELECT DISTINCT md5($normSql) AS fp FROM documents WHERE doc_id % 50 = 0)"""

  // 64-dim literal dot products (left-to-right sum == Spark's left fold).
  private def dotSql(a: String, b: String): String =
    (1 to 64).map(i => s"$a[$i]*$b[$i]").mkString(" + ")

  // 8-dim twin for the product-quantization subvectors.
  private def dot8Sql(a: String, b: String): String =
    (1 to 8).map(i => s"$a[$i]*$b[$i]").mkString(" + ")

  // 16-dim twin for the media block-mean-luma embeddings.
  private def dot16Sql(a: String, b: String): String =
    (1 to 16).map(i => s"$a[$i]*$b[$i]").mkString(" + ")

  // The float embeddings `e(vec_id, v)` and their L2 norms `n(vec_id, v, nrm)`.
  private lazy val embNormCtes: String =
    s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
${normCte("n")}"""

  // The L2 norms `<name>(vec_id, v, nrm)` of the vectors in `e`.
  private def normCte(name: String): String =
    s"$name AS (SELECT vec_id, v, sqrt(${dotSql("v", "v")}) AS nrm FROM e)"

  // Exact cosine `s(q_id, vec_id, sim)` of the 10 query vectors (vec_id
  // < 10) against every other vector of `n`.
  private lazy val exactSimCtes: String =
    s"""q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM n WHERE vec_id < 10),
s AS (SELECT q.q_id, n.vec_id, (${dotSql("qv", "v")}) / (q.qn * n.nrm) AS sim
      FROM q JOIN n ON n.vec_id <> q.q_id)"""

  // IVF coarse quantizer over `n` (twin of Similarity's strided
  // centroids): every 20th vector is a centroid `c`, and `asg` puts each
  // vector in its nearest centroid's cell (ties → lowest cent_id).
  private def ivfCellCtes(dot: (String, String) => String): String =
    s"""c AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cn FROM n WHERE vec_id % 20 = 0),
a AS (SELECT n.vec_id, c.cent_id,
             row_number() OVER (PARTITION BY n.vec_id
               ORDER BY (${dot("v", "cv")}) / (n.nrm * c.cn) DESC, c.cent_id) AS rn
      FROM n CROSS JOIN c),
asg AS (SELECT n.vec_id, n.v, n.nrm, a.cent_id AS cell
        FROM a JOIN n ON n.vec_id = a.vec_id WHERE a.rn = 1)"""

  // IVF probe over `ivfCellCtes`: the first `numQ` vectors (query vector
  // column `qv`) probe their 8 nearest cells; `out(q_id, vec_id, sim)`
  // holds the exact cosines of the probed cells' residents.
  private def ivfProbeCtes(dot: (String, String) => String, numQ: Int,
    qv: String, out: String): String =
    s"""q AS (SELECT vec_id AS q_id, v AS $qv, nrm AS qn FROM n WHERE vec_id < $numQ),
p AS (SELECT q.q_id, q.$qv, q.qn, c.cent_id AS cell,
             row_number() OVER (PARTITION BY q.q_id
               ORDER BY (${dot(qv, "cv")}) / (q.qn * c.cn) DESC, c.cent_id) AS rn
      FROM q CROSS JOIN c),
pr AS (SELECT q_id, $qv, qn, cell FROM p WHERE rn <= 8),
$out AS (SELECT pr.q_id, asg.vec_id, (${dot(qv, "v")}) / (pr.qn * asg.nrm) AS sim
       FROM pr JOIN asg ON asg.cell = pr.cell
       WHERE asg.vec_id <> pr.q_id)"""

  // Top-10 neighbors per query from `src(q_id, vec_id, sim)`, rounded
  // sims, ties → lowest vec_id.
  private def top10Sql(src: String): String =
    s"""r AS (SELECT q_id, vec_id AS neighbor_id, round(sim, 6) AS sim_r,
             row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rnk
      FROM $src)
SELECT q_id, rnk, neighbor_id, sim_r FROM r WHERE rnk <= 10
ORDER BY q_id, rnk"""

  /** MMR greedy selection unrolled as `k` argmax stages (the repo's
    * unrolled-iteration oracle idiom): stage i ranks the not-yet-selected
    * candidates by (qs − max sim to the selected set) — with λ = 0.5 the
    * exact score ordering — and takes the row_number()=1 row, ties →
    * lowest cand_id, exactly [[graft.ext.Similarity.mmrTopK]]'s greedy
    * over the same 6-dp-rounded sims. Prefix-agnostic: expects prior
    * CTEs `n` (vec_id, v, nrm) and `cand` (q_id, cand_id, qs), so the
    * same stages splice onto the brute-force AND the IVF candidate
    * replays (the pairwise CTE is `mpp` — `p` is taken in the IVF
    * prefix). */
  private def mmrStagesSql(k: Int): String = {
    val stages = (2 to k).map { i =>
      s"""mx$i AS (
  SELECT c.q_id, c.cand_id, c.qs, max(mpp.ps) AS mx
  FROM cand c
  JOIN selall${i - 1} s ON s.q_id = c.q_id
  JOIN mpp ON mpp.q_id = c.q_id
     AND mpp.ca = least(c.cand_id, s.cand_id)
     AND mpp.cb = greatest(c.cand_id, s.cand_id)
  WHERE NOT EXISTS (SELECT 1 FROM selall${i - 1} x
                    WHERE x.q_id = c.q_id AND x.cand_id = c.cand_id)
  GROUP BY c.q_id, c.cand_id, c.qs),
sel$i AS (
  SELECT q_id, cand_id,
         CAST(floor((qs - mx) * 1e6 + 0.5) AS BIGINT) AS micro
  FROM (SELECT mx$i.*,
               row_number() OVER (PARTITION BY q_id
                 ORDER BY (qs - mx) DESC, cand_id) AS rn FROM mx$i)
  WHERE rn = 1),
selall$i AS (SELECT q_id, cand_id FROM selall${i - 1}
             UNION ALL SELECT q_id, cand_id FROM sel$i)"""
    }.mkString(",\n")
    val unions = (1 to k)
      .map(i => s"SELECT q_id, $i AS rnk, cand_id, micro AS mmr2x_micro FROM sel$i")
      .mkString("\nUNION ALL\n")
    s"""mpp AS (SELECT a.q_id, a.cand_id AS ca, b.cand_id AS cb,
             round((${dotSql("va.v", "vb.v")}) / (va.nrm * vb.nrm), 6) AS ps
      FROM cand a
      JOIN cand b ON b.q_id = a.q_id AND b.cand_id > a.cand_id
      JOIN n va ON va.vec_id = a.cand_id
      JOIN n vb ON vb.vec_id = b.cand_id),
sel1 AS (
  SELECT q_id, cand_id,
         CAST(floor(qs * 1e6 + 0.5) AS BIGINT) AS micro
  FROM (SELECT cand.*,
               row_number() OVER (PARTITION BY q_id
                 ORDER BY qs DESC, cand_id) AS rn FROM cand)
  WHERE rn = 1),
selall1 AS (SELECT q_id, cand_id FROM sel1),
$stages
$unions
ORDER BY q_id, rnk"""
  }

  private def mmrSql(n: Int, k: Int): String =
    s"""WITH $embNormCtes,
$exactSimCtes,
cand AS (SELECT q_id, cand_id, qs FROM (
  SELECT q_id, vec_id AS cand_id, round(sim, 6) AS qs,
         row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rk
  FROM s) WHERE rk <= $n),
${mmrStagesSql(k)}"""

  /** MMR over the IVF probe's candidates: the `top` CTE of the IVF
    * replay, capped at `n`, feeds the same unrolled greedy. */
  private def mmrIvfSql(n: Int, k: Int): String =
    s"""${ivfTopSql(10)},
cand AS (SELECT q_id, neighbor_id AS cand_id, sim_r AS qs
         FROM top WHERE rnk <= $n),
${mmrStagesSql(k)}"""

  // Product-quantization shared prefix (twin of graft.ext.Pq): int8
  // quantize → 8×8-dim subvectors → data-sampled sub-codebooks (every
  // 2nd vector donates, capped at 256 codewords) → per-(vector, subspace)
  // nearest codeword by exact-integer L2 (ties → lowest cw_id; computed
  // as an order-free min over dist*512+cw_id — the L2 is a sub-2^29
  // integer, so the packed key is exact and the lexicographic
  // (dist, cw_id) argmin needs no 12M-row window sort) → ADC
  // ranking: per-query LUT dots summed per candidate, normalized by the
  // exact int8 query norm × reconstruction norm. Every product/sum is a
  // sub-2⁵³ integer in a double, so the whole chain is bit-deterministic.
  private lazy val pqCte =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
sc AS (SELECT greatest(max(list_aggregate(list_transform(v, x -> abs(x)), 'max')), 4.9e-324) AS s FROM e),
q8 AS (SELECT vec_id, list_transform(v, x -> floor(x * 127.0 / s + 0.5)) AS qd
       FROM e CROSS JOIN sc),
sub AS (SELECT vec_id, t.j, qd[(t.j*8+1):(t.j*8+8)] AS sv
        FROM q8 CROSS JOIN range(8) t(j)),
cb AS (SELECT j, vec_id AS cw_id, sv AS cw, ${dot8Sql("sv", "sv")} AS cwdot
       FROM sub WHERE vec_id % 2 = 0 AND vec_id < 512),
cds AS (SELECT s2.vec_id, s2.j,
               min(((${dot8Sql("s2.sv", "s2.sv")}) - 2*(${dot8Sql("s2.sv", "c.cw")}) + c.cwdot) * 512 + c.cw_id)::BIGINT % 512 AS code
        FROM sub s2 JOIN cb c ON c.j = s2.j
        GROUP BY s2.vec_id, s2.j),
recon AS (SELECT cd.vec_id, sum(c.cwdot) AS recon2
          FROM cds cd JOIN cb c ON c.j = cd.j AND c.cw_id = cd.code
          GROUP BY cd.vec_id),
qn AS (SELECT vec_id AS q_id, sqrt(${dotSql("qd", "qd")}) AS qn FROM q8 WHERE vec_id < 10),
lut AS (SELECT s2.vec_id AS q_id, s2.j, c.cw_id, ${dot8Sql("s2.sv", "c.cw")} AS pdot
        FROM sub s2 JOIN cb c ON c.j = s2.j WHERE s2.vec_id < 10),
ad AS (SELECT l.q_id, cd.vec_id, sum(l.pdot) AS adot
       FROM cds cd JOIN lut l ON l.j = cd.j AND l.cw_id = cd.code AND cd.vec_id <> l.q_id
       GROUP BY l.q_id, cd.vec_id),
adc AS (SELECT ad.q_id, ad.vec_id,
               ad.adot / greatest(q.qn * sqrt(r.recon2), 4.9e-324) AS asim
        FROM ad JOIN qn q ON q.q_id = ad.q_id JOIN recon r ON r.vec_id = ad.vec_id),
adcr AS (SELECT q_id, vec_id AS neighbor_id, asim, round(asim, 6) AS asim_r,
                row_number() OVER (PARTITION BY q_id ORDER BY asim DESC, vec_id) AS rnk
         FROM adc)"""

  // The ADC top-10 SELECT shared by sim_topk_pq (in-plan) and
  // sim_topk_pq_indexed (the persisted-index probe): bit-identical by
  // design, ONE oracle.
  private lazy val pqTopSql =
    s"""$pqCte
SELECT q_id, rnk, neighbor_id, asim_r FROM adcr WHERE rnk <= 10
ORDER BY q_id, rnk"""

  // PCA oracle prefix (twin of graft.ext.Pca): decimal-exact moments →
  // covariance → UNROLLED power iteration (24 rounds × 2 components,
  // with deflation) — the BPE-oracle precedent of replaying an
  // iterative trainer as generated CTEs. Every sum is decimal-truncated
  // first (order-free); every other op is an IEEE double op on
  // identical inputs, so the eigenvectors match the driver loop
  // bit-for-bit.
  // Random-hyperplane LSH twin (graft.ext.Similarity.planeMatrix /
  // HyperplaneBuckets): the 48×64 plane matrix is DETERMINISTIC
  // (xxhash64-derived on the driver), so its VALUES embed as shortest-
  // round-trip double literals — both engines parse them to identical
  // doubles, the 64-term dot folds left-to-right exactly like the
  // codegen kernel, and the whole LSH family stops being "hash-specific"
  // and gains full oracles. `bk` = one (vec_id, table_id, bucket) row
  // per vector per table.
  private lazy val lshBucketsCte: String = {
    val planes = graft.ext.Similarity.planeMatrix(64)
    val bits = graft.ext.Similarity.bitsPerTable
    def dotE(j: Int): String =
      (0 until 64).map(i => s"v[${i + 1}]*(${planes(j)(i)})").mkString(" + ")
    def bucketE(t: Int): String =
      (0 until bits)
        .map(b => s"CASE WHEN (${dotE(t * bits + b)}) > 0 THEN ${1 << b} ELSE 0 END")
        .mkString(" + ")
    val arr = (0 until graft.ext.Similarity.numTables).map(bucketE).mkString(", ")
    s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
bks AS MATERIALIZED (SELECT vec_id, [$arr] AS bs FROM e),
bk AS MATERIALIZED (SELECT vec_id, t.i::INT AS table_id, bs[t.i + 1] AS bucket
      FROM bks CROSS JOIN range(${graft.ext.Similarity.numTables}) t(i))"""
  }

  // All-bit multi-probe list (the lshTopK convention: exact bucket +
  // every 1-bit flip).
  private lazy val lshProbeList: String =
    "[bucket, " +
      (0 until graft.ext.Similarity.bitsPerTable)
        .map(b => s"xor(bucket, ${1 << b})").mkString(", ") + "]"

  // The shared LSH top-10 ranking (candidates from the probe join, exact
  // cosine re-rank) — suffix used by sim_topk_lsh and ann_recall.
  private lazy val lshTopCte: String =
    s"""$lshBucketsCte,
qb AS (SELECT vec_id AS q_id, table_id, bucket FROM bk WHERE vec_id < 10),
probes AS (SELECT q_id, table_id, unnest($lshProbeList) AS probe FROM qb),
cand AS (SELECT DISTINCT p.q_id, bk.vec_id
         FROM probes p JOIN bk ON bk.table_id = p.table_id AND bk.bucket = p.probe
         WHERE bk.vec_id <> p.q_id),
${normCte("nn")},
sx AS (SELECT c.q_id, c.vec_id,
              (${dotSql("qn.v", "nn.v")}) / (qn.nrm * nn.nrm) AS sim
       FROM cand c JOIN nn qn ON qn.vec_id = c.q_id
       JOIN nn ON nn.vec_id = c.vec_id),
lsh AS (SELECT q_id, vec_id AS neighbor_id, round(sim, 6) AS sim_r,
               row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rnk
        FROM sx)"""

  // n12 fixed-point grid: floor(x·1e12 + 0.5) as BIGINT, exact long
  // sums, read back as ::DOUBLE / 1e12 — keep in lockstep with
  // graft.ext.Pca.n12/n12Col.
  private def n12Sum(expr: String): String =
    s"sum(CAST(floor(($expr) * 1e12 + 0.5) AS BIGINT))::DOUBLE / 1e12"

  private lazy val pcaCtes: String = {
    val d = graft.ext.Pca.dim
    val iters = graft.ext.Pca.iters
    val sb = new StringBuilder
    sb ++= s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
x AS MATERIALIZED (SELECT vec_id, t.i::INT AS i, v[t.i + 1] AS xi FROM e CROSS JOIN range($d) t(i)),
nn0 AS (SELECT count(*)::BIGINT AS n FROM e),
s1 AS (SELECT i, ${n12Sum("xi")} AS s1 FROM x GROUP BY i),
s2 AS MATERIALIZED (SELECT a.i AS i, b.i AS j, ${n12Sum("a.xi * b.xi")} AS s2
       FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.i <= b.i GROUP BY a.i, b.i),
covu AS (SELECT s2.i, s2.j,
                (s2.s2 - s1a.s1 * s1b.s1 / nn0.n) / nn0.n AS a
         FROM s2 JOIN s1 s1a ON s1a.i = s2.i JOIN s1 s1b ON s1b.i = s2.j
         CROSS JOIN nn0),
a0 AS MATERIALIZED (SELECT i, j, a FROM covu UNION ALL SELECT j AS i, i AS j, a FROM covu WHERE i <> j),
tv AS (SELECT ${n12Sum("a")} AS total_var FROM a0 WHERE i = j)"""
    for (c <- 0 until graft.ext.Pca.numComponents) {
      sb ++= s""",
v${c}_0 AS (SELECT t.i::INT AS i, 0.125::DOUBLE AS v FROM range($d) t(i))"""
      for (t <- 1 to iters) {
        sb ++= s""",
w${c}_$t AS MATERIALIZED (SELECT m.i, ${n12Sum("m.a * p.v")} AS w
  FROM a$c m JOIN v${c}_${t - 1} p ON p.i = m.j GROUP BY m.i)"""
        // Gram-Schmidt against every finished component (grid dot,
        // plain-double axpy), mirroring the driver loop
        val wSrc = (0 until c).foldLeft(s"w${c}_$t") { (src, q) =>
          sb ++= s""",
d${c}_${t}_$q AS MATERIALIZED (SELECT ${n12Sum(s"w.w * vq.v")} AS d
  FROM $src w JOIN v${q}_$iters vq ON vq.i = w.i),
g${c}_${t}_$q AS MATERIALIZED (SELECT w.i,
  w.w - (SELECT d FROM d${c}_${t}_$q) * vq.v AS w
  FROM $src w JOIN v${q}_$iters vq ON vq.i = w.i)"""
          s"g${c}_${t}_$q"
        }
        sb ++= s""",
n${c}_$t AS MATERIALIZED (SELECT sqrt(${n12Sum("w * w")}) AS nrm FROM $wSrc),
v${c}_$t AS MATERIALIZED (SELECT i, w / (SELECT nrm FROM n${c}_$t) AS v FROM $wSrc)"""
      }
      if (c + 1 < graft.ext.Pca.numComponents)
        sb ++= s""",
a${c + 1} AS MATERIALIZED (SELECT m.i, m.j,
  m.a - ((SELECT nrm FROM n${c}_$iters) * vi.v) * vj.v AS a
  FROM a$c m JOIN v${c}_$iters vi ON vi.i = m.i JOIN v${c}_$iters vj ON vj.i = m.j)"""
    }
    sb.toString
  }

  // PQ shortlist (top 40 by ADC) re-scored by exact float cosine:
  // `s3(q_id, neighbor_id, sim)`.
  private lazy val pqRefineCtes: String =
    s"""c40 AS (SELECT q_id, neighbor_id FROM adcr WHERE rnk <= 40),
${normCte("nn")},
qv AS (SELECT vec_id AS q_id, v AS qvec, nrm AS qnn FROM nn WHERE vec_id < 10),
s3 AS (SELECT c40.q_id, c40.neighbor_id,
              (${dotSql("qvec", "nn.v")}) / (qv.qnn * nn.nrm) AS sim
       FROM c40 JOIN qv USING (q_id) JOIN nn ON nn.vec_id = c40.neighbor_id)"""

  // Exact cosine rank `ex(q_id, vec_id, rnk)` of every vector against the
  // 10 queries, over the float embeddings `e`.
  private lazy val exactRankCtes: String =
    s"""${normCte("nn")},
qv AS (SELECT vec_id AS q_id, v AS qvec, nrm AS qnn FROM nn WHERE vec_id < 10),
ex AS (SELECT qv.q_id, nn.vec_id,
              row_number() OVER (PARTITION BY qv.q_id
                ORDER BY (${dotSql("qvec", "nn.v")}) / (qv.qnn * nn.nrm) DESC, nn.vec_id) AS rnk
       FROM qv JOIN nn ON nn.vec_id <> qv.q_id)"""

  // One Lloyd step over the IVF cells `asg`/`c`: fixed-point-exact cell
  // means `nc.ncv` (plus `ncCols`), their norms `n2` and the re-assignment
  // ranks `a2`.
  private def lloydCtes(ncCols: String): String =
    s"""mx AS (SELECT asg.cell, t.i, asg.v[t.i + 1] AS xi
       FROM asg CROSS JOIN range(64) t(i)),
sm AS (SELECT cell, i,
              sum(CAST(floor(xi * 1e12 + 0.5) AS BIGINT))::DOUBLE / 1e12 AS s,
              count(*)::BIGINT AS cnt
       FROM mx GROUP BY cell, i),
mv AS (SELECT cell, list(s / cnt ORDER BY i) AS m FROM sm GROUP BY cell),
nc AS (SELECT c.cent_id, coalesce(mv.m, c.cv) AS ncv$ncCols
       FROM c LEFT JOIN mv ON mv.cell = c.cent_id),
n2 AS (SELECT cent_id, ncv, sqrt(${dotSql("ncv", "ncv")}) AS ncn FROM nc),
a2 AS (SELECT n.vec_id, n2.cent_id,
              row_number() OVER (PARTITION BY n.vec_id
                ORDER BY (${dotSql("v", "ncv")}) / (n.nrm * n2.ncn) DESC, n2.cent_id) AS rn
       FROM n CROSS JOIN n2)"""

  // Contrastive mining over the IVF top-20 (twin of Contrastive.pairs):
  // the nearest neighbor is the positive, near-misses under the 0.95
  // dup ceiling the ranked negatives.
  private lazy val minedPairCtes: String =
    s"""${ivfTopSql(20)},
t16 AS (SELECT * FROM top WHERE rnk <= 16),
pos AS (SELECT q_id, neighbor_id AS pos_id, sim_r AS pos_sim_r FROM t16 WHERE rnk = 1),
ng AS (SELECT q_id, neighbor_id AS neg_id, sim_r AS neg_sim_r,
              row_number() OVER (PARTITION BY q_id ORDER BY sim_r DESC, neighbor_id) AS neg_rnk
       FROM t16 WHERE rnk > 1 AND sim_r < 0.95)"""

  // Per-doc Gumbel noise from the content md5 (twin of Dsir.resample).
  private lazy val gumbelCte: String =
    s"""gm AS (SELECT doc_id, lang, source,
              -ln(-ln(greatest(
                  CAST('0x' || substring(md5($normSql), 1, 13) AS UBIGINT)::DOUBLE
                      / 4503599627370496, 4.9e-324))) AS g
       FROM documents)"""

  // Label-relevance eval suffix (twin of graft.ext.RetrievalEval
  // .evalRanking, k = 10): expects a `ranked (q_id, rnk, neighbor_id)`
  // CTE upstream. DCG terms truncate to DECIMAL(28,12) before the
  // order-free per-query sum; log2 is ln(x)/ln(2) in both engines.
  private lazy val retrievalEvalSql =
    """lb AS (SELECT vec_id, label FROM embeddings),
cs AS (SELECT label, count(*)::BIGINT AS n_class FROM lb GROUP BY label),
qr AS (SELECT lb.vec_id AS q_id, lb.label AS q_lbl, cs.n_class - 1 AS n_rel
       FROM lb JOIN cs ON cs.label = lb.label),
ideal AS (SELECT m, sum(term) OVER (ORDER BY m ROWS UNBOUNDED PRECEDING) AS idcg
          FROM (SELECT i AS m, CAST(1.0 / (ln(i + 1) / ln(2)) AS DECIMAL(28,12)) AS term
                FROM range(1, 11) t(i)) z),
scx AS (SELECT r.q_id, qr.n_rel,
              sum(CASE WHEN nl.label = qr.q_lbl THEN 1 ELSE 0 END)::BIGINT AS hits,
              min(CASE WHEN nl.label = qr.q_lbl THEN r.rnk END) AS first_rel,
              sum(CAST((CASE WHEN nl.label = qr.q_lbl THEN 1 ELSE 0 END)
                       / (ln(r.rnk + 1) / ln(2)) AS DECIMAL(28,12))) AS dcg
       FROM ranked r JOIN qr ON qr.q_id = r.q_id
       JOIN lb nl ON nl.vec_id = r.neighbor_id
       GROUP BY r.q_id, qr.n_rel)
SELECT scx.q_id, scx.n_rel, scx.hits,
       round(scx.hits::DOUBLE / greatest(least(10, scx.n_rel), 1), 6) AS recall_r,
       round(coalesce(1.0::DOUBLE / scx.first_rel, 0.0), 6) AS mrr_r,
       round(coalesce(scx.dcg::DOUBLE / ideal.idcg::DOUBLE, 0.0), 6) AS ndcg_r
FROM scx LEFT JOIN ideal ON ideal.m = least(10, scx.n_rel)
ORDER BY scx.q_id"""

  // DSIR importance-weight CTE chain (twin of graft.ext.Dsir
  // .importanceWeights, target = lang 'en'): add-k unigram LMs for the
  // target slice and the raw corpus; per-token-instance log-ratio
  // truncated to DECIMAL(28,12) before the order-free per-doc sum.
  private lazy val dsirWeightCtes =
    s"""WITH toks AS (SELECT doc_id, lang, unnest($toksSql) AS t FROM documents),
rv AS (SELECT t, count(*)::BIGINT AS n FROM toks GROUP BY t),
rtot AS (SELECT sum(n)::BIGINT AS total, count(*)::BIGINT AS vsz FROM rv),
rlp AS (SELECT t, ln((n + 0.5) / (total + 0.5*(vsz+1))) AS lp_raw FROM rv CROSS JOIN rtot),
tv AS (SELECT t, count(*)::BIGINT AS n FROM toks WHERE lang = 'en' GROUP BY t),
ttot AS (SELECT sum(n)::BIGINT AS total, count(*)::BIGINT AS vsz FROM tv),
tlp AS (SELECT t, ln((n + 0.5) / (total + 0.5*(vsz+1))) AS lp_tgt FROM tv CROSS JOIN ttot),
unk AS (SELECT ln(0.5 / (total + 0.5*(vsz+1))) AS unk_lp FROM ttot),
pt AS (SELECT toks.doc_id,
              CAST(coalesce(tlp.lp_tgt, unk.unk_lp) - rlp.lp_raw AS DECIMAL(28,12)) AS ratio
       FROM toks JOIN rlp ON toks.t = rlp.t
       LEFT JOIN tlp ON toks.t = tlp.t CROSS JOIN unk),
sw AS (SELECT doc_id, count(*)::BIGINT AS n_tokens, sum(ratio) AS slw FROM pt GROUP BY doc_id)"""

  // Float-vector IVF top-k prefix (twin of Similarity.ivfTopK) with the
  // query count and over-fetch depth as parameters — shared by the
  // contrastive-mining oracles, same construction as sim_topk_ivf's.
  private def ivfTopSql(numQ: Int): String =
    s"""WITH $embNormCtes,
${ivfCellCtes(dotSql)},
${ivfProbeCtes(dotSql, numQ, "qv2", "sx")},
top AS (SELECT q_id, vec_id AS neighbor_id, round(sim, 6) AS sim_r,
               row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rnk
        FROM sx)"""

  // Shared by sim_topk_ivf_q8 (in-plan) and sim_topk_ivf_indexed (the
  // persisted-index probe): the two queries are bit-identical by design,
  // so they carry ONE oracle — the driver's hash check then pins
  // table-probe ≡ in-plan every round.
  // The quantize → centroid → assignment CTE prefix shared by the three
  // index-family oracles (probe, indexed probe, cell stats).
  // Twin of Similarity.binarize: sign bits packed into two 32-bit words
  // via a literal-power sum (no variable-shift overflow in either
  // engine; list_sum's HUGEINT cast back down is exact, words < 2³²).
  private lazy val binaryCodesCte =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
bw AS (SELECT vec_id,
         list_sum(list_transform(range(1, 33),
           i -> CASE WHEN v[i] > 0 THEN (1::BIGINT << (i - 1)) ELSE 0::BIGINT END))::BIGINT AS w0,
         list_sum(list_transform(range(33, 65),
           i -> CASE WHEN v[i] > 0 THEN (1::BIGINT << (i - 33)) ELSE 0::BIGINT END))::BIGINT AS w1
       FROM e)"""

  private lazy val ivfQ8AsgCte =
    s"""WITH e0 AS (SELECT vec_id, embedding::DOUBLE[] AS v0 FROM embeddings),
sc AS (SELECT greatest(max(list_aggregate(list_transform(v0, x -> abs(x)), 'max')), 4.9e-324) AS s FROM e0),
e AS (SELECT vec_id, list_transform(v0, x -> floor(x * 127.0 / s + 0.5)) AS v
      FROM e0 CROSS JOIN sc),
${normCte("n")},
${ivfCellCtes(dotSql)}"""

  private lazy val ivfQ8Sql =
    s"""$ivfQ8AsgCte,
${ivfProbeCtes(dotSql, 10, "qv", "sx")},
${top10Sql("sx")}"""

  // --- media-header twins (graft.ext.Multimodal.mediaWithHeaders /
  //     headerMetaFromHex). Keep every constant and offset in lockstep. ---
  private def le32Sql(e: String): String = {
    val b = s"lpad(hex($e),8,'0')"
    s"(substring($b,7,2) || substring($b,5,2) || substring($b,3,2) || substring($b,1,2))"
  }
  private def le16Sql(e: String): String = {
    val b = s"lpad(hex($e),4,'0')"
    s"(substring($b,3,2) || substring($b,1,2))"
  }
  private def le32AtSql(p: Int): String =
    s"CAST('0x' || substring(hx,${p + 6},2) || substring(hx,${p + 4},2) || " +
      s"substring(hx,${p + 2},2) || substring(hx,$p,2) AS INT)"
  private def le16AtSql(p: Int): String =
    s"CAST('0x' || substring(hx,${p + 2},2) || substring(hx,$p,2) AS INT)"
  private def le24AtSql(p: Int): String =
    s"CAST('0x' || substring(hx,${p + 4},2) || substring(hx,${p + 2},2) || " +
      s"substring(hx,$p,2) AS INT)"
  private def le24Sql(e: String): String = {
    val b = s"lpad(hex($e),6,'0')"
    s"(substring($b,5,2) || substring($b,3,2) || substring($b,1,2))"
  }

  /** DuckDB twin of `Multimodal.mediaWithHeaders`: CTEs `base` + `mh`
    * producing (media_id, kind, hx) with identical header bytes. */
  private val mediaHxCte =
    s"""base AS (SELECT doc_id, hex(text::BLOB) AS body,
  1 + doc_id % 1024 AS w, 1 + (doc_id*7) % 1024 AS h, 1 + doc_id % 32 AS nf,
  8000 + (doc_id % 8) * 4000 AS sr, 1 + doc_id % 2 AS ch FROM documents),
mh AS (SELECT doc_id AS media_id,
  CASE WHEN doc_id % 3 = 0 THEN 'image'
       WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
  CASE
    WHEN doc_id % 12 = 0 THEN
      '89504E470D0A1A0A' || '0000000D49484452' || lpad(hex(w),8,'0') ||
      lpad(hex(h),8,'0') || '080600000000000000' || body
    WHEN doc_id % 12 = 6 THEN
      '52494646' || ${le32Sql("len(body)//2 + 22")} || '5745425056503858' ||
      ${le32Sql("10")} || '00000000' || ${le24Sql("w - 1")} ||
      ${le24Sql("h - 1")} || body
    WHEN doc_id % 12 = 9 THEN
      '474946383961' || ${le16Sql("w")} || ${le16Sql("h")} || 'F70000' || body
    WHEN doc_id % 3 = 0 THEN
      'FFD8' || 'FFE000104A46494600010100000100010000' || 'FFDB000600FFC0FF' ||
      'FFC0001108' || lpad(hex(h),4,'0') || lpad(hex(w),4,'0') ||
      '03011100021101031101' || body || 'FFD9'
    WHEN doc_id % 3 = 1 THEN
      '52494646' || ${le32Sql("len(body)//2 + 36")} || '57415645666D7420' ||
      ${le32Sql("16")} || ${le16Sql("1")} || ${le16Sql("ch")} ||
      ${le32Sql("sr")} || ${le32Sql("sr*ch*2")} || ${le16Sql("ch*2")} ||
      ${le16Sql("16")} || '64617461' || ${le32Sql("len(body)//2")} || body
    ELSE
      '52494646' || ${le32Sql("len(body)//2 + 80")} || '415649204C495354' ||
      ${le32Sql("68")} || '6864726C61766968' || ${le32Sql("56")} ||
      '35820000000000000000000000000000' || ${le32Sql("nf")} ||
      '000000000100000000000000' || ${le32Sql("w")} || ${le32Sql("h")} ||
      '00000000000000000000000000000000' || body
  END AS hx FROM base)"""

  // FakeCodec twin (graft.ext.Multimodal.FakeCodec.features): the
  // payload-byte LCG fold h ← h·C + b (signed bytes, mod 2⁶⁴) runs as a
  // HUGEINT list_reduce; the 8 per-dimension states unroll via the
  // closed form hᵢ = (h₀·Cⁱ + A·(Cⁱ⁻¹+…+1)) mod 2⁶⁴ with the constants
  // precomputed here in BigInt (h₀·Cᵢ splits into 2³² limbs so no
  // product exceeds HUGEINT range). Float steps — (h >>> 11).toFloat,
  // ÷ 2⁵³f, − 0.5f — replay as REAL casts of double arithmetic, which
  // is correctly rounded for float operands.
  private lazy val mediaFeaturesSql: String = {
    val M = BigInt(1) << 64
    val C = BigInt("6364136223846793005")
    val A = BigInt("1442695040888963407")
    val seed = BigInt("14029467366897019727") // 0xc2b2ae3d27d4eb4f unsigned
    val dims = (1 to 8).scanLeft((BigInt(1), BigInt(0))) { case ((ci, si), _) =>
      ((ci * C) % M, (si * C + A) % M)
    }.tail
    val scaled = dims.map { case (ci, si) =>
      val hi = s"((h0 // 4294967296 * $ci::HUGEINT) % 4294967296 * 4294967296" +
        s" + (h0 % 4294967296) * $ci::HUGEINT + $si::HUGEINT)" +
        s" % 18446744073709551616::HUGEINT"
      val f = s"CAST(CAST(($hi) // 2048 AS BIGINT) AS REAL)"
      val x = s"CAST($f::DOUBLE / 9007199254740992.0 AS REAL)"
      val y = s"CAST($x::DOUBLE - 0.5 AS REAL)"
      s"CAST(floor($y::DOUBLE * 10000.0 + 0.5) AS BIGINT)::VARCHAR"
    }
    s"""WITH $mediaHxCte,
fm AS (SELECT mh.media_id, mh.kind, b.doc_id, b.w::INT AS w, b.h::INT AS h,
         b.nf::INT AS nf,
         list_reduce(list_prepend($seed::HUGEINT,
           list_transform(
             list_transform(range(1, len(hx)//2 + 1),
               i -> CAST('0x' || substring(hx, (2*i-1)::INT, 2) AS INT)),
             x -> (CASE WHEN x > 127 THEN x - 256 ELSE x END)::HUGEINT)),
           (a, x) -> (a * $C::HUGEINT + x + 18446744073709551616::HUGEINT)
                     % 18446744073709551616::HUGEINT) AS h0
       FROM mh JOIN base b ON b.doc_id = mh.media_id)
SELECT media_id, kind,
       CASE WHEN doc_id % 3 = 1 THEN 0 ELSE w END AS width,
       CASE WHEN doc_id % 3 = 1 THEN 0 ELSE h END AS height,
       CASE WHEN doc_id % 3 = 2 THEN nf ELSE 1 END AS n_frames,
       md5(array_to_string([${scaled.mkString(",\n         ")}], ',')) AS feature_digest
FROM fm ORDER BY media_id"""
  }

  /** Shared DuckDB CTEs for the multi-probe k-NN graph
    * (`Similarity.knnGraph`, nprobe 2, stride 20): ends at `r` — ranked
    * candidate edges (vec_id, nbr_id, sim_r, rnk). */
  // MATERIALIZED throughout: hm/pr/r are each referenced more than once
  // downstream (knn_cluster_stats reads hm twice for the cell pairs), and
  // DuckDB re-inlines a plain CTE at every reference — the 384-term dot
  // products then replan per reference and the memory blows up under
  // load (observed as an OOM when the gate ran beside a Spark suite).
  private lazy val knnGraphCtes: String =
    s"""e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
n AS MATERIALIZED (SELECT vec_id, v, sqrt(${dotSql("v", "v")}) AS nrm FROM e),
c AS MATERIALIZED (SELECT vec_id AS cent_id, v AS cv, nrm AS cn FROM n WHERE vec_id % 20 = 0),
a AS MATERIALIZED (SELECT n.vec_id, c.cent_id,
             row_number() OVER (PARTITION BY n.vec_id
               ORDER BY (${dotSql("v", "cv")}) / (n.nrm * c.cn) DESC, c.cent_id) AS rn
      FROM n CROSS JOIN c),
hm AS MATERIALIZED (SELECT n.vec_id, n.v, n.nrm, a.cent_id AS cell
       FROM a JOIN n ON n.vec_id = a.vec_id WHERE a.rn = 1),
pr AS MATERIALIZED (SELECT n.vec_id, n.v, n.nrm, a.cent_id AS cell
       FROM a JOIN n ON n.vec_id = a.vec_id WHERE a.rn <= 2),
s AS MATERIALIZED (SELECT x.vec_id, y.vec_id AS nbr_id,
             (${dotSql("x.v", "y.v")}) / (x.nrm * y.nrm) AS sim
      FROM pr x JOIN hm y ON x.cell = y.cell AND x.vec_id <> y.vec_id),
r AS MATERIALIZED (SELECT vec_id, nbr_id, round(sim, 6) AS sim_r,
             row_number() OVER (PARTITION BY vec_id
               ORDER BY sim DESC, nbr_id) AS rnk
      FROM s)"""

  // ... and its components: the ≥ 0.4 edges of the top-3 graph closed
  // transitively, `cc(u, v)` (a recursive CTE).
  private lazy val knnClosureCtes: String =
    s"""$knnGraphCtes,
g AS MATERIALIZED (SELECT vec_id, nbr_id FROM r WHERE rnk <= 3 AND sim_r >= 0.4),
ed AS MATERIALIZED (SELECT vec_id AS u, nbr_id AS v FROM g
       UNION ALL SELECT nbr_id, vec_id FROM g),
cc AS (SELECT u, u AS v FROM (SELECT DISTINCT u FROM ed) nn
       UNION
       SELECT cc.u, ed.v FROM cc JOIN ed ON cc.v = ed.u)"""

  // --- BPE twins (graft.ext.Bpe). The learner is deterministic (exact
  //     long counts, lexicographic tie-break), so DuckDB re-learns the
  //     SAME merge table by replaying the loop as unrolled CTE rounds:
  //     w{r} = word state, p{r} = pair counts, b{r} = the round's arg-max
  //     pair. replace() is leftmost-non-overlapping in both engines, which
  //     is exactly BPE's in-word merge order. ---
  private val bpeMerges = 20
  private val bpePatSql = "[a-z0-9]+|[^a-z0-9\\s]"

  /** `wrd` + `w0`: word-frequency table and initial spaced-symbol state.
    * State (w) and arg-max (b) CTEs are MATERIALIZED: DuckDB inlines
    * CTEs by default, and each round references the previous state from
    * two places (next state + pair counts) and its arg-max from three,
    * so 20 inlined rounds expand exponentially (observed as thousands of
    * re-opened parquet scans). Materialization makes the replay linear —
    * the same reason the Spark loop checkpoints its state. */
  private val bpeInitCte =
    s"""wrd AS (SELECT w, count(*)::BIGINT AS cnt FROM (
  SELECT unnest(regexp_extract_all(lower(text), '$bpePatSql')) AS w
  FROM documents) GROUP BY w),
w0 AS MATERIALIZED (SELECT ' ' || array_to_string(
  list_transform(range(1, len(w)+1), i -> w[i]), '  ') || ' ' AS word_str, cnt
  FROM wrd)"""

  private def bpeRoundCtes(n: Int): String =
    (1 to n).map { r =>
      s"""p$r AS (SELECT l, r, sum(cnt)::BIGINT AS n FROM (
  SELECT unnest(syms[1:len(syms)-1]) AS l, unnest(syms[2:len(syms)]) AS r, cnt
  FROM (SELECT string_split(trim(word_str), '  ') AS syms, cnt FROM w${r - 1}))
  GROUP BY l, r),
b$r AS MATERIALIZED (SELECT l AS left_sym, r AS right_sym, n AS pair_n FROM p$r
  ORDER BY n DESC, l, r LIMIT 1),
w$r AS MATERIALIZED (SELECT CASE WHEN (SELECT count(*) FROM b$r) = 0 THEN word_str
  ELSE replace(word_str,
    ' ' || (SELECT left_sym FROM b$r) || '  ' || (SELECT right_sym FROM b$r) || ' ',
    ' ' || (SELECT left_sym FROM b$r) || (SELECT right_sym FROM b$r) || ' ') END AS word_str,
  cnt FROM w${r - 1})"""
    }.mkString(",\n")

  private def bpeVocabSql(n: Int): String =
    s"""WITH $bpeInitCte,
${bpeRoundCtes(n)}
SELECT * FROM (
${(1 to n).map(r =>
      s"SELECT CAST($r AS INT) AS merge_rank, left_sym, right_sym, pair_n FROM b$r")
      .mkString("\nUNION ALL ")}
) ORDER BY merge_rank"""

  /** Shared CTE body for BPE-tokenized docs: learner rounds + the doc
    * replace chain, ending at `fin` (doc_id, ts = final token stream). */
  private def bpeDocTokenCtes(n: Int): String = {
    val docChain = (1 to n).map { r =>
      s"""d$r AS MATERIALIZED (SELECT doc_id, CASE WHEN (SELECT count(*) FROM b$r) = 0 THEN ds
  ELSE replace(ds,
    ' ' || (SELECT left_sym FROM b$r) || '  ' || (SELECT right_sym FROM b$r) || ' ',
    ' ' || (SELECT left_sym FROM b$r) || (SELECT right_sym FROM b$r) || ' ') END AS ds
  FROM d${r - 1})"""
    }.mkString(",\n")
    s"""$bpeInitCte,
${bpeRoundCtes(n)},
d0 AS (SELECT doc_id, array_to_string(list_transform(
  regexp_extract_all(lower(text), '$bpePatSql'),
  w -> ' ' || array_to_string(list_transform(range(1, len(w)+1), i -> w[i]), '  ') || ' '),
  chr(10)) AS ds FROM documents),
$docChain,
fin AS (SELECT doc_id,
  replace(trim(replace(ds, chr(10), '')), '  ', ' ') AS ts FROM d$n)"""
  }

  private def bpeTokenizeSql(n: Int): String =
    s"""WITH ${bpeDocTokenCtes(n)}
SELECT doc_id,
  CAST(CASE WHEN ts = '' THEN 0 ELSE len(string_split(ts, ' ')) END AS INT) AS n_tokens,
  md5(ts) AS tokens_digest
FROM fin ORDER BY doc_id"""

  private def bpePackSql(n: Int, budget: Int): String =
    s"""WITH ${bpeDocTokenCtes(n)},
tc AS (SELECT doc_id,
  CAST(CASE WHEN ts = '' THEN 0 ELSE len(string_split(ts, ' ')) END AS BIGINT) AS n_tok
  FROM fin),
o AS (SELECT doc_id, n_tok,
        (coalesce(sum(n_tok) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))::BIGINT
          AS tok_offset
      FROM tc)
SELECT doc_id, n_tok, tok_offset,
       (tok_offset // $budget)::BIGINT AS win_first,
       ((tok_offset + greatest(n_tok, 1) - 1) // $budget)::BIGINT AS win_last,
       ((tok_offset + greatest(n_tok, 1) - 1) // $budget
         - tok_offset // $budget + 1)::BIGINT AS n_windows
FROM o ORDER BY doc_id"""

  /** DuckDB twin of the JPEG SOF segment walk in
    * `Multimodal.headerMetaFromHex`: 8 unrolled steps over CTEs p0..p8;
    * pos freezes at the first SOF0/1/2 marker (or wherever the guards
    * stop it). Same guards as the Spark expression. */
  private val jpegWalkCtes: String = {
    val step =
      """CASE WHEN substring(hx,pos,4) IN ('FFC0','FFC1','FFC2') THEN pos
       WHEN substring(hx,pos,2) = 'FF' AND len(hx) >= pos+7
         THEN pos + 4 + 2*CAST('0x' || substring(hx,pos+4,4) AS INT)
       ELSE pos END"""
    "p0 AS (SELECT *, 5 AS pos FROM mh),\n" +
      (1 to 8).map(i =>
        s"p$i AS (SELECT * REPLACE(($step) AS pos) FROM p${i - 1})")
        .mkString(",\n")
  }

  // The BMP thumbnails' decoded luma, one row per pixel
  // (media_id,[fmt,] w, h, x, y, l) — twin of Multimodal's BMP
  // synthesizer; `fmtCol` optionally tags the rows.
  private def bmpLumaSelect(fmtCol: String): String =
    s"""SELECT doc_id AS media_id,$fmtCol
         CAST(doc_id % 16 + 1 AS INT) AS w,
         CAST((doc_id * 7) % 12 + 1 AS INT) AS h,
         i % (doc_id % 16 + 1) AS x, i // (doc_id % 16 + 1) AS y,
         299 * ((9 * doc_id + 13 * (i % (doc_id % 16 + 1))
                 + (i // (doc_id % 16 + 1))) % 256)
       + 587 * ((5 * doc_id + (i % (doc_id % 16 + 1))
                 + 11 * (i // (doc_id % 16 + 1))) % 256)
       + 114 * ((doc_id + 3 * (i % (doc_id % 16 + 1))
                 + 7 * (i // (doc_id % 16 + 1))) % 256) AS l
  FROM documents,
       unnest(range(0, (doc_id % 16 + 1) * ((doc_id * 7) % 12 + 1))) t(i)"""

  // ... and their 16-cell block-mean embeddings `vecs(media_id, <v>)`.
  private def bmpVecsCtes(v: String): String =
    s"""px AS (
  ${bmpLumaSelect("")}),
mv AS (
  SELECT media_id, ((y * 4) // h) * 4 + (x * 4) // w AS cell,
         sum(l) // count(*) AS v
  FROM px GROUP BY media_id, ((y * 4) // h) * 4 + (x * 4) // w),
vecs AS (
  SELECT d.media_id, list(COALESCE(mv.v, 0)::DOUBLE ORDER BY d.i) AS $v
  FROM (SELECT DISTINCT px.media_id, t.i
        FROM px, unnest(range(0, 16)) t(i)) d
  LEFT JOIN mv ON mv.media_id = d.media_id AND mv.cell = d.i
  GROUP BY d.media_id)"""

  // --- VP8 DC-only keyframes (twin of Vp8Codec.encodeDcOnly's closed
  //     form): the dequant table, the per-doc geometry `d` (plus
  //     `extraDims`), the per-MB token adds pivoted per frame
  //     (`frameCols` = the extra frame keys, empty for stills), the DC
  //     prediction chain, and MB k's reconstructed value. ---
  private lazy val vp8DcqCte: String = {
    val dcq = graft.ext.Vp8Tables.dcQLookup.zipWithIndex
      .map { case (q, i) => s"($i,$q)" }.mkString(",")
    s"dcq(i, q) AS (SELECT * FROM (VALUES $dcq) t(i, q))"
  }

  private def vp8DimsCte(extraDims: String): String =
    s"""d AS (
  SELECT doc_id, CAST(doc_id % 37 + 1 AS INT) AS w,
         CAST((3 * doc_id) % 29 + 1 AS INT) AS h,
         CAST(doc_id % 128 AS INT) AS qi,
         CAST((doc_id % 37 + 16) // 16 AS INT) AS mw,
         CAST(((3 * doc_id) % 29 + 16) // 16 AS INT) AS mh$extraDims
  FROM documents)"""

  private def vp8PivCte(frameCols: String): String = {
    val maxes = for (c <- Seq("y", "u", "v"); k <- 0 to 5)
      yield s"max(CASE WHEN k = $k THEN ${c}add END) AS ${c}a$k"
    s"""piv AS (
  SELECT doc_id, w, h, mw, mh, mw * mh AS nmb$frameCols,
         ${maxes.mkString(",\n         ")}
  FROM tok GROUP BY doc_id, w, h, mw, mh$frameCols)"""
  }

  private def vp8ChainCte(frameCols: String): String = {
    def chain(c: String) =
      s"""GREATEST(0, LEAST(255, 128 + ${c}a0)) AS ${c}m0,
    GREATEST(0, LEAST(255, ${c}m0 + ${c}a1)) AS ${c}m1,
    GREATEST(0, LEAST(255,
      CASE WHEN mw = 2 THEN ${c}m0 ELSE ${c}m1 END + ${c}a2)) AS ${c}m2,
    GREATEST(0, LEAST(255, CASE WHEN mw = 2
      THEN (${c}m1 + ${c}m2 + 1) // 2 ELSE ${c}m0 END + ${c}a3)) AS ${c}m3,
    GREATEST(0, LEAST(255, (${c}m1 + ${c}m3 + 1) // 2 + ${c}a4)) AS ${c}m4,
    GREATEST(0, LEAST(255, (${c}m2 + ${c}m4 + 1) // 2 + ${c}a5)) AS ${c}m5"""
    s"""chain AS (
  SELECT doc_id, w, h, mw, mh, nmb$frameCols,
    ${Seq("y", "u", "v").map(chain).mkString(",\n    ")}
  FROM piv)"""
  }

  private def vp8MbValue(c: String): String =
    (0 to 4).map(k => s"WHEN $k THEN ${c}m$k")
      .mkString("CASE tk.k ", " ", s" ELSE ${c}m5 END")

  // --- DC-only Motion-JPEG frames (twin of Multimodal.dcOnlyJpeg): the
  //     per-doc block grid `d` (plus `extraDims`), each 8x8 block's DC
  //     chain sum `blk`, and each frame's flat tiles `v` (gv, with pw
  //     the closed-form pixel-weight sum of the tile). ---
  private def mjpegBlkCtes(extraDims: String): String =
    s"""d AS (
  SELECT doc_id, CAST(doc_id % 3 + 1 AS INT) AS wb,
         CAST(2 - doc_id % 2 AS INT) AS hb,
         CAST(doc_id % 5 + 2 AS INT) AS nf$extraDims
  FROM documents),
blk AS (
  SELECT doc_id, wb, hb, nf, j,
         sum(CASE WHEN (doc_id + j) % 2 = 0
                  THEN 8 + (doc_id * 7 + j * 3) % 8
                  ELSE -(8 + (doc_id * 7 + j * 3) % 8) END)
           OVER (PARTITION BY doc_id ORDER BY j) AS s
  FROM d, unnest(range(0, wb * hb)) AS t(j))"""

  private def mjpegTilesCte(note: String): String =
    s"""v AS (
  ${note}SELECT doc_id, wb, hb, nf, ff.f::INT AS f,
         128 + CASE WHEN doc_id % 2 = 0 AND ff.f >= nf // 2
                    THEN -s ELSE s END AS gv,
         64 * (8 * (j // wb) * (8 * wb) + 8 * (j % wb) + 1)
           + 224 * (8 * wb + 1) AS pw
  FROM blk, unnest(range(0, nf)) AS ff(f))"""

  // The MJPEG video features (AVI and MP4 containers carry the same frames).
  private def mjpegFeaturesSql(note: String): String =
    s"""WITH ${mjpegBlkCtes("")},
${mjpegTilesCte(note)}
SELECT doc_id AS media_id, CAST(8 * wb AS INT) AS width,
       CAST(8 * hb AS INT) AS height, nf::BIGINT AS n_frames,
       sum(64000 * gv)::BIGINT AS luma_milli,
       sum((f + 1) * 6 * gv * pw)::BIGINT AS checksum
FROM v GROUP BY doc_id, wb, hb, nf ORDER BY media_id"""

  // Shot cuts from per-frame aHash luma samples `lm(doc_id, nf, f, bit,
  // l)`: bit set where the sample beats the frame mean, a cut where
  // adjacent frames' hamming exceeds 3.
  private lazy val aHashCutsSql: String =
    """tt AS (SELECT doc_id, f, sum(l)::BIGINT AS s FROM lm GROUP BY doc_id, f),
fp AS (SELECT lm.doc_id, lm.nf, lm.f,
              bit_or(CASE WHEN lm.l * 64 > tt.s
                          THEN CAST(1 AS UBIGINT) << lm.bit::INT
                          ELSE CAST(0 AS UBIGINT) END) AS fp
       FROM lm JOIN tt ON tt.doc_id = lm.doc_id AND tt.f = lm.f
       GROUP BY lm.doc_id, lm.nf, lm.f),
adj AS (SELECT doc_id, nf, f, fp,
               lag(fp) OVER (PARTITION BY doc_id ORDER BY f) AS pv
        FROM fp)
SELECT doc_id AS media_id, max(nf)::BIGINT AS n_frames,
       sum(CASE WHEN pv IS NOT NULL AND bit_count(xor(pv, fp)) > 3
                THEN 1 ELSE 0 END)::BIGINT AS n_cuts,
       max(CASE WHEN pv IS NULL THEN 0
                ELSE bit_count(xor(pv, fp)) END)::INT AS max_adj_hamming
FROM adj GROUP BY doc_id ORDER BY media_id"""

  // --- still-image pixel replays (twins of Multimodal's synthesizers):
  //     the per-doc pixel grid `px(doc_id, w, h, x, y[, extraCols])` of a
  //     w x h image, and the RGB feature row over `v(r, g, b, pw)` with
  //     pw = y*w + x + 1 the checksum's pixel weight. ---
  private def pixelGridCtes(w: String, h: String, extraCols: String)
  : String =
    s"""dms AS (
  SELECT doc_id, CAST($w AS INT) AS w,
         CAST($h AS INT) AS h
  FROM documents),
px AS (
  SELECT doc_id, w, h, i % w AS x, i // w AS y$extraCols
  FROM dms, unnest(range(0, w * h)) AS t(i))"""

  private lazy val rgbFeaturesSql: String =
    """SELECT doc_id AS media_id, w AS width, h AS height,
       (w * h)::BIGINT AS n_px,
       sum(r)::BIGINT AS sum_r, sum(g)::BIGINT AS sum_g,
       sum(b)::BIGINT AS sum_b,
       sum(299 * r + 587 * g + 114 * b)::BIGINT AS luma_milli,
       sum(pw * (r + 2 * g + 3 * b))::BIGINT AS checksum
FROM v GROUP BY doc_id, w, h ORDER BY media_id"""

  // ... and its one-gray-value-per-pixel twin over `v(gv, pw)`.
  private lazy val grayFeaturesSql: String =
    """SELECT doc_id AS media_id, w AS width, h AS height,
       (w * h)::BIGINT AS n_px,
       sum(gv)::BIGINT AS sum_r, sum(gv)::BIGINT AS sum_g,
       sum(gv)::BIGINT AS sum_b,
       sum(1000 * gv)::BIGINT AS luma_milli,
       sum(pw * 6 * gv)::BIGINT AS checksum
FROM v GROUP BY doc_id, w, h ORDER BY media_id"""

  // The uncompressed-DIB AVI frames (twin of Multimodal.mediaAviDib):
  // per-doc geometry `d` (plus `extraDims`) and each frame pixel's
  // B,G,R with its (f+1)-weighted checksum weight `wgt`.
  private def aviDibCtes(extraDims: String): String =
    s"""d AS (
  SELECT doc_id, CAST(doc_id % 8 + 1 AS INT) AS w,
         CAST((doc_id * 3) % 6 + 1 AS INT) AS h,
         CAST(doc_id % 5 + 2 AS INT) AS nf$extraDims
  FROM documents),
px AS (SELECT doc_id, w, h, nf, ff.f::INT AS f,
              t.j % w AS x, t.j // w AS y
       FROM d, unnest(range(0, nf)) AS ff(f),
            unnest(range(0, w * h)) AS t(j)),
v AS (SELECT doc_id, w, h, nf,
             (doc_id + f + 3 * x + 7 * y) % 256 AS b,
             (5 * doc_id + 2 * f + x + 11 * y) % 256 AS g,
             (9 * doc_id + 3 * f + 13 * x + y) % 256 AS r,
             (f + 1) * (y * w + x + 1) AS wgt
      FROM px)"""

  // DC-only baseline JPEG stills (twin of Multimodal.mediaJpeg): flat
  // 8x8 tiles whose values are the DC prediction chain's window sum —
  // shared by the baseline and progressive encodings.
  private lazy val jpegFeaturesSql: String =
    s"""WITH dms AS (
  SELECT doc_id, CAST(doc_id % 3 + 1 AS INT) AS wb,
         CAST((doc_id * 5) % 2 + 1 AS INT) AS hb
  FROM documents),
blocks AS (
  SELECT doc_id, wb, hb, i AS bi,
         (CASE WHEN (doc_id + i) % 2 = 0 THEN 1 ELSE -1 END)
           * (8 + (doc_id * 7 + i * 3) % 8) AS diff
  FROM dms, unnest(range(0, wb * hb)) AS t(i)),
dcs AS (
  SELECT doc_id, bi,
         sum(diff) OVER (PARTITION BY doc_id ORDER BY bi) + 128 AS gv
  FROM blocks),
px AS (
  SELECT doc_id, wb, hb, 8 * wb AS w, 8 * hb AS h,
         i % (8 * wb) AS x, i // (8 * wb) AS y
  FROM dms, unnest(range(0, 64 * wb * hb)) AS t(i)),
v AS (
  SELECT p.doc_id, p.w, p.h, d.gv, p.y * p.w + p.x + 1 AS pw
  FROM px p JOIN dcs d
    ON d.doc_id = p.doc_id AND d.bi = (p.y // 8) * p.wb + (p.x // 8))
$grayFeaturesSql"""

  // The VP8L run-rich pixels, shared by the runs and palette encodings.
  private lazy val webplRunsSql: String =
    s"""WITH ${pixelGridCtes("doc_id % 6 + 3", "(doc_id * 7) % 5 + 2",
      ", (doc_id + i // 4) % 3 AS c, i")},
v AS (
  SELECT doc_id, w, h,
         (doc_id * 5 + c * 77) % 256 AS r,
         (doc_id * 3 + c * 113) % 256 AS g,
         (doc_id * 11 + c * 41) % 256 AS b,
         y * w + x + 1 AS pw
  FROM px)
$rgbFeaturesSql"""

  // shared by media_embedding (the batch operator) and
  // media_embedding_materialized (the STREAMED table) — identical
  // bytes through the identical decode gate, so one oracle serves both
  private lazy val mediaEmbeddingSql: String = s"""WITH px AS (
  ${bmpLumaSelect(" 'bmp' AS fmt,")}
  UNION ALL
  SELECT doc_id + 100000000000, 'pgm',
         CAST(doc_id % 13 + 1 AS INT),
         CAST((doc_id * 5) % 11 + 1 AS INT),
         i % (doc_id % 13 + 1), i // (doc_id % 13 + 1),
         1000 * ((3 * doc_id + 5 * (i % (doc_id % 13 + 1))
                  + 11 * (i // (doc_id % 13 + 1))) % 256)
  FROM documents,
       unnest(range(0, (doc_id % 13 + 1) * ((doc_id * 5) % 11 + 1))) t(i)
  UNION ALL
  SELECT doc_id + 200000000000, 'gif',
         CAST(doc_id % 9 + 1 AS INT),
         CAST((doc_id * 7) % 5 + 1 AS INT),
         i % (doc_id % 9 + 1), i // (doc_id % 9 + 1),
         299 * ((7 * ((3 * doc_id + 5 * (i % (doc_id % 9 + 1))
                       + 11 * (i // (doc_id % 9 + 1))) % 128)) % 256)
       + 587 * ((5 * ((3 * doc_id + 5 * (i % (doc_id % 9 + 1))
                       + 11 * (i // (doc_id % 9 + 1))) % 128)) % 256)
       + 114 * ((3 * ((3 * doc_id + 5 * (i % (doc_id % 9 + 1))
                       + 11 * (i // (doc_id % 9 + 1))) % 128)) % 256)
  FROM documents,
       unnest(range(0, (doc_id % 9 + 1) * ((doc_id * 7) % 5 + 1))) t(i)
  UNION ALL
  SELECT doc_id + 300000000000, 'png',
         CAST(doc_id % 7 + 1 AS INT),
         CAST((doc_id * 3) % 6 + 1 AS INT),
         i % (doc_id % 7 + 1), i // (doc_id % 7 + 1),
         299 * ((7 * doc_id + 5 * (i % (doc_id % 7 + 1))
                 + 11 * (i // (doc_id % 7 + 1))) % 256)
       + 587 * ((3 * doc_id + 13 * (i % (doc_id % 7 + 1))
                 + 2 * (i // (doc_id % 7 + 1))) % 256)
       + 114 * ((doc_id + (i % (doc_id % 7 + 1))
                 + 17 * (i // (doc_id % 7 + 1))) % 256)
  FROM documents,
       unnest(range(0, (doc_id % 7 + 1) * ((doc_id * 3) % 6 + 1))) t(i)
  UNION ALL
  SELECT j.media_id, 'jpeg', j.w, j.h, j.x, j.y, 1000 * j.gv
  FROM (
    WITH dms AS (
      SELECT doc_id, CAST(doc_id % 3 + 1 AS INT) AS wb,
             CAST((doc_id * 5) % 2 + 1 AS INT) AS hb
      FROM documents),
    dcs AS (
      SELECT doc_id, wb, hb, i AS bi,
             sum((CASE WHEN (doc_id + i) % 2 = 0 THEN 1 ELSE -1 END)
                 * (8 + (doc_id * 7 + i * 3) % 8))
               OVER (PARTITION BY doc_id ORDER BY i) + 128 AS gv
      FROM dms, unnest(range(0, wb * hb)) AS t(i)),
    jp AS (
      SELECT doc_id, wb, hb, 8 * wb AS w, 8 * hb AS h,
             i % (8 * wb) AS x, i // (8 * wb) AS y
      FROM dms, unnest(range(0, 64 * wb * hb)) AS t(i))
    SELECT p.doc_id + 400000000000 AS media_id,
           CAST(p.w AS INT) AS w, CAST(p.h AS INT) AS h, p.x, p.y, c.gv
    FROM jp p JOIN dcs c
      ON c.doc_id = p.doc_id AND c.bi = (p.y // 8) * p.wb + (p.x // 8)) j),
mv AS (
  SELECT media_id, fmt, ((y * 4) // h) * 4 + (x * 4) // w AS cell,
         sum(l) // count(*) AS v
  FROM px GROUP BY media_id, fmt, ((y * 4) // h) * 4 + (x * 4) // w),
dims AS (
  SELECT media_id, fmt, t.i
  FROM (SELECT DISTINCT media_id, fmt FROM px), unnest(range(0, 16)) t(i))
SELECT d.media_id, d.fmt, d.i::INT AS i, COALESCE(mv.v, 0)::BIGINT AS v
FROM dims d LEFT JOIN mv ON mv.media_id = d.media_id AND mv.cell = d.i
ORDER BY d.media_id, d.i"""

  // shared by media_embedding_topk (computed in-plan) and its
  // serving twin media_embedding_topk_served (probing the MediaSink
  // table) - identical vectors, identical ranks, one oracle
  private lazy val mediaTopkSql: String = s"""WITH ${bmpVecsCtes("v")},
n AS (SELECT media_id AS vec_id, v,
             sqrt(${dot16Sql("v", "v")}) AS nrm
      FROM vecs WHERE (${dot16Sql("v", "v")}) > 0),
q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM n WHERE vec_id < 8),
s AS (SELECT q.q_id, n.vec_id,
             (${dot16Sql("qv", "v")}) / (q.qn * n.nrm) AS sim
      FROM q JOIN n ON n.vec_id <> q.q_id),
${top10Sql("s")}"""

  // media_embedding_topk_ann: the same media vectors through the
  // persisted frozen-codebook IVF index (AnnIndex over the MediaSink
  // serving table) — the q8 chain of ivfQ8Sql re-based onto the media
  // vecs CTEs at their 16 dims.
  private lazy val mediaAnnSql: String = s"""WITH ${bmpVecsCtes("v0")},
e0 AS (SELECT media_id AS vec_id, v0 FROM vecs
       WHERE list_aggregate(v0, 'sum') > 0),
sc AS (SELECT greatest(max(list_aggregate(list_transform(v0, x -> abs(x)),
  'max')), 4.9e-324) AS s FROM e0),
e AS (SELECT vec_id, list_transform(v0, x -> floor(x * 127.0 / s + 0.5)) AS v
      FROM e0 CROSS JOIN sc),
n AS (SELECT vec_id, v, sqrt(${dot16Sql("v", "v")}) AS nrm FROM e),
${ivfCellCtes(dot16Sql)},
${ivfProbeCtes(dot16Sql, 8, "qv", "sx")},
${top10Sql("sx")}"""

  // ------------------------------------------------------------ web tier
  // DuckDB twins of graft.ext.WebCodec's synth + extraction formulas.
  // Keep in LOCKSTEP with WebCodec.{buildHtml,buildUrl,buildRequest,
  // buildResponse,extractTextCol,titleCol,urlParts,i18nPhrases}.
  // Since r16 the corpus carries a NON-ASCII axis (i18n phrases with
  // literal multi-byte text + numeric character references) and the
  // replays are CODEPOINT-indexed: DuckDB's length()/substr()/ascii()
  // all operate on codepoints, exactly matching Spark's length()/
  // substring() over UTF8String and the JVM twins' codePoint walks.
  // strlen() appears ONLY where wire BYTES are meant (UTF-8 byte
  // lengths — DuckDB strings are UTF-8, so strlen IS the encoded size).

  // the six i18n phrases — verbatim twins of WebCodec.i18nPhrases
  // (r17: named entity refs planted beside the numeric ones)
  private val webI18nCase = {
    val p = graft.ext.WebCodec.i18nPhrases.map(_.replace("'", "''"))
    s"""CASE WHEN doc_id % 5 = 2 THEN
      (CASE WHEN doc_id % 2 = 0 THEN '${p(0)}'
            ELSE '${p(1)}' END)
    ELSE
      (CASE WHEN doc_id % 6 = 0 THEN '${p(0)}'
            WHEN doc_id % 6 = 1 THEN '${p(1)}'
            WHEN doc_id % 6 = 2 THEN '${p(2)}'
            WHEN doc_id % 6 = 3 THEN '${p(3)}'
            WHEN doc_id % 6 = 4 THEN '${p(4)}'
            ELSE '${p(5)}' END)
    END"""
  }

  private val webHtmlExpr =
    s"""'<html><head><title>Doc ' || doc_id::VARCHAR || ' [' || source || ']</title>'
    || '<base href="https://www.' || source || '.example'
    || (doc_id % 7)::VARCHAR || '.com/rel/">'
    || (CASE WHEN doc_id % 7 = 5 AND doc_id % 2 = 0 THEN ''
        WHEN doc_id % 3 = 0 THEN
          '<meta http-equiv="Content-Type" content="text/html; charset=' ||
          (CASE WHEN doc_id % 5 = 2 THEN
             (CASE WHEN doc_id % 10 = 2 THEN 'windows-1252'
                   ELSE 'iso-8859-1' END)
           ELSE 'utf-8' END) || '">'
        ELSE '<meta charset="' ||
          (CASE WHEN doc_id % 5 = 2 THEN
             (CASE WHEN doc_id % 10 = 2 THEN 'windows-1252'
                   ELSE 'iso-8859-1' END)
           ELSE 'utf-8' END) || '">' END)
    || '<style>body {color: red;}</style>'
    || '<script>var u = "x < y && z > 0";</script></head><body>'
    || '<nav><a href="/home">Home</a> <a href="/about">About</a></nav>'
    || '<!-- <div class="legacy">retired navigation copy for doc '
    || doc_id::VARCHAR || '</div> <p>draft ' || doc_id::VARCHAR
    || '</p> <a href="/ghost/' || doc_id::VARCHAR || '"></a> -->'
    || '<h1>' || source || ' #' || doc_id::VARCHAR || '</h1>'
    || '<p class="main">' || replace(replace(replace(text, '&', '&amp;'), '<', '&lt;'), '>', '&gt;') || '</p>'
    || '<p>lang=&quot;' || lang || '&quot; &amp; id=&#39;' || doc_id::VARCHAR || '&#39;</p>'
    || '<p class="i18n">' || ($webI18nCase) || '</p>'
    || '<div class="links"><a href="/t/0">tag zero</a> <a href="/t/1">tag one</a> <a href="/t/2">tag two</a> '
    || '<a href="next/' || (doc_id % 5)::VARCHAR
    || (CASE WHEN doc_id % 2 = 0 THEN '.tmp' ELSE '.html' END)
    || '"></a> <a href="https://www.zürich.example'
    || ((doc_id + 3) % 7)::VARCHAR || '.com/promo/'
    || (doc_id % 9)::VARCHAR
    || '"></a> <a href="HTTPS://www.' || source || '.Example'
    || (doc_id % 7)::VARCHAR || '.COM:443/docs/' || doc_id::VARCHAR
    || '?lang=' || lang || '&amp;ref=feed&amp;utm_source=plantednav#top"></a></div>'
    || '<footer>site footer</footer></body></html>'"""

  /** Charset / Content-Encoding / transfer / BOM axes — twins of
    * WebCodec.{charsetOf,contentCoding,bomAxis,metaOmitsCharset} and the
    * id%4 framing pick. */
  // the DECLARED label (Content-Type param / meta tag content)
  private val webCharsetCase =
    """CASE WHEN doc_id % 5 = 2 THEN
         (CASE WHEN doc_id % 10 = 2 THEN 'windows-1252'
               ELSE 'iso-8859-1' END)
       ELSE 'utf-8' END"""
  private val webCeCase =
    """CASE WHEN doc_id % 5 = 3 THEN 'gzip'
       WHEN doc_id % 5 = 4 THEN 'deflate' ELSE 'identity' END"""
  private val webTransferCase =
    "CASE WHEN doc_id % 4 = 1 THEN 'chunked' ELSE 'identity' END"
  // WHATWG resolution order: BOM (id%7==2 utf-8-wire docs) → header →
  // meta (header omits the param on id%7∈{2,5}) → sniff (id%7==5 even
  // docs omit the meta tag too) — twin of WebCodec.resolveCharset over
  // the synth axes
  private val webCharsetSrcCase =
    """CASE WHEN doc_id % 7 = 2 AND doc_id % 5 <> 2 THEN 'bom'
       WHEN doc_id % 7 = 5 AND doc_id % 2 = 0 THEN 'sniff'
       -- r18 MIME axis: text/plain has no meta tag to fall back to
       WHEN doc_id % 9 = 3 AND doc_id % 7 IN (2, 5) THEN 'sniff'
       WHEN doc_id % 7 IN (2, 5) THEN 'meta'
       ELSE 'header' END"""
  // the RESOLVED charset column: 'utf-8' from a BOM, '' when sniffed,
  // the declared label otherwise
  private val webCharsetResolvedCase =
    s"""CASE WHEN doc_id % 7 = 2 AND doc_id % 5 <> 2 THEN 'utf-8'
       WHEN doc_id % 7 = 5 AND doc_id % 2 = 0 THEN ''
       WHEN doc_id % 9 = 3 AND doc_id % 7 IN (2, 5) THEN ''
       ELSE ($webCharsetCase) END"""
  // whether the entity carries the 3-byte UTF-8 BOM signature
  private val webBomCase =
    "CASE WHEN doc_id % 7 = 2 AND doc_id % 5 <> 2 THEN 3 ELSE 0 END"

  private val webUrlExpr =
    """'https://WWW.' || source || '.Example' || (doc_id % 7)::VARCHAR
    || '.COM:443/docs/' || doc_id::VARCHAR || '?lang=' || lang
    || '&ref=feed#sec-' || (doc_id % 5)::VARCHAR"""

  /** The 3xx stub entity (twin of WebCodec.redirectBody) and the
    * redirect-axis predicate — shared by every oracle that replays the
    * r17 redirect fetch rows. */
  private val webRedirectStubSql =
    """'<html><body>Moved to /docs/' || doc_id::VARCHAR || '</body></html>'"""

  // ------------------------------------------------------------------
  // r18 fetch-outcome axes — twins of WebCodec.{deadAxis,errorStatus,
  // errorBody,retryAxis,retryAfterOf,retryBody,chainAxis,loopAxis,
  // warcDateOf} and the chain's IDN host pair
  // ------------------------------------------------------------------
  private val webErrorStatusSql =
    "CASE WHEN doc_id % 2 = 0 THEN 410 ELSE 404 END"
  private val webErrorStubSql =
    s"""'<html><body>Error ' || ($webErrorStatusSql)::VARCHAR ||
      ' for /docs/' || doc_id::VARCHAR || '</body></html>'"""
  private val webRetryStubSql =
    """'<html><body>Busy, retry /docs/' || doc_id::VARCHAR
      || '</body></html>'"""
  private val webRetryAfterSql = "(doc_id % 5 + 1) * 30"
  /** TRUNCATED-capture axis predicate + the received-prefix decode —
    * twins of WebCodec.{truncAxis,truncatedHtml}. */
  private val webTruncWhere =
    "doc_id % 18 = 1 AND doc_id % 4 <> 1 AND doc_id % 5 < 3"
  /** MIME axis — twin of WebCodec.mimeAxis: text/plain captures whose
    * entity is the document's raw text. */
  private val webMimeWhere = "doc_id % 9 = 3"
  private val webMimeCase =
    "CASE WHEN doc_id % 9 = 3 THEN 'text/plain' ELSE 'text/html' END"
  private def webTruncHtml(h: String): String =
    s"""CASE WHEN $webTruncWhere THEN
      substr($h, 1, ((length($h) + 1) // 2)::INT) ELSE $h END"""
  // the doc's own host (lowercased, as urlParts derives it)
  private val webHostSql = """'www.' || lower(source) || '.example'
      || (doc_id % 7)::VARCHAR || '.com'"""
  // the r17 redirect alias Location (relative on even ids, messy
  // absolute on odd)
  private val webRedirectLocSql =
    """CASE WHEN doc_id % 2 = 0 THEN
         '/docs/' || doc_id::VARCHAR || '?lang=' || lang || '&ref=feed'
       ELSE
         'HTTPS://www.' || source || '.example' || (doc_id % 7)::VARCHAR
           || '.com:443/docs/' || doc_id::VARCHAR || '?lang=' || lang
           || '&ref=feed'
       END"""
  private val webChainFinalLocSql =
    """'HTTPS://www.' || source || '.example' || (doc_id % 7)::VARCHAR
      || '.com:443/docs/' || doc_id::VARCHAR || '?lang=' || lang
      || '&ref=feed'"""

  /** EVERY response record's logical fetch row — (doc_id, lang, source,
    * html, hst, uri, loc, host) — the r18 union all wire-replay oracles
    * build on: 200 captures (no dead docs), 404/410 dead fetches,
    * the r17 301 alias pair, 503 retry attempts, the 2-hop chain
    * (with the punycode /h1 capture host), and the A→B→A loop pair.
    * Twin of the response records WebCodec.buildWarcFile emits. */
  private lazy val webFetchRowsSql: String =
    s"""SELECT doc_id, lang, source,
         CASE WHEN $webMimeWhere THEN text
              ELSE ${webTruncHtml(webHtmlExpr)} END AS html,
         CAST(200 AS INT) AS hst, $webUrlExpr AS uri, '' AS loc,
         $webHostSql AS host, $webMimeCase AS mime
       FROM documents WHERE doc_id % 9 <> 7
     UNION ALL
       SELECT doc_id, lang, source, $webErrorStubSql,
         CAST($webErrorStatusSql AS INT), $webUrlExpr, '', $webHostSql,
         'text/html'
       FROM documents WHERE doc_id % 9 = 7
     UNION ALL
       SELECT doc_id, lang, source, $webRedirectStubSql, CAST(301 AS INT),
         'https://www.' || source || '.example' || (doc_id % 7)::VARCHAR
           || '.com/r/' || doc_id::VARCHAR,
         $webRedirectLocSql, $webHostSql, 'text/html'
       FROM documents WHERE doc_id % 9 = 4
     UNION ALL
       SELECT doc_id, lang, source, $webRetryStubSql, CAST(503 AS INT),
         $webUrlExpr, '', $webHostSql, 'text/html'
       FROM documents WHERE doc_id % 9 = 8
     UNION ALL
       SELECT doc_id, lang, source,
         '<html><body>Moved to /h1/' || doc_id::VARCHAR
           || '</body></html>',
         CAST(302 AS INT),
         'https://www.' || source || '.example' || (doc_id % 7)::VARCHAR
           || '.com/h2/' || doc_id::VARCHAR,
         'https://www.zürich.example' || (doc_id % 7)::VARCHAR
           || '.com/h1/' || doc_id::VARCHAR,
         $webHostSql, 'text/html'
       FROM documents WHERE doc_id % 9 = 2
     UNION ALL
       SELECT doc_id, lang, source, $webRedirectStubSql, CAST(301 AS INT),
         'https://www.xn--zrich-kva.example' || (doc_id % 7)::VARCHAR
           || '.com/h1/' || doc_id::VARCHAR,
         $webChainFinalLocSql,
         'www.xn--zrich-kva.example' || (doc_id % 7)::VARCHAR || '.com',
         'text/html'
       FROM documents WHERE doc_id % 9 = 2
     UNION ALL
       SELECT doc_id, lang, source,
         '<html><body>Moved to /lb/' || doc_id::VARCHAR
           || '</body></html>',
         CAST(301 AS INT),
         'https://www.' || source || '.example' || (doc_id % 7)::VARCHAR
           || '.com/la/' || doc_id::VARCHAR,
         '/lb/' || doc_id::VARCHAR, $webHostSql, 'text/html'
       FROM documents WHERE doc_id % 9 = 5
     UNION ALL
       SELECT doc_id, lang, source,
         '<html><body>Moved to /la/' || doc_id::VARCHAR
           || '</body></html>',
         CAST(301 AS INT),
         'https://www.' || source || '.example' || (doc_id % 7)::VARCHAR
           || '.com/lb/' || doc_id::VARCHAR,
         '/la/' || doc_id::VARCHAR, $webHostSql, 'text/html'
       FROM documents WHERE doc_id % 9 = 5"""

  /** RFC 3986 §6 canonicalization + tracking-param strip over URL
    * expression `u` — DuckDB twin of
    * stripTrackingParamsCol(urlCanonicalCol(…)) on the planted link
    * inventory (no %-triplets or dot segments occur in it, so
    * pctNorm/dotSegRemove are identity and elided). */
  private def webUrlCanonSql(u: String): String = {
    val keptQs = s"""array_to_string(list_filter(string_split(
        regexp_extract(regexp_replace($u, '#.*$$', ''), '\\?([^#]*)', 1),
        '&'),
        x -> NOT regexp_matches(x,
          '^(utm_[a-z0-9_]+|gclid|fbclid|msclkid)=')), '&')"""
    s"""(lower(regexp_extract($u, '^([A-Za-z]+)://', 1)) || '://'
      || regexp_replace(
           lower(regexp_extract($u, '^[A-Za-z]+://([^/?#]+)', 1)),
           ':443$$', '')
      || regexp_extract(regexp_replace($u, '#.*$$', ''),
           '^[A-Za-z]+://[^/?#]+([^?#]*)', 1)
      || (CASE WHEN ($keptQs) = '' THEN ''
               ELSE '?' || ($keptQs) END))"""
  }

  /** Per-link CTE chain for the r19 outlink tier: build each eligible
    * page (200 text/html captures only — dead and text/plain docs are
    * excluded; TRUNCATED captures contribute whatever complete anchors
    * their stored prefix retains), strip comments FIRST (the /ghost/
    * anchor must not surface), extract `<a href>`s in document order,
    * decode the &amp;-escaped attribute form, resolve against the
    * page's `<base href>` per RFC 3986 §5 (page URL fallback), fold
    * the one planted unicode IDN label (the java.net.IDN-pinned pair),
    * canonicalize + strip tracking, and evaluate the domain's robots
    * rules for the canonical PATH (the decision-table twin of
    * WebCodec.buildRobots, extended beyond /docs/ to the planted
    * /rel/next (.tmp hits the *.tmp$ wildcard) and /promo paths).
    * `ofetched` is the
    * canonicalized target of EVERY capture — the frontier dedup set. */
  private lazy val webOutlinkCtesSql: String =
    s"""opg AS (SELECT doc_id, lang, source, (doc_id % 7) AS k,
         ${webTruncHtml(webHtmlExpr)} AS html
       FROM documents WHERE doc_id % 9 <> 7 AND doc_id % 9 <> 3),
onc AS (SELECT doc_id, lang, source, k,
         regexp_replace(html, '<!--.*?-->', ' ', 'g') AS html_nc
        FROM opg),
olx AS (SELECT doc_id, lang, source, k,
         regexp_extract_all(html_nc, '<a href="([^"]*)"', 1) AS hrefs,
         regexp_extract(html_nc, '<base href="([^"]*)">', 1) AS base_href
        FROM onc),
ol AS (SELECT doc_id, u.i::INT AS link_index,
         replace(hrefs[u.i + 1], '&amp;', '&') AS href,
         CASE WHEN base_href <> '' THEN base_href
              ELSE 'https://WWW.' || source || '.Example' || k::VARCHAR
                || '.COM:443/docs/' || doc_id::VARCHAR || '?lang=' || lang
                || '&ref=feed#sec-' || (doc_id % 5)::VARCHAR
         END AS base_used
       FROM olx, unnest(range(0, len(hrefs))) AS u(i)),
ores AS (SELECT doc_id, link_index, href,
         CASE WHEN regexp_matches(href, '^[A-Za-z][A-Za-z0-9+.\\-]*:')
                THEN href
              WHEN href LIKE '//%' THEN
                lower(regexp_extract(base_used, '^([A-Za-z]+)://', 1))
                  || ':' || href
              WHEN href LIKE '/%' THEN
                regexp_extract(base_used, '^([A-Za-z]+://[^/?#]+)', 1)
                  || href
              WHEN href = '' THEN regexp_replace(base_used, '#.*$$', '')
              ELSE regexp_extract(base_used, '^([A-Za-z]+://[^/?#]+)', 1)
                || (CASE WHEN regexp_extract(
                        regexp_replace(base_used, '[?#].*$$', ''),
                        '^[A-Za-z]+://[^/?#]+(.*/)', 1) = ''
                      THEN '/'
                      ELSE regexp_extract(
                        regexp_replace(base_used, '[?#].*$$', ''),
                        '^[A-Za-z]+://[^/?#]+(.*/)', 1) END)
                || href
         END AS resolved
       FROM ol),
ocan AS (SELECT doc_id, link_index, href,
         ${webUrlCanonSql("replace(resolved, 'zürich', 'xn--zrich-kva')")}
           AS canonical
        FROM ores),
overd AS (SELECT doc_id, link_index, href, canonical,
         TRY_CAST(regexp_extract(
           regexp_extract(canonical, '^[a-z]+://([^/?#]+)', 1),
           'example([0-9]+)\\.com$$', 1) AS BIGINT) AS lk,
         regexp_extract(canonical,
           '^[a-z]+://[^/?#]+([^?#]*)', 1) AS cpath
        FROM ocan),
oa AS (SELECT doc_id, link_index, href, canonical, lk, cpath,
         CASE WHEN lk % 5 = 0 THEN NOT (cpath LIKE '/docs/9%')
              WHEN cpath LIKE '%.tmp' THEN FALSE
              WHEN cpath LIKE '/docs/%' THEN
                (CASE WHEN lk = 1 THEN FALSE
                      WHEN lk = 3 THEN NOT (cpath LIKE '%9')
                      WHEN lk = 4 THEN NOT (cpath LIKE '%7')
                      WHEN lk = 6 THEN NOT (cpath LIKE '%9')
                      ELSE TRUE END)
              ELSE TRUE END AS allowed,
         CASE WHEN lk % 5 = 0 THEN
                (CASE WHEN cpath LIKE '/docs/9%' THEN '/docs/9'
                      ELSE '' END)
              WHEN cpath LIKE '%.tmp' THEN '/*.tmp$$'
              WHEN cpath LIKE '/docs/%' THEN
                (CASE WHEN lk = 1 THEN
                        (CASE WHEN cpath LIKE '%7' THEN '/docs/*7$$'
                              ELSE '/docs/' END)
                      WHEN lk = 3 THEN
                        (CASE WHEN cpath LIKE '%9' THEN '/docs/*9$$'
                              ELSE '/docs/' END)
                      WHEN lk = 4 THEN
                        (CASE WHEN cpath LIKE '%7' THEN '/docs/*7$$'
                              ELSE '' END)
                      WHEN lk = 6 THEN
                        (CASE WHEN cpath LIKE '%9' THEN '/docs/*9$$'
                              ELSE '/docs/' END)
                      ELSE '' END)
              ELSE '' END AS matched_rule
       FROM overd),
ofetched AS (SELECT DISTINCT ${webUrlCanonSql("uri")} AS canonical
             FROM ($webFetchRowsSql))"""

  private lazy val webFrontierLinksSql: String =
    s"""WITH $webOutlinkCtesSql
SELECT oa.doc_id AS media_id, link_index, href, oa.canonical AS canonical,
  'example' || lk::VARCHAR || '.com' AS domain,
  (f.canonical IS NOT NULL) AS already_fetched,
  allowed, matched_rule
FROM oa LEFT JOIN ofetched f ON oa.canonical = f.canonical
ORDER BY media_id, link_index"""

  private lazy val webFrontierAllSql: String =
    s"""WITH $webOutlinkCtesSql
SELECT url, domain, via, n_sources, allowed, matched_rule FROM (
  SELECT 'https://www.example' || (doc_id % 7)::VARCHAR || '.com/docs/'
      || doc_id::VARCHAR AS url,
    'example' || (doc_id % 7)::VARCHAR || '.com' AS domain,
    'sitemap' AS via, 1::BIGINT AS n_sources,
    $robotsVerdictSql
  FROM documents
  UNION ALL
  SELECT oa.canonical, 'example' || lk::VARCHAR || '.com', 'link',
    count(DISTINCT oa.doc_id)::BIGINT, allowed, matched_rule
  FROM oa LEFT JOIN ofetched f ON oa.canonical = f.canonical
  WHERE f.canonical IS NULL
  GROUP BY oa.canonical, lk, allowed, matched_rule
) ORDER BY url"""

  /** Character reference decode over expression `x` — the DuckDB twin
    * of WebCodec.decodeEntitiesCol (r17: numeric AND named refs in ONE
    * left-to-right pass): the regex marks each ref as
    * chr(1) body chr(2), string_split on chr(1), and a scalar
    * list_transform rebuilds segments (a segment containing chr(2) is
    * "body chr(2) literalTail"). Numeric bodies keep their '#' prefix;
    * invalid codepoints (0, surrogates, > U+10FFFF) substitute U+FFFD
    * BEFORE chr() — DuckDB's chr() raises on those where the JVM/
    * Column twins emit U+FFFD (ADVICE r16). Named bodies map through
    * the generated WebCodec.namedEntities CASE; unknown names rebuild
    * literal. Stays a SCALAR expression (no explode) so it composes
    * inside any oracle CTE chain. */
  private lazy val webNamedEntityCase: String =
    "CASE split_part(seg, chr(2), 1) " +
      graft.ext.WebCodec.namedEntities.map { case (n, ch) =>
        s"WHEN '$n' THEN '${ch.replace("'", "''")}'"
      }.mkString(" ") +
      " ELSE '&' || split_part(seg, chr(2), 1) || ';' END"

  private def webEntitySql(x: String): String =
    s"""list_aggregate(list_transform(
      string_split(regexp_replace($x,
        '&(#x[0-9a-fA-F]{1,6}|#[0-9]{1,7}|[a-zA-Z][a-zA-Z0-9]{1,31});',
        chr(1) || '\\1' || chr(2), 'g'), chr(1)),
      seg -> CASE WHEN contains(seg, chr(2)) THEN
        (CASE WHEN substr(split_part(seg, chr(2), 1), 1, 1) = '#' THEN
          chr((CASE WHEN cp0 = 0 OR cp0 > 1114111
                      OR (cp0 BETWEEN 55296 AND 57343) THEN 65533
               ELSE cp0 END)::INT)
         ELSE $webNamedEntityCase END)
        || split_part(seg, chr(2), 2)
      ELSE seg END), 'string_agg', '')"""
      .replace("cp0",
        """(CASE WHEN substr(split_part(seg, chr(2), 1), 2, 1) = 'x'
          THEN ('0x' || substr(split_part(seg, chr(2), 1), 3))::BIGINT
          ELSE substr(split_part(seg, chr(2), 1), 2)::BIGINT END)""")

  /** The shared main-content CTE chain (documents → html → blocks →
    * link-density scoring → main body + gates), ending in table `g`
    * with (doc_id, host, http_status, body, n_blocks, n_kept,
    * boiler_chars, n_words, alpha_milli). ONE definition feeding both
    * web_pipeline_main and web_funnel — twin of WebCodec.pipelineMain
    * ∘ mainContentStruct. */
  private lazy val webMainChainSql =
    s"""h AS ($webFetchRowsSql),
b AS (SELECT doc_id, hst, uri, loc, host, mime,
        -- MIME routing (r18): block segmentation is an HTML concept;
        -- a text/plain capture has no blocks and passes through as a
        -- whitespace collapse
        CASE WHEN mime = 'text/plain' THEN trim(regexp_replace(html, '\\s+', ' ', 'g')) ELSE '' END AS plain_body,
        CASE WHEN mime = 'text/plain' THEN CAST([] AS VARCHAR[])
        ELSE regexp_extract_all(
        -- comments strip BEFORE block segmentation (r18): a commented
        -- <div>…</div> must not surface as a phantom block
        regexp_replace(html, '<!--.*?-->', ' ', 'g'),
        '(<p[^>]*>.*?</p>|<h1>.*?</h1>|<nav>.*?</nav>|<div[^>]*>.*?</div>|<footer>.*?</footer>)',
        1) END AS blocks FROM h),
s AS (SELECT doc_id, hst, uri, loc, host, mime, plain_body,
        len(blocks) AS nb,
        list_transform(blocks,
        blk -> struct_pack(
          btext := ${webExtractSql("blk")},
          ltext := coalesce(array_to_string(
            regexp_extract_all(blk, '<a [^>]*>([^<]*)</a>', 1), ' '), '')))
        AS ev FROM b),
k AS (SELECT doc_id, hst, uri, loc, host, mime, plain_body, nb,
        list_filter(ev, e -> length(e.btext) >= 15
          AND 2 * length(e.ltext) < length(e.btext)) AS keptl,
        list_filter(ev, e -> NOT (length(e.btext) >= 15
          AND 2 * length(e.ltext) < length(e.btext))) AS dropl
      FROM s),
m AS (SELECT doc_id, hst, uri, loc, host, nb, len(keptl) AS nk,
        CASE WHEN mime = 'text/plain' THEN plain_body
        ELSE coalesce(array_to_string(
          list_transform(keptl, e -> e.btext), ' '), '') END AS body,
        coalesce(list_aggregate(
          list_transform(dropl, e -> length(e.btext)), 'sum'), 0) AS bc
      FROM k),
g AS (SELECT doc_id, host,
        hst AS http_status, uri AS target_uri, loc AS location, body,
        nb::BIGINT AS n_blocks, nk::BIGINT AS n_kept, bc::BIGINT
          AS boiler_chars,
        len(string_split_regex(body, '\\s+'))::BIGINT AS n_words,
        CASE WHEN length(body) > 0 THEN
          (1000 * length(regexp_replace(body, '[^a-zA-Z ]', '', 'g')))
            // length(body)
        ELSE 0 END AS alpha_milli
      FROM m)"""

  /** comment removal (r18 — BEFORE tag-strip, which would otherwise
    * eat `<!-- <div>` up to the first `>` and leak the commented text)
    * → script/style removal → tag strip → ONE entity-decode pass
    * (numeric + named, single left-to-right scan, amp-no-double-decode
    * structural) → whitespace collapse → trim, over column expression
    * `h`. Twin of WebCodec.extractTextCol. */
  private def webExtractSql(h: String): String = {
    val stripped = s"""regexp_replace(regexp_replace(regexp_replace(
          regexp_replace($h, '<!--.*?-->', ' ', 'g'),
          '<script[^>]*>.*?</script>', ' ', 'g'),
          '<style[^>]*>.*?</style>', ' ', 'g'),
          '<[^>]*>', ' ', 'g')"""
    s"""trim(regexp_replace(
      ${webEntitySql(stripped)},
      '\\s+', ' ', 'g'))"""
  }

  private val webUrlPartsSql =
    """p AS (SELECT doc_id, regexp_replace(url, '#.*$', '', 'g') AS nofrag
           FROM u),
webq AS (SELECT doc_id,
    lower(regexp_extract(nofrag, '^([A-Za-z]+)://', 1)) AS scheme,
    regexp_replace(lower(regexp_extract(nofrag, '^[A-Za-z]+://([^/?#]+)', 1)),
                   ':443$', '', 'g') AS host,
    regexp_extract(nofrag, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1) AS path,
    regexp_extract(nofrag, '\?([^#]*)', 1) AS qs
  FROM p)"""

  // DuckDB twin of WebCodec.pipeline over the synth corpus — shared by
  // the batch query and the WebSink serving query (one code path, one
  // oracle). The gates floor identically in both engines (integer-milli
  // via BIGINT // BIGINT vs Spark's `div`).
  private lazy val webPipelineSql =
    s"""WITH hh AS ($webFetchRowsSql),
x AS (SELECT doc_id, hst, uri, loc, host,
        -- MIME routing (r18): text/plain collapses, HTML extracts
        CASE WHEN mime = 'text/plain' THEN trim(regexp_replace(html, '\\s+', ' ', 'g'))
             ELSE ${webExtractSql("html")} END AS body FROM hh),
g AS (SELECT doc_id, host, hst AS http_status,
        uri AS target_uri, loc AS location, body,
        len(string_split_regex(body, '\\s+'))::BIGINT AS n_words,
        (1000 * length(regexp_replace(body, '[^a-zA-Z ]', '', 'g')))
          // length(body) AS alpha_milli
      FROM x)
SELECT doc_id AS media_id, host, http_status, target_uri, location,
       body, n_words, alpha_milli::BIGINT AS alpha_milli,
       (http_status = 200 AND n_words >= 40 AND alpha_milli >= 900) AS kept
FROM g ORDER BY media_id, http_status, target_uri"""

  // DuckDB twin of ArchiveCodec.docEntries: both archive walks must
  // emit these exact names/sizes/checksums. LEFT JOIN + coalesce keeps
  // a (hypothetical) empty entry at ck 0, matching weightedCk([]).
  private val archiveEntriesSql =
    """WITH j AS (SELECT doc_id, text,
  '{"doc_id":' || doc_id::VARCHAR || ',"lang":"' || lang
    || '","source":"' || source || '"}' AS meta
  FROM documents),
e AS (
  SELECT doc_id, CAST(0 AS INT) AS entry_index,
         'docs/' || doc_id::VARCHAR || '.txt' AS name, text AS data FROM j
  UNION ALL
  SELECT doc_id, CAST(1 AS INT), 'meta/' || doc_id::VARCHAR || '.json',
         meta FROM j),
chars AS (SELECT doc_id, entry_index, u.i AS i,
                 ascii(substr(data, (u.i + 1)::INT, 1)) AS c
          FROM e, unnest(range(0, strlen(data))) AS u(i)),
cks AS (SELECT doc_id, entry_index, sum((i + 1) * c)::BIGINT AS data_ck
        FROM chars GROUP BY 1, 2)
SELECT e.doc_id AS media_id, e.entry_index, e.name,
       strlen(e.data)::BIGINT AS n_bytes,
       coalesce(k.data_ck, 0)::BIGINT AS data_ck
FROM e LEFT JOIN cks k USING (doc_id, entry_index)
ORDER BY media_id, entry_index"""

  /** The language-mix rollup over a (kept-gated) main-content fetch
    * table — shared by web_lang_mix (batch front door) and
    * web_lang_mix_served (the streamed WebSink table): score each kept
    * body with TextOps.langScores (token lexica + script ranges, r17),
    * argmax with the fixed tie-break, roll up per registered domain. */
  /** The ONE scoring pass for the lang-mix twins: (domain, 9 score
    * columns) per kept doc. Exposed (package-visible) so PlanShapeSpec
    * can audit that THIS plan evaluates each scorer exactly once. */
  private[graft] def langMixScored(pm: org.apache.spark.sql.DataFrame)
  : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val T = graft.ext.TextOps
    // fence the kept (domain, toks, body) rows BEFORE scoring: the 9
    // scorers each reference body/toks, and CollapseProject would
    // otherwise inline the whole front-door body derivation into every
    // scorer (~3× the extraction fold). One front-door pass, then 9
    // scans over materialized strings — strictly cheaper at any scale.
    val kept = pm.where(col("kept"))
      .select(
        regexp_extract(col("host"), "([^.]+\\.[^.]+)$", 1).as("domain"),
        col("body"))
      .localCheckpoint(false)
    kept.select(
      (col("domain") +:
        T.langScores(T.wsTokens(lower(col("body"))), col("body"))
          .map { case (l, c) => c.as(s"s_$l") }): _*)
  }

  private def langMixOver(pm: org.apache.spark.sql.DataFrame,
      minMargin: Int = 0)
  : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val T = graft.ext.TextOps
    // Score once, then FENCE (lazy localCheckpoint — the chase's
    // barrier pattern, WebCodec.chaseMultiOver): without it,
    // CollapseProject + filter pushdown inline the 9 scorers into the
    // argmax when-chain AND the margin predicate, re-evaluating the
    // lexicon/script scans ~5× per row (VERDICT r18 item 3 — 15.4 s
    // vs 6.4 s for the unconfident twin; the `lang_id` tokenize-once
    // regression class r5 pinned). The fenced table is slim — one
    // (domain, 9 longs) row per KEPT doc, ~100 B/row at any scale —
    // so the materialization is negligible beside the scoring scan.
    val scored = langMixScored(pm).localCheckpoint(false)
    // argmax + margin are now cheap column refs over the fenced scores
    val predicted = T.langNames.foldRight(lit("und")) { case (l, rest) =>
      val isMax = T.langNames.foldLeft(lit(true)) { case (acc, o) =>
        acc && col(s"s_$l") >= col(s"s_$o") }
      when(isMax, lit(l)).otherwise(rest)
    }
    // the r18 confidence cut: best − second-best margin over the
    // sorted score array (langIdMargin's formula)
    val sorted = sort_array(
      array(T.langNames.map(l => col(s"s_$l")): _*), asc = false)
    val base = scored.withColumn("predicted_lang", predicted)
    val gated =
      if (minMargin > 0)
        base.where(sorted.getItem(0) - sorted.getItem(1) >= minMargin)
      else base
    gated
      .groupBy("domain", "predicted_lang")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("domain", "predicted_lang")
  }

  // The robots decision table's allow verdict over (k = doc_id % 7, sw9,
  // e7, e9) ...
  private lazy val robotsAllowedSql: String =
    """CASE WHEN k % 5 = 0 THEN NOT sw9
       WHEN k = 1 THEN FALSE
       WHEN k = 3 THEN NOT e9
       WHEN k = 4 THEN NOT e7
       WHEN k = 6 THEN NOT e9
       ELSE TRUE END"""

  // ... and per doc, with the matched rule (twin of WebCodec.robotsGate).
  private lazy val robotsVerdictSql: String =
    """CASE WHEN (doc_id % 7) % 5 = 0 THEN
           NOT (substr(doc_id::VARCHAR, 1, 1) = '9')
         WHEN doc_id % 7 = 1 THEN FALSE
         WHEN doc_id % 7 = 3 THEN NOT (doc_id % 10 = 9)
         WHEN doc_id % 7 = 4 THEN NOT (doc_id % 10 = 7)
         WHEN doc_id % 7 = 6 THEN NOT (doc_id % 10 = 9)
         ELSE TRUE END AS allowed,
    CASE WHEN (doc_id % 7) % 5 = 0 THEN
           (CASE WHEN substr(doc_id::VARCHAR, 1, 1) = '9'
                 THEN '/docs/9' ELSE '' END)
         WHEN doc_id % 7 = 1 THEN
           (CASE WHEN doc_id % 10 = 7 THEN '/docs/*7$'
                 ELSE '/docs/' END)
         WHEN doc_id % 7 = 3 THEN
           (CASE WHEN doc_id % 10 = 9 THEN '/docs/*9$'
                 ELSE '/docs/' END)
         WHEN doc_id % 7 = 4 THEN
           (CASE WHEN doc_id % 10 = 7 THEN '/docs/*7$' ELSE '' END)
         WHEN doc_id % 7 = 6 THEN
           (CASE WHEN doc_id % 10 = 9 THEN '/docs/*9$'
                 ELSE '/docs/' END)
         ELSE '' END AS matched_rule"""

  // Codepoint checksums ((i+1)-weighted) of the fetch records' bodies
  // `recs.txt` ...
  private lazy val webRecsCkCtes: String =
    """chars AS (SELECT doc_id, rec_index, u.i AS i,
                 ascii(substr(txt, (u.i + 1)::INT, 1)) AS c
          FROM recs, unnest(range(0, length(txt))) AS u(i)),
cks AS (SELECT doc_id, rec_index, sum((i + 1) * c)::BIGINT AS body_ck
        FROM chars GROUP BY 1, 2)"""

  // ... and of the synthesized pages `h.html`.
  private lazy val webHtmlCkCtes: String =
    """chars AS (SELECT doc_id, u.i AS i,
                 ascii(substr(html, (u.i + 1)::INT, 1)) AS c
          FROM h, unnest(range(0, length(html))) AS u(i)),
cks AS (SELECT doc_id, sum((i + 1) * c)::BIGINT AS ck
        FROM chars GROUP BY 1)"""

  // The main-content pipeline's rows (web_pipeline_main and its served twin).
  private lazy val webPipelineMainSql: String =
    s"""WITH $webMainChainSql
SELECT doc_id AS media_id, host, http_status, target_uri, location,
       body, n_blocks, n_kept,
       boiler_chars, n_words, alpha_milli::BIGINT AS alpha_milli,
       (http_status = 200 AND n_words >= 40 AND alpha_milli >= 900) AS kept
FROM g ORDER BY media_id, http_status, target_uri"""

  // Lang-id scores of the quality-kept main-content bodies, per domain.
  private lazy val webKeptLangCtes: String =
    s"""kd AS (SELECT doc_id, 'example' || (doc_id % 7)::VARCHAR || '.com'
         AS domain, body,
         string_split_regex(trim(lower(body)), '\\s+') AS toks
       FROM g WHERE http_status = 200
         AND n_words >= 40 AND alpha_milli >= 900),
sc AS (SELECT doc_id, domain,
         ${langScoresSql("toks", "body")} FROM kd)"""

  /** The shared web_lang_mix oracle (batch and served twins). */
  private lazy val webLangMixSql: String =
    s"""WITH $webMainChainSql,
$webKeptLangCtes,
pr AS (SELECT domain, CASE $langCaseSql ELSE 'und' END AS predicted_lang
       FROM sc)
SELECT domain, predicted_lang, count(*)::BIGINT AS n_docs
FROM pr GROUP BY 1, 2 ORDER BY domain, predicted_lang"""

  /** The shared web_lang_mix_confident oracle (r18, batch and served
    * twins): the mix restricted to documents whose classification
    * margin clears the [[langIdMargin]] cut — what a mixture sampler
    * actually consumes (ambiguous docs dropped, not mislabeled). */
  private lazy val webLangMixConfidentSql: String =
    s"""WITH $webMainChainSql,
$webKeptLangCtes,
pr AS (SELECT domain, CASE $langCaseSql ELSE 'und' END AS predicted_lang,
       list_sort([$langColsSql], 'DESC') AS sorted
       FROM sc)
SELECT domain, predicted_lang, count(*)::BIGINT AS n_docs
FROM pr WHERE sorted[1] - sorted[2] >= 3
GROUP BY 1, 2 ORDER BY domain, predicted_lang"""

  /** The shared web_funnel oracle (batch and served twins). */
  private lazy val webFunnelSql: String =
    s"""WITH $webMainChainSql,
v AS (SELECT g.doc_id, g.http_status, g.boiler_chars,
        (g.http_status = 200 AND g.n_words >= 40
          AND g.alpha_milli >= 900) AS kept,
        doc_id % 7 AS kdom,
        substr(doc_id::VARCHAR, 1, 1) = '9' AS sw9,
        doc_id % 10 = 7 AS e7, doc_id % 10 = 9 AS e9
      FROM g),
a AS (SELECT doc_id, http_status, kdom, boiler_chars, kept,
        CASE WHEN kdom % 5 = 0 THEN NOT sw9
             WHEN kdom = 1 THEN FALSE
             WHEN kdom = 3 THEN NOT e9
             WHEN kdom = 4 THEN NOT e7
             WHEN kdom = 6 THEN NOT e9
             ELSE TRUE END AS allowed
      FROM v)
SELECT 'example' || kdom::VARCHAR || '.com' AS domain,
       sum(CASE WHEN http_status = 200 THEN 1 ELSE 0 END)::BIGINT
         AS n_docs,
       sum(CASE WHEN http_status >= 300 AND http_status < 400
           THEN 1 ELSE 0 END)::BIGINT AS n_redirects,
       -- r18 error tiers: total error fetches and the transient
       -- (retryable 503) subset — a real crawl is 20–30% of these
       sum(CASE WHEN http_status >= 400 THEN 1 ELSE 0 END)::BIGINT
         AS n_errors,
       sum(CASE WHEN http_status = 503 THEN 1 ELSE 0 END)::BIGINT
         AS n_retryable,
       sum(CASE WHEN allowed AND http_status = 200 THEN 1 ELSE 0 END)
         ::BIGINT AS n_allowed,
       sum(CASE WHEN allowed AND kept THEN 1 ELSE 0 END)::BIGINT
         AS n_corpus,
       sum(CASE WHEN allowed AND http_status = 200
           THEN boiler_chars ELSE 0 END)::BIGINT AS boiler_removed
FROM a GROUP BY 1 ORDER BY domain"""

  /** The crawl funnel over a main-content fetch table — shared by
    * web_funnel (batch front door) and web_funnel_served (streamed
    * WebSink table): per domain — fetched (200), redirected (3xx),
    * robots-admitted, quality-kept, boilerplate removed. */
  private def funnelOver(s: SparkSession, d: String,
      pm0: org.apache.spark.sql.DataFrame)
  : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val gate = graft.ext.WebCodec.robotsGate(docs(s, d))
      .select(col("media_id"), col("domain"), col("allowed"))
    val pm = pm0.select(col("media_id"), col("http_status"), col("kept"),
      col("boiler_chars"))
    val ok = col("http_status") === 200
    val redir = col("http_status") >= 300 && col("http_status") < 400
    gate.join(pm, Seq("media_id"))
      .groupBy("domain")
      .agg(sum(ok.cast("long")).cast("long").as("n_docs"),
        sum(redir.cast("long")).cast("long").as("n_redirects"),
        // r18 error tiers: dead 404/410 fetches + transient 503s
        sum((col("http_status") >= 400).cast("long")).cast("long")
          .as("n_errors"),
        sum((col("http_status") === 503).cast("long")).cast("long")
          .as("n_retryable"),
        sum((col("allowed") && ok).cast("long")).cast("long")
          .as("n_allowed"),
        sum((col("allowed") && col("kept")).cast("long")).cast("long")
          .as("n_corpus"),
        sum(when(col("allowed") && ok, col("boiler_chars"))
          .otherwise(lit(0L))).cast("long").as("boiler_removed"))
      .orderBy("domain")
  }

  /** The layout tier's read contract: per-status counts and day range of
    * a pruned orders read — the same rows as a plain WHERE on the
    * (custkey, day) box, which [[statusDaySql]] replays. */
  private def statusDays(read: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{count, lit, min, max, col}
    read
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        min(col("o_day")).as("d_min"), max(col("o_day")).as("d_max"))
      .orderBy("o_orderstatus")
  }

  /** A media-feature query: `gen` synthesizes each document's payload,
    * `featurize` decodes it back into one feature row per media id. */
  private def mediaFeatures(gen: DataFrame => DataFrame,
      featurize: DataFrame => DataFrame): Q =
    (s, d) => featurize(gen(docs(s, d))).orderBy("media_id")

  /** Media embeddings as rows (media_id, fmt, i, v) — the batch
    * operator's and the streamed MediaSink table's alike. */
  private def embeddingRows(embedded: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    embedded
      .select(col("media_id"), col("fmt"),
        posexplode(col("embedding")).as(Seq("i", "v")))
      .select(col("media_id"), col("fmt"), col("i"),
        col("v").cast("long").as("v"))
      .orderBy("media_id", "i")
  }

  /** Exact cosine top-10 of the first 8 media vectors; all-zero vectors
    * (an all-black thumbnail) are excluded before any norm divides. */
  private def mediaTopK(embedded: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val embs = embedded
      .where(expr("aggregate(embedding, 0D, (a, x) -> a + x) > 0D"))
      .select(col("media_id").as("vec_id"), col("embedding"))
    Similarity.cosineTopK(embs, numQueries = 8, k = 10)
      .withColumnRenamed("rank", "rnk")
  }

  // --- crawl-tier programs over a fetch log: each runs unchanged on the
  //     batch archive parse (WebCodec.warcRecords / recrawlRecords) and
  //     on the streamed WebSink tables, so a batch query and its
  //     `_served` twin are one plan bound to two sources. ---

  /** Redirect chase over fetch records `recs`: every 3xx fetch's
    * Location, resolved and canonicalized, joined against the canonical
    * keys of the 200 captures (already_fetched) and the robots verdict. */
  private def chaseOver(s: SparkSession, d: String, recs: DataFrame)
  : DataFrame = {
    import org.apache.spark.sql.functions._
    val W = graft.ext.WebCodec
    val redirects = recs
      .where(col("http_status") >= 300 && col("http_status") < 400)
      .select(col("media_id"), col("target_uri").as("alias_uri"),
        col("location"),
        // resolve FIRST (relative Locations are legal and common),
        // then canonicalize — the two-step a real chase runs
        W.urlCanonicalCol(W.urlResolveCol(col("target_uri"),
          col("location"))).as("target_canonical"))
    val fetched = recs.where(col("http_status") === 200)
      .select(W.urlCanonicalCol(col("target_uri"))
        .as("fetched_canonical"))
      .distinct()
    val gate = W.robotsGate(docs(s, d))
      .select(col("media_id"), col("allowed"), col("matched_rule"))
    redirects
      .join(fetched,
        col("target_canonical") === col("fetched_canonical"), "left")
      .withColumn("already_fetched", col("fetched_canonical").isNotNull)
      .drop("fetched_canonical")
      .join(gate, Seq("media_id"))
      // alias_uri completes the sort key (r18): chain/loop docs
      // carry two 3xx fetches each
      .orderBy("media_id", "alias_uri")
  }

  /** lastmod-aware recrawl queue: the frontier's stale pages (sitemap
    * lastmod after the 200 capture's WARC-Date in `fetches`), serialized
    * per domain by the robots Crawl-delay. */
  private def recrawlQueueOver(s: SparkSession, d: String,
      fetches: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val W = graft.ext.WebCodec
    val fr = W.crawlFrontier(docs(s, d))
    val frPath = W.urlParts(col("url")).toMap.apply("path")
    val cp = W.urlParts(col("target_uri")).toMap
    val captures = fetches
      .where(col("warc_type") === "response" &&
        col("http_status") === 200)
      .select(cp("domain").as("cap_domain"), cp("path").as("cap_path"),
        to_date(substring(col("warc_date"), 1, 10)).as("capture_date"))
    val delays = W.robotsGate(docs(s, d))
      .groupBy("domain")
      .agg(max("crawl_delay").as("crawl_delay"))
    val stale = fr
      .select(col("media_id"), col("domain"), col("url"),
        frPath.as("path"), to_date(col("lastmod")).as("lastmod"),
        col("allowed"))
      .join(captures,
        col("domain") === col("cap_domain") &&
          col("path") === col("cap_path"))
      .where(col("allowed") && col("lastmod") > col("capture_date"))
      .withColumn("staleness_days",
        datediff(col("lastmod"), col("capture_date")).cast("long"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("domain")
      .orderBy(col("staleness_days").desc, col("url"))
    stale.join(broadcast(delays), Seq("domain"))
      .withColumn("queue_pos", row_number().over(w).cast("long"))
      .withColumn("est_start_seconds",
        ((col("queue_pos") - 1) * col("crawl_delay")).cast("long"))
      .select("media_id", "domain", "url", "lastmod", "capture_date",
        "staleness_days", "crawl_delay", "queue_pos",
        "est_start_seconds")
      .orderBy("domain", "queue_pos")
  }

  /** Crawl 1's 200 content captures in `fetches`, keyed by URI. A
    * revisit references the CONTENT capture — the retry axis puts a 503
    * row on the same URI, and joining it would double the reused rows. */
  private def contentCaptures(fetches: DataFrame, cols: Column*)
  : DataFrame = {
    import org.apache.spark.sql.functions.col
    fetches
      .where(col("warc_type") === "response" && col("http_status") === 200)
      .select(col("target_uri").as("c1_uri") +: cols: _*)
  }

  /** Revisit-aware crawl dedup: crawl 2's live responses plus its
    * revisit records' bodies reused from crawl 1 by referral URI, with
    * the payload digest verified against the reused content. */
  private def revisitDedupOver(crawl2: DataFrame, crawl1Fetches: DataFrame)
  : DataFrame = {
    import org.apache.spark.sql.functions._
    val live = crawl2.where(col("fetched") === "response")
      .select(col("media_id"), col("fetched"), col("n_chars"),
        col("body_ck"), lit(true).as("digest_ok"))
    val crawl1 = contentCaptures(crawl1Fetches,
      col("body_chars").as("c1_chars"), col("body_ck").as("c1_ck"))
    val reused = crawl2.where(col("fetched") === "revisit")
      .join(crawl1, col("refers_to") === col("c1_uri"))
      .select(col("media_id"), col("fetched"),
        col("c1_chars").as("n_chars"), col("c1_ck").as("body_ck"),
        (col("digest") === concat(lit("graft:ck:"), col("c1_ck")))
          .as("digest_ok"))
    live.unionByName(reused).orderBy("media_id")
  }

  /** Conditional-recrawl audit: each crawl-2 304's ETag verified against
    * the crawl-1 capture's content checksum, beside the full-response
    * and dead-again outcomes. */
  private def recrawl304Over(crawl2: DataFrame, crawl1Fetches: DataFrame)
  : DataFrame = {
    import org.apache.spark.sql.functions._
    val crawl1 = contentCaptures(crawl1Fetches, col("body_ck").as("c1_ck"))
    crawl2
      .join(crawl1, col("target_uri") === col("c1_uri"), "left")
      .select(col("media_id"), col("fetched"), col("http_status"),
        col("etag"),
        when(col("fetched") === "revisit",
          col("etag") === concat(lit("\"graft:ck:"),
            col("c1_ck").cast("string"), lit("\"")))
          .otherwise(lit(true)).as("etag_ok"))
      .orderBy("media_id")
  }

  /** The crawl frontier with dead-URL exclusion: the 404/410 captures in
    * `fetches` (keyed by registered domain + path) left-joined onto the
    * sitemap frontier; enqueue = robots-allowed AND not dead. */
  private def frontierDeadOver(s: SparkSession, d: String,
      fetches: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val W = graft.ext.WebCodec
    val fr = W.crawlFrontier(docs(s, d))
    val frPath = W.urlParts(col("url")).toMap.apply("path")
    val dp = W.urlParts(col("target_uri")).toMap
    val dead = fetches
      .where(col("http_status").isin(404, 410))
      .select(dp("domain").as("dead_domain"),
        dp("path").as("dead_path"))
      .distinct()
    fr.select(col("media_id"), col("domain"), col("url"),
        frPath.as("path"), col("allowed"))
      .join(dead,
        col("domain") === col("dead_domain") &&
          col("path") === col("dead_path"),
        "left")
      .withColumn("dead", col("dead_path").isNotNull)
      .drop("dead_domain", "dead_path", "path")
      .withColumn("enqueue", col("allowed") && !col("dead"))
      .orderBy("media_id")
  }

  /** The full fetch-record replay CTE chain (crlfv/h/axes/recs) —
    * shared by web_warc_records (adds body checksums) and the slim
    * web_fetch_log_served (r18). */
  private lazy val webRecsCtesSql: String =
    s"""crlfv AS (SELECT chr(13) || chr(10) AS crlf),
-- the r18 truncation axis stores only the received PREFIX: every
-- downstream column (txt, body bytes/chars/ck) derives from it
h AS (SELECT doc_id, lang, source,
      CASE WHEN $webMimeWhere THEN text
           ELSE ${webTruncHtml(webHtmlExpr)} END AS html
      FROM documents),
axes AS (SELECT h.doc_id, h.lang, h.source, h.html, $webUrlExpr AS uri,
    $webCharsetCase AS charset,
    $webCharsetResolvedCase AS charset_res,
    $webCeCase AS content_encoding,
    $webTransferCase AS transfer,
    -- decoded-entity BYTES: 1/codepoint on the cp1252 wire, UTF-8
    -- strlen otherwise, plus the 3-byte BOM signature on its axis
    (CASE WHEN h.doc_id % 5 = 2 THEN length(h.html)
          ELSE strlen(h.html) END) + ($webBomCase) AS body_bytes,
    -- extras (r17 redirect pair; r18 retry/chain/loop pairs) start
    -- after the base records: request, response, and the metadata
    -- sidecar when present
    2 + (CASE WHEN h.doc_id % 6 >= 3 THEN 1 ELSE 0 END) AS ebase
  FROM h),
recs AS (
  SELECT doc_id, CAST(0 AS INT) AS rec_index, 'request' AS warc_type,
         uri, '' AS txt, 0 AS body_bytes, 0 AS http_status,
         'GET' AS http_method, '' AS transfer, '' AS content_encoding,
         '' AS charset, '' AS charset_src, '' AS location,
         CAST(0 AS BIGINT) AS retry_after,
         '' AS content_type
  FROM axes
  UNION ALL
  -- the 200 capture — except on the DEAD axis (r18), where the only
  -- fetch answered 404/410 with the error stub
  SELECT doc_id, CAST(1 AS INT), 'response', uri, html, body_bytes,
         200, '', transfer, content_encoding, charset_res,
         $webCharsetSrcCase, '', 0, $webMimeCase
  FROM axes WHERE doc_id % 9 <> 7
  UNION ALL
  SELECT doc_id, CAST(1 AS INT), 'response', uri, $webErrorStubSql,
         -1, $webErrorStatusSql, '', 'identity', 'identity', '',
         'sniff', '', 0, 'text/html'
  FROM axes WHERE doc_id % 9 = 7
  UNION ALL
  SELECT a.doc_id, CAST(2 AS INT), 'metadata', a.uri,
         'fetchDurationMs: ' || ((a.doc_id * 37) % 900 + 100)::VARCHAR
           || c.crlf || 'charsetDetected: ' || a.charset || c.crlf,
         -1, 0, '', '', '', '', '', '', 0, ''
  FROM axes a, crlfv c WHERE a.doc_id % 6 >= 3
  UNION ALL
  -- r17 redirect axis: the alias fetch's request + 301 response pair
  SELECT a.doc_id, CAST(a.ebase AS INT), 'request',
         'https://www.' || source || '.example'
           || (a.doc_id % 7)::VARCHAR || '.com/r/' || a.doc_id::VARCHAR,
         '', 0, 0, 'GET', '', '', '', '', '', 0, ''
  FROM axes a WHERE a.doc_id % 9 = 4
  UNION ALL
  SELECT a.doc_id, CAST(a.ebase + 1 AS INT), 'response',
         'https://www.' || source || '.example'
           || (a.doc_id % 7)::VARCHAR || '.com/r/' || a.doc_id::VARCHAR,
         $webRedirectStubSql, -1,
         301, '', 'identity', 'identity', '', 'sniff',
         $webRedirectLocSql, 0, 'text/html'
  FROM axes a WHERE a.doc_id % 9 = 4
  UNION ALL
  -- r18 retry axis: the failed 503 attempt pair (same target URI)
  SELECT a.doc_id, CAST(a.ebase AS INT), 'request', a.uri,
         '', 0, 0, 'GET', '', '', '', '', '', 0, ''
  FROM axes a WHERE a.doc_id % 9 = 8
  UNION ALL
  SELECT a.doc_id, CAST(a.ebase + 1 AS INT), 'response', a.uri,
         $webRetryStubSql, -1,
         503, '', 'identity', 'identity', '', 'sniff', '',
         $webRetryAfterSql, 'text/html'
  FROM axes a WHERE a.doc_id % 9 = 8
  UNION ALL
  -- r18 chain axis: /h2 302 (unicode-IDN Location) then the /h1
  -- capture at its punycode host, 301 to the canonical doc
  SELECT a.doc_id, CAST(a.ebase AS INT), 'request',
         'https://www.' || source || '.example'
           || (a.doc_id % 7)::VARCHAR || '.com/h2/' || a.doc_id::VARCHAR,
         '', 0, 0, 'GET', '', '', '', '', '', 0, ''
  FROM axes a WHERE a.doc_id % 9 = 2
  UNION ALL
  SELECT a.doc_id, CAST(a.ebase + 1 AS INT), 'response',
         'https://www.' || source || '.example'
           || (a.doc_id % 7)::VARCHAR || '.com/h2/' || a.doc_id::VARCHAR,
         '<html><body>Moved to /h1/' || a.doc_id::VARCHAR
           || '</body></html>', -1,
         302, '', 'identity', 'identity', '', 'sniff',
         'https://www.zürich.example' || (a.doc_id % 7)::VARCHAR
           || '.com/h1/' || a.doc_id::VARCHAR, 0, 'text/html'
  FROM axes a WHERE a.doc_id % 9 = 2
  UNION ALL
  SELECT a.doc_id, CAST(a.ebase + 2 AS INT), 'request',
         'https://www.xn--zrich-kva.example' || (a.doc_id % 7)::VARCHAR
           || '.com/h1/' || a.doc_id::VARCHAR,
         '', 0, 0, 'GET', '', '', '', '', '', 0, ''
  FROM axes a WHERE a.doc_id % 9 = 2
  UNION ALL
  SELECT a.doc_id, CAST(a.ebase + 3 AS INT), 'response',
         'https://www.xn--zrich-kva.example' || (a.doc_id % 7)::VARCHAR
           || '.com/h1/' || a.doc_id::VARCHAR,
         $webRedirectStubSql, -1,
         301, '', 'identity', 'identity', '', 'sniff',
         $webChainFinalLocSql, 0, 'text/html'
  FROM axes a WHERE a.doc_id % 9 = 2
  UNION ALL
  -- r18 loop axis: /la 301→ /lb 301→ /la (relative Locations)
  SELECT a.doc_id, CAST(a.ebase AS INT), 'request',
         'https://www.' || source || '.example'
           || (a.doc_id % 7)::VARCHAR || '.com/la/' || a.doc_id::VARCHAR,
         '', 0, 0, 'GET', '', '', '', '', '', 0, ''
  FROM axes a WHERE a.doc_id % 9 = 5
  UNION ALL
  SELECT a.doc_id, CAST(a.ebase + 1 AS INT), 'response',
         'https://www.' || source || '.example'
           || (a.doc_id % 7)::VARCHAR || '.com/la/' || a.doc_id::VARCHAR,
         '<html><body>Moved to /lb/' || a.doc_id::VARCHAR
           || '</body></html>', -1,
         301, '', 'identity', 'identity', '', 'sniff',
         '/lb/' || a.doc_id::VARCHAR, 0, 'text/html'
  FROM axes a WHERE a.doc_id % 9 = 5
  UNION ALL
  SELECT a.doc_id, CAST(a.ebase + 2 AS INT), 'request',
         'https://www.' || source || '.example'
           || (a.doc_id % 7)::VARCHAR || '.com/lb/' || a.doc_id::VARCHAR,
         '', 0, 0, 'GET', '', '', '', '', '', 0, ''
  FROM axes a WHERE a.doc_id % 9 = 5
  UNION ALL
  SELECT a.doc_id, CAST(a.ebase + 3 AS INT), 'response',
         'https://www.' || source || '.example'
           || (a.doc_id % 7)::VARCHAR || '.com/lb/' || a.doc_id::VARCHAR,
         '<html><body>Moved to /la/' || a.doc_id::VARCHAR
           || '</body></html>', -1,
         301, '', 'identity', 'identity', '', 'sniff',
         '/la/' || a.doc_id::VARCHAR, 0, 'text/html'
  FROM axes a WHERE a.doc_id % 9 = 5)"""

  /** Multi-hop chase oracle — shared by the batch and served twins (r18). */
  private lazy val webChaseMultiSql: String =
    """WITH d AS (SELECT doc_id, lang, source, doc_id % 7 AS k
         FROM documents WHERE doc_id % 9 IN (2, 4, 5)),
r AS (
  SELECT doc_id,
    'https://www.' || source || '.example' || k::VARCHAR || '.com/r/'
      || doc_id::VARCHAR AS start_uri,
    'https://www.' || lower(source) || '.example' || k::VARCHAR
      || '.com/docs/' || doc_id::VARCHAR || '?lang=' || lang
      || '&ref=feed' AS final_canonical,
    1 AS hops, FALSE AS loop, TRUE AS already_fetched
  FROM d WHERE doc_id % 9 = 4
  UNION ALL
  SELECT doc_id,
    'https://www.' || source || '.example' || k::VARCHAR || '.com/h2/'
      || doc_id::VARCHAR,
    'https://www.' || lower(source) || '.example' || k::VARCHAR
      || '.com/docs/' || doc_id::VARCHAR || '?lang=' || lang
      || '&ref=feed',
    2, FALSE, TRUE
  FROM d WHERE doc_id % 9 = 2
  UNION ALL
  SELECT doc_id,
    'https://www.xn--zrich-kva.example' || k::VARCHAR || '.com/h1/'
      || doc_id::VARCHAR,
    'https://www.' || lower(source) || '.example' || k::VARCHAR
      || '.com/docs/' || doc_id::VARCHAR || '?lang=' || lang
      || '&ref=feed',
    1, FALSE, TRUE
  FROM d WHERE doc_id % 9 = 2
  UNION ALL
  SELECT doc_id,
    'https://www.' || source || '.example' || k::VARCHAR || '.com/la/'
      || doc_id::VARCHAR,
    'https://www.' || lower(source) || '.example' || k::VARCHAR
      || '.com/la/' || doc_id::VARCHAR,
    2, TRUE, FALSE
  FROM d WHERE doc_id % 9 = 5
  UNION ALL
  SELECT doc_id,
    'https://www.' || source || '.example' || k::VARCHAR || '.com/lb/'
      || doc_id::VARCHAR,
    'https://www.' || lower(source) || '.example' || k::VARCHAR
      || '.com/lb/' || doc_id::VARCHAR,
    2, TRUE, FALSE
  FROM d WHERE doc_id % 9 = 5)
SELECT doc_id AS media_id, start_uri, final_canonical,
       CAST(hops AS INT) AS hops, loop, already_fetched
FROM r ORDER BY media_id, start_uri"""

  /** Dead-URL frontier oracle — shared by the batch and served twins (r18). */
  private lazy val webFrontierDeadSql: String =
    s"""WITH d AS (SELECT doc_id, doc_id % 7 AS k,
           substr(doc_id::VARCHAR, 1, 1) = '9' AS sw9,
           doc_id % 10 = 7 AS e7, doc_id % 10 = 9 AS e9 FROM documents)
SELECT doc_id AS media_id,
  'example' || k::VARCHAR || '.com' AS domain,
  'https://www.example' || k::VARCHAR || '.com/docs/' || doc_id::VARCHAR
    AS url,
  $robotsAllowedSql AS allowed,
  (doc_id % 9 = 7) AS dead,
  (($robotsAllowedSql) AND doc_id % 9 <> 7) AS enqueue
FROM d ORDER BY media_id"""

  /** lastmod recrawl-queue oracle — shared by the batch and served twins (r18). */
  private lazy val webRecrawlQueueSql: String =
    s"""WITH d AS (SELECT doc_id, doc_id % 7 AS k,
           substr(doc_id::VARCHAR, 1, 1) = '9' AS sw9,
           doc_id % 10 = 7 AS e7, doc_id % 10 = 9 AS e9
         FROM documents),
q AS (SELECT doc_id, 'example' || k::VARCHAR || '.com' AS domain,
        'https://www.example' || k::VARCHAR || '.com/docs/'
          || doc_id::VARCHAR AS url,
        CAST('2026-0' || (doc_id % 9 + 1)::VARCHAR || '-01' AS DATE)
          AS lastmod,
        CAST('2026-0' || (doc_id % 6 + 1)::VARCHAR || '-15' AS DATE)
          AS capture_date,
        $robotsAllowedSql AS allowed,
        CASE WHEN k % 5 = 0 THEN 2 ELSE k + 1 END AS crawl_delay
      FROM d
      -- dead URLs have no 200 capture to join
      WHERE doc_id % 9 <> 7),
st AS (SELECT *, date_diff('day', capture_date, lastmod)::BIGINT
         AS staleness_days
       FROM q WHERE allowed AND lastmod > capture_date),
w AS (SELECT *, row_number() OVER (PARTITION BY domain
        ORDER BY staleness_days DESC, url)::BIGINT AS queue_pos
      FROM st)
SELECT doc_id AS media_id, domain, url, lastmod, capture_date,
       staleness_days, crawl_delay::BIGINT AS crawl_delay, queue_pos,
       ((queue_pos - 1) * crawl_delay)::BIGINT AS est_start_seconds
FROM w ORDER BY domain, queue_pos"""

  /** Revisit-dedup oracle — shared by the batch and served twins (r18). */
  private lazy val webRevisitDedupSql: String =
    s"""WITH h AS (SELECT doc_id, lang, source,
           -- dead URLs (r18) answer the 404/410 stub again on the
           -- recrawl; truncated URLs (odd ids, so always the live
           -- re-fetch branch) are cut again; everything else
           -- re-fetches (or revisits) the doc
           CASE WHEN doc_id % 9 = 7 THEN $webErrorStubSql
                WHEN $webMimeWhere THEN text
                ELSE ${webTruncHtml(webHtmlExpr)} END AS html
           FROM documents),
$webHtmlCkCtes
SELECT h.doc_id AS media_id,
       CASE WHEN h.doc_id % 9 = 7 THEN 'response'
            WHEN h.doc_id % 2 = 0 THEN 'revisit'
            ELSE 'response' END
         AS fetched,
       length(h.html)::BIGINT AS n_chars, k.ck AS body_ck,
       TRUE AS digest_ok
FROM h JOIN cks k USING (doc_id) ORDER BY media_id"""

  /** Conditional-recrawl 304 oracle — shared by the batch and served twins (r18). */
  private lazy val webRecrawl304Sql: String =
    s"""WITH h AS (SELECT doc_id, lang, source,
           CASE WHEN $webMimeWhere THEN text
                ELSE $webHtmlExpr END AS html
           FROM documents WHERE doc_id % 9 <> 7 AND doc_id % 2 = 0),
$webHtmlCkCtes
SELECT d.doc_id AS media_id,
       CASE WHEN d.doc_id % 9 = 7 THEN 'response'
            WHEN d.doc_id % 2 = 0 THEN 'revisit'
            ELSE 'response' END AS fetched,
       CAST(CASE WHEN d.doc_id % 9 = 7 THEN
              (CASE WHEN d.doc_id % 2 = 0 THEN 410 ELSE 404 END)
            WHEN d.doc_id % 2 = 0 THEN 304
            ELSE 200 END AS INT) AS http_status,
       CASE WHEN d.doc_id % 9 <> 7 AND d.doc_id % 2 = 0 THEN
         '"graft:ck:' || k.ck::VARCHAR || '"'
       ELSE '' END AS etag,
       TRUE AS etag_ok
FROM documents d LEFT JOIN cks k ON k.doc_id = d.doc_id
ORDER BY media_id"""

  /** The single-hop redirect-chase oracle (r17 alias + r18 chain/
    * loop rows) — shared verbatim by web_redirect_chase (batch
    * re-parse) and web_redirect_chase_served (WebSink fetch table). */
  private lazy val webChaseSql: String =
    s"""WITH d AS (SELECT doc_id, lang, source, doc_id % 7 AS k,
           $robotsVerdictSql
         FROM documents WHERE doc_id % 9 IN (2, 4, 5)),
r AS (
  -- r17 alias redirect: one hop straight to the (already fetched) doc
  SELECT doc_id,
    'https://www.' || source || '.example' || k::VARCHAR || '.com/r/'
      || doc_id::VARCHAR AS alias_uri,
    CASE WHEN doc_id % 2 = 0 THEN
      '/docs/' || doc_id::VARCHAR || '?lang=' || lang || '&ref=feed'
    ELSE
      'HTTPS://www.' || source || '.example' || k::VARCHAR
        || '.com:443/docs/' || doc_id::VARCHAR || '?lang=' || lang
        || '&ref=feed'
    END AS location,
    'https://www.' || lower(source) || '.example' || k::VARCHAR
      || '.com/docs/' || doc_id::VARCHAR || '?lang=' || lang
      || '&ref=feed' AS target_canonical,
    TRUE AS already_fetched
  FROM d WHERE doc_id % 9 = 4
  UNION ALL
  -- r18 chain hop 1 of 2: /h2 → the /h1 intermediate (captured only
  -- as a 301, so NOT already fetched; unicode-IDN Location)
  SELECT doc_id,
    'https://www.' || source || '.example' || k::VARCHAR || '.com/h2/'
      || doc_id::VARCHAR,
    'https://www.zürich.example' || k::VARCHAR || '.com/h1/'
      || doc_id::VARCHAR,
    'https://www.zürich.example' || k::VARCHAR || '.com/h1/'
      || doc_id::VARCHAR,
    FALSE
  FROM d WHERE doc_id % 9 = 2
  UNION ALL
  -- r18 chain hop 2 of 2: the punycode /h1 capture → the canonical doc
  SELECT doc_id,
    'https://www.xn--zrich-kva.example' || k::VARCHAR || '.com/h1/'
      || doc_id::VARCHAR,
    'HTTPS://www.' || source || '.example' || k::VARCHAR
      || '.com:443/docs/' || doc_id::VARCHAR || '?lang=' || lang
      || '&ref=feed',
    'https://www.' || lower(source) || '.example' || k::VARCHAR
      || '.com/docs/' || doc_id::VARCHAR || '?lang=' || lang
      || '&ref=feed',
    TRUE
  FROM d WHERE doc_id % 9 = 2
  UNION ALL
  -- r18 loop: /la ↔ /lb, neither ever fetched as content
  SELECT doc_id,
    'https://www.' || source || '.example' || k::VARCHAR || '.com/la/'
      || doc_id::VARCHAR,
    '/lb/' || doc_id::VARCHAR,
    'https://www.' || lower(source) || '.example' || k::VARCHAR
      || '.com/lb/' || doc_id::VARCHAR,
    FALSE
  FROM d WHERE doc_id % 9 = 5
  UNION ALL
  SELECT doc_id,
    'https://www.' || source || '.example' || k::VARCHAR || '.com/lb/'
      || doc_id::VARCHAR,
    '/la/' || doc_id::VARCHAR,
    'https://www.' || lower(source) || '.example' || k::VARCHAR
      || '.com/la/' || doc_id::VARCHAR,
    FALSE
  FROM d WHERE doc_id % 9 = 5)
SELECT r.doc_id AS media_id, r.alias_uri, r.location, r.target_canonical,
       r.already_fetched, d.allowed, d.matched_rule
FROM r JOIN d USING (doc_id) ORDER BY media_id, alias_uri"""

  val defs: Seq[(String, Q, Option[String])] = Seq(

    // ------------------------------------------------------------- dedup
    ("dedup_exact",
      (s: SparkSession, d: String) =>
        Dedup.exactSurvivors(docs(s, d)).orderBy("doc_id"),
      Some(s"""WITH n AS (SELECT *, $normSql AS norm FROM documents),
r AS (SELECT doc_id, lang, source, n_chars,
             row_number() OVER (PARTITION BY norm ORDER BY doc_id) AS rn FROM n)
SELECT doc_id, lang, source, n_chars FROM r WHERE rn = 1 ORDER BY doc_id""")),

    ("near_dup_jaccard",
      (s: SparkSession, d: String) =>
        Dedup.nearDupPairsAt(s, d).orderBy("doc_a", "doc_b"),
      Some(s"""WITH $jaccardIcCtes,
p AS (SELECT ic.doc_a, ic.doc_b,
             ic.inter::DOUBLE / (len(la.sh) + len(lb.sh) - ic.inter) AS jaccard
      FROM ic JOIN sh la ON la.doc_id = ic.doc_a
      JOIN sh lb ON lb.doc_id = ic.doc_b)
SELECT doc_a, doc_b, jaccard FROM p WHERE jaccard >= 0.8
ORDER BY doc_a, doc_b""")),

    // SimHash on the portable md5-derived token hash: DuckDB rebuilds the
    // identical 64-bit fingerprints (votes → pack → 16-bit bands →
    // bit_count(xor) verify), so this carries a full hash oracle.
    ("near_dup_simhash",
      (s: SparkSession, d: String) =>
        Dedup.nearDupSimhash(docs(s, d), maxHamming = 3)
          .select(org.apache.spark.sql.functions.col("doc_a"),
            org.apache.spark.sql.functions.col("doc_b"),
            org.apache.spark.sql.functions.col("hamming"))
          .orderBy("doc_a", "doc_b"),
      Some(s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
tok AS (SELECT doc_id, unnest(toks) AS tk FROM t),
h AS (SELECT doc_id,
             CAST('0x' || substring(md5(tk), 1, 8) AS UBIGINT) * 4294967296
             + CAST('0x' || substring(md5(tk), 9, 8) AS UBIGINT) AS th
      FROM tok),
v AS (SELECT doc_id, b,
             sum(CASE WHEN (th >> b) & 1 = 1 THEN 1 ELSE -1 END) AS vote
      FROM h CROSS JOIN (SELECT unnest(range(64)) AS b) bits
      GROUP BY doc_id, b),
fp AS (SELECT doc_id,
              bit_or(CASE WHEN vote > 0 THEN CAST(1 AS UBIGINT) << b
                          ELSE CAST(0 AS UBIGINT) END) AS fp
       FROM v GROUP BY doc_id),
$simhashPairsSql""")),

    // Per-batch incremental dedup: doc_id % 10 = 0 plays the incoming
    // batch; survivors are its content-novel docs.
    ("dedup_incremental",
      (s: SparkSession, d: String) =>
        Dedup.incrementalSurvivors(docs(s, d),
          org.apache.spark.sql.functions.pmod(
            org.apache.spark.sql.functions.col("doc_id"),
            org.apache.spark.sql.functions.lit(10)) === 0),
      Some(s"""WITH f AS (SELECT doc_id, md5($normSql) AS fp FROM documents)
SELECT n.doc_id, n.fp FROM f n
WHERE n.doc_id % 10 = 0
  AND NOT EXISTS (SELECT 1 FROM f c WHERE c.doc_id % 10 <> 0 AND c.fp = n.fp)
ORDER BY n.doc_id""")),

    // Directed containment pairs (prefix-filtering set-similarity join):
    // catches a doc quoted inside a larger one, which Jaccard misses.
    ("near_dup_containment",
      (s: SparkSession, d: String) =>
        Dedup.containmentPairs(docs(s, d), threshold = 0.8)
          .orderBy("doc_a", "doc_b"),
      Some(s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
s AS (SELECT doc_id, $shinglesSql AS sh FROM t),
f AS (SELECT doc_id, sh FROM s WHERE len(sh) > 0),
p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             len(list_intersect(a.sh, b.sh))::DOUBLE / len(a.sh) AS containment
      FROM f a JOIN f b ON a.doc_id <> b.doc_id)
SELECT doc_a, doc_b, containment FROM p WHERE containment >= 0.8
ORDER BY doc_a, doc_b""")),

    // Cross-modal fusion: each verified text near-dup pair annotated
    // with the embedding cosine of the same ids (vec_id ≙ doc_id in the
    // fixtures) — separates true rewrites from template collisions.
    ("near_dup_fused",
      (s: SparkSession, d: String) =>
        Dedup.nearDupFused(docs(s, d), embs(s, d), threshold = 0.8),
      Some(s"""WITH $jaccardIcCtes,
p AS (SELECT ic.doc_a, ic.doc_b,
             ic.inter::DOUBLE / (len(la.sh) + len(lb.sh) - ic.inter) AS jaccard
      FROM ic JOIN sh la ON la.doc_id = ic.doc_a
      JOIN sh lb ON lb.doc_id = ic.doc_b),
$embNormCtes
SELECT p.doc_a, p.doc_b, p.jaccard,
       round((${dotSql("a.v", "b.v")}) / (a.nrm * b.nrm), 6) AS cosine_r
FROM p JOIN n a ON a.vec_id = p.doc_a JOIN n b ON b.vec_id = p.doc_b
WHERE p.jaccard >= 0.8
ORDER BY doc_a, doc_b""")),

    // Transitive near-dup clusters: verified Jaccard pairs → connected
    // components (A~B, B~C ⇒ one cluster even when A≁C). The oracle
    // rebuilds the pair graph in SQL and closes it with a recursive CTE —
    // min reachable id ≡ the min-label fixpoint the operator converges to.
    ("dedup_clusters",
      (s: SparkSession, d: String) =>
        Dedup.nearDupClustersAt(s, d),
      Some(s"""WITH RECURSIVE $jaccardClosureCtes
SELECT u AS doc_id, (min(v))::BIGINT AS cluster_id
FROM r GROUP BY u ORDER BY doc_id""")),

    // Exact-substring duplication (Lee et al. 2022 ExactSubstr): an
    // L=10-token window at EVERY offset, flagged when the identical
    // window recurs anywhere in the corpus; per-doc flagged count +
    // union-coverage fraction. The overlapping-window complement of
    // dedup_lines' non-overlapping segments — catches copied spans at
    // arbitrary alignment.
    ("dedup_exact_substr",
      (s: SparkSession, d: String) =>
        Dedup.exactSubstrSpans(docs(s, d), spanLen = 10),
      Some(s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
sp AS (SELECT doc_id, off::BIGINT AS off,
              md5(array_to_string(toks[off+1:off+10], ' ')) AS h
       FROM t, unnest(range(len(toks) - 9)) AS u(off)
       WHERE len(toks) >= 10),
r AS (SELECT h FROM sp GROUP BY h HAVING count(*) >= 2),
d AS (SELECT sp.doc_id, sp.off FROM sp JOIN r USING (h)),
g0 AS (SELECT doc_id, off,
              coalesce(lead(off) OVER (PARTITION BY doc_id ORDER BY off)
                - off, 10) AS gap
       FROM d),
g AS (SELECT doc_id, count(*)::BIGINT AS n_dup_spans,
             sum(least(gap, 10))::BIGINT AS dup_tokens
      FROM g0 GROUP BY doc_id)
SELECT t.doc_id, len(toks)::BIGINT AS n_tok,
       coalesce(g.n_dup_spans, 0)::BIGINT AS n_dup_spans,
       coalesce(g.dup_tokens, 0)::BIGINT AS dup_tokens,
       round(coalesce(g.dup_tokens, 0)::DOUBLE / greatest(len(toks), 1), 6)
         AS dup_frac_r
FROM t LEFT JOIN g USING (doc_id) ORDER BY t.doc_id""")),

    // SOFT dedup — downweight instead of drop: every doc gets training
    // weight 1/|its near-dup cluster| (singletons 1.0), so each CONTENT
    // is seen with equal total mass without betting on which variant a
    // tie-break keeps. The corpus-side join is against the skinny
    // (doc_id, cluster_id) cluster frame — the survivors anti-join
    // shape with a weight column instead of a drop.
    ("dedup_soft",
      (s: SparkSession, d: String) =>
        Dedup.softDedupWeightsAt(s, d),
      Some(s"""WITH RECURSIVE $jaccardClosureCtes,
c AS (SELECT u AS doc_id, min(v)::BIGINT AS cluster_id FROM r GROUP BY u),
cs AS (SELECT cluster_id, count(*)::BIGINT AS csz FROM c GROUP BY cluster_id)
SELECT d.doc_id,
       coalesce(c.cluster_id, d.doc_id)::BIGINT AS cluster_id,
       coalesce(cs.csz, 1)::BIGINT AS cluster_size,
       round(1.0::DOUBLE / coalesce(cs.csz, 1), 6) AS weight_r
FROM documents d
LEFT JOIN c ON c.doc_id = d.doc_id
LEFT JOIN cs ON cs.cluster_id = c.cluster_id
ORDER BY d.doc_id""")),

    // What the pipeline KEEPS under transitive near-dup semantics: drop
    // every non-representative cluster member (representative = min id).
    ("dedup_near_survivors",
      (s: SparkSession, d: String) =>
        Dedup.nearDupSurvivorsAt(s, d),
      Some(s"""WITH RECURSIVE $jaccardClosureCtes,
c AS (SELECT u AS doc_id, min(v) AS cluster_id FROM r GROUP BY u)
SELECT d.doc_id, d.lang, d.source, d.n_chars FROM documents d
WHERE NOT EXISTS (SELECT 1 FROM c
                  WHERE c.doc_id = d.doc_id AND c.cluster_id <> c.doc_id)
ORDER BY d.doc_id""")),

    // Quality-aware survivor policy: each near-dup cluster keeps its
    // highest-quality member (composite quality score, min-id tie-break)
    // instead of blindly keeping the min id.
    ("dedup_near_survivors_quality",
      (s: SparkSession, d: String) =>
        Dedup.nearDupSurvivorsQualityAt(s, d),
      Some(s"""WITH RECURSIVE $jaccardClosureCtes,
c AS (SELECT u AS doc_id, min(v) AS cluster_id FROM r GROUP BY u),
${qualitySurvivorsSql("c")}""")),

    // C4-style line-level exact dedup: drop every "line" occurring in ≥ 2
    // distinct docs, reassemble the rest in order. The fixture has no
    // newlines, so the registered line unit is deterministic 10-token
    // blocks (Dedup.tokenBlockLines); production passes split(text,'\n').
    ("dedup_lines",
      (s: SparkSession, d: String) => {
        import org.apache.spark.sql.functions._
        // token array materialized behind its own projection boundary —
        // see Dedup.tokenBlockLines on interpreted higher-order functions
        val withToks = docs(s, d).select(col("doc_id"),
          split(graft.ext.TextOps.normText(col("text")), " ").as("__toks"))
        Dedup.lineDedup(withToks,
          Dedup.tokenBlockLines(col("__toks")), minDocs = 2)
      },
      Some(s"""WITH t AS (SELECT doc_id, string_split($normSql, ' ') AS toks FROM documents),
l AS (SELECT doc_id,
        list_transform(range(0, (len(toks)-1)//10 + 1),
          b -> array_to_string(list_slice(toks, b*10+1, b*10+10), ' ')) AS lines
      FROM t),
ex AS (SELECT doc_id, unnest(lines) AS line,
              unnest(range(len(lines))) AS pos FROM l),
rep AS (SELECT line FROM ex GROUP BY line
        HAVING count(DISTINCT doc_id) >= 2),
kept AS (SELECT * FROM ex WHERE line NOT IN (SELECT line FROM rep)),
re AS (SELECT doc_id, count(*) AS n_kept,
              string_agg(line, chr(10) ORDER BY pos) AS clean
       FROM kept GROUP BY doc_id)
SELECT l.doc_id, len(l.lines)::BIGINT AS n_lines,
       (coalesce(re.n_kept, 0))::BIGINT AS n_kept,
       md5(coalesce(re.clean, '')) AS clean_md5
FROM l LEFT JOIN re USING (doc_id) ORDER BY doc_id""")),

    // SemDeDup candidate stage: IVF-cell clustering (deterministic
    // data-sampled centroids) + intra-cell exact cosine — fully
    // oracle-able, unlike hash-parameterized LSH.
    ("semantic_pairs",
      (s: SparkSession, d: String) =>
        Dedup.semanticPairs(embs(s, d), threshold = 0.4)
          .orderBy("id_a", "id_b"),
      Some(s"""WITH $embNormCtes,
${ivfCellCtes(dotSql)},
p AS (SELECT x.vec_id AS id_a, y.vec_id AS id_b,
             (${dotSql("x.v", "y.v")}) / (x.nrm * y.nrm) AS sim
      FROM asg x JOIN asg y ON x.cell = y.cell AND x.vec_id < y.vec_id)
SELECT id_a, id_b, round(sim, 6) AS sim_r FROM p WHERE sim >= 0.4
ORDER BY id_a, id_b""")),

    // Semantic dedup survivors (SemDeDup): intra-cell cosine pairs →
    // connected components → drop non-representatives. The member of the
    // dedup family that catches paraphrases lexical ops provably miss.
    ("semantic_dedup",
      (s: SparkSession, d: String) =>
        Dedup.semanticSurvivorsAt(s, d),
      Some(s"""WITH RECURSIVE $semanticClusterCtes
SELECT d.doc_id, d.lang, d.source, d.n_chars FROM documents d
WHERE NOT EXISTS (SELECT 1 FROM cl
                  WHERE cl.doc_id = d.doc_id AND cl.cluster_id <> cl.doc_id)
ORDER BY d.doc_id""")),

    // Byte-level media near-dup: SimHash over distinct payload byte
    // 4-grams (via the portable hex/md5 hash — no codec needed, so this
    // one media operator is fully correct in this sandbox, not stubbed).
    ("media_near_dup",
      (s: SparkSession, d: String) =>
        graft.ext.Multimodal.mediaNearDup(
          graft.ext.Multimodal.mediaFromDocuments(docs(s, d)), maxHamming = 8)
          .orderBy("doc_a", "doc_b"),
      Some(s"""WITH m AS (SELECT doc_id AS media_id, hex(text::BLOB) AS hx FROM documents),
g AS (SELECT media_id,
             unnest(list_distinct(list_transform(range(1, len(hx)//2 - 3 + 1),
               i -> substring(hx, (i-1)*2+1, 8)))) AS gram
      FROM m WHERE len(hx)//2 >= 4),
h AS (SELECT media_id,
             CAST('0x' || substring(md5(gram), 1, 8) AS UBIGINT) * 4294967296
             + CAST('0x' || substring(md5(gram), 9, 8) AS UBIGINT) AS th
      FROM g),
v AS (SELECT media_id, b,
             sum(CASE WHEN (th >> b) & 1 = 1 THEN 1 ELSE -1 END) AS vote
      FROM h CROSS JOIN (SELECT unnest(range(64)) AS b) bits
      GROUP BY media_id, b),
fp AS (SELECT media_id,
              bit_or(CASE WHEN vote > 0 THEN CAST(1 AS UBIGINT) << b
                          ELSE CAST(0 AS UBIGINT) END) AS fp
       FROM v GROUP BY media_id),
bands AS (SELECT media_id, q, (fp >> (16 * q)) & 65535 AS band_val
          FROM fp CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS q) qs),
cand AS (SELECT DISTINCT a.media_id AS doc_a, b.media_id AS doc_b
         FROM bands a JOIN bands b
           ON a.q = b.q AND a.band_val = b.band_val AND a.media_id < b.media_id)
SELECT c.doc_a, c.doc_b, bit_count(xor(fa.fp, fb.fp))::INT AS hamming
FROM cand c
JOIN fp fa ON fa.media_id = c.doc_a
JOIN fp fb ON fb.media_id = c.doc_b
WHERE bit_count(xor(fa.fp, fb.fp)) <= 8
ORDER BY doc_a, doc_b""")),

    // Semantic dedup with the quality survivor policy — embedding
    // clusters each keep their highest-quality member.
    ("semantic_dedup_quality",
      (s: SparkSession, d: String) =>
        Dedup.semanticSurvivorsQualityAt(s, d),
      Some(s"""WITH RECURSIVE $semanticClusterCtes,
${qualitySurvivorsSql("cl")}""")),

    // Cluster-size histogram of the lexical near-dup graph — the shape a
    // pipeline inspects before choosing a survivor policy.
    ("dedup_cluster_stats",
      (s: SparkSession, d: String) =>
        Dedup.clusterSizeStatsAt(s, d),
      Some(s"""WITH RECURSIVE $jaccardClosureCtes,
c AS (SELECT u AS doc_id, min(v) AS cluster_id FROM r GROUP BY u),
s AS (SELECT cluster_id, count(*) AS sz FROM c GROUP BY cluster_id)
SELECT sz AS cluster_size, count(*) AS n_clusters
FROM s GROUP BY sz ORDER BY cluster_size""")),

    // One-row corpus dedup report: survivors under each policy.
    ("dedup_summary",
      (s: SparkSession, d: String) =>
        Dedup.dedupSummaryAt(s, d),
      Some(s"""WITH RECURSIVE $jaccardClosureCtes,
c AS (SELECT u AS doc_id, min(v) AS cluster_id FROM r GROUP BY u),
ee AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
nn AS (SELECT vec_id, v, sqrt(${dotSql("v", "v")}) AS nrm FROM ee),
cc AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cn FROM nn WHERE vec_id % 20 = 0),
aa AS (SELECT nn.vec_id, cc.cent_id,
              row_number() OVER (PARTITION BY nn.vec_id
                ORDER BY (${dotSql("v", "cv")}) / (nn.nrm * cc.cn) DESC, cc.cent_id) AS rn
       FROM nn CROSS JOIN cc),
asg AS (SELECT nn.vec_id, nn.v, nn.nrm, aa.cent_id AS cell
        FROM aa JOIN nn ON nn.vec_id = aa.vec_id WHERE aa.rn = 1),
sp AS MATERIALIZED (SELECT x.vec_id AS id_a, y.vec_id AS id_b
       FROM asg x JOIN asg y ON x.cell = y.cell AND x.vec_id < y.vec_id
       WHERE (${dotSql("x.v", "y.v")}) / (x.nrm * y.nrm) >= 0.4),
sed AS MATERIALIZED (SELECT id_a AS u, id_b AS v FROM sp
        UNION ALL SELECT id_b, id_a FROM sp),
sr AS (SELECT u, u AS v FROM (SELECT DISTINCT u FROM sed) z
       UNION
       SELECT sr.u, sed.v FROM sr JOIN sed ON sr.v = sed.u),
sc AS (SELECT u AS doc_id, min(v) AS cluster_id FROM sr GROUP BY u)
SELECT (SELECT count(*) FROM documents)::BIGINT AS n_docs,
       (SELECT count(DISTINCT $normSql) FROM documents)::BIGINT AS exact_survivors,
       ((SELECT count(*) FROM documents)
        - (SELECT count(*) FROM c WHERE cluster_id <> doc_id))::BIGINT AS near_survivors,
       ((SELECT count(*) FROM documents)
        - (SELECT count(*) FROM sc WHERE cluster_id <> doc_id))::BIGINT AS semantic_survivors""")),

    // ----------------------------------------------------- text analysis
    ("text_stats",
      (s: SparkSession, d: String) => TextAnalysis.corpusStats(docs(s, d)),
      Some(s"""SELECT lang, count(*) AS n_docs, (sum(n_chars))::BIGINT AS total_chars,
       avg(length(text)) AS avg_len,
       avg(len($toksSql)) AS avg_tokens,
       count(DISTINCT source) AS n_sources
FROM documents GROUP BY lang ORDER BY lang""")),

    ("token_count",
      (s: SparkSession, d: String) => TextAnalysis.tokenCounts(docs(s, d)),
      Some(s"""SELECT doc_id,
       len(string_split_regex(trim(text), '\\s+')) AS ws_tokens,
       len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\\s]')) AS bpe_ish_tokens,
       length(text) AS len_chars, n_chars
FROM documents ORDER BY doc_id""")),

    ("lang_id",
      (s: SparkSession, d: String) => TextAnalysis.langId(docs(s, d)),
      Some(s"""WITH $langScoredCtes
SELECT doc_id, labeled_lang, $langColsSql,
       CASE $langCaseSql
         ELSE 'und' END AS predicted_lang,
       CASE WHEN (CASE $langCaseSql
         ELSE 'und' END) = labeled_lang THEN 1 ELSE 0 END AS correct
FROM sc ORDER BY doc_id""")),

    // Lang-id CONFIDENCE margins (r18): best minus second-best score
    // per doc — the cut a mixture sampler applies to drop ambiguous
    // documents rather than mislabel them. Both engines sort the score
    // list descending and difference the top two.
    ("lang_id_margin",
      (s: SparkSession, d: String) =>
        TextAnalysis.langIdMargin(docs(s, d)),
      Some(s"""WITH $langScoredCtes,
m AS (SELECT doc_id, labeled_lang,
        CASE $langCaseSql
          ELSE 'und' END AS predicted_lang,
        list_sort([$langColsSql], 'DESC') AS sorted
      FROM sc)
SELECT doc_id, labeled_lang, predicted_lang,
       sorted[1]::BIGINT AS best_score,
       sorted[2]::BIGINT AS second_score,
       (sorted[1] - sorted[2])::BIGINT AS margin,
       (sorted[1] - sorted[2]) >= 3 AS confident
FROM m ORDER BY doc_id""")),

    ("lang_id_accuracy",
      (s: SparkSession, d: String) => TextAnalysis.langIdAccuracy(docs(s, d)),
      Some(s"""WITH $langScoredCtes,
pr AS (SELECT labeled_lang,
       CASE WHEN (CASE $langCaseSql ELSE 'und' END) = labeled_lang
            THEN 1 ELSE 0 END AS correct
FROM sc)
SELECT labeled_lang, count(*) AS n_docs, (sum(correct))::BIGINT AS n_correct,
       sum(correct)::DOUBLE / count(*) AS accuracy
FROM pr GROUP BY labeled_lang ORDER BY labeled_lang""")),

    // Language-ID confusion matrix: which languages get mistaken for which.
    ("lang_confusion",
      (s: SparkSession, d: String) => TextAnalysis.langConfusion(docs(s, d)),
      Some(s"""WITH $langScoredCtes,
pr AS (SELECT labeled_lang,
              CASE $langCaseSql ELSE 'und' END AS predicted_lang
       FROM sc)
SELECT labeled_lang, predicted_lang, count(*) AS n_docs
FROM pr GROUP BY 1, 2 ORDER BY labeled_lang, predicted_lang""")),

    // Vocabulary coverage curve: token-occurrence share of the top-k
    // vocab for k ∈ {10, 50, 100, 500} — the vocab-sizing statistic.
    ("vocab_coverage",
      (s: SparkSession, d: String) => TextAnalysis.vocabCoverage(docs(s, d)),
      Some(s"""WITH tok AS (SELECT unnest($toksSql) AS token FROM documents),
cnt AS (SELECT token, count(*) AS n FROM tok
        WHERE length(token) > 0 GROUP BY token),
r AS (SELECT n, row_number() OVER (ORDER BY n DESC, token) AS rk FROM cnt),
tot AS (SELECT (sum(n))::BIGINT AS total_occ FROM cnt),
ks AS (SELECT unnest([10, 50, 100, 500]) AS k)
SELECT ks.k, (sum(r.n))::BIGINT AS covered_occ, tot.total_occ,
       round(sum(r.n)::DOUBLE / tot.total_occ, 6) AS coverage_r
FROM r JOIN ks ON r.rk <= ks.k CROSS JOIN tot
GROUP BY ks.k, tot.total_occ ORDER BY ks.k""")),

    ("quality_score",
      (s: SparkSession, d: String) => TextAnalysis.qualityScore(docs(s, d)),
      Some(s"""WITH t AS (
  SELECT doc_id, text, $toksSql AS toks,
         len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]')) AS punct,
         len(regexp_extract_all(text, '[a-zA-Z]')) AS alpha,
         len(list_filter($toksSql, t -> list_contains($enLex, t))) AS stops
  FROM documents)
SELECT doc_id, length(text) AS len_chars, len(toks) AS n_tokens,
       punct::DOUBLE / greatest(length(text), 1) AS punct_ratio,
       alpha::DOUBLE / greatest(length(text), 1) AS alpha_ratio,
       stops::DOUBLE / greatest(len(toks), 1) AS stopword_ratio,
       $qualitySql AS quality
FROM t ORDER BY doc_id""")),

    ("doc_fingerprint",
      (s: SparkSession, d: String) => TextAnalysis.fingerprints(docs(s, d)),
      Some(s"""WITH t AS (SELECT doc_id, $normSql AS norm, $toksSql AS toks FROM documents),
sh AS (SELECT doc_id, norm, $shinglesSql AS sh FROM t)
SELECT doc_id, md5(norm) AS exact_md5,
       list_aggregate(list_transform(sh, s -> md5(s)), 'min') AS min_shingle_md5
FROM sh ORDER BY doc_id""")),

    // Per-language token-length distribution (exact interpolated
    // quantiles — same percentile ≙ quantile_cont pairing as
    // q_price_quantiles; the _dist/_approx scale paths there apply
    // unchanged to this shape at 100 TB).
    ("text_length_quantiles",
      (s: SparkSession, d: String) => {
        import org.apache.spark.sql.functions._
        docs(s, d)
          .select(col("lang"),
            size(graft.ext.TextOps.wsTokens(lower(col("text")))).as("n_tok"))
          .groupBy("lang")
          .agg(
            round(expr("percentile(n_tok, 0.25)"), 4).as("p25"),
            round(expr("percentile(n_tok, 0.5)"), 4).as("p50"),
            round(expr("percentile(n_tok, 0.9)"), 4).as("p90"),
            count(lit(1)).as("n_docs"))
          .orderBy("lang")
      },
      Some(s"""WITH t AS (SELECT lang, len($toksSql) AS n_tok FROM documents)
SELECT lang,
       round(quantile_cont(n_tok, 0.25), 4) AS p25,
       round(quantile_cont(n_tok, 0.5), 4) AS p50,
       round(quantile_cont(n_tok, 0.9), 4) AS p90,
       count(*) AS n_docs
FROM t GROUP BY lang ORDER BY lang""")),

    ("text_distinct_exact",
      (s: SparkSession, d: String) => TextAnalysis.distinctExact(docs(s, d)),
      Some(s"""SELECT count(DISTINCT $normSql) AS distinct_norm_texts,
       count(DISTINCT source) AS distinct_sources,
       count(DISTINCT lang) AS distinct_langs
FROM documents""")),

    // HLL++ sketch values are engine-specific, but the accuracy CONTRACT
    // is not: the registered form is self-verifying (VERDICT r10 item 3)
    // — exact counts (DuckDB recomputes) + |hll − exact|/exact ≤ 2%
    // booleans the oracle pins TRUE. The estimate itself never rides the
    // hash; a broken sketch turns the row red.
    ("text_distinct_approx",
      (s: SparkSession, d: String) =>
        TextAnalysis.distinctApproxCheck(docs(s, d)),
      Some(s"""SELECT count(DISTINCT $normSql) AS exact_norm_texts,
       count(DISTINCT source) AS exact_sources,
       TRUE AS norm_within_tol,
       TRUE AS sources_within_tol
FROM documents""")),

    ("vocab_topk",
      (s: SparkSession, d: String) => TextAnalysis.vocabTopK(docs(s, d), k = 100),
      Some(s"""WITH t AS (SELECT unnest($toksSql) AS token FROM documents)
SELECT token, (count(*))::BIGINT AS n FROM t WHERE length(token) > 0
GROUP BY token ORDER BY n DESC, token LIMIT 100""")),

    // Bigram language-model counts: hash-shuffled count + string
    // recovery for the top-k candidates only (see TextAnalysis.bigramTopK —
    // the bigram strings never ride a corpus-sized exchange).
    ("vocab_bigrams",
      (s: SparkSession, d: String) => TextAnalysis.bigramTopK(docs(s, d), k = 100),
      Some(s"""WITH t AS (SELECT $toksSql AS toks FROM documents),
b AS (SELECT unnest(CASE WHEN len(toks) >= 2
        THEN list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
        ELSE [] END) AS bigram FROM t)
SELECT bigram, (count(*))::BIGINT AS n FROM b
GROUP BY bigram ORDER BY n DESC, bigram LIMIT 100""")),

    // Compression-ratio quality gate: DuckDB can't run deflate, but RFC
    // 1950/1951 bound any conforming stream from text stats it CAN
    // compute — the registered form is the self-verifying band check
    // (VERDICT r10 item 3; per-doc floor/compressBound booleans pinned
    // TRUE). The informational ratio/keep form stays compressionStats +
    // TextAnalysisSpec's ordering contract.
    ("quality_compression",
      (s: SparkSession, d: String) =>
        TextAnalysis.compressionBandCheck(docs(s, d)),
      Some("""SELECT doc_id, length(text)::INT AS len_chars,
       strlen(text)::INT AS len_bytes,
       TRUE AS deflate_ge_floor,
       TRUE AS deflate_le_bound
FROM documents ORDER BY doc_id""")),

    // NFC canonical composition before hashing — DuckDB nfc_normalize twin.
    ("text_nfc",
      (s: SparkSession, d: String) => TextAnalysis.nfcDigest(docs(s, d)),
      Some("""SELECT doc_id, md5(nfc_normalize(text)) AS nfc_md5,
       length(nfc_normalize(text))::INT AS nfc_len
FROM documents ORDER BY doc_id""")),

    ("pii_scrub",
      (s: SparkSession, d: String) => {
        import org.apache.spark.sql.functions._
        TextAnalysis.piiScrub(docs(s, d))
          .select(col("doc_id"), col("n_emails"), col("n_urls"),
            md5(col("scrubbed")).as("scrub_md5"))
      },
      Some(s"""SELECT doc_id,
       len(regexp_extract_all(text, '${TextAnalysis.emailPattern}')) AS n_emails,
       len(regexp_extract_all(text, '${TextAnalysis.urlPattern}')) AS n_urls,
       md5(regexp_replace(
             regexp_replace(text, '${TextAnalysis.emailPattern}', '<EMAIL>', 'g'),
             '${TextAnalysis.urlPattern}', '<URL>', 'g')) AS scrub_md5
FROM documents ORDER BY doc_id""")),

    // Gopher repetition filters (overlap-agnostic coverage — see
    // TextAnalysis.repetitionStats): dup-token fraction, most-covering
    // 2-/3-gram char fraction, duplicated-5-gram char fraction, and the
    // published keep thresholds (0.20 / 0.18 / 0.15).
    ("quality_repetition",
      (s: SparkSession, d: String) => TextAnalysis.repetitionStats(docs(s, d)),
      Some(s"""WITH t AS (SELECT doc_id, length(text) AS len_chars, $toksSql AS toks FROM documents),
g AS (
  SELECT doc_id, len_chars, 1 AS n, unnest(toks) AS gram FROM t
  UNION ALL
  SELECT doc_id, len_chars, 2 AS n, unnest(CASE WHEN len(toks) >= 2
    THEN list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
    ELSE [] END) AS gram FROM t
  UNION ALL
  SELECT doc_id, len_chars, 3 AS n, unnest(CASE WHEN len(toks) >= 3
    THEN list_transform(range(1, len(toks)-1),
           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
    ELSE [] END) AS gram FROM t
  UNION ALL
  SELECT doc_id, len_chars, 5 AS n, unnest(CASE WHEN len(toks) >= 5
    THEN list_transform(range(1, len(toks)-3),
           i -> array_to_string(list_slice(toks, i, i+4), ' '))
    ELSE [] END) AS gram FROM t),
c AS (SELECT doc_id, max(len_chars) AS len_chars, n, gram,
             count(*) AS cnt, count(*) * length(gram) AS cov
      FROM g GROUP BY doc_id, n, gram),
m AS (SELECT doc_id, max(len_chars) AS len_chars,
  (sum(CASE WHEN n = 1 AND cnt >= 2 THEN cnt ELSE 0 END))::DOUBLE
    / (sum(CASE WHEN n = 1 THEN cnt ELSE 0 END)) AS dup_token_frac,
  (coalesce(max(CASE WHEN n = 2 THEN cov END), 0))::DOUBLE
    / greatest(max(len_chars), 1) AS top_bigram_char_frac,
  (coalesce(max(CASE WHEN n = 3 THEN cov END), 0))::DOUBLE
    / greatest(max(len_chars), 1) AS top_trigram_char_frac,
  (sum(CASE WHEN n = 5 AND cnt >= 2 THEN cov ELSE 0 END))::DOUBLE
    / greatest(max(len_chars), 1) AS dup_5gram_char_frac
FROM c GROUP BY doc_id)
SELECT doc_id, len_chars, dup_token_frac, top_bigram_char_frac,
       top_trigram_char_frac, dup_5gram_char_frac,
       (top_bigram_char_frac <= 0.20 AND top_trigram_char_frac <= 0.18
        AND dup_5gram_char_frac <= 0.15) AS keep
FROM m ORDER BY doc_id""")),

    // Context-window packing (GPT-style concat-and-split at 512 tokens):
    // exclusive global token offset in doc_id order, plus the first/last
    // window each doc's tokens occupy. The Spark side computes the global
    // prefix sum WITHOUT a single-partition window (Packing.withGlobalOffset).
    ("pack_windows",
      (s: SparkSession, d: String) =>
        graft.ext.Packing.packWindows(docs(s, d), budget = 512),
      Some(s"""WITH t AS (SELECT doc_id, len($toksSql)::BIGINT AS n_tok FROM documents),
o AS (SELECT doc_id, n_tok,
        (coalesce(sum(n_tok) OVER (ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))::BIGINT
          AS tok_offset
      FROM t)
$packWindowsSql""")),

    // Temperature-scaled source-mixing weights (α = 0.7): the normalizer
    // sums as DECIMAL so float association order can't shift the hash.
    ("source_mixture",
      (s: SparkSession, d: String) => TextAnalysis.sourceMixture(docs(s, d)),
      Some(s"""WITH per AS (SELECT source, count(*) AS n_docs,
         (sum(len($toksSql)))::BIGINT AS n_tokens
  FROM documents GROUP BY source),
tot AS (SELECT (sum(n_tokens))::BIGINT AS tot_tokens FROM per),
sh AS (SELECT source, n_docs, n_tokens,
         n_tokens::DOUBLE / tot_tokens AS token_share,
         pow(n_tokens::DOUBLE / tot_tokens, 0.7) AS pa
  FROM per, tot),
z AS (SELECT (sum(pa::DECIMAL(28,18)))::DOUBLE AS z FROM sh)
SELECT source, n_docs, n_tokens,
       round(token_share, 6) AS token_share_r,
       round(pa / z, 6) AS mix_weight_r
FROM sh, z ORDER BY source""")),

    // Doc-level PMI collocations over the top-100 vocabulary (≥ 5
    // co-occurrences, top-50 by PMI). ln-sum form is overflow-free and
    // term-order-identical in both engines.
    ("token_pmi",
      (s: SparkSession, d: String) => TextAnalysis.tokenPmi(docs(s, d)),
      Some(s"""WITH tok AS (SELECT DISTINCT doc_id, token
  FROM (SELECT doc_id, unnest($toksSql) AS token FROM documents)
  WHERE length(token) > 0),
v AS (SELECT token, count(*) AS n_a FROM tok GROUP BY token
      ORDER BY n_a DESC, token LIMIT 100),
tv AS (SELECT tok.doc_id, tok.token FROM tok JOIN v USING (token)),
p AS (SELECT a.token AS t1, b.token AS t2, count(*) AS c_ab
      FROM tv a JOIN tv b ON a.doc_id = b.doc_id AND a.token < b.token
      GROUP BY 1, 2 HAVING count(*) >= 5),
n AS (SELECT count(*) AS n_docs FROM documents)
SELECT t1, t2, c_ab,
       round(ln(c_ab::DOUBLE) + ln(n_docs::DOUBLE)
             - ln(va.n_a::DOUBLE) - ln(vb.n_a::DOUBLE), 4) AS pmi
FROM p JOIN v va ON va.token = p.t1 JOIN v vb ON vb.token = p.t2, n
ORDER BY pmi DESC, t1, t2 LIMIT 50""")),

    // Deterministic weighted sample (Efraimidis–Spirakis A-ES with
    // content-md5 uniforms): top-25 docs by ln(u)/quality — selection
    // probability ∝ quality, reproducible across engines and runs.
    ("weighted_sample",
      (s: SparkSession, d: String) => TextAnalysis.weightedSample(docs(s, d)),
      Some(s"""WITH q AS (SELECT ${qualityInputs("doc_id, text")} FROM documents),
w AS (SELECT doc_id,
        greatest($qualitySql,
          0.001) AS w,
        CAST('0x' || substring(md5($normSql), 1, 13) AS UBIGINT)::DOUBLE
          / 4503599627370496 AS u
  FROM q)
SELECT doc_id, round(w, 6) AS w_r, round(ln(u) / w, 6) AS es_key_r
FROM w ORDER BY es_key_r DESC, doc_id LIMIT 25""")),

    // Per-source stratified A-ES sample: top-5 by ln(u)/quality within
    // each source — balanced representation a global top-k can't give.
    ("stratified_sample",
      (s: SparkSession, d: String) => TextAnalysis.stratifiedSample(docs(s, d)),
      Some(s"""WITH q AS (SELECT ${qualityInputs("doc_id, source, text")} FROM documents),
w AS (SELECT doc_id, source,
        greatest($qualitySql,
          0.001) AS wt,
        CAST('0x' || substring(md5($normSql), 1, 13) AS UBIGINT)::DOUBLE
          / 4503599627370496 AS u
  FROM q),
k AS (SELECT source, doc_id, wt, ln(u) / wt AS es_key,
             row_number() OVER (PARTITION BY source
               ORDER BY ln(u) / wt DESC, doc_id) AS rk
      FROM w)
SELECT source, rk::INT AS rk, doc_id, round(wt, 6) AS w_r,
       round(es_key, 6) AS es_key_r
FROM k WHERE rk <= 5 ORDER BY source, rk""")),

    // Length-bucketed batch assembly (padding minimization): 64-token
    // buckets, deterministic in-bucket order, 8-doc batches, exact
    // pad-to-max waste per batch.
    ("length_bucket_batches",
      (s: SparkSession, d: String) =>
        TextAnalysis.lengthBucketBatches(docs(s, d)),
      Some(s"""WITH t AS (SELECT doc_id, len($toksSql)::BIGINT AS n_tok FROM documents),
b AS (SELECT doc_id, n_tok, n_tok // 64 AS bucket,
             (row_number() OVER (PARTITION BY n_tok // 64
                ORDER BY n_tok, doc_id) - 1) // 8 AS batch_idx
      FROM t)
SELECT bucket, batch_idx, count(*) AS n_docs,
       min(doc_id) AS first_doc, max(doc_id) AS last_doc,
       (sum(n_tok))::BIGINT AS sum_tok, max(n_tok) AS max_tok,
       (count(*) * max(n_tok) - sum(n_tok))::BIGINT AS pad_waste
FROM b GROUP BY bucket, batch_idx ORDER BY bucket, batch_idx""")),

    // Batch twin of the streaming corpus-ingest gate (CorpusIngest):
    // quality filter → first-per-fingerprint dedup → decontamination
    // against the probe slice (benchmark docs themselves are dropped —
    // no self-exclusion). Pins the streaming plan's semantics.
    ("corpus_clean",
      (s: SparkSession, d: String) =>
        graft.streaming.CorpusIngest.cleanBatch(docs(s, d)),
      Some(s"""WITH q AS (SELECT ${qualityInputs("doc_id, source, text")} FROM documents),
sc AS (SELECT doc_id, source, md5($normSql) AS fp,
         $qualitySql AS quality
       FROM q),
f AS (SELECT * FROM sc WHERE quality >= 0.3),
$gateDedupCtes
SELECT doc_id, source, fp, round(quality, 6) AS quality_r
FROM r WHERE rn = 1 AND fp NOT IN (SELECT fp FROM p)
ORDER BY doc_id""")),

    // The gate's training-shard form with PII redacted at the output:
    // fingerprints key on RAW bytes (stream/batch twins stay identical;
    // docs differing only inside a redacted span stay distinct), the
    // landed text substitutes emails/IPs/phones.
    ("corpus_clean_redacted",
      (s: SparkSession, d: String) =>
        graft.streaming.CorpusIngest.cleanBatchRedacted(docs(s, d)),
      Some(s"""WITH q AS (SELECT ${qualityInputs("doc_id, source, text")} FROM documents),
sc AS (SELECT doc_id, source, text, md5($normSql) AS fp,
         $qualitySql AS quality
       FROM q),
f AS (SELECT * FROM sc WHERE quality >= 0.3),
$gateDedupCtes
SELECT doc_id, source, fp, round(quality, 6) AS quality_r,
       (len(regexp_extract_all(text, '${TextAnalysis.emailPattern}'))
        + len(regexp_extract_all(text, '${TextAnalysis.phonePat}'))
        + len(regexp_extract_all(text, '${TextAnalysis.ipv4Pat}')))::INT AS n_pii,
       md5(regexp_replace(regexp_replace(regexp_replace(text,
         '${TextAnalysis.emailPattern}', '<EMAIL>', 'g'),
         '${TextAnalysis.ipv4Pat}', '<IP>', 'g'),
         '${TextAnalysis.phonePat}', '<PHONE>', 'g')) AS redacted_md5
FROM r WHERE rn = 1 AND fp NOT IN (SELECT fp FROM p)
ORDER BY doc_id""")),

    // Token-budget-enforced corpus cleaning (VERDICT r7 item 4): the
    // corpus_clean gate, then each source keeps its doc_id-order prefix
    // until its √-temperature token grant over the CLEAN mass is
    // covered (exclusive-prefix straddle) — the batch twin that pins
    // cleanStreamBudget's online grant tracking.
    ("corpus_clean_budget",
      (s: SparkSession, d: String) =>
        graft.streaming.CorpusIngest.cleanBatchBudget(docs(s, d)),
      Some(s"""WITH q AS (SELECT ${qualityInputs("doc_id, source, text")} FROM documents),
sc AS (SELECT doc_id, source, md5($normSql) AS fp,
         $qualitySql AS quality,
         len(toks)::BIGINT AS n_tok
       FROM q),
f AS (SELECT * FROM sc WHERE quality >= 0.3),
$gateDedupCtes,
clean AS (SELECT doc_id, source, fp, round(quality, 6) AS quality_r, n_tok
          FROM r WHERE rn = 1 AND fp NOT IN (SELECT fp FROM p)),
c AS (SELECT source, sum(n_tok)::BIGINT AS n_tokens FROM clean GROUP BY source),
w AS (SELECT source, n_tokens, CAST(floor(sqrt(n_tokens::DOUBLE) * 1e6) AS BIGINT) AS weight FROM c),
tt AS (SELECT sum(n_tokens)::BIGINT AS total, sum(weight)::BIGINT AS w_sum FROM w),
qq AS (SELECT source, weight,
        (((total // 2)::HUGEINT) * weight) // w_sum AS base,
        (((total // 2)::HUGEINT) * weight) % w_sum AS rem,
        total // 2 AS budget
      FROM w CROSS JOIN tt),
l AS (SELECT min(budget) - sum(base) AS leftover FROM qq),
rr AS (SELECT qq.source, qq.base, qq.rem, l.leftover FROM qq CROSS JOIN l),
a AS (SELECT r2.source,
             least(base + CASE WHEN row_number() OVER (ORDER BY rem DESC, r2.source)
                               <= leftover THEN 1 ELSE 0 END,
                   c.n_tokens)::BIGINT AS granted
      FROM rr r2 JOIN c ON c.source = r2.source),
pf AS (SELECT clean.*,
        coalesce(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS tok_pfx
      FROM clean)
SELECT pf.doc_id, pf.source, pf.fp, pf.quality_r, pf.n_tok, pf.tok_pfx, a.granted
FROM pf JOIN a ON pf.source = a.source WHERE pf.tok_pfx < a.granted
ORDER BY pf.doc_id""")),

    // Perplexity-gated corpus cleaning: the LM stage composed into the
    // gate chain — quality floor, drop the worst-10% avg-NLL tail under
    // the corpus-trained unigram LM (self-calibrating cutoff), exact-fp
    // dedup, decontamination.
    ("corpus_clean_perplexity",
      (s: SparkSession, d: String) =>
        graft.streaming.CorpusIngest.cleanBatchPerplexity(docs(s, d)),
      Some(s"""WITH toksn AS (SELECT doc_id, unnest($toksSql) AS t FROM documents),
v AS (SELECT t, count(*)::BIGINT AS n FROM toksn GROUP BY t),
tot AS (SELECT sum(n)::BIGINT AS total, count(*)::BIGINT AS vsz FROM v),
ulp AS (SELECT t, CAST(ln((n + 0.5) / (total + 0.5*(vsz+1))) AS DECIMAL(28,12)) AS lp
  FROM v CROSS JOIN tot),
sd AS (SELECT toksn.doc_id, sum(ulp.lp) AS slp, count(*)::BIGINT AS n_tokens
  FROM toksn JOIN ulp ON toksn.t = ulp.t GROUP BY toksn.doc_id),
pp AS (SELECT doc_id, round(-(slp::DOUBLE)/n_tokens, 6) AS avg_nll_r,
         round(exp(round(-(slp::DOUBLE)/n_tokens, 6)), 4) AS ppl_r FROM sd),
cut AS (SELECT quantile_cont(avg_nll_r, 0.9) AS cut FROM pp),
q AS (SELECT ${qualityInputs("doc_id, source, text")} FROM documents),
sc AS (SELECT doc_id, source, md5($normSql) AS fp,
         $qualitySql AS quality
       FROM q),
f AS (SELECT sc.*, pp.ppl_r FROM sc JOIN pp ON sc.doc_id = pp.doc_id
      WHERE sc.quality >= 0.3 AND pp.avg_nll_r <= (SELECT cut FROM cut)),
$gateDedupCtes
SELECT doc_id, source, fp, round(quality, 6) AS quality_r, ppl_r
FROM r WHERE rn = 1 AND fp NOT IN (SELECT fp FROM p)
ORDER BY doc_id""")),

    // Fixed-vocab (top-4096) nano-nat LM gate — the batch twin of the
    // DEPLOYABLE streaming form (cleanStreamLm: broadcast model,
    // stateless mapPartitions scoring). Integer log-prob sums are exact
    // and order-free, and floor-quantization is engine-identical.
    ("corpus_clean_lm",
      (s: SparkSession, d: String) =>
        graft.streaming.CorpusIngest.cleanBatchLm(docs(s, d)),
      Some(s"""WITH toksn AS (SELECT doc_id, unnest($toksSql) AS t FROM documents),
v AS (SELECT t, count(*)::BIGINT AS n FROM toksn GROUP BY t),
tot AS (SELECT sum(n)::BIGINT AS total, count(*)::BIGINT AS vsz FROM v),
topk AS (SELECT r.t,
    CAST(floor(ln((r.n + 0.5) / (tot.total + (tot.vsz + 1) * 0.5)) * 1e9) AS BIGINT) AS lpn
  FROM (SELECT t, n, row_number() OVER (ORDER BY n DESC, t) AS rk FROM v) r
  CROSS JOIN tot WHERE r.rk <= 4096),
u AS (SELECT CAST(floor(ln(0.5 / (total + (vsz + 1) * 0.5)) * 1e9) AS BIGINT) AS unk
  FROM tot),
sd AS (SELECT toksn.doc_id,
         sum(coalesce(topk.lpn, (SELECT unk FROM u)))::BIGINT AS s,
         count(*)::BIGINT AS n_tokens
       FROM toksn LEFT JOIN topk ON toksn.t = topk.t GROUP BY toksn.doc_id),
pp AS (SELECT doc_id, round(-(s::DOUBLE / 1e9) / n_tokens, 6) AS avg_nll_r FROM sd),
cut AS (SELECT quantile_cont(avg_nll_r, 0.9) AS cut FROM pp),
q AS (SELECT ${qualityInputs("doc_id, source, text")} FROM documents),
sc AS (SELECT doc_id, source, md5($normSql) AS fp,
         $qualitySql AS quality
       FROM q),
f AS (SELECT sc.*, pp.avg_nll_r FROM sc JOIN pp ON sc.doc_id = pp.doc_id
      WHERE sc.quality >= 0.3 AND pp.avg_nll_r <= (SELECT cut FROM cut)),
$gateDedupCtes
SELECT doc_id, source, fp, round(quality, 6) AS quality_r, avg_nll_r
FROM r WHERE rn = 1 AND fp NOT IN (SELECT fp FROM p)
ORDER BY doc_id""")),

    // DSIR-selected corpus gate (batch twin of cleanStreamDsir): quality
    // → fixed-vocab nano-ratio DSIR score ≥ the corpus median → exact-fp
    // dedup → decontamination. The deployable "make the firehose look
    // like the target slice" stage, composed into the standard gate.
    ("corpus_clean_dsir",
      (s: SparkSession, d: String) =>
        graft.streaming.CorpusIngest.cleanBatchDsir(docs(s, d)),
      Some(s"""WITH toksn AS (SELECT doc_id, lang, unnest($toksSql) AS t FROM documents),
rv AS (SELECT t, count(*)::BIGINT AS n FROM toksn GROUP BY t),
rt AS (SELECT sum(n)::BIGINT AS total, count(*)::BIGINT AS vsz FROM rv),
tvv AS (SELECT t, count(*)::BIGINT AS nt FROM toksn WHERE lang = 'en' GROUP BY t),
tt AS (SELECT sum(nt)::BIGINT AS total, count(*)::BIGINT AS vsz FROM tvv),
topk AS (SELECT z.t,
    CAST(floor((ln((coalesce(z.nt, 0) + 0.5) / (tt.total + (tt.vsz + 1) * 0.5))
         - ln((z.n + 0.5) / (rt.total + (rt.vsz + 1) * 0.5))) * 1e9) AS BIGINT) AS rn
  FROM (SELECT rv.t, rv.n, tvv.nt, row_number() OVER (ORDER BY rv.n DESC, rv.t) AS rk
        FROM rv LEFT JOIN tvv ON rv.t = tvv.t) z
  CROSS JOIN rt CROSS JOIN tt WHERE z.rk <= 4096),
u AS (SELECT CAST(floor((ln(0.5 / (tt.total + (tt.vsz + 1) * 0.5))
         - ln(0.5 / (rt.total + (rt.vsz + 1) * 0.5))) * 1e9) AS BIGINT) AS unk
  FROM rt CROSS JOIN tt),
sd AS (SELECT toksn.doc_id,
         sum(coalesce(topk.rn, (SELECT unk FROM u)))::BIGINT AS s,
         count(*)::BIGINT AS n_tokens
       FROM toksn LEFT JOIN topk ON toksn.t = topk.t GROUP BY toksn.doc_id),
ww AS (SELECT doc_id, round((s::DOUBLE / 1e9) / n_tokens, 6) AS avg_logw_r FROM sd),
cut AS (SELECT quantile_cont(avg_logw_r, 0.5) AS cut FROM ww),
q AS (SELECT ${qualityInputs("doc_id, source, text")} FROM documents),
sc AS (SELECT doc_id, source, md5($normSql) AS fp,
         $qualitySql AS quality
       FROM q),
f AS (SELECT sc.*, ww.avg_logw_r FROM sc JOIN ww ON sc.doc_id = ww.doc_id
      WHERE sc.quality >= 0.3 AND ww.avg_logw_r >= (SELECT cut FROM cut)),
$gateDedupCtes
SELECT doc_id, source, fp, round(quality, 6) AS quality_r, avg_logw_r
FROM r WHERE rn = 1 AND fp NOT IN (SELECT fp FROM p)
ORDER BY doc_id""")),

    // Semantic-aware corpus gate (batch twin of the streaming tier's
    // cleanStreamSemantic): quality → exact-fp dedup → embedding
    // sign-cell dedup (axis-hyperplane SimHash: the coarse LSH cell a
    // streaming state store can key on) → decontamination.
    ("corpus_clean_semantic",
      (s: SparkSession, d: String) =>
        graft.streaming.CorpusIngest.cleanBatchSemantic(docs(s, d), embs(s, d)),
      Some(s"""WITH de AS (SELECT d.doc_id, d.source, d.text,
    array_to_string(list_transform(e.embedding,
      x -> CASE WHEN isnan(x) THEN '0' WHEN x > 0 THEN '1' ELSE '0' END), '') AS sem_fp
  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id),
q AS (SELECT ${qualityInputs("doc_id, source, text, sem_fp")} FROM de),
sc AS (SELECT doc_id, source, sem_fp, md5($normSql) AS fp,
         $qualitySql AS quality
       FROM q),
f AS (SELECT * FROM sc WHERE quality >= 0.3),
r1 AS (SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn FROM f),
e1 AS (SELECT * FROM r1 WHERE rn = 1),
r2 AS (SELECT *, row_number() OVER (PARTITION BY sem_fp ORDER BY doc_id) AS rn2 FROM e1),
p AS (SELECT DISTINCT md5($normSql) AS fp FROM documents WHERE doc_id % 50 = 0)
SELECT doc_id, source, fp, round(quality, 6) AS quality_r
FROM r2 WHERE rn2 = 1 AND fp NOT IN (SELECT fp FROM p)
ORDER BY doc_id""")),

    // Adaptive per-language quality filter: keep docs at/above their
    // language's median quality (a global bar tuned on one language
    // silently guts the others).
    ("quality_adaptive_keep",
      (s: SparkSession, d: String) =>
        TextAnalysis.adaptiveQualityKeep(docs(s, d)),
      Some(s"""WITH q AS (SELECT ${qualityInputs("doc_id, lang, text")} FROM documents),
sc AS (SELECT doc_id, lang,
         $qualitySql AS quality
       FROM q),
m AS (SELECT lang, quantile_cont(quality, 0.5) AS median_q FROM sc GROUP BY lang)
SELECT sc.doc_id, sc.lang, round(sc.quality, 6) AS quality_r,
       round(m.median_q, 6) AS median_q_r
FROM sc JOIN m USING (lang)
WHERE sc.quality >= m.median_q
ORDER BY sc.doc_id""")),

    // All-vectors k-NN graph over multi-probe IVF cells (deterministic
    // strided centroids → fully oracle-able, unlike approximate all-kNN
    // builds): each vector's candidates are the residents of its 2
    // nearest cells, so boundary vectors see the neighboring cell too.
    ("knn_graph",
      (s: SparkSession, d: String) =>
        Similarity.knnGraph(embs(s, d), k = 3),
      Some(s"""WITH $knnGraphCtes
SELECT vec_id, rnk::INT AS rnk, nbr_id, sim_r FROM r WHERE rnk <= 3
ORDER BY vec_id, rnk""")),

    // Measured recall of the multi-probe graph vs the exact quadratic
    // k-NN graph — the approximation quantified every run (full oracle).
    // The exact top-3 ground truth runs as 3 order-free max-of-[sim,-id]
    // passes (k sequential hash aggregates, each excluding the prior
    // winners) instead of one row_number window over all N² pairs: the
    // window had to materialize and sort the whole cross product, which
    // OOMed the driver's memory-constrained DuckDB host (VERDICT r9
    // item 1); the k-pass form streams with per-group constant state and
    // picks the identical (sim DESC, nbr_id ASC) winners.
    ("knn_graph_recall",
      (s: SparkSession, d: String) =>
        Similarity.knnGraphRecall(embs(s, d), k = 3),
      Some(s"""WITH $knnGraphCtes,
gr AS (SELECT vec_id, nbr_id FROM r WHERE rnk <= 3),
x1 AS (SELECT x.vec_id,
             max([(${dotSql("x.v", "y.v")}) / (x.nrm * y.nrm), -(y.vec_id::DOUBLE)]) AS w
      FROM n x JOIN n y ON x.vec_id <> y.vec_id
      GROUP BY x.vec_id),
x2 AS (SELECT x.vec_id,
             max([(${dotSql("x.v", "y.v")}) / (x.nrm * y.nrm), -(y.vec_id::DOUBLE)]) AS w
      FROM n x JOIN n y ON x.vec_id <> y.vec_id
      JOIN x1 p1 ON p1.vec_id = x.vec_id
      WHERE y.vec_id <> (-p1.w[2])::BIGINT
      GROUP BY x.vec_id),
x3 AS (SELECT x.vec_id,
             max([(${dotSql("x.v", "y.v")}) / (x.nrm * y.nrm), -(y.vec_id::DOUBLE)]) AS w
      FROM n x JOIN n y ON x.vec_id <> y.vec_id
      JOIN x1 p1 ON p1.vec_id = x.vec_id
      JOIN x2 p2 ON p2.vec_id = x.vec_id
      WHERE y.vec_id <> (-p1.w[2])::BIGINT AND y.vec_id <> (-p2.w[2])::BIGINT
      GROUP BY x.vec_id),
exk AS (SELECT vec_id, (-w[2])::BIGINT AS nbr_id FROM x1
        UNION ALL SELECT vec_id, (-w[2])::BIGINT FROM x2
        UNION ALL SELECT vec_id, (-w[2])::BIGINT FROM x3),
pv AS (SELECT e.vec_id,
             sum(CASE WHEN a.nbr_id IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE
               / count(*) AS recall
      FROM exk e LEFT JOIN gr a
        ON a.vec_id = e.vec_id AND a.nbr_id = e.nbr_id
      GROUP BY e.vec_id)
SELECT count(*)::BIGINT AS n_vectors,
       round(avg(recall), 6) AS mean_recall_r,
       round(min(recall), 6) AS min_recall_r
FROM pv""")),

    // Graph-based semantic clusters: connected components over the k-NN
    // graph's ≥-threshold edges — cluster granularity from the measured
    // neighbor structure instead of one-shot IVF cell assignment. The
    // oracle closes the same edge set with a recursive CTE (min
    // reachable id ≡ the operator's min-label fixpoint).
    ("knn_clusters",
      (s: SparkSession, d: String) =>
        Similarity.knnClustersAt(s, d, k = 3, threshold = 0.4),
      Some(s"""WITH RECURSIVE $knnClosureCtes
SELECT u AS doc_id, (min(v))::BIGINT AS cluster_id
FROM cc GROUP BY u ORDER BY doc_id""")),

    // Cluster-size histograms of the two semantic clusterings at the
    // same threshold — k-NN-graph components vs the IVF-cell pair
    // components SemDeDup uses; the policy-choice comparison view.
    ("knn_cluster_stats",
      (s: SparkSession, d: String) =>
        Similarity.knnVsCellClustersAt(s, d, k = 3, threshold = 0.4),
      Some(s"""WITH RECURSIVE $knnClosureCtes,
kcl AS (SELECT u AS doc_id, min(v) AS cluster_id FROM cc GROUP BY u),
sp AS MATERIALIZED (SELECT x.vec_id AS id_a, y.vec_id AS id_b
       FROM hm x JOIN hm y ON x.cell = y.cell AND x.vec_id < y.vec_id
       WHERE (${dotSql("x.v", "y.v")}) / (x.nrm * y.nrm) >= 0.4),
sed AS MATERIALIZED (SELECT id_a AS u, id_b AS v FROM sp
        UNION ALL SELECT id_b, id_a FROM sp),
scc AS (SELECT u, u AS v FROM (SELECT DISTINCT u FROM sed) nn2
        UNION
        SELECT scc.u, sed.v FROM scc JOIN sed ON scc.v = sed.u),
scl AS (SELECT u AS doc_id, min(v) AS cluster_id FROM scc GROUP BY u),
hk AS (SELECT cluster_id, count(*)::BIGINT AS cluster_size
       FROM kcl GROUP BY cluster_id),
hs AS (SELECT cluster_id, count(*)::BIGINT AS cluster_size
       FROM scl GROUP BY cluster_id),
u AS (SELECT 'knn_graph' AS method, cluster_size,
             count(*)::BIGINT AS n_clusters
      FROM hk GROUP BY cluster_size
      UNION ALL
      SELECT 'ivf_cell' AS method, cluster_size,
             count(*)::BIGINT AS n_clusters
      FROM hs GROUP BY cluster_size)
SELECT method, cluster_size, n_clusters FROM u
ORDER BY method, cluster_size""")),

    // Near-dup pairs straddling train/val — the leakage a content-keyed
    // split can still have (exact-dup leakage is impossible by
    // construction; near-dups hash differently).
    ("split_leakage",
      (s: SparkSession, d: String) => TextAnalysis.splitLeakage(docs(s, d)),
      Some(s"""WITH $jaccardPairCtes,
sp AS (SELECT doc_id,
              CASE WHEN substring(md5($normSql), 1, 2) < 'f3'
                   THEN 'train' ELSE 'val' END AS split
       FROM documents)
SELECT p.doc_a, p.doc_b, sa.split AS split_a, sb.split AS split_b
FROM p JOIN sp sa ON sa.doc_id = p.doc_a
       JOIN sp sb ON sb.doc_id = p.doc_b
WHERE sa.split <> sb.split
ORDER BY doc_a, doc_b""")),

    // Pairwise source similarity over top-50 vocabularies — the corpus
    // drift/diversity matrix a mixing strategy consults.
    ("source_vocab_overlap",
      (s: SparkSession, d: String) =>
        TextAnalysis.sourceVocabOverlap(docs(s, d)),
      Some(s"""WITH tok AS (SELECT source, unnest($toksSql) AS token FROM documents),
cnt AS (SELECT source, token, count(*) AS n FROM tok
        WHERE length(token) > 0 GROUP BY source, token),
tk AS (SELECT source, token,
              row_number() OVER (PARTITION BY source
                ORDER BY n DESC, token) AS rk
       FROM cnt),
topk AS (SELECT source, token FROM tk WHERE rk <= 50),
i AS (SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_shared
      FROM topk a JOIN topk b ON a.token = b.token AND a.source < b.source
      GROUP BY 1, 2),
sz AS (SELECT source, count(*) AS sz FROM topk GROUP BY source)
SELECT i.src_a, i.src_b, i.n_shared,
       round(i.n_shared::DOUBLE / (za.sz + zb.sz - i.n_shared), 6)
         AS vocab_jaccard
FROM i JOIN sz za ON za.source = i.src_a JOIN sz zb ON zb.source = i.src_b
ORDER BY src_a, src_b""")),

    // Drop-reason accounting for the corpus gate (sums to corpus size).
    ("corpus_clean_report",
      (s: SparkSession, d: String) =>
        graft.streaming.CorpusIngest.cleanReport(docs(s, d)),
      Some(s"""WITH q0 AS (SELECT ${qualityInputs("doc_id, text")} FROM documents),
sc AS (SELECT doc_id, md5($normSql) AS fp,
         $qualitySql AS quality
       FROM q0),
r AS (SELECT *, CASE WHEN quality >= 0.3 THEN
         row_number() OVER (PARTITION BY fp, (quality >= 0.3)
           ORDER BY doc_id) END AS rn
      FROM sc),
p AS (SELECT DISTINCT md5($normSql) AS fp FROM documents WHERE doc_id % 50 = 0)
SELECT outcome, count(*) AS n_docs FROM (
  SELECT CASE WHEN quality < 0.3 THEN 'quality_reject'
              WHEN rn > 1 THEN 'duplicate'
              WHEN fp IN (SELECT fp FROM p) THEN 'contaminated'
              ELSE 'kept' END AS outcome
  FROM r) GROUP BY outcome ORDER BY outcome""")),

    ("train_val_split",
      (s: SparkSession, d: String) => TextAnalysis.trainValSplit(docs(s, d)),
      Some(s"""SELECT doc_id, substring(md5($normSql), 1, 2) AS bucket_hex,
       CASE WHEN substring(md5($normSql), 1, 2) < 'f3'
            THEN 'train' ELSE 'val' END AS split
FROM documents ORDER BY doc_id""")),

    // Sliding-window token chunking (50-token chunks every 40 tokens);
    // chunk content compared by md5 to keep the gate's payload small.
    ("doc_chunks",
      (s: SparkSession, d: String) => TextAnalysis.chunk(docs(s, d)),
      Some(s"""WITH t AS (SELECT doc_id, string_split($normSql, ' ') AS toks FROM documents),
s AS (SELECT doc_id, toks, unnest(range(0, greatest(len(toks), 1), 40)) AS start FROM t)
SELECT doc_id, (start // 40)::INT AS chunk_idx,
       len(list_slice(toks, start+1, start+50))::INT AS n_tok,
       md5(array_to_string(list_slice(toks, start+1, start+50), ' ')) AS chunk_md5
FROM s ORDER BY doc_id, chunk_idx""")),

    // Per-doc top-3 terms by TF-IDF (ln IDF, term tie-break).
    ("tfidf_topk",
      (s: SparkSession, d: String) => TextAnalysis.tfidfTopK(docs(s, d)),
      Some(s"""WITH toks AS (SELECT doc_id, unnest(string_split($normSql, ' ')) AS term
             FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks WHERE term <> '' GROUP BY 1, 2),
idf AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks WHERE term <> '' GROUP BY 1),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT doc_id, term, round(tf * ln(n_docs::DOUBLE / df), 6) AS tfidf,
         row_number() OVER (PARTITION BY doc_id
           ORDER BY tf * ln(n_docs::DOUBLE / df) DESC, term) AS rk
  FROM tf JOIN idf USING (term) CROSS JOIN n)
SELECT doc_id, term, tfidf, rk::INT AS rk FROM scored
WHERE rk <= 3 ORDER BY doc_id, rk""")),

    ("contamination",
      (s: SparkSession, d: String) => TextAnalysis.contamination(docs(s, d)),
      Some(s"""WITH f AS (SELECT doc_id, md5($normSql) AS fp FROM documents),
p AS (SELECT doc_id AS probe_id, fp FROM f WHERE doc_id % 50 = 0)
SELECT DISTINCT f.doc_id, f.fp FROM f
JOIN p ON f.fp = p.fp AND f.doc_id <> p.probe_id
ORDER BY f.doc_id""")),

    // Bloom prefilter for the same gate: the candidate SET is
    // engine-specific (false positives), but the defining no-false-
    // negative contract is exactly checkable — the registered form is
    // self-verifying (VERDICT r10 item 3): the must-contain set (probes
    // whose fingerprints were inserted + exactly-contaminated docs; the
    // near fingerprint, like contamination_bloom_verified, so the hit
    // path is exercised) with might-contain pinned TRUE by the oracle.
    // The raw candidate-set form stays TextAnalysis.contaminationBloom +
    // TextAnalysisSpec.
    ("contamination_bloom",
      (s: SparkSession, d: String) =>
        TextAnalysis.contaminationBloomNoFalseNeg(docs(s, d)),
      Some(s"""WITH $nearFpCtes,
p AS (SELECT doc_id AS probe_id, fp FROM f
      WHERE doc_id % 50 = 0 AND fp IS NOT NULL)
SELECT doc_id, 'probe' AS kind, TRUE AS in_bloom FROM f
WHERE doc_id % 50 = 0 AND fp IS NOT NULL
UNION ALL
SELECT DISTINCT f.doc_id, 'hit' AS kind, TRUE AS in_bloom
FROM f JOIN p ON f.fp = p.fp AND f.doc_id <> p.probe_id
ORDER BY kind, doc_id""")),

    // The composed Bloom-prefilter + exact-verify pipeline: the Bloom
    // stage only prunes (no false negatives), so the composed output
    // EQUALS the exact contamination gate — deterministic and fully
    // oracled even though the intermediate sketch is engine-specific.
    // Registered on the NEAR fingerprint (min-shingle md5): the exact key
    // has zero probe hits in this fixture, and a 0-row green proves
    // nothing — the near gate's 8 hits exercise both stages.
    ("contamination_bloom_verified",
      (s: SparkSession, d: String) =>
        TextAnalysis.contaminationBloomVerified(docs(s, d), near = true),
      Some(s"""WITH $nearFpCtes,
p AS (SELECT doc_id AS probe_id, fp FROM f WHERE doc_id % 50 = 0)
SELECT DISTINCT f.doc_id, f.fp FROM f
JOIN p ON f.fp = p.fp AND f.doc_id <> p.probe_id
ORDER BY f.doc_id""")),

    // N-gram span decontamination (GPT-3/PaLM method, n = 13): a doc is
    // contaminated if it shares ANY 13-token gram with a probe doc —
    // catches partial/quoted leakage whole-doc fingerprints miss.
    ("contamination_ngram",
      (s: SparkSession, d: String) =>
        TextAnalysis.contaminationNgram(docs(s, d)),
      Some(s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
$gram13Ctes,
p AS (SELECT doc_id AS probe_id, gh FROM h WHERE doc_id % 50 = 0)
SELECT h.doc_id, count(DISTINCT h.gh) AS n_shared
FROM h JOIN p ON h.gh = p.gh AND h.doc_id <> p.probe_id
GROUP BY h.doc_id ORDER BY h.doc_id""")),

    // Dataset-versioning diff: membership/content delta between two
    // corpus snapshots by content md5 — |delta|-sized output however
    // large the corpus. The fixture has one snapshot, so "current" is a
    // deterministic synthetic revision: every %10==0 doc removed,
    // every %10==5 doc revised (suffix), every %10==3 doc re-added
    // under a fresh id — exercising all three change classes.
    ("corpus_snapshot_diff",
      (s: SparkSession, d: String) => {
        import org.apache.spark.sql.functions._
        val prev = docs(s, d).select(col("doc_id"), col("text"))
        val curr = prev.where(pmod(col("doc_id"), lit(10)) =!= 0)
          .withColumn("text",
            when(pmod(col("doc_id"), lit(10)) === 5,
              concat(col("text"), lit(" [rev2]"))).otherwise(col("text")))
          .unionByName(prev.where(pmod(col("doc_id"), lit(10)) === 3)
            .select((col("doc_id") + lit(1000000L)).as("doc_id"),
              col("text")))
        Dedup.snapshotDiff(prev, curr)
      },
      Some("""WITH prev AS (SELECT doc_id, text FROM documents),
curr AS (SELECT doc_id,
           CASE WHEN doc_id % 10 = 5 THEN text || ' [rev2]' ELSE text END AS text
         FROM documents WHERE doc_id % 10 <> 0
         UNION ALL
         SELECT doc_id + 1000000 AS doc_id, text
         FROM documents WHERE doc_id % 10 = 3),
a AS (SELECT doc_id, md5(text) AS fp_prev FROM prev),
b AS (SELECT doc_id, md5(text) AS fp_curr FROM curr),
j AS (SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
        CASE WHEN b.doc_id IS NULL THEN 'removed'
             WHEN a.doc_id IS NULL THEN 'added'
             WHEN a.fp_prev <> b.fp_curr THEN 'changed' END AS change
      FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id)
SELECT doc_id, change FROM j WHERE change IS NOT NULL ORDER BY doc_id""")),

    // Per-held-out-doc memorization rate (Lee et al. 2022; Carlini-style
    // n-gram overlap proxy): fraction of each odd doc's distinct 8-grams
    // present anywhere in the even (training) half. Gram-keyed digest
    // join, never doc-pairs; the oracle computes the string-gram form
    // (equal modulo 64-bit hash collisions — the house caveat).
    ("memorization_rate",
      (s: SparkSession, d: String) => {
        import org.apache.spark.sql.functions._
        TextAnalysis.memorizationRate(docs(s, d),
          pmod(col("doc_id"), lit(2)) === 0)
      },
      Some(s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
g AS (SELECT doc_id,
             unnest(CASE WHEN len(toks) >= 8
               THEN list_distinct(list_transform(range(1, len(toks)-6),
                      i -> array_to_string(list_slice(toks, i, i+7), ' ')))
               ELSE [] END) AS gram
      FROM t),
tr AS (SELECT DISTINCT gram FROM g WHERE doc_id % 2 = 0),
j AS (SELECT g.doc_id, count(*)::BIGINT AS n_grams,
        sum(CASE WHEN tr.gram IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
          AS n_memorized
      FROM g LEFT JOIN tr ON tr.gram = g.gram
      WHERE g.doc_id % 2 = 1 GROUP BY g.doc_id)
SELECT doc_id, n_grams, n_memorized,
       round(n_memorized::DOUBLE / n_grams, 6) AS mem_rate_r
FROM j ORDER BY doc_id""")),

    // One-row contamination report across the three deterministic
    // methods — the eval-hygiene accounting a pipeline logs per run.
    ("contamination_summary",
      (s: SparkSession, d: String) =>
        TextAnalysis.contaminationSummary(docs(s, d)),
      Some(s"""WITH f AS (SELECT doc_id, md5($normSql) AS fp FROM documents),
fp AS (SELECT doc_id AS probe_id, fp FROM f WHERE doc_id % 50 = 0),
t AS (SELECT doc_id, $toksSql AS toks FROM documents),
s AS (SELECT doc_id, $shinglesSql AS sh FROM t),
nf AS (SELECT doc_id,
              list_aggregate(list_transform(sh, x -> md5(x)), 'min') AS fp
       FROM s),
np AS (SELECT doc_id AS probe_id, fp FROM nf WHERE doc_id % 50 = 0),
$gram13Ctes,
hp AS (SELECT doc_id AS probe_id, gh FROM h WHERE doc_id % 50 = 0)
SELECT (SELECT count(*) FROM documents)::BIGINT AS n_docs,
       (SELECT count(DISTINCT f.doc_id) FROM f
        JOIN fp ON f.fp = fp.fp AND f.doc_id <> fp.probe_id)::BIGINT AS exact_hits,
       (SELECT count(DISTINCT nf.doc_id) FROM nf
        JOIN np ON nf.fp = np.fp AND nf.doc_id <> np.probe_id)::BIGINT AS near_hits,
       (SELECT count(DISTINCT h.doc_id) FROM h
        JOIN hp ON h.gh = hp.gh AND h.doc_id <> hp.probe_id)::BIGINT AS ngram_hits""")),

    // Near-dup contamination: min-shingle fingerprint collisions catch
    // paraphrase-level benchmark leakage the exact key misses.
    ("contamination_near",
      (s: SparkSession, d: String) =>
        TextAnalysis.contamination(docs(s, d), near = true),
      Some(s"""WITH $nearFpCtes,
p AS (SELECT doc_id AS probe_id, fp FROM f WHERE doc_id % 50 = 0)
SELECT DISTINCT f.doc_id, f.fp FROM f
JOIN p ON f.fp = p.fp AND f.doc_id <> p.probe_id
ORDER BY f.doc_id""")),

    // -------------------------------------------------------- similarity
    // MMR diversified re-rank (Carbonell & Goldstein '98): greedy
    // λ·rel − (1−λ)·redundancy selection over the top-n cosine
    // candidates. The oracle replays the greedy as k unrolled argmax
    // stages over the same 6-dp-rounded sims (λ = 0.5 scales by an
    // exact power of two, so ordering by (qs − max_div) is the score
    // ordering); the reported value is the exact integer micro-units.
    ("sim_topk_mmr",
      (s: SparkSession, d: String) =>
        Similarity.mmrTopK(embs(s, d), numQueries = 10, n = 20, k = 10),
      Some(mmrSql(n = 20, k = 10))),

    // MMR over the IVF probe's candidate pool — the diversified-ANN
    // composition a serving stack actually runs (probe, then MMR the
    // page): same unrolled greedy spliced onto the IVF replay's `top`.
    ("sim_topk_ivf_mmr",
      (s: SparkSession, d: String) =>
        Similarity.mmrTopKIvf(embs(s, d), numQueries = 10, n = 20, k = 10),
      Some(mmrIvfSql(n = 20, k = 10))),

    ("sim_topk",
      (s: SparkSession, d: String) =>
        Similarity.cosineTopK(embs(s, d), numQueries = 10, k = 10)
          .withColumnRenamed("rank", "rnk"),
      Some(s"""WITH $embNormCtes,
$exactSimCtes,
${top10Sql("s")}""")),

    // The STREAMED media-embedding table (r14): raw payloads ingested
    // through MediaSink's checkpointed decode-gate (marker-fenced
    // foreachBatch, bucketed layout, read-side dedup restoring
    // exactly-once) serve the identical rows the batch operator
    // computes — so the streamed table rides the SAME oracle as
    // media_embedding. The replay/compact/restart semantics are pinned
    // by MediaSinkSpec; the bench measures SERVING (the table builds in
    // the warm-up, like every persisted index).
    ("media_embedding_materialized",
      (s: SparkSession, d: String) =>
        embeddingRows(graft.sinks.MediaSink.materialized(s, d)),
      Some(mediaEmbeddingSql)),

    // ------------------------------------------------- filtered ANN
    // Metadata-filtered vector search (the filter clause of every
    // production vector store): exact same-label top-k as ground truth,
    // the PRE-filtered IVF (predicate applied to probed-cell candidates
    // before any cosine — never starves below k while matches exist,
    // unlike post-filtering), and the per-query recall report card.
    ("sim_topk_filtered",
      (s: SparkSession, d: String) =>
        Similarity.cosineTopKFiltered(embs(s, d), numQueries = 10, k = 10)
          .withColumnRenamed("rank", "rnk"),
      Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
n AS (SELECT vec_id, v, label, sqrt(${dotSql("v", "v")}) AS nrm FROM e),
q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn, label AS ql FROM n WHERE vec_id < 10),
s AS (SELECT q.q_id, n.vec_id, (${dotSql("qv", "v")}) / (q.qn * n.nrm) AS sim
      FROM q JOIN n ON n.vec_id <> q.q_id AND n.label = q.ql),
${top10Sql("s")}""")),

    ("sim_topk_ivf_filtered",
      (s: SparkSession, d: String) =>
        Similarity.ivfTopKFiltered(embs(s, d), numQueries = 10, k = 10)
          .withColumnRenamed("rank", "rnk"),
      Some(s"""${ivfTopSql(10)},
lb AS (SELECT vec_id, label FROM embeddings),
fx AS (SELECT sx.q_id, sx.vec_id, sx.sim
       FROM sx JOIN lb ON lb.vec_id = sx.vec_id
       JOIN lb ql ON ql.vec_id = sx.q_id
       WHERE lb.label = ql.label),
fr AS (SELECT q_id, vec_id AS neighbor_id, round(sim, 6) AS sim_r,
              row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rnk
       FROM fx)
SELECT q_id, rnk, neighbor_id, sim_r FROM fr WHERE rnk <= 10
ORDER BY q_id, rnk""")),

    ("filtered_ann_recall",
      (s: SparkSession, d: String) =>
        Similarity.filteredAnnRecall(embs(s, d), numQueries = 10, k = 10),
      Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
n AS (SELECT vec_id, v, label, sqrt(${dotSql("v", "v")}) AS nrm FROM e),
q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn, label AS ql FROM n WHERE vec_id < 10),
s AS (SELECT q.q_id, n.vec_id, (${dotSql("qv", "v")}) / (q.qn * n.nrm) AS sim
      FROM q JOIN n ON n.vec_id <> q.q_id AND n.label = q.ql),
exk AS (SELECT q_id, vec_id FROM (
          SELECT q_id, vec_id,
                 row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rnk
          FROM s) z WHERE rnk <= 10),
c AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cn FROM n WHERE vec_id % 20 = 0),
a AS (SELECT n.vec_id, c.cent_id,
             row_number() OVER (PARTITION BY n.vec_id
               ORDER BY (${dotSql("v", "cv")}) / (n.nrm * c.cn) DESC, c.cent_id) AS rn
      FROM n CROSS JOIN c),
asg AS (SELECT n.vec_id, n.v, n.nrm, n.label, a.cent_id AS cell
        FROM a JOIN n ON n.vec_id = a.vec_id WHERE a.rn = 1),
p AS (SELECT q.q_id, q.qv AS qv2, q.qn, q.ql, c.cent_id AS cell,
             row_number() OVER (PARTITION BY q.q_id
               ORDER BY (${dotSql("qv", "cv")}) / (q.qn * c.cn) DESC, c.cent_id) AS rn
      FROM q CROSS JOIN c),
pr AS (SELECT q_id, qv2, qn, ql, cell FROM p WHERE rn <= 8),
fsx AS (SELECT pr.q_id, asg.vec_id, (${dotSql("qv2", "v")}) / (pr.qn * asg.nrm) AS sim
        FROM pr JOIN asg ON asg.cell = pr.cell
        WHERE asg.vec_id <> pr.q_id AND asg.label = pr.ql),
apk AS (SELECT q_id, vec_id FROM (
          SELECT q_id, vec_id,
                 row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rnk
          FROM fsx) z WHERE rnk <= 10)
SELECT exk.q_id, count(*)::BIGINT AS n_exact,
       count(apk.vec_id)::BIGINT AS n_hits,
       round(count(apk.vec_id)::DOUBLE / count(*), 6) AS recall_r
FROM exk LEFT JOIN apk ON apk.q_id = exk.q_id AND apk.vec_id = exk.vec_id
GROUP BY exk.q_id ORDER BY exk.q_id""")),

    // LSH-bucketed near-pairs (the 100 TB path for the same gate):
    // precision 1.0 by exact re-score; full oracle since round 9 — the
    // plane literals replay the buckets, the canonical bit-CLEARING
    // probe set replays the candidate generation.
    ("embedding_near_pairs_lsh",
      (s: SparkSession, d: String) =>
        Similarity.lshNearPairs(embs(s, d), threshold = 0.45),
      Some(s"""WITH $lshBucketsCte,
probes AS (SELECT vec_id, table_id, unnest(
    list_prepend(bucket,
      list_transform(
        list_filter([${(0 until Similarity.bitsPerTable).mkString(", ")}],
          j -> ((bucket >> j) & 1) = 1),
        j -> xor(bucket, (1 << j))))) AS probe
  FROM bk),
cand AS (SELECT DISTINCT least(p.vec_id, bk.vec_id) AS id_a,
                greatest(p.vec_id, bk.vec_id) AS id_b
         FROM probes p JOIN bk ON bk.table_id = p.table_id AND bk.bucket = p.probe
         WHERE bk.vec_id <> p.vec_id),
${normCte("nn")},
sx AS (SELECT c.id_a, c.id_b,
              (${dotSql("na.v", "nb.v")}) / (na.nrm * nb.nrm) AS sim
       FROM cand c JOIN nn na ON na.vec_id = c.id_a
       JOIN nn nb ON nb.vec_id = c.id_b)
SELECT id_a, id_b, round(sim, 6) AS sim_r FROM sx WHERE sim >= 0.45
ORDER BY id_a, id_b""")),

    ("embedding_near_pairs",
      (s: SparkSession, d: String) =>
        Similarity.nearPairs(embs(s, d), threshold = 0.45),
      Some(s"""WITH $embNormCtes,
p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             (${dotSql("a.v", "b.v")}) / (a.nrm * b.nrm) AS sim
      FROM n a JOIN n b ON a.vec_id < b.vec_id)
SELECT id_a, id_b, round(sim, 6) AS sim_r FROM p WHERE sim >= 0.45
ORDER BY id_a, id_b""")),

    // ----------------------------------------------------- event windows
    ("events_window_tumbling",
      (s: SparkSession, d: String) =>
        EventWindows.tumbling(graft.sources.CdcSource.events(s, d)),
      Some("""SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
       time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour' AS window_end,
       event_type, count(*) AS n_events,
       count(DISTINCT user_id) AS n_users,
       (sum(value::DECIMAL(18,6)))::DOUBLE AS sum_value
FROM events GROUP BY 1, 2, 3 ORDER BY window_start, event_type""")),

    ("events_window_sliding",
      (s: SparkSession, d: String) =>
        EventWindows.sliding(graft.sources.CdcSource.events(s, d)),
      Some("""WITH x AS (
  SELECT ts, event_type, value, unnest([0, 1, 2, 3]) AS k FROM events),
w AS (SELECT time_bucket(INTERVAL '15 minutes', ts)
        - k * (INTERVAL '15 minutes') AS window_start, event_type, value
      FROM x)
SELECT window_start, window_start + INTERVAL '1 hour' AS window_end,
       event_type, count(*) AS n_events,
       (sum(value::DECIMAL(18,6)))::DOUBLE AS sum_value
FROM w GROUP BY 1, 2, 3 ORDER BY window_start, event_type""")),

    ("events_sessions",
      (s: SparkSession, d: String) =>
        EventWindows.sessions(graft.sources.CdcSource.events(s, d)),
      Some(s"""WITH ${sessionCtes("value")}
SELECT min(ts) AS session_start,
       max(ts) + INTERVAL '4 hours' AS session_end,
       user_id, count(*) AS n_events,
       (sum(value::DECIMAL(18,6)))::DOUBLE AS sum_value
FROM s GROUP BY user_id, sid ORDER BY user_id, session_start""")),

    // Per-session chronological event-type sequences (the training unit
    // of a sequential recommender), digested to keep the gate small.
    ("events_session_sequences",
      (s: SparkSession, d: String) =>
        EventWindows.sessionSequences(graft.sources.CdcSource.events(s, d)),
      Some(s"""WITH ${sessionCtes("event_id, event_type")}
SELECT min(ts) AS session_start, user_id, count(*) AS n_events,
       md5(string_agg(event_type, '>' ORDER BY ts, event_id)) AS seq_md5
FROM s GROUP BY user_id, sid ORDER BY user_id, session_start""")),

    // IVF ANN (coarse-quantize → probe → exact re-rank): deterministic by
    // construction (data-sampled centroids), so unlike the LSH path it
    // carries a full DuckDB oracle.
    ("sim_topk_ivf",
      (s: SparkSession, d: String) =>
        Similarity.ivfTopK(embs(s, d), numQueries = 10, k = 10)
          .withColumnRenamed("rank", "rnk"),
      Some(s"""WITH $embNormCtes,
${ivfCellCtes(dotSql)},
${ivfProbeCtes(dotSql, 10, "qv", "s")},
${top10Sql("s")}""")),

    // Range join (custom operator): every event attributed to its
    // containing session window via the bucketed point-in-interval join —
    // never a nested-loop. Sessions are non-overlapping per user, so each
    // event lands in exactly one.
    ("events_session_attribution",
      (s: SparkSession, d: String) => {
        import org.apache.spark.sql.functions._
        val ev = graft.sources.CdcSource.events(s, d)
        val sessions = EventWindows.sessions(ev)
          .select(col("user_id"), col("session_start"), col("session_end"))
        graft.operators.RangeJoin
          .pointInInterval(
            ev.select("event_id", "user_id", "ts"), sessions,
            keys = Seq("user_id"), t = "ts",
            lo = "session_start", hi = "session_end",
            payload = Seq("session_start"),
            bucketMs = 4L * 3600 * 1000)
          .select("event_id", "user_id", "ts", "session_start")
          .orderBy("event_id")
      },
      Some(s"""WITH ${sessionCtes("event_id")},
iv AS (SELECT user_id, sid, min(ts) AS session_start,
              max(ts) + INTERVAL '4 hours' AS session_end
       FROM s GROUP BY user_id, sid)
SELECT e.event_id, e.user_id, e.ts, iv.session_start
FROM events e JOIN iv ON e.user_id = iv.user_id
  AND e.ts >= iv.session_start AND e.ts < iv.session_end
ORDER BY e.event_id""")),

    // As-of join (custom operator — Spark has no built-in): each purchase
    // event attributed to the user's latest click at or before it.
    ("events_asof_purchase_click",
      (s: SparkSession, d: String) => {
        import org.apache.spark.sql.functions._
        val ev = graft.sources.CdcSource.events(s, d)
        val clicks = ev.where(col("event_type") === "click")
          .groupBy("user_id", "ts")
          .agg(max("event_id").as("click_id"))
        val purchases = ev.where(col("event_type") === "purchase")
          .select("event_id", "user_id", "ts")
        // unmatched purchases keep sentinel values (not NULL): NULL in a
        // numeric column degrades to NaN-float in the compare layer
        graft.operators.AsOfJoin
          .asof(purchases, clicks, Seq("user_id"), "ts", "ts",
            payload = Seq("ts", "click_id"), prefix = "c_")
          .select(col("event_id"), col("user_id"), col("ts"),
            coalesce(col("c_ts"), to_timestamp(lit("1970-01-01")))
              .as("last_click_ts"),
            coalesce(col("c_click_id"), lit(-1L)).as("click_id"),
            coalesce(unix_millis(col("ts")) - unix_millis(col("c_ts")), lit(-1L))
              .as("gap_ms"))
          .orderBy("event_id")
      },
      Some("""WITH c AS (SELECT user_id, ts, max(event_id) AS click_id
           FROM events WHERE event_type = 'click' GROUP BY user_id, ts),
p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase')
SELECT p.event_id, p.user_id, p.ts,
       coalesce(c.ts, TIMESTAMP '1970-01-01') AS last_click_ts,
       coalesce(c.click_id, -1) AS click_id,
       coalesce(date_diff('millisecond', c.ts, p.ts), -1) AS gap_ms
FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
ORDER BY p.event_id""")),

    // Bounded window frame: per-user 5-row moving average over event
    // time (deterministic frame via the event_id tiebreak).
    ("events_user_rolling",
      (s: SparkSession, d: String) => {
        import org.apache.spark.sql.functions._
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id")
          .orderBy(col("ts"), col("event_id"))
          .rowsBetween(-4, 0)
        graft.sources.CdcSource.events(s, d)
          .where(col("user_id") < 100)
          .select(col("event_id"), col("user_id"), col("ts"),
            round(avg(col("value")).over(w), 6).as("rolling_avg_5"))
          .orderBy("event_id")
      },
      Some("""SELECT event_id, user_id, ts,
       round(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 6) AS rolling_avg_5
FROM events WHERE user_id < 100 ORDER BY event_id""")),

    // Semi-structured extraction: JSON payload column parsed in place
    // (schema'd from_json stays inside codegen; no string re-parsing per
    // field access) and aggregated.
    ("events_props_stats",
      (s: SparkSession, d: String) => {
        import org.apache.spark.sql.functions._
        graft.sources.CdcSource.events(s, d)
          .withColumn("k",
            from_json(col("props"), "k LONG", Map.empty[String, String])
              .getField("k"))
          .groupBy("event_type")
          .agg(
            count(lit(1)).as("n"),
            sum("k").as("sum_k"),
            // avg from the exact integer sum — engine-native avg()
            // accumulates doubles in engine-specific order
            (sum("k").cast("double") / count(lit(1))).as("avg_k"),
            sum(when(col("k") > 50, 1L).otherwise(0L)).as("n_high"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type, count(*) AS n,
       (sum(CAST(json_extract(props, '$.k') AS BIGINT)))::BIGINT AS sum_k,
       (sum(CAST(json_extract(props, '$.k') AS BIGINT)))::DOUBLE / count(*) AS avg_k,
       (sum(CASE WHEN CAST(json_extract(props, '$.k') AS BIGINT) > 50
                 THEN 1 ELSE 0 END))::BIGINT AS n_high
FROM events GROUP BY event_type ORDER BY event_type""")),

    // LSH-bucketed ANN + its recall vs brute force: approximate by design,
    // rows-only + ScalaTest floor on recall.
    // Full oracle since round 9: the deterministic plane matrix embeds
    // as double literals, so the buckets — and everything ranked from
    // them — replay exactly in DuckDB (the near_dup_simhash
    // portable-hash precedent applied to the hyperplane family).
    ("sim_topk_lsh",
      (s: SparkSession, d: String) =>
        Similarity.lshTopK(embs(s, d), numQueries = 10, k = 10)
          .withColumnRenamed("rank", "rnk"),
      Some(s"""WITH $lshTopCte
SELECT q_id, rnk, neighbor_id, sim_r FROM lsh WHERE rnk <= 10
ORDER BY q_id, rnk""")),

    ("ann_recall",
      (s: SparkSession, d: String) =>
        Similarity.annRecall(embs(s, d), numQueries = 10, k = 10),
      Some(s"""WITH $lshTopCte,
qv AS (SELECT vec_id AS q_id, v AS qvec, nrm AS qnn FROM nn WHERE vec_id < 10),
ex AS (SELECT qv.q_id, nn.vec_id,
              row_number() OVER (PARTITION BY qv.q_id
                ORDER BY (${dotSql("qvec", "nn.v")}) / (qv.qnn * nn.nrm) DESC, nn.vec_id) AS rnk
       FROM qv JOIN nn ON nn.vec_id <> qv.q_id),
exk AS (SELECT q_id, vec_id FROM ex WHERE rnk <= 10),
apk AS (SELECT q_id, neighbor_id FROM lsh WHERE rnk <= 10)
SELECT exk.q_id AS qid, count(apk.neighbor_id)::DOUBLE / 10 AS recall
FROM exk LEFT JOIN apk ON apk.q_id = exk.q_id AND apk.neighbor_id = exk.vec_id
GROUP BY exk.q_id ORDER BY qid""")),

    // Self-verifying recall CONTRACT for the LSH ANN path (VERDICT r11
    // item 4 — the heavyHittersCheck pattern, uniform across the
    // approximate families): unlike ann_recall, whose oracle REPLAYS the
    // LSH ranking (implementation equality), this oracle computes ONLY
    // the exact side and asserts TRUE — so a recall regression below the
    // floor hash-mismatches the gate itself. Floor 0.5 vs measured 0.81
    // mean recall at sf0.01 (SimilaritySpec pins the margin).
    ("sim_topk_lsh_check",
      (s: SparkSession, d: String) =>
        Similarity.lshRecallCheck(embs(s, d), numQueries = 10, k = 10,
          floor = 0.5),
      Some("""SELECT count(*)::BIGINT AS n_queries, TRUE AS meets_floor
FROM embeddings WHERE vec_id < 10""")),

    // Same contract for the LSH near-pair gate: precision is 1.0 by
    // exact re-score, so the floor rides recall alone. Floor 0.9 vs
    // measured 1.0 at sf0.01.
    ("embedding_near_pairs_lsh_check",
      (s: SparkSession, d: String) =>
        Similarity.lshPairsRecallCheck(embs(s, d), threshold = 0.45,
          floor = 0.9),
      Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
${normCte("nn")},
sx AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
              (${dotSql("a.v", "b.v")}) / (a.nrm * b.nrm) AS sim
       FROM nn a JOIN nn b ON a.vec_id < b.vec_id)
SELECT count(*)::BIGINT AS n_exact, TRUE AS meets_floor
FROM sx WHERE sim >= 0.45""")),

    // int8-quantized brute-force top-k: symmetric global scale (cancels
    // in the cosine), codes floor(x·127/s + 0.5) — exact integers in
    // doubles, so the quantized similarity is deterministic and the
    // oracle is complete. The 100 TB story is bandwidth: 4× smaller
    // scans for the same candidate math.
    ("embed_quantized_topk",
      (s: SparkSession, d: String) =>
        Similarity.quantizedTopK(embs(s, d), numQueries = 10, k = 10),
      Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
sc AS (SELECT greatest(max(list_aggregate(list_transform(v, x -> abs(x)), 'max')), 4.9e-324) AS s FROM e),
q8 AS (SELECT vec_id, list_transform(v, x -> floor(x * 127.0 / s + 0.5)) AS qd
       FROM e CROSS JOIN sc),
n AS (SELECT vec_id, qd, sqrt(${dotSql("qd", "qd")}) AS nrm FROM q8),
q AS (SELECT vec_id AS q_id, qd AS qq, nrm AS qn FROM n WHERE vec_id < 10),
sx AS (SELECT q.q_id, n.vec_id, (${dotSql("qq", "qd")}) / (q.qn * n.nrm) AS sim
       FROM q JOIN n ON n.vec_id <> q.q_id),
${top10Sql("sx")}""")),

    // Sign-bit binary codes: the compression rung BELOW int8 — 64 dims
    // → two 32-bit words, 32× smaller than float32, Hamming distance =
    // two XOR+popcounts. Sign of a float survives the double upcast →
    // deterministic, full oracles across the family.
    ("embed_binary_topk",
      (s: SparkSession, d: String) =>
        Similarity.binaryTopK(embs(s, d), numQueries = 10, k = 10),
      Some(s"""$binaryCodesCte,
q AS (SELECT vec_id AS q_id, w0 AS qw0, w1 AS qw1 FROM bw WHERE vec_id < 10),
sx AS (SELECT q.q_id, b.vec_id,
              (bit_count(xor(b.w0, q.qw0)) + bit_count(xor(b.w1, q.qw1)))::INT AS ham
       FROM q JOIN bw b ON b.vec_id <> q.q_id),
r AS (SELECT q_id, vec_id AS neighbor_id, ham,
             row_number() OVER (PARTITION BY q_id ORDER BY ham, vec_id) AS rnk
      FROM sx)
SELECT q_id, rnk, neighbor_id, ham FROM r WHERE rnk <= 10
ORDER BY q_id, rnk""")),

    // Hamming shortlist (4·k) → exact float re-rank: true cosines out of
    // a 1/32-cost scan. Recall provably dominates the raw binary rank.
    ("embed_binary_refined",
      (s: SparkSession, d: String) =>
        Similarity.binaryRefineTopK(embs(s, d), numQueries = 10, k = 10),
      Some(s"""$binaryCodesCte,
q AS (SELECT vec_id AS q_id, w0 AS qw0, w1 AS qw1 FROM bw WHERE vec_id < 10),
sx AS (SELECT q.q_id, b.vec_id,
              bit_count(xor(b.w0, q.qw0)) + bit_count(xor(b.w1, q.qw1)) AS ham
       FROM q JOIN bw b ON b.vec_id <> q.q_id),
c AS (SELECT q_id, vec_id AS neighbor_id
      FROM (SELECT q_id, vec_id, row_number() OVER
              (PARTITION BY q_id ORDER BY ham, vec_id) AS rnk FROM sx) z
      WHERE rnk <= 40),
${normCte("n")},
qv AS (SELECT vec_id AS q_id, v AS qvec, nrm AS qn FROM n WHERE vec_id < 10),
s2 AS (SELECT c.q_id, c.neighbor_id,
              (${dotSql("qvec", "n.v")}) / (qv.qn * n.nrm) AS sim
       FROM c JOIN qv USING (q_id) JOIN n ON n.vec_id = c.neighbor_id),
r2 AS (SELECT q_id, neighbor_id, round(sim, 6) AS sim_r,
              row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, neighbor_id) AS rnk
       FROM s2)
SELECT q_id, rnk, neighbor_id, sim_r FROM r2 WHERE rnk <= 10
ORDER BY q_id, rnk""")),

    // Measured recall@10 of the raw binary ranking vs float exact —
    // the honest price of 32× compression, deterministic both sides.
    ("embed_binary_recall",
      (s: SparkSession, d: String) =>
        Similarity.binaryRecall(embs(s, d), numQueries = 10, k = 10),
      Some(s"""$binaryCodesCte,
${normCte("n")},
q AS (SELECT vec_id AS q_id, v AS qvec, nrm AS qn FROM n WHERE vec_id < 10),
sx AS (SELECT q.q_id, n.vec_id, (${dotSql("qvec", "n.v")}) / (q.qn * n.nrm) AS sim
       FROM q JOIN n ON n.vec_id <> q.q_id),
ex AS (SELECT q_id, vec_id AS neighbor_id
       FROM (SELECT q_id, vec_id, row_number() OVER
               (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rnk FROM sx) z
       WHERE rnk <= 10),
bq AS (SELECT vec_id AS q_id, w0 AS qw0, w1 AS qw1 FROM bw WHERE vec_id < 10),
bs AS (SELECT bq.q_id, b.vec_id,
              bit_count(xor(b.w0, bq.qw0)) + bit_count(xor(b.w1, bq.qw1)) AS ham
       FROM bq JOIN bw b ON b.vec_id <> bq.q_id),
ap AS (SELECT q_id, vec_id AS approx_id
       FROM (SELECT q_id, vec_id, row_number() OVER
               (PARTITION BY q_id ORDER BY ham, vec_id) AS rnk FROM bs) z
       WHERE rnk <= 10)
SELECT ex.q_id AS qid,
       round(count(ap.approx_id)::DOUBLE / 10, 6) AS recall_r
FROM ex LEFT JOIN ap ON ex.q_id = ap.q_id AND ex.neighbor_id = ap.approx_id
GROUP BY ex.q_id ORDER BY qid""")),

    // The composed 100 TB ANN: IVF sublinear probes over int8 codes —
    // both parents deterministic, so the composition keeps the full
    // oracle (centroids, assignment, probe list, and re-rank all
    // integer-fed).
    ("sim_topk_ivf_q8",
      (s: SparkSession, d: String) =>
        Similarity.quantizedIvfTopK(embs(s, d), numQueries = 10, k = 10)
          .withColumnRenamed("rank", "rnk"),
      Some(ivfQ8Sql)),

    // The index LIFECYCLE form of the same operator (graft.sinks.AnnIndex):
    // centroids + assignments built ONCE into a cell-bucketed table, then
    // PROBED from disk — the build/probe/append split a serving system
    // runs (the in-plan sim_topk_ivf_q8 re-derives the index per call).
    // Probe over a fresh build is bit-identical to quantizedIvfTopK, so
    // this carries the SAME full oracle — the driver's hash check pins
    // table-probe ≡ in-plan, and AnnIndexSpec pins probe-after-append.
    ("sim_topk_ivf_indexed",
      (s: SparkSession, d: String) =>
        graft.sinks.AnnIndex.probe(
          s, graft.sinks.AnnIndex.materialized(s, d), numQueries = 10, k = 10)
          .withColumnRenamed("rank", "rnk"),
      Some(ivfQ8Sql)),

    // Filtered probe of the SAME persisted index: the label payload is
    // stored beside each vector (the vector-store filtered-search
    // contract — no join back to the source at probe time), and the
    // predicate prunes the probed cells' candidates before any cosine.
    // Deterministic end-to-end → full oracle (the q8 chain + the label
    // equality on both sides).
    ("sim_topk_ivf_filtered_indexed",
      (s: SparkSession, d: String) => {
        import org.apache.spark.sql.functions._
        val path = graft.sinks.AnnIndex.materialized(s, d)
        val qs = s.read.parquet(s"$path/vectors")
          .where(col("vec_id") < 10)
          .select(col("vec_id"), col("qv"), col("label"))
          .dropDuplicates("vec_id")
          .select(col("vec_id").as("q_id"),
            graft.ext.Similarity.asDouble(col("qv")).as("q"),
            col("label").as("qlabel"))
        graft.sinks.AnnIndex
          .probeWithFiltered(s, path, qs, k = 10, excludeSelf = true)
          .withColumnRenamed("rank", "rnk")
      },
      Some(s"""$ivfQ8AsgCte,
lb AS (SELECT vec_id, label FROM embeddings),
q AS (SELECT n.vec_id AS q_id, n.v AS qv, n.nrm AS qn, lb.label AS ql
      FROM n JOIN lb ON lb.vec_id = n.vec_id WHERE n.vec_id < 10),
p AS (SELECT q.q_id, q.qv, q.qn, q.ql, c.cent_id AS cell,
             row_number() OVER (PARTITION BY q.q_id
               ORDER BY (${dotSql("qv", "cv")}) / (q.qn * c.cn) DESC, c.cent_id) AS rn
      FROM q CROSS JOIN c),
pr AS (SELECT q_id, qv, qn, ql, cell FROM p WHERE rn <= 8),
sx AS (SELECT pr.q_id, asg.vec_id, (${dotSql("qv", "v")}) / (pr.qn * asg.nrm) AS sim
       FROM pr JOIN asg ON asg.cell = pr.cell
       JOIN lb ON lb.vec_id = asg.vec_id
       WHERE asg.vec_id <> pr.q_id AND lb.label = pr.ql),
${top10Sql("sx")}""")),

    // Cell-occupancy stats of the persisted index — the balance
    // dashboard a serving operator watches (hot cell = hot probe
    // shard). Full oracle: the assignment is deterministic, so DuckDB
    // replays it and aggregates the same histogram.
    ("ann_index_cells",
      (s: SparkSession, d: String) =>
        graft.sinks.AnnIndex.cellStats(
          s, graft.sinks.AnnIndex.materialized(s, d)),
      Some(s"""$ivfQ8AsgCte,
occ AS (SELECT cell, count(*)::BIGINT AS n FROM asg GROUP BY cell)
SELECT count(*)::BIGINT AS n_cells, sum(n)::BIGINT AS n_vectors,
       min(n)::BIGINT AS min_occ, max(n)::BIGINT AS max_occ,
       round(sum(n)::DOUBLE / count(*), 6) AS avg_occ_r
FROM occ""")),

    // Two-stage refined ANN (FAISS IndexRefineFlat-over-SQ8): the int8
    // IVF path generates 3·k candidates from its 4×-denser sublinear
    // scans; only those candidates' FLOAT vectors are fetched and
    // exactly re-ranked to top-k, so reported sims are the true ones
    // and recall dominates the unrefined path at the same probe
    // budget. Deterministic end-to-end → full oracle.
    ("sim_topk_ivf_refined",
      (s: SparkSession, d: String) =>
        Similarity.quantizedIvfRefine(embs(s, d), numQueries = 10, k = 10),
      Some(s"""$ivfQ8AsgCte,
${ivfProbeCtes(dotSql, 10, "qv", "sx")},
cand AS (SELECT q_id, vec_id FROM (
           SELECT q_id, vec_id,
                  row_number() OVER (PARTITION BY q_id
                    ORDER BY sim DESC, vec_id) AS rnk
           FROM sx) WHERE rnk <= 30),
f AS (SELECT vec_id, v0, sqrt(${dotSql("v0", "v0")}) AS fnrm FROM e0),
fq AS (SELECT vec_id AS q_id, v0 AS fqv, fnrm AS fqn FROM f WHERE vec_id < 10),
rr AS (SELECT cand.q_id, cand.vec_id AS neighbor_id,
              (${dotSql("fqv", "v0")}) / (fq.fqn * f.fnrm) AS sim
       FROM cand JOIN fq ON fq.q_id = cand.q_id
                 JOIN f ON f.vec_id = cand.vec_id),
r2 AS (SELECT q_id, neighbor_id, round(sim, 6) AS sim_r,
              row_number() OVER (PARTITION BY q_id
                ORDER BY sim DESC, neighbor_id) AS rnk
       FROM rr)
SELECT q_id, rnk, neighbor_id, sim_r FROM r2 WHERE rnk <= 10
ORDER BY q_id, rnk""")),

    // Measured recall of the int8 path vs float exact — deterministic on
    // both sides (unlike LSH), so the compression loss carries a full
    // oracle instead of a prose claim.
    ("embed_quantize_recall",
      (s: SparkSession, d: String) =>
        Similarity.quantizeRecall(embs(s, d), numQueries = 10, k = 10),
      Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
${normCte("nf")},
qf AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM nf WHERE vec_id < 10),
ef AS (SELECT q.q_id, n.vec_id AS neighbor_id,
              row_number() OVER (PARTITION BY q.q_id
                ORDER BY (${dotSql("qv", "v")}) / (q.qn * n.nrm) DESC, n.vec_id) AS rnk
       FROM qf q JOIN nf n ON n.vec_id <> q.q_id),
exact AS (SELECT q_id, neighbor_id FROM ef WHERE rnk <= 10),
sc AS (SELECT greatest(max(list_aggregate(list_transform(v, x -> abs(x)), 'max')), 4.9e-324) AS s FROM e),
q8 AS (SELECT vec_id, list_transform(v, x -> floor(x * 127.0 / s + 0.5)) AS qd
       FROM e CROSS JOIN sc),
nq AS (SELECT vec_id, qd, sqrt(${dotSql("qd", "qd")}) AS nrm FROM q8),
qq AS (SELECT vec_id AS q_id, qd AS qv, nrm AS qn FROM nq WHERE vec_id < 10),
aq AS (SELECT q.q_id, n.vec_id AS neighbor_id,
              row_number() OVER (PARTITION BY q.q_id
                ORDER BY (${dotSql("qv", "qd")}) / (q.qn * n.nrm) DESC, n.vec_id) AS rnk
       FROM qq q JOIN nq n ON n.vec_id <> q.q_id),
approx AS (SELECT q_id, neighbor_id FROM aq WHERE rnk <= 10)
SELECT e1.q_id AS qid,
       round(count(a.neighbor_id)::DOUBLE / 10, 6) AS recall_r
FROM exact e1
LEFT JOIN approx a ON a.q_id = e1.q_id AND a.neighbor_id = e1.neighbor_id
GROUP BY e1.q_id ORDER BY qid""")),

    // ------------------------------------------------- domain mixture
    // Temperature-weighted (τ=2, w ∝ √n) largest-remainder seat counts
    // against a half-corpus budget: Σ alloc = budget EXACTLY, every
    // alloc ∈ {base, base+1}. sqrt is correctly-rounded IEEE in both
    // engines (unlike ln) and the seat math is all-integer
    // (DECIMAL(38,0) div ≙ HUGEINT //), so nothing can float-diverge.
    ("mixture_allocation",
      (s: SparkSession, d: String) =>
        graft.ext.Mixture.allocation(docs(s, d)),
      Some("""WITH c AS (SELECT source, count(*)::BIGINT AS n_docs FROM documents GROUP BY source),
w AS (SELECT source, n_docs, CAST(floor(sqrt(n_docs::DOUBLE) * 1e6) AS BIGINT) AS weight FROM c),
t AS (SELECT sum(n_docs)::BIGINT AS total, sum(weight)::BIGINT AS w_sum FROM w),
q AS (SELECT source, n_docs, weight,
        (((total // 2)::HUGEINT) * weight) // w_sum AS base,
        (((total // 2)::HUGEINT) * weight) % w_sum AS rem,
        total // 2 AS budget
      FROM w CROSS JOIN t),
l AS (SELECT min(budget) - sum(base) AS leftover FROM q),
r AS (SELECT q.source, q.n_docs, q.weight, q.base, q.rem, l.leftover FROM q CROSS JOIN l),
f AS (SELECT source, n_docs, weight,
             (base + CASE WHEN row_number() OVER (ORDER BY rem DESC, source)
                               <= leftover THEN 1 ELSE 0 END)::BIGINT AS alloc
      FROM r)
SELECT source, n_docs, weight, alloc, least(alloc, n_docs) AS granted
FROM f ORDER BY source""")),

    // The materialized sample: first alloc_i docs of each source in
    // doc_id order, ranked via the range-partitioned global prefix sum
    // (no per-source sort task at any skew).
    ("mixture_sample",
      (s: SparkSession, d: String) =>
        graft.ext.Mixture.sample(docs(s, d)),
      Some(s"""WITH c AS (SELECT source, count(*)::BIGINT AS n_docs FROM documents GROUP BY source),
w AS (SELECT source, n_docs, CAST(floor(sqrt(n_docs::DOUBLE) * 1e6) AS BIGINT) AS weight FROM c),
t AS (SELECT sum(n_docs)::BIGINT AS total, sum(weight)::BIGINT AS w_sum FROM w),
${seatGrantCtes("t", "n_docs")},
rk AS (SELECT doc_id, source,
              row_number() OVER (PARTITION BY source ORDER BY doc_id)::BIGINT AS rk
       FROM documents)
SELECT rk.doc_id, rk.source, rk.rk FROM rk
JOIN a ON rk.source = a.source WHERE rk.rk <= a.granted
ORDER BY rk.doc_id""")),

    // Per-source salient terms by TF-IDF with the log-free BM25 rational
    // idf — integer-fed arithmetic ends in ONE IEEE division, so the
    // scores and the ranking are bit-identical cross-engine (ln would
    // not be).
    ("source_tfidf",
      (s: SparkSession, d: String) =>
        TextAnalysis.sourceTfIdf(docs(s, d)),
      Some(s"""WITH toks AS (SELECT source, unnest($toksSql) AS term FROM documents),
tf AS (SELECT source, term, count(*)::BIGINT AS tf FROM toks GROUP BY source, term),
df AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
ns AS (SELECT count(DISTINCT source)::BIGINT AS n_sources FROM tf),
sc AS (SELECT tf.source, tf.term, tf.tf, df.df,
              tf.tf * (ns.n_sources - df.df + 0.5) / (df.df + 0.5) AS score
       FROM tf JOIN df USING (term) CROSS JOIN ns),
r AS (SELECT source, term, tf, df, round(score, 6) AS score_r,
             row_number() OVER (PARTITION BY source ORDER BY score DESC, term) AS rnk
      FROM sc)
SELECT source, rnk, term, tf, df, score_r FROM r WHERE rnk <= 10
ORDER BY source, rnk""")),

    // The token-budget twin: seats are tokens (the unit a pretraining
    // run budgets), weights √-temperature over per-source token mass.
    ("mixture_allocation_tokens",
      (s: SparkSession, d: String) =>
        graft.ext.Mixture.allocationTokens(docs(s, d)),
      Some(s"""WITH $tokenWeightCtes,
q AS (SELECT source, n_tokens, weight,
        (((total // 2)::HUGEINT) * weight) // w_sum AS base,
        (((total // 2)::HUGEINT) * weight) % w_sum AS rem,
        total // 2 AS budget
      FROM w CROSS JOIN tt),
l AS (SELECT min(budget) - sum(base) AS leftover FROM q),
r AS (SELECT q.source, q.n_tokens, q.weight, q.base, q.rem, l.leftover FROM q CROSS JOIN l),
f AS (SELECT source, n_tokens, weight,
             (base + CASE WHEN row_number() OVER (ORDER BY rem DESC, source)
                               <= leftover THEN 1 ELSE 0 END)::BIGINT AS alloc
      FROM r)
SELECT source, n_tokens, weight, alloc, least(alloc, n_tokens) AS granted
FROM f ORDER BY source""")),

    // Greedy doc_id-order prefix fill of each source's token seats; the
    // boundary doc straddles (pack_windows' convention). All-integer.
    ("mixture_sample_tokens",
      (s: SparkSession, d: String) =>
        graft.ext.Mixture.sampleTokens(docs(s, d)),
      Some(s"""WITH $tokenSampleCtes
SELECT p.doc_id, p.source, p.n_tok, p.tok_pfx FROM p
JOIN a ON p.source = a.source WHERE p.tok_pfx < a.granted
ORDER BY p.doc_id""")),

    // Data-constrained repetition allocation (Muennighoff et al. 2023):
    // √-temperature token seats, each source CAPPED at 4 epochs over
    // its unique mass, capped sources' excess re-distributed by exact
    // water-filling (saturation order = cap/weight ascending; the
    // saturated set is provably a prefix). All-integer seat math;
    // epochs_r > 1 = the source repeats.
    ("mixture_epochs",
      (s: SparkSession, d: String) =>
        graft.ext.Mixture.allocationEpochs(docs(s, d)),
      Some(s"""WITH t AS (SELECT doc_id, source, len($toksSql)::BIGINT AS n_tok FROM documents),
c AS (SELECT source, sum(n_tok)::BIGINT AS n_tokens FROM t GROUP BY source),
w AS (SELECT source, n_tokens, CAST(floor(sqrt(n_tokens::DOUBLE) * 1e6) AS BIGINT) AS weight,
             (n_tokens * 4)::BIGINT AS cap FROM c),
tt AS (SELECT sum(n_tokens)::BIGINT AS total, sum(weight)::BIGINT AS w_sum FROM w),
m AS (SELECT w.*, tt.total AS budget, tt.w_sum,
             coalesce(sum(cap) OVER (ORDER BY cap::DOUBLE / weight, source
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS c_prev,
             coalesce(sum(weight) OVER (ORDER BY cap::DOUBLE / weight, source
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS w_prev
      FROM w CROSS JOIN tt),
s AS (SELECT *, ((budget - c_prev)::HUGEINT * weight) >=
                (cap::HUGEINT * (w_sum - w_prev)) AS saturated FROM m),
res AS (SELECT min(budget) - sum(CASE WHEN saturated THEN cap ELSE 0 END) AS resid,
               sum(CASE WHEN saturated THEN 0 ELSE weight END) AS w_unsat FROM s),
b AS (SELECT s.*, res.resid, res.w_unsat,
             CASE WHEN saturated THEN cap
                  ELSE ((resid::HUGEINT * weight) // greatest(w_unsat, 1))::BIGINT
             END AS base,
             CASE WHEN saturated THEN -1
                  ELSE ((resid::HUGEINT * weight) % greatest(w_unsat, 1))::BIGINT
             END AS rem
      FROM s CROSS JOIN res),
l AS (SELECT min(resid) - sum(CASE WHEN saturated THEN 0 ELSE base END) AS leftover FROM b),
f AS (SELECT b.*, l.leftover,
             (base + CASE WHEN NOT saturated AND
                row_number() OVER (ORDER BY rem DESC, source) <= leftover
                THEN 1 ELSE 0 END)::BIGINT AS alloc
      FROM b CROSS JOIN l)
SELECT source, n_tokens, weight, cap, alloc,
       round(alloc::DOUBLE / n_tokens, 6) AS epochs_r, saturated
FROM f ORDER BY source""")),

    // Length-based curriculum (Bengio et al. 2009, short-first): every
    // doc ranked (n_tokens asc, doc_id) and cut into 32-doc training
    // batches — the easy-to-hard complement of training_order's
    // decorrelating shuffle. Global ordinal via the range-partitioned
    // prefix count; batch assignment is exact integer div/mod.
    ("training_order_curriculum",
      (s: SparkSession, d: String) =>
        graft.ext.Mixture.curriculumOrder(docs(s, d)),
      Some(s"""WITH t AS (SELECT doc_id,
        len($toksSql)::BIGINT AS n_tokens FROM documents),
r AS (SELECT doc_id, n_tokens,
        row_number() OVER (ORDER BY n_tokens, doc_id) - 1 AS ord FROM t)
SELECT doc_id, n_tokens, (ord // 32)::BIGINT AS batch_id,
       (ord % 32)::BIGINT AS pos
FROM r ORDER BY batch_id, pos""")),

    // Deterministic sharded training order: each sampled doc lands in a
    // shard at a pseudo-random but reproducible position (salted md5 —
    // the corpus_split discipline), interleaving sources for the
    // trainer. Positions via ONE range-partitioned prefix sum, not a
    // per-shard window.
    ("training_order",
      (s: SparkSession, d: String) =>
        graft.ext.Mixture.trainingOrder(docs(s, d)),
      Some(s"""WITH $trainingOrderCtes
SELECT doc_id, source, shard,
       (row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) - 1)::BIGINT AS pos
FROM o ORDER BY shard, pos""")),

    // Interleave audit of training_order: per shard, the longest
    // consecutive same-source run (gaps-and-islands on two prefix
    // ranks over the SAME hash order) — catches a broken shuffle
    // streaming one domain back-to-back into a trainer.
    ("training_order_runs",
      (s: SparkSession, d: String) =>
        graft.ext.Mixture.trainingOrderRuns(docs(s, d)),
      Some(s"""WITH $trainingOrderCtes,
pos AS (SELECT *,
          (row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) - 1)::BIGINT AS pos,
          (row_number() OVER (PARTITION BY shard, source ORDER BY h, doc_id) - 1)::BIGINT AS sspos
        FROM o),
runs AS (SELECT shard, source, pos - sspos AS grp, count(*)::BIGINT AS run_len
         FROM pos GROUP BY shard, source, pos - sspos)
SELECT shard, max(run_len)::BIGINT AS max_run, count(*)::BIGINT AS n_runs,
       sum(run_len)::BIGINT AS n_docs
FROM runs GROUP BY shard ORDER BY shard""")),

    // sample → pack: the assembly step between "cleaned corpus" and
    // "training batches", composed end-to-end with one tokenize pass
    // and both parents' full oracles.
    ("mixture_pack",
      (s: SparkSession, d: String) =>
        graft.ext.Mixture.samplePacked(docs(s, d)),
      Some(s"""WITH $tokenSampleCtes,
sel AS (SELECT p.doc_id, p.n_tok FROM p
        JOIN a ON p.source = a.source WHERE p.tok_pfx < a.granted),
o AS (SELECT doc_id, n_tok,
        coalesce(sum(n_tok) OVER (ORDER BY doc_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS tok_offset
      FROM sel)
$packWindowsSql""")),

    // Deterministic stratified split: EXACT n div 10 test/validation per
    // source, membership a pure function of a salted md5 permutation —
    // reproducible across engines and cluster shapes, unlike randomSplit.
    ("corpus_split",
      (s: SparkSession, d: String) =>
        graft.ext.Mixture.split(docs(s, d)),
      Some("""WITH c AS (SELECT source, count(*)::BIGINT AS n FROM documents GROUP BY source),
k AS (SELECT doc_id, source, md5(doc_id::VARCHAR || ':split') AS h FROM documents),
r AS (SELECT doc_id, source,
             row_number() OVER (PARTITION BY source ORDER BY h, doc_id)::BIGINT AS rk
      FROM k)
SELECT r.doc_id, r.source,
       CASE WHEN rk <= n // 10 THEN 'test'
            WHEN rk <= 2 * (n // 10) THEN 'validation'
            ELSE 'train' END AS split
FROM r JOIN c ON r.source = c.source
ORDER BY r.doc_id""")),

    // Cross-source duplication matrix: distinct-shingle containment per
    // source pair via the inverted-index join — never all-pairs over
    // docs; candidate rows are bounded by |sources|² per shingle.
    // Complements source_vocab_overlap (top-50 unigram Jaccard — vocab
    // DRIFT): shared 3-token phrases detect literal RE-HOSTING that two
    // sources with similar vocabularies don't imply.
    ("source_overlap",
      (s: SparkSession, d: String) =>
        TextAnalysis.sourceOverlap(docs(s, d)),
      Some(s"""WITH t AS (SELECT doc_id, source, $toksSql AS toks FROM documents),
sh AS (SELECT source, $shinglesSql AS sh FROM t),
g AS (SELECT DISTINCT source, unnest(sh) AS g FROM sh),
sz AS (SELECT source, count(*)::BIGINT AS n_sh FROM g GROUP BY source),
p AS (SELECT a.source AS src_a, b.source AS src_b, count(*)::BIGINT AS n_common
      FROM g a JOIN g b ON a.g = b.g AND a.source < b.source
      GROUP BY a.source, b.source)
SELECT p.src_a, p.src_b, p.n_common,
       round(p.n_common::DOUBLE / least(x.n_sh, y.n_sh), 6) AS containment_r
FROM p JOIN sz x ON x.source = p.src_a JOIN sz y ON y.source = p.src_b
ORDER BY src_a, src_b""")),

    // Incremental near-dup against the PERSISTED MinHash index: the
    // doc_id-odd half probed against the indexed even half — the
    // production question ("is this new batch a near-dup of the corpus
    // I already hold?") answered from 768-byte signatures + 24-byte
    // band rows, never a corpus text rescan. The materialized index is
    // built in PORTABLE hash mode (md5-derived shingle hashes; the
    // near_dup_simhash precedent), so the oracle rebuilds the exact
    // splitmix64 MinHash minima in SQL — 64-bit wraparound via 32-bit
    // limb products in HUGEINT — and the probe carries a FULL oracle
    // (VERDICT r8 item 7). Band candidates compare the minima triples
    // directly where Spark compares their murmur hash: identical modulo
    // 64-bit hash collisions (immaterial, same caveat as
    // near_dup_jaccard). DedupIndexSpec additionally pins planted
    // exact/near/novel behavior and the agreement-vs-true-Jaccard error.
    ("dedup_incremental_indexed",
      (s: SparkSession, d: String) => {
        import org.apache.spark.sql.functions._
        graft.sinks.DedupIndex.probe(
          docs(s, d).where(pmod(col("doc_id"), lit(2)) === 1),
          graft.sinks.DedupIndex.materialized(s, d))
      },
      Some(s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
s AS (SELECT doc_id, $shinglesSql AS sh FROM t),
e AS (SELECT doc_id, unnest(sh) AS g FROM s),
th AS (SELECT doc_id,
        CAST('0x' || substring(md5(g), 1, 8) AS UBIGINT) * 4294967296
        + CAST('0x' || substring(md5(g), 9, 8) AS UBIGINT) AS h FROM e),
js AS (SELECT unnest(range(96)) AS j),
z0 AS (SELECT doc_id, j,
        ((h::HUGEINT + j::HUGEINT * 11400714819323198485)
          % 18446744073709551616)::UBIGINT AS z FROM th CROSS JOIN js),
z1 AS (SELECT doc_id, j,
        (((xor(z, z >> 30) % 4294967296)::HUGEINT * 13787848793156543929
          + (((xor(z, z >> 30) // 4294967296)::HUGEINT
              * 13787848793156543929) % 4294967296) * 4294967296)
          % 18446744073709551616)::UBIGINT AS z FROM z0),
z2 AS (SELECT doc_id, j,
        (((xor(z, z >> 27) % 4294967296)::HUGEINT * 10723151780598845931
          + (((xor(z, z >> 27) // 4294967296)::HUGEINT
              * 10723151780598845931) % 4294967296) * 4294967296)
          % 18446744073709551616)::UBIGINT AS z FROM z1),
z3 AS (SELECT doc_id, j, xor(z, z >> 31) AS z FROM z2),
mn AS (SELECT doc_id, j,
        min(CASE WHEN z >= 9223372036854775808
                 THEN (z::HUGEINT - 18446744073709551616)::BIGINT
                 ELSE z::BIGINT END) AS m
       FROM z3 GROUP BY doc_id, j),
grid AS (SELECT d.doc_id, js.j
         FROM (SELECT doc_id FROM documents) d CROSS JOIN js),
sig AS (SELECT grid.doc_id, grid.j,
         coalesce(mn.m, 9223372036854775807) AS m
        FROM grid LEFT JOIN mn
          ON mn.doc_id = grid.doc_id AND mn.j = grid.j),
bnd AS (SELECT doc_id, j // 3 AS band_id,
         string_agg(m::VARCHAR, ',' ORDER BY j) AS bk
        FROM sig GROUP BY doc_id, j // 3),
cand AS (SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS old_id
         FROM bnd a JOIN bnd b ON a.band_id = b.band_id AND a.bk = b.bk
         WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 0),
agr AS (SELECT c.new_id, c.old_id,
         sum(CASE WHEN sa.m = sb.m THEN 1 ELSE 0 END)::DOUBLE / 96 AS agree
        FROM cand c
        JOIN sig sa ON sa.doc_id = c.new_id
        JOIN sig sb ON sb.doc_id = c.old_id AND sb.j = sa.j
        GROUP BY c.new_id, c.old_id)
SELECT new_id AS doc_id, old_id AS dup_of, round(agree, 6) AS sig_agree_r
FROM agr WHERE agree >= 0.8 ORDER BY doc_id, dup_of""")),

    // The sketch scale path for the same matrix (VERDICT r7 item 7):
    // bottom-k (KMV) min-shingle-hash sketches bound the pair cost at
    // |sources|·k rows at ANY corpus size; the exact form above stays
    // the oracle baseline. Hash-specific estimates → rows-only;
    // TextAnalysisSpec pins the error bound against the exact matrix.
    // FULL oracle since round 10: the sketch hashes are the portable
    // md5 60-bit prefix (the DedupIndex precedent), so DuckDB derives
    // the bit-identical hash sets and replays the deterministic
    // prefilter (2⁶⁰·safety·k/n_sh, floor ≡ the positive-value long
    // cast), the k-min selection, the exact-membership filter against
    // the other side's kth minimum, and the hit-fraction estimate.
    ("source_overlap_sketch",
      (s: SparkSession, d: String) =>
        TextAnalysis.sourceOverlapSketch(docs(s, d)),
      Some(s"""WITH t AS (SELECT doc_id, source, $toksSql AS toks FROM documents),
sh AS (SELECT source, $shinglesSql AS sh FROM t),
g AS (SELECT DISTINCT source,
        CAST('0x' || substring(md5(gg), 1, 15) AS BIGINT) AS hv
      FROM (SELECT source, unnest(sh) AS gg FROM sh) z),
sz AS (SELECT source, count(*)::BIGINT AS n_sh FROM g GROUP BY source),
th AS (SELECT source, n_sh,
         CASE WHEN n_sh <= 1024 THEN 9223372036854775807
              ELSE CAST(floor(1152921504606846976.0 * 1024.0 / n_sh) AS BIGINT)
         END AS thr
       FROM sz),
sv AS (SELECT g.source, g.hv,
         row_number() OVER (PARTITION BY g.source ORDER BY g.hv) AS rn
       FROM g JOIN th ON th.source = g.source WHERE g.hv < th.thr),
sk AS (SELECT sv.source, list(sv.hv ORDER BY sv.hv) AS sk,
         any_value(th.n_sh) AS n_sh
       FROM sv JOIN th ON th.source = sv.source WHERE sv.rn <= 256
       GROUP BY sv.source),
pr AS (SELECT a.source AS src_a, b.source AS src_b,
              a.n_sh AS n_a, b.n_sh AS n_b, a.sk AS ska, b.sk AS skb
       FROM sk a JOIN sk b ON a.source < b.source),
est AS (SELECT src_a, src_b, n_a, n_b,
          CASE WHEN n_a <= n_b THEN ska ELSE skb END AS small_sk,
          CASE WHEN n_a <= n_b THEN skb ELSE ska END AS other_sk,
          greatest(n_a, n_b) AS other_n
        FROM pr),
fx AS (SELECT src_a, src_b, n_a, n_b, other_sk,
         list_filter(small_sk, h -> h <
           CASE WHEN other_n > 256 THEN other_sk[256]
                ELSE 9223372036854775807 END) AS sample
       FROM est),
res AS (SELECT src_a, src_b, n_a, n_b, len(sample)::INT AS support,
          len(list_intersect(sample, other_sk))::INT AS hits
        FROM fx)
SELECT src_a, src_b, n_a, n_b, support,
       round(hits::DOUBLE / support, 6) AS containment_est_r
FROM res WHERE support > 0 ORDER BY src_a, src_b""")),

    // The same sketch pipeline pinned in its provably-EXACT regime
    // (VERDICT r8 item 8): with k ≥ every source's distinct-shingle
    // count (fixture max: ~10.9k at sf0.1 < 16384), each bottom-k sketch
    // IS its complete hash set — the prefilter threshold degenerates to
    // MaxValue, the row_number cap never trims, and the estimate becomes
    // exact containment of the smaller set. The oracle computes that
    // containment on the shingle STRINGS (equal modulo 64-bit xxhash
    // collisions, the near_dup_jaccard caveat) — so the sketch code path
    // (prefilter, cap, sample/hits logic) gets a full DuckDB row while
    // k=256 production estimates stay declared-approximate.
    ("source_overlap_sketch_exact",
      (s: SparkSession, d: String) =>
        TextAnalysis.sourceOverlapSketch(docs(s, d), k = 16384),
      Some(s"""WITH t AS (SELECT doc_id, source, $toksSql AS toks FROM documents),
sh AS (SELECT source, $shinglesSql AS sh FROM t),
g AS (SELECT DISTINCT source, unnest(sh) AS g FROM sh),
sz AS (SELECT source, count(*)::BIGINT AS n_sh FROM g GROUP BY source),
p AS (SELECT a.source AS src_a, b.source AS src_b, count(*)::BIGINT AS n_common
      FROM g a JOIN g b ON a.g = b.g AND a.source < b.source
      GROUP BY a.source, b.source)
SELECT x.source AS src_a, y.source AS src_b,
       x.n_sh AS n_a, y.n_sh AS n_b,
       least(x.n_sh, y.n_sh)::INT AS support,
       round(coalesce(p.n_common, 0)::DOUBLE / least(x.n_sh, y.n_sh), 6)
         AS containment_est_r
FROM sz x JOIN sz y ON x.source < y.source
LEFT JOIN p ON p.src_a = x.source AND p.src_b = y.source
ORDER BY src_a, src_b""")),

    // BM25 top-k retrieval against the PERSISTED inverted index
    // (sinks/TextIndex) — the lexical member of the persisted-index
    // family (AnnIndex dense, DedupIndex near-dup). Queries are the
    // 8-token prefixes of every 50th document; the probe reads only the
    // term-bucket dirs the query terms hash into, computes exact df
    // from those postings, and scores each query's 4 most selective
    // terms (max-score selection, df asc / term asc — exact integer
    // rule the oracle repeats). Per-term BM25 truncates to fixed-point
    // longs (floor(x*1e12)) before the order-free sum, so the oracle
    // reproduces scores bit-for-bit; constants are decimal literals in
    // both engines.
    // The three standard-query-batch consumers below all resolve their
    // lexical run through TextIndex.standardLexRun's per-fixture memo:
    // one BM25 probe pass serves bm25_topk_indexed (rank ≤ 10 prefix)
    // and both hybrids (rank ≤ 20), instead of three (VERDICT r9
    // item 3 — the family's dominant redundant cost was the lexical
    // probe, measured ~3.5 s each at sf0.1; the brute dense run is
    // 0.5 s).
    ("bm25_topk_indexed",
      (s: SparkSession, d: String) => {
        import org.apache.spark.sql.functions._
        graft.sinks.TextIndex.standardLexRun(s, d)
          .where(col("rank") <= 10).orderBy("query_id", "rank")
      },
      Some(s"""WITH ${bm25AggCtes("sc")},
r AS (SELECT query_id, doc_id, score,
        row_number() OVER (PARTITION BY query_id
                           ORDER BY score DESC, doc_id) AS rank
      FROM agg)
SELECT query_id, rank, doc_id,
       round(score::DOUBLE / 1000000000000.0, 6) AS score_r
FROM r WHERE rank <= 10 ORDER BY query_id, rank""")),

    // Hybrid sparse+dense retrieval: the BM25 run above fused with an
    // exact dense cosine run by Reciprocal Rank Fusion (1/(60+rank),
    // Cormack et al. SIGIR'09) — the standard RAG retrieval shape. Both
    // runs take top-20 candidates, the fused list keeps top-10. Integer
    // ranks → each reciprocal is one IEEE division and the two-term sum
    // has fixed association, so the fused scores are bit-exact in both
    // engines.
    ("hybrid_topk_rrf",
      (s: SparkSession, d: String) => {
        import org.apache.spark.sql.functions._
        val e = embs(s, d)
        val qv = e.where(pmod(col("vec_id"), lit(50)) === 0)
          .select(col("vec_id").as("query_id"),
            graft.ext.Similarity.asDouble(col("embedding")).as("qv"))
        val cv = e.select(col("vec_id"),
          graft.ext.Similarity.asDouble(col("embedding")).as("v"))
        val lex = graft.sinks.TextIndex.standardLexRun(s, d)
          .select(col("query_id"), col("doc_id"), col("rank").as("lex_rank"))
        graft.sinks.TextIndex.rrfFuse(lex,
          graft.sinks.TextIndex.denseRun(qv, cv, kPerRun = 20), k = 10)
      },
      Some(s"""WITH ${bm25LexCtes("sc")},
$embNormCtes,
qv AS (SELECT vec_id AS query_id, v AS qvec, nrm AS qn
       FROM n WHERE vec_id % 50 = 0),
ds AS (SELECT qv.query_id, n.vec_id AS doc_id,
        (${dotSql("qvec", "v")}) / (qv.qn * n.nrm) AS sim
       FROM qv CROSS JOIN n),
dsr AS (SELECT query_id, doc_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, doc_id) AS dense_rank
        FROM ds),
dr AS (SELECT query_id, doc_id, dense_rank FROM dsr WHERE dense_rank <= 20),
$rrfFuseSql""")),

    // Index health dashboard — the lexical twin of ann_index_cells:
    // vocabulary size, postings volume, df skew (this fixture's 31-term
    // vocabulary shows max_df ≈ n_docs — the shape that makes max-score
    // term selection load-bearing), and the BM25 length inputs. Full
    // oracle: the stats are pure aggregates of the indexed corpus.
    ("text_index_stats",
      (s: SparkSession, d: String) =>
        graft.sinks.TextIndex.stats(s,
          graft.sinks.TextIndex.materialized(s, d)),
      Some(s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
post AS (SELECT DISTINCT doc_id, unnest(toks) AS term FROM t),
dfs AS (SELECT term, count(*)::BIGINT AS df FROM post GROUP BY term),
dl AS (SELECT count(*)::BIGINT AS n_docs,
        round(sum(len(toks))::DOUBLE / count(*), 6) AS avg_dl_r FROM t)
SELECT (SELECT count(*) FROM dfs)::BIGINT AS n_terms,
       (SELECT sum(df) FROM dfs)::BIGINT AS n_postings,
       (SELECT min(df) FROM dfs)::BIGINT AS min_df,
       (SELECT max(df) FROM dfs)::BIGINT AS max_df,
       dl.n_docs, dl.avg_dl_r
FROM dl""")),

    // The fully-INDEXED hybrid: the same RRF fusion with BOTH runs served
    // from persisted indexes — TextIndex lexical + AnnIndex quantized-IVF
    // dense (sinks/AnnIndex.probeWith; include-self, kPerRun=20). This is
    // the complete serving composition a RAG stack runs: no in-plan
    // re-derivation anywhere, every probe sublinear via its index's
    // bucket pruning. Both parents are deterministic with full oracles,
    // so the composition keeps one: the IVF assignment CTEs (ivfQ8AsgCte)
    // + the BM25 chain (score CTE renamed scb — the quantize prefix
    // already owns `sc`) + the reciprocal-rank fusion.
    ("hybrid_topk_rrf_indexed",
      (s: SparkSession, d: String) => {
        import org.apache.spark.sql.functions._
        val lex = graft.sinks.TextIndex.standardLexRun(s, d)
          .select(col("query_id"), col("doc_id"), col("rank").as("lex_rank"))
        val annPath = graft.sinks.AnnIndex.materialized(s, d)
        val qv = s.read.parquet(s"$annPath/vectors")
          .where(pmod(col("vec_id"), lit(50)) === 0)
          .select(col("vec_id"), col("qv")).dropDuplicates("vec_id")
          .select(col("vec_id").as("q_id"),
            graft.ext.Similarity.asDouble(col("qv")).as("q"))
        val dense = graft.sinks.AnnIndex.probeWith(s, annPath, qv, k = 20)
          .select(col("q_id").as("query_id"),
            col("neighbor_id").as("doc_id"), col("rank").as("dense_rank"))
        graft.sinks.TextIndex.rrfFuse(lex, dense, k = 10)
      },
      Some(s"""$ivfQ8AsgCte,
dq AS (SELECT vec_id AS query_id, v AS dqv, nrm AS dqn
       FROM n WHERE vec_id % 50 = 0),
dp AS (SELECT dq.query_id, dq.dqv, dq.dqn, c.cent_id AS cell,
        row_number() OVER (PARTITION BY dq.query_id
          ORDER BY (${dotSql("dqv", "cv")}) / (dq.dqn * c.cn) DESC,
                   c.cent_id) AS rn
       FROM dq CROSS JOIN c),
dpr AS (SELECT query_id, dqv, dqn, cell FROM dp WHERE rn <= 8),
dsx AS (SELECT dpr.query_id, asg.vec_id,
         (${dotSql("dqv", "v")}) / (dpr.dqn * asg.nrm) AS sim
        FROM dpr JOIN asg ON asg.cell = dpr.cell),
ddr AS (SELECT query_id, vec_id AS doc_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, vec_id) AS dense_rank
        FROM dsx),
dr AS (SELECT query_id, doc_id, dense_rank FROM ddr WHERE dense_rank <= 20),
${bm25LexCtes("scb")},
$rrfFuseSql""")),

    // PII scan completing pii_scrub's email/URL gate with phone + IPv4:
    // patterns live in the Java-regex ∩ RE2 common subset so both
    // engines match byte-identically; the fixture corpus is PII-free by
    // construction (the gate proves the scan runs and alters nothing),
    // while TextAnalysisSpec proves the planted-PII semantics.
    ("pii_scan",
      (s: SparkSession, d: String) =>
        TextAnalysis.piiRedact(docs(s, d))
          .selectExpr("doc_id", "n_emails", "n_phones", "n_ips",
            "md5(redacted) AS redacted_md5")
          .orderBy("doc_id"),
      Some(s"""SELECT doc_id,
       len(regexp_extract_all(text, '${TextAnalysis.emailPattern}'))::INT AS n_emails,
       len(regexp_extract_all(text, '${TextAnalysis.phonePat}'))::INT AS n_phones,
       len(regexp_extract_all(text, '${TextAnalysis.ipv4Pat}'))::INT AS n_ips,
       md5(regexp_replace(regexp_replace(regexp_replace(text,
         '${TextAnalysis.emailPattern}', '<EMAIL>', 'g'),
         '${TextAnalysis.ipv4Pat}', '<IP>', 'g'),
         '${TextAnalysis.phonePat}', '<PHONE>', 'g')) AS redacted_md5
FROM documents ORDER BY doc_id""")),

    // ---------------------------------------------- LM perplexity gates
    // Model-based quality: corpus-trained add-k n-gram LM, per-doc
    // perplexity. Log-probs truncate to DECIMAL(28,12) before the per-doc
    // sum so aggregation is exact and order-free in both engines (raw
    // double sums hash-diverge under shuffled order); exp() runs on the
    // 6-dp-rounded average so both engines see identical input.
    ("quality_perplexity",
      (s: SparkSession, d: String) =>
        graft.ext.Lm.perplexity(docs(s, d)).orderBy("doc_id"),
      Some(s"""WITH toks AS (SELECT doc_id, unnest($toksSql) AS t FROM documents),
v AS (SELECT t, count(*)::BIGINT AS n FROM toks GROUP BY t),
tot AS (SELECT sum(n)::BIGINT AS total, count(*)::BIGINT AS vsz FROM v),
ulp AS (SELECT t, CAST(ln((n + 0.5) / (total + 0.5*(vsz+1))) AS DECIMAL(28,12)) AS lp
  FROM v CROSS JOIN tot),
s AS (SELECT toks.doc_id, sum(ulp.lp) AS slp, count(*)::BIGINT AS n_tokens
  FROM toks JOIN ulp ON toks.t = ulp.t GROUP BY toks.doc_id)
${pplSql("s")}""")),

    // Per-source LM drift: observed-vocab KL of each source's unigram
    // distribution vs the corpus — the mixed-corpus drift dashboard.
    ("source_lm_divergence",
      (s: SparkSession, d: String) =>
        graft.ext.Lm.sourceLmDivergence(docs(s, d)),
      Some(s"""WITH toks AS (SELECT source, unnest($toksSql) AS t FROM documents),
st AS (SELECT source, t, count(*)::BIGINT AS nst FROM toks GROUP BY source, t),
stot AS (SELECT source, sum(nst)::BIGINT AS ts_n FROM st GROUP BY source),
ct AS (SELECT t, sum(nst)::BIGINT AS n FROM st GROUP BY t),
tot AS (SELECT sum(n)::BIGINT AS total, count(*)::BIGINT AS vsz FROM ct),
tm AS (SELECT st.source, stot.ts_n,
         CAST(((st.nst + 0.5) / (stot.ts_n + (tot.vsz + 1) * 0.5))
           * (ln((st.nst + 0.5) / (stot.ts_n + (tot.vsz + 1) * 0.5))
              - ln((ct.n + 0.5) / (tot.total + (tot.vsz + 1) * 0.5)))
           AS DECIMAL(28,18)) AS term
       FROM st JOIN ct ON st.t = ct.t
       JOIN stot ON st.source = stot.source CROSS JOIN tot)
SELECT source, max(ts_n) AS n_tokens, count(*)::BIGINT AS n_vocab,
       round(sum(term)::DOUBLE, 6) AS kl_r
FROM tm GROUP BY source ORDER BY source""")),

    ("quality_perplexity_bigram",
      (s: SparkSession, d: String) =>
        graft.ext.Lm.perplexityBigram(docs(s, d)).orderBy("doc_id"),
      Some(s"""WITH tl AS (SELECT doc_id, $toksSql AS ts FROM documents),
toks AS (SELECT doc_id, unnest(ts) AS t FROM tl),
v AS (SELECT t, count(*)::BIGINT AS n FROM toks GROUP BY t),
tot AS (SELECT sum(n)::BIGINT AS total, count(*)::BIGINT AS vsz FROM v),
ulp AS (SELECT t, CAST(ln((n + 0.5) / (total + 0.5*(vsz+1))) AS DECIMAL(28,12)) AS lp
  FROM v CROSS JOIN tot),
bg AS (SELECT doc_id, unnest(ts[1:len(ts)-1]) AS a, unnest(ts[2:len(ts)]) AS b FROM tl),
cb AS (SELECT a, b, count(*)::BIGINT AS nab FROM bg GROUP BY a, b),
cc AS (SELECT a, sum(nab)::BIGINT AS na FROM cb GROUP BY a),
blp AS (SELECT cb.a, cb.b,
  CAST(ln((nab + 0.5) / (na + 0.5*(vsz+1))) AS DECIMAL(28,12)) AS lp
  FROM cb JOIN cc ON cb.a = cc.a CROSS JOIN tot),
fst AS (SELECT doc_id, ts[1] AS t FROM tl WHERE len(ts) >= 1),
su AS (SELECT fst.doc_id, sum(ulp.lp) AS s1, count(*)::BIGINT AS c1
  FROM fst JOIN ulp ON fst.t = ulp.t GROUP BY fst.doc_id),
$bigramPplSql""")),

    // Interpolated Kneser–Ney bigram perplexity — the canonical n-gram
    // smoothing (D = 3/4; continuation distribution from distinct-
    // continuation counts, add-K smoothed so doc-initial-only tokens
    // keep support). Self-scoring keeps every KN term defined (nab ≥ 1,
    // na ≥ 1); identical IEEE expression shape in both engines, then
    // the DECIMAL(28,12) truncation makes per-doc sums order-free.
    ("quality_perplexity_kn",
      (s: SparkSession, d: String) =>
        graft.ext.Lm.perplexityKn(docs(s, d)).orderBy("doc_id"),
      Some(s"""WITH $knTokenCtes,
$knCountCtes,
blp AS (SELECT cb.a, cb.b,
  CAST(ln((nab - 0.75) / na
          + (0.75 * n1a) / na
            * ((n1b + 0.5) / (btypes + 0.5 * (vsz + 1))))
       AS DECIMAL(28,12)) AS lp
  FROM cb JOIN cc ON cb.a = cc.a JOIN cw ON cb.b = cw.b
  CROSS JOIN bt CROSS JOIN vt),
$knFirstTokenCte,
su AS (SELECT doc_id, sum(lp) AS s1, count(*)::BIGINT AS c1
       FROM flp GROUP BY doc_id),
$bigramPplSql""")),

    // The full trigram KN chain: p3 interpolates into the SAME bigram
    // KN probability (materialized once as a double column, reused by
    // second-token scores and the trigram backoff — both engines
    // compose the identical IEEE value), which interpolates into the
    // smoothed continuation distribution. Raw-count middle order is the
    // documented deviation keeping every denominator >= 1 under
    // self-scoring. Token 1 under pc, token 2 under p2, rest under p3.
    ("quality_perplexity_kn3",
      (s: SparkSession, d: String) =>
        graft.ext.Lm.perplexityKn3(docs(s, d)).orderBy("doc_id"),
      Some(s"""WITH $knTokenCtes,
tg AS (SELECT doc_id, unnest(ts[1:len(ts)-2]) AS a,
              unnest(ts[2:len(ts)-1]) AS b,
              unnest(ts[3:len(ts)]) AS c FROM tl WHERE len(ts) >= 3),
$knCountCtes,
p2tab AS (SELECT cb.a, cb.b,
    (nab - 0.75) / na
      + (0.75 * n1a) / na * ((n1b + 0.5) / (btypes + 0.5 * (vsz + 1)))
      AS p2
  FROM cb JOIN cc ON cb.a = cc.a JOIN cw ON cb.b = cw.b
  CROSS JOIN bt CROSS JOIN vt),
t3 AS (SELECT a, b, c, count(*)::BIGINT AS nabc FROM tg GROUP BY a, b, c),
t3c AS (SELECT a, b, sum(nabc)::BIGINT AS nabdot,
               count(*)::BIGINT AS n1ab FROM t3 GROUP BY a, b),
tlp AS (SELECT t3.a, t3.b, t3.c,
    CAST(ln((nabc - 0.75) / nabdot
            + (0.75 * n1ab) / nabdot * p.p2) AS DECIMAL(28,12)) AS lp
  FROM t3 JOIN t3c ON t3.a = t3c.a AND t3.b = t3c.b
  JOIN p2tab p ON p.a = t3.b AND p.b = t3.c),
blp2 AS (SELECT a, b, CAST(ln(p2) AS DECIMAL(28,12)) AS lp FROM p2tab),
$knFirstTokenCte,
snd AS (SELECT doc_id, ts[1] AS a, ts[2] AS b FROM tl WHERE len(ts) >= 2),
s1 AS (SELECT doc_id, sum(lp) AS s1, count(*)::BIGINT AS c1
       FROM flp GROUP BY doc_id),
s2 AS (SELECT snd.doc_id, sum(blp2.lp) AS s2, count(*)::BIGINT AS c2
  FROM snd JOIN blp2 ON snd.a = blp2.a AND snd.b = blp2.b
  GROUP BY snd.doc_id),
s3 AS (SELECT tg.doc_id, sum(tlp.lp) AS s3, count(*)::BIGINT AS c3
  FROM tg JOIN tlp ON tg.a = tlp.a AND tg.b = tlp.b AND tg.c = tlp.c
  GROUP BY tg.doc_id),
agg AS (SELECT s1.doc_id,
  s1.s1 + coalesce(s2.s2, CAST(0 AS DECIMAL(28,12)))
        + coalesce(s3.s3, CAST(0 AS DECIMAL(28,12))) AS slp,
  s1.c1 + coalesce(s2.c2, 0) + coalesce(s3.c3, 0) AS n_tokens
  FROM s1 LEFT JOIN s2 ON s1.doc_id = s2.doc_id
  LEFT JOIN s3 ON s1.doc_id = s3.doc_id)
${pplSql("agg")}""")),

    // ----------------------------------------------------- BPE tokenizer
    // The learned-subword layer: a deterministic distributed BPE merge
    // learner (driver-paced fixpoint like `components`; state is the
    // vocabulary-sized word-frequency frame) and its tokenizer apply.
    // DuckDB re-learns the identical merge table by replaying the rounds
    // as unrolled CTEs, so BOTH queries carry full oracles.
    ("bpe_vocab",
      (s: SparkSession, d: String) => graft.ext.Bpe.vocabAt(s, d, bpeMerges),
      Some(bpeVocabSql(bpeMerges))),

    ("bpe_tokenize",
      (s: SparkSession, d: String) =>
        graft.ext.Bpe.tokenize(docs(s, d),
          graft.ext.Bpe.learnAt(s, d, bpeMerges)).orderBy("doc_id"),
      Some(bpeTokenizeSql(bpeMerges))),

    // Per-source tokenizer fit: characters per learned-BPE token — a
    // source the merges don't fit tokenizes long (low compression).
    ("bpe_compression",
      (s: SparkSession, d: String) =>
        graft.ext.Bpe.compressionBySource(docs(s, d),
          graft.ext.Bpe.learnAt(s, d, bpeMerges)),
      Some(s"""WITH ${bpeDocTokenCtes(bpeMerges)},
tc AS (SELECT fin.doc_id,
  (CASE WHEN ts = '' THEN 0 ELSE len(string_split(ts, ' ')) END)::BIGINT AS n_tok,
  (len(ts) - CASE WHEN ts = '' THEN 0
     ELSE len(string_split(ts, ' ')) - 1 END)::BIGINT AS n_chars_tok
  FROM fin),
j AS (SELECT d.source, tc.n_tok, tc.n_chars_tok
      FROM tc JOIN documents d ON tc.doc_id = d.doc_id)
SELECT source, count(*)::BIGINT AS n_docs, sum(n_tok)::BIGINT AS n_tokens,
  sum(n_chars_tok)::BIGINT AS n_chars,
  round(sum(n_chars_tok)::DOUBLE / greatest(sum(n_tok), 1), 4) AS chars_per_token_r
FROM j GROUP BY source ORDER BY source""")),

    // Context-window packing driven by the LEARNED tokenizer instead of
    // whitespace counts — the integration every token statistic in a
    // real pipeline runs through (pack on the same tokens you train on).
    ("pack_windows_bpe",
      (s: SparkSession, d: String) => {
        import org.apache.spark.sql.functions.col
        graft.ext.Packing.packWindowsCounted(
          graft.ext.Bpe.tokenize(docs(s, d),
            graft.ext.Bpe.learnAt(s, d, bpeMerges))
            .select(col("doc_id"), col("n_tokens").cast("long").as("n_tok")),
          budget = 512)
      },
      Some(bpePackSql(bpeMerges, 512))),

    // ------------------------------------------------------- multimodal
    // Container-header metadata — genuinely correct, codec-free: the
    // media fixture carries REAL PNG/JPEG/WebP/GIF/WAV/AVI headers and the query
    // parses dims/frames/rate from the header bytes with pure
    // substring/conv expressions over hex(payload). The oracle
    // re-synthesizes the identical bytes in DuckDB and RE-PARSES them in
    // SQL (including the 8-step JPEG marker-segment walk past a planted
    // FF C0 decoy inside a DQT segment), so the whole synth→parse chain
    // is verified cross-engine.
    ("media_dims",
      (s: SparkSession, d: String) => {
        import org.apache.spark.sql.functions._
        graft.ext.Multimodal.withHeaderMeta(
          graft.ext.Multimodal.mediaWithHeaders(docs(s, d))
            .select("media_id", "kind", "payload"),
          hex(col("payload")))
          .select("media_id", "kind", "format", "width", "height",
            "n_frames", "sample_rate", "channels")
          .orderBy("media_id")
      },
      Some(s"""WITH $mediaHxCte,
$jpegWalkCtes,
meta AS (SELECT media_id, kind, hx, pos,
  CASE WHEN substring(hx,1,16) = '89504E470D0A1A0A' THEN 'png'
       WHEN substring(hx,1,4) = 'FFD8' THEN 'jpeg'
       WHEN substring(hx,1,8) = '52494646' AND substring(hx,17,8) = '57415645'
            AND substring(hx,25,8) = '666D7420' THEN 'wav'
       WHEN substring(hx,1,8) = '52494646' AND substring(hx,17,8) = '41564920'
            AND substring(hx,25,8) = '4C495354' AND substring(hx,41,8) = '6864726C'
            AND substring(hx,49,8) = '61766968' THEN 'avi'
       WHEN substring(hx,1,8) = '52494646' AND substring(hx,17,8) = '57454250'
            AND substring(hx,25,8) = '56503858' THEN 'webp'
       WHEN substring(hx,1,12) IN ('474946383761','474946383961') THEN 'gif'
       ELSE 'unknown' END AS format
  FROM p8)
SELECT media_id, kind, format,
  CASE WHEN format = 'png' THEN CAST('0x' || substring(hx,33,8) AS INT)
       WHEN format = 'jpeg' AND substring(hx,pos,4) IN ('FFC0','FFC1','FFC2')
         THEN CAST('0x' || substring(hx,pos+14,4) AS INT)
       WHEN format = 'avi' THEN ${le32AtSql(129)}
       WHEN format = 'webp' THEN ${le24AtSql(49)} + 1
       WHEN format = 'gif' THEN ${le16AtSql(13)} END AS width,
  CASE WHEN format = 'png' THEN CAST('0x' || substring(hx,41,8) AS INT)
       WHEN format = 'jpeg' AND substring(hx,pos,4) IN ('FFC0','FFC1','FFC2')
         THEN CAST('0x' || substring(hx,pos+10,4) AS INT)
       WHEN format = 'avi' THEN ${le32AtSql(137)}
       WHEN format = 'webp' THEN ${le24AtSql(55)} + 1
       WHEN format = 'gif' THEN ${le16AtSql(17)} END AS height,
  CASE WHEN format = 'avi' THEN ${le32AtSql(97)}
       WHEN format IN ('png','jpeg','webp','gif') THEN 1 END AS n_frames,
  CASE WHEN format = 'wav' THEN ${le32AtSql(49)} END AS sample_rate,
  CASE WHEN format = 'wav' THEN ${le16AtSql(45)} END AS channels
FROM meta ORDER BY media_id""")),

    // Feature extraction: dims + frame counts come from the REAL header
    // parse (HeaderCodec in the mapPartitions seam). The embedding stub
    // (FakeCodec's 64-bit LCG over the payload bytes) is now FULLY
    // oracled (VERDICT r9 item 5, the splitmix64/DedupIndex precedent):
    // DuckDB refolds the same LCG over the payload hex in HUGEINT limb
    // arithmetic and replays the long→float32 → ÷2^53 → −0.5 chain as
    // correctly-rounded REAL casts (float ops computed in double round
    // identically — double carries ≥ 2p+2 bits of float precision). The
    // digest is over half-up-scaled 4-dp longs, a tie-free integer
    // rendering both engines format identically (a float×10⁴ can never
    // land exactly on .5: odd/20000 is not a dyadic rational).
    ("media_features",
      (s: SparkSession, d: String) => {
        import org.apache.spark.sql.functions._
        graft.ext.Multimodal
          // realDecode = false: header+text payloads, stub-seam oracle
          // (see extractFeatures scaladoc); the REAL pixel-embedding
          // path rides media_embedding's full oracle
          .extractFeatures(graft.ext.Multimodal.mediaWithHeaders(docs(s, d)),
            realDecode = false)
          .select(
            col("media_id"), col("kind"), col("width"), col("height"),
            col("n_frames"),
            md5(concat_ws(",", transform(col("feature"),
              x => floor(x.cast("double") * lit(10000.0d) + lit(0.5d))
                .cast("long").cast("string")))).as("feature_digest"))
          .orderBy("media_id")
      },
      Some(mediaFeaturesSql)),

    // REAL pixel decode end-to-end (VERDICT r10 item 5): the fixture
    // carries conforming 24-bpp BMP files (bottom-up rows, 4-byte row
    // padding, B,G,R sample order) synthesized from a deterministic
    // (doc_id, x, y) formula; Spark decodes the BYTES back with
    // Multimodal.BmpCodec (pure byte arithmetic, no codec lib) and
    // aggregates all-integer pixel features. DuckDB computes the same
    // features straight from the formula — so the oracle pins the
    // decoder itself: a wrong data offset, forgotten padding, top-down
    // scan, or swapped channels changes the sums and the row goes red.
    ("media_features_bmp",
      mediaFeatures(Multimodal.mediaBmp, Multimodal.bmpFeatures),
      Some(s"""WITH ${pixelGridCtes("doc_id % 16 + 1", "(doc_id * 7) % 12 + 1", "")},
v AS (
  SELECT doc_id, w, h,
         (doc_id + 3 * x + 7 * y) % 256 AS b,
         (5 * doc_id + x + 11 * y) % 256 AS g,
         (9 * doc_id + 13 * x + y) % 256 AS r,
         y * w + x + 1 AS pw
  FROM px)
$rgbFeaturesSql""")),

    // Shot-boundary detection (r12): per-frame aHash over the real AVI
    // decode chain, a cut wherever adjacent frames' hamming exceeds the
    // threshold. Even-id videos INVERT every channel (255 − v) from the
    // midpoint frame on; odd-id videos are one static scene (drift was
    // measured and rejected: mod-256 wraps are themselves visual
    // changes, and a uniform additive bump often leaves the hash
    // untouched — see mediaAviScenes). Oracle replays per-frame aHash,
    // the lag compare, and the threshold from the formula.
    ("media_scene_cuts",
      mediaFeatures(Multimodal.mediaAviScenes,
        Multimodal.sceneCuts(_, threshold = 3)),
      Some(s"""WITH d AS (
  SELECT doc_id, CAST(doc_id % 8 + 1 AS INT) AS w,
         CAST((doc_id * 5) % 6 + 1 AS INT) AS h,
         CAST(doc_id % 5 + 2 AS INT) AS nf
  FROM documents),
sp AS (SELECT doc_id, w, h, nf, ff.f::INT AS f, t.i AS bit,
              ((t.i % 8) * w) // 8 AS x, ((t.i // 8) * h) // 8 AS y
       FROM d, unnest(range(0, nf)) AS ff(f), unnest(range(0, 64)) AS t(i)),
lm AS (SELECT doc_id, nf, f, bit,
         299 * (CASE WHEN inv THEN 255 - ((9 * doc_id + 13 * x + y) % 256)
                     ELSE (9 * doc_id + 13 * x + y) % 256 END)
       + 587 * (CASE WHEN inv THEN 255 - ((5 * doc_id + x + 11 * y) % 256)
                     ELSE (5 * doc_id + x + 11 * y) % 256 END)
       + 114 * (CASE WHEN inv THEN 255 - ((doc_id + 3 * x + 7 * y) % 256)
                     ELSE (doc_id + 3 * x + 7 * y) % 256 END) AS l
       FROM (SELECT *,
               (doc_id % 2 = 0 AND f >= nf // 2) AS inv
             FROM sp) z),
$aHashCutsSql""")),

    // REAL video decode (r12), completing the modality triad: AVI with
    // uncompressed 24-bpp DIB frames — nested RIFF LIST walk (geometry
    // lives two LISTs deep in strf), per-frame BMP pixel arrays
    // (bottom-up, padded, B,G,R), frame ORDER pinned by the (f+1)-
    // weighted checksum. Oracle recomputes from the frame formula.
    ("media_video_features",
      mediaFeatures(Multimodal.mediaAviDib, Multimodal.aviFeatures),
      Some(s"""WITH ${aviDibCtes("")}
SELECT doc_id AS media_id, w AS width, h AS height, nf::BIGINT AS n_frames,
       sum(299 * r + 587 * g + 114 * b)::BIGINT AS luma_milli,
       sum(wgt * (r + 2 * g + 3 * b))::BIGINT AS checksum
FROM v GROUP BY doc_id, w, h, nf ORDER BY media_id""")),

    // COMPRESSED video (r14): Motion JPEG — every `00dc` chunk a complete
    // baseline JPEG, the real-world self-contained AVI form. Composes the
    // two existing real layers (AviCodec's nested RIFF walk dispatching
    // on the MJPG strf fourcc → JpegCodec's full T.81 entropy decode per
    // frame). Frames are the mediaJpeg DC-only construction, so the
    // decode is integer-exact and the oracle replays the DC prediction
    // chain (window sum) per frame: block value 128+S, negated from the
    // midpoint frame on even ids (the planted scene jump). A wrong RIFF
    // ledger, fourcc dispatch, Huffman walk, EXTEND, dequant, IDCT
    // constant, or frame ORDER is a red row.
    ("media_video_features_mjpeg",
      mediaFeatures(Multimodal.mediaAviMjpeg, Multimodal.aviFeatures),
      // the AVI oracle carries a note on `v` that the MP4 oracle lacks
      Some(mjpegFeaturesSql("""-- gv: the frame's flat 8x8 tile value for block j; pw: the closed-form
        -- sum of (y*w + x + 1) over the tile's 64 pixels (w = 8*wb)
        """))),

    // Shot-boundary detection through the COMPRESSED path (r14): the
    // same aHash lag-compare as media_scene_cuts, but every frame first
    // rides the full JPEG entropy decode. Even-id videos negate every DC
    // diff from the midpoint frame (128+S → 128−S: the negative-film
    // jump, which flips every hash bit whose sampled block sits strictly
    // off the frame mean); odd-id videos are one static scene. Oracle
    // replays the DC chain, the 8×8 sample grid (a cell's block is
    // by·wb+bx), the integer mean threshold, and the lag compare.
    ("media_scene_cuts_mjpeg",
      mediaFeatures(Multimodal.mediaAviMjpeg,
        Multimodal.sceneCuts(_, threshold = 3)),
      Some(s"""WITH ${mjpegBlkCtes("")},
sp AS (
  SELECT doc_id, nf, wb, hb, ff.f::INT AS f, t.i AS bit,
         ((t.i % 8) * wb) // 8 AS bx, ((t.i // 8) * hb) // 8 AS by
  FROM d, unnest(range(0, nf)) AS ff(f), unnest(range(0, 64)) AS t(i)),
lm AS (
  SELECT sp.doc_id, sp.nf, sp.f, sp.bit,
         1000 * (128 + CASE WHEN sp.doc_id % 2 = 0 AND sp.f >= sp.nf // 2
                            THEN -b.s ELSE b.s END) AS l
  FROM sp JOIN blk b ON b.doc_id = sp.doc_id
                    AND b.j = sp.by * sp.wb + sp.bx),
$aHashCutsSql""")),

    // Lossy WebP through the REAL VP8 decoder (r15): one arithmetic-
    // coded DC-only keyframe per document (Vp8Codec.encodeDcOnly —
    // genuinely bool-coded, libwebp-decodable), decoded by the
    // conformance-proved Vp8Codec (bit-exact vs libwebp's WebPDecodeYUV
    // on 85 fixtures, Vp8ConformanceSpec). The family is closed-form:
    // every MB reconstructs uniform — Y2 DC rides the WHT(+3>>3) then
    // iDCT(+4>>3) ladder onto the DC16 prediction chain (128 at the
    // origin, left/above/avg across MBs), chroma DCs ride iDCT alone
    // onto the same chain shape with the 132-clamped uv quantizer. The
    // oracle replays exactly that, dequant table inlined from
    // Vp8Tables (itself recovered from libwebp's .rodata).
    ("media_features_vp8",
      mediaFeatures(Multimodal.mediaWebpVp8, Multimodal.vp8Features),
      Some(s"""WITH $vp8DcqCte,
${vp8DimsCte("")},
tok AS (
  SELECT d.*, k,
         CAST(floor((floor((((doc_id + 5 * k) % 23 - 11) * dcq.q * 2 + 3)
           / 8.0) + 4) / 8.0) AS INT) AS yadd,
         CAST(floor((((3 * doc_id + 7 * k) % 19 - 9)
           * LEAST(dcq.q, 132) + 4) / 8.0) AS INT) AS uadd,
         CAST(floor((((7 * doc_id + 11 * k) % 17 - 8)
           * LEAST(dcq.q, 132) + 4) / 8.0) AS INT) AS vadd
  FROM d JOIN dcq ON dcq.i = d.qi, unnest(range(0, 6)) AS tk(k)),
${vp8PivCte("")},
-- the DC prediction chain: MB (0,0) predicts 128; row-0 MBs predict
-- their left neighbor's uniform value; col-0 MBs their above; interior
-- MBs (16*above + 16*left + 16) >> 5 = (above + left + 1) // 2. With
-- mw <= 3 and mh <= 2 the k -> (mx,my) positions admit the explicit
-- per-k CASEs below (k=2 is (1,0) only when mw=2; k=3 is (1,1) when
-- mw=2 else (1,0); k=4,5 exist only at mw=3).
${vp8ChainCte("")}
SELECT doc_id AS media_id, w AS width, h AS height,
  sum(${vp8MbValue("y")}
    * LEAST(16, w - 16 * (tk.k % mw))
    * LEAST(16, h - 16 * (tk.k // mw)))::BIGINT AS y_sum,
  sum(${vp8MbValue("u")}
    * LEAST(8, (w + 1) // 2 - 8 * (tk.k % mw))
    * LEAST(8, (h + 1) // 2 - 8 * (tk.k // mw)))::BIGINT AS u_sum,
  sum(${vp8MbValue("v")}
    * LEAST(8, (w + 1) // 2 - 8 * (tk.k % mw))
    * LEAST(8, (h + 1) // 2 - 8 * (tk.k // mw)))::BIGINT AS v_sum
FROM chain, unnest(range(0, nmb)) AS tk(k)
GROUP BY doc_id, w, h ORDER BY media_id""")),

    // Real-world video is MP4, not AVI (r15): the SAME Motion-JPEG
    // videos as media_video_features_mjpeg — byte-identical frames via
    // the dcOnlyJpeg twin — re-containered as ISO-BMFF by
    // Mp4Codec.encodeMjpeg's full-stbl ledger and decoded back through
    // the general box walk + stsd/stts/stsc/stsz/stco sample-table
    // resolution. Identical frames ⇒ the AVI family's oracle verbatim.
    ("media_video_features_mp4",
      mediaFeatures(Multimodal.mediaMp4Mjpeg, Multimodal.mp4Features),
      Some(mjpegFeaturesSql(""))),

    // WebM/Matroska (r15): VP8's real-world container. EBML walk
    // (vint IDs/sizes, nested masters, forward-compat skip of unknown
    // elements) to the one V_VP8 track, every keyframe SimpleBlock
    // through the conformance-proved Vp8Codec, then the house integer
    // YUV->RGB. The oracle extends the media_features_vp8 closed form
    // by a frame dimension (per-frame token formulas, per-frame DC
    // chains) and replays the RGB conversion; the (f+1)-weighted
    // checksum pins SimpleBlock ORDER.
    ("media_video_features_webm",
      mediaFeatures(Multimodal.mediaWebmVp8, Multimodal.webmFeatures),
      Some(s"""WITH $vp8DcqCte,
${vp8DimsCte(", CAST(doc_id % 4 + 1 AS INT) AS nf")},
tok AS (
  SELECT d.*, ff.f::INT AS f, k,
         CAST(floor((floor((((doc_id + 5 * k + 13 * ff.f) % 23 - 11)
           * dcq.q * 2 + 3) / 8.0) + 4) / 8.0) AS INT) AS yadd,
         CAST(floor((((3 * doc_id + 7 * k + 11 * ff.f) % 19 - 9)
           * LEAST(dcq.q, 132) + 4) / 8.0) AS INT) AS uadd,
         CAST(floor((((7 * doc_id + 11 * k + 17 * ff.f) % 17 - 8)
           * LEAST(dcq.q, 132) + 4) / 8.0) AS INT) AS vadd
  FROM d JOIN dcq ON dcq.i = d.qi,
       unnest(range(0, d.nf)) AS ff(f), unnest(range(0, 6)) AS tk(k)),
${vp8PivCte(", nf, f")},
${vp8ChainCte(", nf, f")},
-- per-MB RGB through the house integer BT.601 (Vp8Codec.yuvToRgb):
-- every luma pixel of MB k shares (ym_k, um_k, vm_k), so the frame's
-- sums weight each MB's converted RGB by its visible pixel count
mbrgb AS (
  SELECT doc_id, w, h, mw, nf, f,
         LEAST(16, w - 16 * (tk.k % mw))
           * LEAST(16, h - 16 * (tk.k // mw)) AS npx,
         298 * ((${vp8MbValue("y")}) - 16) AS yy,
         (${vp8MbValue("u")}) - 128 AS dd,
         (${vp8MbValue("v")}) - 128 AS ee
  FROM chain, unnest(range(0, nmb)) AS tk(k)),
rgb AS (
  SELECT doc_id, w, h, nf, f, npx,
    GREATEST(0, LEAST(255,
      CAST(floor((yy + 409 * ee + 128) / 256.0) AS INT))) AS r,
    GREATEST(0, LEAST(255,
      CAST(floor((yy - 100 * dd - 208 * ee + 128) / 256.0) AS INT))) AS g,
    GREATEST(0, LEAST(255,
      CAST(floor((yy + 516 * dd + 128) / 256.0) AS INT))) AS b
  FROM mbrgb)
SELECT doc_id AS media_id, w AS width, h AS height, nf::BIGINT AS n_frames,
       sum(r * npx)::BIGINT AS sum_r,
       sum(g * npx)::BIGINT AS sum_g,
       sum(b * npx)::BIGINT AS sum_b,
       sum((f + 1) * (r + 2 * g + 3 * b) * npx)::BIGINT AS checksum
FROM rgb GROUP BY doc_id, w, h, nf ORDER BY media_id""")),

    // Two-trak MP4 A/V (r15): real-world MP4s carry audio, and the
    // video-only walk REJECTS them by design — decodeAv is the entry
    // point that accepts exactly one 'vide' + one 'sowt' PCM trak. The
    // mdat is genuinely interleaved and stco points into it, so the
    // (f+1)-weighted av_checksum pins the stsc/stco CHUNK ASSOCIATION
    // (the AVI twin pins physical chunk order). Video = the dcOnlyJpeg
    // DC-chain formulas; audio = the AVI A/V family's PCM formula.
    ("media_av_features_mp4",
      mediaFeatures(Multimodal.mediaMp4Av, Multimodal.mp4AvFeatures),
      Some(s"""WITH ${mjpegBlkCtes(", CAST(doc_id % 7 + 3 AS INT) AS spf")},
${mjpegTilesCte("")},
vid AS (
  SELECT doc_id, CAST(8 * wb AS INT) AS width,
         CAST(8 * hb AS INT) AS height, nf::BIGINT AS n_frames,
         sum(64000 * gv)::BIGINT AS luma_milli,
         sum((f + 1) * 6 * gv * pw)::BIGINT AS checksum
  FROM v GROUP BY doc_id, wb, hb, nf),
au AS (
  SELECT d.doc_id,
         count(*)::BIGINT AS n_samples,
         sum(abs((3 * d.doc_id + 17 * t.k) % 65536 - 32768))::BIGINT
           AS sum_abs,
         sum(((3 * d.doc_id + 17 * t.k) % 65536 - 32768)
           * ((3 * d.doc_id + 17 * t.k) % 65536 - 32768))::BIGINT AS sum_sq,
         sum((t.k // d.spf + 1)
           * abs((3 * d.doc_id + 17 * t.k) % 65536 - 32768))::BIGINT
           AS av_checksum
  FROM d, unnest(range(0, d.nf * d.spf)) AS t(k)
  GROUP BY d.doc_id)
SELECT vid.doc_id AS media_id, width, height, n_frames, n_samples,
       luma_milli, checksum, sum_abs, sum_sq, av_checksum
FROM vid JOIN au ON au.doc_id = vid.doc_id
ORDER BY media_id""")),

    // MP4 dims via PURE-COLUMN parse (the media_dims capability for
    // ISO-BMFF, kept a sibling query: the header-synth family's id→
    // format map is pinned inside five existing oracles, so MP4 rides
    // its own real-file family instead of reassigning that id space).
    // The Spark side computes the moov base from the mdat box header
    // and reads tkhd/mvhd fields at fixed offsets from it — real byte
    // parsing, codegen'd, no UDF; the oracle pins the parsed values to
    // the synth formulas, and Mp4DimsSpec pins Column-parse ≡ JVM walk.
    ("media_dims_mp4",
      mediaFeatures(Multimodal.mediaMp4Mjpeg, Multimodal.mp4Dims),
      Some("""SELECT doc_id AS media_id,
  CAST(8 * (doc_id % 3 + 1) AS INT) AS width,
  CAST(8 * (2 - doc_id % 2) AS INT) AS height,
  CAST(doc_id % 5 + 2 AS BIGINT) AS n_frames
FROM documents ORDER BY media_id""")),

    // Compressed audio (r15): IMA-ADPCM, the classic 4-bit WAV codec
    // (format tag 0x0011). The synth seeds each block's header
    // predictor/step-index and the data NIBBLES from id formulas, so
    // the decoded signal is exactly the normative recurrence —
    // diff = step>>3 (+step>>2|step>>1|step per magnitude bit), sign
    // subtracts, int16-clamped predictor, 0..88-clamped index — which
    // the oracle replays as a RECURSIVE CTE over the same step/index
    // tables (inlined from AdpcmCodec).
    ("media_audio_features_adpcm",
      mediaFeatures(Multimodal.mediaWavAdpcm, Multimodal.adpcmFeatures),
      Some {
        val steps = graft.ext.Multimodal.AdpcmCodec.stepTable.zipWithIndex
          .map { case (v, i) => s"($i,$v)" }.mkString(",")
        val nibExpr = "(r.doc_id + 3 * r.b + 5 * r.j) % 16"
        s"""WITH RECURSIVE
stept(i, v) AS (SELECT * FROM (VALUES $steps) t(i, v)),
idxt(n, dd) AS (SELECT * FROM (VALUES (0,-1),(1,-1),(2,-1),(3,-1),
  (4,2),(5,4),(6,6),(7,8)) t(n, dd)),
d AS (SELECT doc_id, CAST(doc_id % 3 + 1 AS INT) AS nb FROM documents),
blocks AS (
  SELECT doc_id, b.b::INT AS b,
         CAST((31 * doc_id + 911 * b.b) % 65536 - 32768 AS INT) AS p0,
         CAST((doc_id + 7 * b.b) % 89 AS INT) AS i0
  FROM d, unnest(range(0, nb)) AS b(b)),
rec(doc_id, b, j, pred, idx) AS (
  SELECT doc_id, b, 0, p0, i0 FROM blocks
  UNION ALL
  SELECT r.doc_id, r.b, r.j + 1,
    GREATEST(-32768, LEAST(32767,
      r.pred + CASE WHEN $nibExpr >= 8 THEN -1 ELSE 1 END *
        (s.v // 8
         + CASE WHEN $nibExpr % 2 = 1 THEN s.v // 4 ELSE 0 END
         + CASE WHEN ($nibExpr // 2) % 2 = 1 THEN s.v // 2 ELSE 0 END
         + CASE WHEN ($nibExpr // 4) % 2 = 1 THEN s.v ELSE 0 END))),
    GREATEST(0, LEAST(88, r.idx + it.dd))
  FROM rec r
  JOIN stept s ON s.i = r.idx
  JOIN idxt it ON it.n = ($nibExpr) % 8
  WHERE r.j < 16),
samp AS (SELECT doc_id, b * 17 + j AS k, pred,
                lag(pred) OVER (PARTITION BY doc_id ORDER BY b * 17 + j)
                  AS prev
         FROM rec)
SELECT doc_id AS media_id, CAST(8000 AS INT) AS sample_rate,
       count(*)::BIGINT AS n_samples,
       sum(abs(pred))::BIGINT AS sum_abs,
       max(abs(pred))::BIGINT AS max_abs,
       sum(pred::BIGINT * pred)::BIGINT AS sum_sq,
       sum(CASE WHEN prev IS NOT NULL AND prev::BIGINT * pred < 0
                THEN 1 ELSE 0 END)::BIGINT AS zero_crossings
FROM samp GROUP BY doc_id ORDER BY media_id"""
      }),

    // Content embeddings from DECODED PIXELS (r14, VERDICT item 3): the
    // embedding seam runs over real pixels for every decodable format —
    // a 4×4 block-mean milli-luma grid (integer mean, empty grid cells
    // 0), the classic thumbnail feature. One table unions FIVE real
    // decode paths (BMP raw bytes, PGM tokenized header, GIF LZW, PNG
    // zlib+filters, JPEG entropy decode), each behind the magic-byte
    // dispatch; the oracle replays every format's pixel formula, the
    // luma, the grid bucketing, and the integer mean. FakeCodec's
    // embedding remit is now only payloads no codec claims.
    ("media_embedding",
      (s: SparkSession, d: String) => {
        val m = graft.ext.Multimodal
        embeddingRows(m.mediaEmbedding(m.mediaAllFormats(docs(s, d)), dim = 16))
      },
      Some(mediaEmbeddingSql)),

    // Pixel embeddings are FIRST-CLASS citizens of the similarity tier
    // (r14): the decoded-pixel vectors flow straight into the exact
    // cosine top-k machinery (decode -> embed -> ANN, the full
    // multimodal retrieval pipeline in one query). Integer milli-luma
    // entries keep every partial sum exact in double, so the native
    // CosineSim expression and DuckDB's literal 16-term replay are
    // bit-identical; all-zero vectors (an all-black thumbnail exists in
    // the fixture: doc 0 is a 1x1 black BMP) are excluded on BOTH sides
    // before any norm divides by zero.
    ("media_embedding_topk",
      (s: SparkSession, d: String) => {
        val m = graft.ext.Multimodal
        mediaTopK(m.mediaEmbedding(m.mediaBmp(docs(s, d)), dim = 16))
      },
      Some(mediaTopkSql)),

    // The same exact top-k SERVED from the streamed MediaSink table
    // instead of computed from payloads in-plan: probe rows come out of
    // the bucketed serving table (BMP rows are the < 10^11 id range),
    // proving the persisted embeddings are byte-faithful to the decode
    // path - identical ranks, one oracle.
    ("media_embedding_topk_served",
      (s: SparkSession, d: String) => {
        import org.apache.spark.sql.functions._
        mediaTopK(graft.sinks.MediaSink.materialized(s, d)
          .where(col("media_id") < 100000000000L)) // the BMP range
      },
      Some(mediaTopkSql)),

    // The decode→embed→index→serve loop CLOSED (r15, VERDICT task 4):
    // the served MediaSink embeddings through a PERSISTED AnnIndex
    // (frozen int8 codebook + strided centroids, cell-bucketed layout,
    // pruned probes) instead of the brute-force in-plan top-k. Every
    // stage integer-fed and deterministic, so the full oracle holds:
    // the q8 quantize/assign/probe chain over the media vectors.
    ("media_embedding_topk_ann",
      (s: SparkSession, d: String) =>
        graft.sinks.AnnIndex.probe(
          s, graft.sinks.MediaSink.annIndexed(s, d), numQueries = 8, k = 10)
          .withColumnRenamed("rank", "rnk"),
      Some(mediaAnnSql)),

    // Interleaved A/V demux (r14): one AVI carrying BOTH modalities —
    // '00db' DIB frames and '01wb' PCM chunks, strf headers attached to
    // streams by hdrl ORDER. The cross-modal av_checksum ((f+1)-weighted
    // per-chunk |s| sums) pins the interleaving: concatenating audio in
    // the wrong order, or routing a chunk to the wrong stream, is a red
    // row. Oracle replays the video formula, the WAV sample formula on
    // GLOBAL indices, and the chunk windowing (chunk f = k // spf).
    ("media_av_features",
      mediaFeatures(Multimodal.mediaAviAv, Multimodal.avFeatures),
      Some(s"""WITH ${aviDibCtes(", CAST(doc_id % 7 + 3 AS INT) AS spf")},
vf AS (SELECT doc_id, w, h, nf,
              sum(299 * r + 587 * g + 114 * b)::BIGINT AS luma_milli,
              sum(wgt * (r + 2 * g + 3 * b))::BIGINT AS checksum
       FROM v GROUP BY doc_id, w, h, nf),
au AS (SELECT doc_id, spf, t.k,
              ((3 * doc_id + 17 * t.k) % 65536) - 32768 AS s
       FROM d, unnest(range(0, nf * spf)) AS t(k)),
af AS (SELECT doc_id, count(*)::BIGINT AS n_samples,
              sum(abs(s))::BIGINT AS sum_abs,
              sum(s * s)::BIGINT AS sum_sq,
              sum((k // spf + 1) * abs(s))::BIGINT AS av_checksum
       FROM au GROUP BY doc_id)
SELECT vf.doc_id AS media_id, vf.w AS width, vf.h AS height,
       vf.nf::BIGINT AS n_frames, af.n_samples, vf.luma_milli,
       vf.checksum, af.sum_abs, af.sum_sq, af.av_checksum
FROM vf JOIN af ON af.doc_id = vf.doc_id
ORDER BY media_id""")),

    // REAL audio decode (r12): WAV-contained PCM — a chunk-ITERATED RIFF
    // walk (planted JUNK chunks on every fourth doc shift fmt/data, so
    // fixed-offset parsing fails the hash), little-endian int16 samples,
    // integer-exact features (Σ|s|, max|s|, Σs², strict zero crossings).
    // The oracle recomputes every feature from the sample formula.
    ("media_audio_features",
      mediaFeatures(Multimodal.mediaWavPcm, Multimodal.wavFeatures),
      Some("""WITH d AS (
  SELECT doc_id, CAST(doc_id % 200 + 50 AS INT) AS n FROM documents),
s AS (SELECT doc_id, i, ((3 * doc_id + 17 * i) % 65536) - 32768 AS v
      FROM d, unnest(range(0, n)) t(i)),
f AS (SELECT doc_id, v,
             lag(v) OVER (PARTITION BY doc_id ORDER BY i) AS pv
      FROM s)
SELECT doc_id AS media_id, CAST(8000 AS INT) AS sample_rate,
       count(*)::BIGINT AS n_samples,
       sum(abs(v))::BIGINT AS sum_abs, max(abs(v))::BIGINT AS max_abs,
       sum(v * v)::BIGINT AS sum_sq,
       sum(CASE WHEN pv IS NOT NULL AND pv * v < 0 THEN 1 ELSE 0 END)::BIGINT
         AS zero_crossings
FROM f GROUP BY doc_id ORDER BY media_id""")),

    // Perceptual-hash near-dup over REAL decoded pixels (r12): aHash on
    // the canonical 8×8 nearest-neighbor grid, integer mean threshold
    // (l·64 > Σl — no float mean), banded hamming join. Planted classes:
    // exact byte copies (+10^11, hamming 0 via the identical-fp
    // collapse) and one-pixel perturbations (+2e11 — what a
    // pixel-level hash exists to catch and the byte-level SimHash
    // cannot). The oracle replays resample indices, luma, threshold,
    // banding, and verify from the synth formula.
    ("media_phash_pairs",
      (s: SparkSession, d: String) =>
        graft.ext.Multimodal.mediaPhashPairs(
          graft.ext.Multimodal.mediaBmpNearDups(docs(s, d)), maxHamming = 3),
      Some(s"""WITH ids AS (
  SELECT doc_id, doc_id AS src, 0 AS pert FROM documents
  UNION ALL
  SELECT doc_id + 100000000000, doc_id, 0 FROM documents WHERE doc_id % 25 = 0
  UNION ALL
  SELECT doc_id + 200000000000, doc_id, 1 FROM documents WHERE doc_id % 25 = 0),
dms AS (SELECT doc_id, src, pert,
               CAST(src % 16 + 1 AS INT) AS w,
               CAST((src * 7) % 12 + 1 AS INT) AS h
        FROM ids),
sp AS (SELECT doc_id, src, pert,
              ((i % 8) * w) // 8 AS x, ((i // 8) * h) // 8 AS y,
              i AS bit
       FROM dms, unnest(range(0, 64)) t(i)),
lm AS (SELECT doc_id, bit,
              299 * ((9 * src + 13 * x + y) % 256)
            + 587 * ((5 * src + x + 11 * y) % 256)
            + 114 * ((src + 3 * x + 7 * y
                      + CASE WHEN pert = 1 AND x = 0 AND y = 0
                             THEN 16 ELSE 0 END) % 256) AS l
       FROM sp),
tt AS (SELECT doc_id, sum(l)::BIGINT AS s FROM lm GROUP BY doc_id),
fp AS (SELECT lm.doc_id,
              bit_or(CASE WHEN lm.l * 64 > tt.s
                          THEN CAST(1 AS UBIGINT) << lm.bit::INT
                          ELSE CAST(0 AS UBIGINT) END) AS fp
       FROM lm JOIN tt ON tt.doc_id = lm.doc_id GROUP BY lm.doc_id),
$simhashPairsSql""")),

    // First real COMPRESSED pixel format (r12): BI_RLE8 BMP — the
    // decoder walks a genuine run-length stream (encoded runs, EOL/EOF
    // escapes) and resolves indices through the 1024-byte palette, rows
    // bottom-up. The oracle recomputes the features from the run
    // formula + palette arithmetic, so a wrong run count, palette
    // stride, escape handling, or row direction is a red row.
    ("media_features_rle",
      mediaFeatures(Multimodal.mediaBmpRle, Multimodal.bmpRleFeatures),
      Some(s"""WITH ${pixelGridCtes("doc_id % 14 + 2", "(doc_id * 3) % 10 + 1", "")},
ix AS (
  SELECT doc_id, w, h,
         (3 * doc_id + 5 * (x // 4) + 11 * y) % 256 AS idx,
         y * w + x + 1 AS pw
  FROM px),
v AS (
  SELECT doc_id, w, h, pw,
         (7 * idx) % 256 AS r, (5 * idx) % 256 AS g, (3 * idx) % 256 AS b
  FROM ix)
$rgbFeaturesSql""")),

    // Second REAL pixel format (r11 item 7): binary PGM — ASCII
    // tokenized header (with # comment lines on every third doc, so
    // comment-skipping rides the hash), exactly-one-whitespace raster
    // boundary, top-down gray raster. Synth formula → bytes → PgmCodec
    // decode → features; the oracle recomputes the features from the
    // formula, so a header-parse or raster-offset bug is a red row.
    ("media_features_pgm",
      mediaFeatures(Multimodal.mediaPgm, Multimodal.pgmFeatures),
      Some(s"""WITH ${pixelGridCtes("doc_id % 13 + 1", "(doc_id * 5) % 11 + 1", "")},
v AS (
  SELECT doc_id, w, h,
         (3 * doc_id + 5 * x + 11 * y) % 256 AS gv,
         y * w + x + 1 AS pw
  FROM px)
$grayFeaturesSql""")),

    // Fourth REAL image format, and the first through a GENERAL
    // compressor: PNG — IDAT is zlib, zlib lives in the JDK, so decode
    // is chunk walk → java.util.zip.Inflater (which enforces the
    // stream's adler32) → five-filter unfiltering. The synthesis builds
    // conforming streams as pure Columns (zlib STORED blocks + a
    // formula-computed adler32) with the row filter cycling through all
    // five predictors including Paeth — so every filter's arithmetic,
    // AND the checksum, ride the hashed oracle: a wrong Sub/Up/Average/
    // Paeth on either side (synthesis filters, decode unfilters; the
    // oracle recomputes from the RAW formula, so they cannot cancel) or
    // a wrong adler (Inflater rejects → missing row) is a red row.
    ("media_features_png",
      mediaFeatures(Multimodal.mediaPng, Multimodal.pngFeatures),
      Some(s"""WITH ${pixelGridCtes("doc_id % 7 + 1", "(doc_id * 3) % 6 + 1", "")},
v AS (
  SELECT doc_id, w, h,
         (7 * doc_id + 5 * x + 11 * y) % 256 AS r,
         (3 * doc_id + 13 * x + 2 * y) % 256 AS g,
         (doc_id + x + 17 * y) % 256 AS b,
         y * w + x + 1 AS pw
  FROM px)
$rgbFeaturesSql""")),

    // Fifth REAL image format: GIF — LZW is self-contained arithmetic,
    // so the decoder runs FULL variable-width LZW (dynamic dictionary,
    // width growth, CLEAR resets, LSB-first bits) behind the block
    // grammar. Synthesis builds conforming streams as pure Columns via
    // the legal all-literal encoding (7-bit min code size; <= 45-px
    // images never reach the first width bump, so every code is one
    // byte); the oracle recomputes features from the index formula +
    // palette arithmetic — a wrong dictionary rule, bit order, palette
    // stride, or sub-block walk is a red row. The multi-width encoder
    // path is spec-pinned (GifCodec.encode round-trip).
    ("media_features_gif",
      mediaFeatures(Multimodal.mediaGif, Multimodal.gifFeatures),
      Some(s"""WITH ${pixelGridCtes("doc_id % 9 + 1", "(doc_id * 7) % 5 + 1", "")},
ix AS (
  SELECT doc_id, w, h,
         (3 * doc_id + 5 * x + 11 * y) % 128 AS idx,
         y * w + x + 1 AS pw
  FROM px),
v AS (
  SELECT doc_id, w, h, pw,
         (7 * idx) % 256 AS r, (5 * idx) % 256 AS g, (3 * idx) % 256 AS b
  FROM ix)
$rgbFeaturesSql""")),

    // PROGRESSIVE JPEG under the oracle gate: the same flat-block pixel
    // model as media_features_jpeg, but through encodeProgressive with
    // successive approximation — interleaved point-transformed DC scan,
    // AC band scans with EOBRUN coding, DC raw-bit refinement, AC
    // G.1.2.3 correction-bit refinement — then the multi-scan decoder.
    // Flat blocks are DC-only, so the chain is EXACT and the baseline
    // formula oracle replays it unchanged; a regression anywhere in the
    // scan assembly, point transforms, or refinement bit protocol is a
    // red row.
    ("media_features_jpeg_prog",
      mediaFeatures(Multimodal.mediaJpegProg, Multimodal.jpegFeatures),
      Some(jpegFeaturesSql)),

    // Sixth REAL image format, through an entropy-coded TRANSFORM codec:
    // baseline JPEG (T.81) — canonical Huffman entropy decode (DC
    // prediction + EXTEND, run-length AC), dequantization, 8×8 inverse
    // DCT, level shift. Synthesis keeps the oracle EXACT the way PNG's
    // stored blocks did: DC-only blocks (a DC-only block IDCTs to a flat
    // tile of dc·Q0/8 + 128; Q0 = 8 makes that dc + 128 in integers) and
    // one-entry Huffman tables that byte-align each block's coding. DC
    // is differentially coded, so the oracle's cumulative window sum IS
    // the predictor chain — a wrong Huffman walk, EXTEND, prediction,
    // dequant, IDCT constant, or level shift is a red row. The general
    // paths synthesis can't reach (real Annex K tables, AC runs, byte
    // stuffing, RSTn resync, 4:4:4 color) are spec-pinned by the
    // JpegCodec.encode round-trip in MediaHeadersSpec.
    ("media_features_jpeg",
      mediaFeatures(Multimodal.mediaJpeg, Multimodal.jpegFeatures),
      Some(jpegFeaturesSql)),

    // Seventh REAL image format: lossless WebP (VP8L) — LSB-first
    // bitstream, canonical prefix codes (simple two-symbol form here;
    // the full DEFLATE-style code-length-coded form, LZ77 backrefs,
    // color cache, and subtract-green are spec-pinned via the
    // Vp8lCodec.encode round-trips). Synthesis uses the format's legal
    // degenerate corner: 2-symbol codes for G/R/B and zero-bit codes
    // for alpha/distance make every pixel exactly 3 bits, the whole
    // stream a pure Column bit-fold. The oracle recomputes the
    // two-value palette formula — a wrong bit order, tree read, or
    // channel order is a red row.
    ("media_features_webpl",
      mediaFeatures(Multimodal.mediaWebpl, Multimodal.webplFeatures),
      Some(s"""WITH ${pixelGridCtes("doc_id % 5 + 1", "(doc_id * 3) % 4 + 1", "")},
v AS (
  SELECT doc_id, w, h,
         (3 * doc_id + 29 * ((doc_id + 7 * x + y) % 2)) % 256 AS r,
         (7 * doc_id + 13 * ((doc_id + 3 * x + 5 * y) % 2)) % 256 AS g,
         (11 * doc_id + 71 * ((doc_id + x + 4 * y) % 2)) % 256 AS b,
         y * w + x + 1 AS pw
  FROM px)
$rgbFeaturesSql""")),

    // The VP8L GENERAL machinery under the oracle gate (the synthesis
    // query above can only reach simple trees): run-rich pixels →
    // Vp8lCodec.encode with full code-length-coded trees, LZ77 dist-1
    // backreferences, a 4-bit color cache, and subtract-green → decode
    // → features. Encoding is deterministic and decode lossless, so the
    // output is an exact function of the pixel formula — a regression
    // anywhere in tree writing/reading, backref copy, cache hashing, or
    // the transform inverse is a red row (the media_resize_bmp
    // re-encode-chain precedent).
    ("media_features_webpl_runs",
      mediaFeatures(Multimodal.mediaWebplRuns, Multimodal.webplFeatures),
      Some(webplRunsSql)),

    // The COLOR-INDEXING (palette) VP8L mode under the oracle gate:
    // same pixel formula as media_features_webpl_runs, but the encoder
    // ships a delta-coded palette sub-image (its own recursive image
    // stream) and a bit-packed index image. Lossless decode of the same
    // pixels => the same oracle SQL; a regression in palette delta
    // coding, the sub-image stream, or index unpacking is a red row.
    ("media_features_webpl_palette",
      mediaFeatures(Multimodal.mediaWebplPalette, Multimodal.webplFeatures),
      Some(webplRunsSql)),

    // The FULL VP8L transform chain under the oracle gate: gradient
    // pixels -> subtract-green -> per-tile cross-channel color
    // transform (signed elements, their own recursive stream) ->
    // per-tile best-of-14 spatial prediction (mode sub-image, residual
    // coding) -> color-cached entropy coding -> decode, inverses in
    // reverse stream order. Deterministic + lossless => exact formula
    // oracle; a regression in any of the 14 predictors, the signed
    // ctDelta arithmetic, the edge rules (black corner, forced L/T on
    // first row/column, the rightmost-column TR convention), or the
    // tile lookups is a red row.
    ("media_features_webpl_chain",
      mediaFeatures(Multimodal.mediaWebplChain, Multimodal.webplFeatures),
      Some(s"""WITH ${pixelGridCtes("doc_id % 7 + 4", "(doc_id * 3) % 5 + 3", "")},
v AS (
  SELECT doc_id, w, h,
         (40 + 3 * x + 2 * y + doc_id) % 256 AS r,
         (60 + 2 * x + 4 * y + 3 * doc_id) % 256 AS g,
         (90 + x + y + 7 * doc_id) % 256 AS b,
         y * w + x + 1 AS pw
  FROM px)
$rgbFeaturesSql""")),

    // REAL pixel RESAMPLING end-to-end: decode → integer nearest-
    // neighbor to fit 8×8 (the resize scale/rounding contract) →
    // re-ENCODE as a conforming BMP → decode again → integer features
    // of the re-decoded pixels. DuckDB replays scale, rounding
    // (floor(x+0.5) ≡ Math.round), the floor-division source-pixel
    // mapping, and the channel formulas directly — the oracle pins the
    // whole decode→resample→encode→decode chain.
    ("media_resize_bmp",
      mediaFeatures(Multimodal.mediaBmp, Multimodal.bmpResizeFeatures(_)),
      Some("""WITH dms AS (
  SELECT doc_id, CAST(doc_id % 16 + 1 AS INT) AS w,
         CAST((doc_id * 7) % 12 + 1 AS INT) AS h
  FROM documents),
t AS (
  SELECT doc_id, w, h,
         CASE WHEN greatest(w, h) <= 8 THEN w
              ELSE greatest(1, CAST(floor(w * (8.0 / greatest(w, h)) + 0.5) AS INT)) END AS tw,
         CASE WHEN greatest(w, h) <= 8 THEN h
              ELSE greatest(1, CAST(floor(h * (8.0 / greatest(w, h)) + 0.5) AS INT)) END AS th
  FROM dms),
px AS (
  SELECT doc_id, w, h, tw, th, i % tw AS x, i // tw AS y
  FROM t, unnest(range(0, tw * th)) AS u(i)),
v AS (
  SELECT doc_id, tw, th,
         (doc_id + 3 * ((x * w) // tw) + 7 * ((y * h) // th)) % 256 AS b,
         (5 * doc_id + ((x * w) // tw) + 11 * ((y * h) // th)) % 256 AS g,
         (9 * doc_id + 13 * ((x * w) // tw) + ((y * h) // th)) % 256 AS r,
         y * tw + x + 1 AS pw
  FROM px)
SELECT doc_id AS media_id, tw AS width, th AS height,
       (tw * th)::BIGINT AS n_px,
       sum(r)::BIGINT AS sum_r, sum(g)::BIGINT AS sum_g,
       sum(b)::BIGINT AS sum_b,
       sum(299 * r + 587 * g + 114 * b)::BIGINT AS luma_milli,
       sum(pw * (r + 2 * g + 3 * b))::BIGINT AS checksum
FROM v GROUP BY doc_id, tw, th ORDER BY media_id""")),

    // Aspect-preserving resize geometry over header-parsed dims — fully
    // oracle-able now: the oracle derives the same dims from the synth
    // formulas (ground truth the parse must reproduce) and replays the
    // identical scale/rounding arithmetic (floor(x+0.5) == JVM
    // Math.round for the positive values here).
    ("media_resize",
      (s: SparkSession, d: String) => {
        import org.apache.spark.sql.functions._
        graft.ext.Multimodal
          .resize(graft.ext.Multimodal.mediaWithHeaders(docs(s, d)))
          .select(col("media_id"), col("kind"), col("orig_width"),
            col("orig_height"), col("width"), col("height"),
            round(col("scale"), 6).as("scale_r"))
          .orderBy("media_id")
      },
      Some("""WITH md AS (SELECT doc_id AS media_id,
  CASE WHEN doc_id % 3 = 0 THEN 'image'
       WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
  CAST(CASE WHEN doc_id % 3 = 1 THEN 0 ELSE 1 + doc_id % 1024 END AS INT) AS ow,
  CAST(CASE WHEN doc_id % 3 = 1 THEN 0 ELSE 1 + (doc_id*7) % 1024 END AS INT) AS oh
  FROM documents),
r AS (SELECT media_id, kind, ow, oh,
  CASE WHEN kind = 'audio' OR ow <= 0 OR oh <= 0 THEN 1.0
       ELSE least(1.0, 256.0 / greatest(ow, oh)) END AS s FROM md)
SELECT media_id, kind, ow AS orig_width, oh AS orig_height,
  CAST(CASE WHEN s >= 1.0 THEN ow
            ELSE greatest(1, CAST(floor(ow * s + 0.5) AS INT)) END AS INT) AS width,
  CAST(CASE WHEN s >= 1.0 THEN oh
            ELSE greatest(1, CAST(floor(oh * s + 0.5) AS INT)) END AS INT) AS height,
  round(s, 6) AS scale_r
FROM r ORDER BY media_id""")),

    // Frame sampling over the AVI-header-parsed frame count — fully
    // oracle-able: videos are doc_id%3=2, nf = 1 + doc_id%32 by synth.
    ("media_frame_sample",
      (s: SparkSession, d: String) =>
        graft.ext.Multimodal.sampleFrames(
          graft.ext.Multimodal
            // realDecode = false: only kind/n_frames are consumed, both
            // header-derived — a pixel-decode attempt per hybrid payload
            // would be pure waste (same stub-seam fixture as
            // media_features)
            .extractFeatures(graft.ext.Multimodal.mediaWithHeaders(docs(s, d)),
              realDecode = false))
          .orderBy("media_id", "frame_idx"),
      Some("""WITH md AS (SELECT doc_id AS media_id, 1 + doc_id % 32 AS nf
  FROM documents WHERE doc_id % 3 = 2)
SELECT media_id, CAST(unnest(range(0, nf, 4)) AS INT) AS frame_idx
FROM md ORDER BY media_id, frame_idx""")),

    // ---------------------------------------------- product quantization
    // PQ/ADC (Jégou et al. 2011): 64 dims → 8 one-byte codeword ids — 32×
    // compression with per-subspace directional fidelity (vs the sign
    // bits' 1 bit/dim). Runs over the int8 codes so every distance is
    // exact integer arithmetic → complete oracle.
    ("sim_topk_pq",
      (s: SparkSession, d: String) =>
        graft.ext.Pq.adcTopK(embs(s, d), numQueries = 10, k = 10),
      Some(pqTopSql)),

    // The persisted-index probe (graft.sinks.PqIndex): bit-identical to
    // the in-plan sim_topk_pq by construction (same codes, codebook, and
    // ADC scorer read back off the bucketed table), so it carries the
    // SAME oracle — the driver's hash check pins table-probe ≡ in-plan
    // every round.
    ("sim_topk_pq_indexed",
      (s: SparkSession, d: String) =>
        graft.sinks.PqIndex.probe(
          embs(s, d), graft.sinks.PqIndex.materialized(s, d),
          numQueries = 10, k = 10),
      Some(pqTopSql)),

    // ADC shortlist (4k) → exact float re-rank: true cosines from a
    // 32×-cheap scan; the FAISS refine pattern on PQ codes.
    ("sim_topk_pq_refined",
      (s: SparkSession, d: String) =>
        graft.ext.Pq.adcRefineTopK(embs(s, d), numQueries = 10, k = 10),
      Some(s"""$pqCte,
$pqRefineCtes,
r3 AS (SELECT q_id, neighbor_id, round(sim, 6) AS sim_r,
              row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, neighbor_id) AS rnk
       FROM s3)
SELECT q_id, rnk, neighbor_id, sim_r FROM r3 WHERE rnk <= 10
ORDER BY q_id, rnk""")),

    // Measured recall@10 of raw ADC vs float exact — the compression
    // ladder float→int8→PQ→binary quantified, deterministic both sides.
    ("pq_recall",
      (s: SparkSession, d: String) =>
        graft.ext.Pq.adcRecall(embs(s, d), numQueries = 10, k = 10),
      Some(s"""$pqCte,
$exactRankCtes,
exk AS (SELECT q_id, vec_id FROM ex WHERE rnk <= 10),
apk AS (SELECT q_id, neighbor_id FROM adcr WHERE rnk <= 10)
SELECT exk.q_id AS qid,
       round(count(apk.neighbor_id)::DOUBLE / 10, 6) AS recall_r
FROM exk LEFT JOIN apk ON apk.q_id = exk.q_id AND apk.neighbor_id = exk.vec_id
GROUP BY exk.q_id ORDER BY qid""")),

    // IVFADC — the full FAISS serving stack: IVF cell pruning bounds the
    // candidate COUNT, ADC lookups bound the per-candidate COST, float
    // refine makes reported sims true cosines. Three oracled parts
    // composed → complete oracle.
    ("sim_topk_ivfpq",
      (s: SparkSession, d: String) =>
        graft.ext.Pq.ivfAdcTopK(embs(s, d), numQueries = 10, k = 10),
      Some(s"""$ivfQ8AsgCte,
q AS (SELECT vec_id AS q_id, v AS qv, nrm AS qn FROM n WHERE vec_id < 10),
p AS (SELECT q.q_id, c.cent_id AS cell,
             row_number() OVER (PARTITION BY q.q_id
               ORDER BY (${dotSql("qv", "cv")}) / (q.qn * c.cn) DESC, c.cent_id) AS rn
      FROM q CROSS JOIN c),
pr AS (SELECT q_id, cell FROM p WHERE rn <= 8),
cand AS (SELECT pr.q_id, asg.vec_id
         FROM pr JOIN asg ON asg.cell = pr.cell WHERE asg.vec_id <> pr.q_id),
sub AS (SELECT vec_id, t.j, v[(t.j*8+1):(t.j*8+8)] AS sv
        FROM e CROSS JOIN range(8) t(j)),
cb2 AS (SELECT j, vec_id AS cw_id, sv AS cw, ${dot8Sql("sv", "sv")} AS cwdot
        FROM sub WHERE vec_id % 2 = 0 AND vec_id < 512),
cds AS (SELECT s2.vec_id, s2.j,
               min(((${dot8Sql("s2.sv", "s2.sv")}) - 2*(${dot8Sql("s2.sv", "c2.cw")}) + c2.cwdot) * 512 + c2.cw_id)::BIGINT % 512 AS code
        FROM sub s2 JOIN cb2 c2 ON c2.j = s2.j
        GROUP BY s2.vec_id, s2.j),
recon AS (SELECT cd.vec_id, sum(c2.cwdot) AS recon2
          FROM cds cd JOIN cb2 c2 ON c2.j = cd.j AND c2.cw_id = cd.code
          GROUP BY cd.vec_id),
lut AS (SELECT s2.vec_id AS q_id, s2.j, c2.cw_id, ${dot8Sql("s2.sv", "c2.cw")} AS pdot
        FROM sub s2 JOIN cb2 c2 ON c2.j = s2.j WHERE s2.vec_id < 10),
ad AS (SELECT cand.q_id, cand.vec_id, sum(l.pdot) AS adot
       FROM cand JOIN cds cd ON cd.vec_id = cand.vec_id
       JOIN lut l ON l.q_id = cand.q_id AND l.j = cd.j AND l.cw_id = cd.code
       GROUP BY cand.q_id, cand.vec_id),
sxa AS (SELECT ad.q_id, ad.vec_id,
               ad.adot / greatest(q2.qn * sqrt(r.recon2), 4.9e-324) AS asim
        FROM ad JOIN q q2 ON q2.q_id = ad.q_id
        JOIN recon r ON r.vec_id = ad.vec_id),
sl AS (SELECT q_id, vec_id AS neighbor_id,
              row_number() OVER (PARTITION BY q_id ORDER BY asim DESC, vec_id) AS arnk
       FROM sxa),
c40 AS (SELECT q_id, neighbor_id FROM sl WHERE arnk <= 40),
nn0 AS (SELECT vec_id, v0, sqrt(${dotSql("v0", "v0")}) AS nrm0 FROM e0),
qv0 AS (SELECT vec_id AS q_id, v0 AS qvec, nrm0 AS qn0 FROM nn0 WHERE vec_id < 10),
s5 AS (SELECT c40.q_id, c40.neighbor_id,
              (${dotSql("qvec", "nn0.v0")}) / (qv0.qn0 * nn0.nrm0) AS sim
       FROM c40 JOIN qv0 USING (q_id) JOIN nn0 ON nn0.vec_id = c40.neighbor_id),
r5 AS (SELECT q_id, neighbor_id, round(sim, 6) AS sim_r,
              row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, neighbor_id) AS rnk
       FROM s5)
SELECT q_id, rnk, neighbor_id, sim_r FROM r5 WHERE rnk <= 10
ORDER BY q_id, rnk""")),

    // Near-dup candidates by PQ-code collision (MinHash-banding shape on
    // 8 bytes/vector), exact-cosine verified — precision 1.0; candidates
    // bucket-bounded by (subspace, code).
    ("near_dup_pq_codes",
      (s: SparkSession, d: String) =>
        graft.ext.Pq.codeNearDup(embs(s, d)),
      Some(s"""$pqCte,
pairs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, count(*)::BIGINT AS n_shared
          FROM cds a JOIN cds b
            ON a.j = b.j AND a.code = b.code AND a.vec_id < b.vec_id
          GROUP BY a.vec_id, b.vec_id
          HAVING count(*) >= 2),
${normCte("nn2")},
sx2 AS (SELECT p.id_a, p.id_b, p.n_shared,
               (${dotSql("na.v", "nb.v")}) / (na.nrm * nb.nrm) AS sim
        FROM pairs p JOIN nn2 na ON na.vec_id = p.id_a
        JOIN nn2 nb ON nb.vec_id = p.id_b)
SELECT id_a, id_b, n_shared, round(sim, 6) AS sim_r
FROM sx2 WHERE sim >= 0.3 ORDER BY id_a, id_b""")),

    // Codebook-health dashboard: per-subspace codeword utilization and
    // the most-popular-code share (degenerate-codebook canary).
    ("pq_code_stats",
      (s: SparkSession, d: String) =>
        graft.ext.Pq.codeStats(embs(s, d)),
      Some(s"""$pqCte,
pop AS (SELECT j, code, count(*)::BIGINT AS pop FROM cds GROUP BY j, code)
SELECT j::INT AS j, count(*)::BIGINT AS n_codes_used, sum(pop)::BIGINT AS n_vecs,
       max(pop)::BIGINT AS max_code_pop,
       round(max(pop)::DOUBLE / sum(pop), 6) AS max_share_r
FROM pop GROUP BY j ORDER BY j""")),

    // One in-engine Lloyd refinement step over the IVF centroids:
    // assign → fixed-point-exact cell means → re-assign, with per-cell
    // occupancy and centroid-shift dashboard. No driver loop touches
    // the corpus; k steps = run it k times.
    ("ivf_lloyd_step",
      (s: SparkSession, d: String) =>
        Similarity.lloydStep(embs(s, d)),
      Some(s"""WITH $embNormCtes,
c AS (SELECT vec_id AS cent_id, v AS cv, nrm AS cn FROM n WHERE vec_id % 20 = 0),
a AS (SELECT n.vec_id, c.cent_id,
             row_number() OVER (PARTITION BY n.vec_id
               ORDER BY (${dotSql("v", "cv")}) / (n.nrm * c.cn) DESC, c.cent_id) AS rn
      FROM n CROSS JOIN c),
asg AS (SELECT n.vec_id, n.v, a.cent_id AS cell
        FROM a JOIN n ON n.vec_id = a.vec_id WHERE a.rn = 1),
nb AS (SELECT cell, count(*)::BIGINT AS n_before FROM asg GROUP BY cell),
${lloydCtes(", c.cv")},
na AS (SELECT cent_id AS cell, count(*)::BIGINT AS n_after
       FROM a2 WHERE rn = 1 GROUP BY cent_id)
SELECT nc.cent_id, coalesce(nb.n_before, 0)::BIGINT AS n_before,
       coalesce(na.n_after, 0)::BIGINT AS n_after,
       round((${dotSql("cv", "ncv")})
             / (sqrt(${dotSql("cv", "cv")}) * sqrt(${dotSql("ncv", "ncv")})), 6)
         AS shift_cos_r
FROM nc LEFT JOIN nb ON nb.cell = nc.cent_id LEFT JOIN na ON na.cell = nc.cent_id
ORDER BY nc.cent_id""")),

    // Does training the coarse quantizer buy recall? Per-query IVF
    // recall@10 vs exact under the data-sampled centroids AND under the
    // same centroids after one Lloyd step — the measured answer to
    // "is ivf_lloyd_step worth running".
    ("ann_recall_lloyd",
      (s: SparkSession, d: String) =>
        Similarity.lloydRecall(embs(s, d), numQueries = 10, k = 10),
      Some(s"""${ivfTopSql(10)},
${lloydCtes("")},
asg2 AS (SELECT n.vec_id, n.v, n.nrm, a2.cent_id AS cell
         FROM a2 JOIN n ON n.vec_id = a2.vec_id WHERE a2.rn = 1),
p2 AS (SELECT q.q_id, q.qv2, q.qn, n2.cent_id AS cell,
              row_number() OVER (PARTITION BY q.q_id
                ORDER BY (${dotSql("qv2", "ncv")}) / (q.qn * n2.ncn) DESC, n2.cent_id) AS rn
       FROM q CROSS JOIN n2),
pr2 AS (SELECT q_id, qv2, qn, cell FROM p2 WHERE rn <= 8),
sx2 AS (SELECT pr2.q_id, asg2.vec_id,
               (${dotSql("qv2", "v")}) / (pr2.qn * asg2.nrm) AS sim
        FROM pr2 JOIN asg2 ON asg2.cell = pr2.cell
        WHERE asg2.vec_id <> pr2.q_id),
top2 AS (SELECT q_id, vec_id AS neighbor_id,
                row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rnk
         FROM sx2),
exr AS (SELECT q.q_id, n.vec_id,
               row_number() OVER (PARTITION BY q.q_id
                 ORDER BY (${dotSql("qv2", "n.v")}) / (q.qn * n.nrm) DESC, n.vec_id) AS rnk
        FROM q JOIN n ON n.vec_id <> q.q_id),
exk AS (SELECT q_id, vec_id FROM exr WHERE rnk <= 10),
aps AS (SELECT q_id, neighbor_id FROM top WHERE rnk <= 10),
apl AS (SELECT q_id, neighbor_id FROM top2 WHERE rnk <= 10)
SELECT exk.q_id AS qid,
       round(count(aps.neighbor_id)::DOUBLE / 10, 6) AS recall_sampled_r,
       round(count(apl.neighbor_id)::DOUBLE / 10, 6) AS recall_lloyd_r
FROM exk
LEFT JOIN aps ON aps.q_id = exk.q_id AND aps.neighbor_id = exk.vec_id
LEFT JOIN apl ON apl.q_id = exk.q_id AND apl.neighbor_id = exk.vec_id
GROUP BY exk.q_id ORDER BY qid""")),

    // ----------------------------------------------------- embedding PCA
    // Top-2 principal components of the embedding covariance: one
    // decimal-exact moments pass (64 + 2080 skinny rows), power
    // iteration on the bounded 64×64 model driver-side — no corpus
    // rescan per iteration — replayed in the oracle as unrolled CTEs.
    ("embed_pca_components",
      (s: SparkSession, d: String) =>
        graft.ext.Pca.componentsAt(s, d),
      Some(s"""$pcaCtes
SELECT comp, i, w_r, eigval_r, evr_r FROM (
  SELECT 0::INT AS comp, i, round(v, 6) AS w_r,
         round((SELECT nrm FROM n0_${graft.ext.Pca.iters}), 6) AS eigval_r,
         round((SELECT nrm FROM n0_${graft.ext.Pca.iters})
               / (SELECT total_var FROM tv), 6) AS evr_r
  FROM v0_${graft.ext.Pca.iters}
  UNION ALL
  SELECT 1::INT AS comp, i, round(v, 6) AS w_r,
         round((SELECT nrm FROM n1_${graft.ext.Pca.iters}), 6) AS eigval_r,
         round((SELECT nrm FROM n1_${graft.ext.Pca.iters})
               / (SELECT total_var FROM tv), 6) AS evr_r
  FROM v1_${graft.ext.Pca.iters}) z
ORDER BY comp, i""")),

    // Corpus projected onto the components (mean-centered, decimal-exact
    // per-vector sums) — the reduced representation downstream ANN
    // would index.
    ("embed_pca_project",
      (s: SparkSession, d: String) =>
        graft.ext.Pca.projectAt(s, d),
      Some(s"""$pcaCtes,
mu AS (SELECT i, s1 / (SELECT n FROM nn0) AS mu FROM s1),
cw AS (SELECT 0 AS comp, i, v AS w FROM v0_${graft.ext.Pca.iters}
       UNION ALL SELECT 1 AS comp, i, v AS w FROM v1_${graft.ext.Pca.iters}),
pr AS (SELECT x.vec_id, cw.comp,
              ${n12Sum("(x.xi - mu.mu) * cw.w")} AS pc
       FROM x JOIN mu ON mu.i = x.i JOIN cw ON cw.i = x.i
       GROUP BY x.vec_id, cw.comp)
SELECT vec_id,
       round(max(CASE WHEN comp = 0 THEN pc END), 6) AS pc0_r,
       round(max(CASE WHEN comp = 1 THEN pc END), 6) AS pc1_r
FROM pr GROUP BY vec_id ORDER BY vec_id""")),

    // ------------------------------------------- retrieval quality eval
    // Label-based retrieval metrics (Recall@10 / MRR@10 / NDCG@10, BEIR
    // shape): each query's class = its relevance set. The dense row is
    // the reference; the PQ row prices 32× compression in END metrics.
    ("retrieval_label_eval",
      (s: SparkSession, d: String) =>
        graft.ext.RetrievalEval.denseEval(embs(s, d), numQueries = 10, k = 10),
      Some(s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
$exactRankCtes,
ranked AS (SELECT q_id, rnk, vec_id AS neighbor_id FROM ex WHERE rnk <= 10),
$retrievalEvalSql""")),

    ("retrieval_label_eval_pq",
      (s: SparkSession, d: String) =>
        graft.ext.RetrievalEval.pqEval(embs(s, d), numQueries = 10, k = 10),
      Some(s"""$pqCte,
$pqRefineCtes,
ranked AS (SELECT q_id, neighbor_id,
                  row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, neighbor_id) AS rnk
           FROM s3 QUALIFY rnk <= 10),
$retrievalEvalSql""")),

    // ------------------------------------------------------------- DSIR
    // Importance weights vs the English target slice: decimal-exact
    // per-token log-ratio sums (Lm's float discipline), full oracle.
    ("dsir_weights",
      (s: SparkSession, d: String) =>
        graft.ext.Dsir.importanceWeightsAt(s, d),
      Some(s"""$dsirWeightCtes
SELECT doc_id, n_tokens, round(slw::DOUBLE, 6) AS logw_r,
       round(slw::DOUBLE / n_tokens, 6) AS avg_logw_r
FROM sw ORDER BY doc_id""")),

    // Gumbel-top-k importance resample (∝ exp(avg_logw), deterministic
    // content-md5 Gumbel noise) + its per-lang selection audit.
    ("dsir_resample",
      (s: SparkSession, d: String) =>
        graft.ext.Dsir.resampleAt(s, d),
      Some(s"""$dsirWeightCtes,
$gumbelCte,
sel AS (SELECT sw.doc_id, gm.lang, gm.source,
               round(sw.slw::DOUBLE / sw.n_tokens, 6) AS avg_logw_r,
               round(round(sw.slw::DOUBLE / sw.n_tokens, 6) + gm.g, 6) AS gk_key_r
        FROM sw JOIN gm ON gm.doc_id = sw.doc_id)
SELECT doc_id, lang, source, avg_logw_r, gk_key_r
FROM sel ORDER BY gk_key_r DESC, doc_id LIMIT 60""")),

    ("dsir_selection_audit",
      (s: SparkSession, d: String) =>
        graft.ext.Dsir.selectionAuditAt(s, d),
      Some(s"""$dsirWeightCtes,
$gumbelCte,
sel AS (SELECT sw.doc_id, gm.lang,
               round(round(sw.slw::DOUBLE / sw.n_tokens, 6) + gm.g, 6) AS gk_key_r
        FROM sw JOIN gm ON gm.doc_id = sw.doc_id),
kept AS (SELECT lang, count(*)::BIGINT AS n_kept
         FROM (SELECT lang FROM sel ORDER BY gk_key_r DESC, doc_id LIMIT 60) z
         GROUP BY lang),
ld AS (SELECT lang, count(*)::BIGINT AS n_docs FROM documents GROUP BY lang)
SELECT ld.lang, ld.n_docs, coalesce(kept.n_kept, 0)::BIGINT AS n_kept,
       round(coalesce(kept.n_kept, 0)::DOUBLE / ld.n_docs, 6) AS keep_share_r
FROM ld LEFT JOIN kept ON kept.lang = ld.lang ORDER BY ld.lang""")),

    // -------------------------------------------- contrastive pair mining
    // IVF-mined (anchor, positive, hard-negative) triples with margins;
    // negatives are near-misses UNDER the dup ceiling (never duplicates).
    ("contrastive_pairs",
      (s: SparkSession, d: String) =>
        graft.ext.Contrastive.pairs(embs(s, d)),
      Some(s"""$minedPairCtes,
sel AS (SELECT pos.q_id, pos.pos_id, pos.pos_sim_r, ng.neg_rnk, ng.neg_id, ng.neg_sim_r,
               round(pos.pos_sim_r - ng.neg_sim_r, 6) AS margin_r
        FROM pos JOIN ng ON ng.q_id = pos.q_id WHERE ng.neg_rnk <= 5)
SELECT q_id, pos_id, pos_sim_r, neg_rnk, neg_id, neg_sim_r, margin_r
FROM sel ORDER BY q_id, neg_rnk""")),

    // Mining health vs the held-out label column: false-negative share
    // per anchor (same-label items mined as negatives).
    ("contrastive_label_audit",
      (s: SparkSession, d: String) =>
        graft.ext.Contrastive.labelAudit(embs(s, d)),
      Some(s"""$minedPairCtes,
sel AS (SELECT pos.q_id, pos.pos_id, ng.neg_rnk, ng.neg_id
        FROM pos JOIN ng ON ng.q_id = pos.q_id WHERE ng.neg_rnk <= 5),
lb AS (SELECT vec_id, label FROM embeddings),
au AS (SELECT sel.q_id,
              count(*)::BIGINT AS n_negs,
              max(CASE WHEN pl.label = ql.label THEN 1 ELSE 0 END)::INT AS pos_label_match,
              sum(CASE WHEN nl.label = ql.label THEN 1 ELSE 0 END)::BIGINT AS n_false_negs
       FROM sel JOIN lb ql ON ql.vec_id = sel.q_id
       JOIN lb pl ON pl.vec_id = sel.pos_id
       JOIN lb nl ON nl.vec_id = sel.neg_id
       GROUP BY sel.q_id)
SELECT q_id, n_negs, pos_label_match, n_false_negs,
       round(n_false_negs::DOUBLE / n_negs, 6) AS false_neg_share_r
FROM au ORDER BY q_id""")),

    // ------------------------------------------------------ heavy hitters
    // Misra–Gries frequent keys, registered in its self-verifying form
    // (the contamination_bloom pattern): the row set is the guaranteed-
    // survivor set — keys whose EXACT count clears N/(k+1), which DuckDB
    // recomputes — and the sketch's three contracts (membership,
    // no-overcount, undercount band) ride as oracle-pinned booleans in
    // integer arithmetic. The key is the repo's fold idiom applied for
    // skew: `1000 div (1 + event_id % 1000)` turns the uniform synthetic
    // id stream into the power-law head (P(key=m) ≈ 1/m(m+1)) real
    // traffic keys have — 62 distinct keys, so k=32 counters genuinely
    // evict (see graft.ext.HeavyHitters for the bounds).
    ("events_heavy_hitters",
      (s: SparkSession, d: String) =>
        graft.ext.HeavyHitters.heavyHittersCheck(
          Tables(s, d, "events").selectExpr(
            "cast(1000 div (1 + event_id % 1000) as string) as hh_key"),
          k = 32),
      Some("""WITH cc AS (
  SELECT CAST(1000 // (1 + event_id % 1000) AS VARCHAR) AS key,
         count(*)::BIGINT AS exact_n
  FROM events GROUP BY 1),
tot AS (SELECT sum(exact_n)::BIGINT AS n_total FROM cc)
SELECT key, exact_n, TRUE AS in_summary, TRUE AS no_overcount,
       TRUE AS within_band
FROM cc, tot WHERE exact_n * 33 > n_total ORDER BY key""")),

    // Count–Min sketch over the same zipf-folded stream (r12): the
    // point-frequency companion to the MG summary — d×w counter matrix
    // built as one explode + one two-phase count, estimates as min over
    // rows. The md5-portable row hashes let DuckDB REPLAY the exact
    // matrix, so est_n is value-pinned AND the one-sided/band contracts
    // ride as booleans (width 512 = 2^9: signed/unsigned hash residues
    // provably agree — the mod only reads the low 9 bits).
    ("events_cm_check",
      (s: SparkSession, d: String) =>
        graft.ext.CountMin.cmCheck(
          Tables(s, d, "events").selectExpr(
            "cast(1000 div (1 + event_id % 1000) as string) as cm_key"),
          width = 512, depth = 4),
      Some("""WITH k AS (
  SELECT CAST(1000 // (1 + event_id % 1000) AS VARCHAR) AS key FROM events),
cc AS (SELECT key, count(*)::BIGINT AS exact_n FROM k GROUP BY key),
tot AS (SELECT sum(exact_n)::BIGINT AS n_total FROM cc),
cells AS (
  SELECT key, r.i::INT AS r,
         CAST((CAST('0x' || substring(md5(r.i::VARCHAR || ':' || key), 1, 8) AS UBIGINT)
                 * 4294967296
               + CAST('0x' || substring(md5(r.i::VARCHAR || ':' || key), 9, 8) AS UBIGINT))
              % 512 AS INT) AS c
  FROM cc CROSS JOIN range(4) r(i)),
sk AS (SELECT r, c, sum(cc.exact_n)::BIGINT AS n
       FROM cells JOIN cc USING (key) GROUP BY r, c),
est AS (SELECT cells.key, min(sk.n)::BIGINT AS est_n
        FROM cells JOIN sk USING (r, c) GROUP BY cells.key)
SELECT cc.key, cc.exact_n, est.est_n,
       est.est_n >= cc.exact_n AS no_undercount,
       est.est_n <= cc.exact_n + CAST(ceil(2.0 * tot.n_total / 512) AS BIGINT)
         AS within_band
FROM cc JOIN est USING (key) CROSS JOIN tot ORDER BY key""")),

    // Shuffle-skew diagnostic (r12): the group-size histogram + per-
    // bucket heaviest exemplar that decides between plain hash agg, AQE
    // skew splitting, and explicit salting. ⌊log2 n⌋ computed as
    // length(bin(n))−1 — pure integer, both engines' bin() agree, no
    // float-log boundary risk.
    ("events_skew_report",
      (s: SparkSession, d: String) =>
        graft.ext.Profile.skewReport(
          Tables(s, d, "events").selectExpr(
            "cast(1000 div (1 + event_id % 1000) as string) as sk_key")),
      Some("""WITH k AS (
  SELECT CAST(1000 // (1 + event_id % 1000) AS VARCHAR) AS key FROM events),
cc AS (SELECT key, count(*)::BIGINT AS n FROM k GROUP BY key),
b AS (SELECT key, n, (length(bin(n)) - 1)::INT AS bucket FROM cc),
h AS (SELECT bucket, count(*)::BIGINT AS n_keys, sum(n)::BIGINT AS n_rows,
             max(n)::BIGINT AS max_n
      FROM b GROUP BY bucket),
t AS (SELECT b.bucket, min(b.key) AS top_key
      FROM b JOIN h USING (bucket) WHERE b.n = h.max_n GROUP BY b.bucket)
SELECT h.bucket, h.n_keys, h.n_rows, h.max_n, t.top_key
FROM h JOIN t USING (bucket) ORDER BY bucket""")),

    // Distribution-drift monitor (r12): weekly event-type mix vs the
    // overall mix as add-half-smoothed KL, the per-ingest-window check
    // that catches a shifted source before it poisons a training mix.
    // sourceLmDivergence's decimal-term discipline on the time axis.
    ("events_drift_weekly",
      (s: SparkSession, d: String) =>
        graft.ext.Behavior.driftWeekly(Tables(s, d, "events")),
      Some("""WITH wt AS (
  SELECT date_trunc('week', ts)::TIMESTAMP AS week, event_type,
         count(*)::BIGINT AS nwt
  FROM events GROUP BY 1, 2),
wk AS (SELECT week, sum(nwt)::BIGINT AS nw FROM wt GROUP BY week),
ty AS (SELECT event_type, sum(nwt)::BIGINT AS nt FROM wt GROUP BY event_type),
tot AS (SELECT sum(nt)::BIGINT AS n_total, count(*)::BIGINT AS n_types FROM ty),
g AS (SELECT wk.week, wk.nw, ty.event_type, ty.nt,
             coalesce(wt.nwt, 0)::BIGINT AS nwt
      FROM wk CROSS JOIN ty
      LEFT JOIN wt ON wt.week = wk.week AND wt.event_type = ty.event_type),
tm AS (SELECT g.week, g.nw,
         CAST(((g.nwt + 0.5) / (g.nw + (tot.n_types + 1) * 0.5))
           * (ln((g.nwt + 0.5) / (g.nw + (tot.n_types + 1) * 0.5))
              - ln((g.nt + 0.5) / (tot.n_total + (tot.n_types + 1) * 0.5)))
           AS DECIMAL(28,18)) AS term
       FROM g CROSS JOIN tot)
SELECT week, max(nw)::BIGINT AS n_events, round(sum(term)::DOUBLE, 6) AS kl_r
FROM tm GROUP BY week ORDER BY week""")),

    // --------------------------------------------------------- data layout
    // Z-order clustering (r12): the write-time multi-column layout step.
    // Both orders keys normalize onto [0, 65535] by exact integer
    // scaling, interleave via the O(log n) parallel-bit-spread (constant
    // masks, pure shift/and/or — whole-stage codegen), and bucket by the
    // top 6 z bits = the 8×8 quadtree cell a z-range-partitioned file
    // would hold. Output = the per-cell min/max stats a file-skipping
    // reader consults; the oracle replays the mask ladder bit-for-bit.
    ("orders_zorder_cells",
      (s: SparkSession, d: String) =>
        graft.ext.Layout.cellStats(
          Tables(s, d, "orders"),
          org.apache.spark.sql.functions.col("o_custkey"),
          org.apache.spark.sql.functions.expr(
            "unix_millis(cast(o_orderdate as timestamp)) div 86400000"),
          cellBits = 6),
      Some(s"""$zorderKeyCte
SELECT zv >> 26 AS cell, count(*)::BIGINT AS n,
       min(xk) AS x_min, max(xk) AS x_max,
       min(yk) AS y_min, max(yk) AS y_max
FROM z GROUP BY 1 ORDER BY cell""")),

    // The skipping CONTRACT as one self-verifying row: simulate min/max
    // file pruning for a date-range predicate (yk in [20000, 29999] —
    // deliberately NOT aligned to the cell grid, so boundary cells stay
    // honest) under the z layout vs a plain ORDER BY o_custkey layout.
    // The x-clustered layout cannot prune a y predicate (every x-file's
    // y min/max spans the domain); z prunes every cell outside the two
    // touched y-octants. Soundness booleans (no matching row inside a
    // pruned cell) and z_beats_linear ride the hashed output — a z
    // formula or pruning-rule regression fails the oracle gate itself.
    ("orders_zorder_skipping",
      (s: SparkSession, d: String) =>
        graft.ext.Layout.skippingReport(
          Tables(s, d, "orders"),
          org.apache.spark.sql.functions.col("o_custkey"),
          org.apache.spark.sql.functions.expr(
            "unix_millis(cast(o_orderdate as timestamp)) div 86400000"),
          cellBits = 6, yLo = 20000L, yHi = 29999L),
      Some(s"""$zorderKeyCte,
zc AS (SELECT zv >> 26 AS cell, count(*)::BIGINT AS n,
              min(yk) AS y_min, max(yk) AS y_max,
              sum(CASE WHEN yk BETWEEN 20000 AND 29999 THEN 1 ELSE 0 END)::BIGINT AS m
       FROM z GROUP BY 1),
za AS (SELECT count(*)::BIGINT AS z_cells,
              sum(CASE WHEN y_max < 20000 OR y_min > 29999 THEN 1 ELSE 0 END)::BIGINT AS z_pruned,
              sum(CASE WHEN NOT (y_max < 20000 OR y_min > 29999) THEN n ELSE 0 END)::BIGINT AS z_rows_scanned,
              sum(CASE WHEN y_max < 20000 OR y_min > 29999 THEN m ELSE 0 END) = 0 AS z_sound
       FROM zc),
lc AS (SELECT xk >> 10 AS cell, count(*)::BIGINT AS n,
              min(yk) AS y_min, max(yk) AS y_max,
              sum(CASE WHEN yk BETWEEN 20000 AND 29999 THEN 1 ELSE 0 END)::BIGINT AS m
       FROM z GROUP BY 1),
la AS (SELECT count(*)::BIGINT AS lin_cells,
              sum(CASE WHEN y_max < 20000 OR y_min > 29999 THEN 1 ELSE 0 END)::BIGINT AS lin_pruned,
              sum(CASE WHEN NOT (y_max < 20000 OR y_min > 29999) THEN n ELSE 0 END)::BIGINT AS lin_rows_scanned,
              sum(CASE WHEN y_max < 20000 OR y_min > 29999 THEN m ELSE 0 END) = 0 AS lin_sound
       FROM lc),
mt AS (SELECT sum(CASE WHEN yk BETWEEN 20000 AND 29999 THEN 1 ELSE 0 END)::BIGINT AS rows_match FROM z)
SELECT rows_match, z_cells, z_pruned, z_rows_scanned,
       lin_cells, lin_pruned, lin_rows_scanned,
       z_sound, lin_sound,
       z_rows_scanned < lin_rows_scanned AS z_beats_linear
FROM mt CROSS JOIN za CROSS JOIN la""")),

    // The MANIFEST (stats-skipping) reader under the oracle gate: the
    // same physical hilbert table, read through readPrunedByStats — the
    // parquet-footer/Delta/Iceberg path every lakehouse reader runs (no
    // curve math at read time, appends covered). A file is scanned iff
    // its per-file min/max box intersects the predicate; the residual
    // keeps semantics exact, so the oracle is the same plain WHERE.
    ("orders_hilbert_stats_read",
      (s: SparkSession, d: String) => {
        val path = graft.ext.Layout.clusteredOrdersHilbertAt(s, d)
        statusDays(graft.ext.Layout.readPrunedByStats(s, path,
          xRange = Some((200L, 900L)), yRange = Some((9000L, 9700L))))
      },
      Some(statusDaySql(Some((200L, 900L)), (9000L, 9700L)))),

    // k-DIMENSIONAL z-order (r12 item 3): real OPTIMIZE ZORDER BY takes
    // N columns — three keys (custkey × day × totalprice) at 21 bits
    // each fill one 63-bit long through the published 3-D mask ladder,
    // and the skipping contract is stated on the THIRD axis (the one a
    // single-key layout is blindest to). DuckDB replays the ladder as
    // decimal constants stage by stage, so a wrong mask, stride, or
    // normalization is a red row; z3_sound rides the hash.
    ("orders_zorder3_skipping",
      (s: SparkSession, d: String) =>
        graft.ext.Layout.skippingReport3(
          Tables(s, d, "orders"),
          org.apache.spark.sql.functions.col("o_custkey"),
          org.apache.spark.sql.functions.expr(
            "unix_millis(cast(o_orderdate as timestamp)) div 86400000"),
          org.apache.spark.sql.functions.expr(
            "cast(floor(o_totalprice) as bigint)"),
          cellBits = 6, zLo = 500000L, zHi = 899999L),
      Some("""WITH base AS (
  SELECT o_custkey::BIGINT AS xr,
         (epoch_ms(o_orderdate) // 86400000)::BIGINT AS yr,
         CAST(floor(o_totalprice) AS BIGINT) AS zr
  FROM orders
  WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL
    AND o_totalprice IS NOT NULL),
mm AS (SELECT min(xr) AS x_lo, max(xr) AS x_hi,
              min(yr) AS y_lo, max(yr) AS y_hi,
              min(zr) AS z_lo, max(zr) AS z_hi FROM base),
k AS (SELECT ((xr - x_lo) * 2097151) // greatest(x_hi - x_lo, 1) AS xk,
             ((yr - y_lo) * 2097151) // greatest(y_hi - y_lo, 1) AS yk,
             ((zr - z_lo) * 2097151) // greatest(z_hi - z_lo, 1) AS zk
      FROM base CROSS JOIN mm),
s0 AS (SELECT xk, yk, zk, xk & 2097151 AS xa, yk & 2097151 AS ya,
              zk & 2097151 AS za FROM k),
-- each stage in the overflow-free form (x & M) | ((x & (M >> sh)) << sh):
-- DuckDB's << RAISES on 64-bit overflow (the JVM wraps, then masks), so
-- the bits the mask would discard must never be shifted at all
s1 AS (SELECT xk, yk, zk,
              (xa & 8725724278095871) | ((xa & 2031616) << 32) AS xb,
              (ya & 8725724278095871) | ((ya & 2031616) << 32) AS yb,
              (za & 8725724278095871) | ((za & 2031616) << 32) AS zb FROM s0),
s2 AS (SELECT xk, yk, zk,
              (xb & 8725728556220671) | ((xb & 133144051456) << 16) AS xc,
              (yb & 8725728556220671) | ((yb & 133144051456) << 16) AS yc,
              (zb & 8725728556220671) | ((zb & 133144051456) << 16) AS zc FROM s1),
s3 AS (SELECT xk, yk, zk,
              (xc & 1157144660301377551) | ((xc & 4520096329302256) << 8) AS xd,
              (yc & 1157144660301377551) | ((yc & 4520096329302256) << 8) AS yd,
              (zc & 1157144660301377551) | ((zc & 4520096329302256) << 8) AS zd FROM s2),
s4 AS (SELECT xk, yk, zk,
              (xd & 1207822528635744451) | ((xd & 75488908039734028) << 4) AS xe,
              (yd & 1207822528635744451) | ((yd & 75488908039734028) << 4) AS ye,
              (zd & 1207822528635744451) | ((zd & 75488908039734028) << 4) AS ze FROM s3),
s5 AS (SELECT xk, yk, zk,
              (xe & 1317624576693539401) | ((xe & 329406144173384850) << 2) AS xf,
              (ye & 1317624576693539401) | ((ye & 329406144173384850) << 2) AS yf,
              (ze & 1317624576693539401) | ((ze & 329406144173384850) << 2) AS zf FROM s4),
z AS (SELECT xk, yk, zk, (xf | (yf << 1) | (zf << 2)) AS zv FROM s5),
zc3 AS (SELECT zv >> 57 AS cell, count(*)::BIGINT AS n,
              min(zk) AS z_min, max(zk) AS z_max,
              sum(CASE WHEN zk BETWEEN 500000 AND 899999 THEN 1 ELSE 0 END)::BIGINT AS m
       FROM z GROUP BY 1),
za AS (SELECT count(*)::BIGINT AS z3_cells,
              sum(CASE WHEN z_max < 500000 OR z_min > 899999 THEN 1 ELSE 0 END)::BIGINT AS z3_pruned,
              sum(CASE WHEN NOT (z_max < 500000 OR z_min > 899999) THEN n ELSE 0 END)::BIGINT AS z3_rows_scanned,
              sum(CASE WHEN z_max < 500000 OR z_min > 899999 THEN m ELSE 0 END) = 0 AS z3_sound
       FROM zc3),
lc AS (SELECT xk >> 15 AS cell, count(*)::BIGINT AS n,
              min(zk) AS z_min, max(zk) AS z_max,
              sum(CASE WHEN zk BETWEEN 500000 AND 899999 THEN 1 ELSE 0 END)::BIGINT AS m
       FROM z GROUP BY 1),
la AS (SELECT count(*)::BIGINT AS lin_cells,
              sum(CASE WHEN z_max < 500000 OR z_min > 899999 THEN 1 ELSE 0 END)::BIGINT AS lin_pruned,
              sum(CASE WHEN NOT (z_max < 500000 OR z_min > 899999) THEN n ELSE 0 END)::BIGINT AS lin_rows_scanned,
              sum(CASE WHEN z_max < 500000 OR z_min > 899999 THEN m ELSE 0 END) = 0 AS lin_sound
       FROM lc),
mt AS (SELECT sum(CASE WHEN zk BETWEEN 500000 AND 899999 THEN 1 ELSE 0 END)::BIGINT AS rows_match FROM z)
SELECT rows_match, z3_cells, z3_pruned, z3_rows_scanned,
       lin_cells, lin_pruned, lin_rows_scanned,
       z3_sound, lin_sound,
       z3_rows_scanned < lin_rows_scanned AS z3_beats_linear
FROM mt CROSS JOIN za CROSS JOIN la""")),

    // The layout made PHYSICAL: orders written once into zcell=
    // directories (Layout.clusteredOrdersAt — a Bench-visible artifact
    // build), then read under a date-range predicate through the
    // driver-side quadrant intersection, so the cell list is a STATIC
    // partition filter (pruned directories never listed or opened;
    // LayoutSpec pins PartitionFilters + the surviving-cell geometry)
    // and the raw range re-applies as the exact residual. Semantics ==
    // a plain WHERE (the oracle); only the bytes touched differ.
    ("orders_zorder_pruned_read",
      (s: SparkSession, d: String) => {
        val path = graft.ext.Layout.clusteredOrdersAt(s, d)
        statusDays(graft.ext.Layout.readPruned(s, path,
          xRange = None, yRange = Some((10000L, 10500L))))
      },
      Some(statusDaySql(None, (10000L, 10500L)))),

    // Layout HEALTH + the auto re-layout policy's trigger (r12 item 4):
    // the drifted-orders fixture appends every 7th order with custkey
    // shifted past the frozen x bound, so ~1/7 of the table clamps into
    // edge cells. layoutHealth reports rows/drifted/files/fattest-file
    // and the threshold verdict `needs_relayout` (what maybeRecluster
    // acts on) in one bounded aggregate; DuckDB replays the frozen-bound
    // clamp, the z ladder, and the cell occupancy exactly, so the policy
    // trigger itself rides the hashed oracle. LayoutSinkSpec drives the
    // full append → drift → recluster → health-restored cycle.
    ("orders_layout_health",
      (s: SparkSession, d: String) => graft.ext.Layout.layoutHealth(
        s, graft.sinks.LayoutSink.driftedOrdersLayoutAt(s, d)),
      Some("""WITH orig AS (
  SELECT o_custkey::BIGINT AS xr,
         (epoch_ms(o_orderdate) // 86400000)::BIGINT AS yr
  FROM orders WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL),
mm AS (SELECT min(xr) AS x_lo, max(xr) AS x_hi,
              min(yr) AS y_lo, max(yr) AS y_hi FROM orig),
drift AS (
  SELECT (o_custkey + x_hi + 1)::BIGINT AS xr,
         (epoch_ms(o_orderdate) // 86400000)::BIGINT AS yr, 1 AS is_drift
  FROM orders CROSS JOIN mm
  WHERE o_orderkey % 7 = 0
    AND o_custkey IS NOT NULL AND o_orderdate IS NOT NULL),
allr AS (SELECT xr, yr, 0 AS is_drift FROM orig
         UNION ALL SELECT xr, yr, is_drift FROM drift),
k AS (SELECT is_drift,
        ((least(greatest(xr, x_lo), x_hi) - x_lo) * 65535)
          // greatest(x_hi - x_lo, 1) AS xk,
        ((least(greatest(yr, y_lo), y_hi) - y_lo) * 65535)
          // greatest(y_hi - y_lo, 1) AS yk
      FROM allr CROSS JOIN mm),
s0 AS (SELECT is_drift, xk & 65535 AS xa, yk & 65535 AS ya FROM k),
s1 AS (SELECT is_drift, (xa | (xa << 8)) & 16711935 AS xb,
              (ya | (ya << 8)) & 16711935 AS yb FROM s0),
s2 AS (SELECT is_drift, (xb | (xb << 4)) & 252645135 AS xc,
              (yb | (yb << 4)) & 252645135 AS yc FROM s1),
s3 AS (SELECT is_drift, (xc | (xc << 2)) & 858993459 AS xd,
              (yc | (yc << 2)) & 858993459 AS yd FROM s2),
s4 AS (SELECT is_drift, (xd | (xd << 1)) & 1431655765 AS xe,
              (yd | (yd << 1)) & 1431655765 AS ye FROM s3),
z AS (SELECT is_drift, (xe | (ye << 1)) AS zv FROM s4),
pc AS (SELECT zv >> 26 AS cell, count(*)::BIGINT AS n,
              sum(is_drift)::BIGINT AS d
       FROM z GROUP BY 1)
SELECT sum(n)::BIGINT AS n_rows, sum(d)::BIGINT AS drifted_rows,
       count(*)::BIGINT AS files, max(n)::BIGINT AS max_file_rows,
       sum(d) * 100 >= sum(n) * 10 AS needs_relayout
FROM pc""")),

    // The HILBERT layout made physical (r12 item 2): same contract as
    // orders_zorder_pruned_read but the table is clustered on the STAGED
    // Hilbert index (Layout.withHilbertIndex — O(bits) projection stages
    // lift the Column form's 4-bit cap) and the reader's driver-side
    // intersection walks the inverse rotation chain (d2xy) per cell.
    // A 2-D box exercises both axes of the quadrant math. Semantics ==
    // a plain WHERE (the oracle); LayoutSpec pins the hcell partition
    // filter and the fewer-files-than-z advantage on box reads.
    ("orders_hilbert_pruned_read",
      (s: SparkSession, d: String) => {
        val path = graft.ext.Layout.clusteredOrdersHilbertAt(s, d)
        statusDays(graft.ext.Layout.readPruned(s, path,
          xRange = Some((100L, 700L)), yRange = Some((9800L, 10300L))))
      },
      Some(statusDaySql(Some((100L, 700L)), (9800L, 10300L)))),

    // The Hilbert curve's locality THEOREM as hashed data: over the full
    // 8×8 cell grid, every consecutive-index step is grid-adjacent
    // (h_adj_steps = 63, h_max_step = 1) while the z curve pays jump
    // discontinuities — so contiguous Hilbert index ranges (files) cover
    // connected regions. Bijectivity rides along (h_distinct = 64). A
    // wrong rotation anywhere breaks adjacency and fails the oracle gate
    // itself; DuckDB replays the xy2d chain stage-for-stage.
    ("hilbert_curve_contract",
      (s: SparkSession, d: String) => {
        import org.apache.spark.sql.functions._
        val cells = s.range(64).select(
          expr("id % 8").as("xq"), expr("id div 8").as("yq"))
          .withColumn("hd",
            graft.ext.Layout.hilbertIndex(col("xq"), col("yq"), 3))
          .withColumn("zd", expr(
            "(xq & 1) | ((yq & 1) << 1) | ((xq & 2) << 1) | " +
              "((yq & 2) << 2) | ((xq & 4) << 2) | ((yq & 4) << 3)"))
        def steps(dcol: String, p: String) = {
          val a = cells.select(col(dcol).as("d"),
            col("xq").as("x1"), col("yq").as("y1"))
          val b = cells.select(col(dcol).as("d2"),
            col("xq").as("x2"), col("yq").as("y2"))
          a.join(b, col("d") + 1 === col("d2"))
            .select((abs(col("x1") - col("x2")) +
              abs(col("y1") - col("y2"))).as("step"))
            .agg(sum(when(col("step") === 1, 1L).otherwise(0L))
              .as(s"${p}_adj_steps"), max("step").as(s"${p}_max_step"))
        }
        cells.agg(count(lit(1)).as("n_cells"),
          countDistinct("hd").as("h_distinct"),
          countDistinct("zd").as("z_distinct"))
          .crossJoin(broadcast(steps("hd", "h")))
          .crossJoin(broadcast(steps("zd", "z")))
          .select("n_cells", "h_distinct", "z_distinct",
            "h_adj_steps", "h_max_step", "z_adj_steps", "z_max_step")
      },
      Some(s"""WITH g AS (
  SELECT (id % 8)::BIGINT AS xq, (id // 8)::BIGINT AS yq FROM range(64) t(id)),
${hilbertSqlStages("g", 3, Seq.empty)},
c AS (SELECT xq, yq, hd,
        ((xq & 1) | ((yq & 1) << 1) | ((xq & 2) << 1)
         | ((yq & 2) << 2) | ((xq & 4) << 2) | ((yq & 4) << 3)) AS zd
      FROM hfin),
hs AS (SELECT sum(CASE WHEN abs(a.xq - b.xq) + abs(a.yq - b.yq) = 1
                       THEN 1 ELSE 0 END)::BIGINT AS h_adj_steps,
              max(abs(a.xq - b.xq) + abs(a.yq - b.yq))::BIGINT AS h_max_step
       FROM c a JOIN c b ON a.hd + 1 = b.hd),
zs AS (SELECT sum(CASE WHEN abs(a.xq - b.xq) + abs(a.yq - b.yq) = 1
                       THEN 1 ELSE 0 END)::BIGINT AS z_adj_steps,
              max(abs(a.xq - b.xq) + abs(a.yq - b.yq))::BIGINT AS z_max_step
       FROM c a JOIN c b ON a.zd + 1 = b.zd),
base AS (SELECT count(*)::BIGINT AS n_cells,
                count(DISTINCT hd)::BIGINT AS h_distinct,
                count(DISTINCT zd)::BIGINT AS z_distinct FROM c)
SELECT n_cells, h_distinct, z_distinct,
       h_adj_steps, h_max_step, z_adj_steps, z_max_step
FROM base CROSS JOIN hs CROSS JOIN zs""")),

    // The locality theorem's consequence, measured on real keys: the
    // same orders rows filed as runs of SIX consecutive curve cells
    // under both curves, each file reporting the bounding box a skipping
    // reader would consult. Six deliberately: power-of-4-aligned runs
    // are quads under BOTH curves (the degenerate tie), but real
    // size-based file cuts land at arbitrary curve positions — and
    // there Hilbert runs stay connected (unit steps; full-grid box area
    // 72 cells) while z runs crossing a jump span disconnected regions
    // (120 cells). HilbertSpec pins the inequality; the hashed output
    // is the exact per-file stats. One cached key frame, two bounded
    // aggregates; all values exact integers.
    ("orders_curve_files",
      (s: SparkSession, d: String) =>
        graft.ext.Layout.curveFileStats(
          Tables(s, d, "orders"),
          org.apache.spark.sql.functions.col("o_custkey"),
          org.apache.spark.sql.functions.expr(
            "unix_millis(cast(o_orderdate as timestamp)) div 86400000"),
          cellBits = 6, cellsPerFile = 6),
      Some(s"""$zorderKeyCte,
q AS (SELECT xk, yk, zv, xk >> 13 AS xq, yk >> 13 AS yq FROM z),
${hilbertSqlStages("q", 3, Seq("xk", "yk", "zv"))},
zf AS (SELECT 'z' AS curve, (zv >> 26) // 6 AS file, count(*)::BIGINT AS n,
              min(xk) AS x_min, max(xk) AS x_max,
              min(yk) AS y_min, max(yk) AS y_max
       FROM hfin GROUP BY 2),
hf AS (SELECT 'h' AS curve, hd // 6 AS file, count(*)::BIGINT AS n,
              min(xk) AS x_min, max(xk) AS x_max,
              min(yk) AS y_min, max(yk) AS y_max
       FROM hfin GROUP BY 2)
SELECT * FROM (SELECT * FROM zf UNION ALL SELECT * FROM hf)
ORDER BY curve, file""")),

    // The curves' FILE-SKIPPING separation as one self-verifying row:
    // unaligned 6-cell file runs (aligned runs make z and Hilbert files
    // identical quadrant blocks), a y-band predicate, stats skipping by
    // per-file min/max (the readPrunedByStats manifest contract). The
    // scan counts AND both soundness booleans ride the hashed oracle;
    // DuckDB replays the z ladder and the full hilbert rotation chain
    // per row, then the same per-file aggregation.
    ("orders_curve_pruned_files",
      (s: SparkSession, d: String) =>
        graft.ext.Layout.curveSkippingReport(
          Tables(s, d, "orders"),
          org.apache.spark.sql.functions.col("o_custkey"),
          org.apache.spark.sql.functions.expr(
            "unix_millis(cast(o_orderdate as timestamp)) div 86400000"),
          cellBits = 6, cellsPerFile = 6, yLo = 20000L, yHi = 29999L),
      Some(s"""$zorderKeyCte,
q AS (SELECT xk, yk, zv, xk >> 13 AS xq, yk >> 13 AS yq FROM z),
${hilbertSqlStages("q", 3, Seq("xk", "yk", "zv"))},
zfc AS (SELECT (zv >> 26) // 6 AS file, count(*)::BIGINT AS n,
               min(yk) AS y_min, max(yk) AS y_max,
               sum(CASE WHEN yk BETWEEN 20000 AND 29999 THEN 1 ELSE 0 END)::BIGINT AS m
        FROM hfin GROUP BY 1),
za AS (SELECT count(*)::BIGINT AS z_files,
              sum(CASE WHEN y_max < 20000 OR y_min > 29999 THEN 1 ELSE 0 END)::BIGINT AS z_skipped,
              sum(CASE WHEN NOT (y_max < 20000 OR y_min > 29999) THEN n ELSE 0 END)::BIGINT AS z_rows_scanned,
              sum(CASE WHEN y_max < 20000 OR y_min > 29999 THEN m ELSE 0 END) = 0 AS z_sound
       FROM zfc),
hfc AS (SELECT hd // 6 AS file, count(*)::BIGINT AS n,
               min(yk) AS y_min, max(yk) AS y_max,
               sum(CASE WHEN yk BETWEEN 20000 AND 29999 THEN 1 ELSE 0 END)::BIGINT AS m
        FROM hfin GROUP BY 1),
ha AS (SELECT count(*)::BIGINT AS h_files,
              sum(CASE WHEN y_max < 20000 OR y_min > 29999 THEN 1 ELSE 0 END)::BIGINT AS h_skipped,
              sum(CASE WHEN NOT (y_max < 20000 OR y_min > 29999) THEN n ELSE 0 END)::BIGINT AS h_rows_scanned,
              sum(CASE WHEN y_max < 20000 OR y_min > 29999 THEN m ELSE 0 END) = 0 AS h_sound
       FROM hfc),
mt AS (SELECT sum(CASE WHEN yk BETWEEN 20000 AND 29999 THEN 1 ELSE 0 END)::BIGINT AS rows_match FROM hfin)
SELECT rows_match, z_files, z_skipped, z_rows_scanned,
       h_files, h_skipped, h_rows_scanned, z_sound, h_sound,
       h_rows_scanned < z_rows_scanned AS h_beats_z
FROM mt CROSS JOIN za CROSS JOIN ha""")),

    // -------------------------------------------------- entity resolution
    // Blocked fuzzy name matching over the part catalog: MULTI-PASS
    // blocking (head-noun + first-token keys, r11 item 5), levenshtein
    // verify INSIDE blocks only (the candidate-generation discipline of
    // the LSH tier applied to ER). The oracle replays the same blocking —
    // the registered semantics IS the blocked join, the production ER
    // shape at catalog scale. The planted head-noun-variant pair
    // ("…anvil"/"…anvils") is one single-pass last-token blocking
    // PROVABLY misses (different head nouns, shared first token) — its
    // presence in the hashed output pins the second pass.
    ("er_fuzzy_parts",
      (s: SparkSession, d: String) => {
        import s.implicits._
        val planted = Seq("zzz planted anvil", "zzz planted anvils")
          .toDF("p_name")
        graft.ext.EntityResolution.fuzzyNameMatches(
          Tables(s, d, "part").select("p_name").unionByName(planted),
          maxDist = 2)
      },
      Some("""WITH p2 AS (
  SELECT p_name FROM part WHERE p_name IS NOT NULL
  UNION ALL SELECT 'zzz planted anvil'
  UNION ALL SELECT 'zzz planted anvils'),
n AS (SELECT p_name AS name, count(*)::BIGINT AS n_rows
      FROM p2 GROUP BY p_name),
nb AS (SELECT name, n_rows,
              unnest(list_distinct([string_split(name, ' ')[-1],
                                    string_split(name, ' ')[1]])) AS blk
       FROM n),
c AS (SELECT DISTINCT a.name AS name_a, b.name AS name_b,
             a.n_rows AS n_a, b.n_rows AS n_b
      FROM nb a JOIN nb b ON a.blk = b.blk AND a.name < b.name),
m AS (SELECT name_a, name_b, levenshtein(name_a, name_b)::INT AS dist,
             n_a, n_b
      FROM c WHERE levenshtein(name_a, name_b) <= 2)
SELECT name_a, name_b, dist, n_a, n_b FROM m ORDER BY name_a, name_b""")),

    // ------------------------------------------------------ table profile
    // One-scan data census over orders: every column's null count, exact
    // cardinality, and typed range from a single aggregate, unpivoted
    // in-plan (see graft.ext.Profile — the per-column-scan profiler is
    // the anti-pattern this replaces).
    ("orders_profile",
      (s: SparkSession, d: String) =>
        graft.ext.Profile.profile(Tables(s, d, "orders")),
      Some("""WITH s AS (SELECT
  count(*)::BIGINT AS n_rows,
  count(o_orderkey)::BIGINT AS nn1, count(DISTINCT o_orderkey)::BIGINT AS nd1,
  CAST(min(o_orderkey) AS DOUBLE) AS mn1, CAST(max(o_orderkey) AS DOUBLE) AS mx1,
  count(o_custkey)::BIGINT AS nn2, count(DISTINCT o_custkey)::BIGINT AS nd2,
  CAST(min(o_custkey) AS DOUBLE) AS mn2, CAST(max(o_custkey) AS DOUBLE) AS mx2,
  count(o_orderstatus)::BIGINT AS nn3, count(DISTINCT o_orderstatus)::BIGINT AS nd3,
  min(o_orderstatus) AS mns3, max(o_orderstatus) AS mxs3,
  count(o_totalprice)::BIGINT AS nn4, count(DISTINCT o_totalprice)::BIGINT AS nd4,
  min(o_totalprice) AS mn4, max(o_totalprice) AS mx4,
  count(o_orderdate)::BIGINT AS nn5, count(DISTINCT o_orderdate)::BIGINT AS nd5,
  CAST(epoch_ms(min(o_orderdate)) AS DOUBLE) AS mn5,
  CAST(epoch_ms(max(o_orderdate)) AS DOUBLE) AS mx5,
  count(o_orderpriority)::BIGINT AS nn6, count(DISTINCT o_orderpriority)::BIGINT AS nd6,
  min(o_orderpriority) AS mns6, max(o_orderpriority) AS mxs6
FROM orders)
SELECT * FROM (
  SELECT 'o_orderkey' AS column_name, n_rows, n_rows - nn1 AS n_nulls, nd1 AS n_distinct,
         mn1 AS min_num, mx1 AS max_num, CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str FROM s
  UNION ALL
  SELECT 'o_custkey', n_rows, n_rows - nn2, nd2, mn2, mx2, NULL, NULL FROM s
  UNION ALL
  SELECT 'o_orderstatus', n_rows, n_rows - nn3, nd3, NULL, NULL, mns3, mxs3 FROM s
  UNION ALL
  SELECT 'o_totalprice', n_rows, n_rows - nn4, nd4, mn4, mx4, NULL, NULL FROM s
  UNION ALL
  SELECT 'o_orderdate', n_rows, n_rows - nn5, nd5, mn5, mx5, NULL, NULL FROM s
  UNION ALL
  SELECT 'o_orderpriority', n_rows, n_rows - nn6, nd6, NULL, NULL, mns6, mxs6 FROM s
) ORDER BY column_name""")),

    // ------------------------------------------------------- web ingestion
    // The front door of a 100 TB training pipeline: WARC archives (the
    // format real web corpora arrive in) through the full byte walk —
    // gzip member parse (header grammar + CRC32/ISIZE, one member per
    // record per the WARC convention; variants: plain / hand-rolled
    // STORED deflate / JDK Deflater dynamic-Huffman + FNAME) → WARC 1.0
    // record framing → HTTP parse → per-record HTTP-LEVEL features.
    // Since r16 the corpus spans three more axes (wire charset, entity
    // Content-Encoding: gzip, metadata sidecar records), so this view
    // reports the DECODED level — status/method/framing/encoding/charset
    // plus codepoint-indexed body length and (i+1)-weighted codepoint
    // checksum — which the oracle replays exactly for every axis
    // combination (compressed wire bytes never need SQL replay; the
    // raw-byte framing pin lives in web_http_framing over the text
    // subset).
    ("web_warc_records",
      (s: SparkSession, d: String) =>
        graft.ext.WebCodec.warcRecords(
          graft.ext.WebCodec.webWarc(docs(s, d)))
          .orderBy("media_id", "rec_index"),
      Some(s"""WITH $webRecsCtesSql,
$webRecsCkCtes
SELECT r.doc_id AS media_id, r.rec_index AS rec_index, r.warc_type,
       r.uri AS target_uri,
       -- plain files (id%3==0, covering id%6∈{0,3}) report 0 members;
       -- metadata-axis gzip files (id%6∈{4,5} — STORED and Deflater
       -- respectively) count 3; all other gzip files 2 (ADVICE r16);
       -- the r17 redirect and r18 retry pairs add 2 records, the r18
       -- chain/loop pairs add 4
       CAST(CASE WHEN r.doc_id % 3 = 0 THEN 0
                 ELSE (CASE WHEN r.doc_id % 6 IN (4, 5) THEN 3 ELSE 2 END)
                   + (CASE WHEN r.doc_id % 9 IN (4, 8) THEN 2
                           WHEN r.doc_id % 9 IN (2, 5) THEN 4
                           ELSE 0 END)
            END AS INT)
         AS gzip_members,
       CAST(r.http_status AS INT) AS http_status, r.http_method,
       r.transfer, r.content_encoding, r.charset, r.charset_src,
       r.location,
       (CASE WHEN r.body_bytes = -1 THEN strlen(r.txt)
             ELSE r.body_bytes END)::BIGINT AS body_bytes,
       length(r.txt)::BIGINT AS body_chars,
       coalesce(k.body_ck, 0)::BIGINT AS body_ck,
       r.retry_after::BIGINT AS retry_after,
       '2026-0' || (r.doc_id % 6 + 1)::VARCHAR || '-15T00:00:00Z'
         AS warc_date,
       (r.warc_type = 'response' AND r.http_status = 200 AND
        r.doc_id % 18 = 1 AND r.doc_id % 4 <> 1 AND r.doc_id % 5 < 3)
         AS truncated,
       r.content_type
FROM recs r LEFT JOIN cks k USING (doc_id, rec_index)
ORDER BY media_id, rec_index""")),

    // RAW transfer-framing pin over the TEXT subset (no entity gzip —
    // compressed bytes can't be rebuilt in SQL): the whole response
    // payload — status line, Content-Type with its charset parameter,
    // Content-Length (BYTES of the charset-encoded body) or the full
    // chunked framing with per-piece byte sizes in lowercase hex —
    // rebuilt as ONE string and checksummed codepoint-by-codepoint.
    // Text pieces chunk at 256-CODEPOINT boundaries, so a piece's byte
    // size is strlen (UTF-8 wire) or length (Latin-1 wire) of the
    // substr piece. This is the byte-exactness evidence for the framing
    // writer+parser pair; everything downstream is framing-INVARIANT.
    ("web_http_framing",
      (s: SparkSession, d: String) =>
        graft.ext.WebCodec.httpFraming(
          graft.ext.WebCodec.webWarc(docs(s, d)))
          .orderBy("media_id"),
      Some(s"""WITH crlfv AS (SELECT chr(13) || chr(10) AS crlf),
h AS (SELECT doc_id, lang, source,
      CASE WHEN $webMimeWhere THEN text ELSE $webHtmlExpr END AS html
      FROM documents
      -- text subset only; dead URLs (r18) have no 200 capture;
      -- truncated captures are not well-framed messages by definition
      WHERE doc_id % 5 NOT IN (3, 4) AND doc_id % 9 <> 7
        AND NOT ($webTruncWhere)),
f AS (SELECT h.doc_id, h.html, $webCharsetCase AS charset,
    $webCharsetResolvedCase AS charset_res,
    $webTransferCase AS transfer,
    ($webBomCase) AS bom,
    (CASE WHEN h.doc_id % 5 = 2 THEN length(h.html)
          ELSE strlen(h.html) END) + ($webBomCase) AS body_bytes
  FROM h),
pieces AS (SELECT f.doc_id, u.i AS i,
             substr(f.html, (u.i * 256 + 1)::INT, 256) AS piece
           FROM f, unnest(range(0, (length(f.html) + 255) // 256)) AS u(i)),
ch AS (SELECT p.doc_id AS cdoc, string_agg(
         lower(to_hex(CASE WHEN p.doc_id % 5 = 2 THEN length(p.piece)
                           ELSE strlen(p.piece) END))
           || c.crlf || p.piece || c.crlf, '' ORDER BY p.i) AS chunks
       FROM pieces p, crlfv c GROUP BY p.doc_id),
-- a BOM-axis entity leads with the 3-byte signature: its own first
-- chunk under chunked framing, a chr(65279)=U+FEFF splice in the raw
-- decoded payload (strict UTF-8 decodes EF BB BF mid-stream to one
-- codepoint)
msg AS (SELECT f.doc_id, f.transfer, f.charset_res, f.body_bytes,
    'HTTP/1.1 200 OK' || c.crlf
      || 'Content-Type: ' || (CASE WHEN f.doc_id % 9 = 3
           THEN 'text/plain' ELSE 'text/html' END)
      || CASE WHEN f.doc_id % 7 IN (2, 5) THEN ''
              ELSE '; charset=' || f.charset END || c.crlf
      || CASE WHEN f.doc_id % 4 = 1 THEN
           'Transfer-Encoding: chunked' || c.crlf
             || 'X-Doc: ' || f.doc_id::VARCHAR || c.crlf || c.crlf
             || CASE WHEN f.bom = 3
                THEN '3' || c.crlf || chr(65279) || c.crlf ELSE '' END
             || ch.chunks || '0' || c.crlf
             || CASE WHEN f.doc_id % 8 = 5 THEN
                  'X-Graft-Trailer: ' || f.body_bytes::VARCHAR || c.crlf
                ELSE '' END
             || c.crlf
         ELSE
           'Content-Length: ' || f.body_bytes::VARCHAR || c.crlf
             || 'X-Doc: ' || f.doc_id::VARCHAR || c.crlf || c.crlf
             || CASE WHEN f.bom = 3 THEN chr(65279) ELSE '' END || f.html
         END AS payload
  FROM f JOIN ch ON ch.cdoc = f.doc_id, crlfv c),
chars AS (SELECT doc_id, u.i AS i,
                 ascii(substr(payload, (u.i + 1)::INT, 1)) AS c
          FROM msg, unnest(range(0, length(payload))) AS u(i)),
cks AS (SELECT doc_id, sum((i + 1) * c)::BIGINT AS payload_ck
        FROM chars GROUP BY 1)
SELECT m.doc_id AS media_id, m.transfer, m.charset_res AS charset,
       (CASE WHEN m.doc_id % 4 = 1 THEN -1
             ELSE m.body_bytes END)::BIGINT AS content_length_hdr,
       CAST(CASE WHEN m.doc_id % 8 = 5 THEN 1 ELSE 0 END AS INT)
         AS trailers,
       length(m.payload)::BIGINT AS payload_chars, k.payload_ck
FROM msg m JOIN cks k USING (doc_id)
ORDER BY media_id""")),

    // HTML → text, entirely inside whole-stage codegen: the synth and
    // the extraction (script/style removal, tag strip, entity decode
    // with amp LAST, whitespace collapse) are pure-Column regex chains
    // chosen to be dialect-identical between java.util.regex and RE2 —
    // the oracle runs the SAME chain over the SAME SQL-built html.
    ("web_html_text",
      (s: SparkSession, d: String) => {
        import org.apache.spark.sql.functions._
        val W = graft.ext.WebCodec
        graft.ext.TextOps.scanParallel(docs(s, d))
          .select(col("doc_id").as("media_id"),
            W.htmlCol(col("doc_id"), col("text"), col("lang"),
              col("source")).as("html"))
          .select(col("media_id"), W.titleCol(col("html")).as("title"),
            W.extractTextCol(col("html")).as("body"))
          .select(col("media_id"), col("title"), col("body"),
            length(col("body")).cast("long").as("n_chars_ext"),
            size(split(col("body"), "\\s+")).cast("long").as("n_words"))
          .orderBy("media_id")
      },
      Some(s"""WITH h AS (SELECT doc_id, $webHtmlExpr AS html FROM documents),
x AS (SELECT doc_id, html, ${webExtractSql("html")} AS body FROM h)
SELECT doc_id AS media_id,
       regexp_extract(html, '<title>([^<]*)</title>', 1) AS title,
       body, length(body)::BIGINT AS n_chars_ext,
       len(string_split_regex(body, '\\s+'))::BIGINT AS n_words
FROM x ORDER BY media_id""")),

    // MAIN-CONTENT extraction (r16) — the boilerplate-removal gate real
    // LLM pipelines run between tag-strip and dedup (jusText/
    // trafilatura-style): block segmentation, link-density + length
    // scoring, keep only content blocks. The planted nav bar, link-farm
    // div, and footer — which tag-strip alone provably keeps (they're
    // in web_html_text's body) — are dropped here. The oracle replays
    // the IDENTICAL generic algorithm (regexp_extract_all blocks →
    // list_transform scoring → list_filter), not a per-block case
    // table; coalesce('') mirrors Spark's array_join-on-empty.
    ("web_main_content",
      (s: SparkSession, d: String) => {
        import org.apache.spark.sql.functions._
        val W = graft.ext.WebCodec
        graft.ext.TextOps.scanParallel(docs(s, d))
          .select(col("doc_id").as("media_id"),
            W.mainContentStruct(W.htmlCol(col("doc_id"), col("text"),
              col("lang"), col("source"))).as("mc"))
          .select(col("media_id"), col("mc.main_text").as("main_text"),
            col("mc.n_blocks").as("n_blocks"),
            col("mc.n_kept").as("n_kept"),
            col("mc.boiler_chars").as("boiler_chars"))
          .orderBy("media_id")
      },
      Some(s"""WITH h AS (SELECT doc_id, $webHtmlExpr AS html FROM documents),
b AS (SELECT doc_id, regexp_extract_all(
        regexp_replace(html, '<!--.*?-->', ' ', 'g'),
        '(<p[^>]*>.*?</p>|<h1>.*?</h1>|<nav>.*?</nav>|<div[^>]*>.*?</div>|<footer>.*?</footer>)',
        1) AS blocks FROM h),
s AS (SELECT doc_id, len(blocks) AS nb, list_transform(blocks,
        blk -> struct_pack(
          btext := ${webExtractSql("blk")},
          ltext := coalesce(array_to_string(
            regexp_extract_all(blk, '<a [^>]*>([^<]*)</a>', 1), ' '), '')))
        AS ev FROM b),
k AS (SELECT doc_id, nb,
        list_filter(ev, e -> length(e.btext) >= 15
          AND 2 * length(e.ltext) < length(e.btext)) AS keptl,
        list_filter(ev, e -> NOT (length(e.btext) >= 15
          AND 2 * length(e.ltext) < length(e.btext))) AS dropl
      FROM s)
SELECT doc_id AS media_id,
  coalesce(array_to_string(
    list_transform(keptl, e -> e.btext), ' '), '') AS main_text,
  nb::BIGINT AS n_blocks, len(keptl)::BIGINT AS n_kept,
  coalesce(list_aggregate(
    list_transform(dropl, e -> length(e.btext)), 'sum'), 0)::BIGINT
    AS boiler_chars
FROM k ORDER BY media_id""")),

    // URL normalization (fragment drop, scheme/host lowercase, https
    // default-port strip) + component split + registered-domain
    // extraction — the C4/CCNet-style URL hygiene pass, pure-Column.
    ("web_url_parts",
      (s: SparkSession, d: String) => {
        import org.apache.spark.sql.functions._
        val W = graft.ext.WebCodec
        val base = graft.ext.TextOps.scanParallel(docs(s, d)).select(col("doc_id").as("media_id"),
          W.urlCol(col("doc_id"), col("lang"), col("source")).as("url"))
        val parts = W.urlParts(col("url")).map { case (n, c) => c.as(n) }
        base.select(col("media_id") +: parts: _*).orderBy("media_id")
      },
      Some(s"""WITH u AS (SELECT doc_id, $webUrlExpr AS url FROM documents),
$webUrlPartsSql
SELECT doc_id AS media_id,
  scheme || '://' || host || path ||
    CASE WHEN qs <> '' THEN '?' || qs ELSE '' END AS url_norm,
  scheme, host, path, qs,
  regexp_extract(host, '([^.]+\\.[^.]+)$$', 1) AS domain
FROM webq ORDER BY media_id""")),

    // Full RFC 3986 §6 URL canonicalization (r17): percent-encoding
    // normalization (decode unreserved, uppercase the rest), dot-
    // segment removal (aggregate-fold stack), scheme/host lowercase,
    // default-port strip, fragment drop. Each doc gets a MESSY alias
    // (uppercase scheme+host, explicit :443, /a/./../ segments, %64ocs
    // and %66eed encodings, a fragment) that must collapse to exactly
    // the canonical form of its primary URL — aliased URLs counting as
    // distinct pages is how a frontier over-crawls at scale. The
    // operator is the generic pure-Column algorithm; the oracle replays
    // the per-doc expected form (the robots-gate decision-table
    // posture).
    ("web_url_canonical",
      (s: SparkSession, d: String) => {
        import org.apache.spark.sql.functions._
        val W = graft.ext.WebCodec
        val alias = concat(
          lit("HTTPS://WWW."), col("source"), lit(".Example"),
          (col("doc_id") % 7).cast("string"),
          lit(".COM:443/a/./../%64ocs/"), col("doc_id").cast("string"),
          lit("?lang="), col("lang"), lit("&ref=%66eed#frag-"),
          (col("doc_id") % 3).cast("string"))
        graft.ext.TextOps.scanParallel(docs(s, d))
          .select(col("doc_id").as("media_id"), alias.as("alias"),
            W.urlCanonicalCol(alias).as("canonical"),
            W.urlCanonicalCol(W.urlCol(col("doc_id"), col("lang"),
              col("source"))).as("canonical_primary"))
          .withColumn("collapses",
            col("canonical") === col("canonical_primary"))
          .orderBy("media_id")
      },
      Some("""WITH u AS (SELECT doc_id,
  'HTTPS://WWW.' || source || '.Example' || (doc_id % 7)::VARCHAR
    || '.COM:443/a/./../%64ocs/' || doc_id::VARCHAR || '?lang=' || lang
    || '&ref=%66eed#frag-' || (doc_id % 3)::VARCHAR AS alias,
  'https://www.' || lower(source) || '.example' || (doc_id % 7)::VARCHAR
    || '.com/docs/' || doc_id::VARCHAR || '?lang=' || lang
    || '&ref=feed' AS canon
  FROM documents)
SELECT doc_id AS media_id, alias, canon AS canonical,
       canon AS canonical_primary, TRUE AS collapses
FROM u ORDER BY media_id""")),

    // IDN / punycode host FOLDING (r18, VERDICT r17 item 6): real-web
    // hosts appear interchangeably in Unicode (Location headers, page
    // links) and punycode (WARC captures, DNS) — without an RFC 3490
    // fold, internationalized aliases of one host count as distinct
    // pages and the frontier over-crawls. The operator is the generic
    // java.net.IDN ToASCII in the codec seam (identity on ASCII hosts,
    // so the seam is cheap at corpus scale); the oracle replays the
    // planted unicode↔punycode label table — whose values a spec pins
    // against java.net.IDN output. multi-hop chase integration: the
    // /h2 hop's unicode Location only joins its punycode /h1 capture
    // through this fold (web_redirect_chase_multi).
    ("web_idn_fold",
      (s: SparkSession, d: String) => {
        import org.apache.spark.sql.functions._
        val W = graft.ext.WebCodec
        val idx = col("doc_id") % 4
        def pick(f: ((String, String)) => String)
        : org.apache.spark.sql.Column =
          when(idx === 0, lit(f(W.idnLabels(0))))
            .when(idx === 1, lit(f(W.idnLabels(1))))
            .when(idx === 2, lit(f(W.idnLabels(2))))
            .otherwise(lit(f(W.idnLabels(3))))
        val k = (col("doc_id") % 7).cast("string")
        val base = docs(s, d).select(col("doc_id").as("media_id"),
          concat(lit("www."), pick(_._1), lit(".example"), k,
            lit(".com")).as("unicode_host"),
          concat(lit("www."), pick(_._2), lit(".example"), k,
            lit(".com")).as("punycode_host"))
        W.idnFoldHosts(base)
          .withColumn("collapses",
            col("folded_host") === col("punycode_host"))
          .orderBy("media_id")
      },
      Some({
        val uniCase = graft.ext.WebCodec.idnLabels.zipWithIndex.map {
          case ((u, _), i) => s"WHEN doc_id % 4 = $i THEN '$u'"
        }.mkString(" ")
        val asciiCase = graft.ext.WebCodec.idnLabels.zipWithIndex.map {
          case ((_, a), i) => s"WHEN doc_id % 4 = $i THEN '$a'"
        }.mkString(" ")
        s"""WITH d AS (SELECT doc_id,
  'www.' || (CASE $uniCase END) || '.example'
    || (doc_id % 7)::VARCHAR || '.com' AS unicode_host,
  'www.' || (CASE $asciiCase END) || '.example'
    || (doc_id % 7)::VARCHAR || '.com' AS punycode_host
  FROM documents)
SELECT doc_id AS media_id, unicode_host, punycode_host,
       punycode_host AS folded_host, TRUE AS collapses
FROM d ORDER BY media_id"""
      })),

    // Tracking-parameter stripping (r18): utm_*/gclid/fbclid/msclkid
    // query params identify campaigns, not resources — aliases
    // differing only in them are ONE page, and a frontier keeping them
    // over-crawls. Each doc gets a campaign-decorated alias (trackers
    // planted first / middle / last around the real params); after
    // canonicalize → strip it must collapse to the primary's stripped
    // canonical, with the real params' order untouched. Pure-Column
    // both sides; the oracle replays the per-doc expected form.
    ("web_url_tracking_strip",
      (s: SparkSession, d: String) => {
        import org.apache.spark.sql.functions._
        val W = graft.ext.WebCodec
        val alias = concat(
          lit("HTTPS://WWW."), col("source"), lit(".Example"),
          (col("doc_id") % 7).cast("string"),
          lit(".COM:443/docs/"), col("doc_id").cast("string"),
          lit("?utm_source=news"), lit("&lang="), col("lang"),
          lit("&utm_campaign=c"), (col("doc_id") % 3).cast("string"),
          lit("&ref=feed&fbclid=x"), col("doc_id").cast("string"),
          lit("#frag"))
        graft.ext.TextOps.scanParallel(docs(s, d))
          .select(col("doc_id").as("media_id"), alias.as("alias"),
            W.stripTrackingParamsCol(W.urlCanonicalCol(alias))
              .as("stripped"),
            W.stripTrackingParamsCol(W.urlCanonicalCol(
              W.urlCol(col("doc_id"), col("lang"), col("source"))))
              .as("stripped_primary"))
          .withColumn("collapses", col("stripped") === col("stripped_primary"))
          .orderBy("media_id")
      },
      Some("""WITH u AS (SELECT doc_id,
  'HTTPS://WWW.' || source || '.Example' || (doc_id % 7)::VARCHAR
    || '.COM:443/docs/' || doc_id::VARCHAR
    || '?utm_source=news&lang=' || lang
    || '&utm_campaign=c' || (doc_id % 3)::VARCHAR
    || '&ref=feed&fbclid=x' || doc_id::VARCHAR || '#frag' AS alias,
  'https://www.' || lower(source) || '.example' || (doc_id % 7)::VARCHAR
    || '.com/docs/' || doc_id::VARCHAR || '?lang=' || lang
    || '&ref=feed' AS want
  FROM documents)
SELECT doc_id AS media_id, alias, want AS stripped,
       want AS stripped_primary, TRUE AS collapses
FROM u ORDER BY media_id""")),

    // Per-registered-domain corpus rollup over the normalized hosts —
    // the grouping key a real crawl-dedup/budget pass partitions on.
    ("web_domain_stats",
      (s: SparkSession, d: String) => {
        import org.apache.spark.sql.functions._
        val W = graft.ext.WebCodec
        val base = docs(s, d).select(col("doc_id"), col("n_chars"),
          col("source"),
          W.urlCol(col("doc_id"), col("lang"), col("source")).as("url"))
        val domain = W.urlParts(col("url")).toMap.apply("domain")
        base.select(domain.as("domain"), col("n_chars"), col("source"))
          .groupBy("domain")
          .agg(count(lit(1)).as("n_docs"),
            sum("n_chars").cast("long").as("sum_chars"),
            countDistinct("source").cast("long").as("n_sources"))
          .orderBy("domain")
      },
      Some(s"""WITH u AS (SELECT doc_id, n_chars, source,
             $webUrlExpr AS url FROM documents),
$webUrlPartsSql
SELECT regexp_extract(host, '([^.]+\\.[^.]+)$$', 1) AS domain,
       count(*)::BIGINT AS n_docs,
       sum(n.n_chars)::BIGINT AS sum_chars,
       count(DISTINCT n.source)::BIGINT AS n_sources
FROM webq JOIN u n USING (doc_id)
GROUP BY 1 ORDER BY domain""")),

    // The composed pipeline — the whole front door in ONE query:
    // WARC bytes → gzip members → record walk → HTTP response parse →
    // HTML extraction → quality gates (word count + alpha ratio, the
    // integer-milli form both engines floor identically). Codec layers
    // run in the mapPartitions seam; everything after the parse is
    // pure-Column. The oracle replays ALL of it from `documents`.
    ("web_pipeline",
      (s: SparkSession, d: String) =>
        graft.ext.WebCodec.pipeline(
          graft.ext.WebCodec.webWarc(docs(s, d)))
          // target_uri completes the sort key (r18): the loop axis
          // puts two 301 rows on one (media_id, status)
          .orderBy("media_id", "http_status", "target_uri"),
      Some(webPipelineSql)),

    // The front door through MAIN-CONTENT extraction (r16) — the pass a
    // real pre-training pipeline actually runs: WARC → HTTP decode
    // (charset/encoding/framing axes) → boilerplate removal → quality
    // gates over the MAIN text only, with the removed boilerplate
    // accounted beside the gates. The oracle chains the generic
    // main-content list replay into the gate formulas.
    ("web_pipeline_main",
      (s: SparkSession, d: String) =>
        graft.ext.WebCodec.pipelineMain(
          graft.ext.WebCodec.webWarc(docs(s, d)))
          .orderBy("media_id", "http_status", "target_uri"),
      Some(webPipelineMainSql)),

    // The pipeline FUNNEL (r16) — the observability rollup a real
    // 100 TB run watches: per domain, how many docs were fetched, how
    // many the robots gate admits, how many survive main-content
    // quality gating, and how much boilerplate the cleaner removed
    // from admitted docs. Three tiers composed (politeness + parse +
    // quality) through one enrichment join keyed by doc id, then a
    // 7-group rollup. The oracle chains the shared main-content CTE
    // with the robots decision table and aggregates.
    ("web_funnel",
      (s: SparkSession, d: String) =>
        funnelOver(s, d, graft.ext.WebCodec.pipelineMain(
          graft.ext.WebCodec.webWarc(docs(s, d)))),
      Some(webFunnelSql)),

    // The funnel SERVED from the streamed WebSink main table (r17) —
    // observability without re-deriving the front door per query; same
    // one-code-path posture, same oracle.
    ("web_funnel_served",
      (s: SparkSession, d: String) =>
        funnelOver(s, d, graft.sinks.WebSink.materializedMain(s, d)),
      Some(webFunnelSql)),

    // Redirect CHASE (r17): every 3xx fetch's Location target, resolved
    // for the frontier — canonicalize the (deliberately non-canonical)
    // Location, join it against the CANONICAL keys of the crawl's 200
    // captures (the revisit-dedup keyed-shuffle shape: both sides scale
    // with the corpus) to decide already_fetched, and join the robots
    // verdict for the target path. This is the hop a real crawler runs
    // before enqueueing a redirect target; without canonicalization the
    // aliased Location would never match the capture and every redirect
    // would be re-fetched. The oracle replays the per-doc formulas +
    // the robots decision table.
    ("web_redirect_chase",
      (s: SparkSession, d: String) =>
        // fence (r19 optimization): recs feeds the 3xx side AND the
        // fetched-canonical side — un-fenced, the synth+parse codec
        // chain ran twice (guide §2.4)
        chaseOver(s, d, graft.ext.WebCodec.warcRecords(
          graft.ext.WebCodec.webWarc(docs(s, d))).localCheckpoint(false)),
      Some(webChaseSql)),

    // The chase SERVED from the streamed WebSink fetch table (r18,
    // VERDICT r17 item 4): the batch twin re-parses the corpus TWICE
    // per run (redirect side + fetched side) — at 100 TB that is two
    // full parses for one decision table. The fetch table carries
    // target_uri + location since r18, so both chase sides read the
    // already-streamed rows; same oracle verbatim.
    ("web_redirect_chase_served",
      (s: SparkSession, d: String) =>
        chaseOver(s, d, graft.sinks.WebSink.materializedMain(s, d)),
      Some(webChaseSql)),

    // MULTI-HOP chase (r18, VERDICT r17 item 5): every 3xx capture
    // followed to its terminal — resolve → IDN-fold (the /h2 hop's
    // unicode Location must join the punycode /h1 capture) →
    // canonicalize → follow while the target is itself a captured
    // redirect (≤5 hops), flagging A→B→A loops via the visited set.
    // Bounded pointer-jumping: 4 broadcast joins against the
    // parsed-once edge table, never a cartesian, never a driver walk.
    // The oracle replays the per-axis decision table: 1 hop for the
    // r17 alias and the chain's /h1 start, 2 hops for /h2, and the
    // loop pair terminating on itself with loop=true.
    ("web_redirect_chase_multi",
      (s: SparkSession, d: String) =>
        graft.ext.WebCodec.redirectChaseMulti(docs(s, d))
          .orderBy("media_id", "start_uri"),
      Some(webChaseMultiSql)),

    // The multi-hop chase SERVED from the streamed fetch log (r18):
    // the batch twin re-parses the corpus twice; the served chase
    // reads the slim (media_id, target_uri, http_status, location,
    // warc_date) fetch table a real crawler materializes — same
    // bounded pointer-jumping, same oracle verbatim.
    ("web_redirect_chase_multi_served",
      (s: SparkSession, d: String) =>
        graft.ext.WebCodec.chaseMultiOver(
          graft.sinks.WebSink.materializedFetch(s, d))
          .orderBy("media_id", "start_uri"),
      Some(webChaseMultiSql)),

    // Crawl-health ROLLUP over the streamed fetch log (r18): per
    // registered domain — fetch attempts, 200s, redirects, errors,
    // retryables (with their total Retry-After wait), truncated
    // captures, and plain-text captures. The dashboard a 100 TB crawl
    // watches per tick: one scan of the slim log, a 7-group rollup,
    // no joins, no archive bytes. The oracle replays the axis
    // decision tables as per-domain sums. (The chain's punycode /h1
    // host still registers under example<k>.com — registered-domain
    // grouping is exactly why.)
    ("web_fetch_stats_served",
      (s: SparkSession, d: String) => {
        import org.apache.spark.sql.functions._
        val W = graft.ext.WebCodec
        val fl = graft.sinks.WebSink.materializedFetch(s, d)
          .where(col("warc_type") === "response")
        val domain = W.urlParts(col("target_uri")).toMap.apply("domain")
        val st = col("http_status")
        fl.select(domain.as("domain"), st.as("st"), col("truncated"),
            col("content_type"), col("retry_after"))
          .groupBy("domain")
          .agg(count(lit(1)).as("n_fetches"),
            sum((col("st") === 200).cast("long")).cast("long").as("n_ok"),
            sum((col("st") >= 300 && col("st") < 400).cast("long"))
              .cast("long").as("n_redirects"),
            sum((col("st") >= 400).cast("long")).cast("long")
              .as("n_errors"),
            sum((col("st") === 503).cast("long")).cast("long")
              .as("n_retryable"),
            sum(col("retry_after")).cast("long").as("retry_wait_seconds"),
            sum(col("truncated").cast("long")).cast("long")
              .as("n_truncated"),
            sum((col("content_type") === "text/plain" &&
              col("st") === 200).cast("long")).cast("long").as("n_plain"))
          .orderBy("domain")
      },
      Some("""WITH d AS (SELECT doc_id, doc_id % 7 AS k FROM documents),
a AS (SELECT k,
        1 + (CASE WHEN doc_id % 9 IN (4, 8) THEN 1
                  WHEN doc_id % 9 IN (2, 5) THEN 2 ELSE 0 END)
          AS fetches,
        CASE WHEN doc_id % 9 <> 7 THEN 1 ELSE 0 END AS ok,
        CASE WHEN doc_id % 9 = 4 THEN 1
             WHEN doc_id % 9 IN (2, 5) THEN 2 ELSE 0 END AS redirects,
        CASE WHEN doc_id % 9 IN (7, 8) THEN 1 ELSE 0 END AS errors,
        CASE WHEN doc_id % 9 = 8 THEN 1 ELSE 0 END AS retryable,
        CASE WHEN doc_id % 9 = 8 THEN (doc_id % 5 + 1) * 30 ELSE 0 END
          AS retry_wait,
        CASE WHEN doc_id % 18 = 1 AND doc_id % 4 <> 1
              AND doc_id % 5 < 3 THEN 1 ELSE 0 END AS truncated,
        CASE WHEN doc_id % 9 = 3 THEN 1 ELSE 0 END AS plain
      FROM d)
SELECT 'example' || k::VARCHAR || '.com' AS domain,
       sum(fetches)::BIGINT AS n_fetches,
       sum(ok)::BIGINT AS n_ok,
       sum(redirects)::BIGINT AS n_redirects,
       sum(errors)::BIGINT AS n_errors,
       sum(retryable)::BIGINT AS n_retryable,
       sum(retry_wait)::BIGINT AS retry_wait_seconds,
       sum(truncated)::BIGINT AS n_truncated,
       sum(plain)::BIGINT AS n_plain
FROM a GROUP BY k ORDER BY domain""")),

    // The fetch log itself, served: per-record fetch outcomes out of
    // the bucketed streaming table — what the frontier/recrawl/chase
    // tier reads at 100 TB instead of the archive store. The oracle is
    // the warc-records replay minus the payload checksums.
    ("web_fetch_log_served",
      (s: SparkSession, d: String) =>
        graft.sinks.WebSink.materializedFetch(s, d)
          .drop(graft.sinks.WebSink.fetch.bucketCol)
          .orderBy("media_id", "rec_index"),
      Some(s"""WITH $webRecsCtesSql,
$webRecsCkCtes
SELECT r.doc_id AS media_id, r.rec_index AS rec_index, r.warc_type,
       r.uri AS target_uri,
       CAST(r.http_status AS INT) AS http_status, r.location,
       r.retry_after::BIGINT AS retry_after,
       '2026-0' || (r.doc_id % 6 + 1)::VARCHAR || '-15T00:00:00Z'
         AS warc_date,
       (r.warc_type = 'response' AND r.http_status = 200 AND
        r.doc_id % 18 = 1 AND r.doc_id % 4 <> 1 AND r.doc_id % 5 < 3)
         AS truncated,
       length(r.txt)::BIGINT AS body_chars,
       coalesce(k.body_ck, 0)::BIGINT AS body_ck,
       r.content_type
FROM recs r LEFT JOIN cks k USING (doc_id, rec_index)
ORDER BY media_id, rec_index""")),

    // The main-content pipeline SERVED from its streamed WebSink table
    // (r16): same one-code-path posture as web_pipeline_materialized —
    // streamed bytes and batch bytes share WebCodec.pipelineMain, so
    // the serving table rides web_pipeline_main's oracle verbatim.
    ("web_pipeline_main_materialized",
      (s: SparkSession, d: String) =>
        graft.sinks.WebSink.materializedMain(s, d)
          .select("media_id", "host", "http_status", "target_uri",
            "location", "body", "n_blocks",
            "n_kept", "boiler_chars", "n_words", "alpha_milli", "kept")
          .orderBy("media_id", "http_status", "target_uri"),
      Some(webPipelineMainSql)),

    // The same pipeline output SERVED from the streamed WebSink table
    // instead of computed from archive bytes in-plan — cleaned corpus
    // text out of a bucketed serving table, identical rows under the
    // SAME oracle (streamed bytes and batch bytes share one code path).
    ("web_pipeline_materialized",
      (s: SparkSession, d: String) =>
        graft.sinks.WebSink.materialized(s, d)
          .select("media_id", "host", "http_status", "target_uri",
            "location", "body", "n_words",
            "alpha_milli", "kept")
          .orderBy("media_id", "http_status", "target_uri"),
      Some(webPipelineSql)),

    // The crawl-politeness gate: every document's URL path evaluated
    // for agent "GraftBot/1.7 (+https://graft.invalid/bot)" against its
    // domain's PARSED robots.txt — full RFC 9309 matching since r16:
    // `*`/`$` wildcards in path rules with longest-PATTERN precedence,
    // case-insensitive product-token group selection (the mixed-case
    // "GraftBot" group on k%5==0 wins exclusively), allow on ties,
    // default-allow. The parse is real per-domain text parsing in the
    // codec seam; the oracle replays the decision table the synth
    // robots encode — k∈{0,5} named group (Disallow /docs/9 prefix);
    // k=1 star-disallowed with /docs/*7$ (9 octets) outweighing /docs/
    // (6) on ids ending in 7; k=3 the equal-length TIE (allow wins)
    // except ids ending in 9 where /docs/*9$ outweighs; k=4
    // wildcard-only; k=6 allow + /docs/*9$; k=2 no matching rule.
    ("web_robots_gate",
      (s: SparkSession, d: String) =>
        graft.ext.WebCodec.robotsGate(docs(s, d)).orderBy("media_id"),
      Some(s"""WITH d AS (SELECT doc_id, doc_id % 7 AS k,
           substr(doc_id::VARCHAR, 1, 1) = '9' AS sw9,
           doc_id % 10 = 7 AS e7, doc_id % 10 = 9 AS e9 FROM documents)
SELECT doc_id AS media_id,
  'example' || k::VARCHAR || '.com' AS domain,
  '/docs/' || doc_id::VARCHAR AS path,
  $robotsAllowedSql AS allowed,
  CASE WHEN k % 5 = 0 THEN (CASE WHEN sw9 THEN '/docs/9' ELSE '' END)
       WHEN k = 1 THEN (CASE WHEN e7 THEN '/docs/*7$$' ELSE '/docs/' END)
       WHEN k = 3 THEN (CASE WHEN e9 THEN '/docs/*9$$' ELSE '/docs/' END)
       WHEN k = 4 THEN (CASE WHEN e7 THEN '/docs/*7$$' ELSE '' END)
       WHEN k = 6 THEN (CASE WHEN e9 THEN '/docs/*9$$' ELSE '/docs/' END)
       ELSE '' END AS matched_rule,
  (CASE WHEN k % 5 = 0 THEN 2 ELSE k + 1 END)::BIGINT AS crawl_delay
FROM d ORDER BY media_id""")),

    // Wire-axis CENSUS (r17): how the corpus actually arrived — the
    // charset-resolution source (bom/header/meta/sniff), resolved
    // charset, content coding, and transfer framing of every 200
    // capture, counted. This is the crawl-health view that catches
    // mislabeling drift (a spike in 'sniff' means upstream servers
    // stopped declaring; a cp1252 surge under a utf-8 label means the
    // decoder assumptions rotted). Scan → 4-key rollup, no joins; the
    // oracle replays the axis decision tables.
    ("web_charset_mix",
      (s: SparkSession, d: String) => {
        import org.apache.spark.sql.functions._
        val W = graft.ext.WebCodec
        W.warcRecords(W.webWarc(docs(s, d)))
          .where(col("warc_type") === "response" &&
            col("http_status") === 200)
          .groupBy("charset_src", "charset", "content_encoding",
            "transfer", "content_type")
          .agg(count(lit(1)).as("n_docs"))
          .orderBy("charset_src", "charset", "content_encoding",
            "transfer", "content_type")
      },
      Some(s"""WITH a AS (SELECT
    $webCharsetSrcCase AS charset_src,
    $webCharsetResolvedCase AS charset,
    $webCeCase AS content_encoding,
    $webTransferCase AS transfer,
    $webMimeCase AS content_type
  -- dead URLs (r18) have no 200 capture → no census row
  FROM documents WHERE doc_id % 9 <> 7)
SELECT charset_src, charset, content_encoding, transfer, content_type,
       count(*)::BIGINT AS n_docs
FROM a GROUP BY 1, 2, 3, 4, 5
ORDER BY charset_src, charset, content_encoding, transfer,
         content_type""")),

    // Language MIX of the cleaned web corpus (r16): the n-gram-lexicon
    // lang-id (the text tier's existing scorer) run over the KEPT
    // main-content bodies, rolled up per registered domain — exactly
    // the signal a mixture-sampling stage consumes to balance
    // languages. Web tier feeding the analysis tier: one scan-shaped
    // pass (gate → score → argmax) into a tiny two-key rollup. The
    // oracle chains the shared main-content CTE with the lexicon
    // scoring CASE used by the lang_id oracles.
    ("web_lang_mix",
      (s: SparkSession, d: String) => {
        val W = graft.ext.WebCodec
        langMixOver(W.pipelineMain(W.webWarc(docs(s, d))))
      },
      Some(webLangMixSql)),

    // The same language mix SERVED from the streamed WebSink main table
    // (r17, VERDICT r16 item 5): the batch twin re-derives the whole
    // front door per query (~5 s at sf0.1, correct for oracle honesty);
    // serving reads the already-streamed main-content table — the
    // media_embedding_topk_served pattern — under the SAME oracle.
    ("web_lang_mix_served",
      (s: SparkSession, d: String) =>
        langMixOver(graft.sinks.WebSink.materializedMain(s, d)),
      Some(webLangMixSql)),

    // The language mix a mixture sampler ACTUALLY consumes (r18):
    // restricted to docs whose classification margin clears the
    // lang_id_margin cut — ambiguous pages are dropped, not
    // mislabeled into a language budget. Batch + served twins under
    // one oracle.
    ("web_lang_mix_confident",
      (s: SparkSession, d: String) => {
        val W = graft.ext.WebCodec
        langMixOver(W.pipelineMain(W.webWarc(docs(s, d))), minMargin = 3)
      },
      Some(webLangMixConfidentSql)),

    ("web_lang_mix_confident_served",
      (s: SparkSession, d: String) =>
        langMixOver(graft.sinks.WebSink.materializedMain(s, d),
          minMargin = 3),
      Some(webLangMixConfidentSql)),

    // Crawl SCHEDULING (r16): the politeness budget a fetcher plans
    // with — per domain, the SELECTED group's Crawl-delay (the named
    // GraftBot group's own rate on k%5==0 domains, the star group's
    // k+1 elsewhere), the admitted URL count, and the serial crawl
    // time their product implies. The per-domain rate × admitted-count
    // product is exactly how a frontier scheduler sizes its politeness
    // queues.
    ("web_crawl_schedule",
      (s: SparkSession, d: String) => {
        import org.apache.spark.sql.functions._
        graft.ext.WebCodec.robotsGate(docs(s, d))
          .groupBy("domain")
          .agg(max(col("crawl_delay")).as("crawl_delay"),
            count(lit(1)).as("n_urls"),
            sum(col("allowed").cast("long")).cast("long").as("n_allowed"))
          .withColumn("est_crawl_seconds",
            (col("crawl_delay") * col("n_allowed")).cast("long"))
          .orderBy("domain")
      },
      Some(s"""WITH d AS (SELECT doc_id, doc_id % 7 AS k,
           substr(doc_id::VARCHAR, 1, 1) = '9' AS sw9,
           doc_id % 10 = 7 AS e7, doc_id % 10 = 9 AS e9 FROM documents),
a AS (SELECT k,
        $robotsAllowedSql AS allowed,
        CASE WHEN k % 5 = 0 THEN 2 ELSE k + 1 END AS delay
      FROM d)
SELECT 'example' || k::VARCHAR || '.com' AS domain,
       max(delay)::BIGINT AS crawl_delay,
       count(*)::BIGINT AS n_urls,
       sum(CASE WHEN allowed THEN 1 ELSE 0 END)::BIGINT AS n_allowed,
       (max(delay) * sum(CASE WHEN allowed THEN 1 ELSE 0 END))::BIGINT
         AS est_crawl_seconds
FROM a GROUP BY k ORDER BY domain""")),

    // lastmod-aware RECRAWL queue (r18, VERDICT r17 item 7): join the
    // sitemap's <lastmod> against the crawl's WARC-Date capture
    // instants — a page whose lastmod postdates its capture is STALE
    // and earns a recrawl slot. Keys are (registered domain, path) —
    // the revisit-dedup join shape; the per-domain politeness budget
    // (the selected group's Crawl-delay) then serializes the queue:
    // est_start_seconds = (position − 1) × delay, exactly how a
    // fetcher schedules its stale backlog. Dead URLs drop naturally
    // (no 200 capture to join); robots-disallowed pages never queue.
    ("web_recrawl_queue",
      (s: SparkSession, d: String) =>
        recrawlQueueOver(s, d, graft.ext.WebCodec.warcRecords(
          graft.ext.WebCodec.webWarc(docs(s, d)))),
      Some(webRecrawlQueueSql)),

    // Recrawl queue SERVED from the streamed fetch log (r18): the
    // capture-date side reads the slim fetch table's WARC-Date column
    // — no archive re-parse. Same oracle verbatim.
    ("web_recrawl_queue_served",
      (s: SparkSession, d: String) =>
        recrawlQueueOver(s, d, graft.sinks.WebSink.materializedFetch(s, d)),
      Some(webRecrawlQueueSql)),

    // REVISIT-aware crawl dedup (r16): crawl 2's unchanged docs ship
    // WARC revisit records (Common Crawl's crawl-time URL dedup signal)
    // pointing at the crawl-1 capture with a payload digest; changed
    // docs ship full responses. The query serves the UNIFIED corpus:
    // live bodies from crawl 2, reused bodies joined in from crawl 1 by
    // the referral URI (at scale this IS the dedup shape: one keyed
    // shuffle join on the referral key), with the digest verified
    // against the reused content. The oracle replays the axis + the
    // html codepoint checksums.
    ("web_revisit_dedup",
      (s: SparkSession, d: String) => {
        val W = graft.ext.WebCodec
        // fence (r19 optimization): crawl2 feeds the live side AND the
        // revisit side — one recrawl parse instead of two (guide §2.4)
        revisitDedupOver(
          W.recrawlRecords(W.webWarcRecrawl(docs(s, d))).localCheckpoint(false),
          W.warcRecords(W.webWarc(docs(s, d))))
      },
      Some(webRevisitDedupSql)),

    // WET — Common Crawl's extracted-text sidecar: the same WARC
    // container carrying WARC-Type: conversion records whose payload is
    // the page's extracted PLAIN TEXT (what text-only consumers read
    // instead of re-extracting from HTML). Same gzip variants; the
    // text is definitionally the extraction formula's output, so the
    // oracle replays the html build + the full extraction chain.
    // Conditional-recrawl exchange (r18): crawl 2 sends If-None-Match
    // with crawl 1's ETag; unchanged pages answer `304 Not Modified`
    // restating the validator (the wire behind Common Crawl's revisit
    // records — the revisit payload IS the 304 message now). The query
    // verifies each 304's ETag against the crawl-1 capture's content
    // checksum (one keyed join — the revisit-dedup shape), beside the
    // full-response and dead-again outcomes. The oracle replays the
    // axis decision table + the validator formula.
    ("web_recrawl_304",
      (s: SparkSession, d: String) => {
        val W = graft.ext.WebCodec
        recrawl304Over(W.recrawlRecords(W.webWarcRecrawl(docs(s, d))),
          W.warcRecords(W.webWarc(docs(s, d))))
      },
      Some(webRecrawl304Sql)),

    // The conditional-recrawl audit SERVED from the two streamed fetch
    // logs (r18): crawl 2's revisit/response rows joined against crawl
    // 1's 200 content identities — zero archive parses (the batch twin
    // re-parses BOTH crawls; SCALE_PROBE §2f measured it ×7.2 at 10×
    // data). Same oracle verbatim.
    ("web_recrawl_304_served",
      (s: SparkSession, d: String) =>
        recrawl304Over(graft.sinks.WebSink.materializedRecrawl(s, d),
          graft.sinks.WebSink.materializedFetch(s, d)),
      Some(webRecrawl304Sql)),

    // Revisit dedup SERVED from the two fetch logs (r18): reused
    // bodies' content identity joins in from crawl 1's log by the
    // referral URI — the same keyed-shuffle shape, no archive parses.
    // Same oracle verbatim.
    ("web_revisit_dedup_served",
      (s: SparkSession, d: String) =>
        revisitDedupOver(graft.sinks.WebSink.materializedRecrawl(s, d),
          graft.sinks.WebSink.materializedFetch(s, d)),
      Some(webRevisitDedupSql)),

    ("web_wet_text",
      (s: SparkSession, d: String) =>
        graft.ext.WebCodec.wetTexts(
          graft.ext.WebCodec.webWet(docs(s, d)))
          .orderBy("media_id"),
      Some(s"""WITH h AS (SELECT doc_id, lang, source,
           CASE WHEN $webMimeWhere THEN text
                ELSE ${webTruncHtml(webHtmlExpr)} END AS html
           -- no WET conversion record exists for a dead URL (r18);
           -- a truncated capture converts only its received prefix;
           -- a text/plain capture converts as a whitespace collapse
           FROM documents WHERE doc_id % 9 <> 7),
x AS (SELECT doc_id, lang, source,
      CASE WHEN $webMimeWhere THEN trim(regexp_replace(html, '\\s+', ' ', 'g'))
           ELSE ${webExtractSql("html")} END AS body FROM h)
SELECT doc_id AS media_id, $webUrlExpr AS target_uri, body AS text,
       length(body)::BIGINT AS n_chars
FROM x ORDER BY media_id""")),

    // Sliding-window chunking — the RAG/embedding-index preprocessing
    // step (64-word windows, stride 48, 16-word overlap): per-doc LOCAL
    // work (explode over window starts, array slice, join), zero
    // cross-row traffic before the final sort — the shape that chunks
    // 100 TB by streaming partitions. Both engines slice and join the
    // same token arrays; the chunk TEXT itself is in the output.
    ("text_chunks_sliding",
      (s: SparkSession, d: String) => {
        import org.apache.spark.sql.functions._
        val toks = split(trim(col("text")), "\\s+")
        docs(s, d)
          .select(col("doc_id").as("media_id"), toks.as("toks"))
          .withColumn("n", size(col("toks")))
          .where(col("n") > 0)
          .select(col("media_id"), col("toks"),
            explode(sequence(lit(0), ((col("n") - 1) / 48).cast("int")))
              .as("chunk_index"))
          .select(col("media_id"), col("chunk_index"),
            (col("chunk_index") * 48).cast("long").as("start_word"),
            slice(col("toks"), col("chunk_index") * 48 + 1, lit(64))
              .as("chunk"))
          .select(col("media_id"), col("chunk_index"), col("start_word"),
            size(col("chunk")).cast("long").as("n_words"),
            array_join(col("chunk"), " ").as("chunk_text"))
          .orderBy("media_id", "chunk_index")
      },
      Some("""WITH t AS (SELECT doc_id,
           string_split_regex(trim(text), '\s+') AS toks FROM documents),
n AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
c AS (SELECT doc_id, toks, u.i::INT AS chunk_index
      FROM n, unnest(range(0, (n - 1) // 48 + 1)) AS u(i)),
s AS (SELECT doc_id, chunk_index,
             list_slice(toks, chunk_index * 48 + 1,
                        chunk_index * 48 + 64) AS chunk
      FROM c)
SELECT doc_id AS media_id, chunk_index,
       (chunk_index * 48)::BIGINT AS start_word,
       len(chunk)::BIGINT AS n_words,
       array_to_string(chunk, ' ') AS chunk_text
FROM s ORDER BY media_id, chunk_index""")),

    // JSONL — the corpus interchange format LLM pipelines actually
    // exchange: serialize each document with the NATIVE to_json
    // (codegen'd, no UDF), parse it back with from_json, and emit the
    // round-tripped fields beside the raw line. The oracle rebuilds
    // the exact line (to_json emits no whitespace; the ASCII corpus
    // needs no escaping) and reads its own fields back.
    ("corpus_jsonl_roundtrip",
      (s: SparkSession, d: String) => {
        import org.apache.spark.sql.functions._
        val line = to_json(struct(col("doc_id"), col("lang"),
          col("source"), col("text")))
        val schema = org.apache.spark.sql.types.StructType.fromDDL(
          "doc_id BIGINT, lang STRING, source STRING, text STRING")
        docs(s, d)
          .select(col("doc_id").as("media_id"), col("text").as("orig"),
            line.as("line"))
          .withColumn("p", from_json(col("line"), schema))
          .select(col("media_id"), col("line"),
            length(col("line")).cast("long").as("n_line_chars"),
            col("p.lang").as("lang"), col("p.source").as("source"),
            (col("p.text") === col("orig")).as("ok"))
          .orderBy("media_id")
      },
      Some("""WITH j AS (SELECT doc_id, lang, source,
  -- replay to_json's escaping of backslash-then-quote (ADVICE r15:
  -- ASCII includes both; raw concatenation would silently diverge on
  -- any fixture text containing them)
  '{"doc_id":' || doc_id::VARCHAR || ',"lang":"' || lang
    || '","source":"' || source || '","text":"'
    || replace(replace(text, '\', '\\'), '"', '\"') || '"}' AS line
  FROM documents)
SELECT doc_id AS media_id, line,
       length(line)::BIGINT AS n_line_chars,
       lang, source, TRUE AS ok
FROM j ORDER BY media_id""")),

    // Sitemap.xml — crawl URL discovery: each domain's sitemap is BUILT
    // as real XML (per-domain aggregate of <url> entries, id-ordered),
    // then PARSED back with regexp_extract_all (loc + lastmod extracted
    // as parallel arrays, zipped, exploded) — build and parse both
    // pure-Column, one aggregate exchange + the final sort. The oracle
    // replays the per-doc formulas directly.
    ("web_sitemap_urls",
      (s: SparkSession, d: String) => {
        import org.apache.spark.sql.functions._
        val frag = concat(
          lit("<url><loc>https://www.example"), col("k").cast("string"),
          lit(".com/docs/"), col("doc_id").cast("string"),
          lit("</loc><lastmod>2026-0"), ((col("doc_id") % 9) + 1).cast("string"),
          lit("-01</lastmod></url>"))
        val xml = docs(s, d)
          .select(col("doc_id"), (col("doc_id") % 7).as("k"))
          .select(col("k"), col("doc_id"), frag.as("frag"))
          .groupBy("k")
          .agg(concat(lit("<?xml version=\"1.0\"?><urlset>"),
            array_join(transform(
              sort_array(collect_list(struct(col("doc_id"), col("frag")))),
              x => x.getField("frag")), ""),
            lit("</urlset>")).as("sitemap"))
        xml.select(col("k"),
            regexp_extract_all(col("sitemap"),
              lit("<loc>([^<]*)</loc>"), lit(1)).as("locs"),
            regexp_extract_all(col("sitemap"),
              lit("<lastmod>([^<]*)</lastmod>"), lit(1)).as("mods"))
          .select(col("k"), explode(arrays_zip(col("locs"), col("mods")))
            .as("u"))
          .select(concat(lit("example"), col("k").cast("string"),
              lit(".com")).as("domain"),
            col("u.locs").as("url"), col("u.mods").as("lastmod"))
          .orderBy("url")
      },
      Some("""SELECT 'example' || (doc_id % 7)::VARCHAR || '.com' AS domain,
       'https://www.example' || (doc_id % 7)::VARCHAR || '.com/docs/'
         || doc_id::VARCHAR AS url,
       '2026-0' || ((doc_id % 9) + 1)::VARCHAR || '-01' AS lastmod
FROM documents ORDER BY url""")),

    // The crawl FRONTIER (r16): two-level sitemap discovery — plain
    // <sitemapindex> per domain naming two GZIPPED <urlset> parts
    // (stored + deflater, both real inflate paths) — resolved via a
    // broadcast join against the tiny sitemap table, urlsets parsed in
    // the codec seam, then CHAINED into the RFC 9309 robots gate per
    // URL: exactly what a fetcher enqueues. The oracle replays the
    // per-doc url/lastmod/part formulas plus the robots decision table
    // (same table as web_robots_gate).
    // The frontier with DEAD-URL exclusion (r18, VERDICT r17 item 2's
    // frontier leg): URLs whose previous crawl answered 404/410 must
    // stop being re-enqueued. The dead set derives from the crawl's
    // error captures (keyed by registered domain + path — the sitemap
    // spells hosts without the source label, so full-URL equality
    // would never match), left-joined onto the discovered frontier;
    // enqueue = robots-allowed AND not dead. At scale: the dead side
    // is a fraction of the corpus and joins keyed, never cartesian.
    ("web_frontier_dead",
      (s: SparkSession, d: String) =>
        frontierDeadOver(s, d, graft.ext.WebCodec.warcRecords(
          graft.ext.WebCodec.webWarc(docs(s, d)))),
      Some(webFrontierDeadSql)),

    // Dead-URL frontier SERVED from the streamed fetch log (r18): the
    // dead side reads the slim fetch table — no archive re-parse; the
    // frontier side stays the (tiny, broadcast) sitemap discovery.
    // Same oracle verbatim.
    ("web_frontier_dead_served",
      (s: SparkSession, d: String) =>
        frontierDeadOver(s, d, graft.sinks.WebSink.materializedFetch(s, d)),
      Some(webFrontierDeadSql)),

    ("web_crawl_frontier",
      (s: SparkSession, d: String) =>
        graft.ext.WebCodec.crawlFrontier(docs(s, d)).orderBy("media_id"),
      Some(s"""WITH d AS (SELECT doc_id, doc_id % 7 AS k,
           (doc_id // 7) % 2 AS part,
           substr(doc_id::VARCHAR, 1, 1) = '9' AS sw9,
           doc_id % 10 = 7 AS e7, doc_id % 10 = 9 AS e9 FROM documents)
SELECT doc_id AS media_id,
  'example' || k::VARCHAR || '.com' AS domain,
  'https://www.example' || k::VARCHAR || '.com/sitemap-index.xml'
    AS robots_sitemap,
  'https://www.example' || k::VARCHAR || '.com/sitemap-' || part::VARCHAR
    || '.xml.gz' AS sitemap_url,
  'https://www.example' || k::VARCHAR || '.com/docs/' || doc_id::VARCHAR
    AS url,
  '2026-0' || ((doc_id % 9) + 1)::VARCHAR || '-01' AS lastmod,
  $robotsAllowedSql AS allowed,
  CASE WHEN k % 5 = 0 THEN (CASE WHEN sw9 THEN '/docs/9' ELSE '' END)
       WHEN k = 1 THEN (CASE WHEN e7 THEN '/docs/*7$$' ELSE '/docs/' END)
       WHEN k = 3 THEN (CASE WHEN e9 THEN '/docs/*9$$' ELSE '/docs/' END)
       WHEN k = 4 THEN (CASE WHEN e7 THEN '/docs/*7$$' ELSE '' END)
       WHEN k = 6 THEN (CASE WHEN e9 THEN '/docs/*9$$' ELSE '/docs/' END)
       ELSE '' END AS matched_rule
FROM d ORDER BY media_id""")),

    // In-page OUTLINK extraction (r19, VERDICT r18 "what's missing" 1):
    // real crawls discover most URLs from <a href>, not sitemaps. Every
    // synth page plants a relative link (resolved against <base href>,
    // whose /rel/ dir differs from the page's /docs/ — base-honoring is
    // load-bearing), a unicode-IDN cross-domain link (folded RFC 3490),
    // a messy self link (case/port/tracking-param/fragment — collapses
    // onto the fetched canonical: dedup must drop it), and a COMMENTED-
    // OUT /ghost/ anchor that must never surface. Extraction/resolve/
    // canonicalize are pure Column; IDN fold + robots verdict run in
    // narrow seams. One row per (page, link_index), flagged against the
    // canonicalized set of every capture's target.
    ("web_frontier_links",
      (s: SparkSession, d: String) => {
        import org.apache.spark.sql.functions._
        val W = graft.ext.WebCodec
        // ONE front-door pass (r19 optimization, guide §2.4): `resp`
        // feeds both the page side and the fetched-canonical side —
        // un-fenced, the whole synth+parse codec chain ran TWICE (two
        // parquet scans, two buildWarcFile/parseWarc walks), and the
        // canonical chain was inlined into both the dedup key and a
        // pushed null filter. The fence materializes the decoded
        // responses WITH their canonical once; both consumers read
        // slots. Values unchanged (oracle re-verified).
        val resp = W.warcResponses(W.webWarc(docs(s, d)))
          .withColumn("fetched_canonical", W.stripTrackingParamsCol(
            W.urlCanonicalCol(col("target_uri"))))
          .localCheckpoint(false)
        val pages = resp.where(col("http_status") === 200 &&
          col("content_type") === "text/html")
        val fetched = resp.select(col("fetched_canonical").as("canonical"))
          .distinct().withColumn("already_fetched", lit(true))
        W.outlinkFrontierRows(pages)
          .join(fetched, Seq("canonical"), "left")
          .na.fill(value = false, Seq("already_fetched"))
          .select(col("media_id"), col("link_index"), col("href"),
            col("canonical"), col("domain"), col("already_fetched"),
            col("allowed"), col("matched_rule"))
          .orderBy("media_id", "link_index")
      },
      Some(webFrontierLinksSql)),

    // The COMPLETE discovery frontier (r19): sitemap-declared URLs ∪
    // link-discovered candidates, the link side deduped against every
    // fetched canonical (keyed LEFT ANTI — both sides corpus-scale,
    // shuffles on the canonical key, never broadcasts) and aggregated
    // per canonical with the linking-page count real frontiers
    // prioritize by. The robots gate covers BOTH discovery modes.
    ("web_frontier_all",
      (s: SparkSession, d: String) =>
        graft.ext.WebCodec.crawlFrontierAll(docs(s, d)).orderBy("url"),
      Some(webFrontierAllSql)),

    // The tiers COMPOSED end-to-end — the actual pre-training data run
    // in one query: WARC bytes → gzip members → HTTP → HTML extraction
    // → quality gates → kept docs only → sliding-window chunks. Codec
    // work in the mapPartitions seam, everything after pure-Column,
    // still scan-shaped (the gates and chunker are per-row). The oracle
    // chains the pipeline CTEs with the chunk slicing.
    ("web_chunks_e2e",
      (s: SparkSession, d: String) => {
        import org.apache.spark.sql.functions._
        val W = graft.ext.WebCodec
        // Fence BEFORE the kept-filter (r19 optimization): pushing the
        // kept predicate below the projection inlined the whole
        // extraction chain into the filter AND the chunker's split —
        // the plan carried ~3.6× the single-pass regexp_replace count.
        // Materialize (media_id, body, kept) in one pass, filter and
        // chunk over slots. Values unchanged (oracle re-verified).
        val cleaned = W.pipeline(W.webWarc(docs(s, d)))
          .select(col("media_id"), col("body"), col("kept"))
          .localCheckpoint(false)
          .where(col("kept"))
        cleaned
          .select(col("media_id"), split(col("body"), "\\s+").as("toks"))
          .withColumn("n", size(col("toks")))
          .where(col("n") > 0)
          .select(col("media_id"), col("toks"),
            explode(sequence(lit(0), ((col("n") - 1) / 48).cast("int")))
              .as("chunk_index"))
          .select(col("media_id"), col("chunk_index"),
            slice(col("toks"), col("chunk_index") * 48 + 1, lit(64))
              .as("chunk"))
          .select(col("media_id"), col("chunk_index"),
            size(col("chunk")).cast("long").as("n_words"),
            array_join(col("chunk"), " ").as("chunk_text"))
          .orderBy("media_id", "chunk_index")
      },
      Some(s"""WITH h AS (SELECT doc_id, lang, source,
           CASE WHEN $webMimeWhere THEN text
                ELSE ${webTruncHtml(webHtmlExpr)} END AS html
           -- dead URLs (r18) never reach the corpus: no 200 capture
           FROM documents WHERE doc_id % 9 <> 7),
x AS (SELECT doc_id, CASE WHEN $webMimeWhere THEN trim(regexp_replace(html, '\\s+', ' ', 'g'))
           ELSE ${webExtractSql("html")} END AS body FROM h),
g AS (SELECT doc_id, body,
        len(string_split_regex(body, '\\s+'))::BIGINT AS n_words,
        (1000 * length(regexp_replace(body, '[^a-zA-Z ]', '', 'g')))
          // length(body) AS alpha_milli
      FROM x),
k AS (SELECT doc_id, string_split_regex(body, '\\s+') AS toks
      FROM g WHERE n_words >= 40 AND alpha_milli >= 900),
n AS (SELECT doc_id, toks, len(toks) AS n FROM k WHERE len(toks) > 0),
c AS (SELECT doc_id, toks, u.i::INT AS chunk_index
      FROM n, unnest(range(0, (n - 1) // 48 + 1)) AS u(i)),
sl AS (SELECT doc_id, chunk_index,
              list_slice(toks, chunk_index * 48 + 1,
                         chunk_index * 48 + 64) AS chunk
       FROM c)
SELECT doc_id AS media_id, chunk_index,
       len(chunk)::BIGINT AS n_words,
       array_to_string(chunk, ' ') AS chunk_text
FROM sl ORDER BY media_id, chunk_index""")),

    // ------------------------------------------------- archive containers
    // The other way corpora ship: document bundles. TAR = ustar 512-byte
    // block arithmetic (octal fields, blanked-checksum header sum, two
    // zero-block terminator); ZIP = EOCD → central directory → local
    // headers, STORED + DEFLATE entries CRC32-verified, central/local
    // agreement enforced. Same per-entry output shape through two
    // completely different byte paths, one shared oracle formula.
    ("archive_tar_entries",
      (s: SparkSession, d: String) =>
        graft.ext.ArchiveCodec.tarEntries(
          graft.ext.ArchiveCodec.docTars(docs(s, d)))
          .orderBy("media_id", "entry_index"),
      Some(archiveEntriesSql)),

    // The ZIP twin rides the SAME oracle: entry names, sizes, and byte
    // checksums must come out identical whether the bytes traveled
    // through ustar block padding or a CRC-gated DEFLATE stream (the
    // text entry is DEFLATEd for odd ids, STORED for even; the json
    // entry the reverse — both verify paths exercised on every row).
    ("archive_zip_entries",
      (s: SparkSession, d: String) =>
        graft.ext.ArchiveCodec.zipEntries(
          graft.ext.ArchiveCodec.docZips(docs(s, d)))
          .orderBy("media_id", "entry_index"),
      Some(archiveEntriesSql)),

    // Round-trip fidelity stated as bluntly as possible: the document
    // TEXT itself, recovered through zip→inflate→string, compared
    // verbatim (plus the tokenization the downstream gates run on).
    ("archive_zip_text",
      (s: SparkSession, d: String) => {
        import org.apache.spark.sql.functions._
        graft.ext.ArchiveCodec.zipTexts(
          graft.ext.ArchiveCodec.docZips(docs(s, d)))
          .select(col("media_id"), col("name"), col("text"),
            size(split(col("text"), "\\s+")).cast("long").as("n_words"))
          .orderBy("media_id")
      },
      Some("""SELECT doc_id AS media_id,
       'docs/' || doc_id::VARCHAR || '.txt' AS name, text,
       len(string_split_regex(text, '\s+'))::BIGINT AS n_words
FROM documents ORDER BY media_id"""))
  )

  val queries: Map[String, Q] =
    defs.map { case (n, q, _) => n -> q }.toMap

  /** The similarity tier's oracles (everything probing `embeddings`) ship
    * in StagedOracle's temp-table form: the deep CTE chains kept OOM-ing
    * the driver's memory-constrained DuckDB (VERDICT r9 item 1 — 8 err
    * rows, all engine-correct on adjudication). Staging bounds peak RAM
    * to one stage and lets the rest spill; values are bit-identical (the
    * family's sums are order-free by design).
    *
    * The rewrite is guarded (ADVICE r10): `oracleSql` is a val on an
    * object, so an unhandled parse error here would surface as an
    * ExceptionInInitializerError that kills EVERY query, not just the
    * offending oracle. A stage-rewrite failure now falls back to the
    * inline form with a stderr warning — worst case that one oracle
    * risks the driver-host OOM it had before staging existed.
    */
  val oracleSql: Map[String, String] =
    defs.collect { case (n, _, Some(sql)) =>
      n -> (if (sql.contains("embeddings")) {
        try StagedOracle.rewrite(sql)
        catch {
          case e: Throwable =>
            System.err.println(
              s"[oracle] staged rewrite of '$n' failed (${e.getMessage}); " +
                "shipping the inline form")
            sql
        }
      } else sql)
    }.toMap
}
