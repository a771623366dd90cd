package graft.queries

import graft.{QueryDef, Tables}
import graft.functions.{TextFunctions, VectorFunctions, VectorNative}
import graft.operators.{Bpe, Components, Corpus, Dedup, Ivf, Lm, Rank, Similarity}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** LLM-training-data-pipeline extension queries (SURVEY.md §7.1(10)) over the
  * `documents` / `embeddings` testdata: dedup (exact, MinHash-LSH, SimHash,
  * n-gram Jaccard), similarity search (brute-force + LSH), and text analysis
  * (language-ID, quality, token counting, fingerprinting).
  *
  * Queries whose semantics are ANSI-expressible carry DuckDB oracles; the
  * hash-based ones (xxhash64 has no DuckDB equivalent) are declared without
  * an oracle → the driver records a rows-only check.
  */
object ExtQueries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")

  /** Property-oracle scaffold for the approximate operators: appends a
    * constant `recall_ok` column to `truth` — TRUE iff `found` covers ≥
    * `gate` of truth's rows on `keys`. The truth rows are exact and
    * ANSI-recomputable, so DuckDB re-derives them and expects a literal TRUE
    * flag; a broken hash family / bucket join / centroid assignment craters
    * recall toward 0 and flips the flag → driver hash mismatch. The marked
    * truth is aggregated to ONE (hits, total) row with a plain partial-
    * aggregable agg, then cross-joined back — a broadcast of one row — so
    * the truth relation is never funneled through a single-partition window
    * sort (q_sim_neardup's truth side is 12.5M rows at sf0.1; a one-task
    * window there pays a pointless full-relation shuffle+sort to compute
    * two scalars).
    *
    * DELIBERATE trade: the marked subtree is referenced twice (agg leg +
    * result leg), so the post-shuffle part of the truth join executes
    * twice per run. That stays fully parallel and memory-flat, where the
    * single-partition window funneled the whole relation through ONE task
    * (an OOM cliff as the truth relation grows). A checkpoint would dedupe
    * the work but hide the operator's plan from the PlanHash tripwire
    * behind an opaque RDD scan. Bench's `_operator` sub-timings keep the
    * harness cost out of operator trends.
    *
    * `boundedTruth = true` flips the trade for the TOP-K queries, whose
    * truth relation is k rows by construction: there the one-partition
    * window over k rows is free while re-executing the truth's brute-force
    * scan twice is all cost — so bounded truths keep the window form. The
    * flag itself is identical either way.
    */
  private def withRecallFlag(truth: DataFrame, found: DataFrame,
      keys: Seq[String], gate: Double,
      boundedTruth: Boolean = false): DataFrame = {
    // Explicit key-keyed exchange over the TRUTH relation: the unbounded
    // arm executes the truth side twice (flag aggregate + result leg), and
    // a truth whose plan ends without an exchange (the crossJoin-cosine
    // certification — a BroadcastNestedLoop join is not a reuse point)
    // would re-run its entire all-pairs computation per consumer. One
    // repartition of the truth PAIRS (orders of magnitude smaller than the
    // work that produces them, and slice-bounded at any SF) becomes the
    // shared materialization both subtrees consume via AQE stage reuse.
    // Applied in the unbounded arm only — the bounded arm's truth is k rows
    // by construction.
    val truthM =
      if (boundedTruth) truth else truth.repartition(keys.map(col): _*)
    val marked = truthM.join(
      found.select(keys.map(col): _*).distinct().withColumn("__hit", lit(1)),
      keys, "left")
    if (boundedTruth) {
      val w = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      marked
        .withColumn("recall_ok",
          sum(coalesce(col("__hit"), lit(0))).over(w) >=
            count(lit(1)).over(w) * gate)
        .drop("__hit")
    } else {
      val flag = marked.agg(
        (sum(coalesce(col("__hit"), lit(0))) >= count(lit(1)) * gate)
          .as("recall_ok"))
      marked.crossJoin(broadcast(flag)).drop("__hit")
    }
  }

  /** A recall-certified query: `build` returns the exact truth and the
    * approximate operator's answer from ONE load of its inputs. The
    * declared rows are the truth plus [[withRecallFlag]]'s constant
    * `recall_ok`; the oracle re-derives the truth from `truthSql` and
    * expects a literal TRUE flag.
    */
  private def certified(name: String, truthSql: String, keys: Seq[String],
      gate: Double, boundedTruth: Boolean = false)(
      build: (SparkSession, String) => (DataFrame, DataFrame)): QueryDef =
    QueryDef(name, Some(s"SELECT *, true AS recall_ok FROM ($truthSql)"),
      (s, dir) => {
        val (truth, found) = build(s, dir)
        withRecallFlag(truth, found, keys, gate, boundedTruth)
      })

  // Single-source rule: an oracle fragment that two queries share is
  // declared ONCE below and interpolated, so a fix lands in every consumer
  // at once instead of surfacing later as a hash mismatch. A fragment that
  // carries a regex backslash is a plain `"""` literal: the literal kind
  // decides whether `\s` reaches DuckDB as written.

  /** Snap to 1e-6 — how both engines round a float whose summation order
    * differs between them.
    */
  private def snap6(x: Column): Column =
    floor(x * lit(1000000) + lit(0.5)) / lit(1000000)

  /** Whitespace tokens of `text` with empty strings dropped — DuckDB's
    * spelling of [[TextFunctions.tokens]] (`regexp_split_to_array(lower,
    * '\s+')` ≡ Spark `split`).
    */
  private val wsTokensSql: String =
    """list_filter(regexp_split_to_array(lower(text), '\s+'), x -> len(x) > 0)"""

  /** The `(doc_id, t)` token relation of `documents` over [[wsTokensSql]]. */
  private val docTokensSql: String =
    s"(SELECT doc_id,\n          $wsTokensSql AS t\n        FROM documents)"

  /** The `n`-token shingles of a token list `t`, per-doc distinct when
    * `distinct`: `range(1, len-(n-2))` ≡ `sequence(1, size-(n-1))` (range
    * is end-exclusive) and `t[i:i+n-1]` is DuckDB's 1-based inclusive slice
    * ≡ `slice(toks, i, n)`.
    */
  private def shinglesSql(n: Int, distinct: Boolean): String = {
    val sh =
      s"""CASE WHEN len(t) >= $n
         |         THEN list_transform(range(1, len(t) - ${n - 2}), i -> array_to_string(t[i:i+${n - 1}], ' '))
         |         ELSE [] END""".stripMargin
    if (distinct) s"list_distinct(\n    $sh)" else sh
  }

  /** Each document's distinct 3-gram shingle set `sh(doc_id, shs)` and its
    * exploded form `ex(doc_id, n, shingle)` — the base of
    * [[jaccardPairsCte]] and q_ngram_novelty.
    */
  private val shingleSetsCte: String =
    s"""sh AS (
       |  SELECT doc_id, ${shinglesSql(3, distinct = true)} AS shs
       |  FROM $docTokensSql
       |), ex AS (
       |  SELECT doc_id, len(shs) AS n, unnest(shs) AS shingle FROM sh
       |)""".stripMargin

  /** `sh(doc_id, spans)`: each document's 8-token spans over `from`'s
    * token list `t`, per-doc distinct when `distinct` — the span unit of
    * q_dedup_spans, q_dedup_passages, q_scrub_spans and q_dedup_runs.
    */
  private def spansCte(distinct: Boolean, from: String = docTokensSql): String =
    s"""sh AS (
       |  SELECT doc_id, ${shinglesSql(8, distinct)} AS spans
       |  FROM $from
       |)""".stripMargin

  /** [[spansCte]] made positional: `ex(doc_id, pos, span)` (DuckDB's
    * zipped generate_subscripts+unnest ≡ Spark posexplode) and each span's
    * document frequency `df(span, df)` — q_scrub_spans and q_dedup_runs.
    */
  private def positionalSpansCte(from: String = docTokensSql): String =
    s"""${spansCte(distinct = false, from)}, ex AS (
       |  SELECT doc_id, generate_subscripts(spans, 1) AS pos, unnest(spans) AS span FROM sh
       |), df AS (
       |  SELECT span, count(DISTINCT doc_id) AS df FROM ex GROUP BY 1
       |)""".stripMargin

  /** Above this BASE-corpus doc count the packing family (q_pack_sequences /
    * q_pack_materialize / q_prep_e2e) and the replay-bound scalar family
    * (q_fingerprint_winnow / q_dedup_winnow / q_bpe_fallback /
    * q_scrub_spans) certify on a deterministic doc slice instead of the
    * full corpus — the [[certTruthSlice]] convention applied to the query
    * families whose ORACLE replay cost is unbounded in corpus size (the
    * recursive first-fit replays one row per group per step; the winnow
    * hash-chain and byte-fallback regex replays cost ∝ corpus bytes × chain
    * length). sf0.01 (500 docs) and sf0.1 (5000 docs) sit at or under the
    * threshold, so every tested-SF hash and bench median is byte-unchanged;
    * the Spark operators stay full-corpus — they scale fine (map-only /
    * one exchange), only the cross-engine certification needs the bound.
    * (Declared before the guard strings below — same-object vals
    * initialize in declaration order.)
    */
  private val maxFullPackDocs = 5000L

  /** Replay-bound-oracle guard, shared CTE head (the packTruthSlice
    * convention generalized): the winnow/byte-fallback replays are per-doc
    * map work in Spark but cost the SQL oracle ∝ corpus bytes × chain
    * length. Above [[maxFullPackDocs]] BASE docs both engines certify the
    * `doc_id % ceil(n/5000)` slice — winnow pair mass is id-UNIFORM (pair
    * distances spread over the whole id range, no adjacency structure like
    * the media noise groups), so the modulus slice keeps ~thousands of
    * designed pairs at any scale instead of degenerating (WinnowSliceSpec
    * proves nonzero pairs + bit-exact replay over threshold).
    */
  private[queries] val docReplayGuardSql: String =
    s"""WHERE (SELECT count(*) FROM documents) <= $maxFullPackDocs
       |     OR doc_id % (SELECT CAST(ceil(count(*) / ${maxFullPackDocs}e0) AS BIGINT)
       |                  FROM documents) = 0""".stripMargin

  /** DuckDB replica of [[graft.functions.expr.Winnow]] (k=8, w=4) as a CTE
    * chain ending in `fps(doc_id, fp)` — an INDEPENDENT re-derivation of the
    * native expression, exact to the bit:
    *   - the Rabin-Karp base-257 rolling hash with Long WRAPAROUND is
    *     re-expressed as the direct degree-7 polynomial per position in
    *     HUGEINT, reduced mod 2^64, then shifted back to signed BIGINT
    *     (max polynomial value ≈ 2^64.05, far inside HUGEINT);
    *   - byte values are `ord(char)` — valid because the corpus is ASCII
    *     (UTF-8 bytes ≡ code points; the driver's testdata generator emits
    *     ASCII only) and every doc is ≥ 48 chars so m > w always holds;
    *   - rightmost-window-min = w+1 − position of the min in the REVERSED
    *     window; consecutive duplicate selections collapse by position
    *     (the winnowing dedup rule).
    * Verified bit-identical on all 54,500 exploded fingerprints at sf0.01.
    */
  private val winnowFpsCte: String = {
    val poly =
      """( ord(s[i])::HUGEINT * 74051159531521793
        |            + ord(s[i+1])::HUGEINT * 288136807515649
        |            + ord(s[i+2])::HUGEINT * 1121154893057
        |            + ord(s[i+3])::HUGEINT * 4362470401
        |            + ord(s[i+4])::HUGEINT * 16974593
        |            + ord(s[i+5])::HUGEINT * 66049
        |            + ord(s[i+6])::HUGEINT * 257
        |            + ord(s[i+7])::HUGEINT
        |           ) % 18446744073709551616::HUGEINT""".stripMargin
    s"""WITH norm AS (
       |  SELECT doc_id, regexp_replace(lower(text), '\\s+', ' ', 'g') AS s FROM documents
       |  $docReplayGuardSql
       |), h AS (
       |  SELECT doc_id,
       |    list_transform(range(1, len(s) - 6), i ->
       |      CAST($poly - CASE WHEN $poly >= 9223372036854775808::HUGEINT
       |             THEN 18446744073709551616::HUGEINT ELSE 0::HUGEINT END
       |           AS BIGINT)) AS hs
       |  FROM norm
       |), sel AS (
       |  SELECT doc_id, hs,
       |    list_transform(range(1, len(hs) - 2), t ->
       |      t - 1 + 5 - list_position(list_reverse(hs[t:t+3]), list_min(hs[t:t+3]))
       |    ) AS sels
       |  FROM h
       |), kept AS (
       |  SELECT doc_id, hs,
       |    list_concat([sels[1]],
       |      list_transform(list_filter(range(2, len(sels)+1), t -> sels[t] != sels[t-1]),
       |                     t -> sels[t])) AS ks
       |  FROM sel
       |), fps AS (
       |  SELECT doc_id, list_transform(ks, j -> hs[j]) AS fp FROM kept
       |)""".stripMargin
  }

  /** One pair's exact Jaccard over a `pairs` row — bigint/bigint cast to
    * double is a single IEEE division, exact in both engines.
    */
  private val jaccardSql: String =
    "CAST(n_inter AS DOUBLE) / CAST(n_a + n_b - n_inter AS DOUBLE)"

  /** Shared DuckDB CTE chain ending in `pairs(doc_a, doc_b, n_a, n_b,
    * n_inter)` — the n-gram Jaccard candidate pairs (whitespace tokens →
    * 3-gram shingles → df∈[2,20] rare-shingle candidates → pair intersection
    * counts). HAVING count BETWEEN 2 AND 20 ≡ PairGen's count-first group
    * filter. Consumed by q_dedup_jaccard (pair list), the components family
    * (transitive closure over the same graph) and the graph reads.
    *
    * `pairs` is MATERIALIZED: DuckDB 1.0 inlines single-reference CTEs, so
    * a consumer referencing the graph several times (q_pagerank's deg/ed
    * legs, q_triangles' three-way edge join) would re-run the whole shingle
    * join per reference. Values are identical either way (it is an
    * execution hint), so every hash gate is unaffected.
    */
  private val jaccardPairsCte: String =
    s"""$shingleSetsCte, keep AS (
       |  SELECT shingle FROM ex GROUP BY 1 HAVING count(*) BETWEEN 2 AND 20
       |), pairs AS MATERIALIZED (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n AS n_a, b.n AS n_b,
       |         CAST(count(*) AS BIGINT) AS n_inter
       |  FROM ex a JOIN keep k ON a.shingle = k.shingle
       |            JOIN ex b ON b.shingle = a.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2, 3, 4
       |)""".stripMargin

  /** The ≥ 0.3 Jaccard pairs `(doc_a, doc_b, jaccard)` — q_dedup_jaccard's
    * rows less `n_inter`, and the truth of the minhash and simhash recall
    * gates; `and` narrows it (q_dedup_incremental's new-doc filter).
    */
  private def jaccardTruthSql(and: String = ""): String =
    s"""WITH $jaccardPairsCte
       |SELECT doc_a, doc_b, $jaccardSql AS jaccard
       |FROM pairs
       |WHERE $jaccardSql >= 0.3$and""".stripMargin

  /** Spark twin of [[jaccardTruthSql]]. */
  private def jaccardTruth(d: DataFrame): DataFrame =
    Dedup.jaccardPairs(d, "doc_id", "text")
      .select(col("doc_a"), col("doc_b"), col("jaccard"))

  /** Undirected edge relation `edges` → `und` over the `pairs` rows that
    * satisfy `pred` (callers prepend [[jaccardPairsCte]]).
    */
  private def edgesWhere(pred: String): String =
    s"""edges AS MATERIALIZED (
       |  SELECT doc_a AS a, doc_b AS b FROM pairs
       |  WHERE $pred
       |), und AS MATERIALIZED (
       |  SELECT a, b FROM edges UNION ALL SELECT b, a FROM edges
       |)""".stripMargin

  /** The ≥0.3-Jaccard edge relation — the shared base of [[componentsCte]]
    * and the graph reads (q_graph_degree, q_pagerank, q_triangles): the
    * threshold and the symmetrization live in one place.
    */
  private val edgesCte: String = edgesWhere(s"$jaccardSql >= 0.3")

  /** Connected components over `und` as min-reachable id:
    * `reach` → `comp(doc_id, component)`. Callers' WITH is RECURSIVE.
    */
  private val reachCompCte: String =
    """reach(n, m) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT u.b, r.m FROM reach r JOIN und u ON u.a = r.n
      |), comp AS (
      |  SELECT n AS doc_id, min(m) AS component FROM reach GROUP BY n
      |)""".stripMargin

  /** Components of the 0.3-Jaccard pair graph — shared by q_dedup_clusters /
    * q_dedup_canonical / q_dedup_weights / q_quality_vs_dup (callers prepend
    * `WITH RECURSIVE $jaccardPairsCte,`).
    */
  private val componentsCte: String = s"$edgesCte, $reachCompCte"

  /** The containment edge floor for the containment-aware cluster graph
    * (q_dedup_canonical_containment): 0.8 of the SMALLER doc's shingles
    * shared — near-total partial duplication, well above
    * [[Dedup.containmentPairs]]' 0.5 default so a casual quote doesn't
    * glue two clusters.
    */
  private val minContainEdge = 0.8

  /** [[componentsCte]]'s containment-aware twin: edges are ≥0.3 Jaccard OR
    * ≥[[minContainEdge]] containment (n_inter / min set size) over the SAME
    * `pairs` relation — one shingle pass serves both edge classes in both
    * engines (single-source rule with the Spark side's `where`).
    */
  private val componentsContainCte: String = {
    val contain = "CAST(n_inter AS DOUBLE) / CAST(least(n_a, n_b) AS DOUBLE)"
    s"${edgesWhere(s"$jaccardSql >= 0.3\n     OR $contain >= ${minContainEdge}e0")}, $reachCompCte"
  }

  /** DuckDB re-derivation of [[TextFunctions.qualityScore]] over a column
    * named `text` — interpolated into every quality-reading oracle, so a
    * blend/stopword fix lands in all of them at once.
    */
  private val qualityScoreSql: String =
    """CASE WHEN CAST(length(regexp_extract_all(lower(text), '[a-z0-9]+')) AS DOUBLE) > 0.0
      |         THEN CAST(length(regexp_extract_all(lower(text), '\b(the|and|is|of|to|a|in)\b')) AS DOUBLE)
      |              / CAST(length(regexp_extract_all(lower(text), '[a-z0-9]+')) AS DOUBLE)
      |         ELSE 0.0 END * 0.4
      |    + CASE WHEN CAST(length(text) AS DOUBLE) > 0.0
      |           THEN CAST(length(regexp_extract_all(lower(text), '[a-z]')) AS DOUBLE)
      |                / CAST(length(text) AS DOUBLE)
      |           ELSE 0.0 END * 0.4
      |    + CASE WHEN length(text) BETWEEN 20 AND 10000 THEN 0.2 ELSE 0.0 END""".stripMargin

  /** Keep the best document per component: the oracle of
    * q_dedup_canonical and q_dedup_canonical_containment over a `comp`
    * chain `compCte` — highest quality, then smallest doc_id, as `rep_id`.
    */
  private def canonicalOracle(compCte: String): String =
    s"""WITH RECURSIVE $jaccardPairsCte, $compCte, scored AS (
       |  SELECT doc_id,
       |  $qualityScoreSql
       |    AS quality
       |  FROM documents
       |), ranked AS (
       |  SELECT c.doc_id, c.component, s.quality,
       |    first_value(c.doc_id) OVER (
       |      PARTITION BY c.component ORDER BY s.quality DESC, c.doc_id) AS rep_id
       |  FROM comp c JOIN scored s ON c.doc_id = s.doc_id
       |)
       |SELECT doc_id, component, quality, rep_id,
       |       doc_id = rep_id AS keep
       |FROM ranked""".stripMargin

  /** Spark twin of [[canonicalOracle]]: components of `d` over `edges`,
    * then ONE window keyed on component (running first() under the default
    * UNBOUNDED PRECEDING..CURRENT ROW frame — the rank-1 row is visible to
    * every row, O(n) per partition, never the unboundedFollowing trap).
    */
  private def keepBest(d: DataFrame, edges: DataFrame): DataFrame = {
    val comp = Components.connectedComponents(d.select("doc_id"), "doc_id",
      edges, "doc_a", "doc_b")
    val scored = d.select(col("doc_id"),
      TextFunctions.qualityScore(col("text")).as("quality"))
    val w = Window.partitionBy(col("component"))
      .orderBy(col("quality").desc, col("doc_id"))
    comp.join(scored, "doc_id")
      .withColumn("rep_id", first(col("doc_id")).over(w))
      .select(col("doc_id"), col("component"), col("quality"),
        col("rep_id"), (col("doc_id") === col("rep_id")).as("keep"))
  }

  /** DuckDB replica of [[Dedup.portableSignatures]]' pipeline, ending in a
    * CTE `psig(doc_id, h0..h{nPerms-1})` — the shared base of
    * [[portableNearDropCte]] and q_minhash_calibration (single-source
    * rule: the base-hash parse and affine coefficients render once).
    */
  private def portableSigCte(shingleN: Int, nPerms: Int): String = {
    val p = graft.operators.Dedup.PortablePrime
    val sigExprs = (0 until nPerms).map { i =>
      val (a, b) = graft.operators.Dedup.portableCoef(i)
      s"min(($a*u + $b) % $p) AS h$i"
    }.mkString(",\n      ")
    s"""pt AS (
       |  SELECT doc_id,
       |    $wsTokensSql AS t
       |  FROM documents
       |), pex AS (
       |  SELECT doc_id, unnest(
       |    ${shinglesSql(shingleN, distinct = false)}) AS shingle
       |  FROM pt
       |), puh AS (
       |  SELECT doc_id,
       |    CAST(concat('0x', substr(md5(shingle), 1, 15)) AS BIGINT) % $p AS u
       |  FROM pex
       |), psig AS (
       |  SELECT doc_id,
       |      $sigExprs
       |  FROM puh GROUP BY doc_id
       |)""".stripMargin
  }

  /** DuckDB replica of the PORTABLE MinHash near-dup drop set
    * ([[Dedup.portableBandBuckets]] → capped band buckets → candidate pairs
    * → `n_bands >= minBands` → distinct larger ids), ending in a CTE
    * `pneardrop(doc_id)`. Exact to the bit by construction: the base hash is
    * the first 15 md5 hex digits mod 2^31−1 (positive 60-bit parse — DuckDB
    * `CAST('0x…' AS BIGINT)` ≡ Spark `conv(…,16,10)`), the permutations are
    * the SAME affine coefficients [[Dedup.portableCoef]] interpolates into
    * the Spark plan (products < 2^62, plain signed arithmetic in both
    * engines), band buckets are the comma-joined signature slice, and the
    * capping rule replays PairGen's count-first `BETWEEN 2 AND maxBucket`.
    */
  private def portableNearDropCte(shingleN: Int, nPerms: Int, nBands: Int,
      minBands: Int, maxBucket: Int): String = {
    val rowsPerBand = nPerms / nBands
    val bandSelects = (0 until nBands).map { b =>
      val hs = (b * rowsPerBand until (b + 1) * rowsPerBand)
        .map(i => s"h$i").mkString(", ")
      s"SELECT doc_id, $b AS band, concat_ws(',', $hs) AS bucket FROM psig"
    }.mkString("\n    UNION ALL ")
    s"""${portableSigCte(shingleN, nPerms)}, pbands AS (
       |    $bandSelects
       |), pkeepb AS (
       |  SELECT band, bucket FROM pbands
       |  GROUP BY 1, 2 HAVING count(*) BETWEEN 2 AND $maxBucket
       |), pmp AS (
       |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS n_bands
       |  FROM pbands x JOIN pkeepb k ON x.band = k.band AND x.bucket = k.bucket
       |       JOIN pbands y ON y.band = x.band AND y.bucket = x.bucket
       |                    AND x.doc_id < y.doc_id
       |  GROUP BY 1, 2
       |), pneardrop AS (
       |  SELECT DISTINCT doc_b AS doc_id FROM pmp WHERE n_bands >= $minBands
       |)""".stripMargin
  }

  /** Per-language marker-hit counts (shared by q_lang_id, q_lang_confusion,
    * q_corpus_funnel_exact and the cleaning funnel).
    */
  private val langHitsSql: String =
    """CAST(length(regexp_extract_all(lower(text), '\b(the|and|is|of|to)\b')) AS INT)   AS en_hits,
      |    CAST(length(regexp_extract_all(lower(text), '\b(el|la|de|que|los)\b')) AS INT)   AS es_hits,
      |    CAST(length(regexp_extract_all(lower(text), '\b(der|die|das|und|ist)\b')) AS INT) AS de_hits""".stripMargin

  /** Fixed-tie-order argmax over the [[langHitsSql]] columns. */
  private val langArgmaxSql: String =
    """CASE WHEN en_hits IS NULL THEN NULL
      |         WHEN en_hits >= es_hits AND en_hits >= de_hits THEN 'en'
      |         WHEN es_hits >= de_hits THEN 'es'
      |         ELSE 'de' END""".stripMargin

  /** DuckDB replica of [[Corpus.clean]]'s deterministic stages over
    * `documents`, ending in `reasons(doc_id, text, stage)` — the shared
    * spine of q_corpus_clean (aggregates stages) and q_prep_e2e (filters
    * `stage = 'kept'`). Expects [[portableNearDropCte]]'s `pneardrop` CTE
    * earlier in the same WITH chain. ONE definition so the funnel's gate
    * order / NULL handling cannot drift between its two consumers.
    */
  private def funnelReasonsCte(minQuality: Double, langsInSql: String): String =
    s"""fq AS (
       |  SELECT doc_id, text,
       |    $qualityScoreSql
       |      AS quality_score,
       |    $langHitsSql,
       |    md5(text) AS h
       |  FROM documents),
       |langed AS (
       |  SELECT doc_id, text, quality_score, h,
       |    $langArgmaxSql AS predicted_lang
       |  FROM fq),
       |k AS (SELECT h AS kh, MIN(doc_id) AS keep_id FROM fq GROUP BY 1),
       |reasons AS (
       |  SELECT l.doc_id, l.text,
       |    CASE WHEN l.text IS NULL THEN 'null_text'
       |         WHEN l.quality_score < $minQuality THEN 'quality'
       |         WHEN l.predicted_lang NOT IN ($langsInSql) THEN 'lang'
       |         WHEN l.doc_id != k.keep_id THEN 'exact_dup'
       |         WHEN nd.doc_id IS NOT NULL THEN 'near_dup'
       |         ELSE 'kept' END AS stage
       |  FROM langed l LEFT JOIN k ON l.h = k.kh
       |       LEFT JOIN pneardrop nd ON l.doc_id = nd.doc_id)""".stripMargin

  /** DuckDB replica of the [[Corpus.chunk]]→[[Corpus.packSequences]] chain
    * over a docs relation `rel(doc_id, text)`, ending in
    * `ppack(grp, rn, doc_id, seq, used)`: md5-derived packing groups, the
    * in-group (doc, chunk) order via row_number, and the stateful greedy
    * first-fit as a recursive CTE advancing one row per group per step.
    * Callers' WITH chain must be declared RECURSIVE. Shared by
    * q_pack_sequences (raw corpus) and q_prep_e2e (cleaned corpus).
    *
    * The `ppin` head is the oracle half of [[packTruthSlice]]: the
    * recursive replay advances ONE row per group per step, so above
    * [[maxFullPackDocs]] base docs BOTH engines pack the deterministic
    * `doc_id % ceil(n/5000)` slice, keeping the replay's step count bounded
    * (~[[maxFullPackDocs]]·chunks-per-doc/nGroups) at ANY corpus size.
    * Below the threshold `ppin` is the identity, so tested-SF hashes are
    * byte-unchanged.
    *
    * `pord` is `AS MATERIALIZED` (an execution hint only): the recursion
    * joins it once PER STEP, and DuckDB 1.0 otherwise re-inlines its entire
    * upstream chain — for q_prep_e2e the whole cleaning funnel — into every
    * iteration.
    */
  private def packCtes(rel: String, chunkSize: Int, capacity: Int,
      nGroups: Int): String =
    s"""ppn AS (SELECT count(*) AS n FROM documents),
       |ppin AS (
       |  SELECT doc_id, text FROM $rel, ppn
       |  WHERE n <= $maxFullPackDocs
       |     OR doc_id % CAST(ceil(n / ${maxFullPackDocs}e0) AS BIGINT) = 0),
       |ptoks AS (
       |  SELECT doc_id, len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n
       |  FROM ppin),
       |pchunks AS (
       |  SELECT doc_id, unnest(range(0, CAST(ceil(n / $chunkSize.0) AS INT))) AS chunk_id, n
       |  FROM ptoks WHERE n > 0),
       |pc2 AS (
       |  SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
       |    CAST(least(n - chunk_id * $chunkSize, $chunkSize) AS INT) AS n_tokens,
       |    CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % $nGroups AS INT) AS grp
       |  FROM pchunks),
       |pord AS MATERIALIZED (
       |  SELECT doc_id, chunk_id, n_tokens, grp,
       |    row_number() OVER (PARTITION BY grp ORDER BY doc_id, chunk_id) AS rn
       |  FROM pc2),
       |ppack AS (
       |  SELECT grp, rn, doc_id, chunk_id,
       |    CAST(0 AS BIGINT) AS seq, least(n_tokens, $capacity) AS used
       |  FROM pord WHERE rn = 1
       |  UNION ALL
       |  SELECT o.grp, o.rn, o.doc_id, o.chunk_id,
       |    CASE WHEN p.used + least(o.n_tokens, $capacity) > $capacity
       |         THEN p.seq + 1 ELSE p.seq END,
       |    CASE WHEN p.used + least(o.n_tokens, $capacity) > $capacity
       |         THEN least(o.n_tokens, $capacity)
       |         ELSE p.used + least(o.n_tokens, $capacity) END
       |  FROM ppack p JOIN pord o ON o.grp = p.grp AND o.rn = p.rn + 1)""".stripMargin

  /** Per-sequence stats off [[packCtes]]' `ppack` — the q_pack_sequences /
    * q_prep_e2e output shape.
    */
  private val packStatsSelect: String =
    """SELECT CAST(grp AS BIGINT) * 1099511627776 + seq AS seq_id,
      |  CAST(count(*) AS BIGINT) AS n_chunks,
      |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
      |  CAST(max(used) AS INT) AS fill_tokens
      |FROM ppack GROUP BY 1""".stripMargin

  /** Spark twin of [[packStatsSelect]] over `rel`: chunk(32) → pack(256,
    * 16 groups) of the [[packTruthSlice]] of `rel`.
    */
  private def packStats(s: SparkSession, dir: String,
      rel: DataFrame): DataFrame = {
    val chunks = Corpus.chunk(packTruthSlice(s, dir, rel),
      "doc_id", "text", chunkSize = 32)
    Corpus.packSequences(chunks, "doc_id", "chunk_id", "n_tokens",
        capacity = 256, nPartitions = 16)
      .groupBy(col("seq_id"))
      .agg(count(lit(1)).as("n_chunks"),
        countDistinct(col("doc_id")).as("n_docs"),
        max(col("seq_fill")).as("fill_tokens"))
  }

  /** The fixed merge table q_bpe_encode ships (applied in order; includes
    * the chained (t,h)→(th,e) case so merge-on-merged-symbol is exercised).
    * ONE definition feeds both the Spark fold and the generated DuckDB
    * regex chain below, so the two sides can never encode different
    * tokenizers.
    */
  private val bpeEncodeMerges: Seq[(String, String)] = Seq(
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"), ("an", "d"),
    ("e", "r"), ("o", "n"), ("r", "e"))

  /** DuckDB expression encoding one word `w` under [[bpeEncodeMerges]]:
    * chars space-joined, then one non-overlapping global regexp_replace per
    * merge in application order — bit-equivalent to [[Bpe.mergePair]]'s
    * greedy left-to-right disjoint fold (see q_bpe_encode's comment).
    * Merges are alnum so no regex escaping is needed.
    */
  private def bpeRegexChain(symbolizedExpr: String): String =
    bpeEncodeMerges.foldLeft(symbolizedExpr) {
      case (acc, (a, b)) => s"regexp_replace($acc, '\\b$a $b\\b', '$a$b', 'g')"
    }

  private val bpeEncodeRegexSql: String = bpeRegexChain(
    "array_to_string(list_transform(range(1, len(w)+1), i -> w[i]), ' ')")

  /** The base alphabet q_bpe_fallback ships alongside [[bpeEncodeMerges]]
    * ([a-z0-9] — what the alnum training tokenizer can ever produce). ONE
    * definition feeds the Spark isin and the generated DuckDB list below.
    */
  private val bpeAlphabet: Seq[String] =
    (('a' to 'z') ++ ('0' to '9')).map(_.toString)

  /** DuckDB symbolization of `w` WITH byte fallback, feeding the same
    * merge chain: in-alphabet chars stay single symbols, anything else
    * expands to `<0xNN>` per UTF-8 byte (hex() is uppercase in BOTH
    * engines). The chain's merge pairs are lowercase letters while byte
    * tokens contain only `[<>0-9A-Fx]` with no internal space, so the
    * regexes can never touch a byte token.
    */
  private val bpeFallbackRegexSql: String = {
    val alphaList = bpeAlphabet.map(c => s"'$c'").mkString("[", ", ", "]")
    bpeRegexChain(
      s"""array_to_string(flatten(list_transform(range(1, len(w)+1), i ->
         |      CASE WHEN list_contains($alphaList, w[i]) THEN [w[i]]
         |           ELSE list_transform(range(1, len(hex(encode(w[i]))) // 2 + 1), j ->
         |                  '<0x' || substr(hex(encode(w[i])), j*2-1, 2) || '>')
         |      END)), ' ')""".stripMargin)
  }

  /** Hyperparameters shared by the declared q_sim_lsh / q_sim_neardup
    * entries and their operator-only bench twins below — ONE definition, so
    * the `_operator` sub-timing always measures exactly the configuration
    * the declared query runs (a tuned query with a stale twin would emit
    * silently misleading bench trends).
    */
  private object SimParams {
    val dims = 64
    val nPlanes = 4
    val nTables = 8
    val k = 20
    val minSim = 0.2
    /** Above this corpus size the two declared crossJoin-truth queries
      * (q_sim_neardup / q_sim_clusters) certify on a deterministic vec_id
      * slice instead of the full all-pairs relation: every tested SF
      * (≤ 2000 vectors at sf0.1) stays UNDER the cutoff, so the driver's
      * oracle hash and the committed bench medians are byte-identical —
      * only an sf≥1 run crosses it, while the `_operator` twins keep
      * carrying the production-scale surface.
      */
    val maxFullTruthVectors = 10000L
    /** Sliced vertex-set size the certification aims at ABOVE the cutoff:
      * the slice modulus is `ceil(n / 2000)`, so the sliced truth is ~2000
      * vertices / ≤ ~2e6 crossJoin pairs at ANY corpus size — an absolute
      * bound, where a fixed stride would grow without bound.
      */
    val certSliceTarget = 2000L
  }

  /** The certification-truth input: full corpus at test SFs, the
    * `vec_id % ceil(n/2000) = 0` slice once the corpus outgrows
    * [[SimParams.maxFullTruthVectors]] — the modulus DERIVES from the
    * corpus count, so the sliced vertex set is ~[[SimParams.certSliceTarget]]
    * rows at ANY n. The count is one metadata-sized job; the decision and
    * the modulus are deterministic in the data, so reruns and resumes agree,
    * and `ceil` of an exact-below-2^53 integer divided by 2000e0 is the
    * same IEEE op in both engines (the packTruthSlice argument).
    *
    * BOTH engines carry the identical guard: the two consuming oracles join
    * over [[certSliceCte]] — an ANSI count-guarded predicate over the same
    * table — so the driver's hash gate stays green on either side of the
    * cutoff. CertSliceSpec exercises the over-threshold branch of both
    * queries against a sliced-oracle replay, at two different derived
    * moduli.
    */
  private def certTruthSlice(e: DataFrame): DataFrame = {
    val n = e.count()
    if (n <= SimParams.maxFullTruthVectors) e
    else e.where(col("vec_id")
      % lit(math.ceil(n / SimParams.certSliceTarget.toDouble).toLong) === 0)
  }

  /** The oracle-side twin of [[certTruthSlice]] — data-dependent in the
    * same count, row-identical on both sides of the cutoff. A scalar
    * count subquery is one metadata job for DuckDB exactly as
    * `e.count()` is for Spark.
    */
  private val certSliceCte: String =
    s"""emb_cert AS (
       |  SELECT * FROM embeddings
       |  WHERE (SELECT count(*) FROM embeddings) <= ${SimParams.maxFullTruthVectors}
       |     OR vec_id % (SELECT CAST(ceil(count(*) / ${SimParams.certSliceTarget}e0) AS BIGINT)
       |                  FROM embeddings) = 0)""".stripMargin

  /** DuckDB `d` (dot) and `nn` (norm product) columns of the cosine
    * between float lists `a` and `b`. GraftCosine accumulates dot/|a|²/|b|²
    * left-to-right in double ((double)float widening per element) and
    * divides by sqrt(na)*sqrt(nb); DuckDB's list_sum over a double
    * list_transform is the same sequential double accumulation, so
    * `d / nn` is BIT-exact (verified: 500/500 vectors, max |Δ| = 0.0 —
    * unlike list_cosine_similarity, which computes in float and drifts
    * ~1e-7).
    */
  private def cosineTermsSql(a: String, b: String): String =
    s"""list_sum(list_transform(range(1, len($a)+1),
       |             i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))) AS d,
       |    sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
       |      * sqrt(list_sum(list_transform($b, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS nn""".stripMargin

  /** All-pairs cosine terms `c(id_a, id_b, d, nn)` over [[certSliceCte]]'s
    * `emb_cert` — the crossJoin truth of q_sim_neardup / q_sim_clusters.
    */
  private val certPairsCte: String =
    s"""$certSliceCte, c AS (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |    ${cosineTermsSql("a.embedding", "b.embedding")}
       |  FROM emb_cert a JOIN emb_cert b ON a.vec_id < b.vec_id)""".stripMargin

  /** Probe-vs-corpus cosine terms `c(<cols>, d, nn)` for a probe CTE
    * `p(probe_id, pv, …)`, self-matches excluded — q_sim_batch, q_knn_vote.
    */
  private def probeCosineCte(cols: String): String =
    s"""c AS (
       |  SELECT $cols,
       |    ${cosineTermsSql("e.embedding", "p.pv")}
       |  FROM embeddings e, p
       |  WHERE e.vec_id != p.probe_id)""".stripMargin

  /** Spark twin of [[probeCosineCte]] plus the per-probe top-`k` cut
    * (rank-over-partition, planned as WindowGroupLimit: each corpus
    * partition keeps k rows per probe before the exchange): `cols` then
    * `cosine_sim` and `rnk`.
    */
  private def probeTopK(e: DataFrame, probes: DataFrame, cols: Seq[String],
      k: Int): DataFrame = {
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cosine_sim").desc_nulls_last, col("vec_id"))
    e.crossJoin(broadcast(probes))
      .where(col("vec_id") =!= col("probe_id"))
      .select(cols.map(col) :+
        VectorNative.cosine(col("embedding"), col("pv")).as("cosine_sim"): _*)
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= k)
  }

  /** The exact top-20 by cosine to the stored probe vector vec_id 0, ties
    * to the smaller vec_id — q_sim_bruteforce's rows, and the truth of
    * every ANN query over the same probe (q_sim_lsh, q_sim_ivf,
    * q_sim_ivf_quantized) and q_hybrid_rrf's semantic list.
    */
  private val top20Sql: String =
    s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
       |c AS (
       |  SELECT vec_id,
       |    ${cosineTermsSql("embedding", "qv")}
       |  FROM embeddings, q)
       |SELECT vec_id, CASE WHEN nn > 0 THEN d / nn END AS cosine_sim
       |FROM c
       |ORDER BY cosine_sim DESC NULLS LAST, vec_id
       |LIMIT 20""".stripMargin

  /** The stored probe vector vec_id 0 — one eager scan per call. */
  private def probeVector(s: SparkSession, e: DataFrame): Seq[Float] =
    Similarity.vectorOf(s, e, "vec_id", "embedding", 0L)

  /** Spark twin of [[top20Sql]]. */
  private def top20(e: DataFrame, q: Seq[Float]): DataFrame =
    Similarity.bruteForceTopK(e, "vec_id", "embedding", q, 20)

  /** [[top20]] and an ANN's answer for the same probe, from ONE embeddings
    * load and ONE [[probeVector]] scan — the (truth, found) pair of every
    * top-20 recall gate.
    */
  private def top20Vs(s: SparkSession, dir: String)(
      ann: (DataFrame, Seq[Float]) => DataFrame): (DataFrame, DataFrame) = {
    val e = emb(s, dir)
    val q = probeVector(s, e)
    (top20(e, q), ann(e, q))
  }

  /** Per-dimension long format `x(vec_id, label, dim, x)` of the
    * embeddings — the shared base of q_embed_outliers, q_embed_cov and
    * [[centroidDistCte]].
    */
  private val perDimCte: String =
    s"""x AS (
       |  SELECT vec_id, label, CAST(i - 1 AS INT) AS dim,
       |    CAST(embedding[i] AS DOUBLE) AS x
       |  FROM embeddings, range(1, ${SimParams.dims + 1}) t(i))""".stripMargin

  /** Spark twin of [[perDimCte]], keeping the columns `keep`. */
  private def perDim(e: DataFrame, keep: String*): DataFrame = {
    val ks = keep.map(col)
    e.select(ks :+ posexplode(col("embedding")).as(Seq("dim", "xf")): _*)
      .select(ks ++ Seq(col("dim"), col("xf").cast("double").as("x")): _*)
  }

  /** Int8 scalar quantization `s(vec_id, embedding, scale)` →
    * `qd(vec_id, scale, q)`, shared by q_quantize_int8 and q_sim_quantized.
    */
  private val int8Cte: String =
    """s AS (
      |  SELECT vec_id, embedding,
      |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale
      |  FROM embeddings),
      |qd AS (
      |  SELECT vec_id, scale,
      |    list_transform(embedding, x -> CASE WHEN scale = 0 THEN 0
      |      ELSE CAST(floor(CAST(x AS DOUBLE) / scale + 0.5) AS INT) END) AS q
      |  FROM s)""".stripMargin

  /** Spark twin of [[int8Cte]]: `scale` and the quantized vector as `q`. */
  private def withInt8(e: DataFrame, q: String): DataFrame =
    e.withColumn("scale", VectorFunctions.int8Scale(col("embedding")))
      .withColumn(q, VectorFunctions.quantizeInt8(col("embedding"), col("scale")))

  /** Each document's alnum tokens `(key, token)`, rows with a NULL `key`
    * dropped — the per-category token stream of q_source_divergence,
    * q_source_overlap, q_oov_rate and q_sketch_mergeability.
    */
  private def tokensBy(d: DataFrame, key: String): DataFrame =
    d.where(col(key).isNotNull)
      .select(col(key), explode(TextFunctions.arrayBarrier(
        TextFunctions.termsAlnum(col("text")))).as("token"))

  /** Spark half of the packing certification slice (oracle half: `ppin` in
    * [[packCtes]]): modulus `ceil(n/5000)` derived from the `documents`
    * count — ~[[maxFullPackDocs]] sliced docs at ANY corpus size, same IEEE
    * ceil-of-division in both engines. The count is one metadata-sized job
    * on the BASE table even when `rel` is a derived corpus (q_prep_e2e's
    * kept set), so the guard never re-runs upstream machinery; the modulus
    * filter lands on `rel` AFTER its own semantics (exact-dedup survivors,
    * near-dup drops) are fixed — Catalyst cannot push a doc_id predicate
    * below the funnel's aggregations, and the oracle applies it at the same
    * point.
    */
  private def packTruthSlice(s: SparkSession, dir: String,
      rel: DataFrame): DataFrame = {
    val n = docs(s, dir).count()
    if (n <= maxFullPackDocs) rel
    else rel.where(col("doc_id")
      % lit(math.ceil(n / maxFullPackDocs.toDouble).toLong) === 0)
  }

  /** Exact all-pairs cosine ≥ `minSim` over a (bounded) vector relation —
    * the crossJoin certification truth of q_sim_neardup / q_sim_clusters,
    * spelled with PER-VECTOR precomputed norms: `sqrt(Σx²)` is one
    * GraftNorm2 per ROW (2·n evaluations), so the per-PAIR loop runs
    * GraftDot's one accumulation stream (dims FLOPs/pair) instead of
    * GraftCosine's three. BIT-IDENTICAL output: GraftCosine computes
    * `d / (sqrt(na) · sqrt(nb))` and NULLs the zero-norm / length-mismatch
    * cases — here `sa = sqrt(na)` and `sb = sqrt(nb)` are the same
    * left-to-right double accumulations (GraftNorm2 ≡ the norm loop inside
    * GraftCosine), `sa * sb` and `d / (sa * sb)` are the same IEEE ops in
    * the same order, GraftDot nulls the length mismatch, and the `when`
    * nulls the zero-norm case — so every emitted cosine_sim carries the
    * exact bits the one-pass spelling produces.
    */
  private def exactCosinePairs(e: DataFrame, minSim: Double): DataFrame = {
    val a = e.select(col("vec_id").as("id_a"), col("embedding").as("va"),
      VectorNative.norm2(col("embedding")).as("sa"))
    val b = e.select(col("vec_id").as("id_b"), col("embedding").as("vb"),
      VectorNative.norm2(col("embedding")).as("sb"))
    a.crossJoin(b).where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        when(col("sa") * col("sb") > 0.0,
          VectorNative.dot(col("va"), col("vb")) / (col("sa") * col("sb")))
          .as("cosine_sim"))
      .where(col("cosine_sim") >= minSim)
  }

  /** The named operators a declared query and its `_operator` twin share,
    * so the twin always times exactly the build the declared form runs.
    */
  private def lshTopK(e: DataFrame, q: Seq[Float],
      nPlanes: Int = SimParams.nPlanes): DataFrame =
    Similarity.lshTopK(e, "vec_id", "embedding", q, dims = SimParams.dims,
      nPlanes = nPlanes, k = SimParams.k, nTables = SimParams.nTables)

  private def nearDupPairs(e: DataFrame,
      nPlanes: Int = SimParams.nPlanes): DataFrame =
    Similarity.cosineNearDupPairs(e, "vec_id", "embedding",
      dims = SimParams.dims, nPlanes = nPlanes,
      minSim = SimParams.minSim, nTables = SimParams.nTables)

  private def minhashPairs(d: DataFrame): DataFrame =
    Dedup.minhashPairs(d, "doc_id", "text")

  private def simhashPairs(d: DataFrame): DataFrame =
    Dedup.simhashPairs(d, "doc_id", "text")

  /** A "new batch" (doc_id % 5 = 0) of the loaded `documents` probed
    * against the already-indexed rest: the declared q_dedup_incremental
    * runs this exact build next to its truth, over the same load.
    */
  private def incrementalPairs(d: DataFrame): DataFrame =
    Dedup.minhashPairsIncremental(
      d.where(col("doc_id") % 5 =!= 0), d.where(col("doc_id") % 5 === 0),
      "doc_id", "text")

  /** q_quality_vs_dup's builder, shared by the declared form
    * (`approxCuts = false` — EXACT decile cuts by deterministic rank
    * selection, the oracle-gated semantics) and the `_operator` bench twin
    * (`approxCuts = true` — `percentile_approx` with accuracy 10000, the
    * documented sketch-bounded drop-in).
    *
    * The declared cuts follow the q_length_quantiles convention scaled to a
    * GLOBAL order: the value at rank `ceil(n*q)` under total (q, doc_id)
    * order, via [[Rank.globalRowNumber]] — one range shuffle at full
    * parallelism + a 9-row broadcast, instead of `percentile`'s single
    * aggregation buffer materializing the whole per-corpus value multiset.
    * Exact at any scale, and the cuts are exact data values of the
    * IEEE-portable qualityScore — no snap needed (the approx twin keeps its
    * 1e-6 snap: sketch interpolation is not cross-engine-exact).
    */
  private def qualityVsDup(s: SparkSession, dir: String,
      approxCuts: Boolean): DataFrame = {
    import s.implicits._
    val d = docs(s, dir)
    val comp = Components.connectedComponents(d.select("doc_id"), "doc_id",
      Dedup.jaccardPairs(d, "doc_id", "text"), "doc_a", "doc_b")
    val sizes = comp.groupBy($"component").agg(count(lit(1)).as("n_members"))
    val dup = comp.join(sizes, Seq("component"))
      .select($"doc_id", ($"n_members" > 1).as("is_dup"))
    val sc = d.select($"doc_id", TextFunctions.qualityScore($"text").as("q"))
    // scored docs enter the binning WHERE q IS NOT NULL in BOTH engines (a
    // doc without a score has no decile; NULL never >= any cut anyway)
    val (scored, th) =
      if (approxCuts) {
        val fracs = "array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9)"
        (sc.where($"q".isNotNull),
          sc.agg(expr(s"percentile_approx(q, $fracs, 10000)").as("vs"))
            .select(transform($"vs", v => snap6(v)).as("vs")))
      } else {
        // rank targets ceil(n * i/10): n is exact below 2^53 and the oracle
        // renders the same double constant (${i/10.0}e0), so the product and
        // ceil are the same IEEE ops in both engines BY CONSTRUCTION
        // (q_length_quantiles precedent). The 2-narrow-column projection is
        // materialized ONCE (eager localCheckpoint, the q_pagerank
        // lifecycle) and then feeds globalRowNumber's range sampling +
        // shuffle, zipWithIndex's count job, the n scalar, AND the binning
        // join — each would otherwise re-run qualityScore over the full
        // corpus; 16 bytes/doc is the cheapest possible spelling of "sort
        // the scores".
        val nonNull = sc.where($"q".isNotNull).select($"doc_id", $"q")
          .localCheckpoint(true)
        val ranked = Rank.globalRowNumber(nonNull, Seq("q", "doc_id"), "rn")
        val nRow = nonNull.agg(count(lit(1)).as("n"))
        (nonNull,
          ranked.crossJoin(broadcast(nRow))
            .where((1 to 9).map(i =>
              $"rn" === ceil($"n" * lit(i / 10.0)).cast("long")).reduce(_ || _))
            .agg(sort_array(collect_list($"q")).as("vs")))
      }
    scored.join(dup, Seq("doc_id"))
      .crossJoin(broadcast(th))
      .select(size(filter($"vs", v => $"q" >= v)).as("bin"), $"is_dup")
      .groupBy($"bin").agg(
        count(lit(1)).as("n_docs"),
        count(when($"is_dup", 1)).as("n_dup"))
      .select($"bin", $"n_docs", $"n_dup",
        ($"n_dup".cast("double") / $"n_docs".cast("double")).as("dup_rate"))
  }

  /** ×`m` synthetic embedding corpus for the scale-growth bench twins:
    * `m − 1` id-shifted copies with a small deterministic per-copy
    * perturbation (sin of (id, copy, dim) — seedless, rerun-stable), so the
    * multiplied corpus behaves like a larger crawl rather than m exact
    * replicas piling into identical buckets.
    */
  private def embTimes(s: SparkSession, dir: String, m: Int): DataFrame = {
    // project to the two operator-relevant columns: the copies don't carry
    // the fixture's label column, and unionByName must see equal schemas
    val e = emb(s, dir).select(col("vec_id"), col("embedding"))
    (0 until m).map { c =>
      if (c == 0) e
      else e.select((col("vec_id") + lit(c * 10000000L)).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          (x + sin((col("vec_id") * (c * 7 + 1) + i).cast("double")) * lit(0.05))
            .cast("float")).as("embedding"))
    }.reduce(_ unionByName _)
  }

  /** ×`m` corpus growth for TEXT operators (the [[embTimes]] sibling):
    * copies carry offset ids and a copy-distinct perturbation token so the
    * multiplied corpus behaves like a larger crawl (boundaries and hashes
    * shift) rather than m exact replicas.
    */
  private def docsTimes(s: SparkSession, dir: String, m: Int): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"), col("text"))
    (0 until m).map { c =>
      if (c == 0) d
      else d.select((col("doc_id") + lit(c * 10000000L)).as("doc_id"),
        concat(col("text"), lit(s" c$c v"), col("doc_id") % 97).as("text"))
    }.reduce(_ unionByName _)
  }

  /** The at-scale hyperplane count for an ×`m` corpus: production LSH holds
    * BUCKET OCCUPANCY constant by adding a plane per corpus doubling
    * (buckets ∝ 2^nPlanes), so growth measurements exercise the knob a real
    * deployment turns instead of letting the ×m corpus overflow a fixed
    * bucket grid into the maxBucket cap (which would fake sub-linearity by
    * silently discarding work).
    */
  private def nPlanesAt(m: Int): Int =
    SimParams.nPlanes + (31 - Integer.numberOfLeadingZeros(m))

  /** One operator twin: Bench times `build` as `<name>_operator`, and
    * `replaces` names the declared query it stands in for in Bench's
    * operator-graded total — a declared form whose in-plan truth side (the
    * recall-flag or crossJoin certification harness) the operator never
    * pays at scale.
    */
  private def twin(name: String, replaces: Option[String] = None)(
      build: (SparkSession, String) => DataFrame)
      : (String, Option[String], (SparkSession, String) => DataFrame) =
    (name, replaces, build)

  private val twins = Seq(
    twin("q_sim_lsh", replaces = Some("q_sim_lsh")) { (s, dir) =>
      val e = emb(s, dir)
      lshTopK(e, probeVector(s, e))
    },
    twin("q_sim_neardup", replaces = Some("q_sim_neardup"))((s, dir) =>
      nearDupPairs(emb(s, dir))),
    twin("q_dedup_incremental", replaces = Some("q_dedup_incremental"))(
      (s, dir) => incrementalPairs(docs(s, dir))),
    twin("q_dedup_minhash", replaces = Some("q_dedup_minhash"))((s, dir) =>
      minhashPairs(docs(s, dir))),
    twin("q_dedup_simhash", replaces = Some("q_dedup_simhash"))((s, dir) =>
      simhashPairs(docs(s, dir))),
    // the clusters SCALE FORM (LSH-bucketed pairs → Components loop — the
    // declared q_sim_clusters pays crossJoin truth instead) at ×1 and ×4,
    // so the growth ratio compares like with like
    twin("q_sim_clusters_x1", replaces = Some("q_sim_clusters"))((s, dir) =>
      simClustersScale(embTimes(s, dir, 1), 1)),
    twin("q_sim_clusters_x4")((s, dir) =>
      simClustersScale(embTimes(s, dir, 4), 4)),
    // the percentile_approx decile cut — the sketch-bounded alternative to
    // the declared form's exact-rank cuts; benching both keeps the
    // exact-vs-sketch price a measured artifact
    twin("q_quality_vs_dup")(qualityVsDup(_, _, approxCuts = true)),
    // derived-permutation signature family (one string hash per shingle,
    // perms drawn from the 8-byte base — the at-scale production default):
    // benched against q_dedup_minhash_operator so the signature-stage
    // saving is a measured artifact
    twin("q_dedup_minhash_fastsig")((s, dir) =>
      Dedup.minhashPairsFromTokens(
        docs(s, dir).select(col("doc_id"),
          TextFunctions.tokens(col("text")).as("toks")),
        derivePerms = true)),
    // ×4 SCALE-GROWTH twins: the crossJoin-truth queries' operator forms on
    // a 4× corpus at the at-scale plane count — Bench juxtaposes these with
    // the ×1 twins so sub-quadratic growth is a MEASURED artifact (all-pairs
    // work grows 16×; the bucketed paths should grow ~4× and the
    // bucket-probe top-k far less), not an assertion
    twin("q_sim_neardup_x4")((s, dir) =>
      nearDupPairs(embTimes(s, dir, 4), nPlanesAt(4))),
    twin("q_sim_lsh_x4") { (s, dir) =>
      val e4 = embTimes(s, dir, 4)
      lshTopK(e4, probeVector(s, e4), nPlanesAt(4))
    },
    // map-only codegen'd nearest-centroid assignment (Ivf.nearestCentroidExpr
    // over float centroids) — the production path the relational
    // certification form in the declared q_centroid_assign stands in for
    twin("q_centroid_assign") { (s, dir) =>
      val e = emb(s, dir)
      val rows = Similarity.labelCentroids(e, "label", "embedding",
        SimParams.dims).collect() // labels × dims rows — bounded, Ivf pattern
      // fail loudly, not NPE: a NULL label or an all-malformed dim (avg over
      // zero members = NULL) has no meaningful centroid coordinate
      rows.foreach { r =>
        require(!r.isNullAt(0) && !r.isNullAt(2),
          s"centroid assign: NULL label or centroid coordinate in $r — " +
            "label column has NULLs or a dim had no well-formed members")
      }
      val labels = rows.map(_.getInt(0)).distinct.sorted
      val byLabel = rows.groupBy(_.getInt(0)).map { case (l, rs) =>
        l -> rs.sortBy(_.getInt(1)).map(_.getDouble(2).toFloat)
      }
      val cents = labels.map(l => byLabel(l))
      e.select(col("vec_id"), col("label"),
          Ivf.nearestCentroidExpr(col("embedding"), cents).as("__idx"))
        .select(col("vec_id"), col("label"),
          try_element_at(array(labels.toIndexedSeq.map(lit(_)): _*), col("__idx") + 1)
            .as("assigned_label"))
    },
    // CDC chunking growth: map-only boundaries + ONE content-hash shuffle
    // claims LINEAR growth — the ×1/×4 pair makes that a measured artifact
    twin("q_chunk_cdc_x1")((s, dir) =>
      Corpus.cdcChunks(docsTimes(s, dir, 1), "doc_id", "text", 3, 8)),
    twin("q_chunk_cdc_x4")((s, dir) =>
      Corpus.cdcChunks(docsTimes(s, dir, 4), "doc_id", "text", 3, 8)),
    // global row numbering growth twins: the range-shuffle + zipWithIndex
    // path must grow ~linearly where the one-partition window it replaces
    // concentrates ALL growth in a single task
    twin("q_global_rank_x1")((s, dir) => globalRankTimes(s, dir, 1)),
    twin("q_global_rank_x4")((s, dir) => globalRankTimes(s, dir, 4)),
    // the one-batch near-dup gate's verification knob, timed at both ends:
    // gate=1 is the classic any-collision LSH drop (a keeper per bucket),
    // 6-of-8 verifies candidates by distinct-band agreement (≈
    // MinHash-estimated Jaccard ≳ 0.9) at the cost of a per-pair band count
    // — both run Streaming.nearDupGateBatch (gateBands + batchCollisions) on
    // the same dup-salted corpus, so the knob's price is a recorded artifact
    // like the ×4 twins
    twin("q_stream_gate1")((s, dir) =>
      graft.streaming.Streaming.nearDupGateBatch(
        gateFixture(s, dir), "doc_id", "text", minBandsGate = 1)),
    twin("q_stream_gate6of8")((s, dir) =>
      graft.streaming.Streaming.nearDupGateBatch(
        gateFixture(s, dir), "doc_id", "text", minBandsGate = 6)))

  /** The operator twins by name (the `_operator` suffix is Bench's). */
  val operatorOnly: Map[String, (SparkSession, String) => DataFrame] =
    twins.map { case (name, _, build) => name -> build }.toMap

  /** Declared query → the `_operator` twin that replaces it in Bench's
    * operator-graded total.
    */
  private[graft] val operatorSubs: Map[String, String] =
    twins.collect { case (name, Some(q), _) => q -> s"${name}_operator" }.toMap

  /** [[Rank.globalRowNumber]] over the ×`m` corpus's (n_chars, doc_id). */
  private def globalRankTimes(s: SparkSession, dir: String, m: Int): DataFrame =
    Rank.globalRowNumber(docsTimes(s, dir, m)
      .select(col("doc_id"), length(col("text")).as("n_chars")),
      Seq("n_chars", "doc_id"))

  /** Dup-salted corpus for the gate sub-timings: the base docs plus 20%
    * exact copies (collide on every band — dropped at any gate) and ~14%
    * one-token-appended near-copies (high but sub-1 Jaccard — the rows the
    * verification knob actually adjudicates).
    */
  private def gateFixture(s: SparkSession, dir: String): DataFrame = {
    val b = docs(s, dir).select(col("doc_id"), col("text"))
    b.unionByName(b.where(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      .unionByName(b.where(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          concat(col("text"), lit(" zyx")).as("text")))
  }

  private def simClustersScale(e: DataFrame, m: Int): DataFrame = {
    val pairs = Similarity.cosineNearDupPairs(e, "vec_id", "embedding",
      dims = SimParams.dims, nPlanes = nPlanesAt(m), minSim = 0.4,
      nTables = SimParams.nTables)
    Components.connectedComponents(e.select(col("vec_id")), "vec_id",
      pairs, "id_a", "id_b")
  }

  /** q_normalize_text's per-row salt — one constant, both engines (the
    * Spark side takes it as a literal, the oracle via
    * [[TextFunctions.sqlStringLit]]), chosen so every normalizeText rule
    * demonstrably fires on every row: NFD accents, zero-widths, C0/DEL
    * controls (no NUL — DuckDB strings cannot hold one), non-ASCII uppers
    * in three scripts, fullwidth letters (an NFC no-op that still folds),
    * and a stacked-combining-mark cluster whose marks NFC must reorder.
    * Locale-contextual case characters (İ, Σ) are deliberately absent —
    * their folds are the one place Java and utf8proc legitimately differ.
    */
  private val normSalt: String =
    " Cafe\u0301 A\u030Angstro\u0308m" +            // NFD accents -> compose
      " zero\u200Bwidth\u200C\u200D\uFEFFjoin" +     // zero-widths strip
      " ctl\u0001\u0002\u001F\u007Fx" +             // C0/DEL controls strip
      " \u00C9\u00D0\u00C6\u00D8\u00C7\u00D1\u00DC" + // Latin-1 uppers fold
      " \u041F\u0420\u0418\u0412\u0415\u0422" +     // Cyrillic uppers fold
      " \u0391\u0392\u0393\u0394" +                 // Greek uppers (no sigma)
      " \uFF21\uFF22\uFF23\uFF44\uFF45" +           // fullwidth lowers fold
      " E\u0304\u0323F\u0307\u0323 end"             // marks NFC must reorder

  /** Shared by q_decontaminate and q_decontaminate_bloom — the Bloom
    * variant is an execution-strategy twin with identical declared
    * semantics (pre-filter admits no false negatives; the confirm join
    * removes false positives), so one oracle certifies both.
    */
  private val decontaminateOracle: String =
    s"""WITH t AS $docTokensSql,
       |sh AS (
       |  SELECT doc_id, ${shinglesSql(3, distinct = true)} AS shs
       |  FROM t),
       |bench AS (SELECT DISTINCT unnest(shs) AS shingle FROM sh WHERE doc_id % 20 = 0),
       |ex AS (SELECT doc_id, unnest(shs) AS shingle FROM sh),
       |hits AS (SELECT ex.doc_id, CAST(count(*) AS BIGINT) AS nh
       |         FROM ex JOIN bench USING (shingle) GROUP BY 1)
       |SELECT d.doc_id,
       |  COALESCE(h.nh, 0) AS n_hits,
       |  h.nh IS NOT NULL AS contaminated
       |FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id""".stripMargin

  /** The doc_id-derived URL salt + canonicalization rule chain, shared by
    * q_url_canonical and q_domain_stats (single-source rule: the fixture
    * and the mirrored rules edit in one place for every consumer).
    */
  private val urlSaltSql: String =
    """CASE WHEN doc_id % 2 = 0 THEN 'HTTP://' ELSE 'https://' END ||
      |    'WWW.Site' || (doc_id % 7) || '.Example.COM' ||
      |    CASE WHEN doc_id % 11 = 0 THEN ':8080'
      |         WHEN doc_id % 2 = 0 THEN ':80' ELSE ':443' END ||
      |    '/Dir' || (doc_id % 5) || '/b//' ||
      |    '?b=2&utm_source=news&a=' || (doc_id % 3) || '&fbclid=x&' ||
      |    '#sec' || doc_id""".stripMargin

  /** CTE chain `u` → `parts` → `canon(doc_id, url_canonical)` mirroring
    * [[TextFunctions.canonicalizeUrl]] step for step over [[urlSaltSql]].
    */
  private val urlCanonCte: String =
    s"""u AS (SELECT doc_id, $urlSaltSql AS url FROM documents),
       |parts AS (
       |  SELECT doc_id,
       |    lower(regexp_extract(nf, '^([^:/?#]+)://', 1)) AS scheme,
       |    lower(regexp_extract(nf, '^[^:/?#]+://([^/?#]*)', 1)) AS hostraw,
       |    regexp_extract(nf, '^[^:/?#]+://[^/?#]*([^?#]*)', 1) AS pathraw,
       |    regexp_extract(nf, '^[^?#]*\\?([^#]*)', 1) AS qraw
       |  FROM (SELECT doc_id, regexp_replace(url, '#.*$$', '') AS nf FROM u)),
       |canon AS (
       |  SELECT doc_id,
       |    scheme || '://' ||
       |    regexp_replace(
       |      CASE WHEN scheme = 'http' THEN regexp_replace(hostraw, ':80$$', '')
       |           WHEN scheme = 'https' THEN regexp_replace(hostraw, ':443$$', '')
       |           ELSE hostraw END,
       |      '^www\\.', '') ||
       |    CASE WHEN pth = '' THEN '/' ELSE pth END ||
       |    CASE WHEN len(prms) > 0
       |         THEN '?' || array_to_string(list_sort(prms), '&') ELSE '' END
       |      AS url_canonical
       |  FROM (
       |    SELECT doc_id, scheme, hostraw,
       |      regexp_replace(regexp_replace(pathraw, '/{2,}', '/'), '/+$$', '') AS pth,
       |      list_filter(string_split(qraw, '&'),
       |        x -> x <> '' AND NOT regexp_matches(x, '${TextFunctions.trackingParamRe}')) AS prms
       |    FROM parts))""".stripMargin

  /** Snapped per-(vector, centroid) L2 distance relation `c` → `x` → `d`,
    * shared by q_centroid_assign and q_centroid_margin (single-source
    * rule). Distances round to 1e-6 BEFORE any argmin/margin arithmetic
    * so downstream comparisons are IEEE-identical cross-engine.
    */
  private val centroidDistCte: String =
    s"""c AS (
       |  SELECT label AS c_label, CAST(i - 1 AS INT) AS dim,
       |    FLOOR(AVG(CAST(embedding[i] AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS c
       |  FROM embeddings, range(1, ${SimParams.dims + 1}) t(i)
       |  GROUP BY label, i),
       |$perDimCte,
       |d AS (
       |  SELECT x.vec_id, x.label, c.c_label,
       |    FLOOR(SUM((x.x - c.c) * (x.x - c.c)) * 1000000 + 0.5) / 1000000 AS dist
       |  FROM x JOIN c USING (dim)
       |  GROUP BY 1, 2, 3)""".stripMargin

  /** Spark twin of [[centroidDistCte]]: (vec_id, label, c_label, dist). */
  private def centroidDistances(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val cents = Similarity.labelCentroids(e, "label", "embedding", SimParams.dims)
      .select(col("label").as("c_label"), col("dim"),
        snap6(col("centroid")).as("c"))
    perDim(e, "vec_id", "label")
      .join(broadcast(cents), Seq("dim"))
      .groupBy(col("vec_id"), col("label"), col("c_label"))
      .agg(snap6(sum((col("x") - col("c")) * (col("x") - col("c"))))
        .as("dist"))
  }

  /** Hex→uniform digit parse shared by q_dp_counts (the Laplace draw) and
    * q_sample_importance (the Efraimidis–Spirakis key): DuckDB has no
    * base-conversion `conv`, so the oracle parses the first 6 hex digits
    * of a CTE column `h` = md5(key) positionally into a (0,1) uniform —
    * the Spark twin spells the same value as
    * `(conv(substring(h,1,6),16,10) + 0.5) / 2^24`. Generated here so the
    * digit count and the denominator live in one place.
    */
  private val hexUniformSql: String = {
    val terms = (1 to 6).map { i =>
      val f = 1L << (4 * (6 - i))
      s"(CAST(strpos('0123456789abcdef', substr(h, $i, 1)) AS DOUBLE) - 1.0) * $f.0"
    }
    s"(${terms.mkString("\n        + ")}\n        + 0.5) / 16777216.0"
  }

  /** Spark twin of [[hexUniformSql]] over an md5-hex column. */
  private def hexUniformCol(h: Column): Column =
    (conv(substring(h, 1, 6), 16, 10).cast("long").cast("double")
      + lit(0.5)) / lit(16777216.0)

  /** Cumulative Poisson(1) probabilities P(X ≤ k) for k = 0..7, computed
    * once in Scala doubles and emitted as LITERALS into both the Spark
    * plan and the DuckDB oracle (Double.toString round-trips, so both
    * engines compare against bit-identical thresholds). The ≥8 tail mass
    * is ~1e-6 — those draws clamp to weight 8; both engines clamp the
    * same way, so the (negligible) bias is shared, not a divergence.
    */
  private val poissonCums: Seq[Double] = {
    val e = math.exp(-1.0)
    var fact = 1.0
    var cum = 0.0
    (0 to 7).map { k =>
      if (k > 0) fact *= k
      cum += e / fact
      cum
    }
  }

  /** Spark twin of [[urlSaltSql]]. */
  private def urlSaltCol: Column = {
    val id = col("doc_id")
    concat(
      when(id % 2 === 0, "HTTP://").otherwise("https://"),
      lit("WWW.Site"), id % 7, lit(".Example.COM"),
      when(id % 11 === 0, ":8080")
        .when(id % 2 === 0, ":80").otherwise(":443"),
      lit("/Dir"), id % 5, lit("/b//"),
      lit("?b=2&utm_source=news&a="), id % 3, lit("&fbclid=x&"),
      lit("#sec"), id)
  }

  val defs: Seq[QueryDef] = Seq(

    // ------------------------------------------------------------------
    // Exact dedup via content hash (md5 exists in both engines).
    QueryDef(
      "q_dedup_exact",
      Some("""SELECT md5(text) AS text_hash,
             |       CAST(COUNT(*) AS BIGINT) AS n_copies,
             |       MIN(doc_id) AS keep_id
             |FROM documents GROUP BY 1""".stripMargin),
      (s, dir) => Dedup.exactGroups(docs(s, dir), "doc_id", "text")),

    // ------------------------------------------------------------------
    // Benchmark decontamination: flag every document sharing ANY 3-gram
    // with a held-out eval set (here: the doc_id % 20 == 0 slice serves as
    // the benchmark, derived identically in both engines — its own docs
    // come back fully contaminated, the realistic exact-leak case). Corpus
    // side explodes distinct shingles into a BROADCAST join against the
    // benchmark's shingle set — no corpus shuffle on content; see
    // Dedup.decontaminate. Same 3-gram tokenization as the jaccard CTE.
    QueryDef(
      "q_decontaminate",
      Some(decontaminateOracle),
      (s, dir) => {
        import s.implicits._
        val d = docs(s, dir)
        Dedup.decontaminate(d, "doc_id", "text",
          d.where($"doc_id" % 20 === 0), "text")
      }),

    // ------------------------------------------------------------------
    // The SAME gate for when the benchmark outgrows broadcast: benchmark
    // shingles aggregate into Spark's native Bloom filter (bloom_filter_agg
    // → blob literal → codegen'd might_contain at the corpus scan), corpus
    // survivors exact-confirm in a shuffle-hash join. No false negatives +
    // exact confirm ⇒ bit-identical to q_decontaminate, so the oracle SQL
    // is shared verbatim; the DuckDB side needs no Bloom notion at all.
    // See Dedup.decontaminateBloom for the 100 TB shape argument.
    QueryDef(
      "q_decontaminate_bloom",
      Some(decontaminateOracle),
      (s, dir) => {
        import s.implicits._
        val d = docs(s, dir)
        Dedup.decontaminateBloom(d, "doc_id", "text",
          d.where($"doc_id" % 20 === 0), "text")
      }),

    // ------------------------------------------------------------------
    // PII scrubbing: emails → <EMAIL>, IPv4 → <IP>, phones → <PHONE> in
    // three chained regexp_replaces (map-only, codegen'd). The fixture
    // corpus carries no PII, so each row is salted with a deterministic
    // doc_id-derived email/phone/IP tail built identically in both engines
    // — every pattern demonstrably fires on every row, and the oracle
    // replays the same RE2/Java-portable regexes with DuckDB's 'g' flag
    // (Spark's regexp_replace is global by default).
    QueryDef(
      "q_pii_scrub",
      // the oracle interpolates TextFunctions' own pattern constants (the
      // qualityScoreSql single-source rule): a pattern tweak lands in both
      // engines at once instead of surfacing later as a hash mismatch
      Some(s"""SELECT doc_id,
             |  regexp_replace(
             |    regexp_replace(
             |      regexp_replace(
             |        text || ' reach user' || doc_id ||
             |          '@mail.example.com or (555) 867-5309 via 10.1.2.' ||
             |          (doc_id % 256),
             |        '${TextFunctions.emailRe}', '<EMAIL>', 'g'),
             |      '${TextFunctions.ipv4Re}', '<IP>', 'g'),
             |    '${TextFunctions.phoneRe}', '<PHONE>', 'g') AS clean_text
             |FROM documents""".stripMargin),
      (s, dir) => {
        import s.implicits._
        docs(s, dir).select(
          $"doc_id",
          TextFunctions.scrubPii(concat(
            $"text", lit(" reach user"), $"doc_id",
            lit("@mail.example.com or (555) 867-5309 via 10.1.2."),
            $"doc_id" % 256)).as("clean_text"))
      }),

    // ------------------------------------------------------------------
    // Markup stripping (TextFunctions.stripMarkup): script/style elements
    // dropped wholesale, tags stripped to spaces, the six common entities
    // decoded non-recursively (&amp; last), whitespace collapsed — the
    // crawl-cleaning normalizer ahead of every quality/dedup stage. The
    // fixture corpus is plain text, so each row is salted with a
    // deterministic doc_id-derived HTML wrapper built identically in both
    // engines — every rule (block drop, tag strip, each entity, collapse)
    // demonstrably fires on every row. Oracle SQL is GENERATED from the
    // same pattern constants and entity table the Spark side folds over
    // (the qualityScoreSql single-source rule), so a pattern tweak lands
    // in both engines at once.
    QueryDef(
      "q_strip_markup",
      Some {
        val salted = "text || '<div id=\"d' || doc_id || '\"><h1>Head</h1>" +
          "<script type=\"text/x\">var v=' || doc_id || ';</script>" +
          "<style>.a{color:red}</style><p>A &amp;amp; B &lt;i&gt;ok&lt;/i&gt; " +
          "&quot;q&quot; &#39;s&#39;&nbsp;end</p>'"
        val noTags = s"regexp_replace(regexp_replace($salted, " +
          s"'${TextFunctions.scriptStyleRe}', ' ', 'g'), " +
          s"'${TextFunctions.tagRe}', ' ', 'g')"
        val decoded = TextFunctions.entityDecode.foldLeft(noTags) {
          case (acc, (p, r)) =>
            s"regexp_replace($acc, '$p', '${r.replace("'", "''")}', 'g')"
        }
        s"SELECT doc_id, TRIM(regexp_replace($decoded, " +
          s"'${TextFunctions.wsRunRe}', ' ', 'g')) AS clean_text FROM documents"
      },
      (s, dir) => {
        import s.implicits._
        docs(s, dir).select(
          $"doc_id",
          TextFunctions.stripMarkup(concat(
            $"text",
            lit("<div id=\"d"), $"doc_id",
            lit("\"><h1>Head</h1><script type=\"text/x\">var v="), $"doc_id",
            lit(";</script><style>.a{color:red}</style><p>A &amp;amp; B " +
              "&lt;i&gt;ok&lt;/i&gt; &quot;q&quot; &#39;s&#39;&nbsp;end</p>")))
            .as("clean_text"))
      }),

    // ------------------------------------------------------------------
    // Unicode normalization (TextFunctions.normalizeText): zero-width/
    // control strip → NFC canonical composition (native GraftNfc; DuckDB
    // nfc_normalize — both implement the same Unicode algorithm) → full
    // Unicode lowercase. The fixture corpus is ASCII, so every row is
    // salted with a constant that makes each rule fire: NFD accents that
    // must compose, stacked combining marks that must canonically REORDER
    // (dot-below before dot-above), zero-widths and C0/DEL controls that
    // must vanish, and Latin-1/Cyrillic/Greek/fullwidth uppers that must
    // fold. Oracle SQL is GENERATED from the same salt constant and strip
    // class the Spark side uses (sqlStringLit renders the salt as chr()
    // calls, so the exotic codepoints ship as plain-ASCII SQL).
    QueryDef(
      "q_normalize_text",
      Some("SELECT doc_id, lower(nfc_normalize(regexp_replace(" +
        s"text || ${TextFunctions.sqlStringLit(normSalt)}, " +
        s"'${TextFunctions.zeroWidthCtlRe}', '', 'g'))) AS norm_text " +
        "FROM documents"),
      (s, dir) => {
        import s.implicits._
        docs(s, dir).select($"doc_id",
          TextFunctions.normalizeText(concat($"text", lit(normSalt)))
            .as("norm_text"))
      }),

    // ------------------------------------------------------------------
    // URL canonicalization + URL-level dup counts — the FIRST dedup stage
    // of a crawl pipeline (two fetches of one page collapse on the
    // canonical URL before any content hashing runs). The fixture corpus
    // has no URL column, so each doc gets a deterministic doc_id-derived
    // URL built identically in both engines (the q_pii_scrub salting
    // recipe), varied so every rule demonstrably fires AND every guard is
    // exercised: mixed-case scheme/host, www., default port on the
    // matching scheme (:80/http, :443/https) but a MEANING-BEARING :8080
    // on doc_id % 11 that must survive, duplicate+trailing slashes,
    // unsorted params with tracking keys and a trailing empty param, and a
    // fragment. The oracle mirrors the rule chain step for step; the
    // tracking-param class interpolates TextFunctions.trackingParamRe
    // (single-source rule). See TextFunctions.canonicalizeUrl.
    QueryDef(
      "q_url_canonical",
      Some(s"""WITH $urlCanonCte
             |SELECT doc_id, url_canonical,
             |  CAST(count(*) OVER (PARTITION BY url_canonical) AS BIGINT) AS n_url_dups
             |FROM canon""".stripMargin),
      (s, dir) => {
        import s.implicits._
        docs(s, dir)
          .select($"doc_id",
            TextFunctions.canonicalizeUrl(urlSaltCol).as("url_canonical"))
          .withColumn("n_url_dups",
            count(lit(1)).over(Window.partitionBy($"url_canonical")))
      }),

    // ------------------------------------------------------------------
    // Host-level curation rollup — the domain-blocklist read: per canonical
    // host (port stripped), doc count, distinct canonical URLs, URL-dup
    // ratio, and mean quality (single-sourced qualityScoreSql). Domain
    // decisions (UT1-style blocklists, domain quality priors) are the
    // coarsest and cheapest curation lever a crawl pipeline pulls, and
    // they key on exactly this table. One partial-agg shuffle on host
    // (the countDistinct is per-host two-phase, no corpus-wide distinct).
    QueryDef(
      "q_domain_stats",
      Some(s"""WITH $urlCanonCte,
             |h AS (
             |  SELECT doc_id, url_canonical,
             |    regexp_replace(regexp_extract(url_canonical, '^[a-z]+://([^/]*)', 1),
             |      ':[0-9]+$$', '') AS host
             |  FROM canon),
             |q AS (SELECT doc_id, $qualityScoreSql AS qs FROM documents)
             |SELECT h.host,
             |  CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(count(DISTINCT h.url_canonical) AS BIGINT) AS n_urls,
             |  FLOOR((1.0 - CAST(count(DISTINCT h.url_canonical) AS DOUBLE) / COUNT(*)) * 1000000 + 0.5) / 1000000 AS url_dup_ratio,
             |  FLOOR(SUM(q.qs) / COUNT(*) * 1000000 + 0.5) / 1000000 AS avg_quality
             |FROM h JOIN q ON h.doc_id = q.doc_id
             |GROUP BY 1""".stripMargin),
      (s, dir) => {
        import s.implicits._
        val snap = (x: Column) => floor(x * 1000000.0 + 0.5) / 1000000.0
        val canon = TextFunctions.canonicalizeUrl(urlSaltCol)
        docs(s, dir)
          .select(
            regexp_replace(regexp_extract(canon, "^[a-z]+://([^/]*)", 1),
              ":[0-9]+$", "").as("host"),
            canon.as("url_canonical"),
            TextFunctions.qualityScore($"text").as("qs"))
          .groupBy($"host")
          .agg(
            count(lit(1)).as("n_docs"),
            countDistinct($"url_canonical").as("n_urls"),
            snap(lit(1.0) - countDistinct($"url_canonical").cast("double")
              / count(lit(1))).as("url_dup_ratio"),
            snap(sum($"qs") / count(lit(1))).as("avg_quality"))
      }),

    // ------------------------------------------------------------------
    // Compression-ratio quality filter (TextFunctions.compressRatio over
    // the native graft_deflate_len): deflated/raw bytes — the RefinedWeb-
    // family gate that catches keyword-stuffing boilerplate (ratio craters)
    // and binary junk (ratio ~1) with zero linguistics. zlib output is a
    // JVM property, not ANSI — so like q_approx_distinct this is PROPERTY-
    // oracled: each doc gets two equal-length salted variants (225 chars of
    // repeated phrase vs 7 chained md5s = 224 pseudorandom hex chars) and
    // the declared flags assert the ORDER the filter relies on — the
    // repetitive variant must compress strictly better — plus sane bounds.
    // A broken deflate (constant length, identity) flips every row's flag.
    QueryDef(
      "q_compress_ratio",
      Some("""SELECT doc_id, true AS rep_lt_rnd, true AS ratio_sane
             |FROM documents""".stripMargin),
      (s, dir) => {
        import s.implicits._
        val repSalt = concat($"text", lit(" "),
          repeat(lit("spam ham "), 25))
        val rndSalt = concat(($"text" +: lit(" ") +:
          (1 to 7).map(k => md5(concat($"doc_id", lit(s"#$k"))))): _*)
        val rRep = TextFunctions.compressRatio(repSalt)
        val rRnd = TextFunctions.compressRatio(rndSalt)
        docs(s, dir).select($"doc_id",
          (rRep < rRnd).as("rep_lt_rnd"),
          (rRep > 0.0 && rRnd <= 1.2).as("ratio_sane"))
      }),

    // ------------------------------------------------------------------
    // Zipf slope: OLS fit of ln(freq) on ln(rank) over the top-100 tokens.
    // Natural corpora sit near −1; template/boilerplate floods flatten the
    // head, synthetic or truncated text steepens it — a one-number corpus-
    // health signal next to q_ngram_topk's raw list. Scale shape: one
    // token-count shuffle, then TakeOrderedAndProject for the top-100 (the
    // vocabulary never funnels through a global sort or a one-partition
    // window — ranking happens AFTER the 100-row cut, where a single
    // partition is the point, not a trap). ln() differs ≤ ulp across
    // engines and the 100-term sums reorder → slope snapped 1e-4.
    QueryDef(
      "q_zipf_slope",
      Some("""WITH tok AS (
             |  SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token
             |  FROM documents),
             |cnt AS (SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY 1),
             |top AS (SELECT token, cnt FROM cnt ORDER BY cnt DESC, token LIMIT 100),
             |xy AS (
             |  SELECT ln(CAST(row_number() OVER (ORDER BY cnt DESC, token) AS DOUBLE)) AS x,
             |         ln(CAST(cnt AS DOUBLE)) AS y
             |  FROM top)
             |SELECT CAST(count(*) AS BIGINT) AS n_ranks,
             |  FLOOR((count(*) * sum(x*y) - sum(x) * sum(y))
             |    / (count(*) * sum(x*x) - sum(x) * sum(x)) * 10000 + 0.5) / 10000 AS zipf_slope
             |FROM xy""".stripMargin),
      (s, dir) => {
        import s.implicits._
        val top = docs(s, dir)
          .select(explode(TextFunctions.arrayBarrier(
            TextFunctions.termsAlnum($"text"))).as("token"))
          .groupBy($"token").agg(count(lit(1)).as("cnt"))
          .orderBy($"cnt".desc, $"token").limit(100)
        val xy = top
          .withColumn("rnk",
            row_number().over(Window.orderBy($"cnt".desc, $"token")))
          .select(log($"rnk".cast("double")).as("x"),
            log($"cnt".cast("double")).as("y"))
        xy.agg(count(lit(1)).as("n"), sum($"x" * $"y").as("sxy"),
            sum($"x").as("sx"), sum($"y").as("sy"),
            sum($"x" * $"x").as("sxx"))
          .select($"n".as("n_ranks"),
            (floor(($"n" * $"sxy" - $"sx" * $"sy")
              / ($"n" * $"sxx" - $"sx" * $"sx") * 10000.0 + 0.5) / 10000.0)
              .as("zipf_slope"))
      }),

    // ------------------------------------------------------------------
    // Inverted-index build: token → document frequency + capped posting
    // list (first 20 doc ids) — the search/lookup index a corpus toolchain
    // materializes beside the parquet. The cap is applied BEFORE any list
    // is collected: a row_number over (token, doc_id) keeps 20 rows per
    // token while a same-partition count window carries the FULL df, so a
    // stopword's million-doc posting list never exists in memory — both
    // windows share one token-keyed shuffle and the groupBy reuses its
    // partitioning. Postings ship as a comma-joined sorted string (the
    // q_array_agg convention for array outputs under the hash gate).
    QueryDef(
      "q_inverted_index",
      Some("""WITH t AS (
             |  SELECT doc_id,
             |    list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+')) AS toks
             |  FROM documents),
             |e AS (SELECT doc_id, unnest(toks) AS token FROM t)
             |SELECT token, CAST(count(*) AS BIGINT) AS df,
             |  array_to_string(list_sort(list(doc_id))[1:20], ',') AS postings
             |FROM e GROUP BY token""".stripMargin),
      (s, dir) => {
        import s.implicits._
        val e = docs(s, dir)
          .select($"doc_id", explode(TextFunctions.arrayBarrier(
            array_distinct(TextFunctions.termsAlnum($"text")))).as("token"))
        val wOrd = Window.partitionBy($"token").orderBy($"doc_id")
        val wAll = Window.partitionBy($"token")
        e.withColumn("rn", row_number().over(wOrd))
          .withColumn("full_df", count(lit(1)).over(wAll))
          .where($"rn" <= 20)
          .groupBy($"token")
          .agg(max($"full_df").as("df"),
            array_join(
              transform(array_sort(collect_list($"doc_id")),
                x => x.cast("string")), ",").as("postings"))
      }),

    // ------------------------------------------------------------------
    // Mixture sampling: down-sample sources to target keep rates with a
    // seedless md5-uniform (Corpus.mixtureSample) — reproducible row-level
    // keep set on any partitioning, which is exactly what the full-row
    // DuckDB hash compare certifies. src0 drops entirely, src1/src2/src3
    // keep 25/50/75%, the other 16 sources pass untouched.
    QueryDef(
      "q_mixture_sample",
      Some("""SELECT doc_id, source FROM documents
             |WHERE CASE source
             |  WHEN 'src0' THEN false
             |  WHEN 'src1' THEN substr(md5(source || ':' || CAST(doc_id AS VARCHAR)), 1, 8) < '40000000'
             |  WHEN 'src2' THEN substr(md5(source || ':' || CAST(doc_id AS VARCHAR)), 1, 8) < '80000000'
             |  WHEN 'src3' THEN substr(md5(source || ':' || CAST(doc_id AS VARCHAR)), 1, 8) < 'c0000000'
             |  ELSE true END""".stripMargin),
      (s, dir) => Corpus.mixtureSample(
        docs(s, dir).select(col("doc_id"), col("source")),
        "doc_id", "source",
        Map("src0" -> 0.0, "src1" -> 0.25, "src2" -> 0.5, "src3" -> 0.75))),

    // ------------------------------------------------------------------
    // Temperature re-weighting, materialized (Corpus.weightedRepeat): the
    // multilingual-rebalancing sibling of q_mixture_sample — English
    // down-sampled (r = 0.6), low-resource langs repeated (de 2.5, es 1.75,
    // fr exactly 3), zh unlisted → 1 copy. Factors are literals (keeping
    // pow() out of the distributed plan is what makes this row-exactly
    // oracle-able). Stochastic extra copy decided by
    // the same md5-hex-compare uniform as q_mixture_sample: 0.6 → < 0x9999
    // 9999, 0.5 → < 0x80000000, 0.75 → < 0xc0000000 of 2^32. Map-only +
    // inline sequence explode; full row-level oracle incl. copy indices.
    QueryDef(
      "q_mixture_temperature",
      Some("""WITH c AS (
             |  SELECT doc_id, lang,
             |    CASE lang
             |      WHEN 'en' THEN 0 + CASE WHEN substr(md5(lang || ':' || CAST(doc_id AS VARCHAR)), 1, 8) < '99999999' THEN 1 ELSE 0 END
             |      WHEN 'de' THEN 2 + CASE WHEN substr(md5(lang || ':' || CAST(doc_id AS VARCHAR)), 1, 8) < '80000000' THEN 1 ELSE 0 END
             |      WHEN 'es' THEN 1 + CASE WHEN substr(md5(lang || ':' || CAST(doc_id AS VARCHAR)), 1, 8) < 'c0000000' THEN 1 ELSE 0 END
             |      WHEN 'fr' THEN 3
             |      ELSE 1 END AS n_copies
             |  FROM documents)
             |SELECT doc_id, lang, CAST(n_copies AS BIGINT) AS n_copies,
             |       CAST(copy AS BIGINT) AS copy
             |FROM (SELECT doc_id, lang, n_copies,
             |        unnest(range(1, n_copies + 1)) AS copy
             |      FROM c WHERE n_copies >= 1)""".stripMargin),
      (s, dir) => Corpus.weightedRepeat(
        docs(s, dir).select(col("doc_id"), col("lang")),
        "doc_id", "lang",
        Map("en" -> 0.6, "de" -> 2.5, "es" -> 1.75, "fr" -> 3.0))),

    // ------------------------------------------------------------------
    // Token-budget curation (Corpus.budgetSelect, exact form): per source
    // keep the quality-ranked prefix of docs whose running BPE-ish token
    // total fits the source's budget — "the best data that fits". Budgets
    // exercise a real cut (src0 500, src1 800 ≪ per-source token mass), a
    // no-op ceiling (src2 10M), a zero budget (src3 → source vanishes),
    // and unlisted sources (pass through). Window = ROWS UNBOUNDED
    // PRECEDING..CURRENT ROW over the total (quality DESC, doc_id) order —
    // identical rank arithmetic + integer cumsum in both engines; quality
    // emitted too, IEEE-exact (q_text_quality precedent).
    QueryDef(
      "q_budget_select",
      Some(s"""WITH t AS (
             |  SELECT doc_id, source,
             |    CAST(length(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS INT) AS n_tokens,
             |    $qualityScoreSql
             |      AS quality
             |  FROM documents
             |), c AS (
             |  SELECT *, sum(CAST(n_tokens AS BIGINT)) OVER (
             |    PARTITION BY source ORDER BY quality DESC, doc_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
             |  FROM t)
             |SELECT doc_id, source, n_tokens, quality FROM c
             |WHERE CASE source
             |  WHEN 'src0' THEN cum <= 500
             |  WHEN 'src1' THEN cum <= 800
             |  WHEN 'src2' THEN cum <= 10000000
             |  WHEN 'src3' THEN cum <= 0
             |  ELSE true END""".stripMargin),
      (s, dir) => {
        val annotated = docs(s, dir).select(
          col("doc_id"), col("source"),
          TextFunctions.bpeishTokenCount(col("text")).as("n_tokens"),
          TextFunctions.qualityScore(col("text")).as("quality"))
        Corpus.budgetSelect(annotated, "doc_id", "source", "n_tokens",
          "quality", Map("src0" -> 500L, "src1" -> 800L,
            "src2" -> 10000000L, "src3" -> 0L))
      }),

    // ------------------------------------------------------------------
    // Text stats: length, whitespace, word count. DuckDB len() is BIGINT →
    // CAST to INT to match Spark's IntegerType.
    QueryDef(
      "q_text_stats",
      Some("""SELECT doc_id,
             |  CAST(length(text) AS INT) AS len_chars,
             |  CAST(length(text) - length(replace(text, ' ', '')) AS INT) AS n_spaces,
             |  CAST(length(regexp_extract_all(lower(text), '[a-z0-9]+')) AS INT) AS n_words
             |FROM documents""".stripMargin),
      (s, dir) => {
        import s.implicits._
        docs(s, dir).select(
          $"doc_id",
          length($"text").as("len_chars"),
          (length($"text") - length(regexp_replace($"text", " ", ""))).as("n_spaces"),
          TextFunctions.wordCount($"text").as("n_words"))
      }),

    // ------------------------------------------------------------------
    // Sentence-level prose stats (TextFunctions.sentenceCount): sentence
    // count as terminal-punctuation runs, question count, and
    // words-per-sentence — the Gopher-style quality signal boilerplate
    // skews hard in either direction. Map-only; the single double division
    // is IEEE-exact in both engines.
    QueryDef(
      "q_sentence_stats",
      Some("""SELECT doc_id,
             |  CAST(length(regexp_extract_all(text, '[.!?]+')) AS INT) AS n_sentences,
             |  CAST(length(regexp_extract_all(text, '\?')) AS INT) AS n_questions,
             |  CAST(length(regexp_extract_all(lower(text), '[a-z0-9]+')) AS DOUBLE)
             |    / GREATEST(length(regexp_extract_all(text, '[.!?]+')), 1) AS words_per_sentence
             |FROM documents""".stripMargin),
      (s, dir) => {
        import s.implicits._
        val nSent = TextFunctions.sentenceCount($"text")
        docs(s, dir).select(
          $"doc_id",
          nSent.as("n_sentences"),
          regexp_count($"text", lit("\\?")).as("n_questions"),
          (TextFunctions.wordCount($"text").cast("double") /
            greatest(nSent, lit(1))).as("words_per_sentence"))
      }),

    // ------------------------------------------------------------------
    // Token counting: BPE-ish pre-tokenizer regex + chars/4 estimate.
    QueryDef(
      "q_token_count",
      Some("""SELECT doc_id,
             |  CAST(length(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS INT) AS n_bpeish,
             |  CAST(ceil(length(text) / 4.0) AS INT) AS est_by_chars
             |FROM documents""".stripMargin),
      (s, dir) => {
        import s.implicits._
        docs(s, dir).select(
          $"doc_id",
          TextFunctions.bpeishTokenCount($"text").as("n_bpeish"),
          TextFunctions.estTokensByChars($"text").as("est_by_chars"))
      }),

    // ------------------------------------------------------------------
    // Training-data chunking — [[Corpus.chunk]] (map-only, shuffle-free;
    // plan-asserted in PlanSpec, reassembly-lossless in PropertySpec).
    // Oracle: DuckDB range() is end-exclusive ≡ sequence(0, n-1); both
    // slices are 1-based and clamp at the array end; zero-term docs emit
    // zero chunks in both engines (empty range ≡ the size()>0 gate).
    QueryDef(
      "q_chunk_docs",
      Some("""WITH t AS (
             |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
             |  FROM documents),
             |c AS (
             |  SELECT doc_id, toks,
             |         unnest(range(0, CAST(ceil(len(toks) / 32.0) AS BIGINT))) AS chunk_id
             |  FROM t)
             |SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
             |  array_to_string(toks[chunk_id*32 + 1 : chunk_id*32 + 32], ' ') AS chunk_text,
             |  CAST(least(len(toks) - chunk_id*32, 32) AS INT) AS n_tokens
             |FROM c""".stripMargin),
      (s, dir) => Corpus.chunk(docs(s, dir), "doc_id", "text", chunkSize = 32)),

    // ------------------------------------------------------------------
    // Overlapping context windows — [[Corpus.chunk]] at stride 16 < 32:
    // consecutive chunks share 16 tokens (the LLM training overlap
    // convention). Window count = ceil(n/stride); same map-only shape.
    QueryDef(
      "q_chunk_overlap",
      Some("""WITH t AS (
             |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
             |  FROM documents),
             |c AS (
             |  SELECT doc_id, toks,
             |         unnest(range(0, CAST(ceil(len(toks) / 16.0) AS BIGINT))) AS chunk_id
             |  FROM t)
             |SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
             |  array_to_string(toks[chunk_id*16 + 1 : chunk_id*16 + 32], ' ') AS chunk_text,
             |  CAST(least(len(toks) - chunk_id*16, 32) AS INT) AS n_tokens
             |FROM c""".stripMargin),
      (s, dir) => Corpus.chunk(docs(s, dir), "doc_id", "text",
        chunkSize = 32, stride = 16)),

    // ------------------------------------------------------------------
    // Content-defined chunking (Corpus.cdcChunks): boundaries where the
    // rolling 3-term md5-prefix hash hits 0 mod 8, so an edit disturbs
    // only the chunks overlapping it and everything else re-emerges
    // byte-identical for chunk-level dedup against a previous crawl —
    // the edit-robustness fixed-size q_chunk_docs cannot have
    // (PropertySpec pins the contrast). Boundary hash = the repo's one
    // portable md5-prefix idiom ⇒ fully DuckDB-oracled; dup counts are
    // one shuffle on the chunk content hash.
    QueryDef(
      "q_chunk_cdc",
      Some("""WITH t AS (
             |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
             |  FROM documents),
             |nz AS (SELECT doc_id, toks FROM t WHERE len(toks) > 0),
             |b AS (
             |  SELECT doc_id, toks,
             |    list_filter(range(3, len(toks)),
             |      i -> CAST('0x' || substr(md5(array_to_string(toks[i-2:i], ' ')), 1, 8) AS BIGINT) % 8 = 0) AS bnds
             |  FROM nz),
             |c AS (
             |  SELECT doc_id, toks, bnds, unnest(range(0, len(bnds) + 1)) AS k
             |  FROM b),
             |s AS (
             |  SELECT doc_id, CAST(k AS INT) AS chunk_id,
             |    array_to_string(toks[
             |      (CASE WHEN k = 0 THEN 1 ELSE bnds[k] + 1 END) :
             |      (CASE WHEN k = len(bnds) THEN len(toks) ELSE bnds[k + 1] END)], ' ') AS chunk_text,
             |    CAST((CASE WHEN k = len(bnds) THEN len(toks) ELSE bnds[k + 1] END)
             |      - (CASE WHEN k = 0 THEN 1 ELSE bnds[k] + 1 END) + 1 AS INT) AS n_tokens
             |  FROM c)
             |SELECT doc_id, chunk_id, chunk_text, n_tokens,
             |  CAST(count(*) OVER (PARTITION BY md5(chunk_text)) AS BIGINT) AS n_chunk_dups
             |FROM s""".stripMargin),
      (s, dir) => Corpus.cdcChunks(docs(s, dir), "doc_id", "text",
        window = 3, divisor = 8)),

    // ------------------------------------------------------------------
    // Count-min-sketch heavy hitters — the third member of the sketch
    // family (HLL distinct ✓, approx_percentile ✓): ONE mergeable-aggregate
    // pass ships a fixed (depth × width) counter array per partition
    // instead of a full token histogram — at 100 TB the sketch is KBs while
    // the exact histogram is the vocabulary. The exact top-20 (computed
    // here as ground truth alongside) answer their counts from the
    // deserialized sketch on the driver. PROPERTY oracle: the emitted rows
    // are the exact top-20 (ANSI-recomputable: same tokenizer, same
    // (n DESC, token) tie-break), plus one `bounds_ok` flag asserting the
    // CMS contract over the whole set — exact ≤ est structurally, and
    // est ≤ exact + εN with ≤1 violation allowed (each lookup holds only
    // with confidence 0.99, so over 20 tokens one excursion is
    // spec-compliant — the same allowance ApproxSpec encodes). DuckDB
    // recomputes the top-20 and expects a literal TRUE.
    // NOTE this query executes two actions during DataFrame construction
    // (sketch head() + top-20 collect()) — eagerly side-effecting where
    // all other queries are lazy, documented for anyone timing
    // plan-construction.
    QueryDef(
      "q_heavy_hitters_sketch",
      Some("""WITH t AS (
             |  SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
             |                x -> len(x) > 0)) AS token
             |  FROM documents)
             |SELECT token, CAST(count(*) AS BIGINT) AS n_exact, true AS bounds_ok
             |FROM t GROUP BY token
             |ORDER BY n_exact DESC, token LIMIT 20""".stripMargin),
      (s, dir) => {
        import s.implicits._
        val eps = 0.001
        val toks = docs(s, dir)
          .select(explode(TextFunctions.arrayBarrier(
            TextFunctions.tokens($"text"))).as("token"))
        // sketch + stream length N in ONE aggregation pass
        val row = toks
          .agg(expr(s"count_min_sketch(token, ${eps}d, 0.99d, 42)"),
            count(lit(1)))
          .head()
        val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
          new java.io.ByteArrayInputStream(row.getAs[Array[Byte]](0)))
        val totalN = row.getLong(1)
        // exact top-20 ground truth; the sketch answers their counts on the
        // driver (20 lookups against a KB-sized structure — no UDF, no
        // second distributed pass)
        val top = toks.groupBy($"token").agg(count(lit(1)).as("n_exact"))
          .orderBy($"n_exact".desc, $"token").limit(20).collect()
          .map(r => (r.getString(0), r.getLong(1),
            cms.estimateCount(r.getString(0))))
        val under = top.count { case (_, exact, est) => est < exact }
        val over = top.count { case (_, exact, est) => est > exact + eps * totalN }
        top.map { case (tok, exact, _) => (tok, exact) }
          .toSeq.toDF("token", "n_exact")
          .withColumn("bounds_ok", lit(under == 0 && over <= 1))
      }),

    // ------------------------------------------------------------------
    // Sequence packing — [[Corpus.packSequences]]: chunks greedily packed
    // into capacity-256 training sequences (one co-locating exchange + a
    // partition-local mapPartitions pass). FULLY oracled: packing groups
    // derive from md5 of the doc id (the shardAssign trick) instead of
    // Spark murmur3, so the greedy first-fit fold is engine-invariant and
    // DuckDB replays it exactly — groups via
    // the same hex-parse, the in-group (doc, chunk) order via row_number,
    // and the stateful fold (bin closes when the next chunk doesn't fit;
    // counters reset per group) as a recursive CTE advancing one row per
    // group per step. Output = per-sequence fill stats, the padding-waste
    // audit a training pipeline reads. The packing invariants (coverage,
    // capacity, prefix fill, rerun determinism) stay ScalaTest-gated in
    // CorpusSpec on top.
    QueryDef(
      "q_pack_sequences",
      Some(s"""WITH RECURSIVE ${packCtes("documents", chunkSize = 32,
                 capacity = 256, nGroups = 16)}
             |$packStatsSelect""".stripMargin),
      (s, dir) => packStats(s, dir, docs(s, dir))),

    // ------------------------------------------------------------------
    // MATERIALIZED packing (Corpus.materializePacked): the pack assignment
    // joined back to the chunk text — one row per training sequence with
    // its concatenated text in (doc, chunk) order, the physical artifact a
    // training job writes, with the trainer-facing boundary metadata (chunk offsets, per-doc boundaries, loss-mask
    // spans — token offsets, [start,end) half-open, ';'-joined strings so
    // the hash compare covers them byte-for-byte). Fully oracled: DuckDB
    // replays the recursive pack, re-slices each chunk's tokens,
    // string_agg's them in the same order, and re-derives the offsets with
    // the same running-sum window.
    QueryDef(
      "q_pack_materialize",
      Some(s"""WITH RECURSIVE ${packCtes("documents", chunkSize = 32,
                 capacity = 256, nGroups = 16)},
             |ptext AS (
             |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
             |  FROM documents),
             |pctext AS (
             |  SELECT c.doc_id, c.chunk_id, c.n_tokens,
             |    array_to_string(x.t[c.chunk_id*32+1 : c.chunk_id*32+32], ' ') AS chunk_text
             |  FROM pc2 c JOIN ptext x ON c.doc_id = x.doc_id),
             |pjoin AS (
             |  SELECT CAST(p.grp AS BIGINT) * 1099511627776 + p.seq AS seq_id,
             |    t.doc_id, t.chunk_id, t.n_tokens, t.chunk_text
             |  FROM ppack p JOIN pctext t
             |    ON p.doc_id = t.doc_id AND p.chunk_id = t.chunk_id),
             |poff AS (
             |  SELECT *,
             |    COALESCE(SUM(n_tokens) OVER (PARTITION BY seq_id
             |      ORDER BY doc_id, chunk_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tok_start,
             |    (LAG(doc_id) OVER (PARTITION BY seq_id
             |      ORDER BY doc_id, chunk_id) IS DISTINCT FROM doc_id) AS doc_head
             |  FROM pjoin),
             |poff2 AS (
             |  SELECT *, tok_start + n_tokens AS tok_end,
             |    MIN(tok_start) OVER (PARTITION BY seq_id, doc_id) AS doc_start,
             |    MAX(tok_start + n_tokens) OVER (PARTITION BY seq_id, doc_id) AS doc_end
             |  FROM poff)
             |SELECT seq_id,
             |  CAST(count(*) AS BIGINT) AS n_chunks,
             |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
             |  string_agg(chunk_text, ' ' ORDER BY doc_id, chunk_id) AS seq_text,
             |  string_agg(doc_id || ':' || chunk_id || ':' || tok_start || '-' || tok_end,
             |    ';' ORDER BY doc_id, chunk_id) AS chunk_offsets,
             |  string_agg(CASE WHEN doc_head THEN doc_id || ':' || doc_start || '-' || doc_end END,
             |    ';' ORDER BY doc_id, chunk_id) AS doc_boundaries,
             |  string_agg(CASE WHEN doc_head THEN doc_start || '-' || doc_end END,
             |    ';' ORDER BY doc_id, chunk_id) AS loss_mask_spans
             |FROM poff2
             |GROUP BY 1""".stripMargin),
      (s, dir) => {
        val chunks = Corpus.chunk(packTruthSlice(s, dir, docs(s, dir)),
          "doc_id", "text", chunkSize = 32)
        val packed = Corpus.packSequences(chunks, "doc_id", "chunk_id",
          "n_tokens", capacity = 256, nPartitions = 16)
        Corpus.materializePacked(chunks, packed, "doc_id", "chunk_id")
      }),

    // ------------------------------------------------------------------
    // Order-invariant corpus checksum (Corpus.contentChecksum): the
    // reproducibility signature a pipeline run signs its output with —
    // bit-XOR of portable per-doc content hashes (raw + normalized) plus
    // the doc count, identical across engines/partitionings/orderings iff
    // the corpora match. One partial-agg pass, 3 scalars. Direct oracle:
    // XOR and the md5-prefix hash are both ANSI-replayable bit-exact.
    QueryDef(
      "q_corpus_checksum",
      Some("""SELECT CAST(count(*) AS BIGINT) AS n_docs,
             |  bit_xor(CAST(concat('0x', substr(md5(text), 1, 15)) AS BIGINT)) AS content_checksum,
             |  bit_xor(CAST(concat('0x', substr(md5(regexp_replace(lower(text), '\s+', ' ', 'g')), 1, 15)) AS BIGINT)) AS normalized_checksum
             |FROM documents""".stripMargin),
      (s, dir) => Corpus.contentChecksum(docs(s, dir), "text")),

    // ------------------------------------------------------------------
    // Snapshot diff (Maintenance.snapshotDiff): per-key added / removed /
    // changed / unchanged between two corpus versions — the refresh driver
    // that lets everything downstream run incrementally (only added+changed
    // re-enter prep; removed retract). The "next" snapshot derives from
    // documents deterministically in BOTH engines: doc_id % 17 == 0 rows
    // dropped, % 13 == 0 rows get ' v2' appended, % 19 == 0 rows re-appear
    // under doc_id + 1000000 — every status is exercised, including the
    // removed-wins-over-changed overlap (13·17 | doc_id). Fingerprints are
    // md5 over per-column md5s (fixed-width hex fragments — no value can
    // imitate the separator or shift a boundary; NULL ≠ '').
    QueryDef(
      "q_corpus_diff",
      Some("""WITH v2 AS (
             |  SELECT doc_id,
             |    CASE WHEN doc_id % 13 = 0 THEN text || ' v2' ELSE text END AS text,
             |    lang
             |  FROM documents WHERE doc_id % 17 <> 0
             |  UNION ALL
             |  SELECT doc_id + 1000000 AS doc_id, text, lang
             |  FROM documents WHERE doc_id % 19 = 0),
             |a AS (SELECT doc_id,
             |        md5(coalesce(md5(text), 'null') || '|' || coalesce(md5(lang), 'null')) AS fp
             |      FROM documents),
             |b AS (SELECT doc_id,
             |        md5(coalesce(md5(text), 'null') || '|' || coalesce(md5(lang), 'null')) AS fp
             |      FROM v2)
             |SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
             |  CASE WHEN a.fp IS NULL THEN 'added'
             |       WHEN b.fp IS NULL THEN 'removed'
             |       WHEN a.fp <> b.fp THEN 'changed'
             |       ELSE 'unchanged' END AS status
             |FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id""".stripMargin),
      (s, dir) => {
        import s.implicits._
        val v1 = docs(s, dir)
        val v2 = v1.where($"doc_id" % 17 =!= 0)
          .withColumn("text",
            when($"doc_id" % 13 === 0, concat($"text", lit(" v2")))
              .otherwise($"text"))
          .unionByName(v1.where($"doc_id" % 19 === 0)
            .withColumn("doc_id", $"doc_id" + 1000000L))
        graft.etl.Maintenance.snapshotDiff(v1, v2,
          Seq("doc_id"), Seq("text", "lang"))
      }),

    // ------------------------------------------------------------------
    // Per-column table profile (Validate.profile): the dataset card a
    // corpus drop ships with — rows / nulls / exact distincts /
    // lexicographic min-max per column, through one string-rendered stack
    // of the table. Two-stage aggregation: (col, value) first (map-side
    // combine, no Expand, no |cols|-key skew), then per column. documents
    // has no float columns, so the string rendering is engine-exact.
    QueryDef(
      "q_profile_table",
      Some("""WITH p AS (
             |  SELECT 'doc_id' AS col_name, CAST(doc_id AS VARCHAR) AS v FROM documents
             |  UNION ALL SELECT 'text', text FROM documents
             |  UNION ALL SELECT 'lang', lang FROM documents
             |  UNION ALL SELECT 'source', source FROM documents
             |  UNION ALL SELECT 'n_chars', CAST(n_chars AS VARCHAR) FROM documents),
             |g AS (SELECT col_name, v, CAST(count(*) AS BIGINT) AS cnt
             |      FROM p GROUP BY 1, 2)
             |SELECT col_name,
             |  CAST(sum(cnt) AS BIGINT) AS n_rows,
             |  CAST(sum(CASE WHEN v IS NULL THEN cnt ELSE 0 END) AS BIGINT) AS n_nulls,
             |  CAST(count(v) AS BIGINT) AS n_distinct,
             |  min(v) AS min_str,
             |  max(v) AS max_str
             |FROM g GROUP BY col_name""".stripMargin),
      (s, dir) => graft.etl.Validate.profile(docs(s, dir),
        Seq("doc_id", "text", "lang", "source", "n_chars"))),

    // ------------------------------------------------------------------
    // Repetition-ratio quality signal (the Gopher-style repetition gate):
    // 1 − distinct/total terms per doc. Map-only — array_distinct runs
    // inside the scan's codegen; the ratio is one IEEE divide + subtract,
    // exact in both engines (QueryDef determinism rules), so no snapping.
    QueryDef(
      "q_repetition_ratio",
      Some("""WITH t AS (
             |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
             |  FROM documents)
             |SELECT doc_id,
             |  CAST(len(toks) AS INT) AS n_tokens,
             |  CAST(len(list_distinct(toks)) AS INT) AS n_distinct,
             |  CASE WHEN len(toks) > 0
             |       THEN 1.0 - len(list_distinct(toks))::DOUBLE / len(toks)
             |  END AS repetition_ratio
             |FROM t""".stripMargin),
      (s, dir) => {
        import s.implicits._
        docs(s, dir)
          .select($"doc_id", TextFunctions.termsAlnum($"text").as("toks"))
          .select($"doc_id",
            size($"toks").as("n_tokens"),
            size(array_distinct($"toks")).as("n_distinct"),
            when(size($"toks") > 0,
              lit(1.0) - size(array_distinct($"toks")) / size($"toks").cast("double"))
              .as("repetition_ratio"))
      }),

    // ------------------------------------------------------------------
    // Corpus-wide top-k bigrams — the heavy-hitter scan behind n-gram
    // contamination/memorization checks. One explode (barrier-guarded, the
    // Dedup.scala shape) → partial-agg'd count → TakeOrderedAndProject
    // top-20 with a full (n DESC, bigram) tie-break for cross-engine
    // determinism. The groupBy key is the bigram string: at 100 TB the
    // count shuffle moves one (gram, partial n) row per distinct gram per
    // partition — map-side combine does the heavy lifting.
    QueryDef(
      "q_ngram_topk",
      Some("""WITH t AS (
             |  SELECT list_filter(regexp_split_to_array(lower(text), '\s+'),
             |                     x -> len(x) > 0) AS toks
             |  FROM documents),
             |g AS (
             |  SELECT unnest(CASE WHEN len(toks) >= 2
             |    THEN list_transform(range(1, len(toks)),
             |                        i -> array_to_string(toks[i:i+1], ' '))
             |    ELSE [] END) AS bigram
             |  FROM t)
             |SELECT bigram, CAST(count(*) AS BIGINT) AS n
             |FROM g GROUP BY 1
             |ORDER BY n DESC, bigram LIMIT 20""".stripMargin),
      (s, dir) => {
        import s.implicits._
        docs(s, dir)
          .select(TextFunctions.tokens($"text").as("toks"))
          .select(explode(TextFunctions.shinglesNative(
            $"toks", 2, distinct = false)).as("bigram"))
          .groupBy($"bigram")
          .agg(count(lit(1)).as("n"))
          .orderBy($"n".desc, $"bigram")
          .limit(20)
      }),

    // ------------------------------------------------------------------
    // Bigram-LM quality scoring (Lm.bigramScore) — the CCNet-style
    // perplexity filter with an exactly-recomputable count model: mean
    // ln((c(w1w2)+1)/(c(w1)+V)) per doc. Every per-bigram term is
    // IEEE-deterministic (integer counts, one divide, one ln); only the
    // mean's accumulation order varies → snapped 1e-6 (QueryDef rules).
    // Scale shape: the exploded bigram relation is partitioned once on the
    // bigram key (count agg + count join share the Exchange), unigram
    // counts join on the bigram's first word, one doc-keyed re-agg.
    QueryDef(
      "q_lm_score",
      Some("""WITH t AS (
             |  SELECT doc_id,
             |    list_filter(regexp_split_to_array(lower(text), '\s+'),
             |                x -> len(x) > 0) AS toks
             |  FROM documents),
             |ex AS (SELECT unnest(toks) AS w FROM t),
             |uni AS (SELECT w, count(*) AS c1 FROM ex GROUP BY 1),
             |v AS (SELECT count(*) AS vocab FROM uni),
             |bg AS (
             |  SELECT doc_id, unnest(CASE WHEN len(toks) >= 2
             |    THEN list_transform(range(1, len(toks)),
             |                        i -> array_to_string(toks[i:i+1], ' '))
             |    ELSE [] END) AS bigram
             |  FROM t),
             |bc AS (SELECT bigram, count(*) AS cb FROM bg GROUP BY 1),
             |sc AS (
             |  SELECT b.doc_id, ln((c.cb + 1.0) / (u.c1 + v.vocab)) AS logp
             |  FROM bg b
             |  JOIN bc c ON b.bigram = c.bigram
             |  JOIN uni u ON split_part(b.bigram, ' ', 1) = u.w
             |  CROSS JOIN v),
             |agg AS (
             |  SELECT doc_id, count(*) AS n, avg(logp) AS m FROM sc GROUP BY 1)
             |SELECT t.doc_id,
             |  CAST(COALESCE(a.n, 0) AS INT) AS n_bigrams,
             |  FLOOR(a.m * 1000000 + 0.5) / 1000000 AS lm_logp
             |FROM t LEFT JOIN agg a ON t.doc_id = a.doc_id""".stripMargin),
      (s, dir) => Lm.bigramScore(docs(s, dir), "doc_id", "text")),

    // ------------------------------------------------------------------
    // Per-source doc-length quantiles (p25/p50/p90 word counts) — what a
    // curator reads to set chunk sizes and length-filter bounds per
    // source. EXACT order statistics via deterministic window selection
    // (rank ceil(n·q) under total (nw, doc_id) order) — no engine-specific
    // percentile interpolation; the ceil(n·q) double is the same IEEE
    // product in both engines, so even the inexact 0.9 multiplier picks
    // the same rank. One window shuffle keyed on source.
    QueryDef(
      "q_length_quantiles",
      Some("""WITH w AS (
             |  SELECT source, doc_id,
             |    CAST(length(regexp_extract_all(lower(text), '[a-z0-9]+')) AS INT) AS nw
             |  FROM documents),
             |r AS (
             |  SELECT source, nw,
             |    row_number() OVER (PARTITION BY source ORDER BY nw, doc_id) AS rn,
             |    COUNT(*) OVER (PARTITION BY source) AS n
             |  FROM w)
             |SELECT source,
             |  MAX(CASE WHEN rn = CAST(ceil(n * 0.25e0) AS BIGINT) THEN nw END) AS p25_words,
             |  MAX(CASE WHEN rn = CAST(ceil(n * 0.5e0) AS BIGINT) THEN nw END) AS p50_words,
             |  MAX(CASE WHEN rn = CAST(ceil(n * 0.9e0) AS BIGINT) THEN nw END) AS p90_words
             |FROM r GROUP BY source""".stripMargin),
      (s, dir) => {
        import s.implicits._
        val w = docs(s, dir).select($"source", $"doc_id",
          TextFunctions.wordCount($"text").as("nw"))
        val rnW = Window.partitionBy($"source").orderBy($"nw", $"doc_id")
        val nW = Window.partitionBy($"source")
        def at(q: Double) = max(when(
          $"rn" === ceil($"n" * lit(q)).cast("long"), $"nw"))
        w.withColumn("rn", row_number().over(rnW))
          .withColumn("n", count(lit(1)).over(nW))
          .groupBy($"source")
          .agg(at(0.25).as("p25_words"), at(0.50).as("p50_words"),
            at(0.90).as("p90_words"))
      }),

    // ------------------------------------------------------------------
    // Language-ID confusion matrix: labeled lang × predicted lang with
    // cell counts — the eval every classifier heuristic owes its users
    // (which languages the marker argmax actually confuses, and how
    // often). Single-sourced with q_lang_id's SQL twin, so a marker tweak
    // moves the confusion matrix and the per-doc query in lockstep. One
    // map pass + one partial-agg shuffle; all-integer outputs.
    QueryDef(
      "q_lang_confusion",
      Some(s"""WITH h AS (
              |  SELECT doc_id, lang,
              |    $langHitsSql
              |  FROM documents)
              |SELECT lang,
              |  $langArgmaxSql AS predicted_lang,
              |  CAST(COUNT(*) AS BIGINT) AS n
              |FROM h GROUP BY 1, 2""".stripMargin),
      (s, dir) => {
        import s.implicits._
        docs(s, dir)
          .groupBy($"lang",
            TextFunctions.predictedLang($"text").as("predicted_lang"))
          .agg(count(lit(1)).as("n"))
      }),

    // ------------------------------------------------------------------
    // Language-ID heuristic: stopword-marker argmax with fixed tie order.
    QueryDef(
      "q_lang_id",
      Some(s"""WITH h AS (
              |  SELECT doc_id, lang,
              |    $langHitsSql
              |  FROM documents)
              |SELECT doc_id, lang, en_hits, es_hits, de_hits,
              |  $langArgmaxSql AS predicted_lang
              |FROM h""".stripMargin),
      (s, dir) => {
        import s.implicits._
        val hits = TextFunctions.markerHits($"text")
        docs(s, dir).select(
          Seq($"doc_id", $"lang") ++
            hits.map { case (l, c) => c.as(s"${l}_hits") } :+
            TextFunctions.predictedLang($"text").as("predicted_lang"): _*)
      }),

    // ------------------------------------------------------------------
    // Quality scoring: stopword/alpha/length blend. Per-row IEEE arithmetic
    // (counts are exact ints; one division) → deterministic cross-engine.
    QueryDef(
      "q_text_quality",
      Some(s"SELECT doc_id,\n  $qualityScoreSql\n    AS quality_score\nFROM documents"),
      (s, dir) => {
        import s.implicits._
        docs(s, dir).select(
          $"doc_id",
          TextFunctions.qualityScore($"text").as("quality_score"))
      }),

    // ------------------------------------------------------------------
    // Per-source curation rollup: the dashboard a corpus curator reads
    // before touching mixture rates — doc count, mean quality (snapped:
    // double sums order-differ), pass count at the funnel's 0.3 gate, mean
    // words (int sums are exact in double; snap is belt-and-braces), and
    // language spread. One partial-agg shuffle keyed on source.
    QueryDef(
      "q_source_quality",
      Some(s"""WITH q AS (
             |  SELECT source, lang,
             |    $qualityScoreSql
             |      AS qs,
             |    CAST(length(regexp_extract_all(lower(text), '[a-z0-9]+')) AS DOUBLE) AS nw
             |  FROM documents)
             |SELECT source,
             |  CAST(COUNT(*) AS BIGINT) AS n_docs,
             |  FLOOR(SUM(qs) / COUNT(*) * 1000000 + 0.5) / 1000000 AS avg_quality,
             |  CAST(COUNT(CASE WHEN qs >= 0.3 THEN 1 END) AS BIGINT) AS n_pass,
             |  FLOOR(SUM(nw) / COUNT(*) * 1000000 + 0.5) / 1000000 AS avg_words,
             |  CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
             |FROM q GROUP BY source""".stripMargin),
      (s, dir) => {
        import s.implicits._
        docs(s, dir)
          .select($"source", $"lang",
            TextFunctions.qualityScore($"text").as("qs"),
            TextFunctions.wordCount($"text").cast("double").as("nw"))
          .groupBy($"source")
          .agg(
            count(lit(1)).as("n_docs"),
            snap6(sum($"qs") / count(lit(1))).as("avg_quality"),
            count(when($"qs" >= 0.3, 1)).as("n_pass"),
            snap6(sum($"nw") / count(lit(1))).as("avg_words"),
            countDistinct($"lang").as("n_langs"))
      }),

    // ------------------------------------------------------------------
    // Duplication provenance summary: how much exact duplication exists
    // and whether it CROSSES sources — same text syndicated under several
    // sources is the provenance-leakage signal that decides whether dedup
    // must run globally or can shard per source (a cross_source_groups of
    // zero licenses the much cheaper per-source-sharded dedup). One
    // content-hash shuffle then a scalar fold; all-integer outputs, no
    // float drift possible.
    QueryDef(
      "q_dup_provenance",
      Some("""WITH g AS (
             |  SELECT md5(text) AS h, COUNT(*) AS n, COUNT(DISTINCT source) AS ns
             |  FROM documents GROUP BY 1)
             |SELECT
             |  CAST(COUNT(CASE WHEN n > 1 THEN 1 END) AS BIGINT) AS dup_groups,
             |  CAST(COALESCE(SUM(CASE WHEN n > 1 THEN n END), 0) AS BIGINT) AS docs_in_dup_groups,
             |  CAST(COUNT(CASE WHEN ns > 1 THEN 1 END) AS BIGINT) AS cross_source_groups,
             |  CAST(MAX(n) AS BIGINT) AS max_group,
             |  CAST(MAX(ns) AS BIGINT) AS max_sources
             |FROM g""".stripMargin),
      (s, dir) => {
        import s.implicits._
        docs(s, dir)
          .groupBy(md5($"text").as("h"))
          .agg(count(lit(1)).as("n"), countDistinct($"source").as("ns"))
          .agg(
            count(when($"n" > 1, 1)).as("dup_groups"),
            coalesce(sum(when($"n" > 1, $"n")), lit(0L)).as("docs_in_dup_groups"),
            count(when($"ns" > 1, 1)).as("cross_source_groups"),
            max($"n").as("max_group"),
            max($"ns").as("max_sources"))
      }),

    // ------------------------------------------------------------------
    // Per-language quality-quantile gate (the CCNet/RedPajama-style "keep
    // the top fraction per language" filter — an absolute threshold would
    // silently starve languages whose score distribution sits lower).
    // Exact-rank form: percent_rank over (lang, quality DESC, doc_id) with
    // full tie-break, so both rank and the kept set are deterministic and
    // the (rank-1)/(n-1) double is bit-identical cross-engine. One window
    // shuffle keyed on lang; at 100 TB the same gate runs as a two-pass
    // approx-percentile threshold join instead (per-lang thresholds are a
    // tiny broadcast) — the exact-rank form here is what certifies that
    // path's semantics.
    QueryDef(
      "q_quality_quantile",
      Some(s"""WITH q AS (
             |  SELECT doc_id, lang,
             |    $qualityScoreSql
             |      AS qs
             |  FROM documents)
             |SELECT doc_id, lang, qs, pr FROM (
             |  SELECT doc_id, lang, qs,
             |    percent_rank() OVER (PARTITION BY lang ORDER BY qs DESC, doc_id) AS pr
             |  FROM q)
             |WHERE pr <= 0.5""".stripMargin),
      (s, dir) => {
        import s.implicits._
        val q = docs(s, dir).select($"doc_id", $"lang",
          TextFunctions.qualityScore($"text").as("qs"))
        val w = Window.partitionBy($"lang").orderBy($"qs".desc, $"doc_id")
        q.withColumn("pr", percent_rank().over(w)).where($"pr" <= 0.5)
      }),

    // ------------------------------------------------------------------
    // BPE round-0 pair statistics — [[Bpe.initialPairCounts]]: weighted
    // adjacent-char pair counts over the word-frequency table (vocab-sized
    // after the one corpus scan — the shape that makes BPE training cheap
    // at scale). Top-20 under a total order (cnt DESC, pair ASC) so LIMIT
    // is deterministic cross-engine. DuckDB SUM returns HUGEINT → cast.
    QueryDef(
      "q_bpe_pairs",
      Some("""WITH w AS (
             |  SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word
             |  FROM documents),
             |wf AS (
             |  SELECT word, COUNT(*) AS freq FROM w GROUP BY word),
             |p AS (
             |  SELECT substr(word, CAST(i AS INT), 1) AS left_sym,
             |         substr(word, CAST(i AS INT) + 1, 1) AS right_sym, freq
             |  FROM wf, unnest(range(1, length(word))) AS t(i))
             |SELECT left_sym, right_sym, CAST(SUM(freq) AS BIGINT) AS cnt
             |FROM p GROUP BY left_sym, right_sym
             |ORDER BY cnt DESC, left_sym, right_sym LIMIT 20""".stripMargin),
      (s, dir) => {
        import s.implicits._
        Bpe.initialPairCounts(docs(s, dir), "text")
          .orderBy($"cnt".desc, $"left_sym", $"right_sym")
          .limit(20)
      }),

    // ------------------------------------------------------------------
    // CORPUS tokenization under a shipped merge table (Bpe.encode): real
    // per-doc token counts from the trained tokenizer, replacing
    // q_token_count's regex estimate. The merge table here is a FIXED
    // literal (production encodes with a SHIPPED tokenizer; the
    // train→encode composition is BpeSpec's job), which is what makes the
    // full DuckDB oracle possible: greedy left-to-right disjoint pair
    // merging over a symbol array ≡ non-overlapping global regexp_replace
    // of '\bA B\b'→'AB' on the space-joined symbol string, applied once
    // per merge in order (regex scans resume AFTER each replacement —
    // exactly the fold's disjointness; symbols are alnum so \b can never
    // split one). Both engines then just count symbols. An INDEPENDENT
    // re-derivation: Spark folds per-symbol aggregates, DuckDB rewrites
    // strings — agreement pins the merge semantics, not the encoding.
    QueryDef(
      "q_bpe_encode",
      Some(s"""WITH words AS (
             |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
             |  FROM documents)
             |SELECT doc_id,
             |  CAST(len(ws) AS BIGINT) AS n_words,
             |  CAST(COALESCE(list_sum(list_transform(ws, w ->
             |    len(string_split($bpeEncodeRegexSql, ' ')))), 0) AS BIGINT) AS n_tokens
             |FROM words""".stripMargin),
      (s, dir) => Bpe.encode(docs(s, dir), "doc_id", "text", bpeEncodeMerges)),

    // ------------------------------------------------------------------
    // OOV-FREE tokenization (Bpe.encodeFallback): the whitespace tokenizer
    // keeps punctuation/diacritics and every character outside the trained
    // [a-z0-9] alphabet counts as its UTF-8 `<0xNN>` byte tokens — the
    // GPT-2-style byte-level escape hatch that makes encoding total. Same
    // independent-re-derivation oracle as q_bpe_encode (Spark folds symbol
    // arrays, DuckDB rewrites strings), with the byte expansion replayed
    // via hex(encode(char)) in both engines. The input unions one
    // synthetic mixed-content row (punctuation, quotes, a multibyte é)
    // because the fixture corpus is clean alnum prose — without it the
    // fallback branch would be dead in the oracle. The synthetic id is
    // NEGATIVE: doc_ids are non-negative at every scale, so it can never
    // collide with a real document (a positive id can — encodeFallback's
    // doc-keyed aggregation then merges the two texts' counts while the
    // per-row oracle keeps them apart).
    QueryDef(
      "q_bpe_fallback",
      // the replay guard slices only the DOCUMENTS leg (the byte-expansion
      // replay is the costliest per-byte oracle in the suite); the
      // synthetic mixed-content row stays unconditional, so the fallback
      // branch is live at every scale
      Some(s"""WITH inp AS (
             |  SELECT doc_id, text FROM documents
             |  $docReplayGuardSql
             |  UNION ALL
             |  SELECT -1, 'Trained: café & "quoted" tokens, the-end!'),
             |words AS (
             |  SELECT doc_id,
             |    list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> len(x) > 0) AS ws
             |  FROM inp)
             |SELECT doc_id,
             |  CAST(len(ws) AS BIGINT) AS n_words,
             |  CAST(COALESCE(list_sum(list_transform(ws, w ->
             |    len(string_split($bpeFallbackRegexSql, ' ')))), 0) AS BIGINT) AS n_tokens
             |FROM words""".stripMargin),
      (s, dir) => {
        import s.implicits._
        val input = packTruthSlice(s, dir, docs(s, dir))
          .select($"doc_id", $"text")
          .unionByName(Seq(
            (-1L, "Trained: café & \"quoted\" tokens, the-end!"))
            .toDF("doc_id", "text"))
        Bpe.encodeFallback(input, "doc_id", "text", bpeEncodeMerges, bpeAlphabet)
      }),

    // ------------------------------------------------------------------
    // Deterministic training-shard assignment — [[Corpus.shardAssign]]:
    // seedless md5 coordinates make the (shard, shard_pos) permutation
    // bit-stable across engines/partitionings, so BOTH coordinates sit
    // under the full hash oracle (row_number ties broken by doc_id; the
    // md5 hex order is total to begin with). One window shuffle keyed on
    // shard; the shard column itself is map-only.
    QueryDef(
      "q_shard_assign",
      Some("""WITH h AS (
             |  SELECT doc_id,
             |    md5(CAST(doc_id AS VARCHAR)) AS hx,
             |    CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 16 AS INT) AS shard,
             |    CAST(length(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS INT) AS n_bpeish
             |  FROM documents)
             |SELECT doc_id, shard,
             |  CAST(row_number() OVER (PARTITION BY shard ORDER BY hx, doc_id) - 1 AS INT) AS shard_pos,
             |  n_bpeish
             |FROM h""".stripMargin),
      (s, dir) => {
        import s.implicits._
        Corpus.shardAssign(docs(s, dir), "doc_id", nShards = 16)
          .select($"doc_id", $"shard", $"shard_pos",
            TextFunctions.bpeishTokenCount($"text").as("n_bpeish"))
      }),

    // ------------------------------------------------------------------
    // Deterministic train/val/test split (Corpus.splitAssign): bucket from
    // the first 8 md5 hex digits of 'split:' || id vs cumulative-fraction
    // thresholds — 0.8 → floor(0.8·2^32) = 0xcccccccc, 0.9 → 0xe6666666
    // (Corpus.thresholdHex's clamp-and-format, literal here like
    // q_mixture_sample's). Map-only; membership never reshuffles when rows
    // come or go, unlike any random-number split. Salt differs from the
    // mixture uniform's 'source:id' so sampling and split stay independent.
    QueryDef(
      "q_split_assign",
      Some("""SELECT doc_id, source,
             |  CASE WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8) < 'cccccccc' THEN 'train'
             |       WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8) < 'e6666666' THEN 'val'
             |       ELSE 'test' END AS split
             |FROM documents""".stripMargin),
      (s, dir) => Corpus.splitAssign(
        docs(s, dir).select(col("doc_id"), col("source")),
        "doc_id", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))),

    // ------------------------------------------------------------------
    // Cross-split leakage audit: q_decontaminate guards against an
    // EXTERNAL benchmark; this closes the internal hole — a val/test doc
    // whose ≥0.9-Jaccard near-dup landed in train makes the eval split
    // lie, and a hash split assigns copies independently so it WILL
    // happen. Composes the two single-sourced relations (split CASE +
    // jaccardPairsCte) into: per eval doc, the count of its train-side
    // near-dup partners + the leak flag. The split criterion and pair
    // truth are the exact forms their own gates certify, so this query is
    // fully hash-oracled. Scale shape: splitAssign is map-only, pairs are
    // the bucketed candidate machinery, and the membership probe is one
    // doc-keyed join.
    QueryDef(
      "q_split_leakage",
      Some(s"""WITH $jaccardPairsCte, sp AS (
             |  SELECT doc_id,
             |    CASE WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8) < 'cccccccc' THEN 'train'
             |         WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8) < 'e6666666' THEN 'val'
             |         ELSE 'test' END AS split
             |  FROM documents),
             |und AS (
             |  SELECT doc_a AS a, doc_b AS b FROM pairs
             |  WHERE $jaccardSql >= 0.9
             |  UNION ALL
             |  SELECT doc_b, doc_a FROM pairs
             |  WHERE $jaccardSql >= 0.9),
             |l AS (
             |  SELECT u.a AS doc_id, CAST(count(*) AS BIGINT) AS n
             |  FROM und u JOIN sp pt ON pt.doc_id = u.b AND pt.split = 'train'
             |  GROUP BY 1)
             |SELECT e.doc_id, e.split,
             |  COALESCE(l.n, 0) AS n_train_dups,
             |  l.n IS NOT NULL AS leaked
             |FROM (SELECT doc_id, split FROM sp WHERE split <> 'train') e
             |LEFT JOIN l ON e.doc_id = l.doc_id""".stripMargin),
      (s, dir) => {
        import s.implicits._
        val d = docs(s, dir)
        val sp = Corpus.splitAssign(d.select($"doc_id"), "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        val p = Dedup.jaccardPairs(d, "doc_id", "text")
          .where($"n_inter".cast("double")
            / ($"n_a" + $"n_b" - $"n_inter").cast("double") >= 0.9)
        val und = p.select($"doc_a".as("a"), $"doc_b".as("b"))
          .unionByName(p.select($"doc_b".as("a"), $"doc_a".as("b")))
        val leaks = und
          .join(sp.where($"split" === "train").select($"doc_id".as("b")), "b")
          .groupBy($"a").agg(count(lit(1)).as("n"))
        sp.where($"split" =!= "train")
          .join(leaks, sp("doc_id") === leaks("a"), "left")
          .select($"doc_id", $"split",
            coalesce($"n", lit(0L)).as("n_train_dups"),
            $"n".isNotNull.as("leaked"))
      }),

    // ------------------------------------------------------------------
    // Document fingerprinting. FULLY oracled via the portable
    // md5-derived fingerprint (TextFunctions.fingerprintPortable — same
    // normalize-then-hash semantics, ANSI-replayable hash); the xxhash64
    // production form stays spec-gated in OperatorsSpec. `fingerprint`
    // survives case/whitespace edits, `raw_hash` keys the exact bytes.
    QueryDef(
      "q_fingerprint",
      Some("""SELECT doc_id,
             |  CAST(concat('0x', substr(md5(regexp_replace(lower(text), '\s+', ' ', 'g')), 1, 15)) AS BIGINT) AS fingerprint,
             |  CAST(concat('0x', substr(md5(text), 1, 15)) AS BIGINT) AS raw_hash
             |FROM documents""".stripMargin),
      (s, dir) => {
        import s.implicits._
        docs(s, dir).select(
          $"doc_id",
          TextFunctions.fingerprintPortable($"text").as("fingerprint"),
          TextFunctions.md5PrefixLong($"text", 15).as("raw_hash"))
      }),

    // ------------------------------------------------------------------
    // Winnowing rolling-hash fingerprints (native O(n) expression; MOSS).
    // Oracled via the full DuckDB re-derivation in [[winnowFpsCte]] — the
    // strongest check in the inventory: an independent engine recomputes the
    // rolling hash AND the window selection bit-for-bit. Declared shape is
    // scalar-only — exploded
    // (doc_id, fp_pos, fingerprint) rows — because the external compare sorts
    // by column values and cannot order a raw array<bigint> cell. posexplode
    // keeps per-document ordering observable; _outer keeps fingerprint-less
    // docs (short texts) visible as a NULL row instead of vanishing.
    // longArrayBarrier stops InferFiltersFromGenerate from re-evaluating the
    // whole winnow chain inside a pushed-down per-row filter (measured 17×
    // on the analogous shingle explode).
    QueryDef(
      "q_fingerprint_winnow",
      Some(s"""$winnowFpsCte
             |SELECT doc_id, u.fp_pos AS fp_pos, u.fingerprint AS fingerprint FROM (
             |  SELECT doc_id, unnest(list_transform(range(1, len(fp)+1),
             |    t -> struct_pack(fp_pos := CAST(t-1 AS INT), fingerprint := fp[t]))) AS u
             |  FROM fps)""".stripMargin),
      (s, dir) => {
        import s.implicits._
        packTruthSlice(s, dir, docs(s, dir))
          .select(
            $"doc_id",
            TextFunctions.longArrayBarrier(
              TextFunctions.winnowFingerprints($"text")).as("fps"))
          .select(
            $"doc_id",
            posexplode_outer($"fps").as(Seq("fp_pos", "fingerprint")))
      }),

    // ------------------------------------------------------------------
    // Winnow near-dup pairs: substring-level overlap via shared fingerprints.
    // Oracled off the same [[winnowFpsCte]]: distinct fingerprints per doc,
    // rare-fingerprint candidates (df in [2,20] ≡ PairGen's count-first
    // filter), pair counts with the >= 2 shared floor.
    QueryDef(
      "q_dedup_winnow",
      Some(s"""$winnowFpsCte, dfp AS (
             |  SELECT doc_id, unnest(list_distinct(fp)) AS f FROM fps
             |), keepf AS (
             |  SELECT f FROM dfp GROUP BY 1 HAVING count(*) BETWEEN 2 AND 20
             |)
             |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS n_shared
             |FROM dfp a JOIN keepf k ON a.f = k.f
             |           JOIN dfp b ON b.f = a.f AND a.doc_id < b.doc_id
             |GROUP BY 1, 2
             |HAVING count(*) >= 2""".stripMargin),
      (s, dir) => Dedup.winnowPairs(packTruthSlice(s, dir, docs(s, dir)),
        "doc_id", "text")),

    // ------------------------------------------------------------------
    // TF-IDF: top-5 salient terms per document. tf and df are exact counts
    // (df derived FROM the tf relation — one doc-term dedup serves both, no
    // second corpus pass); N rides in as a broadcast 1-row agg. Ranking uses
    // only exact keys (tf DESC, df ASC, term) so the top-5 cut never depends
    // on float comparison; the tf·ln((N+1)/(df+1)) score itself is emitted
    // snapped at 1e-4 (engines' ln() differ by ≤1–2 ulp ≈ 1e-15 relative —
    // far inside the snap). rnk<=5 plans as WindowGroupLimit.
    QueryDef(
      "q_tfidf",
      Some("""WITH tok AS (
             |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
             |  FROM documents),
             |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM tok GROUP BY 1, 2),
             |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
             |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
             |scored AS (
             |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
             |    row_number() OVER (PARTITION BY tf.doc_id
             |                       ORDER BY tf.tf DESC, df.df ASC, tf.term ASC) AS rnk,
             |    FLOOR(tf.tf * ln((n.n + 1.0) / (df.df + 1.0)) * 10000 + 0.5) / 10000 AS tfidf
             |  FROM tf JOIN df USING (term), n)
             |SELECT doc_id, term, tf, df, CAST(rnk AS INT) AS rnk, tfidf
             |FROM scored WHERE rnk <= 5""".stripMargin),
      (s, dir) => {
        import s.implicits._
        val d = docs(s, dir)
        val tok = d.select($"doc_id",
          explode(TextFunctions.arrayBarrier(
            TextFunctions.termsAlnum($"text"))).as("term"))
        // explicit isNotNull (vacuous post-explode): the df join would
        // otherwise infer it into its leg only, de-canonicalizing the two
        // consumers of tf and re-running the tokenize subtree (the
        // q_source_divergence lesson; measured 2 corpus scans → 1)
        val tf = tok.where($"term".isNotNull)
          .groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
        // the zero-valued guard term forces this leg to read tf's count
        // column (the Dedup.pruneGuard pattern): otherwise column pruning
        // rewrites the upstream agg to keys-only, the partial-agg subtrees
        // diverge, and the tokenize+exchange runs twice instead of once
        val dfRel = tf.groupBy($"term").agg(
          (count(lit(1)) +
            coalesce(max(hash($"tf")).cast("long") * lit(0L), lit(0L)))
            .as("df"))
        val n = d.agg(count(lit(1)).as("n"))
        val w = Window.partitionBy($"doc_id")
          .orderBy($"tf".desc, $"df".asc, $"term".asc)
        tf.join(dfRel, "term")
          .crossJoin(broadcast(n))
          .withColumn("rnk", row_number().over(w))
          .where($"rnk" <= 5)
          .select($"doc_id", $"term", $"tf", $"df", $"rnk",
            (floor($"tf" * log(($"n" + 1.0) / ($"df" + 1.0)) * 10000.0 + 0.5)
              / 10000.0).as("tfidf"))
      }),

    // ------------------------------------------------------------------
    // Edit-distance verification of near-dup candidates: exact Levenshtein
    // over 80-char prefixes, but ONLY on the (already-filtered, tiny)
    // Jaccard candidate pairs — O(pairs·80²), never O(n²·len²). The pair
    // list broadcasts into two dim-style joins against documents. Both
    // engines implement unit-cost Levenshtein natively → exact INT compare.
    QueryDef(
      "q_dedup_editdist",
      Some(s"""WITH $jaccardPairsCte, e AS (
             |  SELECT doc_a, doc_b FROM pairs
             |  WHERE $jaccardSql >= 0.3)
             |SELECT e.doc_a, e.doc_b,
             |  CAST(levenshtein(substr(a.text, 1, 80), substr(b.text, 1, 80)) AS INT) AS edit80,
             |  CAST(CASE WHEN levenshtein(substr(a.text, 1, 80), substr(b.text, 1, 80)) <= 20
             |            THEN levenshtein(substr(a.text, 1, 80), substr(b.text, 1, 80))
             |            ELSE -1 END AS INT) AS edit80_bounded
             |FROM e JOIN documents a ON e.doc_a = a.doc_id
             |       JOIN documents b ON e.doc_b = b.doc_id""".stripMargin),
      (s, dir) => {
        import s.implicits._
        val d = docs(s, dir)
        val pairs = Dedup.jaccardPairs(d, "doc_id", "text")
          .select($"doc_a", $"doc_b")
        val ta = d.select($"doc_id".as("doc_a"), substring($"text", 1, 80).as("pa"))
        val tb = d.select($"doc_id".as("doc_b"), substring($"text", 1, 80).as("pb"))
        pairs.join(ta, "doc_a").join(tb, "doc_b")
          .select($"doc_a", $"doc_b", levenshtein($"pa", $"pb").as("edit80"),
            // the at-scale form: threshold arg caps the DP band (O(k·n) not
            // O(n²)) and returns -1 past the bound — the oracle spells the
            // same contract with an unbounded distance + CASE
            levenshtein($"pa", $"pb", 20).as("edit80_bounded"))
      }),

    // ------------------------------------------------------------------
    // MinHash+LSH near-dup pairs. xxhash64 signatures have no DuckDB
    // equivalent, so the PROPERTY oracle emits the exact-Jaccard-verified
    // truth pairs (the rare-shingle relation DuckDB re-derives bit-exact —
    // same CTE as q_dedup_jaccard) plus a recall flag: the MinHash
    // candidate set must cover ≥ 0.7 of truth. Measured recall 1.00 at
    // both sf0.01 and sf0.1 — the fixture's near-dup pairs sit at
    // jaccard ≥ 0.9, where an 8-band×4-row family hits with p ≈ 0.9998
    // per pair, so the 0.7 gate has enormous margin while a broken band
    // hash (recall → 0) still fails loudly.
    certified("q_dedup_minhash", jaccardTruthSql(),
        Seq("doc_a", "doc_b"), gate = 0.7) { (s, dir) =>
      val d = docs(s, dir)
      (jaccardTruth(d), minhashPairs(d))
    },

    // ------------------------------------------------------------------
    // INCREMENTAL MinHash dedup: a "new batch" (doc_id % 5 = 0) probed
    // against the already-indexed rest — the everyday at-scale shape where
    // re-pairing the whole corpus per append is absurd. Same property-
    // oracle pattern as q_dedup_minhash, with the exact-Jaccard truth
    // restricted to pairs involving a new doc (14 truth pairs at sf0.01);
    // recall gate 0.7 like the full job (DedupSpec separately proves the
    // incremental pair set EQUALS the full run filtered to new-involving
    // pairs, so a gate pass here certifies the same hash family through
    // the incremental join path).
    certified("q_dedup_incremental",
        jaccardTruthSql("\n  AND (doc_a % 5 = 0 OR doc_b % 5 = 0)"),
        Seq("doc_a", "doc_b"), gate = 0.7) { (s, dir) =>
      val d = docs(s, dir)
      val truth = jaccardTruth(d)
        .where(col("doc_a") % 5 === 0 || col("doc_b") % 5 === 0)
      (truth, incrementalPairs(d))
    },

    // ------------------------------------------------------------------
    // SimHash near-dup pairs within Hamming distance 3. Same property-
    // oracle shape as q_dedup_minhash: exact-Jaccard truth rows + a recall
    // flag over the SimHash pair set. SimHash answers a different question
    // (cosine over token vectors, not shingle Jaccard), so its recall vs
    // the Jaccard truth is structurally < 1 — measured 0.60 at sf0.01 /
    // 0.74 at sf0.1; gated at 0.3 (half the measured floor) so fixture
    // regeneration noise on a ~25-pair set can't flip the flag while a
    // broken bit-vote or chunk join (recall → 0) still fails.
    certified("q_dedup_simhash", jaccardTruthSql(),
        Seq("doc_a", "doc_b"), gate = 0.3) { (s, dir) =>
      val d = docs(s, dir)
      (jaccardTruth(d), simhashPairs(d))
    },

    // ------------------------------------------------------------------
    // N-gram Jaccard near-dup pairs via rare-shingle candidates. Fully
    // ANSI-expressible (whitespace tokens → 3-gram shingles → df∈[2,20]
    // candidate shingles → pair count → exact int/int division), so it
    // carries a direct DuckDB oracle over [[jaccardPairsCte]].
    QueryDef(
      "q_dedup_jaccard",
      Some(s"""WITH $jaccardPairsCte
             |SELECT doc_a, doc_b, n_inter, $jaccardSql AS jaccard
             |FROM pairs
             |WHERE $jaccardSql >= 0.3""".stripMargin),
      (s, dir) => Dedup.jaccardPairs(docs(s, dir), "doc_id", "text")),

    // ------------------------------------------------------------------
    // N-gram novelty vs everything crawled before (Dedup.noveltyStats):
    // per doc, the fraction of its distinct 3-grams FIRST seen (min doc
    // id, ingest order) in this doc — the diminishing-returns curve that
    // tells a pipeline when a source stopped paying for its ingest. Same
    // shared-exchange shape as q_dedup_spans (first-seen agg + join back
    // reuse one shingle exchange); all-int counts + one IEEE divide, NULL
    // novelty for shingle-less docs; fully hash-oracled.
    QueryDef(
      "q_ngram_novelty",
      Some(s"""WITH $shingleSetsCte,
             |fs AS (SELECT shingle, min(doc_id) AS first_doc FROM ex GROUP BY 1),
             |p AS (
             |  SELECT ex.doc_id, ex.n,
             |    CAST(sum(CASE WHEN fs.first_doc = ex.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS nn
             |  FROM ex JOIN fs USING (shingle)
             |  GROUP BY 1, 2)
             |SELECT d.doc_id,
             |  CAST(COALESCE(p.n, 0) AS INT) AS n_shingles,
             |  COALESCE(p.nn, 0) AS n_novel,
             |  CASE WHEN p.n > 0 THEN CAST(p.nn AS DOUBLE) / CAST(p.n AS DOUBLE) END AS novelty
             |FROM documents d LEFT JOIN p ON d.doc_id = p.doc_id""".stripMargin),
      (s, dir) => Dedup.noveltyStats(docs(s, dir), "doc_id", "text")),

    // ------------------------------------------------------------------
    // Span-level dedup signal (Dedup.dupSpanStats): per-doc count/fraction
    // of distinct 8-token spans shared with ≥1 other document. Fully
    // ANSI-expressible (exact string spans, int counts, one IEEE division)
    // → direct DuckDB oracle, same list-slice correspondence as
    // jaccardPairsCte but with span length 8 (range end-exclusive;
    // t[i:i+7] = DuckDB 1-based inclusive slice of 8 tokens). df ≥ 2 on
    // per-doc-distinct spans = document frequency. Types pinned: INT
    // n_spans (Spark size()), BIGINT n_dup_spans (Spark sum).
    QueryDef(
      "q_dedup_spans",
      Some(s"""WITH ${spansCte(distinct = true)}, ex AS (
             |  SELECT doc_id, len(spans) AS n_spans, unnest(spans) AS span FROM sh
             |), df AS (
             |  SELECT span, count(*) AS df FROM ex GROUP BY 1
             |), agg AS (
             |  SELECT e.doc_id, e.n_spans,
             |         sum(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) AS n_dup_spans
             |  FROM ex e JOIN df d ON e.span = d.span GROUP BY 1, 2
             |)
             |SELECT s.doc_id,
             |  CAST(COALESCE(a.n_spans, 0) AS INT) AS n_spans,
             |  CAST(COALESCE(a.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
             |  CASE WHEN a.n_spans > 0
             |       THEN CAST(a.n_dup_spans AS DOUBLE) / CAST(a.n_spans AS DOUBLE)
             |       ELSE 0.0 END AS dup_span_ratio
             |FROM sh s LEFT JOIN agg a ON s.doc_id = a.doc_id""".stripMargin),
      (s, dir) => Dedup.dupSpanStats(docs(s, dir), "doc_id", "text")),

    // ------------------------------------------------------------------
    // The most-copied passages themselves (Dedup.topDupPassages): the
    // "what IS the boilerplate" diagnostic — top-20 8-token spans by
    // document frequency (per-doc distinct, so in-doc repetition counts
    // once), min doc id as a stable example. Total (df DESC, span) order
    // makes the LIMIT boundary deterministic; orderBy+limit plans as
    // TakeOrderedAndProject, never a global sort. Same list-slice
    // correspondence as the q_dedup_spans oracle.
    QueryDef(
      "q_dedup_passages",
      Some(s"""WITH ${spansCte(distinct = true)}, ex AS (
             |  SELECT doc_id, unnest(spans) AS span FROM sh
             |)
             |SELECT span, CAST(count(*) AS BIGINT) AS df,
             |       min(doc_id) AS example_doc
             |FROM ex GROUP BY span HAVING count(*) >= 2
             |ORDER BY df DESC, span LIMIT 20""".stripMargin),
      (s, dir) => {
        import s.implicits._
        Dedup.topDupPassages(docs(s, dir), "doc_id", "text")
          .orderBy($"df".desc, $"span").limit(20)
      }),

    // ------------------------------------------------------------------
    // FUZZY decontamination (Dedup.decontaminateNear): q_decontaminate
    // catches exact n-gram leaks; this flags near-verbatim eval leakage by
    // MinHash band collision with the % 20 benchmark slice. Property-
    // oracled like q_dedup_minhash: the declared rows are the EXACT truth
    // (benchmark docs themselves + corpus docs with a ≥ 0.9-Jaccard pair
    // to one, re-derivable in DuckDB from the shared pair CTE) plus a
    // recall_ok flag — at 0.9 Jaccard an 8×4 band family hits with
    // p ≈ 0.9998 per pair and benchmark docs collide with their own
    // buckets, so the 0.5 gate has enormous margin while a broken band
    // hash (recall → 0) still fails loudly.
    certified("q_decontaminate_near",
        s"""WITH $jaccardPairsCte, hits AS (
           |  SELECT CASE WHEN doc_a % 20 = 0 THEN doc_b ELSE doc_a END AS doc_id
           |  FROM pairs
           |  WHERE (doc_a % 20 = 0 OR doc_b % 20 = 0) AND $jaccardSql >= 0.9
           |)
           |SELECT doc_id FROM documents WHERE doc_id % 20 = 0
           |UNION SELECT doc_id FROM hits""".stripMargin,
        Seq("doc_id"), gate = 0.5) { (s, dir) =>
      import s.implicits._
      val d = docs(s, dir)
      val bench = d.where($"doc_id" % 20 === 0)
      val truth = bench.select($"doc_id")
        .union(Dedup.jaccardPairs(d, "doc_id", "text")
          .where(($"doc_a" % 20 === 0 || $"doc_b" % 20 === 0) &&
            $"jaccard" >= 0.9)
          .select(when($"doc_a" % 20 === 0, $"doc_b").otherwise($"doc_a")
            .as("doc_id")))
        .distinct()
      (truth, Dedup.decontaminateNear(d, bench, "doc_id", "text"))
    },

    // ------------------------------------------------------------------
    // Span EXCISION (Dedup.scrubDupSpans): the actionable Lee-et-al.
    // transformation — remove every token covered by a cross-doc
    // duplicated 8-gram, emit the cleaned text (token-normalized space).
    // Coverage is a bounded ROWS window (7 PRECEDING..CURRENT max over the
    // dup-start flag; positions are dense so ROWS ≡ RANGE — identical
    // frames both engines, never a lookahead). Ordered string_agg ≡
    // sorted-struct collect (pos is a distinct int key), NULLs skipped by
    // both. Fully DuckDB-oracled including all-covered and sub-span docs.
    // Above maxFullPackDocs BASE docs both engines certify the
    // packTruthSlice: rebuilding every cleaned text through an ordered
    // string_agg over the whole token relation is the same replay-bound
    // class the winnow guard bounds (the Spark operator itself stays
    // full-corpus everywhere it is USED, only this certification slices).
    QueryDef(
      "q_scrub_spans",
      Some(s"""WITH tok AS (
             |  SELECT doc_id,
             |    $wsTokensSql AS t
             |  FROM documents
             |  $docReplayGuardSql
             |), ${positionalSpansCte("tok")}, starts AS (
             |  SELECT e.doc_id, e.pos FROM ex e JOIN df d ON e.span = d.span WHERE d.df >= 2
             |), toks AS (
             |  SELECT doc_id, generate_subscripts(t, 1) AS pos, unnest(t) AS tok FROM tok
             |), cov AS (
             |  SELECT tk.doc_id, tk.pos, tk.tok,
             |    max(CASE WHEN s.pos IS NULL THEN 0 ELSE 1 END) OVER (
             |      PARTITION BY tk.doc_id ORDER BY tk.pos
             |      ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS cov
             |  FROM toks tk LEFT JOIN starts s ON tk.doc_id = s.doc_id AND tk.pos = s.pos
             |), agg AS (
             |  SELECT doc_id, count(*) AS n_tokens, sum(cov) AS n_removed,
             |    COALESCE(string_agg(CASE WHEN cov = 0 THEN tok END, ' ' ORDER BY pos), '') AS cleaned_text
             |  FROM cov GROUP BY 1
             |)
             |SELECT t.doc_id,
             |  CAST(COALESCE(a.n_tokens, 0) AS BIGINT) AS n_tokens,
             |  CAST(COALESCE(a.n_removed, 0) AS BIGINT) AS n_removed,
             |  COALESCE(a.cleaned_text, '') AS cleaned_text
             |FROM tok t LEFT JOIN agg a ON t.doc_id = a.doc_id""".stripMargin),
      (s, dir) => Dedup.scrubDupSpans(packTruthSlice(s, dir, docs(s, dir)),
        "doc_id", "text")),

    // ------------------------------------------------------------------
    // Longest duplicated RUN per doc (Dedup.dupRunStats): gaps-and-islands
    // over positional dup spans — the excisable-passage depth signal from
    // Lee et al. that dup_span_ratio can't express (scattered quotes vs one
    // literal copied block). Fully ANSI: positional spans via DuckDB's
    // zipped generate_subscripts+unnest ≡ Spark posexplode (offset differs
    // by 1 but pos − row_number() is offset-invariant), document frequency
    // via count(DISTINCT doc_id), identical window/group chain. Types
    // pinned BIGINT both engines (Spark count/max are long).
    QueryDef(
      "q_dedup_runs",
      Some(s"""WITH ${positionalSpansCte()}, islands AS (
             |  SELECT e.doc_id,
             |         e.pos - row_number() OVER (PARTITION BY e.doc_id ORDER BY e.pos) AS grp
             |  FROM ex e JOIN df d ON e.span = d.span WHERE d.df >= 2
             |), runs AS (
             |  SELECT doc_id, max(run) AS max_dup_run FROM (
             |    SELECT doc_id, grp, count(*) AS run FROM islands GROUP BY 1, 2)
             |  GROUP BY 1
             |)
             |SELECT s.doc_id,
             |  CAST(COALESCE(r.max_dup_run, 0) AS BIGINT) AS max_dup_run,
             |  CAST(COALESCE(r.max_dup_run + 7, 0) AS BIGINT) AS max_dup_run_tokens
             |FROM sh s LEFT JOIN runs r ON s.doc_id = r.doc_id""".stripMargin),
      (s, dir) => Dedup.dupRunStats(docs(s, dir), "doc_id", "text")),

    // ------------------------------------------------------------------
    // Near-dup CLUSTERING: connected components over the Jaccard pair graph
    // (Components.connectedComponents, min-label propagation) + canonical
    // selection — the step that turns pairs into delete decisions; A~B~C
    // collapses to one kept doc even though (A,C) was never a direct pair.
    // Oracle: DuckDB recursive CTE computes min-reachable-id over the SAME
    // pair graph — an independent transitive closure vs Spark's iterative
    // label propagation.
    QueryDef(
      "q_dedup_clusters",
      Some(s"""WITH RECURSIVE $jaccardPairsCte, $componentsCte
             |SELECT doc_id, component, component = doc_id AS is_canonical
             |FROM comp""".stripMargin),
      (s, dir) => {
        val d = docs(s, dir)
        val pairs = Dedup.jaccardPairs(d, "doc_id", "text")
        Components
          .connectedComponents(d.select("doc_id"), "doc_id",
            pairs, "doc_a", "doc_b")
          .withColumn("is_canonical", col("component") === col("doc_id"))
      }),

    // ------------------------------------------------------------------
    // Soft-dedup sampling weights: 1/|cluster| per document over the same
    // component relation — the modern alternative to hard removal
    // (SoftDeDup-family): training keeps every copy but downweights it so
    // a 40x-duplicated page contributes one page of gradient mass. The
    // weight divide is a single IEEE operation on exact integers —
    // identical in both engines, no snap. One size aggregation + one join
    // back, both on the component key, on top of the shared CC machinery.
    QueryDef(
      "q_dedup_weights",
      Some(s"""WITH RECURSIVE $jaccardPairsCte, $componentsCte,
             |sizes AS (
             |  SELECT component, CAST(count(*) AS BIGINT) AS n_members
             |  FROM comp GROUP BY 1)
             |SELECT c.doc_id, c.component, s.n_members,
             |  1.0 / s.n_members AS weight
             |FROM comp c JOIN sizes s USING (component)""".stripMargin),
      (s, dir) => {
        val d = docs(s, dir)
        val comp = Components.connectedComponents(d.select("doc_id"), "doc_id",
          Dedup.jaccardPairs(d, "doc_id", "text"), "doc_a", "doc_b")
        val sizes = comp.groupBy(col("component"))
          .agg(count(lit(1)).as("n_members"))
        comp.join(sizes, Seq("component"))
          .select(col("doc_id"), col("component"), col("n_members"),
            (lit(1.0) / col("n_members")).as("weight"))
      }),

    // ------------------------------------------------------------------
    // Quality-ranked cluster representatives: after near-dup clustering,
    // production pipelines keep the BEST document per cluster (highest
    // quality score), not the arbitrary min-id — min-id keeps whichever
    // copy crawled first, which is routinely the boilerplate-wrapped one.
    // Composes components + quality + ONE window keyed on component
    // ([[keepBest]]). Tie-break (quality DESC, doc_id) is total, and
    // qualityScoreSql is IEEE-exact cross-engine (proven by
    // q_text_quality's hash match) → fully oracled incl. the recursive-CTE
    // component derivation.
    QueryDef(
      "q_dedup_canonical",
      Some(canonicalOracle(componentsCte)),
      (s, dir) => {
        val d = docs(s, dir)
        keepBest(d, Dedup.jaccardPairs(d, "doc_id", "text"))
      }),

    // ------------------------------------------------------------------
    // Containment-aware canonicalization: the actionable consumer of q_containment's asymmetric-near-dup signal. Same
    // quality-ranked representative selection as q_dedup_canonical, but
    // the cluster graph adds the CONTAINMENT edge class — pairs where
    // ≥0.8 of the smaller doc's shingles live in the other doc (a page
    // quoted whole inside a longer page: Jaccard ≈ |small|/|large| sits
    // under the 0.3 floor, so Jaccard-only canonicalization keeps BOTH
    // copies). ZERO new shuffles vs q_dedup_canonical: both edge classes
    // filter the ONE shared shinglePairs relation (jaccard and
    // containment are two arithmetic predicates over the same
    // (n_a, n_b, n_inter) row); only the edge set — and therefore the
    // component merge — changes. The incremental drop
    // (keep=false here minus keep=false there) is the containment
    // pass's measured catch, recorded in SCALE.md per SF.
    QueryDef(
      "q_dedup_canonical_containment",
      Some(canonicalOracle(componentsContainCte)),
      (s, dir) => {
        val d = docs(s, dir)
        keepBest(d, Dedup.shinglePairs(d, "doc_id", "text").where(
          col("n_inter").cast("double")
              / (col("n_a") + col("n_b") - col("n_inter")).cast("double") >= 0.3
            || col("n_inter").cast("double")
              / least(col("n_a"), col("n_b")).cast("double") >= minContainEdge))
      }),

    // ------------------------------------------------------------------
    // Brute-force cosine top-k against a stored probe vector (vec_id=0),
    // oracled bit-exact ([[cosineTermsSql]]). Deterministic tie-break on
    // vec_id makes the LIMIT boundary stable.
    QueryDef(
      "q_sim_bruteforce",
      Some(top20Sql),
      (s, dir) => {
        val e = emb(s, dir)
        top20(e, probeVector(s, e))
      }),

    // ------------------------------------------------------------------
    // Per-label embedding-corpus statistics — the health check run before
    // any ANN build (degenerate norms, dimension drift, label skew). One
    // map-only pass computes each vector's L2 norm in fixed-index double
    // order (bit-exact cross-engine, the q_sim_bruteforce machinery), then
    // one partial-agg'd groupBy(label). min/max/count are exact; the norm
    // SUM accumulates in engine-specific order → avg snapped at 1e-6
    // (QueryDef determinism rules).
    // ------------------------------------------------------------------
    // Class centroids (Similarity.labelCentroids): per-label mean vector in
    // the Ivf.train flat-aggregate shape — dims parallel avgs, map-side
    // combine, one row per label on the wire; long-format output joins
    // broadcast-sized into nearest-centroid/drift consumers. Averages
    // snapped to 1e-6 on both sides (the avg_norm rounding rule: engines
    // sum in different orders).
    QueryDef(
      "q_embed_centroids",
      Some("""SELECT label, CAST(i - 1 AS INT) AS dim,
             |  FLOOR(AVG(CAST(embedding[i] AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS centroid
             |FROM embeddings, range(1, 65) t(i)
             |GROUP BY label, i""".stripMargin),
      (s, dir) => Similarity.labelCentroids(
          emb(s, dir), "label", "embedding", SimParams.dims)
        .select(col("label"), col("dim"), snap6(col("centroid")).as("centroid"))),

    // ------------------------------------------------------------------
    // Embedding outlier scores: per-vector diagonal Mahalanobis (Σ z_i²)
    // and worst single-dim |z| against per-dim mean/stddev — the cheap
    // anomaly gate an embedding pipeline runs before indexing (corrupted
    // encodes and mis-scaled batches light up here first). Both engines
    // snap mean/sd to 1e-6 FIRST, so every downstream arithmetic step is
    // IEEE-identical; sums snap at the end (order differs). sd floors at
    // 1e-12 so a degenerate constant dim scores 0/0-free in both engines.
    // Map-only after the broadcast of the 64-row moments table.
    QueryDef(
      "q_embed_outliers",
      Some(s"""WITH $perDimCte,
             |m AS (
             |  SELECT dim,
             |    FLOOR(AVG(x) * 1000000 + 0.5) / 1000000 AS mu,
             |    GREATEST(FLOOR(STDDEV_SAMP(x) * 1000000 + 0.5) / 1000000, 1e-12) AS sd
             |  FROM x GROUP BY dim)
             |SELECT vec_id,
             |  FLOOR(SUM(((x.x - m.mu) / m.sd) * ((x.x - m.mu) / m.sd)) * 1000000 + 0.5) / 1000000 AS z2_sum,
             |  FLOOR(MAX(ABS((x.x - m.mu) / m.sd)) * 1000000 + 0.5) / 1000000 AS z_max
             |FROM x JOIN m USING (dim)
             |GROUP BY vec_id""".stripMargin),
      (s, dir) => {
        val x = perDim(emb(s, dir), "vec_id")
        val m = x.groupBy(col("dim")).agg(
          snap6(avg(col("x"))).as("mu"),
          greatest(snap6(stddev_samp(col("x"))), lit(1e-12)).as("sd"))
        val z = (col("x") - col("mu")) / col("sd")
        x.join(broadcast(m), Seq("dim"))
          .groupBy(col("vec_id"))
          .agg(snap6(sum(z * z)).as("z2_sum"),
            snap6(max(abs(z))).as("z_max"))
      }),

    // ------------------------------------------------------------------
    // Embedding covariance, upper triangle (the PCA / whitening /
    // Mahalanobis input). CERTIFICATION form: both engines explode to
    // (vec_id, dim, x), self-join on vec_id with dim_j >= dim_i, and
    // aggregate (x_i − μ_i)(x_j − μ_j)/(n−1) with means and covariances
    // snapped to 1e-6 (sum orders differ across engines).
    QueryDef(
      "q_embed_cov",
      Some(s"""WITH $perDimCte,
             |m AS (
             |  SELECT dim, FLOOR(AVG(x) * 1000000 + 0.5) / 1000000 AS mu
             |  FROM x GROUP BY dim)
             |SELECT a.dim AS dim_i, b.dim AS dim_j,
             |  FLOOR(SUM((a.x - ma.mu) * (b.x - mb.mu)) / (COUNT(*) - 1) * 1000000 + 0.5) / 1000000 AS cov
             |FROM x a
             |JOIN x b ON a.vec_id = b.vec_id AND b.dim >= a.dim
             |JOIN m ma ON ma.dim = a.dim
             |JOIN m mb ON mb.dim = b.dim
             |GROUP BY a.dim, b.dim""".stripMargin),
      (s, dir) => {
        val xRel = perDim(emb(s, dir), "vec_id")
        val m = xRel.groupBy(col("dim")).agg(snap6(avg(col("x"))).as("mu"))
        val a = xRel.select(col("vec_id"), col("dim").as("dim_i"), col("x").as("xa"))
        val b = xRel.select(col("vec_id"), col("dim").as("dim_j"), col("x").as("xb"))
        // every (dim_i, dim_j) group holds exactly one row per vector, so
        // n is just the group count — no scalar cross join needed
        a.join(b, Seq("vec_id")).where(col("dim_j") >= col("dim_i"))
          .join(broadcast(m.select(col("dim").as("dim_i"), col("mu").as("mu_i"))),
            Seq("dim_i"))
          .join(broadcast(m.select(col("dim").as("dim_j"), col("mu").as("mu_j"))),
            Seq("dim_j"))
          .groupBy(col("dim_i"), col("dim_j"))
          .agg(snap6(sum((col("xa") - col("mu_i")) * (col("xb") - col("mu_j")))
            / (count(lit(1)) - 1)).as("cov"))
          .select(col("dim_i"), col("dim_j"), col("cov"))
      }),

    // ------------------------------------------------------------------
    // Nearest-centroid classification (1-NN against class centroids): each
    // vector assigned to the label whose centroid is L2-nearest, scored
    // against its true label — the standard embedding-space sanity eval.
    // CERTIFICATION form: both engines recompute the rounded long-format
    // centroids (the q_embed_centroids CTE), fan each vector's dims across
    // the k=10 centroids via a broadcast join, and round distances to 1e-6
    // before the argmin window (ties → smallest label, identical in both).
    // Linear shape — rows × (dims × k) with dims × k a 640-row broadcast
    // constant, the shingle-explosion class, NOT a pair join — though the
    // production path is the map-only codegen'd Ivf.nearestCentroidExpr
    // (the q_centroid_assign BENCH twin; zero explosion, zero shuffles
    // beyond the centroid agg).
    QueryDef(
      "q_centroid_assign",
      Some(s"""WITH $centroidDistCte,
             |r AS (
             |  SELECT vec_id, label, c_label, dist,
             |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, c_label) AS rn
             |  FROM d)
             |SELECT vec_id, label, c_label AS assigned_label,
             |  (label = c_label) AS correct
             |FROM r WHERE rn = 1""".stripMargin),
      (s, dir) => {
        val w = Window.partitionBy(col("vec_id"))
          .orderBy(col("dist"), col("c_label"))
        centroidDistances(s, dir)
          .withColumn("rn", row_number().over(w))
          .where(col("rn") === 1)
          .select(col("vec_id"), col("label"),
            col("c_label").as("assigned_label"),
            (col("label") === col("c_label")).as("correct"))
      }),

    // ------------------------------------------------------------------
    // Per-sample margin mining over the same distance relation: for every
    // vector, d(own-class centroid) minus d(nearest OTHER-class centroid),
    // plus that hard-negative label — the contrastive-training signal
    // (which classes crowd each other, which samples sit past the
    // boundary: margin > 0 = misclassified by 1-NN centroids). Distances
    // are snapped BEFORE the subtraction, so the margin arithmetic is
    // IEEE-exact cross-engine — no second snap. Same linear broadcast-fan
    // shape as q_centroid_assign; the window ranks k-1 rows per vector.
    QueryDef(
      "q_centroid_margin",
      Some(s"""WITH $centroidDistCte,
             |own AS (SELECT vec_id, label, dist AS d_own FROM d WHERE c_label = label),
             |o AS (
             |  SELECT vec_id, c_label, dist,
             |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, c_label) AS rn
             |  FROM d WHERE c_label <> label)
             |SELECT own.vec_id, own.label,
             |  o.c_label AS hard_negative_label,
             |  own.d_own - o.dist AS margin
             |FROM own JOIN o ON own.vec_id = o.vec_id AND o.rn = 1""".stripMargin),
      (s, dir) => {
        val d = centroidDistances(s, dir)
        val own = d.where(col("c_label") === col("label"))
          .select(col("vec_id"), col("label"), col("dist").as("d_own"))
        val w = Window.partitionBy(col("vec_id"))
          .orderBy(col("dist"), col("c_label"))
        val hardNeg = d.where(col("c_label") =!= col("label"))
          .withColumn("rn", row_number().over(w))
          .where(col("rn") === 1)
          .select(col("vec_id"), col("c_label").as("hard_negative_label"),
            col("dist").as("d_neg"))
        own.join(hardNeg, Seq("vec_id"))
          .select(col("vec_id"), col("label"), col("hard_negative_label"),
            (col("d_own") - col("d_neg")).as("margin"))
      }),

    QueryDef(
      "q_embed_stats",
      Some("""WITH n AS (
             |  SELECT label,
             |    CAST(len(embedding) AS INT) AS dims,
             |    sqrt(list_sum(list_transform(embedding,
             |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
             |  FROM embeddings)
             |SELECT label,
             |  CAST(COUNT(*) AS BIGINT) AS n_vecs,
             |  MIN(dims) AS min_dims, MAX(dims) AS max_dims,
             |  MIN(nrm) AS min_norm, MAX(nrm) AS max_norm,
             |  FLOOR(SUM(nrm) / COUNT(*) * 1000000 + 0.5) / 1000000 AS avg_norm
             |FROM n GROUP BY 1""".stripMargin),
      (s, dir) => {
        import s.implicits._
        emb(s, dir)
          .select($"label",
            size($"embedding").as("dims"),
            VectorNative.norm2($"embedding").as("nrm"))
          .groupBy($"label")
          .agg(count(lit(1)).as("n_vecs"),
            min($"dims").as("min_dims"), max($"dims").as("max_dims"),
            min($"nrm").as("min_norm"), max($"nrm").as("max_norm"),
            (floor(sum($"nrm") / count(lit(1)) * 1e6 + 0.5) / 1e6).as("avg_norm"))
      }),

    // ------------------------------------------------------------------
    // Int8 scalar quantization of the embedding corpus — the 4×-smaller
    // at-rest layout for ANN at 100 TB. Every quantized int is bit-exact
    // cross-engine (widening, division, floor: all IEEE-deterministic), so
    // the oracle checks the scale plus three exact integer projections of
    // the full quantized vector (first element, Σq, Σq²) per row.
    QueryDef(
      "q_quantize_int8",
      Some(s"""WITH $int8Cte
             |SELECT vec_id, scale, q[1] AS q0,
             |  CAST(list_sum(list_transform(q, x -> CAST(x AS BIGINT) * x)) AS BIGINT) AS qnorm2,
             |  CAST(list_sum(q) AS BIGINT) AS qsum
             |FROM qd""".stripMargin),
      (s, dir) => {
        import s.implicits._
        withInt8(emb(s, dir), "q")
          .select($"vec_id", $"scale",
            element_at($"q", 1).as("q0"),
            VectorFunctions.dotInt($"q", $"q").as("qnorm2"),
            aggregate($"q", lit(0L), (acc, x) => acc + x.cast("long")).as("qsum"))
      }),

    // ------------------------------------------------------------------
    // Cosine top-k over the QUANTIZED corpus — per-vector scales cancel in
    // cosine, so int8 vectors rank almost exactly like the originals at 1/4
    // the scan bytes. Unlike float-accumulation ANN, the score here is a
    // pure function of exact integers (int dot, int norms, one double
    // divide), so the top-k boundary is deterministic and the whole path is
    // hash-oracled — the first fully-oracled ANN variant in the inventory.
    QueryDef(
      "q_sim_quantized",
      Some(s"""WITH $int8Cte,
             |p AS (SELECT q AS pq FROM qd WHERE vec_id = 0),
             |c AS (
             |  SELECT vec_id,
             |    CAST(list_sum(list_transform(range(1, len(q)+1),
             |         i -> CAST(q[i] AS BIGINT) * pq[i])) AS BIGINT) AS d,
             |    sqrt(CAST(list_sum(list_transform(q, x -> CAST(x AS BIGINT)*x)) AS DOUBLE))
             |      * sqrt(CAST(list_sum(list_transform(pq, x -> CAST(x AS BIGINT)*x)) AS DOUBLE)) AS nn
             |  FROM qd, p)
             |SELECT vec_id, CASE WHEN nn > 0 THEN CAST(d AS DOUBLE) / nn END AS qcos
             |FROM c
             |ORDER BY qcos DESC NULLS LAST, vec_id
             |LIMIT 20""".stripMargin),
      (s, dir) => {
        import s.implicits._
        val quantized = withInt8(emb(s, dir), "q")
        val probe = quantized.where($"vec_id" === 0).select($"q".as("pq"))
        quantized.crossJoin(broadcast(probe))
          .select($"vec_id", VectorFunctions.cosineInt($"q", $"pq").as("qcos"))
          .orderBy($"qcos".desc_nulls_last, $"vec_id")
          .limit(20)
      }),

    // ------------------------------------------------------------------
    // BATCH ANN serving: top-3 per probe for a set of probe vectors in ONE
    // plan — the realistic serving shape (a query batch, not a scalar
    // probe). Probes broadcast into the corpus scan (corpus never
    // shuffles); the per-probe cut is [[probeTopK]]'s. Same bit-exact
    // fixed-order cosine as q_sim_bruteforce, so fully hash-oracled.
    QueryDef(
      "q_sim_batch",
      Some(s"""WITH p AS (
             |  SELECT vec_id AS probe_id, embedding AS pv FROM embeddings WHERE vec_id < 5),
             |${probeCosineCte("p.probe_id, e.vec_id")}
             |SELECT probe_id, vec_id, cosine_sim, CAST(rnk AS INT) AS rnk FROM (
             |  SELECT probe_id, vec_id,
             |    CASE WHEN nn > 0 THEN d / nn END AS cosine_sim,
             |    row_number() OVER (PARTITION BY probe_id
             |      ORDER BY CASE WHEN nn > 0 THEN d / nn END DESC NULLS LAST, vec_id) AS rnk
             |  FROM c)
             |WHERE rnk <= 3""".stripMargin),
      (s, dir) => {
        val e = emb(s, dir)
        val probes = e.where(col("vec_id") < 5)
          .select(col("vec_id").as("probe_id"), col("embedding").as("pv"))
        probeTopK(e, probes, Seq("probe_id", "vec_id"), 3)
      }),

    // ------------------------------------------------------------------
    // LSH-bucketed ANN top-k (the 100 TB path: probe a handful of buckets,
    // not the corpus). 8 independent hyperplane tables OR-amplify recall.
    // PROPERTY oracle: the emitted rows are the exact brute-force top-20
    // (bit-exact cross-engine — the q_sim_bruteforce machinery) and the
    // flag asserts LSH recall@20 ≥ 0.5, the RecallSpec:28 gate (measured
    // 0.70 sf0.01 / 0.75 sf0.1). The LSH probe still executes — it feeds
    // the flag — so Bench keeps timing the bucketed path alongside the
    // (trivial at any SF) single-probe scan.
    certified("q_sim_lsh", top20Sql, Seq("vec_id"), gate = 0.5,
        boundedTruth = true)((s, dir) => top20Vs(s, dir)(lshTopK(_, _))),

    // ------------------------------------------------------------------
    // Embedding-cosine near-dup pairs within multi-table LSH buckets.
    // PROPERTY oracle: rows are the EXACT all-pairs cosine ≥ 0.2 relation
    // (a genuine O(n²) crossJoin — affordable in a correctness query at
    // test SFs, and the very plan the operator exists to avoid at 100 TB;
    // 12.5M pairs / 1.3 s at sf0.1), recomputed bit-exact by DuckDB. The
    // flag asserts bucketed recall ≥ 0.5, the RecallSpec:54 gate (measured
    // 0.627 sf0.01 / 0.576 sf0.1 — OR-amplified buckets trade exactly this
    // much recall for never joining all pairs). False positives are
    // structural zero: the operator filters candidates by the same exact
    // cosine.
    certified("q_sim_neardup",
        s"""WITH $certPairsCte
           |SELECT id_a, id_b, d / nn AS cosine_sim
           |FROM c WHERE nn > 0 AND d / nn >= 0.2""".stripMargin,
        Seq("id_a", "id_b"), gate = 0.5) { (s, dir) =>
      // certTruthSlice: full corpus at every tested SF (the oracle joins
      // over the identically count-guarded emb_cert CTE); the ~2000-vertex
      // derived-modulus slice above 10k vectors, so the truth side stays
      // CONSTANT-bounded at any sf. The FOUND side certifies on the same
      // slice: below the cutoff this is plan-identical to the _operator
      // twin's build; above it, slicing both sides keeps bucket occupancy
      // at tested-SF levels — an unsliced found side at 20k+ vectors would
      // overflow EVERY maxBucket=200 LSH bucket, drop them all, and flip
      // recall_ok to false against the oracle's literal TRUE. The
      // _operator twin keeps timing the full-corpus production build.
      val e = certTruthSlice(emb(s, dir))
      (exactCosinePairs(e, SimParams.minSim), nearDupPairs(e))
    },

    // ------------------------------------------------------------------
    // SEMANTIC dedup clustering (SemDeDup-style): connected components
    // over the embedding-cosine similarity graph — groups of semantically
    // interchangeable documents collapse to one canonical representative,
    // the embedding-space sibling of q_dedup_clusters' lexical graph. The
    // declared form builds the EXACT ≥ 0.4 pair graph (the same bit-exact
    // crossJoin truth q_sim_neardup pays; 0.4 sits above this corpus'
    // percolation threshold — 0.3 collapses 97% of vectors into ONE giant
    // component, 0.4 yields real clusters: 42 non-singleton / largest 8 at
    // sf0.01, 268 / largest 75 at sf0.1) and runs
    // the SAME Components loop; at 100 TB the pair input swaps to
    // Similarity.cosineNearDupPairs (LSH-bucketed, recall-gated) with the
    // identical downstream — Components accepts any edge relation. Oracle:
    // DuckDB recursive CTE transitive closure over the identically-exact
    // pair relation (cosine accumulates left-to-right in double in both
    // engines — the q_sim_bruteforce bit-exactness argument — so the 0.4
    // boundary cannot disagree).
    QueryDef(
      "q_sim_clusters",
      Some(s"""WITH RECURSIVE $certPairsCte, edges AS (
             |  SELECT id_a AS a, id_b AS b FROM c WHERE nn > 0 AND d / nn >= 0.4
             |), und AS (
             |  SELECT a, b FROM edges UNION ALL SELECT b, a FROM edges
             |), reach(n, m) AS (
             |  SELECT vec_id, vec_id FROM emb_cert
             |  UNION
             |  SELECT u.b, r.m FROM reach r JOIN und u ON u.a = r.n
             |)
             |SELECT n AS vec_id, min(m) AS component, min(m) = n AS is_canonical
             |FROM reach GROUP BY n""".stripMargin),
      (s, dir) => {
        // certTruthSlice (the q_sim_neardup convention): full corpus at
        // every tested SF — identical plan, oracle hash, bench medians —
        // and the deterministic derived-modulus vertex slice above 10k
        // vectors, so sf≥1 certification clusters a ~2000-vertex subgraph
        // (constant truth-pair budget at any n) while the _x1/_x4 operator
        // twins carry the LSH-bucketed production path over the full corpus
        val e = certTruthSlice(emb(s, dir))
        val pairs = exactCosinePairs(e, 0.4)
        Components
          .connectedComponents(e.select("vec_id"), "vec_id",
            pairs, "id_a", "id_b")
          .withColumn("is_canonical", col("component") === col("vec_id"))
      }),

    // ------------------------------------------------------------------
    // End-to-end corpus cleaning funnel: quality → lang → exact dedup →
    // MinHash near-dedup, with per-document drop reasons. FULLY oracled:
    // the near-dup stage runs the engine-PORTABLE MinHash
    // family (Dedup.portableBandBuckets — md5-based base hash + affine
    // perms mod 2^31−1, same construction as Spark MLlib's MinHashLSH),
    // so DuckDB re-derives signatures → capped buckets → pairs → drop set
    // bit-exact and the WHOLE funnel's stage accounting sits under the
    // driver hash gate, not a rows-only check. The production default
    // family stays 64-bit xxhash64 (certified via q_dedup_minhash's
    // property oracle); the portable family trades hash width for
    // cross-engine replayability — see portableBandBuckets' scaladoc.
    QueryDef(
      "q_corpus_clean",
      Some(s"""WITH ${portableNearDropCte(shingleN = 3, nPerms = 32,
                 nBands = 8, minBands = 6, maxBucket = 50)},
             |${funnelReasonsCte(0.2, "'en', 'es', 'de'")}
             |SELECT stage, CAST(COUNT(*) AS BIGINT) AS n_docs
             |FROM reasons GROUP BY stage""".stripMargin),
      (s, dir) => Corpus.funnel(
        Corpus.clean(docs(s, dir), "doc_id", "text",
          minQuality = 0.2, keepLangs = Set("en", "es", "de"),
          portableHash = true))),

    // ------------------------------------------------------------------
    // END-TO-END training-data prep: the flagship composition a real
    // pipeline runs as ONE job — clean (quality → lang → exact → portable
    // near-dedup) → chunk(32) → pack(256) — with the whole chain under one
    // bit-exact cross-engine differential: DuckDB re-derives the funnel's
    // kept set (shared reasons CTE), then replays the md5-grouped greedy
    // packing over exactly those docs (shared recursive pack CTE). Every
    // sequence assignment of the cleaned corpus must agree — a drift in ANY
    // stage (a gate order change, a hash family nudge, a packing reorder)
    // surfaces as a row-hash mismatch here even if each stage's own query
    // still passes. Scale shape = the stages' own shapes composed; the only
    // coupling is the kept-doc filter riding into the chunk scan.
    QueryDef(
      "q_prep_e2e",
      Some(s"""WITH RECURSIVE ${portableNearDropCte(shingleN = 3, nPerms = 32,
                 nBands = 8, minBands = 6, maxBucket = 50)},
             |${funnelReasonsCte(0.2, "'en', 'es', 'de'")},
             |keptdocs AS MATERIALIZED (
             |  SELECT doc_id, text FROM reasons WHERE stage = 'kept'),
             |${packCtes("keptdocs", chunkSize = 32, capacity = 256, nGroups = 16)}
             |$packStatsSelect""".stripMargin),
      (s, dir) => {
        val kept = Corpus.clean(docs(s, dir), "doc_id", "text",
            minQuality = 0.2, keepLangs = Set("en", "es", "de"),
            portableHash = true)
          .where(col("keep")).select(col("doc_id"), col("text"))
        packStats(s, dir, kept)
      }),

    // ------------------------------------------------------------------
    // The funnel's fully-deterministic slice: quality → lang → exact dedup
    // (near-dedup OFF) — every stage is ANSI-expressible, so the drop
    // accounting is oracle-checked end to end. The raw fixture would leave
    // every gate dead (quality ∈ [0.525, 0.611] all-'en' no-dup docs ⇒ one
    // ('kept', N) row proves nothing), so the input unions three
    // gate-exercising slices derived from the SAME table in BOTH engines:
    // exact copies (+1e6 ids → exact_dup), a pure-Spanish-marker text built
    // to score ≥ the 0.55 threshold (its 'a'/'in' tokens are quality
    // stopwords but NOT en lang markers → quality passes, lang fires), and
    // NULL texts (+3e6 ids → null_text); minQuality=0.55 splits the real
    // quality distribution so originals land on both sides. The DuckDB side
    // re-derives quality_score (q_text_quality blend), predicted_lang
    // (q_lang_id argmax w/ fixed tie order), and the min-id exact-dup
    // survivor, then applies the SAME first-failing-gate order as
    // Corpus.clean (a dup of a low-quality doc reports quality; the es
    // copies are dups of each other but lang fires first). LEFT JOIN to the
    // survivor table mirrors clean()'s left join (a NULL text md5's to NULL
    // and must still surface as null_text, not vanish on an inner join).
    QueryDef(
      "q_corpus_funnel_exact",
      Some(s"""WITH inp AS (
             |  SELECT doc_id, text FROM documents
             |  UNION ALL
             |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 5 = 0
             |  UNION ALL
             |  SELECT doc_id + 2000000, repeat('a in la de que los el ', 10)
             |  FROM documents WHERE doc_id % 7 = 0
             |  UNION ALL
             |  SELECT doc_id + 3000000, CAST(NULL AS VARCHAR)
             |  FROM documents WHERE doc_id % 11 = 0),
             |q AS (
             |  SELECT doc_id, text,
             |    $qualityScoreSql
             |      AS quality_score,
             |    $langHitsSql,
             |    md5(text) AS h
             |  FROM inp),
             |langed AS (
             |  SELECT doc_id, text, quality_score, h,
             |    $langArgmaxSql AS predicted_lang
             |  FROM q),
             |k AS (SELECT h AS kh, MIN(doc_id) AS keep_id FROM q GROUP BY 1),
             |reasons AS (
             |  SELECT l.doc_id,
             |    CASE WHEN l.text IS NULL THEN 'null_text'
             |         WHEN l.quality_score < 0.55 THEN 'quality'
             |         WHEN l.predicted_lang NOT IN ('en') THEN 'lang'
             |         WHEN l.doc_id != k.keep_id THEN 'exact_dup'
             |         ELSE 'kept' END AS stage
             |  FROM langed l LEFT JOIN k ON l.h = k.kh)
             |SELECT stage, CAST(COUNT(*) AS BIGINT) AS n_docs
             |FROM reasons GROUP BY stage""".stripMargin),
      (s, dir) => {
        import s.implicits._
        val b = docs(s, dir).select($"doc_id", $"text")
        val input = b
          .unionByName(b.where($"doc_id" % 5 === 0)
            .select(($"doc_id" + 1000000L).as("doc_id"), $"text"))
          .unionByName(b.where($"doc_id" % 7 === 0)
            .select(($"doc_id" + 2000000L).as("doc_id"),
              repeat(lit("a in la de que los el "), 10).as("text")))
          .unionByName(b.where($"doc_id" % 11 === 0)
            .select(($"doc_id" + 3000000L).as("doc_id"),
              lit(null).cast("string").as("text")))
        Corpus.funnel(
          Corpus.clean(input, "doc_id", "text",
            minQuality = 0.55, keepLangs = Set("en"), nearDedup = false))
      }),

    // ------------------------------------------------------------------
    // IVF index BUILD: train the k-means coarse quantizer (2 Lloyd
    // iterations, one shuffle each) and materialize the at-rest layout —
    // corpus partitionBy(cluster) + persisted centroids. Declared as its own
    // query because that is the serving-path cost model: build once
    // (this row), probe many (q_sim_ivf below reads the layout and never
    // re-trains). Returns the cluster histogram — the balance diagnostic an
    // index build emits. Declared BEFORE q_sim_ivf; Bench runs in declared
    // order so the probe measures probe-only.
    // PROPERTY oracle: the per-cluster histogram itself is k-means-
    // seed-structural, but the build's COVERAGE contract is not — every
    // well-formed corpus vector must land in exactly one cluster partition
    // of the at-rest layout (a lost partition write, a NULL-cluster leak,
    // or a double-append all break the count), and the cluster ids must
    // stay inside [0, k). DuckDB re-derives the corpus count; the flag is
    // computed from the real index content and must be literally TRUE.
    // The histogram diagnostic stays observable via IvfSpec/RecallSpec.
    QueryDef(
      "q_sim_ivf_build",
      Some("""SELECT CAST(count(*) AS BIGINT) AS n_vectors, true AS coverage_ok
             |FROM embeddings""".stripMargin),
      (s, dir) => {
        val path = IvfIndex.ensure(s, dir)
        val hist = Ivf.readData(s, path)
          .groupBy(col("cluster")).agg(count(lit(1)).as("n"))
        hist.agg(
          sum(col("n")).as("n_vectors"),
          (min(col("cluster")) >= 0 && max(col("cluster")) < IvfIndex.K &&
            count(lit(1)) <= IvfIndex.K).as("coverage_ok"))
      }),

    // ------------------------------------------------------------------
    // IVF ANN top-k over the at-rest index: load persisted centroids (k rows),
    // rank only the nProbe nearest clusters via a PARTITION-PRUNED scan.
    // Train cost lives in q_sim_ivf_build, exactly like a 100 TB serving path.
    // PROPERTY oracle (same shape as q_sim_lsh): rows are the exact
    // brute-force top-20; the flag asserts IVF probe recall@20 ≥ 0.5 at
    // nProbe=4 of k=8 (measured 0.70 sf0.01 / 0.85 sf0.1 — twice the old
    // nProbe=2 margin over the gate). The nProbe knob itself is gated
    // STRUCTURALLY in RecallSpec: recall monotone in nProbe, and full-width
    // probe equals brute force exactly — regen-proof where a raised
    // measured gate (0.8 needs nProbe≥5 on these weakly-clustered fixture
    // vectors) would flake.
    certified("q_sim_ivf", top20Sql, Seq("vec_id"), gate = 0.5,
        boundedTruth = true) { (s, dir) =>
      val path = IvfIndex.ensure(s, dir)
      top20Vs(s, dir)((e, q) =>
        Ivf.probeClustered(s, path, "vec_id", "embedding", q, nProbe = 4, k = 20))
    },

    // ------------------------------------------------------------------
    // QUANTIZED two-phase IVF probe over the SAME at-rest index (the data
    // partitions carry int8 q8/scale columns): phase 1 scores the
    // int8 vectors inside the nProbe partition-pruned clusters (1/4 the
    // vector bytes per probe — the composition of q_sim_quantized's scoring
    // and q_sim_ivf's pruning, i.e. the standard ANN serving layout), keeps
    // the top-60 candidates; phase 2 exact-reranks just those rows' float
    // vectors to the final top-20. PROPERTY oracle (q_sim_ivf shape): rows
    // are the exact brute-force top-20; the flag asserts the quantized
    // pipeline's recall@20 ≥ 0.5 (measures identical to the unquantized
    // probe — RecallSpec gates no-degradation vs probeClustered and the
    // structural rerank≥content ⇒ ≡ probeClustered identity).
    certified("q_sim_ivf_quantized", top20Sql, Seq("vec_id"), gate = 0.5,
        boundedTruth = true) { (s, dir) =>
      val path = IvfIndex.ensure(s, dir)
      top20Vs(s, dir)((e, q) =>
        Ivf.probeClusteredQuantized(s, path, "vec_id", "embedding", "q8", q,
          nProbe = 4, k = 20, rerank = 60))
    },

    // ------------------------------------------------------------------
    // IVF nProbe operating curve — the ANN serving knob audit beside
    // q_minhash_operating_points' banding audit: recall@20 vs brute-force
    // truth for nProbe ∈ {1, 2, 4, 8} over the SAME at-rest index the
    // production probes read. The knob every IVF deployment tunes (probe
    // fewer partitions = less I/O, monotonically less recall); putting the
    // curve's invariants under the driver gate means a quantizer/assign
    // regression that bends it fails by name. PROPERTY oracle (IVF probe
    // contents aren't ANSI-expressible — the q_sim_lsh convention): the
    // flags assert monotone hits in nProbe, the deployed nProbe=4 recall
    // floor (RecallSpec's 0.5 gate; measured ~0.7+), and that the
    // full-width probe (nProbe = K = all clusters, i.e. a full scan) is
    // EXACTLY brute force. Scale shape: truth ids are ONE brute-force
    // top-k collected at k=20 (bounded-collect policy) and folded into
    // each probe as a literal isin filter — the corpus is never re-scanned
    // per probe; each probe stays partition-pruned.
    QueryDef(
      "q_sim_ivf_sweep",
      Some("""SELECT unnest([1, 2, 4, 8]) AS n_probe,
             |  true AS hits_monotone_ok,
             |  true AS deployed_floor_ok,
             |  true AS full_width_exact_ok""".stripMargin),
      (s, dir) => {
        import s.implicits._
        val path = IvfIndex.ensure(s, dir)
        val e = emb(s, dir)
        val q = probeVector(s, e)
        val truthIds = top20(e, q)
          .select($"vec_id").as[Long].collect().toSeq // k-bounded collect
        val hits = Seq(1, 2, 4, 8).map { np =>
          Ivf.probeClustered(s, path, "vec_id", "embedding", q,
              nProbe = np, k = 20)
            .where($"vec_id".isin(truthIds: _*))
            .agg(count(lit(1)).as("hits"))
            .select(lit(np).as("n_probe"), $"hits")
        }.reduce(_ unionAll _)
        val w = Window.orderBy($"n_probe")
        hits.select($"n_probe",
          coalesce($"hits" >= lag($"hits", 1).over(w), lit(true))
            .as("hits_monotone_ok"),
          ($"n_probe" < 4 || $"hits" >= 10).as("deployed_floor_ok"),
          ($"n_probe" < 8 || $"hits" === 20).as("full_width_exact_ok"))
      }),

    // ------------------------------------------------------------------
    // Per-document token entropy: Shannon entropy (nats) of the alnum-token
    // distribution, plus its normalization by ln(n_distinct) — the
    // information-density axis of the quality panel, orthogonal to
    // q_repetition_ratio (which sees only distinct/total, blind to a
    // SKEWED-but-distinct vocabulary) and to q_compress_ratio (byte-level).
    // Low raw entropy = tiny vocabulary; low NORMALIZED entropy with a
    // large vocabulary = boilerplate flooding a natural tail. Scale shape:
    // the same two-level (doc, token) → doc aggregation as q_inverted_index
    // — partial map-side combine collapses repeated tokens before either
    // exchange, per-doc state is one (n, nd, Σ c·ln c) triple, and the
    // left join back to `documents` (total function: token-less docs emit
    // n_tokens=0, NULL entropy) is doc-keyed. H = ln(n) − Σ c·ln(c)/n is
    // algebraically −Σ p·ln p but needs ONE pass and no per-row division;
    // double sums reorder across engines → snapped 1e-6 AFTER all
    // arithmetic, and norm_entropy divides the RAW h (mirrored verbatim in
    // the oracle) so no snapped intermediate feeds later math.
    QueryDef(
      "q_token_entropy",
      Some("""WITH t AS (
             |  SELECT doc_id,
             |    unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token
             |  FROM documents),
             |c AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS c
             |      FROM t GROUP BY 1, 2),
             |e AS (
             |  SELECT doc_id,
             |    CAST(sum(c) AS BIGINT) AS n_tokens,
             |    CAST(count(*) AS INT) AS n_distinct,
             |    ln(CAST(sum(c) AS DOUBLE))
             |      - sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)))
             |        / CAST(sum(c) AS DOUBLE) AS h
             |  FROM c GROUP BY 1)
             |SELECT d.doc_id,
             |  COALESCE(e.n_tokens, CAST(0 AS BIGINT)) AS n_tokens,
             |  COALESCE(e.n_distinct, 0) AS n_distinct,
             |  FLOOR(e.h * 1000000 + 0.5) / 1000000 AS entropy,
             |  CASE WHEN e.n_distinct > 1
             |       THEN FLOOR(e.h / ln(CAST(e.n_distinct AS DOUBLE))
             |                  * 1000000 + 0.5) / 1000000
             |  END AS norm_entropy
             |FROM documents d LEFT JOIN e USING (doc_id)""".stripMargin),
      (s, dir) => {
        import s.implicits._
        val cnt = docs(s, dir)
          .select($"doc_id", explode(TextFunctions.arrayBarrier(
            TextFunctions.termsAlnum($"text"))).as("token"))
          .groupBy($"doc_id", $"token").agg(count(lit(1)).as("c"))
        val h = log($"n".cast("double")) - $"clc" / $"n".cast("double")
        val per = cnt.groupBy($"doc_id").agg(
            sum($"c").as("n"),
            count(lit(1)).cast("int").as("n_distinct"),
            sum($"c".cast("double") * log($"c".cast("double"))).as("clc"))
          .select($"doc_id", $"n".as("n_tokens"), $"n_distinct",
            snap6(h).as("entropy"),
            when($"n_distinct" > 1,
              snap6(h / log($"n_distinct".cast("double")))).as("norm_entropy"))
        docs(s, dir).select($"doc_id").join(per, Seq("doc_id"), "left")
          .select($"doc_id",
            coalesce($"n_tokens", lit(0L)).as("n_tokens"),
            coalesce($"n_distinct", lit(0)).as("n_distinct"),
            $"entropy", $"norm_entropy")
      }),

    // ------------------------------------------------------------------
    // Per-source token-distribution divergence: KL(P_source ‖ P_corpus) in
    // nats — the mixture-drift gauge. A source whose unigram distribution
    // sits far from the blend (machine text, non-prose boilerplate, a
    // wrongly-bucketed language) scores high; a recrawl of the mainstream
    // scores ≈ 0 — the one-number ranking that says which source to AUDIT
    // before q_mixture_temperature reweights it. Every source token is by
    // construction a corpus token, so the KL is finite without smoothing.
    // Scale shape: ONE (source, token) aggregation (map-side combine does
    // the heavy lifting — input tokens collapse to vocab-sized state), a
    // token-keyed re-agg for corpus counts joined back on the token key,
    // source totals and the corpus total as broadcast one-row/few-row
    // sides; nothing funnels through a single partition. Double sums over
    // the vocabulary reorder → final KL snapped 1e-6.
    QueryDef(
      "q_source_divergence",
      Some("""WITH t AS (
             |  SELECT source,
             |    unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token
             |  FROM documents WHERE source IS NOT NULL),
             |sc AS (SELECT source, token, CAST(count(*) AS BIGINT) AS c
             |       FROM t GROUP BY 1, 2),
             |tc AS (SELECT token, CAST(sum(c) AS BIGINT) AS ct FROM sc GROUP BY 1),
             |st AS (SELECT source, CAST(sum(c) AS BIGINT) AS ns FROM sc GROUP BY 1),
             |n AS (SELECT CAST(sum(ct) AS BIGINT) AS nn FROM tc)
             |SELECT source, ns AS n_tokens,
             |  FLOOR(sum((CAST(c AS DOUBLE) / CAST(ns AS DOUBLE))
             |        * ln((CAST(c AS DOUBLE) / CAST(ns AS DOUBLE))
             |              / (CAST(ct AS DOUBLE) / CAST(nn AS DOUBLE))))
             |    * 1000000 + 0.5) / 1000000 AS kl_vs_corpus
             |FROM sc JOIN tc USING (token) JOIN st USING (source) CROSS JOIN n
             |GROUP BY source, ns""".stripMargin),
      (s, dir) => {
        import s.implicits._
        // the explicit repartition(token) is the branch point every leg
        // (count join, corpus re-agg, source totals, grand total) hangs
        // off — ReusedExchange runs the scan+explode+agg subtree ONCE,
        // where branching on the bare agg re-executed it per leg (measured
        // 4 file scans, 0 reuse before this shape). The EXPLICIT isNotNull
        // filters pre-empt the per-leg inferred ones (each join infers a
        // different isnotnull set into its own copy, de-canonicalizing the
        // subtrees — the same 4-scan plan by another road); the oracle
        // carries the same source filter, and the semantics ("the blend is
        // over attributed sources") match its NULL-never-equi-joins anyway.
        val sc = tokensBy(docs(s, dir), "source")
          .where($"token".isNotNull)
          .groupBy($"source", $"token").agg(count(lit(1)).as("c"))
          .repartition($"token")
        val tc = sc.groupBy($"token").agg(sum($"c").as("ct"))
        val st = sc.groupBy($"source").agg(sum($"c").as("ns"))
        val n = tc.agg(sum($"ct").as("nn"))
        val ps = $"c".cast("double") / $"ns".cast("double")
        val pc = $"ct".cast("double") / $"nn".cast("double")
        sc.join(tc, Seq("token"))
          .join(broadcast(st), Seq("source"))
          .crossJoin(broadcast(n))
          .groupBy($"source", $"ns")
          .agg(snap6(sum(ps * log(ps / pc))).as("kl_vs_corpus"))
          .select($"source", $"ns".as("n_tokens"), $"kl_vs_corpus")
      }),

    // ------------------------------------------------------------------
    // Differentially-private release counts: per-(source, lang) document
    // counts with Laplace(1/ε) noise — the aggregate-release counterpart
    // to q_pseudonymize's row-level anonymization (suppression hides rare
    // groups; DP noise protects EVERY group's exact count against
    // differencing attacks across releases). The noise is the standard
    // inverse-CDF draw, but the uniform comes from md5 of the GROUP KEY
    // (the q_mixture_sample discipline), not a session RNG — so a rerun,
    // a retry, or the DuckDB oracle regenerates the same release
    // bit-for-bit (a production release would swap the literal pepper for
    // a secret draw; the mechanism is identical). (u+0.5)/2^24 keeps u
    // strictly inside (0,1): noise is bounded by ~16.6/ε, never ±inf.
    // Scale shape: ONE count aggregation with map-side combine; the hash,
    // inverse CDF, and snap are per-GROUP literals in codegen — the noise
    // adds zero distributed work at any corpus size. n_true rides along as
    // the utility-audit arm (a real release ships only dp_count). ln
    // ulp-drift across engines → snapped 1e-6.
    QueryDef(
      "q_dp_counts",
      Some(s"""WITH g AS (
             |  SELECT source, lang, CAST(count(*) AS BIGINT) AS n_true
             |  FROM documents GROUP BY 1, 2),
             |hx AS (SELECT source, lang, n_true,
             |       md5(source || '|' || lang) AS h FROM g),
             |u AS (SELECT source, lang, n_true, $hexUniformSql AS u FROM hx)
             |SELECT source, lang, n_true,
             |  FLOOR((n_true + (-1.0)
             |         * CASE WHEN u >= 0.5 THEN 1.0 ELSE -1.0 END
             |         * ln(1.0 - 2.0 * abs(u - 0.5)))
             |    * 1000000 + 0.5) / 1000000 AS dp_count
             |FROM u""".stripMargin),
      (s, dir) => {
        import s.implicits._
        val eps = 1.0
        val h = md5(concat($"source", lit("|"), $"lang").cast("binary"))
        val u = hexUniformCol(h)
        // CASE, not signum: both engines then share one spelling (at
        // u = 0.5 exactly the ln(1) factor zeroes the noise either way)
        val sgn = when(u >= 0.5, lit(1.0)).otherwise(lit(-1.0))
        val noise = lit(-1.0 / eps) * sgn *
          log(lit(1.0) - lit(2.0) * abs(u - lit(0.5)))
        docs(s, dir)
          .groupBy($"source", $"lang").agg(count(lit(1)).as("n_true"))
          .select($"source", $"lang", $"n_true",
            snap6($"n_true" + noise).as("dp_count"))
      }),

    // ------------------------------------------------------------------
    // Winsorized per-source length stats: clip n_chars at the source's own
    // [p05, p95], then mean — the robust location estimate that a handful
    // of megabyte outlier docs cannot drag (plain AVG moves arbitrarily;
    // the winsorized mean moves by at most the clip bounds), plus the clip
    // counts themselves as the tail-mass report. Two passes by nature
    // (the clip depends on the quantiles): pass 1 is the exact per-source
    // percentile agg (a FEW-ROW result — one row per source), pass 2
    // re-scans (source, n_chars) only — both columns pruned at the scan —
    // with the bounds BROADCAST back; no window ever sorts the corpus.
    // Bounds are snapped 1e-6 BEFORE clipping (quantile_cont/percentile
    // interpolate in engine-specific double order) so both engines clip
    // against identical constants; the clipped mean reorders → snapped.
    QueryDef(
      "q_winsorize",
      Some("""WITH p AS (
             |  SELECT source,
             |    FLOOR(quantile_cont(n_chars, 0.05) * 1000000 + 0.5) / 1000000 AS p05,
             |    FLOOR(quantile_cont(n_chars, 0.95) * 1000000 + 0.5) / 1000000 AS p95
             |  FROM documents GROUP BY 1)
             |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(count(CASE WHEN n_chars < p05 THEN 1 END) AS BIGINT) AS n_clipped_lo,
             |  CAST(count(CASE WHEN n_chars > p95 THEN 1 END) AS BIGINT) AS n_clipped_hi,
             |  p05, p95,
             |  FLOOR(avg(CASE WHEN n_chars < p05 THEN p05
             |                 WHEN n_chars > p95 THEN p95
             |                 ELSE CAST(n_chars AS DOUBLE) END)
             |    * 1000000 + 0.5) / 1000000 AS winsor_mean
             |FROM documents d JOIN p USING (source)
             |GROUP BY d.source, p05, p95""".stripMargin),
      (s, dir) => {
        import s.implicits._
        val pct = docs(s, dir).groupBy($"source").agg(
          snap6(expr("percentile(n_chars, 0.05)")).as("p05"),
          snap6(expr("percentile(n_chars, 0.95)")).as("p95"))
        val w = when($"n_chars" < $"p05", $"p05")
          .when($"n_chars" > $"p95", $"p95")
          .otherwise($"n_chars".cast("double"))
        docs(s, dir).select($"source", $"n_chars")
          .join(broadcast(pct), Seq("source"))
          .groupBy($"source", $"p05", $"p95")
          .agg(count(lit(1)).as("n_docs"),
            count(when($"n_chars" < $"p05", lit(1))).as("n_clipped_lo"),
            count(when($"n_chars" > $"p95", lit(1))).as("n_clipped_hi"),
            snap6(avg(w)).as("winsor_mean"))
          .select($"source", $"n_docs", $"n_clipped_lo", $"n_clipped_hi",
            $"p05", $"p95", $"winsor_mean")
      }),

    // ------------------------------------------------------------------
    // Bigram PMI collocations: pointwise mutual information of ADJACENT
    // token pairs with a min-count floor — the collocation miner ("new
    // york", "machine learning") that turns a raw corpus into a phrase
    // vocabulary for tokenizer pre-training and boilerplate discovery
    // (template phrases surface as high-count, low-PMI rows). Adjacency
    // bounds the pair space to n−1 per doc — no pair explosion ever. Scale
    // shape: one unigram and one bigram count aggregation (map-side
    // combine), each with an explicit repartition branch point so its two
    // consumers (the joins + the grand totals) hit ONE ReusedExchange
    // instead of re-tokenizing the corpus per leg (the q_source_divergence
    // lesson); the min-count filter prunes the bigram side BEFORE the two
    // token-keyed joins against the unigram counts. Totals are computed
    // from the count relations (vocabulary-sized), never by re-scanning.
    // PMI = ln((c_xy/N_bi) / ((c_x/N_uni)·(c_y/N_uni))) mirrored verbatim;
    // ln ulp-drift → snapped 1e-6.
    QueryDef(
      "q_pmi_bigrams",
      Some("""WITH t AS (
             |  SELECT doc_id,
             |    regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
             |  FROM documents),
             |uni AS (SELECT unnest(toks) AS tk FROM t),
             |uc AS (SELECT tk, CAST(count(*) AS BIGINT) AS c FROM uni
             |       WHERE tk IS NOT NULL GROUP BY 1),
             |bg AS (
             |  SELECT unnest(CASE WHEN len(toks) >= 2
             |    THEN list_transform(range(1, len(toks)),
             |                        i -> toks[i] || ' ' || toks[i+1])
             |    ELSE [] END) AS bg
             |  FROM t),
             |bc0 AS (SELECT bg, CAST(count(*) AS BIGINT) AS cb FROM bg
             |        WHERE bg IS NOT NULL GROUP BY 1),
             |nu AS (SELECT CAST(sum(c) AS BIGINT) AS nu FROM uc),
             |nb AS (SELECT CAST(sum(cb) AS BIGINT) AS nb FROM bc0)
             |SELECT bg AS bigram, cb AS n_pair, x.c AS n_x, y.c AS n_y,
             |  FLOOR(ln((CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE))
             |           / ((CAST(x.c AS DOUBLE) / CAST(nu AS DOUBLE))
             |              * (CAST(y.c AS DOUBLE) / CAST(nu AS DOUBLE))))
             |    * 1000000 + 0.5) / 1000000 AS pmi
             |FROM bc0
             |JOIN uc x ON string_split(bg, ' ')[1] = x.tk
             |JOIN uc y ON string_split(bg, ' ')[2] = y.tk
             |CROSS JOIN nu CROSS JOIN nb
             |WHERE cb >= 5""".stripMargin),
      (s, dir) => {
        import s.implicits._
        val tok = docs(s, dir).select(
          TextFunctions.arrayBarrier(TextFunctions.termsAlnum($"text"))
            .as("toks"))
        val uc = tok.select(explode($"toks").as("tk"))
          .where($"tk".isNotNull)
          .groupBy($"tk").agg(count(lit(1)).as("c"))
        // the split-part isNotNull filters are vacuously true (every bigram
        // is "x y") but EXPLICIT: the x/y joins would otherwise infer them
        // into their leg only, de-canonicalizing it against the nb leg and
        // re-running the scan+shingle subtree (the q_source_divergence
        // lesson — both count aggs here branch-point at their own agg
        // exchange, one ReusedExchange per extra consumer)
        val bc0 = tok.select(explode(TextFunctions.shinglesNative(
            $"toks", 2, distinct = false)).as("bg"))
          .where($"bg".isNotNull &&
            split($"bg", " ").getItem(0).isNotNull &&
            split($"bg", " ").getItem(1).isNotNull)
          .groupBy($"bg").agg(count(lit(1)).as("cb"))
        val nu = uc.agg(sum($"c").as("nu"))
        val nb = bc0.agg(sum($"cb").as("nb"))
        val bc = bc0.where($"cb" >= 5)
          .withColumn("x", split($"bg", " ").getItem(0))
          .withColumn("y", split($"bg", " ").getItem(1))
        val pmi = log(($"cb".cast("double") / $"nb".cast("double"))
          / (($"n_x".cast("double") / $"nu".cast("double"))
             * ($"n_y".cast("double") / $"nu".cast("double"))))
        bc.join(uc.select($"tk".as("x"), $"c".as("n_x")), Seq("x"))
          .join(uc.select($"tk".as("y"), $"c".as("n_y")), Seq("y"))
          .crossJoin(broadcast(nu)).crossJoin(broadcast(nb))
          .select($"bg".as("bigram"), $"cb".as("n_pair"), $"n_x", $"n_y",
            snap6(pmi).as("pmi"))
      }),

    // ------------------------------------------------------------------
    // Near-dup graph degree distribution: how many ≥0.3-Jaccard partners
    // each doc has, histogrammed — the one-glance shape of the duplication
    // problem that the component views can't show (q_dedup_clusters says
    // HOW MANY groups; the degree histogram says whether they are chains
    // of pairwise recrawls, degree ≈ 1–2, or template stars, one hub with
    // thousands of spokes — which decides minhash banding and skew
    // handling before running the expensive pipeline). Reuses the
    // certified pair machinery (rare-shingle candidates, no pair
    // explosion); on top of it: one symmetrize-union, a doc-keyed count,
    // a LEFT join from the doc spine (degree-0 docs are the answer's
    // baseline, not droppable), and a tiny degree histogram agg.
    QueryDef(
      "q_graph_degree",
      Some(s"""WITH $jaccardPairsCte, $edgesCte,
             |deg AS (
             |  SELECT d.doc_id, CAST(COALESCE(u.cnt, 0) AS INT) AS degree
             |  FROM documents d LEFT JOIN (
             |    SELECT a, CAST(count(*) AS BIGINT) AS cnt FROM und GROUP BY 1
             |  ) u ON d.doc_id = u.a)
             |SELECT degree, CAST(count(*) AS BIGINT) AS n_docs
             |FROM deg GROUP BY 1""".stripMargin),
      (s, dir) => {
        import s.implicits._
        val d = docs(s, dir)
        val pairs = Dedup.jaccardPairs(d, "doc_id", "text")
        // single-pass symmetrization: a union-of-two-projections spelling
        // executes the WHOLE pair pipeline once per branch —
        // column pruning rewrites each copy differently (doc_a vs doc_b),
        // so the copies canonicalize unequal and nothing reuses. One
        // explode of the 2-array emits the same endpoint multiset from ONE
        // execution.
        val und = pairs.select(explode(array($"doc_a", $"doc_b")).as("id"))
        d.select($"doc_id")
          .join(und.groupBy($"id").agg(count(lit(1)).as("cnt")),
            $"doc_id" === $"id", "left")
          .select(coalesce($"cnt", lit(0L)).cast("int").as("degree"))
          .groupBy($"degree").agg(count(lit(1)).as("n_docs"))
      }),

    // ------------------------------------------------------------------
    // Chi-square independence audit of the source × lang contingency —
    // the dataset-card statistic that says whether language mix depends on
    // source (it always does; the question is HOW MUCH, because a strongly
    // dependent mix means per-source filtering reshapes the language
    // balance as a side effect — Cramér's V names that strength on [0,1]).
    // The textbook sum ranges over ALL R×C cells including zero-observed
    // ones — a cross join of the margins; this query needs no such thing:
    // a zero cell contributes exactly e, so Σ_all = Σ_obs((n−e)²/e − e)
    // + N — the identity turns the cross join into one constant. Scale
    // shape: ONE (source,lang) count agg (map-side combine) whose agg
    // exchange is the branch point for all four legs (row margins, column
    // margins, total, the cell sum — explicit isNotNull filters keep the
    // join-inferred predicates from de-canonicalizing it); margins are
    // category-sized broadcasts. Term-sum reorder → chi2 snapped 1e-4,
    // V derived from the snapped chi2 → 1e-6.
    QueryDef(
      "q_chi2_independence",
      Some("""WITH o AS (
             |  SELECT source, lang, CAST(count(*) AS BIGINT) AS n
             |  FROM documents
             |  WHERE source IS NOT NULL AND lang IS NOT NULL GROUP BY 1, 2),
             |rs AS (SELECT source, CAST(sum(n) AS BIGINT) AS nr FROM o GROUP BY 1),
             |cs AS (SELECT lang, CAST(sum(n) AS BIGINT) AS nc FROM o GROUP BY 1),
             |tt AS (SELECT CAST(sum(n) AS BIGINT) AS nt,
             |              CAST(count(*) AS BIGINT) AS n_cells FROM o),
             |terms AS (
             |  SELECT o.source, o.lang, o.n,
             |    CAST(rs.nr AS DOUBLE) * CAST(cs.nc AS DOUBLE)
             |      / CAST(tt.nt AS DOUBLE) AS e, tt.nt, tt.n_cells
             |  FROM o JOIN rs USING (source) JOIN cs USING (lang) CROSS JOIN tt),
             |agg AS (
             |  SELECT max(n_cells) AS n_cells, max(nt) AS n_total,
             |    CAST(count(DISTINCT source) AS BIGINT) AS r,
             |    CAST(count(DISTINCT lang) AS BIGINT) AS c,
             |    FLOOR((sum((CAST(n AS DOUBLE) - e) * (CAST(n AS DOUBLE) - e) / e - e)
             |           + max(nt)) * 10000 + 0.5) / 10000 AS chi2
             |  FROM terms)
             |SELECT n_cells, n_total, r, c,
             |  (r - 1) * (c - 1) AS dof, chi2,
             |  FLOOR(sqrt(chi2 / (CAST(n_total AS DOUBLE)
             |        * CAST(LEAST(r - 1, c - 1) AS DOUBLE)))
             |    * 1000000 + 0.5) / 1000000 AS cramers_v
             |FROM agg""".stripMargin),
      (s, dir) => {
        import s.implicits._
        val snap4 = (x: Column) => floor(x * lit(10000) + lit(0.5)) / lit(10000)
        val snap6 = (x: Column) => floor(x * lit(1000000) + lit(0.5)) / lit(1000000)
        val o = docs(s, dir)
          .where($"source".isNotNull && $"lang".isNotNull)
          .groupBy($"source", $"lang").agg(count(lit(1)).as("n"))
        val rs = o.groupBy($"source").agg(sum($"n").as("nr"))
        val cs = o.groupBy($"lang").agg(sum($"n").as("nc"))
        val tt = o.agg(sum($"n").as("nt"), count(lit(1)).as("n_cells"))
        val e = $"nr".cast("double") * $"nc".cast("double") / $"nt".cast("double")
        // r and c fold into the main agg as count-distincts over the
        // CELL relation (category-sized — the Expand is free here),
        // rather than re-aggregating rs/cs: a separate dims leg gets its
        // columns pruned, de-canonicalizes against the join legs, and
        // re-materializes the whole o subtree (measured 3 scans → 1)
        val agg = o.join(broadcast(rs), Seq("source"))
          .join(broadcast(cs), Seq("lang"))
          .crossJoin(broadcast(tt))
          .select($"source", $"lang", $"n", e.as("e"), $"nt", $"n_cells")
          .agg(max($"n_cells").as("n_cells"), max($"nt").as("n_total"),
            countDistinct($"source").as("r"), countDistinct($"lang").as("c"),
            snap4(sum(($"n".cast("double") - $"e") * ($"n".cast("double") - $"e")
              / $"e" - $"e") + max($"nt")).as("chi2"))
        agg
          .select($"n_cells", $"n_total", $"r", $"c",
            (($"r" - 1) * ($"c" - 1)).as("dof"), $"chi2",
            snap6(sqrt($"chi2" / ($"n_total".cast("double")
              * least($"r" - 1, $"c" - 1).cast("double")))).as("cramers_v"))
      }),

    // ------------------------------------------------------------------
    // PageRank over the near-dup graph ([[Components.pageRank]], 3 fixed
    // iterations): the centrality read q_graph_degree can't give — an
    // equal-degree hub of leaf recrawls vs a hub inside a copy-farm MESH
    // rank differently, which is the triage order for canonicalization.
    // The oracle is GENERATED from the same iteration count: one CTE pair
    // (contributions, ranks) per iteration, mirroring the operator's
    // snap-per-iteration discipline so both engines iterate on identical
    // 1e-9-snapped values. Per-iteration cost: one src-keyed join of the
    // node-sized rank relation against the ONCE-materialized (src, dst,
    // outdeg) list + one dst-keyed partial-agg sum.
    QueryDef(
      "q_pagerank",
      Some {
        val prCtes = (1 to 3).map { i =>
          s"""c$i AS (
             |  SELECT e.dst AS id, sum(p.r / e.deg) AS s
             |  FROM ed e JOIN pr${i - 1} p ON e.src = p.id GROUP BY 1),
             |pr$i AS (
             |  SELECT nodes.id,
             |    FLOOR((CAST(0.15 AS DOUBLE) / CAST(nn.n AS DOUBLE)
             |           + CAST(0.85 AS DOUBLE) * COALESCE(c$i.s, 0.0))
             |      * 1000000000 + 0.5) / 1000000000 AS r
             |  FROM nodes CROSS JOIN nn LEFT JOIN c$i ON nodes.id = c$i.id)"""
            .stripMargin
        }.mkString(",\n")
        s"""WITH $jaccardPairsCte, $edgesCte,
           |deg AS (SELECT a AS src, CAST(count(*) AS BIGINT) AS deg
           |        FROM und GROUP BY 1),
           |ed AS (SELECT u.a AS src, u.b AS dst, d.deg
           |       FROM und u JOIN deg d ON u.a = d.src),
           |nodes AS (SELECT doc_id AS id FROM documents),
           |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
           |pr0 AS (
           |  SELECT id, FLOOR(CAST(1.0 AS DOUBLE) / CAST(nn.n AS DOUBLE)
           |    * 1000000000 + 0.5) / 1000000000 AS r
           |  FROM nodes CROSS JOIN nn),
           |$prCtes
           |SELECT id AS doc_id, r AS pagerank FROM pr3""".stripMargin
      },
      (s, dir) => {
        import s.implicits._
        val d = docs(s, dir)
        val pairs = Dedup.jaccardPairs(d, "doc_id", "text")
        // single-pass symmetrization (as in q_graph_degree): a union
        // spelling re-runs the pair pipeline once per direction
        val und = pairs.select(explode(array(
            struct($"doc_a".as("src"), $"doc_b".as("dst")),
            struct($"doc_b".as("src"), $"doc_a".as("dst")))).as("e"))
          .select($"e.src".as("src"), $"e.dst".as("dst"))
        Components.pageRank(d.select($"doc_id"), "doc_id",
            und, "src", "dst", iters = 3)
          .select($"id".as("doc_id"), $"pagerank")
      }),

    // ------------------------------------------------------------------
    // Quality-weighted importance sample (Efraimidis–Spirakis A-ES):
    // weighted sampling WITHOUT replacement as one distributed top-k —
    // key = ln(u)/w with u the per-doc md5 uniform (shared hexUniformSql
    // machinery) and w the quality score; the k largest keys ARE a
    // without-replacement draw ∝ w. This is the curation step between
    // "filter by threshold" (q_corpus_clean — loses all sub-threshold
    // mass) and "keep everything": a budgeted, quality-TILTED subset where
    // a mediocre doc still has proportional odds. Deterministic by the
    // seedless-uniform discipline — rerun, retry, or oracle regenerate the
    // same sample. Scale shape: scoring is map-only codegen riding the
    // scan; selection is TakeOrderedAndProject (per-partition heaps, never
    // a global sort); the rank decorates the k-row result AFTER the cut.
    // Zero-weight docs are excluded up front (their key is −∞ — both
    // engines would agree, but the filter keeps infinity semantics out of
    // the differential entirely).
    QueryDef(
      "q_sample_importance",
      Some(s"""WITH q AS (
             |  SELECT doc_id, $qualityScoreSql AS w,
             |         md5(CAST(doc_id AS VARCHAR)) AS h
             |  FROM documents),
             |k AS (
             |  SELECT doc_id, w,
             |    FLOOR((ln($hexUniformSql) / w) * 1000000 + 0.5) / 1000000 AS key
             |  FROM q WHERE w > 0),
             |top AS (SELECT doc_id, w, key FROM k
             |        ORDER BY key DESC, doc_id LIMIT 200)
             |SELECT doc_id,
             |  FLOOR(w * 1000000 + 0.5) / 1000000 AS quality,
             |  key AS sample_key,
             |  CAST(row_number() OVER (ORDER BY key DESC, doc_id) AS INT) AS rn
             |FROM top""".stripMargin),
      (s, dir) => {
        import s.implicits._
        val w = TextFunctions.qualityScore($"text")
        val u = hexUniformCol(md5($"doc_id".cast("string").cast("binary")))
        // snap the key BEFORE the top-k cut (the centroidDistCte
        // discipline): ln() is not bit-identical across JVM/DuckDB libm,
        // so an unsnapped key could flip the 200/201 boundary selection —
        // snapped keys tie instead, and the doc_id tiebreak makes both
        // engines cut identically
        val top = docs(s, dir)
          .select($"doc_id", w.as("w"), snap6(log(u) / w).as("key"))
          .where($"w" > 0)
          .orderBy($"key".desc, $"doc_id").limit(200)
        top.withColumn("rn",
            row_number().over(Window.orderBy($"key".desc, $"doc_id")))
          .select($"doc_id", snap6($"w").as("quality"),
            $"key".as("sample_key"), $"rn")
      }),

    // ------------------------------------------------------------------
    // Poisson-bootstrap confidence intervals for the per-source mean doc
    // length — THE bootstrap that survives 100 TB: classical resampling
    // draws n rows with replacement B times (B corpus shuffles); the
    // Poisson approximation instead gives every (row, replicate) an
    // independent Poisson(1) weight — ONE pass, no resampling shuffle,
    // exact in the n→∞ limit (Chamandy et al., "Estimating Uncertainty
    // for Massive Data Streams", Google 2012). Weights draw from the
    // seedless md5 uniform per (doc, replicate) through the shared
    // Poisson(1) inverse-CDF thresholds ([[poissonCums]] — Scala-computed
    // literals in BOTH plans), so the whole CI is rerun- and
    // engine-reproducible. Scale shape: a ×32 constant-side explode of
    // the two-column (source, n_chars) projection (the centroidDistCte
    // range-expansion convention, not a data×data cross join), collapsed
    // by map-side partial aggs to 32·|sources| weighted-sum rows; the
    // replicate means are EXACT integer-sum ratios (no snap until the
    // end), and only the final quantile interpolation over 32 means per
    // source snaps 1e-6.
    QueryDef(
      "q_bootstrap_ci",
      Some {
        // e0 suffix: lex as DOUBLE, never DECIMAL (the q_benford
        // 17-digit double-rounding trap)
        val cases = poissonCums.zipWithIndex
          .map { case (c, k) => s"WHEN u < ${c}e0 THEN $k" }
          .mkString("\n             ")
        s"""WITH reps AS (SELECT unnest(range(0, 32)) AS b),
           |x AS (
           |  SELECT d.source, d.n_chars, r.b,
           |    md5(CAST(d.doc_id AS VARCHAR) || '#' || CAST(r.b AS VARCHAR)) AS h
           |  FROM documents d CROSS JOIN reps r),
           |u AS (SELECT source, n_chars, b, $hexUniformSql AS u FROM x),
           |w AS (
           |  SELECT source, n_chars, b,
           |    CASE $cases
           |         ELSE 8 END AS w
           |  FROM u),
           |m AS (
           |  SELECT source, b,
           |    CAST(sum(w * n_chars) AS DOUBLE) / CAST(sum(w) AS DOUBLE) AS mb
           |  FROM w GROUP BY 1, 2 HAVING sum(w) > 0)
           |SELECT source, CAST(count(*) AS BIGINT) AS n_replicates,
           |  FLOOR(quantile_cont(mb, 0.025) * 1000000 + 0.5) / 1000000 AS ci_lo,
           |  FLOOR(quantile_cont(mb, 0.975) * 1000000 + 0.5) / 1000000 AS ci_hi
           |FROM m GROUP BY 1""".stripMargin
      },
      (s, dir) => {
        import s.implicits._
        val h = md5(concat($"doc_id".cast("string"), lit("#"),
          $"b".cast("string")).cast("binary"))
        val u = hexUniformCol(h)
        val w = poissonCums.zipWithIndex.reverse
          .foldLeft(lit(8)) { case (acc, (c, k)) =>
            when(u < lit(c), lit(k)).otherwise(acc)
          }
        val m = docs(s, dir)
          .select($"source", $"n_chars", $"doc_id",
            explode(sequence(lit(0), lit(31))).as("b"))
          .select($"source", $"n_chars", $"b", w.as("w"))
          .groupBy($"source", $"b")
          .agg(sum($"w" * $"n_chars").as("swx"), sum($"w").as("sw"))
          .where($"sw" > 0)
          .select($"source", $"b",
            ($"swx".cast("double") / $"sw".cast("double")).as("mb"))
        m.groupBy($"source").agg(
          count(lit(1)).as("n_replicates"),
          snap6(expr("percentile(mb, 0.025)")).as("ci_lo"),
          snap6(expr("percentile(mb, 0.975)")).as("ci_hi"))
      }),

    // ------------------------------------------------------------------
    // Pairwise source vocabulary overlap: Jaccard of the DISTINCT-token
    // sets for every source pair that shares at least one token — the
    // source-taxonomy read (two crawls of the same site family overlap
    // near 1; a code source against prose near 0) that tells a curator
    // which "different" sources are really one source before mixture
    // weights are chosen per source. NOT a doc-pair operator: the join
    // key is the token and the pair space is bounded by the CATEGORY
    // count squared per token (sources, not documents), so a trillion-doc
    // corpus costs the same pair work as a thousand-doc one. One
    // (source, token) distinct-agg is the branch point (explicit
    // isNotNull, token repartition) shared by the self-join's two legs
    // and the vocabulary sizes; sizes broadcast back. All-int counts +
    // one IEEE divide — no snap anywhere.
    QueryDef(
      "q_source_overlap",
      Some("""WITH sv AS (
             |  SELECT DISTINCT source, token FROM (
             |    SELECT source,
             |      unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token
             |    FROM documents WHERE source IS NOT NULL)),
             |sz AS (SELECT source, CAST(count(*) AS BIGINT) AS nv
             |       FROM sv GROUP BY 1),
             |ix AS (
             |  SELECT a.source AS source_a, b.source AS source_b,
             |         CAST(count(*) AS BIGINT) AS n_inter
             |  FROM sv a JOIN sv b ON a.token = b.token AND a.source < b.source
             |  GROUP BY 1, 2)
             |SELECT source_a, source_b, n_inter, x.nv AS n_a, y.nv AS n_b,
             |  CAST(n_inter AS DOUBLE)
             |    / CAST(x.nv + y.nv - n_inter AS DOUBLE) AS vocab_jaccard
             |FROM ix JOIN sz x ON ix.source_a = x.source
             |        JOIN sz y ON ix.source_b = y.source""".stripMargin),
      (s, dir) => {
        import s.implicits._
        val sv = tokensBy(docs(s, dir), "source")
          .where($"token".isNotNull)
          .distinct()
          .repartition($"token")
        val sz = sv.groupBy($"source").agg(count(lit(1)).as("nv"))
        val ix = sv.select($"source".as("source_a"), $"token")
          .join(sv.select($"source".as("source_b"), $"token"), Seq("token"))
          .where($"source_a" < $"source_b")
          .groupBy($"source_a", $"source_b").agg(count(lit(1)).as("n_inter"))
        ix.join(broadcast(sz.select($"source".as("source_a"), $"nv".as("n_a"))),
            Seq("source_a"))
          .join(broadcast(sz.select($"source".as("source_b"), $"nv".as("n_b"))),
            Seq("source_b"))
          .select($"source_a", $"source_b", $"n_inter", $"n_a", $"n_b",
            ($"n_inter".cast("double")
              / ($"n_a" + $"n_b" - $"n_inter").cast("double"))
              .as("vocab_jaccard"))
      }),

    // ------------------------------------------------------------------
    // Benford first-digit audit of doc lengths: observed vs expected
    // log10(1 + 1/d) frequency per leading digit — the classic
    // fabricated-data tripwire (organically grown size distributions
    // follow Benford closely; a synthetic-filler source or a
    // truncation-at-N bug shows up as a spiked digit). The digit comes
    // from the INTEGER's string rendering — identical across engines,
    // where a log10/pow derivation can misbucket exactly at the power-of-
    // ten boundaries (log10(1000.0) is not always 3.0 in IEEE). Expected
    // probabilities are Scala-computed literals shared by both plans.
    // Map-only digit extract + one 9-row agg; the total rides back as a
    // one-row broadcast. obs_p is one IEEE divide of exact ints; the
    // log10 literals round-trip — no snap anywhere.
    QueryDef(
      "q_benford",
      Some {
        // the e0 suffix makes DuckDB lex the literal as DOUBLE directly:
        // a bare 17-significant-digit literal parses as DECIMAL whose
        // int64 mantissa exceeds 2^53, and the DECIMAL→DOUBLE conversion
        // double-rounds a ulp off the Java-parsed value (measured on
        // log10(4/3))
        val exps = (1 to 9)
          .map(d => s"WHEN '$d' THEN ${math.log10(1.0 + 1.0 / d)}e0")
          .mkString("\n             ")
        s"""WITH d AS (
           |  SELECT substr(CAST(n_chars AS VARCHAR), 1, 1) AS digit
           |  FROM documents WHERE n_chars > 0),
           |c AS (SELECT digit, CAST(count(*) AS BIGINT) AS n_docs
           |      FROM d GROUP BY 1),
           |t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS total FROM c)
           |SELECT digit, n_docs,
           |  CAST(n_docs AS DOUBLE) / CAST(total AS DOUBLE) AS obs_p,
           |  CASE digit
           |    $exps
           |  END AS benford_p
           |FROM c CROSS JOIN t""".stripMargin
      },
      (s, dir) => {
        import s.implicits._
        val c = docs(s, dir)
          .where($"n_chars" > 0)
          .select(substring($"n_chars".cast("string"), 1, 1).as("digit"))
          .groupBy($"digit").agg(count(lit(1)).as("n_docs"))
        val t = c.agg(sum($"n_docs").as("total"))
        val benford = (1 to 9).reverse
          .foldLeft(lit(null).cast("double")) { case (acc, d) =>
            when($"digit" === d.toString, lit(math.log10(1.0 + 1.0 / d)))
              .otherwise(acc)
          }
        c.crossJoin(broadcast(t))
          .select($"digit", $"n_docs",
            ($"n_docs".cast("double") / $"total".cast("double")).as("obs_p"),
            benford.as("benford_p"))
      }),

    // ------------------------------------------------------------------
    // Triangle count + global clustering coefficient of the near-dup
    // graph — the third graph read: degree says how MANY partners,
    // PageRank says how CENTRAL, the clustering coefficient says how
    // CLOSED the neighborhoods are (near 1 = tight template families
    // where transitive closure adds nothing; near 0 = chains/stars where
    // connected components will merge far beyond what pairwise similarity
    // suggests — the number that predicts how aggressive cluster-level
    // dedup will be BEFORE running it). Triangles via the canonical
    // a<b<c edge orientation (each triangle counted exactly once, the
    // node-iterator join); wedges as Σ d(d−1)/2 from the degree relation.
    // All three edge-join legs and the degree leg branch off the ONE
    // certified pair relation (explicit isNotNull keeps them canonical);
    // join keys differ per leg so the joins shuffle the EDGE relation
    // (pair-sized, tiny vs corpus), never documents.
    QueryDef(
      "q_triangles",
      Some(s"""WITH $jaccardPairsCte, $edgesCte,
             |tri AS (
             |  SELECT CAST(count(*) AS BIGINT) AS n_triangles
             |  FROM edges e1 JOIN edges e2 ON e2.a = e1.b
             |                JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b),
             |dg AS (SELECT a AS id, count(*) AS d FROM und GROUP BY 1),
             |wed AS (
             |  SELECT CAST(CAST(sum(d * (d - 1)) AS DOUBLE) / 2 AS BIGINT)
             |    AS n_wedges
             |  FROM dg)
             |SELECT n_triangles, n_wedges,
             |  CASE WHEN n_wedges > 0
             |       THEN CAST(3 * n_triangles AS DOUBLE)
             |            / CAST(n_wedges AS DOUBLE)
             |  END AS clustering
             |FROM tri CROSS JOIN wed""".stripMargin),
      (s, dir) => {
        import s.implicits._
        val d = docs(s, dir)
        // the pair machinery is consumed by FOUR downstream references
        // (degreeOf's two union legs, the orientation join, the wedge agg)
        // — materialize the edge relation ONCE (pair-sized, the q_pagerank
        // lifecycle) instead of re-running shingle→candidate→pair per
        // consumer
        val edges = Dedup.jaccardPairs(d, "doc_id", "text")
          .select($"doc_a".as("a"), $"doc_b".as("b"))
          .where($"a".isNotNull && $"b".isNotNull)
          .localCheckpoint(false)
        // degree-ordered node-iterator: the oracle keeps the a<b id
        // orientation — the COUNT is orientation-invariant under any
        // acyclic total order — while the Spark plan orients by (deg, id)
        // so a template-star hub never sources the wedge join
        // (Components.orientByDegree scaladoc has the skew argument);
        // the degree relation is computed once and feeds both the
        // orientation and the wedge count
        val dg = Components.degreeOf(edges, "a", "b")
        val tri = Components.countTriangles(edges, "a", "b", dg)
        val wed = dg
          .agg((sum($"d" * ($"d" - 1)) / lit(2)).cast("long").as("n_wedges"))
        tri.crossJoin(broadcast(wed))
          .select($"n_triangles", $"n_wedges",
            when($"n_wedges" > 0,
              (lit(3) * $"n_triangles").cast("double")
                / $"n_wedges".cast("double")).as("clustering"))
      }),

    // ------------------------------------------------------------------
    // Distributed global row numbering ([[graft.operators.Rank]]): the
    // scalable spelling of the bare `row_number() OVER (ORDER BY ...)` —
    // Spark plans that as a ONE-partition window (the whole corpus through
    // a single task; the declared inventory only ever does it on bounded
    // domains), while this operator range-partitions on the order key,
    // sorts within partitions, and zipWithIndex assigns contiguous global
    // ordinals in range order for one extra metadata-sized count job.
    // The oracle IS the one-partition spelling — bit-equal output, scale-
    // opposite plan. Order key (n_chars, doc_id) is total and non-NULL
    // per the operator contract.
    QueryDef(
      "q_global_rank",
      Some("""SELECT doc_id, n_chars,
             |  CAST(row_number() OVER (ORDER BY n_chars, doc_id) AS BIGINT)
             |    AS rn
             |FROM documents""".stripMargin),
      (s, dir) =>
        Rank.globalRowNumber(
          docs(s, dir).select(col("doc_id"), col("n_chars")),
          Seq("n_chars", "doc_id"))),

    // ------------------------------------------------------------------
    // Flesch reading ease: 206.835 − 1.015·(words/sentences) −
    // 84.6·(syllables/words) — the standard named readability score the
    // quality panel lacks (qualityScore blends ratios into an opaque
    // 0..1; Flesch lands on the interpretable published scale where ~90
    // is grade-school prose and <30 is academic/legalese — the register
    // signal for curriculum bucketing). Syllables approximate as vowel-
    // group runs ([aeiouy]+, the standard heuristic); sentence/word
    // counts reuse the q_sentence_stats conventions so the regex rules
    // stay single-sourced in spirit and identical in both engines.
    // Map-only codegen riding the scan — zero shuffles at any corpus
    // size. Degenerate docs: no words → NULL score; no sentence marks →
    // sentence count floors at 1 (the whole doc is one sentence). The
    // formula is per-row IEEE arithmetic mirrored operation-for-
    // operation; snapped 1e-6 as boundary insurance.
    QueryDef(
      "q_readability",
      Some("""SELECT doc_id,
             |  CAST(length(regexp_extract_all(lower(text), '[a-z0-9]+')) AS INT)
             |    AS n_words,
             |  CAST(length(regexp_extract_all(lower(text), '[aeiouy]+')) AS INT)
             |    AS n_syllables,
             |  CASE WHEN length(regexp_extract_all(lower(text), '[a-z0-9]+')) > 0
             |       THEN FLOOR((206.835
             |         - 1.015 * (CAST(length(regexp_extract_all(lower(text), '[a-z0-9]+')) AS DOUBLE)
             |                    / GREATEST(length(regexp_extract_all(text, '[.!?]+')), 1))
             |         - 84.6 * (CAST(length(regexp_extract_all(lower(text), '[aeiouy]+')) AS DOUBLE)
             |                   / CAST(length(regexp_extract_all(lower(text), '[a-z0-9]+')) AS DOUBLE)))
             |         * 1000000 + 0.5) / 1000000
             |  END AS flesch
             |FROM documents""".stripMargin),
      (s, dir) => {
        import s.implicits._
        val w = TextFunctions.wordCount($"text")
        val syl = regexp_count(lower($"text"), lit("[aeiouy]+"))
        val sent = greatest(TextFunctions.sentenceCount($"text"), lit(1))
        val flesch = lit(206.835) -
          lit(1.015) * (w.cast("double") / sent) -
          lit(84.6) * (syl.cast("double") / w.cast("double"))
        docs(s, dir).select($"doc_id",
          w.as("n_words"), syl.as("n_syllables"),
          when(w > 0, snap6(flesch)).as("flesch"))
      }),

    // ------------------------------------------------------------------
    // Population Stability Index between two corpus slices (deciles of
    // doc length) — the ML-ops drift gauge beside q_source_divergence's
    // KL: PSI bins the REFERENCE slice into its own deciles and asks how
    // much of the CURRENT slice's mass moved between bins (rule of thumb:
    // <0.1 stable, >0.25 investigate). Slices derive as the doc_id parity
    // halves (identically in both engines — the q_corpus_diff stand-in
    // convention for two releases). Shape: one exact-percentile agg over
    // the reference slice broadcasts 9 snapped cut points, then ONE
    // binning pass over all docs (bin = count of cuts ≤ x, a 9-element
    // filter in codegen) feeding a 10-row conditional-count agg; totals
    // and the PSI sum ride windows over those 10 rows (the bounded
    // single-partition case, q_zipf's discipline). Zero-count bins take
    // the standard +0.5 floor so the log never sees 0; deciles collapsed
    // by duplicate cut values simply don't appear — identically on both
    // engines. Contributions snap 1e-6; the total sums RAW contributions
    // then snaps, mirrored exactly.
    QueryDef(
      "q_drift_psi",
      Some {
        // quantile_cont demands CONSTANT fractions — generate the 9
        // decile columns then unnest, instead of a range-join parameter
        val cuts = (1 to 9).map(i =>
          s"FLOOR(quantile_cont(n_chars, 0.${i}) * 1000000 + 0.5) / 1000000 AS v$i")
          .mkString(",\n    ")
        val list = (1 to 9).map(i => s"v$i").mkString("[", ", ", "]")
        s"""WITH ref AS (
           |  SELECT n_chars FROM documents WHERE doc_id % 2 = 0),
           |thr AS (
           |  SELECT $cuts
           |  FROM ref),
           |th AS (SELECT unnest($list) AS v FROM thr),
           |d AS (SELECT n_chars, doc_id % 2 = 0 AS is_ref FROM documents),""".stripMargin + """
             |b AS (
             |  SELECT (SELECT CAST(count(*) AS INT) FROM th
             |          WHERE CAST(d.n_chars AS DOUBLE) >= th.v) AS bin,
             |         is_ref
             |  FROM d),
             |g AS (
             |  SELECT bin,
             |    CAST(count(CASE WHEN is_ref THEN 1 END) AS BIGINT) AS n_ref,
             |    CAST(count(CASE WHEN NOT is_ref THEN 1 END) AS BIGINT) AS n_cur
             |  FROM b GROUP BY 1),
             |p AS (
             |  SELECT bin, n_ref, n_cur,
             |    ((CAST(n_cur AS DOUBLE) + 0.5)
             |       / (CAST(sum(n_cur) OVER () AS DOUBLE) + 5.0)
             |     - (CAST(n_ref AS DOUBLE) + 0.5)
             |       / (CAST(sum(n_ref) OVER () AS DOUBLE) + 5.0))
             |    * ln(((CAST(n_cur AS DOUBLE) + 0.5)
             |          / (CAST(sum(n_cur) OVER () AS DOUBLE) + 5.0))
             |         / ((CAST(n_ref AS DOUBLE) + 0.5)
             |            / (CAST(sum(n_ref) OVER () AS DOUBLE) + 5.0))) AS c
             |  FROM g)
             |SELECT bin, n_ref, n_cur,
             |  FLOOR(c * 1000000 + 0.5) / 1000000 AS psi_bin,
             |  FLOOR(sum(c) OVER () * 1000000 + 0.5) / 1000000 AS psi_total
             |FROM p""".stripMargin
      },
      (s, dir) => {
        import s.implicits._
        val th = docs(s, dir).where($"doc_id" % 2 === 0)
          .agg(expr("percentile(n_chars, array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9))")
            .as("vs"))
          .select(transform($"vs", v => snap6(v)).as("vs"))
        val g = docs(s, dir)
          .select($"n_chars", ($"doc_id" % 2 === 0).as("is_ref"))
          .crossJoin(broadcast(th))
          .select(size(filter($"vs",
              v => $"n_chars".cast("double") >= v)).as("bin"), $"is_ref")
          .groupBy($"bin").agg(
            count(when($"is_ref", lit(1))).as("n_ref"),
            count(when(!$"is_ref", lit(1))).as("n_cur"))
        val wAll = Window.partitionBy()
        val pc = ($"n_cur".cast("double") + lit(0.5)) /
          (sum($"n_cur").over(wAll).cast("double") + lit(5.0))
        val pr = ($"n_ref".cast("double") + lit(0.5)) /
          (sum($"n_ref").over(wAll).cast("double") + lit(5.0))
        g.select($"bin", $"n_ref", $"n_cur",
            ((pc - pr) * log(pc / pr)).as("c"))
          .select($"bin", $"n_ref", $"n_cur",
            snap6($"c").as("psi_bin"),
            snap6(sum($"c").over(wAll)).as("psi_total"))
      }),

    // ------------------------------------------------------------------
    // Dedup threshold calibration sweep: the certified candidate pairs
    // with ≥0.5/0.7/0.9 flags decorating each row — ONE pair pass answers
    // "how many pairs does each threshold drop?" across the whole tuning
    // range, where running the pipeline per candidate threshold would
    // re-pay the shingle machinery each time. The flags are raw IEEE
    // comparisons on the exact-integer jaccard ratio — engine-identical,
    // no snapping anywhere. (The jaccard is the rare-shingle LOWER BOUND,
    // as documented on Dedup.jaccardPairs — the sweep calibrates the
    // operator actually deployed, which is the point.)
    QueryDef(
      "q_dedup_threshold_sweep",
      Some(s"""WITH $jaccardPairsCte
             |SELECT doc_a, doc_b, n_inter,
             |  $jaccardSql AS jaccard,
             |  $jaccardSql >= 0.5 AS ge_05,
             |  $jaccardSql >= 0.7 AS ge_07,
             |  $jaccardSql >= 0.9 AS ge_09
             |FROM pairs
             |WHERE $jaccardSql >= 0.3""".stripMargin),
      (s, dir) => {
        import s.implicits._
        Dedup.jaccardPairs(docs(s, dir), "doc_id", "text")
          .select($"doc_a", $"doc_b", $"n_inter", $"jaccard",
            ($"jaccard" >= 0.5).as("ge_05"),
            ($"jaccard" >= 0.7).as("ge_07"),
            ($"jaccard" >= 0.9).as("ge_09"))
      }),

    // ------------------------------------------------------------------
    // Tokenizer fertility by language: bytes per (BPE-ish) token — the
    // standard tokenizer-evaluation read that decides whether a language
    // is being token-taxed (a lang whose bytes/token is half the others'
    // pays double the context budget per character; the number that
    // triggers vocabulary rebalancing before training, and the aggregate
    // face of q_token_count's per-doc estimates). One map-only pass
    // (codegen regex count + octet length) into a lang-keyed partial agg;
    // all-integer sums, one exact IEEE divide — no snap.
    QueryDef(
      "q_fertility",
      Some("""SELECT lang,
             |  CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(sum(length(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]'))) AS BIGINT) AS n_tokens,
             |  CAST(sum(strlen(text)) AS BIGINT) AS n_bytes,
             |  CASE WHEN sum(length(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]'))) > 0
             |       THEN CAST(sum(strlen(text)) AS DOUBLE)
             |            / CAST(sum(length(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]'))) AS DOUBLE)
             |  END AS bytes_per_token
             |FROM documents GROUP BY lang""".stripMargin),
      (s, dir) => {
        import s.implicits._
        docs(s, dir)
          .select($"lang",
            TextFunctions.bpeishTokenCount($"text").as("t"),
            octet_length($"text").as("b"))
          .groupBy($"lang")
          .agg(count(lit(1)).as("n_docs"),
            sum($"t").as("n_tokens"), sum($"b").as("n_bytes"))
          .select($"lang", $"n_docs", $"n_tokens", $"n_bytes",
            when($"n_tokens" > 0,
              $"n_bytes".cast("double") / $"n_tokens".cast("double"))
              .as("bytes_per_token"))
      }),

    // ------------------------------------------------------------------
    // kNN majority-vote classification over embeddings — the lazy-learner
    // counterpart to q_centroid_assign's parametric classifier (a centroid
    // blurs multi-modal classes; kNN follows the local structure): for a
    // deterministic probe sample, the 10 nearest neighbors by the same
    // bit-exact fixed-order cosine as q_sim_batch vote on the label,
    // ties to the smaller label. The serving shape at scale: probes
    // BROADCAST into the corpus scan (the corpus never shuffles on
    // content), the per-probe cut is rank-over-partition planned as
    // WindowGroupLimit (each corpus partition keeps 10 rows per probe
    // before the exchange), and the vote is a probe-keyed count over
    // 10·|probes| rows. Self-matches excluded (leave-one-out). Fully
    // hash-oracled.
    //
    // The probe modulus derives from the count: a fixed modulus makes
    // |probes| grow with n and the broadcast-probe scan QUADRATIC.
    // max(23, ceil(n/100)) bounds the eval at ~100 probes at ANY corpus
    // size (the certTruthSlice discipline — a fixed probe BUDGET is the
    // statistically-equivalent eval and keeps the scan linear). At ≤ 2300
    // vectors the max() keeps the modulus at 23.
    QueryDef(
      "q_knn_vote",
      Some(s"""WITH p AS (
             |  SELECT vec_id AS probe_id, label AS true_label, embedding AS pv
             |  FROM embeddings
             |  WHERE vec_id % greatest(23, (SELECT CAST(ceil(count(*) / 100e0) AS BIGINT)
             |                               FROM embeddings)) = 0),
             |${probeCosineCte("p.probe_id, p.true_label, e.vec_id, e.label")},
             |r AS (
             |  SELECT probe_id, true_label, label,
             |    row_number() OVER (PARTITION BY probe_id
             |      ORDER BY CASE WHEN nn > 0 THEN d / nn END DESC NULLS LAST,
             |               vec_id) AS rnk
             |  FROM c),
             |v AS (
             |  SELECT probe_id, true_label, label,
             |    CAST(count(*) AS BIGINT) AS n_votes
             |  FROM r WHERE rnk <= 10 GROUP BY 1, 2, 3)
             |SELECT probe_id, true_label, label AS predicted_label, n_votes,
             |  label = true_label AS correct
             |FROM (
             |  SELECT *, row_number() OVER (PARTITION BY probe_id
             |    ORDER BY n_votes DESC, label) AS vr
             |  FROM v)
             |WHERE vr = 1""".stripMargin),
      (s, dir) => {
        import s.implicits._
        val e = emb(s, dir)
        val probeMod = math.max(23L, math.ceil(e.count() / 100.0).toLong)
        val probes = e.where($"vec_id" % probeMod === 0)
          .select($"vec_id".as("probe_id"), $"label".as("true_label"),
            $"embedding".as("pv"))
        val votes = probeTopK(e, probes,
            Seq("probe_id", "true_label", "vec_id", "label"), 10)
          .groupBy($"probe_id", $"true_label", $"label")
          .agg(count(lit(1)).as("n_votes"))
        val wv = Window.partitionBy($"probe_id")
          .orderBy($"n_votes".desc, $"label")
        votes.withColumn("vr", row_number().over(wv))
          .where($"vr" === 1)
          .select($"probe_id", $"true_label",
            $"label".as("predicted_label"), $"n_votes",
            ($"label" === $"true_label").as("correct"))
      }),

    // ------------------------------------------------------------------
    // Out-of-vocabulary rate per language under a frozen top-1000 corpus
    // vocabulary — the coverage read that q_fertility's byte ratio can't
    // give: a language whose token mass falls mostly OUTSIDE the shared
    // vocabulary head is the one a corpus-level tokenizer will shatter
    // into bytes (OOV% is the classic early-warning before committing a
    // vocab). ONE (lang, token) count aggregation is the branch point for
    // everything: the vocabulary derives FROM it (token re-agg →
    // TakeOrdered top-1000 — the vocabulary never meets a global sort),
    // broadcasts back as a membership side, and the per-lang rollup is a
    // conditional sum over the same relation — the corpus is tokenized
    // exactly once (explicit isNotNull keeps the legs canonical).
    // All-integer sums + one IEEE divide; top-1000 cut breaks count ties
    // by token so both engines freeze the same vocabulary.
    QueryDef(
      "q_oov_rate",
      Some("""WITH tc AS (
             |  SELECT lang, token, CAST(count(*) AS BIGINT) AS c FROM (
             |    SELECT lang,
             |      unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token
             |    FROM documents WHERE lang IS NOT NULL)
             |  GROUP BY 1, 2),
             |v AS (
             |  SELECT token FROM (
             |    SELECT token, sum(c) AS tot FROM tc GROUP BY 1)
             |  ORDER BY tot DESC, token LIMIT 1000)
             |SELECT lang,
             |  CAST(sum(c) AS BIGINT) AS n_tokens,
             |  CAST(sum(CASE WHEN v.token IS NULL THEN c ELSE 0 END) AS BIGINT)
             |    AS n_oov,
             |  CAST(sum(CASE WHEN v.token IS NULL THEN c ELSE 0 END) AS DOUBLE)
             |    / CAST(sum(c) AS DOUBLE) AS oov_rate
             |FROM tc LEFT JOIN v ON tc.token = v.token
             |GROUP BY lang""".stripMargin),
      (s, dir) => {
        import s.implicits._
        val tc = tokensBy(docs(s, dir), "lang")
          .where($"token".isNotNull)
          .groupBy($"lang", $"token").agg(count(lit(1)).as("c"))
        val v = tc.groupBy($"token").agg(sum($"c").as("tot"))
          .orderBy($"tot".desc, $"token").limit(1000)
          .select($"token", lit(1).as("__in_vocab"))
        tc.join(broadcast(v), Seq("token"), "left")
          .groupBy($"lang")
          .agg(sum($"c").as("n_tokens"),
            sum(when($"__in_vocab".isNull, $"c").otherwise(lit(0L)))
              .as("n_oov"))
          .select($"lang", $"n_tokens", $"n_oov",
            ($"n_oov".cast("double") / $"n_tokens".cast("double"))
              .as("oov_rate"))
      }),

    // ------------------------------------------------------------------
    // MinHash estimator calibration: per candidate pair, the 32-perm
    // portable-signature agreement fraction NEXT TO the true shingle-set
    // Jaccard — the audit that answers "are 32 permutations enough at our
    // similarity band?" with measured per-pair error instead of the
    // textbook 1/√k bound (and, as a side effect, shows how far the
    // rare-shingle candidate jaccard's LOWER BOUND sits from truth). The
    // true intersection is computed ONLY on candidate pairs (the
    // broadcast pair list bounds the shingle re-join — never all-pairs);
    // signatures come from [[Dedup.portableSignatures]] (the same
    // portableCoef family the oracle interpolates), per-pair agreement is
    // one zip_with. Every output is exact rational arithmetic: est = k/32,
    // true = int ratio, err = their IEEE difference — no snap anywhere.
    QueryDef(
      "q_minhash_calibration",
      Some {
        val agree = (0 until 32)
          .map(i => s"CASE WHEN x.h$i = y.h$i THEN 1 ELSE 0 END")
          .mkString("\n      + ")
        s"""WITH $jaccardPairsCte, $edgesCte,
           |${portableSigCte(3, 32)},
           |ti AS (
           |  SELECT c.a AS doc_a, c.b AS doc_b, sa.n AS n_a, sb.n AS n_b,
           |         CAST(count(*) AS BIGINT) AS n_true
           |  FROM edges c
           |  JOIN ex sa ON sa.doc_id = c.a
           |  JOIN ex sb ON sb.doc_id = c.b AND sb.shingle = sa.shingle
           |  GROUP BY 1, 2, 3, 4),
           |ag AS (
           |  SELECT t.doc_a, t.doc_b, t.n_a, t.n_b, t.n_true,
           |    CAST($agree AS BIGINT) AS n_agree
           |  FROM ti t JOIN psig x ON x.doc_id = t.doc_a
           |            JOIN psig y ON y.doc_id = t.doc_b)
           |SELECT doc_a, doc_b, n_true,
           |  CAST(n_true AS DOUBLE)
           |    / CAST(n_a + n_b - n_true AS DOUBLE) AS true_jaccard,
           |  CAST(n_agree AS DOUBLE) / 32.0 AS est_jaccard,
           |  abs(CAST(n_agree AS DOUBLE) / 32.0
           |      - CAST(n_true AS DOUBLE)
           |        / CAST(n_a + n_b - n_true AS DOUBLE)) AS abs_err
           |FROM ag""".stripMargin
      },
      (s, dir) => {
        import s.implicits._
        val d = docs(s, dir)
        val cand = broadcast(
          Dedup.jaccardPairs(d, "doc_id", "text").select($"doc_a", $"doc_b"))
        val tok = d.select($"doc_id", TextFunctions.tokens($"text").as("toks"))
        val shd = tok.select($"doc_id", explode(TextFunctions.shinglesNative($"toks", 3))
            .as("shingle"))
        val sizes = shd.groupBy($"doc_id").agg(count(lit(1)).as("n"))
        val ti = cand
          .join(shd.select($"doc_id".as("doc_a"), $"shingle"), Seq("doc_a"))
          .join(shd.select($"doc_id".as("doc_b"), $"shingle"),
            Seq("doc_b", "shingle"))
          .groupBy($"doc_a", $"doc_b").agg(count(lit(1)).as("n_true"))
          // sizes/signatures are CORPUS-sized: join them plain (the
          // bounded ti side is the broadcast candidate, AQE's call) —
          // hinting broadcast on the corpus side would invert the shape
          .join(sizes.select($"doc_id".as("doc_a"), $"n".as("n_a")),
            Seq("doc_a"))
          .join(sizes.select($"doc_id".as("doc_b"), $"n".as("n_b")),
            Seq("doc_b"))
        val sigs = Dedup.portableSignatures(tok)
        val tj = $"n_true".cast("double") /
          ($"n_a" + $"n_b" - $"n_true").cast("double")
        val est = $"n_agree".cast("double") / lit(32.0)
        ti.join(sigs.select($"doc_id".as("doc_a"), $"sig".as("sa")),
            Seq("doc_a"))
          .join(sigs.select($"doc_id".as("doc_b"), $"sig".as("sb")),
            Seq("doc_b"))
          .withColumn("n_agree",
            aggregate(zip_with($"sa", $"sb",
              (x, y) => when(x === y, 1L).otherwise(0L)),
              lit(0L), (acc, v) => acc + v))
          .select($"doc_a", $"doc_b", $"n_true",
            tj.as("true_jaccard"), est.as("est_jaccard"),
            abs(est - tj).as("abs_err"))
      }),

    // ------------------------------------------------------------------
    // MinHash banding operating-point audit: for EVERY divisor
    // banding of the 32-perm signature, the analytic S-curve numbers
    // (threshold sim, recall at the deployed 0.5 / 0.9 thresholds —
    // Scala-computed literals, identical in both plans) next to the
    // EMPIRICAL catch fraction on the certified candidate pairs (a pair
    // is caught iff some band of 32/b consecutive signature rows fully
    // agrees — pure integer comparisons on portable signatures, bit-exact
    // cross-engine), plus the recommendation flags Dedup.recommendBanding
    // derives (fewest bands with ≥0.9 recall at the threshold). This puts
    // the MinhashCalibrationSpec knob under the driver hash gate: a hash-
    // family or banding change that moves measured catch rates flips this
    // query's hash. ONE pass over the pair-signature join computes all 6
    // bandings as conditional sums (a per-banding rerun would re-pay the
    // signature agg 6×); the 6-row output explodes from a literal array.
    // catch_rate is one IEEE divide of exact ints — no snap anywhere.
    QueryDef(
      "q_minhash_operating_points",
      Some {
        val bandings = Seq(1, 2, 4, 8, 16, 32)
        // DuckDB-safe DOUBLE literal: the ${v}e0 convention guards plain
        // decimals, but sub-1e-3 doubles (recall_at_05 at b=1 is 2.3e-10)
        // already render in exponent form — which parses as DOUBLE as-is,
        // and appending e0 to it would be a syntax error
        def dlit(v: Double): String = {
          val s = v.toString
          if (s.contains('E') || s.contains('e')) s else s + "e0"
        }
        val caughtExprs = bandings.map { b =>
          val r = 32 / b
          val bands = (0 until b).map { band =>
            (band * r until (band + 1) * r)
              .map(i => s"x.h$i = y.h$i").mkString("(", " AND ", ")")
          }.mkString("\n        OR ")
          s"CAST(CASE WHEN $bands THEN 1 ELSE 0 END AS BIGINT) AS c$b"
        }.mkString(",\n      ")
        val rows = bandings.map { b =>
          val r = 32 / b
          val thr = Dedup.lshThresholdSim(b, r)
          val at05 = Dedup.lshCandidateProb(0.5, b, r)
          val at09 = Dedup.lshCandidateProb(0.9, b, r)
          val rec05 = Dedup.recommendBanding(32, 0.5, 0.9).contains(b)
          val rec09 = Dedup.recommendBanding(32, 0.9, 0.9).contains(b)
          s"""SELECT $b AS n_bands, $r AS rows_per_band,
             |  ${dlit(thr)} AS threshold_sim,
             |  ${dlit(at05)} AS recall_at_05, ${dlit(at09)} AS recall_at_09,
             |  $rec05 AS recommended_at_05, $rec09 AS recommended_at_09,
             |  n_pairs, k$b AS n_caught,
             |  CAST(k$b AS DOUBLE) / CAST(n_pairs AS DOUBLE) AS catch_rate
             |FROM tot""".stripMargin
        }.mkString("\nUNION ALL\n")
        s"""WITH $jaccardPairsCte, $edgesCte,
           |${portableSigCte(3, 32)},
           |ag AS (
           |  SELECT
           |      $caughtExprs
           |  FROM edges c JOIN psig x ON x.doc_id = c.a
           |               JOIN psig y ON y.doc_id = c.b),
           |tot AS (
           |  SELECT CAST(count(*) AS BIGINT) AS n_pairs,
           |    ${bandings.map(b => s"CAST(sum(c$b) AS BIGINT) AS k$b").mkString(", ")}
           |  FROM ag)
           |$rows""".stripMargin
      },
      (s, dir) => {
        import s.implicits._
        val bandings = Seq(1, 2, 4, 8, 16, 32)
        val d = docs(s, dir)
        val cand = broadcast(
          Dedup.jaccardPairs(d, "doc_id", "text").select($"doc_a", $"doc_b"))
        val sigs = Dedup.portableSignatures(
          d.select($"doc_id", TextFunctions.tokens($"text").as("toks")))
        val joined = cand
          .join(sigs.select($"doc_id".as("doc_a"), $"sig".as("sa")), Seq("doc_a"))
          .join(sigs.select($"doc_id".as("doc_b"), $"sig".as("sb")), Seq("doc_b"))
        def caught(b: Int): Column = {
          val r = 32 / b
          (0 until b).map { band =>
            (band * r until (band + 1) * r)
              .map(i => element_at($"sa", i + 1) === element_at($"sb", i + 1))
              .reduce(_ && _)
          }.reduce(_ || _)
        }
        val tot = joined.agg(
          count(lit(1)).as("n_pairs"),
          bandings.map(b =>
            sum(when(caught(b), 1L).otherwise(0L)).as(s"k$b")): _*)
        val rows = bandings.map { b =>
          val r = 32 / b
          struct(
            lit(b).as("n_bands"), lit(r).as("rows_per_band"),
            lit(Dedup.lshThresholdSim(b, r)).as("threshold_sim"),
            lit(Dedup.lshCandidateProb(0.5, b, r)).as("recall_at_05"),
            lit(Dedup.lshCandidateProb(0.9, b, r)).as("recall_at_09"),
            lit(Dedup.recommendBanding(32, 0.5, 0.9).contains(b))
              .as("recommended_at_05"),
            lit(Dedup.recommendBanding(32, 0.9, 0.9).contains(b))
              .as("recommended_at_09"),
            col(s"k$b").as("n_caught"))
        }
        tot.select(col("n_pairs"), explode(array(rows: _*)).as("x"))
          .select($"x.n_bands".as("n_bands"),
            $"x.rows_per_band".as("rows_per_band"),
            $"x.threshold_sim".as("threshold_sim"),
            $"x.recall_at_05".as("recall_at_05"),
            $"x.recall_at_09".as("recall_at_09"),
            $"x.recommended_at_05".as("recommended_at_05"),
            $"x.recommended_at_09".as("recommended_at_09"),
            $"n_pairs", $"x.n_caught".as("n_caught"),
            ($"x.n_caught".cast("double") / $"n_pairs".cast("double"))
              .as("catch_rate"))
      }),

    // ------------------------------------------------------------------
    // BM25 ranked retrieval: Okapi BM25 (Robertson et al., TREC-3;
    // the Lucene-default smoothed IDF) for a fixed 3-term query — the
    // search-tier read the inverted index (q_inverted_index) and TF-IDF
    // weights (q_tfidf) stop short of: an actual ranked top-k with length
    // normalization, k1 = 1.2, b = 0.75. Scale shape: the corpus
    // tokenizes ONCE into one doc-keyed aggregation producing (dl,
    // per-term tf) — doc length needs every token anyway, so a term
    // pre-filter would save nothing; N / avgdl / per-term df all derive
    // FROM that per-doc relation (the count-relation discipline — never a
    // second corpus scan) and broadcast back as ONE row; non-matching
    // docs drop before any scoring math; the cut is TakeOrderedAndProject
    // on the SNAPPED score (per-term IDF snaps 1e-6 right after ln — the
    // only libm call — and the 3 term scores add in fixed alphabetical
    // order, so both engines cut the identical top-20); rank decorates
    // the 20-row result after the cut.
    QueryDef(
      "q_bm25_topk",
      Some(s"""WITH $bm25TopCte
             |SELECT doc_id, dl, tf_hash, tf_join, tf_scan, score,
             |  CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS rn
             |FROM top""".stripMargin),
      (s, dir) => {
        import s.implicits._
        bm25Top(s, dir).withColumn("rn",
            row_number().over(Window.orderBy($"score".desc, $"doc_id")))
          .select($"doc_id", $"dl", $"tf_hash", $"tf_join", $"tf_scan",
            $"score", $"rn")
      }),

    // ------------------------------------------------------------------
    // Hybrid retrieval by Reciprocal Rank Fusion (Cormack, Clarke &
    // Büttcher, SIGIR 2009): the standard way production search fuses a
    // LEXICAL ranking (BM25, exact term match) with a SEMANTIC one
    // (embedding cosine) without score normalization — each list
    // contributes 1/(60 + rank), so only RANKS cross the modality
    // boundary and the incomparable score scales never meet. Scale shape:
    // both inputs are already top-k cuts (BM25's snapped-score
    // TakeOrdered; the bit-exact cosine top-k), so everything after the
    // two retrievals — rank decoration, the full outer join on doc id,
    // the fused re-sort — runs on 2×k rows. Determinism: ranks are ints
    // from certified-deterministic cuts, each RRF term is one correctly-
    // rounded IEEE divide of exact ints and the two-term sum is ordered
    // (lexical + semantic), so fused scores are bit-identical
    // cross-engine; ties broken by doc_id. doc_id ≡ vec_id by testdata
    // construction (the q_sim_* convention).
    QueryDef(
      "q_hybrid_rrf",
      Some(s"""WITH $bm25TopCte,
             |br AS (
             |  SELECT doc_id,
             |    CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT) AS b_rank
             |  FROM top),
             |ct AS ($top20Sql),
             |cr AS (
             |  SELECT vec_id AS doc_id,
             |    CAST(row_number() OVER (ORDER BY cosine_sim DESC NULLS LAST, vec_id) AS INT) AS c_rank
             |  FROM ct),
             |f AS (
             |  SELECT COALESCE(br.doc_id, cr.doc_id) AS doc_id, b_rank, c_rank,
             |    COALESCE(1.0e0 / (60.0e0 + CAST(b_rank AS DOUBLE)), 0.0e0)
             |      + COALESCE(1.0e0 / (60.0e0 + CAST(c_rank AS DOUBLE)), 0.0e0) AS rrf
             |  FROM br FULL OUTER JOIN cr ON br.doc_id = cr.doc_id),
             |t10 AS (SELECT * FROM f ORDER BY rrf DESC, doc_id LIMIT 10)
             |SELECT doc_id, b_rank, c_rank, rrf AS rrf_score,
             |  CAST(row_number() OVER (ORDER BY rrf DESC, doc_id) AS INT) AS rn
             |FROM t10""".stripMargin),
      (s, dir) => {
        import s.implicits._
        val br = bm25Top(s, dir).select($"doc_id",
          row_number().over(Window.orderBy($"score".desc, $"doc_id"))
            .as("b_rank"))
        val e = emb(s, dir)
        val cr = top20(e, probeVector(s, e))
          .select($"vec_id".as("doc_id"),
            row_number().over(
              Window.orderBy($"cosine_sim".desc_nulls_last, $"vec_id"))
              .as("c_rank"))
        val f = br.join(cr, Seq("doc_id"), "full_outer")
          .select($"doc_id", $"b_rank", $"c_rank",
            (coalesce(lit(1.0) / (lit(60.0) + $"b_rank".cast("double")), lit(0.0))
              + coalesce(lit(1.0) / (lit(60.0) + $"c_rank".cast("double")), lit(0.0)))
              .as("rrf_score"))
        f.orderBy($"rrf_score".desc, $"doc_id").limit(10)
          .withColumn("rn",
            row_number().over(Window.orderBy($"rrf_score".desc, $"doc_id")))
      }),

    // ------------------------------------------------------------------
    // Asymmetric shingle-containment pairs (Dedup.containmentPairs —
    // Broder's second resemblance measure): n_inter / min(n_a, n_b)
    // catches partial duplication that symmetric Jaccard structurally
    // misses — a paragraph quoted whole inside a much longer page has
    // containment ≈ 1 while its Jaccard ≈ |small|/|large| never crosses a
    // dedup threshold. The `asymmetric` flag marks exactly those pairs
    // (containment ≥ 0.5 but jaccard < the deployed 0.3 floor): the
    // incremental catch of adding a containment pass on top of the
    // Jaccard near-dup stage. Rides the SAME certified rare-shingle pair
    // machinery (Dedup.shinglePairs / jaccardPairsCte, which carries
    // n_a/n_b already — zero new shuffles vs q_dedup_jaccard); all three
    // ratios are single IEEE divides of exact ints, no snapping anywhere.
    QueryDef(
      "q_containment",
      Some(s"""WITH $jaccardPairsCte
             |SELECT doc_a, doc_b, CAST(n_a AS INT) AS n_a, CAST(n_b AS INT) AS n_b,
             |  n_inter,
             |  $jaccardSql AS jaccard,
             |  CAST(n_inter AS DOUBLE) / CAST(least(n_a, n_b) AS DOUBLE) AS containment,
             |  $jaccardSql < 0.3 AS asymmetric
             |FROM pairs
             |WHERE CAST(n_inter AS DOUBLE) / CAST(least(n_a, n_b) AS DOUBLE) >= 0.5""".stripMargin),
      (s, dir) => Dedup.containmentPairs(docs(s, dir), "doc_id", "text")),

    // ------------------------------------------------------------------
    // Two-sample Kolmogorov–Smirnov test on the doc-length distribution
    // between the parity release slices (the q_drift_psi pairing): the
    // distribution-shape gate that catches what binned PSI smooths over —
    // D = max CDF gap is sensitive to ANY shift, not just decile mass
    // moves. Shape: one corpus-sized agg down to the value-domain-sized
    // length histogram (lenHistCte, shared with q_mannwhitney), then
    // cumulative + global windows over that bounded relation (313 rows at
    // sf0.01 — the q_zipf bounded-single-partition case). Determinism:
    // cum/total counts are exact ints, each CDF is ONE correctly-rounded
    // divide, gap/max/sqrt are IEEE-exact — bit-identical cross-engine,
    // so nothing snaps. reject_05 compares D against the asymptotic
    // two-sided 5% bound c(α)·√((n_a+n_b)/(n_a·n_b)), c(0.05) = 1.358.
    QueryDef(
      "q_ks_test",
      Some(s"""WITH $lenHistCte,
             |c AS (
             |  SELECT v, c_a, c_b,
             |    CAST(sum(c_a) OVER (ORDER BY v) AS BIGINT) AS cum_a,
             |    CAST(sum(c_b) OVER (ORDER BY v) AS BIGINT) AS cum_b,
             |    CAST(sum(c_a) OVER () AS BIGINT) AS n_a,
             |    CAST(sum(c_b) OVER () AS BIGINT) AS n_b
             |  FROM h),
             |g AS (
             |  SELECT v, c_a, c_b, cum_a, cum_b, n_a, n_b,
             |    abs(CAST(cum_a AS DOUBLE) / CAST(n_a AS DOUBLE)
             |        - CAST(cum_b AS DOUBLE) / CAST(n_b AS DOUBLE)) AS gap
             |  FROM c)
             |SELECT v AS n_chars, c_a, c_b, cum_a, cum_b, gap,
             |  max(gap) OVER () AS d_stat,
             |  max(gap) OVER () > 1.358e0
             |    * sqrt(CAST(n_a + n_b AS DOUBLE)
             |           / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE))) AS reject_05
             |FROM g""".stripMargin),
      (s, dir) => {
        import s.implicits._
        val wOrd = Window.orderBy($"v")
        val wAll = Window.partitionBy()
        val c = lenHist(s, dir).select($"v", $"c_a", $"c_b",
          sum($"c_a").over(wOrd).as("cum_a"),
          sum($"c_b").over(wOrd).as("cum_b"),
          sum($"c_a").over(wAll).as("n_a"),
          sum($"c_b").over(wAll).as("n_b"))
        val g = c.withColumn("gap",
          abs($"cum_a".cast("double") / $"n_a".cast("double")
            - $"cum_b".cast("double") / $"n_b".cast("double")))
        g.select($"v".as("n_chars"), $"c_a", $"c_b", $"cum_a", $"cum_b",
          $"gap",
          max($"gap").over(wAll).as("d_stat"),
          (max($"gap").over(wAll) > lit(1.358)
            * sqrt(($"n_a" + $"n_b").cast("double")
              / ($"n_a".cast("double") * $"n_b".cast("double"))))
            .as("reject_05"))
      }),

    // ------------------------------------------------------------------
    // Mann–Whitney U (Wilcoxon rank-sum) between the parity slices on doc
    // length — the nonparametric LOCATION test beside q_ks_test's shape
    // test and q_robust_zscore's outlier gauge: "is one release slice
    // systematically longer?", assuming nothing about the distribution.
    // Rank machinery rides the SAME value-domain histogram (lenHistCte):
    // tied values take the midrank, computed per distinct value as
    // cum_before + (t+1)/2 — kept EXACT by aggregating 2·rank-weighted
    // counts as integers (r_a2; HUGEINT in DuckDB, long in Spark — overflow
    // only beyond ~2^31 docs) and halving once at the end, so the rank
    // sum is order-independent in both engines' partial aggs. z applies
    // the standard tie-corrected normal approximation; it snaps 1e-6
    // (divide+sqrt chain) and the 1.96 two-sided 5% gate compares the
    // SNAPPED value, so the flag can't straddle a ulp.
    QueryDef(
      "q_mannwhitney",
      Some(s"""WITH $lenHistCte,
             |r AS (
             |  SELECT v, c_a, c_b, c_a + c_b AS t,
             |    CAST(sum(c_a + c_b) OVER (ORDER BY v) AS BIGINT) AS cum_all
             |  FROM h),
             |s AS (
             |  SELECT
             |    CAST(sum(c_a * (2 * (cum_all - t) + t + 1)) AS BIGINT) AS r_a2,
             |    CAST(sum(c_a) AS BIGINT) AS n_a,
             |    CAST(sum(c_b) AS BIGINT) AS n_b,
             |    CAST(sum(t * t * t - t) AS BIGINT) AS tie_term
             |  FROM r),
             |z AS (
             |  SELECT n_a, n_b,
             |    CAST(r_a2 AS DOUBLE) / 2.0e0 AS r_a,
             |    CAST(r_a2 AS DOUBLE) / 2.0e0
             |      - CAST(n_a AS DOUBLE) * (CAST(n_a AS DOUBLE) + 1.0e0) / 2.0e0 AS u_a,
             |    CAST(tie_term AS DOUBLE) AS tiet
             |  FROM s),
             |zz AS (
             |  SELECT n_a, n_b, r_a, u_a,
             |    CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) - u_a AS u_b,
             |    (u_a - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 2.0e0)
             |    / sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0e0
             |        * ((CAST(n_a + n_b AS DOUBLE) + 1.0e0)
             |           - tiet / (CAST(n_a + n_b AS DOUBLE)
             |                     * (CAST(n_a + n_b AS DOUBLE) - 1.0e0)))) AS z_raw
             |  FROM z)
             |SELECT n_a, n_b, r_a, u_a, u_b,
             |  FLOOR(z_raw * 1000000 + 0.5) / 1000000 AS z_score,
             |  abs(FLOOR(z_raw * 1000000 + 0.5) / 1000000) > 1.96e0 AS significant
             |FROM zz""".stripMargin),
      (s, dir) => {
        import s.implicits._
        val wOrd = Window.orderBy($"v")
        val r = lenHist(s, dir).select($"v", $"c_a", $"c_b",
          ($"c_a" + $"c_b").as("t"),
          sum($"c_a" + $"c_b").over(wOrd).as("cum_all"))
        val agg = r.agg(
          sum($"c_a" * (lit(2) * ($"cum_all" - $"t") + $"t" + lit(1))).as("r_a2"),
          sum($"c_a").as("n_a"), sum($"c_b").as("n_b"),
          sum($"t" * $"t" * $"t" - $"t").as("tie_term"))
        val na = $"n_a".cast("double")
        val nb = $"n_b".cast("double")
        val nn = ($"n_a" + $"n_b").cast("double")
        val rA = $"r_a2".cast("double") / lit(2.0)
        val uA = rA - na * (na + lit(1.0)) / lit(2.0)
        val zRaw = (uA - na * nb / lit(2.0)) /
          sqrt(na * nb / lit(12.0) *
            ((nn + lit(1.0))
              - $"tie_term".cast("double") / (nn * (nn - lit(1.0)))))
        agg.select($"n_a", $"n_b", rA.as("r_a"), uA.as("u_a"),
          (na * nb - uA).as("u_b"),
          snap6(zRaw).as("z_score"),
          (abs(snap6(zRaw)) > lit(1.96)).as("significant"))
      }),

    // ------------------------------------------------------------------
    // Spearman rank correlation between doc length (chars) and word count
    // — the nonparametric twin of q_corr_regr's Pearson (monotone
    // association, immune to the heavy length tails that drag a Pearson
    // coefficient around). Rank machinery never sorts the corpus: ONE
    // corpus pass builds the JOINT (chars, words) histogram — bounded by
    // the value-domain product, not corpus rows — marginals and midranks
    // derive from it with bounded single-partition windows, ranks join
    // back broadcast-sized, and Pearson-on-ranks is one weighted agg.
    // Exactness: midranks are kept as DOUBLED integers (2·midrank is
    // always integral, ties included), so every aggregated sum is an
    // exact integer in both engines' partial aggs at any shuffle layout;
    // the closed-form rho then divides/sqrts once and snaps 1e-6.
    // The rank MOMENTS grow as ~4n³, so they aggregate as DECIMAL(38,0)
    // in Spark and HUGEINT terms in DuckDB (a plain LongType sum wraps
    // silently past ~1.3M docs under non-ANSI mode while DuckDB promotes
    // to HUGEINT): both stay exact integers to
    // n ≈ 1.3e12 docs, and the one DECIMAL→DOUBLE / HUGEINT→DOUBLE cast
    // is correctly rounded in both engines, so rho stays bit-identical
    // pre-snap. q_mannwhitney's ~n² sums keep their documented ~2^31
    // ceiling; these ~n³ sums needed the wider type first.
    QueryDef(
      "q_spearman",
      Some("""WITH base AS (
             |  SELECT n_chars AS x,
             |    CAST(length(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS y
             |  FROM documents
             |  WHERE n_chars IS NOT NULL AND text IS NOT NULL),
             |g AS (SELECT x, y, CAST(count(*) AS BIGINT) AS c FROM base GROUP BY 1, 2),
             |hx AS (SELECT x, CAST(sum(c) AS BIGINT) AS cx FROM g GROUP BY 1),
             |hy AS (SELECT y, CAST(sum(c) AS BIGINT) AS cy FROM g GROUP BY 1),
             |rx AS (
             |  SELECT x,
             |    2 * (CAST(sum(cx) OVER (ORDER BY x) AS BIGINT) - cx) + cx + 1 AS rx2
             |  FROM hx),
             |ry AS (
             |  SELECT y,
             |    2 * (CAST(sum(cy) OVER (ORDER BY y) AS BIGINT) - cy) + cy + 1 AS ry2
             |  FROM hy),
             |j AS (
             |  SELECT g.c, rx.rx2, ry.ry2
             |  FROM g JOIN rx ON g.x = rx.x JOIN ry ON g.y = ry.y),
             |s AS (
             |  SELECT CAST(sum(c) AS BIGINT) AS n_docs,
             |    CAST(sum(CAST(c AS HUGEINT) * rx2) AS DOUBLE) AS sx,
             |    CAST(sum(CAST(c AS HUGEINT) * ry2) AS DOUBLE) AS sy,
             |    CAST(sum(CAST(c AS HUGEINT) * rx2 * ry2) AS DOUBLE) AS sxy,
             |    CAST(sum(CAST(c AS HUGEINT) * rx2 * rx2) AS DOUBLE) AS sxx,
             |    CAST(sum(CAST(c AS HUGEINT) * ry2 * ry2) AS DOUBLE) AS syy
             |  FROM j)
             |SELECT n_docs,
             |  FLOOR((CAST(n_docs AS DOUBLE) * sxy - sx * sy)
             |    / sqrt((CAST(n_docs AS DOUBLE) * sxx - sx * sx)
             |           * (CAST(n_docs AS DOUBLE) * syy - sy * sy))
             |    * 1000000 + 0.5) / 1000000 AS rho_spearman
             |FROM s""".stripMargin),
      (s, dir) => {
        import s.implicits._
        val base = docs(s, dir)
          .where($"n_chars".isNotNull && $"text".isNotNull)
          .select($"n_chars".as("x"),
            TextFunctions.wordCount($"text").cast("long").as("y"))
        val g = base.groupBy($"x", $"y").agg(count(lit(1)).as("c"))
        val wx = Window.orderBy($"x")
        val wy = Window.orderBy($"y")
        val rx = g.groupBy($"x").agg(sum($"c").as("cx"))
          .select($"x",
            (lit(2) * (sum($"cx").over(wx) - $"cx") + $"cx" + lit(1)).as("rx2"))
        val ry = g.groupBy($"y").agg(sum($"c").as("cy"))
          .select($"y",
            (lit(2) * (sum($"cy").over(wy) - $"cy") + $"cy" + lit(1)).as("ry2"))
        // c promotes the whole term chain to DECIMAL(38,0): exact (and
        // wrap-free) to ~1.3e12 docs, like the oracle's HUGEINT terms
        val cD = $"c".cast("decimal(38,0)")
        val agg = g.join(broadcast(rx), Seq("x")).join(broadcast(ry), Seq("y"))
          .agg(sum($"c").as("n_docs"),
            sum(cD * $"rx2").as("sx"), sum(cD * $"ry2").as("sy"),
            sum(cD * $"rx2" * $"ry2").as("sxy"),
            sum(cD * $"rx2" * $"rx2").as("sxx"),
            sum(cD * $"ry2" * $"ry2").as("syy"))
        val nD = $"n_docs".cast("double")
        agg.select($"n_docs",
          snap6((nD * $"sxy".cast("double")
              - $"sx".cast("double") * $"sy".cast("double"))
            / sqrt((nD * $"sxx".cast("double")
                - $"sx".cast("double") * $"sx".cast("double"))
              * (nD * $"syy".cast("double")
                - $"sy".cast("double") * $"sy".cast("double"))))
            .as("rho_spearman"))
      }),

    // ------------------------------------------------------------------
    // Heaps' law vocabulary-growth curve: cumulative distinct vocabulary
    // vs cumulative token count over 10 doc-id-ordered corpus slices,
    // with the log-log OLS slope (Heaps β — natural prose sits ~0.4-0.6;
    // β drifting toward 0 means the crawl is re-reading the same
    // material, toward 1 means junk/noise vocabulary) — the tokenizer-
    // sizing read beside q_zipf_slope's head shape and q_oov_rate's
    // frozen-vocab miss rate. Scale shape: corpus tokenizes ONCE into one
    // (bucket, token) agg — the branch point both the per-bucket token
    // totals and the per-token first-seen bucket derive from (the
    // q_oov_rate discipline; identical subtree → one exchange, reused);
    // everything downstream is vocab- or 10-row-sized. First-seen bucket
    // IS the distinct-vocab increment: summing it cumulatively equals
    // |vocab seen so far| with no distinct-per-prefix rescan. ln sums
    // reorder across engines → the slope snaps 1e-4 (the q_zipf_slope
    // convention); the 10 cum rows themselves are exact ints.
    QueryDef(
      "q_heaps_law",
      Some("""WITH mx AS (SELECT max(doc_id) + 1 AS m FROM documents),
             |tok AS (
             |  SELECT CAST(FLOOR(CAST(doc_id * 10 AS DOUBLE) / CAST(m AS DOUBLE)) AS INT) AS bucket,
             |    unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token
             |  FROM documents, mx),
             |g AS (SELECT bucket, token, CAST(count(*) AS BIGINT) AS c
             |      FROM tok GROUP BY 1, 2),
             |tb AS (SELECT bucket, CAST(sum(c) AS BIGINT) AS n_tokens
             |       FROM g GROUP BY 1),
             |fv AS (SELECT min(bucket) AS first_bucket FROM g GROUP BY token),
             |vb AS (SELECT first_bucket AS bucket, CAST(count(*) AS BIGINT) AS n_new
             |       FROM fv GROUP BY 1),
             |cum AS (
             |  SELECT t.bucket,
             |    CAST(sum(t.n_tokens) OVER (ORDER BY t.bucket) AS BIGINT) AS cum_tokens,
             |    CAST(sum(COALESCE(v.n_new, 0)) OVER (ORDER BY t.bucket) AS BIGINT) AS cum_vocab
             |  FROM tb t LEFT JOIN vb v ON t.bucket = v.bucket),
             |xy AS (
             |  SELECT bucket, cum_tokens, cum_vocab,
             |    ln(CAST(cum_tokens AS DOUBLE)) AS lx,
             |    ln(CAST(cum_vocab AS DOUBLE)) AS ly
             |  FROM cum)
             |SELECT bucket, cum_tokens, cum_vocab,
             |  FLOOR((count(*) OVER () * sum(lx*ly) OVER () - sum(lx) OVER () * sum(ly) OVER ())
             |    / (count(*) OVER () * sum(lx*lx) OVER () - sum(lx) OVER () * sum(lx) OVER ())
             |    * 10000 + 0.5) / 10000 AS heaps_beta
             |FROM xy""".stripMargin),
      (s, dir) => {
        import s.implicits._
        val mx = docs(s, dir).agg((max($"doc_id") + 1).as("m"))
        val tok = docs(s, dir).crossJoin(broadcast(mx))
          .select(
            floor(($"doc_id" * 10).cast("double") / $"m".cast("double"))
              .cast("int").as("bucket"),
            explode(TextFunctions.arrayBarrier(
              TextFunctions.termsAlnum($"text"))).as("token"))
        val g = tok.groupBy($"bucket", $"token").agg(count(lit(1)).as("c"))
        val tb = g.groupBy($"bucket").agg(sum($"c").as("n_tokens"))
        // pruneGuard zero-term: without it column pruning rewrites this
        // leg's copy of g keys-only (c unused by min), the two g subtrees
        // stop being canonically equal, and the WHOLE tokenize→explode
        // corpus scan executes twice (measured: 2 Generate nodes). The
        // guard keeps both legs reading (bucket, token, c) → one exchange,
        // ReusedExchange on the second consumer.
        val vb = g.groupBy($"token")
          .agg((min($"bucket") + Dedup.pruneGuard($"c").cast("int"))
            .as("first_bucket"))
          .groupBy($"first_bucket").agg(count(lit(1)).as("n_new"))
          .withColumnRenamed("first_bucket", "bucket")
        val wOrd = Window.orderBy($"bucket")
        val wAll = Window.partitionBy()
        val xy = tb.join(vb, Seq("bucket"), "left")
          .select($"bucket",
            sum($"n_tokens").over(wOrd).as("cum_tokens"),
            sum(coalesce($"n_new", lit(0L))).over(wOrd).as("cum_vocab"))
          .select($"bucket", $"cum_tokens", $"cum_vocab",
            log($"cum_tokens".cast("double")).as("lx"),
            log($"cum_vocab".cast("double")).as("ly"))
        xy.select($"bucket", $"cum_tokens", $"cum_vocab",
          (floor((count(lit(1)).over(wAll) * sum($"lx" * $"ly").over(wAll)
              - sum($"lx").over(wAll) * sum($"ly").over(wAll))
            / (count(lit(1)).over(wAll) * sum($"lx" * $"lx").over(wAll)
              - sum($"lx").over(wAll) * sum($"lx").over(wAll))
            * 10000.0 + 0.5) / 10000.0).as("heaps_beta"))
      }),

    // ------------------------------------------------------------------
    // Permutation test for the parity slices' mean-length difference —
    // the exact-inference companion to q_mannwhitney (no normal
    // approximation, no distributional assumption: "how often does a
    // RANDOM re-labeling beat the observed gap"). 32 deterministic
    // re-labelings draw each doc's side from one md5 hex digit per
    // (doc, permutation) — the q_bootstrap_ci seedless-replicate
    // convention — so the whole test is rerun- and engine-reproducible.
    // Scale shape: a ×32 constant-side explode of the two-column
    // projection collapsed by map-side partial aggs to 32 rows; the
    // observed gap is ONE extra two-column agg broadcast back. Means are
    // exact-integer-sum ratios, gaps single IEEE subtracts — every
    // comparison is bit-deterministic with no snapping; p follows the
    // add-one rule (observed counts as the 33rd permutation).
    QueryDef(
      "q_permutation_test",
      Some("""WITH o AS (
             |  SELECT abs(CAST(sum(CASE WHEN doc_id % 2 = 0 THEN n_chars END) AS DOUBLE)
             |             / count(CASE WHEN doc_id % 2 = 0 THEN 1 END)
             |           - CAST(sum(CASE WHEN doc_id % 2 = 1 THEN n_chars END) AS DOUBLE)
             |             / count(CASE WHEN doc_id % 2 = 1 THEN 1 END)) AS diff_obs
             |  FROM documents),
             |reps AS (SELECT unnest(range(1, 33)) AS perm),
             |x AS (
             |  SELECT r.perm, d.n_chars,
             |    substr(md5(CAST(d.doc_id AS VARCHAR) || '#' || CAST(r.perm AS VARCHAR)), 1, 1) < '8' AS flip
             |  FROM documents d CROSS JOIN reps r),
             |m AS (
             |  SELECT CAST(perm AS INT) AS perm,
             |    abs(CAST(sum(CASE WHEN flip THEN n_chars END) AS DOUBLE)
             |          / count(CASE WHEN flip THEN 1 END)
             |        - CAST(sum(CASE WHEN NOT flip THEN n_chars END) AS DOUBLE)
             |          / count(CASE WHEN NOT flip THEN 1 END)) AS perm_diff
             |  FROM x GROUP BY 1)
             |SELECT perm, perm_diff, diff_obs,
             |  perm_diff >= diff_obs AS ge_observed,
             |  (CAST(sum(CASE WHEN perm_diff >= diff_obs THEN 1 ELSE 0 END) OVER () AS DOUBLE)
             |     + 1.0e0) / 33.0e0 AS p_value
             |FROM m, o""".stripMargin),
      (s, dir) => {
        import s.implicits._
        val d = docs(s, dir).select($"doc_id", $"n_chars")
        val o = d.agg(abs(
          sum(when($"doc_id" % 2 === 0, $"n_chars")).cast("double")
            / count(when($"doc_id" % 2 === 0, 1))
          - sum(when($"doc_id" % 2 === 1, $"n_chars")).cast("double")
            / count(when($"doc_id" % 2 === 1, 1))).as("diff_obs"))
        val flip = substring(md5(concat($"doc_id".cast("string"), lit("#"),
          $"perm".cast("string")).cast("binary")), 1, 1) < "8"
        val m = d
          .select($"doc_id", $"n_chars",
            explode(sequence(lit(1), lit(32))).as("perm"))
          .select($"perm", flip.as("flip"), $"n_chars")
          .groupBy($"perm").agg(abs(
            sum(when($"flip", $"n_chars")).cast("double")
              / count(when($"flip", 1))
            - sum(when(!$"flip", $"n_chars")).cast("double")
              / count(when(!$"flip", 1))).as("perm_diff"))
        val wAll = Window.partitionBy()
        m.crossJoin(broadcast(o))
          .select($"perm", $"perm_diff", $"diff_obs",
            ($"perm_diff" >= $"diff_obs").as("ge_observed"))
          .withColumn("p_value",
            (sum(when($"ge_observed", 1).otherwise(0)).over(wAll)
              .cast("double") + lit(1.0)) / lit(33.0))
      }),

    // ------------------------------------------------------------------
    // Per-label embedding-centroid drift between the parity release
    // slices — the EMBEDDING twin of q_drift_psi's length drift: after a
    // re-encode / encoder upgrade / new crawl, did any class's centroid
    // move? (The check that catches a silently retrained or mis-scaled
    // encoder before an ANN index is rebuilt on mixed vintages.) Shape:
    // ONE label-keyed agg computes both slices' centroids as 2×dims
    // parallel avg columns (the Ivf.train flat-aggregate shape — map-side
    // combine, one row per label on the wire, the corpus is never
    // posexploded); the L2 distance then evaluates on that one row per
    // label as a FIXED-ORDER expression over per-dim snapped averages
    // (averages snap 1e-6 first — engine sum orders differ — and the
    // 64-term sum is a left-to-right codegen expression, not a float agg,
    // so it is bit-identical cross-engine); the final distance snaps too.
    QueryDef(
      "q_embed_drift",
      Some {
        val dims = SimParams.dims
        val avgs = (0 until dims).map { j =>
          s"""FLOOR(avg(CASE WHEN vec_id % 2 = 0
             |  THEN CAST(embedding[${j + 1}] AS DOUBLE) END) * 1000000 + 0.5)
             |  / 1000000 AS a$j,
             |FLOOR(avg(CASE WHEN vec_id % 2 = 1
             |  THEN CAST(embedding[${j + 1}] AS DOUBLE) END) * 1000000 + 0.5)
             |  / 1000000 AS b$j""".stripMargin
        }.mkString(",\n    ")
        val dist2 = (0 until dims)
          .map(j => s"(a$j - b$j) * (a$j - b$j)")
          .mkString("\n      + ")
        s"""WITH c AS (
           |  SELECT label,
           |    CAST(count(CASE WHEN vec_id % 2 = 0 THEN 1 END) AS BIGINT) AS n_ref,
           |    CAST(count(CASE WHEN vec_id % 2 = 1 THEN 1 END) AS BIGINT) AS n_cur,
           |    $avgs
           |  FROM embeddings GROUP BY 1)
           |SELECT label, n_ref, n_cur,
           |  FLOOR(sqrt($dist2) * 1000000 + 0.5) / 1000000 AS centroid_drift
           |FROM c""".stripMargin
      },
      (s, dir) => {
        import s.implicits._
        val dims = SimParams.dims
        val aggs =
          count(when($"vec_id" % 2 === 0, 1)).as("n_ref") +:
          count(when($"vec_id" % 2 === 1, 1)).as("n_cur") +:
          (0 until dims).flatMap(j => Seq(
            avg(when($"vec_id" % 2 === 0,
              try_element_at($"embedding", lit(j + 1)).cast("double")))
              .as(s"a$j"),
            avg(when($"vec_id" % 2 === 1,
              try_element_at($"embedding", lit(j + 1)).cast("double")))
              .as(s"b$j")))
        val c = emb(s, dir).groupBy($"label").agg(aggs.head, aggs.tail: _*)
        val dist2 = (0 until dims).map { j =>
          val dd = snap6(col(s"a$j")) - snap6(col(s"b$j"))
          dd * dd
        }.reduce(_ + _)
        c.select($"label", $"n_ref", $"n_cur",
          snap6(sqrt(dist2)).as("centroid_drift"))
      }),

    // ------------------------------------------------------------------
    // Quality-score calibration against near-duplication: per quality
    // decile, what fraction of documents sits inside a >1-member near-dup
    // cluster — the audit that tells a curator whether the quality score
    // actually separates boilerplate (which duplicates) from prose before
    // it is used as a mixture/budget knob. Composes three certified
    // machines: qualityScore (IEEE-exact cross-engine), EXACT decile cuts
    // by deterministic rank selection (the q_length_quantiles convention
    // under global (q, doc_id) order via Rank.globalRowNumber: one range
    // shuffle at full parallelism instead of `percentile`'s single-buffer
    // whole-corpus value multiset; cuts are exact data values, so no
    // snap), and the shared CC
    // relation (componentsCte → member counts). One pair-machinery pass +
    // one rank shuffle + one decile agg; dup_rate is a single IEEE divide
    // of exact counts.
    QueryDef(
      "q_quality_vs_dup",
      Some {
        // ${i / 10.0} renders the EXACT double the Spark side multiplies by
        // (lit(i / 10.0)); the e0 suffix keeps DuckDB from lexing it as
        // DECIMAL — same IEEE constant, same multiply, same ceil in both
        // engines by construction (a bare 0.$i would be exact-DECIMAL
        // arithmetic that agrees only by error analysis)
        val targets = (1 to 9).map(i =>
          s"CAST(ceil(n * ${i / 10.0}e0) AS BIGINT)").mkString(", ")
        s"""WITH RECURSIVE $jaccardPairsCte, $componentsCte,
           |sizes AS (
           |  SELECT component, CAST(count(*) AS BIGINT) AS n_members
           |  FROM comp GROUP BY 1),
           |sc AS (
           |  SELECT doc_id,
           |  $qualityScoreSql
           |    AS q
           |  FROM documents),
           |qn AS (SELECT count(*) AS n FROM sc WHERE q IS NOT NULL),
           |qr AS (
           |  SELECT q, row_number() OVER (ORDER BY q, doc_id) AS rn
           |  FROM sc WHERE q IS NOT NULL),
           |th AS (SELECT q AS v FROM qr, qn WHERE rn IN ($targets)),
           |b AS (
           |  SELECT (SELECT CAST(count(*) AS INT) FROM th WHERE sc.q >= th.v) AS bin,
           |         s.n_members > 1 AS is_dup
           |  FROM sc JOIN comp c ON sc.doc_id = c.doc_id
           |           JOIN sizes s USING (component)
           |  WHERE sc.q IS NOT NULL)
           |SELECT bin,
           |  CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(count(CASE WHEN is_dup THEN 1 END) AS BIGINT) AS n_dup,
           |  CAST(count(CASE WHEN is_dup THEN 1 END) AS DOUBLE)
           |    / CAST(count(*) AS DOUBLE) AS dup_rate
           |FROM b GROUP BY 1""".stripMargin
      },
      (s, dir) => qualityVsDup(s, dir, approxCuts = false)),

    // ------------------------------------------------------------------
    // HLL sketch MERGEABILITY — the property that makes cardinality state
    // maintainable at 100 TB across days: per-source Datasketches HLL
    // sketches (binary, persistable — exactly what the OPERATIONS.md
    // daily job would store beside each partition) union-merged must
    // agree with the single-pass global sketch, because HLL union is a
    // register-wise max and never re-reads data. q_approx_distinct gates
    // one run's estimates; THIS gates the cross-run maintenance story:
    // store per-day sketches, merge on read, never rescan history.
    // PROPERTY oracle (sketch bytes aren't ANSI): per-source exact
    // distinct counts are fully oracled; estimate_ok asserts each HLL
    // estimate within 5% of exact (lgK=12 ⇒ ~1.6% rel err, and sparse
    // mode is near-exact at these cardinalities); merge_consistent_ok
    // asserts merged-vs-direct within 1% (tolerance, not equality: the
    // union target HLL type can differ from the direct sketch's). The
    // merged/direct scalars fold to plan literals via two BOUNDED driver
    // jobs at build (the vectorOf/IvfIndex eager-build convention) —
    // deterministic in the data, so reruns and both engines agree on the
    // flag.
    QueryDef(
      "q_sketch_mergeability",
      Some("""WITH e AS (
             |  SELECT source, count(DISTINCT token) AS n_exact FROM (
             |    SELECT source,
             |      unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token
             |    FROM documents WHERE source IS NOT NULL)
             |  GROUP BY 1)
             |SELECT source, CAST(n_exact AS BIGINT) AS n_exact,
             |  true AS estimate_ok, true AS merge_consistent_ok
             |FROM e""".stripMargin),
      (s, dir) => {
        import s.implicits._
        val tok = tokensBy(docs(s, dir), "source")
        val per = tok.groupBy($"source").agg(
          expr("hll_sketch_agg(token, 12)").as("sk"),
          countDistinct($"token").as("n_exact"))
        val direct = tok
          .agg(expr("hll_sketch_estimate(hll_sketch_agg(token, 12))"))
          .head().getLong(0)
        val merged = per
          .agg(expr("hll_sketch_estimate(hll_union_agg(sk))"))
          .head().getLong(0)
        val mergeOk =
          math.abs(merged - direct).toDouble / math.max(direct, 1L) <= 0.01
        per.select($"source", $"n_exact",
          (abs(expr("hll_sketch_estimate(sk)") - $"n_exact")
            <= $"n_exact".cast("double") * lit(0.05)).as("estimate_ok"),
          lit(mergeOk).as("merge_consistent_ok"))
      })
  )

  /** Okapi BM25 parameters and machinery shared by q_bm25_topk and
    * q_hybrid_rrf (single-source rule: the scoring formula, the smoothed
    * IDF, the snap discipline and the top-k tie-break render once; a k1/b
    * retune lands in both engines and both consumers at once). The CTE
    * chain ends in `top(doc_id, dl, tf_hash, tf_join, tf_scan, score)` —
    * the snapped-score top-[[Bm25K]].
    */
  // defs, not vals: the `defs` Seq (declared above) initializes first and
  // already calls bm25TopCte — a later val would still be null then
  private def Bm25Terms = Seq("hash", "join", "scan")
  private def Bm25K = 20

  private def bm25TopCte: String = {
    val terms = Bm25Terms
    val tfCols = terms.map(t =>
      s"CAST(sum(CASE WHEN token = '$t' THEN 1 ELSE 0 END) AS BIGINT) AS tf_$t")
      .mkString(",\n      ")
    val dfCols = terms.map(t =>
      s"CAST(sum(CASE WHEN tf_$t > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_$t")
      .mkString(",\n      ")
    def idf(t: String) =
      s"FLOOR(ln((CAST(n_docs - df_$t AS DOUBLE) + 0.5e0)" +
        s" / (CAST(df_$t AS DOUBLE) + 0.5e0) + 1.0e0) * 1000000 + 0.5) / 1000000"
    def term(t: String) =
      s"""CASE WHEN tf_$t > 0 THEN ${idf(t)}
         |      * (CAST(tf_$t AS DOUBLE) * 2.2e0)
         |      / (CAST(tf_$t AS DOUBLE)
         |         + 1.2e0 * (0.25e0 + 0.75e0
         |            * (CAST(dl AS DOUBLE)
         |               / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))))
         |    ELSE 0.0e0 END""".stripMargin
    s"""t AS (
       |  SELECT doc_id,
       |    unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'),
       |                       x -> len(x) > 0)) AS token
       |  FROM documents),
       |pd AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS dl,
       |      $tfCols
       |  FROM t GROUP BY 1),
       |st AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |      CAST(sum(dl) AS BIGINT) AS sum_dl,
       |      $dfCols
       |  FROM pd),
       |sc AS (
       |  SELECT doc_id, dl, tf_hash, tf_join, tf_scan,
       |    FLOOR((${term("hash")}
       |         + ${term("join")}
       |         + ${term("scan")}) * 1000000 + 0.5) / 1000000 AS score
       |  FROM pd, st
       |  WHERE tf_hash + tf_join + tf_scan > 0),
       |top AS (SELECT * FROM sc ORDER BY score DESC, doc_id LIMIT $Bm25K)""".stripMargin
  }

  private def bm25Top(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val terms = Bm25Terms
    val toks = docs(s, dir).select($"doc_id",
      explode(TextFunctions.arrayBarrier(TextFunctions.tokens($"text")))
        .as("token"))
    val pd = toks.groupBy($"doc_id").agg(
      count(lit(1)).as("dl"),
      terms.map(t =>
        sum(when($"token" === t, 1L).otherwise(0L)).as(s"tf_$t")): _*)
    val st = pd.agg(
      count(lit(1)).as("n_docs"),
      sum($"dl").as("sum_dl") +: terms.map(t =>
        sum(when(col(s"tf_$t") > 0, 1L).otherwise(0L)).as(s"df_$t")): _*)
    def idf(t: String): Column = snap6(log(
      (($"n_docs" - col(s"df_$t")).cast("double") + lit(0.5)) /
        (col(s"df_$t").cast("double") + lit(0.5)) + lit(1.0)))
    def term(t: String): Column =
      when(col(s"tf_$t") > 0,
        idf(t) * (col(s"tf_$t").cast("double") * lit(2.2)) /
          (col(s"tf_$t").cast("double") +
            lit(1.2) * (lit(0.25) + lit(0.75) *
              ($"dl".cast("double") /
                ($"sum_dl".cast("double") / $"n_docs".cast("double"))))))
        .otherwise(lit(0.0))
    val sc = pd
      .where($"tf_hash" + $"tf_join" + $"tf_scan" > 0)
      .crossJoin(broadcast(st))
      .select($"doc_id", $"dl", $"tf_hash", $"tf_join", $"tf_scan",
        snap6(term("hash") + term("join") + term("scan")).as("score"))
    sc.orderBy($"score".desc, $"doc_id").limit(Bm25K)
  }

  /** Per-distinct-length two-group histogram shared by q_ks_test and
    * q_mannwhitney: the two samples are the doc_id parity halves (the
    * q_drift_psi / q_corpus_diff two-release stand-in convention) and the
    * measured variable is `n_chars`. One corpus-sized aggregation down to
    * a VALUE-DOMAIN-sized relation (`v, c_a, c_b` — bounded by distinct
    * lengths, not by corpus rows), so both tests' downstream windows ride
    * the bounded single-partition case (the q_zipf discipline).
    */
  private def lenHistCte: String =
    """h AS (
      |  SELECT n_chars AS v,
      |    count(CASE WHEN doc_id % 2 = 0 THEN 1 END) AS c_a,
      |    count(CASE WHEN doc_id % 2 = 1 THEN 1 END) AS c_b
      |  FROM documents GROUP BY 1)""".stripMargin

  private def lenHist(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("n_chars").as("v"), col("doc_id"))
      .groupBy("v")
      .agg(count(when(col("doc_id") % 2 === 0, 1)).as("c_a"),
        count(when(col("doc_id") % 2 === 1, 1)).as("c_b"))

  /** Build-once registry for the IVF at-rest index (train + writeClustered),
    * keyed by the source file's identity (path, size, mtime) and the index
    * params — so Verify/Bench build a given scale factor's index exactly once
    * per machine and every later `ensure` is a no-op returning the layout
    * path. A `_GRAFT_OK` marker commits the build (written only after data +
    * centroids are fully out, so a crashed half-build is rebuilt, not
    * trusted).
    */
  private object IvfIndex {
    /** Cluster count of the declared index build — shared by the build call
      * and q_sim_ivf_build's coverage flag.
      */
    val K = 8

    private val built = scala.collection.mutable.Set[String]()

    def ensure(s: SparkSession, dir: String): String = synchronized {
      val src = new java.io.File(dir, "embeddings.parquet")
      // :q8 — the layout also carries per-vector int8 quantized columns
      // (scale, q8), the 4×-smaller scan the quantized probe reads;
      // :m2 — the layout is manifest-committed from its first write and
      // each manifest records its schema, so an index an older layout left
      // behind is never reused
      val key = s"${src.getAbsolutePath}:${src.length}:${src.lastModified}:k$K:i2:q8:m2"
      // ONE cache directory per source path; the marker records the key it
      // was built under, so a changed source or layout rebuilds in place
      // instead of stranding the old build beside a new one
      val path = new java.io.File(
        sys.props.getOrElse("java.io.tmpdir", "/tmp"),
        "graft_ivf_" + java.lang.Long.toHexString(
          scala.util.hashing.MurmurHash3.stringHash(src.getAbsolutePath).toLong & 0xffffffffL)
      ).getAbsolutePath
      if (!built.contains(key)) {
        val marker = java.nio.file.Paths.get(path, "_GRAFT_OK")
        if (!(java.nio.file.Files.isRegularFile(marker) &&
            java.nio.file.Files.readString(marker) == key)) {
          // drop the stale marker FIRST: a rebuild killed midway must not
          // leave a marker vouching for a half-rewritten layout
          java.nio.file.Files.deleteIfExists(marker)
          val e = emb(s, dir)
          val model = Ivf.train(e, "vec_id", "embedding", k = K, iters = 2)
          // enrich the at-rest rows with the int8 twin BEFORE clustering:
          // writeClustered persists every corpus column, so the same
          // partition-pruned layout serves both the float probe (q_sim_ivf)
          // and the quantized two-phase probe (q_sim_ivf_quantized)
          Ivf.writeClustered(withInt8(e, "q8"), "vec_id", "embedding", model, path)
          java.nio.file.Files.writeString(marker, key)
        }
        built += key
      }
      path
    }
  }
}
