package graft.operators

import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, each designed for the
  * 100 TB shape: no driver-side state, no O(n²) comparisons — candidate
  * generation is always a shuffle on a hash key (band bucket / rare shingle /
  * simhash chunk) followed by small within-bucket joins.
  */
object Dedup {
  import PairGen.groupPairs

  /** No-op aggregate term (always 0, even on an all-NULL column) that
    * defeats column pruning on a shared exchange: `coalesce(max(c)*0, 0)`
    * forces the aggregation branch to READ `c`. Where two consumers of one
    * explicitly-repartitioned relation need identical column sets, this
    * keeps their Exchange subtrees canonically EQUAL so they plan as one
    * ReusedExchange — without it the optimizer prunes the aggregation copy
    * narrower and the upstream (often a whole tokenize→shingle→explode
    * corpus scan) executes once per consumer. Spark has no rule folding
    * `e * 0` (NULL semantics), so the guard survives optimization; the cost
    * is one max accumulator. OperatorsSpec pins the resulting reuse.
    */
  private[graft] def pruneGuard(c: Column): Column =
    coalesce(max(hash(c)).cast("long") * lit(0L), lit(0L))

  /** Exact dedup by content hash: groups identical texts, keeps the minimum
    * id as the canonical survivor (deterministic, unlike dropDuplicates).
    * One hash-shuffle; at scale this is the cheapest possible full-corpus op.
    */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(col(textCol)).as("text_hash"))
      .agg(
        count(lit(1)).as("n_copies"),
        min(col(idCol)).as("keep_id"))

  /** Benchmark decontamination — the training-data hygiene gate that flags
    * every document sharing ANY word `shingleN`-gram with a held-out
    * evaluation set, so eval answers can't leak into training. Returns
    * `(idCol, n_hits, contaminated)`: the count of the document's DISTINCT
    * shingles that appear anywhere in the benchmark, and the drop flag.
    *
    * Shape at 100 TB: the benchmark side is tiny by nature (eval suites are
    * thousands of prompts), so its distinct shingle set builds once and
    * BROADCASTS — the corpus side is a map-only tokenize→shingle explode
    * into a broadcast hash join + one re-aggregation keyed on the doc id.
    * The corpus is never shuffled on content, and nothing is quadratic: a
    * boilerplate shingle shared by millions of docs costs one broadcast
    * probe per occurrence, not a join blow-up. Matching is on the shingle
    * STRING (exact, engine-portable); swap in xxhash64(shingle) for a
    * narrower shuffle when oracle portability doesn't matter.
    */
  def decontaminate(docs: DataFrame, idCol: String, textCol: String,
      benchmark: DataFrame, benchTextCol: String,
      shingleN: Int = 3): DataFrame = {
    def distinctShingles(df: DataFrame, c: String) =
      df.select(tokens(col(c)).as("toks"))
        .select(explode(
          shinglesNative(col("toks"), shingleN))
          .as("shingle"))
    val benchShingles = distinctShingles(benchmark, benchTextCol).distinct()
    val hits = docs
      .select(col(idCol), tokens(col(textCol)).as("toks"))
      .select(col(idCol), explode(
        shinglesNative(col("toks"), shingleN))
        .as("shingle"))
      .join(broadcast(benchShingles), "shingle")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hits"))
    docs.select(col(idCol))
      .join(hits, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        col("n_hits").isNotNull.as("contaminated"))
  }

  /** [[decontaminate]] for when the benchmark outgrows `broadcast()` —
    * bit-identical output, Bloom-pre-filtered shuffle shape.
    *
    * The broadcast in [[decontaminate]] assumes the eval-suite shingle set
    * fits in every executor; a full eval COLLECTION's distinct n-grams can
    * run to GBs, past any sane `autoBroadcastJoinThreshold`. The naive
    * fallback is a sort-merge join that shuffles EVERY corpus shingle —
    * at 100 TB that is the single largest exchange in the pipeline. This
    * variant restores a map-only corpus side: the benchmark shingles
    * aggregate into a Bloom filter (Spark's native `bloom_filter_agg`,
    * ~20 bits/key ≈ 6e-5 fpp — MBs where the raw set is GBs), the blob is
    * collected once and embedded as a literal, and the corpus probes it
    * INSIDE whole-stage codegen at the scan, so only true hits plus the
    * fpp-sliver of false positives reach the exact-confirm join. Bloom
    * filters admit no false negatives and the confirm join removes the
    * false positives, so the result is exactly [[decontaminate]]'s — the
    * oracle is shared. The confirm join is deliberately shuffle-hash (the
    * premise is that the bench side can't broadcast); its input is hits
    * + fpp-sliver, not the corpus.
    */
  def decontaminateBloom(docs: DataFrame, idCol: String, textCol: String,
      benchmark: DataFrame, benchTextCol: String, shingleN: Int = 3,
      bitsPerKeyOverride: Option[Long] = None): DataFrame = {
    import graft.functions.BloomSketch._
    def distinctShingles(df: DataFrame, c: String) =
      df.select(tokens(col(c)).as("toks"))
        .select(explode(
          shinglesNative(col("toks"), shingleN))
          .as("shingle"))
    val benchShingles = distinctShingles(benchmark, benchTextCol).distinct()
    // two actions on the SMALL side only: size, then build. The blob is the
    // only driver traffic; the corpus side below runs zero driver actions.
    val nBench = math.max(benchShingles.count(), 1L)
    val bits = bitsPerKeyOverride.map(b => math.max(b * nBench, 64L))
      .getOrElse(sizeBits(nBench))
    val blob = benchShingles
      .select(bloomAgg(col("shingle"), nBench, bits))
      .head().getAs[Array[Byte]](0)
    val hits = docs
      .select(col(idCol), tokens(col(textCol)).as("toks"))
      .select(col(idCol), explode(
        shinglesNative(col("toks"), shingleN))
        .as("shingle"))
      .where(bloomMightContain(blob, col("shingle")))
      .join(benchShingles.hint("shuffle_hash"), "shingle")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hits"))
    docs.select(col(idCol))
      .join(hits, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        col("n_hits").isNotNull.as("contaminated"))
  }

  /** FUZZY benchmark decontamination — [[decontaminate]] catches exact
    * n-gram leaks; this catches the near-verbatim ones (light paraphrase,
    * token-level noise) that share ≥1 MinHash band with an eval doc.
    * Returns the distinct ids of flagged corpus docs. Recall-oriented like
    * every LSH gate: a band collision flags without verifying Jaccard
    * (at the 0.9-Jaccard contamination level an 8×4 band family hits with
    * p ≈ 0.9998 per pair).
    *
    * Shape at 100 TB: the benchmark's `(band, bucket)` set is tiny
    * (nBands rows per eval doc) and BROADCAST; the corpus never shuffles
    * content — [[minhashBandBuckets]]' signature shuffle carries 32
    * map-side-combined longs per doc, then the bucket probe is a
    * broadcast semi-join and the final distinct is doc-keyed. Mirrors the
    * exact gate's broadcast shape with signatures in place of shingles.
    */
  def decontaminateNear(corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String, shingleN: Int = 3, nPerms: Int = 32,
      nBands: Int = 8): DataFrame = {
    def toks(df: DataFrame) = df.select(
      col(idCol).as("doc_id"), tokens(col(textCol)).as("toks"))
    val benchToks = toks(benchmark)
    val corpToks = toks(corpus)
    val benchBuckets =
      minhashBandBuckets(benchToks, shingleN, nPerms, nBands)
        .select(col("band"), col("bucket")).distinct()
    val lshHits = minhashBandBuckets(corpToks, shingleN, nPerms, nBands)
      .join(broadcast(benchBuckets), Seq("band", "bucket"), "left_semi")
      .select(col("doc_id"))
    // SHORT-DOC fallback: a doc with fewer than shingleN tokens produces no
    // shingles, hence no signature — without this branch even an EXACT copy
    // of a short eval prompt would sail through (an LSH recall hole beyond
    // the stated band probabilities). Short docs are matched by exact
    // token-normalized content hash against the benchmark's short docs —
    // broadcast-sized like the bucket set. Near-verbatim (non-exact) short
    // copies remain out of reach of shingle LSH by construction; length-
    // mismatched pairs (short corpus doc vs long bench doc) can never be
    // near-dups at the gate's similarity level, so short-vs-short exact is
    // the whole recoverable surface.
    val shortHash = md5(concat_ws(" ", col("toks")))
    def shorts(t: DataFrame) =
      t.where(size(col("toks")) > 0 && size(col("toks")) < shingleN)
    val benchShort = shorts(benchToks)
      .select(shortHash.as("__bh")).distinct()
    val shortHits = shorts(corpToks)
      .join(broadcast(benchShort), shortHash === col("__bh"), "left_semi")
      .select(col("doc_id"))
    lshHits.unionByName(shortHits).distinct()
  }

  /** MinHash+LSH near-duplicate candidate pairs.
    *
    * Signatures are computed in the scale-friendly flat shape: explode
    * shingles once, hash `nPerms` flat columns, take `min` per doc — the
    * mins combine map-side (partial aggregation), so the shuffle carries one
    * row per (doc × perm), not the shingle sets. (A Column-expression
    * signature duplicates the whole tokenize→shingle tree per permutation
    * — measured 75× slower at sf0.1.)
    *
    * signature → `nBands` bands of `nPerms/nBands` rows → hash each band →
    * explode to (band, bucket) → self-join within buckets → distinct pairs
    * with the number of agreeing bands. `maxBucket` caps pathological buckets
    * (boilerplate clusters) exactly like production LSH jobs do, keeping the
    * within-bucket join quadratic only in a bounded constant.
    */
  def minhashPairs(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, nPerms: Int = 32, nBands: Int = 8,
      maxBucket: Int = 50): DataFrame =
    minhashPairsFromTokens(
      docs.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("toks")),
      shingleN, nPerms, nBands, maxBucket)

  /** [[minhashPairs]] over ALREADY-TOKENIZED input `(doc_id, toks)` — the
    * composition hook for pipelines (e.g. [[Corpus.clean]]) that tokenize
    * once in a shared annotate pass instead of re-scanning raw text here.
    */
  def minhashPairsFromTokens(tokenized: DataFrame,
      shingleN: Int = 3, nPerms: Int = 32, nBands: Int = 8,
      maxBucket: Int = 50, derivePerms: Boolean = false): DataFrame =
    // explicit bucket-keyed exchange (the portableBandBuckets convention,
    // r16): groupPairs reads the band relation TWICE (count-first cap,
    // then pairing) and the signature-aggregation exchange that used to be
    // the shared materialization point no longer exists (the signature is
    // a map-side native loop now) — without this both passes would re-run
    // the signature pipeline; with it the second pass is a ReusedExchange
    groupPairs(minhashBandBuckets(tokenized, shingleN, nPerms, nBands,
        derivePerms)
        .repartition(col("band"), col("bucket")),
        Seq("band", "bucket"), col("doc_id"), maxBucket)
      .groupBy(col("a").as("doc_a"), col("b").as("doc_b"))
      .agg(count(lit(1)).as("n_bands"))
      .select(col("doc_a"), col("doc_b"), col("n_bands"))

  /** The shared signature→banding stage: `(doc_id, band, bucket)` LSH
    * band-bucket rows for tokenized `(doc_id, toks)` input. This is also
    * exactly what an at-rest LSH INDEX persists — write it bucketed on
    * `(band, bucket)` and [[minhashPairsIncremental]] probes become
    * co-located joins against the stored buckets.
    *
    * `derivePerms` selects the signature stage's per-shingle cost model —
    * the knob that matters most at 100 TB, where signature computation is
    * the dominant CPU of the whole dedup family:
    *   - `false` (default): permutation `i` re-hashes the shingle STRING
    *     with seed `i` — `nPerms` full string hashes per shingle
    *     occurrence (cost ∝ nPerms × shingle bytes);
    *   - `true`: the string hashes ONCE to an 8-byte base and each
    *     permutation hashes that fixed-width long (the MLlib MinHashLSH
    *     shape: independent draws derived from one base) — cost ∝
    *     shingle bytes + nPerms × 8 bytes, a ~4× signature-stage saving
    *     at 32 perms on typical 25-byte shingles, growing with nPerms.
    * Both families are deterministic and produce valid MinHash estimates;
    * they bucket DIFFERENTLY (different hash draws), so a stored index
    * must be probed with the family that built it. Default stays `false`
    * — every committed oracle/spec pins that family — and the derived
    * family is the documented production default at scale
    * (OperatorsSpec gates exact-dup recall, determinism, and confident-
    * pair agreement between the families; BENCH twins measure the win).
    */
  def minhashBandBuckets(tokenized: DataFrame, shingleN: Int = 3,
      nPerms: Int = 32, nBands: Int = 8,
      derivePerms: Boolean = false): DataFrame = {
    // nBands > nPerms would give every band a constant bucket (all docs in
    // one dropped-oversized group → silently zero pairs); a non-dividing
    // nBands would silently discard the remainder permutations
    require(nBands >= 1 && nBands <= nPerms && nPerms % nBands == 0,
      s"nBands ($nBands) must divide nPerms ($nPerms)")
    val rowsPerBand = nPerms / nBands
    // ONE row-local signature loop per doc (GraftXxMinSig, r16 — the
    // portableSigExpr convention applied to the production xxhash64
    // family): no shingle explode, no nPerms-min aggregation exchange, and
    // the shingle's string hash computes once per occurrence instead of
    // once per PERMUTATION (the Column spelling re-hashed the string bytes
    // under each seed — ~nPerms× the string-hash work). Draw values are
    // bit-identical (XxHash64's left-to-right fold replayed exactly, min
    // is duplicate/order-insensitive) — gated by XxMinSigSpec against the
    // explode+aggregate spelling for both derivePerms families.
    val sig = tokenized
      .select(col("doc_id"),
        xxMinSig(col("toks"), shingleN, nPerms, derivePerms).as("sig"))
      .where(col("sig").isNotNull)
    sig.select(col("doc_id"), explode(array((0 until nBands).map { b =>
      struct(lit(b).as("band"),
        xxhash64(((b * rowsPerBand until (b + 1) * rowsPerBand)
          .map(i => element_at(col("sig"), i + 1)) :+ lit(b).cast("long")): _*)
          .as("bucket"))
    }: _*)).as("bb")).select(col("doc_id"), col("bb.band"), col("bb.bucket"))
  }

  /** Column bridge for [[graft.functions.expr.GraftXxMinSig]]. */
  private def xxMinSig(toks: Column, shingleN: Int, nPerms: Int,
      derivePerms: Boolean): Column = {
    import org.apache.spark.sql.{GraftSqlBridge => B}
    B.column(graft.functions.expr.GraftXxMinSig(
      B.expression(toks), shingleN, nPerms, derivePerms))
  }

  /** The engine-PORTABLE MinHash family's modulus: the Mersenne prime
    * 2^31 − 1. Affine maps `h ↦ (a·h + b) mod p` over Z_p are the classic
    * MinHash permutation construction (the same one Spark MLlib's
    * MinHashLSH uses); with u < p and a < p the product stays under 2^62,
    * so every step is plain positive BIGINT arithmetic — no unsigned
    * types, no overflow, bit-identical in any ANSI engine.
    */
  private[graft] val PortablePrime = 2147483647L

  /** Deterministic affine coefficients (a_i, b_i) for portable permutation
    * `i` — a pure function of `i` (Knuth/xxhash-style odd multipliers mod
    * p), shared verbatim by the Spark expressions and the generated DuckDB
    * oracle SQL so the two engines cannot drift.
    */
  private[graft] def portableCoef(i: Int): (Long, Long) = (
    1L + (2654435761L * (i + 1)) % (PortablePrime - 1),
    (2246822519L * (i + 1)) % PortablePrime)

  /** 30-bit engine-portable base hash of a shingle string: the first 15 md5
    * hex digits (60 bits, always positive in a signed 64-bit lane) reduced
    * mod [[PortablePrime]]. DuckDB replays it as
    * `CAST(concat('0x', substr(md5(s),1,15)) AS BIGINT) % p`.
    *
    * Since r13 the hot signature path computes this value inside
    * [[graft.functions.expr.PortableMinSig]] (same bytes, same digest,
    * same reduction — gated bit-equal by OperatorsSpec); this Column
    * spelling remains the readable contract and serves one-off scalar use.
    */
  private def portableBaseHash(shingle: Column): Column =
    md5PrefixLong(shingle, 15) % PortablePrime

  /** The one-pass native signature expression (r13, VERDICT r12 #4): all
    * `nPerms` portable minimums in a single row-local loop — no shingle
    * explode, no aggregation exchange. NULL for docs with fewer than
    * `shingleN` tokens (exactly the docs the explode pipeline emitted no
    * row for). Wrapped in [[longArrayBarrier]] by callers before any
    * filter, so predicate pushdown can't clone the loop into a scan-side
    * filter (the arrayBarrier discipline).
    */
  private def portableSigExpr(toks: Column, shingleN: Int, nPerms: Int): Column = {
    import org.apache.spark.sql.{GraftSqlBridge => B}
    val (as, bs) = (0 until nPerms).map(portableCoef).unzip
    B.column(graft.functions.expr.GraftPortableMinSig(
      B.expression(toks), shingleN, as.toArray, bs.toArray))
  }

  /** [[minhashBandBuckets]] with the ENGINE-PORTABLE hash family: md5-based
    * base hash + affine permutations mod 2^31−1 instead of 32 seeded
    * xxhash64 draws, and the band bucket as the comma-joined signature
    * slice instead of an xxhash64 of it. Every step is ANSI-expressible,
    * so a DuckDB differential re-derives signatures, buckets, candidate
    * pairs and the resulting drop set BIT-EXACT — this is what puts the
    * full [[Corpus.clean]] funnel (q_corpus_clean) under the driver's hash
    * gate. The trade is hash width: a 30-bit base space starts showing
    * birthday collisions around ~10^5 distinct shingles (a colliding
    * shingle pair can only make two docs look MORE similar — recall is
    * unaffected, precision dips negligibly), so the production default
    * stays the 64-bit xxhash64 family; this family is for
    * oracle-certified runs and cross-engine reproducibility.
    *
    * Scale shape since r13: the signature is computed in ONE row-local
    * pass ([[portableSigExpr]] — shingle bytes → md5 → affine mins, no
    * 500×-the-corpus shingle explode, no aggregation exchange; measured
    * ~8 s → <1 s at sf1), so the stage's only exchange is the band-bucket
    * shuffle of one (doc × band) row. Values are bit-identical to the
    * previous explode+min-agg spelling — every committed oracle/spec
    * pinning the draws is unchanged, and OperatorsSpec gates the native
    * loop against the declarative Column spelling directly.
    */
  def portableBandBuckets(tokenized: DataFrame, shingleN: Int = 3,
      nPerms: Int = 32, nBands: Int = 8): DataFrame = {
    require(nBands >= 1 && nBands <= nPerms && nPerms % nBands == 0,
      s"nBands ($nBands) must divide nPerms ($nPerms)")
    val rowsPerBand = nPerms / nBands
    val sig = portableSignatures(tokenized, shingleN, nPerms)
    sig.select(col("doc_id"), explode(array((0 until nBands).map { b =>
      struct(lit(b).as("band"),
        concat_ws(",", (b * rowsPerBand until (b + 1) * rowsPerBand)
          .map(i => element_at(col("sig"), i + 1).cast("string")): _*).as("bucket"))
    }: _*)).as("bb")).select(col("doc_id"), col("bb.band"), col("bb.bucket"))
      // one explicit bucket-keyed exchange (the Jaccard-candidates
      // convention): groupPairs reads this relation TWICE (count-first cap,
      // then pairing) and the r12 plan's signature-agg exchange no longer
      // exists to be reused — without this both passes would re-run the
      // signature loop; with it the second pass is a ReusedExchange, and
      // the downstream (band, bucket) aggregation/join need no new shuffle
      .repartition(col("band"), col("bucket"))
  }

  /** The portable family's raw signature vector (doc_id, sig ARRAY<long>
    * of length `nPerms`) — the estimator itself, for consumers that need
    * the signatures rather than band buckets (estimator-calibration
    * audits, cross-run signature diffs). Same shingle→base-hash→min-affine
    * pipeline as [[portableBandBuckets]] with the SAME [[portableCoef]]
    * coefficients, emitted as one array column so per-pair agreement is a
    * zip_with away. Shingle-less docs produce no row (a MinHash over the
    * empty set is undefined), matching the band-bucket behavior.
    */
  def portableSignatures(tokenized: DataFrame, shingleN: Int = 3,
      nPerms: Int = 32): DataFrame =
    tokenized
      .select(col("doc_id"),
        longArrayBarrier(
          portableSigExpr(col("toks"), shingleN, nPerms)).as("sig"))
      .where(col("sig").isNotNull)

  /** Analytic LSH S-curve (MMDS §3.4.2): the probability that a pair whose
    * per-permutation agreement probability is `s` — by the MinHash
    * identity, its true Jaccard — shares at least one of `nBands` bands of
    * `rowsPerBand` consecutive signature rows: `1 − (1 − s^r)^b`. The
    * premise (per-perm agreement ≡ Jaccard, independently across perms) is
    * exactly what q_minhash_calibration measures on real candidate pairs;
    * MinhashCalibrationSpec closes the loop by checking the measured band
    * catch rate against this curve.
    */
  def lshCandidateProb(s: Double, nBands: Int, rowsPerBand: Int): Double =
    1.0 - math.pow(1.0 - math.pow(s, rowsPerBand.toDouble), nBands.toDouble)

  /** The S-curve's threshold similarity `(1/b)^(1/r)` — where
    * [[lshCandidateProb]] crosses ~0.63 and below which candidate
    * probability collapses steeply. The deployed default (32 perms, 8
    * bands of 4) sits at 0.595.
    */
  def lshThresholdSim(nBands: Int, rowsPerBand: Int): Double =
    math.pow(1.0 / nBands, 1.0 / rowsPerBand)

  /** Recommended band count for a deployed similarity threshold, derived
    * from the (calibration-validated) S-curve: the FEWEST bands whose
    * recall at `threshold` is ≥ `minRecall`. Candidate volume — the verify
    * stage's cost — grows with band count (each extra band is another
    * bucket join emitting false positives below the threshold), while
    * recall at any fixed similarity is monotonically increasing in it, so
    * the smallest feasible divisor is the operating point that meets the
    * recall contract at least verify cost. None when even `nBands = nPerms`
    * (1-row bands: candidate prob `1-(1-s)^n`) cannot reach the recall —
    * the caller needs more permutations, not a different banding.
    *
    * Measured operating points at the deployed 32 perms (gated in
    * MinhashCalibrationSpec, recorded in SCALE.md): contamination-level
    * 0.9-Jaccard work is served by the deployed 8×4 (recall 0.99994 at
    * 0.9); a 0.5-Jaccard near-dup contract needs 16×2 (recall 0.990 at
    * 0.5 — the 8×4 curve catches only 0.404 there and survives in
    * production because the exact-verify stage rides on top).
    */
  def recommendBanding(nPerms: Int, threshold: Double,
      minRecall: Double = 0.9): Option[Int] = {
    require(threshold > 0 && threshold < 1, s"threshold $threshold not in (0,1)")
    require(minRecall > 0 && minRecall < 1, s"minRecall $minRecall not in (0,1)")
    (1 to nPerms).filter(nPerms % _ == 0)
      .find(b => lshCandidateProb(threshold, b, nPerms / b) >= minRecall)
  }

  /** [[minhashPairsFromTokens]] over the portable family — identical
    * candidate shape (count-first bucket capping, within-bucket pairs,
    * agreeing-band counts), different hash family. See
    * [[portableBandBuckets]] for the portability/width trade.
    */
  def portablePairsFromTokens(tokenized: DataFrame,
      shingleN: Int = 3, nPerms: Int = 32, nBands: Int = 8,
      maxBucket: Int = 50): DataFrame =
    groupPairs(portableBandBuckets(tokenized, shingleN, nPerms, nBands),
        Seq("band", "bucket"), col("doc_id"), maxBucket)
      .groupBy(col("a").as("doc_a"), col("b").as("doc_b"))
      .agg(count(lit(1)).as("n_bands"))
      .select(col("doc_a"), col("doc_b"), col("n_bands"))

  /** Incremental MinHash-LSH dedup: candidate pairs INVOLVING a new batch,
    * against an already-indexed corpus — the everyday at-scale shape (a
    * daily crawl lands; re-pairing the whole corpus is absurd; you probe
    * the stored band-bucket index and pair new-vs-all only). Returns the
    * same `(doc_a, doc_b, n_bands)` relation as [[minhashPairs]] restricted
    * to pairs with ≥1 new doc — EXACTLY equal to running the full job over
    * `indexed ∪ newDocs` and filtering (DedupSpec proves set equality,
    * including under bucket capping), because both the hash family and the
    * capping rule (combined bucket size vs `maxBucket`) are shared.
    *
    * Scale shape: the indexed side is read pre-bucketed (one
    * `minhashBandBuckets` pass here; in production a stored index bucketed
    * on `(band, bucket)` — see [[minhashBandBuckets]]), the new side is a
    * batch ≪ corpus; the only expansion is new-side rows × their bucket
    * co-members, bounded by `maxBucket`. Old×old pairs are NEVER generated
    * — the join is anchored on the new side. No collect_list arrays at all,
    * so a skewed bucket costs join rows, not an aggregation buffer.
    *
    * Ids must be disjoint between `indexed` and `newDocs` (same contract as
    * an append to the corpus); a shared id would silently self-pair against
    * its own old copy's buckets.
    */
  def minhashPairsIncremental(indexed: DataFrame, newDocs: DataFrame,
      idCol: String, textCol: String, shingleN: Int = 3, nPerms: Int = 32,
      nBands: Int = 8, maxBucket: Int = 50): DataFrame = {
    def toks(df: DataFrame) = df.select(
      col(idCol).as("doc_id"), tokens(col(textCol)).as("toks"))
    // the explicit repartition on the join keys is what lets the THREE
    // consumers below (cap agg, new side, join right side) share ONE
    // execution of the signature pipeline via ReusedExchange — without it
    // Spark re-runs the 32-permutation minhash aggregation over the whole
    // corpus once per consumer (same trick as jaccardPairs/dupSpanStats)
    val all = minhashBandBuckets(toks(indexed), shingleN, nPerms, nBands)
      .withColumn("is_new", lit(false))
      .unionByName(minhashBandBuckets(toks(newDocs), shingleN, nPerms, nBands)
        .withColumn("is_new", lit(true)))
      .repartition(col("band"), col("bucket"))
    // count-first capping on the COMBINED bucket size — the same rule the
    // full run applies, which is what makes incremental ≡ full-filtered;
    // buckets without any new member are dropped here too (nothing to pair)
    val keep = all.groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("__gn"), max(col("is_new")).as("__has_new"))
      .where(col("__gn") >= 2 && col("__gn") <= maxBucket && col("__has_new"))
      .select(col("band"), col("bucket"))
    val kept = all.join(keep, Seq("band", "bucket"))
    val newSide = kept.where(col("is_new"))
      .select(col("band"), col("bucket"), col("doc_id").as("id_n"))
    newSide
      .join(kept.select(col("band"), col("bucket"),
        col("doc_id").as("id_o"), col("is_new")), Seq("band", "bucket"))
      // new-new pairs once via id order; new-old pairs once from the new
      // anchor (the old side never joins as the left anchor at all)
      .where((col("is_new") && col("id_n") < col("id_o")) ||
        (!col("is_new") && col("id_n") =!= col("id_o")))
      .select(least(col("id_n"), col("id_o")).as("doc_a"),
        greatest(col("id_n"), col("id_o")).as("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_bands"))
  }

  /** 64-bit SimHash per document: per-token xxhash64, each bit votes ±1,
    * the sign of each bit-sum forms the fingerprint. Computed in one
    * row-local native vote loop (GraftSimhash, r16) — map-only, no token
    * explode, no aggregation exchange.
    */
  def simhash(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    // one row-local vote loop per doc (GraftSimhash, r16) — no token
    // explode, no 64-aggregate exchange; bit-identical to the aggregation
    // spelling it replaced (integer votes are order-independent; same
    // xxhash64 seed-42 draws; gated by SimhashExprSpec). isNotNull
    // reproduces "token-less docs have no hash row" (the explode pipeline
    // emitted no aggregation group for them).
    docs.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("toks"))
      .select(col("doc_id"), simhashNative(col("toks")).as("simhash"))
      .where(col("simhash").isNotNull)

  /** Hamming-banded near-dup pairs over ANY precomputed 64-bit hash column
    * (SimHash, perceptual image hashes — any fingerprint whose similarity
    * IS Hamming distance): band into 4×16-bit chunks, join per chunk,
    * verify candidates with `bit_count(xor) ≤ maxHamming`. Pigeonhole: a
    * pair within distance 3 flips at most 3 chunks, so it ALWAYS shares
    * one — at radii ≤ 3 the banding has exact recall and the verify makes
    * precision exact too, so the output equals brute-force truth without
    * an all-pairs plan (one banding shuffle, bounded buckets). Emits
    * `(doc_a, doc_b, hamming)` with `doc_a < doc_b`.
    */
  def hammingPairs(hashed: DataFrame, idCol: String, hashCol: String,
      maxHamming: Int = 3, maxBucket: Int = 1000): DataFrame = {
    // enforce the scaladoc's pigeonhole contract: 4 chunks guarantee exact
    // recall only up to distance 3; a larger radius would silently drop
    // pairs that flip all 4 chunks while the output still LOOKS verified
    require(maxHamming >= 0 && maxHamming <= 3,
      s"hammingPairs: 4x16-bit banding has exact recall only for " +
        s"maxHamming <= 3 (got $maxHamming); add chunks for larger radii")
    // every reference below uses the ORIGINAL column, never a same-select
    // alias: a lateral alias reference inside the Generate trips the
    // analyzer ("Resolved plan should not contain any
    // LateralColumnAliasReference")
    val chunks = hashed.select(col(idCol).as("doc_id"), col(hashCol).as("__h"),
      explode(array((0 until 4).map { c =>
        // mask, not % 65536: signed % would give negative hashes a
        // different chunk-0 key than positive ones with identical low bits,
        // silently breaking the pigeonhole guarantee for half the corpus
        struct(lit(c).as("chunk"),
          shiftrightunsigned(col(hashCol), c * 16).bitwiseAND(0xFFFFL).as("key"))
      }: _*)).as("ck"))
      .select(col("ck.chunk"), col("ck.key"),
        struct(col("doc_id"), col("__h")).as("ds"))
    groupPairs(chunks, Seq("chunk", "key"), col("ds"), maxBucket)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.__h").bitwiseXOR(col("b.__h"))).as("hamming"))
    // threshold filters on pair-agg outputs ride inside coalesce (r17, the
    // groupPairs convention): a bare null-intolerant comparison makes the
    // optimizer infer isnotnull on the agg's GROUPING keys (payload fields)
    // and push them into the pair self-join's two pipeline copies in a late
    // batch — the count branch's copy stays unfiltered and the three copies
    // canonicalize unequal, re-executing the candidate pipeline. Values are
    // identical: these columns are never NULL (counts and sizes of
    // surviving pairs).
      .where(coalesce(col("hamming") <= maxHamming, lit(false)))
      .distinct()
  }

  /** SimHash near-dup pairs: [[simhash]] fingerprints through the shared
    * [[hammingPairs]] banding.
    */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxBucket: Int = 1000): DataFrame =
    hammingPairs(simhash(docs, idCol, textCol), "doc_id", "simhash",
      maxHamming, maxBucket)

  /** Winnowing near-dup pairs: documents sharing ≥ `minShared` winnow
    * fingerprints (any common substring of length ≥ w+k−1 guarantees a
    * shared fingerprint — substring-level overlap, robust where word
    * shingles miss reflowed/untokenizable text). Same scale shape as the
    * other LSH-family ops: explode fingerprints, rare-fingerprint candidate
    * buckets (df ≤ maxDf), bounded within-bucket pairing, count agreement.
    */
  def winnowPairs(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 8, w: Int = 4, maxDf: Int = 20, minShared: Int = 2): DataFrame = {
    val fp = docs
      .select(col(idCol).as("doc_id"),
        explode(longArrayBarrier(
          array_distinct(winnowFingerprints(col(textCol), k, w)))).as("fp"))
    groupPairs(fp, Seq("fp"), col("doc_id"), maxDf)
      .groupBy(col("a").as("doc_a"), col("b").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
    // threshold filters on pair-agg outputs ride inside coalesce (r17, the
    // groupPairs convention): a bare null-intolerant comparison makes the
    // optimizer infer isnotnull on the agg's GROUPING keys (payload fields)
    // and push them into the pair self-join's two pipeline copies in a late
    // batch — the count branch's copy stays unfiltered and the three copies
    // canonicalize unequal, re-executing the candidate pipeline. Values are
    // identical: these columns are never NULL (counts and sizes of
    // surviving pairs).
      .where(coalesce(col("n_shared") >= minShared, lit(false)))
  }

  /** N-gram Jaccard near-dup pairs via rare-shingle candidate generation:
    * shingles with document frequency ≤ `maxDf` nominate candidate pairs
    * (frequent shingles are boilerplate and would explode the join — the
    * standard rare-feature trick).
    *
    * The emitted `jaccard` is a LOWER BOUND on the true Jaccard: the
    * intersection count covers only shared shingles with df ≤ `maxDf`,
    * while the union term counts all distinct shingles. Pairs whose overlap
    * is mostly high-df boilerplate score low by design — that is the
    * rare-feature weighting doing its job — but callers comparing against
    * an exact-Jaccard threshold should know the bound direction.
    */
  def jaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, maxDf: Int = 20, minJaccard: Double = 0.3): DataFrame =
    shinglePairs(docs, idCol, textCol, shingleN, maxDf)
      .withColumn("jaccard",
        col("n_inter").cast("double") /
          (col("n_a") + col("n_b") - col("n_inter")).cast("double"))
    // threshold filters on pair-agg outputs ride inside coalesce (r17, the
    // groupPairs convention): a bare null-intolerant comparison makes the
    // optimizer infer isnotnull on the agg's GROUPING keys (payload fields)
    // and push them into the pair self-join's two pipeline copies in a late
    // batch — the count branch's copy stays unfiltered and the three copies
    // canonicalize unequal, re-executing the candidate pipeline. Values are
    // identical: these columns are never NULL (counts and sizes of
    // surviving pairs).
      .where(coalesce(col("jaccard") >= minJaccard, lit(false)))
      .select("doc_a", "doc_b", "n_inter", "jaccard")

  /** The shared rare-shingle pair base under [[jaccardPairs]] and
    * [[containmentPairs]]: candidate pairs with both distinct-shingle set
    * sizes and the (rare-shingle) intersection count —
    * `(doc_a, doc_b, n_a, n_b, n_inter)`, every similarity still
    * underivable. Split out so asymmetric measures (containment) ride the
    * SAME certified machinery as Jaccard instead of forking the
    * shingle→candidate pipeline.
    */
  def shinglePairs(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, maxDf: Int = 20): DataFrame = {
    // Per-doc shingle dedup is ROW-LOCAL (array_distinct) — no shuffle — and
    // the set size rides along with the doc id through candidate generation,
    // so Jaccard needs no join back to a sizes table. The explode sits ABOVE
    // the projection that materializes the array, so the tokenize→shingle
    // chain evaluates once per row (not once per consumer expression), and
    // the explicit repartition(shingle) is a shuffle both groupPairs passes
    // (group-size count + pair join) reuse via ReusedExchange — the chain
    // runs once per row total, like the candidate passes need anyway.
    // Keys stay exact strings: hashing shingles to longs before the shuffle
    // was measured (sf0.1, warm) at 2.23s vs 2.05s — the xxhash64 map cost
    // exceeds the shuffle-byte saving at any per-executor partition size
    // this pipeline produces, and exact keys keep the DuckDB differential
    // collision-free. Revisit only if profile shows the shingle exchange
    // (not the pair join) dominating.
    val byDoc = docs
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("toks"))
      .select(col("doc_id"),
        shinglesNative(col("toks"), shingleN).as("shs"))
      .select(col("doc_id"), col("shs"), explode(col("shs")).as("shingle"))
      .select(col("doc_id"), size(col("shs")).as("n"), col("shingle"))
      .repartition(col("shingle"))
    groupPairs(byDoc, Seq("shingle"),
        struct(col("doc_id"), col("n")).as("dn"), maxDf)
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.n").as("n_a"), col("b.n").as("n_b"))
      .agg(count(lit(1)).as("n_inter"))
  }

  /** Asymmetric near-dup pairs by shingle CONTAINMENT (Broder 1997's
    * second resemblance measure): `n_inter / min(n_a, n_b)` — how much of
    * the SMALLER document's shingle set lives inside the pair. Catches the
    * partial-duplication shapes symmetric Jaccard structurally misses: a
    * paragraph quoted whole inside a much longer page has containment ≈ 1
    * while its Jaccard ≈ |small|/|large| sits far below any dedup
    * threshold. The `asymmetric` flag marks exactly those pairs
    * (containment-caught but under [[jaccardPairs]]' deployed 0.3 floor) —
    * the incremental catch of adding a containment pass to a
    * Jaccard-deduped corpus. Same certified rare-shingle machinery, same
    * lower-bound caveat as [[jaccardPairs]]: `n_inter` counts only shared
    * df ≤ `maxDf` shingles, so containment is a lower bound too.
    */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, maxDf: Int = 20,
      minContainment: Double = 0.5): DataFrame = {
    val jac = col("n_inter").cast("double") /
      (col("n_a") + col("n_b") - col("n_inter")).cast("double")
    shinglePairs(docs, idCol, textCol, shingleN, maxDf)
      .withColumn("jaccard", jac)
      .withColumn("containment",
        col("n_inter").cast("double") /
          least(col("n_a"), col("n_b")).cast("double"))
    // threshold filters on pair-agg outputs ride inside coalesce (r17, the
    // groupPairs convention): a bare null-intolerant comparison makes the
    // optimizer infer isnotnull on the agg's GROUPING keys (payload fields)
    // and push them into the pair self-join's two pipeline copies in a late
    // batch — the count branch's copy stays unfiltered and the three copies
    // canonicalize unequal, re-executing the candidate pipeline. Values are
    // identical: these columns are never NULL (counts and sizes of
    // surviving pairs).
      .where(coalesce(col("containment") >= minContainment, lit(false)))
      .withColumn("asymmetric", col("jaccard") < 0.3)
  }

  /** Per-document duplicated-SPAN statistics — the span-level dedup signal
    * (Lee et al., "Deduplicating Training Data Makes Language Models
    * Better"): for each document, how many of its distinct `spanN`-token
    * spans also appear in at least one OTHER document, and what fraction of
    * its spans that is. Document-level dedup ([[exactGroups]],
    * [[minhashPairs]]) misses partially-copied text — a page quoting three
    * boilerplate paragraphs is unique as a whole but its spans are not; this
    * is the gate that catches it. Returns
    * `(doc_id, n_spans, n_dup_spans, dup_span_ratio)` for EVERY input doc
    * (docs shorter than `spanN` tokens report 0 / 0 / 0.0).
    *
    * Shape at 100 TB: one explode + one shuffle on the span string (the
    * explicit repartition is reused by both the document-frequency agg and
    * the join back — ReusedExchange, same trick as [[jaccardPairs]]), one
    * shuffle on doc id for the re-aggregation, and a final left join to
    * restore span-less docs. Nothing is quadratic: a span shared by a
    * million docs costs one df row, not a pair explosion — this is why the
    * span RATIO is the scalable signal while span PAIRS are not.
    *
    * df counts DOCUMENT frequency (spans are per-doc distinct before the
    * explode), so a span repeated many times inside one doc does not count
    * as duplicated — in-doc repetition is [[graft.queries.ExtQueries]]'
    * `q_repetition_ratio`'s job; this operator measures cross-doc copying.
    */
  def dupSpanStats(docs: DataFrame, idCol: String, textCol: String,
      spanN: Int = 8): DataFrame = {
    val byDoc = docs
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("toks"))
      // a NULL id can never match the final restore join anyway; filtering
      // EXPLICITLY here keeps the filter in both consumers of the span
      // exchange (the left-outer join infers it into its right branch only,
      // which would make the two exchange copies canonicalize unequal)
      .where(col("doc_id").isNotNull)
      .select(col("doc_id"),
        shinglesNative(col("toks"), spanN).as("spans"))
      .select(col("doc_id"), size(col("spans")).as("n_spans"),
        explode(col("spans")).as("span"))
      .repartition(col("span"))
    // pruneGuard: the df branch must read (doc_id, n_spans) like the join
    // branch, or the two copies of the span exchange canonicalize unequal
    // and the span explode runs twice (one extra corpus scan at 100 TB)
    val df = byDoc.groupBy(col("span"))
      .agg((count(lit(1)) +
        Dedup.pruneGuard(struct(col("doc_id"), col("n_spans")))).as("df"))
    val perDoc = byDoc.join(df, "span")
      .groupBy(col("doc_id"), col("n_spans"))
      .agg(sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_dup_spans"))
    docs.select(col(idCol).as("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_spans"), lit(0)).as("n_spans"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        when(col("n_spans") > 0,
          col("n_dup_spans").cast("double") / col("n_spans").cast("double"))
          .otherwise(lit(0.0)).as("dup_span_ratio"))
  }

  /** Per-document n-gram NOVELTY against everything crawled before it —
    * the diminishing-returns curve of a growing corpus: a doc's novelty is
    * the fraction of its distinct `shingleN`-grams whose FIRST appearance
    * (minimum doc id, ingest order) is this doc. Fresh crawl slices score
    * high; recrawls and template farms trend toward 0 — the read that
    * tells a pipeline when a source has stopped paying for its ingest.
    *
    * Same shape and sharing discipline as [[dupSpanStats]]: one explicit
    * shingle repartition consumed by BOTH the first-seen aggregation
    * (min doc id per shingle) and the join back (ReusedExchange — the
    * [[pruneGuard]] keeps the two exchange copies canonically equal, else
    * the tokenize→shingle explode runs twice), then one doc-keyed re-agg.
    * A shingle seen in a million docs costs one first-seen row, never a
    * pair explosion. All-integer counts + one IEEE divide: fully
    * hash-oracled with no snapping.
    */
  def noveltyStats(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3): DataFrame = {
    val byDoc = docs
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("toks"))
      .where(col("doc_id").isNotNull)
      .select(col("doc_id"),
        shinglesNative(col("toks"), shingleN)
          .as("shs"))
      .select(col("doc_id"), size(col("shs")).as("n_shingles"),
        explode(col("shs")).as("shingle"))
      .repartition(col("shingle"))
    val firstSeen = byDoc.groupBy(col("shingle"))
      .agg((min(col("doc_id")) +
        Dedup.pruneGuard(struct(col("doc_id"), col("n_shingles")))).as("first_doc"))
    val perDoc = byDoc.join(firstSeen, "shingle")
      .groupBy(col("doc_id"), col("n_shingles"))
      .agg(sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
        .as("n_novel"))
    docs.select(col(idCol).as("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shingles"), lit(0)).as("n_shingles"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        when(col("n_shingles") > 0,
          col("n_novel").cast("double") / col("n_shingles").cast("double"))
          .as("novelty"))
  }

  /** The most-copied passages themselves — the diagnostic that tells a
    * pipeline operator WHAT the boilerplate is before deciding what
    * [[dupSpanStats]]/[[dupRunStats]] should excise: every distinct
    * `spanN`-token span appearing in ≥2 documents, with its document
    * frequency and the minimum doc id as a stable example. Callers rank by
    * (df DESC, span) and limit — `orderBy.limit` plans as
    * TakeOrderedAndProject (per-partition top-k, then a k-row merge on the
    * driver; never a global sort).
    *
    * Shape at 100 TB: identical front half to [[dupSpanStats]] (per-doc
    * distinct spans, so a span repeated inside one doc counts once), one
    * span-keyed shuffle with map-side partial aggregation, output bounded
    * by the duplicated-span vocabulary.
    */
  def topDupPassages(docs: DataFrame, idCol: String, textCol: String,
      spanN: Int = 8): DataFrame =
    docs
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("toks"))
      .where(col("doc_id").isNotNull)
      .select(col("doc_id"),
        explode(shinglesNative(col("toks"), spanN))
          .as("span"))
      .groupBy(col("span"))
      .agg(count(lit(1)).as("df"), min(col("doc_id")).as("example_doc"))
      .where(col("df") >= 2)

  /** Span EXCISION — the actionable transformation the span signals feed
    * (Lee et al.: remove the duplicated substring, keep the document):
    * every token covered by a cross-doc duplicated `spanN`-gram is removed
    * and the survivors are re-joined in order. Returns
    * `(doc_id, n_tokens, n_removed, cleaned_text)` for EVERY input doc;
    * `cleaned_text` is in token-normalized space (lowercased,
    * single-spaced — the same normalization every span operator tokenizes
    * under), empty when everything was duplicated or the doc had no tokens.
    *
    * A token at position p is covered iff ANY dup span starts in
    * `[p−spanN+1, p]` — computed with a bounded ROWS window
    * (`spanN−1 PRECEDING .. CURRENT ROW` max over the dup-start flag; token
    * positions are dense, so ROWS ≡ RANGE) — never a lookahead frame.
    *
    * Shape at 100 TB: the positional-span front half of [[dupRunStats]]
    * (one span-keyed exchange shared by the document-frequency agg and the
    * join back), plus a token-level pass repartitioned ONCE by doc id —
    * `HashPartitioning(doc_id)` satisfies the flag join, the coverage
    * window, and the final re-aggregation, so the whole back half rides a
    * single doc-keyed shuffle per side. Window frames are bounded by
    * `spanN`, partitions by the longest document.
    */
  def scrubDupSpans(docs: DataFrame, idCol: String, textCol: String,
      spanN: Int = 8): DataFrame = {
    val toked = docs
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("toks"))
      .where(col("doc_id").isNotNull)
    val pos = toked
      .select(col("doc_id"),
        shinglesNative(col("toks"), spanN, distinct = false).as("spans"))
      .select(col("doc_id"), posexplode(col("spans")))
      .withColumnRenamed("col", "span")
      .repartition(col("span"))
    // same shared-exchange contract as dupRunStats (guard keeps pos read)
    val df = pos.groupBy(col("span"))
      .agg((count_distinct(col("doc_id")) +
        Dedup.pruneGuard(struct(col("doc_id"), col("pos")))).as("df"))
    val dupStarts = pos.join(df, "span")
      .where(col("df") >= 2)
      .select(col("doc_id"), col("pos"), lit(1).as("sd"))
      .repartition(col("doc_id"))
    val toks = toked
      .select(col("doc_id"), posexplode(col("toks")))
      .withColumnRenamed("col", "tok")
      .repartition(col("doc_id"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(-(spanN - 1), Window.currentRow)
    val cleaned = toks
      .join(dupStarts, Seq("doc_id", "pos"), "left")
      .withColumn("cov", max(coalesce(col("sd"), lit(0))).over(w))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("cov")).as("n_removed"),
        concat_ws(" ", transform(
          array_sort(collect_list(
            when(col("cov") === 0, struct(col("pos"), col("tok"))))),
          s => s.getField("tok"))).as("cleaned_text"))
    docs.select(col(idCol).as("doc_id"))
      .join(cleaned, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        coalesce(col("cleaned_text"), lit("")).as("cleaned_text"))
  }

  /** Per-document LONGEST duplicated-run statistics — the actionable
    * remove-the-span depth signal from Lee et al. ("Deduplicating Training
    * Data Makes Language Models Better"): [[dupSpanStats]] says how MUCH of
    * a document is duplicated elsewhere; this says how CONTIGUOUS the
    * duplication is. A doc whose dup spans are scattered single shingles is
    * quote-noise; a doc with a 200-span consecutive run contains a literal
    * copied passage whose exact token range a pipeline can excise. Returns
    * `(doc_id, max_dup_run, max_dup_run_tokens)` for EVERY input doc:
    * `max_dup_run` = length (in spans) of the longest run of consecutive
    * token positions whose `spanN`-gram also appears in ≥1 OTHER document,
    * and `max_dup_run_tokens` = the token length of that passage
    * (run + spanN − 1), both 0 when nothing is duplicated.
    *
    * Shape at 100 TB: the same single span exchange as [[dupSpanStats]]
    * (posexplode → repartition(span), document-frequency agg + join-back
    * sharing one ReusedExchange), then gaps-and-islands per doc: dup
    * positions only, `pos − row_number()` groups consecutive positions, two
    * doc-keyed aggregations. The window partitions by doc id — bounded by
    * the longest document, never corpus-sized — and everything after the df
    * join has shed the span strings. df counts DOCUMENT frequency
    * (count_distinct doc), so in-doc repetition alone never marks a run.
    */
  def dupRunStats(docs: DataFrame, idCol: String, textCol: String,
      spanN: Int = 8): DataFrame = {
    val byDoc = docs
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("toks"))
      .where(col("doc_id").isNotNull)
      .select(col("doc_id"),
        shinglesNative(col("toks"), spanN, distinct = false).as("spans"))
      .select(col("doc_id"), posexplode(col("spans")))
      .withColumnRenamed("col", "span")
      .repartition(col("span"))
    // pruneGuard: keep the df branch reading (doc_id, pos) like the join
    // branch so the two copies of the span exchange canonicalize equal
    // (same double-corpus-scan trap as dupSpanStats). HashPartitioning(span)
    // satisfies the distinct-agg's ClusteredDistribution(span, doc_id), so
    // the count_distinct re-uses the exchange without an extra shuffle.
    val df = byDoc.groupBy(col("span"))
      .agg((count_distinct(col("doc_id")) +
        Dedup.pruneGuard(struct(col("doc_id"), col("pos")))).as("df"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val runs = byDoc.join(df, "span")
      .where(col("df") >= 2)
      .select(col("doc_id"), col("pos"))
      .withColumn("grp", col("pos") - row_number().over(w))
      .groupBy(col("doc_id"), col("grp")).agg(count(lit(1)).as("run"))
      .groupBy(col("doc_id")).agg(max(col("run")).as("max_dup_run"))
    docs.select(col(idCol).as("doc_id"))
      .join(runs, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("max_dup_run"), lit(0L)).as("max_dup_run"),
        coalesce(col("max_dup_run") + lit(spanN - 1).cast("long"), lit(0L))
          .as("max_dup_run_tokens"))
  }
}
