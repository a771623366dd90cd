package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding vocabulary training as a distributed pipeline — the
  * tokenizer-construction step of an LLM data pipeline (the reference has
  * nothing comparable; `q_token_count`'s BPE-ish regex estimates token
  * counts, this LEARNS the merge table those counts approximate).
  *
  * Classic Sennrich-style BPE trains on the WORD-FREQUENCY table, not the
  * corpus: after one distributed word count, every further round touches
  * only (word, freq, symbols) — vocabulary-sized (≪ corpus, bounded by
  * distinct words), so the per-merge cost at 100 TB is one explode+agg job
  * over the vocab plus a single driver row, never a corpus rescan. The
  * corpus is read exactly once.
  *
  * Merge application is the standard greedy left-to-right pass, expressed
  * as an `aggregate` fold over the symbol array (interpreted, not
  * codegen'd — fine on the vocab table; production tokenization of the
  * corpus itself would compile the merge table into a trie inside one
  * `mapPartitions` pass instead of folding per merge).
  */
object Bpe {

  /** Distributed word-frequency table: (word, freq), lowercase `[a-z0-9]+`
    * terms (the inventory's shared tokenizer,
    * [[graft.functions.TextFunctions.termsAlnum]]; barrier-wrapped — an
    * unguarded explode lets InferFiltersFromGenerate clone the regex scan
    * into a per-row filter). One shuffle.
    */
  def wordFreq(docs: DataFrame, textCol: String): DataFrame =
    docs
      .select(explode(graft.functions.TextFunctions.arrayBarrier(
        graft.functions.TextFunctions.termsAlnum(col(textCol)))).as("word"))
      .groupBy("word")
      .agg(count(lit(1)).as("freq"))

  /** Single-character symbolization of a word. */
  def splitChars(word: Column): Column =
    when(length(word) > 0,
      transform(sequence(lit(1), length(word)), i => word.substr(i, lit(1))))
      .otherwise(array().cast("array<string>"))

  /** Adjacent symbol pairs of one symbolization, as (left_sym, right_sym)
    * structs — empty for arrays shorter than 2 (guarded: Spark's
    * `sequence(1, 0)` DESCENDS instead of being empty).
    */
  private def adjacentPairs(syms: Column): Column =
    when(size(syms) >= 2,
      transform(sequence(lit(1), size(syms) - 1), i =>
        struct(element_at(syms, i).as("left_sym"),
          element_at(syms, i + 1).as("right_sym"))))
      .otherwise(array().cast("array<struct<left_sym:string,right_sym:string>>"))

  /** Frequency-weighted adjacent-pair counts over a symbolized word table
    * (`words` must carry `syms: array<string>` and `freq: bigint`).
    */
  private def pairCounts(words: DataFrame): DataFrame =
    words
      .select(explode(adjacentPairs(col("syms"))).as("p"), col("freq"))
      .groupBy(col("p.left_sym").as("left_sym"), col("p.right_sym").as("right_sym"))
      .agg(sum(col("freq")).as("cnt"))

  /** Round-0 pair statistics: frequency-weighted adjacent CHARACTER pair
    * counts over the corpus word table — the exact relation `train`'s first
    * round maximizes, exposed for the declared inventory (`q_bpe_pairs`,
    * fully DuckDB-oracled; later rounds leave ANSI SQL, so the harness
    * certifies the distributed pair-count plan here and BpeSpec gates the
    * iterative loop against a reference implementation).
    */
  def initialPairCounts(docs: DataFrame, textCol: String): DataFrame =
    pairCounts(wordFreq(docs, textCol).withColumn("syms", splitChars(col("word"))))

  /** One greedy left-to-right merge of the pair (a, b) into a+b, as a fold
    * over the symbol array. `get` (0-based, NULL out of range) reads the
    * accumulator's last element NULL-safely on the empty start — NULL
    * comparisons fall to the otherwise-branch, exactly the append case.
    * After a merge the new last symbol is a+b, which cannot equal a (it is
    * strictly longer), so a run like aaa under (a,a) merges pairs
    * disjointly left-to-right — the standard BPE rule.
    */
  def mergePair(syms: Column, a: String, b: String): Column =
    aggregate(syms, array().cast("array<string>"), (acc, x) =>
      when(get(acc, size(acc) - 1) === lit(a) && x === lit(b),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
        .otherwise(concat(acc, array(x))))

  /** Applies a learned merge table in order. Expression depth grows with
    * `merges.size` — intended for spec-scale tables (tens of merges; the
    * oracled declared queries), where staying in Catalyst expressions keeps
    * the whole encode inside one analyzed plan. A PRODUCTION merge table
    * (30k–100k merges) would build a 100k-deep expression tree that the
    * analyzer itself chokes on.
    */
  def applyMerges(syms: Column, merges: Seq[(String, String)]): Column =
    merges.foldLeft(syms) { case (c, (a, b)) => mergePair(c, a, b) }

  /** Trains `numMerges` BPE merges over the corpus. Deterministic: the
    * winning pair each round is max by (weighted count, then (left, right)
    * lexicographically) — a total order, so ties cannot flip the table
    * between runs or engines. Stops early when no adjacent pair remains
    * with count ≥ `minPairFreq`.
    *
    * Each round localCheckpoints the vocab table: the lineage would
    * otherwise grow one fold per merge and re-derive every prior round's
    * symbolization on each action.
    *
    * @return the merge table in application order
    */
  def train(docs: DataFrame, textCol: String, numMerges: Int,
      minPairFreq: Long = 2L): Seq[(String, String)] = {
    require(numMerges >= 0, s"numMerges must be non-negative, got $numMerges")
    var words = wordFreq(docs, textCol)
      .withColumn("syms", splitChars(col("word")))
      .select("syms", "freq")
      .localCheckpoint()
    val merges = Seq.newBuilder[(String, String)]
    var round = 0
    var exhausted = false
    while (round < numMerges && !exhausted) {
      val top = pairCounts(words)
        .where(col("cnt") >= minPairFreq)
        .orderBy(col("cnt").desc, col("left_sym"), col("right_sym"))
        .limit(1)
        .collect()
      if (top.isEmpty) exhausted = true
      else {
        val (a, b) = (top(0).getString(0), top(0).getString(1))
        merges += ((a, b))
        val prev = words
        words = words.withColumn("syms", mergePair(col("syms"), a, b))
          .localCheckpoint()
        prev.unpersist()
      }
      round += 1
    }
    words.unpersist()
    merges.result()
  }

  /** UTF-8 byte tokens of one character: `<0xNN>` per byte, the GPT-2-style
    * byte-level escape hatch that makes encoding total — any character not
    * in the trained alphabet is representable, so there is no OOV. Hex via
    * the engine's `hex(encode(c))` (uppercase in Spark AND DuckDB, which is
    * what lets q_bpe_fallback's oracle replay these tokens verbatim).
    */
  private def byteTokens(c: Column): Column = {
    // fully qualified: Bpe.encode (the corpus tokenizer) shadows the
    // sql.functions byte-encode in this scope
    val hx = hex(org.apache.spark.sql.functions.encode(c, "UTF-8"))
    transform(sequence(lit(1), (length(hx) / 2).cast("int")), j =>
      concat(lit("<0x"), hx.substr(j * 2 - 1, lit(2)), lit(">")))
  }

  /** [[splitChars]] with byte fallback: characters in `alphabet` stay
    * single-char symbols (merge-eligible); anything else expands to its
    * UTF-8 [[byteTokens]]. Byte tokens can never merge accidentally — the
    * trained pairs are alphabet symbols, and `<0xNN>` contains no symbol
    * boundary for the merge fold to match.
    */
  def splitCharsFallback(word: Column, alphabet: Seq[String]): Column =
    when(length(word) > 0,
      flatten(transform(sequence(lit(1), length(word)), i => {
        val c = word.substr(i, lit(1))
        when(c.isin(alphabet: _*), array(c)).otherwise(byteTokens(c))
      })))
      .otherwise(array().cast("array<string>"))

  /** CORPUS tokenization under a trained (or shipped) merge table — the
    * step that turns the learned vocabulary into actual per-document token
    * counts, replacing `q_token_count`'s regex ESTIMATE with the real
    * tokenizer's arithmetic. Returns `(doc_id, n_words, n_tokens)` for
    * every input doc (zero-word docs report 0 / 0).
    *
    * Shape at 100 TB — encode the VOCABULARY, not the corpus: terms explode
    * once into a single word-keyed exchange shared by all three consumers
    * (per-(doc,word) occurrence counts, the distinct-word relation the merge
    * fold actually runs on, and the join stitching them back —
    * `HashPartitioning(word)` satisfies every one of their distributions, so
    * the whole encode costs ONE corpus shuffle plus a doc-keyed re-agg).
    * The merge fold ([[applyMerges]]) touches only distinct words: a word
    * appearing a billion times is encoded once. In-plan, no driver state,
    * no UDF.
    */
  def encode(docs: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame =
    encodeCore(docs, idCol, textCol,
      graft.functions.TextFunctions.termsAlnum, splitChars, merges)

  /** [[encode]] over the WHITESPACE tokenizer with byte-level fallback —
    * the OOV-free form: words keep their punctuation/diacritics, alphabet
    * characters ride the merge fold, everything else counts as its UTF-8
    * bytes. Same one-corpus-shuffle shape as [[encode]].
    */
  def encodeFallback(docs: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)], alphabet: Seq[String]): DataFrame =
    encodeCore(docs, idCol, textCol,
      graft.functions.TextFunctions.tokens,
      w => splitCharsFallback(w, alphabet), merges)

  private def encodeCore(docs: DataFrame, idCol: String, textCol: String,
      tokenizer: Column => Column, symbolize: Column => Column,
      merges: Seq[(String, String)]): DataFrame = {
    import graft.functions.TextFunctions.arrayBarrier
    val terms = docs
      .select(col(idCol).as("doc_id"),
        explode(arrayBarrier(tokenizer(col(textCol)))).as("word"))
      .where(col("doc_id").isNotNull)
      .repartition(col("word"))
    val occurrences = terms.groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).as("cnt"))
    // pruneGuard: the vocab branch must read doc_id like the occurrence
    // branch, or the two copies of the word exchange canonicalize unequal
    // and the term explode runs twice (same trap as Dedup.dupSpanStats).
    // The guard term (always 0) is folded INTO n_subtoks — as a dropped
    // column it would itself be pruned away, taking doc_id with it
    val vocab = terms.groupBy(col("word"))
      .agg(Dedup.pruneGuard(struct(col("doc_id"))).as("__g"))
      .select(col("word"),
        (size(applyMerges(symbolize(col("word")), merges)) + col("__g"))
          .as("n_subtoks"))
    val perDoc = occurrences.join(vocab, "word")
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_words"),
        sum(col("cnt") * col("n_subtoks").cast("long")).as("n_tokens"))
    docs.select(col(idCol).as("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"))
  }
}
