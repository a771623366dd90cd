package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Gates the distributed BPE trainer against an independent in-memory
  * reference implementation of Sennrich-style BPE (word-frequency table,
  * weighted pair counts, greedy left-to-right merges, ties broken by
  * (count DESC, pair ASC)) — merge table AND final symbolization must match
  * exactly, including tie rounds and overlapping-run merges.
  */
class BpeSpec extends SparkSpec {

  private def refMergeGreedy(ss: Vector[String], p: (String, String)): Vector[String] = {
    val b = Vector.newBuilder[String]
    var i = 0
    while (i < ss.size) {
      if (i + 1 < ss.size && ss(i) == p._1 && ss(i + 1) == p._2) {
        b += (p._1 + p._2); i += 2
      } else { b += ss(i); i += 1 }
    }
    b.result()
  }

  private def refTrain(words: Map[String, Long], n: Int, minFreq: Long = 2L)
      : (Seq[(String, String)], Map[String, Vector[String]]) = {
    var syms = words.map { case (w, _) => w -> w.toVector.map(_.toString) }
    val out = scala.collection.mutable.Buffer[(String, String)]()
    var done = false
    while (out.size < n && !done) {
      val counts = scala.collection.mutable.Map[(String, String), Long]()
        .withDefaultValue(0L)
      for ((w, ss) <- syms; i <- 0 until ss.size - 1)
        counts((ss(i), ss(i + 1))) += words(w)
      val eligible = counts.filter(_._2 >= minFreq)
      if (eligible.isEmpty) done = true
      else {
        val (pair, _) = eligible.toSeq
          .minBy { case ((a, b), c) => (-c, a, b) }
        out += pair
        syms = syms.map { case (w, ss) => w -> refMergeGreedy(ss, pair) }
      }
    }
    (out.toSeq, syms)
  }

  // repeats at controlled weights, an overlapping run (aaa…), a tie pair,
  // and a single-char word
  private val corpus = Seq(
    "banana bandana banana", "banana bandana", "cabbage and banana",
    "aaaaaa aaaaaa", "x and cabbage", "the the the")

  private def wordsOf(texts: Seq[String]): Map[String, Long] =
    texts.flatMap(_.split("\\s+")).filter(_.nonEmpty)
      .groupBy(identity).view.mapValues(_.size.toLong).toMap

  test("trained merge table matches the reference exactly, ties and " +
    "overlapping runs included") {
    import spark.implicits._
    val df = corpus.toDF("text")
    val got = Bpe.train(df, "text", numMerges = 10)
    val (want, _) = refTrain(wordsOf(corpus), 10)
    assert(got === want)
    assert(got.nonEmpty && got.size <= 10)
  }

  test("applyMerges reproduces the reference symbolization of every word") {
    import spark.implicits._
    val df = corpus.toDF("text")
    val merges = Bpe.train(df, "text", numMerges = 6)
    val (refMerges, refSyms) = refTrain(wordsOf(corpus), 6)
    assert(merges === refMerges)
    val got = Bpe.wordFreq(df, "text")
      .select(col("word"),
        Bpe.applyMerges(Bpe.splitChars(col("word")), merges).as("syms"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1).toVector)
      .toMap
    assert(got === refSyms)
  }

  test("encode: per-doc token counts under a trained merge table match the " +
    "reference, zero-word docs report 0/0, occurrences weighted") {
    import spark.implicits._
    val trainDf = corpus.toDF("text")
    val merges = Bpe.train(trainDf, "text", numMerges = 6)
    assert(merges.nonEmpty)
    def refEncode(w: String): Vector[String] =
      merges.foldLeft(w.toVector.map(_.toString))(refMergeGreedy)

    val docs = Seq(
      (1L, "banana bandana banana"),   // repeated word: counted 2x
      (2L, "the cabbage"),
      (3L, "???"),                     // no alnum terms → 0/0
      (4L, "")).toDF("doc_id", "text")
    val got = Bpe.encode(docs, "doc_id", "text", merges)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    def want(text: String): (Long, Long) = {
      val ws = "[a-z0-9]+".r.findAllIn(text.toLowerCase).toSeq
      (ws.size.toLong, ws.map(refEncode(_).size.toLong).sum)
    }
    assert(got(1L) == want("banana bandana banana"))
    assert(got(1L)._1 == 3L)
    assert(got(2L) == want("the cabbage"))
    assert(got(3L) == ((0L, 0L)))
    assert(got(4L) == ((0L, 0L)))
    // non-vacuous: merging actually shrank something below char count
    // (banana-family words definitely trained merges on this corpus)
    assert(got(1L)._2 < "bananabandanabanana".length)
  }

  test("encode shares ONE word exchange between vocab, occurrences, and " +
    "the join back") {
    import spark.implicits._
    val thresholdKey = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(thresholdKey)
    try {
      spark.conf.set(thresholdKey, "-1")
      val docs = corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val df = Bpe.encode(docs, "doc_id", "text", Seq(("a", "n"), ("an", "a")))
      df.collect()
      val p = df.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan.toString
        case other => other.toString
      }
      assert(p.contains("ReusedExchange") || p.contains("TableCacheQueryStage"),
        s"expected the word exchange to be reused:\n$p")
    } finally spark.conf.set(thresholdKey, prev)
  }

  test("trainer exhausts cleanly when no pair clears minPairFreq, and " +
    "edge words symbolize safely") {
    import spark.implicits._
    // all words distinct → every pair count is 1 < minPairFreq=2 → no merges
    val distinctDf = Seq("ab cd ef").toDF("text")
    assert(Bpe.train(distinctDf, "text", numMerges = 5) === Seq.empty)

    // single-char and empty-ish texts: no pairs, no crash, chars preserved
    val edge = Seq("x", "", "  ").toDF("text")
    assert(Bpe.train(edge, "text", numMerges = 3) === Seq.empty)
    val syms = edge.select(
      Bpe.applyMerges(Bpe.splitChars(lit("x")), Seq(("a", "b"))).as("s"))
      .head().getSeq[String](0)
    assert(syms === Seq("x"))
  }

  test("byte-level fallback: encoding is total (no OOV), in-alphabet text " +
    "encodes like the plain form, and out-of-alphabet chars count their " +
    "UTF-8 bytes") {
    import spark.implicits._
    val alpha = (('a' to 'z') ++ ('0' to '9')).map(_.toString)
    // symbolization directly: é is 2 UTF-8 bytes, ! is 1; 'th' merge
    // applies around them
    val syms = spark.range(1).select(
      Bpe.applyMerges(Bpe.splitCharsFallback(lit("thé!"), alpha),
        Seq(("t", "h"))).as("s")).head().getSeq[String](0)
    assert(syms == Seq("th", "<0xC3>", "<0xA9>", "<0x21>"))

    // encodeFallback vs encode on pure-alnum text: identical token counts
    val clean = Seq((1L, "the theme and band")).toDF("doc_id", "text")
    val m = Seq(("t", "h"), ("th", "e"))
    val a = Bpe.encode(clean, "doc_id", "text", m).collect().head
    val b = Bpe.encodeFallback(clean, "doc_id", "text", m, alpha).collect().head
    assert(a.getLong(1) == b.getLong(1) && a.getLong(2) == b.getLong(2))

    // mixed text: total, every char accounted for — "café!" = c,a,f (3) +
    // é (2 bytes) + ! (1 byte) = 6 tokens under no merges
    val mixed = Seq((1L, "café!")).toDF("doc_id", "text")
    val r = Bpe.encodeFallback(mixed, "doc_id", "text", Nil, alpha)
      .collect().head
    assert(r.getLong(1) == 1L && r.getLong(2) == 6L)
  }
}
