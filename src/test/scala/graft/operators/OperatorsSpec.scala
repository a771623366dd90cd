package graft.operators

import graft.SparkSpec
import graft.functions.{TextFunctions, VectorNative}
import org.apache.spark.sql.functions._

class OperatorsSpec extends SparkSpec {

  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"), // near-dup of 1
    (3L, "completely different content about spark engines"),
    (4L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
    (5L, "el gato que duerme en la casa de la abuela"))
    .toDF("doc_id", "text")

  test("exactGroups collapses exact duplicates deterministically") {
    val g = Dedup.exactGroups(docs, "doc_id", "text").collect()
    assert(g.length == 4) // 5 docs, one exact dup pair
    val dup = g.find(_.getLong(1) == 2L).get
    assert(dup.getLong(2) == 1L) // min doc_id survives
  }

  test("minhash pairs find the near-dups") {
    val pairs = Dedup.minhashPairs(docs, "doc_id", "text",
      shingleN = 3, nPerms = 16, nBands = 8).collect()
    val pairSet = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairSet.contains((1L, 4L))) // exact dup: all bands agree
    // near-dup 1-2 shares most shingles → should collide on some band
    assert(pairSet.contains((1L, 2L)) || pairSet.contains((2L, 4L)))
    // the unrelated doc never pairs
    assert(!pairs.exists(r => r.getLong(0) == 3L || r.getLong(1) == 3L))
  }

  test("one-pass native portable signatures are BIT-IDENTICAL to the " +
    "declarative explode+min spelling on a real corpus plus edge docs " +
    "(r13 — the gate that lets the hot path replace the Column pipeline)") {
    // the r12 declarative spelling, re-built verbatim as the reference:
    // explode shingles -> md5-prefix base hash -> 32 affine min-aggs
    val p = 2147483647L
    def declarative(tok: org.apache.spark.sql.DataFrame, shingleN: Int,
        nPerms: Int): Map[Long, Seq[Long]] =
      tok.select($"doc_id",
          explode(TextFunctions.arrayBarrier(
            TextFunctions.shinglesFromTokens($"toks", shingleN))).as("shingle"))
        .select($"doc_id",
          (TextFunctions.md5PrefixLong($"shingle", 15) % p).as("u"))
        .groupBy($"doc_id").agg(
          array((0 until nPerms).map { i =>
            val (a, b) = Dedup.portableCoef(i)
            min((lit(a) * $"u" + lit(b)) % p)
          }: _*).as("sig"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap

    val edge = Seq(
      (100000L, "one two"),                    // < shingleN tokens: NO signature
      (100001L, "one two three"),              // exactly shingleN: one shingle
      (100002L, "a a a a a a"),                // repeated shingle values
      (100003L, "naïve café über tokens here"),// multi-byte UTF-8 in the digest
      (100004L, "  spaced   out\ttokens\nhere now  ")) // tokenizer whitespace
      .toDF("doc_id", "text")
    val corpus = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select($"doc_id", $"text").unionAll(edge)
    val tok = corpus.select($"doc_id", TextFunctions.tokens($"text").as("toks"))

    for ((n, perms) <- Seq((3, 32), (2, 16))) {
      val want = declarative(tok, n, perms)
      val got = Dedup.portableSignatures(tok, n, perms)
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      assert(want.nonEmpty && got.keySet == want.keySet,
        s"doc sets differ at n=$n: onlyNative=${(got.keySet -- want.keySet).take(3)} " +
          s"onlyDeclarative=${(want.keySet -- got.keySet).take(3)}")
      if (n == 3) // "one two" has no 3-shingle but exactly one 2-shingle
        assert(!got.contains(100000L), "a short doc produced a signature")
      val diffs = got.collect { case (id, s) if want(id) != s => id }
      assert(diffs.isEmpty, s"signature mismatch for docs ${diffs.take(3)} at n=$n")
    }
  }

  test("portable MinHash family mirrors the xxhash family's behavior and " +
    "stays recall-sane on the fixture corpus") {
    // tiny corpus: the portable family must find the same structure the
    // xxhash family does (exact dup = all bands agree; near-dup collides;
    // unrelated doc never pairs) — a degenerate base hash or broken affine
    // mixing would collapse every sig and pair everything with everything
    def toks(df: org.apache.spark.sql.DataFrame) = df.select(
      $"doc_id", TextFunctions.tokens($"text").as("toks"))
    val pairs = Dedup.portablePairsFromTokens(toks(docs),
      shingleN = 3, nPerms = 16, nBands = 8).collect()
    val byPair = pairs.map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(byPair.get((1L, 4L)).contains(8L)) // exact dup: ALL bands agree
    assert(!pairs.exists(r => r.getLong(0) == 3L || r.getLong(1) == 3L))
    assert(!pairs.exists(r => r.getLong(0) == 5L || r.getLong(1) == 5L))

    // fixture corpus: the confident-drop sets (n_bands >= 6 of 8) of the
    // two families must agree heavily — they answer the same question with
    // different hash draws. Requires ≥70% overlap in BOTH directions, so
    // neither a recall collapse (portable finds nothing) nor a precision
    // collapse (portable pairs everything) can pass.
    val fixture = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    def confident(p: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      p.where($"n_bands" >= 6).select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val port = confident(Dedup.portablePairsFromTokens(toks(fixture)))
    val xx = confident(Dedup.minhashPairsFromTokens(toks(fixture)))
    assert(xx.nonEmpty, "fixture lost its near-dup pairs — regenerate check")
    assert((port & xx).size >= math.ceil(xx.size * 0.7),
      s"portable family missed xxhash-confident pairs: ${port.size} vs ${xx.size}")
    assert((port & xx).size >= math.ceil(port.size * 0.7),
      s"portable family over-pairs vs xxhash: ${port.size} vs ${xx.size}")
  }

  test("derived-permutation MinHash family (one string hash per shingle) " +
    "mirrors the re-hash family's structure and confident pairs") {
    def toks(df: org.apache.spark.sql.DataFrame) = df.select(
      $"doc_id", TextFunctions.tokens($"text").as("toks"))
    // structure on the tiny corpus: exact dup agrees on ALL bands (families
    // can't disagree on identical shingle sets), unrelated docs never pair,
    // and the family is deterministic across runs
    val pairs = Dedup.minhashPairsFromTokens(toks(docs),
      shingleN = 3, nPerms = 16, nBands = 8, derivePerms = true).collect()
    val byPair = pairs.map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(byPair.get((1L, 4L)).contains(8L))
    assert(!pairs.exists(r => r.getLong(0) == 3L || r.getLong(1) == 3L))
    val again = Dedup.minhashPairsFromTokens(toks(docs),
      shingleN = 3, nPerms = 16, nBands = 8, derivePerms = true).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(again == byPair)

    // fixture corpus: confident (≥6-of-8-band) drop sets of the derived and
    // re-hash families agree in both directions — same question, different
    // independent draws (the portable-family overlap gate, same bound)
    val fixture = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    def confident(p: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      p.where($"n_bands" >= 6).select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val derived = confident(Dedup.minhashPairsFromTokens(toks(fixture),
      derivePerms = true))
    val rehash = confident(Dedup.minhashPairsFromTokens(toks(fixture)))
    assert(rehash.nonEmpty, "fixture lost its near-dup pairs — regenerate check")
    assert((derived & rehash).size >= math.ceil(rehash.size * 0.7),
      s"derived family missed re-hash-confident pairs: ${derived.size} vs ${rehash.size}")
    assert((derived & rehash).size >= math.ceil(derived.size * 0.7),
      s"derived family over-pairs vs re-hash: ${derived.size} vs ${rehash.size}")
  }

  test("simhash: identical texts get identical hashes, near-dups are close") {
    val sh = Dedup.simhash(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(1L) == sh(4L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sh(1L), sh(2L)) < ham(sh(1L), sh(3L)))
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 4L)))
  }

  test("jaccardPairs computes exact jaccard on candidates") {
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text",
      shingleN = 3, maxDf = 10, minJaccard = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toList
    val exact = pairs.find(p => p._1 == 1L && p._2 == 4L).get
    assert(exact._3 == 1.0) // identical shingle sets
    val near = pairs.find(p => p._1 == 1L && p._2 == 2L).get
    // 7 shingles each, 6 shared → 6/8
    assert(math.abs(near._3 - 0.75) < 1e-12)
  }

  test("containmentPairs catches a full-inclusion pair Jaccard misses, " +
    "flags it asymmetric, and agrees with jaccardPairs on the jaccard") {
    // doc 11's 8 tokens appear verbatim inside doc 10's much longer text:
    // containment(small) = 1.0 while jaccard = |small| / |large| stays far
    // under the 0.3 dedup floor — exactly the shape the operator exists for
    val d = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta " +
        "iota kappa lambda mu nu xi omicron pi rho sigma tau upsilon " +
        "phi chi psi omega one two three four five six seven eight"),
      (11L, "alpha beta gamma delta epsilon zeta eta theta"),
      (12L, "unrelated words about completely different topics entirely"))
      .toDF("doc_id", "text")
    val got = Dedup.containmentPairs(d, "doc_id", "text",
      shingleN = 3, maxDf = 10, minContainment = 0.5).collect()
    assert(got.length == 1)
    val r = got.head
    assert(r.getLong(0) == 10L && r.getLong(1) == 11L)
    // small doc: 8 tokens → 6 distinct 3-shingles, all inside the large doc
    assert(r.getDouble(r.fieldIndex("containment")) == 1.0)
    assert(r.getBoolean(r.fieldIndex("asymmetric")),
      "full inclusion under the jaccard floor must flag asymmetric")
    val jac = r.getDouble(r.fieldIndex("jaccard"))
    assert(jac < 0.3, s"jaccard $jac should sit under the dedup floor")
    // and the shared base reproduces jaccardPairs' numbers exactly: the
    // refactor may not move the certified pair machinery
    val viaJaccard = Dedup.jaccardPairs(d, "doc_id", "text",
      shingleN = 3, maxDf = 10, minJaccard = 0.0)
      .where($"doc_a" === 10L && $"doc_b" === 11L)
      .head().getDouble(3)
    assert(jac == viaJaccard)
  }

  test("minhashPairsIncremental equals the full run filtered to " +
    "new-involving pairs, including under bucket capping") {
    val extra = Seq(
      (6L, "the quick brown fox jumps over the lazy dog today"),
      (7L, "el gato que duerme en la casa de la abuela gris"),
      (8L, "completely different content about spark engines here"))
      .toDF("doc_id", "text")
    val all = docs.unionByName(extra)
    val newD = all.where($"doc_id" % 2 === 0) // 2, 4, 6, 8
    val oldD = all.where($"doc_id" % 2 =!= 0)
    def toSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    for (cap <- Seq(50, 2)) {
      val fullFiltered = toSet(Dedup.minhashPairs(all, "doc_id", "text",
        shingleN = 3, nPerms = 16, nBands = 8, maxBucket = cap))
        .filter(p => p._1 % 2 == 0 || p._2 % 2 == 0)
      val inc = toSet(Dedup.minhashPairsIncremental(oldD, newD,
        "doc_id", "text", shingleN = 3, nPerms = 16, nBands = 8,
        maxBucket = cap))
      assert(inc === fullFiltered, s"maxBucket=$cap")
      // never an old-old pair
      assert(inc.forall(p => p._1 % 2 == 0 || p._2 % 2 == 0))
    }
    // non-vacuous: the exact-dup pair (1→old, 4→new) must surface uncapped
    val uncapped = toSet(Dedup.minhashPairsIncremental(oldD, newD,
      "doc_id", "text", shingleN = 3, nPerms = 16, nBands = 8, maxBucket = 50))
    assert(uncapped.exists(p => p._1 == 1L && p._2 == 4L))
  }

  test("dupSpanStats counts cross-doc spans, not in-doc repetition, " +
    "and reports 0 for span-less docs") {
    // spanN = 8 over the shared fixture: docs 1/4 are identical 9-token
    // texts (2 spans each, both shared), doc 2 shares only the first span,
    // doc 3 has 6 tokens (no spans), doc 5's spans are unique
    val got = Dedup.dupSpanStats(docs, "doc_id", "text", spanN = 8)
      .collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got(1L) == ((2, 2L, 1.0)))
    assert(got(2L) == ((2, 1L, 0.5)))
    assert(got(3L) == ((0, 0L, 0.0))) // too short for any span: present, zeroed
    assert(got(4L) == ((2, 2L, 1.0)))
    assert(got(5L) == ((3, 0L, 0.0)))
    // a doc that repeats ITS OWN span but shares nothing reports 0 dups
    val selfRep = Seq((9L, "a b c d e f g h a b c d e f g h")).toDF("doc_id", "text")
    val solo = Dedup.dupSpanStats(docs.unionByName(selfRep), "doc_id", "text", spanN = 8)
      .where($"doc_id" === 9L).collect().head
    assert(solo.getLong(2) == 0L)
  }

  test("dupRunStats finds the LONGEST consecutive dup run, not the total") {
    // 9-token fixture docs, spanN = 8 → 2 spans each: 1/4 identical (both
    // spans dup, consecutive → run 2 = 9 tokens), 2 shares only span 0
    // (run 1 = 8 tokens), 3 span-less, 5 unique
    val got = Dedup.dupRunStats(docs, "doc_id", "text", spanN = 8)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got(1L) == ((2L, 9L)))
    assert(got(2L) == ((1L, 8L)))
    assert(got(3L) == ((0L, 0L)))
    assert(got(4L) == ((2L, 9L)))
    assert(got(5L) == ((0L, 0L)))

    // two separated dup blocks must report the LONGER one, never the sum:
    // docA = 8-token block X + gap + 10-token block Y; X appears in docB
    // (1 dup span), Y in docC (3 consecutive dup spans → 10 tokens)
    val x = (1 to 8).map(i => s"x$i").mkString(" ")
    val y = (1 to 10).map(i => s"y$i").mkString(" ")
    val split = Seq(
      (10L, s"$x gap $y"), (11L, x), (12L, y)).toDF("doc_id", "text")
    val g2 = Dedup.dupRunStats(split, "doc_id", "text", spanN = 8)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(g2(10L) == ((3L, 10L)), g2.toString) // block Y, not 1+3
    assert(g2(11L) == ((1L, 8L)))
    assert(g2(12L) == ((3L, 10L)))

    // in-doc self-repetition alone never marks a run (document frequency)
    val selfRep = Seq((9L, "a b c d e f g h a b c d e f g h")).toDF("doc_id", "text")
    val solo = Dedup.dupRunStats(docs.unionByName(selfRep), "doc_id", "text", spanN = 8)
      .where($"doc_id" === 9L).collect().head
    assert(solo.getLong(1) == 0L)
  }

  test("decontaminateNear flags benchmark self-leaks and near-verbatim " +
    "copies, never unrelated docs") {
    // benchmark = docs 1,3; doc 4 is an exact copy of benchmark doc 1
    // (all bands collide), docs 2/5 differ (2 is a near-dup of 1 but the
    // assertion only requires it NOT to flag unrelated 5)
    val bench = docs.where($"doc_id" === 1L || $"doc_id" === 3L)
    val flagged = Dedup.decontaminateNear(docs, bench, "doc_id", "text",
      shingleN = 3, nPerms = 16, nBands = 8)
      .collect().map(_.getLong(0)).toSet
    assert(flagged.contains(1L) && flagged.contains(3L)) // self-leak
    assert(flagged.contains(4L))                         // exact copy of 1
    assert(!flagged.contains(5L))                        // unrelated
  }

  test("decontaminateNear catches exact copies of SHORT benchmark docs " +
    "(below the shingle horizon) via the content-hash fallback") {
    // "yes or no" has 3 tokens < shingleN=4 → zero 4-gram shingles → no
    // LSH signature; before the fallback an exact copy passed silently
    val bench = Seq((100000L, "yes or no")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "yes or no"),              // exact short copy → must flag
      (2L, "yes or  NO "),            // token-normalized same → must flag
      (3L, "yes or maybe"),           // different short doc → clean
      (4L, "a long document about something entirely different here"))
      .toDF("doc_id", "text")
    val flagged = Dedup.decontaminateNear(corpus, bench, "doc_id", "text",
      shingleN = 4, nPerms = 16, nBands = 8)
      .collect().map(_.getLong(0)).toSet
    assert(flagged == Set(1L, 2L))
  }

  test("scrubDupSpans removes exactly the covered tokens and re-joins " +
    "survivors in order") {
    // fixture: docs 1/4 identical 9 tokens → every token covered → empty
    // cleaned text; doc 2 shares only span 0 (tokens 0..7 covered, token 8
    // 'cat' survives); docs 3/5 untouched (no spans / unique spans)
    val got = Dedup.scrubDupSpans(docs, "doc_id", "text", spanN = 8)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(got(1L) == ((9L, 9L, "")))
    assert(got(2L) == ((9L, 8L, "cat")))
    assert(got(3L) == ((6L, 0L, "completely different content about spark engines")))
    assert(got(4L) == ((9L, 9L, "")))
    assert(got(5L) == ((10L, 0L, "el gato que duerme en la casa de la abuela")))

    // split blocks: only the duplicated block's tokens go, the gap stays
    val x = (1 to 8).map(i => s"x$i").mkString(" ")
    val split = Seq(
      (10L, s"$x gap alpha beta"), (11L, x)).toDF("doc_id", "text")
    val g2 = Dedup.scrubDupSpans(split, "doc_id", "text", spanN = 8)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(g2(10L) == ((11L, 8L, "gap alpha beta")), g2.toString)
    assert(g2(11L) == ((8L, 8L, "")))
  }

  test("dupRunStats shares ONE span exchange between df agg and join-back") {
    // same at-scale contract as dupSpanStats/bigramScore: broadcast off so
    // the df side must sit on the shared hashpartitioning(span) exchange
    val thresholdKey = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(thresholdKey)
    try {
      spark.conf.set(thresholdKey, "-1")
      val df = Dedup.dupRunStats(docs, "doc_id", "text", spanN = 8)
      df.collect()
      val p = df.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan.toString
        case other => other.toString
      }
      assert(p.contains("ReusedExchange") || p.contains("TableCacheQueryStage"),
        s"expected the span exchange to be reused:\n$p")
    } finally spark.conf.set(thresholdKey, prev)
  }

  test("vector ops: dot/norm/cosine on known vectors") {
    val df = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f), Seq(0.0f, 1.0f, 0.0f)),
      (2L, Seq(1.0f, 2.0f, 2.0f), Seq(1.0f, 2.0f, 2.0f)))
      .toDF("id", "a", "b")
    val r = df.orderBy("id").select(
      VectorNative.dot($"a", $"b"),
      VectorNative.norm2($"a"),
      VectorNative.cosine($"a", $"b")).collect()
    assert(r(0).getDouble(0) == 0.0)
    assert(r(0).getDouble(1) == 1.0)
    assert(r(0).getDouble(2) == 0.0) // orthogonal
    assert(r(1).getDouble(0) == 9.0)
    assert(r(1).getDouble(1) == 3.0)
    assert(math.abs(r(1).getDouble(2) - 1.0) < 1e-15) // parallel
  }

  test("cosine emits NULL (not NaN) on zero vectors") {
    val df = Seq((1L, Seq(0.0f, 0.0f), Seq(1.0f, 1.0f))).toDF("id", "a", "b")
    val r = df.select(VectorNative.cosine($"a", $"b")).head()
    assert(r.isNullAt(0))
  }

  test("bruteForceTopK ranks by cosine with id tiebreak") {
    val corpus = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.9f, 0.1f)),
      (3L, Seq(0.0f, 1.0f)), (4L, Seq(1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(corpus, "vec_id", "embedding",
      Seq(1.0f, 0.0f), 3).collect()
    assert(top.map(_.getLong(0)).toSeq == Seq(1L, 4L, 2L)) // ties 1,4 by id
    assert(top(0).getDouble(1) == 1.0)
  }

  test("text functions: tokens, shingles, counts, lang") {
    val df = Seq((1L, "the cat and the hat is on the mat")).toDF("id", "text")
    val r = df.select(
      TextFunctions.wordCount($"text"),
      size(TextFunctions.shingles($"text", 3)),
      TextFunctions.predictedLang($"text"),
      TextFunctions.estTokensByChars($"text")).head()
    assert(r.getInt(0) == 9)
    assert(r.getInt(1) == 7) // 9 tokens → 7 trigrams
    assert(r.getString(2) == "en")
    assert(r.getInt(3) == math.ceil(33 / 4.0).toInt)
    // short text → empty shingles, not a descending-sequence crash
    val empty = Seq((1L, "one two")).toDF("id", "text")
      .select(size(TextFunctions.shingles($"text", 3))).head().getInt(0)
    assert(empty == 0)
    // NULL text predicts NULL, not the otherwise-branch language
    val nullLang = Seq((1L, null.asInstanceOf[String])).toDF("id", "text")
      .select(TextFunctions.predictedLang($"text")).head()
    assert(nullLang.isNullAt(0), "NULL text must not classify as a language")
  }

  test("fingerprint is whitespace/case-normalized") {
    val df = Seq(
      (1L, "Hello   World"), (2L, "hello world"), (3L, "hello worlds"))
      .toDF("id", "text")
    val fps = df.orderBy("id")
      .select(TextFunctions.fingerprint($"text")).collect().map(_.getLong(0))
    assert(fps(0) == fps(1))
    assert(fps(0) != fps(2))
  }

  test("scrubPii redacts emails, IPv4s, and phones — and only them") {
    val got = Seq((1L,
      "Mail a.b-c%d@sub.example.org or call (555) 867-5309 / 555-123-4567; " +
        "host 192.168.0.1 port 8080, version 1.2.3 stays, price 10.99 stays"))
      .toDF("id", "text")
      .select(TextFunctions.scrubPii($"text")).head().getString(0)
    assert(got == "Mail <EMAIL> or call <PHONE> / <PHONE>; " +
      "host <IP> port 8080, version 1.2.3 stays, price 10.99 stays", got)
  }

  test("labelCentroids: exact means per (label, dim), malformed short " +
    "vectors only skip their missing dims") {
    val e = Seq(
      (0, Seq(1.0f, 2.0f)), (0, Seq(3.0f, 6.0f)),
      (1, Seq(10.0f, 20.0f)),
      (1, Seq(30.0f))) // short: votes on dim 0 only
      .toDF("label", "embedding")
    val got = Similarity.labelCentroids(e, "label", "embedding", dims = 2)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(got == Map(
      (0, 0) -> 2.0, (0, 1) -> 4.0,
      (1, 0) -> 20.0, (1, 1) -> 20.0))
  }

  test("nearest-centroid assignment: the codegen'd operator form agrees " +
    "with the relational certification form") {
    val dir = "/root/testdata/sf0.001"
    val declared = graft.SparkEntry.queries("q_centroid_assign")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    val op = graft.queries.ExtQueries.operatorOnly("q_centroid_assign")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(declared.keySet == op.keySet)
    // float-centroid vs rounded-double-centroid scoring can flip only a
    // genuine near-tie; on the fixture they should agree (near-)everywhere
    val agree = declared.count { case (id, l) => op(id) == l }
    assert(agree >= math.ceil(declared.size * 0.98),
      s"operator/certification assignment divergence: $agree/${declared.size}")
  }

  test("stripMarkup: block elements dropped, tags spaced, entities decoded " +
    "once, whitespace collapsed") {
    def strip(s: String): String =
      Seq(Tuple1(s)).toDF("text")
        .select(TextFunctions.stripMarkup($"text")).head().getString(0)
    // script/style content vanishes; tag boundaries become spaces, not welds
    assert(strip("<p>a</p><script>var x = '<b>not text</b>';</script>b<br>c") ==
      "a b c")
    assert(strip("x<STYLE media=\"all\">.c{..}</STYLE\n>y") == "x y")
    // entity decode is single-pass and &amp; is last: the author's literal
    // "&lt;" survives as text, never re-decoded into a tag
    assert(strip("A &amp;lt; B &amp; C &lt;i&gt; &quot;q&quot; &#39;s&#39;&nbsp;.") ==
      "A &lt; B & C <i> \"q\" 's' .")
    // unknown entities pass through; a `>`-free comment strips as a
    // pseudo-tag (heuristic, not a parser)
    assert(strip("keep &copy; and <!-- note --> text") == "keep &copy; and text")
    // whitespace runs (incl. tabs/newlines) collapse; ends trimmed
    assert(strip("  a\t\t b\n\n<p>\n</p> c  ") == "a b c")
  }

  test("noveltyStats: first doc owns its shingles, an exact recrawl scores " +
    "0, partial overlap scores the un-seen fraction, short docs are NULL") {
    val d = Seq(
      (1L, "a b c d e"),        // 3 shingles, all first-seen here
      (2L, "a b c d e"),        // exact copy -> novelty 0
      (3L, "c d e f g"),        // shares "c d e"; "d e f","e f g" novel
      (4L, "x y"))              // < 3 tokens -> no shingles
      .toDF("doc_id", "text")
    val got = Dedup.noveltyStats(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getDouble(3))))).toMap
    assert(got(1L) == ((3, 3L, Some(1.0))))
    assert(got(2L) == ((3, 0L, Some(0.0))))
    assert(got(3L) == ((3, 2L, Some(2.0 / 3.0))))
    assert(got(4L) == ((0, 0L, None)))
  }

  test("canonicalizeUrl applies each rule and none it shouldn't") {
    def canon(u: String): String =
      Seq(u).toDF("u").select(TextFunctions.canonicalizeUrl($"u"))
        .head().getString(0)
    // case, www, default port, dup/trailing slashes, tracking params,
    // param sort, empty param, fragment — all in one URL
    assert(canon("HTTPS://WWW.Ex.COM:443/A//b/?b=2&utm_source=n&a=1&&fbclid=z#f")
      == "https://ex.com/A/b?a=1&b=2")
    // non-default port is meaning-bearing and survives; :80 is only
    // default for http, not https
    assert(canon("http://ex.com:8080/x") == "http://ex.com:8080/x")
    assert(canon("https://ex.com:80/x") == "https://ex.com:80/x")
    assert(canon("http://ex.com:80/x") == "http://ex.com/x")
    // empty path -> '/', empty query drops its '?', path case preserved
    assert(canon("http://Ex.com") == "http://ex.com/")
    assert(canon("http://ex.com/Path?") == "http://ex.com/Path")
    // ref is a tracking key; pref is not (anchored class)
    assert(canon("http://ex.com/?ref=x&pref=y") == "http://ex.com/?pref=y")
  }

  test("decontaminate flags exactly the docs sharing a 3-gram with the " +
    "benchmark, with distinct-shingle hit counts") {
    val docs = Seq(
      (1L, "alpha beta gamma delta"), // shares "alpha beta gamma" + "beta gamma delta"
      (2L, "epsilon zeta eta"),       // clean
      (3L, "x y alpha beta gamma"),   // shares one benchmark 3-gram
      (4L, "beta gamma beta gamma beta")) // 3-grams not in benchmark
      .toDF("doc_id", "text")
    val bench = Seq((10L, "alpha beta gamma delta end")).toDF("bid", "btext")
    val got = Dedup.decontaminate(docs, "doc_id", "text", bench, "btext")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(got == Map(
      1L -> ((2L, true)), 2L -> ((0L, false)),
      3L -> ((1L, true)), 4L -> ((0L, false))), got.toString)
  }

  test("decontaminateBloom is bit-identical to decontaminate even under a " +
    "deliberately undersized Bloom filter (false positives exact-confirmed " +
    "away), and the plan probes might_contain without broadcasting the " +
    "confirm join") {
    // a wider fixture than the exact-decontaminate one so an undersized
    // bitmap actually collides: 40 corpus docs with distinct vocab, a
    // benchmark sharing 3-grams with a handful of them
    val docs = (1L to 40L).map { i =>
      (i, s"w${i}a w${i}b w${i}c w${i}d w${i}e")
    }.toDF("doc_id", "text")
    val bench = Seq(
      (100000L, "w3a w3b w3c w3d zzz"),  // doc 3 shares two 3-grams
      (100001L, "w7c w7d w7e tail"))     // doc 7 shares one
      .toDF("bid", "btext")
    val exact = Dedup.decontaminate(docs, "doc_id", "text", bench, "btext")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    // 2 bits/key over ~14 bench shingles: the probe WILL fire spuriously on
    // clean corpus shingles; equality below proves the confirm join is load-
    // bearing, not decorative
    val bloomed = Dedup.decontaminateBloom(docs, "doc_id", "text",
      bench, "btext", bitsPerKeyOverride = Some(2L))
    assert(bloomed.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet == exact)
    val plan = bloomed.queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"),
      "Bloom probe missing from the physical plan")
    assert(plan.contains("ShuffledHashJoin"),
      "confirm join should be shuffle-hash (bench side presumed " +
        s"unbroadcastable at scale): $plan")
  }

  test("bigramScore matches the hand-computed add-one bigram model and " +
    "reuses the bigram exchange between count agg and join") {
    // corpus: unigrams a=4 b=3, V=2; bigrams "a b"=2, "b a"=2
    val lmDocs = Seq(
      (1L, "a b a"), // bigrams: "a b", "b a"
      (2L, "a"),     // no bigrams -> NULL score, 0 count
      (3L, "b a b")) // bigrams: "b a", "a b"
      .toDF("doc_id", "text")
    val df = Lm.bigramScore(lmDocs, "doc_id", "text")
    val got = df.collect()
      .map(r => r.getLong(0) ->
        ((r.getInt(1), if (r.isNullAt(2)) None else Some(r.getDouble(2)))))
      .toMap
    def snap(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    // "a b": ln((2+1)/(4+2)); "b a": ln((2+1)/(3+2)); both docs average the
    // same two terms
    val exp = snap((math.log(3.0 / 6.0) + math.log(3.0 / 5.0)) / 2.0)
    assert(got == Map(
      1L -> ((2, Some(exp))), 2L -> ((0, None)), 3L -> ((2, Some(exp)))),
      got.toString)

    // the explicit repartition on the bigram key must be shared by the
    // count aggregation and the join back (one exchange, not two runs of
    // the explode) — the dupSpanStats ReusedExchange contract. At toy scale
    // AQE broadcasts the count side (which re-executes the tiny explode —
    // fine there); disable broadcast to assert the AT-SCALE shape, where the
    // count relation is corpus-sized and the join must sit on the shared
    // hashpartitioning.
    val thresholdKey = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(thresholdKey)
    try {
      spark.conf.set(thresholdKey, "-1")
      val df2 = Lm.bigramScore(lmDocs, "doc_id", "text")
      df2.collect()
      val p = df2.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan.toString
        case other => other.toString
      }
      assert(p.contains("ReusedExchange") || p.contains("TableCacheQueryStage"),
        s"expected the bigram exchange to be reused:\n$p")
    } finally spark.conf.set(thresholdKey, prev)
  }

  test("pageRank: hub outranks spokes, symmetry ties, isolated floor, " +
    "repartition-invariant") {
    // star 1-{2,3,4} plus isolated 5; undirected = both directions
    val edges1 = Seq((1L, 2L), (1L, 3L), (1L, 4L))
    val und = (edges1 ++ edges1.map(_.swap)).toDF("src", "dst")
    val nodes = Seq(1L, 2L, 3L, 4L, 5L).toDF("id")
    val pr = Components.pageRank(nodes, "id", und, "src", "dst", iters = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(pr.size == 5)
    // hub collects from three spokes; spokes only from the hub's split
    assert(pr(1L) > pr(2L), pr.toString)
    // symmetric spokes must tie EXACTLY (snapped per iteration)
    assert(pr(2L) == pr(3L) && pr(3L) == pr(4L), pr.toString)
    // the isolated node compounds only the teleport floor:
    // r1 = 0.15/5, r2 = r3 = 0.15/5 (no in-edges ever)
    assert(math.abs(pr(5L) - 0.03) < 1e-9, pr.toString)
    // spokes strictly above the isolated floor (they do receive mass)
    assert(pr(2L) > pr(5L), pr.toString)

    // bit-identical under a different input partitioning (snap + seedless
    // discipline): same map, not merely close
    val pr2 = Components.pageRank(nodes.repartition(7), "id",
        und.repartition(5), "src", "dst", iters = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(pr2 == pr, s"$pr2 vs $pr")
  }

  test("globalRowNumber equals the one-partition window and survives " +
    "repartitioning, ties broken by the unique key") {
    import org.apache.spark.sql.expressions.Window
    // duplicate values force the tiebreak column to carry the total order
    val df = Seq((5L, 30), (1L, 10), (3L, 20), (2L, 10), (4L, 20), (6L, 30))
      .toDF("id", "v")
    val want = df.withColumn("rn",
        row_number().over(Window.orderBy($"v", $"id")).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap

    val got = Rank.globalRowNumber(df, Seq("v", "id"))
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(got == want, s"$got vs $want")

    val got2 = Rank.globalRowNumber(df.repartition(5), Seq("v", "id"))
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(got2 == want, s"$got2 vs $want")

    // the scalable shape (r17 — offsets-arithmetic spelling): the DATA
    // never funnels through a one-partition window. The only Window node
    // allowed in the plan is the offset cumulation over the
    // partition-COUNT-sized counts relation (it must reference __grn_cnt,
    // the per-partition count — never a data column), offsets ship back as
    // a broadcast join, and the sorted relation reads from its one
    // localCheckpoint materialization (an ExistingRDD scan), so the range
    // sort runs once, not once per consumer.
    val big = spark.range(0, 1000).toDF("id").withColumn("v", $"id" % 97)
    val ranked = Rank.globalRowNumber(big, Seq("v", "id"))
    val planStr = ranked.queryExecution.executedPlan.toString
    val windowLines = planStr.linesIterator.filter(_.contains("Window")).toSeq
    assert(windowLines.nonEmpty && windowLines.forall(_.contains("__grn_cnt")),
      planStr)
    assert(planStr.toLowerCase.contains("broadcast"), planStr)
    assert(planStr.contains("ExistingRDD"), planStr)
    val rows = ranked.orderBy("rn").collect()
    assert(rows.length == 1000 && rows.head.getLong(2) == 1L &&
      rows.last.getLong(2) == 1000L)
  }

  test("TRIPWIRE monotonically_increasing_id layout: (partitionId << 33) + " +
    "rowIndex, the encoding globalRowNumber decodes") {
    // Rank.globalRowNumber reads the partition id as mid >>> 33 and the
    // row index as the low 33 bits. A Spark upgrade that changes the layout
    // fails here instead of yielding silently wrong ordinals. spark.range
    // splits 30 ids evenly, so partition p holds ids 10p..10p+9 in order.
    val rows = spark.range(0, 30, 1, 3)
      .select($"id", spark_partition_id().as("pid"),
        monotonically_increasing_id().as("mid"))
      .as[(Long, Int, Long)].collect()
    assert(rows.map(_._2).distinct.sorted.toSeq == Seq(0, 1, 2))
    rows.foreach { case (id, pid, mid) =>
      assert(mid == (pid.toLong << 33) + (id - 10L * pid),
        s"id=$id pid=$pid mid=$mid")
    }
  }
}
