package graft

import graft.functions.{TextFunctions, VectorNative, VectorTruth}
import graft.operators.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** ScalaCheck operator-algebra properties (SURVEY.md §5): invariants that
  * must hold for EVERY input, not just the fixtures — the class of bug the
  * example-based suites can't see. Generators are sampled with fixed seeds
  * (the scalatestplus forAll bridge isn't in the offline cache), so runs
  * are reproducible.
  */
class PropertySpec extends SparkSpec {

  /** Deterministically sample `n` values from `gen` (seeds 0..n-1). */
  private def samples[T](gen: Gen[T], n: Int = 8, size: Int = 30): Seq[T] =
    (0 until n).flatMap(i => gen(Gen.Parameters.default.withSize(size), Seed(i.toLong)))

  private val genRows: Gen[List[(Long, Double)]] =
    Gen.listOf(Gen.zip(Gen.chooseNum(0L, 50L), Gen.chooseNum(-100.0, 100.0)))

  private def kv(rows: List[(Long, Double)]): DataFrame = {
    import spark.implicits._
    rows.toDF("k", "v")
  }

  test("filter-pushdown invariance: filter∘project ≡ project∘filter; filters commute") {
    for (rows <- samples(genRows)) {
      val base = kv(rows)
      val a = base.select(col("k"), (col("v") * 2).as("w")).filter(col("k") > 10)
      val b = base.filter(col("k") > 10).select(col("k"), (col("v") * 2).as("w"))
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
      val f1 = base.filter(col("v") > 0).filter(col("k") % 2 === 0)
      val f2 = base.filter(col("k") % 2 === 0).filter(col("v") > 0)
      assert(f1.count() === f2.count())
    }
  }

  test("union-count additivity; grouped sums re-aggregate to the global sum") {
    val pairs = samples(Gen.zip(genRows, genRows))
    for ((xs, ys) <- pairs) {
      val (a, b) = (kv(xs), kv(ys))
      assert(a.unionByName(b).count() === a.count() + b.count())
      val g = a.groupBy("k").agg(sum("v").as("s")).agg(sum("s")).head()
      val d = a.agg(sum("v")).head()
      assert(g.isNullAt(0) === d.isNullAt(0))
      if (!g.isNullAt(0))
        assert(math.abs(g.getDouble(0) - d.getDouble(0)) <=
          1e-9 * (1 + math.abs(d.getDouble(0))))
    }
  }

  test("exact-dedup partitions the corpus: Σ n_copies = |docs|, keep_id ∈ its group") {
    val genDocs = Gen.listOf(Gen.oneOf("aa bb cc", "dd ee", "aa bb cc dd", "zz", ""))
    for (docs <- samples(genDocs)) {
      import spark.implicits._
      val d = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val g = Dedup.exactGroups(d, "doc_id", "text")
      val total = g.agg(sum("n_copies")).head()
      assert((if (total.isNullAt(0)) 0L else total.getLong(0)) === d.count())
      val bad = g.join(
        d.select(col("doc_id").as("keep_id"), md5(col("text")).as("h")), Seq("keep_id"))
        .filter(col("h") =!= col("text_hash"))
      assert(bad.count() === 0)
    }
  }

  test("cosine ∈ [-1,1] ∪ NULL and cos(v,v)=1 for nonzero v — HOF and native impls") {
    val genVec = Gen.listOfN(6, Gen.chooseNum(-10f, 10f))
    for (vecs <- samples(Gen.nonEmptyListOf(genVec), n = 6)) {
      import spark.implicits._
      val d = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v.toArray) }.toDF("id", "v")
      val pair = d.as("a").crossJoin(d.select(col("v").as("w")).as("b"))
      for (impl <- Seq[(org.apache.spark.sql.Column, org.apache.spark.sql.Column) => org.apache.spark.sql.Column](
          VectorTruth.cosine, VectorNative.cosine)) {
        val c = pair.select(impl(col("v"), col("w")).as("c"))
        assert(c.filter(col("c").isNotNull &&
          (col("c") < -1.0 - 1e-9 || col("c") > 1.0 + 1e-9)).count() === 0)
        val self = d.filter(VectorTruth.norm2(col("v")) > 0)
          .select(impl(col("v"), col("v")).as("c"))
        assert(self.filter(col("c").isNull || abs(col("c") - 1.0) > 1e-9).count() === 0)
      }
    }
  }

  test("identical documents always surface as an all-bands MinHash pair") {
    val genText = Gen.listOfN(6, Gen.oneOf("alpha", "beta", "gamma", "delta", "eps"))
      .map(_.mkString(" "))
    for (texts <- samples(Gen.listOfN(6, genText), n = 5)) {
      import spark.implicits._
      val d = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val pairs = Dedup.minhashPairs(d, "doc_id", "text", shingleN = 2, nPerms = 8, nBands = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      val dupGroups = texts.zipWithIndex.groupBy(_._1).values.filter(_.size > 1)
      for {
        grp <- dupGroups
        ids = grp.map(_._2.toLong).sorted
        Seq(i, j) <- ids.combinations(2)
      } assert(pairs.get((i, j)).contains(4L), s"identical docs ($i,$j) not an all-band pair")
    }
  }

  test("as-of join ≡ naive per-row most-recent lookup, for every generated input") {
    import spark.implicits._
    val genSide: Gen[List[(Long, Long)]] =
      Gen.listOf(Gen.zip(Gen.chooseNum(0L, 5L), Gen.chooseNum(0L, 40L)))
    for (((ls, rs0), i) <- samples(Gen.zip(genSide, genSide), n = 6).zipWithIndex) {
      // right side unique per (key, ts) — the operator's documented contract
      val rs = rs0.distinct
      if (ls.nonEmpty && rs.nonEmpty) {
        val left = ls.zipWithIndex
          .map { case ((k, t), id) => (k, t, id.toLong) }.toDF("k", "t", "lid")
        val right = rs.map { case (k, t) => (k, t, k * 1000 + t) }.toDF("k", "t", "pay")
        val got = graft.operators.AsOf
          .joinAsOf(left, right, "k", "t", Seq("pay"))
          .collect()
          .map(r => (r.getLong(r.fieldIndex("lid")),
            if (r.isNullAt(r.fieldIndex("pay"))) None
            else Some(r.getLong(r.fieldIndex("pay"))))).toMap
        // naive reference: scan the whole right side per left row
        ls.zipWithIndex.foreach { case ((k, t), id) =>
          val expect = rs.filter(r => r._1 == k && r._2 <= t)
            .sortBy(_._2).lastOption.map { case (rk, rt) => rk * 1000 + rt }
          assert(got(id.toLong) == expect,
            s"sample $i: left ($k,$t) expected $expect got ${got(id.toLong)}")
        }
      }
    }
  }

  test("chunking is lossless: chunks reassemble to the exact term stream") {
    // the training-data contract behind q_chunk_docs: concatenating a doc's
    // chunks in chunk_id order must reproduce its full term stream — no
    // dropped tail, no overlap, no reordering — for EVERY doc shape
    // (empty, shorter than one chunk, exact multiple, ragged tail) and
    // EVERY chunk size
    import spark.implicits._
    val genText = Gen.listOf(Gen.oneOf("ab", "cd", "ef", "gh", "x1", "9z"))
      .map(_.mkString(" "))
    for {
      texts <- samples(Gen.listOf(genText), n = 4)
      cs <- Seq(1, 3, 32)
    } {
      val d = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val reassembled = graft.operators.Corpus.chunk(d, "doc_id", "text", cs)
        .groupBy("doc_id")
        .agg(concat_ws(" ",
          array_sort(collect_list(struct(col("chunk_id"), col("chunk_text"))))
            .getField("chunk_text")).as("joined"),
          sum(col("n_tokens")).as("total_tokens"))
      val expected = d.select(col("doc_id"),
        array_join(TextFunctions.termsAlnum(col("text")), " ").as("stream"),
        size(TextFunctions.termsAlnum(col("text"))).as("n_terms"))
      val bad = expected.join(reassembled, Seq("doc_id"), "left")
        .where(
          // zero-term docs must emit NO chunks; all others reassemble exactly
          when(col("n_terms") === 0, col("joined").isNotNull)
            .otherwise(col("joined") =!= col("stream") ||
              col("total_tokens") =!= col("n_terms")))
      assert(bad.count() === 0, s"chunking not lossless at chunkSize=$cs")
    }
  }

  test("CDC chunking is lossless AND edit-robust where fixed chunking is " +
    "fragile: one inserted token invalidates O(1) CDC chunks but O(n/size) " +
    "fixed chunks") {
    import spark.implicits._
    // a long pseudo-random (deterministic) token stream; insert one token
    // near the front and compare surviving chunk text multisets
    val toks = (0 until 400).map(i =>
      "tok" + ((i * 2654435761L) % 9973)).toList
    val edited = toks.take(7) ::: List("inserted") ::: toks.drop(7)
    val d = Seq((1L, toks.mkString(" ")), (2L, edited.mkString(" ")))
      .toDF("doc_id", "text")

    def chunkTexts(df: org.apache.spark.sql.DataFrame, id: Long): Seq[String] =
      df.where(col("doc_id") === id).select(col("chunk_text"))
        .collect().map(_.getString(0)).toSeq

    val cdc = graft.operators.Corpus.cdcChunks(d, "doc_id", "text",
      window = 3, divisor = 8)
    // lossless: chunks reassemble the term stream for both docs
    val reassembled = cdc.groupBy(col("doc_id"))
      .agg(concat_ws(" ",
        array_sort(collect_list(struct(col("chunk_id"), col("chunk_text"))))
          .getField("chunk_text")).as("joined"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(reassembled(1L) == toks.mkString(" "))
    assert(reassembled(2L) == edited.mkString(" "))

    def changed(texts: (Seq[String], Seq[String])): Int = {
      val (a, b) = texts
      val common = a.groupBy(identity).map { case (t, g) =>
        t -> math.min(g.size, b.count(_ == t)) }.values.sum
      math.max(a.size, b.size) - common
    }
    val cdcChanged = changed((chunkTexts(cdc, 1L), chunkTexts(cdc, 2L)))
    val fixed = graft.operators.Corpus.chunk(d, "doc_id", "text", chunkSize = 8)
    val fixedChanged = changed((chunkTexts(fixed, 1L), chunkTexts(fixed, 2L)))
    // CDC: only chunks overlapping the edit window differ — a handful.
    // Fixed: every chunk from the insertion point on shifts — ~50 of them.
    assert(cdcChanged <= 4, s"CDC changed $cdcChanged chunks")
    assert(fixedChanged >= 40, s"fixed chunking changed only $fixedChanged")
    assert(cdcChanged * 10 < fixedChanged,
      s"CDC ($cdcChanged) not an order of magnitude more edit-robust " +
        s"than fixed ($fixedChanged)")
  }

  test("overlapping chunks: ceil(n/stride) windows, full coverage, shared context") {
    import spark.implicits._
    val genText = Gen.listOf(Gen.oneOf("ab", "cd", "ef", "gh", "x1", "9z"))
      .map(_.mkString(" "))
    for {
      texts <- samples(Gen.listOf(genText), n = 4)
      (cs, st) <- Seq((4, 2), (5, 3), (8, 1))
    } {
      val d = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val chunks = graft.operators.Corpus.chunk(d, "doc_id", "text", cs, st)
      val perDoc = chunks.groupBy("doc_id").agg(
        count(lit(1)).as("n_chunks"),
        sum(col("n_tokens")).as("tok_sum"),
        max(col("chunk_id")).as("max_id"))
      val terms = d.select(col("doc_id"),
        size(TextFunctions.termsAlnum(col("text"))).as("n"))
      // exactly ceil(n/stride) dense-numbered windows per non-empty doc, and
      // token coverage: Σ n_tokens counts each token once per containing
      // window = n + (windows−1)·overlap − trailing shortfall ≥ n
      val bad = terms.where(col("n") > 0).join(perDoc, Seq("doc_id"), "left")
        .where(col("n_chunks").isNull ||
          col("n_chunks") =!= ceil(col("n") / st.toDouble).cast("long") ||
          col("max_id") =!= col("n_chunks") - 1 ||
          col("tok_sum") < col("n"))
      assert(bad.count() === 0, s"overlap algebra broken at cs=$cs st=$st")
      // consecutive windows share exactly (cs − st) tokens while both full:
      // spot-check via the reconstructed slices on one long doc
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy("chunk_id")
      val overlapBad = chunks
        .withColumn("next_text", lead(col("chunk_text"), 1).over(w))
        .where(col("next_text").isNotNull && col("n_tokens") === cs)
        .where(!col("next_text").startsWith(
          // the next window begins st tokens into this one
          array_join(slice(split(col("chunk_text"), " "), st + 1, cs - st), " ")))
      assert(overlapBad.count() === 0, s"context overlap broken at cs=$cs st=$st")
    }
  }

  test("tokens/shingles algebra: |shingles| = max(0, |tokens| - n + 1)") {
    val genText = Gen.listOf(Gen.oneOf("ab", "cd", "ef", "gh")).map(_.mkString(" "))
    for {
      texts <- samples(Gen.listOf(genText), n = 4)
      n <- 1 to 4
    } {
      import spark.implicits._
      val d = texts.toDF("text")
      val bad = d.select(
        size(TextFunctions.tokens(col("text"))).as("nt"),
        size(TextFunctions.shingles(col("text"), n)).as("ns"))
        .filter(col("ns") =!= greatest(col("nt") - (n - 1), lit(0)))
      assert(bad.count() === 0, s"shingle-count algebra broken at n=$n")
    }
  }

  test("information-theory invariants on the declared fixture: 0 ≤ H ≤ " +
    "ln(distinct), KL ≥ 0, PSI ≥ 0, χ² ≥ 0 with V ∈ [0,1], 3·triangles " +
    "≤ wedges") {
    val dir = "/root/testdata/sf0.001"
    // entropy: bounded by the uniform-distribution maximum per doc
    val ent = SparkEntry.queries("q_token_entropy")(spark, dir).collect()
    assert(ent.nonEmpty)
    ent.foreach { r =>
      if (!r.isNullAt(3)) {
        val h = r.getDouble(3); val nd = r.getInt(2)
        assert(h >= -1e-9 && h <= math.log(math.max(nd, 1).toDouble) + 1e-6,
          s"H=$h out of [0, ln($nd)]")
      }
    }
    // Gibbs: KL of any source against the blend is non-negative
    SparkEntry.queries("q_source_divergence")(spark, dir).collect()
      .foreach(r => assert(r.getDouble(2) >= -1e-6, r.toString))
    // PSI: each (p−q)·ln(p/q) term is non-negative, so the total is
    SparkEntry.queries("q_drift_psi")(spark, dir).collect()
      .foreach(r => assert(r.getDouble(4) >= -1e-6, r.toString))
    // chi-square and its effect size
    val chi = SparkEntry.queries("q_chi2_independence")(spark, dir).head()
    assert(chi.getDouble(5) >= 0.0, chi.toString)
    assert(chi.getDouble(6) >= 0.0 && chi.getDouble(6) <= 1.0 + 1e-9,
      chi.toString)
    // every triangle closes three wedges: clustering coefficient ≤ 1
    val tri = SparkEntry.queries("q_triangles")(spark, dir).head()
    assert(3 * tri.getLong(0) <= tri.getLong(1) || tri.getLong(1) == 0,
      tri.toString)
  }
}
