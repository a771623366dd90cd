package graft.functions

import graft.SparkSpec
import graft.functions.expr.Winnow
import graft.operators.Dedup
import org.apache.spark.sql.functions._

/** Winnowing fingerprints: the native O(n) implementation must match a
  * naive quadratic reference, and deliver the algorithm's guarantees
  * (shared-substring detection, edit locality).
  */
class WinnowSpec extends SparkSpec {

  /** Naive reference: hash every k-gram directly, take the rightmost min of
    * every w-window, dedupe consecutive positions.
    */
  private def naive(s: String, k: Int, w: Int): Seq[Long] = {
    val bytes = s.getBytes("UTF-8")
    if (bytes.length < k) return Seq.empty
    val hashes = bytes.sliding(k).map { gram =>
      gram.foldLeft(0L)((h, b) => h * 257L + (b & 0xffL))
    }.toArray
    if (hashes.length <= w) {
      var best = 0
      for (i <- hashes.indices) if (hashes(i) <= hashes(best)) best = i
      return Seq(hashes(best))
    }
    val sel = (0 to hashes.length - w).map { j =>
      val win = hashes.slice(j, j + w)
      val min = win.min
      j + win.lastIndexOf(min)   // rightmost min position
    }
    sel.distinct.map(hashes)
  }

  private val texts = Seq(
    "the quick brown fox jumps over the lazy dog",
    "abcdefgh",        // exactly k chars -> 1 gram
    "abcdefg",         // k-1 chars -> empty
    "aaaaaaaaaaaaaaaa", // degenerate: all k-grams identical
    "x",
    "",
    "some document with repeated repeated repeated phrases in it")

  test("native winnow == naive reference on varied inputs (k=8, w=4)") {
    for (t <- texts) {
      assert(Winnow.compute(t.getBytes("UTF-8"), 8, 4).toSeq === naive(t, 8, 4),
        s"mismatch on: '$t'")
    }
  }

  test("property: shared substring of length >= w+k-1 shares a fingerprint") {
    val core = "this exact shared passage is long enough"
    val a = "prefix one " + core + " suffix alpha"
    val b = "a totally different start " + core + " and another ending"
    val fa = Winnow.compute(a.getBytes, 8, 4).toSet
    val fb = Winnow.compute(b.getBytes, 8, 4).toSet
    assert((fa & fb).nonEmpty, "guaranteed shared fingerprint missing")
    // and two unrelated strings share nothing
    val fc = Winnow.compute("completely unrelated content here".getBytes, 8, 4).toSet
    assert((fa & fc).isEmpty)
  }

  test("edit locality: a point edit preserves most fingerprints") {
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val edited = base.replace("fox", "cat")
    val fb = Winnow.compute(base.getBytes, 8, 4).toSet
    val fe = Winnow.compute(edited.getBytes, 8, 4).toSet
    val overlap = (fb & fe).size.toDouble / fb.size
    assert(overlap > 0.5, f"only $overlap%.2f of fingerprints survived a 3-char edit")
  }

  test("column + SQL surfaces agree with the direct computation") {
    import spark.implicits._
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    df.createOrReplaceTempView("winnow_docs")
    val viaCol = df.select($"id", TextFunctions.winnowFingerprints($"text", 8, 4).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val viaSql = spark.sql(
      "SELECT id, graft_winnow(regexp_replace(lower(text), '\\\\s+', ' '), 8, 4) AS fp FROM winnow_docs")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(viaCol === viaSql)
    // normalization applied: case/whitespace edits don't change fingerprints
    val norm = Seq((0L, "The  Quick   Brown fox jumps over the lazy dog"))
      .toDF("id", "text")
      .select(TextFunctions.winnowFingerprints($"text", 8, 4)).head().getSeq[Long](0)
    assert(norm === viaCol(0L))
  }

  test("winnowPairs finds substring-level near-dups") {
    import spark.implicits._
    val core = "shared boilerplate paragraph that appears in both documents verbatim"
    val docs = Seq(
      (0L, "unique intro. " + core),
      (1L, core + " plus a different tail entirely"),
      (2L, "nothing in common with the others at all, fully distinct text"))
      .toDF("doc_id", "text")
    val pairs = Dedup.winnowPairs(docs, "doc_id", "text", maxDf = 10, minShared = 2)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((0L, 1L)))
  }
}
