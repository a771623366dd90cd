package graft.queries

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Behavioral gate for q_dedup_canonical_containment (VERDICT r10 #7):
  * a constructed partial-duplication fixture — an excerpt quoted whole
  * inside a much longer page — where symmetric Jaccard sits UNDER the 0.3
  * dedup floor but containment is ~1.0, so the Jaccard-only
  * canonicalization keeps both copies and the containment-aware one drops
  * the excerpt. The driver's oracle gate proves cross-engine agreement on
  * real testdata; this proves the added edge class actually changes the
  * keep decision in the shape it exists for (the synthetic testdata
  * contains zero asymmetric-containment pairs at any threshold ≥ 0.5 —
  * measured in SCALE.md — so only a constructed fixture can exercise the
  * merge).
  */
class ContainmentCanonSpec extends SparkSpec {

  import spark.implicits._

  private def fixture(rows: Seq[(Long, String)]): String = {
    val dir = SparkSpec.tempDir("graft_contain_").toString
    rows.toDF("doc_id", "text")
      .select($"doc_id", $"text", lit("en").as("lang"),
        lit("src0").as("source"), length($"text").cast("long").as("n_chars"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  // the long page: 120 distinct tokens of unique prose
  private val longPage: String =
    (0 until 120).map(i => s"tok${i}word").mkString(" ")
  // the excerpt: tokens 40..59 of the page, quoted WHOLE — every one of
  // its 18 shingles lives in the page (containment 1.0), but the page has
  // 118 shingles, so jaccard = 18/118 ≈ 0.153 < 0.3
  private val excerpt: String =
    (40 until 60).map(i => s"tok${i}word").mkString(" ")
  private val unrelated: String =
    (0 until 50).map(i => s"other${i}thing").mkString(" ")

  private def keeps(name: String, dir: String): Map[Long, Boolean] =
    SparkEntry.queries(name)(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getBoolean(4)).toMap

  private def comps(name: String, dir: String): Map[Long, Long] =
    SparkEntry.queries(name)(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("a whole-quoted excerpt merges into the page's cluster under the " +
    "containment edge class and gets dropped; jaccard-only keeps both") {
    val dir = fixture(Seq((1L, longPage), (2L, excerpt), (3L, unrelated)))

    val jacKeep = keeps("q_dedup_canonical", dir)
    val jacComp = comps("q_dedup_canonical", dir)
    // under the 0.3 Jaccard floor: page and excerpt stay separate
    // singletons, every doc is its own representative
    assert(jacComp(1L) != jacComp(2L),
      "fixture broken: jaccard-only already merged page and excerpt")
    assert(jacKeep === Map(1L -> true, 2L -> true, 3L -> true))

    val conKeep = keeps("q_dedup_canonical_containment", dir)
    val conComp = comps("q_dedup_canonical_containment", dir)
    // containment ≈ 1.0 ≥ 0.8 merges them; exactly one survives
    assert(conComp(1L) === conComp(2L),
      "containment edge failed to merge the quoted excerpt into the page")
    assert(conComp(3L) !== conComp(1L), "unrelated doc got pulled in")
    assert(Seq(conKeep(1L), conKeep(2L)).count(identity) === 1,
      "exactly one of (page, excerpt) must remain canonical")
    assert(conKeep(3L), "the unrelated singleton must keep itself")
    // the measured incremental catch on this fixture: one extra drop
    assert(jacKeep.values.count(!_) + 1 === conKeep.values.count(!_))
  }

  test("a sub-threshold partial overlap (casual quote) does NOT merge: " +
    "the 0.8 floor keeps ordinary citation out of the cluster graph") {
    // excerpt shares only 10 of its 20 tokens with the page -> about half
    // its shingles -> containment ~0.47 < 0.8, jaccard far below 0.3
    val casual = ((40 until 50).map(i => s"tok${i}word") ++
      (0 until 10).map(i => s"quote${i}own")).mkString(" ")
    val dir = fixture(Seq((1L, longPage), (2L, casual), (3L, unrelated)))
    val conComp = comps("q_dedup_canonical_containment", dir)
    assert(conComp(1L) != conComp(2L),
      "casual partial overlap must stay below the containment floor")
  }
}
