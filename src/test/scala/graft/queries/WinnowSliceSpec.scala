package graft.queries

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.functions._

/** Over-threshold gate for the r14 replay-bound-oracle slice
  * (q_fingerprint_winnow / q_dedup_winnow / q_bpe_fallback — the three
  * queries the first FULL sf10 crosscheck timed out at 500k docs): above
  * `maxFullPackDocs` BASE docs both engines certify the
  * `doc_id % ceil(n/5000)` slice. Every tested-SF corpus sits at/under
  * the threshold, so this spec builds a 6000-doc corpus (modulus 2) and
  * proves the branch that production scales actually hit:
  *
  *   - the slice FIRES (only modulus-surviving docs in every output) and
  *     is NON-degenerate — the designed winnow pair mass survives (the
  *     media-slice lesson: a slice that zeroes the pair structure
  *     certifies nothing);
  *   - the oracle guard SQL is VALUE-equivalent to the Spark-side slice —
  *     the guard's own WHERE clause, executed by Spark SQL over the same
  *     corpus, selects exactly the surviving id set (ceil-division +
  *     modulus arithmetic cannot silently diverge between the spellings);
  *   - all three committed oracle strings carry the guard;
  *   - q_bpe_fallback's synthetic mixed-content row (doc -1) survives the
  *     slice unconditionally, so the byte-fallback branch stays live at
  *     every scale.
  */
class WinnowSliceSpec extends SparkSpec {

  import spark.implicits._

  // 6000 docs → ceil(6000/5000) = 2 → survivors are the EVEN ids. Winnow
  // pairs are designed between ids 4g and 4g+2 (both even → the pair
  // structure survives the slice); odd ids are unique filler.
  private lazy val corpusDir: String = {
    val dir = SparkSpec.tempDir("graft_winnow_slice_").toString
    val docs = (0L until 6000L).map { id =>
      val text =
        if (id % 4 == 0 || id % 4 == 2)
          s"shared passage number ${id / 4} with enough repeated words to " +
            s"winnow fingerprints reliably across both members tail$id"
        else
          s"unique filler document $id with its own words w${id}a w${id}b " +
            s"w${id}c and nothing shared beyond stopwords"
      (id, text, "en", "spec", text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.repartition(4).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    dir
  }

  test("over threshold, the slice fires on all three queries and keeps " +
    "the designed pair mass (non-degenerate certification)") {
    val fps = SparkEntry.queries("q_fingerprint_winnow")(spark, corpusDir)
    val fpIds = fps.select("doc_id").distinct().as[Long].collect()
    assert(fpIds.nonEmpty && fpIds.forall(_ % 2 == 0),
      "fingerprint output must contain exactly modulus-surviving docs")

    val pairs = SparkEntry.queries("q_dedup_winnow")(spark, corpusDir)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
    assert(pairs.nonEmpty,
      "slice degenerated the winnow pair family to zero pairs")
    assert(pairs.forall { case (a, b) => a % 2 == 0 && b % 2 == 0 })
    // the DESIGNED pairs (4g, 4g+2) are among the survivors
    assert(pairs.exists { case (a, b) => b - a == 2 && a % 4 == 0 },
      "designed shared-passage pairs lost by the slice")

    val bpe = SparkEntry.queries("q_bpe_fallback")(spark, corpusDir)
    val bpeIds = bpe.select("doc_id").as[Long].collect()
    assert(bpeIds.contains(-1L),
      "the synthetic mixed-content row must survive the slice")
    assert(bpeIds.filter(_ >= 0).forall(_ % 2 == 0))
  }

  test("the oracle guard's WHERE clause is value-equivalent to the Spark " +
    "slice, and all three oracle strings carry it") {
    spark.read.parquet(s"$corpusDir/documents.parquet")
      .createOrReplaceTempView("documents")
    try {
      val sqlIds = spark.sql(
        s"SELECT doc_id FROM documents ${ExtQueries.docReplayGuardSql}")
        .as[Long].collect().toSet
      assert(sqlIds === (0L until 6000L by 2).toSet,
        "guard SQL selects a different id set than the Spark-side modulus")
    } finally spark.catalog.dropTempView("documents")
    for (q <- Seq("q_fingerprint_winnow", "q_dedup_winnow", "q_bpe_fallback",
        "q_scrub_spans")) {
      assert(SparkEntry.oracleSql(q)
        .contains("doc_id % (SELECT CAST(ceil(count(*)"),
        s"$q oracle lost the replay guard")
    }
  }

  test("q_scrub_spans joins the guard family (r15, the sf30 oracle memory " +
    "wall): over threshold the slice fires AND keeps nonzero scrub mass") {
    val out = SparkEntry.queries("q_scrub_spans")(spark, corpusDir)
      .select("doc_id", "n_removed").as[(Long, Long)].collect()
    assert(out.nonEmpty && out.forall(_._1 % 2 == 0),
      "scrub output must contain exactly modulus-surviving docs")
    // the designed shared passages (ids 4g and 4g+2, both even) duplicate
    // 8-grams INSIDE the slice — a slice that zeroed the dup-span mass
    // would certify nothing (the media-slice lesson)
    assert(out.exists(_._2 > 0),
      "slice degenerated the dup-span mass to zero removed tokens")
    // and docs keep their full token accounting (per-doc semantics intact)
    assert(out.length === 3000, "slice size must be the surviving id set")
  }

  test("at or under the threshold the slice is the identity (committed " +
    "hashes unchanged at every tested SF)") {
    val dir = "/root/testdata/sf0.01"
    val viaQuery = SparkEntry.queries("q_dedup_winnow")(spark, dir)
    val direct = graft.operators.Dedup.winnowPairs(
      graft.Tables.load(spark, dir, "documents"), "doc_id", "text")
    assert(viaQuery.exceptAll(direct).isEmpty &&
      direct.exceptAll(viaQuery).isEmpty,
      "under-threshold slice must be a no-op")
  }
}
