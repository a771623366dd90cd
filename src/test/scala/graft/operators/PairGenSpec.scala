package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The r17 self-join spelling of [[PairGen.groupPairs]] must emit the SAME
  * pair multiset as the collect-and-sort spelling it replaced
  * ([[PairGenTruth.groupPairsCollect]]), given the call-site contract
  * (payloads distinct and non-NULL within a group): same (a, b) rows,
  * a < b, size-1 groups silent, oversized groups dropped whole — for scalar
  * AND struct payloads.
  *
  * Contract: `groupPairs` is specified only for payloads that are distinct
  * within a group; callers guarantee it and nothing enforces it. A
  * duplicated payload makes the two spellings diverge: the collect spelling
  * pairs the copies with each other, an `(x, x)` row, and `groupPairs`'
  * strict `<` never does. The duplicate-payload case pins that divergence.
  */
class PairGenSpec extends SparkSpec {

  import spark.implicits._

  private def assertSamePairs(df: org.apache.spark.sql.DataFrame,
      keys: Seq[String], payload: org.apache.spark.sql.Column,
      maxGroup: Int): Unit = {
    val got = PairGen.groupPairs(df, keys, payload, maxGroup)
      .collect().map(_.toString).sorted
    val want = PairGenTruth.groupPairsCollect(df, keys, payload, maxGroup)
      .collect().map(_.toString).sorted
    assert(got.toSeq == want.toSeq,
      s"self-join pairs diverge from collect pairs:\n got=${got.mkString(",")}" +
        s"\nwant=${want.mkString(",")}")
  }

  test("scalar payload: pair set equals the collect spelling, cap enforced") {
    // group g1: 3 members -> 3 pairs; g2: 2 -> 1; g3: 1 -> none;
    // g4: 4 members with maxGroup=3 -> dropped whole
    val df = Seq(
      ("g1", 3L), ("g1", 1L), ("g1", 2L),
      ("g2", 9L), ("g2", 4L),
      ("g3", 7L),
      ("g4", 1L), ("g4", 2L), ("g4", 3L), ("g4", 4L)
    ).toDF("k", "id")
    assertSamePairs(df, Seq("k"), col("id"), maxGroup = 3)
    // sanity against hand truth, not just the old spelling
    val got = PairGen.groupPairs(df, Seq("k"), col("id"), 3)
      .as[(Long, Long)].collect().sorted
    assert(got.toSeq == Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 9L)))
  }

  test("struct payload and composite keys: equality incl. lexicographic order") {
    val df = Seq(
      (0, 10L, 5L, 100L), (0, 10L, 3L, 101L), (0, 10L, 3L, 99L),
      (1, 10L, 8L, 1L), (1, 10L, 7L, 2L),
      (0, 11L, 1L, 1L)
    ).toDF("band", "bucket", "doc_id", "n")
    assertSamePairs(df, Seq("band", "bucket"),
      struct(col("doc_id"), col("n")).as("dn"), maxGroup = 10)
  }

  test("duplicate payload in a group: only the collect spelling emits (x, x)") {
    val df = Seq(("g1", 1L), ("g1", 1L), ("g1", 2L)).toDF("k", "id")
    val got = PairGen.groupPairs(df, Seq("k"), col("id"), 10)
      .as[(Long, Long)].collect().sorted
    val want = PairGenTruth.groupPairsCollect(df, Seq("k"), col("id"), 10)
      .as[(Long, Long)].collect().sorted
    assert(got.toSeq == Seq((1L, 2L), (1L, 2L)), got.mkString(","))
    assert(want.toSeq == Seq((1L, 1L), (1L, 2L), (1L, 2L)), want.mkString(","))
  }

  test("multi-partition input: equality is partitioning-independent") {
    val df = (1 to 300).map(i => (s"g${i % 40}", i.toLong))
      .toDF("k", "id").repartition(13)
    assertSamePairs(df, Seq("k"), col("id"), maxGroup = 10)
  }
}
