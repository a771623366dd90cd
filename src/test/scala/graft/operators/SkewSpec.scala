package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew utilities must be OUTPUT-EQUIVALENT to their unsalted forms — that
  * is the whole contract: same rows, different shuffle distribution.
  */
class SkewSpec extends SparkSpec {

  /** 90% of rows share one hot key, the rest spread over 50 keys. */
  private def big: DataFrame = {
    import spark.implicits._
    (0L until 2000L).map { i =>
      val k = if (i % 10 != 0) 7L else i % 50
      (k, i, i.toDouble / 3.0)
    }.toDF("k", "row_id", "v")
  }

  private def small: DataFrame = {
    import spark.implicits._
    (0L until 50L).map(k => (k, s"name_$k")).toDF("k", "name")
  }

  private def assertSameRows(a: DataFrame, b: DataFrame): Unit = {
    assert(a.exceptAll(b).isEmpty, "extra rows in salted result")
    assert(b.exceptAll(a).isEmpty, "missing rows in salted result")
  }

  test("saltedJoin(inner) == plain inner join") {
    val plain = big.join(small, Seq("k"))
    val salted = Skew.saltedJoin(big, small, Seq("k"), nSalts = 8)
    assertSameRows(salted, plain)
  }

  test("saltedJoin(left) == plain left join incl. unmatched big rows") {
    val smallMissingHot = small.filter(col("k") =!= 7L)
    val plain = big.join(smallMissingHot, Seq("k"), "left")
    val salted = Skew.saltedJoin(big, smallMissingHot, Seq("k"), nSalts = 8, "left")
    assertSameRows(salted, plain)
    // the hot key survives with a null name
    assert(salted.filter(col("k") === 7L && col("name").isNull).count() ===
      big.filter(col("k") === 7L).count())
  }

  test("nSalts = 1 degenerates to the plain join exactly") {
    val plain = big.join(small, Seq("k"))
    assertSameRows(Skew.saltedJoin(big, small, Seq("k"), nSalts = 1), plain)
  }

  test("hybridJoin(inner/left) == plain join, with a broadcast branch AND " +
    "a shuffle branch in the plan") {
    import spark.implicits._
    // threshold 100: key 7 (1800 rows) is hot; the 50 cold keys are not
    val plainInner = big.join(small, Seq("k"))
    val hybridInner = Skew.hybridJoin(big,
      small.hint("shuffle_hash"), Seq("k"), hotThreshold = 100L)
    assertSameRows(hybridInner, plainInner)
    val plan = hybridInner.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"hot path should broadcast:\n$plan")
    assert(plan.contains("ShuffledHashJoin") || plan.contains("SortMergeJoin"),
      s"cold path should shuffle:\n$plan")

    // left join: unmatched big rows (keys absent from small) survive on
    // the cold path with NULL payload
    val bigExtra = big.union(Seq((99L, 9999L, 0.0)).toDF("k", "row_id", "v"))
    assertSameRows(
      Skew.hybridJoin(bigExtra, small, Seq("k"), 100L, joinType = "left"),
      bigExtra.join(small, Seq("k"), "left"))

    // degenerate thresholds: everything hot / nothing hot still equal
    assertSameRows(Skew.hybridJoin(big, small, Seq("k"), 1L), plainInner)
    assertSameRows(Skew.hybridJoin(big, small, Seq("k"), 100000L), plainInner)
  }
}
