package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Statistical ground-truth gates for the two-sample / correlation /
  * growth-curve queries: fixtures constructed so the statistic's value is
  * known EXACTLY from theory (identical halves → zero statistic; perfect
  * monotone association → ρ = ±1; disjoint supports → D = 1; all-unique
  * vocabulary → Heaps β = 1), driven through the REAL declared builders
  * over a real parquet dir — the oracle gate proves cross-engine
  * agreement, these prove the statistics mean what they claim.
  */
class StatsQuerySpec extends SparkSpec {

  import spark.implicits._

  /** Write (doc_id, text, lang, source, n_chars) rows as a testdata-shaped
    * dir and return its path.
    */
  private def fixture(rows: Seq[(Long, String, Long)]): String = {
    val dir = SparkSpec.tempDir("graft_stats_").toString
    rows.toDF("doc_id", "text", "n_chars")
      .select($"doc_id", $"text", lit("en").as("lang"),
        lit("src0").as("source"), $"n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private def q(name: String, dir: String): DataFrame =
    SparkEntry.queries(name)(spark, dir)

  test("q_ks_test: identical parity halves give D = 0 / no rejection; " +
    "disjoint supports give D = 1 and reject") {
    // pairs (2i, 2i+1) share n_chars → the two parity CDFs coincide
    val same = fixture((0L until 200L).map(i => (i, "x", 100L + i / 2)))
    val r1 = q("q_ks_test", same).select("d_stat", "reject_05").distinct().head()
    assert(r1.getDouble(0) == 0.0 && !r1.getBoolean(1))
    // even ids all shorter than every odd id → CDF gap hits 1 exactly
    val split = fixture((0L until 200L).map(i =>
      (i, "x", if (i % 2 == 0) 100L + i else 1000L + i)))
    val r2 = q("q_ks_test", split).select("d_stat", "reject_05").distinct().head()
    assert(r2.getDouble(0) == 1.0 && r2.getBoolean(1))
  }

  test("q_mannwhitney: identical halves give z = 0, not significant; a " +
    "clean location shift is significant with U at its extreme") {
    val same = fixture((0L until 200L).map(i => (i, "x", 100L + i / 2)))
    val r1 = q("q_mannwhitney", same).head()
    assert(r1.getDouble(r1.fieldIndex("z_score")) == 0.0)
    assert(!r1.getBoolean(r1.fieldIndex("significant")))
    val split = fixture((0L until 200L).map(i =>
      (i, "x", if (i % 2 == 0) 100L + i else 1000L + i)))
    val r2 = q("q_mannwhitney", split).head()
    // every even-id value sits below every odd-id value → U_a = 0
    assert(r2.getDouble(r2.fieldIndex("u_a")) == 0.0)
    assert(r2.getBoolean(r2.fieldIndex("significant")))
  }

  test("q_spearman: rho = 1 under perfect monotone association, -1 when " +
    "reversed, regardless of the raw scales") {
    // word count i+1 strictly increases with n_chars (nonlinear scale on
    // purpose: Spearman sees only the ranks)
    val inc = fixture((0L until 50L).map(i =>
      (i, Seq.fill(i.toInt + 1)("w").mkString(" "), (i + 1) * (i + 1))))
    assert(q("q_spearman", inc).head().getDouble(1) == 1.0)
    val dec = fixture((0L until 50L).map(i =>
      (i, Seq.fill(i.toInt + 1)("w").mkString(" "), 5000L - i * i)))
    assert(q("q_spearman", dec).head().getDouble(1) == -1.0)
  }

  test("q_permutation_test: identical halves make the observed gap 0 — " +
    "every permutation ties or beats it, p = 1") {
    val same = fixture((0L until 200L).map(i => (i, "x", 100L + i / 2)))
    val rows = q("q_permutation_test", same).collect()
    assert(rows.length == 32)
    rows.foreach { r =>
      assert(r.getDouble(r.fieldIndex("diff_obs")) == 0.0)
      assert(r.getBoolean(r.fieldIndex("ge_observed")))
      assert(r.getDouble(r.fieldIndex("p_value")) == 1.0)
    }
  }

  test("q_heaps_law: an all-unique vocabulary grows linearly — cum_vocab " +
    "equals cum_tokens in every bucket and beta = 1") {
    // doc i contributes 3 globally-unique tokens
    val uniq = fixture((0L until 100L).map(i =>
      (i, s"u${i}a u${i}b u${i}c", 30L)))
    val rows = q("q_heaps_law", uniq).collect()
    assert(rows.length == 10)
    rows.foreach { r =>
      assert(r.getLong(r.fieldIndex("cum_tokens"))
        == r.getLong(r.fieldIndex("cum_vocab")))
      assert(r.getDouble(r.fieldIndex("heaps_beta")) == 1.0)
    }
    // and the final bucket saw the whole corpus: 100 docs x 3 tokens
    assert(rows.map(_.getLong(rows.head.fieldIndex("cum_tokens"))).max == 300L)
  }

  test("q_containment detects the asymmetric inclusion q_dedup_jaccard's " +
    "floor hides, end-to-end through the declared builder") {
    val body = (1 to 40).map(k => s"tok$k").mkString(" ")
    val dir = fixture(Seq(
      (0L, body + " " + (41 to 240).map(k => s"pad$k").mkString(" "), 500L),
      (1L, body, 200L),
      (2L, "entirely different words everywhere now", 40L)))
    val got = q("q_containment", dir).collect()
    assert(got.length == 1)
    val r = got.head
    assert(r.getLong(0) == 0L && r.getLong(1) == 1L)
    assert(r.getDouble(r.fieldIndex("containment")) == 1.0)
    assert(r.getBoolean(r.fieldIndex("asymmetric")))
  }
}
