package graft.queries

import scala.collection.mutable

import graft.{SparkEntry, SparkSpec}

/** Over-threshold gate for the `certTruthSlice` branch of the two declared
  * crossJoin-truth queries (VERDICT r10 #1, absolute cap r11 #5): synthetic
  * >10k-vector embeddings corpora push `q_sim_neardup` and `q_sim_clusters`
  * past `SimParams.maxFullTruthVectors`, and their output is cross-checked
  * against a sliced-oracle replay computed independently in plain Scala
  * with the same left-to-right double accumulation as `GraftCosine` /
  * DuckDB's `list_sum` — so the compare is bit-exact, not tolerance-based.
  * The slice modulus DERIVES from the corpus count (`ceil(n / 2000)` —
  * ~2000 sliced vertices at any n); two fixtures at different counts
  * exercise two different derived moduli (6 and 7), pinning the derivation
  * itself and not one hardcoded stride. The fixtures are clustered (one-hot
  * label axes + small deterministic noise) so within-cluster cosine ≈ 1 and
  * cross-cluster ≈ 0: no pair sits near either threshold and the LSH recall
  * flag is structurally safe.
  *
  * This is the branch the driver gate can never reach (every tested SF is
  * under the cutoff); without it the slice semantics — BOTH engines
  * restricting to the derived-modulus vertex set — were spec-free.
  */
class CertSliceSpec extends SparkSpec {

  import spark.implicits._

  private val nVec = 10040L  // ceil(10040/2000) -> modulus 6
  private val nVec2 = 12040L // ceil(12040/2000) -> modulus 7
  private val dims = 64
  // coprime to both derived moduli (6 and 7), so each sliced subset covers
  // every cluster instead of aliasing onto a handful
  private val nLabels = 53

  /** one-hot cluster axis + seedless sin-noise (the growth-twin
    * perturbation convention — rerun-stable without a Random seed)
    */
  private def vecOf(id: Long): Array[Float] = {
    val l = (id % nLabels).toInt
    Array.tabulate(dims) { d =>
      val base = if (d == l) 1.0f else 0.0f
      base + (math.sin(id * 131.0 + d * 17.0) * 0.02).toFloat
    }
  }

  private def writeFixture(n: Long): String = {
    val d = SparkSpec.tempDir("graft_certslice_").toString
    (0L until n).map(i => (i, vecOf(i).toSeq, (i % nLabels).toInt))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    d
  }

  private lazy val dir: String = writeFixture(nVec)
  private lazy val dir2: String = writeFixture(nVec2)

  private def modulusOf(n: Long): Long = math.ceil(n / 2000.0).toLong
  private def slicedIdsOf(n: Long): Seq[Long] = 0L until n by modulusOf(n)

  /** Mirrors VectorExprs.dotNorms exactly: per-element float→double cast,
    * each accumulator summed left-to-right — bit-identical to the codegen
    * loop and to DuckDB's list_sum over the same casts.
    */
  private def cosExact(x: Array[Float], y: Array[Float]): Double = {
    var dd = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < dims) {
      val xi = x(i).toDouble; val yi = y(i).toDouble
      dd += xi * yi; na += xi * xi; nb += yi * yi; i += 1
    }
    dd / (math.sqrt(na) * math.sqrt(nb))
  }

  private def slicedPairsOf(n: Long): Seq[(Long, Long, Double)] = {
    val ids = slicedIdsOf(n)
    val vs = ids.map(i => i -> vecOf(i)).toMap
    for {
      a <- ids; b <- ids if a < b
      c = cosExact(vs(a), vs(b)) if c >= 0.2
    } yield (a, b, c)
  }

  private def checkNearDup(fixtureDir: String, n: Long): Unit = {
    val m = modulusOf(n)
    val rows = SparkEntry.queries("q_sim_neardup")(spark, fixtureDir).collect()
    assert(rows.forall(_.getBoolean(3)),
      "recall_ok must hold on the sliced branch (oracle declares literal TRUE)")
    val got = rows.map(r => (r.getLong(0), r.getLong(1),
      java.lang.Double.doubleToLongBits(r.getDouble(2)))).toSet
    assert(got.forall { case (a, b, _) => a % m == 0 && b % m == 0 },
      s"a pair escaped the % $m certification slice")
    val want = slicedPairsOf(n).map { case (a, b, c) =>
      (a, b, java.lang.Double.doubleToLongBits(c)) }.toSet
    assert(want.nonEmpty && got == want,
      s"sliced truth mismatch at n=$n m=$m: spark=${got.size} " +
        s"replay=${want.size} onlySpark=${(got -- want).take(3)} " +
        s"onlyReplay=${(want -- got).take(3)}")
  }

  test("q_sim_neardup over the cutoff: pairs come from the derived-modulus " +
    "slice only and match the sliced-oracle replay bit-exact (modulus 6)") {
    checkNearDup(dir, nVec)
  }

  test("the modulus moves with the count: a 12040-vector corpus slices at " +
    "% 7 and still matches the replay bit-exact") {
    checkNearDup(dir2, nVec2)
  }

  test("q_sim_clusters over the cutoff: vertices AND edges are sliced; " +
    "components match a union-find replay of the sliced >= 0.4 graph") {
    val slicedIds = slicedIdsOf(nVec)
    val parent = mutable.Map(slicedIds.map(i => i -> i): _*)
    def find(x: Long): Long =
      if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    val vs = slicedIds.map(i => i -> vecOf(i)).toMap
    for (a <- slicedIds; b <- slicedIds if a < b
         if cosExact(vs(a), vs(b)) >= 0.4) {
      val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(ra) = rb
    }
    val minOfRoot = slicedIds.groupBy(find).map { case (r, ms) => r -> ms.min }
    val want = slicedIds.map(i => (i, minOfRoot(find(i)))).toSet

    val rows = SparkEntry.queries("q_sim_clusters")(spark, dir).collect()
    assert(rows.length == slicedIds.size,
      s"vertex set must be the slice: ${rows.length} rows vs ${slicedIds.size}")
    val got = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want, s"component mismatch: ${(got -- want).take(3)} / " +
      s"${(want -- got).take(3)}")
    assert(rows.forall(r => r.getBoolean(2) == (r.getLong(1) == r.getLong(0))))
  }

  test("the oracle SQL carries the same guard as the Spark plan: " +
    "count-gated at 10000, count-derived modulus, on BOTH queries") {
    for (q <- Seq("q_sim_neardup", "q_sim_clusters")) {
      val sql = SparkEntry.oracleSql(q)
      assert(sql.contains("(SELECT count(*) FROM embeddings) <= 10000"),
        s"$q oracle lost the count guard")
      assert(sql.contains("CAST(ceil(count(*) / 2000e0) AS BIGINT)"),
        s"$q oracle lost the derived modulus")
      assert(sql.contains("emb_cert"), s"$q oracle no longer joins the " +
        "count-guarded CTE")
    }
  }
}
