package graft

import graft.queries.{AnalyticsQueries, CoreQueries, ExtQueries, MediaQueries}

/** Smoke + contract checks over the declared inventory at sf0.001. The deep
  * correctness gate is the driver's DuckDB differential (Verify.scala +
  * tools/crosscheck.py); this suite guards the contract invariants that
  * would silently zero that gate.
  */
class QueriesSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private val defs = CoreQueries.defs ++ ExtQueries.defs ++
    AnalyticsQueries.defs ++ MediaQueries.defs

  test("no duplicate query names") {
    val names = defs.map(_.name)
    assert(names.distinct.size == names.size)
  }

  test("every query runs and returns rows at sf0.001") {
    defs.foreach { d =>
      val n = d.build(spark, sf).count()
      assert(n > 0, s"${d.name} returned no rows")
    }
  }

  test("oracle column names match the Spark result columns") {
    // the driver compare sorts columns by name — a name mismatch is fatal
    defs.filter(_.oracle.isDefined).foreach { d =>
      val sparkCols = d.build(spark, sf).columns.map(_.toLowerCase).sorted.toSeq
      // extract oracle output names from "AS <name>" aliases + bare columns:
      // cheap structural check: every spark column name must appear in the SQL
      val sql = d.oracle.get.toLowerCase
      sparkCols.foreach { c =>
        assert(sql.contains(c), s"${d.name}: column '$c' absent from oracle SQL")
      }
    }
  }

  test("the recall-gated queries emit exactly their shared exact truths") {
    def rows(name: String, cols: String*) =
      SparkEntry.queries(name)(spark, sf)
        .select(cols.map(org.apache.spark.sql.functions.col): _*)
        .collect().toSet
    val top = rows("q_sim_bruteforce", "vec_id", "cosine_sim")
    assert(top.size == 20)
    for (q <- Seq("q_sim_lsh", "q_sim_ivf", "q_sim_ivf_quantized"))
      assert(rows(q, "vec_id", "cosine_sim") == top,
        s"$q's truth rows differ from q_sim_bruteforce")
    val pairs = rows("q_dedup_jaccard", "doc_a", "doc_b", "jaccard")
    assert(pairs.nonEmpty)
    for (q <- Seq("q_dedup_minhash", "q_dedup_simhash"))
      assert(rows(q, "doc_a", "doc_b", "jaccard") == pairs,
        s"$q's truth rows differ from q_dedup_jaccard")
  }

  test("entry (flagship) is non-empty and covers all nations") {
    val df = SparkEntry.entry(spark)
    assert(df.count() == 25)
    assert(df.columns.contains("revenue"))
  }

  test("oracleSql maps only declared queries") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
    assert(SparkEntry.queries.size == defs.size)
  }

  test("the IVF index cache rebuilds in place when its source changes") {
    val dir = SparkSpec.tempDir("graft_ivf_src_")
    java.nio.file.Files.copy(java.nio.file.Paths.get(sf, "embeddings.parquet"),
      dir.resolve("embeddings.parquet"))
    val tmp = new java.io.File(sys.props("java.io.tmpdir"))
    def caches = tmp.listFiles().filter(_.getName.startsWith("graft_ivf_")).toSet
    val before = caches
    def build() = SparkEntry.queries("q_sim_ivf_build")(spark, dir.toString).head()
    try {
      val first = build()
      val src = dir.resolve("embeddings.parquet").toFile
      assert(src.setLastModified(src.lastModified - 60000L))
      assert(build() == first, "the rebuilt index must cover the same corpus")
      val fresh = caches -- before
      assert(fresh.size == 1,
        s"one cache directory per source, not one per build: ${fresh.map(_.getName)}")
    } finally (caches -- before).foreach(d =>
      org.apache.commons.io.FileUtils.deleteQuietly(d))
  }
}
