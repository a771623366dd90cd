package graft

import org.apache.spark.sql.functions._

/** The engine must be fully drivable through `spark.sql` — the parity
  * surface for the reference's `query_duckdb` entry point (its primary
  * query interface, reference load/__init__.py:167-185): testdata tables
  * registered as views + the graft_* native functions registered in the
  * session give an end-to-end SQL-only workflow.
  */
class SqlSurfaceSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private lazy val ready: Unit = Tables.registerAll(spark, sf)

  test("star-join aggregation in pure SQL matches the DataFrame builder") {
    ready
    val sql = spark.sql(
      """SELECT n_name, COUNT(*) AS n_lines, SUM(l_quantity) AS sum_qty
        |FROM lineitem
        |JOIN orders   ON l_orderkey  = o_orderkey
        |JOIN customer ON o_custkey   = c_custkey
        |JOIN nation   ON c_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin)
    val df = SparkEntry.queries("q_agg_star")(spark, sf)
      .select(col("n_name"), col("n_lines"), col("sum_qty"))
    assert(sql.exceptAll(df).isEmpty && df.exceptAll(sql).isEmpty)
  }

  test("ANN search in pure SQL via graft_cosine") {
    ready
    val top = spark.sql(
      """SELECT a.vec_id, graft_cosine(a.embedding, b.embedding) AS sim
        |FROM embeddings a
        |JOIN embeddings b ON b.vec_id = 0
        |WHERE a.vec_id != 0
        |ORDER BY sim DESC, a.vec_id LIMIT 5""".stripMargin).collect()
    assert(top.length === 5)
    assert(top.forall(r => math.abs(r.getDouble(1)) <= 1.0 + 1e-12))
    // descending order
    assert(top.sliding(2).forall(p => p(0).getDouble(1) >= p(1).getDouble(1)))
  }

  test("near-dup fingerprinting in pure SQL via graft_winnow") {
    ready
    val shared = spark.sql(
      """WITH fp AS (
        |  SELECT DISTINCT doc_id, f
        |  FROM (SELECT doc_id, explode(graft_winnow(lower(text), 8, 4)) AS f
        |        FROM documents WHERE doc_id < 50))
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
        |FROM fp a JOIN fp b ON a.f = b.f AND a.doc_id < b.doc_id
        |GROUP BY 1, 2""".stripMargin)
    // shared DISTINCT fingerprints are a set intersection — bounded by the
    // smaller distinct-fingerprint set
    val perDoc = spark.sql(
      """SELECT doc_id, size(array_distinct(graft_winnow(lower(text), 8, 4))) AS n
        |FROM documents WHERE doc_id < 50""".stripMargin)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(shared.collect().forall(r =>
      r.getLong(2) <= math.min(perDoc(r.getLong(0)), perDoc(r.getLong(1)))))
  }

  test("spark.sql.extensions injector: a FRESH session built through the " +
    "reflective injector path gets every graft_* function (the production " +
    "wiring, not the imperative register())") {
    ready
    import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
    // Reproduce Spark's applyExtensions mechanics exactly: load the class
    // named by spark.sql.extensions reflectively, instantiate its no-arg
    // constructor, apply it to the builder's SparkSessionExtensions. (The
    // suite's shared context already carries the config string, as
    // Verify/Bench do, so every session on it applies that too; this test
    // drives the same reflective construction through withExtensions.)
    val injector = Class.forName("graft.extensions.GraftExtensions")
      .getDeclaredConstructor().newInstance()
      .asInstanceOf[SparkSessionExtensions => Unit]
    // getOrCreate returns the existing default session unchanged, so clear
    // both slots to force a genuinely new session (same SparkContext)
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val fresh = SparkSession.builder()
        .master("local[2]")
        .withExtensions(injector)
        .config("spark.sql.shuffle.partitions", "2")
        .getOrCreate()
      assert(fresh ne spark, "builder returned the old session — injector path not exercised")
      val c = fresh.sql(
        """SELECT graft_cosine(array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT)),
          |                    array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS c""".stripMargin)
        .head().getDouble(0)
      assert(c === 1.0)
      // 4-arg multi-table form resolves through the injector too
      val b = fresh.sql(
        """SELECT graft_lsh_bucket(array(CAST(1.0 AS FLOAT), CAST(-2.0 AS FLOAT)), 2, 3, 3) AS b"""
      ).head().getLong(0)
      assert(b >= 0L && b < 8L)
      // do NOT fresh.stop(): it shares the suite-wide SparkContext
    } finally {
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }

  test("injected optimizer rule rewrites self-cosine to a norm guard " +
    "(exact 1.0 / NULL on zero-norm), leaves distinct-arg cosine alone") {
    ready
    import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
    val injector = Class.forName("graft.extensions.GraftExtensions")
      .getDeclaredConstructor().newInstance()
      .asInstanceOf[SparkSessionExtensions => Unit]
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val fresh = SparkSession.builder()
        .master("local[2]")
        .withExtensions(injector)
        .config("spark.sql.shuffle.partitions", "2")
        .getOrCreate()
      // constant input: the rewrite plus constant folding collapse the whole
      // expression to the literal 1.0 — no vector math in the plan at all
      val const = fresh.sql(
        """SELECT graft_cosine(v, v) AS c FROM (
          |  SELECT array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT)) AS v)""".stripMargin)
      val constOpt = const.queryExecution.optimizedPlan.toString
      assert(!constOpt.contains("graft_cosine"), s"self-cosine survived:\n$constOpt")
      assert(const.head().getDouble(0) == 1.0)
      // non-foldable input: the O(d) norm guard remains, the O(3d) cosine
      // is gone, and the algebraic value is EXACTLY 1.0 (evaluated ±ulp)
      val self = fresh.sql(
        """SELECT graft_cosine(v, v) AS c FROM (
          |  SELECT array(CAST(id + 3 AS FLOAT), CAST(4.0 AS FLOAT)) AS v FROM range(1))""".stripMargin)
      val opt = self.queryExecution.optimizedPlan.toString
      assert(opt.contains("graft_norm2") && !opt.contains("graft_cosine"),
        s"self-cosine not rewritten:\n$opt")
      assert(self.head().getDouble(0) == 1.0)
      // zero-norm keeps the NULL-not-NaN convention through the rewrite
      val z = fresh.sql(
        """SELECT graft_cosine(v, v) AS c FROM (
          |  SELECT array(CAST(0.0 AS FLOAT), CAST(0.0 AS FLOAT)) AS v)""".stripMargin)
      assert(z.head().isNullAt(0))
      // infinite norm: the rewrite must NOT claim 1.0 — the unrewritten
      // expression yields NaN (Inf/Inf) and the guarded fallback preserves it
      val inf = fresh.sql(
        """SELECT graft_cosine(v, v) AS c FROM (
          |  SELECT array(CAST('Infinity' AS FLOAT), CAST(id + 1 AS FLOAT)) AS v
          |  FROM range(1))""".stripMargin)
      assert(inf.head().getDouble(0).isNaN,
        "self-cosine of an infinite vector must stay NaN through the rewrite")
      // distinct (non-foldable) arguments are untouched
      val diff = fresh.sql(
        """SELECT graft_cosine(array(CAST(id AS FLOAT)), array(CAST(id + 1 AS FLOAT))) AS c
          |FROM range(1)""".stripMargin)
      assert(diff.queryExecution.optimizedPlan.toString.contains("graft_cosine"))
    } finally {
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }

  test("the three analytical views answer over a registered star schema") {
    ready
    // build a tiny star schema from synthetic runs and query a view in SQL
    val dir = graft.etl.SyntheticRuns.tempDir()
    graft.etl.SyntheticRuns.writeFixtureDir(dir)
    val schema = graft.etl.Transform.transformAll(spark,
      graft.etl.Extract.extractRuns(spark, dir.toString))
    graft.etl.Load.registerAll(spark, schema)
    val out = spark.sql(
      "SELECT building_id, total_electric_kwh FROM vw_energy_summary").collect()
    assert(out.nonEmpty)
  }
}
