package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.{AnalyticsQueries, CoreQueries, ExtQueries, MediaQueries}

/** Driver contract (SURVEY.md §7), and what the five `main` entry points
  * share: their session, the timed noop-sink run and the query resolver.
  *
  * The declared query inventory (SURVEY.md §2.12) lives in
  * [[graft.queries.CoreQueries]]; each entry carries its DuckDB oracle SQL
  * for the driver's differential-correctness gate.
  */
object SparkEntry {

  /** The one production session. The master is `spark.master` when
    * spark-submit `--master` or `-Dspark.master` set it, else
    * `local[$SPARK_GRAFT_CPUS]`; shuffle partitions are `SPARK_GRAFT_CPUS`
    * (default 4). UTC, because `Tables.load`'s TIMESTAMP_NTZ cast depends
    * on the session time zone and the specs run in UTC. The graft SQL
    * extensions, so production plans with the optimizer rule and SQL
    * functions the specs test. `confs` are set last and win.
    */
  def session(app: String, confs: Seq[(String, String)] = Nil): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val builder = SparkSession.builder()
      .appName(app)
      .master(sys.props.getOrElse("spark.master", s"local[$cpus]"))
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.extensions.GraftExtensions")
    confs.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Drops every cached table and persisted RDD. Queries that
    * `localCheckpoint` internally pin their blocks until the driver GCs the
    * RDD handles, and ContextCleaner's periodic GC defaults to 30 min: over
    * a long run of heavy queries the blocks pile up, squeeze execution
    * memory and can kill the executor (an sf10 ladder died this way).
    */
  def release(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
  }

  /** Seconds to build `query` and write it to the noop sink, after an
    * untimed [[release]] so each run starts from a clean block manager.
    * The noop sink, not `count()`: `count()` lets Catalyst prune
    * projection-only work, timing a select-heavy query as a row count.
    */
  def timeNoop(spark: SparkSession, sfDir: String,
      query: (SparkSession, String) => DataFrame): Double = {
    release(spark)
    val t0 = System.nanoTime()
    query(spark, sfDir).write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** The declared query `name`, else the
    * [[graft.queries.ExtQueries.operatorOnly]] twin named bare or with its
    * `_operator` suffix.
    */
  def resolve(name: String): Option[(SparkSession, String) => DataFrame] = {
    val ops = ExtQueries.operatorOnly
    queries.get(name)
      .orElse(ops.get(name))
      .orElse(ops.get(name.stripSuffix("_operator")))
  }

  private def allDefs: Seq[QueryDef] = {
    val defs = CoreQueries.defs ++ ExtQueries.defs ++
      AnalyticsQueries.defs ++ MediaQueries.defs
    // a name collision would silently drop a QueryDef from the .toMap below
    // and shrink the driver's correctness gate without any error
    val dups = defs.groupBy(_.name).collect { case (n, ds) if ds.size > 1 => n }
    require(dups.isEmpty, s"duplicate query names: ${dups.mkString(", ")}")
    defs
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * q_agg_star = the reference's vw_energy_summary pattern
    * (load/__init__.py:143-163): dim-joined fact with count-distinct/sum/avg.
    */
  def entry(spark: SparkSession): DataFrame =
    queries("q_agg_star")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allDefs.map(d => d.name -> d.build).toMap

  /** Query names in DECLARATION order — Bench runs them in this order so
    * build-then-probe pairs (q_sim_ivf_build → q_sim_ivf) measure what they
    * claim, and per-round bench comparisons aren't scrambled by Map hashing.
    */
  def orderedQueryNames: Seq[String] = allDefs.map(_.name)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    allDefs.flatMap(d => d.oracle.map(o => d.name -> o)).toMap
}
