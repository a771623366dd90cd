package graft.etl

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Load stage (SURVEY §2.1 S7-S10): parquet sink, view registration, the
  * three analytical views, parquet re-load, and the SQL query entry point.
  *
  * The reference materializes into an embedded DuckDB file
  * (load/__init__.py:36-64); here the "database" is the Spark catalog: each
  * table a temp view, and `query()` = `spark.sql`. View SQL preserves the
  * reference's inner-join semantics (the left-in-transform / inner-in-view
  * asymmetry, SURVEY §4.2).
  *
  * The sink has one write path: [[stage]] writes each table once under
  * [[stagingDir]], and [[publish]] renames each staged table into
  * `<out>/<table>.parquet`. A failed write publishes nothing. The publish
  * is per table, not one atomic step: a reader between two renames sees
  * some tables of each run, and a crash inside the rename loop leaves
  * them so (an all-tables commit needs a manifest or a version pointer).
  */
object Load {

  /** Where a run stages its tables: `<outputDir>/_staging`, a name that is
    * not `*.parquet`, so [[loadParquetDir]] and Export's S12 tier 3 never
    * read it.
    */
  def stagingDir(outputDir: String): String = s"$outputDir/_staging"

  /** Deletes `dir` and everything under it, if it exists. */
  def sweep(spark: SparkSession, dir: String): Unit = {
    val p = new Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  /** Writes each table once, to `<dir>/<table>.parquet`, and returns it
    * read back from those files under the schema it was written with, so
    * no footer-inference job runs.
    */
  def stage(tables: Map[String, DataFrame], dir: String): Map[String, DataFrame] =
    tables.map { case (name, df) =>
      val path = s"$dir/$name.parquet"
      df.write.parquet(path)
      name -> df.sparkSession.read.schema(df.schema).parquet(path)
    }

  /** Renames each table [[stage]] wrote under `stagingDir` into
    * `<outputDir>/<table>.parquet`, replacing the previous one, and returns
    * the published tables read back under the same schemas.
    */
  def publish(staged: Map[String, DataFrame], stagingDir: String,
      outputDir: String): Map[String, DataFrame] =
    staged.map { case (name, df) =>
      val spark = df.sparkSession
      val (from, to) = (new Path(s"$stagingDir/$name.parquet"), new Path(s"$outputDir/$name.parquet"))
      val fs = to.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(to, true)
      if (!fs.rename(from, to)) throw new java.io.IOException(s"cannot publish $from as $to")
      name -> spark.read.schema(df.schema).parquet(to.toString)
    }

  /** Parquet sink, one directory per table (reference: load/__init__.py:15-33):
    * [[stage]] every table, then [[publish]] them, sweeping the staging
    * directory before and after.
    */
  def loadToParquet(schema: Map[String, DataFrame], outputDir: String): Unit =
    if (schema.nonEmpty) {
      val (spark, staging) = (schema.values.head.sparkSession, stagingDir(outputDir))
      sweep(spark, staging)
      try publish(stage(schema, staging), staging, outputDir)
      finally sweep(spark, staging)
    }

  /** Registers all star tables as temp views + the 3 analytical views
    * (reference: load/__init__.py:36-64 CTAS + :67-163 create_views).
    */
  def registerAll(spark: SparkSession, schema: Map[String, DataFrame]): Unit = {
    schema.foreach { case (name, df) => df.createOrReplaceTempView(name) }
    createViews(spark)
  }

  /** Table-name guard for externally supplied names
    * (reference: load/__init__.py:209-210).
    */
  private val tableNameRe = "^[a-zA-Z0-9_]+$".r

  /** Re-registers every `*.parquet` in a directory as a view
    * (reference: load/__init__.py:188-220).
    */
  def loadParquetDir(spark: SparkSession, parquetDir: String): Seq[String] = {
    val files = Option(new java.io.File(parquetDir).listFiles())
      .getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet"))
      .sortBy(_.getName)
    files.toSeq.flatMap { f =>
      val name = f.getName.stripSuffix(".parquet")
      if (tableNameRe.matches(name)) {
        spark.read.parquet(f.getPath).createOrReplaceTempView(name)
        Some(name)
      } else {
        System.err.println(s"[load] skipping invalid table name: ${f.getName}")
        None
      }
    }
  }

  /** The engine's ad-hoc SQL entry point (reference: load/__init__.py:167-185).
    * Catalyst parses/optimizes; views expand at analysis time.
    */
  def query(spark: SparkSession, sql: String): DataFrame = spark.sql(sql)

  /** vw_zone_with_weather (reference: load/__init__.py:75-103): zone
    * conditions + calendar + building + outdoor weather, inner joins, with
    * the derived temp_deviation. The fact-fact join (zone⋈weather on
    * time_key+building_id) is the one genuine shuffle; dims broadcast.
    */
  val vwZoneWithWeather: String =
    """CREATE OR REPLACE TEMP VIEW vw_zone_with_weather AS
      |SELECT
      |  t.timestamp, t.year, t.month, t.day, t.hour, t.dow, t.is_weekend,
      |  b.building_id, b.building_name, z.zone_id, z.zone_name,
      |  f.scenario_id,
      |  f.air_temp_C, f.setpoint_C, f.air_temp_C - f.setpoint_C AS temp_deviation,
      |  f.co2_ppm, f.rh_pct,
      |  w.drybulb_C AS outdoor_temp_C, w.relhum_pct AS outdoor_rh_pct, w.ghi_W_m2
      |FROM fact_zone_conditions f
      |JOIN dim_time t ON f.time_key = t.time_key
      |JOIN dim_zone z ON f.zone_key = z.zone_key
      |JOIN dim_building b ON z.building_id = b.building_id
      |JOIN fact_weather w ON f.time_key = w.time_key AND z.building_id = w.building_id
      |""".stripMargin

  /** vw_hvac_with_meters (reference: load/__init__.py:107-140): HVAC + AHU +
    * building + meters (3-column composite fact-fact join) + weather.
    */
  val vwHvacWithMeters: String =
    """CREATE OR REPLACE TEMP VIEW vw_hvac_with_meters AS
      |SELECT
      |  t.timestamp, t.year, t.month, t.day, t.hour,
      |  b.building_id, b.building_name, a.ahu_id,
      |  f.scenario_id,
      |  f.supply_temp_C, f.return_temp_C, f.power_kw, f.cooling_kw,
      |  f.heating_kw, f.cop_proxy,
      |  m.electric_kwh, m.heating_kwh, m.cooling_kwh,
      |  w.drybulb_C AS outdoor_temp_C
      |FROM fact_hvac f
      |JOIN dim_time t ON f.time_key = t.time_key
      |JOIN dim_ahu a ON f.ahu_key = a.ahu_key
      |JOIN dim_building b ON a.building_id = b.building_id
      |JOIN fact_meters m ON f.time_key = m.time_key
      |  AND b.building_id = m.building_id AND f.scenario_id = m.scenario_id
      |JOIN fact_weather w ON f.time_key = w.time_key AND b.building_id = w.building_id
      |""".stripMargin

  /** vw_energy_summary (reference: load/__init__.py:143-163): per
    * building×scenario totals and averages.
    */
  val vwEnergySummary: String =
    """CREATE OR REPLACE TEMP VIEW vw_energy_summary AS
      |SELECT
      |  b.building_id, b.building_name, s.scenario_id, s.description,
      |  COUNT(DISTINCT t.time_key) AS n_hours,
      |  SUM(m.electric_kwh) AS total_electric_kwh,
      |  SUM(m.heating_kwh) AS total_heating_kwh,
      |  SUM(m.cooling_kwh) AS total_cooling_kwh,
      |  AVG(m.electric_kwh) AS avg_electric_kwh,
      |  AVG(m.heating_kwh) AS avg_heating_kwh,
      |  AVG(m.cooling_kwh) AS avg_cooling_kwh
      |FROM fact_meters m
      |JOIN dim_building b ON m.building_id = b.building_id
      |JOIN dim_scenario s ON m.scenario_id = s.scenario_id
      |JOIN dim_time t ON m.time_key = t.time_key
      |GROUP BY b.building_id, b.building_name, s.scenario_id, s.description
      |ORDER BY b.building_id, s.scenario_id
      |""".stripMargin

  def createViews(spark: SparkSession): Unit = {
    spark.sql(vwZoneWithWeather)
    spark.sql(vwHvacWithMeters)
    spark.sql(vwEnergySummary)
  }

  /** The reference README's analytical queries of record (SURVEY §3.2),
    * exposed as named builders so library users don't re-type them.
    */
  object AnalyticalQueries {
    /** Scenario comparison (README.md:246-254). */
    val scenarioComparison: String =
      """SELECT building_name, scenario_id,
        |  total_electric_kwh, total_heating_kwh, total_cooling_kwh
        |FROM vw_energy_summary
        |ORDER BY building_id, scenario_id""".stripMargin

    /** Temperature-drift / comfort hours (README.md:256-265). */
    val temperatureDrift: String =
      """SELECT building_name, zone_name, scenario_id,
        |  COUNT(*) AS n_hours,
        |  SUM(CASE WHEN ABS(temp_deviation) > 1.0 THEN 1 ELSE 0 END) AS uncomfortable_hours,
        |  AVG(temp_deviation) AS avg_deviation
        |FROM vw_zone_with_weather
        |GROUP BY building_name, zone_name, scenario_id
        |ORDER BY uncomfortable_hours DESC""".stripMargin

    /** COP vs outdoor temperature binning (README.md:267-275). */
    val copVsOutdoorTemp: String =
      """SELECT CAST(FLOOR(outdoor_temp_C + 0.5) AS BIGINT) AS temp_bin,
        |  AVG(cop_proxy) AS avg_cop,
        |  COUNT(*) AS n
        |FROM vw_hvac_with_meters
        |WHERE power_kw > 0
        |GROUP BY 1
        |ORDER BY temp_bin""".stripMargin
  }
}
