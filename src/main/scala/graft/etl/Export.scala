package graft.etl

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Canonical nested-JSON summary export (SURVEY §3.3; reference
  * src/export_json.py). Deviations are deliberate and documented:
  * the reference HARDCODES the monthly seasonal pattern
  * (export_json.py:167-168) and peak demand (:188); here both are computed
  * honestly from the data (monthly GROUP BY, max hourly electric draw),
  * per SURVEY §2.6's fidelity note.
  *
  * Like the reference, the summary is computed ONE way, whatever the
  * source: [[buildSummary]] (star schema) and [[summaryFromDir]] (S12
  * fallback) only pick the meter rows and their month, then share one
  * grouped pass over them and one KPI block.
  */
object Export {

  /** Column-synonym table for a meter-like source (reference:
    * export_json.py:124-137): first column whose lowercased name contains
    * one of the words.
    */
  private val synonyms = Seq(
    Seq("electric", "elec", "power"), Seq("heating", "heat"),
    Seq("cooling", "cool"), Seq("total"))

  /** The summary's figures; `monthly` = (month, heating, cooling, total). */
  private final case class Figures(electric: Double, heating: Double, cooling: Double,
      total: Double, peak: Double, rows: Long, hours: Long,
      monthly: Seq[(Int, Double, Double, Double)])

  /** Every summary figure from ONE `groupBy(month)` aggregate, folded on the
    * driver over at most 13 groups (12 months + the NULL month of a row
    * with no month). Annual sums, row and hour counts add up over all
    * groups — each `hourKey` falls in exactly one month group, so summed
    * per-month distinct counts are exact; the peak (max hourly electric,
    * kW ≈ kWh/h) is the max of the group maxima; the monthly breakdown
    * (A9) is the non-NULL groups in month order. A measure column that is
    * absent or all NULL sums to 0, never NPEs (the dirty-data class
    * Validate's plausibility check tolerates). When electric + heating +
    * cooling is 0, the total falls back to a `total`-like column
    * (reference export_json.py:144-146).
    */
  private def figures(df: DataFrame, month: Column, hourKey: Column): Figures = {
    val Seq(e, h, c, t) = synonyms.map(words =>
      df.columns.find(n => words.exists(n.toLowerCase.contains)))
    def measure(n: Option[String]) = n.fold(lit(0.0))(col(_).cast("double"))
    def sumOf(n: Option[String]) = coalesce(sum(measure(n)), lit(0.0))
    val groups = df.groupBy(month.as("month"))
      .agg(sumOf(e), sumOf(h), sumOf(c), sumOf(t), max(measure(e)),
        count(lit(1)), countDistinct(hourKey))
      .collect().toSeq
    def total(i: Int) = groups.map(_.getDouble(i)).sum
    val ehc = total(1) + total(2) + total(3)
    Figures(total(1), total(2), total(3), if (ehc == 0.0) total(4) else ehc,
      peak = groups.filterNot(_.isNullAt(5)).map(_.getDouble(5)).maxOption.getOrElse(0.0),
      rows = groups.map(_.getLong(6)).sum, hours = groups.map(_.getLong(7)).sum,
      monthly = groups.filterNot(_.isNullAt(0)).sortBy(_.getInt(0)).map(r =>
        (r.getInt(0), r.getDouble(2), r.getDouble(3),
          r.getDouble(1) + r.getDouble(2) + r.getDouble(3))))
  }

  /** Builds the summary document as a one-row nested DataFrame from a
    * registered star schema; serialize with [[writeSummaryJson]].
    *
    * The document describes ONE (building, scenario) — its `scenario` struct
    * is singular — so every aggregate (annual, monthly, peak, comfort) is
    * filtered to that pair. Default scope: the lexicographically-first
    * building and scenario (deterministic). The reference sums whatever
    * table it finds across all entities while attributing it to hardcoded
    * metadata (export_json.py:181-190) — a fidelity gap closed here, like
    * the hardcoded monthly pattern and peak.
    */
  def buildSummary(spark: SparkSession, schema: Map[String, DataFrame],
      co2FactorKgPerKwh: Double = 0.229,
      buildingId: Option[String] = None,
      scenarioId: Option[String] = None): DataFrame = {
    import spark.implicits._

    def one(df: DataFrame, keyCol: String, want: Option[String], what: String) = {
      val picked = want.map(v => df.where(col(keyCol) === v)).getOrElse(df)
        .orderBy(col(keyCol)).limit(1).collect()
      require(picked.nonEmpty,
        s"cannot export: no $what row${want.fold("")(v => s" for $keyCol=$v")}")
      picked.head
    }
    val bRow = one(schema("dim_building"), "building_id", buildingId, "dim_building")
    val sRow = one(schema("dim_scenario"), "scenario_id", scenarioId, "dim_scenario")
    val bId = bRow.getString(bRow.fieldIndex("building_id"))
    val sId = sRow.getString(sRow.fieldIndex("scenario_id"))

    // a meters row whose time_key missed dim_time lands in the NULL month:
    // counted in the annual figures, absent from the monthly breakdown
    val meters = schema("fact_meters")
      .where($"building_id" === bId && $"scenario_id" === sId)
      .join(broadcast(schema("dim_time").select($"time_key", $"month")), Seq("time_key"), "left")
    val f = figures(meters, $"month", $"time_key")
    require(f.rows > 0, s"cannot export: fact_meters has no rows for ($bId, $sId)")

    // comfort hours from this building's zones under this scenario (A5)
    val comfort = (schema.get("fact_zone_conditions"), schema.get("dim_zone")) match {
      case (Some(z), Some(dz)) =>
        val zoneKeys = dz.where($"building_id" === bId).select($"zone_key")
        val r = z.where($"scenario_id" === sId)
          .join(broadcast(zoneKeys), Seq("zone_key"), "left_semi")
          .agg(
            count(lit(1)).as("n"),
            count(when(abs(col("air_temp_C") - col("setpoint_C")) <= 1.0, 1)).as("ok"))
          .head()
        if (r.getLong(0) == 0) 0.0 else r.getLong(1).toDouble / r.getLong(0) * 100.0
      case _ => 0.0
    }

    renderSummaryDoc(spark,
      (sId, bRow.getString(bRow.fieldIndex("building_name")),
        bRow.getString(bRow.fieldIndex("location")),
        bRow.getLong(bRow.fieldIndex("floor_area_m2")).toDouble, s"${f.hours} hours"),
      f, comfort, co2FactorKgPerKwh)
  }

  /** Shared document assembly: one-row nested frame in the canonical export
    * schema, with the KPIs (per floor area when the area is known) derived
    * once from the figures — used by [[buildSummary]] (star-schema path)
    * and [[summaryFromDir]] (S12 fallback path).
    */
  private def renderSummaryDoc(spark: SparkSession,
      scenario: (String, String, String, Double, String),
      f: Figures, comfortPercent: Double, co2FactorKgPerKwh: Double): DataFrame = {
    import spark.implicits._
    val area = scenario._4
    def perArea(v: Double) = if (area > 0) v / area else 0.0
    val co2Kg = f.total * co2FactorKgPerKwh
    val doc = Seq((
      "graft-spark",
      java.time.Instant.now().toString,
      scenario, (f.total, f.heating, f.cooling, f.electric), f.monthly,
      (perArea(f.total), perArea(f.heating), perArea(f.cooling), co2Kg / 1000.0,
        perArea(co2Kg), f.peak, comfortPercent)))
      .toDF("pipeline", "generated_at", "scenario", "annual", "monthly_breakdown", "kpis")

    doc.select(
      $"pipeline",
      $"generated_at",
      $"scenario".cast("struct<name:string,building_type:string,location:string," +
        "floor_area_m2:double,simulation_period:string>"),
      struct(
        $"annual._1".as("total_kwh"),
        $"annual._2".as("heating_kwh"),
        $"annual._3".as("cooling_kwh"),
        $"annual._4".as("electric_kwh")).as("annual"),
      transform($"monthly_breakdown", m => struct(
        m.getField("_1").as("month"),
        m.getField("_2").as("heating_kwh"),
        m.getField("_3").as("cooling_kwh"),
        m.getField("_4").as("total_kwh"))).as("monthly_breakdown"),
      struct(
        $"kpis._1".as("energy_intensity_kwh_m2"),
        $"kpis._2".as("heating_intensity_kwh_m2"),
        $"kpis._3".as("cooling_intensity_kwh_m2"),
        $"kpis._4".as("annual_co2_tons"),
        $"kpis._5".as("co2_intensity_kg_m2"),
        $"kpis._6".as("peak_demand_kw"),
        $"kpis._7".as("comfort_hours_percent")).as("kpis"))
  }

  /** S12 — multi-source fallback reader (reference export_json.py:64-119):
    * tolerate a half-present artifacts directory by probing, first non-empty
    * source wins:
    *
    *   1. `*.parquet` under `dir/parquet/`, preferring file names containing
    *      `meter`/`energy` — all picked files in ONE `mergeSchema` scan, so
    *      files with ragged columns union by name (a column missing from a
    *      file reads as NULL there); files that disagree on a column's TYPE
    *      cannot merge, and fall through to tier 2 like an unreadable
    *      candidate;
    *   2. the session catalog — `vw_energy_summary`, then `fact_meters`,
    *      then the first listed table (the Spark analogue of the
    *      reference's DuckDB-file tier);
    *   3. any `*.parquet` or `*.csv` directly in `dir`, first readable.
    *
    * Unreadable candidates are skipped (the reference's try/except-per-file),
    * and an EMPTY source falls through to the next tier (`df.empty` check,
    * export_json.py:84,108). Paths go through the Hadoop FileSystem API, so
    * `dir` may live on any Spark-supported filesystem, not just local disk.
    */
  def resolveMeterSource(spark: SparkSession, dir: String): Option[DataFrame] = {
    import org.apache.hadoop.fs.Path
    val hconf = spark.sparkContext.hadoopConfiguration
    def ls(glob: String): Seq[Path] = {
      val p = new Path(glob)
      val fs = p.getFileSystem(hconf)
      Option(fs.globStatus(p)).map(_.toSeq.map(_.getPath)).getOrElse(Seq.empty)
    }
    // the emptiness probe (take(1) = a real scan) must run INSIDE the Try:
    // a candidate whose footer parses but whose data pages are corrupt
    // fails at scan time, and an unguarded probe would abort the whole
    // resolve instead of falling through to the next tier
    def nonEmpty(df: DataFrame): Option[DataFrame] =
      scala.util.Try(df.take(1).nonEmpty).toOption.filter(identity).map(_ => df)
    def tryRead(read: => DataFrame): Option[DataFrame] =
      scala.util.Try(read).toOption.flatMap(nonEmpty)

    val tier1 = {
      val all = ls(s"$dir/parquet/*.parquet")
      val preferred = all.filter { p =>
        val n = p.getName.toLowerCase
        n.contains("meter") || n.contains("energy")
      }
      val picks = (if (preferred.nonEmpty) preferred else all).map(_.toString)
      if (picks.isEmpty) None
      else tryRead(Maintenance.readEvolved(spark, picks))
    }
    lazy val tier2 = Seq("vw_energy_summary", "fact_meters")
      .collectFirst { case t if spark.catalog.tableExists(t) => spark.table(t) }
      .orElse(spark.catalog.listTables().collect()
        .sortBy(_.name).headOption.map(t => spark.table(t.name)))
      .flatMap(nonEmpty)
    lazy val tier3 =
      (ls(s"$dir/*.parquet").map(p => () => spark.read.parquet(p.toString)) ++
        ls(s"$dir/*.csv").map(p => () => spark.read
          .option("header", "true").option("inferSchema", "true").csv(p.toString)))
        .view.flatMap(f => tryRead(f())).headOption

    tier1.orElse(tier2).orElse(tier3)
  }

  /** S12 — summary export over whatever [[resolveMeterSource]] found: a flat
    * meter-like table rather than a registered star schema, summarized by
    * the same pass and KPI block as [[buildSummary]]. The monthly breakdown
    * is derived honestly when the source carries a `month` column or any
    * timestamp column — and is otherwise EMPTY, never the reference's
    * hardcoded seasonal pattern; likewise no data at all throws instead of
    * fabricating the sample document (export_json.py:192-227) — the same
    * documented fidelity deviation as the star path's peak/monthly.
    *
    * Scenario metadata is caller-supplied ([[FlatScenario]]): a flat table
    * has no dim_building to read floor area from, so intensity KPIs are 0.0
    * unless the caller provides the area.
    */
  final case class FlatScenario(
      name: String = "unknown",
      buildingType: String = "unknown",
      location: String = "unknown",
      floorAreaM2: Double = 0.0,
      simulationPeriod: String = "unknown")

  def summaryFromDir(spark: SparkSession, dir: String,
      co2FactorKgPerKwh: Double = 0.229,
      scenario: FlatScenario = FlatScenario()): DataFrame = {
    val df = resolveMeterSource(spark, dir).getOrElse(throw new IllegalArgumentException(
      s"cannot export: no non-empty meter-like source under $dir " +
        "(parquet/ glob, catalog views/tables, or loose parquet/csv)"))

    // honest monthly: a month column, else any timestamp column, else none
    val monthExpr = df.columns.find(_.equalsIgnoreCase("month"))
      .map(n => col(n).cast("int"))
      .orElse(df.schema.fields
        .find(_.dataType == org.apache.spark.sql.types.TimestampType)
        .map(f => month(col(f.name))))
      .getOrElse(lit(null).cast("int"))
    renderSummaryDoc(spark,
      (scenario.name, scenario.buildingType, scenario.location,
        scenario.floorAreaM2, scenario.simulationPeriod),
      figures(df, monthExpr, lit(null)), 0.0, co2FactorKgPerKwh)
  }

  /** Serializes the one-row summary to a pretty JSON document
    * (reference S11: json.dump(indent=2)).
    */
  def writeSummaryJson(summary: DataFrame, outPath: String): Unit = {
    val json = summary.toJSON.head()
    // pretty-print via Jackson (ships with Spark)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val pretty = mapper.writerWithDefaultPrettyPrinter()
      .writeValueAsString(mapper.readTree(json))
    // a bare filename has no parent component — createDirectories(null) NPEs
    Option(Paths.get(outPath).getParent).foreach(Files.createDirectories(_))
    Files.writeString(Paths.get(outPath), pretty)
  }

  /** Schema gate over an exported document (reference: validate_json.py:29-79):
    * required fields present with the right JSON types. Returns error list
    * (empty = valid).
    */
  def validateSummaryJson(path: String): Seq[String] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(Files.readString(Paths.get(path)))
    val errors = scala.collection.mutable.Buffer[String]()
    def need(path: String, pred: com.fasterxml.jackson.databind.JsonNode => Boolean): Unit = {
      val node = path.split('.').foldLeft(Option(root)) {
        case (Some(n), f) => Option(n.get(f))
        case (None, _) => None
      }
      node match {
        case Some(n) if pred(n) => ()
        case Some(_) => errors += s"wrong type at $path"
        case None => errors += s"missing field: $path"
      }
    }
    need("pipeline", _.isTextual)
    need("generated_at", _.isTextual)
    need("scenario.name", _.isTextual)
    need("scenario.location", _.isTextual)
    need("scenario.floor_area_m2", _.isNumber)
    need("annual.total_kwh", _.isNumber)
    need("annual.heating_kwh", _.isNumber)
    need("annual.cooling_kwh", _.isNumber)
    // an EMPTY array is a legitimate export (summaryFromDir documents it for
    // flat sources with no month/timestamp column — the honest alternative
    // to the reference's fabricated seasonal pattern), so only the TYPE is
    // gated here; per-element checks below still run when entries exist
    need("monthly_breakdown", _.isArray)
    need("kpis.energy_intensity_kwh_m2", _.isNumber)
    need("kpis.annual_co2_tons", _.isNumber)
    need("kpis.peak_demand_kw", _.isNumber)
    need("kpis.comfort_hours_percent", _.isNumber)
    if (root.has("monthly_breakdown") && root.get("monthly_breakdown").isArray) {
      val it = root.get("monthly_breakdown").elements()
      var i = 0
      while (it.hasNext) {
        val m = it.next()
        Seq("month", "heating_kwh", "cooling_kwh", "total_kwh").foreach { f =>
          if (!m.has(f) || !m.get(f).isNumber)
            errors += s"monthly_breakdown[$i]: missing/invalid $f"
        }
        i += 1
      }
    }
    errors.toSeq
  }

  /** JSON-Lines corpus sink — the training-data interchange format (one
    * JSON object per line; every tokenizer/loader stack reads it).
    * `gzip = true` writes .json.gz shards, the on-the-wire norm for text
    * corpora (JSONL compresses 5-10×; Spark reads the shards back with
    * codec auto-detection, splittability traded away per shard — size
    * shards via upstream repartition, not file splits). Column order in
    * each object follows the DataFrame schema, so a stable `select`
    * upstream gives byte-stable lines for downstream checksumming.
    */
  def writeJsonl(df: DataFrame, outDir: String, gzip: Boolean = false): Unit = {
    val w = df.write.mode("overwrite")
    (if (gzip) w.option("compression", "gzip") else w).json(outDir)
  }

  /** Read a JSONL directory under an EXPLICIT schema. Schema-on-read
    * inference is a full extra pass over 100 TB and quietly widens types
    * (ints→bigints, mixed→string); the declared-schema contract matches
    * the engine's CSV stance (Extract's FAILFAST reader). Fields absent
    * from a line surface as NULLs; extra fields are ignored.
    */
  def readJsonl(spark: SparkSession, dir: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema).json(dir)
}
