package graft.etl

import java.nio.file.Files
import graft.SparkSpec
import org.apache.spark.sql.functions._

class LoadExportSpec extends SparkSpec {

  private lazy val schema: Map[String, org.apache.spark.sql.DataFrame] = {
    val dir = SyntheticRuns.tempDir()
    SyntheticRuns.writeFixtureDir(dir)
    Transform.transformAll(spark, Extract.extractRuns(spark, dir.toString))
  }

  test("parquet round-trip preserves row counts and schema") {
    val out = SparkSpec.tempDir("graft_load_").toString
    Load.loadToParquet(schema, out)
    val names = Load.loadParquetDir(spark, out)
    assert(names.toSet == schema.keySet)
    schema.foreach { case (name, df) =>
      assert(spark.table(name).count() == df.count(), s"row count drift in $name")
    }
    assert(spark.table("fact_hvac").schema("cop_proxy").dataType ==
      org.apache.spark.sql.types.DoubleType)
  }

  test("loadParquetDir rejects hostile table names") {
    val out = SparkSpec.tempDir("graft_guard_").toString
    Load.loadToParquet(Map("good_name" -> schema("dim_building")), out)
    // a name the ^[a-zA-Z0-9_]+$ guard must refuse
    val bad = new java.io.File(out, "bad-name;drop.parquet")
    Files.createDirectory(bad.toPath)
    val names = Load.loadParquetDir(spark, out)
    assert(names == Seq("good_name"))
  }

  test("the three views compile and answer the README queries") {
    Load.registerAll(spark, schema)
    val summary = Load.query(spark, Load.AnalyticalQueries.scenarioComparison).collect()
    assert(summary.length == 4) // 2 buildings × 2 scenarios
    val drift = Load.query(spark, Load.AnalyticalQueries.temperatureDrift)
    assert(drift.count() == 12) // 2 buildings × 3 zones × 2 scenarios
    val cop = Load.query(spark, Load.AnalyticalQueries.copVsOutdoorTemp)
    assert(cop.count() > 0)
    // view inner-join semantics: zone view rows = fact rows (clean data)
    assert(spark.table("vw_zone_with_weather").count() ==
      schema("fact_zone_conditions").count())
    // derived column present
    assert(spark.table("vw_zone_with_weather").columns.contains("temp_deviation"))
  }

  test("energy summary view totals match direct aggregation") {
    Load.registerAll(spark, schema)
    val v = spark.table("vw_energy_summary")
      .agg(sum("total_electric_kwh")).head().getDouble(0)
    val direct = schema("fact_meters").agg(sum("electric_kwh")).head().getDouble(0)
    assert(math.abs(v - direct) < 1e-6)
  }

  test("summary aggregates ONLY the selected (building, scenario), not all runs") {
    // fixture = 2 buildings x 2 scenarios; default scope is (B1, BASE)
    val summary = Export.buildSummary(spark, schema)
    val total = summary.select("annual.total_kwh").head().getDouble(0)
    val scoped = schema("fact_meters")
      .filter(col("building_id") === "B1" && col("scenario_id") === "BASE")
      .agg(sum(col("electric_kwh") + col("heating_kwh") + col("cooling_kwh")))
      .head().getDouble(0)
    val global = schema("fact_meters")
      .agg(sum(col("electric_kwh") + col("heating_kwh") + col("cooling_kwh")))
      .head().getDouble(0)
    assert(math.abs(total - scoped) < 1e-6, s"summary total $total != scoped $scoped")
    assert(math.abs(total - global) > 1.0, "summary is still a cross-run mix")
    // explicit scope selection works too
    val eco = Export.buildSummary(spark, schema,
      buildingId = Some("B2"), scenarioId = Some("ECO"))
    assert(eco.select("scenario.name").head().getString(0) === "ECO")
    // and an unknown scope fails with a diagnosable message
    val err = intercept[IllegalArgumentException] {
      Export.buildSummary(spark, schema, buildingId = Some("NOPE"))
    }
    assert(err.getMessage.contains("NOPE"))
  }

  test("JSON export: honestly computed, schema-valid document") {
    Load.registerAll(spark, schema)
    val summary = Export.buildSummary(spark, schema)
    val out = SparkSpec.tempDir("graft_export_").resolve("summary.json")
    Export.writeSummaryJson(summary, out.toString)
    val errors = Export.validateSummaryJson(out.toString)
    assert(errors.isEmpty, errors.mkString("; "))
    // the monthly breakdown is computed from data: 48h fixture = 1 month
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val doc = mapper.readTree(Files.readString(out))
    assert(doc.get("monthly_breakdown").size() == 1)
    assert(doc.get("annual").get("total_kwh").asDouble() > 0)
    // peak demand is a real max, not the reference's hardcoded 850
    assert(doc.get("kpis").get("peak_demand_kw").asDouble() > 0)
    assert(doc.get("kpis").get("comfort_hours_percent").asDouble() >= 0)
  }

  test("summaryFromDir over the default scope's meters agrees with buildSummary") {
    val star = Export.buildSummary(spark, schema).head()
    val dir = SparkSpec.tempDir("graft_s12_agree_")
    schema("fact_meters")
      .where(col("building_id") === "B1" && col("scenario_id") === "BASE")
      .join(schema("dim_time").select("time_key", "month"), Seq("time_key"), "left")
      .write.parquet(dir.resolve("parquet").resolve("meters.parquet").toString)
    val flat = Export.summaryFromDir(spark, dir.toString).head()
    def close(a: Double, b: Double) = math.abs(a - b) <= 1e-9 * math.max(math.abs(a), math.abs(b))
    def figures(r: org.apache.spark.sql.Row) = {
      val a = r.getStruct(r.fieldIndex("annual"))
      (0 until 4).map(a.getDouble) ++
        r.getSeq[org.apache.spark.sql.Row](r.fieldIndex("monthly_breakdown"))
          .flatMap(m => Seq(m.getInt(0).toDouble, m.getDouble(1), m.getDouble(2), m.getDouble(3))) :+
        r.getStruct(r.fieldIndex("kpis")).getAs[Double]("peak_demand_kw")
    }
    val (s, f) = (figures(star), figures(flat))
    assert(s.length == f.length && s.length > 5 && s.zip(f).forall { case (a, b) => close(a, b) },
      s"star $s != flat $f")
  }

  test("S12 fallback tier 1: parquet/ glob prefers meter-named files") {
    val dir = SparkSpec.tempDir("graft_s12a_")
    val pq = dir.resolve("parquet")
    schema("fact_meters").write.parquet(pq.resolve("fact_meters.parquet").toString)
    schema("dim_building").write.parquet(pq.resolve("dim_building.parquet").toString)
    val src = Export.resolveMeterSource(spark, dir.toString)
    assert(src.isDefined)
    // the meter-named file won; the dim was not unioned in
    assert(src.get.columns.contains("electric_kwh"))
    assert(!src.get.columns.contains("building_name"))
    val doc = Export.summaryFromDir(spark, dir.toString)
    val total = doc.select("annual.total_kwh").head().getDouble(0)
    val direct = schema("fact_meters")
      .agg(sum(col("electric_kwh") + col("heating_kwh") + col("cooling_kwh")))
      .head().getDouble(0)
    assert(math.abs(total - direct) < 1e-6)
  }

  test("S12 tier 1 reads schema-aligned multi-file candidates in ONE scan") {
    val dir = SparkSpec.tempDir("graft_s12e_")
    val pq = dir.resolve("parquet")
    // two meter-preferred files, identical schema → one multi-path FileScan
    val firstB = schema("fact_meters").select("building_id").head().getString(0)
    schema("fact_meters").where(col("building_id") === firstB).write
      .parquet(pq.resolve("meters_b1.parquet").toString)
    schema("fact_meters").where(col("building_id") =!= firstB).write
      .parquet(pq.resolve("meters_rest.parquet").toString)
    val src = Export.resolveMeterSource(spark, dir.toString).get
    val scans = src.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.size == 1, "aligned tier-1 files must pack into a single scan")
    assert(src.count() == schema("fact_meters").count(), "no rows lost in the packed read")

    // ragged schemas still union by name via the fallback loop
    val dir2 = SparkSpec.tempDir("graft_s12f_")
    val pq2 = dir2.resolve("parquet")
    schema("fact_meters").drop("cooling_kwh").write
      .parquet(pq2.resolve("meters_a.parquet").toString)
    schema("fact_meters").drop("heating_kwh").write
      .parquet(pq2.resolve("meters_b.parquet").toString)
    val ragged = Export.resolveMeterSource(spark, dir2.toString).get
    assert(ragged.count() == 2 * schema("fact_meters").count())
    assert(ragged.columns.contains("cooling_kwh") && ragged.columns.contains("heating_kwh"),
      "ragged fallback must keep the union of columns, not one footer's subset")
  }

  test("S12 tier 1: files that disagree on a column's type fall through to the next tier") {
    val s = spark.newSession()
    s.catalog.listTables().collect().filter(!_.isTemporary)
      .foreach(t => s.sql(s"DROP TABLE IF EXISTS `${t.name}`"))
    val dir = SparkSpec.tempDir("graft_s12g_")
    val pq = dir.resolve("parquet")
    schema("fact_meters").write.parquet(pq.resolve("meters_a.parquet").toString)
    schema("fact_meters").withColumn("electric_kwh", col("electric_kwh").cast("string"))
      .write.parquet(pq.resolve("meters_b.parquet").toString)
    Files.writeString(dir.resolve("meters.csv"), "electric_kwh\n1.5\n")
    val src = Export.resolveMeterSource(s, dir.toString).get
    assert(src.columns.toSeq == Seq("electric_kwh") && src.count() == 1,
      "the type conflict must skip tier 1 and land on the loose csv")
  }

  test("S12 fallback tier 2: catalog views win when parquet/ is absent or empty") {
    val dir = SparkSpec.tempDir("graft_s12b_")
    // an EMPTY parquet tier must fall through (reference's df.empty check)
    schema("fact_meters").limit(0).write
      .parquet(dir.resolve("parquet").resolve("meters_empty.parquet").toString)
    Load.registerAll(spark, schema)
    val viaView = Export.resolveMeterSource(spark, dir.toString)
    assert(viaView.isDefined)
    // vw_energy_summary is preferred over fact_meters
    assert(viaView.get.columns.sameElements(spark.table("vw_energy_summary").columns))
    spark.catalog.dropTempView("vw_energy_summary")
    val viaFact = Export.resolveMeterSource(spark, dir.toString)
    assert(viaFact.isDefined && viaFact.get.columns.contains("electric_kwh"))
  }

  test("S12 fallback tier 3: loose csv; an empty dir fails loudly") {
    // fresh session = no temp views; drop persistent tables so the
    // any-catalog-table tier cannot win
    val s = spark.newSession()
    s.catalog.listTables().collect().filter(!_.isTemporary)
      .foreach(t => s.sql(s"DROP TABLE IF EXISTS `${t.name}`"))
    val dir = SparkSpec.tempDir("graft_s12c_")
    Files.writeString(dir.resolve("meters.csv"),
      "electric_kwh,heating_kwh\n1.5,2.5\n2.5,3.5\n")
    val doc = Export.summaryFromDir(s, dir.toString)
    assert(doc.select("annual.electric_kwh").head().getDouble(0) == 4.0)
    assert(doc.select("annual.total_kwh").head().getDouble(0) == 10.0)
    // no source at all: loud failure, never the reference's fabricated sample
    val empty = SparkSpec.tempDir("graft_s12d_")
    val err = intercept[IllegalArgumentException] {
      Export.summaryFromDir(s, empty.toString)
    }
    assert(err.getMessage.contains("no non-empty meter-like source"))
  }

  test("export validator rejects a broken document") {
    val p = SparkSpec.tempDir("graft_badjson_").resolve("bad.json")
    Files.writeString(p, """{"pipeline": "x", "annual": {"total_kwh": "oops"}}""")
    val errs = Export.validateSummaryJson(p.toString)
    assert(errs.nonEmpty)
    assert(errs.exists(_.contains("annual.total_kwh")))
    assert(errs.exists(_.contains("monthly_breakdown")))
  }

  test("JSONL sink round-trips unicode, nested structs, arrays, and NULLs; " +
    "gzip shards read back identically") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = Seq(
      (1L, Option("café 日本語 \"quoted\"\nline2"), Seq(1, 2, 3)),
      (2L, Option.empty[String], Seq.empty[Int]))
      .toDF("id", "text", "nums")
      .withColumn("meta", struct(col("id").as("inner_id"),
        lit("x").as("tag")))
    val schema = df.schema
    for (gz <- Seq(false, true)) {
      val out = SparkSpec.tempDir(s"graft_jsonl_$gz").toString
      Export.writeJsonl(df, out, gzip = gz)
      if (gz) {
        val files = new java.io.File(out).listFiles()
          .filter(_.getName.endsWith(".json.gz"))
        assert(files.nonEmpty, "gzip shards expected")
      }
      val back = Export.readJsonl(spark, out, schema)
      assert(back.exceptAll(df).isEmpty && df.exceptAll(back).isEmpty,
        s"JSONL round-trip mismatch (gzip=$gz)")
    }
    // absent fields -> NULL; extra fields ignored (the schema-on-read
    // contract stated in the scaladoc)
    val loose = SparkSpec.tempDir("graft_jsonl_loose")
    Files.writeString(loose.resolve("part-0.json"),
      """{"id": 7, "unexpected": true}""" + "\n")
    val readBack = Export.readJsonl(spark, loose.toString, schema).collect()
    assert(readBack.length == 1 && readBack(0).getLong(0) == 7L &&
      readBack(0).isNullAt(schema.fieldIndex("text")))
  }
}
