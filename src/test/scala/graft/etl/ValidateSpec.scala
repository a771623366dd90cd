package graft.etl

import graft.SparkSpec

class ValidateSpec extends SparkSpec {

  private def buildSchema(corrupt: Map[String, Double] = Map.empty,
      hours: Int = 24): Map[String, org.apache.spark.sql.DataFrame] = {
    val dir = SyntheticRuns.tempDir()
    SyntheticRuns.writeRunZip(dir,
      SyntheticRuns.Spec("B1", "BASE", hours = hours, corrupt = corrupt))
    Transform.transformAll(spark, Extract.extractRuns(spark, dir.toString))
  }

  test("clean data passes all four checks") {
    val report = Validate.validateAll(spark, buildSchema())
    assert(report.isValid, report.render)
    assert(report.checks.keySet ==
      Set("schema", "value_ranges", "temporal_coverage", "energy_plausibility"))
  }

  test("nullable allow-list: cop_proxy NULLs do not fail the schema check") {
    val schema = buildSchema()
    import org.apache.spark.sql.functions.col
    assert(schema("fact_hvac").where(col("cop_proxy").isNull).count() > 0)
    assert(Validate.checkSchema(schema).valid)
  }

  test("50C zone temperature fails the range check") {
    val report = Validate.validateAll(spark, buildSchema(Map("air_temp_C" -> 50.0)))
    assert(!report.isValid)
    val rr = report.checks("value_ranges")
    assert(!rr.valid && rr.errors.exists(_.contains("air_temp_C")))
  }

  test("negative power fails the range check") {
    val rr = Validate.checkValueRanges(buildSchema(Map("power_kw" -> -5.0)))
    assert(!rr.valid && rr.errors.exists(_.contains("power_kw")))
  }

  test("range check runs ONE aggregate action per table, not one per rule") {
    val schema = buildSchema()
    val nTables = Validate.rangeRules.map(_._1).distinct.count(schema.contains)
    val actions = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        actions.incrementAndGet()
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      assert(Validate.checkValueRanges(schema).valid)
      // the listener bus is async: wait for the counter to settle
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      var last = -1
      while (System.nanoTime() < deadline && actions.get() != last) {
        last = actions.get(); Thread.sleep(300)
      }
      assert(actions.get() == nTables,
        s"expected $nTables fused aggregate actions (one per table), saw ${actions.get()}")
    } finally spark.listenerManager.unregister(listener)
  }

  test("a temporal gap is detected") {
    import org.apache.spark.sql.functions._
    val schema = buildSchema()
    // drop 3 interior hours from dim_time's source: simulate by filtering facts+time
    val gappy = schema.updated("dim_time",
      schema("dim_time").where(!col("hour").isin(5, 6, 7)))
    val tc = Validate.checkTemporalCoverage(gappy)
    assert(!tc.valid && tc.errors.exists(_.contains("gap")))
  }

  test("temporal gaps count consecutive timestamps not 1 h apart: half-hour " +
    "steps give 2, one dropped interior hour gives 1") {
    import spark.implicits._
    def gapErrors(ts: String*) = {
      val dimTime = ts.zipWithIndex
        .map { case (t, i) => (i + 1L, java.sql.Timestamp.valueOf(s"2024-01-01 $t:00")) }
        .toDF("time_key", "timestamp")
      Validate.checkTemporalCoverage(Map("dim_time" -> dimTime)).errors
    }
    def msg(n: Int) = s"dim_time: $n non-hourly gaps between consecutive timestamps"
    assert(gapErrors("00:00", "00:30", "01:00") == Seq(msg(2)))
    assert(gapErrors("00:00", "01:00", "03:00", "04:00") == Seq(msg(1)))
  }

  test("temporal coverage counts each fact's dim_time keys with no rows: a " +
    "NULL key counts as missing, a fact without time_key is skipped") {
    import spark.implicits._
    // keys 1, 2, 3, 3, NULL at contiguous hours: no gaps
    val dimTime = Seq(Some(1L), Some(2L), Some(3L), Some(3L), None).zipWithIndex
      .map { case (k, i) => (k, java.sql.Timestamp.valueOf(s"2024-01-01 0$i:00:00")) }
      .toDF("time_key", "timestamp")
    val schema = Map(
      "dim_time" -> dimTime,
      "fact_hvac" -> Seq(1L, 2L, 3L, 99L).toDF("time_key"), // misses the NULL row
      "fact_meters" -> Seq(1L, 1L).toDF("time_key"), // misses 2, both 3s and NULL
      "fact_weather" -> Seq(1L).toDF("hour"))
    assert(Validate.checkTemporalCoverage(schema).errors == Seq(
      "fact_hvac: 1 time keys with no rows",
      "fact_meters: 4 time keys with no rows"))
    assert(Validate.checkTemporalCoverage(Map("dim_time" -> dimTime)) ==
      Validate.CheckResult(valid = true, Nil))
  }

  test("validateAll runs 11 actions on a full schema: one aggregate per " +
    "table for checks 1 and 2, one for coverage, one for plausibility") {
    val schema = buildSchema()
    val actions = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        actions.incrementAndGet()
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      assert(Validate.validateAll(spark, schema).isValid)
      // the listener bus is async: wait for the counter to settle
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      var last = -1
      while (System.nanoTime() < deadline && actions.get() != last) {
        last = actions.get(); Thread.sleep(300)
      }
      assert(schema.size == 9)
      assert(actions.get() == 11, s"expected 11 actions, saw ${actions.get()}")
    } finally spark.listenerManager.unregister(listener)
  }

  test("implausible energy ratio is flagged") {
    import org.apache.spark.sql.functions._
    val schema = buildSchema()
    val weak = schema.updated("fact_meters",
      schema("fact_meters").withColumn("electric_kwh", lit(0.1)))
    val ep = Validate.checkEnergyPlausibility(weak)
    assert(!ep.valid && ep.errors.exists(_.contains("electric")))
  }

  test("missing table is reported by the schema check") {
    val r = Validate.checkSchema(buildSchema() - "fact_weather")
    assert(!r.valid && r.errors.contains("missing table: fact_weather"))
  }

  test("missing columns are reported by the schema check, never thrown by " +
    "checks 2-4") {
    val full = buildSchema()
    val dropped = Map(
      "fact_zone_conditions" -> "co2_ppm", // a range rule's column
      "fact_meters" -> "electric_kwh", // the energy plausibility check's
      "fact_weather" -> "time_key") // the temporal coverage check's
    val schema = full ++ dropped.map { case (t, c) => t -> full(t).drop(c) }
    val report = Validate.validateAll(spark, schema)
    assert(!report.isValid)
    val text = report.render
    assert(text.startsWith("Validation FAILED"), text)
    dropped.foreach { case (t, c) =>
      assert(text.contains(s"$t: missing column $c"), text)
    }
    assert(report.checks("value_ranges").valid, text)
    assert(report.checks("temporal_coverage").valid, text)
    assert(report.checks("energy_plausibility").valid, text)
  }

  test("profile counts rows/nulls/distincts per column and plans without " +
    "an Expand") {
    import spark.implicits._
    val df = Seq(
      (1L, Option("a"), Option(10)),
      (2L, Option("a"), Option.empty[Int]),
      (3L, Option.empty[String], Option(10)),
      (4L, Option("b"), Option(20)))
      .toDF("id", "s", "n")
    val prof = Validate.profile(df, Seq("id", "s", "n"))
    val got = prof.collect().map(r => r.getString(0) ->
      ((r.getLong(1), r.getLong(2), r.getLong(3),
        Option(r.getString(4)), Option(r.getString(5))))).toMap
    assert(got === Map(
      "id" -> ((4L, 0L, 4L, Some("1"), Some("4"))),
      "s" -> ((4L, 1L, 2L, Some("a"), Some("b"))),
      // distincts exclude NULL; min/max string-rendered ("10" < "20")
      "n" -> ((4L, 1L, 2L, Some("10"), Some("20")))))
    // the two-stage shape exists to avoid count_distinct's Expand blow-up
    assert(!prof.queryExecution.executedPlan.toString.contains("Expand"),
      "profile should not plan an Expand")
  }
}
