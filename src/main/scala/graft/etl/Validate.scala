package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Data-quality suite (SURVEY §2.9; reference src/etl/validate/__init__.py).
  * Errors are collected into a structured report, never thrown — validation
  * is an analysis surface, not an exception path. A rule or table whose
  * columns are absent is skipped by checks 2–4: [[checkSchema]] reports
  * those columns as missing.
  *
  * Each check fuses its per-column/per-rule counts into one aggregate pass
  * per table (checkSchema: all null counts in one agg; checkValueRanges:
  * all of a table's range rules in one agg) — at 100 TB the whole suite
  * costs one scan per (check, table), never one per rule.
  */
object Validate {

  final case class CheckResult(valid: Boolean, errors: Seq[String])
  final case class ValidationReport(isValid: Boolean, checks: Map[String, CheckResult]) {
    /** Pretty-printer (reference: validate/__init__.py:299-323). */
    def render: String = {
      val sb = new StringBuilder
      sb.append(s"Validation ${if (isValid) "PASSED" else "FAILED"}\n")
      checks.toSeq.sortBy(_._1).foreach { case (name, r) =>
        sb.append(s"  [${if (r.valid) "ok" else "FAIL"}] $name\n")
        r.errors.foreach(e => sb.append(s"    - $e\n"))
      }
      sb.toString
    }
  }

  /** Value-range rules (reference: validate/__init__.py:77-137; limits also
    * in config.yaml:34-49): table → (column, lo, hi). Unbounded side = ∞.
    */
  val rangeRules: Seq[(String, String, Double, Double)] = Seq(
    ("fact_zone_conditions", "air_temp_C", 10.0, 35.0),
    ("fact_zone_conditions", "co2_ppm", 400.0, 2500.0),
    ("fact_zone_conditions", "rh_pct", 0.0, 100.0),
    ("fact_weather", "drybulb_C", -30.0, 40.0),
    ("fact_weather", "ghi_W_m2", 0.0, Double.PositiveInfinity),
    ("fact_hvac", "power_kw", 0.0, Double.PositiveInfinity),
    ("fact_hvac", "heating_kw", 0.0, Double.PositiveInfinity),
    ("fact_hvac", "cooling_kw", 0.0, Double.PositiveInfinity),
    ("fact_meters", "electric_kwh", 0.0, Double.PositiveInfinity),
    ("fact_meters", "heating_kwh", 0.0, Double.PositiveInfinity),
    ("fact_meters", "cooling_kwh", 0.0, Double.PositiveInfinity))

  /** `table` when it is present with every one of `columns`. */
  private def present(schema: Map[String, DataFrame], table: String,
      columns: String*): Option[DataFrame] =
    schema.get(table).filter(df => columns.forall(df.columns.contains))

  /** Check 1 — schema: table presence, column presence, nulls in every
    * column [[Schemas.starSchema]] declares `nullable = false` (reference:
    * validate/__init__.py:18-57, allow-list at :31-34). All column null
    * counts for a table come from ONE aggregate pass.
    */
  def checkSchema(schema: Map[String, DataFrame]): CheckResult = {
    val errors = Schemas.starSchema.toSeq.sortBy(_._1).flatMap { case (name, expected) =>
      schema.get(name) match {
        case None => Seq(s"missing table: $name")
        case Some(df) =>
          val actualCols = df.columns.toSet
          val missingCols = expected.fieldNames.filterNot(actualCols.contains)
          val colErrors = missingCols.map(c => s"$name: missing column $c")
          val checkable = expected.fields.filter(f => !f.nullable && actualCols(f.name))
            .map(_.name)
          val nullErrors = if (checkable.isEmpty) Seq.empty else {
            val counts = df.agg(
              count(lit(1)).as("__n"),
              checkable.toIndexedSeq.map(c => count(when(col(c).isNull, 1)).as(c)): _*).head()
            checkable.zipWithIndex.collect {
              case (c, i) if counts.getLong(i + 1) > 0 =>
                s"$name.$c: ${counts.getLong(i + 1)} null values"
            }.toSeq
          }
          colErrors ++ nullErrors
      }
    }
    CheckResult(errors.isEmpty, errors)
  }

  /** Check 2 — value ranges (reference: validate/__init__.py:60-139).
    * All of a table's rules are counted in ONE aggregate pass (the
    * [[checkSchema]] pattern): 11 rules cost 3 table scans, not 11.
    * `count(when(pred,1))` skips NULLs exactly like the per-rule
    * `filter(pred).count()` it replaces (NULL comparisons are not
    * violations — nulls are check 1's job).
    */
  def checkValueRanges(schema: Map[String, DataFrame]): CheckResult = {
    def violation(column: String, lo: Double, hi: Double) =
      if (hi.isPosInfinity) col(column) < lo
      else col(column) < lo || col(column) > hi

    // one fused aggregate per table → rule-index → violation count
    val counted: Map[Int, Long] = rangeRules.zipWithIndex
      .groupBy { case ((table, _, _, _), _) => table }
      .flatMap { case (table, rules) =>
        schema.get(table).toSeq.flatMap { df =>
          val live = rules.filter { case ((_, column, _, _), _) =>
            df.columns.contains(column) }
          val aggs = live.map { case ((_, column, lo, hi), idx) =>
            count(when(violation(column, lo, hi), 1)).as(s"v$idx")
          }
          if (aggs.isEmpty) Nil else {
            val row = df.agg(aggs.head, aggs.tail: _*).head()
            live.map(_._2).zipWithIndex.map { case (idx, i) => idx -> row.getLong(i) }
          }
        }
      }

    // report in declared rule order, independent of the groupBy's ordering
    val errors = rangeRules.zipWithIndex.flatMap { case ((table, column, lo, hi), idx) =>
      counted.get(idx).filter(_ > 0).map { n =>
        val bound = if (hi.isPosInfinity) s">= $lo" else s"in [$lo, $hi]"
        s"$table.$column: $n values not $bound"
      }
    }
    CheckResult(errors.isEmpty, errors)
  }

  /** Check 3 — temporal coverage: hourly-gap detection on dim_time (lag
    * diff ≠ 1h) + per-fact time_key coverage via anti-join
    * (reference: validate/__init__.py:142-182).
    */
  def checkTemporalCoverage(schema: Map[String, DataFrame]): CheckResult = {
    val errors = scala.collection.mutable.Buffer[String]()
    present(schema, "dim_time", "timestamp").foreach { dimTime =>
      val gaps = dimTime
        .withColumn("prev_ts", lag(col("timestamp"), 1).over(Window.orderBy("timestamp")))
        .where(col("prev_ts").isNotNull &&
          col("timestamp").cast("long") - col("prev_ts").cast("long") =!= 3600L)
        .count()
      if (gaps > 0) errors += s"dim_time: $gaps non-hourly gaps between consecutive timestamps"
    }
    present(schema, "dim_time", "time_key").foreach { dimTime =>
      Seq("fact_zone_conditions", "fact_hvac", "fact_meters", "fact_weather").foreach { fact =>
        present(schema, fact, "time_key").foreach { df =>
          val missing = dimTime.select("time_key")
            .join(df.select("time_key"), Seq("time_key"), "left_anti")
            .count()
          if (missing > 0) errors += s"$fact: ${missing} time keys with no rows"
        }
      }
    }
    CheckResult(errors.isEmpty, errors.toSeq)
  }

  /** Check 4 — energy plausibility: per (building, scenario) totals must be
    * positive and electric >= 0.2 × (heating + cooling)
    * (reference: validate/__init__.py:185-229, rule at :222).
    */
  def checkEnergyPlausibility(schema: Map[String, DataFrame]): CheckResult = {
    val errors = present(schema, "fact_meters", "building_id", "scenario_id",
        "electric_kwh", "heating_kwh", "cooling_kwh").toSeq.flatMap { meters =>
      // both business rules run INSIDE the aggregation plan as when()
      // predicates, so the check is fully distributed and only VIOLATING
      // groups ever reach the driver — bounded by the violation count, not
      // the (building × scenario) cardinality. sum() is NULL when a group's
      // values are all NULL — exactly the dirty data this check exists to
      // report, so coalesce to 0 (which trips the non-positive rule), not NPE
      val violations = meters.groupBy(col("building_id"), col("scenario_id"))
        .agg(
          coalesce(sum(col("electric_kwh")), lit(0.0)).as("e"),
          (coalesce(sum(col("heating_kwh")), lit(0.0))
            + coalesce(sum(col("cooling_kwh")), lit(0.0))).as("th"))
        .select(col("building_id"), col("scenario_id"), col("e"), col("th"),
          (col("e") <= 0.0 || col("th") <= 0.0).as("bad_total"),
          (col("e") < col("th") * 0.2).as("bad_ratio"))
        .where(col("bad_total") || col("bad_ratio"))
        .collect()
      violations.toSeq.flatMap { r =>
        val key = s"${r.getString(0)}/${r.getString(1)}"
        val (e, th) = (r.getDouble(2), r.getDouble(3))
        val totalErr =
          if (r.getBoolean(4)) Some(s"$key: non-positive energy totals") else None
        val ratioErr =
          if (r.getBoolean(5))
            Some(f"$key: electric ($e%.1f kWh) < 0.2 x thermal ($th%.1f kWh)")
          else None
        totalErr.toSeq ++ ratioErr.toSeq
      }
    }
    CheckResult(errors.isEmpty, errors)
  }

  /** Per-column table profile — the "dataset card" a pipeline publishes
    * with every corpus drop and the first read before writing any range
    * rule: row count, NULL count, exact distinct count, lexicographic
    * min/max, one row per column. Values profile through their STRING
    * rendering (one schema for every column type; min/max are therefore
    * byte-order, documented — numeric range rules live in
    * [[checkValueRanges]]).
    *
    * Shape at 100 TB: the table stacks to (col_name, value) pairs in the
    * scan projection — ONE pass over the data — then aggregates in TWO
    * hash stages: first keyed on (col_name, value), which distributes by
    * value content (no hot keys, map-side combine collapses repeats),
    * then keyed on col_name over the already-distinct remainder. The
    * two-stage form exists to avoid the single-stage alternative's
    * count_distinct Expand (×columns row blow-up) AND its |columns|-key
    * shuffle skew.
    */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "need at least one column to profile")
    val pairs = df.select(explode(array(cols.map(c =>
      struct(lit(c).as("col_name"), col(c).cast("string").as("v"))): _*)).as("p"))
      .select(col("p.col_name").as("col_name"), col("p.v").as("v"))
    pairs.groupBy(col("col_name"), col("v"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("col_name"))
      .agg(
        sum(col("cnt")).as("n_rows"),
        sum(when(col("v").isNull, col("cnt")).otherwise(0L)).as("n_nulls"),
        count(col("v")).as("n_distinct"),
        min(col("v")).as("min_str"),
        max(col("v")).as("max_str"))
  }

  /** All four checks → report (reference: validate/__init__.py:232-296). */
  def validateAll(spark: SparkSession, schema: Map[String, DataFrame]): ValidationReport = {
    val checks = Map(
      "schema" -> checkSchema(schema),
      "value_ranges" -> checkValueRanges(schema),
      "temporal_coverage" -> checkTemporalCoverage(schema),
      "energy_plausibility" -> checkEnergyPlausibility(schema))
    ValidationReport(checks.values.forall(_.valid), checks)
  }
}
