package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Data-quality suite (SURVEY §2.9; reference src/etl/validate/__init__.py).
  * Errors are collected into a structured report, never thrown — validation
  * is an analysis surface, not an exception path. A rule or table whose
  * columns are absent is skipped by checks 2–4: [[checkSchema]] reports
  * those columns as missing.
  *
  * Checks 1–3 count violations one way: `count(when(rule, 1))` columns
  * observed ([[Observe.instrument]]) on the ONE action that consumes the
  * relation. In `Pipeline.run` that action is each table's staging write,
  * so checks 1 and 2 cost no job of their own ([[observeRules]], then
  * [[report]]); [[validateAll]], [[checkSchema]] and [[checkValueRanges]]
  * run one noop-sink write per table, counting its null and range rules
  * together, and check 3 is one such write over all facts. Its gap count
  * keeps the `lag` window over `dim_time` (one row per hour): a window-free
  * formula misses pairs 1 h apart with a timestamp between them (00:00,
  * 00:30, 01:00 has 2 gaps, not 1).
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

  /** Rows where `predicate` holds violate the rule; n > 0 of them report `message(n)`. */
  private final case class Rule(predicate: Column, message: Long => String)

  /** `df` with one observed count per rule, or `None` when there are no
    * rules, and each rule's error, if any. The counts ride the action
    * that consumes the observed frame — a staging write, or [[consume]]
    * when the caller runs none — and reading the errors blocks until it
    * has run. A NULL predicate is no violation: a NULL is not out of
    * range (check 1's job).
    */
  private def violations(df: DataFrame, name: String,
      rules: Seq[Rule]): (Option[DataFrame], () => Seq[Option[String]]) =
    if (rules.isEmpty) (None, () => Nil) else {
      val (observed, obs) = Observe.instrument(df, name,
        rules.indices.map(i => s"r$i" -> count(when(rules(i).predicate, 1))): _*)
      (Some(observed), () => {
        val counts = obs.get
        rules.indices.map(i => Some(counts(s"r$i").asInstanceOf[Long]).filter(_ > 0)
          .map(rules(i).message))
      })
    }

  /** The one action that counts an observed frame when nothing else
    * consumes it: the noop sink runs 1 job, where an aggregate's `head()`
    * runs 2.
    */
  private def consume(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Check 1's rules: no NULL in a present `nullable = false` column. */
  private def nullRules(table: String, df: DataFrame): Seq[Rule] =
    Schemas.starSchema.get(table).toSeq.flatMap(_.fields)
      .filter(f => !f.nullable && df.columns.contains(f.name))
      .map(f => Rule(col(f.name).isNull, n => s"$table.${f.name}: $n null values"))

  /** Check 2's rules for `table`, in declared [[rangeRules]] order. */
  private def rangeRulesOf(table: String, df: DataFrame): Seq[Rule] =
    rangeRules.collect { case (`table`, column, lo, hi) if df.columns.contains(column) =>
      val (predicate, bound) =
        if (hi.isPosInfinity) (col(column) < lo, s">= $lo")
        else (col(column) < lo || col(column) > hi, s"in [$lo, $hi]")
      Rule(predicate, n => s"$table.$column: $n values not $bound")
    }

  /** Checks 1 and 2 of one table, counted on the action that consumes the
    * frame [[observeRules]] returned with them; reading them blocks until
    * that action has run.
    */
  final class RuleCounts private[Validate] (read: () => (Seq[String], Seq[String])) {
    private[Validate] lazy val (nullErrors, rangeErrors) = read()
  }

  /** `df` with checks 1 and 2 of `table` attached as observed metrics: the
    * action that consumes the returned frame counts them, at no extra job.
    */
  def observeRules(table: String, df: DataFrame): (DataFrame, RuleCounts) = {
    val (observed, counts) = rulesOn(table, df, nulls = true, ranges = true)
    (observed.getOrElse(df), counts)
  }

  /** A table's null rules (if `nulls`) and range rules (if `ranges`) as
    * observed counts; `None` when the table has none of them.
    */
  private def rulesOn(table: String, df: DataFrame, nulls: Boolean,
      ranges: Boolean): (Option[DataFrame], RuleCounts) = {
    val nr = if (nulls) nullRules(table, df) else Nil
    val rr = if (ranges) rangeRulesOf(table, df) else Nil
    val (observed, errors) = violations(df, s"checks_1_2.$table", nr ++ rr)
    (observed, new RuleCounts(() => {
      val (n, r) = errors().splitAt(nr.size)
      (n.flatten, r.flatten)
    }))
  }

  /** Checks 1 and 2 with no action of the caller's: each table that has
    * rules runs ONE noop-sink action that counts them all.
    */
  private def counted(schema: Map[String, DataFrame], nulls: Boolean,
      ranges: Boolean): Map[String, RuleCounts] =
    schema.map { case (table, df) =>
      val (observed, counts) = rulesOn(table, df, nulls, ranges)
      observed.foreach(consume)
      table -> counts
    }

  /** Checks 1 and 2 from each table's counts; missing tables and columns
    * on the driver.
    */
  private def nullsAndRanges(schema: Map[String, DataFrame],
      counted: Map[String, RuleCounts]): (CheckResult, CheckResult) = {
    val schemaErrors = Schemas.starSchema.toSeq.sortBy(_._1).flatMap { case (name, expected) =>
      schema.get(name) match {
        case None => Seq(s"missing table: $name")
        case Some(df) => expected.fieldNames.toSeq.filterNot(df.columns.contains)
          .map(c => s"$name: missing column $c") ++ counted(name).nullErrors
      }
    }
    val rangeErrors = rangeRules.map(_._1).distinct
      .flatMap(t => counted.get(t).toSeq.flatMap(_.rangeErrors))
    (result(schemaErrors), result(rangeErrors))
  }

  private def result(errors: Seq[String]): CheckResult = CheckResult(errors.isEmpty, errors)

  /** Check 1 — schema: table presence, column presence, nulls in every
    * column [[Schemas.starSchema]] declares `nullable = false` (reference:
    * validate/__init__.py:18-57, allow-list at :31-34).
    */
  def checkSchema(schema: Map[String, DataFrame]): CheckResult =
    nullsAndRanges(schema, counted(schema, nulls = true, ranges = false))._1

  /** Check 2 — value ranges (reference: validate/__init__.py:60-139). */
  def checkValueRanges(schema: Map[String, DataFrame]): CheckResult =
    nullsAndRanges(schema, counted(schema, nulls = false, ranges = true))._2

  /** Check 3 — temporal coverage (reference: validate/__init__.py:142-182):
    * non-hourly gaps between consecutive `dim_time` timestamps, and per fact
    * the `dim_time` rows whose `time_key` it lacks. `dim_time`'s keys × the
    * fact tags are anti-joined once against the distinct tagged fact keys,
    * so a NULL key, and each row of a duplicated missing key, counts as
    * missing. Gap rows tagged `dim_time` ride in the same aggregate.
    */
  def checkTemporalCoverage(schema: Map[String, DataFrame]): CheckResult = {
    val gaps = present(schema, "dim_time", "timestamp").map(_
      .withColumn("prev_ts", lag(col("timestamp"), 1).over(Window.orderBy("timestamp")))
      .where(col("prev_ts").isNotNull &&
        col("timestamp").cast("long") - col("prev_ts").cast("long") =!= 3600L)
      .select(lit("dim_time").as("tag")))
    val facts = Seq("fact_zone_conditions", "fact_hvac", "fact_meters", "fact_weather")
      .filter(present(schema, _, "time_key").nonEmpty)
    val missing = for {
      dimTime <- present(schema, "dim_time", "time_key")
      covered <- facts.map(f => schema(f).select(col("time_key"), lit(f).as("tag")))
        .reduceOption(_ union _)
    } yield dimTime.select(col("time_key"), explode(array(facts.map(lit): _*)).as("tag"))
      .join(covered.distinct(), Seq("time_key", "tag"), "left_anti").select("tag")
    val rules = Rule(col("tag") === "dim_time",
      n => s"dim_time: $n non-hourly gaps between consecutive timestamps") +:
      facts.map(f => Rule(col("tag") === f, n => s"$f: $n time keys with no rows"))
    result((gaps.toSeq ++ missing).reduceOption(_ union _).toSeq.flatMap { rel =>
      val (observed, errors) = violations(rel, "temporal_coverage", rules)
      observed.foreach(consume)
      errors().flatten
    })
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
    result(errors)
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
  def validateAll(spark: SparkSession, schema: Map[String, DataFrame]): ValidationReport =
    report(schema, counted(schema, nulls = true, ranges = true))

  /** The report over `schema` whose checks 1 and 2 were already counted:
    * by [[observeRules]] on the action that consumed each table, or by
    * [[validateAll]]. Checks 3 and 4 run here.
    */
  def report(schema: Map[String, DataFrame], counted: Map[String, RuleCounts]): ValidationReport = {
    val (schemaCheck, rangeCheck) = nullsAndRanges(schema, counted)
    val checks = Map(
      "schema" -> schemaCheck,
      "value_ranges" -> rangeCheck,
      "temporal_coverage" -> checkTemporalCoverage(schema),
      "energy_plausibility" -> checkEnergyPlausibility(schema))
    ValidationReport(checks.values.forall(_.valid), checks)
  }
}
