package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Star-schema construction (SURVEY §2.2-§2.7; reference
  * src/etl/transform/__init__.py:13-445), re-planned for Spark:
  *
  *   - per-run frames are unioned FIRST, then dims join once — the reference
  *     loops runs and joins per run (an O(runs) driver loop); here the union
  *     is a single lazy plan and each dim join is one broadcast hash join;
  *   - surrogate keys come from `row_number` over an explicit orderBy — a
  *     deliberate single-partition window, acceptable because it only ever
  *     runs on the *distinct key domain* (zones, AHUs, timestamps), which is
  *     orders of magnitude smaller than the facts at any scale;
  *   - `cop_proxy` divides only when power_kw >= 1.0 (the reference's exact
  *     guard, transform/__init__.py:269-274) and emits SQL NULL, not NaN;
  *   - dow uses the pandas convention Mon=0 (Spark dayofweek is Sun=1 →
  *     (dayofweek+5)%7), is_weekend = dow >= 5;
  *   - weather is building-independent: taken once (the reference's manual
  *     common-subexpression decision, transform/__init__.py:373-382) and
  *     fanned out per building with a crossJoin.
  */
object Transform {

  /** The runs' member frames unioned across runs: zones tagged with
    * `__ord` (position in the sorted-zip run list) so dim_zone's name
    * dedup is first-seen BY RUN (the reference keeps the first run's
    * zone_name for a renamed zone), not partition luck; weather is
    * identical across runs, so read once (reference :373-382).
    */
  private final case class Unioned(zones: DataFrame, hvac: DataFrame,
      meters: DataFrame, weather: DataFrame)

  private def unioned(runs: Seq[RunData]): Unioned = {
    require(runs.nonEmpty, "no runs to transform")
    Unioned(
      runs.map(_.zones).zipWithIndex
        .map { case (df, i) => df.withColumn("__ord", lit(i)) }
        .reduce(_ unionByName _),
      runs.map(_.hvac).reduce(_ unionByName _),
      runs.map(_.meters).reduce(_ unionByName _),
      runs.head.weather)
  }

  /** Star schema over the extracted runs: [[dims]] plus the [[facts]]
    * keyed against them. Fact→dim joins are left joins (reference
    * `how='left'`): unmatched fact rows survive with NULL keys — the Load
    * views later apply inner semantics (the intentional asymmetry,
    * SURVEY §4.2).
    */
  def transformAll(spark: SparkSession, runs: Seq[RunData]): Map[String, DataFrame] = {
    val d = dims(spark, runs)
    d ++ facts(spark, runs, d)
  }

  /** The five dimension tables of the star schema. */
  def dims(spark: SparkSession, runs: Seq[RunData]): Map[String, DataFrame] = {
    import spark.implicits._
    val u = unioned(runs)
    // ---- dims from the run metadata the driver already holds (first-seen
    // dedup per key in run-list order; reference :29-41, :61-71)
    val metas = runs.map(_.metadata)
    val dimBuilding = metas.distinctBy(_.building_id).sortBy(_.building_id)
      .map(m => (m.building_id, m.building_name, m.location, m.floor_area_m2))
      .toDF("building_id", "building_name", "location", "floor_area_m2")
    val dimScenario = metas.distinctBy(_.scenario_id).sortBy(_.scenario_id)
      .map(m => (m.scenario_id, m.description))
      .toDF("scenario_id", "description")

    // ---- dim_zone / dim_ahu: distinct ids, sorted, keyed (reference :75-145)
    // min(struct(__ord, name)), not dropDuplicates: dropDuplicates keeps a
    // partition-order-dependent row. Ordering by (__ord, name) gives the
    // reference's first-seen-by-run semantics for a zone renamed between
    // runs, with a deterministic min-name tiebreak within one run.
    val dimZone = u.zones
      .groupBy($"building_id", $"zone_id")
      .agg(min(struct($"__ord", $"zone_name")).as("m"))
      .select($"building_id", $"zone_id", $"m.zone_name".as("zone_name"))
      .withColumn("zone_key",
        row_number().over(Window.orderBy($"building_id", $"zone_id")).cast("long"))
      .select($"zone_key", $"building_id", $"zone_id", $"zone_name")

    val dimAhu = u.hvac.select($"building_id", $"ahu_id")
      .dropDuplicates("building_id", "ahu_id")
      .withColumn("ahu_key",
        row_number().over(Window.orderBy($"building_id", $"ahu_id")).cast("long"))
      .select($"ahu_key", $"building_id", $"ahu_id")

    // ---- dim_time: distinct timestamps across all four sources (reference :148-186)
    val allTs = Seq(u.zones, u.hvac, u.meters, u.weather)
      .map(_.select($"timestamp"))
      .reduce(_ union _)
      .distinct()
    val dowCol = ((dayofweek($"timestamp") + lit(5)) % 7).cast("int")
    val dimTime = allTs
      .withColumn("time_key", row_number().over(Window.orderBy($"timestamp")).cast("long"))
      .select(
        $"time_key",
        $"timestamp",
        year($"timestamp").as("year"),
        month($"timestamp").as("month"),
        dayofmonth($"timestamp").as("day"),
        hour($"timestamp").as("hour"),
        dowCol.as("dow"),
        (dowCol >= 5).as("is_weekend"))

    Map(
      "dim_building" -> dimBuilding,
      "dim_scenario" -> dimScenario,
      "dim_zone" -> dimZone,
      "dim_ahu" -> dimAhu,
      "dim_time" -> dimTime)
  }

  /** The four fact tables, keyed against `dims` — [[dims]]' frames, or
    * the same tables read back from where they were written, so the
    * facts do not recompute them.
    */
  def facts(spark: SparkSession, runs: Seq[RunData],
      dims: Map[String, DataFrame]): Map[String, DataFrame] = {
    import spark.implicits._
    val u = unioned(runs)
    // Dim lookups for fact keying: slim inputs, broadcast. (The reference
    // passes dim_time[['time_key','timestamp']] by hand; Catalyst prunes
    // columns for us — the broadcast hint is the actual scale decision.)
    val timeKey = broadcast(dims("dim_time").select($"time_key", $"timestamp"))
    val zoneKey = broadcast(dims("dim_zone").select($"zone_key", $"building_id", $"zone_id"))
    val ahuKey  = broadcast(dims("dim_ahu").select($"ahu_key", $"building_id", $"ahu_id"))

    // ---- fact_zone_conditions (reference :189-241)
    val factZone = u.zones
      .join(timeKey, Seq("timestamp"), "left")
      .join(zoneKey, Seq("building_id", "zone_id"), "left")
      .select($"time_key", $"zone_key", $"scenario_id",
        $"air_temp_C", $"setpoint_C", $"co2_ppm", $"rh_pct")

    // ---- fact_hvac with guarded cop_proxy (reference :244-307)
    val factHvac = u.hvac
      .join(timeKey, Seq("timestamp"), "left")
      .join(ahuKey, Seq("building_id", "ahu_id"), "left")
      .withColumn("cop_proxy",
        when($"power_kw" >= 1.0, ($"heating_kw" + $"cooling_kw") / $"power_kw")
          .otherwise(lit(null).cast("double")))
      .select($"time_key", $"ahu_key", $"scenario_id",
        $"supply_temp_C", $"return_temp_C", $"power_kw",
        $"cooling_kw", $"heating_kw", $"cop_proxy")

    // ---- fact_meters (reference :310-356)
    val factMeters = u.meters
      .join(timeKey, Seq("timestamp"), "left")
      .select($"time_key", $"building_id", $"scenario_id",
        $"electric_kwh", $"heating_kwh", $"cooling_kwh")

    // ---- fact_weather fanned out per building (reference :359-409, J6)
    val factWeather = u.weather
      .join(timeKey, Seq("timestamp"), "left")
      .crossJoin(broadcast(dims("dim_building").select($"building_id")))
      .select($"time_key", $"building_id", $"drybulb_C", $"relhum_pct", $"ghi_W_m2")

    Map(
      "fact_zone_conditions" -> factZone,
      "fact_hvac" -> factHvac,
      "fact_meters" -> factMeters,
      "fact_weather" -> factWeather)
  }
}
