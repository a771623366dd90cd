package graft.etl

import org.apache.spark.sql.types._

/** Explicit StructTypes for every surface the reference infers (SURVEY §1):
  * the 4 raw CSVs of a run bundle, and the 9-table star
  * schema. Declared schemas (not inference) so 100 TB scans never pay a
  * sampling pass and drift is impossible.
  *
  * Column contract: reference `src/etl/validate/__init__.py:248-258`;
  * raw files: `src/generate_synthetic_idaice.py:45-175`.
  */
object Schemas {

  // ---- raw run-bundle members -------------------------------------------
  val zonesCsv: StructType = StructType(Seq(
    StructField("timestamp", TimestampType, nullable = false),
    StructField("building_id", StringType, nullable = false),
    StructField("scenario_id", StringType, nullable = false),
    StructField("zone_id", StringType, nullable = false),
    StructField("zone_name", StringType, nullable = false),
    StructField("air_temp_C", DoubleType, nullable = false),
    StructField("setpoint_C", DoubleType, nullable = false),
    StructField("co2_ppm", DoubleType, nullable = false),
    StructField("rh_pct", DoubleType, nullable = false)))

  val hvacCsv: StructType = StructType(Seq(
    StructField("timestamp", TimestampType, nullable = false),
    StructField("building_id", StringType, nullable = false),
    StructField("scenario_id", StringType, nullable = false),
    StructField("ahu_id", StringType, nullable = false),
    StructField("supply_temp_C", DoubleType, nullable = false),
    StructField("return_temp_C", DoubleType, nullable = false),
    StructField("power_kw", DoubleType, nullable = false),
    StructField("cooling_kw", DoubleType, nullable = false),
    StructField("heating_kw", DoubleType, nullable = false)))

  val metersCsv: StructType = StructType(Seq(
    StructField("timestamp", TimestampType, nullable = false),
    StructField("building_id", StringType, nullable = false),
    StructField("scenario_id", StringType, nullable = false),
    StructField("electric_kwh", DoubleType, nullable = false),
    StructField("heating_kwh", DoubleType, nullable = false),
    StructField("cooling_kwh", DoubleType, nullable = false)))

  val weatherCsv: StructType = StructType(Seq(
    StructField("timestamp", TimestampType, nullable = false),
    StructField("drybulb_C", DoubleType, nullable = false),
    StructField("relhum_pct", DoubleType, nullable = false),
    StructField("ghi_W_m2", DoubleType, nullable = false)))

  /** CSV member name → schema, the required layout of a run ZIP
    * (reference: extract/__init__.py:49-63).
    */
  val requiredCsvMembers: Map[String, StructType] = Map(
    "zones.csv" -> zonesCsv,
    "hvac.csv" -> hvacCsv,
    "meters.csv" -> metersCsv,
    "weather.csv" -> weatherCsv)

  // ---- star schema -------------------------------------------------------
  val dimBuilding: StructType = StructType(Seq(
    StructField("building_id", StringType, nullable = false),
    StructField("building_name", StringType, nullable = false),
    StructField("location", StringType, nullable = false),
    StructField("floor_area_m2", LongType, nullable = false)))

  val dimScenario: StructType = StructType(Seq(
    StructField("scenario_id", StringType, nullable = false),
    StructField("description", StringType, nullable = false)))

  val dimZone: StructType = StructType(Seq(
    StructField("zone_key", LongType, nullable = false),
    StructField("building_id", StringType, nullable = false),
    StructField("zone_id", StringType, nullable = false),
    StructField("zone_name", StringType, nullable = false)))

  val dimAhu: StructType = StructType(Seq(
    StructField("ahu_key", LongType, nullable = false),
    StructField("building_id", StringType, nullable = false),
    StructField("ahu_id", StringType, nullable = false)))

  val dimTime: StructType = StructType(Seq(
    StructField("time_key", LongType, nullable = false),
    StructField("timestamp", TimestampType, nullable = false),
    StructField("year", IntegerType, nullable = false),
    StructField("month", IntegerType, nullable = false),
    StructField("day", IntegerType, nullable = false),
    StructField("hour", IntegerType, nullable = false),
    StructField("dow", IntegerType, nullable = false), // pandas convention Mon=0
    StructField("is_weekend", BooleanType, nullable = false)))

  val factZoneConditions: StructType = StructType(Seq(
    StructField("time_key", LongType, nullable = false),
    StructField("zone_key", LongType, nullable = false),
    StructField("scenario_id", StringType, nullable = false),
    StructField("air_temp_C", DoubleType, nullable = false),
    StructField("setpoint_C", DoubleType, nullable = false),
    StructField("co2_ppm", DoubleType, nullable = false),
    StructField("rh_pct", DoubleType, nullable = false)))

  val factHvac: StructType = StructType(Seq(
    StructField("time_key", LongType, nullable = false),
    StructField("ahu_key", LongType, nullable = false),
    StructField("scenario_id", StringType, nullable = false),
    StructField("supply_temp_C", DoubleType, nullable = false),
    StructField("return_temp_C", DoubleType, nullable = false),
    StructField("power_kw", DoubleType, nullable = false),
    StructField("cooling_kw", DoubleType, nullable = false),
    StructField("heating_kw", DoubleType, nullable = false),
    StructField("cop_proxy", DoubleType, nullable = true))) // the only NULLable measure

  val factMeters: StructType = StructType(Seq(
    StructField("time_key", LongType, nullable = false),
    StructField("building_id", StringType, nullable = false),
    StructField("scenario_id", StringType, nullable = false),
    StructField("electric_kwh", DoubleType, nullable = false),
    StructField("heating_kwh", DoubleType, nullable = false),
    StructField("cooling_kwh", DoubleType, nullable = false)))

  val factWeather: StructType = StructType(Seq(
    StructField("time_key", LongType, nullable = false),
    StructField("building_id", StringType, nullable = false),
    StructField("drybulb_C", DoubleType, nullable = false),
    StructField("relhum_pct", DoubleType, nullable = false),
    StructField("ghi_W_m2", DoubleType, nullable = false)))

  /** table name → expected schema, the validation contract
    * (reference: validate/__init__.py:248-258): a `nullable = false` field
    * is one the schema check counts nulls in.
    */
  val starSchema: Map[String, StructType] = Map(
    "dim_building" -> dimBuilding,
    "dim_scenario" -> dimScenario,
    "dim_zone" -> dimZone,
    "dim_ahu" -> dimAhu,
    "dim_time" -> dimTime,
    "fact_zone_conditions" -> factZoneConditions,
    "fact_hvac" -> factHvac,
    "fact_meters" -> factMeters,
    "fact_weather" -> factWeather)
}
