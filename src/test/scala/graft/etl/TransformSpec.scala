package graft.etl

import graft.SparkSpec
import org.apache.spark.sql.functions._

class TransformSpec extends SparkSpec {

  private lazy val schema: Map[String, org.apache.spark.sql.DataFrame] = {
    val dir = SyntheticRuns.tempDir()
    SyntheticRuns.writeFixtureDir(dir) // B1,B2 × BASE,ECO; 48h; 3 zones; 2 AHUs
    val runs = Extract.extractRuns(spark, dir.toString)
    Transform.transformAll(spark, runs)
  }

  test("dims dedup across runs (2 buildings, 2 scenarios)") {
    assert(schema("dim_building").count() == 2)
    assert(schema("dim_scenario").count() == 2)
    assert(schema("dim_zone").count() == 2 * 3)
    assert(schema("dim_ahu").count() == 2 * 2)
  }

  test("surrogate keys are dense, deterministic and sorted") {
    import spark.implicits._
    val keys = schema("dim_zone").orderBy($"zone_key").collect()
    assert(keys.map(_.getLong(0)).toSeq == (1L to 6L))
    // sorted by (building_id, zone_id): first key belongs to B1/Z1
    assert(keys.head.getString(1) == "B1" && keys.head.getString(2) == "Z1")
  }

  test("dim_time covers the union of timestamps with calendar fields") {
    import spark.implicits._
    assert(schema("dim_time").count() == 48)
    val r = schema("dim_time").orderBy($"time_key").head()
    assert(r.getLong(0) == 1L)
    // 2024-01-01 is a Monday → pandas dow 0, not weekend
    assert(r.getInt(6) == 0)
    assert(!r.getBoolean(7))
  }

  test("dow follows the pandas convention across a full week") {
    import spark.implicits._
    val dir = SyntheticRuns.tempDir()
    SyntheticRuns.writeRunZip(dir, SyntheticRuns.Spec("B1", "BASE", hours = 7 * 24))
    val week = Transform.transformAll(spark,
      Extract.extractRuns(spark, dir.toString))("dim_time")
    val sun = week.where(dayofweek($"timestamp") === 1).head()
    assert(sun.getInt(6) == 6 && sun.getBoolean(7)) // Sunday → dow 6, weekend
    val sat = week.where(dayofweek($"timestamp") === 7).head()
    assert(sat.getInt(6) == 5 && sat.getBoolean(7)) // Saturday → dow 5, weekend
    val fri = week.where(dayofweek($"timestamp") === 6).head()
    assert(fri.getInt(6) == 4 && !fri.getBoolean(7))
    assert(week.where($"is_weekend").count() == 2 * 24)
  }

  test("facts join all keys (no null keys on clean data)") {
    Seq("fact_zone_conditions" -> "zone_key", "fact_hvac" -> "ahu_key").foreach {
      case (t, k) =>
        assert(schema(t).where(col(k).isNull || col("time_key").isNull).count() == 0)
    }
    assert(schema("fact_zone_conditions").count() == 4 * 48 * 3)
    assert(schema("fact_hvac").count() == 4 * 48 * 2)
    assert(schema("fact_meters").count() == 4 * 48)
    // weather fanned out per building: 48 h × 2 buildings
    assert(schema("fact_weather").count() == 48 * 2)
  }

  test("cop_proxy: NULL below the 1.0 kW guard, ratio above it") {
    import spark.implicits._
    val hvac = schema("fact_hvac")
    // generator dips power to 0.4 kW every 13th hour
    assert(hvac.where($"power_kw" < 1.0).count() > 0)
    assert(hvac.where($"power_kw" < 1.0 && $"cop_proxy".isNotNull).count() == 0)
    val ok = hvac.where($"power_kw" >= 1.0)
      .withColumn("expect", ($"heating_kw" + $"cooling_kw") / $"power_kw")
      .where(abs($"cop_proxy" - $"expect") > 1e-12)
    assert(ok.count() == 0)
  }
}
