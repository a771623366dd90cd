package graft.etl

import java.io.{ByteArrayOutputStream, FileOutputStream}
import java.nio.charset.StandardCharsets
import java.nio.file.Path
import java.util.zip.{ZipEntry, ZipOutputStream}

import graft.SparkSpec

/** Deterministic synthetic run-bundle generator for tests — the engine-side
  * equivalent of the reference's fixture generator
  * (src/generate_synthetic_idaice.py), with hash-based "noise" instead of an
  * RNG so every test run is byte-identical. Test scope only.
  */
object SyntheticRuns {

  private def noise(seed: Long, scale: Double): Double = {
    val h = scala.util.hashing.MurmurHash3.stringHash(seed.toString).toDouble
    (h / Int.MaxValue) * scale // in [-scale, scale]
  }

  final case class Spec(
      buildingId: String,
      scenarioId: String,
      hours: Int = 48,
      zones: Int = 3,
      ahus: Int = 2,
      startEpochHour: Long = 473352L /* 2024-01-01T00:00Z */,
      corrupt: Map[String, Double] = Map.empty)

  private def ts(epochHour: Long): String =
    java.time.Instant.ofEpochSecond(epochHour * 3600).toString

  def buildCsvs(s: Spec): Map[String, String] = {
    val hoursRange = 0 until s.hours
    val zones = (1 to s.zones).map(i => (s"Z$i", s"Zone $i"))
    val ahus = (1 to s.ahus).map(i => s"AHU$i")

    val zonesCsv = new StringBuilder(
      "timestamp,building_id,scenario_id,zone_id,zone_name,air_temp_C,setpoint_C,co2_ppm,rh_pct\n")
    for (h <- hoursRange; (zid, zname) <- zones) {
      val t = s.startEpochHour + h
      val air = s.corrupt.getOrElse("air_temp_C",
        21.0 + 2.0 * math.sin(h / 24.0 * 2 * math.Pi) + noise(t * 31 + zid.hashCode, 0.5))
      zonesCsv.append(
        s"${ts(t)},${s.buildingId},${s.scenarioId},$zid,$zname,$air,21.0," +
          s"${600 + 50 * (h % 12) + math.abs(noise(t * 7, 30.0))},${45.0 + noise(t * 3, 5.0)}\n")
    }

    val hvacCsv = new StringBuilder(
      "timestamp,building_id,scenario_id,ahu_id,supply_temp_C,return_temp_C,power_kw,cooling_kw,heating_kw\n")
    for (h <- hoursRange; aid <- ahus) {
      val t = s.startEpochHour + h
      val power = s.corrupt.getOrElse("power_kw",
        // every 13th hour dips below the 1.0 kW cop guard → NULL cop_proxy rows
        if (h % 13 == 0) 0.4 else 10.0 + math.abs(noise(t * 11 + aid.hashCode, 3.0)))
      hvacCsv.append(
        s"${ts(t)},${s.buildingId},${s.scenarioId},$aid,18.0,22.0,$power," +
          s"${5.0 + math.abs(noise(t * 13, 2.0))},${8.0 + math.abs(noise(t * 17, 2.0))}\n")
    }

    val metersCsv = new StringBuilder(
      "timestamp,building_id,scenario_id,electric_kwh,heating_kwh,cooling_kwh\n")
    for (h <- hoursRange) {
      val t = s.startEpochHour + h
      metersCsv.append(
        s"${ts(t)},${s.buildingId},${s.scenarioId}," +
          s"${50.0 + math.abs(noise(t * 19, 10.0))},${30.0 + math.abs(noise(t * 23, 8.0))}," +
          s"${20.0 + math.abs(noise(t * 29, 6.0))}\n")
    }

    val weatherCsv = new StringBuilder("timestamp,drybulb_C,relhum_pct,ghi_W_m2\n")
    for (h <- hoursRange) {
      val t = s.startEpochHour + h
      val dry = s.corrupt.getOrElse("drybulb_C",
        5.0 + 8.0 * math.sin(h / 24.0 * 2 * math.Pi) + noise(t * 37, 2.0))
      weatherCsv.append(
        s"${ts(t)},$dry,${60.0 + noise(t * 41, 15.0)},${math.max(0.0, 300 * math.sin(h / 24.0 * math.Pi))}\n")
    }

    Map(
      "zones.csv" -> zonesCsv.toString,
      "hvac.csv" -> hvacCsv.toString,
      "meters.csv" -> metersCsv.toString,
      "weather.csv" -> weatherCsv.toString)
  }

  def metadataJson(s: Spec): String =
    s"""{"building_id": "${s.buildingId}", "scenario_id": "${s.scenarioId}",
       | "building_name": "Building ${s.buildingId}", "location": "Testville",
       | "floor_area_m2": 1000, "description": "Scenario ${s.scenarioId}",
       | "generated_at": "2024-01-01T00:00:00Z"}""".stripMargin

  /** Writes run_{building}_{scenario}.zip into `dir`; returns the zip path. */
  def writeRunZip(dir: Path, s: Spec): Path = {
    val root = s"run_${s.buildingId}_${s.scenarioId}"
    val zipPath = dir.resolve(s"$root.zip")
    val bos = new ByteArrayOutputStream()
    val zos = new ZipOutputStream(bos)
    def put(name: String, content: String): Unit = {
      zos.putNextEntry(new ZipEntry(s"$root/$name"))
      zos.write(content.getBytes(StandardCharsets.UTF_8))
      zos.closeEntry()
    }
    put("metadata.json", metadataJson(s))
    buildCsvs(s).foreach { case (n, c) => put(n, c) }
    zos.close()
    val fos = new FileOutputStream(zipPath.toFile)
    fos.write(bos.toByteArray); fos.close()
    zipPath
  }

  /** Standard 2-building × 2-scenario fixture directory. */
  def writeFixtureDir(dir: Path): Seq[Path] =
    for {
      b <- Seq("B1", "B2")
      sc <- Seq("BASE", "ECO")
    } yield writeRunZip(dir, Spec(b, sc))

  def tempDir(): Path = SparkSpec.tempDir("graft_fixture_")
}
