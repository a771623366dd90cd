package graft.etl

import java.nio.file.Files
import graft.SparkSpec

class ExtractSpec extends SparkSpec {

  test("extractSimulationData round-trips a synthetic bundle") {
    val dir = SyntheticRuns.tempDir()
    val zip = SyntheticRuns.writeRunZip(dir, SyntheticRuns.Spec("B1", "BASE", hours = 24))
    val run = Extract.extractSimulationData(spark, zip.toString)
    assert(run.runId == "run_B1_BASE")
    assert(run.metadata.building_id == "B1")
    assert(run.metadata.floor_area_m2 == 1000L)
    assert(run.zones.count() == 24 * 3)
    assert(run.hvac.count() == 24 * 2)
    assert(run.meters.count() == 24)
    assert(run.weather.count() == 24)
    // schema-declared timestamps, not strings
    assert(run.zones.schema("timestamp").dataType ==
      org.apache.spark.sql.types.TimestampType)
  }

  test("missing file and non-zip raise distinct errors") {
    intercept[java.io.FileNotFoundException] {
      Extract.extractSimulationData(spark, "/nonexistent/run_x.zip")
    }
    val junk = SparkSpec.tempDir("graft_bad_").resolve("bad.zip")
    Files.writeString(junk, "not a zip at all")
    intercept[IllegalArgumentException] {
      Extract.extractSimulationData(spark, junk.toString)
    }
  }

  test("missing required member is rejected") {
    val dir = SyntheticRuns.tempDir()
    // hand-build a zip without meters.csv
    val zos = new java.util.zip.ZipOutputStream(
      new java.io.FileOutputStream(dir.resolve("run_B9_X.zip").toFile))
    def put(n: String, c: String): Unit = {
      zos.putNextEntry(new java.util.zip.ZipEntry(s"run_B9_X/$n"))
      zos.write(c.getBytes("UTF-8")); zos.closeEntry()
    }
    val full = SyntheticRuns.buildCsvs(SyntheticRuns.Spec("B9", "X", hours = 2))
    put("metadata.json", SyntheticRuns.metadataJson(SyntheticRuns.Spec("B9", "X")))
    Seq("zones.csv", "hvac.csv", "weather.csv").foreach(n => put(n, full(n)))
    zos.close()
    val e = intercept[IllegalArgumentException] {
      Extract.extractSimulationData(spark, dir.resolve("run_B9_X.zip").toString)
    }
    assert(e.getMessage.contains("meters.csv"))
  }

  test("extractRuns tolerates <50% failures, fails at >=50%") {
    val dir = SyntheticRuns.tempDir()
    SyntheticRuns.writeFixtureDir(dir) // 4 good runs
    Files.writeString(dir.resolve("run_BAD_1.zip"), "garbage") // 1 bad of 5 → ok
    val runs = Extract.extractRuns(spark, dir.toString)
    assert(runs.length == 4)

    val dir2 = SyntheticRuns.tempDir()
    SyntheticRuns.writeRunZip(dir2, SyntheticRuns.Spec("B1", "BASE", hours = 2))
    Files.writeString(dir2.resolve("run_BAD_1.zip"), "garbage")
    Files.writeString(dir2.resolve("run_BAD_2.zip"), "garbage") // 2 bad of 3 → fail
    intercept[RuntimeException] { Extract.extractRuns(spark, dir2.toString) }
  }

  test("a corrupt CSV fails only its own run (FAILFAST is per-run eager)") {
    import java.util.zip.{ZipEntry, ZipOutputStream}
    val dir = SyntheticRuns.tempDir()
    SyntheticRuns.writeFixtureDir(dir) // 4 good runs
    // a 5th run whose zones.csv has an unparsable row in a double column
    val root = "run_BX_SCX"
    val zos = new ZipOutputStream(
      new java.io.FileOutputStream(dir.resolve(s"$root.zip").toFile))
    def put(name: String, content: String): Unit = {
      zos.putNextEntry(new ZipEntry(s"$root/$name")); zos.write(content.getBytes)
      zos.closeEntry()
    }
    val good = SyntheticRuns.buildCsvs(SyntheticRuns.Spec("BX", "SCX", hours = 2))
    put("metadata.json", SyntheticRuns.metadataJson(SyntheticRuns.Spec("BX", "SCX")))
    good.foreach { case (n, c) =>
      put(n, if (n == "zones.csv")
        c.linesIterator.toSeq.head + "\nnot-a-timestamp,BX,SCX,Z1,Zone 1,oops,21,600,45\n"
      else c)
    }
    zos.close()
    val runs = Extract.extractRuns(spark, dir.toString)
    // the corrupt run is dropped (1 of 5 < 50%), the rest parse clean
    assert(runs.length == 4)
    assert(!runs.exists(_.metadata.building_id == "BX"))
  }

  test("extractRunById builds the keyed path") {
    val dir = SyntheticRuns.tempDir()
    SyntheticRuns.writeFixtureDir(dir)
    val run = Extract.extractRunById(spark, dir.toString, "B2", "ECO")
    assert(run.metadata.building_id == "B2" && run.metadata.scenario_id == "ECO")
  }

  test("quarantine CSV reader: clean rows parse under the schema, mangled " +
    "rows land verbatim in the quarantine lane, nothing lost or doubled") {
    import org.apache.spark.sql.types._
    val dir = SparkSpec.tempDir("graft_quarantine_")
    Files.writeString(dir.resolve("data.csv"),
      """id,name,score
        |1,alice,0.5
        |2,bob,not_a_number
        |3,carol,0.75
        |4,dave""".stripMargin + "\n")
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("name", StringType),
      StructField("score", DoubleType)))
    val qr = Extract.readCsvQuarantine(spark, dir.toString, schema)
    val (good, bad) = (qr.good, qr.quarantined)
    val goodRows = good.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(goodRows === Set((1L, "alice", 0.5), (3L, "carol", 0.75)))
    assert(good.columns.toSeq === Seq("id", "name", "score"))
    val badRows = bad.collect().map(_.getString(0)).toSet
    // the verbatim offending lines, intact for triage
    assert(badRows === Set("2,bob,not_a_number", "4,dave"))
    assert(goodRows.size + badRows.size == 4, "a row vanished or doubled")
    // the one-parse materialization is caller-releasable (the 100 TB
    // hazard fix). Releasing ENDS the read — the lanes must not be
    // re-executed afterwards (the uncached plan would re-hit Spark's
    // corrupt-record-only-filter restriction, the very thing the
    // materialization exists to avoid) — so consume first, release last.
    qr.release()
  }
}
