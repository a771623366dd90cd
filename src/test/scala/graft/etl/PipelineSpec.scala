package graft.etl

import graft.SparkSpec

class PipelineSpec extends SparkSpec {

  test("end-to-end pipeline: extract -> transform -> validate -> load -> export") {
    val simDir = SyntheticRuns.tempDir()
    SyntheticRuns.writeFixtureDir(simDir)
    val outDir = SparkSpec.tempDir("graft_pipe_").toString
    // a second run into the same outDir must replace the first run's files,
    // not add to them (a daily job re-runs into one output directory)
    for (pass <- 1 to 2) {
      val code = Pipeline.run(spark, Pipeline.Config(
        simulationsDir = simDir.toString, outputDir = outDir))
      assert(code == 0, s"run $pass")
      assert(new java.io.File(outDir, "fact_meters.parquet").exists())
      // writeFixtureDir: 4 runs × 48 h × 3 zones; weather 48 h × 2 buildings
      assert(spark.read.parquet(s"$outDir/fact_zone_conditions.parquet").count() == 4 * 48 * 3,
        s"run $pass")
      assert(spark.read.parquet(s"$outDir/fact_weather.parquet").count() == 48 * 2, s"run $pass")
      assert(new java.io.File(outDir, "ida_ice_simulation_summary.json").exists())
      assert(Export.validateSummaryJson(
        s"$outDir/ida_ice_simulation_summary.json").isEmpty, s"run $pass")
    }
  }

  test("validation failure aborts with exit code 2 unless forced") {
    val simDir = SyntheticRuns.tempDir()
    SyntheticRuns.writeRunZip(simDir,
      SyntheticRuns.Spec("B1", "BASE", corrupt = Map("air_temp_C" -> 50.0)))
    val outDir = SparkSpec.tempDir("graft_pipe_bad_").toString
    val code = Pipeline.run(spark, Pipeline.Config(
      simulationsDir = simDir.toString, outputDir = outDir))
    assert(code == 2)
    assert(!new java.io.File(outDir, "fact_meters.parquet").exists())

    val forced = Pipeline.run(spark, Pipeline.Config(
      simulationsDir = simDir.toString, outputDir = outDir, force = true))
    assert(forced == 0)
    assert(new java.io.File(outDir, "fact_meters.parquet").exists())
  }

  test("skip-validation loads corrupted data without checks") {
    val simDir = SyntheticRuns.tempDir()
    SyntheticRuns.writeRunZip(simDir,
      SyntheticRuns.Spec("B1", "BASE", corrupt = Map("power_kw" -> -5.0)))
    val outDir = SparkSpec.tempDir("graft_pipe_skip_").toString
    val code = Pipeline.run(spark, Pipeline.Config(
      simulationsDir = simDir.toString, outputDir = outDir, skipValidation = true))
    assert(code == 0)
  }

  test("argument parsing") {
    val cfg = Pipeline.parseArgs(Array(
      "--simulations-dir", "/a", "--output-dir", "/b", "--skip-validation"))
    assert(cfg.simulationsDir == "/a" && cfg.outputDir == "/b" && cfg.skipValidation)
    intercept[IllegalArgumentException] { Pipeline.parseArgs(Array("--bogus")) }
    // one ingest path and export always runs: neither has a switch
    Seq("--distributed", "--no-export").foreach { flag =>
      intercept[IllegalArgumentException] {
        Pipeline.parseArgs(Array("--simulations-dir", "/a", "--output-dir", "/b", flag))
      }
    }
    intercept[IllegalArgumentException] { Pipeline.parseArgs(Array("--output-dir", "/b")) }
  }
}
