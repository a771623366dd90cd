package graft.etl

import java.io.File

import graft.SparkSpec

class PipelineSpec extends SparkSpec {

  // Spark jobs of one warm run, as measured on the 4-bundle fixture: a change
  // that adds a job to the pipeline removes one elsewhere, or raises this
  // bound with its reason
  private val Budget = 54

  private def staging(outDir: String) = new File(outDir, "_staging")

  /** Row count of each star table published under `outDir`. */
  private def rowCounts(outDir: String): Map[String, Long] =
    Schemas.starSchema.keys.map(t => t -> spark.read.parquet(s"$outDir/$t.parquet").count()).toMap

  /** `body`'s result and the Spark jobs started while it ran, counted by a listener. */
  private def withJobs[T](body: => T): (T, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val result = body
      // the listener bus is async: wait for the counter to settle
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      var last = -1
      while (System.nanoTime() < deadline && jobs.get() != last) {
        last = jobs.get(); Thread.sleep(300)
      }
      (result, jobs.get())
    } finally spark.sparkContext.removeSparkListener(listener)
  }

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
      assert(!staging(outDir).exists(), s"run $pass")
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
    assert(!staging(outDir).exists())

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

  test("the views and the README queries read the published Parquet, " +
    "not the extracted CSVs") {
    val simDir = SyntheticRuns.tempDir()
    SyntheticRuns.writeFixtureDir(simDir)
    val outDir = SparkSpec.tempDir("graft_pipe_views_").toString
    assert(Pipeline.run(spark, Pipeline.Config(
      simulationsDir = simDir.toString, outputDir = outDir)) == 0)
    val queries = {
      import Load.AnalyticalQueries._
      Seq(scenarioComparison, temperatureDrift, copVsOutdoorTemp)
    }
    queries.foreach(q => assert(Load.query(spark, q).collect().nonEmpty, q))
    val views = Schemas.starSchema.keys.toSeq.sorted ++
      Seq("vw_zone_with_weather", "vw_hvac_with_meters", "vw_energy_summary")
    views.foreach { v =>
      val plan = spark.table(v).queryExecution.executedPlan.toString
      assert(!plan.toLowerCase.contains("csv"), s"$v scans a CSV:\n$plan")
      val files = spark.table(v).inputFiles
      assert(files.nonEmpty && files.forall(f => f.contains(outDir) && f.endsWith(".parquet")),
        s"$v reads ${files.mkString(", ")}")
    }
  }

  test("a run whose table write fails leaves the previous output whole") {
    val simDir = SyntheticRuns.tempDir()
    SyntheticRuns.writeFixtureDir(simDir)
    val outDir = SparkSpec.tempDir("graft_pipe_fail_").toString
    assert(Pipeline.run(spark, Pipeline.Config(
      simulationsDir = simDir.toString, outputDir = outDir)) == 0)
    val before = rowCounts(outDir)

    // a one-bundle run in 1800: under the EXCEPTION rebase mode, Parquet
    // refuses dim_time's pre-1900 INT96 timestamps at run time, while every
    // other table, with no timestamp column, writes
    val oldDir = SyntheticRuns.tempDir()
    SyntheticRuns.writeRunZip(oldDir, SyntheticRuns.Spec("B9", "OLD", hours = 24,
      startEpochHour = java.time.Instant.parse("1800-01-01T00:00:00Z").getEpochSecond / 3600))
    val confs = Seq("spark.sql.parquet.outputTimestampType" -> "INT96",
      "spark.sql.parquet.int96RebaseModeInWrite" -> "EXCEPTION")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try intercept[Exception] {
      Pipeline.run(spark, Pipeline.Config(
        simulationsDir = oldDir.toString, outputDir = outDir))
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }

    assert(rowCounts(outDir) == before)
    assert(!staging(outDir).exists())
  }

  test("one warm run of the 4-bundle fixture stays within its Spark job budget") {
    val simDir = SyntheticRuns.tempDir()
    SyntheticRuns.writeFixtureDir(simDir)
    val outDir = SparkSpec.tempDir("graft_pipe_jobs_").toString
    val cfg = Pipeline.Config(simulationsDir = simDir.toString, outputDir = outDir)
    assert(Pipeline.run(spark, cfg) == 0)
    val (code, jobs) = withJobs(Pipeline.run(spark, cfg))
    assert(code == 0)
    assert(jobs <= Budget, s"a warm Pipeline.run ran $jobs Spark jobs, budget $Budget")
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
