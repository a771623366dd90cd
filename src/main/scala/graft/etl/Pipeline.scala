package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}

/** End-to-end runner mirroring the reference's 4-stage pipeline
  * (run_pipeline.py:25-157): extract → transform → validate → load (+ export).
  *
  * {{{
  * runMain graft.etl.Pipeline --simulations-dir D --output-dir O [--skip-validation] [--force]
  * }}}
  *
  * `main` runs on the session every entry point shares
  * ([[graft.SparkEntry.session]]): the master is `spark.master` when
  * spark-submit `--master` or `-Dspark.master` set it, else
  * `local[$SPARK_GRAFT_CPUS]` (default 4).
  *
  * The reference's interactive y/n gate on validation failure
  * (run_pipeline.py:111-120) is a flag here (`--force`), never stdin —
  * batch Spark jobs must not block on a console.
  *
  * Each star table is computed once, straight into Parquet under
  * [[Load.stagingDir]]: the dims first, then the facts keyed against the
  * staged dims. Checks 1–2 are counted on those writes
  * ([[Validate.observeRules]]), checks 3–4 read the staged files, and on a
  * pass (or `--force`, or `--skip-validation`) [[Load.publish]] renames
  * each table into `<output-dir>/<table>.parquet`; the views and the
  * summary export read the published files. A failed validation or write
  * publishes nothing, and the staging directory is swept at the start of
  * a run and at its end.
  *
  * Exit codes: 0 ok; 2 validation failed (and not forced); 1 other error —
  * matching the reference's abort semantics in --non-interactive mode.
  */
object Pipeline {

  final case class Config(
      simulationsDir: String = "",
      outputDir: String = "",
      skipValidation: Boolean = false,
      force: Boolean = false)

  def parseArgs(args: Array[String]): Config = {
    def loop(cfg: Config, rest: List[String]): Config = rest match {
      case "--simulations-dir" :: v :: t => loop(cfg.copy(simulationsDir = v), t)
      case "--output-dir" :: v :: t => loop(cfg.copy(outputDir = v), t)
      case "--skip-validation" :: t => loop(cfg.copy(skipValidation = true), t)
      case "--force" :: t => loop(cfg.copy(force = true), t)
      case Nil => cfg
      case x :: _ => throw new IllegalArgumentException(s"unknown argument: $x")
    }
    val cfg = loop(Config(), args.toList)
    require(cfg.simulationsDir.nonEmpty, "--simulations-dir is required")
    require(cfg.outputDir.nonEmpty, "--output-dir is required")
    cfg
  }

  /** Runs the pipeline; returns the process exit code. */
  def run(spark: SparkSession, cfg: Config): Int = {
    // [1/4] extract
    val runs = Extract.extractRuns(spark, cfg.simulationsDir)
    println(s"[pipeline] extracted ${runs.length} runs")
    val staging = Load.stagingDir(cfg.outputDir)
    Load.sweep(spark, staging)
    try {
      // [2/4] transform: each table computed once, straight into staging;
      // its write counts checks 1-2, and the facts key against the staged dims
      def stageChecked(tables: Map[String, DataFrame]) = {
        val observed = tables.map { case (t, df) => t -> Validate.observeRules(t, df) }
        (Load.stage(observed.map { case (t, (df, _)) => t -> df }, staging),
          observed.map { case (t, (_, counts)) => t -> counts })
      }
      val (dims, dimCounts) = stageChecked(Transform.dims(spark, runs))
      val (facts, factCounts) = stageChecked(Transform.facts(spark, runs, dims))
      val staged = dims ++ facts

      // [3/4] validate (skippable, reference run_pipeline.py:95-125):
      // checks 3-4 read the staged files
      if (!cfg.skipValidation) {
        val report = Validate.report(staged, dimCounts ++ factCounts)
        println(report.render)
        if (!report.isValid && !cfg.force) {
          System.err.println("[pipeline] validation failed; rerun with --force to load anyway")
          return 2
        }
      }

      // [4/4] load: publish, then the views and the export read the published files
      val schema = Load.publish(staged, staging, cfg.outputDir)
      Load.registerAll(spark, schema)
      println(s"[pipeline] loaded ${schema.size} tables to ${cfg.outputDir}")

      val summary = Export.buildSummary(spark, schema)
      val out = s"${cfg.outputDir}/ida_ice_simulation_summary.json"
      Export.writeSummaryJson(summary, out)
      val errs = Export.validateSummaryJson(out)
      if (errs.nonEmpty) {
        errs.foreach(e => System.err.println(s"[export] $e"))
        return 1
      }
      println(s"[pipeline] exported summary to $out")
      0
    } finally Load.sweep(spark, staging)
  }

  def main(args: Array[String]): Unit = {
    val cfg = parseArgs(args)
    val spark = graft.SparkEntry.session("graft-pipeline")
    val code = try Pipeline.run(spark, cfg) finally spark.stop()
    if (code != 0) sys.exit(code)
  }
}
