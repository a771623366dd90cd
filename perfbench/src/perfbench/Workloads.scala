package perfbench

import java.io.File
import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.etl.{Export, Extract, Load, Pipeline, Transform, Validate}

/** What one workload does: a set-up, then one operation repeated by the
  * closed loop in [[Main]]. `op` returns an observation of the program's
  * outputs for the result file (checked against the answer file by run.py).
  */
trait Workload {
  /** Preparation after the session exists, timed as part of set-up. */
  def setUp(spark: SparkSession): Unit
  /** The names of one pass of operations, in the order the loop sends them. */
  def pass(round: Int): Seq[String]
  /** Nominal wall time of one pass on a 4-core box: `seconds` of run time
    * buy round(seconds / passSeconds) passes, at least one. */
  def passSeconds: Double
  /** Runs one operation; everything it returns is taken outside the timing. */
  def op(spark: SparkSession, name: String, trace: Option[Tracer]): () => Map[String, Any]
  def extensions: Boolean
}

object Workloads {

  def span[T](trace: Option[Tracer], name: String)(body: => T): T =
    trace.fold(body)(_.span(name)(body))

  /** The ETL workload: one `Pipeline.run` per operation. Traced, the
    * same public functions are called in the same order, with one explicit
    * `cache_fill` so the cache materializes under its own span.
    */
  final class Etl(inputDir: String, outputDir: String) extends Workload {
    val extensions = false

    // two warm-up runs: the JIT compilers do most of their work in the first
    // runs, and until then most of a run's CPU time is theirs
    def setUp(spark: SparkSession): Unit = (1 to 2).foreach { _ =>
      val code = Pipeline.run(spark, config)
      require(code == 0, s"warm-up Pipeline.run returned $code")
    }

    def pass(round: Int): Seq[String] = Seq("pipeline")
    val passSeconds = 10.0

    private def config = Pipeline.Config(simulationsDir = inputDir, outputDir = outputDir)

    def op(spark: SparkSession, name: String, trace: Option[Tracer]): () => Map[String, Any] = {
      val code = trace.fold(Pipeline.run(spark, config))(t => traced(spark, t))
      () => observe(spark, code)
    }

    private def traced(spark: SparkSession, t: Tracer): Int = t.span("pipeline") {
      val runs = t.span("extract")(Extract.extractRuns(spark, inputDir))
      val built = t.span("transform")(Transform.transformAll(spark, runs))
      val schema = t.span("cache_fill") {
        val cached = built.view.mapValues(_.cache()).toMap
        cached.values.foreach(_.count())
        cached
      }
      try {
        val checks = Seq[(String, () => Validate.CheckResult)](
          "schema" -> (() => Validate.checkSchema(schema)),
          "value_ranges" -> (() => Validate.checkValueRanges(schema)),
          "temporal_coverage" -> (() => Validate.checkTemporalCoverage(schema)),
          "energy_plausibility" -> (() => Validate.checkEnergyPlausibility(schema)))
        val valid = checks.map { case (n, check) => t.span(s"validate.$n")(check()) }
          .forall(_.valid)
        if (!valid) 2
        else {
          t.span("load.parquet")(Load.loadToParquet(schema, outputDir))
          t.span("load.register")(Load.registerAll(spark, schema))
          t.span("export") {
            val out = summaryPath
            Export.writeSummaryJson(Export.buildSummary(spark, schema), out)
            if (Export.validateSummaryJson(out).nonEmpty) 1 else 0
          }
        }
      } finally schema.values.foreach(_.unpersist())
    }

    private def summaryPath = s"$outputDir/ida_ice_simulation_summary.json"

    private def observe(spark: SparkSession, code: Int): Map[String, Any] = {
      val conf = spark.sparkContext.hadoopConfiguration
      val tables = graft.etl.Schemas.starSchema.keys.toSeq.sorted
      val parts = tables.map { t =>
        t -> Option(new File(s"$outputDir/$t.parquet").listFiles()).toSeq.flatten
          .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      }
      val rows = parts.map { case (t, files) =>
        t -> files.map { f =>
          val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f.getPath), conf))
          try r.getRecordCount finally r.close()
        }.sum
      }.toMap
      val meters = spark.read.parquet(s"$outputDir/fact_meters.parquet")
        .groupBy("building_id", "scenario_id")
        .agg(sum("electric_kwh"), sum("heating_kwh"), sum("cooling_kwh"))
        .collect().map(r => s"${r.getString(0)}/${r.getString(1)}" ->
          Seq(r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
      val summary = new File(summaryPath)
      Map(
        "exit" -> code,
        "rows" -> rows,
        "parquet_bytes" -> parts.flatMap(_._2).map(_.length).sum,
        "meter_totals" -> meters,
        "summary" -> (if (summary.isFile) Files.readString(summary.toPath) else null),
        "summary_errors" -> (if (summary.isFile) Export.validateSummaryJson(summaryPath) else Seq("missing")))
    }
  }

  /** The graft query mix: each operation builds one `SparkEntry.queries`
    * DataFrame and runs it into the noop sink, as `graft.Bench` times it.
    * Set-up runs every query once and records its row count and an
    * order-independent hash for the golden-file check.
    */
  final class QueryMix(dataDir: String, names: Seq[String], seed: Long) extends Workload {
    val extensions = true
    var checked: Seq[Map[String, Any]] = Nil

    def setUp(spark: SparkSession): Unit =
      checked = names.map { n =>
        val (count, hash) = fingerprint(SparkEntry.queries(n)(spark, dataDir))
        Map("query" -> n, "count" -> count, "hash" -> hash)
      }

    def pass(round: Int): Seq[String] = new scala.util.Random(seed * 1000 + round).shuffle(names)
    val passSeconds = 12.0

    def op(spark: SparkSession, name: String, trace: Option[Tracer]): () => Map[String, Any] = {
      span(trace, "query") {
        val df = span(trace, "query.build")(SparkEntry.queries(name)(spark, dataDir))
        span(trace, "query.plan")(df.queryExecution.executedPlan)
        span(trace, "query.exec")(df.write.format("noop").mode("overwrite").save())
      }
      () => Map("query" -> name)
    }
  }

  /** Row count and an order-independent hash of a result: the wrapping sum
    * and the xor of a per-row xxhash64, with doubles rendered to 10
    * significant digits first so float summation order cannot move it.
    */
  def fingerprint(df: DataFrame): (Long, String) = {
    def canon(c: org.apache.spark.sql.Column, t: DataType): org.apache.spark.sql.Column = t match {
      case DoubleType | FloatType => format_string("%.9e", c.cast(DoubleType))
      case _: DecimalType => format_string("%.9e", c.cast(DoubleType))
      case ArrayType(et, _) => transform(c, x => canon(x, et))
      case st: StructType => struct(st.fields.toSeq.map(f => canon(c.getField(f.name), f.dataType).as(f.name)): _*)
      case _: MapType => to_json(c)
      case _ => c
    }
    val cols = df.schema.fields.toSeq.map(f => canon(col(s"`${f.name}`"), f.dataType))
    val h = df.select(xxhash64(cols: _*).as("h"))
    val r = h.agg(count(lit(1)), bit_xor(col("h")), sum(col("h").bitwiseAND(lit(0xffffffffL))))
      .head()
    (r.getLong(0), f"${r.getLong(1)}%016x-${if (r.isNullAt(2)) 0L else r.getLong(2)}%x")
  }
}
