package graft.etl

import java.io.{File, FileInputStream}
import java.nio.file.{Files, Path}
import java.util.zip.ZipInputStream
import scala.collection.mutable
import scala.util.{Failure, Success, Try}

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One simulation run's parsed metadata (reference metadata.json,
  * generate_synthetic_idaice.py:167-175).
  */
final case class RunMetadata(
    building_id: String,
    scenario_id: String,
    building_name: String,
    location: String,
    floor_area_m2: Long,
    description: String,
    generated_at: String)

/** One extracted run: metadata + the four time-series tables
  * (reference "run dict", extract/__init__.py:86-93).
  */
final case class RunData(
    runId: String,
    metadata: RunMetadata,
    zones: DataFrame,
    hvac: DataFrame,
    meters: DataFrame,
    weather: DataFrame)

/** ZIP-bundle extraction (SURVEY §2.1 S1-S6): [[extractSimulationData]] /
  * [[extractRuns]] unzip each run on the driver to a staging dir, then read
  * the four CSVs with schema-enforced `spark.read.csv`. Matches the
  * reference's semantics including layout validation and the <50% failure
  * tolerance.
  */
object Extract {

  /** One staging root per JVM, deleted at exit; each run's directory is
    * created under it. The staged CSVs must live until exit because Spark
    * reads them lazily.
    */
  private lazy val stagingRoot: Path = {
    val root = Files.createTempDirectory("graft_runs_")
    sys.addShutdownHook(FileUtils.deleteQuietly(root.toFile))
    root
  }

  /** Required members of a run bundle under its single root directory
    * (reference: extract/__init__.py:49-63).
    */
  private val requiredMembers: Set[String] =
    Schemas.requiredCsvMembers.keySet + "metadata.json"

  private def readZipMembers(zipFile: File): Map[String, Array[Byte]] = {
    val out = mutable.Map[String, Array[Byte]]()
    val zin = new ZipInputStream(new FileInputStream(zipFile))
    try {
      var e = zin.getNextEntry
      while (e != null) {
        if (!e.isDirectory) out(e.getName) = zin.readAllBytes()
        e = zin.getNextEntry
      }
    } finally zin.close()
    out.toMap
  }

  /** Validates the bundle layout: every member under one root dir, all five
    * required files present (reference: extract/__init__.py:44-63).
    * Returns (rootDir, memberBaseName → bytes).
    */
  private def validateLayout(zipFile: File,
      members: Map[String, Array[Byte]]): (String, Map[String, Array[Byte]]) = {
    if (members.isEmpty)
      throw new IllegalArgumentException(s"empty archive: $zipFile")
    val roots = members.keys.map(_.split("/", 2)(0)).toSet
    if (roots.size != 1)
      throw new IllegalArgumentException(
        s"expected a single root directory in $zipFile, found: ${roots.mkString(", ")}")
    val root = roots.head
    val byBase = members.map { case (k, v) => k.stripPrefix(s"$root/") -> v }
    val missing = requiredMembers -- byBase.keySet
    if (missing.nonEmpty)
      throw new IllegalArgumentException(
        s"missing required members in $zipFile: ${missing.toSeq.sorted.mkString(", ")}")
    (root, byBase)
  }

  private[etl] def parseMetadata(bytes: Array[Byte]): RunMetadata = {
    // Jackson ships with Spark — parse the one small JSON object driver-side.
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.readTree(bytes)
    def str(f: String): String = {
      val n = node.get(f)
      if (n == null) throw new IllegalArgumentException(s"metadata.json missing field: $f")
      n.asText()
    }
    val floorArea = {
      val n = node.get("floor_area_m2")
      if (n == null || !n.canConvertToLong)
        throw new IllegalArgumentException(
          "metadata.json missing or non-numeric field: floor_area_m2")
      n.asLong()
    }
    RunMetadata(
      building_id = str("building_id"),
      scenario_id = str("scenario_id"),
      building_name = str("building_name"),
      location = str("location"),
      floor_area_m2 = floorArea,
      description = str("description"),
      generated_at = if (node.has("generated_at")) node.get("generated_at").asText() else "")
  }

  /** Extracts one run archive: unzip to a temp staging dir, validate layout,
    * read the four CSVs with declared schemas (timestamp columns land as
    * TimestampType directly — reference S6 normalization is free here).
    */
  def extractSimulationData(spark: SparkSession, zipPath: String): RunData = {
    val f = new File(zipPath)
    if (!f.exists()) throw new java.io.FileNotFoundException(zipPath)
    val members = Try(readZipMembers(f)) match {
      case Success(m) => m
      case Failure(_) => throw new IllegalArgumentException(s"not a valid zip archive: $zipPath")
    }
    val (root, byBase) = validateLayout(f, members)
    val staging: Path = Files.createTempDirectory(stagingRoot, "graft_run_")
    // stage only the five members we read — a bundle may carry extra nested
    // files (logs/ etc.) whose parent dirs don't exist in the staging root
    byBase.view.filterKeys(requiredMembers).foreach { case (name, bytes) =>
      Files.write(staging.resolve(name), bytes)
    }
    def csv(name: String): DataFrame = {
      val df = spark.read
        .option("header", "true")
        // FAILFAST: the declared schemas say nullable=false; PERMISSIVE
        // would silently null a malformed cell in a column Catalyst is told
        // is non-null.
        .option("mode", "FAILFAST")
        .schema(Schemas.requiredCsvMembers(name))
        .csv(staging.resolve(name).toString)
      // FAILFAST alone is lazy — the parse error would detonate at the first
      // downstream ACTION, killing the whole pipeline. One eager FULL-WIDTH
      // pass here (foreach, NOT count — count prunes every column and parses
      // nothing) makes a corrupt file fail its RUN, which extractRuns' 50%
      // tolerance absorbs — the reference's (eager pandas) failure unit.
      df.foreach(_ => ())
      df
    }
    RunData(
      runId = root,
      metadata = parseMetadata(byBase("metadata.json")),
      zones = csv("zones.csv"),
      hvac = csv("hvac.csv"),
      meters = csv("meters.csv"),
      weather = csv("weather.csv"))
  }

  /** Directory ingest of `run_*.zip` (sorted for determinism), tolerating
    * up to 50% per-file failures (reference: extract/__init__.py:96-137).
    */
  def extractRuns(spark: SparkSession, simulationsDir: String): Seq[RunData] = {
    val dir = new File(simulationsDir)
    if (!dir.isDirectory)
      throw new java.io.FileNotFoundException(s"not a directory: $simulationsDir")
    val zips = Option(dir.listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("run_") && f.getName.endsWith(".zip"))
      .sortBy(_.getName)
    if (zips.isEmpty)
      throw new IllegalArgumentException(s"no run_*.zip archives in $simulationsDir")
    val results = zips.map(z => z.getName -> Try(extractSimulationData(spark, z.getPath)))
    val failures = results.collect { case (n, Failure(e)) => s"$n: ${e.getMessage}" }
    if (failures.length * 2 >= results.length)
      throw new RuntimeException(
        s"too many extraction failures (${failures.length}/${results.length}): " +
          failures.mkString("; "))
    failures.foreach(f => System.err.println(s"[extract] skipping failed run $f"))
    results.collect { case (_, Success(r)) => r }.toSeq
  }

  /** Keyed single-run lookup: `run_{building}_{scenario}.zip`
    * (reference: extract/__init__.py:140-161).
    */
  def extractRunById(spark: SparkSession, simulationsDir: String,
      buildingId: String, scenarioId: String): RunData =
    extractSimulationData(spark,
      new File(simulationsDir, s"run_${buildingId}_${scenarioId}.zip").getPath)

  /** PERMISSIVE CSV reader with a quarantine lane — the production
    * complement to the FAILFAST reader above. FAILFAST is right when a
    * corrupt file should fail its RUN (the <50% run-tolerance contract);
    * at fleet scale a single mangled row must NOT kill a 100 TB job — it
    * routes to quarantine with its raw text intact for triage, and the
    * clean rows flow on. Returns (good, quarantined): `good` carries the
    * declared schema; `quarantined` carries the verbatim offending line.
    *
    * The raw read is cached before splitting: Spark disallows filtering a
    * lazy CSV relation on ONLY the internal corrupt-record column
    * (SPARK-38523 family — the column is populated during parsing of the
    * OTHER columns, so a corrupt-only projection would read nothing); the
    * cache also makes the two lanes consistent — one parse feeds both,
    * so a row can never appear in neither or both.
    *
    * Cache lifecycle at scale: pinning a whole 100 TB input in executor
    * memory is itself a hazard, so the materialization is
    * MEMORY_AND_DISK-by-size (Spark spills oversized partitions rather
    * than evict-and-reparse, which would break lane consistency) and the
    * handle is RETURNED — call `release()` once both lanes are consumed.
    */
  final case class QuarantineRead(good: DataFrame, quarantined: DataFrame,
      private val raw: DataFrame) {
    /** Drop the pinned one-parse materialization once both lanes are
      * consumed (blocking=false: lazy executor-side eviction). Releasing
      * ENDS the read: the lanes must not be re-executed afterwards —
      * uncached, their plans re-hit Spark's corrupt-record-only-filter
      * restriction (SPARK-38523 family), the very thing the
      * materialization exists to avoid.
      */
    def release(): Unit = raw.unpersist(blocking = false)
  }

  def readCsvQuarantine(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType)
      : QuarantineRead = {
    require(!schema.fieldNames.contains("_corrupt_record"),
      "schema must not already declare _corrupt_record")
    val withCorrupt = schema.add("_corrupt_record",
      org.apache.spark.sql.types.StringType, nullable = true)
    val raw = spark.read
      .schema(withCorrupt)
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .csv(path)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val good = raw.where(col("_corrupt_record").isNull)
      .drop("_corrupt_record")
    val bad = raw.where(col("_corrupt_record").isNotNull)
      .select(col("_corrupt_record").as("raw_line"))
    QuarantineRead(good, bad, raw)
  }

}
