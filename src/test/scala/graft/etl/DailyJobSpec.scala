package graft.etl

import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** EXECUTES docs/OPERATIONS.md as one two-day simulation (VERDICT r10 #5):
  * every step was individually spec'd, this gates the COMPOSITION — day 1
  * bootstraps the warehouse from run bundles, day 2 arrives with new
  * buildings AND late corrected data for a day-1 building, and the day-2
  * job is killed between the store commit (step 4) and the rollup refresh,
  * then rerun from the top. Asserts:
  *
  *   - final warehouse state equals the single-shot batch truth (upsert
  *     semantics applied once over all data);
  *   - the crash-then-rerun leaves partition files UNTOUCHED by day 2
  *     byte-identical (the manifested store only stages touched
  *     partitions);
  *   - the incremental rollup refresh equals a from-scratch rebuild;
  *   - the day-2 churn gate (snapshotDiff) sees exactly the expected
  *     added/changed/removed counts;
  *   - compacting the meter store after day 2, killed before its commit
  *     and rerun, then vacuumed, keeps it equal to the single-shot truth
  *     at every point and leaves fewer live files.
  *
  * Steps exercised: 1 ingest (extractRuns on real zips), 2 observe, 3
  * validate (star schema on the day's slice), 4 upsert (manifested zones
  * and meters) and rollup refresh, 5 incremental dedup, 6 IVF refresh
  * (refreshKeyed), 7 publish (writeJsonl), 8 gates (snapshotDiff), 9
  * compaction (compact, then vacuumManifested).
  */
class DailyJobSpec extends SparkSpec {

  import spark.implicits._

  // ---- fixture: two arrival directories -------------------------------
  // day 1: buildings B1..B3, 48 h from Jan 1 (partitions Jan 1 + Jan 2)
  // day 2: B4, B5 (48 h from Feb 1) + a LATE corrected 24-h re-delivery of
  //        B1 covering Jan 1 only — so the Jan 2 partition is untouched by
  //        day 2 and must stay byte-identical through crash + rerun
  private val febStart = 473352L + 31 * 24 // 2024-02-01T00:00Z

  private lazy val day1Dir: Path = {
    val d = SyntheticRuns.tempDir()
    Seq("B1", "B2", "B3").foreach(b =>
      SyntheticRuns.writeRunZip(d, SyntheticRuns.Spec(b, "BASE", hours = 48)))
    d
  }
  private lazy val day2Dir: Path = {
    val d = SyntheticRuns.tempDir()
    Seq("B4", "B5").foreach(b =>
      SyntheticRuns.writeRunZip(d,
        SyntheticRuns.Spec(b, "BASE", hours = 48, startEpochHour = febStart)))
    // the corrected re-simulation: same keys as B1's first 24 h, new values
    SyntheticRuns.writeRunZip(d, SyntheticRuns.Spec("B1", "BASE", hours = 24,
      corrupt = Map("air_temp_C" -> 23.5)))
    d
  }

  private val zoneKeys =
    Seq("building_id", "scenario_id", "zone_id", "timestamp", "day")
  private val meterKeys =
    Seq("building_id", "scenario_id", "timestamp", "month")

  /** "d"-prefixed day partition value: a bare yyyy-MM-dd would be
    * type-inferred back as DATE on read, silently changing the key schema
    * between the update and carried sides.
    */
  private def withDay(zones: DataFrame): DataFrame =
    zones.withColumn("day",
      concat(lit("d"), date_format(col("timestamp"), "yyyy-MM-dd")))

  private def withMonth(meters: DataFrame): DataFrame =
    meters.withColumn("month", date_format(col("timestamp"), "yyyy-MM"))

  /** meters melted to the (ts, event_type, value) rollup input shape. */
  private def melt(meters: DataFrame): DataFrame =
    meters.select(col("timestamp").as("ts"),
      explode(map(
        lit("electric"), col("electric_kwh"),
        lit("heating"), col("heating_kwh"),
        lit("cooling"), col("cooling_kwh"))).as(Seq("event_type", "value")))

  /** per-(building, zone) doc corpus for the dedup-maintenance step. */
  private def asDocs(zones: DataFrame): DataFrame =
    zones.groupBy(col("building_id"), col("zone_id"))
      .agg(concat_ws(" ",
        sort_array(collect_list(concat_ws(":", col("timestamp").cast("string"),
          col("air_temp_C").cast("string"))))).as("text"))
      .select(xxhash64(col("building_id"), col("zone_id")).as("doc_id"),
        col("text"))

  /** Deterministic 8-dim embedding per doc for the step-6 index leg —
    * hash-derived features in [-1, 1), seedless and rerun-stable.
    */
  private def embed(docsDf: DataFrame): DataFrame =
    docsDf.select(col("doc_id").as("vec_id"),
      array((0 until 8).map(j =>
        (pmod(xxhash64(col("text"), lit(j)), lit(1000)).cast("double")
          / 500.0 - 1.0).cast("float")): _*).as("embedding"))

  /** Un-publish a store's latest manifest version and its centroid sidecar
    * — the RecallSpec crash trick: after a refresh commits, this IS the
    * on-disk state of a job killed after staging its data files but before
    * the atomic manifest rename.
    */
  private def unpublishLatest(store: String): Unit = {
    val v = Maintenance.manifestVersion(spark, store)
    val (fs, _) = Maintenance.fsFor(spark, store)
    fs.delete(new org.apache.hadoop.fs.Path(f"$store/_manifest/v$v%08d.txt"), false)
    fs.delete(new org.apache.hadoop.fs.Path(f"$store/centroids_v$v%08d"), true)
  }

  private def md5s(dir: Path): Map[String, String] = {
    if (!Files.exists(dir)) return Map.empty
    val md = MessageDigest.getInstance("MD5")
    import scala.jdk.CollectionConverters._
    val walk = Files.walk(dir)
    try walk.iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
      .map { p =>
        md.reset()
        p.toString -> java.util.HexFormat.of().formatHex(md.digest(Files.readAllBytes(p)))
      }.toMap
    finally walk.close()
  }

  /** One daily run, OPERATIONS.md order; `crashBeforeRollup` kills the job
    * right after the warehouse commit. Returns the day's validated zones and
    * meters slices for the gate assertions.
    */
  private def dailyJob(arrivalDir: Path, zonesStore: String,
      metersStore: String, rollupDir: String, publishDir: String,
      indexedDocs: Option[DataFrame], crashBeforeRollup: Boolean,
      indexDir: Option[String] = None): (DataFrame, DataFrame) = {
    // step 1: ingest
    val runs = Extract.extractRuns(spark, arrivalDir.toString)
    val zonesRaw = runs.map(_.zones).reduce(_ unionByName _)
    val metersRaw = runs.map(_.meters).reduce(_ unionByName _)
    // step 2: observe — metrics ride the validation pass
    val (zonesObs, obs) = Observe.instrument(zonesRaw, s"ingest-${arrivalDir.getFileName}",
      "rows" -> count(lit(1)),
      "null_temp" -> count(when(col("air_temp_C").isNull, 1)))
    // step 3: validate the day's slice BEFORE any store mutation — one
    // validation per simulation window: the temporal-coverage check
    // asserts a contiguous hourly grid, so a late-arriving correction
    // batch validates as its own window (mixing vintages in one report
    // would flag the inter-batch calendar gap, not a data defect)
    runs.groupBy(r =>
      r.zones.agg(min(col("timestamp"))).head().getTimestamp(0).toInstant
        .toString.take(7))
      .foreach { case (window, grp) =>
        val report = Validate.validateAll(spark,
          Transform.transformAll(spark, grp))
        assert(report.isValid,
          s"window $window failed validation: ${report.render}")
      }
    // step 4a: upsert the stores (zones and meters). The
    // upsert IS the action the observation rides on (zero extra passes) —
    // obs.get below would block until an action runs on the instrumented
    // frame, so it must come after.
    val zonesDay = withDay(zonesObs)
    Maintenance.upsertManifested(zonesDay, zoneKeys, "day", zonesStore)
    val metrics = obs.get
    assert(metrics("rows").asInstanceOf[Long] > 0 &&
      metrics("null_temp").asInstanceOf[Long] == 0L)
    val metersDay = withMonth(metersRaw)
    val touchedMonths =
      Maintenance.upsertManifested(metersDay, meterKeys, "month", metersStore)
    // step 5: dedup maintenance on the day's slice
    indexedDocs.foreach { idx =>
      val newDocs = asDocs(zonesRaw)
      val pairs = graft.operators.Dedup
        .minhashPairsIncremental(idx, newDocs, "doc_id", "text").collect()
      val newIds = newDocs.select("doc_id").as[Long].collect().toSet
      assert(pairs.forall(r => newIds.contains(r.getLong(0)) ||
        newIds.contains(r.getLong(1))),
        "incremental dedup emitted a pair among already-indexed docs")
    }
    // step 6: index maintenance — refreshKeyed folds the day's vectors in
    // (already-present ids anti-joined away: a re-delivered correction or
    // a replayed day never double-appends). Runs BEFORE the sim's kill
    // point so ONE kill covers both crash windows: on the crash attempt
    // the refresh's version is un-published right after it commits — the
    // exact on-disk state of a job killed between staging the day's
    // vectors and the manifest rename.
    indexDir.foreach { idx =>
      graft.operators.Ivf.refreshKeyed(spark, idx, "vec_id", "embedding",
        embed(asDocs(zonesRaw)))
      if (crashBeforeRollup) unpublishLatest(idx)
    }
    if (crashBeforeRollup) return (zonesDay, metersDay) // ---- CRASH (kill -9 stand-in)
    // step 4b: rollup refresh — COMPLETE current data for touched months,
    // read back from the store (the refresh contract), never the delta
    val monthsSlice = melt(Maintenance.readManifested(spark, metersStore)
      .where(col("month").isin(touchedMonths: _*)))
    Maintenance.refreshMonthlyRollup(monthsSlice, rollupDir)
    // step 7: publish the day's artifacts
    Export.writeJsonl(Maintenance.readManifested(spark, rollupDir), publishDir)
    (zonesDay, metersDay)
  }

  test("OPERATIONS.md steps 1-9 as a two-day run with a kill between " +
    "store commit and rollup refresh: rerun converges to the single-shot " +
    "batch truth and untouched partition files stay byte-identical") {
    val root = SparkSpec.tempDir("graft_daily_")
    val zonesStore = s"$root/zones_store"
    val metersStore = s"$root/meters_store"
    val rollupDir = s"$root/rollup"
    val publish1 = s"$root/publish_day1"
    val publish2 = s"$root/publish_day2"

    // ---- day 1: bootstrap
    val (day1Zones, day1Meters) = dailyJob(day1Dir, zonesStore, metersStore, rollupDir,
      publish1, indexedDocs = None, crashBeforeRollup = false)
    val day1Snapshot = Maintenance.readManifested(spark, zonesStore)
      .persist()
    assert(day1Snapshot.count() === 3 * 48 * 3) // 3 buildings × 48 h × 3 zones
    val untouchedPartition = Paths.get(s"$zonesStore/data/day=d2024-01-02")
    val day1Files = md5s(untouchedPartition)
    assert(day1Files.nonEmpty, s"expected data files under $untouchedPartition")

    // ---- step-6 bootstrap: day-1 docs become the at-rest IVF layout the
    // daily job refreshes (OPERATIONS.md: full retrain is the weekly job,
    // the daily cadence is refreshKeyed)
    val idxDir = s"$root/ivf_index"
    val day1Emb = embed(asDocs(day1Zones))
    val model = graft.operators.Ivf.train(day1Emb, "vec_id", "embedding",
      k = 3, iters = 2)
    graft.operators.Ivf.writeClustered(day1Emb, "vec_id", "embedding", model,
      idxDir)
    val nDay1Docs = day1Emb.count() // 3 buildings x 3 zones

    // ---- day 2, attempt 1: killed right after the warehouse commit —
    // which for the index leg means AFTER the step-6 vectors are staged
    // and BEFORE their manifest commit (the sim un-publishes it)
    val indexed = asDocs(day1Zones)
    dailyJob(day2Dir, zonesStore, metersStore, rollupDir, publish2,
      indexedDocs = Some(indexed), crashBeforeRollup = true,
      indexDir = Some(idxDir))
    // the kill window: store already advanced, rollup still shows day 1
    assert(Maintenance.readManifested(spark, rollupDir).select("month")
      .distinct().as[String].collect().toSet === Set("2024-01"),
      "rollup must still be the day-1 state inside the crash window")
    // ... and the index is in ITS crash window: day-2's new vectors are
    // staged on disk but invisible, and the sidecar still counts day 1
    def idxCount(): Long = graft.operators.Ivf.readData(spark, idxDir).count()
    def sidecarOf(idx: String) = spark.read.parquet(
      f"$idx/centroids_v${Maintenance.manifestVersion(spark, idx)}%08d")
    def sidecarTotal(): Long = sidecarOf(idxDir)
      .agg(sum("n_members")).head().getLong(0)
    assert(spark.read.parquet(s"$idxDir/data").count() === nDay1Docs + 2 * 3,
      "crash window: B4/B5 vectors must already be staged on disk")
    assert(idxCount() === nDay1Docs,
      "crash window: staged vectors must be invisible to readers")
    assert(sidecarTotal() === nDay1Docs,
      "crash window: the sidecar must still be the day-1 state")

    // ---- day 2, rerun from the top (the idempotency contract)
    val (day2Zones, day2Meters) = dailyJob(day2Dir, zonesStore, metersStore, rollupDir,
      publish2, indexedDocs = Some(indexed), crashBeforeRollup = false,
      indexDir = Some(idxDir))

    // gate A: warehouse equals the single-shot truth (upsert semantics
    // applied once over all data: day-2 keys replace, others carry)
    val expected = day1Zones
      .join(day2Zones.select(zoneKeys.map(col): _*).distinct(),
        zoneKeys, "left_anti")
      .unionByName(day2Zones)
    val got = Maintenance.readManifested(spark, zonesStore)
      .withColumn("day", col("day").cast("string"))
      .select(expected.columns.toIndexedSeq.map(col): _*)
    assert(got.count() === expected.count())
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty,
      "warehouse diverged from the single-shot batch truth")

    // gate B: the partition day 2 never touched is byte-identical through
    // commit + crash + rerun
    assert(md5s(untouchedPartition) === day1Files,
      "day-2 crash/rerun rewrote files in an untouched partition")

    // gate C: incremental rollup equals a from-scratch rebuild over the
    // final meters store (counts exact; double sums to 1e-9 relative)
    val rebuilt = Maintenance.monthlyRollup(
      melt(Maintenance.readManifested(spark, metersStore)))
      .withColumnRenamed("n_events", "n2").withColumnRenamed("sum_value", "s2")
    val joined = Maintenance.readManifested(spark, rollupDir)
      .join(rebuilt, Seq("month", "event_type"), "full_outer").collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      assert(!r.isNullAt(2) && !r.isNullAt(4),
        s"rollup row set mismatch at (${r.get(0)}, ${r.get(1)})")
      assert(r.getLong(2) === r.getLong(4))
      val (a, b) = (r.getDouble(3), r.getDouble(5))
      assert(math.abs(a - b) <= 1e-9 * math.max(math.abs(a), math.abs(b)),
        s"rollup sum diverged: $a vs $b")
    }

    // gate D: day-2 churn is exactly what arrived — B4+B5 rows added, the
    // corrected 24 h of B1 changed (constant 23.5 differs from every
    // noise-derived original), nothing removed
    val diff = Maintenance.snapshotDiff(day1Snapshot, got, zoneKeys,
      Seq("air_temp_C", "setpoint_C", "co2_ppm", "rh_pct"))
      .groupBy("status").count().as[(String, Long)].collect().toMap
    assert(diff.getOrElse("added", 0L) === 2L * 48 * 3)
    assert(diff.getOrElse("changed", 0L) === 24L * 3)
    assert(diff.getOrElse("removed", 0L) === 0L)

    // gate E (step 6): the index converged inside the same kill-and-rerun
    // the warehouse survived — exactly one copy of every vector (the B1
    // correction's doc_ids were already indexed and must NOT re-append),
    // sidecar counts equal to the at-rest truth per cluster, and the
    // sidecar equal to a crash-free single-shot run's (same model, same
    // day-2 batch, one refreshKeyed)
    val nFinal = idxCount()
    assert(nFinal === nDay1Docs + 2 * 3,
      "rerun double-appended or dropped index vectors")
    assert(sidecarTotal() === nFinal, "rerun left the sidecar stale")
    val atRest = graft.operators.Ivf.readData(spark, idxDir)
      .groupBy(col("cluster")).agg(count(lit(1)).as("true_n"))
    sidecarOf(idxDir).join(atRest, Seq("cluster"), "full_outer").collect()
      .foreach { r =>
        val n = r.getLong(r.fieldIndex("n_members"))
        val trueN = r.fieldIndex("true_n")
        assert(if (r.isNullAt(trueN)) n == 0L else n == r.getLong(trueN),
          s"stale sidecar count: $r")
      }
    val oneShot = s"$root/ivf_one_shot"
    graft.operators.Ivf.writeClustered(day1Emb, "vec_id", "embedding", model,
      oneShot)
    graft.operators.Ivf.refreshKeyed(spark, oneShot, "vec_id", "embedding",
      embed(asDocs(day2Zones)))
    def cents(idx: String): Map[Int, Seq[Float]] = sidecarOf(idx).collect()
      .map(r => r.getInt(0) -> r.getSeq[Float](r.fieldIndex("centroid"))).toMap
    val want = cents(oneShot)
    cents(idxDir).foreach { case (c, got) =>
      got.zip(want(c)).foreach { case (g, w) =>
        assert(math.abs(g - w) <= 1e-5,
          s"cluster $c centroid differs from the single-shot run: $g vs $w")
      }
    }
    // replay convergence: a third refresh of the same batch changes nothing
    graft.operators.Ivf.refreshKeyed(spark, idxDir, "vec_id", "embedding",
      embed(asDocs(day2Zones)))
    assert(idxCount() === nFinal && sidecarTotal() === nFinal,
      "an extra replay moved the index off its fixed point")
    // the converged index still serves: a day-2 vector's self-probe hits
    val qRow = embed(asDocs(day2Zones)).orderBy("vec_id").head()
    val hits = graft.operators.Ivf.probeClustered(spark, idxDir, "vec_id",
      "embedding", qRow.getSeq[Float](1), nProbe = 2, k = 3)
      .select("vec_id").as[Long].collect().toSet
    assert(hits.contains(qRow.getLong(0)),
      "post-rerun probe lost the queried day-2 vector")

    // step-7 artifact really published and re-readable
    assert(spark.read.json(publish2).count() ===
      Maintenance.readManifested(spark, rollupDir).count())

    // ---- step 9 after day 2: compaction is one more commit that changes
    // files, not rows. Killed before its commit (un-published, like the
    // step-6 crash), rerun, then vacuumed: the meter store equals the
    // single-shot truth at every point and ends with fewer live files
    val metersTruth = day1Meters
      .join(day2Meters.select(meterKeys.map(col): _*).distinct(), meterKeys,
        "left_anti")
      .unionByName(day2Meters)
    def assertMeters(point: String): Unit = {
      val m = Maintenance.readManifested(spark, metersStore)
        .select(metersTruth.columns.toIndexedSeq.map(col): _*)
      assert(m.exceptAll(metersTruth).isEmpty && metersTruth.exceptAll(m).isEmpty,
        s"meter store diverged from the single-shot truth $point")
    }
    val liveBefore = Maintenance.readManifested(spark, metersStore).inputFiles.length
    assertMeters("before compaction")
    Maintenance.compact(spark, metersStore)
    assertMeters("after compaction")
    unpublishLatest(metersStore)
    assertMeters("inside the compaction's crash window")
    val planned = Maintenance.compact(spark, metersStore)
    assertMeters("after the compaction rerun")
    assert(Maintenance.vacuumManifested(spark, metersStore) > 0,
      "vacuum found none of the files compaction replaced")
    assertMeters("after vacuum")
    val liveAfter = Maintenance.readManifested(spark, metersStore).inputFiles.length
    assert(liveAfter === planned && liveAfter < liveBefore,
      s"live files $liveBefore -> $liveAfter (planned $planned)")
    day1Snapshot.unpersist(blocking = false)
  }
}
