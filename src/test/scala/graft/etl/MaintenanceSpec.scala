package graft.etl

import graft.SparkSpec
import org.apache.spark.sql.functions._

class MaintenanceSpec extends SparkSpec {

  /** A store's live data files, per its latest committed manifest. */
  private def liveFiles(store: String): Seq[String] =
    Maintenance.readManifested(spark, store).inputFiles.toSeq

  private def partitionDir(file: String): String =
    new org.apache.hadoop.fs.Path(file).getParent.getName

  test("readEvolved merges evolving schemas; old files yield NULL for new columns") {
    import spark.implicits._
    val dir = SparkSpec.tempDir("graft_evolve_").toString
    // generation 1: (id, a) — generation 2 adds column b
    Seq((1L, "x"), (2L, "y")).toDF("id", "a")
      .coalesce(1).write.parquet(s"$dir/g=1")
    Seq((3L, "z", 30L), (4L, "w", 40L)).toDF("id", "a", "b")
      .coalesce(1).write.parquet(s"$dir/g=2")

    val merged = Maintenance.readEvolved(spark, Seq(dir))
    assert(merged.columns.toSet == Set("id", "a", "b", "g"))
    assert(merged.count() == 4)
    // old generation's missing column is NULL, not an error, not garbage
    assert(merged.where($"g" === 1 && $"b".isNull).count() == 2)
    assert(merged.where($"g" === 2).agg(sum($"b")).head().getLong(0) == 70L)
    // plain read (no mergeSchema) picks ONE footer — the guard readEvolved exists for
    assert(spark.read.parquet(dir).columns.toSet != merged.columns.toSet ||
      merged.columns.toSet.subsetOf(spark.read.parquet(dir).columns.toSet))
  }

  test("compact collapses a many-small-file table to the computed target count") {
    val store = SparkSpec.tempDir("graft_compact_").toString
    val df = graft.Tables.load(spark, "/root/testdata/sf0.001", "lineitem")
    Maintenance.upsertManifested(df.repartition(40),
      Seq("l_orderkey", "l_linenumber", "l_returnflag"), "l_returnflag", store)
    val before = liveFiles(store).size
    assert(before >= 30, s"fixture should start fragmented, had $before files")
    val nParts = df.select("l_returnflag").distinct().count().toInt

    // target sized so every partition fits one file
    val planned = Maintenance.compact(spark, store, targetBytes = 1L << 30)
    val after = liveFiles(store)
    assert(planned == nParts && after.size == nParts,
      s"expected one file per partition ($nParts), planned $planned, got ${after.size}")
    assert(after.map(partitionDir).distinct.size == nParts)
    // content preserved exactly
    val b = Maintenance.readManifested(spark, store)
      .select(df.columns.toIndexedSeq.map(col): _*)
    assert(df.exceptAll(b).isEmpty && b.exceptAll(df).isEmpty)
  }

  test("compact sizes each partition from its live files' lengths and " +
    "writes exactly the planned file count") {
    val store = SparkSpec.tempDir("graft_compact_part_").toString
    val df = graft.Tables.load(spark, "/root/testdata/sf0.001", "orders")
      .withColumn("pri", substring(col("o_orderpriority"), 1, 1))
    Maintenance.upsertManifested(df.repartition(8), Seq("o_orderkey", "pri"),
      "pri", store)
    val before = liveFiles(store).size
    val nParts = df.select("pri").distinct().count().toInt
    // a small target splits every partition, but into fewer files than the
    // 8 each one starts with
    val planned = Maintenance.compact(spark, store, targetBytes = 8L * 1024)
    val after = liveFiles(store).size
    assert(planned > nParts, s"planned $planned files for $nParts partitions")
    assert(after == planned && after < before,
      s"planned $planned, live files $before -> $after")
    val b = Maintenance.readManifested(spark, store)
      .select(df.columns.toIndexedSeq.map(col): _*)
    assert(df.exceptAll(b).isEmpty && b.exceptAll(df).isEmpty)
  }

  test("compact reads only the live files: a key upserted twice compacts " +
    "to its latest row, never resurrecting the superseded one") {
    import spark.implicits._
    val store = SparkSpec.tempDir("graft_compact_live_").toString
    Maintenance.upsertManifested((1 to 40).map(k => (1, k, 0L)).toDF("p", "k", "v")
      .repartition(4), Seq("p", "k"), "p", store)
    Maintenance.upsertManifested(Seq((1, 7, 1L)).toDF("p", "k", "v"),
      Seq("p", "k"), "p", store)
    Maintenance.upsertManifested(Seq((1, 7, 2L)).toDF("p", "k", "v"),
      Seq("p", "k"), "p", store)
    val expected = (1 to 40).map(k => (1, k, if (k == 7) 2L else 0L)).toSet
    def rows(): Seq[(Int, Int, Long)] = Maintenance.readManifested(spark, store)
      .select("p", "k", "v").as[(Int, Int, Long)].collect().toSeq
    assert(rows().toSet == expected && rows().size == 40)
    val before = liveFiles(store).size
    assert(before > 1, "fixture must leave several live files to compact")

    assert(Maintenance.compact(spark, store) == 1)
    assert(liveFiles(store).size == 1)
    val got = rows()
    assert(got.size == 40 && got.toSet == expected,
      s"compaction changed the rows: ${got.filter(_._2 == 7)}")
    // the replaced files are orphans now; vacuum reclaims them
    assert(Maintenance.vacuumManifested(spark, store) >= before)
    assert(rows().toSet == expected)
  }

  test("a string partition column keeps its values and type through upsert " +
    "and compaction: \"007\", an escaped path value, and NULL") {
    import spark.implicits._
    val store = SparkSpec.tempDir("graft_string_part_").toString
    // day 1 holds only a numeric-looking value and NULL, so directory-name
    // inference would read the column back as a number
    val day1 = for (p <- Seq(Some("007"), None); k <- 1 to 20) yield (p, k, 0L)
    Maintenance.upsertManifested(day1.toDF("p", "k", "v").repartition(4),
      Seq("p", "k"), "p", store)
    // day 2 carries both partitions through a read and adds a value that
    // needs path escaping, spread over several files so compaction
    // rewrites that partition too
    val escaped = (1 to 4).map(k => (Option("a/b=c d"), k, 5L))
    val day2 = Seq((Option("007"), 7, 1L), (Option.empty[String], 7, 1L)) ++ escaped
    Maintenance.upsertManifested(day2.toDF("p", "k", "v").repartition(4),
      Seq("p", "k"), "p", store)
    val expected = day1.map { case (p, k, _) => (p, k, if (k == 7) 1L else 0L) }
      .toSet ++ escaped
    def check(stage: String): Unit = {
      val got = Maintenance.readManifested(spark, store)
      assert(got.schema("p").dataType == org.apache.spark.sql.types.StringType,
        s"$stage: p read back as ${got.schema("p").dataType}")
      assert(got.select("p", "k", "v").as[(Option[String], Int, Long)]
        .collect().toSet == expected, s"$stage: rows changed")
    }
    check("after upsert")
    assert(Maintenance.readManifested(spark, store).where($"p" === "a/b=c d")
      .select("_metadata.file_path").distinct().count() > 1,
      "fixture must leave the escaped partition several live files")
    assert(Maintenance.compact(spark, store) == 3)
    assert(liveFiles(store).size == 3)
    check("after compaction")
  }

  test("a manifest without a #schema line is refused, naming a rewrite") {
    import spark.implicits._
    val store = SparkSpec.tempDir("graft_noschema_").toString
    Maintenance.upsertManifested(Seq((1, 1, 0L)).toDF("p", "k", "v"),
      Seq("p", "k"), "p", store)
    // strip the schema line, as a manifest written before schemas were
    // recorded would read
    val m = java.nio.file.Paths.get(s"$store/_manifest/v00000001.txt")
    val lines = java.nio.file.Files.readAllLines(m)
    java.nio.file.Files.write(m, lines.subList(1, lines.size))
    for (op <- Seq[() => Any](
        () => Maintenance.readManifested(spark, store),
        () => Maintenance.upsertManifested(Seq((1, 1, 1L)).toDF("p", "k", "v"),
          Seq("p", "k"), "p", store),
        () => Maintenance.compact(spark, store))) {
      val e = intercept[IllegalArgumentException](op())
      assert(e.getMessage.contains("records no schema") &&
        e.getMessage.contains("rewrite the store"), e.getMessage)
    }
    assert(Maintenance.manifestVersion(spark, store) == 1L)
  }

  test("ANALYZE TABLE feeds the CBO measured stats (rowCount visible in catalog)") {
    val df = graft.Tables.load(spark, "/root/testdata/sf0.001", "region")
    // clear any stale managed-table location from a previous test run
    spark.sql("DROP TABLE IF EXISTS maint_region")
    val loc = new java.io.File("target/spark-warehouse/maint_region")
    if (loc.exists()) {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
      }
      rm(loc)
    }
    df.write.mode("overwrite").saveAsTable("maint_region")
    Maintenance.analyzeTable(spark, "maint_region", Seq("r_regionkey"))
    // catalog-level truth: ANALYZE recorded exact row count + column stats
    val meta = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier("maint_region"))
    assert(meta.stats.exists(_.rowCount.exists(_.toLong == df.count())),
      s"expected analyzed rowCount in catalog, got ${meta.stats}")
    assert(meta.stats.exists(_.colStats.contains("r_regionkey")),
      "expected column stats for r_regionkey")
    // plan-level: with CBO on, the optimizer sees the measured rowCount
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try {
      val stats = spark.table("maint_region").queryExecution.optimizedPlan.stats
      assert(stats.rowCount.exists(_.toLong == df.count()),
        s"CBO should read the analyzed rowCount, got ${stats.rowCount}")
    } finally spark.conf.set("spark.sql.cbo.enabled", "false")
  }

  test("general keyed upsert: replaces matched keys, carries the rest, " +
    "leaves untouched partitions byte-identical, and replays idempotently") {
    import spark.implicits._
    val out = SparkSpec.tempDir("graft_upsert_").toString
    // an int partition axis + a composite row key — deliberately NOT the
    // month/event_type shape, to prove the axis generalizes
    val day1 = Seq(
      (1, "a", 10L), (1, "b", 11L),
      (2, "a", 20L), (2, "b", 21L),
      (3, "a", 30L)).toDF("scenario", "metric", "v")
    // first write: empty-store path
    assert(Maintenance.upsertManifested(day1, Seq("scenario", "metric"),
      "scenario", out) == Seq("1", "2", "3"))

    def partFiles(): Map[String, Set[String]] =
      liveFiles(out).toSet.groupBy(partitionDir)
    val before = partFiles()

    // day 2: replace (2, a), add (2, c); (2, b) must carry, 1 and 3 untouched
    val day2 = Seq((2, "a", 200L), (2, "c", 22L)).toDF("scenario", "metric", "v")
    assert(Maintenance.upsertManifested(day2, Seq("scenario", "metric"),
      "scenario", out) == Seq("2"))

    val expected = Set(
      (1, "a", 10L), (1, "b", 11L),
      (2, "a", 200L), (2, "b", 21L), (2, "c", 22L),
      (3, "a", 30L))
    def readAll(): Set[(Int, String, Long)] =
      Maintenance.readManifested(spark, out).select("scenario", "metric", "v")
        .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSet
    assert(readAll() == expected)

    // the manifest still lists exactly the day-1 files of partitions 1 and 3
    val after = partFiles()
    Seq("scenario=1", "scenario=3").foreach { d =>
      assert(after(d) == before(d), s"untouched partition $d was rewritten")
    }

    // at-least-once replay of the same complete-values batch: same contents
    Maintenance.upsertManifested(day2, Seq("scenario", "metric"), "scenario", out)
    assert(readAll() == expected)
  }

  test("upsert rejects a partition axis outside the key (silent-duplicate " +
    "guard) and reports touched partitions in natural order") {
    import spark.implicits._
    val out = SparkSpec.tempDir("graft_upsert_guard_").toString
    val rows = Seq((2, "a", 1L), (10, "a", 2L)).toDF("scenario", "metric", "v")
    // partitionCol ∉ keyCols: a moved key's old row would survive unseen
    val e = intercept[IllegalArgumentException] {
      Maintenance.upsertManifested(rows, Seq("metric"), "scenario", out)
    }
    assert(e.getMessage.contains("must be one of keyCols"))
    // numeric axis: 2 < 10 in the axis' order, not "10" < "2" lexicographic
    assert(Maintenance.upsertManifested(rows, Seq("scenario", "metric"),
      "scenario", out) == Seq("2", "10"))
  }

  test("manifest-committed upsert: a reader mid-upsert sees the old or the " +
    "new content in full, never a mix; vacuum reclaims orphans") {
    import spark.implicits._
    val store = SparkSpec.tempDir("graft_manifest_").toString
    val day1 = Seq(
      (1, "a", 10L), (2, "a", 20L), (2, "b", 21L), (3, "a", 30L))
      .toDF("scenario", "metric", "v")
    assert(Maintenance.upsertManifested(day1, Seq("scenario", "metric"),
      "scenario", store) == Seq("1", "2", "3"))

    def readAll(): Set[(Int, String, Long)] =
      Maintenance.readManifested(spark, store).select("scenario", "metric", "v")
        .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSet
    val v1 = Set((1, "a", 10L), (2, "a", 20L), (2, "b", 21L), (3, "a", 30L))
    assert(readAll() == v1)

    // MID-UPSERT WINDOW: stage day 2's replacement files exactly as the
    // writer would (appended data files, manifest NOT yet swapped). A
    // reader must still see v1 in full.
    Seq((2, "a", 200L), (2, "c", 22L), (2, "b", 21L))
      .toDF("scenario", "metric", "v")
      .write.mode("append").partitionBy("scenario").parquet(s"$store/data")
    assert(readAll() == v1,
      "reader saw staged-but-uncommitted files — the commit window leaks")

    // the staged-but-never-committed files are exactly what a crashed
    // writer leaves behind; vacuum reclaims them without touching v1
    assert(Maintenance.vacuumManifested(spark, store) > 0)
    assert(readAll() == v1)

    // the real day-2 upsert: replace (2,a), add (2,c), carry (2,b);
    // partitions 1 and 3 untouched
    val day2 = Seq((2, "a", 200L), (2, "c", 22L)).toDF("scenario", "metric", "v")
    assert(Maintenance.upsertManifested(day2, Seq("scenario", "metric"),
      "scenario", store) == Seq("2"))
    val v2 = Set((1, "a", 10L), (2, "a", 200L), (2, "b", 21L), (2, "c", 22L),
      (3, "a", 30L))
    assert(readAll() == v2)

    // v1's files are still on disk (append-only store) — a reader that had
    // already resolved v1's manifest keeps its snapshot; vacuum then
    // reclaims v1's superseded partition-2 files and old manifests
    val reclaimed = Maintenance.vacuumManifested(spark, store)
    assert(reclaimed > 0, "vacuum found no superseded files after an upsert")
    assert(readAll() == v2)

    // replay of the same complete-values batch converges to the same rows
    Maintenance.upsertManifested(day2, Seq("scenario", "metric"),
      "scenario", store)
    assert(readAll() == v2)
  }

  test("upsert into a NULL partition replaces matched keys and carries the " +
    "rest (isin-vs-NULL and equality-anti-join-vs-NULL traps)") {
    import spark.implicits._
    // null partition values land in __HIVE_DEFAULT_PARTITION__; a bare isin
    // carry filter never matches NULL (the partition would be replaced
    // without being read), and a plain equality anti-join never matches a
    // NULL key (the old row would be carried alongside its replacement as
    // a duplicate). The upsert must get both right.
    val day1 = Seq(
      (Some(1), "a", 5L),
      (None, "a", 1L), (None, "b", 2L)).toDF("scenario", "metric", "v")
    val day2 = Seq((Option.empty[Int], "a", 10L)).toDF("scenario", "metric", "v")
    val expected = Set((None, "a", 10L), (None, "b", 2L), (Some(1), "a", 5L))
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Option[Int], String, Long)] =
      df.select("scenario", "metric", "v").collect()
        .map(r => (if (r.isNullAt(0)) None else Some(r.getInt(0)),
          r.getString(1), r.getLong(2))).toSet

    val store = SparkSpec.tempDir("graft_manifest_null_").toString
    assert(Maintenance.upsertManifested(day1, Seq("scenario", "metric"),
      "scenario", store) == Seq("null", "1"))
    Maintenance.upsertManifested(day2, Seq("scenario", "metric"), "scenario", store)
    assert(rows(Maintenance.readManifested(spark, store)) == expected)
  }

  test("a manifest store under a RELATIVE directory commits a readable " +
    "manifest (listed paths are absolute; the prefix must be qualified)") {
    import spark.implicits._
    val store = s"target/graft_manifest_rel_${java.util.UUID.randomUUID()}"
    try {
      Maintenance.upsertManifested(Seq((1, "a", 1L), (2, "a", 2L))
        .toDF("p", "k", "v"), Seq("p", "k"), "p", store)
      // the second upsert carries through the first version's live files
      Maintenance.upsertManifested(Seq((1, "b", 3L)).toDF("p", "k", "v"),
        Seq("p", "k"), "p", store)
      val got = Maintenance.readManifested(spark, store).select("p", "k", "v")
        .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSet
      assert(got === Set((1, "a", 1L), (1, "b", 3L), (2, "a", 2L)))
    } finally {
      val (fs, p) = Maintenance.fsFor(spark, store)
      fs.delete(p, true)
    }
  }

  test("manifest version slot can be claimed exactly once on the local FS " +
    "(concurrent-writer guard; POSIX rename would silently overwrite)") {
    val dir = SparkSpec.tempDir("graft_claim_").toString
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def stage(name: String, content: String) = {
      val p = new org.apache.hadoop.fs.Path(dir, name)
      val os = fs.create(p, false)
      try os.write(content.getBytes("UTF-8")) finally os.close()
      p
    }
    val target = new org.apache.hadoop.fs.Path(dir, "v00000007.txt")
    assert(Maintenance.claimVersionSlot(fs, stage(".tmp-a", "writer-a"), target))
    // the loser must observe a taken slot, not silently replace the winner
    assert(!Maintenance.claimVersionSlot(fs, stage(".tmp-b", "writer-b"), target))
    val in = fs.open(target)
    val content = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
    assert(content == "writer-a", s"loser overwrote the committed manifest: $content")
  }

  test("incremental rollup refresh rewrites ONLY the touched month partitions") {
    import spark.implicits._
    // the sf0.001 events all land in one month — synthesize a second month
    // by shifting a copy, so the fixture has both a touched and an
    // untouched partition
    val m1 = graft.Tables.load(spark, "/root/testdata/sf0.001", "events")
      .select($"ts", $"event_type", $"value")
    val m2 = m1.withColumn("ts", expr("timestampadd(MONTH, 1, ts)"))
    val all = m1.unionByName(m2)
    val out = SparkSpec.tempDir("graft_rollup_").toString

    // day 1: month 1 complete, month 2 only half-arrived — the first
    // refresh of the empty store is the full build
    Maintenance.refreshMonthlyRollup(
      m1.unionByName(m2.where(hash($"ts") % 2 === 0)), out)

    def partFiles(): Map[String, Set[String]] =
      liveFiles(out).toSet.groupBy(partitionDir)
    val before = partFiles()
    assert(before.size == 2, s"fixture must build 2 month partitions: $before")

    // day 2: month 2's other half arrives; refresh gets the COMPLETE
    // current data for month 2 (the caller contract)
    val touchedMonths = m2.select(date_format($"ts", "yyyy-MM").as("m"))
      .distinct().collect().map(_.getString(0)).toSet
    val rewritten = Maintenance.refreshMonthlyRollup(m2, out)
    assert(rewritten.toSet == touchedMonths)

    // result equals a from-scratch full rebuild…
    val got = Maintenance.readManifested(spark, out)
      .select($"month", $"event_type", $"n_events", $"sum_value")
    val full = Maintenance.monthlyRollup(all)
    assert(got.count() == full.count())
    val diff = got.join(full, Seq("month", "event_type"))
      .where(got("n_events") =!= full("n_events") ||
        abs(got("sum_value") - full("sum_value")) > 1e-6)
    assert(diff.count() == 0, "refreshed rollup differs from a full rebuild")

    // …and the manifest still lists every untouched month's day-1 files
    // (the refresh replaced only the touched partitions)
    val after = partFiles()
    val untouched = before.keySet.filterNot(d =>
      touchedMonths.contains(d.stripPrefix("month=")))
    assert(untouched.nonEmpty, "fixture must span more than the touched months")
    untouched.foreach { d =>
      assert(after(d) == before(d), s"untouched partition $d was rewritten")
    }
  }

  test("SCD2 merge: closed rows pass through, unchanged updates are no-ops, " +
    "changes cut versions, new keys insert, NULL attrs compare null-safely") {
    import spark.implicits._
    val d = (s: String) => java.sql.Date.valueOf(s)
    val current = Seq(
      // key 1: one closed + one open version
      (1L, Option("a"), d("2024-01-01"), Option(d("2024-02-01")), false),
      (1L, Option("b"), d("2024-02-01"), Option.empty[java.sql.Date], true),
      // key 2: open with NULL attr
      (2L, Option.empty[String], d("2024-01-15"), Option.empty[java.sql.Date], true))
      .toDF("k", "attr", "valid_from", "valid_to", "is_current")
    val updates = Seq(
      (1L, Option("b"), d("2024-03-01")), // unchanged → no-op
      (1L, Option("c"), d("2024-04-01")), // change → close b, open c
      (2L, Option.empty[String], d("2024-03-10")), // NULL == NULL → no-op
      (3L, Option("x"), d("2024-05-01"))) // new key → first version
      .toDF("k", "attr", "eff")

    val got = Maintenance.scdMerge(current, updates, Seq("k"), Seq("attr"), "eff")
      .collect()
      .map(r => (r.getLong(0), Option(r.getString(1)), r.getDate(2).toString,
        Option(r.getDate(3)).map(_.toString), r.getBoolean(4)))
      .toSet
    val want = Set(
      (1L, Some("a"), "2024-01-01", Some("2024-02-01"), false), // closed, untouched
      (1L, Some("b"), "2024-02-01", Some("2024-04-01"), false), // closed by c
      (1L, Some("c"), "2024-04-01", None, true),
      (2L, None, "2024-01-15", None, true), // NULL no-op left it open
      (3L, Some("x"), "2024-05-01", None, true))
    assert(got === want)
    // exactly one current version per key
    val currents = got.toSeq.filter(_._5).groupBy(_._1).view.mapValues(_.size)
    assert(currents.toMap.values.forall(_ == 1))
  }

  test("CDC apply: latest sequence wins, deletes remove, inserts add, " +
    "untouched keys pass through, and replay is idempotent") {
    import spark.implicits._
    val base = Seq((1L, "one", 10.0), (2L, "two", 20.0), (3L, "three", 30.0))
      .toDF("k", "name", "bal")
    val changes = Seq(
      (1L, "one_v2", 11.0, "U", 100L),
      (1L, "one_v3", 12.0, "U", 200L), // later seq wins
      (2L, "ignored", 0.0, "U", 50L),
      (2L, "ignored2", 0.0, "D", 60L), // latest is D → key gone
      (4L, "four", 40.0, "I", 70L)) // insert of an unknown key
      .toDF("k", "name", "bal", "op", "seq")

    def snap(df: org.apache.spark.sql.DataFrame): Set[(Long, String, Double)] =
      df.collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet

    val once = Maintenance.applyCdc(base, changes, Seq("k"), "op", "seq")
    assert(snap(once) === Set(
      (1L, "one_v3", 12.0), (3L, "three", 30.0), (4L, "four", 40.0)))
    // at-least-once replay: applying the same batch to the result is a no-op
    val twice = Maintenance.applyCdc(once, changes, Seq("k"), "op", "seq")
    assert(snap(twice) === snap(once))
  }

  test("CDC-manifested store: bootstraps from the first batch, deletes drop " +
    "keys AND fully-emptied partitions, replay is a no-op, untouched " +
    "partition files stay byte-identical") {
    import spark.implicits._
    val store = SparkSpec.tempDir("graft_cdc_store_").toString
    def read(): Set[(Long, Int, String)] =
      Maintenance.readManifested(spark, store)
        .select("k", "p", "v").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    def partFiles(p: Int): Map[String, Long] = {
      val d = new java.io.File(s"$store/data/p=$p")
      if (!d.exists()) Map.empty
      else d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    }

    val b1 = Seq(
      (1L, 1, "a", "I", 10L), (2L, 1, "b", "I", 11L),
      (3L, 2, "c", "I", 12L), (4L, 2, "d", "I", 13L),
      (5L, 3, "e", "I", 14L))
      .toDF("k", "p", "v", "op", "seq")
    Maintenance.applyCdcManifested(b1, Seq("k", "p"), "op", "seq", "p", store)
    assert(read() === Set((1L, 1, "a"), (2L, 1, "b"), (3L, 2, "c"),
      (4L, 2, "d"), (5L, 3, "e")))
    val p3Before = partFiles(3)

    // update k1, delete ALL of partition 2 — its directory must drop out
    // of the manifest even though the replacement content stages no files
    val b2 = Seq(
      (1L, 1, "a2", "U", 20L),
      (3L, 2, "x", "D", 21L), (4L, 2, "y", "D", 22L))
      .toDF("k", "p", "v", "op", "seq")
    Maintenance.applyCdcManifested(b2, Seq("k", "p"), "op", "seq", "p", store)
    assert(read() === Set((1L, 1, "a2"), (2L, 1, "b"), (5L, 3, "e")))

    // at-least-once replay of the same batch: same logical content
    Maintenance.applyCdcManifested(b2, Seq("k", "p"), "op", "seq", "p", store)
    assert(read() === Set((1L, 1, "a2"), (2L, 1, "b"), (5L, 3, "e")))

    // the untouched partition's files were never rewritten
    assert(partFiles(3) === p3Before, "untouched partition p=3 was rewritten")
  }

  test("CDC apply: a NULL or unknown op never deletes — malformed feed " +
    "rows apply as upserts") {
    import spark.implicits._
    val base = Seq((1L, "one", 10.0)).toDF("k", "name", "bal")
    val changes = Seq(
      (1L, "one_null_op", 11.0, Option.empty[String], 100L), // NULL op wins
      (2L, "two_weird", 20.0, Option("X"), 50L)) // unknown op on a new key
      .toDF("k", "name", "bal", "op", "seq")
    val got = Maintenance.applyCdc(base, changes, Seq("k"), "op", "seq")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(got === Set((1L, "one_null_op", 11.0), (2L, "two_weird", 20.0)))
  }

  test("SCD2 merge: a row with NULL is_current is never dropped — openness " +
    "derives from valid_to nullity") {
    import spark.implicits._
    val d = (s: String) => java.sql.Date.valueOf(s)
    val current = Seq(
      // NULL flag + NULL valid_to: must behave as the open version
      (1L, Option("a"), d("2024-01-01"), Option.empty[java.sql.Date],
        Option.empty[Boolean]),
      // NULL flag + set valid_to: must pass through as closed history
      (2L, Option("b"), d("2024-01-01"), Option(d("2024-02-01")),
        Option.empty[Boolean]),
      (2L, Option("c"), d("2024-02-01"), Option.empty[java.sql.Date],
        Option(true)))
      .toDF("k", "attr", "valid_from", "valid_to", "is_current")
    val updates = Seq((1L, Option("z"), d("2024-03-01")))
      .toDF("k", "attr", "eff")
    val got = Maintenance.scdMerge(current, updates, Seq("k"), Seq("attr"), "eff")
      .collect()
      .map(r => (r.getLong(0), Option(r.getString(1)), r.getDate(2).toString,
        Option(r.getDate(3)).map(_.toString), r.getBoolean(4)))
      .toSet
    assert(got === Set(
      (1L, Some("a"), "2024-01-01", Some("2024-03-01"), false), // healed open → closed by z
      (1L, Some("z"), "2024-03-01", None, true),
      (2L, Some("b"), "2024-01-01", Some("2024-02-01"), false), // closed kept despite NULL flag
      (2L, Some("c"), "2024-02-01", None, true)))
  }

  test("snapshotDiff classifies every status and its fingerprint separates " +
    "NULL, empty, and separator-adjacent values") {
    import spark.implicits._
    val prev = Seq(
      (1L, Option("a"), Option("x")),   // unchanged
      (2L, Option("b"), Option("x")),   // changed (value edit)
      (3L, Option("c"), Option("x")),   // removed
      (4L, Option("a"), Option.empty[String]),  // NULL vs '' must be CHANGED
      (5L, Option("a|"), Option("")),   // value containing the separator
      (7L, Option("ab"), Option("")))   // boundary-shift trap
      .toDF("k", "v1", "v2")
    val next = Seq(
      (1L, Option("a"), Option("x")),
      (2L, Option("B"), Option("x")),
      (4L, Option("a"), Option("")),
      (5L, Option("a"), Option("|")),  // sentinel-concat schemes see 'a|'+''
                                       // == 'a'+'|' -- per-column md5 cannot
      (7L, Option("a"), Option("b")),  // 'ab'+'' == 'a'+'b' under bare concat
      (6L, Option("new"), Option("x")))    // added
      .toDF("k", "v1", "v2")
    val got = Maintenance.snapshotDiff(prev, next, Seq("k"), Seq("v1", "v2"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(1L -> "unchanged", 2L -> "changed", 3L -> "removed",
      4L -> "changed", 5L -> "changed", 6L -> "added", 7L -> "changed"))
  }

  test("rebuildPartitionsManifested: touched values match by partition " +
    "ADDRESS, not runtime box — Seq(1L) vs an int column commits; a true " +
    "stray still rejects") {
    import spark.implicits._
    val store = SparkSpec.tempDir("graft_rebuild_box_").toString
    val rows = Seq((1, "a"), (1, "b")).toDF("p", "v")
    // int column, Long touched values: dir names match (p=1), so this must
    // commit instead of rejecting every row as stray (ADVICE r14)
    Maintenance.rebuildPartitionsManifested(rows, "p", store, Seq(1L))
    assert(Maintenance.readManifested(spark, store).count() === 2)
    // a genuinely-untouched partition value still rejects loudly
    val ex = intercept[IllegalArgumentException] {
      Maintenance.rebuildPartitionsManifested(
        Seq((2, "c")).toDF("p", "v"), "p", store, Seq(1L))
    }
    assert(ex.getMessage.contains("outside the touched set"))
  }
}
