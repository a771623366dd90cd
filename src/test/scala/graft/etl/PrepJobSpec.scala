package graft.etl

import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest

import graft.SparkSpec
import graft.functions.TextFunctions
import graft.operators.{Corpus, Dedup}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** EXECUTES the corpus-prep runbook as one two-day crash-replay simulation
  * (VERDICT r13 #4 — the DailyJobSpec discipline applied to the LLM-prep
  * chain): snapshot ingest → [[Maintenance.snapshotDiff]] incremental
  * re-entry → clean funnel → near-dup index refresh → chunk → pack →
  * shard → [[Corpus.contentChecksum]]. Day 1 bootstraps the three at-rest
  * stores from corpus v1; day 2 arrives as corpus v2 with ADDED docs (one
  * a near-dup of an indexed doc, one an exact dup of a stored doc, one a
  * near-dup of another ADDED doc, one junk), CHANGED docs (one into a
  * near-dup of a kept doc), and REMOVED docs. The day-2 job is killed
  * TWICE — inside the index-refresh window (doc store committed, index
  * still day-1) and inside the pack window (one shard rebuilt, the rest
  * still day-1) — then rerun from the top. Asserts:
  *
  *   - final doc store ≡ the single-shot truth `clean(v2)` kept set, and
  *     their [[Corpus.contentChecksum]] triples match;
  *   - final prep store (chunks + pack assignment, seq_ids included) ≡
  *     from-scratch chunk+pack of the v2 kept set — pack groups are
  *     doc-derived and group-local, so per-group rebuild IS from-scratch;
  *   - final band index ≡ from-scratch bands of the v2 kept set
  *     (removed/changed docs RETRACTED — the half a key-carry upsert
  *     cannot express, which is what [[Maintenance
  *     .rebuildPartitionsManifested]] exists for);
  *   - every shard partition day 2 never touched stays BYTE-identical
  *     across both crashes and the rerun, in all three stores;
  *   - a further full replay is a content no-op.
  *
  * Incremental ≡ from-scratch holds under two fixture-stated (and
  * production-natural) conventions: ids are monotone in arrival order, so
  * dup contests always resolve toward the at-rest doc (first-seen wins,
  * the streaming gate's rule too), and mutated docs are not dup-anchors
  * whose disappearance would resurrect previously-dropped docs (an
  * incremental pipeline never re-examines docs outside the delta; the
  * checksum gate would catch a violation loudly).
  */
class PrepJobSpec extends SparkSpec {

  import spark.implicits._

  private val G = 8 // pack groups = shards = the partition axis of all 3 stores

  // clean-funnel parameters (the CorpusSpec fixture sensitivity): 2-shingles,
  // 16 perms x 8 bands, near-dup at >= 4 agreeing bands
  private val ShingleN = 2; private val NPerms = 16; private val NBands = 8
  private val MinBands = 4L

  /** The packSequences group derivation — shard ≡ pack group, so a group
    * rebuild is exactly a shard rebuild (the packer scaladoc's natural
    * sink).
    */
  private def pgrp(c: Column): Column =
    (TextFunctions.md5PrefixLong(c.cast("long").cast("string"), 8) % G)
      .cast("int")

  // ---- fixture: two corpus snapshots ---------------------------------
  private val t = Map(
    1 -> ("the cat and the dog is of a house in the town and it is nice " +
      "to see the garden of the house in the morning light"),
    2 -> ("the sun and the moon is of a sky in the night and it is good " +
      "to watch the stars of the sky in the evening air"),
    3 -> ("a river runs to the sea and the boat sails on the water while " +
      "the wind blows over the waves in the open bay"),
    4 -> ("the bread and the cheese is on a table in the kitchen and it " +
      "is time to share the meal of the day with friends"),
    5 -> ("a train rides on the rails and the driver waves at the town " +
      "while the bell rings over the hills in the far distance"),
    6 -> ("the book and the pen is on a desk in the study and it is calm " +
      "to read the pages of the story in the quiet room"),
    7 -> ("a bird flies over the field and the farmer walks on the path " +
      "while the corn grows under the sun in the warm south"),
    8 -> ("the rain and the cloud is of a storm in the north and it is " +
      "wise to close the window of the barn in the early dark"),
    9 -> ("a child plays in the park and the kite rises to the sky while " +
      "the dog runs after the ball in the green grass"),
    10 -> ("the ship and the crew is of a port in the west and it is " +
      "late to load the cargo of the trade in the busy dock"),
    20 -> ("a miner digs in the hill and the lamp glows in the shaft " +
      "while the cart rolls on the track in the deep mine"))
  private val t4b = "the soup and the salt is in a pot on the stove and " +
    "it is warm to taste the broth of the herb in the winter cold"
  // ONE appended token: 2-shingle Jaccard ≈ 0.92 — comfortably above the
  // minBands=4-of-8 confidence bar for every pair (a 5-token tail sat at
  // J ≈ 0.82 where per-text hash luck left some pairs at 3 bands)
  private def nearOf(i: Int) = t(i) + " indeed"

  private lazy val v1: DataFrame = (
    (1 to 10).map(i => (i.toLong, t(i))) ++ Seq(
      (13L, t(1)),                      // exact dup of 1 -> drop
      (14L, nearOf(2)),                 // near dup of 2 -> drop
      (15L, "el la de que los " * 8),   // spanish -> drop
      (16L, "12345 67890")))            // junk -> drop
    .toDF("doc_id", "text")

  // day 2: docs 3 and 15 removed; 4 changed (stays kept), 10 changed into
  // a near-dup of kept 7 (10 > 7 -> 10 drops, its old rows retract); added
  // 20 (kept), 21 near-dup of indexed 5, 22 exact dup of stored 8, 23
  // junk, 24 near-dup of ADDED 20 (among-delta pair)
  private lazy val v2: DataFrame = (
    Seq(1, 2, 5, 6, 7, 8, 9).map(i => (i.toLong, t(i))) ++ Seq(
      (4L, t4b), (10L, nearOf(7)),
      (13L, t(1)), (14L, nearOf(2)), (16L, "12345 67890"),
      (20L, t(20)), (21L, nearOf(5)), (22L, t(8)),
      (23L, "98765 43210"), (24L, nearOf(20))))
    .toDF("doc_id", "text")

  // ---- the prep chain's derived relations ----------------------------
  private def cleanAll(docsDf: DataFrame): DataFrame =
    Corpus.clean(docsDf, "doc_id", "text", minQuality = 0.3,
      keepLangs = Set("en"), minBands = MinBands,
      shingleN = ShingleN, nPerms = NPerms, nBands = NBands)

  private def withGrp(docsDf: DataFrame): DataFrame =
    docsDf.withColumn("pgrp", pgrp($"doc_id"))

  private def bandRows(docsDf: DataFrame): DataFrame =
    withGrp(Dedup.minhashBandBuckets(
      docsDf.select($"doc_id", TextFunctions.tokens($"text").as("toks")),
      ShingleN, NPerms, NBands))

  private def prepRows(docsDf: DataFrame): DataFrame = {
    val chunks = Corpus.chunk(docsDf.select("doc_id", "text"),
      "doc_id", "text", chunkSize = 8)
    val packed = Corpus.packSequences(chunks, "doc_id", "chunk_id",
      "n_tokens", capacity = 32, nPartitions = G)
    withGrp(chunks.join(packed.select("doc_id", "chunk_id", "seq_id"),
      Seq("doc_id", "chunk_id")))
  }

  private def checksumOf(docsDf: DataFrame): (Long, Long, Long) = {
    val r = Corpus.contentChecksum(docsDf, "text").head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** Deterministic per-doc embedding (seedless-sin convention), TEXT-
    * dependent so a changed doc carries a changed vector — the property
    * that makes "retract old, fold new" observable in the index content.
    */
  private def embedOf(docsDf: DataFrame): DataFrame =
    docsDf.select($"doc_id".as("vec_id"),
      org.apache.spark.sql.functions.transform(
        sequence(lit(1), lit(8)), j =>
          sin(($"doc_id" * 31 + j * 7 + length($"text")).cast("double"))
            .cast("float")).as("embedding"))

  // ---- byte-identity probe (the DailyJobSpec md5s helper) -------------
  private def md5s(dir: Path): Map[String, String] = {
    if (!Files.exists(dir)) return Map.empty
    val md = MessageDigest.getInstance("MD5")
    import scala.jdk.CollectionConverters._
    val walk = Files.walk(dir)
    try walk.iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
      .map { p =>
        md.reset()
        p.toString -> java.util.HexFormat.of()
          .formatHex(md.digest(Files.readAllBytes(p)))
      }.toMap
    finally walk.close()
  }

  private def sameRows(a: DataFrame, b: DataFrame, what: String): Unit = {
    assert(a.count() === b.count(), s"$what: row counts diverge")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      s"$what diverged from the single-shot truth")
  }

  /** Day-2 incremental prep, killed at `crash` ("afterDocs" = inside the
    * index-refresh window; "midVec" = between the vector index's two
    * atomic commits (retraction committed, survivors not yet folded);
    * "midPack" = inside the pack window after ONE shard's commit; "none" =
    * run to completion). Always restarts from the top with the same two
    * snapshots — the idempotency contract.
    */
  private def prepDay2(docStore: String, indexDir: String,
      prepStore: String, ivfDir: String, crash: String): Unit = {
    // step 1: snapshot diff — only added+changed re-enter; removed retract
    val diff = Maintenance.snapshotDiff(v1, v2, Seq("doc_id"), Seq("text"))
    val reenter = diff.where($"status".isin("added", "changed"))
      .select("doc_id")
    val excluded = diff.where($"status".isin("added", "changed", "removed"))
      .select("doc_id").persist()
    val delta = v2.join(reenter, Seq("doc_id"))
    try {

      // replay-exempt at-rest views: a crashed earlier attempt may have
      // already committed this day's survivors and retractions — the
      // rerun's own delta ids must not collide with their first-attempt
      // copies (the streaming gate's batch-exemption rule), and retracted
      // docs must not anchor any probe
      val atRest = Maintenance.readManifested(spark, docStore)
        .join(excluded, Seq("doc_id"), "left_anti").localCheckpoint()

    // step 2: the clean funnel, incremental form — per-doc gates + exact
    // dups among the delta ride ONE clean() pass; exact dups vs the store
    // and near dups vs the index probe the at-rest state
    val deltaK1 = cleanAll(delta).transform(df =>
      // among-delta near-dups handled below against the full candidate set
      df.where($"keep" || $"drop_reason" === "near_dup"))
      .select("doc_id", "text")
    val deltaK2 = deltaK1.join(
      atRest.select(md5($"text").as("__h")).distinct(),
      md5($"text") === $"__h", "left_anti")
    // near-dup probe AGAINST THE AT-REST INDEX (the state being refreshed):
    // agreeing-band count per (delta, indexed) pair, the clean() criterion
    val idx0 = Maintenance.readManifested(spark, indexDir)
      .join(excluded, Seq("doc_id"), "left_anti")
    val deltaBands = bandRows(deltaK2).drop("pgrp")
    val vsIndex = deltaBands
      .join(idx0.select($"band", $"bucket", $"doc_id".as("__idx")),
        Seq("band", "bucket"))
      .groupBy($"doc_id", $"__idx").agg(count(lit(1)).as("n_bands"))
      .where($"n_bands" >= MinBands).select("doc_id").distinct()
    // among-delta near-dups: the same pair op clean() uses; larger id drops
    val amongDelta = Dedup.minhashPairsFromTokens(
      deltaK2.select($"doc_id", TextFunctions.tokens($"text").as("toks")),
      ShingleN, NPerms, NBands)
      .where($"n_bands" >= MinBands).select($"doc_b".as("doc_id")).distinct()
    val survivors = deltaK2
      .join(vsIndex.unionByName(amongDelta).distinct(),
        Seq("doc_id"), "left_anti")

    // step 3: shard-scoped rebuild commits — current membership of every
    // TOUCHED pack group, recomputed from upstream truth (retraction is
    // rebuild; rebuild is idempotent, so rerun-from-the-top heals crashes)
    val tg = excluded.unionByName(survivors.select("doc_id"))
      .select(pgrp($"doc_id").as("pgrp")).distinct()
      .as[Int].collect().toSeq.sorted
    assert(tg.size >= 2, s"fixture must touch >= 2 shards, got $tg")
    val docRows = withGrp(atRest.where(pgrp($"doc_id").isin(tg: _*))
      .select("doc_id", "text")
      .unionByName(survivors))
      .localCheckpoint() // freeze BEFORE commits mutate the stores it reads
    Maintenance.rebuildPartitionsManifested(docRows, "pgrp", docStore,
      tg.map(Int.box))
    if (crash == "afterDocs") return // ---- KILL (index-refresh window)
    Maintenance.rebuildPartitionsManifested(bandRows(docRows), "pgrp",
      indexDir, tg.map(Int.box))
    // step 3c: ANN index maintenance (r15, VERDICT r14 #1 — the leg that
    // was missing: docs retracted from the doc store and band index kept
    // being SERVED by vector probes). Retraction first — removeKeyed
    // commits crash-atomically and a replay re-retracts a re-entered id's
    // stale copy — then the survivors' CURRENT vectors fold in
    // (refreshKeyed: fresh ids append, replayed ids dedup). Both commits
    // are individually atomic; the WINDOW between them is what the midVec
    // kill exercises.
    graft.operators.Ivf.removeKeyed(spark, ivfDir, "vec_id", "embedding",
      excluded.select($"doc_id".as("vec_id")))
    if (crash == "midVec") return // ---- KILL (between the vector commits)
    graft.operators.Ivf.refreshKeyed(spark, ivfDir, "vec_id", "embedding",
      embedOf(survivors))
    // steps 4-6: chunk + pack + shard, committed one shard at a time (the
    // per-shard cadence a large store runs — each commit crash-atomic,
    // the WINDOW between commits is what the midPack kill exercises)
    val prep = prepRows(docRows).localCheckpoint()
    for ((g, i) <- tg.zipWithIndex) {
      Maintenance.rebuildPartitionsManifested(prep.where($"pgrp" === g),
        "pgrp", prepStore, Seq(Int.box(g)))
      if (crash == "midPack" && i == 0) return // ---- KILL (pack window)
    }
    } finally excluded.unpersist(blocking = false)
  }

  test("two-day corpus-prep run with kills inside the index-refresh, " +
    "vector-retraction, and pack windows: rerun converges to the " +
    "single-shot truth, untouched shards stay byte-identical, checksums " +
    "match, retracted vectors unprobeable") {
    val root = SparkSpec.tempDir("graft_prep_")
    val docStore = s"$root/docs"
    val indexDir = s"$root/index"
    val prepStore = s"$root/prep"
    val ivfDir = s"$root/ivf"

    // ---- day 1: bootstrap all four stores from clean(v1)
    val kept1 = withGrp(cleanAll(v1).where($"keep").select("doc_id", "text"))
      .localCheckpoint()
    val allG = (0 until G).map(Int.box)
    Maintenance.rebuildPartitionsManifested(kept1, "pgrp", docStore, allG)
    Maintenance.rebuildPartitionsManifested(bandRows(kept1.drop("pgrp")),
      "pgrp", indexDir, allG)
    Maintenance.rebuildPartitionsManifested(prepRows(kept1.drop("pgrp")),
      "pgrp", prepStore, allG)
    assert(kept1.select("doc_id").as[Long].collect().toSet ===
      Set(1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L, 9L, 10L))
    val emb1 = embedOf(kept1)
    graft.operators.Ivf.writeClustered(emb1, "vec_id", "embedding",
      graft.operators.Ivf.train(emb1, "vec_id", "embedding", k = 3,
        iters = 2), ivfDir)
    def ivfIds(): Set[Long] = graft.operators.Ivf.readData(spark, ivfDir)
      .select("vec_id").as[Long].collect().toSet

    // day-1 byte snapshot of the shards day 2 will NOT touch
    val touched2 = Seq(3L, 4L, 10L, 15L, 20L, 21L, 22L, 23L, 24L)
      .toDF("doc_id").select(pgrp($"doc_id")).as[Int].collect().toSet
      .map((g: Int) => g.toLong)
    val untouched = (0L until G.toLong).toSet -- touched2
    assert(untouched.nonEmpty, s"fixture touches every shard: $touched2")
    def shardFiles(): Map[String, String] =
      untouched.toSeq.flatMap { g =>
        Seq(docStore, indexDir, prepStore)
          .flatMap(s => md5s(Paths.get(s"$s/data/pgrp=$g")))
      }.toMap
    val day1Files = shardFiles()
    assert(day1Files.nonEmpty, "expected data files in untouched shards")

    // ---- day 2, attempt 1: killed inside the index-refresh window
    prepDay2(docStore, indexDir, prepStore, ivfDir, crash = "afterDocs")
    val docsAfter1 = Maintenance.readManifested(spark, docStore)
    assert(docsAfter1.where($"doc_id" === 20L).count() === 1,
      "crash window: day-2 survivor must already be in the doc store")
    assert(docsAfter1.where($"doc_id" === 3L).count() === 0,
      "crash window: removed doc must already be retracted from docs")
    val idxAfter1 = Maintenance.readManifested(spark, indexDir)
    assert(idxAfter1.where($"doc_id" === 3L).count() > 0,
      "crash window: the index must still be the day-1 state")
    assert(idxAfter1.where($"doc_id" === 20L).count() === 0,
      "crash window: day-2 bands must not be committed yet")
    assert(ivfIds().contains(3L),
      "crash window: the vector index must still be the day-1 state")

    // ---- day 2, attempt 2: killed between the vector index's two commits
    // (retraction published, survivors not yet folded)
    prepDay2(docStore, indexDir, prepStore, ivfDir, crash = "midVec")
    locally {
      val mid = ivfIds()
      assert(!mid.contains(3L) && !mid.contains(10L),
        "midVec window: retracted vectors must already be unprobeable")
      assert(!mid.contains(20L),
        "midVec window: day-2 survivor vectors must not be folded yet")
    }

    // ---- day 2, attempt 3: killed inside the pack window
    prepDay2(docStore, indexDir, prepStore, ivfDir, crash = "midPack")
    assert(Maintenance.readManifested(spark, indexDir)
      .where($"doc_id" === 3L).count() === 0,
      "after attempt 2 the index must be refreshed (doc 3 retracted)")
    // the pack window is genuinely open: the prep store is neither day-1
    // nor day-2 truth (exactly one touched shard rebuilt)
    val kept2Truth = withGrp(cleanAll(v2).where($"keep")
      .select("doc_id", "text")).localCheckpoint()
    val prepTruth = prepRows(kept2Truth.drop("pgrp"))
    val prepMid = Maintenance.readManifested(spark, prepStore)
    assert(!(prepMid.exceptAll(prepTruth).isEmpty &&
        prepTruth.exceptAll(prepMid).isEmpty),
      "midPack kill left no open window to heal")

    // ---- day 2, rerun from the top: heals all three windows
    prepDay2(docStore, indexDir, prepStore, ivfDir, crash = "none")

    // gate A: doc store ≡ single-shot clean(v2) kept set + checksum triple
    assert(kept2Truth.select("doc_id").as[Long].collect().toSet ===
      Set(1L, 2L, 4L, 5L, 6L, 7L, 8L, 9L, 20L))
    val docsFinal = Maintenance.readManifested(spark, docStore)
      .select("doc_id", "text", "pgrp")
    sameRows(docsFinal, kept2Truth.select("doc_id", "text", "pgrp"),
      "doc store")
    assert(checksumOf(docsFinal) === checksumOf(kept2Truth),
      "content checksum diverged from the single-shot truth")

    // gate B: prep store ≡ from-scratch chunk+pack (seq_ids included —
    // pack groups are group-local, so shard rebuild IS from-scratch)
    sameRows(Maintenance.readManifested(spark, prepStore)
        .select(prepTruth.columns.toIndexedSeq.map(col): _*),
      prepTruth, "prep store")

    // gate C: index ≡ from-scratch bands of the v2 kept set (retraction
    // included)
    val idxTruth = bandRows(kept2Truth.drop("pgrp"))
    sameRows(Maintenance.readManifested(spark, indexDir)
        .select(idxTruth.columns.toIndexedSeq.map(col): _*),
      idxTruth, "band index")

    // gate D: shards day 2 never touched are byte-identical through all
    // crashes and the rerun, in all three pgrp stores
    assert(shardFiles() === day1Files,
      "day 2 crash/rerun rewrote files in an untouched shard")

    // gate F: the vector index ≡ from-scratch embeddings of the v2 kept
    // set — removed/changed docs' OLD vectors retracted, survivors' NEW
    // vectors folded — and a full-width post-heal probe serves retracted
    // ids NEVER and every kept id exactly once
    sameRows(graft.operators.Ivf.readData(spark, ivfDir)
        .select("vec_id", "embedding"),
      embedOf(kept2Truth), "vector index")
    locally {
      val qv = embedOf(kept2Truth.where($"doc_id" === 1L))
        .head().getSeq[Float](1)
      val served = graft.operators.Ivf.probeClustered(spark, ivfDir,
        "vec_id", "embedding", qv, nProbe = 3, k = 50)
        .select("vec_id").as[Long].collect()
      assert(served.toSet === kept2Truth.select("doc_id").as[Long]
        .collect().toSet, "full-width probe is not the v2 kept set")
      assert(served.length === served.toSet.size,
        "post-heal probe served a vector twice")
      // sidecar ≡ at-rest truth after the heal: per-cluster counts exact
      val counts = graft.operators.Ivf.readData(spark, ivfDir)
        .groupBy($"cluster").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      val v = Maintenance.manifestVersion(spark, ivfDir)
      spark.read.parquet(f"$ivfDir/centroids_v$v%08d").collect()
        .foreach { r =>
          assert(r.getLong(r.fieldIndex("n_members")) ===
            counts.getOrElse(r.getInt(0), 0L),
            s"sidecar count stale for cluster ${r.getInt(0)}")
        }
    }

    // gate E: a further full replay is a content no-op
    prepDay2(docStore, indexDir, prepStore, ivfDir, crash = "none")
    sameRows(Maintenance.readManifested(spark, docStore)
        .select("doc_id", "text", "pgrp"),
      kept2Truth.select("doc_id", "text", "pgrp"),
      "doc store after extra replay")
    sameRows(Maintenance.readManifested(spark, prepStore)
        .select(prepTruth.columns.toIndexedSeq.map(col): _*),
      prepTruth, "prep store after extra replay")
    sameRows(graft.operators.Ivf.readData(spark, ivfDir)
        .select("vec_id", "embedding"),
      embedOf(kept2Truth), "vector index after extra replay")
  }
}
