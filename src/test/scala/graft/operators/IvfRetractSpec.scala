package graft.operators

import java.nio.file.{Files, Paths}

import graft.{SparkSpec, Tables}
import graft.etl.Maintenance
import org.apache.spark.sql.functions._

/** Gates for [[Ivf.removeKeyed]] (r15, VERDICT r14 #1 — the retraction
  * hole): a takedown/GDPR-shaped pipeline retracts docs from the doc store
  * and the near-dup band index, and the ANN index must follow. The spec
  * drives the whole contract: removed ids absent from every post-commit
  * probe, sidecar ≡ at-rest truth (counts AND member-mean centroids), a
  * kill INSIDE the removal window leaving the previous version fully
  * consistent and replaying to the single-shot truth, untouched cluster
  * files byte-identical across the whole lifecycle, and the store still
  * serving partition-pruned probes and atomic refreshes.
  */
class IvfRetractSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.01"
  private lazy val emb = Tables.load(spark, sf, "embeddings")

  private def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select("vec_id").collect().map(_.getLong(0)).toSet

  /** Exact top-k over whatever the index currently serves: probing every
    * cluster IS the brute scan of the live view.
    */
  private def fullProbe(path: String, q: Seq[Float], k: Int, width: Int) =
    ids(Ivf.probeClustered(spark, path, "vec_id", "embedding", q,
      nProbe = width, k = k))

  /** Sidecar ≡ at-rest truth: per-cluster counts match the live data
    * exactly, and every non-empty cluster's centroid sits at its member
    * mean (the at-rest fixed point [[Ivf.removeKeyed]] converges to).
    * `touchedOnly` limits the
    * member-mean check to those clusters (untouched clusters legitimately
    * keep their trained/incremental centroids).
    */
  private def assertSidecarTruth(path: String, dims: Int,
      touchedOnly: Option[Set[Int]]): Unit = {
    val atRest = Ivf.readData(spark, path)
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("true_n"),
        array((0 until dims).map(j =>
          avg(element_at(col("embedding"), j + 1))): _*).as("true_mean"))
      .collect().map(r => r.getInt(0) ->
        (r.getLong(1), r.getSeq[Double](2))).toMap
    // resolve the sidecar EXACTLY as readers do: by the committed manifest
    // version (a crashed attempt's next-version sidecar sits on disk but
    // must stay invisible, like its staged data files)
    val v = Maintenance.manifestVersion(spark, path)
    val sidecar = spark.read.parquet(f"$path/centroids_v$v%08d")
      .collect().map(r => r.getInt(0) ->
        (r.getLong(r.fieldIndex("n_members")),
          r.getSeq[Float](r.fieldIndex("centroid")))).toMap
    // every at-rest cluster is in the sidecar with the exact count;
    // sidecar-only clusters (emptied by retraction) must say n_members=0
    atRest.foreach { case (c, (n, _)) =>
      assert(sidecar.contains(c), s"cluster $c missing from sidecar")
      assert(sidecar(c)._1 === n,
        s"sidecar count for cluster $c: ${sidecar(c)._1} != at-rest $n")
    }
    sidecar.foreach { case (c, (n, _)) =>
      if (!atRest.contains(c))
        assert(n === 0L, s"emptied cluster $c still claims $n members")
    }
    touchedOnly.getOrElse(atRest.keySet).foreach { c =>
      atRest.get(c).foreach { case (_, mean) =>
        sidecar(c)._2.zip(mean).foreach { case (g, w) =>
          assert(math.abs(g - w) <= 1e-5,
            s"cluster $c centroid off its member mean: $g vs $w")
        }
      }
    }
  }

  private def liveFileNames(path: String): Set[String] =
    Ivf.readData(spark, path).inputFiles.toSet

  test("removeKeyed: retracted ids vanish from probes, survivors keep " +
    "exact top-k, sidecar matches at-rest truth, untouched cluster files " +
    "stay byte-identical, unknown ids are a no-op") {
    val path = SparkSpec.tempDir("graft_ivf_rm_").toString
    val model = Ivf.train(emb, "vec_id", "embedding", k = 8, iters = 2)
    Ivf.writeClustered(emb, "vec_id", "embedding", model, path)
    val q = Similarity.vectorOf(spark, emb, "vec_id", "embedding", 1L)

    // removal set spans clusters; the query's own nearest neighbours are in
    // it (vec_id 0's copies cluster together), so the probe MUST change
    val toRemove = emb.where(col("vec_id") % 7 === 0).select("vec_id")
    val removedIds = ids(toRemove.withColumnRenamed("vec_id", "vec_id")
      .toDF("vec_id"))
    val touchedClusters = Ivf.readData(spark, path)
      .join(toRemove, Seq("vec_id"))
      .select("cluster").distinct().collect().map(_.getInt(0)).toSet
    val untouchedFilesBefore = liveFileNames(path).filterNot(f =>
      touchedClusters.exists(c => f.contains(s"cluster=$c/")))

    Ivf.removeKeyed(spark, path, "vec_id", "embedding", toRemove)

    // removed ids are gone from the widest possible probe (width = k is the
    // exact scan of the live view)
    val got = fullProbe(path, q, k = 50, width = 8)
    assert((got & removedIds).isEmpty,
      s"retracted ids still probeable: ${(got & removedIds).take(5)}")
    // survivors: full-width probe ≡ brute force over the surviving corpus
    val survivorTruth = ids(Similarity.bruteForceTopK(
      emb.join(toRemove, Seq("vec_id"), "left_anti"),
      "vec_id", "embedding", q, 50))
    assert(got === survivorTruth,
      "full-width probe of the retracted index is not the survivor truth")
    // counts: exactly the removed rows left
    assert(Ivf.readData(spark, path).count() === emb.count() - removedIds.size)
    assertSidecarTruth(path, dims = 8, touchedOnly = Some(touchedClusters))
    // untouched clusters: the manifest carries their exact files
    val untouchedAfter = liveFileNames(path).filterNot(f =>
      touchedClusters.exists(c => f.contains(s"cluster=$c/")))
    assert(untouchedFilesBefore === untouchedAfter,
      "retraction touched files of clusters it had no business in")

    // unknown ids: a no-op that does NOT advance the manifest
    import spark.implicits._
    val vBefore = Maintenance.manifestVersion(spark, path)
    Ivf.removeKeyed(spark, path, "vec_id", "embedding",
      Seq(999999999L).toDF("vec_id"))
    assert(Maintenance.manifestVersion(spark, path) === vBefore,
      "no-op removal advanced the manifest")
    // full replay of the same batch: also a no-op (the ids are gone)
    Ivf.removeKeyed(spark, path, "vec_id", "embedding", toRemove)
    assert(Maintenance.manifestVersion(spark, path) === vBefore,
      "replaying a committed removal advanced the manifest")
    assert(Ivf.readData(spark, path).count() === emb.count() - removedIds.size)
  }

  test("a kill INSIDE the removal window leaves the previous version fully " +
    "consistent (data view AND sidecar), and a replay-from-the-top " +
    "converges to the single-shot truth; vacuum reclaims the orphans") {
    val path = SparkSpec.tempDir("graft_ivf_rm_crash_").toString
    val model = Ivf.train(emb, "vec_id", "embedding", k = 8, iters = 2)
    Ivf.writeClustered(emb, "vec_id", "embedding", model, path)
    val q = Similarity.vectorOf(spark, emb, "vec_id", "embedding", 1L)
    val toRemove = emb.where(col("vec_id") % 3 === 1).select("vec_id")
    val removedIds = ids(toRemove)
    val touchedClusters = Ivf.readData(spark, path)
      .join(toRemove, Seq("vec_id"))
      .select("cluster").distinct().collect().map(_.getInt(0)).toSet

    // run the removal to completion, then roll the manifest back one
    // version: that on-disk state — survivor files staged, the next
    // version's sidecar written, manifest still at the previous version —
    // is EXACTLY a job killed between the sidecar write and the atomic
    // manifest rename (the last step of the commit; every earlier kill is
    // a strict subset of this state)
    Ivf.removeKeyed(spark, path, "vec_id", "embedding", toRemove)
    val vCommitted = Maintenance.manifestVersion(spark, path)
    Files.delete(Paths.get(f"$path/_manifest/v$vCommitted%08d.txt"))

    // the crash window: readers see the PREVIOUS version, fully consistent
    // — every "removed" id still probeable, counts still the full corpus
    assert(Ivf.readData(spark, path).count() === emb.count(),
      "crash window: previous version lost rows")
    val windowProbe = fullProbe(path, q, k = 50, width = 8)
    assert((windowProbe & removedIds).nonEmpty,
      "crash window: uncommitted removal already visible")
    assertSidecarTruth(path, dims = 8, touchedOnly = Some(Set.empty))

    // replay from the top (the runbook's crash recovery)
    Ivf.removeKeyed(spark, path, "vec_id", "embedding", toRemove)
    assert(Ivf.readData(spark, path).count() === emb.count() - removedIds.size)
    val got = fullProbe(path, q, k = 50, width = 8)
    assert((got & removedIds).isEmpty, "replay left retracted ids probeable")
    assert(got === ids(Similarity.bruteForceTopK(
      emb.join(toRemove, Seq("vec_id"), "left_anti"),
      "vec_id", "embedding", q, 50)),
      "replayed removal is not the single-shot truth")
    assertSidecarTruth(path, dims = 8, touchedOnly = Some(touchedClusters))

    // the crashed attempt's staged files are orphans: invisible to reads,
    // reclaimed by the shared-layout vacuum
    val live = liveFileNames(path).map(f => f.substring(f.indexOf("/data/")))
    assert(Maintenance.vacuumManifested(spark, path) > 0,
      "expected crashed-attempt orphans to reclaim")
    assert(liveFileNames(path).map(f => f.substring(f.indexOf("/data/")))
      === live, "vacuum changed the live view")
  }

  test("a removal batch with ZERO matching ids is a pure no-op: no new " +
    "version, no staged sidecar, data view unchanged (r16, ADVICE r15)") {
    import spark.implicits._
    val path = SparkSpec.tempDir("graft_ivf_rm_noop_").toString
    val model = Ivf.train(emb, "vec_id", "embedding", k = 8, iters = 2)
    Ivf.writeClustered(emb, "vec_id", "embedding", model, path)
    assert(Maintenance.manifestVersion(spark, path) === 1L,
      "writeClustered must publish v1")
    val before = liveFileNames(path)
    Ivf.removeKeyed(spark, path, "vec_id", "embedding",
      Seq(999999999L, 888888888L).toDF("vec_id"))
    assert(Maintenance.manifestVersion(spark, path) === 1L,
      "no-op removal committed a new version")
    assert(!Files.exists(Paths.get(f"$path/centroids_v${2L}%08d")),
      "no-op removal staged a next-version sidecar")
    assert(liveFileNames(path) === before, "no-op removal changed the data view")
    assert(Ivf.readData(spark, path).count() === emb.count())
  }

  test("a refresh that assigns no row — only wrong-dimension vectors — " +
    "commits no version and no sidecar") {
    val path = SparkSpec.tempDir("graft_ivf_noop_refresh_").toString
    val model = Ivf.train(emb, "vec_id", "embedding", k = 4, iters = 1)
    Ivf.writeClustered(emb, "vec_id", "embedding", model, path)
    val before = liveFileNames(path)
    // fresh ids, so the id anti-join keeps every row; 3-dim vectors, so
    // every row assigns to a NULL cluster
    val malformed = emb.limit(5)
      .withColumn("vec_id", col("vec_id") + 7000000L)
      .withColumn("embedding", slice(col("embedding"), 1, 3))
    Ivf.refreshKeyed(spark, path, "vec_id", "embedding", malformed)
    assert(Maintenance.manifestVersion(spark, path) === 1L,
      "a refresh that assigned no row committed a version")
    assert(!Files.exists(Paths.get(f"$path/centroids_v${2L}%08d")),
      "a refresh that assigned no row staged a next-version sidecar")
    assert(liveFileNames(path) === before)
  }

  test("compact refuses an IVF index, naming its rebuild") {
    val path = SparkSpec.tempDir("graft_ivf_compact_").toString
    val model = Ivf.train(emb, "vec_id", "embedding", k = 4, iters = 1)
    Ivf.writeClustered(emb, "vec_id", "embedding", model, path)
    val e = intercept[IllegalArgumentException](Maintenance.compact(spark, path))
    assert(e.getMessage.contains("Ivf.writeClustered"), e.getMessage)
    assert(Maintenance.manifestVersion(spark, path) === 1L)
  }

  test("vacuumManifested reclaims superseded versioned sidecars — only the " +
    "latest manifest's pair survives, and the store still serves (r16, " +
    "ADVICE r15)") {
    val path = SparkSpec.tempDir("graft_ivf_rm_vac_").toString
    val model = Ivf.train(emb, "vec_id", "embedding", k = 8, iters = 2)
    Ivf.writeClustered(emb, "vec_id", "embedding", model, path)
    // three versions: the build (v1), removal (v2), removal (v3)
    Ivf.removeKeyed(spark, path, "vec_id", "embedding",
      emb.where(col("vec_id") % 13 === 0).select("vec_id"))
    Ivf.removeKeyed(spark, path, "vec_id", "embedding",
      emb.where(col("vec_id") % 13 === 1).select("vec_id"))
    val v = Maintenance.manifestVersion(spark, path)
    assert(v === 3L, s"expected 3 versions, got $v")
    def versionedSidecars(): Set[String] = {
      val d = new java.io.File(path)
      d.listFiles().map(_.getName).filter(_.matches("centroids_v\\d{8}")).toSet
    }
    assert(versionedSidecars().size >= 2,
      "precondition: multiple versioned sidecars should have accumulated")
    val expected = ids(Ivf.probeClustered(spark, path, "vec_id", "embedding",
      Similarity.vectorOf(spark, emb, "vec_id", "embedding", 1L),
      nProbe = 8, k = 20))
    Maintenance.vacuumManifested(spark, path)
    assert(versionedSidecars() === Set(f"centroids_v$v%08d"),
      s"vacuum left superseded sidecars: ${versionedSidecars()}")
    // the surviving pair still serves identically
    assert(ids(Ivf.probeClustered(spark, path, "vec_id", "embedding",
      Similarity.vectorOf(spark, emb, "vec_id", "embedding", 1L),
      nProbe = 8, k = 20)) === expected, "vacuum changed probe results")
    assertSidecarTruth(path, dims = 8, touchedOnly = Some(Set.empty))
  }

  test("retracting every member of a cluster keeps probe routing total " +
    "(empty cluster: n_members=0, centroid retained) and the fenced store " +
    "still serves atomic refreshes and partition-pruned probes") {
    val path = SparkSpec.tempDir("graft_ivf_rm_empty_").toString
    val model = Ivf.train(emb, "vec_id", "embedding", k = 8, iters = 2)
    Ivf.writeClustered(emb, "vec_id", "embedding", model, path)
    val q = Similarity.vectorOf(spark, emb, "vec_id", "embedding", 1L)

    // empty one whole cluster
    val someCluster = Ivf.readData(spark, path)
      .select("cluster").head().getInt(0)
    val clusterIds = Ivf.readData(spark, path)
      .where(col("cluster") === someCluster).select("vec_id")
    val nRemoved = clusterIds.count()
    Ivf.removeKeyed(spark, path, "vec_id", "embedding", clusterIds)
    assert(Ivf.readData(spark, path)
      .where(col("cluster") === someCluster).count() === 0)
    assert(Ivf.readData(spark, path).count() === emb.count() - nRemoved)
    // probing THROUGH the emptied cluster works (width=8 includes it)
    assert(fullProbe(path, q, k = 20, width = 8).size === 20)
    assertSidecarTruth(path, dims = 8, touchedOnly = Some(Set(someCluster)))

    // the store still refreshes atomically: re-adding vectors under
    // new ids lands them in the live view with exact sidecar counts
    val back = emb.where(col("vec_id") % 11 === 0)
      .withColumn("vec_id", col("vec_id") + 5000000L)
    Ivf.refreshKeyed(spark, path, "vec_id", "embedding", back)
    val n = Ivf.readData(spark, path).count()
    assert(n === emb.count() - nRemoved + back.count())
    assertSidecarTruth(path, dims = 8, touchedOnly = Some(Set.empty))
    // a refresh replay still converges (no double-append)
    Ivf.refreshKeyed(spark, path, "vec_id", "embedding", back)
    assert(Ivf.readData(spark, path).count() === n, "refresh replay double-appended")

    // partition pruning survives the manifest: the probe's scan carries a
    // cluster PartitionFilter (the 100 TB story of the layout)
    val plan = Ivf.probeClustered(spark, path, "vec_id", "embedding", q,
      nProbe = 2, k = 5).queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cluster"),
      s"manifest-resolved probe lost partition pruning:\n$plan")

    // a full rebuild starts over at version 1, with only its own sidecar
    Ivf.writeClustered(emb, "vec_id", "embedding", model, path)
    assert(Maintenance.manifestVersion(spark, path) === 1L,
      "writeClustered did not start over at v1")
    assert(new java.io.File(path).listFiles().map(_.getName)
      .filter(_.startsWith("centroids")).toSet === Set(f"centroids_v${1L}%08d"),
      "writeClustered left stale sidecars")
    assert(Ivf.readData(spark, path).count() === emb.count())
    assert(fullProbe(path, q, k = 20, width = 8).size === 20)
  }
}
