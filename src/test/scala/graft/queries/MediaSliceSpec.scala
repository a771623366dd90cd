package graft.queries

import graft.{SparkEntry, SparkSpec}

/** Over-threshold gate for the `mediaTruthSlice` branch of the three
  * perceptual media dedup queries (VERDICT r12 #1 — the last cap-free
  * certification surface): synthetic >50000-doc corpora push
  * q_media_dedup / q_media_audio_dedup / q_media_video_dedup past
  * `maxFullMediaDocs`, and their output is cross-checked against an
  * independent plain-Scala replay of the key arithmetic and the exact
  * Hamming-≤2 neighbour count over exactly the
  * `(doc_id div 4) % ceil(n/20000)` GROUP slice. Every field is an exact
  * integer, so the compare is bit-exact (the CertSliceSpec / PackSliceSpec
  * convention).
  *
  * The slice is group-level, not doc-level, and this spec is also the gate
  * on that choice: a doc-level modulus ≥ 3 can never keep two of a noise
  * group's close members (they sit 1–2 apart in doc_id), so it would only
  * ever certify `n_near = 0`; the group slice preserves the full
  * within-group neighbour structure — asserted here by requiring the
  * replay's 2/1/1/0 pattern to actually appear in the sliced output.
  *
  * This is the branch the driver gate can never reach (sf0.01 = 500,
  * sf0.1 = 5000, sf1 = 50000 docs — all at or under the threshold);
  * without it the slice semantics would be spec-free until an
  * over-threshold shakeout.
  */
class MediaSliceSpec extends SparkSpec {

  import spark.implicits._

  private val nDocs = 50040L  // ceil(50040/20000) -> group modulus 3
  private val nDocs2 = 64040L // ceil(64040/20000) -> group modulus 4

  // ---- independent replay of the dedup key (first-principles arithmetic,
  // re-derived from the oracle SQL, shares no code with MediaQueries) ----
  private val P1 = 2654435761L
  private val P2 = 1779033703L
  private def keyOf(id: Long): Long = {
    val g = id / 4
    val base = (g * P1) % 2147483648L + ((g * P2) % 2147483648L) * 2147483648L
    val noise = (id % 4) match {
      case 0 => 0L
      case 1 => 1L << 5
      case 2 => (1L << 11) | (1L << 40)
      case _ => Seq(1, 7, 19, 23, 37, 41, 53, 59).map(1L << _).reduce(_ | _)
    }
    base ^ noise
  }

  private def modulusOf(n: Long): Long = math.ceil(n / 20000.0).toLong
  private def slicedIdsOf(n: Long): Array[Long] =
    (0L until n).filter(id => (id / 4) % modulusOf(n) == 0).toArray

  /** Brute-force exact neighbour counts over the sliced key set — O(k²)
    * Long xor+popcount, so cross-group accidents (if any) are counted too,
    * not just the designed within-group pairs.
    */
  private def replayNear(ids: Array[Long]): Map[Long, Long] = {
    val ks = ids.map(keyOf)
    val near = new Array[Long](ids.length)
    var i = 0
    while (i < ids.length) {
      var j = i + 1
      while (j < ids.length) {
        if (java.lang.Long.bitCount(ks(i) ^ ks(j)) <= 2) {
          near(i) += 1; near(j) += 1
        }
        j += 1
      }
      i += 1
    }
    ids.zip(near).toMap
  }

  private def writeFixture(n: Long): String = {
    val d = SparkSpec.tempDir("graft_mediaslice_").toString
    (0L until n).map(i => (i, 40L + i % 60))
      .toDF("doc_id", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  private lazy val dir: String = writeFixture(nDocs)
  private lazy val dir2: String = writeFixture(nDocs2)

  private def check(query: String, fixtureDir: String, n: Long): Unit = {
    val m = modulusOf(n)
    val ids = slicedIdsOf(n)
    val want = replayNear(ids)
    val rows = SparkEntry.queries(query)(spark, fixtureDir).collect()
    assert(rows.length == ids.length,
      s"$query must emit the slice only: ${rows.length} rows vs ${ids.length}")
    assert(rows.forall(r => (r.getLong(0) / 4) % m == 0),
      s"$query: a doc escaped the group % $m certification slice")
    val nearIdx = rows.head.schema.fieldIndex("n_near")
    val got = rows.map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(nearIdx))).toMap
    val wantFull = ids.map(id => id -> (keyOf(id), want(id))).toMap
    assert(got == wantFull,
      s"$query sliced truth mismatch at n=$n m=$m: " +
        s"diffs=${got.collect { case (k, v) if wantFull.get(k).exists(_ != v) =>
          (k, v, wantFull(k)) }.take(3)}")
    // the group slice must preserve the designed neighbour structure —
    // the property a doc-level slice structurally loses
    val hist = got.values.groupBy(_._2).view.mapValues(_.size).toMap
    assert(hist.getOrElse(2L, 0) > 0 && hist.getOrElse(1L, 0) > 0,
      s"$query: sliced output certifies no nonzero neighbour counts ($hist)")
  }

  test("q_media_dedup over the cutoff: output is the derived group slice " +
    "and matches the brute-force key replay bit-exact (modulus 3)") {
    check("q_media_dedup", dir, nDocs)
  }

  test("q_media_audio_dedup over the cutoff: same slice, same exact " +
    "neighbour counts through the WAV band-energy path") {
    check("q_media_audio_dedup", dir, nDocs)
  }

  test("q_media_video_dedup over the cutoff: same slice and counts through " +
    "the mdat frame walk, with both frames still decoded per doc") {
    check("q_media_video_dedup", dir, nDocs)
    val rows = SparkEntry.queries("q_media_video_dedup")(spark, dir)
      .select("n_frames_decoded").distinct().collect()
    assert(rows.map(_.getInt(0)).toSeq == Seq(2),
      "sliced branch must still walk both mdat samples per doc")
  }

  test("the modulus moves with the count: a 64040-doc corpus slices at " +
    "group % 4 and still matches the replay bit-exact") {
    check("q_media_dedup", dir2, nDocs2)
  }

  test("the oracle SQL carries the same guard as the Spark plan on all " +
    "three queries: count-gated at 50000, count-derived group modulus") {
    for (q <- Seq("q_media_dedup", "q_media_audio_dedup",
        "q_media_video_dedup")) {
      val sql = SparkEntry.oracleSql(q)
      assert(sql.contains("(SELECT count(*) FROM documents) <= 50000"),
        s"$q oracle lost the count guard")
      assert(sql.contains(
        "(doc_id // 4) % (SELECT CAST(ceil(count(*) / 20000e0) AS BIGINT)"),
        s"$q oracle lost the derived group modulus")
    }
  }
}
