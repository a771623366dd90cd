package graft.queries

import java.security.MessageDigest

import scala.collection.mutable

import graft.{SparkEntry, SparkSpec}

/** Over-threshold gate for the `packTruthSlice` branch of the packing
  * family (VERDICT r11 #1): a synthetic >5000-doc corpus pushes
  * q_pack_sequences past `maxFullPackDocs`, and its output is cross-checked
  * against an independent plain-Scala replay of the whole chain — tokenize,
  * fixed-32 chunking, md5-group assignment, greedy first-fit at capacity
  * 256 — over exactly the `doc_id % ceil(n/5000)` slice. Every field is an
  * exact integer, so the compare is bit-exact (the CertSliceSpec
  * convention; the real DuckDB differential for this branch runs in the
  * sf1 crosscheck, where the slice is what keeps the recursive replay's
  * step count bounded).
  *
  * This is the branch the driver gate can never reach (sf0.01 = 500 docs,
  * sf0.1 = 5000 docs — at or under the threshold); without it the slice
  * semantics would be spec-free until an over-threshold shakeout.
  */
class PackSliceSpec extends SparkSpec {

  import spark.implicits._

  private val nDocs = 5040L // > maxFullPackDocs = 5000 -> modulus 2
  private val chunkSize = 32
  private val capacity = 256
  private val nGroups = 16

  /** Deterministic ragged texts: token count varies 0..100 across docs
    * (id % 97 == 0 docs carry NO alnum tokens — the zero-chunk edge the
    * chunker must drop), tokens are plain alnum words so the replay's
    * tokenizer is trivially the `[a-z0-9]+` regex.
    */
  private def textOf(id: Long): String =
    if (id % 97 == 0) "!!! ... ---"
    else (0 until ((id * 7919) % 101).toInt + 1).map(i => s"w${id % 13}x$i")
      .mkString(" ")

  private lazy val dir: String = {
    val d = SparkSpec.tempDir("graft_packslice_").toString
    (0L until nDocs).map(i => (i, textOf(i)))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  private val slicedIds: Seq[Long] = 0L until nDocs by 2L

  /** Independent md5-prefix group id — MessageDigest, not Spark md5(), so
    * writer and reader share no code (the MediaSynth convention).
    */
  private def grpOf(id: Long): Int = {
    val hex = MessageDigest.getInstance("MD5")
      .digest(id.toString.getBytes("UTF-8"))
      .take(4).map(b => f"$b%02x").mkString
    (java.lang.Long.parseLong(hex, 16) % nGroups).toInt
  }

  /** Plain-Scala replay: per sliced doc the token count, the fixed-32
    * chunks, then the greedy first-fit fold in (grp, doc, chunk) order with
    * counters resetting at group boundaries — `Corpus.packSequences`
    * semantics re-derived from the scaladoc, not the code.
    */
  private lazy val replay: Map[Long, (Long, Long, Int)] = {
    val alnum = "[a-z0-9]+".r
    val chunks = slicedIds.flatMap { id =>
      val n = alnum.findAllIn(textOf(id).toLowerCase).length
      (0 until math.ceil(n / chunkSize.toDouble).toInt).map { c =>
        (grpOf(id), id, c, math.min(n - c * chunkSize, chunkSize))
      }
    }.sortBy { case (g, id, c, _) => (g, id, c) }
    val assigned = mutable.ArrayBuffer[(Long, Long, Int)]() // (seq_id, doc, used)
    var curGrp = -1; var seq = 0L; var used = 0
    chunks.foreach { case (g, id, _, n) =>
      if (g != curGrp) { curGrp = g; seq = 0L; used = 0 }
      val take = math.min(n, capacity)
      if (used + take > capacity) { seq += 1; used = 0 }
      used += take
      assigned += (((g.toLong << 40) | seq, id, used))
    }
    assigned.groupBy(_._1).map { case (sid, rows) =>
      sid -> (rows.size.toLong, rows.map(_._2).distinct.size.toLong,
        rows.map(_._3).max)
    }
  }

  test("q_pack_sequences over the threshold packs the % 2 slice only and " +
    "matches the plain-Scala first-fit replay bit-exact") {
    val rows = SparkEntry.queries("q_pack_sequences")(spark, dir).collect()
    val got = rows.map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(2), r.getInt(3))).toMap
    assert(got.size == rows.length, "duplicate seq_id in output")
    assert(replay.nonEmpty && got == replay,
      s"sliced packing mismatch: spark=${got.size} replay=${replay.size} " +
        s"onlySpark=${(got.keySet -- replay.keySet).take(3)} " +
        s"onlyReplay=${(replay.keySet -- got.keySet).take(3)} " +
        s"valueDiffs=${got.collect { case (k, v) if replay.get(k).exists(_ != v) =>
          (k, v, replay(k)) }.take(3)}")
  }

  test("an odd doc_id never reaches a sequence (the slice is doc-level, " +
    "before chunking)") {
    val chunks = graft.operators.Corpus.chunk(
      spark.read.parquet(s"$dir/documents.parquet")
        .where($"doc_id" % 2 === 0), "doc_id", "text", chunkSize)
    val full = graft.operators.Corpus.chunk(
      spark.read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
      chunkSize)
    // sanity: the fixture genuinely has odd-doc chunks to exclude
    assert(full.count() > chunks.count())
    val seqs = SparkEntry.queries("q_pack_sequences")(spark, dir)
      .agg(org.apache.spark.sql.functions.sum("n_chunks")).head().getLong(0)
    assert(seqs == chunks.count(),
      "chunk mass must equal the sliced corpus's chunk count exactly")
  }

  test("the oracle SQL carries the same guard as the Spark plan on all " +
    "three packing queries: count-gated at 5000, ceil(n/5000) modulus") {
    for (q <- Seq("q_pack_sequences", "q_pack_materialize", "q_prep_e2e")) {
      val sql = SparkEntry.oracleSql(q)
      assert(sql.contains("n <= 5000"), s"$q oracle lost the count guard")
      assert(sql.contains("doc_id % CAST(ceil(n / 5000e0) AS BIGINT) = 0"),
        s"$q oracle lost the derived-modulus slice")
      assert(sql.contains("FROM ppin"), s"$q oracle no longer packs the " +
        "guarded input")
    }
  }
}
