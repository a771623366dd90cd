package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._

class StreamingSpec extends SparkSpec {

  test("near-dup gate keeps exactly the docs minhashPairs keeps at the same " +
    "n_bands threshold, at minBandsGate 1 and 6") {
    import spark.implicits._
    // the documents salted with exact copies (collide on every band) and
    // one-token-appended near-copies (high but sub-1 Jaccard — the rows the
    // verification knob adjudicates)
    val fixture = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select($"doc_id", $"text")
    val salted = fixture
      .unionByName(fixture.where($"doc_id" % 5 === 0)
        .select(($"doc_id" + 1000000L).as("doc_id"), $"text"))
      .unionByName(fixture.where($"doc_id" % 7 === 0)
        .select(($"doc_id" + 2000000L).as("doc_id"),
          concat($"text", lit(" zyx")).as("text")))
      .cache()
    val allIds = salted.select("doc_id").collect().map(_.getLong(0)).toSet
    val pairs = graft.operators.Dedup.minhashPairs(salted, "doc_id", "text",
      3, 32, 8, maxBucket = Int.MaxValue)
      .select("doc_a", "doc_b", "n_bands").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Number](2).longValue))
    val keptAt = Seq(1, 6).map { gate =>
      // within one batch the larger id of every colliding pair drops
      val truthDrops = pairs.collect {
        case (a, b, nb) if nb >= gate => math.max(a, b)
      }.toSet
      val kept = Streaming.nearDupGateBatch(salted, "doc_id", "text",
        3, 32, 8, minBandsGate = gate)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(kept == allIds -- truthDrops,
        s"minBandsGate=$gate kept ${kept.size}, truth keeps " +
          s"${(allIds -- truthDrops).size} of ${allIds.size}")
      kept.size
    }
    salted.unpersist()
    // non-vacuous: both gates drop, and verification keeps near-copies
    // that the any-collision gate drops
    assert(keptAt(0) < keptAt(1) && keptAt(1) < allIds.size, s"kept $keptAt")
  }

  test("near-dup gate dedups SHORT docs (below the shingle horizon) in one " +
    "batch via the exact-hash fallback band, in raw and verified mode") {
    import spark.implicits._
    // 2-token docs have zero 3-gram shingles: only the band -1 exact-hash
    // rows can collide them
    val batch = Seq((1L, "hello world"), (2L, "HELLO   world"), (3L, "bye now"),
      (4L, "hello world"), (5L, "new short")).toDF("doc_id", "text")
    for (gate <- Seq(1, 6)) {
      val kept = Streaming.nearDupGateBatch(batch, "doc_id", "text",
        minBandsGate = gate).select("doc_id").collect().map(_.getLong(0)).toSet
      assert(kept == Set(1L, 3L, 5L), s"minBandsGate=$gate kept $kept")
    }
  }

  test("Kafka-shaped parse layer: corrupt frames counted not thrown, " +
      "raw payload kept for every corrupt frame") {
    import spark.implicits._

    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    def bytes(s: String): Array[Byte] =
      if (s == null) null else s.getBytes("UTF-8")
    // 4 well-formed, 4 corrupt in distinct ways: invalid JSON, truncated,
    // type-mismatched field, null payload (Kafka tombstone)
    val frames: Seq[(String, Array[Byte], java.sql.Timestamp)] = Seq(
      ("a", bytes("""{"event_id":1,"ts":"2024-01-01T10:00:00Z","user_id":5,"event_type":"click","value":1.5,"props":"{}"}"""), ts("2024-01-01 10:00:01")),
      ("a", bytes("""{"event_id":2,"ts":"2024-01-01T10:05:00Z","user_id":5,"event_type":"view","value":2.0,"props":"{}"}"""), ts("2024-01-01 10:05:01")),
      ("b", bytes("""{"event_id":3,"ts":"2024-01-01T11:00:00Z","user_id":6,"event_type":"click","value":0.5,"props":"{}"}"""), ts("2024-01-01 11:00:01")),
      ("b", bytes("""{"event_id":4,"ts":"2024-01-01T11:30:00Z","user_id":7,"event_type":"buy","value":9.0,"props":"{}"}"""), ts("2024-01-01 11:30:01")),
      ("c", bytes("this is not json"), ts("2024-01-01 10:10:00")),
      ("c", bytes("""{"event_id":5,"ts":"""), ts("2024-01-01 10:20:00")),
      ("c", bytes("""{"event_id":"not-a-number","ts":"2024-01-01T10:00:00Z"}"""), ts("2024-01-01 10:25:00")),
      ("c", bytes(null), ts("2024-01-01 10:40:00")))

    val got = Streaming.parseEventStream(frames.toDF("key", "value", "ts"))

    // nothing thrown, every frame accounted for exactly once
    assert(got.count() == 8)
    assert(got.where($"is_corrupt").count() == 4)
    // the clean side carries the typed fields
    val clean = got.where(!col("is_corrupt"))
    assert(clean.count() == 4)
    assert(clean.agg(sum("event_id")).head().getLong(0) == 10L)
    assert(clean.where($"event_type" === "buy" && $"value" === 9.0 &&
      $"user_id" === 7L).count() == 1)
    assert(clean.where($"ts" === ts("2024-01-01 10:00:00")).count() == 1)
    // the dead-letter side preserves the raw payload for replay-after-fix
    val dead = got.where(col("is_corrupt"))
    assert(dead.count() == 4)
    assert(dead.where($"raw_value" === "this is not json").count() == 1)
    assert(dead.where($"raw_value".contains("not-a-number")).count() == 1)
    assert(dead.where($"raw_value".isNull).count() == 1) // tombstone
    // clean rows carry NO raw payload (the wide column is corrupt-only)
    assert(clean.where($"raw_value".isNotNull).count() == 0)
  }

  test("dead-letter replay-after-fix: quarantined frames re-parse into the " +
      "clean set once the payload bug is repaired") {
    import spark.implicits._
    // a producer bug prepended a junk header to every payload (a PREFIX:
    // from_json tolerates trailing garbage after a complete object, so a
    // suffix would not corrupt); the frames quarantine, the raw payloads
    // survive, and after the fix the SAME rows re-enter the clean
    // pipeline — the whole point of keeping raw_value on the dead-letter
    // side
    def good(id: Long) =
      s"""{"event_id":$id,"ts":"2024-01-01T10:0$id:00Z","user_id":7,"event_type":"click","value":$id.5,"props":"{}"}"""
    val frames = (1L to 4L).map(i =>
      (s"k$i", ("junk]" + good(i)).getBytes("UTF-8"),
        java.sql.Timestamp.valueOf(s"2024-01-01 10:0$i:01")))
      .toDF("key", "value", "ts")

    val parsed = Streaming.parseEventStream(frames)
    assert(parsed.where(!col("is_corrupt")).count() == 0)
    val quarantine = SparkSpec.tempDir("graft_dlq_").toString + "/dlq"
    parsed.where(col("is_corrupt"))
      .select($"kafka_key", $"ingest_ts", $"raw_value")
      .write.parquet(quarantine)

    // replay: strip the junk header from the preserved raw payload and
    // re-run the SAME parse layer over the repaired frames
    val repaired = spark.read.parquet(quarantine).select(
      $"kafka_key".as("key"),
      regexp_replace($"raw_value", "^junk\\]", "").as("value"),
      $"ingest_ts".as("ts"))
    val reparsed = Streaming.parseEventStream(repaired)
    val clean = reparsed.where(!col("is_corrupt"))
    assert(reparsed.where(col("is_corrupt")).count() == 0)
    assert(clean.count() == 4)
    assert(clean.agg(sum("event_id")).head().getLong(0) == 10L)
    assert(clean.where($"event_type" === "click" && $"user_id" === 7L).count() == 4)
  }
}
