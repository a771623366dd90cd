package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Event-frame parsing and the one-batch near-dup gate: pure DataFrame
  * transformations that queries run on a batch (`q_event_parse`,
  * `q_stream_gate1`, `q_stream_gate6of8`). SURVEY §2.10: the reference is
  * batch-only, and so is this engine.
  */
object Streaming {

  /** The typed event schema a frame payload parses into (ts already µs). */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** Kafka-shaped event-frame parse layer: turns opaque `(key, value, ts)`
    * frames into the typed event schema via `from_json`, with corrupt
    * records COUNTED, never thrown: a malformed value (bad JSON, a field
    * that fails its declared type, or a null/empty payload) yields a row
    * with `is_corrupt = true`, null typed fields, and the raw payload
    * preserved in `raw_value` for a dead-letter sink. Well-formed rows carry
    * `is_corrupt = false` and `raw_value` null (so the wide column costs
    * nothing on the happy path).
    *
    * Input contract: `key` (string or binary), `value` (string or binary
    * JSON payload), `ts` (transport/ingest timestamp). Output: `kafka_key`,
    * `ingest_ts`, the fields of `schema`, `is_corrupt`, `raw_value`.
    *
    * Pure column operations, run by q_event_parse, so the parse semantics
    * are DuckDB-oracled. Scale: per-row narrow map, no shuffle, no state;
    * corrupt detection rides the same `from_json` that does the parse (one
    * pass, PERMISSIVE mode with an in-schema corrupt-record column).
    */
  def parseEventStream(frames: DataFrame, schema: StructType = eventSchema): DataFrame = {
    val corruptCol = "_corrupt_record"
    require(!schema.fieldNames.contains(corruptCol),
      s"event schema must not declare $corruptCol — the parser reserves it")
    val parseSchema = StructType(schema.fields :+ StructField(corruptCol, StringType))
    frames
      .select(
        col("key").cast("string").as("kafka_key"),
        col("ts").as("ingest_ts"),
        col("value").cast("string").as("__raw"),
        // the corrupt-column name is passed as a per-call option: relying
        // on the session's spark.sql.columnNameOfCorruptRecord default
        // would silently break corrupt detection (always-false is_corrupt)
        // in any deployment that renames that knob
        from_json(col("value").cast("string"), parseSchema,
          Map("columnNameOfCorruptRecord" -> corruptCol)).as("__parsed"))
      // from_json returns a NULL struct for null/whitespace-only payloads and
      // fills the corrupt column (leaving typed fields null) for malformed or
      // type-mismatched JSON — both are corrupt, neither throws.
      .withColumn("is_corrupt",
        col("__parsed").isNull || col(s"__parsed.$corruptCol").isNotNull)
      .select(
        Seq(col("kafka_key"), col("ingest_ts")) ++
          schema.fieldNames.map(f => col(s"__parsed.`$f`").as(f)) ++
          Seq(col("is_corrupt"),
            when(col("is_corrupt"), col("__raw")).as("raw_value")): _*)
  }

  /** The near-dup gate's banding relation over a tokenized batch — MinHash
    * band buckets plus SHORT-DOC fallback rows: a doc under the shingle
    * horizon produces no signature and would sail through every collision
    * check — even as an exact copy. Synthetic `band = -1` rows keyed on the
    * exact token-normalized content hash ride the SAME relation, so short
    * exact dups dedup like everything else. Zero-token docs still pass
    * (nothing to dedup on — empty-doc policy belongs to the upstream
    * quality gate). Input of [[batchCollisions]] in [[nearDupGateBatch]].
    */
  private[graft] def gateBands(toked: DataFrame, shingleN: Int,
      nPerms: Int, nBands: Int): DataFrame = {
    val shortRows = toked
      .where(size(col("toks")) > 0 && size(col("toks")) < shingleN)
      .select(col("doc_id"), lit(-1).as("band"),
        xxhash64(concat_ws(" ", col("toks"))).as("bucket"))
    graft.operators.Dedup.minhashBandBuckets(
      toked, shingleN, nPerms, nBands)
      .unionByName(shortRows)
  }

  /** Within-batch collision (drop) set of the near-dup gate over a
    * [[gateBands]] relation: at `minBandsGate = 1` the smallest doc id per
    * bucket keeps and everything above it drops; at k > 1 a pair must agree
    * on ≥ k distinct bands (the MinHash-estimated-Jaccard verification) —
    * except a band −1 (short-doc exact-hash) collision, which IS Jaccard 1
    * and always drops.
    */
  private[graft] def batchCollisions(bands0: DataFrame,
      minBandsGate: Int): DataFrame = {
    // explicit bucket-keyed exchange (r16, the minhashPairsFromTokens
    // convention) for the k > 1 arm only: its self-join reads the band
    // relation twice and the signature aggregation that used to be the
    // shared materialization point is now a map-side native loop — one
    // repartition restores single execution of the signature pipeline via
    // ReusedExchange. The gate1 arm no longer needs an anchor at all (r17,
    // VERDICT r16 #1 — the driver contradicted the r16 keeper-join shape):
    // a per-bucket min WINDOW reads the relation ONCE, so the signature
    // pipeline executes once by construction — one exchange + sort instead
    // of repartition + aggregate + join back.
    if (minBandsGate == 1) {
      // the smallest doc id in each bucket is the keeper; every other
      // member collides with it
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("band"), col("bucket"))
      bands0.select(col("doc_id"),
          min(col("doc_id")).over(w).as("keep_id"))
        .where(col("doc_id") > col("keep_id"))
        .select(col("doc_id")).distinct()
    } else {
      val bands = bands0.repartition(col("band"), col("bucket"))
      bands.join(bands.select(col("band"), col("bucket"),
          col("doc_id").as("__other")), Seq("band", "bucket"))
        .where(col("__other") < col("doc_id"))
        .groupBy(col("doc_id"), col("__other"))
        .agg(count(lit(1)).as("__nb"),
          max((col("band") === -1).cast("int")).as("__exact"))
        .where(col("__nb") >= minBandsGate || col("__exact") === 1)
        .select(col("doc_id")).distinct()
    }
  }

  /** The one-batch near-dup gate (no index, no side effects): returns the
    * kept rows of `batch` under the given verification knob. `minBandsGate`
    * tunes precision: 1 (default) drops on ANY bucket collision with a
    * smaller id (recall-oriented, the classic LSH gate); k > 1 requires the
    * colliding pair to agree on ≥ k of the `nBands` bands (at 8 bands × 4
    * rows, 6-of-8 agreement ≈ Jaccard ≳ 0.9) — for docs at or above the
    * shingle horizon, the same criterion as an uncapped
    * [[graft.operators.Dedup.minhashPairs]] filtered to `n_bands >= k`,
    * which StreamingSpec checks. The `q_stream_gate1`/`q_stream_gate6of8`
    * sub-timings run it at both ends on the same dup-salted corpus, so the
    * knob's cost is a recorded artifact beside the ×1/×4 scale twins.
    */
  def nearDupGateBatch(batch: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, nPerms: Int = 32, nBands: Int = 8,
      minBandsGate: Int = 1): DataFrame = {
    import graft.functions.TextFunctions.tokens
    require(minBandsGate >= 1 && minBandsGate <= nBands,
      s"minBandsGate ($minBandsGate) must be in [1, nBands=$nBands]")
    val toked = batch.select(col(idCol).cast("long").as("doc_id"),
      tokens(col(textCol)).as("toks"))
    val dropped = batchCollisions(
      gateBands(toked, shingleN, nPerms, nBands), minBandsGate)
    batch.join(dropped.withColumnRenamed("doc_id", idCol), Seq(idCol),
      "left_anti")
  }
}
