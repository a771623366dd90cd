package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Structured Streaming extension (SURVEY §2.10: the reference is batch-only;
  * this is the engine's streaming mode over event streams, not reference
  * fidelity). Same logical shapes as the batch queries — windowed sums are
  * the streaming form of the hourly meter rollup.
  *
  * Scale design: watermark bounds state; windowed aggregation state is
  * per (window, key) — at 100 TB/day the state store shards by key across
  * executors, and `spark.sql.shuffle.partitions` sizes the state RDD.
  */
object Streaming {

  /** The events schema as it arrives on a stream (ts already µs). */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** File-based event stream over a directory of parquet/json drops. */
  def readEventStream(spark: SparkSession, dir: String, format: String = "parquet"): DataFrame =
    spark.readStream.schema(eventSchema).format(format).load(dir)

  /** Kafka-shaped ingest parse layer — the production front door. Every
    * Kafka-like transport delivers opaque `(key, value, ts)` frames; this
    * turns that frame into the typed event schema via `from_json`, with
    * corrupt records COUNTED, never thrown: a malformed value (bad JSON, a
    * field that fails its declared type, or a null/empty payload) yields a
    * row with `is_corrupt = true`, null typed fields, and the raw payload
    * preserved in `raw_value` for a dead-letter sink. Well-formed rows carry
    * `is_corrupt = false` and `raw_value` null (so the wide column costs
    * nothing on the happy path).
    *
    * Input contract: `key` (string or binary), `value` (string or binary
    * JSON payload), `ts` (transport/ingest timestamp). Output: `kafka_key`,
    * `ingest_ts`, the fields of `schema`, `is_corrupt`, `raw_value`.
    *
    * Pure column operations — the same function serves the streaming path
    * (over a readStream/Kafka frame) and its batch twin (q_event_parse, so
    * the parse semantics are DuckDB-oracled even though the driver gate
    * can't run a stream). Scale: per-row narrow map, no shuffle, no state;
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

  /** Corrupt-record accounting over a parsed frame: clean/corrupt counts per
    * tumbling window of ingest time. Streaming-safe (watermarked windowed
    * agg, state bounded by the lateness horizon) and identical over the
    * batch twin. Counted, not thrown — the pipeline keeps running while a
    * poisoned producer shows up as a rising `n_corrupt` curve.
    */
  def parseStats(parsed: DataFrame, window_ : String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    parsed
      .withWatermark("ingest_ts", watermark)
      .groupBy(window(col("ingest_ts"), window_))
      .agg(
        count(lit(1)).as("n_records"),
        count(when(col("is_corrupt"), 1)).as("n_corrupt"))
      .select(
        col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("n_records"), col("n_corrupt"))

  /** The clean side of a parsed frame, in the declared event shape (helper
    * columns dropped) — what downstream operators consume.
    */
  def cleanEvents(parsed: DataFrame): DataFrame =
    parsed.filter(!col("is_corrupt")).drop("is_corrupt", "raw_value")

  /** The dead-letter side: corrupt frames with their raw payload, for a
    * quarantine sink and replay-after-fix.
    */
  def deadLetters(parsed: DataFrame): DataFrame =
    parsed.filter(col("is_corrupt"))
      .select(col("kafka_key"), col("ingest_ts"), col("raw_value"))

  /** Tumbling-window per-type aggregation with late-data watermark — the
    * streaming analogue of the batch meter rollup (A9/q_monthly_rollup).
    */
  def windowedTypeAgg(events: DataFrame, window_ : String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    hoppingTypeAgg(events, window_, window_, watermark)

  /** Hopping (sliding) window per-type aggregation — the streaming twin of
    * the batch q_window_hopping: `window(ts, window, slide)` assigns each
    * event to window/slide overlapping windows (2 for 1h/30m) and the state
    * store keys by (window, event_type). State stays bounded: the watermark
    * closes a hopping window exactly like a tumbling one (its end time
    * passes the watermark), the overlap only multiplies LIVE state by the
    * constant window/slide factor, never by stream history. Defaults match
    * the batch query (1 hour windows every 30 minutes).
    */
  def hoppingTypeAgg(events: DataFrame, window_ : String = "1 hour",
      slide: String = "30 minutes", watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_, slide), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        // 1e-12-quantized picounit sum (Exact.pico12 rationale): a
        // streaming agg folds values in ARRIVAL order, so an
        // order-dependent double sum would differ between a replayed and
        // a single-run stream — exact decimal partial aggregation makes
        // the window total bit-identical under any batch boundaries,
        // matching the batch twin exactly
        graft.functions.Exact.sum12(col("value")).as("sum_value"),
        max(col("value")).as("peak_value"))
      .select(
        col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("event_type"), col("n_events"), col("sum_value"), col("peak_value"))

  /** Declarative streaming sessionization — the native twin of both the
    * batch q_session_window and the imperative [[sessionizeStream]]:
    * `session_window` + watermark keeps ONE mergeable state entry per open
    * session and emits a session in append mode once the watermark passes
    * its end (last event + gap) — no flatMapGroupsWithState code to
    * maintain, same bounded-state story. The default 2-hour delay matches
    * the sibling aggregators' late-data allowance (a zero delay silently
    * DROPS every out-of-order event across micro-batches). The imperative
    * form remains for semantics the declarative one can't express (emitting
    * the open tail, custom stitching rules).
    */
  def sessionWindowAgg(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("start_us"),
        unix_micros(col("session_window.end")).as("end_us"),
        col("n_events"))

  final case class SessionInput(user_id: Long, ts: java.sql.Timestamp, value: Double)
  final case class SessionState(nEvents: Long, total: Double, lastTs: Long)
  final case class SessionOutput(user_id: Long, n_events: Long, total_value: Double)

  /** Custom per-user running state via mapGroupsWithState (the engine's
    * stateful-operator surface): keeps a running count/total per user.
    * `idleTimeout` (processing-time) evicts idle users' state in long-running
    * deployments; None (default) keeps state forever — use None with
    * AvailableNow/terminating triggers, where timeout ticks would keep the
    * query scheduling empty batches.
    */
  def runningUserTotals(events: Dataset[SessionInput],
      idleTimeout: Option[String] = None): Dataset[SessionOutput] = {
    import events.sparkSession.implicits._
    val mode = idleTimeout
      .map(_ => GroupStateTimeout.ProcessingTimeTimeout)
      .getOrElse(GroupStateTimeout.NoTimeout)
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[SessionState, SessionOutput](mode) {
        (user: Long, rows: Iterator[SessionInput], state: GroupState[SessionState]) =>
          val prev = state.getOption.getOrElse(SessionState(0L, 0.0, 0L))
          if (state.hasTimedOut) {
            // idle expiry: EVICT (the point of the timeout) and flush the
            // final totals. Re-updating here would resurrect the state and
            // re-emit a duplicate row every interval, forever.
            state.remove()
            SessionOutput(user, prev.nEvents, prev.total)
          } else {
            var n = prev.nEvents; var tot = prev.total; var last = prev.lastTs
            rows.foreach { r =>
              n += 1; tot += r.value; last = math.max(last, r.ts.getTime)
            }
            state.update(SessionState(n, tot, last))
            idleTimeout.foreach(state.setTimeoutDuration)
            SessionOutput(user, n, tot)
          }
      }
  }

  /** Streaming exact dedup on ingest — the streaming twin of Dedup.exact
    * (an LLM-data pipeline deduplicates at the door, not in nightly
    * batches). `dropDuplicatesWithinWatermark` keys state by `idCols` and
    * the watermark BOUNDS the state store: a key's entry is evicted once
    * the watermark passes its event time, so state size tracks the late-
    * data horizon, not stream history — the only formulation that survives
    * an unbounded stream. (Plain `dropDuplicates` on a stream keeps every
    * key forever.)
    */
  def dedupStream(events: DataFrame, idCols: Seq[String] = Seq("event_id"),
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(idCols.head, idCols.tail: _*)

  final case class OpenSession(startUs: Long, lastUs: Long, n: Long)
  final case class ClosedSession(user_id: Long, start_us: Long, end_us: Long,
      n_events: Long)

  /** Cross-batch streaming sessionization — the streaming twin of
    * q_sessionize: a user's events split into sessions on silences longer
    * than `gapUs`, with the still-open tail carried in state and STITCHED
    * into the next micro-batch (an event arriving within the gap of the
    * carried tail extends the same session across the batch boundary —
    * the part batch jobs on drops get wrong). Closed sessions emit in the
    * batch that closes them; the final open session per user stays in
    * state (it is not closed — more data may come; bound it with a
    * timeout in always-on deployments).
    *
    * Scale: state is ONE small record per active user; per-batch work is
    * a sort of that user's batch slice (micro-batches are minutes of
    * data, not history). flatMapGroupsWithState shuffles each batch by
    * user — same key as the batch sessionizer's window.
    */
  def sessionizeStream(events: Dataset[SessionInput],
      gapUs: Long = 1800000000L): Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, ClosedSession](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[SessionInput], state: GroupState[OpenSession]) =>
          // group iterators carry no order contract: sort this user's batch
          // slice (bounded by the micro-batch, not by history).
          // getTime is MILLIS — rebuild exact epoch µs from seconds + nanos
          // (a *1000 shortcut silently truncates sub-ms event times)
          val ts = rows.map(r =>
            r.ts.getTime / 1000L * 1000000L + r.ts.getNanos / 1000L).toArray.sorted
          val closed = Seq.newBuilder[ClosedSession]
          var open = state.getOption
          ts.foreach { t =>
            open = open match {
              case Some(o) if t - o.lastUs <= gapUs =>
                // max: a cross-batch LATE event (t < carried lastUs, still
                // within the gap) must not move the watermark backward, or
                // the next on-time event measures a phantom gap and splits
                // the session
                Some(o.copy(lastUs = math.max(o.lastUs, t), n = o.n + 1))
              case Some(o) =>
                closed += ClosedSession(user, o.startUs, o.lastUs, o.n)
                Some(OpenSession(t, t, 1L))
              case None => Some(OpenSession(t, t, 1L))
            }
          }
          open.foreach(state.update)
          closed.result().iterator
      }
  }

  /** Stream-stream interval join: correlate two live event feeds per user
    * within a bounded time band (right event lands in [left_ts, left_ts +
    * gap]) — the streaming form of the batch banded pair query
    * (q_event_pairs). BOTH sides carry watermarks and the join condition
    * bounds event time in BOTH directions; together those let the state
    * store evict a buffered row once the other side's watermark passes its
    * match band — the only stream-stream join formulation whose state is
    * bounded by the lateness horizon rather than stream history (an
    * unconstrained stream-stream join buffers both streams forever).
    * Inner join: a match emits as soon as both sides have arrived.
    */
  def intervalJoinStreams(lefts: DataFrame, rights: DataFrame,
      gap: String = "30 minutes", watermark: String = "2 hours"): DataFrame = {
    val l = lefts.withWatermark("ts", watermark)
      .select(col("user_id"), col("event_id").as("left_id"),
        col("ts").as("left_ts"), col("event_type").as("left_type"))
    val r = rights.withWatermark("ts", watermark)
      .select(col("user_id").as("__r_user"), col("event_id").as("right_id"),
        col("ts").as("right_ts"), col("event_type").as("right_type"))
    l.join(r,
        col("user_id") === col("__r_user") &&
          col("right_ts") >= col("left_ts") &&
          col("right_ts") <= col("left_ts") + expr(s"INTERVAL $gap"))
      .drop("__r_user")
  }

  /** Stream-static enrichment: left-join a micro-batched stream against a
    * broadcast dimension — each micro-batch joins in-memory with no state
    * store and no shuffle of the stream side (the standard pattern for
    * attaching slowly-changing reference data to a live feed; Spark
    * re-resolves the static side per batch, so a refreshed dim view is
    * picked up without restarting the query).
    */
  def enrichStream(events: DataFrame, dim: DataFrame,
      keys: Seq[String]): DataFrame =
    events.join(broadcast(dim), keys, "left")

  /** Streaming materialized-view maintenance: keep the at-rest
    * month-partitioned rollup ([[graft.etl.Maintenance]]) continuously
    * up to date from a live event feed. The streaming aggregation holds the
    * RUNNING (month, event_type) totals in the state store (bounded:
    * months × types groups, checkpointed), emits the groups each
    * micro-batch changed in update mode with their COMPLETE current values,
    * and foreachBatch upserts them into the store via dynamic partition
    * overwrite. Complete values — not deltas — are what make the sink safe:
    * a replayed batch (foreachBatch is at-least-once) rewrites the same
    * totals instead of double-counting, and a restart recovers the running
    * state from the checkpoint, so the store always converges to exactly
    * the batch rollup of everything ingested (StreamingSpec proves parity
    * and that untouched month partitions keep their exact files).
    *
    * The aggregation IS [[graft.etl.Maintenance.monthlyRollup]] applied to
    * the stream — one definition for the batch truth and the streaming
    * view, so the store's (month, event_type) key shape can't drift. The
    * default AvailableNow trigger drains what's on disk and terminates
    * (the incremental-batch pattern; re-invoke per maintenance cycle) —
    * pass a processing-time `trigger` for an always-on deployment.
    */
  def maintainMonthlyRollup(events: DataFrame, outDir: String,
      checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    graft.etl.Maintenance.monthlyRollup(events)
      .writeStream
      .outputMode(OutputMode.Update())
      .foreachBatch { (updates: Dataset[org.apache.spark.sql.Row], _: Long) =>
        graft.etl.Maintenance.upsertRollupRows(updates.toDF(), outDir); ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()

  /** Streaming CDC materialization — the change feed's terminal: each
    * micro-batch folds into a manifest-committed keyed store with
    * latest-wins semantics ([[graft.etl.Maintenance.applyCdcManifested]]:
    * highest `seqCol` per key wins, a winning `"D"` deletes, everything
    * else upserts). foreachBatch + checkpoint gives AT-LEAST-ONCE batch
    * delivery; latest-wins is stable under re-application, so a replayed
    * batch rewrites the same logical content and a restart mid-stream
    * converges to exactly the batch [[graft.etl.Maintenance.applyCdc]]
    * truth (StreamingSpec proves it across a kill + replay). Readers see
    * old-or-new per manifest version, never a torn mix.
    *
    * State story at scale: NO Spark state store at all — the only state is
    * the store itself plus the source offsets in the checkpoint; each
    * micro-batch's work is bounded by the batch size and the touched
    * partitions, never by stream history.
    */
  def materializeCdcStream(changes: DataFrame, keyCols: Seq[String],
      opCol: String, seqCol: String, partitionCol: String, storeDir: String,
      checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    changes.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        graft.etl.Maintenance.applyCdcManifested(batch.toDF(), keyCols,
          opCol, seqCol, partitionCol, storeDir); ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()

  /** The gate's 64-bit document key: integral id columns cast straight to
    * long; string ids take their xxhash64 (a stable surrogate — collision
    * odds 2^-64 per pair; "smallest id keeps" then means smallest hash,
    * deterministic across runs). Any other type is rejected up front, and a
    * NULL id fails LOUDLY — a silently-NULL doc_id could never be dropped
    * (NULL satisfies neither the keeper comparison nor the anti-join
    * equality) and its NULL-keyed band rows would pollute the index forever.
    */
  private def gateDocId(batch: DataFrame, idCol: String): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.types._
    val keyed = batch.schema(idCol).dataType match {
      case ByteType | ShortType | IntegerType | LongType => col(idCol).cast("long")
      // the isNotNull guard matters: xxhash64 IGNORES null inputs and
      // returns the seed hash, so a bare xxhash64(id) would key every
      // null-id doc to one shared value instead of failing
      case StringType => when(col(idCol).isNotNull, xxhash64(col(idCol)))
      case other => throw new IllegalArgumentException(
        s"near-dup gate id column '$idCol' must be integral or string, got $other")
    }
    coalesce(keyed, raise_error(lit(s"near-dup gate: NULL $idCol")).cast("long"))
  }

  /** One micro-batch of the streaming near-dup gate (the foreachBatch body
    * of [[dedupNearStream]], package-visible so the batch semantics are
    * spec-testable without a stream): MinHash-band every incoming doc,
    * drop any doc that collides with the MANIFEST-COMMITTED at-rest LSH
    * index (the same `(doc_id, band, bucket)` relation
    * [[graft.operators.Dedup.minhashBandBuckets]] builds) or with a
    * smaller-id doc in the SAME batch, then commit survivors' band rows to
    * the index and the survivors themselves to `outDir`.
    *
    * EFFECTIVELY-EXACTLY-ONCE under foreachBatch's at-least-once replay,
    * via two mechanisms working together:
    *   - index rows carry `batch_id`, and the collision probe EXEMPTS rows
    *     of the CURRENT batch id — so a replayed batch does not collide
    *     with its own first-attempt index rows and recomputes the exact
    *     same survivor set (only the latest batch can ever replay, so the
    *     exemption never hides a genuine cross-batch duplicate);
    *   - the output write is a dynamic partition overwrite of
    *     `ingest_batch=<batchId>` — a replay REWRITES that partition with
    *     identical content instead of appending a second copy.
    * A crash between the index commit and the output write therefore loses
    * nothing: the replay passes the same survivors through the exempted
    * probe and lands them in the output (this closes the r7 crash window
    * where a batch's survivors were indexed-but-never-output and then
    * dropped forever on replay). The replayed index append adds duplicate
    * band rows (same rows, same batch_id) — semantically inert for a
    * semi-join probe, and [[compactNearDupIndex]] folds them away.
    *
    * `minBandsGate` tunes precision: 1 (default) drops on ANY raw bucket
    * collision (recall-oriented, the classic LSH gate); k > 1 requires the
    * colliding pair to agree on ≥ k of the `nBands` bands — the MinHash
    * estimate of Jaccard similarity, so the gate verifies candidates
    * instead of trusting single-band luck (at 8 bands × 4 rows, 6-of-8
    * agreement ≈ Jaccard ≳ 0.9). Same criterion as
    * [[graft.operators.Dedup.minhashPairsIncremental]] filtered to
    * `n_bands >= k` — StreamingSpec proves the kept sets coincide.
    *
    * Scale shape: per-batch work is the batch's signature pipeline plus
    * one probe join against the index, bucketed on (band, bucket) — bounded
    * by batch size, never by stream history; no Spark state store (the
    * state IS the index, exactly the materializeCdcStream philosophy).
    */
  private[graft] def applyNearDedupBatch(batch: DataFrame, idCol: String,
      textCol: String, indexDir: String, outDir: String,
      shingleN: Int, nPerms: Int, nBands: Int, batchId: Long,
      minBandsGate: Int = 1): Unit = {
    import graft.functions.TextFunctions.tokens
    require(minBandsGate >= 1 && minBandsGate <= nBands,
      s"minBandsGate ($minBandsGate) must be in [1, nBands=$nBands]")
    val spark = batch.sparkSession
    val b = batch.withColumn("__doc_id", gateDocId(batch, idCol)).persist()
    try {
      val toked = b.select(col("__doc_id").as("doc_id"),
        tokens(col(textCol)).as("toks"))
      val bands = gateBands(toked, shingleN, nPerms, nBands).persist()
      try {
        val index: DataFrame =
          if (graft.etl.Maintenance.manifestVersion(spark, indexDir) > 0L)
            graft.etl.Maintenance.readManifested(spark, indexDir)
          else {
            // bootstrap — legal ONLY for a genuinely fresh gate. An output
            // dir with admitted docs but no index manifest means the index
            // vanished mid-stream (e.g. a deleted store); silently starting
            // from an empty index would re-admit every future duplicate.
            val op = new org.apache.hadoop.fs.Path(outDir)
            val fs = op.getFileSystem(spark.sparkContext.hadoopConfiguration)
            require(!fs.exists(op) || fs.listStatus(op).isEmpty,
              s"near-dup gate: no index manifest at $indexDir but output " +
                s"$outDir is non-empty — the index vanished mid-stream; " +
                "rebuild it from the output before resuming")
            bands.limit(0).withColumn("batch_id", lit(-1L))
          }
        // GUARD the only-the-latest-batch-replays assumption the exemption
        // and the partition-overwrite output both rest on: a stream
        // restarted against a lost/fresh checkpoint restarts batch ids at 0
        // — the exemption would then hide ALL historical batch-0 rows
        // (re-admitting their duplicates) and the dynamic overwrite would
        // DELETE partition ingest_batch=0's previously-admitted docs. Fail
        // loudly instead: resume with the original checkpoint, or point the
        // gate at fresh index/output dirs. Checked only at batchId == 0 —
        // a checkpoint reset ALWAYS restarts there, so this is the one
        // batch that can be older than history (a legitimate batch-0
        // replay has max batch_id == 0 and passes), and later batches
        // never pay the index-scan the check costs.
        if (batchId == 0L) {
          val maxIndexed = index.agg(max(col("batch_id"))).head()
          if (!maxIndexed.isNullAt(0))
            require(maxIndexed.getLong(0) <= 0L,
              s"near-dup gate: batch id 0 against an index whose latest " +
                s"batch is ${maxIndexed.getLong(0)} — the checkpoint was " +
                "reset against a populated index; resume with the original " +
                "checkpoint or use fresh index/output dirs")
        }
        // replay exemption: the current batch's own first-attempt rows are
        // invisible to the probe (see the exactly-once contract above)
        val visible = index.where(col("batch_id") =!= lit(batchId))
          .select(col("band"), col("bucket"), col("doc_id").as("__idx_doc"))
        // verified mode counts agreeing bands per candidate pair — except a
        // band −1 (short-doc exact-hash) collision, which IS Jaccard 1 and
        // always drops regardless of the gate
        val hitIndex =
          if (minBandsGate == 1)
            bands.join(visible.select(col("band"), col("bucket")),
              Seq("band", "bucket"), "left_semi")
              .select(col("doc_id")).distinct()
          else
            bands.join(visible, Seq("band", "bucket"))
              .groupBy(col("doc_id"), col("__idx_doc"))
              // countDistinct(band), NOT count(*): a crash-replayed batch
              // appends its band rows a second time (same rows, same
              // batch_id), and until compaction folds them away a raw count
              // would tally each agreeing band twice — a 3-of-8 pair would
              // pass a 6-band gate and silently over-drop. Distinct bands
              // are immune to index-row multiplicity.
              .agg(countDistinct(col("band")).as("__nb"),
                max((col("band") === -1).cast("int")).as("__exact"))
              .where(col("__nb") >= minBandsGate || col("__exact") === 1)
              .select(col("doc_id")).distinct()
        val hitBatch = batchCollisions(bands, minBandsGate)
        val dropped = hitIndex.unionByName(hitBatch).distinct()
        // EAGER localCheckpoint, not persist: `passing`'s lineage reads the
        // index, and the index commit below would otherwise be visible to
        // any partition recomputed during the later output write — a doc
        // would collide with its OWN just-appended buckets and silently
        // vanish from the output (read-your-own-write). Checkpointing
        // severs the lineage BEFORE the append; a lost block then fails
        // loudly instead of recomputing through the mutated index.
        val passing = b.join(
          dropped.select(col("doc_id").as("__doc_id")), Seq("__doc_id"), "left_anti")
          .localCheckpoint()
        try {
          if (!passing.isEmpty) {
            // coalesce the per-batch append: without it every micro-batch
            // lands shuffle.partitions (32) tiny files and the next probe's
            // listing cost climbs all the way to the compaction point —
            // the r13 soak measured per-batch latency growing 3.9 → 8.4 s
            // across a 10-batch window from file count alone. A batch's
            // band rows are micro-batch-sized; 4 files keeps the append
            // parallel enough while the listing stays flat (compaction
            // still owns the long-run bucket-clustered layout).
            graft.etl.Maintenance.appendManifested(
              bands.join(passing.select(col("__doc_id").as("doc_id")),
                  Seq("doc_id"), "left_semi")
                .withColumn("batch_id", lit(batchId))
                .coalesce(4),
              indexDir)
            passing.drop("__doc_id")
              .withColumn("ingest_batch", lit(batchId))
              .write.mode("overwrite")
              .option("partitionOverwriteMode", "dynamic")
              .partitionBy("ingest_batch").parquet(outDir)
          }
        } finally passing.queryExecution.analyzed.collect {
          case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
        }.foreach(_.unpersist(blocking = false))
      } finally bands.unpersist(blocking = false)
    } finally b.unpersist(blocking = false)
  }

  /** The gate's banding relation over a tokenized batch — MinHash band
    * buckets plus SHORT-DOC fallback rows: a doc under the shingle horizon
    * produces no signature and would sail through every collision check —
    * even as an exact copy. Synthetic `band = -1` rows keyed on the exact
    * token-normalized content hash ride the SAME relation (probe, keeper,
    * index) so short exact dups dedup across batches like everything else.
    * Zero-token docs still pass (nothing to dedup on — empty-doc policy
    * belongs to the upstream quality gate). Shared by the streaming gate
    * and [[nearDupGateBatch]] so the two can never drift.
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
    * and always drops. Shared by [[applyNearDedupBatch]] and the bench
    * twin, so the knob Bench times is literally the streaming gate's code.
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

  /** One-batch form of the near-dup gate's admission decision (no index, no
    * side effects): returns the kept rows of `batch` under the given
    * verification knob. This is the benchable face of `minBandsGate` — the
    * `q_stream_gate_*` sub-timings run it at gate=1 vs 6-of-8 on the same
    * dup-salted corpus each round, so the knob's cost (the k>1 arm trades
    * the keeper-join for a per-pair band count) is a recorded artifact
    * alongside the ×1/×4 scale twins, computed by the SAME [[gateBands]] +
    * [[batchCollisions]] code the stream runs.
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

  /** Maintenance for [[dedupNearStream]]'s at-rest LSH index: every
    * micro-batch appends one small file, so a long-running gate accumulates
    * thousands of tiny files and the per-batch probe's scan goes
    * listing-bound. Compaction rewrites the index `repartitionByRange` on
    * `(band, bucket)` PLUS `sortWithinPartitions` and a bounded parquet
    * row-group size — one range shuffle of the (doc_id, band, bucket,
    * batch_id) relation. The three knobs are load-bearing together (r14,
    * measured in SCALE.md § "Round-14: the index-probe skip"): range partitioning alone gives
    * FILE-level disjointness only (rows inside a file arrive unsorted, so
    * every row group's min/max spans the file's whole range — a selective
    * probe still scanned ~40% of the index, growing linearly); the
    * within-partition sort plus `rowGroupBytes`-sized groups make row-group
    * stats tight disjoint sub-ranges, and the measured selective-probe scan
    * goes FLAT (~10⁵ rows regardless of index size) while `flat` layouts
    * scan the full index. The full-batch streaming probe is layout-
    * invariant by construction — a batch's bucket keys are uniform over
    * the hash space, so no static pruning can skip anything; its linear
    * term is bounded by the batch-side broadcast (the index is never
    * shuffled) and this compaction's file-count bound. `dropDuplicates`
    * folds away any replay-duplicated band rows. Published via the
    * manifest-committed store
    * ([[graft.etl.Maintenance.replaceManifested]]): the commit is ONE
    * atomic manifest rename, so a gate batch racing the compaction reads
    * the complete old index or the complete new one — never an absent or
    * half-swapped directory (the r7 two-rename layout had exactly that
    * window, and a gate bootstrapping against it silently admitted
    * duplicates). A crash mid-compaction leaves the old manifest intact;
    * the orphaned staged files are reclaimed by the vacuum that runs on
    * the next successful compaction. `batch_id` values survive compaction,
    * so a replayed latest batch keeps its self-collision exemption.
    *
    * @return (live files before, live files after) per the manifests
    */
  def compactNearDupIndex(spark: SparkSession, indexDir: String,
      targetPartitions: Int = 32, rowGroupBytes: Long = 256L << 10): (Int, Int) = {
    import graft.etl.Maintenance
    if (Maintenance.manifestVersion(spark, indexDir) == 0L) return (0, 0)
    val before = Maintenance.manifestFileCount(spark, indexDir)
    // vacuum FIRST (reclaims the previous compaction's orphans), so the
    // files this compaction orphans stay on disk until the next run — a
    // reader pinned to the outgoing manifest keeps its files
    Maintenance.vacuumManifested(spark, indexDir)
    Maintenance.replaceManifested(
      Maintenance.readManifested(spark, indexDir)
        .dropDuplicates()
        .repartitionByRange(targetPartitions, col("band"), col("bucket"))
        .sortWithinPartitions(col("band"), col("bucket")),
      indexDir,
      // small row groups are what give min/max skipping sub-file
      // granularity on this narrow 4-column relation; the per-group
      // footer overhead is noise at these widths (measured, SCALE.md r14)
      Map("parquet.block.size" -> rowGroupBytes.toString,
        "parquet.page.size" -> (64 << 10).toString))
    (before, Maintenance.manifestFileCount(spark, indexDir))
  }

  /** Streaming near-duplicate gate — the LLM-pipeline front door that keeps
    * a crawl stream clean AS IT ARRIVES instead of re-deduplicating the
    * corpus after the fact: each micro-batch is MinHash-banded, collided
    * docs (vs the at-rest LSH index OR a smaller-id doc in the same batch)
    * are dropped, survivors land in `outDir` (partitioned by
    * `ingest_batch` — the provenance column that makes replays rewrite
    * instead of duplicate) and their buckets join the manifest-committed
    * index — so batch N+1 dedups against everything batch N admitted.
    * Effectively exactly-once under foreachBatch replay (see
    * [[applyNearDedupBatch]]). Default `minBandsGate = 1` drops on any raw
    * bucket collision (recall-oriented); raise it to require k-of-nBands
    * agreement — the MinHash-estimated-Jaccard verification knob for
    * precision-sensitive pipelines.
    */
  def dedupNearStream(docs: DataFrame, idCol: String, textCol: String,
      indexDir: String, outDir: String, checkpoint: String,
      shingleN: Int = 3, nPerms: Int = 32, nBands: Int = 8,
      minBandsGate: Int = 1,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    docs.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        applyNearDedupBatch(batch.toDF(), idCol, textCol, indexDir, outDir,
          shingleN, nPerms, nBands, batchId, minBandsGate)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()

  /** Streaming corpus-clean front door — the full LLM-ingest funnel AS A
    * STREAM: map-only quality / language / null gates (the same
    * TextFunctions scores the batch funnel uses) ahead of the near-dup
    * gate, so a crawl feed lands already cleaned. Gate order mirrors a
    * production ingest: the cheap codegen'd filters drop first and only
    * plausible docs pay the signature + index-probe cost.
    *
    * Semantic note vs the batch [[graft.operators.Corpus.clean]] on the
    * same corpus — TWO deliberate staging differences:
    *   - the batch funnel computes near-dup pairs over ALL docs (drop
    *     accounting reports each doc's first failing gate), while a staged
    *     ingest never bands docs an earlier gate dropped — a doc whose only
    *     near-dup partner itself failed quality stays IN here;
    *   - near-dup CHAINS split across batches resolve greedily per batch:
    *     with pairs (A,B) and (B,C) but not (A,C), a batch boundary between
    *     B and C keeps C (B was dropped and never indexed), where the
    *     single-pass funnel's drop-every-doc_b rule drops it. Both are the
    *     standard over-drop/under-drop trades of streamed vs global dedup.
    * StreamingSpec proves exact kept-set equality with the STAGED batch
    * composition (per-batch pairs at the same band threshold + the
    * incremental pair relation against what earlier batches admitted).
    */
  def cleanDocStream(docs: DataFrame, idCol: String, textCol: String,
      indexDir: String, outDir: String, checkpoint: String,
      minQuality: Double = 0.3, keepLangs: Set[String] = Set("en"),
      shingleN: Int = 3, nPerms: Int = 32, nBands: Int = 8,
      minBandsGate: Int = 1,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    import graft.functions.TextFunctions
    val gated = docs.where(col(textCol).isNotNull &&
      TextFunctions.qualityScore(col(textCol)) >= minQuality &&
      TextFunctions.predictedLang(col(textCol)).isin(keepLangs.toSeq: _*))
    dedupNearStream(gated, idCol, textCol, indexDir, outDir, checkpoint,
      shingleN, nPerms, nBands, minBandsGate, trigger)
  }

  final case class HhInput(shard: Int, item: String, w: Long)
  final case class HhEntry(item: String, count: Long, err: Long)
  final case class HhState(entries: List[HhEntry], n: Long)
  final case class HhOutput(shard: Int, item: String, count: Long, err: Long,
      shard_total: Long)

  /** Streaming heavy hitters with HARD-BOUNDED state — Space-Saving
    * (Metwally et al.) inside flatMapGroupsWithState.
    *
    * Every other stateful operator here bounds its state by key horizon
    * (watermarks) or by entity count (per-user). A "top tokens on the
    * stream" ask has NEITHER bound: the key domain is the vocabulary, and
    * keying state by token would grow the store with every novel token
    * forever — the classic unbounded-state leak. Space-Saving caps it by
    * construction: each shard keeps exactly `capacity` (item, count, err)
    * entries; a novel item past capacity evicts the minimum-count entry
    * and inherits its count as its error bound. Guarantees per shard:
    * true_freq ≤ count, count − err ≤ true_freq, and every item with
    * true_freq > n/capacity is IN the summary — the same one-sided
    * contract as the batch CMS query, state = O(nShards·capacity)
    * regardless of vocabulary or stream length.
    *
    * Sharding is the parallelism axis (hash(token) % nShards upstream,
    * one summary per shard across the cluster); a reader merges shard
    * summaries by summing per-item counts/errs — item→shard is
    * many-to-one, so cross-shard merge stays guarantee-preserving. Each
    * batch emits the shard's CURRENT summary (Update mode); the latest
    * emission per (shard, item) is the live view. Batch-fold order inside
    * a group is Spark-iterator order (not guaranteed stable), so WHICH
    * tail item holds a summary slot can vary run to run — the guarantees
    * above hold for every order, and the spec asserts exactly those, not
    * slot identity.
    */
  def heavyHittersStream(tokens: Dataset[HhInput],
      capacity: Int): Dataset[HhOutput] = {
    import tokens.sparkSession.implicits._
    require(capacity >= 1, "capacity must be >= 1")
    tokens.groupByKey(_.shard)
      .flatMapGroupsWithState[HhState, HhOutput](
        OutputMode.Update(), GroupStateTimeout.NoTimeout) {
        (shard: Int, rows: Iterator[HhInput], state: GroupState[HhState]) =>
          val st = state.getOption.getOrElse(HhState(Nil, 0L))
          val m = scala.collection.mutable.LinkedHashMap.empty[String, (Long, Long)]
          st.entries.foreach(e => m(e.item) = (e.count, e.err))
          var n = st.n
          rows.foreach { r =>
            n += r.w
            m.get(r.item) match {
              case Some((c, e)) => m(r.item) = (c + r.w, e)
              case None if m.size < capacity => m(r.item) = (r.w, 0L)
              case None =>
                // evict the min-count victim (count, then item — total order)
                val (victim, (vc, _)) = m.minBy { case (it, (c, _)) => (c, it) }
                m.remove(victim)
                m(r.item) = (vc + r.w, vc)
            }
          }
          state.update(HhState(
            m.iterator.map { case (it, (c, e)) => HhEntry(it, c, e) }.toList, n))
          m.iterator.map { case (it, (c, e)) => HhOutput(shard, it, c, e, n) }
      }
  }

  final case class AnomalyInput(event_type: String, event_id: Long,
      value: Double)
  final case class WelfordState(n: Long, mean: Double, m2: Double)
  final case class AnomalyFlag(event_type: String, event_id: Long,
      value: Double, z: Double, n_seen: Long)

  /** In-flight anomaly flagging with O(1) state per key — Welford's
    * one-pass running (n, mean, M2) inside flatMapGroupsWithState: the
    * streaming twin of the batch q_value_anomaly, for the case where
    * "alert on a wild reading" cannot wait for the nightly scan. Each
    * arriving value is scored against the statistics of everything BEFORE
    * it (a spike must not dilute its own z-score by first joining the
    * baseline), then folded in; Welford's update is the numerically
    * stable formulation (naive Σx² cancellation loses all precision once
    * mean² ≫ variance). No warmup, no alert: scores emit only after
    * `minN` prior values, and a zero-variance baseline flags nothing
    * (sd = 0 means the first deviating point has no scale yet).
    *
    * State is three numbers per event type — bounded by the TYPE domain,
    * not stream length, so no watermark eviction is needed (contrast
    * dedupStream, whose key domain is unbounded). Fold order within a
    * batch is Spark-iterator order; the running moments are
    * order-sensitive at the ulp level and early scores depend on what
    * arrived before them — inherent to any online detector, and the spec
    * asserts order-robust properties (extreme flagged, normals not,
    * moments match the batch computation) rather than exact z values.
    */
  def anomalyStream(events: Dataset[AnomalyInput], minN: Long = 30L,
      zThreshold: Double = 3.0): Dataset[AnomalyFlag] = {
    import events.sparkSession.implicits._
    require(minN >= 2, s"minN must be >= 2 (variance needs it), got $minN")
    events.groupByKey(_.event_type)
      .flatMapGroupsWithState[WelfordState, AnomalyFlag](
        OutputMode.Update(), GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[AnomalyInput],
            state: GroupState[WelfordState]) =>
          var st = state.getOption.getOrElse(WelfordState(0L, 0.0, 0.0))
          val out = scala.collection.mutable.ArrayBuffer.empty[AnomalyFlag]
          rows.foreach { r =>
            if (st.n >= minN) {
              val sd = math.sqrt(st.m2 / (st.n - 1).toDouble)
              if (sd > 0.0) {
                val z = math.abs((r.value - st.mean) / sd)
                if (z > zThreshold)
                  out += AnomalyFlag(key, r.event_id, r.value, z, st.n)
              }
            }
            val n1 = st.n + 1
            val d = r.value - st.mean
            val mean1 = st.mean + d / n1.toDouble
            st = WelfordState(n1, mean1, st.m2 + d * (r.value - mean1))
          }
          state.update(st)
          out.iterator
      }
  }

  /** A FROZEN reference distribution for streaming drift monitoring:
    * `cuts` are the reference slice's decile cut points (snapped 1e-6, the
    * q_drift_psi convention), `refCounts` the reference's own per-bin
    * counts (`cuts.length + 1` bins; bin = number of cuts ≤ value).
    * Computed batch-side ONCE via [[Streaming.freezeDriftRef]] and carried
    * into the stream as plan literals — the stream never re-scans or
    * re-joins the reference corpus.
    */
  final case class DriftRef(cuts: Seq[Double], refCounts: Seq[Long]) {
    require(refCounts.length == cuts.length + 1,
      s"need ${cuts.length + 1} bin counts for ${cuts.length} cuts, " +
        s"got ${refCounts.length}")
    def nBins: Int = refCounts.length
    def refTotal: Long = refCounts.sum
  }

  /** Freeze a [[DriftRef]] from a BATCH reference slice: one exact-decile
    * aggregation (9 cut points, snapped 1e-6 exactly like the batch
    * q_drift_psi) + one binning count pass. Runs at reference-release
    * time, never inside the stream.
    */
  def freezeDriftRef(ref: DataFrame, valueCol: String): DriftRef = {
    val snap = (x: Column) => floor(x * lit(1000000) + lit(0.5)) / lit(1000000)
    val fracs = (1 to 9).map(i => i / 10.0).mkString("array(", ",", ")")
    val cuts = ref
      .agg(expr(s"percentile($valueCol, $fracs)").as("vs"))
      .select(transform(col("vs"), v => snap(v)).as("vs"))
      .head().getSeq[Double](0)
    val binExpr = size(filter(
      lit(cuts.toArray),
      c => col(valueCol).cast("double") >= c))
    val counts = ref.groupBy(binExpr.as("bin")).count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    DriftRef(cuts, (0 to cuts.length).map(counts.getOrElse(_, 0L)))
  }

  /** Streaming Population Stability Index — the in-flight twin of the
    * batch q_drift_psi, for "the doc-length mix of what we're ingesting
    * RIGHT NOW has moved off the reference release" (rule of thumb:
    * < 0.1 stable, > 0.25 investigate — the default `alertAt`).
    *
    * Everything about the reference is a broadcast-free PLAN LITERAL: the
    * frozen cuts bin each event with a 9-element `size(filter(...))` in
    * codegen, and the reference probabilities fold into the PSI expression
    * as Scala-computed constants — the stream pays one windowed
    * aggregation, no join, no second corpus scan. Per (window) the agg
    * keeps `nBins` conditional counts in ONE state row (state bounded by
    * live windows × a 10-wide row, watermark-evicted like every sibling);
    * PSI is then a map-side expression over that single row — no
    * bin-level shuffle, no window-over-bins, which is what makes the
    * q_drift_psi shape (10-row window functions) streamable at all.
    * Smoothing matches the batch query exactly: (n + 0.5) / (N + nBins/2)
    * on BOTH sides, so zero-count bins never hit ln(0) and the streaming
    * number is comparable to the batch dashboard's.
    */
  def driftStream(events: DataFrame, ref: DriftRef,
      valueCol: String = "value", tsCol: String = "ts",
      window_ : String = "1 hour", watermark: String = "2 hours",
      alertAt: Double = 0.25): DataFrame = {
    val binExpr = size(filter(
      lit(ref.cuts.toArray),
      c => col(valueCol).cast("double") >= c))
    val nB = ref.nBins
    val counts = (0 until nB).map(i =>
      count(when(binExpr === i, 1)).as(s"__n$i"))
    val agg = events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), window_))
      .agg(counts.head, counts.tail: _*)
    val total = (0 until nB).map(i => col(s"__n$i")).reduce(_ + _)
    val curTotal = total.cast("double") + lit(nB * 0.5)
    val psi = (0 until nB).map { i =>
      // reference probability is a CONSTANT — frozen at release time
      val pr = (ref.refCounts(i) + 0.5) / (ref.refTotal + nB * 0.5)
      val pc = (col(s"__n$i").cast("double") + lit(0.5)) / curTotal
      (pc - lit(pr)) * log(pc / lit(pr))
    }.reduce(_ + _)
    agg.select(
      col("window.start").as("window_start"),
      col("window.end").as("window_end"),
      total.as("n_events"),
      psi.as("psi"),
      (psi > lit(alertAt)).as("alert"))
  }

  /** Runs a streaming aggregation to a named in-memory sink with an
    * AvailableNow trigger (process everything currently on disk, then
    * terminate). Callers should `awaitTermination()`, NOT
    * `processAllAvailable()` — the latter can spin forever against
    * stateful queries that keep scheduling timeout batches.
    */
  def runToMemory(agg: DataFrame, name: String,
      mode: OutputMode = OutputMode.Append()): StreamingQuery =
    agg.writeStream
      .outputMode(mode)
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
}
