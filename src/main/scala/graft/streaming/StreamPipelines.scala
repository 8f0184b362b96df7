package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, ExpiredTimerInfo, ListState, MapState, OutputMode, StatefulProcessor, StreamingQuery, TimeMode, TimerValues, Trigger, TTLConfig, ValueState}
import org.apache.spark.sql.Row
import graft.parse.LogParse
import graft.Pins.FramePin

/** Structured Streaming surface: sources (S4), watermarked tumbling
  * windows (A5), foreachBatch sinks (K1-K5, U2), and the streaming
  * anomaly pipeline — the reference's three jobs re-hosted on one
  * factored parse chain.
  *
  * Design kept from the reference because it is also the idiomatic one:
  * batch logic (aggregation, z-score algebra) lives in pure
  * DataFrame => DataFrame functions and is *reused inside foreachBatch*
  * (reference: ingestor/main.py:84-97, predictions/anomaly_detection.py:17-114).
  * Dropped from the reference: the no-op identity grouped-map
  * (anomaly_detection.py:181-185, a crash-level bug — SURVEY.md §0.1(3));
  * per-batch recomputation of the 7-day baseline (the baseline here is a
  * DataFrame the caller refreshes on its own cadence and is persisted,
  * not re-aggregated every minute — SURVEY.md §7.4 risk 5).
  */
object StreamPipelines {

  /** S4: Kafka source, exactly the reference's options
    * (ingestor/main.py:57-63 — latest offsets, tolerate data loss).
    */
  def kafkaSource(spark: SparkSession, bootstrap: String, topic: String): DataFrame =
    spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("subscribe", topic)
      .option("startingOffsets", "latest")
      .option("failOnDataLoss", "false")
      .load()

  /** File-drop JSON-lines source — the deterministic test/dev stand-in
    * for S1/S4 (each dropped file is a micro-batch of raw log lines).
    * The single `value` column matches the Kafka wire shape so
    * [[LogParse.ingestChain]] serves both.
    */
  def fileLinesSource(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.text(dir)

  /** The ingest pipeline: source → parse/derive chain → sink
    * (reference: ingestor/main.py end-to-end). `sink` is any foreachBatch
    * body — JDBC for parity, parquet for the engine's own storage.
    *
    * `dedupeWindow`: the reference's checkpoint+append-sink combination
    * is at-least-once — replays duplicate rows into raw_logs
    * (SURVEY.md §4.1). Setting a window enables
    * `dropDuplicatesWithinWatermark` on request_id ALONE: each id is
    * delivered once as long as its duplicates arrive within the window
    * — even if a replay carries a perturbed timestamp (round 1 keyed on
    * (id, timestamp), which only caught byte-identical replays). State
    * is bounded by (ids per window), dropped as the watermark passes.
    */
  def ingest(
      raw: DataFrame,
      sink: (DataFrame, Long) => Unit,
      checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime("0 seconds"),
      dedupeWindow: Option[String] = None): StreamingQuery = {
    val parsed = LogParse.ingestChain(raw)
    val deduped = dedupeWindow.fold(parsed) { w =>
      parsed.withWatermark("timestamp", w)
        .dropDuplicatesWithinWatermark("request_id")
    }
    appendStream(deduped, checkpoint, trigger)(sink)
  }

  /** A5 made real: per-key event-time tumbling-window counts with a
    * late-data watermark. The reference wires watermark+window to an
    * identity pass-through; this is the aggregation it implies.
    * State scales with (#keys × windows-in-watermark), not stream length.
    */
  def windowedTraffic(
      parsed: DataFrame,
      keyCol: String,
      windowLen: String = "1 minute",
      watermark: String = "1 minute"): DataFrame =
    parsed
      .withWatermark("timestamp", watermark)
      .groupBy(window(col("timestamp"), windowLen), col(keyCol))
      .agg(count(lit(1)).as("request_count"),
        avg(col("request_time_seconds")).as("avg_request_time"))

  /** Distinct visitors per tumbling window via the HLL++ sketch —
    * `approx_count_distinct` inside a watermarked streaming aggregate.
    * The sketch is the ONLY viable distinct in a stream at scale:
    * exact distinct per window means per-window state linear in
    * distinct keys, where the HLL partial is constant-size, mergeable
    * across micro-batches by the same partial-merge machinery as any
    * algebraic aggregate, and closes with the window at the watermark.
    * The spec bounds the estimate against the known planted
    * cardinality (batch twin of the bound: DedupSpec's HLL error spec).
    */
  def windowedDistinctUsers(
      parsed: DataFrame,
      windowLen: String = "1 minute",
      watermark: String = "1 minute"): DataFrame =
    parsed
      .withWatermark("timestamp", watermark)
      .groupBy(window(col("timestamp"), windowLen))
      .agg(approx_count_distinct(col("remote_addr")).as("approx_users"),
        count(lit(1)).as("n_requests"))

  /** z-score classifier over per-key batch counts vs a historical
    * baseline — the reference's foreachBatch body
    * (predictions/anomaly_detection.py:56-75) as a pure batch function.
    * `hist` must bear (key, avg_requests, stddev_requests); it is small
    * (post-aggregation) → broadcast left join, no shuffle of the batch.
    */
  def zscoreClassify(batchCounts: DataFrame, hist: DataFrame, keyCol: String): DataFrame =
    zscoreLabel(batchCounts.join(broadcast(hist), Seq(keyCol), "left"))

  /** The z-score labeling algebra alone, over a frame already bearing
    * (request_count, avg_requests, stddev_requests) — single-sourced
    * between the streaming join form above and the batch one-pass
    * window form ([[graft.operators.Analytics.zscoreAnomaly]]); NULL
    * history stats mean a never-seen key (the "new IP" rule), however
    * the caller produced them (left join or history-only window).
    */
  def zscoreLabel(joined: DataFrame): DataFrame = {
    val z = when(
      col("stddev_requests").isNotNull && col("stddev_requests") > 0,
      (col("request_count") - col("avg_requests")) / col("stddev_requests"))
      .otherwise(lit(0.0))
    joined
      .withColumn("z_score", z)
      .withColumn("is_anomaly",
        abs(col("z_score")) > 3 ||
          (col("avg_requests").isNull && col("request_count") > 100))
      .withColumn("anomaly_reason",
        when(col("z_score") > 3, lit("Unusually high traffic"))
          .when(col("z_score") < -3, lit("Unusually low traffic"))
          .when(col("avg_requests").isNull && col("request_count") > 100,
            lit("New IP with high traffic"))
          .otherwise(lit(null).cast("string")))
  }

  /** The streaming anomaly pipeline (reference:
    * predictions/anomaly_detection.py): parsed stream → 1-minute
    * trigger → foreachBatch{ per-key counts → z-score vs baseline →
    * sink anomalous rows }. The baseline DataFrame is computed ONCE by
    * the caller (and should be persisted) — not re-aggregated per batch.
    */
  def anomalyPipeline(
      parsed: DataFrame,
      histBaseline: DataFrame,
      sink: (DataFrame, Long) => Unit,
      checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime("1 minute")): StreamingQuery =
    parsed.writeStream
      .outputMode(OutputMode.Update)
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        // no batch.isEmpty pre-check: it costs a scheduled job on EVERY
        // batch to save work only on idle-trigger empties — the sinks
        // guard emptiness themselves (and pay it only when writing)
        val counts = batch.groupBy(col("remote_addr"))
          .agg(count(lit(1)).as("request_count"),
            avg(col("request_time_seconds")).as("avg_request_time"))
        val scored = zscoreClassify(
          counts.select(col("remote_addr"), col("request_count")),
          histBaseline, "remote_addr")
        sink(scored.filter(col("is_anomaly")), id)
      }
      .start()

  /** K1-K3: foreachBatch JDBC append sink (the reference's only sink
    * shape). Empty-batch short-circuit via df.isEmpty — NOT
    * rdd.isEmpty, which forces RDD conversion (reference bug class,
    * SURVEY.md §4.2).
    */
  def jdbcAppendSink(url: String, table: String,
      props: Map[String, String] = Map.empty): (DataFrame, Long) => Unit =
    (df, _) =>
      if (!df.isEmpty) {
        val w = df.write.format("jdbc")
          .option("url", url).option("dbtable", table)
        props.foldLeft(w) { case (acc, (k, v)) => acc.option(k, v) }
          .mode(SaveMode.Append).save()
      }

  /** Parquet append sink — the engine's own at-rest format (columnar,
    * date-partitionable; replaces the reference's Postgres row tables
    * per SURVEY.md §1.4).
    */
  def parquetAppendSink(path: String): (DataFrame, Long) => Unit =
    (df, _) => if (!df.isEmpty) df.write.mode(SaveMode.Append).parquet(path)

  /** S3: Kafka sink — JSON-serialize every column into the Kafka value
    * (reference: producer/main.py:71 json.dumps + send). Works for both
    * `write` and `writeStream` callers via the returned value column.
    */
  def toKafkaValue(df: DataFrame): DataFrame =
    df.select(to_json(struct(df.columns.toIndexedSeq.map(col): _*)).as("value"))

  def kafkaStreamSink(df: DataFrame, bootstrap: String, topic: String,
      checkpoint: String): DataStreamWriter[Row] =
    toKafkaValue(df).writeStream
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("topic", topic)
      .option("checkpointLocation", checkpoint)

  /** Stream-stream interval join: every request joined to the 5xx
    * errors its client produced within the next `window` — the
    * streaming counterpart of [[graft.operators.Analytics.intervalJoin]].
    * Both sides carry watermarks and the join condition bounds event
    * time on both ends, so each side's state buffer is trimmed to the
    * window as watermarks advance (unbounded state otherwise).
    */
  def requestsWithSubsequentErrors(
      requests: DataFrame, errors: DataFrame,
      window: String = "5 minutes"): DataFrame = {
    val reqs = requests
      .select(col("request_id"), col("remote_addr"), col("timestamp"))
      .withWatermark("timestamp", window)
    val errs = errors
      .filter(col("status_code") >= 500)
      .select(col("remote_addr").as("err_addr"),
        col("timestamp").as("err_ts"), col("status_code").as("err_status"))
      .withWatermark("err_ts", window)
    reqs.join(errs,
      col("remote_addr") === col("err_addr") &&
        col("err_ts") >= col("timestamp") &&
        col("err_ts") <= col("timestamp") + expr(s"INTERVAL $window"))
      .select(col("request_id"), col("remote_addr"), col("timestamp"),
        col("err_ts"), col("err_status"))
  }

  /** Custom keyed state (the capability slot the reference fills with
    * foreachBatch-only processing — SURVEY.md §2.8): running per-key
    * totals via mapGroupsWithState. State is one (count, sum) pair per
    * key — bounded by key cardinality, not stream length.
    */
  def runningTrafficTotals(
      parsed: DataFrame): org.apache.spark.sql.Dataset[(String, Long, Double)] = {
    import parsed.sparkSession.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    parsed
      .select(col("remote_addr"),
        coalesce(col("request_time_seconds"), lit(0.0)).as("rt"))
      .as[(String, Double)]
      .groupByKey(_._1)
      .mapGroupsWithState[(Long, Double), (String, Long, Double)](
        GroupStateTimeout.NoTimeout()) {
        case (key, rows, state) =>
          val (n0, s0) = state.getOption.getOrElse((0L, 0.0))
          var n = n0; var s = s0
          rows.foreach { r => n += 1; s += r._2 }
          state.update((n, s))
          (key, n, s)
      }
  }

  /** [[runningTrafficTotals]] on the Spark 4 `transformWithState` API —
    * the successor to mapGroupsWithState the reference's
    * foreachBatch-era design predates (SURVEY.md §2.8). Same running
    * (count, sum) per key, but state is a named, schema'd ValueState in
    * the store itself (RocksDB provider required): composable with
    * ListState/MapState/timers/TTL, and evolvable without a full
    * checkpoint rebuild — the properties that matter once state is
    * hundreds of GB across a fleet.
    */
  def runningTrafficTotalsTws(
      parsed: DataFrame): org.apache.spark.sql.Dataset[(String, Long, Double)] = {
    import parsed.sparkSession.implicits._
    parsed
      .select(col("remote_addr"),
        coalesce(col("request_time_seconds"), lit(0.0)).as("rt"))
      .as[(String, Double)]
      .groupByKey(_._1)
      .transformWithState(new RunningTotalsProcessor,
        TimeMode.None(), OutputMode.Update())
  }

  /** Per-client endpoint-session profiles on the full transformWithState
    * state surface: ListState (the hit trail), MapState (endpoint →
    * count), and an EVENT-TIME TIMER that closes the session and evicts
    * all of the key's state once the watermark passes last-seen + gap —
    * the state-lifecycle capabilities (beyond [[RunningTotalsProcessor]]'s
    * single ValueState) that keep keyed state bounded when the key space
    * is open-ended (IPs churn forever; sessions must age out).
    *
    * Input: (remote_addr, endpoint, timestamp) with an event-time
    * watermark (applied here). Output: an "update" row per key per batch
    * with the session-so-far profile, and a final "closed" row emitted
    * from the timer when the session ages out.
    */
  def endpointSessions(
      events: DataFrame, gapMs: Long = 300000L): org.apache.spark.sql.Dataset[EndpointSessionEvent] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("timestamp", s"$gapMs milliseconds")
      .select(col("remote_addr"), col("endpoint"), col("timestamp"))
      .as[(String, String, java.sql.Timestamp)]
      .groupByKey(_._1)
      .transformWithState(new EndpointSessionsProcessor(gapMs),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Streaming ordered conversion funnel — the transformWithState twin
    * of [[graft.operators.Analytics.funnel]] (VERDICT r6 item 7): per
    * user, the earliest view, the earliest click at-or-after that view,
    * the earliest purchase at-or-after that click, maintained
    * incrementally as events arrive OUT OF ORDER across micro-batches
    * and emitted as one update row per touched user per batch. On the
    * same (un-dropped) data the final update per user equals the batch
    * twin's row exactly — StreamingSpec asserts it cross-batch.
    *
    * The interesting part is keeping state BOUNDED while staying
    * revisable: a late view can lower the funnel's anchor, which can
    * re-validate earlier clicks, which can re-validate earlier
    * purchases — so stage answers are not monotone facts, and naive
    * state is "every event ever seen". The watermark gives the bound.
    * With W the current watermark and V the min view seen, no future
    * arrival has event time < W, so the anchor can never drop below
    * L = min(V, W); therefore
    *   - clicks below L can never satisfy `click >= view'` again → prune;
    *   - clicks above the CURRENT click answer can never beat a future
    *     answer (future anchors are <= V, so future answers are <= the
    *     current one) → prune;
    *   - purchases below L can never follow any future click answer
    *     (all click answers are >= L) → prune; purchases above the
    *     current purchase answer likewise → prune.
    * What survives per key is the min view plus the click/purchase
    * candidates inside [L, current answer] — a window the advancing
    * watermark keeps squeezing. At 100 TB-scale streams this is the
    * difference between state linear in traffic and state bounded by
    * the lateness horizon.
    */
  def streamingFunnel(
      events: DataFrame,
      watermarkDelay: String = "1 hour"): org.apache.spark.sql.Dataset[FunnelUpdate] = {
    import events.sparkSession.implicits._
    events
      .select(col("user_id"), col("event_type"), col("ts"))
      .filter(col("event_type").isin("view", "click", "purchase"))
      .withWatermark("ts", watermarkDelay)
      .as[(Long, String, java.sql.Timestamp)]
      .groupByKey(_._1)
      .transformWithState(new StreamingFunnelProcessor,
        TimeMode.EventTime(), OutputMode.Update())
  }

  /** Streaming as-of (temporal) join — the transformWithState twin of
    * [[graft.operators.TrainingPrep.asOfJoin]]: for every `purchase`,
    * the latest `click` by the same user at-or-before the purchase
    * timestamp, maintained incrementally as BOTH sides arrive out of
    * order across micro-batches. Each batch emits one update row per
    * pending purchase of every touched user; on the same (un-dropped)
    * events the latest update per purchase equals the batch twin's row
    * exactly (StreamingSpec asserts it cross-batch).
    *
    * State boundedness is the point (stream-stream as-of cannot be a
    * Spark stream join: the "latest at-or-before" predicate is an
    * aggregation over an unbounded past, not an equi/interval
    * condition). With W the watermark, no future arrival has event
    * time < W, so:
    *   - among clicks BELOW W only the maximum matters — every pending
    *     or future purchase has ts >= W > those clicks, and the max
    *     dominates the rest → compressed into ONE value per key
    *     (`max_old_click`);
    *   - clicks >= W stay as candidates (a purchase between two of
    *     them may still arrive) → the lateness-horizon list;
    *   - a purchase with ts < W can never gain a new click (future
    *     clicks are >= W > ts, all past clicks already seen) → emit
    *     final, drop from state.
    * Per key the state is one long + two watermark-squeezed lists:
    * bounded by the lateness horizon, not by stream length — the same
    * argument as [[streamingFunnel]], applied to both join sides. An
    * event-time timer per key (earliest pending purchase + 1 ms)
    * finalizes KEYS THAT GO QUIET too: emission and state compression
    * never depend on the key receiving more input.
    */
  def streamingAsOf(
      events: DataFrame,
      watermarkDelay: String = "1 hour"): org.apache.spark.sql.Dataset[AsOfUpdate] = {
    import events.sparkSession.implicits._
    events
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
      .filter(col("event_type").isin("click", "purchase"))
      .withWatermark("ts", watermarkDelay)
      .as[(Long, Long, String, java.sql.Timestamp)]
      .groupByKey(_._2)
      .transformWithState(new StreamingAsOfProcessor,
        TimeMode.EventTime(), OutputMode.Update())
  }

  /** Streaming heavy hitters — the transformWithState twin of the batch
    * Space-Saving aggregate ([[graft.functions.SketchFunctions]]):
    * continuous top talkers over an unbounded stream with state that
    * never grows past `shards × capacity` counters, regardless of key
    * cardinality or stream length.
    *
    * Sharding is the scale mechanism: keys hash-partition into
    * `shards` disjoint substreams, each shard key owns ONE
    * [[graft.functions.SpaceSavingState]] sketch (primitive arrays, the
    * same state the batch aggregate uses per partition), and shards
    * process in parallel across executors. Because the shards'
    * key spaces are disjoint, every item's full stream count lands in
    * exactly one sketch, so the per-shard (est, err) bounds
    * (`est ≥ true ≥ est − err`) survive the consumer-side
    * `mergeWith` that produces the global summary — the streaming form
    * of the batch aggregate's partial→merge contract, with micro-batches
    * in place of partitions. Each batch emits the touched shards'
    * full summaries (≤ capacity rows per shard, `seq`-stamped so the
    * latest summary per shard wins downstream).
    */
  def streamingHeavyHitters(
      events: DataFrame, shards: Int = 8,
      capacity: Int = 64): org.apache.spark.sql.Dataset[HeavyHitterUpdate] = {
    import events.sparkSession.implicits._
    events
      .select(col("user_id"),
        pmod(xxhash64(col("user_id")), lit(shards)).cast("int").as("shard"))
      .as[(Long, Int)]
      .groupByKey(_._2)
      .transformWithState(new ShardedSpaceSavingProcessor(capacity),
        TimeMode.None(), OutputMode.Update())
  }

  /** Streaming near-duplicate suppression — the streaming counterpart
    * of [[graft.operators.Dedup.minhashDedup]]: documents arriving on a
    * stream are checked against everything seen so far WITHOUT holding
    * the corpus, by keying bounded state on MinHash band buckets.
    *
    * Per document (stateless, the same fused native expressions as the
    * batch index): 32 minhash signatures + the exact sorted gram set,
    * banded 16×2 into `band:key` bucket keys by the batch index's own
    * [[graft.operators.Dedup.bandKeyArray]]. Then one stateful stage keyed by
    * bucket: each bucket's ValueState holds the FIRST document seen
    * there (its id + gram set); every later arrival in the bucket is
    * verified by exact merge-intersect Jaccard against that
    * representative and emitted as a hit when ≥ the threshold. A doc is
    * a near-duplicate iff ANY of its 16 buckets emits a hit (dedupe
    * hits downstream on doc_id).
    *
    * Scale/state posture: state is one (long, gram-array) per DISTINCT
    * bucket — linear in distinct content, not in stream length (every
    * member of a dup cluster shares buckets with its representative and
    * adds no state there), TTL-boundable via `ttl` (RocksDB-native
    * expiry, the fleet requirement for an open-ended key space). TTL
    * trades recall for that bound: once a bucket's representative
    * expires, later duplicates of the same content re-anchor as fresh
    * representatives and pass unflagged — size the TTL against the
    * dedup horizon you actually need.
    * Verification is exact, so flagged pairs are true near-dups at the
    * threshold (the batch operator's precision invariant); recall
    * follows the same 16×2 banding curve (~0.99 candidate probability
    * at J=0.5). Greedy first-seen representatives replace the batch
    * operator's min-label canonical ids — arrival order decides which
    * cluster member anchors, the inherent streaming tradeoff.
    */
  def streamingNearDedup(
      docs: DataFrame, threshold: Double = 0.5,
      ttl: Option[java.time.Duration] = None): org.apache.spark.sql.Dataset[NearDupHit] = {
    import docs.sparkSession.implicits._
    docs
      .select(col("doc_id"),
        graft.functions.TextHashFunctions.minhashSigs(col("text"),
          graft.operators.Dedup.MinhashH).as("sigs"),
        graft.functions.TextHashFunctions.gramSet(col("text")).as("grams"))
      .filter(size(col("sigs")) > 0)
      // the batch index's banding; "band:key" is the state key
      .select(col("doc_id"), col("grams"),
        posexplode(graft.operators.Dedup.bandKeyArray).as(Seq("band", "key")))
      .select(col("doc_id"), col("grams"), concat_ws(":", col("band"), col("key")).as("bucket"))
      .as[(Long, Array[Long], String)]
      .groupByKey(_._3)
      .transformWithState(new BucketRepProcessor(threshold, ttl),
        if (ttl.isDefined) TimeMode.ProcessingTime() else TimeMode.None(),
        OutputMode.Append())
  }

  private type Sink = (DataFrame, Long) => Unit

  /** Starts `df` as an append-mode foreachBatch query with its
    * checkpoint and trigger — the wiring every append stream here
    * shares. `body` is the whole per-batch work, emptiness check
    * included where the stream wants one.
    */
  private def appendStream(df: DataFrame, checkpoint: String, trigger: Trigger)(
      body: Sink): StreamingQuery =
    df.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch(body)
      .start()

  /** Pairs an ANN drift sink with the frozen at-rest cell stats it
    * compares against. A mis-wired stream (a drift sink without stats)
    * fails here, at wiring time, rather than starting cleanly and
    * dying on its first non-empty batch.
    */
  private def annDriftWiring(what: String, driftSink: Option[Sink],
      atRestStats: Option[DataFrame]): Option[(Sink, DataFrame)] = {
    require(driftSink.isEmpty || atRestStats.nonEmpty,
      s"$what requires atRestStats (AnnMaintain.atRestCellStats at wiring time)")
    driftSink.zip(atRestStats)
  }

  /** Admission stage of one corpus micro-batch: the admitted rows of
    * `admitIn` with their token accounting
    * ([[graft.operators.TrainingPrep.deltaAdmissionChain]] over the
    * batch's signature index `idx`, whose rows are fixed before the
    * caller appends to the index) go to `sink`. Then the
    * per-lang tokenizer-drift flags of `docs` under the frozen BPE
    * merges and unigram pieces — the same drift bodies and retrain
    * rules as the batch audits. Every artifact is frozen, so the stage
    * holds no state and its cost is ∝ batch words.
    */
  private def admissionStage(sfDir: String, admitIn: DataFrame, docs: DataFrame,
      idx: DataFrame, id: Long, sink: Sink, driftSink: Option[Sink],
      uniDriftSink: Option[Sink]): Unit = {
    val s = docs.sparkSession
    sink(graft.operators.TrainingPrep.deltaAdmissionChain(s, sfDir, admitIn, idx), id)
    driftSink.foreach(ds =>
      ds(graft.operators.BpeTrain.vocabDriftOf(s, sfDir, docs), id))
    uniDriftSink.foreach(ds =>
      ds(graft.operators.UnigramLm.unigramDriftOf(s, sfDir, docs), id))
  }

  /** Split stage of one corpus micro-batch of (doc_id, text) `docs`
    * with its signature index `idx` (the caller derives it once and
    * shares it): the verified probe pairs of `idx` against the bucketed
    * index are pinned once, then
    *   1. split-bridge flags — batch docs whose verified anchors span
    *      ≥2 at-rest clusters — computed from those pairs BEFORE the
    *      fold grows the state;
    *   2. the assignment ([[graft.operators.Dedup.splitAssignDeltaCore]])
    *      from the same pairs against the current split table, pinned
    *      once and sunk;
    *   3. the fold of the assignments into the split table and the
    *      append of the batch's dedup-index rows from `idx`.
    * Replay guard: Structured Streaming delivers a micro-batch at least
    * once, and a crash between the sink and the appends re-delivers it
    * too, so every at-rest append is guarded by the target table's own
    * membership (an anti-join on its key) — the split fold here, each
    * of the index's three tables inside `appendDedupIndex` — and a
    * redelivery re-appends exactly the tables it missed.
    */
  private def splitStage(docs: DataFrame, idx: DataFrame, prefix: String, id: Long,
      sink: Sink, driftSink: Option[Sink]): Unit = {
    val s = docs.sparkSession
    val pairs = graft.operators.Dedup.verifiedProbePairs(s, idx, prefix)
      .pin("verified probe pairs of one micro-batch")
    driftSink.foreach(ds =>
      ds(graft.operators.Dedup.splitBridgeMonitor(s, pairs, prefix), id))
    val assigned = graft.operators.Dedup.splitAssignDeltaCore(
        docs, idx, pairs, s.table(s"${prefix}_split"))
      .pin("one row per micro-batch doc")
    sink(assigned, id)
    val seenSplit = s.table(s"${prefix}_split").select(col("doc_id"))
    graft.operators.Dedup.foldSplitAssign(s,
      assigned.join(seenSplit, Seq("doc_id"), "left_anti"), prefix)
    graft.operators.Dedup.appendDedupIndex(docs, idx, prefix)
  }

  /** ANN stage of one micro-batch of (vec_id, v) `vecs`: the rows
    * encoded under the FROZEN quantizers
    * ([[graft.operators.AnnMaintain.encodeBatch]]) go to `sink`, then —
    * when wired — the batch's per-cell occupancy/distance drift flags
    * against the frozen at-rest stats, through the same driftReport
    * tail as the batch audit. No streaming state; cost ∝ batch rows.
    */
  private def annStage(vecs: DataFrame, centroids: DataFrame, codebooks: DataFrame,
      id: Long, sink: Sink, drift: Option[(Sink, DataFrame)]): Unit = {
    sink(graft.operators.AnnMaintain.encodeBatch(vecs, centroids, codebooks), id)
    drift.foreach { case (ds, stats) =>
      ds(graft.operators.AnnMaintain.driftReportFromStats(stats, vecs, centroids), id)
    }
  }

  /** Streaming twin of [[graft.operators.AnnMaintain.annIndexAppend]] —
    * continuous inverted-list maintenance: each micro-batch of newly
    * arrived embeddings (vec_id, v array<double>) runs [[annStage]],
    * and the encoded rows go to the sink (the at-rest inverted-list
    * appender). The quantizers are plan constants, so state is EMPTY —
    * per-batch cost ∝ batch rows, the same
    * [[graft.operators.AnnMaintain.encodeBatch]] core as the batch
    * query, and exactly how a production vector pipeline keeps its ANN
    * index fresh between rebuilds. `driftSink` requires `atRestStats`
    * (computed once at wiring time); without them the call fails
    * before the stream starts.
    */
  def streamingAnnAppend(
      vecs: DataFrame,
      centroids: DataFrame,
      codebooks: DataFrame,
      sink: (DataFrame, Long) => Unit,
      checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime("0 seconds"),
      driftSink: Option[(DataFrame, Long) => Unit] = None,
      atRestStats: Option[DataFrame] = None): StreamingQuery = {
    val drift = annDriftWiring("streamingAnnAppend: driftSink", driftSink, atRestStats)
    appendStream(vecs, checkpoint, trigger) { (batch, id) =>
      if (!batch.isEmpty) annStage(batch, centroids, codebooks, id, sink, drift)
    }
  }

  /** Streaming twin of [[graft.operators.TrainingPrep.corpusPrepDelta]]
    * — incremental corpus ADMISSION at ingest time: each micro-batch
    * of (doc_id, text, lang) documents runs [[admissionStage]], the
    * FULL admission gate chain — stateless quality gate, exact-dup drop
    * vs the bucketed digest sidecar, near-dup probe vs the bucketed
    * minhash index, benchmark 5-gram decontamination, BPE token
    * accounting under the frozen merges — and the admitted rows with
    * their token accounting go to the sink. The chain body is SHARED
    * with the batch query ([[graft.operators.TrainingPrep
    * .deltaAdmissionChain]]), so the served path cannot drift from the
    * oracle-verified one, and every gate probes FROZEN at-rest
    * artifacts (the [[streamingAnnAppend]] zero-state stance) — batch
    * boundaries cannot change a verdict, pinned adversarially by
    * StreamingSpec. Callers run
    * [[graft.operators.TrainingPrep.ensureDeltaArtifacts]] ONCE at
    * wiring time; per-batch cost ∝ batch rows.
    */
  def streamingCorpusAdmission(
      docs: DataFrame,
      sfDir: String,
      sink: (DataFrame, Long) => Unit,
      checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime("0 seconds"),
      driftSink: Option[(DataFrame, Long) => Unit] = None,
      uniDriftSink: Option[(DataFrame, Long) => Unit] = None): StreamingQuery =
    appendStream(docs, checkpoint, trigger) { (batch, id) =>
      if (!batch.isEmpty)
        admissionStage(sfDir, batch, batch, graft.operators.Dedup.minhashIndexOf(batch),
          id, sink, driftSink, uniDriftSink)
    }

  /** Streaming twin of [[graft.operators.Dedup.splitAssignDelta2]] —
    * leakage-free split assignment at INGEST time, with the
    * generation loop run per micro-batch ([[splitStage]]): each batch
    * of (doc_id, text) documents is assigned against the CURRENT
    * stored split table and bucketed dedup index (shared
    * [[graft.operators.Dedup.splitAssignDeltaCore]] body — the served
    * path cannot drift from the oracle-verified one), the assignments
    * go to the sink, and THEN the batch's rows are folded into the
    * split table ([[graft.operators.Dedup.foldSplitAssign]]) and its
    * index rows appended — so a later batch's paraphrase of an
    * earlier batch's document inherits the split that document was
    * assigned, exactly the generation-2 property the batch query
    * proves once and this twin repeats per batch. Unlike the
    * admission twins this one is deliberately STATEFUL-at-rest (the
    * split table and index grow per batch — the operational artifacts
    * a deployment stores anyway); per-batch cost stays ∝ batch
    * because both grow by appends into bucketed tables that never
    * reshuffle. Callers prepare the at-rest state once at wiring time
    * ([[graft.operators.Dedup.writeDedupIndex]] +
    * [[graft.operators.Dedup.writeSplitTable]]); StreamingSpec pins
    * cross-batch inheritance adversarially and batch-path equality
    * against [[graft.operators.Dedup.splitAssignDelta2]] on the same
    * slices.
    */
  def streamingSplitAssign(
      docs: DataFrame,
      prefix: String,
      sink: (DataFrame, Long) => Unit,
      checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime("0 seconds"),
      driftSink: Option[(DataFrame, Long) => Unit] = None): StreamingQuery =
    appendStream(docs, checkpoint, trigger) { (batch, id) =>
      if (!batch.isEmpty) {
        val docsB = batch.select(col("doc_id"), col("text"))
        splitStage(docsB, graft.operators.Dedup.minhashIndexOf(docsB), prefix, id,
          sink, driftSink)
      }
    }

  /** ONE production ingest: each micro-batch of (doc_id, text, lang, v)
    * documents runs — in dependency order inside a SINGLE foreachBatch
    * body — the three stages a deployment otherwise wires as separate
    * streams: corpus ADMISSION ([[admissionStage]]), leakage-free
    * SPLIT assignment with its at-rest fold + dedup-index append
    * ([[splitStage]]), and ANN inverted-list maintenance
    * ([[annStage]]), plus every per-batch drift flag (tokenizer ×2,
    * split-bridge, ANN cell, and — when the gate is wired — the
    * Moore-Lewis n_oov share). The standalone streams call the SAME
    * stage functions, so unified-vs-separate equality is structural
    * (StreamingSpec pins it on identical slices); one signature index
    * per batch, derived here from the pinned batch and shared by the
    * admission probe, the split probe and the index append; one append
    * transaction per at-rest table per batch; split-bridge flags are
    * computed BEFORE the fold grows the state; the index appends keep
    * their per-table replay guards, so at-least-once redelivery is a
    * no-op here too.
    *
    * Optional stage 0: the frozen-LM Moore-Lewis admission gate.
    * `mlGateSink` receives each batch's
    * [[graft.operators.CorpusAudit.mooreLewisGateBatch]] verdicts
    * (scored against the `${prefix}_ml_llr` / `${prefix}_ml_unk`
    * sidecar [[graft.operators.CorpusAudit.writeMooreLewisLm]] pinned
    * at wiring time — the minhash-index stance), `mlDriftSink` the
    * one-row n_oov monitor, and gate-REJECTED docs are withheld from
    * the admission chain ONLY when `mlGateSink` is wired — wiring just
    * `mlDriftSink` is SHADOW mode: the batch is scored and the monitor
    * emitted, but nothing is withheld (how a deployment observes a new
    * gate before enforcing it; StreamingSpec pins both modes). The gate
    * is stateless (frozen artifacts), so redelivery re-derives
    * identical verdicts and the crash-recovery property is unchanged
    * (StreamingSpec's injected-crash spec runs with the gate wired).
    *
    * `mlGateRule` picks the gate's keep rule:
    * `threshold` (the sign rule — [[graft.operators.CorpusAudit.mooreLewisDelta]]'s
    * form) or `budget` — each batch cut at the FROZEN at-rest cutpoint
    * `${prefix}_ml_cut` that [[graft.operators.CorpusAudit.writeMooreLewisLm]]
    * pins beside the LMs ([[graft.operators.CorpusAudit.mooreLewisBudget]]'s
    * equal-budget form; a micro-batch cannot compute a global quantile,
    * so the cutpoint is a wiring-time constant like the LMs). Under the
    * budget rule the monitor's `kept_share_micro` is the staleness
    * signal: the frozen cutpoint keeps ~20% of at-rest candidates by
    * construction, so sustained batch drift from ~200000 micros means
    * the corpus moved and the sidecar wants re-pinning.
    *
    * Withholding scopes to the ADMISSION chain only, by design: the
    * split and ANN stages still fold every batch doc into the split
    * table, dedup grams/digests index, and ANN inverted lists, so
    * rejected documents leave at-rest footprints.
    * That is what keeps a rejected doc VISIBLE to the engine — later
    * near-dup probes, leakage checks, and ANN queries still see it, and
    * a re-adjudication after a sidecar re-pin needs no re-ingest. The
    * gate controls what enters the training corpus, not what the
    * pipeline remembers having seen.
    *
    * Mis-wiring fails at start, never on a later batch: an ANN drift
    * sink without `atRestStats`, a gate without its pinned sidecar, an
    * unknown rule, or the budget rule without a valid pinned cutpoint.
    *
    * State posture: all stages probe frozen-or-bucketed at-rest
    * artifacts; streaming state is EMPTY and per-batch cost stays
    * ∝ batch at any corpus size.
    */
  def streamingCorpusIngest(
      docs: DataFrame,
      sfDir: String,
      prefix: String,
      centroids: DataFrame,
      codebooks: DataFrame,
      admitSink: (DataFrame, Long) => Unit,
      splitSink: (DataFrame, Long) => Unit,
      annSink: (DataFrame, Long) => Unit,
      checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime("0 seconds"),
      vocabDriftSink: Option[(DataFrame, Long) => Unit] = None,
      uniDriftSink: Option[(DataFrame, Long) => Unit] = None,
      splitDriftSink: Option[(DataFrame, Long) => Unit] = None,
      annDriftSink: Option[(DataFrame, Long) => Unit] = None,
      atRestStats: Option[DataFrame] = None,
      mlGateSink: Option[(DataFrame, Long) => Unit] = None,
      mlDriftSink: Option[(DataFrame, Long) => Unit] = None,
      mlGateRule: String = "threshold"): StreamingQuery = {
    val annDrift = annDriftWiring("streamingCorpusIngest: annDriftSink",
      annDriftSink, atRestStats)
    require(mlGateSink.isEmpty && mlDriftSink.isEmpty ||
      (docs.sparkSession.catalog.tableExists(s"${prefix}_ml_llr") &&
        docs.sparkSession.catalog.tableExists(s"${prefix}_ml_unk")),
      s"streamingCorpusIngest: mlGateSink/mlDriftSink require the pinned " +
        s"Moore-Lewis sidecar (CorpusAudit.writeMooreLewisLm('$prefix') " +
        s"at wiring time)")
    require(mlGateRule == "threshold" || mlGateRule == "budget",
      s"streamingCorpusIngest: unknown mlGateRule '$mlGateRule' " +
        s"(threshold | budget)")
    val mlGated = mlGateSink.nonEmpty || mlDriftSink.nonEmpty
    require(!mlGated || mlGateRule == "threshold" ||
      docs.sparkSession.catalog.tableExists(s"${prefix}_ml_cut"),
      s"streamingCorpusIngest: mlGateRule='budget' requires the pinned " +
        s"cutpoint table ${prefix}_ml_cut (re-pin with the current " +
        s"CorpusAudit.writeMooreLewisLm('$prefix'))")
    // the frozen cutpoint is a wiring-time scalar like the LM tables,
    // read ONCE through the validating helper (a NULL pinned cut — a
    // percentile over an empty at-rest candidate set — refuses to wire
    // with a re-pin message), then threaded into every per-batch
    // gateBatch call so verdicts and monitor judge against the SAME
    // value even if the sidecar is re-pinned while the stream runs
    val mlCut: Option[Double] =
      if (mlGated && mlGateRule == "budget")
        Some(graft.operators.CorpusAudit.mooreLewisCut(docs.sparkSession, prefix))
      else None
    appendStream(docs, checkpoint, trigger) { (batch, id) =>
      if (!batch.isEmpty) {
        val s = batch.sparkSession
        // one materialization of the batch — the stages and up to
        // five drift flags all re-read it (bound: micro-batch rows) —
        // and one signature index of it, which admission and split share
        val b = batch.pin("one micro-batch of ingest docs")
        val docsB = b.select(col("doc_id"), col("text"), col("lang"))
        val idx = graft.operators.Dedup.minhashIndexOf(docsB)
        // 0. frozen-LM admission gate (optional; stateless — frozen
        //    artifacts, so a replayed batch re-derives identical
        //    verdicts): score candidates against the pinned sidecar,
        //    emit verdicts + the n_oov monitor row, and — only when
        //    mlGateSink is wired (enforcement; mlDriftSink alone is
        //    shadow mode) — withhold the REJECTED docs from the
        //    admission chain. Docs the gate has no verdict for
        //    (`en` — in-domain by definition — or wordless) pass
        //    through: no evidence is not rejection, and the
        //    downstream quality gates still see them.
        val admitIn = if (!mlGated) docsB else {
          val scored = graft.operators.CorpusAudit
            .mooreLewisGateBatch(s,
              b.select(col("doc_id"), col("lang"), col("text")), prefix,
              rule = mlGateRule, cut = mlCut)
            .pin("one row per scored batch candidate")
          mlGateSink.foreach(gs => gs(scored, id))
          // the monitor's attribution rides the verdict rows'
          // score_keep column — nothing to pair
          mlDriftSink.foreach(ds =>
            ds(graft.operators.CorpusAudit.mooreLewisGateMonitor(scored), id))
          if (mlGateSink.isEmpty) docsB
          else docsB.join(scored.filter(!col("keep")).select(col("doc_id")),
            Seq("doc_id"), "left_anti")
        }
        admissionStage(sfDir, admitIn, docsB, idx, id, admitSink, vocabDriftSink,
          uniDriftSink)
        splitStage(b.select(col("doc_id"), col("text")), idx, prefix, id,
          splitSink, splitDriftSink)
        annStage(b.select(col("doc_id").as("vec_id"), col("v")),
          centroids, codebooks, id, annSink, annDrift)
      }
    }
  }

  /** Streaming twin of [[graft.operators.Retrieval.bm25Indexed]] — the
    * retrieval SERVING path: a stream of (query_id, term) rows is
    * probed per micro-batch against the STATIC prebuilt inverted index
    * (postings/termStats/stats are plan constants; streaming state is
    * EMPTY). Each batch's queries receive exactly the batch probe's
    * top-k (shared [[graft.operators.Retrieval.bm25ProbeBatch]] unit,
    * so the paths cannot drift — StreamingSpec pins batch-boundary
    * invariance). Per-batch cost ∝ the batch's posting lists; nothing
    * scales with stream length.
    */
  def streamingBm25Probe(
      queries: DataFrame,
      postings: DataFrame,
      termStats: DataFrame,
      stats: DataFrame,
      sink: (DataFrame, Long) => Unit,
      checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime("0 seconds")): StreamingQuery =
    appendStream(queries, checkpoint, trigger) { (batch, id) =>
      sink(graft.operators.Retrieval.bm25ProbeBatch(
        batch, postings, termStats, stats), id)
    }

  /** Streaming twin of [[graft.operators.ScaleOps.ngramDecontaminate]]
    * — benchmark decontamination AT INGEST TIME, before a contaminated
    * document ever reaches the at-rest corpus. Each micro-batch of
    * (doc_id, text) is probed against the FIXED benchmark gram set
    * (`benchGrams`, one `g` column — held-out suites are fixed-size,
    * so it broadcasts as a plan constant; streaming state is EMPTY),
    * and each contaminated doc goes to the sink with its hit counts —
    * the same (doc_id, n_grams_hit, n_positions) verdict as the batch
    * gate, so the two paths are interchangeable downstream. Per-batch
    * cost ∝ batch grams; nothing scales with stream length.
    */
  def streamingDecontaminate(
      docs: DataFrame,
      benchGrams: DataFrame,
      sink: (DataFrame, Long) => Unit,
      checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime("0 seconds")): StreamingQuery =
    appendStream(docs, checkpoint, trigger) { (batch, id) =>
      sink(
        graft.operators.ScaleOps.wordGramsOf(batch)
          .join(broadcast(benchGrams), Seq("g"))
          .groupBy(col("doc_id"))
          .agg(countDistinct(col("g")).as("n_grams_hit"),
            count(lit(1)).as("n_positions")),
        id)
    }
}

/** One verified near-dup hit of [[StreamPipelines.streamingNearDedup]]:
  * `doc_id` shares a band bucket with the earlier `rep_doc_id` and
  * their exact gram Jaccard clears the threshold. One row per shared
  * bucket — distinct on doc_id for the per-document verdict.
  */
case class NearDupHit(doc_id: Long, rep_doc_id: Long, jaccard: Double)

/** One output event of [[StreamPipelines.endpointSessions]]. */
case class EndpointSessionEvent(
    kind: String,          // "update" (per batch) | "closed" (timer eviction)
    remote_addr: String,
    n_endpoints: Int,
    n_hits: Int,
    top_endpoint: String)

/** Keyed running (count, sum) as a [[StatefulProcessor]]. One ValueState
  * cell per key — bounded by key cardinality, like the
  * mapGroupsWithState formulation it mirrors.
  */
class RunningTotalsProcessor
    extends StatefulProcessor[String, (String, Double), (String, Long, Double)] {
  import org.apache.spark.sql.Encoders
  @transient private var totals: ValueState[(Long, Double)] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    totals = getHandle.getValueState[(Long, Double)]("totals",
      Encoders.product[(Long, Double)], TTLConfig.NONE)

  override def handleInputRows(key: String, rows: Iterator[(String, Double)],
      timerValues: TimerValues): Iterator[(String, Long, Double)] = {
    var (n, s) = if (totals.exists()) totals.get() else (0L, 0.0)
    rows.foreach { r => n += 1; s += r._2 }
    totals.update((n, s))
    Iterator.single((key, n, s))
  }
}

/** Endpoint-session profile per client on the full state surface:
  * ListState trail + MapState counts + a single re-armed event-time
  * timer whose expiry EVICTS the key's state (clear of every state
  * variable) — state stays bounded by *active* keys, not all keys ever
  * seen. See [[StreamPipelines.endpointSessions]].
  */
class EndpointSessionsProcessor(gapMs: Long)
    extends StatefulProcessor[String, (String, String, java.sql.Timestamp), EndpointSessionEvent] {
  import org.apache.spark.sql.Encoders

  @transient private var trail: ListState[String] = _
  @transient private var counts: MapState[String, Long] = _
  @transient private var openTimer: ValueState[Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    trail = getHandle.getListState[String]("trail", Encoders.STRING, TTLConfig.NONE)
    counts = getHandle.getMapState[String, Long]("counts",
      Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)
    openTimer = getHandle.getValueState[Long]("open_timer",
      Encoders.scalaLong, TTLConfig.NONE)
  }

  private def profile(kind: String, key: String): EndpointSessionEvent = {
    val entries = counts.iterator().toSeq
    val top = if (entries.isEmpty) "" else entries.maxBy(e => (e._2, e._1))._1
    EndpointSessionEvent(kind, key, entries.size, trail.get().size, top)
  }

  override def handleInputRows(key: String,
      rows: Iterator[(String, String, java.sql.Timestamp)],
      timerValues: TimerValues): Iterator[EndpointSessionEvent] = {
    var lastSeen = 0L
    rows.foreach { case (_, endpoint, ts) =>
      trail.appendValue(endpoint)
      val cur = if (counts.containsKey(endpoint)) counts.getValue(endpoint) else 0L
      counts.updateValue(endpoint, cur + 1)
      lastSeen = math.max(lastSeen, ts.getTime)
    }
    // exactly one live timer per key, and it never moves BACKWARD: a
    // later batch of out-of-order (but not watermark-dropped) events
    // with ts below a prior batch's last-seen must not shorten the
    // session below last-seen + gap (ADVICE r3)
    val prev = if (openTimer.exists()) openTimer.get() else Long.MinValue
    val expiry = math.max(lastSeen + gapMs, prev)
    if (expiry != prev) {
      if (openTimer.exists()) getHandle.deleteTimer(prev)
      getHandle.registerTimer(expiry)
      openTimer.update(expiry)
    }
    Iterator.single(profile("update", key))
  }

  override def handleExpiredTimer(key: String, timerValues: TimerValues,
      expiredTimerInfo: ExpiredTimerInfo): Iterator[EndpointSessionEvent] = {
    val closed = profile("closed", key)
    // eviction: every state variable cleared; a returning key starts fresh
    trail.clear(); counts.clear(); openTimer.clear()
    Iterator.single(closed)
  }
}

/** Epoch-microsecond timestamps for the event-time processors below.
  * They carry times as MICROS, the events table's precision after
  * Tables.events' nanos truncation: millis would silently equate
  * distinct event times.
  */
private object EventMicros {
  def micros(t: java.sql.Timestamp): Long =
    math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  def toTs(m: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(math.floorDiv(m, 1000000L) * 1000L)
    t.setNanos((math.floorMod(m, 1000000L) * 1000L).toInt)
    t
  }
}

/** One per-user update of [[StreamPipelines.streamingFunnel]]: the
  * funnel-so-far after a batch touched this user. `seq` counts the
  * updates emitted for the key — the consumer's "latest row wins"
  * ordinal (memory/table sinks don't order across batches). `stage` is
  * the batch twin's encoding: 3 purchase, 2 click, 1 view, 0 = no view
  * seen yet (the batch query emits no row for stage-0 users).
  */
case class FunnelUpdate(
    user_id: Long,
    view_ts: Option[java.sql.Timestamp],
    click_ts: Option[java.sql.Timestamp],
    purchase_ts: Option[java.sql.Timestamp],
    stage: Int,
    seq: Long)

/** Keyed funnel state for [[StreamPipelines.streamingFunnel]]: min view
  * anchor (ValueState) + watermark-pruned click/purchase candidate
  * lists (ListState). See the operator scaladoc for the pruning
  * argument; the invariant maintained here is that the retained
  * candidates always contain every event that could still be part of a
  * future funnel answer.
  */
class StreamingFunnelProcessor
    extends StatefulProcessor[Long, (Long, String, java.sql.Timestamp), FunnelUpdate] {
  import org.apache.spark.sql.Encoders
  import EventMicros.{micros, toTs}

  @transient private var minView: ValueState[Long] = _
  @transient private var clicks: ListState[Long] = _
  @transient private var purchases: ListState[Long] = _
  @transient private var updates: ValueState[Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    minView = getHandle.getValueState[Long]("min_view", Encoders.scalaLong, TTLConfig.NONE)
    clicks = getHandle.getListState[Long]("clicks", Encoders.scalaLong, TTLConfig.NONE)
    purchases = getHandle.getListState[Long]("purchases", Encoders.scalaLong, TTLConfig.NONE)
    updates = getHandle.getValueState[Long]("updates", Encoders.scalaLong, TTLConfig.NONE)
  }

  override def handleInputRows(key: Long,
      rows: Iterator[(Long, String, java.sql.Timestamp)],
      timerValues: TimerValues): Iterator[FunnelUpdate] = {
    var v = if (minView.exists()) minView.get() else Long.MaxValue
    val cs = scala.collection.mutable.ArrayBuffer[Long]() ++ clicks.get()
    val ps = scala.collection.mutable.ArrayBuffer[Long]() ++ purchases.get()
    rows.foreach { case (_, eventType, ts) =>
      val m = micros(ts)
      eventType match {
        case "view"     => v = math.min(v, m)
        case "click"    => cs += m
        case "purchase" => ps += m
      }
    }

    val clickAns = if (v == Long.MaxValue) None else cs.filter(_ >= v).minOption
    val purchaseAns = clickAns.flatMap(c => ps.filter(_ >= c).minOption)

    // prune (see operator scaladoc): the anchor can never drop below
    // min(V, watermark), and answers can only improve — candidates
    // outside [lower, current answer] are dead
    val lower = math.min(v, timerValues.getCurrentWatermarkInMs() * 1000L)
    val keptClicks = cs.filter(c => c >= lower && clickAns.forall(c <= _)).distinct.sorted
    val keptPurchases = ps.filter(p => p >= lower && purchaseAns.forall(p <= _)).distinct.sorted

    if (v != Long.MaxValue) minView.update(v)
    // ListState.put rejects empty arrays — empty means clear
    if (keptClicks.isEmpty) clicks.clear() else clicks.put(keptClicks.toArray)
    if (keptPurchases.isEmpty) purchases.clear() else purchases.put(keptPurchases.toArray)
    val seq = (if (updates.exists()) updates.get() else 0L) + 1L
    updates.update(seq)

    val stage =
      if (purchaseAns.isDefined) 3
      else if (clickAns.isDefined) 2
      else if (v != Long.MaxValue) 1
      else 0
    Iterator.single(FunnelUpdate(key,
      if (v == Long.MaxValue) None else Some(toTs(v)),
      clickAns.map(toTs), purchaseAns.map(toTs), stage, seq))
  }
}

/** One per-purchase update of [[StreamPipelines.streamingAsOf]]: the
  * as-of answer so far for `event_id` (a purchase), revised as late
  * clicks arrive. `gap_s` matches the batch twin's `unix_timestamp`
  * arithmetic (whole seconds, floored). `is_final` marks the update
  * emitted when the watermark passed the purchase and its state was
  * dropped — no later revision is possible. `seq` is the per-USER
  * update ordinal: the latest row for an event_id is the one with the
  * highest seq among that event_id's rows.
  */
case class AsOfUpdate(
    event_id: Long,
    user_id: Long,
    purchase_ts: java.sql.Timestamp,
    last_click_ts: Option[java.sql.Timestamp],
    gap_s: Option[Long],
    is_final: Boolean,
    seq: Long)

/** Keyed as-of state for [[StreamPipelines.streamingAsOf]]: the
  * compressed below-watermark click maximum (ValueState), the
  * above-watermark click candidates (ListState), and the still-revisable
  * purchases (ListState). Invariant: `recent_clicks` ∪ {`max_old_click`}
  * always contains the best at-or-before click for every pending and
  * every possible future purchase — see the operator scaladoc for why
  * compression below the watermark is lossless.
  */
class StreamingAsOfProcessor
    extends StatefulProcessor[Long, (Long, Long, String, java.sql.Timestamp), AsOfUpdate] {
  import org.apache.spark.sql.Encoders
  import EventMicros.{micros, toTs}

  @transient private var maxOldClick: ValueState[Long] = _
  @transient private var recentClicks: ListState[Long] = _
  @transient private var pending: ListState[(Long, Long)] = _   // (event_id, purchase micros)
  @transient private var updates: ValueState[Long] = _
  @transient private var openTimer: ValueState[Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    maxOldClick = getHandle.getValueState[Long]("max_old_click", Encoders.scalaLong, TTLConfig.NONE)
    recentClicks = getHandle.getListState[Long]("recent_clicks", Encoders.scalaLong, TTLConfig.NONE)
    pending = getHandle.getListState[(Long, Long)]("pending",
      Encoders.product[(Long, Long)], TTLConfig.NONE)
    updates = getHandle.getValueState[Long]("updates", Encoders.scalaLong, TTLConfig.NONE)
    openTimer = getHandle.getValueState[Long]("open_timer", Encoders.scalaLong, TTLConfig.NONE)
  }

  /** One event-time timer per key at the EARLIEST pending purchase +1 ms
    * — without it, a key that goes quiet would never emit its finals or
    * drop its state even as the watermark passes everything (the
    * finalize/prune path only ran on touched keys). The timer fires as
    * soon as the watermark clears the earliest pending purchase,
    * finalizes whatever is below the watermark, and re-arms for the
    * next pending one.
    */
  private def armTimer(pendingMin: Option[Long]): Unit = {
    val prev = if (openTimer.exists()) Some(openTimer.get()) else None
    pendingMin match {
      case Some(pm) =>
        val want = math.floorDiv(pm, 1000L) + 1L
        if (!prev.contains(want)) {
          prev.foreach(getHandle.deleteTimer)
          getHandle.registerTimer(want)
          openTimer.update(want)
        }
      case None =>
        prev.foreach { p => getHandle.deleteTimer(p); openTimer.clear() }
    }
  }

  override def handleExpiredTimer(key: Long, timerValues: TimerValues,
      expiredTimerInfo: ExpiredTimerInfo): Iterator[AsOfUpdate] = {
    val w = timerValues.getCurrentWatermarkInMs() * 1000L
    val maxOld = if (maxOldClick.exists()) Some(maxOldClick.get()) else None
    val clicks = scala.collection.mutable.ArrayBuffer[Long]() ++ recentClicks.get()
    val purchases = scala.collection.mutable.ArrayBuffer[(Long, Long)]() ++ pending.get()
    var seq = if (updates.exists()) updates.get() else 0L
    val (done, keep) = purchases.partition(_._2 < w)
    val out = done.sortBy(_._2).map { case (eventId, pm) =>
      val best = (clicks.filter(_ <= pm) ++ maxOld.filter(_ <= pm)).maxOption
      seq += 1L
      AsOfUpdate(eventId, key, toTs(pm), best.map(toTs),
        best.map(b => math.floorDiv(pm, 1000000L) - math.floorDiv(b, 1000000L)),
        is_final = true, seq)
    }
    val (oldC, keptC) = clicks.partition(_ < w)
    if (oldC.nonEmpty || maxOld.isDefined)
      maxOldClick.update((oldC ++ maxOld).max)
    val keptClicks = keptC.distinct.sorted
    if (keptClicks.isEmpty) recentClicks.clear() else recentClicks.put(keptClicks.toArray)
    if (keep.isEmpty) pending.clear() else pending.put(keep.toArray)
    updates.update(seq)
    openTimer.clear()
    armTimer(keep.map(_._2).minOption)
    out.iterator
  }

  override def handleInputRows(key: Long,
      rows: Iterator[(Long, Long, String, java.sql.Timestamp)],
      timerValues: TimerValues): Iterator[AsOfUpdate] = {
    var maxOld = if (maxOldClick.exists()) Some(maxOldClick.get()) else None
    val clicks = scala.collection.mutable.ArrayBuffer[Long]() ++ recentClicks.get()
    val purchases = scala.collection.mutable.ArrayBuffer[(Long, Long)]() ++ pending.get()
    rows.foreach { case (eventId, _, eventType, ts) =>
      val m = micros(ts)
      eventType match {
        case "click"    => clicks += m
        case "purchase" => purchases += ((eventId, m))
      }
    }

    val w = timerValues.getCurrentWatermarkInMs() * 1000L
    var seq = if (updates.exists()) updates.get() else 0L
    val out = purchases.distinct.sortBy(_._2).iterator.map { case (eventId, pm) =>
      // maxOld <= pm holds by the watermark contract (it compresses
      // clicks < W and every retained purchase has pm >= W); the filter
      // keeps the answer conservative if a runtime ever let a
      // below-watermark purchase through anyway
      val best = (clicks.filter(_ <= pm) ++ maxOld.filter(_ <= pm)).maxOption
      seq += 1L
      AsOfUpdate(eventId, key, toTs(pm), best.map(toTs),
        best.map(b => math.floorDiv(pm, 1000000L) - math.floorDiv(b, 1000000L)),
        is_final = pm < w, seq)
    }.toVector

    // prune (see operator scaladoc): clicks below W compress into their
    // max; purchases below W were just emitted final
    val (oldC, keptC) = clicks.partition(_ < w)
    if (oldC.nonEmpty || maxOld.isDefined)
      maxOldClick.update((oldC ++ maxOld).max)
    val keptClicks = keptC.distinct.sorted
    if (keptClicks.isEmpty) recentClicks.clear() else recentClicks.put(keptClicks.toArray)
    val keptP = purchases.distinct.filter(_._2 >= w)
    if (keptP.isEmpty) pending.clear() else pending.put(keptP.toArray)
    updates.update(seq)
    armTimer(keptP.map(_._2).minOption)
    out.iterator
  }
}

/** One summary row of [[StreamPipelines.streamingHeavyHitters]]:
  * shard-local Space-Saving counter for `item` after a batch touched
  * the shard (`est ≥ true count ≥ est − err` within the shard's
  * substream). `seq` is the shard's batch ordinal — consumers keep each
  * shard's max-seq rows and merge shard summaries for the global top-k.
  */
case class HeavyHitterUpdate(shard: Int, item: Long, est: Long, err: Long, seq: Long)

/** Shard-keyed Space-Saving state for
  * [[StreamPipelines.streamingHeavyHitters]]: one sketch per shard,
  * persisted as its three trimmed counter arrays — fixed
  * O(capacity) state per shard forever, the entire point of the
  * sketch. The per-row path is [[graft.functions.SpaceSavingState.add]]
  * — the same primitive-array probe/evict loop as the batch aggregate.
  */
class ShardedSpaceSavingProcessor(capacity: Int)
    extends StatefulProcessor[Int, (Long, Int), HeavyHitterUpdate] {
  import org.apache.spark.sql.Encoders

  @transient private var sketch: ValueState[(Array[Long], Array[Long], Array[Long])] = _
  @transient private var updates: ValueState[Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    sketch = getHandle.getValueState[(Array[Long], Array[Long], Array[Long])]("sketch",
      Encoders.product[(Array[Long], Array[Long], Array[Long])], TTLConfig.NONE)
    updates = getHandle.getValueState[Long]("updates", Encoders.scalaLong, TTLConfig.NONE)
  }

  override def handleInputRows(key: Int,
      rows: Iterator[(Long, Int)],
      timerValues: TimerValues): Iterator[HeavyHitterUpdate] = {
    val st = new graft.functions.SpaceSavingState(capacity)
    if (sketch.exists()) {
      val (it, cn, er) = sketch.get()
      var i = 0
      while (i < it.length) {
        st.items(i) = it(i); st.counts(i) = cn(i); st.errs(i) = er(i)
        i += 1
      }
      st.size = it.length
    }
    rows.foreach { case (item, _) => st.add(item) }
    sketch.update((st.items.take(st.size), st.counts.take(st.size), st.errs.take(st.size)))
    val seq = (if (updates.exists()) updates.get() else 0L) + 1L
    updates.update(seq)
    st.sorted.iterator.map { case (item, est, err) =>
      HeavyHitterUpdate(key, item, est, err, seq)
    }
  }
}

/** Bucket-keyed near-dup state for
  * [[StreamPipelines.streamingNearDedup]]: one ValueState holding the
  * bucket's first-seen (doc_id, sorted gram set). Later arrivals are
  * verified by exact merge-intersect Jaccard ([[graft.functions.GramHash.jaccardSorted]])
  * against the stored representative — a hit is emitted only when the
  * EXACT similarity clears the threshold, so banding never costs
  * precision. State grows with distinct buckets (≈ distinct content),
  * and an optional TTL lets RocksDB expire cold buckets natively.
  */
class BucketRepProcessor(threshold: Double, ttl: Option[java.time.Duration])
    extends StatefulProcessor[String, (Long, Array[Long], String), NearDupHit] {
  import org.apache.spark.sql.Encoders

  @transient private var rep: ValueState[(Long, Array[Long])] = _

  // rational lower bound of the threshold for the integer prefilter
  // (ADVICE r15): num/den = floor(t·2^30)/2^30 ≤ t, so J ≥ t ⟹
  // lo ≥ t·hi ⟹ lo·den ≥ num·hi — the float form `lo >= t*hi` could
  // round t*hi UP and drop a borderline pair the exact check passes.
  // No overflow: lo, hi ≤ Int.MaxValue < 2^31 and den = 2^30 → ≤ 2^61.
  private val RatioDen: Long = 1L << 30
  private val RatioNum: Long = math.floor(threshold * RatioDen).toLong

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    rep = getHandle.getValueState[(Long, Array[Long])]("rep",
      Encoders.product[(Long, Array[Long])],
      ttl.map(TTLConfig(_)).getOrElse(TTLConfig.NONE))

  override def handleInputRows(key: String,
      rows: Iterator[(Long, Array[Long], String)],
      timerValues: TimerValues): Iterator[NearDupHit] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[NearDupHit]
    rows.foreach { case (docId, grams, _) =>
      if (!rep.exists()) rep.update((docId, grams))
      else {
        val (repId, repGrams) = rep.get()
        // size-ratio prefilter (the batch-side [[graft.operators.Dedup]]
        // convention): J ≥ t needs min·1 ≥ t·max over cardinalities, so
        // refuted pairs skip the merge-intersect — result-invariant via
        // the integer cross-multiplied rational bound above
        val lo = math.min(repGrams.length, grams.length).toLong
        val hi = math.max(repGrams.length, grams.length).toLong
        if (repId != docId && lo * RatioDen >= RatioNum * hi) {
          val j = graft.functions.GramHash.jaccardSorted(repGrams, grams)
          if (j >= threshold) out += NearDupHit(docId, repId, j)
        }
      }
    }
    out.iterator
  }
}
