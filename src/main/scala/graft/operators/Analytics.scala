package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{QueryDef, Tables}
import graft.Pins.FramePin
import graft.Tables.SortOps

/** Reference-parity batch analytics surface.
  *
  * The reference (kmrhemant21/nginx-analytics) is an nginx-log analytics
  * pipeline; the `events` fixture table is the structural stand-in for the
  * log stream (ts ≙ timestamp, user_id ≙ remote_addr, event_type ≙
  * endpoint, value ≙ request_time_seconds, props ≙ raw JSON payload) —
  * see SURVEY.md §5.6.
  *
  * Each query cites the reference operator rows from SURVEY.md §2 it
  * re-hosts. All plans are declarative DataFrame chains: Catalyst pushes
  * filters/pruning into the parquet scan, does partial+final hash
  * aggregation (map-side combine), and broadcasts small join sides —
  * the properties that make these shapes survive a 100 TB scale-up.
  *
  * Time windows are fixed literals: fixture data is deterministic
  * (seed 42, 2024-01-01 .. 2024-01-30 at every scale factor). In the
  * library API the window bounds are parameters; these entries bind them
  * for the DuckDB oracle.
  */
object Analytics {

  /** Anomaly-detection window parameters (reference:
    * predictions/anomaly_detection.py:36-49 uses NOW()-7d history and the
    * current micro-batch as "now"; here: last fixture day as "current",
    * prior 7 days as history).
    */
  private val CurrentStart = "2024-01-30 00:00:00"
  private val HistStart    = "2024-01-23 00:00:00"

  // --- exact fixed-decimal aggregation -------------------------------
  // The measure/money columns carry exactly 2 decimals. Summing them as
  // doubles is order-dependent in the last ulp, and at sf0.1 several
  // round(4) group averages landed exactly on rounding boundaries where
  // Spark and DuckDB disagree (Spark rounds the shortest decimal string
  // of the double, DuckDB rounds the binary value). So: aggregate
  // round(x*scale) AS LONG — exact, order-independent, identical in both
  // engines — then divide the exact integer by an exact double scale and
  // DO NOT round: integer→double conversion and IEEE division are
  // bit-deterministic, so both engines emit the identical double and no
  // rounding boundary exists. Scale 100 for 2-decimal columns, 10000
  // for products of two of them (sums stay < 2^53 through sf1).
  private def asScaled(c: Column, scale: Int): Column =
    round(c * scale, 0).cast("long")
  private def exactSum(c: Column, scale: Int): Column =
    sum(asScaled(c, scale)) / lit(scale.toDouble)
  private def exactAvg(c: Column, scale: Int): Column =
    sum(asScaled(c, scale)) / (count(lit(1)) * lit(scale.toDouble))

  // --- q1: TPC-H-Q1-style scan+aggregate (A1/A3 analogue on lineitem) ---
  // Wide-row scan feeding a low-cardinality hash aggregate: partial agg
  // happens map-side, so the shuffle carries ~#groups rows, not #input.
  private def q1LineitemAgg(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        exactSum(col("l_quantity"), 100).as("sum_qty"),
        exactSum(col("l_extendedprice"), 100).as("sum_base_price"),
        exactSum(col("l_extendedprice") * (lit(1) - col("l_discount")), 10000).as("sum_disc_price"),
        exactAvg(col("l_discount"), 100).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .sortInOneTask("one row per (returnflag, linestatus)",
        col("l_returnflag"), col("l_linestatus"))

  // --- Traffic rollups (A1, A3-inner, P13; reference ingestor + anomaly aggs) ---

  /** Requests per hour per event_type with avg measure — the flagship
    * rollup (SURVEY.md §7.2). Reference: A3 inner
    * (predictions/anomaly_detection.py:40-46) + A1 (:25-29).
    */
  def hourlyTraffic(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(
        count(lit(1)).as("requests"),
        exactAvg(col("value"), 100).as("avg_value"))
      .sortInOneTask("one row per (hour, event_type)", col("hour"), col("event_type"))

  /** Per-key traffic stats over the full range — reference A1
    * (predictions/anomaly_detection.py:25-29): groupBy(remote_addr)
    * .agg(count, avg).
    */
  def trafficStats(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("request_count"),
        exactAvg(col("value"), 100).as("avg_request_time"))
      .orderBy(col("user_id"))

  /** Two-level time-bucketed aggregate — reference A3, the SQL the
    * reference pushes into Postgres (predictions/anomaly_detection.py:36-49):
    * hourly per-key counts, then per-key mean/stddev of those counts.
    * Re-hosted natively: two hash aggregations; the second reuses the
    * shuffle-by-user_id partitioning of the first (no extra exchange for
    * the user_id grouping after (user_id, hour)).
    * Postgres STDDEV == stddev_samp == Spark/DuckDB default.
    */
  def histBaseline(s: SparkSession, d: String): DataFrame = {
    val hourly = Tables.events(s, d)
      .filter(col("ts") >= lit(HistStart) && col("ts") < lit(CurrentStart))
      .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("request_count"))
    hourly
      .groupBy(col("user_id"))
      .agg(
        round(avg(col("request_count")), 4).as("avg_requests"),
        round(stddev_samp(col("request_count")), 4).as("stddev_requests"))
      .orderBy(col("user_id"))
  }

  // --- z-score anomaly detection (A6 = J1 + P7-P11) ---

  /** Full z-score classifier — reference
    * predictions/anomaly_detection.py:56-75 (left join J1 keeps
    * never-seen keys with NULL history → "new IP" rule; z-score column
    * algebra P7-P10, single-sourced with the streaming path in
    * [[graft.streaming.StreamPipelines.zscoreLabel]]). Threshold |z|>3
    * or new key with >100 requests/bucket, reason labels as in the
    * reference (:64-74).
    *
    * Formulated as ONE pass over events: both windows' per-(user, hour)
    * counts come from a single scan + aggregation, and the per-user
    * history stats are window aggregates over the history hours only
    * (`when(hour < current)` inside avg/stddev — NULLs ignored), so a
    * never-seen user windows to NULL stats exactly as the reference's
    * left join null-extends. Replaces the two-scan two-aggregation
    * broadcast-join form: one scan + (user,hour) exchange + user
    * exchange instead of two scans + three exchanges. Window
    * boundaries are midnight-aligned, so filtering on the truncated
    * hour equals filtering on raw ts.
    */
  def zscoreAnomaly(s: SparkSession, d: String): DataFrame =
    anomalyBaseline(s, d).sortInOneTask("one row per (user, hour) of the current day",
      col("user_id"), col("hour"))

  /** Shared anomaly baseline artifact, cached per (session, sfDir).
    *
    * All three anomaly queries (J1 z-score table, J2 semi-join filter,
    * J3 enrichment join) consume the same per-(user, hour) scored
    * frame; built once, the family scans events once per (session,
    * sfDir) instead of ~5× per bench pass when each consumer re-derives
    * it from the raw scan. Like the [[Similarity]] IVF index, the
    * baseline is a session pin per (session, sfDir) over a frame pin,
    * materialized at build. At 100 TB the artifact is a
    * small per-key parquet table refreshed by a scheduled job — which is
    * also what the reference SHOULD have done instead of re-querying
    * Postgres for the full history on every micro-batch
    * (predictions/anomaly_detection.py:33-53).
    *
    * The cached frame carries the FINAL rounded columns, so every
    * consumer sees bit-identical values to the pre-cache formulation.
    */
  private val anomalyCache = graft.Pins.session[String, DataFrame]()

  private def anomalyBaseline(s: SparkSession, d: String): DataFrame =
    anomalyCache.getOrBuild(s, d) {
      val counts = Tables.events(s, d)
        .filter(col("ts") >= lit(HistStart))
        .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("hour"))
        .agg(count(lit(1)).as("request_count"))
      val histCnt = when(col("hour") < lit(CurrentStart), col("request_count"))
      val u = Window.partitionBy("user_id")
      graft.streaming.StreamPipelines.zscoreLabel(
        counts
          .withColumn("avg_requests", avg(histCnt).over(u))
          .withColumn("stddev_requests", stddev_samp(histCnt).over(u))
          .filter(col("hour") >= lit(CurrentStart)))
        .select(
          col("user_id"), col("hour"), col("request_count"),
          round(col("avg_requests"), 4).as("avg_requests"),
          round(col("stddev_requests"), 4).as("stddev_requests"),
          round(col("z_score"), 4).as("z_score"),
          col("is_anomaly"), col("anomaly_reason"))
        .pin("one row per (user, hour) of the current day")
    }

  /** Anomalous keys only (reference filter :75 `is_anomaly == True`). */
  private def anomalousKeys(s: SparkSession, d: String): DataFrame =
    anomalyBaseline(s, d).filter(col("is_anomaly")).select(col("user_id")).distinct()

  /** Raw rows restricted to anomalous keys — reference J2
    * (predictions/anomaly_detection.py:80-85). The reference uses an
    * inner join on a deduped projection; the idiomatic Spark form is a
    * LEFT SEMI join (no row duplication, no right-side columns carried),
    * and the semi side is post-aggregation-small → broadcast semi join.
    */
  def anomalousRows(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .filter(col("ts") >= lit(CurrentStart))
      .join(anomalousKeys(s, d), Seq("user_id"), "left_semi")
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"))
      .orderBy(col("event_id"))

  /** Anomalous rows enriched with anomaly metadata — reference J3
    * (predictions/anomaly_detection.py:89-94): sample ⋈ (z_score,
    * is_anomaly, reason) on the key; broadcast-eligible inner join.
    */
  def anomalyEnriched(s: SparkSession, d: String): DataFrame = {
    val meta = anomalyBaseline(s, d)
      .filter(col("is_anomaly"))
      .select(col("user_id"), col("hour"),
        col("z_score"), col("anomaly_reason"))
    Tables.events(s, d)
      .filter(col("ts") >= lit(CurrentStart))
      .withColumn("hour", date_trunc("hour", col("ts")))
      .join(meta, Seq("user_id", "hour"))
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"), col("z_score"), col("anomaly_reason"))
      .orderBy(col("event_id"))
  }

  // --- ML feature extraction (A4, P13, P14, P7) ---

  /** Feature-extraction scan — reference A4, the training-features SQL
    * pushed into Postgres (predictions/response_time_prediction.py:71-87):
    * casts + hour-of-day + CASE default + null/positive-label filters +
    * row cap. The reference's LIMIT 100000 has no ORDER BY (output
    * nondeterministic); the engine version is ORDER BY-stable
    * (SURVEY.md §7.4 risk 2). Filters are pushed to the parquet scan.
    */
  def featureExtraction(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .filter(col("ts") >= lit(HistStart) &&
        col("value").isNotNull && col("value") > 0 &&
        col("event_type") =!= "")
      .select(
        col("event_id"),
        when(col("event_type").isNull || col("event_type") === "",
          lit("UNKNOWN")).otherwise(col("event_type")).as("category"),
        hour(col("ts")).cast("int").as("hour_of_day"),
        get_json_object(col("props"), "$.k").cast("long").as("payload_k"),
        round(col("value"), 4).as("label"))
      .orderBy(col("event_id"))
      .limit(100000)

  // --- Dashboard-style queries (§2.6 gap-fill: sorts, limits, ranks) ---

  /** Top-k categories by traffic (ORDER BY count DESC LIMIT k) —
    * TopK = partial top-k per partition then merge; no full sort of the
    * aggregate at scale.
    */
  def topEventTypes(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("cnt"), exactSum(col("value"), 100).as("total_value"))
      .orderBy(col("cnt").desc, col("event_type"))
      .limit(3)

  /** Time-range + predicate scan — the access path the reference serves
    * with Postgres btree indexes (postgres/init.sql:80-84); here partition
    * pruning + parquet min/max skipping + pushed filters do the same job.
    */
  def timeRangeScan(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .filter(col("ts") >= lit("2024-01-10 00:00:00") &&
        col("ts") < lit("2024-01-12 00:00:00") &&
        col("event_type") === "error")
      .select(col("event_id"), col("ts"), col("user_id"), col("value"))
      .sortInOneTask("error events of a two-day window", col("event_id"))

  /** JSON payload extraction + aggregate — reference P2/from_json surface
    * generalized to `get_json_object` over the props payload
    * (SURVEY.md §7.1 step 6).
    */
  def jsonExtractAgg(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(sum(col("k")).as("sum_k"),
        count(col("k")).as("n_k"),
        round(avg(col("k")), 4).as("avg_k"))
      .sortInOneTask("one row per event_type", col("event_type"))

  /** CASE/when classification breakdown — reference P7
    * (anomaly_reason CASE, country-default CASE).
    */
  def valueClassBreakdown(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .withColumn("value_class",
        when(col("value") < 50, lit("low"))
          .when(col("value") < 150, lit("mid"))
          .otherwise(lit("high")))
      .groupBy(col("event_type"), col("value_class"))
      .agg(count(lit(1)).as("cnt"))
      .sortInOneTask("one row per (event_type, value class)",
        col("event_type"), col("value_class"))

  /** Ranked top-N per key (analytic window function) — absent from the
    * reference (SURVEY.md §2.6) but core dashboard surface; row_number
    * over (partition by key order by measure) with deterministic
    * tie-break.
    */
  def windowTopPerUser(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("value").desc, col("event_id"))
    Tables.events(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2)
      .select(col("user_id"), col("rn"), col("event_id"), col("event_type"),
        col("value"))
      .orderBy(col("user_id"), col("rn"))
  }

  /** One output row per user from an ordered walk over that user's rows.
    *
    * `rows` carries `user_id` plus the columns `order` reads. It is
    * hash-partitioned on `user_id` through [[Tables.scanSpread]] (a bare
    * `repartition(col)` is coalesced by AQE into one task), each partition
    * is sorted on (`user_id`, `order`...) with nulls first, and the rows
    * are decoded as `I`. `user` reads a row's `user_id` (a NULL is its
    * own run); `foldRun` is handed each user and that user's run in order,
    * and returns the user's row or None for no row.
    *
    * Scale contract: a task holds one user's running state, which is what
    * `foldRun` keeps (a few longs), never a user's rows or a partition's
    * output: runs are handed over as lazy iterators and rows are emitted
    * one at a time. The only per-key buffer is Spark's external sort, so a
    * key with 90% of the rows spills as a window over it would, and costs
    * one long task rather than memory.
    */
  private def foldByUser[I: Encoder, O: Encoder](rows: DataFrame, order: Column*)(
      user: I => Option[Long])(foldRun: (Option[Long], Iterator[I]) => Option[O]): Dataset[O] =
    Tables.scanSpread(rows, col("user_id"))
      .sortWithinPartitions(col("user_id") +: order: _*)
      .as[I]
      .mapPartitions { it =>
        val in = it.buffered
        new Iterator[Option[O]] {
          def hasNext: Boolean = in.hasNext
          def next(): Option[O] = {
            val u = user(in.head)
            val run = new Iterator[I] {
              def hasNext: Boolean = in.hasNext && user(in.head) == u
              def next(): I = in.next()
            }
            val out = foldRun(u, run)
            run.foreach(_ => ()) // a fold may stop before its run ends
            out
          }
        }.flatten
      }

  /** Sessions and events per user; NULL `user_id` is one group. A row
    * starts a session when it is the user's first row, when the row
    * before it has a NULL `ts`, or when it is strictly more than 30 min
    * after the row before it (a gap of exactly 30 min continues the
    * session); rows are ordered by `ts` with NULL first, so each NULL-`ts`
    * row starts a session and so does the first timed row after them.
    * `n_events` counts every row of the user. Ties on `ts` are not
    * ordered: a zero gap never starts a session.
    *
    * One ordered fold ([[foldByUser]]): one hash exchange on `user_id`,
    * one partition sort, and two counters per user.
    */
  def sessionStats(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val rows = Tables.events(s, d)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"))
    val gap = TypedSessions.GapMicros
    foldByUser[(Option[Long], Option[Long]), (Option[Long], Long, Long)](
        rows, col("ts_us"))(_._1) { (user, run) =>
      var prev: Option[Long] = None
      var sessions = 0L
      var events = 0L
      run.foreach { case (_, ts) =>
        if (prev.isEmpty || ts.exists(_ - prev.get > gap)) sessions += 1
        prev = ts; events += 1
      }
      Some((user, sessions, events))
    }.toDF("user_id", "n_sessions", "n_events")
      .sortInOneTask("one row per user", col("user_id"))
  }

  /** Traffic forecast — the reference's declared-but-unimplemented
    * `traffic_forecasts` table (postgres/init.sql:71-77, SURVEY.md §0.1(6))
    * implemented as a trailing 3-hour moving average per category,
    * predicting the next hour.
    */
  def trafficForecast(s: SparkSession, d: String): DataFrame = {
    val hourly = Tables.events(s, d)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("hour"))
      .rowsBetween(-2, 0)
    hourly
      .select(col("event_type"),
        (col("hour") + expr("INTERVAL 1 HOUR")).as("forecast_timestamp"),
        round(avg(col("cnt")).over(w), 4).as("predicted_requests"))
      .orderBy(col("event_type"), col("forecast_timestamp"))
  }

  // --- TPC-H-style star joins (J1-J3 generalized; broadcast dims) ---

  /** Fact ⋈ small dims with explicit broadcast — revenue by region.
    * nation/region/supplier are broadcast (dims ≪ fact): zero shuffle of
    * the lineitem side; aggregation is partial+final.
    */
  def revenueByRegion(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .join(broadcast(Tables.supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(
        exactSum(col("l_extendedprice") * (lit(1) - col("l_discount")), 10000).as("revenue"),
        count(lit(1)).as("n_items"))
      .sortInOneTask("one row per region", col("r_name"))

  /** customer ⋈ orders ⋈ nation with count(distinct) — broadcast dims,
    * distinct aggregate (expand+two-phase in Catalyst).
    */
  def customerRevenue(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_mktsegment"), col("n_name"))
      .agg(
        countDistinct(col("o_orderkey")).as("n_orders"),
        exactSum(col("o_totalprice"), 100).as("revenue"))
      .orderBy(col("c_mktsegment"), col("n_name"))

  /** TPC-H Q3-shape shipping priority: the classic selective
    * fact-fact-dim join → aggregate → top-k. The filtered customer
    * segment broadcasts explicitly; the orders side carries its date
    * filter into the scan (pushed-down, plan-audited class) and AQE
    * picks the lineitem⋈orders strategy from runtime sizes. Revenue is
    * exact-cents (order-independent LONG sum), so the DESC ordering
    * never depends on float summation order; l_orderkey breaks ties
    * deterministically in both engines.
    */
  def shippingPriority(s: SparkSession, d: String): DataFrame = {
    val cut = "1998-01-01 00:00:00"
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") > lit(cut))
      .join(Tables.orders(s, d).filter(col("o_orderdate") < lit(cut)),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(exactSum(col("l_extendedprice") * (lit(1) - col("l_discount")), 10000).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  /** Set operations (absent from reference, SURVEY.md §2.6): keys seen in
    * the current window but absent from history = EXCEPT (anti-join
    * under the hood), plus an INTERSECT sanity branch via union of
    * labeled branches.
    */
  def setOpsNewUsers(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val high = ev.filter(col("value") >= 180).select(col("user_id")).distinct()
    val err  = ev.filter(col("event_type") === "error").select(col("user_id")).distinct()
    val both    = high.intersect(err).withColumn("set_op", lit("high_and_error"))
    val onlyHi  = high.except(err).withColumn("set_op", lit("high_only"))
    both.union(onlyHi).orderBy(col("set_op"), col("user_id"))
  }

  /** Interval (range) self-join: pairs of events from the same user
    * within 5 minutes — correlated-request detection. The equi-key
    * (user_id) bounds the join; the range predicate rides along inside
    * the sort-merge join, so cost is per-user-group, not quadratic.
    * (A pure range join with no equi-key would get time-bin bucketing
    * as the equality key — same blocking pattern as the dedup family.)
    */
  def intervalJoin(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val a = ev.select(col("user_id"), col("event_id").as("event_a"), col("ts").as("ts_a"))
    val b = ev.select(col("user_id"), col("event_id").as("event_b"), col("ts").as("ts_b"))
    a.join(b, Seq("user_id"))
      .where(col("event_a") < col("event_b") &&
        col("ts_b") >= col("ts_a") &&
        unix_micros(col("ts_b")) - unix_micros(col("ts_a")) <= 300L * 1000000L)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_close_pairs"))
      .orderBy(col("user_id"))
  }

  /** Linear multi-touch attribution: every purchase's value is split
    * across the user's clicks in the preceding 7 days — the
    * marketing-attribution workload beside [[TrainingPrep.asOfJoin]]'s
    * last-touch form. Money is carried as INTEGER CENTS with
    * largest-remainder allocation (each click gets `cents div n`, the
    * first `cents mod n` clicks in (ts, event_id) order get the extra
    * cent) — allocation is exact (per-purchase shares always sum to
    * the purchase) and bit-identical across engines, where dividing
    * doubles would drift. Purchases with no window clicks roll up as
    * unattributed.
    *
    * Scale shape: one per-user range join (shuffle on user_id, range as
    * the join residual — the [[intervalJoin]] plan), two partitioned
    * windows keyed by purchase, then the per-user rollup.
    */
  def linearAttribution(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    // value >= 0 ENFORCED, not assumed: the allocation
    // algebra needs non-negative cents — Spark DIV truncates toward
    // zero while DuckDB // floors, so a refund row (negative value)
    // would silently diverge between the engines. Refunds are excluded
    // from attribution in both dialects; a deployment that wants them
    // attributes absolute values with a sign column.
    val purchases = ev.filter(col("event_type") === "purchase" && col("value") >= 0)
      .select(col("user_id"), col("event_id").as("p_id"), col("ts").as("p_ts"),
        round(col("value") * 100).cast("long").as("cents"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("c_id"), col("ts").as("c_ts"))
    val touched = purchases.join(clicks, Seq("user_id"))
      .where(col("c_ts") <= col("p_ts") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 7 DAYS"))
    val wP = Window.partitionBy(col("p_id"))
    val wR = Window.partitionBy(col("p_id")).orderBy(col("c_ts"), col("c_id"))
    val shares = touched
      .withColumn("n", count(lit(1)).over(wP))
      .withColumn("rn", row_number().over(wR))
      .withColumn("share",
        expr("cents DIV n") + when(col("rn") <= expr("cents % n"), 1L).otherwise(0L))
    val attributed = shares.groupBy(col("user_id"))
      .agg(countDistinct(col("p_id")).as("n_attributed"),
        countDistinct(col("c_id")).as("n_touches"),
        sum(col("share")).as("attributed_cents"))
    val perUser = purchases.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_purchases"), sum(col("cents")).as("total_cents"))
    perUser.join(attributed, Seq("user_id"), "left")
      .select(col("user_id"), col("n_purchases"),
        coalesce(col("n_attributed"), lit(0L)).as("n_attributed"),
        coalesce(col("n_touches"), lit(0L)).as("n_touches"),
        col("total_cents"),
        coalesce(col("attributed_cents"), lit(0L)).as("attributed_cents"),
        (col("total_cents") - coalesce(col("attributed_cents"), lit(0L)))
          .as("unattributed_cents"))
      .orderBy(col("user_id"))
  }

  /** ROLLUP aggregation (absent from the reference, SURVEY.md §2.5
    * "no grouping sets"): traffic by (event_type, day) with subtotal and
    * grand-total rows. NULL ordering pinned explicitly — Spark defaults
    * NULLS FIRST, DuckDB NULLS LAST.
    */
  def rollupTraffic(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .withColumn("day", date_trunc("day", col("ts")).cast("date"))
      .rollup(col("event_type"), col("day"))
      .agg(count(lit(1)).as("n"), exactAvg(col("value"), 100).as("avg_value"))
      .orderBy(col("event_type").asc_nulls_first, col("day").asc_nulls_first)

  /** Full CUBE over (event_type, day) — all four grouping combinations
    * from ONE pass (Catalyst's Expand feeds a single agg exchange, no
    * four-scan union), with `grouping()` flags distinguishing
    * "NULL because subtotal" from a genuinely NULL key — the grouping-
    * set surface beyond [[rollupTraffic]]'s ROLLUP (§2.6).
    */
  def cubeTraffic(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .withColumn("day", date_trunc("day", col("ts")).cast("date"))
      .cube(col("event_type"), col("day"))
      .agg(
        grouping(col("event_type")).cast("int").as("g_type"),
        grouping(col("day")).cast("int").as("g_day"),
        count(lit(1)).as("n"),
        exactAvg(col("value"), 100).as("avg_value"))
      .select(col("event_type"), col("day"), col("g_type"), col("g_day"),
        col("n"), col("avg_value"))
      .orderBy(col("event_type").asc_nulls_first, col("day").asc_nulls_first)

  /** Daily event-type matrix via pivot — compiles to ONE conditional
    * aggregation over the scan (one exchange on day), not a query per
    * column. The value list is explicit: an unlisted pivot runs a
    * distinct-values pre-query and caps cardinality — never acceptable
    * at fleet scale. Missing cells are 0 (count semantics), matching
    * the oracle's conditional counts.
    */
  def pivotDaily(s: SparkSession, d: String): DataFrame = {
    val types = Seq("view", "click", "purchase", "signup", "error")
    Tables.events(s, d)
      .withColumn("day", date_trunc("day", col("ts")).cast("date"))
      .groupBy(col("day"))
      .pivot("event_type", types)
      .agg(count(lit(1)))
      .select(col("day") +: types.map(t => coalesce(col(t), lit(0L)).as(t)): _*)
      .sortInOneTask("one row per day", col("day"))
  }

  /** Hopping (sliding) time window — `window(ts, 2h, 1h)`: every event
    * lands in the two overlapping buckets that contain it (Expand →
    * one agg exchange). The batch twin of the A5 streaming windowed
    * aggregation, with the slide the tumbling form can't express;
    * Spark windows are epoch-aligned, so the 1 h slide falls on exact
    * hour boundaries (what the oracle enumerates directly).
    */
  def hoppingTraffic(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(window(col("ts"), "2 hours", "1 hour"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("win_start"),
        col("window.end").as("win_end"), col("n_events"))
      .orderBy(col("win_start"))

  /** Latency percentiles per category — the p50/p95/p99 dashboard core
    * of log analytics (absent from the reference's query set, implied by
    * its Superset serving layer). Exact interpolated percentiles
    * (Spark `percentile` ≡ DuckDB `quantile_cont`); at 100 TB swap in
    * `approx_percentile` (mergeable sketch, no per-group sort buffer) —
    * kept exact here because exactness is what the oracle can check.
    * Buffer bound: exact `percentile` holds every value of a GROUP in
    * that group's final merge task — ROW-scale per event_type, which is
    * why [[latencyPercentilesApprox]] is the registered 100 TB path. The
    * three levels share ONE aggregate (an array of percentages), so each
    * group's values are buffered and sorted once, not once per level.
    */
  def latencyPercentiles(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(
        expr("percentile(value, array(0.5, 0.95, 0.99))").as("pcts"),
        count(lit(1)).as("n"))
      .select(col("event_type"),
        round(col("pcts")(0), 4).as("p50"), round(col("pcts")(1), 4).as("p95"),
        round(col("pcts")(2), 4).as("p99"), col("n"))
      .sortInOneTask("one row per event_type", col("event_type"))

  /** The scale path for [[latencyPercentiles]]: approx_percentile is a
    * mergeable sketch — constant memory per partition, no per-group
    * value buffer. No oracle (DuckDB's t-digest differs); the spec
    * bounds its error against the exact version.
    */
  def latencyPercentilesApprox(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(
        expr("approx_percentile(value, array(0.5, 0.95, 0.99), 10000)").as("pcts"),
        count(lit(1)).as("n"))
      .select(col("event_type"),
        col("pcts")(0).as("p50"), col("pcts")(1).as("p95"), col("pcts")(2).as("p99"),
        col("n"))
      .sortInOneTask("one row per event_type", col("event_type"))

  /** Invariant-check companion of [[latencyPercentilesApprox]] (the
    * same technique as [[graft.operators.Dedup.approxDistinctCheck]]):
    * the sketch's contract is RANK error, and the check tests it AS a
    * rank statement — the estimate's occupied rank interval
    * [#(v < est)+1, #(v ≤ est)] must intersect [(q−δ)·n, (q+δ)·n]
    * over the group's non-null values (δ = 0.01, 100× the configured
    * 1/accuracy rank error, so the booleans are stable). An earlier
    * form compared against INTERPOLATED exact percentiles at q ∓ δ,
    * which false-positives on small or discrete-valued groups where
    * the interpolated band excludes every actual data value the sketch
    * is allowed to return. The query emits per-group exact n plus the
    * three booleans; the DuckDB oracle pins the booleans at TRUE. The
    * sketch values themselves stay rows-only in the query proper.
    */
  def latencyPercentilesApproxCheck(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(col("event_type"), col("value"))
    val est = ev.groupBy(col("event_type"))
      .agg(expr("approx_percentile(value, array(0.5, 0.95, 0.99), 10000)").as("pcts"))
      .select(col("event_type"), col("pcts")(0).as("e50"),
        col("pcts")(1).as("e95"), col("pcts")(2).as("e99"))
    def le(e: String) = sum(when(col("value") <= col(e), 1L).otherwise(0L))
    def lt(e: String) = sum(when(col("value") < col(e), 1L).otherwise(0L))
    def inBand(q: Double, leC: Column, ltC: Column, nn: Column) =
      // vacuously true for an all-null group (no ranks to violate)
      nn === 0 || ((ltC + 1) <= (nn * (q + 0.01)) && leC >= (nn * (q - 0.01)))
    val agg = ev.join(broadcast(est), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("value").isNotNull, 1L).otherwise(0L)).as("nn"),
        le("e50").as("le50"), lt("e50").as("lt50"),
        le("e95").as("le95"), lt("e95").as("lt95"),
        le("e99").as("le99"), lt("e99").as("lt99"))
    agg.select(col("event_type"), col("n"),
        inBand(0.50, col("le50"), col("lt50"), col("nn")).as("p50_in_band"),
        inBand(0.95, col("le95"), col("lt95"), col("nn")).as("p95_in_band"),
        inBand(0.99, col("le99"), col("lt99"), col("nn")).as("p99_in_band"))
      .orderBy(col("event_type"))
  }

  /** S6: the SQL query surface (the reference's documented
    * Hive-external-table-over-parquet path, README.md:7-11): tables
    * registered as views, query written in the ANSI subset both Spark
    * and DuckDB parse — the oracle runs the IDENTICAL string.
    */
  val SqlDashboardText: String =
    """SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
      |  count(*) AS n_events,
      |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_errors,
      |  sum(CAST(round(value * 100) AS BIGINT)) / (count(*) * 100e0) AS avg_value
      |FROM events
      |GROUP BY 1
      |ORDER BY 1""".stripMargin

  def sqlInterface(s: SparkSession, d: String): DataFrame = {
    Tables.events(s, d).createOrReplaceTempView("events")
    s.sql(SqlDashboardText)
  }

  /** Per-type statistical profile — the corr/covar/stddev aggregate
    * family over (value, hour-of-day), single hash aggregate with
    * partial map-side combine (all four are algebraic: constant-size
    * intermediate state, mergeable, so the shuffle carries one state
    * row per (partition, type) regardless of volume). round(4) on both
    * engines absorbs summation-order float drift.
    */
  def statsProfile(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_type"), col("value"),
        hour(col("ts")).cast("double").as("hr"))
      .groupBy(col("event_type"))
      .agg(round(corr(col("value"), col("hr")), 4).as("corr_value_hour"),
        round(covar_samp(col("value"), col("hr")), 4).as("covar_value_hour"),
        round(stddev_samp(col("value")), 4).as("stddev_value"),
        count(lit(1)).as("n"))
      .sortInOneTask("one row per event_type", col("event_type"))

  /** 7-day trailing moving average of daily value per event type —
    * the smoothing query every traffic dashboard carries. Daily totals
    * are exact-cents LONGs (the SqlDashboard money convention), so the
    * window average divides an exact integer sum — no float
    * summation-order drift for round(·,4) to absorb. ROWS framing over
    * the aggregated day series: one agg exchange + one window sort per
    * type; the window input is days × types, thousands of rows at any
    * corpus size. ROWS means "last 7 OBSERVED days" — on a series with
    * gaps, compose with [[gapFill]] first to make the frame calendar-
    * true (RANGE INTERVAL framing is the alternative, but DuckDB and
    * Spark disagree on its tie semantics at frame edges; the dense-grid
    * composition is the engine-stable form).
    */
  def movingAvg(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("day")).rowsBetween(-6, 0)
    Tables.events(s, d)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).cast("date").as("day"))
      .agg(sum(expr("CAST(round(value * 100) AS BIGINT)")).as("cents"))
      .select(col("event_type"), col("day"),
        (col("cents") / lit(100e0)).as("daily_value"),
        round(avg(col("cents")).over(w) / 100, 4).as("trailing7_avg"))
      .sortInOneTask("one row per (event_type, day)", col("event_type"), col("day"))
  }

  /** Robust anomaly scoring: median + MAD (median absolute deviation)
    * per event type — the z-score family's outlier-resistant sibling
    * (a handful of extreme values shifts a mean/stddev baseline but
    * not a median/MAD one). Both centers are rounded to 4dp BEFORE the
    * 3×MAD predicate so the flag never rides on the last ulp of an
    * interpolated percentile; the deviations then compare identically
    * in both engines. Two aggregate passes + one broadcast-size join
    * per pass (5 rows of per-type centers).
    * Buffer bound: both exact medians buffer ROW-scale values per
    * event_type in one task; at 100 TB swap both for
    * `approx_percentile` exactly as documented on
    * [[latencyPercentiles]] (kept exact because exactness is what the
    * oracle checks, and the MAD flag's 4dp pre-round makes the swap
    * behavior-compatible away from the last ulp).
    */
  def madAnomaly(s: SparkSession, d: String): DataFrame = {
    // Each stat pass joins the PREVIOUS pass's tiny per-type table back
    // to a FRESH events scan (3 scans total, each stat join an explicit
    // broadcast). Reusing one deviation frame across passes re-plans the
    // whole med subtree per reference: 8 event scans and two duplicate
    // median aggregates for the identical three-pass algebra.
    val ev = Tables.events(s, d).select(col("event_type"), col("value"))
    val med = ev
      .groupBy(col("event_type"))
      .agg(round(expr("percentile(value, 0.5)"), 4).as("med"))
    val mad = ev.join(broadcast(med), Seq("event_type"))
      .withColumn("adev", abs(col("value") - col("med")))
      .groupBy(col("event_type"), col("med"))
      .agg(round(expr("percentile(adev, 0.5)"), 4).as("mad"))
    ev.join(broadcast(mad), Seq("event_type"))
      .withColumn("adev", abs(col("value") - col("med")))
      .groupBy(col("event_type"), col("med"), col("mad"))
      .agg(
        sum(when(col("adev") > col("mad") * 3, 1L).otherwise(0L)).as("n_anomalies"),
        count(lit(1)).as("n"))
      .sortInOneTask("one row per event_type", col("event_type"))
  }

  /** Spark's NATIVE session-window aggregation — `session_window(ts,
    * gap)` in a plain groupBy, the engine-provided form of gap-based
    * sessionization (the existing `sessionStats`/`typedSessions`
    * formulations build the same semantics from window functions and
    * typed state; this query exercises the built-in TVF itself, which
    * is also the streaming-native form). Cross-checked against a
    * DuckDB oracle that knows nothing of session windows: it
    * re-derives sessions as lag-gap islands with a running session
    * counter — two independent formulations of one semantics.
    * Session window = [first event, last event + gap); the gap'd END
    * is the Spark definition, so the oracle adds the gap to its last
    * event explicitly.
    */
  def sessionWindow(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("user_id"),
        session_window(col("ts"), "5 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_micros(col("sw.start")).as("start_us"),
        unix_micros(col("sw.end")).as("end_us"),
        col("n_events"))
      .orderBy(col("user_id"), col("start_us"))

  /** Time-series gap filling: the dense (event_type × hour) grid with
    * zero-filled missing cells — what every downstream chart, forecast,
    * or moving average silently assumes and raw GROUP BY does not
    * provide (an hour with no events has no row, which a naive
    * trailing window then skips). The grid is generated, not stored:
    * distinct types × a broadcast 2-value bounds row exploded by
    * `sequence(h0, h1, 1 hour)` inside the scan stage, then one left
    * join against the observed hourly counts. Grid size is
    * types × hours — thousands of rows regardless of corpus size — so
    * the join's build side stays broadcastable forever.
    */
  def gapFill(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val hourly = ev
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("n"))
    val bounds = ev.agg(
      min(date_trunc("hour", col("ts"))).as("h0"),
      max(date_trunc("hour", col("ts"))).as("h1"))
    val grid = ev.select(col("event_type")).distinct()
      .crossJoin(broadcast(bounds))
      .select(col("event_type"),
        explode(expr("sequence(h0, h1, interval 1 hour)")).as("hour"))
    grid.join(hourly, Seq("event_type", "hour"), "left")
      .select(col("event_type"), col("hour"),
        coalesce(col("n"), lit(0L)).as("n_events"),
        col("n").isNull.as("filled"))
      .orderBy(col("event_type"), col("hour"))
  }

  /** Day-over-day retention: per day, the users active on that day and
    * on the next (UTC days). Each user's set of active days is collected
    * once (`collect_set`, bounded by the user's distinct days, not by
    * events); each day whose next day is in the same set counts that
    * user. Rows with a NULL `user_id` or `ts` count for no one. No join:
    * one aggregation by user, then one by day.
    */
  def userRetention(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .filter(col("user_id").isNotNull)
      .groupBy(col("user_id"))
      .agg(collect_set(date_trunc("day", col("ts")).cast("date")).as("days"))
      .select(col("days"), explode(col("days")).as("day"))
      .filter(array_contains(col("days"), date_add(col("day"), 1)))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("retained_users"))
      .sortInOneTask("one row per day", col("day"))

  /** Artifact path shared by [[logIngest]] and its DuckDB oracle: the
    * rendered JSON-lines wire payload, pinned once per (session, sfDir)
    * as text files. The oracle `read_json`s the same lines and replays
    * the ENTIRE parse chain — required-key validity gate, agent filter,
    * try-cast derivations, endpoint regex, exact-cents rollup — so the
    * engine's flagship ingest path (P1-P6) is checked on its values,
    * not only its row count, against a parse it did not run. Only the
    * wire RENDERING (to_json field order being engine-specific) is
    * pinned as data; the parse is independently recomputed by DuckDB.
    */
  val WireLogsPath: String = graft.Pins.artifact("wire_logs")

  /** End-to-end log ingest at scale-factor volume: events rendered to
    * the nginx JSON wire format (to_json over the 38-field shape), then
    * the FULL parse chain (validity gate, agent filter, typed
    * derivations, endpoint regex) and a rollup — the reference's whole
    * ingestor (ingestor/main.py) as one benched batch query. The
    * parse-chain semantics are pinned by LogParseSpec + the streaming
    * round-trip spec AND the wire-artifact oracle ([[WireLogsPath]]).
    * For throughput context: the reference's ingest
    * ceiling is ~16.7 lines/s (Loki poll limit, producer/main.py:42,101).
    */
  def logIngest(s: SparkSession, d: String): DataFrame = {
    // repartition before the render: the fixture table is one small
    // parquet split, and the JSON render + full parse chain is the
    // heaviest per-row work in the suite — without this it all runs as
    // a single task on one core (the trap minhashIndex documents). The
    // shuffle moves the raw events (a few MB); the 32-way parse repays
    // it many times over. At 100 TB the scan arrives already split.
    val wire = Tables.scanSpread(Tables.events(s, d), col("event_id"))
      .select(to_json(struct(
      date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ssXXX").as("time_iso8601"),
      concat(lit("10.0."), (col("user_id") / 256).cast("int"),
        lit("."), pmod(col("user_id"), lit(256))).as("remote_addr"),
      concat(lit("GET /api/"), col("event_type"), lit("/"), col("event_id"),
        lit(" HTTP/1.1")).as("request"),
      concat(lit("/api/"), col("event_type"), lit("/"), col("event_id")).as("request_uri"),
      lit("GET").as("request_method"),
      when(col("value") > 180, lit("500")).otherwise(lit("200")).as("status"),
      (col("value") / 1000).cast("string").as("request_time"),
      lit("Mozilla/5.0").as("http_user_agent"),
      get_json_object(col("props"), "$.k").as("request_length"))).as("value"))
      // render+parse stays fused and pipelined: ComputeOnce inside
      // parseJson pins the from_json to one evaluation per row, so no
      // materialization barrier is needed.
      // The wire artifact is a second, deterministic evaluation of the
      // same render — pinned once per (session, sfDir) for the oracle
      // while the engine keeps the fused in-memory path.
    graft.Pins.writeArtifact(s, d, "wire_logs") {
      wire.write.mode("overwrite").text(WireLogsPath)
    }
    graft.parse.LogParse.ingestChain(wire)
      .groupBy(col("endpoint"), col("status_code"))
      .agg(count(lit(1)).as("n"),
        round(sum(expr("CAST(round(request_time_seconds * 100000) AS BIGINT)")) / 100000e0, 5)
          .as("total_time"))
      .orderBy(col("endpoint"), col("status_code"))
  }

  /** Ordered conversion funnel, one row per user with a view: the
    * user's first view, the first click at or after it, and the first
    * purchase at or after that click (sequence-constrained matching, not
    * three independent mins); `stage` is 1, 2 or 3 for how far the user
    * got. Rows with a NULL `ts` or an `event_type` outside the three take
    * no part; a NULL `user_id` is one user.
    */
  def funnel(s: SparkSession, d: String): DataFrame =
    funnelOf(Tables.events(s, d))

  /** The funnel core over any frame bearing (user_id, event_type, ts) —
    * shared by the batch query above and the streaming twin's spec
    * ([[graft.streaming.StreamPipelines.streamingFunnel]] must converge
    * to exactly this output on the same data).
    *
    * One ordered fold ([[foldByUser]]) over each user's rows sorted by
    * `ts`, ties broken by type rank view < click < purchase, so an event
    * at the instant of the step before it still counts (`ts >=` the
    * previous step). The walk keeps three optional instants per user: the
    * first view sets the view, the first click after it the click, and
    * the first purchase after that the purchase.
    */
  def funnelOf(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    val rows = events
      .filter(col("event_type").isin("view", "click", "purchase") && col("ts").isNotNull)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        when(col("event_type") === "view", 0)
          .when(col("event_type") === "click", 1).otherwise(2).as("rank"))
    foldByUser[(Option[Long], Long, Int), (Option[Long], Long, Option[Long], Option[Long])](
        rows, col("ts_us"), col("rank"))(_._1) { (user, run) =>
      var view, click, purchase: Option[Long] = None
      run.foreach { case (_, ts, rank) =>
        if (rank == 0 && view.isEmpty) view = Some(ts)
        else if (rank == 1 && view.nonEmpty && click.isEmpty) click = Some(ts)
        else if (rank == 2 && click.nonEmpty && purchase.isEmpty) purchase = Some(ts)
      }
      view.map(v => (user, v, click, purchase))
    }.toDF("user_id", "view_us", "click_us", "purchase_us")
      .select(col("user_id"),
        timestamp_micros(col("view_us")).as("view_ts"),
        timestamp_micros(col("click_us")).as("click_ts"),
        timestamp_micros(col("purchase_us")).as("purchase_ts"),
        when(col("purchase_us").isNotNull, 3)
          .when(col("click_us").isNotNull, 2)
          .otherwise(1).as("stage"))
      .sortInOneTask("one row per user with a view", col("user_id"))
  }

  // --- registry ---

  // lazy: oracle objects reference operator constants (e.g. DedupOracles
  // .spanCtes -> Dedup.SpanLen), so an eager defs -- which reads the oracle
  // object back -- would deadlock-null mid-initialization when a composed
  // oracle (TrainingOracles.corpusPrep4) initializes the oracle object first
  lazy val defs: Map[String, QueryDef] = Map(
    "q1_lineitem_agg"    -> QueryDef(q1LineitemAgg, Some(OracleSql.q1LineitemAgg)),
    "q_hourly_traffic"   -> QueryDef(hourlyTraffic, Some(OracleSql.hourlyTraffic)),
    "q_traffic_stats"    -> QueryDef(trafficStats, Some(OracleSql.trafficStats)),
    "q_hist_baseline"    -> QueryDef(histBaseline, Some(OracleSql.histBaseline)),
    "q_zscore_anomaly"   -> QueryDef(zscoreAnomaly, Some(OracleSql.zscoreAnomaly)),
    "q_anomalous_rows"   -> QueryDef(anomalousRows, Some(OracleSql.anomalousRows)),
    "q_anomaly_enriched" -> QueryDef(anomalyEnriched, Some(OracleSql.anomalyEnriched)),
    "q_feature_extraction" -> QueryDef(featureExtraction, Some(OracleSql.featureExtraction)),
    "q_top_event_types"  -> QueryDef(topEventTypes, Some(OracleSql.topEventTypes)),
    "q_time_range_scan"  -> QueryDef(timeRangeScan, Some(OracleSql.timeRangeScan)),
    "q_json_extract_agg" -> QueryDef(jsonExtractAgg, Some(OracleSql.jsonExtractAgg)),
    "q_value_class"      -> QueryDef(valueClassBreakdown, Some(OracleSql.valueClassBreakdown)),
    "q_window_top_per_user" -> QueryDef(windowTopPerUser, Some(OracleSql.windowTopPerUser)),
    "q_session_stats"    -> QueryDef(sessionStats, Some(OracleSql.sessionStats)),
    "q_traffic_forecast" -> QueryDef(trafficForecast, Some(OracleSql.trafficForecast)),
    "q_revenue_by_region" -> QueryDef(revenueByRegion, Some(OracleSql.revenueByRegion)),
    "q_customer_revenue" -> QueryDef(customerRevenue, Some(OracleSql.customerRevenue)),
    "q_set_ops"          -> QueryDef(setOpsNewUsers, Some(OracleSql.setOps)),
    "q_sql_dashboard"    -> QueryDef(sqlInterface, Some(SqlDashboardText)),
    "q_latency_percentiles" -> QueryDef(latencyPercentiles, Some(OracleSql.latencyPercentiles)),
    "q_interval_join"    -> QueryDef(intervalJoin, Some(OracleSql.intervalJoin)),
    "q_attribution"      -> QueryDef(linearAttribution, Some(OracleSql.linearAttribution)),
    "q_rollup_traffic"   -> QueryDef(rollupTraffic, Some(OracleSql.rollupTraffic)),
    "q_cube_traffic"     -> QueryDef(cubeTraffic, Some(OracleSql.cubeTraffic)),
    "q_pivot_daily"      -> QueryDef(pivotDaily, Some(OracleSql.pivotDaily)),
    "q_hopping_traffic"  -> QueryDef(hoppingTraffic, Some(OracleSql.hoppingTraffic)),
    "q_latency_percentiles_approx" -> QueryDef(latencyPercentilesApprox, None),
    "q_latency_percentiles_check" -> QueryDef(latencyPercentilesApproxCheck,
      Some(OracleSql.latencyPercentilesApproxCheck), headline = false),
    "q_log_ingest"       -> QueryDef(logIngest, Some(OracleSql.logIngest)),
    "q_user_retention"   -> QueryDef(userRetention, Some(OracleSql.userRetention)),
    "q_moving_avg"       -> QueryDef(movingAvg, Some(OracleSql.movingAvg)),
    "q_mad_anomaly"      -> QueryDef(madAnomaly, Some(OracleSql.madAnomaly)),
    "q_gap_fill"         -> QueryDef(gapFill, Some(OracleSql.gapFill)),
    "q_session_window"   -> QueryDef(sessionWindow, Some(OracleSql.sessionWindow)),
    "q_shipping_priority" -> QueryDef(shippingPriority, Some(OracleSql.shippingPriority)),
    "q_funnel"           -> QueryDef(funnel, Some(OracleSql.funnel)),
    "q_stats_profile"    -> QueryDef(statsProfile, Some(OracleSql.statsProfile)))
}
