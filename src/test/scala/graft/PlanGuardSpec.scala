package graft

import org.apache.spark.sql.catalyst.plans.logical.{Window => LogicalWindow}

/** Fleet-wide plan guards over the WHOLE query surface — assertions on
  * what every registered query COMPILES to, not what it returns. The
  * first guard pins the r9 fix class: an unpartitioned window moves one
  * row per input row into a single partition, which is invisible at
  * test scale and fatal at 100 TB (the `lmQuality` ntile and
  * `vocabCoverage` rank/cumsum both shipped that way before r9). The
  * optimized logical plan is inspected, so a literal partition key —
  * which Catalyst folds away — is caught too.
  */
class PlanGuardSpec extends SparkSpec {
  import org.apache.spark.sql.DataFrame

  /** Every registered query, built once and shared by the four
    * whole-surface guards: building runs a query's frame pins, and each
    * frame plans once (its QueryExecution caches the plans). None of the
    * four guards executes a frame.
    */
  private lazy val built: Seq[(String, Either[Throwable, DataFrame])] =
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      name -> (try Right(fn(spark, sf)) catch { case e: Throwable => Left(e) })
    }

  /** The registered queries `bad` flags, plus any that fail to build or plan. */
  private def flagged(bad: DataFrame => Boolean): Seq[String] =
    built.flatMap { case (name, df) =>
      try { if (bad(df.fold(e => throw e, identity))) Some(name) else None }
      catch { case e: Throwable => Some(s"$name (planning failed: ${e.getMessage})") }
    }

  test("no registered query compiles to an unpartitioned global window") {
    val offenders = flagged(_.queryExecution.optimizedPlan.collect {
      case w: LogicalWindow if w.partitionSpec.isEmpty => w
    }.nonEmpty)
    assert(offenders.isEmpty,
      s"single-partition global-window plans (the lmQuality-ntile scale " +
        s"trap class): $offenders")
  }

  /** AQE (on by default in Spark 4) wraps any plan with exchanges in
    * `AdaptiveSparkPlanExec` — a LeafExecNode whose `collect()` never
    * descends into the wrapped plan, so a node-type match is vacuously
    * green for exactly the query class this guard polices. The rendered
    * tree string always shows the current physical plan through the
    * adaptive wrapper (and through subquery plans), so match on that,
    * like the sibling window-guard matches the logical plan.
    */
  private def plansCartesian(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.toString.contains("CartesianProduct")

  test("no registered query executes a non-broadcast cartesian product") {
    // Every cross join in the fleet must broadcast its small side
    // (BroadcastNestedLoopJoin); a CartesianProductExec shuffles BOTH
    // sides all-to-all — |A|×|B| partition pairs, invisible at fixture
    // scale and fatal at 100 TB. The two documented exact all-pairs
    // baselines (Similarity.nearDupPairs / bruteTopK) broadcast their
    // small side too, so NO query is exempt.
    val offenders = flagged(plansCartesian)
    assert(offenders.isEmpty,
      s"non-broadcast cartesian-product plans: $offenders")
  }

  test("every exact-percentile aggregate is limit-bounded or on the documented allowlist") {
    // Spark's exact `percentile` is an all-values-buffering
    // ImperativeAggregate: the final merge task holds EVERY input value
    // of its group in memory. Over corpus-cardinality input that is the
    // silent scale killer VERDICT r13 found in the DSIR cutpoint (fixed
    // by the hash-sampled top-K — its percentile now reads a
    // GlobalLimit-bounded child). Each allowlisted query carries a
    // scaladoc line stating its input-cardinality bound and the
    // documented approx/hash-sampled swap for 100 TB; any NEW exact
    // percentile must either sit above a limit or join the allowlist
    // with the same documentation (VERDICT r13 item 8).
    import org.apache.spark.sql.catalyst.expressions.aggregate.Percentile
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, GlobalLimit}
    val documented = Set(
      "q_latency_percentiles", // row-scale per event_type; approx sibling is the scale path
      "q_mad_anomaly",         // row-scale per event_type; documented approx swap
      "q_skew_profile",        // one row per distinct key; documented approx swap
      "q_user_deciles")        // one row per distinct user; documented approx swap
    val offenders = flagged(_.queryExecution.optimizedPlan.collect {
      case a: Aggregate if a.aggregateExpressions
        .exists(_.exists(_.isInstanceOf[Percentile])) =>
        a.child.collectFirst { case _: GlobalLimit => () }.isEmpty
    }.exists(identity)).filterNot(documented)
    assert(offenders.isEmpty,
      s"exact percentile over non-limit-bounded input outside the " +
        s"documented allowlist: $offenders")
  }

  /** The physical plan AQE wraps: `AdaptiveSparkPlanExec` is a leaf, so
    * a typed walk of `executedPlan` sees nothing under it. Its
    * `inputPlan` holds every exchange the query asked for
    * (`repartition`), before AQE adds the ones a sort or join requires.
    */
  private def wrappedPlan(df: DataFrame) = {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.inputPlan
      case p => p
    }
  }

  /** A global sort that runs in one task: its child has one partition. */
  private def sortsInOneTask(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
    import org.apache.spark.sql.execution.SortExec
    wrappedPlan(df).exists {
      case s: SortExec => s.global && s.child.outputPartitioning == SinglePartition
      case _ => false
    }
  }

  /** Single-task ordered results (mostly `Tables.sortInOneTask`), each
    * with the bound that makes one sort task no dearer than collecting
    * the result. A query that sorts
    * in one task without an entry here fails the guard below, and so
    * does an entry whose query no longer sorts in one task.
    */
  private val singleTaskSorts = Map(
    "q_hourly_traffic"      -> "one row per (hour, event_type)",
    "q_zscore_anomaly"      -> "one row per (user, hour) of the current day",
    "q_time_range_scan"     -> "error events of a two-day window",
    "q_session_stats"       -> "one row per user",
    "q_latency_percentiles" -> "one row per event_type",
    "q_moving_avg"          -> "one row per (event_type, day)",
    "q_user_retention"      -> "one row per day",
    "q_funnel"              -> "one row per user with a view",
    "q1_lineitem_agg"       -> "one row per (returnflag, linestatus)",
    "q_json_extract_agg"    -> "one row per event_type",
    "q_value_class"         -> "one row per (event_type, value class)",
    "q_latency_percentiles_approx" -> "one row per event_type",
    "q_stats_profile"       -> "one row per event_type",
    "q_mad_anomaly"         -> "one row per event_type",
    "q_revenue_by_region"   -> "one row per region",
    "q_pivot_daily"         -> "one row per day",
    // sorts whose child is already one partition, not the helper's
    "q_pmi_pairs"           -> "PmiTopPairs rows (a global limit)",
    "q_rt_model_score"      -> "the golden slice's GoldenRows rows")

  /** The `log_dashboard` read path: each query's final ordering must be
    * planned without the range exchange, whose sampling job re-runs the
    * sort's child stage.
    */
  private val dashboardQueries = Seq("q_hourly_traffic", "q_zscore_anomaly",
    "q_time_range_scan", "q_session_stats", "q_latency_percentiles",
    "q_moving_avg", "q_user_retention", "q_funnel")

  private def executesRangeExchange(df: DataFrame): Boolean = {
    df.collect()
    // after execution the rendered tree is AQE's final plan
    df.queryExecution.executedPlan.toString.contains("rangepartitioning")
  }

  test("the dashboard queries execute with no range-partitioning exchange") {
    val offenders = dashboardQueries.filter(q =>
      executesRangeExchange(SparkEntry.queries(q)(spark, sf)))
    assert(offenders.isEmpty, s"dashboard queries sampling for a range exchange: $offenders")
  }

  test("every single-task ordered result is on the allowlist with its bound") {
    val sorting = flagged(sortsInOneTask).toSet
    assert(singleTaskSorts.values.forall(_.nonEmpty))
    val undocumented = sorting -- singleTaskSorts.keySet
    assert(undocumented.isEmpty,
      s"single-task ordered results without a stated bound: ${undocumented.toSeq.sorted}")
    val stale = singleTaskSorts.keySet -- sorting
    assert(stale.isEmpty, s"allowlisted queries that no longer sort in one task: ${stale.toSeq.sorted}")
  }

  test("the single-task-sort and range-exchange detectors fire through the AQE wrapper (positive control)") {
    import org.apache.spark.sql.functions.col
    val shuffled = spark.range(1000).toDF("x").repartition(4)
    val oneTask = Tables.sortInOneTask(shuffled, "control", col("x"))
    assert(sortsInOneTask(oneTask), "detector missed a sort over repartition(1)")
    assert(!sortsInOneTask(shuffled.orderBy(col("x"))),
      "detector false-positived on a range-partitioned sort")
    assert(executesRangeExchange(shuffled.orderBy(col("x"))),
      "detector missed the range exchange of a plain orderBy")
    assert(!executesRangeExchange(oneTask),
      "a sort over repartition(1) still planned a range exchange")
    assert(oneTask.collect().map(_.getLong(0)).toSeq == (0L until 1000L))
  }

  /** Every node of the plan AQE ran, through its wrapper and query stages. */
  private def finalPlanNodes(df: DataFrame) = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    df.collect()
    object Aqe extends AdaptiveSparkPlanHelper
    Aqe.collect(df.queryExecution.executedPlan) { case p: SparkPlan => p }
  }

  /** Why a per-user dashboard query's final plan is not one ordered pass:
    * any window or shuffled or broadcast join, and, where `oneUserExchange`,
    * anything but one hash exchange on `user_id` besides the single-task
    * sort's exchange.
    */
  private def perUserPlanFaults(df: DataFrame, oneUserExchange: Boolean): Seq[String] = {
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
    import org.apache.spark.sql.execution.window.WindowExec
    val nodes = finalPlanNodes(df)
    val banned = nodes.collect {
      case _: WindowExec => "Window"
      case _: SortMergeJoinExec => "SortMergeJoin"
      case _: BroadcastHashJoinExec => "BroadcastHashJoin"
    }.distinct
    val exchanges = nodes.collect { case e: ShuffleExchangeExec => e.outputPartitioning }
    val byUser = exchanges.count {
      case h: HashPartitioning => h.expressions.exists {
        case a: Attribute => a.name == "user_id"
        case _ => false
      }
      case _ => false
    }
    banned ++ (if (oneUserExchange && (byUser != 1 || exchanges.size != 2))
      Seq(s"exchanges $exchanges, $byUser of them hashed on user_id") else Nil)
  }

  test("the per-user dashboard queries run no window and no join; sessions and funnel shuffle once by user") {
    val faults = Seq("q_session_stats" -> true, "q_funnel" -> true, "q_user_retention" -> false)
      .flatMap { case (q, one) =>
        perUserPlanFaults(SparkEntry.queries(q)(spark, sf), one).map(f => s"$q: $f")
      }
    assert(faults.isEmpty, faults)
  }

  test("the per-user plan guard flags the window and self-join formulations (positive control)") {
    assert(perUserPlanFaults(DashboardReferences.sessionStats(spark, sf), oneUserExchange = true)
      .contains("Window"))
    assert(perUserPlanFaults(DashboardReferences.funnel(spark, sf), oneUserExchange = true)
      .contains("Window"))
    val retention = perUserPlanFaults(DashboardReferences.userRetention(spark, sf), oneUserExchange = false)
    assert(retention.exists(_.endsWith("Join")), retention)
  }

  test("the cartesian detector fires through the AQE wrapper (positive control)") {
    // Non-vacuousness proof: a deliberate cartesian (broadcast disabled,
    // cross join, both sides shuffled so AQE wraps the plan) must be
    // caught, and the same join WITH broadcast must pass.
    val conf = spark.conf
    val saved = conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val a = spark.range(100).toDF("x").repartition(2)
      val b = spark.range(100).toDF("y").repartition(2)
      assert(plansCartesian(a.crossJoin(b)),
        "detector missed a deliberate CartesianProductExec under AQE")
      assert(!plansCartesian(
        a.crossJoin(org.apache.spark.sql.functions.broadcast(b))),
        "detector false-positived on a broadcast nested-loop join")
    } finally conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }
}
