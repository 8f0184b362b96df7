package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The window and self-join formulations of the three per-user dashboard
  * queries: lag() sessionization, three stacked window mins for the
  * funnel, and a (user, day) distinct joined to itself on day + 1. They
  * state the queries' semantics in the most direct form and serve as
  * references for the sorted-fold formulations in `Analytics`.
  */
object DashboardReferences {
  def sessionStats(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          (unix_micros(col("ts")) - unix_micros(col("prev_ts"))) > 1800L * 1000000L, 1L)
          .otherwise(0L))
      .groupBy(col("user_id"))
      .agg(sum(col("new_session")).as("n_sessions"),
        count(lit(1)).as("n_events"))
      .orderBy(col("user_id"))
  }

  def funnelOf(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
    events
      .filter(col("event_type").isin("view", "click", "purchase"))
      .select(col("user_id"), col("event_type"), col("ts"))
      .withColumn("view_ts",
        min(when(col("event_type") === "view", col("ts"))).over(w))
      .withColumn("click_ts",
        min(when(col("event_type") === "click" && col("ts") >= col("view_ts"),
          col("ts"))).over(w))
      .withColumn("purchase_ts",
        min(when(col("event_type") === "purchase" && col("ts") >= col("click_ts"),
          col("ts"))).over(w))
      .filter(col("view_ts").isNotNull)
      .groupBy(col("user_id"))
      .agg(min(col("view_ts")).as("view_ts"),
        min(col("click_ts")).as("click_ts"),
        min(col("purchase_ts")).as("purchase_ts"))
      .select(col("user_id"), col("view_ts"), col("click_ts"), col("purchase_ts"),
        when(col("purchase_ts").isNotNull, 3)
          .when(col("click_ts").isNotNull, 2)
          .otherwise(1).as("stage"))
      .orderBy(col("user_id"))
  }

  def funnel(s: SparkSession, d: String): DataFrame = funnelOf(Tables.events(s, d))

  def userRetention(s: SparkSession, d: String): DataFrame = {
    val daily = Tables.events(s, d)
      .select(col("user_id"), date_trunc("day", col("ts")).cast("date").as("day"))
      .distinct()
    val next = daily.select(col("user_id").as("uid2"), col("day").as("next_day"))
    daily.join(next,
        col("user_id") === col("uid2") && date_add(col("day"), 1) === col("next_day"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("retained_users"))
      .orderBy(col("day"))
  }
}

/** The sorted-fold `sessionStats`, `funnel`/`funnelOf` and the join-free
  * `userRetention` return the references' rows, in order, on inputs the
  * fixtures never hold: NULL `user_id`, `ts` and `event_type`; equal
  * timestamps across event types; duplicate rows; a gap of exactly
  * 30 minutes; single-event users; users with no view, a click before
  * the view, a purchase without a click; one user with 90% of the rows;
  * and an empty table.
  */
class DashboardParitySpec extends SparkSpec {
  private val Schema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  private val Day0 = 1704067200000000L // 2024-01-01 00:00:00 UTC, micros
  private val Minute = 60L * 1000000L

  /** (user, micros after Day0 or None, event type) rows. */
  private def adversarialRows: Seq[(Option[Long], Option[Long], String)] = {
    val m = Minute
    val small = Seq(
      // single-event users
      (Some(1L), Some(10 * m), "view"),
      (Some(11L), Some(20 * m), "purchase"),
      // a gap of exactly 30 min continues a session, 30 min + 1 us opens one;
      // 23:50 and 00:20 the next day retain across the day boundary
      (Some(3L), Some(0L), "view"),
      (Some(3L), Some(30 * m), "click"),
      (Some(3L), Some(60 * m + 1), "purchase"),
      (Some(3L), Some(1430 * m), "view"),
      (Some(3L), Some(1460 * m), "view"),
      // no view at all
      (Some(4L), Some(5 * m), "click"),
      (Some(4L), Some(6 * m), "purchase"),
      // a click and a purchase before the view, then all three at one instant
      (Some(5L), Some(1 * m), "click"),
      (Some(5L), Some(2 * m), "purchase"),
      (Some(5L), Some(9 * m), "purchase"),
      (Some(5L), Some(9 * m), "click"),
      (Some(5L), Some(9 * m), "view"),
      // a purchase without a click
      (Some(6L), Some(3 * m), "view"),
      (Some(6L), Some(4 * m), "purchase"),
      // NULL timestamps, including a view with no instant
      (Some(7L), None, "view"),
      (Some(7L), None, "click"),
      (Some(7L), Some(100 * m), "click"),
      (Some(7L), Some(200 * m), "view"),
      (Some(7L), Some(1500 * m), "purchase"),
      (Some(12L), None, "view"),
      // NULL event types
      (Some(8L), Some(7 * m), null),
      (Some(8L), Some(8 * m), "view"),
      (Some(8L), Some(50 * m), null),
      // duplicate rows (the same event twice)
      (Some(9L), Some(15 * m), "view"),
      (Some(9L), Some(15 * m), "view"),
      (Some(9L), Some(16 * m), "click"),
      (Some(9L), Some(16 * m), "click"),
      (Some(9L), Some(1441 * m), "purchase"),
      // NULL users: one group in sessions and funnel, none in retention
      (None, Some(2 * m), "view"),
      (None, Some(3 * m), "click"),
      (None, None, "purchase"),
      (None, Some(1445 * m), "view"))
    // one user with 90% of the rows, over about 30 hours: two events
    // at each instant, 7 minutes apart and 31 minutes after every fifth
    // instant; the types cycle so that views, clicks and purchases
    // interleave and share instants
    val types = Seq("error", "click", "view", "purchase", null, "view", "click")
    val heavy = (0 until 9 * small.size).map { i =>
      val step = i / 2
      val t = step * 7 * m + (step / 5) * 24 * m
      (Some(2L), Some(t), types(i % types.size))
    }
    small ++ heavy
  }

  private def frame(rows: Seq[(Option[Long], Option[Long], String)]): DataFrame = {
    val data = rows.zipWithIndex.map { case ((u, t, e), i) =>
      Row(i.toLong, t.map(us => Timestamp.from(
          java.time.Instant.EPOCH.plusNanos((Day0 + us) * 1000L))).orNull,
        u.map(Long.box).orNull, e, i * 1.5, null)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(data, 3), Schema)
  }

  /** `rows` as an `events.parquet` in a fresh directory, `ts` written as
    * TIMESTAMP(MICROS) like the fixtures.
    */
  private def eventsDir(rows: Seq[(Option[Long], Option[Long], String)]): String = {
    val dir = Files.createTempDirectory("graft-dashboard-parity").toString
    val writer = spark.newSession()
    writer.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    writer.createDataFrame(frame(rows).rdd, Schema)
      .coalesce(1).write.parquet(s"$dir/events.parquet")
    dir
  }

  private lazy val adversarial = eventsDir(adversarialRows)
  private lazy val empty = eventsDir(Seq.empty)

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq

  private def assertSame(got: DataFrame, want: DataFrame): Unit = {
    val (g, w) = (rows(got), rows(want))
    assert(g == w, s"\n got: $g\nwant: $w")
  }

  test("the fixture holds the cases it names") {
    val all = adversarialRows
    val heavy = all.count(_._1.contains(2L))
    assert(heavy * 10 >= all.size * 9, s"user 2 holds $heavy of ${all.size} rows")
    assert(all.exists(_._1.isEmpty) && all.exists(_._2.isEmpty) && all.exists(_._3 == null))
  }

  test("sessionStats equals the lag-window reference, NULLs and an exact 30-minute gap included") {
    val want = DashboardReferences.sessionStats(spark, adversarial)
    assertSame(operators.Analytics.sessionStats(spark, adversarial), want)
    val byUser = rows(want).map(r => Option(r.get(0)) -> r.getLong(1)).toMap
    assert(byUser(Some(3L)) == 3, "30 min continues, 30 min + 1 us and a day apart open")
    assert(byUser(Some(7L)) == 5, "two NULL-ts rows, the first timed row, and two gaps")
    assert(byUser.contains(None), "the NULL user is one group")
  }

  test("funnel equals the stacked-window reference, ties on one instant included") {
    val want = DashboardReferences.funnel(spark, adversarial)
    assertSame(operators.Analytics.funnel(spark, adversarial), want)
    val stage = rows(want).map(r => Option(r.get(0)) -> r.getInt(4)).toMap
    assert(stage(Some(5L)) == 3, "view, click and purchase at one instant")
    assert(stage(Some(6L)) == 1, "a purchase without a click")
    assert(!stage.contains(Some(4L)) && !stage.contains(Some(12L)), "no timed view, no row")
    assert(stage.contains(None), "the NULL user is one user")
  }

  test("funnelOf equals the reference on an in-memory frame") {
    val events = frame(adversarialRows)
    assertSame(operators.Analytics.funnelOf(events), DashboardReferences.funnelOf(events))
  }

  test("userRetention equals the self-join reference, NULL users dropped") {
    val want = DashboardReferences.userRetention(spark, adversarial)
    assertSame(operators.Analytics.userRetention(spark, adversarial), want)
    assert(rows(want).nonEmpty)
  }

  test("an empty events table gives no rows in all three") {
    for ((got, want) <- Seq(
        operators.Analytics.sessionStats(spark, empty) -> DashboardReferences.sessionStats(spark, empty),
        operators.Analytics.funnel(spark, empty) -> DashboardReferences.funnel(spark, empty),
        operators.Analytics.userRetention(spark, empty) -> DashboardReferences.userRetention(spark, empty))) {
      assert(rows(want).isEmpty)
      assertSame(got, want)
    }
  }
}
