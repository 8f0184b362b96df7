package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}

/** Typed event row (Dataset[Event] with a case-class Encoder). */
case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
    event_type: String, value: Double)

/** A contiguous activity session (gap threshold closes a session). */
case class Session(user_id: Long, session_start: java.sql.Timestamp,
    session_end: java.sql.Timestamp, n_events: Long, total_value: Double)

/** Typed-API sessionization: `groupByKey(_.user_id).flatMapGroups`,
  * sorting each user's events in memory and splitting on >30-minute
  * gaps — the imperative per-group formulation the Dataset API is for
  * (SURVEY.md §2.8 U1: the Scala analogue of grouped-map pandas UDFs).
  *
  * Scale contract: state per task is ONE user's events (the group
  * iterator is materialized to sort) — fine when per-key cardinality is
  * bounded, which is the log-analytics case. For unbounded keys use the
  * sorted fold behind [[Analytics.sessionStats]], which sorts through
  * the shuffle's external sort and holds one user's counters, not the
  * user's events.
  *
  * Per-session totals are exact cent sums (fold order is deterministic
  * here, but the DuckDB oracle's SUM order is not — integer cents make
  * both exact; see the exact-aggregation note in Analytics).
  */
object TypedSessions {

  val GapMicros: Long = 30L * 60L * 1000000L

  def sessionize(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val events = Tables.events(s, d)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[Event]
    events.groupByKey(_.user_id)
      .flatMapGroups { (uid, it) =>
        def micros(e: Event): Long = e.ts.getTime / 1000 * 1000000 + e.ts.getNanos / 1000
        val sorted = it.toArray.sortBy(e => (micros(e), e.event_id))
        val out = scala.collection.mutable.ArrayBuffer.empty[Session]
        var start: Event = null
        var last: Event = null
        var n = 0L
        var cents = 0L
        def close(): Unit =
          if (start != null)
            out += Session(uid, start.ts, last.ts, n, cents / 100.0)
        for (e <- sorted) {
          if (start == null || micros(e) - micros(last) > GapMicros) {
            close(); start = e; n = 0L; cents = 0L
          }
          last = e; n += 1; cents += math.round(e.value * 100)
        }
        close()
        out
      }
      .toDF()
      .orderBy(col("user_id"), col("session_start"))
  }

  val oracle: String =
    """WITH lagged AS (
      |  SELECT user_id, ts, event_id, value,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
      |         THEN 1 ELSE 0 END AS new_s
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |sess AS (
      |  SELECT user_id, ts, value,
      |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM lagged)
      |SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
      |  count(*) AS n_events,
      |  sum(CAST(round(value * 100) AS BIGINT)) / 100e0 AS total_value
      |FROM sess
      |GROUP BY user_id, sid
      |ORDER BY user_id, session_start""".stripMargin

  // lazy: oracle objects reference operator constants (e.g. DedupOracles
  // .spanCtes -> Dedup.SpanLen), so an eager defs -- which reads the oracle
  // object back -- would deadlock-null mid-initialization when a composed
  // oracle (TrainingOracles.corpusPrep4) initializes the oracle object first
  lazy val defs: Map[String, QueryDef] = Map(
    "q_typed_sessions" -> QueryDef(sessionize, Some(oracle)))
}
