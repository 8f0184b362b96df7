package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{QueryDef, Tables}

/** Interchange-format parity: CSV and ORC as first-class sources/sinks
  * beside parquet (reference `README.md` positions the engine over
  * warehouse files; real fleets receive CSV drops and ORC lakes beside
  * parquet). Each query is a full WRITE → READ round trip through the
  * format followed by an aggregate over the read-back rows, so the
  * correctness gate pins the format codec path itself, not just the
  * query on top:
  *
  *   - `q_csv_roundtrip` — the DuckDB oracle `read_csv`s THE SAME
  *     artifact Spark wrote (explicit column types + microsecond
  *     timestampformat on both sides), so Spark's CSV writer, Spark's
  *     CSV reader, and DuckDB's independent CSV parser must agree row
  *     for row — a three-way codec check.
  *   - `q_orc_roundtrip` — DuckDB has no ORC reader, so the oracle
  *     computes the same aggregate from the ORIGINAL parquet table:
  *     the query passes iff the parquet→ORC→read-back trip is
  *     lossless, micros timestamps included (pinned via epoch-micros
  *     min/max, the raw-ts oracle convention).
  *
  * The value rollups use the exact-cents convention (sum scaled LONGs,
  * divide once) — a raw double sum is shuffle-order-dependent in its
  * last ulps and can land on a rounding boundary differently per
  * engine (the drift the repo-wide convention exists to prevent).
  *
  * Scale posture: both reads are schema-pinned (no inference scan —
  * at 100 TB a schema-inference pass over CSV is a full extra read);
  * CSV is written with an explicit microsecond timestamp format
  * because the default millis pattern silently truncates; the
  * aggregates behind the round trips are ordinary pruned scans + one
  * hash-agg exchange each. ORC arrives with the same predicate
  * pushdown + column pruning machinery as parquet in Spark, so the
  * formats differ in codec, not plan shape.
  */
object FileFormats {

  /** Artifact paths are fixed per JVM tmpdir — the driver contract is
    * one sequential Verify-then-DuckDB pass per scale factor on one
    * machine, so a single writer owns each path at a time (the same
    * single-writer assumption as the dedup/simhash oracle artifacts).
    * Registered with [[graft.Pins.artifact]] so Verify deletes them at
    * startup — a stale slice from a prior run/scale factor fails loud.
    */
  val CsvPath: String = graft.Pins.artifact("csv_events")
  val OrcPath: String = graft.Pins.artifact("orc_events")

  /** The deterministic ~1% slice both round trips write: a codec check
    * needs ROW COVERAGE (every field shape, all event types, micros
    * timestamps, negative/fractional doubles), not sf-scale VOLUME — the
    * full-table write made the bench hostage to /tmp disk contention
    * (6.3 s in a full bench run vs 0.65 s isolated). The
    * mod-filter is replicated verbatim in the ORC oracle (the CSV oracle
    * reads the artifact itself, which IS the slice), so the three-way
    * check is unchanged — only the written volume shrinks.
    */
  private val SliceMod = 101
  private val SliceRem = 7
  private def sliced(df: DataFrame): DataFrame =
    df.filter(pmod(col("event_id"), lit(SliceMod)) === SliceRem)

  private val TsFmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"

  private val csvSchema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType)))

  private def typedEvents(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))

  /** CSV round trip: events → CSV artifact → schema-pinned read-back →
    * per-(type, day) rollup with epoch-micros ts bounds. The oracle
    * parses the same CSV files with DuckDB's reader.
    */
  def csvRoundtrip(s: SparkSession, d: String): DataFrame = {
    graft.Pins.writeArtifact(s, d, "csv_events") {
      sliced(typedEvents(s, d))
        .coalesce(1)
        .write.mode("overwrite")
        .option("header", "true").option("timestampFormat", TsFmt)
        .csv(CsvPath)
    }
    s.read.schema(csvSchema)
      .option("header", "true").option("timestampFormat", TsFmt)
      .csv(CsvPath)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"),
        (sum(expr("CAST(round(value * 100) AS BIGINT)")) / lit(100e0)).as("sum_value"),
        unix_micros(min(col("ts"))).as("min_ts_us"),
        unix_micros(max(col("ts"))).as("max_ts_us"))
      .orderBy(col("event_type"), col("day"))
  }

  /** ORC round trip: events → ORC → read-back → per-type rollup. The
    * oracle aggregates the original parquet table, so any loss in the
    * ORC trip (timestamp precision, double fidelity, row drops) fails
    * the hash compare.
    */
  def orcRoundtrip(s: SparkSession, d: String): DataFrame = {
    graft.Pins.writeArtifact(s, d, "orc_events") {
      sliced(typedEvents(s, d))
        .coalesce(1)
        .write.mode("overwrite").orc(OrcPath)
    }
    s.read.orc(OrcPath)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        (sum(expr("CAST(round(value * 100) AS BIGINT)")) / lit(100e0)).as("sum_value"),
        unix_micros(min(col("ts"))).as("min_ts_us"),
        unix_micros(max(col("ts"))).as("max_ts_us"))
      .orderBy(col("event_type"))
  }

  private val csvOracle: String =
    s"""SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
       |  count(*) AS n,
       |  sum(CAST(round(value * 100) AS BIGINT)) / 100e0 AS sum_value,
       |  epoch_us(min(ts)) AS min_ts_us,
       |  epoch_us(max(ts)) AS max_ts_us
       |FROM read_csv('${CsvPath}/*.csv', header = true,
       |  timestampformat = '%Y-%m-%d %H:%M:%S.%f',
       |  columns = {'event_id': 'BIGINT', 'ts': 'TIMESTAMP',
       |             'user_id': 'BIGINT', 'event_type': 'VARCHAR',
       |             'value': 'DOUBLE'})
       |GROUP BY 1, 2
       |ORDER BY event_type, day""".stripMargin

  private val orcOracle: String =
    s"""SELECT event_type, count(*) AS n,
       |  sum(CAST(round(value * 100) AS BIGINT)) / 100e0 AS sum_value,
       |  epoch_us(min(ts)) AS min_ts_us,
       |  epoch_us(max(ts)) AS max_ts_us
       |FROM events
       |WHERE event_id % $SliceMod = $SliceRem
       |GROUP BY 1
       |ORDER BY event_type""".stripMargin

  // lazy: oracle objects reference operator constants (e.g. DedupOracles
  // .spanCtes -> Dedup.SpanLen), so an eager defs -- which reads the oracle
  // object back -- would deadlock-null mid-initialization when a composed
  // oracle (TrainingOracles.corpusPrep4) initializes the oracle object first
  lazy val defs: Map[String, QueryDef] = Map(
    "q_csv_roundtrip" -> QueryDef(csvRoundtrip, Some(csvOracle)),
    "q_orc_roundtrip" -> QueryDef(orcRoundtrip, Some(orcOracle)))
}
