package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.GraftParquetBridge

/** Fixture-table loaders (TESTDATA.md): one parquet file per table under a
  * scale-factor dir. Parquet is self-describing: the schema comes from one
  * footer read on the driver, so building a table's DataFrame runs no job;
  * Catalyst pushes filters + column pruning into these scans. On a real
  * cluster these paths would be partitioned table roots (date-partitioned
  * for `events`) — the reader API is identical, and partition pruning
  * replaces the reference's Postgres btree indexes
  * (reference: postgres/init.sql:80-84).
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    // Fixture timestamps are parquet TIMESTAMP(MICROS,
    // isAdjustedToUTC=false), which Spark 4 infers as TIMESTAMP_NTZ by
    // default. The engine standardizes on ONE timestamp type,
    // TIMESTAMP_LTZ (session tz pinned UTC everywhere): unix_micros,
    // watermarks, and window() require it, and with a UTC session the
    // wall-clock values the DuckDB oracle sees are identical either
    // way. Disable NTZ inference at the single fixture entry point so
    // the choice cannot depend on table-read order.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    // `spark.read.parquet(path)` would infer the schema with a Spark job
    // that reads one footer, most of the cost of building the frame; the
    // bridge reads that footer on the driver with the same file choice
    // and converter, and keeps nothing between calls.
    val path = s"$dir/$name.parquet"
    GraftParquetBridge.footerSchema(spark, path) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None => spark.read.parquet(path)
    }
  }

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  /** `events.parquet` has shipped with `ts` in two physical layouts
    * across fixture generations: parquet TIMESTAMP(NANOS) — which
    * Spark's vectorized reader rejects ([PARQUET_TYPE_ILLEGAL]) — and
    * plain TIMESTAMP(MICROS). Branch on the footer schema: a MICROS
    * column is a native TimestampType scan (filters push down
    * untouched); a NANOS column is read as a LONG (legacy conf) and
    * truncated to microseconds with integer DIV — identical to DuckDB's
    * nanos→micros truncation, so the oracle sees the same values, with
    * [[graft.plans.NanosPushdown]] restoring time-range pushdown
    * through the conversion.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // Keep the nanos pushdown rule installed regardless of layout: it
    // only matches the MicrosToTimestamp(ts DIV 1000) pattern, so it is
    // a no-op on native-micros plans. Append-if-absent so
    // caller-installed rules survive.
    if (!s.experimental.extraOptimizations.contains(graft.plans.NanosPushdown))
      s.experimental.extraOptimizations =
        s.experimental.extraOptimizations :+ graft.plans.NanosPushdown
    val raw = table(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("ts DIV 1000L")))
      case _ => raw // native TIMESTAMP(MICROS) fixture layout
    }
  }
  // The shared tokenization ([[graft.operators.TextAnalysis.words]]) is
  // the registered graft_split_words codegen function, and every text
  // operator starts from this reader: registering here makes the
  // function available to ALL consumers without a per-builder ensure.
  def documents(s: SparkSession, d: String): DataFrame = {
    graft.functions.Registry.ensure(s)
    table(s, d, "documents")
  }
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** Spread heavy PER-ROW scan work (JSON rendering, fused hashing,
    * shingle explodes) across the session's shuffle parallelism before
    * it runs. This exists because the fixture tables are one parquet
    * split, and because `repartition(key)` WITHOUT an explicit width is
    * silently defeated by AQE — it coalesces a few-MB shuffle to one
    * 64 MB-advisory partition and serializes exactly the work the
    * repartition was meant to spread (measured 3.4× on the substring
    * shingle stage). Every scan-spread site must call THIS, never a bare
    * `repartition(col)`; at 100 TB the scan arrives already split and
    * the extra exchange is noise next to the map it parallelizes.
    */
  def scanSpread(df: DataFrame, key: org.apache.spark.sql.Column): DataFrame =
    df.repartition(
      df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt, key)

  /** The final ordering of a bounded result, sorted in ONE task. A plain
    * global `orderBy` range-partitions its input, and planning that
    * exchange runs a sampling job over the sort's child stage first: a
    * query whose last stage is a window or an exact-percentile merge runs
    * that stage twice. After `repartition(1)` the sort's child is
    * `SinglePartition`, which satisfies the sort's ordered distribution,
    * so neither the range exchange nor the sampling job is planned.
    *
    * One task is acceptable because the result is bounded by its group
    * keys (or by a selective filter) and is collected whole: one sort
    * task over the rows the driver receives anyway costs no more than the
    * collect. `bound` states that bound, as for [[Pins.frame]]; a result that
    * grows with the input, or is consumed in parallel, keeps `orderBy`.
    * PlanGuardSpec keeps every single-task ordered result on an
    * allowlist with its bound.
    */
  def sortInOneTask(df: DataFrame, bound: String, cols: Column*): DataFrame = {
    require(bound.nonEmpty, "state the result-cardinality bound")
    df.repartition(1).orderBy(cols: _*)
  }

  /** Chainable [[sortInOneTask]] (`import graft.Tables.SortOps`). */
  implicit class SortOps(private val df: DataFrame) extends AnyVal {
    def sortInOneTask(bound: String, cols: Column*): DataFrame =
      Tables.sortInOneTask(df, bound, cols: _*)
  }
}

/** One engine query: a Spark DataFrame builder plus (when SQL-expressible)
  * the equivalent DuckDB oracle SQL over the same parquet tables. Oracle
  * conventions that keep the driver's hash-compare byte-stable:
  *   - every output deterministically ORDER BY'd in BOTH dialects;
  *   - every double aggregate wrapped in round(x, 4) (or coarser for large
  *     sums) in BOTH dialects, absorbing float summation-order differences;
  *   - DuckDB integer sums cast to BIGINT (DuckDB widens to HUGEINT, Spark
  *     keeps LONG);
  *   - column names aliased identically in both dialects.
  */
final case class QueryDef(
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    headline: Boolean = true)
