package graft.storage

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.Pins.FramePin

/** Columnar at-rest storage for log/event tables.
  *
  * The reference stores rows in Postgres and serves time/endpoint/IP
  * access paths with btree indexes (postgres/init.sql:80-84). The
  * engine inverts that (SURVEY.md §1.4): parquet at rest,
  * date-partitioned so Catalyst partition pruning replaces the
  * timestamp index, with parquet row-group min/max skipping standing in
  * for the rest. At 100 TB this layout is the difference between
  * scanning a day and scanning a year.
  *
  * Bucketing: [[writeBucketed]] persists a table pre-hashed on a join
  * key; equi-joins between tables bucketed on the same key by the same
  * count execute with NO shuffle exchange (verified in LayoutSpec).
  */
object LogStore {

  /** Append `df` date-partitioned by its `tsCol` (day granularity). */
  def writePartitioned(df: DataFrame, path: String, tsCol: String = "timestamp"): Unit =
    df.withColumn("event_date", to_date(col(tsCol)))
      .write.mode(SaveMode.Append)
      .partitionBy("event_date")
      .parquet(path)

  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Compact one date partition: streaming appends leave one small file
    * per micro-batch per partition, and at 100 TB the file count — not
    * the byte count — kills scan planning. Rewrites the partition into
    * ~`targetRows`-row files (row-count proxy for target file size).
    *
    * Swap protocol: the compacted data is fully written to a hidden tmp
    * dir first, then swapped in with two directory renames (old→aside,
    * tmp→live) — each a single metadata op. The partition's data is
    * never in a deleted state: before the swap the live dir holds the
    * old files; a crash between the renames leaves the data intact in
    * the aside dir (recoverable by rename, and the second invocation's
    * rollback path restores it); after the swap the live dir holds the
    * compacted files. The old files are deleted only once the compacted
    * dir is live. Round 1 deleted the live dir before renaming tmp in,
    * which had a crash window that lost the partition.
    */
  def compactPartition(spark: SparkSession, path: String, date: String,
      targetRows: Long = 1000000L): Unit = {
    val part = spark.read.parquet(s"$path/event_date=$date")
    val n = part.count()
    val files = math.max(1, math.ceil(n.toDouble / targetRows).toInt)
    val tmp = s"$path/.compact_tmp_event_date=$date"
    part.coalesce(files).write.mode(SaveMode.Overwrite).parquet(tmp)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    val dst = new org.apache.hadoop.fs.Path(s"$path/event_date=$date")
    val tmpP = new org.apache.hadoop.fs.Path(tmp)
    val aside = new org.apache.hadoop.fs.Path(s"$path/.compact_old_event_date=$date")
    fs.delete(aside, true) // leftover from an earlier crashed swap
    if (!fs.rename(dst, aside))
      throw new java.io.IOException(s"compactPartition: cannot move $dst aside")
    if (!fs.rename(tmpP, dst)) {
      fs.rename(aside, dst) // roll back: restore the original partition
      throw new java.io.IOException(s"compactPartition: swap failed for $dst; original restored")
    }
    fs.delete(aside, true)
  }

  /** Z-order-clustered write: range-partition + sort by the Morton
    * value of two key columns, so parquet file/row-group min/max stats
    * become selective on BOTH columns — the multi-column replacement
    * for the reference's separate endpoint and remote_addr btrees.
    * (Spark's scan still opens every file; the payoff is row-group
    * stats skipping inside the reader and file pruning in stats-aware
    * readers — LayoutSpec measures the stats-narrowing directly from
    * the parquet footers.)
    *
    * Numeric keys are range-rescaled into the 32-bit domain using their
    * actual min/max (one write-time aggregate) — raw order preserved,
    * so per-file min/max of the column stays correlated with the
    * clustering whatever the domain (epoch micros, snowflake ids).
    * Strings are hashed: identical values co-locate, keeping
    * low-cardinality string stats narrow per file.
    */
  def writeClustered(df: DataFrame, path: String, keyA: String, keyB: String,
      files: Int = 16): Unit = {
    val numeric = Seq(keyA, keyB).filter(c => df.schema(c).dataType match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.IntegerType => true
      case _ => false
    })
    val bounds: Map[String, (Long, Long)] =
      if (numeric.isEmpty) Map.empty
      else {
        val aggs = numeric.flatMap(c =>
          Seq(min(col(c)).cast("long").as(s"min_$c"), max(col(c)).cast("long").as(s"max_$c")))
        val r = df.agg(aggs.head, aggs.tail: _*).collect().head
        numeric.map(c =>
          c -> ((r.getAs[Long](s"min_$c"), r.getAs[Long](s"max_$c")))).toMap
      }
    val maxKey = (1L << 32) - 1
    def key32(c: String): org.apache.spark.sql.Column =
      bounds.get(c) match {
        case Some((lo, hi)) if hi > lo =>
          // order-preserving rescale into [0, 2^32): span computed in
          // double (hi - lo as Long overflows when the domain spans
          // more than Long.MaxValue, e.g. a Long.MinValue sentinel)
          ((col(c).cast("double") - lit(lo.toDouble)) /
            lit(hi.toDouble - lo.toDouble) * lit(maxKey.toDouble)).cast("long")
        case Some(_) => lit(0L)
        case None => pmod(xxhash64(col(c)), lit(1L << 32))
      }
    val z = graft.functions.ZOrderFunctions.zorder(key32(keyA), key32(keyB))
    df.withColumn("__z", z)
      .repartitionByRange(files, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** Pre-aggregated daily rollup cube with MERGEABLE summaries — the
    * standard 100 TB pattern for serving aggregates without touching
    * raw data: per (day, event_type) cell, an exact event count, an
    * exact integer-cents value sum, and an HLL sketch of distinct
    * users. Counts and cent-sums re-aggregate by addition; the sketch
    * re-aggregates by union (`hll_union_agg`) — so ANY coarser grain
    * (weekly, per-type, global) is a small scan over cube cells, never
    * a recompute of history. Incremental maintenance is append: a new
    * day's cell merges into every downstream query by the same
    * algebra. Distinct counts stay correct under merge because HLL
    * registers are max-mergeable — the property COUNT(DISTINCT) lacks
    * (it is not decomposable, which is exactly why raw-data rollups
    * can't serve it at scale).
    */
  def writeDailyRollup(events: DataFrame, path: String,
      tsCol: String = "ts", userCol: String = "user_id",
      valueCol: String = "value"): Unit =
    events.groupBy(to_date(col(tsCol)).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(round(col(valueCol) * 100).cast("bigint")).as("value_cents"),
        hll_sketch_agg(col(userCol)).as("users_hll"))
      .write.mode(SaveMode.Overwrite).parquet(path)

  /** Serve per-type totals from the cube: counters add, sketches union.
    * Touches |days|×|types| cells regardless of raw volume.
    */
  def rollupTotals(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)
      .groupBy(col("event_type"))
      .agg(sum(col("n_events")).as("n_events"),
        (sum(col("value_cents")) / 100e0).as("total_value"),
        hll_sketch_estimate(hll_union_agg(col("users_hll")))
          .as("distinct_users"))
      .orderBy(col("event_type"))

  /** Bucket count of every table an append targets: an append must
    * repeat its table's spec, so [[appendBucketed]] takes no count.
    */
  private val Buckets = 8

  /** Persist as a bucketed+sorted managed table (in-session catalog).
    * Joins/aggregations on `bucketCol` against co-bucketed tables need
    * no exchange.
    */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
      buckets: Int = Buckets): Unit = {
    // a managed table written by a PREVIOUS JVM leaves its warehouse
    // directory behind while the fresh session's catalog has no entry —
    // saveAsTable then refuses with LOCATION_ALREADY_EXISTS. Drop both
    // the catalog entry and the default location before writing.
    val s = df.sparkSession
    s.sql(s"DROP TABLE IF EXISTS `$table`")
    val loc = new org.apache.hadoop.fs.Path(
      s.sessionState.catalog.defaultTablePath(
        org.apache.spark.sql.catalyst.TableIdentifier(table)))
    loc.getFileSystem(s.sparkContext.hadoopConfiguration).delete(loc, true)
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
      .saveAsTable(table)
  }

  /** Append to an existing [[writeBucketed]] table of the default
    * bucket count — Spark validates the spec against the catalog entry,
    * and the appended files land in their hash buckets, so co-bucketed joins
    * stay exchange-free across appends. This is the at-rest side of
    * every incremental index in the engine: the index GROWS by batch-
    * sized appends and is never rewritten.
    */
  def appendBucketed(df: DataFrame, table: String, bucketCol: String): Unit =
    df.write.mode(SaveMode.Append)
      .bucketBy(Buckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
      .saveAsTable(table)

  /** Latest-wins upsert (MERGE-lite) into a [[writePartitioned]] store.
    *
    * Row identity is `(event_date, keyCol)` — in a date-partitioned
    * event store a row's partition is part of its identity, which keeps
    * the merge strictly partition-local. The winner per key is the row
    * with the highest `seqCol` (updates at equal seq beat existing rows
    * by the side tag, so replays are idempotent).
    *
    * One declarative plan, no driver-side loop over partitions:
    * existing rows are restricted to the touched dates with a broadcast
    * semi-join on the PARTITION column — dynamic partition pruning
    * turns that into "read only the touched partitions" — merged with
    * one window shuffle keyed (date, key), and written back with
    * dynamic partition overwrite, which atomically replaces ONLY the
    * partitions present in the output. Untouched partitions: never
    * read, never rewritten. At 100 TB an upsert batch touching 3 days
    * costs 3 partitions of IO regardless of table history.
    */
  def upsertPartitioned(spark: SparkSession, path: String, updates: DataFrame,
      keyCol: String, seqCol: String, tsCol: String = "timestamp"): Unit = {
    import org.apache.spark.sql.expressions.Window
    val upd = updates.withColumn("event_date", to_date(col(tsCol)))
      .withColumn("__side", lit(1))
    // first-ever upsert: no store to merge against — a plain
    // partitioned write of the batch (winner-per-key still applied, so
    // a batch with internal duplicates behaves like replay) (ADVICE r6)
    val storePath = new org.apache.hadoop.fs.Path(path)
    val storeExists =
      storePath.getFileSystem(spark.sessionState.newHadoopConf()).exists(storePath)
    val existing =
      if (storeExists) {
        val touched = upd.select("event_date").distinct()
        read(spark, path)
          .join(broadcast(touched), Seq("event_date"), "left_semi")
          .withColumn("__side", lit(0))
      } else upd.limit(0)
    // final xxhash64 tie-break: two update rows sharing (date, key, seq)
    // would otherwise get a nondeterministic row_number winner, making
    // repeated runs over the same batch store different payloads
    val merged = existing.unionByName(upd)
    val tieCols = merged.columns.filterNot(_ == "__side").map(col).toSeq
    val w = Window.partitionBy(col("event_date"), col(keyCol))
      .orderBy(col(seqCol).desc, col("__side").desc, xxhash64(tieCols: _*).asc)
    // EAGER frame pin: the compacted frame must be fully materialized
    // BEFORE the dynamic-partition overwrite replaces its own source
    // partitions — lazy lineage-cut would let the overwrite job itself
    // read the partitions it is replacing, making isolation depend on
    // the window's shuffle stage happening to complete before the
    // commit. The materialized set is only the touched
    // partitions' rows (broadcast-semi-pruned above).
    merged
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn", "__side")
      .pin("touched partitions' rows — materialize before self-overwrite")
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("event_date")
      .parquet(path)
  }
}
