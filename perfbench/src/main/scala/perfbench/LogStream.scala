package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.ml.ResponseTimePipeline
import graft.parse.LogParse
import graft.storage.LogStore
import graft.streaming.StreamPipelines

/** `log_stream`: micro-batches of nginx JSON wire lines through the
  * reference's three streaming jobs on one stream — the parse chain
  * (`StreamPipelines.ingest`), a date-partitioned parquet append of the
  * parsed rows, the z-score classifier against a 7-day hourly baseline,
  * and response-time predictions from a model trained in set-up.
  *
  * Inputs (from `gen.py`): `train.txt` (labelled training lines),
  * `hist.parquet` (remote_addr, hour, request_count: 168 hourly counts
  * per known IP), and the text files under `warmup/` and `batches/`
  * (one micro-batch each). One operation is one batch, from being offered until its
  * sinks have committed.
  */
object LogStream {
  private def lines(path: String): Array[String] =
    java.nio.file.Files.readAllLines(java.nio.file.Paths.get(path)).asScala.toArray

  private def listTxt(dir: String): Array[String] =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .map(_.getPath).filter(_.endsWith(".txt")).sorted

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val tr = ctx.tracer
    import spark.implicits._
    val in = ctx.inputs
    val out = ctx.out

    val hist = tr.span("setup.baseline") {
      val h = spark.read.parquet(s"$in/hist.parquet")
        .groupBy(col("remote_addr"))
        .agg(avg(col("request_count")).as("avg_requests"),
          stddev_samp(col("request_count")).as("stddev_requests"))
        .persist()
      h.count()
      h
    }
    val trainStart = System.nanoTime()
    val model = tr.span("setup.ml.train") {
      val parsed = LogParse.ingestChain(spark.read.text(s"$in/train.txt"))
      ResponseTimePipeline.train(ResponseTimePipeline.features(parsed))
        .getOrElse(sys.error("training set below the model's minimum rows"))
    }
    ctx.record("ml_train_s") = (System.nanoTime() - trainStart) / 1e9

    val rawPath = s"$out/store/raw"
    val flagPath = s"$out/store/flagged"
    val predPath = s"$out/store/predictions"
    val seen = ArrayBuffer.empty[Long]
    val sink: (DataFrame, Long) => Unit = (batch, id) => {
      seen.synchronized { seen += id }
      val b = batch.persist(StorageLevel.MEMORY_ONLY)
      try {
        tr.span("parse") { b.count() }
        tr.span("storage.write") {
          LogStore.writePartitioned(b.withColumn("batch_id", lit(id)), rawPath)
        }
        tr.span("analytics.zscore") {
          val counts = b.groupBy(col("remote_addr")).agg(count(lit(1)).as("request_count"))
          StreamPipelines.zscoreClassify(counts, hist, "remote_addr")
            .filter(col("is_anomaly"))
            .withColumn("batch_id", lit(id))
            .write.mode("append").parquet(flagPath)
        }
        tr.span("ml.predict") {
          ResponseTimePipeline.predict(model, ResponseTimePipeline.features(b))
            .withColumn("batch_id", lit(id))
            .write.mode("append").parquet(predPath)
        }
      } finally b.unpersist()
    }
    val mem = MemoryStream[String](spark)
    val query = tr.span("setup.stream_start") {
      StreamPipelines.ingest(mem.toDF(), sink, s"$out/checkpoint")
    }
    def offer(batch: Array[String]): Seq[Long] = {
      seen.synchronized { seen.clear() }
      mem.addData(batch.toIndexedSeq)
      query.processAllAvailable()
      seen.synchronized { seen.toList }
    }
    tr.span("setup.warmup") { listTxt(s"$in/warmup").foreach(p => offer(lines(p))) }

    val pool = listTxt(s"$in/batches").map(lines)
    // the pool is replayed cyclically when a run outlasts it: every
    // operation still carries its own stream batch id
    val roundSize = 5
    ctx.timedLoop(roundSize, maxOps = Int.MaxValue) { i =>
      val k = i % pool.length
      val ids = offer(pool(k))
      ("batch", pool(k).length.toLong, Map("pool" -> k, "batch_ids" -> ids))
    }
    query.stop()
    ctx.record("store") = Map("raw" -> rawPath, "flagged" -> flagPath, "predictions" -> predPath)
  }
}
