package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.{AnnMaintain, Dedup, TrainingPrep}
import graft.streaming.StreamPipelines

/** `corpus_delta`: micro-batches of documents through
  * `StreamPipelines.streamingCorpusIngest` — admission against the
  * frozen at-rest artifacts, leakage-free split assignment with its fold
  * and dedup-index append, and the ANN encode — against an at-rest
  * corpus many times larger than everything a run adds.
  *
  * Inputs: `documents.parquet` and `embeddings.parquet` (the at-rest
  * corpus the admission artifacts and ANN quantizers are built from),
  * `split.parquet` (its stored split table), and one parquet file per
  * micro-batch under `warmup/` and `batches/` (doc_id, text, lang, v).
  *
  * The three sink callbacks belong to the benchmark; the spans between
  * them split a micro-batch into admission, split assignment, fold plus
  * index append, and ANN encode. After the timed phase the same
  * documents go once more through `streamingCorpusAdmission` in batches
  * of another size, so the check can compare admission verdicts.
  */
object CorpusDelta {
  type Doc = (Long, String, String, Seq[Double])
  val Prefix = "pbdelta"

  private def batches(spark: SparkSession, dir: String): Array[Array[Doc]] = {
    import spark.implicits._
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .map(_.getPath).filter(_.endsWith(".parquet")).sorted
      .map(p => spark.read.parquet(p).select("doc_id", "text", "lang", "v").as[Doc].collect())
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val tr = ctx.tracer
    import spark.implicits._
    val sf = ctx.inputs
    val store = s"${ctx.out}/store"

    tr.span("setup.admission_artifacts") { TrainingPrep.corpusPrepDelta(spark, sf) }
    tr.span("setup.ann_quantizers") { AnnMaintain.annIndexAppend(spark, sf) }
    tr.span("setup.split_index") {
      Dedup.writeDedupIndex(spark.read.parquet(s"$sf/documents.parquet")
        .select(col("doc_id"), col("text")), Prefix)
      Dedup.writeSplitTable(spark.read.parquet(s"$sf/split.parquet"), Prefix)
    }
    val cdf = spark.read.parquet(AnnMaintain.CentroidsPath)
    val bdf = spark.read.parquet(AnnMaintain.CodebooksPath)

    // spans between the benchmark-owned sink callbacks; `gap` is the
    // span opened when one sink returns and closed when the next starts
    var gap: Option[Span] = None
    def endGap(): Unit = { gap.foreach(tr.close); gap = None }
    def startGap(name: String): Unit = if (tr.enabled) gap = Some(tr.open(name))
    val seen = ArrayBuffer.empty[Long]
    def tag(df: DataFrame, id: Long) = df.withColumn("batch_id", lit(id))
    val admitSink: (DataFrame, Long) => Unit = (df, id) => {
      seen.synchronized { seen += id }
      tr.span("corpus.admission") { tag(df, id).write.mode("append").parquet(s"$store/admitted") }
      startGap("corpus.split_assign")
    }
    val splitSink: (DataFrame, Long) => Unit = (df, id) => {
      tr.span("corpus.split_sink") { tag(df, id).write.mode("append").parquet(s"$store/split") }
      endGap()
      startGap("corpus.split_fold")
    }
    val annSink: (DataFrame, Long) => Unit = (df, id) => {
      endGap()
      tr.span("corpus.ann_encode") { tag(df, id).write.mode("append").parquet(s"$store/ann") }
    }

    val mem = MemoryStream[Doc](spark)
    val query = tr.span("setup.stream_start") {
      StreamPipelines.streamingCorpusIngest(
        mem.toDF().toDF("doc_id", "text", "lang", "v"), sf, Prefix, cdf, bdf,
        admitSink, splitSink, annSink, s"${ctx.out}/checkpoint")
    }
    def offer(b: Array[Doc]): Seq[Long] = {
      seen.synchronized { seen.clear() }
      mem.addData(b.toIndexedSeq)
      query.processAllAvailable()
      seen.synchronized { seen.toList }
    }
    val warm = batches(spark, s"$sf/warmup")
    val pool = batches(spark, s"$sf/batches")
    tr.span("setup.warmup") { warm.foreach(offer) }
    ctx.record("warmup_batches") = warm.length

    ctx.timedLoop(roundSize = 2, maxOps = pool.length) { i =>
      val ids = offer(pool(i))
      ("batch", pool(i).length.toLong, Map("pool" -> i, "batch_ids" -> ids))
    }
    query.stop()

    // the same documents again, re-batched: twice the batch size
    val timed = ctx.ops.collect { case op if op.ok => pool(op.i) }.toSeq
    val rebatch = MemoryStream[(Long, String, String)](spark)
    val admitAgain = StreamPipelines.streamingCorpusAdmission(
      rebatch.toDF().toDF("doc_id", "text", "lang"), sf,
      (df, id) => tag(df, id).write.mode("append").parquet(s"$store/admitted_rebatch"),
      s"${ctx.out}/checkpoint_rebatch")
    timed.grouped(2).foreach { g =>
      rebatch.addData(g.flatten.map(d => (d._1, d._2, d._3)))
      admitAgain.processAllAvailable()
    }
    admitAgain.stop()
    ctx.record("store") = Map("dir" -> store,
      "warehouse" -> ctx.warehouse, "prefix" -> Prefix)
  }
}
