package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One timed operation as the run record keeps it. */
final case class Op(i: Int, name: String, startMs: Long, ms: Double, items: Long,
    ok: Boolean, err: String, info: Map[String, Any])

/** What every workload shares: the session, its inputs and outputs, the
  * tracer, and the closed loop that times operations.
  */
final class Ctx(val spark: SparkSession, val inputs: String, val out: String,
    val warehouse: String, val seconds: Double, val tracer: Tracer) {
  val ops = ArrayBuffer.empty[Op]
  val record = mutable.LinkedHashMap.empty[String, Any]
  var timedStartMs = 0L
  var timedNs = 0L

  /** Closed loop with one client: the next operation is offered only
    * when the previous one has returned. Runs whole rounds of
    * `roundSize` operations until `seconds` have passed or `maxOps` is
    * reached, so every run attempts the same mix. Runs at least two
    * rounds: on a slow host one round can outlast `seconds`, and the
    * median of one round's operations is not that of two.
    */
  def timedLoop(roundSize: Int, maxOps: Int)(op: Int => (String, Long, Map[String, Any])): Unit = {
    timedStartMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var i = 0
    def elapsed = (System.nanoTime() - t0) / 1e9
    while ((i < 2 * roundSize || elapsed < seconds) && i + roundSize <= maxOps) {
      for (_ <- 0 until roundSize) {
        tracer.op = i
        val start = System.currentTimeMillis()
        val s = tracer.open("op")
        val ns = System.nanoTime()
        val res =
          try Right(op(i))
          catch { case NonFatal(e) => Left(e) }
        val ms = (System.nanoTime() - ns) / 1e6
        tracer.close(s)
        ops += (res match {
          case Right((name, items, info)) => Op(i, name, start, ms, items, ok = true, "", info)
          case Left(e) =>
            System.err.println(s"[perfbench] op $i failed: $e")
            Op(i, "error", start, ms, 0L, ok = false, e.toString, Map.empty)
        })
        i += 1
      }
    }
    timedNs = System.nanoTime() - t0
    tracer.op = -1
  }
}

/** Runs one workload once and writes the run record. Invoked by
  * `perfbench/run.py`, which builds this program, generates the inputs
  * from the seed, and checks the outputs afterwards:
  *
  * {{{
  * perfbench.Main --workload log_stream --inputs DIR --out DIR
  *   --work DIR --seconds 20 --trace 0 --cores 4
  * }}}
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val out = a("out")
    new java.io.File(out).mkdirs()
    val tracer = new Tracer(a("trace") == "1")
    val work = a("work")
    val spark = SparkSession.builder()
      .master(s"local[${a("cores")}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    tracer.register(spark)
    val ctx = new Ctx(spark, a("inputs"), out, s"$work/warehouse", a("seconds").toDouble, tracer)
    ctx.record("session_ready_ms") = System.currentTimeMillis() - jvmStartMs
    try {
      a("workload") match {
        case "log_stream" => LogStream.run(ctx)
        case "log_dashboard" | "corpus_batch" => QueryLoop.run(ctx)
        case "corpus_delta" => CorpusDelta.run(ctx)
        case w => sys.error(s"unknown workload $w")
      }
      tracer.drain(spark)
      val firstOp = ctx.ops.headOption.fold(ctx.timedStartMs)(_.startMs)
      ctx.record("setup_ms") = firstOp - jvmStartMs
      ctx.record("timed_s") = ctx.timedNs / 1e9
      ctx.record("ops") = ctx.ops.toSeq
      if (tracer.enabled) {
        ctx.record("resident_bytes") = spark.sparkContext.getRDDStorageInfo
          .map(r => r.memSize + r.diskSize).sum
        ctx.record("rdd_blocks_built") = tracer.rddBlocksBuilt
        Json.write(s"$out/trace.json", Map(
          "spans" -> tracer.spans.toSeq, "jobs" -> tracer.jobs.toSeq,
          "stages" -> tracer.stages.toSeq, "tasks" -> tracer.tasks.toSeq,
          "plans" -> tracer.plans.toSeq, "progress" -> tracer.progress.toSeq))
      }
      Json.write(s"$out/run.json", ctx.record)
    } finally {
      spark.streams.active.foreach(q => try q.stop() catch { case NonFatal(_) => () })
      spark.stop()
    }
  }
}
