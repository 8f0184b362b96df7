package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row

import graft.SparkEntry

/** `log_dashboard` and `corpus_batch`: one operation is one named query
  * of `SparkEntry.queries`, run over the generated tables in the inputs
  * directory, up to the last row of its full, ordered result collected
  * on the driver (never a `count()`, which prunes projected columns and
  * drops the final sort).
  *
  * Inputs: the tables the queries read (`events.parquet`, or
  * `documents.parquet` and `embeddings.parquet`), and `sequence.txt`,
  * the seeded query order; one round is the whole sequence. The set-up
  * runs each distinct query twice (the warm-up passes; the first builds
  * every pin cold); the timed ops are then warm.
  *
  * After the timed phase, the first timed result of each query is
  * written to `results/<query>` with its oracle SQL in `oracle_sql.json`
  * for the DuckDB check, and every op records a hash of its rows so the
  * check can tell whether each repetition returned the same result.
  */
object QueryLoop {
  def rowsHash(rows: Array[Row]): Int =
    scala.util.hashing.MurmurHash3.orderedHash(rows.iterator.map(_.toString))

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val seq = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(s"${ctx.inputs}/sequence.txt")).asScala.map(_.trim).filter(_.nonEmpty).toIndexedSeq
    val fns = SparkEntry.queries
    val missing = seq.distinct.filterNot(fns.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(",")}")

    val cold = tr.span("setup.warmup") {
      val cold = seq.distinct.map { q =>
        val t0 = System.nanoTime()
        tr.span(s"warmup.$q") { fns(q)(spark, ctx.inputs).collect() }
        q -> (System.nanoTime() - t0) / 1e6
      }.toMap
      // After one pass the JIT is still compiling the queries' paths:
      // the first timed round ran 10-40% slower than the second.
      seq.distinct.foreach(q => tr.span(s"warmup2.$q") { fns(q)(spark, ctx.inputs).collect() })
      cold
    }
    ctx.record("cold_ms") = cold

    val first = scala.collection.mutable.LinkedHashMap.empty[String, (Array[Row], org.apache.spark.sql.types.StructType)]
    ctx.timedLoop(seq.size, maxOps = Int.MaxValue) { i =>
      val q = seq(i % seq.size)
      val df = fns(q)(spark, ctx.inputs)
      val rows = df.collect()
      if (!first.contains(q)) first(q) = (rows, df.schema)
      (q, 1L, Map("rows" -> rows.length, "hash" -> rowsHash(rows)))
    }
    ctx.record("first_hash") = first.map { case (q, (rows, _)) => q -> rowsHash(rows) }

    for ((q, (rows, schema)) <- first)
      spark.createDataFrame(rows.toList.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"${ctx.out}/results/$q")
    val oracle = SparkEntry.oracleSql
    Json.write(s"${ctx.out}/oracle_sql.json",
      first.keys.flatMap(q => oracle.get(q).map(q -> _)).toMap)
  }
}
