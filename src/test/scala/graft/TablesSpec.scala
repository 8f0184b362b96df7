package graft

import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampType}

/** `Tables.table` resolves the parquet schema from one footer on the
  * driver instead of Spark's schema-inference job. The schema must be
  * exactly the one `spark.read.parquet(path)` infers with NTZ inference
  * off, in every fixture layout, building the frame must run no job, and
  * nothing may be kept between reads: a table that gains a column is read
  * with it. No read, and no engine query, may leave its caller's session
  * changed.
  */
class TablesSpec extends SparkSpec {
  /** The sf0.01 fixture, beside the session's default scale factor. */
  private val Sf001 = new java.io.File(TestSession.Sf).getParent + "/sf0.01"
  private val FixtureTables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Spark jobs started while `body` runs on this thread. The listener
    * bus is asynchronous, so a marker job in its own group runs last and
    * the count is read once the marker has been delivered.
    */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse("<none>"))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("tables-spec-body", "body")
      try body finally sc.clearJobGroup()
      sc.setJobGroup("tables-spec-marker", "marker")
      try spark.range(1).collect() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!seen.contains("tables-spec-marker") && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(seen.contains("tables-spec-marker"), "marker job never reached the listener")
      seen.asScala.count(_ == "tables-spec-body")
    } finally sc.removeSparkListener(listener)
  }

  /** An events table in the TIMESTAMP(NANOS) layout, which Spark cannot
    * write itself; `ts` values sit a few nanos off whole micros.
    */
  private def nanosEventsDir(): String = {
    val dir = Files.createTempDirectory("graft-nanos-events").toString
    val schema = MessageTypeParser.parseMessageType(
      """message events {
        |  required int64 event_id;
        |  required int64 ts (TIMESTAMP(NANOS,false));
        |  required int64 user_id;
        |  required binary event_type (STRING);
        |  required double value;
        |  optional binary props (STRING);
        |}""".stripMargin)
    val conf = new Configuration()
    val writer = ExampleParquetWriter
      .builder(HadoopOutputFile.fromPath(new Path(s"$dir/events.parquet"), conf))
      .withType(schema).withConf(conf).build()
    val groups = new SimpleGroupFactory(schema)
    val base = 1704067200000000000L // 2024-01-01 00:00:00 UTC in nanos
    try for (i <- 0 until 10)
      writer.write(groups.newGroup()
        .append("event_id", i.toLong)
        .append("ts", base + i * 3600L * 1000000000L + 789L)
        .append("user_id", (i % 3).toLong)
        .append("event_type", "view")
        .append("value", i * 1.5)
        .append("props", s"""{"k": $i}"""))
    finally writer.close()
    dir
  }

  private val InferNtz = "spark.sql.parquet.inferTimestampNTZ.enabled"

  test("the resolved schema equals spark.read.parquet's for every sf0.01 fixture table") {
    // the engine reads fixture timestamps as LTZ without touching the
    // session; the reference read asks Spark for the same, then restores
    val was = spark.conf.getAll.get(InferNtz)
    spark.conf.set(InferNtz, "false")
    try for (t <- FixtureTables) {
      val got = Tables.table(spark, Sf001, t).schema
      assert(got == spark.read.parquet(s"$Sf001/$t.parquet").schema, t)
    } finally was.fold(spark.conf.unset(InferNtz))(spark.conf.set(InferNtz, _))
  }

  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  test("the resolved schema equals spark.read.parquet's for events in the NANOS layout") {
    val dir = nanosEventsDir()
    // a session that has read no events: Tables.events sets the option itself
    val fresh = spark.newSession()
    assert(!fresh.conf.getAll.contains(NanosAsLong))
    val events = Tables.events(fresh, dir)
    assert(fresh.conf.get(NanosAsLong) == "true", "the NANOS scan needs the legacy option")
    val raw = Tables.table(fresh, dir, "events").schema
    assert(raw == fresh.read.parquet(s"$dir/events.parquet").schema)
    assert(raw("ts").dataType == LongType, raw)
    assert(events.schema("ts").dataType == TimestampType)
    val micros = events.select(unix_micros(col("ts"))).collect().map(_.getLong(0)).sorted
    assert(micros.toSeq == (0 until 10).map(i => 1704067200000000L + i * 3600L * 1000000L),
      "nanos not truncated to micros")
  }

  /** What an engine call could leave behind in its caller's session. */
  private def sessionState(s: SparkSession) = (
    s.conf.getAll,
    s.experimental.extraOptimizations,
    s.catalog.listFunctions().collect().map(_.name).filter(_.startsWith("graft_")).toSet)

  /** An engine call, run in a fresh session that holds `preset`. */
  private case class SessionCase(name: String, run: SparkSession => Unit,
      preset: Map[String, String] = Map.empty)

  /** Engine calls that must leave their caller's session as they found
    * it: every fixture read, one query per family of native expressions
    * (Jaccard gate and minhash, the cosine lambda, space-saving, the
    * Bloom probe, compute-once, z-order), and both components paths.
    */
  private def sessionCases: Seq[SessionCase] = {
    def query(name: String) = SessionCase(name, s => SparkEntry.queries(name)(s, sf).collect())
    def microsEvents(s: SparkSession): Unit = {
      val events = Tables.events(s, Sf001)
      assert(events.schema("ts").dataType == TimestampType)
      assert(events.limit(3).collect().length == 3)
    }
    FixtureTables.map(t => SessionCase(s"Tables.table($t)", s => Tables.table(s, Sf001, t).collect())) ++
    Seq(
      SessionCase("Tables.events", microsEvents),
      SessionCase("Tables.events, nanos-as-long preset true", microsEvents,
        Map(NanosAsLong -> "true")),
      SessionCase("Tables.events, nanos-as-long preset false", microsEvents,
        Map(NanosAsLong -> "false")),
      SessionCase("Tables.documents", s => Tables.documents(s, Sf001).collect()),
      query("q_minhash_dedup"),
      query("q_semantic_decontaminate_ivf"),
      query("q_heavy_hitters"),
      query("q_bloom_decontaminate"),
      query("q_log_ingest"),
      SessionCase("LogStore.writeClustered", { s =>
        val dir = Files.createTempDirectory("graft-session-z").toString
        graft.storage.LogStore.writeClustered(Tables.events(s, sf), s"$dir/ev",
          "user_id", "event_type", files = 4)
        s.read.parquet(s"$dir/ev").collect()
      }),
      query("q_doc_components"),
      SessionCase("Graph.connectedComponents (propagation loop)", { s =>
        val v = s.range(6).select(col("id"))
        val e = s.range(3).select((col("id") * 2).as("src"), (col("id") * 2 + 1).as("dst"))
        graft.operators.Graph.connectedComponents(v, e).collect()
      }))
  }

  test("engine reads and queries leave the caller's session as they found it") {
    val changed = sessionCases.flatMap { c =>
      val s = spark.newSession()
      c.preset.foreach { case (k, v) => s.conf.set(k, v) }
      val before = sessionState(s)
      c.run(s)
      val after = sessionState(s)
      if (after == before) None
      else Some(s"${c.name}: conf +${after._1.toSet -- before._1.toSet} " +
        s"-${before._1.toSet -- after._1.toSet}, rules ${before._2} -> ${after._2}, " +
        s"functions +${after._3 -- before._3}")
    }
    assert(changed.isEmpty, changed.mkString("\n"))
  }

  test("building a table's DataFrame runs no Spark job") {
    val jobs = jobsDuring {
      FixtureTables.foreach(t => Tables.table(spark, Sf001, t).schema)
      Tables.events(spark, Sf001).schema
    }
    assert(jobs == 0, s"$jobs job(s) ran while building the frames")
    // Positive control: Spark's own inference runs a job the listener sees.
    assert(jobsDuring(spark.read.parquet(s"$Sf001/region.parquet").schema) > 0,
      "the job counter missed spark.read.parquet's inference job")
  }

  test("a table directory that gains a file with an added column is read with the new schema") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-evolving")
    val table = s"$root/t.parquet"
    Seq((1L, "a"), (2L, "b")).toDF("id", "name").coalesce(1).write.parquet(table)
    assert(Tables.table(spark, root.toString, "t").columns.toSeq == Seq("id", "name"))

    // Spark infers from the first data file in path order, so the new
    // file is named to sort first.
    val staging = s"$root/staging"
    Seq((3L, "c", 30.0)).toDF("id", "name", "score").coalesce(1).write.parquet(staging)
    val part = Files.list(java.nio.file.Paths.get(staging)).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.move(part, java.nio.file.Paths.get(table, "part-00000-0-added.parquet"),
      StandardCopyOption.ATOMIC_MOVE)

    val df = Tables.table(spark, root.toString, "t")
    assert(df.schema == spark.read.parquet(table).schema)
    assert(df.columns.toSeq == Seq("id", "name", "score"))
    val rows = df.orderBy("id").collect().map(r =>
      (r.getLong(0), r.getString(1), Option(r.get(2)).map(_.asInstanceOf[Double])))
    assert(rows.toSeq == Seq((1L, "a", None), (2L, "b", None), (3L, "c", Some(30.0))))
  }
}
