package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.StreamPipelines

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def logLine(ts: String, addr: String, rt: String = "0.050"): String =
    s"""{"time_iso8601": "$ts", "remote_addr": "$addr",
       | "request": "GET /api/users/1 HTTP/1.1", "request_uri": "/api/users/1",
       | "status": "200", "request_time": "$rt",
       | "http_user_agent": "curl/8"}""".stripMargin.replace("\n", "")

  test("ingest pipeline: memory stream -> parse chain -> foreachBatch sink") {
    val mem = MemoryStream[String](spark)
    val sunk = scala.collection.mutable.ArrayBuffer.empty[Long]
    val cp = java.nio.file.Files.createTempDirectory("graft-cp").toString
    val q = StreamPipelines.ingest(
      mem.toDF(),
      (df: DataFrame, _: Long) => sunk.synchronized { sunk += df.count() },
      cp)
    mem.addData(
      logLine("2025-07-25T10:00:01+00:00", "1.1.1.1"),
      logLine("2025-07-25T10:00:02+00:00", "2.2.2.2"),
      "garbage not json")
    q.processAllAvailable()
    q.stop()
    assert(sunk.sum == 2, s"expected 2 parsed rows, got $sunk")
  }

  test("watermarked tumbling window counts per key; late row dropped") {
    val mem = MemoryStream[String](spark)
    val parsed = graft.parse.LogParse.ingestChain(mem.toDF())
    val windowed = StreamPipelines.windowedTraffic(parsed, "remote_addr",
      windowLen = "1 minute", watermark = "1 minute")
    val q = windowed.writeStream
      .outputMode("append")
      .format("memory")
      .queryName("win_out")
      .trigger(Trigger.ProcessingTime("0 seconds"))
      .start()
    // batch 1: two events in minute 10:00, one in 10:01
    mem.addData(
      logLine("2025-07-25T10:00:10+00:00", "a"),
      logLine("2025-07-25T10:00:50+00:00", "a"),
      logLine("2025-07-25T10:01:10+00:00", "a"))
    q.processAllAvailable()
    // batch 2: advance watermark far ahead, then a too-late row
    mem.addData(logLine("2025-07-25T10:10:00+00:00", "b"))
    q.processAllAvailable()
    mem.addData(logLine("2025-07-25T10:00:30+00:00", "late")) // < watermark
    q.processAllAvailable()
    mem.addData(logLine("2025-07-25T10:30:00+00:00", "closer")) // close everything
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("win_out")
      .select(col("window.start").cast("string"), col("remote_addr"), col("request_count"))
      .as[(String, String, Long)].collect().toSet
    assert(rows.contains(("2025-07-25 10:00:00", "a", 2L)))
    assert(rows.contains(("2025-07-25 10:01:00", "a", 1L)))
    assert(!rows.exists(_._2 == "late"), s"late row leaked: $rows")
  }

  test("mapGroupsWithState keeps running per-key totals across batches") {
    val mem = MemoryStream[String](spark)
    val parsed = graft.parse.LogParse.ingestChain(mem.toDF())
    val q = StreamPipelines.runningTrafficTotals(parsed)
      .toDF("remote_addr", "n", "total_rt")
      .writeStream
      .outputMode("update")
      .format("memory")
      .queryName("state_out")
      .start()
    mem.addData(logLine("2025-07-25T10:00:01+00:00", "x", "0.100"))
    q.processAllAvailable()
    mem.addData(logLine("2025-07-25T10:00:02+00:00", "x", "0.300"))
    q.processAllAvailable()
    q.stop()
    val last = spark.table("state_out")
      .filter(col("remote_addr") === "x")
      .orderBy(col("n").desc)
      .select("n", "total_rt").as[(Long, Double)].collect().head
    assert(last._1 == 2L && math.abs(last._2 - 0.4) < 1e-9)
  }

  test("transformWithState keeps running per-key totals across batches") {
    // twin of the mapGroupsWithState test on the Spark 4 API; requires
    // the RocksDB state store provider (scoped to this query's session)
    val session = spark.newSession()
    session.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val mem = MemoryStream[String](session)
    val parsed = graft.parse.LogParse.ingestChain(mem.toDF())
    val q = StreamPipelines.runningTrafficTotalsTws(parsed)
      .toDF("remote_addr", "n", "total_rt")
      .writeStream
      .outputMode("update")
      .format("memory")
      .queryName("tws_out")
      .start()
    mem.addData(logLine("2025-07-25T10:00:01+00:00", "x", "0.100"))
    q.processAllAvailable()
    mem.addData(logLine("2025-07-25T10:00:02+00:00", "x", "0.300"),
      logLine("2025-07-25T10:00:03+00:00", "y", "0.500"))
    q.processAllAvailable()
    q.stop()
    val out = session.table("tws_out")
      .groupBy(col("remote_addr"))
      .agg(max(col("n")).as("n"), max(col("total_rt")).as("rt"))
      .as[(String, Long, Double)].collect()
      .map { case (k, n, rt) => k -> ((n, rt)) }.toMap
    assert(out("x")._1 == 2L && math.abs(out("x")._2 - 0.4) < 1e-9, out.toString)
    assert(out("y")._1 == 1L && math.abs(out("y")._2 - 0.5) < 1e-9, out.toString)
  }

  test("transformWithState ListState/MapState session with event-time timer eviction") {
    // full state-surface exercise: trail (ListState) + per-endpoint
    // counts (MapState) + one re-armed event-time timer per key whose
    // expiry emits a "closed" row and CLEARS all state — a returning key
    // must start from scratch
    val session = spark.newSession()
    session.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import session.implicits._
    val mem = MemoryStream[(String, String, java.sql.Timestamp)](session)
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val q = StreamPipelines.endpointSessions(
        mem.toDF().toDF("remote_addr", "endpoint", "timestamp"),
        gapMs = 5 * 60 * 1000L)
      .writeStream.outputMode("append")
      .format("memory").queryName("sessions_out").start()

    // batch 1: s1 hits /a twice and /b once; s2 appears
    mem.addData(
      ("s1", "/a", ts("2025-07-25 10:00:00")),
      ("s1", "/a", ts("2025-07-25 10:00:05")),
      ("s1", "/b", ts("2025-07-25 10:00:10")),
      ("s2", "/z", ts("2025-07-25 10:00:20")))
    q.processAllAvailable()
    // batch 2: only s2, far ahead — end-of-batch watermark 10:15 passes
    // s1's 10:05:10 timer
    mem.addData(("s2", "/z", ts("2025-07-25 10:20:00")))
    q.processAllAvailable()
    // batch 3: s2 again; s1's expired timer fires during this batch
    mem.addData(("s2", "/z", ts("2025-07-25 10:21:00")))
    q.processAllAvailable()
    // batch 4: s1 returns — state must have been evicted
    mem.addData(("s1", "/c", ts("2025-07-25 10:30:00")))
    q.processAllAvailable()
    q.stop()

    val rows = session.table("sessions_out")
      .as[(String, String, Int, Int, String)].collect()
    val s1Updates = rows.filter(r => r._1 == "update" && r._2 == "s1")
    assert(s1Updates.exists(r => r._3 == 2 && r._4 == 3 && r._5 == "/a"),
      s"first-session profile missing: ${rows.toSeq}")
    val s1Closed = rows.filter(r => r._1 == "closed" && r._2 == "s1")
    assert(s1Closed.length == 1 && s1Closed.head._4 == 3,
      s"timer close missing/wrong: ${rows.toSeq}")
    // post-eviction return starts a FRESH session (1 hit, 1 endpoint)
    assert(s1Updates.exists(r => r._3 == 1 && r._4 == 1 && r._5 == "/c"),
      s"state not evicted on timer: ${rows.toSeq}")
  }

  test("session timer never moves backward on out-of-order batches") {
    // ADVICE r3: a later batch containing only out-of-order (but not
    // watermark-dropped) events must not re-arm an EARLIER expiry and
    // close the session below last-seen + gap. s1's last-seen is
    // 10:00:00 (timer 10:05:00, 5 min gap); batch 2 delivers an older
    // 09:58:00 event (above the 09:55 watermark). A backward-moving
    // timer would re-arm at 10:03:00 and fire when the watermark
    // reaches 10:04:00 — the fixed processor keeps 10:05:00 armed.
    val session = spark.newSession()
    session.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import session.implicits._
    val mem = MemoryStream[(String, String, java.sql.Timestamp)](session)
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val q = StreamPipelines.endpointSessions(
        mem.toDF().toDF("remote_addr", "endpoint", "timestamp"),
        gapMs = 5 * 60 * 1000L)
      .writeStream.outputMode("append")
      .format("memory").queryName("sessions_mono_out").start()

    mem.addData(("s1", "/a", ts("2025-07-25 10:00:00")))
    q.processAllAvailable()
    // out-of-order: older than last-seen, newer than the watermark
    mem.addData(("s1", "/b", ts("2025-07-25 09:58:00")))
    q.processAllAvailable()
    // push the watermark to 10:04 (between the buggy 10:03 re-arm and
    // the correct 10:05 expiry) ...
    mem.addData(("s2", "/z", ts("2025-07-25 10:09:00")))
    q.processAllAvailable()
    // ... and one more batch so any timer below the 10:04 watermark fires
    mem.addData(("s2", "/z", ts("2025-07-25 10:09:30")))
    q.processAllAvailable()
    q.stop()

    val rows = session.table("sessions_mono_out")
      .as[(String, String, Int, Int, String)].collect()
    // the out-of-order event WAS processed (2 distinct endpoints seen)
    assert(rows.exists(r => r._1 == "update" && r._2 == "s1" && r._3 == 2),
      s"out-of-order event dropped: ${rows.toSeq}")
    // but it did NOT shorten the session
    assert(!rows.exists(r => r._1 == "closed" && r._2 == "s1"),
      s"session closed before last-seen + gap: ${rows.toSeq}")
  }

  test("streaming near-dedup flags cross-batch near-duplicates, exact-verified") {
    val session = spark.newSession()
    session.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import session.implicits._
    val mem = MemoryStream[(Long, String)](session)
    val q = StreamPipelines.streamingNearDedup(
        mem.toDF().toDF("doc_id", "text"))
      .writeStream.outputMode("append")
      .format("memory").queryName("neardup_hits").start()

    val template = "the quick brown fox jumps over the lazy dog while the " +
      "slow grey cat sleeps under the warm wooden table near the garden door"
    val unrelated = "completely different content about spark catalyst " +
      "optimizer rules and whole stage code generation internals"
    // batch 1 establishes representatives
    mem.addData((1L, template), (2L, unrelated))
    q.processAllAvailable()
    // batch 2: exact dup of 1, a light mutation of 1, and fresh content
    mem.addData(
      (3L, template),
      (4L, template.replace("lazy dog", "lazy hound")),
      (5L, "entirely novel text with no overlap to anything seen before now"))
    q.processAllAvailable()
    q.stop()

    val hits = session.table("neardup_hits").as[(Long, Long, Double)].collect()
    val byDoc = hits.groupBy(_._1)
    // the exact duplicate and the near-mutation both resolve to doc 1
    assert(byDoc.contains(3L) && byDoc(3L).forall(_._2 == 1L), hits.toSeq.toString)
    assert(byDoc(3L).forall(h => math.abs(h._3 - 1.0) < 1e-12))
    assert(byDoc.contains(4L) && byDoc(4L).forall(_._2 == 1L), hits.toSeq.toString)
    assert(byDoc(4L).forall(h => h._3 >= 0.5 && h._3 < 1.0))
    // representatives and unrelated content are never flagged
    assert(!byDoc.contains(1L) && !byDoc.contains(2L) && !byDoc.contains(5L),
      hits.toSeq.toString)
  }

  test("streaming decontamination matches the batch gate verdict across batch boundaries") {
    import spark.implicits._
    // batch-gate ground truth at this SF: the corpus-wide train-side
    // verdict (doc_id, n_grams_hit, n_positions)
    val expected = graft.operators.ScaleOps.ngramDecontaminate(spark, sf)
      .as[(Long, Long, Long)].collect().toSet
    assert(expected.nonEmpty, "fixture has no contaminated docs")
    val benchGrams = graft.operators.ScaleOps.wordGramsOf(
      Tables.documents(spark, sf).filter(GoldenHash.isTestDoc(col("doc_id"))))
      .select(col("g")).distinct()
    val train = Tables.documents(spark, sf)
      .filter(!GoldenHash.isTestDoc(col("doc_id")))
      .select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().toSeq

    val mem = MemoryStream[(Long, String)](spark)
    val sunk = scala.collection.mutable.Set.empty[(Long, Long, Long)]
    val cp = java.nio.file.Files.createTempDirectory("graft-decontam-cp").toString
    val q = StreamPipelines.streamingDecontaminate(
      mem.toDF().toDF("doc_id", "text"), benchGrams,
      (df, _) => sunk.synchronized { sunk ++= df.as[(Long, Long, Long)].collect() }, cp)
    // two micro-batches: the verdict is per-doc stateless, so the split
    // must not change anything
    val (b1, b2) = train.splitAt(train.size / 2)
    mem.addData(b1: _*)
    q.processAllAvailable()
    mem.addData(b2: _*)
    q.processAllAvailable()
    q.stop()
    assert(sunk.toSet == expected,
      s"streamed ${sunk.size} verdicts != batch ${expected.size}")
  }

  test("streaming split assignment inherits across micro-batches and matches the batch loop") {
    import graft.operators.Dedup
    // the gen-2 fixture from DedupSpec, sliced into two micro-batches:
    // at rest {20 (val cluster), 41}; batch 1 {27 ≈ 20, 47 fresh P};
    // batch 2 {31 ≈ T, 51 ≈ P, 71 lone}. 51's only near-dup (47)
    // arrived in batch 1 — inheriting its split REQUIRES the per-batch
    // fold + index append.
    val T  = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val T2 = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda nu"
    val T3 = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda xi"
    val P  = "orange banana cherry grape melon peach plum apricot fig date kiwi lime"
    val P2 = "orange banana cherry grape melon peach plum apricot fig date kiwi lemon"
    val atRest = Seq(
      (20L, T, "en", "s", 60L),
      (41L, "completely different text about query engines and shuffle joins okay", "en", "s", 60L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    Dedup.writeDedupIndex(atRest, "streamsplit")
    Dedup.writeSplitTable(
      Seq((20L, 20L, "val"), (41L, 41L, "train")).toDF("doc_id", "label", "split"),
      "streamsplit")

    val mem = MemoryStream[(Long, String)](spark)
    val sunk = scala.collection.mutable.ArrayBuffer
      .empty[(Long, (Long, Long, Option[Long], String))]
    val cp = java.nio.file.Files.createTempDirectory("graft-splitassign-cp").toString
    val q = StreamPipelines.streamingSplitAssign(
      mem.toDF().toDF("doc_id", "text"), "streamsplit",
      (df, id) => sunk.synchronized {
        sunk ++= df.collect().map(r => id -> ((r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)), r.getString(3))))
      }, cp)
    mem.addData((27L, T2), (47L, P))
    q.processAllAvailable()
    mem.addData((31L, T3), (51L, P2),
      (71L, "yet another unrelated document mentioning windows and watermarks here"))
    q.processAllAvailable()
    q.stop()
    val byId = sunk.map { case (_, t) => t._1 -> t }.toMap
    assert(byId(27L) == ((27L, 27L, Some(20L), "val")), sunk.toString)
    assert(byId(47L) == ((47L, 47L, None, "train")), sunk.toString)
    assert(byId(31L)._4 == "val", s"gen-2 paraphrase must stay val: $sunk")
    assert(byId(51L) == ((51L, 51L, Some(47L), "train")),
      s"cross-batch inheritance through the fold failed: $sunk")
    assert(byId(71L) == ((71L, 71L, None, "train")), sunk.toString)

    // the streamed second batch equals the batch gen-2 query on the
    // same slices (shared chain body + shared fold)
    val dir = java.nio.file.Files.createTempDirectory("graft-splitassign").toString
    val all = atRest.unionByName(Seq(
      (27L, T2, "en", "s", 60L), (47L, P, "en", "s", 60L),
      (31L, T3, "en", "s", 60L), (51L, P2, "en", "s", 60L),
      (71L, "yet another unrelated document mentioning windows and watermarks here", "en", "s", 60L))
      .toDF("doc_id", "text", "lang", "source", "n_chars"))
    all.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val batch2 = sunk.collect { case (id, t) if id == 1L => t }.toSet
    val viaBatch = Dedup.splitAssignDelta2(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)), r.getString(3))).toSet
    assert(batch2 == viaBatch, s"streamed $batch2 != batch $viaBatch")
  }

  test("streaming BM25 probe is batch-boundary-invariant against the batch path") {
    import graft.operators.Retrieval
    val (postings, termStats, stats) = Retrieval.bm25IndexFrames(spark, sf)
    val expected = Retrieval.bm25Indexed(spark, sf).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet

    val mem = MemoryStream[(Int, String)](spark)
    val sunk = scala.collection.mutable.Set.empty[(Int, Int, Long, Double)]
    val cp = java.nio.file.Files.createTempDirectory("graft-bm25-cp").toString
    val q = StreamPipelines.streamingBm25Probe(
      mem.toDF().toDF("query_id", "term"), postings, termStats, stats,
      (df, _) => sunk.synchronized {
        sunk ++= df.as[(Int, Int, Long, Double)].collect()
      }, cp)
    // split the query set mid-stream: per-query scoring is stateless
    // against the static index, so the union must equal the batch run
    val (b1, b2) = Retrieval.BmQueries.partition(_._1 < 2)
    mem.addData(b1: _*)
    q.processAllAvailable()
    mem.addData(b2: _*)
    q.processAllAvailable()
    q.stop()
    assert(sunk.toSet == expected,
      s"streamed ${sunk.size} result rows != batch ${expected.size}")
  }

  test("streaming BM25 probe serves the APPENDED index, batch-boundary-invariant") {
    import graft.operators.Retrieval
    // the serving twin of the incremental-postings story: queries stream
    // against base ∪ delta with counter-refreshed stats — the same
    // frames the batch probe-after-append consumes
    val (postings, termStats, stats) = Retrieval.bm25AppendedFrames(spark, sf)
    val expected = Retrieval.bm25AppendProbe(spark, sf).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet

    val mem = MemoryStream[(Int, String)](spark)
    val sunk = scala.collection.mutable.Set.empty[(Int, Int, Long, Double)]
    val cp = java.nio.file.Files.createTempDirectory("graft-bm25a-cp").toString
    val q = StreamPipelines.streamingBm25Probe(
      mem.toDF().toDF("query_id", "term"), postings, termStats, stats,
      (df, _) => sunk.synchronized {
        sunk ++= df.as[(Int, Int, Long, Double)].collect()
      }, cp)
    val (b1, b2) = Retrieval.BmQueries.partition(_._1 < 2)
    mem.addData(b1: _*)
    q.processAllAvailable()
    mem.addData(b2: _*)
    q.processAllAvailable()
    q.stop()
    assert(sunk.toSet == expected,
      s"streamed ${sunk.size} result rows != batch ${expected.size}")
  }

  test("streaming BM25 probe serves the GEN-2 appended index") {
    import graft.operators.Retrieval
    // the serving twin of the two-generation postings story: queries
    // stream against base ∪ A ∪ B with twice-folded stats — the same
    // frames the gen-2 batch probe consumes (VERDICT r14 item 4)
    val (postings, termStats, stats) = Retrieval.bm25Append2Frames(spark, sf)
    val expected = Retrieval.bm25Append2Probe(spark, sf).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet

    val mem = MemoryStream[(Int, String)](spark)
    val sunk = scala.collection.mutable.Set.empty[(Int, Int, Long, Double)]
    val cp = java.nio.file.Files.createTempDirectory("graft-bm25g2-cp").toString
    val q = StreamPipelines.streamingBm25Probe(
      mem.toDF().toDF("query_id", "term"), postings, termStats, stats,
      (df, _) => sunk.synchronized {
        sunk ++= df.as[(Int, Int, Long, Double)].collect()
      }, cp)
    val (b1, b2) = Retrieval.BmQueries.partition(_._1 < 2)
    mem.addData(b1: _*)
    q.processAllAvailable()
    mem.addData(b2: _*)
    q.processAllAvailable()
    q.stop()
    assert(sunk.toSet == expected,
      s"streamed ${sunk.size} result rows != batch ${expected.size}")
  }

  test("streaming corpus admission is batch-boundary-invariant against corpusPrepDelta") {
    import graft.operators.TrainingPrep
    // batch truth first (also builds + pins the frozen at-rest indexes)
    val expected = TrainingPrep.corpusPrepDelta(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    val deltaRows = Tables.documents(spark, sf)
      .filter(GoldenHash.bucket(col("doc_id"), 20) === 7)
      .select(col("doc_id"), col("text"), col("lang"))
      .as[(Long, String, String)].collect()
    assert(deltaRows.nonEmpty)

    // adversarial split: delta ids are ≡ 7 (mod 20), so split on the
    // QUOTIENT's parity (the GoldenHash small-modulus trap) — adjacent
    // ids land in different micro-batches, cutting any near-dup cluster
    // structure across the batch boundary
    val (b1, b2) = deltaRows.partition(r => (r._1 / 20) % 2 == 0)
    assert(b1.nonEmpty && b2.nonEmpty, s"degenerate split ${b1.length}/${b2.length}")

    val mem = MemoryStream[(Long, String, String)](spark)
    val sunk = scala.collection.mutable.Set.empty[(Long, String, Long, Long, Long)]
    val cp = java.nio.file.Files.createTempDirectory("graft-admit-cp").toString
    val q = StreamPipelines.streamingCorpusAdmission(
      mem.toDF().toDF("doc_id", "text", "lang"), sf,
      (df, _) => sunk.synchronized {
        sunk ++= df.as[(Long, String, Long, Long, Long)].collect()
      }, cp)
    mem.addData(b1.toSeq: _*)
    q.processAllAvailable()
    mem.addData(b2.toSeq: _*)
    q.processAllAvailable()
    q.stop()
    assert(sunk.toSet == expected,
      s"streamed ${sunk.size} admissions != batch ${expected.size}: " +
        s"missing=${(expected -- sunk).take(3)} extra=${(sunk.toSet -- expected).take(3)}")
  }

  test("streaming admission emits per-batch vocab-drift flags matching the batch audit") {
    import graft.operators.{BpeTrain, TrainingPrep}
    // batch audit truth first (also trains + pins the frozen merges);
    // admission artifacts for the chain the sink consumes
    val expected = BpeTrain.vocabDrift(spark, sf).collect().map(_.toSeq).toSet
    TrainingPrep.corpusPrepDelta(spark, sf).count()
    val deltaRows = Tables.documents(spark, sf)
      .filter(GoldenHash.bucket(col("doc_id"), 20) === 7)
      .select(col("doc_id"), col("text"), col("lang"))
      .as[(Long, String, String)].collect()
    assert(deltaRows.nonEmpty)

    val mem = MemoryStream[(Long, String, String)](spark)
    val drift = scala.collection.mutable.Set.empty[Seq[Any]]
    val cp = java.nio.file.Files.createTempDirectory("graft-vdrift-cp").toString
    val q = StreamPipelines.streamingCorpusAdmission(
      mem.toDF().toDF("doc_id", "text", "lang"), sf,
      (_, _) => (), cp,
      driftSink = Some((df, _) => drift.synchronized {
        drift ++= df.collect().map(_.toSeq)
      }))
    // ONE micro-batch carrying the whole fixture delta slice: per-batch
    // flags must equal the batch audit exactly (same frozen merges,
    // same cached at-rest counters, same cross-multiplied rule)
    mem.addData(deltaRows.toSeq: _*)
    q.processAllAvailable()
    q.stop()
    assert(drift.toSet == expected,
      s"streamed drift ${drift.size} rows != batch audit ${expected.size}")
  }

  test("streaming admission emits per-batch unigram-drift flags matching the batch audit") {
    import graft.operators.{TrainingPrep, UnigramLm}
    // batch audit truth first (trains + caches the frozen piece table);
    // admission artifacts for the chain the sink consumes
    val expected = UnigramLm.unigramDrift(spark, sf).collect().map(_.toSeq).toSet
    assert(expected.nonEmpty)
    TrainingPrep.corpusPrepDelta(spark, sf).count()
    val deltaRows = Tables.documents(spark, sf)
      .filter(GoldenHash.bucket(col("doc_id"), 20) === 7)
      .select(col("doc_id"), col("text"), col("lang"))
      .as[(Long, String, String)].collect()
    assert(deltaRows.nonEmpty)

    val mem = MemoryStream[(Long, String, String)](spark)
    val drift = scala.collection.mutable.Set.empty[Seq[Any]]
    val cp = java.nio.file.Files.createTempDirectory("graft-udrift-cp").toString
    val q = StreamPipelines.streamingCorpusAdmission(
      mem.toDF().toDF("doc_id", "text", "lang"), sf,
      (_, _) => (), cp,
      uniDriftSink = Some((df, _) => drift.synchronized {
        drift ++= df.collect().map(_.toSeq)
      }))
    // ONE micro-batch carrying the whole fixture delta slice: per-batch
    // flags must equal the batch audit exactly (same frozen pieces,
    // same cached at-rest counters, same cross-multiplied rule)
    mem.addData(deltaRows.toSeq: _*)
    q.processAllAvailable()
    q.stop()
    assert(drift.toSet == expected,
      s"streamed unigram drift ${drift.size} rows != batch audit ${expected.size}")
  }

  test("streaming split assignment: bridge docs flag migrate; replayed batches are no-ops") {
    import graft.operators.Dedup
    // at rest: the SAME near-dup family registered under TWO different
    // cluster labels with different splits — the pre-merge state
    // q_split_drift audits per version; a batch doc near both anchors
    // is exactly the bridge event the per-batch monitor must flag
    val T  = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val T2 = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda nu"
    val T3 = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda xi"
    val atRest = Seq((20L, T), (22L, T2)).toDF("doc_id", "text")
    Dedup.writeDedupIndex(atRest, "streambridge")
    Dedup.writeSplitTable(
      Seq((20L, 20L, "val"), (22L, 22L, "train")).toDF("doc_id", "label", "split"),
      "streambridge")
    // batch-side truth BEFORE the stream grows the state
    val batchDf = Seq((30L, T3),
      (40L, "wholly unrelated content about brokers and offsets and lag"))
      .toDF("doc_id", "text")
    val direct = Dedup.splitBridgeMonitor(spark,
        Dedup.verifiedProbePairs(spark, Dedup.minhashIndexOf(batchDf), "streambridge"),
        "streambridge")
      .collect().map(_.toSeq).toSet

    val assignedRows = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
    def stream(data: Seq[(Long, String)]): Set[Seq[Any]] = {
      val mem = MemoryStream[(Long, String)](spark)
      val drift = scala.collection.mutable.Set.empty[Seq[Any]]
      val cp = java.nio.file.Files.createTempDirectory("graft-bridge-cp").toString
      val q = StreamPipelines.streamingSplitAssign(
        mem.toDF().toDF("doc_id", "text"), "streambridge",
        (df, _) => assignedRows.synchronized {
          assignedRows ++= df.collect().map(_.toSeq)
        }, cp,
        driftSink = Some((df, _) => drift.synchronized {
          drift ++= df.collect().map(_.toSeq)
        }))
      mem.addData(data: _*)
      q.processAllAvailable()
      q.stop()
      drift.toSet
    }
    val streamed = stream(Seq((30L, T3),
      (40L, "wholly unrelated content about brokers and offsets and lag")))
    assert(streamed == direct, s"streamed $streamed != direct $direct")
    val bridge = streamed.find(_.head == 30L).get
    assert(bridge(1) == 2L && bridge(2) == 2L && bridge(3) == true,
      s"doc 30 must bridge 2 clusters / 2 splits: $bridge")
    assert(!streamed.exists(r => r.head == 40L && r(3) == true), streamed.toString)

    // replay idempotency (ADVICE r14): re-delivering the same batch must
    // leave the at-rest split table and index untouched (the per-table
    // anti-join guards), even though the sink re-fires.
    // refreshTable: the pre-stream splitBridgeMonitor call cached this
    // session's relation (file-list snapshot); the streaming clone's
    // appends don't invalidate another session's metadata cache —
    // standard Spark semantics for externally-appended tables
    spark.catalog.refreshTable("streambridge_split")
    spark.catalog.refreshTable("streambridge_grams")
    val splitN = spark.table("streambridge_split").count()
    val gramsN = spark.table("streambridge_grams").count()
    assert(splitN == 4L, // 2 at-rest + 2 batch
      s"fold after first batch: $splitN; assigned=$assignedRows; " +
        s"table=${spark.table("streambridge_split").collect().toSeq}")
    stream(Seq((30L, T3),
      (40L, "wholly unrelated content about brokers and offsets and lag")))
    spark.catalog.refreshTable("streambridge_split")
    spark.catalog.refreshTable("streambridge_grams")
    assert(spark.table("streambridge_split").count() == splitN,
      "replayed batch re-folded into the split table")
    assert(spark.table("streambridge_grams").count() == gramsN,
      "replayed batch re-appended index rows")
  }

  test("a split micro-batch evaluates its signatures in one plan and reads the bands once per probe") {
    import graft.operators.Dedup
    import graft.functions.MinhashSignature
    import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.util.QueryExecutionListener
    val T  = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val T2 = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda nu"
    val T3 = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda xi"
    Dedup.writeDedupIndex(Seq((20L, T), (22L, T2)).toDF("doc_id", "text"), "streamshape")
    Dedup.writeSplitTable(
      Seq((20L, 20L, "val"), (22L, 22L, "train")).toDF("doc_id", "label", "split"),
      "streamshape")

    // every executed plan's node list, through AQE's final plan and its
    // stages; a reused exchange is a leaf, so nothing is counted twice
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: ((p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case o => o.children.flatMap(nodes)
    }) ++ p.subqueries.flatMap(nodes))
    // per executed plan: (evaluates the signature, `_bands` scans)
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[(Boolean, Int)]()
    @volatile var markerSeen = false
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, durationNs: Long): Unit = {
        if (qe.analyzed.output.exists(_.name == "shape_marker")) markerSeen = true
        val ns = nodes(qe.executedPlan)
        plans.add((
          ns.exists(_.expressions.exists(_.exists(_.isInstanceOf[MinhashSignature]))),
          ns.count {
            case s: FileSourceScanExec => s.tableIdentifier.exists(_.table == "streamshape_bands")
            case _ => false
          }))
      }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    // registered before the start, so the stream's cloned session has it
    spark.listenerManager.register(listener)
    val assigned = scala.collection.mutable.ArrayBuffer.empty[Long]
    val bridged = scala.collection.mutable.ArrayBuffer.empty[Long]
    try {
      val mem = MemoryStream[(Long, String)](spark)
      val cp = java.nio.file.Files.createTempDirectory("graft-shape-cp").toString
      val q = StreamPipelines.streamingSplitAssign(
        mem.toDF().toDF("doc_id", "text"), "streamshape",
        (df, _) => assigned.synchronized { assigned ++= df.collect().map(_.getLong(0)) }, cp,
        driftSink = Some((df, _) => bridged.synchronized {
          bridged ++= df.filter(col("migrate")).collect().map(_.getLong(0))
        }))
      mem.addData((30L, T3), (40L, "wholly unrelated content about brokers and offsets and lag"))
      q.processAllAvailable()
      q.stop()
      // listener events arrive asynchronously and in order: once the
      // marker query is seen, every plan of the micro-batch has been
      spark.range(1).toDF("shape_marker").collect()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!markerSeen && System.nanoTime() < deadline) Thread.sleep(20)
      assert(markerSeen, "marker query never reached the listener")
    } finally spark.listenerManager.unregister(listener)

    assert(assigned.sorted == Seq(30L, 40L), assigned.toString)
    assert(bridged == Seq(30L), s"doc 30 bridges two at-rest clusters: $bridged")
    val all = plans.toArray(Array.empty[(Boolean, Int)]).toSeq
    assert(all.count(_._1) == 1,
      s"${all.count(_._1)} executed plans evaluate the signature; the batch owns one index")
    // one probe (the monitor and the assignment share its pairs) plus
    // the replay guard of the bands append
    val bandScans = all.map(_._2).sum
    assert(bandScans <= 2, s"$bandScans scans of streamshape_bands in one micro-batch")
  }

  test("unified corpus ingest equals the three standalone loops on the same slices") {
    import graft.operators.{AnnMaintain, Dedup, TrainingPrep}
    // frozen artifacts both wirings consume: admission chain artifacts
    // + ANN quantizer sidecars + at-rest cell stats
    TrainingPrep.corpusPrepDelta(spark, sf).count()
    AnnMaintain.annIndexAppend(spark, sf).count()
    val cdf = spark.read.parquet(AnnMaintain.CentroidsPath)
    val bdf = spark.read.parquet(AnnMaintain.CodebooksPath)
    val vecsAll = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val atStats = AnnMaintain.atRestCellStats(
      vecsAll.filter(GoldenHash.bucket(col("vec_id"), 20) =!= 7), cdf).cache()

    // the split test's gen-2 doc fixture + real-dimension embeddings
    val T  = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val T2 = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda nu"
    val T3 = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda xi"
    val P  = "orange banana cherry grape melon peach plum apricot fig date kiwi lime"
    val P2 = "orange banana cherry grape melon peach plum apricot fig date kiwi lemon"
    val U  = "yet another unrelated document mentioning windows and watermarks here"
    val emb = vecsAll.orderBy(col("vec_id")).limit(5)
      .select(col("v")).as[Seq[Double]].collect()
    val slice1 = Seq((27L, T2, "en", emb(0)), (47L, P, "en", emb(1)))
    val slice2 = Seq((31L, T3, "en", emb(2)), (51L, P2, "en", emb(3)),
      (71L, U, "en", emb(4)))
    val atRest = Seq((20L, T), (41L, "completely different text about query engines and shuffle joins okay"))
      .toDF("doc_id", "text")
    def initState(p: String): Unit = {
      Dedup.writeDedupIndex(atRest, p)
      Dedup.writeSplitTable(
        Seq((20L, 20L, "val"), (41L, 41L, "train")).toDF("doc_id", "label", "split"), p)
    }

    final class Cap {
      val sets = Array.fill(7)(scala.collection.mutable.Set.empty[Seq[Any]])
      def sink(i: Int): (org.apache.spark.sql.DataFrame, Long) => Unit =
        (df, _) => sets.synchronized { sets(i) ++= df.collect().map(_.toSeq) }
      def opt(i: Int) = Some(sink(i))
    }

    // standalone wiring: three independent loops fed the same slices
    val sep = new Cap
    initState("uingestsep")
    locally {
      val memA = MemoryStream[(Long, String, String)](spark)
      val memS = MemoryStream[(Long, String)](spark)
      val memV = MemoryStream[(Long, Seq[Double])](spark)
      val qa = StreamPipelines.streamingCorpusAdmission(
        memA.toDF().toDF("doc_id", "text", "lang"), sf, sep.sink(0),
        java.nio.file.Files.createTempDirectory("graft-ui-a").toString,
        driftSink = sep.opt(3), uniDriftSink = sep.opt(4))
      val qs = StreamPipelines.streamingSplitAssign(
        memS.toDF().toDF("doc_id", "text"), "uingestsep", sep.sink(1),
        java.nio.file.Files.createTempDirectory("graft-ui-s").toString,
        driftSink = sep.opt(5))
      val qv = StreamPipelines.streamingAnnAppend(
        memV.toDF().toDF("vec_id", "v"), cdf, bdf, sep.sink(2),
        java.nio.file.Files.createTempDirectory("graft-ui-v").toString,
        driftSink = sep.opt(6), atRestStats = Some(atStats))
      for (slice <- Seq(slice1, slice2)) {
        memA.addData(slice.map(r => (r._1, r._2, r._3)): _*)
        memS.addData(slice.map(r => (r._1, r._2)): _*)
        memV.addData(slice.map(r => (r._1, r._4)): _*)
        qa.processAllAvailable(); qs.processAllAvailable(); qv.processAllAvailable()
      }
      qa.stop(); qs.stop(); qv.stop()
    }

    // unified wiring: ONE ingest over the full-width rows
    val uni = new Cap
    initState("uingestuni")
    val cp = java.nio.file.Files.createTempDirectory("graft-ui-u").toString
    locally {
      val mem = MemoryStream[(Long, String, String, Seq[Double])](spark)
      val q = StreamPipelines.streamingCorpusIngest(
        mem.toDF().toDF("doc_id", "text", "lang", "v"), sf, "uingestuni",
        cdf, bdf, uni.sink(0), uni.sink(1), uni.sink(2), cp,
        vocabDriftSink = uni.opt(3), uniDriftSink = uni.opt(4),
        splitDriftSink = uni.opt(5), annDriftSink = uni.opt(6),
        atRestStats = Some(atStats))
      mem.addData(slice1: _*); q.processAllAvailable()
      mem.addData(slice2: _*); q.processAllAvailable()
      q.stop()
    }
    val names = Seq("admitted", "assigned", "encoded",
      "vocab drift", "unigram drift", "split-bridge drift", "ann drift")
    for (i <- names.indices)
      assert(uni.sets(i).toSet == sep.sets(i).toSet,
        s"unified ${names(i)} (${uni.sets(i).size}) != standalone (${sep.sets(i).size})")

    // replay idempotence carries over: redelivering both slices through
    // a FRESH unified query leaves every at-rest table untouched
    spark.catalog.refreshTable("uingestuni_split")
    spark.catalog.refreshTable("uingestuni_grams")
    spark.catalog.refreshTable("uingestuni_digests")
    val n0 = Seq("uingestuni_split", "uingestuni_grams", "uingestuni_digests")
      .map(t => spark.table(t).count())
    locally {
      val mem = MemoryStream[(Long, String, String, Seq[Double])](spark)
      val q = StreamPipelines.streamingCorpusIngest(
        mem.toDF().toDF("doc_id", "text", "lang", "v"), sf, "uingestuni",
        cdf, bdf, (_, _) => (), (_, _) => (), (_, _) => (),
        java.nio.file.Files.createTempDirectory("graft-ui-r").toString)
      mem.addData(slice1 ++ slice2: _*); q.processAllAvailable(); q.stop()
    }
    Seq("uingestuni_split", "uingestuni_grams", "uingestuni_digests")
      .foreach(spark.catalog.refreshTable)
    val n1 = Seq("uingestuni_split", "uingestuni_grams", "uingestuni_digests")
      .map(t => spark.table(t).count())
    assert(n1 == n0, s"replayed slices mutated at-rest tables: $n0 -> $n1")
    atStats.unpersist()
  }

  test("unified corpus ingest recovers exactly-once at-rest state from a mid-loop crash") {
    // VERDICT r16 item 5: the production property the parity +
    // idempotence specs don't prove — a query KILLED between a batch's
    // at-rest folds and its last sink, restarted from the same
    // checkpoint, must redeliver the batch and leave the at-rest tables
    // exactly as a never-crashed run would (the replay guards are the
    // mechanism). A replayable FILE source feeds the ingest (the funnel
    // restart precedent); the crash is injected in annSink, which runs
    // AFTER the split fold + dedup-index appends — so the crashed
    // batch's at-rest writes HAVE landed when the query dies.
    import graft.operators.{AnnMaintain, Dedup, TrainingPrep}
    TrainingPrep.corpusPrepDelta(spark, sf).count()
    AnnMaintain.annIndexAppend(spark, sf).count()
    val cdf = spark.read.parquet(AnnMaintain.CentroidsPath)
    val bdf = spark.read.parquet(AnnMaintain.CodebooksPath)
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .orderBy(col("vec_id")).limit(5)
      .select(col("v")).as[Seq[Double]].collect()

    val T  = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val T2 = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda nu"
    val P  = "orange banana cherry grape melon peach plum apricot fig date kiwi lime"
    val P2 = "orange banana cherry grape melon peach plum apricot fig date kiwi lemon"
    // non-en rows so the Moore-Lewis gate (wired below — the r17-item-2
    // stage must hold the same crash property) has real candidates
    val slice1 = Seq((27L, T2, "de", emb(0)), (47L, P, "en", emb(1)))
    val slice2 = Seq((31L, T, "de", emb(2)), (51L, P2, "en", emb(3)))
    val atRest = Seq((20L, T)).toDF("doc_id", "text")
    def initState(p: String): Unit = {
      Dedup.writeDedupIndex(atRest, p)
      Dedup.writeSplitTable(
        Seq((20L, 20L, "val")).toDF("doc_id", "label", "split"), p)
      graft.operators.CorpusAudit.writeMooreLewisLm(
        Seq((20L, "en", T),
          (41L, "de", "completely different text about query engines and shuffle joins okay"))
          .toDF("doc_id", "lang", "text"), p)
    }
    val inDir = java.nio.file.Files.createTempDirectory("graft-cr-in")
    def writeSlice(rows: Seq[(Long, String, String, Seq[Double])], name: String): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-cr-w").toString
      rows.toDF("doc_id", "text", "lang", "v")
        .coalesce(1).write.mode("overwrite").json(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".json")).head
      java.nio.file.Files.copy(part.toPath, inDir.resolve(name))
      ()
    }
    writeSlice(slice1, "b1.json")
    writeSlice(slice2, "b2.json")
    def src() = spark.readStream
      .schema("doc_id LONG, text STRING, lang STRING, v ARRAY<DOUBLE>")
      .option("maxFilesPerTrigger", "1")
      .json(inDir.toString)

    val annSeen = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
    val gateSeen = scala.collection.mutable.Set.empty[Seq[Any]]
    val splitCalls = new java.util.concurrent.atomic.AtomicInteger(0)
    val crashArmed = new java.util.concurrent.atomic.AtomicBoolean(true)
    def run(prefix: String, cp: String, armed: Boolean,
        gateSet: scala.collection.mutable.Set[Seq[Any]] = gateSeen): Unit = {
      crashArmed.set(armed)
      val q = StreamPipelines.streamingCorpusIngest(
        src(), sf, prefix, cdf, bdf,
        admitSink = (_, _) => (),
        splitSink = (df, _) => { df.count(); splitCalls.incrementAndGet(); () },
        annSink = (df, _) => {
          // second batch, first delivery: die AFTER the split fold +
          // index appends have executed, BEFORE this sink observes it
          if (splitCalls.get() >= 2 && crashArmed.getAndSet(false))
            sys.error("injected mid-loop crash")
          annSeen.synchronized { annSeen ++= df.collect().map(_.toSeq) }; ()
        },
        checkpoint = cp,
        // the gate fires BEFORE the crash point, so the crashed batch's
        // verdicts are emitted on BOTH deliveries — verdict-set (not
        // multiset) equality below is the stateless-stage contract
        mlGateSink = Some((df, _) => gateSet.synchronized {
          gateSet ++= df.collect().map(_.toSeq) }))
      try q.processAllAvailable()
      catch { case e: Throwable => if (!armed) throw e } // armed: the injected crash
      if (q.isActive) q.stop()
    }

    initState("uingestcr")
    val cp = java.nio.file.Files.createTempDirectory("graft-cr-cp").toString
    run("uingestcr", cp, armed = true)   // dies inside batch 2's annSink
    val callsAtCrash = splitCalls.get()
    assert(callsAtCrash >= 2, "crash batch never reached the split stage")
    run("uingestcr", cp, armed = false)  // same checkpoint: redelivers batch 2
    assert(splitCalls.get() > callsAtCrash,
      "restart did not redeliver the uncommitted batch")

    // reference: the same two batches through a never-crashed ingest
    val annRef = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
    val gateRef = scala.collection.mutable.Set.empty[Seq[Any]]
    initState("uingestrf")
    locally {
      val q = StreamPipelines.streamingCorpusIngest(
        src(), sf, "uingestrf", cdf, bdf, (_, _) => (), (_, _) => (),
        (df, _) => { annRef.synchronized { annRef ++= df.collect().map(_.toSeq) }; () },
        java.nio.file.Files.createTempDirectory("graft-cr-cp2").toString,
        mlGateSink = Some((df, _) => gateRef.synchronized {
          gateRef ++= df.collect().map(_.toSeq) }))
      q.processAllAvailable(); q.stop()
    }

    // exactly-once at-rest state: every table equal to the no-crash run
    for (t <- Seq("_split", "_grams", "_digests", "_bands")) {
      Seq(s"uingestcr$t", s"uingestrf$t").foreach(spark.catalog.refreshTable)
      val crash = spark.table(s"uingestcr$t").collect().map(_.toSeq)
        .groupBy(identity).view.mapValues(_.length).toMap
      val ref = spark.table(s"uingestrf$t").collect().map(_.toSeq)
        .groupBy(identity).view.mapValues(_.length).toMap
      assert(crash == ref, s"at-rest $t diverged after crash recovery")
    }
    // and the post-crash sink saw batch 2 exactly once (batch 1 + the
    // single successful redelivery = the reference multiset)
    assert(annSeen.groupBy(identity).view.mapValues(_.length).toMap ==
      annRef.groupBy(identity).view.mapValues(_.length).toMap,
      s"ann sink multiset diverged: ${annSeen.size} vs ${annRef.size}")
    // the frozen-LM gate across the crash: redelivery re-derived
    // byte-identical verdicts (stateless stage — set equality; the
    // crashed batch legitimately emitted twice), with real candidates
    assert(gateSeen.nonEmpty, "gate never scored a candidate")
    assert(gateSeen == gateRef,
      s"gate verdicts diverged after crash recovery: " +
        s"${gateSeen.size} vs ${gateRef.size}")
  }

  test("unified ingest: frozen-LM gate matches mooreLewisDelta per batch, withholds rejects, replays idempotently") {
    // VERDICT r17 item 2: the Moore-Lewis delta gate as an admission
    // stage of the unified ingest — LLR sidecar pinned at wiring time
    // (the minhash-index stance), per-batch verdicts vs the
    // oracle-checked batch query, the n_oov monitor row beside the
    // drift flags, gate-rejected docs withheld from the admission
    // chain, and verdict idempotence under full redelivery.
    import graft.operators.{AnnMaintain, CorpusAudit, Dedup, TrainingPrep}
    TrainingPrep.corpusPrepDelta(spark, sf).count()
    AnnMaintain.annIndexAppend(spark, sf).count()
    val cdf = spark.read.parquet(AnnMaintain.CentroidsPath)
    val bdf = spark.read.parquet(AnnMaintain.CodebooksPath)
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .orderBy(col("vec_id")).limit(5).select(col("v")).as[Seq[Double]].collect()

    // the REAL fixture delta slice (bucket 7), so the streamed gate's
    // verdicts are comparable row-for-row to q_moore_lewis_delta; the
    // LM is pinned on the same at-rest slice the batch query freezes
    val docRows = Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    val (deltaRows, atRest) =
      docRows.partition(d => (d._1 * GoldenHash.Gamma) % 20 == 7)
    assert(deltaRows.count(_._2 != "en") >= 4, "degenerate delta slice")
    CorpusAudit.writeMooreLewisLm(atRest.toDF("doc_id", "lang", "text"), "mlgate")
    CorpusAudit.writeMooreLewisLm(atRest.toDF("doc_id", "lang", "text"), "mlgate0")
    def initState(p: String): Unit = {
      Dedup.writeDedupIndex(Seq(
        (900001L, "completely different text about query engines and shuffle joins okay"))
        .toDF("doc_id", "text"), p)
      Dedup.writeSplitTable(
        Seq((900001L, 900001L, "val")).toDF("doc_id", "label", "split"), p)
    }
    initState("mlgate"); initState("mlgate0")

    val half = deltaRows.length / 2
    // two planted rejects in delta-bucket ids: all-OOV gibberish (the
    // majority-known guard) and a QUALITY-PASSING word salad of the
    // sidecar's 12 most general-leaning in-vocab words (sign rule) —
    // the second is admissible to every downstream gate, so its absence
    // from the gated admissions can only be the Moore-Lewis stage
    val planted = (900007L, "de", "zzgib zzber zzwock zzfoo zzqux")
    val negWords = spark.table("mlgate_ml_llr")
      .filter(length(col("word")).between(3, 9) && col("llr_q") < 0)
      .orderBy(col("llr_q"), col("word")).limit(12)
      .select(col("word")).as[String].collect()
    assert(negWords.length == 12, "fixture sidecar lacks negative-LLR words")
    val plantedNeg = (900027L, "de", negWords.mkString(" "))
    val slices = Seq(deltaRows.take(half), deltaRows.drop(half),
      Seq(planted, plantedNeg))
    def rows(sl: Seq[(Long, String, String)]) =
      sl.zipWithIndex.map { case ((id, lang, text), i) =>
        (id, text, lang, emb(i % emb.length)) }

    final class ByBatch {
      val m = scala.collection.mutable.Map.empty[Long, Vector[Seq[Any]]]
      def sink: (DataFrame, Long) => Unit = (df, id) => m.synchronized {
        m(id) = m.getOrElse(id, Vector.empty) ++ df.collect().map(_.toSeq)
      }
      def all: Set[Seq[Any]] = m.values.flatten.toSet
    }
    def runIngest(prefix: String, gated: Boolean,
        gate: ByBatch, mon: ByBatch, admit: ByBatch,
        shadow: Boolean = false): Unit = {
      val mem = MemoryStream[(Long, String, String, Seq[Double])](spark)
      val q = StreamPipelines.streamingCorpusIngest(
        mem.toDF().toDF("doc_id", "text", "lang", "v"), sf, prefix,
        cdf, bdf, admit.sink, (_, _) => (), (_, _) => (),
        java.nio.file.Files.createTempDirectory("graft-mlg").toString,
        mlGateSink = if (gated && !shadow) Some(gate.sink) else None,
        mlDriftSink = if (gated) Some(mon.sink) else None)
      for (sl <- slices) { mem.addData(rows(sl): _*); q.processAllAvailable() }
      q.stop()
    }

    val (gate, mon, admit) = (new ByBatch, new ByBatch, new ByBatch)
    runIngest("mlgate", gated = true, gate, mon, admit)

    // per-batch parity vs the oracle-checked batch scorer: each batch's
    // verdicts are exactly the q_moore_lewis_delta rows of its docs
    // (the planted batch through the same explicit-frame entry point)
    val expectedAll = CorpusAudit.mooreLewisDeltaOf(
      (docRows ++ Seq(planted, plantedNeg)).toDF("doc_id", "lang", "text"))
      .collect().map(_.toSeq).toSet
    // the gate verdicts carry one extra trailing column — score_keep,
    // the rule's score verdict without the guard (VERDICT r19 item 2);
    // the first six columns must be exactly the batch query's rows, and
    // under the threshold rule score_keep IS the sign rule
    assert(gate.all.map(_.take(6)) == expectedAll)
    assert(gate.all.forall(r =>
      r(6) == (r(4).asInstanceOf[Long] > 0L)),
      "threshold-rule score_keep drifted from the sign rule")
    for ((id, rows) <- gate.m) {
      val ids = rows.map(_.head).toSet
      assert(rows.map(_.take(6)).toSet == expectedAll.filter(r => ids(r.head)),
        s"batch $id verdicts are not the batch query's rows")
    }
    // the planted all-OOV doc: fully OOV, rejected by the
    // majority-known guard; the planted word salad: zero OOV, rejected
    // by the sign rule — both halves of the two-part keep exercised
    val gib = gate.all.find(_.head == planted._1).get
    assert(gib(3) == 5L && gib(2) == 5L && !gib(5).asInstanceOf[Boolean])
    val neg = gate.all.find(_.head == plantedNeg._1).get
    assert(neg(3) == 0L && neg(4).asInstanceOf[Long] < 0L &&
      !neg(5).asInstanceOf[Boolean])

    // one n_oov monitor row per batch, re-totaling that batch's
    // verdicts; n_oov_rejected counts only docs where the majority-
    // known guard is the BINDING rule — the sign rule would keep them
    // (ADVICE r18: docs failing both rules are plain sign rejects, not
    // vocab-drift evidence); kept_share_micro re-totals the keep flags
    for ((id, rows) <- gate.m) {
      val nTok = rows.map(_(2).asInstanceOf[Long]).sum
      val nOov = rows.map(_(3).asInstanceOf[Long]).sum
      val nKept = rows.count(_(5).asInstanceOf[Boolean]).toLong
      val exp = Seq[Any](rows.size.toLong, nKept, nTok, nOov,
        rows.count(r => r(3).asInstanceOf[Long] * 2 > r(2).asInstanceOf[Long] &&
          r(4).asInstanceOf[Long] > 0L).toLong,
        if (nTok == 0L) 0L else 1000000L * nOov / nTok,
        if (rows.isEmpty) 0L else 1000000L * nKept / rows.size)
      assert(mon.m(id) == Vector(exp), s"batch $id monitor row mismatch")
    }
    // the planted all-OOV doc is a BINDING guard reject (its all-unk
    // score is positive — the add-one size artifact the mooreLewisDelta
    // scaladoc documents), so the planted batch's counter sees it; the
    // planted negative word salad fails the sign rule and must NOT be
    // attributed to the guard
    assert(gib(4).asInstanceOf[Long] > 0L,
      "fixture drift: the all-OOV plant no longer exercises the binding-guard counter")

    // rejection routing: vs an UNGATED twin on identical slices, the
    // gated admission set is exactly the ungated one minus the
    // gate-rejected docs — the withholding is the gate, not a
    // downstream quality filter coincidentally agreeing
    val (g0, m0, admit0) = (new ByBatch, new ByBatch, new ByBatch)
    runIngest("mlgate0", gated = false, g0, m0, admit0)
    val rejected = gate.all.filter(!_(5).asInstanceOf[Boolean]).map(_.head)
    val gatedIds = admit.all.map(_.head)
    val ungatedIds = admit0.all.map(_.head)
    assert(gatedIds == ungatedIds -- rejected,
      s"gated admissions != ungated minus rejects " +
        s"(${gatedIds.size} vs ${ungatedIds.size} - ${rejected.size})")
    assert((ungatedIds -- gatedIds).nonEmpty,
      "degenerate fixture: the gate never withheld an admissible doc")

    // shadow mode: mlDriftSink alone scores and monitors but withholds
    // NOTHING — the observe-before-enforce wiring a deployment runs
    // ahead of turning a new gate on
    graft.operators.CorpusAudit.writeMooreLewisLm(
      atRest.toDF("doc_id", "lang", "text"), "mlgatesh")
    initState("mlgatesh")
    val (gSh, monSh, admitSh) = (new ByBatch, new ByBatch, new ByBatch)
    runIngest("mlgatesh", gated = true, gSh, monSh, admitSh, shadow = true)
    assert(gSh.all.isEmpty, "shadow mode must not emit gate verdicts")
    assert(monSh.all == mon.all, "shadow monitor rows drifted from enforced")
    assert(admitSh.all.map(_.head) == ungatedIds,
      "shadow mode withheld docs — monitoring must not enforce")

    // replay idempotence: redelivering every slice through a FRESH
    // gated query re-derives the identical verdict set (the gate is
    // stateless over frozen artifacts) and leaves at-rest state alone
    Seq("mlgate_split", "mlgate_grams", "mlgate_digests")
      .foreach(spark.catalog.refreshTable)
    val n0 = Seq("mlgate_split", "mlgate_grams", "mlgate_digests")
      .map(t => spark.table(t).count())
    val (gate2, mon2, admit2) = (new ByBatch, new ByBatch, new ByBatch)
    runIngest("mlgate", gated = true, gate2, mon2, admit2)
    assert(gate2.all == gate.all, "replayed verdicts drifted")
    Seq("mlgate_split", "mlgate_grams", "mlgate_digests")
      .foreach(spark.catalog.refreshTable)
    val n1 = Seq("mlgate_split", "mlgate_grams", "mlgate_digests")
      .map(t => spark.table(t).count())
    assert(n1 == n0, s"replayed slices mutated at-rest tables: $n0 -> $n1")
  }

  test("unified ingest: budget-rule gate cuts at the frozen at-rest cutpoint, kept share tracks the at-rest 20%") {
    // VERDICT r18 item 3: the gate's second keep rule — q_moore_lewis_
    // budget's equal-budget cut against the cutpoint writeMooreLewisLm
    // froze at wiring time (a micro-batch cannot compute a global
    // quantile), with the monitor's kept share as the staleness signal.
    // The withholding MECHANISM (gated admissions = ungated minus
    // rejects) is rule-independent code the enforced-gate spec already
    // pins; here the assertions target what the rule changes: the
    // verdicts, the monitor, and the frozen-cutpoint construction.
    import graft.operators.{AnnMaintain, CorpusAudit, Dedup, TrainingPrep}
    TrainingPrep.corpusPrepDelta(spark, sf).count()
    AnnMaintain.annIndexAppend(spark, sf).count()
    val cdf = spark.read.parquet(AnnMaintain.CentroidsPath)
    val bdf = spark.read.parquet(AnnMaintain.CodebooksPath)
    val emb = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .orderBy(col("vec_id")).limit(5).select(col("v")).as[Seq[Double]].collect()
    val docRows = Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
    val (deltaRows, atRest) =
      docRows.partition(d => (d._1 * GoldenHash.Gamma) % 20 == 7)
    CorpusAudit.writeMooreLewisLm(atRest.toDF("doc_id", "lang", "text"), "mlbud")
    Dedup.writeDedupIndex(Seq(
      (900001L, "completely different text about query engines and shuffle joins okay"))
      .toDF("doc_id", "text"), "mlbud")
    Dedup.writeSplitTable(
      Seq((900001L, 900001L, "val")).toDF("doc_id", "label", "split"), "mlbud")

    // the pinned cutpoint: ONE row, byte-equal to the shared machinery
    // (mooreLewisCutpointOf — q_moore_lewis_budget's cut body) re-run
    // over the at-rest candidates scored under the pinned LM, and the
    // frozen-budget construction holds: ~20% of at-rest candidates sit
    // strictly above it (the exact share depends only on score ties)
    val cutRows = spark.table("mlbud_ml_cut").collect()
    assert(cutRows.length == 1, s"cut sidecar must be one row, got ${cutRows.length}")
    val cutV = cutRows.head.getDouble(0)
    val atScored = CorpusAudit.mooreLewisScoreCore(
      atRest.toDF("doc_id", "lang", "text"),
      spark.table("mlbud_ml_llr"), spark.table("mlbud_ml_unk"))
      .collect().map(_.toSeq)
    assert(cutV == CorpusAudit.mooreLewisCutpointOf(
      atScored.map(r => (r(0).asInstanceOf[Long], r(4).asInstanceOf[Long]))
        .toSeq.toDF("doc_id", "score_q")).head().getDouble(0),
      "pinned cutpoint drifted from the shared cut machinery")
    val atKeptShare = atScored.count(_(4).asInstanceOf[Long] > cutV).toDouble / atScored.length
    assert(math.abs(atKeptShare - 0.2) < 0.05,
      s"at-rest kept share $atKeptShare is not the frozen ~20% budget")

    // stream the fixture delta in two slices, then the at-rest docs
    // themselves as a third batch — its monitor row must read back the
    // ~200000-micro at-rest share (the staleness baseline an operator
    // compares live batches against)
    val slices = Seq(deltaRows.take(deltaRows.length / 2),
      deltaRows.drop(deltaRows.length / 2), atRest)
    final class ByBatch {
      val m = scala.collection.mutable.Map.empty[Long, Vector[Seq[Any]]]
      def sink: (DataFrame, Long) => Unit = (df, id) => m.synchronized {
        m(id) = m.getOrElse(id, Vector.empty) ++ df.collect().map(_.toSeq)
      }
      def all: Set[Seq[Any]] = m.values.flatten.toSet
    }
    val (gate, mon, admit) = (new ByBatch, new ByBatch, new ByBatch)
    locally {
      val mem = MemoryStream[(Long, String, String, Seq[Double])](spark)
      val q = StreamPipelines.streamingCorpusIngest(
        mem.toDF().toDF("doc_id", "text", "lang", "v"), sf, "mlbud",
        cdf, bdf, admit.sink, (_, _) => (), (_, _) => (),
        java.nio.file.Files.createTempDirectory("graft-mlb").toString,
        mlGateSink = Some(gate.sink), mlDriftSink = Some(mon.sink),
        mlGateRule = "budget")
      for (sl <- slices) {
        mem.addData(sl.zipWithIndex.map { case ((id, lang, text), i) =>
          (id, text, lang, emb(i % emb.length)) }: _*)
        q.processAllAvailable()
      }
      q.stop()
    }

    // per-batch parity vs the budget rule on the frozen cutpoint: each
    // verdict is the pinned-LM score with keep = score_q > cut AND the
    // majority-known guard — mooreLewisBudgetOf's strict cut applied at
    // the FROZEN value instead of the batch's own quantile (which is
    // exactly what makes it computable per micro-batch)
    val expectedAll = CorpusAudit.mooreLewisScoreCore(
      docRows.toDF("doc_id", "lang", "text"),
      spark.table("mlbud_ml_llr"), spark.table("mlbud_ml_unk"))
      .collect().map(_.toSeq)
      .map(r => r.updated(5, r(4).asInstanceOf[Long] > cutV &&
        r(3).asInstanceOf[Long] * 2 <= r(2).asInstanceOf[Long]))
      .toSet
    assert(gate.all.nonEmpty, "budget gate never scored a candidate")
    // under the budget rule the trailing score_keep column is the
    // frozen-cut comparison without the guard (VERDICT r19 item 2)
    assert(gate.all.forall(r =>
      r(6) == (r(4).asInstanceOf[Long] > cutV)),
      "budget-rule score_keep drifted from the frozen-cut comparison")
    for ((id, rows) <- gate.m) {
      val ids = rows.map(_.head).toSet
      assert(rows.map(_.take(6)).toSet == expectedAll.filter(r => ids(r.head)),
        s"batch $id budget verdicts are not the frozen-cut budget rows")
    }
    // and the delta-slice verdicts are exactly the ORACLE-CHECKED batch
    // twin's rows (q_moore_lewis_budget_delta through the same
    // explicit-frame entry point — the mooreLewisDeltaOf convention, so
    // the served path cannot drift from the oracle-verified one)
    val deltaIds = deltaRows.map(_._1).toSet
    assert(gate.all.filter(r => deltaIds(r.head.asInstanceOf[Long])).map(_.take(6)) ==
      CorpusAudit.mooreLewisBudgetDeltaOf(
        docRows.toDF("doc_id", "lang", "text"))
        .collect().map(_.toSeq).toSet,
      "budget gate verdicts drifted from q_moore_lewis_budget_delta")
    // the two rules genuinely differ on this fixture (cut >> 0), and no
    // budget-rejected doc reached the admission chain
    val thrKeep = gate.all.filter(_(4).asInstanceOf[Long] > 0L).map(_.head)
    val budKeep = gate.all.filter(_(5).asInstanceOf[Boolean]).map(_.head)
    assert(budKeep != thrKeep,
      "degenerate fixture: budget and threshold rules agree everywhere")
    val rejected = gate.all.filter(!_(5).asInstanceOf[Boolean]).map(_.head)
    assert(admit.all.map(_.head).intersect(rejected).isEmpty,
      "a budget-rejected doc reached the admission chain")

    // monitor rows: kept share in exact micros per batch, with the
    // binding-guard counter computed against the BUDGET score rule; the
    // at-rest replay batch reads back the frozen ~20% share
    for ((id, rows) <- gate.m) {
      val nTok = rows.map(_(2).asInstanceOf[Long]).sum
      val nOov = rows.map(_(3).asInstanceOf[Long]).sum
      val nKept = rows.count(_(5).asInstanceOf[Boolean]).toLong
      val exp = Seq[Any](rows.size.toLong, nKept, nTok, nOov,
        rows.count(r => r(3).asInstanceOf[Long] * 2 > r(2).asInstanceOf[Long] &&
          r(4).asInstanceOf[Long] > cutV).toLong,
        if (nTok == 0L) 0L else 1000000L * nOov / nTok,
        if (rows.isEmpty) 0L else 1000000L * nKept / rows.size)
      assert(mon.m(id) == Vector(exp), s"batch $id budget monitor row mismatch")
    }
    val atBatchShare = mon.m.maxBy(_._1)._2.head(6).asInstanceOf[Long]
    assert(math.abs(atBatchShare - 200000L) <= 50000L,
      s"at-rest replay batch kept share $atBatchShare micros drifted from the frozen 20%")

    // VERDICT r19 item 2 (done criterion): a STANDALONE budget-rule
    // gateBatch→gateMonitor composition — no cut threaded, no monitor
    // parameter at all — reports rows (binding-guard counts included)
    // identical to the ingest-wired path's, because the attribution
    // rides the verdict rows' score_keep column and the omitted cut
    // falls back to the same validated pinned-table read
    for ((sl, id) <- slices.zipWithIndex) {
      val standalone = CorpusAudit.mooreLewisGateMonitor(
        CorpusAudit.mooreLewisGateBatch(spark,
          sl.toDF("doc_id", "lang", "text"), "mlbud", rule = "budget"))
        .collect().map(_.toSeq).toVector
      assert(standalone == mon.m(id.toLong),
        s"standalone budget gateBatch→gateMonitor diverged from the " +
          s"ingest-wired monitor on batch $id")
    }

    // wiring-time guards: the budget rule without its pinned cutpoint
    // must refuse to START (not die on the first batch), and an unknown
    // rule is rejected outright
    CorpusAudit.writeMooreLewisLm(atRest.toDF("doc_id", "lang", "text"), "mlbudx")
    spark.sql("DROP TABLE mlbudx_ml_cut")
    def wire(prefix: String, rule: String) = {
      val mem = MemoryStream[(Long, String, String, Seq[Double])](spark)
      StreamPipelines.streamingCorpusIngest(
        mem.toDF().toDF("doc_id", "text", "lang", "v"), sf, prefix,
        cdf, bdf, (_, _) => (), (_, _) => (), (_, _) => (),
        java.nio.file.Files.createTempDirectory("graft-mlbx").toString,
        mlGateSink = Some((_, _) => ()), mlGateRule = rule)
    }
    val e1 = intercept[IllegalArgumentException](wire("mlbudx", "budget"))
    assert(e1.getMessage.contains("_ml_cut"))
    val e2 = intercept[IllegalArgumentException](wire("mlbud", "quantile"))
    assert(e2.getMessage.contains("unknown mlGateRule"))
    // a NULL pinned cutpoint (LMs pinned over an at-rest slice with no
    // budget-rule candidates — percentile over the empty set) must also
    // refuse at WIRING time with a re-pin message, not die on the first
    // batch with an opaque NPE (ADVICE r19)
    CorpusAudit.writeMooreLewisLm(Seq(
      (1L, "en", "english only corpus has no candidates"),
      (2L, "en", "another english document")).toDF("doc_id", "lang", "text"),
      "mlbudnull")
    assert(spark.table("mlbudnull_ml_cut").head().isNullAt(0),
      "fixture drift: the all-en pin no longer yields a NULL cutpoint")
    val e3 = intercept[IllegalArgumentException](wire("mlbudnull", "budget"))
    assert(e3.getMessage.contains("re-pin") && e3.getMessage.contains("NULL"))
  }

  test("ingest with dedupe window drops replayed duplicate request_ids") {
    val mem = MemoryStream[String](spark)
    val sunk = scala.collection.mutable.ArrayBuffer.empty[String]
    val cp = java.nio.file.Files.createTempDirectory("graft-dedup-cp").toString
    def line(id: String, ts: String = "2025-07-25T10:00:01+00:00") =
      s"""{"time_iso8601": "$ts", "remote_addr": "1.1.1.1",
         | "request": "GET /a/b HTTP/1.1", "request_uri": "/a/b", "status": "200",
         | "request_time": "0.05", "http_user_agent": "t",
         | "request_id": "$id"}""".stripMargin.replace("\n", "")
    val q = StreamPipelines.ingest(
      mem.toDF(),
      (df, _) => sunk.synchronized {
        sunk ++= df.select("request_id").as[String].collect()
      },
      cp, dedupeWindow = Some("10 minutes"))
    mem.addData(line("r1"), line("r1"), line("r2"))
    q.processAllAvailable()
    // replayed duplicates in a later batch: one byte-identical, one with
    // a perturbed timestamp — id-keyed watermarked dedup drops both
    // (round 1's (id, timestamp) compound key passed the second through)
    mem.addData(line("r1"), line("r1", "2025-07-25T10:00:03+00:00"), line("r3"))
    q.processAllAvailable()
    q.stop()
    assert(sunk.sorted == Seq("r1", "r2", "r3"), sunk.toString)
  }

  test("anomaly pipeline end-to-end: stream batch vs baseline -> sink gets the spike") {
    val mem = MemoryStream[String](spark)
    val parsed = graft.parse.LogParse.ingestChain(mem.toDF())
    val hist = Seq(("9.9.9.9", 2.0, 0.5), ("8.8.8.8", 50.0, 10.0))
      .toDF("remote_addr", "avg_requests", "stddev_requests")
    val sunk = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val cp = java.nio.file.Files.createTempDirectory("graft-anom-cp").toString
    val q = StreamPipelines.anomalyPipeline(parsed, hist,
      (df, _) => sunk.synchronized {
        sunk ++= df.select("remote_addr", "anomaly_reason")
          .as[(String, String)].collect()
      },
      cp, trigger = Trigger.ProcessingTime("0 seconds"))
    // 9.9.9.9 spikes (8 reqs vs 2±0.5 → z=12); 8.8.8.8 stays normal (45 vs 50±10)
    val lines =
      (1 to 8).map(i => logLine(f"2025-07-25T10:00:$i%02d+00:00", "9.9.9.9")) ++
        (1 to 45).map(i => logLine(f"2025-07-25T10:01:${i % 60}%02d+00:00", "8.8.8.8"))
    mem.addData(lines: _*)
    q.processAllAvailable()
    q.stop()
    assert(sunk.toSet == Set(("9.9.9.9", "Unusually high traffic")), sunk.toString)
  }

  test("kafka value serialization round-trips through the parse chain") {
    val original = Seq(
      logLine("2025-07-25T10:00:01+00:00", "7.7.7.7", "0.123"))
      .toDF("value")
    val parsedOnce = graft.parse.LogParse.ingestChain(original)
    // serialize all 38+derived columns to a Kafka value, re-parse the wire format
    val wire = StreamPipelines.toKafkaValue(parsedOnce)
    val reparsed = graft.parse.LogParse.ingestChain(wire)
    val a = parsedOnce.select("remote_addr", "request_time_seconds", "endpoint")
      .as[(String, Double, String)].collect().toSeq
    val b = reparsed.select("remote_addr", "request_time_seconds", "endpoint")
      .as[(String, Double, String)].collect().toSeq
    assert(a == b && a.nonEmpty)
  }

  test("stream-stream interval join pairs requests with subsequent errors") {
    def lineWith(ts: String, addr: String, status: String, id: String) =
      s"""{"time_iso8601": "$ts", "remote_addr": "$addr",
         | "request": "GET /a/b HTTP/1.1", "request_uri": "/a/b",
         | "status": "$status", "request_time": "0.05",
         | "http_user_agent": "t", "request_id": "$id"}""".stripMargin.replace("\n", "")
    val reqMem = MemoryStream[String](spark)
    val errMem = MemoryStream[String](spark)
    val joined = StreamPipelines.requestsWithSubsequentErrors(
      graft.parse.LogParse.ingestChain(reqMem.toDF()),
      graft.parse.LogParse.ingestChain(errMem.toDF()))
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ss_join").start()
    reqMem.addData(
      lineWith("2025-07-25T10:00:00+00:00", "1.1.1.1", "200", "ok-then-err"),
      lineWith("2025-07-25T10:00:00+00:00", "2.2.2.2", "200", "ok-quiet"))
    errMem.addData(
      lineWith("2025-07-25T10:02:00+00:00", "1.1.1.1", "503", "err1"),
      lineWith("2025-07-25T10:20:00+00:00", "1.1.1.1", "503", "err-too-late"))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("ss_join")
      .select("request_id", "err_status").as[(String, Int)].collect().toSet
    assert(got == Set(("ok-then-err", 503)), got.toString)
  }

  test("streaming funnel converges to the batch twin across out-of-order batches") {
    // events arrive across batches in the WORST order for a funnel:
    // conversions before their anchor view, a late earlier view that
    // must lower the anchor and re-validate earlier clicks/purchases.
    // The final update per user must equal Analytics.funnelOf on the
    // union of everything streamed (VERDICT r6 item 7).
    val session = spark.newSession()
    session.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import session.implicits._
    val mem = MemoryStream[(Long, String, java.sql.Timestamp)](session)
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val q = StreamPipelines.streamingFunnel(
        mem.toDF().toDF("user_id", "event_type", "ts"),
        watermarkDelay = "10 minutes")
      .toDF()
      .writeStream.outputMode("update")
      .format("memory").queryName("funnel_out").start()

    val batch1 = Seq(
      (1L, "click", ts("2025-07-25 10:01:00")),    // u1 converts before any view seen
      (1L, "purchase", ts("2025-07-25 10:03:00")),
      (2L, "view", ts("2025-07-25 10:00:00")),
      (2L, "click", ts("2025-07-25 10:02:00")),
      (3L, "purchase", ts("2025-07-25 10:05:00"))) // u3 never views -> no batch row
    val batch2 = Seq(
      (1L, "view", ts("2025-07-25 10:00:30")),     // unlocks u1's earlier click+purchase
      (2L, "purchase", ts("2025-07-25 10:01:00"))) // BEFORE u2's click -> must not count
    val batch3 = Seq(
      (1L, "view", ts("2025-07-25 10:00:00")),     // late earlier view lowers the anchor
      (2L, "purchase", ts("2025-07-25 10:04:00"))) // completes u2's funnel
    Seq(batch1, batch2, batch3).foreach { b =>
      mem.addData(b: _*); q.processAllAvailable()
    }
    q.stop()

    // u1's batch-1 update must show an anchorless funnel (stage 0)
    val all = session.table("funnel_out")
      .as[(Long, Option[java.sql.Timestamp], Option[java.sql.Timestamp],
           Option[java.sql.Timestamp], Int, Long)].collect()
    assert(all.exists(r => r._1 == 1L && r._6 == 1L && r._5 == 0 && r._2.isEmpty),
      s"missing stage-0 first update for u1: ${all.toSeq}")

    // latest update per user (max seq) vs the batch twin on all events
    val finalRows = all.groupBy(_._1).map { case (u, rows) =>
      val last = rows.maxBy(_._6)
      u -> ((last._2, last._3, last._4, last._5))
    }
    val batchRows = graft.operators.Analytics.funnelOf(
        (batch1 ++ batch2 ++ batch3).toDF("user_id", "event_type", "ts"))
      .as[(Long, Option[java.sql.Timestamp], Option[java.sql.Timestamp],
           Option[java.sql.Timestamp], Int)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(batchRows.keySet == Set(1L, 2L), batchRows.toString)
    batchRows.foreach { case (u, expect) =>
      assert(finalRows(u) == expect, s"user $u: got ${finalRows(u)}, batch says $expect")
    }
    // the no-view user matches the batch twin by ABSENCE (stage 0 only)
    assert(finalRows(3L)._4 == 0, finalRows(3L).toString)
  }

  test("windowed HLL distinct users closes windows with bounded error") {
    val mem = MemoryStream[String](spark)
    val parsed = graft.parse.LogParse.ingestChain(mem.toDF())
    val q = StreamPipelines.windowedDistinctUsers(parsed,
        windowLen = "1 minute", watermark = "1 minute")
      .writeStream.outputMode("append")
      .format("memory").queryName("hll_win").start()
    // 40 distinct addrs in minute 10:00 (some repeated), 5 in 10:01
    val batch = (1 to 40).map(i =>
      logLine(f"2025-07-25T10:00:${i % 60}%02d+00:00", s"ip-$i")) ++
      (1 to 10).map(i => logLine("2025-07-25T10:00:30+00:00", s"ip-${i}")) ++
      (1 to 5).map(i => logLine(f"2025-07-25T10:01:0$i+00:00", s"x-$i"))
    mem.addData(batch: _*)
    q.processAllAvailable()
    mem.addData(logLine("2025-07-25T10:30:00+00:00", "closer"))
    q.processAllAvailable()
    q.stop()
    val byWin = spark.table("hll_win")
      .selectExpr("CAST(window.start AS STRING)", "approx_users", "n_requests")
      .as[(String, Long, Long)].collect()
      .map { case (w, u, n) => w -> ((u, n)) }.toMap
    val (u0, n0) = byWin("2025-07-25 10:00:00")
    assert(n0 == 50, s"window rows $n0")
    assert(math.abs(u0 - 40) <= 4, s"HLL estimate $u0 vs 40 distinct (10% bound)")
    val (u1, n1) = byWin("2025-07-25 10:01:00")
    assert(n1 == 5 && math.abs(u1 - 5) <= 1, s"small window: $u1/$n1")
  }

  test("streaming as-of join converges to the batch twin across out-of-order batches") {
    // both sides arrive out of order: a purchase before any click, late
    // clicks that must IMPROVE already-emitted answers (but never past
    // the purchase), then a watermark advance that finalizes state.
    val session = spark.newSession()
    session.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import session.implicits._
    val mem = MemoryStream[(Long, Long, String, java.sql.Timestamp)](session)
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val q = StreamPipelines.streamingAsOf(
        mem.toDF().toDF("event_id", "user_id", "event_type", "ts"),
        watermarkDelay = "10 minutes")
      .toDF()
      .writeStream.outputMode("update")
      .format("memory").queryName("asof_out").start()

    val batch1 = Seq(
      (101L, 1L, "purchase", ts("2025-07-25 10:05:00")), // answer: none yet
      (1L, 2L, "click", ts("2025-07-25 10:00:00")),
      (201L, 2L, "purchase", ts("2025-07-25 10:02:00"))) // answer: 10:00
    val batch2 = Seq(
      (2L, 1L, "click", ts("2025-07-25 10:03:00")),      // unlocks 101
      (3L, 2L, "click", ts("2025-07-25 10:01:00")))      // late click IMPROVES 201
    val batch3 = Seq(
      (4L, 1L, "click", ts("2025-07-25 10:04:00")),      // improves 101 again
      (5L, 1L, "click", ts("2025-07-25 10:06:00")),      // AFTER 101 — must not count
      (6L, 3L, "click", ts("2025-07-25 11:00:00")))      // advances the watermark
    val batch4 = Seq(
      (7L, 1L, "click", ts("2025-07-25 11:30:00")))      // touches u1 at W=10:50 -> 101 final
    Seq(batch1, batch2, batch3, batch4).foreach { b =>
      mem.addData(b: _*); q.processAllAvailable()
    }
    q.stop()

    val all = session.table("asof_out")
      .as[(Long, Long, java.sql.Timestamp, Option[java.sql.Timestamp],
           Option[Long], Boolean, Long)].collect()

    // purchase 101's first update must predate any click (no answer)
    assert(all.exists(r => r._1 == 101L && r._4.isEmpty),
      s"missing clickless first update for 101: ${all.toSeq}")
    // purchase 201 must have been revised: 10:00 then the late 10:01
    val a201 = all.filter(_._1 == 201L).sortBy(_._7).flatMap(_._4).distinct
    assert(a201.toSeq == Seq(ts("2025-07-25 10:00:00"), ts("2025-07-25 10:01:00")),
      s"201 revision chain: ${a201.toSeq}")

    // latest update per purchase (max seq) vs the batch twin on all events
    val finalRows = all.groupBy(_._1).map { case (e, rows) =>
      val last = rows.maxBy(_._7)
      e -> ((last._4, last._5))
    }
    val batchRows = graft.operators.TrainingPrep.asOfJoinOf(
        (batch1 ++ batch2 ++ batch3 ++ batch4)
          .toDF("event_id", "user_id", "event_type", "ts"))
      .as[(Long, Long, java.sql.Timestamp, Option[java.sql.Timestamp], Option[Long])]
      .collect().map(r => r._1 -> ((r._4, r._5))).toMap
    assert(batchRows.keySet == Set(101L, 201L), batchRows.toString)
    batchRows.foreach { case (e, expect) =>
      assert(finalRows(e) == expect, s"purchase $e: got ${finalRows(e)}, batch says $expect")
    }
    // the watermark-touched purchase was emitted final and dropped
    assert(all.filter(_._1 == 101L).maxBy(_._7)._6, "101 should be final after batch4")
    // user 2 receives NO input after batch3 — its purchase must still
    // be finalized by the per-key event-time timer once the watermark
    // (advanced by other keys) clears it
    assert(all.filter(_._1 == 201L).maxBy(_._7)._6,
      "201 should be finalized by its timer without being touched")
  }

  test("streaming heavy hitters: merged shard summaries bound exact counts") {
    // heavy keys spread across batches + enough tail keys per shard to
    // force evictions (capacity 8 per shard), so est/err are non-trivial
    val session = spark.newSession()
    session.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import session.implicits._
    val mem = MemoryStream[Long](session)
    val q = StreamPipelines.streamingHeavyHitters(
        mem.toDF().toDF("user_id"), shards = 4, capacity = 8)
      .toDF()
      .writeStream.outputMode("update")
      .format("memory").queryName("hh_out").start()

    val batch1 = Seq.fill(30)(1L) ++ Seq.fill(20)(2L) ++ (100L to 120L)
    val batch2 = Seq.fill(20)(1L) ++ Seq.fill(25)(3L) ++ (121L to 140L)
    val batch3 = Seq.fill(15)(2L) ++ (141L to 150L)
    Seq(batch1, batch2, batch3).foreach { b =>
      mem.addData(b: _*); q.processAllAvailable()
    }
    q.stop()

    // latest summary per shard, rebuilt into SpaceSavingStates, merged
    val all = session.table("hh_out")
      .as[(Int, Long, Long, Long, Long)].collect()
    val global = new graft.functions.SpaceSavingState(8)
    all.groupBy(_._1).values.foreach { rows =>
      val latest = rows.filter(_._5 == rows.map(_._5).max)
      val st = new graft.functions.SpaceSavingState(8)
      latest.foreach { case (_, item, est, err, _) =>
        st.items(st.size) = item; st.counts(st.size) = est; st.errs(st.size) = err
        st.size += 1
      }
      global.mergeWith(st)
    }
    val exact = (batch1 ++ batch2 ++ batch3).groupBy(identity).view.mapValues(_.size.toLong)

    // every reported counter brackets the true count
    val reported = global.sorted
    reported.foreach { case (item, est, err) =>
      val t = exact.getOrElse(item, 0L)
      assert(est >= t && t >= est - err, s"item $item: est=$est err=$err true=$t")
    }
    // the three planted heavy keys must all be present at the top
    val items = reported.map(_._1).toSet
    assert(Set(1L, 2L, 3L).subsetOf(items), s"heavy keys missing from $items")
  }

  test("stateful funnel survives a stop and restart from its checkpoint") {
    // the operational claim behind every transformWithState operator:
    // keyed state is in the checkpoint, not the JVM. A replayable FILE
    // source feeds the funnel; the query is stopped cold after batch 1
    // and a NEW query object restarts from the same checkpoint — the
    // batch-2 answer must reflect batch-1 state (the anchor view
    // arrives before the restart, the click+purchase after).
    val session = spark.newSession()
    session.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import session.implicits._
    val inDir = java.nio.file.Files.createTempDirectory("graft-restart-in")
    val cp = java.nio.file.Files.createTempDirectory("graft-restart-cp").toString
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Long)]

    def start() = {
      val events = session.readStream
        .schema("user_id LONG, event_type STRING, ts TIMESTAMP")
        .option("maxFilesPerTrigger", "1")
        .csv(inDir.toString)
      StreamPipelines.streamingFunnel(events, watermarkDelay = "10 minutes")
        .toDF()
        .writeStream.outputMode("update")
        .option("checkpointLocation", cp)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          val rows = df.select("user_id", "stage", "seq")
            .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
          got.synchronized { got ++= rows }
          ()
        }
        .start()
    }

    java.nio.file.Files.writeString(inDir.resolve("b1.csv"),
      "7,view,2025-07-25 10:00:00\n")
    val q1 = start()
    q1.processAllAvailable()
    q1.stop()                                   // cold stop: JVM state gone

    java.nio.file.Files.writeString(inDir.resolve("b2.csv"),
      "7,click,2025-07-25 10:01:00\n7,purchase,2025-07-25 10:02:00\n")
    val q2 = start()                            // new query, same checkpoint
    q2.processAllAvailable()
    q2.stop()

    val rows = got.synchronized(got.toVector)
    // batch 1 (pre-restart): stage 1 (view only)
    assert(rows.exists(r => r._1 == 7L && r._2 == 1),
      s"pre-restart view update missing: $rows")
    // post-restart: stage 3 — possible ONLY if the batch-1 view anchor
    // was recovered from the checkpoint (click/purchase alone = stage 0)
    val last = rows.maxBy(_._3)
    assert(last._2 == 3, s"state not recovered across restart: $rows")
    // and the per-key seq continued from checkpointed state, not from 1
    assert(last._3 >= 2, s"seq restarted, state was fresh: $rows")
  }

  test("zscore classifier flags spike vs baseline and new key with high traffic") {
    val counts = Seq(("spiky", 500L), ("normal", 10L), ("newcomer", 150L))
      .toDF("remote_addr", "request_count")
    val hist = Seq(("spiky", 10.0, 2.0), ("normal", 10.0, 2.0))
      .toDF("remote_addr", "avg_requests", "stddev_requests")
    val out = StreamPipelines.zscoreClassify(counts, hist, "remote_addr")
      .select("remote_addr", "is_anomaly", "anomaly_reason")
      .as[(String, Boolean, String)].collect()
      .map { case (k, v, r) => k -> ((v, r)) }.toMap
    assert(out("spiky") == ((true, "Unusually high traffic")))
    assert(out("normal") == ((false, null)))
    assert(out("newcomer") == ((true, "New IP with high traffic")))
  }
}
