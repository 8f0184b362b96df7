package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, ScaleOps, TrainingPrep}

/** Invariant tests for the training-data prep operators (the DuckDB
  * oracle hash-check is the primary gate; these pin the semantic
  * properties a hash can't explain when it breaks).
  */
class TrainingPrepSpec extends SparkSpec {
  import spark.implicits._

  test("asOfJoin: every match is at-or-before, and the plan has one key shuffle, no join") {
    val out = TrainingPrep.asOfJoin(spark, sf).cache()
    val n = out.count()
    assert(n > 0)
    // at-or-before: no matched click later than its purchase
    assert(out.filter(col("last_click_ts") > col("purchase_ts")).count() == 0)
    assert(out.filter(col("gap_s") < 0).count() == 0)
    // some purchases have a preceding click, some don't (both paths live)
    assert(out.filter(col("last_click_ts").isNotNull).count() > 0)
    // the union+window formulation: NO join operator, ONE hash exchange
    // on user_id (plus the final orderBy's range exchange)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"as-of should not plan a join:\n$plan")
    assert(plan.contains("hashpartitioning(user_id"), plan)
    out.unpersist()
  }

  test("asOfJoin matches the quadratic definition on a sampled user") {
    // ground truth the windowed formulation against the O(n^2)
    // definition (max click ts <= purchase ts) for one user's events
    val ev = Tables.events(spark, sf)
      .filter(col("user_id") === 7 && col("event_type").isin("click", "purchase"))
      .select(col("event_id"), col("event_type"), col("ts"))
      .collect()
    val clicks = ev.filter(_.getString(1) == "click").map(_.getTimestamp(2))
    val expected = ev.filter(_.getString(1) == "purchase").map { r =>
      val pts = r.getTimestamp(2)
      val best = clicks.filter(c => !c.after(pts)).sortBy(_.getTime).lastOption
      (r.getLong(0), best)
    }.toMap
    val got = TrainingPrep.asOfJoin(spark, sf)
      .filter(col("user_id") === 7)
      .select(col("event_id"), col("last_click_ts"))
      .collect()
      .map(r => r.getLong(0) -> Option(r.getTimestamp(1)))
      .toMap
    assert(got == expected)
  }

  test("stratifiedSample: deterministic subset, purchases kept whole") {
    val ev = Tables.events(spark, sf)
    val out = TrainingPrep.stratifiedSample(spark, sf).cache()
    // purchases have rate 1000/1000 — every one survives
    assert(out.filter(col("event_type") === "purchase").count() ==
      ev.filter(col("event_type") === "purchase").count())
    // views at 1% are strictly downsampled
    val views = ev.filter(col("event_type") === "view").count()
    val keptViews = out.filter(col("event_type") === "view").count()
    assert(keptViews < views / 10, s"$keptViews of $views views kept")
    // deterministic: a second run keeps the identical row set
    val again = TrainingPrep.stratifiedSample(spark, sf)
    assert(out.select("event_id").except(again.select("event_id")).count() == 0)
    assert(again.select("event_id").except(out.select("event_id")).count() == 0)
    out.unpersist()
  }

  test("docChunks: chunks cover and reconstruct every document") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
      .as[(Long, String)].collect().toMap
    val chunks = TrainingPrep.docChunks(spark, sf)
      .select("doc_id", "chunk_idx", "chunk")
      .as[(Long, Int, String)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3)).toMap
    // empty-text docs are excluded by the operator's guard by design
    assert(chunks.keySet == docs.filter(_._2.nonEmpty).keySet)
    docs.filter(_._2.nonEmpty).foreach { case (id, text) =>
      val cs = chunks(id)
      // stride-100 prefixes of all but the last chunk + the last chunk
      // reassemble the original text exactly (50-char overlap checks out)
      val rebuilt = cs.dropRight(1).map(_.take(100)).mkString + cs.last
      assert(rebuilt == text, s"doc $id reassembly mismatch")
      // a non-final chunk always has a successor starting 100 chars in,
      // so it holds >100 chars (but may be <150 when the doc ends
      // inside its window); no chunk exceeds the window size
      assert(cs.init.forall(_.length > 100), s"doc $id short non-final chunk")
      assert(cs.forall(_.length <= 150), s"doc $id oversized chunk")
    }
  }

  test("tfidfTopTerms: <=3 ranked terms per doc, top term has the max tf") {
    val out = TrainingPrep.tfidfTopTerms(spark, sf).cache()
    val perDoc = out.groupBy("doc_id").agg(count(lit(1)).as("k"), max("rn").as("maxrn"))
    assert(perDoc.filter(col("k") > 3 || col("maxrn") > 3).count() == 0)
    // rank-1 term's tf equals the doc's max term frequency
    val maxTf = Tables.documents(spark, sf)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "")
      .groupBy("doc_id", "term").count()
      .groupBy("doc_id").agg(max("count").as("max_tf"))
    val top1 = out.filter(col("rn") === 1).select(col("doc_id"), col("tf"))
    assert(top1.join(maxTf, "doc_id").filter(col("tf") =!= col("max_tf")).count() == 0)
    out.unpersist()
  }

  test("tfidfTopTermsCached: identical output, corpus tokenized exactly once") {
    // output parity with the stateless form (same oracle serves both)
    val stateless = TrainingPrep.tfidfTopTerms(spark, sf).collect().toSeq
    val cached = TrainingPrep.tfidfTopTermsCached(spark, sf).collect().toSeq
    assert(cached == stateless)

    // plan property: the stateless form tokenizes twice (tf branch +
    // df branch, different ReadSchemas defeat exchange reuse); the
    // cached form's final plan never tokenizes at all — both its
    // consumers read the materialized tf artifact (checkpoint scan)
    def tokenizes(plan: String): Int = "split\\(".r.findAllIn(plan).size
    val statelessPlan = TrainingPrep.tfidfTopTerms(spark, sf)
      .queryExecution.executedPlan.toString
    val cachedPlan = TrainingPrep.tfidfTopTermsCached(spark, sf)
      .queryExecution.executedPlan.toString
    assert(tokenizes(statelessPlan) >= 2, statelessPlan)
    assert(tokenizes(cachedPlan) == 0, cachedPlan)
    assert("Scan ExistingRDD".r.findAllIn(cachedPlan).size >= 2, cachedPlan)
  }

  test("corpusPrep plans exactly one data shuffle and matches stagewise composition") {
    val out = TrainingPrep.corpusPrep(spark, sf)
    val plan = out.queryExecution.executedPlan.toString
    // one hash exchange (the dedup window on text); the only other
    // exchange is the final presentation sort's range partitioning
    val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashEx == 1, s"expected 1 hash exchange, plan:\n${plan.take(2000)}")
    assert(!plan.contains("Join"), "corpus prep should be join-free")
    // stagewise recompute on collected rows agrees
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
      .as[(Long, String)].collect()
    val expectedDocs = docs
      .filter { case (_, t) => t.split(" ", -1).length >= 10 }
      .groupBy(_._2).map { case (_, vs) => vs.minBy(_._1) }
      .filter { case (id, _) => (id * GoldenHash.Gamma) % 1000 < 500 }
      .toSeq
    val expectedChunks = expectedDocs.flatMap { case (id, t) =>
      (0 to (t.length - 1) / 100).map(i =>
        (id, i, t.substring(i * 100, math.min(i * 100 + 150, t.length))))
    }.sortBy(c => (c._1, c._2))
    val got = out.as[(Long, Int, String)].collect().toSeq
    assert(got == expectedChunks)
  }

  test("piiRedact leaves no digit runs and masks crafted PII") {
    val out = TrainingPrep.piiRedact(spark, sf)
    assert(out.filter(col("props_redacted").rlike("[0-9]")).count() == 0)
    assert(out.count() == Tables.events(spark, sf).count())
    // the pattern chain on crafted payloads (same expressions, literal input)
    val crafted = Seq(
      ("reach me at bob.smith+x@example.co.uk please", "<email> masked"),
      ("from 192.168.0.1 port 8080", "<ip> then # masked"),
      ("v2 build 12345", "digits masked"))
      .toDF("props", "what")
      .withColumn("event_id", lit(0L)).withColumn("event_type", lit("view"))
    val masked = crafted.select(
      regexp_replace(
        regexp_replace(
          regexp_replace(col("props"), "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}", "<email>"),
          "([0-9]{1,3}\\.){3}[0-9]{1,3}", "<ip>"),
        "[0-9]+", "#").as("r"))
      .as[String].collect()
    assert(masked(0) == "reach me at <email> please", masked(0))
    assert(masked(1) == "from <ip> port #", masked(1))
    assert(masked(2) == "v# build #", masked(2))
  }

  test("corpusPrep3 stage wiring: cap subset, gates bite, packing stays dense") {
    import graft.operators.ScaleOps
    val out = TrainingPrep.corpusPrep3(spark, sf).collect()
    assert(out.nonEmpty)
    val outDocs = out.map(_.getLong(0)).toSet
    // stage 1: every surviving doc was admitted by the source cap
    val capped = ScaleOps.sourceCap(spark, sf).collect().map(_.getLong(0)).toSet
    assert(outDocs.subsetOf(capped), s"${(outDocs -- capped).take(5)} escaped the cap")
    // stage wiring vs corpusPrep2: the added gates can only SHRINK the
    // survivor set (prep3 docs ⊆ prep2 docs ∩ capped)
    val prep2Docs = TrainingPrep.corpusPrep2(spark, sf).collect().map(_.getLong(0)).toSet
    assert(outDocs.subsetOf(prep2Docs), "prep3 admitted a doc prep2's gates rejected")
    assert(outDocs.size < prep2Docs.size, "the acquisition gates never fired")
    // packing invariant carried over: window ids per source are dense from 0
    out.groupBy(_.getString(2)).values.foreach { rows =>
      val wids = rows.map(_.getLong(3)).distinct.sorted
      assert(wids.head == 0L && wids.sameElements(wids.head to wids.last),
        s"sparse window ids: ${wids.take(10).toSeq}")
    }
  }

  test("corpusPrep4 stage wiring: prep3 subset, r8 gates bite, packing stays dense") {
    import graft.operators.{Dedup, TextAnalysis}
    val out = TrainingPrep.corpusPrep4(spark, sf).collect()
    assert(out.nonEmpty)
    val outDocs = out.map(_.getLong(0)).toSet
    // the two added gates can only SHRINK prep3's survivor set
    val prep3Docs = TrainingPrep.corpusPrep3(spark, sf).collect().map(_.getLong(0)).toSet
    assert(outDocs.subsetOf(prep3Docs), "prep4 admitted a doc prep3's gates rejected")
    assert(outDocs.size < prep3Docs.size, "the r8 gates never fired")
    // no survivor is LM-low-decile or span-heavy (gate membership wired)
    val lmLow = TextAnalysis.lmQuality(spark, sf)
      .filter(org.apache.spark.sql.functions.col("low_quality"))
      .collect().map(_.getLong(0)).toSet
    assert((outDocs & lmLow).isEmpty, s"LM-low docs survived: ${(outDocs & lmLow).take(5)}")
    val spans = Dedup.substringSpans(spark, sf).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(r =>
        r.getAs[Long]("span_len")).sum).toMap
    assert(spans.nonEmpty) // the span gate had real input on this corpus
    // no survivor is span-heavy: merged dup spans must cover ≤ half
    // its chars (the gate predicate, re-derived here from raw lengths)
    val lens = Tables.documents(spark, sf)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.length(
          org.apache.spark.sql.functions.col("text")).cast("long").as("len"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val heavySurvivors = outDocs.filter(id =>
      spans.getOrElse(id, 0L) * 2 > lens(id))
    assert(heavySurvivors.isEmpty, s"span-heavy docs survived: ${heavySurvivors.take(5)}")
    // packing invariant: window ids per source dense from 0
    out.groupBy(_.getString(2)).values.foreach { rows =>
      val wids = rows.map(_.getLong(3)).distinct.sorted
      assert(wids.head == 0L && wids.sameElements(wids.head to wids.last),
        s"sparse window ids: ${wids.take(10).toSeq}")
    }
  }

  test("tokenShards balances token totals and covers every doc exactly once") {
    val out = TrainingPrep.tokenShards(spark, sf).cache()
    val nDocs = Tables.documents(spark, sf).count()
    assert(out.count() == nDocs, "not a partition of the corpus")
    assert(out.select("doc_id").distinct().count() == nDocs)
    val totals = out.groupBy("shard").agg(sum("n_tokens").as("t"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(totals.keySet == (0 until TrainingPrep.NumShards).toSet,
      s"shards used: ${totals.keySet}")
    // serpentine-within-band balance: worst shard within 10% of best
    // (hash-mod count-balance gives ~25% spread on this fixture)
    val (mx, mn) = (totals.values.max.toDouble, totals.values.min.toDouble)
    assert(mx / mn <= 1.10, s"token skew ${mx / mn}: $totals")
    // the window is band-partitioned — never global (the PlanGuard
    // trap class); cheap structural double-check here
    val plan = out.queryExecution.optimizedPlan.toString
    assert(!plan.contains("windowspecdefinition()"), plan.take(500))
    out.unpersist()
  }

  test("epochShuffle: per-epoch permutations, genuinely reshuffled, shards balanced") {
    val out = TrainingPrep.epochShuffle(spark, sf).cache()
    val nDocs = Tables.documents(spark, sf).count()
    assert(out.count() == nDocs * TrainingPrep.EpochCount)
    // each epoch covers every doc exactly once
    val perEpoch = out.groupBy("epoch").agg(
      countDistinct("doc_id").as("d"), count(lit(1)).as("n")).collect()
    assert(perEpoch.length == TrainingPrep.EpochCount)
    perEpoch.foreach(r => assert(r.getLong(1) == nDocs && r.getLong(2) == nDocs))
    // positions are contiguous 1..n within every (epoch, shard)
    val posOk = out.groupBy("epoch", "shard")
      .agg(count(lit(1)).as("n"), max("pos").as("mx"), min("pos").as("mn"))
      .filter(col("mx") =!= col("n") || col("mn") =!= 1)
    assert(posOk.count() == 0, "non-contiguous shard positions")
    // epochs are DIFFERENT permutations: the same doc must not keep the
    // same (shard, pos) across epochs for more than a sliver of docs
    val stuck = out.groupBy("doc_id")
      .agg(countDistinct(concat_ws(":", col("shard"), col("pos"))).as("orders"))
      .filter(col("orders") === 1).count()
    assert(stuck < nDocs / 10, s"$stuck/$nDocs docs never moved across epochs")
    // multinomial shard balance per epoch (hash-uniform keys)
    val counts = out.groupBy("epoch", "shard").count().collect().map(_.getLong(2))
    val (mx, mn) = (counts.max.toDouble, counts.min.toDouble)
    assert(mx / mn < 1.6, s"shard skew $mx/$mn")
    // determinism: a second invocation is byte-identical
    val again = TrainingPrep.epochShuffle(spark, sf).collect().map(_.toSeq).toSeq
    assert(again == out.orderBy("epoch", "shard", "pos").collect().map(_.toSeq).toSeq)
    out.unpersist()
  }

  test("corpusPrepDelta2: append-then-probe equals rebuild-then-probe") {
    // the engine admits B against the INCREMENTALLY APPENDED index;
    // truth is a from-scratch index over at-rest ∪ admitted(A) — the
    // two must agree exactly, or appendDedupIndex wrote wrong rows
    val out2 = TrainingPrep.corpusPrepDelta2(spark, sf).collect().map(_.toSeq).toSeq
    val docs = Tables.documents(spark, sf)
    val bucket = GoldenHash.bucket(col("doc_id"), 20)
    val atRest = docs.filter(bucket =!= 7 && bucket =!= 11)
    graft.operators.Dedup.writeDedupIndex(atRest, "d2chk")
    val admittedA = docs.filter(bucket === 7).join(
      TrainingPrep.deltaAdmissionChain(spark, sf, docs.filter(bucket === 7), "d2chk")
        .select(col("doc_id")),
      Seq("doc_id"), "left_semi")
    graft.operators.Dedup.writeDedupIndex(
      atRest.select(col("doc_id"), col("text"))
        .unionByName(admittedA.select(col("doc_id"), col("text"))), "d2chk2")
    val expected = TrainingPrep.deltaAdmissionChain(
        spark, sf, docs.filter(bucket === 11), "d2chk2")
      .collect().map(_.toSeq).toSeq
    assert(out2 == expected,
      s"append-then-probe ${out2.size} rows != rebuild-then-probe ${expected.size}")
    assert(out2.nonEmpty, "degenerate: generation 2 admitted nothing at spec SF")
  }

  test("deltaAdmissionChain's rows are fixed before an append of the same batch") {
    // a sink may consume the chain's frame AFTER the caller appended the
    // batch's admitted docs to the index the chain probes; the frame must
    // still hold the verdicts against the index as it was
    val docs = Tables.documents(spark, sf)
    val bucket = GoldenHash.bucket(col("doc_id"), 20)
    val batch = docs.filter(bucket === 7)
    Dedup.writeDedupIndex(docs.filter(bucket =!= 7), "racechk")
    val before = TrainingPrep.deltaAdmissionChain(spark, sf, batch, "racechk")
      .collect().map(_.toSeq).toSeq
    assert(before.nonEmpty, "degenerate: the batch admitted nothing at spec SF")
    // the append's input must not run the chain: its first action would
    // materialize any lazy pin before the append
    val admitted = before.map(_.head.asInstanceOf[Long])
    val chain = TrainingPrep.deltaAdmissionChain(spark, sf, batch, "racechk")
    Dedup.appendDedupIndex(
      batch.filter(col("doc_id").isin(admitted: _*)).select(col("doc_id"), col("text")),
      "racechk")
    val after = chain.collect().map(_.toSeq).toSeq
    assert(after == before,
      s"collected after the append: ${after.size} rows, before it: ${before.size}")
  }

  test("corpusPrepDelta admission agrees with its constituent gates") {
    val docs = Tables.documents(spark, sf)
    val isDelta = GoldenHash.bucket(col("doc_id"), 20) === 7
    val deltaIds = docs.filter(isDelta).select("doc_id").as[Long].collect().toSet
    val admitted = TrainingPrep.corpusPrepDelta(spark, sf)
      .select("doc_id").as[Long].collect().toSet
    // admitted ⊆ delta, and the dup-heavy fixture rejects a real majority
    assert(admitted.subsetOf(deltaIds))
    assert(admitted.nonEmpty && admitted.size < deltaIds.size,
      s"degenerate funnel: ${admitted.size} of ${deltaIds.size}")
    // no admitted doc is flagged by the corpus-wide n-gram
    // decontamination gate (delta ⊆ train split by hash arithmetic)
    val contaminated = ScaleOps.ngramDecontaminate(spark, sf)
      .select("doc_id").as[Long].collect().toSet
    assert((admitted & contaminated).isEmpty,
      s"admitted contaminated docs: ${(admitted & contaminated).take(5)}")
    // no admitted doc shares text with the at-rest corpus
    val atRestTexts = docs.filter(!isDelta).select("text").as[String].collect().toSet
    val admittedTexts = docs.filter(col("doc_id").isin(admitted.toSeq: _*))
      .select("text").as[String].collect()
    assert(admittedTexts.forall(t => !atRestTexts(t)), "admitted an exact dup")
    // rejected-by-near-dup docs really have an at-rest near-dup: spot
    // check via the corpus-wide minhash components — every rejected doc
    // that minhashDedup clusters must share its cluster with an at-rest
    // doc OR have been dropped by an earlier stage
    val clusters = Dedup.minhashDedup(spark, sf)
      .select(col("doc_id"), col("kept_doc_id")).as[(Long, Long)].collect()
    val byCluster = clusters.groupBy(_._2).map { case (k, v) => k -> v.map(_._1).toSet }
    val clusterOf = clusters.toMap
    val rejected = deltaIds -- admitted
    val withAtRestMate = rejected.filter { id =>
      clusterOf.get(id).exists(c => (byCluster(c) - id).exists(!deltaIds(_)))
    }
    assert(withAtRestMate.nonEmpty, "no rejected doc shows an at-rest cluster mate")
  }

  test("corpusPrep5 is exactly corpusPrep4 minus the calibration and sampling gates") {
    val v4Docs = TrainingPrep.corpusPrep4(spark, sf)
      .select(col("doc_id")).distinct().collect().map(_.getLong(0)).toSet
    val v5Docs = TrainingPrep.corpusPrep5(spark, sf)
      .select(col("doc_id")).distinct().collect().map(_.getLong(0)).toSet
    assert(v5Docs.subsetOf(v4Docs), "v5 admitted a doc v4 dropped")
    // recompute the two extra gates directly
    val scored = graft.operators.TextAnalysis.modelQuality(spark, sf)
      .select(col("doc_id"), col("quality_logit")).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val c1 = {
      val sorted = scored.map(_._2).sorted
      val pos = (sorted.length - 1) * 0.1
      val (lo, hi) = (sorted(pos.toInt), sorted(math.ceil(pos).toInt))
      BigDecimal(lo + (hi - lo) * (pos - pos.toInt))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val calLow = scored.filter(_._2 <= c1).map(_._1).toSet
    val sampleKept = Tables.documents(spark, sf)
      .select(col("doc_id"), col("n_chars")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (id, nc) =>
        (id * GoldenHash.Gamma) % 1000 < math.min(1000L, math.max(100L, nc * 2))
      }.map(_._1).toSet
    val expected = v4Docs.filterNot(calLow).filter(sampleKept)
    assert(v5Docs == expected,
      s"v5 docs differ from v4 minus gates: extra=${(v5Docs -- expected).take(3)} missing=${(expected -- v5Docs).take(3)}")
  }
}
