package graft

/** Contract checks on the driver-facing query surface. */
class QuerySurfaceSpec extends SparkSpec {

  test("entry (flagship) returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("hash-embed bucket rollup matches a plain-Scala fold") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // independent reference: same rolling hash, no Spark expressions
    def bucket(w: String): Int =
      (w.foldLeft(0L)((h, c) => (h * 31 + c.toInt) % 2147483648L) %
        operators.TextAnalysis.HashDim).toInt
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
    val expected = docs.flatMap { case (id, t) =>
      "[a-z]+".r.findAllIn(t.toLowerCase).map(w => (id, bucket(w)))
    }.groupBy(identity).view.mapValues(_.size.toLong).toSeq
      .groupBy(_._1._1).map { case (id, bs) =>
        val cnts = bs.map(_._2)
        val chks = bs.map { case ((_, b), c) => c * (b + 1) }
        (id, cnts.sum, bs.size.toLong, chks.sum, cnts.map(c => c * c).sum)
      }.toSet
    val got = operators.TextAnalysis.hashEmbed(spark, sf)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(got == expected,
      s"hash-embed drift: ${got.size} vs ${expected.size} docs")
  }

  test("every oracle key has a query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracles without queries: $missing")
  }

  test("no oracle SQL or query builder is null (object-init cycle guard)") {
    // Scala object-initialization cycles materialize as NULL vals, not
    // errors: when a composed oracle (e.g. the datacard) forces an
    // *Oracles object BEFORE its operator object, an EAGER `defs` val
    // at the end of the operator object captures Some(null) for every
    // oracle — which r17 hit the day the datacard landed (the full
    // registry init order shifted and five unigram oracles went null,
    // NPE-ing Verify). All defs are `lazy val` now; this pins it.
    val nullOracles = SparkEntry.oracleSql.collect { case (k, null) => k }
    assert(nullOracles.isEmpty, s"null oracle SQL (init cycle): $nullOracles")
    val nullQueries = SparkEntry.queries.collect { case (k, null) => k }
    assert(nullQueries.isEmpty, s"null query builder (init cycle): $nullQueries")
  }

  test("round-7 additions keep their scale-critical plan properties") {
    // ngram decontamination: the benchmark gram side must be BROADCAST
    // (the training side streams; a shuffle join here would reshuffle
    // the 100 TB side on gram strings)
    val decon = operators.ScaleOps.ngramDecontaminate(spark, sf)
      .queryExecution.executedPlan.toString
    assert(decon.contains("BroadcastHashJoin") || decon.contains("BroadcastExchange"),
      s"benchmark grams not broadcast:\n$decon")
    // shipping priority: both date filters must reach their parquet
    // scans as pushed filters, not post-scan Filter-only predicates
    val ship = operators.Analytics.shippingPriority(spark, sf)
      .queryExecution.executedPlan.toString
    assert(ship.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThan(l_shipdate,"),
      s"l_shipdate filter not pushed:\n$ship")
    assert(ship.contains("PushedFilters: [IsNotNull(o_orderdate), LessThan(o_orderdate,"),
      s"o_orderdate filter not pushed:\n$ship")
    // user deciles: the nine cutpoints join as a broadcast nested loop
    // over ONE row — never a shuffle of the per-user counts
    val dec = operators.ScaleOps.userDeciles(spark, sf)
      .queryExecution.executedPlan.toString
    assert(dec.contains("BroadcastNestedLoopJoin") || dec.contains("BroadcastExchange"),
      s"cutpoints not broadcast:\n$dec")
  }

  test("lm quality: gibberish scores below fluent text and lands in the low decile") {
    import spark.implicits._
    // 18 fluent docs drawn from a small shared vocabulary (high bigram
    // counts under the self-trained LM) + 2 docs of singleton-word
    // gibberish (every bigram unseen elsewhere -> add-one floor).
    val fluent = (0 until 18).map { i =>
      (i.toLong, s"the cat sat on the mat and the dog sat on the rug again ${i % 3}",
        "en", "s", 1L)
    }
    val junk = Seq(
      (18L, "qzx vbnk wplf jdhr tgyu mkio aswe dfgh zxcv bnml", "en", "s", 1L),
      (19L, "aa1 bb2 cc3 dd4 ee5 ff6 gg7 hh8 ii9 jj0", "en", "s", 1L))
    val dir = java.nio.file.Files.createTempDirectory("graft-lm").toString
    (fluent ++ junk).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = operators.TextAnalysis.lmQuality(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Double]("avg_ll"), r.getAs[Boolean]("low_quality")))).toMap
    val worstFluent = fluent.map(f => out(f._1)._1).min
    assert(out(18L)._1 < worstFluent && out(19L)._1 < worstFluent,
      s"gibberish must score below every fluent doc: $out")
    // 20 docs -> decile 1 holds exactly the two worst scores
    assert(out(18L)._2 && out(19L)._2, s"gibberish not flagged: $out")
    assert(fluent.forall(f => !out(f._1)._2), s"fluent doc flagged: $out")
  }

  test("model quality gate: pinned linear scorer separates the weak classes") {
    import org.apache.spark.sql.functions._
    // capture the plan BEFORE caching: a cached plan string repeats the
    // build plan under InMemoryRelation (Final + Initial AQE sections),
    // double-counting the scan
    val plan = operators.TextAnalysis.modelQuality(spark, sf)
      .queryExecution.executedPlan.toString
    val out = operators.TextAnalysis.modelQuality(spark, sf).cache()
    // keep is the sign of the emitted logit (the logit replaced the
    // sigmoid score in r11 — libm exp() ulp drift flipped round-4
    // boundary rows at sf1; the logit is pure arithmetic and a
    // monotone transform, so these assertions carry over)
    assert(out.filter(col("keep") && col("quality_logit") < 0).count() == 0)
    assert(out.filter(!col("keep") && col("quality_logit") >= 0).count() == 0)
    // the classifier must have learned real structure: the training
    // label (lang = 'en') is metadata NOT derivable from the feature
    // vector, so separation here is evidence of fit, not construction
    val withLang = out.join(
      graft.Tables.documents(spark, sf).select(col("doc_id"), col("lang")), "doc_id")
    val Array(hi, lo) = withLang.agg(
      avg(when(col("lang") === "en", col("quality_logit"))),
      avg(when(col("lang") =!= "en", col("quality_logit")))).collect()(0) match {
      case r => Array(r.getDouble(0), r.getDouble(1))
    }
    assert(hi > lo, s"en mean logit $hi not above non-en mean $lo")
    // ADVICE r9 item 3 "done" bar: accuracy must beat the trivial
    // predict-the-majority classifier. No upper bound: perfect
    // accuracy on a small fixture is a plausible legitimate fit, not
    // evidence of label leakage — the lang label is independent of
    // the feature vector (ADVICE r11). Non-degeneracy of the fit is
    // asserted on the logit distribution instead: both decision sides
    // populated (checked above) and a non-constant logit spread.
    val n = withLang.count().toDouble
    val nEn = withLang.filter(col("lang") === "en").count().toDouble
    val majority = math.max(nEn, n - nEn) / n
    val correct = withLang.filter(
      col("keep") === (col("lang") === "en")).count().toDouble
    val acc = correct / n
    assert(acc > majority, s"accuracy $acc not above majority $majority")
    val logitSpread = withLang.agg(
      (max(col("quality_logit")) - min(col("quality_logit"))).cast("double"))
      .collect()(0).getDouble(0)
    assert(logitSpread > 1e-6, s"degenerate constant logit (spread $logitSpread)")
    // inference is scan arithmetic pinned once per (session, corpus):
    // the query probes the at-rest scored table (one ExistingRDD scan,
    // no parquet re-scan — r21 [[TextAnalysis.modelQualityScored]]),
    // and no UDF eval node appears anywhere; the feature arithmetic
    // itself runs inside the pinned build's scan, covered by the
    // weights-sidecar + oracle checks below
    assert("Scan ExistingRDD".r.findAllIn(plan).size == 1, plan.take(1500))
    assert("Scan parquet".r.findAllIn(plan).isEmpty, plan.take(1500))
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"), plan.take(1500))
    // the sidecar the oracle replays from: intercept + 4 coefficients,
    // every weight already quantized at 6 decimals
    val ws = spark.read.parquet(operators.TextAnalysis.QualityWeightsPath)
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).sortBy(_._1)
    assert(ws.map(_._1).sameElements(0 to 4), ws.mkString(","))
    for ((_, w) <- ws)
      assert(BigDecimal(w).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble == w,
        s"weight $w not 6-decimal quantized")
    out.unpersist()
  }

  test("every query runs non-empty at sf0.001") {
    // The anomaly-row extractions are legitimately empty at sf0.001
    // (no |z|>3 hour in 1k events; their DuckDB oracles agree) — they
    // are non-empty from sf0.01 up.
    val mayBeEmpty = Set("q_anomalous_rows", "q_anomaly_enriched")
    val empty = SparkEntry.queries.collect {
      case (name, fn) if !mayBeEmpty(name) && fn(spark, sf).isEmpty => name
    }
    assert(empty.isEmpty, s"empty results at sf0.001: $empty")
  }

  test("anomaly family is served by one shared cached baseline") {
    // The per-(user,hour) scored baseline is built once per (session,
    // sfDir) — one events scan, one pass for BOTH windows — frame-pinned,
    // and every family member reads the pin. A frame pin cuts lineage, so
    // the pinned relation prints as an RDD scan with no build plan under it.
    val z = operators.Analytics.zscoreAnomaly(spark, sf)
    z.collect()
    val zPlan = z.queryExecution.executedPlan.toString
    assert(zPlan.contains("Scan ExistingRDD"), zPlan.take(1500))
    assert("Scan parquet".r.findAllIn(zPlan).isEmpty,
      s"z-score table rescans parquet:\n${zPlan.take(1500)}")

    // the enrichment join scans events once (the row-sample side) and
    // takes the anomaly metadata from the same pin, not a re-derivation
    val e = operators.Analytics.anomalyEnriched(spark, sf)
    e.collect()
    val ePlan = e.queryExecution.executedPlan.toString
    assert(ePlan.contains("Scan ExistingRDD"), ePlan.take(1500))
    assert("Scan parquet".r.findAllIn(ePlan).size == 1, ePlan.take(2000))
  }

  test("typed sessionization agrees with the window-function formulation") {
    import org.apache.spark.sql.functions._
    val fromWindows = operators.Analytics.sessionStats(spark, sf)
      .select("user_id", "n_sessions").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fromTyped = operators.TypedSessions.sessionize(spark, sf)
      .groupBy(col("user_id")).count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fromTyped == fromWindows)
  }

  test("approx percentiles stay within 5% of exact at every quantile") {
    // (At sf0.001 the sketch holds all samples, so approx is near-exact;
    // the per-column check still pins the p50/p95/p99 → column mapping.)
    def triple(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getString(0) -> Seq(r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    // sf0.01 (~2k rows/group): at sf0.001 the p99 tail has ~2 samples
    // and nearest-sample-vs-interpolation gaps reach 25% — not a sketch
    // defect, just sparsity. Approx returns a nearest sample (no
    // interpolation), so tails still get a looser bound than the median.
    val sfP = "/root/testdata/sf0.01"
    val exact = triple(operators.Analytics.latencyPercentiles(spark, sfP))
    val approx = triple(operators.Analytics.latencyPercentilesApprox(spark, sfP))
    val tol = Seq(0.05, 0.10, 0.10)
    for ((k, es) <- exact; ((e, a), t) <- es.zip(approx(k)).zip(tol))
      assert(math.abs(a - e) / e < t, s"$k exact=$es approx=${approx(k)}")
    // exact percentiles must be monotone across the quantiles
    for ((k, Seq(p50, p95, p99)) <- exact)
      assert(p50 <= p95 && p95 <= p99, s"$k not monotone: $p50 $p95 $p99")
  }

  test("query outputs are deterministic across runs") {
    // sketch-based queries are merge-order-dependent once groups exceed
    // the sketch threshold — exclude them rather than rely on small-SF luck
    val sketchy = Set("q_approx_distinct", "q_latency_percentiles_approx")
    for ((name, fn) <- SparkEntry.queries if !sketchy(name)) {
      val a = fn(spark, sf).collect().toSeq
      val b = fn(spark, sf).collect().toSeq
      assert(a == b, s"$name not deterministic")
    }
  }

  test("funnel stages are sequence-constrained, not independent mins") {
    import org.apache.spark.sql.functions._
    val out = operators.Analytics.funnel(spark, sf).cache()
    // ordering invariant: view <= click <= purchase wherever present
    assert(out.filter(col("click_ts") < col("view_ts")).count() == 0)
    assert(out.filter(col("purchase_ts") < col("click_ts")).count() == 0)
    // stage column consistent with which timestamps are present
    assert(out.filter(col("stage") === 3 && col("purchase_ts").isNull).count() == 0)
    assert(out.filter(col("stage") === 2 &&
      (col("click_ts").isNull || col("purchase_ts").isNotNull)).count() == 0)
    assert(out.filter(col("stage") === 1 && col("click_ts").isNotNull).count() == 0)
    // full ground truth: replay the sequence constraint per user on
    // collected events (small at sf0.001) and compare every stage row
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"), col("ts"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2)))
    val expected = ev.groupBy(_._1).flatMap { case (u, rows) =>
      def minAtOrAfter(tpe: String, from: Option[java.sql.Timestamp]) = {
        val c = rows.filter(_._2 == tpe).map(_._3)
          .filter(t => from.forall(f => !t.before(f)))
        if (c.isEmpty) None else Some(c.minBy(_.getTime))
      }
      minAtOrAfter("view", None).map { vts =>
        val cts = minAtOrAfter("click", Some(vts))
        val pts = cts.flatMap(c => minAtOrAfter("purchase", Some(c)))
        (u, (Some(vts), cts, pts, if (pts.isDefined) 3 else if (cts.isDefined) 2 else 1))
      }
    }
    val got = out.collect().map(r => r.getLong(0) ->
      ((Option(r.getTimestamp(1)), Option(r.getTimestamp(2)),
        Option(r.getTimestamp(3)), r.getInt(4)))).toMap
    assert(got == expected, s"funnel mismatch")
    out.unpersist()
  }

  test("embedding centroids match a driver-side computation per label") {
    import org.apache.spark.sql.functions._
    val rows = Tables.embeddings(spark, sf)
      .select(col("label"), col("embedding")).collect()
      .map(r => r.getInt(0) -> r.getSeq[Float](1))
    val expected = rows.groupBy(_._1).map { case (l, vs) =>
      val vecs = vs.map(_._2.toIndexedSeq).toIndexedSeq
      val sums = vecs.transpose.map(column =>
        column.map(x => math.round(x.toDouble * 10000)).sum)
      l -> sums.map(_ / (vecs.length * 10000e0))
    }
    val got = operators.Similarity.embeddingCentroids(spark, sf)
      .collect().groupBy(_.getInt(0)).map { case (l, rs) =>
        l -> rs.sortBy(_.getInt(1)).map(_.getDouble(2)).toIndexedSeq
      }
    assert(got == expected)
  }

  test("vocab coverage curve is a valid CDF over the corpus token mass") {
    val rows = operators.TextAnalysis.vocabCoverage(spark, sf)
      .collect().map(r => (r.getInt(0), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(rows.nonEmpty)
    // ranks are 1..V in frequency order; cumsum is the running total of
    // the counts; coverage ends at exactly 1.0 and never decreases
    assert(rows.map(_._1).toSeq == (1 to rows.length))
    val counts = rows.map(_._2)
    assert(counts.zip(counts.tail).forall { case (a, b) => a >= b }, "counts not descending")
    assert(rows.map(_._3).toSeq == counts.scanLeft(0L)(_ + _).tail.toSeq, "cumsum mismatch")
    val cov = rows.map(_._4)
    assert(cov.zip(cov.tail).forall { case (a, b) => a <= b }, "coverage decreased")
    assert(cov.last == 1.0, s"coverage must end at 1.0, got ${cov.last}")
  }
}
