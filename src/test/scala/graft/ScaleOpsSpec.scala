package graft

import org.apache.spark.sql.functions._
import graft.functions.{SketchFunctions, SpaceSavingState}
import graft.operators.ScaleOps

class ScaleOpsSpec extends SparkSpec {

  test("bloom decontaminate equals the plain exact anti-join") {
    val got = ScaleOps.bloomDecontaminate(spark, sf)
      .collect().map(_.getLong(0)).toSeq

    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), md5(col("text")).as("fp"),
        GoldenHash.isTestDoc(col("doc_id")).as("is_test"))
    val expected = docs.filter(!col("is_test"))
      .join(docs.filter(col("is_test")).select("fp"), Seq("fp"), "left_anti")
      .orderBy("doc_id").collect().map(_.getLong(1)).toSeq

    assert(got == expected)
    // the blocklist side is non-empty, so the sketch was really built
    assert(docs.filter(col("is_test")).count() > 0)
  }

  test("bloom prefilter drops a planted exact duplicate of a benchmark doc") {
    import spark.implicits._
    // ids chosen so the GoldenHash benchmark rule marks 10 and 20
    val marked = (1L to 60L).filter(i => i * GoldenHash.Gamma % 10 == 0)
    val clean = (1L to 60L).filterNot(marked.contains).take(3)
    val docs = (marked.map(i => (i, s"bench text $i")) ++
      clean.map(i => (i, if (i == clean.head) s"bench text ${marked.head}"
                         else s"unique text $i")))
      .toDF("doc_id", "text")
      .withColumn("source", lit("src0")).withColumn("n_chars", lit(1L))
    val dir = java.nio.file.Files.createTempDirectory("graft-bloom").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val kept = ScaleOps.bloomDecontaminate(spark, dir)
      .collect().map(_.getLong(0)).toSet
    assert(!kept.contains(clean.head), "contaminated duplicate survived")
    assert(kept == clean.drop(1).toSet)
  }

  test("data mixture replica counts follow the per-source weight") {
    val out = ScaleOps.dataMixture(spark, sf)
    val perDoc = out.groupBy("doc_id", "source")
      .agg(count(lit(1)).as("n"), max("epoch").as("max_epoch"))
      .collect()
    assert(perDoc.nonEmpty)
    perDoc.foreach { r =>
      val docId = r.getLong(0)
      val idx = r.getString(1).drop(3).toInt
      val wPm = 250 + (idx % 8) * 250
      val bucket = (docId * GoldenHash.Gamma) % 1000
      val expected = wPm / 1000 + (if (bucket < wPm % 1000) 1 else 0)
      assert(r.getLong(2) == expected, s"doc $docId")
      // epochs are 1..n with no gaps
      assert(r.getInt(3) == expected, s"doc $docId epochs")
    }
    // docs with zero copies are genuinely absent, not zero-count rows
    val mixed = out.select("doc_id").distinct().count()
    val all = Tables.documents(spark, sf).count()
    assert(mixed < all)
  }

  test("grouping sets covers exactly the four declared slices") {
    val rows = ScaleOps.groupingSets(spark, sf).collect()
    val events = Tables.events(spark, sf)
    val nTypes = events.select("event_type").distinct().count()
    val nDays = events.select(expr("CAST(date_trunc('day', ts) AS DATE)"))
      .distinct().count()
    val nPairs = events
      .select(col("event_type"), expr("CAST(date_trunc('day', ts) AS DATE)"))
      .distinct().count()
    assert(rows.length == nPairs + nTypes + nDays + 1)
    val grand = rows.filter(r => r.getString(0) == "ALL" && r.getString(1) == "ALL")
    assert(grand.length == 1)
    assert(grand.head.getLong(2) == events.count())
    // per-type marginals sum to the grand total
    val typeRows = rows.filter(r => r.getString(0) != "ALL" && r.getString(1) == "ALL")
    assert(typeRows.map(_.getLong(2)).sum == events.count())
  }

  test("space-saving summary honors its frequency bounds on skewed data") {
    import spark.implicits._
    // 2 heavy items (30% and 15% of N) over a 5000-distinct-tail — far
    // beyond the 64-counter capacity, so evictions and merges happen.
    val n = 20000L
    val data = spark.range(n).map { i =>
      if (i % 10 < 3) 1L
      else if (i % 10 < 4) 2L
      else 1000L + (i % 5000)
    }
    val summary = data.toDF("value")
      .agg(SketchFunctions.spaceSaving(col("value"), 64).as("s"))
      .select(explode(col("s")).as("h"))
      .select("h.item", "h.est", "h.err")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val truth = data.groupBy("value").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

    summary.foreach { case (item, est, err) =>
      val t = truth(item)
      assert(est >= t, s"item $item: est $est < true $t")
      assert(est - err <= t, s"item $item: lower bound violated")
    }
    // every item with true frequency > N/capacity is present
    val threshold = n / 64
    val reported = summary.map(_._1).toSet
    truth.filter(_._2 > threshold).keys.foreach { heavy =>
      assert(reported.contains(heavy), s"heavy item $heavy missing")
    }
  }

  test("space-saving state evicts deterministically and survives serialization") {
    val st = new SpaceSavingState(2)
    Seq(5L, 5L, 9L, 3L).foreach(st.add) // 3 evicts min (9, ties on item)
    val byItem = st.sorted.map(t => t._1 -> ((t._2, t._3))).toMap
    assert(byItem(5L) == ((2L, 0L)))
    assert(byItem(3L) == ((2L, 1L))) // inherited 9's count as overcount
    // round-trip through the aggregate's wire format
    val agg = graft.functions.SpaceSavingAgg(
      org.apache.spark.sql.catalyst.expressions.Literal(0L), 2)
    val back = agg.deserialize(agg.serialize(st))
    assert(back.sorted.toSeq == st.sorted.toSeq)
  }

  test("heavy hitters query reports the fixture's real top user") {
    val hh = ScaleOps.heavyHitters(spark, sf).collect()
    assert(hh.nonEmpty && hh.length <= 64)
    val exact = Tables.events(spark, sf).groupBy("user_id").count()
      .orderBy(col("count").desc).head()
    // the true #1 must be reported, with bounds straddling its count
    val top = hh.find(_.getLong(0) == exact.getLong(0))
    assert(top.isDefined, "true top user missing from summary")
    assert(top.get.getLong(1) >= exact.getLong(1))
  }

  test("plans: mixture expands scan-local, bloom verify join broadcasts, summary aggregates map-side") {
    // data mixture: the expansion itself never hash-shuffles — the only
    // exchange is the presentational final sort
    val mix = ScaleOps.dataMixture(spark, sf)
    mix.collect()
    val mixPlan = mix.queryExecution.executedPlan.toString
    assert(!mixPlan.contains("Exchange hashpartitioning"), mixPlan.take(1500))

    // bloom decontaminate: the exact verification is a broadcast anti
    // join (blocklist side), never a sort-merge shuffle of the corpus
    val bloom = ScaleOps.bloomDecontaminate(spark, sf)
    bloom.collect()
    val bloomPlan = bloom.queryExecution.executedPlan.toString
    assert(bloomPlan.contains("BroadcastHashJoin") && bloomPlan.contains("LeftAnti"),
      bloomPlan.take(1500))
    assert(!bloomPlan.contains("SortMergeJoin"), bloomPlan.take(1500))

    // heavy hitters: partial summaries are built map-side (two
    // ObjectHashAggregate stages), so only m counters cross the wire
    val hh = ScaleOps.heavyHitters(spark, sf)
    hh.collect()
    val hhPlan = hh.queryExecution.executedPlan.toString
    assert("ObjectHashAggregate".r.findAllIn(hhPlan).size >= 2, hhPlan.take(1500))

    // mips: query side broadcast, no unbroadcast cartesian product
    val mips = ScaleOps.mipsTopK(spark, sf)
    mips.collect()
    val mipsPlan = mips.queryExecution.executedPlan.toString
    assert(!mipsPlan.contains("CartesianProduct"), mipsPlan.take(1500))
  }

  test("value histogram bins cover every event exactly once") {
    val rows = ScaleOps.valueHistogram(spark, sf).collect()
    val total = Tables.events(spark, sf).filter(col("value").isNotNull).count()
    assert(rows.map(_.getLong(1)).sum == total)
    val bins = rows.map(_.getInt(0))
    assert(bins.distinct.length == bins.length && bins.forall(_ % 25 == 0))
  }

  test("full outer day compare classifies new/churned/retained consistently") {
    val rows = ScaleOps.fullOuterCompare(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n1, n2, st) = (r.getLong(1), r.getLong(2), r.getString(4))
      st match {
        case "new"      => assert(n1 == 0 && n2 > 0)
        case "churned"  => assert(n1 > 0 && n2 == 0)
        case "retained" => assert(n1 > 0 && n2 > 0)
        case other      => fail(s"unknown status $other")
      }
      assert(r.getLong(3) == n2 - n1)
    }
    // the join really null-extends (at least one one-sided user exists;
    // which direction depends on the fixture's user-pool density)
    val statuses = rows.map(_.getString(4)).toSet
    assert((statuses - "retained").nonEmpty, statuses.toString)
  }

  test("mips top-1 agrees with a driver-side exact computation") {
    val got = ScaleOps.mipsTopK(spark, sf).filter(col("rank") === 1).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val vecs = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    for (q <- 0L until 5L) {
      val qv = vecs(q)
      val best = vecs.iterator.filter(_._1 != q).map { case (id, v) =>
        id -> qv.zip(v).map { case (x, y) => x * y }.sum
      }.reduceLeft { (a, b) =>
        if (b._2 > a._2 || (b._2 == a._2 && b._1 < a._1)) b else a
      }
      assert(got(q) == best._1, s"query $q")
    }
  }

  test("heavy-hitters exact companion equals the true guaranteed-heavy set") {
    // event_type cardinality (5) <= capacity (64): Space-Saving is
    // provably exact under any merge order, so the companion must equal
    // the exact GROUP BY ... HAVING set with exact counts
    val got = ScaleOps.heavyHittersExact(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val ev = Tables.events(spark, sf)
    val total = ev.count()
    val expected = ev.groupBy(col("event_type")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1))
      .filter { case (_, n) => n * 64 > total }.toMap
    assert(got == expected, s"got=$got expected=$expected")
  }

  test("source cap keeps at most N docs per source, deterministically") {
    val out = ScaleOps.sourceCap(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    val bySource = out.groupBy(_._2)
    assert(bySource.values.forall(_.length <= 20))
    // ranks within a source are exactly 1..k (a real sample, no gaps)
    bySource.values.foreach { docs =>
      assert(docs.map(_._3).sorted.toSeq == (1 to docs.length).toSeq)
    }
    // deterministic: a second invocation returns the identical set
    val again = ScaleOps.sourceCap(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    assert(out.toSet == again.toSet)
    // the hash rank is not doc_id order: some source must keep a doc
    // whose doc_id is NOT among its 20 smallest (unbiased sampling)
    val all = Tables.documents(spark, sf).select("doc_id", "source").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val biased = all.groupBy(_._2).values.flatMap(ds =>
      ds.map(_._1).sorted.take(20)).toSet
    assert(out.map(_._1).toSet != biased, "cap degenerated to doc_id order")
  }

  test("new corpus ops keep scale-safe plans (no pair materialization)") {
    // boilerplate: gram joins are equality joins on the gram key; the
    // source cap is one window over the source partitioning — neither
    // may degenerate into a cross product
    Seq(ScaleOps.boilerplateNgrams(spark, sf), ScaleOps.sourceCap(spark, sf))
      .foreach { q =>
        val phys = q.queryExecution.executedPlan.toString
        assert(!phys.contains("CartesianProduct") &&
          !phys.contains("BroadcastNestedLoopJoin"), phys.take(2000))
      }
  }

  test("boilerplate n-grams: planted template is flagged, unique text is not") {
    import spark.implicits._
    val template = (1 to 8).map(i => s"tpl$i").mkString(" ")
    def unique(seed: Int) = (1 to 12).map(i => s"w${seed}_$i").mkString(" ")
    val docs = Seq(
      (0L, s"$template ${unique(0)}", "en", "s", 0L),
      (1L, s"$template ${unique(1)}", "en", "s", 0L),
      (2L, s"$template ${unique(2)}", "en", "s", 0L),
      (3L, unique(3), "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("graft-boiler").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = ScaleOps.boilerplateNgrams(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // the template 8-gram appears in 3 docs (>= minDocs): exactly one
    // boilerplate gram in each carrier, none in the unique doc
    (0L to 2L).foreach { id =>
      assert(out(id)._2 == 1L, s"doc $id: ${out(id)}")
    }
    assert(out(3L)._2 == 0L && out(3L)._1 > 0L, out(3L).toString)
  }
}
