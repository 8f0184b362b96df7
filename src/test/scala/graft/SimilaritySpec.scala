package graft

import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions
import graft.operators.Similarity

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("native dot/cosine match the higher-order-function formulation") {
    val df = Seq(
      (Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0)),
      (Array(0.5, -1.0, 2.5), Array(-2.0, 0.0, 1.0)))
      .toDF("a", "b")
    val got = df.select(
      VectorFunctions.dot(col("a"), col("b")).as("dot"),
      VectorFunctions.cosine(col("a"), col("b")).as("cos"),
      expr("aggregate(zip_with(a, b, (x, y) -> x * y), 0.0D, (acc, x) -> acc + x)").as("dot_hof"))
      .collect()
    got.foreach { r =>
      assert(math.abs(r.getDouble(0) - r.getDouble(2)) < 1e-12)
      assert(math.abs(r.getDouble(1)) <= 1.0 + 1e-12)
    }
    val first = got.head
    assert(math.abs(first.getDouble(0) - 32.0) < 1e-12)
  }

  test("semantic decontamination drops exactly the above-threshold trainers, scan-stage") {
    val out = Similarity.semanticDecontaminate(spark, sf).cache()
    // independent quadratic recomputation: per-train max of round-6
    // cosines against the test split (plain DataFrame ops, no native
    // expression — a bug in MaxCosineSimBc can't self-verify)
    val v = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val isTest = GoldenHash.bucket(col("vec_id"), 10) === 0
    val expected = v.filter(!isTest)
      .crossJoin(broadcast(v.filter(isTest).select(col("v").as("tv"))))
      .withColumn("cos", round(VectorFunctions.cosine(col("v"), col("tv")), 6))
      .groupBy(col("vec_id")).agg(max(col("cos")).as("m"))
      .filter(col("m") < Similarity.SemDecontamThreshold)
      .select(col("vec_id"), col("m").as("max_test_sim"))
      .as[(Long, Double)].collect().toMap
    val got = out.select(col("vec_id"), col("max_test_sim"))
      .as[(Long, Double)].collect().toMap
    assert(got == expected, s"kept-set mismatch: ${got.size} vs ${expected.size}")
    // both branches must be exercised at fixture scale: some trainers
    // dropped, most kept
    val trainers = v.filter(!isTest).count()
    assert(got.nonEmpty && got.size < trainers,
      s"degenerate gate: kept ${got.size} of $trainers")
    // scale contract: ONE corpus scan fused in codegen — no join node,
    // no aggregate, no extra exchange beyond the output sort
    val plan = Similarity.semanticDecontaminate(spark, sf)
      .queryExecution.executedPlan.toString
    assert("Scan parquet".r.findAllIn(plan).size == 1, plan.take(1200))
    assert(!plan.contains("Join"), plan.take(1200))
    assert(!plan.contains("ScalaUDF") && !plan.contains("BatchEvalPython"))
    out.unpersist()
  }

  test("semantic decontamination fails loud past the benchmark-side collect cap") {
    val e = intercept[IllegalArgumentException] {
      Similarity.semanticDecontaminate(spark, sf, maxBenchRows = 3).count()
    }
    assert(e.getMessage.contains("driver-collect cap"), e.getMessage)
    assert(e.getMessage.contains("IVF-prefiltered"), e.getMessage)
  }

  test("auto-select decontamination: exact under the cap, IVF escalation past it") {
    // fixture benchmark split fits the default cap → the auto entry IS
    // the exact broadcast gate, row for row
    val exact = Similarity.semanticDecontaminate(spark, sf)
      .collect().map(_.getLong(0)).toSeq
    val auto = Similarity.semanticDecontaminateAuto(spark, sf)
      .collect().map(_.getLong(0)).toSeq
    assert(auto == exact)
    // a cap below the split size trips the escalation: the auto entry
    // becomes the IVF-prefiltered plan (and never throws the exact
    // gate's collect-cap error)
    val ivf = Similarity.semanticDecontaminateIvf(spark, sf)
      .collect().map(_.getLong(0)).toSeq
    val escalated = Similarity.semanticDecontaminateAuto(spark, sf, maxBenchRows = 3)
      .collect().map(_.getLong(0)).toSeq
    assert(escalated == ivf)
  }

  test("IVF-prefiltered decontamination: exact precision, bounded recall vs the exact gate") {
    val v = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val isTest = GoldenHash.bucket(col("vec_id"), 10) === 0
    val trainIds = v.filter(!isTest).select("vec_id").as[Long].collect().toSet
    def flagged(kept: org.apache.spark.sql.DataFrame): Set[Long] =
      trainIds -- kept.select("vec_id").as[Long].collect().toSet
    val exactFlagged = flagged(Similarity.semanticDecontaminate(spark, sf))
    val ivfFlagged = flagged(Similarity.semanticDecontaminateIvf(spark, sf))
    // precision exact: the probed max is a lower bound of the true max,
    // so anything the IVF gate drops the exact gate also drops
    assert(ivfFlagged.subsetOf(exactFlagged),
      s"IVF gate dropped clean rows: ${(ivfFlagged -- exactFlagged).take(5)}")
    // recall bounded: nprobe=3 of 8 cells must find the great majority
    // of true contaminations (the contaminating benchmark vector is
    // COSINE-near its trainer, so their cells usually coincide)
    assert(exactFlagged.nonEmpty, "fixture has no contaminated rows")
    val recall = ivfFlagged.size.toDouble / exactFlagged.size
    assert(recall >= 0.8,
      s"recall=$recall (${ivfFlagged.size} of ${exactFlagged.size})")
  }

  test("max-cosine: broadcast form matches a Scala round-6 max; zero norms give NaN") {
    val mat = Array(Array(1.0, 0.0), Array(0.6, 0.8))
    val bc = spark.sparkContext.broadcast(mat)
    val vs = Map(1L -> Array(3.0, 4.0), 2L -> Array(-1.0, 1.0), 3L -> Array(0.0, 0.0))
    val df = vs.toSeq.toDF("id", "v")
    // independent reference: BigDecimal half-up rounding (the oracle's
    // convention) of each pair's cosine; any NaN pair makes the row NaN
    def expected(v: Array[Double], m: Array[Array[Double]]): Double = {
      val cs = m.map { t =>
        val dot = v.zip(t).map { case (x, y) => x * y }.sum
        dot / (math.sqrt(v.map(x => x * x).sum) * math.sqrt(t.map(y => y * y).sum))
      }
      if (cs.exists(_.isNaN)) Double.NaN
      else cs.map(c => BigDecimal(c).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble).max
    }
    def same(a: Double, b: Double): Boolean = a == b || (a.isNaN && b.isNaN)
    val got = df.select(col("id"), VectorFunctions.maxCosineBc(col("v"), bc).as("m"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.keySet == vs.keySet)
    // codegen path, row by row
    got.foreach { case (id, m) =>
      assert(same(m, expected(vs(id), mat)), s"id=$id got=$m want=${expected(vs(id), mat)}") }
    // (3,4)·(0.6,0.8)/5 = 1.0 exactly; zero-norm input → NaN, not
    // Math.round(NaN)=0 masquerading as "orthogonal"
    assert(got(1L) == 1.0)
    assert(got(2L) == 0.141421)
    assert(got(3L).isNaN)
    // a zero-norm REFERENCE row poisons every probe — matches DuckDB's
    // NaN-greatest max() ordering
    val bcBad = spark.sparkContext.broadcast(Array(Array(1.0, 0.0), Array(0.0, 0.0)))
    val gotBad = df.select(VectorFunctions.maxCosineBc(col("v"), bcBad).as("m"))
      .collect().map(_.getDouble(0))
    assert(gotBad.forall(_.isNaN), gotBad.toSeq.toString)
    // interpreted path (no codegen) agrees with the reference
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    def interp(v: Array[Double], m: Array[Array[Double]]): Double =
      graft.functions.MaxCosineSimBc(
        Literal.create(v, ArrayType(DoubleType)), spark.sparkContext.broadcast(m))
        .eval(null).asInstanceOf[Double]
    vs.values.foreach(v => assert(same(interp(v, mat), expected(v, mat)), v.toSeq))
    assert(interp(Array(3.0, 4.0), mat) == 1.0)
    assert(interp(Array(0.0, 0.0), mat).isNaN)
    assert(interp(Array(3.0, 4.0), Array(Array(0.0, 0.0))).isNaN)
  }

  test("LSH near-dup connects a planted near-dup cluster to its representative") {
    // plant a 5-member cluster of nearly-parallel vectors among noise;
    // banded sign-LSH + star edges must link every member to the
    // cluster representative (the min id) via verified edges.
    val dim = 64
    def vec(seed: Long, jitter: Double): Array[Float] =
      Array.tabulate(dim) { j =>
        val base = math.sin(seed * 7919.0 + j * 13.37)
        (base + jitter * math.cos(j * 3.1)).toFloat
      }
    val cluster = (0L to 4L).map(i => (i, vec(1, 0.02 * i), 0))
    val rows = cluster ++ (5L to 60L).map(i => (i, vec(i * 100 + 7, 0.0), 1))
    val dir = java.nio.file.Files.createTempDirectory("graft-lsh").toString
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    val pairs = Similarity.lshNearDup(spark, dir)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    // union-find connectivity over the verified star edges
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(ra max rb) = ra min rb
    }
    (1L to 4L).foreach { m =>
      assert(find(m) == find(0L), s"cluster member $m not connected to rep; edges=$pairs")
    }
  }

  test("LSH near-dup output is a subset of the exact near-dup pairs (precision 1.0)") {
    val exact = Similarity.nearDupPairs(spark, sf)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    val lsh = Similarity.lshNearDup(spark, sf)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    assert(lsh.nonEmpty, "LSH emitted no pairs on the fixture")
    val bad = lsh -- exact
    assert(bad.isEmpty, s"LSH emitted pairs missing from the exact set: $bad")
  }

  test("LSH near-dup plan joins on band keys, never a cross product") {
    val lsh = Similarity.lshNearDup(spark, sf)
    val phys = lsh.queryExecution.executedPlan.toString
    assert(!phys.contains("CartesianProduct") && !phys.contains("BroadcastNestedLoopJoin"),
      s"pair-materializing join in LSH plan:\n$phys")
  }

  test("IVF topk achieves high recall vs brute force on the fixture") {
    val exact = graft.operators.Similarity.bruteTopK(spark, sf)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val ivf = graft.operators.Similarity.ivfTopK(spark, sf)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val recall = (exact intersect ivf).size.toDouble / exact.size
    assert(recall >= 0.5, s"recall=$recall exact=$exact ivf=$ivf")
  }

  test("PQ/ADC topk: valid codes, recall vs exact L2, self-distance floor") {
    // two-stage probe: recall@3 equals shortlist containment (measured
    // 12/15 at L=64 on this deliberately PQ-hostile isotropic fixture);
    // bound leaves margin for KMeans drift only — everything is seeded
    val pq = Similarity.pqTopK(spark, sf)
      .select("query_id", "vec_id", "approx_dist")
      .as[(Long, Long, Double)].collect()
    assert(pq.length == 15 && pq.forall(_._3 >= 0.0))
    // code table shape: PqM codes per vector, each in [0, PqK)
    val codes = spark.read.parquet(Similarity.PqCodesPath)
      .select("codes").as[Seq[Int]].collect()
    assert(codes.forall(c => c.length == Similarity.PqM &&
      c.forall(x => x >= 0 && x < Similarity.PqK)))
    // recall@3 against exact squared-L2 (the metric ADC approximates)
    val v = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val q = v.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val exact = v.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("d2", expr(
        "aggregate(zip_with(v, qv, (x, y) -> (x - y) * (x - y)), 0D, (a, x) -> a + x)"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("query_id"))
          .orderBy(col("d2").asc, col("vec_id"))))
      .filter(col("rank") <= 3)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val got = pq.map(r => (r._1, r._2)).toSet
    val recall = (exact intersect got).size.toDouble / exact.size
    assert(recall >= 0.6, s"PQ recall=$recall exact=$exact pq=$got")
  }

  test("IVF-PQ topk: probe soundness and recall vs exact L2") {
    val res = Similarity.ivfPqTopK(spark, sf)
      .select("query_id", "vec_id", "l2_dist")
      .as[(Long, Long, Double)].collect()
    assert(res.length == 15 && res.forall(_._3 >= 0.0))
    // probe soundness: every emitted vec_id lies in one of its query's
    // nprobe=3 nearest cells (squared-L2 over the pinned centroids) —
    // the cell restriction actually restricted
    val assign = spark.read.parquet(Similarity.IvfAssignPath)
      .select("vec_id", "cell").as[(Long, Int)].collect().toMap
    val cents = spark.read.parquet(Similarity.IvfCentroidsPath)
      .select("cell", "centroid").as[(Int, Array[Double])].collect()
    val qv = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter(col("vec_id") < 5)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Array[Double])].collect().toMap
    def probed(q: Long): Set[Int] = cents
      .map { case (cell, c) =>
        (cell, qv(q).zip(c).map { case (x, y) => (x - y) * (x - y) }.sum)
      }.sortBy { case (cell, d) => (d, cell) }.take(3).map(_._1).toSet
    assert(res.forall { case (q, v, _) => probed(q).contains(assign(v)) })
    // recall@3 vs exact L2 — measured 13/15, ABOVE flat PQ's 12/15:
    // the cell restriction evicts ADC distractors from the shortlist,
    // outweighing its misses on this fixture; bound leaves margin for
    // seeded-KMeans drift only
    val v = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val q = v.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val exact = v.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("d2", expr(
        "aggregate(zip_with(v, qv, (x, y) -> (x - y) * (x - y)), 0D, (a, x) -> a + x)"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("query_id"))
          .orderBy(col("d2").asc, col("vec_id"))))
      .filter(col("rank") <= 3)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val got = res.map(r => (r._1, r._2)).toSet
    val recall = (exact intersect got).size.toDouble / exact.size
    assert(recall >= 0.6, s"IVF-PQ recall=$recall exact=$exact got=$got")
  }

  test("brute-force topk ranks the planted duplicate first") {
    val dim = 64
    def vec(seed: Long, jitter: Double): Array[Float] =
      Array.tabulate(dim) { j =>
        (math.sin(seed * 7919.0 + j * 13.37) + jitter * math.cos(j)).toFloat
      }
    val rows =
      Seq((0L, vec(1, 0.0), 0), (99L, vec(1, 0.01), 0)) ++
        (2L to 30L).map(i => (i, vec(i * 31 + 5, 0.0), 1))
    val dir = java.nio.file.Files.createTempDirectory("graft-topk").toString
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val top = Similarity.bruteTopK(spark, dir)
      .filter(col("query_id") === 0 && col("rank") === 1)
      .select("vec_id").as[Long].collect()
    assert(top.sameElements(Array(99L)))
  }

  test("PCA projection is non-expansive and keeps dimensions/order") {
    val k = 8
    val proj = Similarity.embeddingPcaProjected(spark, sf, k)
      .as[(Long, Array[Double])].collect().toMap
    val orig = graft.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Array[Double])].collect().toMap
    assert(proj.nonEmpty && proj.values.forall(_.length == k))

    def dist(a: Array[Double], b: Array[Double]): Double =
      math.sqrt(a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum)
    // orthonormal projection can only SHRINK distances (up to the 6dp
    // output rounding slack) — checked over a deterministic pair sample
    val ids = proj.keys.toSeq.sorted.take(30)
    for (a <- ids; b <- ids if a < b) {
      val dp = dist(proj(a), proj(b))
      val dOrig = dist(orig(a), orig(b))
      assert(dp <= dOrig + 1e-4, s"pair ($a,$b): projected $dp > original $dOrig")
    }
  }

  test("hard negatives exclude the query's own label and broadcast the query side") {
    val q = Similarity.hardNegatives(spark, sf)
    val labels = graft.Tables.embeddings(spark, sf)
      .select("vec_id", "label").as[(Long, Int)].collect().toMap
    val rows = q.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (qid, vid, lbl) = (r.getLong(0), r.getLong(2), r.getInt(3))
      assert(lbl != labels(qid), s"query $qid got same-label negative $vid")
      assert(lbl == labels(vid))
    }
    // the corpus is scanned once with the query side broadcast — no
    // shuffle of the corpus, no pair materialization beyond the scan
    val phys = q.queryExecution.executedPlan.toString
    assert(phys.contains("BroadcastExchange"), phys.take(2000))
  }

  test("scalarized PCA query passes its own norm invariant on every vector") {
    // the query surface (scalar checksums — VERDICT r7: arrays crash
    // the driver's pandas sort) must mark every vector norm_ok: an
    // orthonormal projection cannot expand a norm beyond the
    // quantization slack the query allows
    val rows = Similarity.embeddingPca(spark, sf)
      .select("vec_id", "n_components", "norm_ok")
      .as[(Long, Int, Boolean)].collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_._2 == 8), "every vector projects to k=8 components")
    val bad = rows.filterNot(_._3).map(_._1)
    assert(bad.isEmpty, s"projected norm exceeded original for vec_ids: ${bad.toSeq}")
  }

  test("semantic dedup flags within-cell near pairs and only those") {
    import graft.operators.Similarity
    // controlled cells: 0/1 share cell A and are near-parallel (must
    // flag 1 as dup of 0); 2 is near-parallel to 0 but in ANOTHER cell
    // (the clustering blind spot — must NOT flag); 3 shares cell A but
    // is orthogonal noise (must NOT flag)
    val assigned = Seq(
      (0L, Array(1.0, 0.0, 0.0, 0.0), 0),
      (1L, Array(0.999, 0.01, 0.0, 0.0), 0),
      (2L, Array(1.0, 0.001, 0.0, 0.0), 1),
      (3L, Array(0.0, 0.0, 1.0, 0.0), 0))
      .toDF("vec_id", "v", "cell")
    val out = Similarity.semanticDedupOf(assigned, 0.9)
      .select("vec_id", "is_duplicate", "dup_of")
      .as[(Long, Boolean, Long)].collect()
      .map { case (k, v, w) => k -> ((v, w)) }.toMap
    assert(out(1L) == ((true, 0L)), s"near same-cell mate not flagged: $out")
    assert(out(2L) == ((false, 2L)), "cross-cell pair must not be compared")
    assert(out(3L) == ((false, 3L)), "orthogonal cell-mate wrongly flagged")
    assert(out(0L) == ((false, 0L)), "the minimum id is the kept representative")
  }

  test("semantic dedup end-to-end flags a planted duplicate on a real index") {
    val dim = 64
    def vec(seed: Long, jitter: Double): Array[Float] =
      Array.tabulate(dim) { j =>
        (math.sin(seed * 7919.0 + j * 13.37) + jitter * math.cos(j)).toFloat
      }
    // 0 and 99 nearly identical (cosine ~1); the rest spread noise
    val rows =
      Seq((0L, vec(1, 0.0), 0), (99L, vec(1, 0.005), 0)) ++
        (2L to 40L).map(i => (i, vec(i * 131 + 17, 0.0), 1))
    val dir = java.nio.file.Files.createTempDirectory("graft-semdedup").toString
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = Similarity.semanticDedup(spark, dir)
      .filter(col("vec_id") === 99L)
      .select("is_duplicate", "dup_of").as[(Boolean, Long)].collect()
    // nearly-identical vectors land in the same k-means cell, so the
    // planted pair must be caught despite the cell restriction
    assert(out.sameElements(Array((true, 0L))), s"planted dup missed: ${out.toSeq}")
  }

  test("semantic dedup and prototype prune keep their scale-plan properties") {
    // the within-cell pair join must be a hash join on cell, never a
    // pair-materializing cross product over the corpus
    val sd = Similarity.semanticDedup(spark, sf)
    val sdPhys = sd.queryExecution.executedPlan.toString
    assert(!sdPhys.contains("CartesianProduct") && !sdPhys.contains("BroadcastNestedLoopJoin"),
      s"pair-materializing join in semantic-dedup plan:\n${sdPhys.take(2000)}")
    // the k-row centroid sidecar must broadcast, not shuffle the scan
    val pp = Similarity.prototypePrune(spark, sf)
    val ppPhys = pp.queryExecution.executedPlan.toString
    assert(ppPhys.contains("BroadcastExchange"),
      s"centroid sidecar not broadcast:\n${ppPhys.take(2000)}")
  }

  test("prototype prune cuts exactly cell_n DIV 5 per cell, top-ranked first") {
    val out = Similarity.prototypePrune(spark, sf)
      .select("cell", "rank", "cell_n", "pruned")
      .as[(Int, Int, Long, Boolean)].collect()
    assert(out.nonEmpty)
    out.groupBy(_._1).foreach { case (cell, rows) =>
      val n = rows.head._3
      val pruned = rows.filter(_._4)
      assert(pruned.length == (n / 5).toInt, s"cell $cell pruned ${pruned.length} of $n")
      // the pruned set is exactly the most-prototypical prefix
      assert(pruned.forall(_._2 <= n / 5), s"cell $cell pruned a non-prefix rank")
    }
  }
}
