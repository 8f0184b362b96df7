package graft

import org.apache.spark.sql.functions._
import graft.operators.Graph

/** Direct contract tests for the public connected-components operator
  * (the dedup pipelines exercise it end-to-end; these pin it in
  * isolation on known topologies).
  */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  test("connectedComponents labels ring, chain, and singletons exactly") {
    val vertices = (0L to 9L).toDF("id")
    // ring 0-1-2-3-4-0, chain 5-6-7, isolated 8 and 9
    val edges = Seq(
      (0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 0L),
      (5L, 6L), (6L, 7L)).toDF("src", "dst")
    val got = Graph.connectedComponents(vertices, edges)
      .as[(Long, Long)].collect().toMap
    val expected = Map(
      0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 0L,
      5L -> 5L, 6L -> 5L, 7L -> 5L, 8L -> 8L, 9L -> 9L)
    assert(got == expected, got.toString)
  }

  test("connectedComponents converges on a long chain and is direction-blind") {
    // a 12-vertex chain given as one-directional edges high->low: the
    // symmetrization and convergence loop must still collapse it to
    // component 0 (the r6 fixed-3-round loop would have truncated it)
    val n = 12L
    val vertices = (0L until n).toDF("id")
    val edges = (1L until n).map(i => (i, i - 1)).toDF("src", "dst")
    val got = Graph.connectedComponents(vertices, edges)
      .as[(Long, Long)].collect()
    assert(got.forall(_._2 == 0L), got.mkString(","))
  }

  test("connectedComponents fails loud when maxRounds is exhausted") {
    // an under-capped long chain must THROW, not return truncated
    // labels with a WARN — callers without an oracle behind them would
    // consume wrong component ids silently (ADVICE r7)
    val n = 24L
    val vertices = (0L until n).toDF("id")
    val edges = (1L until n).map(i => (i, i - 1)).toDF("src", "dst")
    val e = intercept[IllegalStateException] {
      Graph.connectedComponents(vertices, edges, maxRounds = 2)
    }
    assert(e.getMessage.contains("maxRounds"), e.getMessage)
  }

  test("connectedComponents leaves concurrent planning on its session untouched") {
    // a 64-vertex chain keeps the loop busy for ~30 rounds while this
    // thread plans aggregates on the same session: every plan must see
    // the session's own settings and come out adaptive
    val n = 64L
    val vertices = (0L until n).toDF("id")
    val edges = (1L until n).map(i => (i, i - 1)).toDF("src", "dst")
    val keys = Seq("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    val before = keys.map(k => k -> spark.conf.get(k)).toMap
    val loop = scala.concurrent.Future(
      Graph.connectedComponents(vertices, edges).as[(Long, Long)].collect())(
      scala.concurrent.ExecutionContext.global)
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    var plans = 0
    var bad = 0
    while (!loop.isCompleted) {
      val conf = keys.map(k => k -> spark.conf.get(k)).toMap
      val plan = spark.range(100).groupBy(col("id") % 3).count()
        .queryExecution.executedPlan
      val wrong = Seq(
        Option.when(conf != before)(s"conf $conf"),
        Option.when(!plan.isInstanceOf[
          org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec])(
          s"plan root ${plan.nodeName}")).flatten
      plans += 1
      if (wrong.nonEmpty) bad += 1
      seen ++= wrong
      Thread.sleep(10)
    }
    val got = scala.concurrent.Await.result(loop, scala.concurrent.duration.Duration.Zero)
    assert(plans > 0)
    assert(bad == 0, s"$bad of $plans plans saw: ${seen.mkString("; ")}")
    assert(got.length == n.toInt && got.forall(_._2 == 0L))
  }

  test("large-star/small-star labels ring, chain, and singletons exactly") {
    val vertices = (0L to 9L).toDF("id")
    val edges = Seq(
      (0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 0L),
      (5L, 6L), (6L, 7L)).toDF("src", "dst")
    val got = Graph.largeSmallStarComponents(vertices, edges)
      .as[(Long, Long)].collect().toMap
    val expected = Map(
      0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 0L,
      5L -> 5L, 6L -> 5L, 7L -> 5L, 8L -> 8L, 9L -> 9L)
    assert(got == expected, got.toString)
  }

  test("large-star/small-star collapses a deep chain in few alternations") {
    // diameter 63: propagation needs ~16 two-hop rounds; the squaring
    // contraction must land well inside 10 alternations (this is the
    // regime the escalation exists for)
    val n = 64L
    val vertices = (0L until n).toDF("id")
    val edges = (1L until n).map(i => (i, i - 1)).toDF("src", "dst")
    val got = Graph.largeSmallStarComponents(vertices, edges, maxRounds = 10)
      .as[(Long, Long)].collect()
    assert(got.length == n.toInt && got.forall(_._2 == 0L),
      got.filter(_._2 != 0L).mkString(","))
  }

  test("components escalates past the probe budget and stays exact on deep chains") {
    // diameter 63 forces the probe budget to exhaust → star-rewrite
    // escalation on the probe-contracted residual; result must be the
    // exact labels either direct algorithm produces
    val n = 64L
    val vertices = (0L until n).toDF("id")
    val edges = (1L until n).map(i => (i, i - 1)).toDF("src", "dst")
    val got = Graph.components(vertices, edges, driverCutoff = 0)
      .as[(Long, Long)].collect()
    assert(got.length == n.toInt && got.forall(_._2 == 0L),
      got.filter(_._2 != 0L).mkString(","))
    // shallow graph: the probe converges inside the default budget and
    // the auto path is plain propagation (same exact labels)
    val sv = (0L to 9L).toDF("id")
    val se = Seq((0L, 1L), (1L, 2L), (5L, 6L)).toDF("src", "dst")
    val sGot = Graph.components(sv, se, driverCutoff = 0)
      .as[(Long, Long)].collect().toMap
    assert(sGot == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 3L, 4L -> 4L,
      5L -> 5L, 6L -> 5L, 7L -> 7L, 8L -> 8L, 9L -> 9L), sGot.toString)
  }

  test("components escalation on a mixed shallow+deep seeded graph matches both directs") {
    // the regime the contraction composition must get right: shallow
    // components collapse in the probe, ONE deep chain survives it —
    // the residual graph then carries contracted chain nodes plus
    // untouched singleton roots
    val rnd = new scala.util.Random(12)
    val n = 200L
    val vertices = (0L until n).toDF("id")
    val chain = (101L until 160L).map(i => (i, i - 1))     // diameter-59 chain
    val shallow = Seq.fill(60)((rnd.nextLong(100).abs, rnd.nextLong(100).abs))
      .filter { case (a, b) => a != b }
    val edges = (chain ++ shallow).toDF("src", "dst")
    val auto = Graph.components(vertices, edges, driverCutoff = 0)
      .as[(Long, Long)].collect().toMap
    val prop = Graph.connectedComponents(vertices, edges)
      .as[(Long, Long)].collect().toMap
    val lss = Graph.largeSmallStarComponents(vertices, edges)
      .as[(Long, Long)].collect().toMap
    assert(auto == prop && auto == lss,
      s"auto vs direct disagreements: ${auto.collect { case (k, v) if prop(k) != v => (k, v, prop(k)) }}")
  }

  test("driver union-find tier matches the distributed loop exactly") {
    // seeded mixed graph (trees, cycles, a deep chain, singletons):
    // the default call lands on the driver tier (under DriverUfMaxRows);
    // driverCutoff = 0 forces the distributed plan — labels must be
    // byte-identical, including vertices absent from any edge and the
    // deep chain the probe budget alone would not collapse
    val rnd = new scala.util.Random(77)
    val n = 300L
    val vertices = (0L until n).toDF("id")
    val chain = (201L until 260L).map(i => (i, i - 1))
    val rand = Seq.fill(150)((rnd.nextLong(200).abs, rnd.nextLong(200).abs))
      .filter { case (a, b) => a != b }
    val edges = (chain ++ rand).toDF("src", "dst")
    val driver = Graph.components(vertices, edges)
      .as[(Long, Long)].collect().toMap
    val dist = Graph.components(vertices, edges, driverCutoff = 0)
      .as[(Long, Long)].collect().toMap
    assert(driver == dist,
      s"disagreements: ${driver.collect { case (k, v) if dist(k) != v => (k, v, dist(k)) }}")
    // over-bound frames fall through to the distributed plan (cutoff 1
    // truncates the probe at 2 rows) and still label exactly
    val small = Graph.components(vertices, edges, driverCutoff = 1)
      .as[(Long, Long)].collect().toMap
    assert(small == dist)
  }

  test("driver tier mirrors loop semantics for out-of-vertex endpoints") {
    // ADVICE r14: endpoint 1 is NOT in the vertex set and is SMALLER
    // than every vertex in its component {1,5,9} — the loop never emits
    // a non-vertex id as a label, so the component label must be 5 (min
    // VERTEX), not 1; and the loop's fixpoint row set includes the
    // non-vertex endpoint itself. Edge (100,101) checks a non-vertex
    // endpoint LARGER than its component's vertex, and the vertex-free
    // edge (200,201) must produce NO rows on either plan.
    val vertices = Seq(5L, 9L, 12L, 100L).toDF("id")
    val edges = Seq((1L, 5L), (1L, 9L), (100L, 101L), (200L, 201L))
      .toDF("src", "dst")
    val driver = Graph.components(vertices, edges)
      .as[(Long, Long)].collect().toMap
    val dist = Graph.components(vertices, edges, driverCutoff = 0)
      .as[(Long, Long)].collect().toMap
    assert(driver == dist,
      s"driver=$driver dist=$dist")
    assert(driver(1L) == 5L && driver(5L) == 5L && driver(9L) == 5L)
    assert(driver(12L) == 12L && driver(100L) == 100L && driver(101L) == 100L)
    assert(!driver.contains(200L) && !driver.contains(201L))
  }

  test("driver tier accepts IntegerType id frames") {
    // ADVICE r14: Row.getLong on an int column threw ClassCastException;
    // the tier now casts before collect, matching the loop's tolerance
    val vertices = Seq(1, 2, 3, 4).toDF("id")
    val edges = Seq((1, 2), (3, 4)).toDF("src", "dst")
    val driver = Graph.components(vertices, edges)
      .as[(Long, Long)].collect().toMap
    assert(driver == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L))
  }

  test("both propagation styles agree on a seeded random graph") {
    // 120 vertices, 90 random edges (seeded) → a mix of small trees,
    // cycles, and singletons; the two algorithms must produce identical
    // exact labels
    val rnd = new scala.util.Random(2026)
    val n = 120L
    val vertices = (0L until n).toDF("id")
    val edges = Seq.fill(90)((rnd.nextLong(n).abs, rnd.nextLong(n).abs))
      .filter { case (a, b) => a != b }
      .toDF("src", "dst")
    val prop = Graph.connectedComponents(vertices, edges)
      .as[(Long, Long)].collect().toMap
    val lss = Graph.largeSmallStarComponents(vertices, edges)
      .as[(Long, Long)].collect().toMap
    assert(prop == lss,
      s"disagreements: ${prop.collect { case (k, v) if lss(k) != v => (k, v, lss(k)) }}")
  }
}
