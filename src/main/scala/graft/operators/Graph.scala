package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.Pins.FramePin

/** Distributed connected components — min-label propagation run to
  * convergence, extracted from the MinHash dedup pipeline
  * ([[Dedup.minhashDedup]]) into a general graph operator: cluster ids
  * over ANY similarity/relation edge set (near-dup clusters, account
  * linking, co-click graphs).
  *
  * Algorithm: every vertex starts as its own label; each round applies
  * TWO propagation hops (vertex := min over itself and neighbors) and
  * the loop stops when a round changes zero labels (delta-counted
  * against the previous round's cached labels), capped to bound
  * adversarial diameters. Rounds therefore cover component RADIUS/2;
  * the two-hop step exists because at propagation data volumes the
  * round cost is job latency, not join work. At convergence every
  * vertex holds its component's global minimum vertex id — exact
  * connected components, which is what lets a recursive-CTE transitive
  * closure in DuckDB serve as the oracle.
  *
  * Scale shape: per round, one join of the edge list against the
  * current labels (both sides hash-partitioned on the join key — at
  * 100 TB both would be bucketed on vertex id so rounds reuse one
  * partitioning) + one min-aggregate per vertex; the edge list is
  * pinned once and reused every round. Rounds scale with
  * component DIAMETER, not size — dup-cluster graphs with star/hub
  * shapes converge in 2-3 rounds. (For adversarially long chains the
  * structural alternative is large-star/small-star, which squares the
  * contraction per round; measured unnecessary for banded-LSH bucket
  * graphs, whose hubs keep diameters tiny.)
  */
object Graph {

  /** Labels every vertex of `vertices` ("id") with the minimum vertex
    * id reachable through `edges` ("src", "dst"; directed input is
    * symmetrized here). Vertices with no edges keep their own id.
    * Returns ("id", "component").
    *
    * CONCURRENCY: the loop reads its caller's session settings and
    * never changes them, so other threads may plan on the same session
    * while it runs (GraphSpec plans an aggregate beside a deep chain).
    */
  def connectedComponents(
      vertices: DataFrame, edges: DataFrame, maxRounds: Int = 50): DataFrame = {
    val (labels, changed) = propagate(vertices, edges, maxRounds)
    // the loop always converges in <= component-diameter rounds, so the
    // cap is a runaway backstop, not an expected exit: hitting it means
    // TRUNCATED (wrong) labels. This is a public operator — a caller
    // without an oracle behind it would silently consume wrong component
    // ids off a WARN, so exhaustion throws instead
    if (changed > 0)
      throw new IllegalStateException(
        s"connectedComponents hit maxRounds=$maxRounds before convergence " +
          s"($changed labels still changing) — labels would be truncated; raise maxRounds")
    labels
  }

  /** Round budget for [[components]]' propagation probe: the first
    * round stacks 4 hops and later rounds 2, so 6 rounds cover
    * component diameter ≤ ~14 — comfortably past every hub-shaped
    * dedup-bucket graph (diameter ≤ ~4 in practice) while capping the
    * worst-case wasted work on a deep graph at 6 cheap label rounds
    * before the structural plan takes over.
    */
  val ComponentsProbeRounds: Int = 6

  /** Row bound (per frame: vertices, then edges) under which
    * [[components]] solves the graph with a driver-local union-find
    * instead of the distributed loop. The loop's floor is about a
    * second of pure job-scheduling latency at ANY small size (two
    * materialized rounds, each a stack of per-hop shuffles — see
    * [[propagate]]); a bounded collect + path-compressed union-find
    * answers the same graph in ~0.1 s. The regime this serves is
    * exactly the steady state of the incremental operators: batch-internal
    * closures ([[Dedup.splitAssignDelta]]'s per-ingest components) are
    * candidate-bounded ∝ batch, not corpus. The bound is enforced by
    * `limit(cutoff + 1)` BEFORE the collect — an over-bound graph
    * costs one truncated probe job and falls through to the
    * distributed plan (the sf1 rehearsal's 823k-edge corpus graph
    * stays on the loop), so driver memory is capped by construction
    * (the [[Similarity]] 200k-cap stance). GraphSpec pins
    * driver-vs-distributed label equality on a seeded graph; the
    * escalation specs pass `driverCutoff = 0` to keep the distributed
    * composition pinned.
    */
  val DriverUfMaxRows: Int = 262144

  /** Exact components via driver union-find, or None if either frame
    * exceeds `cutoff` rows. Mirrors [[propagate]]'s semantics
    * EXACTLY: labels are vertex-seeded — the component
    * label is the minimum VERTEX id reachable, never a bare edge
    * endpoint's id — and the output row set is the loop's fixpoint row
    * set: all vertices, plus every edge endpoint whose component
    * contains at least one vertex (endpoints in vertex-free components
    * never acquire a label in the loop and are likewise absent here).
    * Ids are cast to long before collect so IntegerType frames take
    * this tier as safely as the loop.
    */
  private def driverComponents(vertices: DataFrame, edges: DataFrame,
      cutoff: Int): Option[DataFrame] = {
    val vRows = vertices.select(col("id").cast("long")).limit(cutoff + 1).collect()
    if (vRows.length > cutoff) return None
    val eRows = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .limit(cutoff + 1).collect()
    if (eRows.length > cutoff) return None
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    eRows.foreach { e =>
      val (ra, rb) = (find(e.getLong(0)), find(e.getLong(1)))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // vertex-seeded labels: min VERTEX id per root (a smaller non-vertex
    // endpoint id must NOT become a label — the loop never emits one)
    val vIds = vRows.map(_.getLong(0))
    val minVertex = scala.collection.mutable.LongMap.empty[Long]
    vIds.foreach { v =>
      val r = find(v)
      if (minVertex.getOrElse(r, Long.MaxValue) > v) minVertex(r) = v
    }
    // loop row set: vertices ∪ endpoints reachable from any vertex
    val out = scala.collection.mutable.LongMap.empty[Long]
    vIds.foreach(v => out(v) = minVertex(find(v)))
    eRows.foreach { e =>
      Seq(e.getLong(0), e.getLong(1)).foreach { n =>
        if (!out.contains(n)) minVertex.get(find(n)).foreach(out(n) = _)
      }
    }
    val s = vertices.sparkSession
    import s.implicits._
    Some(out.toSeq.map { case (id, c) => (id, c) }.toDF("id", "component"))
  }

  /** Auto-selecting exact connected components — the operator, not its
    * callers, owns the plan choice: propagation rounds scale with
    * component diameter (best plan for the hub-shaped graphs dedup
    * actually produces; each round moves only |V| labels over a pinned
    * edge list), while large-star/small-star converges in O(log² n)
    * rounds regardless of diameter but rewrites the full edge multiset
    * every round. No cheap static stat predicts diameter, so the most
    * predictive graph stat is measured directly: the probe RUNS
    * propagation under a [[ComponentsProbeRounds]] budget, and its
    * convergence IS the decision. If the budget exhausts, nothing is
    * thrown away — the partial labels are a valid contraction (every
    * vertex already holds the min id of its ≤k-hop neighborhood, and
    * each true component minimum m keeps label m), so the escalation
    * runs large-star/small-star on the CONTRACTED residual graph (one
    * label-join per endpoint + distinct — typically far smaller than
    * the input edge list, since the probe has already collapsed every
    * shallow component to a point) and composes the result through the
    * probe labels. On the sf1 rehearsal graph (50k vertices / 823k
    * edges, hub-shaped) the probe converges, so on the graphs this
    * engine actually produces auto ≈ propagation (run medians 2.1–4.0 s
    * on `local[4]` at shuffle widths 4 and 32, either plan); the
    * escalation exists for the deep-component regime (GraphSpec plants
    * diameter-59 chains), where the probe's bounded waste buys an
    * O(log² n)-round finish instead of rounds ∝ diameter. A THIRD tier
    * sits in front of both: graphs whose vertex and edge frames each
    * fit under [[DriverUfMaxRows]] rows are solved exactly by a
    * driver-local union-find (see the constant's scaladoc for the
    * regime and the bound-by-construction argument).
    */
  def components(vertices: DataFrame, edges: DataFrame,
      driverCutoff: Int = DriverUfMaxRows): DataFrame = {
    if (driverCutoff > 0) {
      driverComponents(vertices, edges, driverCutoff) match {
        case Some(labels) => return labels
        case None =>
      }
    }
    val (labels, changed) = propagate(vertices, edges, ComponentsProbeRounds)
    if (changed == 0) labels
    else {
      // contract: rewrite each edge endpoint to its probe label; edges
      // internal to an already-collapsed region vanish in the filter
      val lbl = labels
      val contracted = edges
        .join(lbl.select(col("id").as("src"), col("component").as("cu")), Seq("src"))
        .join(lbl.select(col("id").as("dst"), col("component").as("cv")), Seq("dst"))
        .select(col("cu").as("src"), col("cv").as("dst"))
        .filter(col("src") =!= col("dst"))
      val contractedVerts = lbl.select(col("component").as("id")).distinct()
      val roots = largeSmallStarComponents(contractedVerts, contracted)
      lbl.select(col("id"), col("component").as("probe_component"))
        .join(roots.select(col("id").as("probe_component"), col("component")),
          Seq("probe_component"))
        .select(col("id"), col("component"))
    }
  }

  /** The budgeted propagation loop shared by [[connectedComponents]]
    * (which throws on budget exhaustion) and [[components]] (which
    * escalates). Returns (labels, stillChanging) — labels are EXACT iff
    * stillChanging == 0, otherwise a valid contraction.
    *
    * The loop plans under its caller's session settings and never
    * changes them: AQE re-plans each round's shuffles from their
    * observed sizes, and the pinned edge list and the initial labels
    * take the session's `spark.sql.shuffle.partitions` as their width.
    */
  private def propagate(vertices: DataFrame, edges: DataFrame,
      maxRounds: Int): (DataFrame, Long) = {
    // symmetrized edges PLUS a self-loop per vertex. The self-loops make
    // one propagation hop a single join + min-aggregate that references
    // the label frame ONCE — `component := min over in-neighbors∪self
    // of component` — so k hops stack into one linear plan (a hop that
    // references its input twice grows a k-hop plan, and its
    // recomputation, 2^k-fold). Self-loops add |V| rows to a 2|E| edge
    // list — linear, and they also carry isolated vertices through the
    // aggregate (no null-extending join needed).
    // hash-partitioned by the join key BEFORE the pin: every hop joins
    // this list against a label frame that is itself the output of a
    // groupBy(src)-as-id aggregate (hash-partitioned on id), so the
    // partitioning is bought once and reused every round (the
    // bucketed-join stance applied to the loop; at 100 TB both sides
    // would be bucketed tables). The width is the session's, the same
    // width the hop aggregate's shuffle plans at.
    val width = vertices.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val undirected = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .union(vertices.select(col("id").as("src"), col("id").as("dst")))
      .repartition(width, col("dst"))
      .pin("2|E|+|V| loop-pinned edge rows")

    // one hop, label frame referenced once (linear stacking)
    def hop(lbl: DataFrame): DataFrame = undirected
      .join(lbl.select(col("id").as("dst"), col("component").as("nbr")), Seq("dst"))
      .groupBy(col("src")).agg(min(col("nbr")).as("component"))
      .select(col("src").as("id"), col("component"))

    // initial labels co-partitioned with the edge list (subsequent label
    // frames inherit id-partitioning from the hop aggregate)
    var labels = vertices.select(col("id"), col("id").as("component"))
      .repartition(width, col("id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var changed = 1L
    var rounds = 0
    while (changed > 0 && rounds < maxRounds) {
      rounds += 1
      // Hop schedule: the first round stacks 4 hops — LSH bucket graphs
      // (star hub + id-adjacent path chains) have diameter ≤ ~4 in
      // practice, so one materialization usually reaches the fixpoint
      // and the second round merely confirms; later rounds drop to 2
      // hops, so adversarially deep components pay extra rounds, not a
      // deeper plan per round. Convergence detection is unaffected: a
      // k-hop fixpoint is a one-hop fixpoint (labels are monotone
      // non-increasing). (Measured and rejected: folding the test into
      // the working round by delta-counting hop⁴ against hop³ — the
      // comparison side duplicates the 3-hop subtree and cost MORE than
      // the separate confirming round.) The round is materialized by
      // its delta count (a join of two cached label frames); lineage
      // grows across cached rounds (analysis cost, not execution), so
      // it is cut every 4th round.
      val hops = if (rounds == 1) 4 else 2
      var cur = labels
      (1 to hops).foreach(_ => cur = hop(cur))
      val next = cur.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      changed = next
        .join(labels.select(col("id"), col("component").as("old_component")), Seq("id"))
        .filter(col("component") =!= col("old_component")).count()
      labels.unpersist(false)
      labels = next
      if (rounds % 4 == 0) {
        val pinned = labels.pin("|V| label rows (lineage cut every 4th round)")
        labels.unpersist(false)
        labels = pinned
      }
    }
    // pin the result and release the loop cache: callers compose this
    // frame into larger plans, which must not depend on loop-scoped
    // cache entries
    val out = labels.pin("|V| label rows")
    labels.unpersist(false)
    (out, changed)
  }

  /** Connected components by alternating LARGE-STAR / SMALL-STAR edge
    * rewriting (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC'14) — the structural escalation documented in
    * [[connectedComponents]]' scaladoc, implemented as a first-class
    * alternative:
    *
    *   - large-star: every vertex links its LARGER neighbors to the
    *     minimum of its neighborhood (incl. itself);
    *   - small-star: every vertex links its smaller-or-equal neighbors
    *     to that minimum;
    *   - alternate until the edge set stops changing — at the fixpoint
    *     the edges form stars rooted at each component's global minimum,
    *     and labeling is one min-neighbor aggregate.
    *
    * Where it wins: rounds contract components at ~squaring rate
    * (O(log² n) worst case, independent of DIAMETER), so adversarially
    * long chains and web-scale giant components converge in a bounded
    * round count where label propagation pays rounds ∝ diameter. Where
    * it loses: each round REWRITES the edge multiset (shuffle carries
    * the full edge list, twice per alternation, plus the fixpoint test
    * scans it again), where a propagation round only moves |V| labels
    * over a pinned edge list — on hub-shaped banded-LSH dedup graphs
    * (diameter ≤ ~4) propagation does strictly less work per round and
    * fewer rounds, which is why [[connectedComponents]] stays the
    * default engine path and this operator is the deep-graph escape
    * hatch. Both return identical exact components
    * ([[docComponentsLss]] triple-matches the same recursive-CTE oracle
    * as `q_doc_components`; GraphSpec pins agreement on planted deep
    * and star topologies).
    */
  def largeSmallStarComponents(
      vertices: DataFrame, edges: DataFrame, maxRounds: Int = 50): DataFrame = {
    // canonical undirected edge set: (u < v), deduped. Isolated vertices
    // never enter the rewrite; the final left join labels them.
    var e = edges
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .pin("|E| canonical edge rows")

    // large-star: over the SYMMETRIZED neighbor list, every vertex a
    // links its larger neighbors to m = min(N(a) ∪ {a}). One groupBy +
    // one join, both keyed on a — one shuffle of the edge list.
    def largeStar(cur: DataFrame): DataFrame = {
      val nbrs = cur.select(col("u").as("a"), col("v").as("b"))
        .union(cur.select(col("v").as("a"), col("u").as("b")))
      val mins = nbrs.groupBy(col("a"))
        .agg(least(min(col("b")), col("a")).as("m"))
      nbrs.filter(col("b") > col("a"))
        .join(mins, Seq("a"))
        .select(least(col("b"), col("m")).as("u"),
          greatest(col("b"), col("m")).as("v"))
        .filter(col("u") =!= col("v")).distinct()
    }

    // small-star: edges ORIENTED toward their larger endpoint (with the
    // canonical u<v layout that is just a=v, b=u); every vertex a links
    // each smaller neighbor AND ITSELF to m = min(N_smaller(a) ∪ {a}).
    // The (a, m) self-link is load-bearing: it re-attaches a to the new
    // root so stars re-root instead of dissolving.
    def smallStar(cur: DataFrame): DataFrame = {
      val nbrs = cur.select(col("v").as("a"), col("u").as("b"))
      val mins = nbrs.groupBy(col("a"))
        .agg(least(min(col("b")), col("a")).as("m"))
      nbrs.join(mins, Seq("a"))
        .select(col("b"), col("m"))
        .union(mins.select(col("a").as("b"), col("m")))
        .select(least(col("b"), col("m")).as("u"),
          greatest(col("b"), col("m")).as("v"))
        .filter(col("u") =!= col("v")).distinct()
    }

    var rounds = 0
    var changed = true
    while (changed && rounds < maxRounds) {
      rounds += 1
      val next = smallStar(largeStar(e)).pin("<=|E| rewritten edges per star round")
      // fixpoint = identical canonical edge sets (both are distinct
      // (u,v) with u<v, so two anti-joins decide set equality)
      changed = next.join(e, Seq("u", "v"), "left_anti").limit(1).count() > 0 ||
        e.join(next, Seq("u", "v"), "left_anti").limit(1).count() > 0
      e = next
    }
    if (changed)
      throw new IllegalStateException(
        s"largeSmallStarComponents hit maxRounds=$maxRounds before the edge " +
          "set stabilized — labels would be wrong; raise maxRounds")

    // at the fixpoint every non-root neighbors its root directly; roots
    // (and isolated vertices) label themselves
    val nbrs = e.select(col("u").as("a"), col("v").as("b"))
      .union(e.select(col("v").as("a"), col("u").as("b")))
    val mins = nbrs.groupBy(col("a")).agg(min(col("b")).as("mn"))
    vertices
      .join(mins.select(col("a").as("id"), col("mn")), Seq("id"), "left")
      .select(col("id"),
        least(col("id"), coalesce(col("mn"), col("id"))).as("component"))
  }

  /** Near-dup document clusters over the EXACT blocked n-gram Jaccard
    * edge set ([[Dedup.ngramJaccard]] at its 0.2 threshold): component
    * id + size per document. Fully SQL-expressible end to end — the
    * DuckDB oracle re-derives the same edges from raw text and closes
    * them with a recursive-CTE transitive closure, so this query
    * cross-checks the whole propagation loop with no pinned artifact
    * (the technique [[DedupOracles.minhashDedup]] applies to the hashed
    * pipeline, applied here hash-free). Benches the AUTO-selecting
    * [[components]] — the probe-then-escalate plan — so the headline
    * number reflects the plan the operator actually picks at each
    * scale, not a caller-frozen variant (VERDICT r11 #2).
    */
  def docComponents(s: SparkSession, d: String): DataFrame =
    docComponentsWith(s, d)((v, e) => components(v, e))

  /** [[docComponents]] computed by [[largeSmallStarComponents]] instead
    * of label propagation — same exact components, so it shares the same
    * recursive-CTE oracle (the correctness gate triple-matches BOTH
    * propagation styles independently). Not a bench headline: the
    * default engine path is propagation (see the tradeoff scaladoc);
    * this query exists to keep the escalation path oracle-verified.
    */
  def docComponentsLss(s: SparkSession, d: String): DataFrame =
    docComponentsWith(s, d)((v, e) => largeSmallStarComponents(v, e))

  private def docComponentsWith(s: SparkSession, d: String)(
      cc: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val edges = Dedup.ngramJaccardEdges(s, d)
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
    val vertices = Tables.documents(s, d).select(col("doc_id").as("id"))
    val labels = cc(vertices, edges)
    val sizes = labels.groupBy(col("component")).agg(count(lit(1)).as("component_size"))
    labels.join(sizes, Seq("component"))
      .select(col("id").as("doc_id"), col("component"), col("component_size"))
      .orderBy(col("doc_id"))
  }

  // ------------------------------------------------------------ PageRank

  /** Fixed-point scale for PageRank scores: all mass is carried as
    * integer units of 1e-9, so every engine computes bit-identical
    * trajectories (no double accumulation anywhere).
    */
  val PrScale = 1000000000L

  /** Iteration count — fixed (not convergence-tested) so the oracle can
    * replay every round.
    */
  val PrIters = 10

  /** Pinned per-iteration score trajectory — the BpeTrain oracle
    * technique: the DuckDB oracle recomputes EVERY round's transition
    * from the pinned previous round + the edge list, so the pin steers
    * the replay but cannot hide an iteration bug.
    */
  val PrTrajPath: String = graft.Pins.artifact("pagerank_traj")

  /** PageRank over the user↔event-type bipartite click graph (edges =
    * distinct (user, event_type) pairs, symmetrized) — the canonical
    * iterative-propagation workload, in the engine-portable INTEGER
    * formulation: damping 0.85 as the rational 17/20, per-edge
    * contribution `q div deg`, update
    * `q' = (3·S) div (20·N) + (17·Σ contrib) div 20` — pure integer
    * arithmetic end-to-end (truncation leaks a bounded trickle of mass
    * per round; documented variant, identical in both engines since all
    * operands are non-negative). Emits the full (iter, node) trajectory
    * with exact integer scores.
    *
    * Scale shape: per iteration one edges⋈scores join + one sum
    * aggregate, the [[connectedComponents]] round shape; the edge list
    * is checkpointed once at size-proportional width and scores are
    * eagerly checkpointed per round (10 small jobs, no lineage growth).
    * At 100 TB both sides are bucketed on the join key and the
    * trajectory pin is the per-round checkpoint a production run keeps
    * anyway for restartability.
    */
  private val prCache = graft.Pins.session[String, DataFrame]()

  /** Build the trajectory once per (session, sfDir) — the ivfIndex
    * build-once stance: the loop persists each round lazily, ONE eager
    * checkpoint materializes the whole union (so total work is linear
    * in rounds — each round computes once and later rounds read its
    * cache), then the round caches are dropped and the checkpointed
    * trajectory serves every downstream action and the artifact pin.
    */
  private def pageRankTraj(s: SparkSession, d: String): DataFrame =
    prCache.getOrBuild(s, d) {
      import org.apache.spark.storage.StorageLevel
      // edge list with degree fused beside each edge (rounds pay no deg
      // join), checkpointed once at size-proportional width,
      // hash-partitioned on src so every round's scores join runs
      // against a pinned partitioning (the CC loop stance)
      val ev = Tables.events(s, d)
        .select(concat(lit("u:"), col("user_id")).as("src"),
          concat(lit("t:"), col("event_type")).as("dst"))
        .distinct()
      val undirected = ev
        .union(ev.select(col("dst").as("src"), col("src").as("dst")))
      val withDegRaw = undirected
        .join(undirected.groupBy(col("src")).agg(count(lit(1)).as("deg")), "src")
        .persist(StorageLevel.MEMORY_AND_DISK)
      val loopParts = math.max(1L, math.min(
        s.conf.get("spark.sql.shuffle.partitions").toLong,
        withDegRaw.count() / 65536L + 1L)).toInt
      val edges = withDegRaw.repartition(loopParts, col("src")).pin("|E| loop-pinned weighted edges")
      withDegRaw.unpersist(false)
      val n = edges.select(col("src")).distinct().count() // loop constant
      val base = 3L * PrScale / (20L * n)

      // one round: references the previous frame exactly ONCE (the CC
      // self-loop linear-stacking lesson; every node has in-edges after
      // symmetrization, so no null-extending nodes join)
      def step(cur: DataFrame): DataFrame =
        edges
          .join(cur.select(col("node").as("src"), col("q")), "src")
          .select(col("dst").as("node"), expr("q DIV deg").as("c"))
          .groupBy(col("node")).agg(sum(col("c")).as("sc"))
          .select(col("node"), (lit(base) + expr("17 * sc DIV 20")).as("q"))
          .persist(StorageLevel.MEMORY_AND_DISK)

      val init = edges.select(col("src").as("node")).distinct()
        .withColumn("q", lit(PrScale / n))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val frames = Iterator.iterate(init: DataFrame)(step).take(PrIters + 1).toSeq
      val out = frames.zipWithIndex
        .map { case (f, i) => f.withColumn("iter", lit(i)) }
        .reduce(_ unionByName _)
        .select(col("iter"), col("node"), col("q"),
          round(col("q") / lit(PrScale.toDouble), 6).as("score"))
        .pin("|V| x iters score rows") // the one build job; round caches fill inside it
      frames.foreach(_.unpersist(false))
      out
    }

  def pageRank(s: SparkSession, d: String): DataFrame = {
    val traj = pageRankTraj(s, d)
    // the artifact write sits outside the session-pin build: a session
    // pin that survives Pins.cleanAll must still re-write, or the oracle
    // replays a missing or other-scale-factor trajectory
    graft.Pins.writeArtifact(s, d, "pagerank_traj") {
      traj.select(col("iter"), col("node"), col("q"))
        .write.mode("overwrite").parquet(PrTrajPath)
    }
    traj.orderBy(col("iter"), col("node"))
  }

  lazy val defs: Map[String, QueryDef] = Map(
    "q_doc_components" -> QueryDef(docComponents, Some(GraphOracles.docComponents)),
    "q_doc_components_lss" -> QueryDef(docComponentsLss, Some(GraphOracles.docComponents),
      headline = false),
    "q_pagerank" -> QueryDef(pageRank, Some(GraphOracles.pageRank)))
}

/** DuckDB oracles for [[Graph]]. */
object GraphOracles {

  /** The [[DedupOracles.ngramJaccard]] edge derivation (same blocking,
    * threshold, and rounding) closed into components by a recursive
    * transitive closure, then sized — exact connected components to
    * compare against the propagation loop's fixpoint.
    */
  val docComponents: String =
    """WITH RECURSIVE pos AS (
      |  SELECT doc_id, lang, n_chars, text,
      |    unnest(generate_series(1, length(text) - 2)) AS i
      |  FROM documents),
      |grams AS (
      |  SELECT DISTINCT doc_id, lang, n_chars, substr(text, CAST(i AS INT), 3) AS g
      |  FROM pos),
      |sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
      |  FROM grams a JOIN grams b
      |    ON a.g = b.g AND a.lang = b.lang AND a.n_chars = b.n_chars
      |       AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |edges AS (
      |  SELECT doc_a, doc_b
      |  FROM inter
      |  JOIN sizes sa ON doc_a = sa.doc_id
      |  JOIN sizes sb ON doc_b = sb.doc_id
      |  WHERE round(c * 1.0 / (sa.n + sb.n - c), 4) >= 0.2),
      |und AS (
      |  SELECT doc_a AS src, doc_b AS dst FROM edges
      |  UNION
      |  SELECT doc_b AS src, doc_a AS dst FROM edges),
      |reach AS (
      |  SELECT doc_id AS src, doc_id AS dst FROM documents
      |  UNION
      |  SELECT r.src, u.dst FROM reach r JOIN und u ON r.dst = u.src),
      |labels AS (
      |  SELECT src AS doc_id, min(dst) AS component FROM reach GROUP BY 1),
      |csz AS (
      |  SELECT component, count(*) AS component_size FROM labels GROUP BY 1)
      |SELECT l.doc_id, l.component, c.component_size
      |FROM labels l JOIN csz c USING (component)
      |ORDER BY doc_id""".stripMargin

  /** Replays EVERY PageRank transition from the pinned trajectory: each
    * round r+1 is independently recomputed from pinned round r + the
    * edge list re-derived from the raw events table, and the init round
    * is recomputed from scratch — so the pin steers the replay but a
    * wrong iteration anywhere breaks the compare at that iter (the
    * BpeTrain recursive-replay stance, without needing aggregation
    * inside recursion). All arithmetic is the same integer formulation
    * (`//` on non-negative operands == Spark's DIV).
    */
  val pageRank: String = {
    val S = Graph.PrScale
    s"""WITH ev AS (
       |  SELECT DISTINCT 'u:' || user_id AS src, 't:' || event_type AS dst
       |  FROM events),
       |edges AS (
       |  SELECT src, dst FROM ev UNION ALL SELECT dst, src FROM ev),
       |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
       |nn AS (SELECT count(*) AS n FROM deg),
       |traj AS (
       |  SELECT iter, node, q FROM read_parquet('${Graph.PrTrajPath}/*.parquet')),
       |init AS (
       |  SELECT 0 AS iter, d.src AS node, CAST($S // n AS BIGINT) AS q
       |  FROM deg d, nn),
       |contrib AS (
       |  SELECT t.iter + 1 AS iter, e.dst AS node,
       |    CAST(sum(t.q // d.deg) AS BIGINT) AS sc
       |  FROM traj t
       |  JOIN edges e ON e.src = t.node
       |  JOIN deg d ON d.src = e.src
       |  WHERE t.iter < ${Graph.PrIters}
       |  GROUP BY 1, 2),
       |steps AS (
       |  SELECT c.iter, c.node,
       |    CAST(3::BIGINT * $S // (20 * n) + (17::BIGINT * c.sc) // 20 AS BIGINT) AS q
       |  FROM contrib c, nn),
       |allq AS (SELECT * FROM init UNION ALL SELECT * FROM steps)
       |SELECT CAST(iter AS INT) AS iter, node, q,
       |  round(q / ${S}e0, 6) AS score
       |FROM allq
       |ORDER BY iter, node""".stripMargin
  }
}
