package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.Pins.FramePin

/** Incremental ANN index maintenance (ADVICE r9 item 4) — the at-rest
  * index operation a 100 TB vector pipeline runs between rebuilds:
  * append a new embedding batch into the pinned IVF/PQ structures
  * WITHOUT refitting — assign each new vector to its nearest FROZEN
  * coarse centroid and PQ-encode it with the FROZEN codebooks — plus
  * the drift monitor that says when the frozen quantizers have decayed
  * enough to warrant a retrain.
  *
  * Fixture framing: the corpus is split by the [[graft.GoldenHash]]
  * rule into an at-rest 95% (the corpus the index was built on) and a
  * ~5% delta batch (`bucket(vec_id, 20) = 7`) playing the newly
  * arrived embeddings. The frozen structures are fit on the at-rest
  * split ONLY — the delta genuinely never influenced them, which is
  * what makes the spec's incremental-vs-rebuild comparison meaningful.
  *
  * Scale shape: the append touches ONLY the delta (cost ∝ batch, not
  * corpus — the [[Dedup]] incremental-near-dup stance): delta ×
  * k-centroids and delta × M·K codebook rows are broadcast cross
  * joins against driver-small frozen sidecars, ranked by per-vec_id
  * windows (partition = batch rows). The drift monitor's only
  * corpus-wide work is one scan re-deriving at-rest assignment
  * distances — the same scan the original index build paid.
  *
  * Both engines compute squared L2 with identical ascending-order
  * arithmetic (`aggregate(zip_with(...))` ⇔ `list_sum(list_transform
  * (list_zip(...)))`), rank on the round-9 quantized key, and emit
  * round-4 values — the fleet's engine-stability conventions.
  */
object AnnMaintain {

  /** Delta-batch membership: ~5% of vec_ids. */
  private def isDelta: Column = graft.GoldenHash.bucket(col("vec_id"), 20) === 7

  private val isDeltaSql = graft.GoldenHash.bucketSql("vec_id", 20) + " = 7"

  /** Pinned frozen sidecars — the oracle replays assignment + encoding
    * of the delta from these, exactly the artifact set a deployment
    * stores beside its inverted lists.
    */
  val CentroidsPath: String = graft.Pins.artifact("annx_centroids")
  val CodebooksPath: String = graft.Pins.artifact("annx_codebooks")

  private[graft] final case class Frozen(
      centroids: Seq[(Int, Seq[Double])],
      codebooks: Seq[(Int, Int, Seq[Double])])

  private val frozenCache = graft.Pins.session[String, Frozen]()

  /** KMeans cell fit (k=8, seeded) over `df`'s `v` column — the coarse
    * quantizer. Spec-visible so the rebuild comparison can refit on the
    * full corpus with identical parameters.
    */
  private[graft] def fitCells(df: DataFrame, k: Int = 8): Seq[(Int, Seq[Double])] = {
    import org.apache.spark.ml.functions.array_to_vector
    import org.apache.spark.ml.clustering.KMeans
    val m = new KMeans().setK(k).setSeed(42L).setMaxIter(10)
      .setFeaturesCol("fv").setPredictionCol("cell")
      .fit(df.withColumn("fv", array_to_vector(col("v"))))
    m.clusterCenters.zipWithIndex.map { case (c, i) => (i, c.toArray.toSeq) }.toSeq
  }

  /** Full quantizer fit over an arbitrary (vec_id, v) corpus frame —
    * coarse centroids + PQ codebooks, same seeds/params as the original
    * index build. Shared by the frozen at-rest fit and the
    * drift-triggered rebuild ([[maintainOnDrift]]).
    */
  private[graft] def fitQuantizers(corpus: DataFrame): Frozen = {
    import org.apache.spark.ml.functions.array_to_vector
    import org.apache.spark.ml.clustering.KMeans
    val df = corpus
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    df.count()
    val cents = fitCells(df)
    val withSubs = (0 until Similarity.PqM).foldLeft(df) { (acc, m) =>
      acc.withColumn(s"fs_$m", array_to_vector(
        slice(col("v"), m * Similarity.PqSubDim + 1, Similarity.PqSubDim)))
    }
    val books = for {
      m <- 0 until Similarity.PqM
      model = new KMeans().setK(Similarity.PqK).setSeed(42L + m).setMaxIter(10)
        .setFeaturesCol(s"fs_$m").setPredictionCol(s"code_$m")
        .fit(withSubs)
      (ctr, c) <- model.clusterCenters.zipWithIndex
    } yield (m, c, ctr.toArray.toSeq)
    df.unpersist()
    Frozen(cents, books)
  }

  /** Frozen structures: coarse centroids + PQ codebooks, fit on the
    * AT-REST split only (the delta never existed when they trained).
    */
  private def frozen(s: SparkSession, d: String): Frozen =
    frozenCache.getOrBuild(s, d) {
      fitQuantizers(Similarity.vecs(s, d).filter(!isDelta))
    }

  private def pinFrozen(s: SparkSession, d: String, fz: Frozen): Unit =
    graft.Pins.writeArtifact(s, d, "annx_frozen") {
      s.createDataFrame(fz.centroids).toDF("cell", "centroid")
        .coalesce(1).write.mode("overwrite").parquet(CentroidsPath)
      s.createDataFrame(fz.codebooks).toDF("m", "c", "centroid")
        .coalesce(1).write.mode("overwrite").parquet(CodebooksPath)
    }

  /** Ascending-order squared L2 between two array<double> columns —
    * the arithmetic twin of the oracle's list_sum formulation. HOF
    * (not the native expression) is deliberate: this runs on
    * delta-bounded frames, and the (x-y)² accumulation must match the
    * oracle term-for-term.
    */
  private def sqL2(a: String, b: String): Column =
    expr(s"aggregate(zip_with($a, $b, (x, y) -> (x - y) * (x - y)), 0D, (acc, x) -> acc + x)")

  /** Nearest-frozen-cell assignment of `df` (vec_id, v): broadcast the
    * k-row centroid frame, rank on the round-9 key, keep rank 1.
    */
  private[graft] def assignCells(df: DataFrame, cdf: DataFrame): DataFrame =
    df.crossJoin(broadcast(cdf))
      .withColumn("d2", sqL2("v", "centroid"))
      .withColumn("crank", row_number().over(
        Window.partitionBy(col("vec_id"))
          .orderBy(round(col("d2"), 9).asc, col("cell"))))
      .filter(col("crank") === 1)
      .select(col("vec_id"), col("v"), col("cell"), col("d2"))

  /** Frozen-quantizer encode of a (vec_id, v) batch: nearest-cell
    * assignment + PQ codes against the given centroid/codebook frames —
    * the shared core of the batch append query and its streaming twin
    * ([[graft.streaming.StreamPipelines.streamingAnnAppend]]). Cost ∝
    * batch rows; the frozen frames broadcast.
    */
  private[graft] def encodeBatch(
      batch: DataFrame, cdf: DataFrame, bdf: DataFrame): DataFrame = {
    val assigned = assignCells(batch, cdf)
    val codes = batch.crossJoin(broadcast(bdf))
      .withColumn("sub",
        slice(col("v"), col("m") * Similarity.PqSubDim + lit(1), lit(Similarity.PqSubDim)))
      .withColumn("sd2", sqL2("sub", "centroid"))
      .withColumn("srank", row_number().over(
        Window.partitionBy(col("vec_id"), col("m"))
          .orderBy(round(col("sd2"), 9).asc, col("c"))))
      .filter(col("srank") === 1)
      .groupBy(col("vec_id"))
      .agg(expr(
        "concat_ws('-', transform(sort_array(collect_list(struct(m, c))), s -> cast(s.c as string)))")
        .as("codes"))
    assigned.join(codes, Seq("vec_id"))
      .select(col("vec_id"), col("cell"), round(col("d2"), 4).as("cell_d2"), col("codes"))
  }

  /** The append: delta batch → frozen-cell assignment + frozen-codebook
    * PQ codes — the rows a deployment appends to its inverted-list
    * table. No refit anywhere; the corpus is never touched.
    */
  def annIndexAppend(s: SparkSession, d: String): DataFrame = {
    val fz = frozen(s, d)
    pinFrozen(s, d, fz)
    val cdf = s.createDataFrame(fz.centroids).toDF("cell", "centroid")
    val bdf = s.createDataFrame(fz.codebooks).toDF("m", "c", "centroid")
    val delta = Similarity.vecs(s, d).filter(isDelta)
      .select(col("vec_id"), col("v"))
    encodeBatch(delta, cdf, bdf).orderBy(col("vec_id"))
  }

  // ------------------------------------------- generation-2 probe

  /** Query-batch membership for the gen-2 probe: a second ~5% slice,
    * disjoint from the appended batch ([[isDelta]], bucket 7) — the
    * corpus_prep_delta2 split shape applied to vectors.
    */
  private def isQueryB: Column = graft.GoldenHash.bucket(col("vec_id"), 20) === 11
  private val isQueryBSql = graft.GoldenHash.bucketSql("vec_id", 20) + " = 11"

  /** Results per query in the gen-2 probe. */
  val ProbeK = 3

  /** Fixed-point scale for the ADC distance: each per-subspace squared
    * L2 is quantized to round(sd2 · 1e9) BIGINT BEFORE the per-pair
    * sum, so the emitted distance is an integer sum — exact and
    * order-free in both engines (the DsirQ / PcaQ convention; a raw
    * double sum of [[Similarity.PqM]] terms can differ in the last ulp
    * between engines purely from accumulation order).
    */
  val AdcQ = 1000000000L

  /** The gen-1 inverted lists GROWN by the appended batch:
    * frozen-encode of the at-rest slice (the build's own output — a
    * deployment holds these at rest, so they're session-cached and
    * checkpointed like every other index structure) unioned with the
    * frozen-encode of batch A. Both sides are the SAME deterministic
    * [[encodeBatch]]; AnnMaintainSpec pins append-then-probe ==
    * rebuild-then-probe on exactly this construction.
    */
  private val grownListsCache = graft.Pins.session[String, DataFrame]()
  private def grownLists(s: SparkSession, d: String,
      cdf: DataFrame, bdf: DataFrame): DataFrame =
    grownListsCache.getOrBuild(s, d) {
      val vecs = Similarity.vecs(s, d).select(col("vec_id"), col("v"))
      encodeBatch(vecs.filter(!isDelta && !isQueryB), cdf, bdf)
        .unionByName(encodeBatch(vecs.filter(isDelta), cdf, bdf))
        .pin("one M-byte PQ code row per vector — the at-rest encoded lists")
    }

  /** IVF-PQ probe of a (vec_id, v) query batch against inverted lists
    * (vec_id, cell, codes): each query routes to its nearest FROZEN
    * cell, scans only that cell's list, and scores every member by
    * asymmetric distance (ADC) — per subspace, squared L2 from the
    * query's sub-vector to the member's code centroid, quantized to
    * BIGINT and summed. Top [[ProbeK]] per query on (adc_q, member_id).
    *
    * Scale shape: query × list-members pairs are the inherent IVF
    * probe cost (∝ batch × list size, never corpus²); the per-pair
    * per-subspace lookup is a BROADCAST hash join against the 128-row
    * codebook frame inside the scan stage; ranking is a query-
    * partitioned window. (A production ADC precomputes the 128-entry
    * distance table per query; the per-pair join here is the same
    * arithmetic in declarative form.)
    */
  private[graft] def probeGrown(queries: DataFrame, lists: DataFrame,
      cdf: DataFrame, bdf: DataFrame): DataFrame = {
    val q = assignCells(queries, cdf)
      .select(col("vec_id").as("query_id"), col("v"), col("cell"))
    val members = lists.select(col("vec_id").as("member_id"), col("cell"), col("codes"))
    // the production-ADC table: sd2q depends only on (query, m, c), so
    // it is computed ONCE per query × codebook entry (|batch| × M·K
    // rows — the same round/quantize expressions as before, so scores
    // are byte-identical) instead of once per query × member pair.
    // The pair stage below then carries ONLY ids and joins this
    // broadcast table — the raw query vector never rides the |batch| ×
    // list-size explode and is never re-sliced per pair (measured 53 s
    // → see BASELINE round-14 note — the sf1 gen-2 probe's whole cost
    // was vector carry + per-pair slicing). At a batch size where the
    // table outgrows a broadcast (~1M queries), drop broadcast() and
    // the same plan shuffle-joins on query_id.
    val qtab = q.select(col("query_id"), col("v")).crossJoin(broadcast(bdf))
      .withColumn("sub",
        slice(col("v"), col("m") * Similarity.PqSubDim + lit(1), lit(Similarity.PqSubDim)))
      .withColumn("sd2q", round(sqL2("sub", "centroid") * AdcQ).cast("long"))
      .select(col("query_id"), col("m"), col("c"), col("sd2q"))
    val adc = q.select(col("query_id"), col("cell")).join(members, Seq("cell"))
      .select(col("query_id"), col("member_id"), col("cell"),
        posexplode(split(col("codes"), "-")).as(Seq("m", "code")))
      .withColumn("c", col("code").cast("int"))
      .join(broadcast(qtab), Seq("query_id", "m", "c"))
      .groupBy(col("query_id"), col("member_id"), col("cell"))
      .agg(sum(col("sd2q")).as("adc_q"))
    adc
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("adc_q").asc, col("member_id"))))
      .filter(col("rnk") <= ProbeK)
      .select(col("query_id"), col("rnk").cast("int").as("rnk"),
        col("member_id"), col("cell"), col("adc_q"),
        (graft.GoldenHash.bucket(col("member_id"), 20) === 7).as("from_append"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** Generation-2 probe (`q_ann_index_append2`) — the
    * [[TrainingPrep.corpusPrepDelta2]] loop applied to the ANN index:
    * append batch A (bucket 7) into the gen-1 inverted lists, then
    * serve query batch B (bucket 11) AGAINST THE GROWN LISTS with the
    * quantizers still frozen — proving the index keeps answering
    * correctly across append generations without a refit. The
    * `from_append` flag surfaces which results come from the appended
    * generation (the spec pins that some do). The oracle re-derives
    * BOTH the gen-1 lists and A's appended rows itself from the pinned
    * frozen sidecars and raw embeddings — never from an engine-written
    * gen-2 artifact (the delta2 oracle stance).
    */
  def annIndexAppend2(s: SparkSession, d: String): DataFrame = {
    val fz = frozen(s, d)
    pinFrozen(s, d, fz)
    val cdf = s.createDataFrame(fz.centroids).toDF("cell", "centroid")
    val bdf = s.createDataFrame(fz.codebooks).toDF("m", "c", "centroid")
    val queries = Similarity.vecs(s, d).filter(isQueryB)
      .select(col("vec_id"), col("v"))
    probeGrown(queries, grownLists(s, d, cdf, bdf), cdf, bdf)
  }

  /** Rebuild-then-probe twin for the spec: identical probe served from
    * lists encoded in ONE pass over at-rest ∪ A (what a from-scratch
    * rebuild with the same frozen quantizers would hold). Must equal
    * [[annIndexAppend2]] row-for-row.
    */
  private[graft] def append2Rebuilt(s: SparkSession, d: String): DataFrame = {
    val fz = frozen(s, d)
    val cdf = s.createDataFrame(fz.centroids).toDF("cell", "centroid")
    val bdf = s.createDataFrame(fz.codebooks).toDF("m", "c", "centroid")
    val vecs = Similarity.vecs(s, d).select(col("vec_id"), col("v"))
    val rebuilt = encodeBatch(vecs.filter(!isQueryB), cdf, bdf)
    probeGrown(vecs.filter(isQueryB), rebuilt, cdf, bdf)
  }

  /** Thresholds for the retrain trigger: a cell is flagged when its
    * post-append occupancy exceeds 2× the mean, or the appended
    * vectors sit 1.5× further from the frozen centroid than the
    * at-rest ones did (quantizer decay). Compared on the emitted
    * round-4 means, so the flag is reproducible from the row itself.
    */
  val SkewFactor = 2.0
  val DriftFactor = 1.5

  /** The drift monitor: per frozen cell, at-rest vs appended occupancy
    * and mean squared-L2 to the centroid, plus the retrain flag. The
    * at-rest re-assignment scan is the one corpus-wide job (the same
    * scan the index build paid); everything else is 8-row arithmetic.
    */
  private val atRestStatsCache = graft.Pins.session[String, DataFrame]()

  def annIndexDrift(s: SparkSession, d: String): DataFrame = {
    val fz = frozen(s, d)
    pinFrozen(s, d, fz)
    val cdf = s.createDataFrame(fz.centroids).toDF("cell", "centroid")
    val v = Similarity.vecs(s, d).select(col("vec_id"), col("v"))
    // the at-rest half is frozen per index generation — computed once
    // per (session, corpus) and pinned (the streaming monitor's wiring
    // stance applied to the batch audit's repeat probes)
    val stats = atRestStatsCache.getOrBuild(s, d)(
      atRestCellStats(v.filter(!isDelta), cdf)
        .pin("one row per frozen cell"))
    driftReportFromStats(stats, v.filter(isDelta), cdf)
  }

  /** The drift report core over arbitrary at-rest / appended (vec_id, v)
    * frames and a centroid frame — [[annIndexDrift]] wires it to the
    * fixture split; [[maintainOnDrift]] reuses it against whatever
    * index generation is currently live.
    */
  private[graft] def driftReport(
      atRest: DataFrame, batch: DataFrame, cdf: DataFrame): DataFrame =
    driftReportFromStats(atRestCellStats(atRest, cdf), batch, cdf)

  /** The at-rest side of the drift report — per frozen cell, occupancy
    * and mean squared-L2. This is the FROZEN-per-index-generation half:
    * the streaming monitor computes it once at wiring time (it is a
    * deterministic function of the at-rest table + centroid sidecar)
    * and re-flags every micro-batch against it, so per-batch cost is
    * batch-side only.
    */
  private[graft] def atRestCellStats(atRest: DataFrame, cdf: DataFrame): DataFrame =
    assignCells(atRest, cdf)
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_old"), round(avg(col("d2")), 4).as("mean_d2_old"))

  /** The drift flags against PRECOMPUTED at-rest stats — the shared
    * tail of [[driftReport]] and the per-micro-batch streaming monitor
    * ([[graft.streaming.StreamPipelines.streamingAnnAppend]]'s
    * driftSink), so the two paths cannot drift from each other.
    */
  private[graft] def driftReportFromStats(
      oldStats: DataFrame, batch: DataFrame, cdf: DataFrame): DataFrame = {
    val old = oldStats
    val neu = assignCells(batch, cdf)
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_new"), round(avg(col("d2")), 4).as("mean_d2_new"))
    // FULL outer: a frozen cell with zero at-rest members but appended
    // vectors is the strongest retrain signal there is — a left join
    // dropped it from the report (and from the avg_total denominator)
    // entirely (ADVICE r11). Null mean_d2_old on such a cell flags
    // immediate retrain.
    val per = old.join(neu, Seq("cell"), "full_outer")
      .na.fill(0L, Seq("n_old", "n_new"))
      .withColumn("n_total", col("n_old") + col("n_new"))
    val totals = per.groupBy().agg(
      (sum(col("n_total")).cast("double") / count(lit(1))).as("avg_total"))
    per.crossJoin(broadcast(totals))
      .withColumn("retrain",
        col("n_total") > lit(SkewFactor) * col("avg_total") ||
          col("mean_d2_old").isNull ||
          (col("mean_d2_new").isNotNull &&
            col("mean_d2_new") > lit(DriftFactor) * col("mean_d2_old")))
      .select(col("cell"), col("n_old"), col("n_new"),
        col("mean_d2_old"), col("mean_d2_new"), col("retrain"))
      .orderBy(col("cell"))
  }

  /** Drift-triggered rebuild (VERDICT r11 item 5) — the monitor is no
    * longer report-only. Runs [[driftReport]] for `batch` against the
    * sidecars at `centroidsPath`/`codebooksPath`; if ANY cell flags
    * retrain, refits BOTH quantizer levels on at-rest ∪ batch with the
    * original build parameters and atomically swaps the pinned sidecars
    * (write-aside then directory rename — readers see either the old
    * generation or the new one, never a partial write; on an object
    * store the same protocol runs through a manifest pointer).
    *
    * Returns (rebuilt?, report rows) so callers can log the decision.
    * Scale shape: the report is the one corpus-wide scan the monitor
    * already paid; the refit — the expensive step — runs ONLY when
    * triggered, which is the entire point of monitoring drift instead
    * of rebuilding on a timer.
    */
  def maintainOnDrift(
      s: SparkSession,
      atRest: DataFrame,
      batch: DataFrame,
      centroidsPath: String = CentroidsPath,
      codebooksPath: String = CodebooksPath): (Boolean, Array[org.apache.spark.sql.Row]) = {
    val cdf = s.read.parquet(centroidsPath)
    val report = driftReport(atRest, batch, cdf).collect()
    val rebuilt = report.exists(_.getAs[Boolean]("retrain"))
    if (rebuilt) {
      val fz = fitQuantizers(atRest.union(batch))
      swapSidecar(s, s.createDataFrame(fz.centroids).toDF("cell", "centroid"), centroidsPath)
      swapSidecar(s, s.createDataFrame(fz.codebooks).toDF("m", "c", "centroid"), codebooksPath)
    }
    (rebuilt, report)
  }

  /** Write `df` beside `livePath` then rename into place: retire the
    * live generation to `<path>_prev` (dropped after the swap) and
    * promote the new one with a directory rename — the only
    * non-instantaneous step is a metadata op.
    */
  private def swapSidecar(s: SparkSession, df: DataFrame, livePath: String): Unit = {
    val next = new java.io.File(livePath + "_next")
    val prev = new java.io.File(livePath + "_prev")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete(); ()
    }
    rm(next); rm(prev)
    df.coalesce(1).write.mode("overwrite").parquet(next.getPath)
    val live = new java.io.File(livePath)
    if (live.exists() && !live.renameTo(prev))
      sys.error(s"sidecar swap: could not retire $livePath")
    if (!next.renameTo(live)) {
      prev.renameTo(live) // roll back to the old generation
      sys.error(s"sidecar swap: could not promote ${next.getPath}")
    }
    rm(prev)
  }

  lazy val defs: Map[String, QueryDef] = Map(
    // verified-not-benched since r16 (VERDICT r15 finding 3): the
    // compositional PREFIX of q_ann_index_append2, whose oracle
    // re-derives generation 1 itself — the q_bm25_topk/delta2
    // precedent; still oracle-checked by Verify every round
    "q_ann_index_append" -> QueryDef(annIndexAppend, Some(AnnMaintainOracles.append),
      headline = false),
    "q_ann_index_append2" -> QueryDef(annIndexAppend2, Some(AnnMaintainOracles.append2)),
    "q_ann_index_drift" -> QueryDef(annIndexDrift, Some(AnnMaintainOracles.drift)))

  private[operators] val deltaSql = isDeltaSql
  private[operators] val queryBSql = isQueryBSql
}

/** DuckDB replay of the append and the drift monitor over the pinned
  * frozen sidecars — identical list arithmetic, round-9 rank keys,
  * round-4 emitted values.
  */
object AnnMaintainOracles {

  private val sqL2Sql =
    "list_sum(list_transform(list_zip(%s, %s), x -> (x[1] - x[2]) * (x[1] - x[2])))"

  private def assignSql(src: String): String =
    s"""SELECT vec_id, v, cell, d2 FROM (
       |  SELECT t.vec_id, t.v, c.cell,
       |    ${sqL2Sql.format("t.v", "c.centroid")} AS d2,
       |    row_number() OVER (PARTITION BY t.vec_id
       |      ORDER BY round(${sqL2Sql.format("t.v", "c.centroid")}, 9) ASC, c.cell) AS rn
       |  FROM ($src) t CROSS JOIN cents c)
       |WHERE rn = 1""".stripMargin

  private val header =
    s"""WITH e AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |cents AS (
       |  SELECT cell, centroid FROM read_parquet('${AnnMaintain.CentroidsPath}/*.parquet')),
       |books AS (
       |  SELECT m, c, centroid FROM read_parquet('${AnnMaintain.CodebooksPath}/*.parquet'))""".stripMargin

  /** The frozen-quantizer encode of one `pred`-selected slice, as
    * `_$tag`-suffixed CTEs ending in `enc_$tag (vec_id, cell, cell_d2,
    * codes)` — ONE builder shared by [[append]] and [[append2]] (and
    * twice within append2, for the at-rest lists and batch A), so the
    * three replays cannot drift.
    */
  private def encodeCtes(tag: String, pred: String): String =
    s"""assign_$tag AS (
       |  ${assignSql(s"SELECT vec_id, v FROM e WHERE $pred")}),
       |subs_$tag AS (
       |  SELECT a.vec_id, b.m, b.c,
       |    ${sqL2Sql.format(
              s"list_slice(a.v, b.m * ${Similarity.PqSubDim} + 1, (b.m + 1) * ${Similarity.PqSubDim})",
              "b.centroid")} AS sd2
       |  FROM assign_$tag a CROSS JOIN books b),
       |coded_$tag AS (
       |  SELECT vec_id, m, c FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, m
       |      ORDER BY round(sd2, 9) ASC, c) AS rn
       |    FROM subs_$tag)
       |  WHERE rn = 1),
       |codes_$tag AS (
       |  SELECT vec_id, string_agg(CAST(c AS VARCHAR), '-' ORDER BY m) AS codes
       |  FROM coded_$tag GROUP BY vec_id),
       |enc_$tag AS (
       |  SELECT a.vec_id, a.cell, round(a.d2, 4) AS cell_d2, c.codes
       |  FROM assign_$tag a JOIN codes_$tag c USING (vec_id))""".stripMargin

  val append: String =
    s"""$header,
       |${encodeCtes("d", AnnMaintain.deltaSql)}
       |SELECT vec_id, cell, cell_d2, codes
       |FROM enc_d
       |ORDER BY vec_id""".stripMargin

  /** Replays [[AnnMaintain.annIndexAppend2]] END-TO-END ACROSS BOTH
    * GENERATIONS from the pinned frozen sidecars and raw embeddings
    * alone: the gen-1 lists (at-rest encode) and batch A's appended
    * rows are BOTH re-derived independently — nothing is read from an
    * engine-written gen-2 artifact — then query batch B routes to its
    * nearest frozen cell and scores the grown list by the identical
    * integer-quantized ADC sum.
    */
  val append2: String = {
    val sub = Similarity.PqSubDim
    s"""$header,
       |${encodeCtes("ar",
          s"NOT (${AnnMaintain.deltaSql}) AND NOT (${AnnMaintain.queryBSql})")},
       |${encodeCtes("a", AnnMaintain.deltaSql)},
       |lists AS (
       |  SELECT vec_id, cell, codes FROM enc_ar
       |  UNION ALL
       |  SELECT vec_id, cell, codes FROM enc_a),
       |qassign AS (
       |  ${assignSql(s"SELECT vec_id, v FROM e WHERE ${AnnMaintain.queryBSql}")}),
       |pairs AS (
       |  SELECT q.vec_id AS query_id, q.v, l.vec_id AS member_id, l.cell, l.codes
       |  FROM qassign q JOIN lists l USING (cell)),
       |pexp AS (
       |  SELECT query_id, v, member_id, cell, codes,
       |    unnest(generate_series(0, ${Similarity.PqM - 1})) AS m
       |  FROM pairs),
       |adc AS (
       |  SELECT query_id, member_id, cell,
       |    CAST(sum(CAST(round(${sqL2Sql.format(
              s"list_slice(p.v, p.m * $sub + 1, (p.m + 1) * $sub)",
              "b.centroid")} * ${AnnMaintain.AdcQ}) AS BIGINT)) AS BIGINT) AS adc_q
       |  FROM pexp p JOIN books b
       |    ON b.m = p.m AND b.c = CAST(string_split(p.codes, '-')[p.m + 1] AS INT)
       |  GROUP BY 1, 2, 3),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY adc_q ASC, member_id) AS rnk
       |  FROM adc)
       |SELECT query_id, CAST(rnk AS INT) AS rnk, member_id, cell, adc_q,
       |  (${graft.GoldenHash.bucketSql("member_id", 20)}) = 7 AS from_append
       |FROM ranked
       |WHERE rnk <= ${AnnMaintain.ProbeK}
       |ORDER BY query_id, rnk""".stripMargin
  }

  val drift: String =
    s"""$header,
       |old AS (
       |  SELECT cell, CAST(count(*) AS BIGINT) AS n_old,
       |    round(avg(d2), 4) AS mean_d2_old
       |  FROM (${assignSql(
              s"SELECT vec_id, v FROM e WHERE NOT (${AnnMaintain.deltaSql})")})
       |  GROUP BY cell),
       |neu AS (
       |  SELECT cell, CAST(count(*) AS BIGINT) AS n_new,
       |    round(avg(d2), 4) AS mean_d2_new
       |  FROM (${assignSql(
              s"SELECT vec_id, v FROM e WHERE ${AnnMaintain.deltaSql}")})
       |  GROUP BY cell),
       |per AS (
       |  SELECT cell, coalesce(o.n_old, 0) AS n_old, coalesce(n.n_new, 0) AS n_new,
       |    o.mean_d2_old, n.mean_d2_new,
       |    coalesce(o.n_old, 0) + coalesce(n.n_new, 0) AS n_total
       |  FROM old o FULL OUTER JOIN neu n USING (cell)),
       |tot AS (
       |  SELECT CAST(sum(n_total) AS DOUBLE) / count(*) AS avg_total FROM per)
       |SELECT cell, n_old, n_new, mean_d2_old, mean_d2_new,
       |  (n_total > ${AnnMaintain.SkewFactor} * avg_total
       |   OR mean_d2_old IS NULL
       |   OR (mean_d2_new IS NOT NULL
       |       AND mean_d2_new > ${AnnMaintain.DriftFactor} * mean_d2_old)) AS retrain
       |FROM per CROSS JOIN tot
       |ORDER BY cell""".stripMargin
}
