package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.functions.VectorFunctions

/** Scale-first operators rounding out the LLM-data-pipeline surface:
  * max-inner-product retrieval, Bloom-prefiltered decontamination,
  * weighted training-mixture expansion, GROUPING SETS reporting, and a
  * mergeable Space-Saving heavy-hitters sketch.
  *
  * Scale posture (100 TB):
  *   - [[mipsTopK]] broadcasts the (tiny) query side and scans the
  *     corpus once — same shape as [[Similarity.bruteTopK]]; the IVF /
  *     LSH indexes in [[Similarity]] are the sub-linear path.
  *   - [[bloomDecontaminate]] is Spark's runtime-filter pattern made
  *     explicit: a driver-built Bloom sketch of the (small) benchmark
  *     blocklist is broadcast, so the overwhelming bloom-negative
  *     majority of the corpus never enters a shuffle — only the ~fpp
  *     false-positive sliver plus true hits pay the exact anti-join.
  *   - [[dataMixture]] is scan-speed: per-row arithmetic decides the
  *     replica count, `explode(sequence)` expands inside whole-stage
  *     codegen, zero shuffles.
  *   - [[groupingSets]] is one Expand + one aggregate exchange — the
  *     Catalyst lowering shared with cube/rollup ([[Analytics]]).
  *   - [[heavyHitters]] replaces a full groupBy-count over an unbounded
  *     key space with a fixed-memory summary: m counters per partition,
  *     m counters on the merge path, regardless of key cardinality —
  *     the map-side partials are the whole network cost.
  */
object ScaleOps {

  /** Max-inner-product top-k (MIPS) — the retrieval scoring used when
    * embeddings are trained with dot-product similarity (recommender /
    * retrieval towers), distinct from cosine: no norm division, so
    * longer vectors legitimately rank higher. Query set `vec_id < 5`
    * against the full corpus, top-3 each.
    */
  def mipsTopK(s: SparkSession, d: String): DataFrame = {
    val v = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val q = v.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    // round-9 rank key: Spark (native DotProduct) and DuckDB (list
    // arithmetic) sum the products in different orders, so a last-ulp
    // divergence at the rank-3 boundary would flip the emitted rows
    // (the ADVICE-r8 class; see Similarity.bruteTopK)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(round(col("dot"), 9).desc, col("vec_id"))
    v.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("dot", VectorFunctions.dot(col("qv"), col("v")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("query_id"), col("rank").cast("int").as("rank"),
        col("vec_id"), round(col("dot"), 4).as("dot_product"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Benchmark-set membership rule shared with [[TrainingPrep.decontaminate]]
    * — single-sourced in [[graft.GoldenHash]] (operators, oracles, and
    * specs all reference the same definition).
    */
  private def isTest: Column = graft.GoldenHash.isTestDoc(col("doc_id"))

  /** Exact-text decontamination with a Bloom prefilter. Semantics are
    * EXACTLY the anti-join (drop every training doc whose text equals
    * some benchmark doc's text — md5 digests stand in for the text so
    * shuffle keys are 32 chars, not documents); the Bloom filter is a
    * pure execution optimization. Docs the sketch rejects are certainly
    * clean and bypass the join entirely; only bloom-positives (true
    * hits + ~3% false positives) are verified against the blocklist.
    * At 100 TB that turns "shuffle the corpus" into "shuffle a sliver".
    *
    * The membership probe is the native codegen'd
    * [[graft.functions.BloomMightContain]] expression (Spark's own
    * runtime bloom filters use an internal expression for the same
    * probe): k hash probes per row on the raw UTF-8 bytes, inside
    * whole-stage codegen, no per-row String materialization.
    */
  def bloomDecontaminate(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), col("n_chars"),
        md5(col("text")).as("fp"), isTest.as("is_test"))
    val block = docs.filter(col("is_test")).select("fp")
    val bf = block.stat.bloomFilter("fp", math.max(block.count(), 64L), 0.03)
    val mightContain = graft.functions.BloomFunctions.mightContain(col("fp"), bf)
    val train = docs.filter(!col("is_test"))
    val certain = train.filter(!mightContain)
    val verified = train.filter(mightContain)
      .join(block, Seq("fp"), "left_anti")
    certain.select("doc_id", "source", "n_chars")
      .unionByName(verified.select("doc_id", "source", "n_chars"))
      .orderBy(col("doc_id"))
  }

  /** Weighted training-mixture expansion — "epochs per source": each
    * source gets a weight in [0.25, 2.0] (derived from its numeric
    * suffix so the rule is pure arithmetic in both engines); a doc with
    * weight w appears floor(w) times plus one more for a deterministic
    * frac(w) slice chosen by the golden-ratio hash of its id. This is
    * the standard corpus-mixing step (upsample curated sources,
    * downsample crawl) made reproducible: a doc's replica count never
    * depends on other rows, so the mixture is stable under corpus
    * growth and identical across engines and runs.
    */
  def dataMixture(s: SparkSession, d: String): DataFrame = {
    val wPm = lit(250) + (expr("CAST(substring(source, 4) AS INT)") % 8) * lit(250)
    Tables.documents(s, d).select(col("doc_id"), col("source"))
      .withColumn("w_pm", wPm)
      .withColumn("n_copies",
        floor(col("w_pm") / lit(1000)).cast("int") +
          when(graft.GoldenHash.bucket(col("doc_id"), 1000) < col("w_pm") % 1000, 1)
            .otherwise(0))
      .filter(col("n_copies") >= 1)
      .select(col("doc_id"), col("source"),
        explode(expr("sequence(1, n_copies)")).as("epoch"))
      .withColumn("epoch", col("epoch").cast("int"))
      .orderBy(col("doc_id"), col("epoch"))
  }

  /** GROUPING SETS — the ad-hoc slice set ((type, day), (type), (day),
    * ()) that cube would over-produce and rollup can't express. One
    * Expand + one aggregate exchange. The SQL string is shared verbatim
    * with the DuckDB oracle (`STRING` aliases `VARCHAR` there), like
    * [[Analytics.sqlDashboard]]. Marginal rows are labeled via
    * `GROUPING(col)` (supported identically by both engines), NOT by
    * coalescing the grouped value — a genuine NULL event_type (or a
    * literal 'ALL' value in the data) stays distinguishable from the
    * aggregate rows (ADVICE r6).
    */
  val groupingSetsSql: String =
    """WITH e AS (
      |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day, value
      |  FROM events)
      |SELECT CASE WHEN GROUPING(event_type) = 1 THEN 'ALL' ELSE event_type END AS event_type,
      |  CASE WHEN GROUPING(day) = 1 THEN 'ALL' ELSE CAST(day AS STRING) END AS day,
      |  count(*) AS n_events,
      |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) / 100e0 AS total_value
      |FROM e
      |GROUP BY GROUPING SETS ((event_type, day), (event_type), (day), ())
      |ORDER BY event_type, day""".stripMargin

  def groupingSets(s: SparkSession, d: String): DataFrame = {
    Tables.events(s, d).createOrReplaceTempView("events")
    s.sql(groupingSetsSql)
  }

  /** Top talkers by a fixed-memory sketch: Space-Saving summaries built
    * per partition, merged pairwise, never holding more than `capacity`
    * counters — versus a groupBy-count whose state is the full key
    * cardinality. Output rows carry the standard bounds:
    * `est_count >= true >= est_count - max_overcount`, and every item
    * with true frequency > N/capacity is guaranteed present.
    *
    * The aggregate is the primitive-array
    * [[graft.functions.SpaceSavingAgg]] (a TypedImperativeAggregate) —
    * see its scaladoc for the sketch-vs-exact crossover: at fixture
    * cardinality (~150 users) an exact groupBy-count would be faster;
    * the sketch is the operator you reach for when the key space
    * (users/IPs at 100 TB) dwarfs executor memory.
    */
  def heavyHitters(s: SparkSession, d: String): DataFrame = {
    Tables.events(s, d)
      .agg(graft.functions.SketchFunctions.spaceSaving(col("user_id"), HhCapacity).as("summary"))
      .select(explode(col("summary")).as("h"))
      .select(col("h.item").as("user_id"), col("h.est").as("est_count"),
        col("h.err").as("max_overcount"))
      .orderBy(col("est_count").desc, col("user_id"))
  }

  private[operators] val HhCapacity = 64

  /** The DETERMINISTIC companion of [[heavyHitters]] (VERDICT r7 item
    * 6): Space-Saving output depends on partition merge order through
    * its est/err bounds — except in the EXACT regime, where key
    * cardinality ≤ capacity means no counter is ever evicted under ANY
    * merge order, so est collapses to the true count and err to 0.
    * `event_type` (5 keys ≪ 64 counters) is that regime; the query runs
    * the sketch, keeps the guaranteed-heavy subset (est − err above the
    * N/capacity support threshold — the filter a sketch consumer
    * applies in the approximate regime too), and emits est AS the
    * count. The DuckDB oracle computes the same set with an exact
    * GROUP BY … HAVING — a hash-exact check of the sketch's per-
    * partition counting and pairwise merge, complementing the
    * PropertySpec bracket bounds that cover the eviction regime
    * (user_id at capacity < cardinality stays rows-only, as any
    * order-dependent sketch must).
    */
  def heavyHittersExact(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val total = ev.agg(count(lit(1)).as("total"))
    // the sketch keys on xxhash64(event_type): the primitive-array
    // summary holds LONGs (at 100 TB the sketched key is a hash anyway);
    // the 5-row distinct dim recovers the string after the sketch
    val keyed = ev.withColumn("k", xxhash64(col("event_type")))
    val dim = keyed.select(col("event_type"), col("k")).distinct()
    keyed.agg(graft.functions.SketchFunctions.spaceSaving(col("k"), HhCapacity)
        .as("summary"))
      .select(explode(col("summary")).as("h"))
      .select(col("h.item").as("k"),
        col("h.est").as("n_events"), col("h.err").as("err"))
      .join(broadcast(dim), Seq("k"))
      .crossJoin(broadcast(total))
      .filter((col("n_events") - col("err")) * lit(HhCapacity.toLong) > col("total"))
      .select(col("event_type"), col("n_events"))
      .orderBy(col("n_events").desc, col("event_type"))
  }

  /** Invariant-check companion of [[heavyHitters]] for the EVICTION
    * regime (user_id cardinality ≫ capacity) that [[heavyHittersExact]]
    * cannot reach: Space-Saving's bracket theorem guarantees
    * est − err ≤ true ≤ est for every tracked item under ANY partition
    * merge order, and a full summary holds exactly `capacity` counters.
    * The query joins the sketch output against exact per-key counts
    * and emits (n_tracked, brackets_hold) — the DuckDB oracle pins
    * n_tracked at least(distinct keys, capacity) and the boolean at
    * TRUE. The inner join doubles as an items-exist check: a sketch
    * emitting a key absent from the data drops a row and fails the
    * count. Same technique as
    * [[graft.operators.Dedup.approxDistinctCheck]]; the per-item
    * estimates stay rows-only in [[heavyHitters]] as any
    * merge-order-dependent output must.
    */
  def heavyHittersSound(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val sk = ev
      .agg(graft.functions.SketchFunctions.spaceSaving(col("user_id"), HhCapacity)
        .as("summary"))
      .select(explode(col("summary")).as("h"))
      .select(col("h.item").as("user_id"), col("h.est").as("est"), col("h.err").as("err"))
    val exact = ev.groupBy(col("user_id")).agg(count(lit(1)).as("true_n"))
    sk.join(exact, Seq("user_id"))
      .agg(count(lit(1)).as("n_tracked"),
        bool_and(col("est") - col("err") <= col("true_n") &&
          col("true_n") <= col("est")).as("brackets_hold"))
  }

  /** Fixed-width value histogram — the dashboard distribution panel
    * (latency/value histograms) as one hash aggregate: bin id computed
    * in the scan stage, one exchange on ~20 bin keys. The exact-cents
    * convention keeps the per-bin sum hash-stable across engines.
    */
  def valueHistogram(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .filter(col("value").isNotNull)
      .groupBy((floor(col("value") / 25.0) * 25).cast("int").as("bin_lo"))
      .agg(count(lit(1)).as("n_events"),
        (sum(round(col("value") * 100).cast("bigint")) / lit(100e0)).as("total_value"))
      .orderBy(col("bin_lo"))

  /** Day-over-day per-user comparison — the FULL OUTER join shape
    * (null-extending on BOTH sides) the rest of the surface doesn't
    * exercise: users active only on day one ("churned"), only on day
    * two ("new"), or both ("retained"), with the count delta. Both
    * sides are post-aggregation (per-user counts), so the join is two
    * small co-keyed frames — one exchange each, AQE picks the strategy.
    */
  def fullOuterCompare(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    def daily(day: String, alias: String) = ev
      .filter(expr(s"CAST(date_trunc('day', ts) AS DATE) = DATE '$day'"))
      .groupBy(col("user_id")).agg(count(lit(1)).as(alias))
    daily("2024-01-01", "n_day1")
      .join(daily("2024-01-02", "n_day2"), Seq("user_id"), "full_outer")
      .select(col("user_id"),
        coalesce(col("n_day1"), lit(0L)).as("n_day1"),
        coalesce(col("n_day2"), lit(0L)).as("n_day2"),
        (coalesce(col("n_day2"), lit(0L)) - coalesce(col("n_day1"), lit(0L))).as("delta"),
        when(col("n_day1").isNull, "new")
          .when(col("n_day2").isNull, "churned")
          .otherwise("retained").as("status"))
      .orderBy(col("user_id"))
  }

  /** Shuffle-key skew profile — the diagnostic a pipeline runs BEFORE
    * a big join/aggregation on a key to decide whether it needs
    * [[graft.operators.Skew.saltedJoin]] (or a bigger salt): per-key
    * row counts reduced to their distribution (max, mean, exact p50 and
    * p99, max/mean skew ratio). Two aggregates: the per-key count is
    * map-side combinable on the key, and the single-row rollup then
    * reduces ONE count per distinct key — at 100 TB the shuffle carries
    * key cardinality, not row count. Exact percentiles over the count
    * column are fine here precisely because the input to the rollup is
    * already one row per key.
    * Buffer bound: the exact `percentile` buffers one value PER
    * DISTINCT KEY in one task — at 10⁹ keys swap to `approx_percentile`
    * or the [[CorpusAudit.DsirCutSample]]-style hash-sampled cut; exact
    * kept because exactness is what the oracle checks.
    */
  def skewProfile(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("user_id")).agg(count(lit(1)).as("cnt"))
      .agg(
        count(lit(1)).as("n_keys"),
        sum(col("cnt")).as("n_rows"),
        max(col("cnt")).as("max_cnt"),
        round(avg(col("cnt")), 4).as("avg_cnt"),
        round(expr("percentile(cnt, 0.5)"), 4).as("p50_cnt"),
        round(expr("percentile(cnt, 0.99)"), 4).as("p99_cnt"),
        round(max(col("cnt")) / avg(col("cnt")), 4).as("skew_ratio"))

  /** N-gram-overlap decontamination — the contamination check exact
    * matching misses: a training document that paraphrases around a
    * verbatim benchmark PASSAGE shares word n-grams with it even
    * though no full text matches (the standard eval-contamination
    * methodology for LLM corpora; [[bloomDecontaminate]] and
    * `decontaminate` handle the exact-copy case). Flags every
    * training doc sharing at least one word 5-gram with any benchmark
    * doc, with collision counts.
    *
    * Shape at scale: benchmark grams are the SMALL side (held-out
    * suites are fixed-size; the corpus is not) — distinct'd and
    * broadcast, so the 100 TB training side streams through a
    * scan-stage explode + broadcast semi-ish join and only colliding
    * grams reach the per-doc count exchange. Gram strings would be
    * xxhash64'd at real scale (8-byte probes, same collisions-only
    * cost); kept as strings here so the oracle replays them verbatim.
    */
  def ngramDecontaminate(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val benchGrams = wordGramsOf(docs.filter(graft.GoldenHash.isTestDoc(col("doc_id"))))
      .select(col("g")).distinct()
    wordGramsOf(docs.filter(!graft.GoldenHash.isTestDoc(col("doc_id"))))
      .join(broadcast(benchGrams), Seq("g"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("g")).as("n_grams_hit"),
        count(lit(1)).as("n_positions"))
      .orderBy(col("doc_id"))
  }

  /** (doc_id, g) word n-grams of any documents frame — the shared gram
    * projection of [[ngramDecontaminate]], the incremental admission
    * pipeline ([[TrainingPrep.corpusPrepDelta]]), and the streaming
    * admission gate ([[graft.streaming.StreamPipelines.streamingDecontaminate]]).
    */
  private[graft] def wordGramsOf(df: DataFrame, n: Int = 5): DataFrame = {
    // r20: one fused codegen pass ([[graft.functions.WordNGrams]]) —
    // the transform/sequence/slice HOF chain was CodegenFallback and
    // allocated an intermediate slice array per gram
    df.withColumn("ws", TextAnalysis.words)
      .filter(size(col("ws")) >= n)
      .select(col("doc_id"),
        explode(graft.functions.TextHashFunctions.wordNGrams(col("ws"), n)).as("g"))
  }

  /** Per-source document cap — the domain-cap admission rule of web
    * corpus prep ("keep at most N pages per domain"): an unbiased
    * deterministic sample per source, ranked by a Knuth multiplicative
    * hash of the doc id (NOT by doc_id order, which would bias toward
    * early crawl ids; the hash is plain modular integer algebra so the
    * oracle replicates it exactly — the engine-hash-free twin of the
    * [[graft.operators.TrainingPrep]] hash-sampling stance).
    *
    * Shape: one window per source partition (shuffle on source, sort by
    * rank key within). The documented skew hazard is a giant source at
    * 100 TB: the escalation is the two-phase salted cap — cap per
    * (source, salt) at N, then re-cap the ≤ N·salts survivors — same
    * algebra, bounded partitions; at fixture scale the single window is
    * the honest plan.
    */
  private[operators] val SourceCapN = 20
  private[operators] val CapHashPrime = 2654435761L
  private[operators] val CapHashMod = 4294967296L

  def sourceCap(s: SparkSession, d: String): DataFrame = {
    val rankKey = (col("doc_id") * lit(CapHashPrime)) % lit(CapHashMod)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(rankKey.asc, col("doc_id"))
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"))
      .withColumn("sample_rank", row_number().over(w).cast("int"))
      .filter(col("sample_rank") <= SourceCapN)
      .orderBy(col("doc_id"))
  }

  /** Cross-document boilerplate n-gram detection — the C4/RefinedWeb
    * class of cleanup: word 8-grams appearing in ≥ `minDocs` DISTINCT
    * documents are boilerplate (headers, templates, licence blocks);
    * each document reports its gram count, boilerplate-gram count, and
    * ratio, which a downstream gate thresholds.
    *
    * Shape: per-doc DISTINCT grams built in the scan stage
    * (transform + array_distinct — no duplicate gram rows ever leave
    * the scan), one count per gram (map-side combinable: the shuffle
    * carries one row per distinct (gram, doc) pair, then one per gram),
    * the hot set joined back, one final per-doc aggregate. The gram KEY
    * here is the string itself so the DuckDB oracle is exact; at
    * 100 TB the key is xxhash64(gram) — 8-byte shuffle rows instead of
    * strings, with collisions only ever adding a false boilerplate
    * mark (the direction a cleanup gate tolerates).
    */
  private[operators] val BoilerN = 8
  private[operators] val BoilerMinDocs = 3

  /** (doc_id, n_grams, n_boilerplate) over ANY (doc_id, text) frame —
    * the hot set is computed WITHIN the given corpus (boilerplate is a
    * corpus-relative notion: a composed pipeline must detect templates
    * among the documents it is actually preparing, not the pre-filter
    * superset). [[corpusPrep3]]-composable core of [[boilerplateNgrams]].
    */
  private[operators] def boilerplateOf(docs: DataFrame): DataFrame = {
    val n = BoilerN
    // per-doc distinct gram ARRAY built once in the scan; n_grams is its
    // size — scan-local, where the earlier form re-exploded the corpus a
    // third time and hash-aggregated it back to a number the array
    // already knew (r20: 3 gram explodes → 2, one doc_id exchange gone)
    val perDoc = docs
      .withColumn("ws", TextAnalysis.words)
      .filter(size(col("ws")) >= n)
      .select(col("doc_id"), array_distinct(
        graft.functions.TextHashFunctions.wordNGrams(col("ws"), n)).as("gs"))
    val grams = perDoc.select(col("doc_id"), explode(col("gs")).as("g"))
    val hot = grams.groupBy(col("g"))
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= BoilerMinDocs)
      .select(col("g"))
    grams
      .join(hot, Seq("g"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_boilerplate"))
      .join(perDoc.select(col("doc_id"), size(col("gs")).cast("bigint").as("n_grams")),
        Seq("doc_id"), "right")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_boilerplate"), lit(0L)).as("n_boilerplate"))
  }

  def boilerplateNgrams(s: SparkSession, d: String): DataFrame =
    boilerplateOf(Tables.documents(s, d))
      .withColumn("boilerplate_ratio",
        round(col("n_boilerplate") / col("n_grams"), 4))
      .orderBy(col("doc_id"))

  /** Activity-decile bucketing of users WITHOUT a global window.
    * `ntile(10)` is the textbook formulation and a classic scale trap:
    * a window with no PARTITION BY collapses the whole table into one
    * partition. Here the decile CUTPOINTS are computed first (nine
    * exact percentiles of the per-user count distribution — one tiny
    * aggregate over one row per user), broadcast, and each user is
    * bucketed by counting cutpoints strictly below its activity — a
    * scan-stage CASE chain. Equal-probability bins rather than exactly
    * equal-size bins: heavy ties at a cutpoint land in one bucket
    * (documented tradeoff; cutpoints rounded to 4dp first so the
    * comparison is engine-stable).
    * Buffer bound: the nine exact percentiles buffer one value PER
    * DISTINCT USER in one task — at 10⁹ users swap to
    * `approx_percentile` or the [[CorpusAudit.DsirCutSample]]-style
    * hash-sampled cut; exact kept because exactness is what the oracle
    * checks.
    */
  def userDeciles(s: SparkSession, d: String): DataFrame = {
    val counts = Tables.events(s, d)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_events"))
    val cutCols = (1 to 9).map(k =>
      round(expr(s"percentile(n_events, 0.$k)"), 4).as(s"c$k"))
    val cuts = counts.agg(cutCols.head, cutCols.tail: _*)
    val decile = (1 to 9).map(k =>
      when(col("n_events") > col(s"c$k"), 1).otherwise(0))
      .reduce(_ + _)
    counts.crossJoin(broadcast(cuts))
      .withColumn("decile", decile)
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("n_events")).as("total_events"),
        min(col("n_events")).as("min_events"),
        max(col("n_events")).as("max_events"))
      .orderBy(col("decile"))
  }

  // lazy: oracle objects reference operator constants (e.g. DedupOracles
  // .spanCtes -> Dedup.SpanLen), so an eager defs -- which reads the oracle
  // object back -- would deadlock-null mid-initialization when a composed
  // oracle (TrainingOracles.corpusPrep4) initializes the oracle object first
  lazy val defs: Map[String, QueryDef] = Map(
    "q_skew_profile"        -> QueryDef(skewProfile, Some(ScaleOracles.skewProfile)),
    "q_user_deciles"        -> QueryDef(userDeciles, Some(ScaleOracles.userDeciles)),
    "q_ngram_decontaminate" -> QueryDef(ngramDecontaminate, Some(ScaleOracles.ngramDecontaminate)),
    "q_fullouter_compare"   -> QueryDef(fullOuterCompare, Some(ScaleOracles.fullOuterCompare)),
    "q_value_histogram"     -> QueryDef(valueHistogram, Some(ScaleOracles.valueHistogram)),
    "q_mips_topk"           -> QueryDef(mipsTopK, Some(ScaleOracles.mipsTopK)),
    "q_bloom_decontaminate" -> QueryDef(bloomDecontaminate, Some(ScaleOracles.bloomDecontaminate)),
    "q_data_mixture"        -> QueryDef(dataMixture, Some(ScaleOracles.dataMixture)),
    "q_grouping_sets"       -> QueryDef(groupingSets, Some(groupingSetsSql)),
    "q_heavy_hitters"       -> QueryDef(heavyHitters, None),
    // verified-not-benched since r14: the exact oracle-gate companion
    // of the benched sketch (the sketch is the scale path; Verify still
    // runs this one against DuckDB every round)
    "q_heavy_hitters_exact" -> QueryDef(heavyHittersExact, Some(ScaleOracles.heavyHittersExact),
      headline = false),
    "q_heavy_hitters_sound" -> QueryDef(heavyHittersSound,
      Some(ScaleOracles.heavyHittersSound), headline = false),
    "q_source_cap"          -> QueryDef(sourceCap, Some(ScaleOracles.sourceCap)),
    "q_boilerplate_ngrams"  -> QueryDef(boilerplateNgrams, Some(ScaleOracles.boilerplateNgrams)))
}

/** DuckDB oracles for [[ScaleOps]] — same aliases, ORDER BY, rounding. */
object ScaleOracles {

  val ngramDecontaminate: String =
    s"""WITH ws AS (
       |  SELECT doc_id, ${TextOracles.wordsSql} AS ws
       |  FROM documents),
       |eligible AS (SELECT doc_id, ws FROM ws WHERE len(ws) >= 5),
       |pos AS (
       |  SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 4)) AS i
       |  FROM eligible),
       |grams AS (
       |  SELECT doc_id,
       |    array_to_string(list_slice(ws, CAST(i AS INT), CAST(i AS INT) + 4), ' ') AS g
       |  FROM pos),
       |bench AS (
       |  SELECT DISTINCT g FROM grams WHERE ${graft.GoldenHash.isTestDocSql})
       |SELECT t.doc_id,
       |  count(DISTINCT t.g) AS n_grams_hit,
       |  count(*) AS n_positions
       |FROM grams t JOIN bench b ON t.g = b.g
       |WHERE ${graft.GoldenHash.isTrainDocSql.replace("doc_id", "t.doc_id")}
       |GROUP BY 1
       |ORDER BY t.doc_id""".stripMargin

  /** Same multiplicative-hash rank and per-source row_number cap as
    * [[ScaleOps.sourceCap]] — plain modular BIGINT algebra, so both
    * engines rank identically with no pinned artifact.
    */
  val sourceCap: String =
    s"""SELECT doc_id, source,
       |  CAST(sample_rank AS INT) AS sample_rank
       |FROM (
       |  SELECT doc_id, source,
       |    row_number() OVER (PARTITION BY source
       |      ORDER BY (doc_id * ${ScaleOps.CapHashPrime}) % ${ScaleOps.CapHashMod}, doc_id)
       |      AS sample_rank
       |  FROM documents)
       |WHERE sample_rank <= ${ScaleOps.SourceCapN}
       |ORDER BY doc_id""".stripMargin

  /** Same distinct-8-gram construction as
    * [[ScaleOps.boilerplateNgrams]] (the [[ngramDecontaminate]] slice
    * idiom), hot set re-derived with the same ≥ min-docs threshold.
    */
  val boilerplateNgrams: String =
    s"""WITH ws AS (
       |  SELECT doc_id, ${TextOracles.wordsSql} AS ws
       |  FROM documents),
       |eligible AS (SELECT doc_id, ws FROM ws WHERE len(ws) >= ${ScaleOps.BoilerN}),
       |pos AS (
       |  SELECT doc_id, ws,
       |    unnest(generate_series(1, len(ws) - ${ScaleOps.BoilerN - 1})) AS i
       |  FROM eligible),
       |grams AS (
       |  SELECT DISTINCT doc_id,
       |    array_to_string(list_slice(ws, CAST(i AS INT),
       |      CAST(i AS INT) + ${ScaleOps.BoilerN - 1}), ' ') AS g
       |  FROM pos),
       |hot AS (
       |  SELECT g FROM grams GROUP BY g
       |  HAVING count(*) >= ${ScaleOps.BoilerMinDocs}),
       |per_doc AS (
       |  SELECT doc_id, count(*) AS n_grams FROM grams GROUP BY 1),
       |boiler AS (
       |  SELECT gr.doc_id, count(*) AS n_boilerplate
       |  FROM grams gr JOIN hot h ON gr.g = h.g
       |  GROUP BY 1)
       |SELECT p.doc_id,
       |  p.n_grams,
       |  CAST(COALESCE(b.n_boilerplate, 0) AS BIGINT) AS n_boilerplate,
       |  round(CAST(COALESCE(b.n_boilerplate, 0) AS DOUBLE) / p.n_grams, 4)
       |    AS boilerplate_ratio
       |FROM per_doc p LEFT JOIN boiler b USING (doc_id)
       |ORDER BY p.doc_id""".stripMargin

  val userDeciles: String = {
    val cutDefs = (1 to 9)
      .map(k => s"round(quantile_cont(n_events, 0.$k), 4) AS c$k").mkString(",\n      |    ")
    val bucket = (1 to 9)
      .map(k => s"CASE WHEN n_events > c$k THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH counts AS (
       |  SELECT user_id, count(*) AS n_events FROM events GROUP BY 1),
       |cuts AS (
       |  SELECT $cutDefs
       |  FROM counts)
       |SELECT ($bucket) AS decile,
       |  count(*) AS n_users,
       |  CAST(sum(n_events) AS BIGINT) AS total_events,
       |  min(n_events) AS min_events,
       |  max(n_events) AS max_events
       |FROM counts, cuts
       |GROUP BY 1
       |ORDER BY decile""".stripMargin
  }

  /** Exact counterpart of [[ScaleOps.heavyHittersExact]]: the
    * guaranteed-heavy set is {keys with true count · capacity > N},
    * which the sketch must emit with exact est / zero err in the
    * cardinality ≤ capacity regime — so a plain GROUP BY … HAVING
    * reproduces it bit-for-bit.
    */
  val heavyHittersExact: String =
    s"""SELECT event_type, count(*) AS n_events
       |FROM events
       |GROUP BY event_type
       |HAVING count(*) * ${ScaleOps.HhCapacity} > (SELECT count(*) FROM events)
       |ORDER BY n_events DESC, event_type""".stripMargin

  /** [[ScaleOps.heavyHittersSound]]: counter count recomputed exactly,
    * the bracket-theorem boolean pinned at TRUE.
    */
  val heavyHittersSound: String =
    s"""SELECT least(count(DISTINCT user_id), ${ScaleOps.HhCapacity}) AS n_tracked,
       |  TRUE AS brackets_hold
       |FROM events""".stripMargin

  val skewProfile: String =
    """WITH counts AS (
      |  SELECT user_id, count(*) AS cnt FROM events GROUP BY 1)
      |SELECT count(*) AS n_keys,
      |  CAST(sum(cnt) AS BIGINT) AS n_rows,
      |  max(cnt) AS max_cnt,
      |  round(avg(cnt), 4) AS avg_cnt,
      |  round(quantile_cont(cnt, 0.5), 4) AS p50_cnt,
      |  round(quantile_cont(cnt, 0.99), 4) AS p99_cnt,
      |  round(max(cnt) / avg(cnt), 4) AS skew_ratio
      |FROM counts""".stripMargin

  private val dotSql =
    """list_sum(list_transform(list_zip(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), x -> x[1] * x[2]))"""

  val mipsTopK: String =
    s"""WITH scored AS (
       |  SELECT a.vec_id AS query_id, b.vec_id AS vec_id,
       |    $dotSql AS dot
       |  FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
       |  WHERE a.vec_id < 5),
       |ranked AS (
       |  SELECT query_id, vec_id, dot,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY round(dot, 9) DESC, vec_id) AS INT) AS rank
       |  FROM scored)
       |SELECT query_id, rank, vec_id, round(dot, 4) AS dot_product
       |FROM ranked
       |WHERE rank <= 3
       |ORDER BY query_id, rank""".stripMargin

  val bloomDecontaminate: String =
    s"""SELECT doc_id, source, n_chars FROM documents
       |WHERE ${graft.GoldenHash.isTrainDocSql}
       |  AND md5(text) NOT IN (
       |    SELECT md5(text) FROM documents WHERE ${graft.GoldenHash.isTestDocSql})
       |ORDER BY doc_id""".stripMargin

  val fullOuterCompare: String =
    """WITH d1 AS (
      |  SELECT user_id, count(*) AS n_day1 FROM events
      |  WHERE CAST(date_trunc('day', ts) AS DATE) = DATE '2024-01-01' GROUP BY 1),
      |d2 AS (
      |  SELECT user_id, count(*) AS n_day2 FROM events
      |  WHERE CAST(date_trunc('day', ts) AS DATE) = DATE '2024-01-02' GROUP BY 1)
      |SELECT coalesce(d1.user_id, d2.user_id) AS user_id,
      |  coalesce(n_day1, 0) AS n_day1,
      |  coalesce(n_day2, 0) AS n_day2,
      |  coalesce(n_day2, 0) - coalesce(n_day1, 0) AS delta,
      |  CASE WHEN d1.user_id IS NULL THEN 'new'
      |       WHEN d2.user_id IS NULL THEN 'churned'
      |       ELSE 'retained' END AS status
      |FROM d1 FULL OUTER JOIN d2 ON d1.user_id = d2.user_id
      |ORDER BY user_id""".stripMargin

  val valueHistogram: String =
    """SELECT CAST(floor(value / 25.0) * 25 AS INT) AS bin_lo,
      |  count(*) AS n_events,
      |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) / 100e0 AS total_value
      |FROM events
      |WHERE value IS NOT NULL
      |GROUP BY 1
      |ORDER BY bin_lo""".stripMargin

  val dataMixture: String =
    s"""WITH w AS (
      |  SELECT doc_id, source,
      |    250 + (CAST(substring(source, 4) AS INT) % 8) * 250 AS w_pm,
      |    ${graft.GoldenHash.bucketSql("doc_id", 1000)} AS bucket
      |  FROM documents),
      |n AS (
      |  SELECT doc_id, source,
      |    CAST(floor(w_pm / 1000) AS INT)
      |      + CASE WHEN bucket < w_pm % 1000 THEN 1 ELSE 0 END AS n_copies
      |  FROM w)
      |SELECT doc_id, source,
      |  CAST(unnest(generate_series(1, n_copies)) AS INT) AS epoch
      |FROM n WHERE n_copies >= 1
      |ORDER BY doc_id, epoch""".stripMargin
}
