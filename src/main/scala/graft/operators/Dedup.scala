package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.Pins.FramePin

/** Deduplication operators for an LLM-training-data pipeline, over the
  * `documents` table: exact (hash groupBy), MinHash+LSH banding, SimHash,
  * and exact n-gram Jaccard (the verification primitive the fuzzy
  * methods candidate-generate for).
  *
  * Scale design (the part that matters at 100 TB):
  *   - exact dedup is one hash-partitioned aggregate on the content key —
  *     shuffle carries (key → min id), not documents;
  *   - MinHash/LSH never compares all pairs: candidates come from
  *     equality joins on band keys (shuffle on band hash, bucket sizes
  *     bounded by band width), then only candidates pay the exact-Jaccard
  *     verification;
  *   - exact n-gram Jaccard is *blocked* on (lang, n_chars) equality —
  *     an equality join on the shingle, never a cross product. The
  *     unblocked version is intentionally absent: at scale you always
  *     candidate-generate first (MinHash) and verify second;
  *   - everything is hash-based (xxhash64, built-in, codegen'd) — no
  *     UDFs, no driver-side state.
  */
object Dedup {

  /** Exact dedup: canonical (minimum) doc_id per identical text +
    * multiplicity. The group key is `sha2(text, 256)` — a 64-char
    * digest — not the raw text: partial aggregation collapses
    * duplicates map-side either way, but the shuffle key must not be
    * the full document body at 100 TB (VERDICT r17 finding 2). DuckDB
    * replays the identical digest via `sha256(text)`, and identical
    * texts hash identically in both engines, so the grouping — and
    * therefore the output — is unchanged (the at-rest incremental
    * probe's exact-dup sidecar in [[writeDedupIndex]] already keys on
    * the same digest).
    */
  def dedupExact(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(sha2(col("text"), 256))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
      .select(col("doc_id"), col("n_copies"))
      .orderBy(col("doc_id"))

  /** Exact distinct counts over events — the precise counterpart of
    * [[approxDistinct]].
    */
  def exactDistinct(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .agg(
        countDistinct(col("user_id")).as("n_users"),
        countDistinct(col("event_type")).as("n_types"),
        countDistinct(date_trunc("day", col("ts"))).as("n_days"))

  /** HLL++ approximate distinct (built-in `approx_count_distinct`,
    * mergeable partial sketches — constant memory per partition, one
    * tiny shuffle). No oracle: DuckDB's HLL differs; driver records a
    * rows-only check, the ScalaTest spec bounds the relative error
    * against [[exactDistinct]].
    */
  def approxDistinct(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .agg(
        approx_count_distinct(col("user_id")).as("approx_users"),
        approx_count_distinct(col("event_id")).as("approx_events"),
        count(lit(1)).as("n_rows"))

  /** Invariant-check companion of [[approxDistinct]] (the PCA-norm
    * oracle technique applied to the HLL sketch): one pass computes
    * BOTH the sketch estimate and the exact distinct count, and the
    * query emits the exact counts plus per-column booleans asserting
    * the estimate sits within 10% relative error — 2× the sketch's
    * configured rsd (5%), the same bound DedupSpec uses; measured
    * actuals are 0.7-6.7% across sf0.001-0.1. HLL++ is a
    * deterministic function of the input set (no RNG), so the booleans
    * are stable across runs; the DuckDB oracle reproduces the exact
    * counts and pins the booleans at TRUE — a hash-exact gate on the
    * sketch's error CONTRACT where the estimate itself (engine-
    * specific register layout) cannot be cross-engine matched. The
    * sketch query proper stays rows-only by declared contract.
    */
  def approxDistinctCheck(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .agg(
        approx_count_distinct(col("user_id")).as("au"),
        countDistinct(col("user_id")).as("n_users"),
        approx_count_distinct(col("event_id")).as("ae"),
        countDistinct(col("event_id")).as("n_events"))
      .select(col("n_users"), col("n_events"),
        (abs(col("au") - col("n_users")) <= col("n_users") * 0.1)
          .as("users_within_10pct"),
        (abs(col("ae") - col("n_events")) <= col("n_events") * 0.1)
          .as("events_within_10pct"))

  /** Sketch MERGE across partitions — the way a 100 TB deployment
    * actually counts distincts: per-DAY DataSketches HLL sketches built
    * where the data lives, unioned at query time into the weekly
    * estimate (`hll_sketch_agg` → `hll_union_agg` →
    * `hll_sketch_estimate`). The at-rest form is a tiny sketch column
    * per (type, day) partition; re-aggregating a month, a quarter, or
    * ad-hoc slices never rescans rows. Rows-only by the sketch
    * contract ([[approxDistinct]]'s stance); [[hllMergeCheck]] is the
    * oracle-checked error-contract companion.
    */
  def hllMerge(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        hll_sketch_estimate(hll_union_agg(col("sk"))).as("approx_weekly_users"))
      .orderBy(col("event_type"))

  /** Invariant companion of [[hllMerge]] (the [[approxDistinctCheck]]
    * technique): one pass computes the MERGED estimate, the DIRECT
    * single-sketch estimate, and the exact distinct count per type;
    * emits the exact counts plus booleans pinning (a) both estimates
    * within 10% of exact and (b) merge-vs-direct agreement within 2% —
    * the mergeability contract itself (measured: identical at low
    * cardinality where HLL runs sparse-exact, 0.2% apart at the sf1
    * rehearsal's 15k users). DataSketches HLL is deterministic, so the
    * booleans are stable and the DuckDB oracle pins them TRUE beside
    * its own exact counts.
    */
  def hllMergeCheck(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val merged = ev
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
      .groupBy(col("event_type"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("m"))
    val direct = ev.groupBy(col("event_type"))
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"))).as("dd"),
        countDistinct(col("user_id")).as("exact_users"))
    merged.join(direct, "event_type")
      .select(col("event_type"), col("exact_users"),
        (abs(col("m") - col("exact_users")) <= col("exact_users") * 0.1)
          .as("merged_within_10pct"),
        (abs(col("dd") - col("exact_users")) <= col("exact_users") * 0.1)
          .as("direct_within_10pct"),
        (abs(col("m") - col("dd")) <= col("exact_users") * 0.02)
          .as("merge_agrees_direct_2pct"))
      .orderBy(col("event_type"))
  }

  // --- MinHash + LSH banded dedup -------------------------------------
  //
  // The fixture corpus (and any real crawl) contains GIANT near-dup
  // clusters — at sf0.1 ~35% of ALL doc pairs exceed the 0.5 Jaccard
  // threshold (template-generated variants). Any design that
  // materializes candidate *pairs* is therefore quadratic in cluster
  // size and dies at scale (an earlier pair-based formulation timed out
  // sf0.1 verification). This one never builds doc-doc pairs:
  //
  //   32 minhashes + gram set per doc (one fused native pass, no
  //   shingle rows) → 16 bands × 2 rows → per-bucket STAR EDGES
  //   (bucket-min doc → each other member; ≤ docs × bands edges,
  //   linear) → per-edge exact char-3 Jaccard verification
  //   (merge-intersect of the prebuilt sorted gram sets) → min-label
  //   propagation over verified edges → per-doc canonical id.
  //
  // Star connectivity equals clique connectivity through the bucket
  // minimum, so cluster recall is preserved; the precision tradeoff is
  // that a member whose similarity to the bucket-min is sub-threshold
  // is cut even if it is similar to another member — acceptable in
  // dense-dup corpora where cluster members are mutually similar, and
  // the chain spec pins the multi-hop behavior that survives.

  /** Per-document MinHash index: ONE fused native pass per document
    * ([[graft.functions.MinhashSignature]] / [[graft.functions.GramSet]])
    * producing the 32 minhash signatures and the sorted distinct packed
    * 3-gram set, materialized once (localCheckpoint) and consumed by
    * band-key generation, candidate rollup, and edge verification.
    *
    * This is a pure per-row map — no shingle rows are ever created. The
    * earlier pipeline exploded one row per (doc, shingle) — millions of
    * rows through an object-hash aggregation, the dominant cost of the
    * whole query — where this computes the same index inside the scan's
    * whole-stage codegen. Gram ids are injective 48-bit packings of the
    * 3 UTF-16 units, so the verification Jaccard is EXACT char-3-gram
    * Jaccard (no hashed-shingle collision caveat; see [[graft.functions.GramHash]]).
    *
    * 32 minhashes in 16 bands × 2 rows: per-pair candidate probability
    * at the 0.5 Jaccard verification threshold is 1-(1-0.25)^16 ≈ 0.99
    * (vs ≈ 0.90 for the earlier 8 × 2), which is what lifts end-to-end
    * component recall above 0.9 against exact connected components
    * (DedupSpec). Bands stay 2 rows wide so buckets remain tight —
    * star edges link members to the bucket MINIMUM, so recall depends
    * on bucket-mates actually being similar; wide permissive buckets
    * (1-row bands) would fail edge verification at the bucket min and
    * lose the member entirely.
    *
    * Texts shorter than 3 chars have no grams, hence no buckets and no
    * edges (ADVICE r1 semantics) — filtered here; they keep their own
    * canonical id through the label initialization in [[minhashDedup]].
    * The repartition spreads the signature map across cores even when
    * the input is one small parquet split (the fixture shape); at 100 TB
    * the scan arrives already split and the repartition is moot-to-cheap
    * relative to the map it parallelizes.
    */
  private[operators] val MinhashH = 32
  private[graft] val MinhashBands = 16

  /** The fixture-table index is cached per (session, sfDir) — a dedup
    * index, like the IVF index and the PCA fit, is built once per corpus
    * version and probed by every consumer ([[minhashDedup]],
    * [[minhashDecontaminate]]); repeat invocations must not re-pay the
    * fused signature pass. At 100 TB this cache IS the at-rest bucketed
    * index of [[writeDedupIndex]]; the in-memory checkpoint is the
    * local stand-in.
    */
  private val indexCache = graft.Pins.session[String, DataFrame]()

  private[operators] def minhashIndex(s: SparkSession, d: String): DataFrame =
    indexCache.getOrBuild(s, d)(minhashIndexOf(Tables.documents(s, d)))

  /** Pin the full-corpus (doc_id, bands, grams) artifact without running
    * a dedup query — consumers whose ORACLE replays banding/verification
    * from the artifact ([[TrainingPrep.corpusPrepDelta]]) call this to
    * guarantee the pin regardless of query execution order in a session.
    */
  private[operators] def ensureMinhashPinned(s: SparkSession, d: String): Unit =
    pinMinhashIndex(s, d, minhashIndex(s, d))

  /** Per-doc dedup index (signatures + sorted gram hashes) for any
    * (doc_id, text) frame — the table-agnostic core of [[minhashIndex]].
    */
  private[graft] def minhashIndexOf(docs: DataFrame): DataFrame = {
    graft.functions.Registry.ensure(docs.sparkSession)
    graft.Tables.scanSpread(docs, col("doc_id"))
      .select(col("doc_id"),
        graft.functions.TextHashFunctions.minhashSigs(col("text"), MinhashH).as("sigs"),
        graft.functions.TextHashFunctions.gramSet(col("text")).as("grams"))
      // "no grams" in the SAME unit the gram machinery uses (UTF-16
      // code units, GramHash): sigs is empty ⇔ gram count is zero. A
      // Spark length() pre-filter counted code points and diverged on
      // supplementary characters (ADVICE r3); filtering on the computed
      // signature is unit-identical by construction, and gramless rows
      // cost nothing to compute.
      .filter(size(col("sigs")) > 0)
      .pin("one row per doc (sigs+grams) — the per-corpus-version index; at rest this is writeDedupIndex's bucketed table")
  }

  /** The 16 band keys as one positional array (band id = position,
    * key = xxhash of the band's `rowsPerBand` signature elements) —
    * shared by [[minhashBanded]] and the oracle artifact, which unnests
    * the same array positionally in DuckDB.
    */
  private def bandKeyArray: Column = {
    val rowsPerBand = MinhashH / MinhashBands
    array((0 until MinhashBands).map { b =>
      val cols = (b * rowsPerBand until (b + 1) * rowsPerBand)
        .map(h => element_at(col("sigs"), h + 1))
      xxhash64(cols: _*)
    }: _*)
  }

  /** (doc, ng, band, bucket-key) assignments derived from
    * [[minhashIndex]]. `ng` — the doc's gram-set cardinality — rides
    * every banded row so the size-ratio prefilter (VERDICT r14 item 2)
    * is available to candidate generation WITHOUT a count-sidecar join:
    * J(A,B) ≥ 0.5 requires min(|A|,|B|)/max(|A|,|B|) ≥ 0.5 (|A∩B| ≤
    * min, |A∪B| ≥ max), so pairs failing the integer test
    * `least·2 ≥ greatest` can be dropped before any gram ARRAY attaches
    * or shuffles — result-invariant by the bound, mirrored in every
    * verify-replaying oracle CTE.
    */
  private[operators] def minhashBanded(index: DataFrame): DataFrame =
    index.select(col("doc_id"), size(col("grams")).as("ng"),
      posexplode(bandKeyArray).as(Seq("band", "key")))

  /** Candidate edges per bucket: STAR (bucket-min → each member, hub
    * keeps the propagation diameter ~2) plus PATH (each member → its
    * doc_id-successor in the bucket). Both are linear in docs × bands —
    * never a within-bucket cross product. The path edges exist for
    * RECALL: star-only candidate generation loses a member whenever the
    * bucket minimum happens not to verify against it (sub-threshold
    * similarity to the hub), even though a true near-dup sits right
    * beside it in the same bucket; the neighbor edge gives every member
    * a second, locality-biased verification chance, and the hub still
    * short-circuits label propagation for everything it does verify.
    */
  private[operators] def candidateEdges(banded: DataFrame): DataFrame = {
    // ONE ordered window produces both edge families — the running
    // first_value IS the bucket minimum (ascending order) and lag gives
    // the id-predecessor — so the whole construction is a single
    // shuffle on (band, key) plus the dedup exchange. The earlier
    // aggregate-join-lag formulation reshuffled the banded rows three
    // times for the identical edge set.
    // When the banded frame carries `ng` (gram counts — [[minhashBanded]]
    // does; the multimodal phash flow does not), each endpoint's count
    // rides the SAME window as its id, so the size-ratio prefilter's
    // inputs (na, nb) come out of candidate generation for free — no
    // count-sidecar join, and the `distinct()` cardinality is unchanged
    // (counts are functions of the ids).
    val w = Window.partitionBy(col("band"), col("key")).orderBy(col("doc_id"))
    if (banded.columns.contains("ng"))
      banded
        .select(col("doc_id"), col("ng"),
          first(col("doc_id")).over(w).as("bmin"),
          first(col("ng")).over(w).as("ng_min"),
          lag(col("doc_id"), 1).over(w).as("prev"),
          lag(col("ng"), 1).over(w).as("ng_prev"))
        .select(explode(array(
          struct(col("bmin").as("doc_a"), col("doc_id").as("doc_b"),
            col("ng_min").as("na"), col("ng").as("nb")),
          struct(col("prev").as("doc_a"), col("doc_id").as("doc_b"),
            col("ng_prev").as("na"), col("ng").as("nb")))).as("e"))
        .select(col("e.doc_a"), col("e.doc_b"), col("e.na"), col("e.nb"))
        .filter(col("doc_a").isNotNull && col("doc_a") =!= col("doc_b"))
        .distinct()
    else
      banded
        .select(col("doc_id"),
          first(col("doc_id")).over(w).as("bmin"),
          lag(col("doc_id"), 1).over(w).as("prev"))
        .select(explode(array(
          struct(col("bmin").as("doc_a"), col("doc_id").as("doc_b")),
          struct(col("prev").as("doc_a"), col("doc_id").as("doc_b")))).as("e"))
        .select(col("e.doc_a"), col("e.doc_b"))
        .filter(col("doc_a").isNotNull && col("doc_a") =!= col("doc_b"))
        .distinct()
  }

  /** The size-ratio candidate prefilter (VERDICT r14 item 2): J ≥ 0.5
    * implies 2·min(|A|,|B|) ≥ max(|A|,|B|), so this integer predicate
    * drops pairs that CANNOT verify before any gram array is attached —
    * result-invariant, mirrored in the oracle CTEs
    * ([[DedupOracles.sizeRatioSql]]).
    */
  private[operators] def sizeRatioOk(na: Column, nb: Column): Column =
    least(na, nb) * 2 >= greatest(na, nb)

  /** Artifact paths shared by [[minhashDedup]] and its DuckDB oracle
    * (the [[SimhashSigsPath]] pattern): the Spark query MATERIALIZES the
    * per-doc band assignments and sorted gram sets here and derives
    * everything downstream from the artifacts, and the oracle
    * `read_parquet`s the same files — so star+path candidate
    * generation, exact-Jaccard verification, connected components
    * (a recursive CTE in DuckDB vs the propagation loop here), and the
    * candidate-degree rollup are all independently recomputed by DuckDB
    * over byte-identical inputs. Only the hashes themselves (xxhash
    * band keys, packed-gram ids) are engine-specific, which is exactly
    * why they are pinned as data rather than recomputed.
    */
  val MinhashIndexPath: String = graft.Pins.artifact("minhash_index")

  /** Pin the per-doc band-key/gram-set index for the oracles — shared by
    * every query that consumes it ([[minhashDedup]],
    * [[minhashDecontaminate]]): whichever runs first in a session pays
    * the one write job ([[graft.Pins.writeArtifact]]).
    */
  private def pinMinhashIndex(s: SparkSession, d: String, index: DataFrame): Unit =
    graft.Pins.writeArtifact(s, d, "minhash_index") {
      index.select(col("doc_id"), bandKeyArray.as("bands"), col("grams"))
        .write.mode("overwrite").parquet(MinhashIndexPath)
    }

  def minhashDedup(s: SparkSession, d: String): DataFrame = {
    graft.functions.Registry.ensure(s)
    // one checkpointed per-doc index (signatures + sorted gram hashes)
    // serves band keys, the degree rollup, AND edge verification; the
    // per-doc band-key array + gram set are ALSO materialized to
    // parquet in ONE write job for the oracle, which replays every
    // downstream step over them. The engine keeps consuming the
    // in-memory checkpointed copies (a read-back of the artifact
    // measured +1.5 s of pure parquet decode at sf0.1; two separate
    // artifact writes measured +0.5 s over this single one); both are
    // the same deterministic function of the same checkpoint, so the
    // pinned bytes and the consumed rows are identical by construction.
    // Repeat invocations in one session (bench min-of-2) skip the
    // artifact write: it is a deterministic function of the fixture
    // table, so only the first invocation pays the write job.
    val index = minhashIndex(s, d)
    pinMinhashIndex(s, d, index)
    val banded = minhashBanded(index)
    val labels = nearDupLabels(
      Tables.documents(s, d).select(col("doc_id").as("id")), index)

    // bucket-mate degree (linear rollup, not a pair count): the bucket
    // size attaches to every member in ONE unordered window over the
    // same (band, key) partitioning — the aggregate+join-back form
    // reshuffled banded a second time for the identical result
    val nCand = banded
      .withColumn("bsz", count(lit(1)).over(
        Window.partitionBy(col("band"), col("key"))))
      .groupBy(col("doc_id")).agg(sum(col("bsz") - 1).as("n_candidates"))

    labels
      .join(nCand, Seq("doc_id"), "left")
      .select(col("doc_id"),
        col("label").as("kept_doc_id"),
        (col("label") =!= col("doc_id")).as("is_duplicate"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"))
      .orderBy(col("doc_id"))
  }

  /** Verified near-dup component labels (doc_id, label) for any indexed
    * frame — the label chain of [[minhashDedup]], extracted so
    * [[splitLeakageFree]] serves the SAME clustering (shared-body
    * stance: the split can never drift from the oracle-verified
    * labels).
    *
    * Exact-Jaccard verification runs on candidate edges only: cost and
    * shuffle are O(docs × bands), independent of cluster sizes. Each
    * edge pays one merge-intersect over the two PRE-BUILT sorted
    * gram-hash arrays (SortedLongJaccard) — the string formulation
    * re-shingled both texts per edge, which for high-degree bucket
    * minima rebuilt the same gram set hundreds of times.
    *
    * Labels are convergent min-label propagation over the verified
    * edges — [[Graph.components]], the auto-selecting operator the
    * propagation loop was extracted into (see its scaladoc for the
    * convergence, cap, and checkpoint arguments; the star hub keeps
    * real dup clusters at diameter ~2, so the propagation probe
    * converges without escalating here, and DedupSpec plants a
    * diameter-5 chain to pin full collapse — VERDICT r6 item 5; an
    * adversarially deep cluster would now escalate to the star
    * rewrite instead of paying rounds ∝ diameter). Propagation runs
    * over the FULL vertex set rather than the edge-vertex subgraph:
    * measured on this dup-dense corpus the subgraph restriction costs
    * ~1 s of distinct + re-join for nothing; at sparse dup rates the
    * restriction is the right call and is a one-line change at the
    * `vertices` argument.
    */
  private[graft] def nearDupLabels(vertices: DataFrame, index: DataFrame): DataFrame = {
    // size-ratio prefilter BEFORE the gram arrays attach: the counts
    // rode the candidate window ([[candidateEdges]]' ng carry), so
    // impossible pairs die here without shuffling a single array —
    // on a production-shaped corpus this prunes most of the candidate
    // tail (VERDICT r14 item 2); dup-dense fixtures mostly pass it.
    val cand = candidateEdges(minhashBanded(index))
      .filter(sizeRatioOk(col("na"), col("nb")))
      .select(col("doc_a"), col("doc_b"))
    val grams = index.select(col("doc_id"), col("grams"))
    val verified = cand
      .join(grams.select(col("doc_id").as("doc_a"), col("grams").as("ga")), Seq("doc_a"))
      .join(grams.select(col("doc_id").as("doc_b"), col("grams").as("gb")), Seq("doc_b"))
      .filter(graft.functions.NgramJaccardFunctions.jaccardGate(col("ga"), col("gb"), 0.5) >= 0.5)
      .select(col("doc_a"), col("doc_b"))
    Graph.components(vertices,
        verified.select(col("doc_a").as("src"), col("doc_b").as("dst")))
      .select(col("id").as("doc_id"), col("component").as("label"))
  }

  /** Leakage-free train/val split (`q_split_leakage_free`): split
    * membership is assigned per verified NEAR-DUP COMPONENT, never per
    * document — no near-dup pair can straddle train/val. This is the
    * standard companion to the decontamination family and exists for
    * the same reason [[minhashDecontaminate]] does: a per-doc split
    * rule leaks PARAPHRASES of validation documents into training even
    * when no exact text crosses the line. The val slice is the ~10% of
    * CLUSTERS whose canonical label lands in golden bucket 0 — the
    * [[graft.GoldenHash.isTestDoc]] rule lifted from doc_id to the
    * component label, so singleton docs keep their familiar assignment
    * and every dup rides with its cluster's canonical doc.
    *
    * Scale shape: everything through the labels is the shared linear
    * dedup chain ([[nearDupLabels]] — star+path candidates, never a
    * within-bucket product); the split itself is a scan-stage CASE on
    * the label with NO additional shuffle or join.
    */
  def splitLeakageFree(s: SparkSession, d: String): DataFrame = {
    graft.functions.Registry.ensure(s)
    val index = minhashIndex(s, d)
    pinMinhashIndex(s, d, index)
    nearDupLabels(Tables.documents(s, d).select(col("doc_id").as("id")), index)
      .select(col("doc_id"), col("label").as("cluster_id"),
        when(graft.GoldenHash.bucket(col("label"), 10) === 0, lit("val"))
          .otherwise(lit("train")).as("split"))
      .orderBy(col("doc_id"))
  }

  /** The split column for a component-label column — THE one rule
    * shared by [[splitLeakageFree]] and [[splitAssignDelta]].
    */
  private def splitOfLabel(label: Column): Column =
    when(graft.GoldenHash.bucket(label, 10) === 0, lit("val")).otherwise(lit("train"))

  /** At-rest split assignment (labels + split), cached per (session,
    * corpus): this IS the stored split table a deployment keeps beside
    * the corpus — [[splitAssignDelta]] treats it as the frozen at-rest
    * artifact exactly as the admission loop treats the dedup index
    * (computed once per corpus version, probed per batch).
    */
  private val atRestSplitCache = graft.Pins.session[String, DataFrame]()
  private def atRestSplit(s: SparkSession, d: String): DataFrame =
    atRestSplitCache.getOrBuild(s, d) {
      val isDelta = graft.GoldenHash.bucket(col("doc_id"), 20) === 7
      val atRest = Tables.documents(s, d).filter(!isDelta)
      nearDupLabels(atRest.select(col("doc_id").as("id")),
          minhashIndex(s, d).filter(graft.GoldenHash.bucket(col("doc_id"), 20) =!= 7))
        .select(col("doc_id"), col("label"), splitOfLabel(col("label")).as("split"))
        .pin("one row per at-rest doc — the stored split-table stand-in")
    }

  /** Incremental split assignment (`q_split_assign_delta`) — the
    * admission-loop sibling of [[splitLeakageFree]]: when a NEW batch
    * arrives (the standard `bucket(doc_id,20)=7` delta slice), each
    * batch document must join the split its near-dup cluster already
    * lives in — a paraphrase of a val document arriving a week later
    * must NOT land in train, which is exactly the leak a per-doc hash
    * rule (or re-running the full split from scratch at a different
    * corpus version) silently creates.
    *
    * Rule, per BATCH COMPONENT (batch-internal near-dup components,
    * [[nearDupLabels]] over the batch alone — two batch docs that are
    * near-dups of each other must co-assign even when only one of them
    * matches at rest): the ANCHOR is the minimum at-rest doc any member
    * verifies against through the bucketed-index probe
    * ([[incrementalNearDups]] — candidates ∝ batch, the at-rest side
    * never reshuffles); an anchored component inherits the anchor's
    * at-rest cluster split, an unanchored one hashes its own label
    * (which equals what [[splitLeakageFree]] would assign it on the
    * next full run, since a fresh unmatched cluster keeps its minimum
    * id as label).
    *
    * Scale shape: the at-rest labels are the frozen stored split
    * ([[atRestSplit]], computed once per corpus version); steady-state
    * per-batch cost is probe ∝ batch + a batch-sized component run +
    * broadcast joins of batch-component-bounded frames.
    */
  def splitAssignDelta(s: SparkSession, d: String): DataFrame = {
    graft.functions.Registry.ensure(s)
    val isDelta = graft.GoldenHash.bucket(col("doc_id"), 20) === 7
    val docs = Tables.documents(s, d)
    val index = minhashIndex(s, d)
    pinMinhashIndex(s, d, index)
    TrainingPrep.ensureDeltaArtifacts(s, d)
    // the batch's signature rows already live in the cached corpus
    // index — filter them out instead of re-scanning batch text twice
    // (once for labels, once for the probe)
    splitAssignDeltaCore(s, docs.filter(isDelta), atRestSplit(s, d),
      "deltadx", Some(index.filter(isDelta)))
  }

  /** Frame-parametric core of [[splitAssignDelta]] (specs plant
    * batches against their own bucketed index): `atSplit` is the
    * frozen (doc_id, label, split) at-rest assignment, `prefix` the
    * bucketed at-rest index the probe runs against. The batch's
    * signature index is derived here (cost ∝ batch) unless the caller
    * already holds one.
    */
  private[graft] def splitAssignDeltaCore(s: SparkSession, batch: DataFrame,
      atSplit: DataFrame, prefix: String,
      batchIdx: Option[DataFrame] = None): DataFrame = {
    val idx = batchIdx.getOrElse(
      minhashIndexOf(batch.select(col("doc_id"), col("text"))))
    val bLabels = nearDupLabels(batch.select(col("doc_id").as("id")), idx)
    // matches is batch-bounded (one row per matched batch doc) — an
    // explicit broadcast, or the unknown aggregate estimate falls back
    // to a sort-merge join of two tiny frames (r21 plan audit)
    val matches = incrementalNearDupsIdx(s, idx, prefix)
    // per batch component: minimum verified at-rest anchor over members.
    // Pinned once (r21): inh feeds BOTH the anchored lookup and the
    // at-rest prune semi join, and unpinned the whole incremental-probe
    // subtree (band join + candidate aggregate + gram verification) was
    // re-planned and re-run per reference — 2× the probe per query.
    val inh = bLabels
      .join(broadcast(matches.select(col("doc_id"), col("dup_of"))),
        Seq("doc_id"), "left")
      .groupBy(col("label")).agg(min(col("dup_of")).as("anchor"))
      .pin("one row per batch component")
    // anchors ∝ batch components: prune the at-rest split table by a
    // broadcast semi join, then the lookup join is broadcast-small
    val needed = atSplit
      .select(col("doc_id").as("anchor"), col("split").as("a_split"))
      .join(broadcast(inh.select(col("anchor")).filter(col("anchor").isNotNull).distinct()),
        Seq("anchor"), "left_semi")
    val anchored = inh.join(broadcast(needed), Seq("anchor"), "left")
      .select(col("label"),
        col("anchor"),
        coalesce(col("a_split"), splitOfLabel(col("label"))).as("split"))
    bLabels.join(broadcast(anchored), Seq("label"))
      .select(col("doc_id"), col("label").as("batch_cluster"),
        col("anchor").as("anchor_doc"), col("split"))
      .orderBy(col("doc_id"))
  }

  /** Split-stability audit across a corpus version bump
    * (`q_split_drift`) — the governance query that quantifies the one
    * risk the incremental assignment path deliberately carries:
    * [[splitAssignDelta]] NEVER reassigns at-rest documents (stable
    * splits are the point), but a delta BRIDGE document that near-dups
    * into two different at-rest clusters merges them, and a full
    * re-run ([[splitLeakageFree]] on the grown corpus) would relabel
    * the merged cluster and may flip one side's split. This audit
    * reports every at-rest document whose cluster or split differs
    * between the frozen at-rest assignment and the full re-run — the
    * set a deployment must either migrate or quarantine at the next
    * version bump. Composition of two oracle-checked builders (the
    * frozen [[atRestSplit]] and [[splitLeakageFree]] as the fresh
    * side — shared bodies, so the audit cannot drift from either);
    * verified-not-benched (both constituents' chains hold bench slots
    * via q_minhash_dedup and q_split_assign_delta2's cold build).
    *
    * Scale note: this is the PER-CORPUS-VERSION audit (a full relabel
    * is inherently corpus-scale), not a per-batch probe — the same
    * amortization class as every index rebuild here.
    */
  def splitDrift(s: SparkSession, d: String): DataFrame = {
    graft.functions.Registry.ensure(s)
    val fresh = splitLeakageFree(s, d)
      .select(col("doc_id"), col("cluster_id").as("new_cluster"),
        col("split").as("new_split"))
    atRestSplit(s, d)
      .select(col("doc_id"), col("label").as("old_cluster"),
        col("split").as("old_split"))
      .join(fresh, Seq("doc_id"))
      .filter(col("old_cluster") =!= col("new_cluster") ||
        col("old_split") =!= col("new_split"))
      .select(col("doc_id"), col("old_cluster"), col("new_cluster"),
        col("old_split"), col("new_split"))
      .orderBy(col("doc_id"))
  }

  /** Persist the stored split table (doc_id, label, split) BUCKETED on
    * doc_id beside the dedup index's band/gram/digest tables — the
    * at-rest state the incremental split assignment probes and
    * [[foldSplitAssign]] grows. Bucketing on doc_id makes the
    * anchored-lookup join index-side-shuffle-free, the
    * [[writeDedupIndex]] stance applied to the split artifact.
    */
  def writeSplitTable(atSplit: DataFrame, prefix: String, buckets: Int = 8): Unit =
    graft.storage.LogStore.writeBucketed(
      atSplit.select(col("doc_id"), col("label"), col("split")),
      s"${prefix}_split", "doc_id", buckets)

  /** The fold after one batch's split assignment — the split-table
    * sibling of [[appendDedupIndex]]'s "caller's follow-up write":
    * register each assigned batch row in the stored `${prefix}_split`
    * table so the NEXT batch inherits through it. An anchored row
    * adopts its anchor's stored cluster label (later generations see
    * ONE label per merged cluster); an unanchored one registers its
    * batch label — the same label [[splitLeakageFree]] would mint for
    * a fresh cluster. The rows are materialized (localCheckpoint)
    * before the append because they are DERIVED from a read of the
    * very table being appended to. Cost ∝ batch. ONE body shared by
    * [[splitAssignDelta2]]'s generation-1 fold and the streaming twin
    * ([[graft.streaming.StreamPipelines.streamingSplitAssign]]), so
    * the served path cannot drift from the oracle-verified one.
    */
  def foldSplitAssign(s: SparkSession, assigned: DataFrame, prefix: String): Unit = {
    val cur = s.table(s"${prefix}_split")
      .select(col("doc_id").as("anchor_doc"), col("label").as("a_label"))
    val rows = assigned
      .join(cur, Seq("anchor_doc"), "left")
      .select(col("doc_id"),
        coalesce(col("a_label"), col("batch_cluster")).as("label"),
        col("split"))
      .pin("one row per batch doc")
    graft.storage.LogStore.appendBucketed(rows, s"${prefix}_split", "doc_id")
  }

  /** Second-GENERATION incremental split assignment
    * (`q_split_assign_delta2`) — the query that proves the
    * split-maintenance LOOP, completing the triad the admission loop
    * ([[TrainingPrep.corpusPrepDelta2]]) and the ANN index
    * ([[AnnMaintain]]'s second-generation probe) already prove for
    * their artifacts: batch A (the [[graft.GoldenHash]] bucket-7
    * slice) is assigned against the frozen at-rest split (buckets
    * ∉ {7, 11}), its rows are FOLDED into the stored split table —
    * an anchored A document adopts its anchor's AT-REST cluster
    * label, an unanchored one registers its batch label — and A's own
    * index rows are appended ([[appendDedupIndex]]); batch B (bucket
    * 11, the next ingest) is then assigned against the GROWN state.
    * The property only a second generation exercises: a B document
    * whose nearest near-dup is an A document must inherit the split A
    * was assigned — transitively the split of the at-rest cluster A
    * anchored to — which no single-probe run can check.
    *
    * Scale shape: generation 1 (at-rest index + split build, A's
    * assignment, the fold, the append) runs ONCE per corpus version
    * ([[graft.Pins.writeArtifact]] — an amortized batch job, like
    * every index build here); the steady state is generation 2's
    * probe, cost ∝ batch B against bucketed tables that never
    * reshuffle plus a broadcast lookup of batch-component-bounded
    * anchors. The oracle replays BOTH generations end-to-end from the
    * pinned minhash index and the documents table alone — at-rest
    * closure, A's closure + probe + inheritance, the fold, B's
    * closure + probe against at-rest ∪ A — so wrong/missing/extra
    * rows in either the fold or the append diverge the compare.
    * DedupSpec pins the transitive-inheritance chain on planted docs
    * (at-rest val cluster → A near-dup → B near-dup of A).
    */
  def splitAssignDelta2(s: SparkSession, d: String): DataFrame = {
    graft.functions.Registry.ensure(s)
    val docs = Tables.documents(s, d)
    val index = minhashIndex(s, d)
    pinMinhashIndex(s, d, index)
    val b20 = graft.GoldenHash.bucket(col("doc_id"), 20)
    graft.Pins.writeArtifact(s, d, "split2_index") {
      val atRest = b20 =!= 7 && b20 =!= 11
      writeDedupIndex(docs.filter(atRest), "split2dx")
      writeSplitTable(nearDupLabels(
          docs.filter(atRest).select(col("doc_id").as("id")),
          index.filter(atRest))
        .select(col("doc_id"), col("label"), splitOfLabel(col("label")).as("split")),
        "split2dx")
      // generation 1: assign A against the frozen state, then fold its
      // rows into the stored split table and append its index rows.
      // The assignment materializes (localCheckpoint) BEFORE either
      // write, so A's probe sees the pre-append (at-rest only) index.
      val aAssign = splitAssignDeltaCore(s, docs.filter(b20 === 7),
        s.table("split2dx_split"), "split2dx", Some(index.filter(b20 === 7)))
        .pin("one row per batch-A doc")
      foldSplitAssign(s, aAssign, "split2dx")
      appendDedupIndex(docs.filter(b20 === 7).select(col("doc_id"), col("text")),
        "split2dx")
    }
    splitAssignDeltaCore(s, docs.filter(b20 === 11), s.table("split2dx_split"),
      "split2dx", Some(index.filter(b20 === 11)))
  }

  /** Fuzzy (MinHash) benchmark decontamination — the near-duplicate
    * sibling of [[ScaleOps]]'s exact/Bloom/5-gram trio: drop-flag every
    * TRAINING document whose char-3-gram Jaccard against some BENCHMARK
    * document ([[graft.GoldenHash.isTestDoc]] split, same rule as the
    * exact variants) reaches the dedup threshold. Exact-text and 5-gram
    * overlap miss paraphrased or lightly-mutated benchmark leakage;
    * this is the gate that catches it.
    *
    * Shape: the corpus-side work is the ONE fused index pass shared
    * with [[minhashDedup]]. Candidates are LINEAR, never the within-
    * bucket train × test product (a first cut materialized that product
    * and went quadratic in bucket size on this dup-dense corpus — the
    * exact trap [[candidateEdges]]' star+path design avoids, so the
    * same construction is applied across the split): per train doc per
    * band, the bucket's MINIMUM test doc plus the nearest test docs on
    * either side in bucket id-order — ≤ 3 × bands candidates per doc,
    * each exact-verified by merge-intersect Jaccard. Like the dedup
    * star+path, this trades exhaustive bucket-pair recall for
    * linearity; a true match still gets ~3 shots in each of the ~16
    * bands it co-buckets in (the spec pins planted-leak detection).
    * Output: one row per contaminated training doc with its minimum
    * verified benchmark doc and best Jaccard.
    */
  /** Row bound under which the benchmark-side gram index broadcasts.
    * A held-out suite is fixed-size by construction (the bound that
    * lets ngramDecontaminate broadcast its gram set), but the FIXTURE's
    * test split is a corpus-proportional slice — so the broadcast is
    * GATED on a cheap count instead of taken unconditionally (ADVICE
    * r14): past the bound the plan degrades to the shuffle join rather
    * than growing an O(corpus) driver broadcast. ~200k docs × avg
    * ~150-gram arrays ≈ low hundreds of MB — inside Spark's 8 GB
    * broadcast ceiling with margin.
    */
  val DecontaminateBroadcastMaxRows: Long = 200000L

  private val decontBroadcastFits = graft.Pins.session[String, Boolean]()

  def minhashDecontaminate(s: SparkSession, d: String): DataFrame = {
    graft.functions.Registry.ensure(s)
    val index = minhashIndex(s, d)
    pinMinhashIndex(s, d, index)
    val isTest = graft.GoldenHash.isTestDoc(col("doc_id"))
    val banded = minhashBanded(index).withColumn("is_t", isTest)
    val bucket = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band"), col("key"))
    val byId = bucket.orderBy(col("doc_id"))
    val testId = when(col("is_t"), col("doc_id"))
    // size-ratio prefilter (VERDICT r14 item 2): the TRAIN side's gram
    // count rides the banded row (minhashBanded's ng carry); the TEST
    // side's attaches via a broadcast (test_id, count) sidecar — two
    // ints per held-out doc, bounded by the same argument as the gram
    // broadcast below — so impossible pairs die before any gram ARRAY
    // attaches. (A first cut carried the test counts as STRUCT window
    // values beside the ids; struct-valued running windows leave
    // whole-stage codegen and measured 3× the long-window form at the
    // sf1 rehearsal — the counts join is the cheap path.)
    val cand = banded
      .withColumn("prev_t", last(testId, ignoreNulls = true)
        .over(byId.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("next_t", first(testId, ignoreNulls = true)
        .over(byId.rowsBetween(Window.currentRow, Window.unboundedFollowing)))
      .withColumn("min_t", min(testId).over(bucket))
      .filter(!col("is_t"))
      .select(col("doc_id"), col("ng"),
        explode(array_distinct(array(col("prev_t"), col("next_t"), col("min_t"))))
          .as("test_id"))
      .filter(col("test_id").isNotNull)
      .distinct()
      .join(broadcast(index.filter(graft.GoldenHash.isTestDoc(col("doc_id")))
        .select(col("doc_id").as("test_id"), size(col("grams")).as("tn"))),
        Seq("test_id"))
      .filter(sizeRatioOk(col("ng"), col("tn")))
      .select(col("doc_id"), col("test_id"))
    val grams = index.select(col("doc_id"), col("grams"))
    // the benchmark side broadcasts only while it is provably small
    // (see [[DecontaminateBroadcastMaxRows]]); only the train-side gram
    // attach shuffles — candidate pairs never re-exchange for the test
    // arrays. Past the bound, the shuffle join is the right plan.
    val gramsTestRaw = index
      .filter(graft.GoldenHash.isTestDoc(col("doc_id")))
      .select(col("doc_id").as("test_id"), col("grams").as("gt"))
    // the bound probe is one cheap limit+count job over the checkpointed
    // index, memoized per (session, corpus) so repeat probes (bench
    // min-of-2, multi-query sessions) don't re-pay it
    val fits = decontBroadcastFits.getOrBuild(s, d)(
      gramsTestRaw.limit(DecontaminateBroadcastMaxRows.toInt + 1).count()
        <= DecontaminateBroadcastMaxRows)
    val gramsTest = if (fits) broadcast(gramsTestRaw) else gramsTestRaw
    cand
      .join(grams, Seq("doc_id"))
      .join(gramsTest, Seq("test_id"))
      .withColumn("j",
        graft.functions.NgramJaccardFunctions.jaccardGate(col("grams"), col("gt"), 0.5))
      .filter(col("j") >= 0.5)
      .groupBy(col("doc_id"))
      .agg(min(col("test_id")).as("contaminated_by"),
        round(max(col("j")), 4).as("max_jaccard"))
      .orderBy(col("doc_id"))
  }

  /** SimHash near-dup pairs: 64-bit signature over word tokens via the
    * native one-pass [[graft.functions.SimHash]] expression (whole-stage
    * codegen; each token hashed exactly once), banded 4 × 16 bits for
    * candidate generation, hamming-verified (xor + bit_count ≤ 3).
    *
    * Round 1 grouped on the full 64-bit signature, so documents whose
    * signatures differ by even 1 bit — the whole point of SimHash —
    * never became candidates (VERDICT r1 item 4). Banding fixes recall
    * *at the bucket level*: by pigeonhole, any pair within hamming
    * distance 3 agrees on at least one of the 4 16-bit bands — the
    * classic Manku/Jain/Sarma web-dedup construction — so every true
    * pair SHARES a bucket. Emitted-pair recall then depends on the
    * star-edge construction: a pair is linked directly when one side
    * is its bucket's minimum, and transitively when both verify
    * against the hub; a pair whose bucket-mates all fail verification
    * can be missed (the linear-edge tradeoff, same as [[minhashDedup]],
    * where path edges narrow it). Candidates come
    * from per-bucket star edges (bucket-min doc → member), as in
    * [[minhashDedup]]: linear in docs × bands, never a within-bucket
    * pair materialization. Oracle-checked end-to-end: the signatures
    * are materialized at [[SimhashSigsPath]] and DuckDB independently
    * re-derives banding, star edges, and the hamming verification over
    * that artifact (only the signature hash itself, being
    * engine-specific, is pinned as data). The spec additionally plants
    * a near-identical doc pair whose signatures differ by 1-3 bits and
    * asserts exact-signature grouping misses it while banding catches it.
    */
  /** Artifact path shared by [[simhashDedup]] and its DuckDB oracle:
    * the Spark query MATERIALIZES the per-doc signatures here and
    * derives everything downstream from the artifact, and the oracle
    * `read_parquet`s the same files — so banding, star-edge candidate
    * generation, and hamming verification are all independently
    * recomputed by DuckDB over a byte-identical signature column (the
    * signature itself is engine-specific xxhash, which is exactly why it
    * is pinned as data, not recomputed).
    */
  val SimhashSigsPath: String = graft.Pins.artifact("simhash_sigs")

  def simhashDedup(s: SparkSession, d: String): DataFrame = {
    graft.functions.Registry.ensure(s)
    val bands = 4
    val tokens = TextAnalysis.words
    // engine consumes the in-memory checkpointed signatures and pins the
    // SAME deterministic frame once per (session, sfDir) for the oracle —
    // the minhash stance (a read-back from the artifact would re-decode
    // parquet per invocation and couple the engine to a path another
    // (session, dir) invocation may have overwritten since)
    val withSig = Tables.documents(s, d)
      .select(col("doc_id"), size(tokens).as("n_tokens"),
        graft.functions.TextHashFunctions.simhash(tokens).as("simhash"))
      .pin("one 64-bit signature row per doc")
    graft.Pins.writeArtifact(s, d, "simhash_sigs") {
      withSig.write.mode("overwrite").parquet(SimhashSigsPath)
    }

    // (doc, band, band key). The key is the signature MASKED to the
    // band's 16 bits in place (not shifted down): equality classes are
    // identical, and masks sidestep the one dialect trap — `>>` on a
    // negative BIGINT (sign-extension vs logical shift) — so the DuckDB
    // oracle can replicate the key byte-for-byte with the same masks.
    val bk = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        col("simhash").bitwiseAND(lit(65535L << (16 * b))).as("key")).as(s"bk$b")
    }
    val banded = withSig
      .select(col("doc_id") +: bk: _*)
      .select(col("doc_id"),
        explode(array((0 until bands).map(b => col(s"bk$b")): _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))

    // star edges per bucket, deduped across bands — linear in docs x bands
    val mins = banded.groupBy(col("band"), col("key"))
      .agg(min(col("doc_id")).as("doc_a"))
    val edges = banded.join(mins, Seq("band", "key"))
      .filter(col("doc_id") =!= col("doc_a"))
      .select(col("doc_a"), col("doc_id").as("doc_b"))
      .distinct()

    // hamming verification: one xor + popcount per candidate edge
    val sa = withSig.select(col("doc_id").as("doc_a"), col("simhash").as("sig_a"),
      col("n_tokens").as("n_tokens_a"))
    val sb = withSig.select(col("doc_id").as("doc_b"), col("simhash").as("sig_b"),
      col("n_tokens").as("n_tokens_b"))
    edges.join(sa, Seq("doc_a")).join(sb, Seq("doc_b"))
      .withColumn("hamming", expr("bit_count(sig_a ^ sig_b)"))
      .filter(col("hamming") <= 3)
      .select(col("doc_a"), col("doc_b"), col("hamming").cast("int").as("hamming"),
        col("n_tokens_a"), col("n_tokens_b"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Exact n-gram Jaccard similarity, blocked on (lang, n_chars): the
    * DuckDB-checkable exact baseline for the fuzzy methods.
    *
    * Shape: equality join of documents on the blocking key (bounded
    * block sizes → bounded pair counts, never a cross product), then
    * per-pair one-pass verification via the native
    * [[graft.functions.NgramJaccard]] expression. Cost scales with the
    * number of candidate pairs, not with the corpus shingle volume —
    * the property that carries to 100 TB, where the blocking key is
    * replaced by MinHash band keys ([[minhashDedup]]).
    */
  def ngramJaccard(s: SparkSession, d: String): DataFrame =
    ngramJaccardEdges(s, d).orderBy(col("doc_a"), col("doc_b"))

  /** Exact-substring SPAN dedup — the sequence-level companion of the
    * document-level near-dup family, after the ExactSubstr construction
    * published with the LM training-data dedup literature: a training
    * corpus is degraded not only by whole near-dup documents but by
    * long VERBATIM passages (licenses, boilerplate, quoted articles)
    * embedded in otherwise-distinct documents, which document-level
    * Jaccard never reaches. This operator finds, per document, the
    * merged character spans whose content also appears verbatim in at
    * least one OTHER document — the spans a curation pipeline cuts
    * (rather than dropping the whole document).
    *
    * Construction: fixed-length character shingles ([[SpanLen]] = 50)
    * anchored at CONTENT-DEFINED positions — every word boundary (the
    * winnowing idea from the document-fingerprinting literature,
    * simplified to the natural text anchor): a fixed stride grid would
    * only match passages whose offsets happen to be congruent mod the
    * stride, while content-defined anchors align identically inside
    * identical content at ANY document offset. A shingle string seen
    * in ≥ 2 distinct documents flags its source span; per-document
    * overlapping flagged spans merge by the classic gaps-and-islands
    * window (running max of span ends; a span starting past it opens a
    * new island). Output: one row per merged span.
    *
    * Scale shape: the every-position explode+filter is SCAN-STAGE work
    * (codegen'd, no shuffle; the fixture table is one split, so the
    * scan is repartitioned first — the [[graft.operators.Analytics
    * .logIngest]] trap) and only the ~1-in-6 anchored shingles reach
    * the duplicate test, which is ONE shuffle on the shingle key: a
    * window min≠max over doc_id flags cross-doc shingles in the same
    * pass that would otherwise take an aggregate PLUS a join-back
    * (both reshuffling the full shingle volume — measured 2× the
    * query). Then one per-doc merge window; no document pair is ever
    * materialized, and skew is bounded because a shingle's bucket
    * carries doc-positions, not doc contents. At 100 TB the shingle
    * STRING (50 chars of shuffle weight per row) is replaced by
    * xxhash64(shingle) with a residual verify, exactly as
    * [[graft.operators.TrainingPrep.decontaminate]] documents for its
    * 8-gram keys — kept as the raw string here so the DuckDB oracle
    * reproduces the pipeline byte-for-byte (both engines slice
    * identical code-point substrings).
    */
  def substringSpans(s: SparkSession, d: String): DataFrame = {
    graft.functions.Registry.ensure(s)
    val docs = Tables.documents(s, d).filter(length(col("text")) >= SpanLen)
    // scanSpread (r8 A/B: the AQE single-partition trap cost 1.42 vs
    // 0.42 s on this stage), then the anchored positions come out of ONE
    // codegen byte pass ([[graft.functions.SpaceAnchors]]) — the r20
    // replacement for explode(sequence(0, len−50)) + a per-CHARACTER
    // substring-allocation filter: only the ~1-in-6 space-anchored
    // positions ever become rows (identical position set — the
    // expression tests the same code point the substring compare did).
    val shingles = Tables.scanSpread(docs, col("doc_id"))
      .select(col("doc_id"), col("text"),
        explode(graft.functions.TextHashFunctions.spaceAnchors(col("text"), SpanLen)).as("p"))
      .select(col("doc_id"), col("p").cast("bigint").as("start"),
        expr(s"substring(text, p + 1, $SpanLen)").as("shingle"))
    val ws = Window.partitionBy(col("shingle"))
    val flagged = shingles
      .withColumn("cross_doc",
        min(col("doc_id")).over(ws) =!= max(col("doc_id")).over(ws))
      .filter(col("cross_doc"))
      .select(col("doc_id"), col("start"), (col("start") + SpanLen).as("end"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("start"))
    val prevMax = max(col("end")).over(
      w.rowsBetween(Window.unboundedPreceding, -1))
    flagged
      .withColumn("new_island",
        when(prevMax.isNull || col("start") > prevMax, 1L).otherwise(0L))
      .withColumn("island", sum(col("new_island")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("start")).as("span_start"), max(col("end")).as("span_end"),
        count(lit(1)).as("n_shingles"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start")).as("span_len"), col("n_shingles"))
      .orderBy(col("doc_id"), col("span_start"))
  }

  private[operators] val SpanLen = 50

  /** The unordered edge set behind [[ngramJaccard]] — consumers that
    * feed a downstream operator ([[Graph.docComponents]]) skip the
    * final sort exchange the reporting query pays for its ORDER BY.
    *
    * Verification plan (r12): each document's PACKED gram set
    * ([[graft.functions.GramHash.gramSet]] — 3 UTF-16 code units in 48
    * bits, an INJECTIVE packing, so set sizes and therefore Jaccard
    * equal the string-gram formulation exactly, no hash-collision
    * caveat) is computed ONCE per document per side, and each candidate
    * pair pays only a [[graft.functions.SortedLongJaccard]]
    * merge-intersect — O(|a|+|b|) long compares inside whole-stage
    * codegen, zero per-pair allocation. The earlier per-pair
    * [[graft.functions.NgramJaccard]] re-built two string hash sets for
    * EVERY candidate pair; at the sf1 rehearsal block sizes that made
    * the edge derivation 58 s — this form runs it in 0.9 s (measured
    * r12, 67×). Per-pair cost is what explodes quadratically with
    * block size, so it — not the O(N) gram-set pass — is what must be
    * allocation-free at 100 TB. Each side repartitions on the BLOCKING key before the
    * gram projection, so the heavy per-doc work runs post-shuffle
    * across the full width (not on the fixture's single input split)
    * AND the join consumes that same hashpartitioning — identical
    * subtrees, so ReuseExchange ships ONE shuffle of raw text and the
    * gram arrays never cross the wire.
    */
  def ngramJaccardEdges(s: SparkSession, d: String): DataFrame = {
    graft.functions.Registry.ensure(s)
    // docs with no 3-grams have no rows in the gram-set oracle, but
    // two empty gram sets score 1.0 — exclude them so both
    // formulations agree if the corpus ever has texts < 3 chars
    val docs = Tables.documents(s, d).filter(length(col("text")) >= 3)
    val width = s.conf.get("spark.sql.shuffle.partitions").toInt
    def side(suffix: String) = docs
      .repartition(width, col("lang"), col("n_chars"))
      .select(col("doc_id").as(s"doc_$suffix"), col("lang"), col("n_chars"),
        graft.functions.TextHashFunctions.gramSet(col("text")).as(s"grams_$suffix"))
    side("a").join(side("b"), Seq("lang", "n_chars"))
      .filter(col("doc_a") < col("doc_b"))
      // gate strictly BELOW the filter's effective cut (round₄(j) ≥ 0.2
      // ⇔ j ≥ 0.19995): 0.1999 leaves the boundary decision to the same
      // rounded compare as before, so the gate can only skip pairs the
      // filter rejected anyway
      .withColumn("jaccard",
        round(graft.functions.NgramJaccardFunctions.jaccardGate(
          col("grams_a"), col("grams_b"), 0.1999), 4))
      .filter(col("jaccard") >= 0.2)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** Persist the at-rest dedup index for INCREMENTAL admission: two
    * bucketed tables, `<prefix>_bands` (band, key, doc_id) bucketed on
    * the band bucket key and `<prefix>_grams` (doc_id, grams) bucketed
    * on doc_id. Bucketing is the point: when a new batch probes the
    * index, the INDEX side of each join is already hash-distributed on
    * the join key, so only the (small) batch shuffles — probe cost
    * scales with the batch, never with the accumulated corpus. This is
    * the operational form of dedup at 100 TB: the corpus is indexed
    * once and each ingest batch is admitted against it, instead of
    * re-running corpus-wide dedup per ingest.
    */
  def writeDedupIndex(docs: DataFrame, prefix: String, buckets: Int = 8): Unit = {
    val index = minhashIndexOf(docs)
    graft.storage.LogStore.writeBucketed(
      fusedBandKeys(index), s"${prefix}_bands", "bkey", buckets)
    graft.storage.LogStore.writeBucketed(
      index.select(col("doc_id"), col("grams")), s"${prefix}_grams", "doc_id", buckets)
    // exact-dup sidecar: distinct sha2-256 text digests, bucketed on
    // the digest — the EXACT-duplicate admission probe anti-joins batch
    // digests against this table, so (like the band/gram tables) the
    // index side never reshuffles and, unlike an anti join on raw text,
    // the at-rest TEXT column never crosses the wire at probe time
    // (VERDICT r12 item 1: the raw-text anti join shipped the full
    // corpus text per delta batch — ∝ corpus, not ∝ batch).
    graft.storage.LogStore.writeBucketed(
      docs.select(sha2(col("text"), 256).as("digest")).distinct(),
      s"${prefix}_digests", "digest", buckets)
  }

  /** (doc_id, bkey) with band id FUSED into one hash key, so the probe
    * join's single join column IS the bucket column — that exact match
    * is what lets Spark use the bucketed layout without reshuffling the
    * index side. Cross-band hash collisions only add candidates, which
    * exact verification discards.
    */
  private[graft] def fusedBandKeys(index: DataFrame): DataFrame =
    minhashBanded(index)
      .select(col("doc_id"), xxhash64(col("band"), col("key")).as("bkey"))

  /** Probe a [[writeDedupIndex]] index with a new batch: near-duplicate
    * admission control. Candidates come from band-key equality against
    * the bucketed band table, PRUNED per (new doc, bucket) to at most
    * ProbeCandPerBucket members instead of the full bucket membership.
    * On a dup-heavy corpus a colliding bucket IS the new doc's
    * duplicate cluster, so bucket occupancy grows with duplicate
    * multiplicity and the unpruned probe is quadratic in it: the sf1
    * rehearsal measured 231 s for the all-pairs probe vs ~8 s pruned,
    * because every additional candidate ships a multi-KB gram array
    * through the verify joins. Pruning keeps the candidate derivation
    * ids-only (the heavy arrays attach to ≤ ProbeCandPerBucket·bands
    * pairs per doc); precision stays exact (every emitted pair is
    * gram-verified). The K members kept per bucket are the MINIMUM OF
    * EACH id-residue class mod K: this includes the bucket minimum,
    * spreads picks across a merged bucket's different dup clusters
    * (id-ADJACENT picks measured 18% worse on the sf1 rehearsal — a
    * probe id's bucket neighbors belong to OTHER clusters), and biases
    * low, where keep-min-id canonicalization concentrates the cluster
    * originals a fresh copy is most likely to verify against. Recall
    * is spec-bounded ≥ 0.8 against unblocked exact truth.
    *
    * Returns one row per REJECTED new doc: its canonical existing
    * duplicate (`dup_of` = min VERIFIED candidate id) and the best
    * verified Jaccard — both over the pruned candidate set, which is
    * deterministic and replayed verbatim by the DuckDB oracle. New
    * docs absent from the output are admitted; appending their own
    * index rows is the caller's follow-up write.
    */
  /** Candidates verified per (new doc, band bucket) by the incremental
    * probe — the per-id-residue-class minimums (see scaladoc above).
    */
  val ProbeCandPerBucket = 8

  def incrementalNearDups(s: SparkSession, newDocs: DataFrame,
      prefix: String): DataFrame =
    incrementalNearDupsIdx(s, minhashIndexOf(newDocs), prefix)

  /** [[incrementalNearDups]] over a PRE-BUILT batch signature index —
    * callers that already hold one (the cached corpus index filtered to
    * the batch slice, [[splitAssignDelta]]) skip the second signature
    * scan.
    */
  private[graft] def incrementalNearDupsIdx(s: SparkSession, newIdx: DataFrame,
      prefix: String): DataFrame =
    verifiedProbePairs(s, newIdx, probeCandidates(s, newIdx, prefix), prefix)
      .groupBy(col("doc_id"))
      .agg(min(col("idx_doc")).as("dup_of"),
        round(max(col("jaccard")), 4).as("max_jaccard"))
      .orderBy(col("doc_id"))

  /** The pruned (batch doc, at-rest candidate) id pairs of the
    * incremental probe — shared by [[incrementalNearDupsIdx]] and
    * [[splitBridgeMonitor]].
    */
  private def probeCandidates(s: SparkSession, newIdx: DataFrame,
      prefix: String): DataFrame = {
    // r21: the kept member per (bucket, id-residue class) is a function
    // of the AT-REST bucket alone, so the minima are aggregated over the
    // bands table FIRST (one pass over its rows, bucket-local since the
    // table is bucketed on bkey) and the probe joins the ≤ K-row-per-
    // bucket minima frame. The r12 form joined every probe key against
    // the FULL bucket membership and streamed it through the min(when)
    // aggregates — linear memory but O(Σ bucket occupancy) compute per
    // batch, which on a dup-dense corpus is quadratic in duplicate
    // multiplicity: the sf1 rehearsal measured 512M joined rows for a
    // 2,500-doc batch (~9 s of the probe's ~13 s; the candidate SET is
    // 188k pairs). Per class the TWO smallest members are kept so the
    // self-guard (a batch id colliding with an indexed id must not
    // match ITSELF — ADVICE r6) picks the second-smallest exactly when
    // the probe doc IS the class minimum: result-identical to the
    // old per-(probe, bucket) min-excluding-self by the min2 algebra
    // (min over class∖{doc} = m1 if m1 ≠ doc else m2).
    val res = pmod(col("doc_id"), lit(ProbeCandPerBucket))
    val members = s.table(s"${prefix}_bands")
      .select(col("bkey"), col("doc_id"), res.as("res"))
    val m1s = members.groupBy(col("bkey"), col("res"))
      .agg(min(col("doc_id")).as("m1"))
    val m2s = members.join(m1s, Seq("bkey", "res"))
      .filter(col("doc_id") > col("m1"))
      .groupBy(col("bkey"), col("res"))
      .agg(min(col("doc_id")).as("m2"))
    val mins = m1s.join(m2s, Seq("bkey", "res"), "left")
    fusedBandKeys(newIdx)
      .join(mins, Seq("bkey"))
      .select(col("doc_id"),
        when(col("m1") =!= col("doc_id"), col("m1"))
          .otherwise(col("m2")).as("idx_doc"))
      .filter(col("idx_doc").isNotNull)
      .select(col("doc_id"), col("idx_doc")).distinct()
  }

  /** Per-batch split-BRIDGE monitor — the streaming-side early warning
    * for the risk [[splitDrift]] audits per corpus version: a batch
    * document whose VERIFIED near-dup anchors span two different
    * at-rest clusters merges them, which is exactly the event that
    * produces `q_split_drift` rows (cluster relabels, possible split
    * flips) at the next full re-run. Emitted per micro-batch through
    * [[graft.streaming.StreamPipelines.streamingSplitAssign]]'s
    * driftSink: one row per batch doc with ≥1 verified anchor —
    * distinct anchor clusters/splits and the `migrate` flag (spans ≥2
    * clusters). Probe ∝ batch against the bucketed index + split
    * table (the same [[verifiedProbePairs]] the admission gate runs);
    * zero new streaming state.
    */
  def splitBridgeMonitor(s: SparkSession, batch: DataFrame,
      prefix: String): DataFrame = {
    val newIdx = minhashIndexOf(batch.select(col("doc_id"), col("text")))
    verifiedProbePairs(s, newIdx, probeCandidates(s, newIdx, prefix), prefix)
      .join(s.table(s"${prefix}_split")
        .select(col("doc_id").as("idx_doc"), col("label"), col("split")),
        Seq("idx_doc"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("label")).as("n_anchor_clusters"),
        countDistinct(col("split")).as("n_anchor_splits"))
      .withColumn("migrate", col("n_anchor_clusters") > 1)
      .orderBy(col("doc_id"))
  }

  /** The verified (batch doc, at-rest doc, jaccard) pair set of the
    * incremental probe — the shared tail of [[incrementalNearDupsIdx]]
    * and [[splitBridgeMonitor]], so the monitor can never disagree with
    * the admission gate about which anchors verified.
    */
  private def verifiedProbePairs(s: SparkSession, newIdx: DataFrame,
      cand: DataFrame, prefix: String): DataFrame =
    cand
      .join(newIdx.select(col("doc_id"), col("grams").as("gn")), Seq("doc_id"))
      .join(s.table(s"${prefix}_grams")
        .select(col("doc_id").as("idx_doc"), col("grams").as("gi")), Seq("idx_doc"))
      // size-ratio prefilter (VERDICT r14 item 2): the at-rest side is
      // bucketed (no shuffle to save), so the win here is skipping the
      // merge-intersect eval on pairs the cardinality bound already
      // refutes — size() is O(1) on the deserialized array
      .filter(sizeRatioOk(size(col("gn")), size(col("gi"))))
      .withColumn("jaccard",
        graft.functions.NgramJaccardFunctions.jaccardGate(col("gn"), col("gi"), 0.5))
      .filter(col("jaccard") >= 0.5)
      .select(col("doc_id"), col("idx_doc"), col("jaccard"))

  /** The caller's follow-up write after admission: append the admitted
    * batch's OWN index rows — fused band keys, gram sets, and text
    * digests — to the bucketed at-rest index, so the NEXT batch probes
    * against a corpus that includes this one. Cost ∝ batch (the batch
    * re-derives its signatures and appends into the existing hash
    * buckets; the at-rest rows are untouched — [[graft.storage.LogStore
    * .appendBucketed]]). Appending the batch's distinct digests may
    * duplicate a digest row only if the caller appends docs the exact
    * gate rejected; anti-join semantics are unaffected by duplicates
    * either way. DedupSpec pins the replay property: after the append,
    * re-probing the same batch rejects every document.
    *
    * `replayGuarded` is the at-least-once delivery stance (ADVICE r15):
    * each of the THREE appends is anti-joined on ITS OWN target table's
    * membership — a retried fold whose prior attempt died between any
    * two of the appends re-appends exactly the tables that missed the
    * write and no-ops the rest. A single batch-level guard on one table
    * cannot give that: keyed on grams, a crash between the grams and
    * digests appends plus redelivery would filter the docs out (already
    * in grams) and permanently lose their digest rows. The grams and
    * digests guards scan their target's BUCKET key column (bucket-
    * prunable); the bands guard anti-joins on doc_id while the bands
    * table is bucketed on bkey, so that one pays a full single-column
    * scan per batch — semantics identical, and the column stays the
    * narrow key either way. Batch callers that own their delivery
    * (run-once jobs) keep the unguarded default.
    */
  def appendDedupIndex(docs: DataFrame, prefix: String, buckets: Int = 8,
      replayGuarded: Boolean = false): Unit = {
    val s = docs.sparkSession
    def fresh(df: DataFrame, table: String, key: String): DataFrame =
      if (!replayGuarded) df
      else df.join(s.table(table).select(col(key)), Seq(key), "left_anti")
    val index = minhashIndexOf(docs)
    graft.storage.LogStore.appendBucketed(
      fresh(fusedBandKeys(index), s"${prefix}_bands", "doc_id"),
      s"${prefix}_bands", "bkey", buckets)
    graft.storage.LogStore.appendBucketed(
      fresh(index.select(col("doc_id"), col("grams")), s"${prefix}_grams", "doc_id"),
      s"${prefix}_grams", "doc_id", buckets)
    graft.storage.LogStore.appendBucketed(
      fresh(docs.select(sha2(col("text"), 256).as("digest")).distinct(),
        s"${prefix}_digests", "digest"),
      s"${prefix}_digests", "digest", buckets)
  }

  /** Exact-duplicate admission against a [[writeDedupIndex]] digest
    * sidecar: drop every batch row whose sha2-256 text digest already
    * exists in the at-rest corpus. The anti join keys on the 64-char
    * digest, and the index side is bucketed on it — so only the batch
    * shuffles (into the bucket layout) and the scan of the index reads
    * one 64-byte column, never the corpus text. This replaces the raw
    * `text`-keyed anti join that reshuffled the FULL at-rest text
    * column per delta batch (VERDICT r12 finding 1).
    */
  def incrementalExactClean(s: SparkSession, batch: DataFrame,
      prefix: String): DataFrame =
    batch.withColumn("digest", sha2(col("text"), 256))
      .join(s.table(s"${prefix}_digests"), Seq("digest"), "left_anti")
      .drop("digest")

  // lazy: oracle objects reference operator constants (e.g. DedupOracles
  // .spanCtes -> Dedup.SpanLen), so an eager defs -- which reads the oracle
  // object back -- would deadlock-null mid-initialization when a composed
  // oracle (TrainingOracles.corpusPrep4) initializes the oracle object first
  /** Quality-aware canonical selection — the refinement a production
    * dedup pass runs instead of keep-min-id: within each near-dup
    * cluster ([[minhashDedup]]'s connected components), keep the copy
    * with the HIGHEST model-quality logit
    * ([[TextAnalysis.modelQuality]]), doc_id ascending as the
    * tie-break. Rank runs on the round-6 quantized logit both engines
    * already emit, so canonical choice cannot flip on fit-side ulp
    * drift; docs the quality gate never scored (empty after
    * tokenization) rank at a -1e9 sentinel. Composition of two cached
    * builders + one join + one cluster-partitioned window;
    * verified-not-benched (both constituents hold bench slots —
    * the corpusPrep-prefix precedent).
    */
  /** Near-dup cluster-size histogram: how many clusters of each size
    * the minhash pass found and how many docs they hold — the corpus-
    * health rollup a dedup run reports (a fat tail of large clusters
    * means template spam; all-singletons means the thresholds are
    * over-tight). Pure rollup over [[minhashDedup]]'s labels — two
    * vocabulary-bound aggregates past the shared dedup plan.
    */
  def dedupClusterStats(s: SparkSession, d: String): DataFrame =
    minhashDedup(s, d)
      .groupBy(col("kept_doc_id")).agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"))
      .orderBy(col("cluster_size"))

  def dedupCanonical(s: SparkSession, d: String): DataFrame = {
    val clusters = minhashDedup(s, d)
      .select(col("doc_id"), col("kept_doc_id").as("cluster_id"))
    val quality = TextAnalysis.modelQuality(s, d)
      .select(col("doc_id"), col("quality_logit"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id"))
      .orderBy(col("q").desc, col("doc_id"))
    clusters.join(quality, Seq("doc_id"), "left")
      .withColumn("q", coalesce(col("quality_logit"), lit(-1e9)))
      .withColumn("canonical_doc_id", first(col("doc_id")).over(w))
      .select(col("doc_id"), col("cluster_id"), col("canonical_doc_id"),
        (col("doc_id") === col("canonical_doc_id")).as("is_canonical"))
      .orderBy(col("doc_id"))
  }

  lazy val defs: Map[String, QueryDef] = Map(
    "q_dedup_canonical" -> QueryDef(dedupCanonical, Some(DedupOracles.dedupCanonical), headline = false),
    "q_dedup_cluster_stats" -> QueryDef(dedupClusterStats,
      Some(DedupOracles.dedupClusterStats), headline = false),
    "q_dedup_exact"     -> QueryDef(dedupExact, Some(DedupOracles.dedupExact)),
    "q_exact_distinct"  -> QueryDef(exactDistinct, Some(DedupOracles.exactDistinct)),
    "q_approx_distinct" -> QueryDef(approxDistinct, None),
    "q_hll_merge" -> QueryDef(hllMerge, None),
    "q_hll_merge_check" -> QueryDef(hllMergeCheck, Some(DedupOracles.hllMergeCheck)),
    "q_approx_distinct_check" -> QueryDef(approxDistinctCheck,
      Some(DedupOracles.approxDistinctCheck), headline = false),
    "q_minhash_dedup"   -> QueryDef(minhashDedup, Some(DedupOracles.minhashDedup)),
    // verified-not-benched (the q_dedup_canonical precedent): its only
    // work beyond the q_minhash_dedup chain is a scan-stage CASE
    "q_split_leakage_free" -> QueryDef(splitLeakageFree,
      Some(DedupOracles.splitLeakageFree), headline = false),
    // verified-not-benched since round 14: single-generation prefix of
    // benched q_split_assign_delta2 (the corpus_prep_delta → delta2
    // precedent, VERDICT r13 item 1)
    "q_split_assign_delta" -> QueryDef(splitAssignDelta,
      Some(DedupOracles.splitAssignDelta), headline = false),
    "q_split_assign_delta2" -> QueryDef(splitAssignDelta2,
      Some(DedupOracles.splitAssignDelta2)),
    // verified-not-benched: composition of two chains that hold bench
    // slots (q_minhash_dedup; the delta2 cold build's at-rest closure)
    "q_split_drift" -> QueryDef(splitDrift,
      Some(DedupOracles.splitDrift), headline = false),
    "q_minhash_decontaminate" -> QueryDef(minhashDecontaminate,
      Some(DedupOracles.minhashDecontaminate)),
    "q_simhash_dedup"   -> QueryDef(simhashDedup, Some(DedupOracles.simhashDedup)),
    "q_ngram_jaccard"   -> QueryDef(ngramJaccard, Some(DedupOracles.ngramJaccard)),
    "q_substring_spans" -> QueryDef(substringSpans, Some(DedupOracles.substringSpans)))
}

/** DuckDB oracles for the SQL-expressible [[Dedup]] queries. */
object DedupOracles {

  /** SQL mirror of [[Dedup.sizeRatioOk]] — the result-invariant
    * size-ratio prefilter (J ≥ 0.5 ⟹ 2·min ≥ max over gram-set
    * cardinalities), replicated in every verify-replaying CTE so the
    * oracle stays a full replay of the engine's candidate pipeline
    * (VERDICT r14 item 2).
    */
  private[operators] def sizeRatioSql(a: String, b: String): String =
    s"least(len($a), len($b)) * 2 >= greatest(len($a), len($b))"

  val dedupExact: String =
    """SELECT min(doc_id) AS doc_id, count(*) AS n_copies
      |FROM documents
      |GROUP BY sha256(text)
      |ORDER BY doc_id""".stripMargin

  val exactDistinct: String =
    """SELECT count(DISTINCT user_id) AS n_users,
      |  count(DISTINCT event_type) AS n_types,
      |  count(DISTINCT date_trunc('day', ts)) AS n_days
      |FROM events""".stripMargin

  /** [[Dedup.substringSpans]] replayed end-to-end in SQL: same
    * word-boundary anchor positions (`unnest(generate_series(...))` —
    * DuckDB's generate_series is stop-inclusive, matching Spark
    * `sequence` — filtered on the same single-char probe), same
    * code-point `substr` shingles, cross-doc duplicate test, flag-back
    * join, and gaps-and-islands merge.
    */
  /** The WITH-body of [[substringSpans]] through the merged `sspans`
    * CTE — ss-prefixed names so composed pipelines
    * ([[TrainingOracles.corpusPrep4]]) can embed it beside their own.
    */
  private[operators] val spanCtes: String = {
    val l = Dedup.SpanLen
    s"""ssdocs AS (
       |  SELECT doc_id, text FROM documents WHERE length(text) >= $l),
       |sspos AS (
       |  SELECT doc_id, text,
       |    unnest(generate_series(0, length(text) - $l)) AS start
       |  FROM ssdocs),
       |sssh AS (
       |  SELECT doc_id, start, substr(text, CAST(start + 1 AS INT), $l) AS shingle
       |  FROM sspos
       |  WHERE substr(text, CAST(start + 1 AS INT), 1) = ' '),
       |ssdup AS (
       |  SELECT shingle FROM sssh GROUP BY shingle
       |  HAVING count(DISTINCT doc_id) > 1),
       |ssflag AS (
       |  SELECT doc_id, start, start + $l AS end_
       |  FROM sssh JOIN ssdup USING (shingle)),
       |ssmark AS (
       |  SELECT doc_id, start, end_,
       |    max(end_) OVER (PARTITION BY doc_id ORDER BY start
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
       |  FROM ssflag),
       |ssisl AS (
       |  SELECT doc_id, start, end_,
       |    sum(CASE WHEN prev_max IS NULL OR start > prev_max THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY doc_id ORDER BY start) AS island
       |  FROM ssmark),
       |sspans AS (
       |  SELECT doc_id,
       |    min(start) AS span_start,
       |    max(end_) AS span_end,
       |    max(end_) - min(start) AS span_len,
       |    CAST(count(*) AS BIGINT) AS n_shingles
       |  FROM ssisl
       |  GROUP BY doc_id, island)""".stripMargin
  }

  val substringSpans: String =
    s"""WITH $spanCtes
       |SELECT doc_id, span_start, span_end, span_len, n_shingles
       |FROM sspans
       |ORDER BY doc_id, span_start""".stripMargin

  /** [[Dedup.approxDistinctCheck]]: the exact counts are recomputed,
    * the error-bound booleans are pinned at TRUE — an estimate outside
    * the sketch's contracted bound hash-mismatches the oracle.
    */
  val approxDistinctCheck: String =
    """SELECT count(DISTINCT user_id) AS n_users,
      |  count(DISTINCT event_id) AS n_events,
      |  TRUE AS users_within_10pct,
      |  TRUE AS events_within_10pct
      |FROM events""".stripMargin

  /** [[Dedup.hllMergeCheck]]: exact per-type distincts plus the pinned
    * error/mergeability contract booleans.
    */
  val hllMergeCheck: String =
    """SELECT event_type,
      |  count(DISTINCT user_id) AS exact_users,
      |  TRUE AS merged_within_10pct,
      |  TRUE AS direct_within_10pct,
      |  TRUE AS merge_agrees_direct_2pct
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** Replays [[Dedup.simhashDedup]] downstream of the signature: reads
    * the materialized signature artifact, re-derives the 4×16-bit
    * banding (same in-place masks), per-bucket star edges, and the
    * xor+bit_count hamming verification — DuckDB checks every moving
    * part except the hash function itself.
    */
  val simhashDedup: String = {
    val masks = (0 until 4)
      .map(b => s"($b, CAST(${65535L << (16 * b)} AS BIGINT))").mkString(", ")
    s"""WITH sigs AS (
       |  SELECT doc_id, n_tokens, simhash
       |  FROM read_parquet('${Dedup.SimhashSigsPath}/*.parquet')),
       |banded AS (
       |  SELECT s.doc_id, b.band, s.simhash & b.mask AS key
       |  FROM sigs s, (VALUES $masks) AS b(band, mask)),
       |mins AS (
       |  SELECT band, key, min(doc_id) AS doc_a FROM banded GROUP BY 1, 2),
       |edges AS (
       |  SELECT DISTINCT m.doc_a, bd.doc_id AS doc_b
       |  FROM banded bd JOIN mins m USING (band, key)
       |  WHERE bd.doc_id <> m.doc_a)
       |SELECT e.doc_a, e.doc_b,
       |  CAST(bit_count(xor(sa.simhash, sb.simhash)) AS INT) AS hamming,
       |  sa.n_tokens AS n_tokens_a, sb.n_tokens AS n_tokens_b
       |FROM edges e
       |JOIN sigs sa ON e.doc_a = sa.doc_id
       |JOIN sigs sb ON e.doc_b = sb.doc_id
       |WHERE bit_count(xor(sa.simhash, sb.simhash)) <= 3
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** Replays [[Dedup.minhashDedup]] downstream of the hashes: reads the
    * materialized band-assignment and gram-set artifacts, re-derives the
    * per-bucket star + path candidate edges (the path edges via the same
    * lag-window), the exact merge-intersect Jaccard verification
    * (`list_intersect` over the identical sorted gram arrays, IEEE
    * double division so the 0.5 threshold bisects identically), then
    * computes connected components EXACTLY via a recursive-CTE
    * transitive closure and takes the per-component minimum label —
    * independently checking that the engine's convergent min-label
    * propagation loop reaches true connected components, not a
    * truncated approximation. The candidate-degree rollup
    * (`n_candidates`) is re-derived from the same band table.
    *
    * SCALE NOTE (r11 sf1 rehearsal): the `reach` closure materializes
    * |component|² rows — exact and cheap at the sf0.01/sf0.1 gate
    * scales, intractable on dup-rich rehearsal fixtures (sf1's 36k-doc
    * band bucket → giant verified component → closure never finishes;
    * the ENGINE side is unaffected, its propagation loop is linear in
    * edges). Large-SF rehearsals verify this query with
    * `tools/uf_check_minhash.py` instead: identical candidates +
    * verification in DuckDB, then union-find labels — 36 s at sf1,
    * 50000/50000 rows matched (BASELINE.md round 11).
    */
  val minhashDedup: String =
    s"""WITH RECURSIVE
       |art AS (
       |  SELECT doc_id, bands, grams
       |  FROM read_parquet('${Dedup.MinhashIndexPath}/*.parquet')),
       |banded AS (
       |  SELECT doc_id, i AS band, bands[i + 1] AS key
       |  FROM art, (SELECT unnest(generate_series(0, ${Dedup.MinhashBands - 1})) AS i)),
       |gsets AS (
       |  SELECT doc_id, grams FROM art),
       |mins AS (
       |  SELECT band, key, min(doc_id) AS bmin FROM banded GROUP BY 1, 2),
       |star AS (
       |  SELECT m.bmin AS doc_a, b.doc_id AS doc_b
       |  FROM banded b JOIN mins m USING (band, key)
       |  WHERE b.doc_id <> m.bmin),
       |pathe AS (
       |  SELECT prev AS doc_a, doc_id AS doc_b FROM (
       |    SELECT doc_id,
       |      lag(doc_id) OVER (PARTITION BY band, key ORDER BY doc_id) AS prev
       |    FROM banded)
       |  WHERE prev IS NOT NULL),
       |cand AS (
       |  SELECT DISTINCT doc_a, doc_b
       |  FROM (SELECT * FROM star UNION ALL SELECT * FROM pathe)),
       |verified AS (
       |  SELECT c.doc_a, c.doc_b
       |  FROM cand c
       |  JOIN gsets ga ON c.doc_a = ga.doc_id
       |  JOIN gsets gb ON c.doc_b = gb.doc_id
       |  WHERE ${DedupOracles.sizeRatioSql("ga.grams", "gb.grams")}
       |    AND CAST(len(list_intersect(ga.grams, gb.grams)) AS DOUBLE)
       |        / (len(ga.grams) + len(gb.grams)
       |           - len(list_intersect(ga.grams, gb.grams))) >= 0.5),
       |und AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM verified
       |  UNION
       |  SELECT doc_b AS src, doc_a AS dst FROM verified),
       |reach AS (
       |  SELECT doc_id AS src, doc_id AS dst FROM documents
       |  UNION
       |  SELECT r.src, u.dst FROM reach r JOIN und u ON r.dst = u.src),
       |labels AS (
       |  SELECT src AS doc_id, min(dst) AS label FROM reach GROUP BY 1),
       |bsizes AS (
       |  SELECT band, key, count(*) AS bsz FROM banded GROUP BY 1, 2),
       |ncand AS (
       |  SELECT b.doc_id, sum(s.bsz - 1) AS n_candidates
       |  FROM banded b JOIN bsizes s USING (band, key) GROUP BY 1)
       |SELECT l.doc_id, l.label AS kept_doc_id,
       |  l.label <> l.doc_id AS is_duplicate,
       |  CAST(COALESCE(n.n_candidates, 0) AS BIGINT) AS n_candidates
       |FROM labels l LEFT JOIN ncand n USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  /** [[Dedup.splitLeakageFree]]: the minhash closure oracle as a
    * derived table (the [[dedupClusterStats]]/[[dedupCanonical]]
    * composition precedent) — so the split assignment is checked on
    * top of DuckDB's INDEPENDENT recursive-CTE connected components —
    * then the identical golden-hash CASE on the component label.
    */
  lazy val splitLeakageFree: String =
    s"""WITH mh AS (
       |  SELECT doc_id, kept_doc_id AS cluster_id FROM ($minhashDedup) t)
       |SELECT doc_id, cluster_id,
       |  CASE WHEN ${graft.GoldenHash.bucketSql("cluster_id", 10)} = 0
       |       THEN 'val' ELSE 'train' END AS split
       |FROM mh
       |ORDER BY doc_id""".stripMargin

  /** One `$tag`-prefixed star+path → verify → recursive-closure →
    * min-label fragment over the `pred`-selected slice of the pinned
    * index — the [[minhashDedup]] closure parameterized so
    * [[splitAssignDelta]] can replay the AT-REST and BATCH component
    * runs from the same shape (ends in `${tag}labels (doc_id, label)`).
    * Callers embed it under one `WITH RECURSIVE`.
    */
  private def splitClosureCtes(tag: String, pred: String): String =
    s"""${tag}b AS (SELECT * FROM banded WHERE $pred),
       |${tag}mins AS (SELECT band, key, min(doc_id) AS bmin FROM ${tag}b GROUP BY 1, 2),
       |${tag}star AS (
       |  SELECT m.bmin AS doc_a, b.doc_id AS doc_b
       |  FROM ${tag}b b JOIN ${tag}mins m USING (band, key)
       |  WHERE b.doc_id <> m.bmin),
       |${tag}path AS (
       |  SELECT prev AS doc_a, doc_id AS doc_b FROM (
       |    SELECT doc_id, lag(doc_id) OVER (PARTITION BY band, key ORDER BY doc_id) AS prev
       |    FROM ${tag}b)
       |  WHERE prev IS NOT NULL),
       |${tag}cand AS (
       |  SELECT DISTINCT doc_a, doc_b
       |  FROM (SELECT * FROM ${tag}star UNION ALL SELECT * FROM ${tag}path)),
       |${tag}ver AS (
       |  SELECT c.doc_a, c.doc_b FROM ${tag}cand c
       |  JOIN art ga ON c.doc_a = ga.doc_id
       |  JOIN art gb ON c.doc_b = gb.doc_id
       |  WHERE ${DedupOracles.sizeRatioSql("ga.grams", "gb.grams")}
       |    AND CAST(len(list_intersect(ga.grams, gb.grams)) AS DOUBLE)
       |        / (len(ga.grams) + len(gb.grams)
       |           - len(list_intersect(ga.grams, gb.grams))) >= 0.5),
       |${tag}und AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM ${tag}ver
       |  UNION
       |  SELECT doc_b AS src, doc_a AS dst FROM ${tag}ver),
       |${tag}reach AS (
       |  SELECT doc_id AS src, doc_id AS dst FROM documents WHERE $pred
       |  UNION
       |  SELECT r.src, u.dst FROM ${tag}reach r JOIN ${tag}und u ON r.dst = u.src),
       |${tag}labels AS (
       |  SELECT src AS doc_id, min(dst) AS label FROM ${tag}reach GROUP BY 1)""".stripMargin

  /** [[Dedup.splitAssignDelta]] replayed END-TO-END from the pinned
    * full-corpus index and the documents table alone: the frozen
    * at-rest split is re-derived through its own closure (never read
    * from an engine-written labels artifact), the batch-internal
    * components through a second closure, and the probe through the
    * same banded / residue-class-pruned / gram-verified stages the
    * engine's [[incrementalNearDups]] runs — then the identical
    * component-level anchor-inheritance CASE. The same SCALE NOTE as
    * [[minhashDedup]] applies: closure cost is |component|², fine at
    * the gate scales; large-SF rehearsals use
    * `tools/uf_check_split_delta.py`.
    */
  /** The `art` + positionally-unnested `banded` CTE pair over the
    * pinned full-corpus index — the opening every split-delta oracle
    * shares.
    */
  private val splitArtCtes: String =
    s"""art AS (
       |  SELECT doc_id, bands, grams
       |  FROM read_parquet('${Dedup.MinhashIndexPath}/*.parquet')),
       |banded AS (
       |  SELECT doc_id, i AS band, bands[i + 1] AS key
       |  FROM art, (SELECT unnest(generate_series(0, ${Dedup.MinhashBands - 1})) AS i))""".stripMargin

  /** `$tag`-prefixed replay of [[Dedup.incrementalNearDupsIdx]]'s probe
    * + the component-level anchor-inheritance tail: band hits of
    * `${batchTag}b` against the `idxPred` slice of `banded`,
    * residue-class candidate pruning, gram verification, then per
    * `${batchTag}labels` component the minimum verified anchor and the
    * split lookup in `$splitTable` (doc_id, split) with the unanchored
    * golden-hash fallback. Ends in `${tag}fin (label, anchor, split)`.
    * ONE builder for the generation-1 and generation-2 oracles — they
    * cannot drift.
    */
  private def splitProbeAssignCtes(tag: String, batchTag: String,
      idxPred: String, splitTable: String): String =
    s"""${tag}ib AS (SELECT * FROM banded WHERE $idxPred),
       |${tag}hits AS (
       |  SELECT p.doc_id, p.band, p.key, i.doc_id AS idx_doc
       |  FROM ${batchTag}b p JOIN ${tag}ib i USING (band, key)
       |  WHERE p.doc_id <> i.doc_id),
       |${tag}cand AS (
       |  SELECT DISTINCT doc_id, idx_doc FROM (
       |    SELECT doc_id, min(idx_doc) AS idx_doc
       |    FROM ${tag}hits
       |    GROUP BY doc_id, band, key, idx_doc % ${Dedup.ProbeCandPerBucket})),
       |${tag}probe AS (
       |  SELECT c.doc_id, min(c.idx_doc) AS dup_of
       |  FROM ${tag}cand c
       |  JOIN art ga ON c.doc_id = ga.doc_id
       |  JOIN art gb ON c.idx_doc = gb.doc_id
       |  WHERE ${DedupOracles.sizeRatioSql("ga.grams", "gb.grams")}
       |    AND CAST(len(list_intersect(ga.grams, gb.grams)) AS DOUBLE)
       |        / (len(ga.grams) + len(gb.grams)
       |           - len(list_intersect(ga.grams, gb.grams))) >= 0.5
       |  GROUP BY c.doc_id),
       |${tag}inh AS (
       |  SELECT bl.label, min(p.dup_of) AS anchor
       |  FROM ${batchTag}labels bl LEFT JOIN ${tag}probe p USING (doc_id)
       |  GROUP BY 1),
       |${tag}fin AS (
       |  SELECT i.label, i.anchor,
       |    COALESCE(a.split,
       |      CASE WHEN ${graft.GoldenHash.bucketSql("i.label", 10)} = 0
       |           THEN 'val' ELSE 'train' END) AS split
       |  FROM ${tag}inh i LEFT JOIN $splitTable a ON a.doc_id = i.anchor)""".stripMargin

  /** The final (doc_id, batch_cluster, anchor_doc, split) projection
    * joining `${batchTag}labels` back to `${tag}fin`.
    */
  private def splitFinalSelect(tag: String, batchTag: String): String =
    s"""SELECT bl.doc_id, bl.label AS batch_cluster, f.anchor AS anchor_doc, f.split
       |FROM ${batchTag}labels bl JOIN ${tag}fin f USING (label)
       |ORDER BY bl.doc_id""".stripMargin

  lazy val splitAssignDelta: String = {
    val b20 = graft.GoldenHash.bucketSql("doc_id", 20)
    s"""WITH RECURSIVE
       |$splitArtCtes,
       |${splitClosureCtes("r", s"($b20) <> 7")},
       |atsplit AS (
       |  SELECT doc_id, label,
       |    CASE WHEN ${graft.GoldenHash.bucketSql("label", 10)} = 0
       |         THEN 'val' ELSE 'train' END AS split
       |  FROM rlabels),
       |${splitClosureCtes("bt", s"($b20) = 7")},
       |${splitProbeAssignCtes("p1", "bt", s"($b20) <> 7", "atsplit")}
       |${splitFinalSelect("p1", "bt")}""".stripMargin
  }

  /** [[Dedup.splitAssignDelta2]] replayed END-TO-END from the pinned
    * full-corpus index and the documents table alone: the at-rest
    * closure (buckets ∉ {7, 11}), generation 1 (batch A's closure +
    * probe + anchor inheritance), the FOLD (anchored A rows adopt the
    * anchor's at-rest label, unanchored ones their batch label), and
    * generation 2 (batch B's closure + probe against at-rest ∪ A +
    * lookup in the grown table) — every fragment built by the same
    * builders as the generation-1 oracle. The engine's grown-split
    * artifact is never read; a fold or append bug diverges the
    * compare. Same SCALE NOTE as [[minhashDedup]]: closure cost is
    * |component|²; large-SF rehearsals use
    * `tools/uf_check_split_delta2.py`.
    */
  lazy val splitAssignDelta2: String = {
    val b20 = graft.GoldenHash.bucketSql("doc_id", 20)
    s"""WITH RECURSIVE
       |$splitArtCtes,
       |${splitClosureCtes("r", s"($b20) NOT IN (7, 11)")},
       |atsplit AS (
       |  SELECT doc_id, label,
       |    CASE WHEN ${graft.GoldenHash.bucketSql("label", 10)} = 0
       |         THEN 'val' ELSE 'train' END AS split
       |  FROM rlabels),
       |${splitClosureCtes("a", s"($b20) = 7")},
       |${splitProbeAssignCtes("pa", "a", s"($b20) NOT IN (7, 11)", "atsplit")},
       |aassign AS (
       |  SELECT al.doc_id,
       |    COALESCE(ats.label, al.label) AS label,
       |    f.split
       |  FROM alabels al
       |  JOIN pafin f USING (label)
       |  LEFT JOIN atsplit ats ON ats.doc_id = f.anchor),
       |grown AS (
       |  SELECT doc_id, label, split FROM atsplit
       |  UNION ALL
       |  SELECT doc_id, label, split FROM aassign),
       |${splitClosureCtes("bt", s"($b20) = 11")},
       |${splitProbeAssignCtes("p2", "bt", s"($b20) <> 11", "grown")}
       |${splitFinalSelect("p2", "bt")}""".stripMargin
  }

  /** [[Dedup.splitDrift]] replayed from the pinned index: the at-rest
    * closure (the frozen assignment) and the FULL-corpus closure (the
    * re-run) through the same parameterized builder, then the identical
    * flip filter. Same closure SCALE NOTE as [[minhashDedup]].
    */
  lazy val splitDrift: String = {
    val b20 = graft.GoldenHash.bucketSql("doc_id", 20)
    def splitCase(lbl: String) =
      s"CASE WHEN ${graft.GoldenHash.bucketSql(lbl, 10)} = 0 THEN 'val' ELSE 'train' END"
    s"""WITH RECURSIVE
       |$splitArtCtes,
       |${splitClosureCtes("r", s"($b20) <> 7")},
       |${splitClosureCtes("f", "TRUE")},
       |oldsplit AS (
       |  SELECT doc_id, label AS old_cluster, ${splitCase("label")} AS old_split
       |  FROM rlabels),
       |newsplit AS (
       |  SELECT doc_id, label AS new_cluster, ${splitCase("label")} AS new_split
       |  FROM flabels)
       |SELECT o.doc_id, o.old_cluster, n.new_cluster, o.old_split, n.new_split
       |FROM oldsplit o JOIN newsplit n USING (doc_id)
       |WHERE o.old_cluster <> n.new_cluster OR o.old_split <> n.new_split
       |ORDER BY o.doc_id""".stripMargin
  }

  /** [[Dedup.dedupClusterStats]]: the minhash closure oracle as a
    * derived table, then the identical two-level size rollup.
    */
  lazy val dedupClusterStats: String =
    s"""WITH base AS (
       |  SELECT kept_doc_id FROM ($minhashDedup) t),
       |clusters AS (
       |  SELECT kept_doc_id, count(*) AS cluster_size FROM base GROUP BY 1)
       |SELECT cluster_size, count(*) AS n_clusters,
       |  CAST(cluster_size * count(*) AS BIGINT) AS n_docs
       |FROM clusters
       |GROUP BY cluster_size
       |ORDER BY cluster_size""".stripMargin

  /** [[Dedup.dedupCanonical]] composed from the two constituent
    * oracles as derived tables (cluster labels from the recursive-CTE
    * closure, quality logits from the pinned-weights replay), then the
    * identical quality-desc/doc_id-asc first_value window. Lazy for
    * the cross-oracle-object reference ([[TextOracles.modelQuality]])
    * — the TrainingOracles composition precedent.
    */
  lazy val dedupCanonical: String =
    s"""WITH mh AS (
       |  SELECT doc_id, kept_doc_id AS cluster_id FROM ($minhashDedup) t),
       |mq AS (
       |  SELECT doc_id, quality_logit FROM (${TextOracles.modelQuality}) t),
       |j AS (
       |  SELECT mh.doc_id, mh.cluster_id,
       |    coalesce(mq.quality_logit, -1e9) AS q
       |  FROM mh LEFT JOIN mq USING (doc_id)),
       |canon AS (
       |  SELECT doc_id, cluster_id,
       |    first_value(doc_id) OVER (
       |      PARTITION BY cluster_id ORDER BY q DESC, doc_id) AS canonical_doc_id
       |  FROM j)
       |SELECT doc_id, cluster_id, canonical_doc_id,
       |  doc_id = canonical_doc_id AS is_canonical
       |FROM canon
       |ORDER BY doc_id""".stripMargin

  /** Replays [[Dedup.minhashDecontaminate]] downstream of the hashes
    * over the same pinned index artifact: re-derives the
    * [[graft.GoldenHash]] train/test split, the linear star+path
    * cross-split candidate construction (bucket test-min + nearest
    * test neighbors in id-order, the same window algebra), and the
    * exact merge-intersect Jaccard gate.
    */
  val minhashDecontaminate: String =
    s"""WITH art AS (
       |  SELECT doc_id, bands, grams
       |  FROM read_parquet('${Dedup.MinhashIndexPath}/*.parquet')),
       |banded AS (
       |  SELECT doc_id, i AS band, bands[i + 1] AS key,
       |    ${graft.GoldenHash.isTestDocSql} AS is_test
       |  FROM art, (SELECT unnest(generate_series(0, ${Dedup.MinhashBands - 1})) AS i)),
       |neigh AS (
       |  SELECT doc_id, is_test,
       |    last_value(CASE WHEN is_test THEN doc_id END IGNORE NULLS) OVER (
       |      PARTITION BY band, key ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_t,
       |    first_value(CASE WHEN is_test THEN doc_id END IGNORE NULLS) OVER (
       |      PARTITION BY band, key ORDER BY doc_id
       |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_t,
       |    min(CASE WHEN is_test THEN doc_id END) OVER (
       |      PARTITION BY band, key) AS min_t
       |  FROM banded),
       |cand AS (
       |  SELECT DISTINCT doc_id, test_id FROM (
       |    SELECT doc_id, unnest([prev_t, next_t, min_t]) AS test_id
       |    FROM neigh WHERE NOT is_test)
       |  WHERE test_id IS NOT NULL),
       |ver AS (
       |  SELECT c.doc_id, c.test_id,
       |    CAST(len(list_intersect(ga.grams, gb.grams)) AS DOUBLE)
       |      / (len(ga.grams) + len(gb.grams)
       |         - len(list_intersect(ga.grams, gb.grams))) AS j
       |  FROM cand c
       |  JOIN art ga ON c.doc_id = ga.doc_id
       |  JOIN art gb ON c.test_id = gb.doc_id
       |  WHERE ${sizeRatioSql("ga.grams", "gb.grams")})
       |SELECT doc_id, min(test_id) AS contaminated_by,
       |  round(max(j), 4) AS max_jaccard
       |FROM ver WHERE j >= 0.5
       |GROUP BY 1
       |ORDER BY doc_id""".stripMargin

  val ngramJaccard: String =
    """WITH pos AS (
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
      |  GROUP BY 1, 2)
      |SELECT doc_a, doc_b,
      |  round(c * 1.0 / (sa.n + sb.n - c), 4) AS jaccard
      |FROM inter
      |JOIN sizes sa ON doc_a = sa.doc_id
      |JOIN sizes sb ON doc_b = sb.doc_id
      |WHERE round(c * 1.0 / (sa.n + sb.n - c), 4) >= 0.2
      |ORDER BY doc_a, doc_b""".stripMargin
}
