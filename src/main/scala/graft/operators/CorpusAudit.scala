package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{GoldenHash, QueryDef, Tables}
import graft.Pins.FramePin

/** Corpus-management operators: the planning and versioning surface a
  * training-data platform runs BETWEEN pipeline runs — temperature-
  * based mixture planning (the α-sampling weight computation feeding a
  * mixing stage like [[ScaleOps.dataMixture]]), cross-source vocabulary
  * overlap (which slices duplicate each other's language), and snapshot
  * diffing (what changed between two corpus versions).
  *
  * Scale shapes: every operator reduces the corpus to a
  * vocabulary-bound or source-bound table in its FIRST aggregate; all
  * downstream joins are over those small tables (broadcast), so nothing
  * after the first shuffle scales with the corpus.
  */
object CorpusAudit {

  // -------------------------------------------------- temperature mix

  /** α for the p^α temperature reweighting (the XLM-R/mT5 value class:
    * strong upsampling of small sources).
    */
  val MixAlpha = 0.3

  /** Quantization scale for the per-source p^α terms: pow() is libm-
    * vs-DuckDB ulp-divergent AND the normalizing sum over sources would
    * accumulate in engine-dependent order, so each term is quantized to
    * an INTEGER q_s = round(p_s^α · 1e9) first — integer sums are exact
    * and order-free (the PcaQ convention).
    */
  val MixQ = 1000000000L

  /** Temperature-based sampling plan: per-source token shares p_s, the
    * α-tempered weights w_s = p_s^α / Σ p^α, and the per-source token
    * targets for a budget of half the corpus — the standard
    * multilingual/multi-source rebalancing computation (upsample the
    * tail, downsample the head) emitted as a PLAN table that a mixing
    * stage executes. All inputs to every emitted number are integers or
    * quantized integers; doubles appear only in the final round-6/4
    * emissions.
    */
  def temperatureMix(s: SparkSession, d: String): DataFrame = {
    val nTok = expr("length(text) - length(replace(text, ' ', '')) + 1")
    val perSource = Tables.documents(s, d)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(nTok).as("n_tokens"))
    val totals = perSource.agg(sum(col("n_tokens")).as("t_tokens"))
    val q = round(pow(col("n_tokens") / col("t_tokens").cast("double"), MixAlpha) * MixQ)
      .cast("long")
    val withQ = perSource.crossJoin(broadcast(totals)).withColumn("q", q)
    val qsum = withQ.agg(sum(col("q")).as("q_sum"))
    withQ.crossJoin(broadcast(qsum))
      .select(
        col("source"), col("n_docs"), col("n_tokens"),
        round(col("n_tokens") / col("t_tokens").cast("double"), 6).as("p_raw"),
        round(col("q") / col("q_sum").cast("double"), 6).as("weight"),
        (col("q") / col("q_sum").cast("double") * (col("t_tokens") / lit(2d)))
          .cast("long").as("target_tokens"),
        round(col("q") / col("q_sum").cast("double") * (col("t_tokens") / lit(2d))
          / col("n_tokens"), 4).as("epochs"))
      .orderBy(col("source"))
  }

  // ------------------------------------------------- vocabulary overlap

  /** Pairwise vocabulary Jaccard between sources: |V_a ∩ V_b| /
    * |V_a ∪ V_b| for every source pair (a < b) — the audit that shows
    * which corpus slices are drawing from the same language (near-1
    * overlap between two crawl slices means their mixture weights
    * double-count). The corpus collapses to the distinct (source, word)
    * table in one aggregate; the pair join runs on that vocabulary-
    * bound table, |sources|² pairs in the output.
    */
  def sourceOverlap(s: SparkSession, d: String): DataFrame = {
    // r20: the per-source vocabulary is pinned once (localCheckpoint) —
    // it is referenced three times (sizes + both self-join sides), and
    // unpinned each reference re-ran the corpus explode + distinct
    // aggregate (8 parquet scans for a vocabulary-bound table)
    val vocab = Tables.documents(s, d)
      .select(col("source"), explode(TextAnalysis.words).as("w"))
      .distinct()
      .pin("per-source distinct vocabulary — vocabulary-bound rows")
    val sizes = vocab.groupBy(col("source")).agg(count(lit(1)).as("v"))
    val inter = vocab.toDF("src_a", "w")
      .join(vocab.toDF("src_b", "w"), "w")
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_common"))
    inter
      .join(broadcast(sizes.toDF("src_a", "v_a")), "src_a")
      .join(broadcast(sizes.toDF("src_b", "v_b")), "src_b")
      .select(col("src_a"), col("src_b"), col("v_a"), col("v_b"), col("n_common"),
        round(col("n_common") /
          (col("v_a") + col("v_b") - col("n_common")).cast("double"), 4)
          .as("jaccard"))
      .orderBy(col("src_a"), col("src_b"))
  }

  // ---------------------------------------------------- snapshot diff

  /** The two simulated corpus versions, sliced by DECILES of the
    * 1000-bucket golden hash (`bucket(id,1000) div 100`) — NOT
    * `bucket(id,10)`, which degenerates to `id mod 10` (Gamma ≡ 1
    * mod 10, the recorded GoldenHash arithmetic trap) and would
    * correlate perfectly with the fixture's cyclic source assignment,
    * collapsing the diff to one status per source. Snapshot A drops
    * decile 9, snapshot B drops decile 0 and rewrites decile 5's text,
    * so every source sees removed / added / modified / unchanged rows.
    */
  // floor-division (Spark `/` is double division); non-negative ids, so
  // floor == DuckDB's `//`
  private def hashDecile: Column =
    floor(GoldenHash.bucket(col("doc_id"), 1000) / 100).cast("int")

  private[operators] def snapshotA(docs: DataFrame): DataFrame =
    docs.filter(hashDecile =!= 9)
      .select(col("doc_id"), col("source"), col("text"))

  private[operators] def snapshotB(docs: DataFrame): DataFrame =
    docs.filter(hashDecile =!= 0)
      .select(col("doc_id"), col("source"),
        when(hashDecile === 5,
          concat(col("text"), lit(" v2"))).otherwise(col("text")).as("text"))

  /** Corpus snapshot diff: full-outer join of two versions on doc_id,
    * each doc classified added / removed / modified / unchanged (exact
    * text equality — at 100 TB the comparison runs on a content hash
    * column the snapshots already carry), rolled up per source. The
    * dataset-versioning audit between pipeline runs: growth, churn, and
    * silent-rewrite rates per slice.
    */
  def snapshotDiff(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val a = snapshotA(docs).toDF("doc_id", "src_a", "text_a")
    val b = snapshotB(docs).toDF("doc_id", "src_b", "text_b")
    val status: Column =
      when(col("src_a").isNull, "added")
        .when(col("src_b").isNull, "removed")
        .when(col("text_a") =!= col("text_b"), "modified")
        .otherwise("unchanged")
    a.join(b, Seq("doc_id"), "full_outer")
      .select(coalesce(col("src_a"), col("src_b")).as("source"), status.as("status"))
      .groupBy(col("source"), col("status"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("source"), col("status"))
  }

  // ----------------------------------------------------- DSIR selection

  /** Hashed-feature dimensionality for the DSIR bag-of-bigrams model.
    * Same engine-portable 31-poly hash as [[TextAnalysis.hashEmbed]]
    * (the only string hash both Spark and DuckDB can evaluate
    * identically); 256 buckets comfortably exceeds the fixture's
    * distinct-bigram count scale while keeping the log-ratio sidecar a
    * trivially broadcastable table at any corpus size.
    */
  val DsirDim = 256

  /** Fixed-point scale for per-bucket log-likelihood ratios: each
    * llr_b is quantized to round(llr · 1e6) BIGINT once, so the
    * per-document score is an INTEGER sum — exact and order-free in
    * both engines (the [[MixQ]] / PcaQ convention). ln() itself is
    * evaluated once per bucket (≤ [[DsirDim]] evaluations total), not
    * per document, which is also where the libm-identical assumption
    * is cheapest to hold.
    */
  val DsirQ = 1000000L

  /** Cutpoint-sample size: the 0.8 quantile is computed over the
    * [[DsirCutSample]] candidates with the smallest golden-hash rank,
    * not over every candidate. Spark's exact `percentile` buffers ALL
    * input values in ONE final merge task (an ImperativeAggregate) —
    * over per-doc scores that is O(corpus) driver-task memory at
    * 10⁹–10¹⁰ docs (VERDICT r13 finding #2). A top-K by deterministic
    * hash is a uniform sample BOTH engines replay exactly (no RNG
    * state), plans as per-partition bounded heaps (TakeOrderedAndProject
    * — no task ever holds more than K rows), and caps the percentile
    * buffer at K forever. K = 20,000 puts the p = 0.8 quantile-rank
    * standard error at sqrt(0.8·0.2/K) ≈ 0.28 % — noise relative to the
    * "keep the top ~20 %" selection contract. At the test SFs up to
    * sf0.1 the candidate count is below K, so the sample IS the full
    * set; the sf1 rehearsal (29,410 candidates) exercises the capped
    * path end-to-end against the oracle.
    * Both constants alias [[graft.GoldenHash]]'s fleet-wide cut-sample
    * rule (hoisted there when lmQuality / qualityCalibration /
    * corpusPrep5 adopted the same fix) — one definition, no drift.
    */
  val DsirCutSample: Int = GoldenHash.CutSampleK

  val DsirSampleMod: Int = GoldenHash.CutSampleMod

  /** DSIR — Data Selection via Importance Resampling (Xie et al.,
    * NeurIPS 2023): score every candidate document by the
    * log-likelihood ratio of a hashed bag-of-bigrams model fit on a
    * TARGET split vs the RAW candidate pool, and keep the candidates
    * that look most target-like. Target here is the corpus's `en`
    * slice; candidates are every other document — the standard
    * "match a crawl to a trusted domain" setup with the fixture's
    * language label standing in for the domain. Selection keeps the
    * top ~20%: candidates strictly above the 0.8 quantile of the
    * integer score (equal-probability cut, ties at the cutpoint stay
    * together — the [[ScaleOps.userDeciles]] stance, no global
    * row_number anywhere). The quantile is evaluated over the
    * [[DsirCutSample]]-bounded deterministic hash sample (see there) so
    * no task ever buffers corpus-cardinality values.
    *
    * Scale shape: bigram derivation is scan-stage array algebra
    * (`sequence` positions over the per-doc word array — no window, no
    * shuffle, unlike the LM bigram path which needs cross-row order);
    * the two distribution fits aggregate to ≤ [[DsirDim]] rows each;
    * the log-ratio sidecar is broadcast; the per-doc score is one hash
    * aggregate keyed by doc_id with map-side partials; the quantile
    * cutpoint is an exact percentile over the K-bounded hash sample
    * (TakeOrderedAndProject: per-partition K-heaps, one K-row merge),
    * broadcast back. Everything downstream of the first aggregate is
    * corpus-size-free. Documents with fewer than two tokens carry no
    * bigram evidence and are excluded (they would score an
    * uninformative 0 in the paper's formulation too).
    */
  def dsirSelect(s: SparkSession, d: String): DataFrame =
    dsirSelect(s, d, DsirCutSample)

  /** [[dsirSelect]] with an explicit cut-sample bound (specs shrink it
    * below the candidate count to exercise the sampled path at tiny SF).
    */
  def dsirSelect(s: SparkSession, d: String, cutSample: Int): DataFrame = {
    graft.functions.Registry.ensure(s)
    val words = expr("regexp_extract_all(lower(text), '[a-z]+', 0)")
    // The bucketed-bigram expansion (regex + per-char polynomial hash,
    // by far the expensive scan) is consumed by BOTH distribution fits
    // and the scoring pass — checkpoint it once instead of re-running
    // the expansion per consumer (the minhashIndex materialization
    // stance; measured 3.2 s → 1.9 s at sf0.1). Shrunk to the 3-column
    // (doc_id, lang, bucket) image first so the materialized bytes are
    // minimal. r20: the bucket map is the fused
    // [[graft.functions.BigramBuckets]] codegen expression — identical
    // arithmetic to the old aggregate/transform HOF chain (which was
    // CodegenFallback, ran per bigram OCCURRENCE, and rode a posexplode
    // that duplicated the full words array per row for element_at). No
    // scanSpread: with the fused map the per-row work is light enough
    // that the spread exchange costs more than it parallelizes
    // (measured 0.27 vs 0.16 s for the expansion at sf0.1), and at
    // 100 TB the scan arrives already split.
    val bigrams = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        explode(graft.functions.TextHashFunctions.bigramBuckets(words, DsirDim))
          .as("bucket"))
    // ONE scan fits both distributions (conditional counts per bucket
    // — the full-outer join of two separate scans computed identical
    // rows at twice the bigram-expansion cost, which dominated the
    // plan: the expansion otherwise re-ran for tCounts, rCounts, and
    // the scoring pass)
    val buckets = bigrams
      .groupBy(col("bucket")).agg(
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("t_b"),
        sum(when(col("lang") =!= "en", 1L).otherwise(0L)).as("r_b"))
    val totals = buckets.agg(sum(col("t_b")).as("t_n"), sum(col("r_b")).as("r_n"))
    val llr = buckets.crossJoin(broadcast(totals))
      .select(col("bucket"),
        round((log((col("t_b") + 1).cast("double") / (col("t_n") + DsirDim)) -
               log((col("r_b") + 1).cast("double") / (col("r_n") + DsirDim))) *
          DsirQ).cast("long").as("llr_q"))
    // pin placement: the old per-BIGRAM checkpoint materialized one
    // row per corpus bigram (corpus-bound bytes) to save re-running the
    // then-interpreted expansion; with the fused codegen bucket map the
    // expansion is cheap enough to run once per consumer (buckets fit +
    // scoring pass), and the one materialization left is per-DOC — the
    // smallest frame both downstream consumers (cut sample + final
    // filter) share. Measured 1.61 s (record) → 1.00 s isolated min-of-2
    // at sf0.1; plan: the big crossJoin side reads the checkpoint, not a
    // re-aggregation.
    val scored = bigrams.filter(col("lang") =!= "en")
      .join(broadcast(llr), Seq("bucket"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("llr_q")).as("score_q"))
      .pin("one score row per candidate doc")
    // Cutpoint: exact interpolated percentile over the hash-sampled
    // top-K (bounded buffer — see DsirCutSample). score_q is cast to
    // DOUBLE before the percentile on BOTH sides so Spark and DuckDB
    // interpolate over bit-identical values (ADVICE r13: a
    // BIGINT-vs-DOUBLE asymmetry would diverge past 2^53; per-doc
    // scores reaching 2^53 would need ~10^9 bigrams in one doc, but the
    // symmetric cast removes the bound entirely). The strictly-above
    // compare promotes score_q to double identically in both engines.
    val cut = scored
      .orderBy(GoldenHash.bucket(col("doc_id"), DsirSampleMod), col("doc_id"))
      .limit(cutSample)
      .agg(expr("percentile(cast(score_q as double), 0.8d)").as("c"))
    // score_q IS the log importance weight at 1e-6 scale; no derived
    // float emission — a /1e6 re-scaling round-4'd for readability put
    // exactly-half values (…50 at the 1e6 scale, common) on the Spark
    // BigDecimal-vs-DuckDB raw-double round boundary and diverged at
    // sf0.01. The integer image is the honest cross-engine contract.
    scored.crossJoin(broadcast(cut))
      .filter(col("score_q") > col("c"))
      .select(col("doc_id"), col("lang"), col("n_bigrams"), col("score_q"))
      .orderBy(col("doc_id"))
  }

  // ---------------------------------------------------- Moore-Lewis

  /** Quantization scale for the per-word cross-entropy difference
    * (micro-nats — the [[DsirQ]] convention). Half-value convention:
    * `round(x · MlewQ)` rounds ties AWAY FROM ZERO in both engines
    * (Spark round() is BigDecimal HALF_UP; DuckDB round() matches) —
    * an ln-ratio landing on an exact .5 micro-nat is practically
    * impossible, but the plain-Scala spec replays quantize via the
    * same HALF_UP rule (not `math.round`, which rounds negative
    * halves toward +inf — ADVICE r17).
    */
  val MlewQ = 1000000L

  /** `q_moore_lewis_select` — cross-entropy-difference data selection
    * (Moore & Lewis, ACL 2010 — the method the DSIR paper positions its
    * hashed importance weights against): fit an add-one-smoothed
    * word-unigram LM on the in-domain slice (`lang = 'en'`, the
    * [[dsirSelect]] target) and another on the general remainder, both
    * smoothed over the JOINT vocabulary, then score every candidate
    * (non-`en`) document by Σ_w [ln P_in(w) − ln P_gen(w)] over its
    * tokens and keep the documents whose PER-TOKEN average favors the
    * in-domain model. The length-normalized criterion `avg > 0` is
    * applied as the integer cross-multiplication `score_q > 0` (avg and
    * sum share a sign; n_tokens > 0 by construction), so no float
    * division can flip a verdict — the [[UnigramLm.unigramPplFilter]]
    * keep-rule convention.
    *
    * Differences from [[dsirSelect]], which is this method's hashed
    * descendant: per-WORD ratios instead of [[DsirDim]] hash buckets
    * (no collision noise — the sidecar is vocab-bound, so the score
    * join is a shuffle join on `word`, never an unconditional
    * broadcast: at corpus scale the vocabulary is itself large), and an
    * absolute threshold gate (avg LLR > 0) instead of a top-quantile
    * cut — the selected share is a MEASUREMENT of domain match, not a
    * preset budget, which is how Moore-Lewis is used to size a
    * selection before committing to it.
    *
    * Scoring-join shape (VERDICT r17 finding 1): the per-token stream
    * is NEVER shuffled on `word` — one row per token occurrence keyed
    * on a Zipfian column means the "the"/"of" partitions carry billions
    * of rows at corpus scale (AQE skew-split moves the straggler, not
    * the shuffled volume). Instead the candidate side pre-aggregates to
    * per-(doc_id, lang, word) COUNTS first: the composite key is
    * well-distributed (the Zipf mass spreads across documents), partial
    * aggregation collapses repeats map-side, and the `llr` join then
    * carries one row per distinct word per document. The per-doc sum
    * Σ n·llr_q over counts equals the per-occurrence Σ llr_q exactly
    * (integer algebra), so the oracle — which replays the occurrence
    * form — is unchanged; [[graft.MooreLewisPlanSpec]] pins the
    * aggregate-below-join shape.
    *
    * ln() portability: evaluated once per DISTINCT word (vocab-bound,
    * never corpus-bound) and quantized to BIGINT micro-nats BEFORE the
    * per-doc sum — integer sums are exact and order-free (the
    * [[DsirQ]]/PcaQ convention, proven at three SFs on `q_dsir_select`).
    * Documents with zero `[a-z]+` tokens have no rows to score and are
    * absent from the output in both engines (the `unnest`-of-empty
    * shape both sides share).
    */
  def mooreLewisSelect(s: SparkSession, d: String): DataFrame = {
    val words = expr("regexp_extract_all(lower(text), '[a-z]+', 0)")
    // one token-expansion scan feeds both LM fits and the scoring pass
    // (the dsirSelect double-consumption stance)
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), explode(words).as("word"))
      .pin("one row per corpus token (the dsirSelect expansion bound)")
    // ONE scan fits both distributions: conditional counts per word.
    // Pinned because BOTH `totals` and `llr` consume it and exchange
    // reuse across the two is planner-dependent (a plan that does not
    // reuse the exchange re-runs the corpus-sized word aggregate for the
    // totals side) — the materialization is vocab-bound, never
    // corpus-bound.
    val counts = toks.groupBy(col("word")).agg(
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("t_w"),
      sum(when(col("lang") =!= "en", 1L).otherwise(0L)).as("r_w"))
      .pin("one row per distinct corpus word (vocab-bound)")
    val totals = counts.agg(
      sum(col("t_w")).as("t_n"), sum(col("r_w")).as("r_n"),
      count(lit(1)).as("v"))
    val llr = counts.crossJoin(broadcast(totals))
      .select(col("word"),
        round((log((col("t_w") + 1).cast("double") / (col("t_n") + col("v"))) -
               log((col("r_w") + 1).cast("double") / (col("r_n") + col("v")))) *
          MlewQ).cast("long").as("llr_q"))
    // every candidate word is in the joint vocab by construction (its
    // own occurrences fed r_w), so the inner join is total; the join
    // input is pre-aggregated per-(doc, lang, word) counts — see the
    // scoring-join-shape scaladoc above
    toks.filter(col("lang") =!= "en")
      .groupBy(col("doc_id"), col("lang"), col("word"))
      .agg(count(lit(1)).as("n"))
      .join(llr, Seq("word"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("n")).as("n_tokens"),
        sum(col("n") * col("llr_q")).as("score_q"))
      .withColumn("keep", col("score_q") > 0L)
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        col("score_q"), col("keep"))
      .orderBy(col("doc_id"))
  }

  // ------------------------------------------- Moore-Lewis on a delta

  /** `q_moore_lewis_delta` — the PRODUCTION shape of [[mooreLewisSelect]]:
    * both LMs are FROZEN on the at-rest corpus (the `bucket(doc_id,20)
    * ≠ 7` slice, the admission-loop convention), and the incoming delta
    * batch (bucket 7) is scored under them. This is where the
    * out-of-vocab class the ppl filter was caught on (VERDICT r16
    * finding 2) bites by construction: a delta word absent from the
    * at-rest vocabulary would silently contribute NOTHING under an
    * inner join. Here an OOV word pays the smoothing-consistent floor
    * the add-one model already defines — both unseen probabilities are
    * 1/(n+|V|), so its LLR is the CONSTANT ln((r_n+|V|)/(t_n+|V|)),
    * quantized once on the totals row (no per-word ln for the unseen
    * mass, no ad-hoc penalty to tune). That constant carries add-one's
    * known size artifact — with a general corpus larger than the
    * in-domain one it is POSITIVE, so unseen words vote "in-domain" —
    * which is why the keep rule here is two-part: the sign of the
    * integer sum AND a majority-known guard (`2·n_oov ≤ n_tokens`,
    * integer cross-multiplied). A document the frozen vocabulary has
    * mostly never seen has no trustworthy verdict under either LM; it
    * is NOT admitted (the exact gibberish-passes-the-gate failure
    * VERDICT r16 finding 2 caught on the ppl filter), and its emitted
    * `n_oov` routes the batch to the vocab-drift monitors instead.
    *
    * Scale shape: identical to [[mooreLewisSelect]] — the at-rest fit
    * is one conditional-count aggregate over the token expansion, the
    * delta side pre-aggregates to per-(doc, lang, word) counts before
    * the one left join against the vocab-bound sidecar (the same
    * Zipf-key refusal as the select form; `n_oov` becomes Σ n over
    * unmatched words, `score_q` becomes Σ n·coalesce(llr_q, unk_q) —
    * identical integers), and the batch cost is ∝ batch, never ∝
    * corpus (the fit is frozen; in the streaming loops it would be a
    * pinned artifact like the minhash index).
    */
  def mooreLewisDelta(s: SparkSession, d: String): DataFrame =
    mooreLewisDeltaOf(Tables.documents(s, d))

  /** [[mooreLewisDelta]] over an explicit `(doc_id, lang, text)` frame
    * (specs plant OOV-bearing delta batches through this): fit on the
    * non-delta slice ([[mooreLewisFit]]), score the delta slice
    * ([[mooreLewisScoreCore]]) — the SAME two bodies the streaming
    * admission gate runs against its pinned sidecar, so the served
    * path cannot drift from the oracle-verified one.
    */
  private[graft] def mooreLewisDeltaOf(docs: DataFrame): DataFrame = {
    val flagged = docs.withColumn(
      "is_delta", GoldenHash.bucket(col("doc_id"), 20) === 7)
    val (llr, unk) = mooreLewisFit(flagged.filter(!col("is_delta"))
      .select(col("doc_id"), col("lang"), col("text")))
    mooreLewisScoreCore(flagged.filter(col("is_delta"))
      .select(col("doc_id"), col("lang"), col("text")), llr, unk)
  }

  /** Fit the two frozen add-one word-unigram LMs over an at-rest
    * `(doc_id, lang, text)` frame: the vocab-bound LLR sidecar
    * `(word, llr_q)` and the one-row unseen-word constant `(unk_q)` —
    * both unseen probabilities are 1/(n+|V|), so the OOV ratio
    * collapses to ln((r_n+|V|)/(t_n+|V|)), quantized once on the
    * totals row. [[mooreLewisDeltaOf]] derives these inline;
    * [[writeMooreLewisLm]] pins them at wiring time for the streaming
    * gate. One conditional-count aggregate over the token expansion;
    * everything downstream of it is vocab-bound.
    */
  private[graft] def mooreLewisFit(atRest: DataFrame): (DataFrame, DataFrame) = {
    val words = expr("regexp_extract_all(lower(text), '[a-z]+', 0)")
    // pinned for the totals/llr double-consumption reason
    // [[mooreLewisSelect]] documents (vocab-bound materialization)
    val counts = atRest
      .select(col("lang"), explode(words).as("word"))
      .groupBy(col("word")).agg(
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("t_w"),
        sum(when(col("lang") =!= "en", 1L).otherwise(0L)).as("r_w"))
      .pin("one row per distinct at-rest word (vocab-bound)")
    val totals = counts.agg(
      sum(col("t_w")).as("t_n"), sum(col("r_w")).as("r_n"),
      count(lit(1)).as("v"))
    val llr = counts.crossJoin(broadcast(totals))
      .select(col("word"),
        round((log((col("t_w") + 1).cast("double") / (col("t_n") + col("v"))) -
               log((col("r_w") + 1).cast("double") / (col("r_n") + col("v")))) *
          MlewQ).cast("long").as("llr_q"))
    val unk = totals.select(
      round((log((col("r_n") + col("v")).cast("double")) -
             log((col("t_n") + col("v")).cast("double"))) * MlewQ)
        .cast("long").as("unk_q"))
    (llr, unk)
  }

  /** Score one delta batch of `(doc_id, lang, text)` docs against a
    * fitted `(llr, unk)` pair — the shared scoring body of
    * [[mooreLewisDeltaOf]] and [[mooreLewisGateBatch]]. Candidates are
    * non-`en` docs (the [[mooreLewisSelect]] universe); the join input
    * is per-(doc, lang, word) COUNTS (the r17-finding-1 shape; the
    * batch side is the only side that shuffles — the pinned sidecar is
    * bucketed on `word`), left-joined so an OOV word pays `n · unk_q`
    * and contributes `n` to `n_oov`; keep = sign of the integer sum
    * AND the majority-known guard.
    */
  private[graft] def mooreLewisScoreCore(
      batch: DataFrame, llr: DataFrame, unk: DataFrame): DataFrame = {
    val words = expr("regexp_extract_all(lower(text), '[a-z]+', 0)")
    batch.filter(col("lang") =!= "en")
      .select(col("doc_id"), col("lang"), explode(words).as("word"))
      .groupBy(col("doc_id"), col("lang"), col("word"))
      .agg(count(lit(1)).as("n"))
      .join(llr, Seq("word"), "left")
      .crossJoin(broadcast(unk))
      .select(col("doc_id"), col("lang"), col("n"),
        when(col("llr_q").isNull, col("n")).otherwise(lit(0L)).as("oov"),
        (col("n") * coalesce(col("llr_q"), col("unk_q"))).as("w_q"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum(col("n")).as("n_tokens"), sum(col("oov")).as("n_oov"),
        sum(col("w_q")).as("score_q"))
      .withColumn("keep",
        col("score_q") > 0L && col("n_oov") * 2 <= col("n_tokens"))
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("n_oov"),
        col("score_q"), col("keep"))
      .orderBy(col("doc_id"))
  }

  /** Pin the frozen Moore-Lewis LMs beside a prefix's other at-rest
    * artifacts (the [[Dedup.writeDedupIndex]] stance — VERDICT r17
    * item 2): the LLR sidecar bucketed on `word`, so per-batch probe
    * joins never reshuffle the index side, plus the one-row unseen
    * constant. Wiring-time step of the unified ingest's optional
    * frozen-LM admission gate.
    */
  def writeMooreLewisLm(atRest: DataFrame, prefix: String, buckets: Int = 8): Unit = {
    val (llr, unk) = mooreLewisFit(atRest)
    graft.storage.LogStore.writeBucketed(llr, s"${prefix}_ml_llr", "word", buckets)
    graft.storage.LogStore.writeBucketed(unk, s"${prefix}_ml_unk", "unk_q", 1)
    // the frozen BUDGET cutpoint (VERDICT r18 item 3): the 0.8 score
    // quantile over the at-rest candidates under the just-frozen LM,
    // computed by the same cutpoint machinery q_moore_lewis_budget runs
    // ([[mooreLewisCutpointOf]] — shared body, so the rules cannot
    // drift) and pinned as a one-row sidecar. A streaming micro-batch
    // cannot compute a global quantile; a deployment that wants the
    // budget-matched rule gates each batch against THIS frozen value
    // and watches the monitor's kept share against the at-rest 20% for
    // cutpoint staleness. At-rest scoring under the at-rest fit has no
    // OOV by construction, so the cutpoint matches the select-form
    // scores exactly.
    val cut = mooreLewisCutpointOf(
      mooreLewisScoreCore(atRest, llr, unk)).select(col("c").as("cut"))
    graft.storage.LogStore.writeBucketed(cut, s"${prefix}_ml_cut", "cut", 1)
  }

  /** Score one ingest micro-batch against the PINNED sidecar — the
    * streaming admission gate's body: [[mooreLewisScoreCore]] over the
    * `${prefix}_ml_llr` / `${prefix}_ml_unk` tables
    * [[writeMooreLewisLm]] wrote. Stateless and frozen, so a replayed
    * batch re-derives identical verdicts; per-batch cost ∝ batch.
    *
    * `rule` picks which keep rule the verdicts carry (VERDICT r18 item
    * 3), mirroring the two oracle-checked batch forms:
    *  - `threshold` — [[mooreLewisDelta]]'s absolute sign gate:
    *    `score_q > 0`;
    *  - `budget` — [[mooreLewisBudget]]'s equal-budget cut against the
    *    FROZEN at-rest cutpoint `${prefix}_ml_cut`:
    *    `score_q > cut` (strict, the budget form's tie stance).
    * Both rules keep the majority-known guard (`2·n_oov ≤ n_tokens`) —
    * it rejects documents the frozen vocabulary cannot adjudicate at
    * all, which is orthogonal to HOW trusted scores are thresholded
    * (the [[mooreLewisDelta]] scaladoc's gibberish rationale). The
    * batch-side plan is identical either way: the budget rule adds one
    * literal scalar comparison.
    *
    * The verdicts CARRY the rule's score verdict without the guard as
    * a trailing `score_keep` column (VERDICT r19 item 2):
    * [[mooreLewisGateMonitor]] reads its binding-guard counter off that
    * column, so a standalone `budget` caller composing
    * gateBatch→gateMonitor cannot silently get threshold-rule
    * attribution — the correct pairing rides the rows themselves and
    * is not caller-optional.
    *
    * `cut` is the frozen budget cutpoint as a wiring-time scalar: the
    * unified ingest reads it ONCE at wiring via [[mooreLewisCut]] and
    * threads it here per batch, so verdicts and monitor judge against
    * the SAME value even if the sidecar is re-pinned mid-stream
    * (ADVICE r19). A standalone budget caller may omit it — the pinned
    * table is then read (and validated) per call.
    */
  def mooreLewisGateBatch(s: SparkSession, batch: DataFrame, prefix: String,
      rule: String = "threshold", cut: Option[Double] = None): DataFrame = {
    val scored = mooreLewisScoreCore(batch,
      s.table(s"${prefix}_ml_llr"), s.table(s"${prefix}_ml_unk"))
    val scoreKeep: Column = rule match {
      case "threshold" => col("score_q") > 0L
      case "budget"    => col("score_q") > lit(cut.getOrElse(mooreLewisCut(s, prefix)))
      case other => sys.error(
        s"mooreLewisGateBatch: unknown rule '$other' (threshold | budget)")
    }
    scored
      .withColumn("score_keep", scoreKeep)
      .withColumn("keep", col("score_keep") && col("n_oov") * 2 <= col("n_tokens"))
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("n_oov"),
        col("score_q"), col("keep"), col("score_keep"))
      .orderBy(col("doc_id"))
  }

  /** Read the pinned frozen budget cutpoint `${prefix}_ml_cut` as a
    * scalar, failing LOUD on a degenerate sidecar (ADVICE r19: the raw
    * `.head().getDouble(0)` threw an opaque NullPointerException when
    * the percentile was pinned over an EMPTY at-rest candidate set —
    * e.g. an all-`en` corpus — and a mis-pinned gate must refuse to
    * wire with a message that says how to fix it, not die on the first
    * batch). One bounded read of a one-row bucketed sidecar.
    */
  def mooreLewisCut(s: SparkSession, prefix: String): Double = {
    val rows = s.table(s"${prefix}_ml_cut").collect()
    require(rows.length == 1 && !rows.head.isNullAt(0),
      s"Moore-Lewis cutpoint table ${prefix}_ml_cut is " +
        s"${if (rows.isEmpty) "empty" else if (rows.length > 1) "multi-row" else "NULL"} " +
        s"(pinned over an at-rest slice with no non-en candidates?) — " +
        s"re-pin with CorpusAudit.writeMooreLewisLm('$prefix') over a " +
        s"corpus that has budget-rule candidates")
    rows.head.getDouble(0)
  }

  /** One monitor row per gated batch — the n_oov share the scaladoc of
    * [[mooreLewisDelta]] promises to the vocab-drift monitors, emitted
    * beside the unified ingest's four drift flags: candidate/kept
    * counts, total and OOV token mass, the OOV share in exact integer
    * micros (the datacard `DIV` rule), how many candidates the
    * majority-known guard ALONE rejected (OOV-majority docs whose score
    * the active rule would otherwise keep — the guard is the BINDING
    * rule there; docs failing both rules are plain score rejects, so
    * the counter no longer over-attributes them to vocab drift —
    * ADVICE r18), and the batch kept share in integer micros. Under the
    * budget rule the kept share is the cutpoint-staleness signal: the
    * frozen cutpoint keeps ~20% of AT-REST candidates by construction
    * (strictly above the 0.8 quantile), so a sustained batch kept-share
    * drift away from ~200000 micros means the corpus has moved and the
    * sidecar wants re-pinning.
    *
    * The binding-guard counter needs the rule's score verdict without
    * the guard: `keep` already conjoins both, so it reads the
    * `score_keep` column [[mooreLewisGateBatch]] carries on every
    * verdict row (VERDICT r19 item 2 — the former free-form `scoreKeep`
    * Column parameter defaulted to the threshold sign rule, so a
    * standalone `budget` caller who omitted it silently reconstructed
    * the ADVICE-r18 over-attribution bug; with the verdict riding the
    * rows, a mismatched rule/attribution pairing is unrepresentable).
    */
  def mooreLewisGateMonitor(scored: DataFrame): DataFrame =
    scored.agg(
      count(lit(1)).as("n_candidates"),
      coalesce(sum(when(col("keep"), 1L).otherwise(0L)), lit(0L)).as("n_kept"),
      coalesce(sum(col("n_tokens")), lit(0L)).as("n_tokens"),
      coalesce(sum(col("n_oov")), lit(0L)).as("n_oov"),
      coalesce(sum(when(col("n_oov") * 2 > col("n_tokens") && col("score_keep"),
        1L).otherwise(0L)), lit(0L)).as("n_oov_rejected"))
      .withColumn("oov_share_micro",
        when(col("n_tokens") === 0L, lit(0L))
          .otherwise(expr("(1000000 * n_oov) DIV n_tokens")))
      .withColumn("kept_share_micro",
        when(col("n_candidates") === 0L, lit(0L))
          .otherwise(expr("(1000000 * n_kept) DIV n_candidates")))

  // ---------------------------------------------- Moore-Lewis budget

  /** `q_moore_lewis_budget` (VERDICT r17 item 6) — [[mooreLewisSelect]]
    * rescored as a BUDGET selection: instead of the absolute sign gate
    * (avg LLR > 0 — a measurement, not a budget), keep the candidates
    * strictly above the 0.8 quantile of `score_q`, i.e. the same
    * top-~20% budget [[dsirSelect]] commits to. This is the form that
    * makes a selection-method comparison honest: the threshold gate and
    * the quantile cut keep arbitrarily different set SIZES, and kept-set
    * Jaccard between mismatched budgets measures the budget mismatch,
    * not the methods' agreement ([[selectionCompare]]'s `budget` rows
    * consume this).
    *
    * Cutpoint machinery is [[dsirSelect]]'s, verbatim: the quantile is
    * an exact interpolated percentile over the [[DsirCutSample]]
    * candidates with the smallest golden-hash rank (per-partition
    * bounded heaps — TakeOrderedAndProject — so no task ever buffers
    * corpus-cardinality scores; ties at the cutpoint stay together),
    * DOUBLE-cast symmetrically in both engines before interpolation.
    */
  def mooreLewisBudget(s: SparkSession, d: String): DataFrame =
    mooreLewisBudgetOf(mooreLewisSelect(s, d))

  /** The 0.8 score-quantile cutpoint over a scored frame — ONE row
    * `(c double)` via [[dsirSelect]]'s machinery verbatim (golden-hash-
    * ranked [[DsirCutSample]] sample, per-partition bounded heaps —
    * TakeOrderedAndProject — exact interpolated percentile, symmetric
    * DOUBLE cast). Shared by [[mooreLewisBudgetOf]] (computed per run)
    * and [[writeMooreLewisLm]] (pinned frozen for the streaming gate's
    * budget rule), so the two cannot drift.
    */
  private[graft] def mooreLewisCutpointOf(scored: DataFrame): DataFrame =
    scored.select(col("doc_id"), col("score_q"))
      .orderBy(GoldenHash.bucket(col("doc_id"), DsirSampleMod), col("doc_id"))
      .limit(DsirCutSample)
      .agg(expr("percentile(cast(score_q as double), 0.8d)").as("c"))

  /** The budget cut over an already-scored [[mooreLewisSelect]] frame —
    * [[selectionCompare]] scores ONCE and feeds both rules from it.
    */
  private[graft] def mooreLewisBudgetOf(scored: DataFrame): DataFrame = {
    val base = scored.select(
      col("doc_id"), col("lang"), col("n_tokens"), col("score_q"))
    val cut = mooreLewisCutpointOf(scored)
    base.crossJoin(broadcast(cut))
      .filter(col("score_q") > col("c"))
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("score_q"))
      .orderBy(col("doc_id"))
  }

  /** `q_moore_lewis_budget_delta` — the BATCH twin of the streaming
    * gate's budget rule ([[mooreLewisGateBatch]] with `rule = "budget"`),
    * exactly as [[mooreLewisDelta]] is the threshold rule's: both LMs
    * AND the cutpoint are frozen on the at-rest slice (the
    * `bucket(doc_id,20) ≠ 7` admission-loop convention — the same
    * artifacts [[writeMooreLewisLm]] pins), and the delta batch is
    * scored under them with keep = `score_q > cut` (strict, the
    * [[mooreLewisBudget]] tie stance) AND the majority-known guard.
    * The at-rest side has no OOV by construction (its words ARE the
    * vocabulary), so the frozen cutpoint is the 0.8 quantile of the
    * select-form scores; the delta side pays the usual `unk_q` floor
    * and emits `n_oov` like the threshold twin.
    *
    * Scale shape: [[mooreLewisDelta]]'s plus ONE K-bounded
    * TakeOrderedAndProject over the at-rest scores (the shared
    * [[mooreLewisCutpointOf]] machinery) broadcast as a one-row plan
    * constant — per-delta cost stays ∝ batch. The LLR sidecar is
    * pinned here because BOTH scoring passes (at-rest for the cut,
    * delta for the verdicts) consume it.
    */
  def mooreLewisBudgetDelta(s: SparkSession, d: String): DataFrame =
    mooreLewisBudgetDeltaOf(Tables.documents(s, d))

  /** [[mooreLewisBudgetDelta]] over an explicit `(doc_id, lang, text)`
    * frame — StreamingSpec pins the budget-rule gate's per-batch parity
    * against this (the [[mooreLewisDeltaOf]] convention), so the served
    * path cannot drift from the oracle-verified one.
    */
  private[graft] def mooreLewisBudgetDeltaOf(docs: DataFrame): DataFrame = {
    val flagged = docs.withColumn(
      "is_delta", GoldenHash.bucket(col("doc_id"), 20) === 7)
    val atRest = flagged.filter(!col("is_delta"))
      .select(col("doc_id"), col("lang"), col("text"))
    val (llr0, unk) = mooreLewisFit(atRest)
    val llr = llr0.pin("one row per at-rest vocab word (two scoring consumers)")
    val cut = mooreLewisCutpointOf(mooreLewisScoreCore(atRest, llr, unk))
    mooreLewisScoreCore(flagged.filter(col("is_delta"))
      .select(col("doc_id"), col("lang"), col("text")), llr, unk)
      .crossJoin(broadcast(cut))
      .withColumn("keep",
        col("score_q") > col("c") && col("n_oov") * 2 <= col("n_tokens"))
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("n_oov"),
        col("score_q"), col("keep"))
      .orderBy(col("doc_id"))
  }

  // ---------------------------------------------- selection compare

  /** `q_selection_compare` — the agreement audit between the two data-
    * selection methods, per candidate language: how many documents
    * [[dsirSelect]] (hashed top-quantile) and Moore-Lewis each keep,
    * the 2×2 overlap (both / DSIR-only / Moore-Lewis-only / neither),
    * and their agreement as exact integer micros (Jaccard of the kept
    * sets and raw agreement over all candidates) — the table consulted
    * before committing a selection strategy at a new corpus scale,
    * where the two methods' disagreement band IS the set of documents
    * worth manual review.
    *
    * Two row sets, keyed by `ml_rule` (VERDICT r17 item 6): the
    * `threshold` rows compare [[mooreLewisSelect]]'s absolute sign gate
    * against DSIR — methodologically mismatched kept-set sizes, so the
    * Jaccard there measures how far the measurement-style gate sits
    * from a fixed budget; the `budget` rows compare
    * [[mooreLewisBudget]] (same top-~20% quantile cut as DSIR) at EQUAL
    * budget, which is the honest method-agreement number. Both ML rules
    * read ONE scored frame, pinned here because THREE consumers
    * re-read it (the threshold rows, the budget cutpoint sample, and
    * the budget filter) and the frame is candidate-bound (the
    * [[mooreLewisSelect]] double-consumption stance).
    *
    * Composition stance (the [[corpusDatacard]] precedent): the engine
    * composes the SAME builders the oracle-checked constituents run,
    * and the oracle embeds the constituents' full replay SQL as derived
    * tables, so this check asserts only the wiring. Candidate universe
    * = Moore-Lewis's output (every worded non-`en` doc); both kept sets
    * are subsets of the same universe by construction. Integer-micro
    * shares follow the datacard's exact `DIV` rule.
    */
  def selectionCompare(s: SparkSession, d: String): DataFrame = {
    val scored = mooreLewisSelect(s, d)
      .pin("one row per candidate doc (worded non-en)")
    val budgetKept = mooreLewisBudgetOf(scored)
      .select(col("doc_id"), lit(true).as("b_keep"))
    val dsirKept = dsirSelect(s, d)
      .select(col("doc_id"), lit(true).as("dsir_keep"))
    val base = scored
      .select(col("doc_id"), col("lang"), col("keep").as("thr_keep"))
      .join(budgetKept, Seq("doc_id"), "left")
      .join(dsirKept, Seq("doc_id"), "left")
      .na.fill(false, Seq("b_keep", "dsir_keep"))
    val byRule = base
      .select(lit("threshold").as("ml_rule"), col("lang"),
        col("thr_keep").as("ml_keep"), col("dsir_keep"))
      .unionByName(base.select(lit("budget").as("ml_rule"), col("lang"),
        col("b_keep").as("ml_keep"), col("dsir_keep")))
    byRule
      .groupBy(col("ml_rule"), col("lang"))
      .agg(
        count(lit(1)).as("n_candidates"),
        sum(when(col("ml_keep") && col("dsir_keep"), 1L).otherwise(0L)).as("n_both"),
        sum(when(!col("ml_keep") && col("dsir_keep"), 1L).otherwise(0L)).as("n_dsir_only"),
        sum(when(col("ml_keep") && !col("dsir_keep"), 1L).otherwise(0L)).as("n_ml_only"),
        sum(when(!col("ml_keep") && !col("dsir_keep"), 1L).otherwise(0L)).as("n_neither"))
      .select(col("ml_rule"), col("lang"), col("n_candidates"), col("n_both"),
        col("n_dsir_only"), col("n_ml_only"), col("n_neither"),
        when(col("n_both") + col("n_dsir_only") + col("n_ml_only") === 0L, lit(0L))
          .otherwise(expr("(1000000 * n_both) DIV (n_both + n_dsir_only + n_ml_only)"))
          .as("kept_jaccard_micro"),
        expr("(1000000 * (n_both + n_neither)) DIV n_candidates")
          .as("agreement_micro"))
      .orderBy(col("ml_rule"), col("lang"))
  }

  // ------------------------------------------------------------- registry

  // -------------------------------------------------- corpus datacard

  /** `q_corpus_datacard` (VERDICT r16 item 3): the standard deliverable
    * of a training-data pipeline as ONE per-source table — docs, token
    * totals under BOTH production tokenizers, exact/near-dup rates,
    * pass shares of all four quality gates (heuristic / bigram-LM /
    * trained classifier / unigram perplexity), the Moore-Lewis keep
    * shares over its candidate universe under BOTH admission rules —
    * threshold sign and equal-budget quantile cut (the selection
    * family — VERDICT r18 item 4 + r19 item 5, so a corpus owner reads
    * both candidate-admission shares in the one table), the language mix
    * summary, and benchmark-contamination counts. Every column is a
    * regrouping of an ORACLE-CHECKED constituent query — the engine
    * composes the same shared builders those queries run
    * ([[Dedup.minhashDedup]], [[BpeTrain.bpeApply]],
    * [[UnigramLm.unigramApply]]/[[UnigramLm.unigramPplFilter]],
    * [[TextAnalysis.textQuality]]/[[TextAnalysis.lmQuality]]/
    * [[TextAnalysis.modelQuality]], [[Dedup.minhashDecontaminate]],
    * [[mooreLewisSelect]]) and
    * the oracle embeds each constituent's FULL replay SQL as a derived
    * table (the `q_dedup_cluster_stats` precedent), so the datacard
    * check asserts only the wiring. Shares are exact integer micro
    * units (`(1e6·n) DIV n_docs`) — the repo's quantization convention.
    *
    * Scale shape: one text-partitioned window for the exact-dup flag
    * (the `dedupExact` grouping, flagged per doc), then doc_id-keyed
    * left joins of per-doc constituent outputs — each constituent is
    * the linear chain its own bench/verify slot already certifies; the
    * rollup adds one groupBy(source) over (doc_id, flags) rows. Lang
    * mix: distinct-lang count plus the modal language per source
    * (row_number over source partitions — source-bound, never
    * corpus-bound).
    */
  def corpusDatacard(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the BPE oracle replays from the pinned merges artifact; pin it
    // here so the datacard verifies standalone (the tokenizerCompare
    // precedent — bpeApply itself relies on q_bpe_train having run)
    BpeTrain.ensureMergesPinned(s, d)
    val docs = Tables.documents(s, d)
    val base = docs.select(col("doc_id"), col("source"), col("lang"))
    // digest-partitioned, not text-partitioned: the window key must not
    // be the full document body at 100 TB (the dedupExact convention —
    // VERDICT r17 finding 2); identical texts share a digest, so the
    // flag is unchanged
    val exact = docs.select(col("doc_id"),
      (col("doc_id") > min(col("doc_id"))
        .over(Window.partitionBy(sha2(col("text"), 256))))
        .as("exact_dup"))
    val near = Dedup.minhashDedup(s, d)
      .select(col("doc_id"), col("is_duplicate").as("near_dup"))
    val bpe = BpeTrain.bpeApply(s, d)
      .select(col("doc_id"), col("n_words"), col("n_bpe_tokens"))
    val uni = UnigramLm.unigramApply(s, d)
      .select(col("doc_id"), col("n_unigram_tokens"))
    val tq = TextAnalysis.textQuality(s, d)
      .select(col("doc_id"), (col("quality") === "ok").as("hq"))
    val lmq = TextAnalysis.lmQuality(s, d)
      .select(col("doc_id"), (!col("low_quality")).as("lmk"))
    val clf = TextAnalysis.modelQuality(s, d)
      .select(col("doc_id"), col("keep").as("clfk"))
    val ppl = UnigramLm.unigramPplFilter(s, d)
      .select(col("doc_id"), col("keep").as("pplk"))
    val contam = Dedup.minhashDecontaminate(s, d)
      .select(col("doc_id"), lit(true).as("contam"))
    // the selection family beside the quality gates: Moore-Lewis
    // verdicts under BOTH admission rules the deployment chooses
    // between — the threshold
    // sign rule's keep flag and [[mooreLewisBudget]]'s top-~20%
    // quantile cut — reusing the committed replay chains like every
    // other constituent; the scored frame is pinned because three
    // consumers re-read it (threshold flags, the budget cutpoint
    // sample, the budget filter — the [[selectionCompare]] stance).
    // Only non-`en` worded docs carry a verdict (the candidate
    // universe), so both keep shares are over CANDIDATES — `en` docs
    // are in-domain by definition, and folding them into the
    // denominator would understate the rules' real cut on the docs
    // they actually adjudicate.
    val mlScored = mooreLewisSelect(s, d)
      .pin("one row per ML candidate (threshold + budget datacard shares)")
    val mls = mlScored.select(col("doc_id"), col("keep").as("mlk"))
    val mlb = mooreLewisBudgetOf(mlScored)
      .select(col("doc_id"), lit(true).as("mlbk"))

    val joined = base
      .join(exact, Seq("doc_id"), "left")
      .join(near, Seq("doc_id"), "left")
      .join(bpe, Seq("doc_id"), "left")
      .join(uni, Seq("doc_id"), "left")
      .join(tq, Seq("doc_id"), "left")
      .join(lmq, Seq("doc_id"), "left")
      .join(clf, Seq("doc_id"), "left")
      .join(ppl, Seq("doc_id"), "left")
      .join(contam, Seq("doc_id"), "left")
      .join(mls, Seq("doc_id"), "left")
      .join(mlb, Seq("doc_id"), "left")

    val perSource = joined.groupBy(col("source")).agg(
      count(lit(1)).as("n_docs"),
      countDistinct(col("lang")).as("n_langs"),
      coalesce(sum(col("n_words")), lit(0L)).as("n_words"),
      coalesce(sum(col("n_bpe_tokens")), lit(0L)).as("n_bpe_tokens"),
      coalesce(sum(col("n_unigram_tokens")), lit(0L)).as("n_unigram_tokens"),
      count(when(col("exact_dup"), 1)).as("n_exact_dups"),
      count(when(col("near_dup"), 1)).as("n_near_dups"),
      count(when(col("hq"), 1)).as("n_heuristic_pass"),
      count(when(col("lmk"), 1)).as("n_lm_pass"),
      count(when(col("clfk"), 1)).as("n_classifier_pass"),
      count(when(col("pplk"), 1)).as("n_ppl_pass"),
      count(col("contam")).as("n_contaminated"),
      count(col("mlk")).as("n_ml_candidates"),
      count(when(col("mlk"), 1)).as("n_ml_pass"),
      count(when(col("mlbk"), 1)).as("n_ml_budget_pass"))

    val langMix = base.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n"))
    val wTop = Window.partitionBy(col("source"))
      .orderBy(col("n").desc, col("lang"))
    val top = langMix.withColumn("rn", row_number().over(wTop))
      .filter(col("rn") === 1)
      .select(col("source"), col("lang").as("top_lang"),
        col("n").as("top_lang_docs"))

    perSource.join(top, Seq("source"))
      .select(col("source"), col("n_docs"), col("n_langs"),
        col("top_lang"), col("top_lang_docs"),
        col("n_words"), col("n_bpe_tokens"), col("n_unigram_tokens"),
        col("n_exact_dups"),
        expr("(1000000 * n_exact_dups) DIV n_docs").as("exact_dup_micro"),
        col("n_near_dups"),
        expr("(1000000 * n_near_dups) DIV n_docs").as("near_dup_micro"),
        col("n_heuristic_pass"),
        expr("(1000000 * n_heuristic_pass) DIV n_docs").as("heuristic_pass_micro"),
        col("n_lm_pass"),
        expr("(1000000 * n_lm_pass) DIV n_docs").as("lm_pass_micro"),
        col("n_classifier_pass"),
        expr("(1000000 * n_classifier_pass) DIV n_docs").as("classifier_pass_micro"),
        col("n_ppl_pass"),
        expr("(1000000 * n_ppl_pass) DIV n_docs").as("ppl_pass_micro"),
        col("n_ml_candidates"), col("n_ml_pass"),
        when(col("n_ml_candidates") === 0L, lit(0L))
          .otherwise(expr("(1000000 * n_ml_pass) DIV n_ml_candidates"))
          .as("ml_keep_micro"),
        col("n_ml_budget_pass"),
        when(col("n_ml_candidates") === 0L, lit(0L))
          .otherwise(expr("(1000000 * n_ml_budget_pass) DIV n_ml_candidates"))
          .as("ml_budget_keep_micro"),
        col("n_contaminated"))
      .orderBy(col("source"))
  }

  lazy val defs: Map[String, QueryDef] = Map(
    "q_temperature_mix" -> QueryDef(temperatureMix, Some(CorpusAuditOracles.temperatureMix)),
    "q_source_overlap"  -> QueryDef(sourceOverlap, Some(CorpusAuditOracles.sourceOverlap)),
    "q_snapshot_diff"   -> QueryDef(snapshotDiff, Some(CorpusAuditOracles.snapshotDiff)),
    "q_dsir_select"     -> QueryDef(dsirSelect, Some(CorpusAuditOracles.dsirSelect)),
    // verified-not-benched (frozen roster policy rule 1b: no slot to
    // displace — the DSIR chain keeps the benched selection slot)
    "q_moore_lewis_select" -> QueryDef(mooreLewisSelect,
      Some(CorpusAuditOracles.mooreLewisSelect), headline = false),
    // verified-not-benched: the same scored chain as
    // q_moore_lewis_select with the dsirSelect cutpoint on top
    "q_moore_lewis_budget" -> QueryDef(mooreLewisBudget,
      Some(CorpusAuditOracles.mooreLewisBudget), headline = false),
    // verified-not-benched: a composition of the selection chains
    "q_selection_compare" -> QueryDef(selectionCompare,
      Some(CorpusAuditOracles.selectionCompare), headline = false),
    // verified-not-benched: the same chain shape as q_moore_lewis_select
    "q_moore_lewis_delta" -> QueryDef(mooreLewisDelta,
      Some(CorpusAuditOracles.mooreLewisDelta), headline = false),
    // verified-not-benched: mooreLewisDelta plus one K-bounded cutpoint
    "q_moore_lewis_budget_delta" -> QueryDef(mooreLewisBudgetDelta,
      Some(CorpusAuditOracles.mooreLewisBudgetDelta), headline = false),
    // verified-not-benched (frozen roster policy): a composition of
    // chains that already hold bench slots
    "q_corpus_datacard" -> QueryDef(corpusDatacard,
      Some(CorpusAuditOracles.corpusDatacard), headline = false))
}

/** DuckDB oracle twins for [[CorpusAudit]]. */
object CorpusAuditOracles {

  private val nTokSql = "length(text) - length(replace(text, ' ', '')) + 1"

  val temperatureMix: String =
    s"""WITH per_source AS (
       |  SELECT source, count(*) AS n_docs,
       |    CAST(sum($nTokSql) AS BIGINT) AS n_tokens
       |  FROM documents GROUP BY source),
       |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS t_tokens FROM per_source),
       |wq AS (
       |  SELECT source, n_docs, n_tokens, t_tokens,
       |    CAST(round(pow(n_tokens / (t_tokens * 1e0), ${CorpusAudit.MixAlpha}e0)
       |               * ${CorpusAudit.MixQ}) AS BIGINT) AS q
       |  FROM per_source, tot),
       |qs AS (SELECT CAST(sum(q) AS BIGINT) AS q_sum FROM wq)
       |SELECT source, n_docs, n_tokens,
       |  round(n_tokens / (t_tokens * 1e0), 6) AS p_raw,
       |  round(q / (q_sum * 1e0), 6) AS weight,
       |  CAST(TRUNC(q / (q_sum * 1e0) * (t_tokens / 2e0)) AS BIGINT) AS target_tokens,
       |  round(q / (q_sum * 1e0) * (t_tokens / 2e0) / n_tokens, 4) AS epochs
       |FROM wq, qs
       |ORDER BY source""".stripMargin

  val sourceOverlap: String =
    s"""WITH vocab AS (
       |  SELECT DISTINCT source, w
       |  FROM (SELECT source, unnest(${TextOracles.wordsSql}) AS w FROM documents)),
       |sizes AS (SELECT source, count(*) AS v FROM vocab GROUP BY source),
       |inter AS (
       |  SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_common
       |  FROM vocab a JOIN vocab b ON a.w = b.w AND a.source < b.source
       |  GROUP BY 1, 2)
       |SELECT src_a, src_b, sa.v AS v_a, sb.v AS v_b, n_common,
       |  round(n_common / ((sa.v + sb.v - n_common) * 1e0), 4) AS jaccard
       |FROM inter
       |JOIN sizes sa ON sa.source = src_a
       |JOIN sizes sb ON sb.source = src_b
       |ORDER BY src_a, src_b""".stripMargin

  private val decileSql = s"((${GoldenHash.bucketSql("doc_id", 1000)}) // 100)"

  val snapshotDiff: String =
    s"""WITH a AS (
       |  SELECT doc_id, source AS src_a, text AS text_a FROM documents
       |  WHERE $decileSql <> 9),
       |b AS (
       |  SELECT doc_id, source AS src_b,
       |    CASE WHEN $decileSql = 5
       |         THEN text || ' v2' ELSE text END AS text_b
       |  FROM documents
       |  WHERE $decileSql <> 0),
       |joined AS (
       |  SELECT coalesce(src_a, src_b) AS source,
       |    CASE WHEN src_a IS NULL THEN 'added'
       |         WHEN src_b IS NULL THEN 'removed'
       |         WHEN text_a <> text_b THEN 'modified'
       |         ELSE 'unchanged' END AS status
       |  FROM a FULL OUTER JOIN b USING (doc_id))
       |SELECT source, status, count(*) AS n
       |FROM joined
       |GROUP BY source, status
       |ORDER BY source, status""".stripMargin

  /** [[CorpusAudit.dsirSelect]] replayed end-to-end: scan-stage bigram
    * lists (list positions, not a window), the identical 31-poly
    * bucket hash ([[TextOracles]] hashEmbed twin), add-one-smoothed
    * target/raw bucket distributions, per-bucket llr quantized to
    * BIGINT at 1e6 BEFORE the per-doc sum (integer sums are exact and
    * order-free in both engines), and the strictly-above-0.8-quantile
    * keep over the SAME golden-hash-ranked top-K cut sample the engine
    * uses (ORDER BY hash, doc_id LIMIT K — deterministic in both
    * engines; both interpolate the quantile over DOUBLE-cast scores).
    * BIGINT casts guard DuckDB's HUGEINT sum widening.
    */
  val dsirSelect: String = dsirSelectSql(CorpusAudit.DsirCutSample)

  /** [[CorpusAudit.mooreLewisSelect]] replayed end-to-end: token
    * expansion, both conditional word counts in one pass, joint-vocab
    * add-one smoothing, per-word micro-nat LLR (same `round(ln(·)·1e6)`
    * image as [[dsirSelect]]'s bucket LLR), integer per-doc sum, and
    * the sign-of-sum keep rule.
    */
  val mooreLewisSelect: String =
    s"""WITH dwr AS (
       |  SELECT doc_id, lang,
       |    unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
       |  FROM documents),
       |wc AS (
       |  SELECT word,
       |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS t_w,
       |    CAST(sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS BIGINT) AS r_w
       |  FROM dwr GROUP BY 1),
       |tot AS (
       |  SELECT CAST(sum(t_w) AS BIGINT) AS t_n, CAST(sum(r_w) AS BIGINT) AS r_n,
       |    CAST(count(*) AS BIGINT) AS v
       |  FROM wc),
       |llr AS (
       |  SELECT word,
       |    CAST(round((ln((t_w + 1) / ((t_n + v) * 1e0)) -
       |                ln((r_w + 1) / ((r_n + v) * 1e0)))
       |               * ${CorpusAudit.MlewQ}) AS BIGINT) AS llr_q
       |  FROM wc, tot)
       |SELECT doc_id, lang, CAST(count(*) AS BIGINT) AS n_tokens,
       |  CAST(sum(llr_q) AS BIGINT) AS score_q,
       |  CAST(sum(llr_q) AS BIGINT) > 0 AS keep
       |FROM dwr JOIN llr USING (word)
       |WHERE lang <> 'en'
       |GROUP BY doc_id, lang
       |ORDER BY doc_id""".stripMargin

  /** [[CorpusAudit.mooreLewisDelta]]: the frozen at-rest fit, the
    * per-word LLR, the totals-row OOV constant, and the delta-side
    * LEFT JOIN + coalesce replayed end-to-end.
    */
  val mooreLewisDelta: String =
    s"""WITH dwr AS (
       |  SELECT doc_id, lang, (${GoldenHash.bucketSql("doc_id", 20)}) = 7 AS is_delta,
       |    unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
       |  FROM documents),
       |wc AS (
       |  SELECT word,
       |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS t_w,
       |    CAST(sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS BIGINT) AS r_w
       |  FROM dwr WHERE NOT is_delta GROUP BY 1),
       |tot AS (
       |  SELECT CAST(sum(t_w) AS BIGINT) AS t_n, CAST(sum(r_w) AS BIGINT) AS r_n,
       |    CAST(count(*) AS BIGINT) AS v
       |  FROM wc),
       |llr AS (
       |  SELECT word,
       |    CAST(round((ln((t_w + 1) / ((t_n + v) * 1e0)) -
       |                ln((r_w + 1) / ((r_n + v) * 1e0)))
       |               * ${CorpusAudit.MlewQ}) AS BIGINT) AS llr_q
       |  FROM wc, tot),
       |unk AS (
       |  SELECT CAST(round((ln((r_n + v) * 1e0) - ln((t_n + v) * 1e0))
       |               * ${CorpusAudit.MlewQ}) AS BIGINT) AS unk_q
       |  FROM tot),
       |scored AS (
       |  SELECT doc_id, lang,
       |    CAST(count(*) AS BIGINT) AS n_tokens,
       |    CAST(sum(CASE WHEN llr_q IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       |    CAST(sum(COALESCE(llr_q, unk_q)) AS BIGINT) AS score_q
       |  FROM dwr LEFT JOIN llr USING (word), unk
       |  WHERE is_delta AND lang <> 'en'
       |  GROUP BY doc_id, lang)
       |SELECT doc_id, lang, n_tokens, n_oov, score_q,
       |  (score_q > 0 AND n_oov * 2 <= n_tokens) AS keep
       |FROM scored
       |ORDER BY doc_id""".stripMargin

  /** [[CorpusAudit.mooreLewisBudgetDelta]]: the [[mooreLewisDelta]]
    * replay (frozen at-rest fit, per-word LLR, OOV constant, delta-side
    * LEFT JOIN + coalesce) with the keep rule swapped for the FROZEN
    * budget cut: the at-rest candidates are scored under the same fit
    * (inner join — their words are the vocabulary), the 0.8 quantile is
    * taken over the golden-hash-ranked top-K of THOSE scores
    * ([[dsirSelectSql]]'s cutpoint verbatim), and the delta keep is
    * `score_q > c AND n_oov*2 <= n_tokens`. `wc`/`llr` are
    * MATERIALIZED — both scoring sides reference them (the r15 DuckDB
    * inline-per-reference bound).
    */
  lazy val mooreLewisBudgetDelta: String =
    s"""WITH dwr AS MATERIALIZED (
       |  SELECT doc_id, lang, (${GoldenHash.bucketSql("doc_id", 20)}) = 7 AS is_delta,
       |    unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
       |  FROM documents),
       |wc AS MATERIALIZED (
       |  SELECT word,
       |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS t_w,
       |    CAST(sum(CASE WHEN lang <> 'en' THEN 1 ELSE 0 END) AS BIGINT) AS r_w
       |  FROM dwr WHERE NOT is_delta GROUP BY 1),
       |tot AS (
       |  SELECT CAST(sum(t_w) AS BIGINT) AS t_n, CAST(sum(r_w) AS BIGINT) AS r_n,
       |    CAST(count(*) AS BIGINT) AS v
       |  FROM wc),
       |llr AS MATERIALIZED (
       |  SELECT word,
       |    CAST(round((ln((t_w + 1) / ((t_n + v) * 1e0)) -
       |                ln((r_w + 1) / ((r_n + v) * 1e0)))
       |               * ${CorpusAudit.MlewQ}) AS BIGINT) AS llr_q
       |  FROM wc, tot),
       |unk AS (
       |  SELECT CAST(round((ln((r_n + v) * 1e0) - ln((t_n + v) * 1e0))
       |               * ${CorpusAudit.MlewQ}) AS BIGINT) AS unk_q
       |  FROM tot),
       |at_scored AS (
       |  SELECT doc_id, CAST(sum(llr_q) AS BIGINT) AS score_q
       |  FROM dwr JOIN llr USING (word)
       |  WHERE (NOT is_delta) AND lang <> 'en'
       |  GROUP BY doc_id),
       |cut_sample AS (
       |  SELECT score_q FROM at_scored
       |  ORDER BY ${GoldenHash.bucketSql("doc_id", CorpusAudit.DsirSampleMod)}, doc_id
       |  LIMIT ${CorpusAudit.DsirCutSample}),
       |cut AS (SELECT quantile_cont(CAST(score_q AS DOUBLE), 0.8) AS c FROM cut_sample),
       |scored AS (
       |  SELECT doc_id, lang,
       |    CAST(count(*) AS BIGINT) AS n_tokens,
       |    CAST(sum(CASE WHEN llr_q IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       |    CAST(sum(COALESCE(llr_q, unk_q)) AS BIGINT) AS score_q
       |  FROM dwr LEFT JOIN llr USING (word), unk
       |  WHERE is_delta AND lang <> 'en'
       |  GROUP BY doc_id, lang)
       |SELECT doc_id, lang, n_tokens, n_oov, score_q,
       |  (score_q > c AND n_oov * 2 <= n_tokens) AS keep
       |FROM scored, cut
       |ORDER BY doc_id""".stripMargin

  /** [[CorpusAudit.mooreLewisBudget]]: the full [[mooreLewisSelect]]
    * replay as a derived table, then [[dsirSelectSql]]'s cutpoint
    * verbatim — golden-hash-ranked top-K sample, `quantile_cont` over
    * DOUBLE-cast scores, strictly-above keep.
    */
  lazy val mooreLewisBudget: String =
    s"""WITH scored AS (
       |  SELECT doc_id, lang, n_tokens, score_q FROM ($mooreLewisSelect) t),
       |cut_sample AS (
       |  SELECT score_q FROM scored
       |  ORDER BY ${GoldenHash.bucketSql("doc_id", CorpusAudit.DsirSampleMod)}, doc_id
       |  LIMIT ${CorpusAudit.DsirCutSample}),
       |cut AS (SELECT quantile_cont(CAST(score_q AS DOUBLE), 0.8) AS c FROM cut_sample)
       |SELECT doc_id, lang, n_tokens, score_q
       |FROM scored, cut
       |WHERE score_q > c
       |ORDER BY doc_id""".stripMargin

  /** [[CorpusAudit.selectionCompare]]: the selection constituents'
    * FULL replays embedded as derived tables (the [[corpusDatacard]]
    * precedent) — the Moore-Lewis scored frame feeds BOTH the
    * threshold rows (its `keep` flag) and the budget rows (the
    * [[mooreLewisBudget]] cutpoint, replayed inline) — then the 2×2
    * overlap wiring asserted on top. Multiply-referenced CTEs are
    * MATERIALIZED (the r15 DuckDB inline-per-reference bound). All
    * nonneg operands, so DuckDB `//` (floor) and Spark `DIV` (truncate
    * toward zero) agree.
    */
  lazy val selectionCompare: String =
    s"""WITH mlsel AS MATERIALIZED (
       |  SELECT doc_id, lang, score_q, keep FROM ($mooreLewisSelect) t),
       |dsir AS (SELECT doc_id FROM ($dsirSelect) t),
       |cut_sample AS (
       |  SELECT score_q FROM mlsel
       |  ORDER BY ${GoldenHash.bucketSql("doc_id", CorpusAudit.DsirSampleMod)}, doc_id
       |  LIMIT ${CorpusAudit.DsirCutSample}),
       |cut AS (SELECT quantile_cont(CAST(score_q AS DOUBLE), 0.8) AS c FROM cut_sample),
       |budget AS (SELECT doc_id FROM mlsel, cut WHERE score_q > c),
       |j AS MATERIALIZED (
       |  SELECT m.lang, m.keep AS thr_keep,
       |    (b.doc_id IS NOT NULL) AS b_keep,
       |    (d.doc_id IS NOT NULL) AS dsir_keep
       |  FROM mlsel m
       |  LEFT JOIN budget b ON m.doc_id = b.doc_id
       |  LEFT JOIN dsir d ON m.doc_id = d.doc_id),
       |rules AS (
       |  SELECT 'threshold' AS ml_rule, lang, thr_keep AS ml_keep, dsir_keep FROM j
       |  UNION ALL
       |  SELECT 'budget' AS ml_rule, lang, b_keep AS ml_keep, dsir_keep FROM j),
       |agg AS (
       |  SELECT ml_rule, lang,
       |    CAST(count(*) AS BIGINT) AS n_candidates,
       |    CAST(sum(CASE WHEN ml_keep AND dsir_keep THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
       |    CAST(sum(CASE WHEN (NOT ml_keep) AND dsir_keep THEN 1 ELSE 0 END) AS BIGINT) AS n_dsir_only,
       |    CAST(sum(CASE WHEN ml_keep AND (NOT dsir_keep) THEN 1 ELSE 0 END) AS BIGINT) AS n_ml_only,
       |    CAST(sum(CASE WHEN (NOT ml_keep) AND (NOT dsir_keep) THEN 1 ELSE 0 END) AS BIGINT) AS n_neither
       |  FROM rules GROUP BY 1, 2)
       |SELECT ml_rule, lang, n_candidates, n_both, n_dsir_only, n_ml_only, n_neither,
       |  CASE WHEN n_both + n_dsir_only + n_ml_only = 0 THEN CAST(0 AS BIGINT)
       |       ELSE CAST((1000000 * n_both) // (n_both + n_dsir_only + n_ml_only) AS BIGINT)
       |  END AS kept_jaccard_micro,
       |  CAST((1000000 * (n_both + n_neither)) // n_candidates AS BIGINT) AS agreement_micro
       |FROM agg
       |ORDER BY ml_rule, lang""".stripMargin

  def dsirSelectSql(cutSample: Int): String =
    s"""WITH dwr AS (
       |  SELECT doc_id, lang, regexp_extract_all(lower(text), '[a-z]+') AS w
       |  FROM documents),
       |dbg AS (
       |  SELECT doc_id, lang,
       |    unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i + 1])) AS bg
       |  FROM dwr),
       |dbk AS (
       |  SELECT doc_id, lang,
       |    CAST(list_reduce(
       |      list_prepend(CAST(0 AS BIGINT),
       |        list_transform(range(1, length(bg) + 1),
       |          i -> CAST(ord(substr(bg, i, 1)) AS BIGINT))),
       |      (h, c) -> (h * 31 + c) % 2147483648) % ${CorpusAudit.DsirDim} AS INT) AS bucket
       |  FROM dbg),
       |tb AS (SELECT bucket, CAST(count(*) AS BIGINT) AS t_b FROM dbk WHERE lang = 'en' GROUP BY 1),
       |rb AS (SELECT bucket, CAST(count(*) AS BIGINT) AS r_b FROM dbk WHERE lang <> 'en' GROUP BY 1),
       |bk AS (
       |  SELECT COALESCE(tb.bucket, rb.bucket) AS bucket,
       |    COALESCE(t_b, 0) AS t_b, COALESCE(r_b, 0) AS r_b
       |  FROM tb FULL OUTER JOIN rb ON tb.bucket = rb.bucket),
       |tot AS (
       |  SELECT CAST(sum(t_b) AS BIGINT) AS t_n, CAST(sum(r_b) AS BIGINT) AS r_n
       |  FROM bk),
       |llr AS (
       |  SELECT bucket,
       |    CAST(round((ln((t_b + 1) / ((t_n + ${CorpusAudit.DsirDim}) * 1e0)) -
       |                ln((r_b + 1) / ((r_n + ${CorpusAudit.DsirDim}) * 1e0)))
       |               * ${CorpusAudit.DsirQ}) AS BIGINT) AS llr_q
       |  FROM bk, tot),
       |scored AS (
       |  SELECT doc_id, lang, CAST(count(*) AS BIGINT) AS n_bigrams,
       |    CAST(sum(llr_q) AS BIGINT) AS score_q
       |  FROM dbk JOIN llr USING (bucket)
       |  WHERE lang <> 'en'
       |  GROUP BY doc_id, lang),
       |cut_sample AS (
       |  SELECT score_q FROM scored
       |  ORDER BY ${GoldenHash.bucketSql("doc_id", CorpusAudit.DsirSampleMod)}, doc_id
       |  LIMIT $cutSample),
       |cut AS (SELECT quantile_cont(CAST(score_q AS DOUBLE), 0.8) AS c FROM cut_sample)
       |SELECT doc_id, lang, n_bigrams, score_q
       |FROM scored, cut
       |WHERE score_q > c
       |ORDER BY doc_id""".stripMargin

  /** [[CorpusAudit.corpusDatacard]]: every constituent's FULL oracle
    * replay embedded as a derived table (each carries its own
    * `WITH RECURSIVE` scope — the [[DedupOracles.splitLeakageFree]]
    * derived-table precedent), so DuckDB independently recomputes the
    * minhash closure, both tokenizer chains, all four quality gates,
    * the Moore-Lewis selection under both rules (the threshold keep
    * flag plus [[mooreLewisBudget]]'s cutpoint replayed inline over
    * the same MATERIALIZED scored frame), and the decontamination
    * probe before this query's own contribution — the per-source
    * wiring — is checked on top.
    */
  lazy val corpusDatacard: String =
    s"""WITH docs AS (SELECT doc_id, source, lang FROM documents),
       |ex AS (
       |  SELECT doc_id,
       |    doc_id > min(doc_id) OVER (PARTITION BY sha256(text)) AS exact_dup
       |  FROM documents),
       |nd AS (SELECT doc_id, is_duplicate AS near_dup
       |       FROM (${DedupOracles.minhashDedup}) t),
       |bp AS (SELECT doc_id, n_words, n_bpe_tokens
       |       FROM (${BpeOracles.bpeApply}) t),
       |un AS (SELECT doc_id, n_unigram_tokens
       |       FROM (${UnigramOracles.unigramApply}) t),
       |tq AS (SELECT doc_id, quality = 'ok' AS hq
       |       FROM (${TextOracles.textQuality}) t),
       |lmq AS (SELECT doc_id, NOT low_quality AS lmk
       |        FROM (${TextOracles.lmQuality}) t),
       |clf AS (SELECT doc_id, keep AS clfk
       |        FROM (${TextOracles.modelQuality}) t),
       |ppl AS (SELECT doc_id, keep AS pplk
       |        FROM (${UnigramOracles.unigramPplFilter}) t),
       |ct AS (SELECT doc_id, TRUE AS contam
       |       FROM (${DedupOracles.minhashDecontaminate}) t),
       |mlsel AS MATERIALIZED (SELECT doc_id, score_q, keep
       |        FROM ($mooreLewisSelect) t),
       |mls AS (SELECT doc_id, keep AS mlk FROM mlsel),
       |mlcs AS (
       |  SELECT score_q FROM mlsel
       |  ORDER BY ${GoldenHash.bucketSql("doc_id", CorpusAudit.DsirSampleMod)}, doc_id
       |  LIMIT ${CorpusAudit.DsirCutSample}),
       |mlcut AS (SELECT quantile_cont(CAST(score_q AS DOUBLE), 0.8) AS c FROM mlcs),
       |mlb AS (SELECT doc_id, TRUE AS mlbk FROM mlsel, mlcut WHERE score_q > c),
       |joined AS (
       |  SELECT d.source, d.lang, ex.exact_dup, nd.near_dup,
       |    bp.n_words, bp.n_bpe_tokens, un.n_unigram_tokens,
       |    tq.hq, lmq.lmk, clf.clfk, ppl.pplk, ct.contam, mls.mlk, mlb.mlbk
       |  FROM docs d
       |  LEFT JOIN ex  USING (doc_id)
       |  LEFT JOIN nd  USING (doc_id)
       |  LEFT JOIN bp  USING (doc_id)
       |  LEFT JOIN un  USING (doc_id)
       |  LEFT JOIN tq  USING (doc_id)
       |  LEFT JOIN lmq USING (doc_id)
       |  LEFT JOIN clf USING (doc_id)
       |  LEFT JOIN ppl USING (doc_id)
       |  LEFT JOIN ct  USING (doc_id)
       |  LEFT JOIN mls USING (doc_id)
       |  LEFT JOIN mlb USING (doc_id)),
       |per_source AS (
       |  SELECT source,
       |    CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
       |    CAST(coalesce(sum(n_words), 0) AS BIGINT) AS n_words,
       |    CAST(coalesce(sum(n_bpe_tokens), 0) AS BIGINT) AS n_bpe_tokens,
       |    CAST(coalesce(sum(n_unigram_tokens), 0) AS BIGINT) AS n_unigram_tokens,
       |    CAST(count(*) FILTER (WHERE exact_dup) AS BIGINT) AS n_exact_dups,
       |    CAST(count(*) FILTER (WHERE near_dup) AS BIGINT) AS n_near_dups,
       |    CAST(count(*) FILTER (WHERE hq) AS BIGINT) AS n_heuristic_pass,
       |    CAST(count(*) FILTER (WHERE lmk) AS BIGINT) AS n_lm_pass,
       |    CAST(count(*) FILTER (WHERE clfk) AS BIGINT) AS n_classifier_pass,
       |    CAST(count(*) FILTER (WHERE pplk) AS BIGINT) AS n_ppl_pass,
       |    CAST(count(contam) AS BIGINT) AS n_contaminated,
       |    CAST(count(mlk) AS BIGINT) AS n_ml_candidates,
       |    CAST(count(*) FILTER (WHERE mlk) AS BIGINT) AS n_ml_pass,
       |    CAST(count(*) FILTER (WHERE mlbk) AS BIGINT) AS n_ml_budget_pass
       |  FROM joined
       |  GROUP BY source),
       |lmx AS (
       |  SELECT source, lang, CAST(count(*) AS BIGINT) AS n
       |  FROM docs GROUP BY 1, 2),
       |top AS (
       |  SELECT source, lang AS top_lang, n AS top_lang_docs
       |  FROM (SELECT *, row_number() OVER (
       |          PARTITION BY source ORDER BY n DESC, lang) AS rn
       |        FROM lmx)
       |  WHERE rn = 1)
       |SELECT p.source, p.n_docs, p.n_langs, t.top_lang, t.top_lang_docs,
       |  p.n_words, p.n_bpe_tokens, p.n_unigram_tokens,
       |  p.n_exact_dups,
       |  CAST((1000000 * p.n_exact_dups) // p.n_docs AS BIGINT) AS exact_dup_micro,
       |  p.n_near_dups,
       |  CAST((1000000 * p.n_near_dups) // p.n_docs AS BIGINT) AS near_dup_micro,
       |  p.n_heuristic_pass,
       |  CAST((1000000 * p.n_heuristic_pass) // p.n_docs AS BIGINT) AS heuristic_pass_micro,
       |  p.n_lm_pass,
       |  CAST((1000000 * p.n_lm_pass) // p.n_docs AS BIGINT) AS lm_pass_micro,
       |  p.n_classifier_pass,
       |  CAST((1000000 * p.n_classifier_pass) // p.n_docs AS BIGINT) AS classifier_pass_micro,
       |  p.n_ppl_pass,
       |  CAST((1000000 * p.n_ppl_pass) // p.n_docs AS BIGINT) AS ppl_pass_micro,
       |  p.n_ml_candidates, p.n_ml_pass,
       |  CASE WHEN p.n_ml_candidates = 0 THEN CAST(0 AS BIGINT)
       |       ELSE CAST((1000000 * p.n_ml_pass) // p.n_ml_candidates AS BIGINT)
       |  END AS ml_keep_micro,
       |  p.n_ml_budget_pass,
       |  CASE WHEN p.n_ml_candidates = 0 THEN CAST(0 AS BIGINT)
       |       ELSE CAST((1000000 * p.n_ml_budget_pass) // p.n_ml_candidates AS BIGINT)
       |  END AS ml_budget_keep_micro,
       |  p.n_contaminated
       |FROM per_source p JOIN top t USING (source)
       |ORDER BY p.source""".stripMargin
}
