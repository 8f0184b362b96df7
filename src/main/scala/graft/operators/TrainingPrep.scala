package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.Pins.FramePin

/** Training-data preparation operators — the corpus-shaping steps a
  * large-scale LLM data pipeline runs between raw ingest and
  * dedup/tokenization: as-of temporal joins (attribute each conversion
  * to the latest preceding interaction), deterministic stratified
  * sampling (downsample over-represented strata reproducibly),
  * document chunking (fixed-size overlapping windows for context-length
  * packing), per-document TF-IDF salient terms, and PII redaction.
  *
  * Every operator is a declarative DataFrame plan (no UDFs, no driver
  * loops) and every query carries a DuckDB oracle with identical
  * SQL semantics, so all five are hash-checked end-to-end.
  *
  * Scale posture (100 TB):
  *   - [[asOfJoin]] is the union+ordered-window formulation: ONE shuffle
  *     on the join key, no per-row range probe, no pair explosion —
  *     cost is a sort within each key partition, the same plan a
  *     time-series store's ASOF JOIN lowers to.
  *   - [[stratifiedSample]] is a pure scan-time filter (multiplicative
  *     hash on the row key) — zero shuffle, reproducible across runs
  *     and engines, and the sampled set is stable under corpus growth
  *     (a row's keep/drop never depends on other rows).
  *   - [[docChunks]] expands each doc to ceil(len/stride) rows inside
  *     whole-stage codegen (sequence/transform/posexplode) — output
  *     volume scales with corpus size, shuffle-free.
  *   - [[tfidfTopTerms]] is two hash aggregates + a vocab join; the
  *     vocab side is orders of magnitude smaller than the corpus and
  *     broadcast-eligible (AQE decides; at web-corpus vocab sizes it
  *     degrades gracefully to a co-partitioned shuffle join).
  *   - [[piiRedact]] is scan-speed regexp projection.
  */
object TrainingPrep {

  /** As-of join: for every `purchase` event, the latest `click` by the
    * same user at-or-before the purchase timestamp (classic conversion
    * attribution; the temporal-join shape Spark has no native operator
    * for).
    *
    * Formulation: tag both sides, union, and take
    * `last(click_ts, ignoreNulls)` over an ordered per-key window —
    * clicks sort BEFORE purchases at equal timestamps (side 0 < 1), so
    * "at or before" includes same-instant clicks. One scan of events
    * (the two sides are filters of the same table), one shuffle on
    * user_id — contrast with a range self-join, which explodes on hot
    * keys and cannot be bounded without a band predicate.
    */
  def asOfJoin(s: SparkSession, d: String): DataFrame =
    asOfJoinOf(Tables.events(s, d))

  /** The frame-level core of [[asOfJoin]] — shared with the streaming
    * twin's spec ([[graft.streaming.StreamPipelines.streamingAsOf]]),
    * which must converge to exactly these rows on the same events.
    */
  def asOfJoinOf(events: DataFrame): DataFrame = {
    val tagged = events
      .filter(col("event_type").isin("click", "purchase"))
      .select(
        col("user_id"), col("ts"),
        when(col("event_type") === "purchase", 1).otherwise(0).as("side"),
        when(col("event_type") === "purchase", col("event_id")).as("event_id"),
        when(col("event_type") === "click", col("ts")).as("click_ts"))
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tagged
      .withColumn("last_click_ts", last(col("click_ts"), ignoreNulls = true).over(w))
      .filter(col("side") === 1)
      .select(col("event_id"), col("user_id"), col("ts").as("purchase_ts"),
        col("last_click_ts"),
        (unix_timestamp(col("ts")) - unix_timestamp(col("last_click_ts"))).as("gap_s"))
      .orderBy(col("event_id"))
  }

  /** Deterministic stratified sampling: per-stratum keep-rates applied
    * via a multiplicative hash of the row key — `(id·2654435761) mod
    * 1000 < rate‰`. No RNG, no seed plumbing: the same row is kept in
    * every engine, every run, every subset of the data, which is what
    * makes training-set sampling auditable. (Knuth's multiplicative
    * scheme; the constant is the 32-bit golden-ratio multiplier, so
    * consecutive ids scatter uniformly across the 1000 buckets.)
    *
    * Rates: purchases kept 100% (rare, high-value), clicks 10%, views
    * 1%, everything else 5% — the shape of rebalancing a conversion
    * corpus. Long-overflow headroom: id·2654435761 stays inside Int64
    * for ids up to ~3.4e9, far past any fixture SF (ANSI mode would
    * throw, not wrap, if exceeded).
    */
  def stratifiedSample(s: SparkSession, d: String): DataFrame = {
    val permille: Column =
      when(col("event_type") === "purchase", 1000)
        .when(col("event_type") === "click", 100)
        .when(col("event_type") === "view", 10)
        .otherwise(50)
    Tables.events(s, d)
      .filter(graft.GoldenHash.bucket(col("event_id"), 1000) < permille)
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
      .orderBy(col("event_id"))
  }

  private[operators] val ChunkStride = 100
  private[operators] val ChunkSize = 150

  /** Fixed-window document chunking: overlapping character windows of
    * size 150 at stride 100 (50-char overlap) — the context-packing
    * step before tokenization. Chunk count per doc =
    * floor((len-1)/stride)+1, so every character lands in ≥1 chunk and
    * the final chunk is the only short one. The whole expansion is
    * sequence → transform → posexplode: rows are generated inside the
    * scan stage, no shuffle, no UDF.
    */
  def docChunks(s: SparkSession, d: String): DataFrame =
    chunksOf(Tables.documents(s, d))
      .select(col("doc_id"), col("chunk_idx"), col("chunk"), col("chunk_len"))
      .orderBy(col("doc_id"), col("chunk_idx"))

  /** The chunk expansion with the grouping columns still attached —
    * shared by [[docChunks]], [[seqPack]], and
    * [[Multimodal.multimodalAssemble]]'s text segments.
    */
  private[operators] def chunksOf(docs: DataFrame): DataFrame =
    docs
      // empty-text guard: on length 0 the chunk-count expression
      // diverges between engines (Spark DIV truncates toward zero →
      // one empty chunk; DuckDB // floors → none). Excluding empty
      // docs pins "no text → no chunks" in both.
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), col("source"), posexplode(expr(
        s"""transform(sequence(0, CAST((length(text)-1) DIV $ChunkStride AS INT)),
           |          i -> substring(text, i*$ChunkStride + 1, $ChunkSize))""".stripMargin))
        .as(Seq("chunk_idx", "chunk")))
      .withColumn("chunk_len", length(col("chunk")))

  private[operators] val WordsPerChunk = 40

  /** Token-budget chunking — the tokenizer-aligned sibling of
    * [[docChunks]]: fixed word-count windows (40 words, no overlap)
    * that never split mid-word, the form used when the budget is
    * tokens rather than characters. Same scan-stage
    * sequence/transform/posexplode machinery over the word array; the
    * final chunk is the only short one. Word boundaries are the
    * single-space split shared with the rest of the text stack.
    */
  def tokenChunks(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("ws", TextAnalysis.words)
      .filter(size(col("ws")) > 0)
      .select(col("doc_id"), posexplode(expr(
        s"""transform(sequence(0, CAST((size(ws) - 1) DIV $WordsPerChunk AS INT)),
           |          i -> concat_ws(' ', slice(ws, i * $WordsPerChunk + 1, $WordsPerChunk)))""".stripMargin))
        .as(Seq("chunk_idx", "chunk")))
      .withColumn("n_words",
        size(graft.functions.TextHashFunctions.splitWords(col("chunk"))).cast("int"))
      .orderBy(col("doc_id"), col("chunk_idx"))

  private[operators] val PackBudget = 512
  private[operators] val PackWords = 256

  /** Sequence packing: assign chunks to fixed-budget context windows —
    * the step between [[docChunks]] and the tokenizer that decides
    * which chunks share a training sequence. A chunk lands in the
    * window where its shard-local running length STARTS
    * (`(cum − len) DIV budget`), so windows fill contiguously in
    * (doc_id, chunk_idx) order and a chunk straddling the budget stays
    * with the window it started in — the split-free approximation of
    * greedy packing (exact greedy is inherently sequential state; this
    * form is pure window algebra both engines express identically).
    *
    * Scale posture: packing is ORDER-DEFINED, so some sequential span
    * is irreducible — the shard key bounds it. Partitioning by
    * `source` (at fleet scale: (source, day)) keeps each running sum
    * local to one shard's sort, windows never cross shards, and
    * document locality inside a window is preserved by the (doc_id,
    * chunk_idx) order. One shuffle (the window sort); the rollup
    * reuses the same partitioning.
    */
  def seqPack(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("source").orderBy(col("doc_id"), col("chunk_idx"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    chunksOf(Tables.documents(s, d))
      .withColumn("cum", sum(col("chunk_len")).over(w))
      .withColumn("window_id", expr(s"(cum - chunk_len) DIV $PackBudget"))
      .groupBy(col("source"), col("window_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("chunk_len")).as("n_chars"),
        countDistinct(col("doc_id")).as("n_docs"))
      .orderBy(col("source"), col("window_id"))
  }

  /** Per-document salient terms: whitespace tokenize → term frequency →
    * document frequency → smoothed TF-IDF
    * (`tf · (ln((1+N)/(1+df)) + 1)`), top 3 terms per doc.
    *
    * Plan note: the df branch re-tokenizes the corpus rather than
    * reusing the tf exchange — column pruning gives the two branches
    * different ReadSchemas, which defeats Spark's exchange reuse. At
    * 100 TB that is a deliberate choice between a second pruned
    * scan+aggregate (stateless, elastic) and persisting the tf frame
    * (an artifact decision like the IVF index); a pipeline running
    * TF-IDF repeatedly materializes tf once — see ivfIndex for the
    * cached-artifact pattern this would follow.
    *
    * The row_number ranking is INTEGER-ordered (tf desc, df asc, term
    * asc) rather than ordered by the double tfidf score: tf↑ and df↓
    * both increase tfidf, and integer ordering is bit-stable across
    * engines, where a last-ulp difference in ln() could flip a
    * double-ordered rank. tfidf is still emitted (rounded) as the
    * score column.
    */
  def tfidfTopTerms(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val tf = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("tf").desc, col("df").asc, col("term").asc)
    tf.join(dfreq, "term").crossJoin(n)
      .withColumn("tfidf",
        round(col("tf") * (log((lit(1e0) + col("n")) / (lit(1) + col("df"))) + 1), 4))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("doc_id"), col("term"), col("tf"), col("df"), col("tfidf"), col("rn"))
      .orderBy(col("doc_id"), col("rn"))
  }

  /** The TF-MATERIALIZED form of [[tfidfTopTerms]]: the term-frequency
    * frame is computed ONCE (an eager localCheckpoint artifact, the
    * ivfCache pattern) and both the df branch and the ranking consume
    * it — the corpus is tokenized exactly once, where the stateless
    * form's df branch re-tokenizes because column pruning gives the two
    * branches different ReadSchemas and defeats exchange reuse (see the
    * [[tfidfTopTerms]] scaladoc for the tradeoff).
    *
    * This is the shape a pipeline that runs TF-IDF repeatedly (or whose
    * tokenization is expensive — BPE, normalization) should use: pay
    * one materialization of the tf aggregate (far smaller than the
    * corpus: one row per distinct (doc, term)), then every downstream
    * consumer is an aggregate/join over the artifact. The stateless
    * form remains the right default for one-shot runs at 100 TB, where
    * a second elastic scan beats persisting a corpus-scale
    * intermediate. Output and oracle are IDENTICAL to [[tfidfTopTerms]]
    * — TrainingPrepSpec asserts the one-tokenize-pass plan property.
    */
  def tfidfTopTermsCached(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val tf = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      .pin("doc x distinct-term TF rows, shared by both consumers")
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("tf").desc, col("df").asc, col("term").asc)
    tf.join(dfreq, "term").crossJoin(n)
      .withColumn("tfidf",
        round(col("tf") * (log((lit(1e0) + col("n")) / (lit(1) + col("df"))) + 1), 4))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("doc_id"), col("term"), col("tf"), col("df"), col("tfidf"), col("rn"))
      .orderBy(col("doc_id"), col("rn"))
  }

  /** PII redaction over the event property blobs: emails, then IPv4
    * addresses, then any leftover digit run, each masked in sequence.
    * Patterns are restricted to the dialect-safe regex subset (char
    * classes + bounded quantifiers — identical semantics in Java regex
    * and DuckDB's RE2); Spark's regexp_replace is global by default,
    * DuckDB's needs the 'g' flag.
    */
  def piiRedact(s: SparkSession, d: String): DataFrame = {
    val email = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
    val ipv4 = "([0-9]{1,3}\\.){3}[0-9]{1,3}"
    Tables.events(s, d)
      .select(col("event_id"),
        regexp_replace(
          regexp_replace(
            regexp_replace(col("props"), email, "<email>"),
            ipv4, "<ip>"),
          "[0-9]+", "#").as("props_redacted"),
        upper(col("event_type")).as("event_type_norm"))
      .orderBy(col("event_id"))
  }

  /** The composed corpus-prep pipeline — the stages a training-data run
    * chains between raw corpus and tokenizer, as ONE declarative plan:
    * quality gate (token count) → exact dedup (min doc_id per identical
    * text) → deterministic 50% sample → overlapping chunking. Each
    * stage is the operator proven individually elsewhere in this file;
    * composing them costs exactly one extra shuffle (the dedup window
    * on text) because everything else is scan-local — the point of
    * declaring the whole pipeline as one DataFrame: Catalyst fuses the
    * stage filters into the scan, and nothing materializes between
    * stages. (The near-dup stage lives outside this oracle-checked
    * chain — minhash isn't SQL-expressible; at scale it slots between
    * dedup and sample exactly as [[graft.operators.Dedup.minhashDedup]]
    * computes it.)
    */
  def corpusPrep(s: SparkSession, d: String): DataFrame = {
    val nTokens = expr("length(text) - length(replace(text, ' ', '')) + 1")
    // dedup window keyed on a 256-bit digest, not the text itself:
    // shuffle keys stay 64 hex chars however large the documents are,
    // and sha2-256 collisions are negligible (the oracle partitions by
    // text — identical grouping modulo those collisions)
    val w = Window.partitionBy(sha2(col("text"), 256)).orderBy(col("doc_id"))
    Tables.documents(s, d)
      .filter(nTokens >= 10)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .filter(graft.GoldenHash.bucket(col("doc_id"), 1000) < 500)
      .select(col("doc_id"), posexplode(expr(
        s"""transform(sequence(0, CAST((length(text)-1) DIV $ChunkStride AS INT)),
           |          i -> substring(text, i*$ChunkStride + 1, $ChunkSize))""".stripMargin))
        .as(Seq("chunk_idx", "chunk")))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  /** The MODERN corpus-prep pipeline — [[corpusPrep]]'s round-7
    * successor composing this round's operators as ONE declarative
    * plan, the full sequence a current LLM data run chains:
    *
    *   repetition gate (top-bigram share ≤0.2, vocab collapse ≤0.7,
    *   exact integer thresholds) → exact dedup (min doc_id per
    *   identical text) → benchmark exclusion (test split dropped,
    *   plus any train doc sharing a word 5-gram with the benchmark)
    *   → token-budget chunking (40 words) → sequence packing into
    *   256-word context windows per source shard.
    *
    * Emits one row per packed chunk (no chunk text — the window
    * assignment is the product; chunk text reconstruction is
    * [[tokenChunks]]). Every stage is the operator proven individually
    * elsewhere in this package, and the DuckDB oracle replays the
    * entire five-stage composition, so the pipeline is hash-checked
    * END TO END — stage wiring included, the part per-operator checks
    * cannot see. Shuffle ledger (plan-audited): the repetition
    * bigram two-level aggregate (2 exchanges), the sha2-digest dedup
    * window (1), the benchmark gram distinct + per-doc contamination
    * rollup (2), the packing window sort (1), and the reporting
    * ORDER BY (1) — and every join in the plan is BROADCAST (the
    * doc-id keep/drop sets and the bench gram set are the small sides
    * by construction), so no stage ever reshuffles the corpus itself.
    */
  def corpusPrep2(s: SparkSession, d: String): DataFrame = {
    graft.functions.Registry.ensure(s)
    val docs = Tables.documents(s, d)
    // r20: repetition gate as the scan-local predicate and the exact
    // dedup window INLINE (doc_id unique ⇒ rn = 1 ≡ the dedupKeep semi
    // join) — [[corpusPrepChain]]'s rationale; note the v2 dedup window
    // runs over ALL docs, not gate survivors, so it is applied FIRST,
    // before the repetition filter, preserving v2's stage wiring.
    val w = Window.partitionBy(sha2(col("text"), 256)).orderBy(col("doc_id"))
    val contaminated = ScaleOps.ngramDecontaminate(s, d).select(col("doc_id"))
    val wpc = WordsPerChunk
    val chunks = docs
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .filter(TextAnalysis.repetitionKeepPred)
      .filter(!graft.GoldenHash.isTestDoc(col("doc_id")))
      .join(contaminated, Seq("doc_id"), "left_anti")
      .withColumn("ws", TextAnalysis.words)
      .filter(size(col("ws")) > 0)
      .select(col("doc_id"), col("source"), size(col("ws")).as("nw"))
      .withColumn("chunk_idx",
        explode(expr(s"sequence(0, CAST((nw - 1) DIV $wpc AS INT))")))
      .withColumn("n_words", least(lit(wpc), col("nw") - col("chunk_idx") * wpc))
    val pw = Window.partitionBy("source").orderBy(col("doc_id"), col("chunk_idx"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    chunks
      .withColumn("cum", sum(col("n_words")).over(pw))
      .withColumn("window_id", expr(s"(cum - n_words) DIV $PackWords"))
      .select(col("doc_id"), col("chunk_idx"), col("source"),
        col("window_id"), col("n_words").cast("int").as("n_words"))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  /** [[corpusPrep2]]'s round-8 successor — the SEVEN-stage composition
    * a current LLM data run chains, adding the two acquisition-side
    * gates in front of the five proven stages:
    *
    *   per-source cap (unbiased multiplicative-hash sample, ≤ 20 docs
    *   per source — domain balancing before any content filter) →
    *   boilerplate gate over the CAPPED corpus (8-grams shared by ≥ 3
    *   surviving docs; drop docs whose boilerplate share exceeds 80%,
    *   exact integer threshold n_boiler·10 > n_grams·8) → repetition
    *   gate → exact dedup (min doc id per identical text, WITHIN the
    *   survivors — a doc whose duplicate was cap-dropped must still
    *   keep one copy) → benchmark exclusion (test split + 5-gram
    *   contamination) → token-budget chunking → per-source sequence
    *   packing.
    *
    * Stage dependencies are deliberate: the boilerplate hot set is
    * computed within the capped corpus (templates among the docs
    * actually being prepared), the dedup window runs over the gate
    * survivors, and the contamination set is per-doc against the full
    * benchmark split (independent of other filters). The DuckDB oracle
    * replays all seven stages, so the WIRING — which stage sees which
    * corpus — is hash-checked end to end. Shuffle ledger adds to
    * [[corpusPrep2]]'s: the cap window (1 exchange on source) and the
    * boilerplate gram aggregate + hot semi-join (2, gram-keyed); joins
    * against keep/drop sets remain broadcast (small by construction).
    */
  /** The NINE-stage composition — [[corpusPrep3]] plus the two round-8
    * acquisition gates, slotted between the heuristic gates and the
    * dedup window:
    *
    *   - statistical LM quality ([[TextAnalysis.lmQuality]]): drop the
    *     lowest decile by bigram log-likelihood;
    *   - verbatim-span coverage ([[graft.operators.Dedup
    *     .substringSpans]]): drop documents whose merged cross-doc
    *     duplicate spans cover more than half their characters — the
    *     doc is mostly boilerplate/quotation even if no single whole
    *     document matches it.
    *
    * Corpus-level MODELS (bigram counts, duplicate-shingle set) are
    * trained on the FULL corpus — identical to their standalone
    * queries, so their oracle fragments embed verbatim — while gate
    * MEMBERSHIP applies to the capped corpus like every other stage.
    * The oracle replays all nine stages; the wiring stays hash-checked
    * end to end. Only this deepest composition is benched
    * (prep/prep2/prep3 stay verified, headline=false).
    */
  /** The two r8 gate sets shared by [[corpusPrep4]] and
    * [[corpusPrep5]]. The span-coverage drop set is derived from the
    * corpus-level duplicate-shingle MODEL (the chain scaladoc's own
    * framing: the shingle set is trained on the full corpus like the
    * bigram LM), so the doc-id verdict is pinned per (session, corpus
    * version) like [[TextAnalysis.lmScored]]: no prep4/5 run re-runs
    * the whole [[Dedup.substringSpans]] shingle pass (scan-spread +
    * shingle window + island merge) to re-derive a fixed drop list. The
    * standalone q_substring_spans query still recomputes per run.
    */
  private val spanHeavyCache = graft.Pins.session[String, DataFrame]()

  private def spanHeavyDrops(s: SparkSession, d: String): DataFrame =
    spanHeavyCache.getOrBuild(s, d) {
      Dedup.substringSpans(s, d)
        .groupBy(col("doc_id")).agg(sum(col("span_len")).as("dup_chars"))
        .join(Tables.documents(s, d).select(col("doc_id"),
          length(col("text")).cast("bigint").as("len_chars")), Seq("doc_id"))
        .filter(col("dup_chars") * 2 > col("len_chars"))
        .select(col("doc_id"))
        .pin("doc-id drop set: docs with dup-span cover > 1/2 (≤ one row per doc)")
    }

  private def prep4Drops(s: SparkSession, d: String): Seq[DataFrame] = {
    val lmLow = TextAnalysis.lmQuality(s, d)
      .filter(col("low_quality")).select(col("doc_id"))
    Seq(lmLow, spanHeavyDrops(s, d))
  }

  def corpusPrep4(s: SparkSession, d: String): DataFrame =
    corpusPrepChain(s, d, prep4Drops(s, d))

  /** The ELEVEN-stage composition: [[corpusPrep4]]'s chain plus the two
    * round-12 gates — the trained-classifier calibration cut (drop the
    * bottom logit decile, [[TextAnalysis.qualityCalibration]]'s decile-1
    * membership: ql ≤ c1) and quality-weighted deterministic
    * subsampling ([[graft.operators.Retrieval.weightedSample]]'s
    * keep-rule complement as a drop set). Same single-declarative-plan
    * stance: both new gates are doc-id drop sets folded into the shared
    * [[corpusPrepChain]], costing one broadcast-cutpoint aggregate and
    * one scan-local hash filter on top of v4.
    */
  def corpusPrep5(s: SparkSession, d: String): DataFrame = {
    // r21: both the cutpoint aggregate and the drop-set filter probe the
    // session-pinned scored table ([[TextAnalysis.modelQualityScored]])
    // instead of each re-running the classifier feature scan.
    val scoredQ = TextAnalysis.modelQualityScored(s, d)
      .select(col("doc_id"), col("quality_logit").as("ql"))
    // cutpoint over the K-bounded golden-hash sample — per-document
    // input, the DSIR-cutpoint fix class (r14 percentile sweep)
    val c1 = graft.GoldenHash.cutSample(scoredQ, "doc_id")
      .agg(round(expr("percentile(ql, 0.1)"), 6).as("c1"))
    val calLow = scoredQ.crossJoin(broadcast(c1))
      .filter(col("ql") <= col("c1")).select(col("doc_id"))
    // the weighted-sample gate is a pure doc_id hash rule — a scan-local
    // keep FILTER (r20), not a drop-set anti join that re-scanned the
    // documents table to enumerate the complement of a per-row predicate
    corpusPrepChain(s, d, prep4Drops(s, d) ++ Seq(calLow),
      extraKeepFilters =
        Seq(graft.GoldenHash.bucket(col("doc_id"), 1000) < Retrieval.permille))
  }

  /** The shared stage chain behind [[corpusPrep3]] (extraDrops = Nil)
    * and [[corpusPrep4]] (the two r8 gate sets): cap, boilerplate drop,
    * repetition keep, any extra doc-id drop sets, then the
    * dedup-window / benchmark-exclusion / chunk / pack tail. ONE body
    * so the benched composition can never silently diverge from its
    * verified prefixes.
    */
  private def corpusPrepChain(
      s: SparkSession, d: String, extraDrops: Seq[DataFrame],
      extraKeepFilters: Seq[Column] = Nil): DataFrame = {
    graft.functions.Registry.ensure(s)
    val docs = Tables.documents(s, d)
    val rankKey = (col("doc_id") * lit(ScaleOps.CapHashPrime)) % lit(ScaleOps.CapHashMod)
    val cw = Window.partitionBy(col("source")).orderBy(rankKey.asc, col("doc_id"))
    // r21: the capped corpus is referenced FOUR times (the survivor
    // frame plus three subtrees inside the boilerplate gate), and each
    // reference re-ran the cap window over a fresh corpus scan. Pin it
    // once per chain invocation (eager: a lazy pin raced — the gate
    // subtrees all consume it in the same stage wave, each recomputing
    // the window before the first block landed).
    val capped = docs
      .withColumn("rk", row_number().over(cw))
      .filter(col("rk") <= ScaleOps.SourceCapN)
      .drop("rk")
      .pin("≤ SourceCapN docs per source")
    val boilDrop = ScaleOps.boilerplateOf(capped)
      .filter(col("n_boilerplate") * 10 > col("n_grams") * 8)
      .select(col("doc_id"))
    // repetition gate: a scan-local FILTER (r20 —
    // [[TextAnalysis.repetitionKeepPred]] is per-row integer algebra),
    // not a semi join against the reporting query's frame, which
    // re-scanned the corpus and paid the gate's aggregates once per
    // chain reference. Same keep set by the shared-predicate argument.
    // Drop-set joins carry an explicit broadcast hint: the sets
    // are doc-id lists small by construction — the chain's documented
    // posture — but two of them hang off frame-pinned ExistingRDD frames
    // whose unknown size estimate made the planner fall back to a
    // sort-merge anti join (two exchanges plus two sorts of the
    // survivor frame for a membership test).
    val surv0 = extraKeepFilters.foldLeft(
      capped
        .join(broadcast(boilDrop), Seq("doc_id"), "left_anti")
        .filter(TextAnalysis.repetitionKeepPred)
    )((df, keep) => df.filter(keep))
    val surv = extraDrops.foldLeft(surv0)(
      (df, drop) => df.join(broadcast(drop), Seq("doc_id"), "left_anti"))
    // exact dedup INLINE: doc_id is unique, so `rn = 1` on the survivor
    // frame IS the old dedupKeep semi join — the join-back form planned
    // the whole survivor subtree (cap window + gates) twice (r20)
    val dw = Window.partitionBy(sha2(col("text"), 256)).orderBy(col("doc_id"))
    val contaminated = ScaleOps.ngramDecontaminate(s, d).select(col("doc_id"))
    val wpc = WordsPerChunk
    val chunks = surv
      .withColumn("rn", row_number().over(dw))
      .filter(col("rn") === 1)
      .filter(!graft.GoldenHash.isTestDoc(col("doc_id")))
      .join(contaminated, Seq("doc_id"), "left_anti")
      .withColumn("ws", TextAnalysis.words)
      .filter(size(col("ws")) > 0)
      .select(col("doc_id"), col("source"), size(col("ws")).as("nw"))
      .withColumn("chunk_idx",
        explode(expr(s"sequence(0, CAST((nw - 1) DIV $wpc AS INT))")))
      .withColumn("n_words", least(lit(wpc), col("nw") - col("chunk_idx") * wpc))
    val pw = Window.partitionBy("source").orderBy(col("doc_id"), col("chunk_idx"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    chunks
      .withColumn("cum", sum(col("n_words")).over(pw))
      .withColumn("window_id", expr(s"(cum - n_words) DIV $PackWords"))
      .select(col("doc_id"), col("chunk_idx"), col("source"),
        col("window_id"), col("n_words").cast("int").as("n_words"))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  def corpusPrep3(s: SparkSession, d: String): DataFrame =
    corpusPrepChain(s, d, Nil)

  /** Train/test decontamination — the standard pre-training check that
    * a held-out document's content does not appear in the training
    * split (word 8-gram containment, the construction published with
    * the large-LM training reports). Deterministic 10% test split by
    * id-hash (same multiplicative-hash split as [[stratifiedSample]]);
    * each test doc's DISTINCT 8-grams are probed against the distinct
    * 8-gram set of the ENTIRE train split; containment = matched/total,
    * flagged at ≥ 0.5.
    *
    * Scale posture: both sides are explode→distinct aggregations and
    * the probe is an equality join on the gram string — gram keys are
    * near-unique so the shuffle is skew-free and linear in corpus
    * grams; no pair of documents is ever materialized. At fleet scale
    * the gram string would be xxhash64/128-digested to shrink shuffle
    * bytes (identical plan shape, smaller keys) — kept as the raw
    * string here so the DuckDB oracle can reproduce it byte-for-byte.
    * Zero-gram test docs (< 8 words) stay in the output with
    * containment 0 via the final left join.
    */
  def decontaminate(s: SparkSession, d: String): DataFrame = {
    graft.functions.Registry.ensure(s)
    val docs = Tables.documents(s, d)
      .select(col("doc_id"),
        graft.functions.TextHashFunctions.splitWords(col("text")).as("words"))
      .withColumn("is_test", graft.GoldenHash.isTestDoc(col("doc_id")))
    // r20: fused codegen gram pass (graft_word_ngrams) — returns an
    // empty array for < 8 words, so the old CASE guard is implicit
    val grams = docs.select(col("doc_id"), col("is_test"),
      explode(array_distinct(
        graft.functions.TextHashFunctions.wordNGrams(col("words"), 8))).as("gram"))
    val trainGrams = grams.filter(!col("is_test")).select("gram").distinct()
    val probed = grams.filter(col("is_test"))
      .join(trainGrams.withColumn("hit", lit(1)), Seq("gram"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"), count(col("hit")).as("matched"))
    docs.filter(col("is_test")).select("doc_id")
      .join(probed, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("matched"), lit(0L)).as("matched"),
        coalesce(round(col("matched") / col("n_grams"), 4), lit(0.0)).as("containment"))
      .withColumn("contaminated", col("containment") >= 0.5)
      .orderBy(col("doc_id"))
  }

  /** Incremental corpus admission — the NIGHTLY-DELTA operational form
    * of corpus prep at 100 TB: the at-rest corpus is NOT reprocessed;
    * a new ingest batch (the [[graft.GoldenHash]] 5% delta split) is
    * admitted against frozen at-rest artifacts. Stages, cheap→costly,
    * each dropping rows before the next pays for them:
    *
    *   1. stateless quality gate ([[TextAnalysis.textQualityOf]] on the
    *      batch alone — no corpus scan);
    *   2. exact-duplicate drop vs the at-rest DIGEST sidecar
    *      ([[Dedup.incrementalExactClean]]: batch sha2-256 digests
    *      anti-joined against the bucketed `deltadx_digests` table —
    *      the index side never reshuffles and the at-rest TEXT column
    *      never crosses the wire; probe cost ∝ batch);
    *   3. near-duplicate admission via the BUCKETED at-rest minhash
    *      index ([[Dedup.writeDedupIndex]] built once per corpus
    *      version, [[Dedup.incrementalNearDups]] probe ∝ batch — the
    *      index side never reshuffles);
    *   4. benchmark 5-gram decontamination (benchmark gram set is
    *      fixed-size → broadcast; batch side streams);
    *   5. token accounting under the FROZEN learned BPE merges
    *      ([[BpeTrain.bpeTokensOf]] — production tokenizers are frozen
    *      long before ingest, so applying the pinned merges is exactly
    *      the deployed semantics).
    *
    * The oracle replays the ENTIRE chain: quality thresholds, the
    * anti joins, banding + gram verification from the pinned minhash
    * artifact, benchmark gram probe, and the merge-steered
    * tokenization recursion from the pinned merges.
    */
  /** Pinned copy of the `deltadx_digests` sidecar (one 64-char sha2-256
    * hex digest per distinct at-rest text) — the oracle replays the
    * exact-dup stage by anti-joining `sha256(text)` against these bytes,
    * round-tripping the engine-written artifact the same way the minhash
    * oracle replays the pinned band keys.
    */
  val DeltaDigestPath: String = graft.Pins.artifact("delta_digests")

  def corpusPrepDelta(s: SparkSession, d: String): DataFrame = {
    ensureDeltaArtifacts(s, d)
    val isDelta = graft.GoldenHash.bucket(col("doc_id"), 20) === 7
    deltaAdmissionChain(s, d, Tables.documents(s, d).filter(isDelta))
  }

  /** Build/pin the frozen at-rest artifacts the admission gates probe:
    * the bucketed dedup index (bands/grams/digests), the pinned
    * (bands, grams) parquet the ORACLE replays banding from, the pinned
    * digest sidecar the oracle replays the exact stage from, and the
    * pinned BPE merges — all once per (session, corpus version). The
    * streaming twin calls this once at wiring time, NEVER per batch.
    */
  private[graft] def ensureDeltaArtifacts(s: SparkSession, d: String): Unit = {
    val isDelta = graft.GoldenHash.bucket(col("doc_id"), 20) === 7
    graft.Pins.writeArtifact(s, d, "delta_dedup_index") {
      Dedup.writeDedupIndex(Tables.documents(s, d).filter(!isDelta), "deltadx")
      s.table("deltadx_digests")
        .write.mode("overwrite").parquet(DeltaDigestPath)
    }
    Dedup.ensureMinhashPinned(s, d)
    BpeTrain.ensureMergesPinned(s, d)
  }

  /** Distinct word 5-grams of the frozen benchmark split — fixed state
    * every admission gate probes (the chain's scaladoc: "the benchmark
    * gram set is fixed"), cached per (session, corpus version) like the
    * other frozen admission artifacts ([[ensureDeltaArtifacts]]): the
    * batch query paid a full corpus scan + gram explode + distinct PER
    * RUN, and the streaming twin paid it PER MICRO-BATCH, to rebuild a
    * set that cannot change between batches.
    */
  private val benchGramsCache = graft.Pins.session[String, DataFrame]()

  private def benchGramSet(s: SparkSession, d: String): DataFrame =
    benchGramsCache.getOrBuild(s, d) {
      ScaleOps.wordGramsOf(
        Tables.documents(s, d).filter(graft.GoldenHash.isTestDoc(col("doc_id"))))
        .select(col("g")).distinct()
        .pin("distinct 5-grams of the fixed benchmark split (gram-vocab-bound)")
    }

  /** The admission gate chain for ONE ingest batch (doc_id, text, lang)
    * against the frozen at-rest artifacts — ONE shared body for the
    * batch query ([[corpusPrepDelta]]) and the streaming admission
    * stage ([[graft.streaming.StreamPipelines.admissionStage]]), the
    * [[corpusPrepChain]] stance: the served path cannot drift from the
    * oracle-verified one. Every gate is per-document against frozen
    * state (quality thresholds are stateless; exact/near-dup probe the
    * bucketed index; the benchmark gram set is fixed; BPE merges are
    * frozen), so verdicts are independent of how ingest is batched —
    * StreamingSpec pins that batch-boundary invariance adversarially.
    *
    * Every probe of the `<prefix>_*` dedup-index tables runs before this
    * returns: both probe verdicts are eager frame pins, and the rest of
    * the chain reads only frozen state (benchmark grams, BPE merges). So
    * the returned frame's rows are fixed at return, and a caller may
    * append to the index (e.g. [[Dedup.appendDedupIndex]] of this very
    * batch) before its sink consumes the frame; TrainingPrepSpec pins
    * this.
    */
  private[graft] def deltaAdmissionChain(
      s: SparkSession, d: String, batch: DataFrame,
      prefix: String = "deltadx"): DataFrame = {
    // Each gate references its predecessor twice (the keep side and the
    // probe side), so an unpinned chain re-plans the whole prefix per
    // reference. Stage outputs are batch-bounded (gates only DROP rows),
    // so the two multi-referenced verdicts (exactClean, nearClean) are
    // pinned once and every later gate reads the pinned rows. `admitted`
    // is single-referenced ([[BpeTrain.bpeTokensOf]] carries `lang`
    // through its per-doc aggregate), so it stays a plan. The quality
    // gate is a stateless per-row FILTER ([[TextAnalysis.qualityOkPred]]),
    // not a semi join against a second scan of the batch.
    val qualityOk = batch.filter(TextAnalysis.qualityOkPred)
    val exactClean = Dedup.incrementalExactClean(s, qualityOk, prefix)
      .pin("quality+exact-clean batch rows (cost ∝ batch)")
    val nearClean = exactClean.join(
      Dedup.incrementalNearDups(s, exactClean, prefix).select(col("doc_id")),
      Seq("doc_id"), "left_anti")
      .pin("near-clean batch rows (cost ∝ batch)")
    val admitted = nearClean.join(
      ScaleOps.wordGramsOf(nearClean).join(broadcast(benchGramSet(s, d)), Seq("g"))
        .select(col("doc_id")).distinct(),
      Seq("doc_id"), "left_anti")
    BpeTrain.bpeTokensOf(s, d, admitted, carry = Seq("lang"))
      .select(col("doc_id"), col("lang"), col("n_words"),
        col("n_bpe_tokens"), col("n_letter_chars"))
      .orderBy(col("doc_id"))
  }

  /** Second-GENERATION incremental admission — the query that proves
    * the admission LOOP, not just one probe: ingest batch A (the
    * [[graft.GoldenHash]] 5% bucket 7) is admitted against the at-rest
    * corpus (buckets ∉ {7, 11}), its admitted documents' own index
    * rows are APPENDED into the bucketed index
    * ([[Dedup.appendDedupIndex]] — the "caller's follow-up write"),
    * and batch B (bucket 11, the NEXT ingest) is then admitted
    * against at-rest ∪ admitted(A). A B-side copy of an A-admitted
    * text is now an exact dup; a B-side near-copy of an A-admitted doc
    * is now a near-dup — neither was before the append.
    *
    * Scale shape: generation 1 (index build + A's admission + the
    * append) runs ONCE per corpus version ([[graft.Pins
    * .writeArtifact]]); the steady state is generation 2's probe, whose
    * cost is ∝ batch B against the grown-but-never-rewritten index.
    * The oracle replays BOTH generations end-to-end from the pinned
    * minhash/merges artifacts and raw text only — it derives
    * admitted(A) itself, rebuilds the generation-2 at-rest set
    * independently, and re-runs every gate, so a bug in the APPEND
    * CONTENT (wrong/missing/extra rows) makes engine and oracle
    * diverge. TrainingPrepSpec separately pins append-then-probe ==
    * rebuild-then-probe.
    */
  def corpusPrepDelta2(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val bucket = graft.GoldenHash.bucket(col("doc_id"), 20)
    val batchA = docs.filter(bucket === 7)
    val batchB = docs.filter(bucket === 11)
    Dedup.ensureMinhashPinned(s, d)
    BpeTrain.ensureMergesPinned(s, d)
    graft.Pins.writeArtifact(s, d, "delta2_index") {
      Dedup.writeDedupIndex(docs.filter(bucket =!= 7 && bucket =!= 11), "delta2dx")
      // admit A against the fresh index, then append the admitted docs'
      // own rows; checkpoint first — the admitted set is DERIVED from
      // probes of the very tables the append writes to
      val admittedA = batchA.join(
        deltaAdmissionChain(s, d, batchA, "delta2dx").select(col("doc_id")),
        Seq("doc_id"), "left_semi")
        .select(col("doc_id"), col("text")).pin("admitted batch-A docs")
      Dedup.appendDedupIndex(admittedA, "delta2dx")
    }
    deltaAdmissionChain(s, d, batchB, "delta2dx")
  }

  /** Output shards for [[tokenShards]]. */
  val NumShards = 8

  /** Token-balanced output sharding — the training-shard writer's
    * assignment step: spread documents across [[NumShards]] output
    * shards so every shard carries a near-equal TOKEN total (data
    * loaders read shards in parallel; a token-skewed shard is the
    * straggler of every epoch). Count-balance is trivial
    * (hash mod S — [[stratifiedSample]]'s trick); token balance is
    * the real contract and naive hashing only converges on it slowly.
    *
    * Plan: band documents by token-count magnitude (bit length of
    * n_tokens — integer algebra, NOT floor(log2(·)): float log2 of an
    * exact power of two can land on either side of the integer in
    * different engines), then assign serpentine within each band
    * — rank docs per band (count desc, id asc), shard =
    * snake(rank mod 2S) — so each shard receives the same number of
    * docs ± 1 from every size band, and within-band count variance is
    * bounded by the band's 2× size ratio. Deterministic, join-free,
    * one window PARTITIONED BY BAND (never a global window: a global
    * token-sorted snake would funnel the corpus through one
    * partition — the exact plan shape [[graft.PlanGuardSpec]]
    * forbids). At 100 TB bands are ~60 keys of corpus-scale rows;
    * skew inside a band is handled by the same salting escalation as
    * any windowed rank ([[ScaleOps.sourceCap]]'s documented path).
    */
  def tokenShards(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("band"))
      .orderBy(col("n_tokens").desc, col("doc_id").asc)
    val snake = {
      val r0 = row_number().over(w) - 1
      val phase = (r0 % lit(2 * NumShards)).cast("int")
      when(phase < NumShards, phase).otherwise(lit(2 * NumShards - 1) - phase)
    }
    Tables.documents(s, d)
      .withColumn("n_tokens",
        expr("length(text) - length(replace(text, ' ', '')) + 1").cast("bigint"))
      .withColumn("band", (length(expr("bin(n_tokens)")) - 1).cast("int"))
      .withColumn("shard", snake.cast("int"))
      .select(col("doc_id"), col("n_tokens"), col("band"), col("shard"))
      .orderBy(col("doc_id"))
  }

  /** Epochs materialized by [[epochShuffle]]. */
  val EpochCount = 3

  /** Deterministic multi-epoch training-order assignment
    * (`q_epoch_shuffle`) — the global reshuffle a training run performs
    * between epochs, emitted as an explicit manifest: for each epoch,
    * every document gets a shard and an in-shard position, so the data
    * loader reads shard files in position order and the whole run is
    * bit-reproducible from the corpus alone (no RNG state, the
    * [[graft.GoldenHash]] stance). The per-epoch permutation key is
    * `(doc_id mod P) · M_e mod P` with P prime
    * ([[graft.GoldenHash.CutSampleMod]]) and M_e an epoch-dependent
    * multiplier (`(2·epoch + 1) · Γ mod P`): any nonzero multiplier is
    * a bijection on Z_P, so epochs are genuinely different
    * permutations, not rotations of one order — an ADDITIVE salt
    * (`key + epoch·c mod P`) only rotates the order, and consecutive
    * epochs would replay near-identical neighborhoods. All factors are
    * reduced mod P (≤ 10^6) before multiplying, so the arithmetic
    * never overflows int64 at any corpus size.
    *
    * Scale shape: one shuffle per epoch (the hash sort), which IS the
    * operation's definition — epoch reshuffling at 100 TB is a
    * full-corpus shuffle by design, run once per epoch as a batch
    * manifest job. Keys are golden-hash uniform, so the sort
    * range-partitions without skew and shards balance multinomially;
    * the per-(epoch, shard) position window is the shard-manifest
    * writer's task (shard count is deployment-sized — the fixture's
    * [[NumShards]] stands in for the fleet's thousands, keeping each
    * window partition at file-sized rows).
    */
  def epochShuffle(s: SparkSession, d: String): DataFrame = {
    val P = graft.GoldenHash.CutSampleMod
    val g = graft.GoldenHash.Gamma % P
    val keyed = Tables.documents(s, d)
      .select(col("doc_id"), col("n_chars"),
        explode(sequence(lit(0L), lit(EpochCount - 1L))).as("epoch"))
      .withColumn("okey",
        ((col("doc_id") % P) * (((col("epoch") * 2 + 1) * g) % P)) % P)
      .withColumn("shard", col("okey") % NumShards)
    val w = Window.partitionBy(col("epoch"), col("shard"))
      .orderBy(col("okey"), col("doc_id"))
    keyed.withColumn("pos", row_number().over(w))
      .select(col("epoch"), col("shard"), col("pos"), col("doc_id"), col("n_chars"))
      .orderBy(col("epoch"), col("shard"), col("pos"))
  }

  // lazy: oracle objects reference operator constants (e.g. DedupOracles
  // .spanCtes -> Dedup.SpanLen), so an eager defs -- which reads the oracle
  // object back -- would deadlock-null mid-initialization when a composed
  // oracle (TrainingOracles.corpusPrep4) initializes the oracle object first
  lazy val defs: Map[String, QueryDef] = Map(
    // corpusPrep and corpusPrep2 are compositional PREFIXES of
    // corpusPrep3: all three stay oracle-verified every round (each
    // pins a different stage wiring), but only the deepest composition
    // is benched — timing all three re-bills the same stages three
    // times (the q_doc_components_lss precedent: verified, not timed).
    "q_corpus_prep"       -> QueryDef(corpusPrep, Some(TrainingOracles.corpusPrep),
      headline = false),
    "q_decontaminate"     -> QueryDef(decontaminate, Some(TrainingOracles.decontaminate)),
    "q_asof_join"         -> QueryDef(asOfJoin, Some(TrainingOracles.asOfJoin)),
    "q_stratified_sample" -> QueryDef(stratifiedSample, Some(TrainingOracles.stratifiedSample)),
    "q_doc_chunks"        -> QueryDef(docChunks, Some(TrainingOracles.docChunks)),
    "q_seq_pack"          -> QueryDef(seqPack, Some(TrainingOracles.seqPack)),
    "q_token_chunks"      -> QueryDef(tokenChunks, Some(TrainingOracles.tokenChunks)),
    "q_corpus_prep2"      -> QueryDef(corpusPrep2, Some(TrainingOracles.corpusPrep2),
      headline = false),
    // prep4 stays oracle-verified but hands its bench slot to prep5,
    // which strictly contains it (the q_dedup_canonical
    // verified-not-benched convention: every constituent stage holds
    // its own bench slot already)
    "q_corpus_prep4"      -> QueryDef(corpusPrep4, Some(TrainingOracles.corpusPrep4),
      headline = false),
    "q_corpus_prep5"      -> QueryDef(corpusPrep5, Some(TrainingOracles.corpusPrep5)),
    // verified-not-benched since r14 (VERDICT r13 item 1): delta is the
    // single-generation PREFIX of delta2 — the prep/prep2/prep3/prep4
    // precedent; delta2 keeps the benched slot for the admission loop
    "q_corpus_prep_delta" -> QueryDef(corpusPrepDelta, Some(TrainingOracles.corpusPrepDelta),
      headline = false),
    "q_corpus_prep_delta2" -> QueryDef(corpusPrepDelta2, Some(TrainingOracles.corpusPrepDelta2)),
    "q_token_shards"      -> QueryDef(tokenShards, Some(TrainingOracles.tokenShards)),
    "q_epoch_shuffle"     -> QueryDef(epochShuffle, Some(TrainingOracles.epochShuffle)),
    "q_corpus_prep3"      -> QueryDef(corpusPrep3, Some(TrainingOracles.corpusPrep3),
      headline = false),
    // verified-not-benched since r14: same output, same oracle as
    // q_tfidf_cached — two execution strategies of one query; the
    // artifact-backed scale path keeps the bench slot
    "q_tfidf_top_terms"   -> QueryDef(tfidfTopTerms, Some(TrainingOracles.tfidfTopTerms),
      headline = false),
    "q_tfidf_cached"      -> QueryDef(tfidfTopTermsCached, Some(TrainingOracles.tfidfTopTerms)),
    "q_pii_redact"        -> QueryDef(piiRedact, Some(TrainingOracles.piiRedact)))
}

/** DuckDB oracles for [[TrainingPrep]] — same formulation, aliases,
  * ORDER BY, and integer-ranked ordering as the Spark builders.
  */
object TrainingOracles {

  val asOfJoin: String =
    """WITH tagged AS (
      |  SELECT user_id, ts, 0 AS side, CAST(NULL AS BIGINT) AS event_id, ts AS click_ts
      |  FROM events WHERE event_type = 'click'
      |  UNION ALL
      |  SELECT user_id, ts, 1 AS side, event_id, CAST(NULL AS TIMESTAMP) AS click_ts
      |  FROM events WHERE event_type = 'purchase'),
      |filled AS (
      |  SELECT user_id, ts, side, event_id,
      |    last_value(click_ts IGNORE NULLS) OVER (
      |      PARTITION BY user_id ORDER BY ts, side
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click_ts
      |  FROM tagged)
      |SELECT event_id, user_id, ts AS purchase_ts, last_click_ts,
      |  CAST(date_diff('second', last_click_ts, ts) AS BIGINT) AS gap_s
      |FROM filled WHERE side = 1
      |ORDER BY event_id""".stripMargin

  val stratifiedSample: String =
    s"""SELECT event_id, user_id, event_type, ts
       |FROM events
       |WHERE ${graft.GoldenHash.bucketSql("event_id", 1000)} <
       |  CASE event_type WHEN 'purchase' THEN 1000 WHEN 'click' THEN 100
       |                  WHEN 'view' THEN 10 ELSE 50 END
       |ORDER BY event_id""".stripMargin

  /** Replays the five-stage [[TrainingPrep.corpusPrep2]] composition:
    * repetition gate, text-partition dedup (the engine partitions on
    * the sha2 digest — identical grouping modulo negligible
    * collisions), benchmark 5-gram exclusion, 40-word chunk counts,
    * and the per-source 256-word packing window.
    */
  val corpusPrep2: String = {
    val wpc = TrainingPrep.WordsPerChunk; val pw = TrainingPrep.PackWords
    s"""WITH ws AS (
      |  SELECT doc_id, source, text, ${TextOracles.wordsSql} AS ws FROM documents),
      |repdocs AS (
      |  SELECT doc_id, ws FROM ws WHERE len(ws) >= 2),
      |rpos AS (
      |  SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 1)) AS i FROM repdocs),
      |rgrams AS (
      |  SELECT doc_id, ws[CAST(i AS INT)] || ' ' || ws[CAST(i AS INT) + 1] AS g FROM rpos),
      |rgc AS (SELECT doc_id, g, count(*) AS c FROM rgrams GROUP BY 1, 2),
      |rtg AS (SELECT doc_id, max(c) AS top_c, sum(c) AS n_grams FROM rgc GROUP BY 1),
      |repkeep AS (
      |  SELECT d.doc_id
      |  FROM repdocs d JOIN rtg t USING (doc_id)
      |  WHERE t.top_c * 5 <= t.n_grams
      |    AND (len(d.ws) - len(list_distinct(d.ws))) * 10 <= len(d.ws) * 7),
      |dedupkeep AS (
      |  SELECT doc_id FROM (
      |    SELECT doc_id, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
      |    FROM documents)
      |  WHERE rn = 1),
      |g5docs AS (SELECT doc_id, ws FROM ws WHERE len(ws) >= 5),
      |g5pos AS (
      |  SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 4)) AS i FROM g5docs),
      |g5 AS (
      |  SELECT doc_id,
      |    array_to_string(list_slice(ws, CAST(i AS INT), CAST(i AS INT) + 4), ' ') AS g
      |  FROM g5pos),
      |bench AS (SELECT DISTINCT g FROM g5 WHERE ${graft.GoldenHash.isTestDocSql}),
      |contaminated AS (
      |  SELECT DISTINCT t.doc_id FROM g5 t JOIN bench b ON t.g = b.g
      |  WHERE ${graft.GoldenHash.isTrainDocSql.replace("doc_id", "t.doc_id")}),
      |surv AS (
      |  SELECT w.doc_id, w.source, len(w.ws) AS nw
      |  FROM ws w
      |  JOIN repkeep USING (doc_id)
      |  JOIN dedupkeep USING (doc_id)
      |  WHERE ${graft.GoldenHash.isTrainDocSql.replace("doc_id", "w.doc_id")}
      |    AND len(w.ws) > 0
      |    AND w.doc_id NOT IN (SELECT doc_id FROM contaminated)),
      |chunks AS (
      |  SELECT doc_id, source, nw,
      |    unnest(generate_series(0, (nw - 1) // $wpc)) AS ci
      |  FROM surv),
      |sized AS (
      |  SELECT doc_id, source, CAST(ci AS INT) AS chunk_idx,
      |    CAST(least($wpc, nw - ci * $wpc) AS INT) AS n_words
      |  FROM chunks),
      |cums AS (
      |  SELECT source, doc_id, chunk_idx, n_words,
      |    sum(n_words) OVER (PARTITION BY source ORDER BY doc_id, chunk_idx
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM sized)
      |SELECT doc_id, chunk_idx, source,
      |  CAST((cum - n_words) // $pw AS BIGINT) AS window_id, n_words
      |FROM cums
      |ORDER BY doc_id, chunk_idx""".stripMargin
  }

  /** Replays the seven-stage [[TrainingPrep.corpusPrep3]] composition:
    * the [[corpusPrep2]] replay with the two acquisition gates in
    * front — the per-source multiplicative-hash cap and the
    * capped-corpus boilerplate gate — and the dedup window re-scoped
    * to the gate survivors (the stage-wiring property the composed
    * oracle exists to pin).
    */
  val corpusPrep3: String = {
    val wpc = TrainingPrep.WordsPerChunk; val pw = TrainingPrep.PackWords
    val bn = ScaleOps.BoilerN
    s"""WITH ws AS (
      |  SELECT doc_id, source, text, ${TextOracles.wordsSql} AS ws FROM documents),
      |capped AS (
      |  SELECT doc_id FROM (
      |    SELECT doc_id, row_number() OVER (PARTITION BY source
      |      ORDER BY (doc_id * ${ScaleOps.CapHashPrime}) % ${ScaleOps.CapHashMod}, doc_id)
      |      AS rk
      |    FROM documents)
      |  WHERE rk <= ${ScaleOps.SourceCapN}),
      |bdocs AS (
      |  SELECT w.doc_id, w.ws FROM ws w JOIN capped USING (doc_id)
      |  WHERE len(w.ws) >= $bn),
      |bpos AS (
      |  SELECT doc_id, ws, unnest(generate_series(1, len(ws) - ${bn - 1})) AS i
      |  FROM bdocs),
      |bgrams AS (
      |  SELECT DISTINCT doc_id,
      |    array_to_string(list_slice(ws, CAST(i AS INT), CAST(i AS INT) + ${bn - 1}), ' ') AS g
      |  FROM bpos),
      |bhot AS (
      |  SELECT g FROM bgrams GROUP BY g
      |  HAVING count(*) >= ${ScaleOps.BoilerMinDocs}),
      |bcounts AS (
      |  SELECT doc_id, count(*) AS n_grams FROM bgrams GROUP BY 1),
      |bboiler AS (
      |  SELECT bg.doc_id, count(*) AS n_boiler
      |  FROM bgrams bg JOIN bhot h ON bg.g = h.g GROUP BY 1),
      |boildrop AS (
      |  SELECT c.doc_id
      |  FROM bcounts c LEFT JOIN bboiler b USING (doc_id)
      |  WHERE COALESCE(b.n_boiler, 0) * 10 > c.n_grams * 8),
      |repdocs AS (
      |  SELECT doc_id, ws FROM ws WHERE len(ws) >= 2),
      |rpos AS (
      |  SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 1)) AS i FROM repdocs),
      |rgrams AS (
      |  SELECT doc_id, ws[CAST(i AS INT)] || ' ' || ws[CAST(i AS INT) + 1] AS g FROM rpos),
      |rgc AS (SELECT doc_id, g, count(*) AS c FROM rgrams GROUP BY 1, 2),
      |rtg AS (SELECT doc_id, max(c) AS top_c, sum(c) AS n_grams FROM rgc GROUP BY 1),
      |repkeep AS (
      |  SELECT d.doc_id
      |  FROM repdocs d JOIN rtg t USING (doc_id)
      |  WHERE t.top_c * 5 <= t.n_grams
      |    AND (len(d.ws) - len(list_distinct(d.ws))) * 10 <= len(d.ws) * 7),
      |surv0 AS (
      |  SELECT c.doc_id
      |  FROM capped c
      |  JOIN repkeep USING (doc_id)
      |  WHERE c.doc_id NOT IN (SELECT doc_id FROM boildrop)),
      |dedupkeep AS (
      |  SELECT doc_id FROM (
      |    SELECT d.doc_id,
      |      row_number() OVER (PARTITION BY d.text ORDER BY d.doc_id) AS rn
      |    FROM documents d JOIN surv0 USING (doc_id))
      |  WHERE rn = 1),
      |g5docs AS (SELECT doc_id, ws FROM ws WHERE len(ws) >= 5),
      |g5pos AS (
      |  SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 4)) AS i FROM g5docs),
      |g5 AS (
      |  SELECT doc_id,
      |    array_to_string(list_slice(ws, CAST(i AS INT), CAST(i AS INT) + 4), ' ') AS g
      |  FROM g5pos),
      |bench AS (SELECT DISTINCT g FROM g5 WHERE ${graft.GoldenHash.isTestDocSql}),
      |contaminated AS (
      |  SELECT DISTINCT t.doc_id FROM g5 t JOIN bench b ON t.g = b.g
      |  WHERE ${graft.GoldenHash.isTrainDocSql.replace("doc_id", "t.doc_id")}),
      |surv AS (
      |  SELECT w.doc_id, w.source, len(w.ws) AS nw
      |  FROM ws w
      |  JOIN surv0 USING (doc_id)
      |  JOIN dedupkeep USING (doc_id)
      |  WHERE ${graft.GoldenHash.isTrainDocSql.replace("doc_id", "w.doc_id")}
      |    AND len(w.ws) > 0
      |    AND w.doc_id NOT IN (SELECT doc_id FROM contaminated)),
      |chunks AS (
      |  SELECT doc_id, source, nw,
      |    unnest(generate_series(0, (nw - 1) // $wpc)) AS ci
      |  FROM surv),
      |sized AS (
      |  SELECT doc_id, source, CAST(ci AS INT) AS chunk_idx,
      |    CAST(least($wpc, nw - ci * $wpc) AS INT) AS n_words
      |  FROM chunks),
      |cums AS (
      |  SELECT source, doc_id, chunk_idx, n_words,
      |    sum(n_words) OVER (PARTITION BY source ORDER BY doc_id, chunk_idx
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM sized)
      |SELECT doc_id, chunk_idx, source,
      |  CAST((cum - n_words) // $pw AS BIGINT) AS window_id, n_words
      |FROM cums
      |ORDER BY doc_id, chunk_idx""".stripMargin
  }

  /** Replays the NINE-stage [[TrainingPrep.corpusPrep4]] composition:
    * [[corpusPrep3]]'s chain plus the embedded-verbatim LM-quality
    * ([[TextOracles.lmScoredCtes]]) and verbatim-span
    * ([[DedupOracles.spanCtes]]) fragments — the standalone-query CTEs
    * reused byte-for-byte, with only the decile cut and the coverage
    * predicate added here, so stage WIRING stays the only new thing
    * this oracle asserts.
    */
  val corpusPrep4: String = corpusPrepComposed("", Nil)

  /** [[TrainingPrep.corpusPrep5]]: the same builder with the two
    * round-12 gate fragments — the pinned-weights scoring prefix
    * ([[TextOracles.qualityScoredCtes]], embedded verbatim) cut at its
    * own bottom decile, and the weighted-sample keep-rule complement.
    */
  val corpusPrep5: String = corpusPrepComposed(
    s"""${TextOracles.qualityScoredCtes},
      |callab AS (
      |  SELECT doc_id, round(lin, 6) AS ql FROM qscored),
      |calcuts AS (
      |  SELECT round(quantile_cont(ql, 0.1), 6) AS c1
      |  FROM (${graft.GoldenHash.cutSampleSql("callab", "doc_id")})),
      |callow AS (
      |  SELECT doc_id FROM callab, calcuts WHERE ql <= c1),
      |sampdrop AS (
      |  SELECT doc_id FROM documents
      |  WHERE NOT (${graft.GoldenHash.bucketSql("doc_id", 1000)}
      |             < ${graft.operators.Retrieval.permilleSql})),""".stripMargin,
    Seq("callow", "sampdrop"))

  /** Shared replay builder for the composed corpus-prep oracles:
    * [[corpusPrep4]] passes no extras; [[corpusPrep5]] adds two gate
    * CTE fragments and their drop names — stage WIRING stays the only
    * thing each composed oracle asserts beyond its verified
    * constituents.
    */
  private def corpusPrepComposed(extraCtes: String, extraDrops: Seq[String]): String = {
    val wpc = TrainingPrep.WordsPerChunk; val pw = TrainingPrep.PackWords
    val bn = ScaleOps.BoilerN
    val extraNotIn = extraDrops
      .map(n => s"\n      |    AND c.doc_id NOT IN (SELECT doc_id FROM $n)").mkString
    s"""WITH ${TextOracles.lmScoredCtes},
      |${DedupOracles.spanCtes},
      |$extraCtes
      |lmcuts AS (
      |  SELECT round(quantile_cont(avg_ll, 0.1), 4) AS c1
      |  FROM (${graft.GoldenHash.cutSampleSql("lmscored", "doc_id")})),
      |lmlow AS (
      |  SELECT doc_id FROM lmscored, lmcuts WHERE avg_ll <= c1),
      |spanheavy AS (
      |  SELECT sp.doc_id
      |  FROM (SELECT doc_id, sum(span_end - span_start) AS dup_chars
      |        FROM sspans GROUP BY doc_id) sp
      |  JOIN (SELECT doc_id, length(text) AS len_chars FROM documents) dl
      |    USING (doc_id)
      |  WHERE sp.dup_chars * 2 > dl.len_chars),
      |ws AS (
      |  SELECT doc_id, source, text, ${TextOracles.wordsSql} AS ws FROM documents),
      |capped AS (
      |  SELECT doc_id FROM (
      |    SELECT doc_id, row_number() OVER (PARTITION BY source
      |      ORDER BY (doc_id * ${ScaleOps.CapHashPrime}) % ${ScaleOps.CapHashMod}, doc_id)
      |      AS rk
      |    FROM documents)
      |  WHERE rk <= ${ScaleOps.SourceCapN}),
      |bdocs AS (
      |  SELECT w.doc_id, w.ws FROM ws w JOIN capped USING (doc_id)
      |  WHERE len(w.ws) >= $bn),
      |bpos AS (
      |  SELECT doc_id, ws, unnest(generate_series(1, len(ws) - ${bn - 1})) AS i
      |  FROM bdocs),
      |bgrams AS (
      |  SELECT DISTINCT doc_id,
      |    array_to_string(list_slice(ws, CAST(i AS INT), CAST(i AS INT) + ${bn - 1}), ' ') AS g
      |  FROM bpos),
      |bhot AS (
      |  SELECT g FROM bgrams GROUP BY g
      |  HAVING count(*) >= ${ScaleOps.BoilerMinDocs}),
      |bcounts AS (
      |  SELECT doc_id, count(*) AS n_grams FROM bgrams GROUP BY 1),
      |bboiler AS (
      |  SELECT bg.doc_id, count(*) AS n_boiler
      |  FROM bgrams bg JOIN bhot h ON bg.g = h.g GROUP BY 1),
      |boildrop AS (
      |  SELECT c.doc_id
      |  FROM bcounts c LEFT JOIN bboiler b USING (doc_id)
      |  WHERE COALESCE(b.n_boiler, 0) * 10 > c.n_grams * 8),
      |repdocs AS (
      |  SELECT doc_id, ws FROM ws WHERE len(ws) >= 2),
      |rpos AS (
      |  SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 1)) AS i FROM repdocs),
      |rgrams AS (
      |  SELECT doc_id, ws[CAST(i AS INT)] || ' ' || ws[CAST(i AS INT) + 1] AS g FROM rpos),
      |rgc AS (SELECT doc_id, g, count(*) AS c FROM rgrams GROUP BY 1, 2),
      |rtg AS (SELECT doc_id, max(c) AS top_c, sum(c) AS n_grams FROM rgc GROUP BY 1),
      |repkeep AS (
      |  SELECT d.doc_id
      |  FROM repdocs d JOIN rtg t USING (doc_id)
      |  WHERE t.top_c * 5 <= t.n_grams
      |    AND (len(d.ws) - len(list_distinct(d.ws))) * 10 <= len(d.ws) * 7),
      |surv0 AS (
      |  SELECT c.doc_id
      |  FROM capped c
      |  JOIN repkeep USING (doc_id)
      |  WHERE c.doc_id NOT IN (SELECT doc_id FROM boildrop)
      |    AND c.doc_id NOT IN (SELECT doc_id FROM lmlow)
      |    AND c.doc_id NOT IN (SELECT doc_id FROM spanheavy)$extraNotIn),
      |dedupkeep AS (
      |  SELECT doc_id FROM (
      |    SELECT d.doc_id,
      |      row_number() OVER (PARTITION BY d.text ORDER BY d.doc_id) AS rn
      |    FROM documents d JOIN surv0 USING (doc_id))
      |  WHERE rn = 1),
      |g5docs AS (SELECT doc_id, ws FROM ws WHERE len(ws) >= 5),
      |g5pos AS (
      |  SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 4)) AS i FROM g5docs),
      |g5 AS (
      |  SELECT doc_id,
      |    array_to_string(list_slice(ws, CAST(i AS INT), CAST(i AS INT) + 4), ' ') AS g
      |  FROM g5pos),
      |bench AS (SELECT DISTINCT g FROM g5 WHERE ${graft.GoldenHash.isTestDocSql}),
      |contaminated AS (
      |  SELECT DISTINCT t.doc_id FROM g5 t JOIN bench b ON t.g = b.g
      |  WHERE ${graft.GoldenHash.isTrainDocSql.replace("doc_id", "t.doc_id")}),
      |surv AS (
      |  SELECT w.doc_id, w.source, len(w.ws) AS nw
      |  FROM ws w
      |  JOIN surv0 USING (doc_id)
      |  JOIN dedupkeep USING (doc_id)
      |  WHERE ${graft.GoldenHash.isTrainDocSql.replace("doc_id", "w.doc_id")}
      |    AND len(w.ws) > 0
      |    AND w.doc_id NOT IN (SELECT doc_id FROM contaminated)),
      |chunks AS (
      |  SELECT doc_id, source, nw,
      |    unnest(generate_series(0, (nw - 1) // $wpc)) AS ci
      |  FROM surv),
      |sized AS (
      |  SELECT doc_id, source, CAST(ci AS INT) AS chunk_idx,
      |    CAST(least($wpc, nw - ci * $wpc) AS INT) AS n_words
      |  FROM chunks),
      |cums AS (
      |  SELECT source, doc_id, chunk_idx, n_words,
      |    sum(n_words) OVER (PARTITION BY source ORDER BY doc_id, chunk_idx
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM sized)
      |SELECT doc_id, chunk_idx, source,
      |  CAST((cum - n_words) // $pw AS BIGINT) AS window_id, n_words
      |FROM cums
      |ORDER BY doc_id, chunk_idx""".stripMargin
  }

  /** Same chunk algebra as [[TrainingOracles.docChunks]], same
    * start-position window assignment and shard-local running sum as
    * [[TrainingPrep.seqPack]]. `cum − chunk_len` is non-negative, so
    * Spark's truncating DIV and DuckDB's flooring `//` agree.
    */
  val seqPack: String =
    s"""WITH pos AS (
      |  SELECT doc_id, source, text,
      |    unnest(generate_series(0, (length(text)-1)//${TrainingPrep.ChunkStride})) AS i
      |  FROM documents WHERE length(text) > 0),
      |chunks AS (
      |  SELECT doc_id, source, CAST(i AS INT) AS chunk_idx,
      |    CAST(length(substring(text, CAST(i*${TrainingPrep.ChunkStride}+1 AS INT), ${TrainingPrep.ChunkSize})) AS INT) AS chunk_len
      |  FROM pos),
      |cums AS (
      |  SELECT source, doc_id, chunk_idx, chunk_len,
      |    sum(chunk_len) OVER (PARTITION BY source ORDER BY doc_id, chunk_idx
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM chunks)
      |SELECT source, CAST((cum - chunk_len) // ${TrainingPrep.PackBudget} AS BIGINT) AS window_id,
      |  count(*) AS n_chunks,
      |  CAST(sum(chunk_len) AS BIGINT) AS n_chars,
      |  count(DISTINCT doc_id) AS n_docs
      |FROM cums
      |GROUP BY 1, 2
      |ORDER BY source, window_id""".stripMargin

  /** Same word array, 1-based list_slice windows of 40; DuckDB's
    * list_slice end index is inclusive, hence i*40+40 for 40 words.
    */
  val tokenChunks: String = {
    val w = TrainingPrep.WordsPerChunk
    s"""WITH ws AS (
      |  SELECT doc_id, ${TextOracles.wordsSql} AS ws
      |  FROM documents),
      |nonempty AS (SELECT doc_id, ws FROM ws WHERE len(ws) > 0),
      |pos AS (
      |  SELECT doc_id, ws, unnest(generate_series(0, (len(ws) - 1) // $w)) AS i
      |  FROM nonempty),
      |chunks AS (
      |  SELECT doc_id, CAST(i AS INT) AS chunk_idx,
      |    array_to_string(list_slice(ws, CAST(i * $w + 1 AS INT), CAST(i * $w + $w AS INT)), ' ') AS chunk
      |  FROM pos)
      |SELECT doc_id, chunk_idx, chunk,
      |  CAST(len(list_filter(string_split(chunk, ' '), w -> w != '')) AS INT) AS n_words
      |FROM chunks
      |ORDER BY doc_id, chunk_idx""".stripMargin
  }

  val docChunks: String = {
    val st = TrainingPrep.ChunkStride; val sz = TrainingPrep.ChunkSize
    s"""WITH pos AS (
      |  SELECT doc_id, text, unnest(generate_series(0, (length(text)-1)//$st)) AS i
      |  FROM documents WHERE length(text) > 0)
      |SELECT doc_id, CAST(i AS INT) AS chunk_idx,
      |  substring(text, CAST(i*$st+1 AS INT), $sz) AS chunk,
      |  CAST(length(substring(text, CAST(i*$st+1 AS INT), $sz)) AS INT) AS chunk_len
      |FROM pos
      |ORDER BY doc_id, chunk_idx""".stripMargin
  }

  val tfidfTopTerms: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks WHERE term <> '' GROUP BY 1, 2),
      |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      |n AS (SELECT count(*) AS n FROM documents),
      |ranked AS (
      |  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
      |    round(tf.tf * (ln((1e0 + n.n) / (1 + dfreq.df)) + 1), 4) AS tfidf,
      |    CAST(row_number() OVER (PARTITION BY tf.doc_id
      |      ORDER BY tf.tf DESC, dfreq.df ASC, tf.term ASC) AS INT) AS rn
      |  FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN n)
      |SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df, tfidf, rn
      |FROM ranked WHERE rn <= 3
      |ORDER BY doc_id, rn""".stripMargin

  val corpusPrep: String =
    s"""WITH quality AS (
      |  SELECT doc_id, text
      |  FROM documents
      |  WHERE (length(text) - length(replace(text, ' ', '')) + 1) >= 10),
      |deduped AS (
      |  SELECT doc_id, text FROM (
      |    SELECT doc_id, text,
      |      CAST(row_number() OVER (PARTITION BY text ORDER BY doc_id) AS INT) AS rn
      |    FROM quality)
      |  WHERE rn = 1),
      |sampled AS (
      |  SELECT doc_id, text FROM deduped
      |  WHERE ${graft.GoldenHash.bucketSql("doc_id", 1000)} < 500),
      |chunked AS (
      |  SELECT doc_id, text, unnest(generate_series(0, (length(text)-1)//100)) AS i
      |  FROM sampled)
      |SELECT doc_id, CAST(i AS INT) AS chunk_idx,
      |  substring(text, CAST(i*100+1 AS INT), 150) AS chunk
      |FROM chunked
      |ORDER BY doc_id, chunk_idx""".stripMargin

  val piiRedact: String =
    """SELECT event_id,
      |  regexp_replace(
      |    regexp_replace(
      |      regexp_replace(props, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<email>', 'g'),
      |      '([0-9]{1,3}\.){3}[0-9]{1,3}', '<ip>', 'g'),
      |    '[0-9]+', '#', 'g') AS props_redacted,
      |  upper(event_type) AS event_type_norm
      |FROM events
      |ORDER BY event_id""".stripMargin

  // same tokenization (split on ' ', drop empties), same 8-gram window
  // (1-based inclusive slice of 8 words), same id-hash split; DuckDB
  // list slice words[i:i+7] is the 8-element window Spark's
  // slice(words, i, 8) takes; contaminated compares the ROUNDED
  // containment in both dialects
  val decontaminate: String =
    s"""WITH docs AS (
      |  SELECT doc_id,
      |    list_filter(string_split(text, ' '), w -> w <> '') AS words,
      |    ${graft.GoldenHash.isTestDocSql} AS is_test
      |  FROM documents),
      |pos AS (
      |  SELECT doc_id, is_test, words,
      |    unnest(generate_series(1, len(words) - 7)) AS i
      |  FROM docs WHERE len(words) >= 8),
      |grams AS (
      |  SELECT DISTINCT doc_id, is_test,
      |    array_to_string(words[i:i+7], ' ') AS gram
      |  FROM pos),
      |train AS (SELECT DISTINCT gram FROM grams WHERE NOT is_test),
      |probed AS (
      |  SELECT g.doc_id, count(*) AS n_grams, count(t.gram) AS matched
      |  FROM grams g LEFT JOIN train t ON g.gram = t.gram
      |  WHERE g.is_test GROUP BY 1)
      |SELECT d.doc_id,
      |  coalesce(p.n_grams, 0) AS n_grams,
      |  coalesce(p.matched, 0) AS matched,
      |  coalesce(round(p.matched / p.n_grams, 4), 0e0) AS containment,
      |  coalesce(round(p.matched / p.n_grams, 4), 0e0) >= 0.5 AS contaminated
      |FROM docs d LEFT JOIN probed p USING (doc_id)
      |WHERE d.is_test
      |ORDER BY d.doc_id""".stripMargin

  /** [[TrainingPrep.tokenShards]] — identical whitespace token
    * arithmetic, integer bit-length banding, per-band serpentine rank.
    */
  val tokenShards: String = {
    val nt = TextOracles.nTokensSql
    val s2 = 2 * TrainingPrep.NumShards
    s"""WITH t AS (
       |  SELECT doc_id, CAST($nt AS BIGINT) AS n_tokens FROM documents),
       |b AS (
       |  SELECT doc_id, n_tokens,
       |    CAST(length(bin(n_tokens)) - 1 AS INT) AS band
       |  FROM t),
       |r AS (
       |  SELECT doc_id, n_tokens, band,
       |    CAST((row_number() OVER (PARTITION BY band
       |      ORDER BY n_tokens DESC, doc_id ASC) - 1) % $s2 AS INT) AS phase
       |  FROM b)
       |SELECT doc_id, n_tokens, band,
       |  CASE WHEN phase < ${TrainingPrep.NumShards} THEN phase
       |       ELSE ${s2 - 1} - phase END AS shard
       |FROM r
       |ORDER BY doc_id""".stripMargin
  }

  /** [[TrainingPrep.epochShuffle]]: identical permutation-key algebra
    * (all factors pre-reduced mod the prime so both engines compute in
    * int64), identical shard and position rules.
    */
  val epochShuffle: String = {
    val p = graft.GoldenHash.CutSampleMod
    val g = graft.GoldenHash.Gamma % p
    s"""WITH e AS (
       |  SELECT unnest(generate_series(0, ${TrainingPrep.EpochCount - 1})) AS epoch),
       |k AS (
       |  SELECT d.doc_id, d.n_chars, e.epoch,
       |    ((d.doc_id % $p) * (((e.epoch * 2 + 1) * $g) % $p)) % $p AS okey
       |  FROM documents d, e)
       |SELECT epoch, okey % ${TrainingPrep.NumShards} AS shard,
       |  CAST(row_number() OVER (PARTITION BY epoch, okey % ${TrainingPrep.NumShards}
       |    ORDER BY okey, doc_id) AS INT) AS pos,
       |  doc_id, n_chars
       |FROM k
       |ORDER BY epoch, shard, pos""".stripMargin
  }

  /** [[TrainingPrep.corpusPrepDelta]] replayed end-to-end: quality
    * thresholds on the delta split, the exact-dup stage re-hashed with
    * DuckDB's own sha256 against the PINNED digest sidecar (a
    * round-trip of the engine-written artifact), minhash banding +
    * gram-Jaccard verification from the pinned index artifact, the
    * benchmark 5-gram probe, and the merge-steered BPE tokenization
    * recursion from the pinned merges. The band join pre-filters BOTH
    * sides (bandedE2/bandedRest) before pairing — semantically the
    * post-join doc filters it replaces, but it keeps the replay off the
    * full banded×banded product, whose dup-heavy giant buckets spill
    * DuckDB's temp store at the sf1 rehearsal (the same quadratic
    * corner the engine's probe never enters).
    */
  /** Shared CTE header for the delta-admission replays: pinned merges
    * (`m`), the pinned per-doc band/gram index (`art`) and its banding
    * (`banded`), the at-rest split, and the benchmark gram set
    * (`bench`).
    */
  private def deltaSharedCtes: String = {
    val g5 = "array_to_string(list_slice(ws, CAST(i AS INT), CAST(i AS INT) + 4), ' ')"
    s"""m AS (
       |  SELECT merge_round, lft, rgt
       |  FROM read_parquet('${BpeTrain.MergesPath}/*.parquet')),
       |art AS (
       |  SELECT doc_id, bands, grams
       |  FROM read_parquet('${Dedup.MinhashIndexPath}/*.parquet')),
       |banded AS (
       |  SELECT doc_id, i AS band, bands[i + 1] AS key
       |  FROM art, (SELECT unnest(generate_series(0, ${Dedup.MinhashBands - 1})) AS i)),
       |atrest AS (
       |  SELECT doc_id, text FROM documents
       |  WHERE ${graft.GoldenHash.bucketSql("doc_id", 20)} <> 7),
       |wsb AS (
       |  SELECT doc_id, ${TextOracles.wordsSql} AS ws FROM documents
       |  WHERE ${graft.GoldenHash.isTestDocSql}),
       |posb AS (
       |  SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 4)) AS i
       |  FROM wsb WHERE len(ws) >= 5),
       |bench AS (SELECT DISTINCT $g5 AS g FROM posb)""".stripMargin
  }

  /** One admission generation's gate CTEs, all suffixed `_$tag`:
    * quality thresholds over `batchFilter` → exact-dup drop
    * (`exactClause`, evaluated over alias `q`) → banded near-dup probe
    * against the `rest` CTE with PRE-FILTERED join sides (the
    * quadratic-corner note on [[corpusPrepDelta]]) → benchmark 5-gram
    * decontamination — producing `e4_$tag`, the generation's admitted
    * documents.
    */
  private def admissionCtes(tag: String, batchFilter: String, rest: String,
      exactClause: String): String = {
    val nt = TextOracles.nTokensSql
    val g5 = "array_to_string(list_slice(ws, CAST(i AS INT), CAST(i AS INT) + 4), ' ')"
    s"""q_$tag AS (
       |  SELECT doc_id, text, lang FROM (
       |    SELECT doc_id, text, lang,
       |      CAST($nt AS INT) AS n_tokens,
       |      round(CAST(length(text) - ($nt - 1) AS DOUBLE) / $nt, 4) AS avg_token_len
       |    FROM documents WHERE $batchFilter)
       |  WHERE n_tokens >= 10 AND avg_token_len >= 2 AND avg_token_len <= 12),
       |e2_$tag AS (
       |  SELECT q.* FROM q_$tag q WHERE $exactClause),
       |bp_$tag AS (
       |  SELECT bd.doc_id, bd.band, bd.key
       |  FROM banded bd JOIN e2_$tag USING (doc_id)),
       |br_$tag AS (
       |  SELECT bd.doc_id, bd.band, bd.key
       |  FROM banded bd JOIN $rest ar ON bd.doc_id = ar.doc_id),
       |hits_$tag AS (
       |  SELECT p.doc_id, p.band, p.key, i.doc_id AS idx_doc
       |  FROM bp_$tag p
       |  JOIN br_$tag i USING (band, key)
       |  WHERE p.doc_id <> i.doc_id),
       |cand_$tag AS (
       |  SELECT DISTINCT doc_id, idx_doc FROM (
       |    SELECT doc_id, min(idx_doc) AS idx_doc
       |    FROM hits_$tag
       |    GROUP BY doc_id, band, key, idx_doc % ${Dedup.ProbeCandPerBucket})),
       |rej_$tag AS (
       |  SELECT DISTINCT c.doc_id
       |  FROM cand_$tag c
       |  JOIN art ga ON c.doc_id = ga.doc_id
       |  JOIN art gb ON c.idx_doc = gb.doc_id
       |  WHERE ${DedupOracles.sizeRatioSql("ga.grams", "gb.grams")}
       |    AND CAST(len(list_intersect(ga.grams, gb.grams)) AS DOUBLE)
       |        / (len(ga.grams) + len(gb.grams)
       |           - len(list_intersect(ga.grams, gb.grams))) >= 0.5),
       |e3_$tag AS (
       |  SELECT * FROM e2_$tag
       |  WHERE doc_id NOT IN (SELECT doc_id FROM rej_$tag)),
       |ws_$tag AS (
       |  SELECT doc_id, ${TextOracles.wordsSql} AS ws FROM e3_$tag),
       |pos_$tag AS (
       |  SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 4)) AS i
       |  FROM ws_$tag WHERE len(ws) >= 5),
       |g3_$tag AS (SELECT doc_id, $g5 AS g FROM pos_$tag),
       |cont_$tag AS (
       |  SELECT DISTINCT g3.doc_id FROM g3_$tag g3 JOIN bench b ON g3.g = b.g),
       |e4_$tag AS (
       |  SELECT * FROM e3_$tag
       |  WHERE doc_id NOT IN (SELECT doc_id FROM cont_$tag))""".stripMargin
  }

  /** The merge-steered BPE accounting tail over the admitted CTE `adm`
    * — the recursive re-tokenization both delta oracles end in.
    */
  private def bpeAccountingTail(adm: String): String =
    s"""base AS (
       |  SELECT word, ' ' || regexp_replace(word, '(.)', '\\1 ', 'g') AS seq
       |  FROM (SELECT DISTINCT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
       |        FROM $adm)),
       |states AS (
       |  SELECT word, seq, 0 AS r FROM base
       |  UNION ALL
       |  SELECT s.word,
       |    replace(s.seq, ' ' || m.lft || ' ' || m.rgt || ' ',
       |            ' ' || m.lft || m.rgt || ' '),
       |    s.r + 1
       |  FROM states s JOIN m ON m.merge_round = s.r + 1),
       |final AS (
       |  SELECT word, CAST(len(str_split(trim(seq), ' ')) AS BIGINT) AS n_tok,
       |    CAST(length(word) AS BIGINT) AS wchars
       |  FROM states
       |  WHERE r = (SELECT max(merge_round) FROM m)),
       |docwords AS (
       |  SELECT doc_id, lang,
       |    unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
       |  FROM $adm)
       |SELECT d.doc_id, d.lang,
       |  CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(f.n_tok) AS BIGINT) AS n_bpe_tokens,
       |  CAST(sum(f.wchars) AS BIGINT) AS n_letter_chars
       |FROM docwords d JOIN final f USING (word)
       |GROUP BY 1, 2
       |ORDER BY d.doc_id""".stripMargin

  val corpusPrepDelta: String =
    s"""WITH RECURSIVE
       |$deltaSharedCtes,
       |dig AS (
       |  SELECT digest
       |  FROM read_parquet('${TrainingPrep.DeltaDigestPath}/*.parquet')),
       |${admissionCtes("d", s"${graft.GoldenHash.bucketSql("doc_id", 20)} = 7",
          "atrest",
          // independence guard (ADVICE r13): the exact stage replays the
          // ENGINE-WRITTEN digest sidecar, so a writeDedupIndex bug that
          // dropped or duplicated digest rows would otherwise be invisible
          // here (both sides would admit the same wrong set). The count
          // equation against an INDEPENDENT sha256 re-derivation of the
          // at-rest texts poisons the gate (admits nothing → loud hash
          // mismatch) whenever the sidecar is not a bijection of the
          // distinct at-rest texts.
          "(SELECT count(*) FROM dig) = " +
            "(SELECT count(DISTINCT sha256(text)) FROM atrest) " +
            "AND NOT EXISTS (SELECT 1 FROM dig WHERE dig.digest = sha256(q.text))")},
       |${bpeAccountingTail("e4_d")}""".stripMargin

  /** [[TrainingPrep.corpusPrepDelta2]] replayed END-TO-END ACROSS BOTH
    * GENERATIONS from raw text and the pinned merges/minhash artifacts
    * alone: generation 1's full gate chain derives admitted(A)
    * independently (exact stage as a raw-text anti join — no reliance
    * on any engine-appended artifact), the generation-2 at-rest set is
    * rebuilt as atrest ∪ e4_a, and generation 2's chain re-runs every
    * gate against it. The engine, by contrast, probes the APPENDED
    * bucketed index — so wrong, missing, or extra rows written by
    * [[Dedup.appendDedupIndex]] make the two sides diverge.
    */
  val corpusPrepDelta2: String = {
    val bucket = graft.GoldenHash.bucketSql("doc_id", 20)
    s"""WITH RECURSIVE
       |$deltaSharedCtes,
       |rest0 AS (
       |  SELECT doc_id, text FROM documents
       |  WHERE $bucket NOT IN (7, 11)),
       |${admissionCtes("a", s"$bucket = 7",
          "rest0",
          "NOT EXISTS (SELECT 1 FROM rest0 a2 WHERE a2.text = q.text)")},
       |rest2 AS (
       |  SELECT doc_id, text FROM rest0
       |  UNION ALL
       |  SELECT doc_id, text FROM e4_a),
       |${admissionCtes("b", s"$bucket = 11",
          "rest2",
          "NOT EXISTS (SELECT 1 FROM rest2 r2 WHERE r2.text = q.text)")},
       |${bpeAccountingTail("e4_b")}""".stripMargin
  }
}
