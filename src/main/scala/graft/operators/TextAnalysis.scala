package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}
import graft.Pins.FramePin

/** Text-analysis operators for an LLM-training-data pipeline, over the
  * `documents` fixture table: token counting, quality scoring, language
  * identification (marker heuristic), and positional fingerprinting.
  *
  * All are narrow per-row projections + one hash aggregate — fully
  * codegen'd scalar expressions, no shuffle except the final aggregate
  * (token counts) or none at all (per-doc outputs). At 100 TB these run
  * at scan speed; nothing is collected to the driver.
  *
  * Every query here is SQL-expressible, so each carries a DuckDB oracle
  * built from the same string algebra (occurrence counting via
  * length-difference, not regex — Java and RE2 regex dialects differ,
  * plain `replace` does not).
  */
object TextAnalysis {

  /** THE word tokenization of the text stack — single-space split,
    * empties dropped — as one definition for every operator
    * (repetition gate, n-gram decontamination, token chunking, simhash
    * tokens); [[TextOracles.wordsSql]] is its DuckDB twin. One edit
    * here (plus its twin) retunes tokenization everywhere.
    */
  private[operators] def words: org.apache.spark.sql.Column =
    // r20: one fused codegen pass ([[graft.functions.SplitWords]] —
    // byte-identical to `filter(split(text, ' '), w -> w != '')`,
    // whose filter HOF was CodegenFallback and materialized the empty
    // strings between consecutive spaces only to drop them). Session
    // registration rides [[graft.Tables.documents]].
    graft.functions.TextHashFunctions.splitWords(col("text"))

  /** Whitespace token count: len(text) - len(text without spaces) + 1.
    * Avoids split()+size (allocates an array per row) — pure length
    * arithmetic stays in whole-stage codegen.
    */
  private val nTokens =
    expr("length(text) - length(replace(text, ' ', '')) + 1")

  /** Occurrences of pattern `p` in ' '||text||' ' via length difference
    * — plain `replace`, no regex ([[TextOracles.occSql]] is the twin).
    */
  private def occurrences(p: String) =
    ((length(concat(lit(" "), col("text"), lit(" "))) -
      length(expr(s"replace(concat(' ', text, ' '), '$p', '')"))) / p.length)
      .cast("int")

  /** Total token/char volume per source — the "how big is this corpus
    * slice" rollup every training-data pipeline starts with.
    */
  def tokenCount(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(nTokens).as("n_tokens"),
        sum(col("n_chars")).as("total_chars"),
        round(avg(nTokens), 4).as("avg_tokens_per_doc"))
      .orderBy(col("source"))

  /** Per-document quality features: token count, average token length,
    * stopword ratio, and a CASE quality gate — the length/punct/stopword
    * heuristics of C4/Gopher-style corpus filters.
    */
  def textQuality(s: SparkSession, d: String): DataFrame =
    textQualityOf(Tables.documents(s, d)).orderBy(col("doc_id"))

  /** Frame-parametric core of [[textQuality]] — the quality gate is
    * stateless per-doc, so incremental admission
    * ([[TrainingPrep.corpusPrepDelta]]) runs it on the batch alone.
    */
  private[operators] def textQualityOf(docs: DataFrame): DataFrame = {
    val stopCnt = occurrences(" the ") + occurrences(" a ") + occurrences(" and ")
    docs
      .withColumn("n_tokens", nTokens.cast("int"))
      .withColumn("avg_token_len",
        round((length(col("text")) - (col("n_tokens") - 1)).cast("double") / col("n_tokens"), 4))
      .withColumn("stopword_ratio", round(stopCnt.cast("double") / col("n_tokens"), 4))
      .withColumn("quality",
        when(col("n_tokens") < 10, lit("too_short"))
          .when(col("avg_token_len") < 2 || col("avg_token_len") > 12, lit("odd_tokens"))
          .otherwise(lit("ok")))
      .select(col("doc_id"), col("n_tokens"), col("avg_token_len"),
        col("stopword_ratio"), col("quality"))
  }

  /** [[textQualityOf]]'s `quality = 'ok'` verdict as ONE scan-local
    * predicate — the gate is stateless per-doc, so admission chains
    * ([[TrainingPrep.deltaAdmissionChain]]) filter with it instead of
    * semi-joining a second scan of the same batch. Must stay
    * term-for-term aligned with [[textQualityOf]]'s when-chain
    * (`ok` ⇔ n_tokens ≥ 10 ∧ 2 ≤ round₄(avg_token_len) ≤ 12), INCLUDING
    * the NULL edge (ADVICE r20): a NULL text makes every when-condition
    * NULL, so the chain falls through to `otherwise('ok')` — the filter
    * form must therefore KEEP NULL-text rows, where the bare conjunction
    * would evaluate NULL and drop them. ScanLocalRewriteSpec pins
    * filter ≡ semi-join on the fixture plus the NULL-text row.
    */
  private[graft] def qualityOkPred: Column = {
    val nt = nTokens.cast("int")
    val avgLen = round((length(col("text")) - (nt - 1)).cast("double") / nt, 4)
    col("text").isNull || (nt >= 10 && avgLen >= 2 && avgLen <= 12)
  }

  /** Feature frame shared by [[modelQuality]]'s train and score paths:
    * four deterministic per-doc scalars, each ROUNDED to 4 decimals so
    * the engine and the DuckDB oracle score bit-identical inputs, plus
    * the training label. The label is `lang = 'en'` — metadata NOT
    * derivable from the feature vector (VERDICT r9 item 4: the earlier
    * `f(n_words, distinct_ratio)` label was separable by construction,
    * so the fit proved nothing). With an independent target the LR must
    * learn real structure — the English-stopword ratio is the honest
    * signal, exactly the fastText-style lang/quality gate shape.
    */
  private def qualityFeatures(s: SparkSession, d: String): DataFrame = {
    val stopCnt = occurrences(" the ") + occurrences(" a ") + occurrences(" and ")
    Tables.documents(s, d)
      .withColumn("ws", words)
      .withColumn("n_words", size(col("ws")).cast("int"))
      .filter(col("n_words") >= 1)
      .withColumn("avg_token_len",
        round((length(col("text")) - (nTokens - 1)).cast("double") / nTokens, 4))
      .withColumn("stopword_ratio", round(stopCnt.cast("double") / nTokens, 4))
      .withColumn("distinct_ratio",
        round(size(array_distinct(col("ws"))).cast("double") / col("n_words"), 4))
      .withColumn("weak_label", (col("lang") === "en").cast("double"))
      .select(col("doc_id"), col("n_words"), col("avg_token_len"),
        col("stopword_ratio"), col("distinct_ratio"), col("weak_label"))
  }

  private val qualityLrCache = graft.Pins.session[String, Seq[Double]]()

  /** Hard cap on the number of documents the quality-classifier fit
    * sees. Above it the fit trains on a DETERMINISTIC hash-mod slice of
    * doc_id (no `.sample` — that depends on partition layout), so only
    * the scoring scan ever touches the full corpus.
    */
  val QualityFitCap: Long = 200000L

  /** Seeded logistic regression distilling [[qualityFeatures]]' weak
    * label into a smooth scorer; fit once per (session, sfDir). Returns
    * intercept +: coefficients QUANTIZED to 6 decimals — the same
    * quantized weights are pinned for the oracle and embedded as plan
    * literals, so both engines run identical arithmetic regardless of
    * last-ulp drift in the LBFGS fit itself. At 100 TB the fit runs on
    * a bounded sample (standard classifier-gate practice — the model is
    * a constant): corpora past [[QualityFitCap]] docs train on the
    * xxhash64(doc_id) % k == 0 slice, a partition-layout-independent
    * choice so the weights stay reproducible.
    */
  private def qualityWeights(s: SparkSession, d: String): Seq[Double] =
    qualityLrCache.getOrBuild(s, d) {
      import org.apache.spark.ml.feature.VectorAssembler
      import org.apache.spark.ml.classification.LogisticRegression
      val feats = qualityFeatures(s, d)
      val n = feats.count()
      val train =
        if (n <= QualityFitCap) feats
        else {
          val k = math.ceil(n.toDouble / QualityFitCap).toLong
          feats.filter(pmod(xxhash64(col("doc_id")), lit(k)) === 0)
        }
      val asm = new VectorAssembler()
        .setInputCols(Array("n_words", "avg_token_len", "stopword_ratio", "distinct_ratio"))
        .setOutputCol("fv")
      val m = new LogisticRegression().setMaxIter(100).setRegParam(0.01)
        .setFeaturesCol("fv").setLabelCol("weak_label")
        .fit(asm.transform(train))
      (m.intercept +: m.coefficients.toArray.toSeq)
        .map(w => BigDecimal(w).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }

  /** Pinned weights sidecar (idx 0 = intercept, 1..4 = coefficients in
    * [[qualityFeatures]] column order) — the tiny model artifact the
    * oracle replays scoring from.
    */
  val QualityWeightsPath: String = graft.Pins.artifact("quality_weights")

  private def pinQualityWeights(s: SparkSession, d: String, ws: Seq[Double]): Unit =
    graft.Pins.writeArtifact(s, d, "quality_weights") {
      s.createDataFrame(ws.zipWithIndex.map { case (w, i) => (i, w) })
        .toDF("idx", "w").coalesce(1)
        .write.mode("overwrite").parquet(QualityWeightsPath)
    }

  /** Model-based quality gate — the trained-classifier stage
    * (fastText/DCLM style) an LLM pipeline runs after its heuristic
    * gates. INFERENCE IS PLAIN ARITHMETIC: the quantized weights fold
    * into the scan as literals (whole-stage codegen — no model UDF, no
    * shuffle, nothing collected), the emitted value is the round-6
    * LOGIT (pure arithmetic; a sigmoid would ride libm exp(), which
    * differs between engines in the last ulp — r11 sf1 finding), and
    * the keep decision reads the SIGN of the same linear term. The
    * oracle recomputes the same features and the same left-associated
    * dot product from the pinned sidecar; the seeded fit is the only
    * pinned step.
    */
  /** The scored corpus under the trained quality classifier — one row
    * per document with its features, round-6 logit, and keep sign —
    * cached per (session, sfDir) exactly like [[lmScored]]: the scored
    * table is the model artifact a production classifier gate
    * materializes beside its pinned weights, and it is probed by every
    * consumer ([[modelQuality]], [[qualityCalibration]],
    * [[TrainingPrep.corpusPrep5]]'s calibration gate,
    * [[graft.operators.Dedup]]'s canonical selection), so no consumer
    * re-runs the full feature scan (corpusPrep5 reads it twice per run:
    * cutpoint sample and drop-set filter).
    */
  private val mqScoredCache = graft.Pins.session[String, DataFrame]()

  private[operators] def modelQualityScored(s: SparkSession, d: String): DataFrame =
    mqScoredCache.getOrBuild(s, d) {
      val ws = qualityWeights(s, d)
      pinQualityWeights(s, d, ws)
      val feats = Seq("n_words", "avg_token_len", "stopword_ratio", "distinct_ratio")
      val lin = feats.zip(ws.tail)
        .map { case (f, w) => col(f) * lit(w) }
        .foldLeft(lit(ws.head))(_ + _)
      // emit the LOGIT, not the sigmoid: exp() is libm-dependent (Java
      // and DuckDB differ in the last ulp), so round(sigmoid, 4) flips on
      // boundary rows at scale (3 of 50k rows in the r11 sf1 rehearsal).
      // The logit is pure +/* arithmetic over round-4 features and 6dp
      // weight literals — bit-identical in both engines — and is a
      // monotone transform of the score, so ranking/thresholding
      // semantics are unchanged; keep stays the sign of the same term.
      qualityFeatures(s, d)
        .withColumn("lin", lin)
        .select(col("doc_id"), col("n_words"), col("avg_token_len"),
          col("stopword_ratio"), col("distinct_ratio"),
          round(col("lin"), 6).as("quality_logit"),
          (col("lin") >= 0).as("keep"))
        .pin("one scored row per doc (the classifier's at-rest scored table)")
    }

  def modelQuality(s: SparkSession, d: String): DataFrame =
    modelQualityScored(s, d).orderBy(col("doc_id"))

  /** Calibration curve for the trained quality gate: docs bucketed into
    * logit deciles (the [[lmQuality]] broadcast-cutpoint pattern, not a
    * global ntile), each decile reporting its share of the independent
    * `lang='en'` label the gate distills — the reliability diagram a
    * production classifier ships with (a monotone en_rate over deciles
    * is the evidence the score ORDERING carries signal; QuerySurfaceSpec
    * pins the top-vs-bottom separation).
    *
    * Engine stability: bucketing runs on the ROUND-6 emitted logit, and
    * the per-decile mean logit is computed by integer quantization
    * (`sum(round(ql·1e6))/n`) — a raw avg() of doubles accumulates in
    * engine-dependent order (the hourlyTraffic integer-sum convention).
    */
  def qualityCalibration(s: SparkSession, d: String): DataFrame = {
    // the 2-column scored projection is consumed by BOTH the cutpoint
    // aggregate and the bucketing scan — checkpoint it once or the
    // whole feature computation runs twice (measured 3.9 → 2.2 s at
    // the sf1 rehearsal)
    val scored = modelQualityScored(s, d)
      .join(Tables.documents(s, d).select(col("doc_id"), col("lang")), "doc_id")
      .select(col("doc_id"), col("quality_logit").as("ql"),
        (col("lang") === "en").as("is_en"))
      .pin("two scalars per doc (logit, is_en)")
    val cutCols = (1 to 9).map(k =>
      round(expr(s"percentile(ql, 0.$k)"), 6).as(s"c$k"))
    // K-bounded golden-hash cut sample — per-document input, the
    // DSIR-cutpoint fix class (r14 percentile sweep)
    val cuts = graft.GoldenHash.cutSample(scored, "doc_id")
      .agg(cutCols.head, cutCols.tail: _*)
    val decile = (1 to 9).map(k =>
      when(col("ql") > col(s"c$k"), 1).otherwise(0))
      .reduce(_ + _) + lit(1)
    scored.crossJoin(broadcast(cuts))
      .withColumn("decile", decile.cast("int"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_docs"),
        round(sum(round(col("ql") * lit(1e6)).cast("long")) / (count(lit(1)) * lit(1e6)), 4)
          .as("avg_logit"),
        sum(col("is_en").cast("long")).as("n_en"),
        round(sum(col("is_en").cast("long")) / count(lit(1)).cast("double"), 4)
          .as("en_rate"))
      .orderBy(col("decile"))
  }

  /** BPE-ish subword token counting: alpha runs, digit runs, and single
    * non-alphanumeric marks — the regex shape byte-pair tokenizers
    * reduce to before merges. Pattern restricted to the dialect-safe
    * subset (identical semantics in Java regex and RE2/DuckDB).
    */
  def bpeTokenCount(s: SparkSession, d: String): DataFrame = {
    val pat = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"
    Tables.documents(s, d)
      .select(col("source"),
        regexp_count(col("text"), lit(pat)).as("toks"),
        nTokens.as("ws_toks"))
      .groupBy(col("source"))
      .agg(
        sum(col("toks")).as("n_bpe_tokens"),
        sum(col("ws_toks")).as("n_ws_tokens"),
        round(avg(col("toks")), 4).as("avg_bpe_tokens"))
      .orderBy(col("source"))
  }

  /** Marker-based language ID: count language-specific stopword hits,
    * argmax with a fixed precedence tie-break. (A real n-gram LM is a
    * model artifact; the heuristic is the deterministic, SQL-checkable
    * core of the operator — scoring is per-row scalar algebra.)
    */
  def langId(s: SparkSession, d: String): DataFrame = {
    def occ(p: String) =
      ((length(concat(lit(" "), col("text"), lit(" "))) -
        length(expr(s"replace(concat(' ', text, ' '), '$p', '')"))) / p.length).cast("int")
    val sEn = (occ(" the ") + occ(" and ") + occ(" a ")).as("score_en")
    val sEs = (occ(" el ") + occ(" la ") + occ(" y ")).as("score_es")
    val sDe = (occ(" der ") + occ(" und ") + occ(" die ")).as("score_de")
    val sFr = (occ(" le ") + occ(" et ") + occ(" la ")).as("score_fr")
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), sEn, sEs, sDe, sFr)
      .withColumn("predicted_lang",
        when(col("score_en") >= col("score_es") && col("score_en") >= col("score_de") &&
          col("score_en") >= col("score_fr") && col("score_en") > 0, lit("en"))
          .when(col("score_es") >= col("score_de") && col("score_es") >= col("score_fr") &&
            col("score_es") > 0, lit("es"))
          .when(col("score_de") >= col("score_fr") && col("score_de") > 0, lit("de"))
          .when(col("score_fr") > 0, lit("fr"))
          .otherwise(lit("unknown")))
      .orderBy(col("doc_id"))
  }

  /** Language-ID confusion matrix: [[langId]]'s predictions crossed
    * with the corpus's true label — (true, predicted, count, share of
    * the true-lang row). The audit every classifier-gated pipeline
    * ships beside the gate itself: recall per language is the diagonal
    * share, and an off-diagonal swell says the marker heuristic is
    * misrouting a language's documents. One scan (the langId
    * projection), one lang-pair aggregate, and a broadcast join to the
    * per-language totals — the matrix is |langs|² rows no matter the
    * corpus size.
    */
  def langConfusion(s: SparkSession, d: String): DataFrame = {
    val pred = langId(s, d).select(col("lang"), col("predicted_lang"))
    val totals = pred.groupBy(col("lang")).agg(count(lit(1)).as("n_lang"))
    pred.groupBy(col("lang"), col("predicted_lang"))
      .agg(count(lit(1)).as("n"))
      .join(broadcast(totals), "lang")
      .select(col("lang"), col("predicted_lang"), col("n"),
        round(col("n") / col("n_lang").cast("double"), 4).as("share"))
      .orderBy(col("lang"), col("predicted_lang"))
  }

  /** Per-source 3-gram diversity: the distinct/total type-token ratio
    * — the corpus-level repetitiveness audit (the per-document
    * twin is [[repetitionFilter]]'s distinct_ratio; self-BLEU-style
    * generation audits reduce to the same statistic). Trigrams are
    * built inside the scan stage by an array expression (one explode,
    * no positional self-join), spread round-robin first because gram
    * construction is per-row-heavy (the r8 single-split lesson).
    * Exact countDistinct here is the oracle-checkable audit form; at
    * 100 TB the same query swaps in approx_count_distinct (the
    * [[graft.operators.ScaleOps]] `q_approx_distinct` pattern) when
    * ±2% suffices.
    */
  def ngramDiversity(s: SparkSession, d: String): DataFrame = {
    val width = s.conf.get("spark.sql.shuffle.partitions").toInt
    // r20: trigram strings via the fused WordNGrams pass (identical to
    // the transform/element_at/concat_ws HOF chain it replaces)
    Tables.documents(s, d)
      .select(col("source"), words.as("ws"))
      .filter(size(col("ws")) >= 3)
      .repartition(width)
      .select(col("source"),
        explode(graft.functions.TextHashFunctions.wordNGrams(col("ws"), 3)).as("g"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_grams"),
        countDistinct(col("g")).as("n_distinct_grams"),
        round(countDistinct(col("g")) / count(lit(1)).cast("double"), 4)
          .as("gram_diversity"))
      .orderBy(col("source"))
  }

  /** Positional rolling fingerprint: sum_i ascii(text[i]) * ((i mod 31)+1)
    * — a deterministic, locality-sensitive-ish document fingerprint
    * computed entirely inside codegen (sequence/transform/aggregate
    * higher-order functions, no UDF, no explode shuffle).
    */
  def docFingerprint(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        expr("""aggregate(
                  transform(sequence(1, length(text)),
                            i -> CAST(ascii(substring(text, i, 1)) * ((i % 31) + 1) AS BIGINT)),
                  CAST(0 AS BIGINT), (acc, x) -> acc + x)""").as("fingerprint"),
        col("n_chars"))
      .orderBy(col("doc_id"))

  /** Per-document character Shannon entropy — the gibberish/encoding
    * signal beside the token-level gates (natural language sits in a
    * narrow entropy band; base64 blobs and key-mash sit above it,
    * single-char floods below). Computed entirely inside the scan
    * stage: one HOF fold over the doc's DISTINCT characters, each
    * char's count by length-difference (the [[textQuality]] string
    * algebra) — no explode, no shuffle, per-row cost
    * O(distinct_chars · len).
    *
    * Engine stability: each char's `p·ln(p)` term is quantized to an
    * INTEGER (round ·1e9) inside the fold, so the sum is order-free —
    * a double accumulator would differ between Spark's first-appearance
    * fold order and DuckDB's unordered aggregate (the temperatureMix
    * quantize-before-sum convention).
    */
  def charEntropy(s: SparkSession, d: String): DataFrame = {
    val acc = expr(
      """aggregate(
        |  array_distinct(transform(sequence(1, length(text)), i -> substring(text, i, 1))),
        |  CAST(0 AS BIGINT),
        |  (acc, c) -> acc + CAST(round(
        |    ((length(text) - length(replace(text, c, ''))) / CAST(length(text) AS DOUBLE))
        |    * ln((length(text) - length(replace(text, c, ''))) / CAST(length(text) AS DOUBLE))
        |    * 1e9) AS BIGINT))""".stripMargin)
    Tables.documents(s, d)
      .filter(length(col("text")) >= 1)
      .select(col("doc_id"),
        length(col("text")).as("len"),
        size(expr("array_distinct(transform(sequence(1, length(text)), i -> substring(text, i, 1)))"))
          .as("n_distinct_chars"),
        round(-(acc / lit(1e9)), 4).as("entropy"))
      .orderBy(col("doc_id"))
  }

  /** Repetition-based quality gate — the Gopher/C4-family signal the
    * other [[textQuality]] heuristics don't cover: templated or
    * looping generations show up as a dominant repeated word bigram
    * (`top2gram_frac`, share of all bigram slots taken by the most
    * frequent one) and a collapsed vocabulary (`dup_word_frac`,
    * 1 − distinct/total words). Documents with <2 words carry no
    * bigram signal and are excluded in BOTH engines (Spark
    * `sequence(1, 0)` counts DOWN where DuckDB's generate_series is
    * empty — the filter removes the divergence, not just noise).
    *
    * The `keep` decision is computed in EXACT integer arithmetic
    * (`top_c·5 ≤ n_grams` ⇔ frac ≤ 0.2, `(n_words−n_distinct)·10 ≤
    * 7·n_words` ⇔ dup ≤ 0.7) so the gate never sits on a float
    * rounding boundary; the reported fractions are round(·,4) display
    * values only.
    *
    * Shape at scale: bigram explode → two hash aggregates, and the
    * (doc_id, gram) pre-aggregate is map-side combinable, so the
    * shuffle carries per-doc distinct bigram counts, not bigram
    * occurrences. The per-doc word/vocab counts never leave the scan
    * stage (array algebra, no explode).
    */
  def repetitionFilter(s: SparkSession, d: String): DataFrame = {
    graft.functions.Registry.ensure(s)
    // r20: the bigram stats are SCAN-LOCAL ([[graft.functions
    // .TopBigramCount]] — max bigram multiplicity per row inside
    // whole-stage codegen; n_grams is just size(ws) − 1). The earlier
    // two-level hash aggregate shuffled one row per distinct
    // (doc, bigram) and joined the rollup back on doc_id — two
    // exchanges plus a join for integers derivable in the scan. Exact
    // same arithmetic: bigram multiplicity over (w_i, w_{i+1}) tuples
    // equals the `concat(w_i, ' ', w_{i+1})` grouping (words carry no
    // spaces), and Σ counts = size(ws) − 1.
    Tables.documents(s, d)
      .withColumn("ws", TextAnalysis.words)
      .filter(size(col("ws")) >= 2)
      .withColumn("n_words", size(col("ws")))
      .withColumn("n_distinct", size(array_distinct(col("ws"))))
      .withColumn("top_c", graft.functions.TextHashFunctions.topBigramCount(col("ws")))
      .withColumn("n_grams", (size(col("ws")) - 1).cast("bigint"))
      .select(
        col("doc_id"),
        col("n_words"),
        round(col("top_c").cast("double") / col("n_grams"), 4).as("top2gram_frac"),
        round(lit(1.0) - col("n_distinct").cast("double") / col("n_words"), 4).as("dup_word_frac"),
        (col("top_c") * 5 <= col("n_grams") &&
          (col("n_words") - col("n_distinct")) * 10 <= col("n_words") * 7).as("keep"))
      .orderBy(col("doc_id"))
  }

  /** The [[repetitionFilter]] KEEP rule as one scan-local predicate
    * over `text` — the chain form ([[TrainingPrep.corpusPrepChain]])
    * filters with it instead of semi-joining the reporting query's
    * frame, which re-scanned the corpus for a per-row decision. Docs
    * with < 2 words have no bigram signal and are NOT kept, exactly
    * the rows the semi join dropped ([[repetitionFilter]] emits no row
    * for them). r21: ONE fused codegen expression
    * ([[graft.functions.RepetitionKeep]]) — the four-conjunct Column
    * form re-ran the tokenizer per conjunct (ADVICE r20: Filter
    * conjuncts get no common-subexpression elimination), so every
    * chain call site paid up to four [[words]] passes per document.
    * ScanLocalRewriteSpec pins expression ≡ conjunction row parity.
    */
  private[graft] def repetitionKeepPred: Column =
    graft.functions.TextHashFunctions.repetitionKeep(col("text"))

  /** Vocabulary build with cumulative-coverage curve — the tokenizer-prep
    * rollup: global word counts ranked by frequency (count desc, token
    * asc — fully deterministic), each with its running share of total
    * corpus tokens. The coverage curve is what picks a vocab size ("the
    * top V types cover 99.5% of tokens").
    *
    * Scale shape: the corpus-wide work is ONE map-side-combinable hash
    * aggregate (shuffle carries (token, partial count), never token
    * instances); the rank + running sum over the aggregated vocab table
    * is a DISTRIBUTED prefix sum, not a global window (r9 — a web-scale
    * vocab of URLs/code tokens can reach 10⁸+ types, past the
    * single-partition comfort zone the earlier formulation assumed):
    * range-partition on the (count desc, token asc) sort key (sampled
    * boundaries keep each partition ~|vocab|/P even under zipfian
    * skew), rank and cumsum WITHIN each partition, then shift every
    * partition by the exclusive prefix of the per-partition totals.
    * The offsets come from a conditional P²-pair aggregate over the
    * per-partition totals (P = shuffle width, never vocab-sized) — a
    * broadcast cross join, NOT a window, so no unpartitioned-window
    * path runs anywhere in the plan (a literal partition key is folded
    * away by Catalyst and does not avoid it). Partition boundaries are
    * sample-dependent; ranks and cumsums are not (prefix sums
    * compose), so the output is deterministic.
    */
  def vocabCoverage(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = Tables.documents(s, d)
      .select(explode(words).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("n_occurrences"))
    val ranged = counts
      .repartitionByRange(col("n_occurrences").desc, col("token").asc)
      .withColumn("pid", spark_partition_id())
    val wLocal = Window.partitionBy(col("pid"))
      .orderBy(col("n_occurrences").desc, col("token").asc)
    val local = ranged
      .withColumn("local_rank", row_number().over(wLocal))
      .withColumn("local_cum", sum(col("n_occurrences")).over(
        wLocal.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    // ptot aggregates over `ranged`, not `local`, so the range exchange
    // feeding the window and both offset subplans is one reused shuffle
    val ptot = ranged.groupBy(col("pid"))
      .agg(count(lit(1)).as("p_rows"), sum(col("n_occurrences")).as("p_occ"))
    val parts = ptot.select(col("pid").as("opid"),
      col("p_rows").as("o_rows"), col("p_occ").as("o_occ"))
    val offsets = ptot.select(col("pid"))
      .crossJoin(broadcast(parts))
      .groupBy(col("pid"))
      .agg(
        sum(when(col("opid") < col("pid"), col("o_rows"))
          .otherwise(lit(0L))).as("rank_off"),
        sum(when(col("opid") < col("pid"), col("o_occ"))
          .otherwise(lit(0L))).as("cum_off"),
        sum(col("o_occ")).as("total"))
    local.join(broadcast(offsets), Seq("pid"))
      .withColumn("rank", (col("rank_off") + col("local_rank")).cast("int"))
      .withColumn("cum_occurrences", col("cum_off") + col("local_cum"))
      .withColumn("coverage", round(
        col("cum_occurrences").cast("double") / col("total"), 6))
      .select(col("rank"), col("token"), col("n_occurrences"),
        col("cum_occurrences"), col("coverage"))
      .orderBy(col("rank"))
  }

  /** Statistical (language-model) quality score — the model-based
    * sibling of the heuristic [[textQuality]] gate, after the CCNet
    * construction: score each document by the average log-likelihood
    * of its word bigrams under an add-one-smoothed bigram LM,
    * ln((c(w1,w2)+1) / (c(w1)+V)), and flag the lowest decile.
    * Statistically anomalous text (gibberish, character soup, boiler
    * tables) scores far below fluent text under ANY reasonable corpus
    * LM. Production pipelines train the LM on a trusted reference
    * corpus and score the crawl; trained here on the corpus itself
    * (self-scoring flags outliers), the swap being the count tables'
    * source only.
    *
    * Scale shape: token explode and bigram pairing are scan-stage +
    * one per-doc window; the two count tables are hash aggregates; the
    * score pass is two equality joins on word keys (near-zipfian skew
    * is bounded because a bigram's bucket carries counts, not text)
    * and one per-doc aggregate. Decile bucketing follows the
    * [[ScaleOps.userDeciles]] cutpoint pattern, NOT a global ntile:
    * nine exact percentiles of the ROUNDED per-doc score are one tiny
    * aggregate over per-doc rows (~6 orders smaller than the token
    * stream), broadcast, and each document is bucketed by a scan-stage
    * comparison chain — no single-partition window anywhere in the
    * plan. Equal-probability bins rather than exactly-equal-size bins:
    * score ties at a cutpoint land in one bucket together, which is
    * deterministic WITHOUT a doc_id tie-break because membership
    * compares the round-4 score (the q_user_deciles convention), so
    * engine float noise cannot move the boundary.
    */
  /** The scored corpus — one row per document with its add-one-smoothed
    * average bigram log-likelihood — cached per (session, sfDir): the
    * count-table LM and its application to the corpus are a model
    * artifact built once per corpus version and probed by every
    * consumer ([[lmQuality]], [[TrainingPrep.corpusPrep4]]'s quality
    * gate), the [[graft.operators.Similarity]] IVF/PCA stance. At
    * 100 TB this is the at-rest scored table the reference-corpus
    * variant would materialize beside the count-table model.
    */
  private val lmScoredCache = graft.Pins.session[String, DataFrame]()

  private def lmScored(s: SparkSession, d: String): DataFrame =
    lmScoredCache.getOrBuild(s, d) {
      val toks = lmToks(s, d)
      val bi = lmBigrams(s, d)
      val biCounts = bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
      val uniCounts = toks.groupBy(col("w")).agg(count(lit(1)).as("c1"))
        .withColumnRenamed("w", "w1")
      val vocab = toks.agg(countDistinct(col("w")).as("v"))
      // LEFT joins + coalesce-0, not inner: under the documented
      // reference-corpus swap an UNSEEN bigram must score the add-one
      // floor ln(1/(c1+V)) — an inner join would silently DROP it and an
      // all-unseen gibberish doc would vanish from the output instead of
      // landing in decile 1. Self-trained (counts ≥ 1 by construction)
      // the two forms are row-identical, which is why the oracle still
      // triple-matches.
      bi
        .join(biCounts, Seq("w1", "w2"), "left")
        .join(uniCounts, Seq("w1"), "left")
        .crossJoin(broadcast(vocab))
        .withColumn("ll",
          log((coalesce(col("c12"), lit(0L)) + 1).cast("double") /
            (coalesce(col("c1"), lit(0L)) + col("v"))))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"), round(avg(col("ll")), 4).as("avg_ll"))
        .pin("one LL rollup row per doc")
    }

  private def lmToks(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), posexplode(words).as(Seq("pos", "w")))

  private def lmBigrams(s: SparkSession, d: String): DataFrame =
    // r20: consecutive pairs are SCAN-LOCAL (zip the word array against
    // its own 1-shifted slice — codegen array ops, no HOF lambda). The
    // posexplode + lead-window form shuffled and sorted the entire
    // token stream by (doc_id, pos) once per consumer just to pair
    // neighbors that already sit adjacent in the source array. Row set
    // identical: one (doc_id, w1, w2) row per consecutive pair, in the
    // same per-doc order; docs with < 2 words contribute nothing
    // (previously: their lead() was null and the row was filtered).
    Tables.documents(s, d)
      .withColumn("ws", words)
      .filter(size(col("ws")) >= 2)
      .select(col("doc_id"), explode(arrays_zip(
        expr("slice(ws, 1, size(ws) - 1)"),
        expr("slice(ws, 2, size(ws) - 1)"))).as("p"))
      .select(col("doc_id"), col("p.0").as("w1"), col("p.1").as("w2"))

  def lmQuality(s: SparkSession, d: String): DataFrame = {
    val scored = lmScored(s, d)
    val cutCols = (1 to 9).map(k =>
      round(expr(s"percentile(avg_ll, 0.$k)"), 4).as(s"c$k"))
    // cutpoints over the K-bounded golden-hash sample, not every doc:
    // exact percentile buffers its whole input in one task, and this
    // input is one row PER DOCUMENT (the DSIR-cutpoint fix class,
    // r14 percentile sweep; PlanGuardSpec asserts the bound)
    val cuts = graft.GoldenHash.cutSample(scored, "doc_id")
      .agg(cutCols.head, cutCols.tail: _*)
    val decile = (1 to 9).map(k =>
      when(col("avg_ll") > col(s"c$k"), 1).otherwise(0))
      .reduce(_ + _) + lit(1)
    scored.crossJoin(broadcast(cuts))
      .withColumn("decile", decile.cast("int"))
      .withColumn("low_quality", col("decile") === 1)
      .select(col("doc_id"), col("n_bigrams"), col("avg_ll"),
        col("decile"), col("low_quality"))
      .orderBy(col("doc_id"))
  }

  /** Hashing-trick buckets for [[hashEmbed]]. */
  val HashDim = 64

  /** Hashing-trick text featurization — the text→vector bridge
    * (fastText / Vowpal-Wabbit hashing trick): each `[a-z]+` token
    * hashes to one of [[HashDim]] buckets with an engine-portable
    * rolling polynomial (`h = (h*31 + code) mod 2³¹` over ASCII codes
    * — pure integer arithmetic both engines evaluate identically; no
    * xxhash/murmur, whose implementations differ between Spark and
    * DuckDB), and a document's feature vector is its bucket-count
    * histogram. Emits the per-doc INTEGER summary (token count,
    * occupied buckets, position-weighted checksum, squared L2 norm) —
    * exact-compare oracle columns, the [[Similarity.embeddingPca]]
    * checksum convention — while the bucket histogram itself is the
    * vector the ANN/semantic family consumes.
    *
    * Scale shape ([[BpeTrain.bpeApply]]'s stance): the per-char hash
    * fold runs once per DISTINCT word on the vocab table (HOF cost is
    * vocab-bound, never corpus-bound), then the corpus pays one scan
    * broadcast-joined to the per-word bucket.
    */
  def hashEmbed(s: SparkSession, d: String): DataFrame = {
    val vocabHash = Tables.documents(s, d)
      .select(explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("word"))
      .distinct()
      // r20: the per-char rolling fold as one codegen expression
      // ([[graft.functions.Poly31Bucket]] — identical arithmetic; the
      // aggregate/transform HOF chain was interpreted per character)
      .withColumn("bucket",
        graft.functions.TextHashFunctions.poly31Bucket(col("word"), HashDim))
    val docWords = Tables.documents(s, d)
      .select(col("doc_id"),
        explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("word"))
    docWords.join(vocabHash, Seq("word"))
      .groupBy(col("doc_id"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_tokens"),
        count(lit(1)).cast("long").as("n_buckets"),
        sum(col("cnt") * (col("bucket") + 1)).as("checksum"),
        sum(col("cnt") * col("cnt")).as("l2sq"))
      .orderBy(col("doc_id"))
  }

  // lazy: oracle objects reference operator constants (e.g. DedupOracles
  // .spanCtes -> Dedup.SpanLen), so an eager defs -- which reads the oracle
  // object back -- would deadlock-null mid-initialization when a composed
  // oracle (TrainingOracles.corpusPrep4) initializes the oracle object first
  lazy val defs: Map[String, QueryDef] = Map(
    "q_hash_embed"   -> QueryDef(hashEmbed, Some(TextOracles.hashEmbed)),
    "q_lm_quality"   -> QueryDef(lmQuality, Some(TextOracles.lmQuality)),
    "q_token_count"  -> QueryDef(tokenCount, Some(TextOracles.tokenCount)),
    "q_vocab_coverage" -> QueryDef(vocabCoverage, Some(TextOracles.vocabCoverage)),
    "q_repetition_filter" -> QueryDef(repetitionFilter, Some(TextOracles.repetitionFilter)),
    "q_bpe_token_count" -> QueryDef(bpeTokenCount, Some(TextOracles.bpeTokenCount)),
    "q_text_quality" -> QueryDef(textQuality, Some(TextOracles.textQuality)),
    "q_model_quality" -> QueryDef(modelQuality, Some(TextOracles.modelQuality)),
    "q_quality_calibration" -> QueryDef(qualityCalibration, Some(TextOracles.qualityCalibration)),
    "q_lang_id"      -> QueryDef(langId, Some(TextOracles.langId)),
    "q_lang_confusion" -> QueryDef(langConfusion, Some(TextOracles.langConfusion)),
    "q_char_entropy" -> QueryDef(charEntropy, Some(TextOracles.charEntropy)),
    "q_ngram_diversity" -> QueryDef(ngramDiversity, Some(TextOracles.ngramDiversity)),
    "q_doc_fingerprint" -> QueryDef(docFingerprint, Some(TextOracles.docFingerprint)))
}

/** DuckDB oracles for [[TextAnalysis]] — same length-difference string
  * algebra, same aliases/rounding/ORDER BY.
  */
object TextOracles {

  /** DuckDB twin of [[TextAnalysis.words]]. */
  private[operators] val wordsSql =
    "list_filter(string_split(text, ' '), w -> w != '')"

  /** [[TextAnalysis.lmQuality]] replayed in SQL: zipped parallel
    * unnests recover (pos, word), lead() pairs the bigrams, the same
    * add-one-smoothed score and cutpoint-bucketed decile follow.
    * (c12+1)/(c1+V) is an exact-integer double division in both
    * engines; only ln() differs at the last ulp, absorbed by the
    * round-4 convention before the cutpoints. `quantile_cont` and
    * Spark's `percentile` share the (n-1)·p linear-interpolation
    * definition, and both sides compare round-4 doubles, so the
    * bucket membership is engine-stable.
    */
  /** The WITH-body of [[lmQuality]] up to the per-doc `lmscored` CTE —
    * lm-prefixed names so composed pipelines ([[TrainingOracles
    * .corpusPrep4]]) can embed it beside their own CTEs.
    */
  private[operators] val lmScoredCtes: String =
    s"""lmws AS (
       |  SELECT doc_id, $wordsSql AS w FROM documents),
       |lmtoks AS (
       |  SELECT doc_id, unnest(w) AS w, unnest(range(1, len(w) + 1)) AS pos
       |  FROM lmws),
       |lmbi0 AS (
       |  SELECT doc_id, w AS w1,
       |    lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
       |  FROM lmtoks),
       |lmbi AS (SELECT doc_id, w1, w2 FROM lmbi0 WHERE w2 IS NOT NULL),
       |lmbic AS (SELECT w1, w2, count(*) AS c12 FROM lmbi GROUP BY w1, w2),
       |lmuni AS (SELECT w AS w1, count(*) AS c1 FROM lmtoks GROUP BY w),
       |lmvv AS (SELECT count(DISTINCT w) AS v FROM lmtoks),
       |lmscored AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       |    round(avg(ln(CAST(COALESCE(c12, 0) + 1 AS DOUBLE)
       |      / (COALESCE(c1, 0) + v))), 4) AS avg_ll
       |  FROM lmbi
       |  LEFT JOIN lmbic USING (w1, w2)
       |  LEFT JOIN lmuni USING (w1)
       |  CROSS JOIN lmvv
       |  GROUP BY doc_id)""".stripMargin

  val lmQuality: String = {
    val cutDefs = (1 to 9)
      .map(k => s"round(quantile_cont(avg_ll, 0.$k), 4) AS c$k")
      .mkString(",\n       |    ")
    val bucket = (1 to 9)
      .map(k => s"CASE WHEN avg_ll > c$k THEN 1 ELSE 0 END").mkString(" + ")
    s"""WITH $lmScoredCtes,
       |lmcuts AS (
       |  SELECT $cutDefs
       |  FROM (${graft.GoldenHash.cutSampleSql("lmscored", "doc_id")}))
       |SELECT doc_id, n_bigrams, avg_ll,
       |  CAST(($bucket) + 1 AS INT) AS decile,
       |  (avg_ll <= c1) AS low_quality
       |FROM lmscored, lmcuts
       |ORDER BY doc_id""".stripMargin
  }

  private[operators] val nTokensSql = "(length(text) - length(replace(text, ' ', '')) + 1)"

  /** Same count/rank/cumsum algebra as [[TextAnalysis.vocabCoverage]];
    * the coverage ratio divides as DOUBLE in both dialects before the
    * round(6).
    */
  val vocabCoverage: String =
    s"""WITH counts AS (
      |  SELECT tok AS token, count(*) AS n_occurrences FROM (
      |    SELECT unnest($wordsSql) AS tok FROM documents)
      |  GROUP BY 1),
      |ranked AS (
      |  SELECT token, n_occurrences,
      |    CAST(row_number() OVER (ORDER BY n_occurrences DESC, token) AS INT) AS rank,
      |    sum(n_occurrences) OVER (ORDER BY n_occurrences DESC, token
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_occurrences,
      |    sum(n_occurrences) OVER () AS total
      |  FROM counts)
      |SELECT rank, token,
      |  CAST(n_occurrences AS BIGINT) AS n_occurrences,
      |  CAST(cum_occurrences AS BIGINT) AS cum_occurrences,
      |  round(CAST(cum_occurrences AS DOUBLE) / CAST(total AS DOUBLE), 6) AS coverage
      |FROM ranked
      |ORDER BY rank""".stripMargin

  /** Same bigram/vocab algebra as [[TextAnalysis.repetitionFilter]];
    * the keep gate is the same exact-integer comparison.
    */
  val repetitionFilter: String =
    s"""WITH words AS (
      |  SELECT doc_id, $wordsSql AS ws
      |  FROM documents),
      |docs AS (
      |  SELECT doc_id, ws,
      |    CAST(len(ws) AS INT) AS n_words,
      |    CAST(len(list_distinct(ws)) AS INT) AS n_distinct
      |  FROM words WHERE len(ws) >= 2),
      |pos AS (
      |  SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 1)) AS i FROM docs),
      |grams AS (
      |  SELECT doc_id,
      |    ws[CAST(i AS INT)] || ' ' || ws[CAST(i AS INT) + 1] AS g
      |  FROM pos),
      |gc AS (SELECT doc_id, g, count(*) AS c FROM grams GROUP BY 1, 2),
      |tg AS (SELECT doc_id, max(c) AS top_c, sum(c) AS n_grams FROM gc GROUP BY 1)
      |SELECT d.doc_id, d.n_words,
      |  round(CAST(t.top_c AS DOUBLE) / t.n_grams, 4) AS top2gram_frac,
      |  round(1 - CAST(d.n_distinct AS DOUBLE) / d.n_words, 4) AS dup_word_frac,
      |  (t.top_c * 5 <= t.n_grams
      |   AND (d.n_words - d.n_distinct) * 10 <= d.n_words * 7) AS keep
      |FROM docs d JOIN tg t USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  val tokenCount: String =
    s"""SELECT source,
       |  count(*) AS n_docs,
       |  CAST(sum($nTokensSql) AS BIGINT) AS n_tokens,
       |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
       |  round(avg($nTokensSql), 4) AS avg_tokens_per_doc
       |FROM documents
       |GROUP BY source
       |ORDER BY source""".stripMargin

  val bpeTokenCount: String =
    s"""SELECT source,
       |  CAST(sum(length(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]'))) AS BIGINT) AS n_bpe_tokens,
       |  CAST(sum($nTokensSql) AS BIGINT) AS n_ws_tokens,
       |  round(avg(length(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]'))), 4) AS avg_bpe_tokens
       |FROM documents
       |GROUP BY source
       |ORDER BY source""".stripMargin

  private def occSql(p: String): String =
    s"CAST((length(' ' || text || ' ') - length(replace(' ' || text || ' ', '$p', ''))) / ${p.length} AS INT)"

  val textQuality: String =
    s"""WITH feat AS (
       |  SELECT doc_id,
       |    CAST($nTokensSql AS INT) AS n_tokens,
       |    round(CAST(length(text) - ($nTokensSql - 1) AS DOUBLE) / $nTokensSql, 4) AS avg_token_len,
       |    round(CAST(${occSql(" the ")} + ${occSql(" a ")} + ${occSql(" and ")} AS DOUBLE)
       |          / $nTokensSql, 4) AS stopword_ratio
       |  FROM documents)
       |SELECT doc_id, n_tokens, avg_token_len, stopword_ratio,
       |  CASE WHEN n_tokens < 10 THEN 'too_short'
       |       WHEN avg_token_len < 2 OR avg_token_len > 12 THEN 'odd_tokens'
       |       ELSE 'ok' END AS quality
       |FROM feat
       |ORDER BY doc_id""".stripMargin

  /** [[TextAnalysis.hashEmbed]]'s rolling-hash twin: the identical
    * `(h*31 + code) mod 2³¹` fold (list_reduce needs the 0 seed
    * prepended — it folds from the first element, Spark's aggregate
    * takes an explicit init), identical bucket mod, identical integer
    * rollup.
    */
  val hashEmbed: String =
    s"""WITH words AS (
       |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
       |  FROM documents),
       |vocab AS (
       |  SELECT word,
       |    CAST(list_reduce(
       |      list_prepend(CAST(0 AS BIGINT),
       |        list_transform(range(1, length(word) + 1),
       |          i -> CAST(ord(substr(word, i, 1)) AS BIGINT))),
       |      (h, c) -> (h * 31 + c) % 2147483648) % ${TextAnalysis.HashDim} AS INT) AS bucket
       |  FROM (SELECT DISTINCT word FROM words)),
       |perbucket AS (
       |  SELECT w.doc_id, v.bucket, CAST(count(*) AS BIGINT) AS cnt
       |  FROM words w JOIN vocab v USING (word)
       |  GROUP BY 1, 2)
       |SELECT doc_id,
       |  CAST(sum(cnt) AS BIGINT) AS n_tokens,
       |  CAST(count(*) AS BIGINT) AS n_buckets,
       |  CAST(sum(cnt * (bucket + 1)) AS BIGINT) AS checksum,
       |  CAST(sum(cnt * cnt) AS BIGINT) AS l2sq
       |FROM perbucket
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  /** [[TextAnalysis.modelQuality]] replayed from the pinned weights
    * sidecar: identical round-4 features, the identical left-associated
    * linear term (ws[1] is the intercept — DuckDB lists are 1-based),
    * the round-6 logit as the reported value (no sigmoid — libm exp()
    * ulp drift, see the builder), sign of the linear term for keep.
    */
  /** The pinned-weights linear-scoring prefix (w/feat/scored CTEs) —
    * shared by [[modelQuality]] and [[qualityCalibration]] so the two
    * replays of the gate cannot drift.
    */
  /** qual-prefixed CTE names so composed pipelines
    * ([[TrainingOracles]]) can embed this fragment beside their own
    * CTEs (the lmScoredCtes convention). NO leading WITH.
    */
  private[operators] val qualityScoredCtes: String =
    s"""qw AS (
       |  SELECT list(w ORDER BY idx) AS ws
       |  FROM read_parquet('${TextAnalysis.QualityWeightsPath}/*.parquet')),
       |qfeat AS (
       |  SELECT doc_id,
       |    CAST(len($wordsSql) AS INT) AS n_words,
       |    round(CAST(length(text) - ($nTokensSql - 1) AS DOUBLE) / $nTokensSql, 4) AS avg_token_len,
       |    round(CAST(${occSql(" the ")} + ${occSql(" a ")} + ${occSql(" and ")} AS DOUBLE)
       |          / $nTokensSql, 4) AS stopword_ratio,
       |    round(CAST(len(list_distinct($wordsSql)) AS DOUBLE) / len($wordsSql), 4) AS distinct_ratio
       |  FROM documents
       |  WHERE len($wordsSql) >= 1),
       |qscored AS (
       |  SELECT f.*,
       |    ws[1] + f.n_words * ws[2] + f.avg_token_len * ws[3]
       |          + f.stopword_ratio * ws[4] + f.distinct_ratio * ws[5] AS lin
       |  FROM qfeat f CROSS JOIN qw)""".stripMargin

  val modelQuality: String =
    s"""WITH $qualityScoredCtes
       |SELECT doc_id, n_words, avg_token_len, stopword_ratio, distinct_ratio,
       |  round(lin, 6) AS quality_logit,
       |  lin >= 0 AS keep
       |FROM qscored
       |ORDER BY doc_id""".stripMargin

  /** [[TextAnalysis.qualityCalibration]]: the same scored prefix, then
    * round-6 logits joined to the label, `quantile_cont` cutpoints
    * (the (n−1)·p interpolation Spark's percentile shares), and the
    * integer-quantized per-decile rollup.
    */
  val qualityCalibration: String = {
    val cuts = (1 to 9)
      .map(k => s"round(quantile_cont(ql, 0.$k), 6) AS c$k").mkString(", ")
    val bucket = (1 to 9)
      .map(k => s"(CASE WHEN ql > c$k THEN 1 ELSE 0 END)").mkString(" + ")
    s"""WITH $qualityScoredCtes,
       |lab AS (
       |  SELECT doc_id, round(s.lin, 6) AS ql, d.lang = 'en' AS is_en
       |  FROM qscored s JOIN documents d USING (doc_id)),
       |cuts AS (SELECT $cuts FROM (${graft.GoldenHash.cutSampleSql("lab", "doc_id")})),
       |bucketed AS (
       |  SELECT ql, is_en, CAST(1 + $bucket AS INT) AS decile
       |  FROM lab, cuts)
       |SELECT decile,
       |  count(*) AS n_docs,
       |  round(CAST(sum(CAST(round(ql * 1e6) AS BIGINT)) AS BIGINT)
       |        / (count(*) * 1e6), 4) AS avg_logit,
       |  CAST(sum(CASE WHEN is_en THEN 1 ELSE 0 END) AS BIGINT) AS n_en,
       |  round(CAST(sum(CASE WHEN is_en THEN 1 ELSE 0 END) AS BIGINT)
       |        / (count(*) * 1e0), 4) AS en_rate
       |FROM bucketed
       |GROUP BY decile
       |ORDER BY decile""".stripMargin
  }

  val langId: String =
    s"""WITH scores AS (
       |  SELECT doc_id, lang,
       |    ${occSql(" the ")} + ${occSql(" and ")} + ${occSql(" a ")} AS score_en,
       |    ${occSql(" el ")} + ${occSql(" la ")} + ${occSql(" y ")} AS score_es,
       |    ${occSql(" der ")} + ${occSql(" und ")} + ${occSql(" die ")} AS score_de,
       |    ${occSql(" le ")} + ${occSql(" et ")} + ${occSql(" la ")} AS score_fr
       |  FROM documents)
       |SELECT doc_id, lang, score_en, score_es, score_de, score_fr,
       |  CASE WHEN score_en >= score_es AND score_en >= score_de
       |            AND score_en >= score_fr AND score_en > 0 THEN 'en'
       |       WHEN score_es >= score_de AND score_es >= score_fr
       |            AND score_es > 0 THEN 'es'
       |       WHEN score_de >= score_fr AND score_de > 0 THEN 'de'
       |       WHEN score_fr > 0 THEN 'fr'
       |       ELSE 'unknown' END AS predicted_lang
       |FROM scores
       |ORDER BY doc_id""".stripMargin

  /** [[TextAnalysis.langConfusion]]: the [[langId]] scores CTE reused,
    * then the (true, predicted) matrix with per-true-lang shares.
    */
  val langConfusion: String =
    s"""WITH scores AS (
       |  SELECT doc_id, lang,
       |    ${occSql(" the ")} + ${occSql(" and ")} + ${occSql(" a ")} AS score_en,
       |    ${occSql(" el ")} + ${occSql(" la ")} + ${occSql(" y ")} AS score_es,
       |    ${occSql(" der ")} + ${occSql(" und ")} + ${occSql(" die ")} AS score_de,
       |    ${occSql(" le ")} + ${occSql(" et ")} + ${occSql(" la ")} AS score_fr
       |  FROM documents),
       |pred AS (
       |  SELECT lang,
       |    CASE WHEN score_en >= score_es AND score_en >= score_de
       |              AND score_en >= score_fr AND score_en > 0 THEN 'en'
       |         WHEN score_es >= score_de AND score_es >= score_fr
       |              AND score_es > 0 THEN 'es'
       |         WHEN score_de >= score_fr AND score_de > 0 THEN 'de'
       |         WHEN score_fr > 0 THEN 'fr'
       |         ELSE 'unknown' END AS predicted_lang
       |  FROM scores),
       |tot AS (SELECT lang, count(*) AS n_lang FROM pred GROUP BY lang)
       |SELECT p.lang, p.predicted_lang, count(*) AS n,
       |  round(count(*) / (min(t.n_lang) * 1e0), 4) AS share
       |FROM pred p JOIN tot t USING (lang)
       |GROUP BY p.lang, p.predicted_lang
       |ORDER BY p.lang, p.predicted_lang""".stripMargin

  /** [[TextAnalysis.ngramDiversity]]: trigrams via a positional
    * self-join over parallel unnests (oracle-SF formulation; the engine
    * builds them scan-stage).
    */
  val ngramDiversity: String =
    s"""WITH docs AS (
       |  SELECT doc_id, source, $wordsSql AS ws FROM documents
       |  WHERE len($wordsSql) >= 3),
       |toks AS (
       |  SELECT doc_id, source, unnest(ws) AS w,
       |    generate_subscripts(ws, 1) AS o
       |  FROM docs),
       |grams AS (
       |  SELECT a.source, a.w || ' ' || b.w || ' ' || c.w AS g
       |  FROM toks a
       |  JOIN toks b ON a.doc_id = b.doc_id AND b.o = a.o + 1
       |  JOIN toks c ON a.doc_id = c.doc_id AND c.o = a.o + 2)
       |SELECT source,
       |  count(*) AS n_grams,
       |  count(DISTINCT g) AS n_distinct_grams,
       |  round(count(DISTINCT g) / (count(*) * 1e0), 4) AS gram_diversity
       |FROM grams
       |GROUP BY source
       |ORDER BY source""".stripMargin

  /** [[TextAnalysis.charEntropy]]: per-char counts via unnest (the
    * oracle-SF formulation of the engine's scan-stage fold), the SAME
    * integer-quantized `round(p·ln(p)·1e9)` terms, order-free BIGINT
    * sum.
    */
  val charEntropy: String =
    """WITH pos AS (
      |  SELECT doc_id, length(text) AS len, text,
      |    unnest(generate_series(1, length(text))) AS i
      |  FROM documents WHERE length(text) >= 1),
      |cnts AS (
      |  SELECT doc_id, len, substr(text, CAST(i AS INT), 1) AS c, count(*) AS cnt
      |  FROM pos GROUP BY 1, 2, 3),
      |terms AS (
      |  SELECT doc_id, len,
      |    CAST(round(cnt / (len * 1e0) * ln(cnt / (len * 1e0)) * 1e9) AS BIGINT) AS t
      |  FROM cnts)
      |SELECT doc_id, CAST(min(len) AS INT) AS len,
      |  CAST(count(*) AS INT) AS n_distinct_chars,
      |  round(-(CAST(sum(t) AS BIGINT) / 1e9), 4) AS entropy
      |FROM terms
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin

  val docFingerprint: String =
    """WITH pos AS (
      |  SELECT doc_id, n_chars, text,
      |    unnest(generate_series(1, length(text))) AS i
      |  FROM documents)
      |SELECT doc_id,
      |  CAST(sum(ascii(substr(text, CAST(i AS INT), 1)) * ((i % 31) + 1)) AS BIGINT) AS fingerprint,
      |  CAST(min(n_chars) AS BIGINT) AS n_chars
      |FROM pos
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin
}
