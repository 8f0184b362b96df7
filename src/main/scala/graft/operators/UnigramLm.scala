package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}

/** Unigram-LM (SentencePiece-style) tokenizer induction beside
  * [[BpeTrain]] — the OTHER tokenizer production pipelines train
  * (VERDICT r14 item 6). Viterbi EM over the same distinct-word
  * frequency table BPE trains on ([[BpeTrain.vocab]] — one corpus-scale
  * shuffle, shared, so the two tokenizers' fertilities compare over one
  * word definition):
  *
  *   - CANDIDATES (round 0): every substring of length 1..[[MaxPieceLen]]
  *     of every vocab word, occurrence-counted (all positions,
  *     freq-weighted); the top [[CandMax]] by (count DESC, piece ASC)
  *     plus ALL single characters (kept unconditionally at every round,
  *     so segmentation is total — no UNK).
  *   - E-STEP: Viterbi-segment each DISTINCT word under the current
  *     piece scores; per-word cost ∝ len × [[MaxPieceLen]], and the
  *     whole step is vocab-bound, never corpus-bound.
  *   - M-STEP: piece counts = freq-weighted usage sums; prune pieces
  *     with zero usage (Viterbi-EM's prune-by-loss at threshold 0: an
  *     unused piece contributes nothing to the corpus likelihood),
  *     single characters exempt; re-derive scores from the new counts.
  *
  * DETERMINISM (the convention that makes a cross-engine oracle
  * possible): scores are INTEGER-QUANTIZED log-likelihoods —
  * `floor(1e6 · ln((cnt+1) / (total+pieces)))` as BIGINT (Laplace
  * smoothing keeps zero-usage characters finite; floor, not round,
  * because Java rounds half-up while DuckDB rounds half-away-from-zero
  * on negatives) — so every Viterbi comparison is exact integer
  * arithmetic and the argmax cannot drift between engines. Ties take
  * the SMALLEST piece length at each DP cell (engine: ascending-k scan
  * with strict improvement; oracle: ordered CASE), making the
  * segmentation itself, not just its score, engine-identical.
  *
  * The EM runs DRIVER-SIDE over the collected vocab (the
  * [[BpeTrain.learnMerges]] deep-rounds precedent and its
  * [[BpeTrain.collectVocabCapped]] cap machinery): the frequency table
  * is vocab-bound by construction, and R Viterbi-EM rounds as
  * distributed jobs would pay scheduler latency per (round × DP depth)
  * for aggregations orders of magnitude below corpus scale. The ONE
  * corpus-scale job is the shared vocab scan. The oracle replays the
  * ENTIRE induction from raw text alone — candidates, every round's
  * forward DP (a recursive CTE carrying the last [[MaxPieceLen]] best
  * scores as columns), the backtrace (a second recursive CTE choosing
  * the smallest tie-breaking step), usage counts, prune, and
  * requantization — with NO steering artifact: all arithmetic is
  * integer except the single `floor(1e6·ln(rational))` per piece per
  * round, the same ln-then-quantize exposure every lm/tfidf oracle in
  * this repo carries.
  *
  * Reference anchor: the reference has no tokenizer surface at all; this
  * extends the training-data-pipeline family (SURVEY §2.8) beside BPE.
  */
object UnigramLm {

  /** Longest candidate piece. */
  val MaxPieceLen = 4

  /** Multi-char candidate budget (top by count, ties lexicographic). */
  val CandMax = 1200

  /** Viterbi-EM rounds after the count-initialized round 0. */
  val EmRounds = 3

  /** Fixed-point scale for quantized log-likelihoods. */
  val Scale = 1e6

  final case class Piece(piece: String, cnt: Long, logqZ: Long)

  /** floor-quantized Laplace log-likelihood — THE one score definition,
    * mirrored verbatim in the oracle SQL ([[UnigramOracles.lqSql]]).
    */
  private def logqZ(cnt: Long, total: Long, nPieces: Long): Long =
    math.floor(Scale * math.log((cnt + 1).toDouble / (total + nPieces))).toLong

  /** Viterbi segmentation under integer scores; ties take the smallest
    * piece length (ascending-k scan, strict improvement). Total by
    * construction: every single char of the word is in `logq`.
    */
  private[graft] def viterbi(w: String, logq: collection.Map[String, Long]): Seq[String] = {
    val n = w.length
    val best = Array.fill(n + 1)(Long.MinValue)
    val bk = Array.fill(n + 1)(0)
    best(0) = 0L
    var p = 1
    while (p <= n) {
      var k = 1
      val kMax = math.min(MaxPieceLen, p)
      while (k <= kMax) {
        if (best(p - k) != Long.MinValue) {
          logq.get(w.substring(p - k, p)) match {
            case Some(q) =>
              val sc = best(p - k) + q
              if (sc > best(p)) { best(p) = sc; bk(p) = k }
            case None =>
          }
        }
        k += 1
      }
      p += 1
    }
    require(best(n) != Long.MinValue, s"unsegmentable word '$w' — char pieces missing")
    val out = List.newBuilder[String]
    var q = n
    val rev = scala.collection.mutable.ArrayBuffer.empty[String]
    while (q > 0) { val k = bk(q); rev += w.substring(q - k, q); q -= k }
    rev.reverseIterator.foreach(out += _)
    out.result()
  }

  /** The driver-side EM core over a collected (word, freq) vocab —
    * exposed for the spec's brute-force cross-check.
    */
  private[graft] def induceUnigram(words: Array[(String, Long)],
      rounds: Int = EmRounds): Array[Piece] = {
    // round 0: occurrence-counted substring candidates
    val cnt0 = scala.collection.mutable.HashMap.empty[String, Long]
    words.foreach { case (w, f) =>
      var i = 0
      while (i < w.length) {
        var l = 1
        val lMax = math.min(MaxPieceLen, w.length - i)
        while (l <= lMax) {
          val p = w.substring(i, i + l)
          cnt0(p) = cnt0.getOrElse(p, 0L) + f
          l += 1
        }
        i += 1
      }
    }
    val top = cnt0.toArray.sortBy { case (p, c) => (-c, p) }.take(CandMax)
    val chars = cnt0.filter(_._1.length == 1)
    var state: Map[String, Long] = (top ++ chars).toMap // same (piece, cnt) pairs dedup
    var r = 1
    while (r <= rounds) {
      val total = state.valuesIterator.sum
      val n = state.size.toLong
      val logq = state.map { case (p, c) => p -> logqZ(c, total, n) }
      val usage = scala.collection.mutable.HashMap.empty[String, Long]
      words.foreach { case (w, f) =>
        viterbi(w, logq).foreach(p => usage(p) = usage.getOrElse(p, 0L) + f)
      }
      state = state.collect {
        case (p, _) if usage.getOrElse(p, 0L) > 0L || p.length == 1 =>
          p -> usage.getOrElse(p, 0L)
      }
      r += 1
    }
    val totalF = state.valuesIterator.sum
    val nF = state.size.toLong
    state.toArray.sortBy(_._1)
      .map { case (p, c) => Piece(p, c, logqZ(c, totalF, nF)) }
  }

  private val emCache = graft.Pins.session[String, Array[Piece]]()

  private[graft] def trainedPieces(s: SparkSession, d: String): Array[Piece] =
    emCache.getOrBuild(s, d) {
      // strict collect (ADVICE r15): the oracle re-derives the FULL
      // vocab from raw text, and a min-frequency prune changes the EM's
      // substring counts and Laplace denominators — so the unigram path
      // fails loudly past the cap instead of silently pruning
      induceUnigram(BpeTrain.collectVocabAll(
        BpeTrain.vocab(s, d).select(col("word").as("seq"), col("freq")),
        BpeTrain.DriverVocabCap))
    }

  /** `q_unigram_lm_train`: the final piece table (piece, cnt, logq_z)
    * after [[EmRounds]] Viterbi-EM rounds. The oracle re-derives it
    * END-TO-END from raw text (no pinned artifact).
    */
  def unigramTrain(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    trainedPieces(s, d).toSeq.toDF("piece", "cnt", "logq_z")
      .orderBy(col("piece"))
  }

  /** `q_unigram_lm_apply`: per-document tokenization accounting under
    * the trained pieces — the SAME output shape as `q_bpe_apply`
    * (n_words / tokens / letter chars), so the two tokenizers' corpus
    * fertilities compare directly over the shared word definition. The
    * per-word Viterbi runs once per DISTINCT word on the driver
    * (vocab-bound); the corpus-scale side is one broadcast join of the
    * word→token-count map against the word stream.
    */
  /** The per-DISTINCT-word unigram token table (word, n_tok) under the
    * trained pieces — the unigram twin of [[BpeTrain.wordTokenCounts]],
    * cached per (session, corpus); both accounting queries join the
    * corpus word stream to this one vocab-bound map.
    */
  private val uniTokCache = graft.Pins.session[String, DataFrame]()
  private def uniWordTok(s: SparkSession, d: String): DataFrame =
    uniTokCache.getOrBuild(s, d) {
      import s.implicits._
      val logq: Map[String, Long] =
        trainedPieces(s, d).map(p => p.piece -> p.logqZ).toMap
      BpeTrain.collectVocabAll(
        BpeTrain.vocab(s, d).select(col("word").as("seq"), col("freq")),
        BpeTrain.DriverVocabCap)
        .map { case (w, _) =>
          val pieces = viterbi(w, logq)
          // n_tok feeds the fertility accounting; sum_logq (the word's
          // total quantized log-likelihood under the trained pieces)
          // feeds the perplexity filter — ONE Viterbi pass serves both
          (w, pieces.length.toLong, pieces.map(logq).sum)
        }
        .toSeq.toDF("word", "n_tok", "sum_logq")
    }

  def unigramApply(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("word"))
      .join(broadcast(uniWordTok(s, d)), Seq("word"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_tok")).as("n_unigram_tokens"),
        sum(length(col("word")).cast("long")).as("n_letter_chars"))
      .orderBy(col("doc_id"))

  /** `q_tokenizer_compare`: per-language fertility of the frozen BPE
    * merges vs the trained unigram LM over the SAME corpus word stream
    * — the deliverable the shared word table exists for ("fertility
    * comparable against BPE's", VERDICT r14 item 6): one row per
    * language with both token totals and both fertilities, so a
    * tokenizer choice is a SELECT, not a re-run. Scale shape: both
    * per-word token tables are vocab-bound broadcasts; the corpus pays
    * one explode + two broadcast joins. The oracle replays BOTH
    * tokenizers — the BPE merge recursion from its pinned artifact and
    * the unigram EM from raw text — under one WITH RECURSIVE.
    */
  def tokenizerCompare(s: SparkSession, d: String): DataFrame = {
    BpeTrain.ensureMergesPinned(s, d)
    val bpe = BpeTrain.wordTokenCounts(s, d)
      .select(col("word"), col("n_tok").as("bpe_tok"))
    val uni = uniWordTok(s, d).select(col("word"), col("n_tok").as("uni_tok"))
    Tables.documents(s, d)
      .select(col("lang"),
        explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("word"))
      .join(broadcast(bpe), Seq("word"))
      .join(broadcast(uni), Seq("word"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("bpe_tok")).as("n_bpe_tokens"),
        sum(col("uni_tok")).as("n_unigram_tokens"),
        round(sum(col("bpe_tok")) / count(lit(1)).cast("double"), 4)
          .as("bpe_fertility"),
        round(sum(col("uni_tok")) / count(lit(1)).cast("double"), 4)
          .as("unigram_fertility"))
      .orderBy(col("lang"))
  }

  /** Keep threshold for [[unigramPplFilter]]: 8.0 nats per token in the
    * quantized micro-nat domain the trained scores already live in
    * (`floor(1e6·ln)`), so the keep rule is EXACT integer arithmetic on
    * both engines — the CCNet-style convention of cutting the
    * high-perplexity tail under a small corpus LM.
    */
  val KeepNllMicroPerTok: Long = 8000000L

  /** Per-character UNK floor for out-of-vocab words, in the same integer
    * micro-nat domain: the MINIMUM trained single-char piece score (the
    * SentencePiece unk-penalty convention — an unseen word can never
    * score better than its length times the worst trained character).
    * Derived from the trained table, so it is the same exact integer on
    * both engines (`min(logq) WHERE length(piece) = 1` in the oracle).
    */
  private[graft] def unkCharLogqMicro(s: SparkSession, d: String): Long =
    trainedPieces(s, d).iterator.filter(_.piece.length == 1).map(_.logqZ).min

  /** `q_unigram_ppl_filter` — CCNet-style perplexity quality filter:
    * per document, the negative log-likelihood per token under the
    * TRAINED unigram LM (the standard corpus-curation gate: a document
    * the corpus LM finds surprising is boilerplate, another language,
    * or noise). All arithmetic stays in the integer micro-nat domain
    * the quantized scores define: `total_logq` is an exact BIGINT sum,
    * `nll_micro_per_tok` an exact nonnegative integer division (both
    * engines floor it identically for nonnegative operands), and `keep`
    * an integer cross-multiplication against [[KeepNllMicroPerTok]] —
    * no float can flip a verdict. Scale shape: the per-word
    * (n_tok, sum_logq) table is vocab-bound and broadcast
    * ([[uniWordTok]] — ONE shared Viterbi pass with the fertility
    * accounting); the corpus pays one explode + broadcast join, same
    * as `q_unigram_lm_apply`. The oracle replays the ENTIRE EM from
    * raw text, then scores the trace pieces against the final lq table.
    *
    * OUT-OF-VOCAB semantics (VERDICT r16 finding 2): a word absent from
    * the trained word table — impossible on the training corpus the
    * vocab was built from, but the normal case on a DELTA batch, which
    * is what a production perplexity gate scores — pays the per-char
    * UNK floor ([[unkCharLogqMicro]]): n_tok = its length, sum_logq =
    * length × the floor. A gibberish document of unseen words therefore
    * scores as maximally SURPRISING (keep = false), never as empty; the
    * oracle mirrors the same left join + floor, and the planted-OOV
    * spec in UnigramLmSpec pins the delta-batch behavior.
    */
  def unigramPplFilter(s: SparkSession, d: String): DataFrame =
    unigramPplFilterOf(s, d, Tables.documents(s, d))

  /** Shared body scoring an ARBITRARY document frame under the corpus
    * `d`'s trained LM — the production delta-batch entry point.
    */
  private[graft] def unigramPplFilterOf(s: SparkSession, d: String,
      docs: DataFrame): DataFrame = {
    val unk = unkCharLogqMicro(s, d)
    docs
      .select(col("doc_id"),
        explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("word"))
      .join(broadcast(uniWordTok(s, d)), Seq("word"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tok"), length(col("word")).cast("long")).as("n_tok"),
        coalesce(col("sum_logq"),
          length(col("word")).cast("long") * lit(unk)).as("sum_logq"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_tok")).as("n_tokens"),
        sum(col("sum_logq")).as("total_logq"))
      .select(col("doc_id"), col("n_words"), col("n_tokens"), col("total_logq"),
        expr("(-total_logq) DIV n_tokens").as("nll_micro_per_tok"),
        (col("total_logq") + lit(KeepNllMicroPerTok) * col("n_tokens") >= 0)
          .as("keep"))
      .orderBy(col("doc_id"))
  }

  /** Unigram twin of [[BpeTrain.vocabDrift]] (`q_unigram_drift`,
    * VERDICT r15 item 4): the FROZEN trained piece table's fertility on
    * the at-rest corpus vs the incoming delta batch (the standard
    * bucket-7 slice) plus the batch's new-word occurrence rate, retrain
    * flagged by the same exact integer cross-multiplication — the whole
    * body is [[BpeTrain.tokenizerDriftOf]] handed the unigram per-word
    * token table instead of the BPE one, so the two monitors cannot
    * drift in rule or shape. The oracle replays the ENTIRE EM from raw
    * text (the `q_unigram_lm_apply` prefix) before re-deriving both
    * slices' counters.
    */
  def unigramDrift(s: SparkSession, d: String): DataFrame =
    unigramDriftOf(s, d,
      Tables.documents(s, d).filter(graft.GoldenHash.bucket(col("doc_id"), 20) === 7))

  /** Shared body for the batch audit and the per-micro-batch streaming
    * emission ([[graft.streaming.StreamPipelines.streamingCorpusAdmission]]'s
    * unigram driftSink) — the [[BpeTrain.vocabDriftOf]] convention.
    */
  private[graft] def unigramDriftOf(s: SparkSession, d: String,
      batchDocs: DataFrame): DataFrame =
    BpeTrain.tokenizerDriftOf(s, d, batchDocs, "unigram", uniWordTok(s, d))

  lazy val defs: Map[String, QueryDef] = Map(
    "q_unigram_lm_train" -> QueryDef(unigramTrain, Some(UnigramOracles.unigramTrain)),
    "q_unigram_lm_apply" -> QueryDef(unigramApply, Some(UnigramOracles.unigramApply)),
    // verified-not-benched: the same two amortized word-table joins the
    // train/apply pair already times, sliced per lang
    "q_tokenizer_compare" -> QueryDef(tokenizerCompare,
      Some(UnigramOracles.tokenizerCompare), headline = false),
    // verified-not-benched: the q_vocab_drift convention — the same
    // amortized word-table joins as the benched apply, sliced twice
    "q_unigram_drift" -> QueryDef(unigramDrift,
      Some(UnigramOracles.unigramDrift), headline = false),
    // verified-not-benched per the frozen roster policy: the same
    // amortized word-table chain as the benched apply (one extra
    // broadcast column), so benching it would double-bill the chain
    "q_unigram_ppl_filter" -> QueryDef(unigramPplFilter,
      Some(UnigramOracles.unigramPplFilter), headline = false))
}

/** DuckDB replay of the unigram-LM induction from raw text alone —
  * every EM round unrolled as (forward-DP recursive CTE, backtrace
  * recursive CTE, usage rollup, prune+requantize), all integer
  * arithmetic except the per-piece `floor(1e6·ln)` quantization.
  */
object UnigramOracles {

  private val L = UnigramLm.MaxPieceLen

  /** SQL mirror of the one score definition. */
  private def lqSql(cntTable: String): String =
    s"""SELECT piece, cnt,
       |  CAST(floor(1e6 * ln(CAST(cnt + 1 AS DOUBLE)
       |    / ((SELECT sum(cnt) FROM $cntTable) + (SELECT count(*) FROM $cntTable))))
       |    AS BIGINT) AS logq
       |FROM $cntTable""".stripMargin

  /** Forward Viterbi DP over `vwords(word)` scored by `$lq(piece, logq)`
    * — a recursive CTE carrying the last [[UnigramLm.MaxPieceLen]] best
    * scores as columns (b1 = best(pos) … b4 = best(pos-3)); the
    * accumulated rows ARE the best() table.
    */
  private def vitCtes(tag: String, lq: String): String = {
    val sentinel = "-4611686018427387904" // never wins; keeps greatest() null-safe
    def score(k: Int) = s"coalesce(w.b$k + p$k.logq, $sentinel)"
    def join(k: Int) =
      s"LEFT JOIN $lq p$k ON w.pos + 1 >= $k AND p$k.piece = substr(w.word, w.pos + ${2 - k}, $k)"
    s"""vit_$tag AS (
       |  SELECT word, 0 AS pos,
       |    CAST(0 AS BIGINT) AS b1, CAST(NULL AS BIGINT) AS b2,
       |    CAST(NULL AS BIGINT) AS b3, CAST(NULL AS BIGINT) AS b4
       |  FROM vwords
       |  UNION ALL
       |  SELECT w.word, w.pos + 1,
       |    greatest(${(1 to L).map(score).mkString(", ")}),
       |    w.b1, w.b2, w.b3
       |  FROM vit_$tag w
       |  ${(1 to L).map(join).mkString("\n  ")}
       |  WHERE w.pos < length(w.word)),
       |fwd_$tag AS MATERIALIZED (SELECT word, pos, b1 AS best FROM vit_$tag)""".stripMargin
  }

  /** Backtrace over `fwd_$tag` + `$lq`: from pos = len(word) choose the
    * SMALLEST k with best(pos-k) + logq(piece) = best(pos) (the engine's
    * ascending-k strict-improvement tie-break), emitting the chosen
    * piece per step.
    */
  private def traceCtes(tag: String, lq: String): String = {
    def fj(k: Int) =
      s"LEFT JOIN fwd_$tag f$k ON f$k.word = t.word AND f$k.pos = t.pos - $k"
    def pj(k: Int) =
      s"LEFT JOIN $lq q$k ON t.pos >= $k AND q$k.piece = substr(t.word, t.pos + ${1 - k}, $k)"
    val kCase = (1 to L).map(k =>
      s"WHEN f$k.best + q$k.logq = f0.best THEN $k").mkString(" ")
    val pCase = (1 to L).map(k =>
      s"WHEN f$k.best + q$k.logq = f0.best THEN substr(t.word, t.pos + ${1 - k}, $k)")
      .mkString(" ")
    s"""trace_$tag AS (
       |  SELECT word, CAST(length(word) AS INT) AS pos, CAST(NULL AS VARCHAR) AS piece
       |  FROM vwords
       |  UNION ALL
       |  SELECT t.word, t.pos - (CASE $kCase END),
       |    CASE $pCase END
       |  FROM trace_$tag t
       |  JOIN fwd_$tag f0 ON f0.word = t.word AND f0.pos = t.pos
       |  ${(1 to L).map(fj).mkString("\n  ")}
       |  ${(1 to L).map(pj).mkString("\n  ")}
       |  WHERE t.pos > 0)""".stripMargin
  }

  /** One EM round: segment under `lq_$prev`, roll up freq-weighted
    * usage, prune zero-usage multi-char pieces (chars exempt, count 0),
    * requantize → `cnt_$r` and `lq_$r`.
    */
  private def roundCtes(r: Int, prev: String): String =
    s"""${vitCtes(s"r$r", s"lq_$prev")},
       |${traceCtes(s"r$r", s"lq_$prev")},
       |usage_r$r AS MATERIALIZED (
       |  SELECT piece, CAST(sum(freq) AS BIGINT) AS u
       |  FROM trace_r$r JOIN vocab USING (word)
       |  WHERE piece IS NOT NULL
       |  GROUP BY piece),
       |cnt_r$r AS MATERIALIZED (
       |  SELECT c.piece, coalesce(u.u, 0) AS cnt
       |  FROM cnt_$prev c LEFT JOIN usage_r$r u USING (piece)
       |  WHERE coalesce(u.u, 0) > 0 OR length(c.piece) = 1),
       |lq_r$r AS MATERIALIZED (${lqSql(s"cnt_r$r")})""".stripMargin

  /** Shared prefix: vocab, substring candidates, round-0 state. */
  private val baseCtes: String =
    s"""vocab AS MATERIALIZED (
       |  SELECT word, CAST(count(*) AS BIGINT) AS freq
       |  FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
       |        FROM documents)
       |  GROUP BY word),
       |vwords AS MATERIALIZED (SELECT word FROM vocab),
       |subs AS MATERIALIZED (
       |  SELECT substr(word, CAST(i AS INT), CAST(l AS INT)) AS piece,
       |    CAST(sum(freq) AS BIGINT) AS cnt
       |  FROM (SELECT word, freq, unnest(generate_series(1, length(word))) AS i
       |        FROM vocab),
       |    (SELECT unnest(generate_series(1, $L)) AS l)
       |  WHERE i + l - 1 <= length(word)
       |  GROUP BY 1),
       |cnt_r0 AS MATERIALIZED (
       |  -- top-C ∪ chars as ONE branch (rn <= C OR len = 1): under WITH
       |  -- RECURSIVE, DuckDB 1.0 runs a two-branch UNION with recursive
       |  -- machinery that emitted the char rows TWICE, and duplicate
       |  -- pieces turn the DP joins into 2^len row multiplication
       |  SELECT piece, cnt FROM (
       |    SELECT piece, cnt, row_number() OVER (ORDER BY cnt DESC, piece) AS rn
       |    FROM subs)
       |  WHERE rn <= ${UnigramLm.CandMax} OR length(piece) = 1),
       |lq_r0 AS MATERIALIZED (${lqSql("cnt_r0")})""".stripMargin

  private def allRounds: String =
    (1 to UnigramLm.EmRounds).map(r => roundCtes(r, s"r${r - 1}")).mkString(",\n")

  val unigramTrain: String = {
    val fr = s"r${UnigramLm.EmRounds}"
    s"""WITH RECURSIVE
       |$baseCtes,
       |$allRounds
       |SELECT piece, cnt, logq AS logq_z
       |FROM lq_$fr
       |ORDER BY piece""".stripMargin
  }

  /** Apply = one more forward/backtrace pass under the FINAL scores,
    * per-word token counts, then the corpus join and per-doc rollup —
    * the bpeApply accounting over the same word stream.
    */
  val unigramApply: String = {
    val fr = s"r${UnigramLm.EmRounds}"
    s"""WITH RECURSIVE
       |$baseCtes,
       |$allRounds,
       |${vitCtes("ap", s"lq_$fr")},
       |${traceCtes("ap", s"lq_$fr")},
       |wordtok AS MATERIALIZED (
       |  SELECT word, CAST(count(piece) AS BIGINT) AS n_tok
       |  FROM trace_ap WHERE piece IS NOT NULL
       |  GROUP BY word),
       |docwords AS (
       |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
       |  FROM documents)
       |SELECT d.doc_id,
       |  CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(w.n_tok) AS BIGINT) AS n_unigram_tokens,
       |  CAST(sum(length(d.word)) AS BIGINT) AS n_letter_chars
       |FROM docwords d JOIN wordtok w USING (word)
       |GROUP BY d.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  /** [[UnigramLm.unigramPplFilter]]: the full EM replay + one apply
    * pass, then each traced piece scored against the FINAL lq table and
    * rolled up per word and per document — exact BIGINT sums, exact
    * nonnegative integer division (`//` floors, DIV truncates; equal on
    * nonnegative operands), exact integer keep rule. Words with no
    * trained segmentation (impossible on the training corpus, the delta
    * case in production) pay the engine's per-char UNK floor: the
    * minimum single-char logq — the same LEFT JOIN + coalesce shape.
    */
  val unigramPplFilter: String = {
    val fr = s"r${UnigramLm.EmRounds}"
    s"""WITH RECURSIVE
       |$baseCtes,
       |$allRounds,
       |${vitCtes("ap", s"lq_$fr")},
       |${traceCtes("ap", s"lq_$fr")},
       |wordsc AS MATERIALIZED (
       |  SELECT t.word, CAST(count(t.piece) AS BIGINT) AS n_tok,
       |    CAST(sum(q.logq) AS BIGINT) AS sum_logq
       |  FROM trace_ap t JOIN lq_$fr q ON q.piece = t.piece
       |  WHERE t.piece IS NOT NULL
       |  GROUP BY t.word),
       |unkc AS MATERIALIZED (
       |  SELECT CAST(min(logq) AS BIGINT) AS c FROM lq_$fr WHERE length(piece) = 1),
       |docwords AS (
       |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
       |  FROM documents),
       |scored AS (
       |  SELECT d.doc_id,
       |    coalesce(w.n_tok, length(d.word)) AS n_tok,
       |    coalesce(w.sum_logq, length(d.word) * u.c) AS sum_logq
       |  FROM docwords d LEFT JOIN wordsc w USING (word) CROSS JOIN unkc u)
       |SELECT doc_id,
       |  CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       |  CAST(sum(sum_logq) AS BIGINT) AS total_logq,
       |  CAST((-CAST(sum(sum_logq) AS BIGINT)) // CAST(sum(n_tok) AS BIGINT)
       |    AS BIGINT) AS nll_micro_per_tok,
       |  (CAST(sum(sum_logq) AS HUGEINT)
       |     + ${UnigramLm.KeepNllMicroPerTok} * CAST(sum(n_tok) AS HUGEINT) >= 0)
       |    AS keep
       |FROM scored
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin
  }

  /** [[UnigramLm.unigramDrift]]: the full EM replay + one apply pass
    * (the `q_unigram_lm_apply` prefix, shared verbatim), then the
    * [[BpeOracles.vocabDrift]] tail re-expressed over the unigram
    * word-token table — per-lang counters on each golden-hash slice,
    * the at-rest vocab membership probe, the identical rounded
    * fertilities, and the retrain flag by the SAME exact integer
    * cross-multiplication (HUGEINT here, decimal(38,0) engine-side).
    */
  val unigramDrift: String = {
    val fr = s"r${UnigramLm.EmRounds}"
    val b20 = graft.GoldenHash.bucketSql("doc_id", 20)
    s"""WITH RECURSIVE
       |$baseCtes,
       |$allRounds,
       |${vitCtes("ap", s"lq_$fr")},
       |${traceCtes("ap", s"lq_$fr")},
       |wordtok AS MATERIALIZED (
       |  SELECT word, CAST(count(piece) AS BIGINT) AS n_tok
       |  FROM trace_ap WHERE piece IS NOT NULL
       |  GROUP BY word),
       |docwords AS MATERIALIZED (
       |  SELECT doc_id, lang, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
       |  FROM documents),
       |rw AS (
       |  SELECT d.lang, CAST(count(*) AS BIGINT) AS rest_words,
       |    CAST(sum(w.n_tok) AS BIGINT) AS rest_tokens
       |  FROM docwords d JOIN wordtok w USING (word)
       |  WHERE ($b20) <> 7
       |  GROUP BY d.lang),
       |restvocab AS (
       |  SELECT DISTINCT word FROM docwords WHERE ($b20) <> 7),
       |dw AS (
       |  SELECT d.lang, CAST(count(*) AS BIGINT) AS delta_words,
       |    CAST(sum(w.n_tok) AS BIGINT) AS delta_tokens,
       |    CAST(count(*) FILTER (WHERE rv.word IS NULL) AS BIGINT) AS new_words
       |  FROM docwords d
       |  JOIN wordtok w USING (word)
       |  LEFT JOIN restvocab rv USING (word)
       |  WHERE ($b20) = 7
       |  GROUP BY d.lang)
       |SELECT r.lang, rest_words, rest_tokens, delta_words, delta_tokens, new_words,
       |  round(rest_tokens / (rest_words * 1e0), 4) AS rest_fertility,
       |  round(delta_tokens / (delta_words * 1e0), 4) AS delta_fertility,
       |  (CAST(delta_tokens AS HUGEINT) * rest_words * 10 >
       |     CAST(rest_tokens AS HUGEINT) * delta_words * 11
       |   OR new_words * 5 > delta_words) AS retrain
       |FROM rw r JOIN dw USING (lang)
       |ORDER BY r.lang""".stripMargin
  }

  /** [[UnigramLm.tokenizerCompare]]: BOTH tokenizers replayed under one
    * `WITH RECURSIVE` — the BPE merge recursion over its pinned
    * artifact ([[BpeOracles.applyCtesBody]]: m/base/states/final +
    * lang-bearing docwords) spliced beside the full unigram EM chain
    * (no name collisions by construction), then one per-lang rollup
    * joining the word stream to both per-word token tables.
    */
  val tokenizerCompare: String = {
    val fr = s"r${UnigramLm.EmRounds}"
    s"""WITH RECURSIVE
       |${BpeOracles.applyCtesBody},
       |$baseCtes,
       |$allRounds,
       |${vitCtes("ap", s"lq_$fr")},
       |${traceCtes("ap", s"lq_$fr")},
       |wordtok AS MATERIALIZED (
       |  SELECT word, CAST(count(piece) AS BIGINT) AS n_tok
       |  FROM trace_ap WHERE piece IS NOT NULL
       |  GROUP BY word)
       |SELECT d.lang,
       |  CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(f.n_tok) AS BIGINT) AS n_bpe_tokens,
       |  CAST(sum(u.n_tok) AS BIGINT) AS n_unigram_tokens,
       |  round(sum(f.n_tok) / (count(*) * 1e0), 4) AS bpe_fertility,
       |  round(sum(u.n_tok) / (count(*) * 1e0), 4) AS unigram_fertility
       |FROM docwords d
       |JOIN final f USING (word)
       |JOIN wordtok u USING (word)
       |GROUP BY d.lang
       |ORDER BY d.lang""".stripMargin
  }
}
