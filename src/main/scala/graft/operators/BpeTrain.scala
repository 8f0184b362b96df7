package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}

/** Distributed BPE merge induction over the `documents` corpus — the
  * tokenizer-training stage of an LLM data pipeline (the HuggingFace /
  * SentencePiece `train()` step, re-expressed as Spark aggregations).
  *
  * Scale shape (the standard frequency-table formulation): the corpus
  * is scanned ONCE to build the distinct-word frequency table — the
  * only corpus-scale shuffle — and every merge round after that is a
  * small aggregation over the vocab table (pairs explode → sum(freq) →
  * argmax), whose size is the distinct-word count, orders of magnitude
  * below corpus rows at 100 TB. Each round's merge application is a
  * narrow per-row string rewrite chained onto the persisted vocab scan
  * (no shuffle, no fixpoint-width hazards — every round's aggregation
  * is an independent job over the same persisted base).
  *
  * Deterministic conventions, identical in both engines:
  *   - words = `regexp_extract_all(lower(text), '[a-z]+')`;
  *   - initial state = chars space-joined with a leading AND trailing
  *     space (`' a b c '`) so merge patterns carry both boundaries;
  *   - pair counts enumerate ALL adjacent positions (freq-weighted;
  *     overlapping runs count each position, classic BPE counting);
  *   - argmax tie-break: count DESC, then pair string ASC;
  *   - merge application is ONE `replace(seq, ' a b ', ' ab ')` pass —
  *     leftmost non-overlapping, the identical scan semantics of Java
  *     `String.replace` and DuckDB `replace`. For immediately repeated
  *     pairs (`a b a b`) the consumed trailing boundary defers the
  *     second merge to a later round — a documented, deterministic
  *     variant of classic BPE (which re-scans within the round).
  *
  * The learned merges pin to [[MergesPath]]; the oracle replays the
  * ENTIRE induction from that artifact with a recursive CTE (state r =
  * state r-1 with merge r applied) and recomputes each round's argmax
  * independently — a non-argmax merge at any round fails the compare,
  * so the pin steers the replay but cannot hide a learning bug.
  */
object BpeTrain {

  /** Merge rounds learned (vocab size = alphabet + Rounds). */
  val Rounds = 16

  /** Rounds for the deep-induction query — past
    * [[DistributedRoundsMax]], so it exercises the driver-side path.
    */
  val DeepRounds = 64

  /** Largest round count run as per-round distributed aggregations.
    * Each distributed round is a driver-launched job over the vocab
    * table: fine at 16, but a production tokenizer needs 30k+ merges —
    * 30k sequential Spark jobs is hours of scheduler overhead alone
    * (VERDICT r11 #3). Past this threshold [[learnMerges]] collects the
    * (vocab-bound by construction) frequency table and induces the
    * merges driver-side with incrementally-maintained pair counts —
    * the classic tokenizer-trainer algorithm, whose per-round cost is
    * the words CONTAINING the merged pair, not the vocab. The
    * distributed formulation stays the small-R path because the oracle
    * replays it round-by-round; BpeTrainSpec pins that both paths
    * produce IDENTICAL merges on the same corpus and round count.
    */
  val DistributedRoundsMax = 16

  /** Bound on the driver-side vocab collect: distinct lowercase words,
    * each a short string + freq. 10M rows ≈ a few hundred MB
    * driver-side — the scale real web corpora produce after lowercasing
    * ([a-z]+ tokens only). A corpus past the cap is MIN-FREQUENCY-
    * PRUNED automatically with a loud log of the dropped mass
    * ([[collectVocabCapped]] — standard BPE practice: hapax words
    * cannot win an argmax round against any repeated pair unless the
    * alphabet is near-exhausted, so the learned merges on the
    * surviving vocab are unchanged).
    */
  val DriverVocabCap: Int = 10000000

  val MergesPath: String = graft.Pins.artifact("bpe_merges")
  val DeepMergesPath: String = graft.Pins.artifact("bpe_merges_deep")

  /** Distinct lowercase words with corpus frequency and initial
    * char-split state. The single corpus-scale shuffle. Shared with
    * [[UnigramLm]] (the r14 verdict's "shared word-token table"), so
    * the two tokenizers' fertilities compare over one word definition.
    */
  private[operators] def vocab(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .withColumn("seq",
        concat(lit(" "), regexp_replace(col("word"), "(.)", "$1 ")))

  final case class Merge(round: Int, lft: String, rgt: String, cnt: Long)

  private val mergeCache = graft.Pins.session[String, Seq[Merge]]()

  /** Freq-weighted all-adjacent pair counts of the current states. */
  private def pairCounts(states: DataFrame): DataFrame =
    states
      .select(col("freq"), split(trim(col("seq")), " ").as("l"))
      .filter(size(col("l")) >= 2)
      .select(col("freq"), explode(
        expr("transform(sequence(0, size(l)-2), i -> l[i] || ' ' || l[i+1])")).as("pair"))
      .groupBy(col("pair")).agg(sum(col("freq")).as("cnt"))

  private[graft] def learnMerges(s: SparkSession, d: String, rounds: Int = Rounds): Seq[Merge] =
    mergeCache.getOrBuild(s, s"$d#$rounds") {
      if (rounds <= DistributedRoundsMax) learnDistributed(s, d, rounds)
      else learnDriverSide(s, d, rounds)
    }

  private def learnDistributed(s: SparkSession, d: String, rounds: Int): Seq[Merge] = {
    val base = vocab(s, d).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    base.count()
    val merges = scala.collection.mutable.ArrayBuffer.empty[Merge]
    var states = base
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      val top = pairCounts(states)
        .orderBy(col("cnt").desc, col("pair")).limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val pair = top(0).getString(0)
        val cnt = top(0).getLong(1)
        val Array(a, b) = pair.split(" ", 2)
        merges += Merge(r, a, b, cnt)
        // functions.replace = the exact leftmost non-overlapping scan
        // DuckDB's replace performs — NOT a regex
        states = states.withColumn("seq",
          replace(col("seq"), lit(s" $a $b "), lit(s" $a$b ")))
        r += 1
      }
    }
    base.unpersist()
    merges.toSeq
  }

  /** Driver-side induction over the collected frequency table — ONE
    * corpus-scale Spark job total (the vocab aggregation), then pure
    * driver compute, so 30k merges cost zero scheduler overhead.
    * Semantics are IDENTICAL to the distributed loop by construction:
    * word states are the same spaced strings and each merge applies
    * via Java `String.replace`, the exact leftmost non-overlapping
    * scan `functions.replace` and DuckDB `replace` perform (including
    * the documented deferred second merge on `a b a b`). Pair counts
    * are maintained INCREMENTALLY: a round recounts only the words
    * containing the merged pair (tracked in an occurrence index), and
    * the argmax pops from a TreeSet ordered (cnt DESC, pair ASC) —
    * per-round cost ∝ affected words, not vocab, which is what makes
    * a 30k-round production vocabulary tractable.
    */
  private def learnDriverSide(s: SparkSession, d: String, rounds: Int): Seq[Merge] =
    induceMerges(collectVocabCapped(vocab(s, d), DriverVocabCap), rounds)

  /** Collect a (seq, freq) vocab frame under a driver-size cap. Fits →
    * plain collect. Over the cap → the MIN-FREQUENCY PRUNE the
    * [[DriverVocabCap]] scaladoc names (standard BPE practice): keep
    * every word at or above the smallest frequency threshold whose
    * cumulative word count fits the cap — band-at-a-time in descending
    * frequency, so the rule is deterministic (a tie band is kept or
    * dropped whole, never split by partition order) — and loud-log the
    * dropped word count and occurrence mass. The auto-prune is taken
    * ONLY when every dropped word is a hapax (freq 1): hapax-tail words
    * cannot win an argmax round against any repeated pair unless the
    * alphabet is near-exhausted, so that prune leaves the learned
    * merges on the surviving vocab unchanged (BpeTrainSpec pins this).
    * When the cap would force dropping REPEATED words — whose pair
    * counts can move an argmax and silently change learned merges
    * (ADVICE r13) — the method fails loudly instead: raise the cap or
    * use the distributed [[learn]] path, which has no driver collect.
    * The frequency histogram collected to choose the threshold is
    * distinct-FREQUENCY-bound (≪ vocab), never vocab-bound.
    */
  /** Strict variant for consumers whose math is cap-SENSITIVE: the
    * unigram EM (ADVICE r15) — a pruned hapax tail changes substring
    * counts and the Laplace total/nPieces denominators, so BPE's
    * "hapax words cannot change merges" argument does not transfer.
    * Collect the full vocab or fail loudly; never prune.
    */
  private[graft] def collectVocabAll(v: DataFrame,
      cap: Int): Array[(String, Long)] = {
    val head = v.select(col("seq"), col("freq")).limit(cap + 1).collect()
    require(head.length <= cap,
      s"vocab exceeds the driver cap $cap and this consumer cannot prune " +
        "without changing its result (unigram EM denominators); raise the cap")
    head.map(r => (r.getString(0), r.getLong(1)))
  }

  private[graft] def collectVocabCapped(v: DataFrame,
      cap: Int): Array[(String, Long)] = {
    val vf = v.select(col("seq"), col("freq"))
    val head = vf.limit(cap + 1).collect()
    if (head.length <= cap) head.map(r => (r.getString(0), r.getLong(1)))
    else {
      val hist = vf.groupBy(col("freq")).agg(count(lit(1)).as("n"))
        .orderBy(col("freq").desc)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      var kept = 0L; var thr = Long.MaxValue; var i = 0
      while (i < hist.length && kept + hist(i)._2 <= cap) {
        kept += hist(i)._2; thr = hist(i)._1; i += 1
      }
      require(kept > 0,
        s"BPE vocab cap $cap cannot fit even the top frequency band " +
          s"(${hist.headOption.fold(0L)(_._2)} words at the max frequency)")
      // merges-unchanged only holds for a hapax tail: dropped REPEATED
      // words contribute pair counts that can flip an argmax (ADVICE
      // r13), so that case is a loud failure, never a silent prune
      val maxDroppedFreq = hist.drop(i).headOption.fold(0L)(_._1)
      require(maxDroppedFreq <= 1L,
        s"BPE vocab cap $cap would prune REPEATED words (dropped band " +
          s"frequency $maxDroppedFreq > 1), which can change learned merges; " +
          s"raise the cap or use the distributed learn() path")
      val droppedWords = hist.drop(i).map(_._2).sum
      val droppedMass = hist.drop(i).map { case (f, n) => f * n }.sum
      val totalMass = hist.map { case (f, n) => f * n }.sum
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"BPE driver-side vocab (${kept + droppedWords} distinct words) exceeds " +
          s"cap $cap: min-frequency prune at freq >= $thr keeps $kept words, " +
          s"drops $droppedWords words carrying $droppedMass of $totalMass occurrences")
      vf.filter(col("freq") >= thr)
        .collect().map(r => (r.getString(0), r.getLong(1)))
    }
  }

  /** The incremental driver-side induction core over a collected
    * (seq, freq) vocab — word order in the array is irrelevant (counts
    * are multiset sums; the argmax orders on (cnt DESC, pair ASC)).
    */
  private[graft] def induceMerges(collected: Array[(String, Long)],
      rounds: Int): Seq[Merge] = {
    val seqs = collected.map(_._1)
    val freqs = collected.map(_._2)

    def pairsOf(seq: String): Array[String] = {
      val syms = seq.trim.split(" ")
      if (syms.length < 2) Array.empty
      else Array.tabulate(syms.length - 1)(i => syms(i) + " " + syms(i + 1))
    }

    val counts = scala.collection.mutable.HashMap.empty[String, Long]
    val index = scala.collection.mutable.HashMap.empty[String, scala.collection.mutable.Set[Int]]
    // TreeSet keyed (−cnt, pair): head is the (cnt DESC, pair ASC) argmax
    implicit val ord: Ordering[(Long, String)] =
      Ordering.Tuple2(Ordering.Long.reverse, Ordering.String)
    val heap = scala.collection.mutable.TreeSet.empty[(Long, String)]
    def bump(pair: String, delta: Long): Unit = {
      val old = counts.getOrElse(pair, 0L)
      if (old != 0L) heap.remove((old, pair))
      val nw = old + delta
      if (nw == 0L) counts.remove(pair)
      else { counts(pair) = nw; heap.add((nw, pair)) }
    }
    var i = 0
    while (i < seqs.length) {
      val f = freqs(i)
      pairsOf(seqs(i)).foreach { p =>
        bump(p, f)
        index.getOrElseUpdate(p, scala.collection.mutable.Set.empty) += i
      }
      i += 1
    }

    val merges = scala.collection.mutable.ArrayBuffer.empty[Merge]
    var r = 1
    while (r <= rounds && heap.nonEmpty) {
      val (cnt, pair) = heap.head
      val Array(a, b) = pair.split(" ", 2)
      merges += Merge(r, a, b, cnt)
      // pull the entry out FIRST: the apply loop re-registers any word
      // where the merged pair survives its own round (the deferred
      // `a b a b` case), so after the loop the index holds exactly the
      // deferred occurrences — removing afterwards would orphan them
      val affected = index.remove(pair)
        .getOrElse(scala.collection.mutable.Set.empty[Int])
      affected.foreach { w =>
        val before = pairsOf(seqs(w))
        val after0 = seqs(w).replace(s" $a $b ", s" $a$b ")
        if (after0 != seqs(w)) {
          val after = pairsOf(after0)
          seqs(w) = after0
          val f = freqs(w)
          before.foreach(bump(_, -f))
          after.foreach { p =>
            bump(p, f)
            index.getOrElseUpdate(p, scala.collection.mutable.Set.empty) += w
          }
        }
      }
      // stale index entries (a pair broken by an INTERVENING merge) are
      // harmless: counts are exact via the multiset deltas, the index
      // only scopes which words a round must touch, and the no-op
      // replace check skips words the pair has left
      r += 1
    }
    merges.toSeq
  }

  /** The learned merge table: one row per round with the merged symbol
    * and its count at learn time. Driver-small by construction (the
    * merge list IS the model — vocab-size rows); the learning behind it
    * ran as [[Rounds]] distributed aggregations.
    */
  def bpeTrain(s: SparkSession, d: String): DataFrame = {
    ensureMergesPinned(s, d)
    mergesDf(s, learnMerges(s, d))
  }

  /** Pin the learned-merge artifact without requiring `q_bpe_train` to
    * have run first: consumers whose ORACLE replays the merge recursion
    * ([[TrainingPrep.corpusPrepDelta]], [[bpeApply]]'s accounting twins)
    * call this so the pin holds under any query execution order — the
    * same guarantee-the-pin stance as [[Dedup.ensureMinhashPinned]].
    * Cheap on repeat: the merges come from a session pin and
    * [[graft.Pins.writeArtifact]] skips the I/O.
    */
  private[operators] def ensureMergesPinned(s: SparkSession, d: String): Unit =
    graft.Pins.writeArtifact(s, d, "bpe_merges") {
      mergesDf(s, learnMerges(s, d))
        .coalesce(1).write.mode("overwrite").parquet(MergesPath)
    }

  /** [[bpeTrain]] at [[DeepRounds]] — past [[DistributedRoundsMax]],
    * so the induction runs DRIVER-SIDE over the collected frequency
    * table (one corpus-scale job, zero per-round scheduler cost). The
    * oracle replays the whole 64-round induction from the pinned
    * merges with the same recursive CTE as `q_bpe_train`, recomputing
    * every round's argmax independently — so the incremental
    * pair-count bookkeeping (the part that makes 30k-round production
    * vocabularies tractable) is verified round-by-round against the
    * from-scratch definition, not trusted.
    */
  def bpeTrainDeep(s: SparkSession, d: String): DataFrame = {
    val out = mergesDf(s, learnMerges(s, d, DeepRounds))
    graft.Pins.writeArtifact(s, d, "bpe_merges_deep") {
      out.coalesce(1).write.mode("overwrite").parquet(DeepMergesPath)
    }
    out
  }

  private def mergesDf(s: SparkSession, ms: Seq[Merge]): DataFrame = {
    import s.implicits._
    ms.toDF("merge_round", "lft", "rgt", "cnt")
      .select(col("merge_round"), col("lft"), col("rgt"),
        concat(col("lft"), col("rgt")).as("merged"), col("cnt"))
      .orderBy(col("merge_round"))
  }

  /** Tokenize the corpus under the learned merges — the apply step
    * that completes the tokenizer story (train → encode): per doc, the
    * word-instance count, the BPE token count after all [[Rounds]]
    * merges, and the letter-character count (chars/token is the
    * compression the merges bought).
    *
    * Scale shape: the merge application runs on the VOCAB table (each
    * distinct word tokenized once — the same frequency-table stance as
    * the training loop), and the corpus pays one scan joined to that
    * per-word token count. At fixture scale the vocab side broadcasts;
    * at 100 TB a 10–100M-row vocab makes this the standard shuffle
    * join on the word key — either way corpus text is never
    * re-tokenized per row.
    */
  def bpeApply(s: SparkSession, d: String): DataFrame =
    bpeTokensOf(s, d, Tables.documents(s, d))

  /** Token accounting under the frozen learned merges for any documents
    * frame — [[bpeApply]] runs it corpus-wide; the incremental admission
    * pipeline ([[TrainingPrep.corpusPrepDelta]]) runs it on the admitted
    * batch alone. The word-level tokenization table is corpus-vocab-bound
    * and amortized via the cached merges, so per-batch cost is the word
    * explode + one vocab join.
    */
  /** The per-DISTINCT-word token table under the frozen learned merges
    * — (word, n_tok, wchars), vocab-bound; every BPE accounting query
    * joins the corpus to this one table.
    */
  private val wtcCache = graft.Pins.session[String, DataFrame]()

  private[operators] def wordTokenCounts(s: SparkSession, d: String): DataFrame =
    wtcCache.getOrBuild(s, d) {
      import graft.Pins.FramePin
      val ms = learnMerges(s, d)
      ms.foldLeft(vocab(s, d)) { (df, mg) =>
        df.withColumn("seq",
          replace(col("seq"), lit(s" ${mg.lft} ${mg.rgt} "), lit(s" ${mg.lft}${mg.rgt} ")))
      }
        .select(col("word"), size(split(trim(col("seq")), " ")).as("n_tok"),
          length(col("word")).as("wchars"))
        // cached + pinned once per (session, corpus): every BPE
        // accounting query joins this table, and the per-micro-batch
        // drift monitor must not re-pay the corpus fold per batch
        .pin("one row per distinct corpus word")
    }

  private[operators] def bpeTokensOf(
      s: SparkSession, d: String, docs: DataFrame,
      carry: Seq[String] = Nil): DataFrame = {
    // `carry` rides doc-functional columns (e.g. lang) through the
    // per-doc aggregate so single-consumer callers need no join-back to
    // the input frame — doc_id determines them, so grouping by
    // (doc_id, carry…) is row-identical to grouping by doc_id alone
    // (r21, [[graft.operators.TrainingPrep.deltaAdmissionChain]]).
    val docWords = docs
      .select(col("doc_id") +: carry.map(col) :+
        explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("word"): _*)
    docWords.join(wordTokenCounts(s, d), Seq("word"))
      .groupBy((col("doc_id") +: carry.map(col)): _*)
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_tok")).as("n_bpe_tokens"),
        sum(col("wchars")).as("n_letter_chars"))
      .orderBy(col("doc_id"))
  }

  /** Tokenizer fertility by language: BPE tokens per word and letter
    * chars per BPE token for each `lang` slice — THE tokenizer-quality
    * audit a multilingual pipeline runs after training a tokenizer (a
    * language whose fertility is far above the corpus mean is
    * under-served by the learned merges and will train slower per
    * byte). Same scale shape as [[bpeApply]]: the merge application is
    * amortized over the DISTINCT-word table, the corpus pays one
    * explode + a broadcast join to it.
    */
  def bpeFertility(s: SparkSession, d: String): DataFrame = {
    val docWords = Tables.documents(s, d)
      .select(col("lang"),
        explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("word"))
    docWords.join(wordTokenCounts(s, d), Seq("word"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_tok")).as("n_bpe_tokens"),
        sum(col("wchars")).as("n_letter_chars"),
        round(sum(col("n_tok")) / count(lit(1)).cast("double"), 4).as("fertility"),
        round(sum(col("wchars")) / sum(col("n_tok")).cast("double"), 4)
          .as("chars_per_token"))
      .orderBy(col("lang"))
  }

  /** Tokenizer drift monitor (`q_vocab_drift`) — the
    * [[AnnMaintain]]-style drift report applied to the FROZEN
    * tokenizer: per language, the frozen merges' fertility on the
    * at-rest corpus vs on the incoming delta batch (the standard
    * bucket-7 slice), plus the batch's new-word occurrence rate
    * (words absent from the at-rest distinct vocabulary — a frozen
    * char-BPE always tokenizes them, it just tokenizes them WORSE,
    * which is exactly what fertility measures). `retrain` flags a
    * language whose batch fertility exceeds 1.1× its at-rest
    * fertility or whose new-word rate exceeds 20% — the reproducible
    * retrain trigger a deployment wires to the tokenizer-training
    * job, the [[AnnMaintain]] drift-flag convention. The flag is
    * computed by integer CROSS-MULTIPLICATION on the exact counters
    * (widened to decimal/HUGEINT so it can never overflow), never by
    * comparing rounded doubles — a ratio at the rounding boundary
    * cannot flip it between engines. Scale shape: identical to
    * [[bpeFertility]] (merge application amortized over the distinct-
    * word table; one explode + broadcast join per slice) plus one
    * vocab-bound anti-membership join.
    */
  def vocabDrift(s: SparkSession, d: String): DataFrame =
    vocabDriftOf(s, d,
      Tables.documents(s, d).filter(graft.GoldenHash.bucket(col("doc_id"), 20) === 7))

  /** Frozen-per-corpus-version at-rest side of the drift monitor: the
    * per-lang (rest_words, rest_tokens) counters and the at-rest
    * distinct-vocab membership frame — cached (and pinned in memory)
    * so the per-micro-batch streaming monitor re-flags against it at
    * batch-side cost only.
    */
  private val restStatsCache =
    graft.Pins.session[String, (DataFrame, DataFrame)]()
  private def restVocabStats(s: SparkSession, d: String, kind: String,
      wtc: DataFrame): (DataFrame, DataFrame) =
    restStatsCache.getOrBuild(s, s"$d#$kind") {
      import graft.Pins.FramePin
      val isDelta = graft.GoldenHash.bucket(col("doc_id"), 20) === 7
      val restWords = Tables.documents(s, d).filter(!isDelta)
        .select(col("lang"),
          explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("word"))
      val stats = restWords.join(wtc, Seq("word"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("rest_words"), sum(col("n_tok")).as("rest_tokens"))
        .pin("one counter row per language")
      val vocabM = restWords.select(col("word")).distinct()
        .withColumn("known", lit(true))
        .pin("one row per at-rest distinct word")
      (stats, vocabM)
    }

  /** The drift monitor over an ARBITRARY batch documents frame — the
    * shared body of [[vocabDrift]] (batch = the fixture's bucket-7
    * slice) and the per-micro-batch streaming emission
    * ([[graft.streaming.StreamPipelines.streamingCorpusAdmission]]'s
    * driftSink), so the per-batch flags cannot drift from the audited
    * rule. Batch tokenization rides the frozen corpus-vocab word table
    * (the fixture batches are corpus slices; a production wiring
    * regenerates that vocab-bound table per merge generation).
    */
  private[graft] def vocabDriftOf(s: SparkSession, d: String,
      batchDocs: DataFrame): DataFrame = {
    ensureMergesPinned(s, d)
    tokenizerDriftOf(s, d, batchDocs, "bpe", wordTokenCounts(s, d))
  }

  /** The tokenizer-AGNOSTIC drift body: the monitor is a function of a
    * frozen per-word token table, not of how that table was trained —
    * so the BPE monitor ([[vocabDriftOf]]) and the unigram twin
    * ([[UnigramLm.unigramDriftOf]], VERDICT r15 item 4) share every
    * counter, both fertilities, and the integer cross-multiplied
    * retrain rule, and a third tokenizer costs one more call.
    */
  private[operators] def tokenizerDriftOf(s: SparkSession, d: String,
      batchDocs: DataFrame, kind: String, wtc: DataFrame): DataFrame = {
    val (rest, restVocab) = restVocabStats(s, d, kind, wtc)
    val delta = batchDocs
      .select(col("lang"),
        explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("word"))
      .join(wtc, Seq("word"))
      .join(restVocab, Seq("word"), "left")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("delta_words"), sum(col("n_tok")).as("delta_tokens"),
        count(when(col("known").isNull, 1)).as("new_words"))
    val dec = "decimal(38,0)"
    rest.join(delta, Seq("lang"))
      .select(col("lang"),
        col("rest_words"), col("rest_tokens"),
        col("delta_words"), col("delta_tokens"), col("new_words"),
        round(col("rest_tokens") / col("rest_words").cast("double"), 4)
          .as("rest_fertility"),
        round(col("delta_tokens") / col("delta_words").cast("double"), 4)
          .as("delta_fertility"),
        (col("delta_tokens").cast(dec) * col("rest_words") * 10 >
          col("rest_tokens").cast(dec) * col("delta_words") * 11 ||
          col("new_words") * 5 > col("delta_words")).as("retrain"))
      .orderBy(col("lang"))
  }

  lazy val defs: Map[String, QueryDef] = Map(
    "q_bpe_train" -> QueryDef(bpeTrain, Some(BpeOracles.bpeTrain)),
    "q_bpe_train_deep" -> QueryDef(bpeTrainDeep, Some(BpeOracles.bpeTrainDeep)),
    // verified-not-benched since r14: q_bpe_fertility IS bpeApply's
    // per-doc accounting rolled up per lang (BpeTrainSpec pins that),
    // so benching both timed the same chain twice — the compositional-
    // prefix convention
    "q_bpe_apply" -> QueryDef(bpeApply, Some(BpeOracles.bpeApply),
      headline = false),
    "q_bpe_fertility" -> QueryDef(bpeFertility, Some(BpeOracles.bpeFertility)),
    // verified-not-benched: the same amortized merge-application chain
    // as q_bpe_fertility (which holds the bench slot), sliced twice
    "q_vocab_drift" -> QueryDef(vocabDrift, Some(BpeOracles.vocabDrift),
      headline = false))
}

/** DuckDB oracle: full independent replay of the BPE induction. The
  * pinned merges STEER the state recursion; every round's argmax is
  * recomputed from that round's states, so the emitted rows only match
  * if each pinned merge really was the (cnt DESC, pair ASC) argmax of
  * the state it was learned from.
  */
object BpeOracles {

  /** Full-induction replay, parameterized over the pinned-merge
    * artifact and round bound so the distributed (`q_bpe_train`) and
    * driver-side (`q_bpe_train_deep`) trainers are held to the SAME
    * round-by-round argmax definition.
    */
  private def trainReplay(mergesPath: String, rounds: Int): String =
    s"""WITH RECURSIVE m AS (
       |  SELECT merge_round, lft, rgt
       |  FROM read_parquet('$mergesPath/*.parquet')),
       |base AS (
       |  SELECT word, CAST(count(*) AS BIGINT) AS freq,
       |    ' ' || regexp_replace(word, '(.)', '\\1 ', 'g') AS seq
       |  FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
       |        FROM documents)
       |  GROUP BY word),
       |states AS (
       |  SELECT word, freq, seq, 0 AS r FROM base
       |  UNION ALL
       |  SELECT s.word, s.freq,
       |    replace(s.seq, ' ' || m.lft || ' ' || m.rgt || ' ',
       |            ' ' || m.lft || m.rgt || ' '),
       |    s.r + 1
       |  FROM states s JOIN m ON m.merge_round = s.r + 1),
       |exploded AS (
       |  SELECT r, freq, l,
       |    unnest(generate_series(1, len(l) - 1)) AS i
       |  FROM (SELECT r, freq, str_split(trim(seq), ' ') AS l
       |        FROM states WHERE len(trim(seq)) > 0) ),
       |counts AS (
       |  SELECT r, l[i] || ' ' || l[i + 1] AS pair,
       |    CAST(sum(freq) AS BIGINT) AS cnt
       |  FROM exploded
       |  GROUP BY 1, 2),
       |ranked AS (
       |  SELECT r, pair, cnt,
       |    row_number() OVER (PARTITION BY r ORDER BY cnt DESC, pair) AS rn
       |  FROM counts)
       |SELECT CAST(r + 1 AS INT) AS merge_round,
       |  str_split(pair, ' ')[1] AS lft,
       |  str_split(pair, ' ')[2] AS rgt,
       |  str_split(pair, ' ')[1] || str_split(pair, ' ')[2] AS merged,
       |  cnt
       |FROM ranked
       |WHERE rn = 1 AND r < $rounds
       |ORDER BY merge_round""".stripMargin

  val bpeTrain: String = trainReplay(BpeTrain.MergesPath, BpeTrain.Rounds)
  val bpeTrainDeep: String = trainReplay(BpeTrain.DeepMergesPath, BpeTrain.DeepRounds)

  /** [[BpeTrain.bpeApply]] replayed from the pinned merges: the same
    * recursive state CTE to the FINAL round, per-word token counts,
    * then the corpus join and per-doc rollup.
    */
  /** The shared replay prefix for every merge-APPLICATION oracle: the
    * pinned merges drive the per-word state recursion to the `final`
    * word-token table, and `docwords` re-derives the corpus word
    * stream (with lang) — [[bpeApply]] and [[bpeFertility]] append
    * different rollup tails to the SAME prefix, so the two accountings
    * cannot drift.
    */
  /** The CTE LIST (no WITH prefix) so composed oracles
    * ([[UnigramOracles.tokenizerCompare]]) can splice it beside their
    * own chains under one `WITH RECURSIVE`.
    */
  private[operators] val applyCtesBody: String =
    s"""m AS (
       |  SELECT merge_round, lft, rgt
       |  FROM read_parquet('${BpeTrain.MergesPath}/*.parquet')),
       |base AS (
       |  SELECT word,
       |    ' ' || regexp_replace(word, '(.)', '\\1 ', 'g') AS seq
       |  FROM (SELECT DISTINCT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
       |        FROM documents)),
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
       |  SELECT doc_id, lang, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
       |  FROM documents)""".stripMargin

  private val applyCtes: String = s"WITH RECURSIVE $applyCtesBody"

  val bpeApply: String =
    s"""$applyCtes
       |SELECT d.doc_id,
       |  CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(f.n_tok) AS BIGINT) AS n_bpe_tokens,
       |  CAST(sum(f.wchars) AS BIGINT) AS n_letter_chars
       |FROM docwords d JOIN final f USING (word)
       |GROUP BY d.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** [[BpeTrain.vocabDrift]] on the same [[applyCtes]] replay prefix:
    * per-lang counters on each slice, the at-rest vocab membership
    * probe, the identical rounded fertilities, and the retrain flag by
    * the SAME exact integer cross-multiplication (HUGEINT here,
    * decimal(38,0) in the engine — both exact).
    */
  val vocabDrift: String = {
    val b20 = graft.GoldenHash.bucketSql("doc_id", 20)
    s"""$applyCtes,
       |rw AS (
       |  SELECT d.lang, CAST(count(*) AS BIGINT) AS rest_words,
       |    CAST(sum(f.n_tok) AS BIGINT) AS rest_tokens
       |  FROM docwords d JOIN final f USING (word)
       |  WHERE ($b20) <> 7
       |  GROUP BY d.lang),
       |restvocab AS (
       |  SELECT DISTINCT word FROM docwords WHERE ($b20) <> 7),
       |dw AS (
       |  SELECT d.lang, CAST(count(*) AS BIGINT) AS delta_words,
       |    CAST(sum(f.n_tok) AS BIGINT) AS delta_tokens,
       |    CAST(count(*) FILTER (WHERE rv.word IS NULL) AS BIGINT) AS new_words
       |  FROM docwords d
       |  JOIN final f USING (word)
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

  val bpeFertility: String =
    s"""$applyCtes
       |SELECT d.lang,
       |  CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(f.n_tok) AS BIGINT) AS n_bpe_tokens,
       |  CAST(sum(f.wchars) AS BIGINT) AS n_letter_chars,
       |  round(CAST(sum(f.n_tok) AS BIGINT) / (count(*) * 1e0), 4) AS fertility,
       |  round(CAST(sum(f.wchars) AS BIGINT) / (CAST(sum(f.n_tok) AS BIGINT) * 1e0), 4)
       |    AS chars_per_token
       |FROM docwords d JOIN final f USING (word)
       |GROUP BY d.lang
       |ORDER BY d.lang""".stripMargin
}
