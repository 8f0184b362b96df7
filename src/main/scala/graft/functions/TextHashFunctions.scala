package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge.{column, expr}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.types.UTF8String

/** 64-bit SimHash over an ARRAY<STRING> of tokens, one fused pass:
  * for each token t, h = xxhash64(t); each of the 64 bit positions
  * votes +1/-1 according to h's bit; signature bit b = sign of vote b.
  *
  * Replaces a 16-aggregate higher-order-function formulation that
  * re-tokenized and re-hashed the document once per bit (interpreted,
  * CodegenFallback) — this is one loop per row inside whole-stage
  * codegen, hashing each token exactly once.
  */
case class SimHash(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash"

  private val seed = 42L

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val votes = new Array[Int](64)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val u = arr.getUTF8String(i)
        val h = XXH64.hashUTF8String(u, seed)
        var b = 0
        while (b < 64) {
          votes(b) += (if (((h >>> b) & 1L) == 1L) 1 else -1)
          b += 1
        }
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) sig |= (1L << b)
      b += 1
    }
    java.lang.Long.valueOf(sig)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val b = ctx.freshName("b")
      val n = ctx.freshName("n")
      val votes = ctx.freshName("votes")
      val u = ctx.freshName("u")
      val h = ctx.freshName("h")
      val sig = ctx.freshName("sig")
      s"""int $n = $a.numElements();
         |int[] $votes = new int[64];
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i)) {
         |    org.apache.spark.unsafe.types.UTF8String $u = $a.getUTF8String($i);
         |    long $h = org.apache.spark.sql.catalyst.expressions.XXH64.hashUTF8String($u, ${seed}L);
         |    for (int $b = 0; $b < 64; $b++) {
         |      $votes[$b] += ((($h >>> $b) & 1L) == 1L) ? 1 : -1;
         |    }
         |  }
         |}
         |long $sig = 0L;
         |for (int $b = 0; $b < 64; $b++) {
         |  if ($votes[$b] > 0) $sig |= (1L << $b);
         |}
         |${ev.value} = $sig;""".stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Shared char-3-gram machinery for the MinHash index.
  *
  * A 3-gram of UTF-16 code units is packed INJECTIVELY into 48 bits
  * (`c0 | c1<<16 | c2<<32`), so gram identity is collision-free and
  * Jaccard over the packed values IS exact char-3-gram Jaccard — no
  * hashed-shingle collision caveat at all. The murmur3 finalizer
  * (`fmix64`, a bijection) only spreads values: the k-th minhash
  * function is `fmix64(g + (k+1)·φ)` — for each k a PERMUTATION of gram
  * space, the exact property the min-wise estimate wants.
  *
  * Everything is a single pass over the text per document: this replaced
  * a sequence/transform/explode pipeline that materialized one row per
  * (doc, shingle) — millions of rows and an object-hash aggregation —
  * with a pure per-row map (no rows created, no aggregation, no
  * shuffle), which is also the shape you want at 100 TB: signature
  * computation embarrassingly parallel in the scan.
  */
object GramHash {
  final val Golden = 0x9E3779B97F4A7C15L

  def fmix64(v: Long): Long = {
    var x = v
    x ^= x >>> 33; x *= 0xFF51AFD7ED558CCDL
    x ^= x >>> 33; x *= 0xC4CEB9FE1A85EC53L
    x ^= x >>> 33; x
  }

  /** H minhash values of the text's char-3-gram set; empty for texts
    * shorter than 3 chars (no grams — ADVICE r1 short-text semantics).
    */
  def minhashSigs(s: UTF8String, h: Int): Array[Long] = {
    val str = s.toString
    val grams = str.length - 2
    if (grams <= 0) return new Array[Long](0)
    val sigs = new Array[Long](h)
    java.util.Arrays.fill(sigs, Long.MaxValue)
    var i = 0
    while (i < grams) {
      val g = str.charAt(i).toLong |
        (str.charAt(i + 1).toLong << 16) | (str.charAt(i + 2).toLong << 32)
      var seed = g
      var k = 0
      while (k < h) {
        seed += Golden
        val v = fmix64(seed)
        if (v < sigs(k)) sigs(k) = v
        k += 1
      }
      i += 1
    }
    sigs
  }

  /** Exact Jaccard of two SORTED distinct long arrays by
    * merge-intersection — the JVM-side twin of the
    * [[graft.functions.SortedLongJaccard]] expression, for callers that
    * hold plain arrays (e.g. stateful streaming processors comparing an
    * incoming gram set against a stored representative).
    */
  def jaccardSorted(a: Array[Long], b: Array[Long]): Double = {
    var i = 0; var j = 0; var inter = 0
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { inter += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    val union = a.length + b.length - inter
    if (union == 0) 1.0 else inter.toDouble / union
  }

  /** The engine-portable rolling polynomial `h = (h*31 + code) mod 2³¹`
    * folded over one word's bytes, starting from `h0`. Callers guarantee
    * ASCII input (`regexp_extract_all('[a-z]+')` tokens), where UTF-8
    * byte == code point — the exact arithmetic of the
    * `aggregate(transform(sequence(...)))` HOF form this replaces.
    */
  def poly31(h0: Long, u: UTF8String): Long = {
    var h = h0
    val nb = u.numBytes()
    var j = 0
    while (j < nb) { h = (h * 31 + (u.getByte(j) & 0xffL)) % 2147483648L; j += 1 }
    h
  }

  /** Hashed-bigram buckets of a word array: for each consecutive pair
    * (w_i, w_i+1), the [[poly31]] fold over `w_i ++ ' ' ++ w_i+1`
    * reduced mod `dim` — [[graft.operators.CorpusAudit.dsirSelect]]'s
    * bag-of-bigrams feature map in ONE whole-stage-codegen pass. This
    * replaces a posexplode-carrying-the-whole-array pipeline (each
    * exploded row duplicated the full words array for `element_at`,
    * O(tokens²) bytes per doc) plus an interpreted per-occurrence
    * aggregate/transform/sequence HOF chain (CodegenFallback): no bg
    * string is ever allocated and each byte is visited at most twice.
    */
  def bigramBuckets(arr: ArrayData, dim: Int): Array[Int] = {
    val n = arr.numElements()
    if (n <= 1) return new Array[Int](0)
    val out = new Array[Int](n - 1)
    var i = 0
    while (i < n - 1) {
      var h = poly31(0L, arr.getUTF8String(i))
      h = (h * 31 + 32L) % 2147483648L // the ' ' joiner byte
      h = poly31(h, arr.getUTF8String(i + 1))
      out(i) = (h % dim).toInt
      i += 1
    }
    out
  }

  /** Maximum multiplicity of any consecutive word pair in `arr` — the
    * exact `max(count(*)) GROUP BY bigram` of
    * [[graft.operators.TextAnalysis.repetitionFilter]], computed
    * per row instead of through a corpus-wide two-level hash aggregate
    * (the shuffle carried one row per distinct (doc, bigram); this
    * carries nothing — the whole gate becomes scan-stage work). Pair
    * equality is exact string equality ((w1, w2) tuples ⇔ the
    * `concat(w1, ' ', w2)` keys of the aggregate form, since words
    * contain no spaces by construction of the splitter).
    */
  def topBigramCount(arr: ArrayData): Long = {
    val n = arr.numElements()
    if (n <= 1) return 0L
    val m = new java.util.HashMap[(UTF8String, UTF8String), Integer](n * 2)
    var best = 0
    var prev = arr.getUTF8String(0)
    var i = 0
    while (i < n - 1) {
      val next = arr.getUTF8String(i + 1)
      val c = m.merge((prev, next), Integer.valueOf(1),
        (a: Integer, b: Integer) => Integer.valueOf(a.intValue() + b.intValue()))
      if (c.intValue() > best) best = c.intValue()
      prev = next
      i += 1
    }
    best.toLong
  }

  /** The [[graft.operators.TextAnalysis.repetitionFilter]] KEEP rule
    * over raw text in ONE pass: tokenize ([[splitWords]]), then walk
    * the words once accumulating the distinct-word count and the max
    * consecutive-bigram multiplicity, and apply the exact integer
    * thresholds (top_c·5 ≤ n−1 ∧ (n − n_distinct)·10 ≤ n·7; < 2 words
    * never keep). The Column-conjunction form evaluated the tokenizer
    * up to FOUR times per row (ADVICE r20 — Filter conjuncts get no
    * common-subexpression elimination in whole-stage codegen); word
    * equality here is UTF8String byte equality, exactly
    * `array_distinct` / bigram-tuple semantics.
    */
  def repetitionKeep(u: UTF8String): Boolean = {
    val arr = splitWords(u)
    val n = arr.numElements()
    if (n < 2) return false
    val seen = new java.util.HashSet[UTF8String](n * 2)
    val m = new java.util.HashMap[(UTF8String, UTF8String), Integer](n * 2)
    var best = 0
    var prev = arr.getUTF8String(0)
    seen.add(prev)
    var i = 0
    while (i < n - 1) {
      val next = arr.getUTF8String(i + 1)
      seen.add(next)
      val c = m.merge((prev, next), Integer.valueOf(1),
        (a: Integer, b: Integer) => Integer.valueOf(a.intValue() + b.intValue()))
      if (c.intValue() > best) best = c.intValue()
      prev = next
      i += 1
    }
    best.toLong * 5 <= (n - 1).toLong &&
      (n - seen.size).toLong * 10 <= n.toLong * 7
  }

  /** 0-based CODE-POINT positions `p ∈ [0, numChars − spanLen]` whose
    * code point is a space — the anchored-shingle positions of
    * [[graft.operators.Dedup.substringSpans]] in one byte pass. The
    * explode(sequence)+filter form this replaces materialized one row
    * per CHARACTER and evaluated a `substring(text, p + 1, 1)`
    * allocation per row just to test for ' '; here only the ~1-in-6
    * anchored positions ever become rows. Position arithmetic is code
    * points (Spark `length`/`substring` semantics): a 0x20 byte is
    * never part of a multi-byte UTF-8 sequence, so the byte test IS
    * the code-point test.
    */
  def spaceAnchors(u: UTF8String, spanLen: Int): Array[Int] = {
    val limit = u.numChars() - spanLen
    if (limit < 0) return new Array[Int](0)
    val nb = u.numBytes()
    var cnt = 0
    var b = 0
    var c = 0
    while (b < nb && c <= limit) {
      val b0 = u.getByte(b)
      if (b0 == 0x20) cnt += 1
      b += UTF8String.numBytesForFirstByte(b0)
      c += 1
    }
    val out = new Array[Int](cnt)
    var k = 0
    b = 0
    c = 0
    while (k < cnt) {
      val b0 = u.getByte(b)
      if (b0 == 0x20) { out(k) = c; k += 1 }
      b += UTF8String.numBytesForFirstByte(b0)
      c += 1
    }
    out
  }

  /** Single-space word split with empties dropped — THE tokenization of
    * the text stack ([[graft.operators.TextAnalysis.words]]), fused:
    * exactly `filter(split(text, ' '), w -> w != '')`, but the filter
    * HOF was CodegenFallback and the split materialized the empty
    * strings between consecutive spaces only to drop them. One byte
    * pass counts words, one slices them out of a single byte copy
    * (0x20 never occurs inside a multi-byte UTF-8 sequence, so the
    * byte test IS the character test).
    */
  def splitWords(u: UTF8String): ArrayData = {
    val nb = u.numBytes()
    var cnt = 0
    var inWord = false
    var i = 0
    while (i < nb) {
      if (u.getByte(i) == 0x20) inWord = false
      else if (!inWord) { cnt += 1; inWord = true }
      i += 1
    }
    if (cnt == 0) return new GenericArrayData(new Array[Any](0))
    val bytes = u.getBytes // one defensive copy; the words share it
    val out = new Array[Any](cnt)
    var k = 0
    var start = -1
    i = 0
    while (i < nb) {
      if (bytes(i) == 0x20) {
        if (start >= 0) { out(k) = UTF8String.fromBytes(bytes, start, i - start); k += 1; start = -1 }
      } else if (start < 0) start = i
      i += 1
    }
    if (start >= 0) { out(k) = UTF8String.fromBytes(bytes, start, nb - start); k += 1 }
    new GenericArrayData(out)
  }

  /** Space-joined word n-grams of a word array — the exact strings of
    * `transform(sequence(1, size(ws) − n + 1), i -> concat_ws(' ',
    * slice(ws, i, n)))`, built in one pass. The HOF form is
    * CodegenFallback and allocates an intermediate slice ARRAY per
    * gram before concatenating it; this concatenates each window
    * directly ([[UTF8String.concatWs]]) inside whole-stage codegen.
    */
  def wordNGrams(arr: ArrayData, n: Int): ArrayData = {
    val sz = arr.numElements()
    val out = sz - n + 1
    if (out <= 0) return new GenericArrayData(new Array[Any](0))
    val space = UTF8String.fromString(" ")
    val grams = new Array[Any](out)
    val window = new Array[UTF8String](n)
    var i = 0
    while (i < out) {
      var k = 0
      while (k < n) { window(k) = arr.getUTF8String(i + k); k += 1 }
      grams(i) = UTF8String.concatWs(space, window: _*)
      i += 1
    }
    new GenericArrayData(grams)
  }

  /** The ±2 symmetric-window PMI co-occurrence rows of one word array —
    * offset-1 pairs, offset-2 pairs (each least/greatest-canonicalized
    * by UTF8String binary order, the exact semantics of Spark's
    * least/greatest on strings), then one (w, NULL) unigram marker per
    * token: the `concat(transform, transform, transform)` HOF chain of
    * [[graft.operators.Retrieval.pmiPairs]] fused into one codegen
    * pass (no per-pair 2-element array allocation, no interpreted
    * lambda evals).
    */
  def pmiPairRows(arr: ArrayData): ArrayData = {
    val sz = arr.numElements()
    val n1 = math.max(0, sz - 1)
    val n2 = math.max(0, sz - 2)
    val rows = new Array[Any](n1 + n2 + sz)
    var o = 0
    var i = 0
    while (i < n1) {
      val a = arr.getUTF8String(i); val b = arr.getUTF8String(i + 1)
      rows(o) = if (a.compareTo(b) <= 0) InternalRow(a, b) else InternalRow(b, a)
      o += 1; i += 1
    }
    i = 0
    while (i < n2) {
      val a = arr.getUTF8String(i); val b = arr.getUTF8String(i + 2)
      rows(o) = if (a.compareTo(b) <= 0) InternalRow(a, b) else InternalRow(b, a)
      o += 1; i += 1
    }
    i = 0
    while (i < sz) { rows(o) = InternalRow(arr.getUTF8String(i), null); o += 1; i += 1 }
    new GenericArrayData(rows)
  }

  /** Sorted distinct packed 3-gram ids — the exact gram set, ready for
    * [[SortedLongJaccard]] merge-intersection.
    */
  def gramSet(s: UTF8String): Array[Long] = {
    val str = s.toString
    val grams = str.length - 2
    if (grams <= 0) return new Array[Long](0)
    val set = new java.util.HashSet[java.lang.Long](grams * 2)
    var i = 0
    while (i < grams) {
      set.add(str.charAt(i).toLong |
        (str.charAt(i + 1).toLong << 16) | (str.charAt(i + 2).toLong << 32))
      i += 1
    }
    val out = new Array[Long](set.size)
    val it = set.iterator()
    var j = 0
    while (it.hasNext) { out(j) = it.next(); j += 1 }
    java.util.Arrays.sort(out)
    out
  }
}

/** text → ARRAY<LONG> of `h` minhash values ([[GramHash.minhashSigs]]),
  * one fused pass inside whole-stage codegen.
  */
case class MinhashSignature(child: Expression, h: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash_sigs"

  override def nullSafeEval(input: Any): Any =
    UnsafeArrayData.fromPrimitiveArray(
      GramHash.minhashSigs(input.asInstanceOf[UTF8String], h))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"""${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
         |  .fromPrimitiveArray(graft.functions.GramHash.minhashSigs($a, $h));""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** ARRAY<STRING> of words → ARRAY<INT> of hashed-bigram buckets
  * ([[GramHash.bigramBuckets]]), one fused pass inside whole-stage
  * codegen. `dim` is a constructor constant (the DSIR feature dimensionality).
  */
case class BigramBuckets(child: Expression, dim: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_bigram_buckets"

  override def nullSafeEval(input: Any): Any =
    UnsafeArrayData.fromPrimitiveArray(
      GramHash.bigramBuckets(input.asInstanceOf[ArrayData], dim))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"""${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
         |  .fromPrimitiveArray(graft.functions.GramHash.bigramBuckets($a, $dim));""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** ARRAY<STRING> of words → max consecutive-bigram multiplicity
  * ([[GramHash.topBigramCount]]), one fused pass inside whole-stage
  * codegen.
  */
case class TopBigramCount(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_top_bigram_count"

  override def nullSafeEval(input: Any): Any =
    GramHash.topBigramCount(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.GramHash.topBigramCount($a);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** text → ARRAY<INT> of space-anchored shingle start positions
  * ([[GramHash.spaceAnchors]]). `spanLen` is a constructor constant.
  */
case class SpaceAnchors(child: Expression, spanLen: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_space_anchors"

  override def nullSafeEval(input: Any): Any =
    UnsafeArrayData.fromPrimitiveArray(
      GramHash.spaceAnchors(input.asInstanceOf[UTF8String], spanLen))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"""${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
         |  .fromPrimitiveArray(graft.functions.GramHash.spaceAnchors($a, $spanLen));""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** text → ARRAY<STRING> of space-split words, empties dropped
  * ([[GramHash.splitWords]]), one fused pass inside whole-stage codegen.
  */
case class SplitWords(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_split_words"

  override def nullSafeEval(input: Any): Any =
    GramHash.splitWords(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.GramHash.splitWords($a);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** text → BOOLEAN repetition-gate keep verdict
  * ([[GramHash.repetitionKeep]]): one fused tokenize-and-count pass
  * inside whole-stage codegen, replacing a four-conjunct Column form
  * that re-tokenized the document per conjunct.
  */
case class RepetitionKeep(child: Expression) extends UnaryExpression {
  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_repetition_keep"

  override def nullSafeEval(input: Any): Any =
    GramHash.repetitionKeep(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.GramHash.repetitionKeep($a);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** ASCII word → `poly31(word) mod dim` hashing-trick bucket — the
  * [[GramHash.poly31]] fold as one codegen expression, replacing the
  * interpreted per-character `aggregate(transform(sequence(...)))`
  * chain of [[graft.operators.TextAnalysis.hashEmbed]]. Callers
  * guarantee ASCII input (`regexp_extract_all('[a-z]+')` tokens),
  * where UTF-8 byte == the `ascii()` code point of the HOF form.
  */
case class Poly31Bucket(child: Expression, dim: Int) extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_poly31_bucket"

  override def nullSafeEval(input: Any): Any =
    (GramHash.poly31(0L, input.asInstanceOf[UTF8String]) % dim).toInt

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = (int) (graft.functions.GramHash.poly31(0L, $a) % $dim);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** ARRAY<STRING> of words → ARRAY<STRING> of space-joined word n-grams
  * ([[GramHash.wordNGrams]]). `n` is a constructor constant.
  */
case class WordNGrams(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_word_ngrams"

  override def nullSafeEval(input: Any): Any =
    GramHash.wordNGrams(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.GramHash.wordNGrams($a, $n);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** ARRAY<STRING> of words → ARRAY<STRUCT<w1, w2>> of ±2-window PMI
  * co-occurrence rows ([[GramHash.pmiPairRows]]): canonicalized
  * offset-1 and offset-2 pairs plus (w, NULL) unigram markers.
  */
case class PmiPairRows(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("w1", StringType, nullable = false),
    StructField("w2", StringType, nullable = true))), containsNull = false)
  override def prettyName: String = "graft_pmi_pair_rows"

  override def nullSafeEval(input: Any): Any =
    GramHash.pmiPairRows(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.functions.GramHash.pmiPairRows($a);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** text → sorted distinct ARRAY<LONG> of packed 3-gram ids
  * ([[GramHash.gramSet]]).
  */
case class GramSet(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_gram_set"

  override def nullSafeEval(input: Any): Any =
    UnsafeArrayData.fromPrimitiveArray(
      GramHash.gramSet(input.asInstanceOf[UTF8String]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"""${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
         |  .fromPrimitiveArray(graft.functions.GramHash.gramSet($a));""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TextHashFunctions {
  def simhash(tokens: Column): Column = column(SimHash(expr(tokens)))
  def minhashSigs(text: Column, h: Int): Column = column(MinhashSignature(expr(text), h))
  def gramSet(text: Column): Column = column(GramSet(expr(text)))
  def bigramBuckets(words: Column, dim: Int): Column =
    column(BigramBuckets(expr(words), dim))
  def topBigramCount(words: Column): Column = column(TopBigramCount(expr(words)))
  def spaceAnchors(text: Column, spanLen: Int): Column =
    column(SpaceAnchors(expr(text), spanLen))
  def wordNGrams(words: Column, n: Int): Column = column(WordNGrams(expr(words), n))
  def pmiPairRows(words: Column): Column = column(PmiPairRows(expr(words)))
  def splitWords(text: Column): Column = column(SplitWords(expr(text)))
  def repetitionKeep(text: Column): Column = column(RepetitionKeep(expr(text)))
  def poly31Bucket(word: Column, dim: Int): Column = column(Poly31Bucket(expr(word), dim))
}
