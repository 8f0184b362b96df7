package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge.{column, expr}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}
import org.apache.spark.unsafe.types.UTF8String

/** Exact Jaccard similarity of the two strings' distinct character
  * n-gram sets, computed in one pass per pair (hash sets over n-char
  * substrings; chars = UTF-16 code units — identical to codepoints for
  * the ASCII corpora this targets).
  *
  * This is the *verification* primitive of the dedup pipeline: candidate
  * pairs come from equality joins (blocking keys or MinHash bands), and
  * only candidates pay this O(|a|+|b|) cost. Replaces a formulation that
  * exploded and shuffled every document's full shingle inventory through
  * a self-join — same values (matches the DuckDB substring-set oracle
  * exactly, no hashed-shingle collision caveat), ~10x less work, and the
  * cost now scales with candidate count rather than corpus shingle
  * volume. CodegenFallback: the per-row loop dominates; codegen would
  * only save the dispatch.
  */
case class NgramJaccard(left: Expression, right: Expression, n: Int = 3)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_jaccard_ngram"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val sa = a.asInstanceOf[UTF8String].toString
    val sb = b.asInstanceOf[UTF8String].toString
    val ga = grams(sa)
    val gb = grams(sb)
    if (ga.isEmpty && gb.isEmpty) 1.0
    else {
      var inter = 0
      val (small, large) = if (ga.size <= gb.size) (ga, gb) else (gb, ga)
      val it = small.iterator
      while (it.hasNext) if (large.contains(it.next())) inter += 1
      inter.toDouble / (ga.size + gb.size - inter)
    }
  }

  private def grams(s: String): java.util.HashSet[String] = {
    val out = new java.util.HashSet[String](math.max(8, s.length * 2))
    var i = 0
    val end = s.length - n
    while (i <= end) { out.add(s.substring(i, i + n)); i += 1 }
    out
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Jaccard similarity of two SORTED ascending ARRAY<LONG> sets (distinct
  * elements), via a single merge-intersect pass — O(|a|+|b|) long
  * comparisons, no per-pair set construction.
  *
  * This is the high-degree verification primitive: when one document
  * (e.g. an LSH bucket minimum) appears in many candidate edges,
  * [[NgramJaccard]] re-builds its string gram set once per edge; here
  * the gram set is precomputed ONCE per document as
  * sort_array(collect_set(xxhash64(gram))) and each edge pays only the
  * merge. Jaccard over 64-bit gram hashes equals string-gram Jaccard
  * unless xxhash64 collides within a document pair's grams
  * (p ≈ g²/2⁶⁵ ≈ 1e-13 at g=1000 grams) — negligible, and the dedup
  * spec cross-checks against the exact string formulation. Two empty
  * sets score 1.0, matching [[NgramJaccard]]; inputs MUST be sorted
  * (callers build them with sort_array).
  */
case class SortedLongJaccard(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_jaccard_sorted"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val na = x.numElements(); val nb = y.numElements()
    var i = 0; var j = 0; var inter = 0
    while (i < na && j < nb) {
      val xa = x.getLong(i); val yb = y.getLong(j)
      if (xa == yb) { inter += 1; i += 1; j += 1 }
      else if (xa < yb) i += 1
      else j += 1
    }
    val uni = na + nb - inter
    if (uni == 0) 1.0 else inter.toDouble / uni
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val inter = ctx.freshName("inter"); val uni = ctx.freshName("uni")
      val xa = ctx.freshName("xa"); val yb = ctx.freshName("yb")
      s"""int $na = $a.numElements(); int $nb = $b.numElements();
         |int $i = 0; int $j = 0; int $inter = 0;
         |while ($i < $na && $j < $nb) {
         |  long $xa = $a.getLong($i); long $yb = $b.getLong($j);
         |  if ($xa == $yb) { $inter++; $i++; $j++; }
         |  else if ($xa < $yb) { $i++; } else { $j++; }
         |}
         |int $uni = $na + $nb - $inter;
         |${ev.value} = ($uni == 0) ? 1.0 : ((double) $inter) / $uni;""".stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** [[SortedLongJaccard]] specialized for VERIFICATION sites that only
  * keep pairs at or above `threshold`: returns the exact Jaccard when it
  * is ≥ `threshold` and −1.0 otherwise, which lets the merge BAIL as
  * soon as the skipped elements prove the threshold unreachable (see
  * the budget derivation at [[nullSafeEval]]). Disjoint-ish pairs (the
  * dominant candidate class at production dup rates) exit after ~⅓ of
  * the merge at t = 0.5 instead of walking both arrays to the end,
  * and pairs that DO verify pay nothing on their match steps — the
  * budget test rides only the mismatch branches.
  * Result-identical AT THE CONSUMING FILTER:
  * every caller filters on `≥ t'` with t' ≥ threshold (pairs the gate
  * maps to −1.0 were dropped by that filter anyway, and surviving pairs
  * carry the exact value). Callers that consume the similarity VALUE
  * below the gate threshold ([[graft.operators.LshTuning]]'s measured
  * collision table) keep [[SortedLongJaccard]].
  */
case class SortedLongJaccardGate(left: Expression, right: Expression,
    threshold: Double) extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_jaccard_gate"

  // The bail rule costs NOTHING on match steps (the dominant step kind
  // for pairs that verify): an element a pointer skips on a mismatch can
  // never match, so the final intersection is bounded by
  // min(|a| − skippedA, |b| − skippedB); once one side's skip count
  // exceeds |side| − ⌊t·(|a|+|b|)/(1+t)⌋ the pair cannot reach the
  // threshold. The floor makes the precomputed budgets CONSERVATIVE
  // (one element slack at worst), so the bail can only fire on pairs
  // the final `jac ≥ t` check would have rejected anyway.
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val na = x.numElements(); val nb = y.numElements()
    val iMin = math.floor(threshold * (na + nb) / (1.0 + threshold)).toInt
    val budgetA = na - iMin; val budgetB = nb - iMin
    var i = 0; var j = 0; var inter = 0
    var bail = false
    while (!bail && i < na && j < nb) {
      val xa = x.getLong(i); val yb = y.getLong(j)
      if (xa == yb) { inter += 1; i += 1; j += 1 }
      else if (xa < yb) { i += 1; if (i - inter > budgetA) bail = true }
      else { j += 1; if (j - inter > budgetB) bail = true }
    }
    if (bail) -1.0
    else {
      val uni = na + nb - inter
      val jac = if (uni == 0) 1.0 else inter.toDouble / uni
      if (jac >= threshold) jac else -1.0
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val inter = ctx.freshName("inter"); val uni = ctx.freshName("uni")
      val xa = ctx.freshName("xa"); val yb = ctx.freshName("yb")
      val iMin = ctx.freshName("iMin"); val bail = ctx.freshName("bail")
      val budgetA = ctx.freshName("budgetA"); val budgetB = ctx.freshName("budgetB")
      val jac = ctx.freshName("jac")
      val t = s"${threshold}D"
      s"""int $na = $a.numElements(); int $nb = $b.numElements();
         |int $iMin = (int) java.lang.Math.floor($t * ($na + $nb) / (1.0D + $t));
         |int $budgetA = $na - $iMin; int $budgetB = $nb - $iMin;
         |int $i = 0; int $j = 0; int $inter = 0;
         |boolean $bail = false;
         |while ($i < $na && $j < $nb) {
         |  long $xa = $a.getLong($i); long $yb = $b.getLong($j);
         |  if ($xa == $yb) { $inter++; $i++; $j++; }
         |  else if ($xa < $yb) { $i++; if ($i - $inter > $budgetA) { $bail = true; break; } }
         |  else { $j++; if ($j - $inter > $budgetB) { $bail = true; break; } }
         |}
         |if ($bail) { ${ev.value} = -1.0D; }
         |else {
         |  int $uni = $na + $nb - $inter;
         |  double $jac = ($uni == 0) ? 1.0D : ((double) $inter) / $uni;
         |  ${ev.value} = ($jac >= $t) ? $jac : -1.0D;
         |}""".stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object NgramJaccardFunctions {
  def jaccard3(a: Column, b: Column): Column = column(NgramJaccard(expr(a), expr(b), 3))
  def jaccardSorted(a: Column, b: Column): Column =
    column(SortedLongJaccard(expr(a), expr(b)))
  def jaccardGate(a: Column, b: Column, threshold: Double): Column =
    column(SortedLongJaccardGate(expr(a), expr(b), threshold))
}
