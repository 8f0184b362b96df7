package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.types.UTF8String
import graft.operators.TextAnalysis

/** Ground-truth rows for the round-20 scan-local rewrites: each
  * optimization replaced a shuffle/join with a per-row expression, and
  * each row here pins the replacement against either a plain-Scala
  * recompute or the pre-rewrite relational form, independent of the
  * DuckDB oracles that also cover the consuming queries.
  */
class ScanLocalRewriteSpec extends SparkSpec {

  private def arr(xs: Seq[String]): ArrayData =
    ArrayData.toArrayData(xs.map(UTF8String.fromString).toArray)

  test("topBigramCount equals the brute-force bigram max multiplicity") {
    // fixture corpus: every document's word array, vs groupBy on pairs
    val docs = Tables.documents(spark, sf)
      .select(expr("filter(split(text, ' '), w -> w != '')").as("ws"))
      .collect().map(_.getSeq[String](0))
    docs.foreach { ws =>
      val expected =
        if (ws.length <= 1) 0L
        else ws.sliding(2).toSeq.groupBy(identity).values.map(_.size).max.toLong
      assert(graft.functions.GramHash.topBigramCount(arr(ws)) == expected)
    }
    // crafted edges: empty, single word, all-same, tie
    assert(graft.functions.GramHash.topBigramCount(arr(Nil)) == 0L)
    assert(graft.functions.GramHash.topBigramCount(arr(Seq("a"))) == 0L)
    assert(graft.functions.GramHash.topBigramCount(arr(Seq("a", "a", "a", "a"))) == 3L)
    assert(graft.functions.GramHash.topBigramCount(arr(Seq("a", "b", "a", "b"))) == 2L)
  }

  test("repetitionKeepPred filter equals the repetitionFilter keep semi-join") {
    val docs = Tables.documents(spark, sf)
    val viaFilter = docs.filter(TextAnalysis.repetitionKeepPred)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val viaJoin = docs.join(
      TextAnalysis.repetitionFilter(spark, sf)
        .filter(col("keep")).select("doc_id"),
      Seq("doc_id"), "left_semi")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(viaFilter == viaJoin)
    assert(viaFilter.nonEmpty && viaFilter.size < docs.count())
  }

  test("qualityOkPred filter equals the textQuality ok semi-join") {
    val docs = Tables.documents(spark, sf)
    val viaFilter = docs.filter(TextAnalysis.qualityOkPred)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val viaJoin = docs.join(
      TextAnalysis.textQuality(spark, sf)
        .filter(col("quality") === "ok").select("doc_id"),
      Seq("doc_id"), "left_semi")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(viaFilter == viaJoin)
    assert(viaFilter.nonEmpty)
  }

  test("qualityOkPred keeps NULL text, matching textQualityOf's otherwise('ok')") {
    // ADVICE r20: the when-chain falls through to 'ok' when n_tokens /
    // avg_token_len are NULL (NULL text), so the filter form must keep
    // the row rather than dropping it on a NULL predicate.
    import spark.implicits._
    val crafted = Seq(
      (1L, null.asInstanceOf[String]),                      // NULL text → 'ok'
      (2L, "short"),                                        // too_short
      (3L, Seq.fill(20)("normal").mkString(" ")),           // ok
      (4L, Seq.fill(12)("x").mkString(" ")))                // odd_tokens (avg len 1)
      .toDF("doc_id", "text")
    val viaFilter = crafted.filter(TextAnalysis.qualityOkPred)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(viaFilter == Set(1L, 3L))
  }

  test("fused repetitionKeep equals the four-conjunct Column form") {
    import spark.implicits._
    val ws = expr("filter(split(text, ' '), w -> w != '')")
    val conjunction = size(ws) >= 2 &&
      graft.functions.TextHashFunctions.topBigramCount(ws) * 5 <=
        (size(ws) - 1).cast("bigint") &&
      (size(ws) - size(array_distinct(ws))) * 10 <= size(ws) * 7
    val crafted = Seq("", " ", "a", "a b", "a a", Seq.fill(40)("w").mkString(" "),
      "one two three four five six seven eight nine ten",
      ("tok " * 30).trim, "x y " * 10 + "x", "héllo wörld héllo wörld héllo")
      .toDF("text")
    val corpus = Tables.documents(spark, sf).select(col("text"))
    for (df <- Seq(crafted, corpus)) {
      val got = df.select(TextAnalysis.repetitionKeepPred).collect().map(_.getBoolean(0))
      val want = df.select(conjunction).collect().map(_.getBoolean(0))
      assert(got.toSeq == want.toSeq)
    }
  }

  test("spaceAnchors equals the explode(sequence)+substring-filter positions") {
    val n = 50 // Dedup.SpanLen
    val docs = Tables.documents(spark, sf)
      .filter(length(col("text")) >= n)
      .select(col("doc_id"), col("text"))
    val viaExpr = docs
      .select(col("doc_id"),
        explode(graft.functions.TextHashFunctions.spaceAnchors(col("text"), n)).as("p"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val viaFilter = docs
      .select(col("doc_id"), explode(expr(s"sequence(0, length(text) - $n)")).as("p"))
      .filter(expr("substring(text, p + 1, 1) = ' '"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(viaExpr == viaFilter)
    assert(viaExpr.nonEmpty)
    // non-ASCII guard: code-point positions, not byte positions
    val u = UTF8String.fromString("héllo wörld une résumé phrase")
    val got = graft.functions.GramHash.spaceAnchors(u, 10).toSeq
    val s = "héllo wörld une résumé phrase"
    val expected = (0 to s.length - 10).filter(p => s.charAt(p) == ' ')
    assert(got == expected)
  }

  test("splitWords equals filter(split(text, ' '), w -> w != '')") {
    val docs = Tables.documents(spark, sf)
    val viaExpr = docs.select(col("doc_id"),
      graft.functions.TextHashFunctions.splitWords(col("text")).as("ws"))
      .collect().map(r => (r.getLong(0), r.getSeq[String](1))).toMap
    val viaHof = docs.select(col("doc_id"),
      expr("filter(split(text, ' '), w -> w != '')").as("ws"))
      .collect().map(r => (r.getLong(0), r.getSeq[String](1))).toMap
    assert(viaExpr == viaHof)
    assert(viaExpr.nonEmpty)
    // crafted edges: empty, all-spaces, leading/trailing/multi-space,
    // multi-byte characters around the separators
    val crafted = Seq("", " ", "   ", "a", " a", "a ", "a  b", " héllo  wörld ",
      "日本 語  テキスト", "a b c")
    import spark.implicits._
    val cd = crafted.toDF("text")
    val got = cd.select(graft.functions.TextHashFunctions.splitWords(col("text")))
      .collect().map(_.getSeq[String](0))
    val want = cd.select(expr("filter(split(text, ' '), w -> w != '')"))
      .collect().map(_.getSeq[String](0))
    assert(got.toSeq == want.toSeq)
  }

  test("poly31Bucket equals the aggregate/transform ascii fold") {
    val dim = graft.operators.TextAnalysis.HashDim
    val words = Tables.documents(spark, sf)
      .select(explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("word"))
      .distinct()
    val viaExpr = words.select(col("word"),
      graft.functions.TextHashFunctions.poly31Bucket(col("word"), dim).as("b"))
      .collect().map(r => (r.getString(0), r.getInt(1))).toMap
    val viaHof = words.select(col("word"), expr(
      s"""CAST(aggregate(transform(sequence(1, length(word)), i -> cast(ascii(substr(word, i, 1)) as bigint)),
         |  cast(0 as bigint), (h, c) -> (h * 31 + c) % 2147483648) % $dim AS INT)""".stripMargin).as("b"))
      .collect().map(r => (r.getString(0), r.getInt(1))).toMap
    assert(viaExpr == viaHof)
    assert(viaExpr.nonEmpty)
  }

  test("wordNGrams equals the transform/slice/concat_ws HOF grams") {
    for (n <- Seq(3, 5, 8)) {
      val docs = Tables.documents(spark, sf)
        .select(col("doc_id"), expr("filter(split(text, ' '), w -> w != '')").as("ws"))
        .filter(size(col("ws")) >= n)
      val viaExpr = docs.select(col("doc_id"),
        graft.functions.TextHashFunctions.wordNGrams(col("ws"), n).as("gs"))
        .collect().map(r => (r.getLong(0), r.getSeq[String](1))).toMap
      val viaHof = docs.select(col("doc_id"), expr(
        s"transform(sequence(1, size(ws) - ${n - 1}), i -> concat_ws(' ', slice(ws, i, $n)))").as("gs"))
        .collect().map(r => (r.getLong(0), r.getSeq[String](1))).toMap
      assert(viaExpr == viaHof)
      assert(viaExpr.nonEmpty)
    }
    // short-array guard: fewer than n words → empty, not an error
    assert(graft.functions.GramHash.wordNGrams(arr(Seq("a", "b")), 5).numElements() == 0)
  }

  test("pmiPairRows equals the three-transform HOF pair/unigram rows") {
    val docs = Tables.documents(spark, sf)
      .select(expr("filter(split(text, ' '), w -> w != '')").as("ws"))
      .filter(size(col("ws")) >= 3)
    val viaExpr = docs
      .select(explode(graft.functions.TextHashFunctions.pmiPairRows(col("ws"))).as("pr"))
      .select(col("pr.w1"), col("pr.w2"))
      .collect().map(r => (r.getString(0), Option(r.getString(1))))
      .groupBy(identity).view.mapValues(_.length).toMap
    val viaHof = docs
      .select(explode(expr(
        """flatten(array(
          |  transform(sequence(1, size(ws) - 1),
          |    i -> array(least(element_at(ws, i), element_at(ws, i + 1)),
          |               greatest(element_at(ws, i), element_at(ws, i + 1)))),
          |  transform(sequence(1, size(ws) - 2),
          |    i -> array(least(element_at(ws, i), element_at(ws, i + 2)),
          |               greatest(element_at(ws, i), element_at(ws, i + 2)))),
          |  transform(ws, w -> array(w, CAST(NULL AS STRING)))))""".stripMargin)).as("pr"))
      .select(col("pr").getItem(0), col("pr").getItem(1))
      .collect().map(r => (r.getString(0), Option(r.getString(1))))
      .groupBy(identity).view.mapValues(_.length).toMap
    assert(viaExpr == viaHof)
    assert(viaExpr.exists(_._1._2.isEmpty) && viaExpr.exists(_._1._2.nonEmpty))
  }

  test("jaccardGate agrees with jaccardSorted at every consuming filter") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    def sortedSet(n: Int, range: Int): Array[Long] =
      Array.fill(n)(rnd.nextInt(range).toLong).distinct.sorted
    val cases = Seq.fill(300) {
      (sortedSet(rnd.nextInt(400), 500), sortedSet(rnd.nextInt(400), 500))
    } ++ Seq(
      (Array.empty[Long], Array.empty[Long]),          // uni == 0 → 1.0
      (Array(1L, 2L, 3L), Array(1L, 2L, 3L)),          // identical → 1.0
      (Array(1L, 2L, 3L), Array(7L, 8L, 9L)),          // disjoint → bail
      ((1L to 2000L).toArray, (1500L to 3500L).toArray)) // long merge
    val df = cases.toDF("a", "b")
    for (t <- Seq(0.1999, 0.5)) {
      val rows = df.select(
        graft.functions.NgramJaccardFunctions.jaccardSorted(col("a"), col("b")).as("full"),
        graft.functions.NgramJaccardFunctions.jaccardGate(col("a"), col("b"), t).as("gated"))
        .collect()
      assert(rows.length == cases.length)
      rows.foreach { r =>
        val full = r.getDouble(0); val gated = r.getDouble(1)
        if (full >= t) assert(gated == full, s"t=$t full=$full gated=$gated")
        else assert(gated < t, s"t=$t full=$full gated=$gated")
      }
      // at least one row actually exercised the bail path
      assert(rows.exists(_.getDouble(1) == -1.0))
    }
  }
}
