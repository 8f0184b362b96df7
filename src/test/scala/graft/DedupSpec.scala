package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup
import graft.functions.{TextHashFunctions, SimHash}

class DedupSpec extends SparkSpec {
  import spark.implicits._

  test("approx_count_distinct within 10% of exact") {
    val exact = Dedup.exactDistinct(spark, sf).collect().head
    val approx = Dedup.approxDistinct(spark, sf).collect().head
    val exactUsers = exact.getAs[Long]("n_users").toDouble
    val approxUsers = approx.getAs[Long]("approx_users").toDouble
    assert(math.abs(approxUsers - exactUsers) / exactUsers < 0.1)
  }

  test("minhash collapses planted near-duplicate documents") {
    // Two near-identical docs (one word changed) + unrelated docs,
    // written to a temp parquet dir shaped like the documents table.
    val docs = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu", "en", "s", 68L),
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda nu", "en", "s", 67L),
      (2L, "completely different text about query engines and shuffle joins okay", "en", "s", 68L),
      (3L, "yet another unrelated document mentioning windows and watermarks here", "en", "s", 69L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("graft-dedup").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Dedup.minhashDedup(spark, dir)
      .select("doc_id", "kept_doc_id", "is_duplicate")
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getBoolean(2))))

    val byId = out.toMap
    assert(byId(1L) == ((0L, true)), s"doc 1 should collapse onto doc 0: ${out.toSeq}")
    assert(byId(2L) == ((2L, false)))
    assert(byId(3L) == ((3L, false)))
  }

  test("leakage-free split: a planted near-dup pair never straddles train/val") {
    // Gamma ≡ 1 mod 10, so the PER-DOC golden split is doc_id % 10:
    // doc 10 would be val, its near-dup 11 would be train — exactly the
    // paraphrase leak a per-doc split rule creates. The component rule
    // must land both on the cluster label's (10 → val) side.
    val docs = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu", "en", "s", 68L),
      (11L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda nu", "en", "s", 67L),
      (22L, "completely different text about query engines and shuffle joins okay", "en", "s", 68L),
      (33L, "yet another unrelated document mentioning windows and watermarks here", "en", "s", 69L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("graft-split").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Dedup.splitLeakageFree(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val byId = out.map(t => t._1 -> t).toMap
    assert(byId(10L) == ((10L, 10L, "val")), out.toSeq.toString)
    assert(byId(11L) == ((11L, 10L, "val")), "near-dup pair straddled the split")
    assert(byId(22L)._3 == "train" && byId(33L)._3 == "train")

    // fixture-wide: every component lands in exactly one split, the
    // corpus genuinely contains clusters a per-doc rule WOULD have
    // straddled, and the val fraction tracks the 10% cluster-hash rate
    val full = Dedup.splitLeakageFree(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val byCluster = full.groupBy(_._2)
    assert(byCluster.forall { case (_, ms) => ms.map(_._3).distinct.length == 1 })
    def docVal(id: Long): Boolean = (id * GoldenHash.Gamma) % 10 == 0
    val wouldStraddle = byCluster.values.count(ms => ms.map(m => docVal(m._1)).distinct.length == 2)
    assert(wouldStraddle > 0, "fixture has no would-straddle near-dup cluster")
    val valFrac = full.count(_._3 == "val").toDouble / full.length
    assert(valFrac > 0.02 && valFrac < 0.3, s"val fraction $valFrac off the ~10% rate")
  }

  test("incremental split: batch near-dups inherit their at-rest cluster's split") {
    // At rest: doc 20's singleton cluster is 'val' (label 20, 20%10=0 —
    // Gamma ≡ 1 mod 10/20 makes the hash rules id%10 / id%20 here).
    // Batch (id%20=7): 27 is a near-dup of 20 and must inherit 'val'
    // even though its own hash says train (27%10=7); 47/107 are
    // near-dups of each other with no at-rest match — they co-assign
    // via their component label (47 → train); 67 is a lone new doc.
    val T  = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val T2 = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda nu"
    val P  = "orange banana cherry grape melon peach plum apricot fig date kiwi lime"
    val P2 = "orange banana cherry grape melon peach plum apricot fig date kiwi lemon"
    val atRest = Seq(
      (20L, T, "en", "s", 60L),
      (41L, "completely different text about query engines and shuffle joins okay", "en", "s", 60L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val batch = Seq(
      (27L, T2, "en", "s", 60L),
      (47L, P, "en", "s", 60L),
      (107L, P2, "en", "s", 60L),
      (67L, "yet another unrelated document mentioning windows and watermarks here", "en", "s", 60L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val atSplit = Seq((20L, 20L, "val"), (41L, 41L, "train"))
      .toDF("doc_id", "label", "split")
    Dedup.writeDedupIndex(atRest, "splitspec")
    val idx = Dedup.minhashIndexOf(batch)
    val out = Dedup.splitAssignDeltaCore(batch, idx,
        Dedup.verifiedProbePairs(spark, idx, "splitspec"), atSplit)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)), r.getString(3)))
    val byId = out.map(t => t._1 -> t).toMap
    assert(byId(27L) == ((27L, 27L, Some(20L), "val")),
      s"paraphrase of a val doc must inherit val: ${out.toSeq}")
    assert(byId(47L) == ((47L, 47L, None, "train")))
    assert(byId(107L) == ((107L, 47L, None, "train")),
      "batch-internal near-dups must co-assign through their component")
    assert(byId(67L) == ((67L, 67L, None, "train")))
  }

  test("gen-2 split: batch B inherits through batch A's folded assignment") {
    // Fixture slices by id%20 (Gamma ≡ 1 mod 20): at rest {20 (val
    // cluster — 20%10=0), 41}, batch A {27 ≈ 20, 47 fresh cluster P},
    // batch B {31 ≈ the T texts, 51 ≈ P, 71 lone}. The pair that only
    // a second generation can get right is 51: its sole near-dup 47
    // arrived IN BATCH A — an unfolded split table or unappended index
    // would leave 51 unanchored. And 31 must land 'val' though its own
    // hash says train (31%10=1) — transitive leakage prevention.
    val T  = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val T2 = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda nu"
    val T3 = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda xi"
    val P  = "orange banana cherry grape melon peach plum apricot fig date kiwi lime"
    val P2 = "orange banana cherry grape melon peach plum apricot fig date kiwi lemon"
    val docs = Seq(
      (20L, T, "en", "s", 60L),
      (41L, "completely different text about query engines and shuffle joins okay", "en", "s", 60L),
      (27L, T2, "en", "s", 60L),
      (47L, P, "en", "s", 60L),
      (31L, T3, "en", "s", 60L),
      (51L, P2, "en", "s", 60L),
      (71L, "yet another unrelated document mentioning windows and watermarks here", "en", "s", 60L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("graft-split2").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Dedup.splitAssignDelta2(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)), r.getString(3)))
    assert(out.map(_._1).toSet == Set(31L, 51L, 71L), out.toSeq.toString)
    val byId = out.map(t => t._1 -> t).toMap
    assert(byId(31L) == ((31L, 31L, Some(20L), "val")),
      s"gen-2 paraphrase of the val cluster must inherit val: ${out.toSeq}")
    assert(byId(51L) == ((51L, 51L, Some(47L), "train")),
      s"anchor arrived in batch A — requires the fold + append: ${out.toSeq}")
    assert(byId(71L) == ((71L, 71L, None, "train")))
  }

  test("split drift: a delta bridge doc flips the absorbed cluster, stable docs stay out") {
    // Two at-rest clusters below the 0.5 threshold against EACH OTHER:
    // A {20, 40} (label 20 → val) and B {41, 61} (label 41 → train).
    // The delta doc 27 (id%20 = 7) is a BRIDGE sharing its first 9
    // words with A (jaccard ≈ 0.57) and its last 9 with B (≈ 0.58),
    // while A and B themselves share only the 6 middle words (≈ 0.3):
    // the full re-run merges everything under label 20 (val), so B's
    // two docs flip train → val while A's keep their cluster and
    // split. The isolated at-rest doc 62 must not appear.
    val wBr = "ash birch cedar dogwood elm fir ginkgo hazel ivy juniper kale laurel"
    val wA = "ash birch cedar dogwood elm fir ginkgo hazel ivy apple mango pear"
    val wB = "tulip rose daisy dogwood elm fir ginkgo hazel ivy juniper kale laurel"
    val docs = Seq(
      (20L, wA, "en", "s", 60L),
      (40L, wA + " extra", "en", "s", 60L),
      (41L, wB, "en", "s", 60L),
      (61L, wB + " extra", "en", "s", 60L),
      (62L, "completely different text about query engines and shuffle joins okay", "en", "s", 60L),
      (27L, wBr, "en", "s", 60L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("graft-drift").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Dedup.splitDrift(spark, dir).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getString(3), r.getString(4))))
      .toMap
    assert(out.keySet == Set(41L, 61L), s"drift rows: $out")
    assert(out(41L) == ((41L, 20L, "train", "val")), out.toString)
    assert(out(61L) == ((41L, 20L, "train", "val")), out.toString)
  }

  test("substring spans: shared verbatim passage found, merged, unique text unflagged") {
    // Docs 0 and 1 embed the same 120-char passage at DIFFERENT,
    // non-congruent offsets inside otherwise-unrelated text (the case
    // a fixed stride grid cannot detect); doc 2 is fully unique with
    // heavy WITHIN-doc repetition (must not flag — the duplicate test
    // is cross-doc). Both preambles end with a space, so the first
    // shared anchor is the boundary space just before the passage;
    // the last is the final in-passage word boundary whose 50-char
    // window still fits inside the shared region.
    val shared = "the quick brown fox jumps over the lazy dog while seventeen " +
      "astronauts recite prime numbers under a copper sky tonight"
    val sl = shared.length.toLong // 118
    val pre0 = "A" * 37 + " "
    val pre1 = "unrelated preamble material " * 4
    val docs = Seq(
      (0L, pre0 + shared + " trailing zero text here", "en", "s", 1L),
      (1L, pre1 + shared + " different tail entirely", "en", "s", 1L),
      (2L, "b c d e f g h i j k l m n o p q r s t u v w x y z " * 6, "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("graft-spans").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val spans = Dedup.substringSpans(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_id"),
        (r.getAs[Long]("span_start"), r.getAs[Long]("span_end"))))
    assert(spans.map(_._1).toSet == Set(0L, 1L), s"flagged docs: ${spans.toSeq}")
    assert(spans.count(_._1 == 0L) == 1 && spans.count(_._1 == 1L) == 1,
      s"one merged span per doc: ${spans.toSeq}")
    // the merged span must cover the shared passage's anchored
    // interior: start at the boundary space (offset - 1), end at the
    // last in-passage anchor + window — within a word of the true end,
    // never past it (a window crossing the passage end includes
    // differing tails and cannot match)
    val Seq(off0, off1) = Seq(pre0.length.toLong, pre1.length.toLong)
    for ((doc, off) <- Seq((0L, off0), (1L, off1))) {
      val (s0, e0) = spans.find(_._1 == doc).get._2
      assert(s0 == off - 1, s"doc $doc span start $s0 vs boundary ${off - 1}")
      assert(e0 >= off + sl - 20 && e0 <= off + sl,
        s"doc $doc span end $e0 vs passage end ${off + sl}")
    }
  }

  test("minhash collapses a similarity CHAIN to one canonical id") {
    // A~B and B~C are near-dups (>= 0.5 char-3 Jaccard) but A~C is not:
    // label propagation must still send all three to min(doc_id).
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu".split(" ")
    val a = base.mkString(" ")
    val b = (base.take(9) ++ Seq("xxx", "yyy", "zzz")).mkString(" ")
    val c = (base.take(6) ++ Seq("ppp", "qqq", "rrr", "xxx", "yyy", "zzz")).mkString(" ")
    val docs = Seq(
      (0L, a, "en", "s", a.length.toLong),
      (1L, b, "en", "s", b.length.toLong),
      (2L, c, "en", "s", c.length.toLong),
      (3L, "entirely different text about watermark state stores", "en", "s", 52L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("graft-chain").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")

    // precondition: the chain shape is as intended
    def j(x: String, y: String): Double = Seq((x, y)).toDF("a", "b")
      .select(graft.functions.NgramJaccardFunctions.jaccard3(col("a"), col("b")))
      .as[Double].collect().head
    assert(j(a, b) >= 0.5 && j(b, c) >= 0.5 && j(a, c) < 0.5,
      s"${j(a, b)} ${j(b, c)} ${j(a, c)}")

    val kept = Dedup.minhashDedup(spark, dir)
      .select("doc_id", "kept_doc_id").as[(Long, Long)].collect().toMap
    assert(kept(0L) == 0L && kept(1L) == 0L && kept(2L) == 0L && kept(3L) == 3L,
      kept.toString)
  }

  test("minhash collapses a DIAMETER-5 similarity chain (convergent propagation)") {
    // Six docs t0..t5 built as sliding 20-word windows at stride 6 over
    // one word sequence: adjacent windows share 14/20 words (char-3
    // Jaccard above the 0.5 threshold), windows two apart share 8/20
    // (below it) — so the verified-edge graph is a path of diameter 5.
    // The old fixed-3-round propagation left t4/t5 labeled above the
    // chain minimum; the convergent loop must collapse ALL of them to
    // doc 0 (VERDICT r6 item 5).
    val rnd = new scala.util.Random(42)
    val words = Array.fill(60)((1 to 6).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString)
    assert(words.distinct.length == words.length)
    val texts = (0 to 5).map(i => words.slice(6 * i, 6 * i + 20).mkString(" "))

    // precondition: the chain shape is as intended (adjacent >= 0.5,
    // two-apart < 0.5 — a real path, not a clique)
    def j(x: String, y: String): Double = Seq((x, y)).toDF("a", "b")
      .select(graft.functions.NgramJaccardFunctions.jaccard3(col("a"), col("b")))
      .as[Double].collect().head
    (0 to 4).foreach { i =>
      assert(j(texts(i), texts(i + 1)) >= 0.5, s"adjacent $i: ${j(texts(i), texts(i + 1))}")
    }
    (0 to 3).foreach { i =>
      assert(j(texts(i), texts(i + 2)) < 0.5, s"two-apart $i: ${j(texts(i), texts(i + 2))}")
    }

    val docs = texts.zipWithIndex.map { case (t, i) =>
      (i.toLong, t, "en", "s", t.length.toLong)
    } :+ ((99L, "entirely different text about state stores and shuffles", "en", "s", 55L))
    val dir = java.nio.file.Files.createTempDirectory("graft-chain5").toString
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val kept = Dedup.minhashDedup(spark, dir)
      .select("doc_id", "kept_doc_id").as[(Long, Long)].collect().toMap
    (0L to 5L).foreach { i =>
      assert(kept(i) == 0L, s"doc $i kept under ${kept(i)}, full: $kept")
    }
    assert(kept(99L) == 99L)
  }

  test("minhash cluster recall >= 0.8 against exact Jaccard >= 0.5 pairs") {
    // End-to-end guarantee: documents whose exact char-3 Jaccard is at
    // or above the dedup threshold should land in the same cluster
    // (equal kept_doc_id). Banding 16x2 predicts >= 1-(1-0.25)^16 ≈ 0.99
    // same-bucket probability at j=0.5; star verification keeps
    // connectivity through the bucket minimum.
    val d = "/root/testdata/sf0.01"
    val exactPairs = Dedup.ngramJaccard(spark, d)
      .filter(col("jaccard") >= 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assume(exactPairs.nonEmpty)
    val kept = Dedup.minhashDedup(spark, d)
      .select("doc_id", "kept_doc_id").as[(Long, Long)].collect().toMap
    val recall = exactPairs.count { case (a, b) => kept(a) == kept(b) }
      .toDouble / exactPairs.size
    assert(recall >= 0.8, s"recall=$recall over ${exactPairs.size} exact pairs")
  }

  test("incremental dedup flags new near-dups against the bucketed index, batch-side shuffle only") {
    val d = TestSession.Sf
    val docs = Tables.documents(spark, d).select(col("doc_id"), col("text"))
    val existing = docs.filter(col("doc_id") % 5 =!= 0)
    val planted = existing.orderBy("doc_id").limit(1)
      .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
    val fresh = docs.filter(col("doc_id") % 5 === 0)
    val newDocs = fresh.unionByName(planted)

    Dedup.writeDedupIndex(existing, "incdx")
    val flagged = Dedup.incrementalNearDups(spark, Dedup.minhashIndexOf(newDocs), "incdx")
    val got = flagged.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

    // truth: any new doc with char-3 Jaccard >= 0.5 against some
    // existing doc (cross join is fine at this SF, test-only cost)
    val truth = newDocs.select(col("doc_id"), col("text").as("tn")).crossJoin(
        existing.select(col("doc_id").as("idx_doc"), col("text").as("te")))
      .filter(length(col("tn")) >= 3 && length(col("te")) >= 3)
      .filter(graft.functions.NgramJaccardFunctions.jaccard3(col("tn"), col("te")) >= 0.5)
      .select("doc_id").distinct().as[Long].collect().toSet

    // precision is an invariant: every flagged pair was exact-verified
    assert(got.keySet.subsetOf(truth), s"false flags: ${got.keySet -- truth}")
    // the planted exact copy must be caught, and its dup_of must be a
    // TRUE near-dup (with pruned banded candidates the canonical mate
    // may be a smaller member of the source's own dup cluster, not
    // necessarily the literal source)
    val plantedId = planted.select("doc_id").as[Long].head()
    assert(got.contains(plantedId), s"planted copy $plantedId not flagged")
    val plantedText = planted.select("text").as[String].head()
    val mateText = existing.filter(col("doc_id") === got(plantedId))
      .select("text").as[String].head()
    val mateJac = spark.range(1).select(
      graft.functions.NgramJaccardFunctions.jaccard3(
        lit(plantedText), lit(mateText)).as("j")).as[Double].head()
    assert(mateJac >= 0.5, s"dup_of ${got(plantedId)} not a true near-dup ($mateJac)")
    // banding recall over true near-dups
    val recall = got.keySet.size.toDouble / truth.size
    assert(recall >= 0.8, s"recall=$recall over ${truth.size} true near-dups")

    // the probe uses the bucketed layout: both index scans report
    // Bucketed: true (the batch side shuffles into the buckets; the
    // index never reshuffles — LayoutSpec proves the no-exchange
    // property of the bucketed layout itself)
    val plan = flagged.queryExecution.executedPlan.toString
    assert("Bucketed: true".r.findAllIn(plan).size >= 2,
      plan.linesIterator.filter(_.contains("Bucketed")).mkString("\n"))
  }

  test("incremental exact-dup probe scans only the bucketed digest sidecar, never at-rest text") {
    val d = TestSession.Sf
    val docs = Tables.documents(spark, d).select(col("doc_id"), col("text"))
    val existing = docs.filter(col("doc_id") % 5 =!= 0)
    val batch = docs.filter(col("doc_id") % 5 === 0)
    Dedup.writeDedupIndex(existing, "exdx")
    val cleaned = Dedup.incrementalExactClean(spark, batch, "exdx")

    // semantics: exact text copies rejected, fresh texts admitted
    val existingTexts = existing.select("text").as[String].collect().toSet
    val got = cleaned.select("text").as[String].collect()
    assert(got.forall(t => !existingTexts(t)), "admitted an exact dup")
    val expected = batch.select("text").as[String].collect()
      .count(t => !existingTexts(t))
    assert(got.length == expected, s"${got.length} admitted, expected $expected")

    // plan, at the 100 TB shape (auto-broadcast off — at spec scale the
    // sidecar broadcasts, which also never ships text; at corpus scale
    // it cannot broadcast and must hit the bucketed path): the index
    // side scans the bucketed digest sidecar with NO exchange above it,
    // reading ONLY the 64-char digest column — the at-rest TEXT column
    // never enters the probe plan (VERDICT r12 finding 1)
    val thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val probe = Dedup.incrementalExactClean(spark, batch, "exdx")
      val plan = probe.queryExecution.executedPlan.toString
      val idxScan = plan.linesIterator.filter(_.contains("exdx_digests")).mkString("\n")
      assert(idxScan.contains("Bucketed: true"), idxScan)
      assert(idxScan.contains("ReadSchema: struct<digest:string>"), idxScan)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
  }

  test("appendDedupIndex: a replayed batch is fully rejected and buckets survive the append") {
    val d = TestSession.Sf
    val docs = Tables.documents(spark, d).select(col("doc_id"), col("text"))
    val existing = docs.filter(col("doc_id") % 7 =!= 0)
    val batch = docs.filter(col("doc_id") % 7 === 0)
    Dedup.writeDedupIndex(existing, "apdx")
    val bands0 = spark.table("apdx_bands").count()

    // admit, then the follow-up write: append the batch's own rows
    assert(Dedup.incrementalExactClean(spark, batch, "apdx").count() > 0)
    Dedup.appendDedupIndex(batch, Dedup.minhashIndexOf(batch), "apdx")

    // replay: every batch doc now hits its own digest — zero admitted
    assert(Dedup.incrementalExactClean(spark, batch, "apdx").count() == 0)
    // the band table grew by exactly the batch's band rows
    assert(spark.table("apdx_bands").count() ==
      bands0 + batch.count() * Dedup.MinhashBands)
    // the appended table still reads as BUCKETED — co-located probes
    // stay exchange-free across appends
    val thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan = Dedup.incrementalExactClean(spark, batch, "apdx")
        .queryExecution.executedPlan.toString
      assert(plan.linesIterator.filter(_.contains("apdx_digests"))
        .mkString.contains("Bucketed: true"), plan)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
    // a RE-INGESTED copy (new id, text already indexed via the append)
    // is near-dup-flagged against the appended rows
    val src = batch.orderBy("doc_id").limit(1)
    val copy = src.select((col("doc_id") + 500000L).as("doc_id"), col("text"))
    val flagged = Dedup.incrementalNearDups(spark, Dedup.minhashIndexOf(copy), "apdx")
      .collect().map(_.getLong(0)).toSet
    val copyId = copy.select("doc_id").as[Long].head()
    assert(flagged.contains(copyId), s"re-ingested copy $copyId not flagged")
  }

  test("appendDedupIndex replayGuarded: a retry after a partial crash backfills ONLY the missed tables") {
    // ADVICE r15 (medium): appendDedupIndex writes THREE tables in
    // order (bands, grams, digests). At-least-once redelivery after a
    // crash between any two appends must backfill exactly the missed
    // tables — a single guard keyed on one table would either lose the
    // later tables' rows forever or duplicate the earlier ones.
    val d = TestSession.Sf
    val docs = Tables.documents(spark, d).select(col("doc_id"), col("text"))
    val existing = docs.filter(col("doc_id") % 7 =!= 0)
    val batch = docs.filter(col("doc_id") % 7 === 0)
    Dedup.writeDedupIndex(existing, "apgx")
    val bands0 = spark.table("apgx_bands").count()
    val grams0 = spark.table("apgx_grams").count()
    val digests0 = spark.table("apgx_digests").count()
    val nBatch = batch.count()
    val nDigests = batch.select(sha2(col("text"), 256)).distinct().count()

    // simulate the prior attempt dying between the bands and grams
    // appends: bands written, grams and digests missing
    graft.storage.LogStore.appendBucketed(
      Dedup.fusedBandKeys(Dedup.minhashIndexOf(batch)), "apgx_bands", "bkey")
    assert(spark.table("apgx_bands").count() == bands0 + nBatch * Dedup.MinhashBands)
    assert(spark.table("apgx_grams").count() == grams0)

    // redelivery with per-table guards: bands no-op, grams + digests backfilled
    Dedup.appendDedupIndex(batch, Dedup.minhashIndexOf(batch), "apgx")
    assert(spark.table("apgx_bands").count() == bands0 + nBatch * Dedup.MinhashBands,
      "guarded retry duplicated band rows")
    assert(spark.table("apgx_grams").count() == grams0 + nBatch,
      "guarded retry failed to backfill gram rows")
    assert(spark.table("apgx_digests").count() == digests0 + nDigests,
      "guarded retry failed to backfill digest rows")

    // a full second redelivery is a no-op on every table
    Dedup.appendDedupIndex(batch, Dedup.minhashIndexOf(batch), "apgx")
    assert(spark.table("apgx_bands").count() == bands0 + nBatch * Dedup.MinhashBands)
    assert(spark.table("apgx_grams").count() == grams0 + nBatch)
    assert(spark.table("apgx_digests").count() == digests0 + nDigests)
  }

  test("minhash canonical ids match exact connected components (precision exact, recall bounded)") {
    // Ground truth: exact connected components over UNBLOCKED all-pairs
    // char-3 Jaccard >= 0.5 edges (the ngramJaccard oracle blocks on
    // (lang, n_chars), which by construction misses cross-length
    // near-dups — ground truth must not). 500 docs -> 125k candidate
    // pairs through the native one-pass verifier; test-only cost.
    val d = "/root/testdata/sf0.01"
    val docs = Tables.documents(spark, d).select(col("doc_id"), col("text"))
    val a = docs.select(col("doc_id").as("doc_a"), col("text").as("text_a"))
    val b = docs.select(col("doc_id").as("doc_b"), col("text").as("text_b"))
    val exactEdges = a.crossJoin(b)
      .filter(col("doc_a") < col("doc_b"))
      .filter(length(col("text_a")) >= 3 && length(col("text_b")) >= 3)
      .filter(graft.functions.NgramJaccardFunctions.jaccard3(col("text_a"), col("text_b")) >= 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()

    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    exactEdges.foreach { case (x, y) =>
      val (rx, ry) = (find(x), find(y))
      if (rx != ry) parent(rx max ry) = rx min ry
    }
    val exactLabel = docs.select("doc_id").as[Long].collect()
      .map(i => i -> find(i)).toMap

    val out = Dedup.minhashDedup(spark, d)
      .select("doc_id", "kept_doc_id").as[(Long, Long)].collect()

    // PRECISION is an invariant, not a bound: every propagation hop in
    // minhashDedup walks a VERIFIED exact-Jaccard >= 0.5 edge, which is
    // by definition an edge of the ground-truth graph — so a kept id
    // outside the doc's exact component is impossible unless the
    // verification or propagation is broken.
    out.foreach { case (id, kept) =>
      assert(exactLabel(kept) == exactLabel(id),
        s"doc $id kept under $kept, which is outside its exact component " +
          s"(${exactLabel(id)} vs ${exactLabel(kept)})")
    }

    // RECALL bounds over true duplicates (exact component min != self):
    // detection (flagged at all) and exact-label agreement (landed on
    // the component's true canonical min). 16x2 banding at j=0.5 gives
    // ≈ 0.99 per-pair bucket probability; the residual misses are
    // threshold-straddling pairs plus star-edge/3-round propagation
    // truncation.
    val dups = out.filter { case (id, _) => exactLabel(id) != id }
    assume(dups.nonEmpty, "fixture has no exact near-dup components")
    val detected = dups.count { case (id, kept) => kept != id }
    val agreed = dups.count { case (id, kept) => kept == exactLabel(id) }
    val detectRecall = detected.toDouble / dups.length
    val labelAgree = agreed.toDouble / dups.length
    assert(detectRecall >= 0.9,
      s"detection recall $detectRecall over ${dups.length} true dups")
    assert(labelAgree >= 0.85,
      s"canonical-label agreement $labelAgree over ${dups.length} true dups")
  }

  test("packed gram-set Jaccard equals exact string 3-gram Jaccard") {
    // the verification path computes Jaccard over sorted 48-bit packed
    // gram ids (GramSet + SortedLongJaccard); packing is injective over
    // UTF-16 units, so the result must EQUAL the direct string
    // formulation (NgramJaccard) bit-for-bit — no collision tolerance
    val rnd = new scala.util.Random(7)
    val texts = (1 to 50).map { _ =>
      (0 until (3 + rnd.nextInt(60)))
        .map(_ => ('a' + rnd.nextInt(5)).toChar).mkString // tiny alphabet → dense overlaps
    }
    val pairs = for (a <- texts; b <- texts) yield (a, b)
    val got = pairs.toDF("a", "b").select(
        graft.functions.NgramJaccardFunctions.jaccard3(col("a"), col("b")).as("exact"),
        graft.functions.NgramJaccardFunctions.jaccardSorted(
          graft.functions.TextHashFunctions.gramSet(col("a")),
          graft.functions.TextHashFunctions.gramSet(col("b"))).as("packed"))
      .as[(Double, Double)].collect()
    got.foreach { case (exact, packed) =>
      assert(exact == packed, s"exact=$exact packed=$packed")
    }
  }

  test("minhash dedup plan never materializes a cross product") {
    // the scale contract: candidates come from band-key equality joins
    // (star + path), so no physical plan segment may fall back to a
    // pair-materializing join
    val phys = Dedup.minhashDedup(spark, sf).queryExecution.executedPlan.toString
    assert(!phys.contains("CartesianProduct") && !phys.contains("BroadcastNestedLoopJoin"),
      s"pair-materializing join in minhash plan:\n$phys")
  }

  test("simhash: identical token sets get identical signatures; disjoint ones differ") {
    val df = Seq(
      "spark shuffle join window",
      "spark shuffle join window",
      "entirely different words here altogether")
      .toDF("text")
      .select(TextHashFunctions.simhash(split(col("text"), " ")).as("sig"))
    val sigs = df.as[Long].collect()
    assert(sigs(0) == sigs(1))
    assert(sigs(0) != sigs(2))
  }

  test("simhash of near-identical docs has small hamming distance") {
    val words = (1 to 50).map(i => s"word$i").mkString(" ")
    val df = Seq(words, words + " extraone").toDF("text")
      .select(TextHashFunctions.simhash(split(col("text"), " ")).as("sig"))
    val Array(a, b) = df.as[Long].collect()
    val hamming = java.lang.Long.bitCount(a ^ b)
    assert(hamming <= 8, s"hamming=$hamming")
  }

  test("simhash banding catches a planted 1-3-bit near-dup that exact grouping misses") {
    // search deterministically for a variant whose signature differs
    // from the base by 1..3 bits — exactly the regime where grouping on
    // the full 64-bit signature finds nothing but >=1 of the 4 16-bit
    // bands is untouched (pigeonhole), so banding must catch it
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val variants = (1 to 200).map(v => base + s" extra$v")
    val sigs = (base +: variants).toDF("text")
      .select(TextHashFunctions.simhash(split(col("text"), " ")).as("sig"))
      .as[Long].collect()
    val baseSig = sigs.head
    val pick = sigs.zipWithIndex.tail.find { case (s, _) =>
      val h = java.lang.Long.bitCount(s ^ baseSig); h >= 1 && h <= 3
    }
    assert(pick.isDefined, "no 1-3-bit variant found in 200 tries")
    val (variantSig, idx) = pick.get
    assert(variantSig != baseSig) // exact-signature grouping would miss this pair

    val dir = java.nio.file.Files.createTempDirectory("graft-simhash").toString
    val docs = Seq(
      (0L, base, "en", base.length),
      (1L, variants(idx - 1), "en", variants(idx - 1).length)) ++
      (2L to 30L).map { i =>
        val t = (1 to 40).map(j => s"noise${i}_$j").mkString(" ")
        (i, t, "en", t.length)
      }
    docs.toDF("doc_id", "text", "lang", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val pairs = Dedup.simhashDedup(spark, dir)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)),
      s"planted bit-flip pair not found; hamming=${java.lang.Long.bitCount(variantSig ^ baseSig)} pairs=$pairs")
  }

  test("minhash decontamination flags planted paraphrase leakage, broadcast test side") {
    // the GoldenHash split puts ids ≡ 0 (mod 10) in the benchmark set:
    // doc 10 is a benchmark doc; doc 11 is a training doc one word away
    // (exact-text decon would MISS it); docs 12-13 are clean training
    val docs = Seq(
      (10L, "question what is the capital of france answer paris of course indeed", "en", "s", 68L),
      (11L, "question what is the capital of france answer paris of course truly", "en", "s", 67L),
      (12L, "training text about gradient descent and learning rate schedules here", "en", "s", 69L),
      (13L, "another clean training document on tokenizers and byte pair encoding", "en", "s", 68L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("graft-mhdecon").toString
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val q = Dedup.minhashDecontaminate(spark, dir)
    val out = q.select("doc_id", "contaminated_by")
      .as[(Long, Long)].collect().toMap
    assert(out == Map(11L -> 10L), s"expected only 11→10, got $out")
    // the candidate construction is window algebra + equality joins —
    // never a pair-materializing product over bucket members
    val phys = q.queryExecution.executedPlan.toString
    assert(!phys.contains("CartesianProduct") && !phys.contains("BroadcastNestedLoopJoin"),
      s"pair-materializing join in decontamination plan:\n${phys.take(2000)}")
  }

  test("minhash decontamination: exact precision, recall >= 0.9 vs unblocked cross-split Jaccard") {
    // ground truth: driver-side char-3-gram Jaccard of every train doc
    // against every test doc (feasible at fixture scale; the linear
    // star+path candidates trade exhaustive bucket-pair recall for
    // scale, so recall is bounded, not exact — precision IS exact
    // because every emitted row passed merge-intersect verification)
    val docs = graft.Tables.documents(spark, sf)
      .select("doc_id", "text").as[(Long, String)].collect()
    def grams(t: String): Set[String] = t.sliding(3).toSet
    val (testD, trainD) = docs.partition { case (id, _) =>
      (id * GoldenHash.Gamma) % 10 == 0
    }
    val testGrams = testD.map { case (_, t) => grams(t) }.filter(_.nonEmpty)
    val exact = trainD.collect { case (tid, tt)
      if {
        val gt = grams(tt)
        gt.nonEmpty && testGrams.exists { gb =>
          val i = gt.intersect(gb).size
          i.toDouble / (gt.size + gb.size - i) >= 0.5
        }
      } => tid
    }.toSet
    val flagged = Dedup.minhashDecontaminate(spark, sf)
      .select("doc_id").as[Long].collect().toSet
    assert(exact.nonEmpty, "fixture has no cross-split contamination — test is vacuous")
    val falsePos = flagged -- exact
    assert(falsePos.isEmpty, s"non-contaminated docs flagged: $falsePos")
    val recall = exact.intersect(flagged).size.toDouble / exact.size
    assert(recall >= 0.9, s"recall=$recall (${exact.size} true, ${flagged.size} flagged)")
  }

  test("canonical selection keeps the max-quality copy per cluster, min-id ties") {
    import org.apache.spark.sql.functions._
    val out = Dedup.dedupCanonical(spark, sf).cache()
    // cluster membership must be exactly minhashDedup's
    val clusters = Dedup.minhashDedup(spark, sf)
      .select(col("doc_id"), col("kept_doc_id"))
      .as[(Long, Long)].collect().toMap
    val rows = out.select("doc_id", "cluster_id", "canonical_doc_id")
      .as[(Long, Long, Long)].collect()
    assert(rows.length == clusters.size)
    rows.foreach { case (d, c, _) => assert(clusters(d) == c) }
    // exactly one canonical per cluster, and it is a cluster member
    val byCluster = rows.groupBy(_._2)
    byCluster.foreach { case (c, ms) =>
      val canon = ms.map(_._3).distinct
      assert(canon.length == 1, s"cluster $c has canonicals $canon")
      assert(ms.map(_._1).contains(canon.head), s"canonical outside cluster $c")
    }
    // the canonical really is the (quality desc, doc_id asc) argmax
    val q = graft.operators.TextAnalysis.modelQuality(spark, sf)
      .select(col("doc_id"), col("quality_logit"))
      .as[(Long, Double)].collect().toMap
    byCluster.foreach { case (c, ms) =>
      val expected = ms.map(_._1)
        .sortBy(d => (-q.getOrElse(d, -1e9), d)).head
      assert(ms.head._3 == expected,
        s"cluster $c canonical ${ms.head._3} != expected $expected")
    }
    out.unpersist()
  }

  test("hll merge path: weekly union of daily sketches honors the error contract") {
    val check = Dedup.hllMergeCheck(spark, sf).collect()
    assert(check.nonEmpty)
    check.foreach { r =>
      assert(r.getBoolean(2), s"merged estimate outside 10% for ${r.getString(0)}")
      assert(r.getBoolean(3), s"direct estimate outside 10% for ${r.getString(0)}")
      assert(r.getBoolean(4), s"merge disagrees with direct sketch for ${r.getString(0)}")
    }
    // the rows-only sketch query agrees with the contract query's exact counts
    val est = Dedup.hllMerge(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    val exact = check.map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (t, ex) =>
      assert(math.abs(est(t) - ex) <= ex * 0.1, s"$t: est ${est(t)} vs exact $ex")
    }
  }
}
