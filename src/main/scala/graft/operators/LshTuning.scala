package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.QueryDef
import graft.Pins.FramePin

/** LSH calibration audit (`q_lsh_tuning`, VERDICT r16 item 4): the table
  * you'd consult before re-tuning the minhash banding at a new corpus
  * scale. One row per (bands × rows-per-band) configuration of the SAME
  * 32-hash signature budget [[Dedup.MinhashH]], carrying
  *
  *   - the ANALYTIC S-curve — candidate-collision probability
  *     `1 − (1 − s^r)^b` at similarity s ∈ {0.3, 0.5, 0.7, 0.9} — as
  *     EXACT integer micro units: s is a rational n/10, so the curve is
  *     `1 − (10^r − n^r)^b / 10^(r·b)`, evaluated in BigInt on the
  *     engine and replayed by the oracle in HUGEINT via two recursive
  *     power CTEs (floor-to-micro by the ceiling identity
  *     `floor(1e6·(1−x)) = 1e6 − ceil(1e6·x)`; every intermediate stays
  *     under 10^38 because r·b ≤ 32). No float, no pow() — the same
  *     integer-quantization stance as the unigram scores.
  *   - MEASURED recall/precision of each config's bucket collisions
  *     against exact ground truth on a deterministic fixture sample:
  *     truth = all sample pairs with exact char-3-gram Jaccard ≥ 0.5
  *     (the dedup verification threshold), a config's candidates = all
  *     sample pairs sharing ≥ 1 band key under that banding of the
  *     production signatures.
  *
  * The production config (16 bands × 2 rows) sits in this table beside
  * its neighbors — the spec pins that it dominates on this fixture
  * (recall above the 0.9 design line with materially better precision
  * than the more permissive bandings), which is the quantitative backing
  * for the 16×2 choice documented at [[Dedup.MinhashBands]].
  *
  * SCALE SHAPE: the audit is deliberately sample-bounded — a golden-hash
  * stride (doc_id·Γ mod 5 = 0) capped at [[SampleCap]] docs, so the
  * all-pairs truth and the within-bucket collision join are both bounded
  * by SampleCap² regardless of corpus size (the exact-baseline
  * convention: this is a calibration measurement, not a dedup path — the
  * dedup operators themselves never materialize within-bucket products).
  * Verified-not-benched under the frozen roster policy.
  *
  * The oracle reads ONE pinned artifact (sample doc_id + gram sets + the
  * per-config band-key arrays — xxhash64 band keys are engine-specific,
  * the same reason [[Dedup.MinhashIndexPath]] pins them as data) and
  * independently recomputes truth, per-config collisions, the measured
  * counters, and the full analytic curve.
  */
object LshTuning {

  /** All divisor pairings of the 32-hash budget, widest-banding first. */
  val Configs: Seq[(Int, Int)] =
    Seq((32, 1), (16, 2), (8, 4), (4, 8), (2, 16), (1, 32))

  /** Similarity grid numerators over denominator 10. */
  val SimGrid: Seq[Int] = Seq(3, 5, 7, 9)

  /** Hard cap on the audited sample — bounds the all-pairs truth and the
    * within-bucket collision join by SampleCap² at ANY corpus size.
    */
  val SampleCap = 2000

  val LshTuningPath: String = graft.Pins.artifact("lsh_tuning")

  /** Exact `floor(1e6 · (1 − (1 − (n/10)^r)^b))` in BigInt — mirrored by
    * the oracle's HUGEINT recursive-power CTEs.
    */
  private[operators] def collideProbMicro(b: Int, r: Int, sNum: Int): Long = {
    val denR = BigInt(10).pow(r)
    val q = denR - BigInt(sNum).pow(r) // (1 − s^r) numerator over denR
    val qB = q.pow(b)
    val denRB = denR.pow(b)
    val ceil = (BigInt(1000000) * qB + denRB - 1) / denRB
    (BigInt(1000000) - ceil).toLong
  }

  /** Band-key array for `bands` bands of 32/bands rows each — the
    * generalization of the production 16×2 key derivation (same xxhash64
    * over the same signature slices, so the bands=16 column of this
    * audit IS the production banding).
    */
  private def bandKeyArrayFor(bands: Int): Column = {
    val rows = Dedup.MinhashH / bands
    array((0 until bands).map { b =>
      val cols = (b * rows until (b + 1) * rows)
        .map(h => element_at(col("sigs"), h + 1))
      xxhash64(cols: _*)
    }: _*)
  }

  def lshTuning(s: SparkSession, d: String): DataFrame = {
    // deterministic golden-stride sample of the production index, capped
    val keyed = Dedup.minhashIndex(s, d)
      .filter(graft.GoldenHash.bucket(col("doc_id"), 5) === 0)
      .orderBy(col("doc_id")).limit(SampleCap)
      .select(Seq(col("doc_id")) ++
        Configs.map { case (b, _) => bandKeyArrayFor(b).as(s"k$b") } ++
        Seq(col("grams")): _*)
      .pin(s"≤ $SampleCap sampled docs with per-config band keys")
    graft.Pins.writeArtifact(s, d, "lsh_tuning") {
      keyed.write.mode("overwrite").parquet(LshTuningPath)
    }

    // exact ground truth on the sample: all pairs at Jaccard ≥ 0.5
    // (size-ratio cut first — result-invariant for the 0.5 threshold);
    // broadcast nested-loop is the documented sample-bounded shape
    val g = keyed.select(col("doc_id"), col("grams"))
    val truth = g.select(col("doc_id").as("doc_a"), col("grams").as("ga"))
      .join(broadcast(g.select(col("doc_id").as("doc_b"), col("grams").as("gb"))),
        col("doc_a") < col("doc_b"))
      .filter(Dedup.sizeRatioOk(size(col("ga")), size(col("gb"))))
      .filter(graft.functions.NgramJaccardFunctions
        .jaccardGate(col("ga"), col("gb"), 0.5) >= 0.5)
      .select(col("doc_a"), col("doc_b"))

    // per-config bucket collisions: pairs sharing ≥1 band key
    val banded = Configs.map { case (b, _) =>
      keyed.select(lit(b).as("bands"), col("doc_id"),
        posexplode(col(s"k$b")).as(Seq("band", "key")))
    }.reduce(_ unionByName _)
    val collide = banded.select(col("bands"), col("band"), col("key"),
        col("doc_id").as("doc_a"))
      .join(banded.select(col("bands"), col("band"), col("key"),
        col("doc_id").as("doc_b")), Seq("bands", "band", "key"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("bands"), col("doc_a"), col("doc_b"))
      .distinct()

    val meas = collide
      .join(truth.withColumn("hit", lit(1)), Seq("doc_a", "doc_b"), "left")
      .groupBy(col("bands"))
      .agg(count(lit(1)).as("n_cand"), count(col("hit")).as("n_hit"))
    val nTrue = truth.agg(count(lit(1)).as("n_true"))

    // analytic rows (exact BigInt, driver-side O(configs × grid))
    import s.implicits._
    val analytic = Configs.map { case (b, r) =>
      (b, r, collideProbMicro(b, r, 3), collideProbMicro(b, r, 5),
        collideProbMicro(b, r, 7), collideProbMicro(b, r, 9))
    }.toDF("bands", "rows_per_band",
      "p_s30_micro", "p_s50_micro", "p_s70_micro", "p_s90_micro")

    analytic
      .join(meas, Seq("bands"), "left")
      .crossJoin(broadcast(nTrue))
      .select(col("bands"), col("rows_per_band"),
        col("p_s30_micro"), col("p_s50_micro"),
        col("p_s70_micro"), col("p_s90_micro"),
        col("n_true"),
        coalesce(col("n_cand"), lit(0L)).as("n_cand"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        when(col("n_true") > 0,
          expr("1000000 * coalesce(n_hit, 0L) DIV n_true")).as("recall_micro"),
        when(coalesce(col("n_cand"), lit(0L)) > 0,
          expr("1000000 * n_hit DIV n_cand")).as("precision_micro"))
      .orderBy(col("bands").desc)
  }

  lazy val defs: Map[String, QueryDef] = Map(
    // verified-not-benched (roster rule 1b): a calibration audit —
    // sample-bounded by construction, consulted per corpus version,
    // not a per-round hot path
    "q_lsh_tuning" -> QueryDef(lshTuning, Some(LshTuningOracles.lshTuning),
      headline = false))
}

/** DuckDB replay: everything downstream of the pinned sample artifact —
  * exact truth, per-config collisions, measured counters — plus the FULL
  * analytic S-curve recomputed from scratch in HUGEINT (two recursive
  * power CTEs; `//` floors = Spark DIV on the nonnegative operands).
  */
object LshTuningOracles {

  val lshTuning: String = {
    val cfgVals = LshTuning.Configs
      .map { case (b, r) => s"($b, $r)" }.mkString(", ")
    val sgVals = LshTuning.SimGrid.map(n => s"($n)").mkString(", ")
    val keyCase = LshTuning.Configs.init
      .map { case (b, _) => s"WHEN $b THEN k$b" }.mkString(" ")
    s"""WITH RECURSIVE
       |art AS MATERIALIZED (
       |  SELECT doc_id, grams, k32, k16, k8, k4, k2, k1
       |  FROM read_parquet('${LshTuning.LshTuningPath}/*.parquet')),
       |cfg AS (SELECT * FROM (VALUES $cfgVals) t(bands, rows_per_band)),
       |truth AS MATERIALIZED (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM art a JOIN art b ON a.doc_id < b.doc_id
       |  WHERE ${DedupOracles.sizeRatioSql("a.grams", "b.grams")}
       |    AND CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
       |        / (len(a.grams) + len(b.grams)
       |           - len(list_intersect(a.grams, b.grams))) >= 0.5),
       |keyed AS MATERIALIZED (
       |  SELECT c.bands, a.doc_id,
       |    CASE c.bands $keyCase ELSE k1 END AS keys
       |  FROM art a, cfg c),
       |banded AS MATERIALIZED (
       |  SELECT bands, doc_id, i AS band, keys[CAST(i + 1 AS INT)] AS key
       |  FROM keyed, (SELECT unnest(generate_series(0, ${Dedup.MinhashH - 1})) AS i)
       |  WHERE i < bands),
       |collide AS MATERIALIZED (
       |  SELECT DISTINCT x.bands, x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM banded x JOIN banded y
       |    ON x.bands = y.bands AND x.band = y.band AND x.key = y.key
       |   AND x.doc_id < y.doc_id),
       |meas AS (
       |  SELECT c.bands, CAST(count(*) AS BIGINT) AS n_cand,
       |    CAST(count(t.doc_a) AS BIGINT) AS n_hit
       |  FROM collide c LEFT JOIN truth t USING (doc_a, doc_b)
       |  GROUP BY c.bands),
       |sg AS (SELECT * FROM (VALUES $sgVals) t(sn)),
       |pr AS (
       |  SELECT bands, rows_per_band, sn, 1 AS i,
       |    CAST(sn AS HUGEINT) AS num_r, CAST(10 AS HUGEINT) AS den_r
       |  FROM cfg, sg
       |  UNION ALL
       |  SELECT bands, rows_per_band, sn, i + 1, num_r * sn, den_r * 10
       |  FROM pr WHERE i < rows_per_band),
       |pb AS (
       |  SELECT bands, rows_per_band, sn, 1 AS j,
       |    den_r - num_r AS q0, den_r AS dr,
       |    den_r - num_r AS qb, den_r AS denrb
       |  FROM pr WHERE i = rows_per_band
       |  UNION ALL
       |  SELECT bands, rows_per_band, sn, j + 1, q0, dr, qb * q0, denrb * dr
       |  FROM pb WHERE j < bands),
       |an AS (
       |  SELECT bands, rows_per_band, sn,
       |    CAST(1000000 - ((1000000 * qb + denrb - 1) // denrb) AS BIGINT)
       |      AS p_micro
       |  FROM pb WHERE j = bands),
       |anp AS (
       |  SELECT bands, rows_per_band,
       |    max(CASE WHEN sn = 3 THEN p_micro END) AS p_s30_micro,
       |    max(CASE WHEN sn = 5 THEN p_micro END) AS p_s50_micro,
       |    max(CASE WHEN sn = 7 THEN p_micro END) AS p_s70_micro,
       |    max(CASE WHEN sn = 9 THEN p_micro END) AS p_s90_micro
       |  FROM an GROUP BY 1, 2),
       |ntr AS (SELECT CAST(count(*) AS BIGINT) AS n_true FROM truth)
       |SELECT a.bands, a.rows_per_band,
       |  a.p_s30_micro, a.p_s50_micro, a.p_s70_micro, a.p_s90_micro,
       |  ntr.n_true,
       |  coalesce(m.n_cand, 0) AS n_cand,
       |  coalesce(m.n_hit, 0) AS n_hit,
       |  CASE WHEN ntr.n_true > 0
       |    THEN CAST((1000000 * coalesce(m.n_hit, 0)) // ntr.n_true AS BIGINT)
       |  END AS recall_micro,
       |  CASE WHEN coalesce(m.n_cand, 0) > 0
       |    THEN CAST((1000000 * m.n_hit) // m.n_cand AS BIGINT)
       |  END AS precision_micro
       |FROM anp a LEFT JOIN meas m USING (bands) CROSS JOIN ntr
       |ORDER BY a.bands DESC""".stripMargin
  }
}
