package graft.ml

import org.apache.spark.ml.PipelineModel
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.ml.regression.RandomForestRegressionModel
import org.apache.spark.ml.tree.{CategoricalSplit, ContinuousSplit, InternalNode, LeafNode, Node}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{QueryDef, Tables}

/** Oracle-checked scoring twin for the M1-M6 pipeline (VERDICT r14
  * item 5): the fixed-seed random forest's per-tree structure is pinned
  * to a parquet sidecar (every split's feature index, threshold or
  * category set, child pointers, and leaf prediction) together with the
  * golden slice's ASSEMBLED feature vectors, and DuckDB REPLAYS THE
  * FOREST'S VOTE — a recursive-CTE root-to-leaf walk per (row, tree)
  * over the node table, averaged across the 20 trees — against the
  * engine's `model.transform` output. The same stance as the minhash
  * band keys: the engine-specific parts (string indexing, one-hot
  * layout, the trained splits themselves) are pinned as DATA, and
  * everything downstream of them — the actual inference math — is
  * independently recomputed by the oracle. The MlSpec golden-double pin
  * (fixed-seed drift tripwire) is retained beside this.
  *
  * Training input: the reference's feature projection
  * ([[ResponseTimePipeline.features]], M1's SQL at
  * predictions/response_time_prediction.py:71-87) over an events→log
  * field mapping, capped to a deterministic 20k-row slice so the
  * build-once cost is bounded at any SF (the model is session-cached
  * and the bench min-of-2 records the probe, not the fit — the IVF
  * convention).
  */
object MlScore {

  /** Rows scored (and pinned) by the golden slice. */
  val GoldenRows = 20

  /** Training-frame cap — deterministic event_id order, so the trained
    * forest is a function of the corpus version alone.
    */
  val TrainRows = 20000

  val ForestNodesPath: String = graft.Pins.artifact("rf_forest_nodes")
  val GoldenFeaturesPath: String = graft.Pins.artifact("rf_golden_features")

  /** Deterministic nginx-shaped features from the events fixture: the
    * same field mapping the analytics surface uses (event_type as the
    * endpoint-like category, props.k as a numeric payload), projected
    * through the reference's M1 filter/cast/default chain.
    */
  private[graft] def rtFeatures(s: SparkSession, d: String): DataFrame =
    ResponseTimePipeline.features(
      Tables.events(s, d)
        .orderBy(col("event_id"))
        .limit(TrainRows)
        .select(
          col("event_id"),
          col("event_type").as("endpoint"),
          when(pmod(col("user_id"), lit(2)) === 0, lit("GET"))
            .otherwise(lit("POST")).as("request_method"),
          when(pmod(col("user_id"), lit(7)) === 0, lit(null).cast("string"))
            .when(pmod(col("user_id"), lit(3)) === 0, lit("IN"))
            .when(pmod(col("user_id"), lit(3)) === 1, lit("US"))
            .otherwise(lit("DE")).as("geoip2_country_code"),
          get_json_object(col("props"), "$.k").as("request_length"),
          col("ts").as("timestamp"),
          when(pmod(col("event_id"), lit(17)) === 0, lit(500))
            .otherwise(lit(200)).as("status_code"),
          col("value").as("request_time_seconds")),
      keep = Seq("event_id"))
      .withColumnRenamed("event_id", "rid")

  private val modelCache = graft.Pins.session[String, (PipelineModel, DataFrame)]()

  /** Flatten one tree to (node_id, feat, thr, cats, left, right, pred,
    * is_leaf) rows in preorder (root = 0).
    */
  private def flatten(root: Node): Seq[(Int, Option[Int], Option[Double],
      Option[Seq[Double]], Option[Int], Option[Int], Double, Boolean)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Option[Int],
      Option[Double], Option[Seq[Double]], Option[Int], Option[Int], Double, Boolean)]
    var next = 0
    def walk(n: Node): Int = {
      val id = next; next += 1
      n match {
        case in: InternalNode =>
          out += ((id, None, None, None, None, None, 0.0, false)) // placeholder
          val li = walk(in.leftChild)
          val ri = walk(in.rightChild)
          val (feat, thr, cats) = in.split match {
            case c: ContinuousSplit =>
              (c.featureIndex, Some(c.threshold), None)
            case c: CategoricalSplit =>
              (c.featureIndex, None, Some(c.leftCategories.toSeq))
          }
          out(out.indexWhere(_._1 == id)) =
            ((id, Some(feat), thr, cats, Some(li), Some(ri), in.prediction, false))
          id
        case lf: LeafNode =>
          out += ((id, None, None, None, None, None, lf.prediction, true))
          id
      }
    }
    walk(root)
    out.toSeq
  }

  /** Train (once per session × sfDir), pin the forest-node and
    * golden-feature sidecars, return (model, golden slice).
    */
  private def trainedWithGolden(s: SparkSession, d: String): (PipelineModel, DataFrame) = {
    val (model, golden) = modelCache.getOrBuild(s, d) {
      val feats = rtFeatures(s, d)
      val m = ResponseTimePipeline.build().fit(feats)
      (m, feats.orderBy(col("rid")).limit(GoldenRows))
    }
    graft.Pins.writeArtifact(s, d, "rf_score") {
      import s.implicits._
      val rf = model.stages.last.asInstanceOf[RandomForestRegressionModel]
      rf.trees.zipWithIndex.flatMap { case (t, ti) =>
        flatten(t.rootNode).map { case (id, feat, thr, cats, li, ri, pred, leaf) =>
          (ti, id, feat, thr, cats, li, ri, pred, leaf)
        }
      }.toSeq
        .toDF("tree_id", "node_id", "feat", "thr", "cats", "left_id", "right_id",
          "pred", "is_leaf")
        .write.mode("overwrite").parquet(ForestNodesPath)
      model.transform(golden)
        .select(col("rid"), col("endpoint"), col("hour_of_day"),
          vector_to_array(col("features")).as("fv"))
        .write.mode("overwrite").parquet(GoldenFeaturesPath)
    }
    (model, golden)
  }

  /** `q_rt_model_score`: the engine's own inference (`model.transform`)
    * over the golden slice — compared against DuckDB's independent
    * root-to-leaf replay of all 20 trees over the pinned sidecars.
    */
  def rtModelScore(s: SparkSession, d: String): DataFrame = {
    val (model, golden) = trainedWithGolden(s, d)
    model.transform(golden)
      .select(col("rid"), col("endpoint"), col("hour_of_day"),
        round(col("predicted_time"), 4).as("predicted_time"))
      .orderBy(col("rid"))
  }

  lazy val defs: Map[String, QueryDef] = Map(
    "q_rt_model_score" -> QueryDef(rtModelScore, Some(MlScoreOracles.rtModelScore)))
}

object MlScoreOracles {

  /** Replays the forest vote from the two pins: per (golden row, tree),
    * walk root→leaf via the recursive CTE — continuous splits test
    * `fv[feat] <= thr`, categorical (one-hot binary) splits test
    * membership of the feature value in the stored left-category set —
    * then average the 20 leaf predictions. round(·, 4) absorbs the
    * 20-term float re-association between engines.
    */
  val rtModelScore: String =
    s"""WITH RECURSIVE
       |nodes AS (
       |  SELECT tree_id, node_id, feat, thr, cats, left_id, right_id, pred, is_leaf
       |  FROM read_parquet('${MlScore.ForestNodesPath}/*.parquet')),
       |golden AS (
       |  SELECT rid, endpoint, hour_of_day, fv
       |  FROM read_parquet('${MlScore.GoldenFeaturesPath}/*.parquet')),
       |walk AS (
       |  SELECT g.rid, g.fv, n.tree_id, n.node_id, n.is_leaf, n.pred
       |  FROM golden g JOIN nodes n ON n.node_id = 0
       |  UNION ALL
       |  SELECT w.rid, w.fv, c.tree_id, c.node_id, c.is_leaf, c.pred
       |  FROM walk w
       |  JOIN nodes n ON n.tree_id = w.tree_id AND n.node_id = w.node_id
       |    AND NOT w.is_leaf
       |  JOIN nodes c ON c.tree_id = n.tree_id AND c.node_id =
       |    CASE WHEN (n.cats IS NOT NULL AND list_contains(n.cats, w.fv[n.feat + 1]))
       |           OR (n.cats IS NULL AND w.fv[n.feat + 1] <= n.thr)
       |         THEN n.left_id ELSE n.right_id END),
       |votes AS (
       |  SELECT rid, tree_id, pred FROM walk WHERE is_leaf)
       |SELECT g.rid, g.endpoint, g.hour_of_day,
       |  round(sum(v.pred) / ${ResponseTimePipeline.NumTrees}, 4) AS predicted_time
       |FROM votes v JOIN golden g USING (rid)
       |GROUP BY g.rid, g.endpoint, g.hour_of_day
       |ORDER BY g.rid""".stripMargin
}
