package graft.parse

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.model.NginxLog

/** The ingest operator chain as composable `DataFrame => DataFrame`
  * stages. The reference duplicates this chain verbatim in three jobs
  * (ingestor/main.py:66-81, predictions/anomaly_detection.py:171-176,
  * predictions/response_time_prediction.py:238-250); here it is factored
  * once and reused by batch, streaming, and ML paths alike — every stage
  * is pure Column algebra, so the same plan fragment serves both
  * `read` and `readStream` inputs and stays inside whole-stage codegen.
  */
object LogParse {

  /** P1+P2+S2: raw JSON line column → 38 flattened string fields,
    * dropping records that are unparseable (from_json yields a NULL
    * struct — Spark's PERMISSIVE-mode malformed-record policy) or that
    * lack any of the four required keys
    * (reference: producer/main.py:64-77 validity gate).
    *
    * The parse is wrapped in [[graft.plans.ComputeOnce]] so the
    * validity-gate filter and the flattening project above consume the
    * parsed struct as an attribute instead of each re-evaluating the
    * `from_json` (Catalyst clones alias trees through filter pushdown
    * and project collapse; see ComputeOnce scaladoc). One parse per
    * row, no materialization.
    */
  def parseJson(raw: Column)(df: DataFrame): DataFrame = {
    val parsed = df.withColumn("data",
      graft.plans.ComputeOnce.computeOnce(from_json(raw.cast("string"), NginxLog.schema)))
    val valid = NginxLog.requiredKeys
      .map(k => col(s"data.$k").isNotNull)
      .reduce(_ && _)
    parsed.filter(col("data").isNotNull && valid).select("data.*")
  }

  /** P3: drop monitoring-agent self-traffic
    * (reference: ingestor/main.py:68). SQL `!=` null semantics — rows
    * with NULL user agent are also dropped — preserved deliberately.
    */
  def dropAgents(df: DataFrame): DataFrame =
    df.filter(col("http_user_agent") =!= NginxLog.monitoringAgent)

  /** P4+P5: derived typed columns (reference: ingestor/main.py:69-71):
    * ISO-8601 → timestamp; request_time → double; status → int.
    * Invalid strings yield NULL, as in the reference (PySpark, ANSI
    * off). Spark 4 defaults ANSI ON, so the NULL-on-malformed contract
    * is pinned with try_cast/try_to_timestamp instead of relying on
    * session conf.
    */
  def derive(df: DataFrame): DataFrame =
    df.withColumn("timestamp", expr("try_to_timestamp(time_iso8601)"))
      .withColumn("request_time_seconds", expr("try_cast(request_time AS DOUBLE)"))
      .withColumn("status_code", expr("try_cast(status AS INT)"))

  /** P6: endpoint = second path segment of request_uri, '' on no-match
    * (reference: ingestor/main.py:78-81).
    */
  def extractEndpoint(df: DataFrame): DataFrame =
    df.withColumn("endpoint",
      regexp_extract(col("request_uri"), NginxLog.endpointPattern, 1))

  /** The full ingest chain over a DataFrame bearing a `value` column
    * (Kafka wire format / raw JSON lines file).
    */
  def ingestChain(df: DataFrame): DataFrame =
    (parseJson(col("value")) _)
      .andThen(dropAgents)
      .andThen(derive)
      .andThen(extractEndpoint)(df)
}
