package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** Writes `.explain("formatted")` of named queries to
  * `plans/<round>/<query>_<suffix>.txt` — the plan-evidence capture:
  * `SPARK_GRAFT_PLAN_DIR=plans/<round> sbt "Test/runMain graft.PlanCapture
  * after q_x q_y"`. The output dir has no default: without
  * `SPARK_GRAFT_PLAN_DIR` the capture refuses to run rather than write
  * into an earlier round's directory. SF dir from `SPARK_GRAFT_SF_DIR`
  * (default sf0.1, matching the committed `_before` captures).
  */
object PlanCapture {
  def main(args: Array[String]): Unit = {
    val suffix = args.head
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val dir = sys.env.getOrElse("SPARK_GRAFT_PLAN_DIR",
      sys.error("PlanCapture: set SPARK_GRAFT_PLAN_DIR to the output dir (e.g. plans/r22)"))
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(dir))
    for (q <- args.tail) {
      val df = SparkEntry.queries(q)(spark, sf)
      val txt = df.queryExecution.explainString(FormattedMode)
      Files.write(Paths.get(s"$dir/${q}_$suffix.txt"), txt.getBytes("UTF-8"))
      println(s"wrote $dir/${q}_$suffix.txt (${txt.linesIterator.size} lines)")
    }
    spark.stop()
  }
}
