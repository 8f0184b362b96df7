package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge.{column, expr}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BooleanType, DataType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.BloomFilter

/** Native membership probe against a driver-built
  * `util.sketch.BloomFilter` — the codegen'd replacement for a Scala
  * UDF closure over a broadcast (which pays per-row UTF8String→String
  * materialization and interpreted dispatch). The filter rides the
  * plan as a constructor object (serialized with the task, referenced
  * from generated code via `addReferenceObj`) — appropriate for
  * blocklist-sized sketches; a sketch too big to ship in a plan belongs
  * in a join, not a filter.
  *
  * Probe semantics match what `DataFrameStatFunctions.bloomFilter`
  * inserts for STRING columns: UTF-8 bytes (`mightContainBinary` over
  * `UTF8String.getBytes` ≡ `mightContainString`).
  */
// Input must be STRING — reachable only through [[BloomFunctions.mightContain]],
// which takes the typed filter. (ExpectsInputTypes not extendable:
// AbstractDataType is private[sql] in Spark 4.)
case class BloomMightContain(child: Expression, filter: BloomFilter)
    extends UnaryExpression {
  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_bloom_contains"

  // the one ExpectsInputTypes-style guard that IS overridable here: a
  // non-STRING child fails analysis instead of ClassCasting per row
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == org.apache.spark.sql.types.StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_bloom_contains requires a STRING input, got ${child.dataType.catalogString}")

  override def nullSafeEval(s: Any): Any =
    filter.mightContainBinary(s.asInstanceOf[UTF8String].getBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bf = ctx.addReferenceObj("bloomFilter", filter,
      classOf[BloomFilter].getName)
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = $bf.mightContainBinary($s.getBytes());")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object BloomFunctions {
  /** The plan holds `bf` itself, not a copy: do not add to it afterwards. */
  def mightContain(c: Column, bf: BloomFilter): Column =
    column(BloomMightContain(expr(c), bf))
}
