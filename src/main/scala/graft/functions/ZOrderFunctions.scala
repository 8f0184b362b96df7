package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge.{column, expr}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}

/** Z-order (Morton) curve value: interleaves the low 32 bits of two
  * LONG keys into one 64-bit value. Sorting a table by this value
  * clusters rows that are close in BOTH dimensions into the same
  * files, so parquet min/max skipping prunes on either column — the
  * multi-column analogue of the reference's separate btree indexes on
  * endpoint and remote_addr (postgres/init.sql:81-82).
  *
  * Keys must be non-negative and < 2^32 (hash wider domains down
  * first); values outside that range are masked.
  */
case class ZOrderValue(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_zorder"

  override def nullSafeEval(a: Any, b: Any): Any =
    java.lang.Long.valueOf(ZOrderValue.interleave(
      a.asInstanceOf[Number].longValue(), b.asInstanceOf[Number].longValue()))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val cls = classOf[ZOrderValue].getName
      s"${ev.value} = $cls.interleave($a, $b);"
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object ZOrderValue {
  /** Static entry point shared by interpreted and generated code. */
  def interleave(a: Long, b: Long): Long = {
    def spread(v: Long): Long = {
      var x = v & 0xffffffffL
      x = (x | (x << 16)) & 0x0000ffff0000ffffL
      x = (x | (x << 8)) & 0x00ff00ff00ff00ffL
      x = (x | (x << 4)) & 0x0f0f0f0f0f0f0f0fL
      x = (x | (x << 2)) & 0x3333333333333333L
      x = (x | (x << 1)) & 0x5555555555555555L
      x
    }
    spread(a) | (spread(b) << 1)
  }
}

object ZOrderFunctions {
  def zorder(a: Column, b: Column): Column = column(ZOrderValue(expr(a), expr(b)))
}
