package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge.{column, expr}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.DataType

/** Evaluation barrier: a zero-cost pass-through expression that pins its
  * child to the Project that computes it.
  *
  * Why it exists: Catalyst's `PushDownPredicates` substitutes a project
  * alias into any filter above it, and `CollapseProject` inlines aliases
  * into consuming projects — both clone the aliased expression tree.
  * For a cheap expression that is correct and free; for an expensive one
  * (`from_json` over a wide schema, a rendered JSON round-trip) the
  * clone re-executes the whole parse once per consuming operator, since
  * whole-stage-codegen subexpression elimination works only *within* an
  * operator, never across a Filter/Project pair. Materializing the input
  * first (`localCheckpoint`) would also stop the clone, but it writes
  * the whole input to executor storage before the query proceeds.
  *
  * The barrier works by declaring itself non-deterministic: both rules
  * above refuse to duplicate or cross non-deterministic expressions, so
  * `Project [graft_compute_once(expensive) AS x]` survives optimization
  * intact and `x` is computed exactly once per row, with filters
  * consuming the attribute. Runtime cost is nil — eval and codegen
  * delegate to the child unchanged; only the optimizer's view changes.
  * The child must itself be deterministic (we suppress optimizations,
  * we don't change semantics); do not wrap genuinely non-deterministic
  * expressions.
  *
  * Trade-off (deliberate): predicates that *could* be cheaply rewritten
  * through the alias stay above it, and `OptimizeJsonExprs` schema
  * pruning no longer sees the `from_json`. Use only where the child is
  * expensive enough that one extra evaluation costs more than every
  * pushdown it forgoes — exactly the rendered-wire parse in
  * `LogParse.parseJson`.
  */
case class ComputeOnce(child: Expression) extends UnaryExpression {
  override def dataType: DataType = child.dataType
  override def nullable: Boolean = child.nullable
  override def foldable: Boolean = false
  override lazy val deterministic: Boolean = false
  override def prettyName: String = "graft_compute_once"

  override def eval(input: InternalRow): Any = child.eval(input)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = c.code, isNull = c.isNull, value = c.value)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ComputeOnce {
  def computeOnce(c: Column): Column = column(ComputeOnce(expr(c)))
}
