package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** The one way a graft native expression becomes a Column. Spark 4 keeps
  * the `Column`-from-`Expression` constructor behind `private[sql]
  * classic.ExpressionUtils`; every Column wrapper in `graft.functions`
  * (and `graft.plans.ComputeOnce`) builds its Catalyst node directly
  * through this bridge, with constants passed as Scala values (an `Int`,
  * a `BloomFilter`, a `Broadcast` handle). Nothing is registered in, or
  * looked up by name from, the caller's session, and the node prints in
  * a plan under its own `prettyName`.
  */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expr(c: Column): Expression = classic.ExpressionUtils.expression(c)
}
