package org.apache.spark.sql.classic

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression

/** Package-placed accessor for the Column ↔ Catalyst `Expression`
  * converters, which are private[sql] in Spark 4.
  * `graft.functions.NativeFunctions`, its only user, wraps each native
  * expression over Column inputs with it (the same package-placement
  * pattern as `GraftStateStoreAccess`).
  */
object GraftColumns {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}
