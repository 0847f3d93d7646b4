package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column <-> Catalyst-Expression bridge for expressions built without
  * the FunctionRegistry: the kernel table's `graft.plans.Kernels.call`
  * and the object calls of `graft.plans.Kernels.invoke`, neither of
  * which needs a session registration. Spark 4 scopes the direct
  * constructors `private[sql]` (`ExpressionUtils.column/expression` in
  * `org.apache.spark.sql.classic`), so this one-object shim lives in an
  * `org.apache.spark.sql` subpackage to re-export them — the standard
  * extension-library pattern, no behavior of its own. */
object GraftColumn {
  /** Wrap a Catalyst expression as a user-facing Column. */
  def of(e: Expression): Column = ExpressionUtils.column(e)

  /** The Catalyst expression behind a (classic-backed) Column. */
  def expr(c: Column): Expression = ExpressionUtils.expression(c)
}
