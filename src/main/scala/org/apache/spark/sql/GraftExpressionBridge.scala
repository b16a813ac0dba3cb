package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to the classic Column ↔ Expression converters, which Spark 4
  * marks `private[sql]` (`org.apache.spark.sql.classic.ExpressionUtils`).
  *
  * Why it exists (ADVICE r03): graft's custom Catalyst expressions
  * (CosineSim, GoJsonEscape, MinHashSig, ParseVals, ShingleSet,
  * SimHashSig, SrpBucket) expose a Column API. Routing that
  * API through the session function registry made every public entry
  * point depend on the name being registered first — external callers hit
  * an unresolved-function analysis error. Building the Column directly
  * from the Expression removes the registry dependency; this one-file
  * `org.apache.spark.sql`-package shim is the standard extension-library
  * technique for reaching the converter. SQL-text names come only from
  * [[graft.GraftExtensions]].
  */
object GraftExpressionBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
}
