package graft.functions

import graft.model.Model
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Custom expression fusing the per-physical-row mapping work of the route
  * stage — positional zip, mismatch detection ((unknown_i) renaming + exact
  * notices, `row_data.go:8-54`), key sort, canonical repr — into ONE
  * compiled Scala pass per turn.
  *
  * Why custom: the equivalent built-in formulation needs three
  * higher-order functions per message (zip_with + array_sort + transform),
  * and Catalyst HOFs evaluate their lambdas interpreted, per element,
  * outside whole-stage codegen; profiling showed the route stage dominated
  * by exactly that. This expression does the same work in tight JVM loops
  * (CodegenFallback is irrelevant here — its surrounding explode context
  * is already outside codegen).
  *
  * Input:  names array<string>, vals array<array<string>>
  * Output: array<struct<repr string, notice string,
  *                      entries array<struct<k string, v string>>>>
  * one element per physical row, semantics identical to
  * [[graft.operators.Enrich.rowRepr]] / [[graft.operators.Enrich.mappingNotice]]
  * (equality is asserted by RouteSpec/GoldenFixtureSpec and the k3/e4
  * DuckDB oracles).
  */
case class MapRows(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

  private val entryType = StructType(Seq(
    StructField("k", StringType), StructField("v", StringType)))
  private val elemType = StructType(Seq(
    StructField("repr", StringType),
    StructField("notice", StringType),
    StructField("entries", ArrayType(entryType, containsNull = false))))

  override def dataType: DataType = ArrayType(elemType, containsNull = false)

  override def nullSafeEval(namesAny: Any, valsAny: Any): Any = {
    val names = namesAny.asInstanceOf[ArrayData]
    val rows = valsAny.asInstanceOf[ArrayData]
    val out = new Array[Any](rows.numElements())
    var r = 0
    while (r < rows.numElements()) {
      out(r) = MapRows.mapPhysicalRow(names, rows.getArray(r))
      r += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MapRows =
    copy(left = newLeft, right = newRight)
}

object MapRows {
  val Name = "graft_map_rows"

  private val noticeLonger = UTF8String.fromString(Model.NoticeRowLonger)
  private val noticeShorter = UTF8String.fromString(Model.NoticeRowShorter)
  private val noticeNone = UTF8String.fromString("")

  /** One physical row's mapping — zip/mismatch-rename, key insertion-sort,
    * canonical repr, exact notice — as an InternalRow(repr, notice,
    * entries). Shared by [[MapRows]] and the fused route expression
    * ([[RouteMsgs]]) so both produce bit-identical values.
    */
  private[functions] def mapPhysicalRow(names: ArrayData,
      vals: ArrayData): InternalRow = {
    val nNames = names.numElements()
    val nVals = vals.numElements()
    val mismatch = nVals != nNames
    // entry pairs, then an insertion-sort by key (rows are narrow)
    val keys = new Array[UTF8String](nVals)
    val vs = new Array[UTF8String](nVals)
    var i = 0
    while (i < nVals) {
      keys(i) =
        if (mismatch) UTF8String.fromString(s"(unknown_$i)")
        else names.getUTF8String(i)
      vs(i) = vals.getUTF8String(i)
      i += 1
    }
    i = 1
    while (i < nVals) {
      val k = keys(i); val v = vs(i)
      var j = i - 1
      while (j >= 0 && keys(j).compareTo(k) > 0) {
        keys(j + 1) = keys(j); vs(j + 1) = vs(j); j -= 1
      }
      keys(j + 1) = k; vs(j + 1) = v
      i += 1
    }
    val sb = new java.lang.StringBuilder(32)
    val entries = new Array[Any](nVals)
    i = 0
    while (i < nVals) {
      if (i > 0) sb.append(',')
      sb.append(keys(i).toString).append('=').append(vs(i).toString)
      entries(i) = InternalRow(keys(i), vs(i))
      i += 1
    }
    val notice =
      if (!mismatch) noticeNone
      else if (nVals > nNames) noticeLonger
      else noticeShorter
    InternalRow(
      UTF8String.fromString(sb.toString), notice, new GenericArrayData(entries))
  }

  /** Column API, self-contained. */
  def apply(names: Column, vals: Column): Column = {
    import org.apache.spark.sql.GraftExpressionBridge
    GraftExpressionBridge.column(MapRows(GraftExpressionBridge.expression(names),
      GraftExpressionBridge.expression(vals)))
  }
}
