package graft.functions

import graft.model.Model
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Fused route-stage message builder: the entire per-turn message-array
  * construction ([[graft.operators.Route.messages]]'s queryKept /
  * insertDelete / updateOk dispatch, per-physical-row mapping via
  * [[MapRows.mapPhysicalRow]], and old/new update pairing) in ONE compiled
  * pass per turn.
  *
  * Why: the built-in formulation it replaces was a `CASE WHEN …
  * transform(maprows(…), λ) … transform(sequence(…), λ)` tree under the
  * explode, where every HOF lambda evaluates interpreted per element with
  * NO subexpression elimination — the update branch re-evaluated `maprows`
  * SIX times per pair (element_at × {old,new} × {repr,notice,entries}).
  * Measured honestly (OPTIMIZATION_r06.md §3): throughput is on par with
  * the old tree (route cost is explode + output materialization, not
  * lambda dispatch — updates are only ~10% of turns); the fusion is kept
  * for the ~20× smaller Generate expression (cheaper analysis/codegen per
  * query) and plan readability. Same construction as [[MapRows]].
  *
  * Inputs (children, in order): kind, suppressed, stmt, field_names, vals,
  * committed (= matched && txn_id IS NOT NULL) — string, boolean, string,
  * array<string>, array<array<string>>, boolean, checked at analysis so a
  * mis-typed column fails the query plan instead of throwing a
  * ClassCastException per row.
  *
  * Output: array<struct< event_type, row_repr, old_repr, new_repr,
  * mapping_notice, new_mapping_notice, query, row_entries, old_entries,
  * new_entries >> — the EXACT type and values of the expression tree it
  * replaces (RouteSpec equivalence test + golden fixtures + the k3/k2b/e4
  * oracles pin it), including the null-vs-empty nuances:
  *  - query (non-suppressed) → 1 Query message
  *  - insert/delete && committed → R messages; a NULL `vals` yields a NULL
  *    array (the old `transform(null·, …)`), which explode drops
  *  - update && committed && even |vals| ≥ 2 → R/2 paired messages; odd or
  *    undersized |vals| (or null) falls through to the EMPTY array
  *  - everything else (commit / BEGIN / SAVEPOINT / noise / unmapped /
  *    uncommitted) → empty array
  */
case class RouteMsgs(children: Seq[Expression])
    extends Expression with CodegenFallback {

  private val inputTypes: Seq[DataType] = Seq(StringType, BooleanType,
    StringType, ArrayType(StringType), ArrayType(ArrayType(StringType)), BooleanType)

  override def checkInputDataTypes(): TypeCheckResult =
    ExpectsInputTypes.checkInputDataTypes(children, inputTypes)

  private val entryType = StructType(Seq(
    StructField("k", StringType), StructField("v", StringType)))
  private val msgType = StructType(Seq(
    StructField("event_type", StringType),
    StructField("row_repr", StringType),
    StructField("old_repr", StringType),
    StructField("new_repr", StringType),
    StructField("mapping_notice", StringType),
    StructField("new_mapping_notice", StringType),
    StructField("query", StringType),
    StructField("row_entries", ArrayType(entryType, containsNull = false)),
    StructField("old_entries", ArrayType(entryType, containsNull = false)),
    StructField("new_entries", ArrayType(entryType, containsNull = false))))

  override def dataType: DataType = ArrayType(msgType, containsNull = false)
  override def nullable: Boolean = true

  private val etQuery = UTF8String.fromString(Model.EventType.Query)
  private val etInsert = UTF8String.fromString(Model.EventType.Insert)
  private val etDelete = UTF8String.fromString(Model.EventType.Delete)
  private val etUpdate = UTF8String.fromString(Model.EventType.Update)
  private val emptyNotice = UTF8String.fromString("")
  private val kInsert = UTF8String.fromString("insert")
  private val kDelete = UTF8String.fromString("delete")
  private val kUpdate = UTF8String.fromString("update")
  private val kQuery = UTF8String.fromString("query")
  private val emptyMsgs = new GenericArrayData(Array.empty[Any])

  override def eval(input: InternalRow): Any = {
    val kind = children(0).eval(input).asInstanceOf[UTF8String]
    val suppressedAny = children(1).eval(input)
    val committedAny = children(5).eval(input)
    val committed = committedAny != null && committedAny.asInstanceOf[Boolean]

    if (kind == null) return emptyMsgs
    if (kind.equals(kQuery)) {
      // CASE branch 1: queryKept = kind = 'query' AND NOT suppressed
      // (a null `suppressed` makes the predicate null → falls through)
      if (suppressedAny == null || suppressedAny.asInstanceOf[Boolean])
        return emptyMsgs
      val stmt = children(2).eval(input)
      return new GenericArrayData(Array[Any](InternalRow(
        etQuery, null, null, null, emptyNotice, null, stmt, null, null, null)))
    }

    val isInsert = kind.equals(kInsert)
    val isDelete = kind.equals(kDelete)
    if ((isInsert || isDelete) && committed) {
      // CASE branch 2: insert/delete — one message per physical row. A
      // null vals reproduces transform(maprows(names, null)) = NULL.
      // (committed ⊆ matched ⊆ field_names non-null, so names is defined.)
      val vals = children(4).eval(input).asInstanceOf[ArrayData]
      if (vals == null) return null
      val names = children(3).eval(input).asInstanceOf[ArrayData]
      if (names == null) return null
      val et = if (isInsert) etInsert else etDelete
      val n = vals.numElements()
      val out = new Array[Any](n)
      var r = 0
      while (r < n) {
        val m = MapRows.mapPhysicalRow(names, vals.getArray(r))
        out(r) = InternalRow(et, m.getUTF8String(0), null, null,
          m.getUTF8String(1), null, null, m.getArray(2), null, null)
        r += 1
      }
      return new GenericArrayData(out)
    }

    if (kind.equals(kUpdate) && committed) {
      // CASE branch 3: updateOk additionally requires |vals| ≥ 2 and even;
      // null vals → null size → predicate false → ELSE (empty array)
      val vals = children(4).eval(input).asInstanceOf[ArrayData]
      if (vals == null) return emptyMsgs
      val n = vals.numElements()
      if (n < 2 || n % 2 != 0) return emptyMsgs
      val names = children(3).eval(input).asInstanceOf[ArrayData]
      if (names == null) return null // unreachable: committed ⊆ matched
      val out = new Array[Any](n / 2)
      var p = 0
      while (p < n / 2) {
        val old = MapRows.mapPhysicalRow(names, vals.getArray(2 * p))
        val nw = MapRows.mapPhysicalRow(names, vals.getArray(2 * p + 1))
        out(p) = InternalRow(etUpdate, null,
          old.getUTF8String(0), nw.getUTF8String(0),
          old.getUTF8String(1), nw.getUTF8String(1),
          null, null, old.getArray(2), nw.getArray(2))
        p += 1
      }
      return new GenericArrayData(out)
    }

    emptyMsgs // ELSE: commit / suppressed / noise / unmapped / uncommitted
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): RouteMsgs =
    copy(children = newChildren)
}

object RouteMsgs {
  /** Column API, self-contained. Argument order: kind, suppressed, stmt,
    * field_names, vals, committed.
    */
  def apply(kind: Column, suppressed: Column, stmt: Column, names: Column,
      vals: Column, committed: Column): Column = {
    import org.apache.spark.sql.GraftExpressionBridge.{column, expression}
    column(RouteMsgs(Seq(kind, suppressed, stmt, names, vals, committed)
      .map(expression)))
  }
}
