package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Fused cosine similarity of two double arrays in one tight JVM loop.
  *
  * Value semantics BIT-IDENTICAL to the HOF formulation it replaces
  * (`aggregate(zip_with(a,b,_*_), 0.0, _+_) / (sqrt(...)*sqrt(...))`,
  * = DuckDB `list_reduce(list_transform(...))`): all three dot products
  * are sequential left folds in element order starting from 0.0, so every
  * IEEE-754 add/multiply happens in the same order as the engine-portable
  * oracle recipe — the ann_* oracles stay hash-exact.
  *
  * Why it exists (r03 bench): Spark evaluates higher-order-function
  * lambdas interpreted, per element, outside whole-stage codegen. One
  * cosine = 3 folds × dim elements of interpreted expression dispatch;
  * the IVF assignment fold (corpus × k centroids) and the LSH near-dup
  * verify (~400k candidate cosines at sf0.1) made ann_ivf_topk 14.2 s vs
  * 5.3 s for the plan it replaced. This expression does the same math at
  * ~ns/element. Mirrors the MinHashSig/SimHashSig pattern (CodegenFallback
  * is fine — the surrounding HOF context is already interpreted; the loop
  * itself is compiled JVM code).
  *
  * Unequal lengths return null, matching zip_with's null-padding (a padded
  * null propagates through the fold to a null cosine).
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any =
    CosineSim.eval(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}

object CosineSim {
  val Name = "graft_cosine"

  /** The cosine of two non-null arrays: a boxed double, or null. */
  def eval(x: ArrayData, y: ArrayData): Any = {
    val n = x.numElements()
    if (y.numElements() != n) return null
    var dab = 0.0
    var daa = 0.0
    var dbb = 0.0
    var i = 0
    while (i < n) {
      // a null element propagates to a null cosine, exactly like the
      // zip_with/aggregate formulation (ADVICE r03: ArrayData.getDouble
      // would silently read a null slot as 0.0)
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xi = x.getDouble(i)
      val yi = y.getDouble(i)
      dab += xi * yi
      daa += xi * xi
      dbb += yi * yi
      i += 1
    }
    dab / (math.sqrt(daa) * math.sqrt(dbb))
  }

  /** Column API, self-contained (ADVICE r03: the registry-routed form made
    * external callers fail analysis unless the name had been registered
    * first). Inputs: two array<double> columns.
    */
  def apply(a: Column, b: Column): Column = {
    import org.apache.spark.sql.GraftExpressionBridge
    GraftExpressionBridge.column(CosineSim(GraftExpressionBridge.expression(a),
      GraftExpressionBridge.expression(b)))
  }
}
