package graft.functions

import graft.dedup.Dedup
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Custom expression computing the full MinHash signature from a token
  * array in one compiled pass: token 3-gram shingling, md5-based 32-bit
  * hashing, and all NumHashes permutation minima.
  *
  * Built-in formulation needed nested HOFs (transform over shingles inside
  * 16 array_min(transform(...)) permutations), each interpreted per element
  * with the shingle-hash array re-inlined per permutation — profiled 139 s
  * over 5,000 documents; this expression is sub-second.
  *
  * Value semantics are bit-identical to the built-in/DuckDB form (verified
  * by the dedup_minhash_* oracles): h(s) = first 4 md5 bytes of the UTF-8
  * shingle as an unsigned 32-bit int (= `conv(substr(md5(s),1,8),16,10)`),
  * sig[j] = min over shingles of (a_j·h + b_j) mod P. Duplicate shingles
  * don't affect minima, so no distinct-set is materialized.
  */
case class MinHashSig(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(toksAny: Any): Any = {
    val toks = toksAny.asInstanceOf[ArrayData]
    val n = toks.numElements()
    val sig = Array.fill(Dedup.NumHashes)(Long.MaxValue)
    val md = java.security.MessageDigest.getInstance("MD5")
    var i = 0
    while (i + 2 < n) {
      val shingle =
        toks.getUTF8String(i).toString + " " +
        toks.getUTF8String(i + 1).toString + " " +
        toks.getUTF8String(i + 2).toString
      md.reset()
      val d = md.digest(shingle.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val x = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      var j = 0
      while (j < Dedup.NumHashes) {
        val h = (x * Dedup.aCoef(j) + Dedup.bCoef(j)) % Dedup.P
        if (h < sig(j)) sig(j) = h
        j += 1
      }
      i += 1
    }
    new GenericArrayData(sig.map(java.lang.Long.valueOf(_): Any))
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

object MinHashSig {
  val Name = "graft_minhash_sig"

  /** Column API, self-contained; input: token array. */
  def apply(tokens: Column): Column = {
    import org.apache.spark.sql.GraftExpressionBridge
    GraftExpressionBridge.column(MinHashSig(GraftExpressionBridge.expression(tokens)))
  }
}
