package graft

import graft.functions._
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** The one way to call graft's fused expressions by SQL name: registers
  * every one of them in the session catalog via
  *
  * {{{ --conf spark.sql.extensions=graft.GraftExtensions }}}
  *
  * — the same `SparkSessionExtensions` mechanism Iceberg and Delta use —
  * so SQL-text users (spark-sql, Thrift server, notebooks) get the
  * compiled hot-path functions. The Column APIs (`ParseVals(col)`,
  * `CosineSim(a, b)`, …) need no registration at all. Injection
  * happens at session build, before any query parses, and applies to
  * every session cloned from the builder.
  *
  * `graft_srp_bucket(emb [, nPlanes [, planeOffset]])` folds its plane
  * arguments at registration (they parameterize codegen, so they must be
  * literals — the same contract as the Column API's Int parameters).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import GraftExtensions._

  override def apply(ext: SparkSessionExtensions): Unit = {
    def inject(name: String, arities: Range, build: Seq[Expression] => Expression): Unit =
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name),
        (exprs: Seq[Expression]) => {
          require(arities.contains(exprs.length),
            s"$name expects ${arities.mkString("..")} arguments, got ${exprs.length}")
          build(exprs)
        }))

    inject(CosineSim.Name, 2 to 2, es => CosineSim(es(0), es(1)))
    inject(GoJsonEscape.Name, 1 to 1, es => GoJsonEscape(es(0)))
    inject(ParseVals.Name, 1 to 1, es => ParseVals(es(0)))
    inject(MinHashSig.Name, 1 to 1, es => MinHashSig(es(0)))
    inject(SimHashSig.Name, 1 to 1, es => SimHashSig(es(0)))
    inject(ShingleSetName, 1 to 1, es => ShingleSet(es(0)))
    inject(SrpBucketName, 1 to 3, es => SrpBucket(es(0),
      if (es.length > 1) litInt(es(1), SrpBucketName, "nPlanes") else 8,
      if (es.length > 2) litInt(es(2), SrpBucketName, "planeOffset") else 0))
  }
}

object GraftExtensions {
  // these two expressions keep no `Name` in their own companion object
  val ShingleSetName = "graft_shingle_set"
  val SrpBucketName = "graft_srp_bucket"

  private def litInt(e: Expression, fn: String, arg: String): Int = {
    require(e.foldable, s"$fn: $arg must be a literal integer, got $e")
    e.eval() match {
      case i: Int => i
      // exact: an out-of-Int-range bigint plane argument must error, not
      // silently wrap (ADVICE r05)
      case l: Long => try Math.toIntExact(l) catch {
        case _: ArithmeticException => throw new IllegalArgumentException(
          s"$fn: $arg must be a literal integer in Int range, got $l")
      }
      case s: Short => s.toInt
      case b: Byte => b.toInt
      case other => throw new IllegalArgumentException(
        s"$fn: $arg must be a literal integer, got $other")
    }
  }
}
