package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression,
  UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext,
  ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Fused MinHash signature: all [[TextHash.K]] affine minhashes of a
  * shingle-hash array in ONE pass — `sig[k] = min_h (As(k)·h + Bs(k)) % P`
  * (r15 optimization).
  *
  * The composed spelling `array((0 until K).map(k =>
  * array_min(transform(hs, h => (a_k·h + b_k) % P))))` is 16 separate
  * HigherOrderFunction trees: each is CodegenFallback (interpreted per
  * element with a fresh array allocation per transform), and together
  * they dominate both the expression-tree size the optimizer walks on
  * every per-batch plan of the streaming dedup chains and the per-row
  * hashing cost of the banding path. This kernel is one while-loop over
  * the input with a 16-slot running-min array; the affine coefficients
  * are compile-time constants of the engine ([[TextHash.As]]/[[Bs]] are
  * pure functions of the index), so the generated source never varies.
  *
  * Null semantics mirror the composed form exactly (spec-pinned): null
  * ELEMENTS are skipped the way `array_min` skips them; an empty input
  * (or all-null) yields null per slot — the `< 3`-token document case
  * whose banding both engines already handle through null-skipping
  * `concat_ws`. A NULL input is the one divergence: the kernel is
  * null-intolerant, so a NULL `hs` yields a NULL signature, while the
  * composed form yields a non-null array of K null slots (`array()` of K
  * NULL `array_min`s). Callers must therefore compare signatures slot by
  * slot, never the array as a whole, if `hs` can be NULL; today's
  * consumers index the array first, so both spellings band the same
  * (MinHashAggSpec pins both behaviours). Arithmetic is the same
  * overflow-safe affine mod-P over longs the DuckDB oracle embeds
  * ([[TextHash.minhashSql]]). */
case class GraftMinhashSig(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "graft_minhash_sig"

  override protected def nullSafeEval(hs: Any): Any =
    GraftMinhashSig.sig(hs.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      h => s"graft.functions.GraftMinhashSig.sig($h)")

  override protected def withNewChildInternal(
      newChild: Expression): GraftMinhashSig = copy(child = newChild)
}

object GraftMinhashSig {

  val FunctionName = "graft_minhash_sig"

  private val K = TextHash.K
  private val P = TextHash.P
  private val As: Array[Long] = TextHash.As.toArray
  private val Bs: Array[Long] = TextHash.Bs.toArray

  /** Static entry point referenced from generated code. */
  def sig(hs: ArrayData): ArrayData = {
    val n = hs.numElements()
    val mins = new Array[Long](K)
    var any = false
    var i = 0
    while (i < n) {
      if (!hs.isNullAt(i)) {
        val h = hs.getLong(i)
        var k = 0
        if (!any) {
          while (k < K) { mins(k) = (As(k) * h + Bs(k)) % P; k += 1 }
          any = true
        } else {
          while (k < K) {
            val v = (As(k) * h + Bs(k)) % P
            if (v < mins(k)) mins(k) = v
            k += 1
          }
        }
      }
      i += 1
    }
    if (!any) new GenericArrayData(Array.fill[Any](K)(null))
    else new GenericArrayData(mins)
  }

  /** Idempotent per-session registration (the [[GraftDot]] route). */
  def ensureRegistered(spark: SparkSession): Unit =
    if (!spark.sessionState.functionRegistry
        .functionExists(FunctionIdentifier(FunctionName))) {
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        FunctionName,
        exprs => GraftMinhashSig(Cast(exprs(0), ArrayType(LongType))),
        "scala_udf")
    }
}
