package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Fused K-way MinHash signature as a native Catalyst expression.
  *
  * Semantically identical to the composed form it replaces
  * (`array(affine.map((a,b) => array_min(transform(hs, h => (a*h+b) %
  * MODP))))` — [[graft.ext.Dedup.signaturesOf]]), so the DuckDB
  * oracle twins are untouched. The composed plan materializes K
  * transformed copies of the hash array (K array allocations +
  * K·|hs| boxed writes per row) and then K array_min passes; this
  * expression makes ONE pass over the array holding K running minima
  * in a primitive long[] — no intermediate allocation, and the loop
  * runs inside whole-stage codegen via [[doGenCode]] (the "custom
  * Expression beats UDF" tier of the extension ladder: a Scala UDF
  * here would box every element and break the codegen span).
  *
  * Overflow contract (same as the composed form, asserted by
  * DedupSpec): inputs are 32-bit hash values (h < 2^32) and a ≤
  * 2^31-1, so a·h + b ≤ (2^31-2)(2^32-1) + MODP < 2^63 — exact in
  * Java long and in DuckDB BIGINT alike.
  *
  * Empty AND null input both yield a non-null array of K nulls —
  * exactly what the composed form yields (`transform(NULL)` is NULL,
  * `array_min(NULL)` is NULL, but `array(NULL...)` is a NON-null
  * array), so degenerate docs keep their oracle semantics. That makes
  * this expression never-null: both paths pass a null array on to
  * [[MinHashSig.compute]] instead of inheriting UnaryExpression's null
  * propagation.
  *
  * Coefficients are Seq (not Array) fields so case-class equality is
  * structural — Catalyst CSE/canonicalization can match two
  * separately-built instances with equal coefficients.
  */
case class MinHashSig(child: Expression, as: Seq[Long], bs: Seq[Long], modp: Long)
  extends UnaryExpression {

  require(bs.length == as.length, "coefficient arrays must have equal length")
  @transient private lazy val asArr = as.toArray
  @transient private lazy val bsArr = bs.toArray

  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"minhash_sig requires array<bigint> input, got ${t.sql}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "minhash_sig"

  override def eval(input: InternalRow): Any =
    MinHashSig.compute(child.eval(input).asInstanceOf[ArrayData], asArr, bsArr, modp)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val asRef = ctx.addReferenceObj("as", asArr, "long[]")
    val bsRef = ctx.addReferenceObj("bs", bsArr, "long[]")
    val childGen = child.genCode(ctx)
    ev.copy(code = code"""
      ${childGen.code}
      ${classOf[ArrayData].getName} ${ev.value} = graft.functions.MinHashSig.compute(
        ${childGen.isNull} ? null : ${childGen.value}, $asRef, $bsRef, ${modp}L);
    """, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

object MinHashSig {
  /** The `as.length` minima of `(as(j)·h + bs(j)) % modp` over the
    * hashes h of `arr`; all null for a null or empty array. */
  def compute(arr: ArrayData, as: Array[Long], bs: Array[Long], modp: Long): ArrayData = {
    val k = as.length
    if (arr == null || arr.numElements() == 0) return new GenericArrayData(new Array[Any](k))
    val n = arr.numElements()
    val mins = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val h = arr.getLong(i)
      var j = 0
      while (j < k) {
        val v = (as(j) * h + bs(j)) % modp
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  /** Column-API entry point: `minhashSig($"hs", affine, MODP)`. */
  def apply(c: Column, coeffs: Seq[(Long, Long)], modp: Long): Column =
    GraftColumnBridge.column(MinHashSig(GraftColumnBridge.expression(c),
      coeffs.map(_._1), coeffs.map(_._2), modp))
}
