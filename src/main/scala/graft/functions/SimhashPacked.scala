package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** The packed 64-bit SimHash of a token array as ONE native
  * expression — the whole vote-and-pack kernel in a single pass.
  *
  * Semantically identical to the aggregate construction it replaces
  * (explode the distinct-token array, per-token `Md5Word` words
  * h1/h2, 64 set-bit counters c_j summed per document, bit j set iff
  * `2·c_j > tc` with tc = token count — the `sims` CTE in every
  * DuckDB oracle twin, and byte-for-byte the streaming
  * [[graft.ext.Dedup.simhash64]] kernel), so no oracle SQL changes.
  * What it removes per document, measured at sf1 (the ProfileSimPack
  * A/B main, last in commit d665464):
  * the Generate (explode), the 33-long-wide hash-aggregate buffer,
  * the doc-keyed exchange that shipped those 33 longs per document,
  * and HALF the md5 work (h1 and h2 come from one digest here, where
  * the exploded form paid one digest per `Md5Word` call).
  *
  * Domain: the per-document distinct-token count is bounded by the
  * array length (< 2^31), so the 64 long counters can never overflow
  * — the lane-packing contracts of the aggregate layouts (16-bit
  * lanes ≤ 60,000 tokens, 32-bit lanes ≤ 2^31) are structurally
  * void here and no raise_error guard is needed.
  *
  * Null array → null (like the aggregate form, where an empty/null
  * explode dropped the document — callers filter `size(ts) > 0` to
  * keep that drop). A null ELEMENT counts toward tc but votes on no
  * bit, exactly like the aggregate form (null lanes vanish in sum(),
  * count(1) still counts the row).
  */
case class SimhashPacked(child: Expression, salt: String)
  extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash_packed"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"simhash_packed requires array<string> input, got ${t.sql}")
  }

  @transient private lazy val saltBytes = salt.getBytes("UTF-8")

  protected override def nullSafeEval(input: Any): Any =
    SimhashPacked.pack(saltBytes, input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val saltRef = ctx.addReferenceObj("salt", saltBytes, "byte[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.SimhashPacked.pack($saltRef, $c)")
  }

  override protected def withNewChildInternal(newChild: Expression): SimhashPacked =
    copy(child = newChild)
}

object SimhashPacked {
  def pack(salt: Array[Byte], arr: ArrayData): Long = {
    val n = arr.numElements()
    val c = new Array[Long](64)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val token = arr.getUTF8String(i).getBytes
        val d = Md5Word.digest(salt, token, 0, token.length)
        val h1 = Md5Word.wordOf(d, 0)
        val h2 = Md5Word.wordOf(d, 8)
        var j = 0
        while (j < 32) {
          c(j) += (h1 >>> j) & 1L
          c(32 + j) += (h2 >>> j) & 1L
          j += 1
        }
      }
      i += 1
    }
    var packed = 0L
    var j = 0
    while (j < 64) {
      if (c(j) * 2 > n) packed |= (1L << j)
      j += 1
    }
    packed
  }

  /** Column entry point over an `array<string>` column. */
  def apply(c: Column, salt: String): Column =
    GraftColumnBridge.column(
      SimhashPacked(GraftColumnBridge.expression(c), salt))
}
