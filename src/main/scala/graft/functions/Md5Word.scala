package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** One 60-bit word of `md5(salt || input)` as a native expression.
  *
  * Semantically identical to the composed form it replaces
  * (`conv(substring(md5(concat(lit(salt), c)), off, 15), 16, 10)
  * .cast("long")` with off = 1 for the low word, 17 for the high —
  * [[graft.util.Hashing.phash]]/`phashHi`), so every DuckDB oracle
  * twin is untouched: hex chars [0,15) are digest bytes 0-6 plus the
  * high nibble of byte 7, chars [16,31) are bytes 8-14 plus the high
  * nibble of byte 15 — the same assembly
  * [[graft.ext.Dedup.simhash64]] uses on the streaming path. The
  * composed form pays a 32-char hex render, a UTF8String substring,
  * and NumberConverter's generic radix loop per call; this expression
  * digests once into a thread-local MD5 and shifts bytes — measured
  * ~2× faster per call, and `phash` sits under every sketch operator
  * in the library (MinHash shingles, SimHash tokens, Bloom positions,
  * split assignment, HRW sharding).
  *
  * Null propagates like the composed form (md5(NULL) is NULL); the
  * input must already be a string, like `concat(lit(salt), c)` made
  * it (the Column entry point inserts the same implicit cast).
  */
case class Md5Word(child: Expression, salt: String, hi: Boolean)
  extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "md5_word"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"md5_word requires string input, got ${t.sql}")
  }

  @transient private lazy val saltBytes = salt.getBytes("UTF-8")

  protected override def nullSafeEval(input: Any): Any =
    Md5Word.word(saltBytes, input.asInstanceOf[UTF8String].getBytes, hi)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val saltRef = ctx.addReferenceObj("salt", saltBytes, "byte[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.Md5Word.word($saltRef, $c.getBytes(), $hi)")
  }

  override protected def withNewChildInternal(newChild: Expression): Md5Word =
    copy(child = newChild)
}

object Md5Word {
  private val md = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** The low (hex chars 0-14) or high (chars 16-30) 60-bit word of
    * md5(salt || data) — kept in lockstep with [[Md5Word]]'s scaladoc
    * and [[graft.ext.Dedup.simhash64]]. */
  def word(salt: Array[Byte], data: Array[Byte], hi: Boolean): Long =
    wordOf(digest(salt, data, 0, data.length), if (hi) 8 else 0)

  /** md5(salt || data[from, from + len)) on this thread's digest. */
  private[functions] def digest(salt: Array[Byte], data: Array[Byte],
                                from: Int, len: Int): Array[Byte] = {
    val d0 = md.get()
    d0.reset()
    if (salt.length > 0) d0.update(salt)
    d0.update(data, from, len)
    d0.digest()
  }

  /** The 60-bit word of digest bytes [base, base+8): bytes base..base+6
    * whole, plus the high nibble of byte base+7 (base 0 is the low
    * word, 8 the high). */
  private[functions] def wordOf(d: Array[Byte], base: Int): Long = {
    var h = 0L
    var k = base
    while (k < base + 7) { h = (h << 8) | (d(k) & 0xffL); k += 1 }
    (h << 4) | ((d(base + 7) >> 4) & 0xfL)
  }

  /** Column entry point; casts like the concat the composed form used. */
  def apply(c: Column, salt: String, hi: Boolean): Column =
    GraftColumnBridge.column(
      Md5Word(GraftColumnBridge.expression(c.cast("string")), salt, hi))
}
