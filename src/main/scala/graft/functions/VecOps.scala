package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Fused integer dot product over two `array<bigint>` columns as a
  * native Catalyst expression.
  *
  * Semantically identical to the composed form it replaces
  * (`aggregate(zip_with(a, b, _ * _), lit(0L), _ + _)` —
  * [[graft.ext.Similarity]]), so the DuckDB oracle twins are
  * untouched. The composed plan allocates the zipped product array
  * per row and folds it through two interpreted lambda calls per
  * element (higher-order functions are CodegenFallback); this
  * expression is ONE primitive loop inside whole-stage codegen.
  *
  * Null parity with the composed form (asserted by FunctionsSpec):
  * null input → null; length mismatch → null (zip_with pads the
  * shorter side with null, null product poisons the fold); any null
  * element → null; two empty arrays → 0 (the fold's initial value).
  */
case class LongDot(left: Expression, right: Expression) extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"long_dot requires two array<bigint> inputs, got ${l.sql}, ${r.sql}")
    }
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "long_dot"

  override protected def nullSafeEval(l: Any, r: Any): Any =
    LongDot.compute(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, r) =>
      KernelCode.boxedLong(ctx, ev, s"graft.functions.LongDot.compute($l, $r)"))

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): LongDot =
    copy(left = newLeft, right = newRight)
}

object LongDot {
  /** The dot product of two non-null arrays; null on a length mismatch
    * or a null element. */
  def compute(la: ArrayData, ra: ArrayData): java.lang.Long = {
    val n = la.numElements()
    if (n != ra.numElements()) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      if (la.isNullAt(i) || ra.isNullAt(i)) return null
      acc += la.getLong(i) * ra.getLong(i)
      i += 1
    }
    acc
  }

  /** Column-API entry point: `LongDot($"a", $"b")`. */
  def apply(a: Column, b: Column): Column =
    GraftColumnBridge.column(LongDot(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))
}

/** Per-row top-NPROBE centroid assignment against a PLAN-CONSTANT
  * centroid table — the IVF coarse-quantizer kernel
  * ([[graft.ext.Similarity.knnIvf]] / `knn_ivf_kmeans`), fused into
  * one expression so the N×C candidate frame NEVER materializes.
  *
  * The composed form cross-joined every vector with the broadcast
  * centroid table and ranked with a `row_number` window partitioned
  * by vec_id — at sf10 that is a 400M-row generate + exchange + sort
  * (measured: ann_recall 162 s). Here each row loops over the C×DIM
  * matrix (C ≤ 2000 by the CENT_CAP bound), computes the SAME
  * 6-dp-floored cosine (exact long dot, IEEE sqrt/divide on
  * identical operands), keeps the `nprobe` best under the identical
  * (cosine DESC, cid ASC) order, and emits their cids in rank order
  * — O(C·D) per row inside the scan, zero shuffle. At cluster scale
  * this is exactly how an IVF assigner runs: centroid matrix
  * broadcast, vectors streaming through map tasks.
  *
  * Out-of-contract: an all-zero vector (NaN cosine) — the composed
  * window ranks NaN first, this loop ranks it last; the corpus
  * contract (non-degenerate embeddings) is asserted upstream by the
  * quantizer family. Null/length-mismatched vectors → null. */
case class TopCentroids(child: Expression, cids: Seq[Long],
                        cvecs: Seq[Seq[Long]], nprobe: Int)
    extends UnaryExpression {
  require(cids.length == cvecs.length && cids.nonEmpty && nprobe > 0)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"top_centroids requires array<bigint> input, got ${t.sql}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "top_centroids"

  @transient private lazy val table = TopCentroids.Table(
    cids.toArray,
    cvecs.map(_.toArray).toArray,
    cvecs.map(v => math.sqrt(v.map(x => x * x).sum.toDouble)).toArray)

  override def nullSafeEval(input: Any): Any =
    TopCentroids.compute(input.asInstanceOf[ArrayData], table, nprobe)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val tableRef = ctx.addReferenceObj("centTable", table,
      "graft.functions.TopCentroids.Table")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TopCentroids.compute($c, $tableRef, $nprobe);")
  }

  override protected def withNewChildInternal(newChild: Expression): TopCentroids =
    copy(child = newChild)
}

object TopCentroids {
  case class Table(cids: Array[Long], vecs: Array[Array[Long]],
                   norms: Array[Double]) extends Serializable

  def compute(qv: ArrayData, t: Table, nprobe: Int): ArrayData = {
    val dim = t.vecs(0).length
    if (qv.numElements() != dim) return null
    val q = new Array[Long](dim)
    var d = 0
    while (d < dim) {
      if (qv.isNullAt(d)) return null
      q(d) = qv.getLong(d); d += 1
    }
    var n2 = 0L
    d = 0
    while (d < dim) { n2 += q(d) * q(d); d += 1 }
    val qn = math.sqrt(n2.toDouble)
    // insertion top-k under (cosine DESC, cid ASC) — the window order
    val bestCos = new Array[Double](nprobe)
    val bestCid = new Array[Long](nprobe)
    var filled = 0
    var c = 0
    while (c < t.cids.length) {
      val cv = t.vecs(c)
      var dot = 0L
      d = 0
      while (d < dim) { dot += q(d) * cv(d); d += 1 }
      // identical arithmetic to pr6(dot/(sqrt(qn2)*sqrt(cn2)))
      val cos = math.floor(dot.toDouble / (qn * t.norms(c)) * 1000000 + 0.5) / 1000000
      val cid = t.cids(c)
      var pos = filled
      while (pos > 0 && (cos > bestCos(pos - 1) ||
        (cos == bestCos(pos - 1) && cid < bestCid(pos - 1)))) pos -= 1
      if (pos < nprobe) {
        val last = math.min(filled, nprobe - 1)
        var j = last
        while (j > pos) { bestCos(j) = bestCos(j - 1); bestCid(j) = bestCid(j - 1); j -= 1 }
        bestCos(pos) = cos; bestCid(pos) = cid
        if (filled < nprobe) filled += 1
      }
      c += 1
    }
    new GenericArrayData(bestCid.take(filled))
  }

  /** Column-API entry point; `cents` = (cid, quantized vector). */
  def apply(c: Column, cents: Seq[(Long, Seq[Long])], nprobe: Int): Column =
    GraftColumnBridge.column(TopCentroids(
      GraftColumnBridge.expression(c),
      cents.map(_._1), cents.map(_._2), nprobe))
}

/** Integer-distance sibling of [[TopCentroids]] for the k-means IVF
  * assigner (`knn_ivf_kmeans`): per row, the `nprobe` nearest
  * centroids under (ScaledDistSq ASC, cluster ASC) — exact long
  * arithmetic (`Σ(x·k − c)²`), same fused no-materialization shape. */
case class NearestCentroids(child: Expression, cids: Seq[Long],
                            cvecs: Seq[Seq[Long]], scale: Long, nprobe: Int)
    extends UnaryExpression {
  require(cids.length == cvecs.length && cids.nonEmpty && nprobe > 0)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"nearest_centroids requires array<bigint> input, got ${t.sql}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "nearest_centroids"

  @transient private lazy val table = TopCentroids.Table(
    cids.toArray, cvecs.map(_.toArray).toArray, Array.empty)

  override def nullSafeEval(input: Any): Any =
    NearestCentroids.compute(input.asInstanceOf[ArrayData], table, scale, nprobe)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val tableRef = ctx.addReferenceObj("centTable", table,
      "graft.functions.TopCentroids.Table")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.NearestCentroids.compute($c, $tableRef, ${scale}L, $nprobe);")
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCentroids =
    copy(child = newChild)
}

object NearestCentroids {
  def compute(qv: ArrayData, t: TopCentroids.Table, scale: Long,
              nprobe: Int): ArrayData = {
    val dim = t.vecs(0).length
    if (qv.numElements() != dim) return null
    val q = new Array[Long](dim)
    var d = 0
    while (d < dim) {
      if (qv.isNullAt(d)) return null
      q(d) = qv.getLong(d); d += 1
    }
    val bestDist = new Array[Long](nprobe)
    val bestCid = new Array[Long](nprobe)
    var filled = 0
    var c = 0
    while (c < t.cids.length) {
      val cv = t.vecs(c)
      var acc = 0L
      d = 0
      while (d < dim) { val x = q(d) * scale - cv(d); acc += x * x; d += 1 }
      val cid = t.cids(c)
      var pos = filled
      while (pos > 0 && (acc < bestDist(pos - 1) ||
        (acc == bestDist(pos - 1) && cid < bestCid(pos - 1)))) pos -= 1
      if (pos < nprobe) {
        val last = math.min(filled, nprobe - 1)
        var j = last
        while (j > pos) { bestDist(j) = bestDist(j - 1); bestCid(j) = bestCid(j - 1); j -= 1 }
        bestDist(pos) = acc; bestCid(pos) = cid
        if (filled < nprobe) filled += 1
      }
      c += 1
    }
    new GenericArrayData(bestCid.take(filled))
  }

  /** Column-API entry point; `cents` = (cluster, centroid vector). */
  def apply(c: Column, cents: Seq[(Long, Seq[Long])], scale: Long,
            nprobe: Int): Column =
    GraftColumnBridge.column(NearestCentroids(
      GraftColumnBridge.expression(c),
      cents.map(_._1), cents.map(_._2), scale, nprobe))
}

/** Fused char-n-gram hash stream over a string column: the
  * `array<bigint>` of [[graft.util.Hashing.phash]] values of every
  * n-char shingle, in ONE pass with a thread-local MD5 and zero
  * string allocations — the hot inner map of
  * [[graft.ext.TextAnalysis.docFingerprint]] and
  * [[graft.ext.TextAnalysis.winnowFingerprint]], where the composed
  * `transform(sequence(...), i -> phash(substr(text, i, n)))` runs an
  * interpreted lambda, allocates a substring + hex string per
  * shingle, and parses the hex back to a long.
  *
  * Exactness contract (FunctionsSpec asserts bit-parity on real
  * data): shingles are CODE-POINT windows (Spark `substr` semantics —
  * byte offsets walk UTF-8 boundaries), the digest input is
  * `salt ++ shingle` UTF-8 bytes, and the 60-bit value is md5 hex
  * chars [1,15] == bytes 0-6 plus the high nibble of byte 7 (the
  * [[graft.ext.Dedup.simhash64]] byte trick). Shingle count is
  * `max(len - n + 1, 1)` — a short text yields ONE clamped shingle,
  * exactly like the composed form's `greatest(len - n + 1, 1)`
  * sequence. Null text → null. */
case class ShingleHashes(child: Expression, n: Int, salt: String)
    extends UnaryExpression {
  require(n > 0, "shingle width must be positive")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"shingle_hashes requires a string input, got ${t.sql}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hashes"

  @transient private lazy val saltBytes = salt.getBytes("UTF-8")

  override def nullSafeEval(input: Any): Any =
    ShingleHashes.compute(input.asInstanceOf[UTF8String], n, saltBytes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val saltRef = ctx.addReferenceObj("salt", saltBytes, "byte[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.ShingleHashes.compute($c, $n, $saltRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
}

object ShingleHashes {
  /** One-pass shingle hashing over the UTF-8 bytes; `starts` are the
    * byte offsets of the characters as Spark `substr` counts them
    * (`UTF8String.numBytesForFirstByte`, which also counts a stray or
    * invalid lead byte as one character), so char-window semantics
    * match Spark `substr` on any input. */
  def compute(s: UTF8String, n: Int, salt: Array[Byte]): ArrayData = {
    val bytes = s.getBytes
    val startsBuf = new Array[Int](bytes.length + 1)
    var nChars = 0
    var off = 0
    while (off < bytes.length) {
      startsBuf(nChars) = off
      off += UTF8String.numBytesForFirstByte(bytes(off))
      nChars += 1
    }
    startsBuf(nChars) = bytes.length
    val count = math.max(nChars - n + 1, 1)
    val res = new Array[Long](count)
    var i = 0
    while (i < count) {
      val from = startsBuf(i)
      val to = startsBuf(math.min(i + n, nChars))
      res(i) = Md5Word.wordOf(Md5Word.digest(salt, bytes, from, to - from), 0)
      i += 1
    }
    new GenericArrayData(res)
  }

  /** Column-API entry point. */
  def apply(c: Column, n: Int, salt: String = ""): Column =
    GraftColumnBridge.column(ShingleHashes(
      GraftColumnBridge.expression(c), n, salt))
}

/** Fused PREFIX dot products over two `array<bigint>` columns: one
  * pass that emits the dot over the first `cuts(0)`, `cuts(1)`, …
  * elements as an `array<bigint>` — the Matryoshka-evaluation kernel
  * ([[graft.ext.Similarity.embedTruncateEval]]), where the composed
  * form would run one `slice` allocation + one [[LongDot]] per
  * truncation per pair (4× the flops and 8 array copies per row).
  *
  * Contract (asserted null-for-violation like [[LongDot]]): inputs
  * same length, every cut within bounds, cuts strictly increasing
  * (enforced at plan build); null input/element → null. */
case class PrefixDots(left: Expression, right: Expression, cuts: Seq[Int])
    extends BinaryExpression {
  require(cuts.nonEmpty && cuts.zip(cuts.tail).forall { case (a, b) => a < b }
    && cuts.head > 0, s"prefix_dots cuts must be positive increasing: $cuts")

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"prefix_dots requires two array<bigint> inputs, got ${l.sql}, ${r.sql}")
    }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "prefix_dots"

  @transient private lazy val cutsArr = cuts.toArray

  override protected def nullSafeEval(l: Any, r: Any): Any =
    PrefixDots.compute(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData], cutsArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cutsRef = ctx.addReferenceObj("cuts", cutsArr, "int[]")
    nullSafeCodeGen(ctx, ev, (l, r) =>
      KernelCode.orNull(ev, s"graft.functions.PrefixDots.compute($l, $r, $cutsRef)"))
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PrefixDots =
    copy(left = newLeft, right = newRight)
}

object PrefixDots {
  /** The dot over each prefix `cuts(j)` of two non-null arrays; null on
    * a length mismatch, a cut past the end or a null element. */
  def compute(la: ArrayData, ra: ArrayData, cuts: Array[Int]): ArrayData = {
    val n = la.numElements()
    if (n != ra.numElements() || cuts.last > n) return null
    val res = new Array[Long](cuts.length)
    var acc = 0L
    var i = 0
    var j = 0
    while (i < cuts.last) {
      if (la.isNullAt(i) || ra.isNullAt(i)) return null
      acc += la.getLong(i) * ra.getLong(i)
      i += 1
      if (i == cuts(j)) { res(j) = acc; j += 1 }
    }
    new GenericArrayData(res)
  }

  /** Column-API entry point: `PrefixDots($"a", $"b", Seq(8, 16, 64))`. */
  def apply(a: Column, b: Column, cuts: Seq[Int]): Column =
    GraftColumnBridge.column(PrefixDots(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b), cuts))
}

/** Fused winnowing kernel: the SORTED DISTINCT minima of every
  * `w`-wide sliding window over an `array<bigint>` — the inner loop
  * of [[graft.ext.TextAnalysis.winnowFingerprint]] (MOSS winnowing).
  *
  * Replaces the composed
  * `array_distinct(transform(sequence(1, n-w+1), i => array_min(slice(hs, i, w))))`
  * — which allocates a w-element slice and runs an interpreted
  * array_min per window — with one primitive loop and a single
  * sort+dedupe on the minima. Output order is SORTED ascending (the
  * composed form is first-occurrence order); the only consumers are
  * set-shaped (size + sorted-concat hash), and FunctionsSpec asserts
  * set equality against the composed form.
  *
  * Edge parity: n < w (including n = 1) yields the single global
  * minimum, matching the `when(n >= w, …).otherwise(array(array_min))`
  * guard it replaces. Null input or a null element → null (the input
  * contract is a non-null hash array; the guard is for safety, not
  * parity).
  */
case class WindowMinima(child: Expression, w: Int) extends UnaryExpression {

  require(w >= 1, "window must be at least 1")

  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"window_minima requires array<bigint> input, got ${t.sql}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "window_minima"

  override protected def nullSafeEval(input: Any): Any =
    WindowMinima.compute(input.asInstanceOf[ArrayData], w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      KernelCode.orNull(ev, s"graft.functions.WindowMinima.compute($c, $w)"))

  override protected def withNewChildInternal(newChild: Expression): WindowMinima =
    copy(child = newChild)
}

object WindowMinima {
  /** The sorted distinct `w`-window minima of a non-null array; null
    * when it is empty or holds a null. */
  def compute(arr: ArrayData, w: Int): ArrayData = {
    val n = arr.numElements()
    if (n == 0) return null
    var i = 0
    while (i < n) { if (arr.isNullAt(i)) return null; i += 1 }
    val nw = if (n < w) 1 else n - w + 1
    val win = if (n < w) n else w
    val mins = new Array[Long](nw)
    i = 0
    while (i < nw) {
      var m = arr.getLong(i)
      var j = 1
      while (j < win) {
        val v = arr.getLong(i + j)
        if (v < m) m = v
        j += 1
      }
      mins(i) = m
      i += 1
    }
    java.util.Arrays.sort(mins)
    var k = 0
    i = 0
    while (i < nw) {
      if (i == 0 || mins(i) != mins(i - 1)) { mins(k) = mins(i); k += 1 }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(mins, k))
  }

  /** Column-API entry point: `WindowMinima($"hs", 4)`. */
  def apply(c: Column, w: Int): Column =
    GraftColumnBridge.column(WindowMinima(GraftColumnBridge.expression(c), w))
}

/** Fused scaled squared distance `Σ_i (x_i·k − s_i)²` over two
  * `array<bigint>` columns and a `bigint` scale as a native Catalyst
  * expression.
  *
  * Semantically identical to the composed form it replaces
  * (`aggregate(zip_with(x, s, (a, b) => (a*k − b) * (a*k − b)),
  * lit(0L), _ + _)` — [[graft.ext.Cluster]]'s centroid-assignment and
  * mean-comparison distances, where k is the centroid micro-scale or
  * the group size n), so the DuckDB oracle twins are untouched.
  *
  * Null parity with the composed form (asserted by FunctionsSpec):
  * null array → null; length mismatch → null (zip_with null-pad);
  * null element → null; null k with NON-empty arrays → null (the
  * lambda yields null per element); two empty arrays → 0 regardless
  * of k (the fold never runs, 0 is its initial value).
  */
case class ScaledDistSq(first: Expression, second: Expression, third: Expression)
  extends TernaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _), LongType) =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b, c) => TypeCheckResult.TypeCheckFailure(
        s"scaled_dist_sq requires (array<bigint>, array<bigint>, bigint), got ${a.sql}, ${b.sql}, ${c.sql}")
    }
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "scaled_dist_sq"

  // k is read even when the kernel ignores it (empty arrays): a null
  // k unboxes to 0L beside its flag
  override def eval(input: InternalRow): Any = {
    val xv = first.eval(input)
    if (xv == null) return null
    val sv = second.eval(input)
    if (sv == null) return null
    val kv = third.eval(input)
    ScaledDistSq.compute(xv.asInstanceOf[ArrayData], sv.asInstanceOf[ArrayData],
      kv == null, kv.asInstanceOf[Long])
  }

  // not nullSafeCodeGen: two empty arrays give 0 even when k is null
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val xGen = first.genCode(ctx)
    val sGen = second.genCode(ctx)
    val kGen = third.genCode(ctx)
    val call = "graft.functions.ScaledDistSq.compute(" +
      s"${xGen.value}, ${sGen.value}, ${kGen.isNull}, ${kGen.value})"
    ev.copy(code = code"""
      ${xGen.code}
      ${sGen.code}
      ${kGen.code}
      boolean ${ev.isNull} = true;
      long ${ev.value} = 0L;
      if (!${xGen.isNull} && !${sGen.isNull}) {
        ${KernelCode.boxedLong(ctx, ev, call)}
      }
    """)
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): ScaledDistSq =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object ScaledDistSq {
  /** `Σ (x_i·k − s_i)²` over two non-null arrays; 0 for two empty
    * arrays whatever k is, else null on a length mismatch, a null k or
    * a null element. */
  def compute(xa: ArrayData, sa: ArrayData, kNull: Boolean, k: Long): java.lang.Long = {
    val n = xa.numElements()
    if (n != sa.numElements()) return null
    if (n == 0) return 0L
    if (kNull) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      if (xa.isNullAt(i) || sa.isNullAt(i)) return null
      val d = xa.getLong(i) * k - sa.getLong(i)
      acc += d * d
      i += 1
    }
    acc
  }

  /** Column-API entry point: `ScaledDistSq($"qv", $"cent", $"k")`. */
  def apply(x: Column, s: Column, k: Column): Column =
    GraftColumnBridge.column(ScaledDistSq(
      GraftColumnBridge.expression(x), GraftColumnBridge.expression(s),
      GraftColumnBridge.expression(k)))
}

/** Fused P-plane LSH sign-bucket as a native Catalyst expression: the
  * [[MinHashSig]] one-pass trick applied to hyperplane bucketing.
  *
  * Semantically identical to the composed form it replaces
  * (`Σ_p when(dot(w_p, qv) > 0, 1<<p).otherwise(0)` —
  * [[graft.ext.Similarity]] bucketWith), which evaluates P interpreted
  * zip_with+fold pairs per row, each allocating an intermediate
  * array. This expression makes ONE pass over the vector holding P
  * running sums in a primitive long[].
  *
  * Null parity with the composed form (asserted by FunctionsSpec):
  * a null vector, length mismatch, or any null element turns EVERY
  * plane's dot null, and `when(null > 0, …).otherwise(0)` picks 0 for
  * each — so the bucket is 0, never null. Hence never-null: both
  * paths pass a null vector on to [[HyperplaneBucket.compute]].
  *
  * Planes are a Seq-of-Seq field so case-class equality is structural
  * (Catalyst CSE can match separately-built instances).
  */
case class HyperplaneBucket(child: Expression, planes: Seq[Seq[Long]])
  extends UnaryExpression {

  private val p = planes.length
  private val dim = planes.head.length
  require(planes.forall(_.length == dim), "ragged plane matrix")
  require(p <= 62, "bucket bits exceed a long")
  // plane-major flat matrix: w[j*dim + i] = planes(j)(i)
  @transient private lazy val flat: Array[Long] =
    planes.flatten.toArray

  override def nullable: Boolean = false
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"hyperplane_bucket requires array<bigint> input, got ${t.sql}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "hyperplane_bucket"

  override def eval(input: InternalRow): Any =
    HyperplaneBucket.compute(child.eval(input).asInstanceOf[ArrayData], flat, p, dim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val wRef = ctx.addReferenceObj("planes", flat, "long[]")
    val childGen = child.genCode(ctx)
    ev.copy(code = code"""
      ${childGen.code}
      long ${ev.value} = graft.functions.HyperplaneBucket.compute(
        ${childGen.isNull} ? null : ${childGen.value}, $wRef, $p, $dim);
    """, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): HyperplaneBucket =
    copy(child = newChild)
}

object HyperplaneBucket {
  /** The sign bucket of `arr` against the `p` planes of `flat`
    * (plane-major, `dim` wide); 0 for a null array, a length mismatch
    * or a null element. */
  def compute(arr: ArrayData, flat: Array[Long], p: Int, dim: Int): Long = {
    if (arr == null) return 0L
    if (arr.numElements() != dim) return 0L
    val sums = new Array[Long](p)
    var i = 0
    while (i < dim) {
      if (arr.isNullAt(i)) return 0L
      val x = arr.getLong(i)
      var j = 0
      while (j < p) {
        sums(j) += flat(j * dim + i) * x
        j += 1
      }
      i += 1
    }
    var bucket = 0L
    var j = 0
    while (j < p) {
      if (sums(j) > 0) bucket |= 1L << j
      j += 1
    }
    bucket
  }

  /** Column-API entry point: `HyperplaneBucket($"qv", planes)`. */
  def apply(c: Column, planes: Seq[Seq[Long]]): Column =
    GraftColumnBridge.column(HyperplaneBucket(
      GraftColumnBridge.expression(c), planes))
}

/** Adjacent-bigram counter over an `array<string>` token column —
  * the inner loop of [[graft.ext.Retrieval.phraseSearch]].
  *
  * Replaces the composed
  * `size(filter(sequence(1, n-1), p => t[p]=w1 && t[p+1]=w2))`
  * (guarded by `when(n >= 2, …).otherwise(0)`): ArrayFilter is
  * CodegenFallback, so the composed form allocates the position
  * sequence and makes two interpreted element_at calls per position
  * per row. This is one primitive loop with two UTF8String equals
  * per position, inside whole-stage codegen.
  *
  * Parity with the composed form (asserted by FunctionsSpec):
  * null input → null; fewer than two elements → 0; a null ELEMENT
  * never matches but does not poison the count (the HOF predicate
  * evaluates null there, and filter drops null-predicate rows). */
case class PairCount(child: Expression, w1: String, w2: String)
    extends UnaryExpression {

  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"pair_count requires array<string> input, got ${t.sql}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "pair_count"

  @transient private lazy val u1 = UTF8String.fromString(w1)
  @transient private lazy val u2 = UTF8String.fromString(w2)

  override protected def nullSafeEval(input: Any): Any =
    PairCount.count(input.asInstanceOf[ArrayData], u1, u2)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val r1 = ctx.addReferenceObj("pcW1", u1)
    val r2 = ctx.addReferenceObj("pcW2", u2)
    defineCodeGen(ctx, ev, c => s"graft.functions.PairCount.count($c, $r1, $r2)")
  }

  override protected def withNewChildInternal(newChild: Expression): PairCount =
    copy(child = newChild)
}

object PairCount {
  /** The adjacent (u1, u2) pairs of a non-null token array. */
  def count(a: ArrayData, u1: UTF8String, u2: UTF8String): Long = {
    val n = a.numElements()
    var acc = 0L
    var i = 0
    while (i < n - 1) {
      if (!a.isNullAt(i) && !a.isNullAt(i + 1) &&
          u1.equals(a.getUTF8String(i)) && u2.equals(a.getUTF8String(i + 1)))
        acc += 1L
      i += 1
    }
    acc
  }

  /** Column-API entry point: `PairCount($"toks", "hash", "join")`. */
  def apply(c: Column, w1: String, w2: String): Column =
    GraftColumnBridge.column(PairCount(GraftColumnBridge.expression(c), w1, w2))
}

/** The generated side of a kernel that returns null for an input it
  * rejects: Java statements that store the call's result in `ev`,
  * whose `eval` side returns the same call's value as it is. */
private[functions] object KernelCode {
  /** For a kernel returning a nullable object (an `ArrayData`). */
  def orNull(ev: ExprCode, call: String): String =
    s"${ev.value} = $call;\n${ev.isNull} = ${ev.value} == null;"

  /** For a kernel returning a nullable `java.lang.Long` into a `long`. */
  def boxedLong(ctx: CodegenContext, ev: ExprCode, call: String): String = {
    val r = ctx.freshName("boxed")
    s"java.lang.Long $r = $call;\n${ev.isNull} = $r == null;\n" +
      s"if ($r != null) ${ev.value} = $r.longValue();"
  }
}
