package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One pass over a style-5 log line, returning as one struct every
  * capture the style-5 parser reads (`real_parse.pl:61-90`).
  *
  * Each field equals a Java-regex form it replaces (kept in the tests
  * as the differential oracle, and verbatim in the DuckDB twins):
  *
  *  - `lead`     `regexp_extract(line, '^(\S*)', 1)`
  *  - `ts`       `regexp_extract(line, '\[(\d\d/\w\w\w/\d{4}:\d\d:\d\d:\d\d)', 1)`
  *  - `gmt`      `regexp_extract(line, ' -(\d{4})\]', 1)`
  *  - `method`, `file`, `proto`
  *               groups 1-3 of `regexp_extract(line, '"(\S+) (.*?) (\S+)"', g)`
  *  - `tokens`   `regexp_extract_all(line, '\s(\d+)', 1)`
  *  - `brackets` `regexp_extract_all(line, '\[([^\]]*)\]', 1)`
  *  - `shape`    `line rlike` the full line shape
  *               `^\S+ \S+ \S+ \[<ts> [^\]]*\] "[^"]*" \d+ \d+ .*\d$`
  *
  * The regex forms cost ~12 matcher passes per line, each decoding
  * the bytes again; this reads an all-ASCII line's bytes as its chars
  * and decodes any other line once (`UTF8String.toString`, the decode
  * `regexp_extract` uses, so invalid UTF-8 becomes U+FFFD the same
  * way), then walks the characters with Java's default-flag
  * semantics: ASCII `\s \d \w`, `.` stops at the five line
  * terminators (`\n \r U+0085 U+2028 U+2029`), `$` also matches before
  * a final terminator, and the request middle is lazy. A capture that
  * does not match is "" and a list with no match is empty, as in
  * `regexp_extract(_all)`. Null propagates; nullability of each field
  * follows the line's, like the regex forms.
  */
case class Style5Scan(child: Expression) extends UnaryExpression {

  override def dataType: DataType = Style5Scan.schema
  override def prettyName: String = "style5_scan"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"style5_scan requires string input, got ${t.sql}")
  }

  protected override def nullSafeEval(input: Any): Any =
    Style5Scan.scan(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.Style5Scan.scan($c)")

  override protected def withNewChildInternal(newChild: Expression): Style5Scan =
    copy(child = newChild)
}

object Style5Scan {

  val schema: StructType = StructType(
    Seq("lead", "ts", "gmt", "method", "file", "proto")
      .map(StructField(_, StringType, nullable = false)) ++ Seq(
    StructField("tokens", ArrayType(StringType), nullable = false),
    StructField("brackets", ArrayType(StringType), nullable = false),
    StructField("shape", BooleanType, nullable = false)))

  // Java regex classes without UNICODE_CHARACTER_CLASS
  private def isSpace(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'
  private def isDigit(c: Char): Boolean = c >= '0' && c <= '9'
  private def isWord(c: Char): Boolean =
    isDigit(c) || (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || c == '_'
  /** The characters `.` does not match. */
  private def isTerm(c: Char): Boolean =
    c == '\n' || c == '\r' || c == '\u0085' || c == '\u2028' || c == '\u2029'

  /** End of the `\S` run starting at `i`. */
  private def runEnd(s: String, i: Int): Int = {
    var j = i
    while (j < s.length && !isSpace(s.charAt(j))) j += 1
    j
  }

  /** `\[\d\d/\w\w\w/\d{4}:\d\d:\d\d:\d\d` at `i` (the 20 characters
    * after the `[`). */
  private def stampAt(s: String, i: Int): Boolean = {
    if (i + 20 >= s.length || s.charAt(i) != '[') return false
    var k = 0
    while (k < 20) {
      val c = s.charAt(i + 1 + k)
      val ok = k match {
        case 2 | 6 => c == '/'
        case 3 | 4 | 5 => isWord(c)
        case 11 | 14 | 17 => c == ':'
        case _ => isDigit(c)
      }
      if (!ok) return false
      k += 1
    }
    true
  }

  /** `$` without MULTILINE: at the end, or before a final line
    * terminator (a `\r\n` pair counts as one). */
  private def endAt(s: String, k: Int): Boolean = {
    val n = s.length
    if (k == n) true
    else if (k == n - 1) {
      val c = s.charAt(k)
      isTerm(c) && !(c == '\n' && k > 0 && s.charAt(k - 1) == '\r')
    } else k == n - 2 && s.charAt(k) == '\r' && s.charAt(k + 1) == '\n'
  }

  /** The full line shape, anchored at 0. Each step is deterministic:
    * a greedy class followed by a character the class excludes cannot
    * give back a shorter match that succeeds. */
  private def shape(s: String): Boolean = {
    val n = s.length
    var i = 0
    var t = 0
    while (t < 3) {                                    // \S+ ' ' ×3
      val e = runEnd(s, i)
      if (e == i || e >= n || s.charAt(e) != ' ') return false
      i = e + 1
      t += 1
    }
    if (!stampAt(s, i)) return false                   // \[<ts>
    i += 21
    if (i >= n || s.charAt(i) != ' ') return false     // ' '
    val rb = s.indexOf(']', i + 1)                     // [^\]]*\]
    if (rb < 0) return false
    i = rb + 1
    if (i + 1 >= n || s.charAt(i) != ' ' || s.charAt(i + 1) != '"') return false
    val rq = s.indexOf('"', i + 2)                     // "[^"]*"
    if (rq < 0) return false
    i = rq + 1
    t = 0
    while (t < 2) {                                    // ' ' \d+ ×2
      if (i >= n || s.charAt(i) != ' ') return false
      val d = i + 1
      i = d
      while (i < n && isDigit(s.charAt(i))) i += 1
      if (i == d) return false
      t += 1
    }
    if (i >= n || s.charAt(i) != ' ') return false     // ' '
    i += 1
    // .*\d$ : a digit j >= i with no terminator in [i, j) and $ after it
    var term = i
    while (term < n && !isTerm(s.charAt(term))) term += 1
    var j = n - 3
    while (j < n) {
      if (j >= i && j < term && isDigit(s.charAt(j)) && endAt(s, j + 1)) return true
      j += 1
    }
    false
  }

  /** `"(\S+) (.*?) (\S+)"` at the leftmost start that matches, as
    * the indexes (opening quote, space after the method, space before
    * the protocol, closing quote), or null. */
  private def request(s: String): Array[Int] = {
    val n = s.length
    var q0 = s.indexOf('"')
    while (q0 >= 0) {
      val a = runEnd(s, q0 + 1)                        // (\S+) then ' '
      if (a > q0 + 1 && a < n && s.charAt(a) == ' ') {
        val p = a + 1
        var q = p                                      // lazy (.*?)
        var going = true
        while (going && q < n) {
          if (s.charAt(q) == ' ') {                    // ' ' (\S+) '"', greedy
            val e = runEnd(s, q + 1)
            var t = e - 1
            while (t >= q + 2 && s.charAt(t) != '"') t -= 1
            if (t >= q + 2) return Array(q0, a, q, t)
          }
          if (isTerm(s.charAt(q))) going = false else q += 1
        }
      }
      q0 = s.indexOf('"', q0 + 1)
    }
    null
  }

  /** The scan; see [[Style5Scan]] for the field contract. */
  def scan(line: UTF8String): InternalRow = {
    val s = line.toString
    val n = s.length
    // An all-ASCII line decodes one char per byte, so a capture is the
    // same bytes of the line: a view, as UnsafeRow.getUTF8String
    // returns one. Otherwise a capture re-encodes its chars.
    val ascii = line.isFullAscii
    def u(from: Int, to: Int): UTF8String =
      if (ascii) UTF8String.fromAddress(line.getBaseObject, line.getBaseOffset + from, to - from)
      else UTF8String.fromString(s.substring(from, to))

    val lead = u(0, runEnd(s, 0))

    var ts = UTF8String.EMPTY_UTF8
    var i = s.indexOf('[')
    while (i >= 0 && (ts eq UTF8String.EMPTY_UTF8)) {
      if (stampAt(s, i)) ts = u(i + 1, i + 21)
      i = s.indexOf('[', i + 1)
    }

    var gmt = UTF8String.EMPTY_UTF8
    i = 0
    while (i + 6 < n && (gmt eq UTF8String.EMPTY_UTF8)) {
      if (s.charAt(i) == ' ' && s.charAt(i + 1) == '-' && isDigit(s.charAt(i + 2)) &&
          isDigit(s.charAt(i + 3)) && isDigit(s.charAt(i + 4)) && isDigit(s.charAt(i + 5)) &&
          s.charAt(i + 6) == ']')
        gmt = u(i + 2, i + 6)
      i += 1
    }

    val req = request(s)
    val (method, file, proto) =
      if (req == null) (UTF8String.EMPTY_UTF8, UTF8String.EMPTY_UTF8, UTF8String.EMPTY_UTF8)
      else (u(req(0) + 1, req(1)), u(req(1) + 1, req(2)), u(req(2) + 1, req(3)))

    val tokens = new java.util.ArrayList[UTF8String]()
    i = 0
    while (i + 1 < n) {
      if (isSpace(s.charAt(i)) && isDigit(s.charAt(i + 1))) {
        var e = i + 2
        while (e < n && isDigit(s.charAt(e))) e += 1
        tokens.add(u(i + 1, e))
        i = e
      } else i += 1
    }

    val brackets = new java.util.ArrayList[UTF8String]()
    i = s.indexOf('[')
    while (i >= 0) {
      val e = s.indexOf(']', i + 1)
      if (e < 0) i = -1
      else {
        brackets.add(u(i + 1, e))
        i = s.indexOf('[', e + 1)
      }
    }

    new GenericInternalRow(Array[Any](lead, ts, gmt, method, file, proto,
      new GenericArrayData(tokens.toArray), new GenericArrayData(brackets.toArray),
      shape(s)))
  }

  /** Column entry point. */
  def apply(line: Column): Column =
    GraftColumnBridge.column(Style5Scan(GraftColumnBridge.expression(line)))
}
