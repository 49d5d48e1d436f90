package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.parse.Style5

/** The composed Java-regex form of every [[graft.functions.Style5Scan]]
  * capture: the style-5 parser as it was written before the scan, and
  * the form the DuckDB twins still use. The differential oracle for
  * `Style5ScanSpec`; production code binds through the scan. */
object Style5Regex {

  /** P1 — leading token (`real_parse.pl:65-66`). */
  def lead(line: Column): Column = regexp_extract(line, "^(\\S*)", 1)

  /** P8 — timestamp bracket text (`real_parse.pl:87-90`). */
  def ts(line: Column): Column = regexp_extract(line, Style5.stampRe, 1)

  def gmt(line: Column): Column = regexp_extract(line, " -(\\d{4})\\]", 1)

  /** P9 — request line (`real_parse.pl:117-118`). */
  private val requestRe = "\"(\\S+) (.*?) (\\S+)\""
  def method(line: Column): Column = regexp_extract(line, requestRe, 1)
  def file(line: Column): Column = regexp_extract(line, requestRe, 2)
  def proto(line: Column): Column = regexp_extract(line, requestRe, 3)

  /** P3 — all space-prefixed numeric tokens (`real_parse.pl:70`). */
  def tokens(line: Column): Column = regexp_extract_all(line, lit("\\s(\\d+)"), lit(1))

  /** P7 — bracket payload groups (`real_parse.pl:82-85`). */
  def brackets(line: Column): Column =
    regexp_extract_all(line, lit("\\[([^\\]]*)\\]"), lit(1))

  def shape(line: Column): Column = line.rlike(Style5.lineShapeRe)

  /** Field name → regex form, in [[graft.functions.Style5Scan.schema]] order. */
  val fields: Seq[(String, Column => Column)] = Seq(
    "lead" -> lead, "ts" -> ts, "gmt" -> gmt, "method" -> method, "file" -> file,
    "proto" -> proto, "tokens" -> tokens, "brackets" -> brackets, "shape" -> shape)

  /** The style-5 gate before timestamps and long slots were checked. */
  def shapeGate(line: Column): Column = shape(line) && size(tokens(line)) >= 8
}
