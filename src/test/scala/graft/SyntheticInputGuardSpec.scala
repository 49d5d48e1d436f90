package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source guard: a synthetic input or shared scoring rule is written
  * once per engine, so a query and its DuckDB twin cannot drift apart.
  * Each rule below must appear exactly once in Spark form and once in
  * DuckDB form under `src/main/scala`:
  *  - the link graph, `(id·7 + 13k) mod m` — `Graph.edgesOf` /
  *    `Graph.linkGraphCtes`;
  *  - the embedding twins, `vec_id % 7 == 0` — `Similarity.twinned` /
  *    `Similarity.twinBaseCte`;
  *  - the PPM raster geometry, `w = doc_id % 5 + 4` —
  *    `Multimodal.ppmRasters` / `Multimodal.rasterCte`;
  *  - the quantized cosine, `dot / (sqrt(|a|²) · sqrt(|b|²))` —
  *    `Similarity.cosine` / `Similarity.cosSql`.
  *
  * Patterns match the code with comments dropped and all whitespace
  * removed, so a re-wrapped copy still counts. */
class SyntheticInputGuardSpec extends AnyFunSuite {

  private case class Rule(name: String, spark: String, duckdb: String)

  private val rules = Seq(
    Rule("link graph", """\*7\+k\*13""", """\*7\+13\b"""),
    Rule("embedding twins", """"vec_id"\)%7===0""", """vec_id%7=0\b"""),
    Rule("raster geometry", """"doc_id"\)%5\+4""", """\bdoc_id%5\+4"""),
    Rule("quantized cosine", """\.cast\("double"\)\)\*sqrt\((?!greatest)""",
      """ASDOUBLE\)\)\*sqrt\(CAST\(list_sum\("""))

  private val blockComment = """(?s)/\*.*?\*/""".r

  /** A file's code: block comments and whole-line `//` comments
    * dropped (a `//` inside a line is DuckDB's integer division), all
    * whitespace removed. */
  private def code(f: Path): String =
    blockComment.replaceAllIn(
      Files.readAllLines(f).asScala.filterNot(_.trim.startsWith("//")).mkString("\n"), "")
      .replaceAll("""\s+""", "")

  test("each synthetic input and shared scoring rule has one Spark and one DuckDB definition") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: ${root.toAbsolutePath}")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
    assert(files.size > 20, s"scanned only ${files.size} files under $root")
    val sources = files.map(f => root.relativize(f).toString -> code(f))
    val problems = for {
      r <- rules
      (engine, pattern) <- Seq("Spark" -> r.spark, "DuckDB" -> r.duckdb)
      counts = sources.map { case (name, src) => name -> pattern.r.findAllIn(src).size }
        .filter(_._2 > 0)
      total = counts.map(_._2).sum
      if total != 1
    } yield s"${r.name}, $engine: $total copies (" +
      counts.map { case (name, n) => s"$name ×$n" }.mkString(", ") + "), want 1"
    if (problems.nonEmpty)
      fail("compose the shared builder or CTE instead of writing the rule again:\n" +
        problems.mkString("\n"))
  }
}
