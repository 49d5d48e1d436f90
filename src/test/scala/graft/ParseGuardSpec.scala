package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source guard: a log line is bound to fields in `graft/parse/` only
  * — [[graft.parse.Style5.parsed]] owns the style-5 binding and
  * [[graft.parse.WebLog.parsed]] the combined-log one. A token-level
  * call ([[graft.functions.Style5Scan]], `dropHead`) or a positional
  * `element_at(…, -6)` anywhere else in `src/main/scala` (the scan's
  * own definition aside) re-binds tokens that the one parser already
  * names. */
class ParseGuardSpec extends AnyFunSuite {

  private val tokenCall =
    """\b(Style5Scan|dropHead)\(|element_at\(.*,\s*-6\)""".r

  test("no line→row token binding outside graft/parse") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: ${root.toAbsolutePath}")
    val parse = root.resolve("graft/parse")
    val files = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && !p.startsWith(parse) &&
        !p.endsWith("graft/functions/Style5Scan.scala")).toList
    assert(files.size > 20, s"scanned only ${files.size} files under $root")
    def hits(f: Path): Seq[String] =
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (l, i) if tokenCall.findFirstIn(l).isDefined =>
          s"${root.relativize(f)}:${i + 1}: ${l.trim}"
      }.toSeq
    val found = files.flatMap(hits)
    if (found.nonEmpty)
      fail("project from graft.parse.Style5.parsed / WebLog.parsed instead of:\n" +
        found.mkString("\n"))
  }
}
