package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source guard: every native expression in `graft/functions` keeps
  * its algorithm in one static kernel on its companion object, which
  * both `eval` and `doGenCode` call. A Java loop in generated-code
  * text (`for (int` or `while (` inside a `code"""…"""` or
  * `s"""…"""` block) is a second copy of that algorithm, and a test
  * with literal inputs only ever runs the first (constant folding
  * evaluates it through `eval`). */
class KernelGuardSpec extends AnyFunSuite {

  private val block = "(?s)\\b(?:code|s)\"\"\"(.*?)\"\"\"".r
  private val javaLoop = """for \(int|while \(""".r

  test("no Java loop in generated-code text under graft/functions") {
    val dir = Paths.get("src/main/scala/graft/functions")
    assert(Files.isDirectory(dir), s"run from the repo root: ${dir.toAbsolutePath}")
    val files = Files.list(dir).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList.sortBy(_.toString)
    val names = files.map(_.getFileName.toString).toSet
    val expected = Set("Md5Word.scala", "MinHashSig.scala", "SimhashPacked.scala",
      "Style5Scan.scala", "VecOps.scala")
    assert(expected.subsetOf(names), s"scanned ${names.toList.sorted}, missing ${expected -- names}")
    val found = files.flatMap { f =>
      val text = new String(Files.readAllBytes(f), UTF_8)
      block.findAllMatchIn(text)
        .filter(m => javaLoop.findFirstIn(m.group(1)).isDefined)
        .map(m => s"${f.getFileName}:${text.substring(0, m.start).count(_ == '\n') + 1}")
    }
    if (found.nonEmpty)
      fail("generated code with a loop of its own; call the companion's kernel instead:\n" +
        found.mkString("\n"))
  }
}
