package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source guard: nothing in `src/main/scala` exists only for a spec.
  *  - Every `def`, `val` or `case class` of a top-level object that
  *    has no access modifier is referenced in `src/main/scala` or
  *    `perfbench/src` somewhere other than on its own declaration
  *    line.
  *  - Every top-level class, object or trait is referenced outside its
  *    own file. Objects that define `def main` are entry points and
  *    exempt.
  *  - Every such `def` or `val` of the ingest entry objects (`StreamEtl`,
  *    `LogSources`) is referenced outside its own file.
  * Specs do not count as callers, nor do comment lines. A declaration
  * that only a spec reaches is code no job runs: delete it with its
  * spec, or give it a caller. */
class EntryGuardSpec extends AnyFunSuite {

  /** Declarations kept without a caller, keyed `Object.member` for an
    * object member and by bare name for a top-level type. */
  private val allowed = Map(
    "LogSources.parseConfig" -> "ROADMAP item 2: StatsMask from rmserver.cfg",
    "LogSources.requireStyle5" -> "ROADMAP item 2: the style-5 check on that config",
    "Staged.invalidate" -> "its documented reset for a corpus rewritten in-session",
    "Hashing.phashHi" -> "the Column twin of phashHiSql that FunctionsSpec pins",
    "OptimizationFenceExec" -> "built by the planner strategy in its own file")

  /** A top-level class, object or trait (column 0). */
  private val topLevel =
    """^(?:(?:final|sealed|abstract|case|implicit) )*(object|class|trait) (\w+)""".r
  /** An object member (two-space indent) with no access modifier. */
  private val publicMember = """^  (?:(?:lazy|final|implicit) )*(?:def|val|case class) (\w+)""".r
  /** The same, without its case classes: the ingest objects' entry points. */
  private val publicDefOrVal = """^  (?:(?:lazy|final|implicit) )*(?:def|val) (\w+)""".r

  /** Lines of `f`, comment lines blanked so line numbers stay put. */
  private def code(f: Path): IndexedSeq[String] =
    Files.readAllLines(f).asScala.toIndexedSeq.map { l =>
      val t = l.trim
      if (t.startsWith("//") || t.startsWith("/*") || t.startsWith("*")) "" else l
    }

  private case class Decl(file: Path, line: Int, key: String, name: String, member: Boolean)

  /** Every `.scala` file under `src/main/scala` and `perfbench/src`. */
  private def sources(): Seq[Path] = {
    val roots = Seq(Paths.get("src/main/scala"), Paths.get("perfbench/src"))
    roots.foreach(r => assert(Files.isDirectory(r), s"run from the repo root: ${r.toAbsolutePath}"))
    roots.flatMap(r => Files.walk(r).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList)
  }

  test("every public StreamEtl / LogSources entry point has a caller outside its file") {
    // the ingest entry objects are held to the stricter rule: a caller in another file
    val entryFiles = Seq(
      "src/main/scala/graft/streaming/StreamEtl.scala" -> "StreamEtl",
      "src/main/scala/graft/sources/LogSources.scala" -> "LogSources")
      .map { case (f, o) => Paths.get(f) -> o }
    val all = sources()
    entryFiles.foreach { case (f, _) => assert(all.contains(f), s"$f was not scanned") }
    val text: Map[Path, String] = all.map(f => f -> code(f).mkString("\n")).toMap
    val declared = entryFiles.map { case (f, o) =>
      val names = code(f).flatMap(l => publicDefOrVal.findFirstMatchIn(l).map(_.group(1))).distinct
      assert(names.nonEmpty, s"no public member found in $f")
      (f, o, names)
    }
    def called(name: String, own: Path): Boolean = {
      val ref = ("\\b" + java.util.regex.Pattern.quote(name) + "\\b").r
      all.exists(f => f != own && ref.findFirstIn(text(f)).isDefined)
    }
    val uncalled = for {
      (f, o, names) <- declared
      n <- names if !allowed.contains(s"$o.$n") && !called(n, f)
    } yield s"$f: $n"
    if (uncalled.nonEmpty)
      fail("public entry points with no caller outside their file in src/main/scala or " +
        "perfbench/src (delete them, or give them a caller):\n" + uncalled.mkString("\n"))
  }

  test("every declaration in src/main/scala has a caller in src/main/scala or perfbench/src") {
    val mainRoot = Paths.get("src/main/scala")
    val all = sources()
    val mains = all.filter(_.startsWith(mainRoot))
    assert(mains.size > 40, s"scanned only ${mains.size} files under $mainRoot")
    val text: Map[Path, IndexedSeq[String]] = all.map(f => f -> code(f)).toMap

    val decls: Seq[Decl] = mains.flatMap { f =>
      val lines = text(f)
      val tops = lines.indices.flatMap(i =>
        topLevel.findFirstMatchIn(lines(i)).map(m => (i, m.group(1), m.group(2))))
      def owner(i: Int) = tops.takeWhile(_._1 < i).lastOption
      val entryPoints = lines.indices.filter(lines(_).startsWith("  def main("))
        .flatMap(owner(_)).map(_._3).toSet
      val types = tops.collect { case (i, _, n) if !entryPoints(n) =>
        Decl(f, i, n, n, member = false) }
      val members = for {
        i <- lines.indices
        n <- publicMember.findFirstMatchIn(lines(i)).map(_.group(1)).toSeq if n != "main"
        (_, "object", o) <- owner(i).toSeq
      } yield Decl(f, i, s"$o.$n", n, member = true)
      types ++ members
    }
    assert(decls.count(_.member) > 400, s"found only ${decls.count(_.member)} object members")
    assert(decls.count(!_.member) > 40, s"found only ${decls.count(!_.member)} top-level types")

    // a reference is a whole-word occurrence of the declared name
    def words(s: String): Map[String, Int] =
      """\w+""".r.findAllIn(s).toSeq.groupMapReduce(identity)(_ => 1)(_ + _)
    val fileWords = text.map { case (f, lines) => f -> words(lines.mkString("\n")) }
    def referenced(d: Decl): Boolean = fileWords.exists { case (f, w) =>
      val n = w.getOrElse(d.name, 0)
      if (f != d.file) n > 0
      else d.member && n > words(text(f)(d.line)).getOrElse(d.name, 0)
    }
    val uncalled = decls.filterNot(referenced)
    val declaredKeys = decls.map(_.key).toSet
    val gone = allowed.keySet -- declaredKeys
    assert(gone.isEmpty, s"allow-listed names no longer declared: ${gone.mkString(", ")}")
    val called = allowed.keySet -- uncalled.map(_.key)
    assert(called.isEmpty,
      s"allow-listed names that now have a caller (drop them from the list): ${called.mkString(", ")}")
    val bad = uncalled.filterNot(d => allowed.contains(d.key))
    if (bad.nonEmpty)
      fail("declarations with no caller in src/main/scala or perfbench/src " +
        "(delete them, or give them a caller):\n" +
        bad.map(d => s"${d.file}:${d.line + 1}: ${d.key}").mkString("\n"))
  }
}
