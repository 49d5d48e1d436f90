package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source guard: every public `def` / `val` of the ingest entry
  * objects ([[graft.streaming.StreamEtl]], [[graft.sources.LogSources]])
  * has a caller in `src/main/scala` or `perfbench/src` outside its own
  * file. An entry point that only a spec calls is code no job runs;
  * delete it with its spec, or give it a caller. Comment lines do not
  * count as callers. */
class EntryGuardSpec extends AnyFunSuite {

  private val entryFiles = Seq(
    "src/main/scala/graft/streaming/StreamEtl.scala",
    "src/main/scala/graft/sources/LogSources.scala").map(Paths.get(_))

  /** Public entry points kept without a caller until the streaming
    * star sink lands (ROADMAP item 2), which decides their fate. */
  private val allowed = Set(
    "jdbcIngest",    // ROADMAP item 2: its batch-id scrub-then-append recipe
    "parseConfig",   // ROADMAP item 2: StatsMask from rmserver.cfg
    "requireStyle5") // ROADMAP item 2: the style-5 check on that config

  /** An object member (two-space indent) with no access modifier. */
  private val publicMember = """^  (?:lazy )?(?:def|val) (\w+)""".r

  private def code(f: Path): Seq[String] =
    Files.readAllLines(f).asScala.toSeq.filterNot { l =>
      val t = l.trim
      t.startsWith("//") || t.startsWith("/*") || t.startsWith("*")
    }

  test("every public StreamEtl / LogSources entry point has a caller outside its file") {
    val roots = Seq("src/main/scala", "perfbench/src").map(Paths.get(_))
    roots.foreach(r => assert(Files.isDirectory(r), s"run from the repo root: ${r.toAbsolutePath}"))
    val sources = roots.flatMap(r => Files.walk(r).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList)
    assert(sources.size > 20, s"scanned only ${sources.size} files")
    entryFiles.foreach(f => assert(sources.contains(f), s"$f was not scanned"))

    val declared: Map[Path, Seq[String]] = entryFiles.map { f =>
      f -> code(f).flatMap(l => publicMember.findFirstMatchIn(l).map(_.group(1))).distinct
    }.toMap
    declared.foreach { case (f, names) => assert(names.nonEmpty, s"no public member found in $f") }
    val stale = allowed -- declared.values.flatten
    assert(stale.isEmpty, s"allow-listed names no longer declared: ${stale.mkString(", ")}")

    val text: Map[Path, String] = sources.map(f => f -> code(f).mkString("\n")).toMap
    def called(name: String, own: Path): Boolean = {
      val ref = ("(?<![\\w$])" + java.util.regex.Pattern.quote(name) + "(?![\\w$])").r
      sources.exists(f => f != own && ref.findFirstIn(text(f)).isDefined)
    }
    val uncalled = for {
      (f, names) <- declared.toSeq
      n <- names if !allowed(n) && !called(n, f)
    } yield s"$f: $n"
    if (uncalled.nonEmpty)
      fail("public entry points with no caller in src/main/scala or perfbench/src " +
        "(delete them, or give them a caller):\n" + uncalled.mkString("\n"))
  }
}
