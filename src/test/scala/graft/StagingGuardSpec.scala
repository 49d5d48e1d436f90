package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source guard: how an intermediate is materialized is decided in
  * `graft/util/` only — [[graft.util.Fence.lineage]] owns the lineage
  * cut and [[graft.util.Staged.once]] owns the persisted stage. A raw
  * `.localCheckpoint(` or a `StorageLevel.` anywhere else in
  * `src/main/scala` bypasses that one owner. */
class StagingGuardSpec extends AnyFunSuite {

  test("no localCheckpoint or StorageLevel outside graft/util") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: ${root.toAbsolutePath}")
    val util = root.resolve("graft/util")
    val files = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && !p.startsWith(util)).toList
    assert(files.size > 20, s"scanned only ${files.size} files under $root")
    def hits(f: Path): Seq[String] =
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (l, i) if l.contains(".localCheckpoint(") || l.contains("StorageLevel.") =>
          s"${root.relativize(f)}:${i + 1}: ${l.trim}"
      }.toSeq
    val found = files.flatMap(hits)
    if (found.nonEmpty)
      fail("use graft.util.Fence.lineage / graft.util.Staged.once instead of:\n" +
        found.mkString("\n"))
  }
}
