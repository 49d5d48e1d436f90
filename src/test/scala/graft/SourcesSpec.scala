package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.LogSources

class SourcesSpec extends AnyFunSuite {
  import TestSpark._

  test("S1/S2: rotated-log discovery sorts and keeps the last two") {
    val dir = Files.createTempDirectory("graft_logs").toString
    Seq("rmaccess.log.20021011", "rmaccess.log.20021013", "rmaccess.log.20021012",
        ".rmaccess.hidden", "error.log").foreach { n =>
      Files.writeString(Paths.get(dir, n), s"line-from-$n\n")
    }
    val files = LogSources.logDirFiles(spark, dir, "rmaccess.*")
    assert(files.map(f => f.substring(f.lastIndexOf('/') + 1)) ==
      Seq("rmaccess.log.20021011", "rmaccess.log.20021012", "rmaccess.log.20021013"))
    val lines = LogSources.readRotatedLogs(spark, dir).collect().map(_.getString(0)).sorted
    assert(lines.toSeq == Seq(
      "line-from-rmaccess.log.20021012", "line-from-rmaccess.log.20021013"))
  }

  test("S2: empty directory yields an empty frame, not an error") {
    val dir = Files.createTempDirectory("graft_empty").toString
    assert(LogSources.readRotatedLogs(spark, dir).count() == 0)
  }

  test("S5/F9: config scan and style gate") {
    val cfg = LogSources.parseConfig(
      """<Var LoggingStyle="5"/>
        |<Var StatsMask="3"/>""".stripMargin)
    assert(cfg == LogSources.LogConfig(5, 3))
    LogSources.requireStyle5(cfg)
    val bad = LogSources.parseConfig("""<Var LoggingStyle="2"/><Var StatsMask="1"/>""")
    intercept[IllegalArgumentException](LogSources.requireStyle5(bad))
    intercept[IllegalArgumentException](LogSources.parseConfig("no config here"))
  }
}
