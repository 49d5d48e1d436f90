package graft

import org.apache.spark.BusListeners
import org.scalatest.funsuite.AnyFunSuite
import graft.tools.Measure

class MeasureSpec extends AnyFunSuite {
  import TestSpark._

  val names = Seq("report_metrics", "q5_local_supplier")

  test("Measure.run: one record per query, repeatable counts, listener removed") {
    val first = Measure.run(spark, sf, names)
    // counted after a first call: the session's first query registers
    // its own execution listener bus
    val listeners = BusListeners.count(spark.sparkContext)
    val second = Measure.run(spark, sf, names)
    assert(BusListeners.count(spark.sparkContext) == listeners)
    assert(first.map(_.name) == names)
    first.foreach { r =>
      assert(r.jobs >= 1, r)
      assert(r.stages >= r.jobs, r)
    }
    def counts(rs: Seq[Measure.Record]) = rs.map(r => (r.name, r.jobs, r.stages, r.tasks))
    assert(counts(second) == counts(first))
  }
}
