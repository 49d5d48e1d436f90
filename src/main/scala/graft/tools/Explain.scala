package graft.tools

/** Dev tool: print the formatted physical plan of one or more
  * contract queries. Usage:
  * sbt "runMain graft.tools.Explain parse_stats [more...]" */
object Explain {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session.local()
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val names = if (args.nonEmpty) args.toSeq else graft.SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      println(s"========== $n ==========")
      graft.SparkEntry.queries(n)(spark, dir).explain("formatted")
    }
    spark.stop()
  }
}
