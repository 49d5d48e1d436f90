package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.model.Tables

class TablesSpec extends AnyFunSuite {
  import TestSpark._

  /** Jobs launched by `body`, counted under a job group of its own. */
  def jobsIn[T](s: SparkSession)(body: => T): (T, Int) = {
    val group = s"tables-spec-${java.util.UUID.randomUUID()}"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    s.sparkContext.addSparkListener(listener)
    try {
      s.sparkContext.setJobGroup(group, "TablesSpec")
      val out = try body finally s.sparkContext.clearJobGroup()
      ListenerBusDrain(s.sparkContext)
      (out, jobs.get)
    } finally s.sparkContext.removeSparkListener(listener)
  }

  /** Write `df` as ONE parquet file at `path`, the fixtures' layout. */
  def writeFile(df: DataFrame, path: String): Unit = {
    val tmp = Files.createTempDirectory("graft_tables_w").resolve("t")
    df.coalesce(1).write.parquet(tmp.toString)
    val part = Files.list(tmp).filter(_.getFileName.toString.endsWith(".parquet"))
      .findFirst().get()
    Files.move(part, Paths.get(path), StandardCopyOption.REPLACE_EXISTING)
  }

  test("a repeat table read launches no job; a schema-less read does") {
    val path = s"$sf/lineitem.parquet"
    val (_, plain) = jobsIn(spark)(spark.read.parquet(path))
    assert(plain >= 1, "the job counter sees schema inference")
    Tables.lineitem(spark, sf)
    val (df, repeat) = jobsIn(spark)(Tables.lineitem(spark, sf))
    assert(repeat == 0)
    assert(df.schema == spark.read.parquet(path).schema)
    assert(df.count() == spark.read.parquet(path).count())
  }

  test("the memo is per session") {
    val other = spark.newSession()
    Tables.lineitem(spark, sf)
    val (_, first) = jobsIn(other)(Tables.lineitem(other, sf))
    assert(first >= 1)
    val (_, repeat) = jobsIn(other)(Tables.lineitem(other, sf))
    assert(repeat == 0)
  }

  test("a file rewritten with a new schema is re-inferred") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_tables_rw").toString
    writeFile(Seq(1L, 2L, 3L).toDF("a"), s"$dir/t.parquet")
    assert(Tables.table(spark, dir, "t").columns.toSeq == Seq("a"))
    assert(Tables.table(spark, dir, "t").count() == 3)
    writeFile(Seq(("x", 1), ("y", 2)).toDF("b", "c"), s"$dir/t.parquet")
    val df = Tables.table(spark, dir, "t")
    assert(df.schema.map(f => f.name -> f.dataType) ==
      Seq("b" -> StringType, "c" -> IntegerType))
    assert(df.orderBy("c").as[(String, Int)].collect().toSeq == Seq(("x", 1), ("y", 2)))
  }

  test("directories take the plain read") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_tables_dir").toString
    Seq(1L, 2L).toDF("a").write.parquet(s"$dir/d.parquet")
    assert(Tables.table(spark, dir, "d").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    Seq("z").toDF("b").write.mode("overwrite").parquet(s"$dir/d.parquet")
    assert(Tables.table(spark, dir, "d").columns.toSeq == Seq("b"))
  }

  test("all three events.ts flavors read as TimestampType, first and repeat") {
    val micros = 1700000000123456L
    val flavors = Seq(
      "TIMESTAMP(NANOS,true)" -> (micros * 1000 + 789),
      "TIMESTAMP(MICROS,false)" -> micros,
      "TIMESTAMP(MICROS,true)" -> micros)
    flavors.foreach { case (logical, raw) =>
      val dir = Files.createTempDirectory("graft_tables_ts").toString
      val schema = MessageTypeParser.parseMessageType(
        s"message events { required int64 user_id; required int64 ts ($logical); }")
      val w = ExampleParquetWriter.builder(new Path(s"$dir/events.parquet"))
        .withType(schema).withConf(spark.sparkContext.hadoopConfiguration).build()
      try w.write(new SimpleGroupFactory(schema).newGroup()
        .append("user_id", 7L).append("ts", raw))
      finally w.close()
      Seq("first", "repeat").foreach { read =>
        val (df, jobs) = jobsIn(spark)(Tables.events(spark, dir))
        if (read == "repeat") assert(jobs == 0, logical)
        assert(df.schema("ts").dataType == TimestampType, s"$logical $read")
        assert(df.select(unix_micros(col("ts"))).head().getLong(0) == micros,
          s"$logical $read")
      }
    }
  }

  test("a missing path raises Spark's own AnalysisException") {
    val dir = Files.createTempDirectory("graft_tables_missing").toString
    val plain = intercept[AnalysisException](spark.read.parquet(s"$dir/nope.parquet"))
    val ours = intercept[AnalysisException](Tables.table(spark, dir, "nope"))
    assert(ours.getCondition == plain.getCondition)
    assert(ours.getMessage == plain.getMessage)
  }
}
