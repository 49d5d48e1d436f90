package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev tool: synthesize an sf1-scale test directory by replicating
  * the sf0.1 tables M× (default 10×) with key offsets that preserve
  * every invariant the queries rely on:
  *
  *  - orders/lineitem: orderkey += rep·150,000 (FKs to the unscaled
  *    dims — customer/supplier/part/nation/region — are reused, so
  *    joins fan out realistically: same dims, 10× facts);
  *  - events: event_id += rep·106,700 (divisible by 97, so the
  *    `event_id % 97` as-of rate density is preserved per replica);
  *    `ts` is re-written as its raw nanos LONG so Tables.events'
  *    nanos rebuild keeps working on the generated dir;
  *  - documents: doc_id += rep·5,005 (divisible by 5 → the %5 twin
  *    injection scales; max id 50k stays below the +100,000 twin
  *    offset); replica tokens are prefixed rN_ so replicas are
  *    mutually DISSIMILAR — true near-dup count grows M×, not M²;
  *  - embeddings: vec_id += rep·2,002 (divisible by 7 → %7 twins
  *    scale; only replica 0 keeps vec_id < 8, so the kNN query set
  *    stays fixed while the corpus grows); replica vectors get
  *    hash-driven per-dim sign flips, making replicas mutually
  *    near-orthogonal (no M² explosion of true near-dups).
  *
  * Usage: sbt "runMain graft.tools.Sf1Gen [mult] [inDir] [outDir]"
  * then:  SPARK_GRAFT_SF_DIR=/tmp/sf1 sbt "runMain graft.Bench"
  */
object Sf1Gen {
  def main(args: Array[String]): Unit = {
    val mult = args.headOption.map(_.toInt).getOrElse(10)
    val inDir = args.drop(1).headOption.getOrElse("/root/testdata/sf0.1")
    val outDir = args.drop(2).headOption.getOrElse("/tmp/sf1")
    val spark = graft.Session.local()
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    def reps(df: DataFrame): DataFrame =
      df.crossJoin(spark.range(mult).toDF("rep"))

    def write(df: DataFrame, name: String): Unit = {
      df.repartition(spark.sparkContext.defaultParallelism)
        .write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      println(s"[sf1gen] $name: ${spark.read.parquet(s"$outDir/$name.parquet").count()} rows")
    }

    // unscaled dims, copied through
    for (t <- Seq("region", "nation", "customer", "supplier", "part"))
      write(spark.read.parquet(s"$inDir/$t.parquet"), t)

    val orders = spark.read.parquet(s"$inDir/orders.parquet")
    write(reps(orders).withColumn("o_orderkey",
      col("o_orderkey") + col("rep") * 150000L).drop("rep"), "orders")

    val lineitem = spark.read.parquet(s"$inDir/lineitem.parquet")
    write(reps(lineitem).withColumn("l_orderkey",
      col("l_orderkey") + col("rep") * 150000L).drop("rep"), "lineitem")

    // Tables.events handles both the nanos-LONG fixture layout and
    // previously-generated micros dirs, so re-replication composes;
    // the written column is a micros TIMESTAMP DuckDB can cast
    val events = graft.model.Tables.events(spark, inDir)
    write(reps(events)
      .withColumn("event_id", col("event_id") + col("rep") * 106700L)
      .drop("rep"), "events")

    val documents = spark.read.parquet(s"$inDir/documents.parquet")
    write(reps(documents)
      .withColumn("doc_id", col("doc_id") + col("rep") * 5005L)
      .withColumn("text",
        when(col("rep") === 0, col("text"))
          .otherwise(regexp_replace(col("text"), lit("(\\S+)"),
            concat(lit("r"), col("rep").cast("string"), lit("_$1")))))
      .drop("rep"), "documents")

    val embeddings = spark.read.parquet(s"$inDir/embeddings.parquet")
    write(reps(embeddings)
      .withColumn("vec_id", col("vec_id") + col("rep") * 2002L)
      .withColumn("embedding",
        transform(col("embedding"), (x, i) =>
          x * when(col("rep") === 0, lit(1.0f))
            .otherwise(when(pmod(hash(col("rep"), i), lit(2)) === 0, lit(1.0f))
              .otherwise(lit(-1.0f)))))
      .drop("rep"), "embeddings")

    spark.stop()
  }
}
