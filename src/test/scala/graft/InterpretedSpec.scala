package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions._
import graft.parse.Style5

/** The native expressions on Spark's interpreted path: with
  * whole-stage codegen off and `spark.sql.codegen.factoryMode=NO_CODEGEN`,
  * every projection and predicate evaluates through `eval`, never
  * `doGenCode`. Each case must give the same rows as the default
  * (generated code) path, over the sf0.01 corpora and over each
  * kernel's edge rows. */
class InterpretedSpec extends AnyFunSuite {
  import TestSpark._

  private def interpreted[T](body: => T): T = {
    val keys = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
    val before = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** `build()` collected under both settings: non-empty, the same rows
    * in the same order (each frame sorts on a key), and generated
    * stages (`*(n)` in the final plan) on the default side only. */
  private def sameBothWays(build: () => DataFrame): Seq[Row] = {
    def run(): (Seq[Row], String) = {
      val df = build()
      val rows = df.collect().toSeq
      (rows, df.queryExecution.executedPlan.toString)
    }
    val (generated, generatedPlan) = run()
    val (viaEval, evalPlan) = interpreted(run())
    assert(generatedPlan.contains("*("), s"no generated stage by default:\n$generatedPlan")
    assert(!evalPlan.contains("*("), s"a generated stage on the interpreted side:\n$evalPlan")
    assert(generated.nonEmpty, "nothing to compare")
    assert(viaEval.size == generated.size, s"${viaEval.size} rows interpreted, ${generated.size} generated")
    val diff = generated.zip(viaEval).filter { case (a, b) => a != b }
    assert(diff.isEmpty, s"${diff.size} rows differ, first: ${diff.headOption}")
    generated
  }

  private def quantized(c: Column): Column =
    transform(c, x => floor(x.cast("double") * 1000 + 0.5).cast("long"))

  test("Style5Scan and the style-5 gate and binding: interpreted == generated") {
    // fenced like the render's consumers, so the gate's filter is not
    // pushed into the render (see graft.util.Fence)
    def lines() = graft.util.Fence.barrier(Style5.renderedLines(spark, sf01))
    sameBothWays(() => lines()
      .select(col("event_id"), Style5Scan(col("line")).as("s"),
        Style5.wellFormed(col("line")).as("ok"))
      .orderBy("event_id"))
    val rows = sameBothWays(() => Style5.accepted(lines()).drop("line").orderBy("event_id"))
    assert(rows.size == 10000)
    val hand = Style5ScanSpec.handFrame(spark).unionByName(Style5ScanSpec.byteFrame(spark))
    sameBothWays(() => hand.select(col("line"), Style5Scan(col("line")).as("s"),
      Style5.wellFormed(col("line")).as("ok")).orderBy("line"))
  }

  test("Md5Word, SimhashPacked and MinHashSig: interpreted == generated") {
    sameBothWays { () =>
      val docs = graft.model.Tables.documents(spark, sf01)
      val tokens = array_distinct(split(trim(col("text")), "\\s+"))
      docs.select(col("doc_id"),
        Md5Word(col("text"), "ng_", hi = false).as("lo"),
        Md5Word(col("text"), "", hi = true).as("hi"),
        SimhashPacked(tokens, "sim_").as("simhash"),
        MinHashSig(transform(tokens, t => graft.util.Hashing.phash(t, "ng_") % 4294967296L),
          graft.ext.Dedup.affine, graft.ext.Dedup.MODP).as("minhash"))
        .orderBy("doc_id")
    }
  }

  test("VecOps expressions: interpreted == generated") {
    val planes = graft.ext.Similarity.planes16.map(_.map(_.toLong).toSeq).toSeq
    val cents = (1 to 8).map(c => c.toLong -> (0 until 64).map(d => ((c * 37 + d * 11) % 200 - 100).toLong))
    val qv = col("qv")
    // one projection each: together they outgrow a 64 KB generated method
    Seq(
      LongDot(qv, reverse(qv)),
      PrefixDots(qv, reverse(qv), Seq(8, 16, 32, 64)),
      ScaledDistSq(qv, reverse(qv), col("k") + 1),
      TopCentroids(qv, cents, 3),
      NearestCentroids(qv, cents, 1L, 3),
      HyperplaneBucket(qv, planes),
      WindowMinima(qv, 4)).foreach { op =>
      sameBothWays { () =>
        graft.model.Tables.embeddings(spark, sf01)
          .select(col("vec_id"), col("label").cast("long").as("k"),
            quantized(col("embedding")).as("qv"))
          .select(col("vec_id"), op.as("op"))
          .orderBy("vec_id")
      }
    }
    sameBothWays { () =>
      graft.model.Tables.documents(spark, sf01)
        .select(col("doc_id"),
          ShingleHashes(col("text"), 8, "sh_").as("shingles"),
          PairCount(split(col("text"), " "), "the", "of").as("pairs"))
        .orderBy("doc_id")
    }
  }

  /** `values(i)` on the row `id = i` of `spark.range`: an input that
    * constant folding cannot evaluate at plan time, so the default
    * side runs each kernel through its generated code. */
  private def byId(values: Column*): Column =
    values.zipWithIndex.tail.foldLeft(when(col("id") === 0, values.head)) {
      case (c, (v, i)) => c.when(col("id") === i, v)
    }

  private def longs(xs: java.lang.Long*): Column =
    if (xs.isEmpty) array().cast("array<bigint>")
    else array(xs.map(x => lit(x).cast("bigint")): _*)

  private def strings(xs: String*): Column =
    if (xs.isEmpty) array().cast("array<string>")
    else array(xs.map(x => lit(x).cast("string")): _*)

  private val noLongs = lit(null).cast("array<bigint>")

  /** The values of `op` on rows 0 until `n`, the same both ways, in id order. */
  private def edges(n: Int, op: Column): Seq[Any] =
    sameBothWays(() => spark.range(n).select(col("id"), op.as("op")).orderBy("id"))
      .map(r => r.get(1))

  test("kernel edge rows: interpreted == generated, with FunctionsSpec's values") {
    // LongDot: null input either side, length mismatch, null element, empty
    assert(edges(6, LongDot(
      byId(noLongs, longs(1L), longs(1L, 2L), longs(1L, null), longs(), longs(2L, 3L)),
      byId(longs(1L), noLongs, longs(3L), longs(3L, 4L), longs(), longs(5L, 7L))))
      == Seq(null, null, null, null, 0L, 31L))
    // PrefixDots: null input, cut past the end, null element, mismatch
    assert(edges(5, PrefixDots(
      byId(noLongs, longs(1L), longs(1L, null), longs(1L, 2L), longs(2L, 3L)),
      byId(longs(1L), longs(1L), longs(3L, 4L), longs(3L), longs(5L, 7L)), Seq(1, 2)))
      == Seq(null, null, null, null, Seq(10L, 31L)))
    // WindowMinima (w = 4): null, empty, null element, n < w, n = 1, n >= w
    assert(edges(6, WindowMinima(byId(noLongs, longs(), longs(1L, null, 3L),
      longs(9L, 3L, 7L), longs(5L), longs(9L, 3L, 7L, 8L, 1L)), 4))
      == Seq(null, null, null, Seq(3L), Seq(5L), Seq(1L, 3L)))
    // ScaledDistSq: empty arrays with null and with non-null k, null k
    // over non-empty arrays, mismatch, null input, null element
    val nullK = lit(null).cast("bigint")
    assert(edges(7, ScaledDistSq(
      byId(longs(), longs(), longs(1L), longs(1L, 2L), longs(4L), noLongs, longs(4L, null)),
      byId(longs(), longs(), longs(2L), longs(2L), longs(2L), longs(2L), longs(2L, 1L)),
      byId(nullK, lit(5L), nullK, lit(3L), lit(3L), lit(3L), lit(3L))))
      == Seq(0L, 0L, null, null, 100L, null, null))
    // HyperplaneBucket: null, short, null element -> 0, never null
    assert(edges(4, HyperplaneBucket(
      byId(noLongs, longs(5L), longs(5L, null), longs(5L, -1L)),
      Seq(Seq(1L, -1L), Seq(-1L, 1L)))) == Seq(0L, 0L, 0L, 1L))
    // PairCount: FunctionsSpec's token cases, then a null input and a
    // null element between the pair
    assert(edges(10, PairCount(byId(
      strings("hash", "join"), strings("hash", "join", "hash", "join"),
      strings("hash", "hash", "join"), strings("hash"), strings(),
      strings("join", "hash"), strings("a", "hash", "join", "b", "hash"),
      strings("rehash", "join"), lit(null).cast("array<string>"),
      strings("hash", null, "join")), "hash", "join"))
      == Seq(1L, 2L, 1L, 0L, 0L, 0L, 1L, 0L, null, 0L))
    // MinHashSig: empty and null input both give K nulls
    val hs = Seq(17L, 4294967295L, 0L, 123456789L)
    val sigs = edges(3, MinHashSig(
      byId(longs(), noLongs, longs(hs.map(Long.box): _*)),
      graft.ext.Dedup.affine, graft.ext.Dedup.MODP))
    val kNulls = Seq.fill(graft.ext.Dedup.affine.length)(null)
    assert(sigs == Seq(kNulls, kNulls,
      graft.ext.Dedup.affine.map { case (a, b) => hs.map(h => (a * h + b) % graft.ext.Dedup.MODP).min }))
  }
}
