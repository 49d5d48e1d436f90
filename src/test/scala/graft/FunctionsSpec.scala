package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ext.Dedup
import graft.functions.MinHashSig

/** Native-expression guards: the fused [[MinHashSig]] must be
  * bit-identical to the composed transform+array_min form it
  * replaced (the oracle SQL still IS that composed form), stay
  * inside whole-stage codegen, and honor the empty/null edge
  * semantics of the original. */
class FunctionsSpec extends AnyFunSuite {
  import TestSpark._

  private def composed(c: org.apache.spark.sql.Column) =
    array(Dedup.affine.map { case (a, b) =>
      array_min(transform(c, h => (lit(a) * h + lit(b)) % Dedup.MODP))
    }: _*)

  test("MinHashSig equals the composed transform+array_min form on real data") {
    val docs = graft.model.Tables.documents(spark, sf)
      .select(col("doc_id"), array_distinct(transform(
        split(col("text"), "\\s+"),
        t => graft.util.Hashing.phash(t, "ng_") % 4294967296L)).as("hs"))
    val both = docs.select(col("doc_id"),
      MinHashSig(col("hs"), Dedup.affine, Dedup.MODP).as("fused"),
      composed(col("hs")).as("ref"))
    assert(both.filter(not(col("fused") <=> col("ref"))).count() == 0,
      "fused minhash diverges from the composed form")
  }

  test("MinHashSig yields K nulls on BOTH empty and null input (composed-form parity)") {
    // the composed form gives array(NULL×K) for null hs too:
    // transform(NULL)=NULL, array_min(NULL)=NULL, array(NULL..) is a
    // NON-null array — a null text row must not diverge from the
    // oracle (the sf1-replica class of red)
    val df = spark.range(1).select(
      MinHashSig(array().cast("array<long>"), Dedup.affine, Dedup.MODP).as("e"),
      MinHashSig(lit(null).cast("array<long>"), Dedup.affine, Dedup.MODP).as("n"),
      composed(lit(null).cast("array<long>")).as("ref"))
    val row = df.head()
    val e = row.getSeq[Any](0)
    assert(e.length == Dedup.affine.length && e.forall(_ == null),
      "empty input must give K null minima (array_min-of-empty semantics)")
    assert(!row.isNullAt(1), "null input must give the K-null array, not NULL")
    assert(row.getSeq[Any](1) == row.getSeq[Any](2),
      "null-input result diverged from the composed form")
  }

  test("MinHashSig interpreted eval matches codegen") {
    // eval is the non-codegen fallback path (used by e.g. constant
    // folding); pin it against the codegen'd column result, whose
    // input is per-row (a literal input would be folded through eval)
    val hs = Array(17L, 4294967295L, 0L, 123456789L)
    val expr = MinHashSig(
      org.apache.spark.sql.catalyst.expressions.Literal.create(hs,
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType)),
      Dedup.affine.map(_._1), Dedup.affine.map(_._2), Dedup.MODP)
    val interp = expr.eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toLongArray.toSeq
    val planDf = spark.range(1)
      .select(MinHashSig(when(col("id") === 0, lit(hs)), Dedup.affine, Dedup.MODP).as("sig"))
    val viaPlan = planDf.head().getSeq[Long](0)
    val projLine = planDf.queryExecution.executedPlan.toString.linesIterator
      .find(_.contains("minhash_sig")).getOrElse("")
    assert(projLine.contains("*("), s"plan side ran no generated code: $projLine")
    assert(interp == viaPlan.toSeq)
    // and against the definition itself
    val want = Dedup.affine.map { case (a, b) => hs.map(h => (a * h + b) % Dedup.MODP).min }
    assert(interp == want)
  }

  private def composedDot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    aggregate(zip_with(a, b, _ * _), lit(0L), _ + _)

  test("LongDot equals the composed zip_with+aggregate fold on real embeddings") {
    val e = graft.model.Tables.embeddings(spark, sf)
      .select(col("vec_id"), transform(col("embedding"),
        x => floor(x.cast("double") * 1000 + 0.5).cast("long")).as("qv"))
    val paired = e.as("a").crossJoin(e.as("b").limit(3))
      .select(
        graft.functions.LongDot(col("a.qv"), col("b.qv")).as("fused"),
        composedDot(col("a.qv"), col("b.qv")).as("ref"))
    assert(paired.filter(not(col("fused") <=> col("ref"))).count() == 0,
      "fused dot diverges from the composed form")
  }

  test("LongDot null parity: null input, length mismatch, null element, empty") {
    val df = spark.range(1).select(
      graft.functions.LongDot(lit(null).cast("array<long>"),
        array(lit(1L))).as("n1"),
      graft.functions.LongDot(array(lit(1L), lit(2L)),
        array(lit(3L))).as("mismatch"),
      graft.functions.LongDot(array(lit(1L), lit(null).cast("long")),
        array(lit(3L), lit(4L))).as("nullElem"),
      graft.functions.LongDot(array().cast("array<long>"),
        array().cast("array<long>")).as("empty"),
      composedDot(array(lit(1L), lit(2L)), array(lit(3L))).as("refMismatch"),
      composedDot(array(lit(1L), lit(null).cast("long")),
        array(lit(3L), lit(4L))).as("refNullElem"))
    val r = df.head()
    assert(r.isNullAt(0), "null input must yield null")
    assert(r.isNullAt(1) && r.isNullAt(4), "length mismatch must yield null in both forms")
    assert(r.isNullAt(2) && r.isNullAt(5), "null element must yield null in both forms")
    assert(r.getLong(3) == 0L, "empty arrays must fold to the initial 0")
  }

  test("PrefixDots equals per-cut slice+LongDot on real embeddings, incl. edges") {
    val cuts = Seq(8, 16, 32, 64)
    val e = graft.model.Tables.embeddings(spark, sf)
      .select(col("vec_id"), transform(col("embedding"),
        x => floor(x.cast("double") * 1000 + 0.5).cast("long")).as("qv"))
    val paired = e.as("a").crossJoin(e.as("b").limit(3))
      .select(
        graft.functions.PrefixDots(col("a.qv"), col("b.qv"), cuts).as("fused"),
        array(cuts.map(d => graft.functions.LongDot(
          slice(col("a.qv"), 1, d), slice(col("b.qv"), 1, d))): _*).as("ref"))
    assert(paired.filter(not(col("fused") <=> col("ref"))).count() == 0,
      "fused prefix dots diverge from the sliced form")
    // edges: null input, cut past the end, null element -> null
    val r = spark.range(1).select(
      graft.functions.PrefixDots(lit(null).cast("array<long>"),
        array(lit(1L)), Seq(1)).as("n1"),
      graft.functions.PrefixDots(array(lit(1L)), array(lit(1L)), Seq(2)).as("oob"),
      graft.functions.PrefixDots(array(lit(1L), lit(null).cast("long")),
        array(lit(3L), lit(4L)), Seq(2)).as("nullElem"),
      graft.functions.PrefixDots(array(lit(2L), lit(3L)),
        array(lit(5L), lit(7L)), Seq(1, 2)).as("ok")).head()
    assert(r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2))
    assert(r.getSeq[Long](3) == Seq(10L, 31L))
    // plan-build contract: non-increasing cuts are rejected eagerly
    intercept[IllegalArgumentException] {
      graft.functions.PrefixDots(array(lit(1L)), array(lit(1L)), Seq(2, 2))
    }
  }

  private def ascii(t: String) = t.getBytes("US-ASCII").map("%02X".format(_)).mkString

  test("ShingleHashes equals the composed transform+phash form, incl. UTF-8 + edges") {
    val docs = graft.model.Tables.documents(spark, sf).limit(200)
      .select(col("text"))
      .unionAll(spark.range(1).select(lit("tiny").as("text")))       // len < n
      .unionAll(spark.range(1).select(lit("héllо wörld ünïcode £10 ≥é").as("text")))
      // invalid UTF-8, which Spark counts one character per stray or
      // invalid lead byte: a continuation byte, an overlong lead, a
      // lead past F4
      .unionAll(Seq("6180626364", "C06162", "F86162636465").map { hex =>
        spark.range(1).select(
          unhex(lit(ascii("bad bytes ") + hex + ascii(" then words"))).cast("string").as("text"))
      }.reduce(_ unionAll _))
    def composed(salt: String) = transform(
      sequence(lit(1), greatest(length(col("text")) - 7, lit(1))),
      i => graft.util.Hashing.phash(col("text").substr(i, lit(8)), salt))
    val checked = docs.select(
      graft.functions.ShingleHashes(col("text"), 8).as("fused"),
      composed("").as("ref"),
      graft.functions.ShingleHashes(col("text"), 8, "wn_").as("fusedS"),
      composed("wn_").as("refS"))
    assert(checked.filter(not(col("fused") <=> col("ref")) ||
      not(col("fusedS") <=> col("refS"))).count() == 0,
      "fused shingle hashes diverge from the composed form")
    // a 3-byte lead cut off at the end: Spark's substr copies all the
    // bytes the lead promises, past the end of the value, so the
    // composed form's last shingle hashes bytes that are not in the
    // text; the fused one stops at the text's end
    val cut = spark.range(1)
      .select(unhex(lit(ascii("bad bytes ") + "E282")).cast("string").as("text"))
      .select(graft.functions.ShingleHashes(col("text"), 8).as("fused"), composed("").as("ref"),
        graft.util.Hashing.phash(unhex(lit(ascii(" bytes ") + "E282")).cast("string"), "")
          .as("tail")).head()
    val (fused, ref) = (cut.getSeq[Long](0), cut.getSeq[Long](1))
    assert(fused.size == ref.size && fused.init == ref.init && fused.last == cut.getLong(2),
      s"cut-off lead: fused $fused, composed $ref")
    // null text: the fused form propagates NULL (the documented
    // contract); the composed form instead yields [null] because
    // `greatest` IGNORES its null operand — a corpus with null texts
    // must filter them before either form
    val nr = spark.range(1).select(
      graft.functions.ShingleHashes(lit(null).cast("string"), 8).as("f")).head()
    assert(nr.isNullAt(0))
  }

  test("TopCentroids/NearestCentroids match the window order incl. exact ties") {
    // cents 10 and 20 are IDENTICAL: the (score, cid) tie must break
    // to the LOWER cid, exactly like the row_number window ordering
    val cents = Seq((20L, Seq(1L, 0L)), (10L, Seq(1L, 0L)), (30L, Seq(0L, 1L)))
    val df = spark.range(1).select(array(lit(1L), lit(0L)).as("qv"))
    val top = df.select(
      graft.functions.TopCentroids(col("qv"), cents, 2).as("t"),
      graft.functions.NearestCentroids(col("qv"), cents, 1L, 2).as("n")).head()
    assert(top.getSeq[Long](0) == Seq(10L, 20L), "cosine tie must break to lower cid")
    assert(top.getSeq[Long](1) == Seq(10L, 20L), "distance tie must break to lower cid")
    // and against the full window form on real data: same top-1 cell
    // for every vector (the oracle pins the whole pipeline; this pins
    // the expression in isolation)
    val e = graft.model.Tables.embeddings(spark, sf)
      .select(col("vec_id"), transform(col("embedding"),
        x => floor(x.cast("double") * 1000 + 0.5).cast("long")).as("qv"))
    val centRows = e.filter(col("vec_id") % 37 === 1).limit(40).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1))).sortBy(_._1).toSeq
    val fused = e.select(col("vec_id"),
      element_at(graft.functions.NearestCentroids(col("qv"), centRows, 1L, 1), 1)
        .as("cell")).collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val ref = e.collect().map { r =>
      val q = r.getSeq[Long](1)
      val best = centRows.map { case (cid, cv) =>
        (q.zip(cv).map { case (a, b) => val d = a - b; d * d }.sum, cid)
      }.min
      (r.getLong(0), best._2)
    }.toMap
    assert(fused == ref, "fused nearest-centroid diverges from the exhaustive form")
  }

  test("ScaledDistSq equals the composed zip_with fold, incl. null-k/empty edges") {
    def composedDist(x: org.apache.spark.sql.Column, s: org.apache.spark.sql.Column,
        k: org.apache.spark.sql.Column) =
      aggregate(zip_with(x, s, (a, b) => (a * k - b) * (a * k - b)), lit(0L), _ + _)
    val e = graft.model.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("label").cast("long").as("n"),
        transform(col("embedding"),
          x => floor(x.cast("double") * 1000 + 0.5).cast("long")).as("qv"))
    val s = e.select(transform(col("qv"), x => x * 7 + 1).as("sv")).limit(2)
    val both = e.crossJoin(s).select(
      graft.functions.ScaledDistSq(col("qv"), col("sv"), col("n") + 1).as("fused"),
      composedDist(col("qv"), col("sv"), col("n") + 1).as("ref"))
    assert(both.filter(not(col("fused") <=> col("ref"))).count() == 0,
      "fused distance diverges from the composed form")
    val edges = spark.range(1).select(
      graft.functions.ScaledDistSq(array().cast("array<long>"),
        array().cast("array<long>"), lit(null).cast("long")).as("emptyNullK"),
      graft.functions.ScaledDistSq(array(lit(1L)), array(lit(2L)),
        lit(null).cast("long")).as("nullK"),
      graft.functions.ScaledDistSq(array(lit(1L), lit(2L)), array(lit(2L)),
        lit(3L)).as("mismatch"),
      graft.functions.ScaledDistSq(array(lit(4L)), array(lit(2L)), lit(3L)).as("ok"))
    val r = edges.head()
    assert(r.getLong(0) == 0L, "empty arrays must fold to 0 even with null k")
    assert(r.isNullAt(1), "null k over non-empty arrays must yield null")
    assert(r.isNullAt(2), "length mismatch must yield null")
    assert(r.getLong(3) == 100L) // (4·3 − 2)² = 100
  }

  test("HyperplaneBucket equals the composed per-plane when-sum on real embeddings") {
    val planes = graft.ext.Similarity.planes16
    val composedBucket = planes.indices.map { p =>
      val w = array(planes(p).map(lit(_)): _*).cast("array<long>")
      when(composedDot(w, col("qv")) > 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
    val e = graft.model.Tables.embeddings(spark, sf)
      .select(transform(col("embedding"),
        x => floor(x.cast("double") * 1000 + 0.5).cast("long")).as("qv"))
    val both = e.select(
      graft.functions.HyperplaneBucket(col("qv"),
        planes.map(_.map(_.toLong).toSeq).toSeq).as("fused"),
      composedBucket.as("ref"))
    assert(both.filter(not(col("fused") <=> col("ref"))).count() == 0,
      "fused bucket diverges from the composed form")
  }

  test("HyperplaneBucket malformed vectors bucket to 0, never null (composed parity)") {
    val planes = Seq(Seq(1L, -1L), Seq(-1L, 1L))
    val df = spark.range(1).select(
      graft.functions.HyperplaneBucket(lit(null).cast("array<long>"), planes).as("n"),
      graft.functions.HyperplaneBucket(array(lit(5L)), planes).as("short"),
      graft.functions.HyperplaneBucket(array(lit(5L), lit(null).cast("long")), planes).as("ne"),
      graft.functions.HyperplaneBucket(array(lit(5L), lit(-1L)), planes).as("ok"))
    val r = df.head()
    assert(!r.isNullAt(0) && r.getLong(0) == 0L)
    assert(r.getLong(1) == 0L && r.getLong(2) == 0L)
    // plane0: 5·1 + (−1)(−1) = 6 > 0 → bit0; plane1: −5·1 + 1·(−1) = −6 → no bit
    assert(r.getLong(3) == 1L)
  }

  test("WindowMinima equals the composed slice+array_min winnowing as a set") {
    val w = 4
    val composedWin = {
      val hs = col("hs")
      array_sort(array_distinct(
        when(size(hs) >= w,
          transform(sequence(lit(1), size(hs) - (w - 1)),
            i => array_min(slice(hs, i, lit(w)))))
          .otherwise(array(array_min(hs)))))
    }
    val d = graft.model.Tables.documents(spark, sf)
      .select(transform(sequence(lit(1), greatest(length(col("text")) - 7, lit(1))),
        i => graft.util.Hashing.phash(col("text").substr(i, lit(8)), "wn_")).as("hs"))
    val both = d.select(
      graft.functions.WindowMinima(col("hs"), w).as("fused"),
      composedWin.as("ref"))
    assert(both.filter(not(col("fused") <=> col("ref"))).count() == 0,
      "fused winnowing diverges from the composed form")
    // edges: n < w -> single global min; singleton array; and one
    // hand-computed n >= w case: windows [9,3,7,8] -> 3, [3,7,8,1] -> 1
    val r = spark.range(1).select(
      graft.functions.WindowMinima(array(lit(9L), lit(3L), lit(7L)), 4).as("short"),
      graft.functions.WindowMinima(array(lit(5L)), 4).as("one"),
      graft.functions.WindowMinima(
        array(lit(9L), lit(3L), lit(7L), lit(8L), lit(1L)), 4).as("two")).head()
    assert(r.getSeq[Long](0) == Seq(3L))
    assert(r.getSeq[Long](1) == Seq(5L))
    assert(r.getSeq[Long](2) == Seq(1L, 3L))
  }

  test("LongDot and HyperplaneBucket stay inside whole-stage codegen") {
    val df = spark.range(100)
      .select(array(col("id"), col("id") * 3 - 50).as("v"))
      .select(
        graft.functions.LongDot(col("v"), col("v")).as("d"),
        graft.functions.HyperplaneBucket(col("v"),
          Seq(Seq(1L, -1L), Seq(-1L, 1L))).as("b"))
    assert(df.count() == 100)
    val p = df.queryExecution.executedPlan.toString
    val line = p.linesIterator.find(l =>
      l.contains("long_dot") || l.contains("hyperplane_bucket")).getOrElse("")
    assert(line.contains("*("),
      s"native vec ops fell out of whole-stage codegen: $line")
  }

  test("MinHashSig supports whole-stage codegen (unlike the HOF form it replaced)") {
    // the composed transform+array_min form is CodegenFallback (all
    // higher-order functions are), so it could NEVER join a codegen
    // span. Over a codegen-supported child, the fused expression must
    // keep the projection inside WholeStageCodegen ('*(n)' markers).
    val df = spark.range(100)
      .select(array(col("id"), col("id") * 7 + 3).as("hs"))
      .select(MinHashSig(col("hs"), Dedup.affine, Dedup.MODP).as("sig"))
    assert(df.count() == 100)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("minhash_sig"), "fused expression absent from the plan")
    val projLine = p.linesIterator.find(_.contains("minhash_sig")).getOrElse("")
    assert(projLine.contains("*("),
      s"projection fell out of whole-stage codegen: $projLine")
  }

  test("PairCount matches the composed sequence/element_at form on edge cases") {
    import org.apache.spark.sql.functions._
    import graft.functions.PairCount
    val cases = Seq(
      Seq("hash", "join"),                       // exact pair
      Seq("hash", "join", "hash", "join"),       // two pairs
      Seq("hash", "hash", "join"),               // overlap prefix
      Seq("hash"),                               // single token
      Seq.empty[String],                         // empty
      Seq("join", "hash"),                       // wrong order
      Seq("a", "hash", "join", "b", "hash"),     // embedded
      Seq("rehash", "join"))                     // no substring match
    val df = spark.createDataFrame(
      cases.zipWithIndex.map { case (t, i) => (i, t) })
      .toDF("id", "t")
    val got = df.select(col("id"),
        PairCount(col("t"), "hash", "join").as("native"),
        when(size(col("t")) >= 2,
          size(filter(sequence(lit(1), size(col("t")) - 1),
            p => element_at(col("t"), p) === "hash" &&
                 element_at(col("t"), p + 1) === "join")))
          .otherwise(0).cast("long").as("composed"))
      .collect()
    got.foreach { r =>
      assert(r.getLong(1) == r.getLong(2),
        s"case ${r.getInt(0)}: native ${r.getLong(1)} != composed ${r.getLong(2)}")
    }
    // null input → null, null element never matches
    val nulls = spark.sql(
      "SELECT CAST(null AS ARRAY<STRING>) AS t " +
      "UNION ALL SELECT array('hash', CAST(null AS STRING), 'join')")
    val nv = nulls.select(PairCount(col("t"), "hash", "join")).collect()
    assert(nv.exists(_.isNullAt(0)) && nv.exists(r => !r.isNullAt(0) && r.getLong(0) == 0))
    // and the native form stays inside whole-stage codegen (a range
    // source — the local relation above constant-folds the projection
    // away, which itself exercises eval())
    val rdf = spark.range(50)
      .select(array(concat(lit("w"), col("id")), lit("hash"), lit("join")).as("t"))
      .select(PairCount(col("t"), "hash", "join").as("n"))
    assert(rdf.agg(org.apache.spark.sql.functions.sum("n")).head().getLong(0) == 50L)
    val p = rdf.queryExecution.executedPlan.toString
    assert(p.contains("pair_count"), "fused expression absent from the plan")
    val projLine2 = p.linesIterator.find(_.contains("pair_count")).getOrElse("")
    assert(projLine2.contains("*("),
      s"projection fell out of whole-stage codegen: $projLine2")
  }

  test("SimhashPacked equals the exploded vote-aggregate construction") {
    // the aggregate construction IS the oracle twin's sims CTE: per
    // token h1/h2 = the two 60-bit md5 words, c_j = count of set bit
    // j, bit j of the simhash set iff 2*c_j > token count
    import org.apache.spark.sql.functions._
    val docs = spark.range(300)
      .select(col("id").as("doc_id"),
        concat_ws(" ", (0 to 6).map(k =>
          concat(lit(s"w$k"), (col("id") * (k + 3) % 11).cast("string"))): _*)
          .as("text"))
    val ts = array_distinct(split(trim(col("text")), "\\s+"))
    val tok = docs.select(col("doc_id"), explode(ts).as("t"))
      .withColumn("h1", graft.util.Hashing.phash(col("t"), "sim_"))
      .withColumn("h2", graft.util.Hashing.phashHi(col("t"), "sim_"))
    def lane(j: Int) = {
      val h = if (j < 32) col("h1") else col("h2")
      shiftright(h, j % 32).bitwiseAND(lit(1L))
    }
    val agg = tok.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("tc"),
        (0 until 64).map(j => sum(lane(j)).as(s"c$j")): _*)
      .select(col("doc_id"),
        (0 until 64).map(j =>
          when(col(s"c$j") * 2 > col("tc"), lit(1L << j)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
    val packed = docs.select(col("doc_id"),
      graft.functions.SimhashPacked(ts, "sim_").as("simhash"))
    assert(agg.as("a").join(packed.as("b"), Seq("doc_id"), "full")
      .filter(not(col("a.simhash") <=> col("b.simhash"))).count() == 0,
      "SimhashPacked diverges from the vote-aggregate construction")
    // null element: counts toward tc, votes on no bit (like the
    // aggregate, where null lanes vanish in sum but count(1) counts)
    val withNull = spark.range(1).select(
      graft.functions.SimhashPacked(
        array(lit("aa"), lit(null).cast("string"), lit("bb")), "sim_").as("s"),
      graft.functions.SimhashPacked(
        array(lit("aa"), lit("bb")), "sim_").as("s2"))
    val r = withNull.head()
    // 2 votes of 3 must still clear 2*c > 3 wherever aa and bb agree;
    // sanity: the two differ somewhere (tc changed the majority rule)
    assert(r.getLong(0) != 0L && r.getLong(1) != 0L)
    // interpreted path (inside a HOF lambda) must agree with codegen
    val hof = docs.select(col("doc_id"),
      transform(array(ts), a => graft.functions.SimhashPacked(a, "sim_"))
        .getItem(0).as("simhash"))
    assert(packed.as("a").join(hof.as("b"), Seq("doc_id"), "full")
      .filter(not(col("a.simhash") <=> col("b.simhash"))).count() == 0,
      "interpreted SimhashPacked diverges from codegen")
  }

  test("Md5Word equals the composed conv(substring(md5)) form, both words") {
    // the composed form IS the oracle SQL definition (Hashing.phashSql)
    def oldLo(c: org.apache.spark.sql.Column, salt: String) =
      conv(substring(md5(concat(lit(salt), c)), 1, 15), 16, 10).cast("long")
    def oldHi(c: org.apache.spark.sql.Column, salt: String) =
      conv(substring(md5(concat(lit(salt), c)), 17, 15), 16, 10).cast("long")
    val rows = spark.range(2000)
      .select(concat(lit("tok_"), col("id").cast("string")).as("s"))
      .unionAll(spark.range(1).select(lit("").as("s")))
      .unionAll(spark.range(1).select(lit("\u00e9\u4e2d\ud83d\ude00 multi byte").as("s")))
      .unionAll(spark.range(1).select(lit(null).cast("string").as("s")))
    val both = rows.select(
      graft.functions.Md5Word(col("s"), "ng_", hi = false).as("nlo"),
      oldLo(col("s"), "ng_").as("olo"),
      graft.functions.Md5Word(col("s"), "", hi = true).as("nhi"),
      oldHi(col("s"), "").as("ohi"))
    assert(both.filter(not(col("nlo") <=> col("olo")) ||
      not(col("nhi") <=> col("ohi"))).count() == 0,
      "Md5Word diverges from the composed conv(md5) form")
    // interpreted path (inside a HOF lambda) must agree too
    val hof = rows.filter(col("s").isNotNull)
      .select(transform(array(col("s")),
        x => graft.functions.Md5Word(x, "ng_", hi = false)).getItem(0).as("n"),
        oldLo(col("s"), "ng_").as("o"))
    assert(hof.filter(not(col("n") <=> col("o"))).count() == 0,
      "interpreted Md5Word diverges from the composed form")
  }
}
