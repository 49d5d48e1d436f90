package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ext.Multimodal

/** Behavior tests for the training-data extension operators. */
class ExtSpec extends AnyFunSuite {
  import TestSpark._

  test("dedup_exact does not merge near-duplicates") {
    val df = SparkEntry.queries("dedup_exact")(spark, sf)
    assert(df.agg(max("n_copies")).head().getLong(0) == 1)
    assert(df.count() == 600)   // 500 docs + 100 injected twins, all distinct
  }

  test("minhash LSH finds every injected near-dup twin") {
    val pairs = SparkEntry.queries("dedup_minhash_lsh")(spark, sf)
      .select("id1", "id2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val twins = (0L until 500L by 5).map(i => (i, i + 1000000)).toSet
    val missed = twins -- pairs
    assert(missed.isEmpty, s"LSH missed twins: ${missed.take(5)}")
  }

  test("simhash of a twin stays close to its original") {
    val sh = SparkEntry.queries("simhash")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dists = (0L until 500L by 5).map { i =>
      java.lang.Long.bitCount(sh(i) ^ sh(i + 1000000))
    }
    // one extra token on a short doc can flip several of 64 bits; the
    // near-dup property is "small hamming distance", not equality
    // (bounds are 2× the 32-bit calibration: twice the bit positions
    // where the ±1 token vote can tip a near-zero bit sum)
    assert(dists.count(_ <= 12) >= dists.size * 9 / 10,
      s"too many distant twins: ${dists.groupBy(identity).view.mapValues(_.size).toMap}")
    assert(dists.max <= 20, s"twin drifted to hamming ${dists.max}")
  }

  test("dedup_embedding finds every injected perturbed twin") {
    val pairs = SparkEntry.queries("dedup_embedding")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val nVecs = graft.model.Tables.embeddings(spark, sf).count()
    val twins = (0L until nVecs by 7).map(i => (i, i + 1000000)).toSet
    val missed = twins -- pairs
    assert(missed.isEmpty, s"missed twins: ${missed.take(5)}")
    // and nothing but near-identical pairs clears 0.99 on random vectors
    assert(pairs.size == twins.size, s"unexpected extra pairs: ${(pairs -- twins).take(5)}")
  }

  test("knn_bruteforce returns 5 ordered neighbors per query") {
    val rows = SparkEntry.queries("knn_bruteforce")(spark, sf).collect()
    assert(rows.length == 40)   // 8 queries × 5
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val cos = rs.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(cos.zip(cos.tail).forall { case (a, b) => a >= b })
      assert(cos.forall(c => c >= -1.0001 && c <= 1.0001))
    }
  }

  test("knn_lsh candidates come from the query's own bucket") {
    val df = SparkEntry.queries("knn_lsh")(spark, sf)
    assert(df.filter(col("bucket") < 0 || col("bucket") > 255).count() == 0)
    assert(df.groupBy("qid").count().agg(max("count")).head().getLong(0) <= 5)
  }

  test("knn_lsh multi-probe recall against the brute-force baseline") {
    // recall@5 = |lsh ∩ bf| / |bf| over (qid, neighbor) pairs. The
    // embeddings are near-orthogonal random vectors — the worst case
    // for hyperplane LSH (true neighbors sit at cosine ≈ 0.3, so
    // P(hamming<=1) per true pair is only ~0.12) — and data + planes
    // are deterministic, so the measured recall (0.05 at HEAD) is a
    // fixed regression floor, not a statistical bound. The hard
    // multi-probe win is CANDIDATE COVERAGE: single-probe returned 10
    // of 40 rows (sparse buckets starve most queries); hamming-1
    // probing must fill all 8 queries × 5 ranks.
    val bf = SparkEntry.queries("knn_bruteforce")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val lshRows = SparkEntry.queries("knn_lsh")(spark, sf).collect()
    val perQuery = lshRows.groupBy(_.getLong(0)).view.mapValues(_.length).toMap
    assert(perQuery.size == 8 && perQuery.values.forall(_ == 5),
      s"multi-probe candidate pool starved: $perQuery")
    val lsh = lshRows.map(r => (r.getLong(0), r.getLong(3))).toSet
    val recall = (lsh & bf).size.toDouble / bf.size
    assert(recall >= 0.05, f"multi-probe recall@5 degraded: $recall%.2f")
  }

  test("ann_recall agrees with a hand-computed intersection, per index") {
    val bf = SparkEntry.queries("knn_bruteforce")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    val lsh = SparkEntry.queries("knn_lsh")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toSet
    val want = bf.groupBy(_._1).view
      .mapValues(ns => ns.count(lsh.contains).toLong).toMap
    val rows = SparkEntry.queries("ann_recall")(spark, sf).collect()
    assert(rows.length == 24) // 3 indexes × 8 queries
    assert(rows.map(_.getString(0)).distinct.sorted.toSeq ==
      Seq("ivf", "ivf_kmeans", "lsh"))
    rows.foreach { r =>
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
    }
    rows.filter(_.getString(0) == "lsh").foreach { r =>
      assert(r.getLong(2) == want(r.getLong(1)), s"n_hits mismatch: $r")
    }
  }

  test("IVF recall at NPROBE=2 clears the regression floor; kmeans cells beat sampled cells") {
    // data + centroids are deterministic, so these are fixed floors
    // (mean recall@5 at HEAD: ivf 0.45, ivf_kmeans 0.90, lsh 0.125),
    // not statistical bounds. The trained-centroid index must stay
    // strictly better than the sampled-centroid one — that gap is the
    // point of the train→index composition.
    val rows = SparkEntry.queries("ann_recall")(spark, sf).collect()
    def mean(ix: String) = {
      val rs = rows.filter(_.getString(0) == ix).map(_.getDouble(3))
      rs.sum / rs.length
    }
    assert(mean("ivf") >= 0.40, f"ivf recall degraded: ${mean("ivf")}%.3f")
    assert(mean("ivf_kmeans") >= 0.80,
      f"ivf_kmeans recall degraded: ${mean("ivf_kmeans")}%.3f")
    assert(mean("ivf_kmeans") > mean("ivf"),
      "trained centroids must beat the deterministic sample")
  }

  test("simhash64 kernel is bit-identical to the distributed simhash query") {
    val batch = SparkEntry.queries("simhash")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val docs = graft.model.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(docs.nonEmpty)
    docs.foreach { case (id, text) =>
      assert(graft.ext.Dedup.simhash64(text) == batch(id),
        s"kernel simhash diverged from the query on doc $id")
      if (id % 5 == 0)
        assert(graft.ext.Dedup.simhash64(text + " zqxj") == batch(id + 1000000),
          s"kernel simhash diverged on twin of doc $id")
    }
  }

  test("simhashOf handles a doc far past the old 60k-token lane cap") {
    // the 16-bit vote lanes raise_error'd above 60,000 distinct
    // tokens; the 32-bit lanes must compute such a doc, and match the
    // Scala kernel bit-for-bit
    import spark.implicits._
    val text = (0 until 70000).map(i => s"tok$i").mkString(" ")
    val got = graft.ext.Dedup.simhashOf(Seq((1L, text)).toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(1L) == graft.ext.Dedup.simhash64(text),
      "wide-lane simhash diverged from the kernel on a 70k-token doc")
  }

  test("dedupIncremental asserts its id-floor contract inside the pipeline") {
    // no driver-side max() probe anymore — the contract rides the
    // corpus projection as a raise_error branch, evaluated only on
    // violating rows
    import spark.implicits._
    val bad = Seq((5L, "aa bb cc dd ee ff"), (10000001L, "gg hh ii jj kk ll"))
      .toDF("doc_id", "text")
    val err = intercept[Exception] {
      graft.ext.Dedup.dedupIncrementalOf(bad).collect()
    }
    def chain(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => e.getMessage +: chain(e.getCause))
    assert(chain(err).exists(m => m != null && m.contains("must stay below")),
      s"expected the floor-contract message, got: ${chain(err).mkString(" | ").take(300)}")
    // and a conforming corpus passes through the same guarded plan
    val ok = Seq((5L, "aa bb cc dd ee ff"), (11L, "gg hh ii jj kk ll"))
      .toDF("doc_id", "text")
    graft.ext.Dedup.dedupIncrementalOf(ok).collect()
  }

  test("dedup_groups merges twin triangles transitively") {
    val labels = SparkEntry.queries("dedup_groups")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size == 650)   // 500 base + 100 twin-A + 50 twin-B
    (0L until 500L by 10).foreach { id =>
      // triangle {orig, A, B}: both twins land in orig's component
      // even though B reaches orig only through A when a band misses
      assert(labels(id + 1000000) == labels(id))
      assert(labels(id + 200000) == labels(id))
    }
    (5L until 500L by 10).foreach { id =>
      assert(labels(id + 1000000) == labels(id))
    }
    // keeper is the component minimum, so never above the member id
    assert(labels.forall { case (id, k) => k <= id })
  }

  test("dedup_group_sizes accounts for every corpus2 document") {
    val rows = SparkEntry.queries("dedup_group_sizes")(spark, sf).collect()
    val docsCovered = rows.map(r => r.getLong(0) * r.getLong(1)).sum
    assert(docsCovered == 650, s"histogram covers $docsCovered of 650 docs")
    // removable = size-1 per group; triangles {orig, A, B} mean some
    // groups of size >= 3 exist, singletons dominate
    rows.foreach { r =>
      assert(r.getLong(2) == (r.getLong(0) - 1) * r.getLong(1), s"n_removable wrong: $r")
    }
    assert(rows.map(_.getLong(0)).max >= 3, "no transitive group of size >= 3")
  }

  test("event_funnel steps are monotone and match a planted sequence") {
    val rows = SparkEntry.queries("event_funnel")(spark, sf).collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("1_view", "2_click", "3_purchase"))
    val ns = rows.map(_.getLong(1))
    assert(ns(0) >= ns(1) && ns(1) >= ns(2), s"funnel not monotone: ${ns.toSeq}")
    // planted micro-log: u1 completes the funnel, u2 clicks BEFORE
    // viewing (must not count), u3 only views
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_fn").toString
    def t(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
    Seq((0L, t(1), 1L, "view", 1.0, "{}"), (1L, t(2), 1L, "click", 1.0, "{}"),
        (2L, t(3), 1L, "purchase", 1.0, "{}"),
        (3L, t(1), 2L, "click", 1.0, "{}"), (4L, t(2), 2L, "view", 1.0, "{}"),
        (5L, t(1), 3L, "view", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = SparkEntry.queries("event_funnel")(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("1_view" -> 3L, "2_click" -> 1L, "3_purchase" -> 1L), out.toString)
  }

  test("knn_ivf returns ordered top-k bounded by the brute-force baseline") {
    val rows = SparkEntry.queries("knn_ivf")(spark, sf).collect()
    assert(rows.length == 40)   // 8 queries × 5 — probed cells are never starved
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val cos = rs.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(cos.zip(cos.tail).forall { case (a, b) => a >= b })
    }
    // the k-th best of a candidate subset can never beat the k-th
    // best of the full corpus
    val bf = SparkEntry.queries("knn_bruteforce")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(3)).toMap
    rows.foreach { r =>
      assert(r.getDouble(3) <= bf((r.getLong(0), r.getInt(1))) + 1e-9)
    }
  }

  test("dedup_incremental matches every re-arrived doc to its original") {
    val pairs = SparkEntry.queries("dedup_incremental")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val missing = (0L until 500L by 6)
      .map(id => (id + 10000000L, id)).toSet -- pairs
    assert(missing.isEmpty, s"re-arrivals not matched: ${missing.take(5)}")
    // new×new and old×old pairs must never appear
    assert(pairs.forall { case (n, o) => n >= 10000000L && o < 10000000L })
  }

  test("bigram_lm_score covers every doc with sane counts") {
    val rows = SparkEntry.queries("bigram_lm_score")(spark, sf).collect()
    assert(rows.length == 500)
    rows.foreach { r =>
      assert(r.getLong(1) >= 9)        // min 10 tokens → >= 9 bigrams
      assert(r.getDouble(2) >= 1.0)    // every bigram occurs at least once
    }
  }

  test("chunk_documents covers every token with the declared overlap") {
    val chunks = SparkEntry.queries("chunk_documents")(spark, sf).collect()
    val perDoc = chunks.groupBy(_.getLong(0))
    assert(perDoc.size == 500)
    perDoc.foreach { case (_, cs) =>
      val sorted = cs.sortBy(_.getLong(1))
      // consecutive chunk_ids from 0; all full-size except possibly the last
      assert(sorted.map(_.getLong(1)).toSeq == sorted.indices.map(_.toLong))
      sorted.dropRight(1).foreach(c => assert(c.getLong(2) == 32))
      assert(sorted.last.getLong(2) >= 1 && sorted.last.getLong(2) <= 32)
    }
  }

  test("pack_sequences bins respect the token budget fill pattern") {
    val rows = SparkEntry.queries("pack_sequences")(spark, sf).collect()
    // every (source, shard) group's bins are consecutive from 0, and
    // total tokens across bins equals the corpus token count
    rows.groupBy(r => (r.getString(0), r.getLong(1))).foreach { case (_, rs) =>
      val bins = rs.map(_.getLong(2)).sorted
      assert(bins.head == 0 && bins.toSeq == (0L until bins.length).toSeq)
    }
    val total = rows.map(_.getLong(4)).sum
    val corpus = graft.model.Tables.documents(spark, sf)
      .select(org.apache.spark.sql.functions.sum(
        org.apache.spark.sql.functions.size(
          org.apache.spark.sql.functions.split(
            org.apache.spark.sql.functions.trim(col("text")), "\\s+"))))
      .head().getLong(0)
    assert(total == corpus, s"packed tokens $total != corpus tokens $corpus")
  }

  test("decontaminate flags at least every eval-set document") {
    val rows = SparkEntry.queries("decontaminate")(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // eval docs are corpus members, so they are contaminated by
    // definition — per-source counts must cover them
    val evalPerSource = graft.model.Tables.documents(spark, sf)
      .filter(col("doc_id") % 13 === 0)
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    evalPerSource.foreach { case (src, n) =>
      assert(rows(src)._2 >= n, s"$src: ${rows(src)._2} contaminated < $n eval docs")
    }
    // and random word salads must not ALL collide on an 8-gram
    assert(rows.values.map(_._2).sum < rows.values.map(_._1).sum)
  }

  test("training_corpus funnel counts are consistent per source") {
    val rows = SparkEntry.queries("training_corpus")(spark, sf).collect()
    assert(rows.length == 20)   // one row per source
    rows.foreach { r =>
      val (n, q, l, d, k) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(q + l + d + k == n, s"funnel stages must partition n_docs: $r")
      assert(k > 0, "a source lost every document — gates are mistuned")
    }
  }

  test("sample_stratified keeps a deterministic per-source fraction") {
    val rows = SparkEntry.queries("sample_stratified")(spark, sf).collect()
    assert(rows.length == 20)
    rows.foreach { r =>
      val (n, quota, sampled) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(quota >= 20 && quota <= 80)
      assert(sampled <= n)
    }
    // re-running produces the identical sample (no RNG anywhere)
    val again = SparkEntry.queries("sample_stratified")(spark, sf).collect()
    assert(rows.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
  }

  test("decodeImages recovers dimensions and channel sums from real PPM bytes") {
    // independent content oracle computed here from the raw text
    // (the same arithmetic the DuckDB twin runs): any slip in the
    // synthesize → encode → header-parse → raster-walk chain diverges
    val want = graft.model.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map { r =>
        val id = r.getLong(0); val text = r.getString(1)
        val w = (id % 5 + 4).toInt; val h = (id % 4 + 3).toInt
        val src = (text * 4).take(w * h * 3)
        val sums = Array(0L, 0L, 0L)
        src.zipWithIndex.foreach { case (c, k) => sums(k % 3) += c.toLong }
        id -> ((w, h, sums(0), sums(1), sums(2)))
      }.toMap
    val got = Multimodal.decodeImages(spark, sf).collect()
    assert(got.length == want.size)
    got.foreach { d =>
      val (w, h, sr, sg, sb) = want(d.media_id)
      assert((d.width, d.height) == ((w, h)), s"dimensions diverged: $d")
      assert((d.sum_r, d.sum_g, d.sum_b) == ((sr, sg, sb)), s"checksums diverged: $d")
    }
    // and the parser rejects malformed media loudly
    intercept[IllegalArgumentException] {
      Multimodal.parsePpmHeader("P5\n2 2\n255\nxxxx".getBytes("UTF-8"))
    }
    intercept[IllegalArgumentException] {
      Multimodal.parsePpmHeader("P6\n4 4\n255\nshort".getBytes("UTF-8"))
    }
  }

  test("decodeAudio recovers header fields and sample stats from real WAV bytes") {
    // independent content oracle from the raw text — the same
    // interleaving arithmetic the DuckDB twin runs
    val want = graft.model.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .flatMap { r =>
        val id = r.getLong(0); val text = r.getString(1)
        val c = (id % 2 + 1).toInt
        val rate = Seq(8000L, 11025L, 16000L, 22050L)((id % 4).toInt)
        val nf = 40 + id % 23
        (0 until c).map { ch =>
          val vals = (0L until nf).map(f =>
            text(((f * c + ch) % text.length).toInt).toLong * 256 - 16000)
          (id, ch.toLong) -> ((rate, nf, vals.sum, vals.min, vals.max,
            vals.map(v => v * v).sum))
        }
      }.toMap
    val got = Multimodal.decodeAudio(spark, sf).collect()
    assert(got.length == want.size)
    got.foreach { d =>
      val (rate, nf, s, mn, mx, sq) = want((d.media_id, d.channel))
      assert(d.sample_rate == rate && d.n_samples == nf, s"header diverged: $d")
      assert(d.duration_ms == nf * 1000 / rate, s"duration diverged: $d")
      assert((d.sum_pcm, d.min_pcm, d.max_pcm, d.sumsq_pcm) == ((s, mn, mx, sq)),
        s"sample stats diverged: $d")
    }
    // strict rejection: bad magic, non-PCM format, inconsistent sizes
    val good = {
      // hand-built minimal mono 8000 Hz file with one sample (0x0102)
      val data = Array[Byte](2, 1)
      val bb = java.nio.ByteBuffer.allocate(46)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes); bb.putInt(38); bb.put("WAVE".getBytes)
      bb.put("fmt ".getBytes); bb.putInt(16); bb.putShort(1); bb.putShort(1)
      bb.putInt(8000); bb.putInt(16000); bb.putShort(2); bb.putShort(16)
      bb.put("data".getBytes); bb.putInt(2); bb.put(data)
      bb.array()
    }
    assert(Multimodal.parseWavHeader(good) == ((1, 8000, 44, 2)))
    intercept[IllegalArgumentException] { // bad magic
      Multimodal.parseWavHeader("JUNK".getBytes ++ good.drop(4))
    }
    intercept[IllegalArgumentException] { // RIFF size lie
      val bad = good.clone(); bad(4) = 99; Multimodal.parseWavHeader(bad)
    }
    intercept[IllegalArgumentException] { // non-PCM format tag
      val bad = good.clone(); bad(20) = 3; Multimodal.parseWavHeader(bad)
    }
    intercept[IllegalArgumentException] { // byteRate inconsistent
      val bad = good.clone(); bad(28) = 1; Multimodal.parseWavHeader(bad)
    }
  }

  test("kmeans_embeddings assigns every vector to an in-range cluster") {
    val rows = SparkEntry.queries("kmeans_embeddings")(spark, sf).collect()
    assert(rows.length == graft.model.Tables.embeddings(spark, sf).count())
    assert(rows.map(_.getLong(0)).distinct.length == rows.length)
    rows.foreach { r =>
      assert(r.getLong(1) >= 0 && r.getLong(1) < 8, s"cluster out of range: $r")
      assert(r.getLong(2) >= 0, s"negative dist2: $r")
    }
  }

  test("kmeans_embeddings separates two planted blobs") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_km").toString
    // blob A around +e_0, blob B around +e_1; seeds 0-3 in A, 4-7 in B
    def vec(axis: Int, jitter: Int): Array[Float] =
      Array.tabulate(64)(d =>
        (if (d == axis) 1.0f else 0.0f) +
          (if (d == (jitter % 64)) 0.01f * (jitter % 7 + 1) else 0.0f))
    val rows = (0 until 40).map { i =>
      val inA = (i < 4) || (i >= 8 && i < 24)   // seeds 0-3 + 16 members
      (i.toLong, vec(if (inA) 0 else 1, i + 2).toSeq, if (inA) "A" else "B")
    }
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = SparkEntry.queries("kmeans_embeddings")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0 until 40).foreach { i =>
      val inA = (i < 4) || (i >= 8 && i < 24)
      if (inA) assert(out(i.toLong) < 4, s"blob-A vector $i landed in ${out(i.toLong)}")
      else assert(out(i.toLong) >= 4, s"blob-B vector $i landed in ${out(i.toLong)}")
    }
  }

  test("text_stats ratios are in [0,1]") {
    val df = SparkEntry.queries("text_stats")(spark, sf)
    assert(df.filter(col("punct_ratio") < 0 || col("punct_ratio") > 1).count() == 0)
    assert(df.filter(col("stopword_ratio") < 0 || col("stopword_ratio") > 1).count() == 0)
  }

  test("strip_markup recovers exactly the pre-wrap text") {
    // the synthesized page wraps documents.text verbatim, so the
    // extracted main text must hash-equal the whitespace-collapsed
    // original for every document — chrome (head/nav/footer) gone
    val docs = graft.model.Tables.documents(spark, sf)
      .select(col("doc_id"), graft.util.Hashing.phash(
        trim(regexp_replace(col("text"), "\\s+", " ")), "sm_").as("want"))
    val got = SparkEntry.queries("strip_markup")(spark, sf)
      .select(col("doc_id"), col("clean_hash"), col("raw_len"), col("clean_len"))
    val joined = got.join(docs, Seq("doc_id"))
    assert(joined.count() == docs.count())
    assert(joined.filter(col("clean_hash") =!= col("want")).count() == 0,
      "markup stripping altered the main text")
    assert(joined.filter(col("clean_len") >= col("raw_len")).count() == 0)
  }

  test("media_dedup finds every injected exact copy and only those") {
    val df = SparkEntry.queries("media_dedup")(spark, sf)
    val docs = graft.model.Tables.documents(spark, sf)
    // injected replicas: one per doc_id % 7 == 0 (assuming the raw
    // corpus has no byte-exact dups, which dedup_exact's n_copies==1
    // invariant already pins)
    val expected = docs.filter(col("doc_id") % 7 === 0).count()
    assert(df.count() == expected, s"expected $expected duplicate groups")
    assert(df.filter(col("n_copies") < 2).count() == 0)
    assert(df.filter(
      col("reclaimable_bytes") =!= (col("n_copies") - 1) * col("n_bytes")).count() == 0)
  }

  test("embedding_outliers returns 5 ranked outliers per label, farthest first") {
    val rows = SparkEntry.queries("embedding_outliers")(spark, sf).collect()
    val byLabel = rows.groupBy(_.getInt(0))
    assert(byLabel.values.forall(_.length == 5))
    for ((_, rs) <- byLabel) {
      val d = rs.sortBy(_.getLong(1)).map(_.getLong(3))
      assert(d.zip(d.tail).forall { case (a, b) => a >= b },
        "dist2n not non-increasing with rank")
    }
  }

  test("column_profile reports consistent counts over a null-free table") {
    val df = SparkEntry.queries("column_profile")(spark, sf)
    assert(df.count() == 11)
    val n = graft.model.Tables.lineitem(spark, sf).count()
    assert(df.filter(col("n_rows") =!= n).count() == 0)
    // driver test data has no nulls; distinct <= rows; flags are tiny
    assert(df.filter(col("n_nulls") =!= 0).count() == 0)
    assert(df.filter(col("n_distinct") > col("n_rows")).count() == 0)
    val flag = df.filter(col("col_name") === "l_returnflag").head()
    assert(flag.getLong(3) <= 3, "l_returnflag has more than 3 distinct values")
  }

  test("oov_rate token totals agree with token_count and bound the OOV share") {
    val oov = SparkEntry.queries("oov_rate")(spark, sf)
    assert(oov.filter(col("n_oov") > col("n_tokens")).count() == 0)
    assert(oov.filter(col("oov_ppm") < 0 || col("oov_ppm") > 1000000).count() == 0)
    // same whitespace tokenization as token_count → corpus totals match
    val total = oov.agg(sum(col("n_tokens"))).head().getLong(0)
    val want = SparkEntry.queries("token_count")(spark, sf)
      .agg(sum(col("ws_tokens"))).head().getLong(0)
    assert(total == want, s"token universe diverged: $total vs $want")
    // a corpus where the top-100 vocab covers something: not all OOV
    assert(oov.filter(col("n_oov") < col("n_tokens")).count() > 0)
  }

  test("bpe_pair_counts pairs are 2-char substrings with positive counts") {
    val rows = SparkEntry.queries("bpe_pair_counts")(spark, sf).collect()
    assert(rows.length == 30)
    assert(rows.forall(_.getString(0).length == 2), "a pair that is not 2 chars")
    val counts = rows.map(_.getLong(1))
    assert(counts.forall(_ > 0))
    assert(counts.sameElements(counts.sorted.reverse), "not sorted by count desc")
  }

  test("bloom_decontaminate has no false negatives even when saturated") {
    // m=256 deliberately saturates the filter: lots of false positives,
    // but exact hits must ALWAYS bloom-hit (the Bloom guarantee), and
    // the realistic-m query must agree with decontaminate's exact counts
    val tiny = graft.ext.Curation.bloomDecontaminateM(spark, sf, 256).collect()
    assert(tiny.forall(r => r.getLong(2) >= r.getLong(3)),
      "false negative: n_bloom_hits < n_exact_hits at m=256")
    assert(tiny.map(r => r.getLong(4)).sum > 0,
      "a 256-bit filter over thousands of shingles should false-positive")
    val real = SparkEntry.queries("bloom_decontaminate")(spark, sf)
      .select(col("source"), col("n_exact_hits"))
    val exact = SparkEntry.queries("decontaminate")(spark, sf)
      .select(col("source"), col("n_contaminated"))
    val joined = real.join(exact, Seq("source"), "full")
    assert(joined.filter(col("n_exact_hits") =!= col("n_contaminated")).count() == 0,
      "bloom query's exact arm diverged from decontaminate")
  }

  test("domain_cap two-phase top-k equals the single-window ground truth") {
    val capped = SparkEntry.queries("domain_cap")(spark, sf)
    import org.apache.spark.sql.expressions.Window
    val truth = graft.model.Tables.documents(spark, sf)
      .select(col("source"), col("doc_id"))
      .withColumn("pri",
        graft.util.Hashing.phash(col("doc_id").cast("string"), "cap_"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("source")).orderBy(col("pri"), col("doc_id"))).cast("long"))
      .filter(col("rank") <= 25)
      .select(col("source"), col("rank"), col("doc_id").as("want_id"))
    val j = capped.join(truth, Seq("source", "rank"), "full")
    assert(j.filter(col("doc_id").isNull || col("want_id").isNull ||
      col("doc_id") =!= col("want_id")).count() == 0,
      "two-phase cap diverged from the single-window ranking")
    val sizes = capped.groupBy(col("source")).count()
    assert(sizes.filter(col("count") > 25).count() == 0)
  }

  test("epoch_plan thins exactly the strata corpus_mixture overweights") {
    val plan = SparkEntry.queries("epoch_plan")(spark, sf).collect()
    assert(plan.forall(r => r.getLong(5) <= r.getLong(2)), "planned_docs > n_docs")
    assert(plan.forall(r => r.getLong(6) <= r.getLong(3)), "planned_tokens > n_tokens")
    // weight 1,000,000 (at-or-under budget) strata keep every document
    val flat = plan.filter(_.getLong(4) == 1000000L)
    assert(flat.nonEmpty, "no stratum at the 1e6 weight cap — fixture drifted")
    assert(flat.forall(r => r.getLong(5) == r.getLong(2)),
      "a full-weight stratum lost documents")
    // overweighted strata genuinely thin
    assert(plan.filter(_.getLong(4) < 1000000L).exists(r => r.getLong(5) < r.getLong(2)),
      "no overweight stratum was thinned")
  }

  test("dedup_semantic accounts for every vector and finds the twin mass") {
    val rows = SparkEntry.queries("dedup_semantic")(spark, sf).collect()
    val base = graft.model.Tables.embeddings(spark, sf).count()
    val twins = graft.model.Tables.embeddings(spark, sf)
      .filter(col("vec_id") % 7 === 0).count()
    assert(rows.map(_.getLong(1)).sum == base + twins,
      "cell sizes do not partition the corpus")
    rows.foreach { r =>
      assert(r.getLong(3) <= r.getLong(1) - 1 || r.getLong(1) == 0,
        s"cell ${r.getLong(0)} would remove everything")
      assert(r.getLong(3) <= r.getLong(2), "removable exceeds pair count")
    }
    // each twin is near-identical to its original; cell-locality should
    // co-bucket (and so find) at least half of them
    assert(rows.map(_.getLong(2)).sum >= twins / 2,
      s"found ${rows.map(_.getLong(2)).sum} dup pairs for $twins twins")
  }

  test("leakage_free_split certifies zero cross-split near-dup pairs") {
    val rows = SparkEntry.queries("leakage_free_split")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // the certificate is the point: component-level hashing makes a
    // cross-split near-dup pair impossible, and the query PROVES it
    // over the same pair generator the keeper table is built from
    // (the two-twin corpus2 — splitLeakage audits the one-twin corpus)
    rows.foreach { case (split, nDocs, nComp, cross) =>
      assert(cross == 0L, s"$split leaked $cross near-dup pairs")
      assert(nComp <= nDocs, s"$split has more components than docs")
    }
    // splits partition the twin corpus: base + %5 twins + %10 twins
    val docs = graft.model.Tables.documents(spark, sf)
    val expected = docs.count() +
      docs.filter(col("doc_id") % 5 === 0).count() +
      docs.filter(col("doc_id") % 10 === 0).count()
    assert(rows.map(_._2).sum == expected,
      s"split doc mass ${rows.map(_._2).sum} != corpus $expected")
    // ... and the per-DOC rule on the same corpus DOES leak, so the
    // certificate is demonstrably non-vacuous
    val leaky = SparkEntry.queries("split_leakage")(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(leaky.exists { case (a, b, n) => a != b && n > 0 },
      "fixture drifted — per-doc splits no longer leak any pair")
  }

  test("substring_dedup covers every twinned doc pair as majority-duplicated") {
    val rows = SparkEntry.queries("substring_dedup")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    rows.foreach { case (src, nDocs, nTok, cov, ppm, maj) =>
      assert(cov <= nTok, s"$src covers more tokens than it has")
      assert(ppm >= 0 && ppm <= 1000000)
      assert(maj <= nDocs)
    }
    // every %5==0 doc with >= SUB_K tokens shares ALL its K-gram runs
    // with its appended twin: both ends of the pair must be majority-
    // covered, so the majority-dup count is at least twice the
    // twinnable-doc count (other natural overlaps only add to it)
    val twinnable = graft.model.Tables.documents(spark, sf)
      .filter(col("doc_id") % 5 === 0 &&
        size(split(trim(col("text")), "\\s+")) >= graft.ext.Dedup.SUB_K)
      .count()
    assert(twinnable > 0, "fixture drifted — no twinnable docs")
    assert(rows.map(_._6).sum >= 2 * twinnable,
      s"majority-dup ${rows.map(_._6).sum} < ${2 * twinnable} twin ends")
  }

  test("dedup_semantic_ivf accounts for every vector and finds the twin mass") {
    val rows = SparkEntry.queries("dedup_semantic_ivf")(spark, sf).collect()
    val base = graft.model.Tables.embeddings(spark, sf).count()
    val twins = graft.model.Tables.embeddings(spark, sf)
      .filter(col("vec_id") % 7 === 0).count()
    assert(rows.map(_.getLong(1)).sum == base + twins,
      "cell sizes do not partition the corpus")
    rows.foreach { r =>
      assert(r.getLong(3) <= r.getLong(1) - 1 || r.getLong(1) == 0,
        s"cell ${r.getLong(0)} would remove everything")
      assert(r.getLong(3) <= r.getLong(2), "removable exceeds pair count")
    }
    // a twin differs from its base by one nudged dimension → the same
    // nearest centroid almost surely; fixed-C cells must still find
    // at least half the twin mass
    assert(rows.map(_.getLong(2)).sum >= twins / 2,
      s"found ${rows.map(_.getLong(2)).sum} dup pairs for $twins twins")
  }

  test("simhash adaptive banding: narrow and wide schemes agree pair-for-pair") {
    // both rungs are complete at hamming <= 3 and share the exact
    // bit_count verify, so the N-derived band-layout knob must never
    // change the result — the property that lets the oracle keep one
    // fixed plan at every scale
    val docs = graft.ext.Dedup.corpus(spark, sf)
    val narrow = graft.ext.Dedup.simhashPairsOf(docs, Some(4)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val wide = graft.ext.Dedup.simhashPairsOf(docs, Some(2)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(narrow.nonEmpty, "fixture drifted — no simhash pairs at all")
    assert(narrow == wide,
      s"schemes disagree: onlyNarrow=${(narrow -- wide).size} onlyWide=${(wide -- narrow).size}")
  }

  test("semantic dedup auto-rung: each side of the bound matches its fixed rung row-for-row") {
    import graft.ext.Similarity
    val base = graft.model.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long, Long)] =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    // below the bound the switch must BE the flat assignment
    val small = rows(Similarity.dedupSemanticOf(base))
    assert(small == rows(Similarity.dedupSemanticOf(base, autoRung = false)),
      "below SEM_RUNG_BOUND the switched form diverged from the flat rung")
    // replicate past the bound (sign-flip replicas stay mutually
    // dissimilar, vec_ids stay far below the 1,000,000 twin offset)
    val reps = (Similarity.SEM_RUNG_BOUND / base.count()).toInt + 1
    val big = base.crossJoin(spark.range(reps).toDF("rep"))
      .select((col("vec_id") * reps + col("rep")).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          x * when(col("rep") === 0, lit(1.0f))
            .otherwise(when(pmod(hash(col("rep"), i), lit(2)) === 0, lit(1.0f))
              .otherwise(lit(-1.0f)))).as("embedding"))
    assert(big.count() * 8 / 7 > Similarity.SEM_RUNG_BOUND,
      "fixture too small to cross the rung bound")
    // above the bound the switch must BE the IVF rung
    val switched = rows(Similarity.dedupSemanticOf(big))
    assert(switched.nonEmpty && switched == rows(Similarity.dedupSemanticIvfOf(big)),
      "above SEM_RUNG_BOUND the switched form diverged from the IVF rung")
  }

  test("lm quality rung: window and DistributedRank terciles agree row-for-row") {
    // both rungs rank the same (score, doc_id) total order, so the
    // row-count knob must never change the result — the property that
    // lets the oracle keep the plain ntile window at every scale
    val docs = graft.model.Tables.documents(spark, sf)
    def rows(bound: Long): Seq[(String, Int, Long, Long, Long, Long)] =
      graft.ext.Corpus.lmQualityBucketsOf(docs, bound).collect().map(r =>
        (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5))).toSeq
    val win = rows(Long.MaxValue) // every corpus lands below the bound
    val dr = rows(0L)             // every corpus lands above it
    assert(win.nonEmpty, "fixture drifted — no lm-quality buckets at all")
    assert(win == dr,
      s"rungs disagree: window=${win.take(3)} dr=${dr.take(3)}")
  }

  test("dedup_pipeline collapses exact copies before the LSH stage sees them") {
    val rows = SparkEntry.queries("dedup_pipeline")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toList
    assert(rows.map(_._1) == List("1_exact", "2_near"))
    val Seq((_, rawN, survN), (_, nearIn, nearOut)) = rows.toSeq
    val docs = graft.model.Tables.documents(spark, sf)
    val exactCopies = docs.filter(col("doc_id") % 3 === 0).count()
    // stage 1 removes exactly the injected byte-identical copies
    assert(rawN - survN == exactCopies,
      s"exact stage removed ${rawN - survN}, expected $exactCopies copies")
    assert(nearIn == survN, "stage 2 input is not stage 1's output")
    // stage 2 still catches every near twin (they survive the hash)
    val twins = docs.filter(col("doc_id") % 5 === 0).count()
    assert(nearIn - nearOut >= twins,
      s"near stage removed ${nearIn - nearOut}, expected >= $twins twins")
  }

  test("dedup_method_overlap balances against both generators' pair counts") {
    val r = SparkEntry.queries("dedup_method_overlap")(spark, sf).head()
    val (a, b, both) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(both <= math.min(a, b), "intersection exceeds a side")
    assert(a > 0 && b > 0, "a generator found nothing — fixture drifted")
    val expected = math.floor(both * 1000000.0 / (a + b - both)).toLong
    assert(r.getLong(3) == expected)
  }

  test("heavy_hitters_cm never undercounts (the Count-Min guarantee)") {
    val rows = SparkEntry.queries("heavy_hitters_cm")(spark, sf).collect()
    assert(rows.length == 20)
    rows.foreach { r =>
      assert(r.getLong(2) >= r.getLong(1),
        s"CM undercounted '${r.getString(0)}': ${r.getLong(2)} < ${r.getLong(1)}")
      assert(r.getLong(3) == r.getLong(2) - r.getLong(1))
    }
    // exact counts desc — the top really is the head
    val ex = rows.map(_.getLong(1))
    assert(ex.sameElements(ex.sorted.reverse))
  }

  test("winnow_fingerprint keeps a ~2/(W+1) density subset of the shingles") {
    val rows = SparkEntry.queries("winnow_fingerprint")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1), "more fingerprints than shingles")
      assert(r.getLong(2) >= 1)
      assert(r.getDouble(3) > 0 && r.getDouble(3) <= 1.0)
    }
    // winnowing density: expected 2/(W+1) = 0.4 for W=4; the corpus
    // mean should sit near it, far below keeping everything
    val mean = rows.map(_.getDouble(3)).sum / rows.length
    assert(mean > 0.2 && mean < 0.7, s"winnow density off: $mean")
  }

  test("containment_pairs finds every eligible embedded prefix doc at containment 1.0") {
    val found = SparkEntry.queries("containment_pairs")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(4)).toMap
    // eligible injected halves: originals doc_id%11==0 whose prefix half
    // still holds >= 8 tokens (shorter halves have no 8-gram shingles)
    val eligible = graft.model.Tables.documents(spark, sf)
      .filter(col("doc_id") % 11 === 0)
      .select(col("doc_id"),
        (size(split(trim(col("text")), "\\s+")) / 2).cast("int").as("half"))
      .filter(col("half") >= 8)
      .collect().map(_.getLong(0))
    assert(eligible.nonEmpty, "fixture drifted: no eligible prefix docs")
    eligible.foreach { id =>
      val c = found.get((id, id + 200000))
      assert(c.contains(1.0),
        s"prefix doc of $id not found at containment 1.0 (got $c)")
    }
  }

  test("dedup_normalized cardinalities nest and account for every document") {
    val rows = SparkEntry.queries("dedup_normalized")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, raw, norm, extra) = (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(norm <= raw && raw <= n, s"cardinalities do not nest in ${r.getString(0)}")
      assert(extra == raw - norm)
    }
  }

  test("ref_integrity row balances against the table counts") {
    val r = SparkEntry.queries("ref_integrity")(spark, sf).head()
    val nDocs = graft.model.Tables.documents(spark, sf).count()
    val nVecs = graft.model.Tables.embeddings(spark, sf).count()
    assert(r.getLong(0) == nDocs && r.getLong(1) == nVecs)
    assert(r.getLong(2) + r.getLong(3) == nDocs, "matched + doc orphans != docs")
    assert(r.getLong(2) + r.getLong(4) == nVecs, "matched + vec orphans != vecs")
  }

  test("tokenize_bpe accounts for every character with only 2-char merges") {
    val rows = SparkEntry.queries("tokenize_bpe")(spark, sf).collect()
    assert(rows.length == 500)
    rows.foreach { r =>
      val (nChars, nTokens, nMerged) = (r.getLong(2), r.getLong(3), r.getLong(5))
      assert(nChars == nTokens + nMerged, s"doc ${r.getLong(0)} loses chars")
      // the merge table holds single-char pairs only, so a token is at
      // most 2 chars and the stream can never shrink below nChars/2
      assert(nTokens * 2 >= nChars, s"doc ${r.getLong(0)} over-merged")
      assert(nMerged >= 0)
    }
    assert(rows.map(_.getLong(5)).sum > 0, "no merge ever fired")
  }

  test("dedup_url collapses variants onto the id%50 canonical forms") {
    val rows = SparkEntry.queries("dedup_url")(spark, sf).collect()
    // canonical form is https://{source}.example.com/docs/{doc_id%50} —
    // every variant axis (scheme, www, host case, port, doubled slash,
    // trailing slash, query, fragment) must collapse onto it
    val truth = graft.model.Tables.documents(spark, sf)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"), countDistinct(pmod(col("doc_id"), lit(50))).as("nc"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rows.map(_.getString(0)).toSet == truth.keySet)
    rows.foreach { r =>
      val (n, nc) = truth(r.getString(0))
      assert(r.getLong(1) == n, s"${r.getString(0)}: n_urls != doc count")
      assert(r.getLong(2) == nc, s"${r.getString(0)}: canonical set wrong")
      assert(r.getLong(4) == n - nc, s"${r.getString(0)}: n_collapsed wrong")
      assert(r.getLong(4) > 0, s"${r.getString(0)}: nothing collapsed")
    }
  }

  test("dedup_keep_longest picks each component's longest member") {
    val lens = graft.ext.Dedup.corpus2(spark, sf)
      .select(col("doc_id"), length(col("text")).cast("long").as("n_chars"))
    val truth = SparkEntry.queries("dedup_groups")(spark, sf)
      .join(lens, Seq("doc_id"))
      .groupBy(col("keeper_id").as("component_id"))
      .agg(max(col("n_chars")).as("max_chars"), count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val rows = SparkEntry.queries("dedup_keep_longest")(spark, sf).collect()
    assert(rows.map(_.getLong(0)).toSet == truth.keySet)
    val members = SparkEntry.queries("dedup_groups")(spark, sf)
      .collect().map(r => (r.getLong(1), r.getLong(0))).toSet
    rows.foreach { r =>
      val (maxChars, n) = truth(r.getLong(0))
      assert(members((r.getLong(0), r.getLong(1))), s"keep_id not a member: $r")
      assert(r.getLong(2) == maxChars, s"not the longest member: $r")
      assert(r.getLong(3) == n, s"member count wrong: $r")
    }
  }

  test("dedup_fuzzy_edit verifies LSH candidates by relative edit distance") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog while seven " +
      "wizards brew strong potions near the old stone bridge at dawn"
    val docs = Seq(
      (1L, base),
      (2L, base.replace("wizards", "wizzards")),   // 1 edit, shingles mostly shared
      (3L, "entirely unrelated vocabulary zebra umbrella cactus violin " +
        "granite meadow lantern harbor crystal thunder velvet marble quartz")
    ).toDF("doc_id", "text")
    val out = graft.ext.Dedup.fuzzyEditOf(docs).collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)),
      s"expected exactly the typo pair, got ${out.mkString(", ")}")
    val r = out.head
    assert(r.getLong(2) == 1L)                        // lev(wizards, wizzards)
    assert(r.getLong(3) == base.length.toLong)
    assert(r.getLong(4) == base.length.toLong + 1)
    // corpus query: every injected ' zqxj' twin is a 5-edit near-dup
    val pairs = SparkEntry.queries("dedup_fuzzy_edit")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val twins = (0L until 500L by 5).map(i => (i, i + 1000000))
    val missed = twins.filterNot(pairs.contains)
    assert(missed.isEmpty, s"missed twins: ${missed.take(5)}")
    twins.foreach(t => assert(pairs(t) == 5L, s"twin $t lev ${pairs(t)} != 5"))
  }

  test("cdc_chunks boundaries re-synchronize after an insertion") {
    import spark.implicits._
    val shared = "the quick brown fox jumps over the lazy dog while seven " +
      "wizards brew strong potions near the old stone bridge at dawn and " +
      "the river runs cold beneath the willow trees every single morning"
    // same shared run, shifted by an insertion — content-defined
    // boundaries must align on the shared suffix, so the two docs
    // duplicate most chunks; a fixed-size splitter would share none
    val docs = Seq(
      ("a", shared),
      ("a", "PREFIX INSERTED HERE " + shared)
    ).toDF("source", "text")
    val r = graft.ext.Dedup.cdcChunksOf(docs).head()
    val (n, nd, dup) = (r.getLong(1), r.getLong(2), r.getLong(4))
    assert(n == nd + dup)
    assert(dup >= (n - dup) / 2 - 2,
      s"boundaries failed to re-sync: $n chunks, only $dup duplicated")
    // and the corpus query balances per source
    SparkEntry.queries("cdc_chunks")(spark, sf).collect().foreach { row =>
      assert(row.getLong(1) >= row.getLong(2))
      assert(row.getLong(4) == row.getLong(1) - row.getLong(2))
      assert(row.getLong(1) > 0)
    }
  }

  test("mixture_alpha boosts low-resource strata and damps high-resource ones") {
    val rows = SparkEntry.queries("mixture_alpha")(spark, sf).collect()
    assert(rows.nonEmpty)
    // α-weights form a distribution (ppm sums to ~1e6 modulo flooring)
    val alphaSum = rows.map(_.getLong(5)).sum
    assert(alphaSum > 1000000L - rows.length && alphaSum <= 1000000L,
      s"alpha_ppm sum $alphaSum")
    rows.foreach { r =>
      val (nat, alpha, boost) = (r.getLong(4), r.getLong(5), r.getLong(6))
      // α = 0.5 smoothing: under-represented strata gain, over-represented lose
      if (alpha > nat) assert(boost >= 1000000L)
      if (alpha < nat) assert(boost < 1000000L)
    }
    // the smoothing must be monotone: more tokens, never a smaller weight
    val byTok = rows.sortBy(_.getLong(2))
    byTok.map(_.getLong(5)).zip(byTok.tail.map(_.getLong(5))).foreach {
      case (a, b) => assert(a <= b, "alpha weight not monotone in stratum size")
    }
  }

  test("shard_plan conserves the corpus and reports near-uniform loads") {
    val rows = SparkEntry.queries("shard_plan")(spark, sf).collect()
    assert(rows.length == 16)
    val nDocs = graft.model.Tables.documents(spark, sf).count()
    assert(rows.map(_.getLong(1)).sum == nDocs, "sharding lost documents")
    val loads = rows.map(_.getLong(4))
    assert(loads.forall(_ > 0L))
    // Σ load_ppm = 16e6 modulo the 16 floors
    assert(math.abs(loads.sum - 16000000L) <= 16L)
  }

  test("vocab_coverage thresholds are minimal and monotone") {
    val rows = SparkEntry.queries("vocab_coverage")(spark, sf).collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(500000L, 900000L, 990000L, 999000L))
    val total = rows.head.getLong(3)
    rows.foreach { r =>
      assert(r.getLong(2) * 1000000L >= total * r.getLong(0), "target not cleared")
      assert(r.getLong(1) >= 1L && r.getLong(2) <= total)
    }
    val sizes = rows.map(_.getLong(1))
    assert(sizes.zip(sizes.tail).forall { case (a, b) => a <= b },
      "higher coverage needs fewer vocab entries?")
  }

  test("sketch_union merge is lossless and the estimate lands near exact") {
    val r = SparkEntry.queries("sketch_union")(spark, sf).head()
    assert(r.getLong(4) == 1L, "merged sketch differs from the direct sketch")
    assert(r.getLong(0) > 1L, "mergeability untested: fewer than 2 sources")
    assert(r.getDouble(5) < 0.25,
      s"estimate off by ${r.getDouble(5)} relative (exact ${r.getLong(1)}, merged ${r.getLong(3)})")
  }

  test("pagerank_links computes the exact integer recurrence on a symmetric graph") {
    import spark.implicits._
    // ids 0..9, M=10: each probe map i -> (7i + c) % 10 is a bijection
    // (gcd(7,10)=1), so in-degree = out-degree = 3 everywhere and the
    // rank vector stays uniform — the scalar recurrence predicts every
    // node's rank exactly, pinning the integer floor-division semantics
    val docs = (0L until 10L).toDF("doc_id")
    var expect = 1000000L
    for (_ <- 1 to 5) expect = 150000L + (85L * (3L * (expect / 3L))) / 100L
    val rows = graft.ext.Graph.pagerankOf(docs).collect()
    assert(rows.length == 10)
    rows.foreach { r =>
      assert(r.getLong(1) == 3L, s"out_degree ${r.getLong(1)} != 3")
      assert(r.getLong(2) == expect, s"rank ${r.getLong(2)} != $expect")
    }
    // corpus query: ordered, teleport floor respected, degrees in range
    val top = SparkEntry.queries("pagerank_links")(spark, sf).collect()
    assert(top.length == 20)
    val ranks = top.map(_.getLong(2))
    assert(ranks.zip(ranks.tail).forall { case (a, b) => a >= b })
    assert(ranks.forall(_ >= 150000L))
    assert(top.map(_.getLong(1)).forall(d => d >= 0L && d <= 3L))
  }

  test("pagerank sparse loop state matches the dense recurrence on a gappy graph") {
    import spark.implicits._
    // ids 0..4 and 100..104, M=10: every probe targets (7i+13k) % 10,
    // so only targets 0..4 exist — the 100-block nodes receive NO
    // mass (they exercise the sparse-inc "absent node" constant-rank
    // path) and may keep zero out-degree when all three probes dangle.
    val ids = (0L to 4L) ++ (100L to 104L)
    val docs = ids.toDF("doc_id")
    val m = ids.length.toLong
    val idSet = ids.toSet
    val edges = for {
      s <- ids; k <- 1 to 3
      d = ((s * 7 + k * 13) % m + m) % m
      if idSet.contains(d)
    } yield (s, d)
    val deg = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    var rank = ids.map(_ -> 1000000L).toMap
    var prev = rank
    for (_ <- 1 to 5) {
      prev = rank
      val inc = edges.groupBy(_._2).view.mapValues(
        _.map { case (s, _) => rank(s) / deg(s) }.sum).toMap
      rank = ids.map(i => i -> (150000L + 85L * inc.getOrElse(i, 0L) / 100L)).toMap
    }
    val delta = ids.map(i => math.abs(rank(i) - prev(i))).max
    val rows = graft.ext.Graph.pagerankOf(docs).collect()
    assert(rows.length == 10)
    rows.foreach { r =>
      val id = r.getLong(0)
      assert(r.getLong(1) == deg.getOrElse(id, 0L), s"out_degree mismatch at $id")
      assert(r.getLong(2) == rank(id), s"rank mismatch at $id: $r")
      assert(r.getLong(3) == delta, s"final_delta mismatch: $r")
    }
  }

  test("quality_gate keeps the central >=90% band per source") {
    val rows = SparkEntry.queries("quality_gate")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, lo, hi, kept, dropped) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(lo <= hi, s"${r.getString(0)}: inverted cutoffs")
      assert(kept + dropped == n, s"${r.getString(0)}: gate loses documents")
      // discrete [p5,p95] keeps at least the central 90% mass
      assert(kept * 10 >= n * 9, s"${r.getString(0)}: kept only $kept of $n")
      assert(kept < n || n < 20,
        s"${r.getString(0)}: gate kept everything in a 20+ doc source")
    }
  }

  test("inverted_index postings are impact-ordered and balance df/cf") {
    val rows = SparkEntry.queries("inverted_index")(spark, sf).collect()
    assert(rows.nonEmpty)
    val cfs = rows.map(_.getLong(2))
    assert(cfs.zip(cfs.tail).forall { case (a, b) => a >= b }, "not cf-ordered")
    rows.foreach { r =>
      val (df, cf, postings) = (r.getLong(1), r.getLong(2), r.getString(3))
      val tfs = postings.split('|').map(_.split(':') match {
        case Array(_, tf) => tf.toLong
      })
      assert(tfs.length == math.min(df, 8L), s"posting cap wrong for ${r.getString(0)}")
      assert(tfs.zip(tfs.tail).forall { case (a, b) => a >= b },
        s"postings not impact-ordered for ${r.getString(0)}")
      assert(cf >= df && cf >= tfs.sum, s"df/cf inconsistent for ${r.getString(0)}")
    }
  }

  test("skew_join equals the plain unsalted join and shards each hot key R ways") {
    val df = SparkEntry.queries("skew_join")(spark, sf)
    val ev = graft.model.Tables.events(spark, sf)
      .select(col("event_type"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"))
    val dim = graft.model.Tables.events(spark, sf)
      .select(col("event_type")).distinct()
      .withColumn("rate_ppm",
        graft.util.Hashing.phash(col("event_type"), "rate_") % 1000000L)
    val plain = ev.join(dim, Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
           sum(col("cents") * col("rate_ppm")).as("scaled_sum"))
    val joined = df.join(plain.withColumnRenamed("n_events", "pn")
        .withColumnRenamed("scaled_sum", "ps"), Seq("event_type"), "full")
    assert(joined.filter(col("n_events").isNull || col("pn").isNull ||
      col("n_events") =!= col("pn") || col("scaled_sum") =!= col("ps")).count() == 0,
      "salted join result diverged from the plain join")
    // the physical join must key on the salt (that's the whole point)
    val p = df.queryExecution.executedPlan.toString
    val joinLine = p.linesIterator.find(_.contains("ShuffledHashJoin")).getOrElse("")
    assert(joinLine.contains("salt"), s"join not keyed by salt: $joinLine")
  }

  test("hard_negatives never labels a query's near-duplicate twin as a negative") {
    val rows = SparkEntry.queries("hard_negatives")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val qid = r.getLong(0); val neg = r.getLong(2); val cos = r.getDouble(3)
      assert(neg != qid + 1000000,
        s"query $qid's injected twin surfaced as a hard negative")
      assert(cos >= 0.10 && cos < 0.99, s"cosine $cos outside the mining band")
    }
  }

  test("split_assign is a stable partition of the corpus") {
    val df = SparkEntry.queries("split_assign")(spark, sf)
    val total = df.agg(sum(col("n_docs"))).head().getLong(0)
    assert(total == graft.model.Tables.documents(spark, sf).count(),
      "splits must partition the corpus exactly")
    // hash-split stability: the same doc_id set must reproduce the
    // same checksums on a second evaluation
    val a = df.collect().toSeq
    val b = SparkEntry.queries("split_assign")(spark, sf).collect().toSeq
    assert(a == b)
  }

  test("minLabelComponents converges on a 200-hop chain (path doubling)") {
    // a 200-node path has diameter 200: one-hop propagation alone
    // needs ~200 rounds and would blow the 20-iteration cap — the
    // pointer-jumping step is what makes this converge
    import spark.implicits._
    val fwd = (0L until 200L).map(i => (i, i + 1)).toDF("id1", "id2")
    val edges = fwd.unionAll(
      fwd.select(col("id2").as("id1"), col("id1").as("id2")))
    val labels = graft.ext.Dedup.minLabelComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size == 201)
    assert(labels.values.forall(_ == 0L),
      s"chain did not collapse to component min: ${labels.filter(_._2 != 0L).take(5)}")
  }

  test("minLabelComponents matches a union-find on a random graph") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val raw = Seq.fill(300)((rnd.nextInt(150).toLong, rnd.nextInt(150).toLong))
      .filter(p => p._1 != p._2).distinct
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    raw.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = raw.flatMap(p => Seq(p._1, p._2)).distinct
      .map(v => v -> find(v)).toMap
    val fwd = raw.toDF("id1", "id2")
    val edges = fwd.unionAll(
      fwd.select(col("id2").as("id1"), col("id1").as("id2")))
    val got = graft.ext.Dedup.minLabelComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected)
  }

  test("split_leakage finds cross-split near-dup pairs and flags them") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("split_leakage")(spark, sf).collect()
    assert(df.nonEmpty)
    // flags are consistent with the key pair
    df.foreach { r =>
      val crossSplit = r.getString(0) != r.getString(1)
      assert(r.getLong(3) == (if (crossSplit) 1L else 0L))
      assert(r.getString(0) <= r.getString(1), "split pair must be ordered")
    }
    // total pair count equals the LSH dedup pair count (same generator)
    val totalPairs = df.map(_.getLong(2)).sum
    val lsh = SparkEntry.queries("dedup_minhash_lsh")(spark, sf).count()
    assert(totalPairs == lsh)
    // with a 98/1/1 split and ~200 twin pairs, at least one leak exists
    assert(df.exists(r => r.getLong(3) == 1L))
  }

  test("pq_quantize codes are within range and codewords self-encode at zero error") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("pq_quantize")(spark, sf)
    val rows = df.collect()
    assert(rows.length == graft.model.Tables.embeddings(spark, sf).count())
    rows.foreach { r =>
      val codes = r.getString(1).split("\\|")
      assert(codes.length == 4)
      assert(codes.forall(c => c.toInt >= 0 && c.toInt < 16))
      assert(r.getLong(2) >= 0)
    }
    // a vector that IS a codebook row reconstructs itself exactly
    val self = rows.filter(_.getLong(0) < 16)
    assert(self.nonEmpty)
    self.foreach { r =>
      assert(r.getLong(2) == 0L, s"codeword vec ${r.getLong(0)} has err2 ${r.getLong(2)}")
      assert(r.getString(1) == s"${r.getLong(0)}|${r.getLong(0)}|${r.getLong(0)}|${r.getLong(0)}")
    }
    // non-codebook vectors generally cannot reconstruct exactly
    assert(rows.filter(_.getLong(0) >= 16).count(_.getLong(2) > 0) > 0)
  }

  test("importance_weights score target-domain docs above the corpus mean") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("importance_weights")(spark, sf)
    val byCat = df.groupBy(col("source") === "src0")
      .agg(avg(col("weight_ppm"))).collect()
      .map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
    // the target stratum must score above non-target on average —
    // that is the whole point of importance weighting
    assert(byCat(true) > byCat(false),
      s"target avg ${byCat(true)} !> rest ${byCat(false)}")
    // weights are ppm-positive and finite
    assert(df.filter(col("weight_ppm") <= 0).count() == 0)
  }

  test("degree_distribution conserves nodes on both axes and edges in-degree mass") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("degree_distribution")(spark, sf)
    val n = graft.model.Tables.documents(spark, sf).count()
    val sums = df.agg(sum(col("n_out_nodes")), sum(col("n_in_nodes")),
      sum(col("degree") * col("n_out_nodes")),
      sum(col("degree") * col("n_in_nodes"))).head()
    assert(sums.getLong(0) == n, "every node appears in the out histogram")
    assert(sums.getLong(1) == n, "every node appears in the in histogram")
    // total out-degree mass == total in-degree mass == |edges|
    assert(sums.getLong(2) == sums.getLong(3))
    assert(sums.getLong(2) <= 3 * n, "at most 3 probes per node survive")
  }

  test("profile_drift shares sum to ~1e6 per era and shift is the abs gap") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("profile_drift")(spark, sf).collect()
    assert(rows.nonEmpty)
    val sa = rows.map(_.getLong(5)).sum
    val sb = rows.map(_.getLong(6)).sum
    // floor-division ppm shares undershoot 1e6 by < #classes
    assert(sa > 1000000L - rows.length && sa <= 1000000L)
    assert(sb > 1000000L - rows.length && sb <= 1000000L)
    rows.foreach { r =>
      assert(r.getLong(7) == math.abs(r.getLong(5) - r.getLong(6)))
      assert(r.getDouble(3) >= 0 && r.getDouble(4) >= 0)
    }
  }

  test("importance_resample keeps high-weight docs at a higher rate") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("importance_resample")(spark, sf).collect()
    assert(df.nonEmpty)
    df.foreach { r =>
      assert(r.getLong(3) <= r.getLong(1), "kept docs cannot exceed docs")
      assert(r.getLong(4) <= r.getLong(2), "kept tokens cannot exceed tokens")
    }
    // the target source's keep-rate must beat the weakest source's
    val rates = df.map(r => r.getString(0) ->
      (r.getLong(3).toDouble / r.getLong(1))).toMap
    assert(rates("src0") >= rates.values.min)
    assert(rates("src0") > 0.5, s"target keep-rate ${rates("src0")} suspiciously low")
  }

  test("blocklist_filter blocks apex subdomains and exact hosts only") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("blocklist_filter")(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    rows.foreach { case (src, (n, blocked, kept)) =>
      assert(blocked + kept == n)
      if (src == "src2" || src == "src8") assert(blocked == n, s"$src: apex entry blocks ALL")
      else if (src == "src5") {
        assert(blocked > 0 && blocked < n, s"$src: only the ads. subdomain is listed")
      } else assert(blocked == 0, s"$src must be untouched")
    }
    // recompute src5's blocked count: docs with doc_id % 7 == 0 (ads. prefix)
    val src5 = graft.model.Tables.documents(spark, sf)
      .filter(col("source") === "src5").select("doc_id").collect().map(_.getLong(0))
    assert(rows("src5")._2 == src5.count(_ % 7 == 0))
  }

  test("rollup_maintenance certifies every month exact and conserves the fact") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("rollup_maintenance")(spark, sf)
    assert(df.filter(col("maintained_exact") =!= 1L).count() == 0,
      "a month's rollup-from-daily diverged from the direct aggregate")
    val total = df.agg(sum(col("rollup_n"))).head().getLong(0)
    assert(total == graft.model.Tables.lineitem(spark, sf).count())
  }

  test("triangle_count matches a naive in-memory census of the same graph") {
    val row = SparkEntry.queries("triangle_count")(spark, sf).head()
    val n = graft.model.Tables.documents(spark, sf).count()
    // rebuild the probe graph naively
    val edges = (0L until n).flatMap(i =>
      Seq(1, 2, 3).map(k => (i, (i * 7 + k * 13) % n)))
      .filter { case (u, v) => u != v }
      .map { case (u, v) => (math.min(u, v), math.max(u, v)) }.toSet
    val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val tris = adj.toSeq.map { case (u, vs) =>
      vs.toSeq.map(v =>
        adj.getOrElse(v, Set.empty[Long]).count(w => edges.contains((u, w)))).sum
    }.sum
    val deg = edges.toSeq.flatMap(e => Seq(e._1, e._2))
      .groupBy(identity).view.mapValues(_.size.toLong)
    val wedges = deg.values.map(d => d * (d - 1) / 2).sum
    assert(row.getLong(1) == edges.size, "edge count")
    assert(row.getLong(2) == wedges, "wedge count")
    assert(row.getLong(3) == tris, s"triangles: got ${row.getLong(3)}, naive $tris")
  }

  test("forget_audit cascade counts equal direct anti-join recomputation") {
    import org.apache.spark.sql.functions._
    val rows = SparkEntry.queries("forget_audit")(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rows.keySet == Set("customer", "events", "lineitem", "orders"))
    val forget = graft.model.Tables.events(spark, sf)
      .select("user_id").distinct().collect().map(_.getLong(0))
      .filter(_ % 13 == 0).toSet
    assert(forget.nonEmpty)
    val ev = graft.model.Tables.events(spark, sf).select("user_id").collect()
      .count(r => forget.contains(r.getLong(0)))
    assert(rows("events")._2 == ev)
    val ords = graft.model.Tables.orders(spark, sf)
      .select("o_orderkey", "o_custkey").collect()
    val hitOrders = ords.filter(r => forget.contains(r.getLong(1)))
      .map(_.getLong(0)).toSet
    assert(rows("orders")._2 == hitOrders.size)
    val li = graft.model.Tables.lineitem(spark, sf).select("l_orderkey").collect()
      .count(r => hitOrders.contains(r.getLong(0)))
    assert(rows("lineitem")._2 == li)
    assert(rows("customer")._2 == forget.size) // every event user exists in customer
  }

  test("boolean_search returns exactly the docs containing every query term") {
    val got = SparkEntry.queries("boolean_search")(spark, sf)
      .collect().map(_.getLong(0)).toSet
    val docs = graft.model.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
    val naive = docs.filter { r =>
      val t = r.getString(1).trim.split("\\s+").toSet
      Set("hash", "join", "stream").subsetOf(t)
    }.map(_.getLong(0)).toSet
    assert(got == naive)
  }

  test("phrase_search counts exact adjacent-bigram occurrences") {
    val got = SparkEntry.queries("phrase_search")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val naive = graft.model.Tables.documents(spark, sf)
      .select("doc_id", "text").collect().flatMap { r =>
        val t = r.getString(1).trim.split("\\s+")
        val n = t.sliding(2).count(p => p.length == 2 && p(0) == "hash" && p(1) == "join")
        if (n > 0) Some(r.getLong(0) -> n.toLong) else None
      }.toMap
    assert(got == naive)
  }

  test("zipf_fit slope is negative and matches a naive floor-log2 regression") {
    val row = SparkEntry.queries("zipf_fit")(spark, sf).head()
    val (n, num, den, milli) =
      (row.getLong(0), row.getLong(3), row.getLong(4), row.getLong(5))
    assert(den > 0 && num < 0, "rank-frequency must slope downward")
    assert(milli == math.floor(1000.0 * num / den).toLong)
    // recompute the points naively from the corpus
    val freqs = graft.model.Tables.documents(spark, sf)
      .select("text").collect()
      .flatMap(_.getString(0).trim.split("\\s+"))
      .groupBy(identity).view.mapValues(_.size.toLong).toSeq
      .sortBy { case (t, f) => (-f, t) }.take(64)
    def l2(x: Long) = 63 - java.lang.Long.numberOfLeadingZeros(x)
    val pts = freqs.zipWithIndex.map { case ((_, f), i) => (l2(i + 1L), l2(f)) }
    val (sx, sy) = (pts.map(_._1).sum, pts.map(_._2).sum)
    val sxy = pts.map(p => p._1.toLong * p._2).sum
    val sxx = pts.map(p => p._1.toLong * p._1).sum
    assert(n == pts.size)
    assert(num == n * sxy - sx.toLong * sy)
    assert(den == n * sxx - sx.toLong * sx)
  }

  test("k_anonymity buckets partition the customer table exactly") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("k_anonymity")(spark, sf)
    val total = df.agg(sum(col("n_customers"))).head().getLong(0)
    assert(total == graft.model.Tables.customer(spark, sf).count())
    // below_k marks exactly the sizes under the threshold
    assert(df.filter(col("class_size") < 5 && col("below_k") =!= 1L).count() == 0)
    assert(df.filter(col("class_size") >= 5 && col("below_k") =!= 0L).count() == 0)
  }

  test("event_order_audit counts ts regressions in arrival order per user") {
    import org.apache.spark.sql.functions._
    val df = SparkEntry.queries("event_order_audit")(spark, sf)
    val totals = df.agg(sum(col("n_events")), sum(col("n_disordered"))).head()
    assert(totals.getLong(0) == graft.model.Tables.events(spark, sf).count())
    // naive recount over the whole (small) event table
    val naive = graft.model.Tables.events(spark, sf)
      .select("user_id", "event_id", "ts").collect()
      .groupBy(_.getLong(0)).values.map { evs =>
        evs.sortBy(_.getLong(1)).map { r =>
          val i = r.getTimestamp(2).toInstant
          i.getEpochSecond * 1000000L + i.getNano / 1000L
        }.sliding(2).count(p => p.length == 2 && p(1) < p(0)).toLong
      }.sum
    assert(totals.getLong(1) == naive)
  }

  test("media_resize halves dimensions and samples a subset of the raster") {
    val dec = SparkEntry.queries("media_decode")(spark, sf)
      .select("media_id", "width", "height", "sum_r", "sum_g", "sum_b")
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    val res = SparkEntry.queries("media_resize")(spark, sf).collect()
    assert(res.nonEmpty)
    res.foreach { r =>
      val (w, h, sr, sg, sb) = dec(r.getLong(0))
      assert(r.getInt(3) == (w + 1) / 2 && r.getInt(4) == (h + 1) / 2,
        s"wrong output dims for media ${r.getLong(0)}")
      // nearest-neighbor sampling reads a strict subset of the raster
      assert(r.getLong(5) <= sr && r.getLong(6) <= sg && r.getLong(7) <= sb,
        s"resized channel sums exceed the full raster for ${r.getLong(0)}")
    }
  }

  test("graph_components census covers every node exactly once") {
    val df = SparkEntry.queries("graph_components")(spark, sf)
      .select("component_size", "n_components", "n_nodes").collect()
    val nDocs = graft.model.Tables.documents(spark, sf).count()
    // node-mass conservation: a symmetrization bug (positional union
    // of an un-reprojected using-join) under-merges and shifts mass
    // into smaller sizes — caught at sf1; this pins the invariants
    // that hold at every scale
    assert(df.map(_.getLong(2)).sum == nDocs, "census loses/duplicates nodes")
    df.foreach { r =>
      assert(r.getLong(0) * r.getLong(1) == r.getLong(2),
        s"size*count != mass in row $r")
    }
    assert(df.map(_.getLong(0)).max > 1, "no multi-node component found")
  }

  test("entity_resolution links every synthesized twin and rejects block collisions") {
    val rows = SparkEntry.queries("entity_resolution")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val nCust = graft.model.Tables.customer(spark, sf).count()
    val twinIds = (0L until nCust by 23).toSet
    // every dirty re-arrival must be matched back to its original
    twinIds.foreach { id =>
      assert(rows.exists { case (n, o, _, m) =>
        n == id + 5000000L && o == id && m == 1L },
        s"twin of $id not linked")
    }
    // a candidate that is NOT the original must never clear the bar:
    // its normalized name differs, so score <= 8 + 4 < 32
    rows.filter { case (n, o, _, _) => n != o + 5000000L }.foreach {
      case (n, o, s, m) =>
        assert(m == 0L && s < 32L, s"false positive: ($n, $o) score $s")
    }
  }

  test("random_walks are valid paths over the link graph and absorb at dangles") {
    val df = SparkEntry.queries("random_walks")(spark, sf).collect()
    val nDocs = graft.model.Tables.documents(spark, sf).count()
    assert(df.length == (0L until nDocs by 50).length)
    val ids = graft.model.Tables.documents(spark, sf)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    df.foreach { r =>
      val path = Seq(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      path.foreach(n => assert(ids(n), s"walk visits non-node $n"))
      // each step's target must be one of the three affine probes of
      // the previous node (or the absorbing self-loop)
      path.sliding(2).foreach { case Seq(a, b) =>
        val probes = (1 to 3).map(k => ((a * 7 + k * 13) % nDocs + nDocs) % nDocs)
        assert(b == a || probes.contains(b), s"illegal step $a -> $b")
      }
    }
  }

  test("compaction_plan bins respect the lower bound and never overfill") {
    val df = SparkEntry.queries("compaction_plan")(spark, sf).collect()
    assert(df.nonEmpty)
    df.foreach { r =>
      val (nFiles, total, cap, bins, ideal, fill) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))
      assert(bins >= ideal, s"bins $bins below lower bound $ideal")
      assert(bins <= nFiles, s"more bins than files in $r")
      assert(fill <= 1000L || bins == 1L, s"fill rate $fill over capacity")
      assert(total > 0 && cap > 0)
    }
  }

  test("embed_truncate_eval reports full recall at the widest kept truncation") {
    val rows = SparkEntry.queries("embed_truncate_eval")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.length == 8 * 3)   // NQUERIES x {8, 16, 32}
    rows.foreach { case (_, dims, hits, ppm) =>
      assert(hits >= 0 && hits <= 5 && ppm == hits * 200000L)
      assert(Seq(8L, 16L, 32L).contains(dims))
    }
    // truncation must genuinely cost recall somewhere at dim 8 but
    // keep signal: the average over queries sits strictly inside (0, 1)
    val at8 = rows.filter(_._2 == 8L).map(_._3).sum
    val at32 = rows.filter(_._2 == 32L).map(_._3).sum
    assert(at32 >= at8, "wider truncation lost recall overall")
    assert(at8 > 0, "dim-8 truncation lost ALL signal — eval degenerate")
  }

  test("snapshot_diff classifies exactly the synthesized version drift") {
    val keys = graft.model.Tables.orders(spark, sf)
      .select("o_orderkey").collect().map(_.getLong(0))
    val added     = keys.count(k => k % 101 == 0 && k % 97 != 0).toLong
    val removed   = keys.count(k => k % 97 == 0 && k % 101 != 0).toLong
    val changed   = keys.count(k => k % 89 == 0 && k % 97 != 0 && k % 101 != 0).toLong
    val unchanged = keys.count(k => k % 89 != 0 && k % 97 != 0 && k % 101 != 0).toLong
    val got = SparkEntry.queries("snapshot_diff")(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    def n(c: String): Long = got.get(c).map(_._1).getOrElse(0L)
    assert(n("added") == added && n("removed") == removed &&
      n("changed") == changed && n("unchanged") == unchanged,
      s"got $got vs ($added, $removed, $changed, $unchanged)")
    // every changed row moved by exactly the injected 500 cents, and
    // no other class accumulates any delta
    assert(got.get("changed").forall(_._2 == 500L * changed))
    assert(Seq("added", "removed", "unchanged")
      .forall(c => got.get(c).forall(_._2 == 0L)))
  }

  test("retrieval_mrr metrics are internally consistent and non-degenerate") {
    val rows = SparkEntry.queries("retrieval_mrr")(spark, sf).collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("hash", "join", "stream"))
    rows.foreach { r =>
      val (gold, hits, mrr, rec, prec) =
        (r.getLong(1), r.getLong(2), r.getLong(4), r.getLong(5), r.getLong(6))
      val firstRank = if (r.isNullAt(3)) None else Some(r.getLong(3))
      assert(gold > 0, s"degenerate gold set for ${r.getString(0)}")
      assert(hits >= 0 && hits <= 10)
      assert(prec == hits * 1000000L / 10L)
      assert(rec == hits * 1000000L / gold)
      firstRank match {
        case Some(fr) => assert(fr >= 1 && fr <= 10 && mrr == 1000000L / fr)
        case None     => assert(mrr == 0L && hits == 0L)
      }
      // tf>=3 docs exist and tf-monotone BM25 must surface at least one
      assert(hits > 0, s"eval found no relevant docs in the top-10 head")
    }
  }

  test("label_propagation partitions every node and actually coarsens") {
    val nDocs = graft.model.Tables.documents(spark, sf).count()
    val rows = SparkEntry.queries("label_propagation")(spark, sf).collect()
    assert(rows.nonEmpty)
    var nodes = 0L; var communities = 0L
    rows.foreach { r =>
      val (size, nc, nn, moves) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      assert(size * nc == nn, s"histogram row inconsistent: $r")
      assert(moves >= 0 && moves <= nDocs)
      nodes += nn; communities += nc
    }
    // a partition of the node set (labels are a function, sizes disjoint)
    assert(nodes == nDocs, s"histogram covers $nodes of $nDocs nodes")
    // plurality propagation over the affine graph must merge SOMETHING
    assert(communities < nDocs, "no label ever propagated")
    assert(communities >= 1)
  }

  test("hits_scores normalizes the top authority to exactly BASE") {
    val rows = SparkEntry.queries("hits_scores")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.length == 20)
    // max-normalization: the strongest authority holds exactly 1e6
    assert(rows.head._2 == 1000000L,
      s"top authority ${rows.head._2} != 1e6 after max-normalization")
    // sorted by authority desc, every score inside [0, 1e6]
    assert(rows.toSeq.sliding(2).forall { case Seq(a, b) => a._2 >= b._2 })
    rows.foreach { case (_, a, h) =>
      assert(a >= 0 && a <= 1000000L && h >= 0 && h <= 1000000L)
    }
  }

  test("freshness_audit shares sum to ~1e6 ppm and cover every event") {
    val nEvents = graft.model.Tables.events(spark, sf).count()
    val rows = SparkEntry.queries("freshness_audit")(spark, sf).collect()
    val byType = rows.groupBy(_.getString(0))
    assert(byType.keySet.size == 5)
    assert(rows.map(_.getLong(2)).sum == nEvents)
    byType.foreach { case (t, rs) =>
      rs.foreach { r =>
        assert(r.getLong(1) >= 0 && r.getLong(1) <= 40,
          s"$t staleness ${r.getLong(1)} days outside the 30-day corpus")
      }
      val ppm = rs.map(_.getLong(3)).sum
      // exact integer floors: total in (1e6 - #buckets, 1e6]
      assert(ppm <= 1000000L && ppm > 1000000L - rs.length,
        s"$t ppm shares sum to $ppm over ${rs.length} buckets")
    }
  }

  test("embedding_pca emits a unit-normalized 64-dim loading vector") {
    val rows = SparkEntry.queries("embedding_pca")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.map(_._1).toSeq == (1L to 64L))
    val maxAbs = rows.map(r => math.abs(r._2)).max
    // renormalization by g = max(1, wmax div 1000) pins the largest
    // |loading| into [1000, 2000): the documented BIGINT-bound window
    assert(maxAbs >= 1000L && maxAbs < 2000L, s"max |loading| $maxAbs")
    rows.foreach { case (_, l, s) =>
      assert(math.abs(l) <= maxAbs); assert(s > 0)
    }
    assert(rows.map(_._3).distinct.length == 1, "scale_max must be constant")
  }

  test("media_neardup finds every perturbed twin and no byte-exact twin") {
    val rows = SparkEntry.queries("media_neardup")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    // Hamming-<=1 is the operator's definition; the split probe fan
    // (17 signature variants left x 3 band offsets right) must never
    // surface a farther pair
    rows.foreach { case (id1, id2, ham, _) =>
      assert(ham >= 0 && ham <= 1, s"pair ($id1,$id2) at hamming $ham")
      assert(id1 < id2)
    }
    // every doc_id % 5 == 0 image has an injected one-byte-perturbed
    // twin at +1,000,000. The perturbation also shifts the TOTAL, so
    // a bucket OTHER than the touched one can flip when its mass sits
    // within the delta of the cross-multiplied threshold — a twin at
    // Hamming >= 2 is then (correctly, per the operator's definition)
    // not a pair. The invariant the operator owes is EXACT recall at
    // its own threshold: every twin whose signature Hamming truly is
    // <= 1 must surface, and any missing twin must genuinely sit at
    // Hamming >= 2 per the fingerprint kernel itself.
    val sigByIdRows = graft.ext.Multimodal.fingerprintImages(spark, sf)
      .collect().map(f => f.media_id -> f.sig).toMap
    val baseIds = graft.model.Tables.documents(spark, sf)
      .filter(col("doc_id") % 5 === 0)
      .select(col("doc_id")).collect().map(_.getLong(0))
    val twinPairs = rows.filter { case (a, b, _, _) => b == a + 1000000L }
    val foundBase = twinPairs.map(_._1).toSet
    baseIds.foreach { id =>
      val trueHam = java.lang.Long.bitCount(
        sigByIdRows(id) ^ sigByIdRows(id + 1000000L))
      if (trueHam <= 1)
        assert(foundBase(id), s"twin of $id at hamming $trueHam missed")
      else
        assert(!foundBase(id), s"twin of $id at hamming $trueHam surfaced")
    }
    // the margin cases must stay rare — the fixture is useless if the
    // threshold sheds a large share of the injected twins
    assert(twinPairs.length * 10 >= baseIds.length * 9,
      s"found only ${twinPairs.length} of ${baseIds.length} perturbed twins")
    // a perturbed twin is perceptually equal but NEVER byte-exact
    twinPairs.foreach { case (a, _, _, exact) =>
      assert(!exact, s"twin of $a flagged byte-exact despite the bump")
    }
  }

  test("media_phash is exactly brightness-invariant where the aHash band gate is not") {
    val m = graft.ext.Multimodal.ppmPhashTwinTable(spark, sf)
    val ph = SparkEntry.queries("media_phash")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    val fps = graft.ext.Multimodal.fingerprintImagesOf(m).collect()
    val ahSig = fps.map(f => f.media_id -> f.sig).toMap
    val ahTot = fps.map(f => f.media_id -> f.lum_total).toMap
    val baseIds = ph.keys.filter(id => id < 1000000L && id % 6 == 0 &&
      ph.contains(id + 1000000L)).toSeq.sorted
    assert(baseIds.nonEmpty, "fixture drifted — no brightness twins")
    // DC exclusion + zero-row-sum quantized basis → EVERY re-exposed
    // twin hashes identically (provable, not statistical)
    baseIds.foreach { id =>
      assert(ph(id) == ph(id + 1000000L),
        s"phash of brightness twin $id drifted")
      // the aHash SIGNATURE is also shift-invariant — the miss below
      // is purely the pipeline's luminance band gate
      assert(ahSig(id) == ahSig(id + 1000000L))
    }
    // ... but some twins move >= 2 luminance bands (Δtotal = 9·npix,
    // up to 432 > 256), past media_neardup's ±1 probe — the
    // perturbation class the DCT signature adds over the aHash rung
    val escapes = baseIds.count(id =>
      math.abs(ahTot(id + 1000000L) / 256L - ahTot(id) / 256L) >= 2)
    assert(escapes >= 1,
      "no twin escaped the aHash band — fixture no longer demonstrates the gap")
    // the signature still discriminates: the corpus must not collapse
    // into a handful of phash values
    assert(ph.values.toSet.size >= 20,
      s"phash degenerate: ${ph.values.toSet.size} distinct values")
  }

  test("bpe_learn survives a merge that collapses a word to one symbol") {
    import spark.implicits._
    // 'in' dominates, so round 1 merges (i, n) and the word 'in'
    // becomes a SINGLE symbol — Spark sequence(1, size-1) would
    // descend as [1, 0] for it and throw on element_at(syms, 0)
    // under ANSI in round 2 without the size >= 2 pair guard; the
    // other words keep later rounds non-degenerate
    val texts = (Seq.fill(50)("in") ++ Seq.fill(10)("inner printing") ++
      Seq.fill(5)("mint pint")).toDF("text")
    val rows = graft.ext.Curation.bpeLearnOf(texts).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(rows.map(_._1).toSeq == Seq(1L, 2L, 3L, 4L))
    assert((rows.head._2, rows.head._3) == ("i", "n"),
      s"round 1 picked (${rows.head._2},${rows.head._3}), fixture drifted")
  }

  test("bpe_learn round 1 is the true frequency argmax and compression is monotone") {
    val rows = SparkEntry.queries("bpe_learn")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4)))
    assert(rows.map(_._1).toSeq == Seq(1L, 2L, 3L, 4L))
    // recompute round 1 by hand from the word-frequency table: most
    // frequent adjacent CHAR pair, ties to the lexicographically least
    val wf = graft.model.Tables.documents(spark, sf)
      .select(explode(split(trim(col("text")), "\\s+")).as("w"))
      .filter(length(col("w")) >= 2 && !col("w").contains("|"))
      .groupBy("w").count().collect()
      .map(r => r.getString(0) -> r.getLong(1))
    val pairCnt = scala.collection.mutable.Map.empty[(String, String), Long]
      .withDefaultValue(0L)
    var tokens0 = 0L
    wf.foreach { case (w, f) =>
      tokens0 += w.length * f
      w.sliding(2).foreach { p =>
        pairCnt((p.substring(0, 1), p.substring(1))) += f
      }
    }
    val (bestPair, bestCnt) = pairCnt.toSeq
      .map { case (p, c) => (p, c) }
      .minBy { case ((a, b), c) => (-c, a, b) }
    val r1 = rows.head
    assert((r1._2, r1._3) == bestPair && r1._4 == bestCnt,
      s"round 1 picked (${r1._2},${r1._3})x${r1._4}, hand says $bestPair x $bestCnt")
    // every merge strictly compresses, by at most its own pair count
    // (overlapping occurrences merge fewer than they count)
    val trail = tokens0 +: rows.map(_._5).toSeq
    trail.sliding(2).zip(rows.iterator).foreach { case (Seq(pre, post), r) =>
      assert(post < pre, s"round ${r._1} did not compress")
      assert(pre - post <= r._4,
        s"round ${r._1} merged more than its pair count")
    }
  }
}
