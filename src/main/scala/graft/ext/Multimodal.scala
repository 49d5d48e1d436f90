package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Tables
import graft.util.Hashing

/** Multimodal-column plumbing (BASELINE.json north-star): media as
  * opaque `binary` columns with typed metadata, batch-shaped
  * decode / feature-extract operators.
  *
  * The decode kernels ([[decodeImages]], [[mediaDecode]]) do REAL
  * bytes-to-pixels decoding of binary P6 PPM images — header parse +
  * raster walk — inside the production
  * `mapPartitions` shape (one decoder scope per partition, streaming
  * over rows — exactly where a JNI/FFmpeg/torch call would sit for
  * compressed codecs this container doesn't ship). The decoded
  * content is oracle-checked end to end. [[mediaFeatures]] is the
  * complementary pure-expression metadata path that stays in codegen
  * (its hash-derived `fake_brightness` is a labeled stand-in
  * feature, not a decode).
  *
  * Scale: media bytes dominate row width, so the operators project
  * the binary column as late as possible (column pruning keeps scans
  * narrow until decode), and decode parallelism is partition-level —
  * the 100 TB path is "repartition to decoder count, mapPartitions,
  * write features", no shuffle of raw bytes beyond the repartition.
  */
object Multimodal {

  /** Documents dressed as a media table: text bytes play the blob
    * (deterministic, so the oracle can check the plumbing). */
  def mediaTable(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id").as("media_id"),
      encode(col("text"), "UTF-8").as("blob"),
      struct(
        (col("n_chars") % 1920).cast("int").as("width"),
        (col("n_chars") % 1080).cast("int").as("height"),
        when(col("doc_id") % 3 === 0, "h264")
          .when(col("doc_id") % 3 === 1, "vp9").otherwise("av1").as("codec"))
        .as("meta"))

  /** Pure-expression feature extraction over the media table
    * (codegen path; oracle-checked): sizes, frame sampling counts,
    * and the stubbed "decode" features derived from the blob hash. */
  def mediaFeatures(spark: SparkSession, dir: String): DataFrame = {
    val m = mediaTable(spark, dir)
      .withColumn("n_bytes", octet_length(col("blob")).cast("long"))
      .withColumn("n_frames", (col("n_bytes") % 30 + 1).cast("long"))
      // sample every 5th frame: ceil(n_frames / 5)
      .withColumn("n_sampled", ((col("n_frames") + 4) / 5).cast("long"))
      // labeled stand-in feature (hash bucket) — the REAL decode path
      // is decodeImages/mediaDecode; this column exists to exercise
      // the codegen'd expression lane over the blob
      .withColumn("fake_brightness", Hashing.phash(col("blob").cast("string"), "px_") % 256)
    m.select(col("media_id"), col("n_bytes"),
        col("meta.width").as("width"), col("meta.height").as("height"),
        col("meta.codec").as("codec"), col("n_frames"), col("n_sampled"),
        col("fake_brightness"))
      .orderBy(col("media_id"))
  }

  val mediaFeaturesSql: String =
    s"""WITH m AS (
         SELECT doc_id AS media_id, text,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           CAST(n_chars % 1920 AS INTEGER) AS width,
           CAST(n_chars % 1080 AS INTEGER) AS height,
           CASE WHEN doc_id % 3 = 0 THEN 'h264'
                WHEN doc_id % 3 = 1 THEN 'vp9' ELSE 'av1' END AS codec
         FROM documents)
       SELECT media_id, n_bytes, width, height, codec,
         CAST(n_bytes % 30 + 1 AS BIGINT) AS n_frames,
         CAST((n_bytes % 30 + 1 + 4) // 5 AS BIGINT) AS n_sampled,
         ${Hashing.phashSql("text", "px_")} % 256 AS fake_brightness
       FROM m ORDER BY media_id"""

  /** Exact binary dedup over the media table — content-hash groupBy
    * on the blob bytes, the image/audio counterpart of the text
    * `dedup_exact` pass, plus the storage accounting a curation run
    * reports (copies beyond the keeper are reclaimable bytes). One
    * shuffle on the content hash; the blob itself never shuffles —
    * only (hash, id, n_bytes) rides the exchange, so row width stays
    * bytes-free no matter how large the media get. */
  def mediaDedup(spark: SparkSession, dir: String): DataFrame = {
    val base = mediaTable(spark, dir)
    // the raw corpus has no byte-exact copies (its twins differ by a
    // suffix token) — inject exact replicas deterministically so the
    // dedup path has real positives and the oracle rebuilds them
    // +1,000,000 keeps the copy ids clear of real doc_ids at deep
    // replica scales (sf10 doc_ids reach ~500,495 — the same headroom
    // rule the dedup/similarity corpora follow)
    val copies = base.filter(col("media_id") % 7 === 0)
      .select((col("media_id") + 1000000).as("media_id"), col("blob"), col("meta"))
    val m = base.unionAll(copies).select(
      col("media_id"),
      Hashing.phash(col("blob").cast("string"), "blob_").as("content_key"),
      octet_length(col("blob")).cast("long").as("n_bytes"))
    m.groupBy(col("content_key"))
      .agg(count(lit(1)).as("n_copies"),
           min(col("media_id")).as("keeper_id"),
           // copies of one content share a byte size — any aggregate
           // of n_bytes is THE size; min is deterministic
           min(col("n_bytes")).as("n_bytes"))
      .filter(col("n_copies") >= 2)
      .withColumn("reclaimable_bytes", (col("n_copies") - 1) * col("n_bytes"))
      .select(col("keeper_id"), col("content_key"), col("n_copies"),
        col("n_bytes"), col("reclaimable_bytes"))
      .orderBy(col("keeper_id"))
  }

  val mediaDedupSql: String =
    s"""WITH b AS (
         SELECT doc_id AS media_id, text FROM documents
         UNION ALL
         SELECT doc_id + 1000000 AS media_id, text FROM documents
         WHERE doc_id % 7 = 0),
       m AS (
         SELECT media_id,
           ${Hashing.phashSql("text", "blob_")} AS content_key,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
         FROM b),
       g AS (
         SELECT content_key, CAST(count(*) AS BIGINT) AS n_copies,
           min(media_id) AS keeper_id, min(n_bytes) AS n_bytes
         FROM m GROUP BY content_key)
       SELECT keeper_id, content_key, n_copies, n_bytes,
         CAST((n_copies - 1) * n_bytes AS BIGINT) AS reclaimable_bytes
       FROM g WHERE n_copies >= 2 ORDER BY keeper_id"""

  // ---- Real decode path: binary P6 PPM images ----------------------

  /** Deterministic REAL-image media table: each document becomes a
    * valid binary P6 PPM — `"P6\n{w} {h}\n255\n"` header followed by
    * w·h·3 raw pixel bytes cycled from the document's pure-ASCII text
    * (ASCII byte == char code, which is what lets the DuckDB oracle
    * reproduce the DECODED content without a decoder of its own).
    * Dimensions vary per row (w∈4..8, h∈3..6) so the header parse is
    * load-bearing, not a constant. Preconditions — pure-ASCII text
    * (a multi-byte UTF-8 char would make the byte raster silently
    * diverge from the oracle's per-CHAR arithmetic) and text length
    * ≥ 36 (4·len must cover the 144-byte max pixel payload; the test
    * corpora sit at ≥ 44) — are asserted IN-PLAN via a `raise_error`
    * branch evaluated only on violating rows (the repo's
    * dedupIncremental convention), not left as a scaladoc note.
    *
    * The blob is synthesized IN-PLAN (encode/concat/substr — all
    * codegen) — the kernel downstream sees only `(media_id, blob:
    * binary)`, exactly the shape a parquet of real thumbnails
    * presents. */
  def ppmMediaTable(spark: SparkSession, dir: String): DataFrame = {
    val w = (col("doc_id") % 5 + 4).cast("int")
    val h = (col("doc_id") % 4 + 3).cast("int")
    val wellFormed =
      col("text").isNotNull && length(col("text")) >= 36 &&
        !col("text").rlike("[^\\x00-\\x7F]")
    val text = when(wellFormed, col("text")).otherwise(
      raise_error(concat(
        lit("ppmMediaTable: text must be pure ASCII and >= 36 chars, doc_id="),
        col("doc_id").cast("string"))))
    Tables.documents(spark, dir).select(
      col("doc_id").as("media_id"),
      encode(concat(
        lit("P6\n"), w.cast("string"), lit(" "), h.cast("string"), lit("\n255\n"),
        repeat(text, 4).substr(lit(1), w * h * 3)), "UTF-8").as("blob"))
  }

  /** Minimal binary P6 parser: magic, whitespace-separated
    * width/height/maxval, one whitespace, then w·h·3 raw bytes.
    * Returns (width, height, pixel offset). Rejects non-P6 and
    * non-8-bit images loudly — a decode kernel must fail on
    * malformed media, not fabricate features. */
  private[graft] def parsePpmHeader(blob: Array[Byte]): (Int, Int, Int) = {
    require(blob.length >= 2 && blob(0) == 'P' && blob(1) == '6',
      "not a binary P6 PPM")
    var i = 2
    def int(): Int = {
      while (i < blob.length && Character.isWhitespace(blob(i))) i += 1
      require(i < blob.length && blob(i) >= '0' && blob(i) <= '9',
        s"malformed PPM header at byte $i")
      var v = 0
      while (i < blob.length && blob(i) >= '0' && blob(i) <= '9') {
        v = v * 10 + (blob(i) - '0'); i += 1
      }
      v
    }
    val w = int(); val h = int(); val maxv = int()
    require(maxv == 255, s"unsupported PPM maxval $maxv")
    i += 1 // the single whitespace separating header from raster
    require(blob.length >= i + w * h * 3,
      s"truncated PPM raster: need ${w * h * 3} bytes, have ${blob.length - i}")
    (w, h, i)
  }

  /** Decoded-image record produced by the batch kernel: parsed
    * dimensions plus exact per-channel byte sums (the checksum the
    * oracle recomputes from the source text). */
  case class DecodedImage(media_id: Long, width: Int, height: Int,
                          sum_r: Long, sum_g: Long, sum_b: Long)

  /** The mapPartitions decode kernel — REAL bytes-to-pixels decoding
    * (P6 PPM: header parse + raster walk), in the exact production
    * shape: one decoder scope per partition, rows streamed through
    * it, repartitioned to the session's `defaultParallelism` (the
    * repo's repartition convention), which sizes the decode to the
    * decoder count rather than the data size, so the kernels saturate
    * a local master and any cluster alike. A JPEG/H.264 deployment swaps
    * the parser body for the codec call; schema, batching and
    * partition layout stay as they are here. */
  def decodeImages(spark: SparkSession, dir: String): Dataset[DecodedImage] = {
    import spark.implicits._
    val m = ppmMediaTable(spark, dir)
      .select(col("media_id").cast("long"), col("blob"))
      .repartition(spark.sparkContext.defaultParallelism)
    m.as[(Long, Array[Byte])].mapPartitions { rows =>
      rows.map { case (id, blob) =>
        val (w, h, off) = parsePpmHeader(blob)
        var k = 0; val n = w * h * 3
        var sr = 0L; var sg = 0L; var sb = 0L
        while (k < n) {
          val v = (blob(off + k) & 0xff).toLong
          (k % 3: @annotation.switch) match {
            case 0 => sr += v
            case 1 => sg += v
            case _ => sb += v
          }
          k += 1
        }
        DecodedImage(id, w, h, sr, sg, sb)
      }
    }
  }

  /** Decoded-content query surface over [[decodeImages]] — the
    * oracle twin recomputes width/height/channel sums directly from
    * the ASCII source text, so a mistake anywhere in the synthesize →
    * encode → header-parse → raster-walk chain hash-mismatches. */
  def mediaDecode(spark: SparkSession, dir: String): DataFrame =
    decodeImages(spark, dir).toDF()
      .select(col("media_id"), col("width"), col("height"),
        col("sum_r"), col("sum_g"), col("sum_b"))
      .orderBy(col("media_id"))

  val mediaDecodeSql: String = {
    def chanSql(c: Int) =
      s"""CAST(list_sum(list_transform(generate_series(1, width * height * 3),
           k -> CASE WHEN (k - 1) % 3 = $c THEN unicode(substr(src, k, 1)) ELSE 0 END)) AS BIGINT)"""
    s"""WITH m AS (
         SELECT doc_id AS media_id,
           CAST(doc_id % 5 + 4 AS INTEGER) AS width,
           CAST(doc_id % 4 + 3 AS INTEGER) AS height,
           substr(repeat(text, 4), 1,
             CAST((doc_id % 5 + 4) * (doc_id % 4 + 3) * 3 AS INTEGER)) AS src
         FROM documents)
       SELECT media_id, width, height,
         ${chanSql(0)} AS sum_r, ${chanSql(1)} AS sum_g, ${chanSql(2)} AS sum_b
       FROM m ORDER BY media_id"""
  }

  /** Resized-image record from the nearest-neighbor downsample
    * kernel: source + output dimensions and exact per-channel sums
    * of the DOWNSAMPLED raster. */
  case class ResizedImage(media_id: Long, width: Int, height: Int,
                          out_w: Int, out_h: Int,
                          sum_r: Long, sum_g: Long, sum_b: Long)

  /** REAL image resize — nearest-neighbor 2× downsample inside the
    * same mapPartitions decode scope as [[decodeImages]] (the
    * thumbnail/embedding-input preprocessing step of a multimodal
    * training pipeline: decode, sample every 2nd pixel in each
    * dimension, hand the small raster on). Output pixel (x, y, c)
    * reads source byte ((2y)·w + 2x)·3 + c — integer index
    * arithmetic the DuckDB twin reproduces per CHARACTER of the
    * ASCII source, so a half-pixel error anywhere in the walk
    * hash-mismatches. Ceil dimensions ((w+1)/2) keep odd sizes
    * honest. */
  def resizeImages(spark: SparkSession, dir: String): Dataset[ResizedImage] = {
    import spark.implicits._
    val m = ppmMediaTable(spark, dir)
      .select(col("media_id").cast("long"), col("blob"))
      .repartition(spark.sparkContext.defaultParallelism)
    m.as[(Long, Array[Byte])].mapPartitions { rows =>
      rows.map { case (id, blob) =>
        val (w, h, off) = parsePpmHeader(blob)
        val w2 = (w + 1) / 2; val h2 = (h + 1) / 2
        var sr = 0L; var sg = 0L; var sb = 0L
        var y = 0
        while (y < h2) {
          var x = 0
          while (x < w2) {
            val p = off + ((y * 2) * w + x * 2) * 3
            sr += (blob(p) & 0xff); sg += (blob(p + 1) & 0xff)
            sb += (blob(p + 2) & 0xff)
            x += 1
          }
          y += 1
        }
        ResizedImage(id, w, h, w2, h2, sr, sg, sb)
      }
    }
  }

  /** Query surface over [[resizeImages]] — content-oracled like
    * [[mediaDecode]]: the twin recomputes the downsampled sums from
    * the ASCII source with the same index arithmetic. */
  def mediaResize(spark: SparkSession, dir: String): DataFrame =
    resizeImages(spark, dir).toDF()
      .select(col("media_id"), col("width"), col("height"),
        col("out_w"), col("out_h"),
        col("sum_r"), col("sum_g"), col("sum_b"))
      .orderBy(col("media_id"))

  val mediaResizeSql: String = {
    def chanSql(c: Int) =
      s"""CAST(list_sum(list_transform(generate_series(0, out_w * out_h - 1),
           p -> unicode(substr(src,
             ((p // out_w) * 2 * width + (p % out_w) * 2) * 3 + $c + 1, 1))))
           AS BIGINT)"""
    s"""WITH m AS (
         SELECT doc_id AS media_id,
           CAST(doc_id % 5 + 4 AS INTEGER) AS width,
           CAST(doc_id % 4 + 3 AS INTEGER) AS height,
           CAST((doc_id % 5 + 4 + 1) // 2 AS INTEGER) AS out_w,
           CAST((doc_id % 4 + 3 + 1) // 2 AS INTEGER) AS out_h,
           substr(repeat(text, 4), 1,
             CAST((doc_id % 5 + 4) * (doc_id % 4 + 3) * 3 AS INTEGER)) AS src
         FROM documents)
       SELECT media_id, width, height, out_w, out_h,
         ${chanSql(0)} AS sum_r, ${chanSql(1)} AS sum_g, ${chanSql(2)} AS sum_b
       FROM m ORDER BY media_id"""
  }

  // ---- Real decode path: RIFF/WAVE 16-bit PCM audio -----------------
  //
  // The reference's domain is audio STREAMING (real_parse.pl:296-316
  // parses audio_format and bandwidth stats from RealServer logs) —
  // this is the audio twin of the PPM kernel: a real byte-level
  // container parse (RIFF chunk walk, little-endian fields, two's-
  // complement 16-bit samples) whose decoded content the DuckDB
  // oracle recomputes from the ASCII source text.

  /** Per-byte hex (two uppercase digits) of a 0..255 column. */
  private def byteHex(b: Column): Column = lpad(hex(b), 2, "0")

  /** Little-endian hex of a non-negative 16-/32-bit value — the
    * in-plan byte packer (unhex of the concatenated string is the
    * only way to synthesize bytes ≥ 0x80 in-plan; encode(utf-8)
    * would multi-byte them). */
  private def le16hex(x: Column): Column =
    concat(byteHex(pmod(x, lit(256))), byteHex(pmod(shiftright(x, 8), lit(256))))
  private def le32hex(x: Column): Column =
    concat(byteHex(pmod(x, lit(256))),
      byteHex(pmod(shiftright(x, 8), lit(256))),
      byteHex(pmod(shiftright(x, 16), lit(256))),
      byteHex(pmod(shiftright(x, 24), lit(256))))

  private def asciiHex(s: String): Column =
    lit(s.getBytes("US-ASCII").map("%02X".format(_)).mkString)

  /** Deterministic REAL-audio media table: each document becomes a
    * valid canonical RIFF/WAVE file — 44-byte PCM header (chunk
    * sizes, channel count, sample rate, byte rate, block align all
    * consistent and varying per row, so the header parse is
    * load-bearing) followed by interleaved 16-bit little-endian
    * samples. Sample k is `ascii(text[k mod len]) * 256 − 16000`:
    * negative for most ASCII text, so two's-complement packing and
    * sign extension are exercised, and the DuckDB oracle can
    * recompute every decoded statistic from the text without a
    * decoder. Channels ∈ {1,2}, rate ∈ {8000, 11025, 16000, 22050},
    * 40–62 frames per doc. Precondition (pure-ASCII, non-empty text)
    * is asserted in-plan, the [[ppmMediaTable]] convention. */
  def wavMediaTable(spark: SparkSession, dir: String): DataFrame = {
    val wellFormed =
      col("text").isNotNull && length(col("text")) >= 1 &&
        !col("text").rlike("[^\\x00-\\x7F]")
    val text = when(wellFormed, col("text")).otherwise(
      raise_error(concat(
        lit("wavMediaTable: text must be pure ASCII and non-empty, doc_id="),
        col("doc_id").cast("string"))))
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"), text.as("src"))
      .withColumn("c", expr("CAST(doc_id % 2 + 1 AS INT)"))
      .withColumn("rate", expr(
        """CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 8000 WHEN 1 THEN 11025
           WHEN 2 THEN 16000 ELSE 22050 END"""))
      .withColumn("nf", expr("CAST(40 + doc_id % 23 AS INT)"))
      .withColumn("len", length(col("src")))
    val dataBytes = col("nf") * col("c") * 2
    // interleaved samples, LE two's complement via pmod 2^16
    val samplesHex = expr(
      """array_join(transform(sequence(0, nf * c - 1), k ->
           concat(
             lpad(hex(pmod(ascii(substring(src, CAST(k % len AS INT) + 1, 1))
               * 256 - 16000, 65536) % 256), 2, '0'),
             lpad(hex(pmod(ascii(substring(src, CAST(k % len AS INT) + 1, 1))
               * 256 - 16000, 65536) div 256), 2, '0'))), '')""")
    base.select(
      col("doc_id").as("media_id"),
      unhex(concat(
        asciiHex("RIFF"), le32hex(lit(36) + dataBytes), asciiHex("WAVE"),
        asciiHex("fmt "), le32hex(lit(16)),
        le16hex(lit(1)), le16hex(col("c")), le32hex(col("rate")),
        le32hex(col("rate") * col("c") * 2), le16hex(col("c") * 2),
        le16hex(lit(16)),
        asciiHex("data"), le32hex(dataBytes),
        samplesHex)).as("blob"))
  }

  /** Minimal strict RIFF/WAVE reader: verifies the RIFF size, walks
    * word-aligned chunks, requires a consistent 16-bit PCM `fmt `
    * chunk, finds `data`. Returns (channels, sampleRate, dataOffset,
    * dataLength). Malformed media fails loudly — a decode kernel
    * must reject, not fabricate. */
  private[graft] def parseWavHeader(b: Array[Byte]): (Int, Int, Int, Int) = {
    def u8(i: Int) = b(i) & 0xff
    def le16(i: Int) = u8(i) | (u8(i + 1) << 8)
    def le32(i: Int) = u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16) | (u8(i + 3) << 24)
    def tag(i: Int) = new String(b, i, 4, "US-ASCII")
    require(b.length >= 44 && tag(0) == "RIFF" && tag(8) == "WAVE",
      "not a RIFF/WAVE file")
    require(le32(4) == b.length - 8, s"RIFF size ${le32(4)} != ${b.length - 8}")
    var i = 12
    var ch = 0; var rate = 0; var fmtSeen = false
    var dataOff = -1; var dataLen = 0
    while (i + 8 <= b.length) {
      val t = tag(i); val sz = le32(i + 4)
      require(sz >= 0 && i + 8 + sz <= b.length, s"chunk $t overruns the file")
      if (t == "fmt ") {
        require(sz >= 16, "fmt chunk too short")
        require(le16(i + 8) == 1, s"not PCM (format ${le16(i + 8)})")
        ch = le16(i + 10); rate = le32(i + 12)
        require(ch >= 1 && rate > 0, "degenerate fmt")
        require(le16(i + 22) == 16, s"unsupported bit depth ${le16(i + 22)}")
        require(le16(i + 20) == ch * 2, "blockAlign inconsistent")
        require(le32(i + 16) == rate * ch * 2, "byteRate inconsistent")
        fmtSeen = true
      } else if (t == "data") {
        dataOff = i + 8; dataLen = sz
      }
      i += 8 + sz + (sz & 1) // RIFF chunks are word-aligned
    }
    require(fmtSeen, "missing fmt chunk")
    require(dataOff >= 0 && dataLen % (ch * 2) == 0,
      "missing or misaligned data chunk")
    (ch, rate, dataOff, dataLen)
  }

  /** Decoded-audio record, one per (media, channel): header fields
    * plus exact integer sample statistics the oracle recomputes. */
  case class DecodedAudio(media_id: Long, channel: Long, sample_rate: Long,
                          n_samples: Long, duration_ms: Long, sum_pcm: Long,
                          min_pcm: Long, max_pcm: Long, sumsq_pcm: Long)

  /** The audio decode kernel — same production shape as
    * [[decodeImages]] (repartition to decoder count, one decoder
    * scope per partition, stream rows): RIFF header parse, then one
    * interleaved two's-complement sample walk accumulating per-
    * channel sum/min/max/sum-of-squares. An MP3/AAC deployment swaps
    * the walk for the codec call; schema and layout stay. */
  def decodeAudio(spark: SparkSession, dir: String): Dataset[DecodedAudio] = {
    import spark.implicits._
    val m = wavMediaTable(spark, dir)
      .select(col("media_id").cast("long"), col("blob"))
      .repartition(spark.sparkContext.defaultParallelism)
    m.as[(Long, Array[Byte])].mapPartitions { rows =>
      rows.flatMap { case (id, blob) =>
        val (c, rate, off, len) = parseWavHeader(blob)
        val nFrames = len / (c * 2)
        val sum = new Array[Long](c); val sq = new Array[Long](c)
        val mn = Array.fill(c)(Long.MaxValue)
        val mx = Array.fill(c)(Long.MinValue)
        var k = 0; val n = len / 2
        while (k < n) {
          val lo = blob(off + 2 * k) & 0xff
          val hi = blob(off + 2 * k + 1) // signed byte → sign-extends
          val v = ((hi << 8) | lo).toLong
          val ch = k % c
          sum(ch) += v; sq(ch) += v * v
          if (v < mn(ch)) mn(ch) = v
          if (v > mx(ch)) mx(ch) = v
          k += 1
        }
        (0 until c).map(ch => DecodedAudio(id, ch.toLong, rate.toLong,
          nFrames.toLong, nFrames.toLong * 1000L / rate, sum(ch), mn(ch),
          mx(ch), sq(ch)))
      }
    }
  }

  /** Decoded-audio query surface — the oracle twin recomputes every
    * column from the ASCII source text with the same interleaving
    * arithmetic, so a mistake anywhere in the synthesize → LE pack →
    * chunk walk → sign-extend chain hash-mismatches. */
  def mediaAudio(spark: SparkSession, dir: String): DataFrame =
    decodeAudio(spark, dir).toDF()
      .select(col("media_id"), col("channel"), col("sample_rate"),
        col("n_samples"), col("duration_ms"), col("sum_pcm"),
        col("min_pcm"), col("max_pcm"), col("sumsq_pcm"))
      .orderBy(col("media_id"), col("channel"))

  /** Per-media segmentation summary from [[audioSegments]]. */
  case class AudioSegments(media_id: Long, n_blocks: Long, n_silent: Long,
                           n_segments: Long, longest_blocks: Long)

  /** Silence detection / segmentation over the decoded PCM — the
    * VAD-shaped preprocessing step an audio training pipeline runs
    * before transcription (split on silence, drop dead air): channel
    * 0 samples walk in 8-frame blocks; a block is SILENT when its
    * mean |sample| falls below 6000 (integer cross-multiplied —
    * `sum|v| < 6000·blockLen`, no division), and maximal runs of
    * loud blocks are the segments. Emits per media the block count,
    * silent-block count, segment count and longest segment — all
    * integers the oracle recomputes from the ASCII source (longest
    * run via a cur·1000+best encoded list_reduce). Same kernel shape
    * as [[decodeAudio]]. */
  def audioSegments(spark: SparkSession, dir: String): Dataset[AudioSegments] = {
    import spark.implicits._
    val m = wavMediaTable(spark, dir)
      .select(col("media_id").cast("long"), col("blob"))
      .repartition(spark.sparkContext.defaultParallelism)
    m.as[(Long, Array[Byte])].mapPartitions { rows =>
      rows.map { case (id, blob) =>
        val (c, _, off, len) = parseWavHeader(blob)
        val nf = len / (c * 2)
        val nBlocks = (nf + 7) / 8
        var b = 0; var nSilent = 0L; var nSeg = 0L
        var cur = 0L; var best = 0L
        while (b < nBlocks) {
          val end = math.min(nf, b * 8 + 8)
          var f = b * 8; var sumAbs = 0L
          while (f < end) {
            val k = f * c // channel 0 of frame f
            val lo = blob(off + 2 * k) & 0xff
            val hi = blob(off + 2 * k + 1)
            sumAbs += math.abs(((hi << 8) | lo).toLong)
            f += 1
          }
          if (sumAbs < 6000L * (end - b * 8)) {
            nSilent += 1; cur = 0
          } else {
            if (cur == 0) nSeg += 1
            cur += 1; if (cur > best) best = cur
          }
          b += 1
        }
        AudioSegments(id, nBlocks.toLong, nSilent, nSeg, best)
      }
    }
  }

  /** Query surface over [[audioSegments]]. */
  def mediaAudioSegments(spark: SparkSession, dir: String): DataFrame =
    audioSegments(spark, dir).toDF()
      .select(col("media_id"), col("n_blocks"), col("n_silent"),
        col("n_segments"), col("longest_blocks"))
      .orderBy(col("media_id"))

  val mediaAudioSegmentsSql: String =
    """WITH m AS (
         SELECT doc_id AS media_id,
           CAST(doc_id % 2 + 1 AS BIGINT) AS c,
           CAST(40 + doc_id % 23 AS BIGINT) AS nf,
           text, length(text) AS len
         FROM documents),
       fl AS (
         SELECT media_id, nf,
           list_transform(generate_series(0, CAST((nf + 7) // 8 - 1 AS INTEGER)),
             b -> CASE WHEN
               list_sum(list_transform(
                 generate_series(CAST(b * 8 AS INTEGER),
                   CAST(least(nf, b * 8 + 8) - 1 AS INTEGER)),
                 f -> abs(unicode(substr(text,
                   CAST((f * c) % len AS INTEGER) + 1, 1)) * 256 - 16000)))
               < 6000 * (least(nf, b * 8 + 8) - b * 8)
               THEN 0 ELSE 1 END) AS flags
         FROM m)
       SELECT media_id,
         CAST(len(flags) AS BIGINT) AS n_blocks,
         CAST(len(list_filter(flags, f -> f = 0)) AS BIGINT) AS n_silent,
         CAST(list_sum(list_transform(
           generate_series(1, CAST(len(flags) AS INTEGER)),
           i -> CASE WHEN flags[i] = 1 AND (i = 1 OR flags[i - 1] = 0)
                THEN 1 ELSE 0 END)) AS BIGINT) AS n_segments,
         CAST(list_reduce(list_prepend(0, flags),
           (s, x) -> CASE WHEN x = 1
             THEN (s // 1000 + 1) * 1000
               + greatest(s % 1000, s // 1000 + 1)
             ELSE s % 1000 END) % 1000 AS BIGINT) AS longest_blocks
       FROM fl ORDER BY media_id"""

  val mediaAudioSql: String =
    """WITH m AS (
         SELECT doc_id AS media_id,
           CAST(doc_id % 2 + 1 AS BIGINT) AS channels,
           CAST(CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 11025
                WHEN 2 THEN 16000 ELSE 22050 END AS BIGINT) AS sample_rate,
           CAST(40 + doc_id % 23 AS BIGINT) AS n_frames,
           text, length(text) AS len
         FROM documents),
       chs AS (SELECT 0 AS ch UNION ALL SELECT 1),
       s AS (
         SELECT media_id, chs.ch AS channel, sample_rate, n_frames,
           list_transform(generate_series(0, CAST(n_frames - 1 AS INTEGER)),
             f -> unicode(substr(text,
               CAST((f * channels + chs.ch) % len AS INTEGER) + 1, 1))
               * 256 - 16000) AS vals
         FROM m JOIN chs ON chs.ch < m.channels)
       SELECT media_id, CAST(channel AS BIGINT) AS channel, sample_rate,
         n_frames AS n_samples,
         CAST(n_frames * 1000 // sample_rate AS BIGINT) AS duration_ms,
         CAST(list_sum(vals) AS BIGINT) AS sum_pcm,
         CAST(list_min(vals) AS BIGINT) AS min_pcm,
         CAST(list_max(vals) AS BIGINT) AS max_pcm,
         CAST(list_sum(list_transform(vals, v -> v * v)) AS BIGINT)
           AS sumsq_pcm
       FROM s ORDER BY media_id, channel"""

  // ---- Perceptual near-duplicate detection over decoded rasters ----

  private val SIG_BITS = 16
  /** Polynomial raster-hash modulus: h·31 + 255 stays < 2^63 for
    * h < MOD, so the fold never overflows in either engine. */
  private val PHOTO_HASH_MOD = 1000000000000000L

  /** [[ppmMediaTable]] plus PERTURBED twins: every `doc_id % 5 == 0`
    * image reappears at `media_id + 1,000,000` (the deep-replica-safe
    * offset) with its LAST raster byte stepped one place inside
    * printable ASCII — a re-encode/re-crop stand-in that byte-exact
    * dedup ([[mediaDedup]]) can NEVER merge. Both the base raster and
    * the perturbation are pure in-plan string arithmetic over the
    * ASCII source, so the DuckDB twin reproduces the pixels exactly. */
  def ppmMediaTwinTable(spark: SparkSession, dir: String): DataFrame = {
    val w = (col("doc_id") % 5 + 4).cast("int")
    val h = (col("doc_id") % 4 + 3).cast("int")
    val wellFormed =
      col("text").isNotNull && length(col("text")) >= 36 &&
        !col("text").rlike("[^\\x00-\\x7F]")
    val text = when(wellFormed, col("text")).otherwise(
      raise_error(concat(
        lit("ppmMediaTwinTable: text must be pure ASCII and >= 36 chars, doc_id="),
        col("doc_id").cast("string"))))
    val base = Tables.documents(spark, dir).select(
      col("doc_id"), w.as("w"), h.as("h"),
      repeat(text, 4).substr(lit(1), w * h * 3).as("raster"))
    val twins = base.filter(col("doc_id") % 5 === 0).select(
      (col("doc_id") + 1000000L).as("doc_id"), col("w"), col("h"),
      concat(col("raster").substr(lit(1), col("w") * col("h") * 3 - 1),
        expr("char(32 + (ascii(substring(raster, w * h * 3, 1)) - 32 + 1) % 95)"))
        .as("raster"))
    base.unionByName(twins).select(
      col("doc_id").as("media_id"),
      encode(concat(lit("P6\n"), col("w").cast("string"), lit(" "),
        col("h").cast("string"), lit("\n255\n"), col("raster")), "UTF-8")
        .as("blob"))
  }

  /** Perceptual fingerprint from the decode kernel: per-pixel
    * luminance (r+g+b) folded into [[SIG_BITS]] positional buckets,
    * signature bit b set iff bucket b holds more than ITS EXPECTED
    * SHARE of the total — `mass_b · npix > total · count_b` (exact
    * integer cross-multiplication, no division), where count_b is the
    * bucket's pixel count. Comparing against the per-bucket
    * expectation (not the flat average) is load-bearing: buckets
    * receive ⌈npix/16⌉ or ⌊npix/16⌋ pixels, and a flat-average bit
    * would mostly encode npix mod 16 — every same-size image would
    * collide, and identical-signature clusters grow quadratically at
    * scale. Plus a polynomial hash of the raw raster bytes for the
    * byte-exactness flag. */
  case class ImageFingerprint(media_id: Long, width: Int, height: Int,
                              lum_total: Long, sig: Long, raster_hash: Long)

  /** The aHash-family fingerprint kernel — same mapPartitions decode
    * scope as [[decodeImages]] (one decoder per partition, rows
    * streamed); a production pipeline swaps the bucket fold for a
    * DCT/pHash over the decoded pixels and keeps the shape. */
  def fingerprintImages(spark: SparkSession, dir: String): Dataset[ImageFingerprint] =
    fingerprintImagesOf(ppmMediaTwinTable(spark, dir))

  /** [[fingerprintImages]] over an arbitrary `(media_id, blob)`
    * frame — the Of-variant that lets specs fingerprint OTHER media
    * corpora (e.g. [[ppmPhashTwinTable]]'s noise twins) with the
    * same kernel. */
  private[graft] def fingerprintImagesOf(m0: DataFrame): Dataset[ImageFingerprint] = {
    val spark = m0.sparkSession
    import spark.implicits._
    val m = m0
      .select(col("media_id").cast("long"), col("blob"))
      .repartition(spark.sparkContext.defaultParallelism)
    m.as[(Long, Array[Byte])].mapPartitions { rows =>
      rows.map { case (id, blob) =>
        val (w, h, off) = parsePpmHeader(blob)
        val npix = w * h
        val buckets = new Array[Long](SIG_BITS)
        var total = 0L
        var p = 0
        while (p < npix) {
          val lum = (blob(off + 3 * p) & 0xff).toLong +
            (blob(off + 3 * p + 1) & 0xff) + (blob(off + 3 * p + 2) & 0xff)
          buckets(p % SIG_BITS) += lum; total += lum; p += 1
        }
        var hash = 0L; var k = 0; val nb = npix * 3
        while (k < nb) {
          hash = (hash * 31 + (blob(off + k) & 0xff)) % PHOTO_HASH_MOD
          k += 1
        }
        var sig = 0L; var b = 0
        while (b < SIG_BITS) {
          // pixels p < npix with p % SIG_BITS == b
          val cnt = (npix - b + SIG_BITS - 1) / SIG_BITS
          if (buckets(b) * npix > total * cnt) sig |= (1L << b)
          b += 1
        }
        ImageFingerprint(id, w, h, total, sig, hash)
      }
    }
  }

  /** Total-luminance band width. A near-dup (one byte re-encoded)
    * moves the total by < 256, so it lands in the same or an adjacent
    * band — probing {−1, 0, +1} keeps every true twin while the band
    * kills the ~equal-signature-different-content collisions that
    * would otherwise grow quadratically with corpus size (measured:
    * 2.25M pairs at 60k images on the signature alone). */
  private val LUM_BAND = 256L

  /** Perceptual near-duplicate pairs — the content-level dedup rung
    * byte-exact [[mediaDedup]] cannot reach: two images pair iff
    * their dimensions match, their luminance signatures differ in at
    * most ONE bit, AND their total luminance falls in the same or an
    * adjacent [[LUM_BAND]] band. The Hamming-≤1 × band-≤1 join is
    * EXACT without any quadratic bucket, with the probe fan SPLIT
    * across the join sides: the left side emits its signature plus
    * all [[SIG_BITS]] single-bit flips at its OWN band (17 rows),
    * the right side emits its exact signature at its band and both
    * neighbors (3 rows) — 20 rows per image in the shuffle instead
    * of the 52 a one-sided 17×3 fan costs, for the identical match
    * set (a pair at Δband ≤ 1 meets on exactly one (flip, offset)
    * combination, so each pair still surfaces exactly once and no
    * dropDuplicates pass exists). `exact_dup` separates true byte
    * copies from perceptual-only matches (every injected perturbed
    * twin is the latter, which the spec pins). Residual threshold
    * sensitivity, by design: a one-byte edit shifts `total` too, so a
    * bucket whose mass sits within the delta of its cross-multiplied
    * threshold can also flip — a twin can then land at Hamming 2 and
    * (correctly) not pair. Both engines agree bit-for-bit; the spec
    * asserts exact recall AT the operator's own threshold rather than
    * blanket twin recovery.
    *
    * Scale shape: probes are a linear ×17 (+×3 right-side) fan
    * (explode_outer — the
    * InferFiltersFromGenerate trap consciously avoided) over id-only
    * rows; the join is a plain equi-join on (w, h, band, probe) whose
    * output is the true match set plus same-band signature collisions
    * — never a per-bucket pair blowup. At 100 TB the fingerprint
    * table is the persisted index and the probe fan stays 20×. */
  def mediaNeardup(spark: SparkSession, dir: String): DataFrame = {
    val fp = fingerprintImages(spark, dir).toDF()
      .withColumn("tband", expr(s"lum_total div $LUM_BAND"))
      .transform(graft.util.Fence.lineage)
    val probeArr = array((col("sig") +: (0 until SIG_BITS).map(b =>
      col("sig").bitwiseXOR(lit(1L << b)))): _*)
    val probes = fp.select(col("media_id").as("id1"), col("width"),
        col("height"), col("sig").as("sig1"), col("raster_hash").as("rh1"),
        col("tband").as("band"),
        explode_outer(probeArr).as("probe"))
      .filter(col("probe").isNotNull)
    val sigs = fp.select(col("media_id").as("id2"), col("width"),
        col("height"), col("sig").as("sig2"),
        col("raster_hash").as("rh2"), col("sig").as("probe"),
        explode_outer(array((-1 to 1).map(d =>
          col("tband") + d): _*)).as("band"))
      .filter(col("band").isNotNull)
    probes.join(sigs, Seq("width", "height", "band", "probe"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        expr("bit_count(sig1 ^ sig2)").cast("long").as("hamming"),
        (col("rh1") === col("rh2")).as("exact_dup"))
      .orderBy(col("id1"), col("id2"))
  }

  /** Bounded-output rollup over [[mediaNeardup]]'s pair stream — the
    * report a production dedup run actually consumes at scale: pair
    * counts by (hamming, exact_dup) class plus the distinct doc mass
    * on each side. The pair list itself is quadratic when the 16-bit
    * signature saturates (measured 303.6M rows at the 100× replica
    * scale, output-driven — see VERIFY_sf1.md round 10); this rollup
    * feeds the SAME join into a 4-group partial aggregate, so nothing
    * quadratic is ever sorted, shuffled, or materialized — Catalyst
    * eliminates the inner ORDER BY under the aggregation
    * (EliminateSorts), and the map-side combine reduces each
    * partition's pair stream to ≤ 4 rows before the exchange. */
  def mediaNeardupStats(spark: SparkSession, dir: String): DataFrame =
    mediaNeardup(spark, dir)
      .groupBy(col("hamming"), col("exact_dup"))
      .agg(count(lit(1)).cast("long").as("n_pairs"),
        countDistinct(col("id1")).cast("long").as("n_left_docs"),
        countDistinct(col("id2")).cast("long").as("n_right_docs"))
      .orderBy(col("hamming"), col("exact_dup"))

  val mediaNeardupSql: String =
    s"""WITH m0 AS (
         SELECT doc_id AS media_id,
           CAST(doc_id % 5 + 4 AS INTEGER) AS w,
           CAST(doc_id % 4 + 3 AS INTEGER) AS h,
           substr(repeat(text, 4), 1,
             CAST((doc_id % 5 + 4) * (doc_id % 4 + 3) * 3 AS INTEGER)) AS raster
         FROM documents),
       m AS MATERIALIZED (
         SELECT media_id, w, h, raster FROM m0
         UNION ALL
         SELECT media_id + 1000000, w, h,
           substr(raster, 1, w * h * 3 - 1) ||
             chr(32 + (unicode(substr(raster, w * h * 3, 1)) - 32 + 1) % 95)
         FROM m0 WHERE media_id % 5 = 0),
       px AS (
         SELECT media_id, w, h, ps.p,
           unicode(substr(raster, 3 * ps.p + 1, 1)) +
           unicode(substr(raster, 3 * ps.p + 2, 1)) +
           unicode(substr(raster, 3 * ps.p + 3, 1)) AS lum
         FROM m CROSS JOIN (SELECT unnest(generate_series(0, 47)) AS p) ps
         WHERE ps.p < w * h),
       bk AS (
         SELECT media_id, w, h, p % $SIG_BITS AS b,
           CAST(sum(lum) AS BIGINT) AS bl
         FROM px GROUP BY 1, 2, 3, 4),
       tot AS (SELECT media_id, CAST(sum(bl) AS BIGINT) AS total
               FROM bk GROUP BY 1),
       sg AS (
         SELECT k.media_id, k.w, k.h,
           CAST(sum(CASE WHEN k.bl * k.w * k.h >
                         t.total * ((k.w * k.h - k.b + $SIG_BITS - 1) // $SIG_BITS)
                         THEN 1 << k.b ELSE 0 END) AS BIGINT) AS sig
         FROM bk k JOIN tot t USING (media_id) GROUP BY 1, 2, 3),
       rh AS (
         SELECT media_id,
           list_reduce(list_prepend(CAST(0 AS BIGINT),
             list_transform(generate_series(1, w * h * 3),
               k -> CAST(unicode(substr(raster, k, 1)) AS BIGINT))),
             (acc, c) -> (acc * 31 + c) % $PHOTO_HASH_MOD) AS raster_hash
         FROM m),
       f AS MATERIALIZED (
         SELECT s.media_id, s.w, s.h, s.sig, t.total // $LUM_BAND AS tband,
           r.raster_hash
         FROM sg s JOIN tot t USING (media_id) JOIN rh r USING (media_id)),
       probes AS (
         SELECT media_id AS id1, w, h, sig AS sig1, raster_hash AS rh1,
           CASE WHEN bs.b = 0 THEN sig
                ELSE xor(sig, 1 << (bs.b - 1)) END AS probe,
           tband AS band
         FROM f
         CROSS JOIN (SELECT unnest(generate_series(0, $SIG_BITS)) AS b) bs),
       fb AS (
         SELECT media_id AS id2, w, h, sig, raster_hash,
           tband + ds.d AS band
         FROM f
         CROSS JOIN (SELECT unnest(generate_series(-1, 1)) AS d) ds)
       SELECT p.id1, fb.id2,
         CAST(bit_count(xor(p.sig1, fb.sig)) AS BIGINT) AS hamming,
         p.rh1 = fb.raster_hash AS exact_dup
       FROM probes p
       JOIN fb ON fb.w = p.w AND fb.h = p.h AND fb.band = p.band
              AND fb.sig = p.probe
       WHERE p.id1 < fb.id2
       ORDER BY id1, id2"""

  val mediaNeardupStatsSql: String =
    s"""SELECT hamming, exact_dup, CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(count(DISTINCT id1) AS BIGINT) AS n_left_docs,
         CAST(count(DISTINCT id2) AS BIGINT) AS n_right_docs
       FROM ($mediaNeardupSql)
       GROUP BY hamming, exact_dup ORDER BY hamming, exact_dup"""

  // ---- DCT perceptual hash over decoded rasters --------------------

  /** Quantized-cosine DCT basis entry: round(64·cos(π(2i+1)k/2n)).
    * Evaluated ONCE at plan-build time on the driver and embedded as
    * integer LITERALS in both the kernel's tables and the oracle's
    * VALUES list — so no runtime libm transcendental ever runs in
    * either engine (the CLAUDE.md bit-stability rule) and both sides
    * share the exact same basis by construction. */
  private[graft] def intCos(n: Int, k: Int, i: Int): Long =
    math.round(64.0 * math.cos(math.Pi * (2 * i + 1) * k / (2.0 * n)))

  /** Per-size integer DCT tables for every raster dimension the
    * media fixture produces (h ∈ 3..6, w ∈ 4..8). The zero-row-sum
    * check is load-bearing: Σ_i C(k,i) = 0 for every k ≥ 1 survives
    * the ×64 rounding (verified over all n here), which makes every
    * non-DC coefficient EXACTLY invariant under a uniform luminance
    * shift — the provable brightness-invariance [[phashImagesOf]]
    * documents. */
  private val cosTables: Map[Int, Array[Array[Long]]] =
    (3 to 8).map { n =>
      val t = Array.tabulate(3, n)((k, i) => intCos(n, k, i))
      (1 until 3).foreach(k => require(t(k).sum == 0L,
        s"quantized DCT row (n=$n,k=$k) does not sum to zero"))
      n -> t
    }.toMap

  /** Brightness step in character space: every raster byte +3 →
    * +9 luminance per pixel — the re-exposure / gamma-nudge
    * perturbation class. */
  private val PHASH_BRIGHT_STEP = 3

  /** [[ppmMediaTable]] plus BRIGHTNESS twins: every `doc_id % 6 == 0`
    * image whose raster stays clear of the top [[PHASH_BRIGHT_STEP]]
    * printable codes (no wrap possible) reappears at
    * `media_id + 1,000,000` with EVERY byte shifted
    * +[[PHASH_BRIGHT_STEP]] — a uniform luminance lift of +9 per
    * pixel, the re-exposed-copy class that [[mediaNeardup]]'s
    * pipeline MISSES (its aHash signature is shift-invariant, but
    * its total-luminance band gate moves by 9·npix — up to 432, past
    * the ±1×256 band probe) while the DC-excluded DCT signature is
    * exactly unchanged. Pure in-plan string arithmetic, so the
    * DuckDB twin reproduces the pixels exactly. */
  def ppmPhashTwinTable(spark: SparkSession, dir: String): DataFrame = {
    val w = (col("doc_id") % 5 + 4).cast("int")
    val h = (col("doc_id") % 4 + 3).cast("int")
    val wellFormed =
      col("text").isNotNull && length(col("text")) >= 36 &&
        !col("text").rlike("[^\\x00-\\x7F]")
    val text = when(wellFormed, col("text")).otherwise(
      raise_error(concat(
        lit("ppmPhashTwinTable: text must be pure ASCII and >= 36 chars, doc_id="),
        col("doc_id").cast("string"))))
    val base = Tables.documents(spark, dir).select(
      col("doc_id"), w.as("w"), h.as("h"),
      repeat(text, 4).substr(lit(1), w * h * 3).as("raster"))
    val bright = array_join(
      transform(sequence(lit(1), length(col("raster"))), i =>
        call_function("char",
          call_function("ascii",
            call_function("substring", col("raster"), i, lit(1))) +
            PHASH_BRIGHT_STEP)), "")
    val twins = base
      // exclude 0x7F too: wellFormed admits all of \x00-\x7F, and a
      // DEL brightens to U+0082 (2 UTF-8 bytes) — the byte-indexed
      // decoder would misalign every later pixel while the oracle's
      // codepoint arithmetic stays aligned
      .filter(col("doc_id") % 6 === 0 && !col("raster").rlike("[|}~\\x7F]"))
      .select((col("doc_id") + 1000000L).as("doc_id"), col("w"), col("h"),
        bright.as("raster"))
    base.unionByName(twins).select(
      col("doc_id").as("media_id"),
      encode(concat(lit("P6\n"), col("w").cast("string"), lit(" "),
        col("h").cast("string"), lit("\n255\n"), col("raster")), "UTF-8")
        .as("blob"))
  }

  /** DCT-signature record: the 8 sign bits of the low-band 3×3
    * coefficient block minus DC, bit (u·3+v) set iff F(u,v) > 0. */
  case class PhashFingerprint(media_id: Long, width: Int, height: Int,
                              phash: Long)

  /** The pHash kernel — the DCT promotion [[fingerprintImages]]'
    * scaladoc names: same mapPartitions decode scope (one decoder
    * per partition, rows streamed), but the signature is the SIGN of
    * each low-band 2D-DCT coefficient of the luminance grid,
    * F(u,v) = Σ_y Σ_x lum(y,x)·C_h(u,y)·C_w(v,x) over the integer-
    * quantized basis [[intCos]] — exact 64-bit arithmetic (|F| ≤
    * 48·765·64² < 2⁵³), bit-identical to the oracle's recompute.
    * Excluding DC (0,0) plus the zero-row-sum property of the
    * quantized basis (see [[cosTables]]) makes the signature EXACTLY
    * invariant under any uniform luminance shift AND any positive
    * uniform scaling — so a re-exposed copy hashes identically,
    * where the [[mediaNeardup]] pipeline loses it to the
    * total-luminance band gate (its aHash signature is also
    * shift-invariant, but `total` moves by Δ·npix and the twin exits
    * the ±1 band probe). That band-free matchability is the
    * perturbation class this operator adds over the aHash rung. Runs
    * over any `(media_id, blob)` frame; [[mediaPhash]] feeds it
    * [[ppmPhashTwinTable]]. */
  private[graft] def phashImagesOf(m0: DataFrame): Dataset[PhashFingerprint] = {
    val spark = m0.sparkSession
    import spark.implicits._
    val m = m0.select(col("media_id").cast("long"), col("blob"))
      .repartition(spark.sparkContext.defaultParallelism)
    m.as[(Long, Array[Byte])].mapPartitions { rows =>
      rows.map { case (id, blob) =>
        val (w, h, off) = parsePpmHeader(blob)
        val ch = cosTables(h); val cw = cosTables(w)
        val lum = new Array[Long](w * h)
        var p = 0
        while (p < w * h) {
          lum(p) = (blob(off + 3 * p) & 0xff).toLong +
            (blob(off + 3 * p + 1) & 0xff) + (blob(off + 3 * p + 2) & 0xff)
          p += 1
        }
        var sig = 0L
        var u = 0
        while (u < 3) {
          var v = 0
          while (v < 3) {
            if (u != 0 || v != 0) {
              var f = 0L
              var y = 0
              while (y < h) {
                var x = 0
                while (x < w) {
                  f += lum(y * w + x) * ch(u)(y) * cw(v)(x)
                  x += 1
                }
                y += 1
              }
              if (f > 0) sig |= 1L << (u * 3 + v)
            }
            v += 1
          }
          u += 1
        }
        PhashFingerprint(id, w, h, sig)
      }
    }
  }

  /** Per-image DCT perceptual hash dump (the signature artifact a
    * near-dup index persists — the simhash/minhash_signatures
    * precedent for the media lane). */
  def mediaPhash(spark: SparkSession, dir: String): DataFrame =
    phashImagesOf(ppmPhashTwinTable(spark, dir)).toDF()
      .select(col("media_id"), col("width"), col("height"), col("phash"))
      .orderBy(col("media_id"))

  val mediaPhashSql: String = {
    val ctVals = (for { n <- 3 to 8; k <- 0 to 2; i <- 0 until n }
      yield s"($n, $k, $i, ${intCos(n, k, i)})").mkString(", ")
    s"""WITH m0 AS (
         SELECT doc_id AS media_id,
           CAST(doc_id % 5 + 4 AS INTEGER) AS w,
           CAST(doc_id % 4 + 3 AS INTEGER) AS h,
           substr(repeat(text, 4), 1,
             CAST((doc_id % 5 + 4) * (doc_id % 4 + 3) * 3 AS INTEGER)) AS raster
         FROM documents),
       m AS MATERIALIZED (
         SELECT media_id, w, h, raster FROM m0
         UNION ALL
         SELECT media_id + 1000000, w, h,
           list_aggregate(list_transform(generate_series(1, len(raster)), i ->
             chr(unicode(substr(raster, i, 1)) + $PHASH_BRIGHT_STEP)),
             'string_agg', '') AS raster
         FROM m0 WHERE media_id % 6 = 0
           AND NOT regexp_matches(raster, '[|}~\\x7F]')),
       ct AS (SELECT * FROM (VALUES $ctVals) t(n, k, i, c)),
       px AS (
         SELECT media_id, w, h, ps.p,
           unicode(substr(raster, 3 * ps.p + 1, 1)) +
           unicode(substr(raster, 3 * ps.p + 2, 1)) +
           unicode(substr(raster, 3 * ps.p + 3, 1)) AS lum
         FROM m CROSS JOIN (SELECT unnest(generate_series(0, 47)) AS p) ps
         WHERE ps.p < w * h),
       co AS (
         SELECT px.media_id, px.w, px.h, uv.u, uv.v,
           CAST(sum(px.lum * ch.c * cw.c) AS BIGINT) AS f
         FROM px
         CROSS JOIN (SELECT u.u, v.v
                     FROM (SELECT unnest(generate_series(0, 2)) AS u) u,
                          (SELECT unnest(generate_series(0, 2)) AS v) v
                     WHERE NOT (u.u = 0 AND v.v = 0)) uv
         JOIN ct ch ON ch.n = px.h AND ch.k = uv.u AND ch.i = px.p // px.w
         JOIN ct cw ON cw.n = px.w AND cw.k = uv.v AND cw.i = px.p % px.w
         GROUP BY 1, 2, 3, 4, 5)
       SELECT media_id, w AS width, h AS height,
         CAST(sum(CASE WHEN f > 0 THEN 1 << (u * 3 + v) ELSE 0 END)
           AS BIGINT) AS phash
       FROM co GROUP BY media_id, w, h ORDER BY media_id"""
  }
}
