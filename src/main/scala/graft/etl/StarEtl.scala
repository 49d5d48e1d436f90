package graft.etl

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import graft.parse.Style5

/** Batch ETL: log lines → the 7-table star schema, as one job
  * (SURVEY.md §3.1 rebuild of `/root/reference/real_parse.pl`).
  *
  * The reference pays 4-9 MySQL round-trips per line and stitches
  * satellites to the hub with `SELECT max(id)` under LOCK TABLES
  * (J5, `real_parse.pl:109-114`). Here one wide parsed DataFrame is
  * computed once and each table is a pure projection of it; the
  * natural key (event/line id) replaces the auto-increment surrogate
  * (SURVEY.md §7.5.3), so satellites need no lock and no lookup.
  *
  * Scale shape: parse once (narrow, codegen), write 7 projections.
  * The parsed frame is persisted for the fan-out so the parse isn't
  * re-run per table — at 100 TB you would materialize it as the
  * canonical parquet layer anyway (and each write is partitioned by
  * ingest date in production; the test tables have no date spread, so
  * that knob is left to the caller).
  */
object StarEtl {

  /** One wide parsed frame from rendered style-5 lines: every column
    * every satellite needs, computed in a single pass. */
  def wideParsed(spark: SparkSession, dir: String): DataFrame = {
    val l = Style5.renderedLines(spark, dir)
      .withColumn("m", Style5.dropHead(Style5.spaceMatches(col("line"))))
      .withColumn("cinfo", element_at(Style5.brackets(col("line")), 2))
    l.select(
      col("event_id").as("line_id"),
      col("line"),
      Style5.clientIp(col("line")).as("client_ip_address"),
      Style5.logTimestamp(col("line")).as("datetime"),
      Style5.gmtOffset(col("line")).as("gmt_offset"),
      Style5.reqMethod(col("line")).as("method"),
      Style5.filePath(Style5.reqFile(col("line"))).as("path"),
      Style5.fileName(Style5.reqFile(col("line"))).as("name"),
      Style5.reqProto(col("line")).as("protocol_version"),
      element_at(col("m"), 1).cast("long").as("status_code"),
      element_at(col("m"), 2).cast("long").as("bytes_sent"),
      element_at(col("m"), -6).cast("long").as("file_size"),
      element_at(col("m"), -5).cast("long").as("file_time"),
      element_at(col("m"), -4).cast("long").as("sent_time"),
      element_at(col("m"), -3).cast("long").as("resends"),
      element_at(col("m"), -2).cast("long").as("failed_resends"),
      element_at(col("m"), -1).cast("long").as("presentation_id"),
      col("cinfo").as("client_info"),
      element_at(Style5.brackets(col("line")), 3).as("client_guid"),
      slice(Style5.brackets(col("line")), lit(4),
        greatest(size(Style5.brackets(col("line"))) - 3, lit(0))).as("stat_blocks"))
  }

  /** StatsMask semantics (`real_parse.pl:218-235`): `StatsMask="1-7"`
    * in rmserver.cfg is a 3-bit mask of which stat block types the
    * server logs — bit 0 = Stat1, bit 1 = Stat2, bit 2 = Stat3
    * (mask 7 = all three, the superset the round-1 build always
    * parsed). The ETL honors it by dispatching only the enabled
    * types; a disabled type's blocks are dropped exactly as the
    * server would never have emitted them. */
  def maskedStatTypes(statsMask: Int): Seq[String] = {
    require(statsMask >= 1 && statsMask <= 7, s"StatsMask must be 1-7, got $statsMask")
    (0 until 3).filter(b => (statsMask & (1 << b)) != 0).map(b => s"Stat${b + 1}")
  }

  /** Write the 7 star tables under `outDir` (parquet) at the
    * reference's full column arity (`real_parse.pl:96-177,301-331`).
    * Returns the per-table row counts, taken during each write by an
    * observed `count` that rides the write's own job: nothing is read
    * back. The wide frame, without the raw `line` no table writes, is
    * persisted once for the 7-way fan-out; `statsMask` gates which stat
    * block types are parsed (S5 config knob, default all). */
  def runBatch(spark: SparkSession, dir: String, outDir: String,
               statsMask: Int = 7): Map[String, Long] = {
    val wide = wideParsed(spark, dir).drop("line").persist()
    try {
      val access = wide.select(col("line_id"), col("client_ip_address"),
        lit("-").as("identuser"), lit("-").as("authuser"), col("datetime"),
        col("gmt_offset"), lit(5).as("logging_style"),
        lit(statsMask).as("stats_mask"), lit(0).as("server_type"))
      val file = wide.select(col("line_id"), col("method"), col("path"),
        col("name"), col("protocol_version"), col("status_code"),
        col("bytes_sent"), col("file_size"), col("file_time"),
        col("sent_time"), lit(null).cast("long").as("start_time"),
        col("presentation_id"))
      // client and stats derive from the persisted wide frame too —
      // calling the contract queries here would re-run the whole
      // render+regex parse (and their presentation sorts) per table
      val client = wide.select(
        col("line_id") +: Style5.clientFieldCols(col("client_info")) :+ col("client_guid"): _*)
      val network = wide.select(col("line_id"), col("resends"),
        col("failed_resends"), lit(null).cast("string").as("server_address"),
        lit(null).cast("long").as("packets_sent"),
        lit(null).cast("long").as("average_bitrate"))
      val enabled = maskedStatTypes(statsMask)
      val stats = Style5.statFields(
        wide.select(col("line_id").as("event_id"),
            explode_outer(col("stat_blocks")).as("stat"))
          .filter(col("stat").isNotNull))
        .filter(col("stat_type").isin(enabled: _*))
      // per-table projections at the reference's full INSERT arity;
      // stats_mask2's `late` is `s2_late` in the unified frame (name
      // collision with Stat1's) and renamed back here
      val stats1 = stats.filter(col("stat_type") === "Stat1").select(
        col("event_id").as("line_id"), col("packets_received"),
        col("out_of_order"), col("missing"), col("early"), col("late"),
        col("audio_format"))
      val stats2 = stats.filter(col("stat_type") === "Stat2").select(
        col("event_id").as("line_id"), col("bandwidth"), col("available"),
        col("highest"), col("lowest"), col("average"), col("requested"),
        col("received"), col("s2_late").as("late"), col("rebuffering"),
        col("transport"), col("startup"), col("audio_format"))
      val stats3 = stats.filter(col("stat_type") === "Stat3").select(
        col("event_id").as("line_id"), col("raw_stat_text"))
      val tables = Map(
        "access" -> access, "file" -> file, "client" -> client,
        "network" -> network,
        "stats_mask1" -> stats1, "stats_mask2" -> stats2,
        "stats_mask3" -> stats3)
      tables.map { case (name, df) =>
        val rows = Observation()
        df.observe(rows, count(lit(1)).as("n")).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        name -> rows.get("n").asInstanceOf[Long]
      }
    } finally wide.unpersist()
  }

  /** Driver-contract summary query: the 7-way dispatch as row counts
    * plus per-table checksums — proves the full star split without a
    * filesystem side effect. */
  def starSummary(spark: SparkSession, dir: String): DataFrame = {
    // one aggregate pass over each parse pipeline, then unpivot —
    // a per-table union of aggregates would re-run the whole render
    // once per branch (7 full parses instead of 2)
    val wideRow = wideParsed(spark, dir).agg(
      count(lit(1)).as("n_rows"),
      sum(col("status_code")).as("ck_access"),
      sum(col("bytes_sent")).as("ck_file"),
      sum(length(col("client_info"))).as("ck_client"),
      sum(col("resends")).as("ck_network"))
    val hub = wideRow.select(explode(array(
      struct(lit("access").as("table_name"), col("n_rows").as("n"),
        col("ck_access").cast("long").as("checksum")),
      struct(lit("file").as("table_name"), col("n_rows").as("n"),
        col("ck_file").cast("long").as("checksum")),
      struct(lit("client").as("table_name"), col("n_rows").as("n"),
        col("ck_client").cast("long").as("checksum")),
      struct(lit("network").as("table_name"), col("n_rows").as("n"),
        col("ck_network").cast("long").as("checksum")))).as("t"))
      .select(col("t.table_name"), col("t.n"), col("t.checksum"))
    // checksums cover EVERY stat field so a regression in any of the
    // 6+12 extracted columns flips the hash (rebuffering is a double:
    // scaled ×10 and rounded so both engines agree bit-exactly)
    val stats = Style5.parseStats(spark, dir)
      .groupBy(col("stat_type"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("stat_type") === "Stat1",
            col("packets_received") + col("out_of_order") + col("missing") +
            col("early") + col("late"))
          .when(col("stat_type") === "Stat2",
            col("bandwidth") + col("available") + col("highest") + col("lowest") +
            col("average") + col("requested") + col("received") + col("s2_late") +
            col("transport") + col("startup") +
            floor(col("rebuffering") * 10 + 0.5).cast("long"))
          .otherwise(length(col("raw_stat_text")))).cast("long").as("checksum"))
      .select(concat(lit("stats_mask"),
          regexp_extract(col("stat_type"), "(\\d)", 1)).as("table_name"),
        col("n"), col("checksum"))
    hub.unionAll(stats).orderBy(col("table_name"))
  }

  val starSummarySql: String = {
    // the oracle rebuilds the same seven aggregates over the shared
    // rendered-lines + parse CTEs (Style5.fileParseCtes — one copy)
    val st =
      """st AS (
         SELECT event_id, stat,
           regexp_extract(stat, '^(Stat[1-3]):', 1) AS stat_type,
           regexp_extract_all(stat, '\s(\d+[.]?\d*)', 1) AS nums
         FROM (SELECT event_id, unnest(bl[4:]) AS stat FROM pf))"""
    s"""WITH ${graft.parse.Style5.renderCtes}, ${graft.parse.Style5.fileParseCtes},
       wide AS (
         SELECT event_id,
           CAST(m[1] AS BIGINT) AS status_code,
           CAST(m[2] AS BIGINT) AS bytes_sent,
           CAST(m[-3] AS BIGINT) AS resends,
           bl[2] AS client_info
         FROM pf),
       $st
       SELECT 'access' AS table_name, CAST(count(*) AS BIGINT) AS n, CAST(sum(status_code) AS BIGINT) AS checksum FROM wide
       UNION ALL SELECT 'file', CAST(count(*) AS BIGINT), CAST(sum(bytes_sent) AS BIGINT) FROM wide
       UNION ALL SELECT 'client', CAST(count(*) AS BIGINT), CAST(sum(len(client_info)) AS BIGINT) FROM wide
       UNION ALL SELECT 'network', CAST(count(*) AS BIGINT), CAST(sum(resends) AS BIGINT) FROM wide
       UNION ALL SELECT 'stats_mask1', CAST(count(*) AS BIGINT),
         CAST(sum(CAST(nums[1] AS BIGINT) + CAST(nums[2] AS BIGINT) + CAST(nums[3] AS BIGINT)
                + CAST(nums[4] AS BIGINT) + CAST(nums[5] AS BIGINT)) AS BIGINT)
         FROM st WHERE stat_type = 'Stat1'
       UNION ALL SELECT 'stats_mask2', CAST(count(*) AS BIGINT),
         CAST(sum(CAST(nums[1] AS BIGINT) + CAST(nums[2] AS BIGINT) + CAST(nums[3] AS BIGINT)
                + CAST(nums[4] AS BIGINT) + CAST(nums[5] AS BIGINT) + CAST(nums[6] AS BIGINT)
                + CAST(nums[7] AS BIGINT) + CAST(nums[8] AS BIGINT) + CAST(nums[10] AS BIGINT)
                + CAST(nums[11] AS BIGINT)
                + CAST(floor(CAST(nums[9] AS DOUBLE) * 10 + 0.5) AS BIGINT)) AS BIGINT)
         FROM st WHERE stat_type = 'Stat2'
       UNION ALL SELECT 'stats_mask3', CAST(count(*) AS BIGINT),
         CAST(sum(len(stat)) AS BIGINT) FROM st WHERE stat_type = 'Stat3'
       ORDER BY table_name"""
  }
}
