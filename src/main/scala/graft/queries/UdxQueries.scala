package graft.queries

import graft.{Q, Tables}
import graft.functions.{GraftFunctions, ModeAggregator}
import graft.multimodal.Multimodal
import org.apache.spark.sql.functions._

/** User-defined function surface (SURVEY.md B39-B41) plus the multimodal
  * decode demo: scalar UDF, Aggregator-based UDAF, generator (explode of
  * a produced sequence), and the batched binary decode (rows-only check —
  * the stub codec is not SQL-expressible, its correctness is pinned by
  * MultimodalSpec).
  */
object UdxQueries {

  val qs: Seq[Q] = Seq(
    // B40: exact-mode UDAF via Aggregator + functions.udaf.
    Q(
      "q80_udaf_mode",
      (s, dir) => {
        val mode = udaf(new ModeAggregator)
        Tables.orders(s, dir)
          .groupBy(col("o_orderstatus"))
          .agg(
            mode(col("o_orderpriority")).as("mode_prio"),
            count(lit(1)).as("cnt"))
          .orderBy("o_orderstatus")
      },
      Some("""
        WITH freq AS (
          SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
          FROM orders GROUP BY 1, 2),
        ranked AS (
          SELECT o_orderstatus, o_orderpriority,
                 row_number() OVER (PARTITION BY o_orderstatus
                                    ORDER BY n DESC, o_orderpriority) AS rn
          FROM freq),
        tot AS (SELECT o_orderstatus, COUNT(*) AS cnt FROM orders GROUP BY 1)
        SELECT o_orderstatus, o_orderpriority AS mode_prio, cnt
        FROM ranked JOIN tot USING (o_orderstatus)
        WHERE rn = 1
        ORDER BY o_orderstatus""")),

    // B39: scalar UDF registered and invoked through the SQL surface
    // (column-expression twin q70 proves the same semantics natively).
    Q(
      "q81_udf_safe_name",
      (s, dir) => {
        // Register once per session: re-registering on every run of this
        // query (Bench passes, Verify) WARNs and churns the registry for
        // an identical immutable function.
        if (!s.catalog.functionExists("safe_name_udf"))
          s.udf.register("safe_name_udf", GraftFunctions.safeNameUdf)
        Tables.part(s, dir).createOrReplaceTempView("part_udf")
        s.sql("""
          SELECT safe_name_udf(p_type || '  (' || p_brand || ') !') AS key, COUNT(*) AS cnt
          FROM part_udf
          GROUP BY 1
          ORDER BY key""")
      },
      Some("""
        SELECT regexp_replace(regexp_replace(regexp_replace(lower(p_type || '  (' || p_brand || ') !'),
                              '^\s+|\s+$', '', 'g'), '[^\w\s-]', '', 'g'), '\s+', '_', 'g') AS key,
               COUNT(*) AS cnt
        FROM part
        GROUP BY 1
        ORDER BY key""")),

    // B41: generator — one row per day of each order's first week.
    Q(
      "q82_generator_expand",
      (s, dir) =>
        Tables.orders(s, dir)
          .filter(col("o_orderkey") < 100)
          .select(
            col("o_orderkey"),
            explode(sequence(
              col("o_orderdate").cast("date"),
              date_add(col("o_orderdate").cast("date"), 6))).as("day"))
          .orderBy("o_orderkey", "day"),
      Some("""
        SELECT o_orderkey, CAST(unnest(generate_series(CAST(o_orderdate AS DATE),
                                       CAST(o_orderdate AS DATE) + 6,
                                       INTERVAL 1 DAY)) AS DATE) AS day
        FROM orders
        WHERE o_orderkey < 100
        ORDER BY o_orderkey, day""")),

    // B40 (raw-buffer tier): Space-Saving heavy hitters as a
    // TypedImperativeAggregate — exact while distinct <= capacity, so the
    // oracle checks true top-k counts per group; graceful approximation
    // beyond (the 100 TB "dominant sources" sweep).
    Q(
      "q87_heavy_hitters",
      (s, dir) => {
        Tables.events(s, dir).createOrReplaceTempView("events_hh")
        s.sql("""
          SELECT user_bucket, hh.value AS event_type, hh.cnt
          FROM (
            SELECT CAST(user_id % 4 AS INT) AS user_bucket,
                   graft_top_k(event_type, 3) AS tops
            FROM events_hh
            GROUP BY 1) t
          LATERAL VIEW explode(t.tops) AS hh
          ORDER BY user_bucket, cnt DESC, event_type""")
      },
      Some("""
        SELECT user_bucket, event_type, cnt FROM (
          SELECT CAST(user_id % 4 AS INT) AS user_bucket, event_type,
                 COUNT(*) AS cnt,
                 row_number() OVER (PARTITION BY CAST(user_id % 4 AS INT)
                                    ORDER BY COUNT(*) DESC, event_type) AS rn
          FROM events
          GROUP BY 1, 2)
        WHERE rn <= 3
        ORDER BY user_bucket, cnt DESC, event_type""")),

    // B18/B40: custom HyperLogLog as a TypedImperativeAggregate over the
    // portable hash60 — unlike approx_count_distinct, the whole sketch is
    // verifiable: the oracle rebuilds the identical 64-register array and
    // estimate. The indicator sum Σ 2^(54-M_j) is an exact BIGINT, so no
    // float-summation-order divergence is possible between engines.
    Q(
      "q97_hll_distinct",
      (s, dir) => {
        Tables.events(s, dir)
          .agg(
            call_function("graft_hll", GraftFunctions.hash60("hll", col("user_id"))).as("regs"),
            countDistinct(col("user_id")).as("n_exact"))
          .select(
            array_join(col("regs"), ",").as("registers"),
            expr("aggregate(transform(regs, m -> shiftleft(1L, 54 - m)), 0L, (a, x) -> a + x)")
              .as("s_int"),
            round(
              expr("0.709 * 4096 * pow(2, 54)") /
                expr("CAST(aggregate(transform(regs, m -> shiftleft(1L, 54 - m)), 0L, (a, x) -> a + x) AS DOUBLE)"),
              6).as("hll_est"),
            col("n_exact"))
      },
      Some("""
        WITH h AS (SELECT ('0x' || substr(md5('hll:' || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS hv
                   FROM events),
        r AS (SELECT hv & 63 AS bucket,
                     CASE WHEN (hv >> 6) = 0 THEN 54
                          ELSE 55 - length(bin(hv >> 6)) END AS rho
              FROM h),
        regs AS (SELECT bucket, CAST(MAX(rho) AS INT) AS m FROM r GROUP BY bucket),
        fullregs AS (SELECT j.j AS bucket, COALESCE(regs.m, 0) AS m
                     FROM (SELECT unnest(range(64)) AS j) j
                     LEFT JOIN regs ON regs.bucket = j.j),
        agg AS (SELECT array_to_string(list(m ORDER BY bucket), ',') AS registers,
                       CAST(SUM(1::BIGINT << (54 - m)) AS BIGINT) AS s_int
                FROM fullregs)
        SELECT registers, s_int,
               round(0.709 * 4096 * pow(2, 54) / CAST(s_int AS DOUBLE), 6) AS hll_est,
               (SELECT count(DISTINCT user_id) FROM events) AS n_exact
        FROM agg""")),

    // B41: generator through the SQL surface — LATERAL VIEW explode.
    Q(
      "q84_lateral_view",
      (s, dir) => {
        Tables.documents(s, dir).createOrReplaceTempView("docs_lv")
        s.sql("""
          SELECT lang, tok, COUNT(*) AS cnt
          FROM docs_lv
          LATERAL VIEW explode(filter(split(trim(text), '\\s+'), t -> t != '')) AS tok
          WHERE tok LIKE 's%'
          GROUP BY lang, tok
          ORDER BY lang, tok""")
      },
      Some("""
        SELECT lang, tok, COUNT(*) AS cnt
        FROM (SELECT lang, unnest(list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '')) AS tok
              FROM documents)
        WHERE tok LIKE 's%'
        GROUP BY lang, tok
        ORDER BY lang, tok""")),

    // B29: higher-order predicates — exists / forall / filter / reduce.
    Q(
      "q85_hof_predicates",
      (s, dir) => {
        val toks = graft.functions.GraftFunctions.tokens(col("text"))
        Tables.documents(s, dir)
          .select(col("doc_id"), toks.as("ts"))
          .select(
            col("doc_id"),
            exists(col("ts"), t => t === "the").as("has_the"),
            forall(col("ts"), t => length(t) < 12).as("all_short"),
            size(filter(col("ts"), t => length(t) === 4)).as("n_len4"),
            aggregate(col("ts"), lit(0L), (a, t) => a + length(t).cast("long")).as("total_len"))
          .orderBy("doc_id")
      },
      Some("""
        SELECT doc_id,
               len(list_filter(ts, t -> t = 'the')) > 0 AS has_the,
               len(list_filter(ts, t -> length(t) >= 12)) = 0 AS all_short,
               CAST(len(list_filter(ts, t -> length(t) = 4)) AS INT) AS n_len4,
               CAST(list_sum(list_transform(ts, t -> length(t))) AS BIGINT) AS total_len
        FROM (SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') AS ts
              FROM documents)
        ORDER BY doc_id""")),

    // B44: batched binary decode via mapPartitions over Dataset[MediaRecord].
    // The stub codec has no SQL twin, so the oracle checks the decode
    // CONTRACT (q16/q48 boolean-invariant pattern): no record lost or
    // duplicated, payload bytes preserved end-to-end, stub geometry in its
    // documented 64..127 box, audio duration = 8 ms/byte, and the rolling
    // checksum separating payloads exactly as md5 does. The cross-engine
    // scalars (n_total, n_kinds, total_bytes) anchor against the documents
    // table; exact per-record features are pinned by MultimodalSpec.
    Q(
      "q83_multimodal_decode",
      (s, dir) => {
        val media = Multimodal.fromDocuments(s, Tables.documents(s, dir))
        Multimodal.decodeFeatures(media).toDF()
          .join(
            Multimodal.fromDocuments(s, Tables.documents(s, dir)).toDF()
              .select(col("media_id"), md5(col("payload")).as("payload_md5")),
            "media_id")
          .agg(
            count(lit(1)).as("n_total"),
            countDistinct(col("kind")).as("n_kinds"),
            sum(col("size_bytes")).as("total_bytes"),
            (min(col("width")) >= 64 && max(col("width")) < 128 &&
              min(col("height")) >= 64 && max(col("height")) < 128).as("dims_in_range"),
            (sum(when(
              (col("kind") === "audio" && col("duration_ms") =!= col("size_bytes") * 8) ||
                (col("kind") =!= "audio" && col("duration_ms") =!= 0),
              1).otherwise(0)) === 0).as("audio_duration_ok"),
            (countDistinct(col("checksum")) === countDistinct(col("payload_md5")))
              .as("checksum_separates_payloads"))
      },
      Some("""
        SELECT COUNT(*) AS n_total,
               COUNT(DISTINCT doc_id % 3) AS n_kinds,
               CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes,
               TRUE AS dims_in_range,
               TRUE AS audio_duration_ok,
               TRUE AS checksum_separates_payloads
        FROM documents"""))
  )
}
