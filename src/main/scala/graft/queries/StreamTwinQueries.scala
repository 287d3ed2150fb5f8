package graft.queries

import graft.{Q, Tables}
import graft.streaming.StreamReplay
import org.apache.spark.sql.functions._

/** Batch-equivalent ORACLE twins for the streaming rows that used to be
  * spec-only (SURVEY.md B33/B36/B37): each query REALLY runs a
  * Structured Streaming job — file source, checkpoint, stateful
  * operator, AvailableNow drain — and returns its sink content,
  * which a deterministic replay makes SQL-expressible over the same
  * parquet `events` table the stream consumed. The point: the driver's
  * DuckDB gate now hash-checks streaming ingest (exactly-once across a
  * checkpointed restart), watermark late-data drop (the kept set), and
  * streaming dedup (state-backed distinct) — not just the green test
  * suite.
  *
  * Determinism comes from three levers: the file replay is split by a
  * pure predicate on a row id (or the event type); processing order is
  * forced by explicit file modification times + maxFilesPerTrigger=1
  * (the file source lists by mod time) — both pinned in
  * [[graft.streaming.StreamReplay]], which also owns the scratch layout,
  * the state-partition scope and the drains; and every output is
  * batch-boundary-insensitive (distinct sets, final aggregates) so WHICH
  * row of a duplicate group survives cannot leak into the hash.
  */
object StreamTwinQueries {

  val qs: Seq[Q] = Seq(

    // B33 oracle twin: checkpointed streaming ingest is exactly-once
    // ACROSS A RESTART. Phase 1 lands half the corpus (event_id % 2 = 0)
    // and drains a checkpointed stream into a parquet sink; phase 2 adds
    // the other half and RESTARTS the stream on the same checkpoint —
    // the resumed query must process only the new files (the reference's
    // progress.json resume, fetch_data.py:45-59, as a file-source
    // checkpoint). Any replayed or lost row breaks the per-type
    // count/sum hash against the plain batch table.
    Q(
      "q170_stream_restart_ingest",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val rp = new StreamReplay(s, "stream_restart")
        rp.write(StreamReplay.half(ev, "event_id", 0))
        rp.drainAppend(rp.stream) // phase 1: consumes half 0, commits offsets
        rp.write(StreamReplay.half(ev, "event_id", 1))
        rp.drainAppend(rp.stream) // phase 2: restart from checkpoint — must read ONLY half 1
        rp.sinkRows
          .groupBy("event_type")
          .agg(count(lit(1)).as("cnt"), sum(col("event_id")).as("id_sum"),
            countDistinct(col("event_id")).as("n_distinct"))
          .orderBy("event_type")
      },
      Some("""
        SELECT event_type, COUNT(*) AS cnt,
               CAST(SUM(event_id) AS BIGINT) AS id_sum,
               COUNT(DISTINCT event_id) AS n_distinct
        FROM events
        GROUP BY event_type
        ORDER BY event_type""")),

    // B36 oracle twin: watermark LATE-DATA DROP, deterministically. The
    // replay sends on-time rows (event_id % 10 <> 0), then a spacer, then
    // one final batch carrying the late rows (event_id % 10 = 0) plus a
    // watermark-advancing flush row far in the future. With a 1-hour
    // watermark over 1-day tumbling windows, a late row survives iff its
    // window END is above the watermark set by the on-time batch (max
    // on-time ts − 1h); the flush row closes every real window so Append
    // mode emits them all, and the oracle computes the identical kept-set
    // in SQL — counts that include a dropped row (or drop a kept one)
    // hash-mismatch.
    //
    // The spacer is load-bearing: Spark filters late events against the
    // PREVIOUS batch's watermark (`eventTimeWatermarkForLateEvents` lags
    // one commit behind the eviction watermark), so a late file processed
    // in the batch immediately after the on-time file would slip through
    // with watermark still at zero. The spacer row sits at the max
    // on-time ts — it advances nothing, but its commit puts the on-time
    // watermark one batch behind the late rows, where the filter sees it.
    // Verified against this build: without the spacer 0 late rows drop;
    // with it the drop matches the w1 arithmetic exactly.
    Q(
      "q171_stream_watermark_drop",
      (s, dir) => {
        import s.implicits._
        val ev = Tables.events(s, dir)
        val rp = new StreamReplay(s, "stream_wm")
        val onTime = ev.filter(col("event_id") % 10 =!= 0)
        val late = ev.filter(col("event_id") % 10 === 0)
        // One agg job for the corpus max ts (column-pruned scan), then
        // the single-row spacer/flush frames are driver-local — the
        // previous orderBy(desc).limit(1) pair cost two full TakeOrdered
        // jobs for two constants.
        val maxTs = ev.agg(max(col("ts"))).head().getTimestamp(0)
        val flushTs = java.sql.Timestamp.from(maxTs.toInstant.plus(java.time.Duration.ofDays(30)))
        val spacer = Seq((maxTs, "__flush")).toDF("ts", "event_type")
        rp.write(onTime.select("ts", "event_type"))
        rp.write(spacer)
        // Late rows and the watermark-advancing flush row share the
        // FINAL micro-batch: the late-data filter uses the watermark
        // committed after the spacer batch (one behind the eviction
        // watermark), so the kept-set is identical whether the flush row
        // rides with the late file or follows it — one fewer micro-batch
        // of pure fixed cost. The spacer stays load-bearing and separate:
        // it is what moves the on-time watermark into the filter before
        // the late rows arrive.
        rp.write(late.select("ts", "event_type")
          .unionAll(Seq((flushTs, "__flush")).toDF("ts", "event_type")))
        rp.drainAppend(rp.stream
          .withWatermark("ts", "1 hour")
          .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
          .agg(count(lit(1)).as("cnt"))
          .select(date_format(col("w.start"), "yyyy-MM-dd").as("day"),
            col("event_type"), col("cnt")))
        rp.sinkRows
          .filter(col("event_type") =!= "__flush")
          .orderBy("day", "event_type")
      },
      Some("""
        WITH ontime AS (SELECT CAST(ts AS TIMESTAMP) AS ts, event_type
                        FROM events WHERE event_id % 10 <> 0),
        late AS (SELECT CAST(ts AS TIMESTAMP) AS ts, event_type
                 FROM events WHERE event_id % 10 = 0),
        wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS w1 FROM ontime),
        kept AS (
          SELECT ts, event_type FROM ontime
          UNION ALL
          SELECT l.ts, l.event_type FROM late l, wm
          WHERE date_trunc('day', l.ts) + INTERVAL 1 DAY > wm.w1)
        SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
               event_type, COUNT(*) AS cnt
        FROM kept
        GROUP BY 1, 2
        ORDER BY day, event_type""")),

    // B37 oracle twin: streaming dedup through dropDuplicates state. The
    // replay splits the corpus across a batch boundary such that most
    // keys appear on BOTH sides (the stateful operator really drops
    // later-batch rows against earlier-batch state), duplicates every
    // key by construction (the projection to (user_id, event_type) has
    // heavy natural duplication), and the drained sink must equal the
    // batch DISTINCT — projected to the key columns, so which physical
    // row survived per key cannot leak into the hash.
    Q(
      "q172_stream_dedup",
      (s, dir) => {
        val rp = new StreamReplay(s, "stream_dedup")
        // Two replay files, not four, split by EVENT id (not user id, the
        // old split, under which every dedup-key's duplicates rode in one
        // file): with row-level parity both files carry instances of most
        // (user_id, event_type) keys, so batch 2 really probes — and is
        // dropped by — state written in batch 1. One batch boundary is
        // all the cross-batch semantics needs; each extra file was a full
        // micro-batch of fixed cost. The output is a distinct SET —
        // invariant to how the corpus is batched.
        rp.writeHalves(Tables.events(s, dir).select("event_id", "user_id", "event_type"),
          "event_id")
        rp.drainAppend(rp.stream.select("user_id", "event_type")
          .dropDuplicates("user_id", "event_type"))
        rp.sinkRows
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_users"), sum(col("user_id")).as("uid_sum"))
          .orderBy("event_type")
      },
      Some("""
        WITH d AS (SELECT DISTINCT user_id, event_type FROM events)
        SELECT event_type, COUNT(*) AS n_users,
               CAST(SUM(user_id) AS BIGINT) AS uid_sum
        FROM d
        GROUP BY event_type
        ORDER BY event_type""")),

    // B81 x B33: the STREAMING drift monitor — corpus snapshots land as
    // files, a complete-mode stateful aggregation maintains the per-bin
    // length histogram across micro-batches (fixed-width bins: a stream
    // cannot take a quantile sketch pass over data it has not seen), and
    // the exact integer KS replays over the final streamed histogram
    // through EvalMetrics.ksTestCounts. Two snapshot files force a real
    // cross-batch state update (maxFilesPerTrigger=1); the histogram is
    // a SET of final per-bin counts, so batch boundaries cannot leak
    // into the hash. The oracle computes the identical statistic from
    // the batch table — if the streamed counts drift by one row, d_num
    // or the totals mismatch.
    Q(
      "q185_stream_drift_histogram",
      (s, dir) => {
        val rp = new StreamReplay(s, "stream_drift")
        rp.writeHalves(Tables.documents(s, dir).select("doc_id", "n_chars"), "doc_id")
        val hist = rp.drainComplete(rp.stream
          .withColumn("bin", expr("n_chars div 50"))
          .withColumn("s1", col("doc_id") % 2 === 0)
          .groupBy("bin")
          .agg(
            sum(when(col("s1"), 1L).otherwise(0L)).as("p"),
            sum(when(col("s1"), 0L).otherwise(1L)).as("q")))
        graft.operators.EvalMetrics
          .ksTestCounts(hist.select(col("bin").as("v"), col("p"), col("q")))
          .withColumnRenamed("ks_at", "ks_at_bin")
      },
      Some("""
        WITH t AS (SELECT doc_id % 2 = 0 AS s1, n_chars // 50 AS bin FROM documents),
        pv AS (SELECT bin,
                      CAST(SUM(CASE WHEN s1 THEN 1 ELSE 0 END) AS BIGINT) AS p,
                      CAST(SUM(CASE WHEN s1 THEN 0 ELSE 1 END) AS BIGINT) AS q
               FROM t GROUP BY bin),
        c AS (SELECT bin, p, q,
                     CAST(SUM(p) OVER (ORDER BY bin) AS BIGINT) AS c1,
                     CAST(SUM(q) OVER (ORDER BY bin) AS BIGINT) AS c2
              FROM pv),
        n AS (SELECT CAST(SUM(p) AS BIGINT) AS n1, CAST(SUM(q) AS BIGINT) AS n2 FROM pv)
        SELECT n1, n2, CAST(abs(c1 * n2 - c2 * n1) AS BIGINT) AS d_num,
               CAST(n1 * n2 AS BIGINT) AS d_den, CAST(bin AS BIGINT) AS ks_at_bin
        FROM c, n
        ORDER BY d_num DESC, ks_at_bin
        LIMIT 1""")),

    // B37/B88 twin: the CATEGORICAL drift statistic over a streamed
    // complete-mode language histogram — the order-free complement of
    // q185's streamed KS, same contract: the memory sink holds a SET of
    // final per-category counts so batch boundaries cannot leak into the
    // hash, and the oracle recomputes the identical exact rational from
    // the batch table (it matches q189's batch path by construction —
    // THAT is the batch≡stream assertion).
    Q(
      "q195_stream_tvd",
      (s, dir) => {
        val rp = new StreamReplay(s, "stream_tvd")
        rp.writeHalves(Tables.documents(s, dir).select("doc_id", "lang"), "doc_id")
        val hist = rp.drainComplete(rp.stream
          .withColumn("s1", col("doc_id") % 2 === 0)
          .groupBy("lang")
          .agg(
            sum(when(col("s1"), 1L).otherwise(0L)).as("p"),
            sum(when(col("s1"), 0L).otherwise(1L)).as("q")))
        graft.operators.EvalMetrics
          .tvdCounts(hist.select(col("lang").as("v"), col("p"), col("q")))
      },
      Some("""
        WITH t AS (SELECT doc_id % 2 = 0 AS s1, lang AS v FROM documents),
        pv AS (SELECT v,
                      CAST(SUM(CASE WHEN s1 THEN 1 ELSE 0 END) AS BIGINT) AS p,
                      CAST(SUM(CASE WHEN s1 THEN 0 ELSE 1 END) AS BIGINT) AS q
               FROM t GROUP BY v),
        n AS (SELECT CAST(SUM(p) AS BIGINT) AS n1, CAST(SUM(q) AS BIGINT) AS n2 FROM pv)
        SELECT n1, n2,
               CAST(SUM(abs(p * n2 - q * n1)) AS BIGINT) AS tvd_num,
               CAST(2 * n1 * n2 AS BIGINT) AS tvd_den
        FROM pv, n
        GROUP BY n1, n2""")),

    // B102 streamed twin: the Benford first-digit audit over a streamed
    // digit histogram — the q207 statistic computed from counts that
    // arrived as two replayed micro-batches through a Complete-mode
    // streaming aggregate. Digit counts are associative, so the streamed
    // histogram is bit-identical to the batch one and the SAME oracle
    // hash-checks both; what this twin pins is the plumbing (file-source
    // replay order, Complete-mode re-emission, memory-sink drain).
    Q(
      "q214_stream_benford",
      (s, dir) => {
        val ords = Tables.orders(s, dir).select(
          substring(floor(col("o_totalprice")).cast("long").cast("string"), 1, 1)
            .cast("long").as("digit"),
          col("o_orderkey"))
        val rp = new StreamReplay(s, "stream_benford")
        rp.writeHalves(ords, "o_orderkey")
        val digits = rp.drainComplete(
          rp.stream.groupBy("digit").agg(count(lit(1)).as("n_obs")))
        val tot = digits.agg(sum("n_obs").as("nn"))
        val expected = expr(
          "CASE digit WHEN 1 THEN 301030 WHEN 2 THEN 176091 WHEN 3 THEN 124939 " +
            "WHEN 4 THEN 96910 WHEN 5 THEN 79181 WHEN 6 THEN 66947 " +
            "WHEN 7 THEN 57992 WHEN 8 THEN 51153 ELSE 45757 END").cast("long")
        digits.crossJoin(broadcast(tot))
          .select(col("digit"), col("n_obs"), expected.as("expected_ppm"),
            abs(lit(1000000L) * col("n_obs") - expected * col("nn")).as("dev_num"),
            col("nn").as("dev_den"))
          .orderBy("digit")
      },
      Some("""
        WITH d AS (SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit
                   FROM orders),
        c AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS n_obs FROM d GROUP BY 1),
        t AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS nn FROM c),
        e AS (SELECT digit, n_obs,
                     CAST(CASE digit WHEN 1 THEN 301030 WHEN 2 THEN 176091 WHEN 3 THEN 124939
                          WHEN 4 THEN 96910 WHEN 5 THEN 79181 WHEN 6 THEN 66947 WHEN 7 THEN 57992
                          WHEN 8 THEN 51153 ELSE 45757 END AS BIGINT) AS expected_ppm
              FROM c)
        SELECT digit, n_obs, expected_ppm,
               CAST(abs(1000000 * n_obs - expected_ppm * nn) AS BIGINT) AS dev_num,
               nn AS dev_den
        FROM e, t ORDER BY digit""")),

    // B121 streamed twin: the anti-entropy table digest over a STREAM —
    // bit_xor and the mod-sum are associative AND commutative (the
    // textbook streaming reducers), so a Complete-mode streamed
    // aggregate over the replayed row hashes is bit-identical to q227's
    // batch replica_a digest, whatever the micro-batch boundaries. The
    // same oracle fragment hash-checks both; what the twin pins is the
    // plumbing — and that the digest genuinely needs NO order or
    // partitioning guarantees from its transport.
    Q(
      "q232_stream_digest",
      (s, dir) => {
        val base = Tables.orders(s, dir).select(
          col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          to_date(col("o_orderdate")).as("od"))
        val hashed = graft.operators.TableDigest.rowHashes(
          base, Seq("o_orderkey", "o_custkey", "o_orderstatus", "od"))
          .select(col("h"), col("o_orderkey"))
        val rp = new StreamReplay(s, "stream_digest")
        rp.writeHalves(hashed, "o_orderkey")
        rp.drainComplete(rp.stream
            .agg(count(lit(1)).as("n_rows"),
              expr("bit_xor(h)").as("xor_digest"),
              sum(col("h") % 1000003L).as("modsum_digest")))
          .select(lit("replica_a").as("label"), col("n_rows"),
          col("xor_digest"), col("modsum_digest"))
      },
      Some("""
        WITH canon AS (SELECT CAST(('0x' || substring(md5(
                         coalesce(CAST(o_orderkey AS VARCHAR), chr(1)) || chr(2) ||
                         coalesce(CAST(o_custkey AS VARCHAR), chr(1)) || chr(2) ||
                         coalesce(o_orderstatus, chr(1)) || chr(2) ||
                         coalesce(CAST(CAST(o_orderdate AS DATE) AS VARCHAR), chr(1))
                       ), 1, 15)) AS BIGINT) AS h FROM orders)
        SELECT 'replica_a' AS label, CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(bit_xor(h) AS BIGINT) AS xor_digest,
               CAST(SUM(h % 1000003) AS BIGINT) AS modsum_digest
        FROM canon"""))
    ,

    // B127 streamed twin: count-min counters are plain sums (linear,
    // associative, commutative), so a Complete-mode streamed aggregate
    // over the exploded (j, bucket) coordinates builds a sketch
    // BIT-IDENTICAL to q235's batch build whatever the micro-batch
    // boundaries — the streaming half of "sketch the firehose, query the
    // bounded summary". The token corpus replays in two doc-parity
    // halves; estimates for the same top-8 probes then read the streamed
    // sketch, and the q235 oracle hash-checks the whole chain.
    Q(
      "q240_stream_countmin",
      (s, dir) => {
        val tok = Tables.documents(s, dir)
          .select(col("doc_id"),
            explode(graft.functions.GraftFunctions.tokens(col("text"))).as("t"))
        val rp = new StreamReplay(s, "stream_countmin")
        rp.writeHalves(tok, "doc_id")
        val sketch = rp.drainComplete(rp.stream
          .select(explode(graft.operators.CountMin.coordArray(col("t"), 4, 512)).as("e"))
          .groupBy(col("e.j").as("j"), col("e.bucket").as("bucket"))
          .agg(count(lit(1)).as("c")))
        val probes = tok.groupBy("t").agg(count(lit(1)).as("exact_n"))
          .orderBy(col("exact_n").desc, col("t")).limit(8)
        probes
          .join(graft.operators.CountMin.estimate(sketch, probes, "t", 4, 512),
            col("t") === col("key"))
          .select(col("t").as("token"), col("exact_n"), col("est"),
            (col("est") - col("exact_n")).as("overcount"))
          .orderBy(col("exact_n").desc, col("token"))
      },
      Some("""
        WITH tok AS (SELECT unnest(list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '')) AS t FROM documents),
        cnt AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS exact_n FROM tok GROUP BY 1),
        probes AS (SELECT t, exact_n FROM cnt ORDER BY exact_n DESC, t LIMIT 8),
        sk AS (SELECT j, CAST(('0x' || substring(md5('cm' || j || ':' || t), 1, 15)) AS BIGINT) % 512 AS bucket,
                      CAST(COUNT(*) AS BIGINT) AS c
               FROM tok, unnest([0, 1, 2, 3]) AS u(j) GROUP BY 1, 2),
        pc AS (SELECT t, j, CAST(('0x' || substring(md5('cm' || j || ':' || t), 1, 15)) AS BIGINT) % 512 AS bucket
               FROM probes, unnest([0, 1, 2, 3]) AS u(j)),
        est AS (SELECT pc.t, MIN(COALESCE(sk.c, 0)) AS est
                FROM pc LEFT JOIN sk ON sk.j = pc.j AND sk.bucket = pc.bucket
                GROUP BY 1)
        SELECT p.t AS token, p.exact_n, e.est, e.est - p.exact_n AS overcount
        FROM probes p JOIN est e ON e.t = p.t
        ORDER BY p.exact_n DESC, token""")),

    // B147 streamed twin: the Jensen–Shannon drift statistic over a
    // streamed Complete-mode event-type histogram — the q195 contract
    // verbatim (per-category counts are associative, so batch boundaries
    // cannot leak into the hash); the certified micronat floors then run
    // on the drained ≤|categories|-row table through the SAME jsCounts
    // the batch path uses, and the q256 oracle hash-checks both.
    Q(
      "q258_stream_jsd",
      (s, dir) => {
        val ev = Tables.events(s, dir)
          .select(col("event_id"), (col("user_id") % 2 === 0).as("s1"),
            col("event_type"))
        val rp = new StreamReplay(s, "stream_jsd")
        rp.writeHalves(ev, "event_id")
        val hist = rp.drainComplete(rp.stream
          .groupBy("event_type")
          .agg(
            sum(when(col("s1"), 1L).otherwise(0L)).as("p"),
            sum(when(col("s1"), 0L).otherwise(1L)).as("q")))
        graft.operators.EvalMetrics.jsCounts(
          hist.select(col("event_type").as("v"), col("p"), col("q")))
      },
      Some("""
        WITH t AS (SELECT user_id % 2 = 0 AS s1, event_type AS v FROM events),
        pv AS (SELECT v,
                      CAST(SUM(CASE WHEN s1 THEN 1 ELSE 0 END) AS BIGINT) AS p,
                      CAST(SUM(CASE WHEN s1 THEN 0 ELSE 1 END) AS BIGINT) AS q
               FROM t GROUP BY v),
        n AS (SELECT CAST(SUM(p) AS BIGINT) AS n1, CAST(SUM(q) AS BIGINT) AS n2 FROM pv),
        terms AS (SELECT p, q, n1, n2, p * n2 + q * n1 AS mden FROM pv, n),
        fl AS (SELECT p, q, n1, n2,
                      CASE WHEN p > 0 THEN CAST(floor(-ln(CAST(mden AS DOUBLE) / CAST(2 * p * n2 AS DOUBLE)) * 1e6) AS BIGINT) ELSE 0 END AS tp,
                      CASE WHEN q > 0 THEN CAST(floor(-ln(CAST(mden AS DOUBLE) / CAST(2 * q * n1 AS DOUBLE)) * 1e6) AS BIGINT) ELSE 0 END AS tq
               FROM terms)
        SELECT n1, n2, CAST(SUM(p * tp) AS BIGINT) AS jsp_num,
               CAST(SUM(q * tq) AS BIGINT) AS jsq_num
        FROM fl GROUP BY 1, 2""")),

    // B160 oracle twin: WATERMARKED STREAM-STREAM INNER JOIN — the one
    // marquee stateful operator the twin set lacked (q170–q258 cover
    // ingest/watermark-agg/dedup/sketches, none holds TWO sides in
    // state). Two streaming readers share the same replay sequence,
    // each filtering its event_type, so the view side lands entirely in
    // micro-batch 1 and every purchase joins against VIEW STATE in
    // batch 2 — the cross-batch state matching a within-batch join
    // would not prove — and the drained sink must equal the batch join
    // exactly (every pair once: state loss drops pairs, replay
    // duplicates them, either breaks the hash). Deliberately NOT
    // pinned: late-input drop and state eviction, because for
    // stream-stream joins the watermark cleanup is BEST-EFFORT by
    // contract (the SS guide: state "may or may not" serve a late row
    // before cleanup — measured here: duplicates of already-joined
    // rows re-matched when replayed after the watermark passed them).
    // The deterministic late-drop guarantee lives with the AGGREGATION
    // watermark, which q171 pins; the watermarks here still bound the
    // state the join must retain — the 100-TB property.
    Q(
      "q272_stream_stream_join",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val rp = new StreamReplay(s, "stream_ssj")
        val pick = ev.select(col("ts"), col("event_type"), col("event_id"), col("user_id"))
        val views = pick.filter(col("event_type") === "view")
        val purchases = pick.filter(col("event_type") === "purchase")
        rp.write(views)
        rp.write(purchases)
        def side(tpe: String, idAs: String, tsAs: String, userAs: String) =
          rp.stream
            .filter(col("event_type") === tpe)
            .select(col("ts").as(tsAs), col("event_id").as(idAs),
              col("user_id").as(userAs))
            .withWatermark(tsAs, "1 hour")
        val a = side("view", "a_id", "ats", "a_user")
        val b = side("purchase", "b_id", "bts", "b_user")
        rp.drainAppend(a
          .join(b, expr(
            "a_user = b_user AND bts >= ats AND bts <= ats + interval 1 day"))
          .selectExpr("a_id", "b_id",
            "(unix_micros(bts) - unix_micros(ats)) div 60000000 AS lag_min"))
        rp.sinkRows.orderBy("a_id", "b_id")
      },
      Some("""
        WITH a AS (SELECT event_id AS a_id, user_id, CAST(ts AS TIMESTAMP) AS ats
                   FROM events WHERE event_type = 'view'),
        b AS (SELECT event_id AS b_id, user_id, CAST(ts AS TIMESTAMP) AS bts
              FROM events WHERE event_type = 'purchase')
        SELECT a.a_id, b.b_id,
               CAST((epoch_us(b.bts) - epoch_us(a.ats)) // 60000000 AS BIGINT) AS lag_min
        FROM a JOIN b ON a.user_id = b.user_id
        WHERE b.bts >= a.ats AND b.bts <= a.ats + INTERVAL 1 DAY
        ORDER BY a_id, b_id"""))
  )
}
