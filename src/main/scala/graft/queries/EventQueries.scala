package graft.queries

import graft.{Q, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Event-stream analytics in batch form (SURVEY.md B3, B18-B19, B30,
  * B32, B34-B36 batch equivalents). The streaming twins of the windowed
  * queries live in graft.streaming and are exercised by ScalaTest with
  * Trigger.AvailableNow; these batch versions carry the DuckDB oracles.
  */
object EventQueries {

  val qs: Seq[Q] = Seq(
    // B3/B30: JSON decode of the props column (from_json into a struct on
    // the Spark side; the oracle re-derives k with a regexp so it does not
    // depend on DuckDB's json extension being loaded).
    Q(
      "q40_json_extract",
      (s, dir) =>
        Tables.events(s, dir)
          .withColumn("k", from_json(col("props"), StructType(Seq(StructField("k", IntegerType)))).getField("k"))
          .groupBy(col("event_type"))
          .agg(
            count(lit(1)).as("cnt"),
            sum(col("k")).as("sum_k"),
            min(col("k")).as("min_k"),
            max(col("k")).as("max_k"))
          .orderBy("event_type"),
      Some("""
        SELECT event_type, COUNT(*) AS cnt,
               CAST(SUM(k) AS BIGINT) AS sum_k, MIN(k) AS min_k, MAX(k) AS max_k
        FROM (SELECT event_type,
                     CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS INT) AS k
              FROM events)
        GROUP BY event_type
        ORDER BY event_type""")),

    // B30: map functions over the parsed props.
    Q(
      "q41_map_funcs",
      (s, dir) =>
        Tables.events(s, dir)
          .withColumn("m", from_json(col("props"), MapType(StringType, IntegerType)))
          .select(
            col("event_id"),
            array_join(array_sort(map_keys(col("m"))), ",").as("keys"),
            element_at(col("m"), "k").as("k_val"))
          .orderBy("event_id")
          .limit(500),
      Some("""
        SELECT event_id, 'k' AS keys,
               CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS INT) AS k_val
        FROM events
        ORDER BY event_id
        LIMIT 500""")),

    // B34 batch twin: tumbling event-time windows via window() — hourly
    // event counts. Output start as formatted string (portable).
    Q(
      "q42_tumbling_window",
      (s, dir) =>
        Tables.events(s, dir)
          .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
          .agg(count(lit(1)).as("cnt"))
          .select(
            date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
            col("event_type"), col("cnt"))
          .orderBy("win_start", "event_type"),
      Some("""
        SELECT strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S') AS win_start,
               event_type, COUNT(*) AS cnt
        FROM events
        GROUP BY 1, 2
        ORDER BY win_start, event_type""")),

    // B34: sliding windows (1h window, 30m slide) — each event lands in 2
    // windows; oracle expands the two candidate window starts per event.
    Q(
      "q43_sliding_window",
      (s, dir) =>
        Tables.events(s, dir)
          .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"))
          .agg(count(lit(1)).as("cnt"))
          .select(
            date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
            col("cnt"))
          .orderBy("win_start"),
      Some("""
        WITH slid AS (
          SELECT time_bucket(INTERVAL 30 MINUTE, CAST(ts AS TIMESTAMP)) AS b, ts FROM events)
        SELECT strftime(win_start, '%Y-%m-%d %H:%M:%S') AS win_start, COUNT(*) AS cnt FROM (
          SELECT b AS win_start FROM slid
          UNION ALL
          SELECT b - INTERVAL 30 MINUTE AS win_start FROM slid)
        GROUP BY 1
        ORDER BY win_start""")),

    // B35 batch twin: session windows = gap>30min islands per user
    // (lag + cumulative sum island detection).
    Q(
      "q44_sessionize",
      (s, dir) => {
        val wu = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        Tables.events(s, dir)
          .withColumn("prev_ts", lag(col("ts"), 1).over(wu))
          .withColumn("new_sess",
            when(col("prev_ts").isNull ||
              col("ts").cast(LongType) - col("prev_ts").cast(LongType) > 1800, 1L).otherwise(0L))
          .withColumn("sess_id", sum(col("new_sess")).over(
            Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy(col("user_id"), col("sess_id"))
          .agg(
            count(lit(1)).as("n_events"),
            (max(col("ts").cast(LongType)) - min(col("ts").cast(LongType))).as("sess_secs"))
          .groupBy(col("user_id"))
          .agg(
            count(lit(1)).as("n_sessions"),
            max(col("n_events")).as("max_events"),
            max(col("sess_secs")).as("longest_secs"))
          .orderBy("user_id")
      },
      Some("""
        WITH ordered AS (
          SELECT user_id, event_id, ts,
                 CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS tsec,
                 lag(CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT))
                   OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_tsec
          FROM events),
        flagged AS (
          SELECT *, CASE WHEN prev_tsec IS NULL
                          OR tsec - prev_tsec > 1800 THEN 1 ELSE 0 END AS new_sess
          FROM ordered),
        sess AS (
          SELECT user_id, event_id, tsec,
                 SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                     ROWS UNBOUNDED PRECEDING) AS sess_id
          FROM flagged),
        per_sess AS (
          SELECT user_id, sess_id, COUNT(*) AS n_events,
                 MAX(tsec) - MIN(tsec) AS sess_secs
          FROM sess GROUP BY user_id, sess_id)
        SELECT user_id, COUNT(*) AS n_sessions, MAX(n_events) AS max_events,
               MAX(sess_secs) AS longest_secs
        FROM per_sess GROUP BY user_id
        ORDER BY user_id""")),

    // B38 batch twin: running per-key state (cumulative counters).
    Q(
      "q45_running_state",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.events(s, dir)
          .select(
            col("event_id"), col("user_id"),
            count(lit(1)).over(w).as("events_so_far"),
            sum(col("value").cast(DecimalType(18, 2))).over(w).cast(DoubleType).as("value_so_far"))
          .orderBy("event_id")
          .limit(2000)
      },
      Some("""
        SELECT event_id, user_id,
               COUNT(*) OVER w AS events_so_far,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS value_so_far
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)
        ORDER BY event_id
        LIMIT 2000""")),

    // B18: approx_count_distinct — verified as exact count plus a bounded
    // relative-error flag (the sketch value itself is engine-specific).
    Q(
      "q46_approx_distinct",
      (s, dir) =>
        Tables.events(s, dir)
          .agg(
            countDistinct(col("user_id")).as("exact_users"),
            approx_count_distinct(col("user_id"), 0.02).as("approx_users"))
          .select(
            col("exact_users"),
            (abs(col("approx_users") - col("exact_users")).cast(DoubleType) /
              col("exact_users") <= 0.1).as("approx_ok")),
      Some("""
        SELECT COUNT(DISTINCT user_id) AS exact_users, TRUE AS approx_ok
        FROM events""")),

    // B19: exact interpolated percentiles via Spark's percentile();
    // rounded to absorb the engines' different interpolation arithmetic.
    Q(
      "q47_percentiles",
      (s, dir) =>
        Tables.lineitem(s, dir)
          .groupBy(col("l_returnflag"))
          .agg(
            round(expr("percentile(l_extendedprice, 0.5)"), 4).as("p50"),
            round(expr("percentile(l_extendedprice, 0.9)"), 4).as("p90"),
            round(expr("percentile(l_extendedprice, 0.99)"), 4).as("p99"))
          .orderBy("l_returnflag"),
      Some("""
        SELECT l_returnflag,
               round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
               round(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
               round(quantile_cont(l_extendedprice, 0.99), 4) AS p99
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag""")),

    // B19 scale twin: approx_percentile (Greenwald-Khanna, bounded sketch
    // state per group — survives value-cardinality that would OOM exact
    // percentile's per-group buffer). Sketch picks are engine-specific, so
    // the contract is tolerance booleans against the exact interpolated
    // percentile (q46's approx-distinct pattern); the exact anchor column
    // is itself cross-checked against DuckDB quantile_cont. accuracy=10000
    // bounds rank error at 1e-4; 1% relative value error is generous for
    // this spread.
    Q(
      "q104_approx_percentile",
      (s, dir) =>
        Tables.lineitem(s, dir)
          .groupBy(col("l_returnflag"))
          .agg(
            count(lit(1)).as("n_rows"),
            expr("approx_percentile(l_extendedprice, array(0.5, 0.9, 0.99), 10000)").as("ap"),
            expr("percentile(l_extendedprice, array(0.5, 0.9, 0.99))").as("ep"))
          .select(
            col("l_returnflag"),
            col("n_rows"),
            round(col("ep").getItem(0), 4).as("p50_exact"),
            (abs(col("ap").getItem(0) - col("ep").getItem(0)) / col("ep").getItem(0) <= 0.01).as("p50_ok"),
            (abs(col("ap").getItem(1) - col("ep").getItem(1)) / col("ep").getItem(1) <= 0.01).as("p90_ok"),
            (abs(col("ap").getItem(2) - col("ep").getItem(2)) / col("ep").getItem(2) <= 0.01).as("p99_ok"))
          .orderBy("l_returnflag"),
      Some("""
        SELECT l_returnflag,
               COUNT(*) AS n_rows,
               round(quantile_cont(l_extendedprice, 0.5), 4) AS p50_exact,
               TRUE AS p50_ok,
               TRUE AS p90_ok,
               TRUE AS p99_ok
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag""")),

    // B19 depth: the graft t-digest — a from-scratch MERGEABLE quantile
    // sketch (Dunning's t-digest; O(δ) centroids per group at any value
    // cardinality, partial digests combine into one δ-bounded digest at
    // the shuffle). Contract mirrors q104: tolerance booleans against the
    // exact interpolated percentile, exact anchors cross-checked. The
    // t-digest's k1 capacity bound makes tail estimates (p99) tighter
    // than mid-range ones — both get a generous 2% value band here.
    Q(
      "q109_tdigest_percentile",
      (s, dir) => {
        Tables.lineitem(s, dir)
          .groupBy(col("l_returnflag"))
          .agg(
            count(lit(1)).as("n_rows"),
            call_function(
              "graft_tdigest", col("l_extendedprice"),
              lit(0.5), lit(0.9), lit(0.99)).as("td"),
            expr("percentile(l_extendedprice, array(0.5, 0.9, 0.99))").as("ep"))
          .select(
            col("l_returnflag"),
            col("n_rows"),
            round(col("ep").getItem(0), 4).as("p50_exact"),
            (abs(col("td").getItem(0) - col("ep").getItem(0)) / col("ep").getItem(0) <= 0.02).as("p50_ok"),
            (abs(col("td").getItem(1) - col("ep").getItem(1)) / col("ep").getItem(1) <= 0.02).as("p90_ok"),
            (abs(col("td").getItem(2) - col("ep").getItem(2)) / col("ep").getItem(2) <= 0.02).as("p99_ok"))
          .orderBy("l_returnflag")
      },
      Some("""
        SELECT l_returnflag,
               COUNT(*) AS n_rows,
               round(quantile_cont(l_extendedprice, 0.5), 4) AS p50_exact,
               TRUE AS p50_ok,
               TRUE AS p90_ok,
               TRUE AS p99_ok
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag""")),

    // B32: stratified sampling (sampleBy) — per-stratum fractions with a
    // seed; verified by per-stratum tolerance bands (engine-specific row
    // picks, same contract as q48).
    Q(
      "q49_stratified_sample",
      (s, dir) => {
        val fracs = Map("F" -> 0.5, "O" -> 0.2, "P" -> 1.0)
        val orders = Tables.orders(s, dir)
        val sampled = orders.stat.sampleBy("o_orderstatus", fracs, 42L)
          .groupBy("o_orderstatus").count()
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        val totals = orders.groupBy("o_orderstatus").count()
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        import s.implicits._
        fracs.toSeq.sortBy(_._1).map { case (k, f) =>
          val got = sampled.getOrElse(k, 0L).toDouble / totals(k)
          (k, math.abs(got - f) <= 0.1)
        }.toDF("o_orderstatus", "fraction_in_tolerance")
      },
      Some("""
        SELECT o_orderstatus, TRUE AS fraction_in_tolerance
        FROM (SELECT DISTINCT o_orderstatus FROM orders)
        ORDER BY o_orderstatus""")),

    // B32: seeded sampling — inherently engine-specific row pick, so the
    // oracle-free contract is: the sampled fraction lands in a tolerance
    // band (checked in ScalaTest); here we surface the sample size only.
    Q(
      "q48_sampling",
      (s, dir) => {
        val n = Tables.lineitem(s, dir).sample(withReplacement = false, 0.1, seed = 42).count()
        val nAll = Tables.lineitem(s, dir).count()
        import s.implicits._
        Seq((n > 0.05 * nAll && n < 0.15 * nAll)).toDF("sample_in_bounds")
      },
      Some("SELECT TRUE AS sample_in_bounds")),

    // Staged funnel analysis: view -> click -> purchase, each stage's
    // entry time the FIRST qualifying event strictly after the previous
    // stage (the reference's harvested event stream is exactly this shape
    // of telemetry). Each stage is a keyed equi-join against a per-user
    // one-row frame + a min() re-aggregation — no window over the full
    // stream, no cross join; at 100 TB the stage frames are tiny relative
    // to events, so every join is broadcast- or shuffle-hash-eligible and
    // the event scan happens exactly once per stage with the event_type
    // filter pushed to parquet.
    Q(
      "q153_funnel",
      (s, dir) => {
        val e = Tables.events(s, dir).select("user_id", "event_type", "ts")
        def stage(evType: String, prev: DataFrame, prevTs: String, outTs: String) =
          e.filter(col("event_type") === evType)
            .join(prev, "user_id")
            .filter(col("ts") > col(prevTs))
            .groupBy("user_id").agg(min(col("ts")).as(outTs))
        val v = e.filter(col("event_type") === "view")
          .groupBy("user_id").agg(min(col("ts")).as("t1"))
        val c = stage("click", v, "t1", "t2")
        val p = stage("purchase", c, "t2", "t3")
        val total = e.select(countDistinct(col("user_id")).as("n_users"))
        total
          .crossJoin(v.select(count(lit(1)).as("n_view")))
          .crossJoin(c.select(count(lit(1)).as("n_view_click")))
          .crossJoin(p.select(count(lit(1)).as("n_full_funnel")))
      },
      Some("""
        WITH v AS (SELECT user_id, min(ts) AS t1 FROM events
                   WHERE event_type = 'view' GROUP BY 1),
        c AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
              JOIN v ON e.user_id = v.user_id AND e.ts > v.t1
              WHERE e.event_type = 'click' GROUP BY 1),
        p AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
              JOIN c ON e.user_id = c.user_id AND e.ts > c.t2
              WHERE e.event_type = 'purchase' GROUP BY 1)
        SELECT (SELECT count(DISTINCT user_id) FROM events) AS n_users,
               (SELECT count(*) FROM v) AS n_view,
               (SELECT count(*) FROM c) AS n_view_click,
               (SELECT count(*) FROM p) AS n_full_funnel""")),

    // Cohort retention matrix: users bucketed by first-activity week,
    // counted in each later week they were active. Week index is exact
    // integer arithmetic (days since the epoch anchor div 7) — no
    // engine-specific week-truncation semantics to diverge on. Two hash
    // aggregates + one keyed join; the distinct (user, week) reduction
    // happens BEFORE the join so the join input is bounded by
    // users x weeks, not by raw events.
    Q(
      "q154_retention",
      (s, dir) => {
        val uw = Tables.events(s, dir)
          .select(col("user_id"),
            expr("datediff(to_date(ts), date'2024-01-01') div 7")
              .cast("int").as("week"))
          .distinct()
        val cohort = uw.groupBy("user_id").agg(min(col("week")).as("cohort_week"))
        uw.join(cohort, "user_id")
          .groupBy(col("cohort_week"),
            (col("week") - col("cohort_week")).as("week_offset"))
          .agg(countDistinct(col("user_id")).as("n_active"))
          .orderBy("cohort_week", "week_offset")
      },
      Some("""
        WITH uw AS (SELECT DISTINCT user_id,
                      CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) // 7 AS INT) AS week
                    FROM events),
        cohort AS (SELECT user_id, min(week) AS cohort_week FROM uw GROUP BY 1)
        SELECT c.cohort_week, u.week - c.cohort_week AS week_offset,
               count(DISTINCT u.user_id) AS n_active
        FROM uw u JOIN cohort c ON u.user_id = c.user_id
        GROUP BY 1, 2
        ORDER BY cohort_week, week_offset""")),

    // B93: user-journey transition matrix — first-order Markov counts
    // over each user's event sequence: consecutive (state -> next state)
    // pairs per user under a total order (ts, event_id tiebreak), then
    // the (from, to) count grid with the from-marginal attached, so the
    // row-conditional transition probability is the caller's exact
    // rational n/n_from. The per-user lead is a GROUPED window
    // (partition-parallel by user — the safe kind; a user's history fits
    // a partition by construction), and the grid is one partial-agg'd
    // shuffle bounded by |event types|².
    Q(
      "q198_transition_matrix",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy("ts", "event_id")
        val pairs = Tables.events(s, dir)
          .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
          .withColumn("to_state", lead(col("event_type"), 1).over(w))
          .filter(col("to_state").isNotNull)
          .groupBy(col("event_type").as("from_state"), col("to_state"))
          .agg(count(lit(1)).as("n"))
        val marg = pairs.groupBy("from_state").agg(sum("n").as("n_from"))
        pairs.join(marg, "from_state")
          .select("from_state", "to_state", "n", "n_from")
          .orderBy("from_state", "to_state")
      },
      Some("""
        WITH seq AS (SELECT event_type AS from_state,
                            lead(event_type) OVER (PARTITION BY user_id
                                                   ORDER BY ts, event_id) AS to_state
                     FROM events),
        pairs AS (SELECT from_state, to_state, CAST(COUNT(*) AS BIGINT) AS n
                  FROM seq WHERE to_state IS NOT NULL GROUP BY 1, 2),
        marg AS (SELECT from_state, CAST(SUM(n) AS BIGINT) AS n_from
                 FROM pairs GROUP BY 1)
        SELECT from_state, to_state, n, n_from
        FROM pairs JOIN marg USING (from_state)
        ORDER BY from_state, to_state""")),

    // B95: frequent journey trigrams — the second-order complement of the
    // q198 transition matrix: which THREE-step paths dominate. Two leads
    // over the same grouped per-user window, then one partial-agg'd count
    // over a grid bounded by |event types|³, top-15 under a total order
    // (count desc, then the path itself) so the cut is deterministic. The
    // limit plans as TakeOrderedAndProject — no global sort.
    Q(
      "q200_journey_trigrams",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy("ts", "event_id")
        Tables.events(s, dir)
          .select(col("user_id"), col("ts"), col("event_id"), col("event_type").as("a"))
          .withColumn("b", lead(col("a"), 1).over(w))
          .withColumn("c", lead(col("a"), 2).over(w))
          .filter(col("c").isNotNull)
          .groupBy("a", "b", "c")
          .agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("a"), col("b"), col("c"))
          .limit(15)
      },
      Some("""
        WITH seq AS (SELECT event_type AS a,
                            lead(event_type, 1) OVER w AS b,
                            lead(event_type, 2) OVER w AS c
                     FROM events
                     WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        SELECT a, b, c, CAST(COUNT(*) AS BIGINT) AS n
        FROM seq WHERE c IS NOT NULL
        GROUP BY 1, 2, 3
        ORDER BY n DESC, a, b, c
        LIMIT 15""")),

    // B96: CUSUM changepoint per series — "WHEN did this metric move",
    // the temporal complement of the drift wing's "did it move":
    // D_g = max_k |S_k - (k/n)*S_n| over the daily exact-integer sums,
    // cleared of the /n to the exact rational d_num/n, with change_at the
    // earliest day attaining the max (ties break to the earliest — the
    // argmax is one partial-agg'd max(struct), never a second window).
    // The cumulative pass is a GROUPED window ordered by day (a series'
    // history fits a partition; the global PrefixSum machinery would be
    // overkill for per-series days). In-plan guard |S_k|,|S_n| < 2^62/n
    // bounds every cleared product.
    Q(
      "q201_cusum_changepoint",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("g").orderBy("d")
        val k62 = Long.MaxValue / 2
        val daily = Tables.events(s, dir)
          .groupBy(col("event_type").as("g"),
            expr("datediff(to_date(ts), date'2024-01-01')").cast(LongType).as("d"))
          .agg(sum(floor(col("value"))).as("x"))
        val cum = daily
          .withColumn("sk", sum("x").over(w))
          .withColumn("k", row_number().over(w).cast(LongType))
        val tot = daily.groupBy("g")
          .agg(count(lit(1)).as("n"), sum("x").as("sn"))
        cum.join(tot, "g")
          .select(col("g"), col("n"), col("d"),
            graft.operators.Guards(abs(col("sk")) <= expr(s"${k62}L div n") &&
                abs(col("sn")) <= expr(s"${k62}L div n"),
              abs(col("n") * col("sk") - col("k") * col("sn")),
              concat(
                lit("[cusum] cleared product overflow for series "), col("g"),
                lit(": rescale the value unit (n*max|S_k| must stay < 2^62)")))
              .as("diff"))
          .groupBy("g", "n")
          .agg(max(struct(col("diff"), (-col("d")).as("neg"))).as("m"))
          .select(col("g"), col("n"), col("m.diff").as("d_num"),
            col("n").as("d_den"), (-col("m.neg")).as("change_at"))
          .orderBy("g")
      },
      Some("""
        WITH daily AS (SELECT event_type AS g,
                              CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) AS d,
                              CAST(SUM(CAST(floor(value) AS BIGINT)) AS BIGINT) AS x
                       FROM events GROUP BY 1, 2),
        cum AS (SELECT g, d,
                       CAST(SUM(x) OVER (PARTITION BY g ORDER BY d) AS BIGINT) AS sk,
                       CAST(ROW_NUMBER() OVER (PARTITION BY g ORDER BY d) AS BIGINT) AS k
                FROM daily),
        tot AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS sn
                FROM daily GROUP BY 1)
        SELECT g, n, CAST(MAX(abs(n*sk - k*sn)) AS BIGINT) AS d_num,
               CAST(n AS BIGINT) AS d_den,
               CAST(MIN(CASE WHEN abs(n*sk - k*sn) = m THEN d END) AS BIGINT) AS change_at
        FROM (SELECT c.g, c.d, c.sk, c.k, t.n, t.sn,
                     MAX(abs(t.n*c.sk - c.k*t.sn)) OVER (PARTITION BY c.g) AS m
              FROM cum c JOIN tot t USING (g))
        GROUP BY 1, 2 ORDER BY g""")),

    // B97: Spearman rank correlation between every pair of series — which
    // metrics co-move, robust to monotone rescaling (the rank twin of
    // q199's lagged Pearson co-moments). Ranks are EXACT integers via the
    // doubled-average-rank trick: 2*avgrank = 2*rank + |ties| - 1 (both
    // engines compute rank() and a partition count identically — no float
    // average anywhere), then the same scale-cleared co-moment reduction
    // as q199 with the same Cauchy-Schwarz-backed guard. The day-aligned
    // pair frame is one equi-join on day bounded by |series|² per day;
    // the rank windows are GROUPED by (ga, gb) — partition-parallel.
    Q(
      "q202_spearman_pairs",
      (s, dir) => {
        val k62 = Long.MaxValue / 2
        val daily = Tables.events(s, dir)
          .groupBy(col("event_type").as("g"),
            expr("datediff(to_date(ts), date'2024-01-01')").cast(LongType).as("d"))
          .agg(sum(floor(col("value"))).as("x"))
        val a = daily.select(col("g").as("ga"), col("d"), col("x").as("xa"))
        val b = daily.select(col("g").as("gb"), col("d"), col("x").as("xb"))
        val W = org.apache.spark.sql.expressions.Window
        val wa = W.partitionBy("ga", "gb").orderBy("xa")
        val wb = W.partitionBy("ga", "gb").orderBy("xb")
        val ta = W.partitionBy("ga", "gb", "xa")
        val tb = W.partitionBy("ga", "gb", "xb")
        a.join(b, "d").filter(col("ga") < col("gb"))
          .select(col("ga"), col("gb"),
            (rank().over(wa).cast(LongType) * 2L + count(lit(1)).over(ta) - 1L).as("ra"),
            (rank().over(wb).cast(LongType) * 2L + count(lit(1)).over(tb) - 1L).as("rb"))
          .groupBy("ga", "gb")
          .agg(
            count(lit(1)).as("n"), sum("ra").as("sx"), sum("rb").as("sy"),
            sum(col("ra") * col("rb")).as("sxy"),
            sum(col("ra") * col("ra")).as("sx2"),
            sum(col("rb") * col("rb")).as("sy2"))
          .select(
            col("ga"), col("gb"), col("n"),
            graft.operators.Guards(col("sx2") <= expr(s"${k62}L div n") && col("sy2") <= expr(s"${k62}L div n"),
              col("n") * col("sxy") - col("sx") * col("sy"),
              concat(
                lit("[spearman] co-moment overflow for pair ("), col("ga"), lit(", "),
                col("gb"), lit("): n*max(sum ra^2, sum rb^2) must stay < 2^62")))
              .as("cov_num"),
            (col("n") * col("sx2") - col("sx") * col("sx")).as("varx_num"),
            (col("n") * col("sy2") - col("sy") * col("sy")).as("vary_num"))
          .orderBy("ga", "gb")
      },
      Some("""
        WITH daily AS (SELECT event_type AS g,
                              CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) AS d,
                              CAST(SUM(CAST(floor(value) AS BIGINT)) AS BIGINT) AS x
                       FROM events GROUP BY 1, 2),
        pairs AS (SELECT a.g AS ga, b.g AS gb, a.d AS d, a.x AS xa, b.x AS xb
                  FROM daily a JOIN daily b ON a.d = b.d AND a.g < b.g),
        ranked AS (SELECT ga, gb,
                          2*rank() OVER (PARTITION BY ga, gb ORDER BY xa)
                            + count(*) OVER (PARTITION BY ga, gb, xa) - 1 AS ra,
                          2*rank() OVER (PARTITION BY ga, gb ORDER BY xb)
                            + count(*) OVER (PARTITION BY ga, gb, xb) - 1 AS rb
                   FROM pairs),
        m AS (SELECT ga, gb, CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(SUM(ra) AS BIGINT) AS sx, CAST(SUM(rb) AS BIGINT) AS sy,
                     CAST(SUM(ra*rb) AS BIGINT) AS sxy,
                     CAST(SUM(ra*ra) AS BIGINT) AS sx2,
                     CAST(SUM(rb*rb) AS BIGINT) AS sy2
              FROM ranked GROUP BY 1, 2)
        SELECT ga, gb, n, CAST(n*sxy - sx*sy AS BIGINT) AS cov_num,
               CAST(n*sx2 - sx*sx AS BIGINT) AS varx_num,
               CAST(n*sy2 - sy*sy AS BIGINT) AS vary_num
        FROM m ORDER BY ga, gb""")),

    // B98: Mann-Kendall trend test per series — the distribution-free "is
    // this metric monotonically trending" answer (S = sum of pairwise
    // value-change signs under time order) with the tie-corrected
    // variance as the exact integer var18_num = n(n-1)(2n+5) - sum
    // t(t-1)(2t+5), so Z = S/sqrt(var18/18) is the caller's one-liner.
    // The pair frame is an equi-join on the series key with the d<d'
    // residual — n_days²/2 pairs PER SERIES, which is the honest cost of
    // the exact statistic (a decade of days is ~6.6M pairs; fine) and is
    // pre-guarded: the day count rides the join input, so a series too
    // long to square (> 65536 days) raises BEFORE the quadratic expansion,
    // pointing at weekly pre-binning.
    Q(
      "q203_mann_kendall",
      (s, dir) => {
        val daily = Tables.events(s, dir)
          .groupBy(col("event_type").as("g"),
            expr("datediff(to_date(ts), date'2024-01-01')").cast(LongType).as("d"))
          .agg(sum(floor(col("value"))).as("x"))
        val nPer = daily.groupBy("g").agg(count(lit(1)).as("n"))
        val guarded = daily.join(nPer, "g")
          .select(col("g"), col("d"), col("x"),
            graft.operators.Guards(col("n") <= 65536L, col("n"),
              concat(
                lit("[mann-kendall] series "), col("g"),
                lit(" has too many points to pair exactly (> 65536): pre-bin to weeks")))
              .as("n"))
        val sStat = guarded.as("a")
          .join(guarded.as("b"), col("a.g") === col("b.g") && col("b.d") > col("a.d"))
          .groupBy(col("a.g").as("g"))
          .agg(sum(signum(col("b.x") - col("a.x")).cast(LongType)).as("s"))
        val ties = daily.groupBy("g", "x").agg(count(lit(1)).as("t"))
          .groupBy("g")
          .agg(sum(col("t") * (col("t") - 1L) * (col("t") * 2L + 5L)).as("tie_adj"))
        sStat.join(ties, "g").join(nPer, "g")
          .select(col("g"), col("n"), col("s"),
            (col("n") * (col("n") - 1L) * (col("n") * 2L + 5L) - col("tie_adj")).as("var18_num"))
          .orderBy("g")
      },
      Some("""
        WITH daily AS (SELECT event_type AS g,
                              CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) AS d,
                              CAST(SUM(CAST(floor(value) AS BIGINT)) AS BIGINT) AS x
                       FROM events GROUP BY 1, 2),
        s AS (SELECT a.g,
                     CAST(SUM(CASE WHEN b.x > a.x THEN 1 WHEN b.x < a.x THEN -1 ELSE 0 END) AS BIGINT) AS s
              FROM daily a JOIN daily b ON a.g = b.g AND b.d > a.d GROUP BY 1),
        ties AS (SELECT g, CAST(SUM(t*(t-1)*(2*t+5)) AS BIGINT) AS tie_adj
                 FROM (SELECT g, x, CAST(COUNT(*) AS BIGINT) AS t FROM daily GROUP BY 1, 2)
                 GROUP BY 1),
        n AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n FROM daily GROUP BY 1)
        SELECT g, n, s, CAST(n*(n-1)*(2*n+5) - tie_adj AS BIGINT) AS var18_num
        FROM s JOIN ties USING (g) JOIN n USING (g)
        ORDER BY g""")),

    // B103: Theil–Sen robust trend slope per series — the median of all
    // pairwise slopes, the estimator B98's Mann–Kendall test is usually
    // paired with (50% breakdown point where B53's OLS slope is dragged
    // by one outlier day). Slopes are rationals dx/dd; each is pushed
    // through the order-embedding key = ((dx + 2^30·dd)·10^6) div dd:
    // the 2^30 shift keeps the dividend positive, so Spark's
    // truncate-toward-zero `div` and DuckDB's flooring `//` agree, and
    // key − 2^30·10^6 IS floor(slope·10^6) exactly — negative slopes
    // included. Median = the (m+1)/2-th key under a grouped
    // (partition-parallel) row_number; the pair frame is the same
    // broadcast self-equi-join as q203 and shares its scale posture.
    Q(
      "q208_theil_sen",
      (s, dir) => {
        val daily = Tables.events(s, dir)
          .groupBy(col("event_type").as("g"),
            expr("datediff(to_date(ts), date'2024-01-01')").cast(LongType).as("d"))
          .agg(sum(floor(col("value"))).as("x"))
        val b = daily.select(col("g"), col("d").as("d2"), col("x").as("x2"))
        val C = 1073741824L
        val maxShift = Long.MaxValue / 1000000L
        val pairs = daily.join(b, Seq("g")).filter(col("d2") > col("d"))
          .select(col("g"),
            (col("x2") - col("x")).as("dx"), (col("d2") - col("d")).as("dd"))
          .select(col("g"),
            graft.operators.Guards(abs(col("dx")) < lit(C) &&
                lit(C) * col("dd") + abs(col("dx")) <= lit(maxShift),
              expr(s"((dx + ${C}L * dd) * 1000000L) div dd"),
              concat(
                lit("[theil-sen] slope key out of the exact fixed-point range for series "),
                col("g"), lit(": rescale the value unit or shorten the window")))
              .as("key"))
        val m = pairs.groupBy("g").agg(count(lit(1)).as("n_pairs"))
          .withColumn("k", expr("(n_pairs + 1) div 2"))
        val w = Window.partitionBy("g").orderBy("key")
        pairs.withColumn("rn", row_number().over(w).cast(LongType))
          .join(m, "g").filter(col("rn") === col("k"))
          .select(col("g"), col("n_pairs"),
            (col("key") - lit(C * 1000000L)).as("slope_e6"))
          .orderBy("g")
      },
      Some("""
        WITH daily AS (SELECT event_type AS g,
                              CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) AS d,
                              CAST(SUM(CAST(floor(value) AS BIGINT)) AS BIGINT) AS x
                       FROM events GROUP BY 1, 2),
        pairs AS (SELECT a.g,
                         ((b.x - a.x) + CAST(1073741824 AS BIGINT) * (b.d - a.d)) * CAST(1000000 AS BIGINT) // (b.d - a.d) AS key
                  FROM daily a JOIN daily b ON a.g = b.g AND b.d > a.d),
        m AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n_pairs,
                     CAST((COUNT(*) + 1) // 2 AS BIGINT) AS k
              FROM pairs GROUP BY 1),
        r AS (SELECT g, key, CAST(ROW_NUMBER() OVER (PARTITION BY g ORDER BY key) AS BIGINT) AS rn
              FROM pairs)
        SELECT m.g, n_pairs, CAST(r.key - CAST(1073741824 AS BIGINT) * 1000000 AS BIGINT) AS slope_e6
        FROM m JOIN r ON r.g = m.g AND r.rn = m.k
        ORDER BY m.g""")),

    // B104: conversion-latency quartiles per signup cohort — how long
    // from a user's first signup to their first subsequent purchase,
    // summarized as exact type-1 quantiles (k_p = ceil(p·n)-th smallest,
    // never interpolated — engine floats can't disagree about a value
    // the data contains). Cohort = integer weeks since the corpus epoch
    // (datediff div 7 — identical in both engines where week-of-year
    // formatting is convention lore). One grouped row_number window;
    // the three order statistics come back in a single conditional
    // aggregate, not three joins.
    Q(
      "q209_conversion_latency",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val su = ev.filter(col("event_type") === "signup")
          .groupBy("user_id").agg(min("ts").as("sts"))
        val pu = ev.filter(col("event_type") === "purchase")
          .join(su, "user_id").filter(col("ts") >= col("sts"))
          .groupBy("user_id").agg(min("ts").as("pts"))
        val lat = su.join(pu, "user_id")
          .select(
            expr("datediff(to_date(sts), date'2024-01-01') div 7")
              .cast(LongType).as("cohort_wk"),
            (col("pts").cast(LongType) - col("sts").cast(LongType)).as("delta_s"))
        val ks = lat.groupBy("cohort_wk").agg(count(lit(1)).as("n"))
          .withColumn("k25", expr("(n + 3) div 4"))
          .withColumn("k50", expr("(n + 1) div 2"))
          .withColumn("k75", expr("(3 * n + 3) div 4"))
        val w = Window.partitionBy("cohort_wk").orderBy("delta_s")
        lat.withColumn("rn", row_number().over(w).cast(LongType))
          .join(ks, "cohort_wk")
          .groupBy(col("cohort_wk"), col("n"))
          .agg(
            min(when(col("rn") === col("k25"), col("delta_s"))).as("q25_s"),
            min(when(col("rn") === col("k50"), col("delta_s"))).as("q50_s"),
            min(when(col("rn") === col("k75"), col("delta_s"))).as("q75_s"))
          .orderBy("cohort_wk")
      },
      Some("""
        WITH su AS (SELECT user_id, min(ts) AS sts FROM events WHERE event_type = 'signup' GROUP BY 1),
        pu AS (SELECT e.user_id, min(e.ts) AS pts
               FROM events e JOIN su ON su.user_id = e.user_id AND e.ts >= su.sts
               WHERE e.event_type = 'purchase' GROUP BY 1),
        lat AS (SELECT su.user_id,
                       CAST(datediff('day', DATE '2024-01-01', CAST(su.sts AS DATE)) // 7 AS BIGINT) AS cohort_wk,
                       CAST(floor(epoch(pu.pts)) - floor(epoch(su.sts)) AS BIGINT) AS delta_s
                FROM su JOIN pu ON pu.user_id = su.user_id),
        ks AS (SELECT cohort_wk, CAST(COUNT(*) AS BIGINT) AS n,
                      CAST((COUNT(*) + 3) // 4 AS BIGINT) AS k25,
                      CAST((COUNT(*) + 1) // 2 AS BIGINT) AS k50,
                      CAST((3 * COUNT(*) + 3) // 4 AS BIGINT) AS k75
               FROM lat GROUP BY 1),
        r AS (SELECT cohort_wk, delta_s,
                     CAST(ROW_NUMBER() OVER (PARTITION BY cohort_wk ORDER BY delta_s) AS BIGINT) AS rn
              FROM lat)
        SELECT ks.cohort_wk, n,
               CAST(MIN(CASE WHEN rn = k25 THEN delta_s END) AS BIGINT) AS q25_s,
               CAST(MIN(CASE WHEN rn = k50 THEN delta_s END) AS BIGINT) AS q50_s,
               CAST(MIN(CASE WHEN rn = k75 THEN delta_s END) AS BIGINT) AS q75_s
        FROM ks JOIN r ON r.cohort_wk = ks.cohort_wk
        GROUP BY 1, 2 ORDER BY 1""")),

    // B107: adoption-order precedence matrix — for every ordered pair of
    // event types, how many users FIRST touched a before b (first-
    // occurrence ordering, not the consecutive-step q198 transition or a
    // fixed-path funnel): the support/lift counts behind "which features
    // get adopted first". One (user, type) min-ts aggregate, then a
    // per-user self-equi-join bounded by |types|² rows per user, plus
    // type marginals and the user total so lift = n_users·n_ab/(n_a·n_b)
    // is the caller's exact rational. No windows, no unbounded joins.
    Q(
      "q212_adoption_precedence",
      (s, dir) => {
        val ut = Q.persistOnce(Tables.events(s, dir)
          .groupBy(col("user_id"), col("event_type").as("t"))
          .agg(min("ts").as("f")))
        val nu = Tables.events(s, dir)
          .agg(countDistinct("user_id").as("n_users"))
        val b = ut.select(col("user_id"), col("t").as("tb"), col("f").as("fb"))
        val ab = ut.join(b, "user_id")
          .filter(col("t") =!= col("tb") && col("f") < col("fb"))
          .groupBy(col("t").as("a"), col("tb").as("b"))
          .agg(count(lit(1)).as("n_ab"))
        val m = ut.groupBy(col("t")).agg(count(lit(1)).as("n_t"))
        ab.join(m.select(col("t").as("a"), col("n_t").as("n_a")), "a")
          .join(m.select(col("t").as("b"), col("n_t").as("n_b")), "b")
          .crossJoin(broadcast(nu))
          .select(col("a"), col("b"), col("n_ab"), col("n_a"), col("n_b"),
            col("n_users"))
          .orderBy("a", "b")
      },
      Some("""
        WITH ut AS (SELECT user_id, event_type AS t, min(ts) AS f FROM events GROUP BY 1, 2),
        nu AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users FROM events),
        ab AS (SELECT a.t AS a, b.t AS b, CAST(COUNT(*) AS BIGINT) AS n_ab
               FROM ut a JOIN ut b ON a.user_id = b.user_id AND a.t <> b.t AND a.f < b.f
               GROUP BY 1, 2),
        m AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS n_t FROM ut GROUP BY 1)
        SELECT ab.a, ab.b, n_ab, ma.n_t AS n_a, mb.n_t AS n_b, n_users
        FROM ab JOIN m ma ON ma.t = ab.a JOIN m mb ON mb.t = ab.b, nu
        ORDER BY ab.a, ab.b""")),

    // B115: Wald–Wolfowitz runs test per series — the RANDOMNESS screen
    // the trend wing (q203 Mann–Kendall, q201 CUSUM) assumes but never
    // checks: dichotomize each series' daily values at its own lower
    // median (above = 1, at-or-below = 0 — no rows dropped, so the split
    // is total and deterministic), count runs of equal sign, and emit the
    // exact pieces (n_above, n_below, runs); too FEW runs = clumping /
    // regime persistence, too MANY = oscillation, with
    // E[R] = 2·n1·n2/N + 1 the caller's rational. Shapes: one grouped
    // median order statistic, a key-equi join of the per-series median
    // back (dictionary-sized, AQE-broadcast), one grouped lag window —
    // all partition-parallel by series.
    Q(
      "q221_runs_test",
      (s, dir) => {
        val daily = Tables.events(s, dir)
          .groupBy(col("event_type").as("g"),
            expr("datediff(to_date(ts), date'2024-01-01')").cast(LongType).as("d"))
          .agg(sum(floor(col("value"))).as("x"))
        val wm = Window.partitionBy("g").orderBy("x")
        val med = daily
          .withColumn("rn", row_number().over(wm).cast(LongType))
          .withColumn("cnt", count(lit(1)).over(Window.partitionBy("g")))
          .filter(col("rn") === expr("(cnt + 1) div 2"))
          .select(col("g"), col("x").as("med"))
        val wd = Window.partitionBy("g").orderBy("d")
        daily.join(med, "g")
          .select(col("g"), col("d"),
            when(col("x") > col("med"), 1L).otherwise(0L).as("sgn"))
          .withColumn("pl", lag("sgn", 1).over(wd))
          .groupBy("g")
          .agg(
            sum(col("sgn")).as("n_above"),
            sum(lit(1L) - col("sgn")).as("n_below"),
            sum(when(col("pl").isNull || col("pl") =!= col("sgn"), 1L)
              .otherwise(0L)).as("runs"))
          .orderBy("g")
      },
      Some("""
        WITH daily AS (SELECT event_type AS g,
                              CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) AS d,
                              CAST(SUM(CAST(floor(value) AS BIGINT)) AS BIGINT) AS x
                       FROM events GROUP BY 1, 2),
        med AS (SELECT g, x AS med FROM (
                  SELECT g, x, ROW_NUMBER() OVER (PARTITION BY g ORDER BY x) AS rn,
                         COUNT(*) OVER (PARTITION BY g) AS cnt
                  FROM daily) WHERE rn = (cnt + 1) // 2),
        signed AS (SELECT d.g, d.d, CASE WHEN d.x > m.med THEN 1 ELSE 0 END AS s
                   FROM daily d JOIN med m ON m.g = d.g),
        r AS (SELECT g, s, lag(s) OVER (PARTITION BY g ORDER BY d) AS pl FROM signed)
        SELECT g,
               CAST(SUM(s) AS BIGINT) AS n_above,
               CAST(SUM(1 - s) AS BIGINT) AS n_below,
               CAST(SUM(CASE WHEN pl IS NULL OR pl <> s THEN 1 ELSE 0 END) AS BIGINT) AS runs
        FROM r GROUP BY 1 ORDER BY 1""")),

    // B116: Kendall tau-b between every pair of series — the
    // concordance-counting rank correlation beside q202's Spearman:
    // tau-b's pieces are PURE integers by construction (concordant minus
    // discordant pair signs, tie-corrected denominators
    // n0 − tx, n0 − ty with n0 = n(n−1)/2), so unlike Spearman no
    // rank-doubling trick is needed and tau_b = cd_num/sqrt(denx·deny)
    // is the caller's one-liner. The day-pair self-join is bounded by
    // days²/2 per series pair over the q202 day-aligned frame (persisted
    // once: it feeds the pair join twice plus three marginal aggregates);
    // the q203 pre-guard posture applies — at > 65536 aligned days,
    // pre-bin to weeks before squaring.
    Q(
      "q222_kendall_pairs",
      (s, dir) => {
        val daily = Tables.events(s, dir)
          .groupBy(col("event_type").as("g"),
            expr("datediff(to_date(ts), date'2024-01-01')").cast(LongType).as("d"))
          .agg(sum(floor(col("value"))).as("x"))
        val b = daily.select(col("g").as("gb"), col("d"), col("x").as("xb"))
        val pairs = Q.persistOnce(daily.join(b, "d")
          .filter(col("g") < col("gb"))
          .select(col("g").as("ga"), col("gb"), col("d"),
            col("x").as("xa"), col("xb")))
        val p2 = pairs.select(col("ga"), col("gb"), col("d").as("d2"),
          col("xa").as("xa2"), col("xb").as("xb2"))
        val cd = pairs.join(p2, Seq("ga", "gb")).filter(col("d2") > col("d"))
          .groupBy("ga", "gb")
          .agg(sum(
            signum(col("xa2") - col("xa")).cast(LongType) *
              signum(col("xb2") - col("xb")).cast(LongType)).as("cd_num"))
        val n = pairs.groupBy("ga", "gb").agg(count(lit(1)).as("n"))
        val tx = pairs.groupBy("ga", "gb", "xa").agg(count(lit(1)).as("t"))
          .groupBy("ga", "gb").agg(sum(expr("t * (t - 1) div 2")).as("tie_x"))
        val ty = pairs.groupBy("ga", "gb", "xb").agg(count(lit(1)).as("t"))
          .groupBy("ga", "gb").agg(sum(expr("t * (t - 1) div 2")).as("tie_y"))
        n.join(cd, Seq("ga", "gb")).join(tx, Seq("ga", "gb")).join(ty, Seq("ga", "gb"))
          .select(col("ga"), col("gb"), col("n"), col("cd_num"),
            (expr("n * (n - 1) div 2") - col("tie_x")).as("denx_num"),
            (expr("n * (n - 1) div 2") - col("tie_y")).as("deny_num"))
          .orderBy("ga", "gb")
      },
      Some("""
        WITH daily AS (SELECT event_type AS g,
                              CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) AS d,
                              CAST(SUM(CAST(floor(value) AS BIGINT)) AS BIGINT) AS x
                       FROM events GROUP BY 1, 2),
        pairs AS (SELECT a.g AS ga, b.g AS gb, a.d AS d, a.x AS xa, b.x AS xb
                  FROM daily a JOIN daily b ON a.d = b.d AND a.g < b.g),
        cd AS (SELECT f1.ga, f1.gb,
                      CAST(SUM(CAST(sign(f2.xa - f1.xa) AS BIGINT) *
                               CAST(sign(f2.xb - f1.xb) AS BIGINT)) AS BIGINT) AS cd_num
               FROM pairs f1 JOIN pairs f2
                 ON f1.ga = f2.ga AND f1.gb = f2.gb AND f2.d > f1.d
               GROUP BY 1, 2),
        n AS (SELECT ga, gb, CAST(COUNT(*) AS BIGINT) AS n FROM pairs GROUP BY 1, 2),
        tx AS (SELECT ga, gb, CAST(SUM(t*(t-1)//2) AS BIGINT) AS tie_x FROM
                 (SELECT ga, gb, xa, COUNT(*) AS t FROM pairs GROUP BY 1,2,3) GROUP BY 1,2),
        ty AS (SELECT ga, gb, CAST(SUM(t*(t-1)//2) AS BIGINT) AS tie_y FROM
                 (SELECT ga, gb, xb, COUNT(*) AS t FROM pairs GROUP BY 1,2,3) GROUP BY 1,2)
        SELECT n.ga, n.gb, n, cd_num,
               CAST(n*(n-1)//2 - tie_x AS BIGINT) AS denx_num,
               CAST(n*(n-1)//2 - tie_y AS BIGINT) AS deny_num
        FROM n JOIN cd ON cd.ga = n.ga AND cd.gb = n.gb
               JOIN tx ON tx.ga = n.ga AND tx.gb = n.gb
               JOIN ty ON ty.ga = n.ga AND ty.gb = n.gb
        ORDER BY 1, 2""")),

    // B119: Fano factor (variance-to-mean of daily arrival counts) per
    // event series — the burstiness/overdispersion screen: F ≈ 1 is
    // Poisson-consistent arrival, F >> 1 is bursty (bot storms, batch
    // replays), F << 1 is suspiciously regular (synthetic traffic).
    // Exact rational via scale-cleared co-moments over COUNTS (not value
    // sums — this is the arrival-process statistic):
    // F = f_num/f_den = (n·Σc² − (Σc)²) / ((n−1)·Σc). Two partial-agg'd
    // shuffles, no joins; guard Σc² ≤ 2^62/n rides the consumed f_num.
    Q(
      "q225_fano_burstiness",
      (s, dir) => {
        val k62 = Long.MaxValue / 2
        Tables.events(s, dir)
          .groupBy(col("event_type").as("g"),
            expr("datediff(to_date(ts), date'2024-01-01')").cast(LongType).as("d"))
          .agg(count(lit(1)).as("c"))
          .groupBy("g")
          .agg(count(lit(1)).as("n"), sum("c").as("sc"),
            sum(col("c") * col("c")).as("sc2"))
          .select(col("g"), col("n"),
            graft.operators.Guards(col("sc2") <= expr(s"${k62}L div n"),
              col("n") * col("sc2") - col("sc") * col("sc"),
              concat(
                lit("[fano] co-moment overflow for series "), col("g"),
                lit(": n * sum(c^2) must stay < 2^62 — pre-bin to coarser intervals")))
              .as("f_num"),
            ((col("n") - 1L) * col("sc")).as("f_den"))
          .orderBy("g")
      },
      Some("""
        WITH daily AS (SELECT event_type AS g,
                              CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) AS d,
                              CAST(COUNT(*) AS BIGINT) AS c
                       FROM events GROUP BY 1, 2),
        m AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(c) AS BIGINT) AS sc,
                     CAST(SUM(c*c) AS BIGINT) AS sc2
              FROM daily GROUP BY 1)
        SELECT g, n, CAST(n*sc2 - sc*sc AS BIGINT) AS f_num,
               CAST((n-1)*sc AS BIGINT) AS f_den
        FROM m ORDER BY g""")),

    // B135: sequential-pattern mining (GSP/PrefixSpan family) — q200's
    // documented follow-up: which event ORDERINGS recur, gaps allowed,
    // not just contiguous trigrams. Sequences are user-weeks (a journey
    // horizon with ~15 events — long enough for 3-step orderings to
    // discriminate, bounded enough that one sequence is never a corpus);
    // support = sequences containing the pattern as a subsequence,
    // minsup = 50% of sequences, maxLen 4. At that bar level 3 is
    // PARTIALLY pruned at every SF (apriori visibly at work: 56/39
    // of 125 survive at sf0.001/sf0.01) and level 4 dies. The oracle
    // unrolls the levels as CTEs verbatim — pure integer counting.
    Q(
      "q244_seq_patterns",
      (s, dir) => {
        val wk = expr("datediff(to_date(ts), date'1970-01-01') div 7")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("sid").orderBy("ts", "event_id")
        val ev = Tables.events(s, dir)
          .select(
            concat(col("user_id").cast("string"), lit(":"), wk.cast("string")).as("sid"),
            col("ts"), col("event_id"), col("event_type").as("e"))
          .withColumn("pos", row_number().over(w))
          .select("sid", "e", "pos")
        graft.operators.PrefixSpan.frequentPatterns(ev, minSupportPct = 50, maxLen = 4)
          .orderBy(col("support").desc, col("pattern"))
      },
      Some("""
        WITH seq AS (
          SELECT CAST(user_id AS VARCHAR) || ':' ||
                 CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) // 7 AS VARCHAR) AS sid,
                 event_type AS e, ts, event_id
          FROM events),
        ev1 AS (SELECT sid, e,
                       CAST(ROW_NUMBER() OVER (PARTITION BY sid ORDER BY ts, event_id) AS BIGINT) AS pos
                FROM seq),
        ms AS (SELECT (COUNT(DISTINCT sid) * 50 + 99) // 100 AS minsup FROM ev1),
        f1 AS (SELECT e FROM ev1, ms GROUP BY e, minsup HAVING COUNT(DISTINCT sid) >= minsup),
        evf AS (SELECT v.* FROM ev1 v JOIN f1 USING (e)),
        occ1 AS (SELECT sid, e AS pat, MIN(pos) AS epos FROM evf GROUP BY 1, 2),
        s1 AS (SELECT pat, CAST(COUNT(*) AS BIGINT) AS support FROM occ1, ms
               GROUP BY pat, minsup HAVING COUNT(*) >= minsup),
        o1 AS (SELECT o.* FROM occ1 o JOIN s1 USING (pat)),
        c2 AS (SELECT o.sid, o.pat || '>' || v.e AS pat, MIN(v.pos) AS epos
               FROM o1 o JOIN evf v ON v.sid = o.sid AND v.pos > o.epos GROUP BY 1, 2),
        s2 AS (SELECT pat, CAST(COUNT(*) AS BIGINT) AS support FROM c2, ms
               GROUP BY pat, minsup HAVING COUNT(*) >= minsup),
        o2 AS (SELECT c.* FROM c2 c JOIN s2 USING (pat)),
        c3 AS (SELECT o.sid, o.pat || '>' || v.e AS pat, MIN(v.pos) AS epos
               FROM o2 o JOIN evf v ON v.sid = o.sid AND v.pos > o.epos GROUP BY 1, 2),
        s3 AS (SELECT pat, CAST(COUNT(*) AS BIGINT) AS support FROM c3, ms
               GROUP BY pat, minsup HAVING COUNT(*) >= minsup),
        o3 AS (SELECT c.* FROM c3 c JOIN s3 USING (pat)),
        c4 AS (SELECT o.sid, o.pat || '>' || v.e AS pat, MIN(v.pos) AS epos
               FROM o3 o JOIN evf v ON v.sid = o.sid AND v.pos > o.epos GROUP BY 1, 2),
        s4 AS (SELECT pat, CAST(COUNT(*) AS BIGINT) AS support FROM c4, ms
               GROUP BY pat, minsup HAVING COUNT(*) >= minsup),
        allp AS (SELECT pat, 1 AS len, support FROM s1 UNION ALL
                 SELECT pat, 2, support FROM s2 UNION ALL
                 SELECT pat, 3, support FROM s3 UNION ALL
                 SELECT pat, 4, support FROM s4)
        SELECT pat AS pattern, len, support
        FROM allp ORDER BY support DESC, pattern""")),

    // B137: GAP-CONSTRAINED sequential patterns — q244's orderings with
    // a contiguity bound (consecutive items within 3 positions):
    // funnel-like near-adjacent paths, not anywhere-in-the-journey. The
    // earliest-occurrence trick q244 rides is provably NOT exact under a
    // gap bound ('a..ab' at gap 1: the first 'a' reaches nothing, the
    // second reaches 'b'), so this tier carries the full occurrence
    // end-position list and counts DISTINCT sequences — the oracle
    // replays exactly that. minsup 25%: level 3 partially prunes at
    // sf0.01 (124/125) and level 4 is all but dead — both the gap
    // constraint and apriori visibly at work.
    Q(
      "q246_seq_patterns_gap",
      (s, dir) => {
        val wk = expr("datediff(to_date(ts), date'1970-01-01') div 7")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("sid").orderBy("ts", "event_id")
        val ev = Tables.events(s, dir)
          .select(
            concat(col("user_id").cast("string"), lit(":"), wk.cast("string")).as("sid"),
            col("ts"), col("event_id"), col("event_type").as("e"))
          .withColumn("pos", row_number().over(w))
          .select("sid", "e", "pos")
        graft.operators.PrefixSpan.frequentPatternsMaxGap(
            ev, minSupportPct = 25, maxLen = 4, maxGap = 3)
          .orderBy(col("support").desc, col("pattern"))
      },
      Some("""
        WITH seq AS (
          SELECT CAST(user_id AS VARCHAR) || ':' ||
                 CAST(datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) // 7 AS VARCHAR) AS sid,
                 event_type AS e, ts, event_id
          FROM events),
        ev1 AS (SELECT sid, e,
                       CAST(ROW_NUMBER() OVER (PARTITION BY sid ORDER BY ts, event_id) AS BIGINT) AS pos
                FROM seq),
        ms AS (SELECT (COUNT(DISTINCT sid) * 25 + 99) // 100 AS minsup FROM ev1),
        f1 AS (SELECT e FROM ev1, ms GROUP BY e, minsup HAVING COUNT(DISTINCT sid) >= minsup),
        evf AS (SELECT v.* FROM ev1 v JOIN f1 USING (e)),
        occ1 AS (SELECT DISTINCT sid, e AS pat, pos FROM evf),
        s1 AS (SELECT pat, CAST(COUNT(DISTINCT sid) AS BIGINT) AS support FROM occ1, ms
               GROUP BY pat, minsup HAVING COUNT(DISTINCT sid) >= minsup),
        o1 AS (SELECT o.* FROM occ1 o JOIN s1 USING (pat)),
        c2 AS (SELECT DISTINCT o.sid, o.pat || '>' || v.e AS pat, v.pos
               FROM o1 o JOIN evf v ON v.sid = o.sid AND v.pos > o.pos AND v.pos <= o.pos + 3),
        s2 AS (SELECT pat, CAST(COUNT(DISTINCT sid) AS BIGINT) AS support FROM c2, ms
               GROUP BY pat, minsup HAVING COUNT(DISTINCT sid) >= minsup),
        o2 AS (SELECT c.* FROM c2 c JOIN s2 USING (pat)),
        c3 AS (SELECT DISTINCT o.sid, o.pat || '>' || v.e AS pat, v.pos
               FROM o2 o JOIN evf v ON v.sid = o.sid AND v.pos > o.pos AND v.pos <= o.pos + 3),
        s3 AS (SELECT pat, CAST(COUNT(DISTINCT sid) AS BIGINT) AS support FROM c3, ms
               GROUP BY pat, minsup HAVING COUNT(DISTINCT sid) >= minsup),
        o3 AS (SELECT c.* FROM c3 c JOIN s3 USING (pat)),
        c4 AS (SELECT DISTINCT o.sid, o.pat || '>' || v.e AS pat, v.pos
               FROM o3 o JOIN evf v ON v.sid = o.sid AND v.pos > o.pos AND v.pos <= o.pos + 3),
        s4 AS (SELECT pat, CAST(COUNT(DISTINCT sid) AS BIGINT) AS support FROM c4, ms
               GROUP BY pat, minsup HAVING COUNT(DISTINCT sid) >= minsup),
        allp AS (SELECT pat, 1 AS len, support FROM s1 UNION ALL
                 SELECT pat, 2, support FROM s2 UNION ALL
                 SELECT pat, 3, support FROM s3 UNION ALL
                 SELECT pat, 4, support FROM s4)
        SELECT pat AS pattern, len, support
        FROM allp ORDER BY support DESC, pattern""")),

    // B142: frequent itemsets (Apriori) — the SET-shaped sibling of
    // q244's sequential patterns: which event types co-occur in the same
    // user-day basket AT ALL, order-free (q244 asks in what ORDER across
    // a week). Canonical ascending itemset strings grown one element per
    // level under apriori pruning (extensions only from SUPPORTED
    // occurrences, item > last — each basket generates each itemset
    // exactly once); minsup 5% of baskets as a 1-row broadcast. At that
    // bar level 3 is PARTIALLY pruned where it matters (3/10 survive at
    // sf0.001, 8/10 at sf0.01) and level 4 dies at every SF — both the
    // pruning and the bound visibly at work. Oracle unrolls the levels
    // as CTEs verbatim.
    Q(
      "q251_itemsets_apriori",
      (s, dir) => {
        val b = Tables.events(s, dir)
          .select(
            concat(col("user_id").cast("string"), lit(":"),
              to_date(col("ts")).cast("string")).as("bid"),
            col("event_type").as("item"))
        graft.operators.Apriori.frequentItemsets(b, minSupportPct = 5, maxLen = 4)
          .orderBy(col("support").desc, col("itemset"))
      },
      Some("""
        WITH b AS (SELECT DISTINCT CAST(user_id AS VARCHAR) || ':' || CAST(CAST(ts AS DATE) AS VARCHAR) AS bid,
                                   event_type AS item
                   FROM events),
        ms AS (SELECT (COUNT(DISTINCT bid) * 5 + 99) // 100 AS minsup FROM b),
        f1 AS (SELECT item FROM b, ms GROUP BY item, minsup HAVING COUNT(*) >= minsup),
        bf AS (SELECT b.bid, b.item FROM b JOIN f1 USING (item)),
        o1 AS (SELECT bid, item AS iset, item AS lst FROM bf),
        s1 AS (SELECT iset, CAST(COUNT(*) AS BIGINT) AS support FROM o1, ms
               GROUP BY iset, minsup HAVING COUNT(*) >= minsup),
        o1f AS (SELECT o.* FROM o1 o JOIN s1 USING (iset)),
        c2 AS (SELECT o.bid, o.iset || ',' || v.item AS iset, v.item AS lst
               FROM o1f o JOIN bf v ON v.bid = o.bid AND v.item > o.lst),
        s2 AS (SELECT iset, CAST(COUNT(*) AS BIGINT) AS support FROM c2, ms
               GROUP BY iset, minsup HAVING COUNT(*) >= minsup),
        o2 AS (SELECT c.* FROM c2 c JOIN s2 USING (iset)),
        c3 AS (SELECT o.bid, o.iset || ',' || v.item AS iset, v.item AS lst
               FROM o2 o JOIN bf v ON v.bid = o.bid AND v.item > o.lst),
        s3 AS (SELECT iset, CAST(COUNT(*) AS BIGINT) AS support FROM c3, ms
               GROUP BY iset, minsup HAVING COUNT(*) >= minsup),
        o3 AS (SELECT c.* FROM c3 c JOIN s3 USING (iset)),
        c4 AS (SELECT o.bid, o.iset || ',' || v.item AS iset, v.item AS lst
               FROM o3 o JOIN bf v ON v.bid = o.bid AND v.item > o.lst),
        s4 AS (SELECT iset, CAST(COUNT(*) AS BIGINT) AS support FROM c4, ms
               GROUP BY iset, minsup HAVING COUNT(*) >= minsup),
        allp AS (SELECT iset, 1 AS len, support FROM s1 UNION ALL
                 SELECT iset, 2, support FROM s2 UNION ALL
                 SELECT iset, 3, support FROM s3 UNION ALL
                 SELECT iset, 4, support FROM s4)
        SELECT iset AS itemset, len, support
        FROM allp ORDER BY support DESC, itemset""")),

    // B144: K-step absorption probability (operators/Markov) — the
    // PREDICTIVE completion of q198's transition matrix: starting from
    // each state, the probability the journey REACHES 'purchase' within
    // K = 1..3 steps under the empirical chain, absorbing at the target.
    // The B52 truncating-grid posture (every division truncates on
    // non-negative operands in both engines, scores match to the unit;
    // truncation under-estimates — the conservative side for a
    // conversion forecast). ONE corpus-scale pair count, then the whole
    // iteration runs on the |states|²-bounded model frame; grid-wrap and
    // out-degree domains are Guards-enforced in-plan. Oracle unrolls the
    // steps as CTEs.
    Q(
      "q253_absorb_funnel",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy("ts", "event_id")
        val pairs = Tables.events(s, dir)
          .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
          .withColumn("to_state", lead(col("event_type"), 1).over(w))
          .filter(col("to_state").isNotNull)
          .groupBy(col("event_type").as("from_state"), col("to_state"))
          .agg(count(lit(1)).as("n"))
        graft.operators.Markov.absorbWithin(pairs, target = "purchase", steps = 3)
          .orderBy("k", "state")
      },
      Some {
        val steps = (1 to 3).map { k =>
          s"""p$k AS (SELECT s.state,
                 CASE WHEN s.state = 'purchase' THEN CAST(1000000 AS BIGINT)
                      ELSE COALESCE(x.v, 0) END AS p
               FROM states s LEFT JOIN (
                 SELECT t.from_state AS state,
                        CAST(SUM(t.t * p.p) // 1000000 AS BIGINT) AS v
                 FROM t JOIN p${k - 1} p ON p.state = t.to_state
                 GROUP BY 1) x USING (state))"""
        }.mkString(",\n")
        val sel = (1 to 3).map(k =>
          s"SELECT state, $k AS k, CAST(p AS BIGINT) AS p_grid FROM p$k")
          .mkString(" UNION ALL ")
        s"""
        WITH seq AS (SELECT event_type AS from_state,
                            lead(event_type) OVER (PARTITION BY user_id
                                                   ORDER BY ts, event_id) AS to_state
                     FROM events),
        pairs AS (SELECT from_state, to_state, CAST(COUNT(*) AS BIGINT) AS n
                  FROM seq WHERE to_state IS NOT NULL GROUP BY 1, 2),
        marg AS (SELECT from_state, CAST(SUM(n) AS BIGINT) AS n_from
                 FROM pairs GROUP BY 1),
        t AS (SELECT p.from_state, p.to_state,
                     CAST((p.n * 1000000) // m.n_from AS BIGINT) AS t
              FROM pairs p JOIN marg m USING (from_state)),
        states AS (SELECT from_state AS state FROM t
                   UNION SELECT to_state FROM t),
        p0 AS (SELECT state,
                      CASE WHEN state = 'purchase' THEN CAST(1000000 AS BIGINT)
                           ELSE 0 END AS p
               FROM states),
        $steps
        $sel ORDER BY k, state"""
      }),

    // B151: multi-touch conversion attribution — which channel (event
    // type) gets credit for each purchase, under all three standard
    // models at once: FIRST touch (brand discovery), LAST touch (the
    // closer), and LINEAR (every touch in the journey splits the credit).
    // Journey = the touches between consecutive conversions of a user
    // (the running-conversion-count window segments the stream; a
    // conversion with no preceding touches earns no attribution —
    // identically on both sides). Credit is EXACT on the ppm grid: each
    // conversion distributes exactly 10⁶ ppm per model — linear uses the
    // q166 largest-remainder split (base = 10⁶ div n to every touch, the
    // 10⁶ mod n remainder to the EARLIEST touches), so Σ = n·base + r =
    // 10⁶ with no rounding loss, pinned in AnalysisSpec. All windows
    // partition on user_id (never a global sort); ties break on
    // (ts, event_id), the q198 contract.
    Q(
      "q261_attribution",
      (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy("ts", "event_id")
        val ev = Tables.events(s, dir)
          .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
          .withColumn("is_conv",
            when(col("event_type") === "purchase", 1L).otherwise(0L))
          .withColumn("cum", sum("is_conv").over(w))
        val touches = ev.filter(col("is_conv") === 0L)
          .select(col("user_id"), col("ts"), col("event_id"),
            col("event_type").as("channel"), (col("cum") + 1L).as("conv_no"))
        val convs = ev.filter(col("is_conv") === 1L)
          .select(col("user_id"), col("cum").as("conv_no"))
        val wt = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id", "conv_no").orderBy("ts", "event_id")
        val wn = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id", "conv_no")
        touches.join(convs, Seq("user_id", "conv_no"))
          .withColumn("pos", row_number().over(wt).cast("long"))
          .withColumn("n", count(lit(1)).over(wn))
          .select(col("channel"),
            when(col("pos") === 1L, 1000000L).otherwise(0L).as("ft"),
            when(col("pos") === col("n"), 1000000L).otherwise(0L).as("lt"),
            (expr("1000000L div n") +
              when(col("pos") <= expr("1000000L % n"), 1L).otherwise(0L)).as("ln_ppm"))
          .groupBy("channel")
          .agg(sum("ft").as("first_touch_ppm"), sum("lt").as("last_touch_ppm"),
            sum("ln_ppm").as("linear_ppm"), count(lit(1)).as("n_touches"))
          .orderBy("channel")
      },
      Some("""
        WITH ev AS (SELECT user_id, ts, event_id, event_type,
                           CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_conv,
                           SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                             OVER (PARTITION BY user_id ORDER BY ts, event_id) AS cum
                    FROM events),
        touches AS (SELECT user_id, ts, event_id, event_type AS channel,
                           cum + 1 AS conv_no
                    FROM ev WHERE is_conv = 0),
        convs AS (SELECT user_id, cum AS conv_no FROM ev WHERE is_conv = 1),
        seg AS (SELECT t.channel, t.user_id, t.conv_no, t.ts, t.event_id
                FROM touches t JOIN convs c
                  ON c.user_id = t.user_id AND c.conv_no = t.conv_no),
        pos AS (SELECT channel,
                       row_number() OVER (PARTITION BY user_id, conv_no
                                          ORDER BY ts, event_id) AS pos,
                       COUNT(*) OVER (PARTITION BY user_id, conv_no) AS n
                FROM seg)
        SELECT channel,
               CAST(SUM(CASE WHEN pos = 1 THEN 1000000 ELSE 0 END) AS BIGINT) AS first_touch_ppm,
               CAST(SUM(CASE WHEN pos = n THEN 1000000 ELSE 0 END) AS BIGINT) AS last_touch_ppm,
               CAST(SUM(1000000 // n + CASE WHEN pos <= 1000000 % n THEN 1 ELSE 0 END) AS BIGINT) AS linear_ppm,
               CAST(COUNT(*) AS BIGINT) AS n_touches
        FROM pos GROUP BY 1 ORDER BY channel""")),

    // B152: per-source language entropy — the diversity audit of the
    // curation wing (EvalMetrics.entropyPerGroup): H = Σ −p ln p in
    // integer micronats distinguishes "one dominant language + tail"
    // from "few equal languages" where q193's Gini impurity barely
    // moves; H = 0 iff monolingual, ln(n_distinct) iff uniform. Every
    // term rides the certified micronat floor (non-negative, so the
    // final div is emitted — unlike q256's sign-mixed sums).
    Q(
      "q262_source_entropy",
      (s, dir) =>
        graft.operators.EvalMetrics.entropyPerGroup(
            Tables.documents(s, dir), col("source"), col("lang"))
          .withColumnRenamed("g", "source")
          .orderBy("source"),
      Some("""
        WITH cv AS (SELECT source AS g, lang AS v, CAST(COUNT(*) AS BIGINT) AS c
                    FROM documents GROUP BY 1, 2),
        ng AS (SELECT g, CAST(SUM(c) AS BIGINT) AS n,
                      CAST(COUNT(*) AS BIGINT) AS n_distinct
               FROM cv GROUP BY 1),
        t AS (SELECT cv.g, n, n_distinct, c,
                     CAST(floor(-ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) * 1e6) AS BIGINT) AS t
              FROM cv JOIN ng USING (g)),
        h AS (SELECT g, n, n_distinct, CAST(SUM(c * t) AS BIGINT) AS h_num
              FROM t GROUP BY 1, 2, 3)
        SELECT g AS source, n, n_distinct, h_num // n AS entropy_micro
        FROM h ORDER BY source"""))
  )
}
