package graft.queries

import graft.{Q, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, LongType}

/** Corpus-curation operators a 100 TB training-data pipeline runs between
  * ingest and tokenization: coordinated (seed-reproducible) sampling,
  * weighted sampling, co-occurrence mining with apriori pruning,
  * link-authority ranking (PageRank) for source prioritization, grouped
  * OLS trend fitting, and zone-map skipping effectiveness — each exact in
  * integer / hash arithmetic so DuckDB replays it bit-identically.
  *
  * The sampling entries restate the reference's spot-check workflow (it
  * eyeballs harvested slices per commodity, `/root/reference/
  * fetch_data.py:64-167`) as engine operators with a reproducibility
  * contract.
  */
object CurationQueries {

  /** DuckDB twin of GraftFunctions.hash60(seed, e). */
  private def h60(seed: String, e: String): String =
    s"('0x' || substr(md5('$seed:' || $e), 1, 15))::BIGINT"

  /** Unrolled integer PageRank oracle: iteration i as a CTE over i-1. */
  private def pagerankSql(iters: Int, scale: Long, dampNum: Long, dampDen: Long): String = {
    val base = s"(SELECT (($scale * ${dampDen - dampNum}) // $dampDen) // COUNT(*) FROM nodes)"
    val iterCtes = (1 to iters).map { i =>
      s"""it$i AS (
        SELECT n.node, $base + COALESCE(m.mass, 0) AS score
        FROM nodes n LEFT JOIN (
          SELECT e.dst AS node,
                 SUM(((p.score * $dampNum) // $dampDen) // d.outdeg) AS mass
          FROM edges e JOIN it${i - 1} p ON e.src = p.node
                       JOIN deg d ON d.src = e.src
          GROUP BY e.dst) m ON m.node = n.node)"""
    }.mkString(",\n")
    s"""
      WITH edges AS (
        SELECT DISTINCT s.s_nationkey AS src, c.c_nationkey AS dst
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        WHERE s.s_nationkey <> c.c_nationkey),
      nodes AS (SELECT DISTINCT src AS node FROM edges
                UNION SELECT DISTINCT dst FROM edges),
      deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
      it0 AS (SELECT node, $scale // (SELECT COUNT(*) FROM nodes) AS score
              FROM nodes),
      $iterCtes
      SELECT n.n_name, CAST(p.score AS BIGINT) AS score
      FROM it$iters p JOIN nation n ON n.n_nationkey = p.node
      ORDER BY n.n_name"""
  }

  /** q273's oracle: [[pagerankSql]] with the restart mass confined to
    * the seed set (supplier nations of region 2) — seed CASE in it0 and
    * in every iteration's base term, same truncating `//` algebra. */
  private def pprSql(iters: Int, scale: Long, dampNum: Long, dampDen: Long): String = {
    val baseSeed =
      s"(SELECT (($scale * ${dampDen - dampNum}) // $dampDen) // COUNT(*) FROM seeds)"
    val iterCtes = (1 to iters).map { i =>
      s"""it$i AS (
        SELECT n.node,
               (CASE WHEN s.node IS NOT NULL THEN $baseSeed ELSE 0 END)
                 + COALESCE(m.mass, 0) AS score
        FROM nodes n
        LEFT JOIN seeds s ON s.node = n.node
        LEFT JOIN (
          SELECT e.dst AS node,
                 SUM(((p.score * $dampNum) // $dampDen) // d.outdeg) AS mass
          FROM edges e JOIN it${i - 1} p ON e.src = p.node
                       JOIN deg d ON d.src = e.src
          GROUP BY e.dst) m ON m.node = n.node)"""
    }.mkString(",\n")
    s"""
      WITH edges AS (
        SELECT DISTINCT s.s_nationkey AS src, c.c_nationkey AS dst
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        WHERE s.s_nationkey <> c.c_nationkey),
      nodes AS (SELECT DISTINCT src AS node FROM edges
                UNION SELECT DISTINCT dst FROM edges),
      seeds AS (SELECT DISTINCT e.src AS node
                FROM edges e JOIN nation n ON n.n_nationkey = e.src
                WHERE n.n_regionkey = 2),
      deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
      it0 AS (SELECT n.node,
                     CASE WHEN s.node IS NOT NULL
                          THEN $scale // (SELECT COUNT(*) FROM seeds)
                          ELSE 0 END AS score
              FROM nodes n LEFT JOIN seeds s ON s.node = n.node),
      $iterCtes
      SELECT n.n_name, CAST(p.score AS BIGINT) AS score
      FROM it$iters p JOIN nation n ON n.n_nationkey = p.node
      ORDER BY n.n_name"""
  }

  val qs: Seq[Q] = Seq(
    // Coordinated bottom-k sampling per language — executed as ONE
    // partial-aggregated shuffle via the native graft_bottom_k
    // TypedImperativeAggregate (k pairs per group leave each map task);
    // the oracle is the row_number()-window formulation that would sort
    // every row, and the hash match proves the aggregate equivalent.
    Q(
      "q134_bottomk_sample",
      (s, dir) => {
        graft.operators.Sampling
          .bottomK(Tables.documents(s, dir), Seq("lang"), "doc_id", 5, "s134")
          .orderBy("lang", "rk")
      },
      Some(s"""
        WITH h AS (
          SELECT lang, doc_id,
                 ${h60("s134", "CAST(doc_id AS VARCHAR)")} AS hv
          FROM documents),
        r AS (
          SELECT lang, doc_id,
                 CAST(ROW_NUMBER() OVER (
                   PARTITION BY lang ORDER BY hv, doc_id) AS INT) AS rk
          FROM h)
        SELECT lang, doc_id, rk FROM r WHERE rk <= 5
        ORDER BY lang, rk""")),

    // Deterministic weighted sampling: weight w in 1..4 from doc length,
    // w lottery tickets per doc (scan-stage explode), global bottom-k of
    // the ticket hashes via TakeOrdered — inclusion ∝ w, reproducible
    // from the seed alone, no RNG state anywhere.
    Q(
      "q135_weighted_sample",
      (s, dir) => {
        graft.operators.Sampling.weightedSample(
          Tables.documents(s, dir), "doc_id",
          (col("n_chars") % 4 + 1), 20, "s135")
      },
      Some(s"""
        WITH w AS (
          SELECT doc_id, CAST(n_chars % 4 + 1 AS INT) AS wt FROM documents),
        t AS (
          SELECT doc_id, r AS replica
          FROM w, (VALUES (1), (2), (3), (4)) AS g(r)
          WHERE r <= wt),
        sc AS (
          SELECT doc_id, replica,
                 ${h60("s135", "CAST(doc_id AS VARCHAR) || ':' || CAST(replica AS VARCHAR)")} AS h
          FROM t)
        SELECT doc_id, replica, h FROM sc
        ORDER BY h, doc_id, replica LIMIT 20""")),

    // Frequent co-occurring pairs (market-basket over order line items)
    // with the apriori step: items below part-level support can appear in
    // no frequent pair, so they are pruned BEFORE the self-join — the
    // pruning that turns an all-pairs blowup into a bounded join at
    // scale. Top-30 pairs under a total order.
    Q(
      "q136_cooccur_pairs",
      (s, dir) => {
        // the distinct item set feeds the support count AND both
        // self-join sides — persist it (and the pruned items) so the
        // scan+distinct shuffle runs once, not three times
        val li = graft.Q.persistOnce(Tables.lineitem(s, dir)
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
          .distinct())
        val frequent = li.groupBy("pk")
          .agg(count(lit(1)).as("df")).filter(col("df") >= 3).select("pk")
        val items = graft.Q.persistOnce(li.join(frequent, "pk"))
        val a = items.select(col("ok"), col("pk").as("p1"))
        val b = items.select(col("ok"), col("pk").as("p2"))
        a.join(b, "ok")
          .filter(col("p1") < col("p2"))
          .groupBy("p1", "p2").agg(count(lit(1)).as("n"))
          .orderBy(desc("n"), col("p1"), col("p2"))
          .limit(30)
      },
      Some("""
        WITH li AS (
          SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        freq AS (SELECT pk FROM li GROUP BY pk HAVING COUNT(*) >= 3),
        items AS (SELECT ok, pk FROM li WHERE pk IN (SELECT pk FROM freq))
        SELECT a.pk AS p1, b.pk AS p2, COUNT(*) AS n
        FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
        GROUP BY 1, 2
        ORDER BY n DESC, p1, p2
        LIMIT 30""")),

    // Link-authority ranking: 4 rounds of integer-scaled PageRank over
    // the nation-to-nation shipping graph (supplier nation -> customer
    // nation, derived by joins). The oracle unrolls the same iterations
    // as CTEs — every division truncating, so scores match to the unit.
    Q(
      "q137_pagerank",
      (s, dir) => {
        val li = Tables.lineitem(s, dir)
        val o = Tables.orders(s, dir)
        val c = Tables.customer(s, dir)
        val su = Tables.supplier(s, dir)
        val edges = li
          .join(o, li("l_orderkey") === o("o_orderkey"))
          .join(c, o("o_custkey") === c("c_custkey"))
          .join(su, li("l_suppkey") === su("s_suppkey"))
          .select(col("s_nationkey").as("src"), col("c_nationkey").as("dst"))
          .filter(col("src") =!= col("dst"))
          .distinct()
        val pr = graft.operators.PageRank.run(edges, "src", "dst", iters = 4)
        pr.join(Tables.nation(s, dir), col("node") === col("n_nationkey"))
          .select(col("n_name"), col("score"))
          .orderBy("n_name")
      },
      Some(pagerankSql(iters = 4, scale = 1000000000000L, dampNum = 85L, dampDen = 100L))),

    // B161: PERSONALIZED PageRank — the same shipping graph and integer
    // recurrence as q137, but the restart mass lands uniformly on a
    // SEED SET (the supplier nations of region 2, derived from the
    // edges so the subset contract holds at every SF) instead of all
    // nodes: proximity-to-trusted-seeds, the trust-propagation signal
    // next to q137's global authority. The oracle unrolls the same 4
    // iterations with the seed CASE in base and it0.
    Q(
      "q273_ppr_seeded",
      (s, dir) => {
        val li = Tables.lineitem(s, dir)
        val o = Tables.orders(s, dir)
        val c = Tables.customer(s, dir)
        val su = Tables.supplier(s, dir)
        val edges = li
          .join(o, li("l_orderkey") === o("o_orderkey"))
          .join(c, o("o_custkey") === c("c_custkey"))
          .join(su, li("l_suppkey") === su("s_suppkey"))
          .select(col("s_nationkey").as("src"), col("c_nationkey").as("dst"))
          .filter(col("src") =!= col("dst"))
          .distinct()
        val cached = graft.Q.persistOnce(edges)
        val seeds = cached
          .join(Tables.nation(s, dir), col("src") === col("n_nationkey"))
          .filter(col("n_regionkey") === 2)
          .select(col("src").as("node")).distinct()
        val pr = graft.operators.PageRank
          .runPersonalized(cached, "src", "dst", seeds, "node", iters = 4)
        pr.join(Tables.nation(s, dir), col("node") === col("n_nationkey"))
          .select(col("n_name"), col("score"))
          .orderBy("n_name")
      },
      Some(pprSql(iters = 4, scale = 1000000000000L, dampNum = 85L, dampDen = 100L))),

    // Grouped OLS trend: slope of quantity vs ship-day per return flag,
    // reported as the exact integer numerator/denominator of the
    // closed-form least-squares slope (n·Σxy − Σx·Σy) / (n·Σxx − (Σx)²).
    // One partial-agg'd shuffle; days are centered on the corpus frame so
    // every product stays in int64 at sf0.1 (switch the five sums to
    // decimal(38,0) beyond sf1).
    Q(
      "q138_trend_ols",
      (s, dir) => {
        val x = (unix_date(col("l_shipdate").cast(DateType)).cast("long") - 8035L).as("x")
        val y = col("l_quantity").cast("long").as("y")
        Tables.lineitem(s, dir)
          .select(col("l_returnflag"), x, y)
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"),
            sum(col("x")).as("sx"), sum(col("y")).as("sy"),
            sum(col("x") * col("y")).as("sxy"),
            sum(col("x") * col("x")).as("sxx"))
          .select(col("l_returnflag"),
            (col("n") * col("sxy") - col("sx") * col("sy")).as("slope_num"),
            (col("n") * col("sxx") - col("sx") * col("sx")).as("slope_den"))
          .orderBy("l_returnflag")
      },
      Some("""
        WITH t AS (
          SELECT l_returnflag,
                 datediff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) - 8035 AS x,
                 CAST(l_quantity AS BIGINT) AS y
          FROM lineitem)
        SELECT l_returnflag,
               CAST(COUNT(*) * SUM(x * y) - SUM(x) * SUM(y) AS BIGINT) AS slope_num,
               CAST(COUNT(*) * SUM(x * x) - SUM(x) * SUM(x) AS BIGINT) AS slope_den
        FROM t
        GROUP BY l_returnflag
        ORDER BY l_returnflag""")),

    // Rendezvous (highest-random-weight) sharding: each doc goes to the
    // shard maximizing hash(shard, doc) — the consistent-hashing scheme
    // where growing the fleet 8 -> 9 moves ONLY the keys won by the new
    // shard (~1/9 of them) and nothing reshuffles between survivors. The
    // query asserts that property in-data: every moved doc landed on
    // shard 8, and per-shard counts stay balanced. Scan-stage arithmetic
    // (9 hashes + max_by per row), no shuffle before the final rollup.
    Q(
      "q140_rendezvous_shards",
      (s, dir) => {
        import graft.functions.GraftFunctions.hash60
        val hs = (0 until 9).map(sh => hash60(s"shard$sh", col("doc_id")))
        // winner = the shard whose hash is the greatest of the first n
        // (hashes are 60-bit md5 slices — ties impossible in practice,
        // and the same arithmetic runs on both engines either way)
        def shard(n: Int) = {
          val g = greatest(hs.take(n): _*)
          (0 until n).foldRight(lit(null).cast("int")) { (sh, acc) =>
            when(hs(sh) === g, lit(sh)).otherwise(acc)
          }
        }
        Tables.documents(s, dir)
          .select(col("doc_id"), shard(8).as("s8"), shard(9).as("s9"))
          .groupBy(col("s9").as("shard"))
          .agg(count(lit(1)).as("n"),
            sum(when(col("s8") =!= col("s9"), 1L).otherwise(0L)).as("moved_in"),
            sum(when(col("s8") =!= col("s9") && col("s9") =!= 8, 1L).otherwise(0L))
              .as("moved_wrongly"))
          .orderBy("shard")
      },
      Some(s"""
        WITH h AS (
          SELECT doc_id,
                 ${(0 until 9).map(sh =>
                    s"${h60(s"shard$sh", "CAST(doc_id AS VARCHAR)")} AS h$sh")
                    .mkString(", ")}
          FROM documents),
        a AS (
          SELECT doc_id,
                 CASE ${(0 until 8).map(sh =>
                    s"WHEN h$sh = greatest(${(0 until 8).map("h" + _).mkString(", ")}) THEN $sh")
                    .mkString(" ")} END AS s8,
                 CASE ${(0 until 9).map(sh =>
                    s"WHEN h$sh = greatest(${(0 until 9).map("h" + _).mkString(", ")}) THEN $sh")
                    .mkString(" ")} END AS s9
          FROM h)
        SELECT s9 AS shard, COUNT(*) AS n,
               CAST(SUM(CASE WHEN s8 <> s9 THEN 1 ELSE 0 END) AS BIGINT) AS moved_in,
               CAST(SUM(CASE WHEN s8 <> s9 AND s9 <> 8 THEN 1 ELSE 0 END) AS BIGINT) AS moved_wrongly
        FROM a
        GROUP BY s9
        ORDER BY shard""")),

    // Winsorized (trimmed) mean: per return flag, the mean quantity after
    // dropping the bottom and top 5% by a TOTAL rank order — the robust
    // statistic quality filters use so corpus outliers can't drag a
    // threshold. Exact rank trimming (window) here; at 100 TB the same
    // trim runs shuffle-free off t-digest thresholds (q109's sketch)
    // with a bounded approximation instead of a global sort.
    Q(
      "q141_trimmed_mean",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("l_returnflag")
          .orderBy(col("q"), col("l_orderkey"), col("l_linenumber"))
        val ranked = Tables.lineitem(s, dir)
          .select(col("l_returnflag"), col("l_quantity").cast("long").as("q"),
            col("l_orderkey"), col("l_linenumber"))
          .withColumn("r", row_number().over(w))
          .withColumn("n", count(lit(1)).over(Window.partitionBy("l_returnflag")))
        ranked
          .filter(col("r") > floor(col("n") * 5 / 100) &&
            col("r") <= col("n") - floor(col("n") * 5 / 100))
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("kept"), sum(col("q")).as("qsum"))
          // truncating integral division, not float `/` — a double
          // quotient can round up across an integer boundary and floor
          // differently than the oracle's `//`
          .withColumn("mean_e6", expr("qsum * 1000000 div kept"))
          .orderBy("l_returnflag")
      },
      Some("""
        WITH ranked AS (
          SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS q,
                 ROW_NUMBER() OVER (PARTITION BY l_returnflag
                   ORDER BY CAST(l_quantity AS BIGINT), l_orderkey, l_linenumber) AS r,
                 COUNT(*) OVER (PARTITION BY l_returnflag) AS n
          FROM lineitem)
        SELECT l_returnflag, COUNT(*) AS kept,
               CAST(SUM(q) AS BIGINT) AS qsum,
               CAST(SUM(q) * 1000000 // COUNT(*) AS BIGINT) AS mean_e6
        FROM ranked
        WHERE r > n * 5 // 100 AND r <= n - n * 5 // 100
        GROUP BY l_returnflag
        ORDER BY l_returnflag""")),

    // The 100 TB tier of q141 MADE REAL: trimmed mean from t-digest
    // thresholds — two partial-agg'd passes, zero window sorts (pinned in
    // TrimmedMeanSpec). The exact rank-trim (q141's window arithmetic,
    // integer-exact cross-engine) rides along as the anchor; the sketch
    // tier must land within 2% of it, reported as tolerance booleans
    // (q104/q109's contract — sketch picks are engine-specific, so the
    // oracle asserts the anchor exactly and the booleans as TRUE).
    Q(
      "q149_trimmed_mean_approx",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val li = Tables.lineitem(s, dir)
          .select(col("l_returnflag"), col("l_quantity").cast("long").as("q"),
            col("l_orderkey"), col("l_linenumber"))
        // exact rank-trim anchor (q141's arithmetic)
        val w = Window.partitionBy("l_returnflag")
          .orderBy(col("q"), col("l_orderkey"), col("l_linenumber"))
        val exact = li
          .withColumn("r", row_number().over(w))
          .withColumn("n", count(lit(1)).over(Window.partitionBy("l_returnflag")))
          .filter(col("r") > floor(col("n") * 5 / 100) &&
            col("r") <= col("n") - floor(col("n") * 5 / 100))
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("kept_exact"), sum(col("q")).as("qsum"))
          .withColumn("mean_e6", expr("qsum * 1000000 div kept_exact"))
        // sketch tier: no window, no sort
        val approx = graft.operators.RobustStats
          .trimmedMeanApprox(li, Seq("l_returnflag"), "q", 0.05)
          .select(col("l_returnflag"), col("kept").as("kept_approx"),
            col("trimmed_mean"))
        // kept band is asymmetric: a THRESHOLD trim keeps every row tied
        // with the boundary values, and l_quantity has only 50 distinct
        // values (~2% tie mass each), so the sketch tier structurally
        // keeps up to ~2×2% more rows than the rank trim — [0.98, 1.06]
        // covers sketch error plus that tie mass, and the mean still has
        // to land within 2%
        exact.join(approx, "l_returnflag")
          .select(col("l_returnflag"), col("kept_exact"), col("mean_e6"),
            (abs(col("trimmed_mean") - col("qsum").cast("double") / col("kept_exact")) /
              (col("qsum").cast("double") / col("kept_exact")) <= 0.02).as("mean_ok"),
            (col("kept_approx").cast("double") / col("kept_exact"))
              .between(0.98, 1.06).as("kept_ok"))
          .orderBy("l_returnflag")
      },
      Some("""
        WITH ranked AS (
          SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS q,
                 ROW_NUMBER() OVER (PARTITION BY l_returnflag
                   ORDER BY CAST(l_quantity AS BIGINT), l_orderkey, l_linenumber) AS r,
                 COUNT(*) OVER (PARTITION BY l_returnflag) AS n
          FROM lineitem)
        SELECT l_returnflag, COUNT(*) AS kept_exact,
               CAST(SUM(q) * 1000000 // COUNT(*) AS BIGINT) AS mean_e6,
               TRUE AS mean_ok,
               TRUE AS kept_ok
        FROM ranked
        WHERE r > n * 5 // 100 AND r <= n - n * 5 // 100
        GROUP BY l_returnflag
        ORDER BY l_returnflag""")),

    // Dedup threshold tuning curve: for each candidate cosine cutoff
    // t/10, how many near-dup pairs fire and how many documents are
    // touched — the curve an operator reads before committing a dedup
    // threshold corpus-wide. One bounded exact pair pass (cosinePairs'
    // cap) reused across all cutoffs via a tiny threshold cross join;
    // comparisons are on the 6-dp-rounded cosine both engines already
    // agree on bit-for-bit (q63/q133).
    Q(
      "q142_dup_threshold_curve",
      (s, dir) => {
        import graft.functions.GraftFunctions.asDouble
        val v = Tables.embeddings(s, dir)
          .select(col("vec_id"), asDouble(col("embedding")).as("vec"))
        // the bounded pair pass feeds BOTH the pair-count and doc-count
        // aggregations through the threshold join — persist it so the
        // capped cross join runs once
        val pairs = graft.Q.persistOnce(graft.operators.Similarity
          .cosinePairs(v, "vec_id", "vec", cap = 4096)
          .filter(col("cos_r") >= 0.3))
        val ts = s.range(3, 10).select(col("id").as("t"))
        val tp = pairs.join(ts, col("cos_r") >= col("t") / 10.0)
        val nPairs = tp.groupBy("t").agg(count(lit(1)).as("n_pairs"))
        val nDocs = tp
          .select(col("t"), explode(array(col("a"), col("b"))).as("doc"))
          .groupBy("t").agg(countDistinct(col("doc")).as("n_docs"))
        nPairs.join(nDocs, "t").orderBy("t")
      },
      Some(s"""
        WITH e AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
                          CAST(unnest(embedding) AS DOUBLE) AS v
                   FROM embeddings),
        capped AS (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 4096),
        nrm AS (SELECT vec_id, sqrt(SUM(v * v)) AS nrm FROM e GROUP BY 1),
        dots AS (SELECT a.vec_id AS a, b.vec_id AS b, SUM(a.v * b.v) AS d
                 FROM e a JOIN e b ON a.i = b.i AND a.vec_id < b.vec_id
                 JOIN capped ca ON ca.vec_id = a.vec_id
                 JOIN capped cb ON cb.vec_id = b.vec_id
                 GROUP BY 1, 2),
        pairs AS (SELECT a, b, round(d / (na.nrm * nb.nrm), 6) AS cos_r
                  FROM dots JOIN nrm na ON na.vec_id = a
                            JOIN nrm nb ON nb.vec_id = b
                  WHERE round(d / (na.nrm * nb.nrm), 6) >= 0.3),
        ts AS (SELECT CAST(t AS BIGINT) AS t
               FROM (VALUES (3), (4), (5), (6), (7), (8), (9)) AS v(t)),
        tp AS (SELECT t, a, b FROM pairs JOIN ts ON cos_r >= t / 10.0),
        np AS (SELECT t, COUNT(*) AS n_pairs FROM tp GROUP BY t),
        nd AS (SELECT t, CAST(COUNT(DISTINCT doc) AS BIGINT) AS n_docs
               FROM (SELECT t, a AS doc FROM tp UNION ALL SELECT t, b FROM tp)
               GROUP BY t)
        SELECT np.t, np.n_pairs, nd.n_docs
        FROM np JOIN nd ON np.t = nd.t
        ORDER BY np.t""")),

    // Deterministic negative sampling for contrastive training pairs:
    // slot i's negative for anchor a is doc hash(i, a) mod N — a pure
    // function of the data, so the (anchor, negative) pairs are
    // reproducible forever, with self and exact-duplicate negatives
    // anti-filtered on the normalized content fingerprint (a dup of the
    // anchor is a false negative that poisons the contrastive loss).
    // Scale shape: a broadcast count scalar + two fingerprint equi-joins;
    // precondition is dense ids (at scale, substitute a row_number-ranked
    // id once per corpus version).
    //
    // Distribution caveat: `hash60 % n` carries the standard modulo bias
    // — residues below 2^60 mod n are hit ⌈2^60/n⌉ times vs ⌊2^60/n⌋ —
    // a relative skew of n/2^60 (~4e-16 at n≈500; still <1e-9 at
    // n=10^9), so DETERMINISM of the draw is exact while UNIFORMITY is
    // approximate to that vanishing degree. If exactness of the
    // distribution ever matters, reject-and-rehash the top partial range
    // (hash >= n·⌊2^60/n⌋ → rehash with the slot salt bumped).
    Q(
      "q144_negative_samples",
      (s, dir) => {
        import graft.functions.GraftFunctions.{hash60, tokens}
        val docs = Tables.documents(s, dir)
        val n = docs.select(count(lit(1)).as("n"))
        val fp = docs.select(col("doc_id"),
          md5(concat_ws(" ", tokens(lower(col("text"))))).as("fp"))
        val probes = docs.select(col("doc_id").as("anchor"))
          .crossJoin(broadcast(n))
          .select(col("anchor"),
            explode(array((1 to 4).map(lit): _*)).as("slot"), col("n"))
          .withColumn("neg_id",
            hash60(concat(lit("neg"), col("slot").cast("string"),
              lit(":"), col("anchor").cast("string"))) % col("n"))
        probes
          .join(fp.select(col("doc_id").as("neg_id"), col("fp").as("neg_fp")), "neg_id")
          .join(fp.select(col("doc_id").as("anchor"), col("fp").as("a_fp")), "anchor")
          .filter(col("neg_id") =!= col("anchor") && col("neg_fp") =!= col("a_fp"))
          .select(col("anchor"), col("slot"), col("neg_id"))
          .orderBy("anchor", "slot")
      },
      Some("""
        WITH n AS (SELECT COUNT(*) AS n FROM documents),
        fp AS (SELECT doc_id,
                      md5(array_to_string(list_filter(string_split_regex(trim(lower(text)), '\s+'), t -> t <> ''), ' ')) AS fp
               FROM documents),
        probes AS (
          SELECT d.doc_id AS anchor, s.slot,
                 ('0x' || substr(md5('neg' || CAST(s.slot AS VARCHAR) || ':' || CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT % n.n AS neg_id
          FROM documents d, (VALUES (1), (2), (3), (4)) AS s(slot), n)
        SELECT p.anchor, p.slot, p.neg_id
        FROM probes p
        JOIN fp fa ON fa.doc_id = p.anchor
        JOIN fp fn ON fn.doc_id = p.neg_id
        WHERE p.neg_id <> p.anchor AND fn.fp <> fa.fp
        ORDER BY anchor, slot""")),

    // Grouped top-k as ONE aggregate — graft_bottom_k with a metric key
    // instead of a hash: the 3 longest docs per language, natively via
    // the desc flag (largest keys win; ties rank the smaller doc_id
    // first through the ascending payload order). Same O(groups × k)
    // shuffle story as q134; the oracle is the window-sort formulation
    // that would sort every row of every group.
    Q(
      "q145_grouped_topk",
      (s, dir) => {
        val picked = Tables.documents(s, dir)
          .groupBy(col("lang"))
          .agg(call_function("graft_bottom_k",
            col("n_chars"), col("doc_id"), lit(3), lit(true)).as("bk"))
        picked
          .select(col("lang"), posexplode(col("bk")).as(Seq("pos", "kv")))
          .select(col("lang"), (col("pos") + 1).cast("int").as("rk"),
            col("kv.v").as("doc_id"), col("kv.k").as("n_chars"))
          .orderBy("lang", "rk")
      },
      Some("""
        SELECT lang, rk, doc_id, n_chars
        FROM (
          SELECT lang, doc_id, n_chars,
                 CAST(ROW_NUMBER() OVER (
                   PARTITION BY lang ORDER BY n_chars DESC, doc_id) AS INT) AS rk
          FROM documents)
        WHERE rk <= 3
        ORDER BY lang, rk""")),

    // graft_bottom_k over NON-numeric types: a STRING key (2-hex-char
    // content-hash bucket, so key ties are common) ranked with a STRUCT
    // payload (doc_id, n_chars) breaking them — proving the generic
    // aggregate's interpreted orderings (UTF8String binary order, struct
    // field-lexicographic order) agree with the oracle's collation,
    // which is what lets string-keyed top-k ride the same O(groups × k)
    // shuffle as the numeric tiers.
    Q(
      "q146_grouped_topk_str",
      (s, dir) => {
        val d = Tables.documents(s, dir)
          .select(col("lang"), substring(md5(col("text")), 1, 2).as("hb"),
            col("doc_id"), col("n_chars"))
        d.groupBy("lang")
          .agg(call_function("graft_bottom_k", col("hb"),
            struct(col("doc_id"), col("n_chars")), lit(3)).as("bk"))
          .select(col("lang"), posexplode(col("bk")).as(Seq("pos", "kv")))
          .select(col("lang"), (col("pos") + 1).cast("int").as("rk"),
            col("kv.k").as("hb"), col("kv.v.doc_id").as("doc_id"),
            col("kv.v.n_chars").as("n_chars"))
          .orderBy("lang", "rk")
      },
      Some("""
        SELECT lang, rk, hb, doc_id, n_chars
        FROM (
          SELECT lang, substr(md5(text), 1, 2) AS hb, doc_id, n_chars,
                 CAST(ROW_NUMBER() OVER (
                   PARTITION BY lang
                   ORDER BY substr(md5(text), 1, 2), doc_id) AS INT) AS rk
          FROM documents)
        WHERE rk <= 3
        ORDER BY lang, rk""")),

    // Stratified exact weighted sampling: the Efraimidis–Spirakis draw
    // PER GROUP (3 docs per language, weight ∝ doc length as a
    // fractional w = n_chars/1000) — one O(groups × k) aggregate
    // shuffle, same native graft_bottom_k path as q134, exact PPS at
    // each group's first draw. Ranking key = the QUANTIZED race key
    // (Sampling.esKeyMicro — micro-cell floor + hash-desc tie-break,
    // the r14 wobble-channel closure); the oracle replays the identical
    // floor arithmetic verbatim.
    Q(
      "q151_weighted_stratified_es",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
          .select(col("doc_id"), col("lang"), col("n_chars"))
        graft.operators.Sampling.weightedBottomK(
            docs, Seq("lang"), "doc_id",
            col("n_chars").cast("double") / 1000.0, 3, "s151")
          .orderBy("lang", "rk")
      },
      Some(s"""
        WITH hs AS (
          SELECT lang, doc_id, n_chars,
                 ${h60("s151", "CAST(doc_id AS VARCHAR)")} AS h
          FROM documents
          WHERE n_chars / 1000.0 > 0),
        keyed AS (
          SELECT lang, doc_id,
                 CAST(floor(-ln(CAST(h + 1 AS DOUBLE) / 1152921504606846976.0)
                            / (n_chars / 1000.0) * 1000000.0) AS BIGINT) AS kq,
                 -h AS tb
          FROM hs),
        r AS (SELECT lang, doc_id,
                     CAST(ROW_NUMBER() OVER (
                       PARTITION BY lang ORDER BY kq, tb, doc_id) AS INT) AS rk
              FROM keyed)
        SELECT lang, doc_id, rk FROM r WHERE rk <= 3
        ORDER BY lang, rk""")),

    // Zone-map skipping effectiveness over the z-ordered layout of q132:
    // per-z-value min/max/count stats on the order day, then the exact
    // zones/rows a reader would scan for a one-quarter day predicate —
    // the planner arithmetic behind Layout.zorder's I/O payoff, proved
    // cross-engine.
    Q(
      "q139_skip_summary",
      (s, dir) => {
        val od = unix_date(col("o_orderdate").cast(DateType)).cast("long")
        val z = graft.operators.Layout.zvalue(Seq(
          graft.operators.Layout.widthBucket(col("o_custkey"), 0L, 14999L, 4),
          graft.operators.Layout.widthBucket(od, 8035L, 10592L, 4)), 4)
        val df = Tables.orders(s, dir)
          .select(z.as("z"), od.as("day"))
        graft.operators.Layout.skipSummary(df, col("z"), col("day"), 10200L, 10383L)
      },
      Some("""
        WITH b AS (
          SELECT least(15, greatest(0,
                   CAST(floor(o_custkey * 16 / 15000.0) AS BIGINT))) AS ck,
                 least(15, greatest(0,
                   CAST(floor((datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) - 8035)
                              * 16 / 2558.0) AS BIGINT))) AS dy,
                 datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS day
          FROM orders),
        zv AS (
          SELECT (((ck >> 0) & 1) << 0) | (((dy >> 0) & 1) << 1) |
                 (((ck >> 1) & 1) << 2) | (((dy >> 1) & 1) << 3) |
                 (((ck >> 2) & 1) << 4) | (((dy >> 2) & 1) << 5) |
                 (((ck >> 3) & 1) << 6) | (((dy >> 3) & 1) << 7) AS z,
                 day
          FROM b),
        st AS (
          SELECT z, MIN(day) AS zmin, MAX(day) AS zmax, COUNT(*) AS zrows,
                 SUM(CASE WHEN day BETWEEN 10200 AND 10383 THEN 1 ELSE 0 END) AS zmatch
          FROM zv GROUP BY z)
        SELECT CAST(COUNT(*) AS BIGINT) AS zones_total,
               CAST(SUM(CASE WHEN zmax >= 10200 AND zmin <= 10383 THEN 1 ELSE 0 END) AS BIGINT) AS zones_scanned,
               CAST(SUM(zrows) AS BIGINT) AS rows_total,
               CAST(SUM(CASE WHEN zmax >= 10200 AND zmin <= 10383 THEN zrows ELSE 0 END) AS BIGINT) AS rows_scanned,
               CAST(SUM(zmatch) AS BIGINT) AS rows_matching
        FROM st""")),

    // Frontier BFS hop distances from nation 0 over the q137 shipping
    // graph (operators.Bfs): per round, one keyed frontier-edges join +
    // one min fold — O(diameter) rounds, no all-pairs anything. The
    // oracle unrolls the identical rounds as CTEs (q137's pattern);
    // integer hops match row-for-row.
    Q(
      "q162_bfs_hops",
      (s, dir) => {
        val li = Tables.lineitem(s, dir)
        val o = Tables.orders(s, dir)
        val c = Tables.customer(s, dir)
        val su = Tables.supplier(s, dir)
        val edges = li
          .join(o, li("l_orderkey") === o("o_orderkey"))
          .join(c, o("o_custkey") === c("c_custkey"))
          .join(su, li("l_suppkey") === su("s_suppkey"))
          .select(col("s_nationkey").as("src"), col("c_nationkey").as("dst"))
          .filter(col("src") =!= col("dst"))
          .distinct()
        val d = graft.operators.Bfs.hops(edges, src = 0L, rounds = 3)
        d.join(Tables.nation(s, dir), col("node") === col("n_nationkey"))
          .select(col("n_name"), col("hops"))
          .orderBy("n_name")
      },
      Some {
        val rounds = (1 to 3).map { r =>
          s"""d$r AS (SELECT node, min(hops) AS hops FROM (
                SELECT node, hops FROM d${r - 1}
                UNION ALL
                SELECT e.dst AS node, d.hops + 1 AS hops
                FROM d${r - 1} d JOIN edges e ON e.src = d.node
                WHERE d.hops = ${r - 1}) GROUP BY node)"""
        }.mkString(",\n")
        s"""
        WITH edges AS (
          SELECT DISTINCT s.s_nationkey AS src, c.c_nationkey AS dst
          FROM lineitem l
          JOIN orders o ON l.l_orderkey = o.o_orderkey
          JOIN customer c ON o.o_custkey = c.c_custkey
          JOIN supplier s ON l.l_suppkey = s.s_suppkey
          WHERE s.s_nationkey <> c.c_nationkey),
        d0 AS (SELECT CAST(0 AS BIGINT) AS node, 0 AS hops),
        $rounds
        SELECT n.n_name, d.hops
        FROM d3 d JOIN nation n ON n.n_nationkey = d.node
        ORDER BY n.n_name"""
      }),

    // Robust outlier detection per group: median + MAD (median absolute
    // deviation), flagging rows beyond 1.5*MAD. Quantities are integers
    // and both medians interpolate at dyadic points, so med/mad/counts
    // are float-exact cross-engine. The exact percentile aggregate
    // buffers each group's values — the honest 100 TB swap is the q109
    // t-digest (mirroring the q141 -> q149 exact -> approx pairing);
    // the surrounding joins are keyed and the final count is one
    // partial-agg'd pass.
    Q(
      "q163_mad_outliers",
      (s, dir) => {
        val li = Tables.lineitem(s, dir).select(col("l_returnflag"), col("l_quantity"))
        val med = li.groupBy("l_returnflag")
          .agg(expr("percentile(l_quantity, 0.5)").as("med"))
        val withAd = li.join(med, "l_returnflag")
          .withColumn("ad", abs(col("l_quantity") - col("med")))
        val mad = withAd.groupBy("l_returnflag")
          .agg(expr("percentile(ad, 0.5)").as("mad"))
        withAd.join(mad, "l_returnflag")
          .groupBy("l_returnflag")
          .agg(
            max(col("med")).as("med"),
            max(col("mad")).as("mad"),
            sum(when(col("ad") > lit(1.5) * col("mad"), 1L).otherwise(0L)).as("n_outliers"))
          .orderBy("l_returnflag")
      },
      Some("""
        WITH m AS (SELECT l_returnflag, quantile_cont(l_quantity, 0.5) AS med
                   FROM lineitem GROUP BY 1),
        a AS (SELECT l.l_returnflag, m.med, abs(l.l_quantity - m.med) AS ad
              FROM lineitem l JOIN m USING (l_returnflag)),
        d AS (SELECT l_returnflag, quantile_cont(ad, 0.5) AS mad
              FROM a GROUP BY 1)
        SELECT a.l_returnflag, max(a.med) AS med, max(d.mad) AS mad,
               CAST(SUM(CASE WHEN a.ad > 1.5 * d.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        FROM a JOIN d USING (l_returnflag)
        GROUP BY 1 ORDER BY 1""")),

    // Largest-remainder apportionment: split an exact 1M-token budget
    // across sources proportionally to corpus mass, in pure integer
    // arithmetic — floor quotas, then one extra token to the R largest
    // remainders (R = budget − Σfloors; tie-break source asc). This is
    // how a domain-mix plan (q115's ppm weights) becomes an EXACT
    // per-source sample budget: Σalloc = budget always, no float
    // rounding drift. Two tiny aggregates + a 20-row ranking window;
    // B·w stays in int64 here (switch to decimal(38,0) when budget ×
    // corpus mass can exceed 2^63).
    Q(
      "q166_apportion_budget",
      (s, dir) => {
        val w = graft.operators.BoundedWindow.aggregated(
          Tables.documents(s, dir).groupBy("source")
            .agg(sum(col("n_chars")).as("w")),
          "per-source corpus mass")
        val tot = w.agg(sum(col("w")).as("tw"))
        val base = w.crossJoin(broadcast(tot))
          .withColumn("base", expr("(1000000 * w) div tw"))
          .withColumn("rem", expr("(1000000 * w) % tw"))
        val used = base.agg(sum(col("base")).as("allocated"))
        // global remainder ranking over the per-SOURCE aggregate (a
        // handful of rows however big the corpus; the aggregate is
        // BoundedWindow.aggregated-guarded above) — BoundedWindow's spec
        // also keeps WindowExec's single-partition warning out of an
        // intentionally-global window (it fired 14x per Verify run here).
        // Ordered by -rem ascending == rem descending: BoundedWindow
        // hashes the first order expression for its constant partition
        // key, which needs a plain expression, not a SortOrder.
        val win = graft.operators.BoundedWindow
          .orderBy((-col("rem")).as("neg_rem"), col("source"))
        base.crossJoin(broadcast(used))
          .withColumn("rk", row_number().over(win))
          .withColumn("alloc",
            col("base") + when(col("rk") <= lit(1000000L) - col("allocated"), 1L).otherwise(0L))
          .select(col("source"), col("w"), col("alloc"))
          .orderBy("source")
      },
      Some("""
        WITH w AS (SELECT source, CAST(SUM(n_chars) AS BIGINT) AS w
                   FROM documents GROUP BY 1),
        t AS (SELECT CAST(SUM(w) AS BIGINT) AS tw FROM w),
        b AS (SELECT source, w, (1000000 * w) // tw AS base,
                     (1000000 * w) % tw AS rem FROM w, t),
        u AS (SELECT CAST(SUM(base) AS BIGINT) AS allocated FROM b),
        r AS (SELECT *, row_number() OVER (ORDER BY rem DESC, source) AS rk FROM b)
        SELECT source, w,
               CAST(base + CASE WHEN rk <= 1000000 - allocated THEN 1 ELSE 0 END AS BIGINT) AS alloc
        FROM r, u
        ORDER BY source""")),

    // B92: leakage-safe leave-one-out target encoding — the feature is
    // the mean order value of the OTHER rows in the category, as the
    // exact rational (S_c − x)/(n_c − 1); singleton categories fall back
    // to the global complement. One per-category aggregate + one
    // equi-join back; no window, no per-row state. Target in paise so
    // both engines stay in integer arithmetic end to end.
    Q(
      "q197_loo_target_encode",
      (s, dir) =>
        graft.operators.Encoding.looTargetEncode(
            Tables.orders(s, dir).select(
              col("o_orderkey"), col("o_orderpriority"),
              // floor(x*100) both sides: identical input doubles floor
              // identically, where CAST(double) rounds in DuckDB but
              // truncates in Spark
              floor(col("o_totalprice") * 100).cast(LongType).as("paise")),
            col("o_orderpriority"), col("paise"))
          .select("o_orderkey", "o_orderpriority", "loo_num", "loo_den")
          .orderBy("o_orderkey"),
      Some("""
        WITH t AS (SELECT o_orderkey, o_orderpriority,
                          CAST(floor(o_totalprice * 100) AS BIGINT) AS paise FROM orders),
        c AS (SELECT o_orderpriority, CAST(SUM(paise) AS BIGINT) AS s,
                     CAST(COUNT(*) AS BIGINT) AS n FROM t GROUP BY 1),
        g AS (SELECT CAST(SUM(paise) AS BIGINT) AS gs, CAST(COUNT(*) AS BIGINT) AS gn FROM t)
        SELECT o_orderkey, o_orderpriority,
               CAST(CASE WHEN n > 1 THEN s - paise ELSE gs - paise END AS BIGINT) AS loo_num,
               CAST(CASE WHEN n > 1 THEN n - 1 ELSE gn - 1 END AS BIGINT) AS loo_den
        FROM t JOIN c USING (o_orderpriority) CROSS JOIN g
        ORDER BY o_orderkey""")),

    // B94: lagged co-movement per event type — the week-over-week
    // autocorrelation summary behind "is this series momentum-driven":
    // daily exact-integer value sums (floor PER ROW, then integer sum —
    // a float SUM would wobble with aggregation order across engines),
    // self-joined at lag 7, reduced to scale-cleared co-moment
    // numerators (cov_num = n·Σxy − ΣxΣy, var?_num likewise; r² =
    // cov²/(varx·vary) and sign(r) = sign(cov) are the caller's
    // one-liners). In-plan guard n·max(Σx², Σy²) < 2^62 — by
    // Cauchy–Schwarz that bounds every emitted product. One aggregate
    // shuffle to (type, day), one equi-join at the lag, one bounded
    // per-type aggregate.
    Q(
      "q199_lag_autocorr",
      (s, dir) => {
        val daily = Tables.events(s, dir)
          .groupBy(col("event_type").as("g"),
            expr("datediff(to_date(ts), date'2024-01-01')").cast(LongType).as("d"))
          .agg(sum(floor(col("value"))).as("x"))
        val lead7 = daily.select(col("g"), (col("d") - 7).as("d"), col("x").as("y"))
        val k62 = Long.MaxValue / 2
        daily.join(lead7, Seq("g", "d"))
          .groupBy("g")
          .agg(
            count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
            sum(col("x") * col("y")).as("sxy"),
            sum(col("x") * col("x")).as("sx2"),
            sum(col("y") * col("y")).as("sy2"))
          .select(
            col("g"), col("n"),
            graft.operators.Guards(col("sx2") <= expr(s"${k62}L div n") && col("sy2") <= expr(s"${k62}L div n"),
              col("n") * col("sxy") - col("sx") * col("sy"),
              concat(
                lit("[lag-autocorr] co-moment overflow for group "), col("g"),
                lit(": rescale the value unit (n*max(sum x^2, sum y^2) must stay < 2^62)")))
              .as("cov_num"),
            (col("n") * col("sx2") - col("sx") * col("sx")).as("varx_num"),
            (col("n") * col("sy2") - col("sy") * col("sy")).as("vary_num"))
          .orderBy("g")
      },
      Some("""
        WITH daily AS (SELECT event_type AS g,
                              CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) AS d,
                              CAST(SUM(CAST(floor(value) AS BIGINT)) AS BIGINT) AS x
                       FROM events GROUP BY 1, 2),
        p AS (SELECT a.g, CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(SUM(a.x) AS BIGINT) AS sx, CAST(SUM(b.x) AS BIGINT) AS sy,
                     CAST(SUM(a.x * b.x) AS BIGINT) AS sxy,
                     CAST(SUM(a.x * a.x) AS BIGINT) AS sx2,
                     CAST(SUM(b.x * b.x) AS BIGINT) AS sy2
              FROM daily a JOIN daily b ON a.g = b.g AND b.d = a.d + 7
              GROUP BY 1)
        SELECT g, n, CAST(n * sxy - sx * sy AS BIGINT) AS cov_num,
               CAST(n * sx2 - sx * sx AS BIGINT) AS varx_num,
               CAST(n * sy2 - sy * sy AS BIGINT) AS vary_num
        FROM p ORDER BY g""")),

    // B102: Benford first-digit audit — the classic fabricated-numbers
    // screen: first significant digit counts vs Benford's log10(1+1/d)
    // expectation, hardcoded as integer ppm constants (they sum to
    // exactly 10^6) so the deviation stays exact: dev_num/dev_den =
    // |observed_ppm - expected_ppm| with dev_num = |10^6*n_d - e_d*N|
    // over den N. Digit extraction is string-first (leading char of the
    // floored BIGINT) — both engines render positive integers
    // identically, where a log10-based extraction would ride floats.
    // One scan, one 9-row aggregate, one broadcast total attach.
    Q(
      "q207_benford_audit",
      (s, dir) => {
        val digits = Tables.orders(s, dir)
          .select(substring(floor(col("o_totalprice")).cast(LongType)
            .cast("string"), 1, 1).cast(LongType).as("digit"))
          .groupBy("digit").agg(count(lit(1)).as("n_obs"))
        val tot = digits.agg(sum("n_obs").as("nn"))
        val expected = expr(
          "CASE digit WHEN 1 THEN 301030 WHEN 2 THEN 176091 WHEN 3 THEN 124939 " +
            "WHEN 4 THEN 96910 WHEN 5 THEN 79181 WHEN 6 THEN 66947 " +
            "WHEN 7 THEN 57992 WHEN 8 THEN 51153 ELSE 45757 END").cast(LongType)
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

    // B105: exact weighted median per group — the robust center B74's
    // unweighted median can't give when rows carry mass (here: quantity-
    // weighted median line price). Two-stage so the sort never sees raw
    // rows: partial-agg'd (group, value) weight rollup FIRST (bounded by
    // distinct paise per group), then a grouped cumulative window over
    // that aggregate frame picks the smallest v with 2·cumw >= W. All
    // integers — paise values, floored quantities.
    Q(
      "q210_weighted_median",
      (s, dir) => {
        val wv = Tables.lineitem(s, dir)
          .groupBy(col("l_returnflag").as("rf"), col("l_linestatus").as("ls"),
            floor(col("l_extendedprice") * 100).cast(LongType).as("v"))
          .agg(sum(floor(col("l_quantity")).cast(LongType)).as("w"))
        val win = org.apache.spark.sql.expressions.Window
          .partitionBy("rf", "ls").orderBy("v")
        // the group total rides the SAME (rf, ls) exchange as the running
        // sum (an unbounded window frame = SUM over the whole group,
        // value-identical to the old tot aggregate + equi-join, for any
        // weight sign) — the separate aggregate, its exchange and the
        // join are gone, and the final groupBy reuses the partitioning.
        val winAll = org.apache.spark.sql.expressions.Window.partitionBy("rf", "ls")
        wv.withColumn("cw", sum("w").over(win))
          .withColumn("tw", sum("w").over(winAll))
          .groupBy(col("rf"), col("ls"), col("tw"))
          .agg(min(when(col("cw") * 2 >= col("tw"), col("v"))).as("wmedian_paise"))
          .orderBy("rf", "ls")
      },
      Some("""
        WITH wv AS (SELECT l_returnflag AS rf, l_linestatus AS ls,
                           CAST(floor(l_extendedprice * 100) AS BIGINT) AS v,
                           CAST(SUM(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS w
                    FROM lineitem GROUP BY 1, 2, 3),
        tot AS (SELECT rf, ls, CAST(SUM(w) AS BIGINT) AS tw FROM wv GROUP BY 1, 2),
        cum AS (SELECT rf, ls, v, CAST(SUM(w) OVER (PARTITION BY rf, ls ORDER BY v) AS BIGINT) AS cw
                FROM wv)
        SELECT t.rf, t.ls, tw,
               CAST(MIN(CASE WHEN 2 * cw >= tw THEN v END) AS BIGINT) AS wmedian_paise
        FROM tot t JOIN cum c ON c.rf = t.rf AND c.ls = t.ls
        GROUP BY 1, 2, 3 ORDER BY 1, 2""")),

    // B111: token-budget shard packing — the sequence-packing step every
    // LLM training pipeline runs before writing shards: documents in a
    // deterministic order, contiguous greedy packing into 4096-token
    // shards, START-aligned (a doc belongs to the shard its first token
    // falls in, so a shard can exceed budget by less than one doc — the
    // documented semantic; the audit columns surface exactly that). The
    // cumulative token count is PrefixSum's distributed range-exchange
    // running sum — no single-partition window anywhere.
    Q(
      "q217_token_packing",
      (s, dir) => {
        val toks = Tables.documents(s, dir)
          .select(col("doc_id"),
            // column API, not expr(): the regex reaches split() verbatim
            // (an expr() string literal eats one backslash level)
            coalesce(size(filter(split(trim(col("text")), "\\s+"),
              t => t =!= lit(""))), lit(0)).cast(LongType).as("tok"))
        val cum = graft.operators.PrefixSum.runningSums(toks, Seq(col("doc_id")), Seq("tok"))
        cum.select(expr("(c_tok - tok) div 4096").as("shard"), col("tok"))
          .groupBy("shard")
          .agg(count(lit(1)).as("n_docs"), sum("tok").as("tok_sum"))
          .select(col("shard"), col("n_docs"), col("tok_sum"),
            (col("tok_sum") > 4096L).as("over_budget"),
            expr("(1000000 * tok_sum) div 4096").as("utilization_ppm"))
          .orderBy("shard")
      },
      Some("""
        WITH toks AS (SELECT doc_id,
                             CAST(COALESCE(len(list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '')), 0) AS BIGINT) AS tok
                      FROM documents),
        cum AS (SELECT doc_id, tok,
                       CAST(SUM(tok) OVER (ORDER BY doc_id) AS BIGINT) AS c
                FROM toks),
        sh AS (SELECT (c - tok) // 4096 AS shard, tok FROM cum)
        SELECT CAST(shard AS BIGINT) AS shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(tok) AS BIGINT) AS tok_sum,
               SUM(tok) > 4096 AS over_budget,
               CAST((1000000 * SUM(tok)) // 4096 AS BIGINT) AS utilization_ppm
        FROM sh GROUP BY 1 ORDER BY 1""")),

    // B113: Horvitz–Thompson expansion from a deterministic stratified
    // sample — the estimate-from-a-sample arithmetic that justifies the
    // B50/B59 sampling wing: per stratum, expand the sampled balance sum
    // by n/k (exact rational ht_num/ht_den), carry the TRUE total beside
    // it, and report the exact floored-ppm relative error. The sample
    // predicate (c_custkey % 7 = 0) is the deterministic stand-in for a
    // stored sample table; the estimator algebra is what's under test.
    // Guards bound |bal|·n products before any multiply.
    Q(
      "q219_ht_estimate",
      (s, dir) => {
        val strat = Tables.customer(s, dir)
          .select(col("c_mktsegment").as("seg"), col("c_custkey"),
            floor(col("c_acctbal") * 100).cast(LongType).as("bal"))
        val tot = strat.groupBy("seg")
          .agg(count(lit(1)).as("n_true"), sum("bal").as("bal_true"))
        val samp = strat.filter(col("c_custkey") % 7 === 0)
          .groupBy("seg").agg(count(lit(1)).as("k"), sum("bal").as("bal_s"))
        val kb = Long.MaxValue / 4000000L
        tot.join(samp, "seg")
          .select(col("seg"), col("n_true"), col("k"),
            graft.operators.Guards(abs(col("bal_s")) <= expr(s"${kb}L div n_true") &&
                abs(col("bal_true")) <= expr(s"${kb}L div k"),
              col("bal_s") * col("n_true"),
              concat(
                lit("[ht-estimate] balance*count product out of range for stratum "),
                col("seg"), lit(": rescale the unit")))
              .as("ht_num"),
            col("k").as("ht_den"), col("bal_true"),
            expr("""abs(1000000 * (bal_s * n_true - bal_true * k))
                    div (CASE WHEN bal_true = 0 THEN 1 ELSE abs(bal_true) END * k)""")
              .as("err_ppm"))
          .orderBy("seg")
      },
      Some("""
        WITH strat AS (SELECT c_mktsegment AS seg, c_custkey,
                              CAST(floor(c_acctbal * 100) AS BIGINT) AS bal FROM customer),
        tot AS (SELECT seg, CAST(COUNT(*) AS BIGINT) AS n_true,
                       CAST(SUM(bal) AS BIGINT) AS bal_true
                FROM strat GROUP BY 1),
        samp AS (SELECT seg, CAST(COUNT(*) AS BIGINT) AS k,
                        CAST(SUM(bal) AS BIGINT) AS bal_s
                 FROM strat WHERE c_custkey % 7 = 0 GROUP BY 1)
        SELECT t.seg, n_true, k,
               CAST(bal_s * n_true AS BIGINT) AS ht_num,
               k AS ht_den, bal_true,
               CAST(abs(1000000 * (bal_s * n_true - bal_true * k)) // (CASE WHEN bal_true = 0 THEN 1 ELSE abs(bal_true) END * k) AS BIGINT) AS err_ppm
        FROM tot t JOIN samp s ON s.seg = t.seg
        ORDER BY t.seg""")),

    // B120: greedy coverage-maximizing selection — after dedup the corpus
    // is still REDUNDANT; with a K-document budget, marginal 3-shingle
    // coverage (not a per-doc quality score) is what each pick should
    // buy. Classic submodular greedy ((1−1/e) of optimal): 3 fixed
    // rounds, each one partial-agg'd count + a top-1 TakeOrdered + one
    // anti-join on the covered set; ties break to the smallest doc_id so
    // the oracle replays the same picks as nested CTEs.
    Q(
      "q226_coverage_select",
      (s, dir) => {
        val sh = Tables.documents(s, dir)
          .select(col("doc_id"),
            explode(array_distinct(graft.operators.TextAnalysis
              .shinglesFromTokens(graft.functions.GraftFunctions.tokens(col("text")), 3)))
              .as("sh"))
        graft.operators.Coverage.greedySelect(sh, "doc_id", "sh", 3)
          .select(col("round"), col("id").as("doc_id"), col("gain"), col("covered_total"))
          .orderBy("round")
      },
      Some("""
        WITH toks AS (SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') AS ts FROM documents),
        sh AS (SELECT DISTINCT doc_id, sh FROM (
            SELECT doc_id, unnest(list_transform(range(1, greatest(len(ts) - 2, 0) + 1),
                                  i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS sh
            FROM toks)),
        c1 AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS g FROM sh GROUP BY 1),
        p1 AS (SELECT doc_id, g FROM c1 ORDER BY g DESC, doc_id LIMIT 1),
        cov1 AS (SELECT DISTINCT s.sh FROM sh s JOIN p1 ON s.doc_id = p1.doc_id),
        u2 AS (SELECT s.doc_id, s.sh FROM sh s LEFT JOIN cov1 v ON s.sh = v.sh WHERE v.sh IS NULL),
        c2 AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS g FROM u2 GROUP BY 1),
        p2 AS (SELECT doc_id, g FROM c2 ORDER BY g DESC, doc_id LIMIT 1),
        cov2 AS (SELECT sh FROM cov1 UNION SELECT DISTINCT s.sh FROM u2 s JOIN p2 ON s.doc_id = p2.doc_id),
        u3 AS (SELECT s.doc_id, s.sh FROM sh s LEFT JOIN cov2 v ON s.sh = v.sh WHERE v.sh IS NULL),
        c3 AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS g FROM u3 GROUP BY 1),
        p3 AS (SELECT doc_id, g FROM c3 ORDER BY g DESC, doc_id LIMIT 1),
        sel AS (SELECT CAST(1 AS BIGINT) AS round, doc_id, g AS gain FROM p1
                UNION ALL SELECT CAST(2 AS BIGINT), doc_id, g FROM p2
                UNION ALL SELECT CAST(3 AS BIGINT), doc_id, g FROM p3)
        SELECT round, doc_id, gain,
               CAST(SUM(gain) OVER (ORDER BY round) AS BIGINT) AS covered_total
        FROM sel ORDER BY round""")),

    // B120 (stochastic tier): the same budget-K coverage selection with
    // per-round HASH-SAMPLED candidates (Mirzasoleiman et al. 2015's
    // stochastic greedy, (1 − 1/e − ε) in expectation) — each round's
    // gain aggregate runs over ~60% of the candidates (samplePpm =
    // 600000), deterministically per (id, round) so the oracle replays
    // the exact sample; a round whose sample holds no remaining
    // candidate falls back to the exact argmax ("best sampled if any,
    // else best overall" — one total order, never an early stall).
    Q(
      "q233_coverage_stochastic",
      (s, dir) => {
        val sh = Tables.documents(s, dir)
          .select(col("doc_id"),
            explode(array_distinct(graft.operators.TextAnalysis
              .shinglesFromTokens(graft.functions.GraftFunctions.tokens(col("text")), 3)))
              .as("sh"))
        graft.operators.Coverage.greedySelectStochastic(sh, "doc_id", "sh", 3, 600000L)
          .select(col("round"), col("id").as("doc_id"), col("gain"), col("covered_total"))
          .orderBy("round")
      }, {
        def pick(i: Int, c: String) = s"""
          p$i AS (SELECT doc_id, g FROM (
                  SELECT doc_id, g,
                         CASE WHEN CAST(('0x' || substring(md5('covsample:' || CAST(doc_id AS VARCHAR) || ':$i'), 1, 15)) AS BIGINT) % 1000000 < 600000
                              THEN 1 ELSE 0 END AS pri
                  FROM $c) ORDER BY pri DESC, g DESC, doc_id LIMIT 1)"""
        Some(s"""
        WITH toks AS (SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'), t -> t <> '') AS ts FROM documents),
        sh AS (SELECT DISTINCT doc_id, sh FROM (
            SELECT doc_id, unnest(list_transform(range(1, greatest(len(ts) - 2, 0) + 1),
                                  i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS sh
            FROM toks)),
        c1 AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS g FROM sh GROUP BY 1),
        ${pick(1, "c1")},
        cov1 AS (SELECT DISTINCT s.sh FROM sh s JOIN p1 ON s.doc_id = p1.doc_id),
        u2 AS (SELECT s.doc_id, s.sh FROM sh s LEFT JOIN cov1 v ON s.sh = v.sh WHERE v.sh IS NULL),
        c2 AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS g FROM u2 GROUP BY 1),
        ${pick(2, "c2")},
        cov2 AS (SELECT sh FROM cov1 UNION SELECT DISTINCT s.sh FROM u2 s JOIN p2 ON s.doc_id = p2.doc_id),
        u3 AS (SELECT s.doc_id, s.sh FROM sh s LEFT JOIN cov2 v ON s.sh = v.sh WHERE v.sh IS NULL),
        c3 AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS g FROM u3 GROUP BY 1),
        ${pick(3, "c3")},
        sel AS (SELECT CAST(1 AS BIGINT) AS round, doc_id, g AS gain FROM p1
                UNION ALL SELECT CAST(2 AS BIGINT), doc_id, g FROM p2
                UNION ALL SELECT CAST(3 AS BIGINT), doc_id, g FROM p3)
        SELECT round, doc_id, gain,
               CAST(SUM(gain) OVER (ORDER BY round) AS BIGINT) AS covered_total
        FROM sel ORDER BY round""")
      }),

    // B132: leave-one-source-out ablation panel — for each source, the
    // corpus mean of chars / tokens / en-fraction with that source
    // DROPPED, via the complement identity (S − S_g)/(n − n_g): the
    // "which source moves the needle" read a curation pipeline takes
    // before cutting a source, in ONE partial-agg'd pass + a 1-row
    // totals broadcast (never G rescans). ×1000-floored means; a group
    // that is the whole corpus gets NULL loo/delta.
    Q(
      "q241_loo_ablation",
      (s, dir) => graft.operators.Ablation.leaveOneOut(
          Tables.documents(s, dir),
          col("source"),
          Seq(
            "chars" -> col("n_chars"),
            "toks" -> size(graft.functions.GraftFunctions.tokens(col("text"))).cast(LongType),
            "en" -> when(col("lang") === "en", 1L).otherwise(0L)))
        .orderBy("g"),
      Some("""
        WITH g AS (SELECT source AS g, CAST(COUNT(*) AS BIGINT) AS n_g,
                          CAST(SUM(n_chars) AS BIGINT) AS s_chars,
                          CAST(SUM(len(list_filter(string_split_regex(trim(text), '\s+'), t -> t <> ''))) AS BIGINT) AS s_toks,
                          CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS s_en
                   FROM documents GROUP BY 1),
        t AS (SELECT CAST(SUM(n_g) AS BIGINT) AS n, CAST(SUM(s_chars) AS BIGINT) AS t_chars,
                     CAST(SUM(s_toks) AS BIGINT) AS t_toks, CAST(SUM(s_en) AS BIGINT) AS t_en
              FROM g)
        SELECT g, n_g,
               (1000 * t_chars) // n AS full_chars_milli,
               CASE WHEN n > n_g THEN (1000 * (t_chars - s_chars)) // (n - n_g) END AS loo_chars_milli,
               CASE WHEN n > n_g THEN (1000 * (t_chars - s_chars)) // (n - n_g) - (1000 * t_chars) // n END AS delta_chars_milli,
               (1000 * t_toks) // n AS full_toks_milli,
               CASE WHEN n > n_g THEN (1000 * (t_toks - s_toks)) // (n - n_g) END AS loo_toks_milli,
               CASE WHEN n > n_g THEN (1000 * (t_toks - s_toks)) // (n - n_g) - (1000 * t_toks) // n END AS delta_toks_milli,
               (1000 * t_en) // n AS full_en_milli,
               CASE WHEN n > n_g THEN (1000 * (t_en - s_en)) // (n - n_g) END AS loo_en_milli,
               CASE WHEN n > n_g THEN (1000 * (t_en - s_en)) // (n - n_g) - (1000 * t_en) // n END AS delta_en_milli
        FROM g, t ORDER BY g""")),

    // B133: Neyman-allocated stratified sampling — the sample-DESIGN
    // half of the sampling family: a 1000-row budget split across order
    // priorities proportionally to N_h·S_h (big AND volatile strata get
    // the draws), then the sample itself materialized by deterministic
    // hash rank. Two-pass integer variance about the floored mean, exact
    // isqrt (floor(sqrt) corrected ±1 by squaring), largest-remainder
    // apportionment (the q166 pattern), per-stratum GROUPED rank
    // membership. y is floor(o_totalprice) — non-negative, so Spark's
    // truncating div and DuckDB's flooring // agree everywhere.
    Q(
      "q242_neyman_stratified",
      (s, dir) => graft.operators.Stratified.neymanSample(
          Tables.orders(s, dir),
          col("o_orderpriority"),
          floor(col("o_totalprice")).cast(LongType),
          col("o_orderkey"),
          budget = 1000)
        .orderBy("stratum"),
      Some("""
        WITH s0 AS (SELECT o_orderpriority AS st, o_orderkey AS k,
                           CAST(floor(o_totalprice) AS BIGINT) AS y FROM orders),
        m AS (SELECT st, CAST(COUNT(*) AS BIGINT) AS n_h, CAST(SUM(y) AS BIGINT) AS sy FROM s0 GROUP BY 1),
        m2 AS (SELECT st, n_h, sy, sy // n_h AS mu FROM m),
        ss AS (SELECT s0.st, CAST(SUM((y - mu) * (y - mu)) AS BIGINT) AS ssq
               FROM s0 JOIN m2 ON m2.st = s0.st GROUP BY 1),
        v AS (SELECT m2.st, n_h, sy, CASE WHEN n_h > 1 THEN ssq // (n_h - 1) ELSE 0 END AS variance
              FROM m2 JOIN ss ON ss.st = m2.st),
        sd0 AS (SELECT *, CAST(floor(sqrt(CAST(variance AS DOUBLE))) AS BIGINT) AS r0 FROM v),
        sd AS (SELECT st, n_h, sy, variance,
                      CASE WHEN (r0 + 1) * (r0 + 1) <= variance THEN r0 + 1
                           WHEN r0 * r0 > variance THEN r0 - 1
                           ELSE r0 END AS sd
               FROM sd0),
        w AS (SELECT *, n_h * sd AS w FROM sd),
        tw AS (SELECT CAST(SUM(w) AS BIGINT) AS tw FROM w),
        b AS (SELECT w.*, (1000 * w) // tw AS base, (1000 * w) % tw AS rem FROM w, tw),
        u AS (SELECT CAST(SUM(base) AS BIGINT) AS allocated FROM b),
        r AS (SELECT *, row_number() OVER (ORDER BY rem DESC, st) AS rk FROM b),
        al AS (SELECT st, n_h, sd, sy,
                      CAST(least(base + CASE WHEN rk <= 1000 - allocated THEN 1 ELSE 0 END, n_h) AS BIGINT) AS alloc
               FROM r, u),
        rnk AS (SELECT st, y, row_number() OVER (PARTITION BY st ORDER BY
                         CAST(('0x' || substring(md5('strat:' || CAST(k AS VARCHAR)), 1, 15)) AS BIGINT), k) AS hrk
                FROM s0),
        samp AS (SELECT rnk.st, CAST(SUM(y) AS BIGINT) AS ssum, CAST(COUNT(*) AS BIGINT) AS scnt
                 FROM rnk JOIN al ON al.st = rnk.st AND rnk.hrk <= al.alloc GROUP BY 1)
        SELECT al.st AS stratum, al.n_h, al.sd, al.alloc,
               sy // n_h AS full_mean,
               CASE WHEN scnt > 0 THEN ssum // scnt END AS samp_mean
        FROM al LEFT JOIN samp ON samp.st = al.st
        ORDER BY stratum""")),

    // B136: DSIR hashed-bigram importance resampling (Xie et al. 2023) —
    // sample documents TOWARD a target domain (lang = 'en' here): two
    // 4096-bucket hashed-bigram LMs (target slice vs raw corpus), per-doc
    // log weight lw = Σ_b c_doc(b)·Δ(b) on the certified micronat grid
    // (difference-of-floors, no cross products — operators/Dsir.scala),
    // then the B59 exponential race in LOG space (exp(lw) would overflow
    // a double at +710 nats). The drawn 25 skew heavily 'en' (19/25 at
    // sf0.01 vs a 218/500 base rate) — the importance tilt made visible.
    // Ranking key = the QUANTIZED race key (floor(ky·1e6) cell +
    // hash-desc tie-break — the Sampling.esKeyMicro posture, r14);
    // oracle replays hash, counts, floors, cell and tie-break verbatim.
    Q(
      "q245_dsir_resample",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        graft.operators.Dsir.resample(docs, "doc_id", "text",
            col("lang") === "en", buckets = 4096, k = 25,
            ngramSeed = "dsir", drawSeed = "s245")
          .join(docs.select(col("doc_id"), col("lang")), "doc_id")
          .select(col("doc_id"), col("lang"), col("lw_micro"), col("rk"))
          .orderBy("rk")
      },
      Some(raw"""
        WITH toks AS (SELECT doc_id, list_filter(string_split_regex(trim(lower(text)), '\s+'), t -> t <> '') AS ts
                      FROM documents),
        idx AS (SELECT doc_id, ts, unnest(range(1, len(ts))) AS i FROM toks),
        big AS (SELECT doc_id,
                       ('0x' || substr(md5('dsir:' || ts[i] || ' ' || ts[i+1]), 1, 15))::BIGINT % 4096 AS b
                FROM idx),
        db AS (SELECT doc_id, b, CAST(COUNT(*) AS BIGINT) AS c_doc FROM big GROUP BY 1, 2),
        raw AS (SELECT b, CAST(SUM(c_doc) AS BIGINT) AS c_r FROM db GROUP BY 1),
        tgt AS (SELECT b, CAST(SUM(c_doc) AS BIGINT) AS c_t
                FROM db JOIN documents USING (doc_id) WHERE lang = 'en' GROUP BY 1),
        nr AS (SELECT CAST(SUM(c_r) AS BIGINT) AS n_r FROM raw),
        nt AS (SELECT CAST(COALESCE(SUM(c_t), 0) AS BIGINT) AS n_t FROM tgt),
        m AS (SELECT r.b,
                     CAST(floor(-ln(CAST(r.c_r + 1 AS DOUBLE) / CAST(n_r + 4096 AS DOUBLE)) * 1e6) AS BIGINT)
                   - CAST(floor(-ln(CAST(COALESCE(t.c_t, 0) + 1 AS DOUBLE) / CAST(n_t + 4096 AS DOUBLE)) * 1e6) AS BIGINT) AS dlt
              FROM raw r LEFT JOIN tgt t USING (b), nr, nt),
        lw AS (SELECT doc_id, CAST(SUM(c_doc * dlt) AS BIGINT) AS lw_micro FROM db JOIN m USING (b) GROUP BY 1),
        hs AS (SELECT doc_id, lw_micro,
                      ('0x' || substr(md5('s245:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
               FROM lw),
        keyed AS (SELECT doc_id, lw_micro,
                         CAST(floor((ln(-ln(CAST(h + 1 AS DOUBLE) / 1152921504606846976.0))
                                     - CAST(lw_micro AS DOUBLE) / 1e6) * 1000000.0) AS BIGINT) AS kq,
                         -h AS tb
                  FROM hs),
        r AS (SELECT doc_id, lw_micro, CAST(ROW_NUMBER() OVER (ORDER BY kq, tb, doc_id) AS INT) AS rk FROM keyed)
        SELECT r.doc_id, d.lang, r.lw_micro, r.rk
        FROM r JOIN documents d USING (doc_id) WHERE rk <= 25 ORDER BY rk""")),

    // B138: weighted single-source shortest paths (bounded-hop
    // Bellman–Ford, operators/Sssp) — the weighted completion of q162's
    // BFS: not "how many legs to reach nation X" but "at what minimum
    // total cost within 3 legs", over the same shipping graph with edge
    // weight = the lightest single shipment ever sent on that lane
    // (min l_quantity — integral by data contract, exact in both
    // engines). Per round ONE frontier-keyed equi-join + a partial-agg'd
    // min fold over struct(dist, round) (ties keep the earliest round,
    // so nothing re-enters the frontier); relaxation overflow and
    // negative weights refuse in-plan via Guards. The oracle unrolls the
    // identical rounds as CTEs relaxing from ALL nodes — equal to the
    // frontier form by the delta-relaxation argument documented on the
    // operator.
    Q(
      "q247_sssp_cheapest_route",
      (s, dir) => {
        val li = Tables.lineitem(s, dir)
        val o = Tables.orders(s, dir)
        val c = Tables.customer(s, dir)
        val su = Tables.supplier(s, dir)
        val edges = li
          .join(o, li("l_orderkey") === o("o_orderkey"))
          .join(c, o("o_custkey") === c("c_custkey"))
          .join(su, li("l_suppkey") === su("s_suppkey"))
          .filter(col("s_nationkey") =!= col("c_nationkey"))
          .groupBy(col("s_nationkey").as("src"), col("c_nationkey").as("dst"))
          .agg(min(col("l_quantity").cast("long")).as("w"))
        val d = graft.operators.Sssp.distances(edges, src = 0L, rounds = 3)
        d.join(Tables.nation(s, dir), col("node") === col("n_nationkey"))
          .select(col("n_name"), col("dist"))
          .orderBy("n_name")
      },
      Some {
        val rounds = (1 to 3).map { r =>
          s"""d$r AS (SELECT node, min(dist) AS dist FROM (
                SELECT node, dist FROM d${r - 1}
                UNION ALL
                SELECT e.dst AS node, d.dist + e.w AS dist
                FROM d${r - 1} d JOIN edges e ON e.src = d.node) GROUP BY node)"""
        }.mkString(",\n")
        s"""
        WITH edges AS (
          SELECT s.s_nationkey AS src, c.c_nationkey AS dst,
                 MIN(CAST(l.l_quantity AS BIGINT)) AS w
          FROM lineitem l
          JOIN orders o ON l.l_orderkey = o.o_orderkey
          JOIN customer c ON o.o_custkey = c.c_custkey
          JOIN supplier s ON l.l_suppkey = s.s_suppkey
          WHERE s.s_nationkey <> c.c_nationkey
          GROUP BY 1, 2),
        d0 AS (SELECT CAST(0 AS BIGINT) AS node, CAST(0 AS BIGINT) AS dist),
        $rounds
        SELECT n.n_name, d.dist
        FROM d3 d JOIN nation n ON n.n_nationkey = d.node
        ORDER BY n.n_name"""
      }),

    // B139: item-item co-visitation recommender — q136's raw pair counts
    // normalized into a RANKED neighbor list: for every part, the top-3
    // co-ordered partners by exact Jaccard over order sets,
    // jac_ppm = c_xy·10⁶ div (c_x + c_y − c_xy) (pure int64 — the ·10⁶
    // wrap bound c_xy ≤ 2⁶³/10⁶ ≈ 9.2·10¹² basket-co-occurrences is
    // enforced in-plan via Guards). Scale discipline in three layers:
    // a basket-size cap (≤ 10 distinct items) bounds the self-join
    // fanout per order at scale exactly like the df caps on the text
    // joins; a minimum-evidence bar c_xy ≥ 2 cuts the pair frame 1.196M
    // → 3,573 at sf0.1 BEFORE the Jaccard join; and the per-item top-3
    // is ONE O(items × k) graft_bottom_k aggregate (desc keys, ties to
    // the smaller partner via ascending payload), never a full window
    // sort. The oracle is the window-sort formulation.
    Q(
      "q248_covisit_topk",
      (s, dir) => {
        val k6 = Long.MaxValue / 1000000L
        val li = graft.Q.persistOnce(Tables.lineitem(s, dir)
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
          .distinct())
        val smallBaskets = li.groupBy("ok")
          .agg(count(lit(1)).as("bs")).filter(col("bs") <= 10).select("ok")
        val items = graft.Q.persistOnce(li.join(smallBaskets, "ok"))
        val df = items.groupBy("pk").agg(count(lit(1)).as("c"))
        val pairs = items.select(col("ok"), col("pk").as("p1"))
          .join(items.select(col("ok"), col("pk").as("p2")), "ok")
          .filter(col("p1") < col("p2"))
          .groupBy("p1", "p2").agg(count(lit(1)).as("cxy"))
          .filter(col("cxy") >= 2L)
        // one-pass symmetrize (the ConnectedComponents idiom): a union of
        // two selects evaluates the basket self-join + pair aggregate
        // TWICE (once per branch — the r16 plan showed the whole subtree
        // duplicated under Union); explode fans each pair out to both
        // directions scan-stage, so the expensive aggregate runs once.
        val sym = pairs.select(explode(array(
            struct(col("p1"), col("p2"), col("cxy")),
            struct(col("p2").as("p1"), col("p1").as("p2"), col("cxy")))).as("e"))
          .select(col("e.p1").as("p1"), col("e.p2").as("p2"), col("e.cxy").as("cxy"))
        val jac = sym
          .join(df.select(col("pk").as("p1"), col("c").as("c1")), "p1")
          .join(df.select(col("pk").as("p2"), col("c").as("c2")), "p2")
          // integer div, NOT a double divide (the r12 Winnowing lesson):
          // cxy·10⁶ reaches 2^53 long before the guard bound, where
          // Column./'s double division would round across the ppm floor
          .withColumn("num", col("cxy") * 1000000L)
          .withColumn("den", col("c1") + col("c2") - col("cxy"))
          .select(col("p1").as("item"), col("p2").as("rec"), col("cxy"),
            graft.operators.Guards(col("cxy") <= lit(k6),
              expr("num div den"),
              graft.operators.Guards.msg("covisit",
                lit("pair ("), col("p1").cast("string"), lit(", "),
                col("p2").cast("string"), lit(") co-occurs "),
                col("cxy").cast("string"),
                lit(" times - the x10^6 Jaccard grid wraps past 2^63/10^6; "),
                lit("coarsen the grid"))).as("jac_ppm"))
        jac.groupBy(col("item"))
          .agg(call_function("graft_bottom_k",
            col("jac_ppm"), struct(col("rec"), col("cxy")), lit(3), lit(true)).as("bk"))
          .select(col("item"), posexplode(col("bk")).as(Seq("pos", "kv")))
          .select(col("item"), (col("pos") + 1).cast("int").as("rk"),
            col("kv.v.rec").as("rec"), col("kv.k").as("jac_ppm"),
            col("kv.v.cxy").as("n_co"))
          .orderBy("item", "rk")
      },
      Some("""
        WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        bs AS (SELECT ok FROM li GROUP BY ok HAVING COUNT(*) <= 10),
        it AS (SELECT li.ok, li.pk FROM li JOIN bs USING (ok)),
        df AS (SELECT pk, CAST(COUNT(*) AS BIGINT) AS c FROM it GROUP BY 1),
        pr AS (SELECT a.pk AS p1, b.pk AS p2, CAST(COUNT(*) AS BIGINT) AS cxy
               FROM it a JOIN it b ON a.ok = b.ok AND a.pk < b.pk
               GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        sym AS (SELECT p1, p2, cxy FROM pr UNION ALL SELECT p2 AS p1, p1 AS p2, cxy FROM pr),
        j AS (SELECT s.p1 AS item, s.p2 AS rec, s.cxy,
                     s.cxy * 1000000 // (d1.c + d2.c - s.cxy) AS jac_ppm
              FROM sym s JOIN df d1 ON d1.pk = s.p1 JOIN df d2 ON d2.pk = s.p2),
        r AS (SELECT item, rec, cxy, jac_ppm,
                     CAST(ROW_NUMBER() OVER (
                       PARTITION BY item ORDER BY jac_ppm DESC, rec, cxy) AS INT) AS rk
              FROM j)
        SELECT item, rk, rec, jac_ppm, cxy AS n_co
        FROM r WHERE rk <= 3 ORDER BY item, rk"""))
  )
}
