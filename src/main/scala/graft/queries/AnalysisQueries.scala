package graft.queries

import graft.{Q, Tables}
import graft.functions.GraftFunctions._
import graft.operators.{Blocking, EdgeIntake, EvalMetrics, Triangles}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Corpus evaluation + monitoring operators (SURVEY.md B80-B88): the
  * statistics a 100 TB training-data pipeline computes ABOUT its own
  * corpus and filter models between snapshots — drift detection
  * (two-sample KS), quality-classifier evaluation (exact ROC-AUC,
  * Cohen's kappa vs the nearest-centroid classifier, decile
  * calibration), graph-shape screening (degree-oriented triangle
  * counting / clustering coefficients over the co-purchase graph),
  * clamped-seed label propagation, cross-source quantile normalization,
  * and hybrid lexical+vector retrieval fusion (RRF). The reference's workflow stops at eyeballing
  * harvested slices (`/root/reference/fetch_data.py:64-167`); these make
  * the check an operator with an exact, replayable answer.
  *
  * Everything is integer/rational arithmetic end to end (scores on the
  * x1000 floored grid, statistics as num/den BIGINT pairs, integer `div`
  * for RRF), so DuckDB replays each bit-identically.
  */
object AnalysisQueries {

  /** DuckDB fragment: embeddings unnested to (vec_id, i, v) positions,
    * then floored to the x1000 integer grid shared with q116/q126. */
  private val OQPOS =
    """e AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
      |             CAST(unnest(embedding) AS DOUBLE) AS v
      |      FROM embeddings),
      |qpos AS (SELECT vec_id, i, CAST(floor(v * 1000) AS BIGINT) AS qv FROM e)""".stripMargin

  private val OTOKS =
    """toks AS (SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') AS ts FROM documents)"""

  /** DuckDB fragment: distinct 3-shingles per doc (the q57/q117 sketch
    * base, repeated here because q182 replays the same minhash graph). */
  private val OSHINGLES =
    """sh AS (SELECT DISTINCT doc_id, sh FROM (
      |    SELECT doc_id, unnest(list_transform(range(1, greatest(len(ts) - 2, 0) + 1),
      |                          i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS sh
      |    FROM toks))""".stripMargin

  /** Embeddings on the x1000 grid: (vec_id, label, i, qv). */
  private def qpos(s: org.apache.spark.sql.SparkSession, dir: String) =
    Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"), posexplode(col("embedding")).as(Seq("i0", "v")))
      .select(col("vec_id"), col("label"), (col("i0") + 1).as("i"),
        floor(col("v").cast(DoubleType) * 1000).cast(LongType).as("qv"))

  /** Co-purchase graph: distinct (a < b) part pairs sharing an order, on
    * the 25% order slice. Shared (and persistOnce'd) by q173 triangles
    * and q179 label propagation — the derivation self-join runs once per
    * session, both consumers cache-hit the same plan. */
  private def coPurchaseEdges(s: org.apache.spark.sql.SparkSession, dir: String) = {
    val li = Tables.lineitem(s, dir)
      .filter(col("l_orderkey") % 4 === 0)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    graft.Q.persistOnce(li.as("x")
      .join(li.as("y"), col("x.ok") === col("y.ok") && col("x.pk") < col("y.pk"))
      .select(col("x.pk").as("a"), col("y.pk").as("b"))
      .distinct())
  }

  /** DuckDB fragment twin of [[coPurchaseEdges]]. */
  private val OEDGES =
    """li AS (SELECT l_orderkey AS ok, l_partkey AS pk
      |       FROM lineitem WHERE l_orderkey % 4 = 0),
      |edges AS (SELECT DISTINCT x.pk AS a, y.pk AS b
      |          FROM li x JOIN li y ON x.ok = y.ok AND x.pk < y.pk)""".stripMargin

  /** The q175/q180 linear scorer: integer dot of the x1000-grid vector
    * with the fixed (+2, -1, +1) position pattern. */
  private def scoreW = when(col("i") % 3 === 0, 2L)
    .when(col("i") % 3 === 1, -1L)
    .otherwise(1L)

  val qs: Seq[Q] = Seq(
    // B80: degree-oriented triangle counting over the co-purchase graph
    // (parts co-occurring in an order, 25% order sample for a bounded
    // demo slice). Wedges fan out only from each edge's lower-degree
    // endpoint, so wedge volume is O(m^1.5) whatever the hub skew; the
    // closing edge is a plain equi-join on the canonical pair. Output:
    // the 20 most triangle-dense parts with degree (for the clustering
    // coefficient 2*tri/(deg*(deg-1))) and the global triangle count.
    Q(
      "q173_triangle_count",
      (s, dir) => {
        val pn = Q.persistOnce(Triangles.perNode(coPurchaseEdges(s, dir)))
        val total = pn.agg(expr("sum(tri) div 3").as("total_triangles"))
        pn.crossJoin(broadcast(total))
          .orderBy(col("tri").desc, col("node"))
          .limit(20)
          .select(col("node"), col("deg"), col("tri"), col("total_triangles"))
      },
      Some(s"""
        WITH $OEDGES,
        deg AS (SELECT n, COUNT(*) AS deg
                FROM (SELECT a AS n FROM edges UNION ALL SELECT b FROM edges)
                GROUP BY 1),
        ore AS (SELECT CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND a < b)
                            THEN a ELSE b END AS src,
                       CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND a < b)
                            THEN b ELSE a END AS dst
                FROM edges JOIN deg da ON da.n = a JOIN deg db ON db.n = b),
        tris AS (SELECT e1.src AS x, e1.dst AS y, e2.dst AS z
                 FROM ore e1 JOIN ore e2 ON e1.src = e2.src AND e1.dst < e2.dst
                 JOIN edges c ON c.a = least(e1.dst, e2.dst)
                             AND c.b = greatest(e1.dst, e2.dst)),
        pn AS (SELECT n, CAST(COUNT(*) AS BIGINT) AS tri
               FROM (SELECT x AS n FROM tris UNION ALL
                     SELECT y FROM tris UNION ALL
                     SELECT z FROM tris)
               GROUP BY 1),
        tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS total_triangles FROM tris)
        SELECT d.n AS node, d.deg, CAST(COALESCE(pn.tri, 0) AS BIGINT) AS tri,
               tot.total_triangles
        FROM deg d LEFT JOIN pn ON pn.n = d.n, tot
        ORDER BY tri DESC, node
        LIMIT 20""")),

    // B81: two-sample Kolmogorov-Smirnov drift test between order-key
    // parity halves over o_totalprice — the snapshot-vs-snapshot
    // distribution-shift monitor. D is emitted as the exact rational
    // d_num/d_den = max_v |c1(v)*n2 - c2(v)*n1| / (n1*n2); cumulative
    // counts run through the range-partitioned PrefixSum, never a
    // single-partition window.
    Q(
      "q174_ks_drift",
      (s, dir) =>
        EvalMetrics.ksTest(
          Tables.orders(s, dir),
          col("o_orderkey") % 2 === 0,
          col("o_totalprice")),
      Some("""
        WITH t AS (SELECT o_orderkey % 2 = 0 AS s1, o_totalprice AS v FROM orders),
        pv AS (SELECT v,
                      CAST(SUM(CASE WHEN s1 THEN 1 ELSE 0 END) AS BIGINT) AS p,
                      CAST(SUM(CASE WHEN s1 THEN 0 ELSE 1 END) AS BIGINT) AS q
               FROM t GROUP BY v),
        c AS (SELECT v, p, q,
                     CAST(SUM(p) OVER (ORDER BY v) AS BIGINT) AS c1,
                     CAST(SUM(q) OVER (ORDER BY v) AS BIGINT) AS c2
              FROM pv),
        n AS (SELECT CAST(SUM(p) AS BIGINT) AS n1, CAST(SUM(q) AS BIGINT) AS n2 FROM pv)
        SELECT n1, n2, CAST(abs(c1 * n2 - c2 * n1) AS BIGINT) AS d_num,
               CAST(n1 * n2 AS BIGINT) AS d_den, v AS ks_at
        FROM c, n
        ORDER BY d_num DESC, ks_at
        LIMIT 1""")),

    // B82: exact ROC-AUC (Mann-Whitney with tie correction) of a linear
    // scorer over the x1000-floored embeddings against the binary task
    // label >= 5 — the filter-model evaluation primitive. auc_num = 2U so
    // tie half-credits stay integral; one partial-agg'd shuffle to
    // per-score counts, then PrefixSum for negatives-below.
    Q(
      "q175_roc_auc",
      (s, dir) => {
        val scored = qpos(s, dir)
          .groupBy("vec_id", "label")
          .agg(sum(col("qv") * scoreW).as("s"))
        EvalMetrics.rocAuc(scored, col("label") >= 5, col("s"))
      },
      Some(s"""
        WITH $OQPOS,
        sc AS (SELECT vec_id,
                      SUM(qv * CASE WHEN i % 3 = 0 THEN 2
                                    WHEN i % 3 = 1 THEN -1
                                    ELSE 1 END) AS s
               FROM qpos GROUP BY 1),
        lab AS (SELECT sc.vec_id, s, emb.label >= 5 AS y
                FROM sc JOIN embeddings emb ON emb.vec_id = sc.vec_id),
        ps AS (SELECT s,
                      CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS p,
                      CAST(SUM(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS q
               FROM lab GROUP BY s),
        c AS (SELECT s, p, q, CAST(SUM(q) OVER (ORDER BY s) AS BIGINT) AS cq FROM ps)
        SELECT CAST(SUM(p) AS BIGINT) AS n_pos,
               CAST(SUM(q) AS BIGINT) AS n_neg,
               CAST(SUM(p * (2 * (cq - q) + q)) AS BIGINT) AS auc_num,
               CAST(2 * SUM(p) * SUM(q) AS BIGINT) AS auc_den
        FROM c""")),

    // B83: reciprocal-rank fusion (Cormack et al. 2009) of a lexical
    // ranker (query-term frequency) and a vector ranker (x1000-grid dot
    // product against the vec_id-0 probe) — hybrid retrieval, the
    // standard RAG recall combiner. Ranks come from the distributed
    // globalRank (range-repartition + zipWithIndex), contributions are
    // integer `div` so both engines fuse bit-identically; docs seen by
    // only one ranker enter through the full-outer join with a 0
    // contribution from the other side.
    Q(
      "q176_rrf_fusion",
      (s, dir) => {
        val tf = Tables.documents(s, dir)
          .select(col("doc_id"), explode(tokens(col("text"))).as("t"))
          .filter(col("t").isin("spark", "join"))
          .groupBy("doc_id").agg(count(lit(1)).as("tf"))
        val lex = Blocking.globalRank(tf, Seq(col("tf").desc, col("doc_id")))
          .select(col("doc_id"), col("rn").as("r1"))
        val pos = qpos(s, dir)
        val probe = pos.filter(col("vec_id") === 0).select(col("i"), col("qv").as("pv"))
        val scores = pos.filter(col("vec_id") =!= 0)
          .join(broadcast(probe), "i")
          .groupBy("vec_id").agg(sum(col("qv") * col("pv")).as("s"))
        val vec = Blocking.globalRank(scores, Seq(col("s").desc, col("vec_id")))
          .select(col("vec_id"), col("rn").as("r2"))
        lex.join(vec, col("doc_id") === col("vec_id"), "full_outer")
          .select(
            coalesce(col("doc_id"), col("vec_id")).as("id"),
            col("r1"), col("r2"),
            (coalesce(expr("1000000 div (60 + r1)"), lit(0L)) +
              coalesce(expr("1000000 div (60 + r2)"), lit(0L))).as("score"))
          .orderBy(col("score").desc, col("id"))
          .limit(15)
      },
      Some(s"""
        WITH $OTOKS,
        tf AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS tf
               FROM (SELECT doc_id, unnest(ts) AS t FROM toks)
               WHERE t IN ('spark', 'join')
               GROUP BY 1),
        lex AS (SELECT doc_id,
                       CAST(ROW_NUMBER() OVER (ORDER BY tf DESC, doc_id) AS BIGINT) AS r1
                FROM tf),
        $OQPOS,
        probe AS (SELECT i, qv AS pv FROM qpos WHERE vec_id = 0),
        sc AS (SELECT q.vec_id, CAST(SUM(q.qv * probe.pv) AS BIGINT) AS s
               FROM qpos q JOIN probe USING (i)
               WHERE q.vec_id <> 0
               GROUP BY 1),
        vec AS (SELECT vec_id,
                       CAST(ROW_NUMBER() OVER (ORDER BY s DESC, vec_id) AS BIGINT) AS r2
                FROM sc)
        SELECT COALESCE(l.doc_id, v.vec_id) AS id, r1, r2,
               CAST(COALESCE(1000000 // (60 + r1), 0) +
                    COALESCE(1000000 // (60 + r2), 0) AS BIGINT) AS score
        FROM lex l FULL OUTER JOIN vec v ON l.doc_id = v.vec_id
        ORDER BY score DESC, id
        LIMIT 15""")),

    // B84: Cohen's kappa of the nearest-centroid classifier (q126's
    // exact x1000-grid pipeline) against the true labels — agreement
    // corrected for chance, the rater-consistency metric for
    // classifier-vs-annotator audits. Emitted as the exact rational
    // (N*agree - sum_k row_k*col_k) / (N^2 - sum_k row_k*col_k).
    Q(
      "q177_cohen_kappa",
      (s, dir) => {
        val pos = qpos(s, dir)
        val cent = pos.groupBy(col("label").as("clabel"), col("i"))
          .agg(floor(sum(col("qv")).cast(DoubleType) / count(lit(1))).cast(LongType).as("cv"))
        val dists = pos.join(broadcast(cent), Seq("i"))
          .groupBy(col("vec_id"), col("label"), col("clabel"))
          .agg(sum((col("qv") - col("cv")) * (col("qv") - col("cv"))).as("d2"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("vec_id").orderBy(col("d2"), col("clabel"))
        val confusion = dists.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .groupBy(col("label"), col("clabel").as("pred"))
          .agg(count(lit(1)).as("cnt"))
        EvalMetrics.cohenKappa(confusion, "label", "pred", "cnt")
      },
      Some(s"""
        WITH $OQPOS,
        q AS (SELECT qpos.vec_id, emb.label, i, qv
              FROM qpos JOIN embeddings emb ON emb.vec_id = qpos.vec_id),
        cent AS (SELECT label AS clabel, i,
                        CAST(floor(CAST(SUM(qv) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cv
                 FROM q GROUP BY 1, 2),
        d AS (SELECT q.vec_id, q.label, cent.clabel,
                     SUM((qv - cv) * (qv - cv)) AS d2
              FROM q JOIN cent USING (i) GROUP BY 1, 2, 3),
        r AS (SELECT vec_id, label, clabel,
                     ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, clabel) AS rn
              FROM d),
        conf AS (SELECT label AS a, clabel AS b, CAST(COUNT(*) AS BIGINT) AS cnt
                 FROM r WHERE rn = 1 GROUP BY 1, 2),
        tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n,
                       CAST(SUM(CASE WHEN a = b THEN cnt ELSE 0 END) AS BIGINT) AS agree
                FROM conf),
        rm AS (SELECT a AS k, SUM(cnt) AS ra FROM conf GROUP BY 1),
        cm AS (SELECT b AS k, SUM(cnt) AS cb FROM conf GROUP BY 1),
        pe AS (SELECT CAST(COALESCE(SUM(ra * cb), 0) AS BIGINT) AS pe_num
               FROM rm JOIN cm USING (k))
        SELECT n, agree,
               CAST(n * agree - pe_num AS BIGINT) AS kappa_num,
               CAST(n * n - pe_num AS BIGINT) AS kappa_den
        FROM tot, pe""")),

    // B85: quantile normalization across sources (the microarray-era
    // standard, here the cross-domain length/quality calibrator): each
    // doc's n_chars maps to the GLOBAL value at the same quantile
    // position, k = ceil(r*N/ns) in pure integer arithmetic (exact
    // while r*N < 2^63 — the EvalMetrics product bound; beyond, rescale
    // ranks to a coarser grid first). Per-source ranks are a grouped
    // window (partition-parallel); the global rank is
    // Blocking.globalRank (distributed, never one partition); the pick
    // is a plain equi-join on k.
    Q(
      "q178_quantile_norm",
      (s, dir) => {
        val docs = Tables.documents(s, dir).select("doc_id", "source", "n_chars")
        val wr = org.apache.spark.sql.expressions.Window
          .partitionBy("source").orderBy(col("n_chars"), col("doc_id"))
        val ws = org.apache.spark.sql.expressions.Window.partitionBy("source")
        val ranked = docs
          .withColumn("r", row_number().over(wr).cast(LongType))
          .withColumn("ns", count(lit(1)).over(ws))
        val g = Blocking.globalRank(
            docs.select(col("n_chars").as("gv"), col("doc_id").as("gid")),
            Seq(col("gv"), col("gid")))
          .select(col("gv"), col("rn").as("k"))
        // the k = ceil(r*N/ns) product is exact while r*N < 2^63 (r <= N,
        // so N <= floor(sqrt(2^63-1)) suffices) — enforced in-plan on the
        // single totals row, same refuse-loudly contract as EvalMetrics;
        // beyond it, rescale ranks to a coarser grid first
        val tot = docs.agg(count(lit(1)).as("nn"))
          .select(
            graft.operators.Guards(col("nn") <= lit(3037000499L), col("nn"),
              concat(
                lit("[quantile-norm] rank*N would exceed 2^63 at N="), col("nn"),
                lit("; rescale ranks to a coarser grid first")))
              .as("nn"))
        ranked.crossJoin(broadcast(tot))
          .withColumn("k", expr("(r * nn + ns - 1) div ns"))
          .join(g, "k")
          .select(col("doc_id"), col("source"), col("n_chars"), col("gv").as("norm_chars"))
          .orderBy("doc_id")
      },
      Some("""
        WITH r AS (SELECT doc_id, source, n_chars,
                          CAST(ROW_NUMBER() OVER (
                            PARTITION BY source ORDER BY n_chars, doc_id) AS BIGINT) AS r,
                          CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS ns
                   FROM documents),
        g AS (SELECT n_chars AS gv,
                     CAST(ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS BIGINT) AS k
              FROM documents),
        n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM documents)
        SELECT r.doc_id, r.source, r.n_chars, g.gv AS norm_chars
        FROM r, n
        JOIN g ON g.k = (r.r * n.nn + r.ns - 1) // r.ns
        ORDER BY doc_id""")),

    // B86: clamped-seed label propagation over the co-purchase graph —
    // every 10th part carries a trusted tag (pk % 3), three synchronous
    // majority-vote rounds spread it to the rest. The oracle unrolls the
    // identical rounds as CTEs (votes → deterministic min-label pick →
    // coalesce with clamped seeds), so the distributed loop must agree
    // exactly, including which nodes remain unlabeled (-1).
    Q(
      "q179_label_prop",
      (s, dir) => {
        val edges = coPurchaseEdges(s, dir)
        // caller-level persistOnce (the q274/q182 posture): the node set
        // is a union+distinct shuffle over the co-purchase frame, reused
        // by the seeds lineage and by every repeat evaluation; since r16
        // the operator releases the caches IT creates on exit, so shared
        // expensive inputs are the caller's to pin
        val nodes = graft.Q.persistOnce(edges.select(col("a").as("node"))
          .unionAll(edges.select(col("b").as("node"))).distinct())
        val seeds = nodes.filter(col("node") % 10 === 0)
          .select(col("node"), (col("node") % 3).as("lbl"))
        graft.operators.LabelProp.propagate(nodes, edges, seeds, iters = 3)
          .groupBy(coalesce(col("lbl"), lit(-1L)).as("lbl"))
          .agg(count(lit(1)).as("cnt"))
          .orderBy("lbl")
      },
      Some {
        def round(i: Int) = s"""
        v$i AS (SELECT e.dst AS node, l.lbl, COUNT(*) AS c
                FROM sym e JOIN lab${i - 1} l ON l.node = e.src
                WHERE l.lbl IS NOT NULL GROUP BY 1, 2),
        p$i AS (SELECT node, lbl FROM (
                  SELECT node, lbl,
                         ROW_NUMBER() OVER (PARTITION BY node ORDER BY c DESC, lbl) AS rn
                  FROM v$i) WHERE rn = 1),
        lab$i AS (SELECT n.node, COALESCE(s.lbl, p.lbl, l.lbl) AS lbl
                  FROM nodes n
                  LEFT JOIN seeds s ON s.node = n.node
                  LEFT JOIN p$i p ON p.node = n.node
                  LEFT JOIN lab${i - 1} l ON l.node = n.node)"""
        s"""
        WITH $OEDGES,
        nodes AS (SELECT DISTINCT n AS node
                  FROM (SELECT a AS n FROM edges UNION ALL SELECT b FROM edges)),
        sym AS (SELECT a AS src, b AS dst FROM edges
                UNION ALL SELECT b, a FROM edges),
        seeds AS (SELECT node, node % 3 AS lbl FROM nodes WHERE node % 10 = 0),
        lab0 AS (SELECT n.node, s.lbl FROM nodes n
                 LEFT JOIN seeds s ON s.node = n.node),
        ${round(1)},
        ${round(2)},
        ${round(3)}
        SELECT CAST(COALESCE(lbl, -1) AS BIGINT) AS lbl,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM lab3 GROUP BY 1 ORDER BY 1"""
      }),

    // B87: decile calibration (reliability) table for the q175 scorer —
    // equal-frequency score buckets from the distributed global rank
    // (bucket = (rn-1)*10 div N, never NTILE whose remainder placement
    // is engine-defined lore), per-bucket positives and score range. The
    // companion diagnostic to B82's single-number AUC.
    Q(
      "q180_calibration",
      (s, dir) => {
        val scored = qpos(s, dir)
          .groupBy("vec_id", "label")
          .agg(sum(col("qv") * scoreW).as("s"))
        val ranked = Blocking.globalRank(scored, Seq(col("s"), col("vec_id")))
        val tot = scored.agg(count(lit(1)).as("nn"))
        ranked.crossJoin(broadcast(tot))
          .withColumn("bucket", expr("((rn - 1) * 10) div nn"))
          .groupBy("bucket")
          .agg(
            count(lit(1)).as("n"),
            sum(when(col("label") >= 5, 1L).otherwise(0L)).as("n_pos"),
            min("s").as("min_s"), max("s").as("max_s"))
          .orderBy("bucket")
      },
      Some(s"""
        WITH $OQPOS,
        sc AS (SELECT vec_id,
                      CAST(SUM(qv * CASE WHEN i % 3 = 0 THEN 2
                                         WHEN i % 3 = 1 THEN -1
                                         ELSE 1 END) AS BIGINT) AS s
               FROM qpos GROUP BY 1),
        lab AS (SELECT sc.vec_id, s, emb.label >= 5 AS y
                FROM sc JOIN embeddings emb ON emb.vec_id = sc.vec_id),
        r AS (SELECT s, y,
                     CAST(ROW_NUMBER() OVER (ORDER BY s, vec_id) AS BIGINT) AS rn
              FROM lab),
        n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM lab)
        SELECT CAST(((rn - 1) * 10) // nn AS BIGINT) AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
               CAST(MIN(s) AS BIGINT) AS min_s,
               CAST(MAX(s) AS BIGINT) AS max_s
        FROM r, n
        GROUP BY 1 ORDER BY 1""")),

    // B81 binned tier: the documented escape hatch past the exact KS
    // bound (n1*n2 < 2^63, now ENFORCED in-plan by EvalMetrics) — one
    // sketch pass for 64 equal-frequency bin boundaries, then the SAME
    // exact integer statistic over bin ids. The oracle anchors the exact
    // statistic (hash-compared) and the tolerance contract rides as
    // booleans (the q149 pattern): D_binned <= D_exact always (binned
    // CDFs agree with exact CDFs at every boundary), and the gap is
    // bounded by the largest single-bin mass of either sample, cleared
    // to the shared n1*n2 denominator so the check stays integer.
    Q(
      "q183_ks_binned",
      (s, dir) => {
        val base = Tables.orders(s, dir)
          .select((col("o_custkey") % 3 === 0).as("s1"), col("o_totalprice").as("v"))
        val exact = EvalMetrics.ksTest(base, col("s1"), col("v"))
        // one shared bin assignment: the binned statistic and its mass
        // bound must see the SAME boundaries (the sketch is not replayed)
        val binned = Q.persistOnce(EvalMetrics.quantileBin(base, col("v"), 64))
        val bks = EvalMetrics.ksTest(binned, col("s1"), col("bin"))
          .select(col("d_num").as("b_num"))
        val mm = binned.groupBy("bin")
          .agg(
            sum(when(col("s1"), 1L).otherwise(0L)).as("m1"),
            sum(when(col("s1"), 0L).otherwise(1L)).as("m2"))
          .agg(max("m1").as("max_m1"), max("m2").as("max_m2"))
        exact.crossJoin(broadcast(bks)).crossJoin(broadcast(mm))
          .select(
            col("n1"), col("n2"), col("d_num"), col("d_den"), col("ks_at"),
            (col("b_num") <= col("d_num")).as("binned_le_exact"),
            (col("d_num") - col("b_num") <=
              greatest(col("max_m1") * col("n2"), col("max_m2") * col("n1")))
              .as("gap_within_bin_mass"))
      },
      Some("""
        WITH t AS (SELECT o_custkey % 3 = 0 AS s1, o_totalprice AS v FROM orders),
        pv AS (SELECT v,
                      CAST(SUM(CASE WHEN s1 THEN 1 ELSE 0 END) AS BIGINT) AS p,
                      CAST(SUM(CASE WHEN s1 THEN 0 ELSE 1 END) AS BIGINT) AS q
               FROM t GROUP BY v),
        c AS (SELECT v, p, q,
                     CAST(SUM(p) OVER (ORDER BY v) AS BIGINT) AS c1,
                     CAST(SUM(q) OVER (ORDER BY v) AS BIGINT) AS c2
              FROM pv),
        n AS (SELECT CAST(SUM(p) AS BIGINT) AS n1, CAST(SUM(q) AS BIGINT) AS n2 FROM pv)
        SELECT n1, n2, CAST(abs(c1 * n2 - c2 * n1) AS BIGINT) AS d_num,
               CAST(n1 * n2 AS BIGINT) AS d_den, v AS ks_at,
               TRUE AS binned_le_exact, TRUE AS gap_within_bin_mass
        FROM c, n
        ORDER BY d_num DESC, ks_at
        LIMIT 1""")),

    // B82 binned tier: Mann-Whitney over 64 equal-frequency score bins —
    // the beyond-2^63 escape hatch for ROC-AUC. Pairs split across bins
    // keep their exact contribution; within-bin pairs become half-credit
    // ties, so |2U_exact - 2U_binned| <= sum over bins of pos_k*neg_k
    // (shared 2*n_pos*n_neg denominator). Exact statistic hash-anchored,
    // tolerance as a boolean.
    Q(
      "q184_auc_binned",
      (s, dir) => {
        // persistOnce: scored feeds the exact AUC, the quantile-sketch
        // bounds pass AND the bin assignment — uncached, the embedding
        // explode+aggregate would run three times
        val scored = Q.persistOnce(qpos(s, dir)
          .groupBy("vec_id", "label")
          .agg(sum(col("qv") * scoreW).as("s")))
        val exact = EvalMetrics.rocAuc(scored, col("label") >= 5, col("s"))
        val binned = Q.persistOnce(EvalMetrics.quantileBin(
          scored.select((col("label") >= 5).as("y"), col("s")), col("s"), 64))
        val bauc = EvalMetrics.rocAuc(binned, col("y"), col("bin"))
          .select(col("auc_num").as("b_num"))
        // pq's columns on the cached frame's own groupBy: a twoSample
        // projection would rename y over the cache scan
        val (p, q) = EvalMetrics.pq(col("y"))
        val tie = binned.groupBy("bin").agg(p, q)
          .agg(sum(col("p") * col("q")).as("tie_mass"))
        exact.crossJoin(broadcast(bauc)).crossJoin(broadcast(tie))
          .select(
            col("n_pos"), col("n_neg"), col("auc_num"), col("auc_den"),
            (abs(col("auc_num") - col("b_num")) <= col("tie_mass"))
              .as("binned_within_tie_mass"))
      },
      Some(s"""
        WITH $OQPOS,
        sc AS (SELECT vec_id,
                      SUM(qv * CASE WHEN i % 3 = 0 THEN 2
                                    WHEN i % 3 = 1 THEN -1
                                    ELSE 1 END) AS s
               FROM qpos GROUP BY 1),
        lab AS (SELECT sc.vec_id, s, emb.label >= 5 AS y
                FROM sc JOIN embeddings emb ON emb.vec_id = sc.vec_id),
        ps AS (SELECT s,
                      CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS p,
                      CAST(SUM(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS q
               FROM lab GROUP BY s),
        c AS (SELECT s, p, q, CAST(SUM(q) OVER (ORDER BY s) AS BIGINT) AS cq FROM ps)
        SELECT CAST(SUM(p) AS BIGINT) AS n_pos,
               CAST(SUM(q) AS BIGINT) AS n_neg,
               CAST(SUM(p * (2 * (cq - q) + q)) AS BIGINT) AS auc_num,
               CAST(2 * SUM(p) * SUM(q) AS BIGINT) AS auc_den,
               TRUE AS binned_within_tie_mass
        FROM c""")),

    // B81 sliced: WHICH source drifted — the exact each-vs-rest KS per
    // source over fixed-width length bins (the dense group×value grid
    // the sup needs is bounded by binning first; per-group cumulative
    // counts are a GROUPED window, partition-parallel, while the global
    // cumulative still goes through PrefixSum). Most-drifted source
    // first; the rational d_num/d_den is exact so both engines rank
    // identically (equal rationals render equal doubles).
    Q(
      "q186_source_drift",
      (s, dir) =>
        EvalMetrics.ksTestPerGroup(
            Tables.documents(s, dir).select(col("source"), expr("n_chars div 100").as("bin")),
            col("source"), col("bin"))
          .orderBy((col("d_num").cast(DoubleType) / col("d_den")).desc, col("g")),
      Some("""
        WITH t AS (SELECT source AS g, n_chars // 100 AS bin FROM documents),
        pgv AS (SELECT g, bin, CAST(COUNT(*) AS BIGINT) AS c FROM t GROUP BY 1, 2),
        pv AS (SELECT bin, CAST(SUM(c) AS BIGINT) AS cv FROM pgv GROUP BY 1),
        cumv AS (SELECT bin, CAST(SUM(cv) OVER (ORDER BY bin) AS BIGINT) AS ccv FROM pv),
        pg AS (SELECT g, CAST(SUM(c) AS BIGINT) AS n FROM pgv GROUP BY 1),
        tot AS (SELECT CAST(SUM(cv) AS BIGINT) AS nn FROM pv),
        grid AS (SELECT pg.g, pg.n, cumv.bin, cumv.ccv, COALESCE(pgv.c, 0) AS c
                 FROM pg CROSS JOIN cumv
                 LEFT JOIN pgv ON pgv.g = pg.g AND pgv.bin = cumv.bin),
        cum AS (SELECT g, n, bin, ccv,
                       CAST(SUM(c) OVER (PARTITION BY g ORDER BY bin) AS BIGINT) AS cg
                FROM grid)
        SELECT g, n, CAST(nn - n AS BIGINT) AS n_rest,
               CAST(MAX(abs(cg * (nn - n) - (ccv - cg) * n)) AS BIGINT) AS d_num,
               CAST(n * (nn - n) AS BIGINT) AS d_den
        FROM cum, tot
        GROUP BY g, n, nn
        ORDER BY CAST(d_num AS DOUBLE) / d_den DESC, g""")),

    // B82 sliced: per-source ROC-AUC of the q175 scorer — the fairness
    // slice a quality-filter model is audited on before a corpus-wide
    // rollout (a model can hold AUC 0.8 overall while scoring one
    // source's documents at chance). Embeddings join documents on the
    // shared id space for the slice key; within each slice the same
    // exact 2U statistic, cumulative negatives as a grouped
    // (partition-parallel) window.
    Q(
      "q187_source_auc",
      (s, dir) => {
        val scored = qpos(s, dir)
          .groupBy("vec_id", "label")
          .agg(sum(col("qv") * scoreW).as("s"))
        val src = Tables.documents(s, dir)
          .select(col("doc_id").as("vec_id"), col("source"))
        EvalMetrics.rocAucPerGroup(
            scored.join(src, "vec_id"), col("source"), col("label") >= 5, col("s"))
          .orderBy("g")
      },
      Some(s"""
        WITH $OQPOS,
        sc AS (SELECT vec_id,
                      SUM(qv * CASE WHEN i % 3 = 0 THEN 2
                                    WHEN i % 3 = 1 THEN -1
                                    ELSE 1 END) AS s
               FROM qpos GROUP BY 1),
        lab AS (SELECT sc.vec_id, s, emb.label >= 5 AS y
                FROM sc JOIN embeddings emb ON emb.vec_id = sc.vec_id),
        j AS (SELECT d.source AS g, lab.s, lab.y
              FROM lab JOIN documents d ON d.doc_id = lab.vec_id),
        ps AS (SELECT g, s,
                      CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS p,
                      CAST(SUM(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS q
               FROM j GROUP BY g, s),
        c AS (SELECT g, s, p, q,
                     CAST(SUM(q) OVER (PARTITION BY g ORDER BY s) AS BIGINT) AS cq
              FROM ps)
        SELECT g, CAST(SUM(p) AS BIGINT) AS n_pos,
               CAST(SUM(q) AS BIGINT) AS n_neg,
               CAST(SUM(p * (2 * (cq - q) + q)) AS BIGINT) AS auc_num,
               CAST(2 * SUM(p) * SUM(q) AS BIGINT) AS auc_den
        FROM c
        GROUP BY g
        ORDER BY g""")),

    // B84 generalized: Krippendorff's alpha — multi-rater agreement
    // WITH missing ratings, the statistic a labeling pipeline audits
    // when every document is rated by a different subset of annotators
    // (kappa requires the complete two-rater grid). Synthetic panel:
    // four deterministic raters, each rating ~70% of docs (hash-gated),
    // each flipping ~20% of labels up by one (hash noise) — both gates
    // replayed byte-identically in the oracle. The 1/(m_u-1) pair
    // weights are cleared by the static D = lcm(1..3) = 6 so the whole
    // statistic is one exact integer rational.
    Q(
      "q188_krippendorff_alpha",
      (s, dir) => {
        val raters = s.range(4).select(col("id").cast(IntegerType).as("rt"))
        // the portable 60-bit hash contract lives in ONE place
        // (GraftFunctions.hash60); only the key layout is local
        val key = (p: String) => graft.functions.GraftFunctions.hash60(
          concat(lit(p), col("rt").cast(StringType), lit(":"),
            col("vec_id").cast(StringType)))
        val ratings = Tables.embeddings(s, dir)
          .select(col("vec_id"), col("label").cast(LongType).as("lab"))
          .crossJoin(broadcast(raters))
          .filter(pmod(key("rater"), lit(10L)) < 7)
          .withColumn("c",
            col("lab") + when(pmod(key("noise"), lit(5L)) === 0, 1L).otherwise(0L))
        EvalMetrics.krippendorffAlpha(
          ratings, col("vec_id"), col("rt"), col("c"), maxRaters = 4)
      },
      Some("""
        WITH raters AS (SELECT unnest([0, 1, 2, 3]) AS rt),
        r AS (SELECT e.vec_id AS u, raters.rt,
                     CAST(e.label AS BIGINT) +
                       CASE WHEN ('0x' || substr(md5('noise' || CAST(raters.rt AS VARCHAR) || ':' || CAST(e.vec_id AS VARCHAR)), 1, 15))::BIGINT % 5 = 0
                            THEN 1 ELSE 0 END AS c
              FROM embeddings e CROSS JOIN raters
              WHERE ('0x' || substr(md5('rater' || CAST(raters.rt AS VARCHAR) || ':' || CAST(e.vec_id AS VARCHAR)), 1, 15))::BIGINT % 10 < 7),
        mu AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS m FROM r GROUP BY u HAVING COUNT(*) >= 2),
        rw AS (SELECT r.u, r.rt, r.c, 6 // (mu.m - 1) AS w, mu.m FROM r JOIN mu USING (u)),
        pairs AS (SELECT x.c AS ca, y.c AS cb, x.w
                  FROM rw x JOIN rw y ON x.u = y.u AND x.rt <> y.rt),
        o AS (SELECT ca, cb, CAST(SUM(w) AS BIGINT) AS o FROM pairs GROUP BY 1, 2),
        dsum AS (SELECT CAST(COALESCE(SUM(o), 0) AS BIGINT) AS do_num FROM o WHERE ca <> cb),
        nc AS (SELECT ca, CAST(SUM(o) AS BIGINT) AS nc FROM o GROUP BY 1),
        tot AS (SELECT CAST(SUM(nc) AS BIGINT) AS nn, CAST(SUM(nc * nc) AS BIGINT) AS nc2 FROM nc),
        units AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_units, CAST(SUM(m) AS BIGINT) AS n_pairable FROM mu)
        SELECT n_units, n_pairable, do_num,
               CAST(nn * nn - nc2 - do_num * (nn - 6) AS BIGINT) AS alpha_num,
               CAST(nn * nn - nc2 AS BIGINT) AS alpha_den
        FROM units, tot, dsum""")),

    // The corpus-health COMPOSITION (examples/MonitorDemo): its five
    // statistics are each oracle-checked on their own (q173-q175, q177,
    // q179), but the one-row report a user actually consumes was only
    // spec-pinned until now. This entry runs MonitorDemo.report verbatim
    // and replays the ENTIRE composition in DuckDB — minhash-LSH
    // candidate graph (q57's sketch fragments at 32 hashes / 8x4 bands),
    // triangle boilerplate screen (q173's wedge CTEs), 2-round label
    // propagation (q179's unrolled rounds), KS drift, AUC, and kappa —
    // so every ppm figure is hash-compared end to end.
    Q(
      "q182_monitor_report",
      (s, dir) => graft.examples.MonitorDemo.report(
        Tables.documents(s, dir), Tables.embeddings(s, dir)),
      Some {
        val baseHash = "(('0x' || substr(md5(sh), 1, 15))::BIGINT % 2147483647)"
        val mins = graft.operators.Dedup.minhashParams(32).zipWithIndex.map { case ((a, b), i) =>
          s"min(($baseHash * $a + $b) % 2147483647) AS mh_$i"
        }.mkString(", ")
        val bandArms = (0 until 8).map { b =>
          val key = (0 until 4).map(j => s"CAST(mh_${b * 4 + j} AS VARCHAR)").mkString(" || '_' || ")
          s"SELECT doc_id, $b AS band, $key AS key FROM sig"
        }.mkString(" UNION ALL ")
        def lpRound(i: Int) = s"""
        v$i AS (SELECT e.dst AS node, l.lbl, COUNT(*) AS c
                FROM sym e JOIN lab${i - 1} l ON l.node = e.src
                WHERE l.lbl IS NOT NULL GROUP BY 1, 2),
        p$i AS (SELECT node, lbl FROM (
                  SELECT node, lbl,
                         ROW_NUMBER() OVER (PARTITION BY node ORDER BY c DESC, lbl) AS rn
                  FROM v$i) WHERE rn = 1),
        lab$i AS (SELECT n.node, COALESCE(s.lbl, p.lbl, l.lbl) AS lbl
                  FROM lpnodes n
                  LEFT JOIN seeds s ON s.node = n.node
                  LEFT JOIN p$i p ON p.node = n.node
                  LEFT JOIN lab${i - 1} l ON l.node = n.node)"""
        s"""
        WITH $OTOKS,
        $OSHINGLES,
        sig AS (SELECT doc_id, $mins FROM sh GROUP BY doc_id),
        bands AS ($bandArms),
        pairs AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
                  FROM bands x JOIN bands y
                    ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id),
        -- 1. KS drift between hash-split snapshot halves over n_chars
        kt AS (SELECT n_chars AS v,
                      ('0x' || substr(md5('monitor-v1:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 2 = 0 AS s1
               FROM documents),
        kpv AS (SELECT v,
                       CAST(SUM(CASE WHEN s1 THEN 1 ELSE 0 END) AS BIGINT) AS p,
                       CAST(SUM(CASE WHEN s1 THEN 0 ELSE 1 END) AS BIGINT) AS q
                FROM kt GROUP BY v),
        kc AS (SELECT CAST(SUM(p) OVER (ORDER BY v) AS BIGINT) AS c1,
                      CAST(SUM(q) OVER (ORDER BY v) AS BIGINT) AS c2
               FROM kpv),
        kn AS (SELECT CAST(SUM(p) AS BIGINT) AS n1, CAST(SUM(q) AS BIGINT) AS n2 FROM kpv),
        ks AS (SELECT CAST((MAX(abs(c1 * n2 - c2 * n1)) * 1000000) // (n1 * n2) AS BIGINT) AS ks_ppm
               FROM kc, kn GROUP BY n1, n2),
        -- 2. exact ROC-AUC of the x1000-grid linear scorer
        $OQPOS,
        asc_ AS (SELECT vec_id,
                        SUM(qv * CASE WHEN i % 3 = 0 THEN 2
                                      WHEN i % 3 = 1 THEN -1
                                      ELSE 1 END) AS s
                 FROM qpos GROUP BY 1),
        alab AS (SELECT a.vec_id, s, emb.label >= 5 AS y
                 FROM asc_ a JOIN embeddings emb ON emb.vec_id = a.vec_id),
        aps AS (SELECT s,
                       CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS p,
                       CAST(SUM(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS q
                FROM alab GROUP BY s),
        ac AS (SELECT s, p, q, CAST(SUM(q) OVER (ORDER BY s) AS BIGINT) AS cq FROM aps),
        auc AS (SELECT CAST((CAST(SUM(p * (2 * (cq - q) + q)) AS BIGINT) * 1000000)
                       // (2 * CAST(SUM(p) AS BIGINT) * CAST(SUM(q) AS BIGINT)) AS BIGINT) AS auc_ppm
                FROM ac),
        -- 3. Cohen's kappa of the nearest-centroid classifier
        kq AS (SELECT qpos.vec_id, emb.label, i, qv
               FROM qpos JOIN embeddings emb ON emb.vec_id = qpos.vec_id),
        cent AS (SELECT label AS clabel, i,
                        CAST(floor(CAST(SUM(qv) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cv
                 FROM kq GROUP BY 1, 2),
        kd AS (SELECT kq.vec_id, kq.label, cent.clabel,
                      SUM((qv - cv) * (qv - cv)) AS d2
               FROM kq JOIN cent USING (i) GROUP BY 1, 2, 3),
        kr AS (SELECT vec_id, label, clabel,
                      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, clabel) AS rn
               FROM kd),
        conf AS (SELECT label AS a, clabel AS b, CAST(COUNT(*) AS BIGINT) AS cnt
                 FROM kr WHERE rn = 1 GROUP BY 1, 2),
        ktot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n,
                        CAST(SUM(CASE WHEN a = b THEN cnt ELSE 0 END) AS BIGINT) AS agree
                 FROM conf),
        krm AS (SELECT a AS k, SUM(cnt) AS ra FROM conf GROUP BY 1),
        kcm AS (SELECT b AS k, SUM(cnt) AS cb FROM conf GROUP BY 1),
        kpe AS (SELECT CAST(COALESCE(SUM(ra * cb), 0) AS BIGINT) AS pe_num
                FROM krm JOIN kcm USING (k)),
        kap AS (SELECT CAST((CAST(n * agree - pe_num AS BIGINT) * 1000000)
                       // nullif(CAST(n * n - pe_num AS BIGINT), 0) AS BIGINT) AS kappa_ppm
                FROM ktot, kpe),
        -- 4. boilerplate: clustering coefficient >= 1/2 over the LSH graph
        deg AS (SELECT n, COUNT(*) AS deg
                FROM (SELECT a AS n FROM pairs UNION ALL SELECT b FROM pairs)
                GROUP BY 1),
        ore AS (SELECT CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND a < b)
                            THEN a ELSE b END AS src,
                       CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND a < b)
                            THEN b ELSE a END AS dst
                FROM pairs JOIN deg da ON da.n = a JOIN deg db ON db.n = b),
        tris AS (SELECT e1.src AS x, e1.dst AS y, e2.dst AS z
                 FROM ore e1 JOIN ore e2 ON e1.src = e2.src AND e1.dst < e2.dst
                 JOIN pairs c ON c.a = least(e1.dst, e2.dst)
                             AND c.b = greatest(e1.dst, e2.dst)),
        pn AS (SELECT n, CAST(COUNT(*) AS BIGINT) AS tri
               FROM (SELECT x AS n FROM tris UNION ALL
                     SELECT y FROM tris UNION ALL
                     SELECT z FROM tris)
               GROUP BY 1),
        boiler AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_boilerplate
                   FROM deg d LEFT JOIN pn ON pn.n = d.n
                   WHERE d.deg >= 2
                     AND 4 * COALESCE(pn.tri, 0) >= d.deg * (d.deg - 1)),
        -- 5. review reach: 2-round clamped label propagation
        lpnodes AS (SELECT DISTINCT n AS node
                    FROM (SELECT a AS n FROM pairs UNION ALL SELECT b FROM pairs)),
        sym AS (SELECT a AS src, b AS dst FROM pairs
                UNION ALL SELECT b, a FROM pairs),
        seeds AS (SELECT node, CAST(1 AS BIGINT) AS lbl FROM lpnodes WHERE node % 20 = 0),
        lab0 AS (SELECT n.node, s.lbl FROM lpnodes n
                 LEFT JOIN seeds s ON s.node = n.node),
        ${lpRound(1)},
        ${lpRound(2)},
        reach AS (SELECT CAST(SUM(CASE WHEN lbl IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                    AS n_review_reach
                  FROM lab2)
        SELECT ks_ppm, auc_ppm, kappa_ppm, n_boilerplate, n_review_reach
        FROM ks, auc, kap, boiler, reach"""
      }),

    // B88: categorical drift as exact total variation distance — the
    // order-free complement to q174's KS (language/source/event-type
    // columns have no order for a CDF sup; TVD = half the L1 gap = "the
    // fraction of corpus mass that moved"). One partial-agg'd shuffle to
    // per-category counts, broadcast totals, no cumulative pass at all.
    Q(
      "q189_tvd_drift",
      (s, dir) =>
        EvalMetrics.tvdTest(
          Tables.documents(s, dir),
          col("doc_id") % 2 === 0,
          col("lang")),
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

    // B88: the chi-square tier of the same categorical drift — weights
    // deviations by category rarity (a rare event type doubling its
    // share registers strongly where TVD barely moves). Every
    // per-category term is the staged integer floor(d^2/c) (d = qd*c + r
    // => d*qd + (r*d) div c), so no intermediate ever materializes d^2
    // and both engines floor identically.
    Q(
      "q190_chi2_drift",
      (s, dir) =>
        EvalMetrics.chiSquareTest(
          Tables.events(s, dir),
          col("event_id") % 2 === 0,
          col("event_type")),
      Some("""
        WITH t AS (SELECT event_id % 2 = 0 AS s1, event_type AS v FROM events),
        pv AS (SELECT v,
                      CAST(SUM(CASE WHEN s1 THEN 1 ELSE 0 END) AS BIGINT) AS p,
                      CAST(SUM(CASE WHEN s1 THEN 0 ELSE 1 END) AS BIGINT) AS q
               FROM t GROUP BY v),
        n AS (SELECT CAST(SUM(p) AS BIGINT) AS n1, CAST(SUM(q) AS BIGINT) AS n2 FROM pv),
        d AS (SELECT n1, n2, p + q AS cc, abs(p * n2 - q * n1) AS dd FROM pv, n),
        terms AS (SELECT n1, n2, dd * (dd // cc) + ((dd % cc) * dd) // cc AS tt FROM d)
        SELECT n1, n2, CAST(SUM(tt) AS BIGINT) AS chi2_num,
               CAST(n1 * n2 AS BIGINT) AS chi2_den
        FROM terms GROUP BY n1, n2""")),

    // B88 sliced: which SOURCE changed its language mix vs the rest of
    // the corpus — tvdPerGroup ranks sources by an exact rational with
    // no dense group x category grid (absent categories fold into the
    // closed form n_g * (N - sum of C_v seen by g)).
    Q(
      "q191_source_tvd",
      (s, dir) =>
        EvalMetrics.tvdPerGroup(
            Tables.documents(s, dir), col("source"), col("lang"))
          .orderBy((col("tvd_num").cast(DoubleType) / col("tvd_den")).desc, col("g")),
      Some("""
        WITH t AS (SELECT source AS g, lang AS v FROM documents),
        pgv AS (SELECT g, v, CAST(COUNT(*) AS BIGINT) AS c FROM t GROUP BY 1, 2),
        pv AS (SELECT v, CAST(SUM(c) AS BIGINT) AS cv FROM pgv GROUP BY 1),
        pg AS (SELECT g, CAST(SUM(c) AS BIGINT) AS n FROM pgv GROUP BY 1),
        tot AS (SELECT CAST(SUM(cv) AS BIGINT) AS nn FROM pv),
        dev AS (SELECT pgv.g, pg.n, nn,
                       abs(pgv.c * (nn - pg.n) - (pv.cv - pgv.c) * pg.n) AS dv,
                       pv.cv
                FROM pgv JOIN pv USING (v) JOIN pg USING (g) CROSS JOIN tot)
        SELECT g, n, CAST(nn - n AS BIGINT) AS n_rest,
               CAST(SUM(dv) + n * (nn - SUM(cv)) AS BIGINT) AS tvd_num,
               CAST(2 * n * (nn - n) AS BIGINT) AS tvd_den
        FROM dev
        GROUP BY g, n, nn
        ORDER BY CAST(tvd_num AS DOUBLE) / tvd_den DESC, g""")),

    // B89: Wasserstein-1 (earth-mover) drift over document length — the
    // drift MAGNITUDE complement to q174's KS sup: W1 integrates |F1-F2|
    // over the value axis, so it reports HOW FAR the length distribution
    // moved, in characters. Summation by parts folds the gap-weighted
    // cumulative sum into one plain aggregate over the PrefixSum frame
    // (no lead/lag, no second ordered pass).
    Q(
      "q192_w1_drift",
      (s, dir) =>
        EvalMetrics.wasserstein1(
          Tables.documents(s, dir),
          col("doc_id") % 2 === 0,
          length(col("text")).cast(LongType)),
      Some("""
        WITH t AS (SELECT doc_id % 2 = 0 AS s1, CAST(length(text) AS BIGINT) AS v
                   FROM documents),
        pv AS (SELECT v,
                      CAST(SUM(CASE WHEN s1 THEN 1 ELSE 0 END) AS BIGINT) AS p,
                      CAST(SUM(CASE WHEN s1 THEN 0 ELSE 1 END) AS BIGINT) AS q
               FROM t GROUP BY v),
        c AS (SELECT v, p, q,
                     CAST(SUM(p) OVER (ORDER BY v) AS BIGINT) AS c1,
                     CAST(SUM(q) OVER (ORDER BY v) AS BIGINT) AS c2
              FROM pv),
        n AS (SELECT CAST(SUM(p) AS BIGINT) AS n1, CAST(SUM(q) AS BIGINT) AS n2 FROM pv),
        m AS (SELECT MIN(v) AS vmin FROM pv)
        SELECT n1, n2,
               CAST(SUM((v - vmin) * (abs((c1 - p) * n2 - (c2 - q) * n1)
                                      - abs(c1 * n2 - c2 * n1))) AS BIGINT) AS w1_num,
               CAST(n1 * n2 AS BIGINT) AS w1_den
        FROM c, n, m
        GROUP BY n1, n2""")),

    // B90: per-source language concentration (Gini impurity, exact
    // rational (n^2 - sum c^2)/n^2) — the within-snapshot degeneracy
    // monitor beside q191's between-snapshot movement ranking: a source
    // whose language mix collapsed to one value shows gini -> 0. Two
    // partial-agg'd shuffles, no joins.
    Q(
      "q193_source_concentration",
      (s, dir) =>
        EvalMetrics.concentrationPerGroup(
            Tables.documents(s, dir), col("source"), col("lang"))
          .orderBy("g"),
      Some("""
        WITH pgv AS (SELECT source AS g, lang AS v, CAST(COUNT(*) AS BIGINT) AS c
                     FROM documents GROUP BY 1, 2)
        SELECT g, CAST(SUM(c) AS BIGINT) AS n,
               CAST(SUM(c) * SUM(c) - SUM(c * c) AS BIGINT) AS gini_num,
               CAST(SUM(c) * SUM(c) AS BIGINT) AS gini_den
        FROM pgv GROUP BY g ORDER BY g""")),

    // B81+B88+B89 composition: the one-row "did the corpus move" panel a
    // user runs between snapshots — ordinal drift (KS sup + W1 transport
    // over document length) and categorical drift (TVD + chi-square over
    // language), all from ONE text scan: the corpus reduces to a cached
    // (len, lang) count cube whose two marginals feed all four
    // statistics. Emitted as exact integer grids (ppm / x1000, integer
    // div — positive operands, so Spark div and DuckDB // agree), which
    // tightens the product bound by the grid factor: fine for a panel
    // (beyond it, run the statistics individually via the rescaled
    // tiers).
    Q(
      "q194_drift_panel",
      (s, dir) => {
        val perLL = Q.persistOnce(EvalMetrics.twoSample(
          Tables.documents(s, dir).select(
            (col("doc_id") % 2 === 0).as("s1"),
            length(col("text")).cast(LongType).as("len"), col("lang")),
          col("s1"), col("len"), col("lang")))
        val perLen = perLL.groupBy(col("len").as("v"))
          .agg(sum("p").as("p"), sum("q").as("q"))
        val perLang = perLL.groupBy(col("lang").as("v"))
          .agg(sum("p").as("p"), sum("q").as("q"))
        val ks = EvalMetrics.ksTestCounts(perLen)
          .select(expr("(1000000 * d_num) div d_den").as("ks_ppm"))
        val w1 = EvalMetrics.wasserstein1Counts(perLen)
          .select(expr("(1000 * w1_num) div w1_den").as("w1_x1000"))
        val tvd = EvalMetrics.tvdCounts(perLang)
          .select(expr("(1000000 * tvd_num) div tvd_den").as("tvd_ppm"))
        val chi = EvalMetrics.chiSquareCounts(perLang)
          .select(expr("(1000 * chi2_num) div chi2_den").as("chi2_x1000"))
        // four single-row scalar attaches (the sanctioned crossJoin form)
        ks.crossJoin(w1).crossJoin(tvd).crossJoin(chi)
      },
      Some("""
        WITH src AS (SELECT doc_id % 2 = 0 AS s1,
                            CAST(length(text) AS BIGINT) AS len, lang
                     FROM documents),
        pll AS (SELECT len, lang,
                       CAST(SUM(CASE WHEN s1 THEN 1 ELSE 0 END) AS BIGINT) AS p,
                       CAST(SUM(CASE WHEN s1 THEN 0 ELSE 1 END) AS BIGINT) AS q
                FROM src GROUP BY 1, 2),
        plen AS (SELECT len AS v, CAST(SUM(p) AS BIGINT) AS p,
                        CAST(SUM(q) AS BIGINT) AS q FROM pll GROUP BY 1),
        plang AS (SELECT lang AS v, CAST(SUM(p) AS BIGINT) AS p,
                         CAST(SUM(q) AS BIGINT) AS q FROM pll GROUP BY 1),
        n AS (SELECT CAST(SUM(p) AS BIGINT) AS n1, CAST(SUM(q) AS BIGINT) AS n2 FROM plen),
        clen AS (SELECT v, p, q,
                        CAST(SUM(p) OVER (ORDER BY v) AS BIGINT) AS c1,
                        CAST(SUM(q) OVER (ORDER BY v) AS BIGINT) AS c2
                 FROM plen),
        m AS (SELECT MIN(v) AS vmin FROM plen),
        ks AS (SELECT CAST((1000000 * MAX(abs(c1 * n2 - c2 * n1))) // (n1 * n2) AS BIGINT) AS ks_ppm
               FROM clen, n GROUP BY n1, n2),
        w1 AS (SELECT CAST((1000 * SUM((v - vmin) * (abs((c1 - p) * n2 - (c2 - q) * n1)
                                                     - abs(c1 * n2 - c2 * n1)))) // (n1 * n2) AS BIGINT) AS w1_x1000
               FROM clen, n, m GROUP BY n1, n2),
        tvd AS (SELECT CAST((1000000 * SUM(abs(p * n2 - q * n1))) // (2 * n1 * n2) AS BIGINT) AS tvd_ppm
                FROM plang, n GROUP BY n1, n2),
        chit AS (SELECT n1, n2, p + q AS cc, abs(p * n2 - q * n1) AS dd FROM plang, n),
        chi AS (SELECT CAST((1000 * SUM(dd * (dd // cc) + ((dd % cc) * dd) // cc)) // (n1 * n2) AS BIGINT) AS chi2_x1000
                FROM chit GROUP BY n1, n2)
        SELECT ks_ppm, w1_x1000, tvd_ppm, chi2_x1000 FROM ks, w1, tvd, chi""")),

    // B91: privacy audit — k-anonymity class sizes and l-diversity of
    // the sensitive column per quasi-identifier equivalence class, with
    // violation flags. Two partial-agg'd shuffles, no joins; the inner
    // (class, value) group bounds state by observed pairs.
    Q(
      "q196_kanon_audit",
      (s, dir) =>
        graft.operators.Privacy.kAnonymityAudit(
            Tables.customer(s, dir),
            Seq("c_nationkey", "c_mktsegment"), col("c_acctbal"),
            k = 10L, l = 5L)
          .orderBy("c_nationkey", "c_mktsegment"),
      Some("""
        WITH cs AS (SELECT c_nationkey, c_mktsegment, c_acctbal,
                           CAST(COUNT(*) AS BIGINT) AS c
                    FROM customer GROUP BY 1, 2, 3)
        SELECT c_nationkey, c_mktsegment,
               CAST(SUM(c) AS BIGINT) AS n,
               CAST(COUNT(*) AS BIGINT) AS l_distinct,
               SUM(c) < 10 AS k_violation,
               COUNT(*) < 5 AS l_violation
        FROM cs GROUP BY 1, 2 ORDER BY 1, 2""")),

    // B99: isotonic (PAV) calibration fit over the q180 decile reliability
    // table — the monotone-regression step that turns the diagnostic into
    // a usable calibrator. Exact arithmetic via the minimax
    // characterization iso(i) = max_{j<=i} min_{k>=i} avg(y[j..k]) on
    // prefix-sum differences, with every rational mapped through the
    // order-embedding K(p/q) = (p * 10^12) div q BEFORE min/max: floor
    // of a monotone map commutes with min and max over a finite set, so
    // the output IS floor(iso * 10^12) exactly — no float division, no
    // rational comparator. The segment/cover joins are range joins over
    // post-aggregate frames bounded by |buckets|^2 (<= 55 segments for
    // deciles) — broadcast NLJ territory by construction, never data-
    // sized. Guard: p * 10^12 must fit BIGINT; the full-span segment has
    // q = total rows, so `q <= 10^6` on every segment bounds the corpus
    // and rides the consumed K column (raise_error points at coarser
    // pre-binning).
    Q(
      "q204_isotonic_calibration",
      (s, dir) => {
        val scored = qpos(s, dir)
          .groupBy("vec_id", "label")
          .agg(sum(col("qv") * scoreW).as("s"))
        val ranked = Blocking.globalRank(scored, Seq(col("s"), col("vec_id")))
        val tot = scored.agg(count(lit(1)).as("nn"))
        val cal = Q.persistOnce(ranked.crossJoin(broadcast(tot))
          .withColumn("bucket", expr("((rn - 1) * 10) div nn"))
          .groupBy("bucket")
          .agg(
            count(lit(1)).as("n"),
            sum(when(col("label") >= 5, 1L).otherwise(0L)).as("n_pos")))
        val w = graft.operators.BoundedWindow.orderBy(col("bucket"))
        val cum = graft.operators.BoundedWindow
          .aggregated(cal, "decile calibration buckets")
          .select(col("bucket"), sum("n").over(w).as("cn"),
            sum("n_pos").over(w).as("cp"))
        // The minimax joins are pure range joins over frames bounded by
        // |buckets| — attach a constant-VALUED (but non-foldable, same
        // trick as BoundedWindow) equi key so they plan as hash joins,
        // not CartesianProduct: the anti-cartesian sweep can't see
        // construction-bounded cardinality, and a hash join on a
        // constant key over <= 11 rows costs nothing.
        val pre = cum
          .select(col("bucket").as("lb"), col("cn").as("lcn"), col("cp").as("lcp"))
          .unionByName(s.range(1)
            .select(lit(-1L).as("lb"), lit(0L).as("lcn"), lit(0L).as("lcp")))
          .withColumn("j", pmod(hash(col("lb")), lit(1)))
        val seg = pre.join(cum.withColumn("j", pmod(hash(col("bucket")), lit(1))), Seq("j"))
          .filter(col("lb") < col("bucket"))
          .select(col("lb"), col("bucket").as("rb"),
            (col("cp") - col("lcp")).as("p"), (col("cn") - col("lcn")).as("q"))
          .select(col("lb"), col("rb"),
            graft.operators.Guards(col("q") <= 1000000L, expr("(p * 1000000000000L) div q"),
              lit(
                "[isotonic] calibration mass exceeds the exact fixed-point " +
                  "bound (10^6 rows): pre-bin coarser"))
              .as("k"))
        val iso = cal.select(col("bucket").as("i"))
          .withColumn("j", pmod(hash(col("i")), lit(1)))
          .join(seg.withColumn("j", pmod(hash(col("rb")), lit(1))), Seq("j"))
          .filter(col("lb") < col("i") && col("rb") >= col("i"))
          .groupBy("i", "lb").agg(min("k").as("mn"))
          .groupBy("i").agg(max("mn").as("iso_e12"))
        cal.join(iso, cal("bucket") === iso("i"))
          .select(col("bucket"), col("n"), col("n_pos"), col("iso_e12"))
          .orderBy("bucket")
      },
      Some(s"""
        WITH $OQPOS,
        sc AS (SELECT vec_id,
                      CAST(SUM(qv * CASE WHEN i % 3 = 0 THEN 2
                                         WHEN i % 3 = 1 THEN -1
                                         ELSE 1 END) AS BIGINT) AS s
               FROM qpos GROUP BY 1),
        lab AS (SELECT sc.vec_id, s, emb.label >= 5 AS y
                FROM sc JOIN embeddings emb ON emb.vec_id = sc.vec_id),
        r AS (SELECT s, y,
                     CAST(ROW_NUMBER() OVER (ORDER BY s, vec_id) AS BIGINT) AS rn
              FROM lab),
        nr AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM lab),
        cal AS (SELECT CAST(((rn - 1) * 10) // nn AS BIGINT) AS bucket,
                       CAST(COUNT(*) AS BIGINT) AS n,
                       CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS n_pos
                FROM r, nr GROUP BY 1),
        cum AS (SELECT bucket,
                       CAST(SUM(n) OVER (ORDER BY bucket) AS BIGINT) AS cn,
                       CAST(SUM(n_pos) OVER (ORDER BY bucket) AS BIGINT) AS cp
                FROM cal),
        pre AS (SELECT bucket AS lb, cn AS lcn, cp AS lcp FROM cum
                UNION ALL SELECT -1, 0, 0),
        seg AS (SELECT lb, c.bucket AS rb,
                       ((c.cp - lcp) * 1000000000000) // (c.cn - lcn) AS k
                FROM pre, cum c WHERE lb < c.bucket),
        iso AS (SELECT i, CAST(MAX(mn) AS BIGINT) AS iso_e12 FROM (
                  SELECT c.bucket AS i, s.lb AS lb, MIN(s.k) AS mn
                  FROM cal c JOIN seg s ON s.lb < c.bucket AND s.rb >= c.bucket
                  GROUP BY 1, 2) GROUP BY 1)
        SELECT c.bucket, c.n, c.n_pos, iso_e12
        FROM cal c JOIN iso ON iso.i = c.bucket
        ORDER BY c.bucket""")),

    // B100: split-conformal threshold per group — the finite-sample
    // coverage guarantee quantile: the ceil((n+1)(1-alpha))-th smallest
    // score (alpha = 1/10, so k = (9(n+1)+9) div 10, capped at n) over
    // each group's nonconformity scores on the exact paise grid. One
    // grouped (partition-parallel) row_number window picks the order
    // statistic; the empirical coverage count rides back as the exact
    // pair (cov_num, n) — cov_num >= k always, strict when ties straddle
    // the threshold. Group-key joins are tiny (|event types| rows) and
    // AQE-broadcast.
    Q(
      "q205_conformal_threshold",
      (s, dir) => {
        val vals = Tables.events(s, dir)
          .select(col("event_type").as("g"),
            floor(col("value") * 100).cast(LongType).as("v"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("g").orderBy("v")
        val ranked = vals.withColumn("rn", row_number().over(w).cast(LongType))
        val ks = vals.groupBy("g").agg(count(lit(1)).as("n"))
          .withColumn("k", least(col("n"), expr("(9 * (n + 1) + 9) div 10")))
        val thr = ranked.join(ks, "g").filter(col("rn") === col("k"))
          .select(col("g"), col("v").as("thr"))
        val cov = vals.join(thr, "g")
          .groupBy("g")
          .agg(sum(when(col("v") <= col("thr"), 1L).otherwise(0L)).as("cov_num"))
        ks.join(thr, "g").join(cov, "g")
          .select(col("g"), col("n"), col("k"), col("thr"), col("cov_num"))
          .orderBy("g")
      },
      Some("""
        WITH vals AS (SELECT event_type AS g,
                             CAST(floor(value * 100) AS BIGINT) AS v FROM events),
        ks AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
                      CAST(least(COUNT(*), (9 * (COUNT(*) + 1) + 9) // 10) AS BIGINT) AS k
               FROM vals GROUP BY 1),
        ranked AS (SELECT g, v,
                          CAST(ROW_NUMBER() OVER (PARTITION BY g ORDER BY v) AS BIGINT) AS rn
                   FROM vals),
        thr AS (SELECT r.g, r.v AS thr
                FROM ranked r JOIN ks ON ks.g = r.g AND r.rn = ks.k),
        cov AS (SELECT v.g,
                       CAST(SUM(CASE WHEN v.v <= t.thr THEN 1 ELSE 0 END) AS BIGINT) AS cov_num
                FROM vals v JOIN thr t ON t.g = v.g GROUP BY 1)
        SELECT ks.g, n, k, thr, cov_num
        FROM ks JOIN thr ON thr.g = ks.g JOIN cov ON cov.g = ks.g
        ORDER BY ks.g""")),

    // B106: Gini (Lorenz) coefficient of per-customer spend by nation —
    // the INEQUALITY statistic (who holds the mass) beside B90's Gini
    // IMPURITY (how mixed the categories are). Exact rational via the
    // rank formula G = (2·Σ i·x_i − (n+1)·Σx) / (n·Σx) with x ascending
    // and ties rank-stable under the (x, custkey) total order (equal x
    // swap freely without changing Σ i·x). The overflow guard rides the
    // CONSUMED i·x column and is sufficient for every partial sum:
    // Σ i·x <= n·Σx, so sx <= 2^62 div n bounds the whole aggregate
    // before it starts.
    Q(
      "q211_gini_lorenz",
      (s, dir) => {
        val spend = Tables.orders(s, dir)
          .join(Tables.customer(s, dir), col("c_custkey") === col("o_custkey"))
          .groupBy(col("c_nationkey").as("nk"), col("o_custkey").as("ck"))
          .agg(sum(floor(col("o_totalprice") * 100).cast(LongType)).as("x"))
        val stats = spend.groupBy("nk").agg(count(lit(1)).as("n"), sum("x").as("sx"))
        val k62 = Long.MaxValue / 2
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("nk").orderBy("x", "ck")
        spend.withColumn("i", row_number().over(w).cast(LongType))
          .join(stats, "nk")
          .select(col("nk"), col("n"), col("sx"),
            graft.operators.Guards(col("sx") <= expr(s"${k62}L div n"), col("i") * col("x"),
              concat(
                lit("[gini] rank-sum overflow for nation "), col("nk"),
                lit(": n * total spend must stay < 2^62 — rescale the unit")))
              .as("ix"))
          .groupBy("nk", "n", "sx")
          .agg(sum("ix").as("six"))
          .select(col("nk"), col("n"),
            (lit(2L) * col("six") - (col("n") + 1L) * col("sx")).as("g_num"),
            (col("n") * col("sx")).as("g_den"))
          .orderBy("nk")
      },
      Some("""
        WITH spend AS (SELECT c.c_nationkey AS nk, o.o_custkey AS ck,
                              CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS x
                       FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
                       GROUP BY 1, 2),
        r AS (SELECT nk, x, CAST(ROW_NUMBER() OVER (PARTITION BY nk ORDER BY x, ck) AS BIGINT) AS i
              FROM spend)
        SELECT nk, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(2 * SUM(i * x) - (COUNT(*) + 1) * SUM(x) AS BIGINT) AS g_num,
               CAST(COUNT(*) * SUM(x) AS BIGINT) AS g_den
        FROM r GROUP BY 1 ORDER BY 1""")),

    // B108: chi-square feature ranking — which categorical
    // feature carries the most signal about a binary label (here:
    // is this a high-value order), as B88's staged-integer chi-square
    // PER FEATURE via EvalMetrics.chiSquareCountsPerGroup. The features
    // unpivot through one stack() pass (one scan, no per-feature
    // re-reads); every feature covers the same rows, so n1/n2/chi2_den
    // are equal across groups and ranking by chi2_num is the exact
    // chi-square order — no rational comparison, no floats.
    Q(
      "q213_chi2_feature_rank",
      (s, dir) => {
        val base = Tables.orders(s, dir)
          .join(Tables.customer(s, dir), col("c_custkey") === col("o_custkey"))
          .select(
            (floor(col("o_totalprice") * 100).cast(LongType) >= 15000000L).as("y"),
            expr("""stack(4,
              'orderpriority', o_orderpriority,
              'orderstatus', o_orderstatus,
              'mktsegment', c_mktsegment,
              'nation', cast(c_nationkey as string)) AS (g, v)"""))
        EvalMetrics.chiSquareCountsPerGroup(
          EvalMetrics.twoSample(base, col("y"), col("g"), col("v"))).orderBy("g")
      },
      Some("""
        WITH base AS (SELECT o_orderpriority, o_orderstatus, c_mktsegment,
                             CAST(c_nationkey AS VARCHAR) AS nation,
                             CAST(floor(o_totalprice * 100) AS BIGINT) >= 15000000 AS y
                      FROM orders JOIN customer ON c_custkey = o_custkey),
        long AS (
          SELECT 'orderpriority' AS g, o_orderpriority AS v, y FROM base
          UNION ALL SELECT 'orderstatus', o_orderstatus, y FROM base
          UNION ALL SELECT 'mktsegment', c_mktsegment, y FROM base
          UNION ALL SELECT 'nation', nation, y FROM base),
        pv AS (SELECT g, v, CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS p,
                      CAST(SUM(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS q
               FROM long GROUP BY 1, 2),
        tot AS (SELECT g, CAST(SUM(p) AS BIGINT) AS n1, CAST(SUM(q) AS BIGINT) AS n2,
                       CAST(COUNT(*) - 1 AS BIGINT) AS dof
                FROM pv GROUP BY 1),
        st AS (SELECT pv.g, p + q AS cc, abs(p * n2 - q * n1) AS d
               FROM pv JOIN tot ON tot.g = pv.g),
        t2 AS (SELECT g, d // cc AS qd, d % cc AS r, cc, d FROM st)
        SELECT t.g, n1, n2, dof,
               CAST(SUM(d * qd + (r * d) // cc) AS BIGINT) AS chi2_num,
               CAST(n1 * n2 AS BIGINT) AS chi2_den
        FROM t2 JOIN tot t ON t.g = t2.g
        GROUP BY 1, 2, 3, 4 ORDER BY 1""")),

    // B109: k-core peel (3 rounds, k = 3) over the co-purchase graph —
    // the dense-subgraph screen beside B80's triangles and B86's label
    // propagation: which parts sit in a mutually-reinforcing cluster
    // after iteratively shaving low-degree fringe. Fixed rounds keep the
    // answer replayable (the oracle is the same three peels as nested
    // CTEs); each round is one partial-agg'd degree count + two
    // key-equi semi-joins, and the edge frame only shrinks. The
    // `converged` column is the in-band fixpoint witness (min surviving
    // degree >= k <=> one more peel would be a no-op) — one extra
    // aggregate, no extra peel.
    Q(
      "q215_kcore_peel",
      (s, dir) => graft.operators.KCore
        .peel(coPurchaseEdges(s, dir), 3L, 3)
        .orderBy("node"), {
        def rnd(i: Int) = {
          val prev = s"sym${i - 1}"
          s"""deg$i AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS c FROM $prev GROUP BY 1),
             |keep$i AS (SELECT src AS node FROM deg$i WHERE c >= 3),
             |sym$i AS (SELECT s.src, s.dst FROM $prev s
             |          JOIN keep$i k1 ON s.src = k1.node
             |          JOIN keep$i k2 ON s.dst = k2.node)""".stripMargin
        }
        Some(s"""
        WITH $OEDGES,
        sym0 AS (SELECT a AS src, b AS dst FROM edges UNION ALL SELECT b, a FROM edges),
        ${rnd(1)},
        ${rnd(2)},
        ${rnd(3)},
        degs AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg FROM sym3 GROUP BY 1)
        SELECT node, deg, (MIN(deg) OVER ()) >= 3 AS converged
        FROM degs ORDER BY node""")
      }),

    // B112: Cochran–Armitage trend test pieces — "does the label rate
    // move MONOTONICALLY with an ordered category" (priority rank 1..5
    // vs the high-value label), the ordered complement of B108's
    // unordered chi-square. Exact integers: T = Σ i·(p_i·n2 − q_i·n1)
    // plus the moment sums s1 = Σ i·c_i, s2 = Σ i²·c_i, from which
    // Z² = N·T² / (n1·n2·(N·s2 − s1²)) is the caller's rational (the
    // squares stay caller-side — squaring in-plan would need int128 at
    // corpus scale). Guard 9·n1·n2 < 2^63 bounds |T| via Σp = n1.
    Q(
      "q218_trend_test",
      (s, dir) => {
        val b = Tables.orders(s, dir).select(
          substring(col("o_orderpriority"), 1, 1).cast(LongType).as("i"),
          (floor(col("o_totalprice") * 100).cast(LongType) >= 15000000L).as("y"))
        val c = EvalMetrics.twoSample(b, col("y"), col("i"))
        val t = c.agg(sum("p").as("n1"), sum("q").as("n2"))
        c.crossJoin(broadcast(t))
          .select(col("n1"), col("n2"),
            graft.operators.Guards(col("n1") <= expr(s"${Long.MaxValue / 9}L div n2"),
              col("i") * (col("p") * col("n2") - col("q") * col("n1")),
              lit(
                "[trend-test] 9*n1*n2 must stay < 2^63: pre-bin or rescale"))
              .as("term"),
            (col("i") * (col("p") + col("q"))).as("t1"),
            (col("i") * col("i") * (col("p") + col("q"))).as("t2"))
          .groupBy("n1", "n2")
          .agg(sum("term").as("t_num"), sum("t1").as("s1"), sum("t2").as("s2"))
      },
      Some("""
        WITH b AS (SELECT CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS i,
                          CAST(floor(o_totalprice * 100) AS BIGINT) >= 15000000 AS y
                   FROM orders),
        c AS (SELECT i, CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS p,
                     CAST(SUM(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS q
              FROM b GROUP BY 1),
        t AS (SELECT CAST(SUM(p) AS BIGINT) AS n1, CAST(SUM(q) AS BIGINT) AS n2 FROM c)
        SELECT n1, n2,
               CAST(SUM(i * (p * n2 - q * n1)) AS BIGINT) AS t_num,
               CAST(SUM(i * (p + q)) AS BIGINT) AS s1,
               CAST(SUM(i * i * (p + q)) AS BIGINT) AS s2
        FROM c, t GROUP BY 1, 2""")),

    // B114: Cramér–von Mises drift test between the click and view
    // event-value distributions on the exact paise grid — the WHOLE-CDF
    // complement of q174's KS sup: a distribution that drifts a little
    // everywhere (variance creep, tail thickening) moves the integrated
    // squared gap even when no single CDF point gap is large.
    // cvm_num = Σ_v cc_v·(d_v² div (n1·n2)), T ≈ cvm_num/(n1+n2)²; the
    // staged integer floor-division replays bit-identically in DuckDB.
    Q(
      "q220_cvm_drift",
      (s, dir) => EvalMetrics.cvmTest(
        Tables.events(s, dir).filter(col("event_type").isin("click", "view")),
        col("event_type") === "click",
        floor(col("value") * 100).cast(LongType)),
      Some("""
        WITH vals AS (SELECT CAST(floor(value*100) AS BIGINT) AS v,
                             event_type = 'click' AS s1
                      FROM events WHERE event_type IN ('click','view')),
        pv AS (SELECT v, CAST(SUM(CASE WHEN s1 THEN 1 ELSE 0 END) AS BIGINT) AS p,
                      CAST(SUM(CASE WHEN s1 THEN 0 ELSE 1 END) AS BIGINT) AS q
               FROM vals GROUP BY 1),
        cum AS (SELECT v, p, q,
                       CAST(SUM(p) OVER (ORDER BY v) AS BIGINT) AS cp,
                       CAST(SUM(q) OVER (ORDER BY v) AS BIGINT) AS cq
                FROM pv),
        tot AS (SELECT CAST(SUM(p) AS BIGINT) AS n1, CAST(SUM(q) AS BIGINT) AS n2 FROM pv),
        st AS (SELECT p + q AS cc, abs(cp*n2 - cq*n1) AS d, n1, n2,
                      abs(cp*n2 - cq*n1) // n1 AS q1, abs(cp*n2 - cq*n1) % n1 AS r1
               FROM cum, tot),
        t2 AS (SELECT cc, n1, n2, (d*q1 + (r1*d) // n1) // n2 AS t0 FROM st)
        SELECT n1, n2, CAST(SUM(cc * t0) AS BIGINT) AS cvm_num,
               CAST((n1+n2)*(n1+n2) AS BIGINT) AS t_den
        FROM t2 GROUP BY 1, 2""")),

    // B118: Mantel–Haenszel pooled odds ratio across strata — "does the
    // exposure-outcome association survive controlling for the stratum"
    // (here: BUILDING-segment customers vs high-value orders, stratified
    // by nation — the confounder-adjusted complement of q218's
    // trend test). MH = Σ(a_i·d_i/n_i) / Σ(b_i·c_i/n_i); each stratum
    // term lands on the e6 floored grid ((x·10^6) div n — engine-
    // portable integer div; summing floors is deterministic both sides
    // and loses < 1 ppm·strata of the ratio), so the pooled estimate is
    // the exact pair (or_num_e6, or_den_e6). One partial-agg'd shuffle
    // to 2×2 cells per stratum, one bounded rollup; guard per stratum
    // a·d, b·c ≤ 2^63/10^6 rides the consumed terms.
    Q(
      "q224_mh_odds_ratio",
      (s, dir) => {
        val cap = Long.MaxValue / 1000000L
        val base = Tables.orders(s, dir)
          .join(Tables.customer(s, dir), col("c_custkey") === col("o_custkey"))
          .select(col("c_nationkey").as("g"),
            (col("c_mktsegment") === "BUILDING").as("e"),
            (floor(col("o_totalprice") * 100).cast(LongType) >= 15000000L).as("y"))
        base.groupBy("g")
          .agg(
            sum(when(col("e") && col("y"), 1L).otherwise(0L)).as("a"),
            sum(when(col("e") && !col("y"), 1L).otherwise(0L)).as("b"),
            sum(when(!col("e") && col("y"), 1L).otherwise(0L)).as("c"),
            sum(when(!col("e") && !col("y"), 1L).otherwise(0L)).as("d"))
          .withColumn("n", col("a") + col("b") + col("c") + col("d"))
          .select(
            graft.operators.Guards(col("a") <= expr(s"${cap}L div greatest(d, 1L)") &&
                col("b") <= expr(s"${cap}L div greatest(c, 1L)"),
              expr("(a * d * 1000000L) div n"),
              concat(
                lit("[mh-odds] stratum "), col("g"),
                lit(" cell product exceeds 2^63/10^6: pre-aggregate or sample strata"))).as("t_num"),
            expr("(b * c * 1000000L) div n").as("t_den"))
          .agg(count(lit(1)).as("n_strata"),
            sum("t_num").as("or_num_e6"),
            sum("t_den").as("or_den_e6"))
      },
      Some("""
        WITH base AS (SELECT c.c_nationkey AS g,
                             c.c_mktsegment = 'BUILDING' AS e,
                             CAST(floor(o_totalprice * 100) AS BIGINT) >= 15000000 AS y
                      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey),
        cells AS (SELECT g,
                         CAST(SUM(CASE WHEN e AND y THEN 1 ELSE 0 END) AS BIGINT) AS a,
                         CAST(SUM(CASE WHEN e AND NOT y THEN 1 ELSE 0 END) AS BIGINT) AS b,
                         CAST(SUM(CASE WHEN NOT e AND y THEN 1 ELSE 0 END) AS BIGINT) AS c,
                         CAST(SUM(CASE WHEN NOT e AND NOT y THEN 1 ELSE 0 END) AS BIGINT) AS d
                  FROM base GROUP BY 1),
        t AS (SELECT g, a, b, c, d, a + b + c + d AS n FROM cells)
        SELECT CAST(COUNT(*) AS BIGINT) AS n_strata,
               CAST(SUM((a * d * 1000000) // n) AS BIGINT) AS or_num_e6,
               CAST(SUM((b * c * 1000000) // n) AS BIGINT) AS or_den_e6
        FROM t""")),

    // B123: degree assortativity of the co-purchase graph — do hub parts
    // co-purchase with other hubs (r > 0, "rich club") or with the
    // periphery (r < 0)? Pearson correlation of endpoint degrees over
    // the DIRECTED edge list (both orientations — the standard Newman
    // formulation, which also makes Σx = Σy so two co-moments suffice).
    // Exact integers end-to-end: one degree count, one two-hop join to
    // attach endpoint degrees, one co-moment reduction (the q199/q202
    // pattern) with its Cauchy–Schwarz guard.
    Q(
      "q229_assortativity",
      (s, dir) => {
        val k62 = Long.MaxValue / 2
        val e = coPurchaseEdges(s, dir)
        val sym = Q.persistOnce(EdgeIntake.symmetrize(e))
        val deg = sym.groupBy(col("src").as("n")).agg(count(lit(1)).as("d"))
        sym
          .join(deg.select(col("n").as("src"), col("d").as("x")), "src")
          .join(deg.select(col("n").as("dst"), col("d").as("y")), "dst")
          .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
            sum(col("x") * col("y")).as("sxy"),
            sum(col("x") * col("x")).as("sx2"))
          .select(col("n"),
            graft.operators.Guards(col("sx2") <= expr(s"${k62}L div n"),
              col("n") * col("sxy") - col("sx") * col("sy"),
              lit(
                "[assortativity] co-moment overflow: n * sum(d^2) must stay < 2^62 " +
                  "— cap degrees or sample edges"))
              .as("cov_num"),
            (col("n") * col("sx2") - col("sx") * col("sx")).as("var_num"))
      },
      Some(s"""
        WITH $OEDGES,
        sym AS (SELECT a AS src, b AS dst FROM edges UNION ALL SELECT b, a FROM edges),
        deg AS (SELECT src AS n, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY 1),
        de AS (SELECT da.d AS x, db.d AS y
               FROM sym JOIN deg da ON da.n = sym.src JOIN deg db ON db.n = sym.dst)
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(COUNT(*) * SUM(x*y) - SUM(x)*SUM(y) AS BIGINT) AS cov_num,
               CAST(COUNT(*) * SUM(x*x) - SUM(x)*SUM(x) AS BIGINT) AS var_num
        FROM de""")),

    // B124: modularity of a labeled partition over the co-purchase graph
    // — the clustering-QUALITY audit for any community assignment (here
    // the catalog's p_brand labels; swap in q179's label-prop output or
    // q133's dedup clusters the same way): Q = Σ_c e_c/m − (d_c/2m)²,
    // cleared to the exact rational (4m·Σe_c − Σd_c²) / 4m². One degree
    // count, one two-sided community join bounded by the edge list, two
    // tiny rollups; guard d_c ≤ 2^31 and m ≤ 2^30 keep every square in
    // a long.
    Q(
      "q230_modularity",
      (s, dir) => {
        val e = coPurchaseEdges(s, dir)
        val m = e.agg(count(lit(1)).as("m"))
        val sym = Q.persistOnce(EdgeIntake.symmetrize(e))
        val deg = sym.groupBy(col("src").as("n")).agg(count(lit(1)).as("d"))
        val com = Tables.part(s, dir).select(col("p_partkey").as("n"), col("p_brand").as("c"))
        val ec = e
          .join(com.select(col("n").as("a"), col("c").as("ca")), "a")
          .join(com.select(col("n").as("b"), col("c").as("cb")), "b")
          .filter(col("ca") === col("cb"))
          .groupBy(col("ca").as("c")).agg(count(lit(1)).as("e_in"))
        val dc = deg.join(com, "n").groupBy("c").agg(sum("d").as("d_tot"))
        val agg = dc.join(ec, Seq("c"), "left")
          .agg(coalesce(sum(coalesce(col("e_in"), lit(0L))), lit(0L)).as("se"),
            sum(graft.operators.Guards(col("d_tot") <= 2147483647L, col("d_tot") * col("d_tot"),
              lit(
                "[modularity] community degree total exceeds 2^31: d_c^2 would overflow"))).as("sd2"))
        agg.crossJoin(broadcast(m))
          .select(col("m"),
            graft.operators.Guards(col("m") <= 1073741824L,
              lit(4L) * col("m") * col("se") - col("sd2"),
              lit(
                "[modularity] edge count exceeds 2^30: 4m^2 would overflow")).as("q_num"),
            (lit(4L) * col("m") * col("m")).as("q_den"))
      },
      Some(s"""
        WITH $OEDGES,
        m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM edges),
        sym AS (SELECT a AS src, b AS dst FROM edges UNION ALL SELECT b, a FROM edges),
        deg AS (SELECT src AS n, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY 1),
        com AS (SELECT p_partkey AS n, p_brand AS c FROM part),
        ec AS (SELECT ca.c, CAST(COUNT(*) AS BIGINT) AS e_in
               FROM edges JOIN com ca ON ca.n = edges.a JOIN com cb ON cb.n = edges.b AND ca.c = cb.c
               GROUP BY 1),
        dc AS (SELECT com.c, CAST(SUM(deg.d) AS BIGINT) AS d_tot
               FROM deg JOIN com ON com.n = deg.n GROUP BY 1),
        agg AS (SELECT CAST(SUM(COALESCE(e_in, 0)) AS BIGINT) AS se,
                       CAST(SUM(d_tot*d_tot) AS BIGINT) AS sd2
                FROM dc LEFT JOIN ec ON ec.c = dc.c)
        SELECT m, CAST(4*m*se - sd2 AS BIGINT) AS q_num, CAST(4*m*m AS BIGINT) AS q_den
        FROM agg, m""")),

    // B128: McNemar's paired test — "did heuristic B change verdicts
    // relative to heuristic A on the SAME rows": only the DISCORDANT
    // counts matter (b = A-only flags, c = B-only), χ² = (b−c)²/(b+c).
    // The paired complement of the two-sample drift tiers: comparing two
    // quality gates by their marginal rates ignores that they judge the
    // same documents. One scan, one partial-agg'd reduction; the
    // statistic lands as x2_milli = floor(1000·(b−c)²/(b+c)) via the
    // staged floor-div (q220's trick — d² never materializes), with the
    // (b+c)·d < 2^63 domain enforced in-plan.
    Q(
      "q236_mcnemar",
      (s, dir) => {
        val t = Tables.documents(s, dir).select(
          (size(tokens(col("text"))) >= 60).as("a"),
          (col("n_chars") >= 350L).as("b"))
        t.agg(
            count(lit(1)).as("n"),
            sum(when(col("a") && !col("b"), 1L).otherwise(0L)).as("b_cnt"),
            sum(when(!col("a") && col("b"), 1L).otherwise(0L)).as("c_cnt"))
          .select(col("n"), col("b_cnt"), col("c_cnt"),
            when(col("b_cnt") + col("c_cnt") === 0L, 0L)
              .otherwise(graft.operators.Guards(
                col("b_cnt") + col("c_cnt") <= 3000000000L,
                abs(col("b_cnt") - col("c_cnt")) *
                  expr("(1000 * abs(b_cnt - c_cnt)) div (b_cnt + c_cnt)") +
                expr("((1000 * abs(b_cnt - c_cnt)) % (b_cnt + c_cnt)) * abs(b_cnt - c_cnt) div (b_cnt + c_cnt)"),
                "[mcnemar] b+c exceeds 3e9: the staged floor-div " +
                  "intermediate (r·d) would overflow — rescale the pair counts"))
              .as("x2_milli"))
      },
      Some("""
        WITH t AS (SELECT len(list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '')) >= 60 AS a,
                          n_chars >= 350 AS b
                   FROM documents),
        c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(SUM(CASE WHEN a AND NOT b THEN 1 ELSE 0 END) AS BIGINT) AS b_cnt,
                     CAST(SUM(CASE WHEN NOT a AND b THEN 1 ELSE 0 END) AS BIGINT) AS c_cnt
              FROM t)
        SELECT n, b_cnt, c_cnt,
               CAST(CASE WHEN b_cnt + c_cnt = 0 THEN 0
                    ELSE abs(b_cnt - c_cnt) * ((1000 * abs(b_cnt - c_cnt)) // (b_cnt + c_cnt)) +
                         ((1000 * abs(b_cnt - c_cnt)) % (b_cnt + c_cnt)) * abs(b_cnt - c_cnt) // (b_cnt + c_cnt)
                    END AS BIGINT) AS x2_milli
        FROM c""")),

    // B129: cumulative gains / lift table — the decile-ranked "is the
    // score any good" diagnostic beside exact AUC (q175): rank by score
    // desc (price as urgency propensity), cut into 10 equal-depth bins,
    // and report each prefix's capture rate (gain_ppm = share of all
    // positives reached) and precision (rate_ppm). Ranking is
    // Blocking.globalRank (range-repartition + per-partition index —
    // never a single-partition window); deciles are exact-integer
    // ((rn−1)·10) div n; the cumulative pass runs over the 10-row
    // aggregate, not the corpus.
    Q(
      "q237_lift_gains",
      (s, dir) => {
        val scored = Tables.orders(s, dir).select(
          floor(col("o_totalprice") * 100).cast(LongType).as("sc"),
          col("o_orderkey"),
          when(col("o_orderpriority").startsWith("1-"), 1L).otherwise(0L).as("y"))
        val ranked = Blocking.globalRank(scored, Seq(col("sc").desc, col("o_orderkey")))
        val tot = ranked.agg(count(lit(1)).as("n"), sum("y").as("tot_pos"))
        val byDec = ranked.crossJoin(broadcast(tot))
          .select(expr("((rn - 1) * 10) div n + 1").as("decile"), col("y"), col("tot_pos"))
          .groupBy("decile", "tot_pos")
          .agg(count(lit(1)).as("n_d"), sum("y").as("pos_d"))
        val w = graft.operators.BoundedWindow.orderBy(col("decile"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)
        graft.operators.BoundedWindow.aggregated(byDec, "10 deciles")
          .withColumn("cum_n", sum("n_d").over(w))
          .withColumn("cum_pos", sum("pos_d").over(w))
          .select(col("decile"), col("n_d"), col("pos_d"), col("cum_n"), col("cum_pos"),
            expr("(1000000 * cum_pos) div tot_pos").as("gain_ppm"),
            expr("(1000000 * cum_pos) div cum_n").as("rate_ppm"))
          .orderBy("decile")
      },
      Some("""
        WITH s AS (SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS sc, o_orderkey,
                          CASE WHEN o_orderpriority LIKE '1-%' THEN 1 ELSE 0 END AS y
                   FROM orders),
        r AS (SELECT y, row_number() OVER (ORDER BY sc DESC, o_orderkey) AS rn,
                     COUNT(*) OVER () AS n, SUM(y) OVER () AS tot_pos
              FROM s),
        d AS (SELECT ((rn - 1) * 10) // n + 1 AS decile, y, tot_pos FROM r),
        a AS (SELECT decile, CAST(MAX(tot_pos) AS BIGINT) AS tot_pos,
                     CAST(COUNT(*) AS BIGINT) AS n_d, CAST(SUM(y) AS BIGINT) AS pos_d
              FROM d GROUP BY 1),
        c AS (SELECT decile, n_d, pos_d,
                     CAST(SUM(n_d) OVER (ORDER BY decile) AS BIGINT) AS cum_n,
                     CAST(SUM(pos_d) OVER (ORDER BY decile) AS BIGINT) AS cum_pos,
                     tot_pos
              FROM a)
        SELECT decile, n_d, pos_d, cum_n, cum_pos,
               (1000000 * cum_pos) // tot_pos AS gain_ppm,
               (1000000 * cum_pos) // cum_n AS rate_ppm
        FROM c ORDER BY decile""")),

    // B131: HITS hubs & authorities (Kleinberg 1999) over the DIRECTED
    // supplier→part graph — the directed complement of PageRank (q137):
    // on a bipartite graph the two sides get their own rankings (hub =
    // supplies many well-sourced parts; authority = sourced by strong
    // hubs). Two synchronous rounds, all integer: scores on a 10^6 grid,
    // each half-round one equi-join + one partial-agg'd sum + a FLOORED
    // L∞ normalization (exactly replayable where the textbook L2 sqrt is
    // not; same fixpoint direction). Top-20 under a total order.
    Q(
      "q239_hits",
      (s, dir) => {
        val edges = Tables.lineitem(s, dir)
          .select(col("l_suppkey").as("src"), col("l_partkey").as("dst"))
        graft.operators.Hits.run(edges, 2)
          .orderBy(col("auth_em").desc, col("hub_em").desc, col("node"))
          .limit(20)
      }, {
        def half(i: Int, from: String, joinEdge: String, groupAs: String) = s"""
          ${groupAs}${i}r AS (SELECT $joinEdge AS node, CAST(SUM(s) AS BIGINT) AS raw
                     FROM e JOIN $from f ON f.node = e.${if (joinEdge == "dst") "src" else "dst"} GROUP BY 1),
          ${groupAs}$i AS (SELECT node, (1000000 * raw) // (SELECT MAX(raw) FROM ${groupAs}${i}r) AS s FROM ${groupAs}${i}r)"""
        Some(s"""
        WITH e AS (SELECT DISTINCT l_suppkey AS src, l_partkey AS dst FROM lineitem),
        nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        h0 AS (SELECT node, CAST(1000000 AS BIGINT) AS s FROM nodes),
        ${half(1, "h0", "dst", "a")},
        ${half(1, "a1", "src", "h")},
        ${half(2, "h1", "dst", "a")},
        ${half(2, "a2", "src", "h")}
        SELECT n.node, CAST(COALESCE(h2.s, 0) AS BIGINT) AS hub_em,
               CAST(COALESCE(a2.s, 0) AS BIGINT) AS auth_em
        FROM nodes n
        LEFT JOIN h2 ON h2.node = n.node
        LEFT JOIN a2 ON a2.node = n.node
        ORDER BY auth_em DESC, hub_em DESC, n.node
        LIMIT 20""")
      }),

    // B145: Poisson-bootstrap percentile CI for the per-returnflag mean
    // quantity — all 64 replicates ride ONE corpus pass (every row draws
    // an independent Poisson(1) multiplicity per replicate from the
    // hash60 uniform vs nine PRECOMPUTED integer CDF thresholds, then
    // map-side partial aggregation ships groups x 64 sums, never rows);
    // replicate means on the ppm grid, CI bounds exact order statistics
    // over the 64 means via one bottom-k aggregate. The classical
    // with-replacement bootstrap is a shuffle PER replicate and needs n
    // up front — this is the form that survives 100 TB.
    Q(
      "q254_bootstrap_ci",
      (s, dir) =>
        graft.operators.Bootstrap.meanCi(
            Tables.lineitem(s, dir),
            grp = col("l_returnflag"),
            id = concat(col("l_orderkey").cast("string"), lit("-"),
              col("l_linenumber").cast("string")),
            y = col("l_quantity"),
            reps = 64, seed = "boot254")
          .orderBy("g"),
      Some {
        val u = "('0x' || substr(md5('boot254:' || rid || ':' || CAST(r AS VARCHAR)), 1, 15))::BIGINT"
        val draw = graft.operators.Bootstrap.poissonDrawSql(u)
        // idxLo = ceil(0.025*64) = 2, idxHi = ceil(0.975*64) = 63 — the
        // same literals meanCi resolves at build time
        s"""
        WITH base AS (SELECT l_returnflag AS g,
                             CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR) AS rid,
                             CAST(l_quantity AS BIGINT) AS y
                      FROM lineitem),
        reps AS (SELECT g, rid, y, unnest(range(0, 64)) AS r FROM base),
        draws AS (SELECT g, r, y, $draw AS k FROM reps),
        rs AS (SELECT g, r, CAST(SUM(k * y) AS BIGINT) AS sky,
                      CAST(SUM(k) AS BIGINT) AS sk
               FROM draws GROUP BY 1, 2),
        rm AS (SELECT g, r, (sky * 1000000) // sk AS mu FROM rs),
        ord AS (SELECT g, mu,
                       row_number() OVER (PARTITION BY g ORDER BY mu, r) AS rk
                FROM rm),
        ci AS (SELECT g, MAX(CASE WHEN rk = 2 THEN mu END) AS lo_ppm,
                      MAX(CASE WHEN rk = 63 THEN mu END) AS hi_ppm
               FROM ord GROUP BY 1),
        f AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
                     (CAST(SUM(y) AS BIGINT) * 1000000) // COUNT(*) AS mean_ppm
              FROM base GROUP BY 1)
        SELECT f.g, n, mean_ppm, lo_ppm, hi_ppm
        FROM f JOIN ci USING (g)
        ORDER BY g"""
      }),

    // B146: NDCG@5 ranking quality — does "most expensive item bought"
    // (score = max price cents) rank a customer's items by how MUCH they
    // buy (relevance = total quantity)? Both top-5 lists come from one
    // groupBy via two graft_bottom_k aggregates (O(customers x 5), never
    // a per-customer window sort); the log2 discounts are COMPILE-TIME
    // integer literals shared with the oracle — no runtime float step
    // anywhere. Per-segment average NDCG on the ppm grid.
    Q(
      "q255_ndcg_ranking", {
        (s, dir) => {
          val li = Tables.lineitem(s, dir)
          val o = Tables.orders(s, dir)
          val per = li.join(o, li("l_orderkey") === o("o_orderkey"))
            .groupBy(col("o_custkey").as("cust"), col("l_partkey").as("it"))
            .agg(sum("l_quantity").cast("long").as("rel"),
              max(floor(col("l_extendedprice") * 100)).as("sc"))
          val nd = EvalMetrics.ndcgAtK(per, col("cust"), col("it"),
            col("rel"), col("sc"), k = 5)
          nd.join(Tables.customer(s, dir), col("g") === col("c_custkey"))
            .groupBy(col("c_mktsegment").as("segment"))
            .agg(count(lit(1)).as("n_cust"), sum("ndcg_ppm").as("snd"))
            .select(col("segment"), col("n_cust"),
              expr("snd div n_cust").as("avg_ndcg_ppm"))
            .orderBy("segment")
        }
      },
      Some {
        val d = EvalMetrics.ndcgDiscounts(5)
        val disc = (1 to 5).map(i => s"WHEN ${i} THEN ${d(i - 1)}")
          .mkString("CASE rk ", " ", " END")
        s"""
        WITH per AS (SELECT o.o_custkey AS cust, l.l_partkey AS it,
                            CAST(SUM(l.l_quantity) AS BIGINT) AS rel,
                            CAST(MAX(floor(l.l_extendedprice * 100)) AS BIGINT) AS sc
                     FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
                     GROUP BY 1, 2),
        top AS (SELECT cust, rel,
                       row_number() OVER (PARTITION BY cust ORDER BY sc DESC, it, rel) AS rk
                FROM per),
        dcg AS (SELECT cust, CAST(SUM(rel * ($disc)) AS BIGINT) AS dcg
                FROM top WHERE rk <= 5 GROUP BY 1),
        ideal AS (SELECT cust, rel,
                         row_number() OVER (PARTITION BY cust ORDER BY rel DESC, it, rel) AS rk
                  FROM per),
        idcg AS (SELECT cust, CAST(SUM(rel * ($disc)) AS BIGINT) AS idcg
                 FROM ideal WHERE rk <= 5 GROUP BY 1),
        nd AS (SELECT cust, (dcg * 1000000) // idcg AS ndcg_ppm
               FROM dcg JOIN idcg USING (cust))
        SELECT c.c_mktsegment AS segment, CAST(COUNT(*) AS BIGINT) AS n_cust,
               CAST(SUM(ndcg_ppm) AS BIGINT) // COUNT(*) AS avg_ndcg_ppm
        FROM nd JOIN customer c ON c.c_custkey = nd.cust
        GROUP BY 1
        ORDER BY segment"""
      }),

    // B147: Jensen–Shannon drift between the two user-parity halves of
    // the event stream — the SYMMETRIC, always-finite drift statistic
    // beside q189's TVD (too coarse for rarity) and q190's chi-square
    // (infinite on one-sided categories, where JSD's mixture denominator
    // never vanishes). Per-category certified micronat floors, exact
    // integer num pairs out (JSD = jsp/(2e6·n1) + jsq/(2e6·n2) nats).
    Q(
      "q256_js_drift",
      (s, dir) =>
        EvalMetrics.jsDivergence(
          Tables.events(s, dir),
          col("user_id") % 2 === 0,
          col("event_type")),
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

    // B150: Matthews correlation — does "high-value event" predict
    // "purchase"? The balanced single-number completion of the binary
    // eval family (accuracy/F1 reward the majority class; MCC is 0 for
    // any constant classifier). Exact rational out: MCC =
    // mcc_num / sqrt(den2_pred·den2_act), every column int64 — the
    // irrational sqrt is split across two guarded margin products and
    // never evaluated (the kappa num/den posture). One partial-agg'd
    // pass to the 2x2 confusion.
    Q(
      "q260_mcc",
      (s, dir) =>
        EvalMetrics.mcc(
          Tables.events(s, dir),
          col("event_type") === "purchase",
          col("value") >= 50.0),
      Some("""
        WITH t AS (SELECT coalesce(event_type = 'purchase', false) AS y,
                          coalesce(value >= 50.0, false) AS yh
                   FROM events),
        c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(SUM(CASE WHEN y AND yh THEN 1 ELSE 0 END) AS BIGINT) AS tp,
                     CAST(SUM(CASE WHEN NOT y AND yh THEN 1 ELSE 0 END) AS BIGINT) AS fp,
                     CAST(SUM(CASE WHEN y AND NOT yh THEN 1 ELSE 0 END) AS BIGINT) AS fn,
                     CAST(SUM(CASE WHEN NOT y AND NOT yh THEN 1 ELSE 0 END) AS BIGINT) AS tn
              FROM t)
        SELECT n, tp, fp, fn, tn,
               tp * tn - fp * fn AS mcc_num,
               (tp + fp) * (tn + fn) AS den2_pred,
               (tp + fn) * (tn + fp) AS den2_act
        FROM c""")),

    // B155: Louvain-style community DETECTION over the co-purchase
    // graph — the producer q230's modularity scorer was missing (the
    // detect-then-score arc: this emits the partition, q230's algebra
    // grades it). Four synchronous local-move rounds, each the exact
    // integer Louvain gain 2m·w − k·(Σtot − k·[own]) argmax'd per node
    // (ties to the smallest community id), moves applied only in the
    // round's PROGRESSIVE direction (odd rounds lower the community
    // id, even rounds raise it — the deterministic swap-cycle damping
    // of distributed Louvain; a swap needs one move of each direction).
    // The oracle unrolls the identical rounds as CTEs; GraphSpec pins
    // modularity non-decreasing round over round and the two-clique
    // separation.
    Q(
      "q265_louvain_communities",
      (s, dir) => graft.operators.Louvain
        .communities(coPurchaseEdges(s, dir), rounds = 4)
        .orderBy("node"),
      Some {
        val rounds = (1 to 4).map { r =>
          s"""v$r AS MATERIALIZED (SELECT sym.dst AS node, p.com, CAST(COUNT(*) AS BIGINT) AS w
               FROM sym JOIN s${r - 1} p ON p.node = sym.src GROUP BY 1, 2),
          c$r AS MATERIALIZED (SELECT node, com, CAST(MAX(w) AS BIGINT) AS w FROM (
                    SELECT node, com, w FROM v$r
                    UNION ALL SELECT node, com, CAST(0 AS BIGINT) FROM s${r - 1})
                  GROUP BY 1, 2),
          sg$r AS MATERIALIZED (SELECT p.com, CAST(SUM(d.k) AS BIGINT) AS s_tot
                   FROM s${r - 1} p JOIN deg d USING (node) GROUP BY 1),
          g$r AS MATERIALIZED (SELECT c.node, c.com, p.com AS own,
                         2 * m.m * c.w - d.k * (sg.s_tot - CASE WHEN c.com = p.com THEN d.k ELSE 0 END) AS gain
                  FROM c$r c JOIN deg d USING (node) JOIN s${r - 1} p USING (node)
                       JOIN sg$r sg ON sg.com = c.com CROSS JOIN m),
          p$r AS MATERIALIZED (SELECT node, com AS picked, own FROM (
                    SELECT node, com, own,
                           ROW_NUMBER() OVER (PARTITION BY node ORDER BY gain DESC, com) AS rn
                    FROM g$r) WHERE rn = 1),
          s$r AS MATERIALIZED (SELECT node, CASE WHEN ${if (r % 2 == 1) "picked < own" else "picked > own"} THEN picked ELSE own END AS com
                  FROM p$r)"""
        }.mkString(",\n")
        s"""
        WITH $OEDGES,
        m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM edges),
        sym AS MATERIALIZED (SELECT a AS src, b AS dst FROM edges UNION ALL SELECT b, a FROM edges),
        deg AS MATERIALIZED (SELECT dst AS node, CAST(COUNT(*) AS BIGINT) AS k FROM sym GROUP BY 1),
        s0 AS MATERIALIZED (SELECT node, node AS com FROM deg),
        $rounds
        SELECT CAST(node AS BIGINT) AS node, CAST(com AS BIGINT) AS com
        FROM s4 ORDER BY node"""
      }),

    // B155 (r15): FULL Louvain — phase-1 local moves to convergence-or-
    // budget, then the phase-2 COMMUNITY CONTRACTION (communities
    // collapse to super-nodes, intra-community weight becomes self-loops
    // counted twice in degrees, total weight m invariant) and a second
    // local-move pass on the contracted graph — the step that merges
    // whole communities no single node move can justify (GraphSpec pins
    // the 16-path: pairs q_num 366 -> blocks 494). Output per ORIGINAL
    // node: final community, the converged WITNESS (two consecutive
    // moveless rounds per level — a fixed point for both progressive
    // directions, so any longer unroll is the identity), and the exact
    // integer modularity numerator of the final partition over the
    // original graph (q230's algebra: q_num = 4m·e_in − Σd_c², q_den =
    // 4m² implied) — detect-then-score in one checked result. The
    // oracle unrolls BOTH levels' rounds as weighted CTEs, replays the
    // contraction, and re-derives converged from the last three states
    // per level (equivalent to the early-exit witness: a fixed point
    // propagates to the tail of any fixed-round unroll).
    Q(
      "q268_louvain_multilevel",
      (s, dir) => {
        val edges = coPurchaseEdges(s, dir)
        val part = graft.operators.Louvain
          .communitiesMultiLevel(edges, maxRoundsPerLevel = 4, levels = 2)
        val m = edges.agg(
          graft.operators.Guards(count(lit(1)) <= lit(1L << 30), count(lit(1)),
            "[louvain-score] edge count exceeds 2^30 - 4m*e_in would " +
              "overflow int64").as("m"))
        val ein = edges
          .join(part.select(col("node").as("a"), col("com").as("ca")), "a")
          .join(part.select(col("node").as("b"), col("com").as("cb")), "b")
          .agg(sum(when(col("ca") === col("cb"), 1L).otherwise(0L)).as("e_in"))
        val sd2 = edges
          .select(explode(array(col("a"), col("b"))).as("node"))
          .groupBy("node").agg(count(lit(1)).as("k"))
          .join(part.select("node", "com"), "node")
          .groupBy("com").agg(sum("k").as("dc"))
          .agg(sum(
            graft.operators.Guards(col("dc") <= lit(1L << 31), col("dc") * col("dc"),
              "[louvain-score] community degree exceeds 2^31 - dc^2 would " +
                "overflow int64")).as("sum_d2"))
        val score = m.crossJoin(ein).crossJoin(sd2)
          .select((lit(4L) * col("m") * col("e_in") - col("sum_d2")).as("q_num"))
        part.crossJoin(broadcast(score))
          .select(col("node"), col("com"), col("converged"), col("q_num"))
          .orderBy("node")
      },
      Some {
        def level(p: String, edgesCte: String, rounds: Int): String = {
          val init = s"""
          ${p}m AS MATERIALIZED (SELECT CAST(SUM(w) AS BIGINT) AS m FROM $edgesCte),
          ${p}sym AS MATERIALIZED (SELECT a AS src, b AS dst, w FROM $edgesCte WHERE a <> b
                      UNION ALL SELECT b, a, w FROM $edgesCte WHERE a <> b),
          ${p}deg AS MATERIALIZED (SELECT node, CAST(SUM(w) AS BIGINT) AS k FROM (
                        SELECT dst AS node, w FROM ${p}sym
                        UNION ALL
                        SELECT a AS node, 2 * w AS w FROM $edgesCte WHERE a = b)
                      GROUP BY 1),
          ${p}s0 AS MATERIALIZED (SELECT node, node AS com FROM ${p}deg)"""
          val rs = (1 to rounds).map { r =>
            s"""
          ${p}v$r AS MATERIALIZED (SELECT sym.dst AS node, pp.com, CAST(SUM(sym.w) AS BIGINT) AS wv
               FROM ${p}sym sym JOIN ${p}s${r - 1} pp ON pp.node = sym.src
               GROUP BY 1, 2),
          ${p}c$r AS MATERIALIZED (SELECT node, com, CAST(MAX(wv) AS BIGINT) AS wv FROM (
                 SELECT node, com, wv FROM ${p}v$r
                 UNION ALL SELECT node, com, CAST(0 AS BIGINT) FROM ${p}s${r - 1})
               GROUP BY 1, 2),
          ${p}sg$r AS MATERIALIZED (SELECT pp.com, CAST(SUM(d.k) AS BIGINT) AS s_tot
                FROM ${p}s${r - 1} pp JOIN ${p}deg d USING (node) GROUP BY 1),
          ${p}g$r AS MATERIALIZED (SELECT c.node, c.com, pp.com AS own,
                  2 * m.m * c.wv - d.k * (sg.s_tot - CASE WHEN c.com = pp.com THEN d.k ELSE 0 END) AS gain
               FROM ${p}c$r c JOIN ${p}deg d USING (node)
                    JOIN ${p}s${r - 1} pp USING (node)
                    JOIN ${p}sg$r sg ON sg.com = c.com CROSS JOIN ${p}m m),
          ${p}p$r AS MATERIALIZED (SELECT node, com AS picked, own FROM (
                 SELECT node, com, own,
                        ROW_NUMBER() OVER (PARTITION BY node ORDER BY gain DESC, com) AS rn
                 FROM ${p}g$r) WHERE rn = 1),
          ${p}s$r AS MATERIALIZED (SELECT node, CASE WHEN ${if (r % 2 == 1) "picked < own" else "picked > own"} THEN picked ELSE own END AS com
               FROM ${p}p$r)"""
          }.mkString(",")
          init + "," + rs
        }
        def diff(x: String, y: String): String =
          s"(SELECT COUNT(*) FROM $x xx JOIN $y yy ON xx.node = yy.node AND xx.com <> yy.com)"
        s"""
        WITH $OEDGES,
        e1 AS MATERIALIZED (SELECT a, b, CAST(1 AS BIGINT) AS w FROM edges),
        ${level("l1", "e1", 4)},
        e2 AS MATERIALIZED (SELECT least(sa.com, sb.com) AS a, greatest(sa.com, sb.com) AS b,
                      CAST(SUM(e.w) AS BIGINT) AS w
               FROM e1 e JOIN l1s4 sa ON sa.node = e.a
                    JOIN l1s4 sb ON sb.node = e.b
               GROUP BY 1, 2),
        ${level("l2", "e2", 4)},
        fmap AS MATERIALIZED (SELECT s1.node, s2.com
                 FROM l1s4 s1 JOIN l2s4 s2 ON s2.node = s1.com),
        conv AS (SELECT (${diff("l1s4", "l1s3")} + ${diff("l1s3", "l1s2")}
                       + ${diff("l2s4", "l2s3")} + ${diff("l2s3", "l2s2")}) = 0
                   AS converged),
        mm AS (SELECT CAST(SUM(w) AS BIGINT) AS m FROM e1),
        odeg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS k FROM (
                   SELECT a AS node FROM e1 UNION ALL SELECT b FROM e1)
                 GROUP BY 1),
        ein AS (SELECT CAST(SUM(CASE WHEN fa.com = fb.com THEN 1 ELSE 0 END) AS BIGINT) AS e_in
                FROM e1 e JOIN fmap fa ON fa.node = e.a
                     JOIN fmap fb ON fb.node = e.b),
        sd2 AS (SELECT CAST(SUM(dc * dc) AS BIGINT) AS sum_d2 FROM (
                  SELECT f.com, CAST(SUM(d.k) AS BIGINT) AS dc
                  FROM fmap f JOIN odeg d USING (node) GROUP BY 1))
        SELECT CAST(f.node AS BIGINT) AS node, CAST(f.com AS BIGINT) AS com,
               conv.converged AS converged,
               CAST(4 * mm.m * ein.e_in - sd2.sum_d2 AS BIGINT) AS q_num
        FROM fmap f, conv, mm, ein, sd2
        ORDER BY node"""
      }),

    // B164: Weight-of-Evidence binned encoding + information value —
    // the interpretable credit-scoring read next to B92's LOO target
    // encoding and B108's chi² ranking: per equal-width bin of `value`,
    // WOE = ln((good_b/TG)/(bad_b/TB)) says WHICH side of the label the
    // bin leans and how hard; IV = Σ (good_b/TG − bad_b/TB)·WOE ranks
    // the whole feature. All integer-exact: bins on the floored micro
    // grid via driver min/max scalars (the q171 posture), Laplace +1
    // per bin so no zero count reaches the log, WOE in certified
    // micronats (Guards.lnMicronatFloor — woe = floor(ln(g·TB/(b·TG))
    // ·10⁶) = lnMicronatFloor(b·TG, g·TB)), and the IV contribution
    // emitted as the exact integer product dnum·woe_micro with dnum =
    // g·TB − b·TG (den TG·TB·10⁶ — the num/den posture, never divided).
    // One scan to (bin, label) counts + a 1-row broadcast of totals.
    Q(
      "q276_woe_binning",
      (s, dir) => {
        val ev = Tables.events(s, dir)
          .select(floor(col("value") * 1e6).cast("long").as("vm"),
            (col("event_type") === "purchase").as("pos"))
        val mm = ev.agg(min(col("vm")), max(col("vm"))).head()
        val (lo, hi) = (mm.getLong(0), mm.getLong(1))
        val nb = 8L
        val width = hi - lo + 1
        val binned = ev.select(
          expr(s"((vm - $lo) * $nb) div $width").as("bin"), col("pos"))
        val counts = graft.Q.persistOnce(binned.groupBy("bin")
          .agg((sum(when(col("pos"), 1L).otherwise(0L)) + 1L).as("g"),
            (sum(when(col("pos"), 0L).otherwise(1L)) + 1L).as("b")))
        val tot = counts.agg(sum(col("g")).as("tg"), sum(col("b")).as("tb"))
        // domain: per-bin counts <= 2^28 keep every pair product g·tb /
        // b·tg exact (totals <= 8·2^28 = 2^31, products <= 2^59); the
        // final iv product gets the dynamic factor-vs-quotient guard
        val gOk = col("g") <= lit(1L << 28) && col("b") <= lit(1L << 28)
        val dnum = col("g") * col("tb") - col("b") * col("tg")
        val ivOk = abs(dnum) <= expr(s"${Long.MaxValue}L div greatest(abs(woe_micro), 1L)")
        counts.crossJoin(broadcast(tot))
          .withColumn("woe_micro", graft.operators.Guards.lnMicronatFloor(
            graft.operators.Guards(gOk, col("b") * col("tg"),
              graft.operators.Guards.msg("q276",
                lit("per-bin count past the 2^28 exact-product domain"))),
            col("g") * col("tb"), "q276"))
          .select(col("bin"), col("g"), col("b"), col("tg"), col("tb"),
            col("woe_micro"),
            graft.operators.Guards(ivOk, dnum * col("woe_micro"),
              graft.operators.Guards.msg("q276",
                lit("iv product leaves int64"))).as("iv_num"))
          .orderBy("bin")
      },
      Some("""
        WITH ev AS (SELECT CAST(floor(value * 1e6) AS BIGINT) AS vm,
                           event_type = 'purchase' AS pos
                    FROM events),
        mm AS (SELECT MIN(vm) AS lo, MAX(vm) - MIN(vm) + 1 AS width FROM ev),
        counts AS (SELECT ((vm - mm.lo) * 8) // mm.width AS bin,
                          CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) + 1 AS BIGINT) AS g,
                          CAST(SUM(CASE WHEN pos THEN 0 ELSE 1 END) + 1 AS BIGINT) AS b
                   FROM ev, mm GROUP BY 1),
        tot AS (SELECT CAST(SUM(g) AS BIGINT) AS tg, CAST(SUM(b) AS BIGINT) AS tb
                FROM counts),
        woe AS (SELECT bin, g, b, tg, tb,
                       CAST(floor(-ln(CAST(b * tg AS DOUBLE) / CAST(g * tb AS DOUBLE)) * 1e6) AS BIGINT) AS woe_micro
                FROM counts, tot)
        SELECT bin, g, b, tg, tb, woe_micro,
               CAST((g * tb - b * tg) * woe_micro AS BIGINT) AS iv_num
        FROM woe
        ORDER BY bin""")),

    // B165: deterministic random-walk corpus (operators/RandomWalk) —
    // 2 walks × 4 steps from every co-purchase node, each step the
    // md5-argmin neighbor choice, so the DeepWalk "sentence" corpus is
    // a pure function of (edges, seed) that the oracle replays with
    // ROW_NUMBER over the identical 60-bit slices.
    Q(
      "q277_random_walks",
      (s, dir) => graft.operators.RandomWalk
        .walks(coPurchaseEdges(s, dir), walksPerNode = 2, steps = 4, seed = "rw")
        .orderBy("start", "w", "step"),
      Some {
        val stepCtes = (1 to 4).map { n =>
          s"""s$n AS MATERIALIZED (SELECT start, w, node FROM (
            SELECT f.start, f.w, e.dst AS node,
                   ROW_NUMBER() OVER (PARTITION BY f.start, f.w
                     ORDER BY ('0x' || substr(md5('rw:' || f.w || ':' || $n || ':' || f.node || ':' || e.dst), 1, 15))::BIGINT,
                              e.dst) AS rn
            FROM s${n - 1} f JOIN sym e ON e.src = f.node) WHERE rn = 1)"""
        }.mkString(",\n        ")
        val sel = (0 to 4).map(n =>
          s"SELECT start, w, CAST($n AS INT) AS step, node FROM s$n")
          .mkString(" UNION ALL ")
        s"""
        WITH $OEDGES,
        sym AS MATERIALIZED (SELECT a AS src, b AS dst FROM edges
                             UNION ALL SELECT b, a FROM edges),
        s0 AS MATERIALIZED (SELECT n.src AS start, t.w, n.src AS node
              FROM (SELECT DISTINCT src FROM sym) n,
                   (VALUES (CAST(0 AS INT)), (CAST(1 AS INT))) t(w)),
        $stepCtes
        $sel
        ORDER BY start, w, step"""
      })
  )
}
