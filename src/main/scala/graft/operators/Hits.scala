package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** HITS hubs-and-authorities (Kleinberg, JACM 1999) over a DIRECTED
  * edge list `(src, dst)` — the directed complement of the repo's
  * PageRank/label-prop/k-core graph tier: PageRank scores global
  * reachability, HITS separates "points at good things" (hub) from "is
  * pointed at by good hubs" (authority) — on a bipartite src→dst graph
  * (supplier→part, user→resource) the two sides get their own rankings.
  *
  * Determinism contract (what makes a nested-CTE SQL oracle replay
  * bit-for-bit): FIXED synchronous rounds (the PageRank/KCore posture);
  * all arithmetic in scaled integers — scores live on a 10^6 grid, each
  * half-round is an integer edge-sum followed by max-normalization with
  * FLOORED division `(10^6 · s) div max(s)` (the L∞ norm instead of the
  * conventional L2: same fixpoint direction, and exactly replayable
  * where a sqrt is not). Overflow domain: a half-round's edge sum `raw`
  * is at most 10^6 · degree (every incoming score is ≤ 10^6 after
  * normalization), and the normalization itself multiplies `raw` by
  * another 10^6 — so the product stays inside int64 only while
  * max degree ≤ (2^63−1) / 10^12 ≈ 9.2·10^6. A 100 TB web/link graph
  * can exceed that (tens of millions of in-edges on a hub node), so the
  * bound is ENFORCED in-plan: normalization refuses loudly
  * ([[Guards]]), naming the offending node and its raw sum, the moment
  * any `raw` exceeds (2^63−1) div 10^6 — never a silent wrap.
  *
  * Scale shape per half-round: one equi-join of the edge frame against
  * the bounded per-node score frame and one partial-agg'd sum by node,
  * plus a one-row max attach (broadcast) — never a window, never a
  * cartesian. Per-round state is cut with EAGER localCheckpoint (the
  * LabelProp contract: each state frame has two consumers in the next
  * round's DAG).
  *
  * Returns `(node, hub_em, auth_em)` — scores on the 10^6 grid; nodes
  * with no outgoing edges have hub 0, no incoming edges auth 0 (they
  * appear iff they touch any edge).
  */
object Hits {

  /** Size-guarded routing bound (the PageRank.runLocal / Louvain
    * posture): a deduped edge list inside the bound iterates on the
    * driver at zero per-half-round job cost — each distributed iteration
    * is ~6 fixed-cost jobs (two join+sum halves, two 1-row max attaches,
    * two eager checkpoints) whatever the data volume. The local tier
    * computes the identical scaled-integer recurrence, including the
    * ×10^6 wrap refusal (OperatorsSpec pins local ≡ distributed); past
    * the bound the join plan runs unchanged — at 100 TB that is the
    * only tier. */
  private val LocalEdgeLimit = 4L << 20

  def run(edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1 && iters <= 8, s"Hits wants 1..8 iterations, got $iters")
    // The gate MUST NOT add a pass at scale: the distributed tier eagerly
    // checkpointed the distinct anyway, so checkpoint FIRST (one
    // materialization, exactly as before), then gate on the materialized
    // blocks (cheap) — the local-tier collect also reads blocks.
    // (The first cut persistOnce'd + counted pre-checkpoint, which cost
    // the 10x probe an extra cold materialization of the 4.5M-row
    // distinct: q239 big_s 9.5 -> 14.4s. This shape restores it.)
    val e = edges.select(col("src"), col("dst")).distinct().localCheckpoint(true)
    val nodeType = edges.schema("src").dataType
    new LocalTier(LocalEdgeLimit, Seq(nodeType, edges.schema("dst").dataType))
      .collect(e).foreach { case Seq(arr) =>
        return runLocal(edges.sparkSession, arr.map(r => (r.get(0), r.get(1))), nodeType, iters)
      }
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node"))).distinct()
      .localCheckpoint(true)
    var hub = nodes.select(col("node"), lit(1000000L).as("s"))
      .localCheckpoint(true)
    var auth = hub
    for (_ <- 1 to iters) {
      // authority update: sum incoming hub scores, L∞-normalize floored
      val aRaw = e.join(hub.select(col("node").as("src"), col("s")), "src")
        .groupBy(col("dst").as("node")).agg(sum("s").as("raw"))
      auth = normalize(aRaw).localCheckpoint(true)
      // hub update from the NEW authorities (the standard half-step order)
      val hRaw = e.join(auth.select(col("node").as("dst"), col("s")), "dst")
        .groupBy(col("src").as("node")).agg(sum("s").as("raw"))
      hub = normalize(hRaw).localCheckpoint(true)
    }
    nodes
      .join(hub.select(col("node"), col("s").as("hub_em")), Seq("node"), "left")
      .join(auth.select(col("node"), col("s").as("auth_em")), Seq("node"), "left")
      .select(col("node"),
        coalesce(col("hub_em"), lit(0L)).as("hub_em"),
        coalesce(col("auth_em"), lit(0L)).as("auth_em"))
  }

  /** `(node, raw)` → `(node, s)` with s = (10^6 · raw) div max(raw) —
    * the floored L∞ normalization both engines replay identically. The
    * ×10^6 multiply wraps int64 once raw > (2^63−1) div 10^6 (i.e. max
    * in-degree beyond ~9.2·10^6 at the 10^6 score grid), so the bound
    * rides the consumed `s` column and refuses loudly past it. */
  private def normalize(raw: DataFrame): DataFrame = {
    val mx = raw.agg(max("raw").as("mx"))
    raw.crossJoin(broadcast(mx))
      .select(col("node"),
        Guards(col("raw") <= lit(Long.MaxValue / 1000000L),
          expr("(1000000 * raw) div mx"),
          Guards.msg("hits",
            lit("node "), col("node").cast("string"),
            lit(" has raw score sum "), col("raw").cast("string"),
            lit(" > (2^63-1) div 10^6 - its in-degree exceeds ~9.2e6 and the "),
            lit("10^6-grid normalization would wrap; coarsen the grid or "),
            lit("pre-aggregate parallel edges"))).as("s"))
  }

  /** Driver tier: the identical fixed-round scaled-integer recurrence on
    * the collected distinct edge list — pure Long sums and the same
    * floored L∞ normalization (values are non-negative, so Scala's `/`
    * IS the floored `div`), with the same loud wrap refusal. The two
    * tiers are bit-identical (OperatorsSpec pins them). */
  private def runLocal(spark: org.apache.spark.sql.SparkSession,
      e: Array[(Any, Any)], nodeType: org.apache.spark.sql.types.DataType,
      iters: Int): DataFrame = {
    import scala.collection.mutable
    import scala.jdk.CollectionConverters._
    val nodes = mutable.LinkedHashSet.empty[Any]
    e.foreach { case (s, d) => nodes += s; nodes += d }
    var hub: mutable.HashMap[Any, Long] = mutable.HashMap.from(nodes.iterator.map(_ -> 1000000L))
    var auth = hub
    def normalize(raw: mutable.HashMap[Any, Long]): mutable.HashMap[Any, Long] = {
      if (raw.isEmpty) return raw
      val mx = raw.valuesIterator.max
      raw.map { case (n, r) =>
        if (r > Long.MaxValue / 1000000L) throw new IllegalStateException(
          s"[hits] node $n has raw score sum $r > (2^63-1) div 10^6 - its " +
            "in-degree exceeds ~9.2e6 and the 10^6-grid normalization would " +
            "wrap; coarsen the grid or pre-aggregate parallel edges")
        n -> (1000000L * r / mx)
      }
    }
    for (_ <- 1 to iters) {
      val aRaw = mutable.HashMap.empty[Any, Long]
      e.foreach { case (s, d) => aRaw.update(d, aRaw.getOrElse(d, 0L) + hub(s)) }
      auth = normalize(aRaw)
      val hRaw = mutable.HashMap.empty[Any, Long]
      e.foreach { case (s, d) => hRaw.update(s, hRaw.getOrElse(s, 0L) + auth(d)) }
      hub = normalize(hRaw)
    }
    val rows = nodes.iterator.map(n =>
      Row(n, hub.getOrElse(n, 0L), auth.getOrElse(n, 0L))).toSeq
    spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("node", nodeType),
      StructField("hub_em", LongType, nullable = false),
      StructField("auth_em", LongType, nullable = false))))
  }
}
