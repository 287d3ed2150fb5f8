package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, NumericType, StructField, StructType}

/** Synchronous label propagation (Zhu & Ghahramani 2002 / Raghavan et
  * al. 2007, the deterministic clamped-seed variant) — the
  * semi-supervised companion to [[ConnectedComponents]]: CC answers "what
  * is connected", label propagation answers "what label does the
  * neighborhood vote for", spreading a sparse set of trusted annotations
  * (quality ratings, domain tags) across a similarity graph.
  *
  * Determinism contract (what makes a SQL oracle replayable): rounds are
  * synchronous (every vote reads the PREVIOUS round's labels), seeds are
  * clamped (a seed node never changes its label), vote ties break toward
  * the smallest label, and a node with no labeled neighbor keeps its
  * current label. Each round is two partial-agg'd hash-aggregate
  * shuffles (vote counts grouped by (node, label) — bounded by the
  * label-set size per node — then an argmax struct-max per node) plus
  * one state join; state is one row per node (the [[ConnectedComponents]]
  * scale contract), lineage cut per round via eager localCheckpoint.
  */
object LabelProp {

  /** Size-guarded routing bound (the PageRank.runLocal / Hits posture):
    * a graph whose edge AND node frames fit on the driver propagates in
    * memory at zero per-round job cost — each distributed round is ~3
    * fixed-cost jobs (vote aggregate, argmax aggregate, state join +
    * eager checkpoint) whatever the data volume. The local tier computes
    * the identical synchronous clamped-seed recurrence for LONG labels
    * (OperatorsSpec pins local ≡ distributed; other label types and
    * null/duplicate-key inputs keep the distributed tier's join
    * semantics); past the bound the join plan runs unchanged — at
    * 100 TB that is the only tier. */
  // 1M, deliberately tighter than the 4M graph-tier bound: this local
  // tier votes through boxed hash maps (labels are nullable boxed
  // longs), and the 10x probe measured it LOSING to the distributed
  // rounds past ~1-3M edges (21.6s vs 5.6s at 3M) while winning 2.5x
  // below ~600k. The bound is the measured crossover, not host tuning.
  private val LocalEdgeLimit = 1L << 20

  /** Propagate `seeds` (node, lbl) over the undirected graph `edges`
    * (a, b) restricted to `nodes` (node) for exactly `iters` synchronous
    * rounds. Returns (node, lbl) with lbl null where no label reached
    * the node. `lbl` may be any ORDERABLE type — numeric ratings take a
    * single-aggregate argmax; strings/dates/etc. take an equivalent
    * two-aggregate tie-break with identical semantics.
    */
  def propagate(nodes: DataFrame, edges: DataFrame, seeds: DataFrame, iters: Int): DataFrame = {
    // The key rule covers the node keys of nodes, edges and seeds (the
    // distributed joins would silently coerce, e.g. Integer edges against
    // Long nodes); the driver tier votes LONG labels only.
    val gate = new LocalTier(LocalEdgeLimit,
      Seq(nodes.schema("node").dataType, edges.schema("a").dataType,
        edges.schema("b").dataType, seeds.schema("node").dataType),
      supported = seeds.schema("lbl").dataType == LongType)
    // The gate frames are cached once and read by BOTH routing outcomes —
    // the local-tier collects, or the distributed sym/state derivations.
    // nodes is typically a derived frame (union+distinct over the edges)
    // and seeds usually builds ON the same nodes plan, so the pn entry
    // serves the seeds lineage too (measured: q179's local route spent
    // more re-deriving nodes than propagating).
    val pe = gate.cache(edges.select(col("a"), col("b")))
    val pn = gate.cache(nodes.select(col("node")))
    val ps = gate.cache(seeds.select(col("node"), col("lbl")))
    gate.collect(pe, pn, ps).foreach { case Seq(edgeArr, nodeArr, seedArr) =>
      // duplicate node or seed keys keep the distributed joins' semantics
      if (nodeArr.map(_.get(0)).distinct.length == nodeArr.length &&
          seedArr.map(_.get(0)).distinct.length == seedArr.length)
        return runLocal(nodes.sparkSession, nodeArr.map(_.get(0)),
          edgeArr.map(r => (r.get(0), r.get(1))),
          seedArr.map(r => (r.get(0), java.lang.Long.valueOf(r.getLong(1)))),
          pn.schema("node").dataType, iters)
    }
    // symmetrize the CACHED pair frame: a possibly-expensive edge
    // derivation never runs again after the gate count
    val sym = gate.cache(EdgeIntake.symmetrize(pe))
    // State carries the clamped seed alongside the current label so each
    // round is ONE left join against the vote winners — not a re-join of
    // nodes x seeds x previous x pick. Checkpoints are EAGER: every
    // round's state has TWO consumers in the final action's DAG — the
    // vote derivation and the next state join — and with a lazy
    // checkpoint those branches race to compute the same partitions
    // concurrently, doing each round's work twice and landing duplicate
    // block-puts. One driver-blocking job per round buys single
    // evaluation. (ConnectedComponents' checkpoint is lazy: the
    // label-sum action right after it materializes it before a second
    // consumer reads it.)
    var state = pn.join(ps, Seq("node"), "left")
      .select(col("node"), col("lbl").as("seed_lbl"), col("lbl"))
      .localCheckpoint(true)
    // The fast single-aggregate tie-break (max(struct(c, -lbl))) only
    // negates NUMERIC labels; for any other orderable label type (string
    // domain tags, dates) Spark's implicit double-cast of the unary minus
    // would yield null and make ties non-deterministic — so non-numeric
    // labels take the generic two-aggregate path instead of failing
    // silently.
    val numericLbl = seeds.schema("lbl").dataType.isInstanceOf[NumericType]
    for (_ <- 1 to iters) {
      val votes = sym
        .join(state.filter(col("lbl").isNotNull).select(col("node").as("src"), col("lbl")), "src")
        .groupBy(col("dst").as("node"), col("lbl"))
        .agg(count(lit(1)).as("c"))
      // argmax by (count desc, label asc) as a partial-agg'd hash
      // aggregate — max(struct(c, -lbl)) — instead of a row_number
      // window, which would sort-shuffle every (node, label) vote row.
      // Generic (non-numeric) path: max count per node, then min label
      // among the rows attaining it — two hash aggregates plus one
      // equi-join on the already-aggregated vote frame.
      val pick =
        if (numericLbl) votes
          .groupBy("node")
          .agg(max(struct(col("c"), (-col("lbl")).as("neg"))).as("m"))
          .select(col("node"), (-col("m.neg")).as("voted"))
        else {
          // checkpoint the vote frame EAGERLY: its two consumers (both
          // join sides) otherwise race to compute the same lazy
          // checkpoint partitions concurrently — doing the edge-state
          // join twice and landing duplicate block-puts (the
          // "Block rdd_N already exists" WARN). Unlike the single-consumer
          // state frame below, a two-consumer frame is strictly cheaper
          // materialized up front; unlike persistOnce, nothing
          // accumulates in the CacheManager across rounds
          val v = votes.localCheckpoint(true)
          v.join(v.groupBy("node").agg(max(col("c")).as("c")), Seq("node", "c"))
            .groupBy("node")
            .agg(min(col("lbl")).as("voted"))
        }
      state = state.join(pick, Seq("node"), "left")
        .select(col("node"), col("seed_lbl"),
          coalesce(col("seed_lbl"), col("voted"), col("lbl")).as("lbl"))
        .localCheckpoint(true)
    }
    // every state round is an eager checkpoint, so nothing downstream
    // re-reads sym or the gate caches — release them (guide §5)
    gate.release()
    state.select(col("node"), col("lbl"))
  }

  /** Driver tier: the identical synchronous clamped-seed recurrence on
    * collected (node, edge, seed) arrays — votes over BOTH edge
    * directions (parallel edges counted, exactly like the symmetrized
    * join), argmax by (count desc, label asc) with the distributed
    * tier's max(struct(c, -lbl)) wrap semantics, seeds clamped, voteless
    * nodes keeping their label. Long labels only (the numericLbl fast
    * path); bit-identical by OperatorsSpec pin. */
  private def runLocal(spark: org.apache.spark.sql.SparkSession,
      nodeArr: Array[Any], edgeArr: Array[(Any, Any)],
      seedArr: Array[(Any, java.lang.Long)],
      nodeType: org.apache.spark.sql.types.DataType, iters: Int): DataFrame = {
    import scala.collection.mutable
    import scala.jdk.CollectionConverters._
    val seedMap = seedArr.toMap
    val state = mutable.HashMap.empty[Any, java.lang.Long]
    nodeArr.foreach(n => state(n) = seedMap.getOrElse(n, null))
    for (_ <- 1 to iters) {
      // votes: each directed copy of each edge, from the PREVIOUS state
      val votes = mutable.HashMap.empty[(Any, Long), Long]
      def vote(src: Any, dst: Any): Unit = {
        val l = state.getOrElse(src, null)
        if (l != null && state.contains(dst)) {
          val k = (dst, l.longValue)
          votes.update(k, votes.getOrElse(k, 0L) + 1L)
        }
      }
      edgeArr.foreach { case (a, b) => vote(a, b); vote(b, a) }
      // argmax per node: max (c, -lbl) with Long wrap — the distributed
      // max(struct(c, neg)) ordering verbatim
      val best = mutable.HashMap.empty[Any, (Long, Long)]
      votes.foreach { case ((n, l), c) =>
        val cand = (c, -l)
        best.get(n) match {
          case Some((bc, bn)) if bc > cand._1 || (bc == cand._1 && bn >= cand._2) => ()
          case _ => best(n) = cand
        }
      }
      nodeArr.foreach { n =>
        val seeded = seedMap.getOrElse(n, null)
        if (seeded != null) state(n) = seeded
        else best.get(n).foreach { case (_, neg) => state(n) = -neg }
      }
    }
    val rows = nodeArr.toSeq.map(n => Row(n, state(n)))
    spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("node", nodeType),
      StructField("lbl", LongType, nullable = true))))
  }
}
