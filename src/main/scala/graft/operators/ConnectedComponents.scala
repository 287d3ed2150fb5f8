package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType}

/** Distributed connected components over a pair table — the step that
  * turns near-duplicate PAIRS (minhash/simhash/cosine candidates) into
  * duplicate CLUSTERS, so a pipeline can keep one representative per
  * cluster (reference behavior: single-table dedup, fetch_data.py:131;
  * the cluster generalization is the LLM-corpus standard).
  *
  * Algorithm: iterative min-label propagation with a pointer-jump
  * (path-halving) step per round, the DataFrame rendering of the
  * map-reduce CC family (Kiveris et al., "Connected Components in
  * MapReduce and Beyond", SoCC'14). Each round is two key-partitioned
  * shuffles (neighbor-min aggregation + label lookup join); pointer
  * jumping makes convergence O(log diameter) rounds rather than
  * O(diameter). Dedup graphs are near-clique bundles (diameter 2-3), so
  * in practice 2-3 rounds close.
  *
  * Scale contract: state is one (id, comp) row per node — never
  * collected; each round is cut by [[Rounds.cutWith]] (without a cut,
  * round k's plan embeds all k-1 predecessors and the optimizer
  * re-plans a growing tree). Labels only ever decrease (everything is a
  * `least`), so convergence is detected by comparing the label sum
  * across rounds — an aggregate taken by the job that materializes the
  * round's state, no join against the previous round. The sum is
  * accumulated as DECIMAL(38,0) so billions of 64-bit ids can't wrap.
  */
object ConnectedComponents {

  /** Size-guarded routing bound (the PageRank.runLocal / Louvain
    * posture): a (nodes, edges) pair inside the bound iterates on the
    * driver at zero per-round job cost — each distributed round is ~3
    * fixed-cost jobs (neighbor-min shuffle, jump join, and the job that
    * materializes the round and sums its labels) whatever the data
    * volume. The local tier replays the IDENTICAL iteration (neighbor-min
    * + pointer jump + label-sum convergence + the same maxIter cap), so
    * even a truncated non-converged state matches bit-for-bit
    * (LocalTierSpec pins the tiers); past the bound the join plan runs
    * unchanged. */
  private val LocalEdgeLimit = 4L << 20

  /** Components of the undirected graph `edges` (columns a, b) over the
    * node set `nodes` (column `idCol`; includes isolated nodes).
    * Returns (idCol, comp) where comp = the minimum node id reachable.
    */
  def components(
      nodes: DataFrame,
      edges: DataFrame,
      idCol: String,
      maxIter: Int = 20): DataFrame = {
    val spark = nodes.sparkSession
    // Cache the (possibly expensive — q133/q274's edges are exact
    // similarity self-joins) pair derivation so the gate count, the
    // local-tier collect AND the distributed sym all read ONE cache entry.
    // Spark cache matching is exact-subtree, so sym MUST be built from this
    // very frame (building it from raw `edges` would recompute the pair
    // derivation big-side — the Hits/Coverage hazard from r15); the
    // distributed labels likewise start from the node gate frame. The
    // driver tier is Long-specialized.
    val idType = nodes.schema(idCol).dataType
    val gate = new LocalTier(LocalEdgeLimit,
      Seq(idType, edges.schema("a").dataType, edges.schema("b").dataType),
      supported = idType == LongType)
    val pe = gate.cache(edges.select(col("a"), col("b")))
    val pn = gate.cache(nodes.select(col(idCol)))
    gate.collect(pe, pn).foreach { case Seq(edgeArr, nodeArr) =>
      // duplicate node ids keep the distributed tier's join semantics
      // (duplicates multiply rows through the jump join)
      if (nodeArr.map(_.getLong(0)).distinct.length == nodeArr.length)
        return runLocal(spark, nodeArr.map(_.getLong(0)),
          edgeArr.map(r => (r.getLong(0), r.getLong(1))), idCol, maxIter)
    }
    // symmetrize the CACHED pair frame: the Generate's scan is the
    // InMemoryTable the gate count already materialized, so the expensive
    // edge derivation runs exactly once on either routing outcome.
    val sym = gate.cache(EdgeIntake.symmetrize(pe))
    val labelSum = sum(col("comp").cast(DecimalType(38, 0)))
    var (labels, prevSum) = Rounds.cutWith[java.math.BigDecimal](
      pn.select(col(idCol).as("id"), col(idCol).as("comp")), labelSum)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // (1) neighbor min: each node adopts the smallest label among its
      //     own and its neighbors' — one partial-agg'd shuffle on src.
      val nbrMin = sym
        .join(labels.select(col("id").as("dst"), col("comp").as("dst_comp")), "dst")
        .groupBy(col("src").as("id"))
        .agg(min("dst_comp").as("nbr_comp"))
      // persisted: it feeds BOTH sides of the pointer-jump self-join, and
      // without the cache each side would recompute the nbrMin shuffle.
      val stepped = labels
        .join(nbrMin, Seq("id"), "left")
        .select(col("id"), least(col("comp"), coalesce(col("nbr_comp"), col("comp"))).as("comp"))
        .persist()
      // (2) pointer jump: comp := comp(comp) — halves label-chain depth,
      //     turning O(diameter) rounds into O(log diameter).
      val (next, s) = Rounds.cutWith[java.math.BigDecimal](stepped.as("l")
        .join(stepped.select(col("id").as("comp"), col("comp").as("jump")).as("r"), Seq("comp"), "left")
        .select(col("id"), least(col("comp"), coalesce(col("jump"), col("comp"))).as("comp")),
        labelSum)
      stepped.unpersist()
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      labels = next
      iter += 1
    }
    gate.release() // labels are checkpointed
    labels.withColumnRenamed("id", idCol)
  }

  /** Driver tier: the identical neighbor-min + pointer-jump iteration on
    * index-compressed arrays — same label-sum convergence probe, same
    * maxIter cap, so even a hypothetical truncated state matches the
    * distributed tier bit-for-bit. */
  private def runLocal(spark: org.apache.spark.sql.SparkSession,
      nodeIds: Array[Long], edgeArr: Array[(Long, Long)], idCol: String,
      maxIter: Int): DataFrame = {
    import scala.jdk.CollectionConverters._
    val n = nodeIds.length
    val idx = new scala.collection.mutable.LongMap[Int](n * 2)
    var i = 0
    while (i < n) { idx(nodeIds(i)) = i; i += 1 }
    var comp: Array[Long] = nodeIds.clone()
    def labelSum(c: Array[Long]): BigInt = {
      var s = BigInt(0); var j = 0
      while (j < c.length) { s += c(j); j += 1 }
      s
    }
    var prevSum = labelSum(comp)
    var iter = 0
    var converged = false
    val sentinel = Long.MaxValue
    while (!converged && iter < maxIter) {
      // (1) neighbor min over both edge directions (only endpoints in the
      //     node set participate, exactly like the labels join)
      val nbrMin = Array.fill(n)(sentinel)
      edgeArr.foreach { case (a, b) =>
        (idx.get(a), idx.get(b)) match {
          case (Some(ia), Some(ib)) =>
            if (comp(ib) < nbrMin(ia)) nbrMin(ia) = comp(ib)
            if (comp(ia) < nbrMin(ib)) nbrMin(ib) = comp(ia)
          case _ => () // an endpoint outside the node set never votes
        }
      }
      val stepped = new Array[Long](n)
      i = 0
      while (i < n) {
        stepped(i) = if (nbrMin(i) < comp(i)) nbrMin(i) else comp(i)
        i += 1
      }
      // (2) pointer jump: comp := least(comp, comp(comp)) — stepped labels
      //     are always node ids of the node set, so the lookup never misses
      val next = new Array[Long](n)
      i = 0
      while (i < n) {
        val c = stepped(i)
        val jump = stepped(idx(c))
        next(i) = if (jump < c) jump else c
        i += 1
      }
      val s = labelSum(next)
      converged = s == prevSum
      prevSum = s
      comp = next
      iter += 1
    }
    val rows = (0 until n).map(j => org.apache.spark.sql.Row(nodeIds(j), comp(j)))
    spark.createDataFrame(rows.asJava, org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField(idCol,
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("comp",
        org.apache.spark.sql.types.LongType, nullable = true))))
  }
}
