package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bounded-hop weighted shortest paths (Bellman–Ford): minimum path COST
  * from a source over a directed edge table with non-negative int64
  * weights — the weighted completion of [[Bfs]] (hops = SSSP with w ≡ 1).
  *
  * Semantics are the K-round Bellman–Ford invariant, which is EXACT and
  * oracle-replayable: after round K, `dist(v)` is the minimum total
  * weight over all paths from `src` to `v` using at most K edges. That
  * is a well-defined answer in its own right (the "reachable within K
  * legs at what cost" read), and equals the true shortest path whenever
  * K ≥ the shortest-path tree depth — GraphSpec pins both the K-bounded
  * cut (a cheaper-but-longer path ignored at K, taken at K+1) and the
  * converged equality.
  *
  * Scale shape: each round relaxes only the FRONTIER — nodes whose
  * distance improved last round — through ONE sid-keyed equi-join + a
  * partial-agg'd min fold; a node whose distance did not improve
  * re-propagates nothing (its out-edges were already relaxed at that
  * distance in an earlier round — the classic delta-stepping argument),
  * so round cost is |frontier ⋈ edges|, never |V ⋈ E|. Each round's
  * distance table is cut by [[Rounds.cutWith]], whose materializing job
  * also counts the frontier, and a drained frontier exits the loop early.
  * The improved-this-round mark
  * rides the SAME min fold (min over struct(dist, round) — least dist
  * wins, ties keep the EARLIEST round, so a re-found equal distance
  * never re-enters the frontier); no extra join is spent detecting
  * change.
  *
  * Overflow posture: relaxation computes dist + w, which wraps silently
  * in non-ANSI int64 once path costs approach 2^63. The domain (w ≥ 0
  * and dist ≤ 2^63−1 − w, checked by subtraction — never by computing
  * the sum first) is enforced in-plan via [[Guards]] riding the consumed
  * relaxed distance; negative weights also refuse (under a hop bound
  * they would make "minimum cost" depend on hop parity, and the frontier
  * pruning argument needs monotone relaxation).
  */
object Sssp {

  /** Size-guarded routing bound (the PageRank.runLocal posture): an edge
    * list inside the bound relaxes on the driver at zero per-round job
    * cost; the gate cache below also stops each distributed round's
    * frontier join from re-computing the caller's edge derivation (q162's
    * and q247's are 4-table joins). Local ≡ distributed pinned in
    * LocalTierSpec. */
  private val LocalEdgeLimit = 4L << 20

  /** Min path cost from `src` using ≤ `rounds` edges. `edges` must carry
    * (src, dst, w) with w a non-negative long; returns (node, dist) for
    * every node reachable in ≤ `rounds` hops. Unreached nodes are absent.
    * [[Bfs.hops]] is this with w ≡ 1.
    */
  def distances(edges: DataFrame, src: Long, rounds: Int): DataFrame = {
    val spark = edges.sparkSession
    // the driver tier widens integral endpoints to long, exactly like the
    // union coercion, and relaxes Long weights
    val gate = new LocalTier(LocalEdgeLimit,
      Seq(edges.schema("src").dataType, edges.schema("dst").dataType),
      supported = LocalTier.integral(edges.schema("src").dataType) &&
        edges.schema("w").dataType == org.apache.spark.sql.types.LongType)
    val e = gate.cache(edges.select(col("src"), col("dst"), col("w")))
    gate.collect(e).foreach { case Seq(arr) =>
      return runLocal(spark,
        arr.map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue,
          r.getLong(2))), src, rounds)
    }
    val relaxed = Guards(
      col("w") >= 0L && col("dist") <= lit(Long.MaxValue) - col("w"),
      col("dist") + col("w"),
      Guards.msg("sssp",
        lit("edge ("), col("node").cast("string"), lit(" -> "),
        col("dst").cast("string"), lit(") weight "), col("w").cast("string"),
        lit(" with upstream dist "), col("dist").cast("string"),
        lit(" leaves the int64 relaxation domain (w must be >= 0 and "),
        lit("dist + w < 2^63); rescale weights to a coarser unit")))
    var dist = spark.range(1)
      .select(lit(src).as("node"), lit(0L).as("dist"), lit(0).cast("int").as("r"))
    var r = 1
    var drained = false
    while (r <= rounds && !drained) {
      val frontier = dist.filter(col("r") === r - 1).select("node", "dist")
      val reached = frontier.join(e, col("node") === col("src"))
        .select(col("dst").as("node"), relaxed.as("dist"), lit(r).cast("int").as("r"))
      val (next, improved) = Rounds.cutWith[Long](dist.union(reached)
        .groupBy("node")
        .agg(min(struct(col("dist"), col("r"))).as("best"))
        .select(col("node"), col("best.dist").as("dist"), col("best.r").as("r")),
        count(when(col("r") === r, 1)))
      dist = next
      drained = improved == 0L
      r += 1
    }
    // the returned O(|V|) state is checkpointed; the O(|E|) edge cache is
    // never read again (guide §5: |E| >> |V| at scale)
    gate.release()
    dist.select("node", "dist")
  }

  /** Driver tier: the identical K-round frontier Bellman–Ford on the
    * collected edge list — min over struct(dist, round) (least dist,
    * ties keep the earliest round, so a re-found equal distance never
    * re-enters the frontier), the same relaxation-domain refusal on
    * every candidate, the same drained-frontier early exit. */
  private def runLocal(spark: org.apache.spark.sql.SparkSession,
      e: Array[(Long, Long, Long)], src: Long, rounds: Int): DataFrame = {
    import scala.collection.mutable
    import scala.jdk.CollectionConverters._
    val adj = mutable.HashMap.empty[Long, mutable.ArrayBuffer[(Long, Long)]]
    e.foreach { case (s, d, w) =>
      adj.getOrElseUpdate(s, mutable.ArrayBuffer.empty) += ((d, w))
    }
    // node -> (dist, round first achieving it)
    val dist = mutable.LinkedHashMap[Long, (Long, Int)](src -> ((0L, 0)))
    var r = 1
    var drained = false
    while (r <= rounds && !drained) {
      var improved = 0L
      val updates = mutable.HashMap.empty[Long, Long]
      dist.foreach { case (v, (d, rv)) =>
        if (rv == r - 1) adj.get(v).foreach(_.foreach { case (dst, w) =>
          if (w < 0L || d > Long.MaxValue - w) throw new IllegalStateException(
            s"[sssp] edge ($v -> $dst) weight $w with upstream dist $d leaves " +
              "the int64 relaxation domain (w must be >= 0 and dist + w < " +
              "2^63); rescale weights to a coarser unit")
          val nd = d + w
          if (updates.get(dst).forall(nd < _)) updates(dst) = nd
        })
      }
      updates.foreach { case (node, nd) =>
        dist.get(node) match {
          case Some((d0, _)) if d0 <= nd => () // old best wins (ties keep it)
          case _ => dist(node) = (nd, r); improved += 1
        }
      }
      drained = improved == 0L
      r += 1
    }
    spark.createDataFrame(
      dist.iterator.map { case (n, (d, _)) => org.apache.spark.sql.Row(n, d) }
        .toSeq.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("node",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("dist",
          org.apache.spark.sql.types.LongType, nullable = false))))
  }
}
