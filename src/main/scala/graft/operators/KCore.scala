package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, LongType, StructField, StructType}

/** Fixed-round k-core peel over an undirected edge list `(a, b)`:
  * symmetrize, then `rounds` times drop every node whose CURRENT degree
  * is below `k` together with its incident edges. The round count is
  * FIXED, not run-to-convergence: the output stays a deterministic,
  * replayable function of the input (the DuckDB oracle replays the same
  * rounds as nested CTEs), and run time never becomes data-dependent —
  * the same posture as PageRank/LabelProp's fixed iteration counts. On
  * most graphs a handful of rounds reaches the fixpoint; the output's
  * `converged` column says whether THIS run did: a peel round is a
  * no-op exactly when every surviving node already has degree >= k, so
  * converged = (min surviving degree >= k) — one extra aggregate over
  * the final degrees, no extra peel. converged=true means the result IS
  * the true k-core; false means re-run with more rounds.
  *
  * Scale shape per round: one partial-agg'd degree count plus two
  * semi-joins on the node key — all key-equi, no windows; the edge frame
  * shrinks-or-holds monotonically. Per-round state is cut with EAGER
  * localCheckpoint (the LabelProp contract): the round's frame has two
  * consumers (the degree aggregate and the next round's semi-joins),
  * and unlike persistOnce nothing accumulates in the shared-session
  * CacheManager across rounds — superseded round frames become
  * unreachable and their blocks are GC-swept, instead of pinning up to
  * 16 cached frames for the session's lifetime.
  *
  * Returns the surviving per-node degree plus the fixpoint witness
  * `(node, deg, converged)` (empty graph => empty output).
  */
object KCore {

  /** Size-guarded routing bound (the PageRank.runLocal / Hits posture):
    * an edge list inside the bound peels on the driver at zero per-round
    * job cost — each distributed round is ~3 fixed-cost jobs (degree
    * aggregate + two semi-joins + eager checkpoint) whatever the data
    * volume. The local tier computes the identical fixed-round peel
    * (OperatorsSpec pins local ≡ distributed); past the bound the
    * semi-join plan runs unchanged — at 100 TB that is the only tier. */
  // 1M, tighter than the 4M graph-tier bound: the peel's per-round
  // degree/keep maps are boxed (node ids keep their input type), and
  // the 10x probe measured the local tier LOSING to the distributed
  // semi-joins past ~1-3M edges (12.5s vs 6.4s at 3M) while winning
  // ~4x below ~600k. The bound is the measured crossover.
  private val LocalEdgeLimit = 1L << 20

  def peel(edges: DataFrame, k: Long, rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 16, s"KCore.peel wants 1..16 rounds, got $rounds")
    require(k >= 1L, s"KCore.peel wants k >= 1, got $k")
    // `ab` is never distinct'd, so the key rule matters here: -0.0/0.0
    // float keys would reach the local boxed-Any maps unnormalized and
    // split degrees where the distributed groupBy/semi-joins normalize
    // them. The projection is cached once: the gate count, the local-tier
    // collect and the distributed symmetrize all read it.
    val aType = edges.schema("a").dataType
    val gate = new LocalTier(LocalEdgeLimit, Seq(aType, edges.schema("b").dataType))
    val ab = gate.cache(edges.select(col("a"), col("b")))
    gate.collect(ab).foreach { case Seq(arr) =>
      return runLocal(edges.sparkSession, arr.map(r => (r.get(0), r.get(1))), aType, k, rounds)
    }
    var sym = EdgeIntake.symmetrize(ab).localCheckpoint(true)
    gate.release() // sym is materialized (eager checkpoint)
    for (_ <- 1 to rounds) {
      val keep = sym.groupBy("src").agg(count(lit(1)).as("c"))
        .filter(col("c") >= k).select(col("src").as("node"))
        .localCheckpoint(true)
      sym = sym.join(keep, sym("src") === keep("node"), "left_semi")
        .join(keep, sym("dst") === keep("node"), "left_semi")
        .localCheckpoint(true)
    }
    val deg = sym.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg"))
      .localCheckpoint(true)
    val conv = deg.agg(coalesce(min("deg") >= k, lit(true)).as("converged"))
    deg.crossJoin(broadcast(conv))
  }

  /** Driver tier: the identical fixed-round peel on the collected edge
    * list — the symmetrized multiset (parallel edges and self-loop
    * copies count in degrees exactly like the symmetrize), Long degree
    * counting, the same converged witness. Early exit on a no-op round
    * is observationally identical: peeling a fixed point is the
    * identity. Bit-identical by OperatorsSpec pin. */
  private def runLocal(spark: org.apache.spark.sql.SparkSession,
      e: Array[(Any, Any)], nodeType: org.apache.spark.sql.types.DataType,
      k: Long, rounds: Int): DataFrame = {
    import scala.collection.mutable
    import scala.jdk.CollectionConverters._
    var sym: Array[(Any, Any)] = e.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    var r = 0
    var settled = false
    while (r < rounds && !settled) {
      val degNow = mutable.HashMap.empty[Any, Long]
      sym.foreach { case (s, _) => degNow.update(s, degNow.getOrElse(s, 0L) + 1L) }
      val keep = degNow.iterator.filter(_._2 >= k).map(_._1).toSet
      val next = sym.filter { case (s, d) => keep.contains(s) && keep.contains(d) }
      if (next.length == sym.length) settled = true else sym = next
      r += 1
    }
    val deg = mutable.LinkedHashMap.empty[Any, Long]
    sym.foreach { case (s, _) => deg.update(s, deg.getOrElse(s, 0L) + 1L) }
    val converged = deg.isEmpty || deg.valuesIterator.min >= k
    val rows = deg.iterator.map { case (n, d) => Row(n, d, converged) }.toSeq
    spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("node", nodeType),
      StructField("deg", LongType, nullable = false),
      StructField("converged", BooleanType, nullable = false))))
  }
}
