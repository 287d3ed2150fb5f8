package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bounded-round BFS: minimum hop counts from a source node over a
  * directed edge table — the reachability/distance primitive next to
  * [[PageRank]] (authority) and [[ConnectedComponents]] (clustering).
  *
  * BFS is [[Sssp]] with every weight 1, and runs as exactly that: one
  * frontier relaxation, one early-exit rule and one driver-local tier
  * serve both. With w ≡ 1 a node's distance improves only in the round
  * that first reaches it, so Sssp's "improved this round" frontier is the
  * classic BFS frontier and its drained-frontier exit fires at the same
  * round; each round still costs one materializing count job. Hop counts
  * are exact integers, so a SQL oracle can unroll the identical rounds
  * as CTEs and match row-for-row.
  */
object Bfs {

  /** Min-hops from `src` within `rounds` rounds. `edges` must have
    * (src, dst) columns; returns (node, hops) for every node reached.
    * Unreached nodes are absent (hops would be +inf). A round that
    * reaches no new node ends the loop early (pinned in GraphSpec);
    * the driver-local tier widens integral endpoints to long, exactly
    * like the distributed union coercion. */
  def hops(edges: DataFrame, src: Long, rounds: Int): DataFrame =
    Sssp.distances(edges.select(col("src"), col("dst"), lit(1L).as("w")), src, rounds)
      .select(col("node"), col("dist").cast("int").as("hops"))
}
