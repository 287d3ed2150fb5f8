package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Louvain community detection (Blondel, Guillaume, Lambiotte &
  * Lefebvre 2008) in the deterministic synchronous form distributed
  * implementations use — the producer the graph wing's modularity
  * SCORER (B124, q230) was missing. r14 shipped the local-move phase
  * only; r15 completes the algorithm: a converged witness, early exit
  * on a settled state, and the phase-2 COMMUNITY CONTRACTION that makes
  * it Louvain rather than one local-move sweep.
  *
  * == Local-move semantics (one level) ==
  *
  * Per round r (1-based), all reads against the PREVIOUS round's
  * assignment (synchronous — what makes a SQL oracle replay the rounds
  * as CTEs), on a WEIGHTED graph (w ≥ 1; self-loops allowed — they
  * arise from contraction and enter degrees at weight 2w, never votes):
  *
  *  - every node i scores each CANDIDATE community C ∈ {communities of
  *    i's neighbors} ∪ {i's own community} with the exact
  *    integer-scaled Louvain gain
  *
  *      gain(C) = 2m·w(i→C) − k_i·(Σtot(C) − k_i·1[C = com(i)])
  *
  *    where w(i→C) = Σ weight of edges from i into C's members,
  *    k_i = weighted degree (self-loops counting twice), Σtot(C) = Σ
  *    degrees of C's members, m = total edge weight — this is
  *    2m²·(ΔQ of joining C after leaving com(i)), so the argmax over C
  *    (own community included, with i's own degree removed from its
  *    Σtot — the standard remove-then-rejoin bookkeeping) is exactly
  *    the best local move, compared in pure int64;
  *  - ties break to the SMALLEST community id (argmax via one
  *    max(struct(gain, -com)) hash aggregate — the LabelProp idiom, no
  *    window sort);
  *  - the move APPLIES only if it is "progressive" for the round: odd
  *    rounds may only LOWER the community id (picked < own), even
  *    rounds only RAISE it; otherwise the node keeps its assignment.
  *    Synchronous local-move is known to limit-cycle when two nodes
  *    swap into each other's communities simultaneously (a fixed
  *    movable-half gate was measured doing exactly that on the
  *    two-clique spec graph — a period-2 cycle between same-parity
  *    nodes); a swap needs one id-lowering and one id-raising move, so
  *    alternating the permitted direction makes within-round swap
  *    cycles impossible by construction. This is the deterministic
  *    "progressive minimum/maximum label" damping of published
  *    distributed Louvain implementations, replayable where "process
  *    nodes in random order" is not.
  *
  * == Convergence & early exit (r15) ==
  *
  * A round is MOVELESS when no node changed assignment. One moveless
  * round is NOT a fixed point (the round only permitted one move
  * direction; the next round permits the other), so the level declares
  * convergence — and exits early — after TWO CONSECUTIVE moveless
  * rounds: that state is a fixed point for both directions, every
  * further round is the identity, and a fixed-round CTE oracle of any
  * longer unroll reproduces the early-exited state verbatim. The
  * moveless test is one cheap job over the round's already-checkpointed
  * state (the SSSP drained-frontier posture); dead rounds cost nothing.
  *
  * == Phase 2: contraction ([[communitiesMultiLevel]]) ==
  *
  * After a level's local moves settle, communities collapse onto
  * super-nodes (id = the community id): for each edge (a, b, w) the
  * contracted edge is (com(a), com(b), w) canonicalized least/greatest
  * and weight-summed — intra-community weight becomes a SELF-LOOP,
  * which the next level's degrees count twice (the standard A'_{CD} =
  * Σ_{i∈C,j∈D} A_ij bookkeeping), so modularity on the contracted graph
  * equals modularity of the induced partition on the original graph and
  * total weight m is invariant across levels. Local moves then re-run
  * on the contracted graph: the step that merges whole communities a
  * single node move could never justify.
  *
  * Scale shape: per round ONE (node, com) vote sum off the symmetrized
  * edge list (partial-agg'd, bounded by the distinct neighbor-community
  * count per node), one |communities|-row Σtot aggregate, one argmax
  * aggregate, one state join and one moveless probe — the
  * LabelProp/KCore posture. State is one row per node, lineage cut per
  * round via eager localCheckpoint; m rides a 1-row broadcast.
  * Contraction is one join + one grouped sum; each level's graph is no
  * larger than the last. No driver-side state, no all-pairs anything.
  *
  * Integer domain, guarded in-plan (the q230 bounds): m ≤ 2^30 keeps
  * 2m·w ≤ 2^62 (w ≤ k_i ≤ 2m) and k_i·Σtot ≤ 2^62 (both factors ≤ 2m ≤
  * 2^31), at every level (m is contraction-invariant). Beyond that the
  * gain refuses loudly — rescale by sharding the graph, never a silent
  * wrap.
  *
  * Input contract (ENFORCED in-plan, r15): `edges` are distinct
  * undirected pairs (a, b) with a ≠ b — a self-loop refuses on the
  * consumed edge column, a duplicate pair refuses through the
  * distinctness audit riding the weight column (one countDistinct
  * aggregate against the raw count; a duplicate would silently skew m,
  * every degree and every gain). Weights are 1 at level 1.
  * Output: (node, com) for every endpoint ([[communities]]) or
  * (node, com, converged) ([[communitiesMultiLevel]]); com is always
  * some node's id. rounds = 0 returns the singleton initialization.
  */
object Louvain {

  /** Phase-1 local moves only, at most `rounds` of them (exits early on
    * a settled state — observationally identical to the full unroll). */
  def communities(edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 0 && rounds <= 16,
      s"Louvain wants a fixed round count in [0, 16], got $rounds")
    val gate = new LocalTier(LocalEdgeLimit)
    localMoves(intake(edges, gate), rounds, gate)._1
  }

  /** Full Louvain: up to `levels` rounds of (local moves to
    * convergence-or-budget, then community contraction). Returns one
    * row per ORIGINAL node: (node, com, converged) where com is the
    * final super-community and converged says every level's local
    * moves reached a two-direction fixed point within its budget. */
  def communitiesMultiLevel(
      edges: DataFrame, maxRoundsPerLevel: Int, levels: Int = 2): DataFrame = {
    require(maxRoundsPerLevel >= 1 && maxRoundsPerLevel <= 16,
      s"Louvain wants maxRoundsPerLevel in [1, 16], got $maxRoundsPerLevel")
    require(levels >= 1 && levels <= 4,
      s"Louvain wants levels in [1, 4], got $levels")
    // Full-local route (r15): when the LEVEL-1 edge list fits the driver
    // bound, every level fits (contraction shrinks-or-holds), so the
    // whole (local moves, contract, re-run) ladder iterates in memory —
    // one collect instead of a per-level count/collect/contraction-join/
    // mapping-join round trip. Identical recurrence (GraphSpec pins the
    // tiers; the q268 oracle replays both levels as weighted CTEs).
    val gate = new LocalTier(LocalEdgeLimit)
    val e0 = gate.cache(intake(edges, gate))
    gate.collect(e0).foreach { case Seq(arr) =>
      // collecting evaluates the intake guard columns — refusals fire
      // exactly as under distributed consumption
      var rows = arr.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      var mapping: Map[Long, Long] = null
      var allConverged = true
      for (lvl <- 1 to levels) {
        val (com, conv) = localMovesArr(rows, maxRoundsPerLevel)
        allConverged = allConverged && conv
        mapping = if (lvl == 1) com else mapping.view.mapValues(com).toMap
        if (lvl < levels) {
          val contracted = scala.collection.mutable.HashMap.empty[(Long, Long), Long]
          rows.foreach { case (a, b, w) =>
            val (ca, cb) = (com(a), com(b))
            val key = (math.min(ca, cb), math.max(ca, cb))
            contracted.update(key, contracted.getOrElse(key, 0L) + w)
          }
          rows = contracted.iterator.map { case ((a, b), w) => (a, b, w) }.toArray
        }
      }
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types.{BooleanType, LongType, StructField, StructType}
      import scala.jdk.CollectionConverters._
      return edges.sparkSession.createDataFrame(
        mapping.iterator.map { case (n, c) => Row(n, c, allConverged) }.toSeq.asJava,
        StructType(Seq(StructField("node", LongType, nullable = false),
          StructField("com", LongType, nullable = false),
          StructField("converged", BooleanType, nullable = false))))
    }
    var ew: DataFrame = e0
    var mapping: DataFrame = null
    var allConverged = true
    for (lvl <- 1 to levels) {
      val (st, conv) = localMoves(ew, maxRoundsPerLevel)
      allConverged = allConverged && conv
      mapping =
        if (lvl == 1) st.localCheckpoint(true)
        else mapping.select(col("node"), col("com").as("__prev"))
          .join(st.select(col("node").as("__prev"), col("com")), "__prev")
          .select(col("node"), col("com"))
          .localCheckpoint(true)
      if (lvl < levels) {
        val stA = st.select(col("node").as("a"), col("com").as("__ca"))
        val stB = st.select(col("node").as("b"), col("com").as("__cb"))
        ew = ew.join(stA, "a").join(stB, "b")
          .select(least(col("__ca"), col("__cb")).as("a"),
            greatest(col("__ca"), col("__cb")).as("b"), col("w"))
          .groupBy("a", "b").agg(sum("w").as("w"))
      }
    }
    // mapping is an eager checkpoint per level and the last contraction
    // has been consumed by the final localMoves — the level-1 caches are
    // never read again (guide §5)
    gate.release()
    mapping.select(col("node"), col("com"), lit(allConverged).as("converged"))
  }

  /** Level-1 intake: the shared distinct-pair audit ([[EdgeIntake]]),
    * w = 1 on every audited edge. */
  private[graft] def intake(edges: DataFrame,
      gate: LocalTier = new LocalTier(LocalEdgeLimit)): DataFrame =
    EdgeIntake.distinctPairs(edges, gate, "louvain",
      "duplicates silently skew m, degrees and every gain; distinct the edge list first")

  /** Size-guarded routing bound (the PageRank.runLocal posture): a
    * level whose EDGE LIST fits comfortably on the driver iterates in
    * memory at zero per-round job cost — each distributed round is ~3
    * fixed-cost jobs (votes/sigma/argmax + checkpoint + moveless
    * probe) whatever the data volume, which made an 8-round two-level
    * run the most expensive bench entry on a graph of a few thousand
    * edges. Contracted levels are ≤ the previous level by construction,
    * so level 2+ of any graph that contracts well lands here even when
    * level 1 ran distributed. Both tiers compute the identical integer
    * recurrence (GraphSpec pins local ≡ distributed on random weighted
    * graphs, the PageRank contract). */
  private val LocalEdgeLimit = 4L << 20

  /** Synchronous weighted local moves. `ew`: (a, b, w) distinct
    * canonical pairs, self-loops allowed. Returns (state, converged):
    * one (node, com) row per endpoint, and whether two consecutive
    * moveless rounds were observed within the budget. */
  private[graft] def localMoves(ew: DataFrame, maxRounds: Int,
      gate: LocalTier = new LocalTier(LocalEdgeLimit)): (DataFrame, Boolean) = {
    val e = gate.cache(ew)
    gate.collect(e).foreach { case Seq(arr) =>
      return localMovesDriver(e.sparkSession, arr, maxRounds)
    }
    val m = e.agg(
      Guards(sum("w") <= lit(1L << 30), sum("w"),
        "[louvain] total edge weight exceeds 2^30: the 2m-scaled gain " +
          "would overflow int64 - shard the graph").as("m"))
    val nonSelf = e.filter(col("a") =!= col("b"))
    val sym = gate.cache(EdgeIntake.symmetrize(nonSelf, "w"))
    // weighted degree: non-self edges once per endpoint, self-loops twice
    val deg = gate.cache(sym.select(col("dst").as("node"), col("w"))
      .unionByName(e.filter(col("a") === col("b"))
        .select(col("a").as("node"), (col("w") * 2).as("w")))
      .groupBy("node").agg(sum("w").as("k")))

    var state = deg.select(col("node"), col("node").as("com"))
      .localCheckpoint(true)
    var converged = false
    var prevMoveless = false
    var r = 1
    while (r <= maxRounds && !converged) {
      // neighbor-community vote weights w(i -> C), from the PREVIOUS state
      val votes = sym
        .join(state.select(col("node").as("src"), col("com")), "src")
        .groupBy(col("dst").as("node"), col("com"))
        .agg(sum("w").as("wv"))
      // the own community is always a candidate, at its true w (or 0)
      val cands = votes
        .unionByName(state.select(col("node"), col("com"), lit(0L).as("wv")))
        .groupBy("node", "com").agg(max("wv").as("wv"))
      val sigma = state.join(deg, "node")
        .groupBy("com").agg(sum("k").as("s_tot"))
      val gains = cands
        .join(deg, "node")
        .join(state.select(col("node"), col("com").as("own")), "node")
        .join(sigma, "com")
        .crossJoin(broadcast(m))
        .select(col("node"), col("com"), col("own"),
          Guards(
            col("wv") <= expr("9223372036854775807L div (2 * m)") &&
              col("s_tot") <= expr("9223372036854775807L div k"),
            lit(2L) * col("m") * col("wv") -
              col("k") * (col("s_tot") -
                when(col("com") === col("own"), col("k")).otherwise(lit(0L))),
            Guards.msg("louvain",
              lit("gain term 2m*w / k*s_tot would overflow int64 (m="),
              col("m").cast("string"), lit(", w="), col("wv").cast("string"),
              lit(", k="), col("k").cast("string"), lit(", s_tot="),
              col("s_tot").cast("string"),
              lit(") - shard the graph"))).as("gain"))
      // argmax by (gain desc, com asc) — one hash aggregate, no window
      val pick = gains
        .groupBy("node")
        .agg(max(struct(col("gain"), (-col("com")).as("neg"))).as("mx"),
          first(col("own"), ignoreNulls = true).as("own"))
        .select(col("node"), (-col("mx.neg")).as("picked"), col("own"))
      val progressive =
        if (r % 2 == 1) col("picked") < col("own") else col("picked") > col("own")
      val applied: Column =
        when(progressive, col("picked")).otherwise(col("own"))
      val next = pick
        .select(col("node"), applied.as("com"),
          (applied =!= col("own")).as("__moved"))
        .localCheckpoint(true)
      // moveless probe: one bounded job over the checkpointed round state
      val moveless = next.filter(col("__moved")).isEmpty
      state = next.drop("__moved")
      if (moveless && prevMoveless) converged = true
      prevMoveless = moveless
      r += 1
    }
    // every round's state is an eager checkpoint — the returned frame
    // never re-reads the edge/adjacency/degree caches (guide §5)
    gate.release()
    (state.select(col("node"), col("com")), converged)
  }

  /** Driver tier: the same recurrence on collected (a, b, w) rows —
    * collecting evaluates the intake guard columns, so self-loop /
    * duplicate refusals fire identically. Pure Long arithmetic, no
    * division anywhere, so the two tiers are bit-identical. */
  private def localMovesDriver(spark: org.apache.spark.sql.SparkSession,
      collected: Array[org.apache.spark.sql.Row], maxRounds: Int): (DataFrame, Boolean) = {
    val rows = collected.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val (com, converged) = localMovesArr(rows, maxRounds)
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    import scala.jdk.CollectionConverters._
    // a LOCAL relation (not a 1-partition RDD): downstream joins see its
    // true size and broadcast instead of sort-merging an unknown-size frame
    val out = spark.createDataFrame(
      com.iterator.map { case (v, c) => Row(v, c) }.toSeq.asJava,
      StructType(Seq(StructField("node", LongType, nullable = false),
        StructField("com", LongType, nullable = false))))
    (out, converged)
  }

  /** The in-memory local-move core shared by [[localMovesDriver]] and the
    * full-local [[communitiesMultiLevel]] route. Node ids compress to
    * dense indices over a CSR adjacency and communities live in flat
    * arrays (every community id is some node's id, so community state
    * indexes by that node's index): 8 rounds over a 600k-entry adjacency
    * cost ~3s through boxed tuples and immutable maps, ~0.1s here —
    * same recurrence to the bit (gains in pure Long, ties to the
    * smallest community id, alternating progressive direction). */
  private def localMovesArr(
      rows: Array[(Long, Long, Long)], maxRounds: Int): (Map[Long, Long], Boolean) = {
    var m = 0L
    rows.foreach(m += _._3)
    require(m <= (1L << 30),
      "[louvain] total edge weight exceeds 2^30: the 2m-scaled gain " +
        "would overflow int64 - shard the graph")
    // index-compress the node ids (sorted for deterministic iteration)
    val nodeIds = {
      val s = scala.collection.mutable.SortedSet.empty[Long]
      rows.foreach { r => s += r._1; s += r._2 }
      s.toArray
    }
    val n = nodeIds.length
    val idx = new scala.collection.mutable.LongMap[Int](n * 2)
    var i = 0
    while (i < n) { idx(nodeIds(i)) = i; i += 1 }
    // CSR over the symmetrized non-self adjacency; self-loops only in deg
    val degArr = new Array[Long](n)
    val outDeg = new Array[Int](n)
    rows.foreach { case (a, b, w) =>
      val (ia, ib) = (idx(a), idx(b))
      if (ia == ib) degArr(ia) += 2 * w
      else {
        degArr(ia) += w; degArr(ib) += w
        outDeg(ia) += 1; outDeg(ib) += 1
      }
    }
    val start = new Array[Int](n + 1)
    i = 0
    while (i < n) { start(i + 1) = start(i) + outDeg(i); i += 1 }
    val fill = start.clone()
    val nbr = new Array[Int](start(n))
    val nbrW = new Array[Long](start(n))
    rows.foreach { case (a, b, w) =>
      val (ia, ib) = (idx(a), idx(b))
      if (ia != ib) {
        nbr(fill(ia)) = ib; nbrW(fill(ia)) = w; fill(ia) += 1
        nbr(fill(ib)) = ia; nbrW(fill(ib)) = w; fill(ib) += 1
      }
    }
    // community state by node index; community ids ARE node ids
    var comIdx = Array.tabulate(n)(identity)
    val sigma = new Array[Long](n)
    // per-node vote scratch: community index -> weight, with a touched list
    val voteW = new Array[Long](n)
    val touched = new Array[Int](n)
    var converged = false
    var prevMoveless = false
    var r = 1
    while (r <= maxRounds && !converged) {
      java.util.Arrays.fill(sigma, 0L)
      i = 0
      while (i < n) { sigma(comIdx(i)) += degArr(i); i += 1 }
      var moveless = true
      val next = new Array[Int](n)
      var v = 0
      while (v < n) {
        val own = comIdx(v)
        var nTouched = 0
        var j = start(v)
        while (j < start(v + 1)) {
          val c = comIdx(nbr(j))
          if (voteW(c) == 0L) { touched(nTouched) = c; nTouched += 1 }
          voteW(c) += nbrW(j)
          j += 1
        }
        if (voteW(own) == 0L) { touched(nTouched) = own; nTouched += 1 }
        val k = degArr(v)
        var bestGain = Long.MinValue
        var best = Long.MaxValue
        var t = 0
        while (t < nTouched) {
          val c = touched(t)
          val cid = nodeIds(c)
          val gain = 2L * m * voteW(c) - k * (sigma(c) - (if (c == own) k else 0L))
          if (gain > bestGain || (gain == bestGain && cid < best)) {
            bestGain = gain; best = cid
          }
          t += 1
        }
        // reset scratch for the next node
        t = 0
        while (t < nTouched) { voteW(touched(t)) = 0L; t += 1 }
        val ownId = nodeIds(own)
        val progressive = if (r % 2 == 1) best < ownId else best > ownId
        val applied = if (progressive) best else ownId
        if (applied != ownId) moveless = false
        next(v) = idx(applied)
        v += 1
      }
      comIdx = next
      if (moveless && prevMoveless) converged = true
      prevMoveless = moveless
      r += 1
    }
    val out = Map.newBuilder[Long, Long]
    i = 0
    while (i < n) { out += nodeIds(i) -> nodeIds(comIdx(i)); i += 1 }
    (out.result(), converged)
  }
}
