package graft

import org.apache.spark.sql.functions._

/** Bfs operator + dHash banding contracts. */
class GraphSpec extends SparkSpec {

  import spark.implicits._

  test("bfs: frontier expansion finds minimal hop counts") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 3L), (4L, 1L))
      .toDF("src", "dst")
    val d = operators.Bfs.hops(edges, src = 1L, rounds = 4)
      .as[(Long, Int)].collect().toMap
    assert(d == Map(1L -> 0, 2L -> 1, 3L -> 1, 4L -> 2))
  }

  test("bfs: unreachable nodes stay absent; extra rounds are no-ops") {
    val edges = Seq((1L, 2L), (5L, 6L)).toDF("src", "dst")
    val d = operators.Bfs.hops(edges, src = 1L, rounds = 5)
      .as[(Long, Int)].collect().toMap
    assert(d == Map(1L -> 0, 2L -> 1))
  }

  test("bfs: early exit ≡ fixed rounds, and drained frontiers stop the loop") {
    // Path graph 1→2→3→4: diameter 3 from node 1. A 50-round budget must
    // return exactly the 4-round result AND must not run ~50 rounds — each
    // round costs one materializing count job, so the Spark job counter is
    // a mechanical pin on the early exit.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val expected = Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 3)
    val fixed = operators.Bfs.hops(edges, src = 1L, rounds = 4)
      .as[(Long, Int)].collect().toMap
    assert(fixed == expected)

    var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          s: org.apache.spark.scheduler.SparkListenerJobStart): Unit = jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val lavish = operators.Bfs.hops(edges, src = 1L, rounds = 50)
        .as[(Long, Int)].collect().toMap
      assert(lavish == expected)
      // listener events are async — give the bus a moment to drain
      Thread.sleep(500)
      // rounds 1..4 materialize (round 4 adds nothing → drained), plus the
      // final collect; AQE runs a few jobs per action — 50 live rounds
      // would cost well over 100 jobs, early exit keeps it ~20.
      assert(jobs <= 30, s"early exit did not fire: $jobs jobs for a diameter-3 graph")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("sssp: min-cost path beats min-hop path; unreachable absent") {
    // 1→2 costs 10 direct, but 1→3→2 costs 1+2=3; node 9 is disconnected.
    val edges = Seq((1L, 2L, 10L), (1L, 3L, 1L), (3L, 2L, 2L), (9L, 9L, 1L))
      .toDF("src", "dst", "w")
    val d = operators.Sssp.distances(edges, src = 1L, rounds = 4)
      .as[(Long, Long)].collect().toMap
    assert(d == Map(1L -> 0L, 2L -> 3L, 3L -> 1L))
  }

  test("sssp: K-round semantics — a cheaper longer path is cut at K, taken at K+1") {
    // Direct edge 1→4 costs 100; the 3-leg chain 1→2→3→4 costs 3.
    val edges = Seq((1L, 4L, 100L), (1L, 2L, 1L), (2L, 3L, 1L), (3L, 4L, 1L))
      .toDF("src", "dst", "w")
    def distTo4(rounds: Int): Long =
      operators.Sssp.distances(edges, src = 1L, rounds = rounds)
        .filter(col("node") === 4L).as[(Long, Long)].collect().head._2
    assert(distTo4(1) == 100L) // only the direct leg fits in 1 round
    assert(distTo4(2) == 100L) // 2 legs still can't traverse the chain
    assert(distTo4(3) == 3L)   // the 3-leg chain wins exactly at K = 3
  }

  test("sssp: weights of 1 reproduce bfs hop counts") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 3L), (4L, 1L))
      .toDF("src", "dst")
    val weighted = edges.withColumn("w", lit(1L))
    val d = operators.Sssp.distances(weighted, src = 1L, rounds = 4)
      .as[(Long, Long)].collect().toMap
    val h = operators.Bfs.hops(edges, src = 1L, rounds = 4)
      .as[(Long, Int)].collect().toMap.map { case (k, v) => k -> v.toLong }
    assert(d == h)
  }

  test("sssp: negative weight refuses loudly in-plan") {
    val edges = Seq((1L, 2L, -1L)).toDF("src", "dst", "w")
    val e = intercept[Exception] {
      operators.Sssp.distances(edges, src = 1L, rounds = 2).collect()
    }
    assert(exceptionChain(e).exists(_.getMessage != null) &&
      exceptionChain(e).exists(m => Option(m.getMessage).exists(_.contains("[sssp]"))))
  }

  test("sssp: early exit ≡ fixed rounds once converged") {
    val edges = Seq((1L, 2L, 5L), (2L, 3L, 7L)).toDF("src", "dst", "w")
    val expected = Map(1L -> 0L, 2L -> 5L, 3L -> 12L)
    val fixed = operators.Sssp.distances(edges, src = 1L, rounds = 3)
      .as[(Long, Long)].collect().toMap
    assert(fixed == expected)

    var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          s: org.apache.spark.scheduler.SparkListenerJobStart): Unit = jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val lavish = operators.Sssp.distances(edges, src = 1L, rounds = 50)
        .as[(Long, Long)].collect().toMap
      assert(lavish == expected)
      Thread.sleep(500)
      assert(jobs <= 30, s"early exit did not fire: $jobs jobs for a diameter-2 graph")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private def exceptionChain(e: Throwable): List[Throwable] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(10).toList

  test("dhash bands: any pair within hamming 7 shares a band (pigeonhole recall)") {
    val rnd = new scala.util.Random(11)
    def bands(h: Long): Seq[Long] = (0 until 8).map(i => (h >> (7 * i)) & 127L)
    (1 to 2000).foreach { _ =>
      val h = rnd.nextLong() & ((1L << 56) - 1)
      val flips = rnd.nextInt(8) // 0..7 bit flips
      val positions = rnd.shuffle((0 until 56).toList).take(flips)
      val h2 = positions.foldLeft(h)((acc, p) => acc ^ (1L << p))
      assert(bands(h).zip(bands(h2)).exists { case (a, b) => a == b },
        s"no shared band for hamming $flips")
    }
  }

  test("dhash56 is deterministic and equal payloads collide exactly") {
    val df = Seq("the quick brown fox", "the quick brown fox", "jumps over it all")
      .toDF("text")
      .select(multimodal.Multimodal.dhash56(col("text")).as("h"))
    val hs = df.as[Long].collect()
    assert(hs(0) == hs(1) && hs(0) != hs(2))
    assert(hs.forall(h => h >= 0 && h < (1L << 56)))
  }

  /** Exact integer modularity numerator of a partition (the q230
    * algebra, locally): q_num = 4m·Σe_in − Σd_c², over q_den = 4m². */
  private def modularityNum(
      edges: Seq[(Long, Long)], com: Map[Long, Long]): Long = {
    val m = edges.size.toLong
    val deg = edges.flatMap(e => Seq(e._1, e._2)).groupBy(identity)
      .map { case (n, xs) => n -> xs.size.toLong }
    val eIn = edges.count(e => com(e._1) == com(e._2)).toLong
    val sd2 = deg.groupBy { case (n, _) => com(n) }
      .map { case (_, ds) => val d = ds.values.sum; d * d }.sum
    4L * m * eIn - sd2
  }

  test("louvain: two cliques joined by a bridge separate into two communities") {
    // K4 on {1..4} + K4 on {5..8} + one bridge (4,5): the canonical
    // community structure — any sane detector must split at the bridge
    val clique = (ns: Seq[Long]) =>
      for (i <- ns.indices; j <- i + 1 until ns.size) yield (ns(i), ns(j))
    val edges = clique(Seq(1L, 2L, 3L, 4L)) ++ clique(Seq(5L, 6L, 7L, 8L)) :+ ((4L, 5L))
    val df = edges.toDF("a", "b")
    val got = operators.Louvain.communities(df, rounds = 4)
      .as[(Long, Long)].collect().toMap
    assert(got.keySet == (1L to 8L).toSet)
    val left = Set(1L, 2L, 3L, 4L).map(got)
    val right = Set(5L, 6L, 7L, 8L).map(got)
    assert(left.size == 1, s"left clique not one community: $got")
    assert(right.size == 1, s"right clique not one community: $got")
    assert(left != right, s"bridge not cut: $got")
  }

  /** The DISTRIBUTED local-move tier, forced with the LocalTier test
    * hook — the plan/job pins below target the distributed loop's
    * properties; small graphs otherwise route to the driver tier (whose
    * equivalence is pinned separately). */
  private def distMoves(edges: org.apache.spark.sql.DataFrame, rounds: Int) =
    operators.LocalTier.forcingDistributed(operators.Louvain.localMoves(
      operators.Louvain.intake(edges), rounds))._1

  test("louvain: no raw-row window sort anywhere; per-round work is checkpoint-bounded") {
    // localCheckpoint cuts lineage per round, so the returned frame's
    // plan covers only the final projection — count the Spark jobs
    // instead: each round must cost a BOUNDED number of materializing
    // jobs (the checkpoint), not re-run prior rounds (the LabelProp
    // lineage contract), and no plan in the session may window-sort.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 5L)).toDF("a", "b")
    val plan = distMoves(edges, 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"window sort in the output plan:\n$plan")
    var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          s: org.apache.spark.scheduler.SparkListenerJobStart): Unit = jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      distMoves(edges, 2).count()
      Thread.sleep(500) // listener events are async - let the bus drain
      val twoRounds = jobs
      jobs = 0
      distMoves(edges, 4).count()
      Thread.sleep(500)
      // linear in rounds: 2 extra rounds cost ~2x the per-round jobs,
      // never a lineage re-execution blowup
      assert(jobs <= twoRounds * 2 + 4, s"2 rounds: $twoRounds jobs, 4 rounds: $jobs")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("louvain: driver and distributed tiers are bit-identical (state + converged)") {
    val rng = new scala.util.Random(31)
    for (trial <- 1 to 3) {
      val n = 8 + rng.nextInt(8)
      val edges = (for {
        i <- 1L to n; j <- (i + 1) to n
        if rng.nextInt(3) == 0
      } yield (i, j)).distinct
      if (edges.nonEmpty) {
        val df = edges.toDF("a", "b")
        val rounds = 1 + rng.nextInt(4)
        val (locSt, locConv) = operators.Louvain.localMoves(
          operators.Louvain.intake(df), rounds)
        val (dstSt, dstConv) = operators.LocalTier.forcingDistributed(
          operators.Louvain.localMoves(operators.Louvain.intake(df), rounds))
        assert(locConv == dstConv, s"trial $trial converged flags differ")
        assert(locSt.as[(Long, Long)].collect().toMap ==
          dstSt.as[(Long, Long)].collect().toMap, s"trial $trial states differ")
      }
    }
  }

  test("louvain: deterministic, and modularity is non-decreasing per round") {
    // a 3-community co-occurrence-style graph with noise edges
    val rng = new scala.util.Random(7)
    val intra = for {
      c <- 0 to 2
      i <- 1 to 9; j <- (i + 1) to 10
      if rng.nextDouble() < 0.6
    } yield ((c * 10 + i).toLong, (c * 10 + j).toLong)
    val inter = Seq((1L, 12L), (13L, 25L), (5L, 21L), (17L, 29L))
    val edges = (intra ++ inter).distinct
    val df = edges.toDF("a", "b")
    val runs = (0 to 4).map(r =>
      operators.Louvain.communities(df, rounds = r)
        .as[(Long, Long)].collect().toMap)
    // determinism: a re-run of the same round count is identical
    val again = operators.Louvain.communities(df, rounds = 4)
      .as[(Long, Long)].collect().toMap
    assert(again == runs(4))
    // modularity non-decreasing across the fixed rounds (q_den constant,
    // so comparing numerators compares Q exactly)
    val qs = runs.map(modularityNum(edges, _))
    qs.sliding(2).foreach { case Seq(a, b) =>
      assert(b >= a, s"modularity decreased across a round: $qs")
    }
    assert(qs.last > qs.head, s"no improvement over init: $qs")
  }

  test("louvain multilevel: contraction merges what no single node move can") {
    // a 16-path: phase-1 local moves settle on 8 adjacent pairs (no
    // SINGLE node move improves modularity from there), but merging
    // neighboring pair-communities does — exactly the move only the
    // phase-2 contraction can express. Measured: q_num 366 (pairs) ->
    // 494 (4 blocks of 4) on the exact integer grid.
    val edges = (1L to 15L).map(i => (i, i + 1))
    val df = edges.toDF("a", "b")
    val l1 = operators.Louvain.communities(df, 8)
      .as[(Long, Long)].collect().toMap
    val ml = operators.Louvain.communitiesMultiLevel(df, 8, levels = 3)
      .select("node", "com").as[(Long, Long)].collect().toMap
    val q1 = modularityNum(edges, l1)
    val qm = modularityNum(edges, ml)
    assert(q1 == 366L, s"phase-1 baseline moved: $q1")
    assert(qm == 494L, s"multilevel modularity: $qm")
    assert(ml.values.toSet.size == 4, s"expected 4 block communities: $ml")
    // blocks are contiguous runs of 4
    (1L to 16L).grouped(4).foreach { g =>
      assert(g.map(ml).toSet.size == 1, s"block $g split: $ml")
    }
  }

  test("louvain multilevel: stable partitions survive contraction, converged witness true") {
    val clique = (ns: Seq[Long]) =>
      for (i <- ns.indices; j <- i + 1 until ns.size) yield (ns(i), ns(j))
    val edges = clique(Seq(1L, 2L, 3L, 4L)) ++ clique(Seq(5L, 6L, 7L, 8L)) :+ ((4L, 5L))
    val df = edges.toDF("a", "b")
    val out = operators.Louvain.communitiesMultiLevel(df, 8, levels = 2)
      .as[(Long, Long, Boolean)].collect()
    assert(out.forall(_._3), "two-clique graph did not converge")
    val got = out.map(r => r._1 -> r._2).toMap
    assert(Set(1L, 2L, 3L, 4L).map(got).size == 1)
    assert(Set(5L, 6L, 7L, 8L).map(got).size == 1)
    assert(got(1L) != got(5L), s"bridge not cut: $got")
    // same partition as phase-1 (already optimal at this scale), and a
    // re-run is identical (determinism through the contraction)
    val again = operators.Louvain.communitiesMultiLevel(df, 8, levels = 2)
      .as[(Long, Long, Boolean)].collect()
    assert(again.sortBy(_._1).sameElements(out.sortBy(_._1)))
  }

  test("louvain: early exit makes extra rounds free once settled") {
    // the two-clique graph settles in <= 3 rounds; a 16-round budget
    // must cost the same jobs as a 4-round one (the drained-frontier
    // posture), never 4x the per-round work
    val clique = (ns: Seq[Long]) =>
      for (i <- ns.indices; j <- i + 1 until ns.size) yield (ns(i), ns(j))
    val edges =
      (clique(Seq(1L, 2L, 3L, 4L)) ++ clique(Seq(5L, 6L, 7L, 8L)) :+ ((4L, 5L)))
        .toDF("a", "b")
    var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          s: org.apache.spark.scheduler.SparkListenerJobStart): Unit = jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      distMoves(edges, 4).count()
      Thread.sleep(500)
      val atFour = jobs
      jobs = 0
      distMoves(edges, 16).count()
      Thread.sleep(500)
      assert(jobs <= atFour + 2, s"4 rounds: $atFour jobs, 16 rounds: $jobs")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("louvain: intake refuses self-loops and duplicate edges loudly") {
    val selfLoop = Seq((1L, 2L), (3L, 3L)).toDF("a", "b")
    val e1 = intercept[Exception] {
      operators.Louvain.communities(selfLoop, 2).collect()
    }
    assert(e1.getMessage.contains("[louvain]") &&
      e1.getMessage.contains("self-loop"), e1.getMessage)
    val dup = Seq((1L, 2L), (2L, 1L), (2L, 3L)).toDF("a", "b")
    val e2 = intercept[Exception] {
      operators.Louvain.communities(dup, 2).collect()
    }
    assert(e2.getMessage.contains("[louvain]") &&
      e2.getMessage.contains("duplicate"), e2.getMessage)
    // the full text of the shared audit's refusals — Louvain's tag and
    // its own duplicate tail — on the local and the distributed route
    val selfMsg = "[louvain] self-loop edge (3, 3) - input must be distinct " +
      "undirected pairs with a != b"
    val dupMsg = "[louvain] duplicate undirected edges (3 rows, 2 distinct pairs) - " +
      "duplicates silently skew m, degrees and every gain; distinct the edge list first"
    def refusal(df: org.apache.spark.sql.DataFrame, forced: Boolean): String = {
      def run() = operators.Louvain.communities(df, 2).collect()
      intercept[Exception] {
        if (forced) operators.LocalTier.forcingDistributed(run()) else run()
      }.getMessage
    }
    for (forced <- Seq(false, true)) {
      val m1 = refusal(selfLoop, forced)
      assert(m1.contains(selfMsg), s"forced=$forced: $m1")
      val m2 = refusal(dup, forced)
      assert(m2.contains(dupMsg), s"forced=$forced: $m2")
    }
  }

  test("louvain: converged state is a fixed point - longer budgets change nothing") {
    val clique = (ns: Seq[Long]) =>
      for (i <- ns.indices; j <- i + 1 until ns.size) yield (ns(i), ns(j))
    val df = (clique(Seq(1L, 2L, 3L, 4L)) ++ clique(Seq(5L, 6L, 7L, 8L)) :+ ((4L, 5L)))
      .toDF("a", "b")
    val a = operators.Louvain.communitiesMultiLevel(df, 4, levels = 2)
      .as[(Long, Long, Boolean)].collect().sortBy(_._1)
    val b = operators.Louvain.communitiesMultiLevel(df, 16, levels = 2)
      .as[(Long, Long, Boolean)].collect().sortBy(_._1)
    assert(a.sameElements(b), s"budget changed a converged result:\n$a\nvs\n$b")
  }
}
