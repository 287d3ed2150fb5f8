package graft

/** operators.RandomWalk — walk-corpus pins: every step follows a real
  * edge, walks have exactly steps+1 positions on connected graphs,
  * the corpus is deterministic in (edges, seed) and diverges across
  * seeds, and the intake refusals are loud. The q277 oracle replays
  * the identical md5-argmin choices; these pin the walk algebra.
  */
class RandomWalkSpec extends SparkSpec {
  import spark.implicits._
  import operators.RandomWalk

  private val trianglePlusTail =
    Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("a", "b")

  test("every step follows an edge of the symmetrized graph") {
    val out = RandomWalk.walks(trianglePlusTail, 2, 4, "s1")
      .as[(Long, Int, Int, Long)].collect()
    val adj = Set((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
      .flatMap { case (a, b) => Set((a, b), (b, a)) }
    val byWalk = out.groupBy(r => (r._1, r._2))
    byWalk.foreach { case ((start, w), rows) =>
      val path = rows.sortBy(_._3).map(_._4)
      assert(path.head == start, s"walk ($start,$w) does not begin at its start")
      path.sliding(2).foreach { case Array(u, v) =>
        assert(adj.contains((u, v)), s"walk ($start,$w) jumps $u -> $v off-graph")
      }
    }
  }

  test("connected graph: every walk has exactly steps+1 positions") {
    val out = RandomWalk.walks(trianglePlusTail, 3, 5, "s2")
      .groupBy("start", "w").count().as[(Long, Int, Long)].collect()
    assert(out.length == 4 * 3)
    assert(out.forall(_._3 == 6L), s"short walk: ${out.mkString(",")}")
  }

  test("deterministic in (edges, seed); different seeds diverge") {
    def corpus(seed: String) = RandomWalk.walks(trianglePlusTail, 2, 6, seed)
      .as[(Long, Int, Int, Long)].collect().sortBy(r => (r._1, r._2, r._3)).toSeq
    assert(corpus("sa") == corpus("sa"))
    assert(corpus("sa") != corpus("sb"),
      "14 choice points picked identically across seeds - hash not seed-driven")
  }

  test("isolated structure: a single-edge component just oscillates") {
    val out = RandomWalk.walks(Seq((7L, 8L)).toDF("a", "b"), 1, 3, "s3")
      .orderBy("start", "step").as[(Long, Int, Int, Long)].collect()
    assert(out.map(_._4).toSeq == Seq(7L, 8L, 7L, 8L, 8L, 7L, 8L, 7L))
  }

  test("intake refusals and caller contracts are loud") {
    val e1 = intercept[Exception] {
      RandomWalk.walks(Seq((1L, 1L)).toDF("a", "b"), 1, 2, "s").collect()
    }
    assert(e1.getMessage.contains("[randomwalk]") &&
      e1.getMessage.contains("self-loop"), e1.getMessage)
    val e2 = intercept[Exception] {
      RandomWalk.walks(Seq((1L, 2L), (2L, 1L)).toDF("a", "b"), 1, 2, "s").collect()
    }
    assert(e2.getMessage.contains("duplicate"), e2.getMessage)
    // the full text of the shared audit's refusals — RandomWalk's tag and
    // its own duplicate tail — on the local and the distributed route
    val selfMsg = "[randomwalk] self-loop edge (1, 1) - input must be distinct " +
      "undirected pairs with a != b"
    val dupMsg = "[randomwalk] duplicate undirected edges (2 rows, 1 distinct pairs) - " +
      "duplicates bias every step choice"
    def refusal(pairs: Seq[(Long, Long)], forced: Boolean): String = {
      def run() = RandomWalk.walks(pairs.toDF("a", "b"), 1, 2, "s").collect()
      intercept[Exception] {
        if (forced) operators.LocalTier.forcingDistributed(run()) else run()
      }.getMessage
    }
    for (forced <- Seq(false, true)) {
      val m1 = refusal(Seq((1L, 1L)), forced)
      assert(m1.contains(selfMsg), s"forced=$forced: $m1")
      val m2 = refusal(Seq((1L, 2L), (2L, 1L)), forced)
      assert(m2.contains(dupMsg), s"forced=$forced: $m2")
    }
    intercept[IllegalArgumentException](RandomWalk.walks(trianglePlusTail, 0, 2, "s"))
    intercept[IllegalArgumentException](RandomWalk.walks(trianglePlusTail, 1, 17, "s"))
    intercept[IllegalArgumentException](RandomWalk.walks(trianglePlusTail, 1, 2, "a:b"))
  }
}
