package graft

import scala.util.Random

import graft.operators.PageRank

/** Integer PageRank vs an in-memory reference on random graphs, plus the
  * closed-form checks (symmetric cycle, mass bounds). */
class PageRankSpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new Random(99)
  private val Scale = 1000000000000L

  /** Reference implementation: same truncating integer arithmetic. */
  private def reference(
      edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val n = nodes.length
    val outdeg = edges.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val base = (Scale * 15L / 100L) / n
    var score = nodes.map(_ -> Scale / n).toMap
    for (_ <- 0 until iters) {
      val in = edges
        .groupBy(_._2)
        .view.mapValues(_.map { case (s, _) =>
          (score(s) * 85L / 100L) / outdeg(s)
        }.sum).toMap
      score = nodes.map(v => v -> (base + in.getOrElse(v, 0L))).toMap
    }
    score
  }

  private def run(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] =
    PageRank.run(edges.toDF("s", "d"), "s", "d", iters)
      .as[(Long, Long)].collect().toMap

  test("PageRank matches the integer reference on random graphs") {
    for (trial <- 1 to 5) {
      val n = 4 + rnd.nextInt(8)
      val edges = (for {
        s <- 0L until n
        d <- 0L until n
        if s != d && rnd.nextInt(3) == 0
      } yield (s, d)).distinct
      if (edges.nonEmpty) {
        val iters = 1 + rnd.nextInt(3)
        assert(run(edges, iters) === reference(edges, iters), s"trial $trial")
      }
    }
  }

  test("local and distributed routes compute identical scores") {
    val edges = (for {
      s <- 0L until 9L; d <- 0L until 9L
      if s != d && (s + d) % 3 != 1
    } yield (s, d)).distinct
    val local = run(edges, 3)
    val dist = graft.operators.LocalTier.forcingDistributed(
      PageRank.run(edges.toDF("s", "d"), "s", "d", 3))
      .as[(Long, Long)].collect().toMap
    assert(local === dist)
  }

  test("symmetric 2-cycle keeps both scores equal") {
    val scores = run(Seq((1L, 2L), (2L, 1L)), 4)
    assert(scores(1L) === scores(2L))
  }

  test("total mass stays within scale (rounding only ever loses mass)") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L))
    val total = run(edges, 3).values.sum
    assert(total <= Scale)
    assert(total > Scale * 9 / 10)
  }

  test("zero iterations returns the uniform start vector") {
    val scores = run(Seq((1L, 2L), (2L, 1L), (3L, 1L)), 0)
    assert(scores.values.toSet === Set(Scale / 3))
  }

  // ---- personalized (seeded restart) tier ----

  /** Seeded reference: restart mass and it0 confined to the seed set. */
  private def referenceSeeded(
      edges: Seq[(Long, Long)], seeds: Set[Long], iters: Int): Map[Long, Long] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val k = seeds.size.toLong
    val outdeg = edges.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val base = (Scale * 15L / 100L) / k
    var score = nodes.map(v => v -> (if (seeds(v)) Scale / k else 0L)).toMap
    for (_ <- 0 until iters) {
      val in = edges.groupBy(_._2).view.mapValues(_.map { case (s, _) =>
        (score(s) * 85L / 100L) / outdeg(s)
      }.sum).toMap
      score = nodes.map(v =>
        v -> ((if (seeds(v)) base else 0L) + in.getOrElse(v, 0L))).toMap
    }
    score
  }

  private def runSeeded(edges: Seq[(Long, Long)], seeds: Set[Long], iters: Int): Map[Long, Long] =
    PageRank.runPersonalized(edges.toDF("s", "d"), "s", "d",
        seeds.toSeq.toDF("node"), "node", iters)
      .as[(Long, Long)].collect().toMap

  test("personalized matches the seeded integer reference on random graphs") {
    for (trial <- 1 to 5) {
      val n = 4 + rnd.nextInt(8)
      val edges = (for {
        s <- 0L until n
        d <- 0L until n
        if s != d && rnd.nextInt(3) == 0
      } yield (s, d)).distinct
      if (edges.nonEmpty) {
        val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
        val seeds = nodes.take(1 + rnd.nextInt(nodes.size)).toSet
        val iters = 1 + rnd.nextInt(3)
        assert(runSeeded(edges, seeds, iters) === referenceSeeded(edges, seeds, iters),
          s"trial $trial")
      }
    }
  }

  test("personalized: local and distributed routes agree") {
    val edges = (for {
      s <- 0L until 9L; d <- 0L until 9L
      if s != d && (s + d) % 3 != 1
    } yield (s, d)).distinct
    val seeds = Set(0L, 4L, 7L)
    assert(runSeeded(edges, seeds, 3) ===
      graft.operators.LocalTier.forcingDistributed(runSeeded(edges, seeds, 3)))
  }

  test("personalized: restart mass never lands outside the walk from the seeds") {
    // 1 <-> 2 strongly connected; 3 -> 1 feeds in but is unreachable
    // FROM the seed component, so its score must be exactly 0.
    val scores = runSeeded(Seq((1L, 2L), (2L, 1L), (3L, 1L)), Set(1L), 3)
    assert(scores(3L) === 0L)
    assert(scores(1L) > 0L && scores(2L) > 0L)
  }

  test("personalized with ALL nodes seeded equals the global rank") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L))
    assert(runSeeded(edges, Set(1L, 2L, 3L), 3) === run(edges, 3))
  }

  test("personalized refusals: empty seeds, seeds outside the graph") {
    val edges = Seq((1L, 2L), (2L, 1L))
    val eEmpty = intercept[IllegalArgumentException] {
      runSeeded(edges, Set.empty, 2)
    }
    assert(eEmpty.getMessage.contains("[ppr]"))
    val eMissing = intercept[IllegalArgumentException] {
      runSeeded(edges, Set(1L, 99L), 2)
    }
    assert(eMissing.getMessage.contains("99"))
  }
}
