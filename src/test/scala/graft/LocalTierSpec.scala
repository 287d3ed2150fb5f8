package graft

import org.apache.spark.sql.DataFrame

import scala.util.Random

/** The driver-local tiers of the size-gated operators (every one routes
  * through operators.LocalTier) must be BIT-IDENTICAL to the distributed
  * join plans they route around. Each test runs the same randomized
  * input through both tiers (the local route via the public entry
  * point, the distributed route forced with LocalTier.forcingDistributed)
  * and compares the full result sets exactly — values AND schema dtypes,
  * since the driver's oracle hash is type-sensitive. Floating keys (NaN,
  * -0.0) are among the inputs: Spark's grouping collapses them where a
  * driver-side hash map would not, so the key rule must route them to
  * the distributed plan.
  */
class LocalTierSpec extends SparkSpec {
  import spark.implicits._
  import operators.LocalTier.forcingDistributed

  private val rng = new Random(1715)

  private def sortedRows(df: DataFrame): Seq[Seq[String]] =
    df.collect().map(_.toSeq.map(String.valueOf)).toSeq.sortBy(_.mkString(""))

  private def assertSame(local: DataFrame, dist: DataFrame, what: String): Unit = {
    assert(local.schema.map(f => (f.name, f.dataType)) ===
      dist.schema.map(f => (f.name, f.dataType)), s"$what: schema diverged")
    assert(sortedRows(local) === sortedRows(dist), s"$what: rows diverged")
  }

  test("PrefixSpan local tier == distributed tier (free-gap and bounded-gap)") {
    val items = Array("a", "b", "c", "d", "e")
    val ev = (1 to 120).flatMap { sid =>
      val len = 3 + rng.nextInt(12)
      (1 to len).map(p => (s"s$sid", items(rng.nextInt(items.length)), p.toLong))
    }.toDF("sid", "e", "pos")
    val local = operators.PrefixSpan.frequentPatterns(ev, 40, 4)
    val dist = forcingDistributed(operators.PrefixSpan.frequentPatterns(ev, 40, 4))
    assertSame(local, dist, "PrefixSpan free-gap")
    val localG = operators.PrefixSpan.frequentPatternsMaxGap(ev, 25, 4, 2)
    val distG = forcingDistributed(operators.PrefixSpan.frequentPatternsMaxGap(ev, 25, 4, 2))
    assertSame(localG, distG, "PrefixSpan bounded-gap")
    // Double sids: Spark sees three sequences (NaN, ±0.0, 1.0); a
    // driver-side map keeps the three NaN rows apart
    val fev = Seq((Double.NaN, "a", 1L), (Double.NaN, "b", 2L), (Double.NaN, "a", 3L),
      (-0.0, "a", 1L), (0.0, "b", 2L), (1.0, "b", 1L)).toDF("sid", "e", "pos")
    assertSame(operators.PrefixSpan.frequentPatterns(fev, 60, 3),
      forcingDistributed(operators.PrefixSpan.frequentPatterns(fev, 60, 3)),
      "PrefixSpan floating sids")
  }

  test("Apriori local tier == distributed tier") {
    val items = Array("w", "x", "y", "z", "v", "u")
    val rows = (1 to 150).flatMap { bid =>
      (1 to 2 + rng.nextInt(5)).map(_ => (s"b$bid", items(rng.nextInt(items.length))))
    }.toDF("bid", "item")
    val local = operators.Apriori.frequentItemsets(rows, 10, 4)
    val dist = forcingDistributed(operators.Apriori.frequentItemsets(rows, 10, 4))
    assertSame(local, dist, "Apriori")
    // Double bids: the NaN rows and the -0.0/0.0 rows are one basket each
    val frows = Seq((Double.NaN, "x"), (Double.NaN, "y"), (-0.0, "x"), (0.0, "y"),
      (1.0, "x")).toDF("bid", "item")
    assertSame(operators.Apriori.frequentItemsets(frows, 60, 3),
      forcingDistributed(operators.Apriori.frequentItemsets(frows, 60, 3)),
      "Apriori floating bids")
  }

  test("Hits local tier == distributed tier") {
    val edges = (1 to 300)
      .map(_ => (rng.nextInt(15).toLong, 100L + rng.nextInt(20)))
      .toDF("src", "dst")
    val local = operators.Hits.run(edges, 3)
    val dist = forcingDistributed(operators.Hits.run(edges, 3))
    assertSame(local, dist, "Hits")
    // Double endpoints: NaN and -0.0/0.0 are one node each to Spark
    val fedges = Seq((Double.NaN, 1.0), (Double.NaN, 2.0), (-0.0, 1.0), (0.0, 2.0),
      (1.0, Double.NaN)).toDF("src", "dst")
    assertSame(operators.Hits.run(fedges, 2),
      forcingDistributed(operators.Hits.run(fedges, 2)), "Hits floating nodes")
  }

  test("LabelProp local tier == distributed tier (long labels, clamped seeds)") {
    val edges = (1 to 250)
      .map(_ => (rng.nextInt(40).toLong, rng.nextInt(40).toLong)).toDF("a", "b")
    val nodes = edges.select($"a".as("node"))
      .unionAll(edges.select($"b".as("node"))).distinct()
    val seeds = nodes.filter($"node" % 7 === 0)
      .select($"node", ($"node" % 3).as("lbl"))
    val local = operators.LabelProp.propagate(nodes, edges, seeds, iters = 3)
    val dist = forcingDistributed(operators.LabelProp.propagate(nodes, edges, seeds, iters = 3))
    assertSame(local, dist, "LabelProp")
  }

  test("Louvain full-local multilevel == distributed multilevel") {
    val pairs = (1 to 220)
      .map(_ => (rng.nextInt(35).toLong, rng.nextInt(35).toLong))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .distinct
    val edges = pairs.toDF("a", "b")
    val local = operators.Louvain.communitiesMultiLevel(edges, 4, 2)
    val dist = forcingDistributed(operators.Louvain.communitiesMultiLevel(edges, 4, 2))
    assertSame(local, dist, "Louvain multilevel")
  }

  test("ConnectedComponents local tier == distributed tier") {
    val edges = (1 to 180)
      .map(_ => (rng.nextInt(120).toLong, rng.nextInt(120).toLong)).toDF("a", "b")
    val nodes = spark.range(120).selectExpr("id as doc_id")
    val local = operators.ConnectedComponents.components(nodes, edges, "doc_id")
    val dist = forcingDistributed(
      operators.ConnectedComponents.components(nodes, edges, "doc_id", maxIter = 20))
    assertSame(local, dist, "ConnectedComponents")
    // truncated, NOT-converged state must also match: a 40-path at
    // maxIter 2 stops mid-propagation in both tiers
    val path = (0L until 39L).map(i => (i, i + 1)).toDF("a", "b")
    val pn = spark.range(40).selectExpr("id as doc_id")
    val localT = operators.ConnectedComponents.components(pn, path, "doc_id", maxIter = 2)
    val distT = forcingDistributed(
      operators.ConnectedComponents.components(pn, path, "doc_id", maxIter = 2))
    assertSame(localT, distT, "ConnectedComponents truncated")
  }

  test("gate-cache release never drops a CALLER's persisted frame") {
    // r16 ownership guard (the q182/q179 regression): persistOnce is a
    // no-op on an already-cached plan, so an operator that unpersists
    // its gate frames unconditionally would silently drop the caller's
    // shared cache (q182 passes an already-persisted LSH pair frame into
    // LabelProp; the first cut of the release cost its siblings the
    // entry — isolated 8.5s vs 5.2s guarded). Each operator must release
    // only caches IT created.
    val none = org.apache.spark.storage.StorageLevel.NONE
    val edges = graft.Q.persistOnce((1 to 250)
      .map(_ => (rng.nextInt(40).toLong, rng.nextInt(40).toLong)).toDF("a", "b"))
    try {
      val nodes = edges.select($"a".as("node"))
        .unionAll(edges.select($"b".as("node"))).distinct()
      val seeds = nodes.filter($"node" % 7 === 0)
        .select($"node", ($"node" % 3).as("lbl"))
      operators.LabelProp.propagate(nodes, edges, seeds, iters = 2).collect()
      assert(edges.storageLevel != none,
        "LabelProp's local route dropped the caller's edge cache")
      val cn = spark.range(40).selectExpr("id as doc_id")
      val ce = graft.Q.persistOnce(edges.select($"a" % 40, $"b" % 40).toDF("a", "b"))
      operators.ConnectedComponents.components(cn, ce, "doc_id").collect()
      assert(ce.storageLevel != none,
        "CC's local route dropped the caller's pair cache")
      ce.unpersist()
    } finally edges.unpersist()
  }

  test("Coverage local tier == distributed tier (exact and stochastic)") {
    val pairs = (1 to 400)
      .map(_ => (rng.nextInt(25).toLong, s"e${rng.nextInt(120)}")).toDF("doc_id", "sh")
    for (ppm <- Seq(None, Some(600000L))) {
      def select() = ppm match {
        case None => operators.Coverage.greedySelect(pairs, "doc_id", "sh", 5)
        case Some(p) => operators.Coverage.greedySelectStochastic(pairs, "doc_id", "sh", 5, p)
      }
      assertSame(select(), forcingDistributed(select()), s"Coverage ppm=$ppm")
    }
  }

  test("Bfs and Sssp local tiers == distributed tiers (incl. K-bounded truncation)") {
    val edges = (1 to 200)
      .map(_ => (rng.nextInt(50).toLong, rng.nextInt(50).toLong))
      .filter { case (a, b) => a != b }.distinct.toDF("src", "dst")
    for (rounds <- Seq(2, 6)) {
      val local = operators.Bfs.hops(edges, 0L, rounds)
      val dist = forcingDistributed(operators.Bfs.hops(edges, 0L, rounds))
      assertSame(local, dist, s"Bfs rounds=$rounds")
    }
    // the same graph with Int endpoints: both routes widen to
    // (node bigint, hops int) and return the Long-typed input's rows
    val intEdges = edges.selectExpr("cast(src as int) as src", "cast(dst as int) as dst")
    for (rounds <- Seq(2, 6)) {
      val expected = operators.Bfs.hops(edges, 0L, rounds)
      val local = operators.Bfs.hops(intEdges, 0L, rounds)
      val dist = forcingDistributed(operators.Bfs.hops(intEdges, 0L, rounds))
      for ((route, df) <- Seq("local" -> local, "distributed" -> dist)) {
        assert(df.schema.map(f => (f.name, f.dataType)) === Seq(
          "node" -> org.apache.spark.sql.types.LongType,
          "hops" -> org.apache.spark.sql.types.IntegerType),
          s"Bfs Int rounds=$rounds $route: ${df.schema}")
        assertSame(expected, df, s"Bfs Int rounds=$rounds $route")
      }
    }
    val wedges = (1 to 200)
      .map(_ => (rng.nextInt(40).toLong, rng.nextInt(40).toLong, 1L + rng.nextInt(9)))
      .filter { case (a, b, _) => a != b }.distinct.toDF("src", "dst", "w")
    for (rounds <- Seq(2, 5)) {
      val local = operators.Sssp.distances(wedges, 0L, rounds)
      val dist = forcingDistributed(operators.Sssp.distances(wedges, 0L, rounds))
      assertSame(local, dist, s"Sssp rounds=$rounds")
    }
  }

  test("hash60Local == the hash60 Column form") {
    val md = java.security.MessageDigest.getInstance("MD5")
    val inputs = (1 to 50).map(i => s"rw:$i:${rng.nextInt(1000)}:${rng.nextLong()}")
    val viaColumn = inputs.toDF("s")
      .select(functions.GraftFunctions.hash60(org.apache.spark.sql.functions.col("s")))
      .collect().map(_.getLong(0)).toSeq
    val viaLocal = inputs.map(s => functions.GraftFunctions.hash60Local(md, s))
    assert(viaColumn === viaLocal, "hash60Local diverged from the Column twin")
  }

  test("RandomWalk local tier == distributed tier") {
    val pairs = (1 to 240)
      .map(_ => (rng.nextInt(40).toLong, rng.nextInt(40).toLong))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .distinct
    val edges = pairs.toDF("a", "b")
    val local = operators.RandomWalk.walks(edges, 2, 3, "ltspin")
    val dist = forcingDistributed(operators.RandomWalk.walks(edges, 2, 3, "ltspin"))
    assertSame(local, dist, "RandomWalk")
  }

  test("KCore local tier == distributed tier (parallel edges and self-loops kept)") {
    val base = (1 to 260)
      .map(_ => (rng.nextInt(30).toLong, rng.nextInt(30).toLong))
    // a few deliberate duplicates: the degree multiset must match too
    val edges = (base ++ base.take(15)).toDF("a", "b")
    val local = operators.KCore.peel(edges, 3L, 4)
    val dist = forcingDistributed(operators.KCore.peel(edges, 3L, 4))
    assertSame(local, dist, "KCore")
  }
}
