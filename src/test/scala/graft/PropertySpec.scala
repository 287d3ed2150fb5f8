package graft

import graft.ingest.AgriPipeline
import graft.operators.AsOfJoin
import org.apache.spark.sql.functions._

import scala.util.Random

/** Property-style invariants over seeded random data (SURVEY.md §5.3):
  * dedup idempotence, union/dedup cardinality algebra, as-of join vs a
  * brute-force per-row maximum. */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new Random(1234)

  private def randomAgri(n: Int) = {
    val states = Seq("A", "B", "C")
    val commodities = Seq("x", "y", "z", null)
    (1 to n).map { _ =>
      (states(rnd.nextInt(3)), s"D${rnd.nextInt(4)}", s"M${rnd.nextInt(4)}",
        commodities(rnd.nextInt(4)), "v", "FAQ",
        java.sql.Date.valueOf(s"2020-01-${1 + rnd.nextInt(28)}"),
        if (rnd.nextInt(10) == 0) null else java.lang.Double.valueOf(rnd.nextInt(1000).toDouble),
        java.lang.Double.valueOf(rnd.nextInt(1000).toDouble))
    }.toDF("state", "district", "market", "commodity", "variety", "grade",
      "arrival_date", "modal_price", "min_price")
  }

  test("dedupNaturalKey is idempotent") {
    val df = randomAgri(2000)
    val once = AgriPipeline.dedupNaturalKey(df)
    val twice = AgriPipeline.dedupNaturalKey(once)
    assert(once.count() === twice.count())
    assert(once.exceptAll(twice).count() === 0)
  }

  test("dedup(a union a) == dedup(a)") {
    val df = randomAgri(1500)
    val d1 = AgriPipeline.dedupNaturalKey(df)
    val d2 = AgriPipeline.dedupNaturalKey(df.unionAll(df))
    assert(d1.count() === d2.count())
    assert(d1.exceptAll(d2).count() === 0)
  }

  test("dedup key count equals distinct natural-key count") {
    val df = randomAgri(3000)
    val key = Seq("state", "district", "market", "commodity", "variety", "grade", "arrival_date")
    val expected = df.select(key.map(col): _*).distinct().count()
    assert(AgriPipeline.dedupNaturalKey(df).count() === expected)
  }

  test("banded simhash pigeonhole: finds EVERY pair at Hamming dist < bands (random sketches)") {
    // random 60-bit sketches with planted near-dup clusters (flip 1-3 bits)
    val base = (0 until 200).map(_ => rnd.nextLong() & ((1L << 60) - 1))
    val planted = base.take(30).map { h =>
      (0 until (1 + rnd.nextInt(3))).foldLeft(h)((acc, _) => acc ^ (1L << rnd.nextInt(60)))
    }
    val sketches = (base ++ planted).zipWithIndex
      .map { case (h, i) => (i.toLong, h) }.toDF("id", "simhash")
    val banded = graft.operators.Dedup
      .simhashBandedTopPairs(sketches, "id", "simhash", k = 100000, bands = 4, bitsPerBand = 15)
      .as[(Long, Long, Int)].collect().toSet
    // brute-force ground truth
    val all = (base ++ planted).zipWithIndex
    for {
      (ha, ia) <- all; (hb, ib) <- all if ia < ib
      d = java.lang.Long.bitCount(ha ^ hb) if d < 4
    } assert(banded.contains((ia.toLong, ib.toLong, d)),
      s"banded missed pair ($ia,$ib) at dist $d")
  }

  test("graft_capped_collect: exact sorted postings below cap, over-cap groups detectable") {
    // groups of varying size around the cap; repeated over many
    // partitions so partial-aggregation merges are exercised
    val cap = 8
    val rows = (0 until 40).flatMap { g =>
      val sz = 1 + (g % 15) // sizes 1..15 vs cap 8
      (0 until sz).map(i => (s"g$g", g * 100L + i))
    }
    val df = rows.toDF("k", "id").repartition(13)
    val out = df.groupBy(col("k"))
      .agg(call_function("graft_capped_collect", col("id"), lit(cap + 1)).as("ids"))
      .as[(String, Seq[Long])].collect().toMap
    (0 until 40).foreach { g =>
      val sz = 1 + (g % 15)
      val got = out(s"g$g")
      if (sz <= cap) {
        // below cap: exact, sorted ascending
        assert(got === (0 until sz).map(g * 100L + _),
          s"g$g: expected exact sorted postings, got $got")
      } else {
        // over cap: buffer pinned at cap+1 — the caller's drop marker
        assert(got.length === cap + 1, s"g$g: over-cap group not marked: $got")
        assert(got.toSet.subsetOf((0 until sz).map(g * 100L + _).toSet))
      }
    }
  }

  test("capped jaccardPairs equals uncapped when no shingle exceeds the cap") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val idx = graft.operators.Dedup.shingleIndex(docs, "doc_id", "text", 3).persist()
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select(col("a").cast("long"), col("b").cast("long"), round(col("jacc"), 9))
      .as[(Long, Long, Double)].collect().toSet
    // sf0.001 max shingle df is far below 1000, so the capped (fused
    // bounded-buffer) plan must agree bit-for-bit with the uncapped
    // self-join plan
    val uncapped = key(graft.operators.Dedup.jaccardPairs(idx, "doc_id"))
    val capped = key(graft.operators.Dedup.jaccardPairs(idx, "doc_id", maxDf = 1000))
    assert(capped === uncapped)
    assert(capped.nonEmpty)
    idx.unpersist()
  }

  test("t-digest quantiles track exact percentiles across partial-agg merges") {
    // heavy-tailed deterministic data over many partitions so map-side
    // digests must merge; exact values from Spark's percentile()
    val df = (1 to 60000).map { i =>
      val u = (i * 2654435761L % 60000) / 60000.0 + 1e-9
      ("g" + (i % 3), math.pow(u, 3) * 10000.0) // cubed uniform: skewed
    }.toDF("g", "x").repartition(17)
    val row = df.groupBy(col("g"))
      .agg(
        call_function("graft_tdigest", col("x"), lit(0.1), lit(0.5), lit(0.9), lit(0.99)).as("td"),
        expr("percentile(x, array(0.1, 0.5, 0.9, 0.99))").as("ep"))
      .collect()
    assert(row.length === 3)
    row.foreach { r =>
      val td = r.getSeq[Double](1)
      val ep = r.getSeq[Double](2)
      td.zip(ep).zipWithIndex.foreach { case ((a, e), i) =>
        assert(math.abs(a - e) / e <= 0.02,
          s"g=${r.getString(0)} p#$i: tdigest=$a exact=$e off by ${math.abs(a - e) / e}")
      }
    }
  }

  test("connected components equal an in-memory union-find on random graphs") {
    // The distributed CC is otherwise pinned by a single oracle query
    // (q117's transitive-closure CTE at one SF); this drives it across
    // random shapes — sparse, dense, and edge-free — against union-find.
    def unionFind(nodes: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map(nodes.map(n => n -> n): _*)
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
        r
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(ra max rb) = ra min rb
      }
      // representative = min id in the component
      val byRoot = nodes.groupBy(find)
      byRoot.flatMap { case (_, members) =>
        val m = members.min; members.map(_ -> m)
      }
    }
    val shapes = Seq(
      (40, 0),    // all isolated
      (60, 30),   // sparse: many small components + isolated nodes
      (50, 200),  // dense: few giant components
      (80, 80),   // ~critical
    )
    for (((n, e), shape) <- shapes.zipWithIndex; trial <- 0 until 3) {
      val r = new Random(7000 + shape * 100 + trial)
      // non-contiguous ids: components must not assume 0..n-1
      val nodes = (0 until n).map(i => i.toLong * 7 + r.nextInt(3))
        .distinct
      val edges = (0 until e).map(_ =>
        (nodes(r.nextInt(nodes.size)), nodes(r.nextInt(nodes.size))))
        .filter { case (a, b) => a != b }
      val expected = unionFind(nodes, edges)
      val got = graft.operators.ConnectedComponents.components(
        nodes.toDF("id"),
        if (edges.isEmpty) Seq.empty[(Long, Long)].toDF("a", "b")
        else edges.toDF("a", "b"),
        "id")
        .as[(Long, Long)].collect().toMap
      assert(got === expected, s"shape=($n nodes, $e edges) trial=$trial")
    }
  }

  test("connected components converge on a path graph within O(log diameter) rounds") {
    // A 256-node path is the adversarial case for label propagation
    // (diameter 255): without pointer jumping it needs 255 rounds; with
    // path-halving, ~log2(255)+slack. maxIter=20 must suffice, and the
    // boundary maxIter=2 must return a partially-converged but
    // well-formed labeling (every label still a reachable min).
    val n = 256
    val nodes = (0L until n.toLong).toDF("id")
    val edges = (0L until (n - 1).toLong).map(i => (i, i + 1)).toDF("a", "b")
    val full = graft.operators.ConnectedComponents.components(nodes, edges, "id")
      .as[(Long, Long)].collect()
    assert(full.length === n)
    assert(full.forall(_._2 === 0L), "single path component must all label 0")

    val partial = graft.operators.ConnectedComponents.components(nodes, edges, "id", maxIter = 2)
      .as[(Long, Long)].collect()
    // labels only decrease and never invent ids outside the node set
    assert(partial.forall { case (id, comp) => comp >= 0L && comp <= id })
  }

  test("graft_tdigest accepts SQL-text decimal and integer percentile literals") {
    // 0.5 in SQL text parses as a DecimalType literal (Decimal payload,
    // not java.math.BigDecimal); 1 parses as an Int literal. Both must
    // build, and must agree with the lit(double) spelling.
    Seq((1, 10.0), (1, 20.0), (1, 30.0)).toDF("g", "x").createOrReplaceTempView("td_lit")
    val sqlRes = spark.sql(
      "SELECT graft_tdigest(x, 0.5, 1) AS td FROM td_lit GROUP BY g")
      .collect()(0).getSeq[Double](0)
    val dslRes = spark.table("td_lit").groupBy(col("g"))
      .agg(call_function("graft_tdigest", col("x"), lit(0.5), lit(1.0)).as("td"))
      .select("td").collect()(0).getSeq[Double](0)
    assert(sqlRes === dslRes)
    assert(sqlRes(1) === 30.0) // p=1 → max
  }

  test("binned overlap join equals the theta join on random intervals (each pair once)") {
    // random closed intervals, including negatives, zero-length, spans
    // much longer than the bin width, and bin-boundary endpoints
    for (trial <- 0 until 3) {
      val r = new Random(4200 + trial)
      def intervals(n: Int, tag: String) = (0 until n).map { i =>
        val s = r.nextInt(2000).toLong - 500
        val len = r.nextInt(4) match {
          case 0 => 0L // point interval
          case 1 => r.nextInt(10).toLong
          case 2 => r.nextInt(200).toLong // >> binWidth
          case _ => 32L // exactly one bin width
        }
        (s"$tag$i", s, s + len)
      }
      val left = intervals(300, "L").toDF("lid", "ls", "le")
      val right = intervals(200, "R").toDF("rid", "rs", "re")
      val binned = graft.operators.RangeJoin
        .overlapJoin(left, right, "ls", "le", "rs", "re", binWidth = 32)
        .select("lid", "rid").as[(String, String)].collect().toList
      val theta = left.join(right, col("ls") <= col("re") && col("rs") <= col("le"))
        .select("lid", "rid").as[(String, String)].collect().toList
      // exact same pair SET and no duplicates from multi-bin overlaps
      assert(binned.size === binned.toSet.size, s"trial $trial emitted duplicate pairs")
      assert(binned.toSet === theta.toSet, s"trial $trial pair set mismatch")
    }
  }

  test("overlapJoin refuses shared or reserved column names") {
    val a = Seq((1L, 5L, "x")).toDF("ls", "le", "tag")
    val clash = Seq((2L, 6L, "y")).toDF("rs", "re", "tag") // "tag" on both sides
    val ex = intercept[IllegalArgumentException] {
      graft.operators.RangeJoin.overlapJoin(a, clash, "ls", "le", "rs", "re", 8)
    }
    assert(ex.getMessage.contains("tag"))
    val reserved = Seq((2L, 6L, 1L)).toDF("rs", "re", "__bin")
    intercept[IllegalArgumentException] {
      graft.operators.RangeJoin.overlapJoin(a, reserved, "ls", "le", "rs", "re", 8)
    }
  }

  test("asOf forward/nearest/tolerance equal an in-memory reference") {
    val r = new Random(99)
    val leftRows = (1 to 400).map(_ => (r.nextInt(15).toLong, r.nextInt(1000).toLong))
      .zipWithIndex.map { case ((k, t), i) => (k, t, i.toLong) }
    // rv == rt so ties among equal-time right rows carry identical values
    val rightRows = (1 to 600).map(_ => (r.nextInt(15).toLong, r.nextInt(1000).toLong))
      .map { case (k, t) => (k, t, t) }
    val left = leftRows.toDF("k", "t", "lid")
    val right = rightRows.toDF("k", "t", "rv")
    val byKey = rightRows.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sorted }

    def expected(dir: String, tol: Option[Double]): Map[Long, Option[Long]] =
      leftRows.map { case (k, t, lid) =>
        val ts = byKey.getOrElse(k, Vector.empty)
        def ok(rt: Long) = tol.forall(x => math.abs(rt - t) <= x)
        val m = dir match {
          case "backward" => ts.filter(rt => rt <= t && ok(rt)).lastOption
          case "forward" => ts.filter(rt => rt >= t && ok(rt)).headOption
          case "nearest" =>
            val c = ts.filter(ok)
            if (c.isEmpty) None
            else Some(c.minBy(rt => (math.abs(rt - t), rt > t))) // tie -> backward
        }
        lid -> m
      }.toMap

    for ((dir, tol) <- Seq(("backward", Some(30.0)), ("forward", None),
        ("forward", Some(25.0)), ("nearest", None), ("nearest", Some(10.0)))) {
      val got = AsOfJoin.asOf(left, right, Seq("k"), "t", "t", Seq("rv"), dir, tol)
        .select("lid", "asof_rv").as[(Long, Option[Long])].collect().toMap
      val exp = expected(dir, tol)
      assert(got.size === exp.size, s"$dir/$tol row count")
      exp.foreach { case (lid, m) =>
        assert(got(lid) === m, s"dir=$dir tol=$tol lid=$lid got=${got(lid)} exp=$m")
      }
    }
  }

  test("asOf duplicate right timestamps resolve deterministically in all directions") {
    val r = new Random(7)
    // every (k, t) appears 3x with DISTINCT values — pure tie stress.
    // Contract under ties: the carried struct (rv first field) is the
    // GREATEST for backward and nearest-ties, the LEAST for forward.
    val rightRows = for {
      k <- 0L until 8L; t <- Seq(100L, 200L, 300L); dup <- 1 to 3
    } yield (k, t, t * 10 + dup + k)
    val leftRows = (1 to 200).map(_ => (r.nextInt(8).toLong, r.nextInt(400).toLong))
      .zipWithIndex.map { case ((k, t), i) => (k, t, i.toLong) }
    val byKey = rightRows.groupBy(_._1)

    def expected(dir: String): Map[Long, Option[Long]] =
      leftRows.map { case (k, t, lid) =>
        val ts = byKey.getOrElse(k, Seq.empty)
        val m = dir match {
          case "backward" =>
            val c = ts.filter(_._2 <= t)
            if (c.isEmpty) None else Some(c.maxBy(x => (x._2, x._3))._3)
          case "forward" =>
            val c = ts.filter(_._2 >= t)
            if (c.isEmpty) None else Some(c.minBy(x => (x._2, x._3))._3)
          case "nearest" =>
            // nearest = the better of the two directional carries, so a
            // forward win carries forward's LEAST-value tie resolution
            val b = ts.filter(_._2 <= t) match {
              case c if c.isEmpty => None; case c => Some(c.maxBy(x => (x._2, x._3)))
            }
            val f = ts.filter(_._2 >= t) match {
              case c if c.isEmpty => None; case c => Some(c.minBy(x => (x._2, x._3)))
            }
            (b, f) match {
              case (None, x) => x.map(_._3)
              case (x, None) => x.map(_._3)
              case (Some(bb), Some(ff)) =>
                if (math.abs(ff._2 - t) < math.abs(bb._2 - t)) Some(ff._3) else Some(bb._3)
            }
        }
        lid -> m
      }.toMap

    // three physically different input layouts must all give the pinned answer
    val layouts = Seq(
      (rightRows.toDF("k", "t", "rv"), leftRows.toDF("k", "t", "lid")),
      (r.shuffle(rightRows).toDF("k", "t", "rv").repartition(7),
        r.shuffle(leftRows).toDF("k", "t", "lid").repartition(5)),
      (rightRows.reverse.toDF("k", "t", "rv").repartition(1),
        leftRows.reverse.toDF("k", "t", "lid").repartition(3)))
    for (dir <- Seq("backward", "forward", "nearest"); (right, left) <- layouts) {
      val got = AsOfJoin.asOf(left, right, Seq("k"), "t", "t", Seq("rv"), dir)
        .select("lid", "asof_rv").as[(Long, Option[Long])].collect().toMap
      val exp = expected(dir)
      assert(got.size === exp.size)
      exp.foreach { case (lid, m) =>
        assert(got(lid) === m, s"dir=$dir lid=$lid got=${got(lid)} exp=$m")
      }
    }
  }

  test("asOf join equals brute-force max-of-earlier per left row") {
    val left = (1 to 500).map(_ => (rnd.nextInt(20).toLong, rnd.nextInt(10000).toLong))
      .zipWithIndex.map { case ((k, t), i) => (k, t, i.toLong) }
      .toDF("k", "t", "lid")
    val right = (1 to 800).map(_ => (rnd.nextInt(20).toLong, rnd.nextInt(10000).toLong))
      .toDF("k", "t").withColumn("rv", col("t"))
    val fast = AsOfJoin.asOf(left, right, Seq("k"), "t", "t", Seq("rv"))
      .select("lid", "asof_rv").as[(Long, Option[Long])].collect().toMap
    // brute force: max right t <= left t within key
    val brute = left.as("l").join(right.as("r"),
        col("l.k") === col("r.k") && col("r.t") <= col("l.t"), "left_outer")
      .groupBy(col("lid")).agg(max(col("r.rv")).as("mx"))
      .as[(Long, Option[Long])].collect().toMap
    assert(fast.size === brute.size)
    brute.foreach { case (lid, mx) =>
      assert(fast(lid) === mx, s"lid=$lid fast=${fast(lid)} brute=$mx")
    }
  }
}
