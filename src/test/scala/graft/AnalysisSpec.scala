package graft

import graft.operators.{EvalMetrics, PrefixSum, Triangles}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Property pins for the evaluation/monitoring wing (SURVEY.md B80-B84):
  * every statistic must agree exactly with an in-memory brute-force
  * reference across randomized inputs — the same contract the DuckDB
  * oracles enforce cross-engine at sf0.01, asserted here at the unit
  * level against from-first-principles implementations.
  */
class AnalysisSpec extends SparkSpec {
  import spark.implicits._

  private val rng = new scala.util.Random(4242)

  test("PrefixSum.runningSums equals the single-partition reference") {
    val rows = Seq.tabulate(500)(i => (rng.nextInt(80).toLong, rng.nextInt(5).toLong, rng.nextInt(3).toLong))
    // keys may repeat across rows: make the order total by adding a unique id
    val df = rows.zipWithIndex.map { case ((k, x, y), id) => (k, id.toLong, x, y) }
      .toDF("k", "id", "x", "y")
    val got = PrefixSum.runningSums(df, Seq(col("k"), col("id")), Seq("x", "y"))
      .select("k", "id", "c_x", "c_y").as[(Long, Long, Long, Long)].collect().sortBy(r => (r._1, r._2))
    val sorted = rows.zipWithIndex.map { case ((k, x, y), id) => (k, id.toLong, x, y) }
      .sortBy(r => (r._1, r._2))
    var (cx, cy) = (0L, 0L)
    val want = sorted.map { case (k, id, x, y) => cx += x; cy += y; (k, id, cx, cy) }
    assert(got.toSeq == want)
  }

  test("PrefixSum is invariant to input partitioning") {
    // The broadcast-offset machinery is the partition-sensitive part:
    // the same data arriving pre-partitioned any which way must produce
    // identical running sums (the range exchange renormalizes layout).
    val rows = Seq.tabulate(300)(i => (rng.nextInt(40).toLong, i.toLong, rng.nextInt(9).toLong))
    def run(parts: Int) = PrefixSum
      .runningSums(rows.toDF("k", "id", "x").repartition(parts), Seq(col("k"), col("id")), Seq("x"))
      .select("k", "id", "c_x").as[(Long, Long, Long)].collect().sortBy(r => (r._1, r._2)).toSeq
    assert(run(1) == run(7))
    assert(run(7) == run(32))
  }

  test("PrefixSum rejects nulls in a sum column loudly") {
    val df = Seq((1L, Some(2L)), (2L, None: Option[Long]), (3L, Some(4L)))
      .toDF("id", "x")
    val e = intercept[Exception] {
      PrefixSum.runningSums(df, Seq(col("id")), Seq("x")).collect()
    }
    def chain(t: Throwable): String =
      if (t == null) "" else t.getMessage + "|" + chain(t.getCause)
    assert(chain(e).contains("[prefix-sum] null in sum column 'x'"))
  }

  test("PrefixSum stays correct under a dominant duplicate order key") {
    // 40% of rows share one key value: the range exchange cannot split
    // that run, but the running sums must still be exact (the skew
    // contract is a straggler warning, never a correctness caveat).
    val rows = Seq.tabulate(500) { i =>
      val k = if (i % 5 < 2) 7L else rng.nextInt(40).toLong
      (k, i.toLong, rng.nextInt(9).toLong)
    }
    val got = PrefixSum.runningSums(rows.toDF("k", "id", "x"), Seq(col("k"), col("id")), Seq("x"))
      .select("k", "id", "c_x").as[(Long, Long, Long)].collect().sortBy(r => (r._1, r._2))
    var cx = 0L
    val want = rows.sortBy(r => (r._1, r._2)).map { case (k, id, x) => cx += x; (k, id, cx) }
    assert(got.toSeq == want)
  }

  test("skewWarning fires on a dominant partition and stays quiet otherwise") {
    // dominant: one of ten partitions holds 80% of rows (8x fair share)
    val dominant = 80L +: Seq.fill(9)(2L)
    assert(PrefixSum.skewWarning(dominant, minRows = 50L).isDefined)
    // uniform: nobody exceeds 4x fair share
    assert(PrefixSum.skewWarning(Seq.fill(10)(25L), minRows = 1L).isEmpty)
    // dominant but tiny: below minRows, finishes fast regardless
    assert(PrefixSum.skewWarning(dominant, minRows = 1000L).isEmpty)
    // degenerate inputs
    assert(PrefixSum.skewWarning(Nil, minRows = 1L).isEmpty)
    assert(PrefixSum.skewWarning(Seq(100L), minRows = 1L).isEmpty)
  }

  test("ksTest equals brute force (exact rational, smallest-arg sup)") {
    for (trial <- 1 to 5) {
      val s1 = Seq.fill(60 + trial)(rng.nextInt(25).toLong)
      val s2 = Seq.fill(80 - trial)(rng.nextInt(25).toLong + trial)
      val df = (s1.map((_, true)) ++ s2.map((_, false))).toDF("v", "s1")
      val got = EvalMetrics.ksTest(df, col("s1"), col("v"))
        .as[(Long, Long, Long, Long, Long)].collect().head
      val (n1, n2) = (s1.size.toLong, s2.size.toLong)
      val pooled = (s1 ++ s2).distinct.sorted
      val diffs = pooled.map { v =>
        val c1 = s1.count(_ <= v).toLong
        val c2 = s2.count(_ <= v).toLong
        (math.abs(c1 * n2 - c2 * n1), v)
      }
      val dMax = diffs.map(_._1).max
      val at = diffs.filter(_._1 == dMax).map(_._2).min
      assert(got == ((n1, n2, dMax, n1 * n2, at)), s"trial $trial")
    }
  }

  test("cvmTest equals the BigInt floored reference") {
    for (trial <- 1 to 5) {
      val s1 = Seq.fill(60 + trial)(rng.nextInt(25).toLong)
      val s2 = Seq.fill(80 - trial)(rng.nextInt(25).toLong + trial)
      val df = (s1.map((_, true)) ++ s2.map((_, false))).toDF("v", "s1")
      val got = EvalMetrics.cvmTest(df, col("s1"), col("v"))
        .as[(Long, Long, Long, Long)].collect().head
      val (n1, n2) = (s1.size.toLong, s2.size.toLong)
      val nn = BigInt(n1) * n2
      val num = (s1 ++ s2).distinct.sorted.map { v =>
        val c1 = s1.count(_ <= v).toLong
        val c2 = s2.count(_ <= v).toLong
        val cc = (s1.count(_ == v) + s2.count(_ == v)).toLong
        val d = (BigInt(c1) * n2 - BigInt(c2) * n1).abs
        (BigInt(cc) * (d * d / nn)).toLong
      }.sum
      val bigN = n1 + n2
      assert(got == ((n1, n2, num, bigN * bigN)), s"trial $trial")
      // the floored statistic approximates the float T from below, within
      // one d²/(n1·n2) unit per distinct value
      val tFloat = (s1 ++ s2).map { v =>
        val f1 = s1.count(_ <= v).toDouble / n1
        val f2 = s2.count(_ <= v).toDouble / n2
        (f1 - f2) * (f1 - f2)
      }.sum * n1 * n2 / (bigN.toDouble * bigN)
      val tInt = num.toDouble / (bigN * bigN)
      assert(tInt <= tFloat + 1e-12, s"trial $trial: floored above float")
      // flooring loses < 1 unit of d²/(n1·n2) per distinct value BEFORE
      // the cc multiply, so the total loss is < Σ cc = N units of 1/N²
      assert(tFloat - tInt <= 1.0 / bigN,
        s"trial $trial: flooring loss above the documented bound")
    }
  }

  test("cvmTest fails fast on an empty sample") {
    val oneSided = Seq((1L, true), (2L, true), (3L, true)).toDF("v", "s1")
    val e = intercept[Exception] {
      EvalMetrics.cvmTest(oneSided, col("s1"), col("v")).collect()
    }
    assert(causeChain(e).contains("[eval-metrics] cvmTest needs both samples non-empty"))
  }

  test("rocAuc equals quadratic pair counting (ties at half credit)") {
    for (trial <- 1 to 5) {
      val pos = Seq.fill(40)(rng.nextInt(15).toLong)
      val neg = Seq.fill(55)(rng.nextInt(15).toLong)
      val df = (pos.map((_, true)) ++ neg.map((_, false))).toDF("s", "y")
      val got = EvalMetrics.rocAuc(df, col("y"), col("s"))
        .as[(Long, Long, Long, Long)].collect().head
      val twoU = (for (p <- pos; n <- neg)
        yield if (p > n) 2L else if (p == n) 1L else 0L).sum
      assert(got == ((pos.size.toLong, neg.size.toLong, twoU, 2L * pos.size * neg.size)), s"trial $trial")
    }
  }

  private def causeChain(t: Throwable): String =
    if (t == null) "" else t.getMessage + "|" + causeChain(t.getCause)

  test("ksTest and rocAuc fail fast on an empty sample/class") {
    val oneSided = Seq((1L, true), (2L, true), (3L, true)).toDF("v", "s1")
    val e1 = intercept[Exception] {
      EvalMetrics.ksTest(oneSided, col("s1"), col("v")).collect()
    }
    assert(causeChain(e1).contains("[eval-metrics] ksTest needs both samples non-empty"))
    val e2 = intercept[Exception] {
      EvalMetrics.rocAuc(oneSided, col("s1"), col("v")).collect()
    }
    assert(causeChain(e2).contains("[eval-metrics] rocAuc needs both classes non-empty"))
  }

  test("NULL predicate rows count toward sample 2 / the negative class") {
    val df = Seq((1L, Some(true)), (2L, None: Option[Boolean]), (3L, Some(false)), (4L, Some(true)))
      .toDF("v", "s1")
    val ks = EvalMetrics.ksTest(df, col("s1"), col("v"))
      .select("n1", "n2").as[(Long, Long)].collect().head
    assert(ks == ((2L, 2L))) // the NULL row landed in sample 2
    val auc = EvalMetrics.rocAuc(df, col("s1"), col("v"))
      .select("n_pos", "n_neg").as[(Long, Long)].collect().head
    assert(auc == ((2L, 2L)))
  }

  test("ksTestBinned: exact over bin ids, below exact D, gap within bin mass") {
    for (trial <- 1 to 3) {
      val s1 = Seq.fill(300)(rng.nextInt(1000).toLong)
      val s2 = Seq.fill(350)(rng.nextInt(1000).toLong + 60 * trial)
      val df = (s1.map((_, true)) ++ s2.map((_, false))).toDF("v", "s1")
      val bins = 16
      val (n1, n2) = (s1.size.toLong, s2.size.toLong)

      // the binned statistic must BE the exact statistic over bin ids:
      // brute-force it from the operator's own bin assignment
      val binned = EvalMetrics.quantileBin(df, col("v"), bins)
        .select(col("bin"), col("s1")).as[(Long, Boolean)].collect()
      val binIds = binned.map(_._1).distinct.sorted
      val diffs = binIds.map { b =>
        val c1 = binned.count(r => r._1 <= b && r._2).toLong
        val c2 = binned.count(r => r._1 <= b && !r._2).toLong
        (math.abs(c1 * n2 - c2 * n1), b)
      }
      val wantD = diffs.map(_._1).max
      val got = EvalMetrics.ksTestBinned(df, col("s1"), col("v"), bins)
        .select("n1", "n2", "d_num", "d_den", "bins")
        .as[(Long, Long, Long, Long, Int)].collect().head
      assert(got._1 == n1 && got._2 == n2 && got._4 == n1 * n2 && got._5 == bins, s"trial $trial")
      assert(got._3 == wantD, s"trial $trial binned != exact-over-bins")

      // vs the exact unbinned D (same denominator): below, and the gap
      // bounded by the largest per-sample single-bin mass cleared to n1*n2
      val exactD = {
        val pooled = (s1 ++ s2).distinct
        pooled.map { v =>
          val c1 = s1.count(_ <= v).toLong
          val c2 = s2.count(_ <= v).toLong
          math.abs(c1 * n2 - c2 * n1)
        }.max
      }
      assert(got._3 <= exactD, s"trial $trial binned above exact")
      val maxMass = binIds.map { b =>
        val m1 = binned.count(r => r._1 == b && r._2).toLong
        val m2 = binned.count(r => r._1 == b && !r._2).toLong
        math.max(m1 * n2, m2 * n1)
      }.max
      assert(exactD - got._3 <= maxMass, s"trial $trial gap above bin mass")
    }
  }

  test("rescaled counts tier survives beyond the 2^63 product bound (BigInt reference)") {
    // Synthetic per-bin histograms with ~6e10 rows per sample: n1*n2 ~
    // 4e21 >> 2^63, so the exact tier's guard would raise — the rescaled
    // tier must run, and its D must match the BigInt-exact D to within
    // the documented flooring term (bins * 2^k rows per sample).
    val bins = 16
    val counts = Seq.tabulate(bins) { b =>
      (b.toLong,
        3_500_000_000L + b * 137_000_000L, // sample 1 leans low bins
        3_500_000_000L + (bins - 1 - b) * 151_000_000L) // sample 2 leans high
    }
    val df = counts.toDF("v", "p", "q")
    intercept[Exception] { EvalMetrics.ksTestCounts(df).collect() } // exact tier refuses
    val got = EvalMetrics.ksTestCountsRescaled(df)
      .select("n1", "n2", "d_num", "d_den").as[(Long, Long, Long, Long)].collect().head
    val (n1, n2) = (counts.map(_._2).sum, counts.map(_._3).sum)
    assert(got._1 > 0L && got._2 > 0L && got._4 > 0L)
    val k = math.max(0, math.ceil(
      (math.log(n1.toDouble) / math.log(2) + math.log(n2.toDouble) / math.log(2) - 60) / 2).toInt)
    assert(k > 0, "test must actually exercise the rescale path")
    // BigInt-exact D vs the rescaled rational
    val exactD = {
      var (c1, c2) = (BigInt(0), BigInt(0))
      counts.map { case (_, p, q) =>
        c1 += p; c2 += q
        (c1 * n2 - c2 * n1).abs
      }.max
    }
    val dExact = BigDecimal(exactD) / (BigDecimal(n1) * BigDecimal(n2))
    val dScaled = BigDecimal(got._3) / BigDecimal(got._4)
    val floorTerm = BigDecimal(bins.toLong * (1L << k)) /
      BigDecimal(math.min(got._1, got._2)) // rescaled-unit sample sizes
    assert((dExact - dScaled).abs <= floorTerm,
      s"k=$k dExact=$dExact dScaled=$dScaled floorTerm=$floorTerm")
    // AUC twin: runs, stays in [0, 1], exact tier refuses the same input
    intercept[Exception] {
      EvalMetrics.rocAucCounts(df.withColumnRenamed("v", "s")).collect()
    }
    val auc = EvalMetrics.rocAucCountsRescaled(df.withColumnRenamed("v", "s"))
      .select("auc_num", "auc_den").as[(Long, Long)].collect().head
    assert(auc._2 > 0L && auc._1 >= 0L && auc._1 <= auc._2)
  }

  test("rescale is a bit-identical no-op inside the bound") {
    val counts = Seq((1L, 10L, 20L), (2L, 30L, 5L), (5L, 7L, 9L))
    val a = EvalMetrics.ksTestCounts(counts.toDF("v", "p", "q"))
      .as[(Long, Long, Long, Long, Long)].collect().head
    val b = EvalMetrics.ksTestCountsRescaled(counts.toDF("v", "p", "q"))
      .as[(Long, Long, Long, Long, Long)].collect().head
    assert(a == b)
  }

  test("rocAucBinned: exact over bin ids, within the tie-mass band of exact") {
    for (trial <- 1 to 3) {
      val pos = Seq.fill(250)(rng.nextInt(900).toLong + 40 * trial)
      val neg = Seq.fill(300)(rng.nextInt(900).toLong)
      val df = (pos.map((_, true)) ++ neg.map((_, false))).toDF("s", "y")
      val bins = 16
      val binned = EvalMetrics.quantileBin(df, col("s"), bins)
        .select(col("bin"), col("y")).as[(Long, Boolean)].collect()
      val bp = binned.filter(_._2).map(_._1)
      val bn = binned.filterNot(_._2).map(_._1)
      val want2U = (for (p <- bp; n <- bn)
        yield if (p > n) 2L else if (p == n) 1L else 0L).sum
      val got = EvalMetrics.rocAucBinned(df, col("y"), col("s"), bins)
        .select("n_pos", "n_neg", "auc_num", "auc_den", "bins")
        .as[(Long, Long, Long, Long, Int)].collect().head
      assert(got == ((pos.size.toLong, neg.size.toLong, want2U,
        2L * pos.size * neg.size, bins)), s"trial $trial")
      // |2U_exact - 2U_binned| <= sum over bins of pos_k*neg_k
      val exact2U = (for (p <- pos; n <- neg)
        yield if (p > n) 2L else if (p == n) 1L else 0L).sum
      val tieMass = bp.groupBy(identity).map { case (b, g) =>
        g.size.toLong * bn.count(_ == b) }.sum
      assert(math.abs(exact2U - want2U) <= tieMass, s"trial $trial tie-mass bound")
    }
  }

  test("ksTestPerGroup equals brute force for every group (each vs rest)") {
    for (trial <- 1 to 3) {
      val rows = Seq.fill(400)((s"g${rng.nextInt(5)}", rng.nextInt(12).toLong + trial))
      val df = rows.toDF("g", "v")
      val got = EvalMetrics.ksTestPerGroup(df, col("g"), col("v"))
        .as[(String, Long, Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
      val n = rows.size.toLong
      val vals = rows.map(_._2).distinct.sorted
      for (g <- rows.map(_._1).distinct) {
        val ing = rows.filter(_._1 == g).map(_._2)
        val out = rows.filterNot(_._1 == g).map(_._2)
        val (n1, n2) = (ing.size.toLong, out.size.toLong)
        // the sup must range over ALL distinct values, including those
        // the group never saw (F_rest keeps jumping there)
        val d = vals.map { v =>
          math.abs(ing.count(_ <= v) * n2 - out.count(_ <= v) * n1)
        }.max
        assert(got(g) == ((n1, n2, d, n1 * n2)), s"trial $trial group $g")
        assert(n1 + n2 == n)
      }
    }
  }

  test("ksTestPerGroup fails fast when one group IS the whole corpus") {
    val df = Seq(("only", 1L), ("only", 2L)).toDF("g", "v")
    val e = intercept[Exception] {
      EvalMetrics.ksTestPerGroup(df, col("g"), col("v")).collect()
    }
    assert(causeChain(e).contains("[eval-metrics] ksTestPerGroup needs every group"))
  }

  test("rocAucPerGroup equals per-group quadratic pair counting; 0/0 on single-class") {
    for (trial <- 1 to 3) {
      val rows = Seq.fill(300)(
        (s"g${rng.nextInt(4)}", rng.nextBoolean(), rng.nextInt(20).toLong)) ++
        Seq.fill(10)(("onlypos", true, rng.nextInt(20).toLong)) // single-class slice
      val df = rows.toDF("g", "y", "s")
      val got = EvalMetrics.rocAucPerGroup(df, col("g"), col("y"), col("s"))
        .as[(String, Long, Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
      for (g <- rows.map(_._1).distinct) {
        val pos = rows.filter(r => r._1 == g && r._2).map(_._3)
        val neg = rows.filter(r => r._1 == g && !r._2).map(_._3)
        val twoU = (for (p <- pos; n <- neg)
          yield if (p > n) 2L else if (p == n) 1L else 0L).sum
        assert(got(g) == ((pos.size.toLong, neg.size.toLong, twoU,
          2L * pos.size * neg.size)), s"trial $trial group $g")
      }
      assert(got("onlypos")._4 == 0L, "single-class slice must emit the 0/0 rational")
    }
  }

  test("cohenKappa equals the direct formula") {
    val pairs = Seq.fill(300)((rng.nextInt(4), rng.nextInt(4)))
    val confusion = pairs.groupBy(identity).map { case ((a, b), g) => (a, b, g.size.toLong) }
      .toSeq.toDF("a", "b", "cnt")
    val got = EvalMetrics.cohenKappa(confusion, "a", "b", "cnt")
      .as[(Long, Long, Long, Long)].collect().head
    val n = pairs.size.toLong
    val agree = pairs.count { case (a, b) => a == b }.toLong
    val peNum = (0 until 4).map { k =>
      pairs.count(_._1 == k).toLong * pairs.count(_._2 == k).toLong
    }.sum
    assert(got == ((n, agree, n * agree - peNum, n * n - peNum)))
  }

  test("krippendorffAlpha equals the coincidence-matrix reference (missing ratings)") {
    val maxRaters = 4
    val dLcm = 6L // lcm(1, 2, 3)
    for (trial <- 1 to 3) {
      // sparse ratings: each of 40 units rated by a random subset of 4
      // raters (possibly 0 or 1 — those units must drop out)
      val ratings = for {
        u <- 0L until 40L
        rt <- 0 until maxRaters
        if rng.nextDouble() < 0.6
      } yield (u, rt, (u % 3 + (if (rng.nextDouble() < 0.3) 1 else 0)))
      val got = EvalMetrics.krippendorffAlpha(
          ratings.toDF("u", "rt", "c"), col("u"), col("rt"), col("c"), maxRaters)
        .as[(Long, Long, Long, Long, Long)].collect().head
      val byU = ratings.groupBy(_._1).filter(_._2.size >= 2)
      val o = scala.collection.mutable.Map[(Long, Long), Long]().withDefaultValue(0L)
      for ((_, rs) <- byU) {
        val w = dLcm / (rs.size - 1)
        for (a <- rs; b <- rs if a._2 != b._2) o((a._3, b._3)) += w
      }
      val doNum = o.collect { case ((c, k), v) if c != k => v }.sum
      val nc = o.groupBy(_._1._1).map { case (c, g) => c -> g.values.sum }
      val nn = nc.values.sum
      val s = nn * nn - nc.values.map(v => v * v).sum
      val want = (byU.size.toLong, byU.values.map(_.size.toLong).sum,
        doNum, s - doNum * (nn - dLcm), s)
      assert(got == want, s"trial $trial")
    }
  }

  test("krippendorffAlpha: perfect agreement is 1, overflow-free guard on m > maxRaters") {
    val perfect = (for (u <- 0L until 10L; rt <- 0 until 3)
      yield (u, rt, u % 2)).toDF("u", "rt", "c")
    val got = EvalMetrics.krippendorffAlpha(perfect, col("u"), col("rt"), col("c"), 4)
      .as[(Long, Long, Long, Long, Long)].collect().head
    assert(got._3 == 0L && got._4 == got._5 && got._5 > 0L) // Do = 0, alpha = 1
    val over = (for (u <- 0L until 3L; rt <- 0 until 5)
      yield (u, rt, 1L)).toDF("u", "rt", "c")
    val e = intercept[Exception] {
      EvalMetrics.krippendorffAlpha(over, col("u"), col("rt"), col("c"), 4).collect()
    }
    assert(causeChain(e).contains("more than maxRaters=4"))
  }

  test("LabelProp.propagate equals a synchronous in-memory reference") {
    for (trial <- 1 to 3) {
      val nodes = (0L until 16L).toSeq
      val edges = for {
        a <- nodes; b <- nodes if a < b && rng.nextDouble() < 0.25
      } yield (a, b)
      val seeds = nodes.filter(_ % 5 == 0).map(n => (n, n % 3))
      val iters = 3
      val got = graft.operators.LabelProp.propagate(
          nodes.toDF("node"), edges.toDF("a", "b"), seeds.toDF("node", "lbl"), iters)
        .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
        .toMap
      // reference: synchronous rounds, clamped seeds, min-label ties,
      // keep-previous when no labeled neighbor
      val nbrs = nodes.map(n => n ->
        edges.collect { case (a, b) if a == n => b; case (a, b) if b == n => a }).toMap
      val seedMap = seeds.toMap
      var lab: Map[Long, Option[Long]] = nodes.map(n => n -> seedMap.get(n)).toMap
      for (_ <- 1 to iters) {
        lab = nodes.map { n =>
          val next = seedMap.get(n).orElse {
            val votes = nbrs(n).flatMap(lab(_)).groupBy(identity).map { case (l, g) => (l, g.size) }
            if (votes.isEmpty) lab(n)
            else Some(votes.toSeq.minBy { case (l, c) => (-c, l) }._1)
          }
          n -> next
        }.toMap
      }
      assert(got == lab, s"trial $trial")
    }
  }

  test("LabelProp.propagate with STRING labels matches the reference (generic tie-break)") {
    // The numeric fast path negates labels inside max(struct(c, -lbl));
    // string domain tags must take the generic two-aggregate tie-break
    // and agree with the same synchronous reference, min-label ties and
    // all — not silently null out under an implicit double cast.
    for (trial <- 1 to 3) {
      val nodes = (0L until 16L).toSeq
      val edges = for {
        a <- nodes; b <- nodes if a < b && rng.nextDouble() < 0.3
      } yield (a, b)
      val seeds = nodes.filter(_ % 4 == 0).map(n => (n, s"dom${n % 3}"))
      val iters = 3
      val got = graft.operators.LabelProp.propagate(
          nodes.toDF("node"), edges.toDF("a", "b"), seeds.toDF("node", "lbl"), iters)
        .collect().map(r => r.getLong(0) -> Option(r.getString(1)))
        .toMap
      val nbrs = nodes.map(n => n ->
        edges.collect { case (a, b) if a == n => b; case (a, b) if b == n => a }).toMap
      val seedMap = seeds.toMap
      var lab: Map[Long, Option[String]] = nodes.map(n => n -> seedMap.get(n)).toMap
      for (_ <- 1 to iters) {
        lab = nodes.map { n =>
          val next = seedMap.get(n).orElse {
            val votes = nbrs(n).flatMap(lab(_)).groupBy(identity).map { case (l, g) => (l, g.size) }
            if (votes.isEmpty) lab(n)
            else Some(votes.toSeq.minBy { case (l, c) => (-c, l) }._1)
          }
          n -> next
        }.toMap
      }
      assert(got == lab, s"trial $trial")
    }
  }

  test("Triangles.perNode equals brute-force enumeration") {
    for (trial <- 1 to 3) {
      val nodes = (0L until 14L).toSeq
      val edges = (for {
        a <- nodes; b <- nodes if a < b && rng.nextDouble() < 0.35
      } yield (a, b))
      val df = edges.toDF("a", "b")
      val got = Triangles.perNode(df)
        .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
      val eset = edges.toSet
      def conn(x: Long, y: Long) = eset.contains((x min y, x max y))
      val triples = for {
        x <- nodes; y <- nodes if x < y; z <- nodes if y < z
        if conn(x, y) && conn(x, z) && conn(y, z)
      } yield (x, y, z)
      val present = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val want = present.map { v =>
        val deg = edges.count(e => e._1 == v || e._2 == v).toLong
        val tri = triples.count(t => t._1 == v || t._2 == v || t._3 == v).toLong
        v -> ((deg, tri))
      }.toMap
      assert(got == want, s"trial $trial")
      // global count invariant: sum(tri) = 3 * |triangles|
      assert(got.values.map(_._2).sum == 3L * triples.size, s"trial $trial global")
    }
  }

  test("tvdTest equals the brute-force reference") {
    for (trial <- 1 to 3) {
      val rows = Seq.fill(400)((rng.nextBoolean(), s"c${rng.nextInt(8)}"))
      val got = EvalMetrics.tvdTest(rows.toDF("s1", "v"), col("s1"), col("v"))
        .as[(Long, Long, Long, Long)].collect().head
      val c1 = rows.filter(_._1).groupBy(_._2).view.mapValues(_.size.toLong).toMap
      val c2 = rows.filterNot(_._1).groupBy(_._2).view.mapValues(_.size.toLong).toMap
      val (n1, n2) = (c1.values.sum, c2.values.sum)
      val num = (c1.keySet ++ c2.keySet).toSeq
        .map(v => math.abs(c1.getOrElse(v, 0L) * n2 - c2.getOrElse(v, 0L) * n1)).sum
      assert(got == ((n1, n2, num, 2 * n1 * n2)), s"trial $trial")
      // TVD is a probability: 0 <= num <= den
      assert(got._3 >= 0L && got._3 <= got._4, s"trial $trial range")
    }
  }

  test("chiSquareTest matches the BigInt floored reference") {
    for (trial <- 1 to 3) {
      // skewed category masses so rare-category weighting is exercised
      val rows = Seq.fill(500)(
        (rng.nextInt(3) > 0, s"c${math.min(rng.nextInt(10), rng.nextInt(10))}"))
      val got = EvalMetrics.chiSquareTest(rows.toDF("s1", "v"), col("s1"), col("v"))
        .as[(Long, Long, Long, Long)].collect().head
      val c1 = rows.filter(_._1).groupBy(_._2).view.mapValues(_.size.toLong).toMap
      val c2 = rows.filterNot(_._1).groupBy(_._2).view.mapValues(_.size.toLong).toMap
      val (n1, n2) = (c1.values.sum, c2.values.sum)
      val num = (c1.keySet ++ c2.keySet).toSeq.map { v =>
        val (p, q) = (c1.getOrElse(v, 0L), c2.getOrElse(v, 0L))
        val d = BigInt(p * n2 - q * n1).abs
        (d * d / BigInt(p + q)).toLong
      }.sum
      assert(got == ((n1, n2, num, n1 * n2)), s"trial $trial")
      // floored-integer chi2 stays within 1 of the float statistic * den
      val floatChi = (c1.keySet ++ c2.keySet).toSeq.map { v =>
        val (p, q) = (c1.getOrElse(v, 0L), c2.getOrElse(v, 0L))
        val d = (p * n2 - q * n1).toDouble
        d * d / ((p + q).toDouble * n1 * n2)
      }.sum
      assert(math.abs(got._3.toDouble / got._4 - floatChi) < 12.0 / (n1 * n2).toDouble,
        s"trial $trial float cross-check")
    }
  }

  test("tvdPerGroup equals the brute-force reference (absent categories included)") {
    for (trial <- 1 to 3) {
      // deliberately give one group a private category so the
      // absent-category closed form n_g*(N - sum cv) is exercised both ways
      val rows = Seq.fill(300)((s"g${rng.nextInt(5)}", s"c${rng.nextInt(6)}")) ++
        Seq.fill(20)(("g0", "only0"))
      val got = EvalMetrics.tvdPerGroup(rows.toDF("g", "v"), col("g"), col("v"))
        .as[(String, Long, Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
      val tot = rows.groupBy(_._2).view.mapValues(_.size.toLong).toMap
      val nn = rows.size.toLong
      val want = rows.groupBy(_._1).map { case (g, rs) =>
        val cg = rs.groupBy(_._2).view.mapValues(_.size.toLong).toMap
        val n = rs.size.toLong
        val num = tot.keySet.toSeq.map { v =>
          val c = cg.getOrElse(v, 0L)
          math.abs(c * (nn - n) - (tot(v) - c) * n)
        }.sum
        g -> ((n, nn - n, num, 2 * n * (nn - n)))
      }
      assert(got == want, s"trial $trial")
    }
  }

  test("categorical drift guards refuse empty samples loudly") {
    val allFirst = Seq((true, "a"), (true, "b")).toDF("s1", "v")
    val e1 = intercept[Exception] {
      EvalMetrics.tvdTest(allFirst, col("s1"), col("v")).collect()
    }
    val e2 = intercept[Exception] {
      EvalMetrics.chiSquareTest(allFirst, col("s1"), col("v")).collect()
    }
    def chain(t: Throwable): String =
      if (t == null) "" else t.getMessage + "|" + chain(t.getCause)
    assert(chain(e1).contains("tvdTest needs both samples non-empty"))
    assert(chain(e2).contains("chiSquareTest needs both samples non-empty"))
  }

  test("categorical rescaled tiers survive beyond their integer bounds") {
    // ~6e9-per-category counts: n1*n2 ~ 2.3e21 >> 2^62, so both exact
    // tiers refuse — the rescaled tiers must run and agree with the
    // BigInt-exact statistic to within the documented flooring terms.
    val cats = 8
    val counts = Seq.tabulate(cats) { b =>
      (s"c$b",
        4_000_000_000L + b * 800_000_000L,
        4_000_000_000L + (cats - 1 - b) * 700_000_000L)
    }
    val df = counts.toDF("v", "p", "q")
    intercept[Exception] { EvalMetrics.tvdCounts(df).collect() }
    intercept[Exception] { EvalMetrics.chiSquareCounts(df).collect() }
    val (n1, n2) = (counts.map(_._2).sum, counts.map(_._3).sum)
    val tvdExact = {
      val num = counts.map { case (_, p, q) => (BigInt(p) * n2 - BigInt(q) * n1).abs }.sum
      BigDecimal(num) / (BigDecimal(2) * BigDecimal(n1) * BigDecimal(n2))
    }
    val tvd = EvalMetrics.tvdCountsRescaled(df)
      .select("n1", "n2", "tvd_num", "tvd_den").as[(Long, Long, Long, Long)].collect().head
    assert(tvd._4 > 0L)
    val kTvd = math.max(0, math.ceil(
      (math.log(n1.toDouble) / math.log(2) + math.log(n2.toDouble) / math.log(2) - 60) / 2).toInt)
    assert(kTvd > 0, "must exercise the rescale path")
    val tvdScaled = BigDecimal(tvd._3) / BigDecimal(tvd._4)
    val tvdFloor = BigDecimal(2L * cats * (1L << kTvd)) / BigDecimal(math.min(tvd._1, tvd._2))
    assert((tvdExact - tvdScaled).abs <= tvdFloor, s"k=$kTvd exact=$tvdExact scaled=$tvdScaled")
    val chiExact = {
      val num = counts.map { case (_, p, q) =>
        val d = (BigInt(p) * n2 - BigInt(q) * n1).abs
        d * d / BigInt(p + q)
      }.sum
      BigDecimal(num) / (BigDecimal(n1) * BigDecimal(n2))
    }
    val chi = EvalMetrics.chiSquareCountsRescaled(df)
      .select("n1", "n2", "chi2_num", "chi2_den", "shift")
      .as[(Long, Long, Long, Long, Int)].collect().head
    assert(chi._4 > 0L && chi._5 > 0, "must exercise the chi2 rescale path")
    // chi-square is EXTENSIVE: a 2^k count downscale shrinks it by 2^k,
    // which the shift column undoes. After the correction the statistic
    // is smooth in the per-category masses; a relative band is the
    // honest check (flooring shifts each count by < 2^k out of
    // ~4e9-per-category masses)
    val chiScaled =
      BigDecimal(chi._3) / BigDecimal(chi._4) * BigDecimal(BigInt(1) << chi._5)
    assert(chiExact > 0 && (chiExact - chiScaled).abs / chiExact < BigDecimal("0.02"),
      s"exact=$chiExact scaled=$chiScaled shift=${chi._5}")
  }

  test("wasserstein1 equals the brute-force gap-weighted reference") {
    for (trial <- 1 to 3) {
      val rows = Seq.fill(400)((rng.nextBoolean(), rng.nextInt(120).toLong + 17 * trial))
      val got = EvalMetrics.wasserstein1(rows.toDF("s1", "v"), col("s1"), col("v"))
        .as[(Long, Long, Long, Long)].collect().head
      val s1 = rows.filter(_._1).map(_._2).sorted
      val s2 = rows.filterNot(_._1).map(_._2).sorted
      val (n1, n2) = (s1.size.toLong, s2.size.toLong)
      // brute force: walk the merged distinct values, gap * |C1*n2 - C2*n1|
      val vs = (s1 ++ s2).distinct.sorted
      val num = vs.zip(vs.tail).map { case (v, vNext) =>
        val c1 = s1.count(_ <= v).toLong
        val c2 = s2.count(_ <= v).toLong
        (vNext - v) * math.abs(c1 * n2 - c2 * n1)
      }.sum
      assert(got == ((n1, n2, num, n1 * n2)), s"trial $trial")
      assert(got._3 >= 0L, s"trial $trial nonneg")
    }
  }

  test("wasserstein1 is translation-invariant and matches a known shift") {
    // sample2 = sample1 + 3: W1 must be exactly 3 (every unit of mass
    // moves 3), and shifting BOTH samples by a constant changes nothing
    val base = Seq.fill(200)(rng.nextInt(50).toLong)
    val rows = base.map((true, _)) ++ base.map(v => (false, v + 3L))
    val got = EvalMetrics.wasserstein1(rows.toDF("s1", "v"), col("s1"), col("v"))
      .as[(Long, Long, Long, Long)].collect().head
    assert(got._4 == got._1 * got._2 && got._3 == 3L * got._4,
      s"W1 should be exactly 3: $got")
    val shifted = rows.map { case (s, v) => (s, v + 1000L) }
    val got2 = EvalMetrics.wasserstein1(shifted.toDF("s1", "v"), col("s1"), col("v"))
      .as[(Long, Long, Long, Long)].collect().head
    assert(got == got2)
  }

  test("wasserstein1 guards refuse empty samples and over-range grids loudly") {
    def chain(t: Throwable): String =
      if (t == null) "" else t.getMessage + "|" + chain(t.getCause)
    val allFirst = Seq((true, 1L), (true, 2L)).toDF("s1", "v")
    val e1 = intercept[Exception] {
      EvalMetrics.wasserstein1(allFirst, col("s1"), col("v")).collect()
    }
    assert(chain(e1).contains("wasserstein1 needs both samples non-empty"))
    // range * n1 * n2 over 2^61: two points 2^62 apart
    val wide = Seq((true, 0L), (false, 1L << 62)).toDF("s1", "v")
    val e2 = intercept[Exception] {
      EvalMetrics.wasserstein1(wide, col("s1"), col("v")).collect()
    }
    assert(chain(e2).contains("coarsen the value grid"))
    // domain spanning more than 2^63: vmax - vmin wraps NEGATIVE in long
    // arithmetic, which sailed under the range bound before the r11 sign
    // precheck — must refuse loudly, not silently corrupt the statistic
    val wrap = Seq((true, Long.MinValue + 10L), (false, Long.MaxValue - 10L)).toDF("s1", "v")
    val e2b = intercept[Exception] {
      EvalMetrics.wasserstein1(wrap, col("s1"), col("v")).collect()
    }
    assert(chain(e2b).contains("coarsen the value grid"))
    // ...but a huge-magnitude SAME-SIGN domain with a tiny range stays valid
    val hi = Seq((true, Long.MaxValue - 3L), (false, Long.MaxValue - 1L)).toDF("s1", "v")
    val ok = EvalMetrics.wasserstein1(hi, col("s1"), col("v"))
      .as[(Long, Long, Long, Long)].collect().head
    assert(ok == ((1L, 1L, 2L, 1L)), s"hi-domain W1 $ok")
    // non-long value type refuses at plan time
    val e3 = intercept[IllegalArgumentException] {
      EvalMetrics.wasserstein1(
        Seq((true, 1), (false, 2)).toDF("s1", "v"), col("s1"), col("v").cast("int"))
    }
    assert(e3.getMessage.contains("LongType"))
  }

  test("concentrationPerGroup equals the brute-force Gini reference") {
    for (trial <- 1 to 3) {
      val rows = Seq.fill(300)((s"g${rng.nextInt(4)}", s"c${math.min(rng.nextInt(6), rng.nextInt(6))}"))
      val got = EvalMetrics.concentrationPerGroup(rows.toDF("g", "v"), col("g"), col("v"))
        .as[(String, Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      val want = rows.groupBy(_._1).map { case (g, rs) =>
        val n = rs.size.toLong
        val s2 = rs.groupBy(_._2).values.map(c => c.size.toLong * c.size).sum
        g -> ((n, n * n - s2, n * n))
      }
      assert(got == want, s"trial $trial")
      // gini in [0, 1), pure group check: a group with one category is 0
      got.values.foreach { case (_, num, den) =>
        assert(num >= 0L && num < den)
      }
    }
  }

  test("kAnonymityAudit equals the brute-force reference (incl. null sensitive)") {
    import graft.operators.Privacy
    for (trial <- 1 to 3) {
      val rows = Seq.fill(250)((
        s"r${rng.nextInt(4)}", s"seg${rng.nextInt(3)}",
        if (rng.nextInt(10) == 0) null else s"v${rng.nextInt(6)}"))
      val got = Privacy.kAnonymityAudit(
          rows.toDF("qa", "qb", "s"), Seq("qa", "qb"), col("s"), k = 15L, l = 4L)
        .as[(String, String, Long, Long, Boolean, Boolean)].collect()
        .map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6))).toMap
      val want = rows.groupBy(r => (r._1, r._2)).map { case (g, rs) =>
        val n = rs.size.toLong
        val l = rs.map(_._3).distinct.size.toLong // null is one value
        g -> ((n, l, n < 15L, l < 4L))
      }
      assert(got == want, s"trial $trial")
    }
  }

  test("looTargetEncode equals brute force (singleton fallback, null category class)") {
    import graft.operators.Encoding
    for (trial <- 1 to 3) {
      // one guaranteed singleton category and a null category class
      val rows = Seq.fill(200)((
        if (rng.nextInt(12) == 0) null else s"c${rng.nextInt(5)}",
        rng.nextInt(1000).toLong)) :+ (("lonely", 777L))
      val df = rows.toDF("cat", "t")
      val got = Encoding.looTargetEncode(df, col("cat"), col("t"))
        .select("cat", "t", "loo_num", "loo_den")
        .as[(String, Long, Long, Long)].collect().sortBy(r => (Option(r._1), r._2))
      val byCat = rows.groupBy(_._1)
      val (gs, gn) = (rows.map(_._2).sum, rows.size.toLong)
      val want = rows.map { case (c, t) =>
        val rs = byCat(c)
        if (rs.size > 1) (c, t, rs.map(_._2).sum - t, rs.size.toLong - 1)
        else (c, t, gs - t, gn - 1)
      }.sortBy(r => (Option(r._1), r._2))
      assert(got.toSeq == want, s"trial $trial")
    }
    // null target refuses loudly
    def chain(t: Throwable): String =
      if (t == null) "" else t.getMessage + "|" + chain(t.getCause)
    val e = intercept[Exception] {
      Encoding.looTargetEncode(
        Seq(("a", Some(1L)), ("a", None)).toDF("cat", "t"), col("cat"), col("t")).collect()
    }
    assert(chain(e).contains("non-null target"))
  }

  test("categorical rescale is a bit-identical no-op inside the bounds") {
    val counts = Seq(("a", 10L, 20L), ("b", 30L, 5L), ("c", 7L, 9L))
    val df = counts.toDF("v", "p", "q")
    val t1 = EvalMetrics.tvdCounts(df).as[(Long, Long, Long, Long)].collect().head
    val t2 = EvalMetrics.tvdCountsRescaled(df).as[(Long, Long, Long, Long)].collect().head
    assert(t1 == t2)
    val c1 = EvalMetrics.chiSquareCounts(df).as[(Long, Long, Long, Long)].collect().head
    val c2 = EvalMetrics.chiSquareCountsRescaled(df)
      .as[(Long, Long, Long, Long, Int)].collect().head
    assert((c1._1, c1._2, c1._3, c1._4, 0) == c2)
  }

  test("q204 isotonic fit equals sequential pool-adjacent-violators") {
    // The query computes isotonic regression via the minimax formula
    // iso(i) = max_{j<=i} min_{k>=i} avg[j..k], floored at 1e12. PAV is
    // the textbook algorithm for the same fit; its pooled averages must
    // match the relational minimax bucket for bucket. The output carries
    // its own inputs (n, n_pos), so the reference recomputes from them
    // with exact BigInt rationals.
    val rows = QueryRegistry.byName("q204_isotonic_calibration")
      .run(spark, "/root/testdata/sf0.001")
      .select("bucket", "n", "n_pos", "iso_e12")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(rows.length == 10)
    // sequential PAV: pool while the previous block's average is >= the
    // current one (pooling equal averages leaves fitted values unchanged)
    val stack = scala.collection.mutable.ArrayBuffer[(BigInt, BigInt, Int)]()
    for ((_, n, pos, _) <- rows) {
      var (p, q, w) = (BigInt(pos), BigInt(n), 1)
      while (stack.nonEmpty && stack.last._1 * q >= p * stack.last._2) {
        val (pp, qq, ww) = stack.remove(stack.size - 1)
        p += pp; q += qq; w += ww
      }
      stack += ((p, q, w))
    }
    val fitted = stack.toSeq.flatMap { case (p, q, w) =>
      Seq.fill(w)(((p * BigInt(10).pow(12)) / q).toLong)
    }
    assert(rows.map(_._4).toSeq == fitted,
      s"minimax ${rows.map(_._4).mkString(",")} != PAV ${fitted.mkString(",")}")
    // and the fit is monotone non-decreasing by construction
    assert(fitted == fitted.sorted)
  }

  test("q208 Theil-Sen equals the brute-force median of pairwise slopes") {
    val dir = "/root/testdata/sf0.001"
    val got = QueryRegistry.byName("q208_theil_sen").run(spark, dir)
      .select("g", "n_pairs", "slope_e6")
      .as[(String, Long, Long)].collect().sortBy(_._1)
    // reference: collect daily sums, enumerate slopes, exact-rational sort
    val daily = graft.Tables.events(spark, dir)
      .select(col("event_type"),
        expr("datediff(to_date(ts), date'2024-01-01')").cast("long"),
        floor(col("value")).cast("long"))
      .as[(String, Long, Long)].collect()
      .groupBy(r => (r._1, r._2)).map { case ((g, d), rs) => (g, d, rs.map(_._3).sum) }
      .toSeq
    val want = daily.groupBy(_._1).toSeq.map { case (g, rows0) =>
      val pts = rows0.map(r => (r._2, r._3)).sortBy(_._1)
      val slopes = for {
        i <- pts.indices; jj <- (i + 1) until pts.size
      } yield (pts(jj)._2 - pts(i)._2, pts(jj)._1 - pts(i)._1) // (dx, dd > 0)
      val sorted = slopes.sortWith { case ((x1, d1), (x2, d2)) => x1 * d2 < x2 * d1 }
      val (dx, dd) = sorted((sorted.size + 1) / 2 - 1)
      (g, slopes.size.toLong, Math.floorDiv(dx * 1000000L, dd))
    }.sortBy(_._1)
    assert(got.toSeq == want, s"got ${got.mkString(";")} want ${want.mkString(";")}")
  }

  test("q210/q211: weighted median and Gini equal their brute-force references") {
    val dir = "/root/testdata/sf0.001"
    val wm = QueryRegistry.byName("q210_weighted_median").run(spark, dir)
      .select("rf", "ls", "tw", "wmedian_paise")
      .as[(String, String, Long, Long)].collect().sortBy(r => (r._1, r._2))
    val li = graft.Tables.lineitem(spark, dir)
      .select(col("l_returnflag"), col("l_linestatus"),
        floor(col("l_extendedprice") * 100).cast("long"),
        floor(col("l_quantity")).cast("long"))
      .as[(String, String, Long, Long)].collect()
    val wmWant = li.groupBy(r => (r._1, r._2)).toSeq.map { case ((rf, ls), rs) =>
      val byV = rs.groupBy(_._3).view.mapValues(_.map(_._4).sum).toSeq.sortBy(_._1)
      val tw = byV.map(_._2).sum
      var cum = 0L
      val med = byV.collectFirst { case (v, w) if { cum += w; 2 * cum >= tw } => v }.get
      (rf, ls, tw, med)
    }.sortBy(r => (r._1, r._2))
    assert(wm.toSeq == wmWant)

    val gini = QueryRegistry.byName("q211_gini_lorenz").run(spark, dir)
      .select("nk", "n", "g_num", "g_den")
      .as[(Int, Long, Long, Long)].collect().sortBy(_._1)
    val sp = graft.Tables.orders(spark, dir)
      .join(graft.Tables.customer(spark, dir), col("c_custkey") === col("o_custkey"))
      .groupBy(col("c_nationkey"), col("o_custkey"))
      .agg(sum(floor(col("o_totalprice") * 100).cast("long")).as("x"))
      .as[(Int, Long, Long)].collect()
    val gWant = sp.groupBy(_._1).toSeq.map { case (nk, rs) =>
      val xs = rs.sortBy(r => (r._3, r._2)).map(_._3)
      val n = xs.size.toLong
      val six = xs.zipWithIndex.map { case (x, i) => (i + 1) * x }.sum
      val sx = xs.sum
      (nk, n, 2 * six - (n + 1) * sx, n * sx)
    }.sortBy(_._1)
    assert(gini.toSeq == gWant)
  }

  test("KCore.peel equals the brute-force fixed-round peel") {
    for (trial <- 1 to 3) {
      val n = 40
      val edges = (1 to 160).map(_ => (rng.nextInt(n).toLong, rng.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .distinct
      val rows = graft.operators.KCore
        .peel(edges.toDF("a", "b"), 3L, 3)
        .as[(Long, Long, Boolean)].collect().sortBy(_._1)
      val got = rows.map { case (n, d, _) => (n, d) }
      // reference: symmetrized adjacency, three peels
      var sym = edges.flatMap { case (a, b) => Seq((a, b), (b, a)) }.toSet
      for (_ <- 1 to 3) {
        val deg = sym.groupBy(_._1).view.mapValues(_.size).toMap
        val keep = deg.filter(_._2 >= 3).keySet
        sym = sym.filter { case (s, d) => keep(s) && keep(d) }
      }
      val want = sym.groupBy(_._1).toSeq
        .map { case (node, es) => (node, es.size.toLong) }.sortBy(_._1)
      assert(got.toSeq == want, s"trial $trial")
      // fixpoint witness: converged iff one MORE peel would be a no-op,
      // i.e. every surviving degree is already >= k
      val wantConv = want.forall(_._2 >= 3L)
      assert(rows.forall(_._3 == wantConv), s"trial $trial converged flag")
    }
    // explicit non-converged witness: one k=2 peel of a 7-path drops the
    // endpoints but leaves new degree-1 fringe -> converged must be false
    val path = (1L to 6L).map(i => (i, i + 1)).toDF("a", "b")
    val oneRound = graft.operators.KCore.peel(path, 2L, 1)
      .as[(Long, Long, Boolean)].collect()
    assert(oneRound.nonEmpty && oneRound.forall(!_._3), "7-path 1-round peel must not report convergence")
    // ...and the empty-survivor case converges trivially (empty output)
    assert(graft.operators.KCore.peel(Seq((1L, 2L)).toDF("a", "b"), 5L, 2).count() == 0L)
  }

  test("chiSquareCountsPerGroup equals chiSquareCounts run per group") {
    val counts = (for {
      g <- Seq("f1", "f2", "f3"); v <- 0 until (2 + rng.nextInt(5))
    } yield (g, s"v$v", rng.nextInt(40).toLong + 1L, rng.nextInt(40).toLong + 1L))
      .toDF("g", "v", "p", "q")
    val got = EvalMetrics.chiSquareCountsPerGroup(counts)
      .select("g", "n1", "n2", "dof", "chi2_num", "chi2_den")
      .as[(String, Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    val want = Seq("f1", "f2", "f3").map { g =>
      val slice = counts.filter(col("g") === g).select("v", "p", "q")
      val dof = slice.count() - 1
      val r = EvalMetrics.chiSquareCounts(slice)
        .as[(Long, Long, Long, Long)].collect().head
      (g, r._1, r._2, dof, r._3, r._4)
    }
    assert(got.toSeq == want)
  }

  test("jsDivergence equals the floored in-memory reference") {
    for (trial <- 1 to 3) {
      val rows = Seq.fill(400)((rng.nextBoolean(), s"c${rng.nextInt(8)}"))
      val got = EvalMetrics
        .jsDivergence(rows.toDF("s1", "v"), col("s1"), col("v"))
        .as[(Long, Long, Long, Long)].collect().head
      val c1 = rows.filter(_._1).groupBy(_._2).view.mapValues(_.size.toLong).toMap
      val c2 = rows.filterNot(_._1).groupBy(_._2).view.mapValues(_.size.toLong).toMap
      val (n1, n2) = (c1.values.sum, c2.values.sum)
      var (jsp, jsq) = (0L, 0L)
      (c1.keySet ++ c2.keySet).foreach { v =>
        val (p, q) = (c1.getOrElse(v, 0L), c2.getOrElse(v, 0L))
        val mden = p * n2 + q * n1
        // the engine's exact float path: -log(num/den) * 1e6, floored
        if (p > 0)
          jsp += p * math.floor(-math.log(mden.toDouble / (2L * p * n2).toDouble) * 1e6).toLong
        if (q > 0)
          jsq += q * math.floor(-math.log(mden.toDouble / (2L * q * n1).toDouble) * 1e6).toLong
      }
      assert(got == ((n1, n2, jsp, jsq)), s"trial $trial: got $got, want ${(n1, n2, jsp, jsq)}")
    }
  }

  test("jsDivergence: identical mixes are 0, disjoint mixes saturate at ln 2") {
    // same category sets with proportional counts -> every ratio is 1
    // (num === den is the whitelisted exact-zero case)
    val same = Seq.fill(100)(true).zip(Seq.fill(100)("a")) ++
      Seq.fill(100)(false).zip(Seq.fill(100)("a")) ++
      Seq.fill(50)(true).zip(Seq.fill(50)("b")) ++
      Seq.fill(50)(false).zip(Seq.fill(50)("b"))
    val z = EvalMetrics.jsDivergence(same.toDF("s1", "v"), col("s1"), col("v"))
      .as[(Long, Long, Long, Long)].collect().head
    assert(z == ((150L, 150L, 0L, 0L)), z.toString)
    // fully disjoint category sets: each side's ratio is exactly 2, so
    // the per-category floor is floor(ln 2 * 1e6) = 693147 and
    // JSD = ln 2 (the statistic's upper bound)
    val disj = Seq.fill(80)((true, "x")) ++ Seq.fill(120)((false, "y"))
    val d = EvalMetrics.jsDivergence(disj.toDF("s1", "v"), col("s1"), col("v"))
      .as[(Long, Long, Long, Long)].collect().head
    assert(d == ((80L, 120L, 80L * 693147L, 120L * 693147L)), d.toString)
  }

  test("jsCounts (the streamed-twin entry) equals jsDivergence on the same data") {
    val rows = Seq.fill(200)((rng.nextBoolean(), s"c${rng.nextInt(5)}"))
    val viaRows = EvalMetrics
      .jsDivergence(rows.toDF("s1", "v"), col("s1"), col("v"))
      .as[(Long, Long, Long, Long)].collect().head
    val counts = rows.groupBy(_._2).toSeq.map { case (v, rs) =>
      (v, rs.count(_._1).toLong, rs.count(!_._1).toLong)
    }
    val viaCounts = EvalMetrics.jsCounts(counts.toDF("v", "p", "q"))
      .as[(Long, Long, Long, Long)].collect().head
    assert(viaRows == viaCounts, s"$viaRows vs $viaCounts")

    // every counts tier against its row-level tier, on a frame with NULL
    // flags: the one split rule puts a NULL-flag row in sample 2, so the
    // hand-built histogram counts those rows in q
    val flagged = Seq.fill(300)((
      rng.nextInt(3) match { case 0 => None; case 1 => Some(true); case _ => Some(false) },
      rng.nextInt(12).toLong))
    assert(flagged.exists(_._1.isEmpty))
    val df = flagged.toDF("s1", "v")
    val hist = flagged.groupBy(_._2).toSeq.map { case (v, rs) =>
      (v, rs.count(_._1.contains(true)).toLong, rs.count(!_._1.contains(true)).toLong)
    }.toDF("v", "p", "q")
    type RowTier = (DataFrame, Column, Column) => DataFrame
    type CountsTier = DataFrame => DataFrame
    val tiers: Seq[(String, RowTier, CountsTier)] = Seq(
      ("ks", EvalMetrics.ksTest, EvalMetrics.ksTestCounts),
      ("tvd", EvalMetrics.tvdTest, EvalMetrics.tvdCounts),
      ("chi2", EvalMetrics.chiSquareTest, EvalMetrics.chiSquareCounts),
      ("w1", EvalMetrics.wasserstein1, EvalMetrics.wasserstein1Counts),
      ("cvm", EvalMetrics.cvmTest, EvalMetrics.cvmCounts),
      ("js", EvalMetrics.jsDivergence, EvalMetrics.jsCounts))
    for ((name, rowTier, countsTier) <- tiers) {
      val fromRows = rowTier(df, col("s1"), col("v")).collect().toSeq
      val fromCounts = countsTier(hist).collect().toSeq
      assert(fromRows == fromCounts, s"$name: row-level $fromRows vs counts $fromCounts")
    }
  }

  test("jsCounts refuses a malformed histogram with negative counts loudly") {
    // the pre-aggregated entry point takes caller-supplied counts the
    // row-level tier can never produce — the intake contract must refuse
    // with ITS message, not a downstream ln-domain garble
    val bad = Seq(("a", 10L, 5L), ("b", -3L, 7L)).toDF("v", "p", "q")
    val e = intercept[Exception] {
      EvalMetrics.jsCounts(bad).collect()
    }
    assert(e.getMessage.contains("counts must be non-negative"), e.getMessage)
  }

  test("jsDivergence refuses an empty sample loudly") {
    val df = Seq((true, "a"), (true, "b")).toDF("s1", "v")
    val e = intercept[Exception] {
      EvalMetrics.jsDivergence(df, col("s1"), col("v")).collect()
    }
    assert(e.getMessage.contains("jsDivergence needs both samples non-empty"),
      e.getMessage)
  }

  test("mcc equals the direct confusion formula; constant classifier refuses") {
    for (trial <- 1 to 3) {
      val rows = Seq.fill(300)((rng.nextBoolean(), rng.nextInt(3) > 0))
      val got = EvalMetrics
        .mcc(rows.toDF("y", "yh"), col("y"), col("yh"))
        .as[(Long, Long, Long, Long, Long, Long, Long, Long)].collect().head
      val tp = rows.count(r => r._1 && r._2).toLong
      val fp = rows.count(r => !r._1 && r._2).toLong
      val fn = rows.count(r => r._1 && !r._2).toLong
      val tn = rows.count(r => !r._1 && !r._2).toLong
      assert(got == ((300L, tp, fp, fn, tn, tp * tn - fp * fn,
        (tp + fp) * (tn + fn), (tp + fn) * (tn + fp))), s"trial $trial: $got")
    }
    // perfect classifier: mcc_num^2 == den2_pred * den2_act (MCC = 1)
    val perfect = Seq.fill(40)((true, true)) ++ Seq.fill(60)((false, false))
    val p = EvalMetrics.mcc(perfect.toDF("y", "yh"), col("y"), col("yh"))
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)].collect().head
    assert(p._6 * p._6 == p._7 * p._8 && p._6 > 0, p.toString)
    // constant classifier: zero predicted-positive margin -> refusal
    val const = Seq((true, false), (false, false)).toDF("y", "yh")
    val e = intercept[Exception] {
      EvalMetrics.mcc(const, col("y"), col("yh")).collect()
    }
    assert(e.getMessage.contains("no defined MCC"), e.getMessage)
  }

  test("entropyPerGroup equals the floored reference; 0 on single-category, ln k on uniform") {
    for (trial <- 1 to 3) {
      val rows = Seq.fill(300)((s"g${rng.nextInt(4)}", s"v${rng.nextInt(6)}"))
      val got = EvalMetrics
        .entropyPerGroup(rows.toDF("g", "v"), col("g"), col("v"))
        .orderBy("g")
        .as[(String, Long, Long, Long)].collect()
      val want = rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (g, rs) =>
        val cs = rs.groupBy(_._2).values.map(_.size.toLong)
        val n = cs.sum
        val h = cs.map(c =>
          c * math.floor(-math.log(c.toDouble / n.toDouble) * 1e6).toLong).sum
        (g, n, cs.size.toLong, h / n)
      }
      assert(got.toSeq == want, s"trial $trial")
    }
    // single category -> exactly 0 (the whitelisted ln(1) case)
    val mono = Seq.fill(50)(("g", "only")).toDF("g", "v")
    val m = EvalMetrics.entropyPerGroup(mono, col("g"), col("v"))
      .as[(String, Long, Long, Long)].collect().head
    assert(m == (("g", 50L, 1L, 0L)), m.toString)
    // uniform over k categories -> floor-sum of ln k (within 1 micronat
    // of k*(n/k)*ln(k)*1e6 / n = ln(k)*1e6, up to the per-term floor)
    val k = 8
    val uni = (1 to 400).map(i => ("g", s"v${i % k}")).toDF("g", "v")
    val u = EvalMetrics.entropyPerGroup(uni, col("g"), col("v"))
      .as[(String, Long, Long, Long)].collect().head
    val lnk = math.floor(math.log(k.toDouble) * 1e6).toLong
    assert(math.abs(u._4 - lnk) <= 1L, s"uniform entropy ${u._4} vs ln k grid $lnk")
  }

  test("q261 attribution: every model distributes exactly 10^6 ppm per attributed conversion") {
    val q = QueryRegistry.byName("q261_attribution")
      .run(spark, "/root/testdata/sf0.001")
    val r = q.agg(
      sum("first_touch_ppm"), sum("last_touch_ppm"), sum("linear_ppm"))
      .as[(Long, Long, Long)].collect().head
    assert(r._1 == r._2 && r._2 == r._3, s"models disagree on total credit: $r")
    assert(r._1 > 0 && r._1 % 1000000L == 0L,
      s"total credit not a whole number of conversions: $r")
  }

  test("ndcgAtK equals the brute-force reference (score rank vs ideal rank)") {
    val disc = EvalMetrics.ndcgDiscounts(4)
    for (trial <- 1 to 3) {
      val rows = (1 to 60).map(i =>
        (s"g${i % 5}", i.toLong, rng.nextInt(6).toLong, rng.nextInt(40).toLong))
      // guarantee idcg > 0 per group: bump one row per group to rel >= 1
      val fixed = rows.groupBy(_._1).values.flatMap { grp =>
        if (grp.exists(_._3 > 0)) grp
        else grp.updated(0, grp.head.copy(_3 = 1L))
      }.toSeq
      val got = EvalMetrics
        .ndcgAtK(fixed.toDF("g", "it", "rel", "sc"),
          col("g"), col("it"), col("rel"), col("sc"), k = 4)
        .orderBy("g")
        .as[(String, Long, Long, Long, Long)].collect()
      val want = fixed.groupBy(_._1).toSeq.sortBy(_._1).map { case (g, grp) =>
        def dcgOf(sorted: Seq[(String, Long, Long, Long)]): Long =
          sorted.take(4).zipWithIndex.map { case (r, i) => r._3 * disc(i) }.sum
        val dcg = dcgOf(grp.sortBy(r => (-r._4, r._2, r._3)))
        val idcg = dcgOf(grp.sortBy(r => (-r._3, r._2, r._3)))
        (g, grp.size.toLong, dcg, idcg, dcg * 1000000L / idcg)
      }
      assert(got.toSeq == want, s"trial $trial:\n${got.toSeq}\n$want")
    }
  }

  test("ndcgAtK: a score ranking that matches relevance scores 10^6 exactly") {
    val df = Seq(("g", 1L, 5L, 500L), ("g", 2L, 3L, 300L), ("g", 3L, 1L, 100L))
      .toDF("g", "it", "rel", "sc")
    val r = EvalMetrics.ndcgAtK(df, col("g"), col("it"), col("rel"), col("sc"), 3)
      .select("ndcg_ppm").as[Long].collect().head
    assert(r == 1000000L, r.toString)
  }

  test("ndcgAtK refuses negative relevance and all-zero-relevance groups") {
    val neg = Seq(("g", 1L, -1L, 10L)).toDF("g", "it", "rel", "sc")
    val e1 = intercept[Exception] {
      EvalMetrics.ndcgAtK(neg, col("g"), col("it"), col("rel"), col("sc"), 2).collect()
    }
    assert(e1.getMessage.contains("[ndcg]"), e1.getMessage)
    val zero = Seq(("g", 1L, 0L, 10L), ("g", 2L, 0L, 5L)).toDF("g", "it", "rel", "sc")
    val e2 = intercept[Exception] {
      EvalMetrics.ndcgAtK(zero, col("g"), col("it"), col("rel"), col("sc"), 2).collect()
    }
    assert(e2.getMessage.contains("no defined NDCG"), e2.getMessage)
  }
}
