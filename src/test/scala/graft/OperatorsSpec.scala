package graft

import graft.functions.GraftFunctions._
import graft.operators.{AsOfJoin, Dedup, Similarity, TextAnalysis}
import org.apache.spark.sql.functions._

import scala.util.Random

/** Operator unit + property tests: safe_name column/UDF agreement,
  * shingles, as-of join, dedup family on planted near-duplicates,
  * LSH ANN recall vs the brute-force baseline.
  */
class OperatorsSpec extends SparkSpec {
  import spark.implicits._

  test("removeRepeatedSpans cuts the shared 8-gram from both docs, leaves unique text intact") {
    val docs = Seq(
      (1L, "a b c d e f g h x y z"),          // shared span at pos 1
      (2L, "p q a b c d e f g h r"),          // same span at pos 3
      (3L, "solo text nothing shared here at all ok"), // unique, len 8
    ).toDF("doc_id", "text")
    val out = graft.operators.Dedup.removeRepeatedSpans(docs, "doc_id", "text", w = 8)
      .as[(Long, Int, Long, String)].collect().sortBy(_._1)
    assert(out(0) === ((1L, 11, 8L, "x y z")))
    assert(out(1) === ((2L, 11, 8L, "p q r")))
    assert(out(2) === ((3L, 8, 0L, "solo text nothing shared here at all ok")))
  }

  test("safeName column expression and UDF twin agree (seeded fuzz)") {
    val rnd = new Random(42)
    val alphabet = "aZ 9!@#$%^&*()-_=+[]{};:'\",.<>/?\\|`~\t增强"
    val samples = (1 to 300).map { _ =>
      (1 to rnd.nextInt(30)).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    } :+ "" :+ "  leading and trailing  " :+ "Paddy(Dhan)(Common)"
    val df = samples.toDF("s")
      .select(safeName(col("s")).as("col_ver"), safeNameUdf(col("s")).as("udf_ver"))
    assert(df.filter(not(col("col_ver") <=> col("udf_ver"))).count() === 0)
  }

  test("safeName is idempotent") {
    val df = Seq("A  b!!C", "x-y_z", "??", "Já va").toDF("s")
      .select(safeName(col("s")).as("once"))
      .select(col("once"), safeName(col("once")).as("twice"))
    assert(df.filter(not(col("once") <=> col("twice"))).count() === 0)
  }

  test("wordShingles: n-grams with fewer-than-n-token edge") {
    val df = Seq("a b c d", "a b", "").toDF("text")
      .select(TextAnalysis.wordShingles(col("text"), 3).as("sh"))
    val rows = df.collect().map(_.getSeq[String](0).toList)
    assert(rows(0) === List("a b c", "b c d"))
    assert(rows(1) === Nil)
    assert(rows(2) === Nil)
  }

  test("asOf join picks latest right row at-or-before each left row") {
    val left = Seq((1L, 10L, "p1"), (1L, 20L, "p2"), (2L, 5L, "p3"))
      .toDF("k", "t", "tag")
    val right = Seq((1L, 10L, "r@10"), (1L, 15L, "r@15"), (1L, 25L, "r@25"), (2L, 9L, "r@9"))
      .toDF("k", "t", "rv")
    val out = AsOfJoin.asOf(left, right, Seq("k"), "t", "t", Seq("rv"))
      .orderBy("k", "t")
      .select("k", "t", "tag", "asof_rv")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3)))
    assert(out.toList === List(
      (1L, 10L, "p1", "r@10"),   // inclusive <=
      (1L, 20L, "p2", "r@15"),   // skips r@25 (future)
      (2L, 5L, "p3", null)))     // nothing at-or-before
  }

  test("asOf preserves a matched right row whose carried value is NULL") {
    // Regression: per-column last(ignoreNulls) would skip the null-valued
    // r@15 and leak r@10's value forward; the struct carry must not.
    val left = Seq((1L, 20L, "p"), (1L, 8L, "q")).toDF("k", "t", "tag")
    val right = Seq((1L, 10L, Some("r@10")), (1L, 15L, None))
      .toDF("k", "t", "rv")
    val out = AsOfJoin.asOf(left, right, Seq("k"), "t", "t", Seq("rv"))
      .orderBy("t")
      .select("t", "asof_rv")
      .collect()
      .map(r => (r.getLong(0), Option(r.getString(1))))
    assert(out.toList === List(
      (8L, None),            // no match at-or-before 8
      (20L, None)))          // matched r@15 whose value IS null — not r@10
  }

  test("dedup family flags planted near-duplicates") {
    val base = "the quick brown fox jumps over the lazy dog and runs far away " * 4
    val nearDup = base.replace("lazy", "sleepy") // one token differs
    val other = "completely different content about spark shuffles and partitions " * 4
    val docs = Seq((0L, base), (1L, nearDup), (2L, other)).toDF("doc_id", "text")

    val idx = Dedup.shingleIndex(docs, "doc_id", "text", 3)
    val jacc = Dedup.jaccardPairs(idx, "doc_id")
      .select("a", "b", "jacc").as[(Long, Long, Double)].collect().toList
    val j01 = jacc.find(p => p._1 == 0 && p._2 == 1).map(_._3)
    assert(j01.exists(_ > 0.5), s"planted near-dup pair not found: $jacc")
    assert(!jacc.exists(p => p._2 == 2 && p._3 > 0.3))

    val sig = Dedup.minhashSignatures(idx, "doc_id", 12)
    val cands = Dedup.lshCandidates(Dedup.lshBands(sig, "doc_id", 4, 3), "doc_id")
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(cands.contains((0L, 1L)), "LSH missed the planted near-dup")

    val sh = Dedup.simhash32(docs, "doc_id", "text")
    val hs = sh.orderBy("doc_id").select("simhash").as[Long].collect()
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(hs(0), hs(1)) < ham(hs(0), hs(2)),
      s"simhash: near-dup ${ham(hs(0), hs(1))} not closer than unrelated ${ham(hs(0), hs(2))}")
  }

  test("winnowing fingerprints overlap heavily for near-identical docs") {
    val base = "abcdefghijklmnopqrstuvwxyz0123456789" * 8
    val docs = Seq((0L, base), (1L, base.dropRight(3) + "XYZ"), (2L, base.reverse))
      .toDF("doc_id", "text")
    val fps = docs.select(col("doc_id"), TextAnalysis.charGramHashes("text", 8).as("hs"))
      .select(col("doc_id"), TextAnalysis.winnowMins(col("hs"), 4).as("fps"))
      .as[(Long, Seq[Long])].collect().sortBy(_._1).map(_._2.toSet)
    val simNear = fps(0).intersect(fps(1)).size.toDouble / fps(0).union(fps(1)).size
    val simFar = fps(0).intersect(fps(2)).size.toDouble / fps(0).union(fps(2)).size
    assert(simNear > 0.8 && simFar < 0.2, s"near=$simNear far=$simFar")
  }

  test("LSH ANN recalls a usable fraction of brute-force neighbors") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), asDouble(col("embedding")).as("qvec"))
    val cands = emb.select(col("vec_id"), asDouble(col("embedding")).as("vec"))
    val exact = Similarity.topKCosine(queries, cands, 3)
      .select("qid", "neighbor").as[(Long, Long)].collect().toSet
    val planes = Similarity.hyperplanes(4, 64)
    val approx = Similarity.topKCosineLsh(queries, cands, planes, 3)
      .select("qid", "neighbor").as[(Long, Long)].collect().toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.2, s"LSH recall $recall too low (approx=${approx.size})")
    // sanity: every approx neighbor scored is a real candidate, none self
    assert(approx.forall { case (q, n) => q != n })
  }

  test("jaccardPairs stop-shingle cap bounds hot-shingle fan-out") {
    // 40 docs all sharing one hot shingle ("common stop phrase"), plus a
    // planted near-dup pair sharing real content.
    val base = "alpha beta gamma delta epsilon zeta eta theta " * 3
    val docs = ((0 until 40).map(i => (i.toLong, s"common stop phrase unique$i filler$i pad$i")) ++
      Seq((100L, base), (101L, base.replace("zeta", "zzz")))).toDF("doc_id", "text")
    val idx = Dedup.shingleIndex(docs, "doc_id", "text", 3)
    // uncapped: the hot shingle alone creates 40*39/2 = 780 candidate pairs
    val uncapped = Dedup.jaccardPairs(idx, "doc_id").count()
    assert(uncapped >= 780, s"expected hot-shingle blowup, got $uncapped")
    // capped at df<=10: the hot shingle is dropped, fan-out collapses,
    // and the planted near-dup pair survives with high jaccard
    val capped = Dedup.jaccardPairs(idx, "doc_id", maxDf = 10)
    assert(capped.count() < 100, s"cap did not bound fan-out: ${capped.count()}")
    val j = capped.filter(col("a") === 100 && col("b") === 101)
      .select("jacc").as[Double].collect()
    assert(j.nonEmpty && j.head > 0.4, s"near-dup lost by cap: ${j.toSeq}")
  }

  test("banded simhash60 pairs find every pair within Hamming distance < bands") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val sh = Dedup.simhash60(docs, "doc_id", "text").persist()
    val exact = Dedup.simhashTopPairs(sh, "doc_id", "simhash", 50)
      .as[(Long, Long, Int)].collect().toList
    val banded = Dedup.simhashBandedTopPairs(sh, "doc_id", "simhash", 50)
      .as[(Long, Long, Int)].collect().toSet
    // pigeonhole guarantee: every exact top pair with dist < 4 bands
    // must appear in the banded result
    val close = exact.filter(_._3 < 4)
    assert(close.nonEmpty, "fixture has no close simhash pairs; test is vacuous")
    close.foreach(p => assert(banded.contains(p), s"banded missed $p"))
    sh.unpersist()
  }

  test("simhashTopPairs size guard routes to banding above the limit") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val sh = Dedup.simhash32(docs, "doc_id", "text").persist()
    val viaGuard = Dedup.simhashTopPairs(sh, "doc_id", "simhash", 20, broadcastLimit = 10)
      .as[(Long, Long, Int)].collect().toList
    val banded = Dedup.simhashBandedTopPairs(sh, "doc_id", "simhash", 20, bands = 4, bitsPerBand = 8)
      .as[(Long, Long, Int)].collect().toList
    assert(viaGuard === banded, "guard did not route to the banded path")
    sh.unpersist()
  }

  test("cross-corpus LSH candidates flag the planted contamination, nothing else") {
    val evalDoc = "the standard benchmark question about spark shuffles and their partitions " * 4
    val train = Seq(
      (0L, evalDoc.replace("standard", "usual")),            // contaminated
      (2L, "completely unrelated agricultural market prices data " * 4)
    ).toDF("doc_id", "text")
    val bench = Seq((1L, evalDoc)).toDF("doc_id", "text")
    def bands(df: org.apache.spark.sql.DataFrame) =
      Dedup.lshBands(Dedup.minhashSignatures(
        Dedup.shingleIndex(df, "doc_id", "text", 3), "doc_id", 12), "doc_id", 4, 3)
    val cands = Dedup.lshCrossCandidates(bands(train), bands(bench), "doc_id")
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(cands.contains((0L, 1L)), s"missed the planted contamination: $cands")
    assert(!cands.exists(_._1 == 2L), s"false positive: $cands")
  }

  test("exact n-gram decontamination flags the planted overlap, nothing else") {
    val evalDoc = "the standard benchmark question about spark shuffles and their partitions " * 4
    val train = Seq(
      (0L, "prefix words then " + evalDoc),                    // contains the eval text
      (2L, "completely unrelated agricultural market prices data " * 4)
    ).toDF("doc_id", "text")
    val bench = Seq((1L, evalDoc)).toDF("doc_id", "text")
    val hits = Dedup.ngramContamination(
        Dedup.shingleIndex(train, "doc_id", "text", 3),
        Dedup.shingleIndex(bench, "doc_id", "text", 3),
        "doc_id", minShared = 5)
      .as[(Long, Long, Long)].collect()
    assert(hits.map(h => (h._1, h._2)).toSet === Set((0L, 1L)), s"got ${hits.toSeq}")
    assert(hits.head._3 >= 5)
  }

  test("adaptivePlanes: integer-exact bucket-count schedule and bounds") {
    import Similarity.adaptivePlanes
    // The schedule the q96 oracle mirrors with MIN(p) WHERE (1<<p)*64 >= n:
    // smallest p in [4,24] with 2^p*64 >= n (ceiling raised 16 -> 24 in
    // r14: 2^16*64 ~ 4.2M vectors re-admitted linear occupancy growth
    // well below the design point; 2^24*64 ~ 1e9 covers it). Boundary
    // rows are the cases a float log2 could round differently between
    // engines.
    assert(adaptivePlanes(1L) === 4)
    assert(adaptivePlanes(500L) === 4)   // sf0.001 / sf0.01 — unchanged vs fixed-4
    assert(adaptivePlanes(1024L) === 4)  // exact boundary: 2^4*64 == 1024
    assert(adaptivePlanes(1025L) === 5)
    assert(adaptivePlanes(2000L) === 5)  // sf0.1
    assert(adaptivePlanes(20000L) === 9) // 10x probe
    assert(adaptivePlanes((1L << 16) * 64) === 16)     // the old ceiling, now interior
    assert(adaptivePlanes((1L << 16) * 64 + 1) === 17) // past it: planes keep adapting
    assert(adaptivePlanes(Long.MaxValue) === 24) // capped — never unbounded fan-out
  }

  test("cosinePairsLsh: no cross join in the plan; agrees with exact on overlap") {
    val v = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id"), asDouble(col("embedding")).as("vec"))
    val planes = Similarity.hyperplanes(4, 64)
    val pruned = Similarity.cosinePairsLsh(v, "vec_id", "vec", planes)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"pruned path must not cross join:\n$plan")
    val prunedRows = pruned.as[(Long, Long, Double)].collect()
    assert(prunedRows.nonEmpty)
    val exact = Similarity.cosinePairs(v, "vec_id", "vec")
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    // every pruned pair carries the identical cos_r the exact operator computes
    prunedRows.foreach { case (a, b, c) =>
      assert(exact.get((a, b)).contains(c), s"($a,$b): pruned=$c exact=${exact.get((a, b))}")
    }
    // and it recalls the global top pairs (similar pairs share buckets)
    val topExact = exact.toSeq.sortBy { case ((a, b), c) => (-c, a, b) }.take(10).map(_._1).toSet
    val prunedSet = prunedRows.map(r => (r._1, r._2)).toSet
    val recall = topExact.intersect(prunedSet).size.toDouble / topExact.size
    assert(recall >= 0.5, s"top-pair recall $recall too low")
  }

  test("cosinePairsLsh: past the broadcast threshold the re-attach joins hash, never sort-merge") {
    // the r14 re-tier pin: at corpus scale the vector re-attach sides
    // exceed the broadcast threshold and the sort-merge default would
    // SORT the (p+1)*occupancy*n candidate frame once per re-attach
    // (measured 57.6s -> 16.6s at 30x when the shuffle_hash hints
    // landed). Simulate past-threshold by disabling auto-broadcast and
    // assert the hint holds the plan on hash joins.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760b")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val v = Tables.embeddings(spark, "/root/testdata/sf0.001")
        .select(col("vec_id"), asDouble(col("embedding")).as("vec"))
      val planes = Similarity.hyperplanes(4, 64)
      // the self form and the cross form (q152's eval/train split) share
      // one re-attach rule, so both are pinned
      def plans(hashReattach: Boolean): Seq[(String, String)] = Seq(
        "cosinePairsLsh" -> Similarity
          .cosinePairsLsh(v, "vec_id", "vec", planes, hashReattach = hashReattach),
        "crossCosineLsh" -> Similarity.crossCosineLsh(
          v.filter(col("vec_id") < 64).select(col("vec_id").as("eval_id"), col("vec").as("evec")),
          "eval_id", "evec",
          v.filter(col("vec_id") >= 64).select(col("vec_id").as("train_id"), col("vec").as("tvec")),
          "train_id", "tvec", planes, hashReattach = hashReattach)
      ).map { case (op, df) => op -> df.queryExecution.executedPlan.toString }
      plans(hashReattach = true).foreach { case (op, plan) =>
        assert(!plan.contains("SortMergeJoin"),
          s"$op: re-attach fell back to sort-merge past the broadcast threshold:\n$plan")
        assert(plan.contains("ShuffledHashJoin"), s"$op: expected hash joins:\n$plan")
      }
      // and WITHOUT the flag the broadcast default is untouched at small n
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      plans(hashReattach = false).foreach { case (op, planSmall) =>
        assert(planSmall.contains("BroadcastHashJoin"),
          s"$op: small-n path lost its broadcasts:\n$planSmall")
      }
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("candidate joins: the self form equals the cross form on one frame restricted to a < b") {
    def sameRows(self: org.apache.spark.sql.DataFrame, cross: org.apache.spark.sql.DataFrame): Unit = {
      val kept = cross.filter(col("a") < col("b"))
      assert(self.dtypes.toSeq === kept.dtypes.toSeq)
      val rows = self.collect().map(_.toSeq).sortBy(_.mkString(","))
      assert(rows.nonEmpty)
      assert(rows === kept.collect().map(_.toSeq).sortBy(_.mkString(",")))
    }
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val bands = Dedup.lshBands(Dedup.minhashSignatures(
      Dedup.shingleIndex(docs, "doc_id", "text", 3), "doc_id", 12), "doc_id", 4, 3)
    sameRows(Dedup.lshCandidates(bands, "doc_id"), Dedup.lshCrossCandidates(bands, bands, "doc_id"))
    val v = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id"), asDouble(col("embedding")).as("vec"))
    val planes = Similarity.hyperplanes(4, 64)
    val cross = Similarity.crossCosineLsh(
        v.select(col("vec_id").as("l_id"), col("vec").as("l_vec")), "l_id", "l_vec",
        v.select(col("vec_id").as("r_id"), col("vec").as("r_vec")), "r_id", "r_vec", planes)
      .select(col("l_id").as("a"), col("r_id").as("b"), col("cos_r"))
    sameRows(Similarity.cosinePairsLsh(v, "vec_id", "vec", planes), cross)
  }

  test("minhash and hyperplane constants are pinned to their md5 derivation") {
    // the registry oracles inline constants computed by these same
    // functions, so only literal values catch a drift in the md5 helper
    assert(Dedup.minhashParams(3) === Seq(
      (1253933828L, 734533494L), (88079242L, 456301559L), (1787710480L, 199894994L)))
    assert(Similarity.hyperplanes(2, 4).head.toSeq === Seq(0.12, -0.567, -0.777, -0.436))
  }

  test("reattachPastBroadcast derives from the live config, not a row-count constant") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760b")
    try {
      // default 10 MB threshold, 64-dim doubles ~ 560 B/row: the flip
      // sits at threshold/(8*64+48) = 18,724 rows
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", 10485760L)
      assert(!Similarity.reattachPastBroadcast(spark, 10000L, 64))
      assert(Similarity.reattachPastBroadcast(spark, 32768L, 64))
      // a session that tunes the threshold moves the boundary with it -
      // the r14 constant (n > 32768) would silently keep the old tier
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", 1024L)
      assert(Similarity.reattachPastBroadcast(spark, 10L, 64))
      // wider vectors lower the row boundary at the same threshold
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", 10485760L)
      assert(Similarity.reattachPastBroadcast(spark, 10000L, 1024))
      // broadcast disabled = never broadcast = always hash the re-attach
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1L)
      assert(Similarity.reattachPastBroadcast(spark, 1L, 4))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("random projection: linear, deterministic, and distance-preserving on average") {
    val signs = Similarity.signMatrix("rp", 8, 64)
    assert(Similarity.signMatrix("rp", 8, 64).map(_.toSeq).toSeq === signs.map(_.toSeq).toSeq)
    assert(signs.flatten.forall(s => s == 1 || s == -1))
    // roughly balanced signs per output dim (md5 bit parity)
    signs.foreach(row => assert(math.abs(row.sum) <= 24, s"unbalanced row: ${row.sum}"))
    // a one-hot input picks out exactly column i of the matrix (x1000)
    val oneHot = Array.tabulate(64)(i => if (i == 7) 1.0f else 0.0f)
    val projected = Seq(Tuple1(oneHot)).toDF("embedding")
      .select(Similarity.randomProjectQuantized(col("embedding"), signs): _*)
      .head().toSeq.map(_.asInstanceOf[Long])
    assert(projected === signs.map(r => r(7).toLong * 1000L).toSeq)
    // JL sketch property on real embeddings: projected squared distance
    // (scaled by 1/outDims) tracks the true squared distance on average
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .limit(40)
      .select(col("vec_id"),
        asDouble(col("embedding")).as("vec"),
        array(Similarity.randomProjectQuantized(col("embedding"), signs): _*).as("p"))
      .collect()
      .map(r => (r.getSeq[Double](1).toArray, r.getSeq[Long](2).toArray))
    val ratios = for {
      i <- emb.indices; j <- emb.indices if i < j
      trueSq = emb(i)._1.zip(emb(j)._1).map { case (a, b) => (a - b) * (a - b) }.sum
      if trueSq > 1e-9
      projSq = emb(i)._2.zip(emb(j)._2).map { case (a, b) => val d = (a - b) / 1000.0; d * d }.sum / 8.0
    } yield projSq / trueSq
    val mean = ratios.sum / ratios.size
    assert(mean > 0.5 && mean < 2.0, s"JL mean distortion off: $mean")
  }

  test("connected components: chain + clique + singletons, log-round convergence") {
    import graft.operators.ConnectedComponents
    // a 16-node chain (diameter 15), a 3-clique, and 2 isolated nodes
    val chain = (100L until 115L).map(i => (i, i + 1))
    val clique = Seq((1L, 2L), (2L, 3L), (1L, 3L))
    val edges = (chain ++ clique).toDF("a", "b")
    val nodes = ((1L to 3L) ++ (100L to 115L) ++ Seq(500L, 501L)).toDF("id")
    // pointer jumping must close the diameter-15 chain in <= 6 rounds
    val comp = ConnectedComponents.components(nodes, edges, "id", maxIter = 6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (100L to 115L).foreach(i => assert(comp(i) === 100L, s"chain node $i"))
    (1L to 3L).foreach(i => assert(comp(i) === 1L))
    assert(comp(500L) === 500L && comp(501L) === 501L)
    assert(comp.size === 21)
  }

  test("PQ: codes in range; full-oversample annPq equals the exact top-k") {
    import graft.operators.Similarity
    val rnd = new scala.util.Random(31)
    val n = 300
    val dims = 16
    // three separated gaussian-ish blobs so the codebooks have structure
    val data = (0L until n).map { i =>
      val center = (i % 3).toInt * 10.0
      (i, Array.fill(dims)(center + rnd.nextGaussian()).toSeq)
    }.toDF("id", "v")
    val books = Similarity.pqTrain(data, "id", "v", m = 4, ksub = 8, iters = 2)
    assert(books.size === 4 && books.forall(_.length === 8))
    val codes = data
      .select(explode(Similarity.pqEncode(col("v"), books)).as("c"))
      .agg(min("c"), max("c")).head()
    assert(codes.getInt(0) >= 0 && codes.getInt(1) < 8)
    val query = data.filter(col("id") === 7L).head().getSeq[Double](1).toArray
    val k = 12
    // oversample covering the whole corpus => the rerank IS exact brute
    // force, so approximate and exact must agree id-for-id
    val full = Similarity.annPq(data, "id", "v", query, k, books,
      oversample = n / k + 1).select("id").as[Long].collect().toSeq
    val qArr = array(query.toIndexedSeq.map(lit): _*)
    // round like annPq's rerank so near-equal distances tie-break on id
    // identically on both sides
    val exact = data
      .withColumn("d2", round(graft.functions.GraftFunctions.dot(col("v"), col("v")) -
        lit(2.0) * graft.functions.GraftFunctions.dot(col("v"), qArr) +
        lit(query.map(x => x * x).sum), 9))
      .orderBy(col("d2"), col("id")).limit(k).select("id").as[Long].collect().toSeq
    assert(full === exact)
    // normal oversample: the planted self-query must be found first, and
    // recall vs exact stays high on blob data
    val approx = Similarity.annPq(data, "id", "v", query, k, books)
      .select("id").as[Long].collect().toSeq
    assert(approx.head === 7L)
    assert(approx.toSet.intersect(exact.toSet).size >= k * 3 / 4,
      s"low PQ recall: $approx vs $exact")
  }

  test("annPq candidate selection plans as TakeOrdered, encode is scan-stage") {
    import graft.operators.Similarity
    val data = (0L until 50L).map(i => (i, Seq.fill(8)(i.toDouble))).toDF("id", "v")
    val books = Similarity.pqTrain(data, "id", "v", m = 2, ksub = 4, iters = 1)
    val plan = Similarity.annPq(data, "id", "v", Array.fill(8)(1.0), 5, books)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("Exchange hashpartitioning"), s"PQ scoring must not shuffle:\n$plan")
  }

  test("crossCosineLsh: true cosines only, same-bucket pairs never missed, no cross join") {
    val rnd = new Random(31)
    def vec() = Array.fill(16)(rnd.nextGaussian())
    val evalRows = (0L until 20L).map(i => (i, vec()))
    val trainRows = (100L until 180L).map(i => (i, vec()))
    val left = evalRows.map { case (i, v) => (i, v.toSeq) }.toDF("eval_id", "evec")
    val right = trainRows.map { case (i, v) => (i, v.toSeq) }.toDF("train_id", "tvec")
    val planes = Similarity.hyperplanes(4, 16)
    val q = Similarity.crossCosineLsh(left, "eval_id", "evec", right, "train_id", "tvec", planes)
    val got = q.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap

    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      val r = d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
      BigDecimal(r).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    def bucket(v: Array[Double]): Int =
      planes.indices.map(p => if (planes(p).zip(v).map { case (w, x) => w * x }.sum > 0) 1 << p else 0).sum
    // every emitted pair carries the exact cosine
    val evalMap = evalRows.toMap; val trainMap = trainRows.toMap
    got.foreach { case ((a, b), c) =>
      assert(math.abs(c - cos(evalMap(a), trainMap(b))) <= 1e-6, s"($a,$b)")
    }
    // recall contract: any pair sharing a bucket (Hamming 0, the
    // guaranteed tier of multi-probe) must be present
    for ((a, av) <- evalRows; (b, bv) <- trainRows
         if bucket(av) == bucket(bv)) {
      assert(got.contains((a, b)), s"same-bucket pair ($a,$b) missing")
    }
    // candidate phase must be a bucket equi-join, never a cross join
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoop"), plan)
  }

  test("hash60 is non-negative and stable") {
    val vals = Seq("a", "b", "a").toDF("s").select(hash60(col("s")).as("h"))
      .as[Long].collect()
    assert(vals.forall(_ >= 0L))
    assert(vals(0) === vals(2))
  }

  test("TableDigest: order/partitioning-independent, tamper-sensitive, refuses floats") {
    import graft.operators.TableDigest
    val df = Seq((1L, "a", true), (2L, "b", false), (3L, null: String, true))
      .toDF("k", "s", "f")
    val a = TableDigest.digest(df, Seq("k", "s", "f"), "x").collect().head
    // same multiset, different order and partitioning -> identical digest
    val b = TableDigest.digest(
      df.orderBy(col("k").desc).repartition(7), Seq("k", "s", "f"), "x").collect().head
    assert(a == b)
    // one flipped cell moves BOTH reducers, not the row count
    val t = TableDigest.digest(
      df.withColumn("s", when(col("k") === 2L, "B").otherwise(col("s"))),
      Seq("k", "s", "f"), "x").collect().head
    assert(t.getLong(1) == a.getLong(1))
    assert(t.getLong(2) != a.getLong(2) && t.getLong(3) != a.getLong(3))
    // NULL is distinct from the empty string
    val e = TableDigest.digest(
      df.withColumn("s", when(col("k") === 3L, "").otherwise(col("s"))),
      Seq("k", "s", "f"), "x").collect().head
    assert(e.getLong(2) != a.getLong(2))
    // non-portable types refuse loudly
    val err = intercept[IllegalArgumentException] {
      TableDigest.digest(df.withColumn("d", lit(1.5)), Seq("k", "d"), "x")
    }
    assert(err.getMessage.contains("non-portable type"))
  }

  test("Winnowing: shared >= w+k-1 token run guarantees a shared fingerprint; density ~ 2/(w+1)") {
    import graft.operators.Winnowing
    val rnd = new Random(7)
    def randTokens(n: Int) = Seq.fill(n)("t" + rnd.nextInt(100000)).mkString(" ")
    val shared = "alpha beta gamma delta epsilon zeta" // 6 tokens = w+k-1 with k=3, w=4
    val twin = randTokens(50) // identical twins -> identical fingerprint sets
    val docs = Seq(
      (1L, randTokens(40) + " " + shared + " " + randTokens(40)),
      (2L, randTokens(35) + " " + shared + " " + randTokens(45)),
      (3L, randTokens(80)),
      (4L, "tiny doc"), // < k tokens -> zero grams, zero fingerprints
      (5L, twin),
      (6L, twin)
    ).toDF("doc_id", "text")
    val fps = Winnowing.fingerprints(docs, "doc_id", "text", k = 3, w = 4)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    val byDoc = fps.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert((byDoc(1L) intersect byDoc(2L)).nonEmpty, "guaranteed shared fingerprint missing")
    assert(!byDoc.contains(4L), "sub-k doc must produce no fingerprints")
    // density: selected distinct positions per doc ~ 2/(w+1) of grams (loose band)
    val posCount = Winnowing.fingerprints(docs, "doc_id", "text", 3, 4)
      .filter(col("id") === 3L).count().toDouble
    val grams = 80 - 2
    assert(posCount > grams * 0.2 && posCount < grams * 0.65, s"density $posCount/$grams")
    // overlapPairs finds exactly the planted pairs at dfCap high enough
    val pairRows = Winnowing.overlapPairs(
      Winnowing.fingerprints(docs, "doc_id", "text", 3, 4), 50).collect()
    val pairs = pairRows.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L), (5L, 6L)))
    // planted-containment pin: identical twins have identical fingerprint
    // sets, so shared == min_fps and containment_ppm is exactly 10^6;
    // the partial-overlap pair scores strictly below full containment
    val twins = pairRows.find(r => r.getLong(0) == 5L).get
    assert(twins.getLong(2) == twins.getLong(3), "twin shared != min_fps")
    assert(twins.getLong(4) == 1000000L, s"twin containment ${twins.getLong(4)}")
    val partial = pairRows.find(r => r.getLong(0) == 1L).get
    assert(partial.getLong(4) > 0L && partial.getLong(4) < 1000000L,
      s"partial-overlap containment ${partial.getLong(4)} not in (0, 10^6)")
  }

  test("PrefixFilterJoin.jaccardJoin equals the brute-force all-pairs join (lossless prefix filter)") {
    import graft.operators.PrefixFilterJoin
    val rnd = new Random(11)
    var prunedTotal = 0L
    for (trial <- 1 to 3; tPpm <- Seq(300000L, 500000L, 800000L)) {
      // clustered universes so real near-dup pairs exist at every threshold
      val sets = (1L to 30L).map { id =>
        val base = (id % 5) * 20
        id -> (0 until (3 + rnd.nextInt(12))).map(_ => s"e${base + rnd.nextInt(25)}").toSet
      }
      val items = sets.flatMap { case (id, es) => es.map(e => (id, e)) }.toDF("id", "el")
      val got = PrefixFilterJoin.jaccardJoin(items, "id", "el", tPpm)
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      val want = (for {
        (a, sa) <- sets; (b, sb) <- sets if a < b
        inter = (sa intersect sb).size.toLong
        uni = (sa union sb).size.toLong
        if 1000000L * inter >= tPpm * uni
      } yield (a, b, inter, uni, 1000000L * inter / uni)).toSet
      assert(got == want, s"trial $trial t=$tPpm: got ${got.size} want ${want.size}")
      // the positional filter must be LOSSLESS (output equality above is
      // the proof — jaccardJoin runs with it on) and must only ever
      // shrink the candidate set vs the plain prefix+length filters
      val it = items.select(col("id"), col("el").as("elem"))
        .filter(col("elem").isNotNull).distinct()
      val plain = PrefixFilterJoin.candidates(it, tPpm, positional = false).count()
      val pos = PrefixFilterJoin.candidates(it, tPpm, positional = true).count()
      assert(pos <= plain, s"positional filter grew candidates: $pos > $plain")
      assert(pos >= want.size.toLong, s"positional filter under-generated: $pos < ${want.size}")
      prunedTotal += plain - pos
    }
    assert(prunedTotal > 0L, "positional filter never pruned a candidate across 9 trials")
    // NULL elements are dropped at intake: sizes/prefixes/verification
    // must all agree with the brute force over the non-null elements
    val withNulls = Seq(
      (1L, "a"), (1L, "b"), (1L, "c"), (1L, null),
      (2L, "a"), (2L, "b"), (2L, "c"),
      (3L, "a"), (3L, null), (3L, null)).toDF("id", "el")
    val gotN = PrefixFilterJoin.jaccardJoin(withNulls, "id", "el", 500000L)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(gotN == Set((1L, 2L, 3L, 3L, 1000000L)),
      s"null elements skewed the join: $gotN")
  }

  test("PrefixFilterJoin.containmentJoin equals the brute-force all-pairs join") {
    import graft.operators.PrefixFilterJoin
    val rnd = new Random(17)
    for (trial <- 1 to 3; tPpm <- Seq(300000L, 500000L, 800000L)) {
      // small probes vs larger corpus docs, clustered so containment
      // (not just Jaccard) pairs exist — the |y| >> |x| regime the
      // asymmetric tier is FOR
      val probes = (1L to 12L).map { id =>
        val base = (id % 4) * 15
        id -> (0 until (3 + rnd.nextInt(5))).map(_ => s"e${base + rnd.nextInt(20)}").toSet
      }
      val corpus = (101L to 125L).map { id =>
        val base = (id % 4) * 15
        id -> (0 until (10 + rnd.nextInt(25))).map(_ => s"e${base + rnd.nextInt(30)}").toSet
      }
      val pdf = probes.flatMap { case (id, es) => es.map(e => (id, e)) }.toDF("id", "el")
      val cdf = corpus.flatMap { case (id, es) => es.map(e => (id, e)) }.toDF("id", "el")
      val got = PrefixFilterJoin.containmentJoin(pdf, cdf, "id", "el", tPpm)
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      val want = (for {
        (x, sx) <- probes; (y, sy) <- corpus
        inter = (sx intersect sy).size.toLong
        szx = sx.size.toLong
        if 1000000L * inter >= tPpm * szx
      } yield (x, y, inter, szx, 1000000L * inter / szx)).toSet
      assert(got == want, s"trial $trial t=$tPpm: got ${got.size} want ${want.size}")
    }
    // the pigeonhole edge the y-side prefix would break: y's matching
    // elements are its most FREQUENT (sort last in the canonical order),
    // so any y-side prefix filter would miss the pair — the full y index
    // must find it. x = {a,b}, every corpus doc contains a and b plus
    // rare private elements; C(x->y) = 1.0 for all.
    val px = Seq((1L, "a"), (1L, "b")).toDF("id", "el")
    val py = (101L to 105L).flatMap(y =>
      Seq((y, "a"), (y, "b"), (y, s"rare$y"), (y, s"solo$y"))).toDF("id", "el")
    val full = PrefixFilterJoin.containmentJoin(px, py, "id", "el", 1000000L)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(full == (101L to 105L).map(y => (1L, y, 2L, 2L, 1000000L)).toSet,
      s"full-index contract broken: $full")
    // probe elements ABSENT from the corpus (df 0, sort first in the
    // prefix) must not create false negatives: x = {a, zz} with zz
    // nowhere in the corpus still reaches C = 1/2 pairs at t = 0.5
    val pxa = Seq((1L, "a"), (1L, "zz")).toDF("id", "el")
    val half = PrefixFilterJoin.containmentJoin(pxa, py, "id", "el", 500000L)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(half == (101L to 105L).map(y => (1L, y, 1L, 2L, 500000L)).toSet,
      s"absent-element prefix slot caused a false negative: $half")
  }

  test("CountMin never undercounts, matches exact within the 2N/width bound, and merges by sum") {
    import graft.operators.CountMin
    val rnd = new Random(23)
    val keys = (1 to 2000).map(_ => s"k${(rnd.nextGaussian().abs * 60).toInt}")
    val df = keys.toDF("k")
    val exact = keys.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val sketch = CountMin.build(df, "k", 4, 256)
    assert(sketch.count() <= 4L * 256L)
    val probes = exact.keys.toSeq.toDF("k")
    val est = CountMin.estimate(sketch, probes, "k", 4, 256)
      .as[(String, Long)].collect().toMap
    val bound = 2L * keys.size / 256 + 1
    for ((k, e) <- exact) {
      assert(est(k) >= e, s"$k undercounted: ${est(k)} < $e")
      assert(est(k) <= e + bound * 8, s"$k grossly overcounted: ${est(k)} vs $e")
    }
    // a never-seen key estimates >= 0 (may collide, never negative)
    val miss = CountMin.estimate(sketch, Seq("never_seen_zz").toDF("k"), "k", 4, 256)
      .as[(String, Long)].collect().head
    assert(miss._2 >= 0L)
    // linearity: sketch(a ++ b) == cellwise sum of the two half sketches
    val (h1, h2) = keys.splitAt(900)
    val summed = CountMin.build(h1.toDF("k"), "k", 4, 256)
      .unionByName(CountMin.build(h2.toDF("k"), "k", 4, 256))
      .groupBy("j", "bucket").agg(sum("c").as("c"))
      .as[(Int, Long, Long)].collect().toSet
    val whole = sketch.as[(Int, Long, Long)].collect().toSet
    assert(summed == whole, "count-min linearity (mergeability) broken")
  }

  test("Hits equals the in-memory integer HITS replay; bipartite sides separate") {
    import graft.operators.Hits
    val rnd = new Random(31)
    val edges = (1 to 60).map(_ => (rnd.nextInt(8).toLong, 100L + rnd.nextInt(12))).distinct
    val got = Hits.run(edges.toDF("src", "dst"), 2)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    // reference: same fixed rounds, same floored L∞ normalization
    var hub = (edges.map(_._1) ++ edges.map(_._2)).distinct.map(_ -> 1000000L).toMap
    var auth = hub
    for (_ <- 1 to 2) {
      val aRaw = edges.groupBy(_._2).view.mapValues(_.map(e => hub(e._1)).sum).toMap
      val aMax = aRaw.values.max
      auth = aRaw.view.mapValues(v => 1000000L * v / aMax).toMap
      val hRaw = edges.groupBy(_._1).view.mapValues(_.map(e => auth(e._2)).sum).toMap
      val hMax = hRaw.values.max
      hub = hRaw.view.mapValues(v => 1000000L * v / hMax).toMap
    }
    for ((n, (h, a)) <- got) {
      assert(h == hub.getOrElse(n, 0L), s"hub($n): $h != ${hub.getOrElse(n, 0L)}")
      assert(a == auth.getOrElse(n, 0L), s"auth($n): $a != ${auth.getOrElse(n, 0L)}")
    }
    // bipartite: sources have auth 0, sinks have hub 0
    assert(edges.map(_._1).distinct.forall(n => got(n)._2 == 0L))
    assert(edges.map(_._2).distinct.forall(n => got(n)._1 == 0L))
  }

  test("TableDigest.digestBy localizes a tamper to its slice; slice rows sum to the total") {
    import graft.operators.TableDigest
    val df = (1L to 300L).map(i => (i, s"g${i % 3}", s"v$i")).toDF("k", "g", "s")
    val a = TableDigest.digestBy(df, Seq("k", "g", "s"), "g", "x")
      .as[(String, String, Long, Long, Long)].collect().map(r => r._2 -> r).toMap
    assert(a.values.map(_._3).sum == 300L)
    // tamper ONE row in g1: only g1's digests move
    val t = df.withColumn("s", when(col("k") === 7L, "TAMPERED").otherwise(col("s")))
    val b = TableDigest.digestBy(t, Seq("k", "g", "s"), "g", "x")
      .as[(String, String, Long, Long, Long)].collect().map(r => r._2 -> r).toMap
    assert(a("g0") == b("g0") && a("g2") == b("g2"), "untouched slices must digest equal")
    assert(a("g1")._4 != b("g1")._4 || a("g1")._5 != b("g1")._5, "tampered slice must move")
    assert(a("g1")._3 == b("g1")._3, "tamper moved a row count")
    // non-portable group column refuses loudly
    val err = intercept[IllegalArgumentException] {
      TableDigest.digestBy(df.withColumn("d", lit(1.5)), Seq("k"), "d", "x")
    }
    assert(err.getMessage.contains("non-portable"))
  }

  test("Coverage.greedySelect equals the in-memory greedy (ties to smallest id, early exhaustion)") {
    val pairs = Seq(
      (1L, "a"), (1L, "b"), (1L, "c"), (1L, "c"), // duplicate pair must not double-count
      (2L, "c"), (2L, "d"), (2L, "e"),
      (3L, "a"), (3L, "b"), // strict subset of 1's picks -> never selected
      (4L, "f")
    ).toDF("id", "el")
    val got = graft.operators.Coverage.greedySelect(pairs, "id", "el", 4)
      .as[(Long, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    // r1: ids 1 and 2 both gain 3 -> tie to id 1; r2: id 2 gains d,e;
    // r3: id 4 gains f; then nothing uncovered remains -> 3 rows, not 4
    assert(got == Seq((1L, 1L, 3L, 3L), (2L, 2L, 2L, 5L), (3L, 4L, 1L, 6L)))
  }

  test("Coverage.greedySelectStochastic: both epsilon ends equal exact; sampling is honored") {
    import graft.operators.Coverage
    val pairs = (1L to 12L).flatMap(i => (0 until (13 - i).toInt).map(j => (i, s"e${i}_$j")))
      .toDF("id", "el")
    val exact = Coverage.greedySelect(pairs, "id", "el", 5)
      .as[(Long, Long, Long, Long)].collect().toSeq
    // samplePpm = 10^6 keeps every candidate (plan-identical);
    // samplePpm = 0 empties every sample so EVERY round takes the exact
    // fallback — the two ends must both reproduce the exact greedy
    for (ppm <- Seq(1000000L, 0L)) {
      val got = Coverage.greedySelectStochastic(pairs, "id", "el", 5, ppm)
        .as[(Long, Long, Long, Long)].collect().toSeq
      assert(got == exact, s"ppm=$ppm diverged from exact")
    }
    // sampling honored: find an id OUT of round 1's 50% sample and give
    // it the largest gain — the stochastic pick must be the best SAMPLED
    // id instead (replaying the same hash the operator uses)
    val flags = spark.range(1, 13)
      .select(col("id"), (graft.functions.GraftFunctions.hash60(
        "covsample", concat(col("id").cast("string"), lit(":1"))) % 1000000L < 500000L).as("in1"))
      .as[(Long, Boolean)].collect().toMap
    assert(flags.values.exists(identity) && flags.values.exists(!_), "need a mixed round-1 sample")
    val outId = (1L to 12L).find(!flags(_)).get
    val inIds = (1L to 12L).filter(flags(_))
    val data = ((0 until 50).map(j => (outId, s"big$j")) ++
      inIds.flatMap(i => (0 until 3).map(j => (i, s"s${i}_$j")))).toDF("id", "el")
    val pick1 = Coverage.greedySelectStochastic(data, "id", "el", 1, 500000L)
      .as[(Long, Long, Long, Long)].collect().head
    assert(pick1._2 == inIds.min && pick1._3 == 3L,
      s"round 1 must pick the best sampled id, got $pick1 (outId=$outId)")
  }

  test("Ablation.leaveOneOut: complement identity, whole-corpus group, negative refusal") {
    import graft.operators.Ablation
    val df = Seq(
      ("a", 10L, 1L), ("a", 20L, 0L), ("a", 30L, 1L),
      ("b", 100L, 1L), ("b", 200L, 1L),
      ("c", 6L, 0L)
    ).toDF("src", "v", "flag")
    val got = Ablation.leaveOneOut(df, col("src"), Seq("v" -> col("v"), "flag" -> col("flag")))
      .as[(String, Long, Long, Option[Long], Option[Long], Long, Option[Long], Option[Long])]
      .collect().map(r => r._1 -> r).toMap
    // corpus: n=6, Σv=366, Σflag=4 -> full_v_milli = 61000
    assert(got("a")._3 == 61000L)
    // drop a: (366-60)/3 = 102 -> 102000; delta 41000
    assert(got("a")._4.contains(102000L) && got("a")._5.contains(41000L))
    // drop b: (366-300)/4 = 16.5 -> 16500
    assert(got("b")._4.contains(16500L))
    // flag loo for c: 4/5 -> 800
    assert(got("c")._7.contains(800L))
    // a group that IS the corpus -> NULL loo/delta
    val solo = Ablation.leaveOneOut(df.filter(col("src") === "a"), col("src"),
      Seq("v" -> col("v"))).as[(String, Long, Long, Option[Long], Option[Long])].collect().head
    assert(solo._4.isEmpty && solo._5.isEmpty)
    // negative metric values refuse loudly (div/floor cross-engine trap)
    val err = intercept[Exception] {
      Ablation.leaveOneOut(df.withColumn("v", -col("v")), col("src"),
        Seq("v" -> col("v"))).collect()
    }
    assert((err.getMessage + Option(err.getCause).map(_.getMessage).getOrElse(""))
      .contains("non-negative"))
  }

  test("Stratified.neymanSample: allocation totals, saturation cap, exact isqrt, zero-spread refusal") {
    import graft.operators.Stratified
    val rnd = new Random(47)
    // three strata with very different spreads; Neyman must favour the
    // volatile one
    val rows =
      (1L to 300L).map(i => ("calm", 500L + (i % 3), i)) ++
      (301L to 600L).map(i => ("wild", rnd.nextInt(100000).toLong, i)) ++
      (601L to 620L).map(i => ("tiny", rnd.nextInt(100000).toLong, i))
    val df = rows.toDF("st", "y", "k")
    val got = Stratified.neymanSample(df, col("st"), col("y"), col("k"), budget = 100)
      .as[(String, Long, Long, Long, Long, Option[Long])].collect()
      .map(r => r._1 -> r).toMap
    // exact isqrt: sd^2 <= variance < (sd+1)^2 replayed from the data
    for ((st, r) <- got) {
      val ys = rows.filter(_._1 == st).map(_._2)
      val mu = ys.sum / ys.size
      val ssq = ys.map(v => (v - mu) * (v - mu)).sum
      val variance = if (ys.size > 1) ssq / (ys.size - 1) else 0L
      assert(r._3 * r._3 <= variance && (r._3 + 1) * (r._3 + 1) > variance,
        s"$st sd ${r._3} not the isqrt of $variance")
      assert(r._4 <= r._2, s"$st allocated past its population")
      // the sampled mean exists whenever the stratum got draws
      assert(r._6.isDefined == (r._4 > 0L), s"$st samp_mean presence")
    }
    // budget honored: allocations sum to 100 unless a stratum saturated
    val totalAlloc = got.values.map(_._4).sum
    val saturated = got.values.exists(r => r._4 == r._2)
    assert(totalAlloc == 100L || (saturated && totalAlloc <= 100L), s"alloc sum $totalAlloc")
    // the wild stratum out-draws the calm one (same size, ~1000x spread)
    assert(got("wild")._4 > got("calm")._4)
    // all-constant strata -> zero Neyman weights everywhere -> loud refusal
    val flat = Seq(("a", 5L, 1L), ("a", 5L, 2L), ("b", 7L, 3L), ("b", 7L, 4L)).toDF("st", "y", "k")
    val err = intercept[Exception] {
      Stratified.neymanSample(flat, col("st"), col("y"), col("k"), 10).collect()
    }
    def chain(t: Throwable): String = if (t == null) "" else t.getMessage + "|" + chain(t.getCause)
    assert(chain(err).contains("zero spread"))
  }

  test("Stratified.neymanSample: hash-threshold path is row-identical to bottom-k; domain refusals") {
    import graft.operators.Stratified
    def chain(t: Throwable): String = if (t == null) "" else t.getMessage + "|" + chain(t.getCause)
    val rnd = new Random(53)
    val rows =
      (1L to 400L).map(i => ("calm", 500L + (i % 7), i)) ++
      (401L to 800L).map(i => ("wild", rnd.nextInt(100000).toLong, i)) ++
      (801L to 830L).map(i => ("tiny", rnd.nextInt(100000).toLong, i))
    val df = rows.toDF("st", "y", "k")
    def rows6(r: org.apache.spark.sql.DataFrame) =
      r.as[(String, Long, Long, Long, Long, Option[Long])].collect().sortBy(_._1).toSeq
    // bottomKCap = 0 forces the 100 TB hash-threshold path at any
    // budget; the two membership paths must pick the SAME sample (both
    // are "alloc_h smallest (hash60, key) per stratum") across budgets
    // that exercise saturation (tiny stratum drained), sparse draws and
    // near-full coverage
    for (budget <- Seq(7, 120, 500)) {
      val viaBottomK = rows6(
        Stratified.neymanSample(df, col("st"), col("y"), col("k"), budget))
      val viaThreshold = rows6(
        Stratified.neymanSample(df, col("st"), col("y"), col("k"), budget, bottomKCap = 0))
      assert(viaBottomK == viaThreshold,
        s"membership paths diverged at budget=$budget:\n$viaBottomK\n$viaThreshold")
    }
    // a ZERO-survivor stratum must hit the undersample refusal, not a
    // silent NULL samp_mean: a negative overfetch slack forces thr ≤ 0
    // for every stratum (no row hashes below it), so the guard can only
    // fire if the counts aggregate from the allocation side — a
    // survivors-only groupBy has no row to guard (the r12 ADVICE gap)
    val zero = intercept[Exception] {
      Stratified.neymanSample(df, col("st"), col("y"), col("k"), 10,
        bottomKCap = 0, overfetchSlack = -1000).collect()
    }
    assert(chain(zero).contains("undersampled"), chain(zero))
    assert(chain(zero).contains("kept 0 rows"), chain(zero))
    // negative y refuses loudly (Spark div truncates toward zero where
    // DuckDB // floors — a negative stratum sum silently diverges)
    val neg = intercept[Exception] {
      Stratified.neymanSample(df.withColumn("y", col("y") - 1000L),
        col("st"), col("y"), col("k"), 10).collect()
    }
    assert(chain(neg).contains("non-negative"))
    // a stratum whose n_h·range² leaves int64 refuses loudly BEFORE the
    // ssq pass can wrap (range 4e9 -> range² ≈ 1.6e19 > 2^63−1)
    val wide = (Seq(("w", 0L, 1L), ("w", 4000000000L, 2L)) ++
      (3L to 10L).map(i => ("ok", i, i))).toDF("st", "y", "k")
    val ovf = intercept[Exception] {
      Stratified.neymanSample(wide, col("st"), col("y"), col("k"), 5).collect()
    }
    assert(chain(ovf).contains("integer domain"))
  }

  test("Hits: normalization refuses loudly past the ~9.2e6 in-degree bound (x10^6 grid wrap)") {
    import graft.operators.Hits
    def chain(t: Throwable): String = if (t == null) "" else t.getMessage + "|" + chain(t.getCause)
    // one authority with 9,300,000 distinct in-edges: the first
    // half-round's raw sum is 10^6 · 9.3e6 = 9.3e12 > (2^63−1) div 10^6
    // ≈ 9.22e12, so the ×10^6 normalization would wrap — must raise, not
    // rank wrong
    val edges = spark.range(9300000L).selectExpr("id + 1 as src", "0L as dst")
    val err = intercept[Exception] { Hits.run(edges, 1).collect() }
    assert(chain(err).contains("in-degree exceeds"), chain(err).take(500))
  }

  test("KneserNey.bigramScore equals the in-memory interpolated-KN replay") {
    import graft.operators.KneserNey
    val corpus = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "The cat sat on the hat"),
      (3L, "the dog ran to the mat"),
      (4L, "one"), // < 2 tokens -> no bigrams -> no output row
      (5L, "mat the on sat cat the")) // same words, scrambled order
    val got = KneserNey.bigramScore(corpus.toDF("doc_id", "text"), "doc_id", "text")
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    // replay: lowercase whitespace tokens, corpus-wide KN with D = 3/4
    val toks = corpus.toMap.view
      .mapValues(_.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq).toMap
    val bigs = toks.view.mapValues(ts => ts.zip(ts.drop(1))).toMap
    val all = bigs.values.flatten.toSeq
    val cVW = all.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val cV = all.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val n1pV = cVW.keys.toSeq.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val n1pW = cVW.keys.toSeq.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val b = cVW.size.toLong
    for ((id, bs) <- bigs if bs.nonEmpty) {
      val micros = bs.map { bg =>
        val num = (b * (4L * cVW(bg) - 3L) + 3L * n1pV(bg._1) * n1pW(bg._2)).toDouble
        val den = (4L * b * cV(bg._1)).toDouble
        math.floor(-math.log(num / den) * 1e6).toLong
      }
      assert(got(id) == ((id, bs.size.toLong, micros.sum, micros.sum / bs.size)),
        s"doc $id: ${got.get(id)}")
    }
    assert(!got.contains(4L), "a 1-token doc must emit no row")
    // the word-order property the unigram tier cannot see: doc 5 reuses
    // doc 1's exact words but in an order the corpus never repeats, so
    // its bigram cross-entropy must exceed doc 1's
    assert(got(5L)._4 > got(1L)._4,
      s"scrambled doc must score worse: ${got(5L)._4} <= ${got(1L)._4}")
  }

  test("Expectations: null semantics, unique collisions, FK orphans, minimal passes") {
    import graft.operators.Expectations
    import graft.operators.Expectations._
    val df = Seq(
      (Some(1L), Some(5.0), Some("1-URGENT"), Some("F")),
      (Some(2L), None, Some("9-BOGUS"), Some("X")),
      (Some(2L), Some(50.0), None, Some("O")),
      (None, Some(999.0), Some("2-HIGH"), None)
    ).toDF("k", "v", "pri", "st")
    val dim = Seq(1L, 3L).toDF("dk")
    val got = Expectations.check(df, Seq(
      NotNull("k"),
      InRange("v", 0.0, 100.0),
      Matches("pri", "^[1-5]-"),
      InSet("st", Seq("F", "O", "P")),
      Unique(Seq("k")),
      RefIntegrity("k", dim, "dk")
    )).as[(String, Long, Long, Boolean)].collect()
      .map { case (r, n, v, p) => r -> ((n, v, p)) }.toMap
    // one NULL k
    assert(got("not_null(k)") == ((4L, 1L, false)))
    // NULL v violates; 999 out of range -> 2
    assert(got("in_range(v,0.0,100.0)") == ((4L, 2L, false)))
    // NULL pri violates; 9-BOGUS fails the anchor -> 2
    assert(got("matches(pri)") == ((4L, 2L, false)))
    // NULL st violates; X not in set -> 2
    assert(got("in_set(st)") == ((4L, 2L, false)))
    // k = 2 twice -> 1 colliding extra row (NULL keys form their own group of 1)
    assert(got("unique(k)") == ((4L, 1L, false)))
    // k = 2 twice are orphans (dim has 1, 3); NULL child key passes
    assert(got("ref_integrity(k->dk)") == ((4L, 2L, false)))
    // an all-green frame reports pass = true everywhere
    val clean = Seq((1L, "F"), (2L, "O")).toDF("k", "st")
    val ok = Expectations.check(clean, Seq(NotNull("k"), InSet("st", Seq("F", "O")),
      Unique(Seq("k", "st")))).as[(String, Long, Long, Boolean)].collect()
    assert(ok.forall(_._4), ok.mkString(","))
    // duplicate rule names and empty rule lists refuse loudly
    intercept[IllegalArgumentException] {
      Expectations.check(clean, Seq(NotNull("k"), NotNull("k")))
    }
    intercept[IllegalArgumentException] { Expectations.check(clean, Seq.empty) }
  }

  test("Expectations: empty-frame verdicts, freshness clock, drift thresholds") {
    import graft.operators.Expectations
    import graft.operators.Expectations._
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.as[(String, Long, Long, Boolean)].collect()
        .map { case (r, n, v, p) => r -> ((n, v, p)) }.toMap
    // EMPTY frame: row-local rules verdict 0 violations / pass (vacuous
    // truth, never a NULL); Fresh is stale (nothing proves recency);
    // Drift with an empty current side violates. (the r10 ADVICE item:
    // sum over zero rows is NULL without the coalesce)
    val empty = Seq.empty[(Option[Long], Option[String], Option[java.sql.Timestamp])]
      .toDF("k", "st", "ts")
    val ref = Seq("a", "a", "b").toDF("v")
    val e = asMap(Expectations.check(empty, Seq(
      NotNull("k"), InRange("k", 0.0, 9.0), Matches("st", "^x"), InSet("st", Seq("x")),
      Unique(Seq("k")), Fresh("ts", 1000000L, 500L), Drift("st", ref, "v", 900000L))))
    assert(e("not_null(k)") == ((0L, 0L, true)))
    assert(e("in_range(k,0.0,9.0)") == ((0L, 0L, true)))
    assert(e("matches(st)") == ((0L, 0L, true)))
    assert(e("in_set(st)") == ((0L, 0L, true)))
    assert(e("unique(k)") == ((0L, 0L, true)))
    assert(e("fresh(ts,1000000,500)") == ((0L, 1L, false)))
    assert(e("drift(st~v,900000)") == ((0L, 1L, false)))
    // Fresh: newest row inside the lag passes, outside fails; all-null
    // timestamp column is stale
    val ts = Seq(
      new java.sql.Timestamp(900000L * 1000L),
      new java.sql.Timestamp(999000L * 1000L)).map(Tuple1(_)).toDF("ts")
    val f = asMap(Expectations.check(ts, Seq(
      Fresh("ts", 1000000L, 2000L), Fresh("ts", 1000000L, 500L))))
    assert(f("fresh(ts,1000000,2000)") == ((2L, 0L, true)), f.toString)
    assert(f("fresh(ts,1000000,500)") == ((2L, 1L, false)))
    val nullTs = Seq.fill(3)(Tuple1(null: java.sql.Timestamp)).toDF("ts")
    assert(asMap(Expectations.check(nullTs, Seq(Fresh("ts", 10L, 10L))))
      .apply("fresh(ts,10,10)") == ((3L, 1L, false)))
    // Drift: cur 3:1 vs ref 1:1 over {a,b} -> TVD = 1/4 = 250000 ppm;
    // threshold above passes, below fails, empty reference fails
    val cur = Seq("a", "a", "a", "b").toDF("c")
    val rf = Seq("a", "b").toDF("v")
    val d = asMap(Expectations.check(cur, Seq(
      Drift("c", rf, "v", 250000L), Drift("c", rf, "v", 249999L),
      Drift("c", rf.filter(col("v") === "zzz"), "v", 999999L, tag = "empty_ref"))))
    assert(d("drift(c~v,250000)") == ((4L, 0L, true)), d.toString)   // 250000 <= threshold
    assert(d("drift(c~v,249999)") == ((4L, 1L, false)))
    assert(d("drift(c~empty_ref,999999)") == ((4L, 1L, false)))              // empty reference
  }

  test("PrefixSpan.frequentPatterns equals the brute-force subsequence miner (seeded fuzz)") {
    import graft.operators.PrefixSpan
    val rnd = new Random(91)
    val syms = Vector("a", "b", "c", "d")
    val seqs = (1 to 40).map(i =>
      i.toString -> Seq.fill(3 + rnd.nextInt(10))(syms(rnd.nextInt(syms.size))))
    val rows = seqs.flatMap { case (sid, es) =>
      es.zipWithIndex.map { case (e, p) => (sid, e, (p + 1).toLong) } }
    val df = rows.toDF("sid", "e", "pos")
    val got = PrefixSpan.frequentPatterns(df, minSupportPct = 30, maxLen = 4)
      .as[(String, Int, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    // ground truth: every DISTINCT subsequence (gaps free, order kept)
    // of length <= 4 per sequence, counted once per supporting sequence
    def subs(es: Seq[String]): Set[List[String]] = {
      val out = scala.collection.mutable.Set[List[String]]()
      def go(start: Int, acc: List[String]): Unit = {
        if (acc.nonEmpty) out += acc.reverse
        if (acc.length == 4) return
        for (i <- start until es.length) go(i + 1, es(i) :: acc)
      }
      go(0, Nil)
      out.toSet
    }
    val minsup = (seqs.size * 30 + 99) / 100
    val counts = scala.collection.mutable.Map[List[String], Long]()
    for ((_, es) <- seqs; p <- subs(es)) counts(p) = counts.getOrElse(p, 0L) + 1L
    val want = counts.toMap.filter(_._2 >= minsup)
      .map { case (p, c) => (p.mkString(">"), p.length) -> c }
    assert(got == want,
      s"pattern sets diverge: got ${got.size}, want ${want.size}; " +
        s"extra=${(got.keySet -- want.keySet).take(5)}, missing=${(want.keySet -- got.keySet).take(5)}")
  }

  test("PrefixSpan.frequentPatternsMaxGap equals the gap-aware brute force; greedy would be wrong") {
    import graft.operators.PrefixSpan
    val rnd = new Random(17)
    val syms = Vector("a", "b", "c", "d")
    val seqs = (1 to 30).map(i =>
      i.toString -> Seq.fill(4 + rnd.nextInt(10))(syms(rnd.nextInt(syms.size))))
    val rows = seqs.flatMap { case (sid, es) =>
      es.zipWithIndex.map { case (e, p) => (sid, e, (p + 1).toLong) } }
    val g = 2
    val got = PrefixSpan.frequentPatternsMaxGap(rows.toDF("sid", "e", "pos"),
        minSupportPct = 20, maxLen = 4, maxGap = g)
      .as[(String, Int, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    // ground truth: distinct subsequences whose consecutive picks sit
    // within g positions
    def subsGap(es: Seq[String]): Set[List[String]] = {
      val out = scala.collection.mutable.Set[List[String]]()
      def go(prev: Int, acc: List[String]): Unit = {
        if (acc.length == 4) return
        val idx = if (acc.isEmpty) es.indices
                  else (prev + 1) to math.min(es.length - 1, prev + g)
        for (i <- idx) { val a2 = es(i) :: acc; out += a2.reverse; go(i, a2) }
      }
      go(-1, Nil)
      out.toSet
    }
    val minsup = (seqs.size * 20 + 99) / 100
    val counts = scala.collection.mutable.Map[List[String], Long]()
    for ((_, es) <- seqs; p <- subsGap(es)) counts(p) = counts.getOrElse(p, 0L) + 1L
    val want = counts.toMap.filter(_._2 >= minsup)
      .map { case (p, c) => (p.mkString(">"), p.length) -> c }
    assert(got == want,
      s"gap pattern sets diverge: got ${got.size}, want ${want.size}; " +
        s"extra=${(got.keySet -- want.keySet).take(5)}, missing=${(want.keySet -- got.keySet).take(5)}")
    // the case that BREAKS earliest-occurrence greedy matching under a
    // gap bound: in a . . a b at maxGap 1, the earliest 'a' reaches
    // nothing, the later 'a' reaches 'b' — a>b must still be found
    val tricky = Seq(("t", "a", 1L), ("t", "c", 2L), ("t", "c", 3L),
      ("t", "a", 4L), ("t", "b", 5L)).toDF("sid", "e", "pos")
    val tp = PrefixSpan.frequentPatternsMaxGap(tricky, 100, 2, maxGap = 1)
      .as[(String, Int, Long)].collect().map(_._1).toSet
    assert(tp.contains("a>b"), s"greedy-style miss: $tp")
  }

  test("PrefixSpan edges: identical-symbol sequences, apriori cut, 100% minsup") {
    import graft.operators.PrefixSpan
    // 3 sequences of 'a' with lengths 4/2/1: pattern a^k is supported by
    // exactly the sequences of length >= k
    val rows = (1 to 4).map(p => ("s1", "a", p.toLong)) ++
      (1 to 2).map(p => ("s2", "a", p.toLong)) ++ Seq(("s3", "a", 1L))
    val df = rows.toDF("sid", "e", "pos")
    // minsup = ceil(34% of 3) = 2: a (3), a>a (2) pass; a>a>a has
    // support 1 — pruned, and apriori must not even grow a^4 from it
    val got = PrefixSpan.frequentPatterns(df, 34, 4)
      .as[(String, Int, Long)].collect().map(r => r._1 -> r._3).toMap
    assert(got == Map("a" -> 3L, "a>a" -> 2L), got.toString)
    // 100% minsup keeps only patterns present in EVERY sequence
    val all = PrefixSpan.frequentPatterns(df, 100, 4)
      .as[(String, Int, Long)].collect().map(r => r._1 -> r._3).toMap
    assert(all == Map("a" -> 3L), all.toString)
  }

  test("Dsir: an empty target slice degrades to the uniform target LM — defined and deterministic") {
    import graft.operators.Dsir
    val docs = Seq((1L, "a b c", false), (2L, "a b a b", false), (3L, "z", false))
      .toDF("doc_id", "text", "tgt")
    val lw1 = Dsir.logImportanceMicronats(docs, "doc_id", "text", col("tgt"), 64, "es")
      .as[(Long, Long)].collect().toMap
    val lw2 = Dsir.logImportanceMicronats(docs, "doc_id", "text", col("tgt"), 64, "es")
      .as[(Long, Long)].collect().toMap
    // doc 3 has < 2 tokens -> no bigrams -> excluded by contract
    assert(lw1.keySet == Set(1L, 2L), lw1.toString)
    assert(lw1 == lw2, "empty-target weights are not deterministic")
  }

  test("Dsir: target-like docs out-weigh off-target docs; resample is deterministic with rk 1..k") {
    import graft.operators.Dsir
    // target slice speaks 'x y'-family bigrams; doc 100 repeats them,
    // doc 200 shares none — lw(100) must exceed lw(200)
    val docs = (
      (1L to 20L).map(i => (i, "x y x y x y z w", true)) ++
      Seq((100L, "x y x y x y x y", false), (200L, "q r s t q r s t", false))
    ).toDF("doc_id", "text", "tgt")
    val lw = Dsir.logImportanceMicronats(docs, "doc_id", "text", col("tgt"), 256, "dspec")
      .as[(Long, Long)].collect().toMap
    assert(lw(100L) > lw(200L), s"lw(100)=${lw(100L)} !> lw(200)=${lw(200L)}")
    val s1 = Dsir.resample(docs, "doc_id", "text", col("tgt"), 256, 5, "dspec", "draw")
      .as[(Long, Long, Int)].collect().sortBy(_._3).toSeq
    val s2 = Dsir.resample(docs, "doc_id", "text", col("tgt"), 256, 5, "dspec", "draw")
      .as[(Long, Long, Int)].collect().sortBy(_._3).toSeq
    assert(s1 == s2, "resample is not deterministic")
    assert(s1.map(_._3) == (1 to 5), s"ranks: ${s1.map(_._3)}")
    assert(s1.map(_._1).distinct.size == 5)
  }
}
