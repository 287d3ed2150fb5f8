package graft

import scala.util.Random

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions.hash60
import graft.operators.Sampling
import graft.plans.BottomKAgg

/** Coordinated sampling: the bottom-k aggregate vs the window-sort
  * formulation, heap invariants, and the weighted-sample contracts. */
class SamplingSpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new Random(4321)

  private def randomDocs(n: Int, groups: Int) =
    (1 to n).map { i =>
      (i.toLong * 7 + rnd.nextInt(3), s"g${rnd.nextInt(groups)}")
    }.toDF("id", "grp").distinct().cache()

  test("bottomK matches the row_number window formulation exactly") {
    val df = randomDocs(3000, 7)
    val k = 11
    val got = Sampling.bottomK(df, Seq("grp"), "id", k, "seedX")
      .select("grp", "id", "rk")
    val h = hash60("seedX", col("id"))
    val want = df
      .withColumn("rk",
        row_number().over(Window.partitionBy("grp").orderBy(h, col("id"))))
      .filter(col("rk") <= k)
      .select("grp", "id", "rk")
    assert(got.count() === want.count())
    assert(got.exceptAll(want).count() === 0)
    assert(want.exceptAll(got).count() === 0)
  }

  test("bottomK with k larger than every group returns all rows ranked") {
    val df = Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("id", "grp")
    val got = Sampling.bottomK(df, Seq("grp"), "id", 10, "s")
    assert(got.count() === 3)
    assert(got.filter(col("grp") === "a").agg(max("rk")).as[Int].head() === 2)
  }

  test("bottomK is reproducible and seed-sensitive") {
    val df = randomDocs(500, 3)
    val a = Sampling.bottomK(df, Seq("grp"), "id", 5, "s1").collect().toSet
    val b = Sampling.bottomK(df, Seq("grp"), "id", 5, "s1").collect().toSet
    val c = Sampling.bottomK(df, Seq("grp"), "id", 5, "s2").collect().toSet
    assert(a === b)
    assert(a !== c)
  }

  private val longPairOrd =
    BottomKAgg.pairOrdering(
      org.apache.spark.sql.types.LongType, org.apache.spark.sql.types.LongType)

  test("Buf keeps exactly the k lexicographically-smallest pairs") {
    for (trial <- 1 to 50) {
      val k = 1 + rnd.nextInt(8)
      val n = rnd.nextInt(40)
      val pairs = (1 to n).map(_ => (rnd.nextInt(10).toLong, rnd.nextLong()))
      val buf = new BottomKAgg.Buf(k, longPairOrd)
      pairs.foreach { case (a, b) => buf.offer(a, b, identity) }
      assert(buf.sortedPairs === pairs.sorted.take(k),
        s"trial $trial: k=$k n=$n")
    }
  }

  test("Buf merge order does not change the result") {
    val pairs = (1 to 200).map(_ => (rnd.nextInt(50).toLong, rnd.nextLong()))
    val (l, r) = pairs.splitAt(77)
    val h1 = new BottomKAgg.Buf(9, longPairOrd)
    l.foreach { case (a, b) => h1.offer(a, b, identity) }
    val h2 = new BottomKAgg.Buf(9, longPairOrd)
    r.foreach { case (a, b) => h2.offer(a, b, identity) }
    h2.foreachPair((a, b) => h1.offer(a, b, identity))
    val all = new BottomKAgg.Buf(9, longPairOrd)
    pairs.reverse.foreach { case (a, b) => all.offer(a, b, identity) }
    assert(h1.sortedPairs === all.sortedPairs)
  }

  test("Buf desc ordering keeps the k LARGEST keys, payload still ascending") {
    val descOrd = BottomKAgg.pairOrdering(
      org.apache.spark.sql.types.LongType, org.apache.spark.sql.types.LongType,
      desc = true)
    val buf = new BottomKAgg.Buf(3, descOrd)
    Seq((5L, 2L), (5L, 1L), (9L, 7L), (1L, 3L), (7L, 4L))
      .foreach { case (a, b) => buf.offer(a, b, identity) }
    assert(buf.sortedPairs === Seq((9L, 7L), (7L, 4L), (5L, 1L)))
  }

  test("graft_bottom_k accepts string keys and struct payloads (SQL)") {
    Seq(("bb", 2L, 20L), ("aa", 3L, 30L), ("aa", 1L, 10L), ("cc", 4L, 40L))
      .toDF("s", "id", "n").createOrReplaceTempView("bk_str_in")
    val got = spark.sql(
      """SELECT inline(graft_bottom_k(s, struct(id, n), 3)) FROM bk_str_in""")
      .collect().map(r => (r.getString(0), r.getStruct(1).getLong(0)))
    // string key ascending; the ("aa", id=1) pair beats ("aa", id=3) on
    // the struct payload tie-break
    assert(got.toSeq === Seq(("aa", 1L), ("aa", 3L), ("bb", 2L)))
  }

  test("graft_bottom_k survives the partial-agg serialize path with string keys") {
    // many partitions force partial buffers through serialize/merge
    val df = spark.range(0, 2000, 1, 16)
      .selectExpr("concat('s', lpad(cast(id % 97 as string), 3, '0')) AS s", "id")
    df.createOrReplaceTempView("bk_ser_in")
    val got = spark.sql(
      "SELECT inline(graft_bottom_k(s, id, 5)) FROM bk_ser_in")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got.toSeq === Seq(("s000", 0L), ("s000", 97L), ("s000", 194L),
      ("s000", 291L), ("s000", 388L)))
  }

  test("graft_bottom_k int key is accepted at analysis and value-correct") {
    Seq((3, 30L), (1, 10L), (2, 20L)).toDF("i", "id")
      .createOrReplaceTempView("bk_int_in")
    val got = spark.sql(
      "SELECT inline(graft_bottom_k(i, id, 2)) FROM bk_int_in")
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    assert(got.toSeq === Seq((1, 10L), (2, 20L)))
  }

  test("graft_bottom_k rejects unorderable keys at analysis") {
    Seq((1L, 2L)).toDF("a", "b").createOrReplaceTempView("bk_bad_in")
    val e = intercept[Exception] {
      spark.sql("SELECT graft_bottom_k(map(a, b), b, 2) FROM bk_bad_in").collect()
    }
    assert(e.getMessage.toLowerCase.contains("graft_bottom_k") ||
      e.getMessage.toLowerCase.contains("order"), e.getMessage)
  }

  test("bottomK plan aggregates — no Window sort of the full input") {
    val df = randomDocs(200, 3)
    val plan = Sampling.bottomK(df, Seq("grp"), "id", 5, "s")
      .queryExecution.executedPlan.toString
    assert(plan.contains("graft_bottom_k"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("graft_bottom_k is SQL-callable and skips null keys/payloads") {
    Seq((Some(5L), Some(50L)), (None, Some(60L)), (Some(3L), None),
      (Some(1L), Some(10L)), (Some(2L), Some(20L)))
      .toDF("h", "id").createOrReplaceTempView("bk_in")
    val got = spark.sql(
      "SELECT graft_bottom_k(h, id, 2) AS bk FROM bk_in")
      .selectExpr("inline(bk)").as[(Long, Long)].collect().toSeq
    // null key and null payload rows contribute nothing; 2 smallest remain
    assert(got === Seq((1L, 10L), (2L, 20L)))
  }

  test("weightedSample: k winners, ticket counts respect weights, deterministic") {
    val df = (1 to 300).map(i => (i.toLong, 1 + i % 4)).toDF("id", "w")
    val got = Sampling.weightedSample(df, "id", col("w"), 25, "ws")
    val rows = got.collect()
    assert(rows.length === 25)
    // hashes ascending, replica never exceeds the row's weight
    val hs = rows.map(_.getAs[Long]("h"))
    assert(hs.sameElements(hs.sorted))
    rows.foreach { r =>
      val id = r.getAs[Long]("id")
      assert(r.getAs[Int]("replica") <= 1 + (id % 4).toInt)
    }
    val again = Sampling.weightedSample(df, "id", col("w"), 25, "ws").collect()
    assert(rows.map(_.toString).toSeq === again.map(_.toString).toSeq)
  }

  test("weightedSample: weight 0 and negative weights get no tickets") {
    val df = Seq((1L, 5), (2L, 0), (3L, -1), (4L, 1)).toDF("id", "w")
    val got = Sampling.weightedSample(df, "id", col("w"), 100, "wz").collect()
    val ids = got.map(_.getAs[Long]("id")).toSet
    assert(ids === Set(1L, 4L))
    // weight-5 row holds 5 tickets, weight-1 row exactly one
    assert(got.count(_.getAs[Long]("id") == 1L) === 5)
    assert(got.count(_.getAs[Long]("id") == 4L) === 1)
  }

  /** Local replica of GraftFunctions.hash60(seed, id) for operator-free
    * math checks. */
  private def hash60Local(seed: String, id: Long): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"$seed:$id".getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16)
  }

  private def esKey(seed: String, id: Long, w: Double): Double =
    -math.log((hash60Local(seed, id) + 1L).toDouble / (1L << 60).toDouble) / w

  test("ES key math: inclusion frequency converges to w / sum(w) at k = 1") {
    // 30 rows, weight classes 1/2/4 — the top-1 draw must land in each
    // class proportionally to its total weight (exact PPS at k = 1).
    val rows = (1 to 30).map(i => i.toLong -> Seq(1.0, 2.0, 4.0)(i % 3))
    val totalW = rows.map(_._2).sum
    val trials = 4000
    val hits = scala.collection.mutable.Map[Double, Int]().withDefaultValue(0)
    for (t <- 1 to trials) {
      val winner = rows.minBy { case (id, w) => esKey(s"seed$t", id, w) }
      hits(winner._2) += 1
    }
    for (wClass <- Seq(1.0, 2.0, 4.0)) {
      val expected = rows.filter(_._2 == wClass).map(_._2).sum / totalW
      val got = hits(wClass).toDouble / trials
      // 3 sigma at 4000 trials is ~0.024 for these shares
      assert(math.abs(got - expected) < 0.03,
        s"weight class $wClass: got $got expected $expected")
    }
  }

  /** Local replica of the QUANTIZED race key (Sampling.esKeyMicro):
    * (floor(esKey·1e6), -h) — the (cell, hash desc) ordering pair. */
  private def esKeyMicroLocal(seed: String, id: Long, w: Double): (Long, Long) = {
    val h = hash60Local(seed, id)
    (math.floor(-math.log((h + 1L).toDouble / (1L << 60).toDouble) / w * 1e6).toLong, -h)
  }

  test("weightedBottomK matches a local replay of the quantized ES arithmetic") {
    val rows = (1 to 200).map(i => (i.toLong, Seq(0.5, 1.25, 3.0)(i % 3)))
    val df = rows.toDF("id", "w")
    val got = Sampling.weightedBottomK(df, Nil, "id", col("w"), 12, "es1")
      .orderBy("rk").collect().map(r => (r.getAs[Long]("id"), r.getAs[Int]("rk")))
    val want = rows.map { case (id, w) => (id, esKeyMicroLocal("es1", id, w)) }
      .sortBy { case (id, key) => (key, id) }
      .take(12).zipWithIndex.map { case ((id, _), i) => (id, i + 1) }
    assert(got.toSeq === want)
    // the quantized order refines to the raw-key order except on
    // micro-cell collisions — none among these 200 keys, so the two
    // replays must agree here (the quantization is a posture change,
    // not a semantics change, away from near-ties)
    val wantRaw = rows.map { case (id, w) => (id, esKey("es1", id, w)) }
      .sortBy { case (id, key) => (key, id) }
      .take(12).map(_._1)
    assert(got.map(_._1).toSeq === wantRaw)
  }

  test("weightedBottomK: grouped, excludes w <= 0, reproducible and seed-sensitive") {
    val rows = (1 to 120).map(i =>
      (i.toLong, s"g${i % 3}", if (i % 10 == 0) 0.0 else 1.0 + (i % 4)))
    val df = rows.toDF("id", "grp", "w")
    val a = Sampling.weightedBottomK(df, Seq("grp"), "id", col("w"), 7, "sA")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    // zero-weight rows can never appear
    assert(a.forall { case (_, id, _) => id % 10 != 0 })
    assert(a.size === 21)
    val b = Sampling.weightedBottomK(df, Seq("grp"), "id", col("w"), 7, "sA")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    val c = Sampling.weightedBottomK(df, Seq("grp"), "id", col("w"), 7, "sB")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    assert(a === b)
    assert(a !== c)
  }

  test("weightedBottomK plan aggregates — no Window sort of the full input") {
    val df = (1 to 50).map(i => (i.toLong, 1.5)).toDF("id", "w")
    val plan = Sampling.weightedBottomK(df, Nil, "id", col("w"), 5, "s")
      .queryExecution.executedPlan.toString
    assert(plan.contains("graft_bottom_k"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("weightedSample plan is a TakeOrdered, not a global sort") {
    val df = (1 to 100).map(i => (i.toLong, 2)).toDF("id", "w")
    val plan = Sampling.weightedSample(df, "id", col("w"), 5, "s")
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }
}
