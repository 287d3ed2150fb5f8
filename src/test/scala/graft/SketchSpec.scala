package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions._
import graft.plans.BloomAgg

/** Contracts of the verifiable-sketch surface (SketchQueries /
  * plans.BloomAgg): bloom membership guarantees, merge algebra, and the
  * KMV estimator's bounds. */
class SketchSpec extends SparkSpec {

  private lazy val s = spark
  import s.implicits._

  private def bloomOf(values: Seq[String], bits: Int, k: Int): Array[Long] = {
    values.toDF("v")
      .agg(call_function("graft_bloom", hash60("t", col("v")), lit(bits), lit(k)))
      .head().getSeq[Long](0).toArray
  }

  private def contains(words: Array[Long], bits: Int, k: Int, v: String): Boolean = {
    val bitArr = BloomAgg.toBits(words, bits)
    val h = Seq(v).toDF("v").select(hash60("t", col("v"))).head().getLong(0)
    val h1 = h % bits
    val h2 = (h >>> 30) | 1L
    (0 until k).forall(i => bitArr(((h1 + i * h2) % bits).toInt))
  }

  test("bloom: zero false negatives — every inserted member probes true") {
    val members = (1 to 500).map(i => s"member-$i")
    val words = bloomOf(members, 4096, 3)
    assert(members.forall(contains(words, 4096, 3, _)))
  }

  test("bloom: false-positive rate stays near the design point") {
    val members = (1 to 500).map(i => s"member-$i")
    val words = bloomOf(members, 16384, 3)
    val probes = (1 to 2000).map(i => s"absent-$i")
    val fp = probes.count(contains(words, 16384, 3, _))
    // load ~ 500*3/16384 = 9.2% set bits -> fp ~ 0.092^3 ~ 0.08%; allow 10x
    assert(fp.toDouble / probes.size < 0.008, s"fp rate ${fp.toDouble / probes.size}")
  }

  test("bloom: out-of-domain longs are masked to the hash60 domain, never crash") {
    // A user feeding e.g. xxhash64 output passes negative longs; the
    // aggregate must mask to the documented 60-bit domain (a no-op for
    // hash60 inputs) instead of probing a negative bit position.
    val raw = Seq(Long.MinValue, -1L, -987654321L, 42L, Long.MaxValue)
    val viaRaw = raw.toDF("h")
      .agg(call_function("graft_bloom", col("h"), lit(1024), lit(3)))
      .head().getSeq[Long](0)
    val viaMasked = raw.map(_ & ((1L << 60) - 1)).toDF("h")
      .agg(call_function("graft_bloom", col("h"), lit(1024), lit(3)))
      .head().getSeq[Long](0)
    assert(viaRaw == viaMasked)
    assert(viaRaw.exists(_ != 0L))
  }

  test("bloom: merge is elementwise OR — union of partial filters equals whole") {
    val all = (1 to 400).map(i => s"x-$i")
    val (left, right) = all.splitAt(137)
    val wl = bloomOf(left, 2048, 4)
    val wr = bloomOf(right, 2048, 4)
    val whole = bloomOf(all, 2048, 4)
    assert(wl.zip(wr).map { case (a, b) => a | b }.sameElements(whole))
  }

  test("bloom: partition-count invariance (partial aggregation path)") {
    val vals = (1 to 300).map(i => s"p-$i")
    def build(parts: Int) = vals.toDF("v").repartition(parts)
      .agg(call_function("graft_bloom", hash60("t", col("v")), lit(1024), lit(3)))
      .head().getSeq[Long](0)
    assert(build(1) == build(7))
  }

  test("bloom decontamination query: flags exactly the docs sharing an eval shingle, plus deterministic FPs only") {
    val dir = "/root/testdata/sf0.001"
    val out = QueryRegistry.byName("q157_bloom_decontaminate").run(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    // exact contamination via shingle equi-join (ground truth)
    val docs = Tables.documents(spark, dir)
    val sh = operators.Dedup.shingleIndex(docs, "doc_id", "text", 3)
    val evalIds = docs.filter(col("source") === "src1").select("doc_id")
    val evalSh = sh.join(evalIds, "doc_id").select("shingle").distinct()
    val truly = sh.join(docs.filter(col("source") =!= "src1").select("doc_id"), "doc_id")
      .join(evalSh, "shingle").select("doc_id").distinct()
      .as[Long].collect().toSet
    // no false negatives: every truly-contaminated doc is flagged
    assert(truly.forall(id => out(id)))
    // false positives are rare (hash-deterministic, but bounded)
    val fps = out.count { case (id, f) => f && !truly.contains(id) }
    assert(fps <= out.size / 20, s"$fps false positives of ${out.size}")
  }

  test("kmv sketch: union-of-sketches equals sketch-of-union and estimator is exact on identical corpora") {
    val xs = (1 to 1000).map(i => s"tok-$i")
    def sk(vals: Seq[String]) = vals.toDF("t")
      .agg(call_function("graft_bottom_k", hash60("kmv", col("t")), col("t"), lit(64)))
      .head().getSeq[Row](0).map(_.getLong(0))
    val a = sk(xs.take(700))
    val b = sk(xs.drop(300)) // overlap 300..700
    val direct = sk(xs) // sketch of the union
    val merged = (a ++ b).distinct.sorted.take(64)
    assert(merged == direct)
    // identical corpora -> estimator says k of k common
    val same = sk(xs.take(500))
    assert(same.toSet.intersect(sk(xs.take(500)).toSet).size == 64)
  }
}
