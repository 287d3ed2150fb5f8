package graft

import graft.functions.GraftFunctions.hash60
import org.apache.spark.sql.functions._

/** HyperLogLog TypedImperativeAggregate: register exactness vs a driver
  * brute-force, partition-count invariance (merge correctness), and
  * estimate accuracy in the HLL error envelope.
  */
class HllSpec extends SparkSpec {
  import spark.implicits._

  private def hllRegs(ids: org.apache.spark.sql.DataFrame): Array[Int] = {
    ids.agg(call_function("graft_hll", hash60("hll", col("id"))).as("regs"))
      .head().getSeq[Int](0).toArray
  }

  test("registers match a driver-side brute force over the same hashes") {
    val ids = spark.range(0, 5000).toDF("id")
    val regs = hllRegs(ids)
    val hashes = ids.select(hash60("hll", col("id")).as("h")).as[Long].collect()
    val expect = new Array[Int](64)
    hashes.foreach { h =>
      val b = (h & 63).toInt
      val rem = h >>> 6
      val rho = if (rem == 0L) 54 else 55 - (64 - java.lang.Long.numberOfLeadingZeros(rem))
      if (rho > expect(b)) expect(b) = rho
    }
    assert(regs.toSeq === expect.toSeq)
  }

  test("merge is partition-count invariant") {
    val one = hllRegs(spark.range(0, 3000).toDF("id").coalesce(1))
    val many = hllRegs(spark.range(0, 3000).toDF("id").repartition(16))
    assert(one.toSeq === many.toSeq)
  }

  test("estimate lands within the HLL error envelope (~13% for m=64)") {
    val n = 20000
    val regs = hllRegs(spark.range(0, n).toDF("id"))
    val s = regs.map(m => 1L << (54 - m)).sum
    val est = 0.709 * 4096 * math.pow(2, 54) / s.toDouble
    assert(math.abs(est - n) / n < 0.4, s"estimate $est too far from $n")
  }
}
