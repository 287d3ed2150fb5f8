package graft

import graft.functions.GraftFunctions._
import org.apache.spark.sql.functions._

/** Native DotProduct expression: agreement with the HOF and UDF
  * formulations (bit-exact — same fold order), SQL callability after
  * extension registration, codegen participation. */
class DotProductSpec extends SparkSpec {
  import spark.implicits._

  private def vecs = Seq(
    (1L, Array(1.0, 2.0, 3.0), Array(4.0, 5.0, 6.0)),
    (2L, Array(0.1, -0.2), Array(0.3, 0.7)),
    (3L, Array.empty[Double], Array.empty[Double]))
    .toDF("id", "a", "b")

  test("native graft_dot equals HOF and UDF folds bit-exactly") {
    val out = vecs.select(
      call_function("graft_dot", col("a"), col("b")).as("native"),
      dot(col("a"), col("b")).as("hof"),
      dotUdf(col("a"), col("b")).as("viaUdf"))
    val rows = out.collect()
    rows.foreach { r =>
      assert(r.getDouble(0) === r.getDouble(1))
      assert(r.getDouble(0) === r.getDouble(2))
    }
    assert(rows(0).getDouble(0) === 32.0)
    assert(rows(2).getDouble(0) === 0.0)
  }

  test("graft_dot callable from SQL after registration") {
    vecs.createOrReplaceTempView("dot_vecs")
    val r = spark.sql("SELECT id, graft_dot(a, b) AS d FROM dot_vecs ORDER BY id")
      .as[(Long, Double)].collect()
    assert(r(0) === ((1L, 32.0)))
  }

  test("graft_dot stays inside whole-stage codegen") {
    // a local relation constant-folds to LocalTableScan, so check the plan
    // over a real parquet scan
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(asDouble(col("embedding")).as("v"))
    val plan = emb.select(call_function("graft_dot", col("v"), col("v")))
      .queryExecution.executedPlan.toString
    // the "*(n)" prefix marks operators inside a WholeStageCodegen stage;
    // note the HOF cast-transform Project above it carries no star
    assert(plan.matches("(?s).*\\*\\(\\d+\\) Project \\[graft_dot.*"),
      s"graft_dot not in a codegen stage:\n$plan")
  }

  test("optimizer rule rewrites the HOF aggregate/zip_with dot to native") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val hof = emb.select(col("vec_id"), dot(col("v"), col("v")).as("d"))
    val optimized = hof.queryExecution.optimizedPlan.toString
    assert(optimized.contains("graft_dot"), s"rule did not fire:\n$optimized")
    // and the rewrite preserves values exactly vs the un-rewritten UDF fold
    val viaUdf = emb.select(col("vec_id"), dotUdf(col("v"), col("v")).as("d"))
    assert(hof.exceptAll(viaUdf).count() === 0)
    // a non-dot aggregate is left alone
    val notDot = emb.select(
      aggregate(zip_with(col("v"), col("v"), (x, y) => x + y), lit(0.0), (a, x) => a + x).as("s"))
    assert(!notDot.queryExecution.optimizedPlan.toString.contains("graft_dot"))
  }

  test("graft_dot rejects non-double-array inputs at analysis") {
    val bad = Seq((1, "x")).toDF("id", "s")
    val e = intercept[Exception] {
      bad.select(call_function("graft_dot", col("s"), col("s"))).collect()
    }
    assert(e.getMessage.toLowerCase.contains("graft_dot"))
  }

  test("graft_dot_i8 matches a reference int dot and stays in codegen") {
    // Seq[Byte], not Array[Byte] — the latter encodes as `binary`
    val rows = Seq(
      (Seq[Byte](1, -2, 3, 127), Seq[Byte](4, 5, -6, 127)),
      (Seq[Byte](-128, -128), Seq[Byte](-128, -128)),
      (Seq.empty[Byte], Seq.empty[Byte]))
    val df = rows.toDF("a", "b")
      .select(call_function("graft_dot_i8", col("a"), col("b")).as("d"))
    val got = df.as[Long].collect().toSeq
    val want = rows.map { case (a, b) =>
      a.zip(b).map { case (x, y) => x.toLong * y }.sum
    }
    assert(got === want) // incl. 16384+... and (-128)^2*2 = 32768 > Short.MaxValue
    // codegen assertion needs a non-foldable source (literals collapse to
    // LocalTableScan at optimization) — quantize a parquet-backed column
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(transform(asDouble(col("embedding")), x => round(x * 100).cast("byte")).as("q"))
    val onDisk = emb.select(call_function("graft_dot_i8", col("q"), col("q")).as("d"))
    assert(onDisk.agg(sum(col("d"))).head().getLong(0) > 0)
    val plan = onDisk.queryExecution.executedPlan.toString
    assert(plan.matches("(?s).*\\*\\(\\d+\\) Project \\[graft_dot_i8.*"),
      s"graft_dot_i8 not in a codegen stage:\n$plan")
  }

  test("quantized ANN recalls the exact top-k with exact reranked scores") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), asDouble(col("embedding")).as("qvec"))
    val candidates = emb.select(col("vec_id"), asDouble(col("embedding")).as("vec"))
    val exact = graft.operators.Similarity.topKCosine(queries, candidates, 5)
      .as[(Long, Int, Long, Double)].collect()
    val quant = graft.operators.Similarity.topKCosineQuantized(queries, candidates, 5)
      .as[(Long, Int, Long, Double)].collect()
    assert(quant.length === exact.length)
    val exactByPair = exact.map(r => (r._1, r._3) -> r._4).toMap
    val recalled = quant.count(r => exactByPair.contains((r._1, r._3)))
    assert(recalled >= (0.9 * exact.length).toInt, s"recall $recalled/${exact.length}")
    // every recalled pair carries the identical exact score (rerank is
    // full-precision)
    quant.foreach { r =>
      exactByPair.get((r._1, r._3)).foreach(e => assert(e === r._4, s"pair ${(r._1, r._3)}"))
    }
  }
}
