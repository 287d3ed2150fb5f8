package graft

import org.apache.spark.sql.functions._

/** RewriteIntersectOverlap optimizer rule: size(array_intersect) > 0
  * becomes arrays_overlap when element types are null-free; results are
  * unchanged; null-admitting element types are left alone. */
class IntersectOverlapSpec extends SparkSpec {
  import spark.implicits._

  // non-foldable source (parquet scan) so constant folding can't erase
  // the expressions before the rule is observable
  private def tokensDf = Tables.documents(spark, "/root/testdata/sf0.001")
    // split() yields containsNull=false string arrays
    .select(
      col("doc_id"),
      split(col("text"), " ").as("x"),
      split(col("source"), "_").as("y"))

  test("rule rewrites the intersection-emptiness idiom to arrays_overlap") {
    val df = tokensDf.select(expr("size(array_intersect(x, y)) > 0").as("hit"))
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("arrays_overlap"), s"not rewritten:\n$optimized")
    assert(!optimized.contains("array_intersect"), s"intersect survived:\n$optimized")
  }

  test("rewritten predicate returns the same answers") {
    val viaIdiom = tokensDf
      .select(col("doc_id"), expr("size(array_intersect(x, y)) > 0").as("hit"))
      .as[(Long, Boolean)].collect().sortBy(_._1).toSeq
    val direct = tokensDf
      .select(col("doc_id"), arrays_overlap(col("x"), col("y")).as("hit"))
      .as[(Long, Boolean)].collect().sortBy(_._1).toSeq
    assert(viaIdiom === direct)
    assert(viaIdiom.exists(_._2) || viaIdiom.nonEmpty)
  }

  test("null-admitting element arrays are NOT rewritten (semantics differ)") {
    // transform(.., when(..)) has containsNull=true elements
    val df = tokensDf
      .select(
        transform(col("x"), t => when(length(t) > 2, t)).as("xn"),
        col("y"))
      .select(expr("size(array_intersect(xn, y)) > 0").as("hit"))
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(optimized.contains("array_intersect"), s"unsafe rewrite happened:\n$optimized")
  }
}
