package graft.examples

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.functions.GraftFunctions.hash60
import graft.operators.{Dedup, EvalMetrics, LabelProp, Triangles}

/** Corpus-health monitoring: the worked example tying the round-9
  * evaluation wing into the report a pipeline runs after every snapshot —
  *
  *   drift        two-sample KS on doc length between snapshot halves
  *   filter model exact ROC-AUC of the quality scorer vs task labels
  *   agreement    Cohen's kappa of the nearest-centroid classifier
  *   boilerplate  triangle density of the near-dup candidate graph
  *                (clustering coefficient >= 1/2 flags template families)
  *   review reach label propagation of a sparse "reviewed" tag over the
  *                same graph (how much of the corpus a spot-check covers)
  *
  * Each statistic is already oracle-checked on its own (q174/q175/q177/
  * q173/q179); this module pins the COMPOSITION into one single-row
  * report, every figure an exact integer (parts-per-million via integer
  * div — valid while num*1e6 fits a long; pre-bin per [[EvalMetrics]]
  * beyond). Scale: every stage is shuffle-bounded; the only driver
  * traffic is PrefixSum's per-partition offsets and the final report row.
  */
object MonitorDemo {

  /** One-row health report over a documents + embeddings snapshot. */
  def report(docs: DataFrame, emb: DataFrame, seed: String = "monitor-v1"): DataFrame = {
    // 1. snapshot drift: stable hash-split stands in for snapshot t vs
    //    t+1 (a real deployment passes two actual snapshots and tags them)
    val halves = docs.select(
      col("n_chars"),
      (hash60(seed, col("doc_id").cast("string")) % 2 === 0).as("s1"))
    val ks = EvalMetrics.ksTest(halves, col("s1"), col("n_chars"))
      .select(expr("(d_num * 1000000) div d_den").as("ks_ppm"))

    // 2. quality-filter model: the x1000-grid linear scorer vs labels.
    // (The exploded grid feeds three consumers, but persisting it was
    // measured SLOWER at sf0.1 — the explode is cheap and the
    // materialization costs more than the recompute; keep it lazy.
    // Re-measured r16 after the LabelProp tier: persistOnce here is
    // still ~30% slower isolated, 6.8s vs 5.2s IsoBench min.)
    val pos = emb
      .select(col("vec_id"), col("label"), posexplode(col("embedding")).as(Seq("i0", "v")))
      .select(col("vec_id"), col("label"), (col("i0") + 1).as("i"),
        floor(col("v").cast(DoubleType) * 1000).cast(LongType).as("qv"))
    val w = when(col("i") % 3 === 0, 2L).when(col("i") % 3 === 1, -1L).otherwise(1L)
    val scored = pos.groupBy("vec_id", "label").agg(sum(col("qv") * w).as("s"))
    val auc = EvalMetrics.rocAuc(scored, col("label") >= 5, col("s"))
      .select(expr("(auc_num * 1000000) div auc_den").as("auc_ppm"))

    // 3. classifier-vs-label agreement (nearest centroid on the grid)
    val cent = pos.groupBy(col("label").as("clabel"), col("i"))
      .agg(floor(sum(col("qv")).cast(DoubleType) / count(lit(1))).cast(LongType).as("cv"))
    val dists = pos.join(broadcast(cent), Seq("i"))
      .groupBy(col("vec_id"), col("label"), col("clabel"))
      .agg(sum((col("qv") - col("cv")) * (col("qv") - col("cv"))).as("d2"))
    val pw = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_id").orderBy(col("d2"), col("clabel"))
    val confusion = dists.withColumn("rn", row_number().over(pw))
      .filter(col("rn") === 1)
      .groupBy(col("label"), col("clabel").as("pred"))
      .agg(count(lit(1)).as("cnt"))
    // kappa_den = N^2 - sum(row_k*col_k) is legitimately 0 when the
    // snapshot collapses to a single label (chance agreement = 1); emit
    // NULL for that degenerate case instead of an engine-dependent
    // null-vs-error (Spark's integer div returns null on 0, DuckDB
    // raises — nullif makes both engines agree). KS/AUC need no such
    // guard: EvalMetrics now fails fast on an empty sample/class.
    val kappa = EvalMetrics.cohenKappa(confusion, "label", "pred", "cnt")
      .select(expr("(kappa_num * 1000000) div nullif(kappa_den, 0)").as("kappa_ppm"))

    // 4+5. the near-dup candidate graph, consumed twice
    val index = Dedup.shingleIndex(docs, "doc_id", "text", n = 3)
    val sig = Dedup.minhashSignatures(index, "doc_id", numHashes = 32)
    val pairs = graft.Q.persistOnce(
      Dedup.lshCandidates(Dedup.lshBands(sig, "doc_id", bands = 8, rows = 4), "doc_id")
        .select(col("a"), col("b")))
    // boilerplate: clustering coefficient >= 1/2  <=>  4*tri >= deg*(deg-1)
    val boiler = Triangles.perNode(pairs)
      .filter(col("deg") >= 2 && lit(4L) * col("tri") >= col("deg") * (col("deg") - 1))
      .agg(count(lit(1)).as("n_boilerplate"))
    // review reach: seed every 20th doc as human-reviewed, spread 2 hops
    val nodes = pairs.select(col("a").as("node"))
      .unionAll(pairs.select(col("b").as("node"))).distinct()
    val seeds = nodes.filter(col("node") % 20 === 0)
      .select(col("node"), lit(1L).as("lbl"))
    val reach = LabelProp.propagate(nodes, pairs, seeds, iters = 2)
      .agg(sum(when(col("lbl").isNotNull, 1L).otherwise(0L)).as("n_review_reach"))

    ks.crossJoin(broadcast(auc))
      .crossJoin(broadcast(kappa))
      .crossJoin(broadcast(boiler))
      .crossJoin(broadcast(reach))
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.Session.harness()
    report(graft.Tables.documents(spark, dir), graft.Tables.embeddings(spark, dir))
      .show(truncate = false)
    spark.stop()
  }
}
