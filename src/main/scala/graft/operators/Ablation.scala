package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Leave-one-group-out ablation panel — "which source, when DROPPED,
  * moves the corpus metric most": for every group g and every metric,
  * the corpus-level mean computed over everything EXCEPT g, beside the
  * full-corpus mean and the delta. This is the first question a curation
  * pipeline asks before cutting a source, and the complement identity
  * makes it ONE pass: loo_mean_g = (S − S_g) / (n − n_g) — no per-group
  * re-aggregation, no G× rescans (the same algebra that makes q197's
  * leave-one-out target encoding leakage-safe row-wise works group-wise).
  *
  * Exact integers end to end: metric values must be NON-NEGATIVE longs
  * (enforced in-plan — Spark's `div` truncates toward zero where DuckDB's
  * `//` floors, so negative sums would diverge cross-engine); means land
  * on a ×1000 floored grid. A group that IS the whole corpus has no
  * complement — its loo/delta are NULL, not a division error.
  *
  * Scale shape: one partial-agg'd shuffle to the per-group sums, a
  * 1-row totals broadcast back onto the bounded group frame. Adding a
  * metric adds a column to the same scan, never a pass.
  */
object Ablation {
  def leaveOneOut(df: DataFrame, group: Column, metrics: Seq[(String, Column)]): DataFrame = {
    require(metrics.nonEmpty, "[ablation] no metrics given")
    require(metrics.map(_._1).distinct.size == metrics.size,
      s"[ablation] duplicate metric names: ${metrics.map(_._1).mkString(",")}")
    val aggs = (count(lit(1)).as("n_g") +:
      metrics.map { case (nm, c) => sum(c.cast(LongType)).as(s"s_$nm") }) ++
      metrics.map { case (nm, c) => min(c.cast(LongType)).as(s"min_$nm") }
    val perG = df.groupBy(group.as("g")).agg(aggs.head, aggs.tail: _*)
    val totAggs = sum("n_g").as("n") +:
      metrics.map { case (nm, _) => sum(s"s_$nm").as(s"t_$nm") }
    val tot = perG.agg(totAggs.head, totAggs.tail: _*)
    val k60 = Long.MaxValue / 1000
    perG.crossJoin(broadcast(tot))
      .select(col("g") +: col("n_g") +: metrics.flatMap { case (nm, _) =>
        val full = Guards(
          coalesce(col(s"min_$nm") >= 0L, lit(true)) && col(s"t_$nm") <= k60,
          expr(s"(1000 * t_$nm) div n"),
          concat(lit(s"[ablation] metric $nm needs non-negative values with 1000*sum < 2^63 (min="),
            col(s"min_$nm"), lit(", sum="), col(s"t_$nm"), lit(")")))
        Seq(
          full.as(s"full_${nm}_milli"),
          when(col("n") > col("n_g"),
            expr(s"(1000 * (t_$nm - s_$nm)) div (n - n_g)")).as(s"loo_${nm}_milli"),
          when(col("n") > col("n_g"),
            expr(s"(1000 * (t_$nm - s_$nm)) div (n - n_g) - (1000 * t_$nm) div n"))
            .as(s"delta_${nm}_milli"))
      }: _*)
  }
}
