package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Leakage-safe categorical feature encoding for model training
  * (Micci-Barreca 2001, the leave-one-out variant): replace a
  * high-cardinality categorical column with the mean of the target over
  * the OTHER rows of its category. Including a row's own target in its
  * feature leaks the label — the classic target-encoding bug that
  * inflates offline metrics and collapses in production — so the own
  * row is subtracted exactly: loo = (S_c − x) / (n_c − 1).
  */
object Encoding {

  /** Append exact-rational leave-one-out encoding columns
    * (`loo_num`, `loo_den`; the feature is their quotient) for `target`
    * within `category`. Singleton categories (n_c = 1) have no "other
    * rows" and fall back to the GLOBAL complement (S − x) / (N − 1),
    * keeping the encoding total and deterministic — the standard
    * cold-category fallback. NULL categories are a class of their own
    * (null-safe join). Targets must be non-null integers (a null would
    * silently vanish from S_c while still counting in n_c); violations
    * raise in-plan.
    *
    * Scale shape: one partial-agg'd shuffle to per-category (sum,
    * count), an equi-join back on the category (AQE picks broadcast
    * when the dictionary is small), and one broadcast scalar for the
    * global fallback — no window, no per-row state.
    */
  def looTargetEncode(df: DataFrame, category: Column, target: Column): DataFrame = {
    val withC = df
      .withColumn("__c", category)
      .withColumn("__t",
        Guards(target.isNotNull, target.cast(LongType),
          lit("[encoding] looTargetEncode needs a non-null target (a null would " +
            "silently vanish from the category sum while still counting in n)")))
    val perC = withC.groupBy(col("__c").as("__cc"))
      .agg(sum("__t").as("__s"), count(lit(1)).as("__n"))
    val glob = withC.agg(sum("__t").as("__gs"), count(lit(1)).as("__gn"))
    withC
      .join(perC, col("__c") <=> col("__cc"))
      .crossJoin(broadcast(glob))
      .withColumn("loo_num",
        when(col("__n") > 1L, col("__s") - col("__t"))
          .otherwise(
            Guards(col("__gn") > 1L, col("__gs") - col("__t"),
              lit("[encoding] looTargetEncode needs at least 2 rows for the " +
                "singleton-category global fallback"))))
      .withColumn("loo_den",
        when(col("__n") > 1L, col("__n") - 1L).otherwise(col("__gn") - 1L))
      .drop("__c", "__cc", "__t", "__s", "__n", "__gs", "__gn")
  }
}
