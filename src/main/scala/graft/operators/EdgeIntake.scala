package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The edge intake of the undirected graph operators (ConnectedComponents,
  * LabelProp, KCore, RandomWalk, Louvain and the q229/q230 degree
  * statistics): one symmetrize and one distinct-pair audit, so each
  * edge-handling decision is written once.
  */
private[graft] object EdgeIntake {

  /** Both directions of every `(a, b)` pair as `(src, dst, carried…)`:
    * each pair fans out through ONE explode(array(struct…)) Generate over
    * the one scan of `pairs` — never a union of two projections, which
    * would read (and, uncached, derive) the pair frame twice. The caller
    * owns any cache or checkpoint around the result. */
  def symmetrize(pairs: DataFrame, carried: String*): DataFrame = {
    val keep = carried.map(col)
    pairs.select(explode(array(
        struct(col("a").as("src") +: col("b").as("dst") +: keep: _*),
        struct(col("b").as("src") +: col("a").as("dst") +: keep: _*))).as("e"))
      .select(col("e.src").as("src") +: col("e.dst").as("dst") +:
        carried.map(c => col(s"e.$c").as(c)): _*)
  }

  /** Distinct undirected pairs with a ≠ b, as `(a, b, w = 1)` with long
    * endpoints. Both refusals ride consumed columns: a self-loop refuses
    * on `b`, a duplicate pair on `w` through one raw-vs-distinct
    * canonical-pair count on a 1-row broadcast. `op` tags both messages;
    * `dupTail` says what a duplicate would break. The audited frame reads
    * the inner cache `gate` owns only until the consumer's own cache or
    * checkpoint materializes. */
  def distinctPairs(edges: DataFrame, gate: LocalTier, op: String,
      dupTail: String): DataFrame = {
    val e = gate.cache(edges.select(
      col("a").cast("long").as("a"),
      Guards(col("b").cast("long") =!= col("a").cast("long"),
        col("b").cast("long"),
        Guards.msg(op,
          lit("self-loop edge ("), col("a").cast("string"), lit(", "),
          col("b").cast("string"),
          lit(") - input must be distinct undirected pairs with a != b")))
        .as("b")))
    val audit = e.agg(count(lit(1)).as("__c"),
      countDistinct(least(col("a"), col("b")),
        greatest(col("a"), col("b"))).as("__d"))
    e.crossJoin(broadcast(audit))
      .select(col("a"), col("b"),
        Guards(col("__c") === col("__d"), lit(1L),
          Guards.msg(op,
            lit("duplicate undirected edges ("), col("__c").cast("string"),
            lit(" rows, "), col("__d").cast("string"),
            lit(s" distinct pairs) - $dupTail"))).as("w"))
  }
}
