package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation}

/** The round-state rule of every distributed iterative loop in
  * `operators/` (and of their one-off gate frames): each round's frame
  * goes through [[cut]] or [[cutWith]], and nothing else in
  * `operators/` cuts lineage.
  *
  *  - Lineage cut: the frame is replaced by a LOCAL checkpoint, a scan of
  *    its materialized blocks, so round k plans as small as round 1. A
  *    persisted frame keeps its whole plan under the InMemoryRelation,
  *    and a round that reads the previous state twice (a union plus a
  *    frontier filter) doubles that plan every round: SSSP's grew about
  *    4x per round under a persist-and-swap. A reliable checkpoint would
  *    survive a lost executor but needs a checkpoint dir, which nothing
  *    configures; a local checkpoint lives in the executors' block
  *    managers, so losing one mid-call fails the call instead of
  *    recomputing the round.
  *  - One job: the checkpoint is EAGER, materialized by its own job
  *    before anything reads it. Two consumers of an unmaterialized lazy
  *    checkpoint (a vote derivation and the next state join, both sides
  *    of a self-join) race to compute the same partitions concurrently,
  *    doing the round's work twice and landing duplicate block-puts; and
  *    a lazy checkpoint materialized by a later scalar action (a count
  *    over it) costs that action's extra job. A loop that needs a driver
  *    scalar from the round (a frontier count, a label sum, a moved
  *    count) passes it to [[cutWith]] as an aggregate, observed by the
  *    materializing job itself, so the round costs that one job.
  *  - Release: a checkpoint never enters the session's CacheManager. A
  *    superseded round's blocks are freed once nothing references its
  *    frame, so no loop unpersists its state, and a returned frame pins
  *    no session cache entry (`unpersist()` on it is a no-op).
  */
private[graft] object Rounds {

  /** `df` with its lineage cut, materialized by one job. */
  def cut(df: DataFrame): DataFrame = df.localCheckpoint(eager = true)

  /** `df` with its lineage cut, and the value of `scalar`, an aggregate
    * over `df`'s rows (null over no rows where the aggregate is), taken
    * by the same job that materializes the cut. */
  def cutWith[T](df: DataFrame, scalar: Column): (DataFrame, T) = {
    val o = Observation()
    val state = cut(df.observe(o, scalar.as("v")))
    (state, o.get("v").asInstanceOf[T])
  }
}
