package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Greedy coverage-maximizing selection (the classic (1 − 1/e) greedy
  * set-cover heuristic) over an `(id, elem)` membership frame: `rounds`
  * times, pick the item whose element set covers the most STILL-UNCOVERED
  * elements (ties break to the smallest id — deterministic, replayable),
  * then mark its elements covered. This is the data-selection primitive
  * behind "pick the K documents that maximize n-gram/skill coverage" —
  * the subset-selection step a training-data pipeline runs after dedup:
  * near-dups are gone, but the corpus is still redundant, and marginal
  * COVERAGE (not raw quality score) is what a K-document budget should
  * buy. Facility-location greedy over a coverage function is the standard
  * published formulation (submodular maximization; Nemhauser et al. 1978
  * gives the (1 − 1/e) bound).
  *
  * Two tiers:
  *  - [[greedySelect]] — the EXACT greedy: every round aggregates gains
  *    over every remaining candidate. (1 − 1/e) of optimal; K <= 64.
  *  - [[greedySelectStochastic]] — the stochastic-greedy tier
  *    (Mirzasoleiman et al. 2015, "Lazier Than Lazy Greedy"): each round
  *    evaluates gains only over a HASH-SAMPLED candidate subset
  *    (`samplePpm` of the ids, deterministic per (id, round) so any SQL
  *    engine replays the same sample), achieving (1 − 1/e − ε) in
  *    expectation with sampling rate ~ln(1/ε)/K. The per-round gain
  *    aggregate shrinks by the sampling rate — the scan/shuffle saving
  *    that makes budget-K selection with K in the hundreds viable; the
  *    round cap relaxes to 1024. If a round's sample holds no remaining
  *    candidate, the pick falls back to the exact argmax (deterministic:
  *    "best sampled if any, else best overall"), so the operator never
  *    stalls early and samplePpm=0 degenerates to the exact greedy —
  *    the two ends the property spec pins.
  *
  * Scale shape per round: one partial-agg'd count by id over the
  * remaining (sampled) pairs, a top-1 TakeOrdered (never a global sort),
  * and one anti-join that removes the newly-covered elements — the frame
  * shrinks-or-holds monotonically. Per-round state is cut by
  * [[Rounds.cut]] (the LabelProp/KCore contract), so superseded rounds
  * pin nothing in the session cache. The per-round driver touchpoint is
  * a SINGLE row (the argmax), same bounded-collect posture as
  * PageRank/BPE's driver tiers.
  * Rounds are FIXED (caller-chosen K), so run time never becomes
  * data-dependent.
  *
  * Returns `(round, id, gain, covered_total)` — one row per pick, fewer
  * than `rounds` rows iff coverage is exhausted early.
  */
object Coverage {
  def greedySelect(pairs: DataFrame, idCol: String, elemCol: String, rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 64, s"Coverage.greedySelect wants 1..64 rounds, got $rounds")
    run(pairs, idCol, elemCol, rounds, None)
  }

  /** The sampled tier — see object doc. `samplePpm` is the per-round
    * candidate sampling rate in parts-per-million (0..10^6; 10^6 keeps
    * every candidate and is plan-identical to the exact tier). */
  def greedySelectStochastic(pairs: DataFrame, idCol: String, elemCol: String,
      rounds: Int, samplePpm: Long): DataFrame = {
    require(rounds >= 1 && rounds <= 1024,
      s"Coverage.greedySelectStochastic wants 1..1024 rounds, got $rounds")
    require(samplePpm >= 0L && samplePpm <= 1000000L,
      s"Coverage.greedySelectStochastic wants samplePpm in [0, 10^6], got $samplePpm")
    run(pairs, idCol, elemCol, rounds, Some(samplePpm).filter(_ < 1000000L))
  }

  /** Deterministic per-(id, round) membership in the round's candidate
    * sample: hash60("covsample:" + id + ":" + round) mod 10^6 < ppm —
    * replayable in any engine with md5. */
  private def inSample(id: Column, round: Int, ppm: Long): Column =
    graft.functions.GraftFunctions.hash60(
      "covsample", concat(id.cast("string"), lit(":" + round))) % 1000000L < ppm

  /** Size-guarded routing bound (the PageRank.runLocal / Louvain
    * posture): a deduped membership frame inside the bound selects on
    * the driver at zero per-round job cost — each distributed round is
    * ~3 fixed-cost jobs (gain aggregate + top-1 collect + anti-join
    * cut) whatever the data volume. The local tier replays the
    * identical greedy (same hash60 sampling via hash60Local, same
    * (gain desc, id asc) argmax, same exact-fallback rule) for LONG ids
    * (LocalTierSpec pins the tiers); past the bound the aggregate plan
    * runs unchanged. */
  private val LocalRowLimit = 2L << 20

  private def run(pairs: DataFrame, idCol: String, elemCol: String,
      rounds: Int, samplePpm: Option[Long]): DataFrame = {
    val spark = pairs.sparkSession
    val idType = pairs.schema(idCol).dataType
    // The gate must not add a pass at scale: round 0's cut of the
    // deduped membership existed anyway, so cut FIRST (one
    // materialization, exactly as before), then gate on the materialized
    // blocks; both the local-tier collect and the distributed rounds
    // read the same blocks. (The first version persistOnce'd + counted
    // before the cut — an extra cold materialization of the 6M string
    // rows at the 10x point: q226 big_s 9.6 -> 13.2s. Restored.)
    var uncovered = Rounds.cut(
      pairs.select(col(idCol).as("id"), col(elemCol).as("elem")).distinct())
    // the driver tier keys elements in hash maps and is Long-id-specialized
    new LocalTier(LocalRowLimit, Seq(pairs.schema(elemCol).dataType),
      supported = idType == LongType)
      .collect(uncovered).foreach { case Seq(arr) =>
        return runLocal(spark, arr.map(r => (r.getLong(0), r.get(1))), rounds, samplePpm)
      }
    val picks = scala.collection.mutable.ArrayBuffer.empty[Row]
    var total = 0L
    var exhausted = false
    for (r <- 1 to rounds if !exhausted) {
      // top-1 argmax: plans as TakeOrderedAndProject over the aggregated
      // per-id counts — one bounded row crosses to the driver
      def top1(cand: DataFrame): Array[Row] = cand
        .groupBy("id").agg(count(lit(1)).as("g"))
        .orderBy(col("g").desc, col("id")).limit(1).collect()
      val sampledTop = top1(samplePpm match {
        case Some(p) => uncovered.filter(inSample(col("id"), r, p))
        case None => uncovered
      })
      // empty sample != exhausted coverage: fall back to the exact argmax
      // before declaring the ground set spent
      val top = if (sampledTop.isEmpty && samplePpm.isDefined) top1(uncovered) else sampledTop
      if (top.isEmpty) exhausted = true
      else {
        val id = top.head.get(0)
        val g = top.head.getLong(1)
        total += g
        picks += Row(r.toLong, id, g, total)
        val covered = uncovered.filter(col("id") === lit(id)).select("elem")
        uncovered = Rounds.cut(uncovered.join(covered, Seq("elem"), "left_anti"))
      }
    }
    spark.createDataFrame(
      java.util.Arrays.asList(picks.toSeq: _*),
      StructType(Seq(
        StructField("round", LongType, nullable = false),
        StructField("id", idType),
        StructField("gain", LongType, nullable = false),
        StructField("covered_total", LongType, nullable = false))))
  }

  /** Driver tier: the identical greedy on the collected distinct
    * membership rows — per round the same deterministic hash sample
    * (hash60Local, bit-equal to the Column hash60), the same
    * (gain desc, id asc) argmax, the same best-sampled-else-best-overall
    * fallback, elements of the pick removed from every candidate. */
  private def runLocal(spark: org.apache.spark.sql.SparkSession,
      rowsArr: Array[(Long, Any)], rounds: Int,
      samplePpm: Option[Long]): DataFrame = {
    import scala.collection.mutable
    import scala.jdk.CollectionConverters._
    val elems = mutable.HashMap.empty[Long, mutable.HashSet[Any]]
    val byElem = mutable.HashMap.empty[Any, mutable.ArrayBuffer[Long]]
    rowsArr.foreach { case (id, e) =>
      elems.getOrElseUpdate(id, mutable.HashSet.empty) += e
      byElem.getOrElseUpdate(e, mutable.ArrayBuffer.empty) += id
    }
    val md = java.security.MessageDigest.getInstance("MD5")
    val picks = mutable.ArrayBuffer.empty[Row]
    var total = 0L
    var exhausted = false
    var r = 1
    while (r <= rounds && !exhausted) {
      def top1(inSampleOnly: Boolean): Option[(Long, Long)] = {
        var bestId = Long.MaxValue
        var bestG = 0L
        var found = false
        elems.foreach { case (id, es) =>
          if (es.nonEmpty &&
              (!inSampleOnly || graft.functions.GraftFunctions
                .hash60Local(md, s"covsample:$id:$r") % 1000000L < samplePpm.get)) {
            val g = es.size.toLong
            if (!found || g > bestG || (g == bestG && id < bestId)) {
              found = true; bestG = g; bestId = id
            }
          }
        }
        if (found) Some((bestId, bestG)) else None
      }
      val sampled = top1(samplePpm.isDefined)
      val top = if (sampled.isEmpty && samplePpm.isDefined) top1(false) else sampled
      top match {
        case None => exhausted = true
        case Some((id, g)) =>
          total += g
          picks += Row(r.toLong, id, g, total)
          // remove the pick's elements via the inverted index: O(total
          // membership of the covered elements), not O(ids x covered)
          val covered = elems(id).toArray
          covered.foreach(e => byElem(e).foreach(other => elems(other).remove(e)))
      }
      r += 1
    }
    spark.createDataFrame(picks.asJava, StructType(Seq(
      StructField("round", LongType, nullable = false),
      StructField("id", LongType),
      StructField("gain", LongType, nullable = false),
      StructField("covered_total", LongType, nullable = false))))
  }
}
