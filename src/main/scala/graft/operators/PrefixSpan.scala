package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}

/** Bounded level-wise sequential-pattern mining (the GSP/PrefixSpan
  * family: Srikant & Agrawal 1996, Pei et al. 2001) — which event
  * ORDERINGS recur across sequences, gaps allowed. q200's trigram miner
  * documents itself as "the sequence-mining primer before a full
  * PrefixSpan"; this is that follow-up: patterns are general
  * subsequences (click … view … purchase with anything in between), not
  * contiguous windows, grown level by level under apriori support
  * pruning.
  *
  * Semantics: a sequence `sid` supports pattern e1>…>ek iff its events
  * contain the pattern as a SUBSEQUENCE (order preserved, gaps free);
  * support = number of distinct sequences (not occurrences). minsup =
  * ceil(minSupportPct% of sequences). Patterns up to `maxLen` items.
  *
  * Shape, per level (fixed `maxLen` rounds — the BPE/PageRank posture):
  *  - extend: occ_{k-1} (one row per (sid, frequent pattern): the
  *    EARLIEST position where the pattern completes — greedy matching
  *    is exact for subsequence containment, so one row per pair is
  *    enough) equi-joins the item-filtered events on `sid` with a
  *    `pos > epos` residual, then re-aggregates min(pos) per
  *    (sid, pattern+item). Every join in the loop keys on sid — one
  *    partitioning reused all the way down; the per-sid blow-up is
  *    bounded by |frequent patterns| × sequence length, and apriori
  *    pruning shrinks the pattern frontier each round;
  *  - prune: support counts per pattern (occ is distinct-by-construction
  *    so count(*) IS the sequence count), filtered against a ONE-ROW
  *    broadcast minsup (never a driver scalar);
  *  - the item dictionary f1 (≤ |event vocabulary|) broadcasts.
  *
  * Exactness: pure integer counting and string concatenation — DuckDB
  * replays the rounds as CTEs verbatim (q244).
  *
  * Input `ev` needs columns (sid, e, pos) with pos a 1-based order rank
  * within sid. Returns (pattern, len, support), unordered — callers
  * apply the total order.
  *
  * Two tiers: [[frequentPatterns]] (gaps free — one earliest-occurrence
  * row per (sid, pattern), the cheap frame) and
  * [[frequentPatternsMaxGap]] (bounded gaps — the full occurrence
  * end-position list, exact where the greedy trick provably is not).
  */
object PrefixSpan {

  /** Size-guarded routing bound (the PageRank.runLocal / Louvain
    * localMoves posture): an event frame that fits comfortably on the
    * driver mines in memory at zero per-level job cost. Each distributed
    * level is ~4 fixed-cost jobs (extend-join, support aggregate, prune
    * join, persist) whatever the data volume — which made the two
    * PrefixSpan entries the most expensive non-composition bench queries
    * on a 100k-row event frame. The local tier computes the IDENTICAL
    * integer/string recurrence (PropertySpec pins local ≡ distributed on
    * random sequence corpora); past the bound the level-wise join plan
    * runs unchanged — at 100 TB that is the only tier that exists. */
  private val LocalRowLimit = 2L << 20

  private def require0(minSupportPct: Int, maxLen: Int): Unit = {
    require(minSupportPct >= 1 && minSupportPct <= 100,
      s"PrefixSpan wants minSupportPct in [1, 100], got $minSupportPct")
    require(maxLen >= 1 && maxLen <= 6,
      s"PrefixSpan wants maxLen in [1, 6] (the pattern grid is O(|items|^maxLen)), got $maxLen")
  }

  /** Normalized (sid, e, pos) rows, cached and shared by both tiers:
    * the local tier collects this frame once; the distributed tier's
    * minsup/f1/evf derivations each re-reference it. The gate keys on
    * `sid`; the driver tier replicates the pattern algebra only for
    * string items (the concat the pattern strings ride). */
  private def normalized(ev: DataFrame): (DataFrame, Option[Array[(Any, String, Long)]]) = {
    val gate = new LocalTier(LocalRowLimit, Seq(ev.schema("sid").dataType),
      supported = ev.schema("e").dataType == StringType)
    val rows = gate.cache(ev.select(col("sid"), col("e"), col("pos").cast("long").as("pos")))
    (rows, gate.collect(rows).map(_.head.map(r => (r.get(0), r.getString(1), r.getLong(2)))))
  }

  /** Distributed prologue: the 1-row broadcast minsup and the
    * item-filtered event frame (persisted — each would otherwise
    * recompute per broadcast reference / per level). */
  private def prep(rows: DataFrame, minSupportPct: Int): (DataFrame, DataFrame) = {
    val ms = graft.Q.persistOnce(rows.agg(
      expr(s"(count(distinct sid) * $minSupportPct + 99) div 100").as("minsup")))
    val f1 = rows.groupBy("e").agg(countDistinct("sid").as("n1"))
      .crossJoin(broadcast(ms)).filter(col("n1") >= col("minsup")).select("e")
    val evf = graft.Q.persistOnce(rows.join(broadcast(f1), "e")
      .select(col("sid"), col("e"), col("pos")))
    (ms, evf)
  }

  def frequentPatterns(ev: DataFrame, minSupportPct: Int, maxLen: Int): DataFrame = {
    require0(minSupportPct, maxLen)
    val (rows, local) = normalized(ev)
    local.foreach(arr =>
      return runLocal(ev.sparkSession, arr, minSupportPct, maxLen, maxGap = 0L))
    val (ms, evf) = prep(rows, minSupportPct)
    def support(occ: DataFrame, k: Int): DataFrame =
      occ.groupBy("pat").agg(count(lit(1)).as("support"))
        .crossJoin(broadcast(ms)).filter(col("support") >= col("minsup"))
        .select(col("pat"), lit(k).as("len"), col("support"))
    var occ = graft.Q.persistOnce(
      evf.groupBy(col("sid"), col("e").as("pat")).agg(min("pos").as("epos")))
    var out = support(occ, 1)
    for (k <- 2 to maxLen) {
      val cand = graft.Q.persistOnce(
        occ.join(evf, Seq("sid"))
          .filter(col("pos") > col("epos"))
          .groupBy(col("sid"), concat(col("pat"), lit(">"), col("e")).as("pat"))
          .agg(min("pos").as("epos")))
      val sup = support(cand, k)
      occ = graft.Q.persistOnce(cand.join(sup.select("pat"), "pat")
        .select(col("sid"), col("pat"), col("epos")))
      out = out.unionAll(sup)
    }
    out.select(col("pat").as("pattern"), col("len"), col("support"))
  }

  /** Gap-constrained tier: consecutive pattern items must sit within
    * `maxGap` positions of each other (v.pos ∈ (prev, prev + maxGap]) —
    * "funnel-like" near-contiguous paths rather than anywhere-in-the-
    * journey orderings. Earliest-occurrence greedy matching is NOT
    * exact here (a LATER occurrence of the prefix can admit an
    * extension the earliest one forbids — e.g. 'a . . . a b' under
    * maxGap 1: the first 'a' reaches nothing, the second reaches 'b'),
    * so occurrences carry their FULL distinct end-position list:
    * occ_k holds every (sid, pattern, pos) such that some gap-valid
    * occurrence ends at pos — exact by induction — and support counts
    * DISTINCT sequences. Scale: the per-level join fanout is bounded
    * by maxGap (each occurrence row meets ≤ maxGap successor events),
    * so the occurrence frame grows by at most ×maxGap per level before
    * the DISTINCT and the apriori prune pull it back; all joins still
    * key on sid. The unconstrained tier keeps the O(1)-per-(sid,
    * pattern) earliest-occurrence frame — use it when gaps are free. */
  def frequentPatternsMaxGap(ev: DataFrame, minSupportPct: Int, maxLen: Int,
      maxGap: Int): DataFrame = {
    require0(minSupportPct, maxLen)
    require(maxGap >= 1 && maxGap <= 64,
      s"PrefixSpan wants maxGap in [1, 64] (fanout is O(maxGap) per level), got $maxGap")
    val (rows, local) = normalized(ev)
    local.foreach(arr =>
      return runLocal(ev.sparkSession, arr, minSupportPct, maxLen, maxGap = maxGap.toLong))
    val (ms, evf) = prep(rows, minSupportPct)
    def support(occ: DataFrame, k: Int): DataFrame =
      occ.groupBy("pat").agg(countDistinct("sid").as("support"))
        .crossJoin(broadcast(ms)).filter(col("support") >= col("minsup"))
        .select(col("pat"), lit(k).as("len"), col("support"))
    var occ = graft.Q.persistOnce(
      evf.select(col("sid"), col("e").as("pat"), col("pos").as("epos")).distinct())
    var out = support(occ, 1)
    for (k <- 2 to maxLen) {
      val cand = graft.Q.persistOnce(
        occ.join(evf, Seq("sid"))
          .filter(col("pos") > col("epos") && col("pos") <= col("epos") + maxGap.toLong)
          .select(col("sid"), concat(col("pat"), lit(">"), col("e")).as("pat"),
            col("pos").as("epos"))
          .distinct())
      val sup = support(cand, k)
      occ = graft.Q.persistOnce(cand.join(sup.select("pat"), "pat")
        .select(col("sid"), col("pat"), col("epos")))
      out = out.unionAll(sup)
    }
    out.select(col("pat").as("pattern"), col("len"), col("support"))
  }

  /** Driver tier: the identical level-wise recurrence on the collected
    * (sid, e, pos) rows — pure Long arithmetic, string concat and exact
    * support counting, so the two tiers are bit-identical (PropertySpec
    * pins them on random corpora for both the free-gap and bounded-gap
    * frames). maxGap = 0 means gaps-free (the earliest-occurrence
    * frame); maxGap >= 1 carries the full distinct end-position lists,
    * exactly like the distributed tier. */
  private def runLocal(spark: org.apache.spark.sql.SparkSession,
      rowsArr: Array[(Any, String, Long)], minSupportPct: Int, maxLen: Int,
      maxGap: Long): DataFrame = {
    import scala.collection.mutable
    import scala.jdk.CollectionConverters._
    val bySid = mutable.HashMap.empty[Any, mutable.ArrayBuffer[(Long, String)]]
    rowsArr.foreach { case (sid, e, pos) =>
      bySid.getOrElseUpdate(sid, mutable.ArrayBuffer.empty) += ((pos, e))
    }
    val nSid = bySid.size.toLong
    val minsup = (nSid * minSupportPct + 99L) / 100L
    // f1: distinct-sequence count per item (support of every 1-pattern)
    val itemN = mutable.HashMap.empty[String, Long]
    bySid.valuesIterator.foreach { evs =>
      val seen = mutable.HashSet.empty[String]
      evs.foreach { case (_, e) =>
        if (seen.add(e)) itemN.update(e, itemN.getOrElse(e, 0L) + 1L)
      }
    }
    val f1 = itemN.iterator.filter(_._2 >= minsup).map(_._1).toSet
    val out = mutable.ArrayBuffer.empty[Row]
    f1.foreach(e => out += Row(e, 1, itemN(e)))
    // item-filtered, pos-sorted event arrays; sids with nothing frequent drop
    val evf: Array[Array[(Long, String)]] = bySid.valuesIterator
      .map(_.filter(t => f1.contains(t._2)).sortBy(_._1).toArray)
      .filter(_.nonEmpty).toArray
    // first index with pos strictly greater than p (evs ascending by pos)
    def upper(evs: Array[(Long, String)], p: Long): Int = {
      var lo = 0; var hi = evs.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (evs(mid)._1 <= p) lo = mid + 1 else hi = mid
      }
      lo
    }
    // per-sequence occurrence state: pattern -> ascending end positions
    // (free tier: exactly one, the earliest completion)
    var occ: Array[mutable.HashMap[String, Array[Long]]] = evf.map { evs =>
      val m = mutable.HashMap.empty[String, Array[Long]]
      if (maxGap == 0L) {
        evs.foreach { case (p, e) => if (!m.contains(e)) m(e) = Array(p) }
      } else {
        val tmp = mutable.HashMap.empty[String, mutable.ArrayBuffer[Long]]
        evs.foreach { case (p, e) =>
          tmp.getOrElseUpdate(e, mutable.ArrayBuffer.empty) += p
        }
        tmp.foreach { case (e, ps) => m(e) = ps.distinct.toArray }
      }
      m
    }
    var k = 2
    var drained = false
    while (k <= maxLen && !drained) {
      val supportN = mutable.HashMap.empty[String, Long]
      val cands = occ.indices.map { i =>
        val evs = evf(i)
        val cand = mutable.HashMap.empty[String, Array[Long]]
        if (maxGap == 0L) {
          occ(i).foreach { case (pat, eposArr) =>
            val seen = mutable.HashSet.empty[String]
            var j = upper(evs, eposArr(0))
            while (j < evs.length) {
              val (p, e) = evs(j)
              if (seen.add(e)) {
                val pat2 = pat + ">" + e
                val cur = cand.get(pat2)
                if (cur.isEmpty || p < cur.get(0)) cand(pat2) = Array(p)
              }
              j += 1
            }
          }
        } else {
          val tmp = mutable.HashMap.empty[String, mutable.TreeSet[Long]]
          occ(i).foreach { case (pat, posArr) =>
            posArr.foreach { p =>
              var j = upper(evs, p)
              while (j < evs.length && evs(j)._1 <= p + maxGap) {
                tmp.getOrElseUpdate(pat + ">" + evs(j)._2,
                  mutable.TreeSet.empty[Long]) += evs(j)._1
                j += 1
              }
            }
          }
          tmp.foreach { case (pat2, s) => cand(pat2) = s.toArray }
        }
        cand.keysIterator.foreach(p2 =>
          supportN.update(p2, supportN.getOrElse(p2, 0L) + 1L))
        cand
      }
      val freq = supportN.filter(_._2 >= minsup)
      freq.foreach { case (pat2, n) => out += Row(pat2, k, n) }
      if (freq.isEmpty) drained = true // every further level extends nothing
      else occ = cands.map(_.filter(c => freq.contains(c._1))).toArray
      k += 1
    }
    spark.createDataFrame(out.asJava, StructType(Seq(
      StructField("pattern", StringType, nullable = true),
      StructField("len", IntegerType, nullable = false),
      StructField("support", LongType, nullable = false))))
  }
}
