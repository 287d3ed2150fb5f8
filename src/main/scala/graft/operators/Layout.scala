package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multi-dimensional data layout: Z-order (Morton) clustering.
  *
  * Sorting a table by one column gives perfect file-level min/max
  * pruning on that column and none on any other; interleaving the bits
  * of several range-bucketed columns gives useful pruning on ALL of them
  * at once — rows close in z-value are close in every dimension, so each
  * written file covers a small hyper-rectangle and a predicate on any
  * clustered column skips most files on footer stats alone (the
  * Delta/Iceberg `OPTIMIZE ZORDER BY` layout, as plain Spark).
  *
  * Everything is scan-stage column arithmetic: bucket each dimension to
  * `bits` bits (fixed-width over a [min, max] frame, or quantile
  * boundaries for skew robustness — boundaries are 2^bits scalars per
  * column, k-means-style bounded driver metadata), interleave with
  * shift/or, then `repartitionByRange` on the z-value and sort within
  * partitions. One range shuffle total — the same cost as the
  * single-column sort it replaces.
  */
object Layout {

  /** Fixed-width bucket of `c` into [0, 2^bits) over [lo, hi] (clamped;
    * integer arithmetic, so cross-engine exact for integer frames). */
  def widthBucket(c: Column, lo: Long, hi: Long, bits: Int): Column = {
    val n = 1L << bits
    val span = hi - lo + 1
    least(lit(n - 1), greatest(lit(0L),
      ((c.cast("long") - lo) * n / span).cast("long")))
  }

  /** Quantile bucket of `v` given explicit ascending boundary columns:
    * bucket = number of boundaries ≤ v, in [0, boundaries.size]. With
    * 2^bits − 1 boundaries at the 1/2^bits … (2^bits−1)/2^bits quantiles
    * this equal-DEPTH bucketing is the skew-robust drop-in for
    * [[widthBucket]]'s equal-WIDTH one: a column whose mass piles into a
    * narrow value range (the real corpus's Modal_Price: min 1, median
    * 824, max 53,393) collapses into one or two fixed-width buckets —
    * and a z-order built on a collapsed dim prunes nothing on it —
    * while quantile buckets hold ~n/2^bits rows each by construction.
    * Pure comparison arithmetic, value-deterministic (no rank
    * tie-breaking), so cross-engine exact given equal boundaries. */
  def quantileBucket(v: Column, boundaries: Seq[Column]): Column =
    boundaries.map(b => when(v >= b, 1L).otherwise(0L)).reduce(_ + _)

  /** The production boundary source: `approx_percentile` at the 2^bits−1
    * equi-spaced quantiles — one partial-agg'd pass, 2^bits−1 scalars to
    * the driver (bounded planner metadata, like any statistics
    * collection; never data rows). Sketch picks are engine-specific, so
    * verification queries use [[exactQuantileBoundaries]] instead. */
  def approxQuantileBoundaries(
      df: DataFrame, valueCol: String, bits: Int): Seq[Double] = {
    val nb = 1 << bits
    val ps = (1 until nb).map(j => s"${j.toDouble / nb}d").mkString(", ")
    df.select(expr(
        s"approx_percentile(CAST($valueCol AS DOUBLE), array($ps), 10000)").as("b"))
      .head().getSeq[Double](0)
  }

  /** Exact, value-DETERMINISTIC boundaries, replayable in any SQL engine:
    * `b_j = min { v : 2^bits · cum(v) ≥ j · n }` over the per-distinct-
    * value cumulative counts — integer threshold arithmetic, no rank
    * tie-breaking, so two engines agree bit-for-bit however duplicated
    * the rows. The window runs over DISTINCT values only (value
    * cardinality, not row count — bounded the way a dictionary is); at
    * genuinely unbounded cardinality use [[approxQuantileBoundaries]].
    * Returns one row with columns b1 … b(2^bits − 1). */
  def exactQuantileBoundaries(
      df: DataFrame, valueCol: String, bits: Int): DataFrame = {
    val nb = 1 << bits
    val vc = BoundedWindow.aggregated(
      df.groupBy(col(valueCol).as("v")).agg(count(lit(1)).as("c")),
      "distinct values of the z-order dim")
    val cum = vc.withColumn("cum", sum("c").over(BoundedWindow.orderBy(col("v"))))
    val n = df.agg(count(lit(1)).as("n"))
    val first +: rest = (1 until nb).map(j =>
      min(when(col("cum") * nb >= col("n") * j, col("v"))).as(s"b$j"))
    cum.crossJoin(broadcast(n)).agg(first, rest: _*)
  }

  /** Morton interleave of pre-bucketed dims (each already in
    * [0, 2^bits)): bit i of dim d lands at position i*dims.length + d.
    * Pure shift/or column expression — codegen-resident, no UDF. */
  def zvalue(dims: Seq[Column], bits: Int): Column = {
    require(dims.nonEmpty && bits >= 1 && bits * dims.size <= 62,
      s"need 1+ dims and bits*dims <= 62, got ${dims.size} dims x $bits bits")
    val terms = for {
      i <- 0 until bits
      (d, di) <- dims.zipWithIndex
    } yield shiftleft(shiftright(d, i).bitwiseAND(lit(1L)), i * dims.size + di)
    terms.reduce(_.bitwiseOR(_)).cast("long")
  }

  /** The query side of the z-order layout: all z-values whose per-dim
    * bucket coordinates fall inside the given per-dim bucket ranges
    * (`boxes(d) = (loBucket, hiBucket)`, inclusive), compressed to
    * inclusive [zlo, zhi] ranges. A reader filters the z column with
    * [[zFilter]] over these ranges; because z-ordered files cover tight
    * z intervals, the ranges prune at file/row-group level through plain
    * parquet min/max stats — no custom index structure. Exact by
    * construction: enumerates the box's bucket grid (driver-side, so the
    * box volume is required bounded — a planner computation, like
    * partition-pruning literal evaluation) and merges the Morton curve's
    * naturally-contiguous runs.
    */
  def zRanges(boxes: Seq[(Long, Long)], bits: Int): Seq[(Long, Long)] = {
    val dims = boxes.size
    require(dims >= 1 && bits * dims <= 62, "need 1+ dims and bits*dims <= 62")
    val top = (1L << bits) - 1
    val volume = boxes.map { case (lo, hi) =>
      require(lo >= 0 && lo <= hi && hi <= top, s"bucket range ($lo,$hi) outside [0,$top]")
      hi - lo + 1
    }.product
    require(volume <= (1L << 22), s"box volume $volume too large to enumerate")
    // spread the bits of bucket value v of dim d to its interleaved slots
    def spread(v: Long, d: Int): Long =
      (0 until bits).map(i => ((v >> i) & 1L) << (i * dims + d)).sum
    val zs = boxes.zipWithIndex
      .foldLeft(Seq(0L)) { case (acc, ((lo, hi), d)) =>
        for (z <- acc; v <- lo to hi) yield z | spread(v, d)
      }
      .sorted
    // merge contiguous z runs
    zs.foldLeft(List.empty[(Long, Long)]) {
      case ((lo, hi) :: tail, z) if z == hi + 1 => (lo, z) :: tail
      case (acc, z) => (z, z) :: acc
    }.reverse
  }

  /** Predicate selecting the given inclusive z ranges — an OR of BETWEENs
    * that Spark pushes into the parquet scan as min/max-skippable
    * filters. */
  def zFilter(zCol: Column, ranges: Seq[(Long, Long)]): Column =
    ranges.map { case (lo, hi) => zCol.between(lo, hi) }.reduce(_ || _)

  /** Evaluate how well the zone layout skips for `statCol BETWEEN lo AND
    * hi`: a zone is read iff its [zmin, zmax] intersects [lo, hi]. Returns
    * one row — zones/rows total vs. scanned vs. actually matching — the
    * exact numbers a 100 TB reader's planner would act on (scanned/total
    * is the I/O fraction after pruning; matching/scanned the post-scan
    * selectivity). */
  def skipSummary(
      df: DataFrame, zoneCol: Column, statCol: Column,
      lo: Long, hi: Long): DataFrame = {
    val stats = df.groupBy(zoneCol.as("zone"))
      .agg(min(statCol).as("zmin"), max(statCol).as("zmax"),
        count(lit(1)).as("zrows"),
        sum(when(statCol.between(lo, hi), 1L).otherwise(0L)).as("zmatch"))
    val scanned = col("zmax") >= lo && col("zmin") <= hi
    stats.agg(
      count(lit(1)).as("zones_total"),
      sum(when(scanned, 1L).otherwise(0L)).as("zones_scanned"),
      sum(col("zrows")).as("rows_total"),
      sum(when(scanned, col("zrows")).otherwise(0L)).as("rows_scanned"),
      sum(col("zmatch")).as("rows_matching"))
  }

  /** Cluster `df` into `numFiles` z-ordered output partitions over the
    * given (column, frame lo, frame hi) dimensions. Write the result
    * with any parquet sink; each file then covers a tight range of every
    * clustered column. */
  def zorder(
      df: DataFrame,
      dims: Seq[(String, Long, Long)],
      numFiles: Int,
      bits: Int = 8): DataFrame = {
    val z = zvalue(dims.map { case (c, lo, hi) => widthBucket(col(c), lo, hi, bits) }, bits)
    df.withColumn("__z", z)
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
  }

  /** [[zorder]] with equal-DEPTH (quantile) buckets instead of
    * fixed-width frames — the layout that stays balanced on skewed
    * columns. Boundaries come from one `approx_percentile` pass per dim
    * (2^bits − 1 driver scalars each, bounded metadata); the interleave
    * and the single range shuffle are identical to [[zorder]]. The skip
    * payoff on skew is proved cross-engine in q150 (quantile vs
    * fixed-width rows_scanned on the real corpus's Modal_Price). */
  def zorderQuantile(
      df: DataFrame,
      dims: Seq[String],
      numFiles: Int,
      bits: Int = 8): DataFrame = {
    val buckets = dims.map { c =>
      val bs = approxQuantileBoundaries(df, c, bits)
      quantileBucket(col(c).cast("double"), bs.map(lit(_).cast("double")))
    }
    df.withColumn("__z", zvalue(buckets, bits))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
  }
}
