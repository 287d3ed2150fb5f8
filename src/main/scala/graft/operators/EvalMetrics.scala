package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact evaluation/monitoring statistics a training-data pipeline runs
  * over its own outputs: two-sample Kolmogorov–Smirnov drift detection
  * between corpus snapshots, categorical drift as total variation
  * distance ([[tvdTest]]) and Pearson chi-square ([[chiSquareTest]]) for
  * the order-free columns KS cannot rank, exact ROC-AUC (Mann–Whitney
  * with tie correction) for quality-filter models, and Cohen's kappa /
  * Krippendorff's alpha for rater/classifier agreement.
  *
  * All three are computed in pure integer arithmetic and emitted as exact
  * rationals (numerator/denominator BIGINT pairs) so a SQL oracle replays
  * them bit-identically — no float aggregation anywhere. The integer
  * products bound exactness to n1*n2 < 2^63 (samples of ~3e9 rows each);
  * that bound is ENFORCED in-plan (a `raise_error` fires on the totals
  * row, so an out-of-range corpus fails loudly instead of wrapping), and
  * [[ksTestBinned]]/[[rocAucBinned]] are the documented escape hatch: the
  * same exact statistic over equal-frequency quantile bins from one
  * sketch pass, with the per-bin counts downscaled past the integer
  * bound when the corpus exceeds it ([[ksTestCountsRescaled]]) — so the
  * binned tier is genuinely valid at any corpus size, not just a smaller
  * value dictionary behind the same guard. Empty samples/classes also
  * raise (a 0/0 statistic downstream would surface as an engine-dependent
  * null-vs-error); both guards follow the refuse-loudly house contract.
  *
  * Null predicate rows: a row whose `inFirst`/`positive` column evaluates
  * to NULL counts toward sample 2 / the negative class — the one split
  * rule of [[pq]], which every two-sample histogram goes through, and
  * the SQL oracles' `CASE WHEN x THEN ... ELSE` treatment of NULL.
  *
  * The two-sample counts kernel: [[pq]]/[[twoSample]] build every
  * `(key…, p, q)` histogram, [[boundedTotals]] is the guarded totals row
  * of the two-sample statistics, [[floorSquareDiv]] the staged
  * floor(d²/c) of chi-square and CvM, and [[groupCounts]] the `(g, v)`
  * dictionary of the group-vs-rest statistics.
  *
  * Scale shape: both KS and AUC reduce the corpus to per-distinct-value
  * counts with one partial-aggregated shuffle, then take cumulative
  * counts through [[PrefixSum.runningSums]] (range-repartitioned, never a
  * single-partition window). Kappa is two bounded aggregations over an
  * already-tiny confusion matrix.
  */
object EvalMetrics {

  /** The two-sample split, written once: a row whose `flag` is true
    * counts in sample 1 (`p`), every other row in sample 2 (`q`) — a
    * NULL flag included, because `when(NULL, …)` takes the `otherwise`
    * branch. The two LongType aggregate columns alone, for a caller's
    * own (streaming) groupBy; [[twoSample]] is the grouped frame. */
  private[graft] def pq(flag: Column): (Column, Column) = {
    val s1 = flag.cast("boolean")
    (sum(when(s1, 1L).otherwise(0L)).as("p"), sum(when(s1, 0L).otherwise(1L)).as("q"))
  }

  /** The `(key…, p, q)` histogram: `df` grouped by the named `keys`,
    * counted by [[pq]], in one partial-aggregated shuffle. The flag is
    * projected first, as `s1`: aggregating the raw flag expression lets
    * the eager-aggregation rule push q187's histogram below its join,
    * one more Exchange. */
  private[graft] def twoSample(df: DataFrame, flag: Column, keys: Column*): DataFrame = {
    val (p, q) = pq(col("s1"))
    val flagged = df.select(flag.as("s1") +: keys: _*)
    flagged.groupBy(flagged.columns.tail.map(col): _*).agg(p, q)
  }

  /** The totals row of a `(…, p, q)` histogram: n1 = Σp, n2 = Σq and the
    * `extra` aggregates, with the exactness guard riding n1. It holds
    * when both samples are non-empty (the statistic is 0/0 otherwise)
    * and n1·n2 ≤ `lim`, or n1·n2·(n1+n2) ≤ `lim` when `withSum` —
    * checked by floor division so the check itself cannot overflow. The
    * refusal names the statistic, the `bound`, n1, n2 and the escape
    * `hatch`. n1 carries `pass` once the guard holds: CaseWhen branches
    * evaluate lazily, so a nested guard there only runs inside this
    * bound. */
  private def boundedTotals(
      counts: DataFrame, stat: String, bound: String, lim: Long, hatch: String,
      withSum: Boolean = false, extra: Seq[Column] = Nil,
      pass: Column = col("n1")): DataFrame = {
    val limit = if (withSum) s"(${lim}L div n2) div (n1 + n2)" else s"${lim}L div n2"
    val tot = counts.agg(sum("p").as("n1"), (sum("q").as("n2") +: extra): _*)
    tot.select(
      Guards(
        col("n1") > 0L && col("n2") > 0L && col("n1") <= expr(limit),
        pass,
        concat(
          lit(s"[eval-metrics] $stat needs both samples non-empty and $bound (n1="),
          coalesce(col("n1"), lit(0L)), lit(", n2="), coalesce(col("n2"), lit(0L)),
          lit(s"); $hatch"))).as("n1") +:
        tot.columns.tail.map(col): _*)
  }

  /** floor(d²/c) into column `out` without materializing d², which alone
    * would cap d at 2^31.5: with d = qd·c + r (integer div/mod),
    * floor(d²/c) = d·qd + (r·d) div c. Its intermediates d·qd ≤ d²/c and
    * r·d < c·d stay under the caller's totals bound. */
  private def floorSquareDiv(df: DataFrame, d: Column, c: String, out: String): DataFrame =
    df.withColumn("d", d)
      .withColumn("qd", expr(s"d div $c"))
      .withColumn("r", col("d") % col(c))
      .withColumn(out, col("d") * col("qd") + expr(s"(r * d) div $c"))

  /** The group-vs-rest dictionary: `(g, v, c)` counts with their
    * per-value `(v, cv)`, per-group `(g, n)` and total `(nn)` aggregates.
    * The counts are persisted once because three consumers read them;
    * uncached, each would re-scan the raw corpus. */
  private def groupCounts(df: DataFrame, group: Column, value: Column)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val perGV = graft.Q.persistOnce(df.select(group.as("g"), value.as("v"))
      .groupBy("g", "v").agg(count(lit(1)).as("c")))
    val perV = perGV.groupBy("v").agg(sum("c").as("cv"))
    (perGV, perV, perGV.groupBy("g").agg(sum("c").as("n")), perV.agg(sum("cv").as("nn")))
  }

  /** Two-sample KS distance between rows where `inFirst` is true (sample
    * 1) and the rest (sample 2), over `value`. Output (one row):
    * n1, n2, d_num, d_den, ks_at — where D = d_num/d_den and ks_at is the
    * smallest value attaining the sup (ties on the statistic break toward
    * the smaller value, making the row deterministic).
    */
  def ksTest(df: DataFrame, inFirst: Column, value: Column): DataFrame =
    ksTestCounts(twoSample(df, inFirst, value.as("v")))

  /** [[ksTest]] from PRE-AGGREGATED per-value counts `(v, p, q)` —
    * p/q non-null LongType counts of samples 1/2 at each distinct `v`.
    * The entry point for corpora that already arrive as histograms (a
    * streamed complete-mode aggregation, a pre-binned snapshot, a
    * partner's published distribution); same guards and output columns
    * as the row-level tier.
    */
  def ksTestCounts(perV: DataFrame): DataFrame = {
    val cum = PrefixSum.runningSums(perV, Seq(col("v")), Seq("p", "q"))
    // n1*n2 is the exact rational's denominator; beyond the bound,
    // ksTestBinned is the contract
    val tot = boundedTotals(cum, "ksTest", "n1*n2 < 2^63", Long.MaxValue,
      "pre-bin with ksTestBinned beyond the exact bound")
    // |F1(v) - F2(v)| cleared of denominators: |c1*n2 - c2*n1| over n1*n2.
    cum.crossJoin(broadcast(tot))
      .select(
        col("n1"), col("n2"), col("v"),
        abs(col("c_p") * col("n2") - col("c_q") * col("n1")).as("diff"))
      .orderBy(col("diff").desc, col("v"))
      .limit(1)
      .select(
        col("n1"), col("n2"), col("diff").as("d_num"),
        (col("n1") * col("n2")).as("d_den"), col("v").as("ks_at"))
  }

  /** Per-group drift: the exact two-sample KS of EACH group against the
    * REST of the corpus, over a LOW-CARDINALITY `value` (pre-bin with
    * [[quantileBin]] or a fixed-width grid first — the sup must be
    * evaluated on the dense group×value grid, because F_rest keeps
    * jumping at values a group never saw, so the grid is
    * |groups|·|values| rows and must be bounded). One row per group:
    * (g, n, n_rest, d_num, d_den) with D_g = d_num/d_den =
    * max_v |c_g(v)·(N−n_g) − (C(v)−c_g(v))·n_g| / (n_g·(N−n_g)).
    * Callers rank groups by the rational (cross-multiplied, or the
    * double d_num/d_den — exact rationals that are equal render equal
    * doubles, so cross-engine ordering stays deterministic).
    *
    * Scale shape: two partial-agg'd shuffles to (g,v) and (v) counts,
    * the global cumulative through [[PrefixSum.runningSums]], a bounded
    * broadcast cross of the two aggregated dictionaries, and per-group
    * cumulative counts as a GROUPED window (partition-parallel — the
    * safe kind). Guards: both sides of every group non-empty and
    * n_g·(N−n_g) < 2^63, enforced in-plan per group.
    */
  def ksTestPerGroup(df: DataFrame, group: Column, value: Column): DataFrame = {
    val (perGV, perV, perG, tot) = groupCounts(df, group, value)
    val cumV = PrefixSum.runningSums(perV, Seq(col("v")), Seq("cv"))
    // dense bounded grid: every group at every distinct value, with the
    // group's cumulative count carried forward by a grouped window
    val grid = perG.crossJoin(broadcast(cumV.select(col("v"), col("c_cv"))))
      .join(perGV, Seq("g", "v"), "left")
      .withColumn("c", coalesce(col("c"), lit(0L)))
    val wg = org.apache.spark.sql.expressions.Window
      .partitionBy("g").orderBy("v")
    val cum = grid.withColumn("cg", sum("c").over(wg))
    cum.crossJoin(broadcast(tot))
      .groupBy(col("g"), col("n"), col("nn"))
      .agg(max(abs(col("cg") * (col("nn") - col("n")) -
        (col("c_cv") - col("cg")) * col("n"))).as("d_num"))
      .select(
        col("g"), col("n"), (col("nn") - col("n")).as("n_rest"),
        Guards(
          col("n") > 0L && col("nn") > col("n") &&
            col("n") <= expr(s"${Long.MaxValue}L div (nn - n)"),
          col("d_num"),
          concat(
            lit("[eval-metrics] ksTestPerGroup needs every group to have a non-empty "),
            lit("complement and n_g*(N-n_g) < 2^63 (g="), col("g").cast("string"),
            lit(", n="), col("n"), lit(", N="), col("nn"), lit(")"))).as("d_num"),
        (col("n") * (col("nn") - col("n"))).as("d_den"))
  }

  /** Exact ROC-AUC of `score` against boolean `positive`, with the
    * standard tie treatment (ties count 1/2). Output (one row): n_pos,
    * n_neg, auc_num, auc_den with AUC = auc_num/auc_den; the numerator is
    * 2U (Mann–Whitney U doubled so half-credits stay integral):
    * 2U = Σ over distinct scores s of pos(s) * (2*negs_below(s) + neg(s)).
    */
  def rocAuc(df: DataFrame, positive: Column, score: Column): DataFrame =
    rocAucCounts(twoSample(df, positive, score.as("s")))

  /** [[rocAuc]] from PRE-AGGREGATED per-score class counts `(s, p, q)` —
    * same guards and output columns as the row-level tier. */
  def rocAucCounts(perS: DataFrame): DataFrame = {
    val cum = PrefixSum.runningSums(perS, Seq(col("s")), Seq("q"))
    cum
      .agg(
        sum(col("p")).as("n_pos"),
        sum(col("q")).as("n_neg"),
        sum(col("p") * (lit(2L) * (col("c_q") - col("q")) + col("q"))).as("auc_num"))
      .select(
        col("n_pos"), col("n_neg"),
        // Guard rides the auc_num output: both classes present (AUC is
        // 0/0 otherwise) and 2*n_pos*n_neg representable — the doubled-U
        // numerator is bounded by that product, so if the bound holds the
        // summation above cannot have wrapped either.
        Guards(
          col("n_pos") > 0L && col("n_neg") > 0L &&
            col("n_pos") <= expr(s"${Long.MaxValue / 2}L div n_neg"),
          col("auc_num"),
          concat(
            lit("[eval-metrics] rocAuc needs both classes non-empty and 2*n_pos*n_neg < 2^63 (n_pos="),
            coalesce(col("n_pos"), lit(0L)), lit(", n_neg="), coalesce(col("n_neg"), lit(0L)),
            lit("); pre-bin with rocAucBinned beyond the exact bound"))).as("auc_num"),
        (lit(2L) * col("n_pos") * col("n_neg")).as("auc_den"))
  }

  /** Sliced model evaluation: the exact ROC-AUC of `score` vs `positive`
    * computed WITHIN each group — the per-source / per-language fairness
    * slice a filter model is audited on. One row per group: (g, n_pos,
    * n_neg, auc_num, auc_den), same 2U integer statistic as [[rocAuc]].
    * A single-class slice legitimately emits the 0/0 rational (auc_den =
    * 0) instead of raising — slices routinely collapse to one class and
    * the report must still cover them; consumers divide via nullif. The
    * overflow guard stays (per-group 2·n_pos·n_neg < 2^63).
    *
    * Scale shape: one partial-agg'd shuffle to (g, score) counts, then
    * per-group cumulative negatives as a GROUPED window
    * (partition-parallel) — the global PrefixSum machinery is not needed
    * because each group's sequence lives inside its own partition.
    */
  def rocAucPerGroup(df: DataFrame, group: Column, positive: Column, score: Column): DataFrame = {
    val perGS = twoSample(df, positive, group.as("g"), score.as("s"))
    val wg = org.apache.spark.sql.expressions.Window
      .partitionBy("g").orderBy("s")
    perGS
      .withColumn("cq", sum("q").over(wg))
      .groupBy("g")
      .agg(
        sum(col("p")).as("n_pos"),
        sum(col("q")).as("n_neg"),
        sum(col("p") * (lit(2L) * (col("cq") - col("q")) + col("q"))).as("auc_num"))
      .select(
        col("g"), col("n_pos"), col("n_neg"),
        Guards(
          col("n_neg") === 0L || col("n_pos") <= expr(s"${Long.MaxValue / 2}L div n_neg"),
          col("auc_num"),
          concat(
            lit("[eval-metrics] rocAucPerGroup overflow: 2*n_pos*n_neg >= 2^63 in group "),
            col("g").cast("string"), lit(" (n_pos="), col("n_pos"),
            lit(", n_neg="), col("n_neg"), lit("); pre-bin the scores first"))).as("auc_num"),
        (lit(2L) * col("n_pos") * col("n_neg")).as("auc_den"))
  }

  /** Append an equal-frequency `bin` column (LongType, 0..bins-1) for
    * `value`: boundaries are the interior i/bins quantiles from ONE
    * sketch aggregation (B19's approx-percentile tier), bin = number of
    * boundaries strictly below the value. The mapping is
    * order-preserving, so any rank statistic over `bin` equals the exact
    * statistic of the value distribution coarsened to the boundary
    * points. Only bin ASSIGNMENT touches doubles; every statistic
    * downstream stays integer. NULL values land in bin 0 (same caveat as
    * the exact tier, where NULL forms its own first-ordered group).
    */
  def quantileBin(df: DataFrame, value: Column, bins: Int): DataFrame = {
    require(bins >= 2, s"quantileBin needs >= 2 bins, got $bins")
    val qs = (1 until bins).map(i => i.toDouble / bins)
    val bounds = df
      .select(value.cast("double").as("__v"))
      .agg(percentile_approx(col("__v"), lit(qs.toArray), lit(10000)).as("__bounds"))
    df.crossJoin(broadcast(bounds))
      .withColumn("bin",
        size(filter(col("__bounds"), b => b < value.cast("double"))).cast("long"))
      .drop("__bounds")
  }

  /** Downscale pre-aggregated counts so the exact tiers' integer
    * products fit a long however big the corpus: the single totals row
    * derives the smallest shift k with (t1>>k)·(t2>>k) < 2^60 (3 bits of
    * margin; k = 0 whenever the corpus is already inside the bound, so
    * the common case is bit-identical to the unscaled counts), and every
    * count column is shifted by it. Flooring loses < 2^k rows per
    * distinct value — for B binned values that is a CDF perturbation of
    * at most B·2^k rows per sample, the second (and for realistic B
    * negligible) error term of the binned tiers. */
  private def rescaleCounts(
      perV: DataFrame, cCols: Seq[String], withSumTerm: Boolean = false,
      keepShift: Boolean = false): DataFrame = {
    val tots = cCols.zipWithIndex.map { case (c, i) => sum(col(c)).as(s"t$i") }
    // withSumTerm = the chi-square budget: its intermediates are bounded
    // by t1·t2·(t1+t2), so the shift must clear one more log term and
    // each unit of k buys 3 bits instead of 2
    val logSumBase = cCols.indices.map(i => log(2.0, col(s"t$i"))).reduce(_ + _)
    val logSum =
      if (withSumTerm)
        logSumBase + log(2.0, cCols.indices.map(i => col(s"t$i")).reduce(_ + _))
      else logSumBase
    val k = perV.agg(tots.head, tots.tail: _*)
      .select(greatest(lit(0),
        ceil((logSum - 60) / (if (withSumTerm) 3 else 2))).cast("int").as("__k"))
    val scaled = cCols.foldLeft(perV.crossJoin(broadcast(k)))(
      (d, c) => d.withColumn(c, expr(s"shiftright($c, __k)")))
    if (keepShift) scaled.withColumnRenamed("__k", "shift") else scaled.drop("__k")
  }

  /** [[ksTestCounts]] over counts first downscaled by [[rescaleCounts]]
    * — the histogram entry that stays valid at ANY corpus size: beyond
    * n1*n2 < 2^63 the counts shift right until the products fit, the
    * statistic runs unchanged, and the emitted n1/n2/d_num/d_den are in
    * the rescaled units (D = d_num/d_den is what matters and is
    * preserved to within the documented flooring term). Inside the
    * bound the shift is 0 and the output is bit-identical to
    * [[ksTestCounts]]. */
  def ksTestCountsRescaled(perV: DataFrame): DataFrame =
    ksTestCounts(rescaleCounts(perV, Seq("p", "q")))

  /** [[rocAucCounts]] over [[rescaleCounts]]-downscaled counts — see
    * [[ksTestCountsRescaled]] for the contract. */
  def rocAucCountsRescaled(perS: DataFrame): DataFrame =
    rocAucCounts(rescaleCounts(perS, Seq("p", "q")))

  /** Approximate two-sample KS for corpora beyond the exact tier's
    * n1*n2 < 2^63 bound: [[quantileBin]] the value, reduce to per-bin
    * counts, downscale them past the integer bound ([[rescaleCounts]] —
    * a no-op shift of 0 inside it), then run the SAME exact integer
    * statistic over the bin ids. The binned CDFs agree with the exact
    * CDFs at every bin boundary, so D_binned <= D_exact always, and
    * D_exact - D_binned is at most the largest single-bin mass fraction
    * of either sample (~1/bins plus tie mass for equal-frequency bins)
    * plus the flooring term when a rescale kicked in — the in-bound
    * bounds are oracle-checked in integer arithmetic by q183, the
    * beyond-bound path is property-pinned against a BigInt reference.
    * Output matches [[ksTest]] with `ks_at` now the sup-attaining bin id
    * (and counts in rescaled units beyond the bound), plus a `bins`
    * column.
    */
  def ksTestBinned(df: DataFrame, inFirst: Column, value: Column, bins: Int): DataFrame =
    ksTestCountsRescaled(
      twoSample(quantileBin(df, value, bins), inFirst, col("bin").as("v")))
      .withColumnRenamed("ks_at", "ks_at_bin")
      .withColumn("bins", lit(bins))

  /** Approximate ROC-AUC beyond the exact tier's 2*n_pos*n_neg < 2^63
    * bound: [[quantileBin]] the score, per-bin class counts, downscale
    * past the integer bound, then the exact Mann–Whitney over bin ids.
    * Pairs split across bins keep their exact order contribution; pairs
    * within one bin become ties (half credit), so |2U_exact -
    * 2U_binned| <= sum over bins of pos_k*neg_k (q184's oracle-checked
    * bound), plus the flooring term when a rescale kicked in. Output
    * matches [[rocAuc]] plus a `bins` column.
    */
  def rocAucBinned(df: DataFrame, positive: Column, score: Column, bins: Int): DataFrame =
    rocAucCountsRescaled(
      twoSample(quantileBin(df, score, bins), positive, col("bin").as("s")))
      .withColumn("bins", lit(bins))

  /** Wasserstein-1 (earth-mover) distance between two samples of an
    * ORDERED integer value — the drift MAGNITUDE complement to
    * [[ksTest]]'s sup: KS reports the largest CDF gap but not how FAR
    * mass moved (every document gaining one token is a tiny KS blip at
    * each length but a full token of transport); W1 integrates |F1 − F2|
    * over the value axis, in the VALUE's units. Exact rational:
    * W1 = w1_num / w1_den, w1_den = n1·n2,
    * w1_num = Σ_i (v_{i+1} − v_i)·|D_i| with D_i = C1(v_i)·n2 − C2(v_i)·n1.
    */
  def wasserstein1(df: DataFrame, inFirst: Column, value: Column): DataFrame =
    wasserstein1Counts(twoSample(df, inFirst, value.as("v")))

  /** [[wasserstein1]] from PRE-AGGREGATED per-value counts `(v, p, q)`,
    * v LongType. No lead/lag pass is needed despite the gap weights:
    * summation by parts rewrites Σ_i gap_i·|D_i| as
    * Σ_j v_j·(|D_{j−1}| − |D_j|), and D_{j−1} = D_j − δ_j (with
    * δ_j = p_j·n2 − q_j·n1) is derivable from row j alone — so the whole
    * statistic is ONE plain aggregate over the [[PrefixSum.runningSums]]
    * frame, the same scale shape as [[ksTest]] minus its top-1 sort.
    * (The telescoped form also shows translation invariance directly:
    * the |D| differences sum to zero, so any constant shift of v cancels.)
    *
    * Guards: both samples non-empty and (v_max − v_min)·n1·n2 < 2^61 —
    * Σ_j |v'_j·(|D_{j−1}| − |D_j|)| ≤ range·Σ|δ_j| ≤ 2·range·n1·n2, so
    * under the bound every partial sum of the aggregate fits a long.
    * Beyond it, coarsen the grid CALLER-side (`value div 2^m` divides the
    * range while preserving W1 in the original units up to 2^m per unit
    * mass — the natural W1 escape hatch, unlike count-rescaling which
    * would change the units). Output (one row): n1, n2, w1_num, w1_den.
    */
  def wasserstein1Counts(perV: DataFrame): DataFrame = {
    require(perV.schema("v").dataType == org.apache.spark.sql.types.LongType,
      s"wasserstein1 needs a LongType value column, got ${perV.schema("v").dataType}")
    val cum = PrefixSum.runningSums(perV, Seq(col("v")), Seq("p", "q"))
    // the range guard rides the totals guard's pass branch, so its
    // n1*n2 only evaluates once the outer bound has cleared it
    val k61 = Long.MaxValue / 4
    val tot = boundedTotals(cum, "wasserstein1", "n1*n2 < 2^61", k61,
      "coarsen the value grid and pre-aggregate beyond the bound",
      extra = Seq(min("v").as("vmin"), max("v").as("vmax")),
      pass = Guards(
        // sign precheck FIRST: vmax - vmin itself wraps negative when
        // the value domain spans more than 2^63 (vmin << 0 < vmax),
        // and a wrapped (negative) range would sail under the bound —
        // Long.MaxValue + vmin is wrap-free for vmin < 0, so the
        // comparison detects exactly the overflowing case
        (col("vmin") >= 0L || col("vmax") <= lit(Long.MaxValue) + col("vmin")) &&
          col("vmax") - col("vmin") <= expr(s"${k61}L div (n1 * n2)"),
        col("n1"),
        concat(
          lit("[eval-metrics] wasserstein1 needs (v_max-v_min)*n1*n2 < 2^61 (vmin="),
          col("vmin"), lit(", vmax="), col("vmax"),
          lit(", n1="), col("n1"), lit(", n2="), col("n2"),
          lit("); coarsen the value grid (value div 2^m) to shrink the range"))))
    cum.crossJoin(broadcast(tot))
      .select(
        col("n1"), col("n2"),
        ((col("v") - col("vmin")) *
          (abs(col("c_p") * col("n2") - col("c_q") * col("n1") -
            (col("p") * col("n2") - col("q") * col("n1"))) -
            abs(col("c_p") * col("n2") - col("c_q") * col("n1")))).as("t"))
      .groupBy("n1", "n2")
      .agg(sum(col("t")).as("w1_num"))
      .select(
        col("n1"), col("n2"), col("w1_num"),
        (col("n1") * col("n2")).as("w1_den"))
  }

  /** Two-sample Cramér–von Mises statistic between rows where `inFirst`
    * is true (sample 1) and the rest (sample 2), over `value` — the
    * WHOLE-CDF drift test beside [[ksTest]]'s sup: KS sees only the
    * single largest CDF gap, CvM integrates the SQUARED gap over every
    * pooled observation, so a distribution that drifts a little
    * everywhere (tail thickening, variance creep) registers even when no
    * single point gap is large. T = n1·n2/N² · Σ_k (F1(x_k) − F2(x_k))²
    * over the N = n1+n2 pooled points with multiplicity; clearing
    * denominators, T = Σ_v cc_v·d_v²/(n1·n2) / N² with cc_v the pooled
    * count at v and d_v = |C1(v)·n2 − C2(v)·n1|. Emitted as
    * cvm_num = Σ_v cc_v·(d_v² div (n1·n2)) and t_den = N², so
    * T ≈ cvm_num/t_den with a documented flooring loss < 1 unit of
    * d²/(n1·n2) per distinct value before the cc_v multiply — at most
    * Σ cc = N units of 1/N², i.e. |T_exact − T| < 1/N (the same
    * per-term floor the chi-square tier takes; both engines floor
    * identically, so the oracle replays the statistic bit-for-bit).
    * Output (one row): n1, n2, cvm_num, t_den.
    */
  def cvmTest(df: DataFrame, inFirst: Column, value: Column): DataFrame =
    cvmCounts(twoSample(df, inFirst, value.as("v")))

  /** [[cvmTest]] from PRE-AGGREGATED per-value counts `(v, p, q)` — same
    * scale shape as [[ksTestCounts]] (one [[PrefixSum.runningSums]] pass,
    * broadcast totals) minus its top-1 sort: the statistic is one plain
    * aggregate. The d² div (n1·n2) term never materializes d² (which
    * alone would cap n1·n2 at 2^31.5): [[floorSquareDiv]] takes
    * floor(d²/n1) = d·qd + (r·d) div n1 with d = qd·n1 + r, and a second
    * div by n2 composes exactly (floor∘floor = floor of the product
    * divisor). Guard: both samples non-empty and n1·n2·(n1+n2) < 2^63 —
    * qd ≤ n2 bounds d·qd ≤ n1·n2·n2 and r·d < n1·n1·n2 (both under the
    * bound), and Σ cc·t0 ≤ N·n1·n2 bounds the final aggregate. Beyond it,
    * pre-aggregate and go through [[cvmCountsRescaled]].
    */
  def cvmCounts(perV: DataFrame): DataFrame = {
    val cum = PrefixSum.runningSums(perV, Seq(col("v")), Seq("p", "q"))
    val tot = boundedTotals(cum, "cvmTest", "n1*n2*(n1+n2) < 2^63", Long.MaxValue,
      "pre-aggregate and rescale with cvmCountsRescaled beyond the bound", withSum = true)
    floorSquareDiv(cum.crossJoin(broadcast(tot)).withColumn("cc", col("p") + col("q")),
        abs(col("c_p") * col("n2") - col("c_q") * col("n1")), "n1", "t1")
      .withColumn("t0", expr("t1 div n2"))
      .groupBy("n1", "n2")
      .agg(sum(col("cc") * col("t0")).as("cvm_num"))
      .select(
        col("n1"), col("n2"), col("cvm_num"),
        ((col("n1") + col("n2")) * (col("n1") + col("n2"))).as("t_den"))
  }

  /** [[cvmCounts]] over counts downscaled to the same three-term budget
    * as the chi-square tier (n1·n2·N < 2^63 — the cube-root shift) —
    * valid at any corpus size. CvM is a probability functional (invariant
    * under a uniform count rescale up to the flooring term), so unlike
    * chi-square no shift column is needed: T ≈ cvm_num/t_den holds in
    * the rescaled units directly. */
  def cvmCountsRescaled(perV: DataFrame): DataFrame =
    cvmCounts(rescaleCounts(perV, Seq("p", "q"), withSumTerm = true))

  /** Per-group category concentration: Gini impurity of `value`'s
    * distribution within each group, as the exact rational
    * gini = (n² − Σ_v c_v²) / n² ∈ [0, 1) — 0 = the group is pure (one
    * category), →1 = maximally mixed. The monitoring twin of
    * [[tvdPerGroup]]: TVD ranks which group MOVED between snapshots,
    * concentration ranks which group is DEGENERATE within one snapshot
    * (a source whose language mix collapsed to one value). The inverse
    * Simpson "effective number of categories" is the caller's one-liner
    * gini_den / (gini_den − gini_num). One row per group:
    * (g, n, gini_num, gini_den).
    *
    * Scale shape: one partial-agg'd shuffle to (g, v) counts, one to
    * groups — no joins, no broadcast, nothing global. Guard per group:
    * n_g ≤ floor(sqrt(2^63)) so n² (which bounds Σc²) fits a long.
    */
  def concentrationPerGroup(df: DataFrame, group: Column, value: Column): DataFrame =
    df.select(group.as("g"), value.as("v"))
      .groupBy("g", "v").agg(count(lit(1)).as("c"))
      .groupBy("g").agg(sum("c").as("n"), sum(col("c") * col("c")).as("s2"))
      .select(
        col("g"), col("n"),
        Guards(col("n") <= lit(3037000499L),
          col("n") * col("n") - col("s2"),
          concat(
            lit("[eval-metrics] concentrationPerGroup overflow: group "),
            col("g").cast("string"), lit(" has n="), col("n"),
            lit(" rows, n^2 would overflow; sample within groups first"))).as("gini_num"),
        when(col("n") <= lit(3037000499L), col("n") * col("n"))
          .cast(org.apache.spark.sql.types.LongType).as("gini_den"))

  /** Total variation distance between two samples of a CATEGORICAL
    * value — the drift statistic for columns KS cannot rank (language,
    * source, event type: KS needs an order; TVD is order-free and equals
    * the largest probability difference over ANY event set, i.e. "the
    * fraction of corpus mass that moved"). Exact rational:
    * TVD = (1/2)·Σ_v |p_v/n1 − q_v/n2| = tvd_num/tvd_den with
    * tvd_num = Σ_v |p_v·n2 − q_v·n1| and tvd_den = 2·n1·n2 — pure
    * integers, so the oracle replays it bit-identically. Output (one
    * row): n1, n2, tvd_num, tvd_den. (Per-category attribution is the
    * caller's one-liner over the same counts frame; the statistic needs
    * no argmax, unlike KS's sup.)
    *
    * Scale shape: ONE partial-agg'd shuffle to per-category counts and a
    * bounded broadcast of the totals row — no cumulative pass at all
    * (TVD needs no order), so it is strictly cheaper than [[ksTest]].
    * Guards: both samples non-empty and n1·n2 < 2^62 (the denominator is
    * 2·n1·n2, and Σ_v |p·n2 − q·n1| ≤ 2·n1·n2 bounds the numerator sum
    * by the same product, so one check covers every intermediate);
    * beyond the bound pre-aggregate and go through [[tvdCountsRescaled]].
    */
  def tvdTest(df: DataFrame, inFirst: Column, value: Column): DataFrame =
    tvdCounts(twoSample(df, inFirst, value.as("v")))

  /** [[tvdTest]] from PRE-AGGREGATED per-category counts `(v, p, q)` —
    * same guards and output columns as the row-level tier. */
  def tvdCounts(perV: DataFrame): DataFrame = {
    val tot = boundedTotals(perV, "tvdTest", "n1*n2 < 2^62", Long.MaxValue / 2,
      "pre-aggregate and rescale with tvdCountsRescaled beyond the bound")
    perV.crossJoin(broadcast(tot))
      .withColumn("dev", abs(col("p") * col("n2") - col("q") * col("n1")))
      .groupBy("n1", "n2")
      .agg(sum(col("dev")).as("tvd_num"))
      .select(
        col("n1"), col("n2"), col("tvd_num"),
        (lit(2L) * col("n1") * col("n2")).as("tvd_den"))
  }

  /** [[tvdCounts]] over [[rescaleCounts]]-downscaled counts — valid at
    * any corpus size; see [[ksTestCountsRescaled]] for the contract. */
  def tvdCountsRescaled(perV: DataFrame): DataFrame =
    tvdCounts(rescaleCounts(perV, Seq("p", "q")))

  /** Per-group categorical drift: the TVD of EACH group's category
    * distribution against the REST of the corpus — the "which source
    * changed its language mix" ranking, order-free where
    * [[ksTestPerGroup]] needs a binned order. One row per group:
    * (g, n, n_rest, tvd_num, tvd_den) with
    * TVD_g = Σ_v |c_gv·(N−n_g) − (C_v−c_gv)·n_g| / (2·n_g·(N−n_g)).
    *
    * Scale shape: one partial-agg'd shuffle to (g, v) counts, bounded
    * aggregates for the category dictionary and group sizes, and an
    * equi-join back on v — NO dense group×category grid: categories a
    * group never saw contribute n_g·C_v each, folded in as the closed
    * form n_g·(N − Σ_{v∈g} C_v), so the join stays proportional to the
    * observed (g, v) pairs. Guards per group: non-empty complement and
    * n_g·(N−n_g) < 2^62.
    */
  def tvdPerGroup(df: DataFrame, group: Column, value: Column): DataFrame = {
    val (perGV, perV, perG, tot) = groupCounts(df, group, value)
    perGV.join(perV, "v")
      .join(perG, "g")
      .crossJoin(broadcast(tot))
      .groupBy(col("g"), col("n"), col("nn"))
      .agg(
        sum(abs(col("c") * (col("nn") - col("n")) -
          (col("cv") - col("c")) * col("n"))).as("dev_present"),
        sum(col("cv")).as("sv"))
      .select(
        col("g"), col("n"), (col("nn") - col("n")).as("n_rest"),
        Guards(
          col("n") > 0L && col("nn") > col("n") &&
            col("n") <= expr(s"${Long.MaxValue / 2}L div (nn - n)"),
          // categories absent from g contribute C_v·n_g each: their sum
          // is n_g·(N − Σ_{v seen by g} C_v)
          col("dev_present") + col("n") * (col("nn") - col("sv")),
          concat(
            lit("[eval-metrics] tvdPerGroup needs every group to have a non-empty "),
            lit("complement and n_g*(N-n_g) < 2^62 (g="), col("g").cast("string"),
            lit(", n="), col("n"), lit(", N="), col("nn"), lit(")"))).as("tvd_num"),
        (lit(2L) * col("n") * (col("nn") - col("n"))).as("tvd_den"))
  }

  /** Two-sample Pearson chi-square over a CATEGORICAL value — the
    * drift statistic that, unlike [[tvdTest]]'s mass-moved view, weights
    * deviations by the rarity of the category (a rare language doubling
    * its share registers strongly). For the 2×C table of samples
    * 1/2 × categories, the statistic reduces to
    * chi² = Σ_v Δ_v² / (n1·n2·C_v) with Δ_v = p_v·n2 − q_v·n1 and
    * C_v = p_v + q_v. Emitted as chi2_num = Σ_v floor(Δ_v²/C_v) and
    * chi2_den = n1·n2 — each per-category term floors once, losing < 1
    * unit per OBSERVED category out of a numerator of order chi²·n1·n2,
    * and integer flooring is engine-portable so the oracle replays the
    * statistic bit-identically. Output (one row): n1, n2, chi2_num,
    * chi2_den (chi² = chi2_num/chi2_den, df = C−1 for the caller).
    *
    * The squared term never materializes Δ_v² (which alone would need
    * n1·n2 < 2^31.5): with Δ = q·C + r (integer div/mod by C),
    * floor(Δ²/C) = Δ·q + (r·Δ) div C — every intermediate is bounded by
    * (n1+n2)·n1·n2, which the guard requires < 2^63 (both samples
    * non-empty and n1 ≤ (2^63−1) div n2 div (n1+n2); floor-division
    * composes, so the check itself cannot overflow). Beyond the bound,
    * pre-aggregate and go through [[chiSquareCountsRescaled]].
    *
    * Scale shape: identical to [[tvdCounts]] — one partial-agg'd shuffle
    * to per-category counts plus a broadcast totals row.
    */
  def chiSquareTest(df: DataFrame, inFirst: Column, value: Column): DataFrame =
    chiSquareCounts(twoSample(df, inFirst, value.as("v")))

  /** [[chiSquareTest]] from PRE-AGGREGATED per-category counts
    * `(v, p, q)` — same guards and output columns as the row-level
    * tier. */
  def chiSquareCounts(perV: DataFrame): DataFrame = {
    val tot = boundedTotals(perV, "chiSquareTest", "n1*n2*(n1+n2) < 2^63", Long.MaxValue,
      "pre-aggregate and rescale with chiSquareCountsRescaled beyond the bound", withSum = true)
    floorSquareDiv(perV.crossJoin(broadcast(tot)).withColumn("cc", col("p") + col("q")),
        abs(col("p") * col("n2") - col("q") * col("n1")), "cc", "t")
      .groupBy("n1", "n2")
      .agg(sum(col("t")).as("chi2_num"))
      .select(
        col("n1"), col("n2"), col("chi2_num"),
        (col("n1") * col("n2")).as("chi2_den"))
  }

  /** [[chiSquareCounts]] per GROUP: `perV` carries pre-aggregated
    * (g, v, p, q) counts; one output row per group with the same
    * staged-integer statistic, guards, and columns (plus dof =
    * categories − 1). The intended use is feature RANKING — when every
    * group covers the same underlying rows (e.g. one unpivoted row per
    * feature), n1/n2 and hence chi2_den are identical across groups, so
    * ordering by chi2_num IS the exact chi-square order without any
    * rational comparison. Group totals join back on the group key
    * (dictionary-sized — AQE broadcasts). */
  def chiSquareCountsPerGroup(perV: DataFrame): DataFrame = {
    val tot = perV.groupBy("g")
      .agg(sum("p").as("n1t"), sum("q").as("n2"), (count(lit(1)) - 1L).as("dof"))
      .select(col("g"),
        Guards(
          col("n1t") > 0L && col("n2") > 0L &&
            col("n1t") <= expr(s"(${Long.MaxValue}L div n2) div (n1t + n2)"),
          col("n1t"),
          concat(
            lit("[eval-metrics] chiSquareCountsPerGroup needs both classes "),
            lit("non-empty and n1*n2*(n1+n2) < 2^63 in group "), col("g"),
            lit(" (n1="), coalesce(col("n1t"), lit(0L)),
            lit(", n2="), coalesce(col("n2"), lit(0L)),
            lit("); pre-aggregate and rescale beyond the bound"))).as("n1"),
        col("n2"), col("dof"))
    floorSquareDiv(perV.join(tot, "g").withColumn("cc", col("p") + col("q")),
        abs(col("p") * col("n2") - col("q") * col("n1")), "cc", "t")
      .groupBy("g", "n1", "n2", "dof")
      .agg(sum(col("t")).as("chi2_num"))
      .select(col("g"), col("n1"), col("n2"), col("dof"), col("chi2_num"),
        (col("n1") * col("n2")).as("chi2_den"))
  }

  /** [[chiSquareCounts]] over counts downscaled to the chi-square
    * tier's TIGHTER budget (n1·n2·N < 2^63, hence the cube-root shift) —
    * valid at any corpus size. UNLIKE TVD and KS (probabilities —
    * invariant under a uniform count rescale), chi-square is EXTENSIVE:
    * it grows linearly with sample size, so a 2^k downscale shrinks the
    * statistic by the same 2^k. The output therefore carries a `shift`
    * column: chi2 of the ORIGINAL corpus ≈ (chi2_num / chi2_den) · 2^shift
    * (to within the per-count flooring term), and n1/n2 are in rescaled
    * units. Inside the bound shift = 0 and every other column is
    * bit-identical to [[chiSquareCounts]]. */
  def chiSquareCountsRescaled(perV: DataFrame): DataFrame = {
    val scaled = rescaleCounts(perV, Seq("p", "q"), withSumTerm = true, keepShift = true)
    // shift is constant on every row; re-deriving it from the (bounded,
    // dictionary-sized) counts frame is cheaper than a persist
    val k = scaled.agg(max(col("shift")).as("shift"))
    chiSquareCounts(scaled.drop("shift")).crossJoin(broadcast(k))
  }

  /** Krippendorff's alpha (nominal metric) over a long ratings frame
    * (unit, rater, value) — the multi-rater agreement statistic that,
    * unlike Cohen's kappa, handles MISSING ratings: every unit with >= 2
    * ratings contributes its ordered rating pairs at weight 1/(m_u - 1).
    * Exact rational: clearing that weight by the static constant
    * D = lcm(1 .. maxRaters-1) makes every coincidence count an integer
    * (O_ck = sum of D/(m_u-1) over ordered pairs valued (c,k)), and with
    * N_c = row sums, N = sum N_c, Do = sum of off-diagonal O:
    *   alpha = (S - Do*(N - D)) / S  where  S = N² - sum_c N_c².
    * (Any common multiple D yields the same alpha — numerator and
    * denominator scale together — so fixing D by `maxRaters` keeps the
    * emitted rational replayable without a data-dependent lcm.) Output
    * (one row): n_units, n_pairable (= N/D ratings in pairable units),
    * do_num (= D·Do), alpha_num, alpha_den.
    *
    * Scale shape: one count shuffle to per-unit sizes, one bounded
    * self-join within units (<= maxRaters² rows per unit), two hash
    * aggregates over the coincidence matrix (|values|² rows). Units with
    * a single rating drop out, exactly as the statistic defines.
    */
  def krippendorffAlpha(
      ratings: DataFrame, unit: Column, rater: Column, value: Column,
      maxRaters: Int): DataFrame = {
    require(maxRaters >= 2, s"krippendorffAlpha needs maxRaters >= 2, got $maxRaters")
    val dLcm = (1 until maxRaters).map(_.toLong).reduce((a, b) => a / gcd(a, b) * b)
    // persistOnce both stages: the raw ratings feed the unit-size count
    // AND the weighted join; the weighted frame then feeds BOTH sides of
    // the pair self-join and the unit totals — uncached, the source
    // would be re-scanned up to 9 times, cached it is read once
    val r = graft.Q.persistOnce(
      ratings.select(unit.as("u"), rater.as("rt"), value.as("c")))
    val mu = r.groupBy("u").agg(count(lit(1)).as("m0"))
      // the guard must ride the CONSUMED column (a dropped guard column
      // would be pruned away): m > maxRaters would make D/(m-1)
      // non-integral and silently corrupt every coincidence count
      .select(col("u"),
        Guards(col("m0") <= maxRaters, col("m0"),
          concat(lit(s"[eval-metrics] krippendorffAlpha: unit with more than maxRaters=$maxRaters ratings (unit "),
            col("u").cast("string"), lit(", m="), col("m0"), lit(")"))).as("m"))
      .filter(col("m") >= 2)
      .withColumn("w", expr(s"${dLcm}L div (m - 1)"))
      .select("u", "m", "w")
    val rw = graft.Q.persistOnce(r.join(mu, "u"))
    val pairs = rw.as("x").join(rw.as("y"),
        col("x.u") === col("y.u") && col("x.rt") =!= col("y.rt"))
      .select(col("x.c").as("ca"), col("y.c").as("cb"), col("x.w").as("w"))
    // the coincidence matrix (|values|² rows) feeds the disagreement
    // total and the marginals — cache it so the pair join runs once
    val o = graft.Q.persistOnce(pairs.groupBy("ca", "cb").agg(sum("w").as("o")))
    val doSum = o.filter(col("ca") =!= col("cb"))
      .agg(coalesce(sum("o"), lit(0L)).as("do_num"))
    val nc = o.groupBy("ca").agg(sum("o").as("nc"))
    val tot = nc.agg(
      sum(col("nc")).as("nn"),
      sum(col("nc") * col("nc")).as("nc2"))
    val units = mu.agg(count(lit(1)).as("n_units"), sum("m").as("n_pairable"))
    // Same refuse-loudly contract as the sibling statistics, on the
    // single totals row: N² must fit a long (the guard's pass branch is
    // the only place N² is computed — CaseWhen branches evaluate lazily,
    // so the CHECK itself cannot overflow) and a panel where every
    // pairable rating shares one category (expected disagreement 0, the
    // 0/0 alpha) raises instead of leaking an engine-dependent
    // null-vs-error downstream.
    val sExpr = col("nn") * col("nn") - col("nc2")
    units.crossJoin(broadcast(tot)).crossJoin(broadcast(doSum))
      .select(
        col("n_units"), col("n_pairable"), col("do_num"),
        Guards(col("nn") <= lit(3037000499L),
          Guards(sExpr > 0L,
            sExpr - col("do_num") * (col("nn") - lit(dLcm)),
            lit("[eval-metrics] krippendorffAlpha undefined: every pairable rating " +
              "shares one category (expected disagreement 0)")),
          concat(
            lit("[eval-metrics] krippendorffAlpha overflow: weighted total N="),
            col("nn"), lit(" would overflow N^2; rate a sample of units instead")))
          .as("alpha_num"),
        when(col("nn") <= lit(3037000499L), sExpr).cast(org.apache.spark.sql.types.LongType)
          .as("alpha_den"))
  }

  private def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)

  /** Jensen–Shannon divergence between the categorical distributions of
    * two corpus slices — the SYMMETRIC, always-finite drift statistic the
    * TVD/chi-square tiers can't be when a category exists on one side
    * only (KL would be infinite; JSD's mixture denominator never
    * vanishes). JSD(P,Q) = KL(P‖M)/2 + KL(Q‖M)/2 with M = (P+Q)/2, and
    * is bounded by ln 2 — the standard "how far apart are two corpus
    * snapshots" measure between TVD (too coarse: ignores rarity) and
    * chi-square (unbounded, explodes on rare categories).
    *
    * Integer posture (the q243 ratio-of-products pattern): with
    * per-category counts p, q and totals n1, n2,
    * p̂/m = 2·p·n2 / (p·n2 + q·n1) — a ratio of int64 products whose
    * domain 2·n1·n2 ≤ 2⁶³ is enforced ONCE on the totals row. Each
    * category takes the one certified float step
    * t_p = floor(ln(p̂/m)·10⁶) through [[Guards.lnMicronatFloor]]
    * (boundary-adjacent values refuse loudly), and the output is the
    * exact integer pair jsp_num = Σ p·t_p, jsq_num = Σ q·t_q — so
    * JSD_micronats = jsp_num/(2·n1) + jsq_num/(2·n2), a rational the
    * caller divides (num/den emission, the tvdTest posture: per-term
    * floors make the summands possibly negative; an r14 spot-measurement
    * found current DuckDB's `//` truncating toward zero exactly like
    * Spark's `div`, but sign-mixed integer division semantics are an
    * engine-VERSION hazard, and the num/den pair is exact regardless —
    * so the division stays unemitted).
    *
    * Scale shape: one partial-agg'd shuffle to per-category counts, a
    * 1-row totals broadcast, no cumulative pass — the tvdTest shape.
    *
    * Measured margins (graft.tools.FloatMargin): the q256 grid's minimum
    * boundary distance is 3.3e-2 at sf0.01 and 4.8e-2 at sf0.1 — ≥ 1.4e8×
    * the lnMicronatFloor refusal threshold, so the in-plan guard is pure
    * insurance on the real corpora.
    */
  def jsDivergence(df: DataFrame, inFirst: Column, value: Column): DataFrame =
    jsCounts(twoSample(df, inFirst, value.as("v")))

  /** [[jsDivergence]] from PRE-AGGREGATED per-category counts `(v, p, q)`
    * — same guards and output columns as the row-level tier (the
    * tvdCounts split: per-category counts are associative, so a streamed
    * Complete-mode histogram feeds this bit-identically), PLUS a
    * non-negativity intake guard on p/q that the row-level tier's
    * groupBy counts can never trip: a malformed caller-supplied
    * histogram refuses with the intake message instead of flowing a
    * negative count into mden and a confusing ln-domain error.
    *
    * Sum posture (the Dsir contract): each per-term PRODUCT is
    * division-guarded in-plan; the num sums themselves are ANSI-loud
    * (Spark 4 default, pinned in AnsiOverflowSpec) — a corpus whose
    * Σ p·t exceeds int64 errors on BOTH engines rather than silently
    * diverging. */
  def jsCounts(perV0: DataFrame): DataFrame = {
    // intake contract on the pre-aggregated entry point: a malformed
    // caller histogram with a NEGATIVE count must refuse with THIS
    // message, not garble mden into an ln-domain error downstream. The
    // guards ride p/q themselves, which EVERY consumer (the totals sums,
    // mden, the p·t/q·t terms) reads — the row-level tier's groupBy
    // counts can never trip them.
    def nonNeg(c: String): Column = Guards(
      col(c) >= 0L, col(c),
      Guards.msg("js-drift",
        lit(s"per-category counts must be non-negative, got $c = "),
        col(c).cast("string"), lit(" - fix the caller-supplied histogram")))
    val perV = perV0.select(col("v"), nonNeg("p").as("p"), nonNeg("q").as("q"))
    val tot = boundedTotals(perV, "jsDivergence", "2*n1*n2 <= 2^63", Long.MaxValue / 2,
      "pre-aggregate and downscale the per-category counts beyond the bound")
    // |t| <= ln(2*max(n1,n2))*1e6 < 4.4e7; each per-term product is
    // division-guarded (the Dsir idiom) so a 2e11-row slice refuses
    // instead of wrapping; the guard reads the SAME materialized t
    // column it multiplies.
    val terms = perV.crossJoin(broadcast(tot))
      .withColumn("mden", col("p") * col("n2") + col("q") * col("n1"))
      .withColumn("tp", when(col("p") > 0L,
        Guards.lnMicronatFloor(col("mden"), lit(2L) * col("p") * col("n2"), "js-drift"))
        .otherwise(lit(0L)))
      .withColumn("tq", when(col("q") > 0L,
        Guards.lnMicronatFloor(col("mden"), lit(2L) * col("q") * col("n1"), "js-drift"))
        .otherwise(lit(0L)))
      .withColumn("ptp", Guards(
        col("p") <= expr(s"${Long.MaxValue}L div greatest(abs(tp), 1L)"),
        col("p") * col("tp"),
        Guards.msg("js-drift",
          lit("p-side term p*t = "), col("p").cast("string"), lit("*"),
          col("tp").cast("string"),
          lit(" would overflow int64 - downscale the per-category counts"))))
      .withColumn("qtq", Guards(
        col("q") <= expr(s"${Long.MaxValue}L div greatest(abs(tq), 1L)"),
        col("q") * col("tq"),
        Guards.msg("js-drift",
          lit("q-side term q*t = "), col("q").cast("string"), lit("*"),
          col("tq").cast("string"),
          lit(" would overflow int64 - downscale the per-category counts"))))
    terms.groupBy("n1", "n2")
      .agg(sum("ptp").as("jsp_num"), sum("qtq").as("jsq_num"))
  }

  /** NDCG@k ranking quality per group: how well the model ranking
    * (`score` desc) agrees with graded relevance (`rel`), the standard
    * offline retrieval/recommender metric beside [[rocAuc]]'s binary
    * tier. DCG = Σ_{i≤k} rel_i·d_i over the score-ranked top-k, IDCG the
    * same over the relevance-ranked top-k (the rearrangement bound:
    * decreasing discounts make the relevance sort the maximizer, so
    * DCG ≤ IDCG holds EXACTLY on the integer grid and the final ratio
    * division is non-negative — Spark div and DuckDB // agree).
    *
    * Float posture: the discounts d_i = floor(10⁶/log₂(i+1)) are
    * compile-time integer LITERALS (k of them), baked identically into
    * the plan and the SQL oracle — no runtime float step at all, the
    * strongest posture in the repo (stronger than the certified-floor
    * queries: there is nothing to certify).
    *
    * Scale shape: BOTH top-k lists come from one groupBy via two
    * `graft_bottom_k` aggregates (desc keys; ties break to the smaller
    * (item, rel) payload) — O(groups×k) shuffle, never a per-group
    * window sort; the DCG sums are zip_with/aggregate HOFs over the
    * ≤k-element arrays, inside codegen. The intake bound makes each
    * rel·d_i term int64-safe; the ≤k-term DCG fold itself is ANSI-loud
    * past 2⁶³ (pinned in AnsiOverflowSpec) — both engines error, never
    * a silent wrap.
    *
    * Output: (g, n_items, dcg_micro, idcg_micro, ndcg_ppm) per group.
    */
  def ndcgAtK(df: DataFrame, grp: Column, item: Column, rel: Column,
      score: Column, k: Int): DataFrame = {
    require(k >= 1 && k <= 100, s"ndcgAtK wants k in [1,100], got $k")
    graft.plans.GraftExtensions.ensureRegistered(df.sparkSession)
    val discArr = array(ndcgDiscounts(k).map(lit): _*)
    val g = df.select(grp.as("g"), item.cast("long").as("it"), score.as("sc"),
      Guards(
        rel.cast("long") >= 0L && rel.cast("long") <= lit(Long.MaxValue / 2000000L),
        rel.cast("long"),
        concat(lit("[ndcg] relevance must sit in [0, 2^63/(2*10^6)] for the "),
          lit("x10^6 discount grid, got "), rel.cast("string"))).as("rel"))
    def dcgOf(arr: Column): Column =
      aggregate(
        zip_with(transform(arr, kv => kv("v")("rel")), discArr,
          (r, dd) => coalesce(r * dd, lit(0L))),
        lit(0L), (acc, x) => acc + x)
    g.groupBy("g")
      .agg(
        count(lit(1)).as("n_items"),
        call_function("graft_bottom_k",
          col("sc"), struct(col("it"), col("rel")), lit(k), lit(true)).as("top"),
        call_function("graft_bottom_k",
          col("rel"), struct(col("it"), col("rel")), lit(k), lit(true)).as("ideal"))
      .select(col("g"), col("n_items"),
        dcgOf(col("top")).as("dcg_micro"), dcgOf(col("ideal")).as("idcg_micro"))
      .select(col("g"), col("n_items"), col("dcg_micro"), col("idcg_micro"),
        Guards(
          col("idcg_micro") > 0L &&
            col("dcg_micro") <= lit(Long.MaxValue / 1000000L),
          expr("(dcg_micro * 1000000) div idcg_micro"),
          concat(lit("[ndcg] group "), col("g").cast("string"),
            lit(" has idcg_micro="), col("idcg_micro").cast("string"),
            lit(", dcg_micro="), col("dcg_micro").cast("string"),
            lit(" - an all-zero-relevance group has no defined NDCG; "),
            lit("filter such groups or coarsen the grid"))).as("ndcg_ppm"))
  }

  /** Matthews correlation coefficient as an exact rational — the
    * single-number binary-classifier summary that, unlike accuracy or
    * F1, is balanced across all four confusion cells (a 99%-negative
    * corpus can score 0.99 accuracy with a constant classifier; its MCC
    * is 0). MCC = (tp·tn − fp·fn) / √((tp+fp)(tp+fn)(tn+fp)(tn+fn)).
    *
    * The square root is irrational, so the house num/den posture splits
    * it: output (n, tp, fp, fn, tn, mcc_num, den2_pred, den2_act) where
    * MCC = mcc_num / √(den2_pred·den2_act) — every column an exact
    * int64 the oracle replays bit-identically (den2_pred =
    * (tp+fp)(tn+fn) groups the PREDICTED margins, den2_act =
    * (tp+fn)(tn+fp) the ACTUAL ones; each product ≤ n²/4, guarded
    * in-plan against n > 2·√2⁶³). A zero margin (degenerate classifier
    * or single-class sample) makes MCC undefined — refused loudly, the
    * kappa-adjacent 0/0 posture. NULL actual/predicted count as
    * false/negative (the coalesce contract, visible at the entry).
    *
    * Scale shape: one partial-agg'd count to the 2×2 confusion — the
    * cohenKappa shape. */
  def mcc(df: DataFrame, actual: Column, predicted: Column): DataFrame = {
    val conf = df.select(
        coalesce(actual.cast("boolean"), lit(false)).as("y"),
        coalesce(predicted.cast("boolean"), lit(false)).as("yh"))
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("y") && col("yh"), 1L).otherwise(0L)).as("tp"),
        sum(when(!col("y") && col("yh"), 1L).otherwise(0L)).as("fp"),
        sum(when(col("y") && !col("yh"), 1L).otherwise(0L)).as("fn"),
        sum(when(!col("y") && !col("yh"), 1L).otherwise(0L)).as("tn"))
    conf.select(
      Guards(
        col("n") > 0L && col("n") <= lit(3037000499L) && // isqrt(2^63)-ish
          (col("tp") + col("fp")) > 0L && (col("tp") + col("fn")) > 0L &&
          (col("tn") + col("fp")) > 0L && (col("tn") + col("fn")) > 0L,
        col("n"),
        concat(
          lit("[eval-metrics] mcc needs every confusion margin > 0 and n <= 3.03e9 "),
          lit("(tp="), col("tp"), lit(", fp="), col("fp"),
          lit(", fn="), col("fn"), lit(", tn="), col("tn"),
          lit(") - a single-class sample or constant classifier has no "),
          lit("defined MCC; check the predicate columns"))).as("n"),
      col("tp"), col("fp"), col("fn"), col("tn"),
      (col("tp") * col("tn") - col("fp") * col("fn")).as("mcc_num"),
      ((col("tp") + col("fp")) * (col("tn") + col("fn"))).as("den2_pred"),
      ((col("tp") + col("fn")) * (col("tn") + col("fp"))).as("den2_act"))
  }

  /** Per-group Shannon entropy of a categorical column, in integer
    * micronats — the diversity audit beside [[concentrationPerGroup]]'s
    * Gini impurity: H = Σ −p ln p distinguishes "one dominant category +
    * a long tail" from "a few equal categories" where Gini barely moves,
    * and is THE standard curation read for "how language/source-diverse
    * is each slice". H = 0 iff single-category; H = ln(n_distinct) iff
    * uniform.
    *
    * Integer posture: every per-category term is non-negative (c ≤ n so
    * −ln(c/n) ≥ 0), taken through the certified
    * [[Guards.lnMicronatFloor]] (the c = n single-category case is the
    * whitelisted exact ln(1) = 0), the c·t product division-guarded, and
    * the final h_num div n divides non-negatives — Spark div and DuckDB
    * // agree, so unlike jsDivergence the division IS emitted.
    *
    * Scale shape: one partial-agg'd (g, v) count, a per-group totals
    * join BY GROUP KEY (never a broadcast of the group frame), one final
    * partial-agg'd sum. Output: (g, n, n_distinct, entropy_micro).
    * The h_num sum is ANSI-loud past int64 (n·ln(n)·10⁶ reaches 2⁶³ at
    * n ≈ 3·10¹¹ rows per group — both engines error there, pinned in
    * AnsiOverflowSpec; downscale counts beyond). */
  def entropyPerGroup(df: DataFrame, grp: Column, value: Column): DataFrame = {
    val cv = df.select(grp.as("g"), value.as("v"))
      .groupBy("g", "v").agg(count(lit(1)).as("c"))
    val ng = cv.groupBy("g").agg(sum("c").as("n"), count(lit(1)).as("n_distinct"))
    cv.join(ng, "g")
      .withColumn("t", Guards.lnMicronatFloor(col("c"), col("n"), "entropy"))
      .withColumn("ct", Guards(
        col("c") <= expr(s"${Long.MaxValue}L div greatest(t, 1L)"),
        col("c") * col("t"),
        Guards.msg("entropy",
          lit("term c*t = "), col("c"), lit("*"), col("t"),
          lit(" would overflow int64 - downscale the per-category counts"))))
      .groupBy("g", "n", "n_distinct")
      .agg(sum("ct").as("h_num"))
      .select(col("g"), col("n"), col("n_distinct"),
        expr("h_num div n").as("entropy_micro"))
  }

  /** The NDCG@k discount ladder floor(10⁶/log₂(i+1)), i = 1..k — shared
    * by the plan and the oracle-SQL builder so both engines compare the
    * SAME integer constants. */
  def ndcgDiscounts(k: Int): Seq[Long] =
    (1 to k).map(i =>
      math.floor(1e6 / (math.log(i + 1.0) / math.log(2.0))).toLong)

  /** Cohen's kappa from a confusion frame (`aCol` = rater/truth label,
    * `bCol` = second rater/prediction, `cntCol` = pair count). Exact
    * rational: kappa = (N*agree - Σ_k row_k*col_k) / (N² - Σ_k row_k*col_k).
    * Output (one row): n, agree, kappa_num, kappa_den. Categories seen by
    * only one rater contribute 0 to the expected-agreement term (their
    * other marginal is 0), which the inner marginal join encodes.
    */
  def cohenKappa(confusion: DataFrame, aCol: String, bCol: String, cntCol: String): DataFrame = {
    val totals = confusion.agg(
      sum(col(cntCol)).as("n"),
      sum(when(col(aCol) === col(bCol), col(cntCol)).otherwise(0L)).as("agree"))
    val rowsM = confusion.groupBy(col(aCol).as("k")).agg(sum(col(cntCol)).as("ra"))
    val colsM = confusion.groupBy(col(bCol).as("k")).agg(sum(col(cntCol)).as("cb"))
    val pe = rowsM.join(colsM, "k")
      .agg(coalesce(sum(col("ra") * col("cb")), lit(0L)).as("pe_num"))
    totals.crossJoin(broadcast(pe))
      .select(
        col("n"), col("agree"),
        (col("n") * col("agree") - col("pe_num")).as("kappa_num"),
        (col("n") * col("n") - col("pe_num")).as("kappa_den"))
  }
}
