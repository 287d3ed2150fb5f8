package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions.hash60

/** Deterministic, coordinated sampling for corpus curation.
  *
  * Both operators derive randomness from the portable 60-bit md5 hash of a
  * seed + the row's id, never from an RNG: the sample is a pure function
  * of (seed, data), so it is reproducible across runs, engines, cluster
  * sizes and partitionings — the property that lets a 100 TB pipeline
  * re-derive exactly the same eval/holdout subset a year later, and lets
  * two independently-sampled tables be joined on their common ids
  * (bottom-k sketches compose: the k smallest hashes of A ∪ B are a
  * subset of the k smallest of A plus the k smallest of B).
  *
  * Restates the reference's implicit sampling needs (spot-check subsets of
  * the harvested corpus, `/root/reference/fetch_data.py:64-167`) as
  * explicit engine operators.
  */
object Sampling {

  /** Coordinated bottom-k sample: the k rows of each group whose
    * `hash(seed, id)` is smallest, ranked in hash order.
    *
    * Executed as ONE partial-aggregated shuffle via the native
    * `graft_bottom_k` TypedImperativeAggregate: each map task ships at
    * most k (hash, id) pairs per group, so shuffle volume is
    * O(groups x k) no matter how large the table — the row_number()
    * window formulation this replaces sorts EVERY row of every group.
    * Output: groupCols ++ (idCol, rk) with rk in 1..k by hash order.
    * Duplicate ids within a group occupy separate sample slots (same as
    * the row_number oracle); feed unique ids per group — which any real
    * id column is — for agreement with the deduping streaming twin
    * (StreamingJobs.samplerBottomK).
    */
  def bottomK(
      df: DataFrame,
      groupCols: Seq[String],
      idCol: String,
      k: Int,
      seed: String): DataFrame = {
    graft.plans.GraftExtensions.ensureRegistered(df.sparkSession)
    val h = hash60(seed, col(idCol))
    val picked = df
      .groupBy(groupCols.map(col): _*)
      .agg(call_function("graft_bottom_k", h, col(idCol), lit(k)).as("__bk"))
    picked
      .select(groupCols.map(col) :+ posexplode(col("__bk")).as(Seq("__pos", "__kv")): _*)
      .select(groupCols.map(col) ++ Seq(
        col("__kv.v").as(idCol),
        (col("__pos") + 1).cast("int").as("rk")): _*)
  }

  /** Deterministic weighted sample by TICKET REPLICATION: global bottom-k
    * over rows replicated `weight` times (positive integer weights),
    * hashing (seed, id, replica). A row with weight w gets w lottery
    * tickets, which approximates probability-proportional-to-size — the
    * proportionality is exact only at k = 1; for k > 1 multi-ticket rows
    * are mildly over-included relative to strict PPS (a row can win with
    * any of its tickets). For exact one-ticket-per-row weighted sampling
    * with fractional weights, use [[weightedBottomK]]. Rows with
    * weight < 1 get no tickets and are excluded (a bare
    * `sequence(1, w)` would DESCEND for w < 1 and mint phantom tickets).
    * The explode is scan-stage (no shuffle); the global top-k is a
    * TakeOrdered — partial top-k per partition, k rows to the driver —
    * never a full sort. Output: (idCol, replica, h) for the k winning
    * tickets, ascending h.
    */
  def weightedSample(
      df: DataFrame,
      idCol: String,
      weightCol: Column,
      k: Int,
      seed: String): DataFrame = {
    val replicated = df
      .filter(weightCol >= 1)
      .select(col(idCol), explode(sequence(lit(1), weightCol.cast("int"))).as("replica"))
    replicated
      .withColumn("h",
        hash60(concat(lit(seed + ":"), col(idCol).cast("string"),
          lit(":"), col("replica").cast("string"))))
      .orderBy("h", idCol, "replica")
      .limit(k)
  }

  /** The raw Efraimidis–Spirakis ticket key as a column expression —
    * `-ln((hash60(seed, id) + 1) / 2^60) / w`, an Exponential(rate = w)
    * draw that is a pure function of (seed, id, w).
    * (h + 1) adds as INTEGER first, then one cast: 2^60 > 2^53, so
    * cast-then-add would round differently than add-then-cast, and any
    * replay must follow the exact same order of operations. Dividing by
    * 2^60 is exact (power of two — exponent shift, no rounding).
    *
    * NOT an ordering surface on its own anymore: ranking raw double
    * keys carries the between-rows wobble channel the r13 verdict
    * quantified, and the r14 four-point FloatMargin sweep confirmed
    * the shrink by measurement (committed in FLOATMARGIN_r14.jsonl) —
    * minimum adjacent-key relative gap at sf0.01 / sf0.1 / 10× / 30×:
    * q147 3.4e-5 → 6.5e-9 → 2.7e-9 → 1.1e-10, q151 6.4e-5 → 8.2e-8 →
    * 1.8e-8 → 1.4e-9, q245 5.2e-5 → 4.0e-8 → 1.8e-9 → 1.1e-10 —
    * a ~1/n² birthday trend that crosses the ~1e-16 libm ln skew near
    * 10⁹ rows, squarely inside the design-point range, making a
    * cross-engine rank flip an expected event there. Rank through
    * [[esKeyMicro]] instead. */
  def esKey(seed: String, idCol: Column, weightCol: Column): Column = {
    val u = (hash60(seed, idCol) + lit(1L)).cast("double") /
      lit((1L << 60).toDouble)
    -log(u) / weightCol.cast("double")
  }

  /** The QUANTIZED Efraimidis–Spirakis race key: the integer-grid
    * ordering surface that closes the r13 between-rows wobble channel.
    * A `struct(kq, tb)` ranked field-lexicographically:
    *
    *   kq = floor((-ln(u) / w) · 10⁶)   — the micro-key grid cell
    *   tb = -hash60(seed, id)           — hash DESC within a cell
    *
    * Why this closes the channel: two rows whose raw keys near-tie
    * (gap below the ln wobble — the flip case) land in the SAME 10⁻⁶
    * cell with probability 1 − O(gap·10⁶), where the deterministic
    * integer tie-break resolves them IDENTICALLY on both engines. The
    * residual cross-engine surface is a key sitting within the ~6-ulp
    * ln skew of a CELL boundary (the lnMicronatFloor geometry, measured
    * per ranking by graft.tools.FloatMargin as a boundary distance):
    * per-key flip probability ≈ |kq|·1e-15, and a flip moves the key by
    * exactly ONE cell, which can change sample membership only at the
    * k-th cut — ~k·|kq|·1e-15 per query (≈1e-7 at k=25), where the raw
    * double order makes a flip SOMEWHERE in the ranking an expected
    * event at ≥10⁹ rows. A cell flip is also self-announcing at the
    * oracle (hash mismatch on one boundary row), never a silent
    * membership drift.
    *
    * Why hash-DESC (not id) inside a cell: at corpus scale the whole
    * top-k region can sit inside the lowest cells (cell occupancy
    * ≈ Σw·10⁻⁶ rows), so the tie-break IS the within-cell sampler —
    * id order would bias selection toward old/low ids, while h is
    * uniform on (seed, id), keeping within-cell selection exchangeable;
    * marginal inclusion stays ∝ w (cell membership is the
    * weight-proportional Bernoulli, the tie-break a uniform subsample
    * of it). For equal-weight rows h DESC even equals the exact raw-key
    * order (-ln(u)/w is decreasing in h for fixed w). Exact (kq, tb)
    * ties — h collisions — fall through to the bottom-k payload (the
    * id), so the total order is (kq, h desc, id). The grid coarseness
    * costs ≤10⁻⁶ relative key resolution, far below any statistical
    * use of a sample.
    *
    * Measured (graft.tools.FloatMargin, committed in
    * FLOATMARGIN_r14.jsonl): the membership-relevant minimum
    * cell-boundary distance over each ranking's top-k region at
    * sf0.01 / sf0.1 / 10× / 30× — q147 2.3e-3 / 6.0e-3 / 6.0e-3 /
    * 4.8e-4, q151 4.4e-2 / 4.6e-2 / 1.9e-2 / 2.8e-3, q245 9.0e-3 /
    * 3.5e-3 / 1.3e-3 / 5.7e-3 cells, vs a flip threshold of
    * ~|s|·1e-15 ≈ 1e-9..1e-7 cells — 3-6 orders of headroom that does
    * NOT ride a 1/n² trend (the statistic is over the k-bounded cut
    * region; the all-rows minimum does shrink ~1/n and is recorded for
    * honesty). Shared by [[weightedBottomK]], its streaming twin
    * (StreamingJobs.samplerWeightedBottomK) and the SQL oracles, which
    * replay floor(-ln(CAST(h+1 AS DOUBLE)/2^60) / w * 1e6) and -h
    * verbatim. */
  def esKeyMicro(seed: String, idCol: Column, weightCol: Column): Column = {
    val h = hash60(seed, idCol)
    struct(
      floor(esKey(seed, idCol, weightCol) * lit(1e6)).as("kq"),
      (-h).as("tb"))
  }

  /** Exact weighted sampling with ONE ticket per row and fractional
    * weights welcome: Efraimidis–Spirakis order sampling. Each row draws
    * the uniform `u = (hash60(seed, id) + 1) / 2^60 ∈ (0, 1]` and the key
    * `-ln(u) / w` — an Exponential(rate = w) variate, so the k smallest
    * keys per group are the weighted-without-replacement sample in which
    * every successive draw selects a row with probability proportional to
    * its weight among the rows remaining (Efraimidis & Spirakis 2006,
    * in the equivalent `u^(1/w)` max-key form). At k = 1 inclusion
    * probability is exactly w / Σw; no ticket replication, so a
    * weight-1000.5 row costs the same one ticket as a weight-1 row.
    *
    * Like [[bottomK]] this rides the native `graft_bottom_k` aggregate:
    * each map task ships at most k (key, id) pairs per group, O(groups×k)
    * shuffle whatever the table size, and the sample is a pure function
    * of (seed, data) — reproducible across runs, engines and
    * partitionings. The ranking key is the QUANTIZED race key
    * [[esKeyMicro]] — floor((-ln(u)/w)·10⁶) with a hash-desc in-cell
    * tie-break — so membership AND rank replay exactly in SQL from the
    * same integer+floor arithmetic (q147's oracle); see esKeyMicro for
    * why the raw double key's between-rows wobble channel is closed by
    * construction rather than absorbed by measured gap headroom.
    *
    * Rows with weight <= 0 (or null weight/id) are excluded — zero weight
    * means "never sample me", and a negative rate has no Exponential.
    * Output: groupCols ++ (idCol, rk) with rk in 1..k by key order.
    */
  def weightedBottomK(
      df: DataFrame,
      groupCols: Seq[String],
      idCol: String,
      weightCol: Column,
      k: Int,
      seed: String): DataFrame = {
    graft.plans.GraftExtensions.ensureRegistered(df.sparkSession)
    val key = esKeyMicro(seed, col(idCol), weightCol)
    val picked = df
      .filter(weightCol > 0)
      .groupBy(groupCols.map(col): _*)
      .agg(call_function("graft_bottom_k", key, col(idCol), lit(k)).as("__bk"))
    picked
      .select(groupCols.map(col) :+ posexplode(col("__bk")).as(Seq("__pos", "__kv")): _*)
      .select(groupCols.map(col) ++ Seq(
        col("__kv.v").as(idCol),
        (col("__pos") + 1).cast("int").as("rk")): _*)
  }
}
