package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Declarative data-quality expectations (the Deequ/Great-Expectations
  * idea as a Spark-first operator): a caller states WHAT must hold —
  * not-null, in-range, regex shape, accepted value set, key uniqueness,
  * referential integrity, freshness, distribution stability — and gets
  * back one verdict row per rule (rule, n, violations, pass), ready to
  * gate a pipeline run or land in a monitoring table. The reference
  * pipeline validates records imperatively inside its ingest loop
  * (`/root/reference/fetch_data.py:96-118` — drop-null + try-cast with
  * inline counters); this generalizes that check into a reusable,
  * composable rule engine over any frame.
  *
  * Scale shape — the engine plans the MINIMUM passes, not one per rule:
  *  - ALL row-local rules ([[Expectations.NotNull]], [[Expectations.InRange]],
  *    [[Expectations.Matches]], [[Expectations.InSet]]) AND the
  *    table-level [[Expectations.Fresh]] fold into ONE aggregate over one
  *    scan (a conditional sum / max per rule inside a single partial-agg'd
  *    reduction — 100 rules still cost one pass), then unpivot to rows
  *    via an array/explode of the single totals row.
  *  - each [[Expectations.Unique]] is one partial-agg'd shuffle on its
  *    key set (violations = Σ(c−1) = n − |distinct|; never a window).
  *  - each [[Expectations.RefIntegrity]] is one left equi-join against
  *    the distinct dimension keys (AQE broadcasts small dims), counted
  *    in the same pass as the join.
  *  - each [[Expectations.Drift]] is one partial-agg'd category-count
  *    shuffle over frame ∪ reference plus a broadcast totals attach (the
  *    B88 TVD tier's shape, verdict-ized: exact-rational cross-multiply
  *    against the ppm threshold in DECIMAL(38,0), never a float).
  *
  * Null semantics (explicit, engine-portable): [[Expectations.NotNull]]
  * counts NULL as its violation; for InRange/Matches/InSet a NULL value
  * also VIOLATES (a null can't prove it's in range — `coalesce(pred,
  * false)` makes the choice visible); for RefIntegrity a NULL child key
  * PASSES (SQL FK semantics: nothing to resolve); Unique treats NULL as
  * a key value like any other (two null-keyed rows collide). An EMPTY
  * frame yields violations=0 / pass=true for every row-local rule (zero
  * rows, zero violations — the vacuous truth a gate expects, never a
  * NULL verdict), but Fresh on an empty-or-all-null timestamp column is
  * STALE (no row can prove recency) and Drift with an empty side fails
  * (no sample can prove stability) — table-level rules demand evidence.
  */
object Expectations {

  /** One declarative expectation; `name` keys the verdict row. */
  sealed trait Rule { def name: String }

  /** `column` must never be NULL. */
  final case class NotNull(column: String) extends Rule {
    def name = s"not_null($column)"
  }

  /** `column` must lie in [lo, hi] (inclusive; NULL violates). */
  final case class InRange(column: String, lo: Double, hi: Double) extends Rule {
    def name = s"in_range($column,$lo,$hi)"
  }

  /** `column` must contain a match of `regex` (Spark `rlike` semantics —
    * unanchored search; anchor with ^...$ for a full match. NULL
    * violates). */
  final case class Matches(column: String, regex: String) extends Rule {
    def name = s"matches($column)"
  }

  /** `column` (cast to string) must be one of `values` (NULL violates). */
  final case class InSet(column: String, values: Seq[String]) extends Rule {
    def name = s"in_set($column)"
  }

  /** The tuple `columns` must be unique across the frame; violations =
    * rows beyond the first in every colliding group (n − |distinct|). */
  final case class Unique(columns: Seq[String]) extends Rule {
    def name = s"unique(${columns.mkString(",")})"
  }

  /** Every non-null `column` value must exist in `dim.dimKey`
    * (referential integrity; violations = orphaned child rows). */
  final case class RefIntegrity(column: String, dim: DataFrame, dimKey: String) extends Rule {
    def name = s"ref_integrity($column->$dimKey)"
  }

  /** Max-staleness freshness gate: the NEWEST value of `column` (cast to
    * timestamp, compared in epoch seconds) must be no older than
    * `maxLagSeconds` before `asOfEpoch` — the "did yesterday's load
    * actually land" check a scheduled pipeline runs before serving. The
    * clock is SUPPLIED, not read (no wall-clock in-plan: the verdict
    * stays a deterministic, replayable function of the inputs).
    * Table-level: violations is 0 or 1; an empty or all-null column is
    * stale (nothing proves recency). */
  final case class Fresh(column: String, asOfEpoch: Long, maxLagSeconds: Long) extends Rule {
    require(maxLagSeconds >= 0L, s"Fresh wants maxLagSeconds >= 0, got $maxLagSeconds")
    def name = s"fresh($column,$asOfEpoch,$maxLagSeconds)"
  }

  /** Distribution-stability gate: the total-variation distance between
    * `column`'s categorical distribution (values cast to string; NULL is
    * a category) and `refColumn`'s in the `reference` frame must not
    * exceed `maxTvdPpm` parts-per-million — the B88 drift statistic
    * verdict-ized, so "this week's corpus still looks like the golden
    * sample" is one rule beside the nulls-and-ranges. Exact rational:
    * the comparison cross-multiplies tvd_num·10^6 vs ppm·tvd_den in
    * DECIMAL(38,0). Table-level: violations is 0 or 1; an empty side
    * violates (no evidence of stability). `n` reports the CHECKED
    * frame's row count. The rule NAME carries the reference frame's
    * column (or, since two references can share a column name, a
    * caller-supplied `tag` naming the frame) so two Drift rules on the
    * same column/threshold against different references get distinct
    * names and distinguishable verdict rows. */
  final case class Drift(column: String, reference: DataFrame, refColumn: String,
      maxTvdPpm: Long, tag: String = "") extends Rule {
    require(maxTvdPpm >= 0L && maxTvdPpm <= 1000000L,
      s"Drift wants maxTvdPpm in [0, 10^6], got $maxTvdPpm")
    def name = s"drift($column~${if (tag.nonEmpty) tag else refColumn},$maxTvdPpm)"
  }

  /** Evaluate `rules` over `df`: one output row per rule —
    * (rule, n, violations, pass) with n the rows checked, ordered by
    * rule name so the verdict frame is deterministic. */
  def check(df: DataFrame, rules: Seq[Rule]): DataFrame = {
    require(rules.nonEmpty, "[expectations] no rules given")
    require(rules.map(_.name).distinct.size == rules.size,
      s"[expectations] duplicate rule names: ${rules.map(_.name).diff(rules.map(_.name).distinct).mkString(",")}")

    // one-scan rules: (name, aggregate over the scan, violations from the
    // aggregated totals row). Row-local counters coalesce to 0 so an
    // empty frame still gets a verdict (sum over zero rows is NULL);
    // Fresh aggregates the max epoch and verdicts it against the clock.
    val scanRules: Seq[(String, Column => Column, Column => Column)] = rules.collect {
      case r: NotNull => (r.name,
        (_: Column) => sum(when(col(r.column).isNull, 1L).otherwise(0L)),
        (v: Column) => coalesce(v, lit(0L)))
      case r: InRange => (r.name,
        (_: Column) => sum(when(
          !coalesce(col(r.column) >= r.lo && col(r.column) <= r.hi, lit(false)), 1L)
          .otherwise(0L)),
        (v: Column) => coalesce(v, lit(0L)))
      case r: Matches => (r.name,
        (_: Column) => sum(when(!coalesce(col(r.column).rlike(r.regex), lit(false)), 1L)
          .otherwise(0L)),
        (v: Column) => coalesce(v, lit(0L)))
      case r: InSet => (r.name,
        (_: Column) => sum(when(!coalesce(col(r.column).cast("string").isin(r.values: _*), lit(false)), 1L)
          .otherwise(0L)),
        (v: Column) => coalesce(v, lit(0L)))
      case r: Fresh => (r.name,
        (_: Column) => max(unix_timestamp(col(r.column).cast("timestamp"))),
        (v: Column) => when(coalesce(v >= r.asOfEpoch - r.maxLagSeconds, lit(false)), 0L)
          .otherwise(1L))
    }

    val parts = Seq.newBuilder[DataFrame]

    if (scanRules.nonEmpty) {
      val aggs = count(lit(1)).as("n") +: scanRules.zipWithIndex.map { case ((_, agg, _), i) =>
        agg(lit(1)).as(s"v$i")
      }
      parts += df.agg(aggs.head, aggs.tail: _*)
        .select(col("n"), explode(array(scanRules.zipWithIndex.map { case ((nm, _, viol), i) =>
          struct(lit(nm).as("rule"), viol(col(s"v$i")).as("violations"))
        }: _*)).as("r"))
        .select(col("r.rule").as("rule"), col("n"), col("r.violations").as("violations"))
    }

    rules.foreach {
      case r: Unique =>
        parts += df.groupBy(r.columns.map(col): _*).agg(count(lit(1)).as("c"))
          .agg(coalesce(sum("c"), lit(0L)).as("n"),
            coalesce(sum(col("c") - 1L), lit(0L)).as("violations"))
          .select(lit(r.name).as("rule"), col("n"), col("violations"))
      case r: RefIntegrity =>
        val d = r.dim.select(col(r.dimKey).as("__k")).distinct()
        parts += df.select(col(r.column).as("__c"))
          .join(d, col("__c") === col("__k"), "left")
          .agg(count(lit(1)).as("n"),
            coalesce(sum(when(col("__c").isNotNull && col("__k").isNull, 1L)
              .otherwise(0L)), lit(0L)).as("violations"))
          .select(lit(r.name).as("rule"), col("n"), col("violations"))
      case r: Drift =>
        // per-category counts over frame ∪ reference — ONE partial-agg'd
        // shuffle, then a broadcast totals attach (tvdCounts' shape with
        // verdict semantics instead of refuse-on-empty)
        val perV = EvalMetrics.twoSample(
          df.select(col(r.column).cast("string").as("v"), lit(true).as("s1"))
            .unionByName(r.reference
              .select(col(r.refColumn).cast("string").as("v"), lit(false).as("s1"))),
          col("s1"), col("v"))
        // the 2^62 product bound covers Σ|p·n2 − q·n1| ≤ 2·n1·n2 (the
        // tvdCounts guard); beyond it the statistic would be wrong, so
        // refuse loudly rather than verdict
        val tot = perV.agg(
            coalesce(sum("p"), lit(0L)).as("n1"),
            coalesce(sum("q"), lit(0L)).as("n2"))
          .select(
            Guards(
              col("n1") <= expr(s"${Long.MaxValue / 2}L div greatest(n2, 1L)"),
              col("n1"),
              concat(
                lit(s"[expectations] ${r.name} needs n1*n2 < 2^62 (n1="), col("n1"),
                lit(", n2="), col("n2"),
                lit("); pre-aggregate / downsample the drift inputs beyond the bound")))
              .as("n1"),
            col("n2"))
        val num = perV.crossJoin(broadcast(tot))
          .agg(coalesce(sum(abs(col("p") * col("n2") - col("q") * col("n1"))), lit(0L))
            .as("tvd_num"))
        parts += tot.crossJoin(num)
          .select(
            lit(r.name).as("rule"),
            col("n1").as("n"),
            when(col("n1") === 0L || col("n2") === 0L, 1L)
              .when(col("tvd_num").cast("decimal(38,0)") * lit(1000000L) >
                lit(r.maxTvdPpm).cast("decimal(38,0)") *
                  (lit(2L) * col("n1") * col("n2")).cast("decimal(38,0)"), 1L)
              .otherwise(0L).as("violations"))
      case _ => () // scan-local: already folded into the single-scan pass
    }

    parts.result().reduce(_ unionByName _)
      .withColumn("pass", col("violations") === 0L)
      .orderBy("rule")
  }
}
