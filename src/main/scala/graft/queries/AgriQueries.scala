package graft.queries

import graft.Q
import graft.examples.AgriDemo
import graft.ingest.AgriPipeline
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Flagship analytics over the REAL harvested corpus (all 292 CSVs under
  * `/root/reference/data/crops`, 1,494,547 rows) — the reference-domain
  * queries its data pipeline exists to serve, promoted from
  * RealCorpusSpec's pinned assertions into first-class oracle-checked
  * registry entries. Each oracle re-derives the identical normalization
  * (day-first-coalesced-with-ISO date parse, numeric try-cast, drop rows
  * lacking commodity/modal price) from the same CSVs in DuckDB, so Layer
  * A's ETL semantics are cross-engine-checked end to end, not just the
  * analytics on top.
  *
  * Money math: modal prices sum as DECIMAL(18,2) then cast to double
  * (unscaled total ≲ 4.5e13 < 2^53, so the double is exact and division/
  * rounding agree bit-for-bit across engines).
  */
object AgriQueries {

  private val CropsGlob = "/root/reference/data/crops/*.csv"

  /** Where the reference's harvested CSVs live. They are not part of this
    * repo, so every entry in [[qs]] needs them put there first. */
  private[graft] val CropsDir: String = new java.io.File(CropsGlob).getParent

  /** True when [[CropsDir]] holds at least one `.csv`, which is what
    * [[CropsGlob]] needs to match. */
  private[graft] def corpusPresent: Boolean =
    Option(new java.io.File(CropsDir).listFiles()).exists(
      _.exists(f => f.isFile && f.getName.endsWith(".csv")))

  /** Per-JVM memo of the cleaned corpus as pruned parquet: the four
    * registry queries (and Bench's warmup+timed double pass) share one
    * normalization of the 122 MB CSV corpus instead of re-parsing it per
    * query. Driver-side state is one temp-dir string.
    */
  private object Corpus {
    @volatile private var dir: Option[String] = None
    private def build(spark: SparkSession): String = {
      val out = graft.Q.scratchDir("agri_corpus_cache")
      AgriPipeline.dropInvalid(
        AgriPipeline.normalize(AgriPipeline.readCsv(spark, CropsGlob)))
        .select("state", "commodity", "arrival_date", "modal_price")
        .write.mode("overwrite").parquet(out)
      out
    }
    def apply(spark: SparkSession): DataFrame = {
      val d = synchronized {
        dir.getOrElse {
          if (!corpusPresent)
            throw new java.io.FileNotFoundException(
              s"no .csv under $CropsDir: it holds the reference's harvested " +
                "agmarknet CSVs, which are not in this repo")
          // Retry-transparent: a first-attempt transient (temp-dir or
          // listing race under a loaded host — seen once in the r7 bench
          // tail) gets one structured warning and a clean rebuild into a
          // fresh temp dir, not a raw stack. Only a success is memoized.
          val out =
            try build(spark)
            catch { case e: Throwable =>
              System.err.println(s"[agri-corpus] first build failed " +
                s"(${e.getClass.getSimpleName}: " +
                s"${Option(e.getMessage).getOrElse("").replaceAll("\\s+", " ").take(160)}); retrying once")
              build(spark)
            }
          dir = Some(out)
          out
        }
      }
      spark.read.parquet(d)
    }
  }

  /** The shared oracle-side normalization (DuckDB over the same CSVs). */
  private val OCORPUS = s"""corpus AS (
    SELECT State AS state,
           Commodity AS commodity,
           CAST(COALESCE(try_strptime(Arrival_Date, '%d/%m/%Y'),
                         try_strptime(Arrival_Date, '%Y-%m-%d')) AS DATE) AS arrival_date,
           TRY_CAST(Modal_Price AS DOUBLE) AS modal_price
    FROM read_csv('$CropsGlob', header = true, all_varchar = true)
    WHERE Commodity IS NOT NULL AND TRY_CAST(Modal_Price AS DOUBLE) IS NOT NULL)"""

  val qs: Seq[Q] = Seq(

    // The "what's expensive" cut — RealCorpusSpec's pinned top-3, widened
    // to 10 and driver-checked. Average emitted as exact integer paise
    // (floor(x*100)) — identical input doubles floor identically, where
    // round(double, 2) can split on representation-boundary values.
    Q(
      "q105_agri_top_commodities",
      (s, _) =>
        AgriDemo.topCommodities(Corpus(s), 10)
          .select(
            col("commodity"),
            col("n_quotes"),
            floor(col("avg_modal") * 100).as("avg_modal_paise")),
      Some(s"""
        WITH $OCORPUS
        SELECT commodity,
               COUNT(*) AS n_quotes,
               CAST(floor(CAST(SUM(CAST(modal_price AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) * 100)
                    AS BIGINT) AS avg_modal_paise
        FROM corpus
        GROUP BY commodity
        ORDER BY CAST(SUM(CAST(modal_price AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) DESC,
                 commodity
        LIMIT 10""")),

    // Top commodity per state-month by quote volume — one window rank
    // over a pre-aggregated (state, month, commodity) cube; ~7k rows out
    // of 1.5M in, the shuffle keyed exactly on the output grain.
    Q(
      "q106_agri_state_month_leader",
      (s, _) => {
        val monthly = Corpus(s)
          .groupBy(
            col("state"),
            date_trunc("month", col("arrival_date")).cast(DateType).as("month"),
            col("commodity"))
          .agg(count(lit(1)).as("n_quotes"))
        val w = Window.partitionBy(col("state"), col("month"))
          .orderBy(col("n_quotes").desc, col("commodity"))
        monthly
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1)
          .drop("__rn")
          .orderBy("state", "month")
      },
      Some(s"""
        WITH $OCORPUS,
        monthly AS (
          SELECT state, CAST(date_trunc('month', arrival_date) AS DATE) AS month,
                 commodity, COUNT(*) AS n_quotes
          FROM corpus GROUP BY 1, 2, 3)
        SELECT state, month, commodity, n_quotes
        FROM (SELECT *, row_number() OVER (PARTITION BY state, month
                                           ORDER BY n_quotes DESC, commodity) AS rn
              FROM monthly)
        WHERE rn = 1
        ORDER BY state, month""")),

    // 7-day rolling mean modal price WITH calendar gap-fill: the daily
    // aggregate is left-joined onto each commodity's full day sequence so
    // the ROWS(-6, 0) frame spans true calendar weeks (a quote-less day
    // still advances the window; an all-gap week yields NULL). Restricted
    // to three high-volume commodities to keep the checked output bounded.
    // Derived means are emitted as exact integer paise (floor(x*100)):
    // identical input doubles floor identically, where round(double, 2)
    // diverges between Spark's shortest-repr HALF_UP and DuckDB's binary
    // rounding on representation-boundary values.
    Q(
      "q107_agri_rolling_price",
      (s, _) => {
        val staples = Seq("Carrot", "Banana", "Apple")
        val daily = Corpus(s)
          .filter(col("commodity").isin(staples: _*))
          .groupBy(col("commodity"), col("arrival_date"))
          .agg(
            sum(col("modal_price").cast(DecimalType(18, 2))).as("day_sum"),
            count(lit(1)).as("day_n"))
        val cal = daily
          .groupBy(col("commodity"))
          .agg(min(col("arrival_date")).as("d0"), max(col("arrival_date")).as("d1"))
          .select(
            col("commodity"),
            explode(expr("sequence(d0, d1, interval 1 day)")).as("arrival_date"))
        val filled = cal.join(daily, Seq("commodity", "arrival_date"), "left")
        val w = Window.partitionBy(col("commodity")).orderBy(col("arrival_date"))
          .rowsBetween(-6, 0)
        filled.select(
          col("commodity"), col("arrival_date"),
          floor(sum(col("day_sum")).over(w).cast(DoubleType) / sum(col("day_n")).over(w) * 100)
            .as("roll7_paise"))
          .orderBy("commodity", "arrival_date")
      },
      Some(s"""
        WITH $OCORPUS,
        daily AS (
          SELECT commodity, arrival_date,
                 SUM(CAST(modal_price AS DECIMAL(18,2))) AS day_sum,
                 COUNT(*) AS day_n
          FROM corpus
          WHERE commodity IN ('Carrot', 'Banana', 'Apple')
          GROUP BY 1, 2),
        cal AS (
          SELECT commodity,
                 CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS arrival_date
          FROM (SELECT commodity, MIN(arrival_date) AS d0, MAX(arrival_date) AS d1
                FROM daily GROUP BY 1)),
        filled AS (
          SELECT c.commodity, c.arrival_date, d.day_sum, d.day_n
          FROM cal c LEFT JOIN daily d
            ON d.commodity = c.commodity AND d.arrival_date = c.arrival_date)
        SELECT commodity, arrival_date,
               CAST(floor(CAST(SUM(day_sum) OVER w AS DOUBLE) / SUM(day_n) OVER w * 100)
                    AS BIGINT) AS roll7_paise
        FROM filled
        WINDOW w AS (PARTITION BY commodity ORDER BY arrival_date
                     ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        ORDER BY commodity, arrival_date""")),

    // Year-over-year seasonality: monthly mean vs the same month last
    // year. The prior-year month is matched with an add_months equi-join
    // (months_between(cur, prev) = 12 states the same predicate but would
    // force a theta join — the rewritten key keeps it hash-joinable).
    Q(
      "q108_agri_yoy",
      (s, _) => {
        val monthly = Corpus(s)
          .groupBy(
            col("commodity"),
            date_trunc("month", col("arrival_date")).cast(DateType).as("month"))
          .agg((sum(col("modal_price").cast(DecimalType(18, 2))).cast(DoubleType) /
            count(lit(1))).as("avg_price"))
        val cur = monthly.select(
          col("commodity"), col("month"), col("avg_price"))
        val prev = monthly.select(
          col("commodity"),
          add_months(col("month"), 12).as("month"),
          col("avg_price").as("prev_avg"))
        cur.join(prev, Seq("commodity", "month"))
          .select(
            col("commodity"), col("month"),
            floor(col("avg_price") * 100).as("avg_paise"),
            floor((col("avg_price") - col("prev_avg")) * 100).as("yoy_delta_paise"))
          .orderBy("commodity", "month")
      },
      Some(s"""
        WITH $OCORPUS,
        monthly AS (
          SELECT commodity, CAST(date_trunc('month', arrival_date) AS DATE) AS month,
                 CAST(SUM(CAST(modal_price AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price
          FROM corpus GROUP BY 1, 2)
        SELECT cur.commodity, cur.month,
               CAST(floor(cur.avg_price * 100) AS BIGINT) AS avg_paise,
               CAST(floor((cur.avg_price - prev.avg_price) * 100) AS BIGINT) AS yoy_delta_paise
        FROM monthly cur
        JOIN monthly prev
          ON prev.commodity = cur.commodity
         AND CAST(prev.month + INTERVAL 12 MONTH AS DATE) = cur.month
        ORDER BY cur.commodity, cur.month""")),

    // Price-spike detection: flag days whose mean quote deviates > 2
    // trailing-window standard deviations from the previous 28 observed
    // days (population σ, window excludes the current day). The whole
    // test runs in exact integer arithmetic — day means floor to paise,
    // and |z| > 2 is evaluated as (k·p − Σp)² > 4·(k·Σp² − (Σp)²), i.e.
    // (k·dev)² > 4·k²σ², so no float aggregate can wobble cross-engine.
    // Quotes above 1e6 rupees are data junk (max observed 1.35e6) and
    // also what keeps every intermediate inside BIGINT (the final squares
    // compare as DECIMAL/HUGEINT). One shuffle (daily agg) + one window
    // sort per partition; everything else is scan-stage math.
    Q(
      "q123_agri_price_spikes",
      (s, _) => {
        val daily = Corpus(s)
          .filter(col("modal_price") <= 1000000)
          .groupBy(col("commodity"), col("arrival_date"))
          .agg(
            sum(col("modal_price").cast(DecimalType(18, 2))).as("day_sum"),
            count(lit(1)).as("day_n"))
        val pd = daily.select(
          col("commodity"), col("arrival_date"),
          floor(col("day_sum").cast(DoubleType) * 100 / col("day_n")).cast(LongType).as("p"))
        val w = Window.partitionBy(col("commodity")).orderBy(col("arrival_date"))
          .rowsBetween(-28, -1)
        val win = pd.select(
          col("commodity"), col("arrival_date"), col("p"),
          count(col("p")).over(w).as("k"),
          sum(col("p")).over(w).as("sp"),
          sum(col("p") * col("p")).over(w).as("spp"))
        val dev = col("k") * col("p") - col("sp")
        val varnum = col("k") * col("spp") - col("sp") * col("sp")
        win
          .withColumn("dev", dev)
          .filter(col("k") >= 14 &&
            col("dev").cast(DecimalType(38, 0)) * col("dev").cast(DecimalType(38, 0)) >
              lit(4).cast(DecimalType(38, 0)) * varnum.cast(DecimalType(38, 0)))
          .select(
            col("commodity"), col("arrival_date"),
            col("p").as("mean_paise"), col("dev"), col("k"))
          .orderBy("commodity", "arrival_date")
      },
      Some(s"""
        WITH $OCORPUS,
        daily AS (
          SELECT commodity, arrival_date,
                 SUM(CAST(modal_price AS DECIMAL(18,2))) AS day_sum,
                 COUNT(*) AS day_n
          FROM corpus
          WHERE modal_price <= 1000000
          GROUP BY 1, 2),
        pd AS (
          SELECT commodity, arrival_date,
                 CAST(floor(CAST(day_sum AS DOUBLE) * 100 / day_n) AS BIGINT) AS p
          FROM daily),
        win AS (
          SELECT commodity, arrival_date, p,
                 COUNT(p) OVER w AS k,
                 CAST(SUM(p) OVER w AS BIGINT) AS sp,
                 CAST(SUM(p * p) OVER w AS BIGINT) AS spp
          FROM pd
          WINDOW w AS (PARTITION BY commodity ORDER BY arrival_date
                       ROWS BETWEEN 28 PRECEDING AND 1 PRECEDING))
        SELECT commodity, arrival_date,
               p AS mean_paise,
               (k * p - sp) AS dev,
               k
        FROM win
        WHERE k >= 14
          AND CAST(k * p - sp AS HUGEINT) * CAST(k * p - sp AS HUGEINT)
              > 4 * CAST(k * spp - sp * sp AS HUGEINT)
        ORDER BY commodity, arrival_date""")),

    // Quantile vs fixed-width z-order A/B on the corpus's skewed
    // Modal_Price (min 1 / median ~824 / max 53,393): the same Morton
    // interleave over (price bucket, arrival-day bucket), once with
    // equal-WIDTH price buckets over [0, 60000) — which collapse, most
    // of the mass lands in bucket 0 — and once with equal-DEPTH
    // boundaries from the exact value-deterministic quantile derivation
    // (Layout.exactQuantileBoundaries: b_j = min{v : 16·cum(v) ≥ j·n},
    // integer thresholds over distinct values, no rank tie-breaks, so
    // DuckDB replays it bit-for-bit). A rupee-band predicate
    // p ∈ [500, 1000] then reads strictly fewer rows off the quantile
    // layout's zone stats — the I/O arithmetic behind zorderQuantile,
    // proved cross-engine, asserted in-data by the final boolean.
    Q(
      "q150_zorder_quantile_skip",
      (s, _) => {
        import graft.operators.Layout
        val c = Corpus(s).select(
          col("modal_price").as("v"),
          unix_date(col("arrival_date")).cast(LongType).as("day"),
          floor(col("modal_price")).cast(LongType).as("p"))
        val bRow = Layout.exactQuantileBoundaries(c, "v", 4)
        val withB = c.crossJoin(broadcast(bRow))
        val qb = Layout.quantileBucket(col("v"), (1 to 15).map(j => col(s"b$j")))
        val fw = Layout.widthBucket(col("p"), 0L, 59999L, 4)
        val dy = Layout.widthBucket(col("day"), 11323L, 20453L, 4)
        val zq = Layout.zvalue(Seq(qb, dy), 4)
        val zf = Layout.zvalue(Seq(fw, dy), 4)
        val sf = Layout
          .skipSummary(withB.select(zf.as("z"), col("p")), col("z"), col("p"), 500L, 1000L)
          .select(col("zones_total").as("zones_total_fw"),
            col("zones_scanned").as("zones_scanned_fw"),
            col("rows_scanned").as("rows_scanned_fw"),
            col("rows_total"), col("rows_matching"))
        val sq = Layout
          .skipSummary(withB.select(zq.as("z"), col("p")), col("z"), col("p"), 500L, 1000L)
          .select(col("zones_total").as("zones_total_qb"),
            col("zones_scanned").as("zones_scanned_qb"),
            col("rows_scanned").as("rows_scanned_qb"))
        sf.crossJoin(sq)
          .withColumn("quantile_strictly_better",
            col("rows_scanned_qb") < col("rows_scanned_fw"))
      },
      Some(s"""
        WITH $OCORPUS,
        c AS (
          SELECT modal_price AS v,
                 datediff('day', DATE '1970-01-01', arrival_date) AS day,
                 CAST(floor(modal_price) AS BIGINT) AS p
          FROM corpus),
        pv AS (SELECT v, COUNT(*) AS cnt FROM c GROUP BY 1),
        cum AS (SELECT v, SUM(cnt) OVER (ORDER BY v) AS cum FROM pv),
        n AS (SELECT COUNT(*) AS n FROM c),
        b AS (SELECT ${(1 to 15).map(j =>
            s"MIN(CASE WHEN cum * 16 >= n * $j THEN v END) AS b$j").mkString(", ")}
              FROM cum, n),
        z AS (
          SELECT ${(1 to 15).map(j => s"(CASE WHEN v >= b$j THEN 1 ELSE 0 END)").mkString(" + ")} AS qb,
                 least(15, greatest(0, (p * 16) // 60000)) AS fw,
                 least(15, greatest(0, ((day - 11323) * 16) // 9131)) AS dy,
                 p
          FROM c, b),
        zz AS (
          SELECT ${(0 to 3).map(i => s"(((qb >> $i) & 1) << ${2 * i}) | (((dy >> $i) & 1) << ${2 * i + 1})").mkString(" | ")} AS zq,
                 ${(0 to 3).map(i => s"(((fw >> $i) & 1) << ${2 * i}) | (((dy >> $i) & 1) << ${2 * i + 1})").mkString(" | ")} AS zf,
                 p
          FROM z),
        stf AS (SELECT zf, MIN(p) AS zmin, MAX(p) AS zmax, COUNT(*) AS zrows,
                       SUM(CASE WHEN p BETWEEN 500 AND 1000 THEN 1 ELSE 0 END) AS zmatch
                FROM zz GROUP BY zf),
        stq AS (SELECT zq, MIN(p) AS zmin, MAX(p) AS zmax, COUNT(*) AS zrows
                FROM zz GROUP BY zq),
        sumf AS (SELECT CAST(COUNT(*) AS BIGINT) AS zones_total_fw,
                        CAST(SUM(CASE WHEN zmax >= 500 AND zmin <= 1000 THEN 1 ELSE 0 END) AS BIGINT) AS zones_scanned_fw,
                        CAST(SUM(CASE WHEN zmax >= 500 AND zmin <= 1000 THEN zrows ELSE 0 END) AS BIGINT) AS rows_scanned_fw,
                        CAST(SUM(zrows) AS BIGINT) AS rows_total,
                        CAST(SUM(zmatch) AS BIGINT) AS rows_matching
                 FROM stf),
        sumq AS (SELECT CAST(COUNT(*) AS BIGINT) AS zones_total_qb,
                        CAST(SUM(CASE WHEN zmax >= 500 AND zmin <= 1000 THEN 1 ELSE 0 END) AS BIGINT) AS zones_scanned_qb,
                        CAST(SUM(CASE WHEN zmax >= 500 AND zmin <= 1000 THEN zrows ELSE 0 END) AS BIGINT) AS rows_scanned_qb
                 FROM stq)
        SELECT sumf.*, sumq.*,
               (rows_scanned_qb < rows_scanned_fw) AS quantile_strictly_better
        FROM sumf, sumq""")),

    // B156: seasonal-naive decomposition of the 18-year daily mandi
    // corpus — the seasonality split the time-series wing (trend B53/
    // B103, changepoint B96, randomness B115) was missing, over data
    // with STRONG crop seasonality. Month-of-year means on the exact
    // integer paise grid: per eligible commodity (≥ 20k quotes — 23 of
    // 316, keeps the checked output bounded at ≤ 276 rows),
    // mu_cm = Σp div n per (commodity, month), mu_c over all months,
    // seasonal index = mu_cm − mu_c, plus the residual read — how much
    // of the total absolute deviation the month means absorb:
    // resid_seasonal = Σ|p − mu_cm| vs resid_total = Σ|p − mu_c|,
    // emitted as the exact integer PAIR (the num/den posture: a
    // derived ratio can be negative when month means don't help, and
    // Spark div truncates where DuckDB // floors). Scale shape: two
    // grouped partial-agg passes over the row stream; the residual
    // pass joins rows to a BROADCAST of the ≤ commodity×12 means —
    // no window over raw history, no extra shuffle.
    Q(
      "q266_agri_seasonal",
      (s, _) => {
        val rows = Corpus(s)
          .filter(col("arrival_date").isNotNull)
          .select(col("commodity"),
            month(col("arrival_date")).as("m"),
            // non-negativity enforced IN-PLAN (the Stratified posture):
            // every paise division below (s_cm div n_cm, s_c div n_c)
            // assumes non-negative sums — one negative quote would make
            // them sign-mixed, the exact cross-engine div/floor hazard
            // the num/den emission rules exist for. TRY_CAST admits any
            // sign, so the intake refuses loudly instead of diverging.
            graft.operators.Guards(col("modal_price") >= 0,
              floor(col("modal_price") * 100),
              concat(lit("[agri-seasonal] negative modal_price "),
                col("modal_price").cast("string"),
                lit(" - paise-mean divisions assume non-negative quotes; "),
                lit("filter the corpus or emit the (sum, n) pair instead")))
              .as("p"))
        val cm = rows.groupBy("commodity", "m")
          .agg(count(lit(1)).as("n_cm"), sum("p").as("s_cm"))
        val mucm = cm.select(col("commodity"), col("m"), col("n_cm"),
          expr("s_cm div n_cm").as("mu_cm"))
        val elig = cm.groupBy("commodity")
          .agg(sum("n_cm").as("n_c"), sum("s_cm").as("s_c"))
          .filter(col("n_c") >= 20000L)
          .select(col("commodity"), expr("s_c div n_c").as("mu_c"))
        val resid = rows
          .join(broadcast(mucm.select("commodity", "m", "mu_cm")), Seq("commodity", "m"))
          .join(broadcast(elig), Seq("commodity"))
          .groupBy("commodity")
          .agg(sum(abs(col("p") - col("mu_cm"))).as("resid_seasonal"),
            sum(abs(col("p") - col("mu_c"))).as("resid_total"))
        mucm
          .join(broadcast(elig), "commodity")
          .join(broadcast(resid), "commodity")
          .select(col("commodity"), col("m").cast("int").as("month"),
            col("n_cm").as("n_quotes"), col("mu_cm").as("mean_paise"),
            (col("mu_cm") - col("mu_c")).as("seasonal_paise"),
            col("resid_seasonal"), col("resid_total"))
          .orderBy("commodity", "month")
      },
      Some(s"""
        WITH $OCORPUS,
        rows_ AS (SELECT commodity, CAST(month(arrival_date) AS INT) AS m,
                         CAST(floor(modal_price * 100) AS BIGINT) AS p
                  FROM corpus WHERE arrival_date IS NOT NULL),
        cm AS (SELECT commodity, m, CAST(COUNT(*) AS BIGINT) AS n_cm,
                      CAST(SUM(p) AS BIGINT) AS s_cm
               FROM rows_ GROUP BY 1, 2),
        mucm AS (SELECT commodity, m, n_cm, s_cm // n_cm AS mu_cm FROM cm),
        elig AS (SELECT commodity, s_c // n_c AS mu_c
                 FROM (SELECT commodity, CAST(SUM(n_cm) AS BIGINT) AS n_c,
                              CAST(SUM(s_cm) AS BIGINT) AS s_c
                       FROM cm GROUP BY 1)
                 WHERE n_c >= 20000),
        resid AS (SELECT r.commodity,
                         CAST(SUM(abs(r.p - mm.mu_cm)) AS BIGINT) AS resid_seasonal,
                         CAST(SUM(abs(r.p - e.mu_c)) AS BIGINT) AS resid_total
                  FROM rows_ r JOIN mucm mm USING (commodity, m)
                       JOIN elig e USING (commodity)
                  GROUP BY 1)
        SELECT mm.commodity, mm.m AS month, mm.n_cm AS n_quotes,
               mm.mu_cm AS mean_paise, mm.mu_cm - e.mu_c AS seasonal_paise,
               rs.resid_seasonal, rs.resid_total
        FROM mucm mm JOIN elig e USING (commodity) JOIN resid rs USING (commodity)
        ORDER BY mm.commodity, month""")),

    // B157: CLASSICAL seasonal decomposition (2x12 moving-average trend
    // tier) — q266's month-of-year means conflate the 18-year price
    // trend into the seasonal index wherever months are unevenly
    // sampled; the classical fix detrends FIRST. r15: the algebra moved
    // from inline query code into operators/Seasonal.classicalMonthly
    // (calendar fill -> two-frame 2x12 MA -> detrended month-of-year
    // means, spec-pinned exact on synthetic series), and the scope
    // widened from three hardcoded staples to q266's DATA-DERIVED
    // eligibility gate (>= 20k quotes -> 23 commodities, ~3.6k checked
    // rows). Every sign-mixed numerator (the detrended sums) divides
    // through the PORTABLE truncating CASE (both branches divide
    // non-negatives, where floor = truncate in every engine version —
    // the r14 bare `div` relied on a spot-measurement of DuckDB's
    // current `//`), replayed branch-for-branch by the oracle. Scale
    // shape: ONE corpus-scale grouped aggregate to the monthly grid;
    // every window after it runs per commodity over <= 216 rows with
    // bounded ROWS frames.
    Q(
      "q267_agri_seasonal_ma",
      (s, _) => {
        val monthly = Corpus(s)
          .filter(col("arrival_date").isNotNull)
          .groupBy(col("commodity"),
            date_trunc("month", col("arrival_date")).cast(DateType).as("month"))
          .agg(count(lit(1)).as("n_quotes"),
            sum(graft.operators.Guards(col("modal_price") >= 0,
              floor(col("modal_price") * 100),
              concat(lit("[agri-seasonal] negative modal_price "),
                col("modal_price").cast("string"),
                lit(" - paise-mean divisions assume non-negative quotes; "),
                lit("filter the corpus or emit the (sum, n) pair instead"))))
              .as("sp"))
          .withColumn("mu", expr("sp div n_quotes"))
        graft.operators.Seasonal
          .classicalMonthly(monthly, "commodity", "month", "n_quotes", "mu",
            eligibleMinN = 20000L)
          .select(col("commodity"), col("month"), col("n").as("n_quotes"),
            col("mu").as("mu_paise"), col("trend").as("trend_paise"),
            col("seasonal").as("seasonal_paise"),
            col("residual").as("residual_paise"))
          .orderBy("commodity", "month")
      },
      Some(s"""
        WITH $OCORPUS,
        monthly AS (
          SELECT commodity, CAST(date_trunc('month', arrival_date) AS DATE) AS month,
                 CAST(COUNT(*) AS BIGINT) AS n_quotes,
                 CAST(SUM(CAST(floor(modal_price * 100) AS BIGINT)) AS BIGINT) AS sp
          FROM corpus
          WHERE arrival_date IS NOT NULL
          GROUP BY 1, 2),
        elig AS (SELECT commodity FROM monthly GROUP BY 1 HAVING SUM(n_quotes) >= 20000),
        m2 AS (SELECT monthly.*, sp // n_quotes AS mu
               FROM monthly JOIN elig USING (commodity)),
        cal AS (SELECT commodity,
                       CAST(unnest(generate_series(d0, d1, INTERVAL 1 MONTH)) AS DATE) AS month
                FROM (SELECT commodity, MIN(month) AS d0, MAX(month) AS d1 FROM m2 GROUP BY 1)),
        filled AS (SELECT c.commodity, c.month, m2.n_quotes, m2.mu
                   FROM cal c LEFT JOIN m2 ON m2.commodity = c.commodity AND m2.month = c.month),
        tr AS (SELECT *,
                      CAST(SUM(mu) OVER wa AS BIGINT) + CAST(SUM(mu) OVER wb AS BIGINT) AS sab,
                      COUNT(mu) OVER wc AS c13
               FROM filled
               WINDOW wa AS (PARTITION BY commodity ORDER BY month ROWS BETWEEN 6 PRECEDING AND 5 FOLLOWING),
                      wb AS (PARTITION BY commodity ORDER BY month ROWS BETWEEN 5 PRECEDING AND 6 FOLLOWING),
                      wc AS (PARTITION BY commodity ORDER BY month ROWS BETWEEN 6 PRECEDING AND 6 FOLLOWING)),
        d2 AS (SELECT commodity, month, n_quotes, mu,
                      CASE WHEN sab >= 0 THEN sab // 24 ELSE -((-sab) // 24) END AS trend,
                      mu - CASE WHEN sab >= 0 THEN sab // 24 ELSE -((-sab) // 24) END AS d,
                      CAST(month(month) AS INT) AS moy
               FROM tr WHERE c13 = 13),
        sea AS (SELECT commodity, moy,
                       CASE WHEN SUM(d) >= 0
                            THEN CAST(SUM(d) AS BIGINT) // CAST(COUNT(*) AS BIGINT)
                            ELSE -(CAST(-SUM(d) AS BIGINT) // CAST(COUNT(*) AS BIGINT))
                       END AS seasonal
                FROM d2 GROUP BY 1, 2)
        SELECT d2.commodity, d2.month, d2.n_quotes, d2.mu AS mu_paise,
               d2.trend AS trend_paise, sea.seasonal AS seasonal_paise,
               d2.d - sea.seasonal AS residual_paise
        FROM d2 JOIN sea ON sea.commodity = d2.commodity AND sea.moy = d2.moy
        ORDER BY d2.commodity, d2.month"""))
  )
}
