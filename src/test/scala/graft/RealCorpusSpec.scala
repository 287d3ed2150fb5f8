package graft

import java.nio.file.Files

import graft.ingest.AgriPipeline
import graft.queries.AgriQueries
import org.apache.spark.sql.functions._

/** Layer-A parity proof over the ACTUAL harvested corpus
  * (all 292 CSVs under `/root/reference/data/crops`, 122 MB) — not a
  * fixture. Asserts the measured invariants of BASELINE.md §B:
  * 1,494,547 rows, zero natural-key duplicates, 5 grades, 33 states,
  * date coverage 2006-01-01..2023-12-31.
  *
  * Notable: the harvested files store ISO `yyyy-MM-dd` dates (pandas
  * round-trips to ISO on save), so the multi-format date parse in
  * [[AgriPipeline.normalize]] is load-bearing here — a strict d/M/yyyy
  * parse would null out every date in the corpus.
  */
class RealCorpusSpec extends SparkSpec {

  private val crops = AgriQueries.CropsDir

  test("Layer A end-to-end over the real corpus matches BASELINE §B") {
    assume(AgriQueries.corpusPresent, s"no .csv under $crops")

    val raw = AgriPipeline.readCsv(spark, s"$crops/*.csv")
    val norm = AgriPipeline.normalize(raw).persist()

    val stats = norm.agg(
      count(lit(1)).as("n"),
      sum(when(col("arrival_date").isNull, 1L).otherwise(0L)).as("bad_dates"),
      min(col("arrival_date")).as("d_min"),
      max(col("arrival_date")).as("d_max"),
      sum(when(col("modal_price").isNull, 1L).otherwise(0L)).as("bad_prices"),
      countDistinct(col("grade")).as("n_grades"),
      countDistinct(col("state")).as("n_states")).head()

    assert(stats.getAs[Long]("n") === 1494547L)
    assert(stats.getAs[Long]("bad_dates") === 0L, "ISO dates must all parse")
    assert(stats.getAs[java.sql.Date]("d_min").toString === "2006-01-01")
    assert(stats.getAs[java.sql.Date]("d_max").toString === "2023-12-31")
    assert(stats.getAs[Long]("bad_prices") === 0L, "Modal_Price non-null by construction")
    assert(stats.getAs[Long]("n_grades") === 5L)
    assert(stats.getAs[Long]("n_states") === 33L)

    // A7 + A3-repair: nothing to drop, nothing duplicated — counts survive
    val cleaned = AgriPipeline.dropInvalid(norm)
    assert(cleaned.count() === 1494547L)
    val deduped = AgriPipeline.dedupNaturalKey(cleaned)
    assert(deduped.count() === 1494547L, "corpus has 0 natural-key dups")

    // A8/A10: partitioned write round-trips; one dir per commodity_key
    val out = graft.Q.scratchDir("real_corpus_out")
    AgriPipeline.writePartitioned(deduped, out, mode = "overwrite")
    val nKeys = norm.select("commodity_key").distinct().count()
    val dirs = new java.io.File(out).listFiles().count(f =>
      f.isDirectory && f.getName.startsWith("commodity_key="))
    assert(dirs.toLong === nKeys)
    assert(spark.read.parquet(out).count() === 1494547L)

    norm.unpersist()
  }

  test("AgriDemo analytics over the real corpus (values pinned via DuckDB)") {
    assume(AgriQueries.corpusPresent, s"no .csv under $crops")
    val corpus = AgriPipeline.dropInvalid(
      AgriPipeline.normalize(AgriPipeline.readCsv(spark, s"$crops/*.csv"))).persist()

    // "what's expensive" cut — top-3 by average modal price, values
    // independently computed with DuckDB over the same CSVs
    val top = graft.examples.AgriDemo.topCommodities(corpus, 3)
      .select(col("commodity"), col("n_quotes"), round(col("avg_modal"), 2).as("avg_r"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(top.toSeq === Seq(
      ("Jasmine", 3L, 133333.33),
      ("Cardamoms", 739L, 112143.63),
      ("Mace", 281L, 84289.04)))

    // window analytics cardinalities: one row per commodity-day /
    // commodity-month present in the corpus
    assert(graft.examples.AgriDemo.movingAvg(corpus).count() === 296587L)
    val mom = graft.examples.AgriDemo.momDelta(corpus).persist()
    assert(mom.count() === 16652L)
    // first month per commodity has no predecessor -> null delta
    assert(mom.filter(col("mom_delta").isNull).count() ===
      corpus.select("commodity").distinct().count())
    mom.unpersist()
    corpus.unpersist()
  }
}
