package graft.examples

import graft.ingest.AgriPipeline
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The migration path for a user of the reference repo, end to end:
  * harvest (paged source) -> normalize -> partitioned price corpus ->
  * the analytics the reference's corpus exists to serve (its
  * requirements.txt ships scikit-learn but `fetch_data.py` never gets
  * there — this is the analytical stage it was building toward).
  *
  * Run: sbt "runMain graft.examples.AgriDemo [nRecords] [outDir]"
  */
object AgriDemo {

  /** Harvest via the DSv2 paged source and land the partitioned corpus. */
  def harvest(spark: SparkSession, nRecords: Long, outDir: String): DataFrame = {
    val raw = spark.read.format("graft.sources.PagedSource")
      .option("max_offset", nRecords)
      .option("page_size", 1000)
      .option("num_partitions", 16)
      .load()
    val cleaned = AgriPipeline.dedupNaturalKey(
      AgriPipeline.dropInvalid(AgriPipeline.normalize(raw)))
    AgriPipeline.writePartitioned(cleaned, outDir, mode = "overwrite")
    spark.read.parquet(outDir)
  }

  /** Top commodities by average modal price (the "what's expensive" cut). */
  def topCommodities(corpus: DataFrame, k: Int): DataFrame =
    corpus.groupBy(col("commodity"))
      .agg(
        count(lit(1)).as("n_quotes"),
        sum(col("modal_price").cast(DecimalType(18, 2))).cast(DoubleType).as("total"),
        (sum(col("modal_price").cast(DecimalType(18, 2))).cast(DoubleType) / count(lit(1)))
          .as("avg_modal"))
      .orderBy(col("avg_modal").desc, col("commodity"))
      .limit(k)

  /** 7-day moving average of daily mean modal price per commodity. */
  def movingAvg(corpus: DataFrame): DataFrame = {
    val daily = corpus.groupBy(col("commodity"), col("arrival_date"))
      .agg(sum(col("modal_price").cast(DecimalType(18, 2))).as("day_sum"),
        count(lit(1)).as("day_n"))
    val w = Window.partitionBy(col("commodity")).orderBy(col("arrival_date")).rowsBetween(-6, 0)
    daily.select(
      col("commodity"), col("arrival_date"),
      (sum(col("day_sum")).over(w).cast(DoubleType) / sum(col("day_n")).over(w))
        .as("mov_avg_price"))
  }

  /** Month-over-month average-price delta per commodity (lag window). */
  def momDelta(corpus: DataFrame): DataFrame = {
    val monthly = corpus
      .groupBy(col("commodity"), date_trunc("month", col("arrival_date")).cast(DateType).as("month"))
      .agg((sum(col("modal_price").cast(DecimalType(18, 2))).cast(DoubleType) / count(lit(1)))
        .as("avg_price"))
    val w = Window.partitionBy(col("commodity")).orderBy(col("month"))
    monthly.select(
      col("commodity"), col("month"), col("avg_price"),
      (col("avg_price") - lag(col("avg_price"), 1).over(w)).as("mom_delta"))
  }

  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toLong else 100000L
    val out = if (args.length > 1) args(1)
      else java.nio.file.Files.createTempDirectory("agri_corpus").toString
    val spark = graft.Session.harness()
    val t0 = System.nanoTime()
    val corpus = harvest(spark, n, out)
    val landed = corpus.count()
    println(f"harvested $landed rows into $out in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    topCommodities(corpus, 5).show(false)
    movingAvg(corpus).orderBy(col("commodity"), col("arrival_date")).show(5, false)
    momDelta(corpus).orderBy(col("commodity"), col("month")).show(5, false)
    spark.stop()
  }
}
