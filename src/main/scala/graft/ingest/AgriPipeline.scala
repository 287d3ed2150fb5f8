package graft.ingest

import graft.functions.GraftFunctions.safeName
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Layer-A parity: the reference ingester's ETL semantics
  * (`/root/reference/fetch_data.py`) re-expressed as one idiomatic Spark
  * batch pipeline.
  *
  * Reference behaviors mapped (SURVEY.md §2 Layer A):
  *  - A4 JSON/CSV decode with explicit schema (no inference in prod paths)
  *  - A5 day-first date parse, null on error (`fetch_data.py:149-153`)
  *  - A6 numeric coercion, null on error (`fetch_data.py:154`)
  *  - A7 drop rows lacking Commodity/Modal_Price (`fetch_data.py:156`)
  *  - A9 safe_name partition-key normalization (`fetch_data.py:36-40`)
  *  - A8/A10 value-partitioned append sink (`fetch_data.py:119-128,158-159`)
  *    as `partitionBy(commodity_key)` parquet — dir-per-key, the idiomatic
  *    equivalent of one-CSV-per-commodity
  *  - A3's at-least-once duplicate window repaired by natural-key dedup
  *
  * Scale: the pipeline is a single narrow scan->project->filter chain (no
  * shuffle) until the partitioned write; dedup adds one hash shuffle on
  * the natural key, and the write one more on `commodity_key` into the
  * session's `spark.sql.shuffle.partitions` writer tasks. Partition count
  * on disk = commodity cardinality (~316 in the harvested corpus), one
  * parquet file per partition per landing. A batch landing runs no job
  * after its write: its row count comes from the write itself.
  */
object AgriPipeline {

  /** Raw wire schema — all strings, exactly as the agmarknet API delivers
    * (11 columns, e.g. `/root/reference/data/crops/egg.csv:1`). */
  val rawSchema: StructType = StructType(Seq(
    StructField("State", StringType),
    StructField("District", StringType),
    StructField("Market", StringType),
    StructField("Commodity", StringType),
    StructField("Variety", StringType),
    StructField("Grade", StringType),
    StructField("Arrival_Date", StringType),
    StructField("Min_Price", StringType),
    StructField("Max_Price", StringType),
    StructField("Modal_Price", StringType),
    StructField("Commodity_Code", StringType)))

  /** RFC-4180 CSV read (quoted Market values with commas are in the real
    * corpus) with the explicit raw schema. */
  def readCsv(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("header", "true")
      .option("quote", "\"")
      .option("escape", "\"")
      .option("mode", "PERMISSIVE")
      .schema(rawSchema)
      .csv(path)

  /** JSON page read (A4) with the same explicit schema. */
  def readJson(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(rawSchema).json(path)

  /** Type normalization: day-first dates (null on parse failure), numeric
    * try-casts (null on failure), normalized partition key. */
  def normalize(raw: DataFrame): DataFrame =
    raw.select(
      col("State").as("state"),
      col("District").as("district"),
      col("Market").as("market"),
      col("Commodity").as("commodity"),
      safeName(col("Commodity")).as("commodity_key"),
      col("Variety").as("variety"),
      col("Grade").as("grade"),
      // try_to_date: null on invalid input under any ANSI setting (A5's
      // errors="coerce"). Pandas dayfirst=True (`fetch_data.py:149-153`)
      // is a *preference*, not a strict format — it still absorbs ISO
      // yyyy-MM-dd strings. Coalescing the two formats matches that
      // observed behavior instead of silently nulling ISO rows.
      coalesce(
        expr("try_to_date(Arrival_Date, 'd/M/yyyy')"),
        expr("try_to_date(Arrival_Date, 'yyyy-M-d')")).as("arrival_date"),
      expr("try_cast(Min_Price AS DOUBLE)").as("min_price"),
      expr("try_cast(Max_Price AS DOUBLE)").as("max_price"),
      expr("try_cast(Modal_Price AS DOUBLE)").as("modal_price"),
      expr("try_cast(Commodity_Code AS INT)").as("commodity_code"))

  /** A7: keep only rows with both a commodity and a modal price. */
  def dropInvalid(df: DataFrame): DataFrame =
    df.na.drop(Seq("commodity", "modal_price"))

  /** Natural-key dedup healing A3's crash-between-append-and-checkpoint
    * duplicate window. Deterministic: keeps the row with the lowest
    * modal_price on key ties (stable across retries). */
  def dedupNaturalKey(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val key = Seq("state", "district", "market", "commodity", "variety", "grade", "arrival_date")
    val w = Window.partitionBy(key.map(col): _*)
      .orderBy(col("modal_price").asc_nulls_last, col("min_price").asc_nulls_last)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** The one keyed-writer rule of every agmarknet landing: hash the rows
    * on `commodity_key` into the session's `spark.sql.shuffle.partitions`
    * tasks, so each key lands in exactly one task (one file per key per
    * write) and the writers run in parallel.
    *
    * Without the shuffle every task opens a file for every key it sees
    * (tasks x keys small files per write — the classic partitionBy
    * small-files failure). The count is explicit because AQE coalesces a
    * by-column shuffle of small data into one task, which then writes
    * every partition alone; AQE leaves a shuffle with an explicit count
    * as it is. A pathologically hot key still bottlenecks its one task —
    * salt the key (cf. q36_salted_join) if the corpus develops one.
    */
  private[graft] def byCommodity(df: DataFrame): DataFrame =
    df.repartition(
      df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt, col("commodity_key"))

  /** A8/A10: value-partitioned parquet sink (dir per commodity_key), one
    * file per key per write through [[byCommodity]]. */
  def writePartitioned(df: DataFrame, outDir: String, mode: String = "append"): Unit =
    byCommodity(df).write.mode(mode).partitionBy("commodity_key").parquet(outDir)

  /** Full batch pass: read -> normalize -> filter -> dedup -> write.
    * Returns the rows the landing holds. Under static overwrite that is
    * what the write wrote, counted by an observation on the written frame;
    * under dynamic overwrite (`spark.sql.sources.partitionOverwriteMode`)
    * partitions this write did not touch survive, so the landing is read
    * back. A plan Spark proves empty emits no metric, so a missing count
    * falls back to the read-back too. */
  def runBatch(spark: SparkSession, csvPath: String, outDir: String): Long = {
    val cleaned = dedupNaturalKey(dropInvalid(normalize(readCsv(spark, csvPath))))
    val written = Observation("landed")
    writePartitioned(cleaned.observe(written, count(lit(1)).as("rows")), outDir, mode = "overwrite")
    // the explicit schema makes an empty landing read as 0 rows, where
    // inference fails, and spares the read-back a schema job
    def landed = spark.read.schema(cleaned.schema).parquet(outDir).count()
    if (spark.conf.get("spark.sql.sources.partitionOverwriteMode").equalsIgnoreCase("dynamic")) landed
    else written.get.get("rows").fold(landed)(_.asInstanceOf[Long])
  }
}
