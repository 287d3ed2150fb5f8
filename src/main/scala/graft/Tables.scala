package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Typed loaders for the driver-generated testdata tables (TESTDATA.md).
  *
  * All loads are plain parquet scans so Catalyst keeps full freedom for
  * predicate pushdown, column pruning and partition pruning. No data is
  * cached here — at the 100 TB design point every query must be able to
  * prune at the source, and caching a full scan would defeat that.
  *
  * == Schema memo ==
  * A bare `spark.read.parquet(path)` runs a one-task Spark job to infer
  * the schema from the parquet footers, on every load. Each path's
  * inferred schema is therefore memoized together with a [[Fingerprint]]
  * of what it was inferred from: every leaf file's (name, length, mtime)
  * and the session confs that change parquet schema inference. A load
  * whose fingerprint matches scans with `.schema(memo)` and runs no job;
  * any mismatch (a rewrite at the same path, a session with other confs)
  * re-infers and replaces the entry, so the memo holds one schema per
  * path. The memoized schema is the physical one, so the adaptive
  * decodes below still branch on the type actually stored. The `ts`
  * epoch-unit sniff is memoized on the same fingerprint.
  *
  * == Encoding drift ==
  * The testdata is regenerated between rounds and its physical parquet
  * encodings have drifted before (round 7: `events.ts` went from
  * TIMESTAMP(NANOS) to `timestamp[us]` and killed 21 queries at analysis
  * time). Every format-sensitive column therefore decodes ADAPTIVELY,
  * branching on the physical type actually read — the same tolerance the
  * reference ingester gets from pandas re-inferring dtypes per page
  * (fetch_data.py:146,154) — and fails LOUDLY (IllegalStateException with
  * a `graft:` message naming table.column and the offending type) on an
  * encoding it cannot prove it decodes correctly. The drift matrix each
  * loader accepts is pinned by DriftSpec, which rewrites the live
  * testdata under the alternate encodings and asserts registry queries
  * return identical results.
  */
object Tables {
  def path(dir: String, name: String): String = s"$dir/$name.parquet"

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    scan(spark, path(dir, name))._1

  /** What a path's inferred schema (and `ts` unit) depends on: its leaf
    * files and the inference confs of the reading session. */
  private final case class Fingerprint(files: Seq[(String, Long, Long)], confs: Seq[Boolean])

  private def fingerprint(spark: SparkSession, file: String): Fingerprint = {
    val root = new Path(file)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def leaves(s: FileStatus): Seq[FileStatus] =
      if (s.isDirectory) fs.listStatus(s.getPath).toSeq.flatMap(leaves) else Seq(s)
    // a missing path fingerprints as empty; the inference then raises
    // Spark's own not-found error and nothing is memoized
    val files = (if (fs.exists(root)) leaves(fs.getFileStatus(root)) else Nil)
      .map(s => (s.getPath.toString, s.getLen, s.getModificationTime)).sortBy(_._1)
    val c = spark.sessionState.conf
    Fingerprint(files, Seq(c.legacyParquetNanosAsLong, c.isParquetBinaryAsString,
      c.isParquetINT96AsTimestamp, c.parquetInferTimestampNTZEnabled, c.caseSensitiveAnalysis,
      c.isParquetSchemaMergingEnabled))
  }

  /** The memoized value for `file` if it was computed under `fp`, else
    * `compute` (outside any map lock: it may run a Spark job), stored in
    * place of the stale entry. */
  private def memoized[T](memo: ConcurrentHashMap[String, (Fingerprint, T)], file: String,
      fp: Fingerprint)(compute: => T): T =
    Option(memo.get(file)).collect { case (`fp`, v) => v }.getOrElse {
      val v = compute
      memo.put(file, (fp, v))
      v
    }

  private val schemas = new ConcurrentHashMap[String, (Fingerprint, StructType)]()

  /** A parquet scan of `file` with its footer schema memoized, and the
    * fingerprint that schema was checked against. */
  private def scan(spark: SparkSession, file: String): (DataFrame, Fingerprint) = {
    val fp = fingerprint(spark, file)
    val schema = memoized(schemas, file, fp)(spark.read.parquet(file).schema)
    (spark.read.schema(schema).parquet(file), fp)
  }

  def region(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame     = table(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")

  /** `documents` with its string-family columns normalized: utf8 bytes
    * may arrive as parquet BYTE_ARRAY without the string annotation
    * (pandas object→bytes round trips do this), which Spark surfaces as
    * `binary`. Numeric columns (`doc_id`, `n_chars`) are left at their
    * physical width — int32/int64 drift flows identically into the
    * DuckDB oracle reading the same files, so normalizing them here
    * would CREATE a divergence, not prevent one.
    */
  def documents(spark: SparkSession, dir: String): DataFrame =
    Seq("text", "lang", "source").foldLeft(table(spark, dir, "documents"))(
      (df, c) => normalizedString(df, "documents", c))

  /** `embeddings` with the vector column normalized to an array of
    * doubles whatever the physical encoding: `array<float>` (current
    * testdata) and `array<double>` widen exactly; a JSON string/binary
    * column (`"[0.1, -0.2, ...]"`) parses to the same doubles. Float →
    * double is an exact widening, so every downstream consumer (dot
    * products, LSH projections, PQ) sees bit-identical values across
    * encodings — asDouble at the use sites stays a no-op cast.
    */
  def embeddings(spark: SparkSession, dir: String): DataFrame = {
    val df = table(spark, dir, "embeddings")
    requireColumn(df, "embeddings", "embedding")
    df.schema("embedding").dataType match {
      case ArrayType(_: NumericType, _) => df
      case StringType =>
        df.withColumn("embedding", from_json(col("embedding"), ArrayType(DoubleType)))
      case BinaryType =>
        df.withColumn("embedding",
          from_json(col("embedding").cast(StringType), ArrayType(DoubleType)))
      case other => throw drift("embeddings", "embedding", other,
        "array<numeric>, json string, or utf8 binary")
    }
  }

  /** Schema-adaptive `events` load: `ts` decodes per [[eventsTs]] and
    * `props` (a flat JSON object in the current testdata) normalizes to
    * its JSON-string form if the driver ever re-encodes it as a parquet
    * map/struct — `from_json`/`get_json_object` downstream only accept
    * strings, and `to_json` of the parsed value is extraction-equivalent
    * to the original text (key order and whitespace never reach a query
    * result).
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val (scanned, fp) = scan(spark, path(dir, "events"))
    val df = eventsTs(scanned, path(dir, "events"), fp)
    if (!df.columns.contains("props")) df
    else df.schema("props").dataType match {
      case StringType => df
      case BinaryType => df.withColumn("props", col("props").cast(StringType))
      case _: MapType | _: StructType => df.withColumn("props", to_json(col("props")))
      case other => throw drift("events", "props", other,
        "json string, utf8 binary, map, or struct")
    }
  }

  /** The `ts` decode. The driver has shipped TIMESTAMP(NANOS) (surfaced
    * as `long` under `spark.sql.legacy.parquet.nanosAsLong=true` — Spark
    * rejects NANOS otherwise) and `timestamp[us]`/TIMESTAMP_NTZ across
    * rounds:
    *
    *  - `LongType`: a bare epoch long is ambiguous (nanos? micros?
    *    millis? seconds?), so the unit is decided ONCE PER LOAD from the
    *    column's min/max (one tiny agg, memoized per file fingerprint
    *    like the schema — and free entirely when the physical type is a
    *    real timestamp, i.e. the current testdata). Magnitude bands are
    *    unambiguous for instants in [1973, 2281): nanos > 1e16, micros >
    *    1e13, millis > 1e10, else seconds. Min and max must land in the
    *    SAME band and both must decode inside [1973-01-01, 2281-01-01) —
    *    otherwise the load throws with the offending values rather than
    *    silently mis-decoding (a micros value from 1971 sits in the
    *    blind band below 1e13 where it would misread as millis; refusing
    *    loudly beats guessing). Deciding per load rather than per row
    *    also means a column can never come back with MIXED units.
    *    Integral division truncates the nanos tail toward the epoch,
    *    matching DuckDB's `CAST(ts_ns AS TIMESTAMP)`.
    *  - `TimestampType` / `TimestampNTZType` / anything castable: cast to
    *    session-TZ `TimestampType`. Sessions pin UTC, so the NTZ cast is
    *    value-preserving and keeps `date_format`/`window` oracle parity.
    */
  private def eventsTs(df: DataFrame, file: String, fp: Fingerprint): DataFrame =
    df.schema("ts").dataType match {
      case LongType =>
        val decode = memoized(epochUnits, file, fp)(sniffEpochUnit(df, file)) match {
          case "ns" => expr("timestamp_micros(ts div 1000)")
          case "us" => expr("timestamp_micros(ts)")
          case "ms" => expr("timestamp_millis(ts)")
          case "s"  => expr("timestamp_seconds(ts)")
        }
        df.withColumn("ts", decode)
      case _ =>
        df.withColumn("ts", col("ts").cast(TimestampType))
    }

  private val epochUnits = new ConcurrentHashMap[String, (Fingerprint, String)]()

  // The supported instant range, in micros. Above 2281 the nanos and
  // micros bands overlap (1e16 us ≈ year 2286); below 1973 the bands
  // under-read by one unit (e.g. 1971 as micros < 1e13 misreads as
  // millis), so both ends fail loudly instead.
  private val MinMicros = java.time.LocalDate.of(1973, 1, 1).toEpochDay * 86400L * 1000000L
  private val MaxMicros = java.time.LocalDate.of(2281, 1, 1).toEpochDay * 86400L * 1000000L

  private def sniffEpochUnit(df: DataFrame, file: String): String = {
    val r = df.agg(min(col("ts")), max(col("ts"))).head()
    if (r.isNullAt(0)) return "us" // empty / all-null: unit is irrelevant
    val (mn, mx) = (r.getLong(0), r.getLong(1))
    def band(v: Long): String =
      if (v > 10000000000000000L) "ns"
      else if (v > 10000000000000L) "us"
      else if (v > 10000000000L) "ms"
      else "s"
    val unit = band(mx)
    if (band(mn) != unit) throw new IllegalStateException(
      s"graft: $file ts values straddle epoch-unit magnitude bands " +
        s"(min=$mn reads as ${band(mn)}, max=$mx reads as $unit) — mixed units or " +
        "corrupt data; refusing to guess a decode")
    def toMicros(v: Long): Long = unit match {
      case "ns" => v / 1000L
      case "us" => v
      case "ms" => v * 1000L
      case "s"  => v * 1000000L
    }
    if (toMicros(mn) < MinMicros || toMicros(mx) >= MaxMicros) throw new IllegalStateException(
      s"graft: $file ts range [$mn, $mx] decoded as $unit falls outside the " +
        "supported [1973-01-01, 2281-01-01) instant range where the magnitude " +
        "bands are unambiguous — failing loudly instead of silently mis-decoding")
    unit
  }

  private def requireColumn(df: DataFrame, table: String, name: String): Unit =
    if (!df.columns.contains(name)) throw new IllegalStateException(
      s"graft: $table is missing expected column '$name' " +
        s"(physical schema: ${df.schema.simpleString})")

  private def normalizedString(df: DataFrame, table: String, name: String): DataFrame = {
    requireColumn(df, table, name)
    df.schema(name).dataType match {
      case StringType => df
      case BinaryType => df.withColumn(name, col(name).cast(StringType))
      case other => throw drift(table, name, other, "string or utf8 binary")
    }
  }

  private def drift(table: String, column: String, got: DataType, accepted: String) =
    new IllegalStateException(
      s"graft: $table.$column has physical type ${got.simpleString}; this loader " +
        s"accepts $accepted — extend Tables.$table if the testdata encoding " +
        "legitimately changed")
}
