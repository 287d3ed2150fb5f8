package graft.streaming

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit, pmod}
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, Trigger}
import org.apache.spark.sql.types.StructType

/** One deterministic replay-and-drain run of a stream twin
  * ([[graft.queries.StreamTwinQueries]]). The frames a twin feeds it land
  * as files in call order, a file-source stream reads them back one file
  * per micro-batch, and an AvailableNow drain lands it in a sink the
  * twin reads back.
  *
  * Each run owns one scratch dir: `src/` holds the replay files, `sink/`
  * and `ckpt/` the Append drain's file sink and checkpoint, and `stage/`
  * the single-file writes before they move into `src/`.
  */
private[graft] final class StreamReplay(s: SparkSession, name: String) {
  private val root = graft.Q.scratchDir(name)
  private val src = s"$root/src"
  private val sink = s"$root/sink"
  private val ckpt = s"$root/ckpt"
  Files.createDirectories(Paths.get(src))
  private var files = 0
  private var schema: StructType = _

  /** Append `df` to the replay as exactly ONE flat parquet file (the file
    * source does not recurse into non-partition subdirs) with a forced
    * modification time one second per earlier file into a fixed base —
    * the file source lists by mod time, so the replay order is the call
    * order however fast the writes ran. The first file's schema is the
    * stream's. */
  def write(df: DataFrame): Unit = {
    val stage = s"$root/stage/$files"
    df.coalesce(1).write.parquet(stage)
    val part = Files.list(Paths.get(stage)).filter(_.getFileName.toString.endsWith(".parquet"))
      .findFirst().orElseThrow(() => new IllegalStateException(s"no parquet part in $stage"))
    val dest = Paths.get(src, s"$files.parquet")
    Files.move(part, dest)
    Files.setLastModifiedTime(dest, FileTime.fromMillis(1700000000000L + files * 1000L))
    if (schema == null) schema = df.schema
    files += 1
  }

  /** The parity split: `df` as two files, even `key` first. */
  def writeHalves(df: DataFrame, key: String): Unit =
    (0 until 2).foreach(i => write(StreamReplay.half(df, key, i)))

  /** The replay as a file source, one file per micro-batch. */
  def stream: DataFrame =
    s.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)

  /** Drain `out` into the parquet file sink under this run's checkpoint.
    * A second call resumes on the same checkpoint and reads only the
    * files written since. */
  def drainAppend(out: DataFrame): Unit =
    drain(out.writeStream.format("parquet")
      .option("path", sink).option("checkpointLocation", ckpt), OutputMode.Append)

  /** What the Append drains committed. Separate from [[drainAppend]] so
    * a restart's first drain pays no read (the read infers the schema
    * in a Spark job). */
  def sinkRows: DataFrame = s.read.parquet(sink)

  /** Drain `out` into a fresh memory-sink table and return it. */
  def drainComplete(out: DataFrame): DataFrame = {
    val table = s"${name}_${StreamReplay.tables.incrementAndGet()}"
    drain(out.writeStream.format("memory").queryName(table), OutputMode.Complete)
    s.table(table)
  }

  /** Run the drain with `spark.sql.shuffle.partitions` scoped down to 2.
    * A stateful streaming query snapshots its state-store partition count
    * from the shuffle-partition conf at query START — at the harness
    * default (`SPARK_GRAFT_CPUS`, 4 unless set) these few-thousand-row
    * twins would checkpoint one state partition per core (a delta file +
    * maintenance each) per micro-batch, which is pure fixed cost. The
    * twins' outputs are exact set/aggregate semantics, invariant to
    * partitioning; only wall-clock changes. The previous value is always
    * restored so batch queries keep the session-wide parallelism. */
  private def drain(w: DataStreamWriter[Row], mode: OutputMode): Unit = {
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, "2")
    try w.trigger(Trigger.AvailableNow()).outputMode(mode).start().awaitTermination()
    finally s.conf.set(key, prev)
  }
}

private[graft] object StreamReplay {

  /** The rows of `df` whose `key` has parity `i`. */
  def half(df: DataFrame, key: String, i: Int): DataFrame =
    df.filter(pmod(col(key), lit(2)) === i)

  /** Memory-sink table names must be unique per drain within a session
    * (Bench's min-of-2, the registry sweeps): a monotonic suffix, not a
    * timestamp, so nothing data-affecting varies between runs. */
  private val tables = new AtomicInteger(0)
}
