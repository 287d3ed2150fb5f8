package graft.sinks

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Small-files compaction for parquet directories — the maintenance
  * counterpart of `AgriPipeline.byCommodity`'s note: every micro-batch of
  * a streaming ingest appends one file per touched partition, so a
  * 3-hourly harvest (the reference's cadence, `run.yml:5-6`) accumulates
  * ~2,900 files/partition/year and scan planning starts to dominate query
  * time long before data volume does.
  *
  * `compact` rewrites a directory into ~`targetFileBytes` files (per
  * partition dir when `partitionBy` is given), staging into a sibling
  * temp dir and swapping via two renames.
  *
  * Concurrency contract: SINGLE WRITER, NO CONCURRENT READERS during the
  * swap — between rename(cur -> .compact-old) and rename(staging -> cur)
  * the live path briefly does not exist, so a reader racing the swap can
  * hit path-not-found, and a crash inside the window leaves the data
  * under `.compact-old` (recover by renaming it back). Run it as offline
  * maintenance between query windows. A table that must stay readable
  * while compacting should publish through a pointer instead — that is
  * exactly [[VersionedSink]]'s design (write new snapshot, flip
  * `_LATEST`), at the cost of temporary double storage.
  */
object Compact {

  /** @return (files before, files after) — data content is unchanged. */
  def compact(
      spark: SparkSession,
      dir: String,
      targetFileBytes: Long = 128L * 1024 * 1024,
      partitionBy: Seq[String] = Nil): (Long, Long) = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

    def parquetFiles(p: Path): Seq[org.apache.hadoop.fs.FileStatus] = {
      val it = fs.listFiles(p, true)
      val buf = Seq.newBuilder[org.apache.hadoop.fs.FileStatus]
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet")) buf += f
      }
      buf.result()
    }

    val before = parquetFiles(new Path(dir))
    val totalBytes = before.map(_.getLen).sum
    val nFiles = math.max(1L, (totalBytes + targetFileBytes - 1) / targetFileBytes).toInt

    val df = spark.read.parquet(dir)
    val tmp = dir.stripSuffix("/") + ".compact-staging"
    val writer =
      if (partitionBy.isEmpty) df.coalesce(nFiles).write
      else
        // one shuffle task per partition value: each partition dir is
        // rewritten as a single file run (the same layout discipline as
        // the ingest's pre-write repartition)
        df.repartition(partitionBy.map(org.apache.spark.sql.functions.col): _*)
          .write.partitionBy(partitionBy: _*)
    writer.mode("overwrite").parquet(tmp)

    // two-rename swap: current -> .old, staging -> current, drop .old
    val cur = new Path(dir)
    val old = new Path(dir.stripSuffix("/") + ".compact-old")
    if (fs.exists(old)) fs.delete(old, true)
    if (!fs.rename(cur, old)) throw new java.io.IOException(s"could not retire $cur")
    if (!fs.rename(new Path(tmp), cur)) {
      fs.rename(old, cur) // roll back
      throw new java.io.IOException(s"could not publish $tmp")
    }
    fs.delete(old, true)

    (before.size.toLong, parquetFiles(cur).size.toLong)
  }
}
