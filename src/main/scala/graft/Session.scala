package graft

import org.apache.spark.sql.SparkSession

/** The session every harness main runs in (Bench, Verify, the tools and
  * the examples), so they all read the same environment the same way:
  *
  *  - `SPARK_GRAFT_CPUS` (default 4): `local[n]` and n shuffle partitions;
  *  - `SPARK_GRAFT_EXTRA_CONF`: comma-separated `key=value` confs for A/B
  *    runs (e.g. `spark.graft.eagerAgg.enabled=false`), applied after the
  *    defaults so an experiment can move any of them.
  *
  * The defaults: UTC session time zone, no UI, and TIMESTAMP(NANOS)
  * parquet read as long. events.ts encoding drifts between testdata
  * regenerations; that last conf keeps the nanos variant readable while
  * `Tables.events` adapts to whichever encoding is live.
  */
object Session {

  /** `(master, confs in the order applied)` for an environment. */
  private[graft] def settings(env: Map[String, String]): (String, Seq[(String, String)]) = {
    val cpus = env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val extra = env.get("SPARK_GRAFT_EXTRA_CONF").toSeq
      .flatMap(_.split(',')).filter(_.contains("="))
      .map { kv => val Array(k, v) = kv.split("=", 2); (k.trim, v.trim) }
    (s"local[$cpus]", Seq(
      "spark.sql.shuffle.partitions" -> cpus,
      "spark.ui.enabled" -> "false",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true") ++ extra)
  }

  /** The harness session, logging at WARN with the known-unavoidable
    * warners muted (see [[graft.tools.HarnessLog]]). */
  def harness(): SparkSession = {
    graft.tools.HarnessLog.quietUnavoidableStreamingWarns()
    val (master, confs) = settings(sys.env)
    val spark = confs.foldLeft(SparkSession.builder().master(master)) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // re-assert: setLogLevel resets the root level these loggers inherit
    graft.tools.HarnessLog.quietUnavoidableStreamingWarns()
    spark
  }
}
