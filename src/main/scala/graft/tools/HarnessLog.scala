package graft.tools

/** Log hygiene for the harness session (`graft.Session`).
  *
  * Two Spark loggers WARN unavoidably whenever AQE meets a stateful
  * stream (ResolveWriteToStream re-planning note, MicroBatchExecution's
  * state-store format advisory) — they fire on every stream-twin run and
  * drown the tail in known noise, which makes a NEW warning easy to
  * miss. Muting them here, in the harness mains only, keeps the bench
  * tail empty-by-default (any WARN that still appears is signal —
  * `graft.tools.WarnHunt` attributes it to a query) while library
  * consumers keep Spark's stock logging untouched.
  */
object HarnessLog {

  private val UnavoidableStreamingWarners = Seq(
    "org.apache.spark.sql.execution.streaming.runtime.ResolveWriteToStream",
    "org.apache.spark.sql.execution.streaming.runtime.MicroBatchExecution",
    "org.apache.spark.sql.execution.streaming.runtime.AsyncProgressTrackingMicroBatchExecution",
    // startup-only, environment-determined (no native hadoop libs in
    // this container) — same known-noise rationale
    "org.apache.hadoop.util.NativeCodeLoader",
    // once-per-session notice while reading a plain file glob (the
    // reader checks whether the path is a streaming sink's output)
    "org.apache.spark.sql.execution.streaming.sinks.FileStreamSink",
    // once-per-session notice when a wide plan's debug string is
    // truncated at maxToStringFields — representation, not signal
    "org.apache.spark.util.SparkStringUtils")

  /** Raise the two known streaming warners to ERROR. Call AFTER
    * `setLogLevel` (which resets the root level these loggers inherit). */
  def quietUnavoidableStreamingWarns(): Unit = {
    import org.apache.logging.log4j.Level
    import org.apache.logging.log4j.core.config.Configurator
    UnavoidableStreamingWarners.foreach(Configurator.setLevel(_, Level.ERROR))
  }
}
