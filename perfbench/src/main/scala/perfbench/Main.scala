package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{QueryRegistry, Tables}
import graft.ingest.AgriPipeline
import graft.streaming.StreamingJobs

/** The benchmark's JVM side. `run.py` builds the inputs, launches this
  * main once per run and turns the raw record it writes (`--out`) into the
  * benchmark's metrics; all statistics and output checks that need no
  * Spark live there.
  *
  * One run: a timed cold session set-up, one warm pass (timed as part of
  * set-up), then whole timed passes until `--seconds` have elapsed (at
  * least `--passes`), in a closed loop with one client. Every
  * operation records its wall time and the process CPU time it used. With
  * `--trace 1` one more pass runs with the layer listeners installed,
  * followed by the direct `Tables.*` and noop-sink timings; none of that
  * touches the untraced passes.
  *
  * `--mode dump` runs one pass and writes every query's output as parquet
  * for the oracle compare that pins `golden.json`. */
object Main {

  final case class Op(name: String, seconds: Double, cpu: Double, ok: Boolean, error: String = "",
                      digest: String = "", rows: Long = 0L, buildSeconds: Double = 0.0)
  final case class Pass(seconds: Double, cpu: Double, ops: Seq[Op], extra: Map[String, Any] = Map.empty)

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds used by the whole process so far: Spark's task threads,
    * the driver, and the JIT and GC threads working for them. */
  def cpuSeconds(): Double = os.getProcessCpuTime / 1e9

  /** Wall and CPU seconds since construction. */
  final class Stopwatch {
    private val t0 = System.nanoTime()
    private val c0 = cpuSeconds()
    def seconds: Double = (System.nanoTime() - t0) / 1e9
    def cpu: Double = cpuSeconds() - c0
  }

  def main(args: Array[String]): Unit = {
    val mainEntered = System.currentTimeMillis()
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seconds = opt("seconds").toDouble
    val traced = opt.getOrElse("trace", "0") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    val nproc = opt("nproc")
    graft.tools.HarnessLog.quietUnavoidableStreamingWarns()

    val setup = new Stopwatch
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .config("spark.sql.shuffle.partitions", nproc)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.tools.HarnessLog.quietUnavoidableStreamingWarns()
    graft.plans.GraftExtensions.ensureRegistered(spark)
    val sessionSeconds = setup.seconds

    val runner: Runner = workload match {
      case "ingest" => new IngestRunner(spark, opt("pages"), opt("sets").split(',').toSeq, work)
      case _ => new QueryRunner(spark, opt("data"), opt("ops").split(',').toSeq)
    }

    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> workload,
      "jvm_start_s" -> (mainEntered - opt("launch-ms").toLong) / 1e3,
      "session_setup_s" -> sessionSeconds)

    if (opt.getOrElse("mode", "bench") == "dump") {
      val pass = runner.pass("dump", None)
      runner.dump(opt("dump"))
      record("passes") = Seq(passRecord(pass))
    } else {
      record("warm_s") = runner.pass("warm", None).seconds
      val passes = mutable.Buffer[Pass]()
      val timed = new Stopwatch
      while (passes.size < opt("passes").toInt || timed.seconds < seconds)
        passes += runner.pass(s"p${passes.size}", None)
      record("passes") = passes.map(passRecord).toSeq
      if (traced) {
        val trace = new Trace(spark)
        trace.install()
        val before = trace.snapshot()
        val pass = runner.pass("traced", Some(trace))
        val during = Trace.delta(trace.snapshot(), before)
        val layers = mutable.LinkedHashMap[String, Any]()
        layers ++= during.filterNot(_._1.startsWith("jobs."))
        layers("queries.build_jobs") = during.getOrElse("jobs.build", 0.0)
        layers("queries.build_s") = pass.ops.map(_.buildSeconds).sum
        layers("operators.cache_mb_peak") = trace.cachePeakMb
        layers ++= runner.layerExtras(trace, pass)
        trace.uninstall()
        record("traced_pass") = passRecord(pass)
        record("layers") = layers
      }
    }
    record("peak_rss_mb") = peakRssMb()
    spark.stop()
    Files.writeString(Paths.get(opt("out")), json(record))
  }

  private def json(v: Any): String = new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(v)

  private def passRecord(p: Pass): Map[String, Any] = Map(
    "seconds" -> p.seconds, "cpu" -> p.cpu,
    "ops" -> p.ops.map(o => Map("name" -> o.name, "s" -> o.seconds, "cpu" -> o.cpu, "ok" -> o.ok,
      "error" -> o.error, "digest" -> o.digest, "rows" -> o.rows))) ++ p.extra

  /** The process's peak resident set (VmHWM), in MB. */
  private def peakRssMb(): Double = {
    val status = Paths.get("/proc/self/status")
    if (!Files.exists(status)) return Double.NaN
    Files.readAllLines(status).asScala.find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(Double.NaN)
  }

  private def errorText(e: Throwable): String =
    (e.getClass.getSimpleName + ": " + Option(e.getMessage).getOrElse(""))
      .replaceAll("\\s+", " ").take(300)

  sealed trait Runner {
    def pass(label: String, trace: Option[Trace]): Pass
    def layerExtras(trace: Trace, traced: Pass): Map[String, Double]
    def dump(dir: String): Unit = ()
  }

  /** Registry queries in the given order, each one build
    * (`QueryRegistry.byName(..).run`) plus `collect()`. */
  final class QueryRunner(spark: SparkSession, data: String, names: Seq[String]) extends Runner {
    private val last = mutable.Map[String, DataFrame]()

    def pass(label: String, trace: Option[Trace]): Pass = {
      def phase[T](p: String)(body: => T): T = trace.fold(body)(_.inPhase(p)(body))
      val whole = new Stopwatch
      val results = names.map { name =>
        val op = new Stopwatch
        var built = 0.0
        try {
          val df = phase("build")(QueryRegistry.byName(name).run(spark, data))
          built = op.seconds
          val rows = phase("action")(df.collect())
          (Op(name, op.seconds, op.cpu, ok = true, rows = rows.length.toLong, buildSeconds = built),
            Some(df.schema -> rows))
        } catch {
          case e: Throwable =>
            (Op(name, op.seconds, op.cpu, ok = false, error = errorText(e), buildSeconds = built), None)
        }
      }
      val (secs, cpu) = (whole.seconds, whole.cpu)
      // the outputs are digested after the pass, outside its timings
      val ops = results.map {
        case (op, Some((schema, rows))) =>
          if (label == "dump") last(op.name) = spark.createDataFrame(rows.toSeq.asJava, schema)
          op.copy(digest = Digest.of(schema, rows))
        case (op, None) => op
      }
      Pass(secs, cpu, ops)
    }

    /** Direct, timed calls of every `Tables` loader: the per-load cost
      * (schema inference and decode set-up) a query pays for each table
      * it reads. Median of three calls per loader, summed. */
    def layerExtras(trace: Trace, traced: Pass): Map[String, Double] = {
      val loaders: Seq[(SparkSession, String) => DataFrame] = Seq(
        Tables.region, Tables.nation, Tables.customer, Tables.supplier, Tables.part,
        Tables.orders, Tables.lineitem, Tables.events, Tables.documents, Tables.embeddings)
      val perLoader = loaders.map { load =>
        val calls = (1 to 3).map { _ =>
          val before = trace.snapshot()
          val t = new Stopwatch
          trace.inPhase("tables")(load(spark, data))
          val secs = t.seconds
          (secs, Trace.delta(trace.snapshot(), before).getOrElse("jobs.tables", 0.0))
        }
        (calls.map(_._1).sorted.apply(1), calls.map(_._2).sorted.apply(1))
      }
      Map("tables.load_s" -> perLoader.map(_._1).sum, "tables.load_jobs" -> perLoader.map(_._2).sum)
    }

    override def dump(dir: String): Unit = {
      last.foreach { case (name, df) => df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name") }
      val oracles = names.flatMap(n => QueryRegistry.byName(n).oracle.map(sql => n -> sql.stripMargin.trim)).toMap
      Files.writeString(Paths.get(dir, "oracle_sql.json"), json(oracles))
    }
  }

  /** `ingest`: each page set landed by `AgriPipeline.runBatch`, then every
    * page landed again by one `StreamingJobs.ingestStream` run (a
    * micro-batch per eight pages). Each batch landing and the stream run
    * are one operation each; the micro-batch durations are kept for the
    * streaming layer. Outputs stay on disk for `run.py`'s checks. */
  final class IngestRunner(spark: SparkSession, pages: String, sets: Seq[String], work: Path)
      extends Runner {
    private def out(label: String): Path = work.resolve("landing").resolve(label)

    def pass(label: String, trace: Option[Trace]): Pass = {
      val whole = new Stopwatch
      val batchOps = sets.map { set =>
        val op = new Stopwatch
        try {
          val rows = AgriPipeline.runBatch(spark, s"$pages/${set}_*.csv", out(label).resolve(s"batch/$set").toString)
          Op(s"batch:$set", op.seconds, op.cpu, ok = true, rows = rows)
        } catch {
          case e: Throwable => Op(s"batch:$set", op.seconds, op.cpu, ok = false, error = errorText(e))
        }
      }
      val op = new Stopwatch
      val (streamOp, progress) = try {
        val q = StreamingJobs.ingestStream(spark, pages, out(label).resolve("stream").toString,
          out(label).resolve("checkpoint").toString)
        q.awaitTermination()
        val ps = q.recentProgress.filter(_.numInputRows > 0).toSeq
        (Op("stream", op.seconds, op.cpu, ok = true, rows = ps.map(_.numInputRows).sum), ps)
      } catch {
        case e: Throwable => (Op("stream", op.seconds, op.cpu, ok = false, error = errorText(e)), Nil)
      }
      val durations = Seq("addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset")
        .map(k => s"streaming.${k}_ms" -> progress.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)).sum)
      Pass(whole.seconds, whole.cpu, batchOps :+ streamOp,
        Map("landing" -> out(label).toString,
          "microbatch_s" -> progress.map(_.durationMs.get("triggerExecution").toDouble / 1e3),
          "streaming" -> (durations.toMap + ("streaming.batches" -> progress.size.toDouble))))
    }

    /** The batch pipeline up to dedup, into Spark's `noop` sink: what
      * `runBatch` costs before the partitioned write. */
    def layerExtras(trace: Trace, traced: Pass): Map[String, Double] = {
      val transform = sets.map { set =>
        val cleaned = AgriPipeline.dedupNaturalKey(AgriPipeline.dropInvalid(
          AgriPipeline.normalize(AgriPipeline.readCsv(spark, s"$pages/${set}_*.csv"))))
        val t = new Stopwatch
        cleaned.write.format("noop").mode("overwrite").save()
        t.seconds
      }.sum
      val rowsIn = AgriPipeline.readCsv(spark, s"$pages/*.csv").count().toDouble
      val batch = traced.ops.filter(_.name.startsWith("batch:"))
      val streaming = traced.extra("streaming").asInstanceOf[Map[String, Double]]
      Map("ingest.transform_s" -> transform,
        "ingest.rows_in" -> rowsIn,
        "ingest.rows_out" -> batch.map(_.rows).sum.toDouble,
        "sinks.write_s" -> (batch.map(_.seconds).sum - transform)) ++ streaming
    }
  }
}
