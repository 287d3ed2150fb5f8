package probe

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import graft.ingest.AgriPipeline
import graft.streaming.StreamingJobs

/** Per-stage table of one `AgriPipeline.runBatch` and one
  * `StreamingJobs.ingestStream` run over one page set, on the session
  * confs of `perfbench.Main` (local[n], n shuffle partitions, UTC).
  *
  * Not part of the build: copy it under `src/main/scala/probe/` of a
  * checkout and run
  *
  *     sbt "runMain probe.StageProbe PAGES_DIR WORK_DIR 4"
  *
  * with PAGES_DIR holding `s00_p*.csv` pages from `perfbench/gen.py`
  * (`make_pages(dir, 11, 1)`). Each operation runs three times; the
  * third is recorded, so the JIT and the codegen cache are warm. */
object StageProbe {

  final case class Stage(job: Int, stage: Int, name: String, tasks: Int, wallMs: Long, busyMs: Long)

  def main(args: Array[String]): Unit = {
    val Array(pages, work, cores) = args
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.plans.GraftExtensions.ensureRegistered(spark)

    val stageJob = mutable.Map[Int, Int]()
    val markerJobs = mutable.Set[Int]()
    val stages = mutable.Buffer[Stage]()
    val busy = mutable.Map[Int, Long]().withDefaultValue(0L)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
        e.stageIds.foreach(s => stageJob(s) = e.jobId)
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == "probe-marker"))
          markerJobs += e.jobId
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
        if (e.taskMetrics != null) busy(e.stageId) += e.taskMetrics.executorRunTime
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
        val i = e.stageInfo
        stages += Stage(stageJob.getOrElse(i.stageId, -1), i.stageId, i.name, i.numTasks,
          i.completionTime.getOrElse(0L) - i.submissionTime.getOrElse(0L), busy(i.stageId))
      }
    }

    def recorded(label: String)(op: Int => Unit): Unit = {
      op(1); op(2)
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      op(3)
      val wall = (System.nanoTime() - t0) / 1e6
      // a marker job flushes the asynchronous bus before the table is read
      spark.sparkContext.setJobGroup("probe-marker", "marker", interruptOnCancel = false)
      spark.sparkContext.parallelize(Seq(1), 1).count()
      spark.sparkContext.clearJobGroup()
      while (listener.synchronized(!stages.exists(s => markerJobs(s.job)))) Thread.sleep(10)
      spark.sparkContext.removeSparkListener(listener)
      val own = listener.synchronized(stages.toList.filterNot(s => markerJobs(s.job)))
      println(s"\n### $label: ${"%.0f".format(wall)} ms wall, ${own.map(_.job).distinct.size} jobs, " +
        s"${own.map(_.tasks).sum} tasks\n")
      println("| job | stage | name | tasks | stage wall ms | task busy ms |")
      println("|---|---|---|---|---|---|")
      own.foreach(s => println(s"| ${s.job} | ${s.stage} | ${s.name} | ${s.tasks} | ${s.wallMs} | ${s.busyMs} |"))
      listener.synchronized { stages.clear(); busy.clear(); markerJobs.clear() }
    }

    recorded("runBatch") { i =>
      val rows = AgriPipeline.runBatch(spark, s"$pages/s00_*.csv", s"$work/batch$i")
      if (i == 3) println(s"runBatch returned $rows rows")
    }
    recorded("ingestStream") { i =>
      StreamingJobs.ingestStream(spark, pages, s"$work/stream$i", s"$work/ckpt$i").awaitTermination()
      if (i == 3) {
        val files = Files.walk(Paths.get(s"$work/stream$i")).toArray.map(_.toString)
          .count(p => p.contains("commodity_key=") && p.endsWith(".parquet"))
        println(s"ingestStream landed $files part files")
      }
    }
    spark.stop()
  }
}
