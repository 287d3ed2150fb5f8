package graft

import java.nio.file.Files
import java.sql.Timestamp

import graft.streaming.StreamingJobs
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

/** Streaming surface (B33-B38) exercised with Trigger.AvailableNow +
  * memory sinks — the batch-drain idiom the round harness can run
  * without long-lived queries.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String) = graft.Q.scratchDir(prefix)

  /** AvailableNow queries drain and stop on their own; await that with a
    * generous budget and FAIL LOUDLY on timeout. The old bare
    * `awaitTermination(60000)` discarded the boolean: under a loaded host
    * a slow drain silently fell through to the assertions with partial
    * output while the query kept running in the background — an
    * undiagnosable flake instead of a clear timeout message. */
  private def awaitDone(q: org.apache.spark.sql.streaming.StreamingQuery): Unit =
    assert(q.awaitTermination(300000), "streaming query did not terminate within 300s")

  test("checkpointed CSV ingest stream lands partitioned parquet (B33)") {
    val src = tmp("stream_src")
    val fixture = getClass.getResource("/agri_fixture.csv").getPath
    Files.copy(java.nio.file.Paths.get(fixture), java.nio.file.Paths.get(s"$src/page0.csv"))
    val out = tmp("stream_out")
    val ckpt = tmp("stream_ckpt")

    val q = StreamingJobs.ingestStream(spark, src, out, ckpt)
    awaitDone(q)
    val landed = spark.read.parquet(out)
    assert(landed.count() === 8) // dropInvalid applied in-stream
    assert(landed.filter(col("commodity_key") === "apple").count() === 2)

    // restart with no new files: checkpoint prevents re-ingest
    val q2 = StreamingJobs.ingestStream(spark, src, out, ckpt)
    awaitDone(q2)
    assert(spark.read.parquet(out).count() === 8)
  }

  test("foreachBatch sink lands dynamic-overwrite partitions") {
    val src = tmp("fb_src")
    val fixture = getClass.getResource("/agri_fixture.csv").getPath
    Files.copy(java.nio.file.Paths.get(fixture), java.nio.file.Paths.get(s"$src/page0.csv"))
    val out = tmp("fb_out")
    val ckpt = tmp("fb_ckpt")
    val q = StreamingJobs.ingestForeachBatch(spark, src, out, ckpt)
    awaitDone(q)
    val landed = spark.read.parquet(out)
    assert(landed.count() === 8)
    assert(landed.select("__batch_id").distinct().count() === 1)
    assert(landed.filter(col("commodity_key") === "apple").count() === 2)
  }

  test("foreachBatch: a later batch with an overlapping commodity does not delete earlier rows") {
    val src = tmp("fb2_src")
    val fixture = getClass.getResource("/agri_fixture.csv").getPath
    Files.copy(java.nio.file.Paths.get(fixture), java.nio.file.Paths.get(s"$src/page0.csv"))
    val out = tmp("fb2_out")
    val ckpt = tmp("fb2_ckpt")
    awaitDone(StreamingJobs.ingestForeachBatch(spark, src, out, ckpt))
    val afterBatch0 = spark.read.parquet(out).count()
    assert(afterBatch0 === 8)

    // batch 1: new file containing Apple again — overlaps batch 0's
    // commodity. Under commodity-only overwrite this would wipe batch 0's
    // apple rows; batch-scoped partitions must keep both.
    val page1 =
      """State,District,Market,Commodity,Variety,Grade,Arrival_Date,Min_Price,Max_Price,Modal_Price,Commodity_Code
        |Karnataka,Mysore,Mysore Mkt,Apple,Delicious,Medium,16/01/2020,7100,8100,7600,17""".stripMargin
    Files.writeString(java.nio.file.Paths.get(s"$src/page1.csv"), page1)
    awaitDone(StreamingJobs.ingestForeachBatch(spark, src, out, ckpt))

    val landed = spark.read.parquet(out)
    assert(landed.count() === afterBatch0 + 1, "earlier batch rows were lost")
    assert(landed.filter(col("commodity_key") === "apple").count() === 3)
    assert(landed.select("__batch_id").distinct().count() === 2)
  }

  test("streaming ingest commits accumulated versioned snapshots (A14 x B33)") {
    import graft.sinks.VersionedSink
    val src = tmp("vs_src")
    val fixture = getClass.getResource("/agri_fixture.csv").getPath
    Files.copy(java.nio.file.Paths.get(fixture), java.nio.file.Paths.get(s"$src/page0.csv"))
    val table = tmp("vs_table") + "/corpus"
    val ckpt = tmp("vs_ckpt")
    awaitDone(StreamingJobs.ingestVersionedSnapshots(spark, src, table, ckpt))
    assert(VersionedSink.latestVersion(spark, table) === Some(0L))
    assert(VersionedSink.read(spark, table).count() === 8)

    // second harvest run: snapshot accumulates, history retained
    val page1 =
      """State,District,Market,Commodity,Variety,Grade,Arrival_Date,Min_Price,Max_Price,Modal_Price,Commodity_Code
        |Karnataka,Mysore,Mysore Mkt,Apple,Delicious,Medium,16/01/2020,7100,8100,7600,17""".stripMargin
    Files.writeString(java.nio.file.Paths.get(s"$src/page1.csv"), page1)
    awaitDone(StreamingJobs.ingestVersionedSnapshots(spark, src, table, ckpt))
    assert(VersionedSink.latestVersion(spark, table) === Some(1L))
    assert(VersionedSink.read(spark, table).count() === 9)
    // the pre-run corpus state is still readable and restorable
    assert(VersionedSink.read(spark, table, Some(0L)).count() === 8)
    VersionedSink.rollback(spark, table, 0L)
    assert(VersionedSink.read(spark, table).count() === 8)
  }

  test("crash inside the duplicate window: sink committed, offset not — resume adds nothing") {
    // The A3 duplicate window end-to-end (fetch_data.py:143,162): the
    // reference appends CSV rows (:143) and only then advances its
    // checkpoint (:162), so a crash between the two re-harvests the same
    // page on resume. Spark shape: PagedSource micro-batches →
    // foreachBatch VersionedSink commit → crash injected AFTER the sink
    // commit but BEFORE Spark commits the offset log. On restart the same
    // batch is re-delivered; the batch marker must detect it and skip.
    import graft.sinks.VersionedSink
    val table = tmp("crash_table") + "/corpus"
    val ckpt = tmp("crash_ckpt")
    val crashed = new java.util.concurrent.atomic.AtomicBoolean(false)
    def run(hook: Long => Unit): Unit = {
      val q = spark.readStream.format("graft.sources.PagedSource")
        .option("max_offset", 2000).option("page_size", 500)
        .option("num_partitions", 2)
        .load()
        .writeStream
        .foreachBatch(StreamingJobs.commitVersionedBatch(table, hook) _)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      awaitDone(q)
    }
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      run(_ => if (!crashed.getAndSet(true)) throw new RuntimeException("injected mid-batch crash"))
    }
    assert(ex.getMessage.contains("injected mid-batch crash"))
    // the sink DID commit before the crash; the offset log did not
    val committedRows = VersionedSink.read(spark, table).count()
    assert(VersionedSink.latestVersion(spark, table).isDefined)
    assert(committedRows > 0)

    // resume with no fault: the re-delivered batch must be marker-skipped
    // and the remaining offset space drained — every offset exactly once
    run(_ => ())
    val finalDf = VersionedSink.read(spark, table)
    assert(finalDf.count() === 2000)
    // record(i) is injective over [0,2000): District_%23 × Market_%41 ×
    // Variety_%13 alone has period 12259 — so any replayed offset would
    // surface as a duplicate full row
    assert(finalDf.distinct().count() === 2000)
  }

  test("paged source streams: AvailableNow drains the offset space exactly once, restart adds nothing") {
    val out = tmp("paged_stream_out")
    val ckpt = tmp("paged_stream_ckpt")
    def run(): Unit = {
      val q = spark.readStream.format("graft.sources.PagedSource")
        .option("max_offset", 5000).option("page_size", 500)
        .option("num_partitions", 4)
        .load()
        .writeStream
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      awaitDone(q)
    }
    run()
    assert(spark.read.parquet(out).count() === 5000)
    // resume from the checkpointed offset: the harvest is complete, so a
    // second sweep must land zero new rows (the reference's "caught up"
    // resume, fetch_data.py-style, via Spark's offset log)
    run()
    assert(spark.read.parquet(out).count() === 5000)
  }

  test("paged source streams: admission control paces the harvest in page-aligned batches") {
    val q = spark.readStream.format("graft.sources.PagedSource")
      .option("max_offset", 5000).option("page_size", 500)
      .option("num_partitions", 4)
      .option("rows_per_batch", 1000) // pacing: A11/A13's knob
      .load()
      .writeStream
      .format("memory")
      .queryName("paged_paced")
      .outputMode(OutputMode.Append())
      .start()
    try {
      q.processAllAvailable()
      assert(spark.table("paged_paced").count() === 5000)
      // 5000 rows at 1000 rows/batch = 5 non-empty micro-batches
      val batches = q.recentProgress.filter(_.numInputRows > 0)
      assert(batches.length === 5, s"expected 5 paced batches, got ${batches.length}")
      assert(batches.forall(_.numInputRows === 1000))
    } finally q.stop()
  }

  test("observe() exposes runtime ingest metrics on a batch pass") {
    val fixture = getClass.getResource("/agri_fixture.csv").getPath
    val observed = graft.ingest.AgriPipeline
      .normalize(graft.ingest.AgriPipeline.readCsv(spark, fixture))
      .observe("ingest_metrics",
        count(lit(1)).as("rows"),
        sum(when(col("arrival_date").isNull, 1L).otherwise(0L)).as("bad_dates"),
        sum(when(col("modal_price").isNull, 1L).otherwise(0L)).as("bad_prices"))
    observed.collect()
    val metrics = observed.queryExecution.observedMetrics("ingest_metrics")
    assert(metrics.getAs[Long]("rows") === 10L)
    assert(metrics.getAs[Long]("bad_dates") === 2L)
    assert(metrics.getAs[Long]("bad_prices") === 1L)
  }

  test("watermarked tumbling window counts (B34/B36)") {
    val events = MemoryStream[(Timestamp, String)](1, spark, None)
    events.addData(
      (Timestamp.valueOf("2024-01-01 00:10:00"), "click"),
      (Timestamp.valueOf("2024-01-01 00:40:00"), "click"),
      (Timestamp.valueOf("2024-01-01 01:10:00"), "view"))
    val df = StreamingJobs.windowedCounts(
      events.toDF().toDF("ts", "event_type"))
    val q = df.writeStream.format("memory").queryName("win_counts")
      .outputMode(OutputMode.Complete).trigger(Trigger.AvailableNow()).start()
    awaitDone(q)
    val rows = spark.table("win_counts")
      .select(date_format(col("win_start"), "HH:mm").as("h"), col("event_type"), col("cnt"))
      .as[(String, String, Long)].collect().toSet
    assert(rows === Set(("00:00", "click", 2L), ("01:00", "view", 1L)))
  }

  test("streaming dedup drops the reference's duplicate window (B37)") {
    val events = MemoryStream[(Long, Timestamp)](2, spark, None)
    events.addData(
      (1L, Timestamp.valueOf("2024-01-01 00:00:01")),
      (1L, Timestamp.valueOf("2024-01-01 00:00:01")), // exact dup (replayed page)
      (2L, Timestamp.valueOf("2024-01-01 00:00:02")))
    val df = StreamingJobs.dedupStream(events.toDF().toDF("event_id", "ts"))
    val q = df.writeStream.format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Append).trigger(Trigger.AvailableNow()).start()
    awaitDone(q)
    assert(spark.table("dedup_out").count() === 2)
  }

  test("dropDuplicatesWithinWatermark dedups on key alone with bounded state") {
    val events = MemoryStream[(Long, Timestamp)](10, spark, None)
    // duplicate event_id with a slightly different ts (the replayed-page
    // case dropDuplicates on (id, ts) would NOT catch)
    events.addData(
      (1L, Timestamp.valueOf("2024-01-01 00:00:01")),
      (1L, Timestamp.valueOf("2024-01-01 00:00:05")), // same id, later ts
      (2L, Timestamp.valueOf("2024-01-01 00:00:02")))
    val df = StreamingJobs.dedupStreamBounded(events.toDF().toDF("event_id", "ts"))
    val q = df.writeStream.format("memory").queryName("dedup_wm_out")
      .outputMode(OutputMode.Append).trigger(Trigger.AvailableNow()).start()
    awaitDone(q)
    assert(spark.table("dedup_wm_out").select("event_id").as[Long].collect().sorted
      === Array(1L, 2L))
  }

  test("session windows group gap-separated activity (B35)") {
    val events = MemoryStream[(Timestamp, Long)](3, spark, None)
    events.addData(
      (Timestamp.valueOf("2024-01-01 00:00:00"), 7L),
      (Timestamp.valueOf("2024-01-01 00:10:00"), 7L),  // same session
      (Timestamp.valueOf("2024-01-01 02:00:00"), 7L))  // new session after gap
    val df = StreamingJobs.sessionCounts(events.toDF().toDF("ts", "user_id"))
    val q = df.writeStream.format("memory").queryName("sess_out")
      .outputMode(OutputMode.Complete).trigger(Trigger.AvailableNow()).start()
    awaitDone(q)
    val rows = spark.table("sess_out").select("user_id", "n_events")
      .as[(Long, Long)].collect().toList.sorted
    assert(rows === List((7L, 1L), (7L, 2L)))
  }

  test("transformWithState (Spark 4 API) keeps running per-key counters (B38)") {
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val events = MemoryStream[StreamingJobs.UserEvent](5, spark, None)
      val counted = StreamingJobs.runningCountersTws(events.toDS())
      val q = counted.toDF().writeStream.format("memory").queryName("tws_out")
        .outputMode(OutputMode.Update).start()
      try {
        events.addData(
          StreamingJobs.UserEvent(1L, "click", 2.0),
          StreamingJobs.UserEvent(1L, "view", 3.0))
        q.processAllAvailable()
        events.addData(StreamingJobs.UserEvent(1L, "buy", 10.0))
        q.processAllAvailable()
      } finally q.stop()
      val latest = spark.table("tws_out").as[StreamingJobs.UserStats].collect()
        .groupBy(_.user_id).map { case (k, v) => k -> v.maxBy(_.n_events) }
      assert(latest(1L).n_events === 3L && latest(1L).total_value === 15.0)
    } finally {
      prevProvider match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("stream-stream interval join attributes purchases to recent views") {
    val purchases = MemoryStream[(Long, Timestamp)](6, spark, None)
    val views = MemoryStream[(Long, Timestamp)](7, spark, None)
    val joined = StreamingJobs.purchaseAttribution(
      purchases.toDF().toDF("p_user", "p_ts"),
      views.toDF().toDF("v_user", "v_ts"))
    val q = joined.writeStream.format("memory").queryName("attrib_out")
      .outputMode(OutputMode.Append).start()
    try {
      views.addData(
        (1L, Timestamp.valueOf("2024-01-01 00:30:00")),   // within 1h of purchase
        (1L, Timestamp.valueOf("2024-01-01 10:00:00")),   // unrelated later view
        (2L, Timestamp.valueOf("2024-01-01 00:45:00")))   // other user
      purchases.addData((1L, Timestamp.valueOf("2024-01-01 01:00:00")))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("attrib_out")
      .select(col("p_user"), date_format(col("v_ts"), "HH:mm").as("v"))
      .as[(Long, String)].collect().toSet
    assert(rows === Set((1L, "00:30")))
  }

  test("left-outer stream-stream join emits unmatched purchases after watermark") {
    val purchases = MemoryStream[(Long, Timestamp)](8, spark, None)
    val views = MemoryStream[(Long, Timestamp)](9, spark, None)
    val joined = StreamingJobs.purchaseAttributionOuter(
      purchases.toDF().toDF("p_user", "p_ts"),
      views.toDF().toDF("v_user", "v_ts"))
    val q = joined.writeStream.format("memory").queryName("attrib_outer")
      .outputMode(OutputMode.Append).start()
    try {
      views.addData((1L, Timestamp.valueOf("2024-01-01 00:30:00")))
      purchases.addData(
        (1L, Timestamp.valueOf("2024-01-01 01:00:00")),  // matched by the view
        (2L, Timestamp.valueOf("2024-01-01 01:00:00")))  // no view at all
      q.processAllAvailable()
      // advance both watermarks far past the join interval so the engine
      // can prove user 2's purchase is unmatchable and emit it null-padded
      views.addData((99L, Timestamp.valueOf("2024-01-02 12:00:00")))
      purchases.addData((99L, Timestamp.valueOf("2024-01-02 12:00:00")))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("attrib_outer")
      .filter(col("p_user") < 99)
      .select(col("p_user"), col("v_ts").isNull.as("unmatched"))
      .as[(Long, Boolean)].collect().toSet
    assert(rows === Set((1L, false), (2L, true)),
      s"expected one matched and one null-padded purchase, got $rows")
  }

  test("streaming spike detector matches the q123 integer z-test across batches") {
    import StreamingJobs.DailyQuote
    // two commodities: A stable at 10000 paise with one planted 10x spike
    // on day 40; B a rising ramp (no |z|>2 days after warmup). Split the
    // series mid-history so the ring buffer must carry across batches.
    def series: Seq[DailyQuote] =
      (0 until 60).map(d => DailyQuote("A", d, if (d == 40) 100000L else 10000L + (d % 3))) ++
        (0 until 60).map(d => DailyQuote("B", d, 5000L + d * 7))
    // plain-Scala reference of the identical integer test
    def reference(qs: Seq[DailyQuote]): Set[(String, Int)] =
      qs.groupBy(_.commodity).flatMap { case (c, rows) =>
        var means = Vector.empty[Long]
        rows.sortBy(_.day).flatMap { q =>
          val k = means.size.toLong
          val hit = if (k >= 14) {
            val sp = means.sum; val spp = means.map(p => p * p).sum
            val dev = k * q.paise - sp
            if (BigInt(dev) * BigInt(dev) > BigInt(4) * BigInt(k * spp - sp * sp))
              Some((c, q.day))
            else None
          } else None
          means = (means :+ q.paise).takeRight(28)
          hit
        }
      }.toSet

    val quotes = MemoryStream[DailyQuote](5, spark, None)
    val q = StreamingJobs.spikeDetector(quotes.toDS()).toDF()
      .writeStream.format("memory").queryName("spikes_out")
      .outputMode(OutputMode.Append).start()
    try {
      val (first, second) = series.partition(_.day < 30)
      quotes.addData(first: _*)
      q.processAllAvailable()
      quotes.addData(second: _*)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("spikes_out").as[StreamingJobs.Spike].collect()
      .map(s => (s.commodity, s.day)).toSet
    val expected = reference(series)
    assert(got === expected)
    assert(expected.contains(("A", 40)), "planted spike must be flagged")
  }

  test("stream-static join decontaminates arriving docs against a benchmark table") {
    // decontamination-on-ingest: each micro-batch left-anti joins the
    // STATIC benchmark fingerprint table — the stream-static join tier
    // (no watermark, static side broadcastable and re-read per batch).
    val benchmark = Seq("the quick brown fox", "lorem ipsum dolor")
      .toDF("text").select(md5(col("text")).as("fp"))
    benchmark.createOrReplaceTempView("bench_fps")
    val stream = MemoryStream[(Long, String)](12, spark, None)
    val cleaned = stream.toDF().toDF("id", "text")
      .withColumn("fp", md5(col("text")))
      .join(spark.table("bench_fps"), Seq("fp"), "left_anti")
    val q = cleaned.writeStream.format("memory").queryName("decon_out")
      .outputMode(OutputMode.Append).start()
    try {
      stream.addData((1L, "the quick brown fox"), (2L, "novel content one"))
      q.processAllAvailable()
      stream.addData((3L, "lorem ipsum dolor"), (4L, "novel content two"))
      q.processAllAvailable()
    } finally q.stop()
    val kept = spark.table("decon_out").select("id").as[Long].collect().toSet
    assert(kept === Set(2L, 4L), s"contaminated rows not dropped: $kept")
  }

  test("broadcast bloom probe decontaminates a stream with zero stream-side state") {
    // the q157 tier in streaming form: the filter built once from the
    // static eval set becomes a literal bit array, and the probe is a
    // stateless scan-stage predicate — no stream-static join, no state
    // store, nothing to re-read per batch. The deterministic hash means
    // batch and stream agree on exactly which rows (incl. any false
    // positives) are dropped.
    import graft.functions.GraftFunctions.hash60
    import org.apache.spark.sql.functions.{col, element_at, lit, shiftrightunsigned, typedLit}
    val eval = Seq("the quick brown fox", "lorem ipsum dolor").toDF("v")
    val words = eval
      .agg(org.apache.spark.sql.functions.call_function("graft_bloom",
        hash60("sb", col("v")), lit(1024), lit(3)))
      .head().getSeq[Long](0).toArray
    val bitsLit = typedLit(graft.plans.BloomAgg.toBits(words, 1024).toSeq)
    def inBloom(x: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
      val h = hash60("sb", x)
      val h1 = h % 1024L
      val h2 = shiftrightunsigned(h, 30).bitwiseOR(lit(1L))
      (0 until 3)
        .map(i => element_at(bitsLit, ((h1 + lit(i.toLong) * h2) % 1024L + 1).cast("int")))
        .reduce(_ && _)
    }
    val stream = MemoryStream[(Long, String)](27, spark, None)
    val cleaned = stream.toDF().toDF("id", "text").filter(!inBloom(col("text")))
    val q = cleaned.writeStream.format("memory").queryName("bloom_decon_out")
      .outputMode(OutputMode.Append).start()
    try {
      stream.addData((1L, "the quick brown fox"), (2L, "novel content one"))
      q.processAllAvailable()
      stream.addData((3L, "lorem ipsum dolor"), (4L, "novel content two"))
      q.processAllAvailable()
    } finally q.stop()
    val kept = spark.table("bloom_decon_out").select("id").as[Long].collect().toSet
    assert(kept === Set(2L, 4L), s"contaminated rows not dropped: $kept")
  }

  test("streaming SCD2 converges to the batch dimension build on an in-order feed") {
    import StreamingJobs.{ScdIn, ScdOut}
    val rnd = new scala.util.Random(13)
    val hist = (1 to 240).map { i =>
      ScdIn(rnd.nextInt(6).toLong, i.toLong, i.toLong, s"s${rnd.nextInt(3)}")
    } // ts strictly increasing -> a valid in-order CDC feed
    val stream = MemoryStream[ScdIn](29, spark, None)
    val q = StreamingJobs.scdType2(stream.toDS()).toDF()
      .writeStream.format("memory").queryName("scd_out")
      .outputMode(OutputMode.Update).start()
    try {
      // split at arbitrary points: batch boundaries must not matter
      val (a, rest) = hist.splitAt(97)
      val (b, c) = rest.splitAt(71)
      Seq(a, b, c).foreach { chunk => stream.addData(chunk: _*); q.processAllAvailable() }
    } finally q.stop()
    // last emission per (k, version) is the settled row
    val streamed = spark.table("scd_out")
      .withColumn("__seq", monotonically_increasing_id())
      .as[(Long, Int, String, Long, Option[Long], Boolean, Long)].collect()
      .groupBy(r => (r._1, r._2)).map(_._2.maxBy(_._7))
      .map(r => (r._1, r._2, r._3, r._4, r._5, r._6)).toSet
    val batch = operators.Scd.buildType2(
      hist.toDF("k", "ts", "oid", "attr"), "k", "ts", "oid", "attr")
      .select("k", "version", "attr", "valid_from", "valid_to", "is_current")
      .as[(Long, Int, String, Long, Option[Long], Boolean)].collect().toSet
    assert(streamed == batch)
  }

  test("streaming bottom-k sampler converges to the batch sample across batches") {
    import StreamingJobs.{SampleIn, SampleOut}
    import graft.functions.GraftFunctions.hash60
    import org.apache.spark.sql.functions.col
    val k = 4
    val data = (1 to 200).map(i => (s"g${i % 3}", i.toLong * 13 % 997))
      .distinct
    val df = data.toDF("grp", "id")
    // the same portable hash feeds both formulations
    val inputs = df.select(col("grp"), col("id"), hash60("sseed", col("id")).as("h"))
      .as[SampleIn].collect().toSeq
    val stream = MemoryStream[SampleIn](11, spark, None)
    val q = StreamingJobs.samplerBottomK(stream.toDS(), k).toDF()
      .writeStream.format("memory").queryName("sample_out")
      .outputMode(OutputMode.Update).start()
    try {
      // arbitrary split + shuffled arrival order: the sketch must not care
      val (a, b) = new scala.util.Random(7).shuffle(inputs).splitAt(inputs.size / 3)
      stream.addData(a: _*)
      q.processAllAvailable()
      stream.addData(b: _*)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("sample_out").as[SampleOut].collect()
      .groupBy(_.grp).map { case (g, rows) => g -> rows.maxBy(_.seen).ids.toSeq }
    val batch = graft.operators.Sampling.bottomK(df, Seq("grp"), "id", k, "sseed")
      .orderBy("grp", "rk").collect()
      .groupBy(_.getAs[String]("grp"))
      .map { case (g, rows) => g -> rows.sortBy(_.getAs[Int]("rk")).map(_.getAs[Long]("id")).toSeq }
    assert(streamed === batch)
  }

  test("streaming ES weighted sampler converges to the batch weighted sample") {
    import StreamingJobs.{SampleInW, SampleOutW}
    import org.apache.spark.sql.functions.col
    val k = 3
    // fractional weights incl. w < 1 — the case ticket replication can't express
    val data = (1 to 150).map(i => (s"g${i % 2}", i.toLong, Seq(0.5, 1.5, 4.0)(i % 3)))
    val df = data.toDF("grp", "id", "w")
    val inputs = df
      .select(col("grp"), col("id"),
        graft.operators.Sampling.esKeyMicro("wseed", col("id"), col("w")).as("k"))
      .select(col("grp"), col("id"), col("k.kq").as("kq"), col("k.tb").as("tb"))
      .as[SampleInW].collect().toSeq
    val stream = MemoryStream[SampleInW](12, spark, None)
    val q = StreamingJobs.samplerWeightedBottomK(stream.toDS(), k).toDF()
      .writeStream.format("memory").queryName("wsample_out")
      .outputMode(OutputMode.Update).start()
    try {
      val (a, b) = new scala.util.Random(3).shuffle(inputs).splitAt(inputs.size / 4)
      stream.addData(a: _*)
      q.processAllAvailable()
      stream.addData(b: _*)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("wsample_out").as[SampleOutW].collect()
      .groupBy(_.grp).map { case (g, rows) => g -> rows.maxBy(_.seen).ids.toSeq }
    val batch = graft.operators.Sampling
      .weightedBottomK(df, Seq("grp"), "id", col("w"), k, "wseed")
      .orderBy("grp", "rk").collect()
      .groupBy(_.getAs[String]("grp"))
      .map { case (g, rows) => g -> rows.sortBy(_.getAs[Int]("rk")).map(_.getAs[Long]("id")).toSeq }
    assert(streamed === batch)
  }

  test("flatMapGroupsWithState keeps running per-key counters (B38)") {
    val events = MemoryStream[StreamingJobs.UserEvent](4, spark, None)
    val counted = StreamingJobs.runningCounters(events.toDS())
    // one long-lived query, two micro-batches: state must carry across
    val q = counted.toDF().writeStream.format("memory").queryName("state_out")
      .outputMode(OutputMode.Update).start()
    try {
      events.addData(
        StreamingJobs.UserEvent(1L, "click", 2.0),
        StreamingJobs.UserEvent(1L, "view", 3.0),
        StreamingJobs.UserEvent(2L, "click", 5.0))
      q.processAllAvailable()
      events.addData(StreamingJobs.UserEvent(1L, "buy", 10.0))
      q.processAllAvailable()
    } finally q.stop()
    // Update-mode memory sink appends per-batch updates; the latest row
    // per key is the running state
    val latest = spark.table("state_out").as[StreamingJobs.UserStats].collect()
      .groupBy(_.user_id).map { case (k, v) => k -> v.maxBy(_.n_events) }
    assert(latest(1L).n_events === 3L && latest(1L).total_value === 15.0)
    assert(latest(2L).n_events === 1L && latest(2L).total_value === 5.0)
  }
}
