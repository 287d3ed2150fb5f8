package graft.streaming

import graft.ingest.AgriPipeline
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, StreamingQuery, TTLConfig, TimeMode, TimerValues, Trigger, ValueState}

/** Structured Streaming surface (SURVEY.md B33-B38): the reference's
  * resumable paged ingest (A1/A3/A13) restated as checkpointed streams,
  * plus event-time windows, watermarked late-data handling, streaming
  * dedup and custom keyed state.
  *
  * All jobs use Trigger.AvailableNow so tests (and backfills) drain the
  * available input and stop — the exact idiom for "cron-triggered
  * incremental batch" that the reference's 3-hourly workflow implements
  * by hand with progress.json (`run.yml:5-6`, `fetch_data.py:44-60`).
  * Exactly-once file sink + checkpointLocation replaces the
  * save-after-append checkpoint (and its duplicate window) wholesale.
  */
object StreamingJobs {

  /** The agmarknet-shaped CSV pages under `srcDir` as a stream, with the
    * caller's own source `options`, cleaned in-stream by the same
    * `normalize` + `dropInvalid` as a batch landing. */
  private def agriCsvStream(
      spark: SparkSession, srcDir: String, options: (String, String)*): DataFrame =
    AgriPipeline.dropInvalid(AgriPipeline.normalize(spark.readStream
      .option("header", "true")
      .option("quote", "\"")
      .option("escape", "\"")
      .options(options.toMap)
      .schema(AgriPipeline.rawSchema)
      .csv(srcDir)))

  /** B33/A1+A3: checkpointed file-source ingest of agmarknet-shaped CSV
    * pages into the partitioned parquet layout, one file per commodity
    * per micro-batch (the batch landing's keyed-writer rule,
    * `AgriPipeline.byCommodity`). Restart-safe: the checkpoint tracks
    * consumed files; the file sink commits atomically.
    */
  def ingestStream(
      spark: SparkSession,
      srcDir: String,
      outDir: String,
      checkpointDir: String): StreamingQuery = {
    AgriPipeline.byCommodity(agriCsvStream(spark, srcDir, "maxFilesPerTrigger" -> "8"))
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .partitionBy("commodity_key")
      .trigger(Trigger.AvailableNow())
      .outputMode(OutputMode.Append)
      .start()
  }

  /** foreachBatch sink: the escape hatch for sinks Structured Streaming
    * lacks natively (idempotent upserts, JDBC merges, multi-sink fanout).
    * Each micro-batch arrives as a plain DataFrame with its batch id; the
    * handler dynamic-overwrites the (commodity_key, __batch_id) partitions
    * it touches. The batch id in the partition key is what makes this both
    * replay-idempotent AND accumulating: a replayed batch (checkpoint
    * recovery) rewrites exactly its own partitions, while a *new* batch
    * containing an already-seen commodity lands in fresh
    * (commodity, new-batch) partitions instead of silently deleting the
    * earlier batch's rows — the failure mode of overwriting on
    * commodity_key alone. Writers follow `AgriPipeline.byCommodity`: one
    * file per (commodity, batch) partition.
    */
  def ingestForeachBatch(
      spark: SparkSession,
      srcDir: String,
      outDir: String,
      checkpointDir: String): StreamingQuery = {
    agriCsvStream(spark, srcDir).writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        AgriPipeline.byCommodity(batch.withColumn("__batch_id", lit(batchId)))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("commodity_key", "__batch_id")
          .parquet(outDir)
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** The foreachBatch body of [[ingestVersionedSnapshots]], reusable over
    * any source. Replay idempotence: a crash after commit but before the
    * checkpoint offset commit re-delivers this batchId; the marker stamped
    * into the snapshot detects that and skips the re-union, so no row is
    * ever accumulated twice (same contract as the sibling
    * ingestForeachBatch's keyed overwrite). `afterCommit` is a fault-
    * injection hook for tests (throwing there crashes the query inside
    * the A3 duplicate window — sink committed, offset not).
    */
  def commitVersionedBatch(
      tableDir: String,
      afterCommit: Long => Unit = _ => ())(
      batch: Dataset[org.apache.spark.sql.Row], batchId: Long): Unit = {
    import graft.sinks.VersionedSink
    val spark = batch.sparkSession
    val marker = s"batch-$batchId"
    VersionedSink.markerVersion(spark, tableDir, marker) match {
      case Some(v) =>
        // Replay of an already-committed batch. The marker becomes durable
        // BEFORE the _LATEST flip, so a crash inside that window leaves
        // this batch committed but unpublished — merely skipping here
        // would strand the pointer below v and every later union would
        // silently drop this batch's rows. Re-issuing the (idempotent)
        // flip closes the window; on the common post-commit replay it is
        // a no-op.
        VersionedSink.publishIfBehind(spark, tableDir, v)
      case None =>
        val acc = VersionedSink.latestVersion(spark, tableDir) match {
          case Some(_) => VersionedSink.read(spark, tableDir).unionByName(batch.toDF())
          case None => batch.toDF()
        }
        VersionedSink.commit(acc, tableDir, marker = Some(marker))
        afterCommit(batchId)
    }
  }

  /** CDC-apply streaming sink: each micro-batch is a keyed change set
    * (target schema + optional boolean delete-flag column) merged into
    * the latest published [[graft.sinks.VersionedSink]] snapshot via
    * [[graft.operators.Merge.mergeUpsert]], committing a new version per
    * batch — a streaming materialization of a mutable keyed table with
    * full version history. Replay discipline is identical to
    * [[commitVersionedBatch]]: batch markers detect an already-committed
    * batch, and a marker hit re-issues the (idempotent) pointer flip to
    * close the crash window between marker write and publish. */
  def applyChangesBatch(
      tableDir: String,
      keys: Seq[String],
      deleteFlag: Option[String],
      afterCommit: Long => Unit = _ => ())(
      batch: Dataset[org.apache.spark.sql.Row], batchId: Long): Unit = {
    import graft.sinks.VersionedSink
    val spark = batch.sparkSession
    val marker = s"cdc-$batchId"
    VersionedSink.markerVersion(spark, tableDir, marker) match {
      case Some(v) => VersionedSink.publishIfBehind(spark, tableDir, v)
      case None =>
        val merged = VersionedSink.latestVersion(spark, tableDir) match {
          case Some(_) =>
            graft.operators.Merge.mergeUpsert(
              VersionedSink.read(spark, tableDir), batch.toDF(), keys, deleteFlag)
          case None =>
            deleteFlag.fold(batch.toDF())(f => batch.toDF().filter(!col(f)).drop(f))
        }
        VersionedSink.commit(merged, tableDir, marker = Some(marker))
        afterCommit(batchId)
    }
  }

  /** A14 x B33: the reference's full workflow shape — every harvest run
    * appends to the accumulated corpus and commits the WHOLE corpus as a
    * retained snapshot (`run.yml:29-35` does this with `git add data/ &&
    * commit`). Here each micro-batch unions into the previous published
    * snapshot and commits a new [[graft.sinks.VersionedSink]] version, so
    * any historical corpus state remains readable and restorable.
    * Snapshot writes are full rewrites (exactly like the reference's git
    * history) — for TB-scale accumulation pair the per-batch append sink
    * with periodic snapshots instead.
    */
  def ingestVersionedSnapshots(
      spark: SparkSession,
      srcDir: String,
      tableDir: String,
      checkpointDir: String): StreamingQuery = {
    agriCsvStream(spark, srcDir).writeStream
      .foreachBatch(commitVersionedBatch(tableDir) _)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** B34+B36: watermarked tumbling event-time counts. */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(
        col("window.start").as("win_start"),
        col("event_type"), col("cnt"))

  /** B35: session windows (30 min gap) per user. */
  def sessionCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        col("session_window.start").as("sess_start"),
        col("session_window.end").as("sess_end"),
        col("user_id"), col("n_events"))

  /** B37: streaming dedup after watermark (heals A3's duplicate window
    * online instead of in a batch repair pass). */
  def dedupStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .dropDuplicates(Seq("event_id", "ts"))

  /** B37 at scale: dropDuplicatesWithinWatermark dedups on the key ALONE
    * (no event-time column in the key), and — unlike dropDuplicates,
    * whose key state lives forever when the key excludes event time —
    * expires each key's state once the watermark passes its event time.
    * This is the shape for unbounded-cardinality dedup keys (page ids,
    * natural keys) where permanent state would grow without bound at
    * 100 TB ingest rates.
    */
  def dedupStreamBounded(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark(Seq("event_id"))

  /** Stream-stream event-time interval join: attribute each purchase to
    * the views by the same user within the preceding hour. Watermarks on
    * both sides bound the join state (views older than the watermark +
    * interval are dropped from the state store) — the streaming twin of
    * the batch as-of/interval joins (B13/B14).
    */
  def purchaseAttribution(purchases: DataFrame, views: DataFrame): DataFrame = {
    val p = purchases.withWatermark("p_ts", "1 hour")
    val v = views.withWatermark("v_ts", "2 hours")
    p.join(
      v,
      expr("""
        p_user = v_user AND
        v_ts >= p_ts - INTERVAL 1 HOUR AND
        v_ts <= p_ts"""))
  }

  /** Left-outer variant: purchases with no qualifying view still emit
    * (null view columns) — but only once the view-side watermark has
    * passed the end of their join interval, when the engine can prove no
    * matching view can still arrive. The state-store discipline is the
    * same as the inner join: both sides' state is bounded by
    * watermark + interval, so a 1000-executor run holds hours of state,
    * not the full history.
    */
  def purchaseAttributionOuter(purchases: DataFrame, views: DataFrame): DataFrame = {
    val p = purchases.withWatermark("p_ts", "1 hour")
    val v = views.withWatermark("v_ts", "2 hours")
    p.join(
      v,
      expr("""
        p_user = v_user AND
        v_ts >= p_ts - INTERVAL 1 HOUR AND
        v_ts <= p_ts"""),
      "left_outer")
  }

  case class UserEvent(user_id: Long, event_type: String, value: Double)
  case class UserStats(user_id: Long, n_events: Long, total_value: Double)

  /** B38 (modern API): the same running counters as a
    * `transformWithState` StatefulProcessor — Spark 4's successor to
    * flatMapGroupsWithState with composable typed state (ValueState here;
    * List/MapState and timers available), TTL support and RocksDB-backed
    * stores. Requires the RocksDB state store provider on the session.
    */
  class RunningCounterProcessor extends StatefulProcessor[Long, UserEvent, UserStats] {
    @transient private var stats: ValueState[UserStats] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      stats = getHandle.getValueState[UserStats](
        "stats", Encoders.product[UserStats], TTLConfig.NONE)

    override def handleInputRows(
        key: Long,
        rows: Iterator[UserEvent],
        timerValues: TimerValues): Iterator[UserStats] = {
      val prev = Option(stats.get()).getOrElse(UserStats(key, 0L, 0.0))
      var n = prev.n_events
      var tot = prev.total_value
      rows.foreach { e => n += 1; tot += e.value }
      val next = UserStats(key, n, tot)
      stats.update(next)
      Iterator(next)
    }
  }

  /** transformWithState wiring for [[RunningCounterProcessor]]. */
  def runningCountersTws(events: Dataset[UserEvent]): Dataset[UserStats] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .transformWithState(
        new RunningCounterProcessor,
        TimeMode.None(),
        OutputMode.Update())
  }

  case class DailyQuote(commodity: String, day: Int, paise: Long)
  case class Spike(commodity: String, day: Int, paise: Long, dev: Long, k: Long)
  case class SpikeState(means: Seq[Long])

  /** Streaming twin of q123's price-spike detection: a per-commodity
    * ring buffer of the previous <= 28 daily means, flagging each
    * incoming day whose mean fails the integer |z|>2 test
    * (k·p − Σp)² > 4·(k·Σp² − (Σp)²) — the identical arithmetic as the
    * batch query, so batch and stream agree exactly (pinned in
    * StreamingSpec). State is O(28 longs) per live commodity, bounded
    * forever. Rows are processed in day order within each delivered
    * group (batch-internal sort — bounded by the micro-batch, not the
    * stream); cross-batch order relies on upstream event-time ordering,
    * the same contract as the reference's strictly-advancing harvest
    * offset (fetch_data.py:26).
    */
  def spikeDetector(quotes: Dataset[DailyQuote]): Dataset[Spike] = {
    import quotes.sparkSession.implicits._
    quotes
      .groupByKey(_.commodity)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (commodity: String, rows: Iterator[DailyQuote], state: GroupState[SpikeState]) =>
          var means = state.getOption.map(_.means.toVector).getOrElse(Vector.empty[Long])
          val out = Vector.newBuilder[Spike]
          rows.toVector.sortBy(_.day).foreach { q =>
            val k = means.size.toLong
            if (k >= 14) {
              val sp = means.sum
              val spp = means.map(p => p * p).sum
              val dev = k * q.paise - sp
              val varnum = k * spp - sp * sp
              if (BigInt(dev) * BigInt(dev) > BigInt(4) * BigInt(varnum))
                out += Spike(commodity, q.day, q.paise, dev, k)
            }
            means = (means :+ q.paise).takeRight(28)
          }
          state.update(SpikeState(means))
          out.result().iterator
      }
  }

  case class SampleIn(grp: String, id: Long, h: Long)
  case class SampleOut(grp: String, seen: Long, ids: Seq[Long])
  case class SampleState(pairs: Seq[(Long, Long)], seen: Long)

  /** Streaming twin of `Sampling.bottomK` (q134): per-group state is the
    * k lexicographically-smallest (hash, id) pairs seen so far — the
    * bottom-k sketch is mergeable and order-insensitive, so the stream
    * converges to exactly the batch sample whatever the arrival order or
    * batch boundaries (pinned in StreamingSpec). State is O(k) per live
    * group, bounded forever; each update emits the group's current
    * sample membership in hash (rank) order. `h` is the caller-computed
    * portable hash (GraftFunctions.hash60(seed, id)), keeping the
    * seed-reproducibility contract identical to the batch operator.
    *
    * Input contract: rows must be UNIQUE per (grp, id). This side dedups
    * (hash, id) pairs — the right call under at-least-once delivery,
    * where the same row may arrive twice — while the batch aggregate
    * treats duplicate ids as distinct heap entries (as does its
    * row_number oracle). Feed either side duplicate ids and the two
    * samples may legitimately diverge at the k-th slot; with unique ids
    * (any real corpus id column) they agree exactly.
    *
    * `seen` is a raw ARRIVAL counter: it counts every delivered row,
    * including re-deliveries (whose pairs the membership state dedups,
    * and which may already have been truncated out of the kept top-k —
    * an O(k) state cannot recognize those). Under exactly-once replay it
    * equals the distinct-row count; under at-least-once it is an upper
    * bound on it.
    */
  def samplerBottomK(rows: Dataset[SampleIn], k: Int): Dataset[SampleOut] = {
    import rows.sparkSession.implicits._
    rows
      .groupByKey(_.grp)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (grp: String, it: Iterator[SampleIn], state: GroupState[SampleState]) =>
          val prev = state.getOption.getOrElse(SampleState(Seq.empty, 0L))
          val batch = it.toSeq
          val merged = (prev.pairs ++ batch.map(r => (r.h, r.id)))
            .sorted.distinct.take(k)
          val seen = prev.seen + batch.size
          state.update(SampleState(merged, seen))
          Iterator(SampleOut(grp, seen, merged.map(_._2)))
      }
  }

  case class SampleInW(grp: String, id: Long, kq: Long, tb: Long)
  case class SampleOutW(grp: String, seen: Long, ids: Seq[Long])
  case class SampleStateW(pairs: Seq[(Long, Long, Long)], seen: Long)

  /** Streaming twin of `Sampling.weightedBottomK` (q147): the exact
    * Efraimidis–Spirakis weighted sample maintained incrementally. The
    * caller computes the QUANTIZED race key `Sampling.esKeyMicro(seed,
    * id, w)` — the same integer-grid arithmetic as the batch operator —
    * and ships its fields as `(kq, tb)`; the per-group state keeps the
    * k smallest (kq, tb, id) triples seen so far, the batch side's
    * exact (cell, hash desc, id) total order. Order sampling is a pure
    * min-k over per-row keys, so the sketch is mergeable and
    * arrival-order-insensitive: the stream converges to exactly the
    * batch sample (pinned in StreamingSpec). State is O(k) per live
    * group. Same unique-per-(grp, id) input contract and `seen`
    * semantics as [[samplerBottomK]] — membership dedups re-deliveries,
    * `seen` counts raw arrivals (exact under exactly-once replay, an
    * upper bound under at-least-once).
    */
  def samplerWeightedBottomK(rows: Dataset[SampleInW], k: Int): Dataset[SampleOutW] = {
    import rows.sparkSession.implicits._
    rows
      .groupByKey(_.grp)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (grp: String, it: Iterator[SampleInW], state: GroupState[SampleStateW]) =>
          val prev = state.getOption.getOrElse(SampleStateW(Seq.empty, 0L))
          val batch = it.toSeq
          val merged = (prev.pairs ++ batch.map(r => (r.kq, r.tb, r.id)))
            .sorted.distinct.take(k)
          val seen = prev.seen + batch.size
          state.update(SampleStateW(merged, seen))
          Iterator(SampleOutW(grp, seen, merged.map(_._3)))
      }
  }

  case class ScdIn(k: Long, ts: Long, oid: Long, attr: String)
  case class ScdOut(k: Long, version: Int, attr: String,
      valid_from: Long, valid_to: Option[Long], is_current: Boolean)
  case class ScdCur(version: Int, attr: String, from: Long)

  /** Streaming twin of `operators.Scd.buildType2` for an IN-ORDER change
    * feed (a CDC stream delivers per-key changes in commit order): keyed
    * state holds only the OPEN interval; an arriving change with a
    * different attribute closes it (emitting the finished dimension row)
    * and opens the next version. Within a micro-batch events sort by
    * (ts, oid) — the same tie-break as the batch builder — so
    * batch-boundary placement cannot change the result, and the
    * accumulated output converges to exactly `buildType2` of the full
    * history (pinned in StreamingSpec). State is O(1) per live key;
    * Update mode re-emits the current open row each batch so a sink
    * always holds a complete dimension snapshot.
    */
  def scdType2(rows: Dataset[ScdIn]): Dataset[ScdOut] = {
    import rows.sparkSession.implicits._
    rows
      .groupByKey(_.k)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (k: Long, it: Iterator[ScdIn], state: GroupState[ScdCur]) =>
          val events = it.toSeq.sortBy(r => (r.ts, r.oid))
          var cur = state.getOption
          val out = scala.collection.mutable.ArrayBuffer.empty[ScdOut]
          events.foreach { e =>
            cur match {
              case Some(c) if c.attr == e.attr => () // run continues
              case Some(c) =>
                out += ScdOut(k, c.version, c.attr, c.from, Some(e.ts), is_current = false)
                cur = Some(ScdCur(c.version + 1, e.attr, e.ts))
              case None =>
                cur = Some(ScdCur(1, e.attr, e.ts))
            }
          }
          cur.foreach(state.update)
          out ++= cur.map(c => ScdOut(k, c.version, c.attr, c.from, None, is_current = true))
          out.iterator
      }
  }

  /** B38: custom keyed state — running per-user counters via
    * flatMapGroupsWithState (the progress-tracking shape of A3, but
    * per-key, fault-tolerant and store-backed).
    */
  def runningCounters(events: Dataset[UserEvent]): Dataset[UserStats] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[UserEvent], state: GroupState[UserStats]) =>
          val prev = state.getOption.getOrElse(UserStats(userId, 0L, 0.0))
          var n = prev.n_events
          var tot = prev.total_value
          rows.foreach { e => n += 1; tot += e.value }
          val next = UserStats(userId, n, tot)
          state.update(next)
          Iterator(next)
      }
  }
}
