package graft.streaming

import graft.merge.MergeInto
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout,
  OutputMode, Trigger}
import org.apache.spark.sql.Row

/** Structured Streaming face of the incremental sync semantics
  * (SURVEY.md §2.10).
  *
  * The reference is batch micro-orchestration — daily date-windowed pulls
  * MERGEd into the target (`snowflake_bq_sync_daily Time Details/main.py:85-90,197-206`),
  * re-triggered chunk loops (`main_paginated.py:313-352`) — which maps onto
  * Structured Streaming as:
  *
  *  - the date window        → watermark (late-data acceptance policy)
  *  - the scheduled pull     → micro-batch trigger (AvailableNow/ProcessingTime)
  *  - the staged MERGE       → `foreachBatch { MergeInto }` (idempotent per key,
  *                             so at-least-once delivery yields exactly-once tables)
  *  - tumbling daily metrics → `groupBy(window($"ts", "1 day"))`
  *
  * Scale note: state held by the windowed aggregation is bounded by the
  * watermark horizon; the foreachBatch merge rewrites only the touched date
  * partitions when the target is partitioned by the event date.
  */
object Streaming {

  /** Scale-adaptive state-partition count for a stateful stream whose input
    * size is known when the query starts: ⌈inputBytes / advisory⌉ clamped to
    * [1, session parallelism]. Stateful operators take their state-store
    * partition count from `spark.sql.shuffle.partitions` at FIRST checkpoint
    * creation and AQE cannot coalesce them — at bench SF a session-parallelism
    * constant (32) means 32 state-store directories × per-batch delta files ×
    * fsyncs for kilobytes of state, pure checkpoint-I/O overhead (the st*
    * rows' dominant cost, priced by Bench's checkpoint probe). The rule is
    * input-derived, NOT a local tune: it grows linearly with the corpus
    * (advisory = `spark.sql.adaptive.advisoryPartitionSizeInBytes`, default
    * 64 MB) until it hits the session's own parallelism ceiling — at real
    * scale it returns exactly the session setting and changes nothing.
    * State hash-partitioning only places rows; row counts and values are
    * partition-count-invariant, so results are identical by construction.
    */
  def adaptiveStatePartitions(spark: SparkSession, inputBytes: Long): Int = {
    val ceilingN = spark.sessionState.conf.numShufflePartitions
    val advisory = math.max(1L, spark.sessionState.conf.getConf(
      org.apache.spark.sql.internal.SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES))
    math.max(1L, math.min(ceilingN.toLong,
      (inputBytes + advisory - 1) / advisory)).toInt
  }

  /** Total bytes under a path (the stream's source dir) — the input-size
    * probe [[adaptiveStatePartitions]] feeds on. */
  def dirBytes(spark: SparkSession, path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.getContentSummary(p).getLength
  }

  /** Run `f` (typically: start + drain one stream) with
    * `spark.sql.shuffle.partitions` set to [[adaptiveStatePartitions]] of
    * the given input size, restoring the session value afterwards. The
    * override binds into the stream's checkpoint at creation; batch queries
    * planned AFTER the restore are untouched.
    */
  def withAdaptiveStatePartitions[T](spark: SparkSession, inputBytes: Long)(f: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, adaptiveStatePartitions(spark, inputBytes).toString)
    try f finally spark.conf.set(key, prev)
  }

  /** ST6: watermarked tumbling daily aggregation of an event stream
    * (`anomaly_detection_agent.py:46-61` analog; batch twin =
    * DmlQueries.st6). */
  def dailyMetrics(events: DataFrame, watermark: String = "2 days"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 day").as("day_window"), col("event_type"))
      .agg(count(lit(1)).as("event_cnt"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
      .select(col("day_window.start").cast("date").as("day"), col("event_type"),
        col("event_cnt"), col("total_value"))

  /** ST8 (dd1's continuous twin): streaming exact dedup on a content
    * fingerprint. `dropDuplicatesWithinWatermark` keeps only first arrivals
    * and holds state ONLY for the watermark horizon — at 100 TB/day the
    * dedup state is bounded by the late-arrival window, not the corpus,
    * which is what makes continuous dedup feasible at ingest. (Full-corpus
    * exact dedup remains the batch job, dd1.)
    */
  def dedupStream(docs: DataFrame, tsCol: String = "ts",
      fpCols: Seq[String] = Seq("fingerprint"),
      watermark: String = "1 day"): DataFrame =
    docs.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(fpCols)

  /** ST7: gap-based sessionization via `session_window` — events within
    * `gap` of the session's moving end merge into one session per user. The
    * same call shapes a batch frame or a watermarked stream (the batch twin
    * is the oracle for the streaming run). Session boundaries are truncated
    * to whole seconds in the output: the source timestamps carry nanos,
    * engines truncate nanos→micros differently, and a session boundary is a
    * second-grain fact anyway.
    *
    * 100 TB story: one shuffle on user_id; streaming state per key is
    * bounded by the watermark horizon, and sessions close (state evicted)
    * once the watermark passes end+gap.
    */
  def sessionize(events: DataFrame, gap: String = "15 minutes"): DataFrame =
    events
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("sw"))
      .agg(
        count(lit(1)).as("n_events"),
        // integer ten-thousandths: per-row ROUND then integer sum is the
        // only double aggregation that is deterministic across engines
        sum(round(col("value") * 10000).cast("long")).as("value_e4"),
        max(col("event_type")).as("last_event_type"))
      .select(col("user_id"),
        date_trunc("second", col("sw.start")).as("session_start"),
        date_trunc("second", col("sw.end")).as("session_end_plus_gap"),
        col("n_events"), col("value_e4"), col("last_event_type"))

  def sessionizeStream(events: DataFrame, gap: String = "15 minutes",
      watermark: String = "1 hour"): DataFrame =
    sessionize(events.withWatermark("ts", watermark), gap)

  final case class TrackerEvent(sync_id: String, rows: Long, failed: Boolean)
  final case class TrackerState(rows_processed: Long, batches: Long, failures: Long)
  final case class TrackerRow(sync_id: String, rows_processed: Long, batches: Long,
      failures: Long, status: String)

  /** The sync-state tracker as streaming custom state (ref
    * `main_paginated.py:78-99,177-184`: the `time_entry_sync_state` table's
    * PENDING→PROCESSING→COMPLETED/FAILED rows, maintained per sync id as
    * events arrive). `flatMapGroupsWithState` holds one small state record
    * per key — running totals + failure count — and emits the refreshed
    * tracker row each micro-batch, which is exactly what the reference's
    * UPDATE-one-control-row (M8) writes. State is bounded by the number of
    * live sync ids, not by event volume, so the operator is 100 TB-safe.
    */
  def trackerState(events: Dataset[TrackerEvent]): Dataset[TrackerRow] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.sync_id)
      .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (syncId: String, batch: Iterator[TrackerEvent], state: GroupState[TrackerState]) =>
          val prev = state.getOption.getOrElse(TrackerState(0L, 0L, 0L))
          var rows = prev.rows_processed
          var failures = prev.failures
          batch.foreach { e =>
            rows += e.rows
            if (e.failed) failures += 1
          }
          val next = TrackerState(rows, prev.batches + 1, failures)
          state.update(next)
          val status = if (failures > 0) "FAILED" else "PROCESSING"
          Iterator.single(TrackerRow(syncId, next.rows_processed, next.batches,
            next.failures, status))
      }
  }

  /** ST3: upsert-on-arrival sink — every micro-batch, the first included, is
    * deduplicated and MERGEd into the parquet target by key through
    * `MergeInto`'s merge-and-swap, making replays idempotent
    * (`foreachBatch(MergeInto)`; ref merge `main.py:197-206`).
    */
  def upsertSink(stream: DataFrame, targetPath: String, keys: Seq[String],
      orderCol: Option[String]): DataStreamWriter[Row] =
    stream.writeStream
      .outputMode(OutputMode.Update())
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        MergeInto.mergeAndSwap(batch, targetPath, keys, orderCol)
        ()
      }
}
