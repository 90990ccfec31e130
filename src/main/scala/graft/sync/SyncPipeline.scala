package graft.sync

import graft.merge.{AtomicWriter, MergeInto}
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Pipeline runners reproducing the reference's eight sync functions
  * (SURVEY.md §7.5): full reload vs date-windowed incremental, tracker
  * emission, smart-delete, and the resumable chunked backfill state machine.
  *
  * The reference splits these across 22 `main.py` variants of the same loop
  * (the `snowflake_bq_sync…` function directories); here each mode is one
  * call: scan → (window filter) → land → tracker row. Every keyed mode lands
  * through [[MergeInto.mergePartitioned]], which decides per call how the
  * increment reaches the date-partitioned target and counts what it wrote;
  * the full reload is one atomic overwrite counted the same way. The driver
  * loop below replaces the Pub/Sub self-retrigger
  * (`main_paginated.py:313-352`) — state lives in a tiny parquet control
  * table, so a killed run resumes at the first incomplete chunk.
  */
object SyncPipeline {

  /** One sync call's outcome. `rowsSynced` is the number of rows this run
    * wrote to the target (the sense of Delta's `numOutputRows`): the whole
    * new table for a full sync, every row of the rewritten day partitions for
    * an incremental one — counted by the write job, never by re-reading the
    * target.
    */
  final case class SyncResult(rowsSynced: Long, mode: String, tracker: DataFrame)

  /** Whole-run retry with fixed backoff, the reference's
    * `retry_on_timeout(max_retries=3, delay=30)` decorator
    * (`work_item_details_pipeline/work_item_details_sync_daily/main.py:51-68`):
    * attempt the body up to `maxAttempts` times, sleeping `delayMs` between
    * attempts, rethrowing the final failure. Spark's task retries cover task
    * failures; this covers the reference's RUN-level semantics (a sync whose
    * driver-side step died is re-attempted from the top). Safe to wrap every
    * pipeline in this file: each is idempotent — full sync atomically
    * overwrites, incremental/backfill merge-upsert on keys, so a crashed
    * partial run re-applied converges to the single-run output (proved by the
    * failure-injection spec). `sleep` is injectable so tests don't wait.
    */
  def withRetry[T](maxAttempts: Int = 3, delayMs: Long = 30000L,
      sleep: Long => Unit = Thread.sleep)(body: () => T): T = {
    require(maxAttempts >= 1)
    var attempt = 0
    var out: Option[T] = None
    while (out.isEmpty) {
      attempt += 1
      try out = Some(body())
      catch {
        case e: Throwable if scala.util.control.NonFatal(e) =>
          if (attempt >= maxAttempts) throw e
          sleep(delayMs)
      }
    }
    out.get
  }

  private def tracker(spark: SparkSession, pipeline: String, mode: String, rows: Long,
      status: String): DataFrame = {
    import spark.implicits._
    Seq((pipeline, mode, rows, status)).toDF("pipeline", "mode", "rows_synced", "status")
  }

  /** Full sync: truncate-and-reload semantics (dimension pipelines, ref
    * `client_dimension_sync_daily/main.py:183-195`). */
  def fullSync(spark: SparkSession, source: DataFrame, targetPath: String,
      pipeline: String): SyncResult = {
    val n = MergeInto.countWritten(source)(AtomicWriter.overwrite(_, targetPath))
    SyncResult(n, "full", tracker(spark, pipeline, "full", n, "COMPLETED"))
  }

  /** Incremental sync: date-windowed pull merged by key (fact pipelines, ref
    * `snowflake_bq_sync_daily Time Details/main.py:85-90,197-206`). The date
    * column is part of the merge key (the reference's fact grain), so the
    * target is stored partitioned by it and only the window's days are read
    * and rewritten — at 100 TB the daily sync touches days, not the table.
    */
  def incrementalSync(spark: SparkSession, source: DataFrame, targetPath: String,
      keys: Seq[String], dateCol: String, start: String, end: String,
      pipeline: String): SyncResult = {
    require(keys.contains(dateCol),
      s"incremental sync needs its date column '$dateCol' in the merge keys")
    val n = MergeInto.mergePartitioned(spark, targetPath,
      Tables.dateWindow(source, dateCol, start, end), keys, dateCol)
    SyncResult(n, "incremental", tracker(spark, pipeline, "incremental", n, "COMPLETED"))
  }

  /** ST4: date-partitioned incremental sync for immutable-date facts
    * (events, time entries — rows whose `dateCol` never changes once
    * ingested) keyed WITHOUT the date: the target is partitioned by the
    * derived day `part_date`, which joins the merge key. A rotation's fresh
    * days are written straight from the source and the boundary days shared
    * by inclusive slice ends re-merge idempotently (see
    * [[MergeInto.mergePartitioned]]). Precondition: a key's `dateCol` value
    * is immutable (else a moved row could duplicate across partitions).
    * Callers drop `part_date` on read-back.
    */
  def incrementalSyncPartitioned(spark: SparkSession, source: DataFrame, targetPath: String,
      keys: Seq[String], dateCol: String, start: String, end: String,
      pipeline: String): SyncResult = {
    val partCol = "part_date"
    val windowed = Tables.dateWindow(source, dateCol, start, end)
      .withColumn(partCol, to_date(col(dateCol)))
    val n = MergeInto.mergePartitioned(spark, targetPath, windowed, keys :+ partCol, partCol)
    SyncResult(n, "incremental_partitioned",
      tracker(spark, pipeline, "incremental_partitioned", n, "COMPLETED"))
  }

  /** ST4: progressive day-of-week range rotation (ref
    * `…_daily/main_progressive.py:31-54`): each weekday owns a slice of the
    * backfill horizon so a week of runs covers it fully. Spark has no
    * 15-minute function timeout, so this is a scheduling policy, not a
    * necessity — kept for semantic parity (as is ST5, the early-exit time
    * budget on [[chunkedBackfill]]).
    */
  def progressiveRange(dayOfWeek: Int, horizonDays: Int = 180, slices: Int = 7): (Int, Int) = {
    require(dayOfWeek >= 1 && dayOfWeek <= slices)
    val step = math.ceil(horizonDays.toDouble / slices).toInt
    val start = (dayOfWeek - 1) * step
    (start, math.min(start + step, horizonDays))
  }

  /** ST2 + ST5: resumable chunked backfill with an early-exit time budget.
    * Chunk states live in a control table (PENDING → COMPLETED, ref
    * `main_paginated.py:78-99`); a rerun skips completed chunks (`resume from
    * MAX(end_date) WHERE status='COMPLETED'`, ref `:101-139`).
    *
    * ST5 (`main_paginated.py:313-352`): the reference stops before its
    * 15-minute cloud-function timeout and lets the re-trigger resume. Here
    * the budget is checked BETWEEN chunks (a started chunk always commits, so
    * the state machine never sees a half-applied chunk): once
    * `timeBudgetMs` elapses, remaining chunks are left un-attempted and the
    * next call resumes at the first incomplete chunk. `clock` is injectable
    * so the early exit is testable deterministically.
    *
    * The target is partitioned by the day of `dateCol`, so each chunk
    * rewrites only its own day partitions and the state table grows by
    * appended rows, never rewritten. Chunk re-runs stay idempotent: the
    * partition-scoped merge upserts on (keys, day) — which is what recovers a
    * chunk that committed data but died before its state append.
    */
  def chunkedBackfill(spark: SparkSession, source: DataFrame, targetPath: String,
      statePath: String, keys: Seq[String], dateCol: String,
      chunks: Seq[(String, String)], timeBudgetMs: Long = Long.MaxValue,
      clock: () => Long = () => System.nanoTime()): DataFrame = {
    import spark.implicits._
    val partCol = "part_date"
    val fs = new org.apache.hadoop.fs.Path(statePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val existing: Set[String] =
      if (fs.exists(new org.apache.hadoop.fs.Path(statePath)))
        spark.read.parquet(statePath).filter(col("status") === "COMPLETED")
          .select("chunk_start").as[String].collect().toSet
      else Set.empty
    val t0 = clock()
    var budgetHit = false
    chunks.foreach { case (from, to) =>
      if (!budgetHit && !existing.contains(from)) {
        if ((clock() - t0) / 1000000L >= timeBudgetMs) budgetHit = true
        else {
          val chunk = source.filter(col(dateCol) >= lit(from).cast("timestamp_ntz") &&
            col(dateCol) < lit(to).cast("timestamp_ntz"))
            .withColumn(partCol, to_date(col(dateCol)))
          MergeInto.mergePartitioned(spark, targetPath, chunk, keys :+ partCol, partCol)
          Seq((from, to, "COMPLETED")).toDF("chunk_start", "chunk_end", "status")
            .coalesce(1).write.mode("append").parquet(statePath)
        }
      }
    }
    // a budget can expire before the first chunk of a fresh backfill ever
    // commits — a clean stop, not a crash: the next run starts from zero
    // (state and target may live on different filesystems)
    val targetRoot = new org.apache.hadoop.fs.Path(targetPath)
    if (!targetRoot.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(targetRoot))
      source.filter(lit(false))
    else
      spark.read.parquet(targetPath).drop(partCol)
  }
}
