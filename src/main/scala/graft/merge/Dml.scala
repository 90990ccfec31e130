package graft.merge

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** DML-shaped operators beyond MERGE (SURVEY.md §2.9 M5–M8). Each is a
  * dataframe rewrite (the delete/update is the complement of the predicate)
  * that the caller persists, e.g. with [[overwritePartitions]], the
  * partition-scoped write [[MergeInto.mergePartitioned]] also lands through.
  * M3 (TRUNCATE + INSERT) is `SyncPipeline.fullSync`; M4 (delete duplicates
  * keeping the latest) is `Core.dedupByKey`.
  */
object Dml {

  /** Partition-scoped overwrite: replace ONLY the partitions of the parquet
    * table at `path` that appear in `updated` (dynamic partition overwrite);
    * every other partition directory is left untouched on disk. This is the
    * write primitive that makes a daily MERGE touch ±window days of a 100 TB
    * target instead of rewriting it (the reference's windowed MERGE,
    * `work_item_budget_vs_actual_…_daily/main.py:344-353`, plus the
    * partitioning it intended but left commented,
    * `work_item_details_…_daily/main.py:161-162`).
    *
    * Crash semantics: the file committer stages new files and publishes at
    * job commit, so on an atomic-rename filesystem (HDFS, local) a touched
    * partition is observed fully-old or fully-new; untouched partitions are
    * never opened. On object stores without atomic rename — or if the driver
    * dies mid-commit — a touched partition CAN be observed partially-new;
    * pair with a committer that gives the needed guarantee there.
    *
    * `updated` may read the partitions it overwrites (as
    * [[MergeInto.mergePartitioned]] does), with no checkpoint: the
    * `repartition` below is a shuffle barrier, so every old file is read
    * before any task writes, and dynamic overwrite deletes the replaced
    * partitions only at job commit. A recomputed shuffle stage therefore
    * still finds the old files. A caller that reads `updated` again AFTER
    * this write returns sees the new files, and must materialise it first.
    *
    * One file per partition per write: the rows are hash-repartitioned by
    * `partitionCols` first, so each partition is written by exactly one task
    * (`spark.sql.files.maxRecordsPerFile` still splits a huge one). Without
    * it every task of the upstream stage writes its own small file into
    * every partition it holds, and each later scan opens them all.
    * `repartition`, not `rebalance`: AQE may split a skewed rebalance
    * partition and write one partition as several files again.
    */
  def overwritePartitions(updated: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    updated.repartition(partitionCols.map(col): _*).write
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*)
      .parquet(path)

  /** M5: "smart delete" — remove today's rows whose key no longer exists in
    * the source extract, guarded so an empty/failed extract never wipes the
    * table (ref: `work_item_budget_vs_actual_…_daily/main.py:368-408`;
    * guard rationale `CRITICAL_DELETE_LOGIC_FIX_SUMMARY.md:42,77`).
    *
    * The reference truncates the key list at 1000 tuples (driver-side `NOT
    * IN`); we anti-join against the full distributed key set instead.
    */
  def smartDelete(
      target: DataFrame,
      liveKeys: DataFrame,
      keys: Seq[String],
      dateCol: String,
      date: Column): DataFrame = {
    if (liveKeys.isEmpty) target // liveness guard: empty source ⇒ no delete
    else {
      val inWindow = target.filter(col(dateCol) === date)
      val outOfWindow = target.filter(!(col(dateCol) === date) || col(dateCol).isNull)
      outOfWindow.unionByName(
        inWindow.join(liveKeys.select(keys.map(col): _*).distinct(), keys, "left_semi"))
    }
  }

  /** M6: orphan cleanup — delete ids present in the target but absent from
    * the source system (ref: `snowflake_bq_deduplication_sync.py:114-160`,
    * dry-run `:330`). Returns (survivors, deletedCount-when-dry-run-frame).
    */
  def orphanCleanup(target: DataFrame, sourceIds: DataFrame, key: String): DataFrame =
    target.join(sourceIds.select(col(key)).distinct(), Seq(key), "left_semi")

  def orphanCleanupDryRun(target: DataFrame, sourceIds: DataFrame, key: String, tableName: String): DataFrame = {
    val orphans = target.join(sourceIds.select(col(key)).distinct(), Seq(key), "left_anti")
    orphans.agg(count(lit(1)).as("would_delete")).withColumn("table_name", lit(tableName))
  }

  /** M7: DELETE by date range — progressive stale cleanup (ref:
    * `…_daily/main_progressive.py:126-133`). With a date-partitioned target
    * this is a partition overwrite, not a full rewrite.
    */
  def deleteDateRange(df: DataFrame, dateCol: String, start: Column, end: Column): DataFrame =
    df.filter(col(dateCol) < start || col(dateCol) > end || col(dateCol).isNull)

  /** M8: UPDATE a single control row by key (sync-state transitions, ref:
    * `…/main_paginated.py:177-184`). Control tables are tiny; a projection
    * rewrite is the whole operator.
    */
  def updateByKey(df: DataFrame, keyCol: String, keyVal: Column, assignments: Map[String, Column]): DataFrame =
    assignments.foldLeft(df) { case (d, (c, v)) =>
      d.withColumn(c, when(col(keyCol) === keyVal, v).otherwise(col(c)))
    }
}
