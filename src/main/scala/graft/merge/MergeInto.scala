package graft.merge

import graft.ops.Core
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._

/** MERGE / upsert semantics without a table format (SURVEY.md §2.9 M1/M2).
  *
  * The reference's signature operation is a staged BigQuery MERGE:
  * `MERGE target USING staging ON <composite key> WHEN MATCHED UPDATE all
  * WHEN NOT MATCHED INSERT all` (ref: `snowflake_bq_sync_daily Time
  * Details/main.py:197-206`; audit-column variant
  * `snowflake_bq_sync Time details/daily_sync.py:252-269`).
  *
  * Spark has no MERGE on plain parquet, so the operator is the relational
  * rewrite: `target ANTI-JOIN source-keys  UNION ALL  dedup(source)`, the
  * source deduplicated latest-wins per key once, on the union's side only.
  * No driver-side key lists (the reference's 1000-key `NOT IN`
  * truncation at `work_item_budget_vs_actual_…_daily/main.py:374-378` is a
  * scalability bug we deliberately do not reproduce).
  *
  * Landing a synced increment on disk is [[mergePartitioned]]'s job alone:
  * the target is partitioned by the snapshot date, so a daily merge rewrites
  * only the days it touches, and the anti-join shuffles only the merge keys
  * after Catalyst column pruning. It reports the rows it wrote.
  */
object MergeInto {

  /** Audit-column policy (M2). `fixedTimestamp`/deterministic uuid make the
    * operator reproducible under test; production uses `uuid()` +
    * `current_timestamp()` like the reference.
    */
  final case class Audit(
      uuidCol: String = "row_uuid",
      tsCol: String = "bq_ingestion_timestamp",
      deterministic: Boolean = false,
      fixedTimestamp: Option[String] = None)

  /** M1: pure upsert. `source` rows win over `target` rows with the same key;
    * within `source`, the greatest `orderCol` wins (latest-wins, matching the
    * staging table's most-recent-extract semantics).
    */
  def merge(
      target: DataFrame,
      source: DataFrame,
      keys: Seq[String],
      orderCol: Option[String] = None,
      tieBreak: Seq[Column] = Nil): DataFrame = {
    val deduped = latestPerKey(source, keys, orderCol, tieBreak)
    kept(target, source, keys).unionByName(
      deduped.select(target.columns.map(col).toIndexedSeq: _*))
  }

  /** One WHEN MATCHED action of the full MERGE grammar ([[mergeClauses]]).
    * `condition`/`set` expressions reference the two sides through the
    * aliases `t` (target) and `s` (source): `col("s.price") < 0`,
    * `Map("price" -> col("s.price") * 2)`. An [[MergeAction.Update]] with
    * an empty `set` updates ALL columns from the source (the reference's
    * update-all shape).
    */
  sealed trait MergeAction
  object MergeAction {
    final case class Update(condition: Option[Column] = None,
        set: Map[String, Column] = Map.empty) extends MergeAction
    final case class Delete(condition: Option[Column] = None) extends MergeAction
  }

  /** M10: the FULL conditional-clause MERGE grammar (Delta's published
    * clause model — `WHEN MATCHED [AND cond] THEN UPDATE SET …/DELETE`,
    * repeated, plus `WHEN NOT MATCHED [AND cond] THEN INSERT`), as the
    * relational rewrite on plain frames:
    *
    *  - `matched` clauses evaluate IN ORDER per matched (target, source)
    *    pair; the FIRST clause whose condition holds applies (update or
    *    delete); no applicable clause leaves the target row unchanged.
    *  - unmatched target rows always carry through.
    *  - `insert`: None = no insert clause (matched-only merge); Some(cond)
    *    inserts source rows matching nothing, where `cond` holds
    *    (`lit(true)` = insert all — the classic upsert).
    *
    * One left-outer join on the keys decides matched actions (a nested
    * CASE over the clause list — pure codegen, no UDFs), one anti join
    * feeds inserts; both shuffle on the merge keys only. Source is
    * deduped latest-wins per key first (`orderCol`), same as [[merge]] —
    * SQL MERGE's "multiple source rows match" error case cannot arise.
    */
  def mergeClauses(
      target: DataFrame,
      source: DataFrame,
      keys: Seq[String],
      matched: Seq[MergeAction],
      insert: Option[Column] = None,
      orderCol: Option[String] = None): DataFrame = {
    require(keys.nonEmpty, "mergeClauses needs at least one merge key")
    require(matched.nonEmpty || insert.nonEmpty, "at least one clause required")
    // the rewrite claims two working columns; a side already carrying either
    // name would fail later as an opaque ambiguous-reference
    // AnalysisException — refuse up front with the actual contract instead
    Seq("__matched", "__action").foreach { r =>
      require(!target.columns.contains(r) && !source.columns.contains(r),
        s"mergeClauses reserves the working column name `$r` — rename it on the " +
          "input frames before merging")
    }
    val deduped = latestPerKey(source, keys, orderCol)
    val t = target.alias("t")
    val s = deduped.withColumn("__matched", lit(true)).alias("s")
    val keyCond = keys.map(k => col(s"t.$k") === col(s"s.$k")).reduce(_ && _)
    val joined = t.join(s, keyCond, "left_outer")
    // first applicable clause index; -1 = keep the target row as-is
    val actionOfMatched: Column = matched.zipWithIndex.foldRight(lit(-1): Column) {
      case ((cl, i), els) =>
        val cond = cl match {
          case MergeAction.Update(c, _) => c.getOrElse(lit(true))
          case MergeAction.Delete(c) => c.getOrElse(lit(true))
        }
        when(coalesce(cond, lit(false)), lit(i)).otherwise(els)
    }
    val withAction = joined.withColumn("__action",
      when(col("s.__matched").isNull, lit(-1)).otherwise(actionOfMatched))
    val deleteIdx = matched.zipWithIndex.collect {
      case (MergeAction.Delete(_), i) => i }
    val kept =
      if (deleteIdx.isEmpty) withAction
      else withAction.filter(!col("__action").isin(deleteIdx.map(Int.box): _*))
    val outCols = target.columns.toIndexedSeq.map { c =>
      matched.zipWithIndex.foldRight(col(s"t.$c"): Column) {
        case ((MergeAction.Update(_, set), i), els) =>
          // SQL SET semantics: columns not in the SET keep the TARGET value;
          // an EMPTY set is the update-ALL-from-source shape
          val v = if (set.isEmpty) col(s"s.$c") else set.getOrElse(c, col(s"t.$c"))
          when(col("__action") === i, v).otherwise(els)
        case (_, els) => els
      }.as(c)
    }
    val updated = kept.select(outCols: _*)
    insert match {
      case None => updated
      case Some(cond) =>
        val ins = deduped.alias("s")
          .join(target.alias("t"), keyCond, "left_anti")
          .filter(coalesce(cond, lit(false)))
          .select(target.columns.toIndexedSeq.map(c => col(s"s.$c").as(c)): _*)
        updated.unionByName(ins)
    }
  }

  /** M2: upsert with audit columns. Matched rows keep their existing
    * `row_uuid` but refresh the ingestion timestamp; new rows get a fresh
    * uuid + timestamp (ref: `daily_sync.py:252-269`).
    */
  def mergeWithAudit(
      target: DataFrame,
      source: DataFrame,
      keys: Seq[String],
      audit: Audit,
      orderCol: Option[String] = None): DataFrame = {
    val ts: Column = audit.fixedTimestamp
      .map(s => lit(s).cast("timestamp_ntz"))
      .getOrElse(current_timestamp())
    val freshUuid: Column =
      if (audit.deterministic) md5(concat_ws("|", keys.map(c => col(c).cast("string")): _*))
      else expr("uuid()")

    val deduped = latestPerKey(source, keys, orderCol)
    // Carry existing uuids across the merge: left join source→target on keys.
    val existing = target.select((keys.map(col) :+ col(audit.uuidCol).as("__existing_uuid")): _*)
    val srcWithAudit = deduped
      .join(existing, keys, "left")
      .withColumn(audit.uuidCol, coalesce(col("__existing_uuid"), freshUuid))
      .drop("__existing_uuid")
      .withColumn(audit.tsCol, ts)
    kept(target, source, keys).unionByName(
      srcWithAudit.select(target.columns.map(col).toIndexedSeq: _*))
  }

  /** The target rows no source row matches: an anti-join on the RAW source
    * keys. Deduplicating the source changes which of its rows wins, never
    * which keys it holds, so the build side needs no second dedup shuffle.
    */
  private def kept(target: DataFrame, source: DataFrame, keys: Seq[String]): DataFrame =
    target.join(source.select(keys.map(col): _*), keys, "left_anti")

  /** The one landing path for a keyed increment into a plain-parquet target
    * partitioned by `partitionCol`; every sync mode calls it. One listing of
    * the target root decides how the increment lands:
    *
    *  - no partition directories yet (no target, or a legacy target written
    *    UNPARTITIONED, e.g. by `fullSync`): [[mergeAndSwap]] merges with
    *    whatever is there and publishes the partitioned layout through the
    *    atomic swap. A dynamic overwrite into a legacy layout would leave its
    *    root-level files in place and double-count every old row.
    *  - otherwise: days the source touches that have no partition yet are
    *    written straight from the deduplicated source, and days that exist
    *    are merged with ONLY their own partition directories, all in one
    *    dynamic partition overwrite ([[Dml.overwritePartitions]]). Untouched
    *    partitions are never opened and stay byte-identical.
    *
    * The partition column must be part of the merge key — the reference's
    * fact grain is exactly that, (TIME_ENTRY_ID, REPORTING_DATE) /
    * (WORK_ITEM_ID, REPORTING_DATE) (`snowflake_bq_sync_daily Time
    * Details/main.py:197-206`) — so a matched row never moves partitions.
    * Returns the rows written: every row of the rewritten partitions (the
    * sense of Delta's `numOutputRows`), counted by the write job itself.
    */
  def mergePartitioned(
      spark: SparkSession,
      targetPath: String,
      source: DataFrame,
      keys: Seq[String],
      partitionCol: String,
      orderCol: Option[String] = None): Long = {
    require(keys.contains(partitionCol),
      s"partition-scoped merge needs '$partitionCol' in the merge keys; " +
        "otherwise a matched row could move partitions and strand its old copy")
    val root = new Path(targetPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val entries = if (fs.exists(root)) fs.listStatus(root).toSeq else Nil
    val prefix = partitionCol + "="
    val days = entries.map(_.getPath.getName).filter(_.startsWith(prefix))
      .map(_.stripPrefix(prefix)).toSet
    val legacy = entries.exists(e => e.isFile && e.getPath.getName.endsWith(".parquet"))
    if (days.isEmpty || legacy) mergeAndSwap(source, targetPath, keys, orderCol, Seq(partitionCol))
    else {
      // the directory each touched day is written to, in the writer's own
      // encoding (value cast to string, escaped, null → default partition)
      val stale = source.select(col(partitionCol).cast("string")).distinct().collect()
        .map { r =>
          val v = r.getString(0)
          if (v == null || v.isEmpty) ExternalCatalogUtils.DEFAULT_PARTITION_NAME
          else ExternalCatalogUtils.escapePathName(v)
        }.filter(days.contains).toIndexedSeq
      val landed =
        if (stale.isEmpty) latestPerKey(source, keys, orderCol)
        else {
          // reads the directories it overwrites: safe under
          // Dml.overwritePartitions' self-read contract
          val target = spark.read.option("basePath", targetPath)
            .parquet(stale.map(d => s"$targetPath/$prefix$d"): _*)
          merge(target, source.select(target.columns.map(col).toIndexedSeq: _*), keys, orderCol)
        }
      countWritten(landed)(Dml.overwritePartitions(_, targetPath, Seq(partitionCol)))
    }
  }

  /** Merge-and-swap: upserts `source` into the WHOLE table at `targetPath`
    * and publishes the result through [[AtomicWriter.overwrite]]. The landing
    * path of a target with no partition layout: the first write and the
    * legacy target of [[mergePartitioned]], and every micro-batch of
    * `Streaming.upsertSink`. The first write is deduplicated like every
    * later one.
    *
    * A swap that died between its two renames left no table at `targetPath`
    * and the only full copy at `<targetPath>.__old__`. That copy is put back
    * before anything looks at the target, so a retry merges into the old
    * table instead of writing the increment alone (after which the swap
    * would delete the old copy). Returns the rows written.
    */
  private[graft] def mergeAndSwap(
      source: DataFrame,
      targetPath: String,
      keys: Seq[String],
      orderCol: Option[String],
      partitionBy: Seq[String] = Nil): Long = {
    val spark = source.sparkSession
    val dst = new Path(targetPath)
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val old = AtomicWriter.oldCopy(targetPath)
    if (!fs.exists(dst) && fs.exists(old)) fs.rename(old, dst)
    // a target holding only hidden files (an empty partitioned write leaves
    // just `_SUCCESS`) has no schema to read and nothing to keep
    val hasRows = fs.exists(dst) &&
      fs.listStatus(dst).exists(e => !e.getPath.getName.startsWith("_") &&
        !e.getPath.getName.startsWith("."))
    val landed =
      if (hasRows) {
        val target = spark.read.parquet(targetPath)
        merge(target, source.select(target.columns.map(col).toIndexedSeq: _*), keys, orderCol)
      } else latestPerKey(source, keys, orderCol)
    countWritten(landed)(AtomicWriter.overwrite(_, targetPath, partitionBy))
  }

  /** Runs `write` over `df` and returns the rows it wrote, counted by the
    * write job itself rather than by a second job. Attach it after any
    * `localCheckpoint`: metrics observed inside a checkpointed plan belong to
    * the checkpoint's job, so the written plan would never report them.
    */
  private[graft] def countWritten(df: DataFrame)(write: DataFrame => Unit): Long = {
    val obs = Observation()
    write(df.observe(obs, count(lit(1)).as("rows")))
    obs.get("rows").asInstanceOf[Long]
  }

  /** The source side of every merge here: one row per key, the greatest
    * `orderCol` winning (then `tieBreak`), else an arbitrary one. */
  private def latestPerKey(
      source: DataFrame,
      keys: Seq[String],
      orderCol: Option[String],
      tieBreak: Seq[Column] = Nil): DataFrame =
    orderCol match {
      case Some(c) => Core.dedupByKey(source, keys, col(c).desc +: tieBreak)
      case None => source.dropDuplicates(keys)
    }
}

/** Atomic write-and-swap for plain-parquet targets (the staging-table +
  * MERGE lifecycle of ref `snowflake_bq_sync_daily Time Details/main.py:120-123,217-219`
  * collapsed into write-temp-then-rename). Readers see either the old or the
  * new table, never a partial write. A crash between the two renames leaves
  * the old table at [[oldCopy]]; [[MergeInto.mergeAndSwap]] puts it back.
  */
object AtomicWriter {
  /** Writes `df` to a temp directory beside `path`, then swaps it in. A
    * partitioned write lands one file per partition per write, as
    * [[Dml.overwritePartitions]] does: the rows are hash-repartitioned by
    * `partitionBy` first.
    */
  def overwrite(df: DataFrame, path: String, partitionBy: Seq[String] = Nil): Unit = {
    val spark = df.sparkSession
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(path).getFileSystem(hadoopConf)
    val tmp = new Path(path + ".__tmp__")
    val dst = new Path(path)
    val bak = oldCopy(path)
    if (fs.exists(tmp)) fs.delete(tmp, true)
    val writer =
      if (partitionBy.isEmpty) df.write
      else df.repartition(partitionBy.map(col): _*).write.partitionBy(partitionBy: _*)
    writer.mode(SaveMode.Overwrite).parquet(tmp.toString)
    if (fs.exists(bak)) fs.delete(bak, true)
    if (fs.exists(dst)) fs.rename(dst, bak)
    fs.rename(tmp, dst)
    if (fs.exists(bak)) fs.delete(bak, true)
  }

  /** Where [[overwrite]] parks the old table during its swap. */
  private[merge] def oldCopy(path: String): Path = new Path(path + ".__old__")
}
