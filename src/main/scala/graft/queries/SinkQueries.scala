package graft.queries

import graft.merge.AtomicWriter
import graft.ops.Exact
import graft.sources.Tables
import graft.streaming.Streaming
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Write-path operators (SURVEY §2.1 S5–S10, §2.10 ST3) surfaced as
  * write-then-read-back queries so the sink semantics get driver CORRECTNESS
  * rows, not just ScalaTest coverage: each query writes to a fresh temp
  * directory, reads the table back, and the oracle states what the readers
  * must see.
  */
object SinkQueries extends QueryModule {

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  val defs: Map[String, Q] = Map(
    // S5: streaming-insert (append) sink — two appends accumulate
    // (`snowflake_bq_sync Time details/main.py:128-131,181`).
    "s5_append_roundtrip" -> ((s, dir) => {
      val path = tmp("graft_s5") + "/t"
      val orders = Tables.orders(s, dir)
      orders.filter(col("o_orderstatus") === "F").write.mode("append").parquet(path)
      orders.filter(col("o_orderstatus") === "O").write.mode("append").parquet(path)
      s.read.parquet(path)
    }),

    // VT1: versioned-table time travel — three commits (append F rows,
    // append O rows, overwrite with P rows) to a transaction log
    // (merge.Versioned), then EVERY version read back as-of through its
    // manifest. The per-version aggregate (row count, per-status counts,
    // exact key sum) proves each manifest scopes the scan to exactly its
    // snapshot: a directory-listing read would see all files and break
    // every row of the result.
    "vt1_time_travel" -> ((s, dir) => {
      val root = tmp("graft_vt1") + "/t"
      val o = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderstatus"))
      graft.merge.Versioned.append(o.filter(col("o_orderstatus") === "F"), root)
      graft.merge.Versioned.append(o.filter(col("o_orderstatus") === "O"), root)
      graft.merge.Versioned.overwrite(o.filter(col("o_orderstatus") === "P"), root)
      (1 to 3).map { v =>
        graft.merge.Versioned.read(s, root, asOf = Some(v)).agg(
          count(lit(1)).as("n_rows"),
          sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L)).as("n_f"),
          sum(when(col("o_orderstatus") === "O", 1L).otherwise(0L)).as("n_o"),
          sum(when(col("o_orderstatus") === "P", 1L).otherwise(0L)).as("n_p"),
          sum(col("o_orderkey")).as("key_sum")
        ).select(lit(v).as("version"), col("n_rows"), col("n_f"),
          col("n_o"), col("n_p"), col("key_sum"))
      }.reduce(_ unionAll _)
    }),

    // VT2: versioned-table rollback — commit good data (F), commit a bad
    // batch (O), roll back (a pointer-flip commit reusing v1's manifest,
    // zero data copied), then append the next good batch (P). The current
    // read must contain exactly F ∪ P: any O row surviving means the
    // rollback leaked the bad commit.
    "vt2_rollback" -> ((s, dir) => {
      val root = tmp("graft_vt2") + "/t"
      val o = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      graft.merge.Versioned.append(o.filter(col("o_orderstatus") === "F"), root)
      graft.merge.Versioned.append(o.filter(col("o_orderstatus") === "O"), root)
      graft.merge.Versioned.rollback(root, to = 1)
      graft.merge.Versioned.append(o.filter(col("o_orderstatus") === "P"), root)
      graft.merge.Versioned.read(s, root)
    }),

    // VT3: retention vacuum — three versions (F, overwrite O, overwrite P),
    // then vacuum keeping only the latest: the F/O data files are unlinked
    // (writes never delete; retention is this deliberate op), and the
    // current read — served from the surviving manifest — must still be
    // exactly the P rows. A vacuum that over-deletes breaks the read; one
    // that under-deletes is caught by VersionedSpec's disk assertions.
    "vt3_vacuum" -> ((s, dir) => {
      val root = tmp("graft_vt3") + "/t"
      val o = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      graft.merge.Versioned.append(o.filter(col("o_orderstatus") === "F"), root)
      graft.merge.Versioned.overwrite(o.filter(col("o_orderstatus") === "O"), root)
      graft.merge.Versioned.overwrite(o.filter(col("o_orderstatus") === "P"), root)
      graft.merge.Versioned.vacuum(root, keepLast = 1)
      graft.merge.Versioned.read(s, root)
    }),

    // VT4: CDC between versions — inserts/deletes going v1→v2 (an append)
    // and v2→v3 (an overwrite that keeps a deterministic F subset). Because
    // data files are immutable, multiset difference cancels manifest-shared
    // files exactly, so changes() reads ONLY the non-shared files (the
    // append's CDC costs O(changed files) at any table size — spec-pinned
    // via the plan's scan set). The F-subset rows the overwrite re-wrote
    // cancel BY VALUE against v2's F files: only the true deletes surface.
    "vt4_changes" -> ((s, dir) => {
      val root = tmp("graft_vt4") + "/t"
      val o = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderstatus"))
      graft.merge.Versioned.append(o.filter(col("o_orderstatus") === "F"), root)
      graft.merge.Versioned.append(o.filter(col("o_orderstatus") === "O"), root)
      graft.merge.Versioned.overwrite(
        o.filter(col("o_orderstatus") === "F" && pmod(col("o_orderkey"), lit(3)) =!= 0), root)
      graft.merge.Versioned.changes(s, root, 1, 2)
        .select(lit(1).as("from_v"), lit(2).as("to_v"), col("o_orderkey"),
          col("o_orderstatus"), col("change_type"))
        .unionAll(
          graft.merge.Versioned.changes(s, root, 2, 3)
            .select(lit(2).as("from_v"), lit(3).as("to_v"), col("o_orderkey"),
              col("o_orderstatus"), col("change_type")))
    }),

    // VT5: CDC APPLY — the downstream half of vt4: a replica materialized
    // at v1 is rolled forward by applying the v1→v2 and v2→v3 change sets
    // (never reading the source past v1). Multiset algebra reproduces v3
    // exactly: to = from ∖ deletes ⊎ inserts holds by changes()'s
    // construction, keys not required. The result must hash-match reading
    // v3 directly — which is what the oracle states.
    "vt5_cdc_apply" -> ((s, dir) => {
      val root = tmp("graft_vt5") + "/t"
      val o = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderstatus"))
      graft.merge.Versioned.append(o.filter(col("o_orderstatus") === "F"), root)
      graft.merge.Versioned.append(o.filter(col("o_orderstatus") === "O"), root)
      graft.merge.Versioned.overwrite(
        o.filter(col("o_orderstatus") === "F" && pmod(col("o_orderkey"), lit(3)) =!= 0), root)
      val replicaAtV1 = graft.merge.Versioned.read(s, root, asOf = Some(1))
      val atV2 = graft.merge.Versioned.applyChanges(replicaAtV1,
        graft.merge.Versioned.changes(s, root, 1, 2))
      graft.merge.Versioned.applyChanges(atV2,
        graft.merge.Versioned.changes(s, root, 2, 3))
    }),

    // VT5b: PARTITION-SCOPED CDC apply — vt5's semantics without its
    // O(replica) cost: the replica is a parquet table partitioned on
    // o_orderstatus, and each apply rewrites ONLY the partitions the change
    // set names (v1→v2 touches O; v2→v3 touches F and O; the P partition is
    // never scanned or rewritten — VersionedSpec pins that with the planned
    // scan set and on-disk file identity). All-rows-deleted partitions are
    // unlinked explicitly (dynamic overwrite alone would keep them). At
    // 100 TB this is the replica-maintenance path: a daily change set
    // touches ±window partitions, the other ~3650 stay cold.
    "vt5b_cdc_apply_partitioned" -> ((s, dir) => {
      val base = tmp("graft_vt5b")
      val root = base + "/t"; val replica = base + "/replica"
      val o = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderstatus"))
      graft.merge.Versioned.append(
        o.filter(col("o_orderstatus").isin("F", "P")), root)
      graft.merge.Versioned.append(o.filter(col("o_orderstatus") === "O"), root)
      graft.merge.Versioned.overwrite(
        o.filter(col("o_orderstatus") === "P" ||
          (col("o_orderstatus") === "F" && pmod(col("o_orderkey"), lit(3)) =!= 0)), root)
      graft.merge.Versioned.read(s, root, asOf = Some(1))
        .write.partitionBy("o_orderstatus").parquet(replica)
      graft.merge.Versioned.applyChangesPartitioned(s, replica, Seq("o_orderstatus"),
        graft.merge.Versioned.changes(s, root, 1, 2))
      graft.merge.Versioned.applyChangesPartitioned(s, replica, Seq("o_orderstatus"),
        graft.merge.Versioned.changes(s, root, 2, 3))
      s.read.parquet(replica).select(col("o_orderkey"), col("o_orderstatus"))
    }),

    // S11: JSONL sink roundtrip — the training-data interchange format
    // (one JSON object per line). Write the documents table as JSONL
    // (line-delimited text, map-side, no shuffle), read it back with an
    // explicit schema, and prove the roundtrip is lossless. At scale this is
    // the standard corpus export: shard-per-partition line files.
    "s11_jsonl_roundtrip" -> ((s, dir) => {
      val path = tmp("graft_s11") + "/t"
      Tables.documents(s, dir)
        .select(col("doc_id"), col("text"), col("lang"), col("source"))
        .write.mode("overwrite").json(path)
      s.read
        .schema("doc_id LONG, text STRING, lang STRING, source STRING")
        .json(path)
    }),

    // S12: CSV sink roundtrip — header + explicit read schema; doubles
    // survive because Spark writes shortest-representation decimals.
    "s12_csv_roundtrip" -> ((s, dir) => {
      val path = tmp("graft_s12") + "/t"
      Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
        .write.mode("overwrite").option("header", "true").csv(path)
      s.read.option("header", "true")
        .schema("c_custkey LONG, c_name STRING, c_acctbal DOUBLE").csv(path)
    }),

    // S14: ORC sink roundtrip — the second columnar format Spark ships
    // natively (vectorized reader, predicate pushdown, zlib default). The
    // roundtrip proves type fidelity incl. DATE; the oracle reads the same
    // projection straight from parquet, so any ORC coercion would mismatch.
    "s14_orc_roundtrip" -> ((s, dir) => {
      val path = tmp("graft_s14") + "/t"
      Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
          col("o_orderdate").cast("date").as("o_date"))
        .write.mode("overwrite").orc(path)
      s.read.orc(path)
    }),

    // S13: schema evolution — two parquet batches with different column
    // sets under one root; mergeSchema unions the footers and nulls the
    // columns each batch lacks (the additive-column migration every
    // long-lived sync target goes through).
    "s13_merge_schema" -> ((s, dir) => {
      val root = tmp("graft_s13") + "/t"
      val o = Tables.orders(s, dir)
      o.filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_orderstatus"))
        .write.mode("overwrite").parquet(s"$root/batch=1")
      o.filter(col("o_orderstatus") === "O")
        .select(col("o_orderkey"), col("o_totalprice"))
        .write.mode("overwrite").parquet(s"$root/batch=2")
      s.read.option("mergeSchema", "true").parquet(root)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    }),

    // S6: bulk-load sink — atomic overwrite then read back
    // (`work_item_budget_vs_actual_…_sync_daily/main.py:262-288`; Spark is
    // always bulk, the 100-row strategy switch disappears).
    "s6_bulk_roundtrip" -> ((s, dir) => {
      val path = tmp("graft_s6") + "/t"
      AtomicWriter.overwrite(
        Tables.customer(s, dir).select(col("c_custkey"), col("c_name"), col("c_acctbal")), path)
      s.read.parquet(path)
    }),

    // S7: temp staging lifecycle — stage as a temp view, query through SQL,
    // drop (`snowflake_bq_sync_daily Time Details/main.py:120-123,217-219`).
    "s7_staging_roundtrip" -> ((s, dir) => {
      Tables.supplier(s, dir).createOrReplaceTempView("graft_staging_supplier")
      // integer-cents sum: the 2-dp doubles sit off their decimal value
      // (8752.13 ≈ 8752.1299…), so a cast to DECIMAL rounds differently
      // across engines; ROUND(x*100) lands on the same integer everywhere
      val out = s.sql(
        """SELECT s_nationkey, COUNT(*) AS n_suppliers,
          |SUM(CAST(ROUND(s_acctbal * 100) AS BIGINT)) AS total_bal_cents
          |FROM graft_staging_supplier GROUP BY s_nationkey""".stripMargin)
        .localCheckpoint(true)
      s.catalog.dropTempView("graft_staging_supplier")
      out
    }),

    // S8: create-if-not-exists — the second (conflicting) write is skipped
    // because the table already exists (`snowflake_bq_sync Time details/main.py:29-101`).
    "s8_create_if_not_exists" -> ((s, dir) => {
      val path = tmp("graft_s8") + "/t"
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      if (!fs.exists(new org.apache.hadoop.fs.Path(path)))
        Tables.region(s, dir).write.parquet(path)
      if (!fs.exists(new org.apache.hadoop.fs.Path(path))) // second create: no-op
        Tables.nation(s, dir).write.mode("overwrite").parquet(path)
      s.read.parquet(path)
    }),

    // S9: date-partitioned sink — write partitioned, read back a pruned
    // slice (`work_item_details_…_daily/main.py:161-162`, the partitioning
    // the reference intended but left commented).
    "s9_partition_roundtrip" -> ((s, dir) => {
      val path = tmp("graft_s9") + "/t"
      Tables.lineitem(s, dir).write.partitionBy("l_returnflag").parquet(path)
      s.read.parquet(path).filter(col("l_returnflag") === "R")
    }),

    // S10: bucketed co-located fact-fact join — both sides written
    // bucketBy(join key) + sortBy, so the join needs NO exchange and no
    // sort-for-join of the big sides (asserted in PlanSpec). At 100 TB this
    // is the technique for repeated fact-fact joins: pay the bucketed write
    // once, join shuffle-free forever after. The merge hint pins SMJ so the
    // demo proves bucketing (not a broadcast) removed the shuffle.
    "s10_bucketed_join" -> ((s, dir) => {
      val base = tmp("graft_s10")
      // Per-invocation table names: fixed names leaked catalog entries across
      // reruns (each orphaning the previous temp-dir files) and would collide
      // between sessions sharing a metastore.
      val tag = base.replaceAll("[^A-Za-z0-9]", "").takeRight(10).toLowerCase
      val liTbl = s"graft_s10_li_$tag"; val ordTbl = s"graft_s10_ord_$tag"
      val perOrder = Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey"))
        .agg(Exact.sum2(col("l_quantity")).as("total_qty"))
      perOrder.write.mode("overwrite").option("path", s"$base/li")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable(liTbl)
      Tables.orders(s, dir).select(col("o_orderkey"), col("o_orderstatus"))
        .write.mode("overwrite").option("path", s"$base/ord")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable(ordTbl)
      val out = s.table(ordTbl)
        .join(s.table(liTbl).hint("merge"),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_orderkey"), col("o_orderstatus"), col("total_qty"))
      // Analysis is eager: `out`'s plan holds the resolved bucketed file
      // relations, so dropping the (external-path) catalog entries here keeps
      // the query runnable while leaving the session catalog clean.
      s.sql(s"DROP TABLE IF EXISTS $liTbl")
      s.sql(s"DROP TABLE IF EXISTS $ordTbl")
      out
    }),

    // VT6: manifest-level data skipping — two commits written range-
    // clustered on o_orderkey with per-file (min, max) recorded in the
    // manifest (one commit-sized pass each, never O(table)); the ranged
    // read plans ONLY overlapping files without opening a footer, then
    // applies the residual filter (stats prune files, never decide rows).
    // The spec pins that the scan set is a strict subset; correctness here
    // is the full BETWEEN result across both commits.
    "vt6_stats_pruned_read" -> ((s, dir) => {
      val root = tmp("graft_vt6") + "/t"
      val o = Tables.orders(s, dir).select(col("o_orderkey"), col("o_orderstatus"))
      graft.merge.Versioned.appendWithStats(
        o.filter(col("o_orderstatus") === "F").repartitionByRange(8, col("o_orderkey")),
        root, "o_orderkey")
      graft.merge.Versioned.appendWithStats(
        o.filter(col("o_orderstatus") === "O").repartitionByRange(8, col("o_orderkey")),
        root, "o_orderkey")
      graft.merge.Versioned.readPruned(s, root, "o_orderkey", lo = 1000L, hi = 5000L)
    }),

    // VT7: the composed skipping stack — ONE commit written z-order-
    // clustered on (o_orderkey, o_custkey) with multi-column manifest
    // stats, read back pruned on the SECOND dim. Two pruning levels stack:
    // the manifest's per-file (min, max) ranges plan only overlapping
    // files without opening a footer (VT6), and inside each planned file
    // the z layout's tight row-group stats skip most row groups (ZO2).
    // Neither level decides rows — the residual filter does — so the
    // result is exactly the BETWEEN, which is what the oracle states; the
    // measured file-level AND row-group-level skip ratios for this exact
    // composition are pinned in VersionedSpec.
    "vt7_zorder_stats_read" -> ((s, dir) => {
      val root = tmp("graft_vt7") + "/t"
      val o = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"))
      val st = o.agg(min(col("o_orderkey")), max(col("o_orderkey")),
        min(col("o_custkey")), max(col("o_custkey"))).head
      val stats = Seq((st.getLong(0), st.getLong(1)), (st.getLong(2), st.getLong(3)))
      graft.merge.Versioned.appendWithStats(
        graft.ops.ZOrder.zCluster(o,
          Seq(col("o_orderkey"), col("o_custkey")), stats, bits = 12, nFiles = 16),
        root, Seq("o_orderkey", "o_custkey"),
        options = Map("parquet.block.size" -> (64L << 10).toString))
      graft.merge.Versioned.readPruned(s, root, "o_custkey",
        lo = st.getLong(2), hi = st.getLong(2) + (st.getLong(3) - st.getLong(2)) / 16)
    }),

    // VT10: filter-driven AUTOMATIC skipping — the read a user actually
    // writes: hand readWhere an arbitrary predicate and the per-column
    // bounds are extracted from its Catalyst tree (conjunctions of
    // comparisons on tracked columns; everything else conservative), the
    // manifest plans only overlapping files, and the FULL predicate runs
    // as the residual. Same table shape as vt6; the predicate here mixes a
    // boundable BETWEEN with a status equality the stats don't track —
    // bounds prune, residual decides, the oracle states the WHERE.
    "vt10_read_where" -> ((s, dir) => {
      val root = tmp("graft_vt10") + "/t"
      val o = Tables.orders(s, dir).select(col("o_orderkey"), col("o_orderstatus"))
      graft.merge.Versioned.appendWithStats(
        o.filter(col("o_orderstatus") === "F").repartitionByRange(8, col("o_orderkey")),
        root, "o_orderkey")
      graft.merge.Versioned.appendWithStats(
        o.filter(col("o_orderstatus") === "O").repartitionByRange(8, col("o_orderkey")),
        root, "o_orderkey")
      graft.merge.Versioned.readWhere(s, root,
        col("o_orderkey").between(1000L, 5000L) && col("o_orderstatus") === "F")
    }),

    // VT12: copy-on-write MERGE through the log — the reference's signature
    // staged upsert (`snowflake_bq_sync_daily Time Details/main.py:197-206`)
    // landing on the TIME-TRAVELABLE substrate: a stats-tracked table of F
    // orders takes a source of updates (keys 1000-3000, price := key*2) plus
    // O-order inserts in the same window; mergeInto rewrites ONLY the
    // stats-overlapping files (spec-pinned in VersionedDmlSpec) and commits
    // removed+added as one delta. BOTH versions read back: v1 must be the
    // pre-merge state (copy-on-write, never mutate), v2 the upserted one —
    // which is exactly what the oracle states row-for-row.
    "vt12_merge_versioned" -> ((s, dir) => {
      val root = tmp("graft_vt12") + "/t"
      val V = graft.merge.Versioned
      val o = Tables.orders(s, dir)
      V.appendWithStats(
        o.filter(col("o_orderstatus") === "F")
          .select(col("o_orderkey"), col("o_totalprice"))
          .repartitionByRange(8, col("o_orderkey")), root, "o_orderkey")
      val window = col("o_orderkey").between(1000L, 3000L)
      val src = o.filter(col("o_orderstatus") === "F" && window)
        .select(col("o_orderkey"), (col("o_orderkey") * 2).cast("double").as("o_totalprice"))
        .unionAll(o.filter(col("o_orderstatus") === "O" && window)
          .select(col("o_orderkey"), lit(-1.0).as("o_totalprice")))
      V.mergeInto(s, root, src, Seq("o_orderkey"))
      V.read(s, root, Some(1))
        .select(lit(1).as("version"), col("o_orderkey"), col("o_totalprice"))
        .unionAll(V.read(s, root)
          .select(lit(2).as("version"), col("o_orderkey"), col("o_totalprice")))
    }),

    // VT12b: copy-on-write DELETE through the log — the reference's smart
    // date-window delete (`work_item_budget_vs_actual_…/main.py:368-408`)
    // against the versioned substrate: deleteWhere picks the affected files
    // from the manifest stats (boundable key window; the status term rides
    // as residual), rewrites only their surviving rows, delists the rest in
    // one delta. v1 still reads the full pre-delete table.
    "vt12b_delete_where" -> ((s, dir) => {
      val root = tmp("graft_vt12b") + "/t"
      val V = graft.merge.Versioned
      val o = Tables.orders(s, dir).select(col("o_orderkey"), col("o_orderstatus"))
      V.appendWithStats(o.repartitionByRange(8, col("o_orderkey")), root, "o_orderkey")
      V.deleteWhere(s, root,
        col("o_orderkey").between(1000L, 5000L) && col("o_orderstatus") === "F")
      V.read(s, root, Some(1))
        .select(lit(1).as("version"), col("o_orderkey"), col("o_orderstatus"))
        .unionAll(V.read(s, root)
          .select(lit(2).as("version"), col("o_orderkey"), col("o_orderstatus")))
    }),

    // VT10b: DATE-typed automatic skipping — the reference's canonical
    // predicate shape (`REPORTING_DATE BETWEEN …`, `snowflake_bq_sync_daily
    // Time Details/main.py:139-145`) pruning a versioned read directly:
    // stats on a DATE column encode as epoch days, the predicate's DATE
    // literals encode the same way, and the BETWEEN plans only overlapping
    // files (file-set equivalence with the hand-ranged read is spec-pinned).
    "vt10b_date_read_where" -> ((s, dir) => {
      val root = tmp("graft_vt10b") + "/t"
      val V = graft.merge.Versioned
      val o = Tables.orders(s, dir)
        .select(col("o_orderdate").cast("date").as("o_date"), col("o_orderkey"))
      V.appendWithStats(o.repartitionByRange(8, col("o_date")), root, "o_date")
      V.readWhere(s, root, col("o_date").between(
        lit(java.sql.Date.valueOf("1996-01-01")), lit(java.sql.Date.valueOf("1996-12-31"))))
    }),

    // VT10c: OR/IN range-UNION skipping — the reference's progressive
    // rotation windows (`main_progressive.py:31-54`) are disjunctions of
    // ranges; the pruning rule unions them per column, so BOTH windows
    // prune (round 14's walker read the whole file list on any OR). The
    // untracked status term stays residual.
    "vt10c_or_read_where" -> ((s, dir) => {
      val root = tmp("graft_vt10c") + "/t"
      val V = graft.merge.Versioned
      val o = Tables.orders(s, dir).select(col("o_orderkey"), col("o_orderstatus"))
      V.appendWithStats(o.repartitionByRange(8, col("o_orderkey")), root, "o_orderkey")
      V.readWhere(s, root,
        (col("o_orderkey").between(1000L, 2000L) || col("o_orderkey").between(8000L, 9000L))
          && col("o_orderstatus") === "F")
    }),

    // VT14: the versioned table as a NATIVE Spark relation — Versioned.table
    // returns a ManifestFileIndex-backed DataFrame, so CATALYST pushes the
    // predicates of ANY query shape into manifest-stats pruning at planning
    // time: here the reference's windowed shape runs as PLAIN SQL over a
    // temp view (`REPORTING_DATE BETWEEN`-style plus a disjunct tail), no
    // readWhere call anywhere. The spec pins the planning-time scan set;
    // correctness here is the full WHERE, which is what the oracle states.
    "vt14_relation_sql_skipping" -> ((s, dir) => {
      val root = tmp("graft_vt14") + "/t"
      val V = graft.merge.Versioned
      val o = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      V.appendWithStats(o.repartitionByRange(8, col("o_orderkey")), root, "o_orderkey")
      V.table(s, root).createOrReplaceTempView("graft_vt14_rel")
      val out = s.sql(
        """SELECT o_orderkey, o_orderstatus, o_totalprice FROM graft_vt14_rel
          |WHERE o_orderkey BETWEEN 1000 AND 5000 OR o_orderkey >= 12000""".stripMargin)
        .localCheckpoint(true)
      s.catalog.dropTempView("graft_vt14_rel")
      out
    }),

    // VT15: DESCRIBE HISTORY — the audit read every table format ships.
    // Four controlled commits (two appends, a rollback, an overwrite) with
    // pinned file counts (repartition(k) over non-empty frames writes
    // exactly k files), read back as pure manifest metadata: no data file
    // is opened, and the oracle is the literal expected ledger.
    "vt15_history" -> ((s, dir) => {
      val root = tmp("graft_vt15") + "/t"
      val V = graft.merge.Versioned
      val o = Tables.orders(s, dir).select(col("o_orderkey"), col("o_orderstatus"))
      V.append(o.filter(col("o_orderstatus") === "F").repartition(2), root)
      V.append(o.filter(col("o_orderstatus") === "O").repartition(3), root)
      V.rollback(root, to = 1)
      V.overwrite(o.filter(col("o_orderstatus") === "P").repartition(1), root)
      V.history(s, root).select(col("version"), col("op"), col("parent"), col("n_files"))
    }),

    // VT11: SCHEMA EVOLUTION through the log — the column-set contract is
    // tracked per version (a schema= line in full manifests; appends are
    // CHECKED against it, because a multi-file parquet read takes one
    // footer's schema and a drifted append would silently drop columns at
    // read time — VersionedSpec pins the refusal). Evolution is
    // overwrite()'s job: v1 commits the 2-column table, v2 overwrites with
    // a 3-column one, and BOTH versions read back under their own schema —
    // the additive-column migration (s13's mergeSchema story) done with
    // snapshot isolation instead of footer merging.
    "vt11_schema_evolution" -> ((s, dir) => {
      val root = tmp("graft_vt11") + "/t"
      val o = Tables.orders(s, dir)
      graft.merge.Versioned.append(
        o.filter(col("o_orderstatus") === "F")
          .select(col("o_orderkey"), col("o_orderstatus")), root)
      graft.merge.Versioned.overwrite(
        o.select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice")), root)
      graft.merge.Versioned.read(s, root, asOf = Some(1))
        .select(lit(1).as("version"), col("o_orderkey"), col("o_orderstatus"),
          lit(null).cast("double").as("o_totalprice"))
        .unionAll(graft.merge.Versioned.read(s, root)
          .select(lit(2).as("version"), col("o_orderkey"), col("o_orderstatus"),
            col("o_totalprice")))
    }),

    // VT8: CONCURRENT writers through the optimistic-retry append — four
    // threads land disjoint slices of orders on one table simultaneously.
    // The manifest CAS (hard-link promote) serializes them: each loser
    // re-reads the log and re-commits ITS OWN already-written files on top
    // of the winner (metadata-only retry — data lands once). The final
    // read must contain every thread's slice exactly once, whatever the
    // interleaving — which is what the oracle states (the slices partition
    // the table, so the result is the whole projection, order-free).
    "vt8_concurrent_appends" -> ((s, dir) => {
      val root = tmp("graft_vt8") + "/t"
      val o = Tables.orders(s, dir).select(col("o_orderkey"), col("o_orderstatus"))
      val errs = java.util.concurrent.ConcurrentHashMap.newKeySet[Throwable]()
      val threads = (0 until 4).map { t =>
        new Thread(() => {
          try { graft.merge.Versioned.appendWithRetry(
            o.filter(pmod(col("o_orderkey"), lit(4)) === t), root, maxRetries = 100); () }
          catch { case e: Throwable => errs.add(e); () }
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      if (!errs.isEmpty) throw new IllegalStateException(s"concurrent append failed: $errs")
      graft.merge.Versioned.read(s, root)
    }),

    // VT9: OPTIMIZE-style compaction through the log — six small slice
    // commits (the small-files shape a micro-batch sink accretes, each
    // stats-tracked) rewritten into 4 files by a `compact` commit that
    // RECOMPUTES the skipping stats, then a pruned read over the compacted
    // version. Readers of the pre-compact versions still plan the old
    // files (reclaim is vacuum's job); the result is exactly the BETWEEN —
    // compaction must be invisible to every reader except in file count
    // (VersionedSpec pins count, stats, history and txn survival).
    "vt9_compact_read" -> ((s, dir) => {
      val root = tmp("graft_vt9") + "/t"
      val o = Tables.orders(s, dir).select(col("o_orderkey"), col("o_orderstatus"))
      (0 until 6).foreach { i =>
        graft.merge.Versioned.appendWithStats(
          o.filter(pmod(col("o_orderkey"), lit(6)) === i)
            .repartitionByRange(4, col("o_orderkey")),
          root, "o_orderkey")
      }
      graft.merge.Versioned.compact(s, root, nFiles = 4)
      graft.merge.Versioned.readPruned(s, root, "o_orderkey", lo = 1000L, hi = 5000L)
    }),

    // ST17: the version log as an EXACTLY-ONCE streaming sink — foreachBatch
    // appends each micro-batch under its batch id, and the log's committed
    // id set is the replay-dedup state (no side store): run TWICE from a
    // fresh checkpoint (the st3 harness), and every second-run batch is
    // skipped because its id is already in the log. One copy of every row,
    // plus full time travel over the ingest history, comes out of the same
    // manifest mechanism vt1-vt5 verify.
    "st17_versioned_stream_sink" -> ((s, dir) => {
      val base = tmp("graft_st17")
      val srcDir = base + "/src"; val root = base + "/t"
      val ev = Tables.events(s, dir)
        .filter(col("ts") < lit("2024-01-08 00:00:00").cast("timestamp_ntz"))
        .select(col("event_id"), col("user_id"), col("event_type"))
      ev.write.parquet(srcDir)
      val schema = s.read.parquet(srcDir).schema
      def run(tag: String): Unit =
        s.readStream.schema(schema).parquet(srcDir)
          .writeStream
          .option("checkpointLocation", s"$base/ckpt_$tag")
          .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
            graft.merge.Versioned.appendStreamBatch(df, root, id); ()
          }
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start().awaitTermination()
      run("a"); run("b") // fresh checkpoint: same batch ids replay → skipped
      graft.merge.Versioned.read(s, root)
    }),

    // ST18: exactly-once streaming MERGE into the versioned log — the
    // reference's signature scheduled upsert (`snowflake_bq_sync_daily Time
    // Details/main.py:197-206`) run CONTINUOUSLY: foreachBatch hands each
    // micro-batch to mergeStreamBatch, which is a copy-on-write MERGE
    // (vt12) guarded by the log's accumulated batch-id txn set (st17).
    // Run TWICE with fresh checkpoints (the st17 replay harness — same
    // batch ids, same data): every second-run batch finds its id in the
    // log and skips, so updates apply exactly once and no insert doubles.
    // Target: F orders (stats-tracked); stream source: price updates for a
    // key window + O-order inserts in the same window — the vt12 shape,
    // arriving as micro-batches instead of one staged frame.
    "st18_versioned_stream_merge" -> ((s, dir) => {
      val base = tmp("graft_st18")
      val srcDir = base + "/src"; val root = base + "/t"
      val V = graft.merge.Versioned
      val o = Tables.orders(s, dir)
      V.appendWithStats(
        o.filter(col("o_orderstatus") === "F")
          .select(col("o_orderkey"), col("o_totalprice"))
          .repartitionByRange(8, col("o_orderkey")), root, "o_orderkey")
      val window = col("o_orderkey").between(1000L, 3000L)
      // keys are UNIQUE across the source (o_orderkey is the orders PK), so
      // however AvailableNow partitions the files into batches, the final
      // merged state is batch-order-independent — deterministic oracle
      o.filter(col("o_orderstatus") === "F" && window)
        .select(col("o_orderkey"), (col("o_orderkey") * 2).cast("double").as("o_totalprice"))
        .unionAll(o.filter(col("o_orderstatus") === "O" && window)
          .select(col("o_orderkey"), lit(-1.0).as("o_totalprice")))
        .repartition(3).write.parquet(srcDir)
      val schema = s.read.parquet(srcDir).schema
      def run(tag: String): Unit =
        s.readStream.schema(schema).parquet(srcDir)
          .writeStream
          .option("checkpointLocation", s"$base/ckpt_$tag")
          .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
            V.mergeStreamBatch(s, root, df, Seq("o_orderkey"), id); ()
          }
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start().awaitTermination()
      run("a"); run("b") // fresh checkpoint: same ids replay → txn-skipped
      V.read(s, root)
    }),

    // VT16: metadata-only ADD COLUMN — schema evolution as a CONTRACT-ONLY
    // commit (zero files rewritten — spec-pinned): evolve() appends the
    // column to the recorded schema, old-generation files read it as typed
    // NULL under the new contract (explicit-read-schema semantics), a
    // post-evolve append lands real values, and time travel still reads v1
    // under the ORIGINAL 2-column contract. At 100 TB this is the
    // difference between a sub-second metadata op and rewriting the table.
    "vt16_add_column" -> ((s, dir) => {
      val root = tmp("graft_vt16") + "/t"
      val V = graft.merge.Versioned
      val o = Tables.orders(s, dir)
      V.append(o.filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_orderstatus")), root)
      V.evolve(root, "o_totalprice DOUBLE")
      V.append(o.filter(col("o_orderstatus") === "O")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice")), root)
      V.read(s, root, Some(1))
        .select(lit(1).as("version"), col("o_orderkey"), col("o_orderstatus"),
          lit(null).cast("double").as("o_totalprice"))
        .unionAll(V.read(s, root)
          .select(lit(3).as("version"), col("o_orderkey"), col("o_orderstatus"),
            col("o_totalprice")))
    }),

    // VT17: KEYED CDC — the Delta-CDF read shape: a MERGE-driven update
    // surfaces as a LINKED update_pre/update_post pair (same key, old and
    // new row) instead of an unlinked delete+insert, so a keyed downstream
    // replica applies point writes. v1 = F orders; v2 = mergeInto with
    // price updates for a key window plus O-order inserts: the window keys
    // pair up, the new keys tag insert, nothing tags plain delete.
    // VT28: the versioned table as a DSv2 BATCH source —
    // `spark.read.format("graft-versioned")` with Delta's reader options:
    // the head read serves the DV-deleted snapshot (victims dropped
    // executor-side, no joins), `versionAsOf` time-travels the pre-delete
    // snapshot, and a pushed window filter prunes files at PLANNING time
    // through the manifest stats (the flag hash-fails if the scan stops
    // planning a strict subset).
    "vt28_dsv2_batch_read" -> ((s, dir) => {
      val root = tmp("graft_vt28") + "/t"
      val V = graft.merge.Versioned
      val o = Tables.orders(s, dir)
      V.appendWithStats(
        o.filter(col("o_orderstatus") === "F")
          .select(col("o_orderkey"), col("o_totalprice"))
          .repartitionByRange(8, col("o_orderkey")), root, "o_orderkey")
      V.deleteWhereDV(s, root, col("o_orderkey").between(1000L, 3000L))
      val fmt = classOf[graft.streaming.VersionedStreamSource].getName
      val head = s.read.format(fmt).option("path", root).load()
      val v1 = s.read.format(fmt).option("path", root)
        .option("versionAsOf", "1").load()
      val total = V.currentVersion(root).get.files.length
      val planned = head.filter(col("o_orderkey") <= 500L)
        .queryExecution.executedPlan.collect {
          case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
            b.partitions.length
        }.sum
      head.select(lit(2).as("version"), col("o_orderkey"), col("o_totalprice"))
        .unionAll(v1.select(lit(1).as("version"), col("o_orderkey"),
          col("o_totalprice")))
        .withColumn("filter_pruned", lit(if (planned < total) 1 else 0))
    }),

    // VT29: the TableCatalog SQL surface — the versioned table addressed
    // by ROOT PATH in plain SQL: INSERT INTO routes the guarded append
    // (constraints/contract/CAS), SELECT serves the head with deletion
    // vectors applied, and VERSION AS OF time-travels — no DataFrame API
    // in the query path at all. The session registers the catalog
    // (`graft.GraftSession`).
    "vt29_sql_catalog" -> ((s, dir) => {
      val root = tmp("graft_vt29") + "/t"
      val V = graft.merge.Versioned
      val o = Tables.orders(s, dir)
      V.appendWithStats(
        o.filter(col("o_orderstatus") === "F")
          .select(col("o_orderkey"), col("o_totalprice"))
          .repartitionByRange(8, col("o_orderkey")), root, "o_orderkey")
      V.deleteWhereDV(s, root, col("o_orderkey").between(1000L, 3000L))
      o.filter(col("o_orderstatus") === "P")
        .select(col("o_orderkey"), col("o_totalprice"))
        .createOrReplaceTempView("vt29_src")
      s.sql(s"INSERT INTO graft.`$root` SELECT * FROM vt29_src")
      s.sql(
        s"""SELECT 3 AS version, o_orderkey, o_totalprice FROM graft.`$root`
           |UNION ALL
           |SELECT 1, o_orderkey, o_totalprice FROM graft.`$root` VERSION AS OF 1
           |""".stripMargin)
    }),

    // VT31: NULL-COUNT file skipping — fmt=6 manifests record per-file
    // (rowCount, nullCount per stats col) in the same fused commit pass;
    // IS NULL prunes files with provably no nulls, IS NOT NULL prunes
    // entirely-null files (Spark auto-generates IsNotNull for strict
    // filters, so sparse tables skip dead files on ordinary predicates).
    // Three clustered generations land orders with o_orderkey nulled for
    // O rows in one commit and intact in the others; both probes carry
    // planning-subset flags that hash-fail if the pruning degrades.
    "vt31_null_skipping" -> ((s, dir) => {
      val root = tmp("graft_vt31") + "/t"
      val V = graft.merge.Versioned
      val o = Tables.orders(s, dir)
      V.appendWithStats(o.filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
        .coalesce(1), root, "o_orderkey")
      V.appendWithStats(o.filter(col("o_orderstatus") === "O")
        .select(lit(null).cast("long").as("o_orderkey"), col("o_totalprice"),
          col("o_orderstatus")).coalesce(1), root, "o_orderkey")
      V.appendWithStats(o.filter(col("o_orderstatus") === "P")
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
        .coalesce(1), root, "o_orderkey")
      val fmt = classOf[graft.streaming.VersionedStreamSource].getName
      val t = s.read.format(fmt).option("path", root).load()
      def planned(df: org.apache.spark.sql.DataFrame): Int =
        df.queryExecution.executedPlan.collect {
          case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
            b.partitions.length
        }.sum
      val total = V.currentVersion(root).get.files.length
      val isNull = t.filter(col("o_orderkey").isNull)
      val notNull = t.filter(col("o_orderkey").isNotNull)
      val flags = planned(isNull) < total && planned(notNull) < total
      isNull.select(lit("null").as("probe"), col("o_totalprice"),
          col("o_orderstatus"))
        .unionAll(notNull.select(lit("notnull").as("probe"), col("o_totalprice"),
          col("o_orderstatus")))
        .withColumn("planned_subset", lit(if (flags) 1 else 0))
    }),

    // VT27b: CDC ACROSS MERGE-ON-READ COMMITS — rows deleted by a deletion
    // vector never leave their file, so a file-diff CDC would silently miss
    // them; changes() reads dv-CHANGED files on both sides under each
    // side's own vectors and the multiset difference surfaces exactly the
    // victims as deletes (and an update-dv's rewrite as inserts), while
    // untouched shared files still cancel without being read.
    "vt27b_dv_cdc" -> ((s, dir) => {
      val root = tmp("graft_vt27b") + "/t"
      val V = graft.merge.Versioned
      val o = Tables.orders(s, dir)
      V.appendWithStats(
        o.filter(col("o_orderstatus") === "F")
          .select(col("o_orderkey"), col("o_totalprice"))
          .repartitionByRange(8, col("o_orderkey")), root, "o_orderkey")
      V.deleteWhereDV(s, root, col("o_orderkey").between(1000L, 3000L))
      V.updateWhereDV(s, root, col("o_orderkey").between(4000L, 6000L),
        Map("o_totalprice" -> (col("o_totalprice") * 2)))
      V.changes(s, root, 1, 3)
    }),

    "vt17_cdc_by_key" -> ((s, dir) => {
      val root = tmp("graft_vt17") + "/t"
      val V = graft.merge.Versioned
      val o = Tables.orders(s, dir)
      V.appendWithStats(
        o.filter(col("o_orderstatus") === "F")
          .select(col("o_orderkey"), col("o_totalprice"))
          .repartitionByRange(8, col("o_orderkey")), root, "o_orderkey")
      val window = col("o_orderkey").between(1000L, 3000L)
      val src = o.filter(col("o_orderstatus") === "F" && window)
        .select(col("o_orderkey"), (col("o_orderkey") * 2).cast("double").as("o_totalprice"))
        .unionAll(o.filter(col("o_orderstatus") === "O" && window)
          .select(col("o_orderkey"), lit(-1.0).as("o_totalprice")))
      V.mergeInto(s, root, src, Seq("o_orderkey"))
      V.changesByKey(s, root, 1, 2, Seq("o_orderkey"))
    }),

    // ST19: the versioned table as a streaming SOURCE — the loop st17/st18
    // close as a sink, read back out: three commits (F, O, P orders) become
    // three commit-ordered micro-batches under AvailableNow (one VERSION
    // per batch — the log IS the offset log), each row tagged with its
    // batch id; a second drain from the SAME checkpoint emits nothing
    // (offsets survive), which the unchanged row set proves. batch id b
    // serves version b+1's added files, so the (batch, status) pairing is
    // the deterministic ledger the oracle states.
    "st19_versioned_stream_source" -> ((s, dir) => {
      val base = tmp("graft_st19")
      val root = base + "/t"; val out = base + "/out"
      val V = graft.merge.Versioned
      val o = Tables.orders(s, dir).select(col("o_orderkey"), col("o_orderstatus"))
      V.append(o.filter(col("o_orderstatus") === "F"), root)
      V.append(o.filter(col("o_orderstatus") === "O"), root)
      V.append(o.filter(col("o_orderstatus") === "P"), root)
      def drain(): Unit =
        s.readStream.format(classOf[graft.streaming.VersionedStreamSource].getName)
          .option("path", root).load()
          .writeStream
          .option("checkpointLocation", s"$base/ckpt")
          .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
            df.withColumn("batch", lit(id)).write.mode("append").parquet(out); ()
          }
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start().awaitTermination()
      drain(); drain() // same checkpoint: the second drain must add nothing
      s.read.parquet(out).select(col("batch"), col("o_orderkey"), col("o_orderstatus"))
    }),

    // VT18: OPTIMIZE ZORDER BY through the log — six single-column-tracked
    // micro-batch commits (the st17 accretion shape) rewritten by ONE
    // atomic compact-zorder commit clustering on (o_orderkey, o_custkey)
    // with the skipping stats RETRACKED to both dims; the read then prunes
    // on the SECOND dimension, which the pre-compact layout couldn't skip
    // at all (each commit's files spanned the whole custkey domain). Old
    // versions still plan their old files; the result is exactly the
    // BETWEEN, which is what the oracle states.
    "vt18_zorder_compact" -> ((s, dir) => {
      val root = tmp("graft_vt18") + "/t"
      val V = graft.merge.Versioned
      val o = Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"))
      (0 until 6).foreach { i =>
        V.appendWithStats(
          o.filter(pmod(col("o_orderkey"), lit(6)) === i)
            .repartitionByRange(2, col("o_orderkey")), root, "o_orderkey")
      }
      V.compactZOrder(s, root, Seq("o_orderkey", "o_custkey"), nFiles = 16,
        options = Map("parquet.block.size" -> (64L << 10).toString))
      val st = o.agg(min(col("o_custkey")), max(col("o_custkey"))).head
      V.readWhere(s, root, col("o_custkey").between(
        st.getLong(0), st.getLong(0) + (st.getLong(1) - st.getLong(0)) / 16))
    }),

    // ST20: the END-TO-END versioned streaming pipeline — bronze→silver
    // through the log on BOTH sides: a versioned BRONZE table (three
    // commits) is read as a stream (st19's source, one commit per batch),
    // a transform filters it (drop P orders — the curation step), and each
    // micro-batch lands EXACTLY-ONCE in a versioned SILVER table via the
    // batch-id txn guard (st17's sink). Run twice with fresh checkpoints:
    // the second run replays the same batch ids and every one skips, so
    // silver holds one copy of exactly the F∪O rows — the medallion loop
    // closed with time travel on both ends.
    "st20_versioned_pipeline" -> ((s, dir) => {
      val base = tmp("graft_st20")
      val bronze = base + "/bronze"; val silver = base + "/silver"
      val V = graft.merge.Versioned
      val o = Tables.orders(s, dir).select(col("o_orderkey"), col("o_orderstatus"))
      V.append(o.filter(col("o_orderstatus") === "F"), bronze)
      V.append(o.filter(col("o_orderstatus") === "O"), bronze)
      V.append(o.filter(col("o_orderstatus") === "P"), bronze)
      def run(tag: String): Unit =
        s.readStream.format(classOf[graft.streaming.VersionedStreamSource].getName)
          .option("path", bronze).load()
          .filter(col("o_orderstatus") =!= "P")
          .writeStream
          .option("checkpointLocation", s"$base/ckpt_$tag")
          .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
            V.appendStreamBatch(df, silver, id); ()
          }
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start().awaitTermination()
      run("a"); run("b") // fresh checkpoint: same ids replay → txn-skipped
      V.read(s, silver)
    }),

    // VT19: timestamp-based TIME TRAVEL — every commit records wall-time in
    // its manifest header (monotonic-clamped), and readAsOfTimestamp
    // resolves "the table as a reader at instant t saw it" = the greatest
    // version committed at or before t (Delta's timestampAsOf semantics).
    // Three spaced commits (F, O, P orders); probes pin the boundary rules:
    // exactly AT a commit's ts sees that commit, one millisecond BEFORE it
    // sees the predecessor, far in the future sees the head. The natural
    // audit read for the reference's daily-snapshot model ("the table as of
    // REPORTING_DATE X's close").
    "vt19_time_travel_ts" -> ((s, dir) => {
      val root = tmp("graft_vt19") + "/t"
      val V = graft.merge.Versioned
      val o = Tables.orders(s, dir).select(col("o_orderkey"), col("o_orderstatus"))
      // 15 ms gaps make the three commit timestamps STRICTLY increasing
      // (millisecond clock + monotonic clamp), so every probe is exact
      V.append(o.filter(col("o_orderstatus") === "F"), root)
      Thread.sleep(15)
      V.append(o.filter(col("o_orderstatus") === "O"), root)
      Thread.sleep(15)
      V.append(o.filter(col("o_orderstatus") === "P"), root)
      val ts = V.history(s, root).select(col("commit_ts")).collect()
        .map(_.getLong(0)).sorted
      def probe(tag: String, at: Long) =
        V.readAsOfTimestamp(s, root, at).select(lit(tag).as("probe"),
          col("o_orderkey"), col("o_orderstatus"))
      probe("at_v1", ts(0))
        .unionAll(probe("before_v2", ts(1) - 1))
        .unionAll(probe("at_v2", ts(1)))
        .unionAll(probe("late", ts(2) + 3600L * 1000))
    }),

    // VT20: CHECK / NOT NULL constraints in the schema contract — the
    // reference validates required columns before each merge
    // (`snowflake_bq_sync Time details/daily_sync.py:159-166`); here the
    // constraint is RECORDED in the log (a metadata-only `constrain`
    // commit, admitted only because current data passes) and every later
    // write counts the violating rows in its own write tasks, refusing
    // loudly on violation. The query proves the whole lifecycle: add two
    // constraints, a violating append (negative price + NULL key) REFUSES
    // and leaves the table untouched, a valid append lands — the
    // `violation_refused` flag rides every row so a silently-accepted bad
    // append would hash-mismatch twice over.
    "vt20_constraints" -> ((s, dir) => {
      val root = tmp("graft_vt20") + "/t"
      val V = graft.merge.Versioned
      val o = Tables.orders(s, dir)
      V.append(o.filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_totalprice")), root)
      V.addConstraint(s, root, "price_pos", "o_totalprice > 0")
      V.addNotNull(s, root, "o_orderkey")
      val bad = o.filter(col("o_orderstatus") === "F").limit(5)
        .select(col("o_orderkey"), (-col("o_totalprice")).as("o_totalprice"))
        .unionAll(o.filter(col("o_orderstatus") === "F").limit(3)
          .select(lit(null).cast("bigint").as("o_orderkey"), col("o_totalprice")))
      val refused =
        try { V.append(bad, root); false }
        catch { case e: IllegalArgumentException
          if e.getMessage.contains("CHECK constraint") => true }
      V.append(o.filter(col("o_orderstatus") === "O")
        .select(col("o_orderkey"), col("o_totalprice")), root)
      V.read(s, root).withColumn("violation_refused", lit(if (refused) 1 else 0))
    }),

    // VT16b: metadata-only DROP COLUMN — evolve()'s other half: the shrunk
    // contract commits without touching a data file, the head reads
    // WITHOUT the column (selecting it would throw — the query's head
    // branch proves absence by construction), a post-drop 2-column append
    // LANDS (it would refuse against the old 3-column contract — the
    // lifecycle proof), and v1 time-travels with the column intact.
    "vt16b_drop_column" -> ((s, dir) => {
      val root = tmp("graft_vt16b") + "/t"
      val V = graft.merge.Versioned
      val o = Tables.orders(s, dir)
      V.append(o.filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice")), root)
      V.evolveDrop(root, Seq("o_totalprice"))
      V.append(o.filter(col("o_orderstatus") === "O")
        .select(col("o_orderkey"), col("o_orderstatus")), root)
      V.read(s, root, Some(1))
        .select(lit(1).as("version"), col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice"))
        .unionAll(V.read(s, root) // head: 2 columns only — price is GONE
          .select(lit(3).as("version"), col("o_orderkey"), col("o_orderstatus"),
            lit(null).cast("double").as("o_totalprice")))
    }),

    // VT21: SHALLOW CLONE — a zero-copy writable copy through the manifest
    // (Delta's SHALLOW CLONE): the clone's v1 references the source's data
    // files by absolute path (no data moved), carried stats/schema/
    // constraints intact; a COW merge on the CLONE rewrites only its
    // affected inherited files clone-locally while the SOURCE stays
    // byte-identical. The output reads both tables — the source must show
    // the original prices, the clone the merged state — so any leak of
    // the merge into the source (or a lost inherited file) hash-fails.
    "vt21_shallow_clone" -> ((s, dir) => {
      val base = tmp("graft_vt21")
      val src = base + "/src"; val dst = base + "/clone"
      val V = graft.merge.Versioned
      val o = Tables.orders(s, dir)
      V.appendWithStats(
        o.filter(col("o_orderstatus") === "F")
          .select(col("o_orderkey"), col("o_totalprice"))
          .repartitionByRange(8, col("o_orderkey")), src, "o_orderkey")
      V.cloneTable(src, dst)
      val window = col("o_orderkey").between(1000L, 3000L)
      val upd = o.filter(col("o_orderstatus") === "F" && window)
        .select(col("o_orderkey"), (col("o_orderkey") * 2).cast("double").as("o_totalprice"))
        .unionAll(o.filter(col("o_orderstatus") === "O" && window)
          .select(col("o_orderkey"), lit(-1.0).as("o_totalprice")))
      V.mergeInto(s, dst, upd, Seq("o_orderkey"))
      V.read(s, src)
        .select(lit("source").as("side"), col("o_orderkey"), col("o_totalprice"))
        .unionAll(V.read(s, dst)
          .select(lit("clone").as("side"), col("o_orderkey"), col("o_totalprice")))
    }),

    // VT23: multi-table ATOMIC transaction — two-phase marker commit across
    // two versioned roots: staged versions are invisible until ONE atomic
    // marker rename publishes both (st20's medallion gap: bronze and silver
    // can now commit together). The row proves the whole lifecycle — a
    // committed txn lands on BOTH tables, an aborted txn lands on NEITHER,
    // and the pre_commit_excluded flag hash-fails if a reader ever saw
    // staged state before the publish.
    "vt23_multi_table_txn" -> ((s, dir) => {
      val base = tmp("graft_vt23")
      val (ta, tb) = (base + "/a", base + "/b")
      val V = graft.merge.Versioned
      val o = Tables.orders(s, dir)
      def slice(st: String) = o.filter(col("o_orderstatus") === st)
        .select(col("o_orderkey"), col("o_orderstatus"))
      V.append(slice("F"), ta)
      V.append(slice("O"), tb)
      val preA = V.read(s, ta).count(); val preB = V.read(s, tb).count()
      // txn 1: stage P into BOTH, verify invisibility, then publish
      val txn1 = V.beginTransaction(base + "/_txns")
      V.appendStaged(slice("P"), ta, txn1)
      V.appendStaged(slice("P"), tb, txn1)
      val excluded = V.read(s, ta).count() == preA && V.read(s, tb).count() == preB
      V.commitTransaction(txn1)
      // txn 2: stage more rows into both, then ABORT — nothing may land
      val txn2 = V.beginTransaction(base + "/_txns")
      V.appendStaged(slice("O"), ta, txn2)
      V.appendStaged(slice("F"), tb, txn2)
      V.abortTransaction(txn2)
      V.read(s, ta).select(lit("a").as("side"), col("o_orderkey"), col("o_orderstatus"))
        .unionAll(V.read(s, tb)
          .select(lit("b").as("side"), col("o_orderkey"), col("o_orderstatus")))
        .withColumn("pre_commit_excluded", lit(if (excluded) 1 else 0))
    }),

    // VT26: per-file BLOOM bits in the manifest — point-lookup file
    // skipping on a high-cardinality column the file layout does NOT sort
    // (rows are shuffled on price, so o_orderkey ranges span every file
    // and min/max pruning is useless — exactly the bloom's regime). Probes
    // for the min and max F keys must return those rows (zero false
    // negatives); the flag records that an ABSENT key's probe planned a
    // strict file subset — deterministic for fixed data, since the bloom
    // bits are pure xxhash64.
    // VT27: DELETION VECTORS — merge-on-read DELETE and UPDATE (the
    // Delta/Iceberg-v2 positional-delete design): victim positions land in
    // a parquet sidecar attached via the manifest, data files never move
    // (`mor_zero_copy` hash-fails if a delete rewrote or delisted a file).
    // Three phases prove the full lifecycle: the MOR head serves
    // survivors + updated rows through the in-scan vectors, purgeDeletes folds
    // the vectors into clean files with identical rows, and v1
    // time-travels the pre-delete snapshot intact.
    "vt27_deletion_vectors" -> ((s, dir) => {
      val root = tmp("graft_vt27") + "/t"
      val V = graft.merge.Versioned
      val o = Tables.orders(s, dir)
      V.appendWithStats(
        o.filter(col("o_orderstatus") === "F")
          .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
          .repartitionByRange(8, col("o_orderkey")), root, "o_orderkey")
      val v1 = V.currentVersion(root).get
      // merge-on-read DELETE: a key window vanishes, zero data files moved
      val v2 = V.deleteWhereDV(s, root, col("o_orderkey").between(1000L, 3000L))
      // merge-on-read UPDATE: a second window re-priced; originals DV'd out
      val v3 = V.updateWhereDV(s, root, col("o_orderkey").between(4000L, 6000L),
        Map("o_totalprice" -> (col("o_totalprice") * 2),
          "o_orderstatus" -> lit("U")))
      val zeroCopy = v2.files == v1.files && v3.dvs.nonEmpty &&
        v1.files.forall(v3.files.contains)
      def shape(tag: String, df: org.apache.spark.sql.DataFrame) =
        df.select(lit(tag).as("phase"), col("o_orderkey"), col("o_totalprice"),
          col("o_orderstatus"))
      // plan the MOR head NOW (the purge below commits a new version, but
      // this frame's file list is already resolved and files are immutable)
      val morHead = shape("mor", V.read(s, root))
      V.purgeDeletes(s, root)
      shape("v1", V.read(s, root, Some(1)))
        .unionAll(morHead)
        .unionAll(shape("purged", V.read(s, root)))
        .withColumn("mor_zero_copy", lit(if (zeroCopy) 1 else 0))
    }),

    "vt26_bloom_lookup" -> ((s, dir) => {
      val root = tmp("graft_vt26") + "/t"
      val V = graft.merge.Versioned
      val o = Tables.orders(s, dir)
      val f = o.filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_totalprice"))
      // key-UNSORTED layout (shuffled on price): every file's o_orderkey
      // [min,max] spans ~the whole domain, so the TRACKED range stats are
      // honest but useless for a key probe — only the bloom prunes
      V.appendWithStats(
        f.repartitionByRange(16, col("o_totalprice")),
        root, Seq("o_orderkey"), bloomCols = Seq("o_orderkey"))
      val r = f.agg(min(col("o_orderkey")), max(col("o_orderkey"))).head
      val (lo, hi) = (r.getLong(0), r.getLong(1))
      val total = V.currentVersion(root).get.files.length
      val pruned = V.readEquals(s, root, "o_orderkey", hi + 1000L)
        .inputFiles.length < total
      V.readEquals(s, root, "o_orderkey", lo)
        .unionAll(V.readEquals(s, root, "o_orderkey", hi))
        .unionAll(V.readEquals(s, root, "o_orderkey", hi + 1000L)) // absent: 0 rows
        .withColumn("absent_probe_pruned", lit(if (pruned) 1 else 0))
    }),

    // VT25: copy-on-write UPDATE through the log — the third DML verb
    // (Delta's UPDATE beside vt12b's DELETE and vt12's MERGE): a windowed
    // SET rewrites only key-overlapping files (flag column hash-fails on a
    // full-table rewrite), non-matching rows carry bit-identical, and v1
    // time-travels the pre-update values.
    "vt25_update" -> ((s, dir) => {
      val root = tmp("graft_vt25") + "/t"
      val V = graft.merge.Versioned
      val o = Tables.orders(s, dir)
      V.appendWithStats(
        o.filter(col("o_orderstatus") === "F")
          .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
          .repartitionByRange(8, col("o_orderkey")), root, "o_orderkey")
      val pre = V.currentVersion(root).get
      val post = V.updateWhere(s, root, col("o_orderkey").between(1000L, 3000L),
        Map("o_totalprice" -> (col("o_totalprice") * 2),
          "o_orderstatus" -> lit("U")))
      val bounded = (pre.files.toSet -- post.files.toSet).size < pre.files.size
      def shape(v: Int, df: org.apache.spark.sql.DataFrame) =
        df.select(lit(v).as("version"), col("o_orderkey"), col("o_totalprice"),
          col("o_orderstatus"))
      shape(1, V.read(s, root, Some(1)))
        .unionAll(shape(2, V.read(s, root)))
        .withColumn("cow_bounded", lit(if (bounded) 1 else 0))
    }),

    // VT23b: staged COW DML inside a multi-table transaction — a fact
    // restatement (mergeIntoStaged on A) and the matching window delete
    // (deleteWhereStaged on B) publish ATOMICALLY with one marker rename;
    // a second staged-DML txn aborts and must leave no trace. The
    // pre-publish flag proves readers saw the pre-txn state of BOTH
    // tables while the DML was staged.
    "vt23b_txn_staged_dml" -> ((s, dir) => {
      val base = tmp("graft_vt23b")
      val (ta, tb) = (base + "/a", base + "/b")
      val V = graft.merge.Versioned
      val o = Tables.orders(s, dir)
      val window = col("o_orderkey").between(1000L, 3000L)
      V.appendWithStats(
        o.filter(col("o_orderstatus") === "F")
          .select(col("o_orderkey"), col("o_totalprice"))
          .repartitionByRange(8, col("o_orderkey")), ta, "o_orderkey")
      V.appendWithStats(
        o.filter(col("o_orderstatus") === "O")
          .select(col("o_orderkey"), col("o_totalprice"))
          .repartitionByRange(8, col("o_orderkey")), tb, "o_orderkey")
      val sumA = V.read(s, ta).agg(sum(col("o_orderkey"))).head.getLong(0)
      val cntB = V.read(s, tb).count()
      val txn = V.beginTransaction(base + "/_txns")
      V.mergeIntoStaged(s, ta,
        o.filter(col("o_orderstatus") === "F" && window)
          .select(col("o_orderkey"),
            (col("o_orderkey") * 2).cast("double").as("o_totalprice")),
        Seq("o_orderkey"), txn)
      V.deleteWhereStaged(s, tb, window, txn)
      val excluded = // staged DML invisible on BOTH tables pre-publish
        V.read(s, ta).agg(sum(col("o_orderkey"))).head.getLong(0) == sumA &&
          V.read(s, tb).count() == cntB
      V.commitTransaction(txn)
      val txn2 = V.beginTransaction(base + "/_txns")
      V.deleteWhereStaged(s, ta, col("o_orderkey") >= 0L, txn2)
      V.mergeIntoStaged(s, tb,
        o.filter(col("o_orderstatus") === "O" && window)
          .select(col("o_orderkey"), lit(-1.0).as("o_totalprice")),
        Seq("o_orderkey"), txn2)
      V.abortTransaction(txn2)
      V.read(s, ta).select(lit("a").as("side"), col("o_orderkey"), col("o_totalprice"))
        .unionAll(V.read(s, tb)
          .select(lit("b").as("side"), col("o_orderkey"), col("o_totalprice")))
        .withColumn("pre_commit_excluded", lit(if (excluded) 1 else 0))
    }),

    // VT24: metadata-only column RENAME via column mapping — the contract
    // carries the new LOGICAL name while data files keep their physical
    // one (zero files touched; Delta's column-mapping design). The head
    // reads `amount` (selecting it proves the rename landed), a post-rename
    // append under the new shape lands and unifies with pre-rename file
    // generations, and v1 time-travels under the ORIGINAL name.
    "vt24_rename" -> ((s, dir) => {
      val root = tmp("graft_vt24") + "/t"
      val V = graft.merge.Versioned
      val o = Tables.orders(s, dir)
      V.appendWithStats(
        o.filter(col("o_orderstatus") === "F")
          .select(col("o_orderkey"), col("o_totalprice"))
          .repartitionByRange(8, col("o_orderkey")), root, "o_orderkey")
      V.evolveRename(root, "o_totalprice", "amount")
      V.appendWithStats(
        o.filter(col("o_orderstatus") === "O")
          .select(col("o_orderkey"), col("o_totalprice").as("amount")),
        root, "o_orderkey")
      V.read(s, root, Some(1))
        .select(lit(1).as("version"), col("o_orderkey"),
          col("o_totalprice").as("amount")) // v1: the OLD name, by name
        .unionAll(V.read(s, root)
          .select(lit(3).as("version"), col("o_orderkey"), col("amount")))
    }),

    // VT21b: DEEP clone — the materializing form: the clone copies the
    // source's bytes clone-local (relative paths, symmetric vacuum) and the
    // SOURCE IS DELETED OUTRIGHT before the read — a shallow clone would
    // fail at scan time here, so the row itself proves ownership transfer.
    "vt21b_deep_clone" -> ((s, dir) => {
      val base = tmp("graft_vt21b")
      val src = base + "/src"; val dst = base + "/deep"
      val V = graft.merge.Versioned
      val o = Tables.orders(s, dir)
      V.appendWithStats(
        o.filter(col("o_orderstatus") === "F")
          .select(col("o_orderkey"), col("o_totalprice"))
          .repartitionByRange(8, col("o_orderkey")), src, "o_orderkey")
      V.cloneTable(src, dst, deep = true)
      val p = new org.apache.hadoop.fs.Path(src)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      V.read(s, dst)
    }),

    // VT22: the FULL conditional-clause MERGE grammar THROUGH the log —
    // m10's Delta clause model (WHEN MATCHED AND price<0 THEN DELETE /
    // WHEN MATCHED THEN UPDATE SET doubled / WHEN NOT MATCHED AND gated
    // THEN INSERT) running as a copy-on-write commit on the versioned
    // substrate: only key-overlapping files rewrite (the flag column
    // hash-fails if the COW ever degrades to a full rewrite), and v1
    // time-travels with the pre-merge rows — deleted ones included.
    "vt22_merge_clauses_versioned" -> ((s, dir) => {
      val root = tmp("graft_vt22") + "/t"
      val V = graft.merge.Versioned
      val o = Tables.orders(s, dir)
      V.appendWithStats(
        o.filter(col("o_orderstatus") === "F")
          .select(col("o_orderkey"), col("o_totalprice"))
          .repartitionByRange(8, col("o_orderkey")), root, "o_orderkey")
      val window = col("o_orderkey").between(1000L, 3000L)
      val source = o.filter(col("o_orderstatus") === "F" && window)
        .select(col("o_orderkey"),
          when(pmod(col("o_orderkey"), lit(2)) === 0, -col("o_totalprice"))
            .otherwise(col("o_totalprice")).as("o_totalprice"))
        // insert candidates share the window: a source whose keys spray the
        // whole domain would honestly widen the COW to every file (the
        // range-set algebra covers what COULD match) — the windowed shape
        // is what keeps the rewrite bounded, same as a real backfill
        .unionAll(o.filter(col("o_orderstatus") === "P" && window)
          .select(col("o_orderkey"), col("o_totalprice")))
      val pre = V.currentVersion(root).get
      val post = V.mergeIntoClauses(s, root, source, Seq("o_orderkey"),
        matched = Seq(
          graft.merge.MergeInto.MergeAction.Delete(Some(col("s.o_totalprice") < 0)),
          graft.merge.MergeInto.MergeAction.Update(None,
            Map("o_totalprice" -> (col("s.o_totalprice") * 2)))),
        insert = Some(col("s.o_totalprice") > lit(50000.0)))
      val cowBounded = (pre.files.toSet -- post.files.toSet).size < pre.files.size
      V.read(s, root, Some(1))
        .select(lit(1).as("version"), col("o_orderkey"), col("o_totalprice"))
        .unionAll(V.read(s, root)
          .select(lit(2).as("version"), col("o_orderkey"), col("o_totalprice")))
        .withColumn("cow_bounded", lit(if (cowBounded) 1 else 0))
    }),

    // ST3: foreachBatch upsert sink, run TWICE from a fresh checkpoint — the
    // replay must be idempotent because every micro-batch is MERGEd by key
    // (`streaming/Streaming.scala`; ref merge `main.py:197-206`).
    "st3_stream_upsert_roundtrip" -> ((s, dir) => {
      val base = tmp("graft_st3")
      val srcDir = base + "/src"; val tgt = base + "/target"
      val ev = Tables.events(s, dir)
        .filter(col("ts") < lit("2024-01-08 00:00:00").cast("timestamp_ntz"))
      ev.write.parquet(srcDir)
      val schema = s.read.parquet(srcDir).schema
      def run(): Unit =
        Streaming.upsertSink(s.readStream.schema(schema).parquet(srcDir), tgt,
          Seq("event_id"), None).start().awaitTermination()
      run(); run() // second run replays every file; keys collapse to one row
      s.read.parquet(tgt)
    })
  )

  val oracles: Map[String, String] = Map(
    "s5_append_roundtrip" ->
      """SELECT * FROM orders WHERE o_orderstatus = 'F'
        |UNION ALL SELECT * FROM orders WHERE o_orderstatus = 'O'""".stripMargin,
    "s6_bulk_roundtrip" -> "SELECT c_custkey, c_name, c_acctbal FROM customer",
    "vt1_time_travel" ->
      """WITH c AS (SELECT o_orderstatus AS st, COUNT(*) AS n,
        |  CAST(SUM(o_orderkey) AS BIGINT) AS ks FROM orders GROUP BY 1)
        |SELECT 1 AS version, n AS n_rows, n AS n_f, CAST(0 AS BIGINT) AS n_o,
        |  CAST(0 AS BIGINT) AS n_p, ks AS key_sum FROM c WHERE st = 'F'
        |UNION ALL
        |SELECT 2, f.n + o.n, f.n, o.n, CAST(0 AS BIGINT), f.ks + o.ks
        |FROM c f, c o WHERE f.st = 'F' AND o.st = 'O'
        |UNION ALL
        |SELECT 3, n, CAST(0 AS BIGINT), CAST(0 AS BIGINT), n, ks
        |FROM c WHERE st = 'P'""".stripMargin,
    "vt2_rollback" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |WHERE o_orderstatus IN ('F', 'P')""".stripMargin,
    "vt3_vacuum" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |WHERE o_orderstatus = 'P'""".stripMargin,
    "vt4_changes" ->
      """SELECT 1 AS from_v, 2 AS to_v, o_orderkey, o_orderstatus,
        |  'insert' AS change_type FROM orders WHERE o_orderstatus = 'O'
        |UNION ALL
        |SELECT 2, 3, o_orderkey, o_orderstatus, 'delete'
        |FROM orders WHERE o_orderstatus = 'O'
        |UNION ALL
        |SELECT 2, 3, o_orderkey, o_orderstatus, 'delete'
        |FROM orders WHERE o_orderstatus = 'F' AND o_orderkey % 3 = 0""".stripMargin,
    "vt5_cdc_apply" ->
      """SELECT o_orderkey, o_orderstatus FROM orders
        |WHERE o_orderstatus = 'F' AND o_orderkey % 3 <> 0""".stripMargin,
    "vt5b_cdc_apply_partitioned" ->
      """SELECT o_orderkey, o_orderstatus FROM orders
        |WHERE o_orderstatus = 'P'
        |   OR (o_orderstatus = 'F' AND o_orderkey % 3 <> 0)""".stripMargin,
    "vt7_zorder_stats_read" ->
      """WITH b AS (SELECT min(o_custkey) AS mn, max(o_custkey) AS mx FROM orders)
        |SELECT o_orderkey, o_custkey FROM orders, b
        |WHERE o_custkey BETWEEN b.mn AND b.mn + (b.mx - b.mn) // 16""".stripMargin,
    "s11_jsonl_roundtrip" -> "SELECT doc_id, text, lang, source FROM documents",
    "s12_csv_roundtrip" -> "SELECT c_custkey, c_name, c_acctbal FROM customer",
    "s14_orc_roundtrip" ->
      "SELECT o_orderkey, o_orderstatus, o_totalprice, CAST(o_orderdate AS DATE) AS o_date FROM orders",
    "s13_merge_schema" ->
      """SELECT o_orderkey, o_orderstatus, CAST(NULL AS DOUBLE) AS o_totalprice
        |FROM orders WHERE o_orderstatus = 'F'
        |UNION ALL
        |SELECT o_orderkey, CAST(NULL AS VARCHAR), o_totalprice
        |FROM orders WHERE o_orderstatus = 'O'""".stripMargin,
    "s7_staging_roundtrip" ->
      """SELECT s_nationkey, COUNT(*) AS n_suppliers,
        |CAST(SUM(CAST(ROUND(s_acctbal * 100) AS BIGINT)) AS BIGINT) AS total_bal_cents
        |FROM supplier GROUP BY s_nationkey""".stripMargin,
    "s8_create_if_not_exists" -> "SELECT * FROM region",
    "s9_partition_roundtrip" ->
      "SELECT * FROM lineitem WHERE l_returnflag = 'R'",
    "s10_bucketed_join" ->
      """SELECT o_orderkey, o_orderstatus,
        |CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
        |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |GROUP BY o_orderkey, o_orderstatus""".stripMargin,
    "st3_stream_upsert_roundtrip" ->
      """SELECT event_id, ts, user_id, event_type, value, props FROM events
        |WHERE ts < TIMESTAMP '2024-01-08 00:00:00'""".stripMargin,
    "vt6_stats_pruned_read" ->
      """SELECT o_orderkey, o_orderstatus FROM orders
        |WHERE o_orderstatus IN ('F', 'O') AND o_orderkey BETWEEN 1000 AND 5000""".stripMargin,
    "vt8_concurrent_appends" -> "SELECT o_orderkey, o_orderstatus FROM orders",
    "vt10_read_where" ->
      """SELECT o_orderkey, o_orderstatus FROM orders
        |WHERE o_orderstatus = 'F' AND o_orderkey BETWEEN 1000 AND 5000""".stripMargin,
    // n_files is the version's CUMULATIVE state size (a version IS its full
    // file list), not the commit's own file count: v2 = v1's 2 + its own 3
    "vt15_history" ->
      """SELECT * FROM (VALUES
        |  (1, 'append', 0, 2), (2, 'append', 1, 5),
        |  (3, 'rollback', 1, 2), (4, 'overwrite', 3, 1))
        |AS t(version, op, parent, n_files)""".stripMargin,
    "vt14_relation_sql_skipping" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |WHERE o_orderkey BETWEEN 1000 AND 5000 OR o_orderkey >= 12000""".stripMargin,
    "vt12_merge_versioned" ->
      """SELECT 1 AS version, o_orderkey, o_totalprice FROM orders
        |WHERE o_orderstatus = 'F'
        |UNION ALL
        |SELECT 2, o_orderkey,
        |  CASE WHEN o_orderkey BETWEEN 1000 AND 3000
        |       THEN CAST(o_orderkey * 2 AS DOUBLE) ELSE o_totalprice END
        |FROM orders WHERE o_orderstatus = 'F'
        |UNION ALL
        |SELECT 2, o_orderkey, CAST(-1 AS DOUBLE)
        |FROM orders WHERE o_orderstatus = 'O' AND o_orderkey BETWEEN 1000 AND 3000""".stripMargin,
    "vt12b_delete_where" ->
      """SELECT 1 AS version, o_orderkey, o_orderstatus FROM orders
        |UNION ALL
        |SELECT 2, o_orderkey, o_orderstatus FROM orders
        |WHERE NOT (o_orderkey BETWEEN 1000 AND 5000 AND o_orderstatus = 'F')""".stripMargin,
    "vt10b_date_read_where" ->
      """SELECT CAST(o_orderdate AS DATE) AS o_date, o_orderkey FROM orders
        |WHERE CAST(o_orderdate AS DATE)
        |  BETWEEN DATE '1996-01-01' AND DATE '1996-12-31'""".stripMargin,
    "vt10c_or_read_where" ->
      """SELECT o_orderkey, o_orderstatus FROM orders
        |WHERE (o_orderkey BETWEEN 1000 AND 2000 OR o_orderkey BETWEEN 8000 AND 9000)
        |  AND o_orderstatus = 'F'""".stripMargin,
    "vt11_schema_evolution" ->
      """SELECT 1 AS version, o_orderkey, o_orderstatus,
        |  CAST(NULL AS DOUBLE) AS o_totalprice
        |FROM orders WHERE o_orderstatus = 'F'
        |UNION ALL
        |SELECT 2, o_orderkey, o_orderstatus, o_totalprice FROM orders""".stripMargin,
    "vt9_compact_read" ->
      """SELECT o_orderkey, o_orderstatus FROM orders
        |WHERE o_orderkey BETWEEN 1000 AND 5000""".stripMargin,
    // st17: one copy of every pre-cutoff event despite the double run
    "st17_versioned_stream_sink" ->
      """SELECT event_id, user_id, event_type FROM events
        |WHERE ts < TIMESTAMP '2024-01-08 00:00:00'""".stripMargin,
    // st18: the merged end state, exactly once — window updates applied
    // once, O inserts present once, everything else untouched
    "st18_versioned_stream_merge" ->
      """SELECT o_orderkey,
        |  CASE WHEN o_orderkey BETWEEN 1000 AND 3000
        |       THEN CAST(o_orderkey * 2 AS DOUBLE) ELSE o_totalprice END AS o_totalprice
        |FROM orders WHERE o_orderstatus = 'F'
        |UNION ALL
        |SELECT o_orderkey, CAST(-1 AS DOUBLE)
        |FROM orders WHERE o_orderstatus = 'O' AND o_orderkey BETWEEN 1000 AND 3000""".stripMargin,
    "vt16_add_column" ->
      """SELECT 1 AS version, o_orderkey, o_orderstatus,
        |  CAST(NULL AS DOUBLE) AS o_totalprice
        |FROM orders WHERE o_orderstatus = 'F'
        |UNION ALL
        |SELECT 3, o_orderkey, o_orderstatus,
        |  CASE WHEN o_orderstatus = 'O' THEN o_totalprice ELSE CAST(NULL AS DOUBLE) END
        |FROM orders WHERE o_orderstatus IN ('F', 'O')""".stripMargin,
    // st19: batch id = commit order (F→0, O→1, P→2), one copy of every row
    // despite the double drain
    "st19_versioned_stream_source" ->
      """SELECT CAST(CASE o_orderstatus WHEN 'F' THEN 0 WHEN 'O' THEN 1 ELSE 2 END
        |  AS BIGINT) AS batch, o_orderkey, o_orderstatus
        |FROM orders WHERE o_orderstatus IN ('F', 'O', 'P')""".stripMargin,
    "vt18_zorder_compact" ->
      """WITH b AS (SELECT min(o_custkey) AS mn, max(o_custkey) AS mx FROM orders)
        |SELECT o_orderkey, o_custkey FROM orders, b
        |WHERE o_custkey BETWEEN b.mn AND b.mn + (b.mx - b.mn) // 16""".stripMargin,
    // st20: one copy of the non-P rows despite the double run
    "st20_versioned_pipeline" ->
      """SELECT o_orderkey, o_orderstatus FROM orders
        |WHERE o_orderstatus IN ('F', 'O')""".stripMargin,
    // vt19: at/before/after each commit's recorded wall-time, the probe
    // sees exactly that version's accumulated state
    "vt19_time_travel_ts" ->
      """SELECT 'at_v1' AS probe, o_orderkey, o_orderstatus FROM orders
        |WHERE o_orderstatus = 'F'
        |UNION ALL
        |SELECT 'before_v2', o_orderkey, o_orderstatus FROM orders
        |WHERE o_orderstatus = 'F'
        |UNION ALL
        |SELECT 'at_v2', o_orderkey, o_orderstatus FROM orders
        |WHERE o_orderstatus IN ('F', 'O')
        |UNION ALL
        |SELECT 'late', o_orderkey, o_orderstatus FROM orders
        |WHERE o_orderstatus IN ('F', 'O', 'P')""".stripMargin,
    // vt20: the violating append left no rows behind and the refusal was
    // observed (flag = 1 on every surviving row)
    "vt20_constraints" ->
      """SELECT o_orderkey, o_totalprice, 1 AS violation_refused FROM orders
        |WHERE o_orderstatus IN ('F', 'O')""".stripMargin,
    // vt16b: v1 keeps the real prices; the head (F∪O) reads without the
    // dropped column (NULL-projected into the union's shared shape)
    "vt16b_drop_column" ->
      """SELECT 1 AS version, o_orderkey, o_orderstatus, o_totalprice
        |FROM orders WHERE o_orderstatus = 'F'
        |UNION ALL
        |SELECT 3, o_orderkey, o_orderstatus, CAST(NULL AS DOUBLE)
        |FROM orders WHERE o_orderstatus IN ('F', 'O')""".stripMargin,
    // vt21: the source still reads original F prices; the clone reads the
    // vt12-shape merged state (window updates + O-window inserts)
    "vt21_shallow_clone" ->
      """SELECT 'source' AS side, o_orderkey, o_totalprice FROM orders
        |WHERE o_orderstatus = 'F'
        |UNION ALL
        |SELECT 'clone', o_orderkey,
        |  CASE WHEN o_orderkey BETWEEN 1000 AND 3000
        |       THEN CAST(o_orderkey * 2 AS DOUBLE) ELSE o_totalprice END
        |FROM orders WHERE o_orderstatus = 'F'
        |UNION ALL
        |SELECT 'clone', o_orderkey, CAST(-1 AS DOUBLE)
        |FROM orders WHERE o_orderstatus = 'O' AND o_orderkey BETWEEN 1000 AND 3000""".stripMargin,
    // vt27: v1 = the full F snapshot; mor = F minus the deleted window,
    // the update window re-priced/re-statused (served through the
    // in-scan deletion vectors); purged = the same rows from clean files
    "vt27_deletion_vectors" ->
      """SELECT 'v1' AS phase, o_orderkey, o_totalprice, o_orderstatus,
        |  1 AS mor_zero_copy FROM orders WHERE o_orderstatus = 'F'
        |UNION ALL
        |SELECT p, o_orderkey,
        |  CASE WHEN o_orderkey BETWEEN 4000 AND 6000
        |       THEN o_totalprice * 2 ELSE o_totalprice END,
        |  CASE WHEN o_orderkey BETWEEN 4000 AND 6000
        |       THEN 'U' ELSE o_orderstatus END,
        |  1
        |FROM orders CROSS JOIN (VALUES ('mor'), ('purged')) AS t(p)
        |WHERE o_orderstatus = 'F'
        |  AND NOT (o_orderkey BETWEEN 1000 AND 3000)""".stripMargin,
    // vt26: exactly the min- and max-key F rows (bloom pruning must never
    // lose a row); the absent probe contributes nothing and its planned
    // subset rides the flag
    "vt26_bloom_lookup" ->
      """SELECT o_orderkey, o_totalprice, 1 AS absent_probe_pruned
        |FROM orders WHERE o_orderstatus = 'F' AND o_orderkey IN (
        |  (SELECT min(o_orderkey) FROM orders WHERE o_orderstatus = 'F'),
        |  (SELECT max(o_orderkey) FROM orders WHERE o_orderstatus = 'F'))""".stripMargin,
    // vt25: v1 = the pre-update F snapshot; head = the window doubled and
    // re-statused, everything else bit-identical
    "vt25_update" ->
      """SELECT 1 AS version, o_orderkey, o_totalprice, o_orderstatus,
        |  1 AS cow_bounded FROM orders WHERE o_orderstatus = 'F'
        |UNION ALL
        |SELECT 2, o_orderkey,
        |  CASE WHEN o_orderkey BETWEEN 1000 AND 3000
        |       THEN o_totalprice * 2 ELSE o_totalprice END,
        |  CASE WHEN o_orderkey BETWEEN 1000 AND 3000
        |       THEN 'U' ELSE o_orderstatus END,
        |  1
        |FROM orders WHERE o_orderstatus = 'F'""".stripMargin,
    // vt23b: a = F with the window restated to key*2 (committed staged
    // merge; the aborted full-delete must be absent), b = O minus the
    // window (committed staged delete; the aborted merge must be absent)
    "vt23b_txn_staged_dml" ->
      """SELECT 'a' AS side, o_orderkey,
        |  CASE WHEN o_orderkey BETWEEN 1000 AND 3000
        |       THEN CAST(o_orderkey * 2 AS DOUBLE) ELSE o_totalprice END
        |    AS o_totalprice,
        |  1 AS pre_commit_excluded
        |FROM orders WHERE o_orderstatus = 'F'
        |UNION ALL
        |SELECT 'b', o_orderkey, o_totalprice, 1
        |FROM orders WHERE o_orderstatus = 'O'
        |  AND NOT (o_orderkey BETWEEN 1000 AND 3000)""".stripMargin,
    // vt23: table a = F ∪ P (committed txn), table b = O ∪ P; the aborted
    // txn's O-into-a / F-into-b rows must be absent, and the flag = 1
    // records that staged state was invisible before the publish
    "vt23_multi_table_txn" ->
      """SELECT 'a' AS side, o_orderkey, o_orderstatus, 1 AS pre_commit_excluded
        |FROM orders WHERE o_orderstatus IN ('F', 'P')
        |UNION ALL
        |SELECT 'b', o_orderkey, o_orderstatus, 1
        |FROM orders WHERE o_orderstatus IN ('O', 'P')""".stripMargin,
    // vt24: v1 = the F snapshot under the original column; head = F (old
    // file generation, read through the mapping) ∪ O (post-rename files)
    "vt24_rename" ->
      """SELECT 1 AS version, o_orderkey, o_totalprice AS amount FROM orders
        |WHERE o_orderstatus = 'F'
        |UNION ALL
        |SELECT 3, o_orderkey, o_totalprice FROM orders
        |WHERE o_orderstatus IN ('F', 'O')""".stripMargin,
    // vt21b: the deep clone serves the full F snapshot from its own copied
    // bytes — the source was deleted before the read
    "vt21b_deep_clone" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_orderstatus = 'F'""".stripMargin,
    // vt22: v1 = the pre-merge F snapshot intact (deleted rows included);
    // head replays the clause CASE — even window keys deleted, odd ones
    // doubled, P orders inserted only past the price gate. cow_bounded = 1
    // on every row records that the COW rewrote a strict file subset.
    "vt22_merge_clauses_versioned" ->
      """SELECT 1 AS version, o_orderkey, o_totalprice, 1 AS cow_bounded
        |FROM orders WHERE o_orderstatus = 'F'
        |UNION ALL
        |SELECT 2, o_orderkey, o_totalprice, 1 FROM orders
        |WHERE o_orderstatus = 'F' AND NOT (o_orderkey BETWEEN 1000 AND 3000)
        |UNION ALL
        |SELECT 2, o_orderkey, o_totalprice * 2, 1 FROM orders
        |WHERE o_orderstatus = 'F' AND o_orderkey BETWEEN 1000 AND 3000
        |  AND o_orderkey % 2 = 1
        |UNION ALL
        |SELECT 2, o_orderkey, o_totalprice, 1 FROM orders
        |WHERE o_orderstatus = 'P' AND o_orderkey BETWEEN 1000 AND 3000
        |  AND o_totalprice > 50000""".stripMargin,
    // vt17: window keys present in BOTH versions pair as update_pre (old
    // price) + update_post (key*2); O-window keys are pure inserts
    // vt31: the null probe = exactly the O rows (their key was nulled),
    // the not-null probe = F ∪ P; both flags = 1
    "vt31_null_skipping" ->
      """SELECT 'null' AS probe, o_totalprice, o_orderstatus, 1 AS planned_subset
        |FROM orders WHERE o_orderstatus = 'O'
        |UNION ALL
        |SELECT 'notnull', o_totalprice, o_orderstatus, 1
        |FROM orders WHERE o_orderstatus IN ('F', 'P')""".stripMargin,
    // vt29: head (v3) = F minus the dv-deleted window plus the SQL-inserted
    // P rows; VERSION AS OF 1 = the full F snapshot
    "vt29_sql_catalog" ->
      """SELECT 3 AS version, o_orderkey, o_totalprice
        |FROM orders WHERE o_orderstatus = 'F'
        |  AND NOT (o_orderkey BETWEEN 1000 AND 3000)
        |UNION ALL
        |SELECT 3, o_orderkey, o_totalprice FROM orders WHERE o_orderstatus = 'P'
        |UNION ALL
        |SELECT 1, o_orderkey, o_totalprice FROM orders
        |WHERE o_orderstatus = 'F'""".stripMargin,
    // vt28: head (v2) = F minus the dv-deleted window; versionAsOf 1 = the
    // full F snapshot; the pruning flag rides every row
    "vt28_dsv2_batch_read" ->
      """SELECT 2 AS version, o_orderkey, o_totalprice, 1 AS filter_pruned
        |FROM orders WHERE o_orderstatus = 'F'
        |  AND NOT (o_orderkey BETWEEN 1000 AND 3000)
        |UNION ALL
        |SELECT 1, o_orderkey, o_totalprice, 1
        |FROM orders WHERE o_orderstatus = 'F'""".stripMargin,
    // vt27b: the dv-deleted window surfaces as deletes; the update window
    // as its pre-image deletes plus re-priced inserts — nothing else
    "vt27b_dv_cdc" ->
      """SELECT o_orderkey, o_totalprice, 'delete' AS change_type
        |FROM orders WHERE o_orderstatus = 'F' AND o_orderkey BETWEEN 1000 AND 3000
        |UNION ALL
        |SELECT o_orderkey, o_totalprice, 'delete'
        |FROM orders WHERE o_orderstatus = 'F' AND o_orderkey BETWEEN 4000 AND 6000
        |UNION ALL
        |SELECT o_orderkey, o_totalprice * 2, 'insert'
        |FROM orders WHERE o_orderstatus = 'F' AND o_orderkey BETWEEN 4000 AND 6000""".stripMargin,
    "vt17_cdc_by_key" ->
      """SELECT o_orderkey, o_totalprice, 'update_pre' AS _change_type
        |FROM orders WHERE o_orderstatus = 'F' AND o_orderkey BETWEEN 1000 AND 3000
        |UNION ALL
        |SELECT o_orderkey, CAST(o_orderkey * 2 AS DOUBLE), 'update_post'
        |FROM orders WHERE o_orderstatus = 'F' AND o_orderkey BETWEEN 1000 AND 3000
        |UNION ALL
        |SELECT o_orderkey, CAST(-1 AS DOUBLE), 'insert'
        |FROM orders WHERE o_orderstatus = 'O' AND o_orderkey BETWEEN 1000 AND 3000""".stripMargin
  )
}
