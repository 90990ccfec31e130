package graft.queries

import graft.merge.{Dml, MergeInto}
import graft.ops.Exact
import graft.sources.Tables
import graft.sync.SyncPipeline
import org.apache.spark.sql.functions._

/** SURVEY §2.9 MERGE/DML (M1–M8) + §2.10 incremental semantics
  * (ST1/ST2/ST5/ST6)
  * as verifiable queries. The merge scenarios are built from overlapping
  * slices of the same immutable table so the expected result is expressible
  * as plain SQL for the oracle; the write-path (atomic swap, partitioned
  * overwrite) is exercised in the ScalaTest suite.
  */
object DmlQueries extends QueryModule {

  val defs: Map[String, Q] = Map(
    // M1: composite-key upsert, latest-wins source dedup
    // (`snowflake_bq_sync_daily Time Details/main.py:197-206`).
    "m1_merge_upsert" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val keys = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber")
      val keyCols = keys.map(col)
      val target = li.filter(col("l_shipdate") < lit("1999-01-01").cast("date"))
        .select(keyCols :+ col("l_quantity") :+ col("l_returnflag"): _*)
      // Two overlapping "extract days"; day 2 re-states quantity +100.
      val src1 = li.filter(col("l_shipdate") >= lit("1998-06-01").cast("date"))
        .select(keyCols ++ Seq(col("l_quantity"), col("l_returnflag"), lit(1).as("extract_seq")): _*)
      val src2 = li.filter(col("l_shipdate") >= lit("1999-06-01").cast("date"))
        .select(keyCols ++ Seq((col("l_quantity") + 100).as("l_quantity"),
          col("l_returnflag"), lit(2).as("extract_seq")): _*)
      val source = src1.unionByName(src2)
      // Latest extract wins per key; the ordering column is dropped on output.
      MergeInto.merge(target, source, keys, orderCol = Some("extract_seq"))
    }),

    // M2: merge with audit columns — matched rows keep their uuid, new rows
    // mint one; ingestion timestamp refreshed (`daily_sync.py:252-269`).
    // Deterministic test form: uuid = md5(key), fixed clock.
    "m2_merge_audit" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val keys = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber")
      val keyCols = keys.map(col)
      val target = li.filter(col("l_shipdate") < lit("1999-01-01").cast("date"))
        .select(keyCols ++ Seq(col("l_quantity"),
          md5(concat_ws("|", (keyCols.map(_.cast("string")) :+ lit("old")): _*)).as("row_uuid"),
          lit("2024-01-01 00:00:00").cast("timestamp_ntz").as("bq_ingestion_timestamp")): _*)
      val source = li.filter(col("l_shipdate") >= lit("1998-06-01").cast("date"))
        .select(keyCols :+ (col("l_quantity") + 100).as("l_quantity"): _*)
        .withColumn("row_uuid", lit(null).cast("string"))
        .withColumn("bq_ingestion_timestamp", lit(null).cast("timestamp_ntz"))
      MergeInto.mergeWithAudit(target, source, keys,
        MergeInto.Audit(deterministic = true, fixedTimestamp = Some("2025-01-02 00:00:00")))
    }),

    // M3: TRUNCATE+INSERT dimension replacement (`client_dimension_sync_daily/main.py:183-195`).
    "m3_overwrite_dim" -> ((s, dir) =>
      Tables.customer(s, dir).select(
        col("c_custkey").as("client_id"),
        upper(col("c_name")).as("client_name"),
        col("c_mktsegment").as("segment"))),

    // M5: smart delete with liveness guard (`…budget…daily/main.py:368-408`):
    // today's rows whose key is absent from the live extract are removed;
    // rows outside today's window are untouched.
    "m5_smart_delete" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir).withColumn("ship_date", col("l_shipdate").cast("date"))
      val today = lit("1998-03-02").cast("date")
      val live = li.filter(col("ship_date") === today && col("l_quantity") > 10)
        .select(col("l_orderkey"), col("l_linenumber"))
      Dml.smartDelete(li, live, Seq("l_orderkey", "l_linenumber"), "ship_date", today)
        .drop("ship_date")
    }),

    // M6: orphan cleanup dry-run — per-table would-delete counts
    // (`snowflake_bq_deduplication_sync.py:114-160`, dry-run `:330`).
    "m6_orphan_dryrun" -> ((s, dir) => {
      val livePartIds = Tables.part(s, dir).filter(col("p_size") <= 40).select(col("p_partkey"))
      val t1 = Dml.orphanCleanupDryRun(
        Tables.lineitem(s, dir).withColumnRenamed("l_partkey", "p_partkey"),
        livePartIds, "p_partkey", "lineitem")
      val liveCustIds = Tables.customer(s, dir).filter(col("c_acctbal") >= 0).select(col("c_custkey"))
      val t2 = Dml.orphanCleanupDryRun(
        Tables.orders(s, dir).withColumnRenamed("o_custkey", "c_custkey"),
        liveCustIds, "c_custkey", "orders")
      t1.unionByName(t2)
    }),

    // M7: delete by date range (`…_daily/main_progressive.py:126-133`).
    "m7_delete_date_range" -> ((s, dir) =>
      Dml.deleteDateRange(Tables.lineitem(s, dir), "l_shipdate",
        lit("1997-01-01").cast("date"), lit("1997-12-31").cast("date"))),

    // M8: update one control row by key (`…/main_paginated.py:177-184`).
    "m8_update_control" -> ((s, dir) => {
      val control = Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag").as("sync_id"))
        .agg(count(lit(1)).as("rows_synced"))
        .withColumn("status", lit("PENDING"))
      Dml.updateByKey(control, "sync_id", lit("R"), Map("status" -> lit("COMPLETED")))
    }),

    // M9: SCD type-2 history builder (beyond-reference) — the versioned-
    // dimension artifact a warehouse sync maintains: consecutive runs of the
    // same state collapse into one validity interval with
    // [valid_from, valid_to) bounds, version numbers, and an is_current
    // flag. State = event_type per user over the (ts, event_id) total order.
    //
    // 100 TB story: ONE exchange (hash on user) carries all of it — the
    // change-detect lag and position row_number on the event sort, then a
    // filter keeps only run-START rows (no groupBy re-shuffle: a run's
    // state and valid_from are its start row's values, and its event count
    // is the rn distance to the next start), and the valid_to lead /
    // version / is_current windows re-sort the already-co-located,
    // runs-only frame. No self-join against the history table.
    "m9_scd2_history" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val wSeq = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val wAll = Window.partitionBy(col("user_id"))
      val wRun = Window.partitionBy(col("user_id")).orderBy(col("__rn"))
      Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("__prev", lag(col("event_type"), 1).over(wSeq))
        .withColumn("__rn", row_number().over(wSeq))
        .withColumn("__n", count(lit(1)).over(wAll))
        .filter(col("__prev").isNull || col("__prev") =!= col("event_type"))
        .withColumn("__next_rn", lead(col("__rn"), 1).over(wRun))
        .withColumn("valid_to", lead(col("ts"), 1).over(wRun))
        .withColumn("version", row_number().over(wRun))
        .select(col("user_id"), col("version"),
          col("event_type").as("state"),
          col("ts").as("valid_from"), col("valid_to"),
          (coalesce(col("__next_rn"), col("__n") + 1) - col("__rn")).cast("long")
            .as("n_events"),
          col("valid_to").isNull.as("is_current"))
    }),

    // M10: the FULL conditional-clause MERGE grammar (Delta's clause model;
    // beyond the reference's update-all/insert-all shape at
    // `main.py:197-206`): WHEN MATCHED AND s.price<0 THEN DELETE,
    // WHEN MATCHED THEN UPDATE SET price doubled (partial SET — status
    // keeps the target value), WHEN NOT MATCHED AND cond THEN INSERT.
    // Target = F orders; source = O-window restatements (negative price =
    // retraction) + P orders as insert candidates gated on price.
    "m10_merge_clauses" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      val target = o.filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      val window = col("o_orderkey").between(1000L, 3000L)
      val source = o.filter(col("o_orderstatus") === "F" && window)
        .select(col("o_orderkey"),
          when(pmod(col("o_orderkey"), lit(2)) === 0, -col("o_totalprice"))
            .otherwise(col("o_totalprice")).as("o_totalprice"),
          col("o_orderstatus"))
        .unionAll(o.filter(col("o_orderstatus") === "P")
          .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus")))
      MergeInto.mergeClauses(target, source, Seq("o_orderkey"),
        matched = Seq(
          MergeInto.MergeAction.Delete(Some(col("s.o_totalprice") < 0)),
          MergeInto.MergeAction.Update(None,
            Map("o_totalprice" -> (col("s.o_totalprice") * 2)))),
        insert = Some(col("s.o_totalprice") > lit(50000.0)))
    }),

    // ST1: sliding date-window incremental pull merged into prior state
    // (`snowflake_bq_sync_daily Time Details/main.py:85-90`, ±window).
    "st1_incremental_merge" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val target = ev.filter(col("ts") < lit("2024-01-15 00:00:00").cast("timestamp_ntz"))
      val window = ev.filter(col("ts") >= lit("2024-01-10 00:00:00").cast("timestamp_ntz") &&
        col("ts") < lit("2024-01-22 00:00:00").cast("timestamp_ntz"))
        .withColumn("value", col("value") + 1000.0)
      MergeInto.merge(target, window, Seq("event_id"))
    }),

    // ST2: chunked backfill state machine — 7-day chunks, resumable; the
    // deterministic loop replaces the reference's Pub/Sub self-retrigger
    // (`…/main_paginated.py:101-139,186-198`). Result must equal a single
    // full-range sync regardless of chunking.
    "st2_chunked_backfill" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val chunks = Seq(
        ("2024-01-01", "2024-01-08"), ("2024-01-08", "2024-01-15"),
        ("2024-01-15", "2024-01-22"), ("2024-01-22", "2024-02-01"))
      val empty = ev.filter(lit(false))
      chunks.foldLeft(empty) { case (state, (from, to)) =>
        val chunk = ev.filter(col("ts") >= lit(s"$from 00:00:00").cast("timestamp_ntz") &&
          col("ts") < lit(s"$to 00:00:00").cast("timestamp_ntz"))
        MergeInto.merge(state, chunk, Seq("event_id"))
      }
    }),

    // ST4: progressive weekday range rotation (`main_progressive.py:31-54`):
    // each of the 7 weekday runs syncs its `progressiveRange` slice of a
    // 28-day horizon; after the full week the target holds the whole horizon
    // — which is what the oracle states. Slices touch at midnight boundaries
    // (dateWindow is inclusive), so the merge's idempotence is exercised too.
    "st4_progressive_rotation" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val target = java.nio.file.Files.createTempDirectory("graft_st4").toString + "/t"
      val base = java.time.LocalDate.parse("2024-01-01")
      (1 to 7).foreach { dow =>
        val (a, b) = SyncPipeline.progressiveRange(dow, horizonDays = 28, slices = 7)
        // the partitioned fast path: each rotation direct-writes its fresh
        // day-partitions and merges only the inclusive-boundary day the
        // previous slice may have touched — the full-merge path re-read and
        // rewrote the entire target on every one of the 7 runs
        SyncPipeline.incrementalSyncPartitioned(s, ev, target, Seq("event_id"), "ts",
          base.plusDays(a).toString, base.plusDays(b).toString, "st4_rotation")
      }
      s.read.parquet(target).drop("part_date")
    }),

    // ST5: early-exit time budget over the real path-based backfill
    // (`main_paginated.py:313-352`). A fake clock burns the budget after two
    // chunks — the first call must stop early (asserted via the control
    // table), the second resumes at the first incomplete chunk. The final
    // table must equal a single full-range sync, which is what the oracle
    // checks; the intermediate stop is asserted here because the driver only
    // sees the end state.
    "st5_budget_resume" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val base = java.nio.file.Files.createTempDirectory("graft_st5").toString
      val (target, state) = (s"$base/t", s"$base/state")
      val chunks = Seq(
        ("2024-01-01", "2024-01-08"), ("2024-01-08", "2024-01-15"),
        ("2024-01-15", "2024-01-22"), ("2024-01-22", "2024-02-01"))
      // clock ticks +60 ms per call (once at t0, once per chunk guard):
      // elapsed is 60/120/180/240 ms at the four guards, so a 150 ms budget
      // runs chunks 1–2 and trips before chunk 3.
      var tick = 0L
      val fakeClock = () => { tick += 60L * 1000000L; tick }
      SyncPipeline.chunkedBackfill(s, ev, target, state, Seq("event_id"), "ts",
        chunks, timeBudgetMs = 150L, clock = fakeClock)
      val done = s.read.parquet(state).count()
      require(done < chunks.length, s"budget did not stop early ($done chunks)")
      SyncPipeline.chunkedBackfill(s, ev, target, state, Seq("event_id"), "ts", chunks)
    }),

    // ST6: tumbling daily aggregation of sync metrics
    // (`anomaly_detection_agent.py:46-61`); batch twin of the streaming path.
    "st6_tumbling_daily" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "1 day").getField("start").cast("date").as("day"),
          col("event_type"))
        .agg(count(lit(1)).as("event_cnt"), Exact.sum2(col("value")).as("total_value"))),

    // ST7: gap-based sessionization (session_window; 15-min inactivity gap).
    // The same operator shapes the streaming variant — see
    // Streaming.sessionizeStream + the batch-equivalence test.
    "st7_sessionize" -> ((s, dir) =>
      graft.streaming.Streaming.sessionize(Tables.events(s, dir), "15 minutes")),

    // X3: proportional budget redistribution — per-user share of the
    // work-item budget by hours fraction (`…v5_fallback.sql:58-93`).
    "x3_budget_redistribution" -> ((s, dir) => {
      val perPair = Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey"), col("l_suppkey"))
        .agg(Exact.sum2(col("l_quantity")).as("user_qty"))
      val perOrder = perPair.groupBy(col("l_orderkey"))
        .agg(Exact.sum2(col("user_qty")).as("order_qty"))
      perPair.join(perOrder, Seq("l_orderkey"))
        .join(Tables.orders(s, dir).select(col("o_orderkey"), col("o_totalprice")),
          col("l_orderkey") === col("o_orderkey"), "inner")
        .select(col("l_orderkey").as("work_item_id"), col("l_suppkey").as("user_id"),
          col("user_qty"), col("order_qty"),
          (col("o_totalprice") * (col("user_qty") / col("order_qty"))).as("allocated_budget"))
    }),

    // X4: statistical anomaly scoring over the daily metric series — exact
    // global mean/stddev, |z|>2 flag (`anomaly_detection_agent.py:124-205`;
    // the reference's IsolationForest becomes a deterministic z-score model,
    // see ML notes in ScalaTest).
    "x4_anomaly_zscore" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(col("ts").cast("date").as("event_date"))
        .agg(count(lit(1)).as("event_cnt"))
      val stats = daily.agg(
        (sum(col("event_cnt")).cast("double") / count(lit(1))).as("mean_cnt"),
        count(lit(1)).cast("double").as("n"),
        sum(col("event_cnt") * col("event_cnt")).cast("double").as("sq"),
        sum(col("event_cnt")).cast("double").as("sm"))
        .select(col("mean_cnt"),
          sqrt((col("sq") - col("sm") * col("sm") / col("n")) / (col("n") - 1)).as("std_cnt"))
      daily.crossJoin(stats)
        .select(col("event_date"), col("event_cnt"), col("mean_cnt"), col("std_cnt"),
          ((col("event_cnt") - col("mean_cnt")) / col("std_cnt")).as("z_score"),
          (abs((col("event_cnt") - col("mean_cnt")) / col("std_cnt")) > 2.0).as("is_anomaly"))
    })
  )

  private val evCols = "event_id, ts, user_id, event_type, value, props"

  val oracles: Map[String, String] = Map(
    "m1_merge_upsert" ->
      """WITH tgt AS (SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, l_returnflag
        |FROM lineitem WHERE l_shipdate < DATE '1999-01-01'),
        |src_all AS (
        |SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, l_returnflag, 1 AS extract_seq
        |FROM lineitem WHERE l_shipdate >= DATE '1998-06-01'
        |UNION ALL
        |SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity + 100, l_returnflag, 2
        |FROM lineitem WHERE l_shipdate >= DATE '1999-06-01'),
        |src AS (SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, l_returnflag FROM (
        |SELECT *, ROW_NUMBER() OVER (PARTITION BY l_orderkey, l_partkey, l_suppkey, l_linenumber
        |ORDER BY extract_seq DESC) AS rn FROM src_all) WHERE rn = 1)
        |SELECT t.* FROM tgt t WHERE NOT EXISTS
        |(SELECT 1 FROM src s WHERE s.l_orderkey = t.l_orderkey AND s.l_partkey = t.l_partkey
        |AND s.l_suppkey = t.l_suppkey AND s.l_linenumber = t.l_linenumber)
        |UNION ALL SELECT * FROM src""".stripMargin,
    "m2_merge_audit" ->
      """WITH tgt AS (SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
        |md5(CAST(l_orderkey AS VARCHAR) || '|' || CAST(l_partkey AS VARCHAR) || '|' ||
        |CAST(l_suppkey AS VARCHAR) || '|' || CAST(l_linenumber AS VARCHAR) || '|old') AS row_uuid,
        |TIMESTAMP '2024-01-01 00:00:00' AS bq_ingestion_timestamp
        |FROM lineitem WHERE l_shipdate < DATE '1999-01-01'),
        |src AS (SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity + 100 AS l_quantity
        |FROM lineitem WHERE l_shipdate >= DATE '1998-06-01')
        |SELECT t.* FROM tgt t WHERE NOT EXISTS
        |(SELECT 1 FROM src s WHERE s.l_orderkey = t.l_orderkey AND s.l_partkey = t.l_partkey
        |AND s.l_suppkey = t.l_suppkey AND s.l_linenumber = t.l_linenumber)
        |UNION ALL
        |SELECT s.l_orderkey, s.l_partkey, s.l_suppkey, s.l_linenumber, s.l_quantity,
        |COALESCE(t.row_uuid, md5(CAST(s.l_orderkey AS VARCHAR) || '|' || CAST(s.l_partkey AS VARCHAR) || '|' ||
        |CAST(s.l_suppkey AS VARCHAR) || '|' || CAST(s.l_linenumber AS VARCHAR))) AS row_uuid,
        |TIMESTAMP '2025-01-02 00:00:00' AS bq_ingestion_timestamp
        |FROM src s LEFT JOIN tgt t
        |ON s.l_orderkey = t.l_orderkey AND s.l_partkey = t.l_partkey
        |AND s.l_suppkey = t.l_suppkey AND s.l_linenumber = t.l_linenumber""".stripMargin,
    "m3_overwrite_dim" ->
      """SELECT c_custkey AS client_id, UPPER(c_name) AS client_name, c_mktsegment AS segment
        |FROM customer""".stripMargin,
    "m5_smart_delete" ->
      """SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, l_extendedprice,
        |l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate FROM lineitem t
        |WHERE CAST(l_shipdate AS DATE) <> DATE '1998-03-02'
        |OR EXISTS (SELECT 1 FROM lineitem s WHERE CAST(s.l_shipdate AS DATE) = DATE '1998-03-02'
        |AND s.l_quantity > 10 AND s.l_orderkey = t.l_orderkey AND s.l_linenumber = t.l_linenumber)""".stripMargin,
    "m6_orphan_dryrun" ->
      """SELECT COUNT(*) AS would_delete, 'lineitem' AS table_name FROM lineitem
        |WHERE NOT EXISTS (SELECT 1 FROM part WHERE p_size <= 40 AND p_partkey = l_partkey)
        |UNION ALL
        |SELECT COUNT(*), 'orders' FROM orders
        |WHERE NOT EXISTS (SELECT 1 FROM customer WHERE c_acctbal >= 0 AND c_custkey = o_custkey)""".stripMargin,
    "m7_delete_date_range" ->
      """SELECT * FROM lineitem WHERE l_shipdate < DATE '1997-01-01'
        |OR l_shipdate > DATE '1997-12-31' OR l_shipdate IS NULL""".stripMargin,
    "m8_update_control" ->
      """SELECT l_returnflag AS sync_id, COUNT(*) AS rows_synced,
        |CASE WHEN l_returnflag = 'R' THEN 'COMPLETED' ELSE 'PENDING' END AS status
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    // m9: same run-start detection and neighbor-derived intervals.
    "m9_scd2_history" ->
      """WITH seqd AS (SELECT user_id, ts, event_id, event_type,
        |  LAG(event_type) OVER w AS prev,
        |  ROW_NUMBER() OVER w AS rn,
        |  COUNT(*) OVER (PARTITION BY user_id) AS n
        | FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |starts AS (SELECT * FROM seqd WHERE prev IS NULL OR prev <> event_type),
        |runs AS (SELECT user_id, event_type, ts, rn, n,
        |  LEAD(rn) OVER w2 AS next_rn,
        |  LEAD(ts) OVER w2 AS valid_to,
        |  ROW_NUMBER() OVER w2 AS version
        | FROM starts WINDOW w2 AS (PARTITION BY user_id ORDER BY rn))
        |SELECT user_id, CAST(version AS INTEGER) AS version, event_type AS state,
        | ts AS valid_from, valid_to,
        | CAST(COALESCE(next_rn, n + 1) - rn AS BIGINT) AS n_events,
        | valid_to IS NULL AS is_current
        |FROM runs""".stripMargin,
    // m10: deletes = even window keys; updates = odd window keys doubled
    // (status kept — partial SET); inserts = P orders over the price gate
    "m10_merge_clauses" ->
      """SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
        |WHERE o_orderstatus = 'F' AND NOT (o_orderkey BETWEEN 1000 AND 3000)
        |UNION ALL
        |SELECT o_orderkey, o_totalprice * 2, o_orderstatus FROM orders
        |WHERE o_orderstatus = 'F' AND o_orderkey BETWEEN 1000 AND 3000
        |  AND o_orderkey % 2 = 1
        |UNION ALL
        |SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
        |WHERE o_orderstatus = 'P' AND o_totalprice > 50000""".stripMargin,
    "st1_incremental_merge" ->
      s"""WITH tgt AS (SELECT $evCols FROM events WHERE ts < TIMESTAMP '2024-01-15 00:00:00'),
         |src AS (SELECT event_id, ts, user_id, event_type, value + 1000.0 AS value, props FROM events
         |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00' AND ts < TIMESTAMP '2024-01-22 00:00:00')
         |SELECT t.* FROM tgt t WHERE NOT EXISTS (SELECT 1 FROM src s WHERE s.event_id = t.event_id)
         |UNION ALL SELECT * FROM src""".stripMargin,
    "st2_chunked_backfill" ->
      s"""SELECT $evCols FROM events
         |WHERE ts >= TIMESTAMP '2024-01-01 00:00:00' AND ts < TIMESTAMP '2024-02-01 00:00:00'""".stripMargin,
    // ST4: seven weekday slices of [2024-01-01, 2024-01-29] (each slice
    // inclusive of its end midnight — dateWindow uses BETWEEN) cover the
    // horizon exactly once merged by event_id.
    "st4_progressive_rotation" ->
      s"""SELECT $evCols FROM events
         |WHERE ts >= TIMESTAMP '2024-01-01 00:00:00' AND ts <= TIMESTAMP '2024-01-29 00:00:00'""".stripMargin,
    // ST5: a budget-stopped run resumed to completion must be
    // indistinguishable from one uninterrupted full-range sync.
    "st5_budget_resume" ->
      s"""SELECT $evCols FROM events
         |WHERE ts >= TIMESTAMP '2024-01-01 00:00:00' AND ts < TIMESTAMP '2024-02-01 00:00:00'""".stripMargin,
    "st6_tumbling_daily" ->
      """SELECT CAST(DATE_TRUNC('day', ts) AS DATE) AS day, event_type, COUNT(*) AS event_cnt,
        |CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    // gaps-and-islands twin of session_window: a session breaks when the
    // inactivity gap reaches 15 min (Spark merges strictly-overlapping
    // [ts, ts+gap) windows, so `>=` is the matching break condition)
    "st7_sessionize" ->
      """WITH brk AS (SELECT user_id, ts, value, event_type,
        |CASE WHEN LAG(ts) OVER w IS NULL
        |     OR ts - LAG(ts) OVER w >= INTERVAL 15 MINUTE THEN 1 ELSE 0 END AS is_new
        |FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
        |ROWS UNBOUNDED PRECEDING) AS sid FROM brk)
        |SELECT user_id,
        |CAST(DATE_TRUNC('second', MIN(ts)) AS TIMESTAMP) AS session_start,
        |CAST(DATE_TRUNC('second', MAX(ts) + INTERVAL 15 MINUTE) AS TIMESTAMP) AS session_end_plus_gap,
        |COUNT(*) AS n_events,
        |CAST(SUM(CAST(ROUND(value * 10000) AS BIGINT)) AS BIGINT) AS value_e4,
        |MAX(event_type) AS last_event_type
        |FROM sess GROUP BY user_id, sid""".stripMargin,
    "x3_budget_redistribution" ->
      """WITH per_pair AS (SELECT l_orderkey, l_suppkey,
        |CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS user_qty
        |FROM lineitem GROUP BY l_orderkey, l_suppkey),
        |per_order AS (SELECT l_orderkey,
        |CAST(SUM(CAST(user_qty AS DECIMAL(18,2))) AS DOUBLE) AS order_qty
        |FROM per_pair GROUP BY l_orderkey)
        |SELECT p.l_orderkey AS work_item_id, p.l_suppkey AS user_id, p.user_qty, o2.order_qty,
        |o.o_totalprice * (p.user_qty / o2.order_qty) AS allocated_budget
        |FROM per_pair p JOIN per_order o2 ON p.l_orderkey = o2.l_orderkey
        |JOIN orders o ON p.l_orderkey = o.o_orderkey""".stripMargin,
    "x4_anomaly_zscore" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS event_date, COUNT(*) AS event_cnt
        |FROM events GROUP BY CAST(ts AS DATE)),
        |stats AS (SELECT CAST(SUM(event_cnt) AS DOUBLE) / COUNT(*) AS mean_cnt,
        |sqrt((CAST(SUM(event_cnt * event_cnt) AS DOUBLE) -
        |CAST(SUM(event_cnt) AS DOUBLE) * CAST(SUM(event_cnt) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE))
        |/ (CAST(COUNT(*) AS DOUBLE) - 1)) AS std_cnt FROM daily)
        |SELECT event_date, event_cnt, mean_cnt, std_cnt,
        |(event_cnt - mean_cnt) / std_cnt AS z_score,
        |ABS((event_cnt - mean_cnt) / std_cnt) > 2.0 AS is_anomaly
        |FROM daily CROSS JOIN stats""".stripMargin
  )
}
