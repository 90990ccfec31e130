package graft

import graft.merge.MergeInto
import graft.sources.Tables
import graft.sync.SyncPipeline
import org.apache.spark.sql.functions._

/** Pipeline-runner semantics: full vs incremental modes, tracker emission,
  * and the resumable chunked-backfill state machine (ST2).
  */
class SyncPipelineSpec extends SparkSuite {
  import spark.implicits._

  test("fullSync overwrites the target and reports a COMPLETED tracker row") {
    val path = tmpDir() + "/dim"
    val r1 = SyncPipeline.fullSync(spark, Seq((1, "a"), (2, "b")).toDF("id", "v"), path, "dim_sync")
    assert(r1.rowsSynced == 2)
    val r2 = SyncPipeline.fullSync(spark, Seq((3, "c")).toDF("id", "v"), path, "dim_sync")
    assert(r2.rowsSynced == 1 && spark.read.parquet(path).count() == 1)
    assert(r2.tracker.select("status").as[String].head() == "COMPLETED")
  }

  test("incrementalSync merges only the date window into the target") {
    val path = tmpDir() + "/fact"
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
      .withColumn("d", col("ts").cast("date"))
    // a window with no rows leaves a new target holding only `_SUCCESS`; the
    // syncs after it must still land on it
    assert(SyncPipeline.incrementalSync(spark, ev, path, Seq("event_id", "d"), "d",
      "2023-12-01", "2023-12-07", "ev_sync").rowsSynced == 0)
    // bootstrap with the first week; date in the key → partitioned layout
    SyncPipeline.incrementalSync(spark, ev, path, Seq("event_id", "d"), "d",
      "2024-01-01", "2024-01-07", "ev_sync")
    val week1 = spark.read.parquet(path).count()
    // the target is laid out one directory per day (partition-scoped merges)
    assert(new java.io.File(path).listFiles().exists(_.getName.startsWith("d=")))
    // pull an overlapping window — idempotent for the overlap, additive for the rest
    val r = SyncPipeline.incrementalSync(spark, ev, path, Seq("event_id", "d"), "d",
      "2024-01-05", "2024-01-14", "ev_sync")
    // rows written: the rewritten day partitions, 01-05 … 01-14
    assert(r.rowsSynced == Tables.dateWindow(ev, "d", "2024-01-05", "2024-01-14").count())
    val whole = spark.read.parquet(path).count()
    assert(whole == ev.filter(col("d") <= lit("2024-01-14").cast("date")).count() && whole > week1)
  }

  test("every incremental sync lands each day partition as exactly one file") {
    // six days, each spread over all four input partitions, and no AQE
    // coalescing (which folds this tiny extract into one task): every task
    // that writes without a repartition by the date leaves a file in every day
    val days = (1 to 6).map(d => f"2024-03-$d%02d")
    def extract(hours: Long) = days.flatMap(d => (1 to 40).map(i => (s"w$i", d, hours)))
      .toDF("WORK_ITEM_ID", "day", "HOURS")
      .select(col("WORK_ITEM_ID"), col("day").cast("date").as("REPORTING_DATE"), col("HOURS"))
      .repartition(4)
    def filesPerDay(path: String): Map[String, Int] =
      new java.io.File(path).listFiles().filter(_.getName.startsWith("REPORTING_DATE="))
        .map(d => d.getName.stripPrefix("REPORTING_DATE=") ->
          d.listFiles().count(_.getName.endsWith(".parquet"))).toMap
    val keys = Seq("WORK_ITEM_ID", "REPORTING_DATE")
    // an empty target lands through the merge-and-swap; a partitioned one
    // (days 01-04, one file each) merges its two restated days and writes
    // two new ones in one dynamic partition overwrite
    Seq(false, true).foreach { existing =>
      val path = tmpDir() + "/fact"
      if (existing) extract(1L).filter(col("REPORTING_DATE") <= lit("2024-03-04").cast("date"))
        .coalesce(1).write.partitionBy("REPORTING_DATE").parquet(path)
      val kept = if (existing) days.take(2) else Nil
      withSQLConf("spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
        val r = SyncPipeline.incrementalSync(spark, extract(2L), path, keys, "REPORTING_DATE",
          "2024-03-03", "2024-03-06", "fact_sync")
        assert(r.rowsSynced == 4 * 40, s"existing=$existing")
        // an empty window still reports what it wrote through the repartition
        assert(SyncPipeline.incrementalSync(spark, extract(2L), path, keys, "REPORTING_DATE",
          "2024-04-01", "2024-04-02", "fact_sync").rowsSynced == 0)
      }
      assert(filesPerDay(path) == (kept ++ days.drop(2)).map(_ -> 1).toMap, s"existing=$existing")
      val hoursByDay = spark.read.parquet(path).groupBy(col("REPORTING_DATE").cast("string"))
        .agg(sum("HOURS")).as[(String, Long)].collect().toMap
      assert(hoursByDay == (kept.map(_ -> 40L) ++ days.drop(2).map(_ -> 80L)).toMap)
    }
  }

  test("chunkedBackfill resumes: partial run + rerun equals one full-range sync") {
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    val chunks = Seq(
      ("2024-01-01", "2024-01-08"), ("2024-01-08", "2024-01-15"),
      ("2024-01-15", "2024-01-22"), ("2024-01-22", "2024-02-01"))

    // single uninterrupted run for comparison
    val t2 = tmpDir() + "/bf_full"; val s2 = tmpDir() + "/bf_full_state"
    SyncPipeline.chunkedBackfill(spark, ev, t2, s2, Seq("event_id"), "ts", chunks)
    val full = spark.read.parquet(t2).select("event_id").as[Long].collect().toSet

    // the resumed target starts empty, or as a legacy UNPARTITIONED copy of
    // the first chunk (root-level parquet files, no day directories)
    Seq(false, true).foreach { legacy =>
      val t1 = tmpDir() + "/bf_target"; val s1 = tmpDir() + "/bf_state"
      if (legacy)
        ev.filter(col("ts") < lit("2024-01-08").cast("timestamp_ntz"))
          .withColumn("part_date", to_date(col("ts"))).write.parquet(t1)
      // interrupted run: only the first two chunks complete
      SyncPipeline.chunkedBackfill(spark, ev, t1, s1, Seq("event_id"), "ts", chunks.take(2))
      val afterPartial = spark.read.parquet(t1).count()
      // resume with the full chunk list: completed chunks must be skipped
      SyncPipeline.chunkedBackfill(spark, ev, t1, s1, Seq("event_id"), "ts", chunks)

      val resumedRows = spark.read.parquet(t1)
      val resumed = resumedRows.select("event_id").as[Long].collect().toSet
      assert(resumed == full && resumedRows.count() == full.size && afterPartial < full.size,
        s"legacy=$legacy")
      // state table recorded all four chunks exactly once
      assert(spark.read.parquet(s1).count() == 4)
    }
  }

  test("ST5: time budget stops between chunks; a started chunk always commits") {
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    val chunks = Seq(
      ("2024-01-01", "2024-01-08"), ("2024-01-08", "2024-01-15"),
      ("2024-01-15", "2024-01-22"), ("2024-01-22", "2024-02-01"))
    val t = tmpDir() + "/st5_target"; val s = tmpDir() + "/st5_state"
    // deterministic clock: +60 ms per call → elapsed 60/120/180/240 ms at the
    // four chunk guards; a 150 ms budget admits exactly chunks 1 and 2
    var tick = 0L
    val fakeClock = () => { tick += 60L * 1000000L; tick }
    SyncPipeline.chunkedBackfill(spark, ev, t, s, Seq("event_id"), "ts", chunks,
      timeBudgetMs = 150L, clock = fakeClock)
    val state = spark.read.parquet(s)
    assert(state.count() == 2) // stopped early, both completed chunks recorded
    assert(state.filter(col("status") =!= "COMPLETED").isEmpty) // never half-applied
    val partial = spark.read.parquet(t).count()
    val expected2 = ev.filter(col("ts") < lit("2024-01-15 00:00:00").cast("timestamp_ntz") &&
      col("ts") >= lit("2024-01-01 00:00:00").cast("timestamp_ntz")).count()
    assert(partial == expected2) // target holds exactly the committed chunks
    // a zero budget attempts nothing and leaves existing state untouched
    SyncPipeline.chunkedBackfill(spark, ev, t, s, Seq("event_id"), "ts", chunks,
      timeBudgetMs = 0L)
    assert(spark.read.parquet(s).count() == 2)
    // a budget that expires before a FRESH backfill's first chunk is a clean
    // empty result, not a path-not-found crash
    val fresh = SyncPipeline.chunkedBackfill(spark, ev,
      tmpDir() + "/st5_never", tmpDir() + "/st5_never_state",
      Seq("event_id"), "ts", chunks, timeBudgetMs = 0L)
    assert(fresh.isEmpty)
    // an unbudgeted resume completes the remaining chunks
    SyncPipeline.chunkedBackfill(spark, ev, t, s, Seq("event_id"), "ts", chunks)
    assert(spark.read.parquet(s).count() == 4)
  }

  test("ST4: progressive weekday rotation covers the horizon exactly once per week") {
    val ranges = (1 to 7).map(SyncPipeline.progressiveRange(_, horizonDays = 180))
    assert(ranges.head._1 == 0 && ranges.last._2 == 180)
    // contiguous, non-overlapping coverage
    ranges.sliding(2).foreach { case Seq((_, e), (s, _)) => assert(e == s) }
  }

  test("ST4 fast path: partitioned rotation equals one full-range sync; re-runs idempotent") {
    val ev = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
    val base = java.time.LocalDate.parse("2024-01-01")
    val target = tmpDir() + "/st4_part"
    (1 to 7).foreach { dow =>
      val (a, b) = SyncPipeline.progressiveRange(dow, horizonDays = 28, slices = 7)
      SyncPipeline.incrementalSyncPartitioned(spark, ev, target, Seq("event_id"), "ts",
        base.plusDays(a).toString, base.plusDays(b).toString, "t")
    }
    val rotated = spark.read.parquet(target).drop("part_date")
    // reference: one full-range windowed merge (the slow path's semantics)
    val full = graft.sources.Tables.dateWindow(ev, "ts", "2024-01-01", "2024-01-29")
    assert(rotated.count() == full.count())
    assert(rotated.select("event_id").except(full.select("event_id")).count() == 0)
    assert(full.select("event_id").except(rotated.select("event_id")).count() == 0)
    // replaying a slice must not change the table (boundary days take the
    // merge path, fresh days are re-deduped)
    val replay = SyncPipeline.incrementalSyncPartitioned(spark, ev, target, Seq("event_id"),
      "ts", "2024-01-05", "2024-01-09", "t")
    assert(spark.read.parquet(target).count() == full.count())
    // rows written: every row of the day partitions the slice touches
    val touched = graft.sources.Tables.dateWindow(ev, "ts", "2024-01-05", "2024-01-09")
      .select(to_date(col("ts")).as("part_date")).distinct()
    assert(replay.rowsSynced == spark.read.parquet(target).join(touched, "part_date").count())
  }

  test("S5: streaming-insert (append) sink accumulates rows") {
    val path = tmpDir() + "/append_sink"
    Seq((1, "a")).toDF("k", "v").write.mode("append").parquet(path)
    Seq((2, "b")).toDF("k", "v").write.mode("append").parquet(path)
    assert(spark.read.parquet(path).count() == 2)
  }

  test("merge survives a duplicate-key source (latest extract wins deterministically)") {
    val target = Seq((1, 0, "t")).toDF("k", "seq", "v")
    val source = Seq((1, 1, "s1"), (1, 2, "s2"), (1, 2, "s2")).toDF("k", "seq", "v")
    val out = MergeInto.merge(target, source, Seq("k"), Some("seq"), Seq(col("v")))
    assert(out.count() == 1 && out.select("v").as[String].head() == "s2")
  }

  test("withRetry: run-level retry-with-backoff; a crashed partial sync re-applied converges") {
    // reference retry_on_timeout(max_retries=3, delay): N-1 sleeps then success
    val slept = scala.collection.mutable.ArrayBuffer[Long]()
    var calls = 0
    val got = SyncPipeline.withRetry(maxAttempts = 3, delayMs = 10L, sleep = slept.+=(_)) { () =>
      calls += 1
      if (calls < 3) sys.error(s"transient failure $calls")
      "ok"
    }
    assert(got == "ok" && calls == 3 && slept.toSeq == Seq(10L, 10L))
    // exhausted attempts rethrow the last failure, after maxAttempts-1 sleeps
    slept.clear()
    val ex = intercept[RuntimeException] {
      SyncPipeline.withRetry(maxAttempts = 2, delayMs = 5L, sleep = slept.+=(_)) { () =>
        sys.error("permanent")
      }
    }
    assert(ex.getMessage == "permanent" && slept.toSeq == Seq(5L))

    // failure injection mid-sync: attempt 1 commits the merge, then dies
    // before reporting; the retried whole run must converge to exactly the
    // single-run output (merge-upsert idempotence), not double-apply
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
      .withColumn("d", col("ts").cast("date"))
    val crashy = tmpDir() + "/retry_fact"
    var attempts = 0
    val res = SyncPipeline.withRetry(maxAttempts = 3, delayMs = 0L, sleep = _ => ()) { () =>
      attempts += 1
      val r = SyncPipeline.incrementalSync(spark, ev, crashy, Seq("event_id", "d"), "d",
        "2024-01-01", "2024-01-07", "ev_sync")
      if (attempts == 1) sys.error("died after commit, before tracker delivery")
      r
    }
    val clean = tmpDir() + "/retry_fact_clean"
    val single = SyncPipeline.incrementalSync(spark, ev, clean, Seq("event_id", "d"), "d",
      "2024-01-01", "2024-01-07", "ev_sync")
    assert(attempts == 2 && res.rowsSynced == single.rowsSynced)
    val a = spark.read.parquet(crashy).select("event_id").as[Long].collect().toSet
    val b = spark.read.parquet(clean).select("event_id").as[Long].collect().toSet
    assert(a == b)
  }
}
