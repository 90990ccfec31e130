package graft

import graft.sources.Tables
import graft.streaming.Streaming
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.sql.Timestamp

/** Structured Streaming slice (SURVEY §2.10 ST1/ST3/ST6): watermarked daily
  * windows over a memory stream match the batch twin; the foreachBatch
  * upsert sink is idempotent under replay.
  */
class StreamingSpec extends SparkSuite {
  import spark.implicits._

  test("ST6: streamed daily metrics equal the batch aggregation") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double)]
    val events = input.toDF().toDF("ts0", "event_type", "value")
      .select(col("ts0").cast("timestamp").as("ts"), col("event_type"), col("value"))

    val rows = Seq(
      (Timestamp.valueOf("2024-01-01 01:00:00"), "click", 1.0),
      (Timestamp.valueOf("2024-01-01 02:00:00"), "click", 2.0),
      (Timestamp.valueOf("2024-01-01 03:00:00"), "view", 4.0),
      (Timestamp.valueOf("2024-01-02 01:00:00"), "click", 8.0),
      // watermark pusher: far-future event closes the earlier windows
      (Timestamp.valueOf("2024-02-01 00:00:00"), "late", 0.0))
    // data must exist BEFORE an AvailableNow query starts: the trigger
    // snapshots the available offsets at start and ignores later additions
    input.addData(rows)
    val query = Streaming.dailyMetrics(events)
      .writeStream.format("memory").queryName("daily_out")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    query.processAllAvailable()
    query.stop()

    val out = spark.table("daily_out")
      .select(col("day").cast("string"), col("event_type"), col("event_cnt"), col("total_value"))
      .as[(String, String, Long, Double)].collect().toSet
    assert(out.contains(("2024-01-01", "click", 2L, 3.0)))
    assert(out.contains(("2024-01-01", "view", 1L, 4.0)))
    assert(out.contains(("2024-01-02", "click", 1L, 8.0)))
  }

  test("ST8: streaming dedup emits one survivor per fingerprint, equals batch distinct") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, String)]
    val docs = input.toDF().toDF("ts", "fingerprint", "payload")
    input.addData(Seq(
      (Timestamp.valueOf("2024-01-01 10:00:00"), "fpA", "first"),
      (Timestamp.valueOf("2024-01-01 10:01:00"), "fpA", "re-ingested dup"),
      (Timestamp.valueOf("2024-01-01 10:02:00"), "fpB", "first"),
      (Timestamp.valueOf("2024-01-01 10:03:00"), "fpA", "another dup"),
      (Timestamp.valueOf("2024-01-02 11:00:00"), "fpC", "watermark pusher")))
    val q = Streaming.dedupStream(docs)
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable()
    q.stop()
    val out = spark.table("dedup_out")
    assert(out.groupBy("fingerprint").count().filter(col("count") =!= 1).isEmpty)
    assert(out.select("fingerprint").as[String].collect().toSet == Set("fpA", "fpB", "fpC"))
  }

  test("ST9: the Gopher quality gate runs unchanged on a stream and equals batch") {
    implicit val sqlCtx = spark.sqlContext
    // per-row stateless ops (tx6 gate) must compose with readStream as-is —
    // same Column expressions, no unsupported-operation fallbacks
    val rows = sf("documents").select(col("doc_id"), col("text"))
      .limit(50).collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("doc_id", "text")
    input.addData(rows)
    val q = graft.text.TextOps.gopherFlags(docs, "text")
      .filter(col("gopher_pass")).select("doc_id")
      .writeStream.format("memory").queryName("gate_out")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("gate_out").as[Long].collect().toSet
    val batch = graft.text.TextOps.gopherFlags(
        rows.toDF("doc_id", "text"), "text")
      .filter(col("gopher_pass")).select("doc_id").as[Long].collect().toSet
    assert(streamed === batch)
    assert(batch.nonEmpty && batch.size < rows.size) // the gate actually splits
  }

  test("ST10: stream-static broadcast enrichment equals the batch join") {
    implicit val sqlCtx = spark.sqlContext
    // the streaming side of every dimension enrichment: a micro-batch joined
    // against a static (broadcastable) dim — same Column code as batch
    val dim = Seq(("src0", "tier-a"), ("src1", "tier-b"), ("src2", "tier-c"))
      .toDF("source", "tier")
    val rows = sf("documents").select(col("doc_id"), col("source"))
      .limit(60).collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val input = MemoryStream[(Long, String)]
    input.addData(rows)
    val q = input.toDF().toDF("doc_id", "source")
      .join(broadcast(dim), Seq("source"), "left")
      .select(col("doc_id"), coalesce(col("tier"), lit("untiered")).as("tier"))
      .writeStream.format("memory").queryName("enrich_out")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("enrich_out").as[(Long, String)].collect().toSet
    val batch = rows.toDF("doc_id", "source")
      .join(broadcast(dim), Seq("source"), "left")
      .select(col("doc_id"), coalesce(col("tier"), lit("untiered")).as("tier"))
      .as[(Long, String)].collect().toSet
    assert(streamed === batch)
    assert(batch.map(_._2).contains("untiered") && batch.map(_._2).exists(_ != "untiered"))
  }

  test("ST7: streamed sessionization equals the batch session_window twin") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, String, Double)]
    val events = input.toDF().toDF("user_id", "ts", "event_type", "value")

    val rows = Seq(
      // user 1: two sessions — a 20-min gap splits at the 15-min threshold
      (1L, Timestamp.valueOf("2024-01-01 10:00:00"), "click", 1.0),
      (1L, Timestamp.valueOf("2024-01-01 10:10:00"), "view", 2.0),
      (1L, Timestamp.valueOf("2024-01-01 10:30:00"), "click", 3.0),
      // user 2: one session, events chained under the gap
      (2L, Timestamp.valueOf("2024-01-01 10:00:00"), "view", 4.0),
      (2L, Timestamp.valueOf("2024-01-01 10:14:00"), "view", 5.0),
      (2L, Timestamp.valueOf("2024-01-01 10:28:00"), "view", 6.0),
      // watermark pusher closes all earlier sessions
      (9L, Timestamp.valueOf("2024-02-01 00:00:00"), "late", 0.0))
    input.addData(rows)
    val query = Streaming.sessionizeStream(events, "15 minutes", "1 hour")
      .writeStream.format("memory").queryName("sess_out")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    query.processAllAvailable()
    query.stop()

    val streamed = spark.table("sess_out")
    // the pusher's own session never closes (nothing advances the watermark
    // past it), so it exists only in the batch twin — compare without it
    val batch = Streaming.sessionize(
      spark.createDataFrame(rows).toDF("user_id", "ts", "event_type", "value"),
      "15 minutes").filter(col("user_id") =!= 9L)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
    val u1 = streamed.filter(col("user_id") === 1L)
      .select(col("session_start").cast("string"), col("n_events"))
      .as[(String, Long)].collect().toSet
    assert(u1 == Set(("2024-01-01 10:00:00", 2L), ("2024-01-01 10:30:00", 1L)))
    assert(streamed.filter(col("user_id") === 2L).count() == 1)
  }

  test("tracker state accumulates per sync id across micro-batches (flatMapGroupsWithState)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Long, Boolean)]
    val events = input.toDS().map { case (id, n, f) => Streaming.TrackerEvent(id, n, f) }
    val query = Streaming.trackerState(events)
      .writeStream.format("memory").queryName("tracker_out")
      .outputMode("update").start()

    input.addData(Seq(("sync_a", 100L, false), ("sync_a", 50L, false), ("sync_b", 10L, false)))
    query.processAllAvailable()
    input.addData(Seq(("sync_a", 25L, false), ("sync_b", 5L, true)))
    query.processAllAvailable()
    query.stop()

    // last emitted row per sync id carries the running totals
    val out = spark.table("tracker_out")
      .groupBy("sync_id").agg(
        max(struct(col("batches"), col("rows_processed"), col("failures"), col("status")))
          .as("last"))
      .select(col("sync_id"), col("last.rows_processed"), col("last.batches"),
        col("last.failures"), col("last.status"))
      .as[(String, Long, Long, Long, String)].collect()
      .map(t => t._1 -> ((t._2, t._3, t._4, t._5))).toMap
    assert(out("sync_a") == ((175L, 2L, 0L, "PROCESSING")))
    assert(out("sync_b") == ((15L, 2L, 1L, "FAILED")))
  }

  test("ST3: foreachBatch upsert sink is idempotent under replay") {
    implicit val sqlCtx = spark.sqlContext
    // the first batch lands on no target; it is deduplicated like every later
    // one, also when it carries a key twice (a record delivered twice)
    Seq(Seq((1L, "a"), (2L, "b")), Seq((1L, "a"), (2L, "b"), (1L, "a"))).foreach { first =>
      val path = tmpDir() + "/stream_target"
      def runOnce(cp: String, data: Seq[(Long, String)]): Unit = {
        val in = MemoryStream[(Long, String)]
        val df = in.toDF().toDF("k", "v")
        in.addData(data)
        val q = Streaming.upsertSink(df, path, Seq("k"), None)
          .option("checkpointLocation", cp).start()
        q.processAllAvailable(); q.stop()
      }

      runOnce(tmpDir() + "/cp1", first)
      assert(spark.read.parquet(path).count() == 2)
      // replay the same logical content from a fresh checkpoint — merge by key
      runOnce(tmpDir() + "/cp2", Seq((1L, "a2"), (3L, "c")))
      val out = spark.read.parquet(path).as[(Long, String)].collect().toMap
      assert(out === Map(1L -> "a2", 2L -> "b", 3L -> "c"))
      // replay identical batch again: no duplicates
      runOnce(tmpDir() + "/cp3", Seq((1L, "a2"), (3L, "c")))
      assert(spark.read.parquet(path).count() == 3)
    }
  }

  test("state boundedness MEASURED: watermark passage evicts agg, join, and session state") {
    // st11/st12/st14 all CLAIM "state bounded by the watermark horizon";
    // this measures it via StreamingQueryProgress.stateOperators: two
    // AvailableNow passes over one checkpoint — pass 2 arrives 25 days
    // after pass 1, dragging the watermark past every pass-1 window /
    // session / join row — and numRowsTotal must DROP to the pass-2
    // horizon, not accumulate. (An unbounded operator would show state
    // growing monotonically with input — the 100 TB failure mode.)
    def mk(rows: Seq[(String, Long, String, Double)]) =
      rows.toDF("ts0", "user_id", "event_type", "value")
        .select(col("ts0").cast("timestamp").as("ts"), col("user_id"),
          col("event_type"), col("value"))
    val pass1 = for { d <- 1 to 5; u <- 0L until 8L; r <- Seq(0, 1) } yield
      (f"2024-01-0$d 10:${if (r == 0) "00" else "30"}:00", u,
        if (r == 0) "click" else "purchase", 1.0)
    val pass2 = (for { u <- 0L until 8L } yield
      (s"2024-01-30 10:00:00", u, "click", 1.0)) ++
      (for { u <- 0L until 4L } yield (s"2024-01-30 10:20:00", u, "purchase", 1.0))

    def measure(name: String)(build: org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame): (Seq[Long], Seq[Long]) = {
      val base = tmpDir()
      val src = s"$base/src"
      mk(pass1).write.mode("append").parquet(src)
      val schema = spark.read.parquet(src).schema
      def pass(): Seq[Long] = {
        val q = build(spark.readStream.schema(schema).parquet(src))
          .writeStream.format("parquet").option("path", s"$base/out")
          .option("checkpointLocation", s"$base/ckpt")
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        q.recentProgress.toSeq.filter(_.stateOperators.nonEmpty)
          .map(_.stateOperators.map(_.numRowsTotal).sum)
      }
      val s1 = pass()
      mk(pass2).write.mode("append").parquet(src)
      val s2 = pass()
      System.err.println(s"[state] $name pass1=${s1.mkString(",")} pass2=${s2.mkString(",")}")
      (s1, s2)
    }

    // st11's shape: 1-day tumbling windows x event_type, 2-day watermark
    val (a1, a2) = measure("windowed_agg")(
      _.withWatermark("ts", "2 days")
        .groupBy(window(col("ts"), "1 day"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("window.start").as("ws"), col("event_type"), col("cnt")))
    // st12's shape: purchase <- click within the preceding hour, 1-day marks
    val (j1, j2) = measure("stream_stream_join") { src =>
      val clicks = src.filter(col("event_type") === "click")
        .select(col("user_id").as("click_user"), col("ts").as("click_ts"))
        .withWatermark("click_ts", "1 day")
      val purchases = src.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("purchase_ts"))
        .withWatermark("purchase_ts", "1 day")
      purchases.join(clicks,
        col("user_id") === col("click_user") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") < col("click_ts") + expr("INTERVAL 1 HOUR"))
    }
    // st14's shape: 30-minute session windows per user, 1-day watermark
    val (w1, w2) = measure("session_window")(
      _.withWatermark("ts", "1 day")
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), col("session_window.start").as("ss"),
          col("n_events")))

    Seq(("windowed_agg", a1, a2), ("stream_stream_join", j1, j2),
        ("session_window", w1, w2)).foreach { case (name, s1, s2) =>
      assert(s1.nonEmpty && s2.nonEmpty, s"$name: no state metrics reported")
      val peak = (s1 ++ s2).max
      assert(peak > 0, s"$name: state never held a row")
      // the bounded-state claim itself: after the watermark passes pass-1's
      // horizon, live state must be strictly below both the peak and the
      // pass-1 resting level — eviction happened, nothing accumulated
      assert(s2.last < s1.last,
        s"$name: state did not drop after watermark passage " +
          s"(pass1=${s1.mkString(",")} pass2=${s2.mkString(",")})")
      assert(s2.last < peak,
        s"$name: final state ${s2.last} not below peak $peak")
    }
  }

  test("ST1 window scan: events fixture reads with ntz timestamps and filters push down") {
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    val window = ev.filter(col("ts") >= lit("2024-01-10 00:00:00").cast("timestamp_ntz"))
    assert(window.count() > 0 && window.count() < ev.count())
    assert(ev.schema("ts").dataType.typeName == "timestamp_ntz")
  }

  test("adaptive state partitions: input-derived, monotone, clamped to session parallelism") {
    import graft.streaming.Streaming
    val ceiling = spark.sessionState.conf.numShufflePartitions
    val advisory = spark.sessionState.conf.getConf(
      org.apache.spark.sql.internal.SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
    // tiny input → 1 partition (never 0); the rule is the whole point at
    // bench SF, where a 32-store state checkpoint serves kilobytes
    assert(Streaming.adaptiveStatePartitions(spark, 1L) == 1)
    assert(Streaming.adaptiveStatePartitions(spark, advisory) == 1)
    assert(Streaming.adaptiveStatePartitions(spark, advisory + 1) == 2)
    // grows linearly with the corpus — the scale-adaptive (not local-tune)
    // property: a 10x input gets 10x the partitions until the ceiling
    val at1x = Streaming.adaptiveStatePartitions(spark, 2 * advisory)
    val at10x = Streaming.adaptiveStatePartitions(spark, 20 * advisory)
    assert(at10x == math.min(ceiling, 10 * at1x))
    // at real scale the rule returns exactly the session setting
    assert(Streaming.adaptiveStatePartitions(spark, Long.MaxValue / 4) == ceiling)
    // the scoped override restores the session value even on failure
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    intercept[RuntimeException] {
      Streaming.withAdaptiveStatePartitions(spark, 1L) {
        assert(spark.conf.get("spark.sql.shuffle.partitions") == "1")
        throw new RuntimeException("boom")
      }
    }
    assert(spark.conf.get("spark.sql.shuffle.partitions") == before)
  }
}
