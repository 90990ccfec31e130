package graft

import graft.merge.{AtomicWriter, Dml, MergeInto}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** MergeInto semantics (SURVEY §2.9 M1/M2): idempotence, latest-wins,
  * audit-column preservation, atomic swap, smart-delete liveness guard —
  * the properties the reference asserts operationally
  * (`daily_sync.py:252-269`, `CRITICAL_DELETE_LOGIC_FIX_SUMMARY.md:42,77`).
  */
class MergeSpec extends SparkSuite {
  import spark.implicits._

  private def kv(rows: Seq[(Int, Int, String)]) =
    rows.toDF("k", "seq", "v")

  private def checkProp(p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(15), p)
    assert(res.passed, res.status.toString)
  }

  test("merge is idempotent: applying the same source twice equals once (property)") {
    val genRows = Gen.listOfN(30, for {
      k <- Gen.choose(0, 9); seq <- Gen.choose(0, 5); v <- Gen.alphaStr.map(_.take(4))
    } yield (k, seq, v))
    checkProp(Prop.forAll(genRows, genRows) { (t, s) =>
      // unique target keys (dropDuplicates would re-pick per evaluation)
      val target = kv(t.zipWithIndex.map { case ((_, seq, v), i) => (i, seq, v) })
      val source = kv(s)
      val once = MergeInto.merge(target, source, Seq("k"), Some("seq"), Seq(col("v")))
      val twice = MergeInto.merge(once, source, Seq("k"), Some("seq"), Seq(col("v")))
      once.exceptAll(twice).isEmpty && twice.exceptAll(once).isEmpty
    })
  }

  test("partition-scoped merge ≡ full-table merge (property over random targets/sources)") {
    import java.sql.Date
    val genDated = Gen.listOfN(25, for {
      k <- Gen.choose(0, 12); d <- Gen.choose(1, 4); seq <- Gen.choose(0, 5)
    } yield (k, Date.valueOf(f"2024-01-0$d"), seq, s"v$k-$seq"))
    def dated(rows: Seq[(Int, Date, Int, String)]) = rows.toDF("k", "d", "seq", "v")
    checkProp(Prop.forAll(genDated, genDated) { (t, s) =>
      // the merge key includes the date (the reference's fact grain); unique
      // target keys so the expected full-table merge is well-defined, and v
      // is a function of (k, seq) so within-source ties are value-identical
      val target = dated(t).dropDuplicates("k", "d").localCheckpoint(true)
      val source = dated(s)
      val expected = MergeInto.merge(target, source, Seq("k", "d"), Some("seq"))
      val path = tmpDir() + "/pmerge_prop"
      Dml.overwritePartitions(target, path, Seq("d"))
      MergeInto.mergePartitioned(spark, path, source, Seq("k", "d"), "d",
        orderCol = Some("seq"))
      val got = spark.read.parquet(path).select("k", "d", "seq", "v")
      got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty
    })
  }

  test("a partition-scoped merge reads the days it overwrites only below a shuffle") {
    import java.sql.Date
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
    val path = tmpDir() + "/pmerge_plan"
    def dated(rows: (Int, String, Int, String)*) = rows.toDF("k", "d", "seq", "v")
      .withColumn("d", col("d").cast("date"))
    Dml.overwritePartitions(dated((1, "2024-01-01", 0, "a"), (2, "2024-01-02", 0, "b"),
      (3, "2024-01-03", 0, "c")), path, Seq("d"))
    // restates day 01-02 (one update, one insert) and adds day 01-04
    val plans = plansOf(MergeInto.mergePartitioned(spark, path,
      dated((2, "2024-01-02", 1, "b2"), (4, "2024-01-02", 1, "d"), (5, "2024-01-04", 1, "e")),
      Seq("k", "d"), "d", orderCol = Some("seq")))
    assert(spark.read.parquet(path).select("k", "d", "seq", "v").as[(Int, Date, Int, String)]
      .collect().sortBy(_._1).toSeq === Seq(
        (1, Date.valueOf("2024-01-01"), 0, "a"), (2, Date.valueOf("2024-01-02"), 1, "b2"),
        (3, Date.valueOf("2024-01-03"), 0, "c"), (4, Date.valueOf("2024-01-02"), 1, "d"),
        (5, Date.valueOf("2024-01-04"), 1, "e")))
    // every scan of the target root in the write's plan lies below an
    // exchange, so all old files are read before any task writes; `walk`
    // flags each node of a plan that has an exchange above it
    def walk(p: SparkPlan, shuffled: Boolean): Seq[(SparkPlan, Boolean)] = (p -> shuffled) +:
      (p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan, shuffled)
        case q: QueryStageExec => walk(q.plan, shuffled)
        case r: ReusedExchangeExec => walk(r.child, true)
        case e: Exchange => e.children.flatMap(walk(_, true))
        case other => other.children.flatMap(walk(_, shuffled))
      })
    val writes = plans.map(walk(_, false))
      .filter(_.exists(_._1.isInstanceOf[DataWritingCommandExec]))
    assert(writes.length === 1)
    val root = new java.io.File(path).getAbsolutePath
    val targetScans = writes.head.collect { case (s: FileSourceScanExec, sh)
      if s.relation.location.rootPaths.exists(_.toUri.getPath.startsWith(root)) => sh }
    assert(targetScans.nonEmpty, "the merge of existing days reads the target")
    assert(targetScans.forall(identity), s"a target scan reaches the write unshuffled: ${plans}")
  }

  test("merge latest-wins: highest seq per key survives; unmatched target rows kept") {
    val target = kv(Seq((1, 0, "old1"), (2, 0, "old2"), (3, 0, "keep3")))
    val source = kv(Seq((1, 1, "mid1"), (1, 2, "new1"), (2, 5, "new2")))
    val out = MergeInto.merge(target, source, Seq("k"), Some("seq"))
      .select("k", "v").as[(Int, String)].collect().toMap
    assert(out === Map(1 -> "new1", 2 -> "new2", 3 -> "keep3"))
  }

  test("merge anti-joins the raw source keys: no aggregate or window on the build side, same rows") {
    import org.apache.spark.sql.catalyst.plans.LeftAnti
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, Window}
    val rnd = new scala.util.Random(7)
    val target = kv((0 until 40).map(i => (i, 0, s"t$i")))
    // duplicate keys, keys outside the target, a NULL key
    val source = kv(Seq.fill(30)((rnd.nextInt(60), rnd.nextInt(9), s"s${rnd.nextInt(99)}")))
      .union(Seq[(Option[Int], Int, String)]((None, 1, "n")).toDF("k", "seq", "v"))
    for (order <- Seq(None, Some("seq"))) {
      val tie = if (order.isEmpty) Nil else Seq(col("v"))
      val out = MergeInto.merge(target, source, Seq("k"), order, tie)
      val antis = out.queryExecution.optimizedPlan.collect {
        case j: Join if j.joinType == LeftAnti => j }
      assert(antis.length === 1, out.queryExecution.optimizedPlan)
      assert(antis.head.right.collect { case a: Aggregate => a; case w: Window => w }.isEmpty,
        s"the anti-join's build side deduplicates again:\n${antis.head.right}")
      // the rows the dedup-then-anti-join rewrite produced
      val deduped = order.fold(source.dropDuplicates("k"))(c =>
        graft.ops.Core.dedupByKey(source, Seq("k"), col(c).desc +: tie))
        .localCheckpoint(true)
      val expected = target.join(deduped.select("k"), Seq("k"), "left_anti").unionByName(deduped)
      val got = MergeInto.merge(target, deduped, Seq("k"), order, tie)
      assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty, order)
      if (order.nonEmpty)
        assert(out.exceptAll(expected).isEmpty && expected.exceptAll(out).isEmpty)
    }
  }

  test("mergeWithAudit: matched rows keep uuid + refresh ts; new rows mint uuid") {
    val target = Seq((1, "a", "uuid-1", "2024-01-01 00:00:00"), (2, "b", "uuid-2", "2024-01-01 00:00:00"))
      .toDF("k", "v", "row_uuid", "ts0")
      .select(col("k"), col("v"), col("row_uuid"),
        col("ts0").cast("timestamp_ntz").as("bq_ingestion_timestamp"))
    val source = Seq((2, "b2"), (3, "c")).toDF("k", "v")
      .withColumn("row_uuid", lit(null).cast("string"))
      .withColumn("bq_ingestion_timestamp", lit(null).cast("timestamp_ntz"))
    val out = MergeInto.mergeWithAudit(target, source, Seq("k"),
      MergeInto.Audit(deterministic = true, fixedTimestamp = Some("2025-06-01 00:00:00")))
      .collect().map(r => r.getInt(0) -> (r.getString(1), r.getString(2), r.get(3).toString)).toMap
    assert(out(1)._1 == "a" && out(1)._2 == "uuid-1" && out(1)._3.startsWith("2024-01-01"))
    assert(out(2)._1 == "b2" && out(2)._2 == "uuid-2" && out(2)._3.startsWith("2025-06-01"))
    assert(out(3)._1 == "c" && out(3)._2.length == 32 && out(3)._3.startsWith("2025-06-01"))
  }

  test("AtomicWriter: swap leaves either old or new table, readable after overwrite") {
    val path = tmpDir() + "/tbl"
    AtomicWriter.overwrite(Seq((1, "a")).toDF("k", "v"), path)
    assert(spark.read.parquet(path).count() == 1)
    AtomicWriter.overwrite(Seq((1, "a"), (2, "b")).toDF("k", "v"), path)
    assert(spark.read.parquet(path).count() == 2)
    // merged plan reading the target it overwrites (the foreachBatch shape)
    val target = spark.read.parquet(path)
    val merged = MergeInto.merge(target, Seq((3, "c")).toDF("k", "v"), Seq("k"))
    AtomicWriter.overwrite(merged, path)
    assert(spark.read.parquet(path).count() == 3)
  }

  test("smartDelete: empty live-key set deletes nothing (liveness guard)") {
    val target = Seq((1, "2024-01-01"), (2, "2024-01-01"), (3, "2024-01-02"))
      .toDF("k", "d").withColumn("d", col("d").cast("date"))
    val emptyLive = target.filter(lit(false)).select("k")
    val out = Dml.smartDelete(target, emptyLive, Seq("k"), "d", lit("2024-01-01").cast("date"))
    assert(out.count() == 3)
  }

  test("smartDelete: removes only today's rows missing from live keys") {
    val target = Seq((1, "2024-01-01"), (2, "2024-01-01"), (3, "2024-01-02"))
      .toDF("k", "d").withColumn("d", col("d").cast("date"))
    val live = Seq(Tuple1(1)).toDF("k")
    val out = Dml.smartDelete(target, live, Seq("k"), "d", lit("2024-01-01").cast("date"))
      .select("k").as[Int].collect().toSet
    assert(out === Set(1, 3)) // 2 deleted (today, not live); 3 untouched (other day)
  }

  test("orphanCleanup dry-run counts match live-mode deletions") {
    val target = Seq(1, 2, 3, 4).toDF("id")
    val live = Seq(2, 4).toDF("id")
    val dry = Dml.orphanCleanupDryRun(target, live, "id", "t").select("would_delete")
      .as[Long].head()
    val kept = Dml.orphanCleanup(target, live, "id").count()
    assert(dry == 2 && kept == 2 && dry + kept == target.count())
  }
}
