package graft

import graft.merge.Versioned
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Round-16 log surface: exactly-once streaming MERGE (st18), metadata-only
  * ADD COLUMN (vt16), keyed CDC pairing (vt17), and the per-key blast
  * radius that keeps a multi-window backfill merge from degrading to a
  * near-full rewrite (its plan is pinned in VersionedMergePlanSpec).
  */
class VersionedEvolveCdcSpec extends SparkSuite {

  private def freshRoot(): String =
    Files.createTempDirectory("graft_vt16").toString + "/t"

  test("a two-window backfill merge rewrites ONLY the windows' files (not the table span)") {
    import spark.implicits._
    val root = freshRoot()
    // 16 range-clustered files over keys 1..1600 (~100 keys each)
    Versioned.appendWithStats(
      (1L to 1600L).map(k => (k, s"v$k")).toDF("k", "v").repartitionByRange(16, col("k")),
      root, "k")
    val v1 = Versioned.currentVersion(root).get
    assert(v1.files.length === 16)
    // the classic Jan+Dec backfill: keys at both ends, nothing between
    val src = Seq((5L, "X5"), (10L, "X10"), (1590L, "X1590"), (1595L, "X1595")).toDF("k", "v")
    val v2 = Versioned.mergeInto(spark, root, src, Seq("k"))
    val removed = v1.files.toSet -- v2.files.toSet
    // the single-envelope radius would be [5, 1595] ≈ every file; the range
    // set must touch only the files overlapping the two windows
    assert(removed.size <= 4,
      s"two-window source must not rewrite ${removed.size} of 16 files (envelope regression)")
    val endFiles = v1.files.filter { f =>
      val (mn, mx) = v1.stats(f).head
      (mx >= 5 && mn <= 10) || (mx >= 1590 && mn <= 1595)
    }.toSet
    assert(removed === endFiles, s"removed=$removed expected=$endFiles")
    // correctness unchanged: updates applied, middle untouched
    val got = Versioned.read(spark, root).as[(Long, String)].collect().toMap
    assert(got.size === 1600 && got(5L) === "X5" && got(1595L) === "X1595" && got(800L) === "v800")
  }

  // ---- st18: exactly-once streaming MERGE ----

  test("mergeStreamBatch: replayed batch is a metadata no-op; racing replays resolve to one") {
    import spark.implicits._
    val root = freshRoot()
    Versioned.appendWithStats(
      (1L to 40L).map(k => (k, s"v$k")).toDF("k", "v").repartitionByRange(4, col("k")),
      root, "k")
    val batch = Seq((5L, "B5"), (100L, "B100")).toDF("k", "v")
    // first application commits under the batch id
    val v2 = Versioned.mergeStreamBatch(spark, root, batch, Seq("k"), batchId = 0L)
    assert(v2.nonEmpty && v2.get.op === "stream-batch-0" && v2.get.txns.contains(0L))
    // replay: None, version unchanged, data unchanged
    assert(Versioned.mergeStreamBatch(spark, root, batch, Seq("k"), batchId = 0L).isEmpty)
    assert(Versioned.currentVersion(root).get.n === v2.get.n)
    val got = Versioned.read(spark, root).as[(Long, String)].collect().toMap
    assert(got.size === 41 && got(5L) === "B5" && got(100L) === "B100")
    // RACE: a replayed batch against a fresh one — same id from two threads;
    // exactly one commits, rows land exactly once
    val errs = java.util.concurrent.ConcurrentHashMap.newKeySet[Throwable]()
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Option[Versioned.Version]]()
    val b1 = Seq((6L, "C6"), (200L, "C200")).toDF("k", "v")
    val ts = (0 until 2).map(_ => new Thread(() => {
      try { results.add(Versioned.mergeStreamBatch(spark, root, b1, Seq("k"),
        batchId = 1L, maxRetries = 20)); () }
      catch { case t: Throwable => errs.add(t); () }
    }))
    ts.foreach(_.start()); ts.foreach(_.join())
    assert(errs.isEmpty, s"racing stream merge failed: $errs")
    val committed = results.toArray.collect { case Some(v: Versioned.Version) => v }
    assert(committed.length === 1, "exactly one of two racing replays must commit")
    val after = Versioned.read(spark, root).as[(Long, String)].collect().toMap
    assert(after.size === 42 && after(6L) === "C6" && after(200L) === "C200")
    // an EMPTY batch still records its id (dedup state must advance)
    val v4 = Versioned.mergeStreamBatch(spark, root, b1.limit(0), Seq("k"), batchId = 2L)
    assert(v4.nonEmpty && v4.get.txns.contains(2L) && v4.get.files === committed.head.files)
    assert(Versioned.mergeStreamBatch(spark, root, b1.limit(0), Seq("k"), batchId = 2L).isEmpty)
    // first batch onto an EMPTY log: append-shaped, still id-recorded
    val root2 = freshRoot()
    val f = Versioned.mergeStreamBatch(spark, root2, b1, Seq("k"), batchId = 0L)
    assert(f.nonEmpty && f.get.n === 1 && f.get.txns === Set(0L))
    assert(Versioned.mergeStreamBatch(spark, root2, b1, Seq("k"), batchId = 0L).isEmpty)
  }

  // ---- vt16: metadata-only ADD COLUMN ----

  test("evolve adds a column without touching a data file; contracts are per-version") {
    import spark.implicits._
    val root = freshRoot()
    Versioned.appendWithStats((1L to 20L).map(k => (k, s"v$k")).toDF("k", "v")
      .repartitionByRange(2, col("k")), root, "k")
    val v1 = Versioned.currentVersion(root).get
    val v2 = Versioned.evolve(root, "note STRING")
    // ZERO data files rewritten: same file list by PATH IDENTITY, same stats
    assert(v2.op === "evolve" && v2.files === v1.files && v2.stats === v1.stats)
    assert(v2.schema.get.contains("note STRING"))
    // old files read the new column as typed NULL under the new contract
    val cur = Versioned.read(spark, root)
    assert(cur.columns.toSeq === Seq("k", "v", "note"))
    assert(cur.filter(col("note").isNotNull).count() === 0L)
    // a post-evolve append lands real values; both generations read together
    Versioned.append(Seq((21L, "v21", "hello")).toDF("k", "v", "note"), root)
    val all = Versioned.read(spark, root)
    assert(all.count() === 21L)
    assert(all.filter(col("note") === "hello").select("k").as[Long].collect().toSeq === Seq(21L))
    // an OLD-schema append is refused against the evolved contract
    val e = intercept[IllegalArgumentException](
      Versioned.append(Seq((22L, "v22")).toDF("k", "v"), root))
    assert(e.getMessage.contains("schema drift"))
    // time travel: v1 reads under the ORIGINAL contract (no note column)
    assert(Versioned.read(spark, root, Some(1)).columns.toSeq === Seq("k", "v"))
    // stats pruning still works across generations
    val pruned = Versioned.readPruned(spark, root, "k", 1, 5)
    assert(pruned.select("k").as[Long].collect().sorted.toSeq === (1L to 5L))
    // the native relation sees the evolved schema too
    assert(Versioned.table(spark, root).columns.toSeq === Seq("k", "v", "note"))
    // a pure evolve produces an EMPTY change set (no files changed)
    assert(Versioned.changes(spark, root, 1, 2).count() === 0L)
    // duplicate column refused
    intercept[IllegalArgumentException](Versioned.evolve(root, "v STRING"))
    // COW DML across generations writes under the evolved contract
    Versioned.deleteWhere(spark, root, col("k") === 3L)
    val afterDel = Versioned.read(spark, root)
    assert(afterDel.columns.toSeq === Seq("k", "v", "note") && afterDel.count() === 20L)
  }

  // ---- vt17: keyed CDC ----

  test("changesByKey pairs updates as update_pre/update_post; inserts/deletes keep their tags") {
    import spark.implicits._
    val root = freshRoot()
    Versioned.appendWithStats(
      (1L to 30L).map(k => (k, s"v$k")).toDF("k", "v").repartitionByRange(3, col("k")),
      root, "k")
    // v2: update keys 5,6; insert 100; delete 20-22
    Versioned.mergeInto(spark, root, Seq((5L, "NEW5"), (6L, "NEW6"), (100L, "NEW100"))
      .toDF("k", "v"), Seq("k"))
    Versioned.deleteWhere(spark, root, col("k").between(20L, 22L))
    val ch = Versioned.changesByKey(spark, root, 1, 3, Seq("k"))
      .as[(Long, String, String)].collect().toSet
    assert(ch === Set(
      (5L, "v5", "update_pre"), (5L, "NEW5", "update_post"),
      (6L, "v6", "update_pre"), (6L, "NEW6", "update_post"),
      (100L, "NEW100", "insert"),
      (20L, "v20", "delete"), (21L, "v21", "delete"), (22L, "v22", "delete")))
    // composes with applyChangesByKey: a v1 replica rolls forward to v3
    val replica = Versioned.read(spark, root, Some(1))
    val plain = Versioned.changesByKey(spark, root, 1, 3, Seq("k"))
      .withColumn("change_type",
        when(col("_change_type").isin("update_post", "insert"), "insert")
          .otherwise("delete"))
      .drop("_change_type")
    val rolled = Versioned.applyChangesByKey(replica, plain, Seq("k"))
      .as[(Long, String)].collect().toMap
    val v3 = Versioned.read(spark, root).as[(Long, String)].collect().toMap
    assert(rolled === v3)
  }

  // ---- vt18: OPTIMIZE ZORDER through the log ----

  test("compactZOrder retracks stats to the z dims; second-dim reads prune only after") {
    import spark.implicits._
    val root = freshRoot()
    // 40x40 grid over (a, b), committed in 4 a-clustered slices tracking
    // only `a` — pre-compact, a `b` predicate cannot prune at all
    val grid = for (a <- 1L to 40L; b <- 1L to 40L) yield (a, b)
    (0 until 4).foreach { i =>
      Versioned.appendWithStats(
        grid.filter(_._1 % 4 == i).toDF("a", "b").repartitionByRange(2, col("a")),
        root, "a")
    }
    Versioned.appendStreamBatch(Seq((0L, 0L)).toDF("a", "b"), root, batchId = 9)
    val pre = Versioned.currentVersion(root).get
    val preRead = Versioned.readWhere(spark, root, col("b").between(1L, 5L))
    assert(preRead.inputFiles.length === pre.files.length,
      "untracked dim must read conservatively pre-compact")
    val v = Versioned.compactZOrder(spark, root, Seq("a", "b"), nFiles = 8)
    assert(v.op === "compact-zorder" && v.statsCols === Seq("a", "b"))
    assert(v.files.length === 8 && v.stats.keySet === v.files.toSet)
    assert(v.txns.contains(9L), "stream-batch dedup state must survive the rewrite")
    // NOW both dims prune, rows identical
    val byB = Versioned.readWhere(spark, root, col("b").between(1L, 5L))
    assert(byB.inputFiles.length < v.files.length, "z layout must prune on the second dim")
    assert(byB.count() === 200L) // 40 a-values x 5 b-values; (0,0) is outside [1,5]
    val byA = Versioned.readWhere(spark, root, col("a").between(1L, 5L))
    assert(byA.inputFiles.length < v.files.length)
    assert(byA.count() === 200L)
    // snapshot semantics: the pre-compact version still plans its old files
    assert(Versioned.read(spark, root, Some(pre.n)).count() === 1601L)
    // the new stats contract binds later appends (same columns required)
    Versioned.appendWithStats(Seq((50L, 50L)).toDF("a", "b"), root, Seq("a", "b"))
    assert(Versioned.read(spark, root).count() === 1602L)
  }
}
