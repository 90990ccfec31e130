package graft

import graft.merge.Versioned
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Transaction-log semantics: manifest-scoped reads, append-only history,
  * pointer-flip rollback, optimistic-concurrency conflict, relocatability.
  */
class VersionedSpec extends SparkSuite {

  private def freshRoot(): String =
    Files.createTempDirectory("graft_vt_spec").toString + "/t"

  private def dataFiles(root: String): Seq[String] =
    Files.walk(Paths.get(root, "data")).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .map(_.toString).toSeq.sorted

  test("append/overwrite/rollback: every version reads back as its snapshot") {
    import spark.implicits._
    val root = freshRoot()
    Versioned.append(Seq(1L, 2L).toDF("k"), root)
    Versioned.append(Seq(3L).toDF("k"), root)
    Versioned.overwrite(Seq(9L).toDF("k"), root)
    Versioned.rollback(root, to = 2)
    val vs = Versioned.versions(root)
    assert(vs.map(v => (v.n, v.op, v.parent)) ===
      Seq((1, "append", 0), (2, "append", 1), (3, "overwrite", 2), (4, "rollback", 2)))
    def ks(asOf: Int): Seq[Long] =
      Versioned.read(spark, root, Some(asOf)).as[Long].collect().sorted.toSeq
    assert(ks(1) === Seq(1L, 2L))
    assert(ks(2) === Seq(1L, 2L, 3L))
    assert(ks(3) === Seq(9L))
    assert(ks(4) === Seq(1L, 2L, 3L))
    // latest = v4
    assert(Versioned.read(spark, root).as[Long].collect().sorted.toSeq === Seq(1L, 2L, 3L))
  }

  test("rollback is a pointer flip: no data files written or removed") {
    import spark.implicits._
    val root = freshRoot()
    Versioned.append(Seq(1L).toDF("k"), root)
    Versioned.append(Seq(2L).toDF("k"), root)
    val before = dataFiles(root)
    Versioned.rollback(root, to = 1)
    assert(dataFiles(root) === before)
    assert(Versioned.currentVersion(root).get.files ===
      Versioned.versions(root).head.files)
  }

  test("concurrent commit to the same version loses loudly") {
    import spark.implicits._
    val root = freshRoot()
    Versioned.append(Seq(1L).toDF("k"), root)
    // simulate the race by driving the CAS promote with a version number
    // that lands AFTER this writer selected it: v1 already exists, so the
    // link-promote must refuse (POSIX rename would have clobbered v1 —
    // the failure mode the hard-link publish exists to prevent)
    val e = intercept[IllegalStateException] {
      Versioned.writeManifest(root,
        Versioned.Version(1, "append", 0, Seq("data/raced.parquet")))
    }
    assert(e.getMessage.contains("concurrent commit"))
    // the winner's manifest is untouched (not clobbered by the loser)
    assert(Versioned.read(spark, root).as[Long].collect().toSeq === Seq(1L))
    // the loser's staged file must not linger in the log dir
    val staged = Files.list(Paths.get(root, "_vlog")).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".staged")).toSeq
    assert(staged.isEmpty)
  }

  test("manifests are relocatable: relative paths survive a table move") {
    import spark.implicits._
    val root = freshRoot()
    Versioned.append(Seq(7L, 8L).toDF("k"), root)
    val moved = Files.createTempDirectory("graft_vt_moved").toString + "/t2"
    Files.move(Paths.get(root), Paths.get(moved))
    assert(Versioned.read(spark, moved).as[Long].collect().sorted.toSeq === Seq(7L, 8L))
  }

  test("vacuum unlinks only expired files; survivors and current read intact") {
    import spark.implicits._
    val root = freshRoot()
    Versioned.append(Seq(1L).toDF("k"), root)            // v1: file A
    Versioned.append(Seq(2L).toDF("k"), root)            // v2: A + B
    Versioned.overwrite(Seq(9L).toDF("k"), root)         // v3: C only
    val (deleted, retained) = Versioned.vacuum(root, keepLast = 1)
    // A and B expired; C retained — and the sets are disjoint on disk
    assert(deleted.nonEmpty && retained.nonEmpty)
    deleted.foreach(f => assert(!Files.exists(Paths.get(root).resolve(f)), f))
    retained.foreach(f => assert(Files.exists(Paths.get(root).resolve(f)), f))
    assert(Versioned.read(spark, root).as[Long].collect().toSeq === Seq(9L))
    // rolling back onto vacuumed data is refused loudly (the read would
    // otherwise fail later, elsewhere)
    val e = intercept[IllegalArgumentException](Versioned.rollback(root, to = 1))
    assert(e.getMessage.contains("vacuumed"))
    // a file shared by an expired AND a live version must survive:
    val root2 = freshRoot()
    Versioned.append(Seq(1L).toDF("k"), root2)           // v1: file A
    Versioned.append(Seq(2L).toDF("k"), root2)           // v2: A + B (A shared)
    val (del2, _) = Versioned.vacuum(root2, keepLast = 1)
    assert(del2.isEmpty) // v1's A is still referenced by the live v2
    assert(Versioned.read(spark, root2).as[Long].collect().sorted.toSeq === Seq(1L, 2L))
  }

  test("changes: CDC reads only non-shared files; multiset semantics cancel re-writes") {
    import spark.implicits._
    val root = freshRoot()
    Versioned.append(Seq((1L, "a"), (2L, "b"), (2L, "b")).toDF("k", "v"), root) // v1 (dup row!)
    Versioned.append(Seq((3L, "c")).toDF("k", "v"), root)                       // v2
    // v3 overwrite: keeps 2L x1 (drops the other copy and 1L/3L), adds 4L
    Versioned.overwrite(Seq((2L, "b"), (4L, "d")).toDF("k", "v"), root)
    val c12 = Versioned.changes(spark, root, 1, 2)
    // append CDC reads ONLY the appended files — v1's files are shared
    val v1Files = Versioned.versions(root).head.files.map(f =>
      Paths.get(root).resolve(f).toString).toSet
    assert(c12.inputFiles.toSet.intersect(v1Files).isEmpty)
    assert(c12.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq ===
      Seq((3L, "c", "insert")))
    val c23 = Versioned.changes(spark, root, 2, 3)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).sortBy(x => (x._3, x._1))
    // the re-written (2L,"b") cancels ONE copy by value; the dup copy, 1L
    // and 3L are deletes; 4L is the only insert
    assert(c23.toSeq === Seq((1L, "a", "delete"), (2L, "b", "delete"),
      (3L, "c", "delete"), (4L, "d", "insert")))
  }

  test("applyChanges rolls a replica forward to exactly the target version's multiset") {
    import spark.implicits._
    val root = freshRoot()
    Versioned.append(Seq((1L, "a"), (2L, "b"), (2L, "b")).toDF("k", "v"), root)
    Versioned.append(Seq((3L, "c")).toDF("k", "v"), root)
    Versioned.overwrite(Seq((2L, "b"), (4L, "d")).toDF("k", "v"), root)
    var replica = Versioned.read(spark, root, Some(1))
    replica = Versioned.applyChanges(replica, Versioned.changes(spark, root, 1, 2))
    replica = Versioned.applyChanges(replica, Versioned.changes(spark, root, 2, 3))
    val got = replica.collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    val want = Versioned.read(spark, root, Some(3))
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(got === want)
    assert(got === Seq((2L, "b"), (4L, "d")))
  }

  test("appendStreamBatch is exactly-once per batch id") {
    import spark.implicits._
    val root = freshRoot()
    assert(Versioned.appendStreamBatch(Seq(1L).toDF("k"), root, batchId = 0).nonEmpty)
    // a replayed batch 0 (restart from fresh checkpoint) commits nothing
    assert(Versioned.appendStreamBatch(Seq(1L).toDF("k"), root, batchId = 0).isEmpty)
    assert(Versioned.appendStreamBatch(Seq(2L).toDF("k"), root, batchId = 1).nonEmpty)
    assert(Versioned.versions(root).map(_.op) === Seq("stream-batch-0", "stream-batch-1"))
    assert(Versioned.read(spark, root).as[Long].collect().sorted.toSeq === Seq(1L, 2L))
  }

  test("manifest stats prune the scan set; stats survive the log's lifecycle ops") {
    import spark.implicits._
    val root = freshRoot()
    // 20 keys range-clustered into 4 files per commit → tight per-file ranges
    Versioned.appendWithStats(
      (1L to 20L).toDF("k").repartitionByRange(4, col("k")), root, "k")
    Versioned.appendWithStats(
      (101L to 120L).toDF("k").repartitionByRange(4, col("k")), root, "k")
    val v = Versioned.currentVersion(root).get
    assert(v.statsCols === Seq("k"))
    assert(v.stats.keySet === v.files.toSet) // every file has an entry
    val pruned = Versioned.readPruned(spark, root, "k", lo = 104, hi = 110)
    // correctness: exactly the ranged keys, across the commit boundary
    assert(pruned.as[Long].collect().sorted.toSeq === (104L to 110L))
    // pruning: strictly fewer files scanned than the manifest lists
    assert(pruned.inputFiles.length < v.files.length,
      s"expected a pruned scan, got ${pruned.inputFiles.length} of ${v.files.length}")
    // all-files-pruned path: disjoint range over a fully-stats'd version
    assert(Versioned.readPruned(spark, root, "k", 1000, 2000, asOf = Some(2)).count() === 0L)
    // stats ride rollback (pointer flip) and a plain append keeps old entries
    Versioned.rollback(root, to = 1)
    assert(Versioned.currentVersion(root).get.stats.nonEmpty)
    Versioned.append(Seq(500L).toDF("k"), root)
    val v4 = Versioned.currentVersion(root).get
    assert(v4.statsCols === Seq("k"))
    // the stats-less new file is read conservatively: 500 is outside every
    // recorded range but must still appear in a ranged read that covers it
    assert(Versioned.readPruned(spark, root, "k", 400, 600).as[Long].collect().toSeq === Seq(500L))
    // disjoint range → empty result (not an error), schema intact
    assert(Versioned.readPruned(spark, root, "k", 1000, 2000).count() === 0L)
  }

  test("multi-column stats: either dimension prunes; guards hold") {
    import spark.implicits._
    val root = freshRoot()
    // (k, d): k clusters the files, d rides along with per-file ranges too
    val df = (1L to 40L).map(k => (k, k * 10L)).toDF("k", "d")
      .repartitionByRange(4, col("k"))
    Versioned.appendWithStats(df, root, Seq("k", "d"))
    val v = Versioned.currentVersion(root).get
    assert(v.statsCols === Seq("k", "d"))
    assert(v.stats.values.forall(_.length === 2)) // one range per stats col
    val byK = Versioned.readPruned(spark, root, "k", 5, 8)
    assert(byK.select("k").as[Long].collect().sorted.toSeq === (5L to 8L))
    assert(byK.inputFiles.length < v.files.length)
    val byD = Versioned.readPruned(spark, root, "d", 310, 340)
    assert(byD.select("k").as[Long].collect().sorted.toSeq === (31L to 34L))
    assert(byD.inputFiles.length < v.files.length)
    // a column the manifest doesn't track fails loudly
    intercept[IllegalArgumentException](Versioned.readPruned(spark, root, "zz", 0, 1))
    // an all-NULL stats column ⇒ stats-less entry, read conservatively
    val root2 = freshRoot()
    Versioned.appendWithStats(
      Seq((1L, Option.empty[Long]), (2L, Option.empty[Long])).toDF("k", "d"), root2, Seq("k", "d"))
    val v2 = Versioned.currentVersion(root2).get
    assert(v2.stats.isEmpty) // no NULL ranges in the manifest
    assert(Versioned.readPruned(spark, root2, "k", 1, 1).select("k").as[Long].collect().toSeq
      === Seq(1L))
    // an empty commit (zero rows) neither crashes the stats pass nor skips
    Versioned.appendWithStats(Seq.empty[(Long, Long)].toDF("k", "d"), root2, Seq("k", "d"))
    assert(Versioned.currentVersion(root2).get.n === 2)
  }

  test("delta manifests: an append writes O(commit) metadata, reads a bounded log suffix") {
    import graft.merge.Versioned.FileEntry
    val root = freshRoot()
    // drive the metadata plane directly (no Spark data writes): 1000 commits
    (1 to 1000).foreach(i => Versioned.commitFiles(root, "append",
      Seq(FileEntry(f"data/c$i/f$i.parquet", Seq((i.toLong, i.toLong)))), Seq("k")))
    val cur0 = Versioned.currentVersion(root).get
    assert(cur0.n === 1000 && cur0.files.length === 1000 && cur0.stats.size === 1000)
    // planning the current state reads at most CheckpointInterval manifests,
    // not 1000 — the Delta-checkpoint property that keeps a long-lived
    // stream sink's per-batch cost O(1)
    val before = Versioned.manifestReads.get()
    Versioned.currentVersion(root).get
    val reads = Versioned.manifestReads.get() - before
    assert(reads <= Versioned.CheckpointInterval,
      s"currentVersion read $reads manifests; bound is ${Versioned.CheckpointInterval}")
    // a non-checkpoint append's manifest lists ONLY its own files (plus the
    // header) — never the table's 1000 accumulated ones
    val v1001 = Versioned.commitFiles(root, "append",
      Seq(FileEntry("data/c1001/f.parquet", Nil)), Nil)
    assert(v1001.files.length === 1001)
    val manifest = Files.readAllLines(
      Paths.get(root, "_vlog", "v01001.txt")).asScala
    assert(manifest.length === 2, s"delta manifest should be header + 1 file, got:\n$manifest")
    assert(manifest(1) === "+data/c1001/f.parquet|-1") // fmt=3: size field (-1 = unknown)
    // checkpoint manifests exist at the interval and are self-contained
    val ck = Files.readAllLines(Paths.get(root, "_vlog", "v01000.txt")).asScala
    assert(ck.head.contains("full=1") && ck.length === 1 + 1000)
  }

  test("version filenames survive the 5-digit width boundary") {
    import graft.merge.Versioned.FileEntry
    val root = freshRoot()
    // land a checkpoint just under the boundary, then commit across it:
    // %05d widens to v100000.txt and the any-width read must still list it
    Versioned.writeManifest(root, Versioned.Version(99999, "append", 99998,
      Seq("data/old/f.parquet")))
    val v = Versioned.commitFiles(root, "append", Seq(FileEntry("data/new/f.parquet", Nil)), Nil)
    assert(v.n === 100000)
    assert(Files.exists(Paths.get(root, "_vlog", "v100000.txt")))
    // numeric (not lexical) order: v100000 sorts after v99999
    assert(Versioned.versions(root).map(_.n) === Seq(99999, 100000))
    assert(Versioned.currentVersion(root).get.files ===
      Seq("data/old/f.parquet", "data/new/f.parquet"))
    // and the next commit CASes on 100001, not a stale re-read of 99999+1
    val v2 = Versioned.commitFiles(root, "append", Seq(FileEntry("data/n2/f.parquet", Nil)), Nil)
    assert(v2.n === 100001)
  }

  test("stream-batch dedup stays exact across checkpoint boundaries (txn carry-forward)") {
    import graft.merge.Versioned.FileEntry
    val root = freshRoot()
    // 25 stream batches → two checkpoints (v10, v20) in between
    (0 until 25).foreach(i => Versioned.commitFiles(root, s"stream-batch-$i",
      Seq(FileEntry(s"data/b$i/f.parquet", Nil)), Nil))
    val cur = Versioned.currentVersion(root).get
    // ids 0..9 are only recorded pre-checkpoint; the carry-forward must
    // still know them without reading the early manifests
    assert(cur.txns === (0L until 25L).toSet)
    val before = Versioned.manifestReads.get()
    assert(Versioned.currentVersion(root).get.txns.contains(3L))
    assert(Versioned.manifestReads.get() - before <= Versioned.CheckpointInterval)
  }

  test("applyChangesPartitioned touches only changed partitions; empty partitions die") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_vt_part").toString + "/replica"
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "p")
      .write.partitionBy("p").parquet(base)
    def filesUnder(part: String): Set[String] =
      Files.walk(Paths.get(base, s"p=$part")).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).map(_.toString).toSet
    val aBefore = filesUnder("a")
    // change set: insert (4,b), delete the only c row
    val changes = Seq((4L, "b", "insert"), (3L, "c", "delete"))
      .toDF("k", "p", "change_type")
    val scanned = Versioned.applyChangesPartitioned(spark, base, Seq("p"), changes)
    // untouched partition a: never scanned, files byte-identical on disk
    assert(scanned.nonEmpty && !scanned.exists(_.contains("p=a")),
      s"apply scanned untouched partition a: $scanned")
    assert(filesUnder("a") === aBefore)
    // all-rows-deleted partition c is gone (dynamic overwrite alone would
    // have silently kept it)
    assert(!Files.exists(Paths.get(base, "p=c")))
    val got = spark.read.parquet(base).as[(Long, String)].collect().sorted.toSeq
    assert(got === Seq((1L, "a"), (2L, "b"), (4L, "b")))
    // the rewritten partition lands as one file, though its old row and the
    // inserted one come out of different tasks
    assert(filesUnder("b").size === 1)
    // empty change set: a no-op that scans nothing
    assert(Versioned.applyChangesPartitioned(spark, base, Seq("p"),
      changes.limit(0)).isEmpty)
    // a NULL partition value cannot be scoped by the equality predicate —
    // refused loudly instead of silently never applying
    val nullChange = Seq((9L, Option.empty[String], "insert")).toDF("k", "p", "change_type")
    val e = intercept[IllegalArgumentException](
      Versioned.applyChangesPartitioned(spark, base, Seq("p"), nullChange))
    assert(e.getMessage.contains("NULL partition value"))
  }

  test("vt7 composition: manifest file-skip AND z row-group skip stack on the same read") {
    import graft.ops.ZOrder
    // sf0.1 (150k orders): 16 z-range files of ~9400 rows each span several
    // 64 KB row groups — small enough files for a unit test, big enough
    // that BOTH pruning levels have something to skip
    val o = spark.read.parquet("/root/testdata/sf0.1/orders.parquet")
      .select(col("o_orderkey"), col("o_custkey"))
    val st = o.agg(min(col("o_orderkey")), max(col("o_orderkey")),
      min(col("o_custkey")), max(col("o_custkey"))).head
    val stats = Seq((st.getLong(0), st.getLong(1)), (st.getLong(2), st.getLong(3)))
    val root = freshRoot()
    Versioned.appendWithStats(
      ZOrder.zCluster(o, Seq(col("o_orderkey"), col("o_custkey")), stats,
        bits = 12, nFiles = 16),
      root, Seq("o_orderkey", "o_custkey"),
      options = Map("parquet.block.size" -> (32L << 10).toString))
    val v = Versioned.currentVersion(root).get
    val lo = st.getLong(2)
    val hi = lo + (st.getLong(3) - lo) / 16 // a 1/16 slice of the custkey domain
    val pruned = Versioned.readPruned(spark, root, "o_custkey", lo, hi)
    val result = pruned.count()
    assert(result > 0)
    // level 1 — manifest: the planned file set is a strict minority of the
    // table (16 z-range files split custkey into quarters; a 1/16 slice
    // overlaps ~one quarter)
    val planned = pruned.inputFiles
    assert(planned.length * 2 < v.files.length,
      s"manifest pruned to ${planned.length} of ${v.files.length} files — no file-level skip")
    // level 2 — z row groups: the scan decodes well under the planned
    // files' total rows (row-group min/max on the non-primary dim is tight
    // because the layout is z, not linear). Threshold 0.7: the z geometry
    // at this (bits, nFiles, block) sits near 0.5 and range-partition
    // boundary sampling wobbles it a few percent run-to-run — 0.7 still
    // separates real skipping from a no-skip read (1.0) with margin.
    pruned.collect()
    val decoded = pruned.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.metrics("numOutputRows").value
    }.sum
    val plannedRows = spark.read.parquet(planned: _*).count()
    assert(decoded < plannedRows * 7 / 10,
      s"decoded $decoded of $plannedRows planned rows — no row-group skip inside planned files")
    assert(decoded >= result)
  }

  test("retryCommit: racing writers all land, exactly one version per commit") {
    import graft.merge.Versioned.FileEntry
    val root = freshRoot()
    val perThread = 50
    val threads = (0 until 2).map { tid =>
      new Thread(() => {
        (0 until perThread).foreach { i =>
          Versioned.retryCommit(root, "append",
            Seq(FileEntry(s"data/t$tid/f$i.parquet", Nil)), Nil, maxRetries = 1000)
        }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val vs = Versioned.versions(root)
    // every commit landed exactly once: contiguous versions, no clobbers
    assert(vs.map(_.n) === (1 to 2 * perThread))
    val finalFiles = vs.last.files.toSet
    for (tid <- 0 until 2; i <- 0 until perThread)
      assert(finalFiles.contains(s"data/t$tid/f$i.parquet"), s"lost t$tid/f$i")
    assert(finalFiles.size === 2 * perThread)
  }

  test("appendWithRetry: concurrent data appends all survive to the final read") {
    import spark.implicits._
    val root = freshRoot()
    val errs = java.util.concurrent.ConcurrentHashMap.newKeySet[Throwable]()
    val threads = (0 until 4).map { tid =>
      new Thread(() => {
        try Versioned.appendWithRetry((1 to 5).map(i => tid * 100L + i).toDF("k"), root,
          maxRetries = 100)
        catch { case t: Throwable => errs.add(t); () }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, s"concurrent appends failed: $errs")
    assert(Versioned.currentVersion(root).get.n === 4)
    val got = Versioned.read(spark, root).as[Long].collect().sorted.toSeq
    assert(got === (0 until 4).flatMap(t => (1 to 5).map(i => t * 100L + i)).sorted)
  }

  test("compact: fewer files, identical rows, stats recomputed, history and txns intact") {
    import spark.implicits._
    val root = freshRoot()
    // two stream batches (txn ids 0, 1) then four stats-tracked slice
    // appends — a small-files table with both dedup state and skipping stats
    Versioned.appendStreamBatch(Seq(1000L, 1001L).toDF("k"), root, batchId = 0)
    Versioned.appendStreamBatch(Seq(1002L).toDF("k"), root, batchId = 1)
    (0 until 4).foreach { i =>
      Versioned.appendWithStats(
        (1L to 40L).filter(_ % 4 == i.toLong).toDF("k").repartitionByRange(3, col("k")),
        root, "k")
    }
    val before = Versioned.currentVersion(root).get
    assert(before.files.length > 4)
    val rowsBefore = Versioned.read(spark, root).as[Long].collect().sorted.toSeq
    val v = Versioned.compact(spark, root, nFiles = 2)
    assert(v.op === "compact" && v.files.length <= 2)
    // lossless, and the pre-compact snapshot still reads (old files intact)
    assert(Versioned.read(spark, root).as[Long].collect().sorted.toSeq === rowsBefore)
    assert(Versioned.read(spark, root, Some(before.n)).as[Long].collect().sorted.toSeq
      === rowsBefore)
    // stats were recomputed over the new files: pruning still works and is
    // exactly as correct
    assert(v.statsCols === Seq("k"))
    assert(v.stats.keySet === v.files.toSet)
    val prunedPost = Versioned.readPruned(spark, root, "k", 10, 20)
    assert(prunedPost.as[Long].collect().sorted.toSeq === (10L to 20L))
    // compaction range-clusters on the stats column, so the recomputed
    // ranges stay SELECTIVE: a narrow window plans a strict subset of the
    // compacted files (round-robin packing would leave every file spanning
    // the whole domain and silently kill pruning)
    assert(prunedPost.inputFiles.length < v.files.length,
      s"post-compact pruning degenerated: ${prunedPost.inputFiles.length} of ${v.files.length}")
    // replay dedup survives compaction: batch 0 is still known-committed
    assert(Versioned.appendStreamBatch(Seq(9999L).toDF("k"), root, batchId = 0).isEmpty)
    // vacuum reclaims the pre-compact small files; the compacted read holds
    val (deleted, _) = Versioned.vacuum(root, keepLast = 1)
    assert(deleted.nonEmpty)
    assert(Versioned.read(spark, root).as[Long].collect().sorted.toSeq === rowsBefore)
  }

  test("readWhere: bounds extracted from the predicate prune files; residual decides rows") {
    import spark.implicits._
    import org.apache.spark.sql.graft.ManifestFileIndex.exprRanges
    // bounds algebra over the predicate as analysis resolves it
    val contract = Versioned.Version(0, "", 0, Nil, schema = Some("k BIGINT, d BIGINT"))
    def b(c: org.apache.spark.sql.Column) = exprRanges(Versioned.conjuncts(spark, contract, c))
    assert(b(col("k") >= 5 && col("k") < 9) === Map("k" -> Seq((5L, 9L)))) // strict < widened
    assert(b(col("k") === 7) === Map("k" -> Seq((7L, 7L))))
    assert(b(lit(5) <= col("k")) === Map("k" -> Seq((5L, Long.MaxValue))))
    assert(b(col("k").between(3, 6) && col("d") === 40) ===
      Map("k" -> Seq((3L, 6L)), "d" -> Seq((40L, 40L))))
    // OR: a range SET, each disjunct's range kept
    assert(b(col("k") <= 2 || col("k") >= 39) ===
      Map("k" -> Seq((Long.MinValue, 2L), (39L, Long.MaxValue))))
    // non-integral literal: the column is cast, which bounds nothing
    assert(b(col("k") === 1.5) === Map.empty)
    // end-to-end on a two-column stats table: (k, d = k*10), 4 tight files
    val root = freshRoot()
    Versioned.appendWithStats((1L to 40L).map(k => (k, k * 10L)).toDF("k", "d")
      .repartitionByRange(4, col("k")), root, Seq("k", "d"))
    val all = Versioned.currentVersion(root).get.files.length
    val pred = col("k") >= 5 && col("k") <= 8 && col("d") =!= 60
    val got = Versioned.readWhere(spark, root, pred)
    assert(got.select("k").as[Long].collect().sorted.toSeq === Seq(5L, 7L, 8L))
    assert(got.inputFiles.length < all, "readWhere must prune the scan like the hand-ranged call")
    // equivalent to the hand-ranged read, minus the algebra
    val hand = Versioned.readPruned(spark, root, "k", 5, 8).filter(col("d") =!= 60)
    assert(got.inputFiles.toSet === hand.inputFiles.toSet)
    // an OR of ranges prunes too (round 15: readWhere consumes range SETS,
    // so the two-sided window plans only the two boundary files)
    val orPred = col("k") <= 2 || col("k") >= 39
    val orRead = Versioned.readWhere(spark, root, orPred)
    assert(orRead.select("k").as[Long].collect().sorted.toSeq === Seq(1L, 2L, 39L, 40L))
    assert(orRead.inputFiles.length < all, "OR-of-ranges must prune the scan")
    // a genuinely unboundable predicate reads everything but computes exactly
    val conservative = Versioned.readWhere(spark, root, col("k") =!= 5)
    assert(conservative.count() === 39L)
    assert(conservative.inputFiles.length === all)
    // disjoint bounds: zero files planned, empty result, schema intact
    assert(Versioned.readWhere(spark, root, col("k") > 1000 && col("k") < 2000).count() === 0L)
  }

  test("schema tracked in the log: appends must match, overwrite evolves, history keeps both") {
    import spark.implicits._
    val root = freshRoot()
    Versioned.append(Seq((1L, "a")).toDF("k", "v"), root)
    val s1 = Versioned.currentVersion(root).get.schema
    assert(s1.exists(s => s.contains("k BIGINT") && s.contains("v STRING")))
    // appending a different column set is refused loudly: a multi-file
    // parquet read takes one footer's schema, so this would otherwise drop
    // the new column silently at read time
    val e = intercept[IllegalArgumentException](
      Versioned.append(Seq((2L, "b", 1.0)).toDF("k", "v", "extra"), root))
    assert(e.getMessage.contains("schema drift"))
    // evolution is overwrite()'s job; appends then check the NEW contract
    Versioned.overwrite(Seq((2L, "b", 1.5)).toDF("k", "v", "extra"), root)
    Versioned.append(Seq((3L, "c", 2.5)).toDF("k", "v", "extra"), root)
    intercept[IllegalArgumentException](
      Versioned.append(Seq((9L, "x")).toDF("k", "v"), root))
    // time travel across the change: each version reads ITS schema
    assert(Versioned.read(spark, root, Some(1)).columns.toSeq === Seq("k", "v"))
    assert(Versioned.read(spark, root).columns.toSeq === Seq("k", "v", "extra"))
    // compaction and rollback carry the contract (nullability-insensitive:
    // parquet read-back is all-nullable and must not read as drift)
    Versioned.compact(spark, root, 1)
    assert(Versioned.append(Seq((4L, "d", 3.5)).toDF("k", "v", "extra"), root).n === 5)
    Versioned.rollback(root, to = 1)
    assert(Versioned.currentVersion(root).get.schema === s1)
    assert(Versioned.append(Seq((5L, "e")).toDF("k", "v"), root).n === 7)
  }

  test("gcOrphans reclaims only never-committed files, age-gated") {
    import spark.implicits._
    val root = freshRoot()
    Versioned.append(Seq(1L, 2L).toDF("k"), root)
    // a lost writer's data: landed on disk, referenced by no manifest
    val orphanDir = Paths.get(root, "data", "c9-lostwriter")
    Files.createDirectories(orphanDir)
    Files.writeString(orphanDir.resolve("part-orphan.parquet"), "stub")
    // age gate: a fresh file may belong to an in-flight commit — untouched
    assert(Versioned.gcOrphans(root, olderThanMs = 60000).isEmpty)
    assert(Files.exists(orphanDir.resolve("part-orphan.parquet")))
    // past the gate: reclaimed, and every referenced file survives.
    // Backdate the orphan explicitly — "olderThanMs = 0" with a file
    // created in the same millisecond is a coin flip on mtime granularity
    // (flaked once under a loaded suite run).
    Files.setLastModifiedTime(orphanDir.resolve("part-orphan.parquet"),
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 10000))
    val got = Versioned.gcOrphans(root, olderThanMs = 0)
    assert(got === Seq("data/c9-lostwriter/part-orphan.parquet"))
    assert(!Files.exists(orphanDir.resolve("part-orphan.parquet")))
    assert(Versioned.read(spark, root).as[Long].collect().sorted.toSeq === Seq(1L, 2L))
    // idempotent on a clean table
    assert(Versioned.gcOrphans(root, olderThanMs = 0).isEmpty)
  }

  test("applyChangesByKey upserts a key-unique replica") {
    import spark.implicits._
    val replica = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    val changes = Seq((2L, "b", "delete"), (2L, "b2", "insert"), (4L, "d", "insert"))
      .toDF("k", "v", "change_type")
    val got = Versioned.applyChangesByKey(replica, changes, Seq("k"))
      .as[(Long, String)].collect().sorted.toSeq
    assert(got === Seq((1L, "a"), (2L, "b2"), (3L, "c"), (4L, "d")))
  }

  test("unknown versions fail loudly") {
    import spark.implicits._
    val root = freshRoot()
    Versioned.append(Seq(1L).toDF("k"), root)
    intercept[IllegalArgumentException](Versioned.read(spark, root, Some(5)))
    intercept[IllegalArgumentException](Versioned.rollback(root, to = 3))
  }
}
