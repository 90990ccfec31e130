package graft

import graft.merge.Versioned
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime
import scala.jdk.CollectionConverters._

/** Round-15 log surface: copy-on-write row-level DML (VT12), the
  * `_last_checkpoint` pointer (zero directory listing on the commit path),
  * manifest archival, date/timestamp skipping stats, OR/IN range-set
  * pruning algebra, writer-liveness markers, and the In-node partition
  * scoping predicate.
  */
class VersionedDmlSpec extends SparkSuite {

  private def freshRoot(): String =
    Files.createTempDirectory("graft_vt_dml").toString + "/t"

  // ---- exprRanges over resolved predicates (the range half of the one
  // pruning rule behind readWhere/deleteWhere and the native relation) ----

  test("exprRanges over resolved predicates: OR/IN union, AND intersect, dates, contradiction, cap") {
    import org.apache.spark.sql.graft.ManifestFileIndex.exprRanges
    val v = Versioned.Version(0, "", 0, Nil, schema = Some("k BIGINT, d BIGINT, dt DATE"))
    def r(c: org.apache.spark.sql.Column) = exprRanges(Versioned.conjuncts(spark, v, c))
    // OR of two windows → two ranges (the reference's progressive rotation shape)
    assert(r(col("k").between(1, 5) || col("k").between(10, 15)) ===
      Map("k" -> Seq((1L, 5L), (10L, 15L))))
    // IN-list → point ranges, adjacent merged
    assert(r(col("k").isin(3, 7, 7, 4)) === Map("k" -> Seq((3L, 4L), (7L, 7L))))
    // a column bound in only one disjunct is unconstrained overall
    assert(r(col("k") < 5 || col("d") > 3) === Map.empty)
    // AND distributes over an OR'd column plus a point column
    assert(r((col("k") <= 2 || col("k") >= 39) && col("d") === 7) ===
      Map("k" -> Seq((Long.MinValue, 2L), (39L, Long.MaxValue)), "d" -> Seq((7L, 7L))))
    // proven contradiction → EMPTY range list (callers plan zero files)
    assert(r(col("k") > 5 && col("k") < 2) === Map("k" -> Seq.empty))
    // DATE literal encodes as epoch days (matches the stats encoding)
    val d = java.sql.Date.valueOf("2024-03-01")
    assert(r(col("dt") >= lit(d)) ===
      Map("dt" -> Seq((d.toLocalDate.toEpochDay, Long.MaxValue))))
    // an IN with any unboundable (non-literal) member contributes nothing
    assert(r(col("k").isin(lit(1L), col("d"))) === Map.empty)
    // past the disjunct cap (64) the set collapses to its envelope — still
    // one range; the optimizer hands a long IN over as an InSet
    val spread = (0 until 70).map(i => i * 10L)
    assert(r(col("k").isin(spread: _*)) === Map("k" -> Seq((0L, 690L))))
    assert(r(col("k").isin(spread.take(64): _*))("k").length === 64)
  }

  // ---- VT12b: copy-on-write deleteWhere ----

  test("deleteWhere rewrites only stats-overlapping files; old versions keep pre-delete state") {
    import spark.implicits._
    val root = freshRoot()
    Versioned.appendWithStats((1L to 40L).toDF("k").repartitionByRange(4, col("k")), root, "k")
    val v1 = Versioned.currentVersion(root).get
    assert(v1.files.length === 4)
    val affectedExpected = v1.files.filter(f =>
      v1.stats(f).head match { case (mn, mx) => mx >= 5 && mn <= 8 })
    assert(affectedExpected.length === 1) // the 5..8 window lives in one range file
    val v2 = Versioned.deleteWhere(spark, root, col("k").between(5, 8))
    assert(v2.op === "delete" && v2.n === 2)
    // exactly the overlapping files were delisted; the rest carried by PATH
    // IDENTITY (never rewritten)
    assert(v1.files.toSet -- v2.files.toSet === affectedExpected.toSet)
    assert((v2.files.toSet -- v1.files.toSet).forall(_.startsWith("data/c2-")))
    // rows: the window is gone, everything else survives
    assert(Versioned.read(spark, root).as[Long].collect().sorted.toSeq ===
      ((1L to 4L) ++ (9L to 40L)))
    // time travel still reads the PRE-delete state (copy-on-write, not mutate)
    assert(Versioned.read(spark, root, Some(1)).as[Long].collect().sorted.toSeq === (1L to 40L))
    // stats were recomputed for the rewrites: pruning still strict-subsets
    val pruned = Versioned.readPruned(spark, root, "k", 30, 35)
    assert(pruned.as[Long].collect().sorted.toSeq === (30L to 35L))
    assert(pruned.inputFiles.length < v2.files.length)
    // a provably-no-match predicate is a metadata NO-OP (same version back)
    assert(Versioned.deleteWhere(spark, root, col("k") > 1000).n === 2)
    // NULL-predicate rows are KEPT (SQL DELETE semantics)
    val root2 = freshRoot()
    Versioned.append(Seq((1L, Option.empty[java.lang.Long]), (2L, Option(10L): Option[java.lang.Long]))
      .toDF("k", "d"), root2)
    Versioned.deleteWhere(spark, root2, col("d") === 10L)
    assert(Versioned.read(spark, root2).select("k").as[Long].collect().toSeq === Seq(1L))
  }

  test("a full-table delete leaves a READABLE empty version; the table lives on") {
    import spark.implicits._
    val root = freshRoot()
    Versioned.appendWithStats((1L to 8L).toDF("k"), root, "k")
    Versioned.deleteWhere(spark, root, lit(true))
    // the empty head reads as an empty frame UNDER THE SCHEMA CONTRACT —
    // a momentary empty table must not crash its readers
    val cur = Versioned.read(spark, root)
    assert(cur.columns.toSeq === Seq("k") && cur.count() === 0L)
    assert(Versioned.table(spark, root).count() === 0L)
    // history intact; appends continue under the same contract
    assert(Versioned.read(spark, root, Some(1)).count() === 8L)
    Versioned.append(Seq(9L).toDF("k"), root)
    assert(Versioned.read(spark, root).as[Long].collect().toSeq === Seq(9L))
  }

  // ---- VT12: copy-on-write mergeInto ----

  test("mergeInto: upsert lands as a delta; non-overlapping files untouched; history intact") {
    import spark.implicits._
    val root = freshRoot()
    Versioned.appendWithStats(
      (1L to 40L).map(k => (k, s"v$k")).toDF("k", "v").repartitionByRange(4, col("k")),
      root, "k")
    val v1 = Versioned.currentVersion(root).get
    // source: two updates inside the first range file + one brand-new key
    val source = Seq((5L, "V5"), (6L, "V6"), (100L, "V100")).toDF("k", "v")
    val v2 = Versioned.mergeInto(spark, root, source, Seq("k"))
    assert(v2.op === "merge" && v2.n === 2)
    val removed = v1.files.toSet -- v2.files.toSet
    // blast radius (round 16, per-key RANGE SETS): source keys {5, 6, 100}
    // bound as ranges ≈ {[5,6], [100,100]} — NOT the [5,100] envelope that
    // would have overlapped every file. Only the first file (≈[1,10])
    // overlaps; key 100 exists in no file, so its range prunes everything.
    val expected = v1.files.filter(f =>
      v1.stats(f).head match { case (mn, mx) =>
        (mx >= 5 && mn <= 6) || (mx >= 100 && mn <= 100) }).toSet
    assert(removed === expected)
    assert(removed.size === 1, "the range set must beat the [5,100] envelope")
    val got = Versioned.read(spark, root).as[(Long, String)].collect().toMap
    assert(got.size === 41)
    assert(got(5L) === "V5" && got(6L) === "V6" && got(100L) === "V100" && got(7L) === "v7")
    // pre-merge snapshot unchanged
    val old = Versioned.read(spark, root, Some(1)).as[(Long, String)].collect().toMap
    assert(old.size === 40 && old(5L) === "v5" && !old.contains(100L))
    // a TIGHT source (keys 33..35) rewrites ONLY the last file
    val v3 = Versioned.mergeInto(spark, root,
      Seq((33L, "X33"), (34L, "X34")).toDF("k", "v"), Seq("k"))
    val removed3 = v2.files.toSet -- v3.files.toSet
    val overlap3 = v2.files.filter(f =>
      v2.stats.get(f).forall(_.head match { case (mn, mx) => mx >= 33 && mn <= 35 })).toSet
    assert(removed3 === overlap3)
    assert(removed3.size < v2.files.size, "tight merge must not rewrite the whole table")
    // untouched files carried with their stats: pruning still works
    assert(Versioned.readPruned(spark, root, "k", 5, 8).count() === 4L)
    // empty source: metadata no-op
    assert(Versioned.mergeInto(spark, root, source.limit(0), Seq("k")).n === v3.n)
    // all-null-key source: pure insert, zero files rewritten
    val v4 = Versioned.mergeInto(spark, root,
      Seq((Option.empty[java.lang.Long], "NULLK")).toDF("k", "v"), Seq("k"))
    assert(v4.n === v3.n + 1)
    assert(v3.files.toSet.subsetOf(v4.files.toSet), "pure insert must rewrite nothing")
    assert(Versioned.read(spark, root).count() === 42L)
  }

  test("COW DML retries re-plan against racing appends; every write survives") {
    import spark.implicits._
    val root = freshRoot()
    Versioned.appendWithStats(
      (1L to 40L).map(k => (k, s"v$k")).toDF("k", "v").repartitionByRange(4, col("k")),
      root, "k")
    // thread A: merge updates for keys 1-3 (+1 insert); thread B: append
    // DISJOINT keys 101-103. Whatever the interleaving, the CAS serializes
    // them and the retries re-plan, so the final state is the same.
    val errs = java.util.concurrent.ConcurrentHashMap.newKeySet[Throwable]()
    val a = new Thread(() => {
      try { Versioned.mergeInto(spark, root,
        Seq((1L, "A1"), (2L, "A2"), (3L, "A3"), (50L, "A50")).toDF("k", "v"),
        Seq("k"), maxRetries = 20); () }
      catch { case t: Throwable => errs.add(t); () }
    })
    val b = new Thread(() => {
      try { Versioned.appendWithRetry(
        Seq((101L, "b1"), (102L, "b2"), (103L, "b3")).toDF("k", "v"), root,
        maxRetries = 20); () }
      catch { case t: Throwable => errs.add(t); () }
    })
    a.start(); b.start(); a.join(); b.join()
    assert(errs.isEmpty, s"racing COW failed: $errs")
    val got = Versioned.read(spark, root).as[(Long, String)].collect().toMap
    assert(got.size === 44) // 40 base + insert 50 + appends 101-103
    assert(got(1L) === "A1" && got(3L) === "A3" && got(50L) === "A50")
    assert(got(101L) === "b1" && got(7L) === "v7")
    // a deleteWhere racing an append: same contract
    val c = new Thread(() => {
      try { Versioned.deleteWhere(spark, root, col("k").between(5L, 8L),
        maxRetries = 20); () }
      catch { case t: Throwable => errs.add(t); () }
    })
    val d = new Thread(() => {
      try { Versioned.appendWithRetry(Seq((201L, "c1")).toDF("k", "v"), root,
        maxRetries = 20); () }
      catch { case t: Throwable => errs.add(t); () }
    })
    c.start(); d.start(); c.join(); d.join()
    assert(errs.isEmpty, s"racing delete failed: $errs")
    val after = Versioned.read(spark, root).as[(Long, String)].collect().toMap
    assert(after.size === 41 && !after.contains(6L) && after(201L) === "c1")
  }

  test("history: one metadata row per version, no data files opened") {
    import spark.implicits._
    val root = freshRoot()
    Versioned.append(Seq(1L, 2L).toDF("k").repartition(1), root)
    Versioned.appendStreamBatch(Seq(3L).toDF("k").repartition(1), root, batchId = 7)
    Versioned.rollback(root, to = 1)
    val h = Versioned.history(spark, root).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getInt(2), r.getInt(3), r.getInt(4)))
    assert(h.toSeq === Seq(
      (1, "append", 0, 1, 0), (2, "stream-batch-7", 1, 2, 1), (3, "rollback", 1, 1, 1)))
    // schema contract rides along
    assert(Versioned.history(spark, root).select("schema").as[String].collect()
      .forall(_.contains("k BIGINT")))
  }

  // ---- _last_checkpoint pointer: zero listing on the commit path ----

  test("a commit on a 1000-commit log lists ZERO directory names (pointer + probes)") {
    import graft.merge.Versioned.FileEntry
    val root = freshRoot()
    (1 to 1000).foreach(i => Versioned.commitFiles(root, "append",
      Seq(FileEntry(f"data/c$i/f$i.parquet", Nil)), Nil))
    assert(Files.exists(Paths.get(root, "_vlog", "_last_checkpoint")))
    val nl0 = Versioned.namesListed.get()
    val mr0 = Versioned.manifestReads.get()
    val v = Versioned.commitFiles(root, "append",
      Seq(FileEntry("data/c1001/f.parquet", Nil)), Nil)
    assert(v.n === 1001 && v.files.length === 1001)
    assert(Versioned.namesListed.get() - nl0 === 0L,
      "the commit path must never LIST the manifest directory")
    assert(Versioned.manifestReads.get() - mr0 <= Versioned.CheckpointInterval)
    // reads too: currentVersion + a time-travel read plan without listing
    val nl1 = Versioned.namesListed.get()
    assert(Versioned.currentVersion(root).get.n === 1001)
    assert(Versioned.namesListed.get() - nl1 === 0L, "currentVersion must not list")
    // a stale/garbage pointer degrades to correctness, never failure
    Files.writeString(Paths.get(root, "_vlog", "_last_checkpoint"), "garbage")
    assert(Versioned.currentVersion(root).get.n === 1001)
  }

  test("archiveManifests moves dead manifests; retained versions still plan") {
    import graft.merge.Versioned.FileEntry
    val root = freshRoot()
    (1 to 95).foreach(i => Versioned.commitFiles(root, "append",
      Seq(FileEntry(f"data/c$i/f$i.parquet", Nil)), Nil))
    val moved = Versioned.archiveManifests(root, keepLast = 10) // oldest=86 → cut=80
    assert(moved.nonEmpty)
    assert(!Files.exists(Paths.get(root, "_vlog", "v00079.txt")))
    assert(Files.exists(Paths.get(root, "_vlog", "_archive", "v00079.txt")))
    assert(Files.exists(Paths.get(root, "_vlog", "v00080.txt"))) // the cut checkpoint survives
    // history now starts at the surviving checkpoint; head unchanged
    assert(Versioned.versions(root).head.n === 80)
    val cur = Versioned.currentVersion(root).get
    assert(cur.n === 95 && cur.files.length === 95)
    // an archived version fails loudly at plan time
    intercept[IllegalArgumentException](Versioned.read(spark, root, Some(50)))
    // second archival with the same horizon: nothing left to move
    assert(Versioned.archiveManifests(root, keepLast = 10).isEmpty)
    // and commits keep working on the archived log
    assert(Versioned.commitFiles(root, "append",
      Seq(FileEntry("data/c96/f.parquet", Nil)), Nil).n === 96)
  }

  // ---- date/timestamp skipping stats ----

  test("DATE-typed stats: the reference's BETWEEN predicate prunes a versioned read") {
    import spark.implicits._
    val root = freshRoot()
    val base = java.time.LocalDate.of(2024, 1, 1)
    val df = (0 until 120).map(i =>
      (java.sql.Date.valueOf(base.plusDays(i.toLong)), i.toLong)).toDF("dt", "k")
    Versioned.appendWithStats(df.repartitionByRange(4, col("dt")), root, "dt")
    val v = Versioned.currentVersion(root).get
    assert(v.stats.keySet === v.files.toSet)
    val (lo, hi) = (java.sql.Date.valueOf("2024-02-01"), java.sql.Date.valueOf("2024-02-28"))
    val got = Versioned.readWhere(spark, root, col("dt").between(lit(lo), lit(hi)))
    assert(got.select("k").as[Long].collect().sorted.toSeq === (31L to 58L))
    // the planned file set must MATCH the hand-ranged epoch-day overlap
    // computed straight off the manifest stats
    val (loD, hiD) = (lo.toLocalDate.toEpochDay, hi.toLocalDate.toEpochDay)
    val hand = v.files.filter(f => v.stats.get(f).forall(
      _.head match { case (mn, mx) => mx >= loD && mn <= hiD })).toSet
    assert(got.inputFiles.map(p => new java.net.URI(p).getPath)
      .map(p => Paths.get(root).relativize(Paths.get(p)).toString).toSet === hand)
    assert(got.inputFiles.length < v.files.length, "the date window must prune files")
    // TIMESTAMP-typed stats prune the same way (epoch-micros encoding)
    val root2 = freshRoot()
    val t0 = java.time.Instant.parse("2024-01-01T00:00:00Z")
    val tdf = (0 until 96).map(i =>
      (java.sql.Timestamp.from(t0.plusSeconds(i * 3600L)), i.toLong)).toDF("ts", "k")
    Versioned.appendWithStats(tdf.repartitionByRange(4, col("ts")), root2, "ts")
    val tcut = java.sql.Timestamp.from(t0.plusSeconds(24L * 3600))
    val tgot = Versioned.readWhere(spark, root2, col("ts") < lit(tcut))
    assert(tgot.select("k").as[Long].collect().sorted.toSeq === (0L to 23L))
    assert(tgot.inputFiles.length < Versioned.currentVersion(root2).get.files.length)
    // a float stats column is REFUSED loudly (truncating casts shrink ranges),
    // and BEFORE any data lands
    val root3 = freshRoot()
    val e = intercept[IllegalArgumentException](
      Versioned.appendWithStats(Seq((1.5, 1L)).toDF("x", "k"), root3, "x"))
    assert(e.getMessage.contains("exact long encoding"))
    assert(!Files.exists(Paths.get(root3, "data")))
  }

  test("overwrite recomputes skipping stats; evolution dropping the column clears tracking") {
    import spark.implicits._
    val root = freshRoot()
    Versioned.appendWithStats((1L to 40L).toDF("k").repartitionByRange(4, col("k")), root, "k")
    Versioned.overwrite((1L to 100L).toDF("k").repartitionByRange(5, col("k")), root)
    val v = Versioned.currentVersion(root).get
    assert(v.op === "overwrite" && v.statsCols === Seq("k"))
    assert(v.stats.keySet === v.files.toSet, "overwrite must recompute stats, not drop them")
    val pruned = Versioned.readPruned(spark, root, "k", 1, 10)
    assert(pruned.as[Long].collect().sorted.toSeq === (1L to 10L))
    assert(pruned.inputFiles.length < v.files.length,
      "a pruned read after overwrite must still plan a strict subset")
    // evolution that drops the tracked column clears tracking (recorded in
    // the full manifest) instead of failing or lying
    Versioned.overwrite(Seq("a", "b").toDF("z"), root)
    assert(Versioned.currentVersion(root).get.statsCols.isEmpty)
  }

  // ---- gcOrphans writer-liveness markers ----

  test("gcOrphans honors in-flight markers regardless of file mtimes; sweeps stale ones") {
    import spark.implicits._
    val root = freshRoot()
    Versioned.append(Seq(1L, 2L).toDF("k"), root)
    // sealed commit: no marker left behind
    val markers = Files.list(Paths.get(root, "data")).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".inflight")).toSeq
    assert(markers.isEmpty, s"committed write left markers: $markers")
    // a slow in-flight writer: data files with OLD mtimes (rename-preserved)
    // but a FRESH marker — must never be reclaimed
    val dir = Paths.get(root, "data", "c9-slowwriter")
    Files.createDirectories(dir)
    val f = dir.resolve("part-slow.parquet")
    Files.writeString(f, "stub")
    Files.setLastModifiedTime(f, FileTime.fromMillis(0)) // ancient data file
    val marker = Paths.get(root, "data", "c9-slowwriter.inflight")
    Files.writeString(marker, "")
    assert(Versioned.gcOrphans(root, olderThanMs = 60000).isEmpty,
      "a fresh in-flight marker must protect its commit dir")
    assert(Files.exists(f))
    // the writer died: marker ages out → files reclaimed, marker swept
    Files.setLastModifiedTime(marker, FileTime.fromMillis(0))
    assert(Versioned.gcOrphans(root, olderThanMs = 60000) ===
      Seq("data/c9-slowwriter/part-slow.parquet"))
    assert(!Files.exists(f) && !Files.exists(marker))
    assert(Versioned.read(spark, root).as[Long].collect().sorted.toSeq === Seq(1L, 2L))
  }

  // ---- partition predicate: one In node, never an OR tree ----

  test("changedPartsPredicate: 5k partitions plan one InSet, zero Or nodes; multi-col scopes exactly") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.expressions.{InSet, Or}
    val rows = (0 until 5000).map(i => org.apache.spark.sql.Row(s"p$i"))
    val pred = Versioned.changedPartsPredicate(Seq("p"), rows)
    // parquet-backed (a LocalRelation would constant-fold the filter away
    // before the In→InSet conversion is observable)
    val pq = Files.createTempDirectory("graft_vt_inset").toString + "/t"
    Seq("p1", "zzz").toDF("p").write.parquet(pq)
    val df = spark.read.parquet(pq).filter(pred)
    val exprs = df.queryExecution.optimizedPlan.expressions.flatMap(_.collect { case e => e })
    assert(!exprs.exists(_.isInstanceOf[Or]), "partition scoping must not build an OR tree")
    assert(exprs.exists { case s: InSet => s.hset.size === 5000; case _ => false },
      "5k partitions must plan a single InSet")
    assert(df.as[String].collect().toSeq === Seq("p1"))
    // multi-column: struct-isin applies and prunes a real partitioned replica
    val base = Files.createTempDirectory("graft_vt_mcp").toString + "/replica"
    Seq((1L, "a", 1), (2L, "b", 1), (3L, "b", 2), (4L, "c", 2)).toDF("k", "p", "q")
      .write.partitionBy("p", "q").parquet(base)
    val changes = Seq((9L, "b", 1, "insert"), (3L, "b", 2, "delete"))
      .toDF("k", "p", "q", "change_type")
    val scanned = Versioned.applyChangesPartitioned(spark, base, Seq("p", "q"), changes)
    assert(scanned.nonEmpty && !scanned.exists(_.contains("p=a")) &&
      !scanned.exists(_.contains("p=c")), s"scanned outside changed partitions: $scanned")
    assert(spark.read.parquet(base).select("k").as[Long].collect().sorted.toSeq ===
      Seq(1L, 2L, 4L, 9L))
    assert(!Files.exists(Paths.get(base, "p=b", "q=2")), "emptied partition must be unlinked")
    // escaped partition values: the zero-survivor delete must hit the
    // URL-encoded directory Spark actually wrote (':' escapes to %3A)
    val base2 = Files.createTempDirectory("graft_vt_esc").toString + "/replica"
    Seq((1L, "a:1"), (2L, "ok")).toDF("k", "p").write.partitionBy("p").parquet(base2)
    val delAll = Seq((1L, "a:1", "delete")).toDF("k", "p", "change_type")
    Versioned.applyChangesPartitioned(spark, base2, Seq("p"), delAll)
    val leftDirs = Files.list(Paths.get(base2)).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("p=")).toSeq
    assert(leftDirs === Seq("p=ok"), s"escaped partition dir not deleted: $leftDirs")
    assert(spark.read.parquet(base2).select("k").as[Long].collect().toSeq === Seq(2L))
  }

  test("legacy FULL manifests (pre-fmt, unprefixed lines) still parse; future fmt refuses") {
    import graft.merge.Versioned.FileEntry
    val root = freshRoot()
    // hand-write a legacy manifest: no fmt, no full marker, bare file lines
    Files.createDirectories(Paths.get(root, "_vlog"))
    Files.writeString(Paths.get(root, "_vlog", "v00001.txt"),
      "op=append parent=0\ntxn=0\ndata/old/f1.parquet|1|10\ndata/old/f2.parquet")
    val v = Versioned.currentVersion(root).get
    assert(v.files === Seq("data/old/f1.parquet", "data/old/f2.parquet"))
    assert(v.stats === Map("data/old/f1.parquet" -> Seq((1L, 10L))))
    assert(v.txns === Set(0L))
    // and the modern writer continues on top of it
    assert(Versioned.commitFiles(root, "append",
      Seq(FileEntry("data/new/f.parquet", Nil)), Nil).files.length === 3)
    // a manifest from a NEWER format fails loudly, not silently misparses
    val root2 = freshRoot()
    Files.createDirectories(Paths.get(root2, "_vlog"))
    Files.writeString(Paths.get(root2, "_vlog", "v00001.txt"),
      "op=append parent=0 fmt=99 full=1\ndata/x/f.parquet")
    val e = intercept[IllegalArgumentException](Versioned.currentVersion(root2))
    assert(e.getMessage.contains("unsupported manifest format"))
  }

  // ---- cross-type literal coercion must never mis-prune ----

  test("readWhere/deleteWhere drop wrong-unit bounds: date literal vs TIMESTAMP stats and vice versa") {
    import spark.implicits._
    // TIMESTAMP-tracked table, DATE-literal predicate: Spark legally coerces
    // the comparison, but the walker's epoch-DAY bound against epoch-MICROS
    // stats would prune every file (days ≪ micros) and silently return
    // nothing. The typed walker must drop the bound instead: full scan,
    // correct rows.
    val root = freshRoot()
    val t0 = java.time.Instant.parse("2024-01-01T00:00:00Z")
    val tdf = (0 until 96).map(i =>
      (java.sql.Timestamp.from(t0.plusSeconds(i * 3600L)), i.toLong)).toDF("ts", "k")
    Versioned.appendWithStats(tdf.repartitionByRange(4, col("ts")), root, "ts")
    val nFiles = Versioned.currentVersion(root).get.files.length
    val dLit = lit(java.sql.Date.valueOf("2024-01-02")) // rows 24.. have ts >= this
    val got = Versioned.readWhere(spark, root, col("ts") >= dLit)
    assert(got.select("k").as[Long].collect().sorted.toSeq === (24L to 95L),
      "a coerced date literal must not drop matching files")
    // analysis folds the date literal to TIMESTAMP micros, the stats' unit,
    // so the coerced bound prunes in the right unit
    assert(got.inputFiles.length < nFiles, "the coerced literal must prune in micros")
    // …and a SAME-kind timestamp literal still prunes (the fix must not
    // disable legitimate skipping)
    val tLit = lit(java.sql.Timestamp.from(t0.plusSeconds(90L * 3600)))
    val pruned = Versioned.readWhere(spark, root, col("ts") >= tLit)
    assert(pruned.select("k").as[Long].collect().sorted.toSeq === (90L to 95L))
    assert(pruned.inputFiles.length < nFiles)
    // deleteWhere with the coerced literal: every matching row must actually
    // be deleted (a wrong-unit bound would mark zero files affected and the
    // delete would silently no-op)
    Versioned.deleteWhere(spark, root, col("ts") >= dLit)
    assert(Versioned.read(spark, root).select("k").as[Long].collect().sorted.toSeq ===
      (0L to 23L), "the coerced-literal delete must remove every matching row")

    // DATE-tracked table, TIMESTAMP-literal predicate: same contract,
    // opposite units (micros bound vs day stats would keep/drop wrongly).
    val root2 = freshRoot()
    val base = java.time.LocalDate.of(2024, 1, 1)
    val ddf = (0 until 120).map(i =>
      (java.sql.Date.valueOf(base.plusDays(i.toLong)), i.toLong)).toDF("dt", "k")
    Versioned.appendWithStats(ddf.repartitionByRange(4, col("dt")), root2, "dt")
    val tsLit = lit(java.sql.Timestamp.valueOf("2024-03-01 00:00:00"))
    val got2 = Versioned.readWhere(spark, root2, col("dt") < tsLit)
    // under session-default coercion dt casts to timestamp midnight; rows
    // 0..59 (dates before Mar 1) qualify
    assert(got2.select("k").as[Long].collect().sorted.toSeq === (0L to 59L))

    assert(Versioned.readWhere(spark, root2, col("dt") >= lit(java.sql.Date.valueOf(
      "2024-01-01")) && col("dt") < tsLit).count() === 60L)

    // mergeInto's merge-key rule: an integral source key bounds an integral
    // tracked column whatever its width — an INT-keyed source rewrites only
    // the file its keys fall in…
    val root3 = freshRoot()
    Versioned.appendWithStats((1L to 40L).map(k => (k, k)).toDF("k", "v")
      .repartitionByRange(4, col("k")), root3, "k")
    val v3 = Versioned.currentVersion(root3).get
    val m3 = Versioned.mergeInto(spark, root3,
      Seq((5, 500L)).toDF("k", "v").select(col("k").cast("int").as("k"), col("v")), Seq("k"))
    assert((v3.files.toSet -- m3.files.toSet).size === 1, "an INT key must bound a BIGINT column")
    assert(Versioned.read(spark, root3).filter(col("k") === 5L).select("v").as[Long]
      .head() === 500L)
    // …while a DATE-keyed source against TIMESTAMP stats is an untracked key
    // (its epoch days would bound micros): every file is affected
    val v1 = Versioned.currentVersion(root).get
    val m1 = Versioned.mergeInto(spark, root,
      Seq((java.sql.Date.valueOf("2024-01-01"), 7L)).toDF("ts", "k"), Seq("ts"))
    assert((v1.files.toSet & m1.files.toSet).isEmpty, "a DATE key must not bound TIMESTAMP stats")
    assert(Versioned.read(spark, root).filter(col("k") === 7L).count() === 2L)
  }

  test("vt25 updateWhere: COW update — blast radius bounded, SQL semantics, constraints enforced, time travel intact") {
    import spark.implicits._
    val r = tmpDir() + "/t"
    Versioned.appendWithStats(
      (1L to 100L).map(k => (k, k * 1.0, "open")).toDF("k", "price", "status")
        .repartitionByRange(4, col("k")), r, "k")
    Versioned.addConstraint(spark, r, "price_pos", "price > 0")
    val pre = Versioned.currentVersion(r).get
    // windowed update: only key-overlapping files rewrite
    val post = Versioned.updateWhere(spark, r, col("k").between(1L, 20L),
      Map("price" -> (col("price") * 10), "status" -> lit("adjusted")))
    assert(post.op === "update")
    assert((pre.files.toSet -- post.files.toSet).size < pre.files.size,
      "COW must not rewrite the whole table")
    val m = Versioned.read(spark, r).as[(Long, Double, String)].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap
    assert(m(5L) === ((50.0, "adjusted")) && m(50L) === ((50.0, "open")))
    assert(m.size === 100)
    // SET expressions evaluate against the PRE-update row: a swap works
    val r2 = tmpDir() + "/swap"
    Versioned.append(Seq((1L, 10.0, 20.0)).toDF("k", "a", "b"), r2)
    Versioned.updateWhere(spark, r2, lit(true),
      Map("a" -> col("b"), "b" -> col("a")))
    assert(Versioned.read(spark, r2).as[(Long, Double, Double)].head() === ((1L, 20.0, 10.0)))
    // NULL predicate rows carry unchanged (SQL UPDATE)
    val r3 = tmpDir() + "/nul"
    Versioned.append(Seq((Some(1L), 1.0), (Option.empty[Long], 2.0)).toDF("k", "p"), r3)
    Versioned.updateWhere(spark, r3, col("k") > 0L, Map("p" -> lit(9.0)))
    assert(Versioned.read(spark, r3).select("p").as[Double].collect().toSet === Set(9.0, 2.0))
    // an update INTO a constraint violation refuses, nothing lands
    val e = intercept[IllegalArgumentException] {
      Versioned.updateWhere(spark, r, col("k") === 5L, Map("price" -> lit(-1.0)))
    }
    assert(e.getMessage.contains("price_pos"))
    assert(Versioned.read(spark, r).filter(col("price") < 0).count() === 0)
    // unknown SET column refuses; time travel reads pre-update rows
    intercept[IllegalArgumentException] {
      Versioned.updateWhere(spark, r, lit(true), Map("nope" -> lit(1)))
    }
    assert(Versioned.read(spark, r, Some(1)).filter(col("k") === 5L)
      .select("price").as[Double].head() === 5.0)
    // no-match predicate: metadata no-op
    assert(Versioned.updateWhere(spark, r, col("k") > 10000L,
      Map("price" -> lit(0.0))).n === Versioned.currentVersion(r).get.n)
  }

  test("vacuum dryRun reports the would-delete set without unlinking") {
    import spark.implicits._
    val r = tmpDir() + "/t"
    Versioned.append(Seq((1L, "a")).toDF("k", "v"), r)
    Thread.sleep(15)
    Versioned.overwrite(Seq((2L, "b")).toDF("k", "v"), r)
    val (would, _) = Versioned.vacuum(r, keepLast = 1, dryRun = true)
    assert(would.nonEmpty)
    assert(would.forall(f => Files.exists(Paths.get(r).resolve(f))),
      "dry run must delete nothing")
    assert(Versioned.read(spark, r, Some(1)).count() === 1, "v1 still readable")
    val ts = Versioned.versions(r).map(_.ts)
    val now = ts(1) + 1000
    val (would2, _) = Versioned.vacuumOlderThan(r, olderThanMs = now - ts(1),
      nowMs = now, dryRun = true)
    assert(would2 === would && would2.forall(f => Files.exists(Paths.get(r).resolve(f))))
    // the real vacuum then deletes exactly the dry run's report
    val (deleted, _) = Versioned.vacuum(r, keepLast = 1)
    assert(deleted === would)
    assert(would.forall(f => !Files.exists(Paths.get(r).resolve(f))))
  }

  test("gcOrphans never deletes files referenced only by ARCHIVED manifests") {
    import graft.merge.Versioned.FileEntry
    val root = freshRoot()
    // v1..v25 each add one real (stub) data file; head state = all 25 files
    (1 to 25).foreach { i =>
      val dir = Paths.get(root, "data", f"c$i")
      Files.createDirectories(dir)
      Files.writeString(dir.resolve("f.parquet"), "stub")
      Versioned.commitFiles(root, "append", Seq(FileEntry(f"data/c$i/f.parquet", Nil)), Nil)
    }
    // v26 DROPS the first five files (they now back only history < 26)
    val keep = (6 to 25).map(i => f"data/c$i/f.parquet")
    Versioned.commitFiles(root, "overwrite-keep", keep.map(FileEntry(_, Nil)), Nil,
      removed = (1 to 5).map(i => f"data/c$i/f.parquet"))
    // archive WITHOUT vacuuming first — the mistake the guard covers
    assert(Versioned.archiveManifests(root, keepLast = 3).nonEmpty)
    // age everything past the gate
    listClosing(Files.walk(Paths.get(root, "data")))(_.foreach(p =>
      Files.setLastModifiedTime(p, FileTime.fromMillis(0))))
    // files 1-5 are referenced ONLY by archived versions: gcOrphans must
    // not touch them (data deletion is vacuum's deliberate job)
    assert(Versioned.gcOrphans(root, olderThanMs = 60000).isEmpty)
    (1 to 5).foreach(i => assert(Files.exists(Paths.get(root, f"data/c$i/f.parquet")),
      s"archived-history file c$i deleted by gcOrphans"))
    // a TRUE orphan (never committed) in the same table still reclaims
    val orphanDir = Paths.get(root, "data", "c99-neverwon")
    Files.createDirectories(orphanDir)
    val orphan = orphanDir.resolve("part-lost.parquet")
    Files.writeString(orphan, "stub")
    Files.setLastModifiedTime(orphan, FileTime.fromMillis(0))
    assert(Versioned.gcOrphans(root, olderThanMs = 60000) ===
      Seq("data/c99-neverwon/part-lost.parquet"))
  }

  private def listClosing[A](s: java.util.stream.Stream[java.nio.file.Path])(
      f: Iterator[java.nio.file.Path] => A): A =
    try f(s.iterator().asScala) finally s.close()
}
