package graft

import graft.merge.Versioned
import org.apache.spark.sql.functions._

/** VT27: deletion vectors — merge-on-read row-level DELETE/UPDATE (the
  * published Delta/Iceberg-v2 positional-delete design): victim positions
  * land in a parquet sidecar attached via the manifest; data files never
  * rewrite. `purgeDeletes` is the REORG-APPLY-PURGE maintenance op.
  */
class VersionedDvSpec extends SparkSuite {
  import java.nio.file.{Files, Paths}

  private def mk(root: String, n: Long = 100L): Unit = {
    import spark.implicits._
    Versioned.appendWithStats(
      (1L to n).map(k => (k, k * 10.0, s"r$k")).toDF("k", "price", "tag")
        .repartitionByRange(4, col("k")), root, "k")
  }

  test("delete-dv: rows match COW delete; zero data files moved; sidecar attached; old version intact") {
    import spark.implicits._
    val root = tmpDir() + "/t"
    mk(root)
    val v1 = Versioned.currentVersion(root).get
    val v2 = Versioned.deleteWhereDV(spark, root, col("k") % 10 === 0L)
    assert(v2.op === "delete-dv" && v2.n === 2)
    // the FILE SET is byte-identical — merge-on-read moved no data
    assert(v2.files === v1.files)
    // exactly the surviving rows serve
    assert(Versioned.read(spark, root).select("k").as[Long].collect().sorted
      === (1L to 100L).filterNot(_ % 10 == 0).toArray)
    // vectors attached with honest per-file victim counts
    assert(v2.dvs.nonEmpty)
    assert(v2.dvs.valuesIterator.flatten.map(_._2).sum === 10L)
    // every attachment targets a listed file and its sidecar exists on disk
    v2.dvs.foreach { case (f, atts) =>
      assert(v2.files.contains(f))
      atts.foreach { case (sc, _) =>
        assert(Files.exists(Paths.get(root).resolve(sc)), s"sidecar $sc")
      }
    }
    // time travel: the pre-delete version still serves all 100 rows
    assert(Versioned.read(spark, root, asOf = Some(1)).count() === 100L)
    // a REOPENED log (fresh fold from manifests) serves the same rows
    assert(Versioned.currentVersion(root).get.dvs === v2.dvs)
  }

  test("delete-dv commits in one SQL execution: the sidecar write counts its own victims") {
    val root = tmpDir() + "/t"
    mk(root)
    val ex = executionsOf(Versioned.deleteWhereDV(spark, root, col("k") % 10 === 0L))
    assert(ex.length === 1, s"the sidecar write only, got $ex")
    assert(ex.forall(!_.startsWith("job-")), s"a job ran outside any SQL execution: $ex")
    val v = Versioned.currentVersion(root).get
    assert(v.dvs.valuesIterator.flatten.map(_._2).sum === 10L)
  }

  test("delete-dv blast radius: only stats-overlapping files get vectors; others untouched") {
    val root = tmpDir() + "/t"
    mk(root)
    val v1 = Versioned.currentVersion(root).get
    // k <= 10 lives in the first range-clustered file only
    val v2 = Versioned.deleteWhereDV(spark, root, col("k") <= 10L)
    assert(v2.dvs.keySet.size < v1.files.size,
      s"a narrow delete must not attach vectors to every file (got ${v2.dvs.keySet})")
  }

  test("delete-dv accumulates: second delete on the same file appends a sidecar; both apply") {
    import spark.implicits._
    val root = tmpDir() + "/t"
    mk(root)
    Versioned.deleteWhereDV(spark, root, col("k") === 5L)
    val v3 = Versioned.deleteWhereDV(spark, root, col("k") === 7L)
    val atts = v3.dvs.values.flatten.toSeq
    assert(atts.length === 2 && atts.map(_._2).sum === 2L)
    assert(Versioned.read(spark, root).filter(col("k").isin(5L, 7L)).count() === 0L)
    assert(Versioned.read(spark, root).count() === 98L)
    // re-deleting an already-deleted row is a metadata no-op: the victim
    // scan runs with existing vectors applied, so there is nothing to record
    val v4 = Versioned.deleteWhereDV(spark, root, col("k") === 5L)
    assert(v4.n === v3.n, "no victims, no commit")
  }

  test("delete-dv no-match predicate: no commit, no sidecar orphan left behind") {
    val root = tmpDir() + "/t"
    mk(root)
    val before = Versioned.currentVersion(root).get
    val v = Versioned.deleteWhereDV(spark, root, col("k") > 1000L)
    assert(v.n === before.n)
    // nothing new under data/ except the original commit dir
    val dirs = Files.list(Paths.get(root, "data")).toArray.map(_.toString)
    assert(dirs.count(!_.endsWith(".inflight")) === 1,
      s"an empty dv commit must clean up its sidecar dir: $dirs")
  }

  test("nondeterministic predicate refuses with a pointer to the COW form") {
    val root = tmpDir() + "/t"
    mk(root)
    val e = intercept[IllegalArgumentException] {
      Versioned.deleteWhereDV(spark, root, rand() > 0.5)
    }
    assert(e.getMessage.contains("deterministic"))
  }

  test("a table carrying the reserved working-column names refuses merge-on-read DML up front") {
    import spark.implicits._
    val root = tmpDir() + "/t"
    Versioned.append(Seq((1L, "x")).toDF("k", "__dv_key"), root)
    val e = intercept[IllegalArgumentException] {
      Versioned.deleteWhereDV(spark, root, col("k") === 1L)
    }
    assert(e.getMessage.contains("__dv_key") && e.getMessage.contains("evolveRename"))
  }

  test("update-dv: SQL UPDATE semantics at O(matched) write cost; constraints validate the rewrites") {
    import spark.implicits._
    val root = tmpDir() + "/t"
    mk(root)
    Versioned.addConstraint(spark, root, "price_pos", "price > 0")
    val v = Versioned.updateWhereDV(spark, root, col("k") <= 3L,
      Map("price" -> (col("price") * 2), "tag" -> lit("upd")))
    assert(v.op === "update-dv")
    assert(Versioned.read(spark, root).count() === 100L, "update preserves cardinality")
    val got = Versioned.read(spark, root).filter(col("k") <= 3L)
      .select("k", "price", "tag").as[(Long, Double, String)].collect().sortBy(_._1)
    assert(got === (1L to 3L).map(k => (k, k * 20.0, "upd")).toArray)
    // untouched rows identical
    assert(Versioned.read(spark, root).filter(col("k") === 50L)
      .select("price").as[Double].head() === 500.0)
    // an update INTO a violation refuses and leaves the table unchanged
    intercept[IllegalArgumentException] {
      Versioned.updateWhereDV(spark, root, col("k") === 9L, Map("price" -> lit(-1.0)))
    }
    assert(Versioned.currentVersion(root).get.n === v.n)
    assert(Versioned.read(spark, root).filter(col("k") === 9L)
      .select("price").as[Double].head() === 90.0)
  }

  test("update-dv on already-deleted rows is a metadata no-op with no file litter") {
    val root = tmpDir() + "/t"
    mk(root)
    Versioned.deleteWhereDV(spark, root, col("k") === 5L)
    val v2 = Versioned.currentVersion(root).get
    // k=5 overlaps its file's range but every victim is already deleted
    val v3 = Versioned.updateWhereDV(spark, root, col("k") === 5L,
      Map("tag" -> lit("ghost")))
    assert(v3.n === v2.n, "no matched rows, no commit")
    // no empty rewrite/sidecar parquet left behind: only v1's commit dir
    // and v2's sidecar dir exist under data/
    val dirs = Files.list(Paths.get(root, "data")).toArray.map(_.toString)
    assert(dirs.count(!_.endsWith(".inflight")) === 2, s"litter: ${dirs.mkString(", ")}")
  }

  test("purge-dv folds vectors into clean files: identical rows, no vectors, clean files untouched") {
    import spark.implicits._
    val root = tmpDir() + "/t"
    mk(root)
    Versioned.deleteWhereDV(spark, root, col("k") <= 10L)
    val v2 = Versioned.currentVersion(root).get
    val untouched = v2.files.filterNot(v2.dvs.keySet)
    val v3 = Versioned.purgeDeletes(spark, root)
    assert(v3.op === "purge-dv" && v3.dvs.isEmpty)
    // clean files carry by identity; only dv'd files were rewritten
    untouched.foreach(f => assert(v3.files.contains(f)))
    assert(Versioned.read(spark, root).select("k").as[Long].collect().sorted
      === (11L to 100L).toArray)
    // a second purge is a no-op
    assert(Versioned.purgeDeletes(spark, root).n === v3.n)
  }

  test("selective purge: only files above the victim-ratio threshold rewrite") {
    import spark.implicits._
    val root = tmpDir() + "/t"
    mk(root) // 4 range-clustered files of 25 rows each
    // heavy pressure on the first quartile (10/25 deleted), light on the
    // last (1/25)
    Versioned.deleteWhereDV(spark, root, col("k") <= 10L)
    Versioned.deleteWhereDV(spark, root, col("k") === 100L)
    val pre = Versioned.currentVersion(root).get
    assert(pre.dvs.keySet.size === 2)
    val v = Versioned.purgeDeletes(spark, root, minDeletedRatio = 0.2)
    // the heavy file folded; the light one keeps its (cheap) vector
    assert(v.dvs.keySet.size === 1, s"light file keeps its vector: ${v.dvs.keySet}")
    assert(v.dvs.valuesIterator.flatten.map(_._2).sum === 1L)
    assert(Versioned.read(spark, root).select("k").as[Long].collect().sorted
      === (11L to 99L).toArray)
    // threshold 0 folds the rest (the default REORG semantics)
    assert(Versioned.purgeDeletes(spark, root).dvs.isEmpty)
    assert(Versioned.read(spark, root).count() === 89L)
  }

  test("skipping reads stay correct over dv'd files: readWhere / readEquals apply the vectors") {
    import spark.implicits._
    val root = tmpDir() + "/t"
    mk(root)
    Versioned.deleteWhereDV(spark, root, col("k") === 42L)
    assert(Versioned.readWhere(spark, root, col("k") >= 40L && col("k") <= 45L)
      .select("k").as[Long].collect().sorted === Array(40L, 41L, 43L, 44L, 45L))
    assert(Versioned.readEquals(spark, root, "k", 42L).count() === 0L)
    assert(Versioned.readEquals(spark, root, "k", 43L).count() === 1L)
  }

  test("CDC over a dv commit: changes() surfaces exactly the dv-deleted rows; rollback re-inserts") {
    import spark.implicits._
    val root = tmpDir() + "/t"
    mk(root)
    Versioned.deleteWhereDV(spark, root, col("k").isin(3L, 4L))
    val ch = Versioned.changes(spark, root, 1, 2)
    assert(ch.filter(col("change_type") === "insert").count() === 0L)
    assert(ch.filter(col("change_type") === "delete")
      .select("k").as[Long].collect().sorted === Array(3L, 4L))
    // rollback past the delete: the vectors shrink, CDC shows re-inserts
    Versioned.rollback(root, 1)
    val back = Versioned.changes(spark, root, 2, 3)
    assert(back.filter(col("change_type") === "insert")
      .select("k").as[Long].collect().sorted === Array(3L, 4L))
    assert(Versioned.read(spark, root).count() === 100L)
  }

  test("update-dv reads as an update in keyed CDC") {
    import spark.implicits._
    val root = tmpDir() + "/t"
    mk(root)
    Versioned.updateWhereDV(spark, root, col("k") === 8L, Map("tag" -> lit("X")))
    val ch = Versioned.changesByKey(spark, root, 1, 2, Seq("k"))
    val tags = ch.select("_change_type", "k", "tag").as[(String, Long, String)].collect()
    assert(tags.toSet === Set(("update_pre", 8L, "r8"), ("update_post", 8L, "X")))
  }

  test("retention protects live sidecars and reclaims expired ones") {
    import spark.implicits._
    val root = tmpDir() + "/t"
    mk(root)
    val v2 = Versioned.deleteWhereDV(spark, root, col("k") <= 10L)
    val sidecars = v2.dvs.values.flatten.map(_._1).toSeq.distinct
    // v2 (head) references the sidecar: vacuum must NOT delete it
    val (del1, live1) = Versioned.vacuum(root, keepLast = 1)
    assert(sidecars.forall(live1.contains), "live sidecars retained")
    assert(del1.isEmpty)
    assert(Versioned.read(spark, root).count() === 90L)
    // purge de-references the sidecar AND its files; now vacuum reclaims both
    Versioned.purgeDeletes(spark, root)
    val (del2, _) = Versioned.vacuum(root, keepLast = 1)
    assert(sidecars.forall(del2.contains), s"expired sidecars reclaimed: $del2")
    assert(Versioned.read(spark, root).count() === 90L)
    // rolling back onto vacuumed vectors refuses loudly
    val e = intercept[IllegalArgumentException] { Versioned.rollback(root, 2) }
    assert(e.getMessage.contains("vacuumed"))
  }

  test("gcOrphans never reaps a referenced sidecar") {
    import spark.implicits._
    val root = tmpDir() + "/t"
    mk(root)
    val v2 = Versioned.deleteWhereDV(spark, root, col("k") === 1L)
    val reaped = Versioned.gcOrphans(root, olderThanMs = -1L) // everything is "old"
    val sidecars = v2.dvs.values.flatten.map(_._1).toSet
    assert(reaped.forall(!sidecars.contains(_)), s"sidecar reaped: $reaped")
    assert(Versioned.read(spark, root).count() === 99L)
  }

  test("clones carry vectors: shallow serves survivors zero-copy; deep is self-contained") {
    import spark.implicits._
    val base = tmpDir()
    val src = base + "/src"
    mk(src)
    Versioned.deleteWhereDV(spark, src, col("k") <= 20L)
    val sh = base + "/shallow"
    Versioned.cloneTable(src, sh)
    assert(Versioned.read(spark, sh).count() === 80L)
    val dp = base + "/deep"
    Versioned.cloneTable(src, dp, deep = true)
    assert(Versioned.read(spark, dp).count() === 80L)
    // deep clone owns everything: the source is deletable afterward
    def rmRf(p: java.nio.file.Path): Unit = {
      if (Files.isDirectory(p)) Files.list(p).forEach(rmRf(_))
      Files.deleteIfExists(p)
    }
    rmRf(Paths.get(src))
    assert(Versioned.read(spark, dp).select("k").as[Long].collect().sorted
      === (21L to 100L).toArray)
  }

  test("checkpoint manifests carry vectors: state survives a FULL-manifest rebuild") {
    import spark.implicits._
    val root = tmpDir() + "/t"
    mk(root)
    Versioned.deleteWhereDV(spark, root, col("k") === 50L)
    // drive to the next checkpoint number: state must reconstruct from the
    // FULL manifest alone (deltas below it never read)
    (1 to 9).foreach(i => Versioned.append(
      Seq((1000L + i, 1.0, "x")).toDF("k", "price", "tag"), root))
    val head = Versioned.currentVersion(root).get
    assert(head.n >= 10 && head.dvs.nonEmpty)
    assert(Versioned.read(spark, root).filter(col("k") === 50L).count() === 0L)
    assert(Versioned.read(spark, root).count() === 108L)
  }

  test("a dv commit is a CHANGE commit to the streaming source's guard") {
    val root = tmpDir() + "/t"
    mk(root)
    Versioned.deleteWhereDV(spark, root, col("k") === 2L)
    val (added, removed, _) = {
      val m = Versioned.getClass.getDeclaredMethods
        .find(_.getName == "addedRemovedPending").get
      m.setAccessible(true)
      m.invoke(Versioned, root, Int.box(2)).asInstanceOf[(Seq[(String, Long)], Int, Boolean)]
    }
    assert(added.isEmpty && removed > 0,
      "rows deleted in place must trip the fail-on-changes guard")
  }

  test("the native relation (table/VT14) applies vectors and keeps manifest-stats pruning") {
    import spark.implicits._
    val root = tmpDir() + "/t"
    mk(root)
    Versioned.deleteWhereDV(spark, root, col("k") === 42L)
    val t = Versioned.table(spark, root)
    assert(t.count() === 99L)
    assert(t.filter(col("k") === 42L).count() === 0L)
    assert(t.filter(col("k") === 43L).count() === 1L)
    // Catalyst still prunes through the DV split: a one-quartile predicate
    // plans a strict subset of the table's DATA files (sidecar reads are
    // not data-file scans of the table's key domain)
    val total = Versioned.currentVersion(root).get.files.length
    val dataFiles = Versioned.currentVersion(root).get.files
      .map(f => java.nio.file.Paths.get(f).getFileName.toString).toSet
    val planned = t.filter(col("k") <= 10L).queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.selectedPartitions.toPartitionArray.map(_.filePath.toString).toSeq
    }.flatten.map(_.split('/').last).filter(dataFiles.contains).distinct
    assert(planned.length < total,
      s"pruning must survive the DV split (${planned.length}/$total)")
    // SQL over the registered view serves the same survivors
    t.createOrReplaceTempView("dv_t")
    assert(spark.sql("SELECT count(*) FROM dv_t WHERE k BETWEEN 40 AND 45")
      .as[Long].head() === 5L)
  }

  test("DV read plan quality: broadcast anti-join, data filter pushed below it into the scan") {
    val root = tmpDir() + "/t"
    mk(root)
    Versioned.deleteWhereDV(spark, root, col("k") % 10 === 0L)
    val q = Versioned.readWhere(spark, root, col("k") > 90L)
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"sidecars must broadcast, not shuffle:\n${plan.take(1500)}")
    assert(!plan.contains("SortMergeJoin"))
    assert(plan.contains("GreaterThan(k,90)"),
      "the data predicate must reach the parquet scan BELOW the anti-join")
  }

  test("detail() surfaces delete pressure: dv file/row counts rise with deletes, clear on purge") {
    import spark.implicits._
    val root = tmpDir() + "/t"
    mk(root)
    def d = Versioned.detail(spark, root).head()
    assert(d.getAs[String]("format") === "graft-versioned")
    assert(d.getAs[Int]("num_files") === 4 && d.getAs[Long]("dv_deleted_rows") === 0L)
    assert(d.getAs[String]("stats_cols") === "k")
    Versioned.deleteWhereDV(spark, root, col("k") % 10 === 0L)
    assert(d.getAs[Long]("dv_deleted_rows") === 10L && d.getAs[Int]("num_dv_files") > 0)
    Versioned.purgeDeletes(spark, root)
    assert(d.getAs[Long]("dv_deleted_rows") === 0L && d.getAs[Int]("num_dv_files") === 0)
    // time travel: the pressure as it stood at the dv version
    assert(Versioned.detail(spark, root, asOf = Some(2)).head()
      .getAs[Long]("dv_deleted_rows") === 10L)
    // the per-file view agrees: at v2 every file carries one vector of
    // its own victims (k % 10 hits every quartile), with ranges recorded
    val pf = Versioned.filesDetail(spark, root, asOf = Some(2)).collect()
    assert(pf.length === 4)
    assert(pf.map(_.getAs[Long]("dv_deleted_rows")).sum === 10L)
    assert(pf.forall(_.getAs[String]("stats").startsWith("k:[")))
    assert(Versioned.filesDetail(spark, root).collect()
      .forall(_.getAs[Int]("num_dvs") === 0), "post-purge files are clean")
  }

  test("merge-on-read and copy-on-write compose: COW merge rewrites a dv'd file and drops its vectors") {
    import spark.implicits._
    val root = tmpDir() + "/t"
    mk(root)
    Versioned.deleteWhereDV(spark, root, col("k") === 10L)
    // a COW merge whose blast radius covers the dv'd file
    Versioned.mergeInto(spark, root, Seq((11L, 999.0, "M")).toDF("k", "price", "tag"), Seq("k"))
    val v = Versioned.currentVersion(root).get
    assert(v.dvs.isEmpty, "the rewrite materialized the vectors away")
    assert(Versioned.read(spark, root).filter(col("k") === 10L).count() === 0L,
      "the dv'd delete survives the rewrite")
    assert(Versioned.read(spark, root).filter(col("k") === 11L)
      .select("price").as[Double].head() === 999.0)
    assert(Versioned.read(spark, root).count() === 99L)
  }
}
