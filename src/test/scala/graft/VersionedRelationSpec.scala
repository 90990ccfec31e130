package graft

import graft.merge.Versioned
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.FileSourceScanExec
import java.nio.file.Files

/** VT14: the versioned table as a native Spark relation — a
  * ManifestFileIndex-backed DataFrame whose scans self-prune from manifest
  * stats on whatever predicates CATALYST pushes down (SQL, DataFrame,
  * joins), with snapshot pinning and the schema contract intact.
  */
class VersionedRelationSpec extends SparkSuite {

  private def freshRoot(): String =
    Files.createTempDirectory("graft_vt_rel").toString + "/t"

  private def scannedFiles(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec =>
        f.selectedPartitions.toPartitionArray.map(_.filePath.toString).toSeq
    }.flatten

  test("planner pushes DataFrame and SQL predicates into manifest pruning") {
    import spark.implicits._
    val root = freshRoot()
    Versioned.appendWithStats((1L to 40L).toDF("k").repartitionByRange(4, col("k")), root, "k")
    val all = Versioned.currentVersion(root).get.files.length
    val t = Versioned.table(spark, root)
    // DataFrame filter: planning-time file pruning, exact rows
    val q = t.filter(col("k").between(5, 8))
    assert(q.as[Long].collect().sorted.toSeq === (5L to 8L))
    assert(scannedFiles(q).length === 1, s"expected 1 of $all files planned")
    // same file set the explicit readWhere plans — the two paths agree
    val hand = Versioned.readWhere(spark, root, col("k").between(5L, 8L))
    assert(scannedFiles(q).map(_.split('/').last).toSet ===
      hand.inputFiles.map(_.split('/').last).toSet)
    // plain SQL over a temp view: BETWEEN and OR-of-ranges both prune
    t.createOrReplaceTempView("graft_vt14_spec")
    val sq = spark.sql("SELECT k FROM graft_vt14_spec WHERE k BETWEEN 5 AND 8 OR k >= 39")
    assert(sq.as[Long].collect().sorted.toSeq === Seq(5L, 6L, 7L, 8L, 39L, 40L))
    assert(scannedFiles(sq).length === 2, "OR window must plan exactly the two boundary files")
    // unboundable predicate: conservative full scan, exact result
    val neq = spark.sql("SELECT k FROM graft_vt14_spec WHERE k <> 5")
    assert(neq.count() === 39L)
    assert(scannedFiles(neq).length === all)
    // proven contradiction: zero files planned, empty result, no error
    val none = t.filter(col("k") > 100L && col("k") < 50L)
    assert(none.count() === 0L)
    assert(scannedFiles(none).isEmpty)
    spark.catalog.dropTempView("graft_vt14_spec")
  }

  test("DATE predicates in SQL prune (analysis pre-encodes epoch days)") {
    import spark.implicits._
    val root = freshRoot()
    val base = java.time.LocalDate.of(2024, 1, 1)
    val df = (0 until 120).map(i =>
      (java.sql.Date.valueOf(base.plusDays(i.toLong)), i.toLong)).toDF("dt", "k")
    Versioned.appendWithStats(df.repartitionByRange(4, col("dt")), root, "dt")
    val t = Versioned.table(spark, root)
    t.createOrReplaceTempView("graft_vt14_dates")
    val q = spark.sql(
      "SELECT k FROM graft_vt14_dates WHERE dt BETWEEN DATE '2024-02-01' AND DATE '2024-02-28'")
    assert(q.as[Long].collect().sorted.toSeq === (31L to 58L))
    assert(scannedFiles(q).length === 1,
      "the reference's date-window shape must prune through plain SQL")
    spark.catalog.dropTempView("graft_vt14_dates")
  }

  test("snapshot pinning: the relation never sees commits made after it was built") {
    import spark.implicits._
    val root = freshRoot()
    Versioned.appendWithStats((1L to 10L).toDF("k"), root, "k")
    val t1 = Versioned.table(spark, root)
    Versioned.appendWithStats((11L to 20L).toDF("k"), root, "k")
    assert(t1.count() === 10L, "a built relation is a pinned snapshot")
    assert(Versioned.table(spark, root).count() === 20L)
    assert(Versioned.table(spark, root, asOf = Some(1)).count() === 10L)
    // schema comes from the version's contract (nullable-normalized)
    assert(Versioned.table(spark, root).schema.fieldNames.toSeq === Seq("k"))
  }

  test("exprRanges: range algebra over the conjuncts the planner pushes") {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.graft.ManifestFileIndex.exprRanges
    import org.apache.spark.sql.types.LongType
    val k = AttributeReference("k", LongType)()
    val d = AttributeReference("d", LongType)()
    def lit(v: Long) = Literal(v, LongType)
    assert(exprRanges(Seq(And(GreaterThanOrEqual(k, lit(5)), LessThan(k, lit(9))))) ===
      Map("k" -> Seq((5L, 9L))))
    // conjoined filter LIST (how FileSourceStrategy hands them over)
    assert(exprRanges(Seq(GreaterThanOrEqual(k, lit(5)), LessThanOrEqual(k, lit(8)),
      EqualTo(d, lit(40)))) === Map("k" -> Seq((5L, 8L)), "d" -> Seq((40L, 40L))))
    // OR unions; one-sided columns drop
    assert(exprRanges(Seq(Or(LessThanOrEqual(k, lit(2)), GreaterThanOrEqual(k, lit(39))))) ===
      Map("k" -> Seq((Long.MinValue, 2L), (39L, Long.MaxValue))))
    assert(exprRanges(Seq(Or(LessThan(k, lit(5)), GreaterThan(d, lit(3))))) === Map.empty)
    // In and its InSet optimized form
    assert(exprRanges(Seq(In(k, Seq(lit(3), lit(7), lit(4))))) ===
      Map("k" -> Seq((3L, 4L), (7L, 7L))))
    assert(exprRanges(Seq(InSet(k, Set(3L, 7L, 4L)))) ===
      Map("k" -> Seq((3L, 4L), (7L, 7L))))
    // IsNotNull (always pushed alongside) contributes nothing
    assert(exprRanges(Seq(IsNotNull(k), EqualTo(k, lit(7)))) === Map("k" -> Seq((7L, 7L))))
  }

  test("statuses come from the log: fmt-3 tables never stat; legacy files fall back lazily") {
    import spark.implicits._
    import org.apache.spark.sql.graft.ManifestFileIndex.dirsStatted
    val root = freshRoot()
    // 30 commits = 30 commit dirs, each one range-disjoint file
    (0 until 30).foreach { i =>
      Versioned.appendWithStats(
        ((i * 10L + 1) to (i * 10L + 10)).toDF("k").repartition(1), root, "k")
    }
    val cur = Versioned.currentVersion(root).get
    assert(cur.files.length === 30)
    // fmt=3 manifests recorded every file's size at commit time
    assert(cur.sizes.keySet === cur.files.toSet)
    val d0 = dirsStatted.get()
    val t = Versioned.table(spark, root)
    // construction, pruned queries, AND full scans: zero filesystem calls —
    // the synthesized statuses carry the manifest-recorded lengths
    val q = t.filter(col("k").between(105L, 108L))
    assert(q.as[Long].collect().sorted.toSeq === (105L to 108L))
    assert(t.count() === 300L)
    assert(dirsStatted.get() - d0 === 0L,
      s"a fmt-3 table must plan from the log alone, statted ${dirsStatted.get() - d0} dirs")
    // and the recorded sizes are the REAL on-disk lengths (splitting and
    // join-size estimates depend on them)
    cur.sizes.foreach { case (f, sz) =>
      assert(java.nio.file.Files.size(java.nio.file.Paths.get(root).resolve(f)) === sz) }

    // LEGACY fallback: a hand-written pre-fmt-3 manifest (no sizes) takes
    // the lazy per-dir path — construction stats nothing, a pruned query
    // stats only the surviving file's dir, memoized across queries
    val root2 = freshRoot()
    Versioned.appendWithStats((1L to 10L).toDF("k").repartition(1), root2, "k")
    Versioned.appendWithStats((11L to 20L).toDF("k").repartition(1), root2, "k")
    val v2 = Versioned.currentVersion(root2).get
    // strip the size fields: rewrite the head as a legacy fmt-2-style FULL
    // manifest (path|mn|mx lines, no size)
    val legacyLines = "op=overwrite parent=2 fmt=2 full=1 stats=k" +:
      v2.schema.map(s => s"schema=$s").toSeq ++: v2.files.map { f =>
        val rs = v2.stats(f)
        (f +: rs.flatMap { case (mn, mx) => Seq(mn.toString, mx.toString) }).mkString("|")
      }
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(root2, "_vlog", "v00003.txt"), legacyLines.mkString("\n"))
    val d1 = dirsStatted.get()
    val t2 = Versioned.table(spark, root2)
    assert(dirsStatted.get() - d1 === 0L, "construction must not stat even without sizes")
    assert(t2.filter(col("k").between(3L, 5L)).count() === 3L)
    assert(dirsStatted.get() - d1 === 1L,
      s"legacy pruned query must stat 1 dir, statted ${dirsStatted.get() - d1}")
    assert(t2.count() === 20L)
    assert(dirsStatted.get() - d1 === 2L)
    assert(t2.count() === 20L)
    assert(dirsStatted.get() - d1 === 2L, "statuses are memoized per relation")
  }
}
