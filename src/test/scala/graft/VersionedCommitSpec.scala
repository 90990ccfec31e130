package graft

import graft.merge.{MergeInto, Versioned}
import graft.merge.Versioned.{FileEntry, Raw}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Every write of the Versioned log goes through one commit function, and
  * the state a writer returns is the readers' own fold of what it wrote.
  */
class VersionedCommitSpec extends SparkSuite {

  private def root(): String = tmpDir() + "/t"

  /** `v` is exactly what a reader folds back from disk. */
  private def same(r: String, v: Versioned.Version): Versioned.Version = {
    assert(v === Versioned.currentVersion(r).get, s"${v.op} v${v.n}")
    v
  }

  private def rows(from: Long, to: Long): DataFrame =
    spark.range(from, to + 1).select(col("id").as("k"), (col("id") % 13).as("g"),
      concat(lit("v"), col("id").cast("string")).as("v"))

  private def firstLine(r: String, n: Int): String =
    Files.readAllLines(Paths.get(r, "_vlog", f"v$n%05d.txt")).get(0)

  test("every commit verb returns the state readers fold back, across the v10 checkpoint") {
    val r = root()
    val ops = Seq[() => Versioned.Version](
      () => Versioned.appendWithStats(rows(1, 200).repartition(2), r, Seq("k"),
        bloomCols = Seq("g")),
      () => Versioned.append(rows(201, 240), r),
      () => Versioned.appendWithRetry(rows(241, 260), r),
      () => Versioned.appendStreamBatch(rows(261, 280), r, 0L, Seq("k")).get,
      () => Versioned.mergeInto(spark, r, rows(5, 10).withColumn("v", lit("m")), Seq("k")),
      () => Versioned.mergeIntoClauses(spark, r, rows(300, 302), Seq("k"),
        matched = Seq(MergeInto.MergeAction.Update(None, Map("v" -> col("s.v")))),
        insert = Some(lit(true))),
      () => Versioned.mergeStreamBatch(spark, r, rows(11, 12), Seq("k"), 1L).get,
      () => Versioned.deleteWhere(spark, r, col("k") < 3L),
      () => Versioned.updateWhere(spark, r, col("k") === 20L, Map("v" -> lit("u"))),
      () => Versioned.deleteWhereDV(spark, r, col("k") === 30L),
      () => Versioned.updateWhereDV(spark, r, col("k") === 40L, Map("v" -> lit("w"))),
      () => Versioned.purgeDeletes(spark, r),
      () => Versioned.addConstraint(spark, r, "kpos", "k > 0"),
      () => Versioned.evolve(r, "note STRING"),
      () => Versioned.evolveRename(r, "v", "label"),
      () => Versioned.evolveDrop(r, Seq("note")),
      () => Versioned.dropConstraint(r, "kpos"),
      () => Versioned.compact(spark, r, 2),
      () => Versioned.compactZOrder(spark, r, Seq("k", "g"), 2),
      // g is both a z-order stats column and the bloom column: a FULL drop
      () => Versioned.evolveDrop(r, Seq("g")),
      () => Versioned.rollback(r, 19),
      () => Versioned.overwrite(rows(1, 50).select(col("k"), col("v").as("label")), r))
    ops.zipWithIndex.foreach { case (op, i) =>
      val v = same(r, op())
      assert(v.n === i + 1, s"${v.op} must commit a version")
    }
    // the v10 DV delete was written as the checkpoint, v9 and v11 as deltas
    assert(firstLine(r, 10).contains("full=1") && firstLine(r, 10).startsWith("op=delete-dv"))
    assert(!firstLine(r, 9).contains("full=1") && !firstLine(r, 11).contains("full=1"))
    Seq(false, true).foreach { deep =>
      val dst = root()
      same(dst, Versioned.cloneTable(r, dst, deep = deep))
    }
  }

  test("a staged commit returns the state readers fold once its transaction commits") {
    val r = root()
    Versioned.appendWithStats(rows(1, 100), r, Seq("k"))
    val stages = Seq[String => Versioned.Version](
      txn => Versioned.appendStaged(rows(101, 120), r, txn),
      txn => Versioned.mergeIntoStaged(spark, r, rows(5, 8).withColumn("v", lit("m")),
        Seq("k"), txn),
      txn => Versioned.deleteWhereStaged(spark, r, col("k") < 3L, txn))
    stages.foreach { stage =>
      val txn = Versioned.beginTransaction(tmpDir())
      val v = stage(txn)
      assert(v.pendingTxn === Some(txn))
      assert(Versioned.currentVersion(r).get.files !== v.files,
        "pending: readers see the pre-txn state")
      Versioned.commitTransaction(txn)
      same(r, v.copy(pendingTxn = None))
    }
  }

  test("a log whose first manifest records no schema keeps the readers' view") {
    val r = root()
    val ddl = Some(org.apache.spark.sql.types.StructType.fromDDL("k BIGINT").toDDL)
    val v1 = same(r,
      Versioned.commitFiles(r, "append", Seq(FileEntry("data/c1/f.parquet", Nil)), Nil))
    assert(v1.schema.isEmpty)
    (2 to 11).foreach { i =>
      same(r, Versioned.commitFiles(r, "append",
        Seq(FileEntry(f"data/c$i/f.parquet", Nil)), Nil, ddl))
    }
    // no delta wrote the data schema, so the v10 checkpoint does not either
    assert(firstLine(r, 10).contains("full=1"))
    assert(Versioned.currentVersion(r).get.schema.isEmpty)
  }

  test("parseManifest inverts render for a delta carrying every line kind") {
    val raw = Raw(7, "merge", 6, statsCols = Seq("k", "t"),
      entries = Seq(
        FileEntry("data/c7-a/part-0.parquet", Seq((1L, 5L), (10L, 20L)), 123L,
          Seq("g" -> Vector.tabulate(Versioned.BloomWords)(_.toLong),
            "h" -> Vector.fill(Versioned.BloomWords)(-1L)), 9L, Seq(0L, 2L)),
        FileEntry("data/c7-a/part-1.parquet", Nil, 77L)),
      removed = Seq("data/c3-b/part-0.parquet"),
      txns = Set(4L, 2L), schema = Some("k BIGINT,t BIGINT,g BIGINT,h BIGINT"), ts = 1234L,
      constraints = Seq("pos" -> "k > 0", "nn_t" -> "`t` IS NOT NULL"),
      colMap = Map("t" -> "t0"), txnMarker = Some("/txns/txn-1"), bloomCols = Seq("g", "h"),
      dvs = Map("data/c2-c/part-0.parquet" -> Seq(("data/c5-d/part-0.parquet", 3L),
        ("data/c6-e/part-0.parquet", 1L))))
    val text = Versioned.render(raw)
    Seq("op=", "schema=", "txnmarker=", "constraint=", "colmap=", "bloom=", "dv=", "nulls=",
      "txn=", "-", "+").foreach(k => assert(text.linesIterator.exists(_.startsWith(k)), k))
    val p = Files.writeString(Paths.get(tmpDir(), "v00007.txt"), text)
    assert(Versioned.parseManifest(7, p) === raw)
  }

  test("overwrite keeps the null counts it measured: IS NULL prunes after it") {
    val r = root()
    Versioned.appendWithStats(rows(1, 100), r, Seq("k"))
    // four files; only the first holds NULL keys
    val replacement = spark.range(0, 400, 1, 4).select(
      when(col("id") < 100 && col("id") % 2 === 0, lit(null)).otherwise(col("id")).as("k"),
      (col("id") % 13).as("g"), lit("o").as("v"))
    val v = Versioned.overwrite(replacement, r)
    val cur = Versioned.currentVersion(r).get
    assert(cur.files.length === 4)
    val measured = scanMeasures(r, cur, cur.files)
    assert(cur.nulls === measured.map { case (f, m) => f -> (m.rowCount, m.nullCounts) })
    assert(v === cur)
    val isNull = Versioned.readWhere(spark, r, col("k").isNull)
    assert(isNull.count() === 50L)
    assert(isNull.inputFiles.length < cur.files.length,
      s"IS NULL read ${isNull.inputFiles.length} of ${cur.files.length} files")
  }

  test("one commit function: promoteState has one caller, the checkpoint cadence one home") {
    val src = Files.readString(Paths.get(sys.props("user.dir"),
      "src", "main", "scala", "graft", "merge", "Versioned.scala"))
    def count(token: String): Int = src.sliding(token.length).count(_ == token)
    assert(count("promoteState(") - count("def promoteState(") === 1)
    assert(count("% CheckpointInterval") === 1)
    assert(count("commitOnStaged") === 0)
    assert(count("def commitOn(") === 0)
  }
}
