package graft

import graft.merge.Versioned
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** One pruning rule for every read of the log: the library read
  * (`readWhere`), the native relation under the DataFrame API and under SQL
  * over a temp view, the DSv2 source and the catalog all plan the same
  * files for the same predicate, and serve the rows an unpruned evaluation
  * gives.
  */
class VersionedPruneSpec extends SparkSuite {

  private val fmt = classOf[graft.streaming.VersionedStreamSource].getName

  /** The data files a frame's plan scans, as `<commitDir>/<file>` keys. */
  private def planned(df: DataFrame, v: Versioned.Version): Set[String] = {
    val data = v.files.map(Versioned.dvKeyOf).toSet
    df.queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec =>
        f.selectedPartitions.toPartitionArray.map(_.filePath.toString).toSeq
      case b: BatchScanExec =>
        b.inputPartitions.map(_.asInstanceOf[Product].productElement(0).toString)
    }.flatten.map(Versioned.dvKeyOf).filter(data).toSet
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** Every entry point's plan and rows for `where`, checked against each
    * other and an unpruned evaluation; returns the planned file set.
    */
  private def agree(root: String, where: String): Set[String] = {
    val v = Versioned.currentVersion(root).get
    val all = Versioned.read(spark, root)
    val unpruned = rows(spark.createDataFrame(all.collect().toSeq.asJava, all.schema)
      .filter(expr(where)))
    Versioned.table(spark, root).createOrReplaceTempView("graft_prune_spec")
    val entries = Seq(
      "readWhere" -> Versioned.readWhere(spark, root, expr(where)),
      "table.filter" -> Versioned.table(spark, root).filter(expr(where)),
      "sql view" -> spark.sql(s"SELECT * FROM graft_prune_spec WHERE $where"),
      "format" -> spark.read.format(fmt).option("path", root).load().filter(expr(where)),
      "catalog" -> spark.sql(s"SELECT * FROM graft.`$root` WHERE $where"))
    val plans = entries.map { case (name, df) =>
      assert(rows(df) === unpruned, s"$name rows for `$where`")
      name -> planned(df, v)
    }
    plans.foreach { case (name, files) =>
      assert(files === plans.head._2, s"$name planned ${files.size} files for `$where`, " +
        s"readWhere ${plans.head._2.size}")
    }
    spark.catalog.dropTempView("graft_prune_spec")
    plans.head._2
  }

  test("every entry point plans the same files and serves the same rows") {
    val root = tmpDir() + "/t"
    // four range files on k (ts, d rise with k) plus one whose n is all NULL
    def rowsOf(from: Long, to: Long, nullWhen: String) = spark.range(from, to + 1)
      .select(col("id").as("k"),
        expr("timestamp_seconds(1704067200 + id * 3600)").as("ts"), // 2024-01-01 + k h
        expr("date_add(DATE '2024-01-01', CAST(id AS INT))").as("d"),
        concat(lit("t"), col("id")).as("tag"),
        when(expr(nullWhen), lit(null)).otherwise(col("id")).as("n"))
    val stats = Seq("k", "ts", "d", "n")
    Versioned.appendWithStats(rowsOf(1, 100, "id > 75 AND id % 10 = 0")
      .repartitionByRange(4, col("k")), root, stats, bloomCols = Seq("tag"))
    Versioned.appendWithStats(rowsOf(101, 110, "true").coalesce(1), root, stats)
    val all = Versioned.currentVersion(root).get.files.length
    assert(all === 5)

    def prunes(where: String, expected: Int): Unit = {
      val files = agree(root, where)
      assert(files.size === expected, s"`$where` planned ${files.size} of $all files")
    }
    // the all-NULL file has no range stats (any all-NULL stats column drops
    // them), so range predicates keep it conservatively
    prunes("k BETWEEN 30 AND 40", 2)
    prunes("k <= 10 OR k >= 90", 3)
    prunes("k IN (3, 57, 58)", 3)
    prunes("k > 80 AND k < 20", 0)
    prunes("ts >= DATE '2024-01-04'", 3)              // a DATE literal folds to micros
    agree(root, "d < TIMESTAMP '2024-02-01 00:00:00'") // a cast column: one plan everywhere
    prunes("n IS NULL", 2)                            // the mixed and the all-NULL file
    prunes("n IS NOT NULL", 4)                        // the all-NULL file skips
    prunes("tag = 't57'", 1)                          // bloom
    prunes("k <> 5", all)

    // a renamed column and a deletion-vector-carrying version plan alike too
    Versioned.evolveRename(root, "k", "kk")
    Versioned.deleteWhereDV(spark, root, col("kk").between(60L, 62L))
    val v = Versioned.currentVersion(root).get
    assert(v.colMap === Map("kk" -> "k") && v.dvs.exists(_._2.nonEmpty))
    prunes("kk BETWEEN 55 AND 70", 2)
    prunes("kk BETWEEN 30 AND 40 AND n IS NOT NULL", 1)
    prunes("tag = 't61'", 1)
    prunes("tag = 't57' OR kk = 3", v.files.length)   // no top-level equality: no bloom
  }

  test("conjuncts resolve a predicate once; prunedFiles keeps what they cannot rule out") {
    import spark.implicits._
    val root = tmpDir() + "/t"
    Versioned.appendWithStats((1L to 40L).toDF("k").repartitionByRange(4, col("k")), root, "k")
    val v = Versioned.currentVersion(root).get
    // a folded literal and an inferred IS NOT NULL
    val cs = Versioned.conjuncts(spark, v, col("k") >= lit(2) + lit(3))
    assert(cs.mkString.contains("isnotnull(k") && cs.mkString.contains(">= 5"), cs.mkString)
    assert(Versioned.prunedFiles(v, v.files, cs) === v.files)
    assert(Versioned.prunedFiles(v, v.files,
      Versioned.conjuncts(spark, v, col("k") >= 36)).length === 1)
    // a predicate the optimizer proves false keeps no file
    assert(Versioned.prunedFiles(v, v.files,
      Versioned.conjuncts(spark, v, col("k") === lit(null))).isEmpty)
    // the DML's affected set is the read's: one file rewritten
    val d = Versioned.deleteWhere(spark, root, col("k") >= 36)
    assert((v.files.toSet -- d.files.toSet).size === 1)
    assert(Versioned.read(spark, root).as[Long].collect().sorted.toSeq === (1L to 35L))
    assert(Versioned.readEquals(spark, root, "k", 7).collect().toSeq === Seq(Row(7L)))
  }

  test("lint: one pruning rule and one scan — no Column-side walker, no second read path") {
    def src(parts: String*): String = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(sys.props("user.dir"), ("src" +: "main" +: "scala" +: parts): _*)),
      "UTF-8")
    def count(text: String, token: String): Int = text.sliding(token.length).count(_ == token)
    val bridge = src("graft", "functions", "ColumnBridge.scala")
    Seq("predicateRanges", "predicateBounds", "LitKind", "nullTests").foreach(t =>
      assert(!bridge.contains(t), s"ColumnBridge still has $t"))
    val versioned = src("graft", "merge", "Versioned.scala")
    Seq("validatedBounds", "overlappingFiles", "candidateFiles", "readFiles(", "plainScan",
      "scanAlivePos", "matchesNatively", "bloomPrune", "nullPrune").foreach(t =>
      assert(count(versioned, t) === 0, s"Versioned.scala still has $t"))
    // spark.read only where no manifest lists the files to read: a
    // pre-contract log's schema inference and applyChangesPartitioned's
    // plain parquet replica (deletion-vector sidecars load inside the scan)
    val reads = versioned.linesIterator.filter(_.contains("spark.read")).toSeq
    assert(reads.length === 2, reads.mkString("\n"))
    Seq("spark.read.parquet(v.files", "spark.read.parquet(replicaPath)").foreach(t =>
      assert(reads.count(_.contains(t)) === 1, t))
    // one rule decides: prunedFiles is the only caller of the range walker,
    // and the index and the DSv2 batch hand their filters to it
    assert(count(versioned, "exprRanges(") === 1)
    val index = src("graft", "functions", "ManifestFileIndex.scala")
    assert(count(index, "prune(dataFilters)") === 1 && !index.contains("statsCols"))
    val dsv2 = src("graft", "streaming", "VersionedStreamSource.scala")
    assert(count(dsv2, "Versioned.prunedFiles(") === 1)
  }
}
