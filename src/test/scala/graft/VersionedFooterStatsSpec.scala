package graft

import graft.merge.Versioned
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** A stats-tracked commit takes its file stats and bloom bits, and its
  * CHECK violation counts, from the write that landed its files: the
  * entries must equal a reference scan of those files ([[scanMeasures]])
  * entry for entry, no Spark job may run after the write, and violations
  * must still refuse the commit. `Versioned.scala` lands every data file
  * through one `FileFormatWriter.write` and measures it nowhere else.
  */
class VersionedFooterStatsSpec extends SparkSuite {

  private def root(): String = tmpDir() + "/t"

  private val statsCols = Seq("b", "s", "i", "l", "d", "t")

  /** `n` rows of every stats-able type, each column NULL on its own stride. */
  private def typed(n: Int, from: Int = 0): DataFrame =
    spark.range(from, from + n).select(
      when(col("id") % 7 =!= 0, (col("id") % 100 - 50).cast("byte")).as("b"),
      when(col("id") % 5 =!= 1, (col("id") % 10000 * 3 - 600).cast("short")).as("s"),
      when(col("id") % 3 =!= 2, (col("id") * 1000 - 77).cast("int")).as("i"),
      when(col("id") % 4 =!= 3, col("id") * 1000000007L - 5L).as("l"),
      when(col("id") % 6 =!= 4, date_add(lit("1999-12-25").cast("date"),
        col("id").cast("int"))).as("d"),
      when(col("id") % 9 =!= 5, timestamp_micros(col("id") * 3600000001L - 17L)).as("t"),
      when(col("id") % 8 =!= 6, concat(lit("p"), col("id").cast("string"))).as("pay"))

  private def files(v: Versioned.Version): Seq[(String, Long)] =
    v.files.map(f => f -> v.sizes.getOrElse(f, -1L))

  private def filesOf(r: String, n: Int): Seq[(String, Long)] = {
    val cur = Versioned.currentVersion(r).get
    files(cur).filter(_._1.startsWith(s"data/c$n-"))
  }

  private def rowGroups(r: String, f: String): Int = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(Paths.get(r).resolve(f).toUri),
      spark.sparkContext.hadoopConfiguration)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try reader.getFooter.getBlocks.size finally reader.close()
  }

  /** The committed manifest's entries for `fs`, measured by their write,
    * are exactly what a scan of those files measures, bloom bits included.
    */
  private def agree(r: String, fs: Seq[(String, Long)]): Map[String, Versioned.Measured] = {
    val cur = Versioned.currentVersion(r).get
    val scanned = scanMeasures(r, cur, fs.map(_._1))
    fs.foreach { case (f, _) =>
      val m = scanned.get(f)
      assert(cur.stats.get(f) === m.map(_.ranges).filter(_.nonEmpty), f)
      assert(cur.nulls.get(f) === m.map(m => (m.rowCount, m.nullCounts)), f)
      cur.bloomCols.foreach(c =>
        assert(cur.blooms.get((f, c)) === m.map(_.blooms.toMap.apply(c)), s"$f $c"))
    }
    scanned
  }

  test("write-time stats equal the scan's: NULLs, empty files, renames") {
    // every stats type, in both of Spark's timestamp encodings
    Seq("TIMESTAMP_MICROS", "INT96").foreach { tsType =>
      withSQLConf("spark.sql.parquet.outputTimestampType" -> tsType) {
        val r = root()
        // v1: three files of every stats type, NULLs in every column, and
        // bloom columns of type long, string and date
        val v1 = Versioned.appendWithStats(typed(300).repartition(3), r, statsCols,
          bloomCols = Seq("l", "pay", "d"))
        val m1 = agree(r, files(v1))
        assert(m1.size === 3 && m1.values.forall(m => m.ranges.length == 6 &&
          m.nullCounts.forall(_ > 0) && m.nullCounts.forall(_ < m.rowCount)))
        assert(v1.blooms.size === 9 && v1.blooms.values.forall(_.exists(_ != 0L)))
        // v2: one file whose `l` is all NULL — counts, but no ranges
        Versioned.appendWithStats(typed(50, 1000).withColumn("l", lit(null).cast("long"))
          .coalesce(1), r, statsCols)
        val m2 = agree(r, filesOf(r, 2))
        assert(m2.values.toSeq.map(m => (m.ranges, m.rowCount, m.nullCounts(3))) ===
          Seq((Nil, 50L, 50L)))
        // v3: an empty commit still lands one empty part file: a stats-less entry
        Versioned.appendWithStats(typed(10).filter(lit(false)), r, statsCols)
        val f3 = filesOf(r, 3)
        assert(f3.length === 1 && rowGroups(r, f3.head._1) === 0)
        assert(agree(r, f3).isEmpty)
        assert(Versioned.currentVersion(r).get.nulls.get(f3.head._1).isEmpty)
        // v4: one file of many row groups: its stats span them all
        Versioned.appendWithStats(typed(20000, 5000).coalesce(1), r, statsCols,
          options = Map("parquet.block.size" -> "8192"))
        val f4 = filesOf(r, 4)
        assert(f4.length === 1 && rowGroups(r, f4.head._1) > 1)
        val m4 = agree(r, f4).values.head
        assert(m4.rowCount === 20000L && m4.ranges(2) === ((5001 * 1000 - 77).toLong,
          (24999 * 1000 - 77).toLong))
        // v5: a renamed stats and bloom column lands under its physical name
        Versioned.evolveRename(r, "l", "l2")
        val renamed = statsCols.map(c => if (c == "l") "l2" else c)
        Versioned.appendWithStats(typed(40, 30000).withColumnRenamed("l", "l2").coalesce(1), r,
          renamed)
        assert(Versioned.currentVersion(r).get.colMap === Map("l2" -> "l"))
        assert(Versioned.currentVersion(r).get.bloomCols === Seq("l2", "pay", "d"))
        assert(agree(r, filesOf(r, 6)).size === 1)
        // v8: the renamed column under a CHECK constraint, checked by the write
        Versioned.addConstraint(spark, r, "l2_floor", "l2 > -10")
        Versioned.appendWithStats(typed(40, 40000).withColumnRenamed("l", "l2").coalesce(1), r,
          renamed)
        assert(agree(r, filesOf(r, 8)).size === 1)
        val refused = intercept[IllegalArgumentException] {
          Versioned.appendWithStats(typed(40, 50000).withColumnRenamed("l", "l2")
            .withColumn("l2", lit(-20L)).coalesce(1), r, renamed)
        }
        assert(refused.getMessage.contains("`l2_floor` (l2 > -10): 40 row(s)"))
        // pruning over the recorded stats reads what a full scan filters
        val all = Versioned.read(spark, r)
        Seq(col("i") <= 10000, col("l2") > 2000000000000L, col("d") === lit("2000-02-01")
          .cast("date"), col("b").isNull).foreach { p =>
          assert(Versioned.readWhere(spark, r, p).count() === all.filter(p).count(), p.toString)
        }
      }
    }
  }

  test("an unconstrained stats append launches no Spark job after its write") {
    val r = root()
    Versioned.appendWithStats(typed(100).repartition(2), r, Seq("i", "l"))
    // one action: the write, whose tasks measure the stats
    assert(executionsOf(
      Versioned.appendWithStats(typed(100, 100).repartition(2), r, Seq("i", "l"))).length === 1)
    // so do the other stats-recording commits
    assert(executionsOf(Versioned.compact(spark, r, 2)).length === 1)
  }

  test("INT96 stats, CHECK constraints and blooms need no post-write scan") {
    // Spark's default timestamp encoding keeps no usable footer statistics,
    // but the write measures the values, not the footers
    withSQLConf("spark.sql.parquet.outputTimestampType" -> "INT96") {
      val r = root()
      val ex = executionsOf(Versioned.appendWithStats(typed(100).repartition(2), r, Seq("i", "t")))
      assert(ex.length === 1, "the write alone")
      val cur = Versioned.currentVersion(r).get
      val scanned = scanMeasures(r, cur, cur.files)
      assert(cur.files.forall(f => cur.stats.get(f).contains(scanned(f).ranges)))
    }
    // a CHECK constraint is counted by the write; a violation commits nothing
    val r = root()
    Versioned.appendWithStats(typed(100), r, Seq("i", "l"))
    Versioned.addConstraint(spark, r, "i_floor", "i > -100")
    assert(executionsOf(Versioned.appendWithStats(typed(100, 100), r, Seq("i", "l")))
      .length === 1)
    val before = Versioned.versions(r)
    val e = intercept[IllegalArgumentException] {
      Versioned.appendWithStats(typed(10).withColumn("i", lit(-500)), r, Seq("i", "l"))
    }
    assert(e.getMessage === s"requirement failed: commit to $r violates CHECK " +
      "constraint(s) — refused, no metadata written: `i_floor` (i > -100): 10 row(s)")
    assert(Versioned.versions(r) === before, "no manifest written")
    // bloom bits are folded by the write; so are a constrained bloom table's
    // update and compaction
    val rb = root()
    assert(executionsOf(Versioned.appendWithStats(typed(100).repartition(2), rb, Seq("i"),
      bloomCols = Seq("pay"))).length === 1)
    val vb = Versioned.currentVersion(rb).get
    assert(vb.files.forall(f => vb.blooms.contains((f, "pay"))))
    assert(Versioned.readWhere(spark, rb, col("pay") === "p42").count() === 1)
    Versioned.addConstraint(spark, rb, "i_floor", "i > -100")
    assert(executionsOf(Versioned.updateWhere(spark, rb, col("i") < 5000,
      Map("pay" -> lit("upd")))).length === 1)
    assert(executionsOf(Versioned.compact(spark, rb, 2)).length === 1)
    val vc = Versioned.currentVersion(rb).get
    assert(vc.files.forall(f => vc.blooms.contains((f, "pay"))))
    assert(Versioned.readEquals(spark, rb, "pay", "upd").count() === 4)
  }

  test("Versioned.scala writes only through its one FileFormatWriter.write") {
    val src = new String(Files.readAllBytes(Paths.get(sys.props("user.dir"),
      "src", "main", "scala", "graft", "merge", "Versioned.scala")), "UTF-8")
    def count(token: String): Int = src.sliding(token.length).count(_ == token)
    assert(count("FileFormatWriter.write(") === 1)
    Seq(".write.", "listParquet", "footerMeasure", "input_file_name", "scanMeasures",
      "statsValidationFrame", "constraintViolationCounts").foreach(t =>
      assert(count(t) === 0, t))
    // one bloom-position definition, shared by the write and the probe
    assert(count("XxHash64(") === 1 && count("xxhash64(") === 0)
  }
}
