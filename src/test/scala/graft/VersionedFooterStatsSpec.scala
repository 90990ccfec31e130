package graft

import graft.merge.Versioned
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.Paths

/** A stats-tracked commit takes its file stats from the parquet footers it
  * just wrote, and scans its landed files only when a footer cannot answer:
  * the two sources must agree entry for entry, and the scan must still run
  * (and still refuse violations) where it is needed.
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
      concat(lit("p"), col("id").cast("string")).as("pay"))

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

  /** The footers answer for `fs`, their measures equal the scan's, and the
    * committed manifest holds exactly those entries.
    */
  private def agree(r: String, fs: Seq[(String, Long)]): Map[String, Versioned.Measured] = {
    val cur = Versioned.currentVersion(r).get
    val scanned = Versioned.scanMeasures(spark, r, fs, cur.schema.get, cur.statsCols, Nil, cur.colMap)
    val footers = Versioned.footerMeasures(spark, r, fs, cur.statsCols, cur.colMap)
    assert(footers.contains(scanned), s"footers $footers vs scan $scanned")
    Versioned.fileEntries(fs, scanned).foreach { e =>
      assert(cur.stats.get(e.path) === Some(e.ranges).filter(_.nonEmpty), e.path)
      assert(cur.nulls.get(e.path) ===
        Some((e.rowCount, e.nullCounts)).filter(_._1 >= 0), e.path)
    }
    scanned
  }

  test("footer stats equal the scan's: types, NULLs, all-NULL and empty files, row groups, renames") {
    withSQLConf("spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS") {
      val r = root()
      // v1: three files of every stats type, NULLs in every column
      val v1 = Versioned.appendWithStats(typed(300).repartition(3), r, statsCols)
      val m1 = agree(r, files(v1))
      assert(m1.size === 3 && m1.values.forall(m => m.ranges.length == 6 &&
        m.nullCounts.forall(_ > 0) && m.nullCounts.forall(_ < m.rowCount)))
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
      // v4: one file of many row groups: chunk stats fold across them
      Versioned.appendWithStats(typed(20000, 5000).coalesce(1), r, statsCols,
        options = Map("parquet.block.size" -> "8192"))
      val f4 = filesOf(r, 4)
      assert(f4.length === 1 && rowGroups(r, f4.head._1) > 1)
      val m4 = agree(r, f4).values.head
      assert(m4.rowCount === 20000L && m4.ranges(2) === ((5001 * 1000 - 77).toLong,
        (24999 * 1000 - 77).toLong))
      // v5: a renamed stats column lands under its physical name
      Versioned.evolveRename(r, "l", "l2")
      Versioned.appendWithStats(typed(40, 30000).withColumnRenamed("l", "l2").coalesce(1), r,
        statsCols.map(c => if (c == "l") "l2" else c))
      assert(Versioned.currentVersion(r).get.colMap === Map("l2" -> "l"))
      assert(agree(r, filesOf(r, 6)).size === 1)
      // pruning over the recorded stats reads what a full scan filters
      val all = Versioned.read(spark, r)
      Seq(col("i") <= 10000, col("l2") > 2000000000000L, col("d") === lit("2000-02-01")
        .cast("date"), col("b").isNull).foreach { p =>
        assert(Versioned.readWhere(spark, r, p).count() === all.filter(p).count(), p.toString)
      }
    }
  }

  test("an unconstrained stats append launches no Spark job after its write") {
    val r = root()
    Versioned.appendWithStats(typed(100).repartition(2), r, Seq("i", "l"))
    // one action: the write; the stats come from its footers
    assert(executionsOf(
      Versioned.appendWithStats(typed(100, 100).repartition(2), r, Seq("i", "l"))).length === 1)
    // so do the other stats-recording commits
    assert(executionsOf(Versioned.compact(spark, r, 2)).length === 1)
  }

  test("INT96 timestamps, CHECK constraints and bloom columns still run the scan") {
    // Spark's default timestamp encoding keeps no usable footer statistics
    withSQLConf("spark.sql.parquet.outputTimestampType" -> "INT96") {
      val r = root()
      val ex = executionsOf(Versioned.appendWithStats(typed(100).repartition(2), r, Seq("i", "t")))
      assert(ex.length > 1, "the write, then the stats scan")
      val cur = Versioned.currentVersion(r).get
      val fs = files(cur)
      assert(Versioned.footerMeasures(spark, r, fs, cur.statsCols).isEmpty)
      val scanned = Versioned.scanMeasures(spark, r, fs, cur.schema.get, cur.statsCols, Nil)
      assert(fs.forall { case (f, _) => cur.stats.get(f).contains(scanned(f).ranges) })
    }
    // a CHECK constraint is verified in the scan; a violation commits nothing
    val r = root()
    Versioned.appendWithStats(typed(100), r, Seq("i", "l"))
    Versioned.addConstraint(spark, r, "i_floor", "i > -100")
    assert(executionsOf(Versioned.appendWithStats(typed(100, 100), r, Seq("i", "l")))
      .length > 1)
    val before = Versioned.versions(r)
    val e = intercept[IllegalArgumentException] {
      Versioned.appendWithStats(typed(10).withColumn("i", lit(-500)), r, Seq("i", "l"))
    }
    assert(e.getMessage.contains("i_floor"))
    assert(Versioned.versions(r) === before, "no manifest written")
    // bloom bits are built in the scan
    val rb = root()
    assert(executionsOf(Versioned.appendWithStats(typed(100).repartition(2), rb, Seq("i"),
      bloomCols = Seq("pay"))).length > 1)
    val vb = Versioned.currentVersion(rb).get
    assert(vb.files.forall(f => vb.blooms.contains((f, "pay"))))
    assert(Versioned.readWhere(spark, rb, col("pay") === "p42").count() === 1)
  }
}
