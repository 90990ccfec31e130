package graft

import graft.merge.{MergeInto, Versioned}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Every copy-on-write rewrite of a stats-tracked `Versioned` table — merge,
  * copy-on-write delete and update, purge, compact — lands range-clustered
  * on its key, with split points from the manifest: a few files of disjoint
  * key ranges, not one small file per file it touched, and no sampling job.
  */
class VersionedClusterSpec extends SparkSuite {
  import spark.implicits._

  private def root(): String = tmpDir() + "/t"

  private def shufflePartitions: Int = spark.conf.get("spark.sql.shuffle.partitions").toInt

  type Rec = (Long, Long) // (day, val)

  private def frame(rows: Seq[(Long, Long, Long)]): DataFrame =
    rows.map { case (id, d, v) => (id, d, v, s"p$v") }.toDF("id", "day", "val", "pay")

  private def rowsOf(r: String): Map[Long, Rec] =
    Versioned.read(spark, r).select("id", "day", "val").as[(Long, Long, Long)].collect()
      .map { case (id, d, v) => id -> (d, v) }.toMap

  /** The (min, max) of column `i` of each file version `n` added, by min. */
  private def addedRanges(r: String, n: Int, i: Int = 0): Seq[(Long, Long)] = {
    val v = Versioned.versionState(r, n)
    Versioned.addedRemovedPending(r, n)._1.flatMap(f => v.stats.get(f._1).map(_(i))).sortBy(_._1)
  }

  private def disjoint(rs: Seq[(Long, Long)]): Boolean =
    rs.zip(rs.drop(1)).forall { case (a, b) => a._2 < b._1 }

  /** The head's manifest entries, measured by the writes that landed its
    * files, are what a scan of those files measures.
    */
  private def statsMatchFiles(r: String): Unit = {
    val cur = Versioned.currentVersion(r).get
    val scanned = scanMeasures(r, cur, cur.files)
    cur.files.foreach { f =>
      assert(cur.stats.get(f) === scanned.get(f).map(_.ranges).filter(_.nonEmpty), f)
      assert(cur.nulls.get(f) === scanned.get(f).map(m => (m.rowCount, m.nullCounts)), f)
    }
  }

  test("table_log_dml in miniature: merges land a few disjoint files, no sampling job") {
    val r = root()
    val rnd = new scala.util.Random(11)
    var model = Map.empty[Long, Rec]
    var nextId = 0L
    def appendDay(d: Long): Unit = {
      // a local frame lands as one file per core: 4 files per day
      val rows = (0 until 200).map(k => (nextId + k, d, (nextId + k) * 7 % 1000))
      nextId += 200
      Versioned.appendWithStats(frame(rows), r, Seq("id", "day"))
      model ++= rows.map { case (id, dd, v) => id -> (dd, v) }
    }
    /** 200 random updates of days `from`..`from`+4 plus 10 inserts. */
    def mergeWindow(from: Long, salt: Long): Versioned.Version = {
      val recent = model.filter { case (_, (d, _)) => d >= from && d <= from + 4 }.keys.toSeq
      val updates = rnd.shuffle(recent.sorted).take(200).map(id => (id, model(id)._1, salt))
      val inserts = (0 until 10).map(k => (nextId + k, from + 4, salt))
      nextId += 10
      val rows = updates ++ inserts
      val v = Versioned.mergeInto(spark, r, frame(rows), Seq("id"))
      model ++= rows.map { case (id, d, x) => id -> (d, x) }
      v
    }
    (0L until 5L).foreach(appendDay)
    assert(Versioned.currentVersion(r).get.files.length === 20)

    val v1 = mergeWindow(0, 1)
    val (added1, removed1, _) = Versioned.addedRemovedPending(r, v1.n)
    assert(added1.nonEmpty && added1.length <= math.min(shufflePartitions, removed1),
      s"merge added ${added1.length} files for $removed1 removed")
    assert(disjoint(addedRanges(r, v1.n)), addedRanges(r, v1.n))
    assert(rowsOf(r) === model)

    appendDay(5)
    // the split points come from the manifest, so the write samples nothing:
    // no range-partitioning exchange, and two queries (the source aggregate
    // that plans the merge, and the write)
    var v2: Versioned.Version = null
    val plans = plansOf { v2 = mergeWindow(1, 2) }
    assert(!plans.exists(_.toString.contains("rangepartitioning")))
    val (added2, removed2, _) = Versioned.addedRemovedPending(r, v2.n)
    // unclustered, the first merge left 21 small files (one per file it
    // touched plus one spanning its whole window), and this merge removed 21
    assert(removed2 < 21, s"merge over a window shifted one day removed $removed2 files")
    assert(added2.length <= math.min(shufflePartitions, removed2))
    assert(disjoint(addedRanges(r, v2.n)), addedRanges(r, v2.n))
    assert(rowsOf(r) === model)
    assert(executionsOf(mergeWindow(1, 3)).length === 2)
    assert(rowsOf(r) === model)

    // purge, copy-on-write delete and update land at most the files they replace
    Versioned.deleteWhereDV(spark, r, col("day") === 5L && col("id") % 3 === 0L)
    model = model.filter { case (id, (d, _)) => !(d == 5L && id % 3 == 0) }
    val purged = Versioned.purgeDeletes(spark, r)
    val deleted = Versioned.deleteWhere(spark, r, col("day") === 2L)
    model = model.filter(_._2._1 != 2L)
    val updated = Versioned.updateWhere(spark, r, col("day") === 3L, Map("val" -> lit(-1L)))
    model = model.map { case (id, (d, v)) => id -> (d, if (d == 3L) -1L else v) }
    Seq(purged, deleted, updated).foreach { v =>
      val (added, removed, _) = Versioned.addedRemovedPending(r, v.n)
      assert(removed > 0 && added.length <= removed, s"${v.op}: $added for $removed")
      assert(disjoint(addedRanges(r, v.n)), s"${v.op}: ${addedRanges(r, v.n)}")
    }
    assert(rowsOf(r) === model)
    statsMatchFiles(r)

    val compacted = plansOf(Versioned.compact(spark, r, 3))
    assert(!compacted.exists(_.toString.contains("rangepartitioning")))
    assert(Versioned.currentVersion(r).get.files.length <= 3)
    assert(rowsOf(r) === model)
  }

  private def sortedRows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  /** Merge `src` on `key` into `r` and check that the rows are what the
    * merge of the same frames computes, that the stats are exact and, if
    * `clustered`, that the rewrite's files hold disjoint key ranges.
    */
  private def mergeChecked(r: String, src: DataFrame, key: String,
      clustered: Boolean = true): Versioned.Version = {
    val want = sortedRows(MergeInto.merge(Versioned.read(spark, r), src, Seq(key)))
    val v = Versioned.mergeInto(spark, r, src, Seq(key))
    assert(sortedRows(Versioned.read(spark, r)) === want)
    if (clustered) assert(disjoint(addedRanges(r, v.n)), addedRanges(r, v.n))
    statsMatchFiles(r)
    v
  }

  /** Append `df` as `slices` commits of contiguous runs of its row index `i`. */
  private def appendSlices(r: String, df: DataFrame, slices: Int, stats: Seq[String]): Unit = {
    val n = df.count()
    (0 until slices).foreach { s =>
      Versioned.appendWithStats(
        df.filter(col("i") >= s * n / slices && col("i") < (s + 1) * n / slices), r, stats)
    }
  }

  /** `keys` with their row index `i` and a payload. */
  private def indexed(keys: Seq[Long]): DataFrame =
    keys.zipWithIndex.map { case (k, i) => (k, i, s"p$k") }.toDF("k", "i", "pay")

  test("gapped keys, NULL and out-of-range keys land correct rows and exact stats") {
    val r = root()
    val gapped = (1L to 40L) :+ 1000000000000L
    appendSlices(r, indexed(gapped), 3, Seq("k"))
    val v = mergeChecked(r, Seq((5L, -5, "u"), (35L, -35, "u"), (1000000000000L, -1, "u"),
      (41L, 41, "n"), (1000000000001L, 1, "n")).toDF("k", "i", "pay"), "k")
    assert(Versioned.addedRemovedPending(r, v.n)._1.length > 1, "gapped keys still split")
    // a NULL source key never matches: it inserts, into an edge file
    mergeChecked(r, Seq[(Option[Long], Int, String)]((None, 0, "null"), (Some(7L), -7, "u"))
      .toDF("k", "i", "pay"), "k")
    // an update that moves a key past every range lands in the top file
    Versioned.updateWhere(spark, r, col("k") === 8L, Map("k" -> lit(5000000000000L)))
    assert(Versioned.read(spark, r).filter(col("k") === 5000000000000L).count() === 1)
    assert(Versioned.read(spark, r).filter(col("k").isNull).count() === 1)
    statsMatchFiles(r)
    // compaction still lands at most nFiles files that prune selectively
    val before = sortedRows(Versioned.read(spark, r))
    val c = Versioned.compact(spark, r, 3)
    assert(c.files.length <= 3)
    assert(sortedRows(Versioned.read(spark, r)) === before)
    val pruned = Versioned.readWhere(spark, r, col("k") >= 1000000000000L)
    assert(pruned.count() === 3 && pruned.inputFiles.length < c.files.length)
    statsMatchFiles(r)
  }

  test("DATE and TIMESTAMP keys cluster; a span past Long range lands unshaped") {
    def keyed(key: Column, from: Int, n: Int): DataFrame =
      spark.range(from, from + n).select(key.as("k"), col("id").cast("int").as("i"),
        concat(lit("p"), col("id").cast("string")).as("pay"))
    Seq(date_add(lit("2020-01-01").cast("date"), (col("id") * 3).cast("int")),
      timestamp_micros(col("id") * 3600000001L)).foreach { key =>
      val r = root()
      appendSlices(r, keyed(key, 0, 200), 4, Seq("k"))
      // updates across the range, inserts above it
      val src = keyed(key, 0, 200).filter(col("i") % 10 === 0).withColumn("pay", lit("u"))
        .unionByName(keyed(key, 200, 5))
      val v = mergeChecked(r, src, "k")
      assert(Versioned.addedRemovedPending(r, v.n)._1.length > 1)
    }
    // keys 0..99 plus Long.MaxValue - 1: the widest span that still fits a Long
    val wide = (0L until 100L) :+ (Long.MaxValue - 1)
    val rw = root()
    appendSlices(rw, indexed(wide), 2, Seq("k"))
    mergeChecked(rw, Seq((3L, -3, "u"), (Long.MaxValue - 1, -1, "u"), (Long.MaxValue, 0, "n"))
      .toDF("k", "i", "pay"), "k")
    // Long.MinValue + 1 .. Long.MaxValue - 1 overflows a Long: unshaped, still exact
    val huge = Seq(Long.MinValue + 1, -5L, 0L, 7L, Long.MaxValue - 1)
    val rh = root()
    appendSlices(rh, indexed(huge), 2, Seq("k"))
    mergeChecked(rh, Seq((-5L, 5, "u"), (Long.MinValue, 1, "n"), (Long.MaxValue, 2, "n"))
      .toDF("k", "i", "pay"), "k", clustered = false)
    val c = Versioned.compact(spark, rh, 2)
    assert(c.files.length <= 2)
    assert(Versioned.read(spark, rh).count() === huge.length + 2)
    statsMatchFiles(rh)
  }
}
