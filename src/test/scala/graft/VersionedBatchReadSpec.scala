package graft

import graft.merge.Versioned
import org.apache.spark.sql.functions._

/** VT28: the versioned table as a DSv2 BATCH source —
  * `spark.read.format("graft-versioned")` with Delta's reader options
  * (versionAsOf / timestampAsOf), planning-time manifest-stats pruning of
  * pushed filters, column pruning into the parquet reader, and
  * deletion-vector victims dropped executor-side (sorted-merge, no joins).
  */
class VersionedBatchReadSpec extends SparkSuite {

  private val fmt = classOf[graft.streaming.VersionedStreamSource].getName

  private def mk(root: String): Unit = {
    import spark.implicits._
    Versioned.appendWithStats(
      (1L to 100L).map(k => (k, k * 10.0, s"r$k")).toDF("k", "price", "tag")
        .repartitionByRange(4, col("k")), root, "k")
  }

  private def scanPartitions(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.partitions.length
    }.sum

  test("batch load serves the head snapshot; rows equal the explicit read") {
    import spark.implicits._
    val root = tmpDir() + "/t"
    mk(root)
    val df = spark.read.format(fmt).option("path", root).load()
    assert(df.schema.fieldNames.toSeq === Seq("k", "price", "tag"))
    assert(df.select("k").as[Long].collect().sorted === (1L to 100L).toArray)
  }

  test("versionAsOf / timestampAsOf pin a snapshot") {
    import spark.implicits._
    val root = tmpDir() + "/t"
    mk(root)
    val ts1 = Versioned.currentVersion(root).get.ts
    Versioned.append(Seq((101L, 1.0, "x")).toDF("k", "price", "tag"), root)
    assert(spark.read.format(fmt).option("path", root).load().count() === 101L)
    assert(spark.read.format(fmt).option("path", root)
      .option("versionAsOf", "1").load().count() === 100L)
    assert(spark.read.format(fmt).option("path", root)
      .option("timestampAsOf", ts1.toString).load().count() === 100L)
    intercept[Exception] {
      spark.read.format(fmt).option("path", root)
        .option("timestampAsOf", (ts1 - 1000000).toString).load()
    }
  }

  test("pushed filters prune files at planning time; every filter still decides rows") {
    import spark.implicits._
    val root = tmpDir() + "/t"
    mk(root)
    val df = spark.read.format(fmt).option("path", root).load()
    val q = df.filter(col("k").between(5L, 8L))
    assert(q.select("k").as[Long].collect().sorted === (5L to 8L).toArray)
    assert(scanPartitions(q) === 1, "one of 4 range-clustered files planned")
    // an OR of two windows plans both end files, not the middle
    val q2 = df.filter(col("k") <= 5L || col("k") >= 95L)
    assert(q2.count() === 11L)
    assert(scanPartitions(q2) === 2)
    // unpushable predicates read conservatively, never wrongly
    val q3 = df.filter(col("tag") === "r42")
    assert(q3.count() === 1L)
  }

  test("pushed EqualTo on a bloom-tracked column prunes at planning time (vt26 composes)") {
    import spark.implicits._
    val root = tmpDir() + "/t"
    // key-unsorted layout: range stats overlap every file, only blooms prune
    Versioned.appendWithStats(
      (1L to 2000L).map(k => (k, k % 7)).toDF("k", "grp")
        .repartitionByRange(8, col("grp")), root,
      Seq("k"), bloomCols = Seq("k"))
    val df = spark.read.format(fmt).option("path", root).load()
    val total = Versioned.currentVersion(root).get.files.length
    // an ABSENT key: the bloom proves most files cannot hold it
    val q = df.filter(col("k") === 999999L)
    assert(q.count() === 0L)
    assert(scanPartitions(q) < total,
      s"bloom must prune the absent-key probe (${scanPartitions(q)}/$total)")
    // a PRESENT key still found (blooms only skip, never admit)
    assert(df.filter(col("k") === 1234L).count() === 1L)
    // an EqualTo inside an OR must NOT bloom-prune globally
    val qOr = df.filter(col("k") === 999999L || col("grp") === 3L)
    assert(qOr.count() === (1L to 2000L).count(_ % 7 == 3))
  }

  test("null-count stats prune IS NULL / IS NOT NULL at planning time (vt31)") {
    import spark.implicits._
    val root = tmpDir() + "/t"
    // 3 files: k-dense, k-sparse (half null), k-empty (all null)
    val dense = (1L to 50L).map(k => (Some(k), "d"))
    val sparse = (51L to 100L).map(k => (if (k % 2 == 0) Some(k) else None, "s"))
    val empty = (1L to 50L).map(_ => (None: Option[Long], "e"))
    Seq(dense, sparse, empty).foreach { part =>
      Versioned.appendWithStats(part.toDF("k", "src").coalesce(1), root, "k")
    }
    val df = spark.read.format(fmt).option("path", root).load()
    // IS NULL: the dense file provably has none — 2 of 3 planned
    val qNull = df.filter(col("k").isNull)
    assert(qNull.count() === 25L + 50L)
    assert(scanPartitions(qNull) === 2, s"got ${scanPartitions(qNull)}")
    // IS NOT NULL: the all-null file provably has none — 2 of 3 planned
    val qNotNull = df.filter(col("k").isNotNull)
    assert(qNotNull.count() === 50L + 25L)
    assert(scanPartitions(qNotNull) === 2)
    // an ordinary strict filter auto-generates IsNotNull: the all-null
    // file skips even though its RANGE stats are absent (conservative)
    val qRange = df.filter(col("k") > 0L)
    assert(qRange.count() === 75L)
    assert(scanPartitions(qRange) === 2)
    // the library read prunes identically (the same rule)
    val hand = Versioned.readWhere(spark, root, col("k").isNull)
    assert(hand.count() === 75L)
    assert(hand.inputFiles.length === 2, s"got ${hand.inputFiles.length}")
    assert(Versioned.readWhere(spark, root,
      col("k").isNotNull && col("k") > 0L).inputFiles.length === 2)
    // a null test inside an OR must NOT prune globally
    assert(Versioned.readWhere(spark, root,
      col("k").isNull || col("k") === 1L).count() === 76L)
  }

  test("column pruning narrows the scan schema") {
    import spark.implicits._
    val root = tmpDir() + "/t"
    mk(root)
    val df = spark.read.format(fmt).option("path", root).load().select("k")
    assert(df.as[Long].collect().sorted === (1L to 100L).toArray)
    val scanCols = df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.output.map(_.name)
    }.flatten
    assert(scanCols === Seq("k"), s"scan must read only k, got $scanCols")
  }

  test("deletion vectors apply executor-side: victims dropped, survivors intact") {
    import spark.implicits._
    val root = tmpDir() + "/t"
    mk(root)
    Versioned.deleteWhereDV(spark, root, col("k") % 10 === 0L)
    Versioned.updateWhereDV(spark, root, col("k") === 7L, Map("tag" -> lit("U")))
    val df = spark.read.format(fmt).option("path", root).load()
    assert(df.select("k").as[Long].collect().sorted
      === (1L to 100L).filterNot(_ % 10 == 0).toArray)
    assert(df.filter(col("k") === 7L).select("tag").as[String].head() === "U")
    // time travel BEFORE the deletes serves the full snapshot
    assert(spark.read.format(fmt).option("path", root)
      .option("versionAsOf", "1").load().count() === 100L)
  }

  test("an empty head (full-table delete) serves a typed empty frame, not an error") {
    import spark.implicits._
    val root = tmpDir() + "/t"
    mk(root)
    Versioned.deleteWhere(spark, root, lit(true))
    val df = spark.read.format(fmt).option("path", root).load()
    assert(df.schema.fieldNames.toSeq === Seq("k", "price", "tag"))
    assert(df.count() === 0L)
    // SQL over the catalog agrees
    assert(spark.sql(s"SELECT count(*) FROM graft.`$root`").as[Long].head() === 0L)
    assert(spark.sql(s"SELECT count(*) FROM graft.`$root` VERSION AS OF 1")
      .as[Long].head() === 100L)
  }

  test("batch read composes with column mapping (post-rename files read logically)") {
    import spark.implicits._
    val root = tmpDir() + "/t"
    mk(root)
    Versioned.evolveRename(root, "price", "amount")
    Versioned.append(Seq((101L, 42.0, "new")).toDF("k", "amount", "tag"), root)
    val df = spark.read.format(fmt).option("path", root).load()
    assert(df.schema.fieldNames.contains("amount"))
    assert(df.filter(col("k") === 101L).select("amount").as[Double].head() === 42.0)
    assert(df.filter(col("k") === 1L).select("amount").as[Double].head() === 10.0)
  }

  test("DSv2 write: append keeps stats/bloom maintenance and every log guard; overwrite evolves") {
    import spark.implicits._
    val root = tmpDir() + "/t"
    mk(root)
    Versioned.addConstraint(spark, root, "price_pos", "price > 0")
    // mode("append") routes through appendWithStats: the new file gets
    // skipping stats, so later pruned reads stay selective
    Seq((101L, 1010.0, "w")).toDF("k", "price", "tag")
      .write.format(fmt).mode("append").save(root)
    val v = Versioned.currentVersion(root).get
    assert(v.files.forall(f => v.stats.contains(f)),
      "a DSv2 append must not leave a stats-less file on a stats-tracked table")
    assert(Versioned.read(spark, root).count() === 101L)
    // the log's guards ride along: a constraint violation refuses the write
    intercept[Exception] {
      Seq((102L, -5.0, "bad")).toDF("k", "price", "tag")
        .write.format(fmt).mode("append").save(root)
    }
    assert(Versioned.read(spark, root).count() === 101L)
    // schema drift refuses too (append must match the contract)
    intercept[Exception] {
      Seq((103L, "oops")).toDF("k", "tag")
        .write.format(fmt).mode("append").save(root)
    }
    // overwrite replaces the state through the log (contract held by
    // Spark's by-name resolution) — old versions intact
    Seq((1L, 9.0, "ow")).toDF("k", "price", "tag")
      .write.format(fmt).mode("overwrite").save(root)
    assert(Versioned.read(spark, root).count() === 1L)
    // v1 = mk, v2 = addConstraint (metadata-only), v3 = the DSv2 append
    assert(Versioned.read(spark, root, asOf = Some(3)).count() === 101L)
  }

  test("snapshot semantics: each action reads one manifest-consistent version; versionAsOf pins across actions") {
    import spark.implicits._
    val root = tmpDir() + "/t"
    mk(root)
    // an un-pinned frame re-resolves the HEAD per action (Delta's DataFrame
    // behavior too — cross-action pinning is versionAsOf's job)
    val head = spark.read.format(fmt).option("path", root).load()
    assert(head.count() === 100L)
    Versioned.append(Seq((999L, 0.0, "late")).toDF("k", "price", "tag"), root)
    assert(head.count() === 101L)
    // a versionAsOf frame never moves, however many commits land after it
    val pinned = spark.read.format(fmt).option("path", root)
      .option("versionAsOf", "1").load()
    assert(pinned.count() === 100L)
    Versioned.append(Seq((1000L, 0.0, "later")).toDF("k", "price", "tag"), root)
    assert(pinned.count() === 100L)
    assert(pinned.filter(col("k") >= 999L).count() === 0L)
  }
}
