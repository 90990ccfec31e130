package graft

import graft.merge.{MergeInto, Versioned}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.{Files, Paths}

/** The plan of a copy-on-write merge ([[Versioned.planMerge]]): one
  * aggregate over the source picks the files the merge rewrites. Pins that
  * the plan rewrites every file holding a key the source matches, and never
  * a file the range-set plan it replaced would have left alone. That plan
  * bucketed each tracked key over the source's own envelope in a separate
  * distinct query; it is kept below, test-side, as the reference
  * ([[rangeSetPlan]]).
  */
class VersionedMergePlanSpec extends SparkSuite {
  import spark.implicits._

  private def freshRoot(): String =
    Files.createTempDirectory("graft_mplan").toString + "/t"

  /** The stats encoding of column `c`: integral as is, DATE as epoch days,
    * TIMESTAMP as epoch micros. */
  private def enc(df: DataFrame, c: String): Column = df.schema(c).dataType match {
    case DateType => unix_date(col(c)).cast("long")
    case TimestampType => unix_micros(col(c))
    case _ => col(c).cast("long")
  }

  /** The range-set plan's COVERING ranges of `source`'s key `k` inside its
    * [mn, mx] envelope: ≤4096 equal-width buckets, the populated ones merged
    * into runs, then merged across the smallest gaps down to `maxDisjuncts`.
    */
  private def keyRangeSet(source: DataFrame, k: String, mn: Long, mx: Long,
      maxDisjuncts: Int = 64): Seq[(Long, Long)] = {
    val span = BigInt(mx) - BigInt(mn)
    if (span <= 0 || span >= BigInt(Long.MaxValue)) return Seq((mn, mx))
    val w = (span / 4096 + 1).toLong
    // exact integral `div`: a double division could bucket a key off by one
    val encSql = source.schema(k).dataType match {
      case DateType => s"CAST(unix_date(`$k`) AS BIGINT)"
      case TimestampType => s"unix_micros(`$k`)"
      case _ => s"CAST(`$k` AS BIGINT)"
    }
    val ids = source.filter(col(k).isNotNull)
      .selectExpr(s"(($encSql) - (${mn}L)) div ${w}L AS b")
      .distinct().as[Long].collect().sorted
    val runs = ids.foldLeft(Vector.empty[(Long, Long)]) { case (acc, b) =>
      acc.lastOption match {
        case Some((lo, hi)) if b == hi + 1 => acc.init :+ ((lo, b))
        case _ => acc :+ ((b, b))
      }
    }
    val ranges = runs.map { case (b0, b1) =>
      (mn + b0 * w, List(BigInt(mn) + (BigInt(b1) + 1) * w - 1, BigInt(mx)).min.toLong)
    }
    if (ranges.length <= maxDisjuncts) ranges
    else {
      val splitAfter = (0 until ranges.length - 1)
        .sortBy(i => -(BigInt(ranges(i + 1)._1) - BigInt(ranges(i)._2)))
        .take(maxDisjuncts - 1).toSet
      ranges.zipWithIndex.foldLeft(Vector.empty[(Long, Long)]) { case (acc, (rg, i)) =>
        if (acc.isEmpty || splitAfter.contains(i - 1)) acc :+ rg
        else acc.init :+ ((acc.last._1, rg._2))
      }
    }
  }

  /** The files the range-set plan rewrote: none for a source without a
    * fully-keyed row, else every file whose range on each tracked key
    * overlaps one of that key's [[keyRangeSet]] ranges (files without
    * stats always). */
  private def rangeSetPlan(v: Versioned.Version, source: DataFrame,
      keys: Seq[String]): Set[String] = {
    val keyed = keys.map(col(_).isNotNull).reduce(_ && _)
    if (source.filter(keyed).isEmpty) Set.empty
    else {
      val bounds = keys.filter(v.statsCols.contains).flatMap { k =>
        val r = source.agg(min(enc(source, k)), max(enc(source, k))).head
        Option.when(!r.isNullAt(0))(
          v.statsCols.indexOf(k) -> keyRangeSet(source, k, r.getLong(0), r.getLong(1)))
      }
      v.files.filter(f => v.stats.get(f).forall(rs => bounds.forall { case (i, ranges) =>
        rs.lift(i).forall { case (mn, mx) => ranges.exists { case (lo, hi) => mx >= lo && mn <= hi } }
      })).toSet
    }
  }

  /** The files of the table at `root` holding a row whose `keys` equal a
    * source row's (NULL keys match nothing). */
  private def matchingFiles(root: String, source: DataFrame, keys: Seq[String]): Set[String] =
    Versioned.read(spark, root).withColumn("__f", input_file_name())
      .join(source.select(keys.map(col): _*).distinct(), keys)
      .select("__f").distinct().as[String].collect()
      .map(u => Paths.get(root).relativize(Paths.get(new java.net.URI(u).getPath)).toString)
      .toSet

  private def covered(ranges: Seq[(Long, Long)], v: Long): Boolean =
    ranges.exists { case (lo, hi) => v >= lo && v <= hi }

  /** A table over long keys 1..9600 in 16 range-clustered files. */
  private def longTable(): (String, Versioned.Version) = {
    val root = freshRoot()
    Versioned.appendWithStats((1L to 9600L).map(k => (k, s"v$k")).toDF("k", "v")
      .repartitionByRange(16, col("k")), root, "k")
    (root, Versioned.currentVersion(root).get)
  }

  test("merge plan covers every source key a file holds, splits distant windows, and rewrites only matching files") {
    val (root, v) = longTable()
    // two distant windows: 1..10 and 9001..9010
    val keys = (1L to 10L) ++ (9001L to 9010L)
    val plan = Versioned.planMerge(v, keys.map(k => (k, "x")).toDF("k", "v"), Seq("k"))
    val rs = plan.bounds("k")
    assert(rs.length === 2, s"two windows must yield two ranges, got $rs")
    assert(rs(0)._1 <= 1L && rs(0)._2 >= 10L && rs(0)._2 < 9001L)
    assert(rs(1)._1 <= 9001L && rs(1)._1 > 10L && rs(1)._2 >= 9010L)
    keys.foreach(k => assert(covered(rs, k), s"key $k uncovered"))
    assert(plan.affected.toSet === matchingFiles(root, keys.toDF("k"), Seq("k")))
    assert(plan.envelope === Some((1L, 9010L, 20L)))
    // a single point: its range holds it, and only its file is affected
    val one = Versioned.planMerge(v, Seq((42L, "x")).toDF("k", "v"), Seq("k"))
    assert(one.bounds("k").length === 1 && covered(one.bounds("k"), 42L))
    assert(one.affected.toSet === matchingFiles(root, Seq(42L).toDF("k"), Seq("k")))
    assert(one.affected.length === 1)
    // 100 scattered singleton windows: every key covered, no file beyond
    // the ones holding a key
    val scattered = (1L to 100L).map(_ * 96L)
    val sc = Versioned.planMerge(v, scattered.map(k => (k, "x")).toDF("k", "v"), Seq("k"))
    scattered.foreach(k => assert(covered(sc.bounds("k"), k), s"key $k uncovered"))
    assert(sc.affected.toSet === matchingFiles(root, scattered.toDF("k"), Seq("k")))
    // keys outside every file populate no range and affect no file
    val out = Versioned.planMerge(v, Seq((0L, "x"), (20000L, "y")).toDF("k", "v"), Seq("k"))
    assert(out.bounds("k").isEmpty && out.affected.isEmpty && out.rows === 2L)
    // DATE keys, encoded as epoch days: two month-windows split
    val droot = freshRoot()
    val day0 = java.time.LocalDate.of(2024, 1, 1)
    Versioned.appendWithStats((0 until 366).map(i => (java.sql.Date.valueOf(day0.plusDays(i.toLong)),
      i)).toDF("dt", "n").repartitionByRange(12, col("dt")), droot, "dt")
    val dv = Versioned.currentVersion(droot).get
    val d = (0 until 10).map(i => java.sql.Date.valueOf(day0.plusDays(i.toLong))) ++
      (0 until 10).map(i => java.sql.Date.valueOf(java.time.LocalDate.of(2024, 12, 1)
        .plusDays(i.toLong)))
    val dplan = Versioned.planMerge(dv, d.map(x => (x, -1)).toDF("dt", "n"), Seq("dt"))
    assert(dplan.bounds("dt").length === 2, dplan.bounds)
    d.foreach(x => assert(covered(dplan.bounds("dt"), x.toLocalDate.toEpochDay)))
    assert(dplan.affected.toSet === matchingFiles(droot, d.toDF("dt"), Seq("dt")))
  }

  test("a merge runs two queries: the source aggregate and the rewrite") {
    val (root, _) = longTable()
    val src = ((1L to 10L) ++ (9001L to 9010L) ++ (1L to 5L)).map(k => (k, s"x$k"))
      .toDF("k", "v")
    val ex = executionsOf(Versioned.mergeInto(spark, root, src, Seq("k")))
    assert(ex.length === 2, s"the plan's aggregate and the rewrite only, got $ex")
    assert(ex.forall(!_.startsWith("job-")), s"a job ran outside any SQL execution: $ex")
    val got = Versioned.read(spark, root).as[(Long, String)].collect().toMap
    assert(got.size === 9600 && got(3L) === "x3" && got(9005L) === "x9005" && got(500L) === "v500")
  }

  /** A seeded table keyed by `kind` (INT, DATE, TIMESTAMP, or the composite
    * INT + DATE key), built from long draws `kl`: 2000 rows range-clustered
    * into 8 files, then 40 rows appended across the domain in 2 files whose
    * ranges overlap the first 8. */
  private def typed(df: DataFrame, kind: String): DataFrame = {
    val day = date_add(lit("2020-01-01").cast("date"), (col("kl") / 10).cast("int"))
    val keyCols = kind match {
      case "int" => Seq(col("kl").cast("int").as("k"))
      case "date" => Seq(date_add(lit("2000-01-01").cast("date"), col("kl").cast("int")).as("k"))
      case "timestamp" => Seq(timestamp_micros(lit(1600000000000000L) + col("kl") * 3600000000L)
        .as("k"))
      case "composite" => Seq(col("kl").cast("int").as("k"), day.as("d"))
    }
    df.select(keyCols ++ Seq(col("seq"), col("v")): _*)
  }

  private def keysOf(kind: String): Seq[String] = if (kind == "composite") Seq("k", "d") else Seq("k")

  test("seeded merge plans: inside the range-set plan, over every matching file, same rows") {
    for (kind <- Seq("int", "date", "timestamp", "composite"); seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed * 31L + kind.length)
      val keys = keysOf(kind)
      val root = freshRoot()
      val base = Seq.fill(2000)(1000L + rnd.nextInt(8000)).distinct.zipWithIndex
        .map { case (kl, i) => (Option(kl), i.toLong, s"t$i") }
      val extra = Seq.fill(40)(1000L + rnd.nextInt(8000)).zipWithIndex
        .map { case (kl, i) => (Option(kl), 10000L + i, s"e$i") }
      Versioned.appendWithStats(typed(base.toDF("kl", "seq", "v")
        .repartitionByRange(8, col("kl")), kind), root, keys)
      Versioned.appendWithStats(typed(extra.toDF("kl", "seq", "v").repartition(2), kind),
        root, keys)
      val v = Versioned.currentVersion(root).get
      assert(v.files.length === 10)
      // two distant windows, duplicate keys, NULL keys, keys below and
      // above the table's range
      val winA = Seq.fill(8)(2000L + rnd.nextInt(100))
      val winB = Seq.fill(8)(8000L + rnd.nextInt(100))
      val draws: Seq[Option[Long]] = (winA ++ winB ++ winA.take(3)).map(Option(_)) ++
        Seq(None, None) ++ Seq(rnd.nextInt(500).toLong, 9500L + rnd.nextInt(500)).map(Option(_))
      val source = typed(draws.zipWithIndex.map { case (kl, i) => (kl, 100000L + i, s"s$i") }
        .toDF("kl", "seq", "v"), kind)
      val plan = Versioned.planMerge(v, source, keys)
      val old = rangeSetPlan(v, source, keys)
      val matching = matchingFiles(root, source, keys)
      val ctx = s"$kind seed $seed"
      assert(plan.affected.toSet.subsetOf(old),
        s"$ctx: ${(plan.affected.toSet -- old).size} file(s) beyond the range-set plan")
      assert(matching.nonEmpty && matching.subsetOf(plan.affected.toSet),
        s"$ctx: matching file(s) ${matching -- plan.affected} left out")
      assert(plan.trackedKeys === keys && plan.rows === draws.length.toLong, ctx)
      if (seed == 1) {
        val expected = MergeInto.merge(Versioned.read(spark, root), source, keys, Some("seq"))
          .collect().toSeq.map(_.toString).sorted
        Versioned.mergeInto(spark, root, source, keys, Some("seq"))
        assert(Versioned.read(spark, root).collect().toSeq.map(_.toString).sorted === expected,
          ctx)
      }
    }
  }

  test("a source whose rows all lack a key affects no file") {
    val (root, v) = longTable()
    val src = Seq[(Option[Long], String)]((None, "a"), (None, "b")).toDF("k", "v")
    val plan = Versioned.planMerge(v, src, Seq("k"))
    assert(plan.affected.isEmpty && plan.rows === 2L && plan.envelope.isEmpty)
    assert(rangeSetPlan(v, src, Seq("k")).isEmpty)
  }
}
