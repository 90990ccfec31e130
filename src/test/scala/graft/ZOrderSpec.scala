package graft

import graft.ops.ZOrder
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

/** Z-order layout: value math pinned by hand-computed Morton codes and a
  * BigInt replay of the exact-division trick; the layout PAYOFF measured,
  * not assumed — per-file min/max tightness on BOTH dims vs a linear sort,
  * and actual parquet row-group skipping via scan metrics under a pushed
  * single-dim predicate.
  */
class ZOrderSpec extends SparkSuite {

  test("zValue: hand-computed Morton codes, rectangle monotonicity, clamping") {
    import spark.implicits._
    val df = Seq((3L, 5L), (0L, 0L), (15L, 15L), (15L, 0L), (-2L, 99L))
      .toDF("a", "b")
    val z = df.select(ZOrder.zValue(Seq(col("a"), col("b")),
      Seq((0L, 15L), (0L, 15L)), bits = 4).as("z")).as[Long].collect()
    // ranks equal the raw values (range 15, maxRank 15 → identity map);
    // bit i of a lands at 2i, of b at 2i+1:
    // (3, 5)  = a 0011, b 0101 → z 100111 = 39
    assert(z(0) === 39L)
    assert(z(1) === 0L)
    assert(z(2) === 255L) // all 8 interleaved bits set
    assert(z(3) === 85L)  // a only → even bit positions 01010101
    // out-of-stats values clamp to the edges: (-2, 99) → (0, 15) → b-only
    assert(z(4) === 170L)
  }

  test("idiv is exact where double and decimal division misplace floors") {
    import spark.implicits._
    // the affine rank formula at boundary points: (v * maxRank) div range
    // for v sweeping a range where v*maxRank/range lands arbitrarily close
    // to integers — compare against BigInt ground truth
    val range = 999983L // prime, so quotients rarely land on integers
    val maxRank = 65535L
    val vs = (0 until 2000).map(i => (i.toLong * 499L) % (range + 1))
    val got = vs.toDF("v")
      .select(ZOrder.idiv(col("v") * maxRank, lit(range)).as("q"))
      .as[Long].collect()
    vs.zip(got).foreach { case (v, q) =>
      assert(q === (BigInt(v) * maxRank / range).toLong, s"v=$v")
    }
  }

  private def perFileSpans(path: String): (Double, Double) = {
    val byFile = spark.read.parquet(path)
      .groupBy(input_file_name())
      .agg((max(col("l_partkey")) - min(col("l_partkey"))).as("ps"),
        (max(col("l_suppkey")) - min(col("l_suppkey"))).as("ss"))
      .agg(avg(col("ps")), avg(col("ss"))).head
    (byFile.getDouble(0), byFile.getDouble(1))
  }

  private def scanRowsUnder(df: DataFrame): Long = {
    df.collect()
    df.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s.metrics("numOutputRows").value
    }.sum
  }

  test("layoutWrite clusters BOTH dims; a linear sort clusters only one") {
    val li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        col("l_linenumber"), col("l_quantity"))
    val st = li.agg(min(col("l_partkey")), max(col("l_partkey")),
      min(col("l_suppkey")), max(col("l_suppkey"))).head
    val stats = Seq((st.getLong(0), st.getLong(1)), (st.getLong(2), st.getLong(3)))
    val pSpan = (st.getLong(1) - st.getLong(0)).toDouble
    val sSpan = (st.getLong(3) - st.getLong(2)).toDouble

    val zPath = tmpDir() + "/z"
    ZOrder.layoutWrite(li, Seq(col("l_partkey"), col("l_suppkey")), stats,
      bits = 12, path = zPath, nFiles = 16, blockBytes = 64L << 10)
    val linPath = tmpDir() + "/lin"
    li.repartitionByRange(16, col("l_partkey"))
      .sortWithinPartitions(col("l_partkey"))
      .write.option("parquet.block.size", 64L << 10).parquet(linPath)

    // the layout is lossless
    assert(spark.read.parquet(zPath).count() === li.count())

    // per-file tightness: the z layout owns a compact rectangle per file —
    // BOTH dims' average per-file span is well under half the domain. The
    // linear layout is tight on its sort key but its suppkey span is the
    // whole domain (every file sees every supplier).
    val (zp, zs) = perFileSpans(zPath)
    val (lp, ls) = perFileSpans(linPath)
    assert(zp < pSpan * 0.5, s"z-layout partkey span $zp vs domain $pSpan")
    assert(zs < sSpan * 0.5, s"z-layout suppkey span $zs vs domain $sSpan")
    assert(lp < pSpan * 0.2, s"linear layout should be tight on its sort key")
    assert(ls > sSpan * 0.9, s"linear layout should NOT cluster suppkey (got $ls)")

    // row-group skipping under a pushed predicate on the NON-sort dim:
    // the z layout's row groups carry tight suppkey min/max, so the scan
    // outputs a fraction of the rows the linear layout's scan decodes.
    val zRows = scanRowsUnder(
      spark.read.parquet(zPath).filter(col("l_suppkey") === 42))
    val linRows = scanRowsUnder(
      spark.read.parquet(linPath).filter(col("l_suppkey") === 42))
    assert(zRows * 2 < linRows,
      s"z-layout scan output $zRows rows vs linear $linRows — no skipping win")
    // and on the other dim the z layout still skips most of the table
    val total = li.count()
    val zP = scanRowsUnder(
      spark.read.parquet(zPath).filter(col("l_partkey").between(100, 140)))
    assert(zP * 2 < total,
      s"z-layout partkey scan output $zP of $total — no skipping")
  }

  test("st16: append stream accumulates small files; compaction reduces AND clusters") {
    val li = sf("lineitem").select(col("l_orderkey"), col("l_partkey"),
      col("l_suppkey"), col("l_linenumber"), col("l_quantity"))
    val base = tmpDir()
    // three "micro-batch" appends, 4 shards each — the small-files shape
    (0 until 3).foreach { i =>
      li.filter(pmod(col("l_orderkey"), lit(3)) === i)
        .repartition(4).write.mode("append").parquet(s"$base/table")
    }
    def parquetFiles(p: String): Int =
      new java.io.File(p).listFiles().count(_.getName.endsWith(".parquet"))
    assert(parquetFiles(s"$base/table") >= 12)
    val acc = spark.read.parquet(s"$base/table")
    val st = acc.agg(min(col("l_partkey")), max(col("l_partkey")),
      min(col("l_suppkey")), max(col("l_suppkey"))).head
    val stats = Seq((st.getLong(0), st.getLong(1)), (st.getLong(2), st.getLong(3)))
    ZOrder.layoutWrite(acc, Seq(col("l_partkey"), col("l_suppkey")), stats,
      bits = 12, path = s"$base/compacted", nFiles = 4, blockBytes = 64L << 10)
    assert(parquetFiles(s"$base/compacted") <= 4)
    // lossless and clustered: both dims' per-file spans shrink vs the
    // append layout (which has no clustering at all). Geometry bound: 4
    // z-range files split on the top 2 interleaved bits, i.e. each file
    // owns ~half of EACH dim's domain — so expect ~0.5-0.7x after
    // range-boundary sampling slop, against 1.0x for appends.
    assert(spark.read.parquet(s"$base/compacted").count() === li.count())
    val (cp, cs) = perFileSpans(s"$base/compacted")
    val (ap, as_) = perFileSpans(s"$base/table")
    assert(cp < ap * 0.8 && cs < as_ * 0.6,
      s"compaction did not cluster: ($cp, $cs) vs append ($ap, $as_)")
  }

  test("compactZOrder lays the same rows out the same way whatever ran before") {
    import spark.implicits._
    // (stats, rows) of each file the compaction lands, in range order
    def layout(): Seq[(Seq[(Long, Long)], Long)] = {
      val r = tmpDir() + "/t"
      graft.merge.Versioned.appendWithStats((0L until 2000L)
        .map(i => (i, (i * 7919L) % 1000L)).toDF("a", "b").repartition(4), r, Seq("a"))
      val v = graft.merge.Versioned.compactZOrder(spark, r, Seq("a", "b"), nFiles = 4)
      v.files.map(f => (v.stats(f), v.nulls(f)._1)).sortBy(_._1.head)
    }
    val first = layout()
    assert(first.length === 4 && first.map(_._2).sum === 2000L)
    // Spark seeds a range partitioner's sample with the RDD id: new RDDs in
    // between must not move a split point
    (0 until 3).foreach(_ => spark.sparkContext.emptyRDD[Int])
    assert(layout() === first)
  }

  test("tx21 PMI: planted collocation outranks frequent-but-independent pair") {
    import spark.implicits._
    // "zyx qwv" always co-occur (never apart); "the cat" both frequent but
    // paired only sometimes → PMI must rank (zyx, qwv) first
    val docs = (
      (1 to 30).map(i => (i.toLong, "zyx qwv filler" + i)) ++
      (31 to 90).map(i => (i.toLong, s"the dog the bird the cat end$i")) ++
      (91 to 120).map(i => (i.toLong, s"the cat sat here$i"))
    ).toDF("doc_id", "text")
    val top = graft.text.Collocations
      .pmiCollocations(docs, "text", minCount = 3L, topK = 5)
    val first = top.head
    assert((first.getString(0), first.getString(1)) === (("zyx", "qwv")))
    // score sanity: c_ab=30, c1=c2=30 → score = 30·N·1e6/900 = N·1e6/30
    val totalTokens = docs.select(explode(split(trim(lower(col("text"))),
      "[ \\t\\n\\f\\r]+")).as("w")).filter(length(col("w")) > 0).count()
    assert(first.getLong(5) === totalTokens * 1000000L / 30L)
  }
}
