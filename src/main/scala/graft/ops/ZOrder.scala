package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multi-dimensional data layout via Z-order (Morton) clustering — the
  * file-layout operator a 100 TB lakehouse runs so that selective filters on
  * ANY of several dimensions skip most of the data, not just filters on the
  * single sort key. A linear sort on `(a, b)` clusters `a` perfectly and `b`
  * not at all: every file's `b` min/max spans the whole domain and a `b`
  * predicate reads everything. Interleaving the bits of both dimensions
  * (Morton order) gives every file a compact rectangle in `(a, b)` space, so
  * per-file/per-row-group min-max stats prune on either dimension. This is
  * the layout behind Delta/Iceberg `OPTIMIZE ZORDER BY` — reimplemented here
  * as a plain Column combinator + range-partitioned parquet write, with the
  * pruning measured (ZOrderSpec) rather than assumed.
  *
  * Engine-exactness: the per-dimension rank is an order-preserving affine
  * map `(v - min) * (2^bits - 1) div (max - min)` computed in EXACT integer
  * arithmetic (see [[ZOrder.idiv]] — no double division, no decimal
  * rounding), so a DuckDB oracle reproduces every z-value bit-for-bit with
  * hugeint `//`. Reference anchor: the reference clusters its BigQuery facts
  * by (entity, REPORTING_DATE) for the same skip-on-two-dims reason
  * (`work_item_budget_vs_actual_sync_daily/main.py` partition+cluster DDL);
  * z-order is the general-k form of that layout.
  */
object ZOrder {

  /** Exact integer division for non-negative long expressions: Spark's `/`
    * is double division and decimal `/` rounds HALF_UP at result scale —
    * both can misplace a floor by one ulp right at a rank boundary. For
    * 0 <= x < 2^53, `(x - pmod(x, y)) / y` is exact: the numerator is the
    * largest multiple m·y <= x with m <= x/y, both operands are exactly
    * representable doubles, and IEEE division of m·y by y is correctly
    * rounded to exactly m.
    */
  private[graft] def idiv(x: Column, y: Column): Column =
    ((x - pmod(x, y)) / y).cast("long")

  /** The Z (Morton) value of `dims`: each dimension is affinely ranked into
    * `[0, 2^bits)` using the caller-supplied `(min, max)` stats (one cheap
    * metadata/agg pass at scale — layout jobs always know their stats),
    * clamped at the edges, then bit i of dimension j lands at interleaved
    * position `i * dims.size + j`. Total bits must fit a non-negative long.
    *
    * Exactness bound: `(max - min) * (2^bits - 1)` must stay under 2^53
    * (see [[idiv]]); for wider domains, lower `bits` — ranks are a layout
    * heuristic, 12-16 bits per dimension saturates real file counts.
    */
  def zValue(dims: Seq[Column], stats: Seq[(Long, Long)], bits: Int): Column = {
    require(dims.nonEmpty && dims.size == stats.size,
      s"dims (${dims.size}) and stats (${stats.size}) must pair up")
    require(bits >= 1 && bits * dims.size <= 62,
      s"interleaved width ${bits * dims.size} must fit a non-negative long")
    val maxRank = (1L << bits) - 1
    stats.foreach { case (mn, mx) =>
      require(mx > mn, s"degenerate stats ($mn, $mx)")
      require((mx - mn) <= (1L << 53) / maxRank,
        s"range ${mx - mn} * maxRank $maxRank exceeds the 2^53 exact-division bound; lower bits")
    }
    val n = dims.size
    val ranks = dims.zip(stats).map { case (c, (mn, mx)) =>
      val clamped = least(greatest(c.cast("long"), lit(mn)), lit(mx))
      idiv((clamped - lit(mn)) * lit(maxRank), lit(mx - mn))
    }
    val terms = for {
      i <- 0 until bits
      (r, j) <- ranks.zipWithIndex
    } yield shiftleft(shiftright(r, i).bitwiseAND(lit(1L)), i * n + j)
    terms.reduce(_ bitwiseOR _)
  }

  /** DuckDB twin of [[zValue]] over column expressions `dims` with the same
    * literal stats — hugeint `//` is exact integer division, so the two
    * sides agree bit-for-bit. Rendered from the same (bits, stats) values
    * the Spark side uses; the formulas cannot drift independently.
    */
  def zValueSql(dims: Seq[String], stats: Seq[(String, String)], bits: Int): String = {
    val maxRank = (1L << bits) - 1
    val n = dims.size
    val ranks = dims.zip(stats).map { case (d, (mn, mx)) =>
      s"((least(greatest(CAST($d AS BIGINT), $mn), $mx) - ($mn)) * $maxRank // (($mx) - ($mn)))"
    }
    val terms = for {
      i <- 0 until bits
      (r, j) <- ranks.zipWithIndex
    } yield s"((($r >> $i) & 1) << ${i * n + j})"
    terms.mkString("(", " + ", ")")
  }

  /** Write `df` parquet at `path`, clustered by the Z-value of `dims`:
    * range-partition on z (each output file owns a compact z-interval — a
    * rectangle-ish region of the dim space) and sort within partitions so
    * parquet row-group min/max stats are tight on EVERY dim. `blockBytes`
    * caps the parquet row-group size — the skipping granularity (small here
    * so sf-scale fixtures span many row groups; production leaves the
    * 128 MB default). One small aggregate (the z histogram [[zCluster]]
    * splits on) and one shuffle, no driver data movement; `nFiles` scales
    * with cluster size, not data ownership.
    */
  def layoutWrite(df: DataFrame, dims: Seq[Column], stats: Seq[(Long, Long)],
      bits: Int, path: String, nFiles: Int, blockBytes: Long = 128L << 20): Unit =
    zCluster(df, dims, stats, bits, nFiles)
      .write.mode("overwrite")
      .option("parquet.block.size", blockBytes)
      .parquet(path)

  /** The clustered FRAME behind [[layoutWrite]], for sinks that own their
    * write path — e.g. composing the z layout with the versioned log's
    * stats-collecting append ([[graft.merge.Versioned.appendWithStats]], the
    * vt7 query): file-level skipping comes from the manifest ranges, row-
    * group skipping from this ordering. A plain `.write` on the result
    * preserves the range-partitioning and intra-partition sort.
    *
    * The split points are a function of the rows alone: one aggregate
    * counts the rows of each of at most 4096 equal-width `z` buckets, and
    * [[splitPoints]] cuts that histogram into `nFiles` runs of about equal
    * rows. (`repartitionByRange` would sample with a seed Spark derives from
    * the RDD id, so the same rows could split differently from run to run.)
    */
  def zCluster(df: DataFrame, dims: Seq[Column], stats: Seq[(Long, Long)],
      bits: Int, nFiles: Int): DataFrame = {
    val z = df.withColumn("__z", zValue(dims, stats, bits))
    val shift = math.max(0, bits * dims.size - 12)
    val pieces = z.groupBy(shiftright(col("__z"), shift).as("b")).count()
      .filter(col("b").isNotNull).collect().toSeq
      .map(r => (r.getLong(0) << shift, ((r.getLong(0) + 1) << shift) - 1, r.getLong(1)))
    val cuts = splitPoints(pieces, nFiles).getOrElse(Nil)
    landByCuts(z, col("__z"), cuts)
      .sortWithinPartitions(col("__z"))
      .drop("__z")
  }

  /** At most `nFiles - 1` increasing split points in (lo, hi] that cut the
    * rows of `pieces` — (lo, hi, rows) key ranges, each piece's rows taken
    * as spread evenly over its keys — into runs of about equal rows; key `x`
    * belongs to the run of the split points at or below it. The j-th point
    * follows the first key at which the rows so far reach j/nFiles of the
    * total. Points that would leave a run empty are dropped, so heavy
    * duplicates give fewer runs. None when nothing is known or the span does
    * not fit a Long. One sweep, O(pieces log pieces + nFiles).
    */
  private[graft] def splitPoints(pieces: Seq[(Long, Long, Long)],
      nFiles: Int): Option[Seq[Long]] = {
    if (pieces.isEmpty) return None
    val (lo, hi) = (pieces.map(_._1).min, pieces.map(_._2).max)
    if (BigInt(hi) - BigInt(lo) > Long.MaxValue) return None
    // the rows per key change only where a piece starts (a) or ends (b + 1)
    val steps = pieces.flatMap { case (a, b, w) =>
      val perKey = math.max(w, 1L) / ((b - a).toDouble + 1)
      Seq(BigInt(a) -> perKey, (BigInt(b) + 1) -> -perKey)
    }.groupMapReduce(_._1)(_._2)(_ + _).toSeq.sortBy(_._1)
    val total = pieces.map(p => math.max(p._3, 1L).toDouble).sum
    val cuts = Seq.newBuilder[Long]
    var (rows, perKey, j) = (0.0, 0.0, 1)
    steps.zip(steps.drop(1)).foreach { case ((x, d), (next, _)) =>
      perKey += d
      val seg = perKey * (next - x).toDouble
      while (j < nFiles && perKey > 0 && rows + seg >= total * j / nFiles) {
        val keys = BigDecimal(math.ceil((total * j / nFiles - rows) / perKey)).toBigInt
        val y = (x + keys - 1).max(x).min(next - 1)
        if (y < hi) cuts += (y + 1).toLong
        j += 1
      }
      rows += seg
    }
    Some(cuts.result().distinct)
  }

  /** `df` repartitioned into the runs of `cuts` (increasing split points
    * of [[splitPoints]]) on the long key `e`: key `x` goes to the run of the
    * points at or below it, a NULL key to the first run. Lands through
    * `repartitionById`, so the layout is the cuts' alone.
    */
  private[graft] def landByCuts(df: DataFrame, e: Column, cuts: Seq[Long]): DataFrame = {
    val id = cuts.zipWithIndex.foldLeft(when(e.isNull, 0)) { case (acc, (c, j)) =>
      acc.when(e < c, j)
    }.otherwise(cuts.length)
    df.repartitionById(cuts.length + 1, id)
  }
}
