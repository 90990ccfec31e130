package org.apache.spark.sql.graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, LogicalRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** The versioned table as a NATIVE Spark relation (VT14): a [[FileIndex]]
  * whose file listing is the manifest's reconstructed state and whose
  * `listFiles` hands whatever data filters CATALYST pushed down to `prune`,
  * the log's one pruning rule (`Versioned.prunedFiles`: manifest ranges,
  * null counts and blooms). Every read of the log is a DataFrame over this
  * index, so ANY query shape — SQL over a temp view, joins, aggregates, the
  * reference's `REPORTING_DATE BETWEEN` windows — gets file skipping at
  * planning time: FileSourceStrategy hands every scan's pushed predicates
  * to the index, exactly the hook Spark's own catalog file index uses for
  * partition pruning.
  *
  * The pushed filters are ANALYZED, optimized catalyst conjuncts
  * (attributes + literals, so DATE/TIMESTAMP literals are already
  * epoch-encoded ints/longs and match the stats encoding for free).
  * Anything unrecognized contributes no constraint; Spark always re-applies
  * the full predicate to the rows, so pruning here can only drop files
  * proven row-free, never rows.
  *
  * Lives in the `org.apache.spark.sql` tree: `HadoopFsRelation`'s session
  * parameter and `Dataset.ofRows` are `private[sql]` in Spark 4.
  */
private[sql] class ManifestFileIndex(
    spark: SparkSession,
    root: String,
    files: Seq[String],
    prune: Seq[Expression] => Seq[String],
    sizes: Map[String, Long]) extends FileIndex {

  private val rootPath = new Path(root)
  private lazy val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)

  // STATUSES FROM THE LOG, not the filesystem: a file whose byte size the
  // manifest records (fmt=3 — every commit captures sizes from its own
  // write) gets a SYNTHESIZED FileStatus, so the whole scan-planning path
  // — pruning, splitting, sizeInBytes — runs on pure log metadata with
  // ZERO driver filesystem calls at any table size (the Delta/Iceberg
  // design: the log, not the namespace, is the source of truth). Only
  // files from pre-fmt-3 manifests fall back to the LAZY per-directory
  // cache below: listFiles prunes by manifest stats first, then
  // listStatus'es only surviving files' dirs (one call per DIRECTORY —
  // at 10^6 files a per-file stat is an RPC storm), memoized across
  // queries on the same relation.
  private val dirCache =
    new java.util.concurrent.ConcurrentHashMap[String, Map[String, FileStatus]]()

  private def dirOf(rel: String): String = rel.substring(0, rel.lastIndexOf('/'))

  private def statusesFor(rels: Seq[String]): Seq[(String, FileStatus)] =
    rels.groupBy(dirOf).toSeq.flatMap { case (dir, inDir) =>
      lazy val listed = dirCache.computeIfAbsent(dir, d => {
        ManifestFileIndex.dirsStatted.incrementAndGet()
        fs.listStatus(new Path(rootPath, d)).map(st => st.getPath.getName -> st).toMap
      })
      inDir.map { f =>
        f -> (sizes.get(f) match {
          case Some(len) =>
            // mod time 0 / blocksize 128M: batch planning reads only length
            // and path (splitting uses maxPartitionBytes, not blocksize)
            new FileStatus(len, false, 1, 128L << 20, 0L, new Path(rootPath, f))
          case None =>
            val name = f.substring(f.lastIndexOf('/') + 1)
            listed.getOrElse(name, throw new IllegalStateException(
              s"manifest lists $f but it is not on disk (vacuumed or corrupt)"))
        })
      }
    }.sortBy(_._1)

  private lazy val allStatuses: Seq[(String, FileStatus)] = statusesFor(files)

  override def rootPaths: Seq[Path] = Seq(rootPath)
  override def partitionSchema: StructType = new StructType()
  override def inputFiles: Array[String] = allStatuses.map(_._2.getPath.toString).toArray
  override def refresh(): Unit = () // snapshot semantics: a version never changes
  override def sizeInBytes: Long = allStatuses.map(_._2.getLen).sum

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    Seq(PartitionDirectory(InternalRow.empty, statusesFor(prune(dataFilters)).map(_._2).toArray))
}

object ManifestFileIndex {

  /** Commit DIRECTORIES listStatus'd since JVM start — spec instrumentation
    * for the lazy-status design: relation construction must stat nothing,
    * and a pruned query must stat only the dirs its surviving files live in.
    */
  val dirsStatted = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Per-column range SETS implied by ANALYZED catalyst predicates
    * (implicitly conjoined, as FileSourceStrategy hands them over). An entry
    * `c -> ranges` means: every row satisfying the predicates has `c`
    * non-null and inside the UNION of `ranges` (sorted, disjoint). A column
    * absent from the map is unconstrained; an EMPTY range list is a proven
    * contradiction (no row can satisfy — callers may plan zero files).
    *
    * Conservative algebra ([[RangeAlgebra]]): AND intersects per column; OR
    * unions, but only columns constrained in BOTH branches stay; `IN`/`InSet`
    * is the union of its points, collapsed to its envelope past
    * [[RangeAlgebra.MaxDisjuncts]] ranges (the reference's progressive
    * day-rotation windows, `main_progressive.py:31-54`, build bounded
    * disjunctions; a pathological predicate must not). Strict bounds widen
    * by one (Spark re-applies the full predicate to rows; files prune, rows
    * never). Anything else — null tests, NOT, UDFs, a comparison with a
    * `Cast` left on the attribute — contributes nothing.
    *
    * Analysis has already encoded DATE literals as epoch-day ints and
    * TIMESTAMP literals as epoch-micros longs, and a comparison's two sides
    * share one type, so a literal's long is in its column's stats encoding
    * with no calendar math here: a DATE literal against a TIMESTAMP column
    * folds to micros, and a TIMESTAMP literal against a DATE column leaves a
    * cast on the column that bounds nothing. Floating-point, decimal and
    * string literals contribute nothing (stats are long-exact).
    */
  def exprRanges(filters: Seq[Expression]): Map[String, Seq[(Long, Long)]] = {
    import RangeAlgebra._
    def longOf(e: Expression): Option[Long] = e match {
      case Literal(v, _) => v match {
        case i: java.lang.Integer => Some(i.toLong)
        case i: java.lang.Long => Some(i.longValue)
        case i: java.lang.Short => Some(i.toLong)
        case i: java.lang.Byte => Some(i.toLong)
        case _ => None // float/string/decimal: no bound (stats are long-exact)
      }
      case _ => None
    }
    def nameOf(e: Expression): Option[String] = e match {
      case a: AttributeReference => Some(a.name)
      case _ => None
    }
    def one(attr: Expression, lo: Option[Long], hi: Option[Long]): Map[String, Seq[(Long, Long)]] =
      nameOf(attr).map(c =>
        Map(c -> Seq((lo.getOrElse(Long.MinValue), hi.getOrElse(Long.MaxValue)))))
        .getOrElse(Map.empty)
    def walk(e: Expression): Map[String, Seq[(Long, Long)]] = e match {
      case And(l, r) => intersectMaps(walk(l), walk(r))
      case Or(l, r) => unionMaps(walk(l), walk(r))
      case EqualTo(a, b) =>
        longOf(b).map(v => one(a, Some(v), Some(v)))
          .orElse(longOf(a).map(v => one(b, Some(v), Some(v)))).getOrElse(Map.empty)
      case GreaterThan(a, b) =>
        longOf(b).map(v => one(a, Some(v), None))
          .orElse(longOf(a).map(v => one(b, None, Some(v)))).getOrElse(Map.empty)
      case GreaterThanOrEqual(a, b) =>
        longOf(b).map(v => one(a, Some(v), None))
          .orElse(longOf(a).map(v => one(b, None, Some(v)))).getOrElse(Map.empty)
      case LessThan(a, b) =>
        longOf(b).map(v => one(a, None, Some(v)))
          .orElse(longOf(a).map(v => one(b, Some(v), None))).getOrElse(Map.empty)
      case LessThanOrEqual(a, b) =>
        longOf(b).map(v => one(a, None, Some(v)))
          .orElse(longOf(a).map(v => one(b, Some(v), None))).getOrElse(Map.empty)
      case In(a, list) if list.nonEmpty =>
        val vs = list.map(longOf)
        if (vs.exists(_.isEmpty)) Map.empty
        else nameOf(a).map(c => Map(c -> capped(norm(vs.flatten.map(v => (v, v))))))
          .getOrElse(Map.empty)
      case InSet(a, hset) if hset.nonEmpty =>
        val vs = hset.toSeq.map {
          case i: java.lang.Integer => Some(i.toLong)
          case i: java.lang.Long => Some(i.longValue)
          case i: java.lang.Short => Some(i.toLong)
          case i: java.lang.Byte => Some(i.toLong)
          case _ => None
        }
        if (vs.exists(_.isEmpty)) Map.empty
        else nameOf(a).map(c => Map(c -> capped(norm(vs.flatten.map(v => (v, v))))))
          .getOrElse(Map.empty)
      case _ => Map.empty // null tests / not / udf / subquery / cast: conservative
    }
    filters.map(walk).foldLeft(Map.empty[String, Seq[(Long, Long)]])(intersectMaps)
  }

  /** The scan of every `Versioned` read: a DataFrame over a
    * [[ManifestFileIndex]] via `HadoopFsRelation` + `LogicalRelation` (both
    * `private[sql]` — hence this bridge). Parquet format, no buckets, no
    * partition columns (the manifest, not the directory layout, scopes the
    * scan).
    */
  def relation(spark: SparkSession, root: String, files: Seq[String],
      prune: Seq[Expression] => Seq[String], dataSchema: StructType,
      sizes: Map[String, Long]): DataFrame = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val index = new ManifestFileIndex(spark, root, files, prune, sizes)
    val rel = HadoopFsRelation(index, new StructType(), dataSchema, None,
      new ParquetFileFormat, Map.empty)(classic)
    org.apache.spark.sql.classic.Dataset.ofRows(classic, LogicalRelation(rel))
  }
}

/** Sorted-disjoint interval-set algebra behind
  * [[ManifestFileIndex.exprRanges]]: normalize, intersect, union, and the
  * disjunct-count cap that collapses a pathological union to its (still
  * conservative) envelope.
  */
private[sql] object RangeAlgebra {
  val MaxDisjuncts = 64
  val Full: Seq[(Long, Long)] = Seq((Long.MinValue, Long.MaxValue))

  def norm(rs: Seq[(Long, Long)]): Seq[(Long, Long)] = {
    val sorted = rs.filter { case (lo, hi) => lo <= hi }.sortBy(_._1)
    sorted.foldLeft(Vector.empty[(Long, Long)]) { case (acc, (lo, hi)) =>
      acc.lastOption match {
        case Some((plo, phi)) if phi == Long.MaxValue || lo <= phi + 1 =>
          acc.init :+ (plo, math.max(phi, hi))
        case _ => acc :+ (lo, hi)
      }
    }
  }

  def capped(u: Seq[(Long, Long)]): Seq[(Long, Long)] =
    if (u.length > MaxDisjuncts) Seq((u.head._1, u.last._2)) else u

  def inter(a: Seq[(Long, Long)], b: Seq[(Long, Long)]): Seq[(Long, Long)] =
    norm(for ((al, ah) <- a; (bl, bh) <- b; lo = math.max(al, bl); hi = math.min(ah, bh)
      if lo <= hi) yield (lo, hi))

  def union(a: Seq[(Long, Long)], b: Seq[(Long, Long)]): Seq[(Long, Long)] =
    capped(norm(a ++ b))

  /** AND of two per-column maps: keys in either map stay, ranges intersect
    * (absent = unconstrained).
    */
  def intersectMaps(a: Map[String, Seq[(Long, Long)]],
      b: Map[String, Seq[(Long, Long)]]): Map[String, Seq[(Long, Long)]] =
    (a.keySet ++ b.keySet).map(k =>
      k -> inter(a.getOrElse(k, Full), b.getOrElse(k, Full))).toMap

  /** OR of two per-column maps: only keys constrained in BOTH stay. */
  def unionMaps(a: Map[String, Seq[(Long, Long)]],
      b: Map[String, Seq[(Long, Long)]]): Map[String, Seq[(Long, Long)]] =
    a.keySet.intersect(b.keySet).map(k => k -> union(a(k), b(k))).toMap
}
