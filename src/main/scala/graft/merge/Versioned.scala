package graft.merge

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.hadoop.mapreduce.{JobContext, TaskAttemptContext}
import org.apache.spark.internal.io.{FileCommitProtocol, FileNameSpec}
import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, EqualTo, Expression,
  IsNotNull, IsNull, Literal, Pmod, XxHash64}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation, LogicalPlan}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.command.DataWritingCommand
import org.apache.spark.sql.execution.datasources.{FileFormatWriter, WriteJobStatsTracker,
  WriteTaskStats, WriteTaskStatsTracker}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{ColumnBridge, ManifestFileIndex}
import org.apache.spark.sql.types.{BooleanType, ByteType, DataType, DateType, IntegerType,
  ShortType, StructType}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** A minimal versioned-table transaction log (VT1-VT12/ST17; beyond-
  * reference): time travel, rollback, vacuum, CDC read+apply, an exactly-
  * once streaming sink, manifest-level data skipping, copy-on-write
  * row-level DML — atomic commits over plain parquet, the table-format
  * substrate (Delta/Iceberg-style, from their published designs) that a
  * long-lived 100 TB sync target needs once "overwrite the directory"
  * stops being an option.
  *
  * Layout:
  * {{{
  *   root/_vlog/v00001.txt        one manifest per version (format below)
  *   root/_vlog/_last_checkpoint  pointer: version of the latest FULL manifest
  *   root/_vlog/_archive/         manifests moved out of the hot log dir
  *   root/data/c1-<uuid>/         immutable parquet files, one dir per commit
  *   root/data/c1-<uuid>.inflight writer liveness marker (removed at commit)
  * }}}
  *
  * Manifest format (plain text — relocatable RELATIVE paths, no JSON parser
  * in the trust path). TWO forms, marked `fmt=2`:
  * {{{
  *   // DELTA (the common append): ONLY the commit's own adds/removes
  *   op=append parent=3 fmt=2 stats=o_orderkey
  *   -data/c2-.../part-....parquet          (copy-on-write removes, if any)
  *   +data/c4-.../part-....parquet|1001|2000
  *
  *   // FULL (checkpoint): the complete table state at this version
  *   op=overwrite parent=7 fmt=2 full=1 stats=o_orderkey
  *   txn=0
  *   data/c8-.../part-....parquet|1|1000
  * }}}
  * A manifest with no `fmt` header, no `full=1`, and UNPREFIXED file lines
  * is parsed as a legacy FULL manifest (the pre-delta format — unambiguous,
  * since every delta writer prefixes); a `fmt` above [[ManifestFormat]]
  * fails loudly as unsupported rather than misparsing.
  *
  * Every [[CheckpointInterval]]-th commit — plus v1, every overwrite,
  * rollback and compaction — is written FULL; other commits are deltas.
  * This is the published Delta-log design (delta actions + periodic
  * checkpoint): without it, each manifest re-lists the whole table and the
  * log costs O(versions x files) to plan — at 100 TB (~10^6 files) a single
  * full manifest is ~100 MB, so a per-micro-batch sink (ST17) must write
  * O(batch) bytes per commit, not O(table). Reconstructing any version's
  * state reads at most [[CheckpointInterval]] manifests (nearest checkpoint
  * at-or-before it, then the delta suffix) — bounded however long the table
  * lives.
  *
  * The second half of that design (round 15): finding the HEAD must not
  * LIST the manifest directory either — a per-minute sink accretes ~500k
  * manifests/year, and on an object store a per-commit LIST over them is
  * paged (quadratic total). Every FULL manifest therefore also updates the
  * `_last_checkpoint` pointer file; [[currentVersion]] reads the pointer
  * and probes FORWARD by constructed name (at most one interval of
  * existence stats), and [[stateAt]] probes BACKWARD the same way — zero
  * directory listings on the whole commit path (spec-instrumented via
  * [[namesListed]]). [[archiveManifests]] moves manifests below the
  * oldest-retained checkpoint out of the hot directory entirely.
  *
  * Semantics and why they hold at scale:
  *  - Data files are IMMUTABLE: a commit only ever adds a new `data/c*` dir
  *    and a new manifest (row-level DML — [[deleteWhere]]/[[mergeInto]] —
  *    is copy-on-write: stats-overlapping files are rewritten into a NEW
  *    commit dir and the old ones delisted, never mutated). Appends are
  *    O(new data); rollback is a POINTER FLIP (a full manifest listing an
  *    old version's files — zero data moved, any terabyte count); time
  *    travel is "plan from version N's reconstructed file list", so a
  *    reader's scan set is exact, never directory-listing-racy.
  *  - Commit is ATOMIC + optimistically concurrent: the manifest is staged
  *    to a temp name and promoted with a hard link, which REFUSES to
  *    replace (POSIX rename would clobber silently) — two writers racing to
  *    v(n+1) means exactly one wins and the loser throws (retry = re-read
  *    the log, re-stage). Same local/HDFS filesystem caveat as [[Dml]]:
  *    object stores need a CAS'd log service.
  *  - Readers never see partial state: a version exists iff its manifest
  *    link completed, and the files it lists were fully written before the
  *    link (the write job, whose committed tasks name them, ends before
  *    the manifest promote).
  *  - Version numbers are formatted `%05d` but parsed at ANY width
  *    (`v\d+\.txt`, numeric sort): `%05d` widens automatically past 99999,
  *    so version 100000 writes `v100000.txt` and stays visible — an
  *    exact-width read regex would silently drop it and wedge every later
  *    CAS (the Delta log pads to 20 digits for the same reason).
  */
object Versioned {

  /** Commits between full-manifest checkpoints: state reconstruction reads
    * at most this many manifests. 10 matches Delta's default cadence; the
    * amortized write cost is one O(table-metadata) manifest per 10 O(batch)
    * ones.
    */
  private[graft] val CheckpointInterval: Int = 10

  /** Highest manifest format this code writes and reads. Bumped when the
    * on-disk contract changes incompatibly; a higher value on disk fails
    * loudly instead of misparsing. fmt=3 (round 16) adds the file SIZE as
    * the first `|`-field of every file line (`path|size[|mn|mx…]`, -1 =
    * unknown), reported by the commit's own write tasks — so the
    * native relation can synthesize `FileStatus`es from pure log metadata
    * (zero filesystem calls on the read path, the Delta/Iceberg design)
    * and the streaming source can plan partitions without stat-ing files.
    * fmt≤2 manifests (no size field) parse as before; mixed logs are fine
    * because parsing is per-manifest. fmt=4 (round 18) adds OPTIONAL
    * per-file BLOOM lines (`bloom=<col>:<base64 bits>:<path>`) and the
    * `bloom=` header listing tracked bloom columns — point-lookup file
    * skipping (vt26); file lines are unchanged, so fmt=3 logs parse as
    * before. fmt=5 (round 18, vt27) adds OPTIONAL DELETION-VECTOR lines
    * (`dv=<count>|<sidecar path>|<file path>`, '|'-separated because
    * paths never contain '|' while they could contain ':'): the file at
    * `<file path>` stays listed but `<count>` of its row positions —
    * recorded in the parquet sidecar at `<sidecar path>` — are deleted.
    * On a DELTA a dv line ATTACHES to an already-listed file; a FULL
    * manifest lists every live attachment. Older formats parse unchanged.
    * fmt=6 (round 18, vt31) adds OPTIONAL per-file NULL-COUNT lines
    * (`nulls=<rowCount>,<nullCount per stats col…>|<path>`, measured with
    * the file's ranges): IS NULL prunes files with zero nulls in the
    * column, IS NOT NULL prunes files that are entirely NULL there — the
    * Delta nullCount design. Files without a line read conservatively.
    */
  private[graft] val ManifestFormat: Int = 6

  /** Manifest files read since JVM start — spec instrumentation proving the
    * checkpoint bound (a 1000-commit log's planning cost must not be 1000
    * reads). Monotonic; specs diff it around an operation.
    */
  private[graft] val manifestReads = new AtomicLong(0L)

  /** Directory entries LISTED since JVM start (every name an enumeration of
    * `_vlog` returns) — spec instrumentation for the `_last_checkpoint`
    * design: the commit/read hot path must do ZERO directory listing, only
    * constructed-name existence probes. History/admin APIs ([[versions]],
    * [[vacuum]], [[gcOrphans]], [[archiveManifests]]) still list, which is
    * their deliberate, off-hot-path cost.
    */
  private[graft] val namesListed = new AtomicLong(0L)

  /** `_last_checkpoint` pointer writes that failed since JVM start. The
    * pointer is a hint, so a failed write is survivable — but a
    * PERSISTENTLY failing one (a filesystem without atomic replace)
    * silently degrades every currentVersion/commit back to O(log-size)
    * directory listings; this counter (plus a stderr warning on the first
    * failure) makes that degradation observable instead of silent.
    */
  private[graft] val pointerWriteFailures = new AtomicLong(0L)

  /** A version's fully-reconstructed state. `stats` holds optional per-file
    * (min, max) ranges of each of `statsCols` (aligned by position) —
    * manifest-level data skipping (VT6): a pruned read plans only files
    * whose range overlaps the predicate, without opening a single footer.
    * Files with no entry are read conservatively. `txns` is the accumulated
    * set of committed stream-batch ids (ST17 replay dedup) — carried
    * forward through checkpoints and rollbacks so "was batch b ever
    * committed" never needs the pre-checkpoint manifests.
    */
  final case class Version(n: Int, op: String, parent: Int, files: Seq[String],
      stats: Map[String, Seq[(Long, Long)]] = Map.empty,
      statsCols: Seq[String] = Nil, txns: Set[Long] = Set.empty,
      schema: Option[String] = None,
      sizes: Map[String, Long] = Map.empty,
      ts: Long = -1L,
      constraints: Seq[(String, String)] = Nil,
      colMap: Map[String, String] = Map.empty,
      pendingTxn: Option[String] = None,
      bloomCols: Seq[String] = Nil,
      blooms: Map[(String, String), Vector[Long]] = Map.empty,
      dvs: Map[String, Seq[(String, Long)]] = Map.empty,
      nulls: Map[String, (Long, Seq[Long])] = Map.empty) {
    /** Every sidecar/data path a retention op must treat as referenced by
      * this version: the listed files plus their deletion-vector sidecars.
      */
    private[graft] def referencedPaths: Seq[String] =
      files ++ dvs.valuesIterator.flatten.map(_._1)
  }

  /** One file line of a manifest: root-relative path + per-statsCol ranges
    * (empty = no skipping stats, read conservatively) + byte size (fmt=3;
    * -1 = unknown, callers fall back to a filesystem stat).
    */
  private[graft] final case class FileEntry(path: String, ranges: Seq[(Long, Long)],
      size: Long = -1L,
      blooms: Seq[(String, Vector[Long])] = Nil,
      rowCount: Long = -1L,
      nullCounts: Seq[Long] = Nil)

  /** vt26 bloom geometry: 1024 bits (16 longs, ~172 base64 chars per file
    * per column in the manifest) × 3 xxhash64 seeds. At 10k distinct values
    * per file the false-positive rate is ~1 (useless), at ~200 it's ~10% —
    * the point-lookup regime this targets (id-ish columns on files of a
    * few hundred to a few thousand rows each, or low-cardinality-per-file
    * clustered layouts). A bloom can only SKIP (absent bit = value provably
    * not in the file); the residual filter always decides rows.
    */
  private[graft] val BloomBits: Int = 1024
  private[graft] val BloomWords: Int = BloomBits / 64
  private[graft] val BloomHashes: Int = 3

  private def bloomB64(bits: Vector[Long]): String = {
    val bb = java.nio.ByteBuffer.allocate(8 * bits.length)
    bits.foreach(bb.putLong)
    java.util.Base64.getEncoder.encodeToString(bb.array())
  }

  private def bloomFromB64(s: String): Vector[Long] = {
    val bb = java.nio.ByteBuffer.wrap(java.util.Base64.getDecoder.decode(s))
    Vector.fill(bb.remaining() / 8)(bb.getLong)
  }

  private def bloomHasBit(bits: Vector[Long], pos: Long): Boolean =
    (bits((pos / 64).toInt) & (1L << (pos % 64).toInt)) != 0L

  /** One manifest (delta or full) — what every commit writes ([[render]])
    * and every reader parses back ([[parseManifest]]) and folds. `ts` is
    * the commit's wall-clock epoch millis (header `ts=`, -1 on pre-vt19
    * manifests); `constraints` are the CHECK constraints this manifest
    * carries (a FULL manifest lists the complete set, a delta only the ones
    * its commit ADDED). Each entry carries its file's bloom bits and null
    * counts; `dvs` are a delta's ATTACHED deletion vectors, or a full
    * manifest's complete set.
    */
  private[graft] final case class Raw(n: Int, op: String, parent: Int,
      full: Boolean = false, statsCols: Seq[String] = Nil,
      entries: Seq[FileEntry] = Nil, removed: Seq[String] = Nil,
      txns: Set[Long] = Set.empty, schema: Option[String] = None, ts: Long = -1L,
      constraints: Seq[(String, String)] = Nil,
      colMap: Map[String, String] = Map.empty,
      txnMarker: Option[String] = None,
      bloomCols: Seq[String] = Nil,
      dvs: Map[String, Seq[(String, Long)]] = Map.empty)

  /** The schema identity the log tracks: DDL with nullability erased —
    * Spark normalizes parquet read-back to nullable, so a compaction or
    * filter must not read as schema drift. Column SET and TYPES are the
    * contract.
    */
  private def normalizedDDL(df: DataFrame): String =
    org.apache.spark.sql.types.StructType(
      df.schema.fields.map(_.copy(nullable = true))).toDDL

  private def vlogDir(root: String): Path = Paths.get(root, "_vlog")
  private def manifestPath(root: String, n: Int): Path =
    vlogDir(root).resolve(f"v$n%05d.txt")
  private def pointerPath(root: String): Path =
    vlogDir(root).resolve("_last_checkpoint")

  private val ManifestName = "v(\\d+)\\.txt".r
  private val StreamBatchOp = "stream-batch-(\\d+)".r

  // NIO directory streams hold an open dir handle until closed — a
  // long-lived pipeline process calling versions() per batch would leak
  // file descriptors if these relied on GC
  private def listClosing[A](s: java.util.stream.Stream[Path])(f: Iterator[Path] => A): A =
    try f(s.iterator().asScala) finally s.close()

  /** Committed version numbers + manifest paths, NUMERICALLY ascending —
    * names only, no manifest is opened. Numeric sort (not lexical): `%05d`
    * widens past 99999 and `v100000.txt` must sort after `v99999.txt`.
    * HISTORY/ADMIN api only — the commit/read hot path never lists
    * (see [[headNumber]]/[[stateAt]]).
    */
  private def listManifests(root: String): Seq[(Int, Path)] = {
    val dir = vlogDir(root)
    if (!Files.isDirectory(dir)) return Seq.empty
    listClosing(Files.list(dir))(_.flatMap { p =>
      namesListed.incrementAndGet()
      p.getFileName.toString match {
        case ManifestName(n) => Some(n.toInt -> p)
        case _ => None
      }
    }.toSeq).sortBy(_._1)
  }

  private def parseEntry(line: String, fmt: Int): FileEntry = {
    // fmt≥3: `path|size[|mn|mx…]`; fmt≤2: `path[|mn|mx…]` ('|' never
    // appears in the uuid-named data paths this log writes)
    val parts = line.split('|')
    val (size, rangeParts) =
      if (fmt >= 3 && parts.length >= 2) (parts(1).toLong, parts.drop(2))
      else (-1L, parts.tail)
    FileEntry(parts.head,
      rangeParts.grouped(2).collect { case Array(mn, mx) => (mn.toLong, mx.toLong) }.toSeq,
      size)
  }

  private[graft] def parseManifest(n: Int, p: Path): Raw = {
    manifestReads.incrementAndGet()
    val lines = Files.readAllLines(p).asScala.toSeq
    val header = lines.head.split(" ").map(_.split("=", 2)).map(a => a(0) -> a(1)).toMap
    header.get("fmt").map(_.toInt).foreach(f => require(f <= ManifestFormat,
      s"manifest $p declares format $f; this build reads at most $ManifestFormat — " +
        "unsupported manifest format (written by a newer library?)"))
    val body = lines.tail.filter(_.nonEmpty)
    val txns = body.filter(_.startsWith("txn=")).map(_.stripPrefix("txn=").toLong).toSet
    // schema rides the BODY (one `schema=<ddl>` line): DDL contains spaces,
    // which the k=v header line cannot carry
    val schema = body.find(_.startsWith("schema=")).map(_.stripPrefix("schema="))
    // CHECK constraints ride the body too (`constraint=<name>:<sql>`, one
    // per line — SQL contains spaces); names cannot contain ':'
    val constraints = body.filter(_.startsWith("constraint=")).map { l =>
      val kv = l.stripPrefix("constraint=").split(":", 2)
      require(kv.length == 2, s"malformed constraint line in $p: $l")
      (kv(0), kv(1))
    }
    // column mapping (vt24 RENAME): `colmap=<logical>:<physical>`, one per
    // renamed column — identity entries are never written. Lives only on
    // FULL manifests (a rename commits FULL; deltas inherit the base's map)
    val colMap = body.filter(_.startsWith("colmap=")).map { l =>
      val kv = l.stripPrefix("colmap=").split(":", 2)
      require(kv.length == 2, s"malformed colmap line in $p: $l")
      (kv(0), kv(1))
    }.toMap
    // multi-table transaction marker (vt23): `txnmarker=<abs path base>` —
    // this version is part of a cross-table txn and counts only once
    // `<base>.committed` exists (see [[fold]]'s resolution). Staged
    // manifests are always DELTAS so an aborted one folds as a no-op.
    val txnMarker = body.find(_.startsWith("txnmarker="))
      .map(_.stripPrefix("txnmarker="))
    // per-file bloom bits (vt26): `bloom=<col>:<base64>:<path>` — the path
    // LAST because base64/identifiers never contain ':' while paths could
    val blooms: Map[String, Seq[(String, Vector[Long])]] =
      body.filter(_.startsWith("bloom=")).map { l =>
        val parts = l.stripPrefix("bloom=").split(":", 3)
        require(parts.length == 3, s"malformed bloom line in $p: $l")
        parts(2) -> (parts(0) -> bloomFromB64(parts(1)))
      }.groupMap(_._1)(_._2)
    // deletion vectors (vt27): `dv=<count>|<sidecar>|<file>` — '|'-split
    // because BOTH operands are paths (the bloom ':' trick covers one path
    // at most). Line order is attachment order; a file's sidecars fold in
    // the order its deletes committed.
    val dvs: Map[String, Seq[(String, Long)]] =
      body.filter(_.startsWith("dv=")).foldLeft(
        Map.empty[String, Seq[(String, Long)]]) { (m, l) =>
        val parts = l.stripPrefix("dv=").split('|')
        require(parts.length == 3, s"malformed dv line in $p: $l")
        val att = (parts(1), parts(0).toLong)
        m + (parts(2) -> (m.getOrElse(parts(2), Nil) :+ att))
      }
    // null-count stats (vt31): `nulls=<rowCount>,<perStatsColNulls…>|<path>`
    val nulls: Map[String, (Long, Seq[Long])] =
      body.filter(_.startsWith("nulls=")).map { l =>
        val parts = l.stripPrefix("nulls=").split('|')
        require(parts.length == 2, s"malformed nulls line in $p: $l")
        val counts = parts(0).split(',').map(_.toLong)
        parts(1) -> (counts.head, counts.tail.toSeq)
      }.toMap
    val fileLines = body.filterNot(l => l.startsWith("txn=") || l.startsWith("schema=") ||
      l.startsWith("constraint=") || l.startsWith("colmap=") ||
      l.startsWith("txnmarker=") || l.startsWith("bloom=") || l.startsWith("dv=") ||
      l.startsWith("nulls="))
    val full = header.get("full").contains("1")
    require(txnMarker.isEmpty || !full,
      s"manifest $p is FULL but carries a txnmarker — staged txn manifests must be " +
        "deltas (an aborted full manifest could not fold as a no-op); corrupt log?")
    val fmt = header.get("fmt").map(_.toInt).getOrElse(1)
    def entry(line: String): FileEntry = {
      val e = parseEntry(line, fmt)
      val (rc, ncs) = nulls.getOrElse(e.path, (-1L, Nil))
      e.copy(blooms = blooms.getOrElse(e.path, Nil), rowCount = rc, nullCounts = ncs)
    }
    val raw = Raw(n, header("op"), header("parent").toInt,
      statsCols = header.get("stats").map(_.split(',').toSeq).getOrElse(Nil),
      txns = txns, schema = schema,
      // commit wall-time (vt19): an OPTIONAL header key — pre-vt19 manifests
      // (no `ts=`) read as -1 (unknown), which timestamp travel treats as
      // "older than any queried instant"
      ts = header.get("ts").map(_.toLong).getOrElse(-1L),
      constraints = constraints, colMap = colMap,
      bloomCols = header.get("bloom").map(_.split(',').toSeq).getOrElse(Nil), dvs = dvs)
    if (full) raw.copy(full = true, entries = fileLines.map(entry))
    else {
      val (prefixed, unprefixed) =
        fileLines.partition(l => l.startsWith("+") || l.startsWith("-"))
      if (unprefixed.nonEmpty) {
        // legacy FULL manifest: the pre-delta format carried neither a
        // `full=1` marker nor line prefixes — unambiguous (every delta
        // writer prefixes), so read it as the complete state it was
        require(prefixed.isEmpty && !header.contains("fmt"),
          s"manifest $p mixes prefixed and unprefixed file lines — corrupt or unsupported")
        raw.copy(full = true, entries = unprefixed.map(entry))
      } else
        raw.copy(entries = prefixed.filter(_.startsWith("+")).map(l => entry(l.drop(1))),
          removed = prefixed.filter(_.startsWith("-")).map(_.drop(1)),
          txnMarker = txnMarker)
    }
  }

  /** Fold delta dv ATTACHMENTS over the base's map: a removed file's
    * vectors go with it; an attached file accumulates (a second DV delete
    * on the same file appends its sidecar — read-side union of positions).
    */
  private def foldDvs(base: Map[String, Seq[(String, Long)]], removed: Set[String],
      attach: Map[String, Seq[(String, Long)]]): Map[String, Seq[(String, Long)]] =
    attach.foldLeft(base.filterNot { case (f, _) => removed(f) }) {
      case (m, (f, att)) => m + (f -> (m.getOrElse(f, Nil) ++ att))
    }

  /** Fold one manifest over the predecessor's state. A FULL manifest is its
    * own state (checkpoint semantics — `prev` may be None, which is how a
    * log whose old manifests were archived still plans). A DELTA delists
    * its removes, appends its adds, and accumulates its batch id.
    *
    * A manifest carrying a TXN MARKER (vt23, always a delta) folds by the
    * marker's resolution: COMMITTED folds normally, PENDING folds as a
    * state passthrough flagged `pendingTxn` (readers see the pre-txn state;
    * writers refuse), ABORTED folds as a plain passthrough forever. One or
    * two existence probes per staged manifest, only on staged manifests —
    * and only until the next FULL checkpoint materializes the resolved
    * state.
    */
  private def fold(prev: Option[Version], raw: Raw): Version =
    raw.txnMarker match {
      case None => foldResolved(prev, raw)
      case Some(m) => txnResolution(m) match {
        case TxnState.Committed => foldResolved(prev, raw)
        case TxnState.Pending => passthrough(prev, raw).copy(pendingTxn = Some(m))
        case TxnState.Aborted => passthrough(prev, raw)
      }
    }

  /** A pending/aborted txn version IS a version (its number is burnt) whose
    * STATE is its parent's — files, stats, schema, constraints, mapping and
    * batch ids all carry through untouched. A staged v1 with no parent is
    * the empty state under the staged schema (so readers still type it).
    */
  private def passthrough(prev: Option[Version], raw: Raw): Version = prev match {
    case Some(b) => b.copy(n = raw.n, op = raw.op, parent = raw.parent,
      ts = raw.ts, pendingTxn = None)
    case None => Version(raw.n, raw.op, raw.parent, Nil,
      Map.empty, raw.statsCols, Set.empty, raw.schema, Map.empty, raw.ts)
  }

  /** The state before any commit: what a FULL manifest folds over (it
    * replaces everything), and the base of a log's first commit.
    */
  private val NoState = Version(0, "", 0, Nil)

  /** A DELTA delists its removes and appends its adds over `prev`; a FULL
    * manifest and a log's first commit fold the same way over [[NoState]].
    * Deltas never carry `txn=` or `colmap=` lines (renames commit FULL), so
    * the union with the base's sets only ever adds a full manifest's own.
    */
  private def foldResolved(prev: Option[Version], raw: Raw): Version = {
    val base =
      if (raw.full) NoState
      else prev.getOrElse(if (raw.n == 1) NoState else throw new IllegalStateException(
        s"delta manifest v${raw.n} has no reconstructable base (missing checkpoint)"))
    val opTxn: Set[Long] = raw.op match {
      case StreamBatchOp(id) => Set(id.toLong)
      case _ => Set.empty
    }
    val removed = raw.removed.toSet
    Version(raw.n, raw.op, raw.parent,
      base.files.filterNot(removed) ++ raw.entries.map(_.path),
      (base.stats -- removed) ++
        raw.entries.collect { case e if e.ranges.nonEmpty => e.path -> e.ranges },
      if (raw.statsCols.nonEmpty) raw.statsCols else base.statsCols,
      base.txns ++ raw.txns ++ opTxn,
      raw.schema.orElse(base.schema), // deltas inherit; checked at commit
      (base.sizes -- removed) ++
        raw.entries.collect { case e if e.size >= 0 => e.path -> e.size },
      raw.ts, // each version's OWN commit time, never inherited
      base.constraints ++ raw.constraints, // deltas only ever ADD constraints
      base.colMap ++ raw.colMap,
      bloomCols = if (raw.bloomCols.nonEmpty) raw.bloomCols else base.bloomCols,
      blooms = base.blooms.filterNot { case ((f, _), _) => removed(f) } ++
        raw.entries.flatMap(e => e.blooms.map { case (c, bits) => (e.path, c) -> bits }),
      dvs = foldDvs(base.dvs, removed, raw.dvs),
      nulls = (base.nulls -- removed) ++
        raw.entries.collect { case e if e.rowCount >= 0 => e.path -> (e.rowCount, e.nullCounts) })
  }

  /** All committed versions with fully-reconstructed state, ascending. This
    * is the HISTORY api (vacuum, audit, the spec's assertions) and reads
    * every live manifest once (archived ones are out of scope); hot paths
    * ([[currentVersion]], every commit) use [[stateAt]]'s checkpoint-bounded
    * probe instead.
    */
  def versions(root: String): Seq[Version] =
    listManifests(root).foldLeft(Vector.empty[Version]) { case (acc, (n, p)) =>
      acc :+ fold(acc.lastOption, parseManifest(n, p))
    }

  /** The state of version `n`, reading AT MOST [[CheckpointInterval]]
    * manifests and LISTING NOTHING: probe backward by constructed name from
    * `n` to the nearest full manifest (version numbers are contiguous — the
    * CAS admits no gaps), fold the delta suffix forward. This is the
    * per-commit planning cost — O(1) in the table's age, which is what lets
    * ST17 run as a long-lived per-micro-batch sink.
    */
  private def stateAt(root: String, n: Int): Version = {
    require(Files.exists(manifestPath(root, n)),
      s"version $n does not exist at $root (never committed, or archived)")
    val deltas = scala.collection.mutable.ArrayBuffer.empty[Raw]
    var i = n
    var base: Option[Raw] = None
    // a chain of deltas that reaches v1 (a log whose first commit was
    // staged, which never writes full) folds over the empty state
    while (base.isEmpty && i >= 1) {
      if (!Files.exists(manifestPath(root, i)))
        throw new IllegalStateException(
          s"no checkpoint manifest at or below v$n at $root (over-archived or corrupt log)")
      val raw = parseManifest(i, manifestPath(root, i))
      if (raw.full) base = Some(raw) else { deltas += raw; i -= 1 }
    }
    (base.toSeq ++ deltas.reverse)
      .foldLeft(Option.empty[Version])((st, raw) => Some(fold(st, raw))).get
  }

  /** The head version NUMBER without listing the log directory: read the
    * `_last_checkpoint` pointer (one known-committed version), then probe
    * FORWARD by constructed name until the first gap — at most one
    * checkpoint interval of existence stats, independent of table age. A
    * stale or regressed pointer (concurrent checkpoint writers race the
    * hint) only adds probes, never breaks correctness; a missing pointer
    * (legacy log) falls back to one listing.
    */
  private def headNumber(root: String): Option[Int] =
    readPointer(root).filter(k => Files.exists(manifestPath(root, k))) match {
      case Some(k) =>
        var n = k
        while (Files.exists(manifestPath(root, n + 1))) n += 1
        Some(n)
      case None => listManifests(root).lastOption.map(_._1)
    }

  private def readPointer(root: String): Option[Int] =
    if (!Files.exists(pointerPath(root))) None
    else try Some(Files.readString(pointerPath(root)).trim.toInt)
    catch { case _: Exception => None } // garbage pointer = no pointer (hint only)

  /** Best-effort monotonic hint, written after every FULL manifest promotes.
    * ATOMIC_MOVE with replace is correct here precisely because it's a
    * HINT: a racing checkpoint writer can regress it one interval, which
    * costs the next reader a few forward probes and nothing else.
    */
  private def writePointer(root: String, n: Int): Unit = {
    var tmp: Path = null
    try {
      tmp = Files.createTempFile(vlogDir(root), ".ckpt-", ".tmp")
      Files.writeString(tmp, n.toString)
      Files.move(tmp, pointerPath(root),
        StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
    } catch { case e: java.io.IOException =>
      if (tmp != null) Files.deleteIfExists(tmp) // hint write failed: no leak, no error
      if (pointerWriteFailures.incrementAndGet() == 1L)
        System.err.println(s"[graft.Versioned] WARNING: _last_checkpoint pointer write " +
          s"failed at $root (${e.getMessage}) — head discovery degrades to directory " +
          "listing until a pointer write succeeds")
    }
  }

  def currentVersion(root: String): Option[Version] =
    headNumber(root).map(stateAt(root, _))

  /** Hot-path hooks for the STREAMING SOURCE half of the loop
    * ([[graft.streaming.VersionedStreamSource]], ST19): head discovery and
    * the per-version ADD/REMOVE delta, both listing-free. The files commit
    * `n` added are the micro-batch the streaming read of it serves — the
    * Delta streaming-source shape (each commit = one batch of its added
    * files); a nonzero REMOVE count marks a change commit, which the
    * source fails on by default (rewrites re-add already-streamed rows —
    * only `ignoreChanges` treats them as appends). Cost: two
    * checkpoint-bounded state reconstructions, O(1) in table age.
    */
  private[graft] def headVersionNumber(root: String): Option[Int] = headNumber(root)

  private[graft] def versionState(root: String, n: Int): Version = stateAt(root, n)

  /** The root-relative (path, size) of the files version `n` ADDED over its
    * predecessor (size -1 when the manifest predates fmt=3; callers stat),
    * the count it REMOVED, and whether it is an UNRESOLVED staged txn
    * commit (vt23), in one pair of checkpoint-bounded state reads.
    *
    * A nonzero removed count marks a CHANGE commit (COW merge/delete,
    * compact, zorder) — the signal the streaming source's fail-on-changes
    * guard keys off: such a commit's "adds" are rewrites of already-streamed
    * rows, not new data. The source must not advance past a pending staged
    * commit: its add-set is empty NOW but becomes the txn's files when the
    * marker commits, and an offset already past it would silently skip
    * them. Pending results must never be memoized (resolution changes
    * them); committed/aborted resolutions are terminal and cache fine.
    */
  private[graft] def addedRemovedPending(root: String, n: Int)
      : (Seq[(String, Long)], Int, Boolean) = {
    val cur = stateAt(root, n)
    val (added, removedCount) =
      if (n <= 1) (cur.files, 0)
      else {
        val prev = stateAt(root, n - 1)
        val curSet = cur.files.toSet
        // a file whose DV attachment set changed (vt27) is a CHANGE too:
        // its bytes are listed unchanged but rows already streamed from it
        // are now deleted — count it beside the delisted files so the
        // stream's fail-on-changes guard fires on merge-on-read deletes
        // exactly as it does on copy-on-write ones
        val dvChanged = cur.files.count(f => prev.files.contains(f) &&
          cur.dvs.getOrElse(f, Nil) != prev.dvs.getOrElse(f, Nil))
        (cur.files.filterNot(prev.files.toSet),
          prev.files.count(f => !curSet.contains(f)) + dvChanged)
      }
    (added.map(f => (f, cur.sizes.getOrElse(f, -1L))), removedCount,
      cur.pendingTxn.isDefined)
  }

  // private[graft] so the spec can drive the CAS with a racing version
  // number directly — a single-threaded test can't interleave two appends
  // between version selection and promote
  private[graft] def writeManifest(root: String, v: Version): Version =
    commit(root, None, checkpoint(v))

  /** The manifest text of `raw`; [[parseManifest]] is its inverse. A FULL
    * manifest lists a state, whose per-file bloom and null-count lines have
    * no order of their own, so they go sorted by path (and bloom column);
    * a delta's follow its entries. Unprefixed file lines mark a full
    * manifest, `-`/`+` a delta's removes and adds.
    */
  private[graft] def render(raw: Raw): String = {
    val head = s"op=${raw.op} parent=${raw.parent} fmt=$ManifestFormat" +
      (if (raw.full) " full=1" else "") +
      (if (raw.ts >= 0) s" ts=${raw.ts}" else "") +
      (if (raw.statsCols.nonEmpty) s" stats=${raw.statsCols.mkString(",")}" else "") +
      (if (raw.bloomCols.nonEmpty) s" bloom=${raw.bloomCols.mkString(",")}" else "")
    val perFile =
      if (raw.full) raw.entries.sortBy(_.path).map(e => e.copy(blooms = e.blooms.sortBy(_._1)))
      else raw.entries
    // a schema line on a DELTA overrides the inherited contract going
    // forward (fold's raw.schema.orElse(base.schema)) — evolve()'s hook;
    // constraint lines on a delta are the commit's ADDED constraints;
    // dv lines on a delta are its ATTACHED deletion vectors (fold appends
    // them per file)
    (head +: (raw.schema.map(s => s"schema=$s").toSeq ++
      raw.txnMarker.map(m => s"txnmarker=$m") ++
      raw.constraints.map { case (nm, sql) => s"constraint=$nm:$sql" } ++
      raw.colMap.toSeq.sorted.map { case (l, p) => s"colmap=$l:$p" } ++
      perFile.flatMap(e => e.blooms.map { case (c, bits) =>
        s"bloom=$c:${bloomB64(bits)}:${e.path}" }) ++
      raw.dvs.toSeq.sortBy(_._1).flatMap { case (f, atts) =>
        atts.map { case (sc, cnt) => s"dv=$cnt|$sc|$f" } } ++
      perFile.collect { case e if e.rowCount >= 0 =>
        s"nulls=${(e.rowCount +: e.nullCounts).mkString(",")}|${e.path}" } ++
      raw.txns.toSeq.sorted.map(t => s"txn=$t") ++
      raw.removed.map("-" + _) ++ raw.entries.map { e =>
      (if (raw.full) "" else "+") + (Seq(e.path, e.size.toString) ++
        e.ranges.flatMap { case (mn, mx) => Seq(mn.toString, mx.toString) }).mkString("|")
    })).mkString("\n")
  }

  /** State `v` as the FULL manifest that folds back to it (its pending-txn
    * flag aside): the checkpoint a commit writes in place of its delta.
    */
  private def checkpoint(v: Version): Raw = {
    val blooms = v.blooms.toSeq.groupMap(_._1._1) { case ((_, c), bits) => c -> bits }
    Raw(v.n, v.op, v.parent, full = true, v.statsCols,
      v.files.map { f =>
        val (rc, ncs) = v.nulls.getOrElse(f, (-1L, Nil))
        FileEntry(f, v.stats.getOrElse(f, Nil), v.sizes.getOrElse(f, -1L),
          blooms.getOrElse(f, Nil), rc, ncs)
      },
      txns = v.txns, schema = v.schema, ts = v.ts, constraints = v.constraints,
      colMap = v.colMap, bloomCols = v.bloomCols, dvs = v.dvs)
  }

  /** The delta record of commit `op` on top of `cur`: numbered and
    * parented after it, and tracking `statsCols`/`bloomCols`, else the
    * table's own. Writers add their files and contract changes with `copy`.
    */
  private def next(cur: Option[Version], op: String, statsCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil): Raw =
    Raw(cur.fold(1)(_.n + 1), op, cur.fold(0)(_.n),
      statsCols = if (statsCols.nonEmpty) statsCols else cur.fold(Seq.empty[String])(_.statsCols),
      bloomCols = if (bloomCols.nonEmpty) bloomCols else cur.fold(Seq.empty[String])(_.bloomCols))

  /** `cur`'s whole state as the FULL record of commit `op` on top of it —
    * the base of the metadata-only rewrites (drop a constraint, drop or
    * rename a column).
    */
  private def restated(cur: Version, op: String): Raw =
    checkpoint(cur).copy(n = cur.n + 1, op = op, parent = cur.n)

  /** Commit `added` (and delist `removed`) as the next version — the
    * metadata-only entry point the checkpoint-cadence and concurrency specs
    * drive (a 1000-commit log without a thousand Spark writes). Re-reads
    * the log each call.
    */
  private[graft] def commitFiles(root: String, op: String, added: Seq[FileEntry],
      statsCols: Seq[String], schemaDDL: Option[String] = None,
      removed: Seq[String] = Nil): Version = {
    val cur = currentVersion(root)
    commit(root, cur, next(cur, op, statsCols).copy(entries = added, removed = removed),
      schemaDDL)
  }

  /** Commit `raw` as the next version on top of `cur` — the ONE write path
    * of the log: every append, merge, delete, update, DV attach and purge,
    * compaction, overwrite, rollback, clone, constraint, evolve and staged
    * verb promotes its manifest here.
    *
    * A delta is checked against `cur` first: its removes and dv targets
    * must be listed, its stats and bloom columns must be the table's, and
    * `schemaDDL` (the commit's data schema) must match the recorded
    * contract. The commit is stamped with its wall time ([[commitTs]]), and
    * a log's first commit records `schemaDDL` as the contract.
    * The record is written FULL when it is one (overwrite, compaction, …)
    * or lands on v1 or a [[CheckpointInterval]] multiple, else as the delta
    * (O(commit) bytes); a staged record (txn marker) always stays a delta,
    * because an aborted full manifest could not fold as a no-op. The
    * returned state is the readers' own fold of what was written; a staged
    * one is flagged `pendingTxn`, reflecting the txn OPTIMISTICALLY (as if
    * it commits) — readers see the passthrough until the marker resolves.
    */
  private def commit(root: String, cur: Option[Version], raw: Raw,
      schemaDDL: Option[String] = None): Version = {
    val staged = raw.txnMarker.isDefined
    requireNoPendingTxn(cur, root)
    if (!raw.full) {
      raw.dvs.keys.foreach(f => require(cur.exists(_.files.contains(f)),
        s"dv attach targets $f, which the current version does not list"))
      require(raw.statsCols.isEmpty ||
          cur.forall(c => c.statsCols.isEmpty || c.statsCols == raw.statsCols),
        s"table tracks stats on ${cur.map(_.statsCols)}, not ${raw.statsCols}")
      require(raw.bloomCols.isEmpty ||
          cur.forall(c => c.bloomCols.isEmpty || c.bloomCols == raw.bloomCols),
        s"table tracks blooms on ${cur.map(_.bloomCols)}, not ${raw.bloomCols}")
      // schema guard: a multi-file parquet read takes ONE footer's schema,
      // so appending a different column set would silently drop columns at
      // read time — refuse here instead; schema EVOLUTION is overwrite()'s
      // job (a full manifest records the new contract)
      for (s <- schemaDDL; c <- cur; t <- c.schema)
        require(t == s,
          if (staged) s"schema drift on staged commit: table at $root is `$t`, " +
            s"commit is `$s` — staged writes must match the contract"
          else s"schema drift on append: table at $root is `$t`, commit is `$s` — " +
            "appends must match; evolve the schema with overwrite()")
      val curFiles = cur.map(_.files.toSet).getOrElse(Set.empty)
      raw.removed.foreach(f => require(curFiles.contains(f),
        s"${if (staged) "staged commit" else "commit"} removes $f, which the current " +
          "version does not list"))
    }
    val first = raw.copy(ts = commitTs(cur),
      schema = if (cur.isEmpty) raw.schema.orElse(schemaDDL) else raw.schema)
    val base = Some(cur.getOrElse(NoState))
    val written =
      if (first.full || staged || (first.n != 1 && first.n % CheckpointInterval != 0)) first
      else checkpoint(foldResolved(base, first))
    val state = foldResolved(base, written)
    promoteState(root, written.n, render(written), written.full)
    if (staged) state.copy(pendingTxn = raw.txnMarker) else state
  }

  /** The wall-time a commit records (vt19): now, clamped MONOTONIC against
    * the parent's — a clock that steps backward (NTP correction, VM
    * migration) must not produce a version log where timestamp travel's
    * "greatest version at or before t" is ambiguous. Delta applies the same
    * clamp to its commit timestamps.
    */
  private def commitTs(parent: Option[Version]): Long =
    math.max(System.currentTimeMillis(), parent.map(_.ts).getOrElse(-1L))

  /** The manifest CAS lost: another writer already committed the version
    * this one staged. The one signal every retry loop ([[retryOnRace]])
    * catches.
    */
  final class ConcurrentCommitException(msg: String, cause: Throwable)
      extends IllegalStateException(msg, cause)

  /** Run `attempt` again while it loses a commit race, at most
    * `maxRetries` more times; past that the loss propagates loudly. Each
    * attempt re-reads the head itself. What an attempt redoes is the
    * caller's: [[appendWithRetry]] re-commits the files it landed once,
    * while a copy-on-write verb re-plans and re-writes (the winner may have
    * changed the affected-file set; the losing attempt's files are orphans
    * [[gcOrphans]] ages out). The DML verbs default to 0 retries: the loss
    * is loud and the caller owns the policy, as with a failed Delta
    * transaction.
    */
  @annotation.tailrec
  private def retryOnRace[A](maxRetries: Int)(attempt: => A): A =
    scala.util.Try(attempt) match {
      case scala.util.Failure(_: ConcurrentCommitException) if maxRetries > 0 =>
        retryOnRace(maxRetries - 1)(attempt)
      case r => r.get
    }

  private def promoteState(root: String, n: Int, body: String, full: Boolean): Unit = {
    Files.createDirectories(vlogDir(root))
    val tmp = Files.createTempFile(vlogDir(root), s".v$n-", ".staged")
    Files.writeString(tmp, body)
    // atomic promote via hard link: POSIX rename REPLACES silently (so an
    // ATOMIC_MOVE would let the second writer clobber the first), while
    // link(2) fails with EEXIST — fully-written content appears under the
    // final name in one atomic step, and a concurrent winner loses loudly.
    try Files.createLink(manifestPath(root, n), tmp)
    catch { case e: java.nio.file.FileAlreadyExistsException =>
      throw new ConcurrentCommitException(
        s"concurrent commit: version $n already exists at $root " +
          "(re-read the log and retry on top of it)", e)
    }
    finally Files.deleteIfExists(tmp)
    if (full) writePointer(root, n) // after the link: never points ahead
  }

  /** Land `df`'s files in a fresh commit-scoped dir under the physical
    * names of `colMap`, returning (entries, in-flight marker) — the one
    * place a data file of the log is written. The entries list the files
    * in path order with their byte sizes (fmt=3; root-relative, so a
    * manifest survives a table relocation) and, when `statsCols` is
    * non-empty, each file's [[Measured]] stats: ranges, row count and null
    * counts of [[statsLongExpr]]'s encoding and the bloom bits of
    * `bloomCols`, taken by the write tasks from the rows they wrote
    * ([[WriteStats]]), so no footer or file is read back. A file without
    * rows gets a stats-less entry. Blooms ride stats-tracked writes only.
    *
    * The same tasks count each of `constraints`' violating rows — rows
    * where the CHECK is FALSE; NULL passes. Any violation throws once the
    * files land, before an entry is returned, so the caller commits
    * nothing and the refused files age into [[gcOrphans]]' reclaim.
    *
    * The write is one [[WriteCommand]]: Spark's own task writer with this
    * log's commit protocol ([[DirectCommit]]), so each file lands at its
    * final path and the file list comes from the committed tasks' messages
    * — no `_temporary`, rename, `_SUCCESS` or directory listing. The
    * manifest CAS stays the only commit.
    *
    * The marker (`data/c<n>-<uuid>.inflight`, written BEFORE the data) is
    * the writer-liveness signal [[gcOrphans]] honors: a file's mtime is when
    * its task finished, not when the commit will, so file age alone cannot
    * distinguish a slow in-flight commit from a dead one — the marker's age
    * (= when the write STARTED) can. Callers delete it right after their
    * manifest commits; a crashed writer leaves it to age out.
    */
  private def writeData(df: DataFrame, root: String, n: Int,
      statsCols: Seq[String] = Nil, colMap: Map[String, String] = Map.empty,
      options: Map[String, String] = Map.empty,
      constraints: Seq[(String, String)] = Nil,
      bloomCols: Seq[String] = Nil): (Seq[FileEntry], Path) = {
    val blooms = if (statsCols.isEmpty) Nil else bloomCols
    // physicalize renames in place, so the logical frame's ordinals are the
    // written rows' ones: constraint SQL and bloom columns bind by logical name
    val stats = Option.when(statsCols.nonEmpty || constraints.nonEmpty)(new WriteStats(
      statsCols.map { c =>
        val i = df.schema.fieldIndex(c)
        statsLongExpr(c, df.schema(i).dataType) // refuses a type without an exact encoding
        i -> df.schema(i).dataType
      }, constraints.length, blooms,
      rowExprs(df.sparkSession, df.schema, constraints.map { case (_, sql) =>
        !coalesce(expr(sql), lit(true))
      } ++ blooms.flatMap(c =>
        bloomPositions(ColumnBridge.expression(col(c))).map(ColumnBridge.column)))))
    val dataDir = Paths.get(root, "data", s"c$n-${java.util.UUID.randomUUID()}")
    Files.createDirectories(dataDir)
    val marker = dataDir.getParent.resolve(dataDir.getFileName.toString + ".inflight")
    Files.writeString(marker, "")
    val phys = physicalize(df, colMap)
    val protocol = new DirectCommit(java.util.UUID.randomUUID().toString, dataDir.toString)
    val session = phys.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    new QueryExecution(session, WriteCommand(phys.queryExecution.analyzed, dataDir.toString,
      protocol, stats.toSeq, options), phys.queryExecution.tracker,
      shuffleCleanupMode = QueryExecution.determineShuffleCleanupMode(session.sessionState.conf)
    ).assertCommandExecuted()
    stats.foreach(s => refuseViolations(root, constraints.zip(s.violations)))
    val measured = if (statsCols.isEmpty) Map.empty[String, Measured] else stats.get.measured
    val rootP = Paths.get(root)
    (protocol.committed.sortBy(_._1).map { case (f, sz) =>
      val rel = rootP.relativize(Paths.get(f)).toString
      measured.get(f).fold(FileEntry(rel, Nil, sz))(m =>
        FileEntry(rel, m.ranges, sz, m.blooms, m.rowCount, m.nullCounts))
    }, marker)
  }

  /** The k bloom bit positions of `e`, one per seed: Spark's 64-bit xxHash
    * of `(e, seed)` modulo [[BloomBits]]. The one hashing both the write
    * tasks ([[WriteStats]], over each written value) and a probe
    * ([[prunedFiles]], over a literal of the column's type) use, so a probe
    * tests exactly the bits its value would have set.
    */
  private def bloomPositions(e: Expression): Seq[Expression] =
    (0 until BloomHashes).map(sd =>
      Pmod(new XxHash64(Seq(e, Literal(sd))), Literal(BloomBits.toLong)))

  /** An empty relation with `schema`'s fields, every one nullable as a file
    * reads back: the ground [[rowExprs]], [[analyzesDeterministic]] and
    * [[conjuncts]] resolve Columns on. Its rows come from an empty RDD,
    * which no optimizer rule can fold away; nothing runs.
    */
  private def emptyRows(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      StructType(schema.fields.map(_.copy(nullable = true))))

  /** `cols` resolved and optimized against rows of `schema`, then bound to
    * its ordinals: catalyst expressions a task evaluates per row.
    */
  private def rowExprs(spark: SparkSession, schema: StructType,
      cols: Seq[Column]): Seq[Expression] =
    if (cols.isEmpty) Nil
    else {
      import org.apache.spark.sql.catalyst.expressions.{Alias, BindReferences}
      import org.apache.spark.sql.catalyst.plans.logical.Project
      emptyRows(spark, schema).select(cols: _*).queryExecution.optimizedPlan match {
        case Project(list, child) => list.map(e => BindReferences.bindReference(
          e match { case a: Alias => a.child; case _ => e }, child.output))
        case p => throw new IllegalStateException(s"row expressions planned as $p")
      }
    }

  /** `predicate` resolved and optimized over rows of `v`'s contract, as the
    * conjuncts [[prunedFiles]] reads — one optimizer pass, no physical plan.
    * Constant folding leaves each comparison's literal in its column's type
    * (a DATE literal against a TIMESTAMP column folds to micros), and
    * Spark infers `IS NOT NULL` for every strictly compared column. A
    * predicate the optimizer proves unsatisfiable comes back as one FALSE
    * conjunct. A log without a contract gives none: its bounds cannot be
    * checked against a type, so it reads every file.
    */
  private[graft] def conjuncts(spark: SparkSession, v: Version,
      predicate: Column): Seq[Expression] =
    v.schema.fold(Seq.empty[Expression]) { ddl =>
      emptyRows(spark, StructType.fromDDL(ddl)).filter(predicate)
        .queryExecution.optimizedPlan match {
        case Filter(cond, _) => Seq(cond)
        case _: LocalRelation => Seq(Literal.FalseLiteral)
        case _ => Nil
      }
    }

  /** Refuse a commit whose rows violate a CHECK constraint: `counted` pairs
    * each constraint with its violating rows.
    */
  private def refuseViolations(root: String, counted: Seq[((String, String), Long)]): Unit = {
    val bad = counted.collect { case ((nm, sql), k) if k > 0 => s"`$nm` ($sql): $k row(s)" }
    require(bad.isEmpty,
      s"commit to $root violates CHECK constraint(s) — refused, no metadata written: " +
        bad.mkString("; "))
  }

  /** [[writeData]]'s write as a command, so it plans like any Spark write
    * (AQE over the written query, one write node reporting its files and
    * rows) and runs Spark's own task writer, `FileFormatWriter`, with the
    * log's [[DirectCommit]] and [[WriteStats]] in place of Hadoop's commit
    * protocol and a footer re-read.
    */
  private final case class WriteCommand(query: LogicalPlan, dir: String,
      protocol: DirectCommit, trackers: Seq[WriteStats], options: Map[String, String])
      extends DataWritingCommand {
    override def outputColumnNames: Seq[String] = query.output.map(_.name)

    override def run(session: org.apache.spark.sql.classic.SparkSession,
        child: SparkPlan): Seq[Row] = {
      val conf = session.sessionState.newHadoopConfWithOptions(options)
      FileFormatWriter.write(session, child, new ParquetFileFormat, protocol,
        FileFormatWriter.OutputSpec(dir, Map.empty, outputColumns), conf,
        partitionColumns = Nil, bucketSpec = None,
        statsTrackers = basicWriteJobStatsTracker(conf) +: trackers, options = options)
      Nil
    }

    override protected def withNewChildInternal(child: LogicalPlan): WriteCommand =
      copy(query = child)
  }

  /** The commit protocol of [[writeData]]: each task writes its files at
    * their final paths in the commit dir `dir`, under Spark's usual
    * `part-<split>-<job>-c000.snappy.parquet` names (a retried attempt adds
    * `-a<attempt>`, so two attempts never share a path). Nothing is staged,
    * renamed or marked: the manifest is the table's commit. `commitTask`
    * reports the attempt's (absolute path, size) pairs and `abortTask`
    * deletes its files; the job's files come from the committed tasks'
    * messages alone ([[committed]]), so no failed or duplicate
    * attempt's file reaches a manifest. An aborted job deletes what its
    * committed tasks wrote; a crash leaves it to [[gcOrphans]].
    */
  private[graft] final class DirectCommit(jobId: String, dir: String)
      extends FileCommitProtocol with Serializable {
    private var attemptFiles = Vector.empty[String]
    @transient private var taskCommits = Vector.empty[(String, Long)]
    /** The job's committed (absolute path, size) pairs, once it commits. */
    @transient private[graft] var committed: Seq[(String, Long)] = Nil

    override def setupJob(job: JobContext): Unit = ()
    override def setupTask(ctx: TaskAttemptContext): Unit = attemptFiles = Vector.empty

    override def newTaskTempFile(ctx: TaskAttemptContext, subDir: Option[String],
        spec: FileNameSpec): String = {
      require(subDir.isEmpty, s"a commit dir has no partition subdirectories, got $subDir")
      val split = ctx.getTaskAttemptID.getTaskID.getId
      val attempt = Option(org.apache.spark.TaskContext.get()).fold(0)(_.attemptNumber())
      val f = new HPath(dir, f"${spec.prefix}part-$split%05d-$jobId" +
        (if (attempt == 0) "" else s"-a$attempt") + spec.suffix).toString
      attemptFiles :+= f
      f
    }

    override def commitTask(ctx: TaskAttemptContext): FileCommitProtocol.TaskCommitMessage =
      new FileCommitProtocol.TaskCommitMessage(
        attemptFiles.map(f => f -> Files.size(Paths.get(f))))

    override def abortTask(ctx: TaskAttemptContext): Unit =
      attemptFiles.foreach(delete(ctx.getConfiguration, _))

    override def onTaskCommit(msg: FileCommitProtocol.TaskCommitMessage): Unit =
      taskCommits ++= filesOf(msg)

    override def commitJob(job: JobContext,
        msgs: Seq[FileCommitProtocol.TaskCommitMessage]): Unit =
      committed = msgs.flatMap(filesOf)

    override def abortJob(job: JobContext): Unit =
      taskCommits.foreach { case (f, _) => delete(job.getConfiguration, f) }

    private def filesOf(msg: FileCommitProtocol.TaskCommitMessage): Seq[(String, Long)] =
      msg.obj.asInstanceOf[Seq[(String, Long)]]

    // the local file system's delete also removes the file's `.crc`
    private def delete(conf: org.apache.hadoop.conf.Configuration, f: String): Unit = {
      val p = new HPath(f)
      p.getFileSystem(conf).delete(p, false)
    }
  }

  /** The write-stats tracker of [[writeData]]: each task folds, per file it
    * writes, the row count and, per stats column (its ordinal and type in
    * the written rows), the null count and the (min, max) of
    * [[statsLongExpr]]'s encoding, read straight from the rows the task
    * hands its writer: integral values as they are, DATE as epoch days,
    * TIMESTAMP as epoch micros — the values Spark holds them as. A file
    * where some stats column is all NULL gets no ranges, and a file without
    * rows no measure. Once the job commits, [[measured]] holds every
    * committed task's files by absolute path.
    *
    * `exprs` ([[rowExprs]]) are evaluated per row only on a table with
    * CHECK constraints or bloom columns: first `nChecks` violation flags,
    * summed per task into [[violations]], then [[BloomHashes]] bit
    * positions per column of `blooms`, OR-ed into each file's bits.
    */
  private[graft] final class WriteStats(cols: Seq[(Int, DataType)], nChecks: Int,
      blooms: Seq[String],
      exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      extends WriteJobStatsTracker {
    @transient private[graft] var measured: Map[String, Measured] = Map.empty
    @transient private[graft] var violations: Seq[Long] = Nil

    override def newTaskInstance(): WriteTaskStatsTracker =
      new TaskStats(cols.toArray, nChecks, blooms, exprs)

    override def processStats(stats: Seq[WriteTaskStats], jobCommitTime: Long): Unit = {
      val tasks = stats.map { case s: FileStats => s }
      measured = tasks.flatMap(_.files).toMap
      violations = (0 until nChecks).map(i => tasks.map(_.violations(i)).sum)
    }
  }

  private final case class FileStats(files: Map[String, Measured], violations: Array[Long])
      extends WriteTaskStats

  private final class TaskStats(cols: Array[(Int, DataType)], nChecks: Int,
      blooms: Seq[String], exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      extends WriteTaskStatsTracker {
    private final class Acc {
      var rows = 0L
      val mins: Array[Long] = Array.fill(cols.length)(Long.MaxValue)
      val maxs: Array[Long] = Array.fill(cols.length)(Long.MinValue)
      val nulls = new Array[Long](cols.length)
      val bits = new Array[Long](blooms.length * BloomWords)
    }
    private val open = scala.collection.mutable.HashMap.empty[String, Acc]
    private val done = Map.newBuilder[String, Measured]
    private val violations = new Array[Long](nChecks)
    private val eval =
      if (exprs.isEmpty) null
      else {
        val p = org.apache.spark.sql.catalyst.expressions.UnsafeProjection.create(exprs)
        p.initialize(org.apache.spark.TaskContext.getPartitionId())
        p
      }

    override def newPartition(values: InternalRow): Unit = ()
    override def newFile(path: String): Unit = open(path) = new Acc

    override def newRow(path: String, row: InternalRow): Unit = {
      val a = open(path)
      a.rows += 1
      var i = 0
      while (i < cols.length) {
        val (o, t) = cols(i)
        if (row.isNullAt(o)) a.nulls(i) += 1
        else {
          val v = t match {
            case ByteType => row.getByte(o).toLong
            case ShortType => row.getShort(o).toLong
            case IntegerType | DateType => row.getInt(o).toLong
            case _ => row.getLong(o) // LongType, TimestampType (micros)
          }
          if (v < a.mins(i)) a.mins(i) = v
          if (v > a.maxs(i)) a.maxs(i) = v
        }
        i += 1
      }
      if (eval != null) {
        val out = eval(row)
        var j = 0
        while (j < nChecks) {
          if (out.getBoolean(j)) violations(j) += 1
          j += 1
        }
        while (j < out.numFields) {
          val p = out.getLong(j)
          val w = (j - nChecks) / BloomHashes * BloomWords + (p / 64).toInt
          a.bits(w) |= 1L << (p % 64).toInt
          j += 1
        }
      }
    }

    override def closeFile(path: String): Unit = open.remove(path).foreach { a =>
      if (a.rows > 0) done += path -> Measured(
        ranges = if (a.nulls.contains(a.rows)) Nil else a.mins.toSeq.zip(a.maxs),
        rowCount = a.rows, nullCounts = a.nulls.toSeq,
        blooms = blooms.zipWithIndex.map { case (c, b) =>
          c -> a.bits.slice(b * BloomWords, (b + 1) * BloomWords).toVector
        })
    }

    override def getFinalStats(taskCommitTime: Long): WriteTaskStats =
      FileStats(done.result(), violations)
  }

  /** Land `df`, the rewrite of version `cur`'s `replaced` files — a merge,
    * a copy-on-write delete or update, a purge or a compaction — range-
    * clustered on one key: `key` (a merge passes its first tracked merge
    * key), else the table's first stats column. The rows go to `nFiles`
    * files, by default one per replaced file but no more than
    * `spark.sql.shuffle.partitions` and at least one, each holding a narrow
    * key range disjoint from the others, so a later merge, delete or pruned
    * read overlaps only the files its keys fall in. Without clustering each
    * task of the rewrite lands its own small file spanning whatever keys
    * the shuffle handed it, and every later merge overlaps them all.
    *
    * The split points come from what the driver already holds, never from
    * sampling the rows ([[graft.ops.ZOrder.splitPoints]]): the replaced
    * files' manifest ranges and row counts plus `source`, a merge source's
    * (min, max, rows) on `key` from its control-plane aggregate. The rows
    * land by [[graft.ops.ZOrder.landByCuts]]; NULL and out-of-range keys land
    * in an edge file. A
    * table without stats, a rewrite with no known range, or one whose span
    * does not fit a Long lands unshaped (compaction round-robins into its
    * `nFiles`). The write measures `cur`'s stats and bloom columns and
    * checks `constraints` ([[writeData]]).
    */
  private def writeRewrite(df: DataFrame, root: String, n: Int, cur: Version,
      replaced: Seq[String], colMap: Map[String, String], key: Option[String] = None,
      source: Option[(Long, Long, Long)] = None,
      nFiles: Option[Int] = None,
      constraints: Seq[(String, String)] = Nil): (Seq[FileEntry], Path) = {
    val want = nFiles.getOrElse(math.max(1, math.min(replaced.size,
      df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt)))
    val clustered = for {
      k <- key.orElse(cur.statsCols.headOption)
      if df.columns.contains(k) && statsTypeSupported(df.schema(k).dataType)
      i = cur.statsCols.indexOf(k)
      pieces = replaced.flatMap(f => cur.stats.get(f).flatMap(_.lift(i)).map { case (lo, hi) =>
        (lo, hi, cur.nulls.get(f).fold(1L)(_._1) - cur.dvs.getOrElse(f, Nil).map(_._2).sum)
      }) ++ source
      cuts <- graft.ops.ZOrder.splitPoints(pieces, want)
    } yield graft.ops.ZOrder.landByCuts(df, statsLongExpr(k, df.schema(k).dataType), cuts)
    val shaped = clustered.getOrElse(nFiles.fold(df)(df.repartition))
    writeData(shaped, root, n, cur.statsCols, colMap, constraints = constraints,
      bloomCols = cur.bloomCols)
  }

  private def sealing[A](marker: Path)(commit: => A): A = {
    val v = commit
    Files.deleteIfExists(marker)
    v
  }

  /** Remove a directory tree — the cleanup for a landed-but-not-committed
    * write that turned out to be a provable no-op (nothing references it,
    * so eager removal just saves [[gcOrphans]] the aging wait).
    */
  private def rmRfDir(dir: Path): Unit =
    if (Files.isDirectory(dir)) {
      listClosing(Files.walk(dir))(_.toSeq).sortBy(-_.getNameCount)
        .foreach(Files.deleteIfExists(_))
    }

  /** Append `df` as the next version. Carried files keep their skipping
    * stats; the new commit's files have none (use [[appendWithStats]] to
    * collect them). Metadata cost: one delta manifest (O(commit) bytes),
    * at most [[CheckpointInterval]] manifest reads, and ZERO directory
    * listings — independent of how many commits the table has seen.
    */
  def append(df: DataFrame, root: String): Version = {
    val cur = currentVersion(root)
    val n = cur.map(_.n + 1).getOrElse(1)
    val cmap = cur.map(_.colMap).getOrElse(Map.empty)
    val ddl = normalizedDDL(df)
    val (landed, marker) = writeData(df, root, n, colMap = cmap,
      constraints = cur.map(_.constraints).getOrElse(Nil))
    sealing(marker)(commit(root, cur, next(cur, "append").copy(entries = landed), Some(ddl)))
  }

  /** VT6: append WITH manifest-level skipping stats — after the commit's
    * files land, each file's (min, max) of every column in `statsCols` is
    * recorded in the manifest, measured by the write's own tasks along
    * with the bloom bits and the CHECK constraints' violation counts (no
    * Spark job after the write — see [[writeData]]), so a
    * [[readPruned]] later plans only range-overlapping files without
    * opening a footer. This is file-granularity data skipping from log
    * metadata (the Delta/Iceberg published design); it composes with
    * z-order inside each file (row-group pruning — see the vt7 query) and
    * costs O(commit) at write time, never O(table). Stats columns must be
    * integral, DATE, or TIMESTAMP — encoded as exact longs (value /
    * epoch-day / epoch-micros; enforced loudly, because a truncating float
    * cast could shrink a range and prune a file that matches) — and
    * consistent across commits of one table. A file where any stats column
    * is all-NULL gets NO range entry (read conservatively, never a NULL
    * range); an empty commit (zero part files) measures nothing.
    * `options` passes straight to the parquet writer (e.g.
    * `parquet.block.size` to set the row-group skipping granularity when
    * composing with [[graft.ops.ZOrder]] layouts).
    */
  def appendWithStats(df: DataFrame, root: String, statsCols: Seq[String],
      options: Map[String, String] = Map.empty,
      bloomCols: Seq[String] = Nil): Version = {
    require(statsCols.nonEmpty, "appendWithStats needs at least one stats column")
    statsCols.foreach(c => statsLongExpr(c, df.schema(c).dataType)) // fail BEFORE writing
    bloomCols.foreach(c => require(df.schema.fieldNames.contains(c),
      s"bloom column `$c` is not in the frame"))
    val cur = currentVersion(root)
    val n = cur.map(_.n + 1).getOrElse(1)
    val cmap = cur.map(_.colMap).getOrElse(Map.empty)
    val bCols = if (bloomCols.nonEmpty) bloomCols else cur.map(_.bloomCols).getOrElse(Nil)
    val ddl = normalizedDDL(df)
    val (landed, marker) = writeData(df, root, n, statsCols, cmap, options,
      cur.map(_.constraints).getOrElse(Nil), bCols)
    sealing(marker)(commit(root, cur,
      next(cur, "append", statsCols, bCols).copy(entries = landed), Some(ddl)))
  }

  /** The exact-long encoding of a stats/pruning column — the encoding
    * catalyst itself gives a literal of the column's type, which is what
    * lets [[prunedFiles]] compare analyzed literals with the recorded ranges.
    * Integral as-is, DATE as epoch days, TIMESTAMP as epoch micros; anything
    * else (floats especially: a long cast truncates
    * toward zero and can SHRINK a range — silent wrong pruning) is refused
    * loudly.
    */
  private def statsLongExpr(c: String, dt: org.apache.spark.sql.types.DataType): Column = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType => col(c).cast("long")
      case DateType => expr(s"unix_date(`$c`)").cast("long")
      case TimestampType => expr(s"unix_micros(`$c`)")
      case other => throw new IllegalArgumentException(
        s"stats column `$c` is ${other.simpleString}: skipping stats need an exact long " +
          "encoding (integral, DATE, or TIMESTAMP) — a truncating cast could shrink a " +
          "range and prune files that match; cast the column or track another")
    }
  }

  private def statsTypeSupported(dt: org.apache.spark.sql.types.DataType): Boolean =
    try { statsLongExpr("x", dt); true } catch { case _: IllegalArgumentException => false }

  /** [[statsLongExpr]] as a SQL fragment — for call sites that compose it
    * into `selectExpr` arithmetic (exact `div` bucketing in [[keyRangeSet]]).
    */
  private def statsLongSql(c: String, dt: org.apache.spark.sql.types.DataType): String = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType => s"CAST(`$c` AS BIGINT)"
      case DateType => s"CAST(unix_date(`$c`) AS BIGINT)"
      case TimestampType => s"unix_micros(`$c`)"
      case other => throw new IllegalArgumentException(
        s"stats column `$c` is ${other.simpleString}: no exact long encoding")
    }
  }

  /** What the write tasks measured of one non-empty landed file. `ranges`
    * is empty when any stats column holds no non-NULL value in the file.
    */
  private[graft] final case class Measured(ranges: Seq[(Long, Long)], rowCount: Long,
      nullCounts: Seq[Long], blooms: Seq[(String, Vector[Long])])

  /** VT8: optimistic-retry append — the CAS loser's side of the concurrency
    * story. The data files land ONCE (immutable, commit-scoped); on a lost
    * race (`concurrent commit` from the manifest CAS) only the METADATA
    * retry runs: re-read the log, re-commit the same files on top of the
    * winner. Bounded by `maxRetries`, then the loss propagates loudly (the
    * landed files age into [[gcOrphans]]' reclaim). Safe under any
    * interleaving: every retry re-reads the current state, and the
    * hard-link promote guarantees exactly one writer per version number.
    * The write checks the constraints of the head it started from; an
    * attempt whose head carries a constraint added since is checked against
    * it by [[countViolations]], the count [[addConstraint]] admits with.
    */
  def appendWithRetry(df: DataFrame, root: String, maxRetries: Int = 5): Version = {
    val cur = currentVersion(root)
    val n0 = cur.map(_.n + 1).getOrElse(1)
    val cmap = cur.map(_.colMap).getOrElse(Map.empty)
    val ddl = normalizedDDL(df)
    var validated = cur.map(_.constraints).getOrElse(Nil)
    val (landed, marker) = writeData(df, root, n0, colMap = cmap, constraints = validated)
    sealing(marker) {
      // a racing commit may have ADDED a constraint, and its admission check
      // counted only committed data — never these not-yet-committed files
      retryOnRace(maxRetries) {
        val head = currentVersion(root)
        // the landed files carry the PRE-WRITE physical names: a rename
        // racing this append would pair a stale generation of names with a
        // post-rename contract — refuse instead of committing wrong files
        require(head.map(_.colMap).getOrElse(Map.empty) == cmap,
          s"concurrent column rename at $root while this append was in flight — " +
            "re-run the append (its files carry the pre-rename physical names)")
        val added = head.toSeq.flatMap(h => h.constraints.filterNot(validated.contains).map {
          case c @ (_, sql) =>
            c -> countViolations(df.sparkSession, root, h.copy(schema = Some(ddl)),
              landed.map(_.path), sql)
        })
        refuseViolations(root, added)
        validated ++= added.map(_._1)
        commit(root, head, next(head, "append").copy(entries = landed), Some(ddl))
      }
    }
  }

  /** The metadata retry loop behind [[appendWithRetry]] — `private[graft]`
    * so the concurrency spec can hammer it from racing threads without
    * paying a Spark write per commit.
    */
  private[graft] def retryCommit(root: String, op: String, added: Seq[FileEntry],
      statsCols: Seq[String], maxRetries: Int,
      schemaDDL: Option[String] = None): Version =
    retryOnRace(maxRetries)(commitFiles(root, op, added, statsCols, schemaDDL))

  /** VT9: OPTIMIZE-style compaction THROUGH the log — the deliberate answer
    * to the small-files pathology a per-micro-batch sink (ST17) accretes:
    * rewrite the CURRENT version's rows into `nFiles` outputs and commit
    * them as a FULL `compact` manifest. Snapshot semantics are preserved
    * end-to-end: readers of older versions still plan the old files
    * (immutable — reclaim is [[vacuum]]'s deliberate job, never compaction's
    * side effect), concurrent readers of the current version are untouched,
    * and the accumulated stream-batch ids ride along so replay dedup
    * survives compaction. If the table tracks skipping stats, the rewrite
    * lands range-clustered on the first stats column into at most `nFiles`
    * files, with split points taken from the manifest's ranges and row
    * counts (no sampling job; [[writeRewrite]]), and the stats are
    * RECOMPUTED for the new files by their write — a pruned read is
    * exactly as selective after the rewrite. A table without stats
    * round-robins into `nFiles`. For multi-dimension clustering instead of
    * bin-packing, pre-shape with
    * [[graft.ops.ZOrder.zCluster]] and [[overwrite]]; this op is the
    * file-count lever, one shuffle, O(current version) and never O(history).
    * On a lost commit race (an append landed while the rewrite ran) the CAS
    * throws and the rewritten files are orphaned — [[gcOrphans]] reclaims
    * them; re-run against the new head.
    */
  def compact(spark: SparkSession, root: String, nFiles: Int): Version = {
    require(nFiles >= 1, s"nFiles must be >= 1, got $nFiles")
    val cur = currentVersion(root).getOrElse(
      throw new IllegalArgumentException(s"no committed versions at $root"))
    requireNoPendingTxn(Some(cur), root)
    val n = cur.n + 1
    val df = read(spark, root, Some(cur.n))
    // a stats-tracked table compacts RANGE-CLUSTERED on its primary stats
    // column, not round-robin: bin-packing would leave every output file
    // spanning the whole key domain, so the recomputed per-file ranges —
    // while correct — would overlap every predicate and pruning silently
    // degrades to a full scan (spec-pinned). Multi-dimension clustering
    // stays ZOrder+overwrite's job. The rewrite lands under LOGICAL names
    // and the FULL manifest carries no colmap: compaction MATERIALIZES any
    // pending column rename (every file is rewritten anyway — the one
    // moment the mapping is free to drop)
    val (landed, marker) = writeRewrite(df, root, n, cur, cur.files, Map.empty,
      nFiles = Some(nFiles))
    sealing(marker)(commit(root, Some(cur), next(Some(cur), "compact").copy(full = true,
      entries = landed, txns = cur.txns, schema = cur.schema,
      constraints = cur.constraints)))
  }

  /** Single-column convenience overload. */
  def appendWithStats(df: DataFrame, root: String, statsCol: String): Version =
    appendWithStats(df, root, Seq(statsCol))

  /** VT18: OPTIMIZE ZORDER BY through the log — [[compact]]'s file-count
    * lever fused with [[graft.ops.ZOrder]]'s multi-dimension clustering,
    * as one atomic `compact-zorder` commit (the Delta OPTIMIZE ZORDER
    * maintenance op, from its published design). The current version's
    * rows are re-laid-out along the Morton curve of `zCols` (one agg for
    * the dims' ranges + one clustered shuffle — O(current version), never
    * O(history)) and committed FULL with the skipping stats RETRACKED to
    * `zCols`: after the rewrite, a pruned read on ANY clustered dimension
    * plans a strict subset of files (the full manifest records the new
    * stats contract, so later appends must carry the same columns). All
    * of compact's snapshot semantics hold: old versions still plan their
    * old files, reclaim stays vacuum's job, accumulated stream-batch ids
    * ride along. Dim columns must be range-boundable (integral/DATE/
    * TIMESTAMP, the [[statsLongExpr]] contract) and non-degenerate.
    * `options` passes to the parquet writer (`parquet.block.size` sets
    * the row-group granularity the in-file z-layout skips at).
    */
  def compactZOrder(spark: SparkSession, root: String, zCols: Seq[String],
      nFiles: Int, bits: Int = 12,
      options: Map[String, String] = Map.empty): Version = {
    require(zCols.nonEmpty, "compactZOrder needs at least one clustering column")
    require(nFiles >= 1, s"nFiles must be >= 1, got $nFiles")
    val cur = currentVersion(root).getOrElse(
      throw new IllegalArgumentException(s"no committed versions at $root"))
    requireNoPendingTxn(Some(cur), root)
    val df = read(spark, root, Some(cur.n))
    zCols.foreach(c => statsLongExpr(c, df.schema(c).dataType)) // fail before shuffling
    val encoded = zCols.map(c => statsLongExpr(c, df.schema(c).dataType))
    val aggs = encoded.flatMap(e => Seq(min(e), max(e)))
    val r = df.agg(aggs.head, aggs.tail: _*).head
    require(!(0 until 2 * zCols.length).exists(r.isNullAt),
      s"z-order dims $zCols must have at least one non-NULL value each")
    val dimStats = zCols.indices.map(i => (r.getLong(2 * i), r.getLong(2 * i + 1)))
    val shaped = graft.ops.ZOrder.zCluster(
      df.select(df.columns.map(col).toIndexedSeq: _*), encoded, dimStats, bits, nFiles)
    val n = cur.n + 1
    val (landed, marker) = writeData(shaped, root, n, zCols, options = options,
      bloomCols = cur.bloomCols)
    sealing(marker)(commit(root, Some(cur), next(Some(cur), "compact-zorder", zCols)
      .copy(full = true, entries = landed, txns = cur.txns, schema = cur.schema,
        constraints = cur.constraints)))
  }

  /** The range half of [[prunedFiles]]: the files of `files` whose
    * recorded ranges overlap, on every column of `bounds` the version
    * tracks, ANY of its ranges (the disjunctive form OR/IN produce). Files
    * without stats are kept (conservative); an EMPTY range list is a
    * proven contradiction and excludes every stats-bearing file.
    */
  private def rangePruned(v: Version, files: Seq[String],
      bounds: Map[String, Seq[(Long, Long)]]): Seq[String] = {
    val byIdx = bounds.toSeq.map { case (c, rs) => (v.statsCols.indexOf(c), rs) }
      .filter(_._1 >= 0)
    if (byIdx.isEmpty) files
    else files.filter { f =>
      v.stats.get(f).forall { rs =>
        byIdx.forall { case (i, ranges) =>
          rs.lift(i).forall { case (mn, mx) =>
            ranges.exists { case (lo, hi) => mx >= lo && mn <= hi }
          }
        }
      }
    }
  }

  /** The files of `files` (a subset of version `v`'s list) that can hold a
    * row satisfying every one of `conjuncts` — the log's ONE pruning rule.
    * `conjuncts` are analyzed, optimized catalyst predicates whose
    * attribute names map to `v`'s logical columns through `logical`. Every
    * read prunes through here: the native relation's
    * [[org.apache.spark.sql.graft.ManifestFileIndex]] on the filters
    * Catalyst pushes, the library reads and the DML on their predicate's
    * [[conjuncts]], the DSv2 batch on its pushed filters. Three proofs, all
    * from manifest metadata:
    *  - RANGES ([[org.apache.spark.sql.graft.ManifestFileIndex.exprRanges]]
    *    then [[rangePruned]]): the file's recorded range on a tracked column
    *    misses every range the predicate allows;
    *  - NULL COUNTS (vt31): an `IS NULL` conjunct skips a file with zero
    *    nulls in the column, an `IS NOT NULL` one (Spark infers it for every
    *    strictly compared column) a file that is entirely null;
    *  - BLOOMS (vt26): a `column = literal` conjunct on a bloom column skips
    *    a file whose bits lack one of the literal's [[bloomPositions]] (the
    *    literal has the column's type, so it hashes as the written values
    *    did) — the pruning an unsorted high-cardinality column's ranges
    *    cannot do.
    * A proven contradiction — a column's range set empty, or a conjunct
    * folded to FALSE or NULL — keeps no file at all. Files and columns
    * without recorded metadata stay (conservative), and a deletion vector
    * only shrinks a file's rows, so every proof survives one. Only
    * top-level conjuncts count: a null test or equality under OR or NOT
    * proves nothing.
    */
  private[graft] def prunedFiles(v: Version, files: Seq[String], conjuncts: Seq[Expression],
      logical: String => String = identity): Seq[String] = {
    def split(e: Expression): Seq[Expression] = e match {
      case And(l, r) => split(l) ++ split(r)
      case _ => Seq(e)
    }
    val cs = conjuncts.flatMap(split)
    val bounds = ManifestFileIndex.exprRanges(cs)
    if (bounds.valuesIterator.exists(_.isEmpty) ||
        cs.exists { case Literal(b, BooleanType) => b == null || b == false; case _ => false })
      return Nil
    val ranged = rangePruned(v, files, bounds.map { case (c, rs) => logical(c) -> rs })
    val nullTests = cs.collect {
      case IsNull(a: AttributeReference) => (v.statsCols.indexOf(logical(a.name)), true)
      case IsNotNull(a: AttributeReference) => (v.statsCols.indexOf(logical(a.name)), false)
    }.filter(_._1 >= 0)
    val probes = cs.collect {
      case EqualTo(a: AttributeReference, l: Literal) => (a, l)
      case EqualTo(l: Literal, a: AttributeReference) => (a, l)
    }.collect { case (a, l) if l.value != null && l.dataType == a.dataType &&
        v.bloomCols.contains(logical(a.name)) =>
      (logical(a.name), bloomPositions(l).map(_.eval().asInstanceOf[Long]))
    }
    ranged.filter { f =>
      nullTests.forall { case (i, isNull) =>
        !v.nulls.get(f).exists { case (rc, ncs) =>
          ncs.lift(i).exists(nc => if (isNull) nc == 0L else nc == rc)
        }
      } && probes.forall { case (c, positions) =>
        v.blooms.get((f, c)).forall(bits => positions.forall(bloomHasBit(bits, _)))
      }
    }
  }

  /** VT6 (read half): the version's rows with `statsCol` in [lo, hi],
    * planned from ONLY the manifest entries whose (min, max) on that column
    * overlaps — files without stats are read conservatively; the residual
    * filter still applies (stats prune files, they never decide rows).
    * `lo`/`hi` are in the column's stats encoding (the raw value for
    * integral columns); for DATE/TIMESTAMP-tracked columns prefer
    * [[readWhere]], whose residual re-applies the typed predicate.
    */
  def readPruned(spark: SparkSession, root: String, statsCol: String, lo: Long, hi: Long,
      asOf: Option[Int] = None): DataFrame = {
    require(lo <= hi, s"empty range [$lo, $hi]")
    val v = versionAt(root, asOf)
    require(v.statsCols.contains(statsCol),
      s"version ${v.n} at $root tracks stats on ${v.statsCols}, " +
        s"not $statsCol — use read() + filter")
    val cc = col(statsCol)
    scan(spark, root, v, rangePruned(v, v.files, Map(statsCol -> Seq((lo, hi)))))
      .filter(cc >= lo && cc <= hi)
  }

  /** VT10: filter-driven automatic data skipping — [[readPruned]] without
    * the caller doing the range algebra. The predicate is resolved once
    * against the version's contract ([[conjuncts]]) and [[prunedFiles]]
    * plans only the files it cannot rule out: per-column range SETS
    * (conjunctions intersect, OR/IN disjunctions union — so the reference's
    * progressive day-rotation windows prune too; DATE/TIMESTAMP literals
    * arrive epoch-encoded in the column's own unit, matching the stats),
    * null counts and bloom bits. The FULL predicate applies as the
    * residual filter, over [[table]]'s relation of the kept files (whose
    * `inputFiles` are exactly those). Anything the rule cannot bound —
    * non-literal comparisons, untracked columns — contributes NO
    * constraint (conservative: more files read, same rows out). This is
    * the read a user actually writes: `readWhere(s, root, $"k" >= 5 &&
    * $"d" < 100)` skips like the hand-ranged call, proven equivalent in
    * VersionedSpec.
    */
  def readWhere(spark: SparkSession, root: String, predicate: Column,
      asOf: Option[Int] = None): DataFrame = {
    val v = versionAt(root, asOf)
    scan(spark, root, v, prunedFiles(v, v.files, conjuncts(spark, v, predicate)))
      .filter(predicate)
  }

  /** VT26 (read half): POINT-LOOKUP file skipping via per-file BLOOM bits —
    * the pruning min/max ranges cannot do: an equality probe on a
    * high-cardinality UNSORTED column (a doc_id lookup on an ingest-ordered
    * table) overlaps every file's range, but each file's 1024-bit bloom
    * (recorded by [[appendWithStats]]' `bloomCols`, folded by the write
    * tasks along with the stats) proves most files cannot hold the value
    * (the Delta bloom-index / Iceberg puffin design). This is
    * [[readWhere]] of `column = value`: analysis gives the literal the
    * column's CONTRACT type (hashing it under another type would probe
    * garbage bits), and [[prunedFiles]] folds its [[bloomPositions]] on the
    * driver, so no Spark job runs. A file is pruned only when a bit is
    * provably absent: blooms only SKIP, never admit rows (the residual
    * equality filter always applies; bloom-less files read
    * conservatively). Range and null-count pruning compose
    * (intersection). Without a contract schema nothing prunes — never wrong.
    */
  def readEquals(spark: SparkSession, root: String, column: String, value: Any,
      asOf: Option[Int] = None): DataFrame =
    readWhere(spark, root, col(column) === lit(value), asOf)

  /** VT12b: copy-on-write row-level DELETE through the log — the versioned
    * substrate's answer to [[Dml]]'s smart delete (ref `work_item_budget_vs
    * _actual_pipeline/work_item_budget_vs_actual_sync_daily/main.py:368-408`
    * deletes a reporting-date window before re-sync). The predicate's range
    * sets pick the AFFECTED files from the manifest stats (any file that
    * could hold a matching row); ONLY those are read, their surviving rows
    * (predicate false or NULL — SQL DELETE keeps null-predicate rows) are
    * rewritten into a fresh commit dir, and one DELTA manifest delists the
    * affected files and lists the rewrites. Non-overlapping files are
    * neither scanned nor rewritten (spec-pinned), old versions still read
    * the pre-delete state (immutability), and skipping stats are recomputed
    * for the rewritten files. A no-match predicate (zero affected files) is
    * a metadata no-op returning the current version. At 100 TB a
    * date-windowed delete touches ±window files of a date-clustered table;
    * without stats the honest cost is a full rewrite (Delta's behavior
    * without stats too).
    */
  def deleteWhere(spark: SparkSession, root: String, predicate: Column,
      maxRetries: Int = 0): Version =
    retryOnRace(maxRetries)(deleteWhereOnce(spark, root, predicate))

  /** One copy-on-write delete; `staged` is the open transaction marker of
    * [[deleteWhereStaged]].
    */
  private def deleteWhereOnce(spark: SparkSession, root: String, predicate: Column,
      staged: Option[String] = None): Version = {
    val cur = currentVersion(root).getOrElse(
      throw new IllegalArgumentException(s"no committed versions at $root"))
    requireNoPendingTxn(Some(cur), root)
    val affected = prunedFiles(cur, cur.files, conjuncts(spark, cur, predicate))
    if (affected.isEmpty) return cur // provably nothing to delete: no stage needed
    val survivors = scan(spark, root, cur, affected)
      .filter(!coalesce(predicate, lit(false)))
    val n = cur.n + 1
    val ddl = normalizedDDL(survivors)
    val (landed, marker) = writeRewrite(survivors, root, n, cur, affected, cur.colMap)
    sealing(marker)(commit(root, Some(cur),
      next(Some(cur), if (staged.isEmpty) "delete" else "txn-delete")
        .copy(entries = landed, removed = affected, txnMarker = staged), Some(ddl)))
  }

  /** VT25: copy-on-write row-level UPDATE through the log — the third DML
    * verb (Delta ships UPDATE beside DELETE/MERGE; `deleteWhere` and
    * `mergeInto` covered the other two). SQL UPDATE semantics: rows where
    * `predicate` is TRUE get each SET column replaced by its expression
    * (evaluated against the pre-update row — a swap `SET a=b, b=a` works);
    * FALSE or NULL predicate rows carry unchanged. SET expressions are
    * CAST to the column's contract type (a drifting type would otherwise
    * refuse the commit as schema drift — the cast is Delta's rule too).
    * Blast radius is [[deleteWhere]]'s: only files whose manifest stats
    * overlap the predicate's range sets are read and rewritten; untouched
    * files carry by path identity; stats recompute and constraints
    * validate on the rewritten files (an update INTO violation refuses);
    * old versions time-travel the pre-update rows.
    */
  def updateWhere(spark: SparkSession, root: String, predicate: Column,
      set: Map[String, Column], maxRetries: Int = 0): Version =
    retryOnRace(maxRetries)(updateWhereOnce(spark, root, predicate, set))

  private def updateWhereOnce(spark: SparkSession, root: String,
      predicate: Column, set: Map[String, Column]): Version = {
    require(set.nonEmpty, "updateWhere needs at least one SET column")
    val cur = currentVersion(root).getOrElse(
      throw new IllegalArgumentException(s"no committed versions at $root"))
    val affected = prunedFiles(cur, cur.files, conjuncts(spark, cur, predicate))
    if (affected.isEmpty) return cur // provably nothing to update
    val base = scan(spark, root, cur, affected)
    set.keys.foreach(k => require(base.columns.contains(k),
      s"updateWhere: SET column `$k` is not in the table (${base.columns.mkString(", ")})"))
    val hit = coalesce(predicate, lit(false)) // NULL predicate = row not updated
    val updated = base.select(base.columns.map { c =>
      set.get(c) match {
        case Some(v) => when(hit, v.cast(base.schema(c).dataType)).otherwise(col(c)).as(c)
        case None => col(c)
      }
    }.toIndexedSeq: _*)
    val n = cur.n + 1
    val ddl = normalizedDDL(updated)
    val (landed, marker) = writeRewrite(updated, root, n, cur, affected, cur.colMap,
      constraints = cur.constraints)
    sealing(marker)(commit(root, Some(cur), next(Some(cur), "update").copy(entries = landed,
      removed = affected), Some(ddl)))
  }

  /** VT27: MERGE-ON-READ row-level DELETE — [[deleteWhere]]'s semantics at
    * O(deleted rows) write cost instead of O(affected files): victim
    * positions land in one parquet sidecar and one delta manifest ATTACHES
    * it to the affected files; no data file is read-rewritten. The blast
    * radius is still stats-bounded (only range-overlapping files are even
    * scanned for victims), already-deleted positions are never re-recorded
    * (the victim scan runs with existing vectors applied), a no-match
    * predicate commits nothing, and old versions time-travel with their
    * own (smaller) vector sets. Reads of DV-carrying files pay one
    * broadcast anti-join; [[purgeDeletes]] folds accumulated vectors back
    * into clean files when the read tax outgrows the write saving. The
    * predicate must be DETERMINISTIC (it is evaluated in one pass here,
    * but a nondeterministic predicate would make the recorded positions
    * unauditable against any later re-evaluation).
    */
  def deleteWhereDV(spark: SparkSession, root: String, predicate: Column,
      maxRetries: Int = 0): Version =
    retryOnRace(maxRetries)(deleteWhereDVOnce(spark, root, predicate))

  /** True iff `c` ANALYZES deterministic against `v`'s schema contract —
    * the unresolved tree alone cannot answer this (an unresolved `rand()`
    * reports deterministic), so resolve it over an empty contract-typed
    * frame first. A pre-contract log cannot analyze and passes the guard
    * (the legacy-permissive stance every other contract check takes).
    */
  private def analyzesDeterministic(spark: SparkSession, v: Version, c: Column): Boolean =
    v.schema.forall(ddl => emptyRows(spark, StructType.fromDDL(ddl))
      .select(c.as("__p")).queryExecution.analyzed.expressions.forall(_.deterministic))

  /** The merge-on-read verbs claim two working column names for the
    * position scan; refuse up front on a table that carries either (the
    * guarded failure beats an ambiguous-reference AnalysisException from
    * deep inside the anti-join — same stance as mergeClauses' guard).
    */
  private def requireNoReservedDvCols(cur: Version, root: String): Unit =
    cur.schema.map(org.apache.spark.sql.types.StructType.fromDDL).foreach { st =>
      Seq(DvKeyCol, DvPosCol).foreach(c => require(!st.fieldNames.contains(c),
        s"table at $root has a column named `$c`, which the deletion-vector scan " +
          "reserves — rename it (evolveRename) before using merge-on-read DML"))
    }

  private def deleteWhereDVOnce(spark: SparkSession, root: String,
      predicate: Column): Version = {
    val cur = currentVersion(root).getOrElse(
      throw new IllegalArgumentException(s"no committed versions at $root"))
    requireNoPendingTxn(Some(cur), root)
    requireNoReservedDvCols(cur, root)
    require(analyzesDeterministic(spark, cur, predicate),
      "deleteWhereDV needs a deterministic predicate — recorded positions must be " +
        "reproducible; use deleteWhere (copy-on-write) for nondeterministic deletes")
    val affected = prunedFiles(cur, cur.files, conjuncts(spark, cur, predicate))
    if (affected.isEmpty) return cur // provably nothing to delete
    val hit = coalesce(predicate, lit(false)) // NULL predicate keeps the row
    val positions = scan(spark, root, cur, affected, withPos = true).filter(hit)
      .select(col(DvKeyCol).as("file"), col(DvPosCol).as("pos"))
    commitDvAttach(spark, root, cur, "delete-dv", positions, affected,
      addedFiles = Nil, addedDDL = None)
  }

  /** VT27 (update half): MERGE-ON-READ UPDATE — [[updateWhere]]'s SQL
    * semantics as one commit that APPENDS the updated copies and DV-deletes
    * the originals' positions: write cost O(matched rows), not O(affected
    * files). The updated rows validate against the CHECK constraints and
    * land with skipping stats like any append; the same determinism rule
    * as [[deleteWhereDV]] applies (predicate AND set expressions — the
    * matched set is scanned twice: once for positions, once for the
    * rewritten rows, and the two passes must agree).
    */
  def updateWhereDV(spark: SparkSession, root: String, predicate: Column,
      set: Map[String, Column], maxRetries: Int = 0): Version =
    retryOnRace(maxRetries)(updateWhereDVOnce(spark, root, predicate, set))

  private def updateWhereDVOnce(spark: SparkSession, root: String,
      predicate: Column, set: Map[String, Column]): Version = {
    require(set.nonEmpty, "updateWhereDV needs at least one SET column")
    val cur = currentVersion(root).getOrElse(
      throw new IllegalArgumentException(s"no committed versions at $root"))
    requireNoPendingTxn(Some(cur), root)
    requireNoReservedDvCols(cur, root)
    require(analyzesDeterministic(spark, cur, predicate) &&
        set.valuesIterator.forall(analyzesDeterministic(spark, cur, _)),
      "updateWhereDV needs deterministic predicate and SET expressions — the matched " +
        "set is scanned twice (positions + rewrites) and the passes must agree; use " +
        "updateWhere (copy-on-write, one pass) for nondeterministic updates")
    val affected = prunedFiles(cur, cur.files, conjuncts(spark, cur, predicate))
    if (affected.isEmpty) return cur
    val hit = coalesce(predicate, lit(false))
    val matched = scan(spark, root, cur, affected, withPos = true).filter(hit)
    val dataCols = matched.columns.filterNot(c => c == DvKeyCol || c == DvPosCol)
    set.keys.foreach(k => require(dataCols.contains(k),
      s"updateWhereDV: SET column `$k` is not in the table (${dataCols.mkString(", ")})"))
    val updated = matched.select(dataCols.map { c =>
      set.get(c) match {
        case Some(v) => v.cast(matched.schema(c).dataType).as(c)
        case None => col(c)
      }
    }.toIndexedSeq: _*)
    val positions = matched.select(col(DvKeyCol).as("file"), col(DvPosCol).as("pos"))
    val n = cur.n + 1
    val ddl = normalizedDDL(updated)
    val (landed, marker) = writeData(updated, root, n, cur.statsCols, cur.colMap,
      constraints = cur.constraints, bloomCols = cur.bloomCols)
    val res = sealing(marker)(commitDvAttach(spark, root, cur, "update-dv", positions,
      affected, addedFiles = landed, addedDDL = Some(ddl)))
    // a no-victim no-op (every overlapping row already deleted): this
    // write's rewrite set is empty by construction — remove its dir too
    if (res.n == cur.n)
      rmRfDir(Paths.get(marker.toString.stripSuffix(".inflight")))
    res
  }

  /** Land `positions` (file key, row position) as one sidecar and commit
    * it attached to the affected files — the shared tail of the two
    * merge-on-read verbs. Zero victims is a metadata no-op: positions and
    * `addedFiles` both derive from the SAME matched scan, so no victims
    * means no rewrites either — the empty sidecar (and any empty landed
    * rewrite file) is removed and nothing commits. Victim counts per file
    * ride the manifest (`dv=<count>|…`) so history and compaction policy
    * can see delete pressure without opening a sidecar.
    *
    * Sidecar format (round 19): ONE row per file — `(file, cnt, bits)`
    * with the sorted victim positions RLE+varint-compressed into `bits`
    * ([[graft.functions.RlePositions]], ~1-2 bytes/victim sparse, ~4
    * bytes/run dense, vs 8 bytes/victim as raw long rows). The
    * aggregation and encoding run INSIDE the commit job (a native
    * expression over `sort_array(collect_list)`), so no victim position
    * ever reaches the driver. Pre-round-19 sidecars — one `(file, pos)`
    * row per victim — read through the same [[sidecarPositions]] fallback.
    */
  private def commitDvAttach(spark: SparkSession, root: String, cur: Version,
      op: String, positions: DataFrame, affected: Seq[String],
      addedFiles: Seq[FileEntry], addedDDL: Option[String]): Version = {
    val n = cur.n + 1
    import org.apache.spark.sql.graft.ColumnBridge
    val packed = positions.groupBy(col("file")).agg(
      count(lit(1)).as("cnt"),
      ColumnBridge.column(graft.functions.RleEncodePositions(
        ColumnBridge.expression(sort_array(collect_list(col("pos")))))).as("bits"))
    // one sidecar file per commit: victim sets are blast-radius-sized by
    // design (wide deletes belong to the copy-on-write form), so a single
    // coalesced write is the right shape — and one manifest line per file.
    // The write job itself reports each file's victim count: one (file, cnt)
    // pair per affected file, O(affected files), never O(victims)
    val obs = Observation()
    val (sidecars, marker) = writeData(
      packed.observe(obs, collect_list(struct(col("file"), col("cnt"))).as("counts"))
        .coalesce(1), root, n)
    val counts: Map[String, Long] =
      obs.get("counts").asInstanceOf[scala.collection.Seq[Row]]
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    if (counts.isEmpty) {
      // no victims ⟹ no matched rows ⟹ any landed rewrite file is empty:
      // remove the sidecar's commit dir wholesale (the empty part file and
      // its .crc), commit nothing; the caller removes its own empty rewrite dir
      rmRfDir(Paths.get(marker.toString.stripSuffix(".inflight")))
      Files.deleteIfExists(marker)
      return cur
    }
    val keyToFile = affected.map(f => dvKeyOf(f) -> f).toMap
    val sidecar = sidecars.head.path
    val attach: Map[String, Seq[(String, Long)]] = counts.map { case (k, c) =>
      keyToFile.getOrElse(k, throw new IllegalStateException(
        s"dv sidecar records positions for unscanned file key $k")) -> Seq((sidecar, c))
    }
    sealing(marker)(commit(root, Some(cur),
      next(Some(cur), op).copy(entries = addedFiles, dvs = attach), addedDDL))
  }

  /** VT27 (maintenance half): fold accumulated deletion vectors back into
    * clean files — Delta's `REORG TABLE … APPLY (PURGE)`. Only files that
    * CARRY vectors are read (with the vectors applied) and rewritten;
    * clean files are untouched at any table size. After the commit the
    * head serves identical rows with zero anti-joins on the purged files;
    * expired sidecars age out through [[vacuum]]/[[gcOrphans]] like any
    * de-referenced file. The rewrite lands as [[mergeInto]]'s does: range-
    * clustered on the first stats column into at most as many files as it
    * purges ([[writeRewrite]]).
    */
  /** `minDeletedRatio` makes the purge SELECTIVE: only files whose
    * recorded victim share (dv victim count / fmt-6 row count) is at
    * least the threshold rewrite — the operator lever for folding ONLY
    * heavily-deleted files while lightly-touched ones keep paying the
    * (small) anti-join instead of a full rewrite. A file without a
    * recorded row count always purges at any threshold (its ratio is
    * unknowable — the conservative direction HERE is to fold, since
    * keeping it risks unbounded accumulating vectors). Default 0.0 = purge
    * everything that carries a vector (Delta's REORG … APPLY (PURGE)).
    */
  def purgeDeletes(spark: SparkSession, root: String, maxRetries: Int = 0,
      minDeletedRatio: Double = 0.0): Version =
    retryOnRace(maxRetries) {
      require(minDeletedRatio >= 0.0 && minDeletedRatio <= 1.0,
        s"minDeletedRatio must be in [0, 1], got $minDeletedRatio")
      val cur = currentVersion(root).getOrElse(
        throw new IllegalArgumentException(s"no committed versions at $root"))
      requireNoPendingTxn(Some(cur), root)
      val dvd = cur.files.filter { f =>
        cur.dvs.get(f).exists(_.nonEmpty) && {
          val victims = cur.dvs(f).map(_._2).sum
          cur.nulls.get(f) match {
            case Some((rc, _)) if rc > 0 => victims.toDouble / rc >= minDeletedRatio
            case _ => true // no recorded row count: fold (see scaladoc)
          }
        }
      }
      if (dvd.isEmpty) cur // nothing to purge
      else {
        val alive = scan(spark, root, cur, dvd)
        val n = cur.n + 1
        val ddl = normalizedDDL(alive)
        val (landed, marker) = writeRewrite(alive, root, n, cur, dvd, cur.colMap)
        sealing(marker)(commit(root, Some(cur),
          next(Some(cur), "purge-dv").copy(entries = landed, removed = dvd), Some(ddl)))
      }
    }

  /** VT12: copy-on-write MERGE through the log — the reference's signature
    * staged upsert (`snowflake_bq_sync_daily Time Details/main.py:197-206`:
    * MERGE ON keys, matched UPDATE all, not-matched INSERT all; latest-wins
    * within the staging batch via `orderCol`) landing on the TIME-TRAVELABLE
    * substrate instead of plain parquet. The AFFECTED files are those whose
    * stats ranges on every stats-tracked merge key overlap the source's
    * key envelope (a matched row agrees on ALL keys, so any tracked key
    * bounds the blast radius); only those are read and merged with the
    * source ([[MergeInto.merge]] semantics), the result lands in a fresh
    * commit dir, and one DELTA manifest swaps affected for rewritten.
    * Untouched files carry over with their stats — never scanned, never
    * rewritten (spec-pinned); old versions keep the pre-merge state. An
    * empty source is a metadata no-op; a source with no fully-keyed row
    * rewrites nothing and lands pure inserts. Source rows must carry the
    * table's columns; the commit re-checks the schema contract.
    *
    * The rewrite lands range-clustered on the first stats-tracked merge key
    * (else the first stats column) into min(`spark.sql.shuffle.partitions`,
    * affected files) files, at least one, each covering a disjoint key
    * range; the split points come from the affected files' manifest ranges
    * and row counts plus the source's key envelope, so no sampling job runs
    * ([[writeRewrite]]). A later merge over a nearby window therefore
    * rewrites a few narrow files, not every file an earlier merge left. A
    * table without stats lands the rewrite unshaped.
    */
  def mergeInto(spark: SparkSession, root: String, source: DataFrame, keys: Seq[String],
      orderCol: Option[String] = None, maxRetries: Int = 0): Version =
    retryOnRace(maxRetries)(mergeIntoOnce(spark, root, source, keys, orderCol, "merge"))

  /** ST18: exactly-once streaming MERGE — the reference's scheduled
    * incremental upsert (`snowflake_bq_sync_daily Time Details/main.py:
    * 197-206`) run CONTINUOUSLY from `foreachBatch` onto the versioned
    * substrate. [[appendStreamBatch]]'s batch-id dedup extended to
    * copy-on-write commits: a micro-batch already in the log's accumulated
    * `txns` set is a metadata no-op (returns None), so a replayed batch
    * after a crash neither double-applies its updates nor re-inserts its
    * rows; an unseen batch runs the full COW merge and commits under
    * `stream-batch-<id>` (one CAS — a racing replay of the SAME id loses
    * the link and, on re-plan, finds the id committed and skips). The
    * blast radius is [[mergeInto]]'s: only stats-overlapping files rewrite.
    * An EMPTY batch still commits a zero-file delta to record its id —
    * dedup state must advance even when the batch carries nothing.
    */
  def mergeStreamBatch(spark: SparkSession, root: String, source: DataFrame,
      keys: Seq[String], batchId: Long, orderCol: Option[String] = None,
      maxRetries: Int = 5): Option[Version] = {
    val op = s"stream-batch-$batchId"
    retryOnRace(maxRetries) {
      // each attempt re-reads head AND re-checks the txn set: the racing
      // writer that beat us may have been a replay of this very batch
      val cur = currentVersion(root)
      if (cur.exists(_.txns.contains(batchId))) None
      else Some(cur match {
        case None =>
          // first batch onto an empty log: plain append under the op name
          val (landed, marker) = writeData(source, root, 1)
          sealing(marker)(commit(root, None,
            next(None, op).copy(entries = landed), Some(normalizedDDL(source))))
        case Some(c) =>
          val merged = mergeOnState(spark, root, c, source, keys, orderCol, op)
          // empty source returned the same version: commit a zero-file
          // delta anyway so the batch id lands in the txn set
          if (merged.n == c.n) commit(root, Some(c), next(Some(c), op))
          else merged
      })
    }
  }

  private def mergeIntoOnce(spark: SparkSession, root: String, source: DataFrame,
      keys: Seq[String], orderCol: Option[String], op: String): Version = {
    val cur = currentVersion(root).getOrElse(
      throw new IllegalArgumentException(s"no committed versions at $root"))
    requireNoPendingTxn(Some(cur), root)
    mergeOnState(spark, root, cur, source, keys, orderCol, op)
  }

  /** VT22: the FULL conditional-clause MERGE grammar through the log —
    * [[MergeInto.mergeClauses]] (`WHEN MATCHED [AND cond] THEN UPDATE/
    * DELETE …, WHEN NOT MATCHED [AND cond] THEN INSERT`, Delta's clause
    * model) with [[mergeInto]]'s copy-on-write machinery: the same per-key
    * range-set blast radius (a matched update OR DELETE shares its full
    * key with a source row, so the affected-file algebra is unchanged),
    * the same stats recompute, constraint validation and CAS/retry. Clause
    * expressions reference the sides as `t.<col>`/`s.<col>`.
    */
  def mergeIntoClauses(spark: SparkSession, root: String, source: DataFrame,
      keys: Seq[String], matched: Seq[MergeInto.MergeAction],
      insert: Option[Column] = None, orderCol: Option[String] = None,
      maxRetries: Int = 0): Version =
    retryOnRace(maxRetries) {
      val cur = currentVersion(root).getOrElse(
        throw new IllegalArgumentException(s"no committed versions at $root"))
      mergeOnState(spark, root, cur, source, keys, orderCol, "merge-clauses",
        combine = Some((t, s) =>
          MergeInto.mergeClauses(t, s, keys, matched, insert, orderCol)))
    }

  private def mergeOnState(spark: SparkSession, root: String, cur: Version,
      source: DataFrame, keys: Seq[String], orderCol: Option[String],
      op: String,
      combine: Option[(DataFrame, DataFrame) => DataFrame] = None,
      staged: Option[String] = None): Version = {
    require(keys.nonEmpty, "mergeInto needs at least one merge key")
    // a tracked key bounds the blast radius only if the SOURCE column's
    // stats encoding is the table contract's (a DATE source key against a
    // TIMESTAMP-tracked table would bound in the wrong unit — treat the key
    // as untracked instead: wider rewrite, never a wrong one)
    def encoding(dt: DataType): Option[String] = scala.util.Try(statsLongSql("k", dt)).toOption
    val contract = cur.schema.map(StructType.fromDDL)
    val trackedKeys = keys.filter { k =>
      cur.statsCols.contains(k) && {
        val src = encoding(source.schema(k).dataType)
        src.nonEmpty && src == contract.flatMap(_.fields.find(_.name == k))
          .flatMap(f => encoding(f.dataType))
      }
    }
    // one control-plane agg over the source: row count, fully-keyed row
    // count, and the [min, max] envelope of every tracked key (encoded the
    // same way the stats were)
    val keyedCond = keys.map(col(_).isNotNull).reduce(_ && _)
    val aggs = Seq(count(lit(1)).as("n"), count(when(keyedCond, lit(1))).as("keyed")) ++
      trackedKeys.flatMap { k =>
        val e = statsLongExpr(k, source.schema(k).dataType)
        Seq(min(e).as(s"mn_$k"), max(e).as(s"mx_$k"))
      }
    val r = source.agg(aggs.head, aggs.tail: _*).head
    if (r.getLong(0) == 0L) return cur // empty source: metadata no-op
    // per-key range SETS, not a single envelope: a two-window backfill
    // source (the classic Jan+Dec shape) would widen one [min, max] to
    // near-table span and degrade the COW to a full rewrite; bucketing the
    // source's keys inside the envelope and keeping only populated runs
    // (keyRangeSet) scopes `affected` to the actual windows — the range
    // half of the pruning rule, which an OR/IN predicate feeds the same way
    val bounds: Map[String, Seq[(Long, Long)]] = trackedKeys.zipWithIndex.flatMap {
      case (k, i) =>
        if (r.isNullAt(2 + 2 * i)) None
        else Some(k -> keyRangeSet(source, k,
          r.getLong(2 + 2 * i), r.getLong(3 + 2 * i)))
    }.toMap
    val affected =
      if (r.getLong(1) == 0L) Nil // no fully-keyed source row can match anything
      else if (trackedKeys.isEmpty) cur.files // no stats on any key: honest full rewrite
      else rangePruned(cur, cur.files, bounds)
    val target = scan(spark, root, cur, affected)
    val srcSel = source.select(target.columns.map(col).toIndexedSeq: _*)
    val merged = combine.map(f => f(target, srcSel))
      .getOrElse(MergeInto.merge(target, srcSel, keys, orderCol))
    val n = cur.n + 1
    val ddl = normalizedDDL(merged)
    // the rewrite clusters on the first tracked key, whose source envelope
    // (encoded min, max) sits at r(2), r(3)
    val envelope =
      if (trackedKeys.isEmpty || r.isNullAt(2)) None
      else Some((r.getLong(2), r.getLong(3), r.getLong(0)))
    // the merge RESULT (updates included) must pass the constraints —
    // carried-through rows were already valid, so violations can only come
    // from source; the rewrite's own tasks count them as they write
    val (landed, marker) = writeRewrite(merged, root, n, cur, affected, cur.colMap,
      trackedKeys.headOption, envelope, constraints = cur.constraints)
    sealing(marker)(commit(root, Some(cur), next(Some(cur), op).copy(entries = landed,
      removed = affected, txnMarker = staged), Some(ddl)))
  }

  /** The COVERING range set of `source`'s key `k` inside its known
    * [mn, mx] envelope, as ≤[[org.apache.spark.sql.graft.RangeAlgebra
    * .MaxDisjuncts]] intervals: bucket the encoded key into ≤4096
    * equal-width buckets, collect the POPULATED bucket ids (one
    * control-plane distinct over the batch-sized source — ≤4096 rows back,
    * never data), merge adjacent ids into runs, convert runs to value
    * intervals, and merge across the SMALLEST inter-run gaps until the cap
    * holds. Every source key value lies inside some returned interval
    * (bucket-granular, so coverage is by construction — conservative for
    * pruning: a file overlapping an interval may still hold no matching
    * key, and MergeInto carries its unmatched rows through unchanged), so
    * using these intervals to pick `affected` files can widen the rewrite
    * but never lose a matching target row. A two-window backfill thus
    * rewrites two windows' files; the degenerate envelope (every bucket
    * populated, or a span too wide to bucket without overflow) falls back
    * to the single [mn, mx] range — exactly the pre-range-set behavior.
    */
  private[graft] def keyRangeSet(source: DataFrame, k: String, mn: Long, mx: Long,
      maxDisjuncts: Int = org.apache.spark.sql.graft.ColumnBridge.MaxDisjuncts)
      : Seq[(Long, Long)] = {
    val span = BigInt(mx) - BigInt(mn)
    if (span <= 0) return Seq((mn, mx)) // single point (or degenerate): one range
    val nBuckets = 4096
    val w = (span / nBuckets + 1).toLong // fits: span/4096+1 ≤ 2^64/4096 < 2^63
    // (e - mn) can only overflow if span itself exceeds Long range — the
    // BigInt w above already absorbed that; the subtraction below is then
    // still exact because e ∈ [mn, mx] and w ≥ span/4096
    if (span >= BigInt(Long.MaxValue)) return Seq((mn, mx)) // unbucketable span
    // exact integral `div`, never `/`: double division rounds past 2^53 and
    // a value bucketed off-by-one would escape its covering interval
    val encSql = statsLongSql(k, source.schema(k).dataType)
    val ids = source.filter(col(k).isNotNull)
      .selectExpr(s"(($encSql) - (${mn}L)) div ${w}L AS b")
      .distinct().collect().map(_.getLong(0)).sorted
    val runs = ids.foldLeft(Vector.empty[(Long, Long)]) { case (acc, b) =>
      acc.lastOption match {
        case Some((lo, hi)) if b == hi + 1 => acc.init :+ (lo, b)
        case _ => acc :+ (b, b)
      }
    }
    val ranges = runs.map { case (b0, b1) =>
      (mn + b0 * w, List(BigInt(mn) + (BigInt(b1) + 1) * w - 1, BigInt(mx)).min.toLong)
    }
    if (ranges.length <= maxDisjuncts) ranges
    else {
      // keep the (maxDisjuncts - 1) LARGEST gaps as split points; merge the rest
      val splitAfter = (0 until ranges.length - 1)
        .sortBy(i => -(BigInt(ranges(i + 1)._1) - BigInt(ranges(i)._2)))
        .take(maxDisjuncts - 1).toSet
      ranges.zipWithIndex.foldLeft(Vector.empty[(Long, Long)]) { case (acc, (rg, i)) =>
        if (acc.isEmpty || splitAfter.contains(i - 1)) acc :+ rg
        else acc.init :+ (acc.last._1, rg._2)
      }
    }
  }

  /** Replace the table contents with `df` as the next version — always a
    * FULL manifest (it IS the new state, and it doubles as a checkpoint).
    * Old files stay on disk (they back earlier versions) — retention is a
    * separate, deliberate vacuum, never a side effect of a write.
    *
    * If the table tracks skipping stats, they are RECOMPUTED for the new
    * files by the overwrite's own write tasks, as for [[compact]] — a
    * schema evolution or full replacement must not silently degrade every
    * later pruned read to a conservative full scan. Tracked columns the new
    * schema drops (or re-types to something without an exact long encoding)
    * fall out of the tracked set; the full manifest records the new
    * contract either way.
    */
  def overwrite(df: DataFrame, root: String): Version = {
    val cur = currentVersion(root)
    requireNoPendingTxn(cur, root)
    val n = cur.map(_.n + 1).getOrElse(1)
    val keptStats = cur.map(_.statsCols).getOrElse(Nil).filter(c =>
      df.schema.fieldNames.contains(c) && statsTypeSupported(df.schema(c).dataType))
    // constraints whose SQL no longer resolves against the new schema fall
    // out of the contract (the stats-column stance); surviving ones must
    // hold on the replacement data
    val keptConstraints = cur.map(_.constraints).getOrElse(Nil).filter { case (_, sql) =>
      try { df.select(expr(sql)); true }
      catch { case _: org.apache.spark.sql.AnalysisException => false }
    }
    // bloom tracking survives an overwrite only for columns the new schema
    // keeps AND when stats are tracked (the write measures blooms only then)
    val keptBlooms = cur.map(_.bloomCols).getOrElse(Nil)
      .filter(df.schema.fieldNames.contains)
    val ddl = normalizedDDL(df)
    val (landed, marker) = writeData(df, root, n, keptStats, constraints = keptConstraints,
      bloomCols = keptBlooms)
    // overwrite IS the schema-evolution op: the full manifest records the
    // new contract, and later appends are checked against it
    sealing(marker) {
      commit(root, cur, next(cur, "overwrite").copy(full = true, statsCols = keptStats,
        entries = landed, txns = cur.map(_.txns).getOrElse(Set.empty), schema = Some(ddl),
        constraints = keptConstraints,
        bloomCols = if (keptStats.isEmpty) Nil else keptBlooms))
    }
  }

  /** Roll the table back to version `to` by committing a NEW version with
    * `to`'s file list — history is append-only (the bad versions stay
    * auditable), and no data is copied regardless of table size. Written
    * FULL (it's a checkpoint by construction). The accumulated stream-batch
    * ids are the CURRENT set, not the target's: a batch that was committed
    * then rolled back was still decided once — replaying it must stay a
    * no-op (the rollback, not the replay, is the record of its removal).
    */
  def rollback(root: String, to: Int): Version = {
    val target = stateAt(root, to)
    // refuse to flip HEAD onto vacuumed data: the reader failure would
    // otherwise land later and elsewhere (Delta's RESTORE refuses past the
    // vacuum horizon for the same reason). One metadata stat per file,
    // only on this rare op — never on the commit path.
    val missing = target.referencedPaths.filterNot(f =>
      Files.exists(Paths.get(root).resolve(f)))
    require(missing.isEmpty,
      s"cannot roll back to version $to: ${missing.size} of its data files were vacuumed " +
        s"(first: ${missing.headOption.getOrElse("")})")
    val cur = currentVersion(root).get
    requireNoPendingTxn(Some(cur), root)
    // the rollback restores the target's whole state — schema contract,
    // CONSTRAINT set, column mapping and deletion vectors — along with its
    // files (they ARE that schema and mapping's generation, validated under
    // exactly those constraints)
    commit(root, Some(cur), checkpoint(target).copy(n = cur.n + 1, op = "rollback",
      parent = to, txns = cur.txns))
  }

  /** Retention (VT3): delete data files referenced ONLY by versions older
    * than the last `keepLast` — the deliberate counterpart to writes never
    * deleting anything. Returns (deleted, retained) root-relative paths.
    * Manifests stay (history remains auditable — [[archiveManifests]] is
    * the separate op that moves the dead ones out of the hot directory);
    * reading an expired version fails at scan time, which is the honest
    * signal that its data aged out. Scale: pure metadata set-difference
    * over manifests (vocabulary of file names, never data), then unlink —
    * no rewrite of surviving files.
    */
  def vacuum(root: String, keepLast: Int,
      dryRun: Boolean = false): (Seq[String], Seq[String]) = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    val all = versions(root)
    require(all.nonEmpty, s"no committed versions at $root")
    // a version's liveness set includes its DV sidecars (vt27): a retained
    // version whose files carry deletion vectors needs those sidecars to
    // read correctly, so they expire only with the versions that name them
    val live = all.takeRight(keepLast).flatMap(_.referencedPaths).toSet
    // absolute paths are INHERITED (shallow clone, vt21) — expiring them
    // from this table's history must never delete the ORIGIN's data
    val expired = all.dropRight(keepLast).flatMap(_.referencedPaths).filterNot(live)
      .filterNot(f => Paths.get(f).isAbsolute).distinct
    // dryRun (Delta's `VACUUM … DRY RUN`): report what WOULD be deleted,
    // unlink nothing — the sanity check an operator runs before a
    // retention change actually destroys data
    if (!dryRun) expired.foreach(f => Files.deleteIfExists(Paths.get(root).resolve(f)))
    (expired.sorted, live.toSeq.sorted)
  }

  /** VT21: SHALLOW CLONE — a zero-copy writable copy of the table's current
    * state (Delta's `CREATE TABLE ... SHALLOW CLONE`, from its published
    * design): the clone's v1 is ONE full manifest referencing the SOURCE's
    * data files by ABSOLUTE path — no data moved at any table size; the
    * dev/test/experiment workflow every table format ships. Everything
    * composes because the read path resolves paths against the clone root
    * (`Paths.resolve` returns an absolute operand unchanged): skipping
    * stats, the schema contract, and CHECK constraints carry over, reads
    * and pruned reads serve the source's bytes, and WRITES land under the
    * clone root only — an append adds clone-local files, a COW merge/
    * delete rewrites affected source-referenced files INTO the clone and
    * delists them from the clone's manifest while the source table never
    * changes (its own log still references its files).
    *
    * Ownership rule: the clone's retention ops NEVER delete files they do
    * not own — [[vacuum]]/[[vacuumOlderThan]] skip absolute (inherited)
    * paths, and [[gcOrphans]] only walks the clone's own `data/` dir.
    * Vacuuming the SOURCE can still break the clone (same hazard Delta
    * documents — shallow clones borrow liveness from their origin).
    * Stream-batch txn ids are NOT carried: this log's ids are bare longs
    * with no stream identity (Delta's clone can carry txns because its
    * dedup is scoped per appId), so inheriting the source's ids would make
    * a NEW stream pointed at the clone silently skip its first batches —
    * ids restart at 0 under a fresh checkpoint and would collide with the
    * source's history. The clone starts with fresh dedup lineage; replays
    * of the source's own ingest belong on the source. Absolute paths make
    * a clone machine-local — not relocatable, unlike a regular table.
    *
    * `deep = true` is the materializing form (Delta's non-shallow CLONE):
    * source files are COPIED clone-local and referenced relatively, so
    * vacuum behaves symmetrically, the source is deletable afterward, and
    * a shallow clone can be materialized by deep-cloning it.
    */
  def cloneTable(srcRoot: String, dstRoot: String, asOf: Option[Int] = None,
      deep: Boolean = false): Version = {
    val src = versionAt(srcRoot, asOf)
    require(currentVersion(dstRoot).isEmpty,
      s"clone target $dstRoot already has committed versions")
    val srcP = Paths.get(srcRoot)
    // (op, relocation of a data file, relocation of a DV sidecar); the
    // relocated files keep the source's physical column names (its colmap)
    val (op, file, sidecar): (String, String => String, String => String) = if (!deep) {
      // DV sidecars are borrowed exactly like data files: absolute
      // (inherited) paths, protected from the clone's own retention ops
      def abs(f: String): String = srcP.resolve(f).toString
      ("clone", abs, abs)
    } else {
      // DEEP clone (Delta's `CLONE` without SHALLOW — the materializing
      // form): every source file is COPIED into one clone-local commit dir
      // and the manifest references the copies by RELATIVE path, so the
      // ownership asymmetry disappears — the clone vacuums its own files
      // like any regular table, the source is deletable afterward, and the
      // clone is relocatable (no absolute paths). Deep-cloning a SHALLOW
      // clone materializes it (inherited absolute paths resolve unchanged
      // and copy like any other source file). Stats/sizes/schema/
      // constraints re-key to the copied paths; file bytes are identical,
      // so recorded ranges stay exact. Cost is an honest O(table bytes)
      // copy — driver-side here (an admin op, one stream per file); a
      // cluster filesystem would use its own distributed copy.
      // copies PRESERVE each file's `<commitDir>/<name>` tail: commit dirs
      // are uuid-named so the preserved layout is collision-free (files
      // from different commits never share a dir), a regular table's rel
      // paths copy onto themselves, an inherited absolute path (deep-
      // cloning a shallow clone) lands under its origin's dir name — and
      // DV sidecar positions keyed by that tail (vt27) stay valid against
      // the byte-identical copies without rewriting a sidecar
      def copyPreserving(f: String): String = {
        val from = srcP.resolve(f)
        val rel = s"data/${from.getParent.getFileName}/${from.getFileName}"
        val to = Paths.get(dstRoot).resolve(rel)
        Files.createDirectories(to.getParent)
        Files.copy(from, to)
        rel
      }
      val mapping: Map[String, String] = src.files.map(f => f -> copyPreserving(f)).toMap
      // several files legally share one sidecar — copy each once
      val dvMapping: Map[String, String] = src.dvs.valuesIterator.flatten.map(_._1)
        .toSeq.distinct.map(sc => sc -> copyPreserving(sc)).toMap
      ("clone-deep", mapping, dvMapping)
    }
    val r = checkpoint(src)
    commit(dstRoot, None, r.copy(n = 1, op = op, parent = 0,
      txns = Set.empty, // fresh txn lineage — see scaladoc
      entries = r.entries.map(e => e.copy(path = file(e.path))),
      dvs = src.dvs.map { case (f, atts) =>
        file(f) -> atts.map { case (sc, cnt) => (sidecar(sc), cnt) } }))
  }

  // ---- vt23: MULTI-TABLE ATOMIC TRANSACTIONS — a two-phase marker commit
  // across N versioned roots (the catalog-level atomicity Iceberg/Nessie
  // ship; Delta scopes txns per table). Phase 1 stages one delta manifest
  // per table, each carrying the same txn marker path; readers resolve a
  // staged version by the MARKER's state (pending = invisible, committed =
  // visible, deleted = aborted forever), so phase 2 — one atomic rename of
  // `<base>.pending` to `<base>.committed` — flips every table's staged
  // version visible in a single filesystem operation. A crash between
  // stage commits or before the publish leaves every table reading its
  // pre-txn state (spec-raced); writers on a pending table refuse loudly
  // (2PC is a blocking protocol — resolve or abort, or a janitor aborts a
  // stale marker). Markers are tiny and persist so time travel onto staged
  // versions stays resolvable; the next FULL checkpoint materializes the
  // resolved state, after which hot-path probes stop consulting them.

  private[graft] object TxnState extends Enumeration {
    val Pending, Committed, Aborted = Value
  }

  private def txnResolution(markerBase: String): TxnState.Value =
    if (Files.exists(Paths.get(markerBase + ".committed"))) TxnState.Committed
    else if (Files.exists(Paths.get(markerBase + ".pending"))) TxnState.Pending
    else TxnState.Aborted

  private def requireNoPendingTxn(cur: Option[Version], root: String): Unit =
    cur.flatMap(_.pendingTxn).foreach { m =>
      throw new IllegalStateException(
        s"table at $root has an in-flight multi-table transaction (marker $m) — " +
          "commit or abort it first; a write landing on the unresolved state could " +
          "silently drop the transaction's files when it resolves")
    }

  /** Open a transaction: create `<markerDir>/txn-<uuid>.pending` and return
    * the marker BASE path (no extension) that [[appendStaged]] records and
    * [[commitTransaction]]/[[abortTransaction]] resolve. The marker dir is
    * the txn's coordination point — put it somewhere all participants and
    * readers can reach (beside the tables, typically).
    */
  def beginTransaction(markerDir: String): String = {
    Files.createDirectories(Paths.get(markerDir))
    val base = Paths.get(markerDir)
      .resolve(s"txn-${java.util.UUID.randomUUID()}").toAbsolutePath.toString
    Files.writeString(Paths.get(base + ".pending"), "")
    base
  }

  /** Phase 1: stage an append to `root` under the transaction. Lands the
    * data files and commits a DELTA manifest carrying the marker — the
    * version number is claimed via the normal CAS (concurrent writers still
    * race fairly) but the version stays INVISIBLE to readers until the
    * marker commits. All of append's guards run (schema contract, CHECK
    * constraints — validated now, so a constraint violation fails the
    * STAGE and the caller aborts the txn, not the commit). Always a delta,
    * even at checkpoint numbers: an aborted full manifest could not fold
    * as a no-op.
    */
  def appendStaged(df: DataFrame, root: String, txnMarkerBase: String): Version = {
    require(txnResolution(txnMarkerBase) == TxnState.Pending,
      s"transaction $txnMarkerBase is not open (commit it once, stage before committing)")
    val cur = currentVersion(root)
    requireNoPendingTxn(cur, root) // one in-flight txn per table
    val cmap = cur.map(_.colMap).getOrElse(Map.empty)
    val ddl = normalizedDDL(df)
    val n = cur.map(_.n + 1).getOrElse(1)
    val (landed, marker) = writeData(df, root, n, colMap = cmap,
      constraints = cur.map(_.constraints).getOrElse(Nil))
    sealing(marker)(commit(root, cur, next(cur, "txn-append").copy(entries = landed,
      txnMarker = Some(txnMarkerBase)), Some(ddl)))
  }

  /** Staged copy-on-write MERGE — [[mergeInto]]'s full machinery (per-key
    * range-set blast radius, stats recompute, constraint validation) inside
    * a multi-table transaction: the rewrite lands and the delta commits,
    * but affected files stay delisted-PENDING until the marker resolves —
    * readers serve the pre-merge state, an abort makes the rewrite an
    * orphan, and the publish flips the merge visible together with every
    * other table staged under the same marker (the cross-table MERGE
    * consistency case: fact and dimension restated atomically).
    */
  def mergeIntoStaged(spark: SparkSession, root: String, source: DataFrame,
      keys: Seq[String], txnMarkerBase: String,
      orderCol: Option[String] = None): Version = {
    require(txnResolution(txnMarkerBase) == TxnState.Pending,
      s"transaction $txnMarkerBase is not open")
    val cur = currentVersion(root).getOrElse(
      throw new IllegalArgumentException(s"no committed versions at $root"))
    requireNoPendingTxn(Some(cur), root)
    mergeOnState(spark, root, cur, source, keys, orderCol, "txn-merge",
      staged = Some(txnMarkerBase))
  }

  /** Staged copy-on-write DELETE — [[deleteWhere]] inside a transaction,
    * same resolution semantics as [[mergeIntoStaged]].
    */
  def deleteWhereStaged(spark: SparkSession, root: String, predicate: Column,
      txnMarkerBase: String): Version = {
    require(txnResolution(txnMarkerBase) == TxnState.Pending,
      s"transaction $txnMarkerBase is not open")
    deleteWhereOnce(spark, root, predicate, Some(txnMarkerBase))
  }

  /** Phase 2: publish — one atomic rename makes every staged version of
    * this transaction visible at once. Idempotent (a replayed commit of a
    * committed txn is a no-op); a vanished marker (aborted) refuses.
    */
  def commitTransaction(txnMarkerBase: String): Unit = {
    val p = Paths.get(txnMarkerBase + ".pending")
    val c = Paths.get(txnMarkerBase + ".committed")
    if (Files.exists(c)) return // already committed: idempotent
    require(Files.exists(p), s"transaction $txnMarkerBase was aborted (or never begun)")
    try Files.move(p, c, StandardCopyOption.ATOMIC_MOVE)
    catch { case _: java.nio.file.NoSuchFileException =>
      // lost a race: either a concurrent commit (fine) or an abort (not)
      require(Files.exists(c), s"transaction $txnMarkerBase was aborted concurrently")
    }
  }

  /** Abort: delete the pending marker — every staged version becomes a
    * permanent no-op (its data files age into [[gcOrphans]]' reclaim once
    * unresolved no longer protects them). Refuses after a commit; also the
    * janitor's tool for a crashed coordinator's stale marker.
    */
  def abortTransaction(txnMarkerBase: String): Unit = {
    require(!Files.exists(Paths.get(txnMarkerBase + ".committed")),
      s"transaction $txnMarkerBase already committed — roll tables back instead")
    Files.deleteIfExists(Paths.get(txnMarkerBase + ".pending"))
  }

  /** VT19 (retention half): age-based retention — [[vacuum]] with the cut
    * decided by COMMIT TIME instead of version count, the form every table
    * format actually ships (`VACUUM t RETAIN n HOURS`): delete data files
    * referenced ONLY by versions whose commit timestamp is older than
    * `olderThanMs` before `nowMs`. The HEAD version is always retained
    * regardless of age (the table's current state must survive any
    * retention setting), and versions with NO recorded timestamp
    * (pre-vt19 manifests) are retained conservatively — age-unknown data
    * is never deleted on an age policy; use the version-count form for
    * legacy logs. `nowMs` is injectable so retention policy is testable
    * without wall-clock waits. Returns (deleted, retained) paths, same
    * contract as [[vacuum]].
    */
  def vacuumOlderThan(root: String, olderThanMs: Long,
      nowMs: Long = System.currentTimeMillis(),
      dryRun: Boolean = false): (Seq[String], Seq[String]) = {
    require(olderThanMs >= 0, s"olderThanMs must be >= 0, got $olderThanMs")
    val all = versions(root)
    require(all.nonEmpty, s"no committed versions at $root")
    val cutoff = nowMs - olderThanMs
    val head = all.last.n
    def retained(v: Version): Boolean = v.n == head || v.ts < 0 || v.ts >= cutoff
    val live = all.filter(retained).flatMap(_.referencedPaths).toSet
    val expired = all.filterNot(retained).flatMap(_.referencedPaths).filterNot(live)
      .filterNot(f => Paths.get(f).isAbsolute) // inherited (clone) — not ours to delete
      .distinct
    if (!dryRun) expired.foreach(f => Files.deleteIfExists(Paths.get(root).resolve(f)))
    (expired.sorted, live.toSeq.sorted)
  }

  /** VT19 (travel half): the version the table was at wall-clock instant
    * `tsMillis` — the greatest version whose commit timestamp is ≤ the
    * instant (Delta's `timestampAsOf` semantics: "the table as a reader at
    * that moment saw it"). Commit timestamps are monotonic by construction
    * ([[commitTs]] clamps against the parent), so the answer is unique;
    * versions with no recorded timestamp (pre-vt19) count as "at or before
    * any instant", which makes the probe's stopping rule total. Probes
    * BACKWARD from the head reading only manifest HEADERS — O(versions
    * newer than the instant), the audit-read cost profile (recent instants
    * are near-free; an ancient instant on a never-archived log pays a log
    * walk, which is what [[archiveManifests]] bounds). Fails loudly when
    * the instant predates the first commit, or when the walk falls off the
    * archived edge of the log.
    */
  def versionAtTimestamp(root: String, tsMillis: Long): Int = {
    val head = headNumber(root).getOrElse(
      throw new IllegalArgumentException(s"no committed versions at $root"))
    var n = head
    var resolvedTs = Long.MinValue // the ts the probe actually read at n
    while (n >= 1 && {
      val p = manifestPath(root, n)
      if (!Files.exists(p)) throw new IllegalStateException(
        s"version $n at $root is archived — timestamp $tsMillis predates the " +
          "retained log (read it from the archive, or loosen archival)")
      resolvedTs = headerTs(p)
      resolvedTs > tsMillis
    }) n -= 1
    require(n >= 1, s"timestamp $tsMillis predates the first commit at $root " +
      s"(v1 committed at ${headerTs(manifestPath(root, 1))})")
    // a timestamp-LESS resolved version (pre-vt19 manifest, ts = -1) would
    // otherwise count as "at or before any instant" — on a fully legacy log
    // EVERY instant silently resolves to HEAD, turning
    // rollbackToTimestamp("last week") into a no-op. Fail loudly instead
    // (the streaming startingTimestamp path guards the same hazard with its
    // own lenient stance — a stream's "everything" is safe; a batch
    // rollback/read resolving wrong is not).
    require(resolvedTs >= 0,
      s"instant $tsMillis resolves to version $n at $root, which records no commit " +
        "timestamp (pre-timestamp manifest) — timestamp travel is ambiguous on a " +
        "timestamp-less log segment; use version-count travel (read/rollback by " +
        "version number) instead")
    n
  }

  /** The `ts=` of a manifest's HEADER LINE alone — the probe's per-step
    * cost must not pay a full-checkpoint manifest's O(files) entry parse
    * just to read one long (a 100k-file checkpoint is ~10 MB of file
    * lines; the header is its first line). -1 when absent (pre-vt19).
    */
  private def headerTs(p: Path): Long = {
    manifestReads.incrementAndGet()
    val in = Files.newBufferedReader(p)
    val first = try in.readLine() finally in.close()
    if (first == null) -1L
    else first.split(" ").iterator.map(_.split("=", 2))
      .collectFirst { case Array("ts", v) => v.toLong }.getOrElse(-1L)
  }

  /** Read the table AS OF a wall-clock instant — [[read]] with the version
    * resolved by [[versionAtTimestamp]]. The natural audit read for the
    * reference's daily-snapshot data model ("the table as of REPORTING_DATE
    * X's close").
    */
  def readAsOfTimestamp(spark: SparkSession, root: String, tsMillis: Long): DataFrame =
    read(spark, root, Some(versionAtTimestamp(root, tsMillis)))

  /** RESTORE to a wall-clock instant — [[rollback]] with the target
    * resolved by [[versionAtTimestamp]] ("undo everything since t"). Same
    * semantics: append-only history, pointer-flip cost, refusal when the
    * target's data aged out.
    */
  def rollbackToTimestamp(root: String, tsMillis: Long): Version =
    rollback(root, versionAtTimestamp(root, tsMillis))

  /** CDC between two wall-clock instants — [[changes]] with both endpoints
    * resolved by [[versionAtTimestamp]]: "what changed between Monday's
    * close and Wednesday's close", the form an audit consumer actually
    * asks. Endpoints resolve to the snapshots a reader AT those instants
    * saw; equal resolved versions yield an empty change set.
    */
  def changesBetweenTimestamps(spark: SparkSession, root: String,
      fromTs: Long, toTs: Long): DataFrame = {
    require(fromTs <= toTs, s"fromTs $fromTs is after toTs $toTs")
    changes(spark, root,
      versionAtTimestamp(root, fromTs), versionAtTimestamp(root, toTs))
  }

  /** VT20: add a CHECK constraint to the schema contract — named SQL
    * predicates every later write must satisfy (the reference validates
    * required columns before each merge, `snowflake_bq_sync Time details/
    * daily_sync.py:159-166`; Delta's `ALTER TABLE ADD CONSTRAINT` is the
    * published shape). Standard SQL CHECK semantics: a row violates only
    * when the predicate evaluates FALSE — NULL passes (so NOT NULL is its
    * own constraint, [[addNotNull]]). The constraint is admitted only if
    * the CURRENT version's data passes (one count aggregate over the
    * table); the commit itself is metadata-only (a delta carrying the
    * constraint line — zero data files touched, evolve-style). Every later
    * [[append]]/[[appendWithStats]]/[[mergeInto]]/[[overwrite]]/stream
    * commit counts the violating rows in its own write tasks and REFUSES
    * loudly on violation (the refused files age into [[gcOrphans]]'
    * reclaim — the log never references them; see [[writeData]]).
    */
  def addConstraint(spark: SparkSession, root: String, name: String,
      checkSql: String): Version = {
    require(name.nonEmpty && !name.contains(':') && !name.contains('\n'),
      s"constraint name must be non-empty and contain no ':' or newline: `$name`")
    require(!checkSql.contains('\n'), "constraint SQL must be a single line")
    val cur = currentVersion(root).getOrElse(
      throw new IllegalArgumentException(s"no committed versions at $root"))
    requireNoPendingTxn(Some(cur), root)
    require(!cur.constraints.exists(_._1 == name),
      s"constraint `$name` already exists on $root")
    val violations = // admission check: current data must already pass
      if (cur.files.isEmpty) {
        // zero files ≠ zero validation: an unresolvable/malformed checkSql
        // admitted here would poison EVERY later write with a raw analysis
        // error until dropConstraint — analyze it against the recorded
        // schema contract now so the add itself is what fails
        cur.schema.foreach { ddl =>
          val empty = spark.createDataFrame(
            new java.util.ArrayList[org.apache.spark.sql.Row](),
            org.apache.spark.sql.types.StructType.fromDDL(ddl))
          try empty.select(expr(checkSql)).queryExecution.analyzed
          catch { case e: org.apache.spark.sql.AnalysisException =>
            throw new IllegalArgumentException(
              s"cannot add constraint `$name` ($checkSql): it does not analyze " +
                s"against the table's schema contract ($ddl)", e)
          }
        }
        0L
      }
      else countViolations(spark, root, cur, cur.files, checkSql)
    require(violations == 0L,
      s"cannot add constraint `$name` ($checkSql): $violations existing row(s) violate it")
    // a contract-only delta names no bloom columns: readers inherit them
    commit(root, Some(cur), next(Some(cur), "constrain")
      .copy(constraints = Seq(name -> checkSql), bloomCols = Nil))
  }

  /** NOT NULL as a CHECK constraint: `col IS NOT NULL` is never unknown, so
    * the NULL-passes CHECK semantics reduce to exactly the NOT NULL rule.
    */
  def addNotNull(spark: SparkSession, root: String, column: String): Version =
    addConstraint(spark, root, s"nn_$column", s"`$column` IS NOT NULL")

  /** Remove a named constraint from the contract (`ALTER TABLE DROP
    * CONSTRAINT`). Deltas can only ADD constraint lines (the fold
    * accumulates), so the drop commits a FULL manifest carrying the
    * filtered set — metadata-only (zero data files touched), and it
    * doubles as a checkpoint. Time travel still sees the constraint on
    * older versions' state; later writes stop validating it.
    */
  def dropConstraint(root: String, name: String): Version = {
    val cur = currentVersion(root).getOrElse(
      throw new IllegalArgumentException(s"no committed versions at $root"))
    requireNoPendingTxn(Some(cur), root)
    require(cur.constraints.exists(_._1 == name),
      s"no constraint `$name` on $root (have: ${cur.constraints.map(_._1).mkString(", ")})")
    commit(root, Some(cur), restated(cur, "deconstrain")
      .copy(constraints = cur.constraints.filterNot(_._1 == name)))
  }

  /** The rows of `files`, read under `v`'s contract, that violate the
    * CHECK `checkSql` (FALSE; NULL passes) — the count that admits a
    * constraint over committed data, and that checks an in-flight
    * [[appendWithRetry]]'s files against one a racing commit added.
    */
  private def countViolations(spark: SparkSession, root: String, v: Version,
      files: Seq[String], checkSql: String): Long =
    scan(spark, root, v, files).filter(!coalesce(expr(checkSql), lit(true))).count()

  /** Move manifests that no RETAINED version needs out of the hot `_vlog`
    * directory into `_vlog/_archive` — the directory-growth counterpart to
    * [[vacuum]]'s data retention (run it AFTER vacuum with the same
    * `keepLast`, since archived versions stop being visible to
    * [[versions]]/vacuum). A per-minute ST17 sink accretes ~500k manifests
    * a year; the hot path never LISTS them (the `_last_checkpoint` design),
    * but any admin listing — and the object-store namespace itself — still
    * pays for the dead ones. The cut is the nearest CHECKPOINT at or below
    * the oldest retained version, so every retained version still
    * reconstructs (its backward probe lands on a surviving full manifest)
    * and the archive boundary is always a valid fold base. Returns the
    * archived manifest file names.
    */
  def archiveManifests(root: String, keepLast: Int): Seq[String] = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    val head = currentVersion(root).getOrElse(
      throw new IllegalArgumentException(s"no committed versions at $root")).n
    val oldest = math.max(1, head - keepLast + 1)
    // nearest checkpoint at-or-below the oldest retained version; stop at a
    // missing manifest (a previous archival already cut there)
    var cut = oldest
    while (cut >= 1 && Files.exists(manifestPath(root, cut)) &&
      !parseManifest(cut, manifestPath(root, cut)).full) cut -= 1
    if (cut < 1 || !Files.exists(manifestPath(root, cut))) return Nil
    val archive = vlogDir(root).resolve("_archive")
    listManifests(root).collect { case (n, p) if n < cut =>
      Files.createDirectories(archive)
      Files.move(p, archive.resolve(p.getFileName),
        StandardCopyOption.REPLACE_EXISTING)
      p.getFileName.toString
    }
  }

  /** Reclaim data files referenced by NO manifest — the counterpart gap
    * [[vacuum]] cannot cover: vacuum expires HISTORY (files old versions
    * reference), while an orphan was never history at all. Orphans arise
    * when a writer lands its data but never wins a commit — an
    * [[appendWithRetry]] that exhausted its budget, or a crashed writer
    * (data files land before the manifest CAS by design).
    *
    * TWO guards protect in-flight commits, because file mtimes alone
    * cannot: a file's mtime is when its task finished writing it, and the
    * rest of the job plus the constraint pass run before the manifest CAS,
    * so a write merely RUNNING longer than the age gate would otherwise
    * lose its files mid-commit (and the late manifest would link to deleted
    * data — silent corruption). (1) The default gate is 7 DAYS (Delta's
    * published default) — it must exceed the longest plausible in-flight
    * write, and callers shortening it own that contract. (2) Every writer
    * drops a `…inflight` marker BESIDE its commit dir before writing
    * ([[writeData]]) and removes it right after its manifest commits; a
    * commit dir whose marker is younger than the gate is never touched
    * regardless of its files' mtimes (the marker's age is when the write
    * STARTED). An orphan goes with its `.crc`; a stale marker (dead
    * writer) is swept once its dir holds nothing referenced, and the dir
    * with it once no data file is left there. Returns the reclaimed
    * root-relative parquet paths. Cost: one manifest fold + one data-dir
    * listing — metadata-plane only.
    */
  def gcOrphans(root: String, olderThanMs: Long = 7L * 24 * 60 * 60 * 1000): Seq[String] = {
    // ARCHIVED manifests count as references too: a file referenced only by
    // archived history was COMMITTED once — deleting data is vacuum's
    // deliberate job, never a side effect of running archiveManifests
    // without vacuuming first. Archived deltas list their own adds and
    // archived fulls their whole state, so the union over both covers every
    // file any archived version could name. O(archived manifests) reads on
    // this rare admin op only.
    val archiveDir = vlogDir(root).resolve("_archive")
    val archivedRefs: Set[String] =
      if (!Files.isDirectory(archiveDir)) Set.empty
      else listClosing(Files.list(archiveDir))(_.flatMap { p =>
        p.getFileName.toString match {
          case ManifestName(n) =>
            val raw = parseManifest(n.toInt, p)
            raw.entries.map(_.path) ++ raw.dvs.valuesIterator.flatten.map(_._1)
          case _ => Nil
        }
      }.toSeq).toSet
    // a PENDING txn's staged files (vt23) are in NO folded state yet — but
    // a late commitTransaction will make them live, so they are protected
    // until the txn resolves (an ABORTED txn's files, by contrast, are
    // orphans by design and age out normally)
    val pendingRefs: Set[String] = listManifests(root).flatMap { case (n, p) =>
      val raw = parseManifest(n, p)
      raw.txnMarker match {
        case Some(m) if txnResolution(m) == TxnState.Pending => raw.entries.map(_.path)
        case _ => Nil
      }
    }.toSet
    val referenced =
      versions(root).flatMap(_.referencedPaths).toSet ++ archivedRefs ++ pendingRefs
    val dataDir = Paths.get(root, "data")
    if (!Files.isDirectory(dataDir)) return Nil
    val rootP = Paths.get(root)
    val cutoff = System.currentTimeMillis() - olderThanMs
    def inflightFresh(rel: String): Boolean = {
      // rel = data/<commitDir>/…; the liveness marker is data/<commitDir>.inflight
      val parts = rel.split('/')
      parts.length >= 3 && {
        val m = dataDir.resolve(parts(1) + ".inflight")
        Files.exists(m) && Files.getLastModifiedTime(m).toMillis >= cutoff
      }
    }
    val orphans = listClosing(Files.walk(dataDir))(
      _.filter(p => p.getFileName.toString.endsWith(".parquet"))
        .filter(p => Files.getLastModifiedTime(p).toMillis < cutoff)
        .map(p => (p, rootP.relativize(p).toString))
        .filter(e => !referenced.contains(e._2) && !inflightFresh(e._2))
        .toSeq)
    orphans.foreach { case (p, _) =>
      Files.deleteIfExists(p)
      Files.deleteIfExists(p.resolveSibling(s".${p.getFileName}.crc"))
    }
    // stale markers (writer died before sealing): sweep once their commit
    // dir holds no referenced file, and the dir once it holds no data file
    listClosing(Files.list(dataDir))(
      _.filter(_.getFileName.toString.endsWith(".inflight"))
        .filter(m => Files.getLastModifiedTime(m).toMillis < cutoff)
        .toSeq)
      .foreach { m =>
        val dirName = m.getFileName.toString.stripSuffix(".inflight")
        if (!referenced.exists(_.startsWith(s"data/$dirName/"))) {
          Files.deleteIfExists(m)
          val dir = dataDir.resolve(dirName)
          if (Files.isDirectory(dir) && listClosing(Files.list(dir))(
              !_.exists(_.getFileName.toString.endsWith(".parquet")))) rmRfDir(dir)
        }
      }
    orphans.map(_._2).sorted
  }

  /** CDC between two versions (VT4): the rows inserted and deleted going
    * `from` → `to`, as a `change_type`-tagged frame — the "what changed
    * since I last synced" read every downstream consumer of a versioned
    * table wants.
    *
    * The scale property: only files NOT SHARED by the two manifests are
    * read. Files are immutable, so version contents are multisets
    * `shared ⊎ onlyFrom` and `shared ⊎ onlyTo`, and multiset difference
    * cancels the shared part exactly: `to ∖ from = onlyTo ∖ onlyFrom`
    * (Spark's `exceptAll`). An append's CDC therefore costs O(changed
    * files) however large the table — VersionedSpec pins the scan set.
    */
  def changes(spark: SparkSession, root: String, from: Int, to: Int): DataFrame = {
    val vFrom = stateAt(root, from)
    val vTo = stateAt(root, to)
    val (fa, fb) = (vFrom.files.toSet, vTo.files.toSet)
    // a file listed on BOTH sides whose deletion-vector set differs (vt27)
    // changed rows without changing bytes: read it on both sides — each
    // under its own version's vectors — and let the multiset difference
    // surface the DV-deleted rows as deletes (or, across a rollback that
    // shrank the vectors, as re-inserts). Still O(changed files).
    val dvChanged = (fa & fb).filter(f =>
      vFrom.dvs.getOrElse(f, Nil) != vTo.dvs.getOrElse(f, Nil))
    // both sides read under the TO version's contract (the Delta-CDF
    // stance): across an evolve() the from-side files project the added
    // column as NULL, exactly as version `to` itself reads them — and a
    // PURE evolve shares every file, so its change set is empty
    def rd(files: Set[String], dvState: Version): DataFrame =
      scan(spark, root, vTo.copy(dvs = dvState.dvs, sizes = vFrom.sizes ++ vTo.sizes),
        files.toSeq.sorted)
    val onlyFrom = rd((fa -- fb) ++ dvChanged, vFrom)
    val onlyTo = rd((fb -- fa) ++ dvChanged, vTo)
    onlyTo.exceptAll(onlyFrom).withColumn("change_type", lit("insert"))
      .unionByName(
        onlyFrom.exceptAll(onlyTo).withColumn("change_type", lit("delete")))
  }

  /** VT17: KEYED CDC — [[changes]] with MERGE-driven updates surfaced as
    * linked `update_pre`/`update_post` pairs instead of an unlinked
    * delete+insert (the Delta Change Data Feed read shape). A key present
    * on both sides of the multiset diff changed IN PLACE: its old row tags
    * `update_pre`, its new row `update_post`; insert/delete keep their
    * tags. Requires at most one row per key in each version — the
    * reference's MERGE world guarantees exactly that — and ENFORCES it
    * with one change-set-sized aggregate (a duplicate key would silently
    * mislabel the pairs; the guard throws instead, pointing at
    * [[changes]]' multiset form). A downstream keyed replica can therefore
    * apply updates as point writes instead of full-set algebra.
    * The pairing joins run on the CHANGE SET (changed-files-sized,
    * never O(table)); the both-sides key list is one semi-joinable frame
    * Catalyst can broadcast.
    */
  def changesByKey(spark: SparkSession, root: String, from: Int, to: Int,
      keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "changesByKey needs at least one key column")
    val ch = changes(spark, root, from, to).localCheckpoint(true) // two passes below
    val cols = ch.columns.filterNot(_ == "change_type").toSeq.map(col(_))
    val kc = keys.map(col(_))
    // ENFORCE the at-most-one-row-per-key contract instead of documenting
    // it: a duplicate key inside either side of the diff would silently
    // mislabel update_pre/update_post pairs and corrupt a keyed replica
    // applying point writes. One change-set-sized aggregate (a key may
    // legitimately appear once per SIDE — that IS an update — so the group
    // includes the side tag).
    val dup = ch.groupBy((col("change_type") +: kc): _*).count()
      .filter(col("count") > 1).limit(1).collect()
    require(dup.isEmpty,
      s"changesByKey($from, $to) on keys $keys: key ${dup.head.toSeq.dropRight(1).tail} " +
        s"appears ${dup.head.getLong(dup.head.length - 1)} times on the " +
        s"${dup.head.getString(0)} side — the table is not key-unique under these keys; " +
        "use changes() (multiset CDC) instead")
    val ins = ch.filter(col("change_type") === "insert").select(cols: _*)
    val del = ch.filter(col("change_type") === "delete").select(cols: _*)
    val both = ins.select(kc: _*).intersect(del.select(kc: _*))
    ins.join(both, keys, "left_semi").withColumn("_change_type", lit("update_post"))
      .unionByName(ins.join(both, keys, "left_anti")
        .withColumn("_change_type", lit("insert")))
      .unionByName(del.join(both, keys, "left_semi")
        .withColumn("_change_type", lit("update_pre")))
      .unionByName(del.join(both, keys, "left_anti")
        .withColumn("_change_type", lit("delete")))
  }

  /** Exactly-once streaming sink (ST17): append a micro-batch under its
    * batch id, SKIPPING ids already committed — the foreachBatch idempotence
    * contract. The log's accumulated `txns` set is the dedup state (no side
    * store; checkpoint manifests carry it forward, so the check reads at
    * most [[CheckpointInterval]] manifests however old the table is), and
    * the manifest CAS makes a concurrent retry of the same batch resolve to
    * one commit. The log is planned ONCE per micro-batch: the same head
    * state answers the dedup check, numbers the commit dir, and bases the
    * commit (a racing writer still surfaces at the CAS). Returns None when
    * skipped.
    *
    * Contract fine print: Spark guarantees a given batch id maps to the
    * same data only WITHIN one checkpoint lineage — that replay is what
    * this dedup makes exactly-once. Across a DELETED/fresh checkpoint
    * (the st17 harness), ids restart at 0 and skipping them is correct only
    * if the source re-batches deterministically (same file set, same
    * maxFilesPerTrigger); with nondeterministic re-batching a fresh
    * checkpoint can pair old ids with different data, and the skip drops
    * it. Keep one checkpoint per sink for the general guarantee.
    */
  def appendStreamBatch(df: DataFrame, root: String, batchId: Long): Option[Version] =
    appendStreamBatch(df, root, batchId, Nil)

  /** [[appendStreamBatch]] carrying manifest SKIPPING STATS for the batch's
    * files (measured by the batch's write, as [[appendWithStats]]'): a long-lived
    * sink's accreted files prune from day one instead of reading
    * conservatively until the first [[compact]]/[[compactZOrder]] re-lays
    * them. `statsCols` must match the table's tracked set when one exists
    * (the commit re-checks); measuring costs O(batch), never O(table).
    */
  def appendStreamBatch(df: DataFrame, root: String, batchId: Long,
      statsCols: Seq[String]): Option[Version] = {
    statsCols.foreach(c => statsLongExpr(c, df.schema(c).dataType)) // fail BEFORE writing
    val cur = currentVersion(root)
    if (cur.exists(_.txns.contains(batchId))) None
    else {
      val n = cur.map(_.n + 1).getOrElse(1)
      val cmap = cur.map(_.colMap).getOrElse(Map.empty)
      val ddl = normalizedDDL(df)
      val (landed, marker) = writeData(df, root, n, statsCols, cmap,
        constraints = cur.map(_.constraints).getOrElse(Nil),
        bloomCols = cur.map(_.bloomCols).getOrElse(Nil))
      Some(sealing(marker)(commit(root, cur,
        next(cur, s"stream-batch-$batchId", statsCols).copy(entries = landed), Some(ddl))))
    }
  }

  /** Replica maintenance (VT5): apply a [[changes]] frame to a materialized
    * copy of version `from`, producing exactly version `to`'s row multiset —
    * the downstream half of CDC: the consumer never reads the source table,
    * only the (changed-files-sized) change set. Multiset algebra, no keys
    * needed: `to = from ∖ deletes ⊎ inserts` holds by [[changes]]'
    * construction, so `exceptAll` + `unionAll` reproduce it exactly.
    *
    * Scale note: `exceptAll` plans a full-replica shuffle — correct at any
    * size but O(replica) per apply. When the replica is PARTITIONED on a
    * column the change set carries, use [[applyChangesPartitioned]]
    * (O(changed partitions)); when rows are key-unique, use
    * [[applyChangesByKey]] (a keyed anti-join the optimizer can prune).
    */
  def applyChanges(replica: DataFrame, changeSet: DataFrame): DataFrame = {
    val cols = replica.columns.toSeq.map(col(_))
    val ins = changeSet.filter(col("change_type") === "insert").select(cols: _*)
    val del = changeSet.filter(col("change_type") === "delete").select(cols: _*)
    replica.exceptAll(del).unionAll(ins)
  }

  /** The partition-scoping predicate for [[applyChangesPartitioned]]: ONE
    * `In` node (Catalyst folds it to an `InSet` hash lookup past the
    * conversion threshold), never an OR-of-ANDs literal tree — a change set
    * naming 10k partitions would otherwise plan a 10k-term disjunction that
    * Catalyst transforms quadratically. Partition pruning is unaffected:
    * the FileIndex evaluates ANY partition-column-only predicate per
    * partition value, In/InSet included (spec pins the scan set). Multi-
    * column keys compare as a named struct so field types line up.
    */
  private[graft] def changedPartsPredicate(partitionCols: Seq[String],
      rows: Seq[org.apache.spark.sql.Row]): Column =
    if (partitionCols.length == 1) col(partitionCols.head).isin(rows.map(_.get(0)): _*)
    else struct(partitionCols.map(col): _*).isin(rows.map(r =>
      struct(partitionCols.zipWithIndex.map { case (c, i) => lit(r.get(i)).as(c) }: _*)): _*)

  /** VT5b: partition-scoped CDC apply — roll a PARTITIONED parquet replica
    * forward in place, touching ONLY the partitions the change set names.
    * The multiset algebra is [[applyChanges]]' exactly, but scoped: deletes
    * and inserts both live inside changed partitions (a CDC row carries its
    * partition value), so untouched partitions are provably byte-identical
    * — never scanned, never rewritten (PlanSpec pins both). This is the
    * apply that makes replica maintenance O(changed partitions) instead of
    * O(replica): at 100 TB a daily change set touches ±window partitions of
    * a date-partitioned target, same as the reference's windowed MERGE.
    *
    * Changed partitions whose post-apply row count is ZERO are deleted
    * explicitly: dynamic partition overwrite only replaces partitions
    * present in the output, so an all-rows-deleted partition would
    * otherwise silently keep its old files. The directory path is built
    * with Spark's own partition-path escaping
    * (`ExternalCatalogUtils.escapePathName`) — raw interpolation would miss
    * URL-encoded values (spaces, ':', '=') and silently delete nothing.
    *
    * The distinct changed-partition list is collected driver-side — it is
    * control-plane-sized (one value per touched partition, the same
    * cardinality the FileIndex handles), never data.
    *
    * Returns the replica files the apply actually SCANNED (the pruned
    * slice's input set) — diagnostics the spec pins: files of untouched
    * partitions must never appear.
    */
  def applyChangesPartitioned(spark: SparkSession, replicaPath: String,
      partitionCols: Seq[String], changeSet: DataFrame): Seq[String] = {
    require(partitionCols.nonEmpty, "need at least one partition column")
    val pcols = partitionCols.map(col(_))
    val changedParts = changeSet.select(pcols: _*).distinct().collect().toSeq
    if (changedParts.isEmpty) return Nil // empty change set: nothing to touch
    // a NULL partition value would silently vanish from the scoping
    // predicate (NULL = x is never true) and its rows would never apply —
    // refuse loudly; null-keyed rows belong in a dedicated default partition
    // upstream, not implicitly dropped here
    changedParts.find(r => (0 until partitionCols.length).exists(r.isNullAt)).foreach { r =>
      throw new IllegalArgumentException(
        s"change set carries a NULL partition value ($r) — applyChangesPartitioned " +
          "cannot scope a NULL key; map it to an explicit default value upstream")
    }
    val pred = changedPartsPredicate(partitionCols, changedParts)
    val replica = spark.read.parquet(replicaPath)
    val dataCols = replica.columns.toSeq.map(col(_))
    val slice = replica.filter(pred) // partition-pruned: untouched dirs never scanned
    // the PLANNED scan set (post-partition-pruning) — DataFrame.inputFiles
    // reports the whole relation and would hide a pruning regression
    val scanned = slice.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.selectedPartitions.toPartitionArray.map(_.filePath.toString).toSeq
    }.flatten
    val ins = changeSet.filter(col("change_type") === "insert").select(dataCols: _*)
    val del = changeSet.filter(col("change_type") === "delete").select(dataCols: _*)
    // the write alone may read the partitions it overwrites (Dml.
    // overwritePartitions' contract), but `updated` is read again below,
    // after the write, and must still be the pre-write rows: checkpoint it
    val updated = slice.exceptAll(del).unionAll(ins).localCheckpoint(true)
    Dml.overwritePartitions(updated, replicaPath, partitionCols)
    // changed partitions with zero survivors: dynamic overwrite never saw
    // them — unlink their directories so the delete actually lands
    val survivors = updated.select(pcols: _*).distinct().collect().toSet
    val fs = new org.apache.hadoop.fs.Path(replicaPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val esc = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName _
    changedParts.filterNot(survivors).foreach { r =>
      val dir = partitionCols.zipWithIndex
        .map { case (c, i) => s"${esc(c)}=${esc(r.get(i).toString)}" }.mkString("/")
      fs.delete(new org.apache.hadoop.fs.Path(s"$replicaPath/$dir"), true)
    }
    scanned
  }

  /** VT5 keyed variant: apply a change set to a KEY-UNIQUE replica as an
    * upsert — delete the keys the change set deletes, then add its inserts.
    * Requires (and assumes) at most one row per key on both sides, which is
    * what the reference's MERGE world guarantees; under that contract the
    * keyed anti-join equals the multiset algebra but joins on keys the
    * optimizer can broadcast/prune instead of hashing whole rows.
    */
  def applyChangesByKey(replica: DataFrame, changeSet: DataFrame, keys: Seq[String]): DataFrame = {
    val cols = replica.columns.toSeq.map(col(_))
    val ins = changeSet.filter(col("change_type") === "insert").select(cols: _*)
    val delKeys = changeSet.filter(col("change_type") === "delete")
      .select(keys.map(col(_)): _*).distinct()
    replica.join(delKeys, keys, "left_anti").unionByName(ins)
  }

  /** Read the table at version `asOf` (default: latest): [[table]]. The
    * scan set is exactly the version's reconstructed file list — no
    * directory listing, so readers are immune to concurrent commits and
    * leftover files.
    */
  def read(spark: SparkSession, root: String, asOf: Option[Int] = None): DataFrame =
    table(spark, root, asOf)

  /** The version `asOf`, or the head when None. */
  private def versionAt(root: String, asOf: Option[Int]): Version =
    asOf.map(stateAt(root, _)).getOrElse(currentVersion(root).getOrElse(
      throw new IllegalArgumentException(s"no committed versions at $root")))

  /** The one scan of the log's data files: `files` (a subset of version
    * `v`'s list) as a [[org.apache.spark.sql.graft.ManifestFileIndex]]
    * relation under v's schema contract, v's deletion vectors applied.
    * Every read, the DML's affected rows, CDC and constraint checks are
    * frames of this scan, and its `inputFiles` are `files` (plus any
    * deletion-vector sidecars).
    *
    * The explicit read schema makes parquet fill columns a file lacks with
    * typed NULLs, which is what lets [[evolve]] add a column without
    * rewriting a byte — every file generation reads under the version's
    * contract, and each version time-travels under its OWN contract. A
    * pre-contract log infers its schema from the footers instead.
    *
    * The relation runs in the PHYSICAL namespace (vt24: files and recorded
    * stats alike — ranges are positional, unaffected by a rename) with a
    * logical projection on top; Catalyst pushes predicate and column
    * pruning through the aliases, and the index prunes what reaches it with
    * [[prunedFiles]], so skipping on a renamed column is as selective as
    * before the rename. Statuses come from the manifest's sizes, so
    * planning stats no file.
    *
    * A file with deletion vectors (vt27) scans WITH each row's [[dvKeyOf]]
    * key and parquet position (`_metadata` rides any file-source relation)
    * so the recorded victims anti-join away; clean files keep the plain
    * scan. `withPos` keeps the two columns on every file: the victim scan
    * of [[deleteWhereDV]]/[[updateWhereDV]].
    */
  private def scan(spark: SparkSession, root: String, v: Version, files: Seq[String],
      withPos: Boolean = false): DataFrame = {
    val schema = v.schema.map(StructType.fromDDL).getOrElse {
      if (v.files.isEmpty) throw new IllegalArgumentException(
        s"version ${v.n} at $root lists no files and records no schema contract")
      spark.read.parquet(v.files.map(f => Paths.get(root).resolve(f).toString): _*).schema
    }
    val logicalOf = v.colMap.map(_.swap)
    val logicalCols = schema.fields.toSeq.map(f => col(physicalName(v.colMap, f.name)).as(f.name))
    def rel(fs: Seq[String], pos: Boolean): DataFrame = {
      val raw = ManifestFileIndex.relation(spark, root, fs,
        prunedFiles(v, fs, _, p => logicalOf.getOrElse(p, p)),
        physicalStruct(schema, v.colMap), v.sizes)
      if (pos)
        raw.select(logicalCols :+
          substring_index(col("_metadata.file_path"), "/", -2).as(DvKeyCol) :+
          col("_metadata.row_index").as(DvPosCol): _*)
      else if (v.colMap.isEmpty) raw
      else raw.select(logicalCols: _*)
    }
    val dvd = files.filter(f => v.dvs.get(f).exists(_.nonEmpty))
    if (withPos) antiJoinDv(spark, root, v, files, rel(files, pos = true))
    else if (dvd.isEmpty) rel(files, pos = false)
    else {
      val alive = antiJoinDv(spark, root, v, dvd, rel(dvd, pos = true))
        .drop(DvKeyCol, DvPosCol)
      val clean = files.filterNot(dvd.toSet)
      if (clean.isEmpty) alive
      else rel(clean, pos = false).unionByName(alive)
    }
  }

  // ---- vt27 DELETION VECTORS (merge-on-read row-level delete): the
  // published Delta/Iceberg-v2 design — a delete records the POSITIONS of
  // its victims in a small parquet sidecar and attaches it to the file in
  // the manifest (`dv=` lines); the file's bytes never move. A read of a
  // DV-carrying file scans with parquet's native `_metadata.row_index`,
  // anti-joins the recorded positions (sidecars are tiny, AQE broadcasts
  // them), and serves survivors. At 100 TB this is the difference between
  // writing O(deleted rows) and rewriting O(affected files): deleting 100
  // rows from a 1 GB file costs a KB-sized sidecar, not a gigabyte — the
  // copy-on-write forms ([[deleteWhere]]/[[updateWhere]]) stay the right
  // tool for WIDE deletes, and [[purgeDeletes]] (Delta's `REORG … APPLY
  // (PURGE)`) folds accumulated vectors back into clean files.

  private[graft] val DvKeyCol = "__dv_key"
  private[graft] val DvPosCol = "__dv_pos"

  /** Sidecar loads performed since JVM start (each = one sidecar parquet
    * opened and its positions materialized, EXECUTOR-side on the DSv2
    * path) — spec instrumentation proving the driver never materializes
    * victim positions during planning: a plan-only operation must leave
    * this counter untouched, execution moves it. Shared-JVM local mode
    * makes the executor increments visible to specs.
    */
  private[graft] val dvSidecarLoads = new AtomicLong(0L)

  /** The merged read schema every sidecar generation satisfies: fmt-19
    * sidecars carry `(file, cnt, bits)` (positions RLE-compressed into one
    * row per file), pre-round-19 sidecars carry `(file, pos)` rows. An
    * explicit merged schema makes parquet serve the absent columns as
    * NULL, so one scan — and one NULL test — handles both generations.
    */
  private[graft] val SidecarSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType.fromDDL(
      "file STRING, pos BIGINT, cnt BIGINT, bits BINARY")

  /** Sidecar rows as `(file key, pos)` whatever the sidecar generation —
    * compressed blobs decode behind an `explode` (executor-side, a native
    * expression), legacy rows pass through. Feeds the library read's
    * broadcast anti-join; the DSv2 partition reader decodes its own file's
    * blob directly instead ([[graft.streaming.VersionedReaderFactory]]).
    */
  private[graft] def sidecarPositions(spark: SparkSession, root: String,
      sidecars: Seq[String]): DataFrame = {
    import org.apache.spark.sql.graft.ColumnBridge
    val paths = sidecars.map(p => Paths.get(root).resolve(p).toString)
    spark.read.schema(SidecarSchema).parquet(paths: _*)
      .select(col("file"),
        explode(when(col("bits").isNotNull, ColumnBridge.column(
          graft.functions.RleDecodePositions(ColumnBridge.expression(col("bits")))))
          .otherwise(array(col("pos")))).as("pos"))
  }

  /** The sidecar join key of a data file: its `<commitDir>/<fileName>`
    * tail. Commit dirs are uuid-named, so the tail is unique per table —
    * and stable under table relocation, shallow-clone absolute paths, and
    * [[cloneTable]]'s tail-preserving deep copies (an absolute-path scan's
    * `_metadata.file_path` still ends with the same two segments).
    */
  private[graft] def dvKeyOf(f: String): String = {
    val p = Paths.get(f)
    s"${p.getParent.getFileName}/${p.getFileName}"
  }

  /** Anti-join `scanned` (a frame carrying [[DvKeyCol]]/[[DvPosCol]])
    * against the deletion vectors `v` records for `files`. The sidecars
    * are blast-radius-sized parquet, so AQE broadcasts the join; filters on
    * data columns still push below a left-anti join (Catalyst's
    * PushPredicateThroughJoin), so pruning selectivity is unaffected.
    */
  private def antiJoinDv(spark: SparkSession, root: String, v: Version,
      files: Seq[String], scanned: DataFrame): DataFrame = {
    val sidecars = files.flatMap(f => v.dvs.getOrElse(f, Nil).map(_._1)).distinct
    if (sidecars.isEmpty) scanned
    else {
      val keys = files.map(dvKeyOf)
      // restrict to the scanned files' keys: a shared sidecar may carry
      // positions for files outside this scan (harmless to the anti-join,
      // but the filter keeps the broadcast exactly blast-radius-sized)
      val dv = sidecarPositions(spark, root, sidecars)
        .where(col("file").isInCollection(keys))
        .select(col("file").as("__dvf"), col("pos").as("__dvp"))
      scanned.join(dv,
        scanned(DvKeyCol) === col("__dvf") && scanned(DvPosCol) === col("__dvp"),
        "left_anti")
    }
  }

  // ---- vt24 column mapping (Delta's published design, name-keyed form):
  // the manifest records logical→physical per RENAMED column; physical
  // names are the column's original name and never change once written,
  // so every file generation stays readable under every later contract.

  private def physicalName(colMap: Map[String, String], c: String): String =
    colMap.getOrElse(c, c)

  /** The contract's struct with fields renamed logical→physical — what the
    * parquet files actually carry. Order and types are untouched (a rename
    * is name-only), which is also what lets the streaming source read
    * positionally under either name set.
    */
  private[graft] def physicalStruct(st: org.apache.spark.sql.types.StructType,
      colMap: Map[String, String]): org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(
      st.fields.map(f => f.copy(name = physicalName(colMap, f.name))))

  /** Rename a LOGICAL-named frame to physical names before its files land
    * — every write path funnels through this so on-disk column names stay
    * generation-stable across renames.
    */
  private def physicalize(df: DataFrame, colMap: Map[String, String]): DataFrame =
    if (colMap.isEmpty) df
    else df.select(df.columns.map(c => col(c).as(physicalName(colMap, c))).toIndexedSeq: _*)

  /** VT16: metadata-only ADD COLUMN — schema evolution WITHOUT the full
    * rewrite [[overwrite]] costs. The published Delta/Iceberg design: an
    * additive column is a CONTRACT-ONLY commit (zero data files added or
    * removed — at 100 TB, the difference between a sub-second metadata op
    * and rewriting the table); readers under the new contract project the
    * column as typed NULLs over old-generation files (the explicit-read-
    * schema semantics [[scan]] applies and s13's mergeSchema story
    * proves), later appends are checked against the evolved contract, and
    * time travel reads each version under its own. Added columns are
    * forced nullable (old files MUST read as NULL), must not already
    * exist, and the tracked-stats set is unchanged (a brand-new column has
    * no values to track). `addColumnsDDL` is DDL like `"note STRING, n INT"`.
    */
  def evolve(root: String, addColumnsDDL: String): Version = {
    val cur = currentVersion(root).getOrElse(
      throw new IllegalArgumentException(s"no committed versions at $root"))
    requireNoPendingTxn(Some(cur), root)
    val added = org.apache.spark.sql.types.StructType.fromDDL(addColumnsDDL)
    require(added.fields.nonEmpty, "evolve needs at least one column to add")
    val old = org.apache.spark.sql.types.StructType.fromDDL(cur.schema.getOrElse(
      throw new IllegalArgumentException(
        s"table at $root records no schema contract — evolve() needs one " +
          "(pre-contract logs evolve via overwrite())")))
    added.fieldNames.foreach(c => require(!old.fieldNames.contains(c),
      s"evolve: column `$c` already exists in the contract"))
    // under a column mapping the PHYSICAL namespace is a second contract: a
    // new logical column lands with physical == logical, so its name must
    // not collide with an existing column's physical name (the renamed-away
    // original) — two fields would share one on-disk column and reads of
    // either would silently serve the other's bytes
    val physicalInUse = old.fieldNames.map(physicalName(cur.colMap, _)).toSet
    added.fieldNames.foreach(c => require(!physicalInUse.contains(c),
      s"evolve: `$c` is an existing column's PHYSICAL (pre-rename) name — old data " +
        "files already carry it; choose another name, or compact first to " +
        "materialize the rename and free the physical namespace"))
    val newDDL = org.apache.spark.sql.types.StructType(
      (old.fields ++ added.fields).map(_.copy(nullable = true))).toDDL
    commit(root, Some(cur), next(Some(cur), "evolve")
      .copy(schema = Some(newDDL), bloomCols = Nil))
  }

  /** VT16b: metadata-only DROP COLUMN — the other half of [[evolve]]'s
    * additive story, same economics (a contract-only commit; zero data
    * files touched at any table size): readers under the shrunk contract
    * simply never project the column (the explicit-read-schema semantics
    * [[scan]] applies — parquet reads a subset of a file's columns
    * natively), old versions time-travel with the column intact, and
    * later appends are checked against the shrunk contract. RENAME is a
    * separate op ([[evolveRename]], via column mapping — a bare drop+add
    * would silently null the renamed data). Guards: at least one column
    * must remain; a column a CHECK
    * constraint references refuses (drop the constraint first — Delta's
    * rule); dropping a STATS-TRACKED column re-aligns every file's
    * recorded ranges (positional) and commits FULL — still metadata-only.
    */
  def evolveDrop(root: String, dropCols: Seq[String]): Version = {
    require(dropCols.nonEmpty, "evolveDrop needs at least one column to drop")
    val cur = currentVersion(root).getOrElse(
      throw new IllegalArgumentException(s"no committed versions at $root"))
    requireNoPendingTxn(Some(cur), root)
    val old = org.apache.spark.sql.types.StructType.fromDDL(cur.schema.getOrElse(
      throw new IllegalArgumentException(
        s"table at $root records no schema contract — evolve via overwrite()")))
    dropCols.foreach(c => require(old.fieldNames.contains(c),
      s"evolveDrop: column `$c` is not in the contract (${old.fieldNames.mkString(", ")})"))
    val remaining = old.fields.filterNot(f => dropCols.contains(f.name))
    require(remaining.nonEmpty, "evolveDrop cannot drop every column")
    // a CHECK constraint referencing a dropped column must go FIRST —
    // silently carrying it would make every later write fail analysis,
    // and silently dropping it would weaken the contract without consent
    val refs = cur.constraints.filter { case (_, sql) =>
      val ids = "`([^`]+)`|\\b([A-Za-z_][A-Za-z0-9_]*)\\b".r
        .findAllMatchIn(sql).flatMap(m => Option(m.group(1)).orElse(Option(m.group(2))))
        .toSet
      dropCols.exists(ids.contains)
    }
    require(refs.isEmpty,
      s"evolveDrop: constraint(s) ${refs.map(_._1).mkString(", ")} reference dropped " +
        "column(s) — dropConstraint first")
    val newDDL = org.apache.spark.sql.types.StructType(
      remaining.map(_.copy(nullable = true))).toDDL
    val droppedTrackedIdx = cur.statsCols.zipWithIndex
      .filter { case (c, _) => dropCols.contains(c) }.map(_._2)
    // a dropped column's mapping entry goes with it; dropping a RENAMED
    // column is a colmap change — and a BLOOM-tracked column's bits must
    // go too — and deltas carry neither: commit FULL in those cases
    val dropsMapped = dropCols.exists(cur.colMap.contains)
    val dropsBloom = dropCols.exists(cur.bloomCols.contains)
    if (droppedTrackedIdx.isEmpty && !dropsMapped && !dropsBloom)
      // plain contract shrink: one delta line, evolve()'s shape
      commit(root, Some(cur), next(Some(cur), "evolve-drop")
        .copy(schema = Some(newDDL), bloomCols = Nil))
    else {
      // per-file ranges and null counts are POSITIONAL against statsCols,
      // so a tracked column's drop re-aligns them; the FULL manifest lists
      // every file's entry with the shrunk ranges, without the dropped
      // columns' bloom bits — still zero data files touched
      val keepIdx = cur.statsCols.indices.filterNot(droppedTrackedIdx.contains)
      def kept[A](xs: Seq[A]): Seq[A] = keepIdx.collect { case i if i < xs.length => xs(i) }
      val r = restated(cur, "evolve-drop")
      commit(root, Some(cur), r.copy(schema = Some(newDDL),
        statsCols = kept(cur.statsCols),
        entries = r.entries.map(e => e.copy(ranges = kept(e.ranges),
          blooms = e.blooms.filterNot { case (c, _) => dropCols.contains(c) },
          nullCounts = kept(e.nullCounts))),
        colMap = cur.colMap -- dropCols,
        bloomCols = cur.bloomCols.filterNot(dropCols.contains)))
    }
  }

  /** VT24: metadata-only column RENAME via COLUMN MAPPING — the published
    * Delta design (Iceberg solves it with field ids): the schema contract
    * carries LOGICAL names, the manifest records logical→physical per
    * renamed column, and data files keep their PHYSICAL names (the
    * column's original name — stable forever, so every file generation
    * stays readable under every later contract). The commit is one FULL
    * manifest, zero data files touched at any table size.
    *
    * Everything follows the rename: reads/pruned reads/the native relation
    * project physical→logical; later appends land their files under the
    * physical names (so the on-disk namespace never forks); skipping stats
    * re-key to the new logical name with their recorded ranges intact (the
    * bytes didn't move); CHECK constraints have the identifier rewritten in
    * their SQL ([[renameInSql]] — string literals untouched); old versions
    * time-travel under their OWN contract and mapping. [[compact]]/
    * [[compactZOrder]]/[[overwrite]] rewrite every file anyway and thus
    * MATERIALIZE the mapping away (the Delta "rewrite to drop mapping"
    * story); [[evolve]] guards the physical namespace (adding a column
    * whose name is a renamed-away physical name refuses). Round-trip
    * renames collapse to identity (no mapping entry survives a→b→a).
    */
  def evolveRename(root: String, from: String, to: String): Version = {
    val ident = "[A-Za-z_][A-Za-z0-9_]*"
    require(from.matches(ident) && to.matches(ident),
      s"evolveRename needs plain identifiers, got `$from` -> `$to`")
    val cur = currentVersion(root).getOrElse(
      throw new IllegalArgumentException(s"no committed versions at $root"))
    requireNoPendingTxn(Some(cur), root)
    val old = org.apache.spark.sql.types.StructType.fromDDL(cur.schema.getOrElse(
      throw new IllegalArgumentException(
        s"table at $root records no schema contract — rename needs one")))
    require(old.fieldNames.contains(from),
      s"evolveRename: column `$from` is not in the contract (${old.fieldNames.mkString(", ")})")
    require(!old.fieldNames.contains(to),
      s"evolveRename: column `$to` already exists in the contract")
    val physical = physicalName(cur.colMap, from)
    // identity entries never persist: a→b→a leaves no mapping behind
    val newMap = ((cur.colMap - from) + (to -> physical)).filter { case (l, p) => l != p }
    val newDDL = org.apache.spark.sql.types.StructType(old.fields.map(f =>
      (if (f.name == from) f.copy(name = to) else f).copy(nullable = true))).toDDL
    def renamed(c: String): String = if (c == from) to else c
    val r = restated(cur, "evolve-rename")
    commit(root, Some(cur), r.copy(schema = Some(newDDL),
      statsCols = cur.statsCols.map(renamed),
      entries = r.entries.map(e =>
        e.copy(blooms = e.blooms.map { case (c, bits) => renamed(c) -> bits })),
      constraints = cur.constraints.map { case (nm, sql) =>
        (nm, renameInSql(sql, from, to)) },
      colMap = newMap,
      bloomCols = cur.bloomCols.map(renamed)))
  }

  /** Rewrite identifier occurrences of `from` to `to` in one line of
    * constraint SQL: bare words and backtick-quoted identifiers rename;
    * single-quoted string literals pass through untouched (renaming column
    * `active` must not corrupt `status != 'active'`). Token-level, not a
    * parser — constraint SQL is single-line scalar predicates by contract.
    */
  private[graft] def renameInSql(sql: String, from: String, to: String): String = {
    val out = new StringBuilder
    var i = 0
    while (i < sql.length) {
      sql(i) match {
        case '\'' =>
          val j = sql.indexOf('\'', i + 1)
          val end = if (j < 0) sql.length - 1 else j
          out.append(sql.substring(i, end + 1)); i = end + 1
        case '`' =>
          val j = sql.indexOf('`', i + 1)
          val end = if (j < 0) sql.length - 1 else j
          val inner = sql.substring(math.min(i + 1, end), end)
          out.append(if (inner == from) s"`$to`" else sql.substring(i, end + 1))
          i = end + 1
        case c if c.isLetter || c == '_' =>
          var j = i
          while (j < sql.length && (sql(j).isLetterOrDigit || sql(j) == '_')) j += 1
          val word = sql.substring(i, j)
          out.append(if (word == from) to else word)
          i = j
        case c => out.append(c); i += 1
      }
    }
    out.toString
  }

  /** VT15: DESCRIBE HISTORY — the audit surface every table format ships:
    * one row per live (non-archived) version with its operation, parent,
    * file count, accumulated stream-batch count, and schema contract.
    * Answers "who changed this table, when, how" without touching a data
    * file — pure manifest metadata, O(live versions), driver-built (a log's
    * history is control-plane-sized by construction; archived manifests are
    * deliberately out of scope, same as [[versions]]).
    */
  def history(spark: SparkSession, root: String): DataFrame = {
    val rows = versions(root).map(v => org.apache.spark.sql.Row(
      v.n, v.op, v.parent, v.files.length, v.txns.size, v.schema.orNull,
      if (v.ts >= 0) v.ts else null, v.constraints.size))
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](rows.asJava),
      org.apache.spark.sql.types.StructType.fromDDL(
        "version INT, op STRING, parent INT, n_files INT, n_txns INT, schema STRING, " +
          "commit_ts BIGINT, n_constraints INT"))
  }

  /** VT30: DESCRIBE DETAIL — the one-row operational summary every table
    * format ships (Delta's `DESCRIBE DETAIL`): current version, file/byte
    * counts, delete pressure (files carrying deletion vectors + recorded
    * victim rows — the compaction-policy signal), and the metadata
    * contracts in force. Pure manifest metadata: zero data files touched,
    * driver-built, O(head state) at any table size.
    */
  def detail(spark: SparkSession, root: String, asOf: Option[Int] = None): DataFrame = {
    val v = versionAt(root, asOf)
    val row = org.apache.spark.sql.Row(
      "graft-versioned", v.n, v.op, v.files.length,
      v.sizes.valuesIterator.filter(_ >= 0).sum,
      v.dvs.count(_._2.nonEmpty),
      v.dvs.valuesIterator.flatten.map(_._2).sum,
      v.statsCols.mkString(","), v.bloomCols.mkString(","),
      v.constraints.size, v.colMap.size, v.txns.size,
      if (v.ts >= 0) v.ts else null)
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](java.util.List.of(row)),
      org.apache.spark.sql.types.StructType.fromDDL(
        "format STRING, version INT, last_op STRING, num_files INT, " +
          "size_bytes BIGINT, num_dv_files INT, dv_deleted_rows BIGINT, " +
          "stats_cols STRING, bloom_cols STRING, num_constraints INT, " +
          "num_renamed_cols INT, num_stream_batches INT, commit_ts BIGINT"))
  }

  /** VT30 (files half): the per-file metadata table (Iceberg's `files`,
    * Delta's add-file view): path, byte size, per-tracked-column (min,max)
    * ranges, bloom coverage, and deletion-vector pressure — what an
    * operator inspects to decide compaction/z-order/purge targets. Pure
    * manifest metadata, driver-built, O(head files).
    */
  def filesDetail(spark: SparkSession, root: String, asOf: Option[Int] = None): DataFrame = {
    val v = versionAt(root, asOf)
    val rows = v.files.map { f =>
      val ranges = v.stats.getOrElse(f, Nil)
      org.apache.spark.sql.Row(f,
        v.sizes.get(f).filter(_ >= 0).map(Long.box).orNull,
        v.statsCols.zip(ranges).map { case (c, (mn, mx)) => s"$c:[$mn,$mx]" }
          .mkString(" "),
        v.bloomCols.count(c => v.blooms.contains((f, c))),
        v.dvs.get(f).map(_.size).getOrElse(0),
        v.dvs.get(f).map(_.map(_._2).sum).map(Long.box).getOrElse(Long.box(0L)),
        v.nulls.get(f).map(n => Long.box(n._1)).orNull,
        v.nulls.get(f).map { case (_, ncs) =>
          v.statsCols.zip(ncs).map { case (c, n) => s"$c:$n" }.mkString(" ")
        }.orNull)
    }
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](rows.asJava),
      org.apache.spark.sql.types.StructType.fromDDL(
        "file STRING, size_bytes BIGINT, stats STRING, num_blooms INT, " +
          "num_dvs INT, dv_deleted_rows BIGINT, row_count BIGINT, " +
          "null_counts STRING"))
  }

  /** VT14: the versioned table as a NATIVE Spark relation — a DataFrame
    * whose file listing is a [[org.apache.spark.sql.graft
    * .ManifestFileIndex]] over this version's manifest state, so CATALYST
    * ITSELF pushes every scan's predicates into [[prunedFiles]] at planning
    * time. [[readWhere]] is the explicit-call form over the same relation;
    * this is the form a user composes freely: register it as a temp view
    * and the reference's SQL (`REPORTING_DATE BETWEEN …`) skips files, join
    * it and the join's pushed-down residuals skip files, no API beyond
    * `spark.sql` required. Snapshot semantics are unchanged — the index is
    * pinned to the version's reconstructed file list (immune to concurrent
    * commits), and Spark re-applies every predicate to rows, so the
    * conservative pruning can never change results. A version with no files
    * (a full-table [[deleteWhere]]) reads as an empty frame under its
    * contract. See [[scan]].
    */
  def table(spark: SparkSession, root: String, asOf: Option[Int] = None): DataFrame = {
    val v = versionAt(root, asOf)
    scan(spark, root, v, v.files)
  }
}
