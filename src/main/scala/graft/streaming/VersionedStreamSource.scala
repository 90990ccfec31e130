package graft.streaming

import graft.merge.Versioned
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import java.nio.file.{Files, Paths}

/** ST19: the versioned table as a STREAMING SOURCE — the other half of the
  * loop st17/st18 close as a sink. The published Delta streaming-source
  * design: the transaction log IS the offset log. An offset is a version
  * number; each committed version is one micro-batch whose rows are the
  * files that version ADDED. Offsets checkpoint as plain version numbers,
  * so a restarted query resumes from exactly the commit after the last one
  * it processed — no directory listing, no file-mtime races: the manifest
  * decides batch membership, the same property the batch reader has.
  *
  * CHANGE commits (COW merge/delete, compact, zorder — anything that
  * REMOVES files) FAIL the stream by default, exactly Delta's default
  * stance: such a commit's "adds" are rewrites of rows already streamed,
  * so replaying them as appends would silently duplicate downstream data,
  * and its deletes can never be retracted through an append-only source.
  * `.option("ignoreChanges", "true")` opts into Delta's `ignoreChanges`
  * semantics instead: rewritten files re-stream as appends (downstream
  * must dedup by key) and deletes are dropped.
  *
  * Admission control: by default ONE version per micro-batch — a commit is
  * the producer's atomicity boundary, so batches stay commit-sized however
  * far behind the reader starts. A reader resuming 10k commits behind
  * would pay 10k micro-batches of fixed trigger overhead, though, so
  * `.option("maxVersionsPerTrigger", k)` admits up to k consecutive
  * versions per batch (batch membership still manifest-decided; the
  * change-commit guard still inspects every admitted version).
  *
  * Spark-native plumbing: a DSv2 `TableProvider` whose `MicroBatchStream`
  * paces versions via `SupportsAdmissionControl` (inherited through
  * [[SupportsTriggerAvailableNow]] — AvailableNow pins the head at start
  * and drains to it, then stops). Each input partition is one parquet file
  * of a version's add-set, read through Spark's own `ParquetFileFormat`
  * reader (vectorized when the schema allows; batch-unwrapped here), so
  * executor-side reading is identical to the batch path. Head discovery
  * and per-version add-sets reuse the log's listing-free probes
  * ([[Versioned.headVersionNumber]]/[[Versioned.addedRemovedPending]]) — O(1)
  * in table age per trigger, which is what a per-minute long-lived reader
  * needs.
  *
  * Schema is pinned at query start (the version contract at that moment).
  * A mid-stream [[Versioned.evolve]] does NOT fail the stream (it removes
  * no files); post-evolve commits stream through the PINNED schema — the
  * added column is absent until the query restarts, when the new contract
  * pins. Spec-pinned in VersionedStreamSourceSpec.
  *
  * Usage:
  * {{{
  *   spark.readStream.format(classOf[VersionedStreamSource].getName)
  *     .option("path", root).load()
  * }}}
  */
class VersionedStreamSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "graft-versioned"

  // accept a user-specified schema: that is exactly how a long-running
  // query reads post-evolve commits under its PINNED pre-evolve contract
  // (ParquetFileFormat projects the subset), spec-pinned in
  // VersionedStreamSourceSpec
  override def supportsExternalMetadata(): Boolean = true

  private def rootOf(options: CaseInsensitiveStringMap): String =
    Option(options.get("path")).getOrElse(throw new IllegalArgumentException(
      "graft-versioned source needs .option(\"path\", <table root>)"))

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val root = rootOf(options)
    val v = Versioned.currentVersion(root).getOrElse(
      throw new IllegalArgumentException(s"no committed versions at $root"))
    v.schema.map(StructType.fromDDL)
      .getOrElse(Versioned.read(SparkSession.active, root).schema)
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    // the same path validation inferSchema applies — a load() with a
    // user-supplied schema skips inferSchema, and a missing path must fail
    // HERE with an actionable message, not later as an NPE in Paths.get
    // every option reads through the SAME CaseInsensitiveStringMap as
    // `path` — a differently-cased key must be honored, not silently
    // dropped (Delta reader options are case-insensitive too)
    val opts = new CaseInsensitiveStringMap(properties)
    val root = rootOf(opts)
    // startingVersion: first version to EMIT (Delta's option) — default 1
    // (everything). startingTimestamp (Delta's other form) resolves to the
    // first version committed AT OR AFTER the instant — Delta's inclusive
    // boundary ("all changes committed at or after the timestamp"): a
    // commit whose ts exactly equals the instant streams. Both only
    // consulted for a fresh checkpoint: a checkpointed offset always wins
    // (deserializeOffset, not initialOffset).
    val startVer = Option(opts.get("startingVersion")).map(_.trim.toInt)
      .orElse(Option(opts.get("startingTimestamp")).map { t =>
        // an instant at-or-before the first commit means "everything"
        // (Delta's lenient stance for streams), not an error like the batch
        // probe; an UNKNOWN-age first commit (pre-vt19 log, ts = -1) also
        // means everything — versionAtTimestamp would refuse a timestamp-
        // less resolution, and skipping all data silently is the hazard
        val ts = t.trim.toLong
        val v1 = Versioned.versionState(root, 1)
        if (v1.ts < 0 || ts <= v1.ts) 1
        // first version with commit ts >= instant = (greatest version with
        // ts < instant) + 1; millisecond-granular longs make that the
        // probe at ts-1 — commits SHARING the boundary instant (monotonic
        // clamp under fast commits) all stream, exactly Delta's inclusive
        // contract
        else Versioned.versionAtTimestamp(root, ts - 1) + 1
      }).getOrElse(1)
    val maxBytes = Option(opts.get("maxBytesPerTrigger")).map(_.trim.toLong)
    // maxFilesPerTrigger: the third Delta admission form — versions are
    // admitted until their cumulative ADDED file count would exceed the
    // cap. File lists are already in the fmt-agnostic manifests, so this
    // costs nothing beyond the memoized per-version delta.
    val maxFiles = Option(opts.get("maxFilesPerTrigger")).map(_.trim.toInt)
    // a byte or file cap ALONE means "size-bounded batches" (Delta
    // semantics): the version cap then defaults to unbounded, not 1 —
    // otherwise the cap could only ever shrink a one-version batch
    // and the option would be a silent no-op
    val maxVers = Option(opts.get("maxVersionsPerTrigger")).map(_.trim.toInt)
      .getOrElse(if (maxBytes.isDefined || maxFiles.isDefined) Int.MaxValue else 1)
    // vt24 column mapping: data files carry PHYSICAL column names; the
    // query surface (schema) carries LOGICAL ones. A rename is name-only
    // (order/types unchanged) and physical names are generation-stable, so
    // the parquet reader runs under the physicalized struct while rows —
    // positional — serve the logical schema unchanged. Resolved once at
    // query start, like the schema pin; a mid-stream rename changes neither
    // the files nor their physical names, so the pin stays valid.
    val colMap = Versioned.currentVersion(root).map(_.colMap).getOrElse(Map.empty)
    // BATCH time travel (Delta's reader options): versionAsOf pins a
    // version, timestampAsOf resolves through the vt19 probe ("greatest
    // version at or before the instant" — the batch stance, stricter than
    // the stream's lenient startingTimestamp). Resolved HERE so a bad
    // option fails at load(), not mid-scan.
    val asOf: Option[Int] = Option(opts.get("versionAsOf")).map(_.trim.toInt)
      .orElse(Option(opts.get("timestampAsOf")).map(t =>
        Versioned.versionAtTimestamp(root, t.trim.toLong)))
    new VersionedStreamTable(root, schema, startVer, maxVers,
      Option(opts.get("ignoreChanges")).exists(_.trim.equalsIgnoreCase("true")),
      maxBytes, maxFiles, colMap, asOf)
  }
}

private[graft] class VersionedStreamTable(root: String, tableSchema: StructType,
    startingVersion: Int, maxVersionsPerTrigger: Int,
    ignoreChanges: Boolean,
    maxBytesPerTrigger: Option[Long] = None,
    maxFilesPerTrigger: Option[Int] = None,
    colMap: Map[String, String] = Map.empty,
    asOf: Option[Int] = None) extends Table with SupportsRead with SupportsWrite {
  /** The table's root path — the SQL DML rewrite rules address the log by
    * it (vt32: `DELETE FROM`/`UPDATE`/`MERGE INTO graft.`/path``).
    */
  private[graft] def rootPath: String = root
  override def name(): String = s"graft-versioned:$root"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_READ,
      // BATCH_WRITE admits the write plan; V1_BATCH_WRITE routes it to the
      // V1 fallback exec (the strategy dispatches on the Write being a
      // V1Write only when the table declares the fallback capability)
      TableCapability.BATCH_WRITE, TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE)

  /** VT28 (write half): `df.write.format("graft-versioned").mode(…)
    * .save()` onto an EXISTING versioned table — a V1Write fallback that
    * hands the driver the DataFrame and routes it through the log's own
    * verbs, so every guard rides along for free: schema-contract check,
    * CHECK/NOT NULL constraints, pending-txn refusal, the manifest CAS.
    * `append` keeps the table's skipping stats and bloom maintenance
    * (stats-tracked tables route through appendWithStats — a DSv2 append
    * must not silently degrade later pruned reads); `overwrite` is the
    * log's overwrite (full manifest; Spark's by-name resolution holds the
    * write to the TABLE's contract — schema-EVOLVING overwrites stay with
    * the `Versioned.overwrite` API). Table CREATION stays with the
    * API/first-append (a fresh root has no contract to resolve the write
    * against — getTable's inferSchema fails there with its own message).
    */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      private var overwrite = false
      override def truncate(): WriteBuilder = { overwrite = true; this }
      override def build(): Write = new V1Write {
        override def toInsertableRelation: org.apache.spark.sql.sources.InsertableRelation =
          (data: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], ov: Boolean) => {
            if (overwrite || ov) Versioned.overwrite(data, root)
            else Versioned.currentVersion(root) match {
              case Some(cur) if cur.statsCols.nonEmpty =>
                Versioned.appendWithStats(data, root, cur.statsCols,
                  bloomCols = cur.bloomCols)
              case _ => Versioned.append(data, root)
            }
            ()
          }
      }
    }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new VersionedScanBuilder(root, tableSchema, startingVersion,
      maxVersionsPerTrigger, ignoreChanges, maxBytesPerTrigger,
      maxFilesPerTrigger, colMap, asOf)
}

/** One ScanBuilder for both read shapes. BATCH (vt28): the scan's file set
  * is the pinned version's manifest list, PRUNED at planning time by the
  * pushed filters — `sources.Filter`s convert back to one `Column`, which
  * resolves ([[Versioned.conjuncts]]) and prunes ([[Versioned.prunedFiles]])
  * as every read of the log does (ranges, null counts, blooms), so a
  * `WHERE k BETWEEN …` over `spark.read.format("graft-versioned")` skips
  * files exactly like `readWhere`. Every filter is RETURNED as a residual
  * (pruning only skips
  * files, Spark still decides rows), and column pruning narrows the
  * parquet reader's required schema. Deletion vectors (vt27) apply
  * executor-side: each partition ships its file's sidecar paths and the
  * reader loads them through [[Versioned.victimPositions]], the loader of
  * every read of the log — zero joins, zero shuffles.
  */
private[streaming] class VersionedScanBuilder(root: String, tableSchema: StructType,
    startingVersion: Int, maxVersionsPerTrigger: Int, ignoreChanges: Boolean,
    maxBytesPerTrigger: Option[Long], maxFilesPerTrigger: Option[Int],
    colMap: Map[String, String], asOf: Option[Int])
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var pushed: Array[sources.Filter] = Array.empty
  private var required: StructType = tableSchema

  override def pushFilters(filters: Array[sources.Filter]): Array[sources.Filter] = {
    pushed = filters
    filters // all residual: stats pruning skips files, never decides rows
  }
  override def pushedFilters(): Array[sources.Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    // preserve CONTRACT field order (parquet reads by name, but the
    // physical-name positional story stays aligned with the contract)
    required = StructType(tableSchema.fields.filter(f =>
      requiredSchema.fieldNames.contains(f.name)))

  /** The pushed filters as one conjunctive Column for the pruning rule.
    * Unconvertible filters (NOT among them: negating a widened filter would
    * narrow it) become `lit(true)` — inside an AND they contribute no
    * bound, inside an OR they make that column unbounded; both are the
    * rule's conservative stance (more files, same rows).
    */
  private def filterColumn: Option[org.apache.spark.sql.Column] = {
    def conv(f: sources.Filter): org.apache.spark.sql.Column = f match {
      case sources.EqualTo(a, v) => col(a) === lit(v)
      case sources.GreaterThan(a, v) => col(a) > lit(v)
      case sources.GreaterThanOrEqual(a, v) => col(a) >= lit(v)
      case sources.LessThan(a, v) => col(a) < lit(v)
      case sources.LessThanOrEqual(a, v) => col(a) <= lit(v)
      case sources.In(a, vs) => col(a).isin(vs.toIndexedSeq: _*)
      case sources.IsNull(a) => col(a).isNull
      case sources.IsNotNull(a) => col(a).isNotNull
      case sources.And(l, r) => conv(l) && conv(r)
      case sources.Or(l, r) => conv(l) || conv(r)
      case _ => lit(true)
    }
    if (pushed.isEmpty) None
    else Some(pushed.map(conv).reduce(_ && _))
  }

  override def build(): Scan = new Scan {
    override def readSchema(): StructType = required
    override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
      new VersionedMicroBatchStream(root, required, startingVersion,
        maxVersionsPerTrigger, ignoreChanges, maxBytesPerTrigger,
        maxFilesPerTrigger, colMap)
    override def toBatch: Batch = new VersionedBatch(root, required, colMap,
      asOf, filterColumn)
  }
}

/** The DSv2 BATCH read: one snapshot (asOf or the head AT PLAN TIME),
  * planning-time manifest-stats pruning, one partition per planned file,
  * DV victims dropped in the reader.
  */
private[streaming] class VersionedBatch(root: String, schema: StructType,
    colMap: Map[String, String], asOf: Option[Int],
    predicate: Option[org.apache.spark.sql.Column]) extends Batch {

  // resolved ONCE: the scan is a snapshot, immune to commits racing the job
  private lazy val state = asOf.map(Versioned.versionState(root, _))
    .getOrElse(Versioned.currentVersion(root).getOrElse(
      throw new IllegalArgumentException(s"no committed versions at $root")))

  override def planInputPartitions(): Array[InputPartition] = {
    val rootP = Paths.get(root)
    val candidates = predicate.fold(state.files)(p => Versioned.prunedFiles(state, state.files,
      Versioned.conjuncts(SparkSession.active, state, p)))
    // vt27/vt32: deletion vectors plan as pure MANIFEST METADATA — each
    // partition carries its file's sidecar PATHS and the partition reader
    // loads+merges its own positions executor-side. The driver never opens
    // a sidecar, never materializes a victim position, and the planning
    // payload is O(sidecar paths) however many deletes accumulated
    // (Delta's compressed-DV-read-executor-side stance).
    candidates.map { rel =>
      val p = rootP.resolve(rel)
      VersionedFilePartition(p.toString,
        state.sizes.get(rel).filter(_ >= 0).getOrElse(Files.size(p)),
        Versioned.dvKeyOf(rel),
        state.dvs.getOrElse(rel, Nil).map(sc => rootP.resolve(sc._1).toString).toArray
      ): InputPartition
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    VersionedMicroBatchStream.readerFactory(SparkSession.active, schema, colMap)
}

/** An offset in the version log: "everything up to and including version
  * `v` has been emitted". Checkpoints as the bare number.
  */
private[streaming] case class VersionLogOffset(v: Int) extends Offset {
  override def json(): String = v.toString
}

private[streaming] class VersionedMicroBatchStream(root: String, schema: StructType,
    startingVersion: Int = 1, maxVersionsPerTrigger: Int = 1,
    ignoreChanges: Boolean = false,
    maxBytesPerTrigger: Option[Long] = None,
    maxFilesPerTrigger: Option[Int] = None,
    colMap: Map[String, String] = Map.empty)
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  require(maxVersionsPerTrigger >= 1,
    s"maxVersionsPerTrigger must be >= 1, got $maxVersionsPerTrigger")
  maxBytesPerTrigger.foreach(b => require(b >= 1,
    s"maxBytesPerTrigger must be >= 1, got $b"))
  maxFilesPerTrigger.foreach(f => require(f >= 1,
    s"maxFilesPerTrigger must be >= 1, got $f"))

  // AvailableNow contract: pin the head at query start, drain to exactly
  // there, stop — commits racing the drain wait for the next run
  private var availableTarget: Option[Int] = None

  private def head: Int = Versioned.headVersionNumber(root).getOrElse(0)

  // per-version (added, removedCount, pendingTxn) memo: byte-capped
  // admission reads a version's delta in latestOffset and
  // planInputPartitions reads it again (and a version rejected for size is
  // re-asked next trigger) — each a pair of checkpoint-bounded state
  // reconstructions. Versions are immutable EXCEPT an unresolved staged
  // txn commit (vt23), whose add-set changes when its marker resolves —
  // pending results are therefore never memoized; commit() prunes entries
  // at or below the committed offset to bound driver memory.
  private val deltaCache =
    new java.util.concurrent.ConcurrentHashMap[Int, (Seq[(String, Long)], Int, Boolean)]()

  private def versionDelta(n: Int): (Seq[(String, Long)], Int, Boolean) = {
    val cached = deltaCache.get(n)
    if (cached != null) cached
    else {
      val v = Versioned.addedRemovedPending(root, n)
      if (!v._3) deltaCache.put(n, v)
      v
    }
  }

  private def ver(o: Offset): Int = o match {
    case VersionLogOffset(v) => v
    case other => other.json().trim.toInt // engine-side SerializedOffset
  }

  override def prepareForTriggerAvailableNow(): Unit = { availableTarget = Some(head) }

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  /** Up to `maxVersionsPerTrigger` versions per micro-batch (default 1 —
    * the natural unit: a commit is the producer's atomicity boundary),
    * additionally capped by `maxBytesPerTrigger` and/or
    * `maxFilesPerTrigger` when set: versions are admitted until their
    * cumulative ADDED bytes (from the fmt=3 manifest sizes — zero
    * filesystem stats; pre-fmt-3 files fall back to one driver stat) or
    * ADDED file count would exceed its cap, always admitting at least one
    * version so an oversized single commit still drains. The caps COMPOSE:
    * the batch ends at the first version any active cap rejects. A backlog
    * of B commits drains in ⌈B/k⌉ batches; batch membership is still
    * decided by the manifests, never by listing.
    */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    // Long arithmetic: maxVersionsPerTrigger defaults to Int.MaxValue when
    // only a size cap is set, and an Int add would overflow
    val ceiling = math.min(availableTarget.getOrElse(head).toLong,
      ver(start).toLong + maxVersionsPerTrigger).toInt
    // one admission walk covers every gate: the UNRESOLVED-txn stop (an
    // offset past a pending staged version would silently skip its files
    // when the marker commits — the stream waits at it instead), then the
    // byte/file caps when active
    var n = ver(start)
    var bytes = 0L
    var files = 0L
    var stopped = false
    while (n < ceiling && !stopped) {
      val (added, _, pending) = versionDelta(n + 1)
      if (pending) stopped = true // never admit past an unresolved txn
      else {
        // only pay for the bytes walk (and any pre-fmt-3 stat) when a
        // byte cap is actually active
        val vBytes =
          if (maxBytesPerTrigger.isEmpty) 0L
          else added.map { case (rel, sz) =>
            if (sz >= 0) sz else Files.size(Paths.get(root).resolve(rel))
          }.sum
        val fits = maxBytesPerTrigger.forall(bytes + vBytes <= _) &&
          maxFilesPerTrigger.forall(files + added.length <= _)
        // admit the first version unconditionally; later ones only if
        // they fit under every active cap
        if (n == ver(start) || fits) { n += 1; bytes += vBytes; files += added.length }
        else stopped = true
      }
    }
    VersionLogOffset(n.max(ver(start)))
  }

  override def latestOffset(): Offset = throw new UnsupportedOperationException(
    "admission-controlled stream: the engine calls latestOffset(start, limit)")

  override def initialOffset(): Offset = VersionLogOffset(math.max(0, startingVersion - 1))

  override def deserializeOffset(json: String): Offset =
    VersionLogOffset(json.trim.toInt)

  override def commit(end: Offset): Unit = {
    // bound the memo: everything at or below the committed offset is done
    val e = ver(end)
    deltaCache.keySet.removeIf(_ <= e)
  }
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val rootP = Paths.get(root)
    (ver(start) + 1 to ver(end)).flatMap { n =>
      val (added, removed, _) = versionDelta(n)
      // a commit that REMOVES files rewrote or deleted already-streamed
      // rows: replaying its adds would duplicate downstream data, and its
      // deletes cannot be retracted through an append-only source. Fail by
      // default (Delta's stance); ignoreChanges opts into re-streaming the
      // rewrites (downstream dedups by key) and dropping the deletes.
      if (removed > 0 && !ignoreChanges)
        throw new IllegalStateException(
          s"graft-versioned stream at $root: version $n removed $removed file(s) " +
            "(copy-on-write merge/delete/compact/zorder, or a deletion-vector " +
            "attach — rows deleted in place). Streaming past a change " +
            "commit would duplicate rewritten rows downstream and silently drop " +
            "deletes. Set .option(\"ignoreChanges\", \"true\") to re-stream rewrites " +
            "as appends (downstream must dedup by key), or restart the stream from " +
            "a fresh checkpoint past this version.")
      added.map { case (rel, size) =>
        val p = rootP.resolve(rel)
        // fmt=3 manifests carry sizes — zero stats per trigger; pre-fmt-3
        // files (size -1) fall back to one driver stat each
        VersionedFilePartition(p.toString,
          if (size >= 0) size else Files.size(p)): InputPartition
      }
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    VersionedMicroBatchStream.readerFactory(SparkSession.active, schema, colMap)
}

private[streaming] object VersionedMicroBatchStream {
  /** The shared reader factory of the stream and batch paths. Files carry
    * PHYSICAL names (vt24); a rename is name-only so the physicalized
    * struct is positionally identical to the logical one — InternalRows
    * read here serve the logical readSchema() unchanged. Data files and
    * deletion-vector sidecars both read through Spark's own parquet reader
    * ([[Versioned.parquetReader]]), so DV application is entirely
    * executor-side.
    */
  def readerFactory(spark: SparkSession, schema: StructType,
      colMap: Map[String, String]): PartitionReaderFactory =
    new VersionedReaderFactory(
      Versioned.parquetReader(spark, Versioned.physicalStruct(schema, colMap)),
      Versioned.sidecarReader(spark))
}

/** `dvSidecars` (vt27/vt32) are the ABSOLUTE paths of the deletion-vector
  * sidecars attached to this file, `dvKey` its [[Versioned.dvKeyOf]] key
  * — pure metadata, O(attachments) bytes however many rows are
  * deleted. The reader loads and merges its own file's positions
  * executor-side; empty for clean files and on every streaming partition
  * (a DV attach is a CHANGE commit the stream refuses by default; under
  * ignoreChanges the stream's contract is re-streamed/stale rows anyway).
  */
private[streaming] case class VersionedFilePartition(path: String, length: Long,
    dvKey: String = "", dvSidecars: Array[String] = Array.empty)
    extends InputPartition

private[streaming] class VersionedReaderFactory(
    readFunc: PartitionedFile => Iterator[InternalRow],
    sidecarReadFunc: PartitionedFile => Iterator[InternalRow])
    extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val vp = partition.asInstanceOf[VersionedFilePartition]
    val base: Iterator[InternalRow] = Versioned.fileRows(readFunc, vp.path, vp.length)
    val deleted: Array[Long] =
      if (vp.dvSidecars.isEmpty) Array.emptyLongArray
      else Versioned.victimPositions(sidecarReadFunc, vp.dvKey, vp.dvSidecars.toSeq)
    // no filters were pushed into parquet, so rows arrive in FILE ORDER and
    // the running index IS the parquet row position
    var pos = -1L
    val it: Iterator[InternalRow] =
      if (deleted.isEmpty) base
      else base.filter { _ => pos += 1; java.util.Arrays.binarySearch(deleted, pos) < 0 }
    new PartitionReader[InternalRow] {
      private var cur: InternalRow = _
      override def next(): Boolean =
        if (it.hasNext) { cur = it.next(); true } else false
      override def get(): InternalRow = cur
      override def close(): Unit = ()
    }
  }
}
