package pipebench

import graft.merge.{Dml, Versioned}
import graft.quality.{Monitoring, QualityChecks, Reconciliation, ViewVerification}
import graft.sources.Tables
import graft.sync.SyncPipeline
import graft.views.DomainViews
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One workload: input generation, a set-up that can be repeated (each
  * repetition builds a fresh state from the inputs; the last one is kept),
  * an untimed warm-up, and the timed operation. [[op]] runs the operation
  * and returns its output check, which the loop calls outside the timed
  * span. */
abstract class Workload(val spark: SparkSession, val tracer: Tracer, val work: String, val seed: Long) {
  def generate(): Unit = ()
  def prepare(rep: Int): Unit
  def warmup(): Unit
  def op(i: Int): () => Boolean
  def exhausted: Boolean = false
  /** Operations in one cycle of the workload's fixed-proportion mix. A run
    * stops only at a cycle boundary, so every run measures the same mix, and
    * space amplification is read after the first cycle, so it does not grow
    * with how many operations a run fits. */
  def cycle: Int = 1
  /** End-of-run output checks. */
  def finish(): Boolean
  /** Bytes on disk under the workload's tables over one compact write of their live rows. */
  def spaceAmp(): Double
  def inputs(): Map[String, Any]
  /** Rows the timed operations moved (rows_per_s numerator). */
  var rowsMoved = 0L
  /** Layer metrics only the workload can see, summed over traced operations. */
  val extra: mutable.Map[String, Double] = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  protected def traced(key: String, v: Double): Unit = if (tracer.on) extra(key) += v

  protected def fresh(dir: String): String = { IO.delete(Paths.get(dir)); dir }
}

object IO {
  def delete(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)

  def bytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
  }

  /** Order-independent content hashes of named frames, in one job: per
    * name, (rows, sum of per-row xxhash64 over the columns in name order).
    * Doubles are rounded to 6 places first, so two legal summation orders of
    * one aggregate hash equal. */
  def hashes(dfs: Seq[(String, DataFrame)]): Map[String, (Long, java.math.BigDecimal)] = {
    val rows = dfs.map { case (name, df) =>
      val cols = df.columns.sorted.toIndexedSeq.map { c =>
        df.schema(c).dataType match {
          case DoubleType | FloatType => round(col(c), 6)
          case _ => col(c)
        }
      }
      df.select(lit(name).as("name"), xxhash64(cols: _*).cast("decimal(38,0)").as("h"))
    }.reduce(_ unionByName _)
    val got = rows.groupBy("name").agg(count(lit(1)), sum("h")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDecimal(2))).toMap
    dfs.map { case (name, _) => name -> got.getOrElse(name, (0L, java.math.BigDecimal.ZERO)) }.toMap
  }

  /** Runs the jobs concurrently on a few threads and waits for them all. */
  def concurrently(jobs: Seq[() => Unit]): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try jobs.map(j => pool.submit(new Runnable { def run(): Unit = j() })).foreach(_.get())
    finally pool.shutdown()
  }

  /** Bytes of one fresh single-file parquet write of `df`. */
  def compactBytes(df: DataFrame, scratch: String): Long = {
    IO.delete(Paths.get(scratch))
    df.coalesce(1).write.parquet(scratch)
    val b = bytes(scratch)
    IO.delete(Paths.get(scratch))
    b
  }
}

/** The reference's synced tables: facts merged by key with the date in the
  * key (so the sync takes the partition-scoped path), dimensions reloaded. */
object Synced {
  val DetailKeys = Seq("WORK_ITEM_ID", "REPORTING_DATE")
  val BudgetKeys = Seq("WORK_ITEM_ID", "REPORTING_DATE", "BUDGETED_MINUTES")
  /** row_uuid is in the key: a re-ingested entry lands as its own row, and
    * the post-merge dedup cleanup removes the older ingestion. */
  val TimeKeys = Seq("TIME_ENTRY_ID", "REPORTING_DATE", "row_uuid")
  val Facts = Seq("details", "budget", "time_entries")
}

/** Loads night 0 (every date up to day 0) into an empty target and cleans
  * it, then syncs one night at a time. */
final class Pipeline(spark: SparkSession, tracer: Tracer, val src: SourceTables, val root: String) {
  import Synced._
  def tgt(name: String): String = s"$root/$name"
  def read(name: String): DataFrame = spark.read.parquet(tgt(name))
  var rowsSynced = 0L

  /** Each fact's window on night `n`; night 0 loads all history. */
  def windowStart(name: String, n: Int): String =
    if (n == 0) Gen.FirstDay.toString
    else Gen.windowStart(n, name match {
      case "details" => Gen.DetailsWindow
      case "budget" => Gen.BudgetWindow
      case "time_entries" => Gen.TimeWindow
    })

  private def syncFacts(n: Int): Unit = {
    val end = Gen.day(n)
    Seq(("details", src.details(n), DetailKeys, "work_item_details"),
      ("budget", src.budget(n), BudgetKeys, "work_item_budget_vs_actual"),
      ("time_entries", src.timeEntries(n), TimeKeys, "user_time_entry")).foreach {
      case (name, df, keys, pipeline) =>
        val start = windowStart(name, n)
        val r = tracer.span("sync", name) {
          SyncPipeline.incrementalSync(spark, df, tgt(name), keys, "REPORTING_DATE", start, end, pipeline)
        }
        rowsSynced += r.rowsSynced
    }
    src.dims.foreach { d =>
      val r = tracer.span("sync", d)(SyncPipeline.fullSync(spark, src.dim(d), tgt(d), d))
      rowsSynced += r.rowsSynced
    }
  }

  /** `daily_sync.py`'s post-merge cleanup on the given days of the time
    * entry target (newest ingestion per entry and date). */
  private def dedupTimeEntries(start: String, end: String): Unit = tracer.span("merge", "time_entry_dedup") {
    val days = read("time_entries").filter(col("REPORTING_DATE").between(
      lit(start).cast("date"), lit(end).cast("date")))
    Dml.overwritePartitions(DomainViews.timeEntryDedupCleanup(days).localCheckpoint(),
      tgt("time_entries"), Seq("REPORTING_DATE"))
  }

  def initialLoad(): Unit = {
    syncFacts(0)
    dedupTimeEntries(Gen.FirstDay.toString, Gen.day(0))
  }

  def night(n: Int): Unit = {
    syncFacts(n)
    dedupTimeEntries(windowStart("time_entries", n), Gen.day(n))
    // the day leaving the budget window: drop budget rows the source withdrew
    tracer.span("merge", "smart_delete") {
      val d = lit(windowStart("budget", n)).cast("date")
      val target = read("budget").filter(col("REPORTING_DATE") === d)
      val live = src.budget(n).filter(col("REPORTING_DATE") === d)
      Dml.overwritePartitions(Dml.smartDelete(target, live, BudgetKeys, "REPORTING_DATE", d).localCheckpoint(),
        tgt("budget"), Seq("REPORTING_DATE"))
    }
  }

  /** Each fact target as one full-range load of the night-n source would
    * leave it (deduplicated on its merge key; time entries cleaned). */
  def expected(name: String, n: Int): DataFrame = {
    def full(df: DataFrame, keys: Seq[String]) =
      Tables.dateWindow(df, "REPORTING_DATE", Gen.FirstDay.toString, Gen.day(n)).dropDuplicates(keys)
    name match {
      case "details" => full(src.details(n), DetailKeys)
      case "budget" => full(src.budget(n), BudgetKeys)
      case "time_entries" => DomainViews.timeEntryDedupCleanup(full(src.timeEntries(n), TimeKeys))
      case d => src.dim(d)
    }
  }

  def tables: Seq[String] = Facts ++ src.dims

  /** Source sizes: bytes of every table, rows of the facts (the dimension
    * row counts are the generator's constants). */
  def inputs(): Map[String, Any] =
    tables.map(t => s"$t.source_bytes" -> IO.bytes(s"${src.dir}/$t")).toMap ++
      Facts.map(t => s"$t.source_rows" -> spark.read.parquet(s"${src.dir}/$t").count())
}

/** nightly_batch: each operation is one night of the reference's job. */
final class Nightly(spark: SparkSession, tracer: Tracer, work: String, seed: Long)
    extends Workload(spark, tracer, work, seed) {
  private var src: SourceTables = _
  private var p: Pipeline = _
  private var n = 0
  private lazy val bytesPerRow: Map[String, Double] = p.tables.map { t =>
    t -> IO.bytes(s"${p.src.dir}/$t").toDouble / math.max(1L, spark.read.parquet(s"${p.src.dir}/$t").count())
  }.toMap

  override def generate(): Unit = src = new Gen(spark, seed).writeSources(fresh(s"$work/source"))

  def prepare(rep: Int): Unit = {
    p = new Pipeline(spark, tracer, src, fresh(s"$work/target"))
    p.initialLoad()
    n = 0
  }

  private def viewsDir = s"${p.root}/views"
  private def view(name: String) = spark.read.parquet(s"$viewsDir/$name")

  private def runNight(night: Int): Unit = {
    p.night(night)
    val details = p.read("details"); val te = p.read("time_entries"); val budget = p.read("budget")
    val dims = p.src.dims.map(d => d -> p.read(d)).toMap
    def mat(name: String)(df: => DataFrame): Unit =
      tracer.span("views", s"domain_$name")(df.write.mode("overwrite").parquet(s"$viewsDir/$name"))
    mat("latest")(DomainViews.workItemDetailsLatest(details))
    mat("corrected")(DomainViews.corrected(budget, details))
    val corrected = view("corrected")
    mat("v4")(DomainViews.v4(details, te, dims("productivity_repeats"), dims("client_group_dim"),
      dims("client_dim"), dims("tenant_team_dim"), dims("tenant_team_member_dim"), dims("user_dim")))
    mat("v5")(DomainViews.v5(te, details, corrected, dims("productivity_repeats"), dims("client_group_dim"),
      dims("client_dim"), dims("tenant_team_dim"), dims("tenant_team_member_dim"), dims("user_dim")))
    mat("v5_fallback")(DomainViews.v5Fallback(te, details, corrected))
    import QualityChecks.{TableCheck, Thresholds}
    // BASELINE.md's per-table floors (data_quality_agent.py)
    tracer.span("quality", "quality_checks")(QualityChecks.run(Seq(
      TableCheck("WORK_ITEM_BUDGET_VS_ACTUAL_BQ", budget, Synced.BudgetKeys, Some("REPORTING_DATE"),
        "USER_NAME", Thresholds(1000, 25, 10.0, 5.0)),
      TableCheck("WORK_ITEM_DETAILS_BQ", details, Synced.DetailKeys, Some("REPORTING_DATE"),
        "WORK_ITEM_ID", Thresholds(500, 25, 5.0, 2.0)),
      TableCheck("USER_TIME_ENTRY_BQ", te, Seq("TIME_ENTRY_ID", "REPORTING_DATE"), Some("REPORTING_DATE"),
        "USER_ID", Thresholds(2000, 25, 15.0, 10.0))),
      asOf = lit(Gen.day(night)).cast("date")).collect())
    tracer.span("quality", "view_verification")(
      ViewVerification.summary(details, corrected, view("v5")).collect())
    tracer.span("quality", "reconciliation")(Reconciliation.cleanupReport(
      p.src.details(night).select("WORK_ITEM_ID"), Reconciliation.Tables(details, budget, te)).collect())
    tracer.span("quality", "monitoring")(Monitoring.report(details, te, view("v4"),
      lit(s"${Gen.day(night)} 06:00:00").cast("timestamp_ntz")).collect())
  }

  /** No warm-up night: the reference runs each night as a fresh short-lived
    * job, so the first night after the load (whose three set-ups already ran
    * the sync and write paths) is the cost users see. */
  def warmup(): Unit = ()

  override def exhausted: Boolean = n >= Gen.MaxNights

  def op(i: Int): () => Boolean = {
    n += 1
    val before = p.rowsSynced
    runNight(n)
    val synced = p.rowsSynced - before
    val night = n
    val tracedNight = tracer.on
    () => {
      def traced(key: String, v: => Double): Unit = if (tracedNight) extra(key) += v
      traced("sync.rows_synced", synced.toDouble)
      // source rows this night's windows pulled, and their bytes
      val end = Gen.day(night)
      val pulled = IO.hashes(Seq("details" -> p.src.details(night), "budget" -> p.src.budget(night),
        "time_entries" -> p.src.timeEntries(night)).map { case (t, df) =>
        t -> Tables.dateWindow(df, "REPORTING_DATE", p.windowStart(t, night), end)
      } ++ p.src.dims.map(d => d -> p.src.dim(d))).map { case (t, (rows, _)) => t -> rows }
      rowsMoved += pulled.map(_._2).sum
      traced("sync.increment_bytes", pulled.map { case (t, r) => r * bytesPerRow(t) }.sum)
      synced > 0 && pulled.forall(_._2 > 0)
    }
  }

  private var dumpedNight = -1
  /** One compact single-file copy of every synced target, written once per
    * night: the tables the DuckDB oracle of the final V5 reads (under the
    * names `DomainOracles` expects), the copy the end-of-run hash check
    * reads, and the denominator of space amplification. */
  private def dump(): Map[String, String] = {
    val names = Map("details" -> "work_item_details", "budget" -> "budget_vs_actual").withDefault(identity)
    val dirs = p.tables.map(t => t -> s"${graft.queries.DomainOracles.FixturesDir}/${names(t)}").toMap
    if (dumpedNight != n) {
      IO.concurrently(dirs.toSeq.map { case (t, d) => () => p.read(t).coalesce(1).write.mode("overwrite").parquet(d) })
      dumpedNight = n
    }
    dirs
  }

  def finish(): Boolean = {
    val dumps = dump()
    val got = IO.hashes(p.tables.flatMap(t =>
      Seq(s"$t.target" -> spark.read.parquet(dumps(t)), s"$t.expected" -> p.expected(t, n))))
    val differing = p.tables.filter(t => got(s"$t.target") != got(s"$t.expected"))
    differing.foreach(t => System.err.println(s"[pipebench] target $t differs from a full-range load of the source"))
    val targetsMatch = differing.isEmpty
    Files.createDirectories(Paths.get(s"$work/check"))
    Files.writeString(Paths.get(s"$work/check/v5_oracle.sql"), graft.queries.DomainOracles.v5)
    Files.writeString(Paths.get(s"$work/check/v5_spark.path"), s"$viewsDir/v5")
    targetsMatch
  }

  def spaceAmp(): Double = {
    val dumps = dump()
    p.tables.map(t => IO.bytes(p.tgt(t))).sum.toDouble / p.tables.map(t => IO.bytes(dumps(t))).sum
  }
  def inputs(): Map[String, Any] = p.inputs() ++ Map("nights" -> n, "fact_scale" -> Gen.FactScale)
}

/** table_log_dml: one `Versioned` table under a seeded stream of daily
  * appends, keyed restatements, stale deletion-vector deletes, pruned and
  * time-travel reads, and periodic purge/compaction; every read and the
  * final version are checked against an in-memory model of the commits. */
final class TableLog(spark: SparkSession, tracer: Tracer, work: String, seed: Long)
    extends Workload(spark, tracer, work, seed) {
  import spark.implicits._
  val RowsPerDay = 1000
  val InitialDays = 30
  type Rec = (Long, Long) // (day, val)
  private var root: String = _
  private var model = Map.empty[Long, Rec]
  private val byVersion = mutable.Map.empty[Int, Map[Long, Rec]]
  private var head = 0
  private var nextId = 0L
  private var nextDay = 0L
  private var maintenance = 0
  private var asOfReads = 0
  private val rnd = new scala.util.Random(seed)

  private def value(id: Long, salt: Long): Long =
    java.lang.Math.floorMod(scala.util.hashing.MurmurHash3.arrayHash(Array(seed, id, salt)).toLong, 1000000L)

  private def frame(rows: Seq[(Long, Long, Long)]): DataFrame =
    rows.map { case (id, d, v) => (id, d, v, s"payload-$v") }.toDF("id", "day", "val", "pay")

  private def commit(v: Versioned.Version, m: Map[Long, Rec]): Unit = {
    model = m; head = v.n; byVersion(v.n) = m
  }

  private def dayRows(d: Long): Seq[(Long, Long, Long)] = {
    val rows = (0 until RowsPerDay).map(k => (nextId + k, d, value(nextId + k, 0)))
    nextId += RowsPerDay
    rows
  }

  def prepare(rep: Int): Unit = {
    root = fresh(s"$work/tablelog/table")
    byVersion.clear(); nextId = 0; nextDay = 0; maintenance = 0; asOfReads = 0
    val rows = (0 until InitialDays).flatMap { _ => val r = dayRows(nextDay); nextDay += 1; r }
    commit(Versioned.appendWithStats(frame(rows), root, Seq("id", "day")),
      rows.map { case (id, d, v) => id -> (d, v) }.toMap)
  }

  /** Operation mix per 20 operations, interleaved in a fixed order so every
    * run measures the same sequence of kinds (the seed picks the rows, keys,
    * ranges and versions): six appends against two deletes of three days
    * each keeps the live table near its initial size. */
  private val block = Seq("append", "read_where", "merge", "read_as_of", "append", "read_where",
    "delete_dv", "append", "read_where", "merge", "read_as_of", "append", "read_where", "append",
    "merge", "read_as_of", "append", "read_where", "delete_dv", "maintain")
  /** Two blocks, so a cycle holds one purge and one compaction. */
  override def cycle: Int = 2 * block.size
  private def kind(i: Int): String = block(i % block.size)

  private def rowsOf(rs: Array[Row]): Map[Long, Rec] =
    rs.map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap

  private def sameRows(rs: Array[Row], want: Map[Long, Rec]): Boolean =
    rs.length == want.size && rowsOf(rs) == want &&
      rs.forall(r => r.getString(3) == s"payload-${r.getLong(2)}")

  /** One operation of each kind (maintenance twice: purge, then compact). */
  private val warmupKinds = block.distinct :+ "maintain"
  def warmup(): Unit = warmupKinds.indices.foreach(i => op(-1 - i)())

  def op(i: Int): () => Boolean = {
    val k = if (i < 0) warmupKinds(-1 - i) else kind(i)
    def liveDays = model.valuesIterator.map(_._1)
    k match {
      case "append" =>
        val rows = dayRows(nextDay); nextDay += 1
        val v = tracer.span("versioned", "append")(Versioned.appendWithStats(frame(rows), root, Seq("id", "day")))
        commit(v, model ++ rows.map { case (id, d, x) => id -> (d, x) })
        rowsMoved += rows.size
        () => true
      case "merge" =>
        val recent = model.iterator.filter(_._2._1 >= nextDay - 5).map(_._1).toIndexedSeq
        val picked = rnd.shuffle(recent).take(200)
        val salt = head.toLong + 1
        val updates = picked.map(id => (id, model(id)._1, value(id, salt)))
        val inserts = (0 until 10).map(k => (nextId + k, nextDay - 1, value(nextId + k, salt)))
        nextId += 10
        val rows = updates ++ inserts
        val v = tracer.span("versioned", "merge")(Versioned.mergeInto(spark, root, frame(rows), Seq("id")))
        commit(v, model ++ rows.map { case (id, d, x) => id -> (d, x) })
        rowsMoved += rows.size
        () => true
      case "delete_dv" =>
        val cutoff = liveDays.min + 3
        val v = tracer.span("versioned", "delete_dv")(Versioned.deleteWhereDV(spark, root, col("day") < cutoff))
        val kept = model.filter(_._2._1 >= cutoff)
        rowsMoved += model.size - kept.size
        commit(v, kept)
        () => true
      case "read_where" =>
        // three live days (the live days are contiguous), so every seed
        // reads the same amount
        val days = liveDays.toIndexedSeq.distinct.sorted
        val lo = days(rnd.nextInt(days.size - 2))
        val rs = tracer.span("versioned", "read_where")(
          Versioned.readWhere(spark, root, col("day") >= lo && col("day") <= lo + 2).collect())
        traced("versioned.rows_returned", rs.length.toDouble)
        () => {
          rowsMoved += rs.length
          sameRows(rs, model.filter { case (_, (d, _)) => d >= lo && d <= lo + 2 })
        }
      case "read_as_of" =>
        // a version 2, 8 or 20 commits back in turn: what a time-travel read
        // costs depends on how far back it goes, so the distance is fixed
        val versions = byVersion.keys.toIndexedSeq.sorted
        asOfReads += 1
        val at = versions(math.max(0, versions.size - 1 - Seq(2, 8, 20)(asOfReads % 3)))
        val rs = tracer.span("versioned", "read_as_of")(Versioned.read(spark, root, Some(at)).collect())
        traced("versioned.rows_returned", rs.length.toDouble)
        () => { rowsMoved += rs.length; sameRows(rs, byVersion(at)) }
      case "maintain" =>
        maintenance += 1
        val v =
          if (maintenance % 2 == 1) tracer.span("versioned", "purge")(Versioned.purgeDeletes(spark, root))
          else tracer.span("versioned", "compact")(Versioned.compact(spark, root, 4))
        commit(v, model)
        () => true
    }
  }

  def finish(): Boolean = {
    val ok = sameRows(Versioned.read(spark, root).collect(), model)
    if (!ok) System.err.println("[pipebench] current version differs from the model")
    extra("versioned.log_bytes") = IO.bytes(s"$root/_vlog").toDouble
    ok
  }

  def spaceAmp(): Double =
    IO.bytes(root).toDouble / IO.compactBytes(Versioned.read(spark, root), s"$work/compact")

  def inputs(): Map[String, Any] = Map("initial_rows" -> InitialDays * RowsPerDay, "rows_per_day" -> RowsPerDay,
    "versions" -> head, "live_rows" -> model.size, "table_bytes" -> IO.bytes(root))
}
