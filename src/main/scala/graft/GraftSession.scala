package graft

import org.apache.spark.sql.SparkSession

/** The one place a Spark session is built. `Bench`, `Verify`, `BenchScale`,
  * `tools.ProfileOne` and the test suites all take their session from
  * [[session]], so the plans that are proven correct are the plans that are
  * timed, and no library call has to set session state as a side effect.
  */
object GraftSession {

  /** Worker cores: `SPARK_GRAFT_CPUS` when set, else the host's core count. */
  lazy val cores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(parseCores)
      .getOrElse(Runtime.getRuntime.availableProcessors())

  /** `SPARK_GRAFT_CPUS` as a positive integer; anything else is refused. */
  def parseCores(s: String): Int =
    s.trim.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
      s"SPARK_GRAFT_CPUS must be a positive integer, got '$s'"))

  def session(cores: Int = GraftSession.cores): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      // At bench SF some compute-dense stages (e.g. n-gram set intersection)
      // move only ~1 MB of shuffle bytes; AQE's default 1 MB minPartitionSize
      // floor coalesces them to ONE task and serializes minutes of CPU onto
      // one core. A 64 KB floor lets parallelismFirst spread them; at real
      // scale partitions dwarf both floors and this is a no-op.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      // Scan-side twin of the floor above: at bench SF a whole table fits in
      // 1-2 default 128 MB scan splits, serializing map-side codec/signature
      // stages (the shuffle-free paths AQE cannot widen) onto two cores.
      // Smaller splits spread them with no extra shuffle; at production
      // scale files dwarf the default split size and this knob is moot.
      .config("spark.sql.files.maxPartitionBytes", "4m")
      // events.ts reads through timestamp casts whose result is
      // session-timezone dependent under the instant encoding: an unpinned
      // session on a non-UTC host would execute different plans (and w9/x9
      // would compute different values) than the verified ones.
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // events.parquet has shipped `ts` as INT64 TIMESTAMP(NANOS), which Spark
      // reads only as a long under this flag (`Tables.events` converts it);
      // it is a no-op on TIMESTAMP(MICROS) files.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // the BigQuery-dialect and engine-native SQL functions
      .config("spark.sql.extensions", classOf[graft.functions.GraftExtensions].getName)
      // versioned tables addressed by root path in SQL: graft.`/data/t`
      .config("spark.sql.catalog.graft", classOf[graft.functions.GraftCatalog].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
