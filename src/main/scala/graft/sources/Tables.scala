package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Table registry + scan operators (SURVEY.md §2.1).
  *
  * The reference pulls source tables through paginated `SELECT * ... ORDER BY
  * key LIMIT n OFFSET m` loops (ref: `snowflake_bq_sync Time details/main.py:103-126`)
  * and date-windowed incremental scans (ref: `snowflake_bq_sync_daily Time
  * Details/main.py:139-145`). On Spark both collapse into a parallel columnar
  * scan with Catalyst predicate pushdown; the helpers below keep the reference
  * semantics addressable one-by-one for the correctness harness.
  *
  * Scale note (100 TB): all readers go through `spark.read.parquet` so the
  * scan parallelism is governed by `spark.sql.files.maxPartitionBytes`, and
  * filters/column pruning reach the parquet reader (PushedFilters /
  * ReadSchema) instead of being applied post-scan like the reference's
  * client-side loops.
  */
object Tables {

  /** S4: whole-table single-shot scan (ref: `client_group_dimension_sync_daily/main.py:119-129`). */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "region")
  /** events.parquet has shipped `ts` under two encodings: INT64
    * TIMESTAMP(NANOS) (which the vectorized reader surfaces as LongType under
    * the session's `nanosAsLong`, see [[graft.GraftSession]]) and plain
    * TIMESTAMP(MICROS). Branch on the observed type so both read to
    * microsecond TIMESTAMP_NTZ — nanos truncate, the same coercion a serial
    * engine applies.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = table(spark, dir, "events")
    val tsExpr = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)")
      case _ =>
        col("ts").cast("timestamp_ntz")
    }
    raw.withColumn("ts", tsExpr)
  }
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")

  /** S1: deterministic keyset-ordered page (ref: `snowflake_bq_sync Time
    * details/main.py:103-126`). The reference serializes the whole table
    * through LIMIT/OFFSET pages; we expose one page with a total order so the
    * result is well-defined. At scale, pagination is replaced by partitioned
    * scans — this exists for semantic parity, not as the bulk-read path.
    */
  def page(df: DataFrame, orderCols: Seq[String], offset: Int, limit: Int): DataFrame =
    df.orderBy(orderCols.map(col): _*).offset(offset).limit(limit)

  /** S2: date-windowed incremental scan (ref: `snowflake_bq_sync_daily Time
    * Details/main.py:139-145`, ±90d window). Catalyst pushes the between
    * filter into the parquet scan.
    */
  def dateWindow(df: DataFrame, dateCol: String, start: String, end: String): DataFrame =
    df.filter(col(dateCol).between(lit(start).cast("date"), lit(end).cast("date")))
}
