package graft.schema

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** Snowflake→engine type mapping + schema introspection (SURVEY.md §1.2/§1.3).
  *
  * The reference derives target schemas at runtime from
  * `information_schema.columns` and maps Snowflake type names to BigQuery
  * types, truncating parametrized types to their base
  * (ref: `snowflake_bq_sync_daily Time Details/main.py:31-77`, split at `:72`).
  * NUMBER maps to NUMERIC in the daily pipelines but FLOAT64 in the oldest
  * pipeline (`snowflake_bq_sync Time details/main.py:83`) — a reference
  * inconsistency; we standardize on decimal and document the deviation.
  */
object SchemaMapper {

  /** Map a Snowflake type name (possibly parametrized, any case) to a Spark type. */
  def sparkType(snowflakeType: String): DataType = {
    val base = snowflakeType.split("\\(")(0).trim.toUpperCase
    base match {
      case "VARCHAR" | "CHAR" | "TEXT" | "STRING" => StringType
      case "NUMBER" | "DECIMAL" | "NUMERIC" => DecimalType(38, 9)
      case "INT" | "INTEGER" | "BIGINT" | "SMALLINT" | "TINYINT" => LongType
      case "FLOAT" | "FLOAT4" | "FLOAT8" | "DOUBLE" | "REAL" => DoubleType
      case "BOOLEAN" => BooleanType
      case "DATE" => DateType
      case "TIMESTAMP_NTZ" | "DATETIME" => TimestampNTZType
      case "TIMESTAMP_LTZ" | "TIMESTAMP_TZ" | "TIMESTAMP" => TimestampType
      case "BINARY" | "VARBINARY" => BinaryType
      case _ => StringType // reference default: unknown → STRING
    }
  }

  /** S3 as an operator: introspect a parquet table's schema into the same
    * (column_name, data_type, ordinal_position) relation the reference reads
    * from `information_schema.columns`.
    */
  def introspect(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val schema = spark.read.parquet(path).schema
    schema.fields.zipWithIndex.toIndexedSeq
      .map { case (f, i) => (f.name, f.dataType.sql, i + 1L, f.nullable) }
      .toDF("column_name", "data_type", "ordinal_position", "is_nullable")
  }

  /** Ingest-layer cast: accept ISO-string transport columns and cast to the
    * declared schema (the reference ships dates/decimals as strings during
    * JSON transport, ref: `snowflake_bq_sync Time details/main.py:169-180`).
    */
  def castTo(df: DataFrame, schema: StructType): DataFrame =
    df.select(schema.fields.toIndexedSeq.map(f => col(f.name).cast(f.dataType).as(f.name)): _*)
}
