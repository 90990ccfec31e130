package graft.quality

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's daily monitoring dashboard (`pipeline_monitoring.sql:9-131`)
  * as one report frame: per-table freshness with day-lag alert ladder,
  * data-quality issue counts, assembled into the three-section tagged union
  * the dashboard renders. `asOf` replaces CURRENT_DATE()/CURRENT_DATETIME()
  * so the report is reproducible under test (ReferenceSqlSpec proves the
  * verbatim SQL equals this plan).
  */
object Monitoring {

  private val defaultAsOf: Column = lit("2025-09-01 00:00:00").cast("timestamp_ntz")

  def report(details: DataFrame, timeEntries: DataFrame, v4: DataFrame,
      asOf: Column = defaultAsOf): DataFrame = {
    val asDate = to_date(asOf)

    // one aggregate per table feeds both its freshness row and its issue
    // row, so each input is scanned once
    def stats(df: DataFrame, order: Int, name: String, checkType: String,
        issue: Column): DataFrame =
      df.agg(max(col("REPORTING_DATE")).as("latest_date"), count(lit(1)).as("total_records"),
          count_if(issue).as("issue_count"))
        .select(lit(order).as("table_order"), lit(name).as("table_name"),
          lit(checkType).as("check_type"), col("latest_date"), col("total_records"),
          col("issue_count"), datediff(asDate, col("latest_date")).as("days_behind"))

    val perTable =
      stats(details, 0, "WORK_ITEM_DETAILS_BQ", "NULL_WORK_ITEM_ID",
        col("WORK_ITEM_ID").isNull || col("WORK_ITEM_ID") === "")
        .unionByName(stats(v4, 1, "WORK_ITEM_BUDGET_TIME_TRACKING_VIEW_V4", "NULL_CLIENT_ID",
          col("CLIENT_ID").isNull || col("CLIENT_ID") === ""))
        .unionByName(stats(timeEntries, 2, "USER_TIME_ENTRY_BQ", "FUTURE_DATES",
          col("REPORTING_DATE") > asDate))

    val header = details.sparkSession.range(1).select(
      lit("🔍 PIPELINE HEALTH REPORT").as("report_section"),
      asOf.as("report_timestamp"),
      lit("").as("table_name"),
      lit(null).cast("date").as("latest_date"),
      lit(null).cast("long").as("total_records"),
      lit(null).cast("int").as("days_behind"),
      lit("").as("alert_level"),
      lit("Generated automatically for daily monitoring").as("alert_message"))

    // each table row becomes its freshness row (section 0) and its issue row
    // (section 1); three rows in one partition, sorted locally into the
    // dashboard's order: every freshness row, then every issue row
    val fresh = col("section") === 0
    val lag = col("days_behind")
    val sections = perTable.coalesce(1)
      .withColumn("section", explode(array(lit(0), lit(1))))
      .sortWithinPartitions("section", "table_order")
      .select(
        when(fresh, "📊 DATA FRESHNESS").otherwise("⚠️ DATA QUALITY ISSUES").as("report_section"),
        asOf.as("report_timestamp"),
        col("table_name"),
        when(fresh, col("latest_date")).as("latest_date"),
        when(fresh, col("total_records")).otherwise(col("issue_count")).as("total_records"),
        when(fresh, lag).as("days_behind"),
        when(fresh,
          when(lag > 3, "CRITICAL").when(lag > 1, "WARNING").otherwise("OK"))
          .otherwise(when(col("issue_count") > 0, "WARNING").otherwise("OK")).as("alert_level"),
        when(fresh,
          when(lag > 3, "Data is more than 3 days old - investigate pipeline")
            .when(lag > 1, "Data is more than 1 day old - monitor closely")
            .otherwise("Data freshness is acceptable"))
          .otherwise(concat(col("check_type"), lit(": "), col("issue_count").cast("string"),
            lit(" issues found"))).as("alert_message"))

    header.unionByName(sections)
  }
}
