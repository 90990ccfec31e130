package graft.quality

import graft.ops.Core
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's verification corpus (`verify_view_deduplication.sql:1-273`,
  * runner `run_verification_check.sh:88-178`) as executable check frames over
  * the view DAG — the consistency monitoring a user of the reference runs
  * daily. Each function is one numbered check from the script; `runAll`
  * bundles them. Checks are descriptive frames (the reference prints them),
  * and `summary` reduces the pass/fail-able ones to (check_name, flagged)
  * rows for dashboards.
  */
object ViewVerification {

  private val defaultAsOf: Column = lit("2025-09-01 00:00:00").cast("timestamp_ntz")

  /** Check 1 (`:10-60`): per-table freshness + volume. (Dimension rows are
    * omitted — the catalog's dimensions carry no REPORTING_DATE.) */
  def freshness(details: DataFrame, timeEntries: DataFrame, corrected: DataFrame,
      asOf: Column = defaultAsOf): DataFrame = {
    val d = details.agg(
      max(col("REPORTING_DATE")).as("latest_sync_date"),
      count(lit(1)).as("total_records"),
      countDistinct(col("WORK_ITEM_ID")).as("unique_keys"))
      .select(lit("WORK_ITEM_DETAILS_BQ").as("table_name"), col("*"))
    val t = timeEntries.agg(
      max(col("REPORTING_DATE")).as("latest_sync_date"),
      count(lit(1)).as("total_records"),
      countDistinct(concat_ws("-", col("WORK_ITEM_ID"), col("USER_ID"), col("REPORTING_DATE")))
        .as("unique_keys"))
      .select(lit("USER_TIME_ENTRY_BQ").as("table_name"), col("*"))
    val c = corrected.filter(col("USER_NAME").isNotNull && col("BUDGETED_MINUTES") > 0)
      .agg(
        max(col("sync_reporting_date")).as("latest_sync_date"),
        count(lit(1)).as("total_records"),
        countDistinct(concat_ws("-", col("WORK_ITEM_ID"), col("USER_ID"))).as("unique_keys"))
      .select(lit("work_item_budget_vs_actual_corrected_view").as("table_name"), col("*"))
    d.unionByName(t).unionByName(c).withColumn("check_timestamp", asOf)
  }

  /** Check 2 (`:65-75`): work items with multiple snapshot rows, newest-first
    * date list. */
  def detailsDupGroups(details: DataFrame, limit: Int = 10): DataFrame =
    detailsDupFlagged(details)
      .orderBy(col("record_count").desc, col("WORK_ITEM_ID")).limit(limit)

  private def detailsDupFlagged(details: DataFrame): DataFrame =
    details.groupBy(col("WORK_ITEM_ID"))
      .agg(count(lit(1)).as("record_count"),
        // ascending date order (the reference prints DESC — cosmetic)
        Core.stringAggOrdered(col("REPORTING_DATE").cast("string"),
          col("REPORTING_DATE"), ", ").as("reporting_dates"))
      .filter(col("record_count") > 1)
      .withColumn("check_name", lit("WORK_ITEM_DETAILS_BQ_DUPLICATES"))

  /** Check 3 (`:79-98`): budget allocations re-stated across sync dates —
    * the 7-column duplicate groups the V5 dedup collapses. */
  def budgetDupRows(corrected: DataFrame, limit: Int = 10): DataFrame =
    budgetDupFlagged(corrected)
      .orderBy(col("duplicate_count").desc, col("WORK_ITEM_ID"), col("USER_NAME"),
        col("TASK_TYPE_ID"), col("ROLE_ID"))
      .limit(limit)

  private def budgetDupFlagged(corrected: DataFrame): DataFrame =
    corrected.filter(col("USER_NAME").isNotNull && col("BUDGETED_MINUTES") > 0)
      .groupBy(col("WORK_ITEM_ID"), col("USER_ID"), col("USER_NAME"),
        col("TASK_TYPE_ID"), col("ROLE_ID"), col("BUDGETED_MINUTES"), col("BUDGETED_COST"))
      .agg(count(lit(1)).as("duplicate_count"),
        Core.stringAggOrdered(col("sync_reporting_date").cast("string"),
          col("sync_reporting_date"), ", ").as("sync_dates"))
      .filter(col("duplicate_count") > 1)
      .withColumn("check_name", lit("BUDGET_VS_ACTUAL_DUPLICATES"))

  /** Check 4 (`:104-115`): the V5 grain must be unique per
    * (work item, user id, user name). */
  def v5GrainDups(v5: DataFrame, limit: Int = 10): DataFrame =
    v5GrainFlagged(v5).orderBy(col("duplicate_count").desc, col("WORK_ITEM_ID")).limit(limit)

  private def v5GrainFlagged(v5: DataFrame): DataFrame =
    v5.groupBy(col("WORK_ITEM_ID"), col("budget_user_id"), col("budget_user_name"))
      .agg(count(lit(1)).as("duplicate_count"))
      .filter(col("duplicate_count") > 1)
      .withColumn("check_name", lit("V5_VIEW_USER_WORK_ITEM_DUPLICATES"))

  /** Check 6 (`:165-196`): Σ individual budgets vs the work-item budget with
    * the reference's variance ladder (>60 min = significant). */
  def budgetConsistency(v5: DataFrame): DataFrame =
    v5.groupBy(col("WORK_ITEM_ID"), col("WORK_TITLE"), col("work_item_total_budgeted_minutes"))
      .agg(sum(col("individual_budgeted_minutes")).as("sum_individual_budgets"),
        count(lit(1)).as("user_count"),
        count(when(col("individual_budgeted_minutes") > 0, 1)).as("users_with_budget"))
      .filter(col("work_item_total_budgeted_minutes") > 0)
      .withColumn("budget_difference",
        col("work_item_total_budgeted_minutes") - col("sum_individual_budgets"))
      .withColumn("consistency_status",
        when(abs(col("budget_difference")) > 60, "SIGNIFICANT_VARIANCE")
          .when(col("budget_difference") =!= 0, "MINOR_VARIANCE")
          .otherwise("CONSISTENT"))
      .withColumn("check_name", lit("BUDGET_CONSISTENCY_CHECK"))

  /** Check 7 (`:199-215`): per-item Σ individual hours vs the work-item
    * rollup; rows beyond 0.1 h are the anonymous-entry variance the
    * diagnostics hunt (`missing_time_entries_diagnostic.sql`). */
  def timeConsistency(v5: DataFrame): DataFrame =
    v5.groupBy(col("WORK_ITEM_ID"), col("WORK_TITLE"),
      col("work_item_total_hours_logged_summary"))
      .agg(sum(col("individual_hours_logged_actual")).as("sum_individual_hours"),
        count(lit(1)).as("user_count"),
        count(when(col("individual_hours_logged_actual") > 0, 1)).as("users_with_time"))
      .filter(col("work_item_total_hours_logged_summary") > 0)
      .withColumn("time_difference",
        col("work_item_total_hours_logged_summary") - col("sum_individual_hours"))
      .filter(abs(col("time_difference")) > 0.1)
      .withColumn("check_name", lit("TIME_TRACKING_CONSISTENCY"))

  /** Check 8 (`:221-232`): coverage summary. */
  def coverageSummary(v5: DataFrame): DataFrame =
    v5.agg(
      count(lit(1)).as("total_view_records"),
      countDistinct(col("WORK_ITEM_ID")).as("unique_work_items"),
      countDistinct(col("budget_user_id")).as("unique_users"),
      count(when(col("budget_source") === "INDIVIDUAL_BUDGET", 1))
        .as("records_with_individual_budget"),
      count(when(col("individual_hours_logged_actual") > 0, 1)).as("records_with_time_logged"),
      count(when(col("budget_source") === "INDIVIDUAL_BUDGET" &&
        col("individual_hours_logged_actual") > 0, 1)).as("records_with_both"),
      count(when(col("budget_source") === "NO_BUDGET" &&
        col("individual_hours_logged_actual") > 0, 1)).as("time_only_records"))
      .withColumn("check_name", lit("VIEW_COVERAGE_SUMMARY"))

  /** Check 9 (`:235-246`): activity in the trailing 30 days of `asOf`. */
  def recentActivity(v5: DataFrame, asOf: Column = defaultAsOf, limit: Int = 10): DataFrame =
    v5.filter(col("individual_last_time_entry") >= date_sub(to_date(asOf), 30))
      .groupBy(to_date(col("individual_last_time_entry")).as("time_entry_date"))
      .agg(count(lit(1)).as("records_with_activity"),
        countDistinct(col("WORK_ITEM_ID")).as("work_items_with_activity"),
        countDistinct(col("budget_user_id")).as("users_with_activity"),
        sum(col("individual_hours_logged_actual")).as("total_hours_logged"))
      .withColumn("check_name", lit("RECENT_ACTIVITY_CHECK"))
      .orderBy(col("time_entry_date").desc).limit(limit)

  /** Check 10 (`:252-273`): overall health summary with the status-ladder
    * census and budget coverage percentage. */
  def healthSummary(v5: DataFrame): DataFrame =
    v5.agg(
      count(lit(1)).as("total_records"),
      countDistinct(col("WORK_ITEM_ID")).as("unique_work_items"),
      countDistinct(col("budget_user_id")).as("unique_users"),
      round(avg(col("individual_budgeted_hours")), 2).as("avg_individual_budget_hours"),
      round(avg(col("individual_hours_logged_actual")), 2).as("avg_individual_hours_logged"),
      count(when(col("individual_budget_status") === "OVER_BUDGET", 1)).as("over_budget_count"),
      count(when(col("individual_budget_status") === "APPROACHING_BUDGET", 1))
        .as("approaching_budget_count"),
      count(when(col("individual_budget_status") === "WITHIN_BUDGET", 1)).as("within_budget_count"),
      count(when(col("individual_budget_status") === "NO_INDIVIDUAL_BUDGET_SET", 1))
        .as("no_budget_count"))
      .withColumn("budget_coverage_percentage",
        round((col("over_budget_count") + col("approaching_budget_count") +
          col("within_budget_count")) * 100.0 / col("total_records"), 2))
      .withColumn("check_name", lit("VIEW_HEALTH_SUMMARY"))

  /** Dashboard reduction: flagged-row counts for the pass/fail-able checks.
    * It counts the checks' unsorted flagged rows: sorting and limiting them
    * first would only add a range-sampling job per check.
    */
  def summary(details: DataFrame, corrected: DataFrame, v5: DataFrame): DataFrame = {
    def cnt(name: String, df: DataFrame) =
      df.agg(count(lit(1)).as("flagged")).select(lit(name).as("check_name"), col("flagged"))
    cnt("WORK_ITEM_DETAILS_BQ_DUPLICATES", detailsDupFlagged(details))
      .unionByName(cnt("BUDGET_VS_ACTUAL_DUPLICATES", budgetDupFlagged(corrected)))
      .unionByName(cnt("V5_VIEW_USER_WORK_ITEM_DUPLICATES", v5GrainFlagged(v5)))
      .unionByName(cnt("BUDGET_CONSISTENCY_NOT_CONSISTENT",
        budgetConsistency(v5).filter(col("consistency_status") =!= "CONSISTENT")))
      .unionByName(cnt("TIME_TRACKING_CONSISTENCY", timeConsistency(v5)))
  }
}
