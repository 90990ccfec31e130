package graft.views

import graft.ops.Core
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's view DAG on its OWN table/column names — the surface a
  * user of `paulrichardson-ux/snowflake_to_bq_pipeline` migrates onto. Each
  * function reproduces one view file column-for-column on the full catalog
  * schemas; `BigQueryDialectSpec` runs the reference's verbatim SQL texts
  * through the dialect shim and asserts equality with these plans.
  *
  * Minutes are the canonical duration (`/60.0` to hours happens here, ref
  * `…view_v5.sql:17-18`); `asOf` parameters replace `CURRENT_TIMESTAMP()` so
  * schedule/past-due flags are reproducible under test.
  */
object DomainViews {

  private val defaultAsOf: Column = lit("2025-09-01 00:00:00").cast("timestamp_ntz")

  /** `work_item_details_latest_view.sql:58-62`: correlated max-per-key,
    * tie-keeping. */
  def workItemDetailsLatest(details: DataFrame): DataFrame =
    Core.latestSnapshot(details, Seq("WORK_ITEM_ID"), "REPORTING_DATE", keepTies = true)

  /** `…view_v5.sql:11-37` IndividualTimeEntrySummary: per (work item, user)
    * billable/total hours + the hard-coded 2025 monthly pivot. No NULL-user
    * filter — the reference keeps anonymous entries as a (item, NULL) group.
    */
  def individualTimeEntrySummary(timeEntries: DataFrame): DataFrame = {
    val monthNames = Seq("jan", "feb", "mar", "apr", "may", "jun",
      "jul", "aug", "sep", "oct", "nov", "dec")
    val pivots = monthNames.zipWithIndex.map { case (nm, i) =>
      (sum(when(year(col("REPORTING_DATE")) === 2025 && month(col("REPORTING_DATE")) === (i + 1),
        col("MINUTES")).otherwise(lit(0L))) / 60.0).as(s"hours_logged_${nm}_2025")
    }
    val aggs = Seq(
      (sum(when(col("IS_BILLABLE") === true, col("MINUTES")).otherwise(lit(0L))) / 60.0)
        .as("billable_hours_logged"),
      (sum(col("MINUTES")) / 60.0).as("total_hours_logged"),
      count(lit(1)).as("total_time_entries"),
      min(col("REPORTING_DATE")).as("first_time_entry_date"),
      max(col("REPORTING_DATE")).as("last_time_entry_date")) ++ pivots
    timeEntries
      .groupBy(col("WORK_ITEM_ID"), col("USER_NAME"), col("USER_ID"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** `…view_v5.sql:39-51` WorkItemTimeEntrySummary. */
  def workItemTimeEntrySummary(timeEntries: DataFrame): DataFrame =
    timeEntries.groupBy(col("WORK_ITEM_ID"))
      .agg(
        (sum(when(col("IS_BILLABLE") === true, col("MINUTES")).otherwise(lit(0L))) / 60.0)
          .as("work_item_billable_hours_logged"),
        (sum(col("MINUTES")) / 60.0).as("work_item_total_hours_logged"),
        count(lit(1)).as("work_item_total_time_entries"),
        countDistinct(col("USER_NAME")).as("unique_contributors"),
        min(col("REPORTING_DATE")).as("first_time_entry_date"),
        max(col("REPORTING_DATE")).as("last_time_entry_date"))

  /** `…view_v5.sql:53-105` IndividualBudgetSummary over the CORRECTED view:
    * the 7-column window dedup (partition by work item/user/task/role/budget
    * amounts — NOT the actuals — keep the latest sync's row, `:78-81`), then
    * the per-(item, user) rollup with ANY_VALUE representatives. Predicate
    * `USER_NAME IS NOT NULL AND BUDGETED_MINUTES > 0` from `:83-84`.
    */
  def individualBudgetSummary(correctedView: DataFrame): DataFrame = {
    val deduped = Core.dedupByKey(
      correctedView.filter(col("USER_NAME").isNotNull && col("BUDGETED_MINUTES") > 0),
      Seq("WORK_ITEM_ID", "USER_ID", "USER_NAME", "TASK_TYPE_ID", "ROLE_ID",
        "BUDGETED_MINUTES", "BUDGETED_COST"),
      Seq(col("sync_reporting_date").desc))
    deduped.groupBy(col("WORK_ITEM_ID"), col("USER_ID"), col("USER_NAME"))
      .agg(
        sum(col("BUDGETED_MINUTES")).as("total_individual_budgeted_minutes"),
        sum(col("ACTUAL_MINUTES")).as("total_individual_actual_minutes_from_budget_data"),
        sum(col("BUDGETED_COST")).as("total_individual_budgeted_cost"),
        sum(col("ACTUAL_COST")).as("total_individual_actual_cost"),
        any_value(col("WORK_TITLE")).as("work_title"),
        any_value(col("CLIENT")).as("client"),
        any_value(col("DUE_DATETIME")).as("due_datetime"),
        any_value(col("due_year")).as("due_year"),
        any_value(col("due_month")).as("due_month"),
        any_value(col("due_date")).as("due_date"))
  }

  /** `…view_v5.sql:114-136` AllWorkItemUsers: budget users ∪ time users,
    * DISTINCT on (item, user id, user name). */
  def allWorkItemUsers(ibs: DataFrame, its: DataFrame): DataFrame =
    ibs.select(col("WORK_ITEM_ID"), col("USER_ID"), col("USER_NAME"))
      .unionByName(its.select(col("WORK_ITEM_ID"), col("USER_ID"), col("USER_NAME")))
      .distinct()

  /** `work_item_x_user_time_view.sql:1-27` (first view): time entries rolled
    * up per (item, user, date, billable flag), enriched by ANY_VALUE picks
    * over the UNFILTERED details join — the reference joins every snapshot,
    * so snapshot-varying fields (PRIMARY_STATUS) are engine-chosen; the
    * equality test excludes them.
    */
  def workItemXUserTime(timeEntries: DataFrame, details: DataFrame): DataFrame = {
    val wi = details.select(col("WORK_ITEM_ID").as("wi_item_id"), col("WORK_TITLE"),
      col("CLIENT"), col("PRIMARY_STATUS"), col("START_DATETIME"), col("DUE_DATETIME"),
      col("ASSIGNED_TO"), col("BUDGETED_MINUTES"), col("WORK_TYPE"))
    timeEntries.join(wi, col("WORK_ITEM_ID") === col("wi_item_id"), "left")
      .groupBy(col("WORK_ITEM_ID"), col("USER_NAME"),
        col("REPORTING_DATE").as("time_entry_date"), col("IS_BILLABLE"))
      .agg(
        any_value(col("WORK_TITLE")).as("work_item_title"),
        any_value(col("CLIENT")).as("client_name"),
        any_value(col("PRIMARY_STATUS")).as("status"),
        any_value(col("START_DATETIME")).as("start_date"),
        any_value(col("DUE_DATETIME")).as("due_date"),
        any_value(col("ASSIGNED_TO")).as("assignee"),
        (any_value(col("BUDGETED_MINUTES")) / 60.0).as("total_budget_hours"),
        any_value(col("WORK_TYPE")).as("work_type"),
        (sum(col("MINUTES")) / 60.0).as("hours_logged"))
  }

  /** `work_item_x_user_time_view.sql:29-52` (second view): W2's
    * ROW_NUMBER-latest (exactly one row per item, unlike the tie-keeping
    * latest view) dropped via P2's `* EXCEPT(row_num)`, LEFT JOINed under
    * each time entry. */
  def workItemUserTimeDetail(timeEntries: DataFrame, details: DataFrame): DataFrame = {
    val latest = Core.latestSnapshot(details, Seq("WORK_ITEM_ID"), "REPORTING_DATE",
      keepTies = false)
      .select(col("WORK_ITEM_ID").as("wi_item_id"), col("WORK_TITLE"),
        col("CLIENT").as("client_name"), col("WORK_TYPE"),
        col("PRIMARY_STATUS").as("status"),
        (col("BUDGETED_MINUTES") / 60.0).as("budget_hours"))
    timeEntries.join(latest, col("WORK_ITEM_ID") === col("wi_item_id"), "left")
      .select(col("WORK_ITEM_ID"), col("WORK_TITLE"), col("client_name"),
        col("WORK_TYPE"), col("status"), col("budget_hours"),
        col("USER_NAME"), col("REPORTING_DATE").as("time_entry_date"),
        col("IS_BILLABLE"), (col("MINUTES") / 60.0).as("hours_logged"))
  }

  /** `daily_sync.py:92-107` (M4): the post-merge duplicate cleanup — keep
    * the newest ingestion per (TIME_ENTRY_ID, REPORTING_DATE). */
  def timeEntryDedupCleanup(timeEntries: DataFrame): DataFrame =
    Core.dedupByKey(timeEntries, Seq("TIME_ENTRY_ID", "REPORTING_DATE"),
      Seq(col("bq_ingestion_timestamp").desc, col("row_uuid")))

  /** `work_item_budget_vs_actual_corrected_view.sql` column-for-column:
    * full-row DISTINCT of the budget fact (`:10-35`), REPORTING_DATE
    * re-exposed as `sync_reporting_date` (`:39`), LEFT JOIN the tie-keeping
    * latest work item snapshot (`:127-129`), due-date derivations
    * (`:70-76`), hour/cost/variance/utilization columns (`:94-109`), the
    * status ladder (`:112-120`) and reporting flags (`:123-125`).
    */
  def corrected(budget: DataFrame, details: DataFrame, asOf: Column = defaultAsOf): DataFrame = {
    val deduped = budget.dropDuplicates() // DISTINCT before the join — order is semantic
    val wi = workItemDetailsLatest(details).select(
      col("WORK_ITEM_ID"),
      col("DUE_DATETIME"), col("DEADLINE_DATETIME"), col("START_DATETIME"),
      col("CREATED_DATETIME"), col("COMPLETED_DATETIME"),
      col("PRIMARY_STATUS_ID"), col("SECONDARY_STATUS_ID"),
      col("PRIMARY_STATUS"), col("SECONDARY_STATUS"),
      col("ASSIGNED_TO_ID"), col("ASSIGNED_TO"),
      col("CREATED_BY_ID"), col("CREATED_BY"),
      col("COMPLETED_BY_ID"), col("COMPLETED_BY"),
      col("WORK_TEMPLATE_ID"), col("WORK_TEMPLATE"), col("WORK_DESCRIPTION"))
    val bm = coalesce(col("BUDGETED_MINUTES"), lit(0L))
    val am = coalesce(col("ACTUAL_MINUTES"), lit(0L))
    deduped.withColumnRenamed("REPORTING_DATE", "sync_reporting_date")
      .join(wi, Seq("WORK_ITEM_ID"), "left")
      .withColumn("due_date", to_date(col("DUE_DATETIME")))
      .withColumn("due_year", year(col("DUE_DATETIME")))
      .withColumn("due_month", month(col("DUE_DATETIME")))
      .withColumn("due_day", dayofmonth(col("DUE_DATETIME")))
      .withColumn("due_month_start", date_trunc("month", col("DUE_DATETIME")))
      .withColumn("due_week_start", date_trunc("week", col("DUE_DATETIME")))
      .withColumn("due_quarter_start", date_trunc("quarter", col("DUE_DATETIME")))
      .withColumn("budgeted_hours", bm / 60.0)
      .withColumn("actual_hours", am / 60.0)
      .withColumn("budgeted_cost_calculated", coalesce(col("BUDGETED_COST"), lit(0L)))
      .withColumn("actual_cost_calculated", coalesce(col("ACTUAL_COST"), lit(0L)))
      .withColumn("variance_minutes", bm - am)
      .withColumn("variance_hours", (bm - am) / 60.0)
      .withColumn("variance_cost",
        coalesce(col("BUDGETED_COST"), lit(0L)) - coalesce(col("ACTUAL_COST"), lit(0L)))
      .withColumn("budget_utilization_percentage",
        when(bm > 0, (am / col("BUDGETED_MINUTES")) * 100).otherwise(lit(null)))
      .withColumn("budget_status",
        when(bm > 0 && am > col("BUDGETED_MINUTES"), "OVER_BUDGET")
          .when(bm > 0 && am > col("BUDGETED_MINUTES") * 0.8, "APPROACHING_BUDGET")
          .when(bm > 0, "WITHIN_BUDGET")
          .otherwise("NO_BUDGET_SET"))
      .withColumn("has_due_date", col("DUE_DATETIME").isNotNull)
      .withColumn("is_completed", col("PRIMARY_STATUS").isin("Completed", "Closed"))
      .withColumn("is_past_due", coalesce(col("DUE_DATETIME") < asOf, lit(false)))
  }

  // shared V4/V5 enrichment: productivity + client group + client dim +
  // owner/manager tenant teams + user dim under three roles
  private def starJoins(base: DataFrame, productivity: DataFrame, clientGroupDim: DataFrame,
      clientDim: DataFrame, tenantTeamDim: DataFrame, tenantTeamMemberDim: DataFrame,
      userDim: DataFrame, withProject: Boolean): DataFrame = {
    val prodCols = Seq(col("WORK_ITEM_ID"), col("CATEGORY")) ++
      (if (withProject) Seq(col("PROJECT")) else Nil) ++ Seq(
      col("MEASURE_TYPE"), col("POINTS"), col("WEIGHTING"), col("TOTAL_POINTS"),
      col("SYNC_TIMESTAMP").as("PRODUCTIVITY_SYNC_TIMESTAMP"),
      col("LAST_MODIFIED_BY").as("PRODUCTIVITY_LAST_MODIFIED_BY"))
    val prod = productivity.select(prodCols: _*)
    val cg = clientGroupDim.select(col("CLIENT_ID").as("cg_client_id"),
      col("CLIENT_GROUP_ID"), col("CLIENT_GROUP_NAME").as("client_group_name"),
      col("CLIENT_GROUP_MEMBER_TYPE").as("client_group_member_type"),
      col("ACCOUNT_ID").as("client_group_account_id"),
      col("ACCOUNT_NAME").as("client_group_account_name"))
    val cd = clientDim.select(col("CLIENT_ID").as("cd_client_id"),
      col("CLIENT_SUBTYPE"),
      col("CLIENT_OWNER_USER_ID"), col("CLIENT_OWNER_USER_NAME"),
      col("CLIENT_MANAGER_USER_ID"), col("CLIENT_MANAGER_USER_NAME"),
      col("PRIMARY_ADDRESS_COUNTRY_CODE"), col("PRIMARY_ADDRESS_STATE_PROVINCE_COUNTY"),
      col("PRIMARY_ADDRESS_CITY"))
    val ttm = tenantTeamMemberDim.select(col("USER_ID").as("ttm_user_id"),
      col("TENANT_TEAM_ID").as("client_owner_tenant_team_id"))
    val tt = tenantTeamDim.select(col("TENANT_TEAM_ID").as("tt_id"),
      col("TENANT_TEAM_NAME").as("client_owner_tenant_team_name"))
    val ttmM = tenantTeamMemberDim.select(col("USER_ID").as("ttm_mgr_user_id"),
      col("TENANT_TEAM_ID").as("client_manager_tenant_team_id"))
    val ttM = tenantTeamDim.select(col("TENANT_TEAM_ID").as("tt_mgr_id"),
      col("TENANT_TEAM_NAME").as("client_manager_tenant_team_name"))
    def ud(prefix: String, idAlias: String) = userDim.select(col("USER_ID").as(idAlias),
      col("USER_JOB_TITLE").as(s"${prefix}_job_title"),
      (coalesce(col("EXPECTED_BILLABLE_MINUTES"), lit(0L)) / 60.0)
        .as(s"${prefix}_expected_billable_hours"),
      (coalesce(col("EXPECTED_NONBILLABLE_MINUTES"), lit(0L)) / 60.0)
        .as(s"${prefix}_expected_nonbillable_hours"))
    base
      .join(broadcast(prod), Seq("WORK_ITEM_ID"), "left")
      .join(broadcast(cg), col("CLIENT_ID") === col("cg_client_id"), "left")
      .join(broadcast(cd), col("CLIENT_ID") === col("cd_client_id"), "left")
      .join(broadcast(ttm), col("CLIENT_OWNER_USER_ID") === col("ttm_user_id"), "left")
      .join(broadcast(tt), col("client_owner_tenant_team_id") === col("tt_id"), "left")
      .join(broadcast(ttmM), col("CLIENT_MANAGER_USER_ID") === col("ttm_mgr_user_id"), "left")
      .join(broadcast(ttM), col("client_manager_tenant_team_id") === col("tt_mgr_id"), "left")
      .join(broadcast(ud("assigned_user", "ud_a_id")), col("ASSIGNED_TO_ID") === col("ud_a_id"), "left")
      .join(broadcast(ud("client_owner", "ud_o_id")), col("CLIENT_OWNER_USER_ID") === col("ud_o_id"), "left")
      .join(broadcast(ud("client_manager", "ud_m_id")), col("CLIENT_MANAGER_USER_ID") === col("ud_m_id"), "left")
      .drop("cg_client_id", "cd_client_id", "ttm_user_id", "tt_id",
        "ttm_mgr_user_id", "tt_mgr_id", "ud_a_id", "ud_o_id", "ud_m_id")
  }

  private def productivityMetrics(df: DataFrame): DataFrame = df
    .withColumn("POINTS_PER_HOUR_ACTUAL",
      when(col("POINTS").isNotNull && col("TIME_ENTRY_MINUTES").isNotNull &&
        col("TIME_ENTRY_MINUTES") > 0,
        Core.safeDivide(col("POINTS"), Core.safeDivide(col("TIME_ENTRY_MINUTES"), lit(60.0)))))
    .withColumn("POINTS_PER_HOUR_BUDGETED",
      when(col("POINTS").isNotNull && col("BUDGETED_MINUTES").isNotNull &&
        col("BUDGETED_MINUTES") > 0,
        Core.safeDivide(col("POINTS"), Core.safeDivide(col("BUDGETED_MINUTES"), lit(60.0)))))
    .withColumn("TOTAL_POINTS_PER_HOUR_ACTUAL",
      when(col("TOTAL_POINTS").isNotNull && col("TIME_ENTRY_MINUTES").isNotNull &&
        col("TIME_ENTRY_MINUTES") > 0,
        Core.safeDivide(col("TOTAL_POINTS"), Core.safeDivide(col("TIME_ENTRY_MINUTES"), lit(60.0)))))
    .withColumn("HAS_PRODUCTIVITY_DATA", col("MEASURE_TYPE").isNotNull)
    .withColumn("IS_PRODUCTIVITY_TASK",
      coalesce(col("MEASURE_TYPE").isin("Productivity", "Productivity SLA"), lit(false)))
    .withColumn("IS_SLA_TASK",
      coalesce(col("MEASURE_TYPE") === "SLA" || col("MEASURE_TYPE") === "Productivity SLA",
        lit(false)))

  private def remainingHoursCorrected: Column =
    when(col("BUDGETED_MINUTES").isNull &&
        (col("TIME_ENTRY_MINUTES").isNull || col("TIME_ENTRY_MINUTES") === 0), lit(null))
      .when(col("BUDGETED_MINUTES").isNull, -Core.safeDivide(col("TIME_ENTRY_MINUTES"), lit(60)))
      .otherwise(Core.safeDivide(col("BUDGETED_MINUTES"), lit(60)) -
        Core.safeDivide(col("TIME_ENTRY_MINUTES"), lit(60)))

  private def scheduleStatus(asOf: Column): Column =
    when(col("DUE_DATETIME").isNotNull && col("DUE_DATETIME") < asOf &&
      !col("PRIMARY_STATUS").isin("Completed", "Closed"), "OVERDUE")
      .when(col("DUE_DATETIME").isNotNull &&
        col("DUE_DATETIME") <= asOf + expr("INTERVAL 3 DAY") &&
        !col("PRIMARY_STATUS").isin("Completed", "Closed"), "DUE_SOON")
      .otherwise("ON_TRACK")

  /** `work_item_budget_time_tracking_view_v4.sql` column-for-column: the
    * per-item time rollup CTE (`:7-19`), tie-keeping latest filter
    * (`:276-280`), the 10-join star (`:259-273`), productivity metrics
    * (`:87-119`), budget analytics (`:168-189`), and the W4–W6 rolling
    * windows (`:194-232`) which — exactly as the reference wrote them — run
    * AFTER the latest filter. Deviation for determinism: the client-level
    * window orders by (REPORTING_DATE, WORK_ITEM_ID); the reference's bare
    * REPORTING_DATE leaves tie order to the engine.
    */
  def v4(details: DataFrame, timeEntries: DataFrame, productivity: DataFrame,
      clientGroupDim: DataFrame, clientDim: DataFrame, tenantTeamDim: DataFrame,
      tenantTeamMemberDim: DataFrame, userDim: DataFrame,
      asOf: Column = defaultAsOf): DataFrame = {
    // the per-item rollup is V5's WorkItemTimeEntrySummary under V4's names
    val te = workItemTimeEntrySummary(timeEntries)
      .withColumnRenamed("work_item_billable_hours_logged", "billable_hours_logged")
      .withColumnRenamed("work_item_total_hours_logged", "total_hours_logged")
      .withColumnRenamed("work_item_total_time_entries", "te_total_time_entries")
      .withColumnRenamed("unique_contributors", "te_unique_contributors")

    val bm = coalesce(col("BUDGETED_MINUTES"), lit(0L))
    val hoursLogged = coalesce(col("total_hours_logged"), lit(0.0))
    val varianceExpr = when(bm > 0, col("BUDGETED_MINUTES") / 60.0 - hoursLogged)
      .otherwise(lit(null))
    val wItem = Window.partitionBy(col("WORK_ITEM_ID"))
      .orderBy(col("REPORTING_DATE"), col("WORK_ITEM_ID"))
    val wClient = Window.partitionBy(col("CLIENT_ID"))
      .orderBy(col("REPORTING_DATE"), col("WORK_ITEM_ID"))

    val joined = starJoins(
      workItemDetailsLatest(details)
        .join(te, Seq("WORK_ITEM_ID"), "left"),
      productivity, clientGroupDim, clientDim, tenantTeamDim, tenantTeamMemberDim,
      userDim, withProject = false)

    productivityMetrics(joined)
      .withColumn("BUDGET_REMAINING_HOURS_CORRECTED", remainingHoursCorrected)
      .withColumn("total_hours_logged_summary", hoursLogged)
      .withColumn("billable_hours_logged_summary", coalesce(col("billable_hours_logged"), lit(0.0)))
      .withColumn("total_time_entries", coalesce(col("te_total_time_entries"), lit(0L)))
      .withColumn("unique_contributors", coalesce(col("te_unique_contributors"), lit(0L)))
      .withColumn("budget_utilization_percentage",
        when(bm > 0, hoursLogged / (col("BUDGETED_MINUTES") / 60.0) * 100).otherwise(lit(null)))
      .withColumn("budget_remaining_hours_calculated",
        when(bm > 0, col("BUDGETED_MINUTES") / 60.0 - hoursLogged).otherwise(lit(null)))
      .withColumn("budget_status",
        when(bm > 0 && hoursLogged > col("BUDGETED_MINUTES") / 60.0, "OVER_BUDGET")
          .when(bm > 0 && hoursLogged > col("BUDGETED_MINUTES") / 60.0 * 0.8, "APPROACHING_BUDGET")
          .when(bm > 0, "WITHIN_BUDGET")
          .otherwise("NO_BUDGET_SET"))
      // W6 guard + W4 trailing frame, post-latest-filter exactly like the SQL
      .withColumn("avg_budget_variance_3_months_hours",
        when(stddev(hoursLogged).over(wItem.rowsBetween(-3, 0)) > 0.01,
          avg(varianceExpr).over(wItem.rowsBetween(-3, -1)))
          .otherwise(varianceExpr))
      // W5: client-grain trailing frame
      .withColumn("client_avg_budget_variance_3_months_hours",
        avg(varianceExpr).over(wClient.rowsBetween(-3, -1)))
      .withColumn("schedule_status", scheduleStatus(asOf))
      .withColumn("completion_date", col("COMPLETED_DATETIME"))
      .withColumn("assignee", col("ASSIGNED_TO"))
      .withColumn("client_name", col("CLIENT"))
      .withColumn("budget_hours", bm / 60.0)
      .withColumn("actual_hours_from_work_item", coalesce(col("TIME_ENTRY_MINUTES"), lit(0L)) / 60.0)
      .withColumn("actual_cost_from_work_item", coalesce(col("TIME_ENTRY_COST"), lit(0L)))
      .withColumn("budget_remaining_hours_from_work_item",
        coalesce(col("BUDGET_REMAINING_HOURS"), lit(0.0)))
      .withColumn("work_item_reporting_date", col("REPORTING_DATE"))
      .withColumn("work_item_created_date", col("CREATED_DATETIME"))
      // V4's productivity projection omits CATEGORY (`…v4.sql:77-84`)
      .drop("CATEGORY", "billable_hours_logged", "total_hours_logged",
        "te_total_time_entries", "te_unique_contributors")
  }

  /** `work_item_individual_budget_time_tracking_view_v5.sql` column-for-
    * column: the CTEs above + the main select — latest-filtered details
    * INNER JOIN the 3-column user universe (`:402-403`), LEFT JOIN the
    * budget/time summaries on (item, user name) (`:406-413`), the V4 star
    * joins (`:422-450`), ~118 derived columns.
    */
  def v5(timeEntries: DataFrame, details: DataFrame, correctedView: DataFrame,
      productivity: DataFrame, clientGroupDim: DataFrame, clientDim: DataFrame,
      tenantTeamDim: DataFrame, tenantTeamMemberDim: DataFrame, userDim: DataFrame,
      asOf: Column = defaultAsOf): DataFrame = {
    val its = individualTimeEntrySummary(timeEntries)
    val wits = workItemTimeEntrySummary(timeEntries)
    val ibs = individualBudgetSummary(correctedView)
    val awu = allWorkItemUsers(ibs, its)
      .select(col("WORK_ITEM_ID"), col("USER_ID").as("awu_user_id"),
        col("USER_NAME").as("awu_user_name"))
    val ibsA = ibs.select(col("WORK_ITEM_ID").as("ibs_item_id"),
      col("USER_NAME").as("ibs_user_name"),
      col("USER_ID").as("ibs_user_id"),
      col("total_individual_budgeted_minutes"),
      col("total_individual_actual_minutes_from_budget_data"),
      col("total_individual_budgeted_cost"), col("total_individual_actual_cost"))
    val monthNames = Seq("jan", "feb", "mar", "apr", "may", "jun",
      "jul", "aug", "sep", "oct", "nov", "dec")
    val iteA = its.select(Seq(
      col("WORK_ITEM_ID").as("ite_item_id"), col("USER_NAME").as("ite_user_name"),
      col("USER_ID").as("ite_user_id"),
      col("billable_hours_logged"), col("total_hours_logged"), col("total_time_entries"),
      col("first_time_entry_date").as("individual_first_time_entry"),
      col("last_time_entry_date").as("individual_last_time_entry")) ++
      monthNames.map(nm => col(s"hours_logged_${nm}_2025")): _*)
    val witsA = wits.select(col("WORK_ITEM_ID"),
      col("work_item_billable_hours_logged"), col("work_item_total_hours_logged"),
      col("work_item_total_time_entries"), col("unique_contributors"),
      col("first_time_entry_date").as("work_item_first_time_entry_date"),
      col("last_time_entry_date").as("work_item_last_time_entry_date"))

    val base = workItemDetailsLatest(details)
      .join(awu, Seq("WORK_ITEM_ID"), "inner")
      .join(ibsA, col("WORK_ITEM_ID") === col("ibs_item_id") &&
        col("awu_user_name") === col("ibs_user_name"), "left")
      .drop("ibs_item_id")
      .join(iteA, col("WORK_ITEM_ID") === col("ite_item_id") &&
        col("awu_user_name") === col("ite_user_name"), "left")
      .drop("ite_item_id")
      .join(witsA, Seq("WORK_ITEM_ID"), "left")

    val enriched = productivityMetrics(starJoins(base, productivity, clientGroupDim,
      clientDim, tenantTeamDim, tenantTeamMemberDim, userDim, withProject = true))

    val ibm = coalesce(col("total_individual_budgeted_minutes"), lit(0L))
    val hrs = coalesce(col("total_hours_logged"), lit(0.0))
    val wbm = coalesce(col("BUDGETED_MINUTES"), lit(0L))
    val whrs = coalesce(col("work_item_total_hours_logged"), lit(0.0))

    enriched.select(Seq(
      col("WORK_ITEM_ID"), col("REPORTING_DATE"), col("WORK_TITLE"),
      col("CLIENT_ID"), col("CLIENT"), col("CLIENT_TYPE"),
      col("INTERNAL_CLIENT_ID"), col("INTERNAL_CLIENT"),
      col("ACCOUNT_ID"), col("ACCOUNT_NAME"),
      col("WORK_TYPE_ID"), col("WORK_TYPE"),
      col("PRIMARY_STATUS_ID"), col("SECONDARY_STATUS_ID"),
      col("PRIMARY_STATUS"), col("SECONDARY_STATUS"), col("SECONDARY_STATUS_ORDER"),
      col("CURRENT_STATUS_ENTRY_DATE"), col("REPEAT_SCHEDULE"),
      col("CREATED_DATETIME"), col("CREATED_BY_ID"), col("CREATED_BY"),
      col("START_DATETIME"), col("ASSIGNED_TO_ID"), col("ASSIGNED_TO"),
      col("DUE_DATETIME"), col("DEADLINE_DATETIME"), col("COMPLETED_DATETIME"),
      col("COMPLETED_BY_ID"), col("COMPLETED_BY"),
      col("USER_DEFINED_CLIENT_ID"), col("WORK_TEMPLATE_ID"), col("WORK_TEMPLATE"),
      col("WORK_DESCRIPTION"), col("FIXED_FEE_ESTIMATED_COST"),
      col("EXPENSE_AMOUNT"), col("BILLABLE_EXPENSE_AMOUNT"),
      col("INTERNAL_TASKS_COMPLETED_COUNT"), col("INTERNAL_TASKS_PENDING_COUNT"),
      col("IS_WORK_ITEM_OVERDUE"),
      col("awu_user_id").as("budget_user_id"),
      col("awu_user_name").as("budget_user_name"),
      ibm.as("individual_budgeted_minutes"),
      coalesce(col("total_individual_actual_minutes_from_budget_data"), lit(0L))
        .as("individual_actual_minutes_from_budget_data"),
      coalesce(col("total_individual_budgeted_cost"), lit(0L)).as("individual_budgeted_cost"),
      coalesce(col("total_individual_actual_cost"), lit(0L)).as("individual_actual_cost"),
      (ibm / 60.0).as("individual_budgeted_hours"),
      (coalesce(col("total_individual_actual_minutes_from_budget_data"), lit(0L)) / 60.0)
        .as("individual_actual_hours_from_budget_data"),
      coalesce(col("total_individual_budgeted_cost"), lit(0L))
        .as("individual_budgeted_cost_calculated"),
      coalesce(col("total_individual_actual_cost"), lit(0L))
        .as("individual_actual_cost_calculated"),
      when(col("ibs_user_id").isNotNull, "INDIVIDUAL_BUDGET").otherwise("NO_BUDGET")
        .as("budget_source"),
      hrs.as("individual_hours_logged_actual"),
      coalesce(col("billable_hours_logged"), lit(0.0)).as("individual_billable_hours_logged"),
      coalesce(col("total_time_entries"), lit(0L)).as("individual_time_entries_count"),
      col("individual_first_time_entry"), col("individual_last_time_entry")) ++
      monthNames.map(nm =>
        coalesce(col(s"hours_logged_${nm}_2025"), lit(0.0)).as(s"hours_logged_${nm}_2025")) ++ Seq(
      (ibm - hrs * 60).as("individual_budget_variance_minutes"),
      (ibm / 60.0 - hrs).as("individual_budget_variance_hours"),
      when(ibm > 0, (hrs / (ibm / 60.0)) * 100).otherwise(lit(null))
        .as("individual_budget_utilization_percentage"),
      when(ibm > 0 && hrs > ibm / 60.0, "OVER_BUDGET")
        .when(ibm > 0 && hrs > ibm / 60.0 * 0.8, "APPROACHING_BUDGET")
        .when(ibm > 0, "WITHIN_BUDGET")
        .otherwise("NO_INDIVIDUAL_BUDGET_SET")
        .as("individual_budget_status"),
      col("BUDGETED_MINUTES").as("work_item_total_budgeted_minutes"),
      col("BUDGETED_COST").as("work_item_total_budgeted_cost"),
      col("TIME_ENTRY_MINUTES").as("work_item_total_time_entry_minutes"),
      col("TIME_ENTRY_COST").as("work_item_total_time_entry_cost"),
      col("BUDGET_REMAINING_HOURS").as("work_item_budget_remaining_hours"),
      (wbm / 60.0).as("work_item_total_budget_hours"),
      (coalesce(col("TIME_ENTRY_MINUTES"), lit(0L)) / 60.0).as("work_item_total_actual_hours"),
      whrs.as("work_item_total_hours_logged_summary"),
      coalesce(col("work_item_billable_hours_logged"), lit(0.0))
        .as("work_item_billable_hours_logged_summary"),
      coalesce(col("work_item_total_time_entries"), lit(0L)).as("work_item_total_time_entries"),
      coalesce(col("unique_contributors"), lit(0L)).as("work_item_unique_contributors"),
      col("work_item_first_time_entry_date"), col("work_item_last_time_entry_date"),
      remainingHoursCorrected.as("work_item_budget_remaining_hours_corrected"),
      col("CATEGORY"), col("PROJECT"), col("MEASURE_TYPE"), col("POINTS"),
      col("WEIGHTING"), col("TOTAL_POINTS"),
      col("PRODUCTIVITY_SYNC_TIMESTAMP"), col("PRODUCTIVITY_LAST_MODIFIED_BY"),
      col("POINTS_PER_HOUR_ACTUAL"), col("POINTS_PER_HOUR_BUDGETED"),
      col("TOTAL_POINTS_PER_HOUR_ACTUAL"),
      col("HAS_PRODUCTIVITY_DATA"), col("IS_PRODUCTIVITY_TASK"), col("IS_SLA_TASK"),
      col("CLIENT_GROUP_ID"), col("client_group_name"), col("client_group_member_type"),
      col("CLIENT_SUBTYPE"),
      col("CLIENT_OWNER_USER_NAME"), col("CLIENT_OWNER_USER_ID"),
      col("CLIENT_MANAGER_USER_NAME"), col("CLIENT_MANAGER_USER_ID"),
      col("PRIMARY_ADDRESS_COUNTRY_CODE"), col("PRIMARY_ADDRESS_STATE_PROVINCE_COUNTY"),
      col("PRIMARY_ADDRESS_CITY"),
      col("client_owner_tenant_team_id"), col("client_owner_tenant_team_name"),
      col("client_manager_tenant_team_id"), col("client_manager_tenant_team_name"),
      col("assigned_user_job_title"), col("assigned_user_expected_billable_hours"),
      col("assigned_user_expected_nonbillable_hours"),
      col("client_owner_job_title"), col("client_owner_expected_billable_hours"),
      col("client_owner_expected_nonbillable_hours"),
      col("client_manager_job_title"), col("client_manager_expected_billable_hours"),
      col("client_manager_expected_nonbillable_hours"),
      when(wbm > 0, whrs / (col("BUDGETED_MINUTES") / 60.0) * 100).otherwise(lit(null))
        .as("work_item_budget_utilization_percentage"),
      when(wbm > 0, col("BUDGETED_MINUTES") / 60.0 - whrs).otherwise(lit(null))
        .as("work_item_budget_remaining_hours_calculated"),
      when(wbm > 0 && whrs > col("BUDGETED_MINUTES") / 60.0, "OVER_BUDGET")
        .when(wbm > 0 && whrs > col("BUDGETED_MINUTES") / 60.0 * 0.8, "APPROACHING_BUDGET")
        .when(wbm > 0, "WITHIN_BUDGET")
        .otherwise("NO_BUDGET_SET")
        .as("work_item_budget_status"),
      scheduleStatus(asOf).as("schedule_status"),
      col("client_group_account_id"), col("client_group_account_name"),
      col("DUE_DATETIME").isNotNull.as("has_due_date"),
      col("PRIMARY_STATUS").isin("Completed", "Closed").as("is_completed"),
      coalesce(col("DUE_DATETIME") < asOf, lit(false)).as("is_past_due"),
      col("ibs_user_id").isNotNull.as("has_individual_budget"),
      col("ite_user_id").isNotNull.as("has_individual_time_logged"),
      col("ibs_user_id").isNotNull.as("has_actual_individual_budget")): _*)
  }

  /** `work_item_individual_budget_time_tracking_view_v5_fallback.sql`
    * column-for-column: per-user time rollups with the July-2025 pivot
    * (`:7-22`), per-item rollups (`:24-34`), actual individual budgets from
    * the corrected view — a plain rollup, no window dedup (`:36-56`) —
    * proportional fallback budgets for items without them (`:58-93`), the
    * provenance-tagged UNION (`:95-132`), and the main select with the
    * disjunctive join `cbs.USER_NAME = ite.USER_NAME OR cbs.USER_NAME IS
    * NULL` (`:180-182`, J12) and the either-side-present filter (`:196`).
    */
  def v5Fallback(timeEntries: DataFrame, details: DataFrame, correctedView: DataFrame): DataFrame = {
    // V5's rollups; column pruning drops the pivots and dates not read here
    val its = individualTimeEntrySummary(timeEntries)
    val wits = workItemTimeEntrySummary(timeEntries)
    val ibs = correctedView
      .filter(col("USER_NAME").isNotNull && col("BUDGETED_MINUTES") > 0)
      .groupBy(col("WORK_ITEM_ID"), col("USER_ID"), col("USER_NAME"))
      .agg(sum(col("BUDGETED_MINUTES")).cast("double").as("total_individual_budgeted_minutes"))
    val latest = workItemDetailsLatest(details)
    val fallback = latest
      .join(its.select(col("WORK_ITEM_ID"), col("USER_ID"), col("USER_NAME"),
        col("total_hours_logged")), Seq("WORK_ITEM_ID"), "inner")
      .join(wits.select(col("WORK_ITEM_ID"), col("work_item_total_hours_logged")),
        Seq("WORK_ITEM_ID"), "inner")
      .join(ibs.select(col("WORK_ITEM_ID")).distinct(), Seq("WORK_ITEM_ID"), "left_anti")
      .select(col("WORK_ITEM_ID"), col("USER_ID"), col("USER_NAME"),
        when(col("work_item_total_hours_logged") > 0,
          col("BUDGETED_MINUTES") * (col("total_hours_logged") / col("work_item_total_hours_logged")))
          .otherwise(lit(0.0)).as("total_individual_budgeted_minutes"))
    val combined = ibs
      .select(col("WORK_ITEM_ID"), col("USER_ID"), col("USER_NAME"),
        col("total_individual_budgeted_minutes"),
        lit("ACTUAL_INDIVIDUAL_BUDGET").as("budget_source"))
      .unionByName(fallback.select(col("WORK_ITEM_ID"), col("USER_ID"), col("USER_NAME"),
        col("total_individual_budgeted_minutes"),
        lit("ESTIMATED_FROM_TIME_LOGGED").as("budget_source")))

    val cbs = combined.select(col("WORK_ITEM_ID"), col("USER_ID").as("cbs_user_id"),
      col("USER_NAME").as("cbs_user_name"),
      col("total_individual_budgeted_minutes"), col("budget_source"))
    val ite = its.select(col("WORK_ITEM_ID").as("ite_item_id"),
      col("USER_ID").as("ite_user_id"), col("USER_NAME").as("ite_user_name"),
      col("total_hours_logged"), col("billable_hours_logged"),
      col("total_time_entries"), col("hours_logged_jul_2025"))

    val budgeted = coalesce(col("total_individual_budgeted_minutes"), lit(0.0))
    val logged = coalesce(col("total_hours_logged"), lit(0.0))
    latest
      .join(cbs, Seq("WORK_ITEM_ID"), "left")
      .join(ite, col("WORK_ITEM_ID") === col("ite_item_id") &&
        (col("cbs_user_name") === col("ite_user_name") || col("cbs_user_name").isNull), "left")
      .join(wits.select(col("WORK_ITEM_ID"), col("work_item_total_hours_logged")),
        Seq("WORK_ITEM_ID"), "left")
      .filter(col("cbs_user_id").isNotNull || col("ite_user_id").isNotNull)
      .select(
        col("WORK_ITEM_ID"), col("REPORTING_DATE"), col("WORK_TITLE"),
        col("CLIENT_ID"), col("CLIENT"), col("DUE_DATETIME"), col("PRIMARY_STATUS"),
        col("ASSIGNED_TO"), col("ASSIGNED_TO_ID"),
        coalesce(col("cbs_user_id"), col("ite_user_id")).as("budget_user_id"),
        coalesce(col("cbs_user_name"), col("ite_user_name")).as("budget_user_name"),
        budgeted.as("individual_budgeted_minutes"),
        (budgeted / 60.0).as("individual_budgeted_hours"),
        col("budget_source"),
        logged.as("individual_hours_logged_actual"),
        coalesce(col("billable_hours_logged"), lit(0.0)).as("individual_billable_hours_logged"),
        coalesce(col("total_time_entries"), lit(0L)).as("individual_time_entries_count"),
        coalesce(col("hours_logged_jul_2025"), lit(0.0)).as("hours_logged_jul_2025"),
        (budgeted - logged * 60).as("individual_budget_variance_minutes"),
        (budgeted / 60.0 - logged).as("individual_budget_variance_hours"),
        col("BUDGETED_MINUTES").as("work_item_total_budgeted_minutes"),
        (coalesce(col("BUDGETED_MINUTES"), lit(0L)) / 60.0).as("work_item_total_budget_hours"),
        coalesce(col("work_item_total_hours_logged"), lit(0.0))
          .as("work_item_total_hours_logged_summary"),
        col("cbs_user_id").isNotNull.as("has_individual_budget"),
        col("ite_user_id").isNotNull.as("has_individual_time_logged"),
        coalesce(col("budget_source") === "ACTUAL_INDIVIDUAL_BUDGET", lit(false))
          .as("has_actual_individual_budget"))
  }
}
