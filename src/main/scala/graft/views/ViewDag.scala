package graft.views

import graft.ops.{Core, Exact}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's analytics view DAG — `latest → corrected → V4 → V5 (+
  * fallback)` (ref: `snowflake_to_bq_data_flow.mmd:28-41`) — re-expressed as
  * composable `DataFrame => DataFrame` transforms over the testdata star
  * schema.
  *
  * Domain transposition (documented once, used everywhere):
  *   - time entries        := lineitem rows (work item = l_orderkey, user =
  *     l_suppkey, hours = l_quantity, billable = returnflag 'N', entry date
  *     = ship date)  [ref grain: USER_TIME_ENTRY_BQ]
  *   - work-item snapshots := per (l_orderkey, ship date) daily aggregates —
  *     several reporting dates per work item, "latest" derived
  *     [ref: WORK_ITEM_DETAILS_BQ, `work_item_details_latest_view.sql:58-62`]
  *   - budget rows         := per (work item, user, task type = returnflag,
  *     role = linestatus, sync month) with duplicates across months → the V5
  *     window dedup [ref: WORK_ITEM_BUDGET_VS_ACTUAL_BQ, `…v5.sql:54-104`]
  *   - dims                := customer (client), nation (team), region
  *     (tenant), supplier (user dim)
  *
  * Scale notes: every dimension join is broadcast; the only shuffles are the
  * per-key aggregations and window dedups, all on high-cardinality keys
  * (work_item_id, (work_item_id, user_id)), so the DAG is one fact scan +
  * a handful of hash aggregations at any data size. The monthly pivot year
  * is a parameter (the reference hard-codes 2025, `…v5.sql:23-34`).
  */
object ViewDag {

  val PivotYear = 1996

  // ---- base facts -------------------------------------------------------

  /** Time entries at line grain. */
  def timeEntries(li: DataFrame): DataFrame =
    li.select(
      col("l_orderkey").as("work_item_id"),
      col("l_suppkey").as("user_id"),
      col("l_linenumber").as("entry_seq"),
      col("l_quantity").as("hours"),
      (col("l_returnflag") === "N").as("is_billable"),
      col("l_shipdate").cast("date").as("entry_date"))

  /** Daily work-item snapshots (the snapshot fact: several reporting dates
    * per work item). */
  def workItemSnapshots(li: DataFrame): DataFrame =
    li.groupBy(col("l_orderkey").as("work_item_id"), col("l_shipdate").cast("date").as("reporting_date"))
      .agg(
        count(lit(1)).as("lines_on_date"),
        Exact.sum2(col("l_quantity")).as("hours_on_date"))

  /** Budget rows at (work item, user, task type, role, sync month) grain,
    * duplicated across sync months like the reference's repeated daily syncs.
    */
  def budgetRows(li: DataFrame): DataFrame =
    li.groupBy(
        col("l_orderkey").as("work_item_id"),
        col("l_suppkey").as("user_id"),
        col("l_returnflag").as("task_type"),
        col("l_linestatus").as("role"),
        date_trunc("month", col("l_shipdate")).cast("date").as("sync_month"))
      .agg(sum((Exact.d2(col("l_quantity")) * Exact.d2(lit(1.2))).cast(Exact.D4))
        .cast("double").as("budgeted_hours"))

  // ---- level 1: latest snapshot view ------------------------------------

  /** `work_item_details_latest_view.sql:58-62` analog: correlated
    * max-per-key, tie-keeping semantics, enriched with the work-item header.
    */
  def latestView(li: DataFrame, orders: DataFrame): DataFrame = {
    val latest = Core.latestSnapshot(workItemSnapshots(li), Seq("work_item_id"), "reporting_date",
      keepTies = true)
    latest.join(
      orders.select(col("o_orderkey"), col("o_orderstatus").as("work_item_status"),
        col("o_totalprice").as("work_item_budget"), col("o_custkey").as("client_id"),
        col("o_orderdate").cast("date").as("created_date")),
      latest("work_item_id") === col("o_orderkey"), "left")
      .drop("o_orderkey")
  }

  // ---- level 2: corrected view ------------------------------------------

  /** `work_item_budget_vs_actual_corrected_view.sql` analog: full-row
    * DISTINCT on the budget fact (`:10-35`), window dedup of repeated sync
    * months, join to the latest snapshot (`:127-129`), derive date parts
    * (`:70-76`) and variance/utilization/status columns (`:94-125`).
    */
  def correctedView(li: DataFrame, orders: DataFrame): DataFrame = {
    val deduped = Core.dedupByKey(
      budgetRows(li).distinct(),
      Seq("work_item_id", "user_id", "task_type", "role"),
      Seq(col("sync_month").desc))
    val actuals = timeEntries(li)
      .groupBy(col("work_item_id"), col("user_id"))
      .agg(Exact.sum2(col("hours")).as("hours_logged"))
    val latest = latestView(li, orders)
      .select(col("work_item_id"), col("reporting_date"), col("work_item_status"), col("client_id"))
    deduped
      .join(actuals, Seq("work_item_id", "user_id"), "left")
      .join(latest, Seq("work_item_id"), "left")
      .select(
        col("work_item_id"), col("user_id"), col("task_type"), col("role"),
        col("sync_month"), col("budgeted_hours"),
        coalesce(col("hours_logged"), lit(0.0)).as("hours_logged"),
        col("reporting_date"), col("work_item_status"), col("client_id"),
        year(col("sync_month")).as("budget_year"),
        month(col("sync_month")).as("budget_month"),
        quarter(col("sync_month")).as("budget_quarter"),
        (Exact.d4(col("budgeted_hours")) - Exact.d2(coalesce(col("hours_logged"), lit(0.0))))
          .cast("double").as("budget_variance"),
        Core.safeDivide(coalesce(col("hours_logged"), lit(0.0)) * 100.0, col("budgeted_hours"))
          .as("utilization_pct"),
        when(col("budgeted_hours").isNull || col("budgeted_hours") === 0, "NO_BUDGET")
          .when(coalesce(col("hours_logged"), lit(0.0)) > col("budgeted_hours"), "OVER_BUDGET")
          .when(coalesce(col("hours_logged"), lit(0.0)) >= col("budgeted_hours") * 0.8, "NEAR_BUDGET")
          .otherwise("UNDER_BUDGET").as("budget_status"))
  }

  // ---- level 3: V4 (work-item grain) ------------------------------------

  /** `work_item_budget_time_tracking_view_v4.sql` analog at work-item grain:
    * per-item rollup (`:7-19`), the 10-join star (`:257-273`), safe-divide
    * metrics (`:71-74`), rolling trend windows with the stddev guard
    * (`:195-232`) and the schedule-status ladder (`:234-240`).
    */
  def v4View(li: DataFrame, orders: DataFrame, customer: DataFrame, nation: DataFrame,
      region: DataFrame): DataFrame = {
    val te = timeEntries(li)
    val perItem = te.groupBy(col("work_item_id"))
      .agg(
        Exact.sum2(col("hours")).as("total_hours"),
        sum(when(col("is_billable"), Exact.d2(col("hours"))).otherwise(Exact.d2(lit(0))))
          .cast("double").as("billable_hours"),
        countDistinct(col("user_id")).as("unique_contributors"),
        min(col("entry_date")).as("first_entry_date"),
        max(col("entry_date")).as("last_entry_date"))

    // Rolling trend over the snapshot series (W4/W6): trailing 3-snapshot
    // average of daily hours, used only when the guard stddev says the
    // series is volatile; exact windowed sums keep the guard reproducible.
    val snaps = workItemSnapshots(li)
    val ord = Window.partitionBy(col("work_item_id")).orderBy(col("reporting_date"))
    val guard = ord.rowsBetween(-3, 0)
    val trail = ord.rowsBetween(-3, -1)
    val n = count(col("hours_on_date")).over(guard).cast("double")
    val sm = sum(Exact.d2(col("hours_on_date"))).over(guard).cast("double")
    val sq = sum(Exact.d2(col("hours_on_date")) * Exact.d2(col("hours_on_date"))).over(guard).cast("double")
    val guardStd = when(n > 1, sqrt((sq - sm * sm / n) / (n - lit(1.0)))).otherwise(lit(null))
    val trend = snaps.select(
      col("work_item_id"), col("reporting_date"), col("hours_on_date"),
      when(guardStd > 0.01,
        sum(Exact.d2(col("hours_on_date"))).over(trail).cast("double") /
          Exact.nullIfZero(count(col("hours_on_date")).over(trail)))
        .otherwise(col("hours_on_date")).as("hours_trend"))
    val latestTrend = Core.latestSnapshot(trend, Seq("work_item_id"), "reporting_date",
      keepTies = false, tieBreak = Nil)
      .select(col("work_item_id"), col("hours_trend"))

    orders
      .join(perItem, orders("o_orderkey") === perItem("work_item_id"), "left")
      .join(broadcast(customer), col("o_custkey") === col("c_custkey"), "left")
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"), "left")
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"), "left")
      .join(latestTrend, orders("o_orderkey") === latestTrend("work_item_id"), "left")
      .select(
        col("o_orderkey").as("work_item_id"),
        col("o_orderstatus").as("work_item_status"),
        col("o_totalprice").as("work_item_budget"),
        col("o_orderdate").cast("date").as("created_date"),
        col("c_custkey").as("client_id"),
        col("c_name").as("client_name"),
        col("n_name").as("client_team"),
        col("r_name").as("client_tenant"),
        coalesce(col("total_hours"), lit(0.0)).as("total_hours"),
        coalesce(col("billable_hours"), lit(0.0)).as("billable_hours"),
        (Exact.d2(coalesce(col("total_hours"), lit(0.0))) -
          Exact.d2(coalesce(col("billable_hours"), lit(0.0)))).cast("double").as("nonbillable_hours"),
        coalesce(col("unique_contributors"), lit(0L)).as("unique_contributors"),
        col("first_entry_date"), col("last_entry_date"),
        col("hours_trend"),
        Core.safeDivide(coalesce(col("billable_hours"), lit(0.0)) * 100.0,
          coalesce(col("total_hours"), lit(0.0))).as("billable_pct"),
        date_add(col("last_entry_date"), 3).as("followup_due"),
        when(col("last_entry_date").isNull, "NO_ACTIVITY")
          .when(col("last_entry_date") < lit("1998-01-01").cast("date"), "STALE")
          .otherwise("ACTIVE").as("schedule_status"))
  }

  // ---- level 4: V5 (individual grain) -----------------------------------

  /** `work_item_individual_budget_time_tracking_view_v5.sql` analog: the
    * four CTEs (`:11-136`), the INNER user-universe join + 10 LEFT joins
    * (`:399-450`), the monthly pivot (`:23-34`), ~30 derived columns and
    * the final ORDER BY (`:460`).
    */
  def v5View(li: DataFrame, orders: DataFrame, customer: DataFrame, nation: DataFrame,
      region: DataFrame, supplier: DataFrame): DataFrame = {
    val te = timeEntries(li)

    // CTE 1: IndividualTimeEntrySummary (`:11-37`), incl. the monthly pivot.
    // Two-level rollup: pre-aggregate once at (item, user, month) grain —
    // ONE decimal sum per row instead of 14 (12 pivot conditionals + 2
    // totals) — then finish on the ~4× smaller monthly frame. Decimal sums
    // are exact and associative, so the result is bit-identical; the
    // distinct-month count becomes a plain count (no Expand), and absent
    // pivot months surface as NULL, coalesced to 0.0 in the final select
    // exactly like the rows the left join fails to match.
    // Hours aggregate as integer CENTS (long adds in codegen, no Decimal
    // boxing — Exact.cents): `sum_cents/100.0` is the same correctly-rounded
    // double as the decimal-sum-cast (both round the identical rational
    // once; totals sit far under 2^53), so every downstream value is
    // bit-identical to the decimal formulation the oracle spells.
    val monthly = te.groupBy(col("work_item_id"), col("user_id"),
        date_trunc("month", col("entry_date")).as("entry_month"))
      .agg(
        sum(Exact.cents(col("hours"))).as("m_hours_c"),
        sum(when(col("is_billable"), Exact.cents(col("hours"))).otherwise(lit(0L)))
          .as("m_billable_c"),
        min(col("entry_date")).as("m_first"),
        max(col("entry_date")).as("m_last"))
      // Pivot month resolved ONCE per monthly row: the 12 pivot sums used to
      // each re-derive year()+month() from the timestamp (24 tz-aware date
      // conversions per row, ~14M per million rows — ProfileOne showed them
      // as a top final-stage cost). An int compare per CASE is ~free;
      // when() yields NULL for non-pivot years exactly like the old
      // year=PivotYear && month=m conjunction, so sums are bit-identical.
      .withColumn("pivot_m",
        when(year(col("entry_month")) === PivotYear, month(col("entry_month"))))
    val aggCols: Seq[org.apache.spark.sql.Column] = Seq(
      (sum(col("m_hours_c")) / 100.0).as("hours_logged"),
      (sum(col("m_billable_c")) / 100.0).as("billable_hours"),
      min(col("m_first")).as("first_entry_date"),
      max(col("m_last")).as("last_entry_date"),
      count(lit(1)).as("months_active")) ++
      (1 to 12).map { m =>
        // sum of all-NULL is NULL, and NULL/100.0 stays NULL — absent pivot
        // months still surface as NULL for the final coalesce
        (sum(when(col("pivot_m") === m, col("m_hours_c"))) / 100.0)
          .as(f"hours_m_$m%02d")
      }
    val its = monthly.groupBy(col("work_item_id"), col("user_id"))
      .agg(aggCols.head, aggCols.tail: _*)

    // CTE 2: WorkItemTimeEntrySummary (`:39-51`). Note: deriving this from
    // `monthly` (sum of m_hours per item — bit-identical by decimal
    // associativity) was tried and REVERTED: Catalyst's column pruning
    // rewrites the shared subtree per-branch, so the exchange is never
    // reused and the "shared" formulation just adds a second shuffle level.
    // The direct form is one pruned 3-column scan + one narrow shuffle.
    val wts = te.groupBy(col("work_item_id"))
      .agg(Exact.sum2(col("hours")).as("work_item_total_hours"))

    // CTE 3: IndividualBudgetSummary — nested window dedup then rollup (`:56-104`).
    val ibs = Core.dedupByKey(
        budgetRows(li),
        Seq("work_item_id", "user_id", "task_type", "role"),
        Seq(col("sync_month").desc))
      .groupBy(col("work_item_id"), col("user_id"))
      .agg(sum(Exact.d4(col("budgeted_hours"))).cast("double").as("budgeted_hours"))

    // CTE 4: AllWorkItemUsers — UNION ALL + DISTINCT user universe (`:114-136`).
    // Same set as budget-users ∪ time-users, but taken from the already
    // aggregated summaries so the raw fact is not re-shuffled for a DISTINCT.
    val universe = ibs.select(col("work_item_id"), col("user_id"))
      .union(its.select(col("work_item_id"), col("user_id")))
      .distinct()

    // Latest work items (J6 keep-ties, `:453-457`) + header.
    val latest = Core.latestSnapshot(workItemSnapshots(li), Seq("work_item_id"), "reporting_date",
      keepTies = true)
      .join(orders.select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
        col("o_custkey")), col("work_item_id") === col("o_orderkey"), "left")

    val userDim = supplier.select(col("s_suppkey"), col("s_name").as("user_name"),
      col("s_nationkey").as("user_nationkey"))
    val userNation = nation.select(col("n_nationkey").as("un_key"), col("n_name").as("user_team"))

    latest
      .join(universe, Seq("work_item_id"), "inner")
      .join(its, Seq("work_item_id", "user_id"), "left")
      .join(wts, Seq("work_item_id"), "left")
      .join(ibs, Seq("work_item_id", "user_id"), "left")
      .join(broadcast(customer), col("o_custkey") === col("c_custkey"), "left")
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"), "left")
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"), "left")
      .join(broadcast(userDim), col("user_id") === col("s_suppkey"), "left")
      .join(broadcast(userNation), col("user_nationkey") === col("un_key"), "left")
      .select(Seq(
        col("work_item_id"),
        col("user_id"),
        col("reporting_date"),
        col("o_orderstatus").as("work_item_status"),
        col("o_totalprice").as("work_item_budget"),
        col("c_custkey").as("client_id"),
        col("c_name").as("client_name"),
        col("n_name").as("client_team"),
        col("r_name").as("client_tenant"),
        col("user_name"),
        col("user_team"),
        coalesce(col("hours_logged"), lit(0.0)).as("hours_logged"),
        coalesce(col("billable_hours"), lit(0.0)).as("billable_hours"),
        (Exact.d2(coalesce(col("hours_logged"), lit(0.0))) -
          Exact.d2(coalesce(col("billable_hours"), lit(0.0)))).cast("double").as("nonbillable_hours"),
        coalesce(col("work_item_total_hours"), lit(0.0)).as("work_item_total_hours"),
        col("budgeted_hours"),
        (Exact.d4(coalesce(col("budgeted_hours"), lit(0.0))) -
          Exact.d2(coalesce(col("hours_logged"), lit(0.0)))).cast("double").as("budget_remaining"),
        Core.safeDivide(coalesce(col("hours_logged"), lit(0.0)) * 100.0, col("budgeted_hours"))
          .as("utilization_pct"),
        Core.safeDivide(coalesce(col("hours_logged"), lit(0.0)) * 100.0,
          col("work_item_total_hours")).as("user_share_pct"),
        when(col("budgeted_hours").isNull, "NO_INDIVIDUAL_BUDGET")
          .when(coalesce(col("hours_logged"), lit(0.0)) > col("budgeted_hours"), "OVER_BUDGET")
          .when(coalesce(col("hours_logged"), lit(0.0)) >= col("budgeted_hours") * 0.8, "NEAR_BUDGET")
          .otherwise("UNDER_BUDGET").as("budget_status"),
        col("first_entry_date"),
        col("last_entry_date"),
        coalesce(col("months_active"), lit(0L)).as("months_active")) ++
        (1 to 12).map(m => coalesce(col(f"hours_m_$m%02d"), lit(0.0)).as(f"hours_m_$m%02d")): _*)
    // No trailing ORDER BY: the reference view's is presentation-only, and a
    // total sort of the full view output (range-partition exchange + sort of
    // every wide row) is the single largest avoidable shuffle at scale.
    // Consumers that need an order sort their (filtered, small) result.
  }

  /** `…v5_fallback.sql` analog: work items with no individual budgets get a
    * proportional estimate (hours share × work-item budget, `:58-93`) and a
    * provenance tag (`:95-132`).
    */
  def v5Fallback(li: DataFrame, orders: DataFrame): DataFrame = {
    val te = timeEntries(li)
    val its = te.groupBy(col("work_item_id"), col("user_id"))
      .agg(Exact.sum2(col("hours")).as("hours_logged"))
    val wts = its.groupBy(col("work_item_id"))
      .agg(Exact.sum2(col("hours_logged")).as("work_item_total_hours"))
    val ibs = Core.dedupByKey(
        budgetRows(li),
        Seq("work_item_id", "user_id", "task_type", "role"),
        Seq(col("sync_month").desc))
      .groupBy(col("work_item_id"), col("user_id"))
      .agg(sum(Exact.d4(col("budgeted_hours"))).cast("double").as("budgeted_hours"))
    // Work items that have at least one individual budget row keep them;
    // the rest estimate from time-logged shares (J9 anti pattern, `:89-92`).
    val budgetedItems = ibs.select(col("work_item_id")).distinct()
    val actual = ibs
      .withColumn("budget_source", lit("ACTUAL_INDIVIDUAL_BUDGET"))
    val estimated = its
      .join(budgetedItems, Seq("work_item_id"), "left_anti")
      .join(wts, Seq("work_item_id"))
      .join(orders.select(col("o_orderkey"),
        (col("o_totalprice") / 100.0).as("item_budget_hours")),
        col("work_item_id") === col("o_orderkey"), "inner")
      .select(col("work_item_id"), col("user_id"),
        (col("item_budget_hours") * (col("hours_logged") / col("work_item_total_hours")))
          .as("budgeted_hours"),
        lit("ESTIMATED_FROM_TIME_LOGGED").as("budget_source"))
    actual.select(col("work_item_id"), col("user_id"), col("budgeted_hours"), col("budget_source"))
      .unionByName(estimated)
  }
}
