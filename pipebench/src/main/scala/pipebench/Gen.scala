package pipebench

import graft.schema.ReferenceCatalog
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import java.time.LocalDate

/** Seeded input generator: the reference's tables on their own schemas
  * (`ReferenceCatalog`), with the pathologies `FixtureGen` plants —
  * duplicate ingestions of one time entry, snapshot ties (full-row
  * duplicate detail snapshots), NULL users and dates, budget allocations
  * replicated across sync dates — at the production proportions of
  * BASELINE.md, scaled by [[FactScale]]. Every value is a hash of the seed
  * and the row's coordinates, so one seed always yields the same tables.
  *
  * The source is written once; what a night `n` pulls from it is
  * [[SourceTables]]: the rows dated up to that night's day, with a seeded
  * share of the rows still inside a sync window restated (their non-key
  * measures change every night the row is re-pulled) and a seeded share of
  * budget rows withdrawn on the last night their date is in the window —
  * the rows `Dml.smartDelete` exists to remove.
  */
final class Gen(spark: SparkSession, seed: Long) {
  import Gen._

  /** Uniform integer in [0, m) from the seed, a stream tag and row columns. */
  private def rnd(tag: Int, m: Int, cols: Column*): Column =
    pmod(xxhash64((lit(seed) +: lit(tag) +: cols): _*), lit(m.toLong)).cast("int")

  private def pad(prefix: String, c: Column, width: Int): Column =
    concat(lit(prefix), lpad(c.cast("string"), width, "0"))

  private def userId(idx: Column): Column = pad("U", idx + 1, 2)

  private def ts(day: Column, hours: Column): Column =
    (day.cast("timestamp_ntz") + make_dt_interval(lit(0), hours))
      .cast("timestamp_ntz")

  private def conform(df: DataFrame, schema: StructType): DataFrame =
    df.select(schema.fields.toIndexedSeq.map(f => col(f.name).cast(f.dataType).as(f.name)): _*)

  private val firstDay: Column = lit(FirstDay.toString).cast("date")

  /** WORK_ITEM_DETAILS_BQ: every item snapshotted every [[SnapshotEvery]]
    * days; items with `w % 37 == 0` carry a full-row duplicate snapshot. */
  def details(): DataFrame = {
    val perDay = (Items + SnapshotEvery - 1) / SnapshotEvery
    val base = spark.range(TotalDays.toLong * perDay)
      .select((col("id") / perDay).cast("int").as("i"), (col("id") % perDay).cast("int").as("k"))
      .withColumn("w", col("k") * SnapshotEvery + pmod(lit(SnapshotEvery) - col("i"), lit(SnapshotEvery)))
      .filter(col("w") < Items)
      .withColumn("d", date_add(firstDay, col("i")))
    val w = col("w"); val i = col("i")
    val snap = (i / SnapshotEvery).cast("int")
    val statusIdx = pmod(snap + rnd(1, 4, w), lit(4))
    val budget = when(rnd(2, 5, w) === 0, lit(null).cast("long"))
      .otherwise((rnd(3, 6000, w) + 600).cast("long"))
    val assigned = rnd(4, Users, w); val created = rnd(5, Users, w)
    val dueDay = rnd(6, 55, w)
    val due = when(rnd(7, 8, w) === 0, lit(null).cast("timestamp_ntz"))
      .otherwise(ts(date_add(firstDay, dueDay + 60), rnd(8, 24, w)))
    val completed = statusIdx >= 2
    val te = (snap * 120).cast("long")
    val status = element_at(array(lit("Planned"), lit("In Progress"), lit("Completed"),
      lit("Closed")), statusIdx + 1)
    val client = pmod(w, lit(Clients))
    val rows = base.select(
      pad("W", w, 6).as("WORK_ITEM_ID"), col("d").as("REPORTING_DATE"),
      concat(lit("Work item "), w.cast("string")).as("WORK_TITLE"),
      pad("C", client, 3).as("CLIENT_ID"), concat(lit("Client "), client.cast("string")).as("CLIENT"),
      when(w % 3 === 0, "Company").otherwise("Individual").as("CLIENT_TYPE"),
      pad("IC", w % 20, 2).as("INTERNAL_CLIENT_ID"),
      concat(lit("Internal "), (w % 20).cast("string")).as("INTERNAL_CLIENT"),
      lit("ACC1").as("ACCOUNT_ID"), lit("Account One").as("ACCOUNT_NAME"),
      concat(lit("WT"), (w % 3).cast("string")).as("WORK_TYPE_ID"),
      element_at(array(lit("Tax"), lit("Audit"), lit("Advisory")), (w % 3).cast("int") + 1).as("WORK_TYPE"),
      concat(lit("PS"), statusIdx.cast("string")).as("PRIMARY_STATUS_ID"),
      concat(lit("SS"), snap.cast("string")).as("SECONDARY_STATUS_ID"),
      status.as("PRIMARY_STATUS"), lit("On Track").as("SECONDARY_STATUS"),
      snap.cast("long").as("SECONDARY_STATUS_ORDER"),
      ts(col("d"), lit(9)).as("CURRENT_STATUS_ENTRY_DATE"),
      when(w % 4 === 0, "MONTHLY").as("REPEAT_SCHEDULE"),
      ts(firstDay, lit(8)).as("CREATED_DATETIME"),
      userId(created).as("CREATED_BY_ID"), concat(userId(created), lit(" Name")).as("CREATED_BY"),
      ts(date_add(firstDay, lit(1)), lit(9)).as("START_DATETIME"),
      userId(assigned).as("ASSIGNED_TO_ID"), concat(userId(assigned), lit(" Name")).as("ASSIGNED_TO"),
      due.as("DUE_DATETIME"),
      (due + make_dt_interval(lit(5))).cast("timestamp_ntz").as("DEADLINE_DATETIME"),
      when(completed, ts(date_add(firstDay, lit(50)), lit(17))).as("COMPLETED_DATETIME"),
      when(completed, userId(assigned)).as("COMPLETED_BY_ID"),
      when(completed, concat(userId(assigned), lit(" Name"))).as("COMPLETED_BY"),
      lit(null).cast("string").as("USER_DEFINED_CLIENT_ID"),
      concat(lit("TPL"), (w % 5).cast("string")).as("WORK_TEMPLATE_ID"),
      concat(lit("Template "), (w % 5).cast("string")).as("WORK_TEMPLATE"),
      concat(lit("Description of work item "), w.cast("string")).as("WORK_DESCRIPTION"),
      (rnd(9, 5000, w) + 1000).cast("long").as("FIXED_FEE_ESTIMATED_COST"),
      budget.as("BUDGETED_MINUTES"), (budget * 3).as("BUDGETED_COST"),
      rnd(10, 500, w, i).cast("long").as("EXPENSE_AMOUNT"),
      rnd(11, 300, w, i).cast("long").as("BILLABLE_EXPENSE_AMOUNT"),
      te.as("TIME_ENTRY_MINUTES"), (te * 2).as("TIME_ENTRY_COST"),
      ((budget - te) / 60.0).as("BUDGET_REMAINING_HOURS"),
      snap.cast("long").as("INTERNAL_TASKS_COMPLETED_COUNT"),
      (lit(20) - snap).cast("long").as("INTERNAL_TASKS_PENDING_COUNT"),
      (rnd(12, 4, w) === 0).as("IS_WORK_ITEM_OVERDUE"), w.as("__w"))
    val ties = rows.filter(col("__w") % 37 === 0)
    conform(rows.unionByName(ties), ReferenceCatalog.workItemDetails)
  }

  /** WORK_ITEM_BUDGET_VS_ACTUAL_BQ: allocations replicated over 2-3 sync
    * dates a week apart, NULL users and (first-sync) NULL dates planted.
    * BUDGETED_MINUTES embeds the allocation number, so two allocations never
    * share a merge key and the views' budget dedups never tie. */
  def budget(): DataFrame = {
    val allocs = math.max(1, (ProdBudget * FactScale * TotalDays / HistoryDays / 2.5).round.toInt)
    val j = col("id")
    val base = spark.range(allocs).select(
      j, (j * TotalDays / allocs).cast("int").as("f"), rnd(20, Items, j).as("w"),
      (rnd(21, 2, j) + 2).as("syncs"))
      .withColumn("s", explode(sequence(lit(0), col("syncs") - 1)))
      .withColumn("i", col("f") + col("s") * 7)
      .filter(col("i") < TotalDays)
    val user = when(rnd(22, 25, j) === 0, lit(null).cast("string")).otherwise(userId(rnd(23, Users, j)))
    val task = element_at(array(lit("Prep"), lit("Review"), lit("Filing")), rnd(24, 3, j) + 1)
    val role = element_at(array(lit("Senior"), lit("Junior"), lit("Manager")), rnd(25, 3, j) + 1)
    val minutes = (rnd(26, 1200, j) + 60).cast("long") * 100000L + j
    val w = col("w")
    conform(base.select(
      when(col("s") === 0 && rnd(27, 20, j) === 0, lit(null).cast("date"))
        .otherwise(date_add(firstDay, col("i"))).as("REPORTING_DATE"),
      pad("W", w, 6).as("WORK_ITEM_ID"), concat(lit("Work item "), w.cast("string")).as("WORK_TITLE"),
      concat(lit("WT"), (w % 3).cast("string")).as("WORK_TYPE_ID"),
      element_at(array(lit("Tax"), lit("Audit"), lit("Advisory")), (w % 3).cast("int") + 1).as("WORK_TYPE"),
      concat(lit("TT-"), task).as("TASK_TYPE_ID"), task.as("TASK_TYPE"),
      lit("Y").as("TASK_TYPE_BILLABLE_FLAG"),
      concat(lit("R-"), role).as("ROLE_ID"), role.as("ROLE_NAME"),
      lit("ACC1").as("ACCOUNT_ID"), lit("Account One").as("ACCOUNT_NAME"),
      user.as("USER_ID"), concat(user, lit(" Name")).as("USER_NAME"),
      pad("IC", w % 20, 2).as("INTERNAL_CLIENT_ID"),
      concat(lit("Internal "), (w % 20).cast("string")).as("INTERNAL_CLIENT"),
      pad("C", pmod(w, lit(Clients)), 3).as("CLIENT_ID"),
      concat(lit("Client "), pmod(w, lit(Clients)).cast("string")).as("CLIENT"),
      minutes.as("BUDGETED_MINUTES"), (minutes * (rnd(28, 70, j) + 50) / 100).cast("long").as("ACTUAL_MINUTES"),
      (minutes * 2).as("BUDGETED_COST"), minutes.as("ACTUAL_COST")),
      ReferenceCatalog.workItemBudgetVsActual)
  }

  /** USER_TIME_ENTRY_BQ: every 40th entry ingested twice (new row_uuid,
    * a day-later ingestion timestamp) — the `timeEntryDedupCleanup` target. */
  def timeEntries(): DataFrame = {
    val perDay = math.max(1, (ProdTime * FactScale / HistoryDays).round.toInt)
    val e = col("id")
    val base = spark.range(TotalDays.toLong * perDay)
      .withColumn("d", date_add(firstDay, (e / perDay).cast("int")))
    val user = when(rnd(30, 30, e) === 0, lit(null).cast("string")).otherwise(userId(rnd(31, Users, e)))
    val minutes = rnd(32, 100, e)
    def row(dup: Boolean) = base.filter(if (dup) e % 40 === 0 else lit(true)).select(
      pad("TE", e, 7).as("TIME_ENTRY_ID"), col("d").as("REPORTING_DATE"),
      when(rnd(33, 100, e) < 2, lit(null).cast("string")).otherwise(pad("W", rnd(34, Items, e), 6))
        .as("WORK_ITEM_ID"),
      user.as("USER_ID"), concat(user, lit(" Name")).as("USER_NAME"),
      when(minutes === 0, 0L).when(minutes === 1, -30L).otherwise((rnd(35, 466, e) + 15).cast("long"))
        .as("MINUTES"),
      when(rnd(36, 20, e) === 0, lit(null).cast("boolean")).otherwise(rnd(37, 2, e) === 1).as("IS_BILLABLE"),
      concat(lit(if (dup) "uuid-dup-" else "uuid-"), e.cast("string")).as("row_uuid"),
      ts(col("d"), lit(if (dup) 30 else 6) + (e % 60).cast("int")).as("bq_ingestion_timestamp"))
    conform(row(dup = false).unionByName(row(dup = true)), ReferenceCatalog.userTimeEntry)
  }

  def clientDim(): DataFrame = conform(spark.range(Clients).select(
    pad("C", col("id"), 3).as("CLIENT_ID"), concat(lit("Client "), col("id").cast("string")).as("CLIENT"),
    when(col("id") % 3 === 0, "Company").otherwise("Individual").as("CLIENT_TYPE"),
    when(col("id") % 3 === 0, "LLC").otherwise("Person").as("CLIENT_SUBTYPE"),
    userId(col("id") % Users).as("CLIENT_OWNER_USER_ID"),
    concat(userId(col("id") % Users), lit(" Name")).as("CLIENT_OWNER_USER_NAME"),
    userId((col("id") + 7) % Users).as("CLIENT_MANAGER_USER_ID"),
    concat(userId((col("id") + 7) % Users), lit(" Name")).as("CLIENT_MANAGER_USER_NAME"),
    lit("NZ").as("PRIMARY_ADDRESS_COUNTRY_CODE"),
    concat(lit("Region "), (col("id") % 4).cast("string")).as("PRIMARY_ADDRESS_STATE_PROVINCE_COUNTY"),
    concat(lit("City "), (col("id") % 10).cast("string")).as("PRIMARY_ADDRESS_CITY"),
    lit("ACC1").as("ACCOUNT_ID"), lit("Account One").as("ACCOUNT_NAME"),
    lit("2024-01-01 00:00:00").cast("timestamp_ntz").as("DATE_CREATED")),
    ReferenceCatalog.clientDimension)

  def clientGroupDim(): DataFrame = conform(spark.range(ClientGroups).select(
    pad("G", col("id") / 5, 2).as("CLIENT_GROUP_ID"),
    concat(lit("Group "), (col("id") / 5).cast("int").cast("string")).as("CLIENT_GROUP_NAME"),
    pad("C", col("id"), 3).as("CLIENT_ID"), concat(lit("Client "), col("id").cast("string")).as("CLIENT"),
    when(col("id") % 5 === 0, "PRIMARY").otherwise("MEMBER").as("CLIENT_GROUP_MEMBER_TYPE"),
    lit("ACC1").as("ACCOUNT_ID"), lit("Account One").as("ACCOUNT_NAME")),
    ReferenceCatalog.clientGroupDimension)

  def userDim(): DataFrame = conform(spark.range(Users).select(
    concat(userId(col("id")), lit(" Name")).as("USER_NAME"), userId(col("id")).as("USER_ID"),
    lit("Accountant").as("USER_JOB_TITLE"), concat(userId(col("id")), lit("@example.com")).as("USER_EMAIL_ADDRESS"),
    lit("2024-01-01").as("CREATED_DATE"), lit("2024-01-02").as("ACTIVATED_DATE"),
    when(col("id") % 10 === 9, "Inactive").otherwise("Active").as("STATUS"),
    lit(6000L).as("EXPECTED_BILLABLE_MINUTES"), lit(1200L).as("EXPECTED_NONBILLABLE_MINUTES"),
    (col("id") % 10 === 0).as("IS_SUPPORT_USER"),
    lit("ACC1").as("ACCOUNT_ID"), lit("Account One").as("ACCOUNT_NAME")),
    ReferenceCatalog.userDimension)

  def tenantTeamDim(): DataFrame = conform(spark.range(TenantTeams).select(
    pad("T", col("id"), 2).as("TENANT_TEAM_ID"), concat(lit("Team "), col("id").cast("string")).as("TENANT_TEAM_NAME"),
    lit(null).cast("string").as("PARENT_TENANT_TEAM_ID"), lit(null).cast("string").as("PARENT_TENANT_TEAM_NAME"),
    lit("ACC1").as("ACCOUNT_ID"), lit("Account One").as("ACCOUNT_NAME")),
    ReferenceCatalog.tenantTeamDimension)

  def tenantTeamMemberDim(): DataFrame = conform(spark.range(Users).select(
    pad("TM", col("id"), 2).as("TENANT_TEAM_MEMBER_ID"), pad("T", col("id") % TenantTeams, 2).as("TENANT_TEAM_ID"),
    userId(col("id")).as("USER_ID"), lit("ACC1").as("ACCOUNT_ID"), lit("Account One").as("ACCOUNT_NAME")),
    ReferenceCatalog.tenantTeamMemberDimension)

  /** PRODUCTIVITY_REPEATS_SYNC: one row per third work item. */
  def productivity(): DataFrame = {
    val w = col("id") * 3
    conform(spark.range((Items + 2) / 3).select(
      pad("W", w, 6).as("WORK_ITEM_ID"), lit("Repeats").as("CATEGORY"),
      concat(lit("Project "), (w % 7).cast("string")).as("PROJECT"),
      element_at(array(lit("Productivity"), lit("SLA"), lit("Productivity SLA")), rnd(40, 3, w) + 1)
        .as("MEASURE_TYPE"),
      (rnd(41, 10, w) + 1).cast("decimal(18,2)").as("POINTS"),
      (rnd(42, 3, w) + 1).cast("decimal(18,2)").as("WEIGHTING"),
      (rnd(43, 20, w) + 5).cast("decimal(18,2)").as("TOTAL_POINTS"),
      lit("2025-08-20 06:00:00").cast("timestamp_ntz").as("SYNC_TIMESTAMP"),
      lit("sync-agent").as("LAST_MODIFIED_BY")), ReferenceCatalog.productivityRepeats)
  }

  /** Writes every source table under `dir` and returns the handle the
    * workloads pull nights from. Facts are sorted on the date so a window
    * pull can skip row groups, as a warehouse extract would. The tables are
    * written concurrently: each is one small single-task job. */
  def writeSources(dir: String): SourceTables = {
    val tables = Seq("details" -> details(), "budget" -> budget(), "time_entries" -> timeEntries(),
      "client_dim" -> clientDim(), "client_group_dim" -> clientGroupDim(), "user_dim" -> userDim(),
      "tenant_team_dim" -> tenantTeamDim(), "tenant_team_member_dim" -> tenantTeamMemberDim(),
      "productivity_repeats" -> productivity())
    IO.concurrently(tables.map { case (name, df) => () =>
      val one = df.coalesce(1)
      val sorted = if (one.columns.contains("REPORTING_DATE")) one.sortWithinPartitions("REPORTING_DATE") else one
      sorted.write.mode("overwrite").parquet(s"$dir/$name")
    })
    new SourceTables(spark, dir, seed)
  }
}

object Gen {
  /** Production sizes (BASELINE.md) and the share of them generated. */
  val ProdDetails = 1054401; val ProdBudget = 35276; val ProdTime = 31383
  val Clients = 254; val ClientGroups = 112; val Users = 37; val TenantTeams = 6
  val FactScale = 0.01
  /** Day 0 is the baseline snapshot's date; night n syncs the windows
    * ending on day n. Every night stays before the views' fixed as-of
    * date (2025-09-01). */
  val Day0: LocalDate = LocalDate.of(2025, 7, 15)
  /** Each fact's sync window in days, ending on the night's day. BASELINE.md
    * gives the details window as 37 days and the budget window as ±30 days;
    * SURVEY.md (S2) gives the time-entry window as ±90 days. No generated
    * row is dated after the night's day, so only the part of a window up to
    * it pulls rows: the 30 (90) days before it and the day itself. */
  val DetailsWindow = 37; val BudgetWindow = 31; val TimeWindow = 91
  /** BASELINE.md puts 916K of the 1,054,401 detail rows inside the 37-day
    * window, so the history before night 1 is 37 × 1054401 / 916000 ≈ 43
    * days: a night re-pulls about 87% of the details, all of a 43-day time
    * entry history, and budget rows of the last 31 days. */
  val HistoryDays = 43
  /** Nights the source holds beyond the history: a run measures one night
    * (two when traced). */
  val MaxNights = 4
  val FirstDay: LocalDate = Day0.minusDays(HistoryDays - 1)
  val TotalDays: Int = HistoryDays + MaxNights
  val SnapshotEvery = 7
  val Items: Int = (ProdDetails * FactScale * SnapshotEvery / HistoryDays).round.toInt
  /** Percent of rows inside a window the source restates each night, and of
    * budget rows it withdraws when their date leaves the window. Neither
    * share is published by the reference; both are assumptions. */
  val RestatePct = 20
  val WithdrawPct = 3

  def day(n: Int): String = Day0.plusDays(n.toLong).toString
  def windowStart(n: Int, window: Int): String = Day0.plusDays((n - window + 1).toLong).toString
}

/** The written source, as seen on night `n`. */
final class SourceTables(spark: SparkSession, val dir: String, seed: Long) {
  import Gen._

  private def read(name: String): DataFrame = spark.read.parquet(s"$dir/$name")

  /** Restatement epoch of a row on night n: rows in the restated share change
    * every night their date is re-pulled and freeze once it leaves the
    * window, so the nightly-merged target and a one-shot full load of the
    * night-n source agree. */
  private def epoch(n: Int, window: Int, keys: Column*): Column = {
    val dIdx = datediff(col("REPORTING_DATE"), lit(Day0.toString).cast("date"))
    when(pmod(xxhash64((lit(seed) +: lit(90) +: keys): _*), lit(100L)) < RestatePct,
      greatest(lit(0), least(lit(n), dIdx + (window - 1)))).otherwise(lit(0)).cast("long")
  }

  private def upTo(df: DataFrame, n: Int): DataFrame =
    df.filter(col("REPORTING_DATE") <= lit(day(n)).cast("date") || col("REPORTING_DATE").isNull)

  def details(n: Int): DataFrame = {
    val e = epoch(n, DetailsWindow, col("WORK_ITEM_ID"), col("REPORTING_DATE"))
    upTo(read("details"), n)
      .withColumn("TIME_ENTRY_MINUTES", col("TIME_ENTRY_MINUTES") + e * 15)
      .withColumn("TIME_ENTRY_COST", col("TIME_ENTRY_COST") + e * 30)
  }

  def budget(n: Int): DataFrame = {
    val keys = Seq(col("WORK_ITEM_ID"), col("REPORTING_DATE"), col("BUDGETED_MINUTES"))
    val dIdx = datediff(col("REPORTING_DATE"), lit(Day0.toString).cast("date"))
    val withdrawn = pmod(xxhash64((lit(seed) +: lit(91) +: keys): _*), lit(100L)) < WithdrawPct &&
      lit(n) >= dIdx + (BudgetWindow - 1)
    val e = epoch(n, BudgetWindow, keys: _*)
    upTo(read("budget"), n).filter(!withdrawn || col("REPORTING_DATE").isNull)
      .withColumn("ACTUAL_MINUTES", col("ACTUAL_MINUTES") + e * 5)
      .withColumn("ACTUAL_COST", col("ACTUAL_COST") + e * 5)
  }

  def timeEntries(n: Int): DataFrame = {
    val e = epoch(n, TimeWindow, col("TIME_ENTRY_ID"), col("REPORTING_DATE"))
    upTo(read("time_entries"), n).withColumn("MINUTES", col("MINUTES") + e)
  }

  val dims: Seq[String] = Seq("client_dim", "client_group_dim", "user_dim", "tenant_team_dim",
    "tenant_team_member_dim", "productivity_repeats")
  def dim(name: String): DataFrame = read(name)
}
