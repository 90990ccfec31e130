package graft

import graft.quality.{AnomalyDetection, QualityChecks}
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Quality agent + ML anomaly scoring behavior. */
class QualitySpec extends SparkSuite {
  import spark.implicits._

  test("reconciliation: orphans/missing detected; live cleanup matches the dry-run report") {
    import graft.quality.Reconciliation
    import graft.sources.FixtureGen
    val details = FixtureGen.workItemDetails(spark)
      .dropDuplicates("WORK_ITEM_ID", "REPORTING_DATE")
    val tables = Reconciliation.Tables(details,
      FixtureGen.budgetVsActual(spark), FixtureGen.timeEntries(spark))
    val isDrifted = pmod(substring(col("WORK_ITEM_ID"), 2, 3).cast("int"), lit(41)) === 0
    val source = details.select(col("WORK_ITEM_ID")).distinct().filter(!isDrifted)
      .unionByName(Seq("W998", "W999").toDF("WORK_ITEM_ID")) // only-in-source items

    val a = Reconciliation.analyze(source, details.select("WORK_ITEM_ID")).head()
    // 300 items, every 41st drifted: 0,41,...,287 → 8 orphans; 2 missing
    assert(a.getAs[Long]("orphaned_in_bigquery") == 8)
    assert(a.getAs[Long]("missing_in_bigquery") == 2)
    assert(a.getAs[Long]("bigquery_work_items") == 300)

    val report = Reconciliation.cleanupReport(source, tables)
      .as[(String, Long)].collect().toMap
    val cleaned = Reconciliation.cleanup(source, tables)
    // live deletions equal the dry-run counts, table by table
    assert(details.count() - cleaned.details.count() == report("WORK_ITEM_DETAILS_BQ"))
    assert(tables.budget.count() - cleaned.budget.count() == report("WORK_ITEM_BUDGET_VS_ACTUAL_BQ"))
    assert(tables.timeEntries.count() - cleaned.timeEntries.count() == report("USER_TIME_ENTRY_BQ"))
    // no orphaned item survives anywhere; NULL-key rows are preserved
    assert(cleaned.details.filter(isDrifted).isEmpty)
    assert(cleaned.budget.filter(isDrifted).isEmpty)
    assert(cleaned.timeEntries.filter(isDrifted).isEmpty)
    assert(cleaned.timeEntries.filter(col("WORK_ITEM_ID").isNull).count() ==
      tables.timeEntries.filter(col("WORK_ITEM_ID").isNull).count())
  }

  test("quality checks flag row-floor, null-rate, dup-rate and freshness breaches") {
    val good = Seq.tabulate(50)(i => (i.toLong, s"v$i", "2024-01-30"))
      .toDF("k", "v", "d").withColumn("d", col("d").cast("date"))
    val dirty = (Seq.tabulate(10)(i => (i.toLong, null: String, "2023-06-01")) ++
      Seq.tabulate(10)(i => (i.toLong, s"v$i", "2023-06-01")))
      .toDF("k", "v", "d").withColumn("d", col("d").cast("date"))
    val report = QualityChecks.run(Seq(
      QualityChecks.TableCheck("good", good, Seq("k"), Some("d"), "v",
        QualityChecks.Thresholds(minRows = 10, maxAgeHours = 48)),
      QualityChecks.TableCheck("dirty", dirty, Seq("k"), Some("d"), "v",
        QualityChecks.Thresholds(minRows = 100, maxAgeHours = 24))),
      asOf = lit("2024-01-31").cast("date"))
    val rows = report.collect().map(r => r.getString(0) -> r).toMap
    assert(rows("good").getAs[Boolean]("all_ok"))
    val d = rows("dirty")
    assert(!d.getAs[Boolean]("row_floor_ok")) // 20 < 100
    assert(!d.getAs[Boolean]("null_rate_ok")) // 50% nulls
    assert(!d.getAs[Boolean]("dup_rate_ok")) // duplicated keys
    assert(!d.getAs[Boolean]("freshness_ok")) // stale by months
  }

  test("monitoring report: freshness ladder and issue counts over planted pathologies") {
    import graft.quality.Monitoring
    // details: a NULL and an empty WORK_ITEM_ID, newest day 08-25
    val details = Seq(("W1", "2025-08-20"), (null, "2025-08-25"), ("", "2025-08-25"),
      ("W2", "2025-08-25")).toDF("WORK_ITEM_ID", "d")
      .select(col("WORK_ITEM_ID"), col("d").cast("date").as("REPORTING_DATE"))
    // time entries: one dated 09-10, in the future of most report dates
    val te = Seq(("U1", "2025-08-24"), ("U2", "2025-09-10")).toDF("USER_ID", "d")
      .select(col("USER_ID"), col("d").cast("date").as("REPORTING_DATE"))
    val v4 = Seq.empty[(String, String)].toDF("WORK_ITEM_ID", "CLIENT_ID")
      .withColumn("REPORTING_DATE", lit(null).cast("date"))
    def report(asOf: String) = Monitoring.report(details, te, v4,
      lit(asOf).cast("timestamp_ntz")).collect().toSeq
    val (d, v, t) = ("WORK_ITEM_DETAILS_BQ", "WORK_ITEM_BUDGET_TIME_TRACKING_VIEW_V4",
      "USER_TIME_ENTRY_BQ")

    val rows = report("2025-08-26 06:00:00")
    assert(rows.map(r => (r.getString(0), r.getString(2))) === Seq(
      "🔍 PIPELINE HEALTH REPORT" -> "",
      "📊 DATA FRESHNESS" -> d, "📊 DATA FRESHNESS" -> v, "📊 DATA FRESHNESS" -> t,
      "⚠️ DATA QUALITY ISSUES" -> d, "⚠️ DATA QUALITY ISSUES" -> v,
      "⚠️ DATA QUALITY ISSUES" -> t))
    def tail(r: org.apache.spark.sql.Row) = (Option(r.get(3)).map(_.toString),
      Option(r.get(4)), Option(r.get(5)), r.getString(6), r.getString(7))
    assert(rows.drop(1).map(tail) === Seq(
      (Some("2025-08-25"), Some(4L), Some(1), "OK", "Data freshness is acceptable"),
      // an empty table has no newest day: no lag, and no alert
      (None, Some(0L), None, "OK", "Data freshness is acceptable"),
      (Some("2025-09-10"), Some(2L), Some(-15), "OK", "Data freshness is acceptable"),
      (None, Some(2L), None, "WARNING", "NULL_WORK_ITEM_ID: 2 issues found"),
      (None, Some(0L), None, "OK", "NULL_CLIENT_ID: 0 issues found"),
      (None, Some(1L), None, "WARNING", "FUTURE_DATES: 1 issues found")))

    // the ladder: a lag above 1 day warns, above 3 days is critical
    def level(asOf: String, table: String) = report(asOf)
      .find(r => r.getString(0) == "📊 DATA FRESHNESS" && r.getString(2) == table).get
      .getString(6)
    assert(level("2025-08-27 00:00:00", d) === "WARNING")
    assert(level("2025-08-28 00:00:00", d) === "WARNING")
    assert(level("2025-08-29 00:00:00", d) === "CRITICAL")
    // once the report date passes the future entry, it is stale, not future
    val late = report("2025-09-12 00:00:00")
    assert(late.filter(_.getString(2) == t).map(r => r.getString(6) -> r.getString(7)) === Seq(
      "WARNING" -> "Data is more than 1 day old - monitor closely",
      "OK" -> "FUTURE_DATES: 0 issues found"))
  }

  test("view verification summary counts what the public checks flag, without sorting") {
    import graft.quality.ViewVerification
    // read back from files, as the views are: a local relation's known row
    // count lets the optimizer drop a sort under a count by itself
    def landed(df: org.apache.spark.sql.DataFrame) = {
      val p = tmpDir() + "/f"
      df.write.parquet(p)
      spark.read.parquet(p)
    }
    // details: 12 work items with 2-3 snapshot rows (more than a check's
    // default limit of 10) and 3 with one
    val details = ((1 to 12).flatMap(w => (1 to 2 + w % 2).map(d => (s"W$w", d))) ++
      (13 to 15).map(w => (s"W$w", 1))).toDF("WORK_ITEM_ID", "d")
      .select(col("WORK_ITEM_ID"),
        date_add(lit("2025-08-01").cast("date"), col("d")).as("REPORTING_DATE"))
    // corrected: two budget rows restated across sync dates; a NULL user and a
    // zero budget never count
    val corrected = Seq(
      ("W1", "U1", "Ann", 1, 1, 60, 10.0, "2025-08-01"),
      ("W1", "U1", "Ann", 1, 1, 60, 10.0, "2025-08-02"),
      ("W2", "U2", "Bob", 1, 2, 30, 5.0, "2025-08-01"),
      ("W2", "U2", "Bob", 1, 2, 30, 5.0, "2025-08-02"),
      ("W2", "U2", "Bob", 1, 2, 30, 5.0, "2025-08-03"),
      ("W3", "U3", null, 1, 1, 60, 10.0, "2025-08-01"),
      ("W3", "U3", null, 1, 1, 60, 10.0, "2025-08-02"),
      ("W4", "U4", "Cy", 1, 1, 0, 0.0, "2025-08-01"),
      ("W4", "U4", "Cy", 1, 1, 0, 0.0, "2025-08-02"),
      ("W5", "U5", "Di", 1, 1, 45, 7.0, "2025-08-01"))
      .toDF("WORK_ITEM_ID", "USER_ID", "USER_NAME", "TASK_TYPE_ID", "ROLE_ID",
        "BUDGETED_MINUTES", "BUDGETED_COST", "d")
      .withColumn("sync_reporting_date", col("d").cast("date")).drop("d")
    // v5: W1 duplicates its grain (budgets and hours add up), W2 misses its
    // budget by 70 min and its hours by 2, W3 its budget by 5 min
    val v5 = Seq(
      ("W1", "U1", "Ann", "T1", 120, 60, 2.0, 1.0), ("W1", "U1", "Ann", "T1", 120, 60, 2.0, 1.0),
      ("W2", "U2", "Bob", "T2", 100, 30, 3.0, 1.0), ("W3", "U3", "Cy", "T3", 50, 45, 1.0, 1.0))
      .toDF("WORK_ITEM_ID", "budget_user_id", "budget_user_name", "WORK_TITLE",
        "work_item_total_budgeted_minutes", "individual_budgeted_minutes",
        "work_item_total_hours_logged_summary", "individual_hours_logged_actual")
    val summary = ViewVerification.summary(landed(details), landed(corrected), landed(v5))
    val all = Int.MaxValue
    assert(summary.as[(String, Long)].collect().toMap === Map(
      "WORK_ITEM_DETAILS_BQ_DUPLICATES" -> ViewVerification.detailsDupGroups(details, all).count(),
      "BUDGET_VS_ACTUAL_DUPLICATES" -> ViewVerification.budgetDupRows(corrected, all).count(),
      "V5_VIEW_USER_WORK_ITEM_DUPLICATES" -> ViewVerification.v5GrainDups(v5, all).count(),
      "BUDGET_CONSISTENCY_NOT_CONSISTENT" -> 2L,
      "TIME_TRACKING_CONSISTENCY" -> 1L))
    assert(summary.as[(String, Long)].collect().take(3).map(_._2).toSeq === Seq(12L, 2L, 1L))
    // the public checks keep their order and limit
    val top = ViewVerification.detailsDupGroups(details)
      .select("record_count", "WORK_ITEM_ID").as[(Long, String)].collect().toSeq
    assert(top.length === 10 && top === top.sortBy { case (n, w) => (-n, w) })
    assert(summary.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.SortExec if s.global => s
    }.isEmpty, "summary plans a global sort")
  }

  test("fallback coverage splits FALLBACK_ONLY vs COVERED") {
    val primary = Seq((1, "a"), (2, "a")).toDF("k", "u")
    val fallback = Seq((1, "a"), (2, "a"), (3, "a")).toDF("k", "u")
    val out = QualityChecks.fallbackCoverage(primary, fallback, Seq("k", "u"))
      .as[(Long, String)].collect().toMap
    assert(out == Map(1L -> "FALLBACK_ONLY", 2L -> "COVERED"))
  }

  test("anomaly scoring flags the contaminated fraction, planted outlier first") {
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    val daily = AnomalyDetection.dailyFeatures(ev)
    // plant an extreme day
    val outlier = Seq(("2024-03-01", 50000.0, 9000.0, 1e7, 90.0, 24.0))
      .toDF("event_date", "event_cnt", "active_users", "total_value", "error_pct", "active_hours")
      .withColumn("event_date", col("event_date").cast("date"))
    val scored = AnomalyDetection.score(daily.unionByName(outlier), contamination = 0.1)
    val n = scored.count()
    val flagged = scored.filter(col("is_anomaly")).count()
    assert(flagged == math.max(1L, math.round(n * 0.1)))
    val top = scored.orderBy(col("anomaly_score").desc).select("event_date").head().getDate(0)
    assert(top.toString == "2024-03-01")
  }

  test("stripControls removes C0+DEL but keeps tab/newline/CR and printable text") {
    val df = Seq(
      ("a\u0001b\u0000c", "abc"),                   // SOH + NUL stripped
      ("keep\tthis\nand\rthat", "keep\tthis\nand\rthat"), // allowed whitespace survives
      ("vt\u000Bff\u000Cdel\u007F", "vtffdel"),     // VT, FF, DEL stripped
      ("plain text!", "plain text!"))
      .toDF("raw", "expected")
    val out = df.select(graft.text.TextOps.stripControls(col("raw")).as("got"),
      col("expected")).collect()
    out.foreach(r => assert(r.getString(0) === r.getString(1)))
  }

  test("dq3 corpus report: one row per source, internally consistent counts") {
    val docs = sf("documents")
    val out = graft.text.TextOps.gopherFlags(docs, "text")
      .groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"),
        sum(size(graft.text.TextOps.tokens(col("text"))).cast("long")).as("n_tokens"),
        sum(col("n_chars")).as("n_chars_total"),
        countDistinct(col("lang")).as("n_langs"),
        (count(lit(1)) - countDistinct(col("text"))).as("n_dup_texts"),
        count_if(col("gopher_pass")).as("n_gopher_pass"))
    val rows = out.collect()
    assert(rows.length === docs.select("source").distinct().count())
    assert(rows.map(_.getLong(1)).sum === docs.count())
    rows.foreach { r =>
      assert(r.getLong(2) > 0 && r.getLong(3) > 0) // tokens, chars
      assert(r.getLong(4) >= 1) // langs
      assert(r.getLong(5) >= 0 && r.getLong(5) < r.getLong(1)) // dups
      assert(r.getLong(6) >= 0 && r.getLong(6) <= r.getLong(1)) // gopher pass
    }
  }

  test("dq4 embedding outliers: every vector scored, cut is the cross-multiplied mean ratio") {
    import graft.quality.EmbeddingHealth
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val out = EmbeddingHealth.outlierReport(emb, "vec_id", "embedding", "label").cache()
    assert(out.count() === emb.count())
    assert(out.filter(col("d2") < 0).isEmpty)
    // the cut implies outliers are a strict minority per label (Markov:
    // at most half the mass can sit above 2× the mean)
    val perLabel = out.groupBy(col("label")).agg(
      count(lit(1)).as("n"),
      sum(when(col("is_outlier"), 1L).otherwise(0L)).as("n_out")).collect()
    perLabel.foreach { r =>
      assert(r.getAs[Long]("n_out") * 2 < r.getAs[Long]("n"),
        s"label ${r.get(0)}: ${r.getAs[Long]("n_out")} outliers of ${r.getAs[Long]("n")}")
    }
    // flag consistency: recompute the per-label stats from the output itself
    val flagged = out.groupBy(col("label"))
      .agg(sum(col("d2")).as("sum_d2"), count(lit(1)).as("n_label"))
    val bad = out.join(flagged, Seq("label"))
      .filter(col("is_outlier") =!=
        (col("d2") * col("n_label") > lit(2L) * col("sum_d2")))
    assert(bad.isEmpty)
    out.unpersist()
  }

  test("tx20 curation gate: keep is the conjunction of its gates; reasons name exactly the failures") {
    val out = graft.queries.LlmQueries.defs("tx20_curation_gate")(
      spark, "/root/testdata/sf0.001").cache()
    assert(out.count() === Tables.documents(spark, "/root/testdata/sf0.001").count())
    assert(out.filter(col("keep") =!= (col("lang_ok") && col("gopher_pass") &&
      col("pii_ok") && col("token_ok") && col("dup_ok"))).isEmpty)
    // reasons empty exactly when kept, and each failed gate appears by name
    assert(out.filter(col("keep") && col("drop_reasons") =!= "").isEmpty)
    assert(out.filter(!col("keep") && col("drop_reasons") === "").isEmpty)
    assert(out.filter(!col("lang_ok") && !col("drop_reasons").contains("lang")).isEmpty)
    assert(out.filter(!col("dup_ok") && !col("drop_reasons").contains("duplicate")).isEmpty)
    out.unpersist()
  }

  test("w10 gap fill: spine complete, LOCF total, interpolation bounded by its endpoints") {
    val out = graft.queries.WindowQueries.defs("w10_gap_fill")(
      spark, "/root/testdata/sf0.001").cache()
    // spine covers every user's [min,max] day span exactly once
    val spans = out.groupBy(col("user_id")).agg(
      count(lit(1)).as("n"),
      (datediff(max(col("day")), min(col("day"))) + 1).as("span"),
      count(col("v_obs")).as("n_obs"))
    assert(spans.filter(col("n") =!= col("span")).isEmpty)
    // locf defined everywhere (spine starts at the first observation)
    assert(out.filter(col("locf").isNull).isEmpty)
    // observed days pass through; interp only fills gaps
    assert(out.filter(col("v_obs").isNotNull &&
      (col("v_interp") =!= col("v_obs") || col("is_gap"))).isEmpty)
    // interpolated values sit between the surrounding observations
    import org.apache.spark.sql.expressions.Window
    val wB = Window.partitionBy(col("user_id")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wF = Window.partitionBy(col("user_id")).orderBy(col("day"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val bounded = out
      .withColumn("pv", last(col("v_obs"), ignoreNulls = true).over(wB))
      .withColumn("nv", first(col("v_obs"), ignoreNulls = true).over(wF))
      .filter(col("is_gap") && col("v_interp").isNotNull)
      .filter(!(col("v_interp") >= least(col("pv"), col("nv")) &&
        col("v_interp") <= greatest(col("pv"), col("nv"))))
    assert(bounded.isEmpty)
    out.unpersist()
  }

  test("dq5 index drift: a shifted increment scores higher PSI than a same-distribution split") {
    import graft.ann.Pq
    import graft.quality.EmbeddingHealth
    val emb = sf("embeddings")
    val base = emb.filter(pmod(col("vec_id"), lit(5)) =!= 0)
    val cents = Pq.coarseTrain(base, Pq.adaptiveNlist(base.count()))
    def psiOf(df: org.apache.spark.sql.DataFrame): Double =
      EmbeddingHealth.indexDriftPsi(df, pmod(col("vec_id"), lit(5)) === 0, cents)
        .select(col("psi")).head().getDouble(0)
    // same-distribution increment: the hash split draws from one population
    val samePsi = psiOf(emb)
    // shifted increment: add a constant offset to every dimension of the
    // increment's vectors — they pile into few lists under the base-trained
    // quantizer, which is exactly what the PSI must surface
    val shifted = emb.withColumn("embedding",
      when(pmod(col("vec_id"), lit(5)) === 0,
        transform(col("embedding"), v => v + lit(1.5f)))
        .otherwise(col("embedding")))
    val shiftPsi = psiOf(shifted)
    assert(shiftPsi > samePsi,
      s"shifted increment PSI $shiftPsi should exceed same-distribution PSI $samePsi")
    assert(shiftPsi > 0.2, s"a wholesale distribution shift must trip the 0.2 verdict, got $shiftPsi")
  }
  test("dq6 corpus drift: identical snapshots read PSI 0; the planted doubling trips the gate") {
    // the no-drift side the registered fixture can't show: histogramming
    // the SAME snapshot twice must yield PSI exactly 0 (smoothing included)
    // and drift_detected = false, while the registered planted-drift query
    // must trip the 0.2 verdict
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val out = graft.queries.LlmQueries.defs("dq6_corpus_drift")(spark, dir)
      .select(col("psi"), col("drift_detected")).distinct().collect()
    assert(out.length === 1)
    assert(out.head.getBoolean(1), s"planted doubling must trip the gate, psi=${out.head.getDouble(0)}")
    assert(out.head.getDouble(0) > 0.2)
    // same-snapshot control: rebuild the query with curr = base
    val docs = graft.sources.Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    def bucketed(tag: String) = docs.select(
      least(floor(size(graft.text.TextOps.tokens(lower(col("text")))) / 32).cast("long"),
        lit(9L)).as("bucket"), lit(tag).as("__snap"))
    val buckets = bucketed("base").unionByName(bucketed("curr"))
      .groupBy(col("bucket"))
      .agg(sum(when(col("__snap") === "base", 1L).otherwise(0L)).as("n_base"),
        sum(when(col("__snap") === "curr", 1L).otherwise(0L)).as("n_curr"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
    val pC = (col("n_base") + 1).cast("double") / sum((col("n_base") + 1).cast("double")).over(w)
    val qC = (col("n_curr") + 1).cast("double") / sum((col("n_curr") + 1).cast("double")).over(w)
    val same = buckets.withColumn("psi", round(sum((pC - qC) * log(pC / qC)).over(w), 6))
      .select(col("psi")).distinct().collect()
    assert(same.length === 1 && same.head.getDouble(0) === 0.0,
      s"identical snapshots must read PSI 0, got ${same.head.getDouble(0)}")
  }

  test("dq7 schema drift: an empty snapshot flags drift, never a NULL verdict") {
    import graft.quality.Profiling
    val full = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val empty = full.limit(0)
    val drift = Profiling.schemaDrift(
      Profiling.profile(full, Seq("k", "v")),
      Profiling.profile(empty, Seq("k", "v")))
      .select(col("col_name"), col("drift_detected")).collect()
    assert(drift.length === 2)
    drift.foreach { r =>
      assert(!r.isNullAt(1), s"${r.getString(0)}: drift verdict must not be NULL")
      assert(r.getBoolean(1), s"${r.getString(0)}: empty snapshot must flag drift")
    }
    // and two healthy identical snapshots still read no drift
    val clean = Profiling.schemaDrift(
      Profiling.profile(full, Seq("k", "v")),
      Profiling.profile(full, Seq("k", "v")))
      .select(col("drift_detected")).collect()
    assert(clean.forall(r => !r.isNullAt(0) && !r.getBoolean(0)))
  }
}
