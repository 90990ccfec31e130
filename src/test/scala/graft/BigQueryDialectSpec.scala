package graft

import graft.functions.BigQueryDialect
import org.apache.spark.sql.functions._

/** The dialect shim must run BigQuery-shaped SQL — the reference's idioms
  * (`SAFE_DIVIDE`, `COUNTIF`, `DATE_DIFF` with BQ arg order, `TIMESTAMP_ADD
  * (… INTERVAL …)`, `STRING_AGG … ORDER BY`) — through spark.sql.
  */
class BigQueryDialectSpec extends SparkSuite {
  import spark.implicits._

  test("GraftExtensions injects the dialect functions at session creation") {
    import org.apache.spark.sql.SparkSession
    val prev = spark
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    try {
      // cleared active/default → getOrCreate builds a NEW session on the
      // existing context and applies the builder's extensions
      val s2 = SparkSession.builder()
        .withExtensions(new graft.functions.GraftExtensions)
        .getOrCreate()
      val row = s2.sql(
        "SELECT safe_divide(10, 0) AS z, countif(x > 1) AS c FROM VALUES (1),(2),(3) t(x)")
        .head()
      assert(row.isNullAt(0) && row.getLong(1) == 2L)
    } finally {
      SparkSession.setActiveSession(prev); SparkSession.setDefaultSession(prev)
    }
  }

  test("SAFE_DIVIDE / COUNTIF / DATE_DIFF run with BigQuery semantics") {
    sf("lineitem").createOrReplaceTempView("li")
    val out = BigQueryDialect.sql(spark,
      """SELECT l_returnflag,
        |  SAFE_DIVIDE(SUM(l_quantity), COUNTIF(l_discount > 0.05)) AS q_per_disc,
        |  SAFE_DIVIDE(SUM(l_quantity), 0) AS div0,
        |  MAX(DATE_DIFF(CAST(l_shipdate AS DATE), DATE '1995-01-01', DAY)) AS max_days
        |FROM li GROUP BY l_returnflag""".stripMargin)
    val rows = out.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.isNullAt(2))) // SAFE_DIVIDE by 0 → null, no error
    assert(rows.forall(_.getInt(3) > 0)) // BQ arg order: later - earlier > 0
  }

  test("DATETIME_DIFF counts whole hours/minutes") {
    val r = BigQueryDialect.sql(spark,
      """SELECT DATETIME_DIFF(TIMESTAMP '2024-01-02 03:30:00', TIMESTAMP '2024-01-02 01:00:00', HOUR) AS h,
        |DATETIME_DIFF(TIMESTAMP '2024-01-02 01:05:00', TIMESTAMP '2024-01-02 01:00:00', MINUTE) AS m""".stripMargin)
      .head()
    assert(r.getLong(0) == 2L && r.getLong(1) == 5L)
  }

  test("GENERATE_UUID produces uuid-shaped distinct values") {
    val ids = spark.sql("SELECT GENERATE_UUID() AS u FROM range(5)").as[String].collect()
    assert(ids.distinct.length == 5)
    assert(ids.forall(_.matches("[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}")))
  }

  test("translate rewrites INTERVAL forms and STRING_AGG ORDER BY") {
    val t1 = BigQueryDialect.translate("SELECT TIMESTAMP_ADD(ts, INTERVAL 3 DAY) FROM t")
    assert(t1.contains("(ts + INTERVAL 3 DAY)"))
    val t2 = BigQueryDialect.translate("SELECT DATE_SUB(CURRENT_DATE(), INTERVAL 30 DAY)")
    assert(t2.contains("(CURRENT_DATE() - INTERVAL 30 DAY)"))
    val t3 = BigQueryDialect.translate(
      "SELECT STRING_AGG(DISTINCT n_name, ', ' ORDER BY n_name) FROM nation GROUP BY n_regionkey")
    assert(t3.contains("listagg(DISTINCT n_name, ', ') WITHIN GROUP (ORDER BY n_name)"))
  }

  test("decimal-literal coercion skips quoted strings and version-like tokens") {
    val t = BigQueryDialect.translate("SELECT x / 60.0, '1.5 hrs used', 'v2.0' FROM t")
    assert(t.contains("CAST(60.0 AS DOUBLE)"))
    assert(t.contains("'1.5 hrs used'") && t.contains("'v2.0'"))
    val v = BigQueryDialect.translate("SELECT '1.2.3' AS ver, note FROM t WHERE r > 0.5")
    assert(v.contains("'1.2.3'") && v.contains("CAST(0.5 AS DOUBLE)"))
    // dotted chains outside quotes are identifiers/versions, not literals
    assert(BigQueryDialect.translate("SELECT a1.2.3x").contains("a1.2.3x"))
  }

  test("decimal-literal coercion survives apostrophes in comments and '' escapes") {
    // r4 regression: the apostrophe in a `--` comment opened a phantom string
    // spanning 9 kB of v5.sql and swallowed every `/ 60.0` after it.
    val t = BigQueryDialect.translate(
      "SELECT x / 60.0 AS h -- items that don't appear\n, y / 60.0 AS m FROM t")
    assert(t.sliding("CAST(60.0 AS DOUBLE)".length).count(_ == "CAST(60.0 AS DOUBLE)") == 2)
    assert(t.contains("-- items that don't appear"))
    val b = BigQueryDialect.translate("SELECT /* can't 1.5 */ x / 60.0 FROM t")
    assert(b.contains("/* can't 1.5 */") && b.contains("CAST(60.0 AS DOUBLE)"))
    val e = BigQueryDialect.translate("SELECT 'it''s 1.5 hrs', z / 60.0 FROM t")
    assert(e.contains("'it''s 1.5 hrs'") && e.contains("CAST(60.0 AS DOUBLE)"))
    // double-quoted segments are pass-through too: a `--` or version token
    // inside one must neither desync the scan nor get rewritten
    val d = BigQueryDialect.translate(
      "SELECT \"hrs -- note\" AS a, \"v 1.5\" AS b, x / 60.0 FROM t")
    assert(d.contains("\"hrs -- note\"") && d.contains("\"v 1.5\""))
    assert(d.contains("CAST(60.0 AS DOUBLE)"))
    // backslash escapes (the BigQuery/Spark default): an escaped quote must
    // not close the segment — `\"don\\\"t 1.5\"` stays verbatim and the
    // trailing quote must not open a phantom segment that swallows `/ 60.0`
    val bs = BigQueryDialect.translate(
      "SELECT \"don\\\"t 1.5\" AS a, 'it\\'s 2.5 hrs' AS b, x / 60.0 FROM t")
    assert(bs.contains("\"don\\\"t 1.5\"") && bs.contains("'it\\'s 2.5 hrs'"))
    assert(bs.contains("CAST(60.0 AS DOUBLE)"))
    // a backslash immediately before a newline inside a string must not
    // desync the segment scan (the escape alternative needs DOTALL)
    val nl = BigQueryDialect.translate("SELECT 'a\\\n1.5 x' AS s, y / 60.0 FROM t")
    assert(nl.contains("'a\\\n1.5 x'") && nl.contains("CAST(60.0 AS DOUBLE)"))
  }

  test("a reference-shaped snippet runs end-to-end through the shim") {
    sf("lineitem").createOrReplaceTempView("li")
    // Shaped like `work_item_budget_time_tracking_view_v4.sql:71-74,237` +
    // `verify_view_deduplication.sql:70`: safe utilization + deadline + agg list.
    val out = BigQueryDialect.sql(spark,
      """SELECT l_suppkey,
        |  SAFE_DIVIDE(SUM(CASE WHEN l_returnflag = 'N' THEN l_quantity ELSE 0 END) * 100, SUM(l_quantity)) AS billable_pct,
        |  TIMESTAMP_ADD(MAX(l_shipdate), INTERVAL 3 DAY) AS followup_due,
        |  STRING_AGG(DISTINCT l_returnflag, ', ' ORDER BY l_returnflag) AS flags
        |FROM li GROUP BY l_suppkey""".stripMargin)
    val r = out.orderBy(col("l_suppkey")).head()
    assert(!r.isNullAt(1) && r.getDouble(1) >= 0 && r.getDouble(1) <= 100)
    assert(r.getString(3).split(", ").toSeq.sorted == r.getString(3).split(", ").toSeq)
  }
}
