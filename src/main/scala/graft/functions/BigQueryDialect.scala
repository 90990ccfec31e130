package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.CountIf
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.types.NullType

/** BigQuery-dialect shim (SURVEY §4.2 item 5): lets the reference's view SQL
  * run through `spark.sql` with minimal edits. Two layers:
  *
  *  1. Catalyst expression builders registered under the BigQuery names
  *     (`SAFE_DIVIDE`, `COUNTIF`, `DATE_DIFF`, `DATETIME_DIFF`,
  *     `GENERATE_UUID`) — native expressions, fully codegen'd, no UDFs.
  *  2. A text pre-pass for constructs Spark's parser can't take as function
  *     arguments (`TIMESTAMP_ADD(x, INTERVAL n DAY)` → `x + INTERVAL n DAY`,
  *     `STRING_AGG(… ORDER BY …)` → `listagg … WITHIN GROUP`).
  *
  * Unit parts (DAY/HOUR/…) arrive from the parser as unresolved attributes —
  * matched by name, BigQuery-style.
  */
object BigQueryDialect {

  private def unit(e: Expression): Option[String] = e match {
    case a: UnresolvedAttribute => Some(a.name.toUpperCase)
    case Literal(s, _) if s != null => Some(s.toString.toUpperCase)
    case _ => None
  }

  /** The dialect's function set as (identifier, info, builder) triples,
    * injected at session start by [[GraftExtensions]].
    */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = {
    def info(name: String) = new ExpressionInfo("graft.functions.BigQueryDialect", name)
    Seq(
      (FunctionIdentifier("safe_divide"), info("safe_divide"), {
        case Seq(a, b) =>
          If(Or(IsNull(b), EqualTo(b, Literal(0))), Literal.create(null, NullType), Divide(a, b))
        case args => throw new IllegalArgumentException(s"safe_divide expects 2 args, got ${args.length}")
      }: Seq[Expression] => Expression),

      (FunctionIdentifier("countif"), info("countif"), {
        case Seq(p) => CountIf(p).toAggregateExpression()
        case args => throw new IllegalArgumentException(s"countif expects 1 arg, got ${args.length}")
      }: Seq[Expression] => Expression),

      // BigQuery arg order: DATE_DIFF(a, b, PART) = a - b in PART units.
      // The name shadows Spark's built-in date_diff(end, start) in every
      // session, so the two-argument form keeps Spark's meaning (days).
      (FunctionIdentifier("date_diff"), info("date_diff"), {
        case Seq(a, b) => DateDiff(a, b)
        case Seq(a, b, p) => unit(p) match {
          case Some("DAY") => DateDiff(a, b)
          case Some("WEEK") => IntegralDivide(DateDiff(a, b), Literal(7L))
          case Some("MONTH") => Cast(MonthsBetween(a, b, Literal(false)), org.apache.spark.sql.types.LongType)
          case Some("YEAR") => Subtract(Year(a), Year(b))
          case other => throw new IllegalArgumentException(s"date_diff: unsupported part $other")
        }
        case args => throw new IllegalArgumentException(s"date_diff expects 2 or 3 args, got ${args.length}")
      }: Seq[Expression] => Expression),

      // DATETIME_DIFF(a, b, PART): whole-unit difference of the epoch seconds
      // (BigQuery counts part boundaries; for HOUR/MINUTE/SECOND on aligned
      // timestamps the results coincide — deviation documented).
      (FunctionIdentifier("datetime_diff"), info("datetime_diff"), {
        case Seq(a, b, p) =>
          val secs = Subtract(UnixTimestamp(a, Literal("yyyy-MM-dd HH:mm:ss")),
            UnixTimestamp(b, Literal("yyyy-MM-dd HH:mm:ss")))
          unit(p) match {
            case Some("HOUR") => IntegralDivide(secs, Literal(3600L))
            case Some("MINUTE") => IntegralDivide(secs, Literal(60L))
            case Some("SECOND") => secs
            case other => throw new IllegalArgumentException(s"datetime_diff: unsupported part $other")
          }
        case args => throw new IllegalArgumentException(s"datetime_diff expects 3 args, got ${args.length}")
      }: Seq[Expression] => Expression),

      (FunctionIdentifier("generate_uuid"), info("generate_uuid"), {
        case Seq() => Uuid()
        case args => throw new IllegalArgumentException(s"generate_uuid expects 0 args, got ${args.length}")
      }: Seq[Expression] => Expression))
  }

  /** Text pre-pass for parser-level dialect differences. Regex-based and
    * deliberately narrow: it rewrites only the exact shapes the reference
    * uses (`…v4.sql:237`, `verify_view_deduplication.sql:70,238`).
    */
  /** Rewrite bare decimal-point literals to `CAST(x AS DOUBLE)`, leaving
    * `--` / `／*…*／` comment contents, single- and double-quoted segment
    * contents (with `''`/`""` doubling AND `\'`/`\"` backslash escapes —
    * both BigQuery and Spark default to backslash escaping, so `'don\'t
    * 1.5'` must not close the segment at the escaped quote), and
    * version-like tokens (`1.2.3`, `v1.2`) untouched: the matcher alternates
    * over comment and quoted segments (passed through verbatim) and
    * candidate literals, so `'1.5 hrs'` and `"v 1.5"` survive — and an
    * apostrophe inside a comment (`-- don't`) or a `--` inside a quoted
    * segment can't desync the scan and swallow the literals after it.
    */
  private def castDecimalLiterals(sql: String): String = {
    val p = java.util.regex.Pattern.compile(
      "(--[^\\n]*|/\\*(?s:.*?)\\*/|'(?:''|\\\\(?s:.)|[^'\\\\])*'|\"(?:\"\"|\\\\(?s:.)|[^\"\\\\])*\")|(?<![\\w.])(\\d+\\.\\d+)(?![\\w.])")
    val m = p.matcher(sql)
    val out = new java.lang.StringBuilder
    while (m.find()) {
      val repl =
        if (m.group(1) != null) m.group(1)
        else "CAST(" + m.group(2) + " AS DOUBLE)"
      m.appendReplacement(out, java.util.regex.Matcher.quoteReplacement(repl))
    }
    m.appendTail(out)
    out.toString
  }

  def translate(sql: String): String = {
    var s = sql
    // BigQuery types a decimal-point literal as FLOAT64; Spark's parser makes
    // it DECIMAL(p,s), which silently switches every `x / 60.0` to decimal
    // arithmetic. Coerce to double for BQ semantics.
    s = castDecimalLiterals(s)
    // first-arg pattern tolerating one level of nested parens: MAX(x), CAST(x AS DATE), …
    val arg = "([^,()]*(?:\\([^()]*\\)[^,()]*)*)"
    // TIMESTAMP_ADD(x, INTERVAL n DAY) → (x + INTERVAL n DAY)
    s = s.replaceAll(s"(?i)TIMESTAMP_ADD\\($arg,\\s*INTERVAL\\s+(\\d+)\\s+(\\w+)\\)",
      "($1 + INTERVAL $2 $3)")
    // DATE_SUB(d, INTERVAL n DAY) / DATE_ADD(d, INTERVAL n DAY)
    s = s.replaceAll(s"(?i)DATE_SUB\\($arg,\\s*INTERVAL\\s+(\\d+)\\s+(\\w+)\\)",
      "($1 - INTERVAL $2 $3)")
    s = s.replaceAll(s"(?i)DATE_ADD\\($arg,\\s*INTERVAL\\s+(\\d+)\\s+(\\w+)\\)",
      "($1 + INTERVAL $2 $3)")
    // BQ DATE_TRUNC(value, PART) → Spark date_trunc('PART', value)
    s = s.replaceAll(s"(?i)DATE_TRUNC\\($arg,\\s*(DAY|WEEK|MONTH|QUARTER|YEAR)\\)",
      "DATE_TRUNC('$2', $1)")
    // BQ bare unit identifiers as the last function argument → string literals
    // (the analyzer resolves columns before function builders run, so `DAY`
    // can only reach date_diff/datetime_diff as a literal).
    s = s.replaceAll("(?i),\\s*(DAY|WEEK|MONTH|QUARTER|YEAR|HOUR|MINUTE|SECOND)\\s*\\)", ", '$1')")
    // STRING_AGG(DISTINCT x, 'sep' ORDER BY y) → listagg(DISTINCT x, 'sep') WITHIN GROUP (ORDER BY y)
    s = s.replaceAll("(?i)STRING_AGG\\(\\s*DISTINCT\\s+([^,]+),\\s*('[^']*')\\s+ORDER\\s+BY\\s+([^)]+)\\)",
      "listagg(DISTINCT $1, $2) WITHIN GROUP (ORDER BY $3)")
    s = s.replaceAll("(?i)STRING_AGG\\(([^,]+),\\s*('[^']*')\\s+ORDER\\s+BY\\s+([^)]+)\\)",
      "listagg($1, $2) WITHIN GROUP (ORDER BY $3)")
    s
  }

  /** Convenience: translate + run. The session carries the functions
    * ([[GraftExtensions]]).
    */
  def sql(spark: SparkSession, bqSql: String): org.apache.spark.sql.DataFrame =
    spark.sql(translate(bqSql))

  /** Prepare a BigQuery `CREATE OR REPLACE VIEW` file for execution against
    * registered temp views: strip the CREATE header and trailing semicolon,
    * reduce backticked `project.dataset.table` names to the bare table name,
    * and (optionally) pin the volatile clock — `CURRENT_TIMESTAMP()` becomes
    * an injected literal so the text is reproducible under test, the same
    * clock injection the native views take via their `asOf` parameter.
    */
  def viewText(sql: String, asOf: Option[String] = None): String = {
    var s = sql
    s = s.replaceAll("(?is)CREATE\\s+OR\\s+REPLACE\\s+VIEW\\s+`[^`]+`\\s+AS", "")
    s = s.replaceAll("`[\\w.-]+\\.(\\w+)`", "$1")
    s = s.replaceAll(";\\s*$", "")
    asOf.foreach { ts =>
      s = s.replaceAll("(?i)CURRENT_TIMESTAMP\\(\\)", s"CAST('$ts' AS TIMESTAMP_NTZ)")
      s = s.replaceAll("(?i)CURRENT_DATETIME\\(\\)", s"CAST('$ts' AS TIMESTAMP_NTZ)")
      s = s.replaceAll("(?i)CURRENT_DATE\\(\\)", s"CAST('${ts.take(10)}' AS DATE)")
    }
    s
  }

  /** viewText + translate + run. */
  def runViewFile(spark: SparkSession, path: String, asOf: Option[String] = None):
      org.apache.spark.sql.DataFrame =
    sql(spark, viewText(java.nio.file.Files.readString(java.nio.file.Paths.get(path)), asOf))
}
