package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1)
    // Optional third arg (dev only; the driver passes two): a comma-separated
    // allowlist of query names — dump/compare just those while iterating.
    val only: Option[Set[String]] = args.drop(2).headOption.map(_.split(',').toSet)
    // the session Bench times, so the verified plans are the timed ones
    val spark = GraftSession.session()
    new java.io.File(outDir).mkdirs()
    // Domain fixtures → parquet at a fixed path, so the ref_* domain-view
    // oracles (queries/DomainOracles.scala) can read the exact same inputs
    // from DuckDB via read_parquet(). FixtureGen is seed-fixed, so the dump
    // is identical on every run. Kept OUTSIDE outDir: the compare harness
    // treats every outDir subdirectory as a query result.
    locally {
      import graft.sources.FixtureGen
      Seq(
        "time_entries" -> FixtureGen.timeEntries(spark),
        "work_item_details" -> FixtureGen.workItemDetails(spark),
        "budget_vs_actual" -> FixtureGen.budgetVsActual(spark),
        "productivity_repeats" -> FixtureGen.productivityRepeats(spark),
        "client_group_dim" -> FixtureGen.clientGroupDimension(spark),
        "client_dim" -> FixtureGen.clientDimension(spark),
        "tenant_team_dim" -> FixtureGen.tenantTeamDimension(spark),
        "tenant_team_member_dim" -> FixtureGen.tenantTeamMemberDimension(spark),
        "user_dim" -> FixtureGen.userDimension(spark)
      ).foreach { case (name, df) =>
        df.coalesce(1).write.mode("overwrite")
          .parquet(s"${graft.queries.DomainOracles.FixturesDir}/$name")
      }
      // Oracle side-dumps for the xxhash64/driver-fit pipelines (dd2/dd3/
      // ann2 signatures, x4b fitted forest) — see queries/OracleDumps.scala.
      graft.queries.OracleDumps.writeAll(spark, sfDir)
    }
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
