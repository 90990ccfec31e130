package graft

import graft.merge.Versioned
import org.apache.spark.sql.functions._

/** VT29: the TableCatalog SQL surface — versioned tables addressed by root
  * path in plain SQL, with SQL-native time travel and guarded INSERT INTO.
  * The session registers the catalog (`GraftSession`).
  */
class GraftCatalogSpec extends SparkSuite {

  private def mk(root: String): Unit = {
    import spark.implicits._
    Versioned.appendWithStats(
      (1L to 100L).map(k => (k, k * 10.0)).toDF("k", "price")
        .repartitionByRange(4, col("k")), root, "k")
  }

  test("SELECT over the catalog serves the head snapshot with DVs applied") {
    import spark.implicits._
    val root = tmpDir() + "/t"
    mk(root)
    Versioned.deleteWhereDV(spark, root, col("k") === 42L)
    val got = spark.sql(s"SELECT k FROM graft.`$root` WHERE k BETWEEN 40 AND 45")
      .as[Long].collect().sorted
    assert(got === Array(40L, 41L, 43L, 44L, 45L))
  }

  test("SQL time travel: VERSION AS OF and TIMESTAMP AS OF") {
    import spark.implicits._
    val root = tmpDir() + "/t"
    mk(root)
    val ts1 = Versioned.currentVersion(root).get.ts
    Versioned.append(Seq((101L, 1.0)).toDF("k", "price"), root)
    assert(spark.sql(s"SELECT count(*) FROM graft.`$root`").as[Long].head() === 101L)
    assert(spark.sql(s"SELECT count(*) FROM graft.`$root` VERSION AS OF 1")
      .as[Long].head() === 100L)
    // TIMESTAMP AS OF takes a literal; Spark hands the catalog micros
    val lit1 = java.time.Instant.ofEpochMilli(ts1).toString
    assert(spark.sql(
      s"SELECT count(*) FROM graft.`$root` TIMESTAMP AS OF '$lit1'")
      .as[Long].head() === 100L)
  }

  test("INSERT INTO routes the guarded append; constraints refuse through SQL") {
    import spark.implicits._
    val root = tmpDir() + "/t"
    mk(root)
    Versioned.addConstraint(spark, root, "price_pos", "price > 0")
    spark.sql(s"INSERT INTO graft.`$root` VALUES (101, 1010.0)")
    assert(Versioned.read(spark, root).count() === 101L)
    // stats maintenance rides the SQL insert too
    val v = Versioned.currentVersion(root).get
    assert(v.files.forall(v.stats.contains))
    intercept[Exception] {
      spark.sql(s"INSERT INTO graft.`$root` VALUES (102, -5.0)")
    }
    assert(Versioned.read(spark, root).count() === 101L)
  }

  test("filters over the catalog still prune files at planning time") {
    val root = tmpDir() + "/t"
    mk(root)
    val q = spark.sql(s"SELECT k FROM graft.`$root` WHERE k BETWEEN 5 AND 8")
    assert(q.count() === 4L)
    val planned = q.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.partitions.length
    }.sum
    assert(planned === 1, s"one of 4 files planned, got $planned")
  }

  test("a missing table raises NoSuchTable; DDL points at the library API") {
    intercept[Exception] { spark.sql("SELECT * FROM graft.`/nonexistent/t`") }
    val root = tmpDir() + "/t"
    mk(root)
    val e = intercept[UnsupportedOperationException] {
      spark.sql(s"DROP TABLE graft.`$root`")
    }
    assert(e.getMessage.contains("vacuum"))
  }
}
