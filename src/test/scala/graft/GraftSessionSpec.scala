package graft

import graft.merge.Versioned
import org.apache.spark.sql.internal.SQLConf

/** The one session builder: the tests run under the conf Bench times. */
class GraftSessionSpec extends SparkSuite {

  test("the test session carries the builder's SQL confs") {
    val c = spark.sessionState.conf
    assert(c.numShufflePartitions === 4)
    assert(c.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE) === 64L * 1024)
    assert(c.filesMaxPartitionBytes === 4L * 1024 * 1024)
    assert(c.sessionLocalTimeZone === "UTC")
    assert(c.getConf(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG))
  }

  test("the dialect and engine functions resolve with no register call") {
    val r = spark.sql("SELECT safe_divide(1, 0) AS z, bpe_token_count('hello world') AS n").head()
    assert(r.isNullAt(0))
    assert(r.getLong(1) > 0L)
    // the dialect's date_diff keeps Spark's own two-argument form
    val d = spark.sql("SELECT date_diff(DATE '2024-01-10', DATE '2024-01-03') AS d, " +
      "date_diff(DATE '2024-01-10', DATE '2024-01-03', 'DAY') AS b").head()
    assert(d.getInt(0) === 7 && d.getInt(1) === 7)
  }

  test("graft.`<root>` resolves with no catalog conf.set") {
    import spark.implicits._
    val root = tmpDir() + "/t"
    Versioned.append((1L to 5L).toDF("k"), root)
    assert(spark.sql(s"SELECT count(*) FROM graft.`$root`").as[Long].head() === 5L)
  }

  test("SPARK_GRAFT_CPUS must be a positive integer") {
    assert(GraftSession.parseCores(" 8 ") === 8)
    Seq("0", "-2", "x", "").foreach { bad =>
      val e = intercept[IllegalArgumentException](GraftSession.parseCores(bad))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), e.getMessage)
    }
  }
}
