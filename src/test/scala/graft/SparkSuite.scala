package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  def sf(name: String): DataFrame =
    spark.read.parquet(s"/root/testdata/sf0.001/$name.parquet")
  /** Runs `f` with the given SQL confs set, then restores the old values. */
  def withSQLConf(kvs: (String, String)*)(f: => Unit): Unit = {
    val old = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try { kvs.foreach { case (k, v) => spark.conf.set(k, v) }; f }
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
  def tmpDir(): String = {
    val d = java.nio.file.Files.createTempDirectory("graft_test").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }
}
