package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

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
  /** The root SQL execution ids of the Spark jobs `f` starts, distinct, in
    * start order: one per query `f` runs, plus one per job started outside
    * any SQL execution (such as parquet schema inference).
    */
  def executionsOf(f: => Unit): Seq[String] = {
    val ids = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        ids.add(p.flatMap(p => Option(p.getProperty("spark.sql.execution.root.id")))
          .orElse(p.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))))
          .getOrElse(s"job-${e.jobId}"))
      }
    }
    org.apache.spark.graft.ListenerBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try { f; org.apache.spark.graft.ListenerBus.drain(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(l)
    ids.asScala.toSeq.distinct
  }
  /** The executed plans of the queries `f` runs, in completion order. */
  def plansOf(f: => Unit): Seq[org.apache.spark.sql.execution.SparkPlan] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.execution.SparkPlan]()
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    org.apache.spark.graft.ListenerBus.drain(spark.sparkContext)
    spark.listenerManager.register(l)
    try { f; org.apache.spark.graft.ListenerBus.drain(spark.sparkContext) }
    finally spark.listenerManager.unregister(l)
    plans.asScala.toSeq
  }
  def tmpDir(): String = {
    val d = java.nio.file.Files.createTempDirectory("graft_test").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }
}
