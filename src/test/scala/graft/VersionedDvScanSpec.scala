package graft

import graft.merge.Versioned
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deletion vectors apply inside each file's scan: every read of a
  * vector-carrying file is one Spark job with no join and no broadcast,
  * whichever sidecar generation recorded the victims, and the driver never
  * opens a sidecar while it plans.
  */
class VersionedDvScanSpec extends SparkSuite {
  import spark.implicits._

  /** 100 rows in 4 range-clustered files; the vectors of `k % 10 = 0` come
    * from a legacy sidecar, those of `k % 7 = 0` from a compressed one. */
  private def mixed(): String = {
    val root = tmpDir() + "/t"
    Versioned.appendWithStats((1L to 100L).map(k => (k, k * 10.0, s"r$k"))
      .toDF("k", "price", "tag").repartitionByRange(4, col("k")), root, "k")
    val v2 = Versioned.deleteWhereDV(spark, root, col("k") % 10 === 0L)
    toLegacySidecar(root, v2.dvs.valuesIterator.flatten.map(_._1).toSeq.distinct.head)
    Versioned.deleteWhereDV(spark, root, col("k") % 7 === 0L)
    root
  }

  private val alive = (1L to 100L).filterNot(k => k % 10 == 0 || k % 7 == 0)

  private def keys(df: DataFrame): Seq[Long] = df.select("k").as[Long].collect().toSeq.sorted

  /** The Spark jobs `f` starts. */
  private def jobsOf(f: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    org.apache.spark.graft.ListenerBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try { f; org.apache.spark.graft.ListenerBus.drain(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(l)
    n.get
  }

  test("reads over legacy and compressed vectors serve today's rows, one job each, no broadcast") {
    val root = mixed()
    val v = Versioned.currentVersion(root).get
    assert(v.dvs.valuesIterator.exists(_.length == 2), "some file carries both sidecars")
    val reads: Seq[(String, DataFrame, Seq[Long])] = Seq(
      ("read", Versioned.read(spark, root), alive),
      ("readWhere", Versioned.readWhere(spark, root, col("k") > 50L), alive.filter(_ > 50L)),
      ("table", Versioned.table(spark, root).filter(col("k").between(20L, 60L)),
        alive.filter(k => k >= 20L && k <= 60L)),
      ("time travel", Versioned.read(spark, root, asOf = Some(2)),
        (1L to 100L).filterNot(_ % 10 == 0)))
    reads.foreach { case (name, df, expected) =>
      var got = Seq.empty[Long]
      assert(jobsOf { got = keys(df) } === 1, s"$name runs one job")
      assert(got === expected, name)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastExchange") && !plan.contains("Join"),
        s"$name:\n${plan.take(1500)}")
    }
    // SQL over the native relation
    Versioned.table(spark, root).createOrReplaceTempView("dv_scan_t")
    assert(spark.sql("SELECT k FROM dv_scan_t WHERE k BETWEEN 20 AND 60").as[Long]
      .collect().toSeq.sorted === alive.filter(k => k >= 20L && k <= 60L))
    assert(spark.sql("SELECT count(*) FROM dv_scan_t").as[Long].head() === alive.length.toLong)
    // CDC: each dv commit surfaces exactly its own victims as deletes
    def deleted(from: Int, to: Int): Seq[Long] = keys(Versioned.changes(spark, root, from, to)
      .filter(col("change_type") === "delete"))
    assert(deleted(1, 2) === (1L to 100L).filter(_ % 10 == 0))
    assert(deleted(2, 3) === (1L to 100L).filter(k => k % 7 == 0 && k % 10 != 0))
    assert(Versioned.changes(spark, root, 1, 3).filter(col("change_type") === "insert")
      .isEmpty)
  }

  test("dv DML over legacy and compressed vectors: a repeated delete is a no-op, update-dv applies") {
    val root = mixed()
    val v3 = Versioned.currentVersion(root).get
    // the same rows again: every victim is already deleted, nothing commits
    assert(Versioned.deleteWhereDV(spark, root, col("k") % 7 === 0L).n === v3.n)
    assert(Versioned.deleteWhereDV(spark, root, col("k") % 10 === 0L).n === v3.n)
    assert(keys(Versioned.read(spark, root)) === alive)
    val v4 = Versioned.updateWhereDV(spark, root, col("k").between(40L, 45L),
      Map("tag" -> lit("U")))
    assert(v4.n === v3.n + 1)
    val got = Versioned.read(spark, root).select("k", "tag").as[(Long, String)].collect().toMap
    assert(got.keySet === alive.toSet)
    alive.foreach(k => assert(got(k) === (if (k >= 40L && k <= 45L) "U" else s"r$k"), k))
    // purge folds both generations of vectors into clean files
    Versioned.purgeDeletes(spark, root)
    assert(Versioned.currentVersion(root).get.dvs.isEmpty)
    assert(Versioned.read(spark, root).select("k", "tag").as[(Long, String)].collect().toMap
      === got)
  }

  test("planning a vector-carrying read opens no sidecar; running it does") {
    val root = mixed()
    val before = Versioned.dvSidecarLoads.get()
    val df = Versioned.readWhere(spark, root, col("k") > 10L)
    df.queryExecution.executedPlan
    assert(df.queryExecution.toRdd.partitions.nonEmpty)
    assert(Versioned.dvSidecarLoads.get() === before,
      "planning a vector-carrying read must not open a sidecar on the driver")
    assert(keys(df) === alive.filter(_ > 10L))
    assert(Versioned.dvSidecarLoads.get() > before, "the scan's tasks load the sidecars")
  }
}
