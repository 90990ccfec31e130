package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

object TestSpark {
  lazy val spark: SparkSession = GraftSession.session(cores = 4)
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
  /** The reference measure of `files` (root-relative) of version `v` at
    * `root`, independent of the write tasks that measured them: one plain
    * `groupBy(input_file_name)` aggregate over the files read under `v`'s
    * contract. Per non-empty file: each stats column's (min, max) of its
    * exact-long encoding (no ranges when some column is all NULL), the row
    * count, each stats column's null count, and each bloom column's bits,
    * built word by word from `pmod(xxhash64(c, seed), BloomBits)`.
    */
  def scanMeasures(root: String, v: graft.merge.Versioned.Version,
      files: Seq[String]): Map[String, graft.merge.Versioned.Measured] = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    import graft.merge.Versioned.{BloomBits, BloomHashes, BloomWords, Measured}
    val st = StructType.fromDDL(v.schema.get)
    val rootP = java.nio.file.Paths.get(root)
    val df = spark.read
      .schema(StructType(st.fields.map(f => f.copy(name = v.colMap.getOrElse(f.name, f.name)))))
      .parquet(files.map(rootP.resolve(_).toString): _*).toDF(st.fieldNames.toIndexedSeq: _*)
    def enc(c: String) = st(c).dataType match {
      case DateType => unix_date(col(c)).cast("long")
      case TimestampType => unix_micros(col(c))
      case _ => col(c).cast("long")
    }
    def word(c: String, w: Int) = bit_or((0 until BloomHashes).map { sd =>
      val p = pmod(xxhash64(col(c), lit(sd)), lit(BloomBits.toLong))
      when(floor(p / 64) === w,
        call_function("shiftleft", lit(1L), (p % 64).cast("int"))).otherwise(0L)
    }.reduce(_ bitwiseOR _))
    val aggs = count(lit(1)) +: (v.statsCols.flatMap(c =>
      Seq(min(enc(c)), max(enc(c)), count(when(col(c).isNull, 1)))) ++
      v.bloomCols.flatMap(c => (0 until BloomWords).map(word(c, _))))
    val ns = v.statsCols.length
    df.groupBy(input_file_name()).agg(aggs.head, aggs.tail: _*).collect().map { r =>
      val stats = (0 until ns).map(i =>
        (r.get(2 + 3 * i), r.get(3 + 3 * i), r.getLong(4 + 3 * i)))
      rootP.relativize(java.nio.file.Paths.get(new java.net.URI(r.getString(0)).getPath))
        .toString -> Measured(
        ranges = if (stats.exists(_._1 == null)) Nil
          else stats.map(s => (s._1.asInstanceOf[Long], s._2.asInstanceOf[Long])),
        rowCount = r.getLong(1), nullCounts = stats.map(_._3),
        blooms = v.bloomCols.zipWithIndex.map { case (c, b) =>
          c -> Vector.tabulate(BloomWords)(w => r.getLong(2 + 3 * ns + b * BloomWords + w))
        })
    }.toMap
  }
  /** Rewrite the deletion-vector sidecar at `root`-relative `sidecar` in
    * place, at the same manifest-referenced path, to the pre-compression
    * format: one `(file, pos)` row per victim, decoded from its compressed
    * rows.
    */
  def toLegacySidecar(root: String, sidecar: String): Unit = {
    import java.nio.file.{Files, Paths}
    import spark.implicits._
    val scAbs = Paths.get(root).resolve(sidecar)
    val legacy = spark.read.schema(graft.merge.Versioned.SidecarSchema).parquet(scAbs.toString)
      .collect().toSeq.flatMap(r => graft.functions.RlePositions.decodeLongs(
        r.getAs[Array[Byte]]("bits")).map(p => (r.getAs[String]("file"), p)))
    val tmp = tmpDir() + "/legacy"
    legacy.toDF("file", "pos").coalesce(1).write.parquet(tmp)
    val part = Files.list(Paths.get(tmp))
    val partFile = try part.iterator().asScala.find(_.toString.endsWith(".parquet")).get
      finally part.close()
    Files.copy(partFile, scAbs, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    // the local checksum FS keeps a .crc beside the original bytes — drop
    // the stale one or the spliced file fails checksum verification
    Files.deleteIfExists(scAbs.getParent.resolve("." + scAbs.getFileName + ".crc"))
  }
  def tmpDir(): String = {
    val d = java.nio.file.Files.createTempDirectory("graft_test").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }
}
