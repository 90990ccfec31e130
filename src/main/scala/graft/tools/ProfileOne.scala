package graft.tools

/** The profiler: run one registered query N times in a clean JVM under
  * the session Bench times, printing per-stage and per-job metrics and wall
  * times, then (on request) the formatted plan (`explain`), the simple plan
  * with its codegen spans (`simple`) or the AQE-final plan (`finalplan`).
  * For CPU profiles, run it under JFR. Not part of the library surface.
  *
  * usage: runMain graft.tools.ProfileOne <query> [n] [explain|simple|finalplan]
  */
object ProfileOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val n = if (args.length > 1) args(1).toInt else 2
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.session()
    // SPARK_GRAFT_EXTRA="k=v;k=v": SQL conf overrides on the built session,
    // for experiments (e.g. spark.sql.shuffle.partitions)
    sys.env.get("SPARK_GRAFT_EXTRA").toSeq.flatMap(_.split(";")).map(_.split("=", 2))
      .foreach { case Array(k, v) => spark.conf.set(k, v); case _ => () }
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val m = si.taskMetrics
        val wall = (for (s <- si.submissionTime; c <- si.completionTime) yield (c - s) / 1e3)
          .getOrElse(-1.0)
        println(f"[stage] ${si.stageId}%3d ${si.numTasks}%4d tasks wall=$wall%6.2fs " +
          f"exec=${m.executorRunTime / 1e3}%8.1fs cpu=${m.executorCpuTime / 1e9}%8.1fs " +
          f"gc=${m.jvmGCTime / 1e3}%6.1fs " +
          f"in=${m.inputMetrics.bytesRead / 1e6}%8.1fMB " +
          f"sr=${m.shuffleReadMetrics.totalBytesRead / 1e6}%8.1fMB " +
          f"sw=${m.shuffleWriteMetrics.bytesWritten / 1e6}%8.1fMB " +
          f"spill=${m.memoryBytesSpilled / 1e6}%8.1fMB  ${si.name.take(60)}")
      }
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobStart.put(js.jobId, js.time)
      override def onJobEnd(je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        val t0 = Option(jobStart.remove(je.jobId)).getOrElse(je.time)
        println(f"[job] ${je.jobId}%4d wall=${(je.time - t0) / 1e3}%6.2fs")
      }
    })
    val fn = graft.SparkEntry.queries(name)
    (1 to n).foreach { i =>
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      println(f"[profile] $name run $i: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      // same inter-measurement isolation as Bench
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      spark.sqlContext.clearCache()
      System.gc()
    }
    if (args.contains("explain")) fn(spark, sfDir).explain("formatted")
    if (args.contains("simple")) fn(spark, sfDir).explain() // shows codegen '*' spans
    // AQE-FINAL plan: the static explain above shows the pre-runtime plan
    // (e.g. an SMJ that AQE converts to broadcast once the build side's
    // runtime size is known). Execute THIS DataFrame's own plan (foreach —
    // a write would build a separate QueryExecution) and print the
    // finalized adaptive plan; fingerprint audits must say which of the
    // two views they counted.
    if (args.contains("finalplan")) {
      val df = fn(spark, sfDir)
      df.foreach(_ => ())
      println("[finalplan]\n" + df.queryExecution.executedPlan.toString)
    }
    spark.stop()
  }
}
