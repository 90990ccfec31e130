package pipebench

import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import scala.collection.mutable

/** The benchmark's JVM side. One process, one client thread, closed loop:
  * generate inputs, set up (repeated [[SetupReps]] times, median reported),
  * warm up, then run operations back to back until `--seconds` have passed
  * and the workload's mix cycle is complete, checking each output outside
  * its timed span. Prints one JSON object as its last line:
  * the result, the environment stamp and (with `--trace 1`) the spans.
  *
  * usage: pipebench.Main --workload W --seed N --seconds S --trace 0|1 --work DIR
  */
object Main {
  val SetupReps = 2
  val Workloads = Seq("nightly_batch", "table_log_dml")
  val Layers = Seq("sync", "merge", "views", "quality", "versioned")
  val ViewNames = Seq("domain_latest", "domain_corrected", "domain_v4", "domain_v5", "domain_v5_fallback")
  val VersionedOps = Seq("append", "merge", "delete_dv", "read_where", "read_as_of", "purge")

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val work = a("work")
    val cpus = Runtime.getRuntime.availableProcessors()

    val conf = Seq(
      "spark.master" -> s"local[$cpus]",
      "spark.sql.shuffle.partitions" -> cpus.toString,
      // graft.Bench's session: AQE 64k coalesce floor, 4m scan splits, UTC
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "64k",
      "spark.sql.files.maxPartitionBytes" -> "4m",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.local.dir" -> s"$work/spark-local",
      "spark.sql.warehouse.dir" -> s"$work/warehouse")
    val spark = conf.foldLeft(SparkSession.builder())((b, kv) => b.config(kv._1, kv._2)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    val tracer = new Tracer(spark, trace)
    val w: Workload = workload match {
      case "nightly_batch" => new Nightly(spark, tracer, work, seed)
      case "table_log_dml" => new TableLog(spark, tracer, work, seed)
    }

    val g0 = System.nanoTime()
    w.generate()
    val genS = (System.nanoTime() - g0) / 1e9
    val prepS = (1 to SetupReps).map { r =>
      val t0 = System.nanoTime(); w.prepare(r); val s = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[pipebench] set-up $r: $s%.2f s"); s
    }
    val t0 = System.nanoTime()
    w.warmup()
    val warmS = (System.nanoTime() - t0) / 1e9
    // the warm-up's operations are not timed, so nothing they moved counts
    w.rowsMoved = 0L
    w.extra.clear()
    System.err.println(f"[pipebench] warm-up: $warmS%.2f s")
    val setupS = sessionS + genS + Stats.median(prepS) + warmS
    val heapSetup = if (trace) Jvm.heapAfterGcMb() else 0.0

    // timed loop; with tracing on, every other mix cycle is traced, so the
    // untraced cycles in between (same mix) measure the tracing overhead
    val durs = mutable.ArrayBuffer.empty[(Double, Boolean)]
    var cpuS = 0.0
    var failed = 0
    var attempted = 0
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val cycle = if (trace) 2 * w.cycle else w.cycle
    var spaceAmp = Double.NaN
    var i = 0
    while ((System.nanoTime() < deadline || i % cycle != 0) && !w.exhausted) {
      val tracedOp = trace && (i / w.cycle) % 2 == 0
      tracer.on = tracedOp
      tracer.beginOp(i)
      attempted += 1
      val c0 = Jvm.cpuNs(); val s0 = System.nanoTime()
      val check =
        try Some(tracer.span("bench", "op")(w.op(i)))
        catch { case e: Exception => System.err.println(s"[pipebench] op $i failed: $e"); None }
      val dur = (System.nanoTime() - s0) / 1e9
      cpuS += (Jvm.cpuNs() - c0) / 1e9
      tracer.on = false
      durs += ((dur, tracedOp))
      System.err.println(f"[pipebench] op $i: $dur%.3f s")
      val k0 = System.nanoTime()
      val ok = check.exists { f =>
        try f() catch { case e: Exception => System.err.println(s"[pipebench] check $i failed: $e"); false }
      }
      if (!ok) failed += 1
      i += 1
      if (!trace && i == w.cycle) spaceAmp = w.spaceAmp()
      if (i % w.cycle == 0) System.err.println(f"[pipebench] checks to op $i: ${(System.nanoTime() - k0) / 1e9}%.2f s")
    }
    val f0 = System.nanoTime()
    if (!trace && spaceAmp.isNaN) spaceAmp = w.spaceAmp()
    val f1 = System.nanoTime()
    val finished = try w.finish() catch {
      case e: Exception => System.err.println(s"[pipebench] final check failed: $e"); false
    }
    System.err.println(f"[pipebench] space amp ${(f1 - f0) / 1e9}%.2f s, final check ${(System.nanoTime() - f1) / 1e9}%.2f s")
    if (!finished) failed = math.min(attempted, failed + 1)

    val all = durs.map(_._1).toSeq
    val heapEnd = Jvm.heapAfterGcMb()
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (!trace) {
      metrics("setup_s") = (setupS, "s")
      metrics("ops_per_s") = (all.size / all.sum, "1/s")
      metrics("op_s_p50") = (Stats.median(all), "s")
      metrics("op_s_p75") = (Stats.quantile(all, 0.75), "s")
      metrics("rows_per_s") = (w.rowsMoved / all.sum, "rows/s")
      metrics("cpu_s_per_op") = (cpuS / all.size, "s")
      metrics("heap_retained_mb") = (heapEnd, "MB")
      metrics("space_amp") = (spaceAmp, "ratio")
    } else layerMetrics(tracer, w, durs.toSeq, heapEnd - heapSetup).foreach(kv => metrics += kv)

    val stamp = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "nproc" -> cpus, "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "spark_version" -> spark.version, "jdk" -> System.getProperty("java.version"),
      "session_conf" -> conf.toMap, "generate_s" -> genS, "setup_reps_s" -> prepS, "session_s" -> sessionS, "warmup_s" -> warmS,
      "inputs" -> w.inputs(), "ops" -> all.size)
    val result = Map(
      "correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) })
    val spans = tracer.spans.map(s => Map("id" -> s.id, "name" -> s.name, "layer" -> s.layer,
      "parent" -> s.parent.map(_.id), "op" -> s.opId, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
      "failed" -> s.failed))
    println(Json(Map("result" -> result, "stamp" -> stamp, "spans" -> spans)))
    spark.stop()
  }

  private def layerMetrics(tracer: Tracer, w: Workload, durs: Seq[(Double, Boolean)],
      heapGrowthMb: Double): Seq[(String, (Double, String))] = {
    val out = mutable.ArrayBuffer.empty[(String, (Double, String))]
    def put[N](k: String, v: N, unit: String)(implicit num: Numeric[N]): Unit =
      out += (k -> (num.toDouble(v), unit))
    var layerSelf = 0.0
    Layers.foreach { l =>
      val (c, ss) = tracer.layerCounts(l)
      val self = ss.map(_.selfNs).sum / 1e9
      layerSelf += self
      put(s"$l.calls", ss.size, "count"); put(s"$l.self_s", self, "s")
      put(s"$l.task_wait_s", c.taskWaitMs / 1e3, "s")
      put(s"$l.failed", ss.count(_.failed) + c.failedTasks, "count")
      put(s"$l.jobs", c.jobs, "count"); put(s"$l.tasks", c.tasks, "count")
      put(s"$l.executor_cpu_s", c.cpuNs / 1e9, "s"); put(s"$l.gc_s", c.gcMs / 1e3, "s")
      put(s"$l.planning_s", c.planningMs / 1e3, "s"); put(s"$l.scan_bytes", c.scanBytes, "bytes")
      put(s"$l.scan_files", c.scanFiles, "count"); put(s"$l.shuffle_write_bytes", c.shuffleWriteBytes, "bytes")
      put(s"$l.spill_bytes", c.spillBytes, "bytes"); put(s"$l.write_bytes", c.writeBytes, "bytes")
      put(s"$l.write_files", c.writeFiles, "count"); put(s"$l.rows_out", c.rowsOut, "rows")
    }
    val (sync, _) = tracer.layerCounts("sync")
    put("sync.rows_synced", w.extra("sync.rows_synced"), "rows")
    put("sync.read_amp", ratio(sync.scanBytes, w.extra("sync.increment_bytes")), "ratio")
    val (views, viewSpans) = tracer.layerCounts("views")
    ViewNames.foreach { v =>
      put(s"views.$v.s_p50", Stats.median(viewSpans.filter(_.name == v).map(_.durNs / 1e9)), "s")
    }
    put("views.scan_nodes", ratio(views.scanNodes, views.queries), "count")
    put("views.broadcasts", ratio(views.broadcasts, views.queries), "count")
    val (_, vSpans) = tracer.layerCounts("versioned")
    VersionedOps.foreach { o =>
      put(s"versioned.$o.s_p50", Stats.median(vSpans.filter(_.name == o).map(_.durNs / 1e9)), "s")
    }
    put("versioned.log_bytes", w.extra("versioned.log_bytes"), "bytes")
    val readScanned = vSpans.filter(_.name.startsWith("read_")).map(_.counts.scanRows).sum
    put("versioned.rows_returned_per_row_scanned", ratio(w.extra("versioned.rows_returned"), readScanned), "ratio")
    val roots = tracer.spans.filter(_.layer == "bench")
    val opWall = roots.map(_.durNs).sum / 1e9
    put("bench.other_s", roots.map(_.selfNs).sum / 1e9, "s")
    put("bench.layer_self_share", ratio(layerSelf, opWall), "ratio")
    val (on, off) = durs.partition(_._2)
    put("bench.traced_ops", on.size, "count")
    put("bench.trace_overhead_op_s_p50", ratio(Stats.median(on.map(_._1)), Stats.median(off.map(_._1))), "ratio")
    put("bench.trace_overhead_ops_per_s",
      ratio(on.size / on.map(_._1).sum, off.size / off.map(_._1).sum), "ratio")
    put("bench.heap_growth_mb", heapGrowthMb, "MB")
    out.toSeq
  }

  private def ratio[A, B](a: A, b: B)(implicit na: Numeric[A], nb: Numeric[B]): Double =
    if (nb.toDouble(b) > 0) na.toDouble(a) / nb.toDouble(b) else 0.0
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear interpolation between closest ranks; 0 for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt; val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNs(): Long = os.getProcessCpuTime
  /** Heap in use after full GCs. Spark's context cleaner drops broadcast
    * and shuffle state asynchronously once a GC frees their handles, so
    * collect, let it run, and collect again until the reading settles. */
  def heapAfterGcMb(): Double = {
    def used(): Long = {
      System.gc(); Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
    var prev = used(); var cur = used(); var rounds = 0
    while (math.abs(cur - prev) > (1L << 20) && rounds < 5) { prev = cur; cur = used(); rounds += 1 }
    cur / 1048576.0
  }
}

/** JSON text of nested Scala maps, sequences, options and primitives. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  def apply(v: Any): String = mapper.writeValueAsString(v)
}
