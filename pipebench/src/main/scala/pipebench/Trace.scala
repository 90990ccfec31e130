package pipebench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Counters one span accumulates: Spark task metrics (from the stages of
  * jobs launched while it was the innermost open span) and executed-plan
  * metrics (from the queries that finished while it was). */
final class Counts {
  var jobs = 0L; var tasks = 0L; var failedTasks = 0L
  var taskWaitMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var scanBytes = 0L; var shuffleWriteBytes = 0L; var spillBytes = 0L; var writeBytes = 0L
  var queries = 0L; var planningMs = 0L; var scanFiles = 0L; var scanRows = 0L
  var scanNodes = 0L; var broadcasts = 0L; var writeFiles = 0L; var rowsOut = 0L

  def add(o: Counts): Unit = {
    jobs += o.jobs; tasks += o.tasks; failedTasks += o.failedTasks
    taskWaitMs += o.taskWaitMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    scanBytes += o.scanBytes; shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
    writeBytes += o.writeBytes; queries += o.queries; planningMs += o.planningMs
    scanFiles += o.scanFiles; scanRows += o.scanRows; scanNodes += o.scanNodes
    broadcasts += o.broadcasts; writeFiles += o.writeFiles; rowsOut += o.rowsOut
  }
}

/** One wrapped call: name, layer, start/end, parent span and operation. */
final class Span(val id: Long, val layer: String, val name: String, val parent: Option[Span],
    val opId: Long, val startNs: Long) {
  var endNs: Long = startNs
  var childNs: Long = 0L
  var failed: Boolean = false
  val counts = new Counts
  def durNs: Long = endNs - startNs
  def selfNs: Long = durNs - childNs
}

/** Outside-in tracer. Every call into an engine layer goes through
  * [[span]]; with tracing off that is a plain call. With it on, the span is
  * pushed, its id is set as a job-local property so the stage/task
  * listener can attribute work launched under it, and the listener bus is
  * drained at both span edges so the query listener's events (which carry
  * no properties) land on the span that was innermost when they ran.
  * Spans stay in memory until the run ends. An untraced run registers no
  * listener at all. */
final class Tracer(spark: SparkSession, enabled: Boolean) {
  private val sc = spark.sparkContext
  private val Prop = "pipebench.span"
  @volatile var on: Boolean = false
  private var nextId = 0L
  private val stack = mutable.ArrayBuffer.empty[Span]
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private val byId = new java.util.concurrent.ConcurrentHashMap[Long, Span]()
  @volatile private var current: Option[Span] = None
  private var opId = 0L

  def beginOp(id: Long): Unit = opId = id

  def span[T](layer: String, name: String)(body: => T): T =
    if (!on) body
    else {
      drain()
      val s = new Span(nextId, layer, name, stack.lastOption, opId, System.nanoTime())
      nextId += 1
      byId.put(s.id, s)
      stack += s
      current = Some(s)
      sc.setLocalProperty(Prop, s.id.toString)
      try body
      catch { case e: Throwable => s.failed = true; throw e }
      finally {
        drain()
        s.endNs = System.nanoTime()
        stack.remove(stack.length - 1)
        s.parent.foreach(_.childNs += s.durNs)
        current = stack.lastOption
        sc.setLocalProperty(Prop, current.map(_.id.toString).orNull)
        spans += s
        System.err.println(f"[pipebench] span ${s.layer}.${s.name}: ${s.durNs / 1e9}%.3f s")
      }
    }

  private def drain(): Unit = org.apache.spark.pipebenchbus.ListenerBus.drain(sc)

  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Span]()
  private val stageSubmitMs = new java.util.concurrent.ConcurrentHashMap[Int, Long]()

  private val taskListener = new SparkListener {
    override def onJobStart(js: SparkListenerJobStart): Unit =
      Option(js.properties).flatMap(p => Option(p.getProperty(Prop)))
        .flatMap(id => Option(byId.get(id.toLong))).foreach { s =>
          s.counts.jobs += 1
          js.stageIds.foreach(stageSpan.put(_, s))
        }
    override def onStageSubmitted(ss: SparkListenerStageSubmitted): Unit =
      ss.stageInfo.submissionTime.foreach(t => stageSubmitMs.put(ss.stageInfo.stageId, t))
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(te.stageId)).foreach { s =>
        val c = s.counts
        c.tasks += 1
        if (!te.taskInfo.successful) c.failedTasks += 1
        Option(stageSubmitMs.get(te.stageId)).foreach(t0 => c.taskWaitMs += math.max(0L, te.taskInfo.launchTime - t0))
        Option(te.taskMetrics).foreach { m =>
          c.cpuNs += m.executorCpuTime; c.gcMs += m.jvmGCTime
          c.scanBytes += m.inputMetrics.bytesRead
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.diskBytesSpilled
          c.writeBytes += m.outputMetrics.bytesWritten
        }
      }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      current.foreach(s => Plans.record(qe, s.counts))
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  if (enabled) {
    sc.addSparkListener(taskListener)
    spark.listenerManager.register(queryListener)
  }

  /** Per-layer totals over the spans of one layer. */
  def layerCounts(layer: String): (Counts, Seq[Span]) = {
    val ss = spans.filter(_.layer == layer).toSeq
    val c = new Counts
    ss.foreach(s => c.add(s.counts))
    (c, ss)
  }
}

/** Reads the executed plan after AQE: the final stage plans, not the
  * initial ones, so scans, broadcasts and written files are what ran. */
object Plans {
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  private def metric(p: SparkPlan, name: String): Long = p.metrics.get(name).map(_.value).getOrElse(0L)

  def record(qe: QueryExecution, c: Counts): Unit = {
    val all = nodes(qe.executedPlan)
    c.queries += 1
    c.planningMs += qe.tracker.phases.values.map(_.durationMs).sum
    all.headOption.foreach { root =>
      c.rowsOut += all.find(_.metrics.contains("numOutputRows")).map(metric(_, "numOutputRows")).getOrElse(0L)
      if (root.nodeName.contains("Write") || root.nodeName.contains("Command"))
        c.writeFiles += all.filter(n => n.nodeName.contains("Write") || n.nodeName.contains("Command"))
          .map(metric(_, "numFiles")).sum
    }
    all.foreach {
      case s: FileSourceScanExec =>
        c.scanNodes += 1; c.scanFiles += metric(s, "numFiles"); c.scanRows += metric(s, "numOutputRows")
      case s: BatchScanExec =>
        c.scanNodes += 1; c.scanRows += metric(s, "numOutputRows")
      case _: BroadcastExchangeExec => c.broadcasts += 1
      case _ =>
    }
  }
}
