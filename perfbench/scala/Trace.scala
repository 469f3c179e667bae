package graftbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Span recorder for the traced run. Each call the harness makes into a
  * graft module is wrapped in a span (name, start, end, parent, request
  * id); the span id travels to Spark as a local property, so every job,
  * stage and task that call launches is attributed to it exactly. Spans
  * and task records stay in memory and are written once, at the end of
  * the run. With tracing off, `span` is a plain call. */
object Trace {
  val Prop = "graftbench.span"

  final class Span(val id: Int, val name: String, val parent: Int, val req: Int,
      val start: Long) {
    var end = 0L
    val attrs = mutable.LinkedHashMap.empty[String, Double]
  }

  final case class TaskRec(span: Int, stage: Int, launchMs: Long, finishMs: Long,
      cpuNs: Long, shuffleRead: Long, shuffleWrite: Long, spill: Long,
      gcMs: Long, input: Long, output: Long)

  @volatile private var on = false
  private var sc: SparkContext = _
  private val spans = ArrayBuffer.empty[Span]
  private val current = new ThreadLocal[Span]
  private var lastId = 0
  private var lastReq = 0
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()

  // Written from the listener-bus thread, read after `drain`.
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private val jobs = ArrayBuffer.empty[(Int, Int)]
  private val stages = ArrayBuffer.empty[(Int, Int)]
  private val tasks = ArrayBuffer.empty[TaskRec]
  private val phases = ArrayBuffer.empty[(String, Long, Long)]

  def enabled: Boolean = on

  /** Wall clock in epoch nanoseconds, monotonic within the run. */
  def nowNs(): Long = baseMs * 1000000L + (System.nanoTime() - baseNs)

  def install(spark: SparkSession): Unit = {
    sc = spark.sparkContext
    sc.addSparkListener(new Listener)
    spark.listenerManager.register(new PhaseListener)
    on = true
  }

  /** Run `body` as a new request: a root span with a fresh request id. */
  def request[T](name: String)(body: => T): T = {
    val saved = current.get
    current.set(null)
    try span(name)(body) finally current.set(saved)
  }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val parent = current.get
      val s = synchronized {
        lastId += 1
        val req = if (parent == null) { lastReq += 1; lastReq } else parent.req
        val s = new Span(lastId, name, if (parent == null) 0 else parent.id, req, nowNs())
        spans += s
        s
      }
      current.set(s)
      sc.setLocalProperty(Prop, s.id.toString)
      try body
      finally {
        s.end = nowNs()
        current.set(parent)
        sc.setLocalProperty(Prop, if (parent == null) null else parent.id.toString)
      }
    }

  /** Attach a measured count to the innermost open span. */
  def attr(key: String, value: Double): Unit =
    if (on) Option(current.get).foreach(_.attrs(key) = value)

  /** Every physical node of an executed plan, through adaptive and query
    * stages, subqueries and the plans that built cached relations. */
  def planNodes(df: DataFrame): Seq[SparkPlan] = {
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case r: ReusedExchangeExec => walk(r.child)
      case s: InMemoryTableScanExec => s +: walk(s.relation.cachedPlan)
      case other => other +: (other.children ++ other.subqueries).flatMap(walk)
    }
    walk(df.queryExecution.executedPlan)
  }

  def rows(node: SparkPlan): Long =
    node.metrics.get("numOutputRows").map(_.value).getOrElse(0L)

  private def spanOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(Prop))).map(_.toInt).getOrElse(0)

  private class Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.synchronized {
      jobs += ((e.jobId, spanOf(e.properties)))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Trace.synchronized {
      stageSpan(e.stageInfo.stageId) = spanOf(e.properties)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Trace.synchronized {
      stages += ((e.stageInfo.stageId, stageSpan.getOrElse(e.stageInfo.stageId, 0)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.synchronized {
      val m = e.taskMetrics
      if (m != null) tasks += TaskRec(stageSpan.getOrElse(e.stageId, 0), e.stageId,
        e.taskInfo.launchTime, e.taskInfo.finishTime, m.executorCpuTime,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.diskBytesSpilled, m.jvmGCTime, m.inputMetrics.bytesRead,
        m.outputMetrics.bytesWritten)
    }
  }

  /** Catalyst phase times of every executed query, read from
    * `QueryExecution.tracker`; attributed to spans by time afterwards. */
  private class PhaseListener extends QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = Trace.synchronized {
      qe.tracker.phases.foreach { case (name, p) => phases += ((name, p.startTimeMs, p.endTimeMs)) }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  /** Wait for the listener bus, then serialize everything recorded. */
  def dump(): Map[String, Any] = {
    if (!on) return Map.empty
    org.apache.spark.graftbench.Bus.drain(sc)
    Trace.synchronized {
      Map(
        "spans" -> spans.map(s => Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
          "req" -> s.req, "start_ns" -> s.start, "end_ns" -> s.end, "attrs" -> s.attrs.toMap)).toSeq,
        "jobs" -> jobs.map { case (j, s) => Seq(j, s) }.toSeq,
        "stages" -> stages.map { case (st, s) => Seq(st, s) }.toSeq,
        "tasks" -> tasks.map(t => Seq(t.span, t.stage, t.launchMs, t.finishMs, t.cpuNs,
          t.shuffleRead, t.shuffleWrite, t.spill, t.gcMs, t.input, t.output)).toSeq,
        "task_fields" -> Seq("span", "stage", "launch_ms", "finish_ms", "cpu_ns",
          "shuffle_read", "shuffle_write", "spill", "gc_ms", "input", "output"),
        "phases" -> phases.map { case (n, a, b) => Seq(n, a, b) }.toSeq)
    }
  }
}
