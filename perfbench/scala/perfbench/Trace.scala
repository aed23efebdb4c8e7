package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.BenchAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed region around a call into a layer. Counters are exclusive
  * (jobs that ran while this span was the innermost one); `inclusive`
  * adds the children. */
final class Span(val id: Int, val name: String, val parent: Option[Span],
                 val iter: Int) {
  val startNs: Long = System.nanoTime()
  val startMs: Long = System.currentTimeMillis()
  var endNs: Long = 0L
  var endMs: Long = 0L
  val children = mutable.ArrayBuffer[Span]()
  private val counters = mutable.LinkedHashMap[String, Double]()

  def end(): Unit = { endNs = System.nanoTime(); endMs = System.currentTimeMillis() }
  def seconds: Double = (endNs - startNs) / 1e9
  def selfSeconds: Double = seconds - children.map(_.seconds).sum

  def add(k: String, v: Double): Unit = synchronized {
    counters(k) = counters.getOrElse(k, 0.0) + v
  }
  def max(k: String, v: Double): Unit = synchronized {
    counters(k) = math.max(counters.getOrElse(k, 0.0), v)
  }
  def own: Map[String, Double] = synchronized(counters.toMap)

  /** Counters of this span and all its descendants (maxima for peaks). */
  def inclusive: Map[String, Double] =
    children.map(_.inclusive).foldLeft(own) { (acc, m) =>
      m.foldLeft(acc) { case (a, (k, v)) =>
        a.updated(k, if (k.startsWith("peak")) math.max(a.getOrElse(k, 0.0), v)
                     else a.getOrElse(k, 0.0) + v)
      }
    }
  def apply(k: String): Double = inclusive.getOrElse(k, 0.0)

  def toJson: String = Json.obj(Seq(
    "id" -> id, "name" -> name, "parent" -> parent.map(_.id).getOrElse(-1),
    "iter" -> iter, "start_ms" -> startMs, "end_ms" -> endMs,
    "seconds" -> seconds, "self_seconds" -> selfSeconds,
    "counters" -> Json.RawJson(Json.obj(own.toSeq.sortBy(_._1)))))
}

/** A finished query execution as the [[PlanListener]] saw it. */
final case class PlanEvent(funcName: String, atMs: Long, analysisS: Double,
                           optimizationS: Double, planningS: Double,
                           writeColumns: Option[Seq[String]])

object PlanEvent {
  private def phase(qe: QueryExecution, name: String): Double =
    qe.tracker.phases.get(name).map(_.durationMs / 1e3).getOrElse(0.0)

  /** Output of the first plan node that has one (a v1 write's direct
    * child is `WriteFiles`, which outputs nothing). */
  private def produced(p: SparkPlan): Seq[String] =
    if (p.output.isEmpty && p.children.size == 1) produced(p.children.head)
    else p.output.map(_.name)

  /** Columns the sink node of an executed write plan receives. */
  def writeColumns(plan: SparkPlan): Option[Seq[String]] = plan match {
    case w: V2TableWriteExec => Some(produced(w.query))
    case d: DataWritingCommandExec => Some(produced(d.child))
    case a: AdaptiveSparkPlanExec => writeColumns(a.executedPlan)
    case q: QueryStageExec => writeColumns(q.plan)
    case other =>
      other.children.iterator.map(writeColumns).collectFirst { case Some(c) => c }
  }

  def apply(funcName: String, qe: QueryExecution): PlanEvent = {
    val at = qe.tracker.phases.get("planning").map(_.endTimeMs)
      .getOrElse(System.currentTimeMillis())
    val cols = try writeColumns(qe.executedPlan) catch { case _: Throwable => None }
    PlanEvent(funcName, at, phase(qe, "analysis"), phase(qe, "optimization"),
      phase(qe, "planning"), cols)
  }
}

final class PlanListener extends QueryExecutionListener {
  val events = new ConcurrentLinkedQueue[PlanEvent]()
  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit =
    events.add(PlanEvent(funcName, qe))
  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit =
    events.add(PlanEvent(funcName, qe))
  def all: Seq[PlanEvent] = events.asScala.toSeq
}

/** Task and stage counters routed to spans by job group, plus the
  * run-wide maximum task `peakExecutionMemory`. */
final class SpanListener(spanOf: String => Option[Span]) extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  @volatile var peakTaskMemBytes: Long = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    group.flatMap(spanOf).foreach { s =>
      s.add("jobs", 1)
      e.stageIds.foreach(id => stageSpan.put(id, s))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = stageSpan.get(e.stageInfo.stageId)
    val m = e.stageInfo.taskMetrics
    if (s != null && m != null) {
      s.add("stages", 1)
      s.add("task_cpu_s", m.executorCpuTime / 1e9)
      s.add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      s.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      s.add("spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      s.add("gc_s", m.jvmGCTime / 1e3)
      s.add("input_bytes", m.inputMetrics.bytesRead.toDouble)
      s.add("output_bytes", m.outputMetrics.bytesWritten.toDouble)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val peak = m.peakExecutionMemory
      if (peak > peakTaskMemBytes) peakTaskMemBytes = peak
      val s = stageSpan.get(e.stageId)
      if (s != null) s.max("peak_task_mem_bytes", peak.toDouble)
    }
  }
}

/** Spans around the benchmark's calls into each layer, held in memory
  * and written out when the run ends. Disabled, `span` only runs its
  * body: no job groups, no bookkeeping. */
final class Tracer(spark: SparkSession, var enabled: Boolean) {
  private val Prefix = "perfbench-span-"
  private val sc = spark.sparkContext
  private val byGroup = new ConcurrentHashMap[String, Span]()
  private var stack: List[Span] = Nil
  private var nextId = 0
  val spans = mutable.ArrayBuffer[Span]()
  var iter = 0

  val listener = new SpanListener(g => Option(byGroup.get(g)))
  val plans = new PlanListener

  def attach(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(plans)
  }
  def detach(): Unit = {
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(plans)
  }
  def drain(): Unit = BenchAccess.drainListenerBus(sc)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = new Span(nextId, name, stack.headOption, iter)
      nextId += 1
      stack.headOption.foreach(_.children += s)
      spans += s
      byGroup.put(Prefix + s.id, s)
      stack = s :: stack
      sc.setJobGroup(Prefix + s.id, name, interruptOnCancel = false)
      try body
      finally {
        s.end()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(Prefix + p.id, p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Adds each query's planning phases to the innermost span that was
    * open when its physical planning finished. */
  def assignPlanPhases(): Unit = plans.all.foreach { e =>
    val open = spans.filter(s => s.startMs <= e.atMs && e.atMs <= s.endMs)
    if (open.nonEmpty) {
      val s = open.minBy(_.seconds)
      s.add("plan.analysis_s", e.analysisS)
      s.add("plan.optimization_s", e.optimizationS)
      s.add("plan.planning_s", e.planningS)
      s.add("queries", 1)
    }
  }
}
