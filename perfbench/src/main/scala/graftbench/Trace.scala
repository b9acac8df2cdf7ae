package graftbench

import scala.collection.mutable

import org.apache.spark.{BenchBus, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** A span around one call into a graft module, through to the step's write. */
final class Span(val id: Int, val module: String, val parent: Option[Span]) {
  val start: Long = System.nanoTime()
  var end = 0L
  var childNs = 0L
  var jobs = 0
  var tasks = 0
  var failedTasks = 0
  var cpuNs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var planNs = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  def selfNs: Long = end - start - childNs
}

/** Per-module totals over the traced spans. */
final class ModuleTotals {
  var wallNs, planNs, driverNs, cpuNs, shuffleWriteBytes, spillBytes = 0L
  var jobs, tasks, failedTasks = 0L
}

/** Spans and Spark counters for the traced run.
  *
  * Jobs, stages and tasks are attributed to the span that was open when
  * the job started, through a thread-local job property. Query-execution
  * callbacks arrive on the listener bus, so the tracer drains the bus at
  * every span boundary; a callback then belongs to the innermost open
  * span. When tracing is off, `span` only runs its body.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val PropKey = "graftbench.span"
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var current: Option[Span] = None
  private val jobSpan = mutable.HashMap.empty[Int, (Span, Long)]
  private val stageSpan = mutable.HashMap.empty[Int, Span]

  var steps = 0
  var nativeSteps = 0
  var rrExchanges = 0L
  var topkRewrites = 0L
  var persistedPeakBytes = 0L
  private var stepNative = false

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock {
      Option(e.properties).flatMap(p => Option(p.getProperty(PropKey)))
        .map(id => spans(id.toInt)).foreach { s =>
          s.jobs += 1
          jobSpan(e.jobId) = (s, e.time)
          e.stageIds.foreach(stageSpan(_) = s)
        }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock {
      jobSpan.remove(e.jobId).foreach { case (s, t0) => s.jobIntervals += ((t0, e.time)) }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock {
      stageSpan.get(e.stageId).foreach { s =>
        s.tasks += 1
        if (e.reason != Success) s.failedTasks += 1
        Option(e.taskMetrics).foreach { m =>
          s.cpuNs += m.executorCpuTime
          s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      lock(observe(qe))
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      lock(observe(qe))
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
  }

  private def lock[T](body: => T): T = synchronized(body)

  private def observe(qe: QueryExecution): Unit = current.foreach { s =>
    s.planNs += Seq("analysis", "optimization", "planning")
      .flatMap(qe.tracker.phases.get).map(_.durationMs).sum * 1000000L
    val physical = Tracer.nodes(qe.executedPlan)
    rrExchanges += physical.count {
      case x: ShuffleExchangeExec => x.outputPartitioning.isInstanceOf[RoundRobinPartitioning]
      case _ => false
    }
    if (physical.exists(p => Tracer.exprs(p).exists(Tracer.isKernel))) stepNative = true
    topkRewrites += math.max(0,
      Tracer.topkCount(qe.optimizedPlan) - Tracer.topkCount(qe.analyzed))
  }

  private def drain(): Unit = if (enabled) BenchBus.drain(spark.sparkContext)

  /** Runs `body` inside a span for `module`. */
  def span[T](module: String)(body: => T): T = {
    if (!enabled) return body
    drain()
    val s = lock {
      val s = new Span(spans.size, module, current)
      spans += s; current = Some(s); s
    }
    val sc = spark.sparkContext
    val outer = sc.getLocalProperty(PropKey)
    sc.setLocalProperty(PropKey, s.id.toString)
    try body
    finally {
      drain()
      lock {
        s.end = System.nanoTime()
        s.parent.foreach(_.childNs += s.end - s.start)
        current = s.parent
      }
      sc.setLocalProperty(PropKey, outer)
    }
  }

  /** Marks the end of a step: counts native plans and held storage. */
  def endStep(): Unit = if (enabled) {
    drain()
    lock {
      steps += 1
      if (stepNative) nativeSteps += 1
      stepNative = false
    }
    val held = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    persistedPeakBytes = math.max(persistedPeakBytes, held)
  }

  /** Totals per module over all spans recorded so far. */
  def totals: Map[String, ModuleTotals] = lock {
    val out = mutable.LinkedHashMap.empty[String, ModuleTotals]
    spans.filter(_.end > 0).foreach { s =>
      val t = out.getOrElseUpdate(s.module, new ModuleTotals)
      val jobNs = Tracer.unionMs(s.jobIntervals.toSeq) * 1000000L
      t.wallNs += s.selfNs
      t.planNs += s.planNs
      t.driverNs += math.max(0L, s.selfNs - jobNs)
      t.cpuNs += s.cpuNs
      t.shuffleWriteBytes += s.shuffleWriteBytes
      t.spillBytes += s.spillBytes
      t.jobs += s.jobs
      t.tasks += s.tasks
      t.failedTasks += s.failedTasks
    }
    out.toMap
  }

  def close(): Unit = if (enabled) {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
  }
}

object Tracer {
  /** Physical nodes of a plan, through adaptive wrappers and subqueries. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  def exprs(p: QueryPlan[_]): Seq[Expression] = p.expressions.flatMap(_.collect { case e => e })

  def isKernel(e: Expression): Boolean =
    e.prettyName.startsWith("graft_") && e.prettyName != "graft_topk"

  def topkCount(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Int =
    p.collectWithSubqueries { case n => exprs(n).count(_.prettyName == "graft_topk") }.sum

  /** Length of the union of [start, end] intervals, in the intervals' unit. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total, reach = 0L
    var open = false
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (!open || a > reach) { total += b - a; reach = b; open = true }
      else if (b > reach) { total += b - reach; reach = b }
    }
    total
  }
}
