package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.LambdaFunction
import org.apache.spark.sql.catalyst.plans.logical.{CommandResult, LogicalPlan}
import org.apache.spark.sql.execution.{CommandResultExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced call: harness-side wall clock around a call into the
  * program. `parent` is the enclosing span (0 = none), `op` the timed
  * operation it belongs to (-1 = after the timed list).
  */
final case class Span(id: Int, name: String, parent: Int, op: Int, startNs: Long, var endNs: Long = 0L)

/** Span recorder. Disabled, `span` is a plain call. Enabled, every span
  * sets the `bench.span` local property so jobs fired inside it are
  * attributed to it exactly (read back from SparkListenerJobStart).
  */
final class Tracer {
  var enabled = false
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  var spark: SparkSession = _
  var op: Int = -1

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val parent = stack.headOption.map(_.id).getOrElse(0)
      val s = Span(spans.length + 1, name, parent, op, System.nanoTime())
      spans += s
      stack = s :: stack
      spark.sparkContext.setLocalProperty(Tracer.Prop, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        spark.sparkContext.setLocalProperty(Tracer.Prop,
          stack.headOption.map(_.id.toString).orNull)
      }
    }
}

object Tracer { val Prop = "bench.span" }

/** Scheduler-side counters, totalled and per span. */
final class ExecListener(cores: Int) extends SparkListener {
  final class Acc {
    var jobs = 0L; var stages = 0L; var tasks = 0L; var taskFailures = 0L
    var taskMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L; var fetchWaitMs = 0L
    var inputBytes = 0L
    def asMap: Map[String, Any] = Map(
      "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks, "task_failures" -> taskFailures,
      "task_s" -> taskMs / 1e3, "cpu_s" -> cpuNs / 1e9, "gc_s" -> gcMs / 1e3,
      "shuffle_write_bytes" -> shuffleWrite, "shuffle_read_bytes" -> shuffleRead,
      "spill_bytes" -> spill, "fetch_wait_s" -> fetchWaitMs / 1e3, "input_bytes" -> inputBytes)
  }
  val total = new Acc
  val bySpan = mutable.Map.empty[Int, Acc]
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val stageSubmit = mutable.Map.empty[Int, Long]
  private val stageFirstLaunch = mutable.Map.empty[Int, Long]
  private val stageDurations = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  var schedWaitMs = 0L
  var stageSkew = 0.0

  private def accs(stage: Int): Seq[Acc] =
    total +: stageSpan.get(stage).map(s => bySpan.getOrElseUpdate(s, new Acc)).toSeq

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Prop)))
      .map(_.toInt).getOrElse(0)
    e.stageIds.foreach(stageSpan(_) = span)
    total.jobs += 1
    bySpan.getOrElseUpdate(span, new Acc).jobs += 1
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    e.stageInfo.submissionTime.foreach(stageSubmit(e.stageInfo.stageId) = _)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val st = e.stageId
    accs(st).foreach { a =>
      a.tasks += 1
      if (e.reason != org.apache.spark.Success) a.taskFailures += 1
      val m = e.taskMetrics
      if (m != null) {
        a.taskMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        a.spill += m.diskBytesSpilled
        a.inputBytes += m.inputMetrics.bytesRead
      }
    }
    val launch = e.taskInfo.launchTime
    stageFirstLaunch(st) = math.min(stageFirstLaunch.getOrElse(st, Long.MaxValue), launch)
    stageDurations.getOrElseUpdate(st, mutable.ArrayBuffer.empty) += e.taskInfo.duration
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val st = e.stageInfo.stageId
    accs(st).foreach(_.stages += 1)
    for (sub <- stageSubmit.get(st); first <- stageFirstLaunch.get(st))
      schedWaitMs += math.max(0L, first - sub)
    stageDurations.get(st).filter(_.length >= cores).foreach { d =>
      val sorted = d.sorted
      val med = sorted(sorted.length / 2).max(1L)
      stageSkew = math.max(stageSkew, sorted.last.toDouble / med)
    }
    stageSubmit -= st; stageFirstLaunch -= st; stageDurations -= st
  }
}

/** Catalyst-side counters per action: phase times from the query's
  * tracker, and shape counts from its final (post-AQE) physical plan.
  */
final class PlanListener extends QueryExecutionListener {
  var actions = 0L; var failures = 0L
  var analysisMs = 0L; var optimizeMs = 0L; var planMs = 0L
  var exchanges = 0L; var broadcasts = 0L; var planNodes = 0L; var hofNodes = 0L

  private def walk(p: SparkPlan, f: SparkPlan => Unit): Unit = {
    f(p)
    val kids: Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case c: CommandResultExec => Seq(c.commandPhysicalPlan)
      case r: ReusedExchangeExec => Nil
      case other => other.children ++ other.subqueries
    }
    kids.foreach(walk(_, f))
  }

  private def lambdas(p: LogicalPlan): Long = p match {
    case c: CommandResult => lambdas(c.commandLogicalPlan)
    case _ =>
      var n = 0L
      p.foreachWithSubqueries { node =>
        node.expressions.foreach(e => n += e.collect { case l: LambdaFunction => l }.length)
        node match {
          case c: CommandResult => n += lambdas(c.commandLogicalPlan)
          case _ =>
        }
      }
      n
  }

  override def onSuccess(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
      durationNs: Long): Unit = synchronized {
    actions += 1
    val ph = qe.tracker.phases
    analysisMs += ph.get("analysis").map(_.durationMs).getOrElse(0L)
    optimizeMs += ph.get("optimization").map(_.durationMs).getOrElse(0L)
    planMs += ph.get("planning").map(_.durationMs).getOrElse(0L)
    walk(qe.executedPlan, {
      case _: ShuffleExchangeLike => exchanges += 1; planNodes += 1
      case _: BroadcastExchangeLike => broadcasts += 1; planNodes += 1
      case _: QueryStageExec | _: AdaptiveSparkPlanExec => ()
      case _ => planNodes += 1
    })
    hofNodes += lambdas(qe.optimizedPlan)
  }

  override def onFailure(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
      exception: Exception): Unit = synchronized { failures += 1 }

  def asMap: Map[String, Any] = synchronized(Map(
    "actions" -> actions, "failures" -> failures,
    "analysis_s" -> analysisMs / 1e3, "optimize_s" -> optimizeMs / 1e3, "plan_s" -> planMs / 1e3,
    "exchanges" -> exchanges, "broadcasts" -> broadcasts, "plan_nodes" -> planNodes,
    "hof_nodes" -> hofNodes))
}
