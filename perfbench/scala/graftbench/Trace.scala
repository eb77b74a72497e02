package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded span: a benchmark-side call into a layer. Spans of one op
  * share `op`; `parent` is the id of the enclosing span (-1 at the root). */
final case class Span(id: Int, op: Int, name: String, parent: Int,
                      startNs: Long, endNs: Long)

/** In-memory span recorder. Disabled, `apply` only runs the body, so the
  * untraced run pays one branch per call. Spans are written out with the
  * run's record when the benchmark ends. */
final class Spans(val enabled: Boolean) {
  val done = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private var nextId = 0
  var op: Int = -1

  def apply[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack.push(id)
      val t0 = System.nanoTime()
      try body
      finally {
        stack.pop()
        done += Span(id, op, name, parent, t0, System.nanoTime())
      }
    }
}

/** Counters of one op, filled by [[OpListener]] between two drains. */
final class OpStats {
  val jobs = mutable.ArrayBuffer.empty[(Long, Long)] // (start ms, end ms)
  private val jobStart = mutable.Map.empty[Int, Long]
  var stages = 0L
  var tasks = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var shuffleRecords = 0L
  var spillBytes = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  val taskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]] // per stage
  var analysisMs = 0.0
  var optimizationMs = 0.0
  var planningMs = 0.0
  var exchanges = 0L
  var cachedRelations = 0L

  def jobStarted(id: Int, t: Long): Unit = jobStart(id) = t
  def jobEnded(id: Int, t: Long): Unit =
    jobs += ((jobStart.remove(id).getOrElse(t), t))

  /** Max ÷ median task time, worst stage with at least two tasks (1.0
    * when no stage has two). */
  def taskSkew: Double = {
    val per = taskMs.values.filter(_.size >= 2).map { ds =>
      val s = ds.sorted
      val n = s.size
      val med = if (n % 2 == 1) s(n / 2).toDouble else (s(n / 2 - 1) + s(n / 2)) / 2.0
      if (med <= 0) 1.0 else s.last / med
    }
    if (per.isEmpty) 1.0 else per.max
  }

  def toJson: Json.Obj = Json.obj(
    "jobs" -> jobs.map { case (a, b) => Json.arr(a, b) }.toSeq,
    "stages" -> stages, "tasks" -> tasks,
    "shuffle_write_bytes" -> shuffleWriteBytes,
    "shuffle_read_bytes" -> shuffleReadBytes,
    "shuffle_records" -> shuffleRecords,
    "spill_bytes" -> spillBytes, "gc_ms" -> gcMs,
    "input_bytes" -> inputBytes, "input_records" -> inputRecords,
    "task_skew" -> taskSkew,
    "analysis_ms" -> analysisMs, "optimization_ms" -> optimizationMs,
    "planning_ms" -> planningMs,
    "exchanges" -> exchanges, "cached_relations" -> cachedRelations)
}

/** Job/stage/task counters and Catalyst phase times for the op in flight.
  * Ops run one at a time from one client, so every event that arrives
  * between two drains belongs to the op that ran between them. */
final class OpListener extends SparkListener with QueryExecutionListener {
  @volatile var current = new OpStats

  override def onJobStart(e: SparkListenerJobStart): Unit = current.jobStarted(e.jobId, e.time)
  override def onJobEnd(e: SparkListenerJobEnd): Unit = current.jobEnded(e.jobId, e.time)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = current.stages += 1

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = current
    s.tasks += 1
    s.taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      s.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      s.gcMs += m.jvmGCTime
      s.inputBytes += m.inputMetrics.bytesRead
      s.inputRecords += m.inputMetrics.recordsRead
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val s = current
    val ph = qe.tracker.phases
    def ms(k: String) = ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
    s.analysisMs += ms("analysis")
    s.optimizationMs += ms("optimization")
    s.planningMs += ms("planning")
    val plan = qe.executedPlan
    s.exchanges += PlanNodes.count(plan) {
      case _: ShuffleExchangeLike | _: BroadcastExchangeLike => true
    }
    s.cachedRelations += PlanNodes.count(plan) { case _: InMemoryTableScanExec => true }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Returns the finished op's counters and starts a fresh set. */
  def take(spark: SparkSession): OpStats = {
    org.apache.spark.BusDrain(spark.sparkContext)
    val s = current
    current = new OpStats
    s
  }
}

/** Node counts in an executed plan, through adaptive stages and subqueries. */
object PlanNodes extends AdaptiveSparkPlanHelper {
  def count(plan: SparkPlan)(p: PartialFunction[SparkPlan, Boolean]): Long =
    collectWithSubqueries(plan) { case n if p.applyOrElse(n, (_: SparkPlan) => false) => n }.size.toLong
}
