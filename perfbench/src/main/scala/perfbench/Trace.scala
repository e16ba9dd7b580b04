package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, DynamicPruningExpression}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One interval of the trace. Times are epoch milliseconds; spans of one
  * query share `query` (the job group the harness sets around it). */
final case class Span(id: Int, parent: Int, name: String, query: String,
    start: Double, end: Double) {
  def dur: Double = end - start
}

/** Spark-side records, attributed to a query through its job group. */
final case class TaskRec(group: String, stage: Int, launch: Long, finish: Long,
    runMs: Long, cpuNs: Long, gcMs: Long, shuffleWrite: Long, shuffleRead: Long,
    spill: Long, peakMem: Long, inBytes: Long, inRows: Long, outBytes: Long,
    failed: Boolean)
final case class StageRec(group: String, id: Int, submit: Long, complete: Long,
    tasks: Int)
final case class JobRec(group: String, id: Int, start: Long, var end: Long)
final case class PlanRec(funcName: String,
    phases: Map[String, (Long, Long)], durMs: Double, smj: Int, shj: Int,
    bhj: Int, runtimeFilters: Int)

/** In-memory trace of one benchmark JVM. Spans and Spark events stay in
  * memory while the workload runs and are written out once at the end.
  * Harness spans are recorded while `recording` is set; listener events,
  * which arrive asynchronously, are kept when they started inside the
  * traced pass's time window. */
object Trace {
  @volatile var recording = false
  @volatile private var window = (Double.MaxValue, Double.MaxValue)
  def open(): Unit = { window = (nowMs, Double.MaxValue); recording = true }
  def close(): Unit = { window = (window._1, nowMs); recording = false }
  def inWindow(t: Double): Boolean = t >= window._1 && t <= window._2

  /** The SparkListener is on the bus for the traced pass only, so untraced
    * passes carry none of its dispatch. `detach` runs a marker job and
    * waits until the listener has seen it end: the bus delivers events in
    * order, so every event of the traced pass has then been recorded. */
  @volatile var attached = false
  private val drainGroup = "perfbench-drain"
  @volatile private var drainJob = -1
  private val drained = new java.util.concurrent.Semaphore(0)
  def attach(sc: SparkContext): Unit = { sc.addSparkListener(Listener); attached = true }
  def detach(sc: SparkContext): Unit = {
    sc.setJobGroup(drainGroup, "drain the listener bus", interruptOnCancel = false)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.clearJobGroup()
    if (!drained.tryAcquire(120, java.util.concurrent.TimeUnit.SECONDS))
      throw new IllegalStateException("the listener bus did not drain")
    sc.removeSparkListener(Listener)
    attached = false
  }
  private val clockBaseMs = System.currentTimeMillis().toDouble
  private val clockBaseNs = System.nanoTime()
  def nowMs: Double = clockBaseMs + (System.nanoTime() - clockBaseNs) / 1e6

  private val nextId = new java.util.concurrent.atomic.AtomicInteger(0)
  val spans = new ConcurrentLinkedQueue[Span]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val stages = new ConcurrentLinkedQueue[StageRec]()
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  val plans = new ConcurrentLinkedQueue[PlanRec]()
  val execGroup = new java.util.concurrent.ConcurrentHashMap[Long, String]()
  val aqeUpdates = new java.util.concurrent.ConcurrentHashMap[Long, Integer]()
  private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()

  /** Times `body`, which receives the span's id, as a span. */
  def span[T](name: String, query: String, parent: Int)(body: Int => T): T = {
    val id = nextId.incrementAndGet()
    val t0 = nowMs
    try body(id)
    finally if (recording) spans.add(Span(id, parent, name, query, t0, nowMs))
  }

  def addSpan(name: String, query: String, parent: Int, start: Double,
      end: Double): Unit =
    if (recording) spans.add(Span(nextId.incrementAndGet(), parent, name,
      query, start, end))

  private def group(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")

  /** Scheduler, task and SQL-execution events from the listener bus. */
  object Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = group(e.properties)
      if (g == drainGroup) drainJob = e.jobId
      else if (inWindow(e.time)) {
        e.stageIds.foreach(s => stageGroup.put(s, g))
        jobs.put(e.jobId, JobRec(g, e.jobId, e.time, -1L))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (e.jobId == drainJob) drained.release()
      else Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val g = stageGroup.get(i.stageId)
      if (g != null)
        stages.add(StageRec(g, i.stageId, i.submissionTime.getOrElse(0L),
          i.completionTime.getOrElse(0L), i.numTasks))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val g = stageGroup.get(e.stageId)
      if (g != null) {
        val m = e.taskMetrics
        val info = e.taskInfo
        if (m == null)
          tasks.add(TaskRec(g, e.stageId, info.launchTime, info.finishTime,
            0, 0, 0, 0, 0, 0, 0, 0, 0, 0, failed = true))
        else
          tasks.add(TaskRec(g, e.stageId, info.launchTime, info.finishTime,
            m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
            m.shuffleWriteMetrics.bytesWritten,
            m.shuffleReadMetrics.totalBytesRead,
            m.diskBytesSpilled + m.memoryBytesSpilled, m.peakExecutionMemory,
            m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
            m.outputMetrics.bytesWritten, failed = !info.successful))
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart if inWindow(s.time) =>
        execGroup.put(s.executionId, s.jobGroupId.getOrElse(""))
      case u: SparkListenerSQLAdaptiveExecutionUpdate
          if execGroup.containsKey(u.executionId) =>
        aqeUpdates.merge(u.executionId, 1, (a, b) => a + b)
      case _ =>
    }
  }

  /** Joins and runtime filters in the final (post-AQE) physical plan. */
  def planCounts(plan: SparkPlan): (Int, Int, Int, Int) = {
    var smj, shj, bhj, rf = 0
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case _: ReusedExchangeExec =>
      case other =>
        other match {
          case _: SortMergeJoinExec => smj += 1
          case _: ShuffledHashJoinExec => shj += 1
          case _: BroadcastHashJoinExec => bhj += 1
          case _ =>
        }
        rf += other.expressions.map(_.collect {
          case b: BloomFilterMightContain => b
          case d: DynamicPruningExpression => d
        }.size).sum
        other.children.foreach(walk)
        other.subqueries.foreach(walk)
    }
    walk(plan)
    (smj, shj, bhj, rf)
  }
}

/** Registered in every session through `spark.sql.queryExecutionListeners`
  * (only in traced runs, so that sessions the operators open themselves are
  * covered too): planning phase times from `qe.tracker` and join choices
  * from the final adaptive plan. It returns at once outside the traced
  * pass. */
class PhaseListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = if (Trace.attached) {
    val phases = qe.tracker.phases.map { case (k, v) =>
      k -> (v.startTimeMs, v.endTimeMs) }
    if (phases.nonEmpty && Trace.inWindow(phases.values.map(_._1).min)) {
      val (smj, shj, bhj, rf) =
        try Trace.planCounts(qe.executedPlan)
        catch { case _: Throwable => (0, 0, 0, 0) }
      Trace.plans.add(PlanRec(funcName, phases, durationNs / 1e6,
        smj, shj, bhj, rf))
    }
  }
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()
}
