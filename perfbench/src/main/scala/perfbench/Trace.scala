package perfbench

import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}
import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced layer call: a query build, an execute, a staging artifact, a
  * router verb, a collect, a provider attempt or a middleware entry.
  * `counters` holds the scheduler counter deltas seen between start and end.
  */
final case class Span(
    id: Long,
    parent: Long,
    request: Long,
    name: String,
    startNs: Long,
    endNs: Long,
    counters: Map[String, Double])

/** Scheduler, executor and shuffle counters from Spark's public listener
  * API. Counting happens only while `on` is set; the listener stays
  * registered so that switching tracing off costs one volatile read per event.
  */
final class SchedListener extends SparkListener {
  @volatile var on = false
  val jobs = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val runMs = new AtomicLong
  val cpuNs = new AtomicLong
  val gcMs = new AtomicLong
  val shuffleWrite = new AtomicLong
  val shuffleRead = new AtomicLong
  val spill = new AtomicLong
  private val endedJobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
  private val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  @volatile var worstSkew = 0.0

  override def onJobStart(e: SparkListenerJobStart): Unit = if (on) jobs.incrementAndGet()
  override def onJobEnd(e: SparkListenerJobEnd): Unit = endedJobs.add(e.jobId)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (on) {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      synchronized {
        stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val durations = synchronized(stageTasks.remove(e.stageInfo.stageId))
    if (on) {
      stages.incrementAndGet()
      durations.filter(_.size > 1).foreach { d =>
        val sorted = d.sorted
        val median = sorted(sorted.size / 2).max(1L)
        worstSkew = worstSkew.max(sorted.last.toDouble / median)
      }
    }
  }

  def jobEnded(id: Int): Boolean = endedJobs.contains(id)

  def snapshot: Map[String, Double] = Map(
    "jobs" -> jobs.get.toDouble, "stages" -> stages.get.toDouble,
    "tasks" -> tasks.get.toDouble, "run_ms" -> runMs.get.toDouble)
}

/** Planning time and `CodegenFallback` node count of every executed query,
  * read from the QueryExecution Spark hands its public execution listener.
  */
final class PlanListener extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  @volatile var on = false
  val planMs = new DoubleAdder
  val fallbackNodes = new AtomicLong
  val seen = new AtomicLong

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    if (on) {
      planMs.add(PlanListener.phaseMs(qe))
      fallbackNodes.addAndGet(PlanListener.fallbackCount(qe.executedPlan, this))
    }
    seen.incrementAndGet()
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    seen.incrementAndGet()
}

object PlanListener {
  def phaseMs(qe: QueryExecution): Double =
    qe.tracker.phases.values.map(_.durationMs.toDouble).sum

  /** Executed-plan nodes (final adaptive plan and subqueries included) that
    * evaluate at least one `CodegenFallback` expression.
    */
  def fallbackCount(plan: SparkPlan, helper: AdaptiveSparkPlanHelper): Long =
    helper.collectWithSubqueries(plan) {
      case p if p.expressions.exists(_.exists(_.isInstanceOf[CodegenFallback])) => 1
    }.size.toLong
}

/** Layer attribution for one run: listeners, codegen counters and spans. */
final class Tracer(spark: SparkSession) {
  val sched = new SchedListener
  val plans = new PlanListener
  spark.sparkContext.addSparkListener(sched)
  spark.listenerManager.register(plans)

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val nextId = new AtomicLong
  private val parentStack = new ThreadLocal[List[Long]] { override def initialValue = Nil }
  @volatile private var tracing = false
  private var codegenCount0 = 0L

  def setTracing(on: Boolean): Unit = {
    tracing = on
    sched.on = on
    plans.on = on
  }

  /** Time `body` as a span (when tracing) and return its result. */
  def span[T](name: String, request: Long = 0L)(body: => T): T =
    if (!tracing) body
    else {
      val id = nextId.incrementAndGet()
      val stack = parentStack.get
      val c0 = sched.snapshot
      val t0 = System.nanoTime()
      parentStack.set(id :: stack)
      try body
      finally {
        val t1 = System.nanoTime()
        parentStack.set(stack)
        val c1 = sched.snapshot
        val delta = c1.map { case (k, v) => k -> (v - c0(k)) }
        spans.synchronized {
          spans += Span(id, stack.headOption.getOrElse(0L), request, name, t0, t1, delta)
        }
      }
    }

  /** Run a Spark action under a job group and wait until the listeners have
    * seen every job and query execution it started, so counters read after
    * it are complete.
    */
  def action[T](group: String)(body: => T): T = {
    val sc = spark.sparkContext
    val seen0 = plans.seen.get
    sc.setJobGroup(group, group, interruptOnCancel = false)
    val r = try body finally sc.clearJobGroup()
    if (tracing) {
      val ids = sc.statusTracker.getJobIdsForGroup(group)
      val deadline = System.nanoTime() + 10000000000L
      while (System.nanoTime() < deadline &&
          (!ids.forall(sched.jobEnded) || plans.seen.get == seen0)) Thread.sleep(1)
    }
    r
  }

  def codegenMark(): Unit =
    codegenCount0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Compiles since the last mark, and their time (ms). Spark keeps only a
    * recency-weighted sample of compile times, so the time is the exact
    * compile count times the sampled mean compile time.
    */
  def codegenSinceMark(): (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val n = h.getCount - codegenCount0
    (n, n * h.getSnapshot.getMean)
  }

  /** Scheduler, executor, shuffle, planning, codegen and kernel metrics of
    * the traced passes, per traced pass (codegen: per pass of either kind,
    * as Spark counts compiles whether or not tracing is on).
    */
  def reportSparkLayers(result: Result, traced: Int, passes: Int, tracedWall: Double, cpus: Int): Unit = {
    val n = traced.max(1).toDouble
    val s = sched
    val (compiles, compileMs) = codegenSinceMark()
    result.metric("plan.ms", plans.planMs.sum / n)
    result.metric("codegen.compiles", compiles / passes.max(1).toDouble)
    result.metric("codegen.compile_ms", compileMs / passes.max(1).toDouble)
    result.metric("sched.jobs", s.jobs.get / n)
    result.metric("sched.stages", s.stages.get / n)
    result.metric("sched.tasks", s.tasks.get / n)
    result.metric("exec.run_s", s.runMs.get / 1e3 / n)
    result.metric("exec.cpu_s", s.cpuNs.get / 1e9 / n)
    result.metric("exec.gc_s", s.gcMs.get / 1e3 / n)
    result.metric("exec.busy_frac", s.runMs.get / 1e3 / (tracedWall.max(1e-9) * cpus))
    result.metric("exec.task_skew", s.worstSkew)
    result.metric("shuffle.write_mb", s.shuffleWrite.get / 1048576.0 / n)
    result.metric("shuffle.read_mb", s.shuffleRead.get / 1048576.0 / n)
    result.metric("shuffle.spill_mb", s.spill.get / 1048576.0 / n)
    result.metric("kernel.fallback_nodes", plans.fallbackNodes.get / n)
  }

  def allSpans: Seq[Span] = spans.synchronized(spans.toVector)
}

object Trace {
  /** Traced runs interleave traced and untraced passes in the order
    * T U U T T U U T ..., so a warming trend over the run charges both sides
    * alike and the tracing overhead is their difference in the same run.
    */
  def tracedTurn(pass: Int): Boolean = pass % 4 == 0 || pass % 4 == 3

  /** Run a DataFrame to completion, every row of its full output going to
    * the `noop` sink (no column pruning, unlike `count()`).
    */
  def runFull(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
}
