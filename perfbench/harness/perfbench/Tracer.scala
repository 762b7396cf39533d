package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans kept in memory and written out once at the end of the run.
  *
  * A span has an id, a parent id (0 = root), the id of the query
  * execution it belongs to (`trace`), a name, start and end in
  * nanoseconds since the run's origin, and numeric attributes. The
  * harness opens spans around its own calls into the program; the
  * listener adds one span per Spark job and stage, parented through the
  * `perfbench.span` local property the harness sets before each call. */
final class Trace {
  private val originNano = System.nanoTime()
  private val originMs = System.currentTimeMillis()
  private val ids = new AtomicInteger(0)
  private val spans = new ConcurrentLinkedQueue[String]()

  def now(): Long = System.nanoTime() - originNano
  def fromEpochMs(ms: Long): Long = (ms - originMs) * 1000000L
  def newId(): Int = ids.incrementAndGet()

  def record(id: Int, parent: Int, trace: String, name: String,
      start: Long, end: Long, attrs: Map[String, Double] = Map.empty): Unit =
    spans.add(Json.obj("id" -> id.toString, "parent" -> parent.toString,
      "trace" -> Json.str(trace), "name" -> Json.str(name),
      "start" -> start.toString, "end" -> end.toString,
      "attrs" -> Json.nums(attrs)))

  def json: String = Json.arr(spans.toArray(new Array[String](0)).toSeq)
}

object Tracer {
  val SpanProp = "perfbench.span"
  val TraceProp = "perfbench.trace"

  /** Node counts of an executed plan, AQE query stages and subqueries
    * included, so they describe the final adaptive plan. */
  object PlanCounts extends AdaptiveSparkPlanHelper {
    def apply(plan: SparkPlan): Map[String, Double] = {
      def count(pf: PartialFunction[SparkPlan, Unit]): Double =
        collectWithSubqueries(plan)(pf.andThen(_ => 1)).size.toDouble
      Map(
        "exchanges" -> count { case _: ShuffleExchangeLike => (); case _: BroadcastExchangeLike => () },
        "smj" -> count { case _: SortMergeJoinExec => () },
        "bhj" -> count { case _: BroadcastHashJoinExec => () },
        "windows" -> count { case _: WindowExec => () },
        "checkpoint_scans" -> count { case s: RDDScanExec if s.nodeName.contains("ExistingRDD") => () })
    }
  }
}

/** Records job and stage spans with their task counters, and the
  * executed plan of the last finished write. Registered only in a
  * traced pass, so untraced passes run without it. */
final class Tracer(trace: Trace) extends SparkListener with QueryExecutionListener {
  private final case class JobInfo(span: Int, parent: Int, trace: String, start: Long)
  private final class StageAcc { var waitMs = 0L; var failed = 0L; var submitted = 0L }

  private val jobs = new ConcurrentHashMap[Int, JobInfo]()
  private val stageJob = new ConcurrentHashMap[Int, JobInfo]()
  private val stageAcc = new ConcurrentHashMap[(Int, Int), StageAcc]()
  private val lastPlan = new AtomicReference[SparkPlan](null)

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(spark: SparkSession): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Wait for the listener bus, then take the executed plan of the
    * write that finished last. */
  def takePlan(sc: SparkContext): Option[SparkPlan] = {
    org.apache.spark.PerfbenchBus.drain(sc)
    Option(lastPlan.getAndSet(null))
  }

  def clearPlan(sc: SparkContext): Unit = {
    org.apache.spark.PerfbenchBus.drain(sc)
    lastPlan.set(null)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    lastPlan.set(qe.executedPlan)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val parent = props.flatMap(p => Option(p.getProperty(Tracer.SpanProp))).map(_.toInt).getOrElse(0)
    val traceId = props.flatMap(p => Option(p.getProperty(Tracer.TraceProp))).getOrElse("")
    val info = JobInfo(trace.newId(), parent, traceId, trace.fromEpochMs(e.time))
    jobs.put(e.jobId, info)
    e.stageIds.foreach(stageJob.putIfAbsent(_, info))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.remove(e.jobId)).foreach { j =>
      trace.record(j.span, j.parent, j.trace, "spark.job", j.start, trace.fromEpochMs(e.time))
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val si = e.stageInfo
    val acc = stageAcc.computeIfAbsent((si.stageId, si.attemptNumber()), _ => new StageAcc)
    acc.submitted = si.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val acc = stageAcc.computeIfAbsent((e.stageId, e.stageAttemptId), _ => new StageAcc)
    acc.synchronized {
      if (acc.submitted > 0) acc.waitMs += math.max(0L, e.taskInfo.launchTime - acc.submitted)
      if (!e.taskInfo.successful) acc.failed += 1
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val acc = Option(stageAcc.remove((si.stageId, si.attemptNumber()))).getOrElse(new StageAcc)
    val job = Option(stageJob.get(si.stageId))
    val tm = si.taskMetrics
    val attrs =
      if (tm == null) Map("tasks" -> si.numTasks.toDouble)
      else Map(
        "tasks" -> si.numTasks.toDouble,
        "task_s" -> tm.executorRunTime / 1e3,
        "task_cpu_s" -> tm.executorCpuTime / 1e9,
        "shuffle_write_bytes" -> tm.shuffleWriteMetrics.bytesWritten.toDouble,
        "shuffle_read_bytes" -> tm.shuffleReadMetrics.totalBytesRead.toDouble,
        "spill_memory_bytes" -> tm.memoryBytesSpilled.toDouble,
        "spill_disk_bytes" -> tm.diskBytesSpilled.toDouble,
        "input_bytes" -> tm.inputMetrics.bytesRead.toDouble,
        "output_bytes" -> tm.outputMetrics.bytesWritten.toDouble)
    val start = trace.fromEpochMs(si.submissionTime.getOrElse(acc.submitted))
    val end = trace.fromEpochMs(si.completionTime.getOrElse(System.currentTimeMillis()))
    trace.record(trace.newId(), job.map(_.span).getOrElse(0), job.map(_.trace).getOrElse(""),
      "spark.stage", start, end,
      attrs ++ Map("task_wait_s" -> acc.waitMs / 1e3, "failed_tasks" -> acc.failed.toDouble,
        "attempt" -> si.attemptNumber().toDouble))
  }
}
