package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Observes a run from outside graft: a SparkListener for jobs, stages,
  * tasks and cached blocks, and a QueryExecutionListener for the final
  * physical plan of every SQL execution. Counters accrue only while
  * `active`; the harness calls [[quiesce]] before flipping it, so events
  * that the asynchronous listener bus delivers late land on the right side.
  *
  * Each job is charged to a graft module by its call site: the innermost
  * `graft.` frame of the job's own call site, else of the SQL execution
  * that launched it (AQE submits stage jobs from a pool thread whose call
  * site reads `CompletableFuture`), else the harness phase named by the
  * job group the harness sets (`op<seq>/<phase>`).
  */
final class Trace(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  import Trace.{JobSpan, StageSpan}

  @volatile var active = false
  @volatile private var lastEventNs = System.nanoTime()

  private val lock = new Object
  private val execModule = mutable.Map.empty[Long, String]
  private val stageJob = mutable.Map.empty[Int, JobSpan]
  private val openJobs = mutable.Map.empty[Int, JobSpan]
  private val jobSpans = mutable.ArrayBuffer.empty[JobSpan]
  private val stageSpans = mutable.ArrayBuffer.empty[StageSpan]
  private val blocks = mutable.Map.empty[String, Long]
  private var cachedBytes = 0L

  val counters: mutable.Map[String, Double] = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
  private def add(k: String, v: Double): Unit = counters(k) = counters(k) + v

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Jobs launched inside an op's phases; verification reads run outside them. */
  private def counted(group: String): Boolean = active && group.startsWith("op")

  /** Waits until the listener bus has been idle for `quietMs`. */
  def quiesce(quietMs: Long = 150, maxMs: Long = 10000): Unit = {
    val deadline = System.nanoTime() + maxMs * 1000000L
    def idle = lock.synchronized(openJobs.isEmpty) &&
      System.nanoTime() - lastEventNs > quietMs * 1000000L
    while (!idle && System.nanoTime() < deadline) Thread.sleep(10)
  }

  /** Package-qualified graft module of the innermost `graft.` frame in a
    * call site's long form: `graft.operators.Dedup$.x(...)` gives
    * `operators.Dedup`, `graft.sources.Tables$.table(...)` gives `sources`.
    */
  private[graftbench] def moduleOf(longForm: String): Option[String] =
    Option(longForm).toSeq.flatMap(_.split("\n")).map(_.trim)
      .find(_.startsWith("graft.")).map { frame =>
        val parts = frame.takeWhile(_ != '(').split('.').toSeq
        parts.lift(1) match {
          case Some(pkg @ ("operators" | "pipeline" | "streaming" | "multimodal")) =>
            pkg + "." + parts.lift(2).getOrElse("").takeWhile(_ != '$')
          case Some(pkg) if parts.size > 3 => pkg
          case _ => "graft"
        }
      }

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart =>
      lastEventNs = System.nanoTime()
      moduleOf(e.details).foreach(m => lock.synchronized(execModule(e.executionId) = m))
    case _ =>
  }

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    lastEventNs = System.nanoTime()
    val group = Option(js.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val execId = Option(js.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(_.toLongOption)
    val site = if (js.stageInfos.isEmpty) None else moduleOf(js.stageInfos.maxBy(_.stageId).details)
    lock.synchronized {
      val module = site.orElse(execId.flatMap(execModule.get))
        .getOrElse(group.split('/').lift(1).getOrElse("unattributed"))
      val span = JobSpan(js.jobId, group, module, js.time)
      js.stageInfos.foreach(s => stageJob(s.stageId) = span)
      openJobs(js.jobId) = span
    }
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit = {
    lastEventNs = System.nanoTime()
    lock.synchronized {
      openJobs.remove(je.jobId).foreach { j =>
        j.end = je.time
        if (counted(j.group)) {
          jobSpans += j
          add("spark.jobs", 1)
          add(s"${j.module}.jobs", 1)
          add(s"${j.module}.job_s", (j.end - j.start) / 1e3)
        }
      }
    }
  }

  private def countedStage(stageId: Int): Option[JobSpan] =
    stageJob.get(stageId).filter(j => counted(j.group))

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
    lastEventNs = System.nanoTime()
    val si = sc.stageInfo
    lock.synchronized(countedStage(si.stageId).foreach { job =>
      add("spark.stages", 1)
      if (si.attemptNumber() > 0) add("spark.retried_stages", 1)
      stageSpans += StageSpan(si.stageId, si.attemptNumber(), job.id, si.name,
        si.submissionTime.getOrElse(-1L), si.completionTime.getOrElse(-1L), si.numTasks)
    })
  }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    lastEventNs = System.nanoTime()
    lock.synchronized(countedStage(te.stageId).foreach { _ =>
      add("spark.tasks", 1)
      if (te.reason != org.apache.spark.Success) add("spark.failed_tasks", 1)
      val info = te.taskInfo
      add("spark.task_busy_s", info.duration / 1e3)
      val m = te.taskMetrics
      if (m != null) {
        // the UI's scheduler delay: task time not spent deserializing,
        // running, serializing the result or fetching it
        val delay = math.max(0L, info.duration - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L))
        add("spark.sched_delay_s", delay / 1e3)
        add("spark.task_gc_s", m.jvmGCTime / 1e3)
        add("spark.shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / 1e6)
        add("spark.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
        add("spark.spill_mb", m.diskBytesSpilled / 1e6)
        add("spark.output_mb", m.outputMetrics.bytesWritten / 1e6)
      }
    })
  }

  override def onBlockUpdated(bu: SparkListenerBlockUpdated): Unit = {
    lastEventNs = System.nanoTime()
    val info = bu.blockUpdatedInfo
    if (info.blockId.isRDD) lock.synchronized {
      val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      cachedBytes += size - blocks.getOrElse(info.blockId.name, 0L)
      if (size == 0L) blocks.remove(info.blockId.name) else blocks(info.blockId.name) = size
      if (active) counters("storage.cached_mb_peak") =
        math.max(counters("storage.cached_mb_peak"), cachedBytes / 1e6)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    lastEventNs = System.nanoTime()
    if (active) {
      val shape = mutable.Map.empty[String, Double].withDefaultValue(0.0)
      Trace.planShape(qe.executedPlan, shape)
      lock.synchronized(shape.foreach { case (k, v) => add(k, v) })
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    lastEventNs = System.nanoTime()

  /** Seconds of `[t0, t1]` (epoch ms) during which no traced job ran. */
  def idleSeconds(t0: Long, t1: Long): Double = lock.synchronized {
    val spans = jobSpans.filter(j => j.end > t0 && j.start < t1)
      .map(j => (math.max(j.start, t0), math.min(j.end, t1))).sortBy(_._1)
    var busy = 0L
    var cur = t0
    spans.foreach { case (s, e) =>
      val from = math.max(s, cur)
      if (e > from) { busy += e - from; cur = e }
    }
    (t1 - t0 - busy) / 1e3
  }

  def jobRecords: Seq[JobSpan] = lock.synchronized(jobSpans.toList)
  def stageRecords: Seq[StageSpan] = lock.synchronized(stageSpans.toList)
}

object Trace {
  final case class JobSpan(id: Int, group: String, module: String, start: Long, var end: Long = -1)
  final case class StageSpan(id: Int, attempt: Int, job: Int, name: String, start: Long, end: Long, tasks: Int)

  /** Exchange and join counts of a physical plan, read from AQE's
    * finalized inner plan: the `AdaptiveSparkPlanExec` wrapper reports
    * none of them, and query stages hide their exchange behind a leaf.
    */
  def planShape(plan: SparkPlan, acc: mutable.Map[String, Double]): Unit = {
    plan match {
      case a: AdaptiveSparkPlanExec => planShape(a.executedPlan, acc); return
      case s: QueryStageExec => planShape(s.plan, acc); return
      case _: ReusedExchangeExec => acc("plan.reused_exchanges") += 1; return
      case _: InMemoryTableScanExec => return
      case _: Exchange => acc("plan.exchanges") += 1
      case _: BroadcastHashJoinExec => acc("plan.bhj") += 1
      case _: SortMergeJoinExec => acc("plan.smj") += 1
      case _ =>
    }
    plan.children.foreach(planShape(_, acc))
    plan.subqueries.foreach(planShape(_, acc))
  }
}
