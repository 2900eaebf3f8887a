package graft.perfbench

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** One query's driver-side spans in a traced pass. `group` is the Spark job
  * group the query ran under: `<group>/c` while the query function
  * constructed its DataFrame, `<group>/m` while the noop sink materialized
  * it. Times are epoch milliseconds (the clock Spark stamps job events
  * with) plus nanosecond durations. */
final case class QuerySpan(
    name: String, module: String, group: String, startMs: Long,
    constructNs: Long, materializeNs: Long, totalNs: Long,
    residueRdds: Int, residueBytes: Long)

/** Records Spark job, stage, task and SQL-execution events, and Catalyst
  * phase times, keyed by job group; rolls them up into per-layer metrics
  * for the spans the harness recorded. Attached only during traced passes.
  */
final class Tracer extends SparkListener with QueryExecutionListener {
  private final class Job(val group: String, val submitMs: Long, val sqlExec: Boolean) {
    var endMs = 0L
    var firstTaskMs = 0L
  }
  private final class Group {
    var jobs, stageAttempts, stagesRun, tasks, failedTasks = 0L
    var cpuNs, runMs, inBytes, inRecords, outBytes, outRecords = 0L
    var shReadBytes, shWriteBytes, spillBytes, peakExecMem = 0L
    var rootExecs = 0L
    val taskIntervals = mutable.ArrayBuffer[(Long, Long)]()
  }

  private val jobs = mutable.Map[Int, Job]()
  private val stageJob = mutable.Map[Int, Int]()
  private val stageGroup = mutable.Map[Int, String]()
  private val groups = mutable.Map[String, Group]()
  @volatile private var lastEventNs = System.nanoTime()

  private def groupOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse("")
  private def agg(g: String): Group = groups.getOrElseUpdate(g, new Group)
  private def touched(): Unit = lastEventNs = System.nanoTime()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    touched()
    val g = groupOf(e.properties)
    val sql = Option(e.properties).exists(_.getProperty("spark.sql.execution.id") != null)
    jobs(e.jobId) = new Job(g, e.time, sql)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
    val a = agg(g)
    a.jobs += 1
    a.stageAttempts += e.stageInfos.size
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    touched()
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    touched()
    val g = groupOf(e.properties)
    stageGroup(e.stageInfo.stageId) = g
    agg(g).stagesRun += 1
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    touched()
    for (j <- stageJob.get(e.stageId).flatMap(jobs.get) if j.firstTaskMs == 0L)
      j.firstTaskMs = e.taskInfo.launchTime
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    touched()
    val a = agg(stageGroup.getOrElse(e.stageId, ""))
    a.tasks += 1
    if (e.reason != Success) a.failedTasks += 1
    a.taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    val m = e.taskMetrics
    if (m != null) {
      a.cpuNs += m.executorCpuTime
      a.runMs += m.executorRunTime
      a.inBytes += m.inputMetrics.bytesRead
      a.inRecords += m.inputMetrics.recordsRead
      a.outBytes += m.outputMetrics.bytesWritten
      a.outRecords += m.outputMetrics.recordsWritten
      a.shReadBytes += m.shuffleReadMetrics.totalBytesRead
      a.shWriteBytes += m.shuffleWriteMetrics.bytesWritten
      a.spillBytes += m.diskBytesSpilled
      a.peakExecMem = math.max(a.peakExecMem, m.peakExecutionMemory)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      touched()
      if (s.rootExecutionId.forall(_ == s.executionId))
        agg(s.jobGroupId.getOrElse("")).rootExecs += 1
    }
    case _ =>
  }

  /** Files the plan's write commands wrote (scans report numFiles too). */
  private def writtenFiles(plan: SparkPlan): Long = plan match {
    case w: DataWritingCommandExec => w.metrics.get("numFiles").map(_.value).getOrElse(0L)
    case a: AdaptiveSparkPlanExec => writtenFiles(a.executedPlan)
    case s: QueryStageExec => writtenFiles(s.plan)
    case p => p.children.map(writtenFiles).sum
  }

  /** Catalyst phase times and written files of one finished Dataset
    * action, stamped with the epoch time its planning started. Plans are
    * matched to query spans by that stamp: the listener callback carries
    * no job group. */
  private final case class Plan(atMs: Long, analysisMs: Long, optimizationMs: Long,
      planningMs: Long, files: Long)
  private val plans = mutable.ArrayBuffer[Plan]()

  private def onPlan(qe: QueryExecution): Unit = synchronized {
    touched()
    val ph = qe.tracker.phases
    def ms(p: String): Long = ph.get(p).map(_.durationMs).getOrElse(0L)
    val at = ph.get("planning").orElse(ph.values.maxByOption(_.startTimeMs))
      .map(_.startTimeMs).getOrElse(0L)
    plans += Plan(at, ms("analysis"), ms("optimization"), ms("planning"),
      writtenFiles(qe.executedPlan))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    onPlan(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    onPlan(qe)

  /** Waits (outside any clock) until every started job has ended and no
    * event has arrived for `quietMs`, so the rollup sees the whole pass. */
  def drain(quietMs: Long = 300L, timeoutMs: Long = 20000L): Unit = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    def settled: Boolean = synchronized(jobs.values.forall(_.endMs != 0L)) &&
      System.nanoTime() - lastEventNs > quietMs * 1000000L
    while (!settled && System.nanoTime() < deadline) Thread.sleep(50)
  }

  /** Length of the union of `intervals`, clipped to [lo, hi]. */
  private def covered(intervals: Iterable[(Long, Long)], lo: Long, hi: Long): Long = {
    var total, reach = 0L
    reach = lo
    for ((s0, e0) <- intervals.toSeq.sortBy(_._1)) {
      val s = math.max(s0, reach)
      val e = math.min(e0, hi)
      if (e > s) { total += e - s; reach = e }
    }
    total
  }

  /** Per-layer values per pass: totals over `spans` (all traced passes)
    * divided by `passes`; ratios and peaks are not divided. Keys are the
    * per_layer metric names of BENCHMARK.json, without the set-up, JVM and
    * overhead metrics, which the harness adds. */
  def rollup(spans: Seq[QuerySpan], passes: Int, cores: Int): Map[String, Double] = synchronized {
    val out = mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)
    def add(k: String, v: Double): Unit = out(k) = out(k) + v / passes
    var wallNs = 0L
    var attributed = 0
    for (q <- spans) {
      val gc = s"${q.group}/c"
      val gm = s"${q.group}/m"
      val (c, m) = (agg(gc), agg(gm))
      val both = Seq(c, m)
      val qJobs = jobs.values.filter(j => j.group == gc || j.group == gm).toSeq
      val endMs = q.startMs + q.totalNs / 1000000L
      def jobSpan(js: Seq[Job]) = js.map(j => (j.submitMs, if (j.endMs == 0L) endMs else j.endMs))
      val jobCover = covered(jobSpan(qJobs), q.startMs, endMs) / 1e3
      val cJobCover = covered(jobSpan(qJobs.filter(_.group == gc)), q.startMs, endMs) / 1e3
      val mJobCover = covered(jobSpan(qJobs.filter(_.group == gm)), q.startMs, endMs) / 1e3
      val taskCover = covered(both.flatMap(_.taskIntervals), q.startMs, endMs) / 1e3
      wallNs += q.totalNs / passes
      add("construct.s", q.constructNs / 1e9)
      add("construct.jobs", c.jobs.toDouble)
      add("construct.actions",
        (c.rootExecs + qJobs.count(j => j.group == gc && !j.sqlExec)).toDouble)
      add("exec.driver_gap_s", q.totalNs / 1e9 - jobCover)
      add("exec.job_wait_s", qJobs.filter(_.firstTaskMs > 0L)
        .map(j => math.max(0L, j.firstTaskMs - j.submitMs)).sum / 1e3)
      val qPlans = plans.filter(p => p.atMs >= q.startMs && p.atMs < endMs)
      attributed += qPlans.size
      add("catalyst.analysis_s", qPlans.map(_.analysisMs).sum / 1e3)
      add("catalyst.optimization_s", qPlans.map(_.optimizationMs).sum / 1e3)
      add("catalyst.planning_s", qPlans.map(_.planningMs).sum / 1e3)
      add("exec.s", q.materializeNs / 1e9)
      add("exec.jobs", both.map(_.jobs).sum.toDouble)
      add("exec.stages", both.map(_.stagesRun).sum.toDouble)
      add("exec.tasks", both.map(_.tasks).sum.toDouble)
      add("exec.task_cpu_s", both.map(_.cpuNs).sum / 1e9)
      add("exec.task_run_s", both.map(_.runMs).sum / 1e3)
      add("exec.shuffle_read_mb", both.map(_.shReadBytes).sum / 1048576.0)
      add("exec.shuffle_write_mb", both.map(_.shWriteBytes).sum / 1048576.0)
      add("exec.spill_mb", both.map(_.spillBytes).sum / 1048576.0)
      out("exec.peak_exec_mem_mb") = math.max(out("exec.peak_exec_mem_mb"),
        both.map(_.peakExecMem).max / 1048576.0)
      add("stage_attempts", both.map(_.stageAttempts).sum.toDouble)
      add("failed_tasks", both.map(_.failedTasks).sum.toDouble)
      add("scan.input_mb", both.map(_.inBytes).sum / 1048576.0)
      add("scan.records", both.map(_.inRecords).sum.toDouble)
      add("write.output_mb", both.map(_.outBytes).sum / 1048576.0)
      add("write.records", both.map(_.outRecords).sum.toDouble)
      add("write.files", qPlans.map(_.files).sum.toDouble)
      add("residue.persisted_rdds", q.residueRdds.toDouble)
      add("residue.storage_mb", q.residueBytes / 1048576.0)
      add("self.query_s", (q.totalNs - q.constructNs - q.materializeNs) / 1e9)
      add("self.construct_s", q.constructNs / 1e9 - cJobCover)
      add("self.materialize_s", q.materializeNs / 1e9 - mJobCover)
      add("self.jobs_s", jobCover - taskCover)
      add(s"module.${q.module}.s", q.totalNs / 1e9)
    }
    val attempts = out.remove("stage_attempts").getOrElse(0.0)
    val failed = out.remove("failed_tasks").getOrElse(0.0)
    out("exec.cpu_util") =
      if (wallNs > 0) out("exec.task_cpu_s") / (wallNs / 1e9 * cores) else 0.0
    out("exec.skipped_stage_ratio") =
      if (attempts > 0) (attempts - out("exec.stages")) / attempts else 0.0
    out("exec.failed_task_ratio") =
      if (out("exec.tasks") > 0) failed / out("exec.tasks") else 0.0
    out("trace.unattributed_plans") = (plans.size - attributed).toDouble
    out.toMap
  }
}
