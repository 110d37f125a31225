package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Raw trace of one session, collected from outside the program.
  *
  * A [[SparkListener]] records jobs, stages (task metrics summed per
  * stage), SQL executions and RDD block updates; a
  * [[QueryExecutionListener]] records each action's planning phases. The
  * harness adds its own spans (pass, query, build, exec) and links jobs to
  * them through the `perfbench.span` local property. Everything stays in
  * memory and is written once, by [[json]], when the run ends; the
  * arithmetic (self times, interval unions, attribution) is done by the
  * Python side of the benchmark.
  */
final class Trace extends SparkListener with QueryExecutionListener {
  import Trace._

  private val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val jobById = mutable.Map.empty[Int, JobRec]
  private val stages = mutable.LinkedHashMap.empty[(Int, Int), StageRec]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val sqls = mutable.LinkedHashMap.empty[Long, SqlRec]
  private val plans = mutable.ArrayBuffer.empty[PlanRec]
  private val spans = mutable.ArrayBuffer.empty[SpanRec]
  private val blocks = mutable.Map.empty[String, Long]
  private var blockBytes = 0L
  private var blockPeak = 0L

  // ---- harness side -------------------------------------------------

  /** Name of the traced pass. Planning records carry it: their execution
    * ids are not the SQL execution ids, and the bus is drained before the
    * harness moves to another pass. */
  @volatile var pass = ""

  def span(id: Int, parent: Int, kind: String, name: String,
      start: Double, end: Double): Unit = synchronized {
    spans += SpanRec(id, parent, kind, name, start, end)
  }

  /** Peak of RDD block storage (memory + disk) since the last call. */
  def takeBlockPeak(): Long = synchronized {
    val p = blockPeak
    blockPeak = blockBytes
    p
  }

  // ---- SparkListener ------------------------------------------------

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k))).orNull
    // the result stage is created last, so it has the largest id; its
    // details are the job's call site (long form)
    val result = e.stageInfos.maxByOption(_.stageId)
    val j = JobRec(e.jobId, e.time, e.stageIds, prop(SpanKey),
      prop("spark.sql.execution.id"), result.map(_.details).orNull)
    jobs += j
    jobById(e.jobId) = j
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobById.get(e.jobId).foreach { j =>
      j.end = e.time
      j.ok = e.jobResult == JobSucceeded
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized { stage(e.stageInfo).submitted = e.stageInfo.submissionTime.getOrElse(-1L) }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = stage(e.stageInfo)
    s.submitted = e.stageInfo.submissionTime.getOrElse(s.submitted)
    s.completed = e.stageInfo.completionTime.getOrElse(-1L)
    s.failed = e.stageInfo.failureReason.isDefined
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stages.getOrElseUpdate((e.stageId, e.stageAttemptId),
      new StageRec(e.stageId, e.stageAttemptId, stageJob.getOrElse(e.stageId, -1), 0))
    val i = e.taskInfo
    val m = e.taskMetrics
    s.tasks += 1
    if (m != null) {
      val in = m.inputMetrics
      val sr = m.shuffleReadMetrics
      val sw = m.shuffleWriteMetrics
      val records = in.recordsRead + m.outputMetrics.recordsWritten +
        sr.recordsRead + sw.recordsWritten
      if (records > 0) s.useful += 1
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      // the web UI's scheduler delay: what the task's wall time does not
      // spend deserializing, running, serializing or fetching its result
      val gettingResult =
        if (i.gettingResultTime > 0) i.finishTime - i.gettingResultTime else 0L
      s.delayMs += math.max(0L, i.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - gettingResult)
      s.shuffleWrite += sw.bytesWritten
      s.shuffleRead += sr.remoteBytesRead + sr.localBytesRead
      s.fetchWaitMs += sr.fetchWaitTime
      s.spillDisk += m.diskBytesSpilled
      s.spillMem += m.memoryBytesSpilled
      s.inputBytes += in.bytesRead
      s.inputRecords += in.recordsRead
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD) {
      val key = b.blockManagerId.executorId + "/" + b.blockId.name
      val now = if (b.storageLevel.isValid) b.memSize + b.diskSize else 0L
      blockBytes += now - blocks.getOrElse(key, 0L)
      if (now == 0L) blocks.remove(key) else blocks(key) = now
      blockPeak = math.max(blockPeak, blockBytes)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        sqls(s.executionId) = SqlRec(s.executionId,
          s.rootExecutionId.getOrElse(s.executionId), s.time, s.details)
      case s: SparkListenerSQLExecutionEnd =>
        sqls.get(s.executionId).foreach(_.end = s.time)
      case _ =>
    }
  }

  // ---- QueryExecutionListener ---------------------------------------

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    plan(funcName, qe, ok = true)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    plan(funcName, qe, ok = false)

  private def plan(funcName: String, qe: QueryExecution, ok: Boolean): Unit = synchronized {
    val phases = qe.tracker.phases
    def ms(p: String) = phases.get(p).map(_.durationMs).getOrElse(0L)
    plans += PlanRec(pass, funcName, ms("analysis"), ms("optimization"),
      ms("planning"), ok)
  }

  private def stage(info: StageInfo): StageRec = {
    val s = stages.getOrElseUpdate((info.stageId, info.attemptNumber()),
      new StageRec(info.stageId, info.attemptNumber(),
        stageJob.getOrElse(info.stageId, -1), info.numTasks))
    s.numTasks = info.numTasks
    s
  }

  // ---- output -------------------------------------------------------

  def json: String = synchronized {
    Json.obj(Seq(
      "spans" -> spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "kind" -> s.kind, "name" -> s.name, "start" -> s.start, "end" -> s.end)),
      "jobs" -> jobs.map(j => Map("id" -> j.id, "start" -> j.start,
        "end" -> j.end, "ok" -> j.ok, "stages" -> j.stageIds, "span" -> j.span,
        "sql" -> j.sql, "callsite" -> j.callSite)),
      "stages" -> stages.values.map(s => Map("id" -> s.id,
        "attempt" -> s.attempt, "job" -> s.job, "submitted" -> s.submitted,
        "completed" -> s.completed, "failed" -> s.failed,
        "num_tasks" -> s.numTasks, "tasks" -> s.tasks, "useful" -> s.useful,
        "run_ms" -> s.runMs, "cpu_ns" -> s.cpuNs, "gc_ms" -> s.gcMs,
        "delay_ms" -> s.delayMs, "shuffle_write" -> s.shuffleWrite,
        "shuffle_read" -> s.shuffleRead, "fetch_wait_ms" -> s.fetchWaitMs,
        "spill_disk" -> s.spillDisk, "spill_mem" -> s.spillMem,
        "input_bytes" -> s.inputBytes, "input_records" -> s.inputRecords)),
      "sql" -> sqls.values.map(q => Map("id" -> q.id, "root" -> q.root,
        "start" -> q.start, "end" -> q.end, "details" -> q.details)),
      "plans" -> plans.map(p => Map("pass" -> p.pass, "func" -> p.func,
        "analysis_ms" -> p.analysisMs, "optimization_ms" -> p.optimizationMs,
        "planning_ms" -> p.planningMs, "ok" -> p.ok))))
  }
}

object Trace {
  val SpanKey = "perfbench.span"

  final case class JobRec(id: Int, start: Long, stageIds: Seq[Int],
      span: String, sql: String, callSite: String) {
    var end: Long = -1L
    var ok: Boolean = false
  }

  final class StageRec(val id: Int, val attempt: Int, val job: Int, var numTasks: Int) {
    var submitted = -1L
    var completed = -1L
    var failed = false
    var tasks = 0L
    var useful = 0L
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var delayMs = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var fetchWaitMs = 0L
    var spillDisk = 0L
    var spillMem = 0L
    var inputBytes = 0L
    var inputRecords = 0L
  }

  final case class SqlRec(id: Long, root: Long, start: Long, details: String) {
    var end: Long = -1L
  }

  final case class PlanRec(pass: String, func: String, analysisMs: Long,
      optimizationMs: Long, planningMs: Long, ok: Boolean)

  final case class SpanRec(id: Int, parent: Int, kind: String, name: String,
      start: Double, end: Double)
}
