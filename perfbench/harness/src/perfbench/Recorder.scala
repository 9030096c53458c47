package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's event collector, registered through Spark's public
  * listener interfaces. It keeps raw events in memory: jobs with their
  * job group, stages with their tasks' metrics summed, and one entry per
  * SQL execution with its Catalyst phase times and the scan, broadcast
  * and write metrics of its executed plan. The harness attributes them
  * to queries after the run; this class does no attribution itself.
  *
  * Callbacks arrive on listener-bus threads, so every access is
  * synchronized on the recorder. */
final class Recorder extends SparkListener with QueryExecutionListener {

  private final class Job(val id: Int, val group: String, val submitMs: Long,
                          val stageIds: Seq[Int]) {
    var endMs: Long = -1L
  }

  private final class Stage(val id: Int, val attempt: Int) {
    var submitMs = -1L; var completeMs = -1L; var numTasks = 0
    var failed = false
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleWriteBytes = 0L; var shuffleRecords = 0L
    var shuffleReadBytes = 0L; var fetchWaitMs = 0L; var spillBytes = 0L
  }

  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stages = mutable.LinkedHashMap[(Int, Int), Stage]()
  private val executions = mutable.ArrayBuffer[Map[String, Any]]()

  // RDD block memory, for the checkpoint layer's peak
  private val blockMem = mutable.Map[String, Long]()
  private var blockTotal = 0L
  private val blockPeak = mutable.Map[Int, Long]()
  private var pass = 0

  /** Start attributing block-memory peaks to pass `p`. */
  def markPass(p: Int): Unit = synchronized {
    pass = p
    blockPeak(p) = blockTotal
  }

  private def stage(id: Int, attempt: Int): Stage =
    stages.getOrElseUpdate((id, attempt), new Stage(id, attempt))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs(e.jobId) = new Job(e.jobId, group, e.time, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = e.stageInfo
      val s = stage(i.stageId, i.attemptNumber())
      s.submitMs = i.submissionTime.getOrElse(-1L)
      s.completeMs = i.completionTime.getOrElse(-1L)
      s.numTasks = i.numTasks
      s.failed = i.failureReason.isDefined
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stage(e.stageId, e.stageAttemptId)
    s.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      s.spillBytes += m.diskBytesSpilled
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
    synchronized {
      val info = e.blockUpdatedInfo
      if (info.blockId.isRDD) {
        val key = info.blockId.name
        val now = if (info.storageLevel.isValid) info.memSize else 0L
        blockTotal += now - blockMem.getOrElse(key, 0L)
        if (now == 0L) blockMem.remove(key) else blockMem(key) = now
        blockPeak(pass) = math.max(blockPeak.getOrElse(pass, 0L), blockTotal)
      }
    }

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit =
    execution(funcName, qe, durationNs, None)

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit =
    execution(funcName, qe, 0L, Some(exception.getClass.getName))

  private def execution(funcName: String, qe: QueryExecution, durationNs: Long,
                        error: Option[String]): Unit = {
    val phases = qe.tracker.phases
    def phaseMs(name: String) = phases.get(name).map(_.durationMs).getOrElse(0L)
    val plan = try Some(qe.executedPlan) catch { case _: Exception => None }
    val scans = plan.toSeq.flatMap(Plans.collect(_) { case s: FileSourceScanExec => s })
    val bcasts = plan.toSeq.flatMap(Plans.collect(_) { case b: BroadcastExchangeExec => b })
    val isWrite = plan.exists(p =>
      Plans.find(p)(_.isInstanceOf[DataWritingCommandExec]).isDefined)
    def sum(nodes: Seq[SparkPlan], keys: String*): Long =
      nodes.map(n => keys.map(k => n.metrics.get(k).map(_.value).getOrElse(0L)).sum).sum
    val rec = Map[String, Any](
      "func" -> funcName,
      // attribution time: when planning ended, i.e. when execution began
      "at_ms" -> (if (phases.isEmpty) System.currentTimeMillis()
                  else phases.values.map(_.endTimeMs).max),
      "duration_s" -> durationNs / 1e9,
      "analysis_s" -> phaseMs("analysis") / 1e3,
      "optimizer_s" -> phaseMs("optimization") / 1e3,
      "planning_s" -> phaseMs("planning") / 1e3,
      "write" -> isWrite,
      "scan_rows" -> sum(scans, "numOutputRows"),
      "scan_bytes" -> sum(scans, "filesSize"),
      "broadcasts" -> bcasts.size,
      "broadcast_bytes" -> sum(bcasts, "dataSize"),
      "broadcast_build_s" -> sum(bcasts, "collectTime", "buildTime") / 1e3,
      "plan" -> (if (isWrite) plan.map(Plans.fingerprint) else None),
      "error" -> error)
    synchronized { executions += rec }
  }

  /** Everything recorded, as plain maps for the run record. */
  def snapshot(): Map[String, Any] = synchronized {
    Map(
      "jobs" -> jobs.values.map(j => Map(
        "id" -> j.id, "group" -> j.group, "submit_ms" -> j.submitMs,
        "end_ms" -> j.endMs, "stage_ids" -> j.stageIds)).toList,
      "stages" -> stages.values.map(s => Map(
        "id" -> s.id, "attempt" -> s.attempt, "submit_ms" -> s.submitMs,
        "complete_ms" -> s.completeMs, "num_tasks" -> s.numTasks,
        "failed" -> s.failed, "tasks" -> s.tasks, "run_s" -> s.runMs / 1e3,
        "cpu_s" -> s.cpuNs / 1e9, "gc_s" -> s.gcMs / 1e3,
        "shuffle_write_bytes" -> s.shuffleWriteBytes,
        "shuffle_records" -> s.shuffleRecords,
        "shuffle_read_bytes" -> s.shuffleReadBytes,
        "fetch_wait_s" -> s.fetchWaitMs / 1e3,
        "spill_bytes" -> s.spillBytes)).toList,
      "executions" -> executions.toList,
      "block_peak_bytes" -> blockPeak.toSeq.sortBy(_._1)
        .map { case (p, b) => Map("pass" -> p, "bytes" -> b) })
  }
}

/** Plan traversal that sees through adaptive plans and query stages. */
object Plans extends AdaptiveSparkPlanHelper {
  private val ids = Seq(
    "#\\d+L?" -> "#",                       // expression ids
    "\\[plan_id=\\d+\\]" -> "",             // exchange/stage ids
    "\\b(id|stage|plan_id)=#?\\d+" -> "$1=",
    "(file:)?/[^\\s,\\]\\)]+" -> "<path>",  // run-specific output paths
    "@[0-9a-f]{4,}" -> "@")

  /** Short hash of the executed plan's text with ids and paths
    * stripped, so two runs of the same plan shape fingerprint equal. */
  def fingerprint(plan: SparkPlan): String = {
    val text = ids.foldLeft(plan.toString) { case (s, (re, to)) => s.replaceAll(re, to) }
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(text.getBytes("UTF-8")).take(8).map(b => f"$b%02x").mkString
  }
}
