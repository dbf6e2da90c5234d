package org.apache.spark.perfbench

import scala.collection.mutable

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Scheduler- and Catalyst-side counters for the traced run.
  *
  * Lives in an `org.apache.spark` package only to reach
  * `listenerBus.waitUntilEmpty()`, so counters are complete before they
  * are read. Jobs carry the benchmark's span id and iteration as local
  * properties ([[SpanProp]], [[IterProp]]); stages and tasks inherit them
  * from their job. Every Spark job is also attributed to the source file
  * of its call site (its SQL execution's, else `StageInfo.name`, e.g.
  * `count at Dedup.scala:170`).
  */
class LayerListener extends SparkListener with QueryExecutionListener {
  import LayerListener._

  final class Counters {
    val byKey = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    def add(k: String, v: Double): Unit = byKey(k) += v
  }

  /** Counters per benchmark iteration. */
  val perIter = mutable.Map.empty[Int, Counters]
  /** Stage names whose call site named no source file (first few). */
  val unattributed = mutable.LinkedHashSet.empty[String]
  /** Jobs per span id, for the span tree's job counts. */
  val jobsPerSpan = mutable.Map.empty[Long, Int].withDefaultValue(0)

  private final case class JobInfo(iter: Int, site: String, start: Long)
  private val jobs = mutable.Map.empty[Int, JobInfo]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageSubmitted = mutable.Map.empty[(Int, Int), Long]
  private val stageFirstLaunch = mutable.Map.empty[(Int, Int), Long]
  private val execSite = mutable.Map.empty[Long, String]
  private val blocks = mutable.Map.empty[String, Long]
  private var storageBytes = 0L
  @volatile var currentIter: Int = -1

  private def c(iter: Int): Counters = synchronized(perIter.getOrElseUpdate(iter, new Counters))

  private def iterOf(stageId: Int): Option[Int] =
    stageJob.get(stageId).flatMap(jobs.get).map(_.iter)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val iter = props.flatMap(p => Option(p.getProperty(IterProp))).map(_.toInt).getOrElse(-1)
    val span = props.flatMap(p => Option(p.getProperty(SpanProp))).map(_.toLong)
    val result = if (e.stageInfos.isEmpty) None else Some(e.stageInfos.maxBy(_.stageId))
    // jobs that adaptive execution submits from its own threads carry no
    // program frame; their SQL execution's call site has it
    val sqlSite = props.flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
      .flatMap(id => execSite.get(id.toLong))
    val site = (sqlSite.toSeq ++ result.map(_.name).map(callSiteFile)).find(_ != "?").getOrElse {
      if (unattributed.size < 20) result.foreach(r => unattributed += r.name)
      "?"
    }
    jobs(e.jobId) = JobInfo(iter, site, e.time)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
    span.foreach(s => jobsPerSpan(s) += 1)
    val k = c(iter)
    k.add("spark.jobs", 1)
    k.add("spark.stages_planned", e.stageInfos.size)
    k.add(s"site.$site.jobs", 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      c(j.iter).add(s"site.${j.site}.job_ms", (e.time - j.start).toDouble)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val si = e.stageInfo
    stageSubmitted((si.stageId, si.attemptNumber())) =
      si.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    val key = (e.stageId, e.stageAttemptId)
    if (!stageFirstLaunch.contains(key)) stageFirstLaunch(key) = e.taskInfo.launchTime
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.reason != Success) iterOf(e.stageId).foreach(i => c(i).add("spark.failed_tasks", 1))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val iter = iterOf(si.stageId).getOrElse(-1)
    val site = stageJob.get(si.stageId).flatMap(jobs.get).map(_.site).getOrElse(callSiteFile(si.name))
    val k = c(iter)
    val key = (si.stageId, si.attemptNumber())
    k.add("spark.stages", 1)
    k.add("spark.tasks", si.numTasks)
    for (sub <- stageSubmitted.remove(key); first <- stageFirstLaunch.remove(key))
      k.add("spark.sched_wait_ms", math.max(0L, first - sub).toDouble)
    val m = si.taskMetrics
    if (m != null) {
      val runMs = m.executorRunTime.toDouble
      k.add("spark.task_ms", runMs)
      k.add("spark.task_cpu_ms", m.executorCpuTime / 1e6)
      k.add("spark.gc_ms", m.jvmGCTime.toDouble)
      val sr = m.shuffleReadMetrics
      k.add("spark.shuffle_read_mb", (sr.remoteBytesRead + sr.localBytesRead) / MB)
      k.add("spark.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / MB)
      k.add("spark.spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / MB)
      if (si.numTasks == 1)
        k.add("spark.single_task_stage_rows",
          (m.inputMetrics.recordsRead + sr.recordsRead).toDouble)
      k.add(s"site.$site.task_ms", runMs)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      execSite(s.executionId) = callSiteFile(s.description)
    }
    case _ =>
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    val id = info.blockId
    if (id.isRDD) {
      val name = id.name
      storageBytes -= blocks.getOrElse(name, 0L)
      if (info.storageLevel.isValid && info.memSize > 0) {
        if (!blocks.contains(name)) c(currentIter).add("pins.blocks", 1)
        blocks(name) = info.memSize
        storageBytes += info.memSize
      } else blocks.remove(name)
      val k = c(currentIter)
      val mb = storageBytes / MB
      if (mb > k.byKey("pins.peak_mb")) k.byKey("pins.peak_mb") = mb
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    phases(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    phases(qe)

  private def phases(qe: QueryExecution): Unit = synchronized {
    val k = c(currentIter)
    k.add("catalyst.plans", 1)
    qe.tracker.phases.foreach { case (phase, s) =>
      k.add(s"catalyst.${phase}_ms", s.durationMs.toDouble)
    }
  }
}

object LayerListener {
  val SpanProp = "perfbench.span"
  val IterProp = "perfbench.iter"
  private val MB = 1024.0 * 1024.0
  private val Site = """.* at ([A-Za-z0-9_$]+)\.scala:\d+.*""".r

  /** `count at Dedup.scala:170` → `Dedup`; anything else → `?`. */
  def callSiteFile(stageName: String): String = stageName match {
    case Site(file) => file
    case _ => "?"
  }

  /** Block until every posted event (scheduler and SQL) is delivered. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
