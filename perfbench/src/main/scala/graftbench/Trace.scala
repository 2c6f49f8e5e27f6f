package graftbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.StorageLevel

/** A timed interval. Spans nest workload → pass → key →
  * {construction, sink} → job → stage through `parent`. Times are epoch
  * milliseconds, the clock Spark's listener events use. */
final case class Span(id: Int, parent: Int, name: String, startMs: Double, endMs: Double)

final class StageRec(val id: Int) {
  var submitMs = 0L
  var completeMs = 0L
  var tasks = 0
  var taskMs = 0L
  var smallTasks = 0
  var shuffleWrite = 0L
  var spill = 0L
  var output = 0L
}

final case class JobRec(id: Int, tag: String, startMs: Long, stageIds: Seq[Int], writesPin: Boolean) {
  var endMs: Long = startMs
}

/** Job, stage and task facts, keyed by the span tag the submitting thread
  * set as a local property. */
final class JobListener extends SparkListener {
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val jobById = mutable.Map.empty[Int, JobRec]
  val stages = mutable.Map.empty[Int, StageRec]

  private def stage(id: Int) = stages.getOrElseUpdate(id, new StageRec(id))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(JobListener.TagKey))).getOrElse("")
    // the result stage is created last; its first RDD is the job's target,
    // which carries a storage level exactly when the job writes a pin
    val result = e.stageInfos.maxBy(_.stageId)
    val pin = result.rddInfos.headOption.exists(_.storageLevel != StorageLevel.NONE)
    val j = JobRec(e.jobId, tag, e.time, e.stageIds, pin)
    jobs += j
    jobById(e.jobId) = j
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobById.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = stage(e.stageInfo.stageId)
    s.submitMs = e.stageInfo.submissionTime.getOrElse(0L)
    s.completeMs = e.stageInfo.completionTime.getOrElse(s.submitMs)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stage(e.stageId)
    val ms = e.taskInfo.duration
    s.tasks += 1
    s.taskMs += ms
    if (ms < JobListener.SmallTaskMs) s.smallTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.diskBytesSpilled
      s.output += m.outputMetrics.bytesWritten
    }
  }

  def clear(): Unit = synchronized { jobs.clear(); jobById.clear(); stages.clear() }
}

object JobListener {
  val TagKey = "graftbench.span"
  val SmallTaskMs = 50L
}

/** Every successful SQL execution, in completion order. */
final class PlanListener extends QueryExecutionListener {
  val done = mutable.ArrayBuffer.empty[QueryExecution]
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { done += qe }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  def clear(): Unit = synchronized { done.clear() }
}

object PlanFacts {
  /** Every node of the executed plan: through adaptive wrappers to the
    * final plan, into query stages and into subquery plans. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => s +: nodes(s.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  def exchanges(qe: QueryExecution): Int = nodes(qe.executedPlan).count(_.isInstanceOf[Exchange])

  def globalWindows(qe: QueryExecution): Int = nodes(qe.executedPlan).count {
    case w: WindowExec => w.partitionSpec.isEmpty
    case _ => false
  }

  /** Bytes of the parquet files the plan's scans selected. */
  def scannedBytes(qe: QueryExecution): Long = nodes(qe.executedPlan).collect {
    case s: FileSourceScanExec => s.metrics.get("filesSize").map(_.value).getOrElse(0L)
  }.sum

  def phaseSeconds(qe: QueryExecution, phase: String): Double =
    qe.tracker.phases.get(phase).map(_.durationMs / 1e3).getOrElse(0.0)
}

/** Both listeners, attached only for traced passes. */
final class Tracer(spark: SparkSession) {
  val jobs = new JobListener
  val plans = new PlanListener
  private var attached = false

  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(jobs)
    spark.listenerManager.register(plans)
    attached = true
  }

  def detach(): Unit = if (attached) {
    org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(jobs)
    spark.listenerManager.unregister(plans)
    attached = false
  }
}
