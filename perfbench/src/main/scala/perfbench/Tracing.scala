package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark-side records for a traced run, gathered only through Spark's
  * public listener APIs: one record per job (its call site, the span
  * that submitted it, stage/task counts and task metrics summed over
  * the job's stages) and one per query execution (Catalyst phase
  * times from `QueryExecution.tracker`). */
final class Tracing(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {

  private final class Job(val id: Int, val startMs: Long,
      val callSite: String, val span: String, val executions: Seq[String],
      val stream: Boolean) {
    var endMs = -1L
    var ok = true
    var stages = 0
    var tasks = 0
    var executorMs = 0L
    var gcMs = 0L
    var shuffleWriteB = 0L
    var inputB = 0L
    var outputB = 0L
  }

  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stageJob = mutable.HashMap[Int, Int]()
  /** SQL execution id -> the long call site of the action that started it. */
  private val executionSites = mutable.HashMap[String, String]()
  private val queries = mutable.ArrayBuffer[Map[String, Any]]()
  @volatile private var fenceSeen = false

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
    // the result stage's details are the job's long-form call site
    val site = Option(prop("callSite.long")).filter(_.nonEmpty).getOrElse(
      e.stageInfos.sortBy(_.stageId).lastOption.map(_.details).getOrElse(""))
    val executions = Seq(prop("spark.sql.execution.id"),
      prop("spark.sql.execution.root.id")).filter(_.nonEmpty)
    jobs(e.jobId) = new Job(e.jobId, e.time, site, prop(Recorder.SpanProp),
      executions, prop("sql.streaming.queryId").nonEmpty)
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stageJob.get(e.stageInfo.stageId).flatMap(jobs.get)
        .foreach(_.stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
      j.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        j.executorMs += m.executorRunTime
        j.gcMs += m.jvmGCTime
        j.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        j.inputB += m.inputMetrics.bytesRead
        j.outputB += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j.endMs = e.time
      j.ok = e.jobResult == JobSucceeded
      if (j.span == Tracing.Fence) fenceSeen = true
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      synchronized { executionSites(s.executionId.toString) = s.details }
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = record(qe)

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = record(qe)

  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def ms(k: String): Double = ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
    val start = if (ph.isEmpty) 0L else ph.values.map(_.startTimeMs).min
    synchronized {
      queries += Map("start" -> start, "analysis_ms" -> ms("analysis"),
        "optimization_ms" -> ms("optimization"), "planning_ms" -> ms("planning"))
    }
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  /** Run one marker job and wait until the listener has seen it end:
    * events are delivered in order, so everything before is recorded. */
  def drain(): Unit = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Recorder.SpanProp)
    sc.setLocalProperty(Recorder.SpanProp, Tracing.Fence)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(Recorder.SpanProp, prev)
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!fenceSeen && System.nanoTime() < deadline) Thread.sleep(20)
    // the query listener shares the bus; give its queue the same beat
    Thread.sleep(200)
  }

  /** A job's call site; adaptive query stages run from a Spark pool
    * thread with no caller frames, so theirs is the call site of the
    * action that started their SQL execution (or its root). */
  private def site(j: Job): String =
    (j.callSite +: j.executions.flatMap(executionSites.get))
      .find(_.contains("graft.")).getOrElse(j.callSite)

  def jobRecords: List[Map[String, Any]] = synchronized {
    jobs.values.filter(_.span != Tracing.Fence).map { j =>
      Map("id" -> j.id, "start" -> j.startMs, "end" -> j.endMs,
        "ok" -> j.ok, "span" -> j.span, "call_site" -> site(j),
        "stream" -> j.stream,
        "stages" -> j.stages, "tasks" -> j.tasks,
        "executor_ms" -> j.executorMs, "gc_ms" -> j.gcMs,
        "shuffle_write_b" -> j.shuffleWriteB, "input_b" -> j.inputB,
        "output_b" -> j.outputB)
    }.toList
  }

  def queryRecords: List[Map[String, Any]] = synchronized { queries.toList }
}

object Tracing {
  val Fence = "fence"
}
