package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed section around a call into the engine. `kind` names the layer
  * (e.g. `SparkEntry.build`), `query` the board query or lifecycle step the
  * section belongs to. Wall clock in ms attributes listener events; the
  * monotonic clock gives the duration. */
final case class Span(id: Int, name: String, kind: String, parent: Int, query: String,
    startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Span recorder for the single client thread. Spans are kept in memory and
  * written out when the run ends. When `labelJobs` is on (traced runs only)
  * every span also sets the Spark job group, so jobs submitted from the
  * client thread attribute exactly; jobs from other threads (stream
  * executions) attribute by submission time. */
object Spans {
  val done = ArrayBuffer.empty[Span]
  private var open = List.empty[(Int, String)] // (id, query) of open spans
  private var nextId = 1
  @volatile var labelJobs = false
  @volatile var sc: SparkContext = _

  def apply[T](name: String, kind: String, query: String = "")(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.map(_._1).getOrElse(0)
    val q = if (query.nonEmpty) query else open.headOption.map(_._2).getOrElse("")
    open = (id, q) :: open
    if (labelJobs && sc != null) sc.setJobGroup(s"gb:$id", s"$kind $name", interruptOnCancel = false)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      done += Span(id, name, kind, parent, q, t0, t1, startMs, System.currentTimeMillis())
      open = open.tail
      if (labelJobs && sc != null) {
        if (parent == 0) sc.clearJobGroup()
        else sc.setJobGroup(s"gb:$parent", "", interruptOnCancel = false)
      }
    }
  }

  def ofKind(kind: String): Seq[Span] = done.filter(_.kind == kind).toSeq
  def since(mark: Int): Seq[Span] = done.filter(_.id > mark).toSeq
  def mark: Int = nextId - 1
}

/** Task-level counters of one job. */
final class TaskAgg {
  var tasks = 0L; var stages = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L; var input = 0L; var output = 0L
  def +=(o: TaskAgg): Unit = {
    tasks += o.tasks; stages += o.stages; runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite; spill += o.spill
    input += o.input; output += o.output
  }
}

final case class JobRec(jobId: Int, submitMs: Long, group: String, callSite: String) {
  val agg = new TaskAgg
}

/** Spark scheduler events: jobs, stages and task metrics keyed by job. */
final class JobTrace extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    val group = p.flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse("")
    val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")
    jobs.put(e.jobId, JobRec(e.jobId, e.time, group, site))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  private def aggOf(stageId: Int): Option[TaskAgg] =
    Option(stageJob.get(stageId)).flatMap(j => Option(jobs.get(j))).map(_.agg)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    aggOf(e.stageInfo.stageId).foreach(a => a.synchronized { a.stages += 1 })

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    aggOf(e.stageId).foreach { a => a.synchronized {
      a.tasks += 1
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.input += m.inputMetrics.bytesRead
        a.output += m.outputMetrics.bytesWritten
      }
    } }
  }
}

final case class PlanRec(startMs: Long, analysisS: Double, optimizationS: Double, planningS: Double)

object PlanShape extends AdaptiveSparkPlanHelper {
  /** Broadcast hash joins in an executed plan, adaptive stages included. */
  def broadcastJoins(plan: SparkPlan): Int =
    try collect(plan) { case b: BroadcastHashJoinExec => b }.size
    catch { case _: Throwable => 0 }
}

/** Catalyst phase timings of every completed action, from its
  * `QueryExecution.tracker`. */
final class PlanTrace extends QueryExecutionListener {
  val events = new ConcurrentLinkedQueue[PlanRec]()

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    def secs(p: String): Double =
      phases.get(p).map(s => (s.endTimeMs - s.startTimeMs) / 1e3).getOrElse(0.0)
    val start = if (phases.isEmpty) System.currentTimeMillis() else phases.values.map(_.startTimeMs).min
    events.add(PlanRec(start, secs("analysis"), secs("optimization"), secs("planning")))
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

final case class StreamRec(timeMs: Long, addBatchS: Double, planningS: Double,
    walCommitS: Double, stateCommitS: Double, stateRows: Long)

/** Micro-batch progress of every streaming query. Registered through
  * `spark.sql.streaming.streamingQueryListeners`, so queries started on child
  * sessions (each with its own query manager) report here too. */
class StreamTrace extends StreamingQueryListener {
  import StreamingQueryListener._
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = if (StreamTrace.active) {
    val p = e.progress
    val d = p.durationMs.asScala
    def secs(k: String): Double = d.get(k).map(_.longValue / 1e3).getOrElse(0.0)
    val ts = try java.time.Instant.parse(p.timestamp).toEpochMilli
      catch { case _: Throwable => System.currentTimeMillis() }
    StreamTrace.events.add(StreamRec(ts, secs("addBatch"), secs("queryPlanning"), secs("walCommit"),
      p.stateOperators.map(_.commitTimeMs).sum / 1e3, p.stateOperators.map(_.numRowsTotal).sum))
  }
}

object StreamTrace {
  @volatile var active = false
  val events = new ConcurrentLinkedQueue[StreamRec]()
}

/** The listeners of one traced run and the attribution of their events to
  * the innermost span that caused them. */
final class Tracer {
  val jobs = new JobTrace
  val plans = new PlanTrace

  def attach(spark: org.apache.spark.sql.SparkSession): Unit = {
    spark.sparkContext.addSparkListener(jobs)
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].listenerManager.register(plans)
    StreamTrace.active = true
    Spans.sc = spark.sparkContext
    Spans.labelJobs = true
  }

  def detach(spark: org.apache.spark.sql.SparkSession): Unit = {
    drain(spark)
    spark.sparkContext.removeSparkListener(jobs)
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].listenerManager.unregister(plans)
    StreamTrace.active = false
    Spans.labelJobs = false
    spark.sparkContext.clearJobGroup()
  }

  def drain(spark: org.apache.spark.sql.SparkSession): Unit =
    org.apache.spark.BenchBus.drain(spark.sparkContext)

  /** Innermost span whose wall interval holds `ms`. */
  private def at(spans: Seq[Span], ms: Long): Option[Span] =
    spans.filter(s => s.startMs <= ms && ms <= s.endMs).sortBy(-_.id).headOption

  def jobsBySpan(spans: Seq[Span]): Map[Int, Seq[JobRec]] = {
    val ids = spans.map(_.id).toSet
    jobs.jobs.values.asScala.toSeq.flatMap { j =>
      val byGroup = if (j.group.startsWith("gb:")) j.group.drop(3).toIntOption.filter(ids) else None
      byGroup.orElse(at(spans, j.submitMs).map(_.id)).map(_ -> j)
    }.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
  }

  def plansBySpan(spans: Seq[Span]): Map[Int, Seq[PlanRec]] =
    plans.events.asScala.toSeq.flatMap(p => at(spans, p.startMs).map(_.id -> p))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap

  def streamsBySpan(spans: Seq[Span]): Map[Int, Seq[StreamRec]] =
    StreamTrace.events.asScala.toSeq.flatMap(p => at(spans, p.timeMs).map(_.id -> p))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
}
