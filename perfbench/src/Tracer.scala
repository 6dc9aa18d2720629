package perfbench

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** Spans and per-layer counters recorded from outside the engine, through
  * Spark's public listener interfaces.
  *
  * The harness opens a query span, tags the client thread's jobs with the
  * id of the innermost open span (a local property), and closes the span
  * only after the listener bus has delivered every event the query posted.
  * Jobs and stages are attributed by that tag; everything else (Catalyst
  * phases, scan and write metrics) arrives between
  * open and drained close, so it belongs to the open query. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc: SparkContext = spark.sparkContext
  private val nextId = new AtomicLong(0)
  private val lock = new Object

  val spans = mutable.ArrayBuffer[Span]()
  private val byId = mutable.Map[Long, Span]()
  /** Counters per query span id. */
  val counters = mutable.LinkedHashMap[Long, mutable.Map[String, Double]]()

  @volatile private var openQuery: Long = -1L
  private val jobSpan = mutable.Map[Int, Span]()
  private val jobQuery = mutable.Map[Int, Long]()
  private val jobStages = mutable.Map[Int, Seq[Int]]()
  private val stageJob = mutable.Map[Int, Int]()
  private val stageSpan = mutable.Map[Int, Span]()
  private var drained = 0L
  private var untagged = 0L
  private var total = 0L

  def newSpan(parent: Long, name: String, label: String, start: Double): Span =
    lock.synchronized {
      record(Span(nextId.incrementAndGet(), parent, name, label, start, Double.NaN))
    }

  private def record(s: Span): Span = {
    spans += s
    byId(s.id) = s
    s
  }

  private def add(query: Long, key: String, v: Double): Unit =
    if (query >= 0)
      counters.getOrElseUpdate(query, mutable.Map[String, Double]())
        .updateWith(key)(o => Some(o.getOrElse(0.0) + v))

  /** Tag the current thread's jobs with span `id` (or clear the tag). */
  def tag(id: Option[Long]): Unit =
    sc.setLocalProperty(SpanProp, id.map(_.toString).orNull)

  def openQuerySpan(s: Span): Unit = lock.synchronized {
    counters(s.id) = mutable.Map[String, Double]()
    openQuery = s.id
  }

  /** Wait until the listener bus has delivered every event posted so far,
    * then stop attributing events to the open query. A job over zero
    * partitions posts its start event without running anything; when the
    * shared queue delivers it, every earlier event has been delivered. */
  def closeQuerySpan(): Unit = {
    val id = lock.synchronized { drained + 1 }
    sc.setLocalProperty(DrainProp, id.toString)
    try sc.emptyRDD[Int].count()
    finally sc.setLocalProperty(DrainProp, null)
    lock.synchronized {
      val deadline = System.nanoTime() + DrainTimeoutNs
      while (drained < id && System.nanoTime() < deadline)
        lock.wait(100)
      if (drained < id)
        add(openQuery, "trace.drain_timeouts", 1)
      openQuery = -1L
    }
  }

  /** Jobs the listener saw without a span tag. */
  def untaggedJobs: Long = lock.synchronized(untagged)

  /** Every job the listener saw, drain jobs aside. */
  def totalJobs: Long = lock.synchronized(total)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val props = Option(e.properties)
      if (props.exists(_.getProperty(DrainProp) != null)) {
        drained = math.max(drained, props.get.getProperty(DrainProp).toLong)
        lock.notifyAll()
      } else {
        val parent = props.flatMap(p => Option(p.getProperty(SpanProp)))
          .map(_.toLong).getOrElse(-1L)
        total += 1
        if (parent < 0) untagged += 1
        val q = queryOf(parent)
        val s = record(Span(nextId.incrementAndGet(), parent, "job",
          e.jobId.toString, e.time * 1000.0, Double.NaN))
        jobSpan(e.jobId) = s
        jobQuery(e.jobId) = q
        jobStages(e.jobId) = e.stageIds
        e.stageIds.foreach(st => if (!stageJob.contains(st)) stageJob(st) = e.jobId)
        add(q, "scheduler.jobs", 1)
        if (byId.get(parent).exists(_.name == "build"))
          add(q, "queries.build_jobs", 1)
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobSpan.remove(e.jobId).foreach { s =>
        s.end = e.time * 1000.0
        val q = jobQuery.getOrElse(e.jobId, -1L)
        val skipped = jobStages.getOrElse(e.jobId, Nil)
          .count(st => !stageSpan.get(st).exists(_.parent == s.id))
        add(q, "scheduler.skipped_stages", skipped)
      }
    }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      lock.synchronized {
        val info = e.stageInfo
        stageJob.get(info.stageId).flatMap(j => jobSpan.get(j)).foreach { js =>
          val s = record(Span(nextId.incrementAndGet(), js.id, "stage",
            s"${info.stageId}.${info.attemptNumber()}",
            info.submissionTime.map(_ * 1000.0).getOrElse(js.start),
            Double.NaN))
          stageSpan(info.stageId) = s
          add(jobQuery(stageJob(info.stageId)), "scheduler.stages", 1)
        }
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      lock.synchronized {
        val info = e.stageInfo
        stageSpan.get(info.stageId).foreach { s =>
          s.end = info.completionTime.map(_ * 1000.0).getOrElse(s.start)
        }
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val q = stageJob.get(e.stageId).flatMap(jobQuery.get).getOrElse(openQuery)
      add(q, "scheduler.tasks", 1)
      if (e.reason != Success) add(q, "scheduler.task_failures", 1)
      add(q, "task.busy_ms", e.taskInfo.duration)
      val m = e.taskMetrics
      if (m != null) {
        add(q, "executor.run_ms", m.executorRunTime)
        add(q, "executor.cpu_ns", m.executorCpuTime)
        add(q, "executor.gc_ms", m.jvmGCTime)
        add(q, "driver.result_bytes", m.resultSize)
        add(q, "tables.input_bytes", m.inputMetrics.bytesRead)
        add(q, "shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead)
        add(q, "shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten)
        add(q, "spill.memory_bytes", m.memoryBytesSpilled)
        add(q, "spill.disk_bytes", m.diskBytesSpilled)
        add(q, "sources.bytes_written", m.outputMetrics.bytesWritten)
        add(q, "sources.records_written", m.outputMetrics.recordsWritten)
      }
    }
  }

  /** The query span enclosing span `id`, or the open query if untagged. */
  private def queryOf(id: Long): Long = byId.get(id) match {
    case Some(s) if s.name == "query" => s.id
    case Some(s) => queryOf(s.parent)
    case None => openQuery
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      count(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      count(qe)

    private def count(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases
      def ms(p: String): Double = phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
      val plan = Option(qe.executedPlan)
      val filesRead = plan.map(p => PlanWalk.collectWithSubqueries(p) {
        case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
      }.sum).getOrElse(0L)
      val filesWritten = plan.map(p => PlanWalk.collectWithSubqueries(p) {
        case w: DataWritingCommandExec => w.cmd.metrics.get("numFiles").map(_.value).getOrElse(0L)
      }.sum).getOrElse(0L)
      lock.synchronized {
        add(openQuery, "catalyst.analysis_ms", ms("analysis"))
        add(openQuery, "catalyst.optimization_ms", ms("optimization"))
        add(openQuery, "catalyst.planning_ms", ms("planning"))
        add(openQuery, "tables.files_read", filesRead)
        add(openQuery, "sources.files_written", filesWritten)
      }
    }
  }

  def install(): Unit = {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
  }

  def uninstall(): Unit = {
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
  }
}

object Tracer {
  /** One recorded span; times are epoch microseconds. */
  final case class Span(id: Long, parent: Long, name: String, label: String,
      var start: Double, var end: Double)

  val SpanProp = "perfbench.span"
  val DrainProp = "perfbench.drain"
  val DrainTimeoutNs: Long = 10L * 1000 * 1000 * 1000

  object PlanWalk extends AdaptiveSparkPlanHelper
}
