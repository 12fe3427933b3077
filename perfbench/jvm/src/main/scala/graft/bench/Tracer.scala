package graft.bench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** A timed region of the benchmark's own code: the whole run, a pass,
  * the session build, the staging phase, one staged artifact, or one
  * op's `run` / materializing action. Spans are kept in memory and
  * written when the run ends.
  */
final case class Span(id: Int, parent: Int, kind: String, name: String,
    pass: Int, startMs: Long, var endMs: Long = -1L, var durNs: Long = 0L)

/** Counters attributed to one span. */
final class Counts {
  var jobs = 0L; var tasks = 0L
  var cpuNs = 0L; var runMs = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L
  var spill = 0L; var input = 0L; var output = 0L
  var sqlExecs = 0L; var exchanges = 0L; var scans = 0L
  var nativeCalls = 0L; var hofLambdas = 0L
  var batches = 0L; var inputRows = 0L
  var triggerMs = 0L; var addBatchMs = 0L; var planningMs = 0L
  var offsetsMs = 0L; var walMs = 0L
  var stateRows = 0L; var stateBytes = 0L
}

/** Executor-CPU total for the `cpu_s` end-to-end metric: the one
  * listener an untraced run registers.
  */
final class CpuMeter extends SparkListener {
  @volatile var cpuNs = 0L
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null) cpuNs += e.taskMetrics.executorCpuTime
}

/** The traced run's three listeners (Spark, streaming, SQL execution).
  * Jobs carry the span id of the thread that submitted them as a
  * local property (inherited by streaming and `inParallel` threads);
  * a job without one is attributed by its submission time. Tasks
  * follow their stage's job, SQL executions follow their first job,
  * and micro-batch progress follows its trigger time. Attribution runs
  * once, at the end, after the listener bus has drained.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val jobs = mutable.ArrayBuffer[Job]()
  private val stageJob = mutable.HashMap[Int, Int]()
  private val jobTasks = mutable.HashMap[Int, TaskSum]()
  private val execStart = mutable.HashMap[Long, Long]()
  private val execPlan = mutable.HashMap[Long, SparkPlanInfo]()
  private val progress = mutable.ArrayBuffer[Progress]()

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val tag = props.flatMap(p => Option(p.getProperty(SpanKey))).map(_.toInt)
      val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
      jobs += Job(e.jobId, tag, e.time, exec)
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      stageJob.get(e.stageId).foreach { j =>
        val s = jobTasks.getOrElseUpdate(j, new TaskSum)
        s.tasks += 1
        Option(e.taskMetrics).foreach { m =>
          s.cpuNs += m.executorCpuTime; s.runMs += m.executorRunTime
          s.shW += m.shuffleWriteMetrics.bytesWritten
          s.shR += m.shuffleReadMetrics.totalBytesRead
          s.spill += m.diskBytesSpilled; s.in += m.inputMetrics.bytesRead
          s.out += m.outputMetrics.bytesWritten
        }
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        execStart(s.executionId) = s.time; execPlan(s.executionId) = s.sparkPlanInfo
      case u: SparkListenerSQLAdaptiveExecutionUpdate =>
        execPlan(u.executionId) = u.sparkPlanInfo
      case _ =>
    }
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      import scala.jdk.CollectionConverters._
      val dur = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      progress += Progress(java.time.Instant.parse(p.timestamp).toEpochMilli, dur,
        p.numInputRows, p.stateOperators.map(_.numRowsTotal).sum,
        p.stateOperators.map(_.memoryUsedBytes).sum, p.runId.toString)
    }
  }

  private var attached = false
  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
    attached = true
  }
  def detach(): Unit = if (attached) {
    org.apache.spark.GraftBenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.streams.removeListener(streamListener)
    attached = false
  }

  /** Attribute every recorded event to one of `leaves`, the spans
    * events may land in.
    */
  def attribute(leaves: Seq[Span]): Map[Int, Counts] = {
    org.apache.spark.GraftBenchBus.drain(spark.sparkContext)
    val byStart = leaves.filter(_.endMs >= 0).sortBy(_.startMs).toArray
    val leafIds = byStart.map(_.id).toSet
    def at(t: Long): Option[Int] = {
      // the latest-starting leaf whose window holds t
      var i = byStart.length - 1
      while (i >= 0 && !(byStart(i).startMs <= t && t <= byStart(i).endMs)) i -= 1
      if (i >= 0) Some(byStart(i).id) else None
    }
    val out = mutable.HashMap[Int, Counts]()
    def c(id: Int) = out.getOrElseUpdate(id, new Counts)
    val execSpan = mutable.HashMap[Long, Int]()
    jobs.foreach { j =>
      val span = j.tag.filter(leafIds).orElse(at(j.time))
      span.foreach { id =>
        j.exec.foreach(x => if (!execSpan.contains(x)) execSpan(x) = id)
        val k = c(id); k.jobs += 1
        jobTasks.get(j.id).foreach { t =>
          k.tasks += t.tasks; k.cpuNs += t.cpuNs; k.runMs += t.runMs
          k.shuffleWrite += t.shW; k.shuffleRead += t.shR; k.spill += t.spill
          k.input += t.in; k.output += t.out
        }
      }
    }
    execPlan.foreach { case (x, plan) =>
      execSpan.get(x).orElse(execStart.get(x).flatMap(at)).foreach { id =>
        val k = c(id); val s = PlanShape.of(plan)
        k.sqlExecs += 1; k.exchanges += s.exchanges; k.scans += s.scans
        k.nativeCalls += s.nativeCalls; k.hofLambdas += s.hofLambdas
      }
    }
    // state size: the last progress of each streaming query
    val lastOfRun = progress.groupBy(_.runId).values.map(_.maxBy(_.time)).toSet
    progress.foreach { p =>
      at(p.time).foreach { id =>
        val k = c(id); def d(n: String*) = n.map(p.dur.getOrElse(_, 0L)).sum
        k.batches += 1; k.inputRows += p.rows
        k.triggerMs += d("triggerExecution"); k.addBatchMs += d("addBatch")
        k.planningMs += d("queryPlanning")
        k.offsetsMs += d("latestOffset", "getOffset", "getBatch")
        k.walMs += d("walCommit", "commitOffsets")
        if (lastOfRun(p)) { k.stateRows += p.stateRows; k.stateBytes += p.stateBytes }
      }
    }
    out.toMap
  }
}

object Tracer {
  val SpanKey = "graft.bench.span"

  private final case class Job(id: Int, tag: Option[Int], time: Long, exec: Option[Long])
  private final class TaskSum { var tasks, cpuNs, runMs, shW, shR, spill, in, out = 0L }
  private final case class Progress(time: Long, dur: Map[String, Long], rows: Long,
      stateRows: Long, stateBytes: Long, runId: String)
}

/** Plan-shape facts read from an executed plan's node tree. */
final case class PlanShape(exchanges: Int, scans: Int, nativeCalls: Int, hofLambdas: Int)

object PlanShape {
  private val Native = "graft_[a-z0-9_]+\\(".r
  private val Lambda = "lambdafunction\\(".r

  def of(p: SparkPlanInfo): PlanShape = {
    val here = PlanShape(
      if (p.nodeName == "Exchange" || p.nodeName == "BroadcastExchange") 1 else 0,
      if (p.nodeName.startsWith("Scan ") || p.nodeName.startsWith("BatchScan")) 1 else 0,
      Native.findAllIn(p.simpleString).size,
      Lambda.findAllIn(p.simpleString).size)
    p.children.map(of).foldLeft(here) { (a, b) =>
      PlanShape(a.exchanges + b.exchanges, a.scans + b.scans,
        a.nativeCalls + b.nativeCalls, a.hofLambdas + b.hofLambdas)
    }
  }
}
