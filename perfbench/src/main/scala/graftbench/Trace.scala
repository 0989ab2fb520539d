package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** One timed call into an engine layer. `parent` is the id of the
  * enclosing span (-1 for a span outside any other); the Spark jobs started
  * during it have ids `firstJob` until `firstJob + jobs`.
  */
final case class Span(id: Int, parent: Int, pass: Int, name: String,
    startNs: Long, endNs: Long, firstJob: Int, jobs: Int) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans around the benchmark's own calls into the engine, held in
  * memory until the run ends. Switched off, `apply` only runs the body,
  * so an untraced run does the same engine work and records nothing.
  */
final class Tracer(val on: Boolean, jobsSubmitted: () => Int) {
  val spans = ArrayBuffer.empty[Span]
  private var nextId = 0
  private var open = List(-1)
  var pass = -1

  def apply[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.head
      open = id :: open
      val j0 = jobsSubmitted()
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, parent, pass, name, t0, System.nanoTime(), j0, jobsSubmitted() - j0)
        open = open.tail
      }
    }

  /** Seconds spent in spans called `name` during pass `p`. */
  def seconds(p: Int, name: String): Double =
    spans.iterator.filter(s => s.pass == p && s.name == name).map(_.seconds).sum
}

/** Totals over every job, stage and task the listener has seen. */
final case class ExecCounts(
    jobsStarted: Long = 0, jobsEnded: Long = 0, pinJobs: Long = 0,
    stages: Long = 0, tasks: Long = 0,
    taskMs: Long = 0, cpuNs: Long = 0, gcMs: Long = 0,
    shuffleWriteBytes: Long = 0, shuffleReadBytes: Long = 0,
    spillBytes: Long = 0, mapRecords: Long = 0) {
  def -(o: ExecCounts): ExecCounts = ExecCounts(
    jobsStarted - o.jobsStarted, jobsEnded - o.jobsEnded, pinJobs - o.pinJobs,
    stages - o.stages, tasks - o.tasks,
    taskMs - o.taskMs, cpuNs - o.cpuNs, gcMs - o.gcMs,
    shuffleWriteBytes - o.shuffleWriteBytes, shuffleReadBytes - o.shuffleReadBytes,
    spillBytes - o.spillBytes, mapRecords - o.mapRecords)
}

/** The benchmark's own Spark listener. Events arrive on the listener
  * bus thread; the totals are read only through [[drain]].
  *
  * A pin job is one started by a `localCheckpoint` call. A
  * MapReduce map stage is one whose lineage holds the input files' RDD,
  * which `wholeTextFiles` names after its glob; its shuffle records are
  * the map function's output records.
  */
final class ExecListener(sc: SparkContext, mapInput: Option[String]) extends SparkListener {
  @volatile private var c = ExecCounts()
  /** Call site of every job seen, by job id. */
  val jobSites = scala.collection.concurrent.TrieMap.empty[Int, String]
  private val jobIdBase = BenchProbe.jobsSubmitted(sc)
  sc.addSparkListener(this)

  /** Call site of each SQL execution: the Dataset action that started it. */
  private val sqlSites = scala.collection.mutable.HashMap.empty[Long, String]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => sqlSites(s.executionId) = s.description
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    // A job belongs to the action of its SQL execution, also when adaptive
    // execution submits it from another thread; a job outside SQL is
    // named by its final stage.
    val site = Option(e.properties).flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
      .flatMap(id => sqlSites.get(id.toLong))
      .getOrElse(if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name)
    jobSites(e.jobId) = site
    c = c.copy(jobsStarted = c.jobsStarted + 1,
      pinJobs = c.pinJobs + (if (site.startsWith("localCheckpoint")) 1 else 0))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    c = c.copy(jobsEnded = c.jobsEnded + 1)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    val isMap = mapInput.exists(g => info.rddInfos.exists(_.name == g))
    val recs = if (isMap && info.taskMetrics != null)
      info.taskMetrics.shuffleWriteMetrics.recordsWritten else 0L
    c = c.copy(stages = c.stages + 1, mapRecords = c.mapRecords + recs)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    c = if (m == null) c.copy(tasks = c.tasks + 1)
    else c.copy(
      tasks = c.tasks + 1,
      taskMs = c.taskMs + m.executorRunTime,
      cpuNs = c.cpuNs + m.executorCpuTime,
      gcMs = c.gcMs + m.jvmGCTime,
      shuffleWriteBytes = c.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
      shuffleReadBytes = c.shuffleReadBytes + m.shuffleReadMetrics.totalBytesRead,
      spillBytes = c.spillBytes + m.memoryBytesSpilled)
  }

  /** Waits until the listener has seen the end of every job started so
    * far, then returns the totals. Fails if it saw a different number of
    * job starts than the scheduler handed out ids since registration.
    */
  def drain(): ExecCounts = {
    val submitted = BenchProbe.jobsSubmitted(sc) - jobIdBase
    BenchProbe.drainListeners(sc)
    val now = c
    require(now.jobsStarted == submitted && now.jobsEnded == submitted,
      s"listener saw ${now.jobsStarted} job starts and ${now.jobsEnded} ends " +
        s"for $submitted jobs submitted")
    now
  }

  def close(): Unit = sc.removeSparkListener(this)
}
