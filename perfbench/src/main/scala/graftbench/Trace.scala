package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** A closed interval of wall clock, in epoch milliseconds. */
final case class Interval(start: Long, end: Long) {
  def ms: Long = end - start
}

/** One finished Spark stage as the listener saw it. `module` is the
  * `graft.<module>` package of the first engine frame in the stage's call
  * site, or "unattributed".
  */
final case class StageRec(stageId: Int, jobId: Int, name: String, module: String,
    interval: Interval, numTasks: Int, runMs: Long, cpuNs: Long, gcMs: Long,
    inputBytes: Long, shuffleWriteBytes: Long, outputBytes: Long, taskMsMax: Long,
    taskMsMedian: Long)

final case class JobRec(jobId: Int, interval: Interval, stageIds: Seq[Int])

/** A span around one call the benchmark makes into the program: a crawl
  * `run()`, an API operation or a kernel probe. Jobs whose interval lies
  * inside a span are its children.
  */
final case class Span(id: Int, name: String, parent: Option[Int], interval: Interval)

/** Benchmark-owned listener: records every job and stage the session runs,
  * with task totals per stage, in memory. Nothing is written until the run
  * ends.
  */
final class StageListener extends SparkListener {
  private val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val jobStart = mutable.Map.empty[Int, (Long, Seq[Int])]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stages = mutable.ArrayBuffer.empty[StageRec]
  private val taskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private val synced = mutable.Set.empty[String]
  private var syncs = 0

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    if (group.startsWith(StageListener.SyncGroup)) synced += group
    else {
      jobStart(e.jobId) = (e.time, e.stageIds)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (t0, ss) => jobs += JobRec(e.jobId, Interval(t0, e.time), ss) }
  }

  /** Events reach a listener asynchronously. This runs a marker job and
    * waits until the listener has seen it start; the marker itself is not
    * recorded. Events of jobs that ended before the marker was submitted
    * were posted before it, so they have been delivered by then.
    */
  def sync(spark: org.apache.spark.sql.SparkSession): Unit = {
    val tag = synchronized { syncs += 1; s"${StageListener.SyncGroup}-$syncs" }
    val sc = spark.sparkContext
    sc.setJobGroup(tag, "listener sync")
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.currentTimeMillis() + 30000L
    while (!synchronized(synced.contains(tag))) {
      if (System.currentTimeMillis() > deadline) throw new IllegalStateException("listener events stalled")
      Thread.sleep(5)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.taskInfo != null && stageJob.contains(e.stageId))
      taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty[Long]) += e.taskInfo.duration
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    if (stageJob.contains(i.stageId)) record(i)
  }

  private def record(i: StageInfo): Unit = {
    val m = i.taskMetrics
    val ts = taskMs.remove(i.stageId).map(_.sorted).getOrElse(mutable.ArrayBuffer.empty[Long])
    val start = i.submissionTime.getOrElse(0L)
    stages += StageRec(i.stageId, stageJob.getOrElse(i.stageId, -1), i.name, StageListener.module(i.details),
      Interval(start, i.completionTime.getOrElse(start)), i.numTasks,
      if (m == null) 0L else m.executorRunTime,
      if (m == null) 0L else m.executorCpuTime,
      if (m == null) 0L else m.jvmGCTime,
      if (m == null) 0L else m.inputMetrics.bytesRead,
      if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
      if (m == null) 0L else m.outputMetrics.bytesWritten,
      if (ts.isEmpty) 0L else ts.last,
      if (ts.isEmpty) 0L else ts(ts.length / 2))
  }

  def jobsSnapshot: Vector[JobRec] = synchronized(jobs.toVector)
  def stagesSnapshot: Vector[StageRec] = synchronized(stages.toVector)
}

object StageListener {
  val SyncGroup = "graftbench-sync"
  private val EngineFrame = """graft\.([a-z]+)\.""".r

  /** The engine module a stage belongs to: the package of the first
    * `graft.<module>.` frame in its call-site details. Frames of the
    * benchmark itself (`graftbench.`) never match.
    */
  def module(details: String): String =
    details.linesIterator.map(_.trim.stripPrefix("at ")).collectFirst {
      case l if l.startsWith("graft.") => EngineFrame.findPrefixOf(l).map(p => s"graft.${p.stripPrefix("graft.").stripSuffix(".")}")
    }.flatten.getOrElse("unattributed")
}

/** Spans recorded by the benchmark around its calls into the program. */
final class Spans {
  private val buf = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  private val stack = mutable.Stack.empty[Int]

  def apply[A](name: String)(f: => A): A = {
    val id = synchronized { nextId += 1; nextId }
    val parent = stack.headOption
    stack.push(id)
    val t0 = System.currentTimeMillis()
    try f
    finally {
      stack.pop()
      buf += Span(id, name, parent, Interval(t0, System.currentTimeMillis()))
    }
  }

  def all: Vector[Span] = buf.toVector
}

object Intervals {
  /** Total length of the union of intervals, clipped to `within`. */
  def covered(xs: Seq[Interval], within: Interval): Long = {
    val clipped = xs.flatMap { i =>
      val s = math.max(i.start, within.start)
      val e = math.min(i.end, within.end)
      if (e > s) Some(Interval(s, e)) else None
    }.sortBy(_.start)
    var total = 0L
    var curS = -1L
    var curE = -1L
    clipped.foreach { i =>
      if (curE < 0 || i.start > curE) {
        if (curE >= 0) total += curE - curS
        curS = i.start; curE = i.end
      } else curE = math.max(curE, i.end)
    }
    if (curE >= 0) total += curE - curS
    total
  }

  def inside(i: Interval, span: Interval): Boolean = i.start >= span.start && i.end <= span.end
}
