package graft.tools

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import graft.frontier.CrawlEngine

/** Per-stage profiler for the multi-round crawl: prints, for each stage,
  * wall duration, summed task time, and the RDD-scope name — to localize the
  * per-round fixed cost the 8-round bench figure pays (driver plan time
  * shows up as job wall minus task time).
  */
object RoundProf {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    val nPages = sys.env.getOrElse("GRAFT_PROF_PAGES", "20000").toInt
    val rounds = sys.env.getOrElse("GRAFT_PROF_ROUNDS", "8").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled",
        sys.env.getOrElse("GRAFT_PROF_AQE", "true"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // Bench's input exactly: 256 fixed slices + page weight 4, so the
    // profiled plan sees the same cache layout / drain-range partition spread
    val input = graft.BenchLevel.input(spark, cpus, nPages, nHosts = 16)
    val pages = input.pages
    val seeds = input.seeds(nPages)
    val cfg = input.multi(rounds)

    // warm
    CrawlEngine.run(spark, pages, seeds.limit(5000), cfg.copy(roundSize = 5000,
      maxRounds = 2), graft.util.TempDirs.create("graft-prof-warm-").toString,
      collectOutputs = false)

    final case class StageRow(id: Int, name: String, wallMs: Long, taskMs: Long,
      tasks: Int, gcMs: Long, inBytes: Long, shRead: Long, shWrite: Long,
      spill: Long, rdds: String)
    val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageRow]()
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, String)]()
    val listener = new SparkListener {
      private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobStart.put(j.jobId, (j.time,
          j.stageInfos.sortBy(_.stageId).lastOption
            .map(_.name.takeWhile(_ != '\n').take(60)).getOrElse("")))
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        val s = jobStart.get(j.jobId)
        if (s != null) jobs.add((j.jobId, j.time - s._1, s._2.take(60)))
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val wall = (for {a <- si.completionTime; b <- si.submissionTime}
          yield a - b).getOrElse(-1L)
        val tm = si.taskMetrics
        // which cached RDDs this stage reads — names the 256-task scans
        val rdds = si.rddInfos.filter(r => r.storageLevel.useMemory || r.name != null)
          .map(r => s"${r.name}#${r.id}(p${r.numPartitions})").take(6).mkString(",")
        stages.put(si.stageId, StageRow(si.stageId, si.name.takeWhile(_ != '\n').take(80),
          wall, tm.executorRunTime, si.numTasks, tm.jvmGCTime,
          tm.inputMetrics.bytesRead, tm.shuffleReadMetrics.totalBytesRead,
          tm.shuffleWriteMetrics.bytesWritten, tm.diskBytesSpilled, rdds))
      }
    }
    spark.sparkContext.addSparkListener(listener)
    // driver-side Catalyst phase cost (analysis/optimization/planning): the
    // per-round plans are rebuilt from scratch, so this is pure per-round
    // serial driver time that no core count can shrink
    val phaseNs = new java.util.concurrent.ConcurrentHashMap[String, Long]()
    val qeCount = new java.util.concurrent.atomic.AtomicLong()
    spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
      private def add(qe: org.apache.spark.sql.execution.QueryExecution): Unit = {
        qeCount.incrementAndGet()
        qe.tracker.phases.foreach { case (ph, s) =>
          phaseNs.merge(ph, (s.endTimeMs - s.startTimeMs) * 1000000L, java.lang.Long.sum(_, _)) }
      }
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit = add(qe)
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = add(qe)
    })
    val stateDir = graft.util.TempDirs.create("graft-prof-").toString
    val t0 = System.nanoTime()
    CrawlEngine.run(spark, pages, seeds, cfg, stateDir, collectOutputs = false)
    val wall = (System.nanoTime() - t0) / 1e9
    Thread.sleep(3000)
    spark.sparkContext.removeSparkListener(listener)

    import scala.jdk.CollectionConverters._
    val rows = stages.values.asScala.toSeq.sortBy(-_.wallMs)
    println(f"TOTAL wall ${wall}%.1f s  pages $nPages rounds ~$rounds")
    val totalStageWall = rows.map(_.wallMs).sum
    val totalTask = rows.map(_.taskMs).sum
    println(f"sum stage wall ${totalStageWall / 1000.0}%.1f s; sum task time ${totalTask / 1000.0}%.1f s (/$cpus cores = ${totalTask / 1000.0 / cpus}%.1f s)")
    val totalGc = rows.map(_.gcMs).sum
    println(f"sum gc ${totalGc / 1000.0}%.1f s (${100.0 * totalGc / math.max(1, totalTask)}%.0f%% of task time)")
    println("---- top stages by wall ----")
    rows.take(30).foreach(r =>
      println(f"stage ${r.id}%4d wall ${r.wallMs}%6d ms task ${r.taskMs}%7d ms gc ${r.gcMs}%6d n=${r.tasks}%3d in=${r.inBytes / 1048576}%5d MB shR=${r.shRead / 1048576}%4d shW=${r.shWrite / 1048576}%4d spill=${r.spill / 1048576}%4d  ${r.name}  [${r.rdds}]"))
    println("---- jobs ----")
    val js = jobs.asScala.toSeq.sortBy(_._1)
    println(f"jobs: ${js.size}; total job wall ${js.map(_._2).sum / 1000.0}%.1f s")
    js.sortBy(-_._2).take(15).foreach { case (id, ms, d) =>
      println(f"job $id%4d wall $ms%6d ms  $d") }
    println("---- catalyst phases (driver, summed over actions) ----")
    println(s"query executions: ${qeCount.get()}")
    phaseNs.forEach((ph, ns) => println(f"$ph%-16s ${ns / 1e9}%7.2f s"))
    println("---- jobs by call site ----")
    js.groupBy(_._3).toSeq.sortBy(-_._2.map(_._2).sum).foreach { case (site, g) =>
      println(f"${g.size}%3d jobs ${g.map(_._2).sum / 1000.0}%7.2f s  $site") }
    spark.stop()
  }
}
