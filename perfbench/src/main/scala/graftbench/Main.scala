package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.frontier.{CrawlConfig, CrawlEngine}
import graft.tables.SnapshotStore

/** Command-line entry: one workload, one seed, one timed window.
  *
  * {{{
  * graftbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --out <dir>
  * }}}
  *
  * Prints a `machine` line, then as its last line one JSON object with
  * `correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics
  * when untraced, the per-layer metrics when traced. Exits 1 when any
  * output check failed, 2 on a usage or set-up error.
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean, out: Path)

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(Workloads.names.contains(w), s"unknown workload $w (known: ${Workloads.names.mkString(", ")})")
    val trace = need("trace") match {
      case "0" => false
      case "1" => true
      case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, not $t")
    }
    val secs = need("seconds").toInt
    require(secs >= 1, "--seconds must be at least 1")
    Opts(w, need("seed").toLong, secs, trace, Paths.get(kv.getOrElse("out", ".bench_build/perfbench")))
  }

  /** 1 when any check failed: a wrong output is never a fast one. */
  def exitCode(r: Result): Int = if (r.correct) 0 else 1

  def main(args: Array[String]): Unit = {
    val o = try parse(args) catch {
      case e: IllegalArgumentException =>
        System.err.println(s"perfbench: ${e.getMessage}")
        sys.exit(2)
    }
    val r = Workloads.run(o)
    r.errors.foreach(e => System.err.println(s"perfbench check failed: $e"))
    println(s"machine ${Machine.json}")
    println(r.json)
    System.out.flush()
    sys.exit(exitCode(r))
  }
}

/** The value of one metric, with its unit. */
final case class Metric(value: Double, unit: String)

final case class Result(attempted: Long, failed: Long, metrics: Seq[(String, Metric)], errors: Vector[String]) {
  def correct: Boolean = failed == 0 && attempted > 0
  def json: String = Json.obj(Seq(
    "correct" -> correct.toString,
    "attempted" -> attempted.toString,
    "failed" -> failed.toString,
    "metrics" -> Json.obj(metrics.map { case (n, m) =>
      n -> Json.obj(Seq("value" -> Json.num(m.value), "unit" -> Json.str(m.unit)))
    })))
}

/** The shape of the machine a result ran on. */
object Machine {
  def nproc: Int = Runtime.getRuntime.availableProcessors()
  def memGiB: Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getTotalMemorySize / math.pow(2, 30)
  def json: String = Json.obj(Seq(
    "nproc" -> nproc.toString,
    "mem_gib" -> f"$memGiB%.1f",
    "jvm" -> Json.str(s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}"),
    "spark" -> Json.str(org.apache.spark.SPARK_VERSION)))

  /** Peak resident set of this process, from the kernel's high-water mark. */
  def peakRssMb: Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala.find(_.startsWith("VmHWM:"))
      .getOrElse(throw new IllegalStateException("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())
  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / math.pow(2, 20)
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }
}

/** The workloads the benchmark knows; see README.md for why each. */
object Workloads {
  val Hosts = 16
  val CrawlPages = 300
  val CrawlWeight = 4
  val DrainRounds = 3
  val WarmRounds = 1
  val ApiPages = 64
  val ApiCycles = 10
  val SetupReps = 3
  val UnitSeconds = 12.0
  val ProbeSample = 48

  val names: Seq[String] = Seq("drain_rounds", "api_requests")

  val EndToEnd: Seq[(String, String)] = Seq(
    "urls_per_s" -> "1/s", "op_ms_p50" -> "ms", "setup_s" -> "s", "peak_rss_mb" -> "MB")

  val WrittenTables: Seq[String] = Seq("outputs", "seen", "frontier_adds", "frontier_rm", "filters", "lineage")

  val PerLayer: Seq[(String, String)] = Seq(
    "frontier.jobs_per_round" -> "count", "frontier.tasks_per_round" -> "count",
    "frontier.driver_idle_s" -> "s", "frontier.round_s_p50" -> "s", "frontier.round_s_max" -> "s",
    "frontier.task_cpu_s" -> "s", "frontier.gc_share" -> "ratio", "frontier.task_skew" -> "ratio",
    "frontier.scan_mb_per_page" -> "MB", "frontier.shuffle_mb_per_page" -> "MB",
    "frontier.new_per_candidate" -> "ratio", "frontier.robots_blocked_frac" -> "ratio",
    "frontier.cuckoo_contains_ns" -> "ns", "frontier.cuckoo_add_ns" -> "ns",
    "frontier.cuckoo_fp_rate" -> "ratio", "frontier.cuckoo_bytes_per_key" -> "B",
    "frontier.robots_allowed_ns" -> "ns",
    "dom.parse_us_per_page" -> "us", "dom.alloc_kib_per_page" -> "KiB",
    "detect.detect_us_per_page" -> "us", "detect.alloc_kib_per_page" -> "KiB",
    "urls.links_us_per_page" -> "us",
    "kernel.pages_per_s_1t" -> "1/s", "kernel.pages_per_s_nt" -> "1/s",
    "kernel.thread_eff" -> "ratio", "kernel.share_of_wall" -> "ratio",
    "tables.write_task_s" -> "s", "tables.files_per_round" -> "count") ++
    WrittenTables.map(t => s"tables.written_mb_per_round.$t" -> "MB") ++ Seq(
    "tables.delta_dirs_at_end" -> "count") ++
    Api.Ops.map(op => s"api.jobs_per_op.$op" -> "count") ++
    Api.Ops.map(op => s"api.${op}_ms_p50" -> "ms") ++ Seq(
    "api.request_dirs_at_end" -> "count", "api.detect_ms_per_page" -> "ms",
    "api.write_task_ms_per_submit" -> "ms",
    "jvm.gc_s" -> "s", "jvm.heap_peak_mb" -> "MB", "trace.overhead" -> "ratio")

  def session(cores: Int, work: Path): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .getOrCreate()

  /** `drain_rounds`: a frontier seeded with every page, drained in
    * DrainRounds equal rounds. The per-host budget equals the round size, so
    * politeness never defers a page and every round fetches its share.
    */
  def drainPlan(layout: Layout): CrawlPlan = {
    val size = (layout.nPages.toInt + DrainRounds - 1) / DrainRounds
    CrawlPlan(layout, Gen.allPageUrls(layout), CrawlConfig(numBuckets = 8, hostBudgetPerRound = size,
      roundSize = size, maxRounds = DrainRounds), None)
  }

  def run(o: Main.Opts): Result = {
    val t0 = System.nanoTime()
    val work = Files.createDirectories(o.out.resolve(s"work-${ProcessHandle.current().pid()}"))
    val spark = session(Machine.nproc, work)
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    try {
      val (result, trace) =
        if (o.workload == "api_requests") new ApiWorkload(spark, o, work, sessionS).run()
        else new CrawlWorkload(spark, o, work, sessionS).run()
      if (o.trace) trace.write(o.out.resolve("traces").resolve(s"${o.workload}-seed${o.seed}.json"))
      result
    } finally {
      spark.stop()
      graft.util.TempDirs.deleteRecursively(work)
    }
  }

  /** Fills every metric of `spec` from `got`; a metric the workload does not
    * exercise reads 0.
    */
  def complete(spec: Seq[(String, String)], got: Map[String, Double]): Seq[(String, Metric)] = {
    val unknown = got.keySet -- spec.map(_._1)
    require(unknown.isEmpty, s"metrics missing from the spec: ${unknown.mkString(", ")}")
    spec.map { case (n, u) => n -> Metric(got.getOrElse(n, 0.0), u) }
  }

  def kernelMetrics(k: Probes.Kernel, pagesProcessed: Double, wallS: Double): Map[String, Double] = Map(
    "dom.parse_us_per_page" -> k.parseUsPerPage, "dom.alloc_kib_per_page" -> k.parseAllocKibPerPage,
    "detect.detect_us_per_page" -> k.detectUsPerPage, "detect.alloc_kib_per_page" -> k.detectAllocKibPerPage,
    "urls.links_us_per_page" -> k.linksUsPerPage,
    "kernel.pages_per_s_1t" -> k.pagesPerS1t, "kernel.pages_per_s_nt" -> k.pagesPerSNt,
    "kernel.thread_eff" -> k.threadEff,
    "kernel.share_of_wall" -> pagesProcessed / k.pagesPerSNt / wallS)

  /** The probes every workload runs on its own pages in the traced run. */
  def probeMetrics(sample: IndexedSeq[(String, Array[Byte])], keys: Array[Long], nHosts: Int,
      seed: Long, spans: Spans): (Probes.Kernel, Map[String, Double]) = {
    val k = spans("probe.kernel")(Probes.kernel(sample, Machine.nproc, 3))
    val links = sample.flatMap { case (u, h) =>
      graft.detect.Detector.extractLinks(u, graft.dom.HtmlParser.parseBytes(h))
    }
    val c = spans("probe.cuckoo")(Probes.cuckoo(keys, 200, seed))
    val robotsNs = spans("probe.robots")(Probes.robots(links, nHosts, 100))
    val detectMs = spans("probe.detect_html")(Probes.detectHtmlMs(sample, 2))
    (k, Map(
      "frontier.cuckoo_contains_ns" -> c.containsNs, "frontier.cuckoo_add_ns" -> c.addNs,
      "frontier.cuckoo_fp_rate" -> c.fpRate, "frontier.cuckoo_bytes_per_key" -> c.bytesPerKey,
      "frontier.robots_allowed_ns" -> robotsNs, "api.detect_ms_per_page" -> detectMs))
  }

  /** Units of work (a crawl, or an API session) a run times: one per
    * UnitSeconds of `--seconds`, the nominal length of either unit on a
    * 4-core box, and at least one. A fixed count, not a deadline, so a
    * faster or slower machine phase never changes the work a run measures.
    * Traced runs time an untraced and a traced unit at least; their
    * difference is the tracing overhead.
    */
  def units(o: Main.Opts): Int =
    math.max(if (o.trace) 2 else 1, math.round(o.seconds / UnitSeconds).toInt)

  /** Runs one unit of work with the listener attached, so untraced units
    * pay no listener cost and their difference is the tracing overhead.
    */
  def traced[A](spark: SparkSession, listener: StageListener)(f: => A): A = {
    spark.sparkContext.addSparkListener(listener)
    try {
      val a = f
      listener.sync(spark)
      a
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  def sampleOf(layout: Layout, seed: Long): IndexedSeq[(String, Array[Byte])] = {
    val all = layout.pages.toIndexedSeq
    val rng = new java.util.Random(seed)
    rng.ints(ProbeSample.toLong, 0, all.length).toArray.toIndexedSeq.map { i =>
      val (h, k) = all(i)
      (layout.url(h, k), layout.html(h, k).getBytes("UTF-8"))
    }
  }
}

/** Everything the traced run keeps in memory until the benchmark ends. */
final class TraceLog(val spans: Spans, val listener: StageListener) {
  def write(file: Path): Unit = {
    Files.createDirectories(file.getParent)
    val jobs = listener.jobsSnapshot
    val stages = listener.stagesSnapshot
    val stagesByJob = stages.groupBy(_.jobId)
    val ss = spans.all
    val spanJson = ss.map { s =>
      val kids = ss.filter(_.parent.contains(s.id)).map(_.interval) ++
        jobs.filter(j => Intervals.inside(j.interval, s.interval)).map(_.interval)
      Json.obj(Seq("id" -> s.id.toString, "name" -> Json.str(s.name),
        "parent" -> s.parent.map(_.toString).getOrElse("null"),
        "start_ms" -> s.interval.start.toString, "end_ms" -> s.interval.end.toString,
        "self_ms" -> (s.interval.ms - Intervals.covered(kids, s.interval)).toString))
    }
    val jobJson = jobs.map { j =>
      val parent = ss.filter(s => Intervals.inside(j.interval, s.interval)).sortBy(_.interval.ms).headOption
      val mine = stagesByJob.getOrElse(j.jobId, Vector.empty)
      Json.obj(Seq("job" -> j.jobId.toString, "span" -> parent.map(_.id.toString).getOrElse("null"),
        "start_ms" -> j.interval.start.toString, "end_ms" -> j.interval.end.toString,
        "self_ms" -> (j.interval.ms - Intervals.covered(mine.map(_.interval), j.interval)).toString))
    }
    val stageJson = stages.map { s =>
      Json.obj(Seq("stage" -> s.stageId.toString, "job" -> s.jobId.toString, "module" -> Json.str(s.module),
        "name" -> Json.str(s.name), "start_ms" -> s.interval.start.toString, "end_ms" -> s.interval.end.toString,
        "tasks" -> s.numTasks.toString, "run_ms" -> s.runMs.toString, "cpu_ns" -> s.cpuNs.toString,
        "gc_ms" -> s.gcMs.toString, "input_bytes" -> s.inputBytes.toString,
        "shuffle_write_bytes" -> s.shuffleWriteBytes.toString, "output_bytes" -> s.outputBytes.toString,
        "task_ms_max" -> s.taskMsMax.toString, "task_ms_median" -> s.taskMsMedian.toString))
    }
    Files.writeString(file, Json.obj(Seq("machine" -> Machine.json, "spans" -> Json.arr(spanJson),
      "jobs" -> Json.arr(jobJson), "stages" -> Json.arr(stageJson))) + "\n")
  }
}

/** `drain_rounds`. */
final class CrawlWorkload(spark: SparkSession, o: Main.Opts, work: Path, sessionS: Double) {
  import Workloads._

  private val layout = Gen.layout(o.seed, CrawlPages, Hosts, CrawlWeight)
  private val plan = drainPlan(layout)
  private val spans = new Spans
  private val listener = new StageListener

  /** Round walls of a finished crawl: the intervals between consecutive
    * manifest commits, the first measured from the crawl's start.
    */
  private def roundWalls(stateDir: String, startMs: Long): Seq[Double] = {
    val times = Crawl.manifests(stateDir).drop(1).map(m =>
      Files.getLastModifiedTime(Paths.get(stateDir, "snapshots", s"v${m.version}.json")).toMillis)
    (startMs +: times).sliding(2).collect { case Seq(a, b) => (b - a) / 1000.0 }.toSeq
  }

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum finally s.close()
    }

  private def parquetFiles(p: Path): Long = {
    val s = Files.walk(p)
    try s.iterator().asScala.count(f => f.getFileName.toString.endsWith(".parquet")).toLong finally s.close()
  }

  /** Per-layer numbers of one traced crawl. */
  private def layerMetrics(r: CrawlRun, c: CrawlCheck): Map[String, Double] = {
    val span = Interval(r.calls.head._1, r.calls.last._2)
    val jobs = listener.jobsSnapshot.filter(j => Intervals.inside(j.interval, span))
    val jobIds = jobs.map(_.jobId).toSet
    val stages = listener.stagesSnapshot.filter(s => jobIds.contains(s.jobId))
    val rounds = c.lineage.size.toDouble
    val fetched = r.stats.fetched.toDouble
    // a one-task stage has no skew to show
    val longest = stages.filter(_.numTasks > 1).maxBy(_.interval.ms)
    val data = Paths.get(r.stateDir, "data")
    val last = Crawl.manifests(r.stateDir).last
    val mb = math.pow(2, 20)
    val walls = roundWalls(r.stateDir, span.start)
    Map(
      "frontier.jobs_per_round" -> jobs.size / rounds,
      "frontier.tasks_per_round" -> stages.map(_.numTasks).sum / rounds,
      "frontier.driver_idle_s" -> (span.ms - Intervals.covered(jobs.map(_.interval), span)) / 1000.0,
      "frontier.round_s_p50" -> Stats.median(walls), "frontier.round_s_max" -> walls.max,
      "frontier.task_cpu_s" -> stages.map(_.cpuNs).sum / 1e9,
      "frontier.gc_share" -> stages.map(_.gcMs).sum.toDouble / math.max(1L, stages.map(_.runMs).sum),
      "frontier.task_skew" -> longest.taskMsMax.toDouble / math.max(1L, longest.taskMsMedian),
      "frontier.scan_mb_per_page" -> stages.map(_.inputBytes).sum / mb / fetched,
      "frontier.shuffle_mb_per_page" -> stages.map(_.shuffleWriteBytes).sum / mb / fetched,
      "frontier.new_per_candidate" -> c.lineage.values.map(_.newUrls).sum.toDouble /
        c.lineage.values.map(_.candidates).sum,
      "frontier.robots_blocked_frac" -> c.lineage.values.map(_.robotsBlocked).sum.toDouble /
        c.lineage.values.map(x => x.candidates - x.deduped).sum,
      "tables.write_task_s" -> stages.filter(_.module == "graft.tables").map(_.runMs).sum / 1000.0 / rounds,
      "tables.files_per_round" -> parquetFiles(data) / rounds,
      "tables.delta_dirs_at_end" -> last.dataDirs.keys.toSeq.map(t => SnapshotStore.dirsOf(last, t).length).sum.toDouble
    ) ++ WrittenTables.map { t =>
      val bytes = Files.list(data).iterator().asScala.map(v => dirBytes(v.resolve(t))).sum
      s"tables.written_mb_per_round.$t" -> bytes / mb / rounds
    }
  }

  def run(): (Result, TraceLog) = {
    var check = Check(0, 0, Vector.empty)
    // set-up: generate and write the pages table once, bootstrap the v0
    // snapshot SetupReps times (set-up time is the median)
    val tg = System.nanoTime()
    val pages = Gen.writePages(spark, layout, work.resolve("pages").toString)
    val genS = (System.nanoTime() - tg) / 1e9
    val boots = (0 until SetupReps).map { _ =>
      val t = System.nanoTime()
      val boot = Crawl.newDir(work, "boot")
      Crawl.bootstrap(spark, pages, plan, boot)
      ((System.nanoTime() - t) / 1e9, boot)
    }
    val boot = boots.last._2
    plan.expected // the simulator runs in set-up, not inside a timed crawl
    def crawlOnce(p: CrawlPlan, traced: Boolean): (CrawlRun, CrawlCheck) = {
      val st = Crawl.newDir(work, "state")
      val r = if (traced) Workloads.traced(spark, listener)(spans("crawl.run")(Crawl.crawl(spark, pages, p, boot, st)))
        else Crawl.crawl(spark, pages, p, boot, st)
      val c = Crawl.check(spark, p, r)
      check = check + c.check
      (r, c)
    }
    val setupS = sessionS + genS + Stats.median(boots.map(_._1))
    // JIT warm-up, not timed: a checked crawl of the plan's first WarmRounds
    // rounds, which runs every code path of a round
    val tw = System.nanoTime()
    Crawl.remove(crawlOnce(plan.copy(cfg = plan.cfg.copy(maxRounds = WarmRounds)), traced = false)._1.stateDir)
    System.err.println(f"perfbench: session $sessionS%.2fs, pages $genS%.2fs, bootstraps " +
      f"${boots.map(b => f"${b._1}%.2f").mkString(" ")}s, warm-up ${(System.nanoTime() - tw) / 1e9}%.2fs")

    val rates = Vector.newBuilder[(Boolean, CrawlRun)]
    val walls = Vector.newBuilder[Double]
    val layers = Vector.newBuilder[Map[String, Double]]
    var keys = Array.empty[Long]
    val gc0 = Machine.gcMs
    Machine.resetHeapPeak()
    var i = 0
    while (i < units(o)) {
      val traced = o.trace && i % 2 == 1
      val (r, c) = crawlOnce(plan, traced)
      rates += traced -> r
      if (!traced) {
        val w = roundWalls(r.stateDir, r.calls.head._1)
        System.err.println(f"perfbench: crawl ${r.wallS}%.2fs, rounds ${w.map(x => f"$x%.2f").mkString(" ")}s")
        walls ++= w
      }
      if (traced) { layers += layerMetrics(r, c); keys = c.seenHashes }
      Crawl.remove(r.stateDir)
      i += 1
    }
    val nCrawls = i
    val gcS = (Machine.gcMs - gc0) / 1000.0
    val heapPeak = Machine.heapPeakMb
    val all = rates.result()
    def rate(rs: Seq[CrawlRun]): Double = rs.map(_.stats.fetched).sum / rs.map(_.wallS).sum
    val untraced = rate(all.filterNot(_._1).map(_._2))
    val metrics =
      if (!o.trace) Map(
        "urls_per_s" -> untraced,
        "op_ms_p50" -> Stats.median(walls.result()) * 1000.0,
        "setup_s" -> setupS,
        "peak_rss_mb" -> Machine.peakRssMb)
      else {
        val ls = layers.result()
        val perLayer = ls.head.keys.map(k => k -> Stats.median(ls.map(_(k)))).toMap
        val (kernel, probes) = probeMetrics(sampleOf(layout, o.seed), keys, Hosts, o.seed, spans)
        perLayer ++ probes ++
          kernelMetrics(kernel, layout.nPages.toDouble, layout.nPages / untraced) ++ Map(
          "jvm.gc_s" -> gcS / nCrawls, "jvm.heap_peak_mb" -> heapPeak,
          "trace.overhead" -> (untraced / rate(all.filter(_._1).map(_._2)) - 1.0))
      }
    val spec = if (o.trace) PerLayer else EndToEnd
    (Result(check.attempted, check.failed, complete(spec, metrics), check.errors),
      new TraceLog(spans, listener))
  }
}

/** `api_requests`. */
final class ApiWorkload(spark: SparkSession, o: Main.Opts, work: Path, sessionS: Double) {
  import Workloads._

  private val layout = Gen.layout(o.seed, ApiPages, Hosts, 1)
  private val order = {
    val rng = new java.util.Random(o.seed)
    scala.util.Random.javaRandomToRandom(rng).shuffle(layout.pages.toIndexedSeq)
  }
  private val spans = new Spans
  private val listener = new StageListener

  def run(): (Result, TraceLog) = {
    var check = Check(0, 0, Vector.empty)
    def session(cycles: Int, traced: Boolean): ApiSession = {
      val dir = Crawl.newDir(work, "store")
      val s =
        if (traced) Workloads.traced(spark, listener)(Api.session(spark, layout, order, cycles, dir, Some(spans)))
        else Api.session(spark, layout, order, cycles, dir, None)
      check = check + s.check
      s
    }
    // set-up: an empty store warmed by a short session, repeated
    val setups = (0 until SetupReps).map { _ =>
      val t = System.nanoTime()
      Crawl.remove(session(2, traced = false).storeDir)
      (System.nanoTime() - t) / 1e9
    }
    val setupS = sessionS + Stats.median(setups)
    System.err.println(f"perfbench: session $sessionS%.2fs, set-ups ${setups.map(x => f"$x%.2f").mkString(" ")}s")

    val gc0 = Machine.gcMs
    Machine.resetHeapPeak()
    val sessions = Vector.newBuilder[(Boolean, ApiSession)]
    var dirsAtEnd = 0
    var i = 0
    while (i < units(o)) {
      val traced = o.trace && i % 2 == 1
      val s = session(ApiCycles, traced)
      sessions += traced -> s
      System.err.println(f"perfbench: session of ${s.submits} cycles, ${s.samples.map(_.ms).sum / 1000}%.2fs")
      if (traced) dirsAtEnd = Api.requestDirs(s.storeDir)
      Crawl.remove(s.storeDir)
      i += 1
    }
    val gcS = (Machine.gcMs - gc0) / 1000.0
    val heapPeak = Machine.heapPeakMb
    val all = sessions.result()
    def rate(ss: Seq[ApiSession]): Double =
      ss.map(_.submits).sum / (ss.flatMap(_.samples).map(_.ms).sum / 1000.0)
    val untraced = all.filterNot(_._1).map(_._2)
    val metrics =
      if (!o.trace) Map(
        "urls_per_s" -> rate(untraced),
        "op_ms_p50" -> Stats.median(untraced.flatMap(_.cycleMs)),
        "setup_s" -> setupS,
        "peak_rss_mb" -> Machine.peakRssMb)
      else {
        val traced = all.filter(_._1).map(_._2)
        val samples = traced.flatMap(_.samples)
        val jobs = listener.jobsSnapshot
        val stages = listener.stagesSnapshot
        val opSpans = spans.all.filter(_.name.startsWith("api."))
        def jobsIn(op: String) = opSpans.filter(_.name == s"api.$op")
          .map(s => jobs.filter(j => Intervals.inside(j.interval, s.interval)))
        val submitJobs = jobsIn("submit").flatten.map(_.jobId).toSet
        val submits = samples.count(_.op == "submit")
        val keys = order.iterator.flatMap { case (h, k) =>
          (layout.url(h, k) +: Sim.links(layout, h, k)).map(u => CrawlEngine.entry(u, 0, 0, 8).url_hash)
        }.toArray.distinct
        val (kernel, probes) = probeMetrics(sampleOf(layout, o.seed), keys, Hosts, o.seed, spans)
        probes ++ kernelMetrics(kernel, samples.count(_.op == "submit").toDouble, samples.map(_.ms).sum / 1000.0) ++
          Api.Ops.map(op => s"api.jobs_per_op.$op" -> Stats.median(jobsIn(op).map(_.size.toDouble))) ++
          Api.Ops.map(op => s"api.${op}_ms_p50" -> Stats.median(samples.filter(_.op == op).map(_.ms))) ++ Map(
          "api.request_dirs_at_end" -> dirsAtEnd.toDouble,
          "api.write_task_ms_per_submit" -> stages.filter(s => submitJobs.contains(s.jobId) &&
            s.module == "graft.tables").map(_.runMs).sum.toDouble / submits,
          "jvm.gc_s" -> gcS / all.size, "jvm.heap_peak_mb" -> heapPeak,
          "trace.overhead" -> (rate(untraced) / rate(traced) - 1.0))
      }
    val spec = if (o.trace) PerLayer else EndToEnd
    (Result(check.attempted, check.failed, complete(spec, metrics), check.errors),
      new TraceLog(spans, listener))
  }
}
