package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.col
import graft.frontier.{CrawlConfig, CrawlEngine}
import graft.tables.SyntheticWeb

/** One parallelism level of the north-rule benchmark: a local[cpus] session
  * over the synthetic Common-Crawl-style pages table, with the untimed setup
  * (input cache, JIT warm crawl, v0 bootstrap snapshot) paid once in
  * `setup()` and each timed trial resuming from a filesystem copy of the
  * bootstrap. It is the body of [[BenchWorker]], the per-level child JVM
  * that [[Bench]] pins to `cpus` physical cores (`taskset` +
  * `-XX:ActiveProcessorCount`) so a level models a real N-core executor node
  * — GC, JIT and IO threads included — instead of N Spark task slots on a
  * 32-core machine. DrainSweep runs one in-process.
  */
final class BenchLevel(cpus: Int, nPages: Int, nHosts: Int) {

  private var spark: SparkSession = _
  private var input: BenchLevel.Input = _
  private var bootDir: java.nio.file.Path = _

  /** AQE is off for the crawl sessions: at bounded round sizes every join
    * the round runs is explicitly broadcast (drain keys, fetch keys, robots)
    * or statically planned, and AQE's per-exchange stage materialization
    * adds ~15 driver jobs per round — pure scheduling latency at this scale
    * (measured: ~25% of multi-round wall). Production rounds above the
    * engine's 2M-key drain broadcast limit want AQE back on for skew
    * handling; the engine itself is config-neutral (specs run with AQE on).
    */
  def setup(): Unit = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.stateStore.maintenanceInterval", "3600s")
      .getOrCreate()
    input = BenchLevel.input(spark, cpus, nPages, nHosts)
    // JIT warmup: an untimed crawl through the same code path — 10k pages,
    // or the first timed trial pays residual compilation (observed ~7%).
    val warm = math.min(10000, nPages)
    CrawlEngine.run(spark, input.pages, input.seeds(warm),
      input.single.copy(roundSize = warm),
      graft.util.TempDirs.create("graft-warm-").toString,
      collectOutputs = false)
    // bootstrap the v0 frontier snapshot ONCE, OUTSIDE the timed section
    // (the metric is drain+extract of an EXISTING frontier table —
    // production resumes from a committed snapshot, not seed ingestion);
    // each trial resumes from a cheap filesystem COPY of it
    bootDir = graft.util.TempDirs.create(s"graft-bench-boot-$cpus-")
    CrawlEngine.run(spark, input.pages, input.seeds(nPages),
      input.single.copy(maxRounds = 0),
      bootDir.toString, collectOutputs = false)
  }

  private def timedRun(runCfg: CrawlConfig): (Double, Long) = {
    val stateDir = graft.util.TempDirs.create(s"graft-bench-$cpus-")
    graft.util.TempDirs.copyTree(bootDir, stateDir)
    val t0 = System.nanoTime()
    val stats = CrawlEngine.run(spark, input.pages, input.seeds(nPages), runCfg,
      stateDir.toString, collectOutputs = false)
    val sec = (System.nanoTime() - t0) / 1e9
    graft.util.TempDirs.deleteRecursively(stateDir)
    (nPages / sec, stats.extractedRows)
  }

  /** The one-round config of this level's timed crawls (after `setup()`). */
  private[graft] def single: CrawlConfig = input.single

  /** ONE maximal round — the drain+extract kernel. Returns (urls/sec, extracted). */
  def runSingle(): (Double, Long) = timedRun(input.single)

  /** The SAME pages drained over `rounds` fetch-schedule rounds — per-round
    * commit amortization and the fold policy inside the timed window, the
    * way a real crawl pays them.
    */
  def runMulti(rounds: Int): Double = timedRun(input.multi(rounds))._1

  def close(): Unit = if (spark != null) spark.stop()
}

object BenchLevel {

  /** The bench's crawl input. `pages`: cached, materialized pages table.
    * `seeds(n)`: the first `n` page urls. `single`: the config that drains
    * every page in one round.
    */
  final class Input(val pages: DataFrame, val seeds: Int => Dataset[String],
      val single: CrawlConfig) {
    /** The same pages drained over `rounds` fetch-schedule rounds. */
    def multi(rounds: Int): CrawlConfig =
      single.copy(roundSize = (single.roundSize + rounds - 1) / rounds,
        maxRounds = rounds + 2)
  }

  /** Build the bench input for a local[`cpus`] session: `nPages` synthetic
    * pages over `nHosts` hosts (page weight 4), shared by the bench levels
    * and the crawl profiling tools.
    */
  def input(spark: SparkSession, cpus: Int, nPages: Int, nHosts: Int): Input = {
    import spark.implicits._
    // robots.txt rows live IN the pages table (the engine's default robots
    // source) — rules are crawled data, not driver config.
    // 256 slices, FIXED across parallelism levels (identical input layout at
    // every level), url-range layout (the Iceberg sort_order(url) analog) so
    // the engine's drain-range predicate prunes cached batches via min/max
    // stats — see Bench for the full rationale.
    val pages = SyntheticWeb.pagesFast(spark, nPages.toLong, nHosts, 256,
      weight = 4).union(SyntheticWeb.robotsPages(spark, nHosts)).toDF()
      .repartitionByRange(256, col("url"))
      .sortWithinPartitions("url")
      .cache()
    pages.count() // materialize input outside the timed section
    // seed the frontier with every page url (measures drain+extract, not
    // graph discovery latency); host-major layout mirror of pagesFast.
    // Seeds are a DATASET derived executor-side — nothing frontier-sized
    // ever materializes on the driver or ships inside task closures.
    val cuts = SyntheticWeb.fastCuts(nPages.toLong, nHosts)
    val cutsBc = spark.sparkContext.broadcast(cuts)
    val seeds = (n: Int) => spark.range(0, n.toLong, 1, cpus * 2)
      .map(i => SyntheticWeb.pageUrlAt(cutsBc.value, i))
    // politeness budget = the largest host's frontier share (host0's 30%):
    // small enough that the two-phase per-host top-k actually executes, large
    // enough that one round still drains the whole frontier — the metric
    // measures drain+extract, not multi-round scheduling latency
    val hostMax = (1 until (nHosts + 1)).map(h => cuts(h) - cuts(h - 1)).max.toInt
    // the seen and filter layout is CrawlConfig's default at every level
    new Input(pages, seeds, CrawlConfig(
      hostBudgetPerRound = hostMax, roundSize = nPages, maxRounds = 1))
  }
}
