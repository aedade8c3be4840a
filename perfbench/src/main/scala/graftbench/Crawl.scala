package graftbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.frontier.{CrawlConfig, CrawlEngine, CrawlStats}
import graft.tables.SnapshotStore
import graft.util.TempDirs

/** One crawl workload: the input, the engine config and, for a resumed
  * crawl, the round after which the first `run()` stops.
  */
final case class CrawlPlan(layout: Layout, seeds: Seq[String], cfg: CrawlConfig,
    resumeAfter: Option[Int]) {
  lazy val expected: SimResult =
    Sim.run(layout, seeds, cfg.hostBudgetPerRound, cfg.roundSize, cfg.maxRounds, cfg.roundTimeMs)
}

/** Outcome of one timed crawl: wall seconds of the `run()` calls, each
  * call's start and end in epoch milliseconds (to place Spark jobs and
  * manifest commits), the engine's stats and the state dir it committed.
  */
final case class CrawlRun(wallS: Double, calls: Seq[(Long, Long)], stats: CrawlStats,
    stateDir: String)

object Crawl {

  /** Bootstraps the v0 snapshot (seed ingestion, robots for the seed hosts,
    * initial filters) once; every timed crawl resumes from a copy of its
    * manifest, so bootstrap counts into set-up and not into crawl wall.
    */
  def bootstrap(spark: SparkSession, pages: DataFrame, plan: CrawlPlan, dir: String): Unit = {
    import spark.implicits._
    CrawlEngine.run(spark, pages, plan.seeds.toDS(), plan.cfg.copy(maxRounds = 0), dir)
    require(SnapshotStore.latestVersion(dir).contains(0), s"bootstrap left no v0 snapshot in $dir")
  }

  /** The manifest records absolute data dirs, so a copy of the v0 manifest
    * resumes from the bootstrap's (read-only) v0 data while every later
    * commit writes under the new state dir.
    */
  def fork(bootDir: String, stateDir: String): Unit = {
    val m = SnapshotStore.readManifest(bootDir, 0)
    SnapshotStore.writeManifest(stateDir, m)
  }

  def crawl(spark: SparkSession, pages: DataFrame, plan: CrawlPlan, bootDir: String,
      stateDir: String): CrawlRun = {
    import spark.implicits._
    fork(bootDir, stateDir)
    val noSeeds = spark.emptyDataset[String]
    val legs = plan.resumeAfter.map(r => Seq(plan.cfg.copy(maxRounds = r), plan.cfg))
      .getOrElse(Seq(plan.cfg))
    var stats: CrawlStats = null
    var wallNs = 0L
    val calls = legs.map { cfg =>
      val t0 = System.currentTimeMillis()
      val n0 = System.nanoTime()
      stats = CrawlEngine.run(spark, pages, noSeeds, cfg, stateDir)
      wallNs += System.nanoTime() - n0
      (t0, System.currentTimeMillis())
    }
    CrawlRun(wallNs / 1e9, calls, stats, stateDir)
  }

  /** Every manifest version of a state dir, oldest first. */
  def manifests(stateDir: String): Seq[SnapshotStore.Manifest] =
    SnapshotStore.latestVersion(stateDir).toSeq.flatMap(v =>
      (0 to v).filter(i => Files.exists(Paths.get(stateDir, "snapshots", s"v$i.json")))
        .map(SnapshotStore.readManifest(stateDir, _)))

  /** Checks a finished crawl against the plan's closed-form expectation and
    * returns the mismatches, each described in one line. An op is one
    * expected page: its committed `extracted_text` must equal
    * `expectedText` byte for byte, and it must be committed exactly once.
    * Each round's lineage counters, the final seen set and the returned
    * stats must equal the simulator's.
    */
  def check(spark: SparkSession, plan: CrawlPlan, run: CrawlRun): CrawlCheck = {
    import spark.implicits._
    val exp = plan.expected
    val ms = manifests(run.stateDir)
    val outDirs = ms.flatMap(m => m.dataDirs.get("outputs")).distinct
    val got: Array[(String, String)] =
      if (outDirs.isEmpty) Array.empty
      else spark.read.parquet(outDirs: _*).select($"url", $"extracted_text").as[(String, String)].collect()
    val errors = Vector.newBuilder[String]
    var failedPages = 0L
    val byUrl = got.groupBy(_._1)
    exp.fetched.foreach { u =>
      val (h, k) = plan.layout.pageOf(u).get
      byUrl.get(u) match {
        case None => failedPages += 1; errors += s"page $u: no committed output"
        case Some(rows) if rows.length != 1 =>
          failedPages += 1; errors += s"page $u: committed ${rows.length} times"
        case Some(rows) =>
          val want = plan.layout.expectedText(h, k)
          if (rows.head._2 != want) {
            failedPages += 1
            val at = rows.head._2.zip(want).indexWhere { case (a, b) => a != b }
            errors += s"page $u: extracted_text differs at char ${if (at < 0) math.min(rows.head._2.length, want.length) else at}"
          }
      }
    }
    val extra = byUrl.keySet -- exp.fetched.toSet
    extra.foreach(u => errors += s"unexpected output $u")
    val last = ms.last
    val lineage = SnapshotStore.read(spark, last, "lineage").filter($"bucket" === -1)
      .groupBy($"round").agg(sum($"drained"), sum($"fetched"), sum($"extracted_rows"),
        sum($"candidates"), sum($"robots_blocked"), sum($"deduped"), sum($"new_urls"),
        sum($"politeness_deferred"))
      .as[(Int, Long, Long, Long, Long, Long, Long, Long, Long)].collect().sortBy(_._1)
      .map(r => r._1 -> RoundCounters(r._2, r._3, r._4, r._5, r._6, r._7, r._8, r._9)).toMap
    var badRounds = 0L
    exp.rounds.zipWithIndex.foreach { case (want, i) =>
      if (!lineage.get(i).contains(want)) {
        badRounds += 1; errors += s"round $i lineage ${lineage.get(i)} != simulator $want"
      }
    }
    lineage.keySet.filter(_ >= exp.rounds.length).foreach { i =>
      badRounds += 1; errors += s"round $i lineage present, simulator stopped at ${exp.rounds.length}"
    }
    val seenHashes = CrawlEngine.readSeenDirs(spark, SnapshotStore.dirsOf(last, "seen"))
      .map(_.url_hash).collect()
    val wantHashes = exp.seen.iterator.map(u => CrawlEngine.entry(u, 0, 0, plan.cfg.numBuckets).url_hash).toSet
    val seenOk = seenHashes.length == wantHashes.size && seenHashes.toSet == wantHashes
    if (!seenOk) errors += s"seen set: ${seenHashes.length} keys, simulator ${wantHashes.size}"
    val st = run.stats
    val statsOk = st.fetched == exp.fetched.length && st.seenSize == exp.seen.size &&
      st.extractedRows == exp.rounds.map(_.extractedRows).sum
    if (!statsOk) errors += s"CrawlStats $st disagree with simulator"
    val failed = failedPages + extra.size + badRounds + (if (seenOk) 0 else 1) + (if (statsOk) 0 else 1)
    CrawlCheck(Check(exp.fetched.length.toLong, failed, errors.result()), lineage, seenHashes)
  }

  def newDir(parent: Path, prefix: String): String =
    Files.createTempDirectory(parent, prefix).toString

  def remove(dir: String): Unit = TempDirs.deleteRecursively(Paths.get(dir))
}

/** A crawl's check plus the committed lineage and seen keys it read. */
final case class CrawlCheck(check: Check, lineage: Map[Int, RoundCounters], seenHashes: Array[Long])

/** Result of checking one timed operation batch. */
final case class Check(attempted: Long, failed: Long, errors: Vector[String]) {
  def +(o: Check): Check = Check(attempted + o.attempted, failed + o.failed, (errors ++ o.errors).take(20))
}
