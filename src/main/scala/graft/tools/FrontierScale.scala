package graft.tools

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.frontier.{CrawlConfig, CrawlEngine, CuckooFilter, FilterState}
import graft.tables.{SnapshotStore, SyntheticWeb}

/** Evidence tool for the round-3 frontier-scale claims (VERDICT r2 next #1/#2):
  *
  *  1. `filter bytes written per round = O(new keys), not O(seen)`: crawl the
  *     same synthetic web at 1x and 10x page count (multi-round, default
  *     lazy-fold config) and report per-commit filter-table bytes vs new
  *     keys. Carried (non-fold) commits write ZERO filter bytes; fold
  *     commits amortize to a flat bytes/new-key figure at both scales.
  *
  *  2. `10M-seed Dataset bootstrap without driver memory growth`: bootstrap
  *     a 10^7-url frontier snapshot from a spark.range-derived seed Dataset
  *     and report wall time + driver-heap delta (the old Seq[String] path
  *     would hold ~1 GB of url strings on the driver and ship them in task
  *     closures).
  *
  * Prints one JSON line and writes BENCH/FRONTIER_SCALE.json.
  */
object FrontierScale {

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size).sum()
      finally s.close()
    }

  /** Multi-round BFS-expansion crawl from the per-host page-0 seeds (the
    * discovery-heavy shape: new keys per round grow with the frontier);
    * returns (per-commit (filterBytes, newKeys), seenTotal).
    */
  private def filterWrites(spark: SparkSession, nPages: Int,
      rounds: Int): (Seq[(Long, Long)], Long) = {
    import spark.implicits._
    val nHosts = 16
    val pages = SyntheticWeb.pagesFast(spark, nPages.toLong, nHosts, 32)
      .union(SyntheticWeb.robotsPages(spark, nHosts)).toDF().cache()
    pages.count()
    val seeds = spark.createDataset((0 until nHosts).map(SyntheticWeb.pageUrl(_, 0)))
    val cfg = CrawlConfig(numBuckets = 32, hostBudgetPerRound = nPages,
      roundSize = nPages, maxRounds = rounds, foldMinKeys = 64)
    val stateDir = graft.util.TempDirs.create(s"graft-fscale-$nPages-").toString
    CrawlEngine.run(spark, pages, seeds, cfg, stateDir, collectOutputs = false)
    val m = SnapshotStore.latestManifest(stateDir).get
    // iterate the manifests actually present and diff ADJACENT ones — an
    // idle crawl-delay round leaves a version gap, so assuming consecutive
    // v-1 would throw (round-3 ADVICE)
    val present = (0 to m.version).flatMap { v =>
      scala.util.Try(SnapshotStore.readManifest(stateDir, v)).toOption
    }
    val perCommit = present.sliding(2).collect { case Seq(prev, mv) =>
      val fb = dirBytes(Paths.get(stateDir, "data", s"v${mv.version}", "filters"))
      val newKeys = mv.counters("seen") - prev.counters("seen")
      (fb, newKeys)
    }.toSeq
    pages.unpersist()
    (perCommit, m.counters("seen"))
  }

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    // ---- part 1: filter write amplification at 1x and 10x ----
    val (w1, seen1) = filterWrites(spark, 8000, 8)
    val (w10, seen10) = filterWrites(spark, 80000, 8)
    def summarize(w: Seq[(Long, Long)]) = {
      val totalBytes = w.map(_._1).sum
      val totalNew = w.map(_._2).sum
      val foldCommits = w.count(_._1 > 0)
      (totalBytes, totalNew, foldCommits,
        if (totalNew > 0) totalBytes.toDouble / totalNew else 0.0)
    }
    val (b1, n1, f1, bpk1) = summarize(w1)
    val (b10, n10, f10, bpk10) = summarize(w10)

    // ---- part 2: 10M-seed Dataset bootstrap ----
    val rt = Runtime.getRuntime
    System.gc()
    val heapBefore = rt.totalMemory() - rt.freeMemory()
    val nSeeds = sys.env.getOrElse("GRAFT_SEED_SMOKE", "10000000").toLong
    val seeds10m = spark.range(0, nSeeds, 1, 64)
      .map(i => s"https://seed-host${i % 100000}.example/path/$i")
    val emptyPages = Seq.empty[(String, Array[Byte])].toDF("url", "html")
    val bootDir = graft.util.TempDirs.create("graft-seedsmoke-").toString
    val t0 = System.nanoTime()
    CrawlEngine.run(spark, emptyPages, seeds10m,
      CrawlConfig(numBuckets = 32, maxRounds = 0), bootDir, collectOutputs = false)
    val bootSec = (System.nanoTime() - t0) / 1e9
    System.gc()
    val heapAfter = rt.totalMemory() - rt.freeMemory()
    val mBoot = SnapshotStore.latestManifest(bootDir).get
    val bootSeen = mBoot.counters("seen")
    val filterBytes10m = dirBytes(Paths.get(bootDir, "data", "v0", "filters"))

    // ---- part 3 (r4): rebuild bucket-pruning — a fold that rebuilds ONE
    // overfull bucket must read O(that bucket's rows), not O(seen). The seen
    // table is written by the engine's seen writer: flat files sorted by
    // (bucket, url_hash). The rebuild predicate is a column IN-list, so the
    // parquet scan skips the other buckets' row groups and pages by their
    // statistics. Evidence: the rebuild scan's own SQL metrics (rows out of
    // the scan, files read) next to bucket 0's keys and the table's rows.
    // (Task-level inputMetrics.bytesRead was seen to under-report parquet
    // scans, so it is not used.)
    val seenDir = graft.util.TempDirs.create("graft-rebuildscale-").toString
    val nKeys = 2000000L
    val seenDf = spark.range(0, nKeys, 1, 32)
      .select((col("id") % 32).cast("int").as("bucket"),
        xxhash64(col("id")).as("url_hash"))
    CrawlEngine.writeSeen(seenDf, SnapshotStore.deltaDirFor(seenDir, 0, "seen"))
    SnapshotStore.commit(seenDir, 0, Map.empty, Map.empty, preWritten = Set("seen"))
    val m3 = SnapshotStore.latestManifest(seenDir).get
    val seenAll = CrawlEngine.readSeenDirs(spark, SnapshotStore.dirsOf(m3, "seen"))
    val pending = seenAll.where(col("bucket") === 0).as[graft.frontier.SeenEntry]
    val bucket0Keys = pending.count()
    val seenFiles = Paths.get(seenDir, "data", "v0", "seen").toFile.list()
      .count(_.endsWith(".parquet"))
    // bucket 0 starts from a tiny existing filter that its keys overflow: a
    // bucket with no filter yet would be created at its keys' size and never
    // take the rebuild pass
    val tiny = Seq(FilterState(0, CuckooFilter.create(16).toBytes, 0L)).toDS()
    // the fold's result is an eager localCheckpoint: that execution's plan
    // holds the rebuild's scan metrics
    val cuts = new java.util.concurrent.LinkedBlockingQueue[SparkPlan]()
    val cutPlans = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (f == "localCheckpoint") cuts.put(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(cutPlans)
    val (folded, _) = CrawlEngine.foldFilters(spark, tiny, pending, seenAll, 4096)
    val foldPlan = cuts.poll(60, java.util.concurrent.TimeUnit.SECONDS)
    spark.listenerManager.unregister(cutPlans)
    require(foldPlan != null, "the fold's localCheckpoint execution was not reported")
    val rebuiltBuckets = folded.collect().map(_.bucket).toSeq
    require(rebuiltBuckets == Seq(0), s"expected one rebuilt bucket, got $rebuiltBuckets")
    // its one file scan outside the pass-1 cache (a leaf, which scans the
    // pending keys) is the rebuild's
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case s: FileSourceScanExec => Seq(s)
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case o => o.children.flatMap(scans)
    }
    val Seq(rebuildScan) = scans(foldPlan)
    val rowsScanned = rebuildScan.metrics("numOutputRows").value
    val filesRead = rebuildScan.metrics("numFiles").value

    val json =
      f"""{"filter_writes_1x":{"pages":8000,"seen":$seen1,"total_filter_bytes":$b1,"new_keys":$n1,"fold_commits":$f1,"bytes_per_new_key":$bpk1%.2f,"per_commit":[${w1.map(t => s"[${t._1},${t._2}]").mkString(",")}]},"filter_writes_10x":{"pages":80000,"seen":$seen10,"total_filter_bytes":$b10,"new_keys":$n10,"fold_commits":$f10,"bytes_per_new_key":$bpk10%.2f,"per_commit":[${w10.map(t => s"[${t._1},${t._2}]").mkString(",")}]},"seed_smoke":{"seeds":$bootSeen,"bootstrap_sec":$bootSec%.1f,"driver_heap_delta_mb":${(heapAfter - heapBefore) / 1048576},"filter_table_bytes":$filterBytes10m,"filter_bytes_per_key":${f"${filterBytes10m.toDouble / math.max(1, bootSeen)}%.2f"}},"rebuild_pruning":{"seen_keys":$nKeys,"seen_files":$seenFiles,"bucket0_keys":$bucket0Keys,"rebuild_files_read":$filesRead,"rebuild_rows_scanned":$rowsScanned,"rows_scanned_fraction_of_seen":${rowsScanned.toDouble / nKeys}%.4f}}"""
    println(json)
    graft.Bench.writeEvidence("FRONTIER_SCALE.json", json + "\n")
    spark.stop()
  }
}
