package graft.tools

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.frontier.{CrawlEngine, FrontierEntry}
import graft.tables.SyntheticWeb

/** Drain-scaling evidence, two sweeps at one parallelism level
  * (SPARK_GRAFT_CPUS, default 32). Each prints one JSON line.
  *
  * `DrainSweep` (round size, r4 verdict #5): the SAME input drained in
  * 8 / 4 / 2 / 1 fetch-schedule rounds. Per-round cost is fixed (drain-keys
  * barrier, probe job, delta writes, manifest commit), so URLs/sec must be
  * flat-to-rising in round size — the committed curve pins the claim that
  * the 8-round scaling figure's gap to the single-round figure is a
  * small-round artifact that amortizes at production round sizes (millions
  * of URLs per round). Each sweep point runs inside one [[graft.BenchLevel]]
  * (cached input, JIT-warmed, bootstrap excluded from timing), two
  * interleaved passes mirrored (8,4,2,1 then 1,2,4,8) so the host's burst
  * throttle hits both ends of the curve, best across passes. Also writes
  * BENCH/DRAIN_SCALE.json.
  *
  * `DrainSweep frontier` (frontier size): politeness + priority drain time
  * must be SUBLINEAR in frontier size at fixed round size (the round-1
  * full-frontier window sorted the hottest host's entire share every round;
  * the two-phase bounded-heap top-k only keeps budget rows per host per
  * partition). Times the drain at 1× and 10× frontier sizes.
  */
object DrainSweep {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    if (args.headOption.contains("frontier")) frontierSweep(cpus)
    else roundSweep(cpus)
  }

  private def roundSweep(cpus: Int): Unit = {
    val nPages = sys.env.getOrElse("SPARK_GRAFT_BENCH_PAGES", "250000").toInt
    val level = new graft.BenchLevel(cpus, nPages, 16)
    level.setup()
    val roundCounts = Seq(8, 4, 2, 1)
    val best = scala.collection.mutable.Map.empty[Int, Double].withDefaultValue(0.0)
    for (pass <- 0 until 2; r <- if (pass == 0) roundCounts else roundCounts.reverse) {
      val thr = if (r == 1) level.runSingle()._1 else level.runMulti(r)
      if (thr > best(r)) best(r) = thr
      System.err.println(f"[sweep] pass $pass rounds $r: $thr%.1f urls/s")
    }
    val points = roundCounts.reverse.map { r =>
      val roundSize = (nPages + r - 1) / r
      f"""{"rounds":$r,"round_size":$roundSize,"urls_per_sec":${best(r)}%.1f}"""
    }
    val json =
      s"""{"metric":"drain_round_size_sweep","cpus":$cpus,"pages":$nPages,"points":[${points.mkString(",")}]}"""
    println(json)
    graft.Bench.writeEvidence("DRAIN_SCALE.json", json + "\n")
    level.close()
  }

  private def frontierSweep(cpus: Int): Unit = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val budget = 1000
    val roundSize = 10000
    val nHosts = 16

    def frontier(n: Long): Dataset[FrontierEntry] = {
      val cutsBc = spark.sparkContext.broadcast(SyntheticWeb.fastCuts(n, nHosts))
      spark.range(0, n, 1, 64).map { i =>
        CrawlEngine.entry(SyntheticWeb.pageUrlAt(cutsBc.value, i),
          depth = (i % 7).toInt, round = 0, numBuckets = 32)
      }.persist()
    }

    def timeDrain(fr: Dataset[FrontierEntry]): Double = {
      fr.count() // materialize the cache outside the timed section
      var best = Double.MaxValue
      for (_ <- 1 to 3) {
        val t0 = System.nanoTime()
        val eligible = CrawlEngine.topKPerHost(fr, budget)
        val drainKeys = eligible
          .select($"url_hash", $"priority", $"depth", $"url")
          .orderBy(desc("priority"), asc("depth"), asc("url"))
          .limit(roundSize)
          .select($"url_hash")
        val n = eligible.join(drainKeys, Seq("url_hash"), "left_semi").count()
        val sec = (System.nanoTime() - t0) / 1e9
        require(n == roundSize, s"drained $n != $roundSize")
        if (sec < best) best = sec
      }
      best
    }

    // order-fair: 1x, 10x, then 1x again (best) — the first measured size
    // otherwise pays residual JIT alone
    val f1 = frontier(100000L)
    val s1a = timeDrain(f1)
    val f10 = frontier(1000000L)
    val s10 = timeDrain(f10)
    f10.unpersist()
    val s1 = math.min(s1a, timeDrain(f1))
    f1.unpersist()
    println(f"""{"drain_sec_100k":$s1%.3f,"drain_sec_1m":$s10%.3f,"ratio_10x":${s10 / s1}%.2f,"budget":$budget,"round_size":$roundSize}""")
    spark.stop()
  }
}
