package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable

import graft.frontier.{CrawlConfig, CrawlEngine, Robots, RobotsRule}
import graft.sources.PagesTable
import graft.tables.{SnapshotStore, SyntheticWeb}
import graft.urls.UrlOps
import graft.dom.HtmlParser
import graft.detect.Detector

/** Crawl-parity + resume tests (SURVEY.md §5.2 items 4-5): the Spark frontier
  * must reproduce the URL-seen set and per-round drain ordering of an
  * independent single-threaded simulator implementing the same policy
  * (BFS rounds, per-host politeness budget, robots, enqueue-time dedup —
  * scrapy's documented semantics, settings.py:19-22,90).
  */
class CrawlSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val nHosts = 4
  val nPages = 40
  lazy val pageMap: Map[String, Array[Byte]] = {
    import spark.implicits._
    SyntheticWeb.pagesFast(spark, nPages, nHosts, 4)
      .collect().map(p => p.url -> p.html).toMap
  }
  // cached ONCE for the suite: per-test `.cache()` on the identical plan
  // only triggers CacheManager's "already cached" WARN after the first test
  lazy val pagesCached: org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    SyntheticWeb.pagesFast(spark, nPages, nHosts, 4).toDF().cache()
  }
  /** `pages` as (url, html) plus one `/robots.txt` row per rule
    * (Robots.serialize round-trips exactly): the engine fetches robots rules
    * from the pages table like any other page.
    */
  def withRules(pages: DataFrame, rules: Seq[RobotsRule]): DataFrame = {
    import spark.implicits._
    pages.select("url", "html").union(rules.map(r => (s"https://${r.host}/robots.txt",
      Robots.serialize(r).getBytes(java.nio.charset.StandardCharsets.UTF_8)))
      .toDF("url", "html"))
  }
  val robots: Seq[RobotsRule] =
    SyntheticWeb.robotsRules(nHosts).map(r => RobotsRule(r._1, r._2, r._3, r._4))
  // `withRules(pagesCached, robots)` as a table bucketed on url, the pages
  // layout a drain over the broadcast budget needs (budget 0 forces one).
  // Written once for the suite; the last test drops it
  val bucketedName = "crawlspec_pages_bucketed"
  lazy val bucketedPages: DataFrame = {
    PagesTable.writeBucketed(spark, withRules(pagesCached, robots), bucketedName, 4)
    PagesTable.read(spark, bucketedName)
  }
  // host0 serves Crawl-delay: 2.5s against the 1s logical round
  val delayedRobots: Seq[RobotsRule] = robots.map(r =>
    if (r.host == "host0.example") r.copy(crawl_delay_ms = 2500L) else r)
  val cfg: CrawlConfig = CrawlConfig(numBuckets = 8, hostBudgetPerRound = 3,
    roundSize = 16, maxRounds = 12)

  def ruleAllows(rules: Map[String, RobotsRule], u: String): Boolean =
    rules.get(UrlOps.hostOf(u)) match {
      case None => true
      case Some(r) =>
        // path+query, like the engine's robots gate (RFC 9309 §2.2.2)
        graft.frontier.Robots.allowed(
          UrlOps.pathQueryOfCanonical(UrlOps.canonicalize(u)),
          r.allow_prefixes, r.disallow_prefixes)
    }

  /** Reference simulator: same policy, plain collections. Returns the seen
    * set plus the per-NONEMPTY-round drains as (roundNo, urls) — idle rounds
    * (all hosts inside a crawl-delay window) tick the clock silently, exactly
    * like the engine.
    */
  def simulate(rulesSeq: Seq[RobotsRule] = robots,
      roundTimeMs: Long = 1000L): (Set[String], Vector[(Int, Vector[String])]) = {
    val rules = rulesSeq.map(r => r.host -> r).toMap
    val frontier = mutable.SortedSet.empty[(Int, String)] // (depth, url)
    val seen = mutable.Set.empty[String]
    val nextOk = mutable.Map.empty[String, Int]
    SyntheticWeb.seedUrls(nHosts).map(UrlOps.canonicalize).distinct
      .filter(ruleAllows(rules, _)).foreach { u =>
        frontier += ((0, u)); seen += u
      }
    val drains = Vector.newBuilder[(Int, Vector[String])]
    var rounds = 0
    var continue = true
    while (continue && frontier.nonEmpty && rounds < cfg.maxRounds) {
      // crawl-delay gate, then politeness: per-host top budget by
      // (depth asc, url asc); then global top roundSize by same ordering
      val perHost = mutable.Map.empty[String, Int]
      val eligible = frontier.toVector.filter { case (_, u) =>
        val h = UrlOps.hostOf(u)
        if (nextOk.getOrElse(h, 0) > rounds) false
        else {
          val c = perHost.getOrElse(h, 0)
          if (c < cfg.hostBudgetPerRound) { perHost(h) = c + 1; true } else false
        }
      }
      val drained = eligible.sortBy(identity).take(cfg.roundSize)
      if (drained.isEmpty) {
        if (nextOk.valuesIterator.exists(_ > rounds)) rounds += 1
        else continue = false
      } else {
        drains += ((rounds, drained.map(_._2)))
        frontier --= drained
        // fetch + extract links
        val cands = mutable.Map.empty[String, (Int, String)] // canon -> (depth, url)
        drained.foreach { case (depth, u) =>
          pageMap.get(u).foreach { html =>
            val doc = HtmlParser.parseBytes(html)
            Detector.extractLinks(u, doc).foreach { l =>
              val c = UrlOps.canonicalize(l)
              if (ruleAllows(rules, c)) {
                val e = (depth + 1, c)
                cands.get(c) match {
                  case Some(old) if old._1 < e._1 ||
                    (old._1 == e._1 && old._2 <= e._2) => // keep old
                  case _ => cands(c) = e
                }
              }
            }
          }
        }
        cands.values.foreach { case (d, c) =>
          if (!seen.contains(c)) { seen += c; frontier += ((d, c)) }
        }
        drained.iterator.map(e => UrlOps.hostOf(e._2)).toSet.foreach { h: String =>
          rules.get(h).foreach { r =>
            if (r.crawl_delay_ms > roundTimeMs)
              nextOk(h) = rounds +
                math.ceil(r.crawl_delay_ms.toDouble / roundTimeMs).toInt
          }
        }
        rounds += 1
      }
    }
    (seen.toSet, drains.result())
  }

  /** A crawl's committed global lineage rows (bucket -1), by round. */
  def globalLineage(stateDir: String): Seq[org.apache.spark.sql.Row] =
    SnapshotStore.read(spark, SnapshotStore.latestManifest(stateDir).get, "lineage")
      .filter(org.apache.spark.sql.functions.col("bucket") === -1)
      .collect().toSeq.sortBy(_.getAs[Int]("round"))

  /** Every seen dir of `m` is flat (no `bucket=` subdirectory), and each of
    * its parquet files stores a `bucket` column with rows sorted by
    * (bucket, url_hash).
    */
  def assertFlatSortedSeen(m: SnapshotStore.Manifest, label: String = ""): Unit = {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, input_file_name, monotonically_increasing_id}
    val dirs = SnapshotStore.dirsOf(m, "seen")
    dirs.foreach { d =>
      val hive = Option(new java.io.File(d).list()).toSeq.flatten.filter(_.startsWith("bucket="))
      assert(hive.isEmpty, s"$label seen dir $d holds $hive")
    }
    // a file's rows are read in order, and ids grow along each read task;
    // a file without a bucket column reads nulls, which fail the decode
    val rows = spark.read
      .schema(org.apache.spark.sql.Encoders.product[graft.frontier.FrontierEntry].schema)
      .parquet(dirs: _*)
      .select(input_file_name().as("file"), monotonically_increasing_id().as("pos"),
        col("bucket"), col("url_hash"))
      .as[(String, Long, Int, Long)].collect()
    rows.groupBy(_._1).foreach { case (file, rs) =>
      val keys = rs.sortBy(_._2).map(r => (r._3, r._4)).toSeq
      assert(keys == keys.sorted, s"$label $file is not sorted by (bucket, url_hash)")
    }
  }

  test("spark crawl matches the simulator's URL-seen set and drain ordering" +
      " under every filter-fold config") {
    import spark.implicits._
    val pages = pagesCached
    val (simSeen, simDrains) = simulate()
    val simSeenHashes = simSeen.map(UrlOps.fnv1a64)
    val simFetchedPerRound = simDrains.map(_._2.filter(pageMap.contains))

    // lazy-fold (default: pending path, filters never refold at this scale),
    // fold-every-round (round-2 behavior), and fold+grow (tiny capacity
    // forces rebuild-at-2x)
    val configs = Seq(
      "lazy" -> cfg,
      "eager" -> cfg.copy(foldMinKeys = 1, foldFrac = 0.0),
      "grow" -> cfg.copy(foldMinKeys = 1, foldFrac = 0.0, filterCapacityPerBucket = 16),
      // broadcastLimitBytes = 0 forces the whole distributed round (the
      // 10^10-scale shapes): the distributed drain, the sort-merge fetch join
      // over url-bucketed pages and the co-partitioned cogroup probe; the
      // other configs take the broadcast shapes — all must land on the
      // simulator's exact seen set
      "cogroup" -> cfg.copy(foldMinKeys = 1, foldFrac = 0.0, broadcastLimitBytes = 0L),
      // the distributed round + DEFAULT (lazy) fold policy: filters never
      // refold at this scale, so every round's cuckoo misses run the
      // pending-seen anti-join with NON-EMPTY deltas — the combination the
      // eager cogroup config (empty pending by construction) cannot reach
      "cogroup-lazy" -> cfg.copy(broadcastLimitBytes = 0L))
    // each config's global lineage rows (bucket -1), checked identical
    // across configs: the robots-blocked tallies ride different probe legs
    // on the broadcast and cogroup paths
    val lineageByConfig = mutable.LinkedHashMap.empty[String, Seq[org.apache.spark.sql.Row]]
    // written here, outside the html-shuffle watch: the write itself
    // repartitions the pages by url
    val distributedPages = bucketedPages
    for ((label, fcfg) <- configs) {
      val stateDir = graft.util.TempDirs.create(s"graft-crawlspec-$label-").toString
      val distributed = fcfg.broadcastLimitBytes == 0L
      val phases = new PhaseTasks
      val plans = new HtmlPlans
      spark.listenerManager.register(plans)
      val stats = try listening(phases)(CrawlEngine.run(spark,
          if (distributed) distributedPages else withRules(pages, robots),
          SyntheticWeb.seedUrls(nHosts).toDS(), fcfg, stateDir))
        finally spark.listenerManager.unregister(plans)
      // each config runs the drain and fetch shapes its budget picks, and
      // only those: a sort-merge fetch join at budget 0, a filter on the
      // pages scan (no join) otherwise; neither shape shuffles html
      val (ran, skipped) =
        if (distributed) ("drain-bounds", "drain-keys") else ("drain-keys", "drain-bounds")
      assert(phases.of(ran).nonEmpty && phases.of(skipped).isEmpty,
        s"[$label] want $ran jobs and no $skipped job: $ran ${phases.of(ran)}, " +
          s"$skipped ${phases.of(skipped)}")
      assert(if (distributed) plans.pageJoins.nonEmpty &&
          plans.pageJoins.forall(_ == "SortMergeJoin") else plans.pageJoins.isEmpty,
        s"[$label] joins output pages: ${plans.pageJoins}")
      assert(plans.htmlShuffles.isEmpty, s"[$label] html shuffled: ${plans.htmlShuffles}")

      // final URL-seen set: compare via hashes (engine stores hashes)
      val m = SnapshotStore.latestManifest(stateDir).get
      val engineSeen = CrawlEngine.readSeenDirs(spark,
          SnapshotStore.dirsOf(m, "seen"))
        .select("url_hash").as[Long].collect().toSet
      assert(engineSeen == simSeenHashes,
        s"[$label] seen mismatch: engine=${engineSeen.size} sim=${simSeenHashes.size}")
      assertFlatSortedSeen(m, s"[$label]")

      // per-round drain ordering: outputs snapshot per round records fetched urls
      for (r <- simFetchedPerRound.indices) {
        val v = r + 1
        val mr = SnapshotStore.readManifest(stateDir, v)
        val fetched = SnapshotStore.read(spark, mr, "outputs")
          .select("url").as[String].collect().toSet
        assert(fetched == simFetchedPerRound(r).toSet,
          s"[$label] round $r fetched mismatch")
      }
      assert(stats.fetched == simFetchedPerRound.map(_.size).sum)
      assert(stats.rounds == simDrains.size)
      // every commit is relative to the previous manifest: v0's tables plus
      // the round's outputs, and a delta table's dirs are the previous list
      // plus at most this version's dir. The seen table is the frontier's
      // add history, so no manifest names a separate frontier_adds table,
      // and the committed frontier (seen minus tombstones) is exactly the
      // carried one: frontier_size distinct entries, none of them drained
      val v0 = SnapshotStore.readManifest(stateDir, 0)
      (0 to m.version).foldLeft(v0) { (prev, v) =>
        val mv = SnapshotStore.readManifest(stateDir, v)
        assert(!mv.dataDirs.contains("frontier_adds"), s"[$label] v$v names frontier_adds")
        if (v > 0) {
          assert(mv.dataDirs.keySet == v0.dataDirs.keySet + "outputs",
            s"[$label] v$v tables: ${mv.dataDirs.keySet}")
          for (t <- Seq("seen", "robots", "lineage", "frontier_rm")) {
            val was = SnapshotStore.dirsOf(prev, t)
            val now = SnapshotStore.dirsOf(mv, t)
            val own = SnapshotStore.deltaDirFor(stateDir, v, t)
            assert(now == was || now == was :+ own, s"[$label] v$v $t: $was -> $now")
          }
        }
        val frontierHashes = CrawlEngine.readFrontier(spark, mv)
          .select("url_hash").as[Long].collect()
        assert(frontierHashes.length == mv.counters("frontier_size") &&
            frontierHashes.distinct.length == frontierHashes.length,
          s"[$label] v$v frontier has ${frontierHashes.length} rows " +
            s"(${frontierHashes.distinct.length} distinct), counter " +
            s"${mv.counters("frontier_size")}")
        val drained = SnapshotStore.read(spark, mv, "frontier_rm")
          .select("url_hash").as[Long].collect().toSet
        assert(!frontierHashes.exists(drained), s"[$label] v$v frontier holds a drained url")
        mv
      }
      val global = globalLineage(stateDir)
      assert(global.map(_.getAs[Int]("round")) == (0 until stats.rounds),
        s"[$label] want one bucket -1 lineage row per round")
      lineageByConfig(label) = global
      // the per-bucket rows add up to each round's global drained / new counts
      import org.apache.spark.sql.functions.{col, sum}
      val perBucket = SnapshotStore.read(spark, m, "lineage").filter(col("bucket") =!= -1)
        .groupBy("round").agg(sum("drained"), sum("new_urls"))
        .as[(Int, Long, Long)].collect().toSeq.sortBy(_._1)
      assert(perBucket == global.map(r => (r.getAs[Int]("round"),
          r.getAs[Long]("drained"), r.getAs[Long]("new_urls"))),
        s"[$label] per-bucket lineage disagrees with the global rows")

      // filter-table health invariants per config
      import graft.frontier.{CuckooFilter, FilterState}
      val filters = SnapshotStore.read(spark, m, "filters").as[FilterState].collect()
      val restored = filters.map(f => f.bucket -> CuckooFilter.fromBytes(f.cuckoo_bytes)).toMap
      val lazyFold = label.endsWith("lazy")
      // every key of the seen dirs the filters reflect (the bootstrap's on
      // the lazy configs; all of them on the eager ones, which fold every
      // discovering round) is IN the committed filter, and the blob-byte
      // counter is the committed blobs' exact size
      val seenDirs = SnapshotStore.dirsOf(m, "seen")
      val foldedDirs = seenDirs.take(m.counters("filters_folded_dirs").toInt)
      if (!lazyFold) assert(foldedDirs == seenDirs, s"[$label] unfolded seen dirs")
      val seenRows = CrawlEngine.readSeenDirs(spark, foldedDirs).collect()
      assert(seenRows.nonEmpty &&
          seenRows.forall(s => restored(s.bucket).contains(s.url_hash)),
        s"[$label] filter lost a folded seen key")
      assert(filters.map(_.cuckoo_bytes.length.toLong).sum ==
          m.counters("filter_blob_bytes"), s"[$label] filter_blob_bytes counter")
      restored.values.foreach { f =>
        assert(f.size.toDouble / f.capacity <= CuckooFilter.LoadLimit + 1e-9,
          s"[$label] filter over load limit")
        assert(f.stashSize == 0,
          s"[$label] stash must stay empty (rebuild-at-2x), got ${f.stashSize}")
      }
      if (label == "grow")
        assert(restored.values.exists(_.capacity > 16 * 2),
          "[grow] at least one bucket must have been rebuilt larger")
      // write amplification: filters dirs exist only for fold commits (and a
      // fold only happens when the round enqueued new keys)
      val foldCommits = (1 to stats.rounds).count { v =>
        new java.io.File(s"$stateDir/data/v$v/filters").isDirectory
      }
      if (lazyFold)
        assert(foldCommits == 0,
          s"[$label] lazy fold must never rewrite filters at this scale, got $foldCommits")
      else {
        assert(foldCommits >= 1)
        assert(m.counters("pending_keys") == 0L, s"[$label] eager fold left pending keys")
      }
    }
    val (firstLabel, firstRows) = lineageByConfig.head
    lineageByConfig.foreach { case (label, rows) =>
      assert(rows == firstRows, s"[$label] lineage differs from [$firstLabel]")
    }
  }

  test("C4: robots rules come only from /robots.txt page bodies in the pages table") {
    import spark.implicits._
    val pages = SyntheticWeb.pagesFast(spark, nPages, nHosts, 4)
      .union(SyntheticWeb.robotsPages(spark, nHosts)).toDF().cache()
    val stateDir = graft.util.TempDirs.create("graft-robotspages-").toString
    // NEW api: no rules parameter anywhere — the engine fetches
    // https://host/robots.txt rows from the pages table itself
    val stats = CrawlEngine.run(spark, pages,
      spark.createDataset(SyntheticWeb.seedUrls(nHosts)), cfg, stateDir)
    val (simSeen, simDrains) = simulate()
    val m = SnapshotStore.latestManifest(stateDir).get
    val engineSeen = CrawlEngine.readSeenDirs(spark,
        SnapshotStore.dirsOf(m, "seen"))
      .select("url_hash").as[Long].collect().toSet
    assert(engineSeen == simSeen.map(UrlOps.fnv1a64))
    assert(stats.rounds == simDrains.size)
    assertFlatSortedSeen(m)
    // the robots table persisted the PARSED rules (including host2's Allow)
    import graft.frontier.RobotsEntry
    val rt = SnapshotStore.read(spark, m, "robots").as[RobotsEntry].collect()
    assert(rt.find(_.host == "host1.example").get.disallow == Seq("/private", "/tag"))
    assert(rt.find(_.host == "host2.example").get.allow == Seq("/private/area0"))
    // the Allow exception actually enqueued the excepted url (it is later
    // drained — no page serves it — so assert on the seen set, not frontier)
    assert(engineSeen.contains(
        UrlOps.fnv1a64("https://host2.example/private/area0")),
      "host2's Allow-excepted /private/area0 must be enqueued")
    assert(!engineSeen.contains(UrlOps.fnv1a64("https://host0.example/private/area0")),
      "other hosts' /private stays blocked")
    // a host with no robots.txt row gets the allow-all negative-cache entry
    val stateDir2 = graft.util.TempDirs.create("graft-norobots-").toString
    CrawlEngine.run(spark, SyntheticWeb.pagesFast(spark, nPages, nHosts, 4).toDF(),
      spark.createDataset(SyntheticWeb.seedUrls(nHosts)), cfg.copy(maxRounds = 2), stateDir2)
    val rt2 = SnapshotStore.read(spark,
      SnapshotStore.latestManifest(stateDir2).get, "robots").as[RobotsEntry].collect()
    assert(rt2.nonEmpty && rt2.forall(r => r.allow.isEmpty && r.disallow.isEmpty))
  }

  test("C5: crawl-delay closes a host's window for ceil(D/roundTime) rounds") {
    import spark.implicits._
    val pages = pagesCached
    val stateDir = graft.util.TempDirs.create("graft-delay-").toString
    CrawlEngine.run(spark, withRules(pages, delayedRobots),
      SyntheticWeb.seedUrls(nHosts).toDS(), cfg, stateDir)
    val m = SnapshotStore.latestManifest(stateDir).get
    // engine (roundNo, fetched-set) per committed round == delay-aware sim
    val (simSeen, simDrains) = simulate(delayedRobots)
    val simFetched = simDrains.map { case (r, us) => (r, us.filter(pageMap.contains).toSet) }
    val versions = (1 to m.version).flatMap { v =>
      scala.util.Try(SnapshotStore.readManifest(stateDir, v)).toOption
    }
    val engineFetched = versions.map { mr =>
      (mr.counters("round").toInt,
        SnapshotStore.read(spark, mr, "outputs").select("url").as[String].collect().toSet)
    }
    assert(engineFetched == simFetched,
      s"per-round fetch parity under crawl-delay:\n e=$engineFetched\n s=$simFetched")
    // delay_rows, a tally inside the merged host_next_ok table's cut, counts
    // the rows each commit wrote
    val delayed = versions.filter(_.dataDirs.contains("host_next_ok"))
    assert(delayed.nonEmpty)
    delayed.foreach { mr =>
      assert(mr.counters("delay_rows") == SnapshotStore.read(spark, mr, "host_next_ok").count())
    }
    // host0 fetch rounds spaced >= ceil(2500/1000) = 3 apart
    val host0Rounds = engineFetched.filter(_._2.exists(_.contains("host0"))).map(_._1)
    assert(host0Rounds.size >= 2, "need at least two host0 windows to assert spacing")
    host0Rounds.sliding(2).foreach { case Seq(a, b) =>
      assert(b - a >= 3, s"host0 drained in rounds $a and $b, closer than its delay")
    }
    // seen-set parity too
    val engineSeen = CrawlEngine.readSeenDirs(spark,
        SnapshotStore.dirsOf(m, "seen"))
      .select("url_hash").as[Long].collect().toSet
    assert(engineSeen == simSeen.map(UrlOps.fnv1a64))
    assertFlatSortedSeen(m)
  }

  test("legacy (pre-delta-format) snapshots are rejected loudly, not resumed as empty") {
    import spark.implicits._
    val stateDir = graft.util.TempDirs.create("graft-legacy-").toString
    // fabricate a round-1-format manifest: full `frontier` table dir, no
    // frontier_size counter
    val df = Seq(("https://host0.example/page/0", 1L)).toDF("url", "url_hash")
    df.write.parquet(s"$stateDir/data/v0/frontier")
    SnapshotStore.writeManifest(stateDir, SnapshotStore.Manifest(0,
      Map("frontier" -> s"$stateDir/data/v0/frontier"), Map("round" -> -1L)))
    // delta-layout manifests each missing one of the crawl counters (r4
    // layouts lack filter_blob_bytes, older ones filters_folded_dirs too)
    val allCounters = Map("round" -> 0L, "fetched" -> 0L, "extracted" -> 0L,
      "seen" -> 1L, "frontier_size" -> 1L, "filters_folded_dirs" -> 1L,
      "pending_keys" -> 0L, "delay_rows" -> 0L, "max_delay_ms" -> 0L,
      "filter_blob_bytes" -> 0L)
    val deltaDirs = Seq("frontier_rm", "seen", "robots", "filters", "lineage")
    def manifest(name: String, tables: Seq[String], counters: Map[String, Long]) = {
      val d = graft.util.TempDirs.create(s"graft-legacy-$name-").toString
      SnapshotStore.writeManifest(d, SnapshotStore.Manifest(0,
        tables.map(t => t -> s"$d/data/v0/$t").toMap, counters))
      d
    }
    // the layout that kept the frontier's adds apart from a key-only seen
    // table (every counter present, one frontier_adds table too many), and
    // the layout that hive-partitioned each seen delta by bucket
    val hive = manifest("hive", deltaDirs, allCounters)
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(hive, "data", "v0", "seen", "bucket=0"))
    val cases = (stateDir -> "pre-delta tables") +:
      (manifest("adds", deltaDirs :+ "frontier_adds", allCounters) -> "frontier_adds") +:
      (hive -> "hive-partitioned seen dirs") +:
      allCounters.keys.toSeq.sorted.map { missing =>
        manifest(s"no-$missing", deltaDirs, allCounters - missing) -> s"no $missing counter"
      }
    val pages = SyntheticWeb.pagesFast(spark, 8, nHosts, 2).toDF()
    for ((d, why) <- cases) {
      val e = intercept[IllegalStateException] {
        CrawlEngine.run(spark, withRules(pages, robots),
          SyntheticWeb.seedUrls(nHosts).toDS(), cfg, d)
      }
      assert(e.getMessage.contains("incompatible legacy snapshot format") &&
        e.getMessage.contains(why), e.getMessage)
    }
  }

  test("crawl is resumable from the latest snapshot with identical final state") {
    import spark.implicits._
    // the broadcast round, and the distributed round (budget 0) over
    // url-bucketed pages
    val inputs = Seq(
      ("broadcast", withRules(pagesCached, robots), cfg),
      ("distributed", bucketedPages, cfg.copy(broadcastLimitBytes = 0L)))
    for ((label, pages, rcfg) <- inputs) {
      // full run
      val fullDir = graft.util.TempDirs.create(s"graft-full-$label-").toString
      val fullStats = CrawlEngine.run(spark, pages,
        SyntheticWeb.seedUrls(nHosts).toDS(), rcfg, fullDir)

      val fullLineage = globalLineage(fullDir)

      // interrupted run: stops after the last round that discovered new urls
      // (so that round pre-wrote a seen delta), then resumes with full budget
      val lastNew = fullLineage.filter(_.getAs[Long]("new_urls") > 0)
        .map(_.getAs[Int]("round")).max
      assert(lastNew >= 1, s"[$label] need a discovering round after round 0: $fullLineage")
      val partDir = graft.util.TempDirs.create(s"graft-part-$label-").toString
      CrawlEngine.run(spark, pages,
        SyntheticWeb.seedUrls(nHosts).toDS(), rcfg.copy(maxRounds = lastNew + 1), partDir)
      // simulate crash: a torn uncommitted write must be invisible. Dropping
      // the last manifest leaves that round's data dirs — including the seen
      // delta written before the commit — orphaned on disk, as a crash between
      // the writes and the manifest rename would
      val v = lastNew + 1
      assert(java.nio.file.Files.isDirectory(java.nio.file.Paths.get(partDir, "data", s"v$v", "seen")),
        s"[$label] round $lastNew must have pre-written a seen delta")
      java.nio.file.Files.delete(java.nio.file.Paths.get(partDir, "snapshots", s"v$v.json"))
      assert(SnapshotStore.latestVersion(partDir).contains(v - 1))
      val resumedStats = CrawlEngine.run(spark, pages,
        SyntheticWeb.seedUrls(nHosts).toDS(), rcfg, partDir)

      assert(resumedStats.fetched == fullStats.fetched, s"[$label] fetched")
      assert(resumedStats.extractedRows == fullStats.extractedRows, s"[$label] extracted")
      assert(resumedStats.seenSize == fullStats.seenSize, s"[$label] seen size")
      val fullSeen = CrawlEngine.readSeenDirs(spark, SnapshotStore.dirsOf(
          SnapshotStore.latestManifest(fullDir).get, "seen"))
        .select("url_hash").as[Long].collect().toSet
      val resumedSeen = CrawlEngine.readSeenDirs(spark, SnapshotStore.dirsOf(
          SnapshotStore.latestManifest(partDir).get, "seen"))
        .select("url_hash").as[Long].collect().toSet
      assert(fullSeen == resumedSeen, s"[$label] seen set")
      assertFlatSortedSeen(SnapshotStore.latestManifest(partDir).get, s"[$label]")
      assert(globalLineage(partDir) == fullLineage, s"[$label] lineage")
    }
  }

  test("a drain over the broadcast budget refuses pages not bucketed on url") {
    import spark.implicits._
    val budget0 = cfg.copy(broadcastLimitBytes = 0L)
    val stateDir = graft.util.TempDirs.create("graft-unbucketed-").toString
    val e = intercept[IllegalArgumentException] {
      CrawlEngine.run(spark, withRules(pagesCached, robots),
        SyntheticWeb.seedUrls(nHosts).toDS(), budget0, stateDir)
    }
    assert(e.getMessage.contains("broadcastLimitBytes") &&
      e.getMessage.contains("PagesTable.writeBucketed"), e.getMessage)
    assert(SnapshotStore.latestVersion(stateDir).contains(0),
      "the bootstrap commits v0 and no round commits after it")
    // the layout check plans each relation and runs no job: a flat parquet
    // table, a cached DataFrame and a union fail it, the bucketed table passes
    val flatDir = graft.util.TempDirs.create("graft-unbucketed-flat-").toString
    pagesCached.select("url", "html").write.mode("overwrite").parquet(flatDir)
    // opening the flat table infers its schema, and the first use of the
    // bucketed one writes it, each in jobs of their own
    val refused = Seq("flat parquet" -> spark.read.parquet(flatDir),
      "cached" -> pagesCached, "union" -> withRules(pagesCached, robots))
    val bucketed = bucketedPages
    val planned = new PhaseTasks
    listening(planned) {
      for ((what, pages) <- refused)
        assert(scala.util.Try(CrawlEngine.requireUrlBucketedPages(pages, budget0))
          .failed.toOption.exists(_.isInstanceOf[IllegalArgumentException]),
          s"$what pages passed the url-bucketed layout check")
      CrawlEngine.requireUrlBucketedPages(bucketed, budget0)
    }
    assert(planned.of("").isEmpty, "the layout check ran a job")
  }

  test("drain-to-exhaustion writes no empty seen deltas") {
    import spark.implicits._
    val pages = pagesCached
    // seed every page PLUS every extractable link, so each round's
    // discovered candidates are all dups: after the bootstrap the crawl is a
    // pure drain, and the engine must carry the bootstrap's single seen dir
    // forward without committing a new (empty) delta dir per round
    val allUrls = (pageMap.keys.toSeq ++ pageMap.flatMap { case (u, html) =>
      Detector.extractLinks(u, HtmlParser.parseBytes(html))
        .map(UrlOps.canonicalize)
    }).distinct.filter(!_.endsWith("/robots.txt"))
    val drainCfg = cfg.copy(roundSize = 8, hostBudgetPerRound = 100, maxRounds = 16)
    val stateDir = graft.util.TempDirs.create("graft-drain-").toString
    val stats = CrawlEngine.run(spark, withRules(pages, robots),
      allUrls.toDS(), drainCfg, stateDir)
    assert(stats.fetched > 0)
    val m = SnapshotStore.latestManifest(stateDir).get
    val seenDirs = SnapshotStore.dirsOf(m, "seen")
    assert(seenDirs.length == 1,
      s"pure drain must not accumulate seen delta dirs, got ${seenDirs.length}")
    // and the seen set is exactly the robots-allowed seeds
    val seen = CrawlEngine.readSeenDirs(spark, seenDirs)
      .select("url_hash").as[Long].collect().toSet
    val rules = robots.map(r => r.host -> r).toMap
    val expected = allUrls.map(UrlOps.canonicalize).distinct
      .filter(ruleAllows(rules, _)).map(UrlOps.fnv1a64).toSet
    assert(seen == expected)
    assertFlatSortedSeen(m)
  }

  test("P14: test-mode skips seed urls containing 'example'") {
    import spark.implicits._
    val pages = SyntheticWeb.pagesFast(spark, nPages, nHosts, 4).toDF()
    val stateDir = graft.util.TempDirs.create("graft-testmode-").toString
    val stats = CrawlEngine.run(spark, withRules(pages, robots),
      SyntheticWeb.seedUrls(nHosts).toDS(), cfg.copy(isTest = true), stateDir)
    assert(stats.fetched == 0 && stats.seenSize == 0, "all example seeds skipped")
    // the seen delta of a bootstrap that admitted no seed holds no data
    // file, and reads as empty
    val v0 = SnapshotStore.readManifest(stateDir, 0)
    assert(CrawlEngine.readFrontier(spark, v0).count() == 0 &&
      CrawlEngine.readSeenDirs(spark, SnapshotStore.dirsOf(v0, "seen")).count() == 0)
    assertFlatSortedSeen(v0)
    // non-example seeds survive test mode (and simply fetch nothing here)
    val stateDir2 = graft.util.TempDirs.create("graft-testmode2-").toString
    val stats2 = CrawlEngine.run(spark, withRules(pages, robots),
      Seq("https://real.site/page/0").toDS(), cfg.copy(isTest = true), stateDir2)
    assert(stats2.seenSize == 1)
  }

  test("P11: internal-link subset keeps same-domain links only") {
    val (h, k) = (0, 1) // page with a cross-host friend link (xh=3)
    val html = SyntheticWeb.pageHtml(h, k, 10, nHosts)
    val url = SyntheticWeb.pageUrl(h, k)
    val doc = HtmlParser.parseBytes(html.getBytes("UTF-8"))
    val g = graft.detect.PageGraph(doc).get
    val all = graft.detect.Pagination.linkNodeIdxs(g)
    val internal = graft.detect.Pagination.internalLinkNodeIdxs(g, url)
    assert(internal.nonEmpty && internal.size < all.size)
    assert(internal.forall(i =>
      UrlOps.urlDomain(UrlOps.transformUrl(url, g.node(i).attr("href").get)) == "host0.example"))
    // excluded: the cross-host friend link, plus the header "/" link — "/"
    // is a substring of the regex literal "^(https?:)?//", so the
    // reference's reversed-re.search bug treats it as ABSOLUTE and leaves
    // it untransformed (domain "" != root domain). Bug-compat preserved.
    val excluded = all.diff(internal).map(i => g.node(i).attr("href").get)
    assert(excluded.toSet == Set("/", "https://host3.example/page/0"))
  }

  test("robots.txt parsing: groups, agent specificity, crawl-delay") {
    val body =
      """# example robots file
        |User-agent: *
        |Disallow: /private
        |Crawl-delay: 1.5
        |
        |User-agent: graftbot
        |User-agent: otherbot
        |Disallow: /tag
        |Disallow: /search
        |
        |User-agent: evilbot
        |Disallow: /
        |Sitemap: https://h.example/sitemap.xml
        |""".stripMargin
    val r = graft.frontier.Robots.rule("h.example", body, userAgent = "graftbot/1.0")
    assert(r.disallow_prefixes == Seq("/tag", "/search"))
    assert(r.crawl_delay_ms == 0L)
    val fallback = graft.frontier.Robots.rule("h.example", body, userAgent = "randombot")
    assert(fallback.disallow_prefixes == Seq("/private"))
    assert(fallback.crawl_delay_ms == 1500L)
    val evil = graft.frontier.Robots.rule("h.example", body, userAgent = "EvilBot/2")
    assert(evil.disallow_prefixes == Seq("/"))
    // empty / missing robots allows everything
    assert(graft.frontier.Robots.rule("h.example", "").disallow_prefixes.isEmpty)
    // empty Disallow in a matching group allows everything
    val open = "User-agent: *\nDisallow:\n"
    assert(graft.frontier.Robots.rule("h.example", open).disallow_prefixes.isEmpty)
  }

  test("robots Allow: RFC 9309 longest-match precedence, allow wins ties") {
    val body =
      """User-agent: *
        |Disallow: /
        |Allow: /public
        |Disallow: /public/secret
        |Allow: /public/secret/ok
        |""".stripMargin
    val r = graft.frontier.Robots.rule("h.example", body)
    assert(r.allow_prefixes == Seq("/public", "/public/secret/ok"))
    assert(r.disallow_prefixes == Seq("/", "/public/secret"))
    import graft.frontier.Robots.allowed
    assert(!allowed("/anything", r.allow_prefixes, r.disallow_prefixes))
    assert(allowed("/public/page", r.allow_prefixes, r.disallow_prefixes))
    assert(!allowed("/public/secret/x", r.allow_prefixes, r.disallow_prefixes))
    assert(allowed("/public/secret/ok/x", r.allow_prefixes, r.disallow_prefixes))
    // tie: Allow and Disallow same length -> allow wins
    assert(allowed("/a", Seq("/a"), Seq("/a")))
    // no matching disallow -> allowed regardless of allows
    assert(allowed("/elsewhere", Seq.empty, Seq("/private")))
    // serialize/parse round-trip preserves the rule
    val rt = graft.frontier.Robots.rule("h.example", graft.frontier.Robots.serialize(r))
    assert(rt == r)
  }

  test("robots wildcards: RFC 9309 * and $ matching") {
    import graft.frontier.Robots.{allowed, matches}
    // * matches any sequence
    assert(matches("/x/private/a", "/*/private"))
    assert(!matches("/private", "/*/private"))
    assert(matches("/a/b/c.php", "/a*php"))
    assert(matches("/ab", "/a*"))
    assert(matches("/a--b--c", "/a*b*c"))
    assert(!matches("/a--c--b", "/a*b*c"))
    // $ anchors at path end
    assert(matches("/page.php", "/*.php$"))
    assert(!matches("/page.php?x=1", "/*.php$")) // query not in path here
    assert(!matches("/page.phpx", "/*.php$"))
    assert(matches("/exact", "/exact$"))
    assert(!matches("/exactly", "/exact$"))
    assert(matches("/any/thing", "/any*$"))
    // plain prefixes keep prefix semantics
    assert(matches("/private/sub", "/private"))
    // precedence with wildcard rules: longest pattern wins, Allow wins ties
    assert(!allowed("/files/secret.pdf", Seq("/files"), Seq("/files/*.pdf$")))
    assert(allowed("/files/notes.txt", Seq("/files"), Seq("/files/*.pdf$")))
  }

  test("robots match path PLUS query (RFC 9309: query-string rules can hit)") {
    import graft.frontier.Robots.allowed
    // pathQueryOfCanonical keeps the ?query tail
    assert(UrlOps.pathQueryOfCanonical("https://h.example/a/b?x=1&y=2") == "/a/b?x=1&y=2")
    assert(UrlOps.pathQueryOfCanonical("https://h.example/a/b") == "/a/b")
    assert(UrlOps.pathQueryOfCanonical("https://h.example/") == "/")
    // a Disallow rule targeting a query parameter now matches
    val dis = Seq("/*?*sessionid=")
    assert(!allowed(UrlOps.pathQueryOfCanonical(
      UrlOps.canonicalize("https://h.example/page?sessionid=5")), Seq.empty, dis))
    assert(allowed(UrlOps.pathQueryOfCanonical(
      UrlOps.canonicalize("https://h.example/page")), Seq.empty, dis))
  }

  test("codegen robots gate matches the reference predicate row-for-row") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{array, col, lit, typedLit}
    val urls = Seq(
      "https://h.example/", "https://h.example/private/x",
      "https://h.example/public/ok", "https://h.example/p?sessionid=9",
      "https://h.example/files/doc.pdf", "https://h.example/files/doc.txt")
    val allow = Seq("/public")
    val dis = Seq("/private", "/*?*sessionid=", "/files/*.pdf$")
    val df = urls.toDF("url")
      .withColumn("allow", typedLit(allow))
      .withColumn("disallow", typedLit(dis))
    val got = df.filter(graft.functions.RobotsFunctions.robots_allowed(
        col("url"), col("allow"), col("disallow")))
      .select("url").as[String].collect().toSet
    val want = urls.filter(u => graft.frontier.Robots.allowed(
      UrlOps.pathQueryOfCanonical(u), allow, dis)).toSet
    assert(got == want)
    assert(want.contains("https://h.example/public/ok"))
    assert(!want.contains("https://h.example/p?sessionid=9"))
    assert(!want.contains("https://h.example/files/doc.pdf"))
  }

  test("robots fetch joins by HOST: an http-discovered host finds its https robots row") {
    import spark.implicits._
    val body = "User-agent: *\nDisallow: /blocked\n"
    val robotsSrc = Seq(
      ("https://h1.example/robots.txt",
        body.getBytes(java.nio.charset.StandardCharsets.UTF_8)),
      // h2 carries BOTH schemes: https (max) must win deterministically
      ("http://h2.example/robots.txt",
        "User-agent: *\nDisallow: /http-only\n"
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)),
      ("https://h2.example/robots.txt",
        "User-agent: *\nDisallow: /https-wins\n"
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    ).toDF("url", "html")
    val hosts = Seq("h1.example", "h2.example", "h3.example").toDF("host")
    val got = CrawlEngine.fetchRobots(spark, hosts, robotsSrc, "graftbot")
      .collect().map(r => r.host -> r.disallow).toMap
    assert(got("h1.example") == Seq("/blocked")) // found despite scheme mismatch
    assert(got("h2.example") == Seq("/https-wins"))
    assert(got("h3.example") == Seq.empty) // 404 negative cache: allow-all
  }

  test("robots filter blocks disallowed prefixes") {
    import spark.implicits._
    val pages = pagesCached
    val stateDir = graft.util.TempDirs.create("graft-robots-").toString
    CrawlEngine.run(spark, withRules(pages, robots),
      SyntheticWeb.seedUrls(nHosts).toDS(), cfg, stateDir)
    val m = SnapshotStore.latestManifest(stateDir).get
    val frontierUrls = CrawlEngine.readFrontier(spark, m)
      .select("url").as[String].collect()
    // /private is disallowed everywhere, except host2's Allow-excepted area0
    assert(!frontierUrls.exists(u => u.contains("/private") &&
        u != "https://host2.example/private/area0"),
      "disallowed /private urls must never be enqueued")
    // lineage recorded robots blocks
    val lineage = SnapshotStore.read(spark, m, "lineage")
    import org.apache.spark.sql.functions._
    val blocked = lineage.filter(col("bucket") === -1)
      .agg(sum("robots_blocked")).as[Long].head()
    assert(blocked > 0)
  }

  test("CuckooSeen expression matches CuckooFilter.contains under codegen") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.frontier.CuckooFilter
    val rnd = new scala.util.Random(7)
    val nb = 4
    val filters = Array.tabulate(nb)(b =>
      if (b == 3) null // missing bucket row = nothing folded = probe false
      else CuckooFilter.create(1000))
    val keys = (0 until 2000).map(_ => rnd.nextLong())
    keys.zipWithIndex.foreach { case (k, i) =>
      val b = i % nb
      if (filters(b) != null && i % 2 == 0) filters(b).add(k)
    }
    val bc = spark.sparkContext.broadcast(filters)
    val rows = keys.zipWithIndex.map { case (k, i) => (i % nb, k) }
    val df = rows.toDF("bucket", "url_hash")
    val got = df
      .withColumn("seen", graft.functions.CuckooFunctions.cuckoo_seen(
        bc, col("bucket"), col("url_hash")))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getBoolean(2)).toMap
    rows.foreach { case (b, k) =>
      val want = filters(b) != null && filters(b).contains(k)
      assert(got((b, k)) == want, s"probe mismatch for bucket=$b key=$k")
    }
    bc.destroy()
  }

  test("KeyIn expression matches a key-set lookup, negated too") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(11)
    val keys = Seq.fill(500)(rnd.nextLong())
    val drawn = keys.filter(_ => rnd.nextBoolean()).toSet
    for (set <- Seq(drawn, Set.empty[Long])) {
      val sorted = set.toArray
      java.util.Arrays.sort(sorted)
      val bc = spark.sparkContext.broadcast(sorted)
      val in = graft.functions.KeySetFunctions.key_in(bc, col("url_hash"))
      val df = keys.toDF("url_hash")
      assert(df.filter(in).as[Long].collect().toSet == set)
      assert(df.filter(!in).as[Long].collect().toSet == keys.toSet -- set)
      bc.destroy()
    }
  }

  test("UrlDepth expression returns a drained url's depth, null for any other url") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val drained = Seq("https://h.example/b" -> 2, "https://h.example/a" -> 0,
      "https://h.example/\u00e9" -> 5)
    val bc = spark.sparkContext.broadcast(graft.functions.UrlDepths(drained))
    val urls = drained.map(_._1) ++ Seq("https://h.example/", "https://h.example/c", "")
    val got = (urls :+ null).toDF("url")
      .select(col("url"), graft.functions.KeySetFunctions.url_depth(bc, col("url")))
      .as[(String, Option[Int])].collect().toSeq
    assert(got == (urls :+ null).map(u => (u, drained.toMap.get(u))))
    bc.destroy()
  }

  test("Tally expression counts rows and weight per partition and group, once") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.internal.SQLConf
    val sc = spark.sparkContext
    // the reference: the mapPartitions tally the expression replaced, keyed
    // by the task's partition id, over the same input and partitioning
    def wrapperTallies(df: DataFrame): Map[(Int, Int), (Long, Long)] = {
      val acc = new graft.frontier.PartitionTallies
      sc.register(acc)
      df.rdd.foreachPartition { it =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        val byGroup = mutable.Map.empty[Int, (Long, Long)]
        it.foreach { r =>
          val (n, w) = byGroup.getOrElse(r.getInt(0), (0L, 0L))
          byGroup(r.getInt(0)) = (n + 1, w + r.getLong(1))
        }
        byGroup.foreach { case (g, nw) => acc.add(((pid, g), nw)) }
      }
      acc.value
    }
    val modes = Seq("whole-stage" -> Map.empty[String, String],
      "no whole-stage" -> Map(SQLConf.WHOLESTAGE_CODEGEN_ENABLED.key -> "false"),
      "interpreted" -> Map(SQLConf.WHOLESTAGE_CODEGEN_ENABLED.key -> "false",
        SQLConf.CODEGEN_FACTORY_MODE.key -> "NO_CODEGEN"))
    for ((mode, confs) <- modes) {
      val was = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        // 7 partitions, 5 groups, one of them empty in some partitions
        val input = spark.range(0, 1000, 1, 7)
          .select((col("id") % 5).cast("int").as("g"), (col("id") * 3).as("w"))
          .filter(col("g") =!= 4 || col("id") < 300)
        val acc = new graft.frontier.PartitionTallies
        sc.register(acc, s"tally-spec-$mode")
        val tallied = input.filter(graft.functions.TallyFunctions.tally(acc,
          group = col("g"), weight = col("w"))).persist()
        val want = wrapperTallies(input)
        assert(tallied.count() == input.count(), s"[$mode] the tally filter dropped rows")
        assert(acc.value == want, s"[$mode] ${acc.value} != $want")
        val byGroup = input.collect().groupMapReduce(_.getInt(0))(r => (1L, r.getLong(1))) {
          case ((a, b), (c, d)) => (a + c, b + d)
        }
        assert(acc.rowsByGroup == byGroup.map { case (g, nw) => g -> nw._1 },
          s"[$mode] rows per group")
        // a cache hit computes nothing; a recompute of every partition
        // overwrites each (partition, group) with the same tally
        tallied.count()
        assert(acc.value == want, s"[$mode] a cache hit changed the tallies")
        tallied.unpersist(blocking = true)
        tallied.count()
        assert(acc.value == want, s"[$mode] a recompute changed the tallies")
      } finally was.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }

  /** Task counts per SQL execution of each job description (the engine's
    * phase label), in execution order: one entry per action of that phase.
    */
  private final class PhaseTasks extends org.apache.spark.scheduler.SparkListener {
    import org.apache.spark.scheduler._
    private val stageOf = mutable.Map.empty[Int, (String, Long)]
    private val tasks = mutable.LinkedHashMap.empty[(String, Long), Int]
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val p = Option(e.properties)
      val phase = p.flatMap(q => Option(q.getProperty("spark.job.description"))).getOrElse("")
      val exec = p.flatMap(q => Option(q.getProperty("spark.sql.execution.root.id"))
        .orElse(Option(q.getProperty("spark.sql.execution.id")))).map(_.toLong).getOrElse(-1L)
      e.stageIds.foreach(s => stageOf(s) = (phase, exec))
      tasks.getOrElseUpdate((phase, exec), 0)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      stageOf.get(e.stageInfo.stageId).foreach(k => tasks(k) += e.stageInfo.numTasks)
    }
    def of(phase: String): Seq[Int] = synchronized {
      tasks.toSeq.collect { case ((p, _), n) if p == phase => n }
    }
  }

  /** Joins and shuffles of html across every SQL execution, the plans of
    * the caches they read included: the node name of each join that
    * outputs pages (url and html: a fetch join), and the columns of each
    * shuffle that carries html.
    */
  private final class HtmlPlans extends org.apache.spark.sql.util.QueryExecutionListener {
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    @volatile var pageJoins = Seq.empty[String]
    @volatile var htmlShuffles = Seq.empty[Seq[String]]
    private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case s: QueryStageExec => nodes(s.plan)
      case m: InMemoryTableScanExec => nodes(m.relation.cachedPlan)
      case _ => p.children.flatMap(nodes)
    })
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = synchronized {
      nodes(qe.executedPlan).foreach { n =>
        val cols = n.output.map(_.name)
        n match {
          case j: BaseJoinExec if cols.contains("html") && cols.contains("url") =>
            pageJoins :+= j.nodeName
          case _: ShuffleExchangeExec if cols.contains("html") => htmlShuffles :+= cols
          case _ =>
        }
      }
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** SQL executions whose plan computes (rather than reads from a cache
    * built earlier) the aggregation of the robots source to one body per
    * host. A cached plan built by an earlier execution shows as an
    * AdaptiveSparkPlan with isFinalPlan=true in a later execution's plan.
    */
  private final class RobotsAggregations extends org.apache.spark.scheduler.SparkListener {
    import org.apache.spark.sql.execution.SparkPlanInfo
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    @volatile var count = 0
    private def computes(n: SparkPlanInfo, built: Boolean): Boolean = {
      val b = built || (n.nodeName == "AdaptiveSparkPlan" &&
        n.simpleString.contains("isFinalPlan=true"))
      (!b && n.nodeName.contains("Aggregate") &&
        n.simpleString.contains("max(struct(url")) ||
        n.children.exists(computes(_, b))
    }
    override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart if computes(s.sparkPlanInfo, built = false) =>
        count += 1
      case _ =>
    }
  }

  /** Run `f` with `l` registered; returns once `l` has seen every event
    * posted before `f` returned (a marker job's start is delivered after
    * them).
    */
  private def listening[A](l: org.apache.spark.scheduler.SparkListener)(f: => A): A = {
    val sc = spark.sparkContext
    @volatile var marked = false
    val marker = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == "listener-sync"))
          marked = true
    }
    sc.addSparkListener(l)
    sc.addSparkListener(marker)
    try {
      val r = f
      sc.setJobDescription("listener-sync")
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!marked && System.nanoTime() < deadline) Thread.sleep(10)
      assert(marked, "listener events not delivered")
      r
    } finally {
      sc.removeSparkListener(marker)
      sc.removeSparkListener(l)
    }
  }

  test("round cost stays flat in the round number: drain-keys, job 1 and seen-write tasks") {
    import spark.implicits._
    // one url per host per round keeps the crawl discovering for >= 12 rounds
    val lenCfg = cfg.copy(roundSize = 4, hostBudgetPerRound = 1, maxRounds = 14)
    val phases = new PhaseTasks
    val stateDir = graft.util.TempDirs.create("graft-length-").toString
    val stats = listening(phases)(CrawlEngine.run(spark, withRules(pagesCached, robots),
      SyntheticWeb.seedUrls(nHosts).toDS(), lenCfg, stateDir))
    assert(stats.rounds >= 12, s"want a >= 12-round crawl, got ${stats.rounds}")
    assert(globalLineage(stateDir).count(_.getAs[Long]("new_urls") > 0) >= 6,
      "want a crawl that keeps discovering")
    // the carried frontier and robots tables are bounded at the carry cut,
    // and the seen deltas read as one relation whose files pack into a
    // bounded number of splits, so the jobs that scan them launch as many
    // tasks in the last round as early on, up to a constant. Job 1 skips its
    // candidate stages in a round whose drain fetched no page, so its
    // baseline is the largest of rounds 0-2. The seen write runs the exact
    // backstop and the pending-seen anti-join, which scan the seen deltas
    // only in a round with candidates, and pending deltas exist only after
    // round 0: its baseline is the larger of the first two such rounds
    // (execution round + 1: the first is the bootstrap's)
    val probing = globalLineage(stateDir)
      .filter(r => r.getAs[Int]("round") >= 1 && r.getAs[Long]("candidates") > 0)
      .map(_.getAs[Int]("round") + 1).take(2)
    assert(probing.length == 2, "want two rounds after round 0 with candidates")
    val grown = Seq("drain-keys" -> Seq(2), "detect-robots" -> Seq(0, 1, 2),
        "seen-write" -> probing).flatMap {
      case (phase, early) =>
        val perRound = phases.of(phase)
        info(s"[$phase] tasks per round: $perRound")
        assert(perRound.length >= 12, s"[$phase] one execution per round: $perRound")
        if (perRound.last <= early.map(perRound).max + 4) None
        else Some(s"[$phase] tasks grow with the round number: $perRound")
    }
    assert(grown.isEmpty, grown.mkString("; "))
    assertFlatSortedSeen(SnapshotStore.latestManifest(stateDir).get)
  }

  /** Classes Spark's code generator compiled during each crawl round: the
    * compile count at the first job of each `drain-keys` execution (a
    * round's first action), differenced; `end` is the count after the
    * crawl. Each class compiles once per classloader, so in local mode a
    * whole-stage class counts twice, driver and executor side.
    */
  private final class CompilesPerRound extends org.apache.spark.scheduler.SparkListener {
    import org.apache.spark.metrics.source.CodegenMetrics
    private val atRoundStart = mutable.LinkedHashMap.empty[String, Long]
    override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = synchronized {
      val p = Option(e.properties)
      if (p.exists(_.getProperty("spark.job.description") == "drain-keys"))
        atRoundStart.getOrElseUpdate(p.get.getProperty("spark.sql.execution.id"),
          CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
    }
    def perRound(end: Long): Seq[Long] = synchronized {
      (atRoundStart.values.toSeq :+ end).sliding(2).map { case Seq(a, b) => b - a }.toSeq
    }
  }

  test("a steady round compiles no code: every round after the second compiles <= 2 classes") {
    import spark.implicits._
    // drain-shaped like the benchmark's drain_rounds: every page seeds the
    // frontier and the per-host budget is the round size. A round that
    // generates code of its own (a round-number literal, a first round
    // planned over another relation shape) or uses more generated classes
    // than Spark's codegen cache holds (spark.sql.codegen.cache.maxEntries,
    // 100 by default) recompiles them every round
    val drainCfg = cfg.copy(roundSize = 6, hostBudgetPerRound = 6, maxRounds = 16)
    val compiles = new CompilesPerRound
    val stateDir = graft.util.TempDirs.create("graft-codegen-").toString
    val stats = listening(compiles)(CrawlEngine.run(spark, withRules(pagesCached, robots),
      pageMap.keys.toSeq.sorted.toDS(), drainCfg, stateDir))
    val perRound = compiles.perRound(
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
    info(s"classes compiled per round: $perRound")
    assert(stats.rounds >= 6 && perRound.length == stats.rounds,
      s"want a >= 6-round drain with one drain-keys execution per round: " +
        s"${stats.rounds} rounds, $perRound")
    val recompiled = perRound.zipWithIndex.drop(2).filter(_._1 > 2)
    assert(recompiled.isEmpty, s"rounds recompiling code: $recompiled of $perRound")
  }

  test("a multi-round crawl aggregates the robots source once per run") {
    import spark.implicits._
    val aggs = new RobotsAggregations
    val stateDir = graft.util.TempDirs.create("graft-robots-once-").toString
    val stats = listening(aggs)(CrawlEngine.run(spark, withRules(pagesCached, robots),
      SyntheticWeb.seedUrls(nHosts).toDS(), cfg, stateDir))
    assert(stats.rounds >= 3)
    assert(aggs.count == 1, s"robots source aggregated ${aggs.count} times in " +
      s"${stats.rounds} rounds and a bootstrap")
  }

  // last in the suite: it clears the session's cache, the suite's cached
  // pages table included
  test("a crawl releases every table it persists (eager fold, crawl-delay)") {
    // uncached pages over an emptied cache: anything still cached after a
    // crawl is a table the crawl persisted and never released. The bucketed
    // table is written (from the cached fixture) before the cache is emptied
    import spark.implicits._
    val distributedPages = bucketedPages
    spark.catalog.clearCache()
    try {
      val pages = SyntheticWeb.pagesFast(spark, nPages, nHosts, 4).toDF()
      // the distributed drain persists its drained rows each round
      val crawls = Seq(
        ("eager-fold", withRules(pages, robots), cfg.copy(foldMinKeys = 1, foldFrac = 0.0)),
        ("crawl-delay", withRules(pages, delayedRobots), cfg),
        ("distributed", distributedPages, cfg.copy(broadcastLimitBytes = 0L)))
      for ((label, cpages, ccfg) <- crawls) {
        val stateDir = graft.util.TempDirs.create(s"graft-release-$label-").toString
        val phases = new PhaseTasks
        // a cut (localCheckpoint) is a persisted RDD the CacheManager never sees
        val rddsBefore = spark.sparkContext.getPersistentRDDs.keySet.toSet
        listening(phases)(CrawlEngine.run(spark, cpages,
          SyntheticWeb.seedUrls(nHosts).toDS(), ccfg, stateDir))
        assert(label != "distributed" || phases.of("drain-bounds").nonEmpty,
          "the distributed crawl ran no distributed drain")
        assert(spark.sharedState.cacheManager.isEmpty, s"[$label] crawl left tables cached")
        val after = spark.sparkContext.getPersistentRDDs
        assert(after.keySet.toSet == rddsBefore, s"[$label] crawl left RDDs persisted: " +
          after.filter(kv => !rddsBefore(kv._1)).values.mkString(", "))
      }
    } finally spark.sql(s"DROP TABLE IF EXISTS `$bucketedName`")
  }
}
