package graft

import org.scalatest.funsuite.AnyFunSuite

/** The graded scaling artifact comes from Bench's one protocol ([[Bench]] →
  * pinned child JVM → [[BenchWorker]] → [[BenchLevel]]); these specs keep
  * that path from rotting without paying a real measurement's cost: the
  * pure pieces of the orchestrator (heap budget, result line, error field),
  * a tiny in-process level, and one real child-JVM protocol round-trip.
  */
class BenchSpec extends AnyFunSuite {

  test("child worker heap is sized from the machine budget, not SPARK_DRIVER_MEM") {
    val g = 1L << 30
    // a parent that genuinely holds 89g leaves each of the 2 concurrent
    // workers (126-89-8)/2 = 14.5g, NOT 89g (the r4 OOM inherited the
    // driver's Xmx verbatim)
    assert(Bench.childHeapBytes(126 * g, 89 * g, 2) == (29 * g) / 2)
    // the REAL driver shape: parent Xmx 89g but committed only 16g (capped
    // Xms, no Spark work while workers live) → reserve 16+8=24g → budget
    // 47g → the 32g cap binds and the workers get full-size input caches
    assert(Bench.childHeapBytes(126 * g, 24 * g, 2) == 32 * g)
    // roomy box: capped at 32g
    assert(Bench.childHeapBytes(512 * g, 32 * g, 2) == 32 * g)
    // pathological squeeze: floored at 2g rather than zero/negative
    assert(Bench.childHeapBytes(126 * g, 124 * g, 2) == 2 * g)
  }

  test("parent reserve is committed-plus-slack, capped at Xmx") {
    val rt = Runtime.getRuntime
    val r = Bench.parentReservedBytes
    assert(r <= rt.maxMemory)
    assert(r <= rt.totalMemory + (8L << 30))
    assert(r > 0L)
  }

  test("parseMemBytes handles g/m/k suffixes and raw bytes") {
    assert(Bench.parseMemBytes("89g") == 89L << 30)
    assert(Bench.parseMemBytes("512M") == 512L << 20)
    assert(Bench.parseMemBytes("4096k") == 4096L << 10)
    assert(Bench.parseMemBytes("1048576") == 1048576L)
  }

  test("keep-if-stronger guard parses only same-protocol BASELINE.md") {
    val md = "... and structurally depressing the ratio.) " +
      "bench_mode=forked-pinned.\nsingle maximal round **0.857**, 2-round"
    assert(Bench.recordedEff(md, "forked-pinned").contains(0.857))
    // another protocol's file never blocks a write
    assert(Bench.recordedEff(md, "in-proc").isEmpty)
    // unparseable file never blocks a write
    assert(Bench.recordedEff("bench_mode=forked-pinned, no eff line",
      "forked-pinned").isEmpty)
  }

  private def thr(single: Double, multi: Double) = Bench.Thr(single, multi, multi / 2, 100L)

  test("a missing scaling level yields a loud error, not a silent 0.0") {
    // orchestrator failure path (r4 verdict #6): the 4-core level died
    assert(Bench.scalingError(wantPair = true, Map(4 -> thr(0.0, 0.0), 16 -> thr(9000.0, 0.0)))
      .exists(_.contains("4-core")))
    assert(Bench.scalingError(wantPair = true, Map(4 -> thr(2400.0, 0.0)))
      .exists(_.contains("16-core")))
    // singles fine but a multi sample missing → still loud
    assert(Bench.scalingError(wantPair = true,
      Map(4 -> thr(2400.0, 0.0), 16 -> thr(9000.0, 4000.0))).exists(_.contains("multi")))
    // all present → clean; queries-only sweep (no pair) → clean
    assert(Bench.scalingError(wantPair = true,
      Map(4 -> thr(2400.0, 2000.0), 16 -> thr(9000.0, 5000.0))).isEmpty)
    assert(Bench.scalingError(wantPair = false, Map.empty).isEmpty)
  }

  test("a level with more cores than the machine is skipped and named") {
    val (fit, errs) = Bench.hostable(Seq(4 -> 2, 16 -> 1, 32 -> 2, 16 -> 1), machineCores = 4)
    assert(fit == Seq(4 -> 2))
    assert(errs == Seq("16-core level needs 16 cores; machine has 4",
      "32-core level needs 32 cores; machine has 4"))
    // the pair was requested, so the unmeasured 16-core level is loud too,
    // and the line carries no efficiency from the lone 4-core level
    val measured = Map(4 -> thr(2400.0, 2000.0))
    val err = Bench.scalingError(wantPair = true, measured)
    assert(err.exists(_.contains("16-core")))
    val rec = Bench.record(measured, Nil, "sf", 2000, errs ++ err).toMap
    assert(rec("scaling_efficiency") == "0.000" && rec("urls_per_sec_4") == "2400.0")
    assert(rec("error").contains("16-core level needs 16 cores; machine has 4"))
    // a machine that hosts every level skips none
    assert(Bench.hostable(Seq(16 -> 2, 4 -> 1, 32 -> 2), machineCores = 32) ==
      (Seq(16 -> 2, 4 -> 1, 32 -> 2), Nil))
  }

  test("the result line is one JSON object with the driver's key set") {
    import scala.jdk.CollectionConverters._
    val parentKeys = Seq("metric", "value", "unit", "queries", "sf",
      "total_query_sec", "bench_pages", "bench_mode", "urls_per_sec_4",
      "urls_per_sec_16", "urls_per_sec_32", "scaling_efficiency", "scaling_pair",
      "urls_per_sec_multi_4", "urls_per_sec_multi_16", "urls_per_sec_multi_32",
      "scaling_efficiency_multi", "multi_rounds", "urls_per_sec_multi2_4",
      "urls_per_sec_multi2_16", "urls_per_sec_multi2_32",
      "scaling_efficiency_multi2", "multi2_rounds", "extracted_rows")
    val measured = Map(4 -> Bench.Thr(2000.0, 1000.0, 1500.0, 7L),
      16 -> Bench.Thr(7000.0, 3000.0, 4800.0, 7L),
      32 -> Bench.Thr(12345.67, 4000.0, 6000.0, 42L))
    val queries = Seq("q1_agg" -> 0.25, "odd \"name\"\\" -> 1.0)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def parse(errors: Seq[String]) = mapper.readTree(graft.util.Json.obj(
      Bench.record(measured, queries, "/data/sf0.1", 250000, errors)))
    val clean = parse(Nil)
    assert(clean.fieldNames.asScala.toSeq == parentKeys)
    assert(clean.get("value").asDouble == 12345.7)
    assert(clean.get("urls_per_sec_4").asDouble == 2000.0)
    assert(clean.get("scaling_efficiency").asDouble == 0.875)
    assert(clean.get("scaling_efficiency_multi").asDouble == 0.75)
    assert(clean.get("scaling_efficiency_multi2").asDouble == 0.8)
    assert(clean.get("bench_mode").asText == "forked-pinned")
    assert(clean.get("extracted_rows").asLong == 42L)
    assert(clean.get("total_query_sec").asDouble == 1.25)
    assert(clean.get("queries").fieldNames.asScala.toSeq == queries.map(_._1))
    val failed = parse(Seq("16-core level needs 16 cores; machine has 4", "query \"x\" failed"))
    assert(failed.fieldNames.asScala.toSeq == parentKeys :+ "error")
    assert(failed.get("error").asText ==
      "16-core level needs 16 cores; machine has 4; query \"x\" failed")
  }

  test("a 4:…,16:… schedule reports 0.0 for the 32-core columns and names the gap") {
    val schedule = Seq(4 -> 2, 16 -> 1)
    val measured = Map(4 -> Bench.Thr(2000.0, 1000.0, 1500.0, 7L),
      16 -> Bench.Thr(7000.0, 3000.0, 4800.0, 7L))
    val errs = Bench.peakError(schedule, measured).toSeq
    assert(errs == Seq(
      "32-core level produced no measurement; value and urls_per_sec*_32 report 0.0"))
    val rec = Bench.record(measured, Nil, "sf", 2000, errs)
    // same keys, same order, plus the error naming the gap
    assert(rec.map(_._1) == Bench.record(measured + (32 -> measured(16)), Nil, "sf",
      2000, Nil).map(_._1) :+ "error")
    val fig = rec.toMap
    assert(Seq("value", "urls_per_sec_32", "urls_per_sec_multi_32",
      "urls_per_sec_multi2_32").forall(fig(_) == "0.0"), fig)
    // the measured levels keep their own figures; extracted rows are the
    // same at every level
    assert(fig("urls_per_sec_4") == "2000.0" && fig("urls_per_sec_16") == "7000.0")
    assert(fig("scaling_efficiency") == "0.875" && fig("extracted_rows") == "7")
    // a measured 32-core level, or a queries-only sweep, has no gap
    assert(Bench.peakError(schedule :+ (32 -> 2),
      measured + (32 -> Bench.Thr(9000.0, 0.0, 0.0, 7L))).isEmpty)
    assert(Bench.peakError(Nil, Map.empty).isEmpty)
    // an unmeasured level makes Bench exit nonzero; a clean line exits 0
    assert(Bench.exitCode(errs) == 1 && Bench.exitCode(Nil) == 0)
  }

  test("a SIGKILLed worker's state dirs are gone once the parent closes it") {
    import java.nio.file.Files
    import scala.jdk.CollectionConverters._
    def names(root: java.nio.file.Path): Seq[String] =
      if (!Files.isDirectory(root)) Nil
      else {
        val s = Files.list(root)
        try s.iterator().asScala.map(_.getFileName.toString).toList
        finally s.close()
      }
    def benchDirs(root: java.nio.file.Path) = names(root).filter(_.startsWith("graft-bench-"))
    val w = new Bench.Forked(cpus = 2, nPages = 2000, nHosts = 4,
      machineCores = Runtime.getRuntime.availableProcessors())
    try {
      w.awaitReady()
      // the worker's bootstrap snapshot and Spark's block-manager dir live
      // under its own temp root
      assert(benchDirs(w.tmpRoot).exists(_.startsWith("graft-bench-boot-2-")) &&
        names(w.tmpRoot).exists(_.startsWith("blockmgr-")), names(w.tmpRoot))
      // SIGKILL: the worker's own shutdown-hook cleanup never runs
      val h = java.lang.ProcessHandle.of(w.pid).get
      h.destroyForcibly()
      h.onExit().get(60, java.util.concurrent.TimeUnit.SECONDS)
      assert(benchDirs(w.tmpRoot).nonEmpty, "the kill itself cleaned up nothing")
    } finally w.close()
    assert(names(w.tmpRoot).isEmpty && !Files.exists(w.tmpRoot))
  }

  test("a throwing query is reported with its message, never timed") {
    val queries = Seq[(String, String => Long)](
      "ok" -> (_ => 1L),
      "boom" -> (_ => throw new IllegalStateException("broken plan")),
      "warm-only" -> (d => if (d == "warm") throw new RuntimeException("no warm data") else 1L),
      "timed-only" -> (d => if (d == "sf") throw new RuntimeException("bad sf") else 1L))
    val (timed, failed) = Bench.timeQueries(queries, warmDir = "warm", dir = "sf")
    assert(timed.map(_._1) == Seq("ok"))
    assert(failed.map(_._1) == Seq("boom", "warm-only", "timed-only"))
    assert(failed.head._2 == "java.lang.IllegalStateException: broken plan")
    assert(Bench.exitCode(failed.map { case (q, m) => s"query $q failed: $m" }) == 1)
  }

  test("BenchLevel measures a tiny level in-process") {
    val lvl = new BenchLevel(cpus = 4, nPages = 2000, nHosts = 4)
    lvl.setup() // pays the 2,000-page JIT warm crawl too
    // every level shares the default seen and filter layout
    assert(lvl.single.numBuckets == graft.frontier.CrawlConfig().numBuckets)
    val (thr, rows) = lvl.runSingle()
    assert(thr > 0.0)
    assert(rows > 0L)
    assert(lvl.runMulti(3) > 0.0)
    // no close(): the SparkContext is shared across suites in this JVM
  }

  test("BenchWorker protocol round-trips in a child JVM") {
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val cmd = Seq(javaBin) ++ Bench.jdk17AddOpens ++ Seq(
      "-Xmx4g", "-XX:ActiveProcessorCount=2",
      "-Dspark.ui.enabled=false",
      "-cp", System.getProperty("java.class.path"),
      "graft.BenchWorker", "2", "2000", "4")
    val pb = new ProcessBuilder(cmd: _*)
    pb.redirectErrorStream(false)
    pb.redirectError(ProcessBuilder.Redirect.DISCARD)
    val proc = pb.start()
    try {
      val out = new java.io.BufferedReader(
        new java.io.InputStreamReader(proc.getInputStream))
      val stdin = new java.io.PrintWriter(proc.getOutputStream, true)
      def nextProtocol(deadlineSec: Int): String = {
        val deadline = System.nanoTime() + deadlineSec * 1e9.toLong
        var l = out.readLine()
        while (l != null && !l.startsWith("GRAFTW ")) {
          assert(System.nanoTime() < deadline, "worker protocol timeout")
          l = out.readLine()
        }
        assert(l != null, "worker exited before responding")
        l.drop(7)
      }
      assert(nextProtocol(600) == "READY")
      stdin.println("single")
      val single = nextProtocol(600).split("\\s+")
      assert(single(0) == "SINGLE", s"got: ${single.mkString(" ")}")
      assert(single(1).toDouble > 0.0)
      assert(single(2).toLong > 0L)
      stdin.println("bogus")
      assert(nextProtocol(60).startsWith("ERR"))
      stdin.println("exit")
      assert(proc.waitFor(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally if (proc.isAlive) proc.destroyForcibly()
  }
}
