package graftbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.frontier.CrawlConfig
import graft.tables.SnapshotStore

class PerfbenchSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val work: Path = Files.createTempDirectory("perfbench-spec")
  private lazy val spark: SparkSession = Workloads.session(2, work)

  override def afterAll(): Unit = {
    spark.stop()
    Crawl.remove(work.toString)
  }

  private def tinyPlan(seed: Long, rounds: Int, resumeAfter: Option[Int] = None): CrawlPlan = {
    val layout = Gen.layout(seed, 40, 4, 1)
    val n = layout.nPages.toInt
    val size = (n + rounds - 1) / rounds
    CrawlPlan(layout, Gen.allPageUrls(layout),
      CrawlConfig(numBuckets = 4, hostBudgetPerRound = size, roundSize = size, maxRounds = rounds), resumeAfter)
  }

  private def crawl(plan: CrawlPlan): CrawlRun = {
    val pages = Gen.writePages(spark, plan.layout, Crawl.newDir(work, "pages"))
    val boot = Crawl.newDir(work, "boot")
    Crawl.bootstrap(spark, pages, plan, boot)
    Crawl.crawl(spark, pages, plan, boot, Crawl.newDir(work, "state"))
  }

  test("the generator is deterministic per seed and differs across seeds") {
    val a = Gen.layout(7L, 800, 16, 4)
    val b = Gen.layout(7L, 800, 16, 4)
    val c = Gen.layout(8L, 800, 16, 4)
    assert(a.counts.toSeq == b.counts.toSeq)
    assert(a.counts.toSeq != c.counts.toSeq)
    assert(a.nPages == 800 && c.nPages == 800)
    val hot = a.counts.max.toDouble / a.nPages
    assert(hot > 0.2 && hot < 0.4, s"hottest host holds $hot of the pages")
    val (h, k) = a.pages.drop(17).next()
    assert(a.html(h, k) == b.html(h, k))
    assert(a.pageOf(a.url(h, k)).contains((h, k)))
  }

  test("engine and simulator agree on a tiny input, across a resume") {
    Seq(tinyPlan(3L, 1), tinyPlan(3L, 3), tinyPlan(4L, 4, resumeAfter = Some(2))).foreach { plan =>
      val r = crawl(plan)
      val c = Crawl.check(spark, plan, r)
      assert(c.check.failed == 0, c.check.errors.mkString("\n"))
      assert(c.check.attempted == plan.layout.nPages)
      assert(c.lineage.size == plan.cfg.maxRounds)
    }
  }

  test("the checker rejects a one-byte corruption of one extracted_text") {
    val plan = tinyPlan(5L, 1)
    val r = crawl(plan)
    assert(Crawl.check(spark, plan, r).check.failed == 0)
    val dir = SnapshotStore.latestManifest(r.stateDir).get.dataDirs("outputs")
    val df = spark.read.parquet(dir)
    val rows = df.collect()
    val i = rows.indexWhere(_.getAs[String]("extracted_text").nonEmpty)
    val textAt = df.schema.fieldIndex("extracted_text")
    val bad = rows.updated(i, {
      val v = rows(i).toSeq.toArray
      val t = v(textAt).asInstanceOf[String]
      v(textAt) = (t.head + 1).toChar.toString + t.tail
      org.apache.spark.sql.Row.fromSeq(v.toSeq)
    })
    val tmp = Crawl.newDir(work, "corrupt")
    spark.createDataFrame(java.util.Arrays.asList(bad: _*), df.schema).write.mode("overwrite").parquet(tmp)
    Crawl.remove(dir)
    Files.move(java.nio.file.Paths.get(tmp), java.nio.file.Paths.get(dir))
    val c = Crawl.check(spark, plan, r).check
    assert(c.failed == 1, c.errors.mkString("\n"))
    val result = Result(c.attempted, c.failed, Nil, c.errors)
    assert(!result.correct)
    assert(Main.exitCode(result) != 0)
    assert(result.json.contains("\"failed\": 1"))
  }

  test("a SnapshotStore write stage is attributed to graft.tables") {
    import spark.implicits._
    val listener = new StageListener
    spark.sparkContext.addSparkListener(listener)
    try {
      SnapshotStore.commit(Crawl.newDir(work, "store"), 0, Map("t" -> Seq(1, 2, 3).toDF("x")), Map("n" -> 3L))
      listener.sync(spark)
      val modules = listener.stagesSnapshot.map(_.module)
      assert(modules.contains("graft.tables"), modules.mkString(", "))
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("stage details map to the first engine frame") {
    val details = "org.apache.spark.sql.Dataset.count(Dataset.scala:1)\n" +
      "graftbench.Crawl$.crawl(Crawl.scala:9)\n" +
      "graft.frontier.CrawlEngine$.round(CrawlEngine.scala:759)\n" +
      "graft.tables.SnapshotStore$.commit(SnapshotStore.scala:1)"
    assert(StageListener.module(details) == "graft.frontier")
    assert(StageListener.module("java.util.concurrent.CompletableFuture.run") == "unattributed")
  }
}
