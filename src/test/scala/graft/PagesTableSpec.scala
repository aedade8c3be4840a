package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._

import graft.frontier.CrawlEngine
import graft.sources.PagesTable

/** The over-broadcast-limit fetch join (J4 fallback) must never ship html
  * across an exchange when the pages table uses the bucketed-by-url layout —
  * only the drained keys shuffle into the bucketed scan's partitioning.
  * Pinned here so a planner or layout regression fails the suite.
  */
class PagesTableSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    // concrete plans for Exchange inspection; no auto-broadcast — the point
    // is the over-limit SHUFFLED fallback
    .config("spark.sql.adaptive.enabled", "false")
    .config("spark.sql.autoBroadcastJoinThreshold", "-1")
    .config("spark.sql.warehouse.dir",
      graft.util.TempDirs.create("graft-ptspec-wh-").toString)
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("bucketed pages layout: over-limit fetch join shuffles keys, never html") {
    import spark.implicits._
    val pages = (0 until 256)
      .map(i => (s"https://h${i % 4}.example/p/$i", s"<html>$i</html>".getBytes))
      .toDF("url", "html")
    PagesTable.writeBucketed(spark, pages, "ptspec_pages", 8)
    val drained = (0 until 256 by 2)
      .map(i => (s"https://h${i % 4}.example/p/$i", 0))
      .toDF("url", "depth")

    val joined = CrawlEngine.fetchJoin(drained, PagesTable.read(spark, "ptspec_pages"))
    assert(joined.count() == 128)
    val exchanges = joined.queryExecution.executedPlan.collect {
      case e: Exchange => e.output.map(_.name)
    }
    assert(exchanges.nonEmpty, "expected the drained-keys exchange")
    assert(!exchanges.exists(_.contains("html")),
      s"html crossed an exchange: $exchanges")
  }

  test("flat pages layout shuffles html (the counterfactual the layout exists for)") {
    import spark.implicits._
    val dir = graft.util.TempDirs.create("graft-ptspec-flat-").toString
    val pages = (0 until 64)
      .map(i => (s"https://h.example/p/$i", s"<html>$i</html>".getBytes))
      .toDF("url", "html")
    pages.write.mode("overwrite").parquet(dir)
    val drained = (0 until 64 by 2)
      .map(i => (s"https://h.example/p/$i", 0)).toDF("url", "depth")
    val joined = CrawlEngine.fetchJoin(drained, spark.read.parquet(dir))
    assert(joined.count() == 32)
    val exchanges = joined.queryExecution.executedPlan.collect {
      case e: Exchange => e.output.map(_.name)
    }
    assert(exchanges.exists(_.contains("html")))
  }
}
