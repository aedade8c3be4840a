package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeExec}
import org.apache.spark.sql.functions._

import graft.frontier.CrawlEngine
import graft.sources.PagesTable
import graft.tables.SyntheticWeb

/** Evidence for the over-broadcast-limit fetch join (round-3 verdict #3):
  * with the pages table BUCKETED by url ([[PagesTable]]), the shuffled-join
  * fallback (`CrawlEngine.fetchJoin(broadcastKeys = false)`) must move ONLY
  * the drained keys — the executed plan may contain no Exchange whose output
  * carries the html column. The same join over a flat parquet pages table is
  * measured as the counterfactual (it shuffles html). Prints one JSON line
  * and writes BENCH/FETCHJOIN_SCALE.json.
  */
object FetchJoinScale {

  def main(args: Array[String]): Unit = {
    val wh = graft.util.TempDirs.create("graft-fjscale-wh-").toString
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "32")
      // concrete (non-adaptive) plans so Exchange nodes are inspectable, and
      // no auto-broadcast — the point is the over-limit SHUFFLED fallback
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.sql.autoBroadcastJoinThreshold", "-1")
      .config("spark.sql.warehouse.dir", wh)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val nPages = 20000
    val nHosts = 16
    val nBuckets = 32
    val pagesDf = SyntheticWeb.pagesFast(spark, nPages.toLong, nHosts, 32).toDF()

    // bucketed layout (the production layout for the over-limit path)
    PagesTable.writeBucketed(spark, pagesDf, "pages_bucketed", nBuckets)
    // flat layout (the counterfactual a naive caller would pass)
    val flatDir = graft.util.TempDirs.create("graft-fjscale-flat-").toString
    pagesDf.write.mode("overwrite").parquet(flatDir)

    // drained keys: every other url (typical drain selectivity shape)
    val drained = pagesDf.select($"url").filter(crc32($"url") % 2 === 0)
      .withColumn("depth", lit(0))

    def exchangesWithHtml(df: org.apache.spark.sql.DataFrame): (Int, Int, Long) = {
      val n = df.count()
      val plan = df.queryExecution.executedPlan
      val exchanges = plan.collect { case e: Exchange => e }
      val withHtml = exchanges.count(_.output.exists(_.name == "html"))
      (exchanges.size, withHtml, n)
    }

    val bucketed = CrawlEngine.fetchJoin(drained,
      PagesTable.read(spark, "pages_bucketed"), broadcastKeys = false)
    val flat = CrawlEngine.fetchJoin(drained,
      spark.read.parquet(flatDir), broadcastKeys = false)
    val (exB, htmlB, nB) = exchangesWithHtml(bucketed)
    val (exF, htmlF, nF) = exchangesWithHtml(flat)
    require(nB == nF, s"bucketed/flat row mismatch: $nB != $nF")
    require(htmlB == 0, s"bucketed fetch join still shuffles html ($htmlB exchanges)")
    val shuffledExchanges = bucketed.queryExecution.executedPlan.collect {
      case e: ShuffleExchangeExec => e.output.map(_.name).mkString("(", ",", ")")
    }

    val json =
      s"""{"rows":$nB,"bucketed":{"exchanges":$exB,"exchanges_with_html":$htmlB,"shuffled_columns":"${shuffledExchanges.mkString(";")}"},"flat":{"exchanges":$exF,"exchanges_with_html":$htmlF},"n_buckets":$nBuckets,"pages":$nPages}"""
    println(json)
    graft.Bench.writeEvidence("FETCHJOIN_SCALE.json", json + "\n")
    spark.stop()
  }
}
