package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col

/** Bucketed layout for the pages table (round-3 verdict #3) — the analog of
  * an Iceberg `bucket(N, url)` partition transform, realized with Spark's
  * native bucketed data-source tables (the only bucketing the offline
  * classpath carries).
  *
  * Why: the fetch join (J4, CrawlEngine) matches drained frontier keys
  * against `pages(url, html)`. While the drained keys fit the engine's
  * broadcast budget (`CrawlConfig.broadcastLimitBytes`) they broadcast and
  * no html moves. ABOVE it a
  * plain shuffled join would ship the html payload of every matched page
  * across an exchange — at Common-Crawl row sizes that dwarfs the key
  * traffic (the reference's downloader never re-ships payloads either,
  * webspot_rod `web_spider.py:71`: pages are processed where they land).
  * With the pages table bucketed by `url`, the bucketed scan reports
  * `HashPartitioning(url, N)`, so the sort-merge join shuffles ONLY the
  * drained keys into N matching partitions; html bytes never cross an
  * exchange. PagesTableSpec pins both plans, and `CrawlEngine.run` refuses
  * a distributed drain over pages that do not scan bucketed on url.
  *
  * At 100 TB the same shape holds per executor: each of the N buckets is an
  * independent co-located join, and AQE's skew handling still applies to the
  * key side.
  */
object PagesTable {

  /** Write `pages` as a bucketed+sorted table. Repartitions by url first so
    * every bucket lands as one file per writing partition wave and the
    * per-bucket `sortBy` survives as a read-time sort order. A crawl needs
    * this layout once min(roundSize, frontier size) drained keys, at 128 B
    * each, exceed its broadcast budget (or the budget is 0).
    */
  def writeBucketed(spark: SparkSession, pages: DataFrame, name: String,
      nBuckets: Int): Unit = {
    // SaveMode.Overwrite alone is not enough when a previous run died between
    // dropping the catalog entry and clearing the files: saveAsTable refuses a
    // managed-table location that exists without its table. Drop both.
    spark.sql(s"DROP TABLE IF EXISTS `$name`")
    graft.util.TempDirs.deleteRecursively(java.nio.file.Paths.get(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), name))
    pages
      .repartition(nBuckets, col("url"))
      .write
      .mode(SaveMode.Overwrite)
      .format("parquet")
      .bucketBy(nBuckets, "url")
      .sortBy("url")
      .saveAsTable(name)
  }

  def read(spark: SparkSession, name: String): DataFrame = spark.table(name)
}
