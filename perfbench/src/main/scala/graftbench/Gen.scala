package graftbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.tables.SyntheticWeb

/** The synthetic web one benchmark run crawls.
  *
  * Page bodies come from `SyntheticWeb.pageHtml`, so the text the engine must
  * extract stays closed-form (`SyntheticWeb.expectedText`). The run's seed
  * fixes only the per-host page counts, by a Zipf(1) draw over the hosts; with
  * 16 hosts the hottest host expects 1/H(16) ≈ 30% of the pages. Through
  * `SyntheticWeb.sidebarTargets` the counts also fix the link graph.
  */
final case class Layout(counts: Array[Long], weight: Int) {
  def nHosts: Int = counts.length
  def nPages: Long = counts.sum

  /** (host, ordinal on host) of every page, host-major. */
  def pages: Iterator[(Int, Long)] =
    counts.iterator.zipWithIndex.flatMap { case (n, h) => (0L until n).iterator.map(k => (h, k)) }

  def url(h: Int, k: Long): String = SyntheticWeb.pageUrl(h, k)
  def html(h: Int, k: Long): String = SyntheticWeb.pageHtml(h, k, counts(h), nHosts, weight)
  def expectedText(h: Int, k: Long): String = SyntheticWeb.expectedText(h, k, weight)

  /** (host, ordinal) of a page url, or None for a url no page answers. */
  def pageOf(url: String): Option[(Int, Long)] = Layout.PageUrl.findFirstMatchIn(url).flatMap { m =>
    val h = m.group(1).toInt
    val k = m.group(2).toLong
    if (h < nHosts && k < counts(h)) Some((h, k)) else None
  }
}

object Layout {
  private val PageUrl = """^https://host(\d+)\.example/page/(\d+)$""".r
}

object Gen {

  /** Per-host page counts: every host holds at least one page (the sidebar's
    * cross-host link always targets page 0), the rest are drawn Zipf(1).
    */
  def layout(seed: Long, nPages: Int, nHosts: Int, weight: Int): Layout = {
    require(nPages >= nHosts, s"$nPages pages cannot cover $nHosts hosts")
    val cdf = (1 to nHosts).map(1.0 / _).scanLeft(0.0)(_ + _).tail.toArray
    val total = cdf.last
    val counts = Array.fill(nHosts)(1L)
    val rng = new SplittableRandom(seed)
    var i = nHosts
    while (i < nPages) {
      val u = rng.nextDouble() * total
      var h = java.util.Arrays.binarySearch(cdf, u)
      if (h < 0) h = -h - 1
      counts(math.min(h, nHosts - 1)) += 1
      i += 1
    }
    Layout(counts, weight)
  }

  def allPageUrls(layout: Layout): Seq[String] =
    layout.pages.map { case (h, k) => layout.url(h, k) }.toSeq

  /** Writes the pages table — every page plus each host's `/robots.txt` —
    * as url-sorted parquet (the analog of a table sort order), and returns
    * it read back through `spark.read.parquet`, the way the engine reads a
    * crawl corpus.
    */
  def writePages(spark: SparkSession, layout: Layout, dir: String): DataFrame = {
    import spark.implicits._
    val ids = layout.pages.toSeq ++ (0 until layout.nHosts).map(h => (h, -1L))
    spark.createDataset(ids).repartition(spark.sparkContext.defaultParallelism)
      .map { case (h, k) =>
        if (k < 0) (s"https://${SyntheticWeb.hostName(h)}/robots.txt",
          SyntheticWeb.robotsTxtBody(h, layout.nHosts).getBytes("UTF-8"))
        else (layout.url(h, k), layout.html(h, k).getBytes("UTF-8"))
      }
      .toDF("url", "html").orderBy("url").write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }
}
