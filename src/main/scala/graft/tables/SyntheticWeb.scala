package graft.tables

import org.apache.spark.sql.{Dataset, SparkSession}
import graft.detect.Page

/** Deterministic synthetic Common-Crawl-style web (FIXTURES.md §1-4): pages
  * with an embedded quotes-style repeated list (shape of the reference's
  * inline fixture at /root/reference/webspot/test/web/routes/api/
  * test_request.py:19-301), a non-list sidebar, a li.next pagination link, a
  * footer (second div.container — required so the list path reproduces the
  * reference golden `body > div.container > div.row:last-child >
  * div.col-md-8`, test_plain_list.py:9-16), plus a link graph with
  * Zipf-skewed hosts, disallowed paths and cross-host edges.
  *
  * Generation is seeded (seed=42) and runs INSIDE executors
  * (spark.range().map) — no driver-side materialization, so the same
  * generator scales to arbitrarily large synthetic frontiers.
  */
object SyntheticWeb {

  val Seed = 42L
  val FixedTs: java.sql.Timestamp = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")

  private val Authors = Vector("Albert Einstein", "J.K. Rowling", "Jane Austen",
    "Marilyn Monroe", "André Gide", "Thomas A. Edison", "Eleanor Roosevelt",
    "Steve Martin", "Mark Twain", "Allen Saunders")
  private val Words = Vector("world", "life", "choice", "truth", "love", "humor",
    "books", "change", "thinking", "miracle", "reading", "simile", "inspirational",
    "attributed", "paraphrased", "misattributed")

  private[tables] def mix(parts: Long*): Long = {
    var h = 0xcbf29ce484222325L ^ Seed
    parts.foreach { p =>
      h ^= p
      h *= 0x100000001b3L
      h ^= (h >>> 29)
    }
    h
  }
  private def pick[A](xs: Vector[A], h: Long): A = xs((((h % xs.length) + xs.length) % xs.length).toInt)

  // ------- closed-form page-content accessors (the fixture CONTRACT) -------
  // pageHtml below is built from exactly these functions, so expected tables
  // (ExpectedDetect) derive from the same spec without running any parser.

  def itemCount(host: Int, k: Long, weight: Int = 1): Int =
    (5 + (math.abs(mix(host.toLong, k, 0x17e35L)) % 11).toInt) * weight

  def itemAuthor(host: Int, k: Long, i: Int): String =
    pick(Authors, mix(host.toLong, k, i.toLong, 0xa7f0aL))

  def authorSlug(author: String): String =
    author.replace(' ', '-').replace(".", "")

  def itemTags(host: Int, k: Long, i: Int): Vector[String] = {
    val nTags = 2 + (math.abs(mix(host.toLong, k, i.toLong, 0x7a65L)) % 4).toInt
    (0 until nTags).toVector.map(t => pick(Words, mix(host.toLong, k, i.toLong, t.toLong)))
  }

  /** sidebar link targets: (related page ordinal, popular page ordinal,
    * cross-host index).
    */
  def sidebarTargets(host: Int, k: Long, nPagesOnHost: Long, nHosts: Int): (Long, Long, Int) = (
    math.abs(mix(host.toLong, k, 0x11L)) % nPagesOnHost,
    math.abs(mix(host.toLong, k, 0x22L)) % nPagesOnHost,
    (math.abs(mix(host.toLong, k, 0x33L)) % nHosts).toInt)

  def hostName(h: Int): String = s"host$h.example"

  /** Zipf-ish host for a page index: host 0 takes ~30% of pages (FIXTURES.md:
    * skew to exercise salting + AQE).
    */
  def hostOfPage(i: Long, nHosts: Int): Int = {
    val r = math.abs(mix(i, 0x5a1fL)) % 100
    if (r < 30) 0
    else (math.abs(mix(i, 0x607fL)) % (nHosts - 1)).toInt + 1
  }

  def pageUrl(host: Int, k: Long): String = s"https://${hostName(host)}/page/$k"

  def quoteText(host: Int, page: Long, item: Int): String = {
    val h = mix(host.toLong, page, item.toLong)
    val w1 = pick(Words, h)
    val w2 = pick(Words, h >> 7)
    val w3 = pick(Words, h >> 13)
    s"“The $w1 of $w2 is a process of $w3; it cannot be changed without changing our $w1.”"
  }

  /** One synthetic quotes-style page. `k` is the page ordinal on its host.
    * `weight` scales the item count (weight 1 = 5..15 items, the fixture
    * default; benchmarks use heavier pages — Common-Crawl pages average tens
    * of KB, and item count drives both byte size and detect CPU).
    */
  def pageHtml(host: Int, k: Long, nPagesOnHost: Long, nHosts: Int,
      weight: Int = 1): String = {
    val hs = hostName(host)
    val nItems = itemCount(host, k, weight)
    val sb = new StringBuilder(8192)
    sb ++= "<!DOCTYPE html>\n<html lang=\"en\">\n<head>\n\t<meta charset=\"UTF-8\">\n"
    sb ++= s"\t<title>Quotes $hs page $k</title>\n"
    sb ++= "    <link rel=\"stylesheet\" href=\"/static/bootstrap.min.css\">\n</head>\n<body>\n"
    sb ++= "    <div class=\"container\">\n"
    sb ++= "        <div class=\"row header-box\">\n"
    sb ++= s"            <div class=\"col-md-8\">\n                <h1>\n                    <a href=\"/\" style=\"text-decoration: none\">Quotes $hs</a>\n                </h1>\n            </div>\n"
    sb ++= "            <div class=\"col-md-4\">\n                <p>\n                    <a href=\"/login\">Login</a>\n                </p>\n            </div>\n        </div>\n"
    sb ++= "<div class=\"row\">\n    <div class=\"col-md-8\">\n"
    var i = 0
    while (i < nItems) {
      val author = itemAuthor(host, k, i)
      val slug = authorSlug(author)
      sb ++= "    <div class=\"quote\" itemscope itemtype=\"http://schema.org/CreativeWork\">\n"
      sb ++= s"        <span class=\"text\" itemprop=\"text\">${quoteText(host, k, i)}</span>\n"
      sb ++= s"        <span>by <small class=\"author\" itemprop=\"author\">$author</small>\n"
      sb ++= s"        <a href=\"/author/$slug\">(about)</a>\n        </span>\n"
      sb ++= "        <div class=\"tags\">\n            Tags:\n"
      sb ++= "            <meta class=\"keywords\" itemprop=\"keywords\" content=\"x\" />\n"
      itemTags(host, k, i).foreach { tag =>
        sb ++= s"            <a class=\"tag\" href=\"/tag/$tag/page/1/\">$tag</a>\n"
      }
      sb ++= "        </div>\n    </div>\n"
      i += 1
    }
    // pagination link (next page on the same host, if any)
    if (k + 1 < nPagesOnHost) {
      sb ++= "        <nav>\n            <ul class=\"pager\">\n"
      sb ++= s"                <li class=\"next\">\n                    <a href=\"/page/${k + 1}\">Next <span aria-hidden=\"true\">→</span></a>\n                </li>\n            </ul>\n        </nav>\n"
    }
    sb ++= "    </div>\n    <div class=\"col-md-4 tags-box\">\n        <h2>Top Ten tags</h2>\n"
    // sidebar links: a couple of same-host page links + one cross-host + one disallowed
    val (l1, l2, xHost) = sidebarTargets(host, k, nPagesOnHost, nHosts)
    sb ++= s"        <span class=\"tag-item\"><a class=\"tag\" href=\"/page/$l1\">related</a></span>\n"
    sb ++= s"        <span class=\"tag-item\"><a class=\"tag\" href=\"/page/$l2\">popular</a></span>\n"
    sb ++= s"        <span class=\"tag-item\"><a class=\"tag\" href=\"https://${hostName(xHost)}/page/0\">friend</a></span>\n"
    sb ++= s"        <span class=\"tag-item\"><a class=\"tag\" href=\"/private/area$k\">private</a></span>\n"
    sb ++= "    </div>\n</div>\n    </div>\n"
    // footer: the SECOND div.container — keeps class=container non-unique so
    // the selector path walks up to body (reference golden shape)
    sb ++= "    <footer class=\"footer\">\n        <div class=\"container\">\n            <p class=\"text-muted\">Quotes are synthetic, seed=42.</p>\n        </div>\n    </footer>\n"
    sb ++= "</body>\n</html>\n"
    sb.result()
  }

  /** The reference golden list selector this generator is shaped to
    * reproduce (test_plain_list.py:9-16).
    */
  val GoldenListSelector = "body > div.container > div.row:last-child > div.col-md-8"

  /** Expected extracted text rows (the byte-identical oracle for the `text`
    * column of the pages table): quote text, author, tag list.
    */
  def expectedText(host: Int, k: Long, weight: Int = 1): String = {
    val nItems = (5 + (math.abs(mix(host.toLong, k, 0x17e35L)) % 11).toInt) * weight
    (0 until nItems).map(i => quoteText(host, k, i)).mkString("\n")
  }

  /** pages-per-host layout: host 0 gets 30%, rest spread evenly. */
  def layout(nPages: Long, nHosts: Int): Array[Long] = {
    val counts = new Array[Long](nHosts)
    var i = 0L
    while (i < nPages) { counts(hostOfPage(i, nHosts)) += 1; i += 1 }
    counts
  }

  /** Distributed pages table: url, warc_ts, html, text, lang. */
  def pages(spark: SparkSession, nPages: Long, nHosts: Int = 16,
      nPartitions: Int = 32): Dataset[Page] = {
    import spark.implicits._
    // per-host page counts computed deterministically on each executor from a
    // closed-form layout (cheap for the sizes we generate here; a production
    // generator would broadcast the histogram)
    val counts = layout(nPages, nHosts)
    val bc = spark.sparkContext.broadcast(counts)
    spark.range(0, nPages, 1, nPartitions).map { i =>
      val host = hostOfPage(i, nHosts)
      // ordinal of page i on its host
      var k = 0L
      var j = i - 1
      // ordinal via deterministic rank: count of earlier pages on same host.
      // O(i) worst case; fine for test scale. (Bench uses hostPages directly.)
      while (j >= 0) { if (hostOfPage(j, nHosts) == host) k += 1; j -= 1 }
      val html = pageHtml(host, k, bc.value(host), nHosts)
      Page(pageUrl(host, k), FixedTs, html.getBytes("UTF-8"),
        expectedText(host, k), if (host % 5 == 4) "zh" else "en")
    }
  }

  /** O(1)-per-row pages table for benchmarks: pages laid out host-major.
    * Page i belongs to host via cumulative Zipf weights; ordinal computed in
    * closed form. Same schema, same html shape.
    */
  /** Host-major layout of pagesFast: cumulative page cuts per host (host0 =
    * 30%, others uniform). Shared by pagesFast, Bench seeding, and the
    * closed-form expected tables.
    */
  def fastCuts(nPages: Long, nHosts: Int): Array[Long] = {
    val cuts = new Array[Long](nHosts + 1)
    cuts(0) = 0
    cuts(1) = (nPages * 3) / 10
    val rest = nPages - cuts(1)
    var h = 1
    while (h < nHosts) {
      cuts(h + 1) = cuts(h) + rest / (nHosts - 1) + (if (h <= (rest % (nHosts - 1))) 1 else 0)
      h += 1
    }
    cuts(nHosts) = nPages
    cuts
  }

  /** Host of page `i` under the `fastCuts` layout `cuts`. */
  def fastHostOf(cuts: Array[Long], i: Long): Int = {
    var host = java.util.Arrays.binarySearch(cuts, i)
    if (host < 0) host = -host - 2
    math.min(host, cuts.length - 2)
  }

  /** Url of page `i` under the `fastCuts` layout `cuts`. */
  def pageUrlAt(cuts: Array[Long], i: Long): String = {
    val host = fastHostOf(cuts, i)
    pageUrl(host, i - cuts(host))
  }

  def pagesFast(spark: SparkSession, nPages: Long, nHosts: Int = 16,
      nPartitions: Int = 32, weight: Int = 1): Dataset[Page] = {
    import spark.implicits._
    val cuts = fastCuts(nPages, nHosts)
    val bc = spark.sparkContext.broadcast(cuts)
    spark.range(0, nPages, 1, nPartitions).map { i =>
      val c = bc.value
      val host = fastHostOf(c, i)
      val k = i - c(host)
      val nOnHost = c(host + 1) - c(host)
      val html = pageHtml(host, k, nOnHost, nHosts, weight)
      Page(pageUrl(host, k), FixedTs, html.getBytes("UTF-8"),
        expectedText(host, k, weight), if (host % 5 == 4) "zh" else "en")
    }
  }

  /** Books-style page (second fixture family): mirrors books.toscrape.com's
    * shape — section > unnamed div > ol.row of li > article.product_pod —
    * whose reference golden list selector is
    * `section > div:last-child > ol.row`
    * (/root/reference/webspot/test/detect/test_plain_list.py:18-24). The
    * unnamed wrapper div exercises the tag-only `:last-child` repr and the
    * `section` unique-feature stop condition.
    */
  // ---- closed-form accessors for the books fixture (contract, like the
  // quotes accessors above) ----
  def bookItemCount(host: Int, k: Long): Int =
    12 + (math.abs(mix(host.toLong, k, 0xb00c5L)) % 9).toInt // 12..20

  def bookTitle(host: Int, k: Long, i: Int): String =
    s"${pick(Words, mix(host.toLong, k, i.toLong, 0x7177eL)).capitalize} " +
      s"${pick(Words, mix(host.toLong, k, i.toLong, 0x7177fL))} ${k}_$i"

  def bookRating(host: Int, k: Long, i: Int): String =
    Vector("Three", "Four")((math.abs(mix(host.toLong, k, i.toLong, 0x5a7L)) % 2).toInt)

  def bookPrice(host: Int, k: Long, i: Int): Double =
    10 + (math.abs(mix(host.toLong, k, i.toLong, 0x9a1ceL)) % 4500) / 100.0

  def booksPageHtml(host: Int, k: Long, nPagesOnHost: Long): String = {
    val nItems = bookItemCount(host, k)
    val sb = new StringBuilder(8192)
    sb ++= "<!DOCTYPE html>\n<html lang=\"en-us\"><head><title>Books</title></head>\n<body>\n"
    sb ++= "<div class=\"container-fluid page\">\n <div class=\"page_inner\">\n  <div class=\"row\">\n"
    sb ++= "   <div class=\"col-sm-8 col-md-9\">\n    <section>\n"
    sb ++= "      <div class=\"alert alert-warning\" role=\"alert\">Demo notice</div>\n"
    sb ++= "      <div>\n        <ol class=\"row\">\n"
    var i = 0
    while (i < nItems) {
      val title = bookTitle(host, k, i)
      val slug = title.toLowerCase.replace(' ', '-')
      val rating = bookRating(host, k, i)
      val price = bookPrice(host, k, i)
      sb ++= "          <li class=\"col-xs-6 col-sm-4 col-md-3 col-lg-3\">\n"
      sb ++= "            <article class=\"product_pod\">\n"
      sb ++= s"              <div class=\"image_container\"><a href=\"catalogue/$slug/index.html\"><img src=\"media/$slug.jpg\" alt=\"${escAttr(title)}\" class=\"thumbnail\"></a></div>\n"
      sb ++= s"              <p class=\"star-rating $rating\"><i class=\"icon-star\"></i></p>\n"
      sb ++= s"              <h3><a href=\"catalogue/$slug/index.html\" title=\"${escAttr(title)}\">$title</a></h3>\n"
      sb ++= f"              <div class=\"product_price\"><p class=\"price_color\">£$price%.2f</p>\n"
      sb ++= "                <p class=\"instock availability\"><i class=\"icon-ok\"></i> In stock</p></div>\n"
      sb ++= "            </article>\n          </li>\n"
      i += 1
    }
    sb ++= "        </ol>\n"
    if (k + 1 < nPagesOnHost) {
      sb ++= s"        <div><ul class=\"pager\"><li class=\"current\">Page ${k + 1} of $nPagesOnHost</li>"
      sb ++= s"<li class=\"next\"><a href=\"catalogue/page-${k + 2}.html\">next</a></li></ul></div>\n"
    }
    sb ++= "      </div>\n    </section>\n   </div>\n  </div>\n </div>\n</div>\n</body></html>\n"
    sb.result()
  }

  def expectedBookTitles(host: Int, k: Long): Vector[String] =
    (0 until bookItemCount(host, k)).toVector.map(bookTitle(host, k, _))

  def booksPageUrl(host: Int, k: Long): String =
    s"https://books-host$host.example/page-${k + 1}.html"

  val GoldenBooksListSelector = "section > div:last-child > ol.row"

  private def escAttr(s: String): String =
    s.replace("&", "&amp;").replace("\"", "&quot;").replace("<", "&lt;")

  /** robots rules per host (FIXTURES.md §4): /private disallowed everywhere,
    * host1 additionally disallows /tag, host2 Allow-excepts /private/area0
    * (exercising RFC 9309 longest-match precedence end-to-end: page 0 of
    * host2 links /private/area0, which is enqueued but never fetched).
    * Tuple: (host, allow, disallow, crawl_delay_ms).
    */
  def robotsRules(nHosts: Int): Seq[(String, Seq[String], Seq[String], Long)] =
    (0 until nHosts).map { h =>
      val disallow = if (h == 1) Seq("/private", "/tag") else Seq("/private")
      val allow = if (h == 2) Seq("/private/area0") else Seq.empty
      (hostName(h), allow, disallow, 100L + (h % 3) * 50L)
    }

  /** The robots.txt BODY each host serves (what the engine actually parses —
    * rules enter the crawl as fetched `/robots.txt` page rows, C4).
    */
  def robotsTxtBody(host: Int, nHosts: Int): String = {
    val r = robotsRules(nHosts)(host)
    graft.frontier.Robots.serialize(
      graft.frontier.RobotsRule(r._1, r._2, r._3, r._4))
  }

  /** `/robots.txt` rows as Page entries, for unioning into a pages table
    * (the engine's default robots source is the pages table itself).
    */
  def robotsPages(spark: SparkSession, nHosts: Int): Dataset[Page] = {
    import spark.implicits._
    val n = nHosts
    spark.range(0, n, 1, math.min(n, 4)).map { h =>
      Page(s"https://${hostName(h.toInt)}/robots.txt", FixedTs,
        robotsTxtBody(h.toInt, n).getBytes("UTF-8"), "", "en")
    }
  }

  /** seed urls: page 0 of a few hosts. */
  def seedUrls(nHosts: Int): Seq[String] =
    (0 until math.min(4, nHosts)).map(h => pageUrl(h, 0))
}
