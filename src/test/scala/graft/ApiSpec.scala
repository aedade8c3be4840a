package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.api.RequestStore
import graft.detect.{Detector, Highlight}
import graft.dom.HtmlParser
import graft.functions.GraftFunctions
import graft.streaming.EventStream
import graft.tables.SyntheticWeb

/** Tests for the service-surface modules: request store (W4 paging, A-8
  * links), highlight (F13), native url expressions (F1/F15), streaming
  * (§2.10).
  */
class ApiSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def page(host: Int, k: Long): (String, Array[Byte]) =
    (SyntheticWeb.pageUrl(host, k),
      SyntheticWeb.pageHtml(host, k, 10, 4).getBytes("UTF-8"))

  test("request store: submit, newest-first paging, get by id") {
    import spark.implicits._
    val dir = graft.util.TempDirs.create("graft-req-").toString
    val t1 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    val t2 = java.sql.Timestamp.valueOf("2026-01-02 00:00:00")
    RequestStore.submit(spark, dir, Seq(page(0, 0), page(0, 1)).toDS(), t1)
    RequestStore.submit(spark, dir, Seq(page(1, 0)).toDS(), t2)

    val all = RequestStore.list(spark, dir, skip = 0, limit = 10).collect()
    assert(all.length == 3)
    assert(all.head.getAs[java.sql.Timestamp]("created_at") == t2, "newest first")
    val page2 = RequestStore.list(spark, dir, skip = 2, limit = 10).collect()
    assert(page2.length == 1)

    val id = all.head.getAs[String]("id")
    val doc = RequestStore.get(spark, dir, id)
    assert(doc.isDefined && doc.get.status == "success" && doc.get.n_lists > 0)
    assert(doc.get.results_json.contains("\"plain_list\""))
  }

  test("PUT update-by-id: last-writer-wins round-trip (request.py:90-97)") {
    import spark.implicits._
    val dir = graft.util.TempDirs.create("graft-req-put-").toString
    val t1 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    RequestStore.submit(spark, dir, Seq(page(0, 0), page(0, 1)).toDS(), t1)
    val id = RequestStore.list(spark, dir, 0, 1).collect().head.getAs[String]("id")

    val updated = RequestStore.update(spark, dir, id,
      d => d.copy(status = "error", error = "manual override", duration = 42L))
    assert(updated.exists(d => d.rev == 1L && d.error == "manual override"))
    // get resolves to the latest revision
    val got = RequestStore.get(spark, dir, id).get
    assert(got.rev == 1L && got.status == "error" && got.duration == 42L)
    assert(got.created_at == t1, "update keeps the original creation time")
    // list shows ONE row per id, at the latest revision
    val rows = RequestStore.list(spark, dir, 0, 10).collect()
    assert(rows.length == 2)
    assert(rows.count(_.getAs[String]("id") == id) == 1)
    assert(rows.find(_.getAs[String]("id") == id).get.getAs[Long]("duration") == 42L)
    // a second update bumps rev again
    val again = RequestStore.update(spark, dir, id, _.copy(duration = 43L)).get
    assert(again.rev == 2L)
    assert(RequestStore.get(spark, dir, id).get.duration == 43L)
    // unknown id -> None, nothing written
    assert(RequestStore.update(spark, dir, "nope", identity).isEmpty)
  }

  test("request doc carries the full reference field set (request.py:26-40)") {
    import spark.implicits._
    val dir = graft.util.TempDirs.create("graft-req-parity-").toString
    val t = java.sql.Timestamp.valueOf("2026-01-03 00:00:00")
    RequestStore.submit(spark, dir, Seq(page(0, 0)).toDS(), t)
    val d = RequestStore.list(spark, dir, 0, 1)
      .as[graft.api.RequestDoc].collect().head
    assert(d.method == "request" && d.valid && !d.no_async && d.error == null)
    assert(d.detectors == Seq("plain_list", "pagination"))
    assert(d.html.contains("div class=\"quote\""))
    assert(d.html_highlighted.contains("webspot-highlight-container"))
    assert(d.execution_time_json.contains("\"html_requester\"") &&
      d.execution_time_json.contains("\"graph_loader\"") &&
      d.execution_time_json.contains("\"plain_list\"") &&
      d.execution_time_json.contains("\"pagination\""))
    // error path: unparseable detector list -> valid=false + error recorded
    RequestStore.submit(spark, dir, Seq(page(0, 1)).toDS(), t,
      detectors = Seq("nope"))
    val bad = RequestStore.list(spark, dir, 0, 10).as[graft.api.RequestDoc]
      .collect().find(_.status == "error").get
    assert(!bad.valid && bad.error != null && bad.error.contains("nope"))
    // annotate-mode html resolves relative links against the request url
    val annotated = RequestStore.requestHtml(spark, dir, d.id, mode = "annotate").get
    assert(annotated.contains("href=\"https://host0.example/login\""))
  }

  test("node annotations: by selector and by id (node.py:12-17)") {
    import spark.implicits._
    val dir = graft.util.TempDirs.create("graft-req-nodes-").toString
    val t = java.sql.Timestamp.valueOf("2026-01-04 00:00:00")
    RequestStore.submit(spark, dir, Seq(page(0, 0)).toDS(), t)
    val reqId = RequestStore.list(spark, dir, 0, 1).collect().head.getAs[String]("id")

    val n1 = RequestStore.annotateBySelector(spark, dir, reqId,
      SyntheticWeb.GoldenListSelector, "the-list", t).get
    assert(n1.request_id == reqId && n1.tag == "the-list" && n1.node_id > 0)
    val n2 = RequestStore.annotateById(spark, dir, reqId, n1.node_id, "again", t)
    val nodes = RequestStore.listNodes(spark, dir, reqId).collect()
    assert(nodes.length == 2 && nodes.map(_.tag).toSet == Set("the-list", "again"))
    // node info endpoint rebuilds the node from the stored html
    val json = RequestStore.getNodeJson(spark, dir, reqId, n1.node_id).get
    assert(json.contains("\"tag\":\"div\"") && json.contains("col-md-8"))
    // request paging still intact after node commits (carried dirs)
    assert(RequestStore.list(spark, dir, 0, 10).count() == 1)
    assert(n2.node_id == n1.node_id)
  }

  test("S4: binaryFile html source feeds the detect pipeline") {
    val dir = graft.util.TempDirs.create("graft-htmlfiles-")
    for (k <- 0 until 3)
      java.nio.file.Files.writeString(dir.resolve(s"p$k.html"),
        SyntheticWeb.pageHtml(0, k, 10, 4))
    java.nio.file.Files.writeString(dir.resolve("ignore.txt"), "not html")
    val pages = graft.sources.HtmlFiles.read(spark, dir.toString)
    assert(pages.count() == 3)
    val outs = Detector.detect(pages).collect()
    assert(outs.length == 3 && outs.forall(_.lists.nonEmpty))
    assert(outs.forall(_.url.startsWith("file:")))
  }

  test("links endpoint: picks the link field with max total text (A-8)") {
    val (url, html) = page(0, 2)
    val lists = RequestStore.linkLists(url, html)
    assert(lists.nonEmpty)
    val best = lists.head
    assert(best.links.nonEmpty)
    // every link resolved against the page url
    assert(best.links.forall(_.url.startsWith("https://host0.example/")))
    // the about-links (author names not included: '(about)') vs tag links —
    // the chosen field must be the max-total-text one among link_url fields
    assert(best.confidence > 0)
  }

  test("highlight: annotates list/items/fields and pagination") {
    val (url, html) = page(0, 0)
    val doc = HtmlParser.parseBytes(html)
    val out = Detector.detectDoc(url, doc)
    val highlighted = Highlight.highlight(doc, out.lists, out.pagination)
    assert(highlighted.contains("webspot-highlight-container"))
    assert(highlighted.contains("webspot-highlight-node-color__blue"))
    assert(highlighted.contains("webspot-highlight-node-color__orange"))
    assert(highlighted.contains(">List 1</div>"))
    assert(highlighted.contains("webspot-highlight-label-primary"))
    // the annotated page must still parse and contain the original items
    val redoc = HtmlParser.parse(highlighted)
    assert(graft.css.CssSelector.selectAll(redoc, "div.quote").nonEmpty)
  }

  test("native url expressions: codegen + SQL registration") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val df = Seq(
      ("HTTPS://Host0.Example:443/a/../b?z=1&a=2#f", "/next"),
      ("http://h.example", "page/2")).toDF("url", "href")
    val res = df.select(
      GraftFunctions.canonicalize_url(col("url")).as("canon"),
      GraftFunctions.url_host(col("url")).as("host"),
      GraftFunctions.url_hash64(col("url")).as("h"),
      GraftFunctions.resolve_url(col("url"), col("href")).as("resolved")).collect()
    assert(res(0).getString(0) == "https://host0.example/b?a=2&z=1")
    assert(res(0).getString(1) == "host0.example")
    assert(res(0).getLong(2) == graft.urls.UrlOps.urlHash64("https://host0.example/b?a=2&z=1"))
    // resolve is plain urljoin: base netloc preserved (no canonicalization)
    assert(res(0).getString(3) == "https://Host0.Example:443/next")
    assert(res(1).getString(3) == "http://h.example/page/2")

    // SQL form
    val sqlRes = spark.sql(
      "SELECT graft_url_host('https://A.B.example/x') AS h").head().getString(0)
    assert(sqlRes == "a.b.example")

    // entropy UDAF
    val e = Seq("a", "a", "b", "b").toDF("v")
      .agg(expr("graft_entropy(v)")).head().getDouble(0)
    assert(math.abs(e - math.log(2)) < 1e-12)
  }

  test("streaming: watermarked hourly aggregation matches the batch query") {
    val dir = "/root/testdata/sf0.001"
    // file-source streaming needs a directory; the testdata table is a file
    val streamDir = graft.util.TempDirs.create("graft-events-")
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$dir/events.parquet"),
      streamDir.resolve("events.parquet"))
    val stream = EventStream.readEvents(spark, streamDir.toString)
    val agg = EventStream.runAggToMemory(EventStream.hourlyAgg(stream), "hourly_agg_test")
    val batch = spark.read.parquet(s"$dir/events.parquet")
      .withColumn("ts", col("ts").cast("timestamp"))
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))
    val a = agg.orderBy("hour", "event_type").collect().map(_.toSeq)
    val b = batch.orderBy("hour", "event_type").collect().map(_.toSeq)
    assert(a.length == b.length && a.zip(b).forall { case (x, y) => x == y })
  }

  test("streaming: detect map over a page firehose equals the batch path") {
    import spark.implicits._
    val dir = graft.util.TempDirs.create("graft-pagestream-").toString
    SyntheticWeb.pagesFast(spark, 12, 4, 4).toDF()
      .write.parquet(s"$dir/pages")
    val streamed = EventStream.runToMemory(
      graft.streaming.PageStream.detectCounts(
        graft.streaming.PageStream.readPages(spark, s"$dir/pages")),
      "page_stream_test")
    val batch = spark.read.parquet(s"$dir/pages").as[graft.detect.Page]
      .map { p =>
        val out = Detector.detectHtml(p.url, p.html)
        (p.url, out.nNodes, out.lists.size, out.lists.map(_.data.size).sum,
          out.pagination.map(_.nextUrl).orNull)
      }.toDF("url", "n_nodes", "n_lists", "n_rows", "next_url")
    val a = streamed.orderBy("url").collect().map(_.toSeq)
    val b = batch.orderBy("url").collect().map(_.toSeq)
    assert(a.length == 12 && a.sameElements(b))
  }

  test("streaming: stateful sessionization closes sessions on gap") {
    import spark.implicits._
    val events = Seq(
      EventStream.Event(1, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1, "a", 1.0),
      EventStream.Event(2, java.sql.Timestamp.valueOf("2024-01-01 00:10:00"), 1, "a", 2.0),
      // > 30 min gap -> new session
      EventStream.Event(3, java.sql.Timestamp.valueOf("2024-01-01 01:00:00"), 1, "a", 3.0),
      EventStream.Event(4, java.sql.Timestamp.valueOf("2024-01-01 00:05:00"), 2, "b", 4.0))
    val dir = graft.util.TempDirs.create("graft-stream-").toString
    events.toDS().coalesce(1).write.parquet(s"$dir/events")
    val stream = spark.readStream
      .schema(events.toDS().schema).parquet(s"$dir/events").as[EventStream.Event]
    val sessions = EventStream.runToMemory(
      EventStream.sessionize(spark, stream).toDF(), "sessions_test")
    // only closed sessions are emitted in append mode: user 1's first session
    val closed = sessions.as[EventStream.SessionOut].collect()
    assert(closed.exists(s => s.user_id == 1 && s.n_events == 2 && s.sum_value == 3.0
      && s.duration_ms == 10 * 60 * 1000L))
  }
}
