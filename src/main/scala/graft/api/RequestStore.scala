package graft.api

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.detect.{DetectOutput, Detector, Highlight, ListResultOut, PageGraph, Pagination, PlainList}
import graft.dom.HtmlParser
import graft.tables.SnapshotStore
import graft.urls.UrlOps
import graft.util.Json

/** The reference's request CRUD surface
  * (/root/reference/webspot/web/routes/api/request.py) re-expressed as
  * library calls over the snapshot table layer: submit detection requests
  * (batch, not per-HTTP-call), list newest-first with skip/limit (W4), fetch
  * by id, node annotations, and the `/api/links` endpoint's best-link-list
  * extraction (A-8). MongoDB is replaced by a snapshot-versioned parquet
  * table.
  *
  * Field parity with the reference Request model
  * (/root/reference/webspot/models/request.py:26-40): url, method, duration,
  * status, html, html_highlighted, results, valid, error, no_async,
  * detectors, execution_time. `execution_time` carries the per-stage ms the
  * reference records in extract_results.py:25-29,40,49,84 (html_requester /
  * graph_loader / per-detector).
  */
final case class RequestDoc(
    id: String,
    url: String,
    method: String,
    duration: Long,
    status: String,
    html: String,
    html_highlighted: String,
    n_lists: Int,
    results_json: String,
    valid: Boolean,
    error: String,
    no_async: Boolean,
    detectors: Seq[String],
    execution_time_json: String,
    created_at: java.sql.Timestamp,
    // monotone per-id revision: the append-only store models PUT updates as
    // a new row with the same id and rev+1; readers resolve max-rev per id
    rev: Long = 0L)

/** Node annotation (/root/reference/webspot/models/node.py:12-17 +
  * web/models/payload/node.py): a user-attached tag on a DOM node of a
  * stored request.
  */
final case class NodeDoc(
    id: String,
    request_id: String,
    node_id: Int,
    tag: String,
    created_at: java.sql.Timestamp)

final case class LinkOut(url: String, text: String)
final case class LinkListOut(name: String, confidence: Double, links: Seq[LinkOut])

object RequestStore {

  val StatusSuccess = "success"
  val StatusError = "error"
  val MethodRequest = "request" // HTML_REQUEST_METHOD_REQUEST
  val DetectorPlainList = "plain_list"
  val DetectorPagination = "pagination"
  val DefaultDetectors: Seq[String] = Seq(DetectorPlainList, DetectorPagination)

  def requestId(url: String, ts: Long): String =
    java.lang.Long.toHexString(UrlOps.fnv1a64(s"$url@$ts"))

  /** Submit a batch of (url, html) pages: run the fused detect map with
    * per-stage timings, append a snapshot of full-parity RequestDocs (the
    * async/sync distinction of the reference is subsumed by Spark's job
    * scheduling — §3.1).
    */
  def submit(spark: SparkSession, storeDir: String,
      pages: Dataset[(String, Array[Byte])],
      now: java.sql.Timestamp,
      method: String = MethodRequest,
      duration: Long = 0L,
      noAsync: Boolean = false,
      detectors: Seq[String] = DefaultDetectors): Dataset[RequestDoc] = {
    import spark.implicits._
    val ts = now.getTime
    val dets = detectors
    val docs = pages.map { case (url, htmlBytes) =>
      buildDoc(url, htmlBytes, now, ts, method, duration, noAsync, dets)
    }
    appendDelta(spark, storeDir, "requests", docs.toDF())
    docs
  }

  /** One request lifecycle, staged exactly like the reference's
    * extract_rules (html decode → graph build → per-detector run+highlight),
    * with per-stage ms in execution_time.
    */
  private def buildDoc(url: String, htmlBytes: Array[Byte],
      now: java.sql.Timestamp, ts: Long, method: String, duration: Long,
      noAsync: Boolean, detectors: Seq[String]): RequestDoc = {
    val id = requestId(url, ts)
    try {
      var tic = System.nanoTime()
      def tocMs(): Long = {
        val ms = (System.nanoTime() - tic) / 1000000L
        tic = System.nanoTime()
        ms
      }
      val html = HtmlParser.decodeBytes(htmlBytes)
      val msRequester = tocMs()
      val doc = HtmlParser.parse(html)
      val g = PageGraph(doc)
      val msLoader = tocMs()
      var lists: Vector[ListResultOut] = Vector.empty
      var pagination: Option[graft.detect.PaginationOut] = None
      val detectorMs = detectors.map { d =>
        val ms = d match {
          case DetectorPlainList =>
            lists = g.map(gg => PlainList.run(doc, gg, url)).getOrElse(Vector.empty)
            tocMs()
          case DetectorPagination =>
            pagination = g.flatMap(gg => Pagination.run(doc, gg, url))
            tocMs()
          case other => throw new IllegalArgumentException(s"Invalid detector: $other")
        }
        d -> ms
      }
      val highlighted = Highlight.highlight(doc, lists, pagination)
      val out = DetectOutput(url, g.map(_.n).getOrElse(0), lists, pagination)
      val exec = s"""{"html_requester":$msRequester,"graph_loader":$msLoader,""" +
        s""""detectors":{${detectorMs.map { case (d, m) => s"${Json.str(d)}:$m" }.mkString(",")}}}"""
      RequestDoc(id, url, method, duration, StatusSuccess, html, highlighted,
        lists.size, resultsJson(out), valid = true, error = null,
        no_async = noAsync, detectors = detectors,
        execution_time_json = exec, created_at = now)
    } catch {
      case e: Exception =>
        RequestDoc(id, url, method, duration, StatusError, null, null, 0,
          s"""{"error":${Json.str(e.toString)}}""", valid = false,
          error = e.toString, no_async = noAsync, detectors = detectors,
          execution_time_json = "{}", created_at = now)
    }
  }

  /** Append rows to one logical delta table of the store; the commit
    * carries every other table forward unchanged.
    */
  private def appendDelta(spark: SparkSession, storeDir: String, table: String,
      rows: DataFrame): Unit = {
    val prev = SnapshotStore.latestManifest(storeDir)
    val version = prev.map(_.version + 1).getOrElse(0)
    SnapshotStore.commit(storeDir, version, Map.empty,
      Map("version" -> version.toLong), prev, deltas = Map(table -> rows))
  }

  // pinned schemas: no footer read or schema-merge job per get/list
  private val requestSchema = Encoders.product[RequestDoc].schema
  private val nodeSchema = Encoders.product[NodeDoc].schema

  /** Resolve last-writer-wins over the append-only rows: one row per id, the
    * max-rev one (created_at tie-break for robustness).
    */
  private def latestPerId(df: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("id"))
      .orderBy(desc("rev"), desc("created_at"))
    df.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1).drop("_rn")
  }

  /** newest-first paging (request.py:24-28, W4) — updated docs appear once,
    * at their latest revision, ordered by their ORIGINAL creation time (the
    * reference PUT mutates the Mongo doc in place; list order is by id/time,
    * not touch time).
    */
  def list(spark: SparkSession, storeDir: String, skip: Int, limit: Int): DataFrame =
    SnapshotStore.latestManifest(storeDir) match {
      case None => spark.emptyDataFrame
      case Some(m) =>
        latestPerId(SnapshotStore.read(spark, m, "requests", requestSchema))
          .orderBy(desc("created_at"), desc("id"))
          .offset(skip)
          .limit(limit)
    }

  def get(spark: SparkSession, storeDir: String, id: String): Option[RequestDoc] = {
    import spark.implicits._
    SnapshotStore.latestManifest(storeDir).flatMap { m =>
      SnapshotStore.read(spark, m, "requests", requestSchema)
        .filter(col("id") === id).as[RequestDoc].collect()
        .sortBy(d => (-d.rev, -d.created_at.getTime)).headOption
    }
  }

  /** PUT /api/requests/{id} analog (reference request.py:90-97: fetch the
    * doc, set the payload's fields, save). `mutate` receives the current
    * latest revision; the result is appended with the same id and rev+1 —
    * readers (get/list/requestHtml) resolve to it. None if the id is absent.
    */
  def update(spark: SparkSession, storeDir: String, id: String,
      mutate: RequestDoc => RequestDoc): Option[RequestDoc] = {
    import spark.implicits._
    get(spark, storeDir, id).map { cur =>
      val next = mutate(cur).copy(id = cur.id, rev = cur.rev + 1)
      appendDelta(spark, storeDir, "requests", Seq(next).toDF())
      next
    }
  }

  /** GET /api/requests/{id}/html: the highlighted page; `annotate` mode
    * additionally resolves relative hrefs/srcs against the request url
    * (transform_html_links semantics, F12) so the page renders standalone.
    */
  def requestHtml(spark: SparkSession, storeDir: String, id: String,
      mode: String = "highlight"): Option[String] =
    get(spark, storeDir, id).map { d =>
      if (mode == "annotate") transformHtmlLinks(d.html_highlighted, d.url)
      else d.html_highlighted
    }

  /** href/src rewrite over a serialized page (transform_html_links.py:55-60
    * applied to every link attribute, reversed-re.search bug-compat kept by
    * UrlOps.transformUrl).
    */
  def transformHtmlLinks(html: String, rootUrl: String): String = {
    val attrRe = """(?i)\b(href|src)\s*=\s*"([^"]*)"""".r
    attrRe.replaceAllIn(html, m => {
      val transformed = UrlOps.transformUrl(rootUrl, m.group(2))
      java.util.regex.Matcher.quoteReplacement(s"""${m.group(1)}="$transformed"""")
    })
  }

  // ------------------------------------------------------ node annotations

  /** POST /api/requests/{id}/nodes — annotate the node matched by a CSS
    * selector on the stored page (request.py:60-73).
    */
  def annotateBySelector(spark: SparkSession, storeDir: String, requestId: String,
      cssSelector: String, tag: String, now: java.sql.Timestamp): Option[NodeDoc] =
    get(spark, storeDir, requestId).flatMap { d =>
      val doc = HtmlParser.parse(d.html)
      graft.css.CssSelector.selectOne(doc, cssSelector).map { nodeId =>
        annotateById(spark, storeDir, requestId, nodeId, tag, now)
      }
    }

  /** POST /api/requests/{id}/nodes/{node_id} (request.py:76-87). */
  def annotateById(spark: SparkSession, storeDir: String, requestId: String,
      nodeId: Int, tag: String, now: java.sql.Timestamp): NodeDoc = {
    import spark.implicits._
    val id = java.lang.Long.toHexString(
      UrlOps.fnv1a64(s"$requestId/$nodeId@${now.getTime}"))
    val doc = NodeDoc(id, requestId, nodeId, tag, now)
    appendDelta(spark, storeDir, "nodes", Seq(doc).toDF())
    doc
  }

  def listNodes(spark: SparkSession, storeDir: String, requestId: String): Dataset[NodeDoc] = {
    import spark.implicits._
    SnapshotStore.latestManifest(storeDir) match {
      case Some(m) if m.dataDirs.contains("nodes") =>
        SnapshotStore.read(spark, m, "nodes", nodeSchema)
          .filter(col("request_id") === requestId).as[NodeDoc]
      case _ => spark.emptyDataset[NodeDoc]
    }
  }

  /** GET /api/requests/{id}/nodes/{node_id}: node info rebuilt from the
    * stored html (request.py:48-56) as a compact json object.
    */
  def getNodeJson(spark: SparkSession, storeDir: String, requestId: String,
      nodeId: Int): Option[String] =
    get(spark, storeDir, requestId).flatMap { d =>
      val doc = HtmlParser.parse(d.html)
      if (nodeId < 0 || nodeId >= doc.size) None
      else {
        val nd = doc(nodeId)
        val attrs = nd.attrs.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }
          .mkString("{", ",", "}")
        Some(s"""{"id":${nd.id},"parent":${nd.parentId},"tag":${Json.str(nd.tag)},""" +
          s""""attributes":$attrs,"text":${Json.str(doc.subtreeText(nodeId).strip())}}""")
      }
    }

  // ------------------------------------------------------------ /api/links

  /** `/api/links` semantics (webspot/web/routes/api/link.py:54-109): per
    * list result, among its link_url fields pick the ONE with max total link
    * text; emit (url, text) per item, href transformed against the page url.
    */
  def linkLists(url: String, html: Array[Byte]): Seq[LinkListOut] = {
    val doc = HtmlParser.parseBytes(html)
    val out = Detector.detectDoc(url, doc)
    out.lists.flatMap { lr =>
      val linkFields = lr.fields.filter(_.fieldType == "link_url")
      val items = graft.css.CssSelector.selectAll(doc, lr.fullItemsSelector)
      val itemCands = items.map(graft.css.CssSelector.descendants(doc, _))
      val candidates = linkFields.map { f =>
        val sel = graft.css.CssSelector.parse(f.selector)
        val links = itemCands.flatMap { cands =>
          graft.css.CssSelector.selectOneAmong(doc, sel, cands).flatMap { fid =>
            doc(fid).attr("href").map { href =>
              // get_text(strip=True): stripped segments concatenated
              val text = strippedText(doc, fid)
              LinkOut(UrlOps.transformUrl(url, href), text)
            }
          }
        }
        (links, links.map(_.text.length).sum)
      }
      if (candidates.isEmpty) None
      else {
        val best = candidates.maxBy(_._2)._1 // first max wins (list.index(max))
        if (best.isEmpty) None
        else Some(LinkListOut(lr.name, lr.score, best))
      }
    }
  }

  /** BeautifulSoup get_text(strip=True) analog: each text segment stripped,
    * empties dropped, concatenated.
    */
  private def strippedText(doc: graft.dom.DomDocument, id: Int): String = {
    val sb = new StringBuilder
    def rec(i: Int): Unit = doc(i).content.foreach {
      case graft.dom.TextSeg(t) =>
        val s = t.strip(); if (s.nonEmpty) sb.append(s)
      case graft.dom.ChildRef(c) => rec(c)
    }
    rec(id)
    sb.result()
  }

  /** Compact results JSON mirroring the reference's Result model shape. */
  def resultsJson(out: DetectOutput): String = {
    def listJson(l: ListResultOut): String = {
      val fields = l.fields.map(f =>
        s"""{"name":${Json.str(f.name)},"selector":${Json.str(f.selector)},"type":${Json.str(f.fieldType)},"attribute":${Json.str(f.attribute)}}""")
        .mkString("[", ",", "]")
      val data = l.data.map(r =>
        r.values.toSeq.sortBy(_._1)
          .map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }
          .mkString("{", ",", "}")).mkString("[", ",", "]")
      s"""{"name":${Json.str(l.name)},"score":${l.score},"selectors":{"list":${Json.str(l.listSelector)},"items":${Json.str(l.itemsSelector)},"full_items":${Json.str(l.fullItemsSelector)}},"fields":$fields,"data":$data}"""
    }
    val lists = out.lists.map(listJson).mkString("[", ",", "]")
    val pag = out.pagination
      .map(p => s"""{"next":${Json.str(p.selector)},"next_url":${Json.str(p.nextUrl)}}""")
      .getOrElse("null")
    s"""{"url":${Json.str(out.url)},"plain_list":$lists,"pagination":$pag}"""
  }
}
