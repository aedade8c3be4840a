package graft.tools

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong
import graft.dom.HtmlParser
import graft.detect.Detector
import graft.tables.SyntheticWeb
import graft.urls.UrlOps

/** Spark-free microbench of the per-page detect kernel: parse → detect →
  * extract-links → canonicalize, at several thread counts on identical
  * pages. Reports per-thread throughput and allocated bytes per page —
  * the scaling-efficiency ceiling of the crawl bench is set here (the
  * kernel is the round's CPU, and its allocation rate is the memory-bus
  * pressure that makes 16 threads slower per-thread than 4).
  *
  * Usage: runMain graft.tools.KernelBench [nPages] [threads,threads,...]
  */
object KernelBench {

  private val tmx = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  /** phase: how deep into the kernel to run — isolates each stage's
    * allocation share (1=parse, 2=+detect, 3=+links, 4=+canonicalize).
    */
  private def work(htmls: Array[(String, Array[Byte])], from: Int, to: Int,
      phase: Int = 4): Long = {
    var sink = 0L
    var i = from
    while (i < to) {
      val (url, html) = htmls(i)
      val doc = HtmlParser.parseBytes(html)
      sink += doc.size
      if (phase >= 2) {
        val det = Detector.detectDoc(url, doc)
        sink += det.nNodes + det.lists.size
      }
      if (phase >= 3) {
        val links = Detector.extractLinks(url, doc)
        sink += links.length
        if (phase >= 4) {
          var j = 0
          while (j < links.length) {
            sink += UrlOps.canonicalParts(links(j))._1.length
            j += 1
          }
        }
      }
      i += 1
    }
    sink
  }

  def main(args: Array[String]): Unit = {
    val nPages = args.headOption.map(_.toInt).getOrElse(8000)
    val levels = args.lift(1).map(_.split(",").map(_.toInt).toSeq)
      .getOrElse(Seq(1, 4, 16, 16, 4, 1))
    val nHosts = 16
    val weight = 4
    val cuts = SyntheticWeb.fastCuts(nPages.toLong, nHosts)
    val htmls = Array.tabulate(nPages) { i =>
      val host = SyntheticWeb.fastHostOf(cuts, i.toLong)
      val k = i - cuts(host)
      val nOnHost = cuts(host + 1) - cuts(host)
      (SyntheticWeb.pageUrl(host, k),
        SyntheticWeb.pageHtml(host, k, nOnHost, nHosts, weight)
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    val phase = args.lift(2).map(_.toInt).getOrElse(4)

    // JIT warm
    work(htmls, 0, math.min(2000, nPages))
    work(htmls, 0, math.min(2000, nPages))

    levels.foreach { t =>
      System.gc(); Thread.sleep(300)
      val alloc = new AtomicLong
      val chunk = (nPages + t - 1) / t
      val threads = (0 until t).map { ti =>
        new Thread(() => {
          val id = Thread.currentThread().getId
          val a0 = tmx.getThreadAllocatedBytes(id)
          work(htmls, ti * chunk, math.min((ti + 1) * chunk, nPages), phase)
          alloc.addAndGet(tmx.getThreadAllocatedBytes(id) - a0)
        })
      }
      val t0 = System.nanoTime()
      threads.foreach(_.start()); threads.foreach(_.join())
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"threads=$t%2d  pages/s=${nPages / sec}%8.0f  " +
        f"per-thread=${nPages / sec / t}%7.0f  " +
        f"alloc/page=${alloc.get.toDouble / nPages / 1024}%8.1f KiB  wall=$sec%6.2fs")
    }
  }
}
