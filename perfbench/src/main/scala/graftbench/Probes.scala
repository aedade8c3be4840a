package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{Callable, Executors}

import graft.detect.Detector
import graft.dom.HtmlParser
import graft.frontier.{CuckooFilter, Robots}
import graft.tables.SyntheticWeb
import graft.urls.UrlOps

/** Spark-free measurements of single layers, made through their public
  * functions on the workload's own pages, hashes and paths.
  */
object Probes {

  // results the probes fold into, so the JIT cannot drop the timed calls
  @volatile private var sink = 0L

  private val threadMx = ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]
  private def allocated(): Long = threadMx.getThreadAllocatedBytes(Thread.currentThread().getId)

  final case class Kernel(parseUsPerPage: Double, parseAllocKibPerPage: Double,
      detectUsPerPage: Double, detectAllocKibPerPage: Double, linksUsPerPage: Double,
      pagesPerS1t: Double, pagesPerSNt: Double, threads: Int) {
    def threadEff: Double = pagesPerSNt / (threads * pagesPerS1t)
  }

  /** The per-page kernel the crawl round fuses into one map: parse, detect,
    * extract and canonicalize links. Single-thread figures are split by
    * step; the n-thread rate runs the whole kernel on `threads` threads, each
    * over the full sample.
    */
  def kernel(sample: IndexedSeq[(String, Array[Byte])], threads: Int, reps: Int): Kernel = {
    var parseNs, detectNs, linksNs, parseB, detectB = 0L
    var n = 0L
    var r = 0
    while (r < reps) {
      sample.foreach { case (url, html) =>
        val a0 = allocated(); val t0 = System.nanoTime()
        val doc = HtmlParser.parseBytes(html)
        val t1 = System.nanoTime(); val a1 = allocated()
        val out = Detector.detectDoc(url, doc)
        val t2 = System.nanoTime(); val a2 = allocated()
        val links = Detector.extractLinks(url, doc).map(UrlOps.canonicalParts)
        val t3 = System.nanoTime()
        if (out.lists.isEmpty || links.isEmpty) throw new IllegalStateException(s"kernel found nothing on $url")
        parseNs += t1 - t0; detectNs += t2 - t1; linksNs += t3 - t2
        parseB += a1 - a0; detectB += a2 - a1
        n += 1
      }
      r += 1
    }
    val pool = Executors.newFixedThreadPool(threads)
    val ntRate = try {
      val t0 = System.nanoTime()
      val fs = (0 until threads).map(_ => pool.submit(new Callable[Long] {
        def call(): Long = {
          var c = 0L
          var i = 0
          while (i < reps) {
            sample.foreach { case (url, html) =>
              val doc = HtmlParser.parseBytes(html)
              c += Detector.detectDoc(url, doc).lists.size
              c += Detector.extractLinks(url, doc).map(UrlOps.canonicalParts).size
            }
            i += 1
          }
          c
        }
      }))
      fs.foreach(f => sink += f.get())
      threads.toLong * reps * sample.length / ((System.nanoTime() - t0) / 1e9)
    } finally pool.shutdown()
    val oneRate = n / ((parseNs + detectNs + linksNs) / 1e9)
    Kernel(parseNs / 1e3 / n, parseB / 1024.0 / n, detectNs / 1e3 / n, detectB / 1024.0 / n,
      linksNs / 1e3 / n, oneRate, ntRate, threads)
  }

  /** `Detector.detectHtml` on its own, as `RequestStore.submit` runs it. */
  def detectHtmlMs(sample: IndexedSeq[(String, Array[Byte])], reps: Int): Double = {
    val t0 = System.nanoTime()
    var r = 0
    while (r < reps) { sample.foreach { case (u, h) => sink += Detector.detectHtml(u, h).lists.size }; r += 1 }
    (System.nanoTime() - t0) / 1e6 / (reps * sample.length)
  }

  final case class Cuckoo(addNs: Double, containsNs: Double, fpRate: Double, bytesPerKey: Double)

  /** A filter sized for `keys` as the engine sizes a bucket's filter, filled
    * with them, then probed with every key and with at least 2^16
    * known-absent keys.
    * Repeats until at least `minMs` of adds have been timed.
    */
  def cuckoo(keys: Array[Long], minMs: Long, seed: Long): Cuckoo = {
    require(keys.nonEmpty, "cuckoo probe needs keys")
    val present = new java.util.HashSet[java.lang.Long]()
    keys.foreach(k => present.add(k))
    val rng = new java.util.SplittableRandom(seed)
    val absent = Iterator.continually(rng.nextLong()).filterNot(k => present.contains(k)).take(math.max(1 << 16, keys.length * 4)).toArray
    var addNs, containsNs, absentN, fp, adds, probes = 0L
    var f: CuckooFilter = null
    val deadline = System.nanoTime() + minMs * 1000000L
    var hits = 0L
    while (adds == 0 || System.nanoTime() < deadline) {
      f = CuckooFilter.create(math.max(1L << 10, 2L * keys.length))
      val t0 = System.nanoTime()
      keys.foreach(f.add)
      val t1 = System.nanoTime()
      keys.foreach(k => if (f.contains(k)) hits += 1)
      val t2 = System.nanoTime()
      absent.foreach(k => if (f.contains(k)) fp += 1)
      addNs += t1 - t0; containsNs += t2 - t1
      adds += keys.length; probes += keys.length; absentN += absent.length
    }
    if (hits != probes) throw new IllegalStateException(s"cuckoo filter lost keys: $hits of $probes found")
    Cuckoo(addNs.toDouble / adds, containsNs.toDouble / probes, fp.toDouble / absentN,
      f.toBytes.length.toDouble / keys.length)
  }

  /** `Robots.allowed` over candidate urls under the synthetic hosts' rules;
    * returns ns per call.
    */
  def robots(candidates: IndexedSeq[String], nHosts: Int, minMs: Long): Double = {
    val rules = SyntheticWeb.robotsRules(nHosts).map(r => r._1 -> ((r._2, r._3))).toMap
    val work = candidates.flatMap { u =>
      val (canon, host) = UrlOps.canonicalParts(u)
      rules.get(host).map { case (a, d) => (UrlOps.pathQueryOfCanonical(canon), a, d) }
    }
    require(work.nonEmpty, "robots probe needs candidates on known hosts")
    var calls, ns, allowed = 0L
    val deadline = System.nanoTime() + minMs * 1000000L
    while (calls == 0 || System.nanoTime() < deadline) {
      val t0 = System.nanoTime()
      work.foreach { case (p, a, d) => if (Robots.allowed(p, a, d)) allowed += 1 }
      ns += System.nanoTime() - t0
      calls += work.length
    }
    sink += allowed
    ns.toDouble / calls
  }
}
