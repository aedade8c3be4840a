package graftbench

import scala.collection.mutable

import graft.frontier.Robots
import graft.tables.SyntheticWeb
import graft.urls.UrlOps

/** Global lineage counters of one crawl round, as the engine's lineage table
  * sums them over buckets.
  */
final case class RoundCounters(drained: Long, fetched: Long, extractedRows: Long,
    candidates: Long, robotsBlocked: Long, deduped: Long, newUrls: Long,
    politenessDeferred: Long)

/** What a crawl over a layout must produce. `fetched` holds each fetched
  * page url once; `seen` holds canonical urls.
  */
final case class SimResult(rounds: Vector[RoundCounters], seen: Set[String],
    fetched: Vector[String])

/** Independent single-threaded model of the engine's crawl policy over the
  * closed-form link graph; no HTML is parsed. It follows the policy
  * `graft.tables.ExpectedDetect.c5` documents, parameterised by layout, page
  * weight and seed urls: BFS rounds, per-host budget, global drain by (depth,
  * url), in-round min-depth dedup, robots gate after dedup, enqueue-time
  * seen-set dedup, crawl-delay windows.
  */
object Sim {

  /** Outlinks of a page in document order, deduped keeping first. */
  def links(web: Layout, host: Int, k: Long): Vector[String] = {
    import SyntheticWeb.{authorSlug, hostName, itemAuthor, itemCount, itemTags, sidebarTargets}
    val base = s"https://${hostName(host)}"
    val n = web.counts(host)
    val (l1, l2, xh) = sidebarTargets(host, k, n, web.nHosts)
    val b = Vector.newBuilder[String]
    b += s"$base/"
    b += s"$base/login"
    (0 until itemCount(host, k, web.weight)).foreach { i =>
      b += s"$base/author/${authorSlug(itemAuthor(host, k, i))}"
      itemTags(host, k, i).foreach(t => b += s"$base/tag/$t/page/1/")
    }
    if (k + 1 < n) b += s"$base/page/${k + 1}"
    b += s"$base/page/$l1"
    b += s"$base/page/$l2"
    b += s"https://${hostName(xh)}/page/0"
    b += s"$base/private/area$k"
    b.result().distinct
  }

  def run(layout: Layout, seeds: Seq[String], hostBudget: Int, roundSize: Int,
      maxRounds: Int, roundTimeMs: Long = 1000L): SimResult = {
    val rules = SyntheticWeb.robotsRules(layout.nHosts).map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    def allowed(u: String): Boolean = rules.get(UrlOps.hostOf(u)) match {
      case None => true
      case Some((alw, dis, _)) =>
        Robots.allowed(UrlOps.pathQueryOfCanonical(UrlOps.canonicalize(u)), alw, dis)
    }
    val frontier = mutable.TreeSet.empty[(Int, String)]
    val seen = mutable.HashSet.empty[String]
    seeds.map(UrlOps.canonicalize).distinct.filter(allowed).foreach { u =>
      frontier += ((0, u)); seen += u
    }
    val nextOk = mutable.Map.empty[String, Int]
    val rounds = Vector.newBuilder[RoundCounters]
    val fetchedUrls = Vector.newBuilder[String]
    var round = 0
    var continue = true
    while (continue && round < maxRounds) {
      val perHost = mutable.Map.empty[String, Int]
      val drained = frontier.iterator.filter { case (_, u) =>
        val h = UrlOps.hostOf(u)
        if (nextOk.getOrElse(h, 0) > round) false
        else {
          val c = perHost.getOrElse(h, 0)
          if (c < hostBudget) { perHost(h) = c + 1; true } else false
        }
      }.take(roundSize).toVector
      if (drained.isEmpty) {
        if (frontier.nonEmpty && nextOk.valuesIterator.exists(_ > round)) round += 1
        else continue = false
      } else {
        val deferred = frontier.size.toLong - drained.size
        frontier --= drained
        var fetched = 0L
        var extracted = 0L
        val cands = Vector.newBuilder[(Int, String)]
        drained.foreach { case (depth, u) =>
          layout.pageOf(u).foreach { case (h, k) =>
            fetched += 1
            fetchedUrls += u
            extracted += SyntheticWeb.itemCount(h, k, layout.weight)
            links(layout, h, k).map(UrlOps.canonicalize).distinct.foreach(c => cands += ((depth + 1, c)))
          }
        }
        val all = cands.result()
        val deduped = all.groupBy(_._2).valuesIterator.map(_.min).toVector
        val admitted = deduped.filter { case (_, c) => allowed(c) }
        val fresh = admitted.filterNot { case (_, c) => seen.contains(c) }
        fresh.foreach { case (d, c) => seen += c; frontier += ((d, c)) }
        drained.iterator.map(e => UrlOps.hostOf(e._2)).distinct.foreach { h =>
          rules.get(h).foreach { case (_, _, delay) =>
            if (delay > roundTimeMs) nextOk(h) = round + math.ceil(delay.toDouble / roundTimeMs).toInt
          }
        }
        rounds += RoundCounters(drained.size.toLong, fetched, extracted, all.size.toLong,
          (deduped.size - admitted.size).toLong, (all.size - deduped.size).toLong,
          fresh.size.toLong, deferred)
        round += 1
      }
    }
    SimResult(rounds.result(), seen.toSet, fetchedUrls.result())
  }
}
