package graftbench

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession

import graft.api.RequestStore
import graft.tables.SnapshotStore

/** Latency of one request-store call, with the wall-clock interval it ran in. */
final case class OpSample(op: String, interval: Interval) {
  def ms: Double = interval.ms.toDouble
}

/** Outcome of one closed-loop session: every op timed, the store it left. */
final case class ApiSession(samples: Vector[OpSample], check: Check, storeDir: String, submits: Int) {
  /** Latency of each submit-get-list-update cycle. */
  def cycleMs: Seq[Double] = samples.grouped(Api.Ops.length).map(_.map(_.ms).sum).toSeq
}

/** The `api_requests` client: one thread in a closed loop against an empty
  * `RequestStore`. Each cycle submits one page, gets it back by id, lists the
  * first page of requests and updates the request it just read. Every get
  * and list must read the client's own writes.
  */
object Api {
  val Ops: Seq[String] = Seq("submit", "get", "list", "update")
  val ListLimit = 10

  /** Creation time of the i-th submit: strictly increasing, so the store's
    * newest-first order is fully determined.
    */
  def createdAt(i: Int): Timestamp = new Timestamp(1767225600000L + i * 1000L)

  def session(spark: SparkSession, layout: Layout, pageOrder: IndexedSeq[(Int, Long)],
      cycles: Int, storeDir: String, spans: Option[Spans]): ApiSession = {
    import spark.implicits._
    val samples = Vector.newBuilder[OpSample]
    val errors = Vector.newBuilder[String]
    var failed = 0L
    def timed[A](op: String)(f: => A): A = {
      val t0 = System.currentTimeMillis()
      val a = spans.map(s => s(s"api.$op")(f)).getOrElse(f)
      samples += OpSample(op, Interval(t0, System.currentTimeMillis()))
      a
    }
    def fail(msg: String): Unit = { failed += 1; errors += msg }
    val ids = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < cycles) {
      val (h, k) = pageOrder(i % pageOrder.length)
      val url = layout.url(h, k)
      val html = layout.html(h, k).getBytes("UTF-8")
      val now = createdAt(i)
      val id = RequestStore.requestId(url, now.getTime)
      timed("submit") {
        RequestStore.submit(spark, storeDir, Seq((url, html)).toDS(), now)
      }
      ids += id
      val got = timed("get")(RequestStore.get(spark, storeDir, id))
      got match {
        case None => fail(s"get $id after submit: not found")
        case Some(d) =>
          if (d.url != url || !d.valid || d.status != RequestStore.StatusSuccess || d.n_lists != 1 || d.rev != 0L)
            fail(s"get $id after submit: url=${d.url} valid=${d.valid} status=${d.status} lists=${d.n_lists} rev=${d.rev}")
      }
      val listed = timed("list") {
        RequestStore.list(spark, storeDir, 0, ListLimit).select($"id", $"rev").as[(String, Long)].collect()
      }
      // newest first; every earlier cycle's request was updated once
      val want = ids.reverseIterator.take(ListLimit).toVector
      val wantRev = want.map(x => if (x == id) 0L else 1L)
      if (listed.map(_._1).toVector != want || listed.map(_._2).toVector != wantRev)
        fail(s"list after submit $i: ${listed.take(3).mkString(",")}... expected ${want.take(3).mkString(",")}...")
      val upd = timed("update") {
        RequestStore.update(spark, storeDir, id, d => d.copy(duration = i.toLong + 1))
      }
      if (!upd.exists(d => d.rev == 1L && d.duration == i + 1)) fail(s"update $id: $upd")
      i += 1
    }
    ApiSession(samples.result(), Check(cycles.toLong * Ops.length, failed, errors.result()), storeDir, cycles)
  }

  /** Request delta dirs the store's latest snapshot lists. */
  def requestDirs(storeDir: String): Int =
    SnapshotStore.latestManifest(storeDir).map(m => SnapshotStore.dirsOf(m, "requests").length).getOrElse(0)
}
