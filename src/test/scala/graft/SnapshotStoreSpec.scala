package graft

import java.nio.file.{Files, Paths}
import scala.concurrent.Await
import scala.concurrent.duration.Duration

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession

import graft.tables.SnapshotStore
import graft.tables.SnapshotStore.Manifest
import graft.util.Json

/** The snapshot layer's commit protocol: prev-relative commits (carry,
  * append, rewrite, pre-written deltas), exact manifest round-trips, and the
  * crash property of the async commit.
  */
class SnapshotStoreSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def tempDir(prefix: String): String = graft.util.TempDirs.create(prefix).toString

  def ints(m: Manifest, name: String): Seq[Int] = {
    import spark.implicits._
    SnapshotStore.read(spark, m, name).as[Int].collect().toSeq.sorted
  }

  test("a commit names only what it writes: carry, append, rewrite, pre-written") {
    import spark.implicits._
    val dir = tempDir("graft-snap-")
    def own(v: Int, name: String) = SnapshotStore.deltaDirFor(dir, v, name)
    val m0 = SnapshotStore.commit(dir, 0,
      Map("kept" -> Seq(1).toDF("x"), "rewritten" -> Seq(2).toDF("x"),
        "log" -> Seq(3).toDF("x")), Map("n" -> 0L))
    // v1 writes a pre-written delta the caller put at deltaDirFor itself
    Seq(5).toDF("x").write.parquet(own(1, "pre"))
    val m1 = SnapshotStore.commit(dir, 1,
      Map("rewritten" -> Seq(20).toDF("x")), Map("n" -> 1L), Some(m0),
      deltas = Map("log" -> Seq(4).toDF("x")), preWritten = Set("pre"))
    assert(m1.dataDirs("kept") == m0.dataDirs("kept"))
    assert(SnapshotStore.dirsOf(m1, "rewritten") == Seq(own(1, "rewritten")))
    assert(SnapshotStore.dirsOf(m1, "log") == Seq(own(0, "log"), own(1, "log")))
    assert(SnapshotStore.dirsOf(m1, "pre") == Seq(own(1, "pre")))
    assert(m1.counters == Map("n" -> 1L))
    assert(!Files.exists(Paths.get(own(1, "kept"))), "a carried table is not rewritten")
    // a second pre-written delta appends to the first
    Seq(6).toDF("x").write.parquet(own(2, "pre"))
    val m2 = SnapshotStore.commit(dir, 2, Map.empty, Map.empty, Some(m1),
      preWritten = Set("pre"))
    assert(m2.dataDirs - "pre" == m1.dataDirs - "pre")
    // what each commit returned is what it committed, and what reads back
    assert(SnapshotStore.latestManifest(dir).contains(m2))
    assert(SnapshotStore.readManifest(dir, 1) == m1)
    assert(ints(m2, "kept") == Seq(1))
    assert(ints(m2, "rewritten") == Seq(20))
    assert(ints(m2, "log") == Seq(3, 4))
    assert(ints(m2, "pre") == Seq(5, 6))
  }

  test("manifests round-trip paths containing , } \" \\ and :") {
    val dir = tempDir("graft-snap-rt-")
    val odd = Seq("/a,b/c", "/x}y/{z}", "/q\"uo\"te", "C:\\win\\dir", "/t:u",
      "/ctl\t\r\n\u0001", "/\u00e9\u4e2d")
    val m = Manifest(7,
      odd.zipWithIndex.map { case (p, i) => s"t$i,\"}" -> p }.toMap +
        ("list" -> odd.mkString(";")),
      Map("round" -> -1L, "a,b" -> Long.MaxValue, "c}\"" -> Long.MinValue))
    SnapshotStore.writeManifest(dir, m)
    assert(SnapshotStore.readManifest(dir, 7) == m)
    assert(SnapshotStore.dirsOf(m, "list") == odd)
    // a manifest as older writers laid it out still parses the same way
    Files.writeString(Paths.get(dir, "snapshots", "v8.json"),
      """{"version":8,"dataDirs":{"seen":"/s/data/v0/seen;/s/data/v1/seen","robots":"/s/data/v0/robots"},"counters":{"round":-1,"seen":5}}""")
    assert(SnapshotStore.readManifest(dir, 8) == Manifest(8,
      Map("seen" -> "/s/data/v0/seen;/s/data/v1/seen", "robots" -> "/s/data/v0/robots"),
      Map("round" -> -1L, "seen" -> 5L)))
    // and so does one with no tables and no counters
    Files.writeString(Paths.get(dir, "snapshots", "v9.json"),
      """{ "version" : 9, "dataDirs" : { }, "counters" : { } }""")
    assert(SnapshotStore.readManifest(dir, 9) == Manifest(9, Map.empty, Map.empty))
  }

  // no '\' or ':' here: Hadoop's path handling (every spark.read) takes
  // them as a glob escape and a URI scheme, so a dir containing either
  // cannot be read whatever the manifest says
  test("a state dir with , } \" in its path commits and reads back") {
    import spark.implicits._
    val dir = Files.createDirectories(
      Paths.get(tempDir("graft-snap-odd-"), "a,b}c\"d")).toString
    val m0 = SnapshotStore.commit(dir, 0, Map("t" -> Seq(1).toDF("x")), Map("n" -> 1L))
    val m1 = SnapshotStore.commit(dir, 1, Map.empty, Map("n" -> 2L), Some(m0),
      deltas = Map("t" -> Seq(2).toDF("x")))
    val back = SnapshotStore.latestManifest(dir).get
    assert(back == m1)
    assert(ints(back, "t") == Seq(1, 2))
  }

  test("a data dir containing ';' is rejected before anything is written") {
    import spark.implicits._
    val dir = Files.createDirectories(Paths.get(tempDir("graft-snap-semi-"), "a;b")).toString
    val e = intercept[IllegalArgumentException] {
      SnapshotStore.commit(dir, 0, Map("t" -> Seq(1).toDF("x")), Map.empty)
    }
    assert(e.getMessage.contains("';'"))
    assert(SnapshotStore.latestVersion(dir).isEmpty)
    assert(!Files.exists(Paths.get(dir, "data")))
  }

  test("a table write that throws fails the async commit and leaves the previous version latest") {
    import spark.implicits._
    val dir = tempDir("graft-snap-crash-")
    val m0 = SnapshotStore.commit(dir, 0, Map("t" -> Seq(1).toDF("x")), Map("n" -> 1L))
    val failing = Seq(1, 2, 3).toDS().map { i =>
      if (i == 2) throw new IllegalStateException("injected write failure") else i
    }.toDF("x")
    val (m1, done) = SnapshotStore.commitAsync(dir, 1,
      Map("ok" -> Seq(9).toDF("x"), "bad" -> failing), Map("n" -> 2L), Some(m0),
      deltas = Map("t" -> Seq(2).toDF("x")))
    assert(m1.version == 1)
    val e = intercept[Exception](Await.result(done, Duration.Inf))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(c => String.valueOf(c.getMessage).contains("injected write failure")), e)
    assert(!Files.exists(Paths.get(dir, "snapshots", "v1.json")))
    assert(SnapshotStore.latestVersion(dir).contains(0))
    assert(SnapshotStore.latestManifest(dir).contains(m0))
    assert(ints(SnapshotStore.latestManifest(dir).get, "t") == Seq(1))
  }

  test("Json.str escapes every string so a JSON reader gets it back") {
    val reader = new com.fasterxml.jackson.databind.ObjectMapper
    for (s <- Seq("plain", "q\"b\\s/ n\n r\r t\t c\u0001 \u001f", "\u00e9\u4e2d,}:;"))
      assert(reader.readValue(Json.str(s), classOf[String]) == s)
    assert(Json.str("a\tb\"c") == "\"a\\tb\\\"c\"")
    assert(Json.str(null) == "null")
  }
}
