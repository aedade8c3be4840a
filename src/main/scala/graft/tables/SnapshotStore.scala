package graft.tables

import java.nio.file.{Files, Paths, StandardCopyOption}
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Iceberg-style snapshot layer (SURVEY.md §7.3) — no Iceberg runtime jar on
  * the offline classpath, so we emulate the commit protocol: each table is a
  * directory of immutable parquet data dirs plus `snapshots/v{N}.json`
  * manifests committed by atomic rename. Readers resolve the latest manifest;
  * a crash between data write and manifest rename leaves the previous
  * snapshot intact (snapshot isolation, crash-resume — north rule C8).
  *
  * The API is a seam: `iceberg-spark-runtime` drops in behind
  * read/commit/latestVersion when available.
  */
object SnapshotStore {

  final case class Manifest(version: Int, dataDirs: Map[String, String],
      counters: Map[String, Long])

  private def snapshotsDir(tableDir: String) = Paths.get(tableDir, "snapshots")

  def latestVersion(tableDir: String): Option[Int] = {
    val dir = snapshotsDir(tableDir)
    if (!Files.isDirectory(dir)) return None
    val versions = Files.list(dir).iterator()
    var best = -1
    versions.forEachRemaining { p =>
      val name = p.getFileName.toString
      if (name.startsWith("v") && name.endsWith(".json")) {
        try { best = math.max(best, name.stripPrefix("v").stripSuffix(".json").toInt) }
        catch { case _: NumberFormatException => }
      }
    }
    if (best < 0) None else Some(best)
  }

  def writeManifest(tableDir: String, m: Manifest): Unit = {
    import graft.util.Json.str
    val dir = snapshotsDir(tableDir)
    Files.createDirectories(dir)
    val data = m.dataDirs.map { case (k, v) => s"${str(k)}:${str(v)}" }.mkString(",")
    val ctrs = m.counters.map { case (k, v) => s"${str(k)}:$v" }.mkString(",")
    val json = s"""{"version":${m.version},"dataDirs":{$data},"counters":{$ctrs}}"""
    val tmp = dir.resolve(s".v${m.version}.json.tmp")
    Files.writeString(tmp, json)
    // atomic commit: rename tmp -> vN.json
    Files.move(tmp, dir.resolve(s"v${m.version}.json"),
      StandardCopyOption.ATOMIC_MOVE)
  }

  private val mapper = new ObjectMapper

  /** The exact inverse of [[writeManifest]], by a real JSON parser. */
  def readManifest(tableDir: String, version: Int): Manifest = {
    import scala.jdk.CollectionConverters._
    val doc = mapper.readTree(snapshotsDir(tableDir).resolve(s"v$version.json").toFile)
    def section[T](name: String)(value: JsonNode => T): Map[String, T] =
      Option(doc.get(name)).toSeq.flatMap(_.properties().asScala)
        .map(e => e.getKey -> value(e.getValue)).toMap
    Manifest(doc.get("version").asInt, section("dataDirs")(_.textValue),
      section("counters")(_.longValue))
  }

  def latestManifest(tableDir: String): Option[Manifest] =
    latestVersion(tableDir).map(readManifest(tableDir, _))

  /** Commit snapshot `version` relative to `prev`, Iceberg-style: the
    * commit names only what it writes, and every other table of `prev` is
    * carried into the new manifest with its dirs unchanged.
    *
    *   - `tables` are full rewrites: the table's dirs become its new dir.
    *   - `deltas` are append-only tables: only the new rows are written, and
    *     the new dir is appended to `prev`'s dirs (';'-joined), so a snapshot
    *     never rewrites the accumulated history — at 10^10-url scale the
    *     seen set and lineage MUST be append-only.
    *   - `preWritten` names deltas the caller already wrote at
    *     [[deltaDirFor]] (e.g. the crawl's seen delta, which holds the
    *     round's frontier add rows and whose write job doubles as the
    *     round's count barrier): recorded like a delta, with no second
    *     write.
    *
    * A table's new dir is `data/v{N}/{name}` under `tableDir`. The per-table
    * writes are independent jobs, launched concurrently so the Spark
    * scheduler overlaps them (matters for per-round wall time).
    */
  def commit(tableDir: String, version: Int, tables: Map[String, DataFrame],
      counters: Map[String, Long],
      prev: Option[Manifest] = None,
      deltas: Map[String, DataFrame] = Map.empty,
      preWritten: Set[String] = Set.empty): Manifest = {
    import scala.concurrent.Await
    import scala.concurrent.duration.Duration
    val (m, done) = commitAsync(tableDir, version, tables, counters, prev,
      deltas, preWritten)
    Await.result(done, Duration.Inf)
    m
  }

  /** Async variant of [[commit]]: the returned Manifest is computed
    * IMMEDIATELY (every data dir path is deterministic before any write), so
    * the caller can carry on planning the next round against it, while the
    * parquet writes and the final atomic manifest rename complete on the
    * returned Future. Crash semantics are unchanged — the manifest file only
    * appears after every write it references has finished, so a failed or
    * interrupted write leaves the previous version as the latest. The caller
    * MUST await the Future before (a) issuing the next version's commit
    * (manifest ordering), (b) reading any table file this commit writes, or
    * (c) returning to user code.
    */
  def commitAsync(tableDir: String, version: Int, tables: Map[String, DataFrame],
      counters: Map[String, Long],
      prev: Option[Manifest] = None,
      deltas: Map[String, DataFrame] = Map.empty,
      preWritten: Set[String] = Set.empty)
      : (Manifest, scala.concurrent.Future[Unit]) = {
    import scala.concurrent.Future
    import scala.concurrent.ExecutionContext.Implicits.global
    def dirFor(name: String): String = {
      val dir = deltaDirFor(tableDir, version, name)
      require(!dir.contains(';'), s"data dir $dir contains ';', the dir-list separator")
      dir
    }
    val carried = prev.map(_.dataDirs).getOrElse(Map.empty)
    def appended(name: String): String =
      (carried.get(name).toSeq :+ dirFor(name)).mkString(";")
    val dataDirs = carried ++
      tables.keys.map(name => name -> dirFor(name)) ++
      (deltas.keys ++ preWritten).map(name => name -> appended(name))
    val m = Manifest(version, dataDirs, counters)
    // each write's jobs are labelled with the table they commit (the job
    // description), also clearing any label the pool thread inherited
    val writes = (tables.toSeq ++ deltas.toSeq).map { case (name, df) =>
      Future {
        val sc = df.sparkSession.sparkContext
        sc.setJobDescription(s"commit $name")
        try df.write.mode("overwrite").parquet(dirFor(name))
        finally sc.setJobDescription(null)
      }
    }
    val done = Future.sequence(writes).map { _ => writeManifest(tableDir, m) }
    (m, done)
  }

  def dirsOf(m: Manifest, name: String): Seq[String] =
    m.dataDirs(name).split(";").toSeq

  /** The dir `commit(version)` writes `name` to — for callers that
    * pre-write a delta (see `preWritten`).
    */
  def deltaDirFor(tableDir: String, version: Int, name: String): String =
    Paths.get(tableDir, "data", s"v$version", name).toString

  def read(spark: SparkSession, m: Manifest, name: String): DataFrame =
    spark.read.parquet(dirsOf(m, name): _*)

  /** Read with a CALLER-PINNED schema: skips the driver-side footer read
    * that schema inference costs on every open — the engine re-opens its
    * state tables every round, so these add up at high round rates.
    */
  def read(spark: SparkSession, m: Manifest, name: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema).parquet(dirsOf(m, name): _*)
}
