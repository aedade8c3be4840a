package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.detect.Detector
import graft.tables.SyntheticWeb
import graft.frontier.{CrawlConfig, CrawlEngine}

/** The operator inventory surface (SURVEY.md §2): every implemented operator
  * exposed as a `(SparkSession, sfDir) => DataFrame` query, with a DuckDB
  * oracle where the semantics are ANSI-SQL-expressible. Crawl/detect
  * operators run on the deterministic synthetic web (no external data) and
  * get rows-only checks.
  *
  * All float aggregates are rounded identically on both sides; every
  * aggregate/computed column is aliased identically in the Spark plan and in
  * the oracle SQL (driver hash-compares by sorted column name).
  */
object Queries {

  private def t(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** Exact row count of a parquet table from the file FOOTERS, on the driver
    * — table metadata the way an Iceberg manifest would carry it, so sizing
    * decisions (e2's nBits) cost zero Spark jobs (round-3 verdict #5).
    * Cached per path: repeat calls are free.
    */
  private val footerCounts = new scala.collection.concurrent.TrieMap[String, Long]
  private def parquetRowCount(spark: SparkSession, path: String): Long =
    footerCounts.getOrElseUpdate(path, {
      val conf = spark.sessionState.newHadoopConf()
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(conf)
      val it = fs.listFiles(p, true)
      var total = 0L
      while (it.hasNext) {
        val f = it.next()
        if (f.isFile && f.getPath.getName.endsWith(".parquet")) {
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f, conf))
          try total += r.getRecordCount finally r.close()
        }
      }
      total
    })

  // ---------------------------------------------------------------- relational

  /** A-1: hash aggregate with partial (map-side) combine. */
  private def q1Agg(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 4).as("sum_qty"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4).as("revenue"),
        count(lit(1)).as("n_rows"))

  /** W1: TakeOrderedAndProject top-k — no full sort at scale. */
  private def q2Topk(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders")
      .select(col("o_orderkey"), col("o_totalprice"))
      .orderBy(desc("o_totalprice"), asc("o_orderkey"))
      .limit(10)

  /** W5: the politeness-window shape — per-key row_number <= budget. */
  private def q3WindowRank(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(desc("o_totalprice"), asc("o_orderkey"))
    t(s, d, "orders")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("o_custkey"), col("o_orderkey"), col("rn"))
  }

  /** J5: the seen-set shape — left anti join. */
  private def q4AntiJoin(s: SparkSession, d: String): DataFrame =
    t(s, d, "customer")
      .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"))

  /** J6: broadcast hash join of a small dim (robots-table shape). */
  private def q5BroadcastJoin(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders")
      .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(round(sum(col("o_totalprice")), 2).as("revenue"),
        count(lit(1)).as("n_orders"))

  /** A-2: Shannon entropy of a per-group value histogram (two-level agg). */
  private def q6Entropy(s: SparkSession, d: String): DataFrame = {
    val counts = t(s, d, "orders")
      .groupBy(col("o_orderpriority"), col("o_orderstatus"))
      .agg(count(lit(1)).as("c"))
    val tot = counts.groupBy(col("o_orderpriority"))
      .agg(sum(col("c")).as("tc"))
    counts.join(tot, "o_orderpriority")
      .withColumn("p", col("c").cast("double") / col("tc"))
      .groupBy(col("o_orderpriority"))
      .agg(round(-sum(col("p") * log(col("p"))), 6).as("entropy"))
  }

  /** P7/A-3: group-filter HAVING count >= 5. */
  private def q7Having(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_items"),
        round(sum(col("l_quantity")), 4).as("sum_qty"))
      .filter(col("n_items") >= 5)

  /** A-8: deterministic argmax (max value, then min key among maxes). */
  private def q8Argmax(s: SparkSession, d: String): DataFrame = {
    val c = t(s, d, "customer")
    val m = c.groupBy(col("c_nationkey").as("nk"))
      .agg(max(col("c_acctbal")).as("max_bal"))
    c.join(m, c("c_nationkey") === m("nk") && c("c_acctbal") === m("max_bal"))
      .groupBy(col("c_nationkey"), col("max_bal"))
      .agg(min(col("c_custkey")).as("best_custkey"))
  }

  /** W4: request-list paging — newest first, offset + limit. */
  private def q9Paging(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders")
      .select(col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
      .orderBy(desc("o_orderdate"), desc("o_orderkey"))
      .offset(10)
      .limit(20)

  /** §2.6 set ops: union distinct. */
  private def q10SetUnion(s: SparkSession, d: String): DataFrame =
    t(s, d, "customer").select(col("c_nationkey").as("nationkey"))
      .union(t(s, d, "supplier").select(col("s_nationkey").as("nationkey")))
      .distinct()

  /** W3-analog: running sum window. */
  private def q11WindowRunning(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, d, "lineitem")
      .filter(col("l_suppkey") < 50)
      .withColumn("running_qty", round(sum(col("l_quantity")).over(w), 4))
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"), col("running_qty"))
  }

  /** F2: url host/path parsing (frontier canonicalization building block). */
  private def q12UrlParse(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .withColumn("url", concat(lit("https://"), col("source"), lit(".example/docs/"),
        col("doc_id"), lit("?ref=graft")))
      .select(col("doc_id"),
        parse_url(col("url"), lit("HOST")).as("host"),
        parse_url(col("url"), lit("PATH")).as("path"))

  /** P2/P12-style pushdown filters: isin + range predicate + narrow
    * projection — must reach the parquet scan (PushedFilters/ReadSchema).
    */
  private def q13FilterPushdown(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem")
      .filter(col("l_returnflag").isin("A", "N") &&
        col("l_quantity") >= 45.0)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
        col("l_quantity"))

  /** F6/F16: base64 + JSON serialization of result rows. */
  private def q14Serialize(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .select(col("doc_id"),
        // Spark's base64 chunks with MIME CRLFs; normalize to the plain form
        regexp_replace(base64(encode(col("text"), "UTF-8")), "\r\n", "").as("b64"),
        to_json(struct(col("doc_id"), col("lang"))).as("js"))

  /** §2.10: windowed event aggregation (hourly tumbling — the batch shape of
    * the streaming agg; the streaming variant lives in graft.streaming).
    */
  private def s1WindowedAgg(s: SparkSession, d: String): DataFrame =
    t(s, d, "events")
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))

  /** first-event-per-key dedup (deterministic dropDuplicates). */
  private def s2EventFirst(s: SparkSession, d: String): DataFrame =
    t(s, d, "events")
      .groupBy(col("user_id"), col("event_type"))
      .agg(min(col("ts")).as("first_ts"), count(lit(1)).as("n_events"))

  // ----------------------------------------------------- training-data ops

  private def tokensCol(c: Column): Column = split(trim(lower(c)), "\\s+")

  /** exact dedup: content-hash groups, keep min doc_id (hash-groupBy — the
    * 100TB shape: one shuffle on the content hash).
    */
  private def d1DedupExact(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .groupBy(md5(col("text")).as("text_md5"))
      .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("n_copies"))

  private def d2TokenCount(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .select(col("doc_id"), size(split(trim(col("text")), "\\s+")).as("n_tokens"),
        length(col("text")).as("n_chars"))

  /** language-ID heuristic: script detection + ascii ratio. */
  private def d3LangId(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .select(col("doc_id"),
        when(col("text").rlike("[\\x{4e00}-\\x{9fff}]"), lit("zh"))
          .when(col("text").rlike("[\\x{0400}-\\x{04ff}]"), lit("ru"))
          .otherwise(lit("en")).as("pred_lang"))

  /** quality scoring: length/punct/stopword signals. */
  private def d4Quality(s: SparkSession, d: String): DataFrame = {
    val toks = size(split(trim(col("text")), "\\s+"))
    val stop = size(split(trim(col("text")), "\\b(the|a|of|and|to|in)\\b")) - 1
    t(s, d, "documents")
      .select(col("doc_id"),
        length(col("text")).as("n_chars"),
        toks.as("n_tokens"),
        round(length(col("text")).cast("double") / toks, 4).as("avg_tok_len"),
        stop.cast("long").as("n_stop"),
        round(least(lit(1.0), toks.cast("double") / 100.0)
          + least(lit(1.0), stop.cast("double") / 10.0), 4).as("quality"))
  }

  /** 3-gram word shingles over a token-array column. */
  private def shinglesOf(ts: Column): Column =
    transform(
      slice(ts, lit(1), greatest(size(ts) - 2, lit(0))),
      (x, i) => concat_ws(" ", x, element_at(ts, i + 2), element_at(ts, i + 3)))

  /** 3-gram word shingles (the dedup unit for minhash/jaccard). */
  private def shinglesCol(c: Column): Column = shinglesOf(tokensCol(c))

  /** Distinct (doc_id, shingle) relation — the shared input of the minhash /
    * jaccard family.
    *
    * The token array is BOUND in its own projection before the shingle
    * transform runs: `shinglesOf`'s lambda reads the array via
    * `element_at(ts, i+2)`, and when `ts` is the raw `split(...)` EXPRESSION
    * rather than a materialized column, codegen re-runs the regex split of
    * the whole document for every element access — a hidden per-doc
    * quadratic measured at ~9x the entire minhash agg (the shingle explode
    * alone: 8.3 s unbound vs 0.65 s bound on sf0.1).
    */
  private def shinglesRel(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .select(col("doc_id"), tokensCol(col("text")).as("ts"))
      .select(col("doc_id"), explode(array_distinct(shinglesOf(col("ts")))).as("sh"))

  /** Same relation WITH per-doc duplicates — enough for the minhash path:
    * min() over duplicate shingles equals min() over distinct ones, so the
    * signature agg skips the per-doc `array_distinct` scan.
    */
  private def shinglesRelRaw(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .select(col("doc_id"), tokensCol(col("text")).as("ts"))
      .select(col("doc_id"), explode(shinglesOf(col("ts"))).as("sh"))

  /** Per-band string-min minhash over a (doc_id, sh) relation. */
  private def sigOfSh(sh: DataFrame): DataFrame =
    sh.groupBy(col("doc_id"))
      .agg(
        min(md5(concat(lit("0:"), col("sh")))).as("sig0"),
        min(md5(concat(lit("1:"), col("sh")))).as("sig1"),
        min(md5(concat(lit("2:"), col("sh")))).as("sig2"),
        min(md5(concat(lit("3:"), col("sh")))).as("sig3"))

  private def bandsOfSig(sig: DataFrame): DataFrame =
    sig.select(col("doc_id"), explode(array(
      concat(lit("b0:"), col("sig0")), concat(lit("b1:"), col("sig1")),
      concat(lit("b2:"), col("sig2")), concat(lit("b3:"), col("sig3")))).as("band"))

  /** Band-bucket candidate pairs from a bands relation: equi-join on the
    * band key, never all-pairs. The caller checkpoints the signature table —
    * the self-join's two legs must read a MATERIALIZED table, or each leg
    * re-runs the whole shingle scan + minhash agg.
    */
  private def pairsOfBands(bands: DataFrame): DataFrame =
    bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()

  /** MinHash signatures over shingles: per seed b, min over md5(b||':'||sh) —
    * string-min minhash, identical in any engine with md5. 4 bands, r=1.
    */
  private def d5MinhashSig(s: SparkSession, d: String): DataFrame =
    sigOfSh(shinglesRelRaw(s, d))

  /** MinHash-LSH candidate pairs: docs sharing any band signature. The
    * band-bucket join is the 100TB dedup path: shuffle on (band, sig), no
    * all-pairs comparison. The signature table is checkpointed (d10's
    * pipeline shape applied standalone): one row per doc, self-joined.
    */
  private def d6LshPairs(s: SparkSession, d: String): DataFrame =
    pairsOfBands(bandsOfSig(d5MinhashSig(s, d).localCheckpoint()))

  /** SimHash (60-bit, from md5 of tokens): bit-majority fingerprint.
    * ONE hash-agg pass with 60 conditional sums — a per-bit explode would
    * amplify the token table 60× through the shuffle; here only the 60
    * partial sums per (partition, doc) cross it (map-side combine).
    */
  private def d7Simhash(s: SparkSession, d: String): DataFrame = {
    val toks = t(s, d, "documents")
      .select(col("doc_id"), explode(tokensCol(col("text"))).as("tok"))
      .withColumn("v", conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long"))
    val bitSums = (0 until 60).map(b =>
      sum(when(expr(s"shiftright(v, $b) & 1") === 1, 1).otherwise(-1)).as(s"s$b"))
    val agg = toks.groupBy(col("doc_id")).agg(bitSums.head, bitSums.tail: _*)
    val sim = (0 until 60).map(b =>
      when(col(s"s$b") > 0, lit(1L << b)).otherwise(lit(0L))).reduce(_ + _)
    agg.select(col("doc_id"), sim.as("simhash"))
  }

  /** n-gram Jaccard near-dup verification over the d6 LSH candidate pairs —
    * the verify stage blocks on the MinHash band, never on a data-skewed
    * column: candidate volume is bounded by the LSH collision rate, and the
    * intersection count is a key-join on (doc, shingle), so no block ever
    * goes O(block²).
    */
  private def d8NgramJaccard(s: SparkSession, d: String): DataFrame = {
    // ONE materialized shingle table feeds the signature agg, the per-doc
    // counts and BOTH intersection legs (the un-checkpointed shape re-ran
    // the documents scan + shingle explode four times)
    val sh = shinglesRel(s, d).localCheckpoint()
    val cnt = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val pairs = pairsOfBands(bandsOfSig(sigOfSh(sh).localCheckpoint()))
    val inter = pairs
      .join(sh.toDF("doc_a", "sh"), "doc_a")
      .join(sh.toDF("doc_b", "sh"), Seq("doc_b", "sh"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("i"))
    inter
      .join(cnt.toDF("doc_a", "na"), "doc_a")
      .join(cnt.toDF("doc_b", "nb"), "doc_b")
      .withColumn("jaccard", round(col("i").cast("double") /
        (col("na") + col("nb") - col("i")), 6))
      .filter(col("jaccard") >= 0.8)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** embedding-cosine near-dup dedup: hashed bag-of-words document vectors
    * (64 dims, md5-hashed tokens), candidate pairs from the d6 MinHash-LSH
    * bands, cosine verified relationally (Σ wa·wb on the dim key — no list
    * types cross the shuffle, no all-pairs). The 100TB shape: band-blocked
    * candidates + key-joined sparse dot products.
    */
  private def d9EmbeddingDedup(s: SparkSession, d: String): DataFrame = {
    // one scan of documents -> checkpointed token arrays; the exploded
    // tokens (vectors) and the shingles (LSH blocking) both derive from it,
    // and the dim-weight table is checkpointed because it feeds the norms
    // AND both dot-product legs
    val ta = t(s, d, "documents")
      .select(col("doc_id"), tokensCol(col("text")).as("ts"))
      .localCheckpoint()
    val toks = ta.select(col("doc_id"), explode(col("ts")).as("tok"))
      .withColumn("dim",
        pmod(conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long"), lit(64)))
    val dims = toks.groupBy(col("doc_id"), col("dim")).agg(count(lit(1)).as("w"))
      .localCheckpoint()
    val nrm = dims.groupBy(col("doc_id"))
      .agg(sqrt(sum(col("w") * col("w"))).as("nrm"))
    val sh = ta.select(col("doc_id"),
      explode(array_distinct(shinglesOf(col("ts")))).as("sh"))
    val pairs = pairsOfBands(bandsOfSig(sigOfSh(sh).localCheckpoint()))
    val dots = pairs
      .join(dims.toDF("doc_a", "dim", "wa"), "doc_a")
      .join(dims.toDF("doc_b", "dim", "wb"), Seq("doc_b", "dim"))
      .groupBy(col("doc_a"), col("doc_b")).agg(sum(col("wa") * col("wb")).as("dot"))
    dots
      .join(nrm.toDF("doc_a", "na"), "doc_a")
      .join(nrm.toDF("doc_b", "nb"), "doc_b")
      .withColumn("cos", round(col("dot") / (col("na") * col("nb")), 6))
      .filter(col("cos") >= 0.9)
      .select(col("doc_a"), col("doc_b"), col("cos"))
  }

  /** End-to-end dedup pipeline with SHARED MATERIALIZED intermediates: one
    * scan of documents produces the token arrays; shingles, MinHash
    * signatures, LSH candidate pairs, n-gram-Jaccard verify, and
    * embedding-cosine verify all derive from checkpointed tables instead of
    * recomputing the d5 subplan inline (standalone d8/d9 plans scan
    * documents 6-8x; at 100 TB a pipeline materializes the signature table
    * once — VERDICT r2 next #6). Emits the confirmed duplicate pairs with
    * both verification scores.
    */
  private def d10DedupPipeline(s: SparkSession, d: String): DataFrame = {
    // one scan of documents -> token arrays (localCheckpoint truncates the
    // lineage: every downstream stage reads the materialized table)
    val toks = t(s, d, "documents")
      .select(col("doc_id"), tokensCol(col("text")).as("ts"))
      .localCheckpoint()
    val sh = toks
      .select(col("doc_id"), explode(array_distinct(shinglesOf(col("ts")))).as("sh"))
      .localCheckpoint() // feeds signatures, counts, AND both intersection sides
    val pairs = pairsOfBands(bandsOfSig(sigOfSh(sh).localCheckpoint()))
      .localCheckpoint() // candidate set feeds both verify stages
    // verify 1: n-gram Jaccard (key-join on (doc, shingle))
    val cnt = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val inter = pairs
      .join(sh.toDF("doc_a", "sh"), "doc_a")
      .join(sh.toDF("doc_b", "sh"), Seq("doc_b", "sh"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("i"))
    val jac = pairs
      .join(inter, Seq("doc_a", "doc_b"), "left")
      .join(cnt.toDF("doc_a", "na"), "doc_a")
      .join(cnt.toDF("doc_b", "nb"), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        round(coalesce(col("i"), lit(0L)).cast("double") /
          (col("na") + col("nb") - coalesce(col("i"), lit(0L))), 6).as("jaccard"))
    // verify 2: hashed-BoW embedding cosine (relational sparse dot product)
    val dims = toks.select(col("doc_id"), explode(col("ts")).as("tok"))
      .withColumn("dim",
        pmod(conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long"), lit(64)))
      .groupBy(col("doc_id"), col("dim")).agg(count(lit(1)).as("w"))
      .localCheckpoint() // feeds both dot-product sides and the norms
    val nrm = dims.groupBy(col("doc_id")).agg(sqrt(sum(col("w") * col("w"))).as("nrm"))
    val dots = pairs
      .join(dims.toDF("doc_a", "dim", "wa"), "doc_a")
      .join(dims.toDF("doc_b", "dim", "wb"), Seq("doc_b", "dim"))
      .groupBy(col("doc_a"), col("doc_b")).agg(sum(col("wa") * col("wb")).as("dot"))
    val cosd = pairs
      .join(dots, Seq("doc_a", "doc_b"), "left")
      .join(nrm.toDF("doc_a", "nna"), "doc_a")
      .join(nrm.toDF("doc_b", "nnb"), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        round(coalesce(col("dot"), lit(0L)) / (col("nna") * col("nnb")), 6).as("cos"))
    jac.join(cosd, Seq("doc_a", "doc_b"))
      .filter(col("jaccard") >= 0.8 || col("cos") >= 0.9)
      .select(col("doc_a"), col("doc_b"), col("jaccard"), col("cos"))
  }

  /** One alternating large-star/small-star round over a canonical undirected
    * edge set (cols u < v). Both steps are a groupBy-min on the node key +
    * one join — no vertex state on the driver, no all-pairs.
    */
  private[graft] def starRound(e: DataFrame): DataFrame = {
    // large-star: for each node x, attach every LARGER neighbor to
    // m = min({x} ∪ N(x)); neighborhoods come from both edge orientations
    val nb = e.union(e.select(col("v").as("u"), col("u").as("v")))
    val lmin = nb.groupBy(col("u")).agg(min(col("v")).as("m"))
      .select(col("u"), least(col("u"), col("m")).as("m"))
    val ls = nb.join(lmin, "u")
      .where(col("v") > col("u") && col("v") =!= col("m"))
      .select(least(col("v"), col("m")).as("u"), greatest(col("v"), col("m")).as("v"))
      .distinct()
    // small-star: orient each edge large→small, attach every SMALLER
    // neighbor AND x itself to the min neighbor
    val or = ls.select(col("v").as("u"), col("u").as("v")) // u > v after ls canon
    val smin = or.groupBy(col("u")).agg(min(col("v")).as("m"))
    or.join(smin, "u")
      .select(col("v").as("n"), col("m"))
      .union(smin.select(col("u").as("n"), col("m")))
      .where(col("n") =!= col("m"))
      .select(least(col("n"), col("m")).as("u"), greatest(col("n"), col("m")).as("v"))
      .distinct()
  }

  /** Connected components over the d6 MinHash-LSH duplicate pairs — the
    * final stage of at-scale corpus dedup: near-dup PAIRS become CLUSTERS
    * and one canonical document survives per cluster. Alternating
    * large-star/small-star label propagation (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14): each round is two
    * groupBy-min + join passes over the (shrinking) edge set, O(log² n)
    * rounds, nothing vertex-shaped ever reaches the driver, and every
    * round's edge set is localCheckpoint()ed so the iterative plan's lineage
    * stays flat (an un-truncated loop doubles the plan per round). At 100 TB
    * the edge table is hash-partitioned on the node key and each round is
    * one bounded shuffle; convergence is an empty symmetric difference.
    *
    * Output: one row per document — its component id (the min doc_id of its
    * near-dup cluster; singletons map to themselves), the cluster size, and
    * whether this doc is the canonical keeper.
    */
  private def d11DedupComponents(s: SparkSession, d: String): DataFrame = {
    // Candidate edges: each doc -> its band-bucket MINIMUM, not the d6
    // all-pairs band join. A bucket's star has exactly the clique's
    // connectivity, so the components are identical to pairs-derived ones
    // (the DuckDB oracle still closes over the full d6 pair set), but the
    // edge volume is O(N·bands) instead of O(Σ bucket²) — the difference
    // between a bounded shuffle and a skew-quadratic one at 100 TB.
    val bands = bandsOfSig(d5MinhashSig(s, d).localCheckpoint())
    val bmin = bands.groupBy(col("band")).agg(min(col("doc_id")).as("m"))
    var e = bands.join(bmin, "band")
      .where(col("doc_id") =!= col("m"))
      .select(col("m").as("u"), col("doc_id").as("v")) // bucket min ⇒ u < v
      .distinct()
      .localCheckpoint()
    var n = e.count()
    var converged = n == 0
    var iter = 0
    while (!converged) {
      iter += 1
      require(iter <= 64, s"components failed to converge after $iter cycles")
      // TWO star rounds per convergence check: the alternation's strictly-
      // decreasing potential (Kiveris et al. §3) rules out cycles, so an
      // unchanged double-round ⇒ an unchanged single round ⇒ fixpoint — the
      // count+except barriers are paid half as often. The midpoint is
      // checkpointed too: starRound references its input in FOUR places
      // (the union's two legs and the derived min-join), so an
      // un-materialized inner round would re-execute multiplicatively
      val next = starRound(starRound(e).localCheckpoint()).localCheckpoint()
      // both sides are canonical distinct edge sets, so equal size + empty
      // one-way difference ⇔ equal sets (one count + one except job/cycle)
      val nn = next.count()
      converged = nn == n && next.except(e).isEmpty
      e = next
      n = nn
    }
    // at the large-star/small-star fixpoint the edge set is a union of
    // stars: every remaining edge is (root, member) with root = component min
    val comp = e.select(col("v").as("doc_id"), col("u").as("component"))
    val assigned = t(s, d, "documents")
      .select(col("doc_id"))
      .join(comp, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("component"))
    // cluster sizes as a hash agg + join, NOT count().over(partitionBy):
    // a window partitioned on component funnels a giant boilerplate dup
    // cluster through one sort task, while the agg partial-combines
    // map-side and AQE splits the skewed join key
    val sizes = assigned.groupBy(col("component"))
      .agg(count(lit(1)).as("cluster_size"))
    assigned.join(sizes, "component")
      .select(col("doc_id"), col("component"), col("cluster_size"),
        (col("component") === col("doc_id")).cast("int").as("is_canonical"))
  }

  /** Exact-substring dedup signals (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better"): every 8-token rolling
    * span is hashed; spans occurring more than once in the corpus are
    * duplicates, and each doc reports how many of its token positions any
    * duplicated span covers (the paper's removal step would cut those
    * spans; 8 tokens here vs the paper's 50 so the synthetic corpus, whose
    * near-dup docs share long runs, exercises the path). The 100 TB shape:
    * the span relation is (doc, pos, hash64) — narrow rows, one shuffle on
    * the span hash for the occurrence count, one shuffle back on doc for
    * coverage; the position explode is bounded to FLAGGED spans only.
    */
  private def d13SpanDedup(s: SparkSession, d: String): DataFrame = {
    val span = 8
    val ta = t(s, d, "documents")
      .select(col("doc_id"), tokensCol(col("text")).as("ts"))
    // (doc_id, pos=k, h=md5 of tokens[k..k+7]); ts is bound before the
    // lambda (the d5 lesson) so each slice is O(span) on the bound array
    val spans = ta.select(col("doc_id"),
      posexplode(when(size(col("ts")) >= span,
        transform(sequence(lit(0), size(col("ts")) - span),
          k => md5(concat_ws(" ", slice(col("ts"), k + 1, lit(span))))))
        .otherwise(array())).as(Seq("pos", "h")))
    val dup = spans.groupBy(col("h")).agg(count(lit(1)).as("occ"))
      .filter(col("occ") >= 2)
    val covered = spans.join(dup, "h")
      .select(col("doc_id"), explode(sequence(col("pos"), col("pos") + span - 1)).as("tpos"))
      .distinct()
      .groupBy(col("doc_id")).agg(count(lit(1)).as("dup_span_tokens"))
    ta.select(col("doc_id"), size(col("ts")).cast("long").as("n_tokens"))
      .join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("dup_span_tokens"), lit(0L)).as("dup_span_tokens"),
        round(coalesce(col("dup_span_tokens"), lit(0L)) /
          col("n_tokens").cast("double"), 6).as("dup_span_frac"))
  }

  /** CCNet-style LM quality scoring (Wenzek et al. 2020 filter corpora with
    * a KenLM perplexity; same shape here with a corpus-trained char-trigram
    * model): p(c₃|c₁c₂) = count(trigram)/count(prefix-bigram) estimated
    * from ONE trigram relation, each doc scored by its mean log-probability.
    * The model table is bounded by charset³ regardless of corpus size, so
    * at 100 TB it is a BROADCAST join — the score pass is one narrow map +
    * hash agg over (doc, trigram) rows, no second shuffle.
    */
  private def d14CharLmScore(s: SparkSession, d: String): DataFrame = {
    val ta = t(s, d, "documents")
      .select(col("doc_id"), lower(trim(col("text"))).as("t"))
    // The trigram relation feeds the model build AND the scoring join; at
    // this scale materializing it once beats exploding twice (measured
    // 2.2 s vs 3.5 s at sf0.1). At 100 TB neither happens: CCNet's actual
    // shape trains the model on a separate/sampled reference corpus (one
    // small scan), then scores the full corpus in ONE streaming pass
    // against the broadcast model — the query's join shape is unchanged,
    // only the model input shrinks.
    val tri = ta.select(col("doc_id"), explode(when(length(col("t")) >= 3,
        expr("transform(sequence(1, length(t) - 2), k -> substring(t, k, 3))"))
        .otherwise(array())).as("g"))
      .localCheckpoint()
    val model = tri.groupBy(col("g")).agg(count(lit(1)).as("cg"))
      .withColumn("cb",
        sum(col("cg")).over(Window.partitionBy(substring(col("g"), 1, 2))))
    val scored = tri.join(broadcast(model), "g")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_trigrams"),
        round(avg(log(col("cg").cast("double") / col("cb"))), 6).as("lm_score"))
    scored
  }

  /** Gopher-style repetition signals (Rae et al. 2021, §A1.1 quality
    * heuristics): per-doc duplicate-token fraction and most-frequent-bigram
    * fraction — the repetition filter family every webtext pipeline applies
    * before training. One documents scan with the token array bound once
    * (the d5 lesson); the bigram histogram is a (doc_id, bigram) hash agg
    * with map-side combine, so nothing wider than one gram crosses the
    * shuffle and the per-doc reduction is two scalar aggregates.
    */
  private def d12Repetition(s: SparkSession, d: String): DataFrame = {
    val ta = t(s, d, "documents")
      .select(col("doc_id"), tokensCol(col("text")).as("ts"))
    val bi = ta.select(col("doc_id"),
      explode(transform(
        slice(col("ts"), lit(1), greatest(size(col("ts")) - 1, lit(0))),
        (x, i) => concat_ws(" ", x, element_at(col("ts"), i + 2)))).as("bg"))
    val bgStats = bi.groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_bigrams"), max(col("c")).as("top_n"))
    ta.select(col("doc_id"), size(col("ts")).cast("long").as("n_tokens"),
        size(array_distinct(col("ts"))).as("n_distinct"))
      .join(bgStats, Seq("doc_id"))
      .select(col("doc_id"), col("n_tokens"),
        round(lit(1.0) - col("n_distinct") / col("n_tokens").cast("double"), 6)
          .as("dup_token_frac"),
        col("n_bigrams"),
        round(col("top_n") / col("n_bigrams").cast("double"), 6)
          .as("top_bigram_frac"))
  }

  /** Benchmark-decontamination signals (Brown et al. 2020, Appendix C; the
    * n-gram-overlap check every frontier-model pipeline runs against its
    * held-out evaluation suites before training). The eval set is the
    * deterministic `doc_id % 41 == 0` slice of the corpus; its DISTINCT
    * span hashes form the contamination dictionary, and every TRAINING doc
    * (the complement) reports how many of its token positions fall inside a
    * span that also appears in the eval set. Span length is 4 tokens here
    * (production pipelines use 8–13; the synthetic corpus' random text has
    * no cross-slice overlap at 8, and the plan shape is span-length
    * independent). At 100 TB the dictionary is bounded by the BENCHMARK
    * suite, not the corpus — a few million spans — so it BROADCASTS into
    * the probe join: one narrow (doc, pos, hash) pass over the corpus,
    * zero corpus-sized shuffles.
    */
  private def d15Decontamination(s: SparkSession, d: String): DataFrame = {
    val span = 4
    val docs = t(s, d, "documents")
      .select(col("doc_id"), tokensCol(col("text")).as("ts"))
    val isEval = col("doc_id") % 41 === 0
    // (doc_id, pos, h): ts bound before the lambda (the d5 lesson)
    def spansOf(df: DataFrame): DataFrame = df.select(col("doc_id"),
      posexplode(when(size(col("ts")) >= span,
        transform(sequence(lit(0), size(col("ts")) - span),
          k => md5(concat_ws(" ", slice(col("ts"), k + 1, lit(span))))))
        .otherwise(array())).as(Seq("pos", "h")))
    val evalSpans = spansOf(docs.filter(isEval)).select(col("h")).distinct()
    val trainSpans = spansOf(docs.filter(!isEval))
    // coverage counts token POSITIONS, so overlapping contaminated spans
    // are not double-counted (the distinct on (doc, tpos))
    val covered = trainSpans.join(broadcast(evalSpans), "h")
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + span - 1)).as("tpos"))
      .distinct()
      .groupBy(col("doc_id")).agg(count(lit(1)).as("contam_tokens"))
    docs.filter(!isEval)
      .select(col("doc_id"), size(col("ts")).cast("long").as("n_tokens"))
      .join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("contam_tokens"), lit(0L)).as("contam_tokens"),
        round(coalesce(col("contam_tokens"), lit(0L)) /
          col("n_tokens").cast("double"), 6).as("contam_frac"),
        (coalesce(col("contam_tokens"), lit(0L)) > 0L).cast("int").as("flagged"))
  }

  /** BM25 retrieval over an inverted index (Robertson & Walker; k1=1.2,
    * b=0.75, the Lucene-default idf `ln(1 + (N−df+0.5)/(df+0.5))`) — the
    * retrieval primitive behind dedup-by-retrieval and RAG-style corpus
    * queries. The index build is ONE shuffle of (term, doc, tf) postings —
    * at 100 TB that is the term-partitioned postings layout, built once and
    * reused across query batches. The query set is tiny and BROADCASTS into
    * the postings join, pruning the scan to the query terms' posting lists;
    * corpus-level stats (N, avgdl) ride a 1-row broadcast cross join; the
    * per-query top-k is a row_number window that Spark executes as a
    * partial WindowGroupLimit before the single query-keyed exchange —
    * never a global sort.
    */
  private def t3Bm25(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val k1 = 1.2; val b = 0.75
    val docs = t(s, d, "documents")
      .select(col("doc_id"), tokensCol(col("text")).as("ts"))
    val toks = docs.select(col("doc_id"), size(col("ts")).as("dl"),
      explode(col("ts")).as("term"))
    val postings = toks.groupBy(col("term"), col("doc_id"), col("dl"))
      .agg(count(lit(1)).as("tf"))
    val stats = docs.agg(count(lit(1)).cast("double").as("n"),
      avg(size(col("ts"))).as("avgdl"))
    val qterms = Seq((0, "spark"), (0, "join"), (1, "hash"), (1, "table"),
      (1, "scan"), (2, "window"), (2, "agg"), (2, "order"))
      .toDF("query_id", "term")
    // prune postings to the DISTINCT query terms FIRST (broadcast
    // semi-shape): both the df aggregation and the scoring join then read
    // only the queried posting lists — an inner join above the full-index
    // groupBy would be a second corpus-wide agg that Catalyst cannot push
    // below the grouping
    val pruned = postings
      .join(broadcast(qterms.select(col("term")).distinct()), "term")
    val qpost = pruned.join(broadcast(qterms), "term")
    val dfreq = pruned.groupBy(col("term"))
      .agg(count(lit(1)).cast("double").as("df"))
    val scored = qpost.join(broadcast(dfreq), "term")
      .crossJoin(broadcast(stats))
      .select(col("query_id"), col("doc_id"),
        (log(lit(1.0) + (col("n") - col("df") + 0.5) / (col("df") + 0.5)) *
          (col("tf") * (k1 + 1)) /
          (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl"))))
          .as("contrib"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(round(sum(col("contrib")), 6).as("score"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(desc("score"), asc("doc_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select(col("query_id"), col("rank"), col("doc_id"), col("score"))
  }

  /** BPE-ish token counting: word pieces + standalone punctuation (the
    * pre-tokenizer shape every BPE/unigram tokenizer starts from).
    */
  private def t2BpeTokens(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .select(col("doc_id"),
        size(regexp_extract_all(col("text"), lit("\\w+|[^\\w\\s]"), lit(0)))
          .as("n_bpe_tokens"))

  /** multimodal frame sampling plumbing: per binary blob, 4 evenly-spaced
    * frame (offset, length) windows — batch-shaped partition iterator, the
    * real decoder drops in per batch (no codecs offline; the sampling
    * geometry and partition/batch shape are the real, tested parts).
    */
  private def m2FrameSample(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // each doc carries a bit-exact RIFF/WAVE blob (PCM16; varied rate /
    // channel count; half the corpus gets a LIST/INFO chunk so the decoder
    // must WALK chunks, not assume fixed offsets) — no audio corpus ships
    // offline, so only the sample CONTENT is synthetic, the container and
    // the decode are real (graft.functions.Wav; the m1/BMP pattern)
    val blobs = t(s, d, "documents")
      .select(col("doc_id"))
      .as[Long]
      .map { id =>
        (id, graft.functions.Wav.build(id,
          sampleRate = 8000 * (1 + (id % 3)).toInt,
          channels = 1 + (id % 2).toInt,
          nFrames = 64 + (id % 192).toInt,
          withInfo = id % 2 == 0))
      }
      .toDF("doc_id", "blob")
      .as[(Long, Array[Byte])]
    val slots = 4
    // batch-shaped decode over partitions: one decoder per batch, rows
    // stream through; 4 evenly-spaced frames sampled per blob, and the
    // emitted sample_value is READ from the decoded PCM data (the oracle
    // recomputes it closed-form from the corpus construction rule)
    blobs.mapPartitions { it =>
      it.flatMap { case (id, bytes) =>
        val m = graft.functions.Wav.decode(bytes)
        (0 until slots).iterator.map { f =>
          val frameIdx = m.nFrames.toLong * f / slots
          (id, f, frameIdx, m.sampleRate, m.channels, m.nFrames,
            m.nFrames.toLong * 1000 / m.sampleRate,
            graft.functions.Wav.sample(bytes, m, frameIdx.toInt, 0))
        }
      }
    }.toDF("doc_id", "frame_slot", "frame_idx", "sample_rate", "n_channels",
      "n_frames", "duration_ms", "sample_value")
  }

  /** PNG decode (m3 — image analog of m2's WAV path; reference media field:
    * image_url extraction, plain_list.py:240): each doc carries a bit-exact
    * truecolor PNG whose rows cycle through ALL FIVE scanline filters
    * (None/Sub/Up/Average/Paeth), decoded by the pure-JVM codec
    * ([[graft.functions.Png]] — chunk walk, zlib inflate, per-row
    * reconstruction). The emitted stats come from the DECODED pixel values
    * and the oracle recomputes them per-pixel from the corpus rule, so a
    * wrong predictor, filter offset, or inflate seam fails the hash gate.
    */
  private def m3PngDecode(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val blobs = t(s, d, "documents")
      .select(col("doc_id"))
      .as[Long]
      .map { id =>
        val w = 8 + (id % 5).toInt
        val h = 8 + (id % 7).toInt
        (id, graft.functions.Png.encode(w, h,
          graft.functions.Png.fixturePixels(id, w, h)))
      }
      .toDF("doc_id", "blob")
      .as[(Long, Array[Byte])]
    // batch-shaped decode over partitions (the m1/m2 seam: one decoder per
    // batch, rows stream through; a real corpus would read `blob` from a
    // binary column instead of building it)
    blobs.mapPartitions { it =>
      it.map { case (id, bytes) =>
        val m = graft.functions.Png.decode(bytes)
        var sum = 0L
        var i = 0
        while (i < m.pixels.length) { sum += m.pixels(i) & 0xff; i += 1 }
        (id, m.width, m.height, sum,
          (m.pixels(0) & 0xff).toLong,
          (m.pixels(m.pixels.length - 1) & 0xff).toLong)
      }
    }.toDF("doc_id", "width", "height", "px_sum", "px_first", "px_last")
  }

  /** GIF decode (m4 — completes the multimodal decode family with real LZW,
    * a genuinely different decompression algorithm from m3's zlib inflate;
    * reference media field: image_url extraction, plain_list.py:240): each
    * doc carries a bit-exact GIF89a (8-entry global palette; half the
    * corpus interlaced, so the decoder must reassemble the four-pass row
    * order). The emitted sums come from the DECODED palette indices, their
    * positions, and the palette lookup, and the oracle recomputes all
    * three per-pixel from the corpus rule — a wrong LZW width-bump point,
    * a mis-lagged table entry, a bad palette parse, or a scrambled
    * interlace pass fails the hash gate (pos_sum weights every index by
    * its display position, so ANY row permutation changes it).
    */
  private def m4GifDecode(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val blobs = t(s, d, "documents")
      .select(col("doc_id"))
      .as[Long]
      .map { id =>
        val w = 6 + (id % 6).toInt
        val h = 5 + (id % 9).toInt
        (id, graft.functions.Gif.encode(w, h,
          graft.functions.Gif.fixtureIndices(id, w, h),
          graft.functions.Gif.fixturePalette(id), interlaced = id % 2 == 0))
      }
      .toDF("doc_id", "blob")
      .as[(Long, Array[Byte])]
    // batch-shaped decode over partitions (the m1/m2/m3 seam)
    blobs.mapPartitions { it =>
      it.map { case (id, bytes) =>
        val m = graft.functions.Gif.decode(bytes)
        var idxSum = 0L; var posSum = 0L; var redSum = 0L
        var r = 0
        while (r < m.height) {
          var c = 0
          while (c < m.width) {
            val k = m.indices(r * m.width + c) & 0xff
            idxSum += k
            posSum += k.toLong * (r * 31 + c * 3 + 1)
            redSum += m.palette(k * 3) & 0xff
            c += 1
          }
          r += 1
        }
        (id, m.width, m.height, m.interlaced, idxSum, posSum, redSum)
      }
    }.toDF("doc_id", "width", "height", "interlaced", "idx_sum", "pos_sum",
      "red_sum")
  }

  /** Multimodal: baseline JPEG decode — each doc carries a bit-exact JFIF
    * blob ([[graft.functions.Jpeg]]; 3 components, 4:4:4) whose 8x8 blocks
    * are constant colours, so the DC-only coefficients survive quantization
    * exactly and the oracle recomputes the DECODED samples closed-form
    * per-pixel: y_sum is position-weighted (any block-placement or IDCT
    * error fails the hash gate) and r/g/b pin the YCbCr→RGB matrix. The
    * decode path itself is general baseline (canonical Huffman from DHT,
    * byte unstuffing, AC run/size, ZRL — JpegSpec round-trips those).
    */
  private def m5JpegDecode(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val blobs = t(s, d, "documents")
      .select(col("doc_id"))
      .as[Long]
      .map { id =>
        val w = 8 * (1 + (id % 3)).toInt
        val h = 8 * (1 + (id % 2)).toInt
        (id, graft.functions.Jpeg.encodeFlatBlocks(w, h, 3,
          (c, bx, by) => graft.functions.Jpeg.fixtureValue(id, c, bx, by)))
      }
      .toDF("doc_id", "blob")
      .as[(Long, Array[Byte])]
    blobs.mapPartitions { it =>
      it.map { case (id, bytes) =>
        val m = graft.functions.Jpeg.decode(bytes)
        var ySum = 0L; var rSum = 0L; var gSum = 0L; var bSum = 0L
        var r = 0
        while (r < m.height) {
          var c = 0
          while (c < m.width) {
            val i = r * m.width + c
            ySum += m.comps(0)(i).toLong * (r * 31 + c * 3 + 1)
            val p = m.rgb(i)
            rSum += (p >> 16) & 0xff; gSum += (p >> 8) & 0xff; bSum += p & 0xff
            c += 1
          }
          r += 1
        }
        (id, m.width, m.height, m.nComp, ySum, rSum, gSum, bSum)
      }
    }.toDF("doc_id", "width", "height", "n_comp", "y_sum", "r_sum", "g_sum",
      "b_sum")
  }

  /** Multimodal: image RESIZE over decoded pixels (completes the
    * decode / feature-extract / resize / frame-sample family): each doc's
    * PNG (the m3 corpus) is decoded and downsampled to a fixed 4x4
    * thumbnail by BOTH nearest-neighbor sampling (src = (dst*srcDim)/4,
    * floor) and box-average pooling (mean over the source pixels whose
    * cell index (r*4)/srcDim lands in the output cell). One narrow
    * mapPartitions pass, no shuffle — thumbnailing a 100-TB image corpus
    * is embarrassingly parallel. Emitted PER CELL (48 rows/doc), so every
    * resized value is oracle-checked with no cross-row float summation.
    */
  private def m6ImageResize(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val blobs = t(s, d, "documents")
      .select(col("doc_id"))
      .as[Long]
      .map { id =>
        val w = 8 + (id % 5).toInt
        val h = 8 + (id % 7).toInt
        (id, graft.functions.Png.encode(w, h,
          graft.functions.Png.fixturePixels(id, w, h)))
      }
      .toDF("doc_id", "blob")
      .as[(Long, Array[Byte])]
    blobs.mapPartitions { it =>
      it.flatMap { case (id, bytes) =>
        val m = graft.functions.Png.decode(bytes)
        val w = m.width; val h = m.height
        val sums = new Array[Long](4 * 4 * 3)
        val cnts = new Array[Int](4 * 4 * 3)
        var r = 0
        while (r < h) {
          val i = r * 4 / h
          var c = 0
          while (c < w) {
            val j = c * 4 / w
            var ch = 0
            while (ch < 3) {
              val k = (i * 4 + j) * 3 + ch
              sums(k) += m.pixels((r * w + c) * 3 + ch) & 0xff
              cnts(k) += 1
              ch += 1
            }
            c += 1
          }
          r += 1
        }
        for (i <- 0 until 4; j <- 0 until 4; ch <- 0 until 3) yield {
          val k = (i * 4 + j) * 3 + ch
          val nn = m.pixels(((i * h / 4) * w + (j * w / 4)) * 3 + ch) & 0xff
          val avg = BigDecimal(sums(k).toDouble / cnts(k))
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
          (id, w, h, i, j, ch, nn.toLong, avg)
        }
      }
    }.toDF("doc_id", "src_w", "src_h", "i", "j", "ch", "nn_value", "box_avg")
  }

  /** document fingerprint: md5 of whitespace-normalized lowercase text. */
  private def t1Fingerprint(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .select(col("doc_id"),
        md5(trim(regexp_replace(lower(col("text")), "\\s+", " "))).as("fingerprint"))

  /** brute-force cosine top-k ANN (the exact baseline; e2 is the scale
    * path). Query set = vec_id < 5; neighbors among the rest. Dot products
    * in double, sequential order — bit-identical across engines.
    */
  private def e1CosineKnn(s: SparkSession, d: String): DataFrame = {
    val emb = t(s, d, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val dot = (x: Column, y: Column) =>
      aggregate(zip_with(x, y, (a, b) => a * b), lit(0.0), (acc, z) => acc + z)
    val norm = (x: Column) =>
      sqrt(aggregate(x, lit(0.0), (acc, z) => acc + z * z))
    // norms are per-VECTOR, not per-pair: bind them as columns before the
    // cross join so each is computed once per row, not once per (query,
    // candidate) pair (5x the corpus for the candidate side)
    val q = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        norm(col("v")).as("qn"))
    val c = emb.filter(col("vec_id") >= 5)
      .withColumn("vn", norm(col("v")))
    // broadcast the SMALL side (the 5-row query set); the candidate corpus
    // streams through the scan — at 100TB the corpus must never be broadcast
    val scored = c.join(broadcast(q))
      .withColumn("cos", round(dot(col("qv"), col("v")) / (col("qn") * col("vn")), 6))
    val w = Window.partitionBy(col("query_id")).orderBy(desc("cos"), asc("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"), col("cos"))
  }

  /** Max LSH signature width; hyperplanes are generated for this many bits
    * and both engine and oracle mask down to [[e2NBits]].
    */
  val E2MaxBits = 28

  /** Sign-random-projection signature width, scaled to the corpus: target
    * ~16 vectors per bucket (floor 16 bits — the bucket count must never
    * shrink below 2^16 even at test scale, so the in-bucket self-join can
    * never go quadratic as the corpus grows; VERDICT r2 "What's wrong" #4).
    */
  def e2NBits(n: Long): Int =
    math.max(16, math.min(E2MaxBits,
      math.ceil(math.log(math.max(1L, n) / 16.0) / math.log(2)).toInt))

  /** murmur3 finalizer: FNV-1a alone has weak high-bit avalanche across a
    * shared prefix, which left the raw plane components clustered (one
    * plane's 64 values spanned only [-0.9, -0.26]) and collapsed the 2^16
    * signature space to ~32 live buckets.
    */
  private[graft] def mix64(h0: Long): Long = {
    var h = h0
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL
    h ^= h >>> 33; h *= 0xc4ceb9fe1a85ec53L
    h ^= h >>> 33
    h
  }

  /** Deterministic hyperplanes: component (b, i) ~ uniform [-1, 1) from a
    * mixed hash — no RNG state, identical in the DuckDB oracle (emitted as
    * double literals).
    */
  private[graft] def e2Planes: Array[Array[Double]] =
    Array.tabulate(E2MaxBits, 64) { (b, i) =>
      mix64(graft.urls.UrlOps.fnv1a64(s"plane:$b:$i")).toDouble / Long.MaxValue.toDouble
    }

  private[graft] def e2Bucket(v: Array[Double], planes: Array[Array[Double]],
      nBits: Int): Int = {
    var sig = 0
    var b = 0
    while (b < nBits) {
      val p = planes(b)
      var dotv = 0.0
      var i = 0
      while (i < p.length && i < v.length) { dotv += p(i) * v(i); i += 1 }
      if (dotv >= 0) sig |= (1 << b)
      b += 1
    }
    sig
  }

  /** LSH-bucketed ANN (sign-random-projection): the 100TB path — candidate
    * pairs meet only through bucket keys, never all-pairs. nBits scales with
    * the corpus (e2NBits) so expected bucket occupancy stays ~16 at any
    * size; recall at high nBits comes from Hamming-1 MULTI-PROBE: the query
    * side explodes its signature plus the nBits one-bit flips (a NARROW
    * (vec_id, probe) table — vectors are joined back by key, never
    * duplicated 17x), equi-joined against exact buckets = all pairs within
    * signature Hamming distance 1, then exact cosine re-rank, top-5.
    */
  private def e2KnnLsh(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = t(s, d, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .as[(Long, Array[Double])]
    // corpus size from parquet footers (driver-side metadata) — sizing nBits
    // must not cost a count job before the real pass
    val nBits = e2NBits(parquetRowCount(s, s"$d/embeddings.parquet"))
    val planesBc = s.sparkContext.broadcast(e2Planes)
    val bucketed = emb.map { case (id, v) =>
      (id, e2Bucket(v, planesBc.value, nBits), v)
    }.toDF("vec_id", "bucket", "v")
    // multi-probe: narrow (a_id, probe) rows — signature + one-bit flips
    val probes = bucketed.select(col("vec_id").as("a_id"), col("bucket"))
      .as[(Long, Int)]
      .flatMap { case (id, sig) =>
        Iterator.single((id, sig, sig)) ++
          Iterator.tabulate(nBits)(b => (id, sig, sig ^ (1 << b)))
      }.toDF("a_id", "a_bucket", "probe")
    val dot = (x: Column, y: Column) =>
      aggregate(zip_with(x, y, (p, q) => p * q), lit(0.0), (acc, z) => acc + z)
    val norm = (x: Column) => sqrt(aggregate(x, lit(0.0), (acc, z) => acc + z * z))
    // each Hamming<=1 pair matches exactly ONE probe row: no dedup needed
    val cand = probes
      .join(bucketed.toDF("b_id", "bucket", "bv"),
        col("probe") === col("bucket") && col("a_id") < col("b_id"))
      .select(col("a_id"), col("a_bucket"), col("b_id"), col("bv"))
    val pairs = cand
      .join(bucketed.select(col("vec_id").as("a_id"), col("v").as("av")), "a_id")
      .withColumn("cos", round(dot(col("av"), col("bv")) /
        (norm(col("av")) * norm(col("bv"))), 6))
      .select(col("a_id").as("vec_a"), col("b_id").as("vec_b"),
        col("a_bucket").as("bucket"), col("cos"))
    val w = Window.partitionBy(col("vec_a")).orderBy(desc("cos"), asc("vec_b"))
    pairs.withColumn("rank", row_number().over(w)).filter(col("rank") <= 5)
  }

  /** IVF cell count / probe width (e3). 16 cells at test scale; at corpus
    * scale cells would grow like sqrt(n) (the standard IVF sizing) — the
    * plan shape is what matters: probe lists bound the scanned fraction to
    * nProbe/nCells of the corpus.
    */
  val E3Cells = 16
  val E3Probe = 4

  /** Deterministic UNIT-NORM coarse-quantizer centroids: raw component
    * (j, i) ~ uniform [-1, 1) from the mixed hash (the e2Planes recipe),
    * L2-normalized once here — the oracle receives the SAME normalized
    * doubles as %.17e literals, so both engines assign against identical
    * centroids and dot(v, c) ranks cells by cosine with |v| dropping out.
    */
  private[graft] lazy val e3Centroids: Array[Array[Double]] =
    Array.tabulate(E3Cells) { j =>
      val raw = Array.tabulate(64) { i =>
        mix64(graft.urls.UrlOps.fnv1a64(s"ivf:$j:$i")).toDouble / Long.MaxValue.toDouble
      }
      val n = math.sqrt(raw.map(x => x * x).sum)
      raw.map(_ / n)
    }

  /** Rounded centroid dots (round HALF_UP at 6 dp — Spark's and DuckDB's
    * `round` semantics — so a last-ulp difference between the two engines'
    * summation orders collapses to the same value before the argmax).
    */
  private[graft] def e3CellDots(v: Array[Double],
      cents: Array[Array[Double]]): Array[Double] =
    cents.map { c =>
      var d = 0.0
      var i = 0
      while (i < c.length && i < v.length) { d += c(i) * v(i); i += 1 }
      val r = BigDecimal(d).setScale(6,
        scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble
      if (r == 0.0) 0.0 else r // Scala orders -0.0 < 0.0; SQL does not
    }

  /** Top-`k` cells by (dot desc, index asc) — k=1 is the assignment. */
  private[graft] def e3TopCells(dots: Array[Double], k: Int): Array[Int] =
    dots.indices.sortBy(j => (-dots(j), j)).take(k).toArray

  /** IVF-style ANN (e3 — the OTHER scale path next to e2's LSH; reference
    * analog: the same similarity surface as e1/e2): a 16-cell coarse
    * quantizer assigns every corpus vector to its nearest centroid in ONE
    * narrow pass; each query probes its E3Probe nearest cells, so the
    * candidate scan is bounded to nProbe/nCells of the corpus — at 100 TB
    * the cell id becomes a partition key and a probe reads only its cells'
    * partitions, never all-pairs, never a driver-side collect of vectors.
    * Candidates meet the (broadcast, 5×4-row) query probe table through an
    * equi-join on cell, then exact cosine re-rank, top-10 per query.
    */
  private def e3IvfKnn(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = t(s, d, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .as[(Long, Array[Double])]
    val centsBc = s.sparkContext.broadcast(e3Centroids)
    // one narrow pass: (vec_id, cell, v) — the corpus-side assignment
    val assigned = emb.map { case (id, v) =>
      (id, e3TopCells(e3CellDots(v, centsBc.value), 1)(0), v)
    }.toDF("vec_id", "cell", "v")
    val dot = (x: Column, y: Column) =>
      aggregate(zip_with(x, y, (p, q) => p * q), lit(0.0), (acc, z) => acc + z)
    val norm = (x: Column) => sqrt(aggregate(x, lit(0.0), (acc, z) => acc + z * z))
    // query probe table: 5 queries × E3Probe cells, norms bound ONCE per
    // query (the e1 lesson) — broadcast side
    val qprobes = emb.filter(_._1 < 5).flatMap { case (id, v) =>
      e3TopCells(e3CellDots(v, centsBc.value), E3Probe)
        .iterator.map(cell => (id, cell, v))
    }.toDF("query_id", "cell", "qv")
      .withColumn("qn", norm(col("qv")))
    // candidates stream through the probe join; each corpus vector lives in
    // exactly one cell, so a (query, neighbor) pair matches at most once
    val scored = assigned
      .filter(col("vec_id") >= 5)
      .withColumn("vn", norm(col("v")))
      .join(broadcast(qprobes), "cell")
      .withColumn("cos", round(dot(col("qv"), col("v")) / (col("qn") * col("vn")), 6))
    val w = Window.partitionBy(col("query_id")).orderBy(desc("cos"), asc("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        col("cell"), col("cos"))
  }

  /** Multimodal plumbing: opaque binary image column + typed metadata, with
    * a REAL decode step — each doc carries a bit-exact 24bpp BMP blob
    * (synthetic pixel content; no image corpus ships offline) and the decode
    * parses the BMP container itself ([[graft.functions.Bmp.decode]]), so
    * the batch-shaped mapPartitions path exercises a genuine
    * bytes→(width,height,bpp) codec, not a formula on doc_id. Other formats
    * (JPEG/PNG/video) would drop into the same per-batch seam; the oracle
    * recomputes the expected header fields from the corpus construction
    * rule.
    */
  private def m1MultimodalMeta(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val blobs = t(s, d, "documents")
      .select(col("doc_id"))
      .as[Long]
      .map { id =>
        (id, graft.functions.Bmp.build(((id % 64) + 1).toInt,
          (((id / 64) % 64) + 1).toInt, seed = id * 0x9e3779b97f4a7c15L))
      }
      .toDF("doc_id", "blob")
      .as[(Long, Array[Byte])]
    // batch-shaped decode over partitions (mapInPandas analog in Scala):
    // one decoder instance per batch, rows stream through it
    blobs.mapPartitions { it =>
      it.map { case (id, bytes) =>
        val m = graft.functions.Bmp.decode(bytes)
        (id, bytes.length.toLong, m.width, m.height, m.bpp)
      }
    }.toDF("doc_id", "n_bytes", "width", "height", "bpp")
  }

  /** native Catalyst url expressions (F1/F15): canonicalize/host/resolve stay
    * in whole-stage codegen. Urls constructed so the canonical form is
    * SQL-reconstructable for the oracle.
    */
  private def f1UrlFunctions(s: SparkSession, d: String): DataFrame = {
    import graft.functions.GraftFunctions._
    t(s, d, "documents")
      .withColumn("url", concat(lit("HTTPS://"), upper(col("source")),
        lit(".EXAMPLE:443/docs/"), col("doc_id"), lit("?b=2&a=1#frag")))
      .select(col("doc_id"),
        canonicalize_url(col("url")).as("canon"),
        url_host(col("url")).as("host"),
        resolve_url(col("url"), lit("../next")).as("resolved"))
  }

  /** batch sessionization (30-min gap) — the relational form of the
    * streaming flatMapGroupsWithState operator (graft.streaming), fully
    * oracle-checkable.
    */
  private def s3Sessionize(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, d, "events")
      .withColumn("ts", col("ts").cast("timestamp"))
      .withColumn("brk",
        when(unix_millis(col("ts")) - unix_millis(lag(col("ts"), 1).over(w))
          > 30 * 60 * 1000L, 1).otherwise(0))
      .withColumn("sess", sum(col("brk")).over(wRun))
      .groupBy(col("user_id"), col("sess"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 4).as("sum_value"),
        (unix_millis(max(col("ts"))) - unix_millis(min(col("ts")))).as("duration_ms"))
  }

  /** streaming hourly aggregation run to completion (Trigger.AvailableNow +
    * memory sink) — must equal the batch oracle exactly.
    */
  private def s4StreamHourly(s: SparkSession, d: String): DataFrame = {
    val streamDir = graft.util.TempDirs.create("graft-q-events-")
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$d/events.parquet"),
      streamDir.resolve("events.parquet"))
    val stream = graft.streaming.EventStream.readEvents(s, streamDir.toString)
    graft.streaming.EventStream.runAggToMemory(
      graft.streaming.EventStream.hourlyAgg(stream),
      s"stream_hourly_${System.identityHashCode(streamDir)}")
  }

  /** streaming exact-dedup run to completion — first arrival per key kept
    * against the state store, distinct key set out (equals batch DISTINCT).
    */
  private def s5StreamDedup(s: SparkSession, d: String): DataFrame = {
    val streamDir = graft.util.TempDirs.create("graft-q-events-")
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$d/events.parquet"),
      streamDir.resolve("events.parquet"))
    val stream = graft.streaming.EventStream.readEvents(s, streamDir.toString)
    graft.streaming.EventStream.runToMemory(
      graft.streaming.EventStream.streamDedupKeys(stream),
      s"stream_dedup_${System.identityHashCode(streamDir)}")
  }

  // ------------------------------------------------------------ crawl/detect

  /** DuckDB-oracled against the closed-form fixture table
    * (ExpectedDetect.c1); the score column stays spec-tested (DetectSpec) —
    * it is not closed-form.
    */
  private def c1DetectLists(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val pages = SyntheticWeb.pagesFast(s, nPages = 48, nHosts = 4, nPartitions = 8)
    Detector.detect(pages)
      .flatMap(o => o.lists.map(l => (o.url, l.name, l.listSelector,
        l.fullItemsSelector, l.data.size)))
      .toDF("url", "name", "list_selector", "full_items_selector", "n_rows")
  }

  private def c2ExtractRows(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val pages = SyntheticWeb.pagesFast(s, nPages = 24, nHosts = 4, nPartitions = 8)
    Detector.detect(pages)
      .flatMap { o =>
        o.lists.headOption.toSeq.flatMap { l =>
          l.data.zipWithIndex.flatMap { case (row, i) =>
            row.values.toSeq.sortBy(_._1).map { case (k, v) => (o.url, i, k, v) }
          }
        }
      }
      .toDF("url", "item_idx", "field", "value")
  }

  /** the byte-identical invariant as a query: extracted text vs oracle text
    * column; must return 0 mismatches.
    */
  private def c3TextParity(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val pages = SyntheticWeb.pagesFast(s, nPages = 32, nHosts = 4, nPartitions = 8)
    Detector.detect(pages.map(p => p.copy(text = null)))
      .map(o => (o.url,
        o.lists.headOption.map(l =>
          l.data.flatMap(_.values.get("Field_text_1")).mkString("\n")).getOrElse("")))
      .toDF("url", "extracted_text")
      .join(pages.toDF(), Seq("url"))
      .select(col("url"),
        (col("extracted_text") === col("text")).as("matches"),
        length(col("extracted_text")).as("n_chars"))
  }

  private def c4Pagination(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val pages = SyntheticWeb.pagesFast(s, nPages = 24, nHosts = 4, nPartitions = 8)
    Detector.detect(pages)
      .flatMap(o => o.pagination.map(p => (o.url, p.selector, p.nextUrl)))
      .toDF("url", "next_selector", "next_url")
  }

  /** full frontier-drain crawl (3 rounds, synthetic web, snapshot commits to
    * a temp dir) — returns per-round lineage counters. Robots rules enter the
    * engine as fetched `/robots.txt` rows IN the pages table (C4 as crawled
    * data); seeds enter as a Dataset.
    */
  private def c5CrawlRounds(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val nHosts = 4
    val pages = SyntheticWeb.pagesFast(s, nPages = 64, nHosts = nHosts, nPartitions = 8)
      .union(SyntheticWeb.robotsPages(s, nHosts))
      .toDF().cache()
    val stateDir = graft.util.TempDirs.create("graft-crawl-").toString
    val cfg = CrawlConfig(numBuckets = 8, hostBudgetPerRound = 4, roundSize = 32,
      maxRounds = 3)
    CrawlEngine.run(s, pages, s.createDataset(SyntheticWeb.seedUrls(nHosts)),
      cfg, stateDir, collectOutputs = false)
    val m = graft.tables.SnapshotStore.latestManifest(stateDir).get
    graft.tables.SnapshotStore.read(s, m, "lineage")
      .filter(col("bucket") === -1)
      .orderBy(col("round"))
  }

  /** highlight + links endpoint surfaces (F13, A-8) over synthetic pages.
    * Emits the closed-form-checkable counters: one container marker per
    * annotation call, one primary label per list/pagination annotation.
    */
  private def c6Highlight(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    SyntheticWeb.pagesFast(s, nPages = 16, nHosts = 4, nPartitions = 4)
      .map { p =>
        val doc = graft.dom.HtmlParser.parseBytes(p.html)
        val out = Detector.detectDoc(p.url, doc)
        val highlighted = graft.detect.Highlight.highlight(doc, out.lists, out.pagination)
        val markers = "webspot-highlight-container".r.findAllIn(highlighted).length
        val labels = "webspot-highlight-label-primary".r.findAllIn(highlighted).length
        (p.url, markers, labels)
      }
      .toDF("url", "n_markers", "n_labels")
  }

  private def c7Links(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    SyntheticWeb.pagesFast(s, nPages = 16, nHosts = 4, nPartitions = 4)
      .flatMap { p =>
        graft.api.RequestStore.linkLists(p.url, p.html).flatMap { ll =>
          ll.links.map(l => (p.url, ll.name, l.url, l.text))
        }
      }
      .toDF("url", "list_name", "link_url", "link_text")
  }

  /** second fixture family (books-style pages): unsupervised detect +
    * title/price field extraction, DuckDB-oracled against the closed-form
    * fixture table (reference golden `section > div:last-child > ol.row`,
    * test_plain_list.py:18-24).
    */
  private def c8BooksExtract(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val keys = for (h <- 0 until 4; k <- 0L until 4L) yield (h, k)
    s.createDataset(keys).repartition(8).flatMap { case (h, k) =>
      val url = SyntheticWeb.booksPageUrl(h, k)
      val html = SyntheticWeb.booksPageHtml(h, k, 4L)
      val out = Detector.detectHtml(url, html.getBytes("UTF-8"))
      out.lists.headOption.toSeq.flatMap { top =>
        val titleF = top.fields.find(f =>
          f.fieldType == "text" && f.selector.endsWith("h3 > a"))
        val priceF = top.fields.find(f =>
          f.fieldType == "text" && f.selector.endsWith("p.price_color"))
        top.data.zipWithIndex.map { case (r, i) =>
          (url, i,
            titleF.flatMap(f => r.values.get(f.name)).getOrElse(""),
            priceF.flatMap(f => r.values.get(f.name)).getOrElse(""))
        }
      }
    }.toDF("url", "item_idx", "title", "price")
  }

  // ------------------------------------------------------------------ registry

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_agg" -> (q1Agg _),
    "q2_topk" -> (q2Topk _),
    "q3_window_rank" -> (q3WindowRank _),
    "q4_anti_join" -> (q4AntiJoin _),
    "q5_broadcast_join" -> (q5BroadcastJoin _),
    "q6_entropy" -> (q6Entropy _),
    "q7_having" -> (q7Having _),
    "q8_argmax" -> (q8Argmax _),
    "q9_paging" -> (q9Paging _),
    "q10_set_union" -> (q10SetUnion _),
    "q11_window_running" -> (q11WindowRunning _),
    "q12_url_parse" -> (q12UrlParse _),
    "q13_filter_pushdown" -> (q13FilterPushdown _),
    "q14_serialize" -> (q14Serialize _),
    "s1_windowed_agg" -> (s1WindowedAgg _),
    "s2_event_first" -> (s2EventFirst _),
    "d1_dedup_exact" -> (d1DedupExact _),
    "d2_token_count" -> (d2TokenCount _),
    "d3_lang_id" -> (d3LangId _),
    "d4_quality" -> (d4Quality _),
    "d5_minhash_sig" -> (d5MinhashSig _),
    "d6_lsh_pairs" -> (d6LshPairs _),
    "d7_simhash" -> (d7Simhash _),
    "d8_ngram_jaccard" -> (d8NgramJaccard _),
    "t1_fingerprint" -> (t1Fingerprint _),
    "e1_cosine_knn" -> (e1CosineKnn _),
    "e2_knn_lsh" -> (e2KnnLsh _),
    "e3_ivf_knn" -> (e3IvfKnn _),
    "m1_multimodal_meta" -> (m1MultimodalMeta _),
    "f1_url_functions" -> (f1UrlFunctions _),
    "s3_sessionize" -> (s3Sessionize _),
    "s4_stream_hourly" -> (s4StreamHourly _),
    "c6_highlight" -> (c6Highlight _),
    "c7_links" -> (c7Links _),
    "c1_detect_lists" -> (c1DetectLists _),
    "c2_extract_rows" -> (c2ExtractRows _),
    "c3_text_parity" -> (c3TextParity _),
    "c4_pagination" -> (c4Pagination _),
    "c5_crawl_rounds" -> (c5CrawlRounds _),
    "c8_books_extract" -> (c8BooksExtract _),
    "d9_embedding_dedup" -> (d9EmbeddingDedup _),
    "d10_dedup_pipeline" -> (d10DedupPipeline _),
    "d11_dedup_components" -> (d11DedupComponents _),
    "d12_repetition" -> (d12Repetition _),
    "d13_span_dedup" -> (d13SpanDedup _),
    "d14_char_lm_score" -> (d14CharLmScore _),
    "d15_decontamination" -> (d15Decontamination _),
    "t3_bm25" -> (t3Bm25 _),
    "s5_stream_dedup" -> (s5StreamDedup _),
    "t2_bpe_tokens" -> (t2BpeTokens _),
    "m2_frame_sample" -> (m2FrameSample _),
    "m3_png_decode" -> (m3PngDecode _),
    "m4_gif_decode" -> (m4GifDecode _),
    "m5_jpeg_decode" -> (m5JpegDecode _),
    "m6_image_resize" -> (m6ImageResize _))

  /** e2's oracle: the sign-random-projection hyperplanes are deterministic
    * (fnv1a64-derived), so they are emitted as literal DOUBLE lists and DuckDB
    * independently recomputes the corpus-scaled nBits, bucket assignment,
    * Hamming<=1 candidate pairs (== the engine's one-bit multi-probe), and
    * the cosine re-rank. %.17e round-trips every double exactly.
    */
  private def e2OracleSql: String = {
    val values = e2Planes.zipWithIndex.map { case (w, b) =>
      s"($b, [${w.map(x => f"$x%.17e").mkString(", ")}]::DOUBLE[])"
    }.mkString(",\n")
    s"""WITH planes(b, w) AS (VALUES
       |$values),
       |emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |nb AS (SELECT GREATEST(16, LEAST($E2MaxBits,
       |  CAST(CEIL(LOG2(COUNT(*) / 16.0)) AS INT))) AS nbits FROM emb),
       |bucketed AS (
       |  SELECT e.vec_id,
       |    sum(CASE WHEN list_dot_product(p.w, e.v) >= 0 THEN (1 << p.b) ELSE 0 END)::INT AS bucket
       |  FROM emb e CROSS JOIN planes p, nb WHERE p.b < nb.nbits GROUP BY e.vec_id),
       |pairs AS (
       |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, ba.bucket AS bucket,
       |    round(list_dot_product(a.v, b.v) /
       |      (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cos
       |  FROM emb a JOIN bucketed ba ON ba.vec_id = a.vec_id
       |  JOIN bucketed bb ON bit_count(xor(ba.bucket, bb.bucket)) <= 1
       |  JOIN emb b ON b.vec_id = bb.vec_id AND a.vec_id < b.vec_id),
       |ranked AS (SELECT vec_a, vec_b, bucket, cos,
       |  row_number() OVER (PARTITION BY vec_a ORDER BY cos DESC, vec_b ASC) AS rank
       |  FROM pairs)
       |SELECT vec_a, vec_b, bucket, cos, rank FROM ranked WHERE rank <= 5""".stripMargin
  }

  /** e3's oracle: the unit-norm centroids are deterministic, so they are
    * emitted as literal DOUBLE lists and DuckDB independently recomputes
    * the rounded-dot cell assignment (argmax with index tie-break), the
    * 4-probe query cells, the cell-join candidate set, and the exact
    * cosine re-rank.
    */
  private def e3OracleSql: String = {
    val values = e3Centroids.zipWithIndex.map { case (w, j) =>
      s"($j, [${w.map(x => f"$x%.17e").mkString(", ")}]::DOUBLE[])"
    }.mkString(",\n")
    s"""WITH cents(j, w) AS (VALUES
       |$values),
       |emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |dots AS (SELECT e.vec_id, c.j,
       |    round(list_dot_product(c.w, e.v), 6) AS d
       |  FROM emb e CROSS JOIN cents c),
       |rankedcells AS (SELECT vec_id, j,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, j ASC) AS rn
       |  FROM dots),
       |assign AS (SELECT vec_id, j AS cell FROM rankedcells WHERE rn = 1),
       |qprobe AS (SELECT vec_id AS query_id, j AS cell FROM rankedcells
       |  WHERE vec_id < 5 AND rn <= $E3Probe),
       |cand AS (SELECT qp.query_id, a.vec_id AS neighbor_id, a.cell
       |  FROM qprobe qp JOIN assign a ON a.cell = qp.cell AND a.vec_id >= 5),
       |scored AS (SELECT c.query_id, c.neighbor_id, c.cell,
       |    round(list_dot_product(qa.v, nb.v) /
       |      (sqrt(list_dot_product(qa.v, qa.v)) *
       |       sqrt(list_dot_product(nb.v, nb.v))), 6) AS cos
       |  FROM cand c
       |  JOIN emb qa ON qa.vec_id = c.query_id
       |  JOIN emb nb ON nb.vec_id = c.neighbor_id),
       |ranked AS (SELECT query_id, neighbor_id, cell, cos,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY cos DESC, neighbor_id ASC) AS rank
       |  FROM scored)
       |SELECT query_id, rank, neighbor_id, cell, cos
       |FROM ranked WHERE rank <= 10""".stripMargin
  }

  /** SQL oracles. The c1–c7 detect/crawl entries read the CLOSED-FORM
    * expected tables (graft.tables.ExpectedDetect — derived from the fixture
    * spec, never from the engine) that Verify materializes to parquet.
    * If those tables are absent (cwd mismatch — ExpectedDetect.oracleSql
    * fails loudly), degrade to the static oracles so the rest of the round
    * still verifies, and shout on stderr.
    */
  def oracles: Map[String, String] = staticOracles ++ (
    try graft.tables.ExpectedDetect.oracleSql
    catch {
      case e: IllegalArgumentException =>
        System.err.println(s"[queries] FATAL fixture-oracle generation failed: ${e.getMessage}")
        // do NOT silently shrink coverage: emit a sentinel oracle per fixture
        // query that can never match its (non-empty) Spark result, so the
        // round FAILS visibly on a cwd/GRAFT_EXPECTED_DIR mismatch
        graft.tables.ExpectedDetect.names
          .map(n => n -> "SELECT 'fixture-oracle-missing' AS err WHERE 1 = 0")
          .toMap
    })

  private val staticOracles: Map[String, String] = Map(
    "e2_knn_lsh" -> e2OracleSql,
    "e3_ivf_knn" -> e3OracleSql,
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 4) AS sum_qty,
        |  round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS revenue,
        |  count(*) AS n_rows
        |FROM lineitem GROUP BY 1, 2""".stripMargin,
    "q2_topk" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin,
    "q3_window_rank" ->
      """SELECT o_custkey, o_orderkey, rn FROM (
        |  SELECT o_custkey, o_orderkey,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |  FROM orders) WHERE rn <= 3""".stripMargin,
    "q4_anti_join" ->
      """SELECT c_custkey FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin,
    "q5_broadcast_join" ->
      """SELECT n_name, round(sum(o_totalprice), 2) AS revenue, count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY 1""".stripMargin,
    "q6_entropy" ->
      """WITH counts AS (
        |  SELECT o_orderpriority, o_orderstatus, count(*) AS c
        |  FROM orders GROUP BY 1, 2),
        |tot AS (SELECT o_orderpriority, sum(c) AS tc FROM counts GROUP BY 1)
        |SELECT counts.o_orderpriority,
        |  round(-sum((c::DOUBLE / tc) * ln(c::DOUBLE / tc)), 6) AS entropy
        |FROM counts JOIN tot USING (o_orderpriority)
        |GROUP BY 1""".stripMargin,
    "q7_having" ->
      """SELECT l_orderkey, count(*) AS n_items, round(sum(l_quantity), 4) AS sum_qty
        |FROM lineitem GROUP BY 1 HAVING count(*) >= 5""".stripMargin,
    "q8_argmax" ->
      """SELECT c.c_nationkey, m.max_bal, min(c.c_custkey) AS best_custkey
        |FROM customer c JOIN (
        |  SELECT c_nationkey AS nk, max(c_acctbal) AS max_bal
        |  FROM customer GROUP BY 1) m
        |ON c.c_nationkey = m.nk AND c.c_acctbal = m.max_bal
        |GROUP BY 1, 2""".stripMargin,
    "q9_paging" ->
      """SELECT o_orderkey, o_orderdate, o_totalprice FROM orders
        |ORDER BY o_orderdate DESC, o_orderkey DESC LIMIT 20 OFFSET 10""".stripMargin,
    "q10_set_union" ->
      """SELECT DISTINCT nationkey FROM (
        |  SELECT c_nationkey AS nationkey FROM customer
        |  UNION ALL SELECT s_nationkey FROM supplier)""".stripMargin,
    "q11_window_running" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        |  round(sum(l_quantity) OVER (PARTITION BY l_suppkey
        |    ORDER BY l_shipdate, l_orderkey, l_linenumber
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS running_qty
        |FROM lineitem WHERE l_suppkey < 50""".stripMargin,
    "q12_url_parse" ->
      """SELECT doc_id,
        |  regexp_extract('https://' || source || '.example/docs/' || doc_id || '?ref=graft',
        |    '^https?://([^/?#]+)', 1) AS host,
        |  regexp_extract('https://' || source || '.example/docs/' || doc_id || '?ref=graft',
        |    '^https?://[^/?#]+([^?#]*)', 1) AS path
        |FROM documents""".stripMargin,
    "q13_filter_pushdown" ->
      """SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity
        |FROM lineitem
        |WHERE l_returnflag IN ('A', 'N') AND l_quantity >= 45.0""".stripMargin,
    "q14_serialize" ->
      """SELECT doc_id, base64(encode(text)) AS b64,
        |  to_json(struct_pack(doc_id := doc_id, lang := lang)) AS js
        |FROM documents""".stripMargin,
    "s1_windowed_agg" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type,
        |  count(*) AS n, round(sum(value), 4) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "s3_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, event_id, ts, value,
        |    CASE WHEN date_diff('millisecond', lag(ts) OVER w, ts) > 1800000
        |      THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT user_id, ts, value,
        |    (sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING))::BIGINT AS sess
        |  FROM e)
        |SELECT user_id, sess, count(*) AS n_events,
        |  round(sum(value), 4) AS sum_value,
        |  date_diff('millisecond', min(ts), max(ts)) AS duration_ms
        |FROM s GROUP BY 1, 2""".stripMargin,
    "s4_stream_hourly" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type,
        |  count(*) AS n, round(sum(value), 4) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "f1_url_functions" ->
      """SELECT doc_id,
        |  'https://' || lower(source) || '.example/docs/' || doc_id || '?a=1&b=2' AS canon,
        |  lower(source) || '.example' AS host,
        |  'https://' || upper(source) || '.EXAMPLE:443/next' AS resolved
        |FROM documents""".stripMargin,
    "s2_event_first" ->
      """SELECT user_id, event_type, min(ts) AS first_ts, count(*) AS n_events
        |FROM events GROUP BY 1, 2""".stripMargin,
    "d1_dedup_exact" ->
      """SELECT md5(text) AS text_md5, min(doc_id) AS keep_doc_id,
        |  count(*) AS n_copies
        |FROM documents GROUP BY text""".stripMargin,
    "d2_token_count" ->
      """SELECT doc_id, len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
        |  length(text) AS n_chars
        |FROM documents""".stripMargin,
    "d3_lang_id" ->
      """SELECT doc_id,
        |  CASE WHEN regexp_matches(text, '[\x{4e00}-\x{9fff}]') THEN 'zh'
        |       WHEN regexp_matches(text, '[\x{0400}-\x{04ff}]') THEN 'ru'
        |       ELSE 'en' END AS pred_lang
        |FROM documents""".stripMargin,
    "d4_quality" ->
      """SELECT doc_id, length(text) AS n_chars,
        |  len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
        |  round(length(text)::DOUBLE / len(regexp_split_to_array(trim(text), '\s+')), 4) AS avg_tok_len,
        |  (len(regexp_split_to_array(trim(text), '\b(the|a|of|and|to|in)\b')) - 1)::BIGINT AS n_stop,
        |  round(least(1.0, len(regexp_split_to_array(trim(text), '\s+'))::DOUBLE / 100.0)
        |    + least(1.0, (len(regexp_split_to_array(trim(text), '\b(the|a|of|and|to|in)\b')) - 1)::DOUBLE / 10.0), 4) AS quality
        |FROM documents""".stripMargin,
    "d5_minhash_sig" ->
      """WITH toks AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS ts FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |  list_zip(ts[1:len(ts)-2], ts[2:len(ts)-1], ts[3:len(ts)]),
        |  z -> z[1] || ' ' || z[2] || ' ' || z[3]))) AS sh FROM toks)
        |SELECT doc_id,
        |  min(md5('0:' || sh)) AS sig0, min(md5('1:' || sh)) AS sig1,
        |  min(md5('2:' || sh)) AS sig2, min(md5('3:' || sh)) AS sig3
        |FROM sh GROUP BY 1""".stripMargin,
    "d6_lsh_pairs" ->
      """WITH toks AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS ts FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |  list_zip(ts[1:len(ts)-2], ts[2:len(ts)-1], ts[3:len(ts)]),
        |  z -> z[1] || ' ' || z[2] || ' ' || z[3]))) AS sh FROM toks),
        |sig AS (SELECT doc_id,
        |  min(md5('0:' || sh)) AS sig0, min(md5('1:' || sh)) AS sig1,
        |  min(md5('2:' || sh)) AS sig2, min(md5('3:' || sh)) AS sig3
        |FROM sh GROUP BY 1),
        |bands AS (
        |  SELECT doc_id, 'b0:' || sig0 AS band FROM sig
        |  UNION ALL SELECT doc_id, 'b1:' || sig1 FROM sig
        |  UNION ALL SELECT doc_id, 'b2:' || sig2 FROM sig
        |  UNION ALL SELECT doc_id, 'b3:' || sig3 FROM sig)
        |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id""".stripMargin,
    "d7_simhash" ->
      """WITH toks AS (SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok FROM documents),
        |hv AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS v FROM toks),
        |bits AS (SELECT doc_id, b.range AS bit,
        |  sum(CASE WHEN (v >> b.range) & 1 = 1 THEN 1 ELSE -1 END) AS s
        |  FROM hv, range(0, 60) b GROUP BY 1, 2)
        |SELECT doc_id,
        |  sum(CASE WHEN s > 0 THEN 1::BIGINT << bit ELSE 0 END)::BIGINT AS simhash
        |FROM bits GROUP BY 1""".stripMargin,
    "d8_ngram_jaccard" ->
      """WITH toks AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS ts FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |  list_zip(ts[1:len(ts)-2], ts[2:len(ts)-1], ts[3:len(ts)]),
        |  z -> z[1] || ' ' || z[2] || ' ' || z[3]))) AS sh FROM toks),
        |sig AS (SELECT doc_id,
        |  min(md5('0:' || sh)) AS sig0, min(md5('1:' || sh)) AS sig1,
        |  min(md5('2:' || sh)) AS sig2, min(md5('3:' || sh)) AS sig3
        |FROM sh GROUP BY 1),
        |bands AS (
        |  SELECT doc_id, 'b0:' || sig0 AS band FROM sig
        |  UNION ALL SELECT doc_id, 'b1:' || sig1 FROM sig
        |  UNION ALL SELECT doc_id, 'b2:' || sig2 FROM sig
        |  UNION ALL SELECT doc_id, 'b3:' || sig3 FROM sig),
        |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id),
        |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT p.doc_a, p.doc_b, count(*) AS i
        |  FROM pairs p
        |  JOIN sh a ON a.doc_id = p.doc_a
        |  JOIN sh b ON b.doc_id = p.doc_b AND b.sh = a.sh
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b,
        |  round(i::DOUBLE / (na.n + nb.n - i), 6) AS jaccard
        |FROM inter
        |JOIN cnt na ON na.doc_id = doc_a
        |JOIN cnt nb ON nb.doc_id = doc_b
        |WHERE round(i::DOUBLE / (na.n + nb.n - i), 6) >= 0.8""".stripMargin,
    "t1_fingerprint" ->
      """SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint
        |FROM documents""".stripMargin,
    "t2_bpe_tokens" ->
      """SELECT doc_id, len(regexp_extract_all(text, '\w+|[^\w\s]')) AS n_bpe_tokens
        |FROM documents""".stripMargin,
    "m2_frame_sample" ->
      """SELECT doc_id, f.range::INT AS frame_slot,
        |  ((64 + doc_id % 192) * f.range) // 4 AS frame_idx,
        |  (8000 * (1 + doc_id % 3))::INT AS sample_rate,
        |  (1 + doc_id % 2)::INT AS n_channels,
        |  (64 + doc_id % 192)::INT AS n_frames,
        |  ((64 + doc_id % 192) * 1000) // (8000 * (1 + doc_id % 3)) AS duration_ms,
        |  ((doc_id * 2654435761 + (((64 + doc_id % 192) * f.range) // 4)
        |      * (1 + doc_id % 2) * 40503) % 65536 - 32768)::INT AS sample_value
        |FROM documents, range(0, 4) f""".stripMargin,
    "d9_embedding_dedup" ->
      """WITH toksd AS (SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok FROM documents),
        |dims AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT % 64 AS dim,
        |  count(*) AS w FROM toksd GROUP BY 1, 2),
        |nrm AS (SELECT doc_id, sqrt(sum(w*w)) AS nrm FROM dims GROUP BY 1),
        |toks AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS ts FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |  list_zip(ts[1:len(ts)-2], ts[2:len(ts)-1], ts[3:len(ts)]),
        |  z -> z[1] || ' ' || z[2] || ' ' || z[3]))) AS sh FROM toks),
        |sig AS (SELECT doc_id,
        |  min(md5('0:' || sh)) AS sig0, min(md5('1:' || sh)) AS sig1,
        |  min(md5('2:' || sh)) AS sig2, min(md5('3:' || sh)) AS sig3
        |FROM sh GROUP BY 1),
        |bands AS (
        |  SELECT doc_id, 'b0:' || sig0 AS band FROM sig
        |  UNION ALL SELECT doc_id, 'b1:' || sig1 FROM sig
        |  UNION ALL SELECT doc_id, 'b2:' || sig2 FROM sig
        |  UNION ALL SELECT doc_id, 'b3:' || sig3 FROM sig),
        |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id),
        |dots AS (SELECT p.doc_a, p.doc_b, sum(a.w * b.w) AS dot
        |  FROM pairs p
        |  JOIN dims a ON a.doc_id = p.doc_a
        |  JOIN dims b ON b.doc_id = p.doc_b AND b.dim = a.dim
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, round(dot / (na.nrm * nb.nrm), 6) AS cos
        |FROM dots
        |JOIN nrm na ON na.doc_id = doc_a
        |JOIN nrm nb ON nb.doc_id = doc_b
        |WHERE round(dot / (na.nrm * nb.nrm), 6) >= 0.9""".stripMargin,
    "d10_dedup_pipeline" ->
      """WITH toks AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS ts FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |  list_zip(ts[1:len(ts)-2], ts[2:len(ts)-1], ts[3:len(ts)]),
        |  z -> z[1] || ' ' || z[2] || ' ' || z[3]))) AS sh FROM toks),
        |sig AS (SELECT doc_id,
        |  min(md5('0:' || sh)) AS sig0, min(md5('1:' || sh)) AS sig1,
        |  min(md5('2:' || sh)) AS sig2, min(md5('3:' || sh)) AS sig3
        |FROM sh GROUP BY 1),
        |bands AS (
        |  SELECT doc_id, 'b0:' || sig0 AS band FROM sig
        |  UNION ALL SELECT doc_id, 'b1:' || sig1 FROM sig
        |  UNION ALL SELECT doc_id, 'b2:' || sig2 FROM sig
        |  UNION ALL SELECT doc_id, 'b3:' || sig3 FROM sig),
        |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id),
        |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT p.doc_a, p.doc_b, count(*) AS i
        |  FROM pairs p
        |  JOIN sh a ON a.doc_id = p.doc_a
        |  JOIN sh b ON b.doc_id = p.doc_b AND b.sh = a.sh
        |  GROUP BY 1, 2),
        |jac AS (SELECT p.doc_a, p.doc_b,
        |  round(coalesce(i.i, 0)::DOUBLE / (na.n + nb.n - coalesce(i.i, 0)), 6) AS jaccard
        |  FROM pairs p
        |  LEFT JOIN inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
        |  JOIN cnt na ON na.doc_id = p.doc_a
        |  JOIN cnt nb ON nb.doc_id = p.doc_b),
        |tokse AS (SELECT doc_id, unnest(ts) AS tok FROM toks),
        |dims AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT % 64 AS dim,
        |  count(*) AS w FROM tokse GROUP BY 1, 2),
        |nrm AS (SELECT doc_id, sqrt(sum(w*w)) AS nrm FROM dims GROUP BY 1),
        |dots AS (SELECT p.doc_a, p.doc_b, sum(a.w * b.w) AS dot
        |  FROM pairs p
        |  JOIN dims a ON a.doc_id = p.doc_a
        |  JOIN dims b ON b.doc_id = p.doc_b AND b.dim = a.dim
        |  GROUP BY 1, 2),
        |cosd AS (SELECT p.doc_a, p.doc_b,
        |  round(coalesce(d.dot, 0) / (na.nrm * nb.nrm), 6) AS cos
        |  FROM pairs p
        |  LEFT JOIN dots d ON d.doc_a = p.doc_a AND d.doc_b = p.doc_b
        |  JOIN nrm na ON na.doc_id = p.doc_a
        |  JOIN nrm nb ON nb.doc_id = p.doc_b)
        |SELECT j.doc_a, j.doc_b, j.jaccard, c.cos
        |FROM jac j JOIN cosd c ON c.doc_a = j.doc_a AND c.doc_b = j.doc_b
        |WHERE j.jaccard >= 0.8 OR c.cos >= 0.9""".stripMargin,
    "d12_repetition" ->
      """WITH toks AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS ts FROM documents),
        |bi AS (SELECT doc_id, unnest(list_transform(
        |  list_zip(ts[1:len(ts)-1], ts[2:len(ts)]),
        |  z -> z[1] || ' ' || z[2])) AS bg FROM toks),
        |bc AS (SELECT doc_id, bg, count(*) AS c FROM bi GROUP BY 1, 2),
        |bs AS (SELECT doc_id, sum(c)::BIGINT AS n_bigrams, max(c) AS top_n
        |  FROM bc GROUP BY 1),
        |tk AS (SELECT doc_id, len(ts)::BIGINT AS n_tokens,
        |  len(list_distinct(ts))::BIGINT AS n_distinct FROM toks)
        |SELECT tk.doc_id, n_tokens,
        |  round(1.0 - n_distinct::DOUBLE / n_tokens, 6) AS dup_token_frac,
        |  n_bigrams,
        |  round(top_n::DOUBLE / n_bigrams, 6) AS top_bigram_frac
        |FROM tk JOIN bs ON bs.doc_id = tk.doc_id""".stripMargin,
    "s5_stream_dedup" ->
      "SELECT DISTINCT user_id, event_type FROM events",
    // char-trigram LM: p(c3|c1c2) = cg/cb from one trigram relation; score
    // = mean ln p per doc (both engines: double libm ln + round 6, the q6
    // entropy precedent)
    "d14_char_lm_score" ->
      """WITH tx AS (SELECT doc_id, lower(trim(text)) AS t FROM documents),
        |tri AS (SELECT doc_id,
        |  unnest(list_transform(range(1, greatest(len(t) - 1, 1)),
        |    k -> t[k:k+2])) AS g
        |  FROM tx),
        |model AS (SELECT g, count(*) AS cg FROM tri GROUP BY g),
        |m2 AS (SELECT g, cg,
        |  sum(cg) OVER (PARTITION BY g[1:2]) AS cb FROM model)
        |SELECT doc_id, count(*)::BIGINT AS n_trigrams,
        |  round(avg(ln(cg::DOUBLE / cb)), 6) AS lm_score
        |FROM tri JOIN m2 USING (g)
        |GROUP BY doc_id""".stripMargin,
    // rolling 8-token span hashes via scalar list ops (range() is a LIST
    // function here, so no correlated generate_series is needed); spans
    // occurring >= 2x are duplicates; coverage = distinct flagged positions
    "d15_decontamination" ->
      """WITH toks AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS ts FROM documents),
        |sp AS (SELECT doc_id,
        |  unnest(range(0, greatest(len(ts) - 3, 0))) AS pos,
        |  unnest(list_transform(range(0, greatest(len(ts) - 3, 0)),
        |    k -> md5(array_to_string(ts[k+1:k+4], ' ')))) AS h
        |  FROM toks),
        |ev AS (SELECT DISTINCT h FROM sp WHERE doc_id % 41 = 0),
        |cov AS (SELECT DISTINCT doc_id, tpos FROM (
        |  SELECT s.doc_id, unnest(range(s.pos, s.pos + 4)) AS tpos
        |  FROM sp s JOIN ev USING (h) WHERE s.doc_id % 41 <> 0)),
        |cv AS (SELECT doc_id, count(*)::BIGINT AS contam_tokens
        |  FROM cov GROUP BY 1)
        |SELECT t.doc_id, len(t.ts)::BIGINT AS n_tokens,
        |  coalesce(cv.contam_tokens, 0)::BIGINT AS contam_tokens,
        |  round(coalesce(cv.contam_tokens, 0)::DOUBLE / len(t.ts), 6) AS contam_frac,
        |  CAST(coalesce(cv.contam_tokens, 0) > 0 AS INT) AS flagged
        |FROM toks t LEFT JOIN cv ON cv.doc_id = t.doc_id
        |WHERE t.doc_id % 41 <> 0""".stripMargin,
    "t3_bm25" ->
      """WITH toks AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS ts FROM documents),
        |tl AS (SELECT doc_id, len(ts) AS dl, unnest(ts) AS term FROM toks),
        |post AS (SELECT term, doc_id, any_value(dl) AS dl, count(*) AS tf
        |  FROM tl GROUP BY term, doc_id),
        |stats AS (SELECT count(*)::DOUBLE AS n, avg(len(ts))::DOUBLE AS avgdl FROM toks),
        |dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM post GROUP BY term),
        |q(query_id, term) AS (VALUES (0,'spark'),(0,'join'),(1,'hash'),
        |  (1,'table'),(1,'scan'),(2,'window'),(2,'agg'),(2,'order')),
        |scored AS (SELECT q.query_id, p.doc_id,
        |  round(sum(ln(1 + (s.n - f.df + 0.5)/(f.df + 0.5)) *
        |    (p.tf*(1.2+1))/(p.tf + 1.2*(1 - 0.75 + 0.75*p.dl/s.avgdl))), 6) AS score
        |  FROM q JOIN post p USING (term) JOIN dfreq f ON f.term = q.term
        |  CROSS JOIN stats s
        |  GROUP BY 1, 2),
        |rk AS (SELECT query_id, doc_id, score,
        |  row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank
        |  FROM scored)
        |SELECT query_id, rank, doc_id, score FROM rk WHERE rank <= 10""".stripMargin,
    "d13_span_dedup" ->
      """WITH toks AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS ts FROM documents),
        |sp AS (SELECT doc_id,
        |  unnest(range(0, greatest(len(ts) - 7, 0))) AS pos,
        |  unnest(list_transform(range(0, greatest(len(ts) - 7, 0)),
        |    k -> md5(array_to_string(ts[k+1:k+8], ' ')))) AS h
        |  FROM toks),
        |dup AS (SELECT h FROM sp GROUP BY h HAVING count(*) >= 2),
        |cov AS (SELECT DISTINCT doc_id, tpos FROM (
        |  SELECT s.doc_id, unnest(range(s.pos, s.pos + 8)) AS tpos
        |  FROM sp s JOIN dup USING (h))),
        |cv AS (SELECT doc_id, count(*)::BIGINT AS dup_span_tokens
        |  FROM cov GROUP BY 1)
        |SELECT t.doc_id, len(t.ts)::BIGINT AS n_tokens,
        |  coalesce(cv.dup_span_tokens, 0)::BIGINT AS dup_span_tokens,
        |  round(coalesce(cv.dup_span_tokens, 0)::DOUBLE / len(t.ts), 6) AS dup_span_frac
        |FROM toks t LEFT JOIN cv ON cv.doc_id = t.doc_id""".stripMargin,
    // connected components via reachability closure (DuckDB recursive CTE,
    // UNION-distinct bounds the closure); component = min reachable doc_id,
    // singletons map to themselves
    "d11_dedup_components" ->
      """WITH RECURSIVE toks AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS ts FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |  list_zip(ts[1:len(ts)-2], ts[2:len(ts)-1], ts[3:len(ts)]),
        |  z -> z[1] || ' ' || z[2] || ' ' || z[3]))) AS sh FROM toks),
        |sig AS (SELECT doc_id,
        |  min(md5('0:' || sh)) AS sig0, min(md5('1:' || sh)) AS sig1,
        |  min(md5('2:' || sh)) AS sig2, min(md5('3:' || sh)) AS sig3
        |FROM sh GROUP BY 1),
        |bands AS (
        |  SELECT doc_id, 'b0:' || sig0 AS band FROM sig
        |  UNION ALL SELECT doc_id, 'b1:' || sig1 FROM sig
        |  UNION ALL SELECT doc_id, 'b2:' || sig2 FROM sig
        |  UNION ALL SELECT doc_id, 'b3:' || sig3 FROM sig),
        |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id),
        |edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
        |  UNION SELECT doc_b, doc_a FROM pairs),
        |reach(u, v) AS (
        |  SELECT u, v FROM edges
        |  UNION
        |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u WHERE e.v <> r.u),
        |comp AS (SELECT u AS doc_id, least(u, min(v)) AS component
        |  FROM reach GROUP BY u),
        |assigned AS (
        |  SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component
        |  FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id)
        |SELECT doc_id, component,
        |  count(*) OVER (PARTITION BY component) AS cluster_size,
        |  CAST(component = doc_id AS INT) AS is_canonical
        |FROM assigned""".stripMargin,
    "e1_cosine_knn" ->
      """WITH emb AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM emb WHERE vec_id < 5),
        |c AS (SELECT vec_id, v FROM emb WHERE vec_id >= 5),
        |scored AS (
        |  SELECT query_id, vec_id,
        |    round(list_dot_product(qv, v) /
        |      (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))), 6) AS cos
        |  FROM q, c),
        |ranked AS (SELECT query_id, vec_id,
        |  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank, cos
        |  FROM scored)
        |SELECT query_id, rank, vec_id AS neighbor_id, cos
        |FROM ranked WHERE rank <= 10""".stripMargin,
    "m1_multimodal_meta" ->
      """SELECT doc_id,
        |  54 + (((3 * ((doc_id % 64) + 1) + 3) // 4) * 4)
        |    * (((doc_id // 64) % 64) + 1) AS n_bytes,
        |  CAST((doc_id % 64) + 1 AS INT) AS width,
        |  CAST(((doc_id // 64) % 64) + 1 AS INT) AS height,
        |  24 AS bpp
        |FROM documents""".stripMargin,
    // per-pixel recomputation of the decoded image stats: DuckDB has no
    // correlated generate_series, so the series cover the MAX dimensions
    // (width ≤ 12, height ≤ 14) and the per-image bound is a filter
    "m3_png_decode" ->
      """WITH d AS (SELECT doc_id, 8 + (doc_id % 5) AS width,
        |                  8 + (doc_id % 7) AS height FROM documents)
        |SELECT d.doc_id,
        |  CAST(d.width AS INT) AS width,
        |  CAST(d.height AS INT) AS height,
        |  CAST(SUM((d.doc_id*7 + r.r*13 + c.c*5 + ch.ch*11) % 251) AS BIGINT) AS px_sum,
        |  CAST((d.doc_id*7) % 251 AS BIGINT) AS px_first,
        |  CAST((d.doc_id*7 + (d.height-1)*13 + (d.width-1)*5 + 22) % 251 AS BIGINT) AS px_last
        |FROM d
        |CROSS JOIN generate_series(0, 13) r(r)
        |CROSS JOIN generate_series(0, 11) c(c)
        |CROSS JOIN generate_series(0, 2) ch(ch)
        |WHERE r.r < d.height AND c.c < d.width
        |GROUP BY d.doc_id, d.width, d.height""".stripMargin,
    // per-pixel recomputation of the decoded GIF: idx/pos/red sums from the
    // corpus rule (idx = (id·3 + r·7 + c·11) mod 8, palette red of k =
    // (id·5 + k·17) mod 256); width ≤ 11, height ≤ 13
    "m4_gif_decode" ->
      """WITH d AS (SELECT doc_id, 6 + (doc_id % 6) AS width,
        |                  5 + (doc_id % 9) AS height FROM documents)
        |SELECT d.doc_id,
        |  CAST(d.width AS INT) AS width,
        |  CAST(d.height AS INT) AS height,
        |  (d.doc_id % 2 = 0) AS interlaced,
        |  CAST(SUM((d.doc_id*3 + r.r*7 + c.c*11) % 8) AS BIGINT) AS idx_sum,
        |  CAST(SUM(((d.doc_id*3 + r.r*7 + c.c*11) % 8)
        |           * (r.r*31 + c.c*3 + 1)) AS BIGINT) AS pos_sum,
        |  CAST(SUM((d.doc_id*5 + ((d.doc_id*3 + r.r*7 + c.c*11) % 8)*17) % 256)
        |    AS BIGINT) AS red_sum
        |FROM d
        |CROSS JOIN generate_series(0, 12) r(r)
        |CROSS JOIN generate_series(0, 10) c(c)
        |WHERE r.r < d.height AND c.c < d.width
        |GROUP BY d.doc_id, d.width, d.height""".stripMargin,
    // closed-form mirror of Jpeg.fixtureValue + the JFIF YCbCr->RGB matrix;
    // exact because the fixture's DC-only blocks quantize exactly (q_DC=4
    // divides the 8x DCT DC gain) so decoded samples equal the rule
    "m5_jpeg_decode" ->
      """WITH d AS (SELECT doc_id, 8*(1 + doc_id % 3) AS width,
        |                  8*(1 + doc_id % 2) AS height FROM documents),
        |px AS (SELECT d.doc_id, d.width, d.height, r.r, c.c,
        |              r.r // 8 AS by, c.c // 8 AS bx
        |  FROM d CROSS JOIN generate_series(0, 15) r(r)
        |         CROSS JOIN generate_series(0, 23) c(c)
        |  WHERE r.r < d.height AND c.c < d.width),
        |v AS (SELECT *, (doc_id*3 + bx*7 + by*11) % 256 AS y,
        |              (doc_id*5 + bx*13 + by*3) % 256 AS cb,
        |              (doc_id*7 + bx*5 + by*17) % 256 AS cr FROM px),
        |rgb AS (SELECT *,
        |  least(255, greatest(0, round(y + 1.402*(cr - 128)))) AS rr,
        |  least(255, greatest(0, round(y - 0.344136*(cb - 128)
        |                                 - 0.714136*(cr - 128)))) AS gg,
        |  least(255, greatest(0, round(y + 1.772*(cb - 128)))) AS bb FROM v)
        |SELECT doc_id, CAST(max(width) AS INT) AS width,
        |  CAST(max(height) AS INT) AS height, 3 AS n_comp,
        |  CAST(SUM(y * (r*31 + c*3 + 1)) AS BIGINT) AS y_sum,
        |  CAST(SUM(rr) AS BIGINT) AS r_sum,
        |  CAST(SUM(gg) AS BIGINT) AS g_sum,
        |  CAST(SUM(bb) AS BIGINT) AS b_sum
        |FROM rgb GROUP BY doc_id""".stripMargin,
    // closed-form mirror of Png.fixturePixels under both resize mappings:
    // nearest-neighbor src = (dst*srcDim)//4, box cells by (src*4)//srcDim
    "m6_image_resize" ->
      """WITH d AS (SELECT doc_id, 8 + doc_id % 5 AS w,
        |                  8 + doc_id % 7 AS h FROM documents),
        |cell AS (SELECT d.doc_id, d.w, d.h, i.i, j.j, ch.ch FROM d
        |  CROSS JOIN generate_series(0, 3) i(i)
        |  CROSS JOIN generate_series(0, 3) j(j)
        |  CROSS JOIN generate_series(0, 2) ch(ch)),
        |nn AS (SELECT doc_id, w, h, i, j, ch,
        |  (doc_id*7 + ((i*h)//4)*13 + ((j*w)//4)*5 + ch*11) % 251 AS nn_value
        |  FROM cell),
        |box AS (SELECT c.doc_id, c.i, c.j, c.ch,
        |  round(avg((c.doc_id*7 + r.r*13 + cc.c*5 + c.ch*11) % 251), 6) AS box_avg
        |  FROM cell c
        |  CROSS JOIN generate_series(0, 13) r(r)
        |  CROSS JOIN generate_series(0, 11) cc(c)
        |  WHERE r.r < c.h AND cc.c < c.w
        |    AND (r.r*4)//c.h = c.i AND (cc.c*4)//c.w = c.j
        |  GROUP BY 1, 2, 3, 4)
        |SELECT n.doc_id, CAST(n.w AS INT) AS src_w, CAST(n.h AS INT) AS src_h,
        |  CAST(n.i AS INT) AS i, CAST(n.j AS INT) AS j, CAST(n.ch AS INT) AS ch,
        |  CAST(n.nn_value AS BIGINT) AS nn_value, b.box_avg
        |FROM nn n JOIN box b ON b.doc_id = n.doc_id AND b.i = n.i
        |  AND b.j = n.j AND b.ch = n.ch""".stripMargin)
}
