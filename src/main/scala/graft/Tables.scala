package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}

/** Loaders for the driver-generated Parquet corpus (TESTDATA.md).
  *
  * All engine queries take an `sfDir` (e.g. /root/testdata/sf0.01) and read
  * Parquet directly — predicate pushdown and column pruning reach the scan
  * (verify with `.explain("formatted")`: PushedFilters / ReadSchema).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    readCached(spark, s"$dir/$name.parquet")

  /** Resolved-reader memo for IMMUTABLE parquet paths (the read-only
    * corpus and write-once staged fixtures): `spark.read.parquet` is
    * eager — it lists the path and infers the schema from footers at
    * call time, ~60 ms of driver work per call — and a suite that
    * constructs hundreds of queries re-pays it per construction
    * (measured: 47 s of `ResolveDataSource` across one 272-query pass,
    * the single largest driver cost). Real deployments resolve a table
    * ONCE in a catalog and reuse the relation; this memo is that
    * catalog discipline for path tables. It caches the resolved
    * (schema + file listing) Dataset handle, NEVER data: every action
    * on the returned frame still scans parquet. One [[Staged]] entry
    * per (session, path): tenant isolation holds, a hit is a lock-free
    * lookup, and the entries go when the session's context stops.
    *
    * IMMUTABLE-PATH contract: callers may only pass paths whose file set
    * never changes after first read (the read-only corpus, write-once
    * staged fixtures). Mutable dirs (snapshot tables, upsert targets)
    * must stay off this memo — a cached handle pins the file listing.
    */
  def readCached(spark: SparkSession, path: String): DataFrame = {
    SessionTune.install(spark)
    Staged(spark, path, "read")(spark.read.parquet(path))
  }

  /** Widen a scan-rooted input to cluster parallelism before CPU-dense
    * per-row work (quadratic self-join verifies, similarity math). A
    * single-row-group parquet file plans ONE scan task no matter how
    * much compute per row follows, so one core works while the rest
    * idle — the "one huge unsplittable file" input-skew case. The
    * round-robin repartition costs one shuffle of the (small) rows and
    * only fires when the input is narrower than the cluster; a
    * warehouse-scale scan is already wider, so this is a no-op there
    * (no new exchange), and so is a frame whose width cannot be read
    * from file metadata (any leaf that is not a file scan: a local
    * relation, a cached frame, a range). The explicit count is exempt from AQE
    * coalescing by design: these stages are CPU-bound and byte-tiny,
    * exactly the shape byte-based coalescing mis-sizes.
    */
  def widen(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (estimatedScanWidth(df).exists(_ < p)) df.repartition(p) else df
  }

  /** Estimated scan-task width of a SCAN-ROOTED frame from file
    * metadata alone — Spark's own split math
    * (`FilePartition.maxSplitBytes`: splits of
    * `min(maxPartitionBytes, max(openCost, totalBytes/parallelism))`,
    * each file charged one `openCostInBytes`) applied to the leaf
    * relations' cached file listing. The old guard read
    * `df.rdd.getNumPartitions`, which builds the physical plan and RDD
    * lineage on the driver per call (and under AQE would EXECUTE
    * upstream stages if the plan contained an exchange) — exactly the
    * per-query driver cost readCached exists to avoid. `None` when a
    * leaf is not a file relation (shuffle-rooted or custom source):
    * callers treat that as "already wide" and leave the frame alone,
    * so the helper can never trigger an eager upstream execution.
    */
  private def estimatedScanWidth(df: DataFrame): Option[Long] = {
    val leaves = df.queryExecution.analyzed.collectLeaves()
    val rels = leaves.flatMap {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            Seq(fs)
          case _ => Seq.empty
        }
      case _ => Seq.empty
    }
    if (rels.isEmpty || rels.size != leaves.size) None
    else {
      val conf = df.sparkSession.sessionState.conf
      val totalBytes = rels.map(_.location.sizeInBytes).sum
      val nFiles = rels.map(_.location.inputFiles.length.toLong).sum
      val p = math.max(1, df.sparkSession.sparkContext.defaultParallelism)
      val openCost = conf.filesOpenCostInBytes
      val maxSplit = math.max(1L, math.min(conf.filesMaxPartitionBytes,
        math.max(openCost, totalBytes / p)))
      Some((totalBytes + nFiles * openCost + maxSplit - 1) / maxSplit)
    }
  }

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** events.ts has shipped in two physical forms across testdata
    * generations: TIMESTAMP(NANOS) footers (which Spark 4 only reads as
    * raw long nanos under the legacy conf) and native timestamp[us].
    * Accept both — the loader inspects the scanned type and converts
    * only when needed. Integer `div` — a double round-trip would lose
    * precision on epoch-nanos (~1.7e18 > 2^53).
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    tsToTimestamp(load(s, d, "events"))
  }

  /** Normalize an events frame's `ts` to TimestampType (long-nanos →
    * micros; TIMESTAMP_NTZ → session-tz timestamp — the session is pinned
    * UTC, so wall-clock values and epoch micros are preserved and
    * watermarks/`unix_micros`, which reject NTZ, work). Identity when the
    * scan already yields TimestampType. Works on batch and streaming
    * frames alike.
    */
  def tsToTimestamp(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
          expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }

  /** `ts` as epoch MICROS (bigint), whichever physical form the scan has. */
  def tsMicrosCol(df: DataFrame): org.apache.spark.sql.Column =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => expr("ts div 1000")
      case _ => org.apache.spark.sql.functions.unix_micros(
        col("ts").cast(org.apache.spark.sql.types.TimestampType))
    }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** `[EXT]` RICH derived corpus — a deterministic wide-vocabulary
    * re-texting of `documents` that fixes the fixture degeneracy the
    * synthetic corpus has for similarity work (31 distinct tokens total,
    * so ~60% of all pairs qualify at Jaccard 0.8 and every posting list
    * is corpus-sized). Derived, not stored: both engines (Spark here,
    * DuckDB in the oracle CTE [[richCorpusSql]]) recompute the same text
    * from `doc_id` alone, so the driver's hash compare still holds.
    *
    * Construction (all integer / md5 arithmetic — no floating point, so
    * cross-engine equality is exact, not within-ULP):
    *  - docs form groups of 4 (`gid = doc_id div 4`) — the near-dup
    *    planted structure;
    *  - length `m = 30 + h8('n'||gid) % 21` (group-constant, 30..50);
    *  - position i draws its token from the GROUP seed `g<gid>:<i>`
    *    except a 5% deterministic mutation to the DOC seed `d<doc>:<i>`
    *    — same-group Jaccard lands ~0.7-1.0 (straddling the 0.8 join
    *    threshold), cross-group overlap only via rank collisions;
    *  - seed → rank: `u = h8(seed) % 20000`; u < 10000 is uniform rank
    *    u+1 (the long tail), else rank `10000 div (u-9999)` (Zipf-ish
    *    head: P(rank r) ≈ 1/(2r(r+1)) — rank 1 in ~25% of draws);
    *    wordform = `w<rank>`, vocabulary 10 000.
    * where `h8(s) = int(md5(s)[0:8 hex])`. Measured at sf0.01: 2 665
    * distinct tokens, distinct-set sizes 17-38, 549 of 124 750 pairs
    * qualifying (0.44%) — Zipfian postings and a selective join, which
    * is what the 31-token corpus could never show.
    */
  def richDocuments(s: SparkSession, d: String): DataFrame = {
    val h8 = (sql: String) =>
      s"CAST(conv(substring(md5(CAST($sql AS BINARY)), 1, 8), 16, 10) AS BIGINT)"
    documents(s, d).select(col("doc_id"), expr("doc_id div 4").as("gid"))
      .select(col("doc_id"), expr(
        s"""array_join(
           |  transform(
           |    transform(
           |      sequence(1, 30 + ${h8("concat('n', gid)")} % 21),
           |      i -> ${h8(
                 """CASE WHEN %s %% 20 = 0
                   | THEN concat('d', doc_id, ':', i)
                   | ELSE concat('g', gid, ':', i) END"""
                   .stripMargin.format(h8("concat('m', doc_id, ':', i)")))} % 20000),
           |    u -> concat('w', CASE WHEN u < 10000 THEN u + 1
           |                         ELSE 10000 div (u - 10000 + 1) END)),
           |  ' ')""".stripMargin).as("text"))
  }

  /** The rich corpus MATERIALIZED: derived once per source corpus into
    * a staged parquet (the [[graft.sources.Ingest.ensureStaged]] atomic
    * write-rename contract) and read from columnar storage ever after.
    * Every rich-corpus query consumes THIS — the defining md5 expression
    * in [[richDocuments]] is ~40 hash evaluations per document, and a
    * query plan that clones the derivation into several legs (postings +
    * verify sides of the prefix join, train + score legs of the LM)
    * pays it each time; a derived table this hot is exactly what a
    * pipeline materializes. Parity with the defining expression is
    * spec-asserted (TablesSpec).
    */
  def richDocumentsStaged(s: SparkSession, d: String): DataFrame = {
    val path = graft.sources.Ingest.ensureStaged(
      graft.sources.Ingest.stagedPath(s, "graft_rich_corpus_",
        Seq(s"$d/documents.parquet"))) { tmp =>
      richDocuments(s, d).write.parquet(tmp)
    }
    readCached(s, path)
  }

  /** DuckDB CTE computing the identical rich corpus from `documents` —
    * prepend to any oracle that reads `rich(doc_id, text)`. concat()
    * (not ||) throughout: DuckDB's || needs explicit VARCHAR casts on
    * BIGINT operands and a leading || gets eaten by stripMargin.
    */
  val richCorpusSql: String = {
    val h8 = (sql: String) =>
      s"CAST(concat('0x', substring(md5($sql), 1, 8)) AS BIGINT)"
    s"""WITH rich AS (
       |  SELECT doc_id,
       |    array_to_string(
       |      list_transform(
       |        list_transform(
       |          range(1, 31 + ${h8("concat('n', doc_id // 4)")} % 21),
       |          i -> ${h8(
             """CASE WHEN %s %% 20 = 0
               | THEN concat('d', doc_id, ':', i)
               | ELSE concat('g', doc_id // 4, ':', i) END"""
               .stripMargin.format(h8("concat('m', doc_id, ':', i)")))} % 20000),
       |        u -> concat('w', CASE WHEN u < 10000 THEN u + 1
       |                              ELSE 10000 // (u - 10000 + 1) END)),
       |      ' ') AS text
       |  FROM documents)""".stripMargin
  }

  /** Retarget an existing documents-table oracle at the rich corpus:
    * splice [[richCorpusSql]] in front and point every scan at `rich`.
    * Both strings are repo-authored, so the textual rewrite is exact.
    */
  def richOracle(sql: String): String = {
    val r = sql.replace("FROM documents", "FROM rich")
    if (r.startsWith("WITH ")) richCorpusSql + ",\n" + r.stripPrefix("WITH ")
    else richCorpusSql + "\n" + r
  }

  /** The rich corpus carrying the documents METADATA columns (lang,
    * source, n_chars) — for operators that group or block by them
    * (contamination per source, CDC ownership). One keyed join against
    * the staged rich table; doc_id is unique on both sides.
    */
  def richDocumentsMeta(s: SparkSession, d: String): DataFrame =
    documents(s, d).drop("text")
      .join(richDocumentsStaged(s, d), Seq("doc_id"))
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        col("n_chars"))

  /** [[richOracle]] for metadata-consuming oracles: scans retarget at a
    * `richmeta` view = rich text joined back to the documents metadata.
    * Handles `WITH RECURSIVE` heads (the keyword must lead the whole
    * CTE list, with the spliced non-recursive CTEs after it).
    */
  def richMetaOracle(sql: String): String = {
    val r = sql.replace("FROM documents", "FROM richmeta")
    val spliced = richCorpusSql +
      """,
        |richmeta AS (
        |  SELECT d.doc_id, r.text, d.lang, d.source, d.n_chars
        |  FROM documents d JOIN rich r USING (doc_id))""".stripMargin
    if (r.startsWith("WITH RECURSIVE "))
      "WITH RECURSIVE " + spliced.stripPrefix("WITH ") + ",\n" +
        r.stripPrefix("WITH RECURSIVE ")
    else if (r.startsWith("WITH "))
      spliced + ",\n" + r.stripPrefix("WITH ")
    else spliced + "\n" + r
  }
}
