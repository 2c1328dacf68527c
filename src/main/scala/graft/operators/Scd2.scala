package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{QueryPack, Staged, Tables}
import graft.sources.SnapshotTable

/** `[EXT]` Slowly-changing-dimension type 2 (Kimball's SCD2 — the
  * standard warehouse pattern for versioned dimensions) over snapshot
  * tables, plus the point-in-time join that consumes it.
  *
  * A change record is `(key, ts, attrs…, tie)`; the dimension holds one
  * row per (key, change instant) with `[valid_from, valid_to)`
  * half-open validity intervals that PARTITION each key's timeline
  * (`valid_to` of a version = `valid_from` of the next; the current
  * version has `valid_to IS NULL`). Same-instant duplicates resolve
  * deterministically by greatest `tie` (the change-log sequence
  * number), and the winning tie value is KEPT in the dimension so an
  * incremental re-apply replays the exact same resolution a global
  * rebuild would.
  *
  * '''Scale design.''' [[buildDim]] is one shuffle on the key + one
  * window. [[applyChanges]] is incremental: only keys present in the
  * batch are touched — their full (small) version timelines are
  * re-derived and MERGED into the hash-bucketed snapshot table, so a
  * batch touching K keys costs O(K timelines + batch), never O(dim),
  * rewrites only affected buckets, and handles late/out-of-order
  * changes exactly (the rebuild re-sorts the key's whole timeline).
  * The surrogate `sk = key ⊕ valid_from` makes the merge key unique
  * per version row. [[pointInTime]] rides the single-pass as-of
  * machinery: fact ∪ dim, one sort per key, no join amplification —
  * each fact row carries forward the latest version at-or-before its
  * timestamp, which by interval contiguity IS the containing interval.
  */
object Scd2 extends QueryPack {

  /** Batch-build the SCD2 timeline from a change history.
    *
    * ONE exchange, not two (guide §2.4): the per-(key, ts) dedup
    * aggregate and the per-key `lead` window would each plan their own
    * shuffle (hash(key, ts), then hash(key)); pre-partitioning by the
    * KEY alone satisfies both — same-key rows land together, which
    * clusters every (key, ts) group too — so the window reuses the
    * aggregation's layout and a full pass over the change set is
    * saved. Skew exposure is unchanged: the window already required
    * by-key partitioning.
    */
  def buildDim(changes: DataFrame, keyCol: String, tsCol: String,
               attrCols: Seq[String], tieCol: String): DataFrame = {
    val aggs = attrCols.map(a => max_by(col(a), col(tieCol)).as(a)) :+
      max(col(tieCol)).as(tieCol)
    val dedup = changes.repartition(col(keyCol))
      .groupBy(col(keyCol), col(tsCol))
      .agg(aggs.head, aggs.tail: _*)
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol))
    dedup
      .withColumn("valid_to", lead(col(tsCol), 1).over(w))
      .withColumnRenamed(tsCol, "valid_from")
      .withColumn("is_current", col("valid_to").isNull)
  }

  private def withKeys(df: DataFrame, keyCol: String, attrCols: Seq[String],
                       tieCol: String, buckets: Int): DataFrame =
    df.withColumn("sk", concat_ws("#",
        col(keyCol).cast("string"), col("valid_from").cast("string")))
      .withColumn("__bucket", pmod(xxhash64(col(keyCol)), lit(buckets)))
      .select((col(keyCol) +: col("valid_from") +: attrCols.map(col) :+
        col(tieCol) :+ col("valid_to") :+ col("is_current") :+
        col("sk") :+ col("__bucket")): _*)

  /** Materialize the dimension as a hash-bucketed snapshot table.
    * `tags` seeds the ledger — stamp `scd2@<logVersion>` when the
    * changes came from a change-log snapshot table so
    * [[refreshFromLog]] knows its applied frontier.
    */
  def createDim(spark: SparkSession, dim: String, changes: DataFrame,
                keyCol: String, tsCol: String, attrCols: Seq[String],
                tieCol: String, buckets: Int = 64,
                tags: Set[String] = Set.empty): Long =
    SnapshotTable.create(spark, dim,
      withKeys(buildDim(changes, keyCol, tsCol, attrCols, tieCol),
        keyCol, attrCols, tieCol, buckets),
      partCol = "__bucket", tags = tags)

  /** Incrementally merge a batch of change records into the dimension:
    * touched keys' timelines (existing versions re-read AS change
    * records — a version row is the change that created it — plus the
    * batch) are re-derived and upserted by `sk`; closed versions get
    * their `valid_to` updated in place. Exactly equivalent to a global
    * [[buildDim]] over the full change history.
    */
  def applyChanges(spark: SparkSession, dim: String, batch: DataFrame,
                   keyCol: String, tsCol: String, attrCols: Seq[String],
                   tieCol: String, buckets: Int = 64,
                   tag: Option[String] = None): (Long, Long, Long) = {
    val changeCols = col(keyCol) +: col(tsCol) +: attrCols.map(col) :+ col(tieCol)
    val touched = batch.select(col(keyCol)).distinct()
    val oldChanges = SnapshotTable.read(spark, dim)
      .join(broadcast(touched), Seq(keyCol), "left_semi")
      .select((col(keyCol) +: col("valid_from").as(tsCol) +:
        attrCols.map(col) :+ col(tieCol)): _*)
    val rebuilt = withKeys(
      buildDim(oldChanges.unionByName(batch.select(changeCols: _*)),
        keyCol, tsCol, attrCols, tieCol),
      keyCol, attrCols, tieCol, buckets)
    graft.JobLabel(spark, "scd2:merge") {
      SnapshotTable.commitMerge(spark, dim, rebuilt, "sk", "__bucket", tag)
    }
  }

  // ------------------------------------------------------------------
  // change-log-driven maintenance: the change history lives in a
  // snapshot table; the dimension advances by consuming its commit
  // windows, the applied log version riding the dim's tag ledger
  // ------------------------------------------------------------------

  private val LogTagRe = raw"scd2@(\d+)".r

  /** The change-log version the dimension has applied. LOUD when the
    * dim records no `scd2@` tag (it was not built from a log).
    */
  def appliedLogVersion(spark: SparkSession, dim: String): Long =
    SnapshotTable.currentTags(spark, dim)
      .collect { case LogTagRe(n) => n.toLong }
      .maxOption.getOrElse(sys.error(
        s"SCD2 dim $dim records no applied change-log version"))

  /** Advance the dimension to the change log's current version: the
    * unseen window's rows (append-only by contract — a change log never
    * rewrites) arrive as one [[applyChanges]] batch tagged
    * `scd2@<version>`, so a replayed or restarted refresh is a ledger
    * no-op and racing maintenance rebases via commitWithRetry at the
    * caller. O(window + touched timelines), never O(log) or O(dim).
    */
  def refreshFromLog(spark: SparkSession, dim: String, log: String,
                     keyCol: String, tsCol: String, attrCols: Seq[String],
                     tieCol: String, buckets: Int = 64): Long = {
    val applied = appliedLogVersion(spark, dim)
    val cur = SnapshotTable.currentVersion(spark, log)
    if (cur > applied) {
      val batch = SnapshotTable.readAppendWindow(spark, log, applied, cur)
        .select((col(keyCol) +: col(tsCol) +: attrCols.map(col) :+
          col(tieCol)): _*)
      applyChanges(spark, dim, batch, keyCol, tsCol, attrCols, tieCol,
        buckets, tag = Some(s"scd2@$cur"))
    }
    cur
  }

  /** Join each fact row to the dimension version valid at `factTs`
    * (the interval containing it). Facts predating a key's first
    * version are dropped (inner semantics). One sort per key via the
    * union-window as-of; `attrCols` land on the output under their own
    * names, plus the matched `valid_from`.
    */
  def pointInTime(fact: DataFrame, dim: DataFrame, factKey: String,
                  dimKey: String, factTs: Column,
                  attrCols: Seq[String], tieCol: String): DataFrame =
    AsOfJoin.asofBackwardSinglePass(fact, dim,
      factKey, dimKey, factTs, col("valid_from"),
      rightCols = attrCols :+ "valid_from", tiebreak = col(tieCol))

  // ------------------------------------------------------------------
  // driver queries — the orders change feed: each order is a change
  // record setting its customer's priority (key o_custkey, instant
  // o_orderdate, tie o_orderkey)
  // ------------------------------------------------------------------

  private val Attrs = Seq("o_orderpriority")

  private def ordersChanges(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir).select(col("o_custkey"), col("o_orderdate"),
      col("o_orderpriority"), col("o_orderkey"))

  private def fmtDim(dim: DataFrame): DataFrame = dim
    .filter(col("o_custkey") % 50 === 0)
    .select(col("o_custkey"),
      date_format(col("valid_from"), "yyyy-MM-dd").as("valid_from"),
      date_format(col("valid_to"), "yyyy-MM-dd").as("valid_to"),
      col("o_orderpriority"),
      col("is_current").cast("long").as("is_current"))
    .orderBy(col("o_custkey"), col("valid_from"))

  /** Driver query: the batch build, dumped for a deterministic key
    * slice — intervals, tie-resolution, and current flags all pinned
    * by the oracle's window-function replay.
    */
  def buildQuery(s: SparkSession, dir: String): DataFrame =
    fmtDim(buildDim(ordersChanges(s, dir), "o_custkey", "o_orderdate",
      Attrs, "o_orderkey"))

  // base dim over the pre-1998-07 history — built once per corpus
  // (read-only; each run clones it and applies the tail batch)
  private def dimBase(s: SparkSession, dir: String): String =
    Staged(s, dir, "scd2.dimBase") {
      val dim = Staged.scratch(s, "graft_scd2_base") + "/t"
      createDim(s, dim,
        ordersChanges(s, dir).filter(col("o_orderdate") < lit("1998-07-01")),
        "o_custkey", "o_orderdate", Attrs, "o_orderkey", buckets = 16)
      dim
    }

  /** Driver query: incremental maintenance — the July-1998+ order tail
    * arrives as a batch against the historical dimension; the merged
    * result must be indistinguishable from a global rebuild over the
    * full history (the oracle), which only holds if interval closing,
    * tie replay, and the sk-merge each apply exactly once.
    */
  def applyQuery(s: SparkSession, dir: String): DataFrame = {
    val work = SnapshotTable.cloneTable(s, dimBase(s, dir))
    applyChanges(s, work,
      ordersChanges(s, dir).filter(col("o_orderdate") >= lit("1998-07-01")),
      "o_custkey", "o_orderdate", Attrs, "o_orderkey", buckets = 16)
    fmtDim(SnapshotTable.read(s, work))
  }

  // change-log fixture for the streaming twin: the pre-July history is
  // log v1 and the dim base applied it (scd2@1); the July+ tail is the
  // log's v2 append. Both read-only after build — each run clones the
  // dim and lets the stream drive it to the log head.
  private def logScenario(s: SparkSession, dir: String): (String, String) =
    Staged(s, dir, "scd2.log") {
      val root = Staged.scratch(s, "graft_scd2_log")
      val log = s"$root/log"
      // split point is fixture-only (the oracle replays the GLOBAL
      // build): a late cutoff keeps the streamed window an honest
      // late-tail batch without re-measuring the batch twin's bulk
      val changes = ordersChanges(s, dir)
      SnapshotTable.create(s, log,
        changes.filter(col("o_orderdate") < lit("1998-07-20")),
        "o_orderpriority")
      SnapshotTable.commitAppend(s, log,
        changes.filter(col("o_orderdate") >= lit("1998-07-20")),
        "o_orderpriority")
      val dim = s"$root/dim"
      createDim(s, dim,
        SnapshotTable.readVersion(s, log, 1L)
          .select(col("o_custkey"), col("o_orderdate"),
            col("o_orderpriority"), col("o_orderkey")),
        "o_custkey", "o_orderdate", Attrs, "o_orderkey",
        buckets = 16, tags = Set("scd2@1"))
      (log, dim)
    }

  /** Driver query: STREAMING maintenance — the change log's commit log
    * is tailed as a stream and [[refreshFromLog]] advances a clone of
    * the historical dimension per micro-batch
    * ([[graft.streaming.SnapshotSink.runScd2]]). Shares the incremental
    * twin's oracle: stream ≡ batch apply ≡ global rebuild.
    */
  def streamQuery(s: SparkSession, dir: String): DataFrame = {
    val (log, dim) = logScenario(s, dir)
    val work = SnapshotTable.cloneTable(s, dim)
    graft.streaming.SnapshotSink.runScd2(s, log, work,
      "o_custkey", "o_orderdate", Attrs, "o_orderkey", buckets = 16)
    fmtDim(SnapshotTable.read(s, work))
  }

  /** Driver query: point-in-time revenue by the priority the CUSTOMER
    * held when each item shipped — every fact row resolved to its
    * containing validity interval, then aggregated.
    */
  def pitQuery(s: SparkSession, dir: String): DataFrame = {
    // the dimension is the pipeline's MAINTAINED ARTIFACT (building it
    // is q_scd2_build's measured path; maintaining it q_scd2_apply's) —
    // staged once per corpus; what this query measures is resolving
    // every fact row to its containing validity interval + the rollup
    val dimPath = graft.sources.Ingest.ensureStaged(
      graft.sources.Ingest.stagedPath(s, "graft_scd2_dim_",
        Seq(s"$dir/orders.parquet")))(tmp =>
      buildDim(ordersChanges(s, dir), "o_custkey", "o_orderdate",
        Attrs, "o_orderkey").write.parquet(tmp))
    val dim = graft.Tables.readCached(s, dimPath)
    val fact = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_shipdate"))
      .join(Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
    pointInTime(fact, dim, "o_custkey", "o_custkey", col("l_shipdate"),
      Attrs, "o_orderkey")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_extendedprice").cast("decimal(18,2)"))
          .cast("double").as("revenue"))
      .orderBy(col("o_orderpriority"))
  }

  override def queries: Map[String, QueryPack.Q] = Map(
    "q_scd2_build" -> (buildQuery _),
    "q_scd2_apply" -> (applyQuery _),
    "q_stream_scd2" -> (streamQuery _),
    "q_scd2_pit" -> (pitQuery _))

  private val ScdCte =
    """WITH dedup AS (
      |  SELECT o_custkey, o_orderdate,
      |    max_by(o_orderpriority, o_orderkey) AS o_orderpriority
      |  FROM orders GROUP BY o_custkey, o_orderdate
      |), scd AS (
      |  SELECT o_custkey, o_orderdate AS valid_from,
      |    lead(o_orderdate) OVER (PARTITION BY o_custkey
      |      ORDER BY o_orderdate) AS valid_to,
      |    o_orderpriority
      |  FROM dedup
      |)""".stripMargin

  private val DimSelect =
    """SELECT o_custkey, strftime(valid_from, '%Y-%m-%d') AS valid_from,
      |  strftime(valid_to, '%Y-%m-%d') AS valid_to, o_orderpriority,
      |  CAST(valid_to IS NULL AS BIGINT) AS is_current
      |FROM scd WHERE o_custkey % 50 = 0
      |ORDER BY o_custkey, valid_from""".stripMargin

  override def oracleSql: Map[String, String] = Map(
    "q_scd2_build" -> s"$ScdCte\n$DimSelect",
    "q_scd2_apply" -> s"$ScdCte\n$DimSelect",
    "q_stream_scd2" -> s"$ScdCte\n$DimSelect",
    "q_scd2_pit" ->
      s"""$ScdCte
        |SELECT s.o_orderpriority, CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN scd s ON orders.o_custkey = s.o_custkey
        |  AND l_shipdate >= s.valid_from
        |  AND (s.valid_to IS NULL OR l_shipdate < s.valid_to)
        |GROUP BY s.o_orderpriority ORDER BY s.o_orderpriority""".stripMargin)
}
