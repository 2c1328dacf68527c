package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType

import graft.{QueryPack, Staged}

/** `[EXT]` Registered materialized summary views over snapshot tables,
  * plus the bookkeeping the transparent query-rewrite rule
  * ([[graft.plans.MviewRewrite]]) needs to substitute them for source
  * scans — the published "materialized view rewrite" warehouse
  * optimization (Goldstein & Larson, SIGMOD '01; Calcite/Hive/
  * commercial warehouses all ship a variant).
  *
  * A view is a per-key summary of ONE value expression over ONE
  * source snapshot table:
  *
  * {{{ key, mv_n = count(*), mv_nv = count(v), mv_sum = sum(v),
  *     mv_min = min(v), mv_max = max(v) }}}
  *
  * where `v` is the source column, optionally under a recorded cast
  * (money columns are summarized as `cast(x as decimal(p,s))` so the
  * summary — and every rewritten query — stays EXACT; see the
  * [[QueryPack]] decimal-math rule). These five partials are exactly
  * the decomposition Spark's own partial aggregation uses, which is
  * what makes the rewrite algebraically safe: re-aggregating the
  * summary is the same reassociation Spark already performs map-side.
  *
  * '''Why this matters at 100 TB:''' the dashboard/operational
  * aggregates that hit a big fact table all day — per-key counts,
  * totals, extrema — collapse from a full fact scan to a scan of a
  * key-cardinality-sized summary, with NO query change: the rule
  * proves freshness from manifests and swaps the plan. Maintenance is
  * incremental ([[refresh]]): cost scales with touched groups, never
  * table size.
  *
  * Layout: the view is itself a snapshot table, hash-bucketed on the
  * key (`__bucket = pmod(xxhash64(key), buckets)`) so high-cardinality
  * keys cannot degenerate into one partition value per key, with
  * min/max stats on the key so rewritten key-predicates skip files.
  *
  * The catalog is session-process-scoped (a production deployment
  * would persist definitions in table headers); registration is by
  * normalized source path.
  */
object MaterializedView extends QueryPack {

  /** One registered view definition. `castTo` is the recorded value
    * cast (`None` = summarize the raw column); the rewrite only claims
    * aggregates over EXACTLY this expression shape.
    */
  final case class MvDef(view: String, src: String, keyCol: String,
                         valueCol: String, castTo: Option[DataType],
                         buckets: Int)

  private val registry =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[MvDef]]()

  private[graft] def norm(p: String): String =
    new org.apache.hadoop.fs.Path(p).toUri.toString

  /** Register a definition; replaces any prior registration with the
    * same view path OR the same (key, value, cast) signature over the
    * source — per-run fixture clones must supersede, not accumulate.
    */
  def register(d: MvDef): Unit =
    registry.compute(norm(d.src), (_, old) =>
      Option(old).getOrElse(Seq.empty).filterNot(e =>
        e.view == d.view || (e.keyCol == d.keyCol &&
          e.valueCol == d.valueCol && e.castTo == d.castTo)) :+ d)

  def deregister(view: String): Unit =
    registry.replaceAll((_, ds) => ds.filterNot(_.view == view))

  private[graft] def defsFor(srcPath: String): Seq[MvDef] =
    registry.getOrDefault(norm(srcPath), Seq.empty)

  private[graft] def anyRegistered: Boolean = !registry.isEmpty

  /** A registered fact⋈dim join summary ([[IncrementalView.createJoin]]
    * shape: `groupKey, n = count(*), total = sum(cast(valueCol as
    * decimal(18,2)))`, maintained by delta-join/bilinear refresh). The
    * rewrite answers `fact ⋈ dim GROUP BY groupKey` aggregates from it
    * when both scans match the applied `(vF, vD)` pair exactly.
    */
  final case class JoinMvDef(view: String, fact: String, dim: String,
                             factKey: String, dimKey: String,
                             groupKey: String, valueCol: String)

  private val joinRegistry =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Seq[JoinMvDef]]()

  /** Register a join-view definition (replace semantics as [[register]]). */
  def registerJoin(d: JoinMvDef): Unit =
    joinRegistry.compute((norm(d.fact), norm(d.dim)), (_, old) =>
      Option(old).getOrElse(Seq.empty).filterNot(e =>
        e.view == d.view || (e.factKey == d.factKey && e.dimKey == d.dimKey &&
          e.groupKey == d.groupKey && e.valueCol == d.valueCol)) :+ d)

  private[graft] def defsForJoin(factPath: String,
                                 dimPath: String): Seq[JoinMvDef] =
    joinRegistry.getOrDefault((norm(factPath), norm(dimPath)), Seq.empty)

  private[graft] def anyJoinRegistered: Boolean = !joinRegistry.isEmpty

  private def valueExpr(d: MvDef): Column =
    d.castTo.fold(col(d.valueCol))(t => col(d.valueCol).cast(t))

  private def withBucket(df: DataFrame, d: MvDef): DataFrame =
    df.withColumn("__bucket", pmod(xxhash64(col(d.keyCol)), lit(d.buckets)))

  private def summaryOf(src: DataFrame, d: MvDef): DataFrame = {
    val v = valueExpr(d)
    src.groupBy(col(d.keyCol)).agg(
      count(lit(1)).as("mv_n"),
      count(v).as("mv_nv"),
      sum(v).as("mv_sum"),
      min(v).as("mv_min"),
      max(v).as("mv_max"))
  }

  /** Materialize and register the summary of `src`'s CURRENT version.
    * The applied source version rides the view's tag ledger (`mv@v`) —
    * the same freshness protocol [[IncrementalView]] uses.
    */
  def create(spark: SparkSession, view: String, src: String,
             keyCol: String, valueCol: String,
             castTo: Option[DataType] = None, buckets: Int = 64): MvDef = {
    val d = MvDef(view, src, keyCol, valueCol, castTo, buckets)
    val v = SnapshotTable.currentVersion(spark, src)
    val summary =
      withBucket(summaryOf(SnapshotTable.readVersion(spark, src, v), d), d)
    SnapshotTable.create(spark, view, summary,
      partCol = "__bucket", statsCols = numericStats(summary, keyCol),
      tags = Set(s"mv@$v"))
    register(d)
    d
  }

  // manifest stats are stored as doubles — only a numeric key can
  // carry them (a string key would ANSI-throw at write)
  private def numericStats(df: DataFrame, keyCol: String): Seq[String] =
    df.schema(keyCol).dataType match {
      case _: org.apache.spark.sql.types.NumericType => Seq(keyCol)
      case _ => Seq.empty
    }

  /** Advance the view to the source's current version. Touched keys
    * come from the change feed; their rows are re-aggregated from the
    * current snapshot as ABSOLUTE state (no incremental +/- on floats,
    * so no drift, and a crashed-and-retried refresh is idempotent
    * beyond the tag ledger); groups whose rows all vanished are DELETED
    * in the SAME merge commit (`mv_n = 0` markers drive the merge's
    * delete clause), so ghost rows never exist at any version and the
    * refresh is ONE commit — no separate purge pass over the view.
    * Cost: O(touched groups' source rows + touched view buckets),
    * never O(source).
    */
  def refresh(spark: SparkSession, d: MvDef): Long = {
    val applied = IncrementalView.appliedVersion(spark, d.view)
    val cur = SnapshotTable.currentVersion(spark, d.src)
    if (cur > applied) {
      // file-level touched-key probe (over-approximate, never wrong:
      // recompute is absolute state) — two narrow scans instead of the
      // change feed's exceptAll pair reconstruction
      val touched = SnapshotTable
        .changedKeysBetween(spark, d.src, applied, cur, d.keyCol)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val recomputed = withBucket(summaryOf(
        SnapshotTable.read(spark, d.src)
          .join(broadcast(touched), Seq(d.keyCol), "left_semi"), d), d)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val st = recomputed.schema
        val vanished = withBucket(touched
          .join(recomputed.select(col(d.keyCol)), Seq(d.keyCol), "left_anti")
          .select(col(d.keyCol), lit(0L).as("mv_n"), lit(0L).as("mv_nv"),
            lit(null).cast(st("mv_sum").dataType).as("mv_sum"),
            lit(null).cast(st("mv_min").dataType).as("mv_min"),
            lit(null).cast(st("mv_max").dataType).as("mv_max")), d)
        // recomputed and vanished key sets are disjoint by construction
        // (left_anti), so the merge's one-row-per-key rule holds. The
        // COMMON window (appends/updates only) takes the plain upsert;
        // only a window that emptied whole groups pays merge-into's
        // clause machinery, whose delete clause retires them atomically
        // with the upserts — a vanished key with no view row falls
        // through the insert condition and is ignored
        if (vanished.isEmpty)
          SnapshotTable.commitMerge(spark, d.view, recomputed,
            d.keyCol, "__bucket", tag = Some(s"mv@$cur"))
        else
          SnapshotTable.commitMergeInto(spark, d.view,
            recomputed.unionByName(vanished), d.keyCol, "__bucket",
            updateWhen = Some(SnapshotTable.src("mv_n") > 0L),
            deleteWhen = Some(SnapshotTable.src("mv_n") === 0L),
            insertWhen = Some(col("mv_n") > 0L),
            tag = Some(s"mv@$cur"))
      } finally {
        recomputed.unpersist(false)
        touched.unpersist(false)
      }
    }
    cur
  }

  // ------------------------------------------------------------------
  // driver queries
  // ------------------------------------------------------------------

  private def dec(c: Column): Column = c.cast("decimal(18,2)")

  // static source (the memoized read-only orders snapshot) + its MV —
  // built once; repeated bench runs measure the REWRITTEN QUERY (the
  // operator under test), not the fixture build
  private def staticMv(s: SparkSession, dir: String): MvDef =
    Staged(s, dir, "mview.static") {
      val view = Staged.scratch(s, "graft_mview") + "/t"
      create(s, view, SnapshotTable.deleteBase(s, dir),
        "o_orderpriority", "o_totalprice",
        castTo = Some(org.apache.spark.sql.types.DecimalType(18, 2)),
        buckets = 4)
    }

  // 3-version source (base → append → merge; read-only after build:
  // refreshes mutate the VIEW, never the source) + the v1 view base
  // each run clones
  private def rwScenario(s: SparkSession, dir: String): (String, String) =
    Staged(s, dir, "mview.rwSrc") {
      val src = SnapshotTable.cloneTable(s, SnapshotTable.deleteBase(s, dir))
      val base = Staged.scratch(s, "graft_mview_base") + "/t"
      val d = MvDef(base, src, "o_custkey", "o_totalprice",
        Some(org.apache.spark.sql.types.DecimalType(18, 2)), buckets = 16)
      SnapshotTable.create(s, base,
        withBucket(summaryOf(SnapshotTable.read(s, src), d), d),
        partCol = "__bucket", statsCols = Seq("o_custkey"),
        tags = Set("mv@1"))
      SnapshotTable.appendMergeInto(s, dir, src)
      (src, base)
    }

  /** Driver query: per-priority count/sum/min/max over the SOURCE
    * snapshot, answered through the transparent rewrite — the plan
    * scans the 5-row summary, never the fact files (MviewRewriteSpec
    * pins the plan; this query pins the VALUES against the oracle's
    * direct source aggregate, which only match if the summary and its
    * re-aggregation are exact).
    */
  def rewriteQuery(s: SparkSession, dir: String): DataFrame = {
    val d = staticMv(s, dir)
    SnapshotTable.read(s, d.src)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(dec(col("o_totalprice"))).cast("double").as("total_price"),
        min(dec(col("o_totalprice"))).cast("double").as("min_price"),
        max(dec(col("o_totalprice"))).cast("double").as("max_price"))
      .orderBy(col("o_orderpriority"))
  }

  /** Driver query: the key-filtered variant — the predicate transfers
    * onto the view scan (and its manifest stats) unchanged.
    */
  def rewriteSelQuery(s: SparkSession, dir: String): DataFrame = {
    val d = staticMv(s, dir)
    SnapshotTable.read(s, d.src)
      .filter(col("o_orderpriority").isin("1-URGENT", "3-MEDIUM"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(dec(col("o_totalprice"))).cast("double").as("total_price"))
      .orderBy(col("o_orderpriority"))
  }

  /** Driver query: the full lifecycle — view materialized at source v1,
    * source advances through an append and a merge, [[refresh]] brings
    * the view current (cost: touched custkeys only), and the per-key
    * aggregate is answered through the rewrite. The oracle replays the
    * commits relationally; values match only if maintenance applied
    * every change exactly once AND the freshness proof admitted the
    * refreshed view.
    */
  def refreshRewriteQuery(s: SparkSession, dir: String): DataFrame = {
    val (src, base) = rwScenario(s, dir)
    val d = MvDef(SnapshotTable.cloneTable(s, base), src, "o_custkey",
      "o_totalprice", Some(org.apache.spark.sql.types.DecimalType(18, 2)),
      buckets = 16)
    refresh(s, d)
    register(d)
    SnapshotTable.read(s, src)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"),
        sum(dec(col("o_totalprice"))).cast("double").as("total_price"))
      .orderBy(col("o_custkey"))
  }

  override def queries: Map[String, QueryPack.Q] = Map(
    "q_mview_rewrite" -> (rewriteQuery _),
    "q_mview_rewrite_sel" -> (rewriteSelQuery _),
    "q_mview_refresh_rw" -> (refreshRewriteQuery _))

  override def oracleSql: Map[String, String] = Map(
    "q_mview_rewrite" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
        |  CAST(min(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS min_price,
        |  CAST(max(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS max_price
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_mview_rewrite_sel" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        |FROM orders WHERE o_orderpriority IN ('1-URGENT', '3-MEDIUM')
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_mview_refresh_rw" ->
      """WITH changed AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice + 1000.0 AS o_totalprice
        |  FROM orders WHERE o_orderkey % 97 = 0
        |), fresh AS (
        |  SELECT (SELECT max(o_orderkey) FROM orders) + i AS o_orderkey,
        |    CAST(1 AS BIGINT) AS o_custkey, 123.45 AS o_totalprice
        |  FROM (SELECT unnest(generate_series(1, 5)) AS i)
        |), upd AS (
        |  SELECT * FROM changed UNION ALL SELECT * FROM fresh
        |), merged AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice
        |  FROM orders WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey, o_totalprice FROM upd
        |)
        |SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        |FROM merged GROUP BY o_custkey ORDER BY o_custkey""".stripMargin)
}
