package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QueryPack, Staged}

/** `[EXT]` incrementally-maintained MATERIALIZED VIEW over a snapshot
  * table — the change feed's flagship consumer. The view is itself a
  * snapshot table holding `SELECT key, count(*) AS n, sum(value) AS
  * total GROUP BY key`, and [[refresh]] advances it by consuming
  * [[SnapshotTable.readChangesBetween]] instead of recomputing:
  *
  *   - deltas come from the feed with a SIGN (+1 insert, −1 delete), so
  *     an update's delete+insert pair nets to its true contribution and
  *     a compaction's empty diff costs nothing;
  *   - only NET-CHANGED groups touch the view — the merge reads and
  *     rewrites just the files holding those groups (the usual
  *     commitMerge file-granular carry-by-reference);
  *   - the applied source version rides the view's own tag ledger
  *     (`mv@<v>`), and the merge commit carries the SAME tag — a
  *     crashed-and-retried refresh is a no-op, never a double-apply;
  *   - groups whose count reaches zero are DELETED inside the same
  *     merge commit (merge-into's delete clause), so the view never
  *     shows ghosts at ANY version.
  *
  * Aggregates are the INVERTIBLE ones (count, sum — in exact decimal,
  * so repeated incremental refreshes equal a recompute bit-for-bit);
  * min/max would need recompute-on-delete and are out of scope, the
  * standard incremental-view restriction.
  *
  * Scale shape: refresh cost is O(changes + touched view files), never
  * O(source). At 100 TB with per-partition aggregates this is the
  * difference between a streaming-cadence rollup and an hourly full
  * scan.
  */
object IncrementalView extends QueryPack {

  private val TagRe = raw"mv@(\d+)".r

  private def totalType = "decimal(28,2)"

  private def aggregateOf(src: DataFrame, keyCol: String,
                          valueCol: String): DataFrame =
    src.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n"),
        sum(col(valueCol).cast("decimal(18,2)")).cast(totalType).as("total"))

  /** Materialize the view from source version `atVersion` (default
    * current), recording it as applied.
    */
  def create(spark: SparkSession, view: String, src: String,
             keyCol: String, valueCol: String,
             atVersion: Option[Long] = None): Long = {
    val v = atVersion.getOrElse(SnapshotTable.currentVersion(spark, src))
    SnapshotTable.create(spark, view,
      aggregateOf(SnapshotTable.readVersion(spark, src, v), keyCol, valueCol),
      partCol = keyCol, tags = Set(s"mv@$v"))
  }

  /** The highest source version the view has applied. */
  def appliedVersion(spark: SparkSession, view: String): Long =
    SnapshotTable.readManifestList(spark, view,
      SnapshotTable.currentVersion(spark, view))._2.tags
      .collect { case TagRe(n) => n.toLong }
      .maxOption.getOrElse(sys.error(
        s"incremental view $view records no applied source version"))

  /** Advance the view to the source's current version by consuming the
    * change feed. Returns (view version, source version applied).
    * Idempotent: a retry of an already-applied refresh no-ops on the
    * tag ledger.
    */
  /** Merge per-group (dn, dtotal) deltas into the view under `tag` —
    * shared by the single-source and join refreshes. Groups netted to
    * n = 0 are DELETED in the same commit (merge-into's delete clause),
    * so ghost rows never exist at any view version and no separate
    * purge pass runs; the common window (nothing netted to zero — one
    * cheap probe on the cached update frame) takes the plain upsert.
    */
  private def mergeDeltas(spark: SparkSession, view: String,
                          delta: DataFrame, keyCol: String,
                          tag: String): Unit = {
    val updated = delta
      .join(SnapshotTable.read(spark, view)
        .withColumnRenamed("n", "__n").withColumnRenamed("total", "__t"),
        Seq(keyCol), "left_outer")
      .select(col(keyCol),
        (coalesce(col("__n"), lit(0L)) + col("dn")).as("n"),
        (coalesce(col("__t"), lit(0).cast(totalType)) + col("dtotal"))
          .cast(totalType).as("total"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      if (updated.filter(col("n") === 0L).isEmpty)
        SnapshotTable.commitMerge(spark, view, updated, keyCol, keyCol,
          tag = Some(tag))
      else
        // a zero-group with no view row (insert+delete inside one
        // window) falls through the insert condition and is ignored
        SnapshotTable.commitMergeInto(spark, view, updated, keyCol, keyCol,
          updateWhen = Some(SnapshotTable.src("n") > 0L),
          deleteWhen = Some(SnapshotTable.src("n") === 0L),
          insertWhen = Some(col("n") > 0L),
          tag = Some(tag))
    } finally updated.unpersist(false)
    ()
  }

  def refresh(spark: SparkSession, view: String, src: String,
              keyCol: String, valueCol: String): (Long, Long) = {
    val applied = appliedVersion(spark, view)
    val cur = SnapshotTable.currentVersion(spark, src)
    if (cur > applied) {
      val changes = SnapshotTable.readChangesBetween(spark, src, applied, cur)
      val sign = when(col("_change_type") === "insert", 1L).otherwise(-1L)
      val delta = changes.groupBy(col(keyCol))
        .agg(sum(sign).as("dn"),
          sum((col(valueCol).cast("decimal(18,2)") * sign)
            .cast(totalType)).cast(totalType).as("dtotal"))
        .filter(col("dn") =!= 0L || col("dtotal") =!= 0.0)
      mergeDeltas(spark, view, delta, keyCol, s"mv@$cur")
    }
    (SnapshotTable.currentVersion(spark, view), math.max(applied, cur))
  }

  // ---- JOIN views (delta-join maintenance over append-only sources)
  //
  // The view is `SELECT g, count(*), sum(value) FROM fact JOIN dim ON
  // fact.fk = dim.dk GROUP BY g`. For APPEND-ONLY sources the join's
  // delta is exactly
  //
  //     ΔF ⋈ D_cur   ∪   F_prev ⋈ ΔD
  //
  // — the classic delta-join rule (ΔF⋈ΔD lands in the first leg
  // because D_cur already contains ΔD, and using F_PREV in the second
  // leg is what keeps it from landing twice). Snapshot TIME TRAVEL
  // supplies F_prev and D_cur exactly (readVersion) — no shadow
  // bookkeeping tables, which is the part a hive-layout pipeline
  // cannot do. Refresh cost is O(ΔF ⋈ dim + fact_prev ⋈ ΔD + touched
  // view files): with a broadcast-sized dim both legs are broadcast
  // joins over only the delta files (the streaming-ingest steady
  // state), never a full fact⋈dim recompute.
  //
  // The applied (fact, dim) version PAIR rides the view's tag ledger
  // (`mvj@<vF>:<vD>`) on the merge commit itself — a replayed refresh
  // is a no-op. Windows carrying deletes/updates take the full
  // BILINEAR signed-delta rule (see [[refreshJoin]]) instead of the
  // two-leg fast path — both forms come from the same snapshot layer
  // (change feed for the deltas, time travel for the static sides).

  private val JoinTagRe = raw"mvj@(\d+):(\d+)".r

  private def joinAggregateOf(rows: DataFrame, groupKey: String,
                              valueCol: String): DataFrame =
    rows.groupBy(col(groupKey))
      .agg(count(lit(1)).as("n"),
        sum(col(valueCol).cast("decimal(18,2)")).cast(totalType).as("total"))

  /** Materialize the join view at source versions (`atF`, `atD`)
    * (default current), recording the applied pair.
    */
  def createJoin(spark: SparkSession, view: String,
                 fact: String, dim: String,
                 factKey: String, dimKey: String,
                 groupKey: String, valueCol: String,
                 atF: Option[Long] = None, atD: Option[Long] = None): Long = {
    val vF = atF.getOrElse(SnapshotTable.currentVersion(spark, fact))
    val vD = atD.getOrElse(SnapshotTable.currentVersion(spark, dim))
    val f = SnapshotTable.readVersion(spark, fact, vF)
    val d = SnapshotTable.readVersion(spark, dim, vD)
    SnapshotTable.create(spark, view,
      joinAggregateOf(f.join(d, f(factKey) === d(dimKey)), groupKey, valueCol),
      partCol = groupKey, tags = Set(s"mvj@$vF:$vD"))
  }

  /** The (fact, dim) version pair the join view has applied. */
  def appliedJoinVersions(spark: SparkSession, view: String): (Long, Long) =
    SnapshotTable.readManifestList(spark, view,
      SnapshotTable.currentVersion(spark, view))._2.tags
      .collect { case JoinTagRe(f, d) => (f.toLong, d.toLong) }
      .maxOption.getOrElse(sys.error(
        s"join view $view records no applied version pair"))

  /** The window's signed change rows: `__s` = +1 insert / −1 delete
    * (an update is its delete+insert pair, which the bag algebra nets
    * exactly). Second return: whether any non-insert was present —
    * the fast append-only path needs to know.
    */
  private def signedChanges(spark: SparkSession, src: String,
                            from: Long, to: Long): (DataFrame, Boolean) = {
    val signed = SnapshotTable.readChangesBetween(spark, src, from, to)
      .withColumn("__s", when(col("_change_type") === "insert", 1L)
        .otherwise(-1L))
      .drop("_change_type")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    (signed, signed.filter(col("__s") =!= 1L).limit(1).count() > 0L)
  }

  /** Advance the join view to both sources' current versions by the
    * delta-join rule. Returns (view version, (vF, vD) applied).
    * Idempotent via the pair tag.
    *
    * Append-only windows use the two-leg form (ΔF⋈D_cur ∪ F_prev⋈ΔD —
    * the ΔF⋈ΔD cross term lands in the first leg because D_cur already
    * contains ΔD). Windows carrying deletes/updates fall back to the
    * full BILINEAR rule over signed bags (the DBSP construction):
    *
    *     Δ(F⋈D) = ΔF⋈D_prev  ∪  F_prev⋈ΔD  ∪  ΔF⋈ΔD
    *
    * with each joined row weighted by the product of its sides' signs
    * — an update nets its delete+insert pair, a dim re-keying MOVES a
    * group's rows (−1 under the old group, +1 under the new), and a
    * group whose count reaches zero is purged. All four relations come
    * from the snapshot layer itself: the two deltas from the change
    * feed, the two PREVIOUS states from time travel.
    */
  def refreshJoin(spark: SparkSession, view: String,
                  fact: String, dim: String,
                  factKey: String, dimKey: String,
                  groupKey: String, valueCol: String): (Long, (Long, Long)) = {
    val (aF, aD) = appliedJoinVersions(spark, view)
    val cF = SnapshotTable.currentVersion(spark, fact)
    val cD = SnapshotTable.currentVersion(spark, dim)
    if (cF > aF || cD > aD) {
      val (dF, delF) =
        if (cF > aF) { val (d, x) = signedChanges(spark, fact, aF, cF); (Some(d), x) }
        else (None, false)
      val (dD, delD) =
        if (cD > aD) { val (d, x) = signedChanges(spark, dim, aD, cD); (Some(d), x) }
        else (None, false)
      try {
      val legs = Seq.newBuilder[DataFrame]
      def leg(rows: DataFrame, sign: org.apache.spark.sql.Column): DataFrame =
        rows.select(col(groupKey), col(valueCol), sign.as("__sign"))
      if (delF || delD) {
        // bilinear signed form: both static sides are the PREVIOUS
        // snapshots, the cross term carries the sign product
        val fPrev = SnapshotTable.readVersion(spark, fact, aF)
        val dPrev = SnapshotTable.readVersion(spark, dim, aD)
        dF.foreach { f =>
          legs += leg(f.join(dPrev, f(factKey) === dPrev(dimKey)), f("__s")) }
        dD.foreach { d =>
          legs += leg(fPrev.join(d, fPrev(factKey) === d(dimKey)), d("__s")) }
        for (f <- dF; d <- dD) {
          val fr = f.withColumnRenamed("__s", "__sf")
          val dr = d.withColumnRenamed("__s", "__sd")
          legs += leg(fr.join(dr, fr(factKey) === dr(dimKey)),
            col("__sf") * col("__sd"))
        }
      } else {
        // append-only fast path: no previous-dim read needed
        dF.foreach { f =>
          val dCur = SnapshotTable.readVersion(spark, dim, cD)
          legs += leg(f.join(dCur, f(factKey) === dCur(dimKey)), lit(1L)) }
        dD.foreach { d =>
          val fPrev = SnapshotTable.readVersion(spark, fact, aF)
          legs += leg(fPrev.join(d, fPrev(factKey) === d(dimKey)), lit(1L)) }
      }
      val fresh = legs.result().reduce(_.unionByName(_))
      val delta = fresh.groupBy(col(groupKey))
        .agg(sum(col("__sign")).as("dn"),
          sum((col(valueCol).cast("decimal(18,2)") * col("__sign"))
            .cast(totalType)).cast(totalType).as("dtotal"))
        .filter(col("dn") =!= 0L || col("dtotal") =!= 0.0)
      mergeDeltas(spark, view, delta, groupKey, s"mvj@$cF:$cD")
      } finally {
        // a failed leg/merge must not leak the persisted change frames
        // for the session's lifetime
        (dF ++ dD).foreach(_.unpersist(false))
      }
    }
    (SnapshotTable.currentVersion(spark, view), (cF, cD))
  }

  // ---- non-invertible aggregates (min/max) — TOUCHED-GROUP RECOMPUTE
  //
  // min/max cannot be maintained from signed deltas (a delete of the
  // group minimum needs the runner-up, which the feed doesn't carry).
  // The published incremental-view answer (Materialize / DBSP call it
  // partial recomputation) is: the feed identifies WHICH groups
  // changed; those groups — and only those — are re-aggregated from
  // the current source snapshot and merged into the view. Cost is
  // O(touched groups' source rows + touched view files), never
  // O(source): the group probe is a broadcast semi-join, and when the
  // source is clustered by the group key, manifest stats prune the
  // recompute scan to the groups' files.

  private def fullAggregateOf(src: DataFrame, keyCol: String,
                              valueCol: String): DataFrame =
    src.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n"),
        sum(col(valueCol).cast("decimal(18,2)")).cast(totalType).as("total"),
        min(col(valueCol).cast("decimal(18,2)")).as("vmin"),
        max(col(valueCol).cast("decimal(18,2)")).as("vmax"))

  /** High-cardinality keys must not become one partition VALUE (= one
    * file) each — the view is HASH-BUCKETED instead: `__bucket =
    * pmod(xxhash64(key), buckets)` is the partition column, so a merge
    * touching K groups rewrites at most K buckets' files and the
    * per-key layout stays right-sized at any cardinality.
    */
  private def withBucket(df: DataFrame, keyCol: String,
                         buckets: Int): DataFrame =
    if (buckets <= 0) df
    else df.withColumn("__bucket", pmod(xxhash64(col(keyCol)), lit(buckets)))

  private def partColOf(keyCol: String, buckets: Int): String =
    if (buckets <= 0) keyCol else "__bucket"

  /** Materialize the min/max-bearing view at source version
    * `atVersion` (default current). `buckets` > 0 hash-buckets the
    * view layout (use for high-cardinality keys).
    */
  def createFull(spark: SparkSession, view: String, src: String,
                 keyCol: String, valueCol: String,
                 atVersion: Option[Long] = None, buckets: Int = 0): Long = {
    val v = atVersion.getOrElse(SnapshotTable.currentVersion(spark, src))
    SnapshotTable.create(spark, view,
      withBucket(fullAggregateOf(
        SnapshotTable.readVersion(spark, src, v), keyCol, valueCol),
        keyCol, buckets),
      partCol = partColOf(keyCol, buckets), tags = Set(s"mv@$v"))
  }

  /** Advance the min/max view to the source's current version:
    * touched groups come from the change feed, their new aggregate
    * rows from re-aggregating ONLY those groups; vanished groups are
    * deleted by the same merge commit (n=0 markers through the delete
    * clause). Because recomputed rows are ABSOLUTE state (not deltas),
    * a crashed-and-retried refresh is idempotent even beyond the tag
    * ledger.
    */
  def refreshFull(spark: SparkSession, view: String, src: String,
                  keyCol: String, valueCol: String,
                  buckets: Int = 0): (Long, Long) = {
    val applied = appliedVersion(spark, view)
    val cur = SnapshotTable.currentVersion(spark, src)
    val part = partColOf(keyCol, buckets)
    if (cur > applied) {
      // file-level touched-key probe (over-approximate, never wrong:
      // the recompute is absolute state) — see changedKeysBetween
      val touched = SnapshotTable
        .changedKeysBetween(spark, src, applied, cur, keyCol)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // recomputed feeds BOTH union legs (its own rows and the
      // vanished anti-join) — persist so the CDC read + group
      // re-aggregation runs once, not once per leg
      val recomputed = withBucket(fullAggregateOf(
        SnapshotTable.read(spark, src)
          .join(broadcast(touched), Seq(keyCol), "left_semi"),
        keyCol, valueCol), keyCol, buckets)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        // groups every one of whose rows vanished produce no recomputed
        // row — n=0 markers drive merge-into's delete clause, retiring
        // them atomically with the upserts (ghost rows never exist);
        // the common no-vanish window takes the plain upsert
        val vanished = withBucket(touched
          .join(recomputed.select(col(keyCol)), Seq(keyCol), "left_anti")
          .select(col(keyCol), lit(0L).as("n"),
            lit(null).cast(totalType).as("total"),
            lit(null).cast("decimal(18,2)").as("vmin"),
            lit(null).cast("decimal(18,2)").as("vmax")), keyCol, buckets)
        if (vanished.isEmpty)
          SnapshotTable.commitMerge(spark, view, recomputed, keyCol, part,
            tag = Some(s"mv@$cur"))
        else
          SnapshotTable.commitMergeInto(spark, view,
            recomputed.unionByName(vanished), keyCol, part,
            updateWhen = Some(SnapshotTable.src("n") > 0L),
            deleteWhen = Some(SnapshotTable.src("n") === 0L),
            insertWhen = Some(col("n") > 0L),
            tag = Some(s"mv@$cur"))
      } finally {
        recomputed.unpersist(false)
        touched.unpersist(false)
      }
    }
    (SnapshotTable.currentVersion(spark, view), math.max(applied, cur))
  }

  /** Driver query: materialize per-priority (count, total) at source
    * version 1 of the CDC scenario, then refresh through its append,
    * merge, and equality-delete commits — the view must equal the
    * direct aggregate of the FINAL state (the oracle), which only
    * holds if every change applied exactly once with exact arithmetic.
    */
  def mviewQuery(s: SparkSession, dir: String): DataFrame = {
    val src = SnapshotTable.changesScenario(s, dir)
    // the view CREATE (a full aggregate of source v1 + table write) is
    // identical across bench/verify invocations — memoize it and hand
    // each run a hard-link CLONE, so repeated runs measure the REFRESH
    // (the operator under test), not the fixture build. Same discipline
    // as SnapshotTable.deleteBase.
    val base = Staged(s, dir, "incrView.mvBase") {
      val b = Staged.scratch(s, "graft_snapshot_mv") + "/t"
      create(s, b, src, "o_orderpriority", "o_totalprice",
        atVersion = Some(1L))
      b
    }
    val view = SnapshotTable.cloneTable(s, base)
    refresh(s, view, src, "o_orderpriority", "o_totalprice")
    SnapshotTable.read(s, view)
      .select(col("o_orderpriority"), col("n"),
        col("total").cast("double").as("total_price"))
      .orderBy(col("o_orderpriority"))
  }

  /** Driver query: the min/max view through the same CDC scenario,
    * keyed by CUSTOMER (~10% of groups touched, vs priority where
    * every group is) — correct only if touched-group recompute
    * re-derives minima that DELETES raised (the case signed deltas
    * cannot express) while UNtouched groups carry by reference.
    */
  def mviewMinMaxQuery(s: SparkSession, dir: String): DataFrame = {
    val src = SnapshotTable.changesScenario(s, dir)
    val base = Staged(s, dir, "incrView.mv2Base") {
      val b = Staged.scratch(s, "graft_snapshot_mv2") + "/t"
      createFull(s, b, src, "o_custkey", "o_totalprice",
        atVersion = Some(1L), buckets = 16)
      b
    }
    val view = SnapshotTable.cloneTable(s, base)
    refreshFull(s, view, src, "o_custkey", "o_totalprice", buckets = 16)
    SnapshotTable.read(s, view)
      .select(col("o_custkey"), col("n"),
        col("vmin").cast("double").as("min_price"),
        col("vmax").cast("double").as("max_price"))
      .orderBy(col("o_custkey"))
  }

  // join-view scenario: an append-only fact/dim snapshot pair — v1
  // holds most rows, v2 appends the rest — read-only after build,
  // memoized like the other scenarios
  private def joinScenario(s: SparkSession, dir: String): (String, String) =
    Staged(s, dir, "incrView.joinSrc") {
      val root = Staged.scratch(s, "graft_mvj")
      val fact = s"$root/fact"
      val dim = s"$root/dim"
      val orders = graft.Tables.orders(s, dir).select(
        col("o_orderkey"), col("o_custkey"),
        col("o_totalprice"), col("o_orderpriority"))
      SnapshotTable.create(s, fact,
        orders.filter(col("o_orderkey") % 5 =!= 0), "o_orderpriority")
      SnapshotTable.commitAppend(s, fact,
        orders.filter(col("o_orderkey") % 5 === 0), "o_orderpriority")
      val cust = graft.Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment"))
      SnapshotTable.create(s, dim,
        cust.filter(col("c_custkey") % 7 =!= 0), "c_mktsegment")
      SnapshotTable.commitAppend(s, dim,
        cust.filter(col("c_custkey") % 7 === 0), "c_mktsegment")
      (fact, dim)
    }

  // the join view at (fact v1, dim v1): each run clones it and refreshes
  private def mvjBase(s: SparkSession, dir: String,
                      fact: String, dim: String): String =
    Staged(s, dir, "incrView.mvjBase") {
      val b = Staged.scratch(s, "graft_mvj_base") + "/t"
      createJoin(s, b, fact, dim, "o_custkey", "c_custkey",
        "c_mktsegment", "o_totalprice", atF = Some(1L), atD = Some(1L))
      b
    }

  /** Driver query: segment revenue maintained by DELTA-JOIN through
    * one fact append and one dim append — correct only if ΔF joins the
    * CURRENT dim, ΔD joins the PREVIOUS fact (double-count bug
    * otherwise: rows whose two sides arrive in the same window), and
    * the pair tag applies exactly once. Oracle: the plain join
    * aggregate of the FINAL state.
    */
  def mviewJoinQuery(s: SparkSession, dir: String): DataFrame = {
    val (fact, dim) = joinScenario(s, dir)
    val view = SnapshotTable.cloneTable(s, mvjBase(s, dir, fact, dim))
    refreshJoin(s, view, fact, dim, "o_custkey", "c_custkey",
      "c_mktsegment", "o_totalprice")
    SnapshotTable.read(s, view)
      .select(col("c_mktsegment"), col("n"),
        col("total").cast("double").as("total_price"))
      .orderBy(col("c_mktsegment"))
  }

  /** STREAMING twin of [[mviewJoinQuery]]: the same clone-and-refresh,
    * but the refresh is DRIVEN by tailing the fact table's commit log
    * ([[graft.streaming.SnapshotSink.runJoinView]]) — one micro-batch
    * per fact version window, the view's pair tag absorbing replays.
    * Shares the batch twin's oracle: stream ≡ batch is the claim.
    */
  def mviewJoinStreamQuery(s: SparkSession, dir: String): DataFrame = {
    val (fact, dim) = joinScenario(s, dir)
    val view = SnapshotTable.cloneTable(s, mvjBase(s, dir, fact, dim))
    graft.streaming.SnapshotSink.runJoinView(s, fact, dim, view,
      "o_custkey", "c_custkey", "c_mktsegment", "o_totalprice")
    SnapshotTable.read(s, view)
      .select(col("c_mktsegment"), col("n"),
        col("total").cast("double").as("total_price"))
      .orderBy(col("c_mktsegment"))
  }

  /** Driver query: the join view consumed TRANSPARENTLY — the user
    * writes the plain `fact ⋈ dim GROUP BY segment` aggregate over the
    * source scans and [[graft.plans.MviewRewrite]] substitutes the
    * refreshed view (count → Σn, decimal sum → Σtotal) after proving
    * both scans match the applied (vF, vD) pair. Values pinned by the
    * same final-state oracle as the explicit-read twin. The per-run
    * [[refreshJoin]] call is the steady-state no-op (view already
    * current — the version probe alone), keeping the lifecycle in the
    * measured path without re-measuring the refresh the twin times.
    */
  def mviewJoinRewriteQuery(s: SparkSession, dir: String): DataFrame = {
    val (fact, dim) = joinScenario(s, dir)
    // join_rw measures the REWRITE (proof + substitution), not the
    // refresh its explicit-read twin already times live — so the
    // refreshed view is staged once per session (the steady state a
    // rewrite query runs against in production)
    val view = Staged(s, dir, "incrView.mvjFresh") {
      val w = SnapshotTable.cloneTable(s, mvjBase(s, dir, fact, dim))
      refreshJoin(s, w, fact, dim, "o_custkey", "c_custkey",
        "c_mktsegment", "o_totalprice")
      w
    }
    refreshJoin(s, view, fact, dim, "o_custkey", "c_custkey",
      "c_mktsegment", "o_totalprice")
    MaterializedView.registerJoin(MaterializedView.JoinMvDef(
      view, fact, dim, "o_custkey", "c_custkey",
      "c_mktsegment", "o_totalprice"))
    val f = SnapshotTable.read(s, fact)
    val d = SnapshotTable.read(s, dim)
    f.join(d, f("o_custkey") === d("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(18,2)"))
          .cast("double").as("total_price"))
      .orderBy(col("c_mktsegment"))
  }

  override def queries: Map[String, QueryPack.Q] = Map(
    "q_snapshot_mview" -> (mviewQuery _),
    "q_snapshot_mview2" -> (mviewMinMaxQuery _),
    "q_snapshot_mview_join" -> (mviewJoinQuery _),
    "q_mview_join_rw" -> (mviewJoinRewriteQuery _),
    "q_stream_mview_join" -> (mviewJoinStreamQuery _))

  override def oracleSql: Map[String, String] = Map(
    "q_snapshot_mview_join" ->
      """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q_stream_mview_join" ->
      """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q_mview_join_rw" ->
      """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q_snapshot_mview" ->
      """WITH changed AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice + 1000.0 AS o_totalprice,
        |    o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderkey % 97 = 0
        |), fresh AS (
        |  SELECT (SELECT max(o_orderkey) FROM orders) + i AS o_orderkey,
        |    CAST(1 AS BIGINT) AS o_custkey, 123.45 AS o_totalprice,
        |    '1999-01-01' AS o_orderdate, '1-URGENT' AS o_orderpriority
        |  FROM (SELECT unnest(generate_series(1, 5)) AS i)
        |), upd AS (
        |  SELECT * FROM changed UNION ALL SELECT * FROM fresh
        |), merged AS (
        |  SELECT o_orderkey, o_totalprice, o_orderpriority
        |  FROM orders WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
        |  UNION ALL
        |  SELECT o_orderkey, o_totalprice, o_orderpriority FROM upd
        |)
        |SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        |FROM merged
        |WHERE NOT (o_orderkey % 101 = 0 AND o_orderkey BETWEEN 1000 AND 5000)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_snapshot_mview2" ->
      """WITH changed AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice + 1000.0 AS o_totalprice,
        |    o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderkey % 97 = 0
        |), fresh AS (
        |  SELECT (SELECT max(o_orderkey) FROM orders) + i AS o_orderkey,
        |    CAST(1 AS BIGINT) AS o_custkey, 123.45 AS o_totalprice,
        |    '1999-01-01' AS o_orderdate, '1-URGENT' AS o_orderpriority
        |  FROM (SELECT unnest(generate_series(1, 5)) AS i)
        |), upd AS (
        |  SELECT * FROM changed UNION ALL SELECT * FROM fresh
        |), merged AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice
        |  FROM orders WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey, o_totalprice FROM upd
        |)
        |SELECT o_custkey, CAST(count(*) AS BIGINT) AS n,
        |  CAST(min(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS min_price,
        |  CAST(max(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS max_price
        |FROM merged
        |WHERE NOT (o_orderkey % 101 = 0 AND o_orderkey BETWEEN 1000 AND 5000)
        |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin)
}
