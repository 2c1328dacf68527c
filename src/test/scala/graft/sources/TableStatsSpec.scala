package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.SparkSpec.withoutRules
import graft.plans.MetadataAggPushdown

/** KMV distinct sketches: exact while unsaturated, bounded-error when
  * saturated, mergeable, delta-maintainable on append-only windows, and
  * surfaced to the optimizer ONLY under a fingerprint-verified proof —
  * a stale or saturated sketch must never answer `count(distinct)`.
  */
class TableStatsSpec extends SparkSpec {

  private def freshDir(): String =
    graft.Staged.scratch(spark, "tstats") + "/t"

  private def rewritten(df: DataFrame): Boolean = {
    val plan = df.queryExecution.optimizedPlan
    plan.collectFirst { case l: LogicalRelation => l }.isEmpty &&
      plan.collectFirst { case l: LocalRelation => l }.nonEmpty
  }

  test("exact regime: sketch of a small column IS its distinct count; " +
    "merge of disjoint halves equals the sketch of the union") {
    import spark.implicits._
    val df = (1 to 500).map(i => i % 97).toDF("v")
    val s = TableStats.sketchOf(df, "v", k = 256)
    assert(!s.sat && s.exact.contains(97L) && s.estimate === 97.0)
    val a = TableStats.sketchOf((1 to 250).map(i => i % 97).toDF("v"), "v", 256)
    val b = TableStats.sketchOf((251 to 500).map(i => i % 97).toDF("v"), "v", 256)
    val m = TableStats.merge(a, b)
    assert(m.exact === s.exact && m.minima.toSeq === s.minima.toSeq)
  }

  test("saturated regime: 20k distinct at k=256 estimates within 15%") {
    import spark.implicits._
    val df = (1L to 20000L).toDF("v")
    val s = TableStats.sketchOf(df, "v", k = 256)
    assert(s.sat && s.exact.isEmpty)
    val rel = math.abs(s.estimate - 20000.0) / 20000.0
    assert(rel < 0.15, s"estimate ${s.estimate} off by $rel")
    // nulls are not distinct values
    val withNulls = (1L to 100L).map(Option(_)).toDF("v")
      .union(Seq(Option.empty[Long], Option.empty[Long]).toDF("v"))
    assert(TableStats.sketchOf(withNulls, "v", 256).exact.contains(100L))
  }

  private def table(): String = {
    import spark.implicits._
    val t = freshDir()
    val df = (1 to 300).map(i => (i.toLong, (i % 41).toLong,
      if (i % 2 == 0) "even" else "odd")).toDF("k", "grp", "p")
    SnapshotTable.create(spark, t, df, "p", statsCols = Seq("k"))
    t
  }

  test("analyze + optimizer proof: count(DISTINCT col) folds to a " +
    "LocalRelation and equals the scan; a filtered query refuses") {
    val t = table()
    TableStats.analyze(spark, t, Seq("grp", "k"), k = 256)
    def q() = SnapshotTable.read(spark, t)
      .agg(countDistinct(col("grp")).as("n_grp"))
    assert(rewritten(q()))
    assert(q().head().getLong(0) === 41L)
    withoutRules(spark, MetadataAggPushdown) {
      assert(q().head().getLong(0) === 41L)
    }
    // any filter (even a partition filter) invalidates the whole-table
    // statistic — plan untouched
    val f = SnapshotTable.read(spark, t).filter(col("p") === "even")
      .agg(countDistinct(col("grp")).as("n"))
    assert(!rewritten(f))
    assert(f.head().getLong(0) === 41L)
  }

  test("append advances via the DELTA path (fresh files only) and the " +
    "merged sketch matches a full recompute") {
    import spark.implicits._
    val t = table()
    TableStats.analyze(spark, t, Seq("grp"), k = 256)
    SnapshotTable.commitAppend(spark, t,
      (301 to 350).map(i => (i.toLong, (i % 53).toLong, "even"))
        .toDF("k", "grp", "p"), "p")
    // stale stats must refuse the rewrite (fingerprint mismatch)
    def q() = SnapshotTable.read(spark, t)
      .agg(countDistinct(col("grp")).as("n"))
    assert(!rewritten(q()))
    val (st, delta) = TableStats.refresh(spark, t)
    assert(delta, "append-only window should take the delta path")
    val full = TableStats.analyze(spark, t, Seq("grp"), k = 256)
    assert(st.sketches.head.minima.toSeq === full.sketches.head.minima.toSeq)
    TableStats.refresh(spark, t) // idempotent at head
    assert(rewritten(q()))
    assert(q().head().getLong(0) === 53L)
  }

  test("a rewriting commit (delete) forces recompute; the stale sketch " +
    "never serves") {
    import spark.implicits._
    val t = table()
    TableStats.analyze(spark, t, Seq("grp"), k = 256)
    SnapshotTable.commitDelete(spark, t, col("k") <= 150, "p")
    def q() = SnapshotTable.read(spark, t)
      .agg(countDistinct(col("k")).as("n"))
    assert(!rewritten(SnapshotTable.read(spark, t)
      .agg(countDistinct(col("grp")).as("n"))))
    val (st, delta) = TableStats.refresh(spark, t)
    assert(!delta, "a delete cannot ride the delta path")
    assert(st.sketches.head.exact.contains(41L)) // grp values all survive
    assert(rewritten(SnapshotTable.read(spark, t)
      .agg(countDistinct(col("grp")).as("n"))))
    assert(q().head().getLong(0) === 150L)
  }

  test("compaction RE-BINDS the sidecar (row set unchanged): the " +
    "distinct fold keeps serving with no recompute") {
    import spark.implicits._
    val t = freshDir()
    // many small appends → compactable litter
    SnapshotTable.create(spark, t,
      Seq((1L, 1L, "a")).toDF("k", "grp", "p"), "p")
    (2 to 8).foreach(i => SnapshotTable.commitAppend(spark, t,
      Seq((i.toLong, (i % 3).toLong, "a")).toDF("k", "grp", "p"), "p"))
    TableStats.analyze(spark, t, Seq("grp"), k = 64)
    def q() = SnapshotTable.read(spark, t)
      .agg(countDistinct(col("grp")).as("n"))
    assert(rewritten(q()))
    val (_, nIn, nOut) = SnapshotTable.compact(spark, t, "p")
    assert(nIn > nOut && nOut > 0)
    // no refresh, no analyze — the sidecar moved with the commit
    assert(rewritten(q()))
    assert(q().head().getLong(0) === 3L) // grp ∈ {0,1,2} ∪ {1}
    // but a ROW-CHANGING commit after the rebind goes stale as usual
    SnapshotTable.commitAppend(spark, t,
      Seq((99L, 99L, "a")).toDF("k", "grp", "p"), "p")
    assert(!rewritten(q()))
    assert(q().head().getLong(0) === 4L)
  }

  test("a saturated sketch refuses the exact rewrite but serves a " +
    "flagged estimate") {
    import spark.implicits._
    val t = freshDir()
    val df = (1 to 20000).map(i => (i.toLong, "a")).toDF("k", "p")
    SnapshotTable.create(spark, t, df, "p")
    TableStats.analyze(spark, t, Seq("k"), k = 256)
    val q = SnapshotTable.read(spark, t).agg(countDistinct(col("k")).as("n"))
    assert(!rewritten(q))
    assert(q.head().getLong(0) === 20000L)
    val Some((est, exactFlag)) = TableStats.estimateDistinct(spark, t, "k")
    assert(!exactFlag && math.abs(est - 20000.0) / 20000.0 < 0.15)
  }

  test("overlap of two unsaturated sketches is EXACT set arithmetic: " +
    "union and intersection counts match the true sets") {
    import spark.implicits._
    // A = 1..300, B = 201..500 → |A∪B| = 500, |A∩B| = 100
    val a = TableStats.sketchOf((1 to 300).map(_.toLong).toDF("u"),
      "u", k = 1024)
    val b = TableStats.sketchOf((201 to 500).map(_.toLong).toDF("u"),
      "u", k = 1024)
    val ov = TableStats.overlap(a, b)
    assert(ov.exact)
    assert(ov.union === 500.0 && ov.intersect === 100.0)
    // consistency with the union-merge estimator in the exact regime
    assert(TableStats.merge(a, b).estimate === 500.0)
    // the same sets as two ANALYZEd snapshot tables: the overlap of
    // their sidecar sketches is exact too
    def sidecar(ids: Range): TableStats.NdvSketch = {
      val t = freshDir()
      SnapshotTable.create(spark, t, ids.map(i => (i.toLong, s"g${i % 3}"))
        .toDF("u", "g"), "g")
      TableStats.analyze(spark, t, Seq("u"), k = 1024)
        .sketches.find(_.col == "u").get
    }
    val ovT = TableStats.overlap(sidecar(1 to 300), sidecar(201 to 500))
    assert(ovT.exact && ovT.union === 500.0 && ovT.intersect === 100.0)
  }

  test("overlap with a saturated side serves FLAGGED estimates within " +
    "KMV tolerance; mismatched sketch sizes refuse") {
    import spark.implicits._
    // |A| = |B| = 20000, shared 10000 → union 30000, intersect 10000
    val a = TableStats.sketchOf((1 to 20000).map(_.toLong).toDF("u"),
      "u", k = 256)
    val b = TableStats.sketchOf((10001 to 30000).map(_.toLong).toDF("u"),
      "u", k = 256)
    val ov = TableStats.overlap(a, b)
    assert(!ov.exact)
    assert(math.abs(ov.union - 30000.0) / 30000.0 < 0.2)
    // the shared-below-θ count is ~k/3 draws → looser tolerance
    assert(math.abs(ov.intersect - 10000.0) / 10000.0 < 0.35)
    // one saturated, one complete side still estimates sanely
    val small = TableStats.sketchOf(
      (15001 to 15100).map(_.toLong).toDF("u"), "u", k = 256)
    val ov2 = TableStats.overlap(a, small)
    assert(!ov2.exact && ov2.intersect >= 0.0 &&
      math.abs(ov2.union - 20100.0) / 20100.0 < 0.2)
    val kMismatch = TableStats.sketchOf((1 to 10).map(_.toLong).toDF("u"),
      "u", k = 64)
    assertThrows[IllegalArgumentException](TableStats.overlap(a, kMismatch))
  }

  test("cross-TABLE overlap between differently-NAMED columns works in " +
    "both regimes — the advertised use never trips merge's same-col check") {
    import spark.implicits._
    val a = TableStats.sketchOf((1 to 20000).map(_.toLong).toDF("user_id"),
      "user_id", k = 256)
    val b = TableStats.sketchOf(
      (10001 to 30000).map(_.toLong).toDF("visitor_id"), "visitor_id", k = 256)
    val ov = TableStats.overlap(a, b) // saturated branch: used to throw
    assert(!ov.exact)
    assert(math.abs(ov.union - 30000.0) / 30000.0 < 0.2)
    val smallA = TableStats.sketchOf((1 to 50).map(_.toLong).toDF("x"),
      "x", k = 256)
    val smallB = TableStats.sketchOf((26 to 75).map(_.toLong).toDF("y"),
      "y", k = 256)
    val exact = TableStats.overlap(smallA, smallB)
    assert(exact.exact && exact.union === 75.0 && exact.intersect === 25.0)
  }
}
