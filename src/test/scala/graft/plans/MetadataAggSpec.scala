package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.SparkSpec.{withConf, withoutRules}
import graft.sources.SnapshotTable

/** Metadata-only aggregates must be (a) answered WITHOUT planning any
  * data file when the evidence is complete, (b) bit-equal to the
  * scanned computation, and (c) conservatively ABSENT — plan untouched
  * — for every shape where the manifest cannot prove the answer
  * (filters, stats-less columns, pending deletes, longs past 2^53,
  * grouped aggregates).
  */
class MetadataAggSpec extends SparkSpec {

  private def freshDir(): String =
    graft.Staged.scratch(spark, "metaagg") + "/t"

  private def rewritten(df: DataFrame): Boolean = {
    val plan = df.queryExecution.optimizedPlan
    plan.collectFirst { case l: LogicalRelation => l }.isEmpty &&
      plan.collectFirst { case l: LocalRelation => l }.nonEmpty
  }

  private def smallTable(): String = {
    import spark.implicits._
    val t = freshDir()
    val df = Seq(
      (1L, 10, "a", Some(1.5)), (2L, 20, "a", Some(2.5)),
      (3L, 30, "b", Some(3.5)), (4L, 40, "b", Some(4.5)),
      (5L, 50, "b", Option.empty[Double]))
      .toDF("k", "v", "p", "x")
    SnapshotTable.create(spark, t, df, "p", statsCols = Seq("k", "v"))
    t
  }

  test("count/min/max over a bare snapshot read rewrite to a LocalRelation " +
    "and match the scanned answer") {
    val t = smallTable()
    def agg() = SnapshotTable.read(spark, t).agg(
      count(lit(1)).as("n"), min(col("k")).as("mnk"), max(col("k")).as("mxk"),
      min(col("v")).as("mnv"), max(col("v")).as("mxv"))
    assert(rewritten(agg()))
    val meta = agg().head()
    val scanned = withoutRules(spark, MetadataAggPushdown) { agg().head() }
    assert(meta === scanned)
    assert(meta.getLong(0) === 5L && meta.getLong(1) === 1L &&
      meta.getLong(2) === 5L && meta.getInt(3) === 10 && meta.getInt(4) === 50)
  }

  test("rewrite survives an append and a merge (stats re-derived on " +
    "every rewrite path)") {
    import spark.implicits._
    val t = smallTable()
    SnapshotTable.commitAppend(spark, t,
      Seq((9L, 90, "c", 9.5)).toDF("k", "v", "p", "x"), "p")
    SnapshotTable.commitMerge(spark, t,
      Seq((2L, 21, "a", 2.6)).toDF("k", "v", "p", "x"), "k", "p")
    def agg() = SnapshotTable.read(spark, t).agg(
      count(lit(1)).as("n"), max(col("v")).as("mx"))
    assert(rewritten(agg()))
    assert(agg().head() === withoutRules(spark, MetadataAggPushdown) { agg().head() })
    assert(agg().head().getLong(0) === 6L && agg().head().getInt(1) === 90)
  }

  test("group-by-partition-column counts and min/max rewrite to exact " +
    "per-partition manifest folds") {
    val t = smallTable()
    def agg() = SnapshotTable.read(spark, t).groupBy(col("p"))
      .agg(count(lit(1)).as("n"), min(col("k")).as("mn"), max(col("v")).as("mx"))
    assert(rewritten(agg()))
    val got = agg().collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3))).sortBy(_._1)
    assert(got === Array(("a", 2L, 1L, 20), ("b", 3L, 3L, 50)))
    assert(got.toSeq === withoutRules(spark, MetadataAggPushdown) { agg().collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3)))
      .sortBy(_._1).toSeq })
  }

  test("no rewrite under a filter, a non-partition groupBy, or for a " +
    "stats-less column — but a count-only aggregate still rewrites") {
    val t = smallTable()
    val base = SnapshotTable.read(spark, t)
    assert(!rewritten(base.filter(col("k") > 2L).agg(count(lit(1)).as("n"))))
    assert(!rewritten(base.groupBy(col("v")).agg(count(lit(1)).as("n"))))
    // x never recorded stats; a single unsupported column abandons the
    // whole rewrite rather than mixing metadata and scan answers
    assert(!rewritten(base.agg(min(col("x")).as("mn"))))
    assert(!rewritten(base.agg(count(lit(1)).as("n"), min(col("x")).as("mn"))))
    assert(rewritten(base.agg(count(lit(1)).as("n"))))
    // the untouched plans still answer correctly
    assert(base.filter(col("k") > 2L).count() === 3L)
    assert(base.agg(min(col("x"))).head().getDouble(0) === 1.5)
  }

  test("partition-only equality/IN filters restrict the fold exactly; " +
    "value filters and missing-value probes refuse") {
    val t = smallTable()
    def base = SnapshotTable.read(spark, t)

    val eq = base.filter(col("p") === "b").agg(
      count(lit(1)).as("n"), min(col("k")).as("mn"), max(col("k")).as("mx"))
    assert(rewritten(eq))
    assert(eq.head() === withoutRules(spark, MetadataAggPushdown) {
      base.filter(col("p") === "b").agg(
        count(lit(1)).as("n"), min(col("k")).as("mn"), max(col("k")).as("mx"))
        .head()
    })

    val in = base.filter(col("p").isin("a", "zzz"))
      .agg(count(lit(1)).as("n"))
    assert(rewritten(in))
    assert(in.head().getLong(0) === 2L)

    // filtered + grouped by the partition column composes
    val grouped = base.filter(col("p").isin("a", "b"))
      .groupBy(col("p")).agg(count(lit(1)).as("n"))
    assert(rewritten(grouped))
    assert(grouped.orderBy(col("p")).collect().map(r =>
      (r.getString(0), r.getLong(1))).toSeq === Seq(("a", 2L), ("b", 3L)))

    // a probe matching NO partition refuses (empty min/max has no
    // metadata answer) but stays correct through the ordinary plan
    val none = base.filter(col("p") === "zzz")
      .agg(count(lit(1)).as("n"), min(col("k")).as("mn"))
    assert(!rewritten(none))
    assert(none.head().getLong(0) === 0L)

    // a value conjunct poisons the whole filter
    assert(!rewritten(base.filter(col("p") === "b" && col("k") > 3L)
      .agg(count(lit(1)).as("n"))))
  }

  test("pending equality deletes mask the read — the shape never " +
    "matches, the answer reflects the deletes") {
    import spark.implicits._
    val t = smallTable()
    SnapshotTable.commitDeleteLazy(spark, t, Seq(1L, 3L).toDF("k"), "k")
    val agg = SnapshotTable.read(spark, t).agg(count(lit(1)).as("n"))
    assert(!rewritten(agg))
    assert(agg.head().getLong(0) === 3L)
  }

  test("longs beyond 2^53 refuse the min/max rewrite (double stats " +
    "may have rounded) while count still rewrites") {
    import spark.implicits._
    val t = freshDir()
    val big = (1L << 60) + 1L
    SnapshotTable.create(spark, t,
      Seq((big, "a"), (big + 2L, "a")).toDF("k", "p"), "p",
      statsCols = Seq("k"))
    val base = SnapshotTable.read(spark, t)
    assert(!rewritten(base.agg(max(col("k")).as("mx"))))
    assert(base.agg(max(col("k"))).head().getLong(0) === big + 2L)
    assert(rewritten(base.agg(count(lit(1)).as("n"))))
    assert(base.agg(count(lit(1))).head().getLong(0) === 2L)
  }

  test("SQL count/min/max through the snapshot_table TVF is metadata-only " +
    "— the TVF resolves to the same FileIndex relation the rule matches") {
    val t = smallTable()
    graft.sources.SnapshotSql.register(spark)
    val df = spark.sql(
      s"SELECT count(*) AS n, min(k) AS mn, max(k) AS mx FROM snapshot_table('$t')")
    assert(rewritten(df))
    val r = df.head()
    assert(r.getLong(0) === 5L && r.getLong(1) === 1L && r.getLong(2) === 5L)
  }

  test("a partition-pruned read's residual filter is partition-only, so " +
    "the rule now folds it — same answer as the scan") {
    val t = smallTable()
    def pruned = graft.sources.SnapshotTable
      .readWhere(spark, t, "p", Seq("a"))
      .agg(count(lit(1)).as("n"), max(col("k")).as("mx"))
    assert(rewritten(pruned))
    val r = pruned.head()
    assert(r.getLong(0) === 2L && r.getLong(1) === 2L)
    assert(r === withoutRules(spark, MetadataAggPushdown) { pruned.head() })
  }

  test("sum/avg from the sidecar's exact decimal sums: rewritten, " +
    "bit-equal to the scan, advanced EXACTLY by the delta refresh, and " +
    "refused for unanalyzed/floating columns and stale sidecars") {
    import spark.implicits._
    import graft.sources.TableStats
    val t = smallTable()
    TableStats.analyze(spark, t, Seq.empty, sumCols = Seq("k", "v"))
    def agg() = SnapshotTable.read(spark, t).agg(
      count(lit(1)).as("n"), sum(col("k")).as("sk"),
      sum(col("v")).as("sv"), avg(col("v")).as("av"))
    assert(rewritten(agg()), agg().queryExecution.optimizedPlan.toString)
    assert(agg().head() === withoutRules(spark, MetadataAggPushdown) { agg().head() })
    assert(agg().head().getLong(1) === 15L)
    assert(agg().head().getLong(2) === 150L)
    assert(agg().head().getDouble(3) === 30.0)
    // stale after an append: refuse; delta refresh re-arms with EXACT
    // addition (no recompute, no budget)
    SnapshotTable.commitAppend(spark, t,
      Seq((9L, 90, "c", 9.5)).toDF("k", "v", "p", "x"), "p")
    assert(!rewritten(agg()), "a stale sidecar must refuse the sum fold")
    val (_, delta) = TableStats.refresh(spark, t)
    assert(delta)
    assert(rewritten(agg()))
    assert(agg().head() === withoutRules(spark, MetadataAggPushdown) { agg().head() })
    assert(agg().head().getLong(1) === 24L)
    // a plain re-ANALYZE (no sumCols) must CARRY the sum tier, not
    // silently destroy it — the sidecar stays one consistent snapshot
    TableStats.analyze(spark, t, Seq("k"), k = 64)
    assert(rewritten(agg()),
      "re-analyzing sketches must not drop the recorded sums")
    assert(agg().head() === withoutRules(spark, MetadataAggPushdown) { agg().head() })
    // floating column: never summed from metadata (order-dependent)
    def fagg() = SnapshotTable.read(spark, t).agg(sum(col("x")).as("sx"))
    assert(!rewritten(fagg()))
    // unanalyzed integral column in the same aggregate poisons the
    // whole rewrite, not the answer
    intercept[IllegalArgumentException] {
      TableStats.analyze(spark, t, Seq.empty, sumCols = Seq("x"))
    }
  }

  test("sum of an all-null column serves SQL NULL; avg refuses without " +
    "same-sign proof only when stats are missing") {
    import spark.implicits._
    import graft.sources.TableStats
    val t = freshDir()
    SnapshotTable.create(spark, t,
      Seq((1L, Option.empty[Long], "a"), (2L, Option.empty[Long], "a"))
        .toDF("k", "nl", "p"), "p", statsCols = Seq("k", "nl"))
    TableStats.analyze(spark, t, Seq.empty, sumCols = Seq("k", "nl"))
    def agg() = SnapshotTable.read(spark, t)
      .agg(sum(col("nl")).as("s"), count(lit(1)).as("n"))
    assert(rewritten(agg()))
    assert(agg().head() === withoutRules(spark, MetadataAggPushdown) { agg().head() })
    assert(agg().head().isNullAt(0), "sum of no non-null rows is SQL NULL")
  }

  test("ANSI mode demands the no-transient-overflow proof for the sum " +
    "fold: without same-sign stats evidence the scan could THROW where " +
    "the fold would answer, so the fold refuses") {
    import spark.implicits._
    import graft.sources.TableStats
    val t = freshDir()
    // NO statsCols: the sidecar knows the total but nothing bounds the
    // partials — legacy's modular arithmetic is exact for an in-range
    // total, ANSI's overflow check is not reproducible
    SnapshotTable.create(spark, t,
      Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("k", "p"), "p")
    TableStats.analyze(spark, t, Seq.empty, sumCols = Seq("k"))
    def agg() = SnapshotTable.read(spark, t).agg(sum(col("k")).as("s"))
    withConf(spark, "spark.sql.ansi.enabled" -> "false") {
      assert(rewritten(agg()),
        "legacy mode: an in-range total is exact through transient wraps")
      assert(agg().head().getLong(0) === 6L)
    }
    withConf(spark, "spark.sql.ansi.enabled" -> "true") {
      assert(!rewritten(agg()),
        "ANSI without same-sign evidence must refuse the fold")
    }
  }

  test("try_sum keys the gate off the EXPRESSION's eval mode, not the " +
    "session conf: a TRY-mode scan returns NULL on any transient long " +
    "overflow, so without same-sign evidence the fold (which would " +
    "answer the exact in-range total) must refuse even under legacy " +
    "conf; with same-sign evidence every partial is bounded by the " +
    "total and the fold is scan-exact") {
    import spark.implicits._
    import graft.sources.TableStats
    // mixed-sign k WITH recorded per-file stats: the total is tiny but
    // nothing bounds the scan's partials, so TRY could see a transient
    // overflow the fold cannot reproduce -> refuse
    val mixed = freshDir()
    SnapshotTable.create(spark, mixed,
      Seq((-5L, "a"), (10L, "a"), (1L, "b")).toDF("k", "p"), "p",
      statsCols = Seq("k"))
    TableStats.analyze(spark, mixed, Seq.empty, sumCols = Seq("k"))
    def tryMixed() = SnapshotTable.read(spark, mixed)
      .selectExpr("try_sum(k) AS s")
    assert(!rewritten(tryMixed()),
      "try_sum without same-sign evidence must refuse the fold " +
        "(legacy conf notwithstanding)")
    assert(tryMixed().head().getLong(0) === 6L)
    // plain sum over the same mixed-sign data UNDER LEGACY conf (the
    // expression inherits the conf at build time): in-range total is
    // bit-exact through wraps -> still folds. The same expression
    // built under ANSI conf refuses without same-sign proof (the
    // sibling ANSI test) — and try_sum above refuses under EITHER
    // conf, which is exactly the expression-mode-not-conf point.
    withConf(spark, "spark.sql.ansi.enabled" -> "false") {
      def plainMixed() = SnapshotTable.read(spark, mixed)
        .agg(sum(col("k")).as("s"))
      assert(rewritten(plainMixed()))
      assert(plainMixed().head() ===
        withoutRules(spark, MetadataAggPushdown) { plainMixed().head() })
      assert(!rewritten(SnapshotTable.read(spark, mixed)
        .selectExpr("try_sum(k) AS s")),
        "try_sum must refuse even under legacy conf")
    }
    // same-sign k with stats: partials bounded by the total, TRY can
    // never go NULL where the fold answers -> folds, scan-exact
    val pos = freshDir()
    SnapshotTable.create(spark, pos,
      Seq((5L, "a"), (10L, "a"), (1L, "b")).toDF("k", "p"), "p",
      statsCols = Seq("k"))
    TableStats.analyze(spark, pos, Seq.empty, sumCols = Seq("k"))
    def tryPos() = SnapshotTable.read(spark, pos)
      .selectExpr("try_sum(k) AS s")
    assert(rewritten(tryPos()),
      "try_sum WITH same-sign evidence is provably scan-exact")
    assert(tryPos().head() === withoutRules(spark, MetadataAggPushdown) { tryPos().head() })
    assert(tryPos().head().getLong(0) === 16L)
  }

  test("DECIMAL sums fold from the scale-carrying sidecar total — " +
    "same-sign proven in every eval mode (a decimal buffer overflow " +
    "NULLs even the legacy scan, so there is no wrap-exact regime) — " +
    "and refuse on mixed signs; the sidecar round-trips the scale") {
    import spark.implicits._
    import graft.sources.TableStats
    val t = freshDir()
    SnapshotTable.create(spark, t,
      Seq((1L, BigDecimal("10.25"), "a"), (2L, BigDecimal("0.50"), "a"),
        (3L, BigDecimal("7.00"), "b"))
        .toDF("k", "price", "p")
        .select(col("k"), col("price").cast("decimal(10,2)").as("price"),
          col("p")),
      "p", statsCols = Seq("price"))
    TableStats.analyze(spark, t, Seq.empty, sumCols = Seq("price"))
    // the recorded total must carry its scale through the sidecar
    val recorded = TableStats.readStats(spark, t).get.sums
      .find(_.col == "price").get
    assert(recorded.sum === new java.math.BigDecimal("17.75"))
    assert(recorded.sum.scale === 2)
    def agg() = SnapshotTable.read(spark, t)
      .agg(sum(col("price")).as("s"), count(lit(1)).as("n"))
    assert(rewritten(agg()), agg().queryExecution.optimizedPlan.toString)
    assert(agg().head() === withoutRules(spark, MetadataAggPushdown) { agg().head() })
    assert(agg().head().getDecimal(0) ===
      new java.math.BigDecimal("17.75"))
    // delta refresh stays exact decimal addition
    SnapshotTable.commitAppend(spark, t,
      Seq((4L, BigDecimal("2.25"), "b")).toDF("k", "price", "p")
        .select(col("k"), col("price").cast("decimal(10,2)").as("price"),
          col("p")), "p")
    val (_, delta) = TableStats.refresh(spark, t)
    assert(delta)
    assert(rewritten(agg()))
    assert(agg().head().getDecimal(0) ===
      new java.math.BigDecimal("20.00"))
    assert(agg().head() === withoutRules(spark, MetadataAggPushdown) { agg().head() })
    // mixed-sign decimals: no same-sign proof -> no fold, in ANY mode
    val m = freshDir()
    SnapshotTable.create(spark, m,
      Seq((1L, BigDecimal("10.00"), "a"), (2L, BigDecimal("-3.50"), "a"))
        .toDF("k", "price", "p")
        .select(col("k"), col("price").cast("decimal(10,2)").as("price"),
          col("p")),
      "p", statsCols = Seq("price"))
    TableStats.analyze(spark, m, Seq.empty, sumCols = Seq("price"))
    def magg() = SnapshotTable.read(spark, m).agg(sum(col("price")).as("s"))
    assert(!rewritten(magg()),
      "mixed-sign decimal sum must refuse (transient overflow NULLs " +
        "the legacy scan — no wrap-exact regime to fall back on)")
    assert(magg().head().getDecimal(0) === new java.math.BigDecimal("6.50"))
  }

  test("DECIMAL averages fold by evaluating Spark's OWN Average " +
    "evaluateExpression over the sidecar's exact (sum, count) buffers " +
    "— bit parity with the scan through the rounding path; mixed " +
    "signs refuse; a delta refresh re-arms") {
    import spark.implicits._
    import graft.sources.TableStats
    val t = freshDir()
    // 3 rows summing to 10.00: 10/3 is non-terminating, so the fold
    // exercises Spark's division + HALF_UP rounding verbatim
    SnapshotTable.create(spark, t,
      Seq((1L, BigDecimal("4.00"), "a"), (2L, BigDecimal("3.75"), "a"),
        (3L, BigDecimal("2.25"), "b"))
        .toDF("k", "price", "p")
        .select(col("k"), col("price").cast("decimal(10,2)").as("price"),
          col("p")),
      "p", statsCols = Seq("price"))
    TableStats.analyze(spark, t, Seq.empty, sumCols = Seq("price"))
    def agg() = SnapshotTable.read(spark, t)
      .agg(avg(col("price")).as("a"), count(lit(1)).as("n"))
    assert(rewritten(agg()), agg().queryExecution.optimizedPlan.toString)
    assert(agg().head() === withoutRules(spark, MetadataAggPushdown) { agg().head() })
    assert(agg().head().getDecimal(0) ===
      new java.math.BigDecimal("3.333333"))
    // delta refresh keeps the exact decimal (sum, count) pair armed
    SnapshotTable.commitAppend(spark, t,
      Seq((4L, BigDecimal("0.25"), "b")).toDF("k", "price", "p")
        .select(col("k"), col("price").cast("decimal(10,2)").as("price"),
          col("p")), "p")
    val (_, delta) = TableStats.refresh(spark, t)
    assert(delta)
    assert(rewritten(agg()))
    assert(agg().head() === withoutRules(spark, MetadataAggPushdown) { agg().head() })
    assert(agg().head().getDecimal(0) ===
      new java.math.BigDecimal("2.562500"))
    // mixed signs: no transient-overflow proof, no fold — the scan's
    // buffer could NULL where the substituted total would answer
    val m = freshDir()
    SnapshotTable.create(spark, m,
      Seq((1L, BigDecimal("10.00"), "a"), (2L, BigDecimal("-3.50"), "a"))
        .toDF("k", "price", "p")
        .select(col("k"), col("price").cast("decimal(10,2)").as("price"),
          col("p")),
      "p", statsCols = Seq("price"))
    TableStats.analyze(spark, m, Seq.empty, sumCols = Seq("price"))
    def mavg() = SnapshotTable.read(spark, m).agg(avg(col("price")).as("a"))
    assert(!rewritten(mavg()))
    assert(mavg().head().getDecimal(0) ===
      new java.math.BigDecimal("3.250000"))
    // decimal(12,2) is past DecimalAggregates' double shortcut (p+4 >
    // 15), so the TRUE decimal Average survives to the rule and the
    // buffer-substitution arm serves it — including its own division/
    // rounding semantics, proven by bit parity with the scan
    val w = freshDir()
    SnapshotTable.create(spark, w,
      Seq((1L, BigDecimal("4.00"), "a"), (2L, BigDecimal("3.75"), "a"),
        (3L, BigDecimal("2.25"), "b"))
        .toDF("k", "price", "p")
        .select(col("k"), col("price").cast("decimal(12,2)").as("price"),
          col("p")),
      "p", statsCols = Seq("price"))
    TableStats.analyze(spark, w, Seq.empty, sumCols = Seq("price"))
    def wagg() = SnapshotTable.read(spark, w)
      .agg(avg(col("price")).as("a"))
    assert(rewritten(wagg()), wagg().queryExecution.optimizedPlan.toString)
    assert(wagg().head() === withoutRules(spark, MetadataAggPushdown) { wagg().head() })
    assert(wagg().head().getDecimal(0) ===
      new java.math.BigDecimal("3.333333"))
  }

  test("PER-PARTITION sums/averages fold from the value-keyed grouped " +
    "sidecar lane — bit parity per group, a partition filter keeps " +
    "whole value-groups, the delta refresh re-arms with a NEW group, " +
    "and the lane is opt-in (absent = grouped sums refuse)") {
    import spark.implicits._
    import graft.sources.TableStats
    val t = freshDir()
    SnapshotTable.create(spark, t,
      Seq((1L, BigDecimal("4.00"), "a"), (2L, BigDecimal("3.75"), "a"),
        (3L, BigDecimal("2.25"), "b"), (4L, BigDecimal("0.50"), "b"))
        .toDF("k", "price", "p")
        .select(col("k"), col("price").cast("decimal(12,2)").as("price"),
          col("p")),
      // k needs stats too: ANSI (Spark 4's default) demands the
      // same-sign no-transient-overflow proof for the long sum
      "p", statsCols = Seq("price", "k"))
    def agg() = SnapshotTable.read(spark, t).groupBy(col("p"))
      .agg(count(lit(1)).as("n"), sum(col("price")).as("s"),
        avg(col("price")).as("a"), sum(col("k")).as("sk"))
      .orderBy(col("p"))
    // opt-in: without the grouped lane a grouped SUM refuses (counts/
    // min/max alone would still fold — the sum is what needs the lane)
    TableStats.analyze(spark, t, Seq.empty, sumCols = Seq("price", "k"))
    assert(!rewritten(agg()))
    TableStats.analyze(spark, t, Seq.empty, sumCols = Seq("price", "k"),
      groupSumCols = Seq("price", "k"))
    assert(rewritten(agg()), agg().queryExecution.optimizedPlan.toString)
    assert(agg().collect().toSeq ===
      withoutRules(spark, MetadataAggPushdown) { agg().collect().toSeq })
    val rows = agg().collect()
    assert(rows(0).getDecimal(2) === new java.math.BigDecimal("7.75"))
    assert(rows(0).getDecimal(3) === new java.math.BigDecimal("3.875000"))
    assert(rows(1).getLong(4) === 7L)
    // a partition filter restricts to WHOLE value-groups, so the
    // surviving group's recorded sum is its true sum
    def one() = SnapshotTable.read(spark, t).filter(col("p") === "b")
      .groupBy(col("p"))
      .agg(sum(col("price")).as("s"), avg(col("price")).as("a"))
    assert(rewritten(one()))
    assert(one().collect().toSeq ===
      withoutRules(spark, MetadataAggPushdown) { one().collect().toSeq })
    // delta refresh: more rows in 'b' AND a brand-new group 'c'
    SnapshotTable.commitAppend(spark, t,
      Seq((5L, BigDecimal("1.00"), "b"), (6L, BigDecimal("9.00"), "c"))
        .toDF("k", "price", "p")
        .select(col("k"), col("price").cast("decimal(12,2)").as("price"),
          col("p")), "p")
    val (_, delta) = TableStats.refresh(spark, t)
    assert(delta, "append window must take the delta path")
    assert(rewritten(agg()))
    assert(agg().collect().toSeq ===
      withoutRules(spark, MetadataAggPushdown) { agg().collect().toSeq })
    val after = agg().collect()
    assert(after.map(_.getString(0)).toSeq === Seq("a", "b", "c"))
    assert(after(1).getDecimal(2) === new java.math.BigDecimal("3.75"))
    assert(after(2).getDecimal(2) === new java.math.BigDecimal("9.00"))
    // the SQL surface serves the same lane under the current-version
    // freshness proof
    graft.sources.SnapshotSql.register(spark)
    val tvf = spark.sql(
      s"""SELECT part_value, sum_text FROM snapshot_group_sums('$t', 'price')
         |ORDER BY part_value""".stripMargin).collect()
    assert(tvf.map(r => (r.getString(0), r.getString(1))).toSeq ===
      Seq(("a", "7.75"), ("b", "3.75"), ("c", "9.00")))
  }

  test("partition RANGE filters restrict the metadata fold with an " +
    "exact two-way stamp split — numerically for integer partitions " +
    "(the '10' < '2' lexicographic trap), BETWEEN included — and a " +
    "non-partition range refuses") {
    import spark.implicits._
    val t = freshDir()
    SnapshotTable.create(spark, t,
      spark.range(0, 1300).select(
        col("id").as("k"),
        (col("id") % 13).cast("int").as("p"),
        (col("id") * 3).as("v")),
      "p", statsCols = Seq("v"))
    def agg(f: DataFrame => DataFrame) =
      f(SnapshotTable.read(spark, t)).agg(
        count(lit(1)).as("n"), min(col("v")).as("mn"),
        max(col("v")).as("mx"))
    // p <= 2: a lexicographic split would ALSO keep stamps 10..12,
    // whose rows all fail — the fold would overcount; the numeric
    // split answers exactly
    val le = agg(_.filter(col("p") <= 2))
    assert(rewritten(le), le.queryExecution.optimizedPlan.toString)
    assert(le.head() === withoutRules(spark, MetadataAggPushdown) { le.head() })
    assert(le.head().getLong(0) === 300L)
    val between = agg(_.filter(col("p").between(5, 7)))
    assert(rewritten(between))
    assert(between.head() === withoutRules(spark, MetadataAggPushdown) { between.head() })
    assert(between.head().getLong(0) === 300L)
    // range on a NON-partition column: no stamp proof, no rewrite
    val nonPart = agg(_.filter(col("v") >= 600))
    assert(!rewritten(nonPart))
    assert(nonPart.head() === withoutRules(spark, MetadataAggPushdown) { nonPart.head() })
  }

  test("distinct and filtered aggregates are never claimed") {
    val t = smallTable()
    val base = SnapshotTable.read(spark, t)
    assert(!rewritten(base.agg(countDistinct(col("p")).as("n"))))
    assert(!rewritten(base.selectExpr(
      "count(1) AS n", "max(k) FILTER (WHERE v > 15) AS mx")))
    assert(base.agg(countDistinct(col("p"))).head().getLong(0) === 2L)
  }
}
