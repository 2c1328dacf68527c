package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.SparkSpec.withoutRules
import graft.plans.MetadataAggPushdown

/** Per-file NULL COUNTS in manifest stats: `count(col)` folds from the
  * manifest exactly, IS [NOT] NULL predicates skip proven all-null /
  * null-free files, a proven all-null column skips every comparison,
  * and every answer stays bit-equal to the unpruned scan. Legacy
  * entries (no recorded null count) must disable all of it — never
  * wrong, just not rewritten.
  */
class NullStatsSpec extends SparkSpec {

  private def freshDir(): String =
    graft.Staged.scratch(spark, "nullstats") + "/t"

  private def rewritten(df: DataFrame): Boolean = {
    val plan = df.queryExecution.optimizedPlan
    plan.collectFirst { case l: LogicalRelation => l }.isEmpty &&
      plan.collectFirst { case l: LocalRelation => l }.nonEmpty
  }

  private def plannedFiles(df: DataFrame): Long = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    val qe = df.queryExecution
    qe.executedPlan.executeCollect() // populate the scan's driver metrics
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = {
      val self = p match { case s: FileSourceScanExec => Seq(s); case _ => Seq.empty }
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec        => Seq(q.plan)
        case r: ReusedExchangeExec    => Seq(r.child)
        case other                    => other.children
      }
      self ++ kids.flatMap(scans)
    }
    scans(qe.executedPlan).map(_.metrics("numFiles").value).sum
  }

  // partitions: "none" has no nulls in x, "some" has a mix,
  // "all" is entirely null in x
  private def table(): String = {
    import spark.implicits._
    val t = freshDir()
    val df = Seq(
      (1L, Some(10.0), "none"), (2L, Some(20.0), "none"),
      (3L, Some(30.0), "some"), (4L, Option.empty[Double], "some"),
      (5L, Option.empty[Double], "all"), (6L, Option.empty[Double], "all"))
      .toDF("k", "x", "p")
    SnapshotTable.create(spark, t, df, "p", statsCols = Seq("k", "x"))
    t
  }

  test("count(col) folds from manifest null counts; equals the scan") {
    val t = table()
    def agg() = SnapshotTable.read(spark, t).agg(
      count(lit(1)).as("n"), count(col("x")).as("nx"),
      min(col("x")).as("mn"), max(col("x")).as("mx"))
    assert(rewritten(agg()))
    val meta = agg().head()
    assert(meta === withoutRules(spark, MetadataAggPushdown) { agg().head() })
    assert(meta.getLong(0) === 6L && meta.getLong(1) === 3L &&
      meta.getDouble(2) === 10.0 && meta.getDouble(3) === 30.0)
  }

  test("grouped by partition column, count(col) and count(*) fold " +
    "per partition") {
    val t = table()
    def agg() = SnapshotTable.read(spark, t).groupBy(col("p"))
      .agg(count(lit(1)).as("n"), count(col("x")).as("nx"))
    assert(rewritten(agg()))
    val meta = agg().orderBy(col("p")).collect().toSeq
    assert(meta === withoutRules(spark, MetadataAggPushdown) {
      agg().orderBy(col("p")).collect().toSeq
    })
    assert(meta.map(r => (r.getString(0), r.getLong(1), r.getLong(2))) ===
      Seq(("all", 2L, 0L), ("none", 2L, 2L), ("some", 2L, 1L)))
  }

  test("min/max over a column with an ALL-NULL file still folds " +
    "(NaN-bounds entry contributes nothing); all-null everywhere " +
    "folds to SQL NULL") {
    import spark.implicits._
    val t = freshDir()
    val df = Seq((1L, Option.empty[Double], "a"),
      (2L, Option.empty[Double], "b")).toDF("k", "x", "p")
    SnapshotTable.create(spark, t, df, "p", statsCols = Seq("x"))
    def agg() = SnapshotTable.read(spark, t)
      .agg(min(col("x")).as("mn"), count(col("x")).as("nx"))
    assert(rewritten(agg()))
    val meta = agg().head()
    assert(meta === withoutRules(spark, MetadataAggPushdown) { agg().head() })
    assert(meta.isNullAt(0) && meta.getLong(1) === 0L)
  }

  test("IS NOT NULL skips the all-null partition's files; IS NULL " +
    "skips the null-free ones; results equal the unpruned scan") {
    val t = table()
    val full = plannedFiles(SnapshotTable.read(spark, t))
    val notNull = SnapshotTable.read(spark, t).filter(col("x").isNotNull)
    val isNull = SnapshotTable.read(spark, t).filter(col("x").isNull)
    assert(plannedFiles(notNull) < full)
    assert(plannedFiles(isNull) < full)
    assert(notNull.select(col("k")).collect().map(_.getLong(0)).sorted
      === Array(1L, 2L, 3L))
    assert(isNull.select(col("k")).collect().map(_.getLong(0)).sorted
      === Array(4L, 5L, 6L))
  }

  test("a comparison predicate skips the proven all-null file") {
    val t = table()
    val q = SnapshotTable.read(spark, t).filter(col("x") > 0.0)
    val full = plannedFiles(SnapshotTable.read(spark, t))
    assert(plannedFiles(q) < full)
    assert(q.select(col("k")).collect().map(_.getLong(0)).sorted
      === Array(1L, 2L, 3L))
  }

  test("integral footer-stats path records null counts too " +
    "(all-integral stats columns, no Spark job)") {
    import spark.implicits._
    val t = freshDir()
    val df = Seq((1L, Some(5L), "a"), (2L, Option.empty[Long], "a"),
      (3L, Some(7L), "b")).toDF("k", "v", "p")
    SnapshotTable.create(spark, t, df, "p", statsCols = Seq("k", "v"))
    def agg() = SnapshotTable.read(spark, t)
      .agg(count(col("v")).as("nv"), count(col("k")).as("nk"))
    assert(rewritten(agg()))
    val meta = agg().head()
    assert(meta === withoutRules(spark, MetadataAggPushdown) { agg().head() })
    assert(meta.getLong(0) === 2L && meta.getLong(1) === 3L)
  }

  test("legacy entries without null counts refuse count(col) and " +
    "IS NULL skipping (conservative, still correct)") {
    import spark.implicits._
    val t = freshDir()
    val df = Seq((1L, Some(1.0), "a"), (2L, Option.empty[Double], "a"))
      .toDF("k", "x", "p")
    SnapshotTable.create(spark, t, df, "p", statsCols = Seq("x"))
    // strip the recorded null counts from every manifest stats line,
    // simulating a manifest written before null counts existed
    val manifests = new java.io.File(t, "_manifests").listFiles()
      .filter(_.getName.endsWith(".json"))
    manifests.foreach { f =>
      val txt = scala.io.Source.fromFile(f)
      val body = try txt.mkString finally txt.close()
      val stripped = body.replaceAll(""","nu":\d+""", "")
      val w = new java.io.PrintWriter(f); w.print(stripped); w.close()
      // drop the Hadoop local-FS checksum sidecar the in-place edit broke
      new java.io.File(f.getParentFile, "." + f.getName + ".crc").delete()
    }
    def agg() = SnapshotTable.read(spark, t).agg(count(col("x")).as("nx"))
    assert(!rewritten(agg()))
    assert(agg().head().getLong(0) === 1L)
    val frames = SnapshotTable.read(spark, t).filter(col("x").isNull)
    assert(frames.select(col("k")).collect().map(_.getLong(0)) === Array(2L))
  }

  // a double file that merely CONTAINS NaN records hi = NaN with
  // nulls < rows (Spark's max orders NaN greatest) — that is NOT the
  // all-null marker, and folding around it would lose the file's real
  // min and serve a non-NaN max where the scan returns NaN
  private def nanTable(): String = {
    import spark.implicits._
    val t = freshDir()
    val df = Seq(
      (1L, Some(1.0), "clean"), (2L, Some(5.0), "clean"),
      (3L, Some(0.5), "nan"), (4L, Some(Double.NaN), "nan"))
      .toDF("k", "x", "p")
    SnapshotTable.create(spark, t, df, "p", statsCols = Seq("x"))
    t
  }

  test("a NaN-CONTAINING file (nulls < rows) refuses the min/max fold; " +
    "result stays bit-equal to the scan (min from the NaN file, NaN max)") {
    val t = nanTable()
    def agg() = SnapshotTable.read(spark, t)
      .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
    assert(!rewritten(agg()), "NaN-contaminated bounds must refuse the fold")
    val meta = agg().head()
    assert(meta === withoutRules(spark, MetadataAggPushdown) { agg().head() })
    assert(meta.getDouble(0) === 0.5, "true minimum lives in the NaN file")
    assert(meta.getDouble(1).isNaN, "scan max of a NaN-containing column is NaN")
  }

  test("statsHistory reports SQL NULL bounds when any file's stats are " +
    "NaN-contaminated; null totals stay exact") {
    val t = nanTable()
    val h = SnapshotTable.statsHistory(spark, t, Some("x"))
      .orderBy(col("version")).collect()
    assert(h.nonEmpty)
    val r = h.last
    assert(r.isNullAt(r.fieldIndex("min_val")) &&
      r.isNullAt(r.fieldIndex("max_val")),
      "contaminated bounds must be unprovable, not a guess")
    assert(r.getLong(r.fieldIndex("n_nulls")) === 0L)
  }

  test("proven all-null column: statsHistory still folds real bounds " +
    "from the other files (marker entries contribute nothing)") {
    val t = table()
    val r = SnapshotTable.statsHistory(spark, t, Some("x"))
      .orderBy(col("version")).collect().last
    assert(r.getDouble(r.fieldIndex("min_val")) === 10.0 &&
      r.getDouble(r.fieldIndex("max_val")) === 30.0 &&
      r.getLong(r.fieldIndex("n_nulls")) === 3L)
  }
}
