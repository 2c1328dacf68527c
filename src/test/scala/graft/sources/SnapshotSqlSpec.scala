package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

/** The snapshot TVF surface: `snapshot_table` / `snapshot_changes` in
  * plain SQL, resolving to the same FileIndex-backed relations the
  * Scala API plans — including WHERE pushdown into manifest skipping.
  */
class SnapshotSqlSpec extends SparkSpec {

  private lazy val table: String = {
    val t = graft.Staged.scratch(spark, "snapsql") + "/t"
    SnapshotTable.create(spark, t,
      Tables.orders(spark, sfDir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_orderpriority")),
      "o_orderpriority", statsCols = Seq("o_orderkey"))
    SnapshotSql.register(spark)
    t
  }

  private def scannedFiles(df: DataFrame): Long = {
    df.collect()
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case other => other.collect {
        case s: FileSourceScanExec => Seq(s)
        case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      }.flatten
    }
    scans(df.queryExecution.executedPlan).map(_.metrics("numFiles").value).sum
  }

  test("snapshot_table(path) equals the Scala read; WHERE pushes into " +
    "manifest file skipping") {
    val viaSql = spark.sql(s"SELECT * FROM snapshot_table('$table')")
    assert(viaSql.count() === SnapshotTable.read(spark, table).count())

    val total = SnapshotTable.readManifest(spark, table, 1L).size
    val pruned = spark.sql(
      s"SELECT * FROM snapshot_table('$table') WHERE o_orderkey < 100")
    assert(scannedFiles(pruned) < total)
    assert(pruned.count() ===
      Tables.orders(spark, sfDir).filter(col("o_orderkey") < 100).count())
  }

  test("snapshot_table(path, version) time-travels; snapshot_changes " +
    "returns the tagged feed") {
    table // force fixture + registration
    val t2 = graft.Staged.scratch(spark, "snapsql2") + "/t"
    SnapshotTable.create(spark, t2,
      Tables.orders(spark, sfDir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_orderpriority")),
      "o_orderpriority")
    val batch = Tables.orders(spark, sfDir).limit(7)
      .select((col("o_orderkey") + 5000000L).as("o_orderkey"),
        col("o_custkey"), col("o_totalprice"), col("o_orderpriority"))
    SnapshotTable.commitAppend(spark, t2, batch, "o_orderpriority")

    val v1n = spark.sql(s"SELECT * FROM snapshot_table('$t2', 1)").count()
    val v2n = spark.sql(s"SELECT * FROM snapshot_table('$t2', 2)").count()
    assert(v2n === v1n + 7)

    val feed = spark.sql(
      s"""SELECT _change_type, _commit_version, count(*) AS n
         |FROM snapshot_changes('$t2', 1, 2)
         |GROUP BY 1, 2""".stripMargin).collect()
    assert(feed.length === 1)
    assert(feed.head.getString(0) === "insert")
    assert(feed.head.getLong(1) === 2L)
    assert(feed.head.getLong(2) === 7L)
  }

  test("non-literal and wrong-arity arguments fail loudly") {
    table
    val e1 = intercept[Exception] {
      spark.sql("SELECT * FROM snapshot_table(1)").collect()
    }
    assert(e1.getMessage.contains("string literal") ||
      e1.getMessage.contains("snapshot_table"))
    val e2 = intercept[Exception] {
      spark.sql(s"SELECT * FROM snapshot_changes('$table', 1)").collect()
    }
    assert(e2.getMessage.contains("3 arguments") ||
      e2.getMessage.contains("snapshot_changes"))
  }

  test("snapshot_history and snapshot_files expose the metadata surface " +
    "through SQL") {
    val t = table
    val hist = spark.sql(
      s"SELECT version, n_rows FROM snapshot_history('$t') ORDER BY version")
      .collect()
    assert(hist.map(_.getLong(0)).toSeq ===
      SnapshotTable.versions(spark, t))
    // per-partition row accounting from files metadata matches the data
    val metaRows = spark.sql(
      s"""SELECT partition, sum(n_rows) AS n FROM snapshot_files('$t')
         |GROUP BY partition ORDER BY partition""".stripMargin)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    val dataRows = SnapshotTable.read(spark, t)
      .groupBy("o_orderpriority").count().orderBy("o_orderpriority")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(metaRows === dataRows)
    // pinned-version form
    val vOld = SnapshotTable.versions(spark, t).head
    assert(spark.sql(s"SELECT sum(n_rows) FROM snapshot_files('$t', $vOld)")
      .head().getLong(0) ===
      SnapshotTable.readVersion(spark, t, vOld).count())
    // the per-version stats profile through SQL: every cell a manifest
    // fold, row counts matching the time-travel reads exactly
    val prof = spark.sql(
      s"""SELECT version, n_rows, min_val, max_val
         |FROM snapshot_stats('$t', 'o_orderkey')
         |ORDER BY version""".stripMargin).collect()
    assert(prof.map(_.getLong(0)).toSeq === SnapshotTable.versions(spark, t))
    prof.foreach { r =>
      assert(r.getLong(1) ===
        SnapshotTable.readVersion(spark, t, r.getLong(0)).count())
      assert(!r.isNullAt(2) && !r.isNullAt(3))
    }
  }

  test("snapshot_merge / snapshot_delete write procedures: one commit " +
    "per statement, outcome row reports the clause counts, result " +
    "readable back through snapshot_table") {
    import spark.implicits._
    val t = graft.Staged.scratch(spark, "snapsqlw") + "/t"
    SnapshotTable.create(spark, t,
      Seq((1L, 10.0, "a"), (2L, 20.0, "a"), (3L, 30.0, "b"))
        .toDF("k", "v", "p"), "p")
    SnapshotSql.register(spark)
    Seq((2L, 99.0, "a"), (4L, 40.0, "b")).toDF("k", "v", "p")
      .createOrReplaceTempView("upd_view")
    val m = spark.sql(
      s"SELECT * FROM snapshot_merge('$t', 'upd_view', 'k', 'p')").head()
    assert(m.getLong(1) === 1L && m.getLong(2) === 0L &&
      m.getLong(3) === 1L, s"update/delete/insert counts off: $m")
    assert(SnapshotTable.currentVersion(spark, t) === 2L,
      "exactly one commit per procedure statement")
    val rows = spark.sql(
      s"SELECT k, v FROM snapshot_table('$t') ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(rows === Seq((1L, 10.0), (2L, 99.0), (3L, 30.0), (4L, 40.0)))

    Seq(Tuple1(1L), Tuple1(4L)).toDF("k")
      .createOrReplaceTempView("doomed_view")
    val d = spark.sql(
      s"SELECT * FROM snapshot_delete('$t', 'doomed_view', 'k', 'p')").head()
    assert(d.getLong(1) === 2L)
    assert(spark.sql(s"SELECT k FROM snapshot_table('$t') ORDER BY k")
      .collect().map(_.getLong(0)).toSeq === Seq(2L, 3L))
    // time travel still sees the pre-delete state (write = new version)
    assert(spark.sql(s"SELECT count(*) FROM snapshot_table('$t', 2)")
      .head().getLong(0) === 4L)
  }

  test("maintenance procedures: snapshot_compact folds, snapshot_analyze " +
    "persists a servable sketch, snapshot_expire drops old versions") {
    import spark.implicits._
    val t = graft.Staged.scratch(spark, "snapsqlm") + "/t"
    SnapshotTable.create(spark, t,
      (1 to 50).map(i => (i.toLong, s"g${i % 2}")).toDF("k", "p"), "p")
    SnapshotTable.commitAppend(spark, t,
      (51 to 100).map(i => (i.toLong, s"g${i % 2}")).toDF("k", "p"), "p")
    SnapshotSql.register(spark)
    val c = spark.sql(
      s"SELECT * FROM snapshot_compact('$t', 'p')").head()
    assert(c.getLong(1) > c.getLong(2) && c.getLong(2) > 0,
      s"compact must fold small files into fewer: $c")
    assert(spark.sql(s"SELECT count(*) FROM snapshot_table('$t')")
      .head().getLong(0) === 100L)
    val a = spark.sql(
      s"SELECT * FROM snapshot_analyze('$t', 'k')").head()
    assert(a.getLong(1) === 100L && a.getLong(2) === 1L,
      s"exact-regime NDV expected: $a")
    val e = spark.sql(
      s"SELECT * FROM snapshot_expire('$t', 1)").head()
    assert(e.getLong(0) > 0L, "expire should delete pre-compaction files")
    assert(spark.sql(s"SELECT count(*) FROM snapshot_table('$t')")
      .head().getLong(0) === 100L)
  }

  test("rank statistics procedures: snapshot_analyze_ranks persists a " +
    "servable summary, snapshot_quantiles answers from metadata with " +
    "the freshness proof, and a stale sidecar refuses loudly") {
    import spark.implicits._
    val t = graft.Staged.scratch(spark, "snapsqlr") + "/t"
    SnapshotTable.create(spark, t,
      (1 to 100).map(i => (i.toLong, i.toDouble, "all")).toDF("k", "v", "p"),
      "p")
    SnapshotSql.register(spark)
    val a = spark.sql(
      s"SELECT * FROM snapshot_analyze_ranks('$t', 'v')").head()
    assert(a.getLong(1) === 100L, s"n_rows: $a")
    assert(a.getLong(2) === 0L, s"exact regime expected: $a")
    val qs = spark.sql(
      s"SELECT * FROM snapshot_quantiles('$t', 'v', 0.25D, 0.5D, 1.0D) " +
        "ORDER BY q").collect()
    assert(qs.map(_.getDouble(1)).toSeq === Seq(25.0, 50.0, 100.0))
    assert(qs.forall(_.getLong(2) == 0L))
    // a commit the sidecar has not seen -> refusal, not a guess
    SnapshotTable.commitAppend(spark, t,
      Seq((101L, 101.0, "all")).toDF("k", "v", "p"), "p")
    val err = intercept[Exception] {
      spark.sql(s"SELECT * FROM snapshot_quantiles('$t', 'v', 0.5D)")
        .collect()
    }
    assert(err.getMessage.contains("no fresh rank summary"))
    RankStats.refresh(spark, t)
    assert(spark.sql(
      s"SELECT value FROM snapshot_quantiles('$t', 'v', 1.0D)")
      .head().getDouble(0) === 101.0)
  }

  test("exact-sum procedures: snapshot_analyze_sums persists decimal " +
    "sums, snapshot_sums serves them with the freshness proof, a " +
    "delete-only commit refuses, and the delta refresh re-arms exactly") {
    import spark.implicits._
    val t = graft.Staged.scratch(spark, "snapsqls") + "/t"
    SnapshotTable.create(spark, t,
      (1 to 100).map(i => (i.toLong, i * 2L, "all")).toDF("k", "w", "p"),
      "p")
    SnapshotSql.register(spark)
    val a = spark.sql(
      s"SELECT * FROM snapshot_analyze_sums('$t', 'k', 'w')").head()
    assert(a.getLong(1) === 2L, s"n_cols: $a")
    val r = spark.sql(s"SELECT * FROM snapshot_sums('$t', 'k')").head()
    assert(r.getString(0) === "k")
    assert(r.getLong(1) === 5050L)
    assert(r.getLong(2) === 100L)
    assert(spark.sql(s"SELECT sum_value FROM snapshot_sums('$t', 'w')")
      .head().getLong(0) === 10100L)
    // the delete-only staleness trap: data paths unchanged, totals not
    SnapshotTable.commitDeleteLazy(spark, t, Seq(1L, 2L).toDF("k"), "k")
    val err = intercept[Exception] {
      spark.sql(s"SELECT * FROM snapshot_sums('$t', 'k')").collect()
    }
    assert(err.getMessage.contains("no fresh exact sum"))
    // full re-analyze (a sum cannot subtract) serves the masked truth
    spark.sql(s"SELECT * FROM snapshot_analyze_sums('$t', 'k', 'w')")
      .collect()
    assert(spark.sql(s"SELECT sum_value FROM snapshot_sums('$t', 'k')")
      .head().getLong(0) === 5047L)
    // append + Scala-side delta refresh: exact addition, still served
    SnapshotTable.commitAppend(spark, t,
      Seq((1000L, 2000L, "all")).toDF("k", "w", "p"), "p")
    TableStats.refresh(spark, t)
    assert(spark.sql(s"SELECT sum_value FROM snapshot_sums('$t', 'k')")
      .head().getLong(0) === 6047L)
  }
}
