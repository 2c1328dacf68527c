package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

/** Catalyst-driven file skipping through [[SnapshotFileIndex]]: a
  * PLAIN `.filter` on a snapshot read must prune manifest files via
  * the pushed-down data filters — no bespoke readRange/readWhere call
  * — and pruning must stay conservative (unknown shapes scan
  * everything, results always match an unpruned read).
  */
class SnapshotFileIndexSpec extends SparkSpec {

  /** Files the executed plan actually scanned (post listFiles pruning),
    * summed over every parquet scan, AQE-aware.
    */
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

  private def sorted(df: DataFrame): Seq[String] =
    df.orderBy("o_orderkey").collect().map(_.toString).toSeq

  private lazy val table: String = {
    val t = graft.Staged.scratch(spark, "snapidx") + "/t"
    SnapshotTable.create(spark, t,
      Tables.orders(spark, sfDir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_orderpriority")),
      "o_orderpriority", statsCols = Seq("o_orderkey", "o_custkey"))
    t
  }

  private lazy val total: Int =
    SnapshotTable.readManifest(spark, table, 1L).size

  test("plain range filter on the cluster column prunes files and matches " +
    "the unpruned result") {
    val maxKey = Tables.orders(spark, sfDir)
      .agg(max("o_orderkey")).head().getLong(0)
    val (lo, hi) = (maxKey / 4, maxKey / 2)
    val pruned = SnapshotTable.read(spark, table)
      .filter(col("o_orderkey") >= lo && col("o_orderkey") <= hi)
    val n = scannedFiles(pruned)
    assert(n < total, s"no skip: scanned $n of $total")
    assert(sorted(pruned) === sorted(
      Tables.orders(spark, sfDir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_orderpriority"))
        .filter(col("o_orderkey") >= lo && col("o_orderkey") <= hi)))
  }

  test("plain equality filter on the partition column prunes via recorded " +
    "partition values") {
    val pruned = SnapshotTable.read(spark, table)
      .filter(col("o_orderpriority") === "1-URGENT")
    val n = scannedFiles(pruned)
    assert(n < total, s"no skip: scanned $n of $total")
    assert(sorted(pruned) === sorted(
      SnapshotTable.readWhere(spark, table, "o_orderpriority",
        Seq("1-URGENT"))))
  }

  test("IN-list and OR compose; secondary stats column prunes independently") {
    val inPruned = SnapshotTable.read(spark, table)
      .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
    assert(scannedFiles(inPruned) < total)

    // OR of two disjoint key ranges keeps files matching EITHER side
    val orPruned = SnapshotTable.read(spark, table)
      .filter(col("o_orderkey") < 50 || col("o_orderkey") === 51)
    assert(scannedFiles(orPruned) < total)
    assert(orPruned.count() ===
      SnapshotTable.read(spark, table).collect()
        .count(r => { val k = r.getLong(0); k < 50 || k == 51 }))

    // o_custkey stats ride every file; whether they prune here depends
    // on correlation, but they must never change the result
    val sec = SnapshotTable.read(spark, table).filter(col("o_custkey") <= 10)
    assert(sorted(sec) === sorted(
      Tables.orders(spark, sfDir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_orderpriority"))
        .filter(col("o_custkey") <= 10)))
  }

  test("conservative fallback: filters on a stats-less column, IsNull, and " +
    "negations scan everything they cannot prove disjoint — and stay correct") {
    // o_totalprice has no recorded stats → no skipping, full scan
    val noStats = SnapshotTable.read(spark, table)
      .filter(col("o_totalprice") > 1e12)
    assert(scannedFiles(noStats) === total.toLong)
    assert(noStats.count() === 0L)

    // IsNull on a column WITHOUT recorded stats can never prune...
    val isNullNoStats = SnapshotTable.read(spark, table)
      .filter(col("o_totalprice").isNull)
    assert(scannedFiles(isNullNoStats) === total.toLong)
    assert(isNullNoStats.count() === 0L)
    // ...but on a stats column the recorded null counts make it EXACT:
    // every file proves null-free, so the scan plans zero files
    val isNullStats = SnapshotTable.read(spark, table)
      .filter(col("o_custkey").isNull)
    assert(scannedFiles(isNullStats) === 0L)
    assert(isNullStats.count() === 0L)

    // negated partition equality IS exact on single-valued files
    val negated = SnapshotTable.read(spark, table)
      .filter(!(col("o_orderpriority") === "1-URGENT"))
    assert(scannedFiles(negated) < total)
    assert(negated.count() ===
      SnapshotTable.read(spark, table).count() -
        SnapshotTable.read(spark, table)
          .filter(col("o_orderpriority") === "1-URGENT").count())
  }

  test("planning is RPC-free: every manifest entry records bytes, and the " +
    "index sizeInBytes sums them") {
    val entries = SnapshotTable.readManifest(spark, table, 1L)
    assert(entries.forall(_.bytes > 0L), "entry without recorded bytes")
    val fs = new org.apache.hadoop.fs.Path(table).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    entries.foreach { e =>
      assert(e.bytes === fs.getFileStatus(
        new org.apache.hadoop.fs.Path(table, e.path)).getLen)
    }
  }

  test("clusterZOrder makes BOTH interleaved dimensions prunable — " +
    "including one a 1-D layout could never skip on — and loses no row") {
    val t = graft.Staged.scratch(spark, "snapzo") + "/t"
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
    SnapshotTable.create(spark, t, ev, "event_type",
      statsCols = Seq("ts"))
    val before = SnapshotTable.read(spark, t)
      .groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

    // pre-cluster: user_id has no stats → a user predicate scans all
    val preTotal = SnapshotTable.readManifest(spark, t, 1L).size
    assert(scannedFiles(SnapshotTable.read(spark, t)
      .filter(col("user_id") <= 2)) === preTotal.toLong)

    SnapshotTable.clusterZOrder(spark, t, "event_type", "ts", "user_id")
    val total = SnapshotTable.readManifest(spark, t, 2L).size

    // rewrite is lossless
    assert(SnapshotTable.read(spark, t)
      .groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap === before)

    // both dims now prune, independently and together
    val byUser = SnapshotTable.read(spark, t).filter(col("user_id") <= 2)
    val nUser = scannedFiles(byUser)
    assert(nUser < total, s"no user_id skip: $nUser of $total")
    assert(byUser.count() ===
      ev.filter(col("user_id") <= 2).count())

    val tsLo = lit("2024-01-05 00:00:00").cast("timestamp")
    val tsHi = lit("2024-01-10 00:00:00").cast("timestamp")
    // note: scannedFiles is once-per-Dataset — a second action resets
    // the plan's metrics and the driver-side numFiles never re-posts
    val nTs = scannedFiles(SnapshotTable.read(spark, t)
      .filter(col("ts").between(tsLo, tsHi)))
    assert(nTs < total)

    val byBoth = SnapshotTable.read(spark, t)
      .filter(col("ts").between(tsLo, tsHi) && col("user_id") <= 2)
    val nBoth = scannedFiles(byBoth)
    assert(nBoth <= math.min(nTs, nUser))
    assert(byBoth.count() ===
      ev.filter(col("ts").between(tsLo, tsHi) && col("user_id") <= 2)
        .count())
  }

  test("per-file bloom filters skip equality lookups on an unclustered " +
    "column — exactly, including after compaction") {
    val t = graft.Staged.scratch(spark, "snapbloom") + "/t"
    SnapshotTable.create(spark, t,
      Tables.orders(spark, sfDir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_orderpriority")),
      "o_orderpriority", bloomCols = Seq("o_orderkey"))
    val total = SnapshotTable.readManifest(spark, t, 1L).size
    assert(total > 1, "need several files for skipping to show")
    val keys = Tables.orders(spark, sfDir).select("o_orderkey")
      .orderBy("o_orderkey").limit(3).collect().map(_.getLong(0))

    // point lookup: bloom prunes where min/max (none recorded) cannot
    val hit = SnapshotTable.read(spark, t)
      .filter(col("o_orderkey") === keys(0))
    assert(scannedFiles(hit) < total)
    assert(hit.count() === 1L)

    // IN-list keeps files containing ANY of the keys
    val in = SnapshotTable.read(spark, t)
      .filter(col("o_orderkey").isin(keys.map(Long.box).toIndexedSeq: _*))
    assert(scannedFiles(in) < total)
    assert(in.count() === 3L)

    // a key proven absent everywhere scans nothing at all
    val miss = SnapshotTable.read(spark, t)
      .filter(col("o_orderkey") === (keys.max + 999983L))
    assert(scannedFiles(miss) === 0L)
    assert(miss.count() === 0L)

    // no bloom for o_custkey → conservative full scan
    assert(scannedFiles(SnapshotTable.read(spark, t)
      .filter(col("o_custkey") === 1L)) === total.toLong)

    // compaction rewrites files and RE-DERIVES blooms from the header
    SnapshotTable.compact(spark, t, "o_orderpriority")
    val total2 = SnapshotTable.readManifest(spark, t,
      SnapshotTable.currentVersion(spark, t)).size
    val hit2 = SnapshotTable.read(spark, t)
      .filter(col("o_orderkey") === keys(1))
    assert(scannedFiles(hit2) < total2)
    assert(hit2.count() === 1L)
  }

  test("partition evolution: appends under a NEW partition column stay " +
    "exact — values of one layout never prune predicates on another") {
    val t = graft.Staged.scratch(spark, "snapevo") + "/t"
    SnapshotTable.create(spark, t,
      Tables.orders(spark, sfDir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_orderpriority")),
      "o_orderpriority")
    // second generation arrives partitioned by CUSTOMER, not priority
    val batch = Tables.orders(spark, sfDir)
      .filter(col("o_custkey") <= 5)
      .select((col("o_orderkey") + 7000000L).as("o_orderkey"),
        col("o_custkey"), col("o_totalprice"), col("o_orderpriority"))
    SnapshotTable.commitAppend(spark, t, batch, "o_custkey")
    val m2 = SnapshotTable.readManifest(spark, t, 2L)
    assert(m2.exists(_.partBy.contains("o_custkey")) &&
      m2.exists(_.partBy.contains("o_orderpriority")))

    // a priority predicate must NOT skip the custkey-partitioned files
    // (their recorded values are customer keys, not priorities)
    val wantUrgent = Tables.orders(spark, sfDir)
      .filter(col("o_orderpriority") === "1-URGENT").count() +
      batch.filter(col("o_orderpriority") === "1-URGENT").count()
    assert(SnapshotTable.read(spark, t)
      .filter(col("o_orderpriority") === "1-URGENT").count() === wantUrgent)
    assert(SnapshotTable.readWhere(spark, t, "o_orderpriority",
      Seq("1-URGENT")).count() === wantUrgent)

    // and a custkey predicate prunes generation-2 files by THEIR values
    // while scanning generation 1 conservatively — still exact
    val wantCust = Tables.orders(spark, sfDir)
      .filter(col("o_custkey") === 3).count() +
      batch.filter(col("o_custkey") === 3).count()
    val byCust = SnapshotTable.read(spark, t)
      .filter(col("o_custkey") === 3)
    val scanned = scannedFiles(byCust)
    assert(byCust.count() === wantCust)
    assert(scanned < m2.size, s"gen-2 custkey files not pruned: " +
      s"$scanned of ${m2.size}")
  }

  test("monotone-transform predicates prune via stats evaluated at the " +
    "endpoints — and every pruned result matches the unpruned read") {
    val t = graft.Staged.scratch(spark, "snapmono") + "/t"
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("event_type"), col("value"))
    // first stats column = cluster column: day-granularity predicates
    // then have files to skip (fine granularity forces several ts RANGE
    // splits per partition value at spec scale — a single range split
    // would leave every file spanning the whole month)
    SnapshotTable.withFileGranularity(spark, 1L << 12) {
      SnapshotTable.create(spark, t, ev, "event_type",
        statsCols = Seq("ts", "event_id"))
    }
    val total = SnapshotTable.readManifest(spark, t, 1L).size
    assert(total > 10, s"need several ts ranges, got $total files")

    def check(pred: org.apache.spark.sql.Column, expectSkip: Boolean): Unit = {
      val q = SnapshotTable.read(spark, t).filter(pred)
      val n = scannedFiles(q)
      if (expectSkip) assert(n < total, s"no skip for $pred: $n of $total")
      val want = ev.filter(pred).count()
      assert(SnapshotTable.read(spark, t).filter(pred).count() === want,
        s"wrong result under pruning for $pred")
    }

    // cast(ts as date): equality, range — both prune
    check(col("ts").cast("date") === lit("2024-01-15"), expectSkip = true)
    check(col("ts").cast("date") >= lit("2024-01-25"), expectSkip = true)
    // date_trunc chains over the cast
    check(date_trunc("day", col("ts")) ===
      lit("2024-01-10 00:00:00").cast("timestamp"), expectSkip = true)
    // year(): all data is 2024 — a 2023 probe scans NOTHING
    val none = SnapshotTable.read(spark, t)
      .filter(year(col("ts")) === 2023)
    assert(scannedFiles(none) === 0L)
    assert(none.count() === 0L)
    // arithmetic chain on the integral stats column (exact under 2^53)
    check(col("event_id") + 1000L <= 1100L, expectSkip = true)
    // non-monotone shapes refuse: month() cycles — full scan, correct
    val m = SnapshotTable.read(spark, t)
      .filter(month(col("ts")) === 1)
    assert(scannedFiles(m) === total.toLong)
    assert(m.count() === ev.count())
  }

  test("filters still prune after a merge commit mixes file generations") {
    val t = graft.Staged.scratch(spark, "snapidx2") + "/t"
    SnapshotTable.create(spark, t,
      Tables.orders(spark, sfDir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_orderpriority")),
      "o_orderpriority", statsCols = Seq("o_orderkey"))
    val updates = Tables.orders(spark, sfDir)
      .filter(col("o_orderkey") % 97 === 0)
      .select(col("o_orderkey"), col("o_custkey"),
        (col("o_totalprice") + 1000.0).as("o_totalprice"),
        col("o_orderpriority"))
    SnapshotTable.commitMerge(spark, t, updates, "o_orderkey",
      "o_orderpriority")
    val m2 = SnapshotTable.readManifest(spark, t, 2L)
    val pruned = SnapshotTable.read(spark, t).filter(col("o_orderkey") < 100)
    assert(scannedFiles(pruned) < m2.size)
    assert(pruned.count() ===
      Tables.orders(spark, sfDir).filter(col("o_orderkey") < 100).count())
  }

  test("`col <=> NULL` keeps the proven all-null file (IsNull semantics) " +
    "and skips the null-free one — never the wrong way round") {
    import org.apache.spark.sql.catalyst.expressions.{
      AttributeReference, EqualNullSafe, Literal}
    import org.apache.spark.sql.execution.datasources.{
      HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.types.DoubleType
    import spark.implicits._
    val t = graft.Staged.scratch(spark, "snapidx3") + "/t"
    val df = Seq((1L, Some(1.0), "full"), (2L, Some(2.0), "full"),
      (3L, Option.empty[Double], "empty"), (4L, Option.empty[Double], "empty"))
      .toDF("k", "x", "p")
    SnapshotTable.create(spark, t, df, "p", statsCols = Seq("x"))
    val idx = SnapshotTable.read(spark, t).queryExecution.optimizedPlan
      .collectFirst { case l: LogicalRelation =>
        l.relation.asInstanceOf[HadoopFsRelation]
          .location.asInstanceOf[SnapshotFileIndex] }.get
    val total = idx.fileEntries.size
    // the optimizer usually rewrites <=> null to IsNull before pushdown,
    // so probe listFiles directly with the raw shape it also accepts
    val attr = AttributeReference("x", DoubleType)()
    val kept = idx.listFiles(Nil,
      Seq(EqualNullSafe(attr, Literal(null, DoubleType))))
      .flatMap(_.files).size
    assert(kept < total, "null-free file should skip under <=> NULL")
    assert(kept >= 1, "the all-null file's rows ALL match <=> NULL — " +
      "pruning it is a wrong answer")
    // end-to-end: the DataFrame result is right regardless of rewrites
    val rows = SnapshotTable.read(spark, t).filter(col("x") <=> lit(null))
      .select(col("k")).collect().map(_.getLong(0)).sorted
    assert(rows === Array(3L, 4L))
  }
}
