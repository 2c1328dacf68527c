package graft.plans

import org.apache.spark.sql.{DataFrame, GraftPlanBridge}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.SparkSpec.withoutRules
import graft.sources.{RankStats, SnapshotTable}

/** Rank-threshold top-k pushdown: ORDER BY col LIMIT k over a bare
  * snapshot relation gains a proven `col <= v` prefilter from the rank
  * summary, which manifest min/max skipping turns into FILE pruning on
  * a layout clustered on the column. Every plan assertion pairs with a
  * rule-off result-parity check — an unsound threshold that cuts a
  * true top-k row is exactly what these specs exist to catch.
  */
class RankTopKSpec extends SparkSpec {

  private def freshDir(): String =
    graft.Staged.scratch(spark, "ranktopk") + "/t"

  /** 10k rows clustered on v (statsCols head = range-split + per-file
    * sort), so a v threshold prunes most files.
    */
  private def clusteredTable(withNulls: Boolean = false): String = {
    val t = freshDir()
    val base = spark.range(0, 10000).select(
      col("id").as("k"),
      ((col("id") * 6361L) % 10000L).cast("double").as("v"),
      lit("all").as("p"))
    val df = if (!withNulls) base
      else base.withColumn("v",
        when(col("k") % 100 === 0, lit(null)).otherwise(col("v")))
    SnapshotTable.create(spark, t, df, "p", statsCols = Seq("v"))
    RankStats.analyze(spark, t, Seq("v"), m = 128)
    t
  }

  private def filesRead(df: DataFrame): Long = {
    df.collect()
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    def walk(p: SparkPlan): Long = {
      val self = p match {
        case s: FileSourceScanExec =>
          s.relation.location.listFiles(s.partitionFilters, s.dataFilters)
            .flatMap(_.files).size.toLong
        case _ => 0L
      }
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec        => Seq(q.plan)
        case r: ReusedExchangeExec    => Seq(r.child)
        case other                    => other.children
      }
      self + kids.map(walk).sum
    }
    walk(df.queryExecution.executedPlan)
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  test("ascending top-k reads a fraction of the files and returns " +
    "exactly the rule-off rows") {
    val t = clusteredTable()
    def q() = SnapshotTable.read(spark, t)
      .orderBy(col("v"), col("k")).limit(25)
      .select(col("k"), col("v"))
    val fast = q()
    val (slowRows, slowFiles) = withoutRules(spark, RankTopK) {
      val d = q(); (rows(d), filesRead(d))
    }
    assert(rows(fast) === slowRows)
    val fastFiles = filesRead(q())
    assert(fastFiles < slowFiles,
      s"top-25 of a clustered column should prune files: $fastFiles vs $slowFiles")
  }

  test("descending top-k prunes too (span-sound summary), and KEEPS " +
    "pruning after a delta refresh: segments preserve the span " +
    "property, so both directions stay armed at ingest cadence") {
    val t = clusteredTable()
    def desc() = SnapshotTable.read(spark, t)
      .orderBy(col("v").desc, col("k")).limit(25)
      .select(col("k"), col("v"))
    val (slowRows, slowFiles) = withoutRules(spark, RankTopK) {
      val d = desc(); (rows(d), filesRead(d))
    }
    assert(rows(desc()) === slowRows)
    assert(filesRead(desc()) < slowFiles)

    // append + delta refresh -> a fresh SEGMENT, spans preserved; the
    // appended rows sit at the BOTTOM of the value range, so the DESC
    // top-25 answer is unchanged but the proof must now span segments
    import spark.implicits._
    SnapshotTable.commitAppend(spark, t,
      (0 until 200).map(i => (90000L + i, (i % 100).toDouble, "all"))
        .toDF("k", "v", "p"), "p")
    val (rf, delta) = RankStats.refresh(spark, t)
    assert(delta, "append window must take the delta path")
    assert(rf.summaries.forall(_.spans), "delta segments must keep spans")
    val descRows2 = withoutRules(spark, RankTopK) { rows(desc()) }
    assert(rows(desc()) === descRows2)
    assert(filesRead(desc()) < withoutRules(spark, RankTopK) { filesRead(desc()) },
      "a span-preserving delta refresh must keep the DESC threshold armed")
    def asc() = SnapshotTable.read(spark, t)
      .orderBy(col("v"), col("k")).limit(25).select(col("k"), col("v"))
    val ascRowsOff = withoutRules(spark, RankTopK) { rows(asc()) }
    assert(rows(asc()) === ascRowsOff)
    assert(filesRead(asc()) < withoutRules(spark, RankTopK) { filesRead(asc()) },
      "ASC needs no span property - cum <= true rank holds across segments")

    // a LEGACY merged summary (single span-less segment) still refuses
    // DESC - the honest fallback for sidecars written by the old path
    val merged = rf.summaries.reduce(RankStats.merge)
    assert(!merged.spans)
    assert(RankStats.SegmentView(Seq(merged)).descThreshold(25).isEmpty,
      "a span-less segment must refuse the DESC threshold")
  }

  test("NULLS FIRST top-k keeps its null rows; parity with rule off") {
    val t = clusteredTable(withNulls = true)
    def q() = SnapshotTable.read(spark, t)
      .sort(col("v").asc_nulls_first, col("k")).limit(25)
      .select(col("k"), col("v"))
    val off = withoutRules(spark, RankTopK) { rows(q()) }
    assert(rows(q()) === off)
    assert(off.count(_.contains("null")) > 0,
      "fixture must actually place nulls in the top-k")
  }

  test("a LONG sort column with values beyond 2^53 refuses the " +
    "rewrite: the summary's double image is lossy there, so a " +
    "threshold could cut a genuine top-k row") {
    val t = freshDir()
    import spark.implicits._
    // doubles cannot represent every long at this magnitude: +1/+2
    // offsets collapse onto even values when cast
    val big = (0 until 2000)
      .map(i => (i.toLong, (1L << 53) + i.toLong * 3L, "all"))
      .toDF("k", "v", "p")
    SnapshotTable.create(spark, t, big, "p", statsCols = Seq("v"))
    RankStats.analyze(spark, t, Seq("v"), m = 64)
    def q() = SnapshotTable.read(spark, t)
      .orderBy(col("v"), col("k")).limit(25).select(col("k"), col("v"))
    assert(rows(q()) === withoutRules(spark, RankTopK) { rows(q()) })
    assert(filesRead(q()) === withoutRules(spark, RankTopK) { filesRead(q()) },
      "2^53-scale long values must refuse the threshold filter")
  }

  test("refusals: a non-partition filter and k beyond the provable " +
    "rows leave the plan alone; a STALE sidecar falls back to per-file " +
    "stats (pinned in the manifest, never stale) and still prunes") {
    val t = clusteredTable()
    // non-partition filter: rows passing it cannot be counted -> refuse
    def filtered() = SnapshotTable.read(spark, t)
      .filter(col("k") % 2 === 0)
      .orderBy(col("v"), col("k")).limit(25).select(col("k"), col("v"))
    assert(rows(filtered()) === withoutRules(spark, RankTopK) { rows(filtered()) })
    assert(filesRead(filtered()) === withoutRules(spark, RankTopK) { filesRead(filtered()) })
    // append WITHOUT refresh: the sidecar fingerprint goes stale, but
    // tier 2 serves from the planned entries' own stats - exact parity
    // (the appended row is the new global minimum and must survive)
    import spark.implicits._
    SnapshotTable.commitAppend(spark, t,
      Seq((99999L, -1.0, "all")).toDF("k", "v", "p"), "p")
    def q() = SnapshotTable.read(spark, t)
      .orderBy(col("v"), col("k")).limit(25).select(col("k"), col("v"))
    assert(rows(q()) === withoutRules(spark, RankTopK) { rows(q()) })
    assert(rows(q()).exists(_.contains("99999")),
      "fixture sanity: the appended minimum must be in the top-k")
    assert(filesRead(q()) < withoutRules(spark, RankTopK) { filesRead(q()) },
      "per-file stats must keep pruning when the sidecar is stale")
    // k > provable rows refuses (tiny table)
    val t2 = freshDir()
    SnapshotTable.create(spark, t2,
      (0 until 10).map(i => (i.toLong, i.toDouble, "all")).toDF("k", "v", "p"),
      "p", statsCols = Seq("v"))
    RankStats.analyze(spark, t2, Seq("v"), m = 64)
    def big() = SnapshotTable.read(spark, t2)
      .orderBy(col("v"), col("k")).limit(100).select(col("k"), col("v"))
    assert(rows(big()) === withoutRules(spark, RankTopK) { rows(big()) })
  }

  /** 12k rows over 3 partitions, clustered on v within each — the
    * filtered-top-k fixture: a partition filter keeps whole files and
    * per-file stats prove the threshold within the slice.
    */
  private def partedTable(): String = {
    val t = freshDir()
    val df = spark.range(0, 12000).select(
      col("id").as("k"),
      ((col("id") * 6361L) % 12000L).cast("double").as("v"),
      concat(lit("p"), (col("id") % 3).cast("string")).as("p"))
    SnapshotTable.create(spark, t, df, "p", statsCols = Seq("v"))
    t
  }

  test("partition-filtered top-k prunes from per-file stats — the " +
    "shape the table-wide sidecar can never serve — in both " +
    "directions, with rule-off parity; IN filters too") {
    val t = partedTable()
    def asc() = SnapshotTable.read(spark, t)
      .filter(col("p") === "p1")
      .orderBy(col("v"), col("k")).limit(25).select(col("k"), col("v"))
    val (offRows, offFiles) =
      withoutRules(spark, RankTopK) { val d = asc(); (rows(d), filesRead(d)) }
    assert(rows(asc()) === offRows)
    assert(filesRead(asc()) < offFiles,
      s"filtered ASC top-k must prune: ${filesRead(asc())} vs $offFiles")
    def desc() = SnapshotTable.read(spark, t)
      .filter(col("p") === "p1")
      .orderBy(col("v").desc, col("k")).limit(25).select(col("k"), col("v"))
    assert(rows(desc()) === withoutRules(spark, RankTopK) { rows(desc()) })
    assert(filesRead(desc()) < withoutRules(spark, RankTopK) { filesRead(desc()) })
    def inq() = SnapshotTable.read(spark, t)
      .filter(col("p").isin("p0", "p2"))
      .orderBy(col("v"), col("k")).limit(25).select(col("k"), col("v"))
    assert(rows(inq()) === withoutRules(spark, RankTopK) { rows(inq()) })
    assert(filesRead(inq()) < withoutRules(spark, RankTopK) { filesRead(inq()) })
  }

  test("a table with NO rank sidecar at all still top-k-prunes from " +
    "its file stats (statsCols is enough; ANALYZE optional)") {
    val t = partedTable() // never rank-analyzed
    def q() = SnapshotTable.read(spark, t)
      .orderBy(col("v"), col("k")).limit(25).select(col("k"), col("v"))
    assert(rows(q()) === withoutRules(spark, RankTopK) { rows(q()) })
    assert(filesRead(q()) < withoutRules(spark, RankTopK) { filesRead(q()) },
      "bare top-k must prune from file stats without any sidecar")
  }

  test("the default-partition stamp is never a proof: a literal equal " +
    "to the stamp refuses, and NULL-partition files never count toward " +
    "another value's threshold") {
    val t = freshDir()
    val df = spark.range(0, 6000).select(
      col("id").as("k"),
      ((col("id") * 6361L) % 6000L).cast("double").as("v"),
      when(col("id") % 3 === 0, lit(null).cast("string"))
        .otherwise(concat(lit("p"), (col("id") % 2).cast("string"))).as("p"))
    SnapshotTable.create(spark, t, df, "p", statsCols = Seq("v"))
    // the stamp literal: rows written under it are NULL/'' on read, a
    // real string equal to the stamp is indistinguishable — unprovable
    // either way, so the rewrite must leave the plan alone
    def stampQ() = SnapshotTable.read(spark, t)
      .filter(col("p") === "__HIVE_DEFAULT_PARTITION__")
      .orderBy(col("v"), col("k")).limit(10).select(col("k"), col("v"))
    assert(rows(stampQ()) === withoutRules(spark, RankTopK) { rows(stampQ()) })
    assert(filesRead(stampQ()) === withoutRules(spark, RankTopK) { filesRead(stampQ()) },
      "the stamp literal must refuse the threshold rewrite")
    // a real partition value: stamped (NULL) files are excluded from
    // the accumulation, so the proven threshold covers only genuinely
    // passing rows — exact parity with the rule off
    def pq() = SnapshotTable.read(spark, t).filter(col("p") === "p1")
      .orderBy(col("v"), col("k")).limit(10).select(col("k"), col("v"))
    assert(rows(pq()) === withoutRules(spark, RankTopK) { rows(pq()) })
  }

  test("install is SESSION-scoped, not JVM-global: a sibling session " +
    "without its own install plans no threshold prefilter; installing " +
    "there arms it") {
    val t = clusteredTable()
    def q(s: org.apache.spark.sql.SparkSession) =
      SnapshotTable.read(s, t)
        .orderBy(col("v"), col("k")).limit(25).select(col("k"), col("v"))
    val allFiles = withoutRules(spark, RankTopK) { filesRead(q(spark)) }
    assert(filesRead(q(spark)) < allFiles,
      "suite session (installed) must prune")
    val sibling = spark.newSession()
    assert(sibling.experimental.extraOptimizations.isEmpty,
      "a sibling session must not inherit the experimental rule")
    // the suite session's plan, analyzed and optimized in the sibling
    // before any read of its own has installed anything there
    val plan = q(spark).queryExecution.logical
    assert(filesRead(GraftPlanBridge.ofRows(sibling, plan)) === allFiles,
      "a sibling session without its own install must not prune")
    graft.SessionTune.install(sibling)
    assert(filesRead(GraftPlanBridge.ofRows(sibling, plan)) < allFiles,
      "the sibling's own install arms the rewrite")
    assert(filesRead(q(spark.newSession())) < allFiles,
      "a fresh session's first snapshot read installs the rules")
  }

  test("an all-NaN file's stats never close a threshold: the file-" +
    "stats proof drops NaN-bound entries (lo for DESC, hi for ASC), " +
    "so a top-k whose count would need the NaN file refuses instead " +
    "of injecting `>= NaN` and cutting genuine rows") {
    val t = freshDir()
    import spark.implicits._
    SnapshotTable.create(spark, t,
      (0 until 100).map(i => (i.toLong, i.toDouble, "all"))
        .toDF("k", "v", "p"),
      "p", statsCols = Seq("v"))
    // range clustering on a NaN-bearing double column makes an all-NaN
    // file the NORM (NaN sorts greatest -> its own slice); here it
    // arrives as an append, same manifest shape
    SnapshotTable.commitAppend(spark, t,
      (0 until 60).map(i => (1000L + i, Double.NaN, "all"))
        .toDF("k", "v", "p"), "p")
    // NaN sorts GREATEST: the true DESC top-120 is all 60 NaN rows
    // plus the top 60 real ones. k = 120 exceeds the 100 rows provable
    // from real-lo files, so pre-fix the NaN entry closed the count
    // and `v >= NaN` kept ONLY the NaN rows — the 60 real rows lost
    def desc120() = SnapshotTable.read(spark, t)
      .orderBy(col("v").desc, col("k")).limit(120)
      .select(col("k"), col("v"))
    val off = withoutRules(spark, RankTopK) { rows(desc120()) }
    assert(off.length === 120, "fixture sanity: 160 rows, k=120")
    assert(rows(desc120()) === off)
    // small k in both directions still proves from the real files
    // alone — the NaN rows pass a real DESC threshold by themselves
    // (NaN compares greatest), exact parity
    def desc20() = SnapshotTable.read(spark, t)
      .orderBy(col("v").desc, col("k")).limit(20)
      .select(col("k"), col("v"))
    assert(rows(desc20()) === withoutRules(spark, RankTopK) { rows(desc20()) })
    assert(rows(desc20()).forall(_.contains("NaN")),
      "fixture sanity: DESC top-20 is NaN rows (NaN sorts greatest)")
    def asc20() = SnapshotTable.read(spark, t)
      .orderBy(col("v"), col("k")).limit(20).select(col("k"), col("v"))
    assert(rows(asc20()) === withoutRules(spark, RankTopK) { rows(asc20()) })
  }

  test("a RANGE predicate on the partition column proves whole-file " +
    "membership exactly like equality (one stamp per file), in string " +
    "and BETWEEN shapes — and a range on a NON-partition column still " +
    "refuses") {
    val t = partedTable()
    def rangeF() = SnapshotTable.read(spark, t)
      .filter(col("p") >= "p1")
      .orderBy(col("v"), col("k")).limit(25).select(col("k"), col("v"))
    val (offRows, offFiles) = withoutRules(spark, RankTopK) {
      val d = rangeF(); (rows(d), filesRead(d))
    }
    assert(rows(rangeF()) === offRows)
    assert(filesRead(rangeF()) < offFiles,
      s"partition-range top-k must prune: ${filesRead(rangeF())} vs $offFiles")
    def betweenF() = SnapshotTable.read(spark, t)
      .filter(col("p").between("p1", "p2"))
      .orderBy(col("v").desc, col("k")).limit(25)
      .select(col("k"), col("v"))
    assert(rows(betweenF()) === withoutRules(spark, RankTopK) { rows(betweenF()) })
    assert(filesRead(betweenF()) < withoutRules(spark, RankTopK) { filesRead(betweenF()) },
      "BETWEEN (two range conjuncts) must prune, DESC included")
    // a range on a NON-partition column says nothing about whole-file
    // membership: plan untouched
    def nonPart() = SnapshotTable.read(spark, t)
      .filter(col("k") >= 6000L)
      .orderBy(col("v"), col("k")).limit(25).select(col("k"), col("v"))
    assert(rows(nonPart()) === withoutRules(spark, RankTopK) { rows(nonPart()) })
    assert(filesRead(nonPart()) === withoutRules(spark, RankTopK) { filesRead(nonPart()) },
      "a non-partition range must refuse the threshold rewrite")
  }

  test("an INTEGER-partitioned table proves range membership " +
    "numerically (stamp '12' vs literal 9 — lexicographic order would " +
    "get this wrong), with rule-off parity") {
    val t = freshDir()
    val df = spark.range(0, 9000).select(
      col("id").as("k"),
      ((col("id") * 6361L) % 9000L).cast("double").as("v"),
      (col("id") % 13).cast("int").as("p"))
    SnapshotTable.create(spark, t, df, "p", statsCols = Seq("v"))
    // p <= 2 is the UNSOUND direction for a lexicographic comparator:
    // '10' < '2' as strings, so a string compare would count files
    // p=10..12 whose rows all FAIL the filter — an over-tight
    // threshold that cuts genuine top-k rows and breaks parity
    def q() = SnapshotTable.read(spark, t)
      .filter(col("p") <= 2)
      .orderBy(col("v"), col("k")).limit(25).select(col("k"), col("v"))
    val (offRows, offFiles) =
      withoutRules(spark, RankTopK) { val d = q(); (rows(d), filesRead(d)) }
    assert(rows(q()) === offRows)
    assert(filesRead(q()) < offFiles,
      "numeric partition range must prune soundly (2 < 10 even " +
        "though '2' > '10' as strings)")
  }
}
