package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The record-level index must (a) plan only its postings' files —
  * strictly fewer than the table's — while matching the plain filtered
  * scan exactly, (b) refresh at O(new files) and then find
  * newly-appended keys, (c) keep masking lazily-deleted keys, (d) stay
  * exact across a compaction's file renames (stale postings filtered
  * against the live manifest), and (e) degrade to the full scan — never
  * a wrong answer — when stale or over cap.
  */
class SecondaryIndexSpec extends SparkSpec {

  private def freshDir(name: String): String =
    java.nio.file.Files.createTempDirectory(name).resolve("t").toString

  private def scannedFiles(df: DataFrame): Long = {
    df.collect()
    import org.apache.spark.sql.execution.adaptive.QueryStageExec
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
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
    scans(df.queryExecution.executedPlan).map(_.metrics("numFiles").value).sum
  }

  private def rows(df: DataFrame): Seq[String] =
    df.select(col("id"), col("grp"), col("v"))
      .orderBy(col("id")).collect().map(_.toString).toSeq

  // 400 rows, ids scattered round-robin over 8 partition values — id
  // min/max per file spans nearly everything, so only the index prunes
  private def buildTable(): String = {
    import spark.implicits._
    val t = freshDir("secidx")
    SnapshotTable.create(spark, t,
      (1 to 400).map(i => (i.toLong, s"g${i % 8}", i * 1.5))
        .toDF("id", "grp", "v"),
      "grp")
    t
  }

  private def plainLookup(t: String, keys: Seq[Long]): DataFrame =
    SnapshotTable.read(spark, t).filter(col("id").isin(keys: _*))

  test("lookup plans only the postings' files (fewer than the table's) " +
    "and matches the plain filtered scan") {
    val t = buildTable()
    val idx = t + "_idx"
    SecondaryIndex.create(spark, t, "id", idx, buckets = 8)
    val keys = Seq(5L, 77L, 310L)
    val total = scannedFiles(SnapshotTable.read(spark, t))
    val expected = SecondaryIndex.lookupFiles(spark, t, "id", idx, keys)
      .get.size.toLong
    assert(expected > 0 && expected < total)
    val viaIdx = SecondaryIndex.read(spark, t, "id", idx, keys)
    assert(rows(viaIdx) === rows(plainLookup(t, keys)))
    assert(scannedFiles(
      SecondaryIndex.read(spark, t, "id", idx, keys)
        .select(col("id"), col("grp"), col("v"))) === expected)
    // a missing key yields nothing, cheaply
    assert(SecondaryIndex.read(spark, t, "id", idx, Seq(123456L)).count() === 0L)
  }

  test("range lookup: postings range-cluster on the key within each " +
    "hash bucket, so a BETWEEN prunes posting files AND table files, " +
    "matches the plain scan, and degrades honestly when stale") {
    import spark.implicits._
    val t = freshDir("secidxrange")
    // ids round-robin over partitions; statsCols range-clusters each
    // partition on id, so every data file covers a tight id run and
    // splits at test granularity
    SnapshotTable.create(spark, t,
      spark.range(1, 20001).select(col("id"),
        concat(lit("g"), (col("id") % 8).cast("string")).as("grp"),
        (col("id") * 1.5).as("v")),
      "grp", statsCols = Seq("id"))
    val idx = t + "_idx"
    SecondaryIndex.create(spark, t, "id", idx, buckets = 8)
    def plain = SnapshotTable.read(spark, t)
      .filter(col("id") >= 3000L && col("id") <= 4200L)
    val viaIdx = SecondaryIndex.readRange(spark, t, "id", idx, 3000L, 4200L)
    assert(rows(viaIdx) === rows(plain))
    // table-side: plans fewer data files than the table holds
    val tableTotal = scannedFiles(SnapshotTable.read(spark, t))
    val planned = SecondaryIndex
      .lookupRangeFiles(spark, t, "id", idx, 3000L, 4200L).get.size.toLong
    assert(planned > 0 && planned < tableTotal,
      s"range must prune table files: $planned vs $tableTotal")
    // index-side: the probe's key stats prune posting files (the
    // whole point of the clustered layout — every bucket visited, but
    // only its in-range posting files)
    val idxTotal = scannedFiles(SnapshotTable.read(spark, idx))
    val probeScanned = scannedFiles(SnapshotTable.read(spark, idx)
      .filter(col("k") >= 3000L && col("k") <= 4200L))
    assert(probeScanned < idxTotal,
      s"clustered postings must prune by key stats: $probeScanned vs $idxTotal")
    // empty range: schema-preserving empty, no error
    assert(SecondaryIndex.readRange(spark, t, "id", idx, 50000L, 60000L)
      .count() === 0L)
    // stale index (appended rows in-range, autoRefresh off): full-scan
    // fallback still finds them
    SnapshotTable.commitAppend(spark, t,
      Seq((25350L, "g1", 1.0), (25360L, "g2", 2.0))
        .toDF("id", "grp", "v"), "grp")
    val stale = SecondaryIndex.readRange(spark, t, "id", idx,
      25300L, 25400L, autoRefresh = false)
    assert(stale.count() === 2L,
      "stale index must degrade to the scan, never miss rows")
  }

  test("refresh indexes only fresh files and finds appended keys; a " +
    "replayed refresh is a no-op") {
    import spark.implicits._
    val t = buildTable()
    val idx = t + "_idx"
    SecondaryIndex.create(spark, t, "id", idx, buckets = 8)
    val before = SnapshotTable.read(spark, idx).count()
    SnapshotTable.commitAppend(spark, t,
      Seq((1001L, "g1", 9.9), (1002L, "g5", 8.8)).toDF("id", "grp", "v"),
      "grp")
    SecondaryIndex.refresh(spark, t, "id", idx)
    // exactly the fresh rows' postings were added
    assert(SnapshotTable.read(spark, idx).count() === before + 2)
    assert(SecondaryIndex.refresh(spark, t, "id", idx) === None)
    val keys = Seq(7L, 1001L, 1002L)
    assert(rows(SecondaryIndex.read(spark, t, "id", idx, keys)) ===
      rows(plainLookup(t, keys)))
  }

  test("stream-driven maintenance (runSecIdx) converges the index to the " +
    "table head across several commits; a fresh-checkpoint restart adds nothing") {
    import spark.implicits._
    val t = buildTable()
    val idx = t + "_idx"
    SecondaryIndex.create(spark, t, "id", idx, buckets = 8)
    SnapshotTable.commitAppend(spark, t,
      Seq((2001L, "g1", 1.0)).toDF("id", "grp", "v"), "grp")
    SnapshotTable.commitAppend(spark, t,
      Seq((2002L, "g2", 2.0), (2003L, "g3", 3.0)).toDF("id", "grp", "v"), "grp")

    graft.streaming.SnapshotSink.runSecIdx(spark, t, "id", idx)
    assert(SecondaryIndex.appliedVersion(spark, idx) ===
      SnapshotTable.currentVersion(spark, t))
    val keys = Seq(5L, 2001L, 2002L, 2003L)
    assert(rows(SecondaryIndex.read(spark, t, "id", idx, keys,
      autoRefresh = false)) === rows(plainLookup(t, keys)))

    // restart from version 0 on a fresh checkpoint: replayed windows
    // are version no-ops, the postings table does not grow
    val n = SnapshotTable.read(spark, idx).count()
    val v = SnapshotTable.currentVersion(spark, idx)
    graft.streaming.SnapshotSink.runSecIdx(spark, t, "id", idx)
    assert(SnapshotTable.read(spark, idx).count() === n)
    assert(SnapshotTable.currentVersion(spark, idx) === v)
  }

  test("a lazily-deleted key stays masked through the restricted read " +
    "(version advances, postings unchanged, tag-only refresh)") {
    import spark.implicits._
    val t = buildTable()
    val idx = t + "_idx"
    SecondaryIndex.create(spark, t, "id", idx, buckets = 8)
    val nPostings = SnapshotTable.read(spark, idx).count()
    SnapshotTable.commitDeleteLazy(spark, t, Seq(77L).toDF("id"), "id")
    SecondaryIndex.refresh(spark, t, "id", idx)
    assert(SnapshotTable.read(spark, idx).count() === nPostings)
    val got = SecondaryIndex.read(spark, t, "id", idx, Seq(77L, 78L))
    assert(rows(got) === rows(plainLookup(t, Seq(77L, 78L))))
    assert(got.count() === 1L) // 77 masked, 78 present
  }

  test("compaction's renamed files: refresh re-indexes them, stale " +
    "postings are filtered against the live manifest, lookups stay exact") {
    val t = buildTable()
    val idx = t + "_idx"
    SecondaryIndex.create(spark, t, "id", idx, buckets = 8)
    SnapshotTable.compact(spark, t, "grp")
    SecondaryIndex.refresh(spark, t, "id", idx)
    val keys = Seq(5L, 77L, 310L)
    val files = SecondaryIndex.lookupFiles(spark, t, "id", idx, keys).get
    val live = SnapshotTable.readManifest(spark, t,
      SnapshotTable.currentVersion(spark, t)).map(_.path).toSet
    // postings may be stale, but the returned list is pre-intersection;
    // the READ intersects — verify it returns exactly the right rows
    assert(rows(SecondaryIndex.read(spark, t, "id", idx, keys)) ===
      rows(plainLookup(t, keys)))
    // and after a rebuild the posting list is live-only again
    SecondaryIndex.rebuild(spark, t, "id", idx)
    val rebuilt = SecondaryIndex.lookupFiles(spark, t, "id", idx, keys).get
    assert(rebuilt.forall(live.contains))
    assert(files.nonEmpty && rebuilt.nonEmpty)
  }

  test("refresh RETIRES postings of files that left the live set — " +
    "after a compact the index holds exactly a rebuild's postings and " +
    "no stale references; rebuild demoted to a repair tool") {
    val t = buildTable()
    val idx = t + "_idx"
    SecondaryIndex.create(spark, t, "id", idx, buckets = 8)
    val before = SnapshotTable.read(spark, idx).count()
    SnapshotTable.compact(spark, t, "grp")
    SecondaryIndex.refresh(spark, t, "id", idx)
    val live = SnapshotTable.readManifest(spark, t,
      SnapshotTable.currentVersion(spark, t)).map(_.path).toSet
    val refs = SnapshotTable.read(spark, idx).select(col("file"))
      .distinct().collect().map(_.getString(0))
    assert(refs.nonEmpty && refs.forall(live.contains),
      "a refreshed index references only live files")
    val afterRefresh = SnapshotTable.read(spark, idx).count()
    // the GC'd index IS a rebuild's row set — nothing left for rebuild
    SecondaryIndex.rebuild(spark, t, "id", idx)
    assert(afterRefresh === SnapshotTable.read(spark, idx).count(),
      s"refresh-GC must leave exactly the live postings (pre-compact " +
        s"count was $before)")
    // and the applied tag survived the GC's rewrite commit
    assert(SecondaryIndex.appliedVersion(spark, idx) ===
      SnapshotTable.currentVersion(spark, t))
    val keys = Seq(5L, 77L, 310L)
    assert(rows(SecondaryIndex.read(spark, t, "id", idx, keys)) ===
      rows(plainLookup(t, keys)))
  }

  test("a key-delete commit's rewrites are GC'd by the next refresh: " +
    "postings row count SHRINKS (deleted keys' postings gone too)") {
    import spark.implicits._
    val t = buildTable()
    val idx = t + "_idx"
    SecondaryIndex.create(spark, t, "id", idx, buckets = 8)
    val before = SnapshotTable.read(spark, idx).count()
    val doomed = (1 to 100).map(_.toLong)
    SnapshotTable.commitDeleteKeys(spark, t,
      doomed.toDF("id"), "id", "grp")
    SecondaryIndex.refresh(spark, t, "id", idx)
    val after = SnapshotTable.read(spark, idx).count()
    assert(after < before,
      s"postings must shrink after a delete-rewrite ($before -> $after)")
    val live = SnapshotTable.readManifest(spark, t,
      SnapshotTable.currentVersion(spark, t)).map(_.path).toSet
    val refs = SnapshotTable.read(spark, idx).select(col("file"))
      .distinct().collect().map(_.getString(0))
    assert(refs.forall(live.contains))
    // deleted keys resolve to NO files; survivors still index-served
    assert(SecondaryIndex.lookupFiles(spark, t, "id", idx,
      Seq(5L, 50L)).get.isEmpty)
    assert(rows(SecondaryIndex.read(spark, t, "id", idx,
      Seq(150L, 399L))) === rows(plainLookup(t, Seq(150L, 399L))))
  }

  test("the index-pruned inner join plans only posting files, matches " +
    "the plain join, and survives dims past any IN-collect cap") {
    import spark.implicits._
    val t = buildTable()
    val idx = t + "_idx"
    SecondaryIndex.create(spark, t, "id", idx, buckets = 8)
    // 30 distinct keys, none collected to the driver — the probe is the
    // distributed postings semi-join (one residue class mod 8 keeps the
    // postings to a strict file subset so the pruning is observable)
    val dim = (8L to 240L by 8L).toDF("fk")
    val fact = SnapshotTable.read(spark, t)
    def roll(df: DataFrame): Seq[String] =
      df.groupBy(col("grp")).agg(count(lit(1)).as("n"), sum(col("v")).as("s"))
        .orderBy(col("grp")).collect().map(_.toString).toSeq
    val pruned = SecondaryIndex.innerJoinPruned(spark, t, "id", idx, dim, "fk")
    assert(roll(pruned) === roll(fact.join(dim, fact("id") === dim("fk"))))
    val expected = SecondaryIndex.lookupFiles(spark, t, "id", idx,
      (8L to 240L by 8L).toSeq).get.size.toLong
    assert(expected < scannedFiles(SnapshotTable.read(spark, t)))
    assert(scannedFiles(SecondaryIndex.innerJoinPruned(spark, t, "id", idx,
      dim, "fk").select(col("id"), col("grp"), col("v")))
      === expected) // the join's only file scan is the posting files
    // over-cap file list falls back to the plain join, still exact
    assert(roll(SecondaryIndex.innerJoinPruned(spark, t, "id", idx, dim,
      "fk", maxFiles = 1)) ===
      roll(fact.join(dim, fact("id") === dim("fk"))))
  }

  test("a stale index (autoRefresh off) and an over-cap posting list " +
    "both degrade to the full filtered scan — never wrong") {
    import spark.implicits._
    val t = buildTable()
    val idx = t + "_idx"
    SecondaryIndex.create(spark, t, "id", idx, buckets = 8)
    SnapshotTable.commitAppend(spark, t,
      Seq((2001L, "g2", 1.0)).toDF("id", "grp", "v"), "grp")
    // stale: index has not seen 2001 — autoRefresh=false must still find it
    val keys = Seq(10L, 2001L)
    assert(rows(SecondaryIndex.read(spark, t, "id", idx, keys,
      autoRefresh = false)) === rows(plainLookup(t, keys)))
    // over-cap: maxFiles=0 forces the fallback
    SecondaryIndex.refresh(spark, t, "id", idx)
    assert(SecondaryIndex.lookupFiles(spark, t, "id", idx, keys,
      maxFiles = 0) === None)
    assert(rows(SecondaryIndex.read(spark, t, "id", idx, keys,
      maxFiles = 0)) === rows(plainLookup(t, keys)))
  }

  test("index-served deleteKeys rewrites exactly the posting files, " +
    "matches the plain scan delete, and an absent key changes nothing") {
    import spark.implicits._
    val t = buildTable()
    val idx = t + "_idx"
    SecondaryIndex.create(spark, t, "id", idx, buckets = 8)
    val keys = Seq(5L, 77L, 310L, 123456L)
    val expectedFiles = SecondaryIndex.lookupFiles(spark, t, "id", idx, keys)
      .get.toSet
    val before = SnapshotTable.readManifest(spark, t,
      SnapshotTable.currentVersion(spark, t)).map(_.path).toSet
    val (v2, n) = SecondaryIndex.deleteKeys(spark, t, "id", idx, keys, "grp",
      autoRefresh = false)
    assert(n === 3L)
    // postings name only files that HELD a key, so the rewrite set is
    // exactly the candidate list — nothing else was touched
    val after = SnapshotTable.readManifest(spark, t, v2).map(_.path).toSet
    assert((before -- after) === expectedFiles)
    assert(expectedFiles.size < before.size,
      "scattered keys must rewrite a strict subset of the table's files")
    // twin table through the plain scan path: end states identical
    val t2 = buildTable()
    SnapshotTable.commitDeleteKeys(spark, t2,
      keys.toDF("id"), "id", "grp")
    assert(rows(SnapshotTable.read(spark, t)) ===
      rows(SnapshotTable.read(spark, t2)))
    // absent key only: no rewrite, no version advance
    val (v3, n3) = SecondaryIndex.deleteKeys(spark, t, "id", idx,
      Seq(987654L), "grp", autoRefresh = false)
    assert(n3 === 0L && v3 === v2)
  }

  test("deleteKeys degrades on a stale index (scan path finds keys in " +
    "un-indexed fresh files); unproven candidate sets are trusted, which " +
    "is why only the version guard admits them") {
    import spark.implicits._
    val t = buildTable()
    val idx = t + "_idx"
    SecondaryIndex.create(spark, t, "id", idx, buckets = 8)
    SnapshotTable.commitAppend(spark, t,
      Seq((3001L, "g3", 1.0)).toDF("id", "grp", "v"), "grp")
    // stale index, autoRefresh off: the fresh-file key must STILL die
    // (degrade to scan), not silently survive
    val (_, n) = SecondaryIndex.deleteKeys(spark, t, "id", idx,
      Seq(3001L), "grp", autoRefresh = false)
    assert(n === 1L)
    assert(SnapshotTable.read(spark, t)
      .filter(col("id") === 3001L).count() === 0L)
    // a trusted-but-wrong candidate set under-deletes — the documented
    // reason candidates must be PROVEN supersets...
    val v = SnapshotTable.currentVersion(spark, t)
    val (_, n2) = SnapshotTable.commitDeleteKeys(spark, t,
      Seq(5L).toDF("id"), "id", "grp",
      candidates = Some((v, Set.empty[String])))
    assert(n2 === 0L && SnapshotTable.read(spark, t)
      .filter(col("id") === 5L).count() === 1L)
    // ...and a version-mismatched set is IGNORED: the scan path runs
    // and the delete lands despite the bogus hint
    val (_, n3) = SnapshotTable.commitDeleteKeys(spark, t,
      Seq(5L).toDF("id"), "id", "grp",
      candidates = Some((v - 1, Set.empty[String])))
    assert(n3 === 1L && SnapshotTable.read(spark, t)
      .filter(col("id") === 5L).count() === 0L)
  }
}
