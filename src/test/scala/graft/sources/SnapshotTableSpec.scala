package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}
import graft.SparkSpec.withConf

class SnapshotTableSpec extends SparkSpec {

  private def freshTable(): String = {
    val table = graft.Staged.scratch(spark, "snap") + "/t"
    SnapshotTable.create(spark, table,
      Tables.orders(spark, sfDir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_orderpriority")),
      "o_orderpriority")
    table
  }

  private def updatesBatch(): DataFrame =
    Tables.orders(spark, sfDir).filter(col("o_orderkey") % 97 === 0)
      .select(col("o_orderkey"), col("o_custkey"),
        (col("o_totalprice") + 1000.0).as("o_totalprice"),
        col("o_orderpriority"))

  private def sortedRows(df: DataFrame): Seq[String] =
    df.orderBy("o_orderkey").collect().map(_.toString).toSeq

  test("commitMerge result equals the in-place Upsert merge on the same inputs") {
    val table = freshTable()
    val updates = updatesBatch()

    // in-place reference: same base, same batch, hive-layout upsert
    val upsDir = graft.Staged.scratch(spark, "snapref") + "/t"
    Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderpriority"))
      .write.partitionBy("o_orderpriority").parquet(upsDir)
    Upsert.upsertByKey(spark, upsDir, updates, "o_orderkey", "o_orderpriority")

    val (v, replaced, inserted) = SnapshotTable.commitMerge(
      spark, table, updates, "o_orderkey", "o_orderpriority")
    assert(v === 2L)
    assert(inserted === 0L)
    assert(replaced === updates.count())

    val got = SnapshotTable.read(spark, table)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderpriority"))
    assert(sortedRows(got) === sortedRows(
      Upsert.openMergedTable(spark, upsDir, "o_orderpriority")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_orderpriority"))))
  }

  test("snapshot isolation: a reader pinned before the merge sees the old " +
    "data after it commits; time travel reproduces v1 exactly") {
    val table = freshTable()
    val v1Pinned = SnapshotTable.read(spark, table) // resolved to v1 NOW
    val v1Rows = sortedRows(v1Pinned)

    SnapshotTable.commitMerge(spark, table, updatesBatch(),
      "o_orderkey", "o_orderpriority")

    // the pinned plan still reads v1's (immutable, un-vacuumed) files
    assert(sortedRows(v1Pinned) === v1Rows)
    assert(sortedRows(SnapshotTable.readVersion(spark, table, 1L)) === v1Rows)
    // and the new current differs exactly on the updated keys
    val changedKeys = SnapshotTable.read(spark, table)
      .join(SnapshotTable.readVersion(spark, table, 1L)
        .withColumnRenamed("o_totalprice", "old_price"),
        Seq("o_orderkey", "o_custkey", "o_orderpriority"))
      .filter(col("o_totalprice") =!= col("old_price"))
      .select("o_orderkey").distinct().count()
    assert(changedKeys === updatesBatch().count())
  }

  test("merge carries unaffected files by reference and manifest skipping " +
    "plans only intersecting files") {
    val table = freshTable()
    val m1 = SnapshotTable.readManifest(spark, table, 1L)
    val oneUrgent = Tables.orders(spark, sfDir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .orderBy("o_orderkey").limit(1)
      .select(col("o_orderkey"), col("o_custkey"),
        (col("o_totalprice") + 5.0).as("o_totalprice"),
        col("o_orderpriority"))
    SnapshotTable.commitMerge(spark, table, oneUrgent,
      "o_orderkey", "o_orderpriority")
    val m2 = SnapshotTable.readManifest(spark, table, 2L)

    // files not holding 1-URGENT carried over untouched (same path objects)
    val carried = m1.filter(!_.parts.forall(_.contains("1-URGENT")))
    assert(carried.nonEmpty)
    assert(carried.forall(e => m2.exists(_.path == e.path)))
    // files holding 1-URGENT were replaced
    val rewritten = m1.filter(_.parts.forall(_.contains("1-URGENT")))
    assert(rewritten.forall(e => !m2.exists(_.path == e.path)))

    // readWhere plans a strict subset of the table's files
    val planned = SnapshotTable
      .readWhere(spark, table, "o_orderpriority", Seq("1-URGENT"))
    assert(planned.inputFiles.length < m2.size)
    assert(sortedRows(planned) === sortedRows(
      SnapshotTable.read(spark, table)
        .filter(col("o_orderpriority") === "1-URGENT")))
  }

  test("cross-partition movers are detected at file granularity") {
    val table = freshTable()
    // move one existing 5-LOW key to 1-URGENT; its old file is NOT in the
    // batch's partition set
    val mover = Tables.orders(spark, sfDir)
      .filter(col("o_orderpriority") === "5-LOW")
      .orderBy("o_orderkey").limit(1)
      .select(col("o_orderkey"), col("o_custkey"),
        lit(1.0).as("o_totalprice"), lit("1-URGENT").as("o_orderpriority"))
    val key = mover.head().getLong(0)
    SnapshotTable.commitMerge(spark, table, mover,
      "o_orderkey", "o_orderpriority")
    val rows = SnapshotTable.read(spark, table)
      .filter(col("o_orderkey") === key).collect()
    assert(rows.length === 1) // no stale duplicate in 5-LOW
    assert(rows.head.getAs[String]("o_orderpriority") === "1-URGENT")
  }

  test("vacuum removes only unreferenced files; current stays readable, " +
    "old versions go") {
    val table = freshTable()
    SnapshotTable.commitMerge(spark, table, updatesBatch(),
      "o_orderkey", "o_orderpriority")
    val fs = new Path(table).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    // orphan debris: a crashed staging and a manifest tmp
    fs.mkdirs(new Path(table, "_staging_deadbeef"))
    val tmp = fs.create(new Path(table, "_manifests/v9.json.tmp.crash"), true)
    tmp.write("{}".getBytes); tmp.close()

    val before = SnapshotTable.read(spark, table).count()
    val deleted = SnapshotTable.vacuum(spark, table, keepVersions = 1)
    assert(deleted > 0)
    assert(SnapshotTable.read(spark, table).count() === before)
    assert(SnapshotTable.versions(spark, table) === Seq(2L))
    intercept[Exception] { SnapshotTable.readVersion(spark, table, 1L).count() }
    // every remaining data file is referenced by the kept manifest
    val live = SnapshotTable.readManifest(spark, table, 2L)
      .map(e => new Path(e.path).getName).toSet
    val onDisk = fs.listStatus(new Path(table, "data"))
      .map(_.getPath.getName).toSet
    assert(onDisk === live)
  }

  test("age-guarded vacuum retains a version until its successor " +
    "outlives the reader-protection window; history describes versions") {
    val table = freshTable()
    SnapshotTable.commitMerge(spark, table, updatesBatch(),
      "o_orderkey", "o_orderpriority")
    // v2 was published milliseconds ago: a 1-hour window protects v1
    val kept = SnapshotTable.vacuum(spark, table, keepVersions = 1,
      minAgeMs = 3600000L)
    assert(SnapshotTable.versions(spark, table) === Seq(1L, 2L))
    assert(SnapshotTable.readVersion(spark, table, 1L).count() > 0)
    val hist = SnapshotTable.history(spark, table)
      .orderBy("version").collect()
    assert(hist.map(_.getLong(0)).toSeq === Seq(1L, 2L))
    assert(hist.forall(_.getLong(2) > 0)) // n_rows
    // window elapsed (0 ms): v1 goes
    SnapshotTable.vacuum(spark, table, keepVersions = 1, minAgeMs = 0L)
    assert(SnapshotTable.versions(spark, table) === Seq(2L))
  }

  test("concurrent commit conflict is loud: publishing an already-taken " +
    "version fails and leaves the winner's manifest intact") {
    val table = freshTable()
    val winner = SnapshotTable.readManifest(spark, table, 1L)
    // winner publishes v2; a racing writer that also resolved current=1
    // then tries to publish ITS v2 — the rename commit point must refuse
    SnapshotTable.writeManifest(spark, table, 2L, winner)
    val err = intercept[RuntimeException] {
      SnapshotTable.writeManifest(spark, table, 2L, winner.take(1))
    }
    assert(err.getMessage.contains("conflict"))
    assert(SnapshotTable.currentVersion(spark, table) === 2L)
    assert(SnapshotTable.readManifest(spark, table, 2L) === winner)
    // and no tmp debris survives the failed publish
    val fs = new Path(table).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(!fs.listStatus(new Path(table, "_manifests"))
      .exists(_.getPath.getName.contains(".tmp.")))
  }

  test("range-clustered stats skip disjoint files and survive merge " +
    "and compaction") {
    val table = graft.Staged.scratch(spark, "snapstats") + "/t"
    val orders = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderpriority"))
    SnapshotTable.create(spark, table, orders, "o_orderpriority",
      statsCols = Seq("o_orderkey"))
    val m1 = SnapshotTable.readManifest(spark, table, 1L)
    assert(m1.forall(_.stats.exists(_.col == "o_orderkey")))
    // range clustering: at least one file is provably disjoint from a
    // head-of-keyspace window
    val lo = 1d
    val hi = orders.agg(expr("percentile(o_orderkey, 0.2)")).head().getDouble(0)
    val planned = SnapshotTable.readRange(spark, table, "o_orderkey", lo, hi)
    assert(planned.inputFiles.length < m1.size)
    val want = orders.filter(col("o_orderkey").between(lo, hi))
      .orderBy("o_orderkey").collect().toSeq
    assert(planned.orderBy("o_orderkey").collect().toSeq === want)
    // stats keep being recorded through merge and compaction (no
    // caller restatement), so skipping still works after both
    SnapshotTable.commitMerge(spark, table, updatesBatch(),
      "o_orderkey", "o_orderpriority")
    SnapshotTable.compact(spark, table, "o_orderpriority",
      smallThreshold = Long.MaxValue)
    val mN = SnapshotTable.readManifest(spark, table,
      SnapshotTable.currentVersion(spark, table))
    assert(mN.forall(_.stats.exists(_.col == "o_orderkey")))
    val planned2 = SnapshotTable.readRange(spark, table, "o_orderkey", lo, hi)
    assert(planned2.inputFiles.length < mN.size)
    // pruning on a DIFFERENT column must not skip anything
    assert(SnapshotTable.readRange(spark, table, "o_custkey", 0d, 1d)
      .inputFiles.length === mN.size)
  }

  test("commitDelete drops exactly the matching rows, rewrites only " +
    "files containing matches, and old versions keep the rows") {
    val table = freshTable()
    val m1 = SnapshotTable.readManifest(spark, table, 1L)
    val allBefore = SnapshotTable.read(spark, table).count()
    // matches live only in 1-URGENT — other files must carry over
    val pred = col("o_orderpriority") === "1-URGENT" &&
      col("o_orderkey") % 3 === 0
    val nMatch = SnapshotTable.read(spark, table).filter(pred).count()
    assert(nMatch > 0)

    val (v2, nDeleted) = SnapshotTable.commitDelete(spark, table, pred,
      "o_orderpriority")
    assert(v2 === 2L)
    assert(nDeleted === nMatch)
    val after = SnapshotTable.read(spark, table)
    assert(after.count() === allBefore - nMatch)
    assert(after.filter(pred).count() === 0L)
    // untouched files carried by reference
    val m2 = SnapshotTable.readManifest(spark, table, 2L)
    val carried = m1.filter(!_.parts.forall(_.contains("1-URGENT")))
    assert(carried.nonEmpty)
    assert(carried.forall(e => m2.exists(_.path == e.path)))
    // snapshot isolation: v1 still has the rows
    assert(SnapshotTable.readVersion(spark, table, 1L).filter(pred).count()
      === nMatch)
    // no-match delete is a no-op version-wise
    assert(SnapshotTable.commitDelete(spark, table,
      col("o_orderkey") === -1L, "o_orderpriority") === ((2L, 0L)))
  }

  test("schema evolution: appends add columns without rewriting old " +
    "files; pinned versions keep their schema; type conflicts refuse") {
    val table = freshTable()
    val m1Paths = SnapshotTable.readManifest(spark, table, 1L)
      .map(_.path).toSet
    val extra = Tables.orders(spark, sfDir).limit(10)
      .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
        col("o_custkey"), col("o_totalprice"), col("o_orderpriority"),
        lit(42L).as("o_bonus"))
    SnapshotTable.commitAppend(spark, table, extra, "o_orderpriority")

    val cur = SnapshotTable.read(spark, table)
    assert(cur.columns.contains("o_bonus"))
    // old rows read null bonus, new rows carry it — no file rewritten
    assert(cur.filter(col("o_bonus").isNull).count() ===
      cur.count() - 10)
    assert(cur.filter(col("o_bonus") === 42L).count() === 10)
    val m2 = SnapshotTable.readManifest(spark, table, 2L)
    assert(m1Paths.subsetOf(m2.map(_.path).toSet))
    // a reader pinned to v1 sees the PRE-evolution schema
    assert(!SnapshotTable.readVersion(spark, table, 1L)
      .columns.contains("o_bonus"))
    // the evolved schema survives compaction
    SnapshotTable.compact(spark, table, "o_orderpriority",
      smallThreshold = Long.MaxValue)
    assert(SnapshotTable.read(spark, table).columns.contains("o_bonus"))
    assert(SnapshotTable.read(spark, table)
      .filter(col("o_bonus") === 42L).count() === 10)
    // shared names must keep their type
    val bad = extra.withColumn("o_bonus", lit("nope"))
    val err = intercept[IllegalArgumentException] {
      SnapshotTable.commitAppend(spark, table, bad, "o_orderpriority")
    }
    assert(err.getMessage.contains("schema evolution"))
  }

  test("commitDelete keeps rows where the predicate evaluates NULL " +
    "(three-valued logic: NULL is non-matching, not droppable)") {
    val table = graft.Staged.scratch(spark, "snapnull") + "/t"
    import spark.implicits._
    val df = Seq[(Long, Option[Double], String)](
      (1L, Some(5.0), "a"), (2L, Some(50.0), "a"), (3L, None, "a"),
      (4L, None, "b"), (5L, Some(7.0), "b")).toDF("k", "v", "p")
    SnapshotTable.create(spark, table, df, "p")
    // v > 10 is NULL for rows 3 and 4 — they must SURVIVE, in rewritten
    // (partition a) and untouched (partition b) files alike
    val (v2, nDeleted) = SnapshotTable.commitDelete(spark, table,
      col("v") > 10.0, "p")
    assert(v2 === 2L)
    assert(nDeleted === 1L)
    assert(SnapshotTable.read(spark, table).select("k")
      .collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 3L, 4L, 5L))
  }

  test("pruned reads apply the recorded schema across evolution: " +
    "readWhere/readRange over pre-evolution files keep the added column") {
    val table = freshTable()
    val extra = Tables.orders(spark, sfDir).limit(5)
      .select((col("o_orderkey") + 10000000L).as("o_orderkey"),
        col("o_custkey"), col("o_totalprice"),
        lit("9-NEW").as("o_orderpriority"), lit(7L).as("o_bonus"))
    SnapshotTable.commitAppend(spark, table, extra, "o_orderpriority")
    // 1-URGENT files all predate the evolution — without the recorded
    // schema the pruned read would silently drop o_bonus
    val pruned = SnapshotTable.readWhere(spark, table, "o_orderpriority",
      Seq("1-URGENT"))
    assert(pruned.columns.contains("o_bonus"))
    assert(pruned.filter(col("o_bonus").isNotNull).count() === 0L)
    assert(pruned.count() > 0L)
  }

  test("vacuum's age window protects young unreferenced data files and " +
    "staging dirs (in-flight commit survives a concurrent vacuum)") {
    val table = freshTable()
    val fs = new Path(table).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    // simulate an in-flight commit: a fresh data file no manifest
    // references yet, plus a staging dir mid-write
    val inflight = new Path(table, "data/inflight-0-part.parquet")
    val out = fs.create(inflight, true); out.write("x".getBytes); out.close()
    fs.mkdirs(new Path(table, "_staging_inflight"))
    SnapshotTable.vacuum(spark, table, keepVersions = 1,
      minAgeMs = 3600000L)
    assert(fs.exists(inflight))
    assert(fs.exists(new Path(table, "_staging_inflight")))
    // window elapsed: both are orphan debris and go
    SnapshotTable.vacuum(spark, table, keepVersions = 1, minAgeMs = 0L)
    assert(!fs.exists(inflight))
    assert(!fs.exists(new Path(table, "_staging_inflight")))
  }

  test("empty batches and all-null stats columns commit cleanly") {
    val table = freshTable()
    val v1Count = SnapshotTable.read(spark, table).count()
    // an empty micro-batch is an entries-empty commit that still
    // records its tag (the sink's retry contract), not an error
    val empty = SnapshotTable.read(spark, table).filter(lit(false))
    assert(SnapshotTable.commitAppend(spark, table, empty,
      "o_orderpriority", tag = Some("b0")) === Some(2L))
    assert(SnapshotTable.read(spark, table).count() === v1Count)
    assert(SnapshotTable.commitAppend(spark, table, empty,
      "o_orderpriority", tag = Some("b0")) === None) // replay no-op
    // an all-null stats column records NaN bounds + its exact null
    // count: min/max evidence absent, but the all-null proof lets a
    // range read skip the file entirely (no value can be in range)
    val nullStats = graft.Staged.scratch(spark, "snapnullst") + "/t"
    import spark.implicits._
    val df = Seq((1L, "a"), (2L, "b")).toDF("k", "p")
      .withColumn("s", lit(null).cast("bigint"))
    SnapshotTable.create(spark, nullStats, df, "p", statsCols = Seq("s"))
    val m = SnapshotTable.readManifest(spark, nullStats, 1L)
    assert(m.forall(e => e.stats.exists(s =>
      s.col == "s" && s.lo.isNaN && s.hi.isNaN && s.nulls == e.rows)))
    val ranged = SnapshotTable.readRange(spark, nullStats, "s", 0d, 1d)
    assert(ranged.count() === 0L) // proven-empty: zero files planned
  }

  test("a rewrite's file count is sized from MANIFEST bytes, not the " +
    "optimizer's join-inflated estimate: merging a small table stages " +
    "one file per partition value") {
    // production-shaped write settings for this test only: the harness
    // pins 1 KB granularity + 4 shuffle partitions, under which hint
    // and estimate both hit the task cap and cannot be told apart
    withConf(spark, "spark.graft.write.targetFileBytes" -> (128L << 20).toString,
        "spark.sql.shuffle.partitions" -> "32") {
      val t = graft.Staged.scratch(spark, "snaprwsize") + "/t"
      import spark.implicits._
      val base = spark.range(0, 2000).select(
        col("id").as("k"), (col("id") % 5).cast("string").as("p"),
        (col("id") * 2).as("v"))
      SnapshotTable.create(spark, t, base, "p", statsCols = Seq("k"))
      // a merge touching every partition: before the sizeHint fix the
      // rewrite plan's join-inflated estimate saturated the range-split
      // cap and staged shuffle.partitions × 5 footer-litter files
      val updates = spark.range(0, 2000, 7).select(
        col("id").as("k"), (col("id") % 5).cast("string").as("p"),
        lit(-1L).as("v"))
      SnapshotTable.commitMerge(spark, t, updates, "k", "p")
      val fresh = SnapshotTable.readManifest(spark, t, 2L)
        .filter(_.seq == 2L)
      assert(fresh.nonEmpty)
      assert(fresh.size <= 5,
        s"KB-scale merge rewrite staged ${fresh.size} files — " +
          "range-split sizing regressed to the plan estimate")
      assert(SnapshotTable.read(spark, t).filter(col("v") === -1L).count()
        === spark.range(0, 2000, 7).count())
    }
  }

  test("stats-clustered writes sort WITHIN files: parquet row-group " +
    "bounds on the stats column are disjoint, enabling row-group " +
    "pruning under the manifest's file-level skipping") {
    val t = graft.Staged.scratch(spark, "snaprg") + "/t"
    import spark.implicits._
    // small parquet blocks force several row groups per file
    val hc = spark.sparkContext.hadoopConfiguration
    val old = hc.get("parquet.block.size")
    hc.set("parquet.block.size", (64 * 1024).toString)
    try {
      withConf(spark, "spark.graft.write.targetFileBytes" -> (128L << 20).toString) {
        val df = spark.range(0, 200000).select(
          col("id").as("k"), lit("a").as("p"),
          concat(lit("padpadpadpadpadpad-"), col("id")).as("s"))
        SnapshotTable.create(spark, t, df, "p", statsCols = Seq("k"))
      }
      val entry = SnapshotTable.readManifest(spark, t, 1L).head
      val fr = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(s"$t/${entry.path}"), hc))
      try {
        import scala.jdk.CollectionConverters._
        val bounds = fr.getFooter.getBlocks.asScala.toSeq.map { b =>
          val c = b.getColumns.asScala.find(_.getPath.toDotString == "k").get
          val st = c.getStatistics
            .asInstanceOf[org.apache.parquet.column.statistics.LongStatistics]
          (st.getMin, st.getMax)
        }
        assert(bounds.size >= 3, s"expected several row groups, got ${bounds.size}")
        // sorted-within-file ⇒ successive row-group ranges never overlap
        bounds.sliding(2).foreach { case Seq((_, hi1), (lo2, _)) =>
          assert(hi1 < lo2, s"overlapping row-group bounds: $bounds")
        }
      } finally fr.close()
    } finally {
      if (old == null) hc.unset("parquet.block.size")
      else hc.set("parquet.block.size", old)
    }
  }

  test("statsHistory profiles every version from manifests: physical " +
    "rows/files/bytes, pending-delete counts, provable bounds + nulls, " +
    "SQL NULL where evidence is incomplete") {
    val t = graft.Staged.scratch(spark, "snaphist") + "/t"
    import spark.implicits._
    val base = Seq((1L, Some(10.0), "a"), (2L, Some(20.0), "a"),
      (3L, Option.empty[Double], "b")).toDF("k", "x", "p")
    SnapshotTable.create(spark, t, base, "p", statsCols = Seq("k", "x"))
    SnapshotTable.commitAppend(spark, t,
      Seq((9L, Some(90.0), "b")).toDF("k", "x", "p"), "p")
    SnapshotTable.commitDeleteLazy(spark, t,
      Seq(1L).toDF("k"), "k")
    val h = SnapshotTable.statsHistory(spark, t, Some("k"))
      .orderBy(col("version")).collect()
    assert(h.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
    assert(h.map(_.getLong(2)).toSeq === Seq(3L, 4L, 4L)) // physical rows
    assert(h.map(_.getLong(4)).toSeq === Seq(0L, 0L, 1L)) // delete files
    assert(h(1).getDouble(5) === 1.0 && h(1).getDouble(6) === 9.0)
    assert(h.forall(_.getLong(7) === 0L)) // k never null
    // x: per-version bounds + null totals through the same fold
    val hx = SnapshotTable.statsHistory(spark, t, Some("x"))
      .orderBy(col("version")).collect()
    assert(hx(0).getDouble(5) === 10.0 && hx(0).getDouble(6) === 20.0)
    assert(hx(0).getLong(7) === 1L && hx(1).getLong(7) === 1L)
    // a column with no recorded stats: bounds and nulls are SQL NULL
    val hp = SnapshotTable.statsHistory(spark, t, Some("p"))
      .orderBy(col("version")).collect()
    assert(hp.forall(r => r.isNullAt(5) && r.isNullAt(7)))
  }

  test("commit metadata is O(changed files): a one-file append to a " +
    "many-file table writes a small segment + list, not the inventory") {
    val table = graft.Staged.scratch(spark, "snapmeta") + "/t"
    import spark.implicits._
    // ~40 partition values → ≥40 data files at create, more per append
    val wide = spark.range(0, 4000)
      .select(col("id").as("k"), (col("id") % 40).cast("string").as("p"))
    SnapshotTable.create(spark, table, wide, "p")
    (1 to 3).foreach { i =>
      SnapshotTable.commitAppend(spark, table,
        spark.range(4000L * i, 4000L * i + 2000)
          .select(col("id").as("k"), (col("id") % 40).cast("string").as("p")),
        "p")
    }
    val fs = new Path(table).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val nDataFiles = SnapshotTable.readManifest(spark, table,
      SnapshotTable.currentVersion(spark, table)).size
    assert(nDataFiles >= 100) // the table is genuinely many-file
    val manifestsBefore = fs.listStatus(new Path(table, "_manifests"))
      .map(_.getPath.getName).toSet
    val inventoryBytes = fs.listStatus(new Path(table, "_manifests"))
      .filter(_.getPath.getName.startsWith("seg-")).map(_.getLen).sum

    SnapshotTable.commitAppend(spark, table,
      Seq((999999L, "0")).toDF("k", "p"), "p")

    val fresh = fs.listStatus(new Path(table, "_manifests"))
      .filter(st => !manifestsBefore.contains(st.getPath.getName))
    // exactly one new segment (the appended file) + one new list
    assert(fresh.count(_.getPath.getName.startsWith("seg-")) === 1)
    assert(fresh.count(_.getPath.getName.startsWith("v")) === 1)
    val commitBytes = fresh.map(_.getLen).sum
    assert(commitBytes < 2048,
      s"append commit wrote $commitBytes B of metadata")
    assert(commitBytes * 5 < inventoryBytes,
      s"commit metadata ($commitBytes B) should be far below the " +
        s"full inventory ($inventoryBytes B)")
    assert(SnapshotTable.read(spark, table).count() === 10001L)
  }

  test("segment fold bounds the manifest list across many commits") {
    val table = graft.Staged.scratch(spark, "snapfold") + "/t"
    import spark.implicits._
    SnapshotTable.createEmpty(spark, table)
    (0 until 40).foreach { i =>
      SnapshotTable.commitAppend(spark, table,
        Seq((i.toLong, "x"), (i + 1000L, "y")).toDF("k", "p"),
        "p", tag = Some(s"b$i"))
    }
    val (refs, hdr) = SnapshotTable.readManifestList(spark, table,
      SnapshotTable.currentVersion(spark, table))
    assert(refs.size <= 33, s"list holds ${refs.size} segments")
    assert(hdr.tags.size === 40) // the ledger survives folding
    assert(SnapshotTable.read(spark, table).count() === 80L)
    // folded-away segments are vacuum food, and the table still reads
    SnapshotTable.vacuum(spark, table, keepVersions = 1)
    assert(SnapshotTable.read(spark, table).count() === 80L)
  }

  test("secondary stats column skips files when it correlates with the " +
    "cluster column") {
    val table = graft.Staged.scratch(spark, "snap2col") + "/t"
    import spark.implicits._
    val df = spark.range(0, 20000).select(col("id").as("k"),
      (col("id") + 5).as("k2"), (col("id") % 4).cast("string").as("p"))
    SnapshotTable.create(spark, table, df, "p",
      statsCols = Seq("k", "k2"))
    val m = SnapshotTable.readManifest(spark, table, 1L)
    assert(m.forall(e => e.stats.exists(_.col == "k") &&
      e.stats.exists(_.col == "k2")))
    val planned = SnapshotTable.readRange(spark, table, "k2", 100d, 299d)
    assert(planned.inputFiles.length < m.size,
      s"no skip: planned ${planned.inputFiles.length} of ${m.size}")
    assert(planned.select("k2").collect().map(_.getLong(0)).sorted.toSeq
      === (100L to 299L))
  }

  test("commitWithRetry rebases a lost race and publishes the next " +
    "version; two racing writers both land") {
    val table = freshTable()
    val (entries1, hdr1) = SnapshotTable.readManifestFull(spark, table, 1L)
    var attempts = 0
    SnapshotTable.commitWithRetry() {
      attempts += 1
      val v = SnapshotTable.currentVersion(spark, table)
      if (attempts == 1) // the competitor wins the race for v+1
        SnapshotTable.writeManifest(spark, table, v + 1, entries1, hdr1)
      SnapshotTable.writeManifest(spark, table, v + 1, entries1, hdr1)
    }
    assert(attempts === 2)
    assert(SnapshotTable.currentVersion(spark, table) === 3L)
    // exhausted attempts propagate the conflict
    intercept[RuntimeException] {
      SnapshotTable.commitWithRetry(maxAttempts = 2) {
        SnapshotTable.writeManifest(spark, table, 1L, entries1, hdr1)
      }
    }
    // two genuinely concurrent appends: both must land, serially
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val fs2 = (0 until 2).map { i =>
      Future {
        SnapshotTable.commitWithRetry() {
          SnapshotTable.commitAppend(spark, table,
            Seq((5000000L + i, 1L, 1.0, s"w$i"))
              .toDF("o_orderkey", "o_custkey", "o_totalprice",
                "o_orderpriority"),
            "o_orderpriority")
        }
      }
    }
    fs2.foreach(Await.result(_, 120.seconds))
    assert(SnapshotTable.currentVersion(spark, table) === 5L)
    assert(SnapshotTable.read(spark, table)
      .filter(col("o_orderkey") >= 5000000L).count() === 2L)
  }

  test("the manifest commit point is atomic-EXCLUSIVE: eight racing " +
    "appends all land serially, none lost (POSIX rename would replace)") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val t = graft.Staged.scratch(spark, "snaprace") + "/t"
    SnapshotTable.create(spark, t,
      Seq((0L, "g")).toDF("id", "p"), "p")
    val racers = (1 to 8).map { i =>
      Future {
        SnapshotTable.commitWithRetry(maxAttempts = 20) {
          SnapshotTable.commitAppend(spark, t,
            Seq((i.toLong, "g")).toDF("id", "p"), "p")
        }
      }
    }
    racers.foreach(Await.result(_, 300.seconds))
    assert(SnapshotTable.currentVersion(spark, t) === 9L)
    assert(SnapshotTable.read(spark, t).count() === 9L)
    assert(SnapshotTable.read(spark, t).select(col("id"))
      .collect().map(_.getLong(0)).sorted.toSeq === (0L to 8L))
  }

  test("type-widening evolution: int→long and float→double on shared " +
    "names, old int32/float files upcast on read; other changes refuse") {
    val table = graft.Staged.scratch(spark, "snapwide") + "/t"
    import spark.implicits._
    import org.apache.spark.sql.types.{DoubleType, LongType}
    val base = Seq((1, 1.5f, "a"), (2, 2.5f, "b")).toDF("i", "f", "p")
    SnapshotTable.create(spark, table, base, "p")
    // the widening append: i arrives as BIGINT, f as DOUBLE
    SnapshotTable.commitAppend(spark, table,
      Seq((3L, 3.5d, "a")).toDF("i", "f", "p"), "p")
    val cur = SnapshotTable.read(spark, table)
    assert(cur.schema("i").dataType === LongType)
    assert(cur.schema("f").dataType === DoubleType)
    assert(cur.select("i").collect().map(_.getLong(0)).sorted.toSeq
      === Seq(1L, 2L, 3L))
    assert(cur.select("f").collect().map(_.getDouble(0)).sorted.toSeq
      === Seq(1.5d, 2.5d, 3.5d)) // float16-exact values survive upcast
    // a NARROW batch after widening: stays long, int32 files upcast too
    SnapshotTable.commitAppend(spark, table,
      Seq((4, 4.5f, "b")).toDF("i", "f", "p"), "p")
    assert(SnapshotTable.read(spark, table).schema("i").dataType === LongType)
    assert(SnapshotTable.read(spark, table)
      .select("i").collect().map(_.getLong(0)).sorted.toSeq
      === Seq(1L, 2L, 3L, 4L))
    // long→string is not a widening
    val err = intercept[IllegalArgumentException] {
      SnapshotTable.commitAppend(spark, table,
        Seq(("x", 1.0d, "a")).toDF("i", "f", "p"), "p")
    }
    assert(err.getMessage.contains("schema evolution"))
  }

  test("equality deletes (merge-on-read): O(keys) commit rewrites no " +
    "data file, reads mask exactly, applyDeletes materializes") {
    import spark.implicits._
    val table = freshTable()
    val m1 = SnapshotTable.readManifest(spark, table, 1L)
    val pred = col("o_orderpriority") === "1-URGENT" &&
      col("o_orderkey") % 3 === 0
    val keys = SnapshotTable.read(spark, table).filter(pred)
      .select(col("o_orderkey"))
    val nMatch = keys.count()
    assert(nMatch > 0)
    val allBefore = SnapshotTable.read(spark, table).count()

    val (v2, nKeys) = SnapshotTable.commitDeleteLazy(spark, table, keys,
      "o_orderkey")
    assert(v2 === 2L && nKeys === nMatch)
    // NO data file rewritten: v2's entries are v1's, byte for byte
    val m2 = SnapshotTable.readManifest(spark, table, 2L)
    assert(m2.map(_.path).toSet === m1.map(_.path).toSet)
    // reads mask the keys; v1 time travel still has them
    assert(SnapshotTable.read(spark, table).count() === allBefore - nMatch)
    assert(SnapshotTable.read(spark, table).filter(pred).count() === 0L)
    assert(SnapshotTable.readVersion(spark, table, 1L).count() === allBefore)
    // pruned reads mask too
    assert(SnapshotTable.readWhere(spark, table, "o_orderpriority",
      Seq("1-URGENT")).filter(pred).count() === 0L)

    // seq scoping: an append AFTER the delete re-inserts a masked key
    val resurrect = SnapshotTable.read(spark, table)
      .filter(col("o_orderkey") % 97 === 0).limit(0) // schema template
    val oneKey = SnapshotTable.readVersion(spark, table, 1L).filter(pred)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderpriority")).limit(1)
    SnapshotTable.commitAppend(spark, table, oneKey, "o_orderpriority")
    assert(SnapshotTable.read(spark, table).filter(pred).count() === 1L,
      "a post-delete append must not be masked by the older delete")
    assert(resurrect.count() === 0L)

    // eager ops refuse while deletes are pending
    val err = intercept[IllegalArgumentException] {
      SnapshotTable.compact(spark, table, "o_orderpriority")
    }
    assert(err.getMessage.contains("pending equality delete"))

    // materialize: same rows, no delete files, masked rows physically gone
    val wantRows = SnapshotTable.read(spark, table)
      .orderBy("o_orderkey", "o_orderpriority").collect().toSeq
    val (v4, nRemoved) = SnapshotTable.applyDeletes(spark, table,
      "o_orderpriority")
    assert(v4 === 4L)
    assert(nRemoved === nMatch) // the re-inserted row's file post-dates the delete
    assert(SnapshotTable.read(spark, table)
      .orderBy("o_orderkey", "o_orderpriority").collect().toSeq === wantRows)
    // compact now allowed; vacuum reclaims the dropped delete file
    SnapshotTable.compact(spark, table, "o_orderpriority",
      smallThreshold = Long.MaxValue)
    SnapshotTable.vacuum(spark, table, keepVersions = 1)
    val fs = new Path(table).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val delDir = new Path(table, "deletes")
    assert(!fs.exists(delDir) || fs.listStatus(delDir).isEmpty,
      "vacuum must reclaim materialized delete files")
  }

  test("lazy and eager deletes are interchangeable for readers") {
    val eager = freshTable()
    val lazy_ = freshTable()
    val pred = col("o_orderkey") % 7 === 0
    val keys = SnapshotTable.read(spark, eager).filter(pred)
      .select(col("o_orderkey"))
    SnapshotTable.commitDelete(spark, eager, pred, "o_orderpriority")
    SnapshotTable.commitDeleteLazy(spark, lazy_, keys, "o_orderkey")
    assert(sortedRows(SnapshotTable.read(spark, eager)) ===
      sortedRows(SnapshotTable.read(spark, lazy_)))
  }

  test("field-id evolution: rename is header-only and reads old files " +
    "by id; drop + re-add cannot resurrect old values") {
    import spark.implicits._
    val table = graft.Staged.scratch(spark, "snapfid") + "/t"
    val df = Seq((1L, 10.0, "a"), (2L, 20.0, "b")).toDF("k", "v", "p")
    SnapshotTable.create(spark, table, df, "p")
    val m1 = SnapshotTable.readManifest(spark, table, 1L)

    // RENAME: header-only (no file rewritten), values flow through
    SnapshotTable.renameColumn(spark, table, "v", "amount")
    assert(SnapshotTable.readManifest(spark, table, 2L).map(_.path)
      === m1.map(_.path))
    val renamed = SnapshotTable.read(spark, table)
    assert(renamed.columns.toSeq === Seq("k", "amount", "p"))
    assert(renamed.select("amount").collect().map(_.getDouble(0)).sorted.toSeq
      === Seq(10.0, 20.0))
    // time travel keeps the old name
    assert(SnapshotTable.readVersion(spark, table, 1L)
      .columns.contains("v"))
    // appends under the new name extend the renamed column
    SnapshotTable.commitAppend(spark, table,
      Seq((3L, 30.0, "a")).toDF("k", "amount", "p"), "p")
    assert(SnapshotTable.read(spark, table).select("amount")
      .collect().map(_.getDouble(0)).sorted.toSeq === Seq(10.0, 20.0, 30.0))
    // rename conflicts refuse
    assert(intercept[IllegalArgumentException] {
      SnapshotTable.renameColumn(spark, table, "amount", "k")
    }.getMessage.contains("already exists"))

    // DROP then re-ADD the same name: fresh field id, no resurrection
    SnapshotTable.dropColumn(spark, table, "amount")
    assert(!SnapshotTable.read(spark, table).columns.contains("amount"))
    SnapshotTable.commitAppend(spark, table,
      Seq((4L, 99.0, "b")).toDF("k", "amount", "p"), "p")
    val readded = SnapshotTable.read(spark, table)
      .select("k", "amount").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      .toMap
    assert(readded(4L) === Some(99.0))
    assert(Seq(1L, 2L, 3L).forall(readded(_).isEmpty),
      s"old rows must NOT resurrect their dropped values: $readded")
  }

  test("manifest entries round-trip values that need escaping") {
    val table = graft.Staged.scratch(spark, "snapesc") + "/t"
    import spark.implicits._
    val df = Seq((1L, "a \"quoted\"\\part"), (2L, "plain")).toDF("k", "p")
    SnapshotTable.create(spark, table, df, "p")
    val m = SnapshotTable.readManifest(spark, table, 1L)
    assert(m.flatMap(_.parts).flatten.toSet ===
      Set("a \"quoted\"\\part", "plain"))
    assert(sortedRows(SnapshotTable.read(spark, table)
      .withColumnRenamed("k", "o_orderkey")) ===
      sortedRows(df.withColumnRenamed("k", "o_orderkey")))
  }

  test("restore moves history forward to an exact old state; tags union; " +
    "vacuumed targets are refused before publishing") {
    val table = freshTable()
    val v1Rows = sortedRows(SnapshotTable.read(spark, table))

    // mutate twice: a merge (tagged, like a sink batch) then a delete
    SnapshotTable.commitMerge(spark, table, updatesBatch(),
      "o_orderkey", "o_orderpriority", tag = Some("batch-7"))
    SnapshotTable.commitDelete(spark, table,
      col("o_orderkey") % 11 === 0, "o_orderpriority")
    assert(sortedRows(SnapshotTable.read(spark, table)) !== v1Rows)

    val restored = SnapshotTable.restoreTo(spark, table, 1L)
    assert(restored === 4L, "restore is a FORWARD commit, not a rewind")
    assert(sortedRows(SnapshotTable.read(spark, table)) === v1Rows)
    // pinned pre-restore version still readable
    assert(SnapshotTable.readVersion(spark, table, 3L).count() <
      v1Rows.size)
    // the tag ledger carries the merge's tag through the restore: a
    // replayed tagged commit must no-op, never double-apply
    val (_, hdr4) = SnapshotTable.readManifestList(spark, table, restored)
    assert(hdr4.tags.contains("batch-7"))

    // restoring to the current version is a no-op
    assert(SnapshotTable.restoreTo(spark, table, 4L) === 4L)

    // drop old manifests + their unreferenced files, then try to
    // restore past the vacuum horizon
    SnapshotTable.restoreTo(spark, table, 3L) // v5 = the deleted state
    SnapshotTable.vacuum(spark, table, keepVersions = 1, minAgeMs = 0L)
    val err = intercept[Exception] {
      SnapshotTable.restoreTo(spark, table, 1L)
    }
    assert(err.getMessage.contains("not retained") ||
      err.getMessage.contains("vacuumed"))
  }

  test("filesTable reproduces per-partition rows and stat/bloom columns " +
    "from the manifest alone") {
    val table = freshTable()
    SnapshotTable.commitMerge(spark, table, updatesBatch(),
      "o_orderkey", "o_orderpriority")
    val files = SnapshotTable.filesTable(spark, table)
    val byPart = files.groupBy("partition")
      .agg(org.apache.spark.sql.functions.sum("n_rows").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val truth = SnapshotTable.read(spark, table)
      .groupBy("o_orderpriority").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byPart === truth)
    assert(files.count() ===
      SnapshotTable.readManifest(spark, table,
        SnapshotTable.currentVersion(spark, table)).size)
    // every file is stamped with the table's partition column
    assert(files.select("part_col").distinct().collect()
      .map(_.getString(0)).toSeq === Seq("o_orderpriority"))
  }

  test("CHECK constraints: enforced on append/merge/overwrite fresh rows, " +
    "NULL passes, ADD validates existing data, the set survives " +
    "maintenance commits") {
    import spark.implicits._
    val table = graft.Staged.scratch(spark, "snapck") + "/t"
    SnapshotTable.create(spark, table,
      Seq((1L, Some(10.0), "a"), (2L, None, "a"), (3L, Some(30.0), "b"))
        .toDF("k", "price", "p"), "p")

    // ADD CONSTRAINT validates existing rows: price has a NULL (passes)
    // but a check the data violates must be refused
    val bad = intercept[IllegalArgumentException] {
      SnapshotTable.setChecks(spark, table, Seq("price > 20"))
    }
    assert(bad.getMessage.contains("CHECK"))
    SnapshotTable.setChecks(spark, table, Seq("price >= 0", "k IS NOT NULL"))

    // append: clean passes (incl. a NULL price row), violating refused
    assert(SnapshotTable.commitAppend(spark, table,
      Seq((4L, Option.empty[Double], "b")).toDF("k", "price", "p"),
      "p").nonEmpty)
    intercept[IllegalArgumentException] {
      SnapshotTable.commitAppend(spark, table,
        Seq((5L, Some(-1.0), "b")).toDF("k", "price", "p"), "p")
    }
    // merge: violating batch refused, nothing published
    val vBefore = SnapshotTable.currentVersion(spark, table)
    intercept[IllegalArgumentException] {
      SnapshotTable.commitMerge(spark, table,
        Seq((1L, Some(-9.0), "a")).toDF("k", "price", "p"), "k", "p")
    }
    assert(SnapshotTable.currentVersion(spark, table) === vBefore)
    // overwrite: enforced too
    intercept[IllegalArgumentException] {
      SnapshotTable.commitOverwrite(spark, table,
        Seq((1L, Some(-2.0), "a")).toDF("k", "price", "p"), "p")
    }

    // the constraint set survives compaction and restore
    SnapshotTable.compact(spark, table, "p")
    SnapshotTable.restoreTo(spark, table, vBefore)
    val hdr = SnapshotTable.readManifestList(spark, table,
      SnapshotTable.currentVersion(spark, table))._2
    assert(hdr.checks === Seq("price >= 0", "k IS NOT NULL"))
    assert(SnapshotTable.read(spark, table).count() === 4L)
  }

  test("positional deletes (deletion vectors): predicate delete without " +
    "rewrites, clone-safe masking, later appends untouched, applyDeletes " +
    "materializes, CDC shows the deletions") {
    import spark.implicits._
    val table = freshTable()
    val filesBefore = SnapshotTable.readManifest(spark, table, 1L)
      .map(_.path).toSet
    val pred = col("o_orderkey") % 13 === 0
    val expectKeep = SnapshotTable.read(spark, table)
      .filter(!pred).count()
    val (v2, masked) = SnapshotTable.commitDeletePositional(
      spark, table, pred, rangeHint = None)
    assert(v2 === 2L)
    assert(masked > 0L)
    // merge-on-read: not a single data file rewritten
    assert(SnapshotTable.readManifest(spark, table, 2L).map(_.path).toSet
      === filesBefore)
    assert(SnapshotTable.read(spark, table).count() === expectKeep)
    assert(SnapshotTable.read(spark, table)
      .filter(pred).count() === 0L)

    // a later append's rows are untouched even when they match the
    // predicate (positions are file-scoped — no seq subtleties)
    SnapshotTable.commitAppend(spark, table,
      Seq((13L * 1000003L, 1L, 1.0, "1-URGENT"))
        .toDF("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"),
      "o_orderpriority")
    assert(SnapshotTable.read(spark, table).filter(pred).count() === 1L)

    // DV selection sees the MASKED view: deleting the same predicate
    // again matches only the fresh row
    val (_, again) = SnapshotTable.commitDeletePositional(spark, table, pred)
    assert(again === 1L)

    // CDC: the DV commit's delete rows are exactly the masked rows
    val feed = SnapshotTable.readChangesBetween(spark, table, 1L, 2L)
    assert(feed.filter(col("_change_type") === "delete").count() === masked)
    assert(feed.filter(col("_change_type") === "insert").count() === 0L)

    // mutation paths refuse pending DVs; applyDeletes materializes them
    intercept[IllegalArgumentException] {
      SnapshotTable.commitMerge(spark, table, updatesBatch(),
        "o_orderkey", "o_orderpriority")
    }
    val rowsBefore = sortedRows(SnapshotTable.read(spark, table))
    val (_, nApplied) = SnapshotTable.applyDeletes(spark, table,
      "o_orderpriority")
    assert(nApplied === masked + 1L)
    assert(sortedRows(SnapshotTable.read(spark, table)) === rowsBefore)
    assert(SnapshotTable.readManifest(spark, table,
      SnapshotTable.currentVersion(spark, table)).map(_.path).toSet
      !== filesBefore)
  }

  test("commitExpire: provably-expired files drop by REFERENCE, provably-" +
    "live and all-NULL files carry verbatim, only straddlers rewrite, " +
    "and the survivors equal the filter") {
    import spark.implicits._
    val t = graft.Staged.scratch(spark, "expire") + "/t"
    // ts-clustered numeric column, several small files per partition
    SnapshotTable.create(spark, t,
      (1 to 400).map(i => (i.toLong, i.toDouble, s"g${i % 2}"))
        .toDF("id", "ts", "p"),
      "p", statsCols = Seq("ts"))
    // an all-NULL ts file: NULL compares UNKNOWN, every row must survive
    SnapshotTable.commitAppend(spark, t,
      (1 to 5).map(i => (10000L + i, Option.empty[Double], "g0"))
        .toDF("id", "ts", "p"), "p")
    val v = SnapshotTable.currentVersion(spark, t)
    val before = SnapshotTable.readManifest(spark, t, v)
    def stat(e: SnapshotTable.FileEntry) = e.stats.find(_.col == "ts")
    val cutoff = 200.5
    val provablyDead = before.filter(e => stat(e).exists(s =>
      !s.hi.isNaN && s.hi < cutoff)).map(_.path).toSet
    val provablyLive = before.filter(e => stat(e).exists(s =>
      !s.lo.isNaN && s.lo >= cutoff)).map(_.path).toSet
    val allNull = before.filter(e => stat(e).exists(_.lo.isNaN))
      .map(_.path).toSet
    assert(provablyDead.nonEmpty && provablyLive.nonEmpty &&
      allNull.nonEmpty)
    val (v2, nDel) = SnapshotTable.commitExpire(spark, t, "ts", cutoff, "p")
    assert(nDel === 200L)
    val after = SnapshotTable.readManifest(spark, t, v2).map(_.path).toSet
    // dead files vanished without a rewrite standing in for them 1:1;
    // live and all-null files carry with IDENTICAL paths
    assert((provablyDead & after).isEmpty)
    assert((provablyLive ++ allNull).subsetOf(after))
    // only straddlers were rewritten: fresh files ≤ straddler count
    val straddlers = before.map(_.path).toSet --
      provablyDead -- provablyLive -- allNull
    assert((after -- before.map(_.path).toSet).size <= straddlers.size)
    // survivors = the filter's rows (NULL ts rows alive)
    assert(SnapshotTable.read(spark, t).count() === 205L)
    assert(SnapshotTable.read(spark, t)
      .filter(col("ts").isNull).count() === 5L)
    assert(SnapshotTable.read(spark, t)
      .filter(col("ts") < cutoff).count() === 0L)
    // idempotent: a second pass at the same cutoff is a version no-op
    assert(SnapshotTable.commitExpire(spark, t, "ts", cutoff, "p")
      === ((v2, 0L)))
  }

  test("maintain's expireBefore policy retires old rows on the janitor " +
    "tick, but never while deletes are pending") {
    import spark.implicits._
    val t = graft.Staged.scratch(spark, "mexp") + "/t"
    SnapshotTable.create(spark, t,
      (1 to 100).map(i => (i.toLong, i.toDouble, "g")).toDF("id", "ts", "p"),
      "p", statsCols = Seq("ts"))
    // a pending lazy delete below the apply threshold blocks the expire
    SnapshotTable.commitDeleteLazy(spark, t, Seq(100L).toDF("id"), "id")
    SnapshotTable.maintain(spark, t, "p", maxDeleteFiles = 8,
      minAgeMs = 0L, expireBefore = Some(("ts", 50.5)))
    assert(SnapshotTable.read(spark, t)
      .filter(col("ts") < 50.5).count() === 50L)
    // past the delete-debt threshold the SAME tick applies the mask
    // first and then expires
    SnapshotTable.maintain(spark, t, "p", maxDeleteFiles = 1,
      minAgeMs = 0L, expireBefore = Some(("ts", 50.5)))
    assert(SnapshotTable.read(spark, t)
      .filter(col("ts") < 50.5).count() === 0L)
    assert(SnapshotTable.read(spark, t).count() === 49L)
  }

  test("liveRowCount: a manifest fold equals the masked count through " +
    "stacked positional deletes and appends; equality deletes refuse") {
    import spark.implicits._
    val table = freshTable()
    def masked() = SnapshotTable.read(spark, table).count()
    assert(SnapshotTable.liveRowCount(spark, table) === Some(masked()))
    SnapshotTable.commitDeletePositional(spark, table,
      col("o_orderkey") % 13 === 0)
    assert(SnapshotTable.liveRowCount(spark, table) === Some(masked()))
    // a second DV commit stacks (disjoint positions by construction)
    SnapshotTable.commitDeletePositional(spark, table,
      col("o_orderkey") % 7 === 0)
    assert(SnapshotTable.liveRowCount(spark, table) === Some(masked()))
    // appends during merge-on-read keep the fold exact
    SnapshotTable.commitAppend(spark, table,
      Seq((999999L, 1L, 1.0, "1-URGENT"))
        .toDF("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"),
      "o_orderpriority")
    assert(SnapshotTable.liveRowCount(spark, table) === Some(masked()))
    // the fold answers PAST versions too (pinned manifests)
    assert(SnapshotTable.liveRowCount(spark, table, Some(1L)) ===
      Some(SnapshotTable.readVersion(spark, table, 1L).count()))
    // a pending EQUALITY delete's matched count is unrecorded → None
    SnapshotTable.commitDeleteLazy(spark, table,
      Seq(1L).toDF("o_orderkey"), "o_orderkey")
    assert(SnapshotTable.liveRowCount(spark, table) === None)
    // materializing the deletes restores the fold
    SnapshotTable.applyDeletes(spark, table, "o_orderpriority")
    assert(SnapshotTable.liveRowCount(spark, table) === Some(masked()))
  }

  test("maintain applies its three policies only past their thresholds " +
    "and is a safe no-op otherwise") {
    import spark.implicits._
    val table = graft.Staged.scratch(spark, "snapmnt") + "/t"
    SnapshotTable.create(spark, table,
      Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("k", "p"), "p")
    (1 to 5).foreach(i => SnapshotTable.commitAppend(spark, table,
      Seq((10L + i, "a")).toDF("k", "p"), "p"))
    SnapshotTable.commitDeleteLazy(spark, table, Seq(2L).toDF("k"), "k")
    val rows = sortedRows(SnapshotTable.read(spark, table)
      .withColumnRenamed("k", "o_orderkey"))
    val filesBefore = SnapshotTable.readManifest(spark, table,
      SnapshotTable.currentVersion(spark, table)).size

    // thresholds ABOVE current state: nothing happens but vacuum
    val (_, a0, f0, _) = SnapshotTable.maintain(spark, table, "p",
      maxDeleteFiles = 8, maxSmallFiles = 64, minAgeMs = 0L)
    assert(a0 === 0L && f0 === 0)
    assert(SnapshotTable.readManifest(spark, table,
      SnapshotTable.currentVersion(spark, table)).size === filesBefore)

    // thresholds AT current state: deletes materialize, files fold,
    // old versions vacuum — and the data is unchanged
    val (_, a1, f1, removed) = SnapshotTable.maintain(spark, table, "p",
      maxDeleteFiles = 1, maxSmallFiles = 2, keepVersions = 1,
      minAgeMs = 0L)
    assert(a1 === 1L, "the lazy-deleted key must materialize")
    assert(f1 > 0, "small files must fold")
    assert(removed > 0L, "old versions must vacuum")
    assert(sortedRows(SnapshotTable.read(spark, table)
      .withColumnRenamed("k", "o_orderkey")) === rows)
    assert(SnapshotTable.readManifest(spark, table,
      SnapshotTable.currentVersion(spark, table)).size < filesBefore)
  }

  test("maintain with hotValues scopes the small-file policy to the hot " +
    "partitions: cold partitions are never counted, folded, or rewritten") {
    import spark.implicits._
    val table = graft.Staged.scratch(spark, "snapmnth") + "/t"
    SnapshotTable.create(spark, table,
      Seq((1L, "hot"), (2L, "cold")).toDF("k", "p"), "p")
    (1 to 4).foreach(i => SnapshotTable.commitAppend(spark, table,
      Seq((10L + i, "hot"), (20L + i, "cold")).toDF("k", "p"), "p"))
    val before = SnapshotTable.readManifest(spark, table,
      SnapshotTable.currentVersion(spark, table))
    val coldBefore = before.filter(_.parts.exists(_.contains("cold")))
      .map(_.path).toSet
    assert(before.count(_.parts.exists(_.contains("hot"))) >= 5)

    // cold litter alone must not trip the scoped threshold
    val (_, _, f0, _) = SnapshotTable.maintain(spark, table, "p",
      maxSmallFiles = 99, minAgeMs = 0L, hotValues = Seq("hot"))
    assert(f0 === 0)
    // at threshold: only hot folds; cold entries carried verbatim
    val (_, _, f1, _) = SnapshotTable.maintain(spark, table, "p",
      maxSmallFiles = 3, minAgeMs = 0L, hotValues = Seq("hot"))
    assert(f1 >= 5)
    val after = SnapshotTable.readManifest(spark, table,
      SnapshotTable.currentVersion(spark, table))
    assert(after.filter(_.parts.exists(_.contains("cold")))
      .map(_.path).toSet === coldBefore)
    assert(SnapshotTable.read(spark, table).count() === 10L)
  }

  test("tableStats reads only the manifest list; readHinted broadcasts " +
    "small tables and leaves big/unknown ones alone") {
    import spark.implicits._
    val dir = graft.Staged.scratch(spark, "snapstats")
    val dim = s"$dir/dim"
    SnapshotTable.create(spark, dim,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "p"), "p")
    val (rows, bytes, files) = SnapshotTable.tableStats(spark, dim)
    assert(rows === 3L)
    assert(files === 3L)
    assert(bytes > 0L)

    val fact = spark.range(0, 10000)
      .select((col("id") % 3 + 1).as("k"), col("id").as("v"))
    def joinPlan(dimDf: org.apache.spark.sql.DataFrame): String = {
      val j = fact.join(dimDf, "k")
      j.collect()
      j.queryExecution.executedPlan.toString
    }
    assert(joinPlan(SnapshotTable.readHinted(spark, dim))
      .contains("BroadcastHashJoin"),
      "a manifest-sized small table must broadcast")
    // threshold below the table size → no hint, normal planning. Pin
    // the ADAPTIVE threshold too: AQE's SMJ→BHJ conversion reads its
    // own conf, and a prior suite may have left it explicitly set —
    // the static conf's fallback then no longer reaches AQE
    withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> "1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "1") {
      assert(!joinPlan(SnapshotTable.readHinted(spark, dim))
        .contains("BroadcastHashJoin"),
        "an over-threshold table must not be force-broadcast")
    }
  }

  test("write-audit-publish: stages are invisible, publish rebases onto " +
    "a moved head, vacuum spares staged files, and a replayed publish " +
    "no-ops") {
    import spark.implicits._
    val table = graft.Staged.scratch(spark, "snapwap") + "/t"
    SnapshotTable.create(spark, table,
      Seq((1L, 10.0, "a"), (2L, 20.0, "b")).toDF("k", "v", "p"), "p")

    SnapshotTable.stageAppend(spark, table,
      Seq((3L, 30.0, "a")).toDF("k", "v", "p"), "p", "s1")
    assert(SnapshotTable.read(spark, table).count() === 2L,
      "staged rows must be invisible")
    assert(SnapshotTable.stagedIds(spark, table) === Seq("s1"))
    assert(SnapshotTable.readStaged(spark, table, "s1").count() === 3L)

    // the head moves while the stage awaits audit
    SnapshotTable.commitAppend(spark, table,
      Seq((4L, 40.0, "b")).toDF("k", "v", "p"), "p")

    // vacuum between stage and publish must not eat staged artifacts;
    // the audit view tracks the MOVED head (base 2 + concurrent 1 +
    // staged 1), since that is what publish will produce
    SnapshotTable.vacuum(spark, table, keepVersions = 1, minAgeMs = 0L)
    assert(SnapshotTable.readStaged(spark, table, "s1")
      .count() === 4L, "vacuum must spare un-published stages")

    val v = SnapshotTable.publishStaged(spark, table, "s1")
    assert(SnapshotTable.read(spark, table).count() === 4L,
      "publish must land on the MOVED head: base+concurrent+staged")
    assert(SnapshotTable.stagedIds(spark, table).isEmpty)

    // replayed publish after the wap file is gone: the tag ledger
    // no-ops BEFORE looking for the stage, so the retry is harmless
    assert(SnapshotTable.publishStaged(spark, table, "s1") === v)
    assert(SnapshotTable.read(spark, table).count() === 4L)
    // simulate crash-before-cleanup: re-stage under the same id, then
    // the tagged publish sees the ledger and no-ops (cleaning up)
    SnapshotTable.stageAppend(spark, table,
      Seq((9L, 90.0, "a")).toDF("k", "v", "p"), "p", "s1")
    assert(SnapshotTable.publishStaged(spark, table, "s1") === v,
      "a stage id already in the tag ledger must no-op")
    assert(SnapshotTable.read(spark, table).count() === 4L)

    // staged schema evolution (ADD) arrives at publish
    SnapshotTable.stageAppend(spark, table,
      Seq((5L, 50.0, "a", "x")).toDF("k", "v", "p", "note"), "p", "s2")
    SnapshotTable.publishStaged(spark, table, "s2")
    val read = SnapshotTable.read(spark, table)
    assert(read.columns.contains("note"))
    assert(read.filter(col("note").isNotNull).count() === 1L)

    // discard leaves nothing: files, segments, manifest all gone
    SnapshotTable.stageAppend(spark, table,
      Seq((6L, -1.0, "b")).toDF("k", "v", "p"), "p", "s3")
    SnapshotTable.discardStaged(spark, table, "s3")
    assert(SnapshotTable.stagedIds(spark, table).isEmpty)
    assert(SnapshotTable.read(spark, table).count() === 5L)
  }

  test("compactWhere folds small files only inside the named partitions, " +
    "carrying every other file by reference with rows unchanged") {
    val table = graft.Staged.scratch(spark, "snapcw") + "/t"
    // range-clustered create: the 1KB spec granularity splits each
    // partition value across several files
    SnapshotTable.create(spark, table,
      Tables.orders(spark, sfDir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_orderpriority")),
      "o_orderpriority", statsCols = Seq("o_orderkey"))
    val before = SnapshotTable.readManifest(spark, table,
      SnapshotTable.currentVersion(spark, table))
    val target = "1-URGENT"
    val inTarget = before.count(_.parts.exists(_.contains(target)))
    assert(inTarget >= 2) // the 1KB spec granularity guarantees spread
    val rowsBefore = SnapshotTable.read(spark, table)
      .orderBy("o_orderkey").collect().toSeq
    // compact at PRODUCTION granularity (the suite default is 1KB so
    // fixtures spread; folding needs the real target)
    val (v2, folded, produced) =
      withConf(spark, "spark.graft.write.targetFileBytes" -> "134217728") {
        SnapshotTable.compactWhere(spark, table,
          "o_orderpriority", Seq(target), smallThreshold = Long.MaxValue)
      }
    assert(folded === inTarget && produced < folded)
    val after = SnapshotTable.readManifest(spark, table, v2)
    // untouched partitions: identical entries, carried by reference
    val untouched = (e: SnapshotTable.FileEntry) =>
      !e.parts.exists(_.contains(target))
    assert(before.filter(untouched).map(_.path).toSet ===
      after.filter(untouched).map(_.path).toSet)
    assert(after.count(_.parts.exists(_.contains(target))) === produced)
    assert(SnapshotTable.read(spark, table)
      .orderBy("o_orderkey").collect().toSeq === rowsBefore)
    // scoped no-op: re-compacting the same partition folds nothing
    val (v3, f3, _) = SnapshotTable.compactWhere(spark, table,
      "o_orderpriority", Seq(target), smallThreshold = Long.MaxValue)
    assert(v3 === v2 && f3 === 0)
  }
}
