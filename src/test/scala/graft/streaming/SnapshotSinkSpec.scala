package graft.streaming

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}
import graft.sources.SnapshotTable

class SnapshotSinkSpec extends SparkSpec {

  private def freshPath(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).resolve("t").toString

  test("stream-committed table holds exactly the batch-read corpus") {
    val table = freshPath("snapsink")
    SnapshotSink.run(spark, sfDir, table)
    val got = SnapshotTable.read(spark, table)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("event_id")).as("s"))
      .orderBy("event_type").collect().toSeq
    val want = Tables.events(spark, sfDir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("event_id")).as("s"))
      .orderBy("event_type").collect().toSeq
    assert(got === want)
    // commits are per-micro-batch: one empty bootstrap + >=1 append
    assert(SnapshotTable.currentVersion(spark, table) >= 2L)
  }

  test("restarting from the same checkpoint re-commits nothing") {
    val table = freshPath("snapsink_r")
    val ckpt = StreamHousekeeping.freshCheckpointDir(spark)
    SnapshotSink.run(spark, sfDir, table, Some(ckpt))
    val v = SnapshotTable.currentVersion(spark, table)
    val n = SnapshotTable.read(spark, table).count()
    SnapshotSink.run(spark, sfDir, table, Some(ckpt)) // replay, same state
    assert(SnapshotTable.currentVersion(spark, table) === v)
    assert(SnapshotTable.read(spark, table).count() === n)
  }

  test("in-sink maintenance (maintainEvery) folds per-batch small files " +
    "while the stream runs, without changing data or breaking replay") {
    // both tables start with identical small-file litter (six tiny
    // tagged appends); only the maintained run's in-sink janitor may
    // fold it
    def seeded(): String = {
      val t = freshPath("snapsink_m")
      SnapshotTable.createEmpty(spark, t)
      val slice = Tables.events(spark, sfDir).limit(50)
      (1 to 6).foreach(i => SnapshotTable.commitAppend(spark, t, slice,
        "event_type", tag = Some(s"litter$i")))
      t
    }
    val plain = seeded()
    SnapshotSink.run(spark, sfDir, plain)
    val table = seeded()
    val ckpt = StreamHousekeeping.freshCheckpointDir(spark)
    // the janitor fires after every batch with a 2-file trigger, so the
    // litter folds DURING the stream, co-scheduled with the writer
    SnapshotSink.run(spark, sfDir, table, Some(ckpt),
      maintainEvery = Some(1), maxSmallFiles = 2)
    def rows(t: String) = SnapshotTable.read(spark, t)
      .orderBy(col("event_id"), col("ts")).collect().map(_.toString).toSeq
    assert(rows(table) === rows(plain))
    val maintained = SnapshotTable.readManifest(spark, table,
      SnapshotTable.currentVersion(spark, table)).size
    val unmaintained = SnapshotTable.readManifest(spark, plain,
      SnapshotTable.currentVersion(spark, plain)).size
    assert(maintained < unmaintained,
      s"expected in-sink folds to reduce files ($maintained vs $unmaintained)")
    // replay across the folds: tags survive compaction → still a no-op
    val v = SnapshotTable.currentVersion(spark, table)
    SnapshotSink.run(spark, sfDir, table, Some(ckpt),
      maintainEvery = Some(1), maxSmallFiles = 2)
    assert(SnapshotTable.currentVersion(spark, table) === v)
    assert(rows(table) === rows(plain))
  }

  test("CDC-apply sink converges to the per-key argmax, survives " +
    "replay, and is idempotent by VALUE beyond the tag ledger") {
    val table = freshPath("snapup")
    val ckpt = StreamHousekeeping.freshCheckpointDir(spark)
    SnapshotSink.runUpsert(spark, sfDir, table, Some(ckpt))
    def state() = SnapshotTable.read(spark, table)
      .select(col("user_id"), col("event_id"), col("event_type"))
      .collect().map(_.toString).sorted.toSeq
    val want = Tables.events(spark, sfDir)
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id")).orderBy(col("event_id").desc)))
      .filter(col("__rn") === 1)
      .select(col("user_id"), col("event_id"), col("event_type"))
      .collect().map(_.toString).sorted.toSeq
    assert(state() === want)

    // checkpoint replay: nothing re-applies
    val v = SnapshotTable.currentVersion(spark, table)
    SnapshotSink.runUpsert(spark, sfDir, table, Some(ckpt))
    assert(SnapshotTable.currentVersion(spark, table) === v)

    // value idempotence: re-merge a STALE slice without any tag — the
    // src(event_id) > event_id condition must reject every update
    val stale = Tables.events(spark, sfDir)
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id")).orderBy(col("event_id").asc)))
      .filter(col("__rn") === 1).drop("__rn") // the OLDEST row per user
    val (_, nU, nD, nI) = SnapshotTable.commitMergeInto(spark, table,
      stale, "user_id", "event_type",
      updateWhen = Some(SnapshotTable.src("event_id") > col("event_id")),
      insertWhen = Some(lit(true)))
    assert((nU, nD, nI) === ((0L, 0L, 0L)))
    assert(state() === want)
  }

  test("a re-delivered tagged batch is a no-op, even after compaction " +
    "renamed its files") {
    val table = freshPath("snapsink_tag")
    SnapshotTable.createEmpty(spark, table)
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("event_type"))
    val batch7 = ev.orderBy("event_id").limit(100)
    val batch8 = ev.orderBy(col("event_id").desc).limit(100)
    assert(SnapshotTable.commitAppend(spark, table, batch7, "event_type",
      Some("b7")).nonEmpty)
    assert(SnapshotTable.commitAppend(spark, table, batch8, "event_type",
      Some("b8")).nonEmpty)
    val n = SnapshotTable.read(spark, table).count()
    // immediate retry: refused on the tag record
    assert(SnapshotTable.commitAppend(spark, table, batch7, "event_type",
      Some("b7")).isEmpty)
    // maintenance renames every data file; the header record must survive
    val (v2, folded, produced) = SnapshotTable.compact(spark, table,
      "event_type", smallThreshold = Long.MaxValue)
    assert(folded > produced && produced > 0)
    assert(SnapshotTable.commitAppend(spark, table, batch7, "event_type",
      Some("b7")).isEmpty)
    assert(SnapshotTable.commitAppend(spark, table, batch8, "event_type",
      Some("b8")).isEmpty)
    assert(SnapshotTable.read(spark, table).count() === n)
    // and an unseen tag still commits
    assert(SnapshotTable.commitAppend(spark, table, batch7, "event_type",
      Some("b9")).contains(v2 + 1))
  }

  test("compact folds small files without changing the data and keeps " +
    "manifest skipping exact") {
    val table = freshPath("snapsink_c")
    SnapshotTable.createEmpty(spark, table)
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("value"), col("event_type"))
    // 4 tiny appends -> 4 files per touched partition value
    (0 until 4).foreach { i =>
      SnapshotTable.commitAppend(spark, table,
        ev.filter(col("event_id") % 4 === i), "event_type", Some(s"b$i"))
    }
    val before = SnapshotTable.readManifest(spark, table,
      SnapshotTable.currentVersion(spark, table))
    val beforeRows = SnapshotTable.read(spark, table)
      .orderBy("event_id").collect().toSeq
    val (_, folded, produced) = SnapshotTable.compact(spark, table,
      "event_type", smallThreshold = Long.MaxValue)
    assert(folded === before.size)
    assert(produced < folded)
    assert(SnapshotTable.read(spark, table)
      .orderBy("event_id").collect().toSeq === beforeRows)
    val oneType = SnapshotTable.readWhere(spark, table, "event_type",
      Seq("click"))
    assert(oneType.inputFiles.length < produced ||
      oneType.inputFiles.length === 1)
    assert(oneType.count() ===
      ev.filter(col("event_type") === "click").count())
  }

  test("a CHECK constraint on the sink table fails a violating " +
    "micro-batch loudly and publishes nothing") {
    val table = freshPath("snapsinkck")
    // gate the EMPTY table before any batch lands (setChecks on an
    // empty table records without scanning); the corpus violates it,
    // so the first micro-batch must fail the stream
    SnapshotTable.createEmpty(spark, table)
    SnapshotTable.setChecks(spark, table, Seq("event_id < 0"))
    val vBefore = SnapshotTable.currentVersion(spark, table)
    val err = intercept[Exception] {
      SnapshotSink.run(spark, sfDir, table,
        checkpoint = Some(freshPath("snapsinkck_cp")))
    }
    // the CHECK violation surfaces through the streaming retry loop
    def causes(t: Throwable): Seq[Throwable] =
      Option(t).toSeq.flatMap(e => e +: causes(e.getCause))
    assert(causes(err).exists(_.getMessage != null) &&
      causes(err).exists(e => Option(e.getMessage).exists(_.contains("CHECK"))),
      s"expected a CHECK violation, got: $err")
    assert(SnapshotTable.currentVersion(spark, table) === vBefore,
      "the refused batch must publish nothing")
  }
}
