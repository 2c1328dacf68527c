package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.{SparkSpec, Tables}
import graft.sources.SnapshotTable

/** [[SnapshotSource]] — tailing snapshot commits as a stream. Pins:
  * version-offset batches emit each appended row exactly once across
  * restarts; `startingVersion` controls initial-snapshot replay vs
  * tail-only; rewrite commits fail the insert-only contract loudly
  * (and `ignoreChanges` opts out); table-to-table streaming ETL
  * (source → sink) round-trips exactly.
  */
class SnapshotSourceSpec extends SparkSpec {

  private def freshTable(prefix: String): String = {
    val t = graft.Staged.scratch(spark, prefix) + "/t"
    SnapshotTable.create(spark, t,
      Tables.orders(spark, sfDir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_orderpriority")),
      "o_orderpriority", statsCols = Seq("o_orderkey"))
    t
  }

  private def appendBatch(t: String, shift: Long): Long = {
    val batch = Tables.orders(spark, sfDir)
      .filter(col("o_orderkey") % 250 === 0)
      .select((col("o_orderkey") + shift).as("o_orderkey"),
        col("o_custkey"), col("o_totalprice"), col("o_orderpriority"))
    SnapshotTable.commitAppend(spark, t, batch, "o_orderpriority")
    batch.count()
  }

  private def drain(t: String, checkpoint: String, out: String,
                    extra: Map[String, String] = Map.empty): Unit = {
    val reader = spark.readStream.format("graft-snapshot")
    extra.foreach { case (k, v) => reader.option(k, v) }
    val q = reader.load(t).writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.write.mode("append").parquet(out); ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  test("startingVersion=0 replays the initial snapshot; a restarted " +
    "checkpoint emits only commits after its offset — exactly once overall") {
    val t = freshTable("snapsrc")
    val dir = graft.Staged.scratch(spark, "snapsrc_out")
    val (cp, out) = (s"$dir/cp", s"$dir/out")
    val baseN = SnapshotTable.read(spark, t).count()

    drain(t, cp, out, Map("startingVersion" -> "0"))
    assert(spark.read.parquet(out).count() === baseN)

    val n2 = appendBatch(t, 1000000L) // v2
    val n3 = appendBatch(t, 2000000L) // v3
    drain(t, cp, out, Map("startingVersion" -> "0"))
    val all = spark.read.parquet(out)
    assert(all.count() === baseN + n2 + n3)
    // no duplicates: every key appears exactly once
    assert(all.groupBy("o_orderkey").count().filter(col("count") > 1)
      .count() === 0L)
    // and a third drain with nothing new emits nothing
    drain(t, cp, out, Map("startingVersion" -> "0"))
    assert(spark.read.parquet(out).count() === baseN + n2 + n3)
  }

  test("default start is tail-only: the initial snapshot is NOT replayed, " +
    "later commits are") {
    val t = freshTable("snapsrc_tail")
    val dir = graft.Staged.scratch(spark, "snapsrc_tail_out")
    val (cp, out) = (s"$dir/cp", s"$dir/out")

    drain(t, cp, out) // current version = 1, nothing after it
    assert(!new java.io.File(out).exists() ||
      spark.read.parquet(out).count() === 0L)

    val n2 = appendBatch(t, 3000000L)
    drain(t, cp, out)
    assert(spark.read.parquet(out).count() === n2)
  }

  test("a rewrite commit in the window fails the insert-only stream; " +
    "ignoreChanges skips the removals and keeps tailing") {
    val t = freshTable("snapsrc_rw")
    val dir = graft.Staged.scratch(spark, "snapsrc_rw_out")

    val updates = Tables.orders(spark, sfDir)
      .filter(col("o_orderkey") % 97 === 0)
      .select(col("o_orderkey"), col("o_custkey"),
        (col("o_totalprice") + 1000.0).as("o_totalprice"),
        col("o_orderpriority"))
    SnapshotTable.commitMerge(spark, t, updates, "o_orderkey",
      "o_orderpriority") // v2 rewrites files

    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drain(t, s"$dir/cp1", s"$dir/out1", Map("startingVersion" -> "1"))
    }
    assert(err.getMessage.contains("rewrote") ||
      Option(err.getCause).exists(_.getMessage.contains("rewrote")))

    drain(t, s"$dir/cp2", s"$dir/out2",
      Map("startingVersion" -> "1", "ignoreChanges" -> "true"))
    // fresh files of the merge commit emitted; removed files skipped
    val got = spark.read.parquet(s"$dir/out2")
    assert(got.count() > 0L)
    // every emitted row exists in the current snapshot (no ghost rows)
    assert(got.join(SnapshotTable.read(spark, t),
      Seq("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"),
      "left_anti").count() === 0L)
  }

  test("maxVersionsPerTrigger admits one version per micro-batch and a " +
    "restarted checkpoint resumes past the committed offset") {
    val t = freshTable("snapsrc_rate")
    val n2 = appendBatch(t, 6000000L) // v2
    val n3 = appendBatch(t, 6100000L) // v3
    val dir = graft.Staged.scratch(spark, "snapsrc_rate_out")
    val (cp, out) = (s"$dir/cp", s"$dir/out")
    val batches = new java.util.concurrent.atomic.AtomicInteger(0)

    // a continuous trigger, drained with processAllAvailable: the
    // AvailableNow wrapper latches ONE offset for the whole run, so
    // per-version admission only shows under a live trigger
    def drainCounting(): Unit = {
      val q = spark.readStream.format("graft-snapshot")
        .option("startingVersion", "0")
        .option("maxVersionsPerTrigger", "1")
        .load(t).writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          batches.incrementAndGet()
          batch.write.mode("append").parquet(out); ()
        }
        .option("checkpointLocation", cp)
        .start()
      q.processAllAvailable()
      q.stop()
      q.awaitTermination()
    }

    drainCounting()
    // one micro-batch per version window: (0,1], (1,2], (2,3]
    assert(batches.get() === 3)
    val baseN = SnapshotTable.readVersion(spark, t, 1L).count()
    assert(spark.read.parquet(out).count() === baseN + n2 + n3)

    val n4 = appendBatch(t, 6200000L) // v4
    drainCounting()
    assert(batches.get() === 4) // exactly one more window, no replay
    val all = spark.read.parquet(out)
    assert(all.count() === baseN + n2 + n3 + n4)
    assert(all.groupBy("o_orderkey").count().filter(col("count") > 1)
      .count() === 0L)
  }

  test("an equality-delete commit in the window fails the insert-only " +
    "stream like a rewrite does") {
    val t = freshTable("snapsrc_eqdel")
    SnapshotTable.commitDeleteLazy(spark, t,
      Tables.orders(spark, sfDir).limit(1).select("o_orderkey"),
      "o_orderkey") // v2: logical removal, no files rewritten
    val dir = graft.Staged.scratch(spark, "snapsrc_eqdel_out")
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drain(t, s"$dir/cp", s"$dir/out", Map("startingVersion" -> "1"))
    }
    assert(err.getMessage.contains("equality delete") ||
      Option(err.getCause).exists(_.getMessage.contains("equality delete")))
  }

  test("a segment fold inside the window does not masquerade as a rewrite " +
    "— the slow path diffs entries and keeps the stream exactly-once") {
    val t = freshTable("snapsrc_fold")
    import spark.implicits._
    // enough appends to cross the fold threshold (32 segments)
    val n = 35
    (1 to n).foreach { i =>
      SnapshotTable.commitAppend(spark, t,
        Seq((9000000L + i, 1L, 1.0, "1-URGENT"))
          .toDF("o_orderkey", "o_custkey", "o_totalprice",
            "o_orderpriority"),
        "o_orderpriority")
    }
    val dir = graft.Staged.scratch(spark, "snapsrc_fold_out")
    drain(t, s"$dir/cp", s"$dir/out", Map("startingVersion" -> "0"))
    val baseN = SnapshotTable.readVersion(spark, t, 1L).count()
    val all = spark.read.parquet(s"$dir/out")
    assert(all.count() === baseN + n)
    assert(all.groupBy("o_orderkey").count().filter(col("count") > 1)
      .count() === 0L)
  }

  test("maxBytesPerTrigger admits whole versions within the byte budget, " +
    "at least one per batch") {
    val t = freshTable("snapsrc_bytes")
    appendBatch(t, 7000000L) // v2
    appendBatch(t, 7100000L) // v3
    val dir = graft.Staged.scratch(spark, "snapsrc_bytes_out")
    val batches = new java.util.concurrent.atomic.AtomicInteger(0)

    def drain(budget: Long, cp: String, out: String): Unit = {
      val q = spark.readStream.format("graft-snapshot")
        .option("startingVersion", "0")
        .option("maxBytesPerTrigger", budget.toString)
        .load(t).writeStream
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          batches.incrementAndGet()
          batch.write.mode("append").parquet(out); ()
        }
        .option("checkpointLocation", cp)
        .start()
      q.processAllAvailable()
      q.stop()
      q.awaitTermination()
    }

    // a 1-byte budget still progresses: one version per batch → 3
    drain(1L, s"$dir/cp1", s"$dir/out1")
    assert(batches.get() === 3)
    // a huge budget drains everything in one batch
    batches.set(0)
    drain(Long.MaxValue, s"$dir/cp2", s"$dir/out2")
    assert(batches.get() === 1)
    // both paths emit identical row sets
    assert(spark.read.parquet(s"$dir/out1").exceptAll(
      spark.read.parquet(s"$dir/out2")).count() === 0L)
    assert(spark.read.parquet(s"$dir/out2").exceptAll(
      spark.read.parquet(s"$dir/out1")).count() === 0L)
  }

  test("table-to-table streaming ETL: source table → snapshot sink lands " +
    "every appended row exactly once") {
    val src = freshTable("snapsrc_t2t")
    val dir = graft.Staged.scratch(spark, "snapsrc_t2t_out")
    val dst = s"$dir/dst"
    SnapshotTable.createEmpty(spark, dst)

    appendBatch(src, 4000000L)
    appendBatch(src, 5000000L)

    val q = spark.readStream.format("graft-snapshot")
      .option("startingVersion", "0").load(src)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        SnapshotTable.commitWithRetry() {
          SnapshotTable.commitAppend(batch.sparkSession, dst, batch,
            "o_orderpriority", tag = Some(s"b$batchId"))
        }
        ()
      }
      .option("checkpointLocation", s"$dir/cp")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val want = SnapshotTable.read(spark, src)
    val got = SnapshotTable.read(spark, dst)
    assert(got.count() === want.count())
    assert(got.exceptAll(want).count() === 0L)
    assert(want.exceptAll(got).count() === 0L)
  }
}
