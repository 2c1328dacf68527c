package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}
import graft.operators.{IncrementalDedup, MinHashDedup}

class IncrDedupStreamSpec extends SparkSpec {

  private def pairsOf(df: DataFrame): Set[(Long, Long)] =
    df.select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("two-batch stream over the whole corpus = one-shot pair set, " +
    "and a LATER stream continues from the same state") {
    val docs = Tables.documents(spark, sfDir)
    val work = java.nio.file.Files.createTempDirectory("incr_stream_spec")
    val src = work.resolve("src"); java.nio.file.Files.createDirectories(src)
    def stage(df: DataFrame, name: String, mtime: Long): Unit = {
      val tmp = work.resolve(s"stage_$name")
      df.coalesce(1).write.parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).toArray.map(_.toString)
        .filter(_.endsWith(".parquet")).head
      val dst = src.resolve(s"$name.parquet")
      java.nio.file.Files.move(java.nio.file.Paths.get(part), dst)
      dst.toFile.setLastModified(mtime)
    }
    val history = docs.filter(!IncrementalDedup.isBatch)
    val batch = docs.filter(IncrementalDedup.isBatch)
    stage(history, "part-0001", 1000000L)
    stage(batch, "part-0002", 2000000L)
    val state = work.resolve("state").toString
    val got = pairsOf(IncrDedupStream.run(spark, src.toString, docs.schema, state))
    val oneShot = pairsOf(
      MinHashDedup.nearDupPairs(docs, "doc_id", "text", threshold = 0.8))
    assert(got === oneShot,
      "incremental union must equal the one-shot full-corpus pair set")

    // RESTART: drop a third file into the SAME source, re-run with the
    // same state — the checkpoint under statePath must skip the two
    // processed files and dedup only the new arrivals (near-dup copies
    // of two history docs, ids far above the corpus range)
    val seeds = history.orderBy("doc_id").limit(2)
      .select("doc_id", "text", "lang", "source", "n_chars").collect()
    import spark.implicits._
    val newDocs = seeds.zipWithIndex.map { case (r, i) =>
      (1000000L + i, r.getString(1), r.getString(2), r.getString(3), r.getLong(4))
    }.toSeq.toDF("doc_id", "text", "lang", "source", "n_chars")
    stage(newDocs, "part-0003", 3000000L)
    val got2 = pairsOf(IncrDedupStream.run(spark, src.toString, docs.schema, state))
    val expected2 = pairsOf(IncrementalDedup.dedupNewBatch(
      docs, {
        val store = work.resolve("rebuilt_store").toString
        IncrementalDedup.writeBandStore(docs, store); store
      }, newDocs))
    assert((got2 -- got) === expected2,
      "the restarted stream must dedup new arrivals against ALL prior state")
    assert(got2.intersect(got) === got, "earlier results are retained in the sink")
  }

  test("retried micro-batch (commit lost after state writes) reproduces the " +
    "clean result — no self-pairs, no duplicates; state on a file: URI; " +
    "compactState folds scopes without changing later batches") {
    import org.apache.hadoop.fs.Path
    val docs = Tables.documents(spark, sfDir)
    val work = java.nio.file.Files.createTempDirectory("incr_stream_retry")
    val fs = new Path(work.toString)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val src = new Path(work.toString, "src"); fs.mkdirs(src)
    def stage(df: DataFrame, name: String, mtime: Long): Unit = {
      val tmp = new Path(work.toString, s"stage_$name")
      df.coalesce(1).write.parquet(tmp.toString)
      val part = fs.listStatus(tmp).map(_.getPath)
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new Path(src, s"$name.parquet")
      assert(fs.rename(part, dst)); fs.setTimes(dst, mtime, -1)
    }
    val history = docs.filter(!graft.operators.IncrementalDedup.isBatch)
    val batch = docs.filter(graft.operators.IncrementalDedup.isBatch)
    stage(history, "part-0001", 1000000L)
    stage(batch, "part-0002", 2000000L)
    // an explicit file:-scheme Hadoop URI — java.nio would choke on it
    val state = s"file://$work/state"
    val clean = IncrDedupStream.run(spark, src.toString, docs.schema, state)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(clean.nonEmpty)

    // RETRY: drop the last commit marker — the state writes for batch 1
    // are all in place, but the checkpoint says it never finished. The
    // restarted stream re-delivers batch 1 against a store that already
    // holds batch 1's own postings.
    assert(fs.delete(new Path(s"$state/checkpoint/commits/1"), false),
      "fixture: batch 1's commit marker must exist")
    val retried = IncrDedupStream.run(spark, src.toString, docs.schema, state)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(!retried.exists(p => p._1 == p._2), "no self-pairs from the retry")
    assert(retried.length === retried.toSet.size, "no duplicated rows")
    assert(retried.toSet === clean.toSet,
      "a retried batch reproduces its clean result exactly")

    // COMPACTION: fold the two committed scopes; every state dir drops to
    // one batch_id scope and a later stream behaves identically
    IncrDedupStream.compactState(spark, state)
    for (d <- Seq("bands", "docs"))
      assert(graft.operators.IncrementalDedup
        .listBatchIds(spark, s"$state/$d") === Seq(1L), s"$d folds to one scope")
    val seeds = history.orderBy("doc_id").limit(2)
      .select("doc_id", "text", "lang", "source", "n_chars").collect()
    import spark.implicits._
    val newDocs = seeds.zipWithIndex.map { case (r, i) =>
      (2000000L + i, r.getString(1), r.getString(2), r.getString(3), r.getLong(4))
    }.toSeq.toDF("doc_id", "text", "lang", "source", "n_chars")
    stage(newDocs, "part-0003", 3000000L)
    val after = IncrDedupStream.run(spark, src.toString, docs.schema, state)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val store = new Path(work.toString, "rebuilt_store").toString
    graft.operators.IncrementalDedup.writeBandStore(docs, store)
    val expectedNew = graft.operators.IncrementalDedup
      .dedupNewBatch(docs, store, newDocs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(after === clean.toSet ++ expectedNew,
      "a post-compaction batch sees exactly the same history")
  }

  test("overlapped state writes: one failing write does not return " +
    "control before its sibling settles; the failure is then rethrown") {
    import java.util.concurrent.{CountDownLatch, Executors}
    import java.util.concurrent.atomic.AtomicBoolean
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val pool = Executors.newFixedThreadPool(3)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val release = new CountDownLatch(1)
      val slowDone = new AtomicBoolean(false)
      val failed = Future[Unit](throw new IllegalStateException("write failed"))
      val slow = Future { release.await(); slowDone.set(true) }
      val waiter = Future(IncrDedupStream.awaitAll(Seq(failed, slow), 1.minute))
      Await.ready(failed, 10.seconds)
      Thread.sleep(300)
      assert(!waiter.isCompleted,
        "the wait must not return while a sibling write is still running")
      release.countDown()
      val e = intercept[IllegalStateException](Await.result(waiter, 1.minute))
      assert(e.getMessage == "write failed")
      assert(slowDone.get, "the slow write settled before the rethrow")
    } finally pool.shutdownNow()
  }
}
