package graft.operators

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

class IncrementalDedupSpec extends SparkSpec {
  import spark.implicits._

  private def split(dir: String) = {
    val docs = Tables.documents(spark, dir)
    val inBatch = conv(substring(
      md5(col("doc_id").cast("string").cast("binary")), 1, 8), 16, 10)
      .cast("long") % 10 === 7
    (docs.filter(!inBatch), docs.filter(inBatch), docs)
  }

  test("incremental result ≡ full-corpus run restricted to pairs touching " +
    "the batch") {
    val (old, batch, all) = split(sfDir)
    val store = graft.Staged.scratch(spark, "bandstore") + "/store"
    IncrementalDedup.writeBandStore(old, store)
    val got = IncrementalDedup.dedupNewBatch(old, store, batch)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

    val batchIds = batch.select("doc_id").collect().map(_.getLong(0)).toSet
    val full = MinHashDedup.nearDupPairs(all, "doc_id", "text", 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter(p => batchIds(p._1) || batchIds(p._2)).toSet
    assert(got === full)
    assert(got.nonEmpty, "fixture must produce pairs touching the batch")
  }

  test("absorb ≡ rebuild: store after appending the batch equals a " +
    "from-scratch store over the full corpus") {
    val (old, batch, all) = split(sfDir)
    val dir = graft.Staged.scratch(spark, "bandstore_eq")
    val incr = dir + "/incr"
    val full = dir + "/full"
    IncrementalDedup.writeBandStore(old, incr)
    IncrementalDedup.absorbBatch(batch, incr)
    IncrementalDedup.writeBandStore(all, full)
    def content(p: String) = spark.read.parquet(p)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    assert(content(incr) === content(full))
  }

  test("occupancy cap sees the COMBINED store+batch bucket, not the batch " +
    "alone") {
    // 6 identical history docs + 2 identical new ones: every band bucket
    // holds 8 docs. A batch-only view (2 ≤ cap) would emit pairs; the
    // combined view (8 > cap=5) must refuse the hot bucket entirely.
    val text = "alpha beta gamma delta epsilon zeta eta theta"
    val old = (0L to 5L).map((_, text)).toDF("doc_id", "text")
    val batch = Seq((10L, text), (11L, text)).toDF("doc_id", "text")
    val store = graft.Staged.scratch(spark, "bandstore_cap") + "/store"
    IncrementalDedup.writeBandStore(old, store)
    val capped = IncrementalDedup.dedupNewBatch(old, store, batch,
      maxBucketSize = 5)
    assert(capped.count() === 0L, "hot bucket must be dropped, not mined")
    val uncapped = IncrementalDedup.dedupNewBatch(old, store, batch,
      maxBucketSize = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // all old×new and new×new pairs, never old×old
    val expected = ((0L to 5L).flatMap(o => Seq((o, 10L), (o, 11L))) :+ (10L, 11L)).toSet
    assert(uncapped === expected)
  }

  test("store/batch overlap (the retry shape) yields no self-pairs and no " +
    "duplicate rows — output equals the clean non-overlapping run") {
    val (old, batch, all) = split(sfDir)
    val dir = graft.Staged.scratch(spark, "bandstore_overlap")
    val clean = dir + "/clean"
    val dirty = dir + "/dirty"
    IncrementalDedup.writeBandStore(old, clean)
    // the retry case: the batch's own postings are ALREADY in the store,
    // and its docs are already in the corpus the verify reads
    IncrementalDedup.writeBandStore(all, dirty)
    val expected = IncrementalDedup.dedupNewBatch(old, clean, batch)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val got = IncrementalDedup.dedupAgainstStore(
      all, spark.read.parquet(dirty), batch)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(!got.exists(p => p._1 == p._2), "no self-pairs at jac 1.0")
    assert(got.length === got.toSet.size, "no duplicated verify rows")
    assert(got.toSet === expected.toSet)
  }

  test("compactBatchDirs folds committed scopes into one dir, content " +
    "unchanged; crashed swaps heal both directions") {
    import org.apache.hadoop.fs.Path
    val root = graft.Staged.scratch(spark, "bandstore_compact") + "/bands"
    val t = (i: Int) => s"w$i x$i y$i z$i"
    for (id <- 0 to 3)
      IncrementalDedup.writeBandStore(
        Seq((id.toLong, t(id))).toDF("doc_id", "text"), s"$root/batch_id=$id")
    def content() = spark.read.parquet(root)
      .select("band_id", "bucket", "doc_id")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    val before = content()
    IncrementalDedup.compactBatchDirs(spark, root, upTo = 2L)
    assert(IncrementalDedup.listBatchIds(spark, root).sorted === Seq(2L, 3L),
      "scopes 0-2 fold under the max folded id; 3 (uncommitted) survives")
    assert(content() === before, "the fold relabels, never drops or dups")

    // crash BEFORE the fold went live: __compacting present, one scope
    // parked — recovery must restore it and drop the fold
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parked = new Path(root + "__precompact")
    fs.mkdirs(parked)
    assert(fs.rename(new Path(root, "batch_id=3"), new Path(parked, "batch_id=3")))
    fs.mkdirs(new Path(root + "__compacting"))
    IncrementalDedup.recoverCompactLeftovers(spark, root)
    assert(IncrementalDedup.listBatchIds(spark, root).sorted === Seq(2L, 3L))
    assert(!fs.exists(parked) && !fs.exists(new Path(root + "__compacting")))
    assert(content() === before)

    // crash AFTER: only __precompact left — recovery rolls forward
    fs.mkdirs(new Path(parked, "batch_id=9"))
    IncrementalDedup.recoverCompactLeftovers(spark, root)
    assert(!fs.exists(parked))
    assert(content() === before)
  }

  test("chained batches: second batch sees the first as history after absorb") {
    val t1 = "one two three four five six seven eight"
    val old = Seq((1L, t1)).toDF("doc_id", "text")
    val b1 = Seq((2L, t1)).toDF("doc_id", "text")
    val b2 = Seq((3L, t1)).toDF("doc_id", "text")
    val store = graft.Staged.scratch(spark, "bandstore_chain") + "/store"
    IncrementalDedup.writeBandStore(old, store)
    val p1 = IncrementalDedup.dedupNewBatch(old, store, b1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(p1 === Set((1L, 2L)))
    IncrementalDedup.absorbBatch(b1, store)
    val hist2 = old.union(b1)
    val p2 = IncrementalDedup.dedupNewBatch(hist2, store, b2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(p2 === Set((1L, 3L), (2L, 3L)), "doc 2 must be visible as history")
  }
}
