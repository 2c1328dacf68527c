package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException

import graft.{SparkSpec, Staged, Tables}
import graft.operators.AnnSearch

class AnnIngestStreamSpec extends SparkSpec {

  /** Stage `df` as a single parquet file named `name` with a pinned mtime
    * so `maxFilesPerTrigger = 1` replays the files in a known order.
    */
  private def stageFile(src: java.nio.file.Path,
                        df: org.apache.spark.sql.DataFrame,
                        name: String, mtime: Long): Unit = {
    val tmp = Paths.get(Staged.scratch(spark, "ann_ingest_stage"))
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = Files.list(tmp).toArray.map(_.toString)
      .find(_.endsWith(".parquet")).get
    val dst = Paths.get(src.toString, name)
    Files.copy(Paths.get(part), dst)
    Files.setLastModifiedTime(dst,
      java.nio.file.attribute.FileTime.fromMillis(mtime))
  }

  test("streaming IVF ingest: two micro-batches equal the batch append " +
    "path under the frozen quantizer; a replayed batch fails loudly") {
    val corpus = Tables.embeddings(spark, sfDir).filter(col("vec_id") =!= 0)
    val initial = corpus.filter(col("vec_id") % 5 =!= 0)
    val lateA = corpus.filter(col("vec_id") % 10 === 0)
    val lateB = corpus.filter(col("vec_id") % 10 === 5)

    // one frozen quantizer, two identical initial indexes: one receives
    // streamed appends, the twin receives the same rows via the batch
    // append path — stream must equal batch
    val fit = initial.coalesce(1).sortWithinPartitions("vec_id")
    val (assigned, centroids) = AnnSearch.buildIvf(fit, "embedding")
    val root = Staged.scratch(spark, "ivf_ingest")
    val streamed = root + "/stream"
    val batched = root + "/batch"
    for (p <- Seq(streamed, batched)) {
      graft.sources.TableIO.writeAnnIndex(assigned, p, "ivf_list")
      graft.sources.TableIO.writeIvfCentroids(spark, p, centroids)
    }

    val src = Paths.get(Staged.scratch(spark, "ivf_ingest_src"))
    stageFile(src, lateA, "a.parquet", 1000000L)
    stageFile(src, lateB, "b.parquet", 2000000L)
    AnnIngestStream.ingestIvf(spark, src.toString, streamed, corpus.schema,
      Staged.scratch(spark, "ivf_ingest_ck"))
    AnnSearch.appendToIvfIndex(spark, batched, lateA)
    AnnSearch.appendToIvfIndex(spark, batched, lateB)

    def listing(p: String): Set[(Long, Int)] =
      graft.sources.SnapshotTable.read(spark, p).select("vec_id", "ivf_list").collect()
        .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(listing(streamed) == listing(batched),
      "streamed appends must equal the batch append path")
    assert(listing(streamed).map(_._1) ==
      corpus.select("vec_id").collect().map(_.getLong(0)).toSet,
      "every corpus vector indexed exactly once")

    // replay with a fresh checkpoint trips the duplicate-id guard
    val n1 = graft.sources.SnapshotTable.read(spark, streamed).count()
    val ex = intercept[StreamingQueryException] {
      AnnIngestStream.ingestIvf(spark, src.toString, streamed, corpus.schema,
        Staged.scratch(spark, "ivf_ingest_ck2"))
    }
    assert(ex.getCause.getMessage.contains("duplicate"), ex.getCause.getMessage)
    assert(graft.sources.SnapshotTable.read(spark, streamed).count() == n1, "failed replay must not write")
  }

  test("streaming LSH ingest: two micro-batches reproduce the full-rebuild " +
    "index; a replayed batch fails loudly instead of duplicating") {
    val corpus = Tables.embeddings(spark, sfDir).filter(col("vec_id") =!= 0)
    val initial = corpus.filter(col("vec_id") % 5 =!= 0)
    val lateA = corpus.filter(col("vec_id") % 10 === 0)
    val lateB = corpus.filter(col("vec_id") % 10 === 5)
    val planes = AnnSearch.hyperplanes(4, 64, 42L)

    val path = Staged.scratch(spark, "ann_ingest") + "/lsh"
    graft.sources.TableIO.writeAnnIndex(
      AnnSearch.withLshBucket(initial, "embedding", planes), path, "lsh_bucket")
    graft.sources.TableIO.writeLshPlanes(spark, path, planes, 42L)

    // stage the two batches as files with ordered mtimes
    val src = Paths.get(Staged.scratch(spark, "ann_ingest_src"))
    def stage(df: org.apache.spark.sql.DataFrame, name: String, mtime: Long): Unit = {
      val tmp = Paths.get(Staged.scratch(spark, "ann_ingest_stage"))
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).toArray.map(_.toString)
        .find(_.endsWith(".parquet")).get
      val dst = Paths.get(src.toString, name)
      Files.copy(Paths.get(part), dst)
      Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(mtime))
    }
    stage(lateA, "a.parquet", 1000000L)
    stage(lateB, "b.parquet", 2000000L)

    AnnIngestStream.ingestLsh(spark, src.toString, path, corpus.schema,
      Staged.scratch(spark, "ann_ingest_ck"))

    val got = graft.sources.SnapshotTable.read(spark, path)
      .select("vec_id", "lsh_bucket").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    val rebuilt = AnnSearch.withLshBucket(corpus, "embedding", planes)
      .select("vec_id", "lsh_bucket").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(got == rebuilt, "streamed appends must equal a full rebuild")

    // a REPLAY of the same files (fresh checkpoint simulates losing the
    // source progress log) must trip the duplicate-id guard, not corrupt
    val n1 = graft.sources.SnapshotTable.read(spark, path).count()
    val ex = intercept[StreamingQueryException] {
      AnnIngestStream.ingestLsh(spark, src.toString, path, corpus.schema,
        Staged.scratch(spark, "ann_ingest_ck2"))
    }
    assert(ex.getCause.getMessage.contains("duplicate"), ex.getCause.getMessage)
    assert(graft.sources.SnapshotTable.read(spark, path).count() == n1, "failed replay must not write")
  }
}
