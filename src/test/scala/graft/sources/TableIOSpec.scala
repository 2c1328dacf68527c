package graft.sources

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Staged, Tables}
import graft.operators.AnnSearch

/** Partitioned-at-rest layout: reads must prune partitions (the scan's
  * PartitionFilters), which is the mechanism that turns shard/bucket
  * queries into O(shard) instead of O(corpus) at 100 TB.
  */
class TableIOSpec extends SparkSpec {

  test("index write partitioned by shard; shard reads prune partitions") {
    val dir = Staged.scratch(spark, "graft_index")
    val emb = Tables.embeddings(spark, sfDir)
      .withColumn("hospital", expr("vec_id % 3"))
    TableIO.writeIndex(emb, dir)

    val back = TableIO.readIndex(spark, dir)
    assert(back.count() == emb.count())

    val pruned = back.filter(col("hospital") === 1)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(hospital"),
      s"shard filter must prune partitions:\n$plan")
    assert(pruned.count() ==
      emb.filter(col("hospital") === 1).count())
  }

  test("ANN index on snapshot tables: probes plan only matching " +
    "buckets' files (manifest skipping)") {
    val dir = Staged.scratch(spark, "graft_ann") + "/idx"
    val planes = AnnSearch.hyperplanes(4, 64)
    val emb = AnnSearch.withLshBucket(
      Tables.embeddings(spark, sfDir), "embedding", planes)
    TableIO.writeAnnIndex(emb, dir, "lsh_bucket")

    val back = TableIO.openAnnIndex(spark, dir, "lsh_bucket")
    assert(back.count() == emb.count())
    val q = Tables.embeddings(spark, sfDir).filter(col("vec_id") === 0)
      .head().getSeq[Float](1).toArray
    val probes = AnnSearch.probeBuckets(q, planes)
    val probed = TableIO.openAnnIndexBuckets(spark, dir, "lsh_bucket", probes)
    // manifest-level file skipping: a strict subset of the index planned
    assert(probed.inputFiles.length < back.inputFiles.length,
      s"planned ${probed.inputFiles.length} of ${back.inputFiles.length}")
    assert(probed.count() ==
      emb.filter(col("lsh_bucket").isin(probes: _*)).count())
    assert(probed.count() < back.count())
  }
}
