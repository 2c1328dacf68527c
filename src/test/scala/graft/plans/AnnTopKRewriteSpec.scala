package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftExtensions
import graft.functions.VectorFunctions.cosineSimilarity
import graft.operators.AnnSearch

/** The opt-in ANN rewrite must (a) stay inert when disabled, (b) inject
  * the bucket filter into exactly the ORDER BY cosine DESC LIMIT k shape,
  * (c) keep useful recall vs the exact answer.
  */
class AnnTopKRewriteSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    spark = SparkSession.builder()
      .master("local[2]")
      .appName("AnnTopKRewriteSpec")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }

  override def afterAll(): Unit = {
    if (spark != null) spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** A STORED bucket-partitioned index (the realistic rewrite target —
    * a UDF-derived bucket column would be pruned away before the user
    * optimizer batch runs; a relation column survives).
    */
  private lazy val indexDir: String = {
    val dir = graft.Staged.scratch(spark, "graft_ann_rewrite")
    val planes = AnnSearch.hyperplanes(4, 64)
    graft.sources.TableIO.writeAnnIndex(
      AnnSearch.withLshBucket(
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
          .filter(col("vec_id") =!= 0),
        "embedding", planes),
      dir, "lsh_bucket")
    dir
  }

  private def corpus: DataFrame = graft.sources.SnapshotTable.read(spark, indexDir)

  private def queryVec: Array[Float] =
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .filter(col("vec_id") === 0).head().getSeq[Float](1).toArray

  private def topK(df: DataFrame): DataFrame =
    df.withColumn("sim", cosineSimilarity(col("embedding"), typedlit(queryVec.toSeq)))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(10)
      .select(col("vec_id"), col("sim"))

  test("disabled (default): plan untouched, exact results") {
    spark.conf.set("spark.graft.ann.rewrite", "false")
    val plan = topK(corpus).queryExecution.optimizedPlan.toString
    assert(!plan.contains("lsh_bucket IN"), plan)
  }

  test("enabled: bucket IN-filter injected, subset of corpus scanned, recall holds") {
    spark.conf.set("spark.graft.ann.rewrite", "true")
    try {
      val approx = topK(corpus)
      val plan = approx.queryExecution.optimizedPlan.toString
      assert(plan.contains("lsh_bucket#") && plan.contains(" IN "), plan)
      // the injected IN-filter must reach the parquet scan as a PUSHED
      // filter (the snapshot index stores the bucket in row data; each
      // file holds one bucket, so footer min=max skips whole files)
      val physical = approx.queryExecution.executedPlan.toString
      assert(physical.linesIterator.exists(l =>
        l.contains("PushedFilters") && l.contains("lsh_bucket")), physical)

      val approxIds = approx.collect().map(_.getLong(0)).toSet
      spark.conf.set("spark.graft.ann.rewrite", "false")
      val exactIds = topK(corpus).collect().map(_.getLong(0)).toSet
      val recall = approxIds.intersect(exactIds).size / 10.0
      assert(recall >= 0.5, s"recall $recall")
      // approximate result must be ranked by true cosine within candidates
      assert(approxIds.size == 10)
    } finally spark.conf.set("spark.graft.ann.rewrite", "false")
  }

  test("intervening Filter between Sort and relation: rewrite still fires " +
    "and composes with the user predicate") {
    spark.conf.set("spark.graft.ann.rewrite", "true")
    try {
      val approx = corpus
        .filter(col("vec_id") % 2 === 1) // user predicate survives pushdown shapes
        .withColumn("sim", cosineSimilarity(col("embedding"), typedlit(queryVec.toSeq)))
        .orderBy(col("sim").desc, col("vec_id"))
        .limit(10)
        .select(col("vec_id"), col("sim"))
      val plan = approx.queryExecution.optimizedPlan.toString
      assert(plan.contains("lsh_bucket#") && plan.contains(" IN "), plan)
      val rows = approx.collect()
      assert(rows.length == 10)
      assert(rows.forall(_.getLong(0) % 2 == 1), "user filter preserved")
    } finally spark.conf.set("spark.graft.ann.rewrite", "false")
  }

  test("double Project above the sort key: alias chain is resolved, " +
    "rewrite fires, and the probe filter is injected exactly once") {
    spark.conf.set("spark.graft.ann.rewrite", "true")
    try {
      val approx = corpus
        .select(col("vec_id"), col("embedding"), col("lsh_bucket"))
        .withColumn("s0", cosineSimilarity(col("embedding"), typedlit(queryVec.toSeq)))
        .select(col("vec_id"), col("s0").as("sim"))
        .orderBy(col("sim").desc, col("vec_id"))
        .limit(10)
      val plan = approx.queryExecution.optimizedPlan.toString
      assert(plan.contains("lsh_bucket#") && plan.contains(" IN "), plan)
      // exactly one injected probe filter (fixpoint idempotency)
      val inCount = plan.linesIterator.count(l =>
        l.contains("lsh_bucket#") && l.contains(" IN "))
      assert(inCount == 1, s"expected one probe filter, plan:\n$plan")
      assert(approx.collect().length == 10)
    } finally spark.conf.set("spark.graft.ann.rewrite", "false")
  }

  test("no lsh_bucket column: rewrite does not fire even when enabled") {
    spark.conf.set("spark.graft.ann.rewrite", "true")
    try {
      val noBucket = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .filter(col("vec_id") =!= 0)
      val plan = topK(noBucket).queryExecution.optimizedPlan.toString
      assert(!plan.contains("IN ("), plan)
    } finally spark.conf.set("spark.graft.ann.rewrite", "false")
  }

  test("ascending sort is NOT rewritten — semantics guard") {
    spark.conf.set("spark.graft.ann.rewrite", "true")
    try {
      // bucket pruning only helps a DESC-similarity top-k; any other
      // shape must pass through untouched
      val df = corpus
        .withColumn("sim", cosineSimilarity(col("embedding"), typedlit(queryVec.toSeq)))
        .orderBy(col("sim").asc, col("vec_id"))
      val plan = df.limit(5).queryExecution.optimizedPlan.toString
      assert(!plan.contains("lsh_bucket#") || !plan.contains(" IN "), plan)
    } finally spark.conf.set("spark.graft.ann.rewrite", "false")
  }
}
