package graft.search

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, BoundReference, InterpretedOrdering, SortOrder}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType, IntegerType, LongType, StructType}

import graft.{QueryPack, Tables}
import graft.functions.CosineTopKExpr
import graft.functions.VectorFunctions._

/** Top-k cosine similarity search — the reference's flagship query path
  * (similarity_search.py:294-313 per-shard top-k, 322-363 scatter-gather
  * merge, 366-407 statistics block).
  *
  * Spark design (SURVEY.md §3 E1): the query vector is a 1-row broadcast —
  * the "join" is a broadcast nested-loop producing one similarity per corpus
  * row (no shuffle); per-shard local top-k is a window `row_number() OVER
  * (PARTITION BY shard ORDER BY sim DESC)`; the global top-k is
  * `ORDER BY ... LIMIT k`, which Catalyst plans as TakeOrderedAndProject —
  * O(n log k) per partition + a k-sized merge on the driver, no full sort,
  * no shuffle. This shape scales linearly with corpus size and executor
  * count; at 100 TB the same plan holds (scan → map → per-partition heap).
  */
object VectorSearch extends QueryPack {

  /** Corpus with a shard ("hospital") key. The driver corpus has no shard
    * column, so shard = vec_id % 3, mirroring the reference's 3 hospitals
    * (similarity_search.py:592-596).
    */
  private def corpus(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir).withColumn("hospital", expr("vec_id % 3"))

  /** 1-row broadcast query vector: the embedding of vec_id = 0. */
  private def queryVec(s: SparkSession, dir: String): DataFrame =
    broadcast(
      Tables.embeddings(s, dir).filter(col("vec_id") === 0)
        .select(col("embedding").as("q_emb")))

  /** Corpus scored against the broadcast query vector (query row excluded,
    * as the reference never scores the query against itself — it isn't
    * stored). Similarity rounded to 6 dp for cross-engine determinism.
    */
  private def scored(s: SparkSession, dir: String): DataFrame =
    corpus(s, dir).filter(col("vec_id") =!= 0)
      .crossJoin(queryVec(s, dir))
      .select(
        col("vec_id"), col("label"), col("hospital"),
        round(cosineSimilarity(col("embedding"), col("q_emb")), 6).as("sim"))

  /** K2: brute-force global top-k (TakeOrderedAndProject). */
  def knnBrute(s: SparkSession, dir: String): DataFrame =
    scored(s, dir)
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(10)
      .select(col("vec_id"), col("sim"))

  /** K1: per-shard local top-k via window row_number (SURVEY.md §2.5). */
  def knnPerShard(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("hospital")).orderBy(col("sim").desc, col("vec_id"))
    scored(s, dir)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("hospital"), col("rank"), col("vec_id"), col("sim"))
      .orderBy(col("hospital"), col("rank"))
  }

  /** E1 scatter-gather: local top-k per shard, union, global re-sort, top-k
    * (similarity_search.py:322-363). The candidate pool for the global merge
    * is n_shards × k rows — tiny regardless of corpus size, which is exactly
    * why the reference's architecture scales: only local winners travel.
    */
  def scatterGather(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("hospital")).orderBy(col("sim").desc, col("vec_id"))
    scored(s, dir)
      .withColumn("local_rank", row_number().over(w))
      .filter(col("local_rank") <= 10)
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(10)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("sim").desc, col("vec_id"))))
      .select(col("rank"), col("vec_id"), col("hospital"), col("sim"))
  }

  /** A3-shaped statistics block over the top-k hit set: one conditional-agg
    * pass (count / conditional counts / rates / means — the reference's
    * transplant_statistics, similarity_search.py:366-407, re-expressed over
    * the driver corpus where `label` plays the outcome role).
    */
  def knnStats(s: SparkSession, dir: String): DataFrame = {
    val hits = scored(s, dir)
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(50)
    hits.agg(
      count(lit(1)).as("total_hits"),
      sum(when(col("label") % 2 === 0, 1L).otherwise(0L)).as("even_label_count"),
      sum(when(col("label") % 2 =!= 0, 1L).otherwise(0L)).as("odd_label_count"),
      round(avg(col("sim")), 6).as("avg_sim"),
      round(min(col("sim")), 6).as("min_sim"),
      round(max(col("sim")), 6).as("max_sim"),
      count_distinct(col("hospital")).as("hospitals_hit"))
  }

  /** Batched multi-query top-k: one Spark job over the corpus answers
    * the whole batch. The queries `(query_id, q_emb)` are collected to
    * the driver and travel to the tasks with the job; each task runs the
    * [[graft.functions.CosineTopKExpr]] kernel over its corpus rows
    * `(vec_id, embedding)` — every row decoded once for all queries,
    * norms summed once per row and per query, a pair's dot product
    * stopped at half the row once its Cauchy–Schwarz bound cannot reach
    * its heap, 6-dp rounding only for scores that can still enter a
    * heap — and keeps a k-sized heap per query_id. The driver merges the
    * tasks' heaps (≤ k × 16 bytes per query_id each), so nothing
    * shuffles and no (row, query) pair is ever a row. Each task adds the
    * pairs it stopped early to the `longAccumulator` named
    * [[graft.functions.CosineTopKExpr.skippedPairsAcc]]. The corpus is
    * planned once per frame (its `queryExecution` keeps the RDD), so a
    * caller that reuses one corpus frame pays for its planning once.
    *
    * The result is one frame over a [[CosineTopK]] leaf, `(query_id,
    * rank, vec_id, sim)` ordered by query_id, rank: per query_id the k
    * best `round(cosine, 6)`, ties by vec_id — bit for bit what scoring
    * every pair and ranking them gives. Building it runs no job over the
    * corpus; its first action runs the one job.
    */
  def batchKnn(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame =
    new BatchKnn(corpus, queries, k).frames.head

  private final class BatchKnn(corpus: DataFrame, queries: DataFrame, k: Int)
      extends TopKJob(corpus.sparkSession, "search:batch-knn") {
    private val kernel = {
      val Seq(id, emb) = Seq("vec_id", "embedding").map(corpus.schema(_).dataType)
      if (id != LongType)
        throw new IllegalArgumentException(s"cosine top-k id must be BIGINT, got ${id.simpleString}")
      if (!emb.isInstanceOf[ArrayType] || emb.asInstanceOf[ArrayType].elementType != FloatType)
        throw new IllegalArgumentException(
          s"cosine top-k embedding must be ARRAY<FLOAT>, got ${emb.simpleString}")
      new CosineTopKExpr(CosineTopKExpr.Batch.collect(queries), k,
        corpus.schema.fieldIndex("vec_id"), corpus.schema.fieldIndex("embedding"))
    }
    private val schema = kernel.schema

    def schemas: Seq[StructType] = Seq(schema)

    protected def run(): Seq[Seq[InternalRow]] = {
      val rdd = corpus.queryExecution.toRdd
      val kernel = this.kernel // a local: the task closure must not capture this job
      val skipped = rdd.sparkContext.longAccumulator(CosineTopKExpr.skippedPairsAcc)
      val heaps = rdd.sparkContext.runJob(rdd, (rows: Iterator[InternalRow]) => {
        val buf = kernel.createBuffer()
        rows.foreach(kernel.update(buf, _))
        skipped.add(buf.skipped)
        kernel.serialize(buf)
      })
      val merged = heaps.iterator.map(kernel.deserialize)
        .foldLeft(kernel.createBuffer())(kernel.merge)
      val byQueryThenRank = new InterpretedOrdering(Seq(
        SortOrder(BoundReference(0, schema(0).dataType, schema(0).nullable), Ascending),
        SortOrder(BoundReference(1, IntegerType, nullable = false), Ascending)))
      Seq(kernel.eval(merged).sorted(byQueryThenRank))
    }

    override def toString: String = s"top-$k cosine, ${kernel.batch}"
  }

  def batchKnnQuery(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    batchKnn(emb, queries, 5)
  }

  /** A4: scalar variance over every element of the embedding matrix
    * (torch.var = sample variance, similarity_search.py:256-260).
    */
  def embVariance(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(explode(col("embedding").cast("array<double>")).as("x"))
      .agg(round(var_samp(col("x")), 6).as("emb_var"), count(lit(1)).as("n_elems"))

  override def queries: Map[String, QueryPack.Q] = Map(
    "q_knn_brute"      -> (knnBrute _),
    "q_knn_per_shard"  -> (knnPerShard _),
    "q_scatter_gather" -> (scatterGather _),
    "q_knn_stats"      -> (knnStats _),
    "q_batch_knn"      -> (batchKnnQuery _),
    "q_emb_variance"   -> (embVariance _))

  private val cosSql =
    """list_dot_product(e.embedding::DOUBLE[], q.q_emb::DOUBLE[]) /
      | (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
      |  sqrt(list_dot_product(q.q_emb::DOUBLE[], q.q_emb::DOUBLE[])))""".stripMargin

  private val scoredSql =
    s"""SELECT e.vec_id, e.label, e.vec_id % 3 AS hospital,
       | round($cosSql, 6) AS sim
       | FROM embeddings e,
       |  (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0) q
       | WHERE e.vec_id <> 0""".stripMargin

  override def oracleSql: Map[String, String] = Map(
    "q_knn_brute" ->
      s"""SELECT vec_id, sim FROM ($scoredSql)
         | ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin,
    "q_knn_per_shard" ->
      s"""SELECT hospital, rank, vec_id, sim FROM (
         |  SELECT *, row_number() OVER (PARTITION BY hospital ORDER BY sim DESC, vec_id) AS rank
         |  FROM ($scoredSql)) WHERE rank <= 5
         | ORDER BY hospital, rank""".stripMargin,
    "q_scatter_gather" ->
      s"""SELECT row_number() OVER (ORDER BY sim DESC, vec_id) AS rank, vec_id, hospital, sim
         | FROM (
         |  SELECT * FROM (
         |   SELECT *, row_number() OVER (PARTITION BY hospital ORDER BY sim DESC, vec_id) AS local_rank
         |   FROM ($scoredSql)) WHERE local_rank <= 10
         |  ORDER BY sim DESC, vec_id LIMIT 10)
         | ORDER BY rank""".stripMargin,
    "q_knn_stats" ->
      s"""SELECT count(*) AS total_hits,
         |  CAST(sum(CASE WHEN label % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS even_label_count,
         |  CAST(sum(CASE WHEN label % 2 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS odd_label_count,
         |  round(avg(sim), 6) AS avg_sim,
         |  round(min(sim), 6) AS min_sim,
         |  round(max(sim), 6) AS max_sim,
         |  count(DISTINCT hospital) AS hospitals_hit
         | FROM (SELECT * FROM ($scoredSql) ORDER BY sim DESC, vec_id LIMIT 50)""".stripMargin,
    "q_emb_variance" ->
      """SELECT round(var_samp(x), 6) AS emb_var, count(*) AS n_elems
        | FROM (SELECT unnest(embedding::DOUBLE[]) AS x FROM embeddings)""".stripMargin,
    "q_batch_knn" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5)
        | SELECT query_id, CAST(rank AS INT) AS rank, vec_id, sim FROM (
        |  SELECT q.query_id, e.vec_id,
        |   round(list_dot_product(e.embedding::DOUBLE[], q.qv::DOUBLE[]) /
        |    (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
        |     sqrt(list_dot_product(q.qv::DOUBLE[], q.qv::DOUBLE[]))), 6) AS sim,
        |   row_number() OVER (PARTITION BY q.query_id
        |     ORDER BY round(list_dot_product(e.embedding::DOUBLE[], q.qv::DOUBLE[]) /
        |      (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
        |       sqrt(list_dot_product(q.qv::DOUBLE[], q.qv::DOUBLE[]))), 6) DESC, e.vec_id) AS rank
        |  FROM embeddings e, q)
        | WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)
}
