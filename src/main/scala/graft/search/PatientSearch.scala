package graft.search

import org.apache.spark.sql.{DataFrame, GraftPlanBridge, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.feat.Normalization
import graft.gen.PatientGenerator
import graft.model.{FederatedTrainer, Mlp}
import graft.schema.PatientSchema
import graft.stats.TransplantStats
import graft.store.PatientIndex

/** The orchestration facade — capability parity with
  * `PrivacyPreservingPatientSearch` (similarity_search.py:410-578):
  * setup → federated training → index build → scatter-gather top-k search
  * with transplant statistics.
  *
  * Lifecycle E1 (SURVEY.md §3): query dict → per-row-normalized 20-vector
  * (P3) → driver-side MLP forward (O(1)) → literal array broadcast into a
  * per-row cosine expression → TakeOrderedAndProject global top-k (a
  * k-bounded heap per partition, one k × partitions merge) → rank window
  * over ≤ k rows → one conditional-agg stats pass.
  */
class PatientSearch(spark: SparkSession) {

  private var patients: Option[DataFrame] = None
  private var weights: Mlp.Weights = Mlp.init()
  private var index: Option[DataFrame] = None
  // per-shard row counts, computed ONCE at index build/load — the search
  // path must not rescan the corpus for bookkeeping (at warehouse scale
  // that is two extra full scans per query)
  private var shardSizes: Option[Map[String, Long]] = None

  /** Trained-model / index accessors (for tests and reuse). */
  def globalWeights: Mlp.Weights = weights
  def patientTable: Option[DataFrame] = patients
  def vectorIndex: Option[DataFrame] = index

  private def computeShardSizes(idx: DataFrame): Map[String, Long] =
    idx.groupBy(col("hospital")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  /** setup_hospitals (similarity_search.py:419-434): generate shards,
    * z-score per hospital (the reference normalizes each client against
    * its own stats, similarity_search.py:180+198), assemble feature
    * arrays.
    *
    * Layout rule: generation stays pinned at
    * [[PatientGenerator.genPartitions]] ranges per hospital (the seeded
    * `rand`/`randn` streams are per partition), but the cached table holds
    * one partition per core (`defaultParallelism`). A task's fixed
    * overhead (~9 ms) dwarfs its per-row work, so the embed pass, the
    * cached index and every search scan run one task per core instead of
    * one per generator range. The coalesce is narrow: each merged task
    * reads its parent ranges in index order, so the rows, their order
    * (which `Mlp.localFit` slices into minibatches) and the z-score stats
    * are bit-identical to the uncoalesced table.
    *
    * Plan rule: the table is cached over a one-leaf logical plan
    * ([[org.apache.spark.sql.GraftPlanBridge.oneLeaf]]), not over the
    * generator's lineage (29 `withColumn`s per hospital that cannot
    * collapse around `rand`/`randn`, times the hospitals, plus the
    * z-score join). The index and every search frame derive from this
    * table, so their plans stay small: Spark re-analyzes a frame's plan
    * when it is built and prints it for every SQL execution and AQE
    * stage update, which used to cost a search more driver time than its
    * scoring. Planning the one-leaf frame runs the z-score stats stage
    * (AQE plans the join from its result) here, during set-up, instead
    * of when the cache first fills; it is the same work, done earlier.
    */
  def setupHospitals(configs: Seq[(String, Long)], seed: Long = 42L): DataFrame = {
    val raw = PatientGenerator.setupHospitals(spark, configs, seed)
    val normalized = Normalization.zscore(raw, perGroup = Some("hospital"))
    val withFeatures = GraftPlanBridge.oneLeaf(
      Normalization.assembleFeatures(normalized)
        // keep raw outcome columns for metadata (z-scored features live in the array)
        .coalesce(spark.sparkContext.defaultParallelism))
      .cache()
    patients = Some(withFeatures)
    withFeatures
  }

  /** run_federated_training (similarity_search.py:436-474). */
  def runFederatedTraining(rounds: Int = 3, localEpochs: Int = 5): Seq[Double] = {
    val df = patients.getOrElse(sys.error("setupHospitals first"))
    val (trained, losses) = FederatedTrainer.train(df, rounds, localEpochs)
    weights = trained
    losses
  }

  /** generate_and_store_embeddings (similarity_search.py:495-539). */
  def generateAndStoreEmbeddings(): DataFrame = {
    val df = patients.getOrElse(sys.error("setupHospitals first"))
    val built = PatientIndex.build(FederatedTrainer.withEmbeddings(df, weights))
    index = Some(built)
    shardSizes = Some(computeShardSizes(built))
    built
  }

  /** Persist the built index shard-partitioned (the durable form of the
    * reference's in-memory store — reads prune to one hospital's
    * directories; see [[graft.sources.TableIO]]).
    */
  def persistIndex(path: String): Unit =
    graft.sources.TableIO.writeIndex(
      index.getOrElse(sys.error("generateAndStoreEmbeddings first")), path)

  /** Reload a persisted index into this facade (cold-start serving). */
  def loadIndex(path: String): DataFrame = {
    val loaded = graft.sources.TableIO.readIndex(spark, path).cache()
    index = Some(loaded)
    shardSizes = Some(computeShardSizes(loaded))
    loaded
  }

  /** search_similar_patients (similarity_search.py:541-559 → 322-363).
    * Returns (hits with rank/similarity/promoted outcome fields + metadata,
    * statistics block, total_searched = the gathered candidate-pool size
    * `len(all_results)` = Σ_shards min(k, |shard|) — the reference reports
    * the pool size, not the corpus size, similarity_search.py:361).
    */
  def searchSimilarPatients(query: Map[String, Double], topK: Int = 10): PatientSearch.Result = {
    val qFeatures = Normalization.prepareQueryFeatures(query)
    secureSimilaritySearch(Mlp.forward(weights, qFeatures), topK)
  }

  /** §2.12 parity: `SecureMultiPartyComputation.secure_similarity_search`
    * (similarity_search.py:322-363) — scatter-gather over the shard
    * boundary from a raw query embedding; see [[PatientSearch.search]].
    */
  def secureSimilaritySearch(qEmbedding: Array[Float], topK: Int = 10): PatientSearch.Result = {
    val idx = index.getOrElse(sys.error("generateAndStoreEmbeddings first"))
    // Shard sizes were computed once at index build/load — NO corpus
    // scan happens on the search path.
    val sizes = shardSizes.getOrElse {
      val s = computeShardSizes(idx); shardSizes = Some(s); s
    }
    PatientSearch.search(idx, sizes, qEmbedding, topK)
  }
}

object PatientSearch {
  /** Search result shape (similarity_search.py:359-363). */
  case class Result(topSimilarPatients: DataFrame, totalSearched: Long,
                    transplantStatistics: DataFrame, clinicalInsights: DataFrame)

  /** Compat alias parity: `HospitalVectorDB = HospitalVectorStorage`
    * (similarity_search.py:316) — here the "storage" IS the index
    * DataFrame.
    */
  type HospitalVectorDB = DataFrame

  /** The top-k search over an index whose hospitals hold `shardSizes`
    * rows. The global top-k is one `orderBy(similarity desc, patient_id,
    * hospital).limit(k)`, which plans as TakeOrderedAndProject: each
    * partition keeps a k-bounded heap and one task merges the
    * k × partitions survivors. That is exact without a per-hospital
    * pass: the global order restricted to one hospital is that
    * hospital's local order, so every global winner is among its
    * hospital's local top-k, and each partition's survivors are local
    * winners of their own hospitals — only local winners leave a shard,
    * as in the reference. `patient_id` restarts at PT_000000 in every
    * hospital, so hospital is the last key of the total order.
    *
    * The hits are one partition in rank order (the rank window runs on
    * ≤ k rows), so the stats and insights averages sum in rank order.
    * `totalSearched` is the reference's candidate-pool size,
    * `len(all_results)` (similarity_search.py:361): each shard
    * contributes min(k, |shard|) local winners.
    */
  private[search] def search(idx: DataFrame, shardSizes: Map[String, Long],
                             qEmbedding: Array[Float], topK: Int): Result = {
    val sim = graft.functions.VectorFunctions
      .cosineSimilarity(col("embedding"), typedlit(qEmbedding.toSeq))
    val globalOrder = Seq(col("similarity").desc, col("patient_id"), col("hospital"))
    val hits = idx
      .withColumn("similarity", sim)
      .orderBy(globalOrder: _*)
      .limit(topK)
      .withColumn("rank", row_number().over(Window.orderBy(globalOrder: _*)))
      .select(col("rank"), col("patient_id"), col("similarity"),
        col("hospital"), col("received_transplant"), col("transplant_success"),
        col("days_to_transplant"),
        // presentation form of the reference's 'N/A' sentinel (§1.2)
        coalesce(date_format(col("transplant_date"), "yyyy-MM-dd"), lit("N/A"))
          .as("transplant_date"),
        col("waitlist_status"), col("metadata"))
      .cache()
    Result(
      topSimilarPatients = hits,
      totalSearched = shardSizes.valuesIterator.map(math.min(_, topK.toLong)).sum,
      transplantStatistics = TransplantStats.statisticsBlock(hits),
      clinicalInsights = TransplantStats.clinicalInsights(hits))
  }
}
