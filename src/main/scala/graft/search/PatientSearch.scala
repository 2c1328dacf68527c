package graft.search

import org.apache.spark.sql.{DataFrame, GraftPlanBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, Coalesce, DateFormatClass, Literal}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.JobLabel
import graft.feat.Normalization
import graft.functions.CosineSimilarityExpr
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
  * (P3) → driver-side MLP forward (O(1)) → one Spark job over the index
  * RDD planned at build/load time: per partition, a cosine score per row
  * into a k-bounded heap → a k × partitions merge on the driver → the
  * ranked hits, and the statistics and insights rows folded over them.
  */
class PatientSearch(spark: SparkSession) {

  private var patients: Option[DataFrame] = None
  private var weights: Mlp.Weights = Mlp.init()
  private var index: Option[PlannedIndex] = None
  // per-shard row counts, computed ONCE at index build/load — the search
  // path must not rescan the corpus for bookkeeping (at warehouse scale
  // that is two extra full scans per query)
  private var shardSizes: Option[Map[String, Long]] = None

  /** Trained-model / index accessors (for tests and reuse). */
  def globalWeights: Mlp.Weights = weights
  def patientTable: Option[DataFrame] = patients
  def vectorIndex: Option[DataFrame] = index.map(_.frame)

  // the count fills the index cache; in generateAndStoreEmbeddings that
  // is part of the embed phase, whose label wins
  private def computeShardSizes(idx: DataFrame): Map[String, Long] =
    JobLabel.ifUnset(spark, "setup:cache-fill") {
      idx.groupBy(col("hospital")).count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }

  /** Makes `idx`, cached by [[PatientIndex.cache]] and not yet filled,
    * the searched index: its shard sizes are counted (the job that fills
    * the cache and cuts its lineage) and its scan planned once, here. */
  private def useIndex(idx: DataFrame): DataFrame = {
    shardSizes = Some(computeShardSizes(idx))
    index = Some(new PlannedIndex(idx))
    idx
  }

  /** setup_hospitals (similarity_search.py:419-434): generate shards,
    * z-score per hospital (the reference normalizes each client against
    * its own stats, similarity_search.py:180+198), assemble feature
    * arrays. Returns the cached patient table, already filled: the
    * generated columns keep their raw clinical values (the index's
    * metadata and the insights read them), and only the `features` array
    * holds z-scores.
    *
    * Layout rule: generation stays pinned at
    * [[PatientGenerator.genPartitions]] ranges per hospital (the seeded
    * `rand`/`randn` streams are per partition), but everything after it
    * runs one task per core (`defaultParallelism`). A task's fixed
    * overhead (~9 ms) dwarfs its per-row work, so the generator pass, the
    * z-score stats, the embed pass, the cached index and every search
    * scan run one task per core instead of one per generator range. The
    * coalesce is narrow: each merged task reads its parent ranges in
    * index order, and `rand`/`randn` see the same partition indices, so
    * the rows and their order (which `Mlp.localFit` slices into
    * minibatches) are bit-identical to the uncoalesced table.
    *
    * Generate once: the generator runs in one job (`setup:generate`),
    * which materializes its coalesced output with each row's source range
    * (`spark_partition_id()` over the generated ranges) in a cache that
    * this call releases before it returns. The z-score stats are one fold
    * over that cache (`setup:zscore-stats`,
    * [[Normalization.featuresBySourceRange]]): a partial per (hospital,
    * range) with Spark's `avg`/`stddev_pop` update formulas, merged in
    * range order on the driver — the bits of Spark's two-phase aggregate
    * over the uncoalesced frame, without its 64 tasks per hospital. The
    * feature array is then computed over the same cache
    * and the patient table cached (`setup:cache-fill`).
    *
    * Plan rule: the table is cached over a one-leaf logical plan
    * ([[org.apache.spark.sql.GraftPlanBridge.oneLeaf]]), not over the
    * generator's lineage (a few projections per hospital that cannot
    * collapse around `rand`/`randn`, times the hospitals, plus the
    * z-score join). The index and every search frame derive from this
    * table, so their plans stay small: Spark re-analyzes a frame's plan
    * when it is built and prints it for every SQL execution and AQE
    * stage update, which used to cost a search more driver time than its
    * scoring.
    */
  def setupHospitals(configs: Seq[(String, Long)], seed: Long = 42L): DataFrame = {
    val generated = JobLabel(spark, "setup:generate") {
      val g = PatientGenerator.setupHospitals(spark, configs, seed)
        .withColumn(PatientSearch.SourceRange, spark_partition_id())
        .coalesce(spark.sparkContext.defaultParallelism)
        .cache()
      fill(g)
    }
    val assembled = JobLabel(spark, "setup:zscore-stats") {
      Normalization.featuresBySourceRange(generated, PatientSearch.SourceRange, "hospital")
    }
    val withFeatures = JobLabel(spark, "setup:cache-fill") {
      fill(GraftPlanBridge.oneLeaf(assembled).cache())
    }
    generated.unpersist(blocking = true)
    patients = Some(withFeatures)
    withFeatures
  }

  /** Fills `cached`'s cache in one job (a count would add an aggregate's
    * two). */
  private def fill(cached: DataFrame): DataFrame = {
    cached.write.format("noop").mode("overwrite").save()
    cached
  }

  /** run_federated_training (similarity_search.py:436-474). */
  def runFederatedTraining(rounds: Int = 3, localEpochs: Int = 5): Seq[Double] = {
    val df = patients.getOrElse(sys.error("setupHospitals first"))
    val (trained, losses) = FederatedTrainer.train(df, rounds, localEpochs)
    weights = trained
    losses
  }

  /** generate_and_store_embeddings (similarity_search.py:495-539). Runs
    * the embed pass (filling the index cache) and plans the index scan
    * every search runs. */
  def generateAndStoreEmbeddings(): DataFrame = JobLabel(spark, "index:embed") {
    val df = patients.getOrElse(sys.error("setupHospitals first"))
    useIndex(PatientIndex.build(FederatedTrainer.withEmbeddings(df, weights)))
  }

  /** Persist the built index shard-partitioned (the durable form of the
    * reference's in-memory store — reads prune to one hospital's
    * directories; see [[graft.sources.TableIO]]).
    */
  def persistIndex(path: String): Unit =
    graft.sources.TableIO.writeIndex(
      vectorIndex.getOrElse(sys.error("generateAndStoreEmbeddings first")), path)

  /** Reload a persisted index into this facade (cold-start serving). */
  def loadIndex(path: String): DataFrame =
    useIndex(PatientIndex.cache(graft.sources.TableIO.readIndex(spark, path)))

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
    * Shard sizes were counted and the index scan planned at build/load
    * time: this call runs no job, and the first action on the result runs
    * the search's one job.
    */
  def secureSimilaritySearch(qEmbedding: Array[Float], topK: Int = 10): PatientSearch.Result = {
    val idx = index.getOrElse(sys.error("generateAndStoreEmbeddings first"))
    PatientSearch.search(idx, shardSizes.get, qEmbedding, topK)
  }
}

object PatientSearch {
  /** The generated rows' source-range column during set-up. */
  private val SourceRange = "__source_range"

  /** Search result shape (similarity_search.py:359-363). */
  case class Result(topSimilarPatients: DataFrame, totalSearched: Long,
                    transplantStatistics: DataFrame, clinicalInsights: DataFrame)

  /** Compat alias parity: `HospitalVectorDB = HospitalVectorStorage`
    * (similarity_search.py:316) — here the "storage" IS the index
    * DataFrame.
    */
  type HospitalVectorDB = DataFrame

  /** The top-k search over an index whose hospitals hold `shardSizes`
    * rows: the hits, statistics and insights frames of one [[TopKJob]].
    * Building them runs no job; the first action on any of them runs the
    * search's one job over the planned index, and every frame reads its
    * kept result.
    *
    * The job's task binary is the scan of the index cache alone: the
    * cache's lineage was cut when it was filled ([[PatientIndex.cache]]),
    * so a search over a released cache fails at once
    * ([[PlannedIndex.rdd]]). The job scores each row against the query
    * with a [[graft.functions.CosineSimilarityExpr.Scorer]]: ‖q‖² is
    * summed once per search, and per row only the dot product and ‖e‖²,
    * reading the row's floats in place — the bits of
    * [[graft.functions.CosineSimilarityExpr]]'s per-pair loop. Each
    * partition keeps a k-bounded heap in the order (similarity desc,
    * `patient_id`, `hospital`), comparing as Spark's sort does (NULL
    * similarity last, NaN above every number, -0.0 = 0.0). The driver
    * merges the heaps. That is exact without a per-hospital pass: the
    * global order restricted to one hospital is that hospital's local
    * order, so every global winner is among its hospital's local top-k,
    * and only local winners leave a shard, as in the reference.
    * `patient_id` restarts at PT_000000 in every hospital, so hospital
    * is the last key of the total order.
    *
    * The statistics and insights rows are folded over the hits in rank
    * order ([[TransplantStats]]). `totalSearched` is the reference's
    * candidate-pool size, `len(all_results)` (similarity_search.py:361):
    * each shard contributes min(k, |shard|) local winners.
    */
  private[search] def search(idx: PlannedIndex, shardSizes: Map[String, Long],
                             qEmbedding: Array[Float], topK: Int): Result = {
    val Seq(hits, stats, insights) = new Search(idx, qEmbedding, topK).frames
    Result(hits, shardSizes.valuesIterator.map(math.min(_, topK.toLong)).sum, stats, insights)
  }

  private final class Search(idx: PlannedIndex, q: Array[Float], k: Int)
      extends TopKJob(idx.frame.sparkSession, "search:cosine-topk") {
    private val in = idx.frame.schema
    private val emb = in.fieldIndex("embedding")
    private val order = new HitOrder(in.fieldIndex("patient_id"), in.fieldIndex("hospital"))

    /** The hits: rank, similarity and the index's columns, with the
      * transplant date in the reference's text form. */
    private val hitsSchema = StructType(Seq(
      StructField("rank", IntegerType, nullable = false), in("patient_id"),
      StructField("similarity", DoubleType, in("embedding").nullable),
      in("hospital"), in("received_transplant"), in("transplant_success"),
      in("days_to_transplant"),
      StructField("transplant_date", StringType, nullable = false),
      in("waitlist_status"), in("metadata")))

    /** `coalesce(date_format(transplant_date, 'yyyy-MM-dd'), 'N/A')`:
      * the presentation form of the reference's 'N/A' sentinel (§1.2). */
    private val dateText = {
      val tz = Some(idx.frame.sparkSession.conf.get("spark.sql.session.timeZone"))
      val date = in("transplant_date")
      Coalesce(Seq(
        DateFormatClass(Cast(BoundReference(in.fieldIndex("transplant_date"), date.dataType,
          date.nullable), TimestampType, tz), Literal("yyyy-MM-dd"), tz),
        Literal("N/A")))
    }

    def schemas: Seq[StructType] =
      Seq(hitsSchema, TransplantStats.statisticsSchema, TransplantStats.insightsSchema)

    protected def run(): Seq[Seq[InternalRow]] = {
      // locals: the task closure must not capture this job
      val (scorer, k, emb, order) =
        (new CosineSimilarityExpr.Scorer(q), this.k, this.emb, this.order)
      val rdd = idx.rdd
      val heaps = rdd.sparkContext.runJob(rdd,
        (rows: Iterator[InternalRow]) => topK(rows, scorer, k, emb, order))
      val hits = heaps.flatten.sorted(order).take(k).toSeq.zipWithIndex.map {
        case (h, i) =>
          val values = hitsSchema.fieldNames.map {
            case "rank" => i + 1
            case "similarity" => if (h.simNull) null else h.sim
            case "transplant_date" => dateText.eval(h.row)
            case c => h.row.get(in.fieldIndex(c), in(c).dataType)
          }
          InternalRow.fromSeq(values.toSeq): InternalRow
      }
      val folded = TransplantStats.hits(hits, hitsSchema)
      Seq(hits, Seq(TransplantStats.statistics(folded)), Seq(TransplantStats.insights(folded)))
    }

    override def toString: String = s"top-$k cosine, 1 query"
  }

  /** An index row and its similarity (`simNull` when the embedding is
    * NULL). */
  private final class Scored(val sim: Double, val simNull: Boolean, val row: InternalRow)
      extends Serializable

  /** The hit order: similarity desc (NULL last), then `patient_id`, then
    * `hospital` (NULL first), as Spark's `SortOrder`s compare. */
  private final class HitOrder(pid: Int, hospital: Int) extends Ordering[Scored] {
    def compare(a: Scored, b: Scored): Int = compare(a.sim, a.simNull, a.row, b)

    def compare(sim: Double, simNull: Boolean, row: InternalRow, b: Scored): Int = {
      val bySim =
        if (simNull || b.simNull) java.lang.Boolean.compare(simNull, b.simNull)
        else SQLOrderingUtil.compareDoubles(b.sim, sim)
      if (bySim != 0) bySim
      else {
        val byId = text(row, b.row, pid)
        if (byId != 0) byId else text(row, b.row, hospital)
      }
    }

    private def text(x: InternalRow, y: InternalRow, i: Int): Int =
      if (x.isNullAt(i) || y.isNullAt(i)) java.lang.Boolean.compare(!x.isNullAt(i), !y.isNullAt(i))
      else x.getUTF8String(i).binaryCompare(y.getUTF8String(i))
  }

  /** One partition's k best rows in `order` (unsorted). */
  private def topK(rows: Iterator[InternalRow], scorer: CosineSimilarityExpr.Scorer, k: Int,
                   emb: Int, order: HitOrder): Array[Scored] = {
    val heap = new java.util.PriorityQueue[Scored](math.max(k, 1), order.reverse)
    rows.foreach { r =>
      val simNull = r.isNullAt(emb)
      val sim = if (simNull) 0.0 else scorer.score(r.getArray(emb))
      if (heap.size < k) heap.add(new Scored(sim, simNull, r.copy()))
      else if (k > 0 && order.compare(sim, simNull, r, heap.peek()) < 0) {
        heap.poll()
        heap.add(new Scored(sim, simNull, r.copy()))
      }
    }
    heap.toArray(new Array[Scored](0))
  }
}
