package graft.search

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QueryPack, Staged}
import graft.schema.PatientSchema

/** Driver-contract surface for the reference-parity pipeline (generate →
  * normalize → federated-train → index → search → stats). The trained
  * embeddings have no closed-form SQL, but the whole pipeline is
  * bit-deterministic given the seeded init, so every query here carries a
  * golden-value oracle (see [[oracleSql]]); invariants are additionally
  * scalatest-verified in PatientSearchSpec.
  *
  * The corpus here is intentionally small (the driver runs these every
  * round); scale comes from the config, not the code — the same plan runs
  * the reference's 150k demo or 150B rows.
  */
object PatientPipeline extends QueryPack {

  private val configs = Seq(("Hospital_A", 300L), ("Hospital_B", 240L), ("Hospital_C", 360L))

  // one trained system per session, whatever the corpus dir (the corpus is
  // generated, not read; Verify and Bench each run several of these
  // queries, and training twice would double their runtime for no
  // information)
  private def system(s: SparkSession): (PatientSearch.Result, PatientSearch) =
    Staged(s, "", "patientPipeline.system") {
      val ps = new PatientSearch(s)
      ps.setupHospitals(configs)
      ps.runFederatedTraining(rounds = 1, localEpochs = 2)
      ps.generateAndStoreEmbeddings()
      (ps.searchSimilarPatients(PatientSchema.demoQueryPatient, topK = 5), ps)
    }

  /** Oracle-friendly projection of a hits frame: BIGINT/DOUBLE/STRING
    * only (driver-gate type contract), similarity rounded to 6 decimals
    * so the golden literal is ulp-robust, ordered by rank.
    */
  private def goldenHits(hits: DataFrame): DataFrame =
    hits.select(
      col("rank").cast("bigint").as("rank"),
      col("patient_id"),
      round(col("similarity"), 6).as("similarity"),
      col("hospital"),
      col("received_transplant").cast("bigint").as("received_transplant"),
      col("transplant_success").cast("bigint").as("transplant_success"),
      col("days_to_transplant"),
      col("transplant_date"),
      col("waitlist_status").cast("bigint").as("waitlist_status"))
      .orderBy(col("rank"))

  /** Round every double column to 6 decimals (golden-literal robustness),
    * leaving longs/strings as-is.
    */
  private def golden6(df: DataFrame): DataFrame =
    df.select(df.schema.fields.map { f =>
      if (f.dataType == org.apache.spark.sql.types.DoubleType)
        round(col(f.name), 6).as(f.name)
      else col(f.name)
    }.toIndexedSeq: _*)

  /** Top-k hits for the demo query patient (metadata struct dropped for a
    * stable flat parquet schema).
    */
  def searchHits(s: SparkSession, dir: String): DataFrame =
    goldenHits(system(s)._1.topSimilarPatients)

  /** A3 statistics block. */
  def stats(s: SparkSession, dir: String): DataFrame =
    golden6(system(s)._1.transplantStatistics)

  /** A6 clinical insights. */
  def insights(s: SparkSession, dir: String): DataFrame =
    golden6(system(s)._1.clinicalInsights)

  /** ALWAYS-COLD end-to-end pipeline: trains a deliberately tiny fresh
    * system on every call (no memo), so the bench always carries one
    * non-memoized generate→normalize→train→index→search number instead
    * of relying on a SCALE.md footnote staying current. Budgeted small
    * (110 patients, 1 round × 1 epoch ≈ 2-3 s); the memoized system
    * above measures steady-state serving, this one measures cold start.
    */
  def coldSearch(s: SparkSession, dir: String): DataFrame = {
    val ps = new PatientSearch(s)
    ps.setupHospitals(Seq(("Cold_A", 60L), ("Cold_B", 50L)))
    ps.runFederatedTraining(rounds = 1, localEpochs = 1)
    ps.generateAndStoreEmbeddings()
    goldenHits(ps.searchSimilarPatients(PatientSchema.demoQueryPatient, topK = 5)
      .topSimilarPatients)
  }

  /** Generator sanity summary (seeded column-expression generation).
    * Deterministic across cluster sizes because [[graft.gen.PatientGenerator]]
    * pins the range partitioning, so the oracle is a golden-value SELECT:
    * any drift in the seeded distributions (or a partitioning change that
    * would silently reshuffle every seeded draw) fails the hash gate.
    */
  def generatorSummary(s: SparkSession, dir: String): DataFrame =
    graft.gen.PatientGenerator.patients(s, 2000, "H_summary", 42)
      .groupBy(col("received_transplant").cast("bigint").as("received_transplant"))
      .agg(
        count(lit(1)).as("n"),
        round(avg(col("age")), 2).as("avg_age"),
        round(avg(col("meld_score")), 2).as("avg_meld"),
        round(avg(col("days_to_transplant")), 2).as("avg_days_to_transplant"),
        round(avg(col("days_on_waitlist")), 2).as("avg_days_on_waitlist"))
      .orderBy(col("received_transplant"))

  override def queries: Map[String, QueryPack.Q] = Map(
    "q_patient_search"   -> (searchHits _),
    "q_patient_stats"    -> (stats _),
    "q_patient_insights" -> (insights _),
    "q_patient_cold"     -> (coldSearch _),
    "q_patient_gen"      -> (generatorSummary _))

  /** EVERY patient query is golden-pinned. Search/stats/insights (and
    * the cold-path run) depend on trained float weights, but the whole
    * train→search pipeline is bit-deterministic given the seeded init:
    * probed bitwise-identical across repeated local[32] runs AND
    * local[4] (the pinned range partitioning makes the z-score/Adam
    * merge order deterministic). The goldens below are captured from
    * that pinned stream; trained-float outputs (similarity, derived
    * rates/means) are rounded to 6 decimals engine-side so the literal
    * comparison is ulp-robust, while generated per-patient fields stay
    * full precision (shortest-repr doubles round-trip exactly through
    * DuckDB's parser). The GENERATOR summary was already golden-pinned
    * the same way (2-decimal rounding). The insights' clinical means are
    * the raw generated values of the search's golden hits, which
    * `PatientPipelineSpec` recomputes from the generator's rows.
    */
  override def oracleSql: Map[String, String] = Map(
    "q_patient_search" ->
      """SELECT * FROM (VALUES
        |  (CAST(1 AS BIGINT), 'PT_000110', CAST(0.678542 AS DOUBLE), 'Hospital_B',
        |   CAST(1 AS BIGINT), CAST(1 AS BIGINT), CAST(4.779313338784229 AS DOUBLE), '2022-07-18', CAST(0 AS BIGINT)),
        |  (2, 'PT_000116', 0.632037, 'Hospital_B', 0, 0, 0.0, 'N/A', 1),
        |  (3, 'PT_000180', 0.625349, 'Hospital_B', 0, 0, 0.0, 'N/A', 1),
        |  (4, 'PT_000007', 0.608923, 'Hospital_C', 0, 0, 0.0, 'N/A', 0),
        |  (5, 'PT_000048', 0.605538, 'Hospital_A', 0, 0, 0.0, 'N/A', 1)
        |) AS t(rank, patient_id, similarity, hospital, received_transplant,
        |       transplant_success, days_to_transplant, transplant_date, waitlist_status)
        |ORDER BY rank""".stripMargin,
    "q_patient_stats" ->
      """SELECT CAST(5 AS BIGINT) AS total_similar_patients,
        |  CAST(1 AS BIGINT) AS transplanted_count,
        |  CAST(4 AS BIGINT) AS not_transplanted_count,
        |  CAST(0.2 AS DOUBLE) AS transplant_rate,
        |  CAST(1 AS BIGINT) AS successful_transplants,
        |  CAST(1.0 AS DOUBLE) AS transplant_success_rate,
        |  CAST(4.779313 AS DOUBLE) AS average_wait_time_days,
        |  CAST(0.157008 AS DOUBLE) AS average_wait_time_months,
        |  CAST(1 AS BIGINT) AS still_on_waitlist,
        |  CAST(3 AS BIGINT) AS removed_too_sick,
        |  CAST(0 AS BIGINT) AS removed_improved,
        |  CAST(0 AS BIGINT) AS deceased_on_waitlist""".stripMargin,
    "q_patient_insights" ->
      """SELECT CAST(4.779313 AS DOUBLE) AS avg_wait_transplanted_days,
        |  CAST(0.157008 AS DOUBLE) AS avg_wait_transplanted_months,
        |  CAST(63.394235 AS DOUBLE) AS avg_age_success,
        |  CAST(6.0 AS DOUBLE) AS avg_meld_success,
        |  CAST(0.0 AS DOUBLE) AS diabetes_rate_success,
        |  CAST(149.470504 AS DOUBLE) AS avg_wait_not_transplanted_days,
        |  CAST(1 AS BIGINT) AS still_waiting""".stripMargin,
    "q_patient_cold" ->
      """SELECT * FROM (VALUES
        |  (CAST(1 AS BIGINT), 'PT_000041', CAST(0.822208 AS DOUBLE), 'Cold_B',
        |   CAST(1 AS BIGINT), CAST(0 AS BIGINT), CAST(85.95218826086206 AS DOUBLE), '2021-12-11', CAST(0 AS BIGINT)),
        |  (2, 'PT_000014', 0.811834, 'Cold_A', 1, 1, 79.05251207530173, '2024-09-30', 0),
        |  (3, 'PT_000037', 0.805875, 'Cold_B', 0, 0, 0.0, 'N/A', 1),
        |  (4, 'PT_000028', 0.786216, 'Cold_B', 0, 0, 0.0, 'N/A', 1),
        |  (5, 'PT_000026', 0.78499, 'Cold_B', 0, 0, 0.0, 'N/A', 0)
        |) AS t(rank, patient_id, similarity, hospital, received_transplant,
        |       transplant_success, days_to_transplant, transplant_date, waitlist_status)
        |ORDER BY rank""".stripMargin,
    "q_patient_gen" ->
      """SELECT CAST(0 AS BIGINT) AS received_transplant, CAST(1246 AS BIGINT) AS n,
        |  CAST(54.35 AS DOUBLE) AS avg_age, CAST(13.02 AS DOUBLE) AS avg_meld,
        |  CAST(0.0 AS DOUBLE) AS avg_days_to_transplant,
        |  CAST(204.32 AS DOUBLE) AS avg_days_on_waitlist
        |UNION ALL
        |SELECT 1, 754, 54.72, 18.87, 121.01, 0.0
        |ORDER BY received_transplant""".stripMargin)
}
