package graft.gen

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded synthetic patient generation as pure column expressions over
  * `spark.range` — S1 feature generation (similarity_search.py:53-90) and
  * S2 outcome derivation (similarity_search.py:92-166), fully distributed
  * (no driver-side loop; generating 150k or 150B rows is the same plan).
  *
  * Distribution mapping (numpy → Spark SQL):
  *  - normal(μ,σ)      → `randn(seed)*σ + μ`
  *  - exponential(m)   → inverse CDF `-m * log(1 - rand(seed))`
  *  - binomial(1,p)    → `(rand(seed) < p).cast(int)`
  *  - choice(p=[...])  → stacked `when(u < cum_p, k)`
  *  - clip(lo,hi)      → `least(greatest(x, lo), hi)`
  *
  * Seed streams are per-column (seed + column index) so columns are
  * independent, matching numpy's sequential draws in spirit; exact numpy
  * bit-parity is impossible and not a goal (SURVEY.md §7 risk register) —
  * outputs are golden-tested against our own distributions instead.
  *
  * Determinism note: the reference uses wall-clock `datetime.now()` for
  * transplant dates (similarity_search.py:134) making its own output
  * irreproducible; we pin a fixed epoch instead.
  */
object PatientGenerator {

  private def clip(c: Column, lo: Double, hi: Double): Column =
    least(greatest(c, lit(lo)), lit(hi))

  private def normal(mu: Double, sigma: Double, seed: Long): Column =
    randn(seed) * sigma + mu

  private def exponential(mean: Double, seed: Long): Column =
    -lit(mean) * log(lit(1.0) - rand(seed))

  private def binomial(p: Double, seed: Long): Column =
    (rand(seed) < p).cast("int")

  /** Fixed "now" (reference uses wall-clock; we pin for determinism). */
  val epoch: String = "2026-01-01"

  /** `rand(seed)`/`randn(seed)` draw a per-PARTITION stream, so the same
    * seed over a differently-split range yields different values. Pinning
    * the partition count makes generation bit-deterministic across
    * cluster sizes (local[4] ≡ local[32] ≡ 1000 executors) — required for
    * the golden-value oracle on `q_patient_gen`. 64 partitions still
    * parallelizes a 150B-row generate; raise deliberately if a single
    * partition's range outgrows a task.
    *
    * This pins GENERATION only, not the tasks that run it. A narrow
    * coalesce hands each task several whole ranges, each evaluated with
    * its own partition index, so the values and their order stay
    * bit-identical: [[graft.search.PatientSearch.setupHospitals]] runs
    * the generator once at one task per core (at ~9 ms of fixed overhead
    * per task, 64 ranges per hospital would be a tail of near-empty
    * tasks) and tags each row with its range, which is all the per-range
    * z-score stats need ([[graft.feat.Normalization.featuresBySourceRange]]).
    */
  val genPartitions = 64

  /** S1+S2: n patients for one hospital. Seed shifts per column; pass a
    * different base seed per hospital for distinct populations.
    *
    * Three projections: the features, then `received_transplant` (drawn
    * against the features), then the outcomes that depend on it. A column
    * built from `rand`/`randn` is nondeterministic, so a projection that
    * reads it cannot merge with the one that draws it; one projection per
    * step (not one `withColumn` per column) keeps the plan, its analysis
    * and its generated code small. Each draw keeps its own seed and its
    * place in its `when` branch, so it sees the stream it always saw.
    */
  def patients(spark: SparkSession, n: Long, hospital: String, seed: Long): DataFrame = {
    // S1 — features (similarity_search.py:59-80)
    val features = spark.range(0, n, 1, genPartitions).select(
      clip(normal(55, 15, seed + 1), 18, 80).as("age"),
      clip(exponential(15, seed + 2), 6, 40).as("meld_score"),
      clip(normal(27, 5, seed + 3), 18, 45).as("bmi"),
      clip(exponential(1.2, seed + 4), 0.5, 8).as("creatinine"),
      clip(exponential(5, seed + 5), 0.3, 50).as("bilirubin"),
      clip(exponential(1.8, seed + 6), 0.8, 6).as("inr"),
      clip(normal(138, 5, seed + 7), 125, 150).as("sodium"),
      clip(normal(3.2, 0.8, seed + 8), 1.5, 5).as("albumin"),
      binomial(0.15, seed + 9).as("dialysis"),
      binomial(0.40, seed + 10).as("ascites"),
      binomial(0.25, seed + 11).as("encephalopathy"),
      binomial(0.30, seed + 12).as("diabetes"),
      binomial(0.45, seed + 13).as("hypertension"),
      binomial(0.30, seed + 14).as("etiology_alcohol"),
      binomial(0.25, seed + 15).as("etiology_nash"),
      binomial(0.20, seed + 16).as("etiology_hcv"),
      binomial(0.25, seed + 17).as("etiology_other"),
      binomial(0.45, seed + 18).as("blood_type_o"),
      binomial(0.40, seed + 19).as("blood_type_a"),
      binomial(0.15, seed + 20).as("blood_type_b"),
      format_string("PT_%06d", col("id")).as("patient_id"))

    // S2 — outcomes (similarity_search.py:92-166)
    val meldFactor = (col("meld_score") - 6) / (40 - 6)
    val ageFactor = lit(1) - ((col("age") - 18) / (80 - 18)) * 0.3
    val transplantProb = clip(
      lit(0.25) + meldFactor * 0.4 + ageFactor * 0.1
        - col("dialysis") * 0.2 - col("diabetes") * 0.1, 0.05, 0.8)

    val successProb = clip(
      lit(0.85) - (col("age") - 50) / 100 - (col("meld_score") - 15) / 100
        - (col("diabetes") + col("dialysis")) * 0.05, 0.3, 0.95)

    val transplanted = col("received_transplant") === 1
    val u = rand(seed + 23) // waitlist status draw, p = [.6,.2,.1,.1]
    features
      .select(col("*"), (rand(seed + 21) < transplantProb).cast("int").as("received_transplant"))
      .select(col("*"),
        when(transplanted, clip(exponential(120, seed + 22), 1, 1000)).otherwise(0.0)
          .as("days_to_transplant"),
        when(transplanted, (rand(seed + 24) < successProb).cast("int")).otherwise(0)
          .as("transplant_success"),
        when(transplanted,
          date_add(to_date(lit(epoch)) - expr("INTERVAL 5 YEARS"),
            (rand(seed + 25) * (5 * 365)).cast("int")))
          .otherwise(lit(null).cast("date")).as("transplant_date"),
        when(transplanted, clip(exponential(400, seed + 26), 30, 1800)).otherwise(0.0)
          .as("follow_up_days"),
        when(col("received_transplant") === 0, clip(exponential(200, seed + 27), 1, 2000))
          .otherwise(0.0).as("days_on_waitlist"),
        when(transplanted, 0)
          .when(u < 0.6, 0).when(u < 0.8, 1).when(u < 0.9, 2).otherwise(3).as("waitlist_status"),
        lit(hospital).as("hospital"))
  }

  /** `setup_hospitals` (similarity_search.py:419-434): one DataFrame for
    * all hospitals, shard = `hospital` column. Each hospital draws from a
    * distinct seed stream. (The reference re-seeds numpy with 42 per
    * hospital, so its hospitals are overlapping prefixes of the SAME
    * population — a quirk we deliberately do not reproduce; distinct
    * populations are strictly more useful and SURVEY.md §7 scopes RNG to
    * our own streams.)
    */
  def setupHospitals(spark: SparkSession, configs: Seq[(String, Long)], seed: Long = 42L): DataFrame =
    configs.zipWithIndex.map { case ((hospital, n), i) =>
      patients(spark, n, hospital, seed + i * 1000L)
    }.reduce(_ unionByName _)
}
