package graft.store

import org.apache.spark.sql.{DataFrame, GraftPlanBridge}
import org.apache.spark.sql.functions._

/** S3/P4 — the "vector store": one DataFrame of
  * (patient_id, hospital, embedding[128], metadata struct), cached.
  *
  * The reference's per-hospital dict + dense-matrix rebuild
  * (similarity_search.py:263-292) collapses to a cached columnar
  * DataFrame: the shard boundary is the `hospital` column, id↔metadata
  * alignment is simply row-wise column co-location (no join needed —
  * SURVEY.md §2.3), and "rebuild matrix" is `.cache()`.
  */
object PatientIndex {

  /** Conditional zeroing exactly as the reference builds metadata
    * (similarity_search.py:519-524): transplant fields zeroed for
    * non-transplanted rows, waitlist fields zeroed for transplanted rows.
    */
  def metadataStruct: org.apache.spark.sql.Column = {
    val received = col("received_transplant") === 1
    struct(
      col("age").as("age"),
      col("meld_score").as("meld_score"),
      col("bmi").as("bmi"),
      col("hospital").as("hospital"),
      current_timestamp().as("timestamp"),
      received.as("received_transplant"),
      when(received, col("transplant_success") === 1).otherwise(lit(false))
        .as("transplant_success"),
      when(received, col("days_to_transplant")).otherwise(lit(0.0))
        .as("days_to_transplant"),
      col("transplant_date").as("transplant_date"),
      when(received, col("follow_up_days")).otherwise(lit(0.0))
        .as("follow_up_days"),
      when(!received, col("days_on_waitlist")).otherwise(lit(0.0))
        .as("days_on_waitlist"),
      when(!received, col("waitlist_status")).otherwise(lit(0))
        .cast("int").as("waitlist_status"),
      col("creatinine").as("creatinine"),
      col("bilirubin").as("bilirubin"),
      (col("dialysis") === 1).as("dialysis"),
      (col("diabetes") === 1).as("diabetes"))
  }

  /** Build + cache the index from an embedded patient DataFrame
    * (generateAndStoreEmbeddings' storage half,
    * similarity_search.py:509-537), cached by [[cache]].
    */
  def build(embedded: DataFrame): DataFrame =
    cache(embedded.select(
      col("patient_id"), col("hospital"), col("embedding"),
      metadataStruct.as("metadata"),
      // promoted outcome fields for easy access (similarity_search.py:344-349)
      (col("received_transplant") === 1).as("received_transplant"),
      (col("received_transplant") === 1 && col("transplant_success") === 1)
        .as("transplant_success"),
      when(col("received_transplant") === 1, col("days_to_transplant"))
        .otherwise(0.0).as("days_to_transplant"),
      col("transplant_date"),
      when(col("received_transplant") === 0, col("waitlist_status"))
        .otherwise(0).cast("int").as("waitlist_status")))

  /** Caches an index so that its first fill also cuts the cache's RDD
    * lineage ([[GraftPlanBridge.cacheWithoutLineage]]): a search job over
    * the index then ships the cache scan (~16 KB), not the pipeline that
    * computed the index — for a built index, the embed pass with the
    * model's weights and the patient generator below it (~700 KB at the
    * paper's scale). The index cache can then no longer be recomputed
    * once released; a search over a released index fails
    * ([[graft.search.PlannedIndex]]).
    */
  def cache(index: DataFrame): DataFrame = GraftPlanBridge.cacheWithoutLineage(index)
}
