package graft.search

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.{SparkEntry, SparkSpec}
import graft.gen.PatientGenerator

/** The `q_patient_insights` golden, derived without the index: the
  * clinical means of the `q_patient_search` golden hits recomputed from
  * the generator's raw rows of those patients.
  */
class PatientPipelineSpec extends SparkSpec {

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** The mean of `xs` to 6 decimals, NULL over no values. */
  private def mean6(xs: Seq[Double]): Any =
    if (xs.isEmpty) null else round6(xs.sum / xs.size)

  test("q_patient_insights is the raw clinical values of the golden hits, " +
    "as the generator drew them, and its oracle pins those values") {
    val hits = SparkEntry.queries("q_patient_search")(spark, sfDir)
      .select("patient_id", "hospital").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(hits.size === 5)
    // the pipeline's corpus: three hospitals, seed 42
    val raw = PatientGenerator.setupHospitals(spark,
        Seq(("Hospital_A", 300L), ("Hospital_B", 240L), ("Hospital_C", 360L)))
      .filter(struct(col("patient_id"), col("hospital")).isin(
        hits.toSeq.map { case (p, h) => struct(lit(p), lit(h)) }: _*))
      .collect().toSeq
    assert(raw.size === 5)
    def int(r: Row, c: String): Int = r.getAs[Int](c)
    def dbl(r: Row, c: String): Double = r.getAs[Double](c)
    val transplanted = raw.filter(int(_, "received_transplant") == 1)
    val waiting = raw.filter(int(_, "received_transplant") == 0)
    val success = transplanted.filter(int(_, "transplant_success") == 1)
    val waitDays = transplanted.map(dbl(_, "days_to_transplant"))
    val want = Seq(
      mean6(waitDays),
      if (waitDays.isEmpty) null else round6(waitDays.sum / waitDays.size / 30.44),
      mean6(success.map(dbl(_, "age"))),
      mean6(success.map(dbl(_, "meld_score"))),
      mean6(success.map(r => if (int(r, "diabetes") == 1) 1.0 else 0.0)),
      mean6(waiting.map(dbl(_, "days_on_waitlist"))),
      waiting.count(int(_, "waitlist_status") == 0).toLong)
    val got = SparkEntry.queries("q_patient_insights")(spark, sfDir).collect()
    assert(got.length === 1)
    assert(got.head.toSeq === want)
    // raw ages and MELD scores, not z-scores: inside the generator's clips
    success.foreach { r =>
      assert(dbl(r, "age") >= 18.0 && dbl(r, "meld_score") >= 6.0)
    }
    val oracle = SparkEntry.oracleSql("q_patient_insights")
    want.take(6).foreach(v => assert(oracle.contains(s"CAST($v AS DOUBLE)"), v))
  }
}
