package graft.stats

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._

/** A3 — the transplant statistics block (similarity_search.py:366-407) and
  * A6 — clinical-insight means (similarity_search.py:707-738), each one
  * row folded on the driver over a search's k hits, in rank order.
  *
  * Each column is the value Spark's `sum(when(...))` / `avg(when(...))`
  * conditional aggregate over the one-partition hit set gives, bit for
  * bit (every `[r for r in results if ...]` list comprehension of the
  * reference is one condition):
  *  - a conditional count is `sum(when(c, 1L).otherwise(0L))`: NULL over
  *    no hits;
  *  - a mean is `avg(when(c, x))`: a partial sum from 0.0 (a NULL adds
  *    0.0), merged into 0.0, divided by the non-NULL count; NULL when
  *    that count is 0;
  *  - a rate is a ratio of two counts, NULL when its denominator is 0 or
  *    NULL (the reference's `if total > 0` guards).
  * Conditions follow SQL's three-valued logic: a NULL flag satisfies
  * neither `t` nor `!t`.
  */
object TransplantStats {

  /** The reference's stats dict, 1 row. */
  val statisticsSchema: StructType = StructType.fromDDL(
    "total_similar_patients BIGINT NOT NULL, transplanted_count BIGINT, " +
    "not_transplanted_count BIGINT, transplant_rate DOUBLE, successful_transplants BIGINT, " +
    "transplant_success_rate DOUBLE, average_wait_time_days DOUBLE, " +
    "average_wait_time_months DOUBLE, still_on_waitlist BIGINT, removed_too_sick BIGINT, " +
    "removed_improved BIGINT, deceased_on_waitlist BIGINT")

  /** A6 — clinical insights (metadata sub-fields), 1 row. */
  val insightsSchema: StructType = StructType.fromDDL(
    "avg_wait_transplanted_days DOUBLE, avg_wait_transplanted_months DOUBLE, " +
    "avg_age_success DOUBLE, avg_meld_success DOUBLE, diabetes_rate_success DOUBLE, " +
    "avg_wait_not_transplanted_days DOUBLE, still_waiting BIGINT")

  /** The fields of one hit the statistics read. `None` is NULL. */
  final case class Hit(transplanted: Option[Boolean], success: Option[Boolean],
                       daysToTransplant: Option[Double], waitlistStatus: Option[Int],
                       age: Option[Double], meld: Option[Double],
                       diabetes: Option[Boolean], daysOnWaitlist: Option[Double]) {
    def t: Boolean = transplanted.contains(true)
    def notT: Boolean = transplanted.contains(false)
    def succ: Boolean = t && success.contains(true)
    def waiting(status: Int): Boolean = notT && waitlistStatus.contains(status)
  }

  /** Reads [[Hit]]s from rows of `schema` (the facade's hits). */
  def hits(rows: Seq[InternalRow], schema: StructType): Seq[Hit] = {
    def at(name: String) = schema.fieldIndex(name)
    val (t, s, d, w, m) = (at("received_transplant"), at("transplant_success"),
      at("days_to_transplant"), at("waitlist_status"), at("metadata"))
    val meta = schema(m).dataType.asInstanceOf[StructType]
    def in(name: String) = meta.fieldIndex(name)
    val (age, meld, diab, onList) =
      (in("age"), in("meld_score"), in("diabetes"), in("days_on_waitlist"))
    def opt[A](r: InternalRow, i: Int)(get: Int => A): Option[A] =
      if (r == null || r.isNullAt(i)) None else Some(get(i))
    rows.map { r =>
      val md = opt(r, m)(r.getStruct(_, meta.length)).orNull
      Hit(opt(r, t)(r.getBoolean), opt(r, s)(r.getBoolean), opt(r, d)(r.getDouble),
        opt(r, w)(r.getInt), opt(md, age)(md.getDouble), opt(md, meld)(md.getDouble),
        opt(md, diab)(md.getBoolean), opt(md, onList)(md.getDouble))
    }
  }

  private def count(hits: Seq[Hit])(c: Hit => Boolean): Any =
    if (hits.isEmpty) null else hits.count(c).toLong

  private def avg(hits: Seq[Hit])(x: Hit => Option[Double]): Any = {
    var sum = 0.0
    var n = 0L
    hits.foreach { h => x(h) match {
      case Some(v) => sum += v; n += 1
      case None => sum += 0.0
    } }
    if (n == 0) null else (0.0 + sum) / n.toDouble
  }

  private def ratio(num: Any, den: Any): Any = (num, den) match {
    case (a: Long, b: Long) if b != 0L => a.toDouble / b.toDouble
    case (a: Double, b: Double) => a / b
    case _ => null
  }

  private val DaysPerMonth = 30.44

  def statistics(hits: Seq[Hit]): InternalRow = {
    val transplanted = count(hits)(_.t)
    val successful = count(hits)(_.succ)
    val waitDays = avg(hits)(h => if (h.t) h.daysToTransplant else None)
    InternalRow(hits.size.toLong, transplanted, count(hits)(_.notT),
      ratio(transplanted, if (hits.isEmpty) null else hits.size.toLong),
      successful, ratio(successful, transplanted),
      waitDays, ratio(waitDays, DaysPerMonth),
      count(hits)(_.waiting(0)), count(hits)(_.waiting(1)),
      count(hits)(_.waiting(2)), count(hits)(_.waiting(3)))
  }

  def insights(hits: Seq[Hit]): InternalRow = {
    val waitDays = avg(hits)(h => if (h.t) h.daysToTransplant else None)
    InternalRow(waitDays, ratio(waitDays, DaysPerMonth),
      avg(hits)(h => if (h.succ) h.age else None),
      avg(hits)(h => if (h.succ) h.meld else None),
      avg(hits)(h => if (h.succ) h.diabetes.map(b => if (b) 1.0 else 0.0) else None),
      avg(hits)(h => if (h.notT) h.daysOnWaitlist else None),
      count(hits)(_.waiting(0)))
  }
}
