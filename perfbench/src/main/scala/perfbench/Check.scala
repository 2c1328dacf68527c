package perfbench

import java.math.{BigDecimal => JBigDecimal, RoundingMode}
import java.security.MessageDigest

import org.apache.spark.sql.Row

/** One hit of a top-k answer: its key, and its similarity. */
final case class Hit(key: String, sim: Double)

/** The embeddings of an index, collected once in setup, and an exact
  * brute-force top-k over them. Similarities use the arithmetic of
  * `CosineSimilarityExpr` (float→double, one left-to-right pass), so they
  * are bit-identical to the engine's and the expected order is exact.
  * `keys` are the row keys in the engine's tie-break order.
  */
final class Oracle(val vectors: Array[Array[Float]], val keys: Array[String]) {
  private val norms: Array[Double] = vectors.map(v => math.sqrt(sumSq(v)))

  private def sumSq(v: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < v.length) { val x = v(i).toDouble; s += x * x; i += 1 }
    s
  }

  def cosine(row: Int, q: Array[Float], qNorm: Double): Double = {
    val v = vectors(row)
    val n = math.min(v.length, q.length)
    var dot = 0.0; var i = 0
    while (i < n) { dot += v(i).toDouble * q(i).toDouble; i += 1 }
    val denom = norms(row) * qNorm
    if (denom == 0.0) 0.0 else dot / denom
  }

  /** Top-k by (similarity desc, key asc), as the engine orders hits;
    * `round6` applies the batch path's rounding before ordering. Rounding
    * is monotone, so only rows within 1e-6 below the k-th largest raw
    * similarity can reach the rounded top-k; just those are rounded. */
  def topK(q: Array[Float], k: Int, round6: Boolean): Seq[Hit] = {
    val qNorm = math.sqrt(sumSq(q))
    val sims = Array.tabulate(vectors.length)(r => cosine(r, q, qNorm))
    val best = Array.fill(k)(Double.NegativeInfinity) // k largest, unordered
    var minAt = 0
    sims.foreach { s =>
      if (s > best(minAt)) {
        best(minAt) = s
        minAt = best.indices.minBy(best(_))
      }
    }
    val kth = best(minAt)
    val cut = if (round6 && !kth.isInfinite) Check.round6(kth) - 1e-6 else kth
    sims.indices.filter(sims(_) >= cut)
      .map(r => Hit(keys(r), if (round6) Check.round6(sims(r)) else sims(r)))
      .sortBy(h => (-h.sim, h.key)).take(k)
  }
}

/** The benchmark's checks of engine outputs. Each returns the list of
  * problems found; an empty list means the output is correct. */
object Check {

  /** Spark's `round(x, 6)` for doubles (HALF_UP on the shortest decimal
    * form). */
  def round6(d: Double): Double =
    if (d.isNaN || d.isInfinite) d
    else JBigDecimal.valueOf(d).setScale(6, RoundingMode.HALF_UP).doubleValue()

  /** Same keys in the same order, similarities equal to 6 dp. */
  def topK(expected: Seq[Hit], actual: Seq[Hit]): Seq[String] =
    if (expected.map(_.key) != actual.map(_.key))
      Seq(s"top-k keys ${actual.map(_.key).mkString(",")} != expected ${expected.map(_.key).mkString(",")}")
    else expected.zip(actual).collect {
      case (e, a) if round6(e.sim) != round6(a.sim) => s"similarity of ${a.key}: ${a.sim} != expected ${e.sim}"
    }

  private def close(a: Double, b: Double): Boolean =
    (a.isNaN && b.isNaN) || math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))

  private def dbl(r: Row, f: String): Double =
    if (r.isNullAt(r.fieldIndex(f))) Double.NaN else r.getAs[Number](f).doubleValue()

  /** The search's statistics row recomputed from its hit rows
    * (TransplantStats.statisticsBlock's definitions). */
  def statsRow(hits: Seq[Row], stats: Row): Seq[String] = {
    val t = hits.filter(_.getAs[Boolean]("received_transplant"))
    val notT = hits.filterNot(_.getAs[Boolean]("received_transplant"))
    val succ = t.count(_.getAs[Boolean]("transplant_success"))
    def mean(xs: Seq[Double]) = if (xs.isEmpty) Double.NaN else xs.sum / xs.size
    def rate(a: Int, b: Int) = if (b == 0) Double.NaN else a.toDouble / b
    val wait = mean(t.map(_.getAs[Double]("days_to_transplant")))
    def waitlist(s: Int) = notT.count(_.getAs[Int]("waitlist_status") == s).toDouble
    val expected = Seq(
      "total_similar_patients" -> hits.size.toDouble,
      "transplanted_count" -> t.size.toDouble,
      "not_transplanted_count" -> notT.size.toDouble,
      "transplant_rate" -> rate(t.size, hits.size),
      "successful_transplants" -> succ.toDouble,
      "transplant_success_rate" -> rate(succ, t.size),
      "average_wait_time_days" -> wait,
      "average_wait_time_months" -> wait / 30.44,
      "still_on_waitlist" -> waitlist(0),
      "removed_too_sick" -> waitlist(1),
      "removed_improved" -> waitlist(2),
      "deceased_on_waitlist" -> waitlist(3))
    expected.collect {
      case (f, e) if !close(dbl(stats, f), e) => s"stats.$f = ${dbl(stats, f)}, hits give $e"
    }
  }

  /** Σ over shards of min(k, shard size): the candidate pool the
    * scatter-gather search reports as `totalSearched`. */
  def totalSearched(shardSizes: Map[String, Long], k: Int, actual: Long): Seq[String] = {
    val expected = shardSizes.valuesIterator.map(math.min(_, k.toLong)).sum
    if (actual == expected) Nil else Seq(s"totalSearched $actual != expected $expected")
  }

  /** Order-sensitive SHA-256 of result rows, for comparing two runs of the
    * same query. */
  def hash(rows: Seq[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update((r.mkString("\u0001") + "\n").getBytes("UTF-8")))
    md.digest().map(b => f"$b%02x").mkString
  }

  def sameHash(what: String, expected: String, actual: String): Seq[String] =
    if (expected == actual) Nil else Seq(s"$what: hash $actual != expected $expected")
}
