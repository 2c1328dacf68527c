package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.{DataFrame, GraftPlanBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** The batched top-k cosine search kernel: for a fixed batch of query
  * vectors, `CosineTopKExpr(batch, k, id, embedding)` over a corpus's
  * `(id, embedding)` rows keeps, per query_id, the k best
  * `(id, round(cosine(embedding, q), 6))` and returns them as
  * `(query_id, rank int, vec_id bigint, sim double)` rows,
  * one query_id after another, each ranked by rounded score desc, ties
  * id asc.
  *
  * The result is the bits of scoring every (row, query) pair with
  * `round(`[[CosineSimilarityExpr]]`, 6)` and keeping each query_id's
  * top k in a [[TopKByExpr.Buffer]]; the kernel only skips work that
  * cannot change them:
  *  - each corpus row is decoded once, float→double, for the whole
  *    batch, and its ‖e‖² is summed once; each query's ‖q‖² is summed
  *    once per task. Dot products of four queries are interleaved over
  *    the row, each accumulator summing left to right, so every sum is
  *    the same sequence of additions as the per-pair loop;
  *  - a query whose length differs from the row's takes that pair's
  *    dot and both norms over `min(len)` elements, as the pair loop does;
  *  - a raw score is rounded (BigDecimal, HALF_UP — Spark's `round`)
  *    only if it can still enter its heap. Rounding to 6 dp moves a
  *    value by at most 5e-7, so a raw score more than 1e-6 below a full
  *    heap's minimum could neither enter nor tie into it;
  *  - the four (or, for the last queries, one) dot products stop at
  *    half the row when none of them can enter its heap any more.
  *    There, `d` over `[0, n/2)` plus ‖e_suf‖·‖q_suf‖ over `[n/2, n)`
  *    bounds the full dot product (Cauchy–Schwarz); both suffix norms
  *    are summed once, the row's while it is widened, each query's per
  *    task. A pair is skipped only if that bound, divided by the pair's
  *    denominator and raised by a float-error margin, lies more than
  *    1e-6 below its full heap's minimum, so its score could not have
  *    entered either. The test takes no division: each query keeps a
  *    limit, `(minimum − 1e-6 − margin)·‖q‖`, raised after each push
  *    into its heap, and the bound is compared with `limit·‖e‖`. A pair
  *    that goes on keeps its accumulator, so its sum is still the same
  *    sequence of additions. Rows of another length than the query are
  *    never stopped.
  *
  * Rows with a NULL id or embedding, and queries with a NULL vector,
  * score nothing. Queries that share a query_id share one heap.
  * `VectorSearch.batchKnn` folds each corpus partition into one buffer
  * with `update` in one job, ships it `serialize`d (≤ k × 16 bytes per
  * query_id) and `merge`s the buffers on the driver; `eval` ranks them.
  * Each buffer counts the (row, query) pairs it stopped early
  * (`Heaps.skipped`; `batchKnn` adds them to the [[skippedPairsAcc]]
  * accumulator).
  * A plain kernel, not a Catalyst expression: no plan evaluates it, so it
  * reads its two columns from the corpus rows by ordinal.
  */
final class CosineTopKExpr(val batch: CosineTopKExpr.Batch, k: Int, idOrdinal: Int,
                           embOrdinal: Int) extends Serializable {
  import CosineTopKExpr._
  import CosineSimilarityExpr.cosine

  /** The type of [[eval]]'s rows. */
  def schema: StructType = StructType(Seq(
    StructField("query_id", batch.idType, batch.idNullable),
    StructField("rank", IntegerType, nullable = false),
    StructField("vec_id", LongType, nullable = false),
    StructField("sim", DoubleType, nullable = false)))

  def createBuffer(): Heaps =
    new Heaps(Array.fill(batch.slotIds.length)(new TopKByExpr.Buffer(k)), batch.groups)

  /** Scores one corpus row against every query. */
  def update(buf: Heaps, row: InternalRow): Unit =
    if (!row.isNullAt(idOrdinal) && !row.isNullAt(embOrdinal))
      score(buf, row.getLong(idOrdinal), row.getArray(embOrdinal))

  private def score(buf: Heaps, id: Long, emb: ArrayData): Unit = {
    val n = emb.numElements()
    if (buf.row.length < n) buf.row = new Array[Double](n)
    val e = buf.row
    val h = n / 2
    var na = 0.0
    var i = 0
    while (i < h) {
      val x = emb.getFloat(i).toDouble
      e(i) = x; na += x * x
      i += 1
    }
    var ns = 0.0
    while (i < n) {
      val x = emb.getFloat(i).toDouble
      val xx = x * x
      e(i) = x; na += xx; ns += xx
      i += 1
    }
    val sqrtNa = math.sqrt(na)
    // a zero, NaN or infinite ‖e‖ makes every limit test false
    val scale = if (sqrtNa > 0.0 && sqrtNa < Double.PositiveInfinity) sqrtNa else Double.NaN
    val groups = batch.groups
    var gi = 0
    while (gi < groups.length) {
      val g = groups(gi)
      if (g.len == n) scoreBlocked(buf, buf.limits(gi), id, e, n, sqrtNa, math.sqrt(ns), scale, g)
      else scoreRagged(buf, buf.limits(gi), id, e, n, g)
      gi += 1
    }
  }

  /** Queries as long as the row: four dot products per pass over it.
    * The pass stops at half length unless one of the four can still
    * enter its heap: query j cannot when `d + ‖e_suf‖·‖q_suf‖`, which
    * bounds its full dot product (Cauchy–Schwarz), is below
    * `lim(j) · ‖e‖`. */
  private def scoreBlocked(buf: Heaps, lim: Array[Double], id: Long, e: Array[Double], n: Int,
                           sqrtNa: Double, sqrtNs: Double, scale: Double, g: Group): Unit = {
    val q = g.vectors
    val suf = g.sqrtSufNorms
    val h = n / 2
    var j = 0
    while (j + 4 <= q.length) {
      val q0 = q(j); val q1 = q(j + 1); val q2 = q(j + 2); val q3 = q(j + 3)
      var d0 = 0.0; var d1 = 0.0; var d2 = 0.0; var d3 = 0.0
      var i = 0
      while (i < h) {
        val x = e(i)
        d0 += x * q0(i); d1 += x * q1(i); d2 += x * q2(i); d3 += x * q3(i)
        i += 1
      }
      if (d0 + sqrtNs * suf(j) < lim(j) * scale & d1 + sqrtNs * suf(j + 1) < lim(j + 1) * scale &
          d2 + sqrtNs * suf(j + 2) < lim(j + 2) * scale & d3 + sqrtNs * suf(j + 3) < lim(j + 3) * scale)
        buf.skipped += 4
      else {
        while (i < n) {
          val x = e(i)
          d0 += x * q0(i); d1 += x * q1(i); d2 += x * q2(i); d3 += x * q3(i)
          i += 1
        }
        offer(buf, lim, g, j, id, cosine(d0, sqrtNa, g.sqrtNorms(j)))
        offer(buf, lim, g, j + 1, id, cosine(d1, sqrtNa, g.sqrtNorms(j + 1)))
        offer(buf, lim, g, j + 2, id, cosine(d2, sqrtNa, g.sqrtNorms(j + 2)))
        offer(buf, lim, g, j + 3, id, cosine(d3, sqrtNa, g.sqrtNorms(j + 3)))
      }
      j += 4
    }
    while (j < q.length) {
      val qj = q(j)
      var d = 0.0
      var i = 0
      while (i < h) { d += e(i) * qj(i); i += 1 }
      if (d + sqrtNs * suf(j) < lim(j) * scale) buf.skipped += 1
      else {
        while (i < n) { d += e(i) * qj(i); i += 1 }
        offer(buf, lim, g, j, id, cosine(d, sqrtNa, g.sqrtNorms(j)))
      }
      j += 1
    }
  }

  /** Queries of another length: dot and both norms over the common
    * prefix, per pair. */
  private def scoreRagged(buf: Heaps, lim: Array[Double], id: Long, e: Array[Double], n: Int,
                          g: Group): Unit = {
    val m = math.min(n, g.len)
    var j = 0
    while (j < g.vectors.length) {
      val qj = g.vectors(j)
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < m) {
        val x = e(i); val y = qj(i)
        dot += x * y; na += x * x; nb += y * y
        i += 1
      }
      offer(buf, lim, g, j, id, cosine(dot, math.sqrt(na), math.sqrt(nb)))
      j += 1
    }
  }

  /** Pushes a raw score that can still enter its heap, then raises
    * query j's limit to the heap's new floor. */
  private def offer(buf: Heaps, lim: Array[Double], g: Group, j: Int, id: Long, raw: Double): Unit = {
    val heap = buf.heaps(g.slots(j))
    if (!heap.excludes(raw, RoundingSlack)) {
      heap.push(id, round6(raw))
      lim(j) = g.limit(j, heap)
    }
  }

  def merge(a: Heaps, b: Heaps): Heaps = {
    var s = 0
    while (s < a.heaps.length) { a.heaps(s).pushAll(b.heaps(s)); s += 1 }
    a
  }

  /** Every query_id's ranked hits, one query_id after another. */
  def eval(buf: Heaps): Seq[InternalRow] =
    buf.heaps.indices.flatMap { s =>
      buf.heaps(s).ranked.zipWithIndex.map { case ((id, sim), r) =>
        InternalRow(batch.slotIds(s), r + 1, id, sim)
      }
    }

  def serialize(buf: Heaps): Array[Byte] = {
    val bos = new ByteArrayOutputStream(4 + buf.heaps.length * (4 + k * 16))
    val out = new DataOutputStream(bos)
    buf.heaps.foreach(_.writeTo(out))
    out.flush()
    bos.toByteArray
  }

  def deserialize(bytes: Array[Byte]): Heaps = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    new Heaps(Array.fill(batch.slotIds.length)(TopKByExpr.Buffer.readFrom(in, k)), batch.groups)
  }
}

object CosineTopKExpr {

  /** Name of the `longAccumulator` that `VectorSearch.batchKnn` adds
    * each task's skipped (row, query) pairs to. */
  val skippedPairsAcc = "graft.cosineTopK.skippedPairs"

  /** Largest move of Spark's 6-dp rounding (5e-7), with headroom. */
  private val RoundingSlack = 1e-6

  /** Spark's `round(x, 6)` on a double. */
  private def round6(x: Double): Double =
    if (x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** One task's state: a heap per distinct query_id, each group's
    * limits, the current row widened to double, and the count of pairs
    * it skipped. */
  final class Heaps(val heaps: Array[TopKByExpr.Buffer], groups: Array[Group]) {
    /** Per group and query, [[Group.limit]] as of the query's last push
      * into its heap. Another query of the same query_id may have raised
      * the heap's floor since; a stale limit is lower, so it only prunes
      * less. */
    val limits: Array[Array[Double]] =
      groups.map(g => Array.fill(g.vectors.length)(Double.NegativeInfinity))
    var row: Array[Double] = Array.emptyDoubleArray
    /** (row, query) pairs stopped at half length, for [[skippedPairsAcc]]. */
    var skipped: Long = 0L
  }

  /** Queries of one length, widened to double, with their heap slots,
    * √‖q‖², and √‖q_suf‖² over their second half `[len/2, len)`. */
  final class Group(val len: Int, val slots: Array[Int], val vectors: Array[Array[Double]]) {
    val sqrtNorms: Array[Double] = vectors.map(sqrtSumOfSquares(_, 0))
    val sqrtSufNorms: Array[Double] = vectors.map(sqrtSumOfSquares(_, len / 2))

    /** How far a computed score can lie above its computed bound. Each
      * of the two is a sum of at most `len` terms over ‖e‖‖q‖, so each
      * lies within about 2·len·2⁻⁵³ of its exact value (~3e-14 at len
      * 128); the margin covers both, and the rounding of the limit
      * test's products, with room to spare. */
    private val boundSlack: Double = 1e-12 + len * 1e-15

    /** Query j's limit, for a row of norm ‖e‖: a row whose dot-product
      * bound is below `limit · ‖e‖` has a bound, over the pair's
      * denominator and raised by [[boundSlack]], more than the rounding
      * slack below the heap's minimum, so its score could not enter.
      * −∞ (never pruning) while the heap has room or when ‖q‖ is zero,
      * NaN or infinite; NaN (never pruning) when the minimum is NaN. */
    def limit(j: Int, heap: TopKByExpr.Buffer): Double = {
      val sq = sqrtNorms(j)
      if (sq > 0.0 && sq < Double.PositiveInfinity) heap.floor(RoundingSlack + boundSlack) * sq
      else Double.NegativeInfinity
    }
  }

  private def sqrtSumOfSquares(q: Array[Double], from: Int): Double = {
    var s = 0.0
    var i = from
    while (i < q.length) { s += q(i) * q(i); i += 1 }
    math.sqrt(s)
  }

  /** The query batch, shipped to tasks inside the plan: query ids (Catalyst
    * values of `idType`) and float vectors, NULL vectors included. */
  final class Batch(val ids: Array[Any], val idType: DataType, val idNullable: Boolean,
                    val vectors: Array[Array[Float]]) extends Serializable {
    /** Distinct query ids, in first-seen order: one heap each. */
    @transient lazy val slotIds: Array[Any] = ids.distinct

    @transient lazy val groups: Array[Group] = {
      val live = ids.indices.filter(j => vectors(j) != null)
      live.groupBy(j => vectors(j).length).toArray.sortBy(_._1).map { case (len, js) =>
        new Group(len, js.map(j => slotIds.indexOf(ids(j))).toArray,
          js.map(j => vectors(j).map(_.toDouble)).toArray)
      }
    }

    override def toString: String = s"Batch(${ids.length} queries)"
  }

  object Batch {
    /** Collects `(query_id, q_emb array<float>)` to the driver as Catalyst
      * rows (no Row encoder). */
    def collect(queries: DataFrame): Batch = {
      val field = queries.schema("query_id")
      val rows = GraftPlanBridge.collectInternal(queries.select("query_id", "q_emb"))
      new Batch(
        rows.map(r => if (r.isNullAt(0)) null else InternalRow.copyValue(r.get(0, field.dataType))),
        field.dataType, field.nullable,
        rows.map(r => if (r.isNullAt(1)) null else r.getArray(1).toFloatArray()))
    }
  }
}
