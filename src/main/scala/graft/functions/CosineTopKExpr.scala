package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
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
  *    heap's minimum could neither enter nor tie into it.
  *
  * Rows with a NULL id or embedding, and queries with a NULL vector,
  * score nothing. Queries that share a query_id share one heap.
  * `VectorSearch.batchKnn` folds each corpus partition into one buffer
  * with `update` in one job, ships it `serialize`d (≤ k × 16 bytes per
  * query_id) and `merge`s the buffers on the driver; `eval` ranks them.
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
    new Heaps(Array.fill(batch.slotIds.length)(new TopKByExpr.Buffer(k)))

  /** Scores one corpus row against every query. */
  def update(buf: Heaps, row: InternalRow): Unit =
    if (!row.isNullAt(idOrdinal) && !row.isNullAt(embOrdinal))
      score(buf, row.getLong(idOrdinal), row.getArray(embOrdinal))

  private def score(buf: Heaps, id: Long, emb: ArrayData): Unit = {
    val n = emb.numElements()
    if (buf.row.length < n) buf.row = new Array[Double](n)
    val e = buf.row
    var na = 0.0
    var i = 0
    while (i < n) {
      val x = emb.getFloat(i).toDouble
      e(i) = x; na += x * x
      i += 1
    }
    val sqrtNa = math.sqrt(na)
    batch.groups.foreach { g =>
      if (g.len == n) scoreBlocked(buf, id, e, n, sqrtNa, g)
      else scoreRagged(buf, id, e, n, g)
    }
  }

  /** Queries as long as the row: four dot products per pass over it. */
  private def scoreBlocked(buf: Heaps, id: Long, e: Array[Double], n: Int,
                           sqrtNa: Double, g: Group): Unit = {
    val q = g.vectors
    var j = 0
    while (j + 4 <= q.length) {
      val q0 = q(j); val q1 = q(j + 1); val q2 = q(j + 2); val q3 = q(j + 3)
      var d0 = 0.0; var d1 = 0.0; var d2 = 0.0; var d3 = 0.0
      var i = 0
      while (i < n) {
        val x = e(i)
        d0 += x * q0(i); d1 += x * q1(i); d2 += x * q2(i); d3 += x * q3(i)
        i += 1
      }
      offer(buf, g, j, id, cosine(d0, sqrtNa, g.sqrtNorms(j)))
      offer(buf, g, j + 1, id, cosine(d1, sqrtNa, g.sqrtNorms(j + 1)))
      offer(buf, g, j + 2, id, cosine(d2, sqrtNa, g.sqrtNorms(j + 2)))
      offer(buf, g, j + 3, id, cosine(d3, sqrtNa, g.sqrtNorms(j + 3)))
      j += 4
    }
    while (j < q.length) {
      val qj = q(j)
      var d = 0.0
      var i = 0
      while (i < n) { d += e(i) * qj(i); i += 1 }
      offer(buf, g, j, id, cosine(d, sqrtNa, g.sqrtNorms(j)))
      j += 1
    }
  }

  /** Queries of another length: dot and both norms over the common
    * prefix, per pair. */
  private def scoreRagged(buf: Heaps, id: Long, e: Array[Double], n: Int, g: Group): Unit = {
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
      offer(buf, g, j, id, cosine(dot, math.sqrt(na), math.sqrt(nb)))
      j += 1
    }
  }

  private def offer(buf: Heaps, g: Group, j: Int, id: Long, raw: Double): Unit = {
    val heap = buf.heaps(g.slots(j))
    if (!heap.excludes(raw, RoundingSlack)) heap.push(id, round6(raw))
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
    new Heaps(Array.fill(batch.slotIds.length)(TopKByExpr.Buffer.readFrom(in, k)))
  }
}

object CosineTopKExpr {

  /** Largest move of Spark's 6-dp rounding (5e-7), with headroom. */
  private val RoundingSlack = 1e-6

  /** Spark's `round(x, 6)` on a double. */
  private def round6(x: Double): Double =
    if (x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** One task's state: a heap per distinct query_id, plus the current
    * row widened to double. */
  final class Heaps(val heaps: Array[TopKByExpr.Buffer]) {
    var row: Array[Double] = Array.emptyDoubleArray
  }

  /** Queries of one length, widened to double, with their heap slots and
    * √‖q‖². */
  final class Group(val len: Int, val slots: Array[Int], val vectors: Array[Array[Double]]) {
    val sqrtNorms: Array[Double] = vectors.map { q =>
      var nb = 0.0
      var i = 0
      while (i < q.length) { nb += q(i) * q(i); i += 1 }
      math.sqrt(nb)
    }
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
    /** Collects `(query_id, q_emb array<float>)` to the driver. */
    def collect(queries: DataFrame): Batch = {
      val field = queries.schema("query_id")
      val toCatalyst = CatalystTypeConverters.createToCatalystConverter(field.dataType)
      val rows = queries.select("query_id", "q_emb").collect()
      new Batch(rows.map(r => toCatalyst(r.get(0))), field.dataType, field.nullable,
        rows.map(r => if (r.isNullAt(1)) null else r.getSeq[Float](1).toArray))
    }
  }
}
