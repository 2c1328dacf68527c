package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Batched top-k cosine search as one ungrouped aggregate: for a fixed
  * batch of query vectors, `CosineTopKExpr(id, embedding, batch, k)`
  * over a corpus keeps, per query_id, the k best
  * `(id, round(cosine(embedding, q), 6))` and returns them as
  * `array<struct<query_id, rank int, vec_id bigint, sim double>>`,
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
  * `VectorSearch.batchKnn` runs `update` over each corpus partition in
  * one job and `merge`s the serialized heaps (≤ k × 16 bytes per
  * query_id) on the driver.
  */
case class CosineTopKExpr(idExpr: Expression, embExpr: Expression,
                          batch: CosineTopKExpr.Batch, k: Int,
                          mutableAggBufferOffset: Int = 0,
                          inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[CosineTopKExpr.Heaps] {
  import CosineTopKExpr._

  override def children: Seq[Expression] = Seq(idExpr, embExpr)

  override def checkInputDataTypes(): TypeCheckResult =
    if (idExpr.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"cosine top-k id must be BIGINT, got ${idExpr.dataType.simpleString}")
    else if (!embExpr.dataType.isInstanceOf[ArrayType] ||
             embExpr.dataType.asInstanceOf[ArrayType].elementType != FloatType)
      TypeCheckResult.TypeCheckFailure(
        s"cosine top-k embedding must be ARRAY<FLOAT>, got ${embExpr.dataType.simpleString}")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("query_id", batch.idType, batch.idNullable),
    StructField("rank", IntegerType, nullable = false),
    StructField("vec_id", LongType, nullable = false),
    StructField("sim", DoubleType, nullable = false))), containsNull = false)

  override def nullable: Boolean = false

  override def createAggregationBuffer(): Heaps =
    new Heaps(Array.fill(batch.slotIds.length)(new TopKByExpr.Buffer(k)))

  override def update(buf: Heaps, input: InternalRow): Heaps = {
    val idV = idExpr.eval(input)
    val embV = embExpr.eval(input)
    if (idV != null && embV != null) score(buf, idV.asInstanceOf[Long], embV.asInstanceOf[ArrayData])
    buf
  }

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

  override def merge(a: Heaps, b: Heaps): Heaps = {
    var s = 0
    while (s < a.heaps.length) { a.heaps(s).pushAll(b.heaps(s)); s += 1 }
    a
  }

  override def eval(buf: Heaps): Any = {
    val rows = buf.heaps.indices.flatMap { s =>
      buf.heaps(s).ranked.zipWithIndex.map { case ((id, sim), r) =>
        InternalRow(batch.slotIds(s), r + 1, id, sim)
      }
    }
    new GenericArrayData(rows.toArray[Any])
  }

  override def serialize(buf: Heaps): Array[Byte] = {
    val bos = new ByteArrayOutputStream(4 + buf.heaps.length * (4 + k * 16))
    val out = new DataOutputStream(bos)
    buf.heaps.foreach(_.writeTo(out))
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): Heaps = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    new Heaps(Array.fill(batch.slotIds.length)(TopKByExpr.Buffer.readFrom(in, k)))
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): CosineTopKExpr =
    copy(mutableAggBufferOffset = newOffset)

  override def withNewInputAggBufferOffset(newOffset: Int): CosineTopKExpr =
    copy(inputAggBufferOffset = newOffset)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(idExpr = newChildren(0), embExpr = newChildren(1))
}

object CosineTopKExpr {

  /** Largest move of Spark's 6-dp rounding (5e-7), with headroom. */
  private val RoundingSlack = 1e-6

  /** [[CosineSimilarityExpr]]'s score from its three parts. */
  private def cosine(dot: Double, sqrtNa: Double, sqrtNb: Double): Double = {
    val denom = sqrtNa * sqrtNb
    if (denom == 0.0) 0.0 else dot / denom
  }

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
