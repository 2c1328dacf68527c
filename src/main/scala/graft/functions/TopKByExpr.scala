package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native Catalyst top-k aggregate: `topk_by(id, score, k)` keeps the k
  * highest-scoring (id, score) pairs per group in a bounded min-heap,
  * returned as `array<struct<id bigint, score double>>` sorted score desc
  * (ties id asc).
  *
  * The point is the shuffle shape for per-group (e.g. batched-query)
  * top-k: a `TypedImperativeAggregate` with a compact custom serializer
  * (k × 16 bytes), so map-side partial aggregation reduces every
  * partition to ≤ k candidates per group before the exchange; usable
  * from SQL via [[graft.GraftExtensions]]. (A single global top-k needs
  * none of this — Catalyst's TakeOrderedAndProject already is a bounded
  * heap.)
  */
case class TopKByExpr(idExpr: Expression, scoreExpr: Expression, kExpr: Expression,
                      mutableAggBufferOffset: Int = 0,
                      inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[TopKByExpr.Buffer] {

  private lazy val k: Int = kExpr.eval(InternalRow.empty) match {
    case i: Int => i
    case l: Long => l.toInt
    case other => throw new IllegalArgumentException(s"topk_by k must be a literal int, got $other")
  }

  override def children: Seq[Expression] = Seq(idExpr, scoreExpr, kExpr)

  // fail misuse at ANALYSIS time (update() casts id straight to Long;
  // without this, topk_by(int_col, ...) would pass analysis and throw
  // ClassCastException mid-job)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    if (idExpr.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"topk_by id must be BIGINT, got ${idExpr.dataType.simpleString} (cast the id column)")
    else if (!scoreExpr.dataType.isInstanceOf[NumericType])
      TypeCheckResult.TypeCheckFailure(
        s"topk_by score must be numeric, got ${scoreExpr.dataType.simpleString}")
    else if (!kExpr.foldable || !Seq(IntegerType, LongType).contains(kExpr.dataType))
      TypeCheckResult.TypeCheckFailure(
        s"topk_by k must be an integral literal, got ${kExpr.sql}")
    else TypeCheckResult.TypeCheckSuccess
  }

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("score", DoubleType, nullable = false))), containsNull = false)

  override def nullable: Boolean = false

  override def createAggregationBuffer(): TopKByExpr.Buffer =
    new TopKByExpr.Buffer(k)

  override def update(buf: TopKByExpr.Buffer, input: InternalRow): TopKByExpr.Buffer = {
    val idV = idExpr.eval(input)
    val scoreV = scoreExpr.eval(input)
    if (idV != null && scoreV != null) {
      buf.push(idV.asInstanceOf[Long], scoreV match {
        case d: Double => d
        case f: Float => f.toDouble
        case other => other.toString.toDouble
      })
    }
    buf
  }

  override def merge(a: TopKByExpr.Buffer, b: TopKByExpr.Buffer): TopKByExpr.Buffer = {
    a.pushAll(b)
    a
  }

  override def eval(buf: TopKByExpr.Buffer): Any =
    new GenericArrayData(buf.ranked.map { case (id, s) =>
      InternalRow(id, s)
    }.toArray[Any])

  override def serialize(buf: TopKByExpr.Buffer): Array[Byte] = {
    val bos = new ByteArrayOutputStream(8 + buf.size * 16)
    val out = new DataOutputStream(bos)
    buf.writeTo(out)
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): TopKByExpr.Buffer =
    TopKByExpr.Buffer.readFrom(new DataInputStream(new ByteArrayInputStream(bytes)), k)

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKByExpr =
    copy(mutableAggBufferOffset = newOffset)

  override def withNewInputAggBufferOffset(newOffset: Int): TopKByExpr =
    copy(inputAggBufferOffset = newOffset)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(idExpr = newChildren(0), scoreExpr = newChildren(1), kExpr = newChildren(2))
}

object TopKByExpr {

  /** Parallel-array min-heap of ≤ k (id, score); heap order: lower score
    * first, ties id DESC — so the kept set matches ORDER BY score DESC,
    * id ASC. As in Spark SQL's ordering, NaN is above every other score
    * and equal to itself, so the kept set does not depend on the order
    * of pushes or merges.
    */
  final class Buffer(k: Int) {
    val ids = new Array[Long](k)
    val scores = new Array[Double](k)
    var size = 0

    private def lt(s1: Double, i1: Long, s2: Double, i2: Long): Boolean =
      if (s1 < s2) true
      else if (s1 == s2 || (s1.isNaN && s2.isNaN)) i1 > i2
      else !s1.isNaN && s2.isNaN

    private def siftDown(from: Int): Unit = {
      var i = from
      var continue = true
      while (continue) {
        val l = 2 * i + 1
        val r = l + 1
        var m = i
        if (l < size && lt(scores(l), ids(l), scores(m), ids(m))) m = l
        if (r < size && lt(scores(r), ids(r), scores(m), ids(m))) m = r
        if (m == i) continue = false
        else {
          val ti = ids(i); ids(i) = ids(m); ids(m) = ti
          val ts = scores(i); scores(i) = scores(m); scores(m) = ts
          i = m
        }
      }
    }

    private def siftUp(from: Int): Unit = {
      var i = from
      while (i > 0) {
        val p = (i - 1) / 2
        if (lt(scores(i), ids(i), scores(p), ids(p))) {
          val ti = ids(i); ids(i) = ids(p); ids(p) = ti
          val ts = scores(i); scores(i) = scores(p); scores(p) = ts
          i = p
        } else return
      }
    }

    def push(id: Long, score: Double): Unit =
      if (size < k) {
        ids(size) = id; scores(size) = score; size += 1
        siftUp(size - 1)
      } else if (size > 0 && lt(scores(0), ids(0), score, id)) {
        ids(0) = id; scores(0) = score
        siftDown(0)
      }

    def pushAll(other: Buffer): Unit = {
      var i = 0
      while (i < other.size) { push(other.ids(i), other.scores(i)); i += 1 }
    }

    /** The minimum less `slack` once the heap is full, −∞ while it has
      * room: a score below it could not enter. */
    def floor(slack: Double): Double =
      if (size == k && k > 0) scores(0) - slack else Double.NegativeInfinity

    /** True when no value within `slack` of `score` could enter: the
      * heap is full and `score` lies more than `slack` below its minimum.
      * A NaN score is never excluded. */
    def excludes(score: Double, slack: Double): Boolean =
      size == k && (k == 0 || score < scores(0) - slack)

    /** The kept pairs in output order: score desc, ties id asc. */
    def ranked: IndexedSeq[(Long, Double)] =
      (0 until size).map(i => (ids(i), scores(i))).sortWith { case ((i1, s1), (i2, s2)) =>
        lt(s2, i2, s1, i1) }

    /** Wire form: size, then (id, score) pairs — k × 16 bytes at most. */
    def writeTo(out: DataOutputStream): Unit = {
      out.writeInt(size)
      var i = 0
      while (i < size) { out.writeLong(ids(i)); out.writeDouble(scores(i)); i += 1 }
    }
  }

  object Buffer {
    def readFrom(in: DataInputStream, k: Int): Buffer = {
      val buf = new Buffer(k)
      val n = in.readInt()
      var i = 0
      while (i < n) { buf.push(in.readLong(), in.readDouble()); i += 1 }
      buf
    }
  }

  /** Column-API form: `topKBy(col("id"), col("score"), k)`. */
  def apply(id: Column, score: Column, k: Int): Column =
    GraftColumnBridge.column(
      TopKByExpr(
        GraftColumnBridge.expression(id),
        GraftColumnBridge.expression(score),
        org.apache.spark.sql.catalyst.expressions.Literal(k))
        .toAggregateExpression())
}
