package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}
import org.apache.spark.unsafe.Platform

/** Codegen'd cosine similarity over two float-array columns — the hot-path
  * form of [[VectorFunctions.cosineSimilarity]] (one fused loop inside
  * whole-stage codegen instead of three interpreted higher-order-function
  * trees; ~10× on the brute-force scan path).
  *
  * Bit-compatible with the HOF version by construction: elements are
  * widened float→double and accumulated sequentially left-to-right in the
  * same order for dot, |a|², |b|², and the sklearn zero-norm convention
  * (0.0, not NaN — reference similarity_search.py:300-302) is identical.
  * CosineExprParitySpec asserts exact equality on random vectors.
  */
case class CosineSimilarityExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  // inputs must be array<float>; AbstractDataType (for ExpectsInputTypes)
  // is private[sql], so call sites guarantee the type (all embedding
  // columns and query literals in this library are float arrays)
  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any =
    CosineSimilarityExpr.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      val denom = ctx.freshName("denom")
      s"""
         |final int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  final double $xv = (double) $a.getFloat($i);
         |  final double $yv = (double) $b.getFloat($i);
         |  $dot += $xv * $yv; $na += $xv * $xv; $nb += $yv * $yv;
         |}
         |final double $denom = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
         |${ev.value} = ($denom == 0.0) ? 0.0 : $dot / $denom;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object CosineSimilarityExpr {
  /** The score of two non-NULL float arrays (the interpreted path, and
    * [[Scorer]]'s fallback). */
  def cosine(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xv = x.getFloat(i).toDouble
      val yv = y.getFloat(i).toDouble
      dot += xv * yv; na += xv * xv; nb += yv * yv
      i += 1
    }
    cosine(dot, math.sqrt(na), math.sqrt(nb))
  }

  /** The score from its parts: the dot product and the two norms. */
  def cosine(dot: Double, normA: Double, normB: Double): Double = {
    val denom = normA * normB
    if (denom == 0.0) 0.0 else dot / denom
  }

  /** Scores rows against one query `q` (the facade search's per-row
    * scoring): q is widened and ‖q‖² summed once, here. Per row only the
    * dot product and ‖e‖² are summed, left to right, over the row's
    * floats read in place. Every sum is the same sequence of additions
    * as [[cosine]]'s, so a score is its bits. A row of another length
    * than q (whose pair sums run over the common prefix), or an array
    * that is not an `UnsafeArrayData`, is scored by [[cosine]] itself.
    */
  final class Scorer(q: Array[Float]) extends Serializable {
    private val qd: Array[Double] = q.map(_.toDouble)
    private val normQ: Double = {
      var nb = 0.0
      var i = 0
      while (i < qd.length) { nb += qd(i) * qd(i); i += 1 }
      math.sqrt(nb)
    }
    @transient private lazy val query = UnsafeArrayData.fromPrimitiveArray(q)

    /** The cosine of a non-NULL row array `e` and q. */
    def score(e: ArrayData): Double = e match {
      case u: UnsafeArrayData if u.numElements() == qd.length =>
        val qd = this.qd
        val n = qd.length
        val base = u.getBaseObject
        val at = u.getBaseOffset + UnsafeArrayData.calculateHeaderPortionInBytes(n)
        var dot = 0.0; var ne = 0.0
        var i = 0
        while (i < n) {
          val x = Platform.getFloat(base, at + 4L * i).toDouble
          dot += x * qd(i); ne += x * x
          i += 1
        }
        cosine(dot, math.sqrt(ne), normQ)
      case _ => cosine(e, query)
    }
  }

  def apply(a: Column, b: Column): Column =
    GraftColumnBridge.column(CosineSimilarityExpr(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))
}
