package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

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
    * the facade search's per-row scoring). */
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
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) 0.0 else dot / denom
  }

  def apply(a: Column, b: Column): Column =
    GraftColumnBridge.column(CosineSimilarityExpr(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))
}
