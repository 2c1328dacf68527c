package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeArrayData, UnsafeProjection}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType}

import graft.{SparkSpec, Tables}

/** The codegen CosineSimilarityExpr must be BIT-identical to the HOF
  * formulation (the DuckDB-oracle-parity form) — not approximately equal:
  * both widen float→double and accumulate sequentially in the same order.
  */
class CosineExprParitySpec extends SparkSpec {
  import spark.implicits._

  test("codegen expression == HOF cosine, bit-exact, on random vectors") {
    val rng = new scala.util.Random(7)
    val pairs = Seq.fill(200)((
      Seq.fill(64)(rng.nextFloat() * 4 - 2),
      Seq.fill(64)(rng.nextFloat() * 4 - 2)))
    val df = pairs.toDF("a", "b").select(
      CosineSimilarityExpr(col("a"), col("b")).as("expr"),
      VectorFunctions.cosineSimilarityHof(col("a"), col("b")).as("hof"))
    val rows = df.collect()
    rows.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)),
        s"${r.getDouble(0)} != ${r.getDouble(1)}")
    }
  }

  test("parity holds on the real embeddings corpus (interpreted + codegen paths)") {
    val e = Tables.embeddings(spark, sfDir)
    val q = e.filter(col("vec_id") === 0).select(col("embedding").as("q"))
    val both = e.filter(col("vec_id") =!= 0).crossJoin(broadcast(q))
      .select(
        CosineSimilarityExpr(col("embedding"), col("q")).as("expr"),
        VectorFunctions.cosineSimilarityHof(col("embedding"), col("q")).as("hof"))
      .withColumn("eq", col("expr") === col("hof"))
    assert(both.filter(!col("eq")).count() == 0)
  }

  test("Scorer == cosine, bit-exact: rows of the query's length read in " +
    "place, other lengths, NULL elements and generic arrays by the pair loop") {
    val rng = new scala.util.Random(11)
    def vec(n: Int) = Array.fill(n)(rng.nextFloat() * 4 - 2)
    val q = vec(64)
    val scorer = new CosineSimilarityExpr.Scorer(q)
    val query = UnsafeArrayData.fromPrimitiveArray(q)
    val withNull: ArrayData = { // an unsafe array with a NULL element
      val boxed = new GenericArrayData(vec(64).map(Float.box(_): Any))
      boxed.setNullAt(5)
      UnsafeProjection.create(Array[DataType](ArrayType(FloatType)))
        .apply(InternalRow(boxed)).getArray(0).copy()
    }
    val rows: Seq[ArrayData] =
      Seq.fill(50)(UnsafeArrayData.fromPrimitiveArray(vec(64))) ++
      Seq(63, 65, 1, 0).map(n => UnsafeArrayData.fromPrimitiveArray(vec(n))) ++
      Seq(UnsafeArrayData.fromPrimitiveArray(new Array[Float](64)), withNull,
        new GenericArrayData(vec(64).map(Float.box(_): Any)))
    assert(withNull.isInstanceOf[UnsafeArrayData] && withNull.isNullAt(5))
    rows.foreach { e =>
      val (got, want) = (scorer.score(e), CosineSimilarityExpr.cosine(e, query))
      assert(java.lang.Double.doubleToRawLongBits(got) ==
        java.lang.Double.doubleToRawLongBits(want), s"$got != $want")
    }
  }

  test("zero-vector guard preserved in codegen path") {
    val df = Seq((Seq.fill(4)(0f), Seq(1f, 2f, 3f, 4f))).toDF("a", "b")
      .select(CosineSimilarityExpr(col("a"), col("b")).as("c"))
    assert(df.head().getDouble(0) == 0.0)
  }
}
