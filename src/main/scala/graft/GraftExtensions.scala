package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.functions.CosineSimilarityExpr

/** SparkSessionExtensions entry point — makes the engine's custom
  * Catalyst expressions first-class SQL functions:
  *
  * {{{
  * val spark = SparkSession.builder()
  *   .withExtensions(new GraftExtensions)   // or
  *   .config("spark.sql.extensions", "graft.GraftExtensions")
  *   ...
  * spark.sql("SELECT cosine_similarity(a.embedding, b.embedding) FROM ...")
  * }}}
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    // the engine's optimizer rules, one list (graft.plans.Rules: what
    // each does, how each is opted into or switched off)
    graft.plans.Rules.all.foreach(r => e.injectOptimizerRule(_ => r))
    // snapshot-table SQL surface: snapshot_table(path[, version]) and
    // snapshot_changes(path, from, to) table-valued functions
    graft.sources.SnapshotSql.tvfs.foreach { case (name, info, builder) =>
      e.injectTableFunction((new FunctionIdentifier(name), info, builder))
    }
    e.injectFunction((
      new FunctionIdentifier("topk_by"),
      new ExpressionInfo(
        classOf[graft.functions.TopKByExpr].getName, null, "topk_by",
        "_FUNC_(id, score, k) - aggregate keeping the k highest-scoring " +
          "(id, score) pairs per group, sorted score desc, ties id asc",
        "_FUNC_(bigint, double, int)"),
      // analyzer wraps a bare AggregateFunction in AggregateExpression
      exprs => graft.functions.TopKByExpr(exprs(0), exprs(1), exprs(2))))
    e.injectFunction((
      new FunctionIdentifier("sample_k"),
      new ExpressionInfo(
        classOf[graft.functions.SampleKExpr].getName, null, "sample_k",
        "_FUNC_(id, seed, k) - deterministic bottom-k-by-md5-priority " +
          "sample per group: membership is a pure function of (seed, id), " +
          "independent of partitioning and row order",
        "_FUNC_(bigint, bigint, int)"),
      exprs => graft.functions.SampleKExpr(exprs(0), exprs(1), exprs(2))))
    e.injectFunction((
      new FunctionIdentifier("space_saving"),
      new ExpressionInfo(
        classOf[graft.functions.SpaceSavingExpr].getName, null, "space_saving",
        "_FUNC_(item, capacity) - bounded-memory space-saving heavy-hitter " +
          "sketch per group: every item with frequency > N/capacity is " +
          "guaranteed present; counts are upper bounds with per-entry error",
        "_FUNC_(string, int)"),
      exprs => graft.functions.SpaceSavingExpr(exprs(0), exprs(1))))
    e.injectFunction((
      new FunctionIdentifier("cosine_similarity"),
      new ExpressionInfo(
        classOf[CosineSimilarityExpr].getName, null, "cosine_similarity",
        "_FUNC_(a, b) - cosine similarity of two float vectors " +
          "(zero-norm vectors map to 0.0, sklearn convention)",
        "_FUNC_(array<float>, array<float>)"),
      exprs => CosineSimilarityExpr(exprs(0), exprs(1))))
  }
}
