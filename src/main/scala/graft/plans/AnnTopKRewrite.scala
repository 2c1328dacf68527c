package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, FloatType}

import graft.functions.CosineSimilarityExpr
import graft.operators.AnnSearch

/** Optimizer rule (SURVEY.md §4 candidate 2): rewrite
  *
  * {{{ ORDER BY cosine_similarity(emb, <literal query vector>) DESC LIMIT k }}}
  *
  * over a relation carrying an `lsh_bucket` column into the same plan with
  * an injected `lsh_bucket IN (probe buckets)` filter — turning an
  * O(corpus) scan into a partition-/bucket-pruned scan when the index is
  * stored bucket-partitioned ([[graft.sources.TableIO.writeAnnIndex]]).
  *
  * This trades exactness for scan volume (recall follows the
  * random-hyperplane collision bound), so it is strictly OPT-IN:
  *
  * `spark.graft.ann.rewrite = true` enables it (default false). The
  * hyperplanes are the ones the stored index was bucketed with:
  * [[AnnSearch.LshPlanes]] planes from [[AnnSearch.LshSeed]].
  *
  * The probe set is the query's own bucket plus all 1-bit flips
  * (multiprobe), mirroring [[AnnSearch.probeBuckets]]. Installed with
  * the other [[Rules]].
  */
object AnnTopKRewrite extends Rule[LogicalPlan] {

  private val BucketCol = "lsh_bucket"

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!conf.getConfString("spark.graft.ann.rewrite", "false").toBoolean) return plan

    plan.transformDown {
      // head sort key = similarity DESC; trailing unique tiebreakers are
      // allowed (they don't change the approximate-scan trade). Between
      // the Sort and the bucket-bearing relation any stack of
      // Project/Filter nodes is tolerated — analysis commonly leaves an
      // extra Project, and user predicates (e.g. shard filters) must not
      // silently disable the rewrite.
      case limit @ Limit(limitExpr, sort @ Sort(
          SortOrder(attr: Attribute, Descending, _, _) +: _, true,
          sortChild, _)) =>
        val (chain, base) = unstack(sortChild)
        // idempotency/fixpoint guard: once the probe IN-filter is in the
        // chain, the shape matches again on the next optimizer iteration —
        // never inject twice
        val alreadyPruned = chain.exists {
          case Filter(In(a: Attribute, _), _) if a.name == BucketCol => true
          case _ => false
        }
        if (alreadyPruned || !base.output.exists(_.name == BucketCol)) limit
        else resolveThroughChain(attr, chain) match {
          case Some(qVec) if qVec.nonEmpty =>
            val bucketAttr = base.output.find(_.name == BucketCol).get
            val planes = AnnSearch.hyperplanes(
              AnnSearch.LshPlanes, qVec.length, AnnSearch.LshSeed)
            val probes = AnnSearch.probeBuckets(qVec, planes)
            // inject directly above the relation so the IN-filter can
            // become partition pruning regardless of what sits between
            val rewritten = sortChild.transformUp {
              case p if p eq base =>
                Filter(In(bucketAttr, probes.map(b => Literal(b))), base)
            }
            // rebuild through Limit.apply to keep the canonical
            // GlobalLimit(LocalLimit(Sort(...))) pair intact — dropping
            // the LocalLimit would lose the TakeOrderedAndProject shape
            Limit(limitExpr, sort.copy(child = rewritten))
          case _ => limit
        }
    }
  }

  /** Peel the stack of Project/Filter nodes under the Sort; returns the
    * stack (top-down) and the first non-Project/Filter plan beneath it.
    */
  private def unstack(p: LogicalPlan): (Seq[LogicalPlan], LogicalPlan) = p match {
    case proj @ Project(_, child) =>
      val (stack, base) = unstack(child); (proj +: stack, base)
    case f @ Filter(_, child) =>
      val (stack, base) = unstack(child); (f +: stack, base)
    case other => (Seq.empty, other)
  }

  /** Resolve `attr` through the Project stack's alias layers (top-down);
    * if the fully-substituted expression computes cosine similarity
    * against a literal float vector, extract that vector.
    */
  private def resolveThroughChain(attr: Attribute,
                                  chain: Seq[LogicalPlan]): Option[Array[Float]] = {
    var expr: Expression = attr
    chain.foreach {
      case Project(projectList, _) =>
        expr = expr.transformUp {
          case a: Attribute =>
            projectList.collectFirst {
              case al @ Alias(aliased, _) if al.exprId == a.exprId => aliased
            }.getOrElse(a)
        }
      case _ => // Filter renames nothing
    }
    expr.collectFirst {
      case CosineSimilarityExpr(_, lit @ Literal(_, ArrayType(FloatType, _))) =>
        literalFloats(lit)
      case CosineSimilarityExpr(lit @ Literal(_, ArrayType(FloatType, _)), _) =>
        literalFloats(lit)
    }
  }

  private def literalFloats(l: Literal): Array[Float] =
    l.value.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toFloatArray()
}
