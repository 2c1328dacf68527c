package graft.plans

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types._

import graft.sources.MaterializedView.MvDef
import graft.sources.{IncrementalView, MaterializedView, SnapshotFileIndex, SnapshotTable}

/** `[EXT]` Transparent materialized-view query rewrite — the warehouse
  * optimization (Goldstein & Larson, SIGMOD '01; shipped by Calcite,
  * Hive, and every commercial warehouse): an aggregate over a snapshot
  * table scan is answered from a registered
  * [[graft.sources.MaterializedView]] summary instead, with NO query
  * change, when the rule can PROVE the substitution exact:
  *
  *  - the scan is a bare snapshot relation (through attribute-only
  *    Projects and key-only Filters — anything else leaves the plan
  *    alone);
  *  - the scanned file set EQUALS the live file set of the source
  *    version the view has applied (tag ledger `mv@v`), with no
  *    pending delete masks on either side — so the scan provably reads
  *    exactly the summarized state (a stale view, or a time-traveled
  *    read at any other version, fails this check and is never
  *    claimed);
  *  - grouping is the view key (or global), and every output is built
  *    from `count(*)`, `count(v)`, `sum(v)`, `min(v)`, `max(v)`,
  *    `avg(v)` (double only) over EXACTLY the registered value
  *    expression, the key, and scalar wrappers thereof — each mapped
  *    to its partial-merge form over the summary (`count(*) →
  *    sum(mv_n)`, `sum(v) → sum(mv_sum)`, …), the same reassociation
  *    Spark's own two-phase aggregation performs.
  *
  * At 100 TB the payoff is the classic one: the operational per-key
  * count/total/extrema queries that hammer a fact table collapse from
  * a full scan to a key-cardinality summary scan, and the proof burden
  * stays on the manifests already in driver memory. The rewritten scan
  * filters `mv_n > 0` (belt-and-braces against a refresh that crashed
  * between its merge and ghost purge) and keeps key predicates, which
  * push down to the view's manifest stats as usual.
  *
  * The JOIN form ([[tryRewriteJoin]]) extends the proof to `fact ⋈ dim
  * GROUP BY group-key` aggregates over a registered delta-maintained
  * join view ([[graft.sources.IncrementalView.createJoin]]): BOTH scans
  * must match the view's applied `(vF, vD)` version pair exactly, the
  * join must be the registered inner equi-key pair, filters may touch
  * the group key only (optimizer-inferred `isnotnull(joinKey)`
  * conjuncts are ignored — they are implied by the inner equi-join the
  * view summarizes), and `count(*) → Σn` / `sum(cast(v as dec(18,2)))
  * → Σtotal` with output types proven equal. The 100 TB win compounds:
  * the join itself disappears, not just the aggregate.
  *
  * Installed with the other [[Rules]]; switch it off with
  * `spark.sql.optimizer.excludedRules=graft.plans.MviewRewrite` (the
  * spec switches it off to prove rewritten ≡ scanned).
  */
object MviewRewrite extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!(MaterializedView.anyRegistered ||
          MaterializedView.anyJoinRegistered)) plan
    else plan.transformDown {
      case agg: Aggregate =>
        try tryRewrite(agg).orElse(tryRewriteJoin(agg)).getOrElse(agg)
        catch { case NonFatal(_) => agg }
    }

  /** Child decomposition: attribute-only Projects stripped, Filter
    * conditions collected, ending at a non-streaming snapshot relation.
    */
  private def unwrap(p: LogicalPlan, conds: Seq[Expression])
      : Option[(Seq[Expression], SnapshotFileIndex, LogicalRelation)] =
    p match {
      case Project(ps, c) if ps.forall(_.isInstanceOf[AttributeReference]) =>
        unwrap(c, conds)
      case f: Filter if f.condition.deterministic =>
        unwrap(f.child, conds :+ f.condition)
      case l: LogicalRelation if !l.isStreaming => l.relation match {
        case fs: HadoopFsRelation => fs.location match {
          case idx: SnapshotFileIndex => Some((conds, idx, l))
          case _ => None
        }
        case _ => None
      }
      case _ => None
    }

  private def tryRewrite(agg: Aggregate): Option[LogicalPlan] = {
    val (conds, idx, rel) = unwrap(agg.child, Nil).getOrElse(return None)
    val spark = SparkSession.active
    val resolver = conf.resolver

    MaterializedView.defsFor(idx.tablePath).view.flatMap { d =>
      // self-guard: never rewrite a scan of the view itself
      if (MaterializedView.norm(d.view) == MaterializedView.norm(idx.tablePath))
        None
      else for {
        keyAttr <- rel.output.find(a => resolver(a.name, d.keyCol))
        valAttr <- rel.output.find(a => resolver(a.name, d.valueCol))
        // filters may constrain the KEY only (they transfer verbatim)
        if conds.forall(_.references.subsetOf(AttributeSet(keyAttr)))
        // grouping: global, or exactly the view key
        if agg.groupingExpressions.isEmpty ||
          (agg.groupingExpressions match {
            case Seq(a: AttributeReference) => a.exprId == keyAttr.exprId
            case _ => false
          })
        if fresh(spark, d, idx)
        rewritten <- build(spark, agg, d, keyAttr, valAttr, conds)
      } yield rewritten
    }.headOption
  }

  /** The scan's planned paths equal the applied source version's live
    * paths, no delete masks pending — the exactness proof.
    */
  private def fresh(spark: SparkSession, d: MvDef,
                    idx: SnapshotFileIndex): Boolean = {
    val applied = IncrementalView.appliedVersion(spark, d.view)
    scanIsVersion(spark, d.src, applied, idx)
  }

  private def scanIsVersion(spark: SparkSession, table: String, v: Long,
                            idx: SnapshotFileIndex): Boolean = {
    val (paths, masked) = SnapshotTable.liveState(spark, table, v)
    !masked && idx.fileEntries.map(_.path).toSet == paths
  }

  // ------------------------------------------------------------------
  // fact ⋈ dim aggregate → registered join view
  // ------------------------------------------------------------------

  private def tryRewriteJoin(agg: Aggregate): Option[LogicalPlan] = {
    // strip Projects/Filters above the join, then on each side
    def toJoin(p: LogicalPlan, conds: Seq[Expression])
        : Option[(Seq[Expression], Join)] = p match {
      case Project(ps, c) if ps.forall(_.isInstanceOf[AttributeReference]) =>
        toJoin(c, conds)
      case f: Filter if f.condition.deterministic =>
        toJoin(f.child, conds :+ f.condition)
      case j: Join => Some((conds, j))
      case _ => None
    }
    val (topConds, join) = toJoin(agg.child, Nil).getOrElse(return None)
    if (join.joinType != Inner) return None
    val (lConds, lIdx, lRel) = unwrap(join.left, Nil).getOrElse(return None)
    val (rConds, rIdx, rRel) = unwrap(join.right, Nil).getOrElse(return None)
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(a, b) => conjuncts(a) ++ conjuncts(b)
      case other => Seq(other)
    }
    val conds = (topConds ++ lConds ++ rConds).flatMap(conjuncts)
    val spark = SparkSession.active
    val resolver = conf.resolver

    // registered (fact, dim) in either plan order
    val cands: Seq[(graft.sources.MaterializedView.JoinMvDef,
        SnapshotFileIndex, LogicalRelation, SnapshotFileIndex, LogicalRelation)] =
      MaterializedView.defsForJoin(lIdx.tablePath, rIdx.tablePath)
        .map(d => (d, lIdx, lRel, rIdx, rRel)) ++
      MaterializedView.defsForJoin(rIdx.tablePath, lIdx.tablePath)
        .map(d => (d, rIdx, rRel, lIdx, lRel))

    cands.view.flatMap { case (d, fIdx, fRel, dIdx, dRel) =>
      for {
        fk <- fRel.output.find(a => resolver(a.name, d.factKey))
        dk <- dRel.output.find(a => resolver(a.name, d.dimKey))
        // the join condition is exactly the registered equi-key pair
        ok = join.condition.exists {
          case EqualTo(a: AttributeReference, b: AttributeReference) =>
            Set(a.exprId, b.exprId) == Set(fk.exprId, dk.exprId)
          case _ => false
        }
        if ok
        // the group key lives on either side; filters may touch it only
        // (isnotnull on a join key is implied by the inner equi-join the
        // view summarizes — the optimizer infers those, ignore them)
        gAttr <- (dRel.output ++ fRel.output)
          .find(a => resolver(a.name, d.groupKey))
        userConds = conds.filterNot {
          case IsNotNull(a: AttributeReference) =>
            a.exprId == fk.exprId || a.exprId == dk.exprId
          case _ => false
        }
        if userConds.forall(_.references.subsetOf(AttributeSet(gAttr)))
        if (agg.groupingExpressions match {
          case Seq(a: AttributeReference) => a.exprId == gAttr.exprId
          case Nil => true
          case _ => false
        })
        vAttr <- fRel.output.find(a => resolver(a.name, d.valueCol))
        vv = IncrementalView.appliedJoinVersions(spark, d.view)
        (vF, vD) = vv
        if scanIsVersion(spark, d.fact, vF, fIdx) &&
          scanIsVersion(spark, d.dim, vD, dIdx)
        rewritten <- buildJoin(spark, agg, d, gAttr, vAttr, userConds)
      } yield rewritten
    }.headOption
  }

  /** Substitute the join view for the matched fact⋈dim aggregate:
    * `count(*) → sum(n)`, `sum(cast(v as decimal(18,2))) → sum(total)`
    * (cast back to the original result type), grouping and key filters
    * remapped onto the view's group column.
    */
  private def buildJoin(spark: SparkSession, agg: Aggregate,
                        d: graft.sources.MaterializedView.JoinMvDef,
                        gAttr: AttributeReference, vAttr: AttributeReference,
                        conds: Seq[Expression]): Option[LogicalPlan] = {
    val mvPlan = SnapshotTable.read(spark, d.view).queryExecution.analyzed
    def mv(name: String): AttributeReference =
      mvPlan.output.collectFirst {
        case a: AttributeReference if a.name == name => a
      }.getOrElse(sys.error(s"join view ${d.view}: no column $name"))
    val (mvG, mvN, mvTotal) = (mv(d.groupKey), mv("n"), mv("total"))

    def isValue(e: Expression): Boolean = e match {
      case c: Cast => c.child match {
        case a: AttributeReference =>
          c.dataType == DecimalType(18, 2) && a.exprId == vAttr.exprId
        case _ => false
      }
      case _ => false
    }

    def sumOf(a: AttributeReference): Expression =
      AggregateExpression(Sum(a), Complete, isDistinct = false)

    def rewriteAgg(ae: AggregateExpression): Option[Expression] =
      if (ae.isDistinct || ae.filter.nonEmpty) None
      else ae.aggregateFunction match {
        case Count(Seq(Literal(v, _))) if v != null => Some(sumOf(mvN))
        case Sum(e, _) if isValue(e) =>
          val s = sumOf(mvTotal)
          Some(if (s.dataType == ae.dataType) s else Cast(s, ae.dataType))
        case _ => None
      }

    def rewriteExpr(e: Expression): Option[Expression] = e match {
      case ae: AggregateExpression => rewriteAgg(ae)
      case a: AttributeReference if a.exprId == gAttr.exprId => Some(mvG)
      case _: AttributeReference => None
      case other =>
        val kids = other.children.map(rewriteExpr)
        if (kids.forall(_.isDefined)) Some(other.withNewChildren(kids.map(_.get)))
        else None
    }

    def rewriteNamed(ne: NamedExpression): Option[NamedExpression] = ne match {
      case a: AttributeReference if a.exprId == gAttr.exprId =>
        Some(Alias(mvG, a.name)(exprId = a.exprId))
      case al @ Alias(child, name) =>
        rewriteExpr(child).map(c => Alias(c, name)(exprId = al.exprId))
      case _ => None
    }

    val outs = agg.aggregateExpressions.map(rewriteNamed)
    if (outs.exists(_.isEmpty)) return None
    if (outs.map(_.get).zip(agg.aggregateExpressions)
          .exists { case (n, o) => n.dataType != o.dataType }) return None

    val keyPred = conds.map(_.transform {
      case a: AttributeReference if a.exprId == gAttr.exprId => mvG
    })
    val pred = (keyPred :+ GreaterThan(mvN, Literal(0L))).reduce(And)
    val grouping: Seq[Expression] =
      if (agg.groupingExpressions.isEmpty) Nil else Seq(mvG)
    Some(Aggregate(grouping, outs.map(_.get), Filter(pred, mvPlan)))
  }

  private def build(spark: SparkSession, agg: Aggregate, d: MvDef,
                    keyAttr: AttributeReference, valAttr: AttributeReference,
                    conds: Seq[Expression]): Option[LogicalPlan] = {
    val mvPlan = SnapshotTable.read(spark, d.view).queryExecution.analyzed
    def mv(name: String): AttributeReference =
      mvPlan.output.collectFirst {
        case a: AttributeReference if a.name == name => a
      }.getOrElse(sys.error(s"materialized view ${d.view}: no column $name"))
    val (mvKey, mvN, mvNv, mvSum, mvMin, mvMax) =
      (mv(d.keyCol), mv("mv_n"), mv("mv_nv"), mv("mv_sum"), mv("mv_min"), mv("mv_max"))

    // the registered value expression, as it appears over the scan
    def isValue(e: Expression): Boolean = e match {
      case a: AttributeReference =>
        d.castTo.isEmpty && a.exprId == valAttr.exprId
      case c: Cast => c.child match {
        case a: AttributeReference =>
          d.castTo.contains(c.dataType) && a.exprId == valAttr.exprId
        case _ => false
      }
      case _ => false
    }

    def sumOf(a: AttributeReference): Expression =
      AggregateExpression(Sum(a), Complete, isDistinct = false)

    def rewriteAgg(ae: AggregateExpression): Option[Expression] =
      if (ae.isDistinct || ae.filter.nonEmpty) None
      else ae.aggregateFunction match {
        case Count(Seq(Literal(v, _))) if v != null => Some(sumOf(mvN))
        case Count(Seq(e)) if isValue(e) => Some(sumOf(mvNv))
        case Sum(e, _) if isValue(e) =>
          val s = sumOf(mvSum)
          Some(if (s.dataType == ae.dataType) s else Cast(s, ae.dataType))
        case Min(e) if isValue(e) =>
          Some(AggregateExpression(Min(mvMin), Complete, isDistinct = false))
        case Max(e) if isValue(e) =>
          Some(AggregateExpression(Max(mvMax), Complete, isDistinct = false))
        case Average(e, _) if isValue(e) && e.dataType == DoubleType =>
          Some(Divide(sumOf(mvSum), Cast(sumOf(mvNv), DoubleType)))
        case _ => None
      }

    def rewriteExpr(e: Expression): Option[Expression] = e match {
      case ae: AggregateExpression => rewriteAgg(ae)
      case a: AttributeReference if a.exprId == keyAttr.exprId => Some(mvKey)
      case _: AttributeReference => None
      case other =>
        val kids = other.children.map(rewriteExpr)
        if (kids.forall(_.isDefined)) Some(other.withNewChildren(kids.map(_.get)))
        else None
    }

    def rewriteNamed(ne: NamedExpression): Option[NamedExpression] = ne match {
      case a: AttributeReference if a.exprId == keyAttr.exprId =>
        Some(Alias(mvKey, a.name)(exprId = a.exprId))
      case al @ Alias(child, name) =>
        rewriteExpr(child).map(c => Alias(c, name)(exprId = al.exprId))
      case _ => None
    }

    val outs = agg.aggregateExpressions.map(rewriteNamed)
    if (outs.exists(_.isEmpty)) return None
    // output types must match the original's exactly
    if (outs.map(_.get).zip(agg.aggregateExpressions)
          .exists { case (n, o) => n.dataType != o.dataType }) return None

    val keyPred = conds.map(_.transform {
      case a: AttributeReference if a.exprId == keyAttr.exprId => mvKey
    })
    val pred = (keyPred :+ GreaterThan(mvN, Literal(0L))).reduce(And)
    val grouping: Seq[Expression] =
      if (agg.groupingExpressions.isEmpty) Nil else Seq(mvKey)
    Some(Aggregate(grouping, outs.map(_.get), Filter(pred, mvPlan)))
  }
}
