package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types._

import graft.sources.SnapshotFileIndex
import graft.sources.SnapshotTable.FileEntry

/** `[EXT]` Metadata-only aggregate answering for snapshot tables — the
  * published Iceberg/Delta "metadata query" optimization: a whole-table
  * `COUNT(*)` / `MIN(col)` / `MAX(col)` over a snapshot relation is
  * answered from the MANIFEST (per-file row counts and min/max stats),
  * `SUM(col)` / `AVG(col)` over INTEGRAL columns from the ANALYZE
  * sidecar's exact decimal sums ([[graft.sources.TableStats]]'s
  * `sumCols` — O(Δ)-maintained, fingerprint-gated), and the whole
  * aggregate rewritten to a [[LocalRelation]], so the query plans ZERO
  * data files. At 100 TB that turns "how many rows / what key range /
  * what total" — the most common operational queries against a big
  * table — from full scans into driver-side folds over metadata
  * already in memory from planning.
  *
  * The rewrite fires only when it is PROVABLY exact:
  *
  *  - grouping is empty (or exactly the partition column) and the child
  *    is a bare snapshot relation (optionally through a column-pruning
  *    Project and PARTITION-ONLY equality/IN Filters, answered exactly
  *    from the writer's one-value-per-file invariant) — any other
  *    filter, mask, join, or grouping leaves the plan alone. Pending
  *    DELETES never reach this shape: a masked read plans anti-joins on
  *    top of the relation, so the pattern cannot match it.
  *  - `count(1)` needs every entry's recorded row count (> 0 — the
  *    writer never emits empty files; a zero count marks a fixture
  *    entry whose rows were never measured, and disables the rewrite).
  *  - `min/max(c)` needs EVERY entry to carry stats for `c`. A file
  *    records no stats for a column exactly when the column was absent
  *    or all-NULL in it — such a file contributes nothing to min/max
  *    anyway, but with no recorded evidence we cannot tell that case
  *    from "column never measured", so any stats-less entry disables
  *    the rewrite for that column (never wrong, just not rewritten).
  *  - stats are stored as doubles (`cast(col as double)` at write);
  *    the rewrite only claims types whose values round-trip exactly:
  *    byte/short/int/float/double always, long only while the recorded
  *    bound's magnitude stays under 2^53 (beyond that the cast may have
  *    rounded and the stat is an approximation — timestamps, recorded
  *    as fractional epoch seconds, are excluded for the same reason).
  *
  * Installed with the other [[Rules]]; switch it off with
  * `spark.sql.optimizer.excludedRules=graft.plans.MetadataAggPushdown`
  * (the spec switches it off to prove rewritten ≡ scanned).
  */
object MetadataAggPushdown extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformDown {
      case agg: Aggregate if agg.groupingExpressions.isEmpty =>
        bareSnapshotEntries(agg.child) match {
          case Some(entries) =>
            // count(DISTINCT col) proof path: only for an UNFILTERED
            // bare relation (any filter changes the distinct count in
            // ways file stats cannot see), answered from the table's
            // ANALYZE sidecar when its fingerprint matches the planned
            // file list and the sketch is exact — see TableStats
            val ndv: String => Option[Any] = name =>
              bareUnfilteredIndex(agg.child).flatMap { idx =>
                graft.sources.TableStats.exactDistinct(
                  SparkSession.active, idx.tablePath, name,
                  idx.fileEntries.map(_.path))
              }
            // sum(col)/avg(col) proof path: the ANALYZE sidecar's exact
            // decimal sums (integral columns only), same unfiltered-
            // bare-relation + fingerprint gate as the distinct count
            val sums: String => Option[(java.math.BigDecimal, Long)] =
              name => bareUnfilteredIndex(agg.child).flatMap { idx =>
                graft.sources.TableStats.exactSum(
                  SparkSession.active, idx.tablePath, name,
                  idx.fileEntries.map(_.path))
              }
            val computed =
              agg.aggregateExpressions.map(e => evalAgg(e, entries, ndv, sums))
            if (computed.forall(_.isDefined))
              LocalRelation(agg.aggregateExpressions.map(_.toAttribute),
                Seq(InternalRow.fromSeq(computed.map(_.get))))
            else agg
          case None => agg
        }

      // GROUP BY the partition column: every file holds exactly one
      // partition value (the writer's invariant), so the manifest's
      // per-file (value, rows, stats) lines group into exact per-
      // partition answers — the "rows per partition" operational
      // profile costs zero data files
      case agg: Aggregate if agg.groupingExpressions.size == 1 =>
        (agg.groupingExpressions.head, bareSnapshotEntries(agg.child)) match {
          case (g: AttributeReference, Some(entries))
              if entries.nonEmpty && entries.forall(e =>
                e.partBy.contains(g.name) &&
                  e.parts.exists(_.size == 1) &&
                  !e.parts.exists(_.exists(_ ==
                    "__HIVE_DEFAULT_PARTITION__"))) &&
                groupKeyVal(g, entries.head.parts.get.head).isDefined =>
            // per-partition SUM/AVG lane: the sidecar's value-keyed
            // grouped sums, gated on the fingerprint of the FULL
            // planned list (partition filters restrict entries to
            // whole value-groups, so each surviving group's recorded
            // sum is that group's true sum). Sidecar read memoized
            // per column per rewrite.
            val idxOpt = indexOf(agg.child)
            val gsumCache = scala.collection.mutable.Map.empty[
              String,
              Option[(String, Map[String, (java.math.BigDecimal, Long)])]]
            def gsumOf(name: String) = gsumCache.getOrElseUpdate(name,
              idxOpt.flatMap { idx =>
                graft.sources.TableStats.exactGroupSum(SparkSession.active,
                  idx.tablePath, name, idx.fileEntries.map(_.path))
              }.filter(_._1 == g.name))
            val groups = entries.groupBy(_.parts.get.head).toSeq
            val rows = groups.map { case (value, es) =>
              val sumsForGroup: String =>
                  Option[(java.math.BigDecimal, Long)] =
                name => gsumOf(name).flatMap(_._2.get(value))
              val computed = agg.aggregateExpressions.map {
                case a: AttributeReference if a.exprId == g.exprId =>
                  groupKeyVal(g, value)
                case Alias(a: AttributeReference, _) if a.exprId == g.exprId =>
                  groupKeyVal(g, value)
                case e => evalAgg(e, es, sums = sumsForGroup)
              }
              if (computed.forall(_.isDefined))
                Some(InternalRow.fromSeq(computed.map(_.get)))
              else None
            }
            if (rows.forall(_.isDefined))
              LocalRelation(agg.aggregateExpressions.map(_.toAttribute),
                rows.map(_.get))
            else agg
          case _ => agg
        }
    }

  /** The grouping attribute's internal value from the partition-value
    * string the writer recorded; None = type not provably round-trip.
    */
  private def groupKeyVal(g: AttributeReference, v: String): Option[Any] =
    try g.dataType match {
      case StringType  => Some(org.apache.spark.unsafe.types.UTF8String.fromString(v))
      case IntegerType => Some(v.toInt)
      case LongType    => Some(v.toLong)
      case ShortType   => Some(v.toShort)
      case ByteType    => Some(v.toByte)
      case _           => None
    } catch { case _: NumberFormatException => None }

  /** The child IS a snapshot relation (possibly under a column-pruning
    * Project of bare attributes), with any Filters in between
    * constraining ONLY the partition column by equality / IN — those
    * restrict the manifest entries exactly (the writer's one-value-per-
    * file invariant), so `count(*) WHERE part = x` is still a manifest
    * fold. Any other filter shape refuses.
    */
  private def bareSnapshotEntries(plan: LogicalPlan): Option[Seq[FileEntry]] =
    plan match {
      case Project(projs, inner) if projs.forall(_.isInstanceOf[AttributeReference]) =>
        bareSnapshotEntries(inner)
      case f: Filter =>
        bareSnapshotEntries(f.child).flatMap(restrict(f.condition, _))
      // never claim a STREAMING frame: an aggregate in a streaming
      // query has incremental-state semantics a LocalRelation subplan
      // would silently break
      case l: LogicalRelation if !l.isStreaming => l.relation match {
        case fs: HadoopFsRelation => fs.location match {
          case idx: SnapshotFileIndex => Some(idx.fileEntries)
          case _                      => None
        }
        case _ => None
      }
      case _ => None
    }

  /** Entries surviving a partition-only predicate, or None when the
    * predicate (or the layout) cannot be answered from partition values
    * alone. Requires EVERY entry partitioned by the filtered column
    * with exactly one recorded non-default value — a partition-evolved
    * layout (files stamped with another column) could hold matching
    * rows the values cannot prove either way.
    *
    * Equality/IN split by stamp-set membership; RANGE conjuncts
    * (`>=`/`>`/`<=`/`<`, BETWEEN via its two conjuncts) split by the
    * stamp ORDER in the column's own semantics ([[StampOrder]]). The
    * proof obligation here is EXACT two ways (unlike the top-k tier's
    * at-least-k counting): a kept file's rows ALL pass and a dropped
    * file's rows ALL fail — true because every file carries exactly
    * one stamp value; a stamp that fails to parse as the column's
    * type refuses the whole rewrite (dropping it would undercount).
    */
  private def restrict(cond: Expression,
                       entries: Seq[FileEntry]): Option[Seq[FileEntry]] = {
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(a, b) => conjuncts(a) ++ conjuncts(b)
      case other     => Seq(other)
    }
    def partLit(l: Literal): Option[String] = (l.value, l.dataType) match {
      case (null, _) => None
      case (v: org.apache.spark.unsafe.types.UTF8String, StringType) =>
        Some(v.toString)
      case (v: java.lang.Integer, _) => Some(v.toString)
      case (v: java.lang.Long, _)    => Some(v.toString)
      case (v: java.lang.Short, _)   => Some(v.toString)
      case (v: java.lang.Byte, _)    => Some(v.toString)
      case _ => None
    }
    def singleValued(name: String): Boolean =
      entries.forall(e => e.partBy.contains(name) &&
        e.parts.exists(_.size == 1) &&
        !e.parts.exists(_.exists(_ == "__HIVE_DEFAULT_PARTITION__")))
    // exact two-way split by stamp order; None = unprovable (a null
    // literal, an orderless type, or a stamp that fails to parse)
    def range(es: Seq[FileEntry], a: AttributeReference, v: Literal,
              sign: Int => Boolean): Option[Seq[FileEntry]] = {
      if (v.value == null) return None
      val cmp = StampOrder.cmp(a.dataType, v.value).getOrElse(return None)
      val decided = es.map(e => cmp(e.parts.get.head))
      if (decided.exists(_.isEmpty)) None
      else Some(es.zip(decided).collect {
        case (e, Some(c)) if sign(c) => e
      })
    }
    conjuncts(cond).foldLeft(Option(entries)) { (acc, c) =>
      acc.flatMap { es =>
        c match {
          // recorded partition values are never null (null landed in the
          // default dir, which singleValued refuses) — no-op restriction
          case IsNotNull(a: AttributeReference) if singleValued(a.name) =>
            Some(es)
          case EqualTo(a: AttributeReference, v: Literal)
              if singleValued(a.name) =>
            partLit(v).map(s => es.filter(_.parts.get.head == s))
          case EqualTo(v: Literal, a: AttributeReference)
              if singleValued(a.name) =>
            partLit(v).map(s => es.filter(_.parts.get.head == s))
          case In(a: AttributeReference, vs)
              if singleValued(a.name) && vs.forall(_.isInstanceOf[Literal]) =>
            val strs = vs.map(v => partLit(v.asInstanceOf[Literal]))
            if (strs.exists(_.isEmpty)) None
            else Some(es.filter(e => strs.flatten.contains(e.parts.get.head)))
          case GreaterThanOrEqual(a: AttributeReference, v: Literal)
              if singleValued(a.name) => range(es, a, v, _ >= 0)
          case GreaterThan(a: AttributeReference, v: Literal)
              if singleValued(a.name) => range(es, a, v, _ > 0)
          case LessThanOrEqual(a: AttributeReference, v: Literal)
              if singleValued(a.name) => range(es, a, v, _ <= 0)
          case LessThan(a: AttributeReference, v: Literal)
              if singleValued(a.name) => range(es, a, v, _ < 0)
          case GreaterThanOrEqual(v: Literal, a: AttributeReference)
              if singleValued(a.name) => range(es, a, v, _ <= 0)
          case GreaterThan(v: Literal, a: AttributeReference)
              if singleValued(a.name) => range(es, a, v, _ < 0)
          case LessThanOrEqual(v: Literal, a: AttributeReference)
              if singleValued(a.name) => range(es, a, v, _ >= 0)
          case LessThan(v: Literal, a: AttributeReference)
              if singleValued(a.name) => range(es, a, v, _ > 0)
          case _ => None
        }
      }
    }
  }

  /** Largest long magnitude whose `cast(double)` is exact. */
  private val ExactLong = 1L << 53

  /** The snapshot index under the (already-vetted) grouped-fold child
    * — permissive on Filters because [[bareSnapshotEntries]] admitted
    * only exact partition predicates, and the grouped-sums proof gates
    * on the index's FULL planned list, which no Filter changes.
    */
  private def indexOf(plan: LogicalPlan): Option[SnapshotFileIndex] =
    plan match {
      case Project(ps, inner) if ps.forall(_.isInstanceOf[AttributeReference]) =>
        indexOf(inner)
      case f: Filter => indexOf(f.child)
      case l: LogicalRelation if !l.isStreaming => l.relation match {
        case fs: HadoopFsRelation => fs.location match {
          case idx: SnapshotFileIndex => Some(idx)
          case _                      => None
        }
        case _ => None
      }
      case _ => None
    }

  /** The child is a bare UNFILTERED snapshot relation (only a column-
    * pruning Project allowed) — the shape under which a whole-table
    * statistic like a distinct count is applicable verbatim.
    */
  private def bareUnfilteredIndex(plan: LogicalPlan): Option[SnapshotFileIndex] =
    plan match {
      case Project(projs, inner) if projs.forall(_.isInstanceOf[AttributeReference]) =>
        bareUnfilteredIndex(inner)
      case l: LogicalRelation if !l.isStreaming => l.relation match {
        case fs: HadoopFsRelation => fs.location match {
          case idx: SnapshotFileIndex => Some(idx)
          case _                      => None
        }
        case _ => None
      }
      case _ => None
    }

  /** Evaluate one aggregate output column from the manifest; None =
    * shape or evidence not supported, the whole rewrite is abandoned.
    *
    * General shape: every [[AggregateExpression]] in the tree folds to
    * a literal, and the REMAINING scalar tree evaluates driver-side —
    * so post-aggregate arithmetic (`sum(x) + 1`, `round(avg(p), 2)`,
    * and the optimizer's own DecimalAggregates rewrite
    * `cast(avg(UnscaledValue(c)) / 10^s as decimal)`) folds with
    * Spark's verbatim scalar semantics (the expressions ARE Spark's).
    * Refused whenever any aggregate lacks a proof, an attribute
    * survives substitution (a grouped passthrough this fold does not
    * own), the tree is nondeterministic, or the eval throws (an ANSI
    * overflow the scan must raise on its own terms).
    */
  private def evalAgg(e: NamedExpression, entries: Seq[FileEntry],
                      ndv: String => Option[Any] = _ => None,
                      sums: String => Option[(java.math.BigDecimal, Long)] =
                        _ => None): Option[Any] = {
    var ok = true
    val subst = e.transform {
      case ae: AggregateExpression =>
        evalFn(ae, entries, ndv, sums) match {
          case Some(v) => Literal(v, ae.dataType)
          case None    => ok = false; ae
        }
    }
    if (!ok) return None
    val body = subst match {
      case Alias(c, _) => c
      case other       => other
    }
    if (body.exists(x => x.isInstanceOf[AttributeReference] ||
        x.isInstanceOf[AggregateExpression]) || !body.deterministic) None
    else
      try Some(body.eval(InternalRow.empty))
      catch { case scala.util.control.NonFatal(_) => None }
  }

  private val LongMaxBd = java.math.BigDecimal.valueOf(Long.MaxValue)
  private val LongMinBd = java.math.BigDecimal.valueOf(Long.MinValue)

  private def isIntegral(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  /** Every entry carries the column's stats and the recorded bounds are
    * all same-signed — with an in-range total this bounds every partial
    * sum by the total, making both the scan's double accumulation (avg)
    * and ANSI's overflow check (sum) provably agree with the fold.
    */
  private def sameSignEvidence(a: AttributeReference,
                               entries: Seq[FileEntry]): Boolean = {
    val sts = entries.map(_.stats.find(_.col == a.name))
    entries.nonEmpty && sts.forall(_.isDefined) && {
      val real = sts.flatten.filterNot(s => s.lo.isNaN || s.hi.isNaN)
      real.forall(_.lo >= 0.0) || real.forall(_.hi <= 0.0)
    }
  }

  private def evalFn(ae: AggregateExpression, entries: Seq[FileEntry],
                     ndv: String => Option[Any],
                     sums: String => Option[(java.math.BigDecimal, Long)])
      : Option[Any] =
    if (ae.isDistinct && ae.filter.isEmpty) ae.aggregateFunction match {
      // exact-regime distinct count from the ANALYZE sidecar
      case Count(Seq(a: AttributeReference)) => ndv(a.name)
      case _                                 => None
    }
    else if (ae.isDistinct || ae.filter.nonEmpty) None
    else ae.aggregateFunction match {
      case Count(Seq(Literal(v, _))) if v != null =>
        if (entries.forall(_.rows > 0L)) Some(entries.map(_.rows).sum)
        else None
      // count(col) = Σ (rows − nulls): needs every entry to carry the
      // column's stats WITH a recorded null count (−1 = legacy entry,
      // refuse — never wrong, just not rewritten)
      case Count(Seq(a: AttributeReference)) =>
        val sts = entries.map(e => (e.rows, e.stats.find(_.col == a.name)))
        if (entries.nonEmpty && sts.forall { case (r, so) =>
            r > 0L && so.exists(_.nulls >= 0L) })
          Some(sts.map { case (r, so) => r - so.get.nulls }.sum)
        else None
      case Min(a: AttributeReference) => statBound(a, entries, lo = true)
      case Max(a: AttributeReference) => statBound(a, entries, lo = false)
      // sum(integralCol) from the sidecar's exact decimal sum. Spark's
      // result type here is LongType; a true sum outside the long range
      // would WRAP (legacy), THROW (ANSI), or return NULL (TRY) in the
      // scan — either way not the decimal truth, so refuse instead of
      // guessing. Zero non-null rows = SQL NULL, exactly Sum's
      // contract. The gate keys off the EXPRESSION's own eval mode —
      // not the session conf, which a try_sum overrides: in LEGACY
      // mode an in-range total is bit-exact even through transient
      // wraps (modular arithmetic); under ANSI a TRANSIENT overflow
      // would make the scan THROW, and under TRY return NULL, where
      // the fold would answer the in-range total — so BOTH demand the
      // no-transient-overflow proof (all values same-signed per file
      // stats ⇒ every partial is bounded by the in-range total).
      case s: Sum => s.child match {
        case a: AttributeReference if isIntegral(a.dataType) =>
          sums(a.name).flatMap { case (bd, nn) =>
            if (nn == 0L) Some(null)
            else if (bd.compareTo(LongMaxBd) <= 0 &&
              bd.compareTo(LongMinBd) >= 0 &&
              (s.evalContext.evalMode == EvalMode.LEGACY ||
                sameSignEvidence(a, entries)))
              Some(bd.longValueExact())
            else None
          }
        // sum(decimalCol): the sidecar's total carries the column's
        // scale; the fold answers in Sum's own result type
        // decimal(min(38, p+10), s). Unlike longs there is NO wrap-
        // exact legacy regime — a decimal buffer overflow NULLs the
        // scan (legacy/TRY) or throws (ANSI) — so EVERY mode demands
        // the no-transient-overflow proof: all values same-signed per
        // file stats ⇒ every partial is bounded by the total, and a
        // total that fits the result type proves the scan completed
        // with exactly that value.
        case a: AttributeReference if a.dataType.isInstanceOf[DecimalType] =>
          val in = a.dataType.asInstanceOf[DecimalType]
          s.dataType match {
            case res: DecimalType =>
              sums(a.name).flatMap { case (bd, nn) =>
                if (nn == 0L) Some(null)
                else if (bd.scale == in.scale &&
                  bd.precision <= res.precision &&
                  sameSignEvidence(a, entries))
                  Some(org.apache.spark.sql.types.Decimal(
                    bd, res.precision, res.scale))
                else None
              }
            case _ => None
          }
        // DecimalAggregates' small-precision rewrite: sum over the
        // UNSCALED longs (the MakeDecimal wrapper above is scalar —
        // evalAgg's tree eval owns it). The unscaled total is the
        // sidecar total shifted by the scale — exact by construction —
        // and the long-buffer gates are the integral arm's verbatim:
        // in-range total, wrap-exact under LEGACY, same-sign proof
        // under ANSI/TRY.
        case UnscaledValue(a: AttributeReference)
            if a.dataType.isInstanceOf[DecimalType] =>
          val in = a.dataType.asInstanceOf[DecimalType]
          sums(a.name).flatMap { case (bd, nn) =>
            if (nn == 0L) Some(null)
            else if (bd.scale != in.scale) None
            else {
              val unscaled = bd.movePointRight(in.scale)
              if (unscaled.compareTo(LongMaxBd) <= 0 &&
                unscaled.compareTo(LongMinBd) >= 0 &&
                (s.evalContext.evalMode == EvalMode.LEGACY ||
                  sameSignEvidence(a, entries)))
                Some(unscaled.longValueExact())
              else None
            }
          }
        case _ => None
      }
      // avg(integralCol): Spark's Average accumulates integral inputs
      // in DOUBLE, which is order-dependent in general — the rewrite is
      // provably scan-exact only when every partial sum is an exactly-
      // representable integer: all values same-signed (per-file lo/hi
      // prove it; same-sign partials are bounded by the total) and
      // |total| < 2^53. Then avg = exact-sum / count bit-equals the
      // scan's own double arithmetic. Anything else refuses.
      case av: Average => av.child match {
        case a: AttributeReference if isIntegral(a.dataType) =>
          sums(a.name).flatMap { case (bd, nn) =>
            if (nn == 0L) Some(null)
            else if (sameSignEvidence(a, entries) && bd.abs.compareTo(
                java.math.BigDecimal.valueOf(ExactLong)) < 0)
              Some(bd.longValueExact().toDouble / nn.toDouble)
            else None
          }
        // avg(decimalCol): bit-exact BY CONSTRUCTION — substitute the
        // sidecar's exact (sum, count) into Average's OWN
        // evaluateExpression (its aggBufferAttributes) and evaluate it
        // driver-side, so the division/rounding/overflow semantics are
        // Spark's verbatim, whatever this version makes them. Decimal
        // buffer addition is exact and order-free, so with the same-
        // sign no-transient-overflow proof (partials bounded by a
        // total that fits the SUM buffer type) the scan's final buffer
        // provably equals the sidecar total; an eval that THROWS
        // (ANSI division overflow) refuses — the plain scan will
        // throw it on its own terms.
        case a: AttributeReference if a.dataType.isInstanceOf[DecimalType] =>
          val in = a.dataType.asInstanceOf[DecimalType]
          av.aggBufferAttributes match {
            case Seq(sumAttr, cntAttr)
                if sumAttr.dataType.isInstanceOf[DecimalType] &&
                  cntAttr.dataType == LongType =>
              val sumType = sumAttr.dataType.asInstanceOf[DecimalType]
              sums(a.name).flatMap { case (bd, nn) =>
                if (nn == 0L) Some(null)
                else if (bd.scale == in.scale &&
                  bd.precision <= sumType.precision &&
                  sameSignEvidence(a, entries)) {
                  val expr = av.evaluateExpression.transform {
                    case r: AttributeReference if r.exprId == sumAttr.exprId =>
                      Literal(org.apache.spark.sql.types.Decimal(
                        bd, sumType.precision, sumType.scale), sumType)
                    case r: AttributeReference if r.exprId == cntAttr.exprId =>
                      Literal(nn, LongType)
                  }
                  try Some(expr.eval(InternalRow.empty))
                  catch { case scala.util.control.NonFatal(_) => None }
                } else None
              }
            case _ => None
          }
        // DecimalAggregates' small-precision rewrite: average of the
        // UNSCALED longs (the /10^s division above is scalar — tree
        // eval owns it). The long-child Average accumulates in DOUBLE:
        // same-sign partials bounded by a < 2^53 total are integer-
        // valued doubles whose additions are all exact, so the scan's
        // buffer provably equals the shifted sidecar total and the
        // double division is the same IEEE op on both paths.
        case UnscaledValue(a: AttributeReference)
            if a.dataType.isInstanceOf[DecimalType] =>
          val in = a.dataType.asInstanceOf[DecimalType]
          sums(a.name).flatMap { case (bd, nn) =>
            if (nn == 0L) Some(null)
            else if (bd.scale != in.scale) None
            else {
              val unscaled = bd.movePointRight(in.scale)
              if (sameSignEvidence(a, entries) && unscaled.abs.compareTo(
                  java.math.BigDecimal.valueOf(ExactLong)) < 0)
                Some(unscaled.longValueExact().toDouble / nn.toDouble)
              else None
            }
          }
        case _ => None
      }
      case _ => None
    }

  private def statBound(a: AttributeReference, entries: Seq[FileEntry],
                        lo: Boolean): Option[Any] = {
    val paired = entries.map(e => (e, e.stats.find(_.col == a.name)))
    if (entries.isEmpty || paired.exists(_._2.isEmpty)) None
    // A NaN bound is the PROVEN-all-null marker ONLY when the entry's
    // null count equals its row count (the writer's contract). A
    // float/double file that merely CONTAINS NaN values also records a
    // NaN max (Spark's min/max order NaN greatest), with nulls < rows —
    // for such a file the real extreme is unknowable from the manifest
    // (its true MAX is NaN, and dropping it could also lose the true
    // MIN), so the whole rewrite is refused, never guessed.
    else if (paired.exists { case (e, so) => so.exists(s =>
        (s.lo.isNaN || s.hi.isNaN) && s.nulls != e.rows) }) None
    // all-null files contribute nothing to min/max, drop them; ALL
    // files all-null = every value is null = SQL NULL result
    else {
      val real = paired.flatMap(_._2).filterNot(s => s.lo.isNaN || s.hi.isNaN)
      if (real.isEmpty) return Some(null)
      val ds = real.map(s => if (lo) s.lo else s.hi)
      val d = if (lo) ds.min else ds.max
      a.dataType match {
        case DoubleType => Some(d)
        case FloatType  => Some(d.toFloat)
        case IntegerType if d == d.toInt.toDouble  => Some(d.toInt)
        case ShortType if d == d.toShort.toDouble  => Some(d.toShort)
        case ByteType if d == d.toByte.toDouble    => Some(d.toByte)
        case LongType if math.abs(d) < ExactLong &&
          d == d.toLong.toDouble                   => Some(d.toLong)
        case _ => None
      }
    }
  }
}
