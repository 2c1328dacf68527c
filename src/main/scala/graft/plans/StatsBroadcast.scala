package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types._

import graft.sources.{SnapshotFileIndex, TableStats}

/** `[EXT]` Stats-driven broadcast planning for snapshot tables — the
  * missing half of `autoBroadcastJoinThreshold` for manifest-planned
  * relations (cf. Iceberg's stats-based CBO / Delta's data-skipping
  * sizing; reference vectordb_similarity_search has no planner — this
  * is the Spark-first treatment of its "small dimension" joins).
  *
  * Spark sizes a join side from LOGICAL-plan statistics, and without
  * CBO a `Filter` propagates its child's size UNCHANGED — so
  * `fact JOIN (snapshot WHERE part = x)` sees the dim at FULL-table
  * bytes and plans a shuffle join even when the filter prunes the dim
  * to a few MB of files. At 100 TB that is the difference between a
  * map-side broadcast join and shuffling the fact table: the single
  * most expensive wrong plan a big join can make.
  *
  * This rule re-sizes such a side with the SAME machinery the scan
  * itself will use: it pushes the side's filter conjuncts through
  * [[SnapshotFileIndex.listFiles]] (partition-value, min/max-stat,
  * null-count, bloom, and monotone-transform skipping — all
  * driver-side manifest folds, zero data files opened) and sums the
  * byte lengths of the files that survive. When that measured upper
  * bound fits under the session's `autoBroadcastJoinThreshold`, the
  * join side gets a BROADCAST hint — exactly the decision Spark itself
  * would have made had its estimate been this sharp. It never does
  * more than that:
  *
  *  - the criterion is Spark's own (`bytes <= threshold`), applied to
  *    a PROVEN upper bound (files the conservative `mayMatch` cannot
  *    exclude; the broadcast build contains only the filtered rows of
  *    those files, so it is never larger than the measured total);
  *  - an existing strategy hint on EITHER side pins the join: a user's
  *    NO_BROADCAST_HASH / SHUFFLE_MERGE is never overridden, including
  *    indirectly (a broadcast hint injected on the opposite side would
  *    outrank a merge hint in JoinSelection);
  *  - threshold <= 0 (auto-broadcast disabled) disables the rule;
  *  - only a bare snapshot relation under Filter/Project chains is
  *    sized — joins, masked (pending-delete) reads, aggregates, or
  *    streaming frames never match, and a non-snapshot FileIndex is
  *    left to Spark's own sizing;
  *  - hint legality stays Spark's problem: `JoinSelection` already
  *    ignores a broadcast hint on a side it cannot build against the
  *    join type, so the rewrite can never produce an invalid plan.
  *
  * Installed with the other [[Rules]]; switch it off with
  * `spark.sql.optimizer.excludedRules=graft.plans.StatsBroadcast`.
  */
object StatsBroadcast extends Rule[LogicalPlan] with PredicateHelper {

  // runs after hint resolution, so the decision lands directly in
  // `Join.hint` the way `EliminateResolvedHint` would have put it
  override def apply(plan: LogicalPlan): LogicalPlan = {
    val threshold = conf.autoBroadcastJoinThreshold
    if (threshold <= 0) plan
    else plan.transformUp {
      // a user strategy hint on EITHER side pins the whole join's
      // strategy choice: injecting a broadcast hint on the other side
      // would outrank it in JoinSelection (broadcast hints are checked
      // first), silently overriding an explicit SHUFFLE_MERGE /
      // SHUFFLE_HASH — e.g. a deliberately salted skew join must stay
      // a shuffle join or the salt is pure overhead
      case j: Join if !j.hint.leftHint.exists(_.strategy.isDefined) &&
          !j.hint.rightHint.exists(_.strategy.isDefined) =>
        def hinted(side: LogicalPlan, h: Option[HintInfo]): Option[HintInfo] =
          prunedBytes(side) match {
            case Some(b) if b <= threshold =>
              Some(h.getOrElse(HintInfo()).copy(strategy = Some(BROADCAST)))
            case _ => h
          }
        val lh = hinted(j.left, j.hint.leftHint)
        val rh = hinted(j.right, j.hint.rightHint)
        if (lh == j.hint.leftHint && rh == j.hint.rightHint) j
        else j.copy(hint = JoinHint(lh, rh))
    }
  }

  /** Byte total of the files a scan of `side` can actually read: walks
    * the side's Filter/Project chain down to a bare (non-streaming,
    * unmasked) snapshot relation and replays the collected conjuncts
    * through the index's conservative per-file pruning. An AGGREGATE
    * side is sized by [[aggOutputBytes]] instead. None = not a provable
    * shape; leave the side to Spark's own sizing.
    */
  private def prunedBytes(side: LogicalPlan): Option[Long] = {
    def walk(p: LogicalPlan, conj: Seq[Expression]): Option[Long] = p match {
      case Filter(cond, child) =>
        walk(child, conj ++ splitConjunctivePredicates(cond))
      case Project(_, child) => walk(child, conj)
      case l: LogicalRelation if !l.isStreaming => l.relation match {
        case fs: HadoopFsRelation => fs.location match {
          case idx: SnapshotFileIndex =>
            val pruned = idx.listFiles(Nil, conj).flatMap(_.files)
              .map(_.getLen).sum
            Some(rankRefinedBytes(idx, l, conj, pruned).getOrElse(pruned))
          case _ => None
        }
        case _ => None
      }
      case _ => None
    }
    side match {
      case agg: Aggregate => aggOutputBytes(agg)
      case other => walk(other, Nil)
    }
  }

  /** Second sizing tier under the file bound: when the side's conjuncts
    * carry a RANGE predicate on an ANALYZEd numeric column, the rank
    * sidecar's span arithmetic bounds the ROWS that can pass — which
    * the file bound cannot see when the layout is not clustered on that
    * column (min/max skip nothing, every file survives, the side still
    * "weighs" the whole table). Bytes bound = row bound × the WIDEST
    * pruned file's bytes/row (a per-file maximum, so a skewed layout
    * cannot hide fat rows behind a thin average), capped by the file
    * bound. Fires only on [[graft.sources.RankStats.rangeBound]]'s
    * proof terms — fingerprint-fresh, mask-free, span-sound — and
    * refuses on any entry without recorded rows/bytes. None = no
    * refinement; the caller keeps the file bound.
    */
  private def rankRefinedBytes(idx: SnapshotFileIndex, rel: LogicalRelation,
                               conj: Seq[Expression],
                               prunedFileBytes: Long): Option[Long] = {
    import org.apache.spark.sql.catalyst.expressions._
    // per-column closed range from the conjuncts (strictness widened —
    // widening only loosens an upper bound)
    val ranges = scala.collection.mutable.Map
      .empty[ExprId, (Option[Double], Option[Double])]
    def num(l: Literal): Option[Double] = l.value match {
      case null       => None
      case n: Number  => Some(n.doubleValue())
      case d: org.apache.spark.sql.types.Decimal => Some(d.toDouble)
      case _          => None
    }
    // a comparison against a wider literal wraps the column in a
    // numeric Cast; only a VALUE-PRESERVING widening may be unwrapped —
    // the recorded range must hold on the BARE column's double image. A
    // narrowing/rounding cast breaks the proof in both directions:
    // CAST(doubleCol AS INT) <= 5 admits doubleCol = 5.9, and
    // CAST(longCol AS DOUBLE) / CAST(intCol AS FLOAT) round at
    // magnitude (2^53 / 2^24), so rows the rank bound never counted
    // could pass the predicate and the "proven upper bound" would
    // under-count — hinting a broadcast of a side far over threshold.
    object NumAttr {
      def preserving(from: DataType, to: DataType): Boolean = (from, to) match {
        case (ByteType, ShortType | IntegerType | LongType | FloatType |
                        DoubleType) => true
        case (ShortType, IntegerType | LongType | FloatType | DoubleType) => true
        // int -> float rounds above 2^24; long -> float/double above
        // 2^53 — excluded even though Spark calls them up-casts
        case (IntegerType, LongType | DoubleType) => true
        case (FloatType, DoubleType) => true
        case _ => false
      }
      def unapply(e: Expression): Option[AttributeReference] = e match {
        case a: AttributeReference => Some(a)
        case c: Cast => c.child match {
          case a: AttributeReference
            if preserving(a.dataType, c.dataType) => Some(a)
          case _ => None
        }
        case _ => None
      }
    }
    def record(a: AttributeReference, lo: Option[Double],
               hi: Option[Double]): Unit = {
      // numeric columns only: the summary is built over cast-to-double
      // values, which agrees with the literal's scale for numerics but
      // NOT for date/timestamp (literal days/micros vs cast seconds)
      if (!a.dataType.isInstanceOf[NumericType]) return
      val (l0, h0) = ranges.getOrElse(a.exprId, (None, None))
      ranges(a.exprId) = (
        Seq(l0, lo).flatten.reduceOption((x: Double, y: Double) => math.max(x, y)),
        Seq(h0, hi).flatten.reduceOption((x: Double, y: Double) => math.min(x, y)))
    }
    conj.foreach {
      case LessThanOrEqual(NumAttr(a), l: Literal) =>
        num(l).foreach(v => record(a, None, Some(v)))
      case LessThan(NumAttr(a), l: Literal) =>
        num(l).foreach(v => record(a, None, Some(v)))
      case GreaterThanOrEqual(NumAttr(a), l: Literal) =>
        num(l).foreach(v => record(a, Some(v), None))
      case GreaterThan(NumAttr(a), l: Literal) =>
        num(l).foreach(v => record(a, Some(v), None))
      case EqualTo(NumAttr(a), l: Literal) =>
        num(l).foreach(v => record(a, Some(v), Some(v)))
      case LessThanOrEqual(l: Literal, NumAttr(a)) =>
        num(l).foreach(v => record(a, Some(v), None))
      case LessThan(l: Literal, NumAttr(a)) =>
        num(l).foreach(v => record(a, Some(v), None))
      case GreaterThanOrEqual(l: Literal, NumAttr(a)) =>
        num(l).foreach(v => record(a, None, Some(v)))
      case GreaterThan(l: Literal, NumAttr(a)) =>
        num(l).foreach(v => record(a, None, Some(v)))
      case EqualTo(l: Literal, NumAttr(a)) =>
        num(l).foreach(v => record(a, Some(v), Some(v)))
      case _ => ()
    }
    if (ranges.isEmpty) return None
    val entries = idx.fileEntries
    if (entries.isEmpty) return None
    if (!entries.forall(e => e.rows > 0L && e.bytes > 0L)) return None
    val planned = entries.map(_.path)
    val prunedRows = entries.map(_.rows).sum
    val maxWidth = entries.map(e => e.bytes.toDouble / e.rows).max
    val spark = SparkSession.active
    // the SUBSET form: a partition/stat-pruned side plans fewer files
    // than the analyzed set, and a whole-table row bound is still an
    // upper bound for any subset of it — so the range sizing composes
    // with partition pruning instead of refusing on the fingerprint
    val bounds = ranges.flatMap { case (id, (lo, hi)) =>
      if (lo.isEmpty && hi.isEmpty) None
      else rel.output.find(_.exprId == id).map(_.name).flatMap { name =>
        graft.sources.RankStats.rangeBoundSubset(
          spark, idx.tablePath, name, planned, lo, hi)
      }
    }
    if (bounds.isEmpty) None
    else {
      val rowBound = math.min(bounds.min, prunedRows)
      val bytes = math.ceil(rowBound * maxWidth).toLong
      Some(math.min(bytes, prunedFileBytes))
    }
  }

  /** PROVEN upper bound on an AGGREGATE join side's build size — the
    * sizing Spark cannot do (without CBO an Aggregate inherits its
    * child's bytes, so a keys-per-group reduction of 100× still plans a
    * shuffle join): groups ≤ min(∏ exact NDV(grouping cols), live
    * rows), each output row fixed-width. The NDVs come from the ANALYZE
    * sidecar's exact-until-saturated KMV sketches, valid because the
    * planned files are a subset of the analyzed live set
    * ([[graft.sources.TableStats.boundDistinct]]) — a subset can only
    * lose distincts. Refused when any grouping expression is not a bare
    * relation column, any output type is variable-width (a string's
    * `defaultSize` is a guess, not a bound), or any sketch is missing /
    * saturated / stale. This is what lets an
    * [[EagerAggregation]]-rewritten partial aggregate BROADCAST when
    * its key space is small — the composition `StatsBroadcastSpec`
    * pins ("eager aggregation composes").
    */
  private def aggOutputBytes(agg: Aggregate): Option[Long] = {
    val groupAttrs = agg.groupingExpressions.collect {
      case a: AttributeReference => a }
    if (groupAttrs.isEmpty ||
        groupAttrs.length != agg.groupingExpressions.length) return None
    if (!agg.output.forall(a => fixedWidth(a.dataType))) return None
    def walkRel(p: LogicalPlan): Option[(SnapshotFileIndex, LogicalRelation)] =
      p match {
        case Filter(c, ch) if c.deterministic => walkRel(ch)
        case Project(ps, ch) if ps.forall(_.isInstanceOf[AttributeReference]) =>
          walkRel(ch)
        case l: LogicalRelation if !l.isStreaming => l.relation match {
          case fs: HadoopFsRelation => fs.location match {
            case i: SnapshotFileIndex => Some((i, l))
            case _ => None
          }
          case _ => None
        }
        case _ => None
      }
    val (idx, rel) = walkRel(agg.child).getOrElse(return None)
    val spark = SparkSession.active
    val planned = idx.fileEntries.map(_.path)
    val rowBound = idx.fileEntries.map(_.rows).sum
    val ndvs = groupAttrs.map { a =>
      val colName = rel.output.find(_.exprId == a.exprId)
        .map(_.name).getOrElse(return None)
      TableStats.boundDistinct(spark, idx.tablePath, colName, planned)
        .getOrElse(return None)
    }
    val groups = ndvs.map(BigInt(_)).product.min(BigInt(rowBound))
    val width = agg.output.map(_.dataType.defaultSize.toLong).sum + 16L
    val bytes = groups * width
    if (bytes.isValidLong) Some(bytes.toLong) else None
  }

  private def fixedWidth(dt: DataType): Boolean = dt match {
    case _: NumericType | BooleanType | DateType | TimestampType |
         TimestampNTZType => true
    case _ => false
  }
}
