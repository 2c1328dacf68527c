package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types._

import graft.sources.{RankStats, SnapshotFileIndex}

/** `[EXT]` Rank-threshold TOP-K pushdown for snapshot tables: an
  * `ORDER BY col LIMIT k` over a bare snapshot relation plans as
  * `TakeOrderedAndProject` — which still SCANS the whole table; at
  * 100 TB, reading everything to keep twenty rows is the query shape
  * with the worst work-to-result ratio there is. When the column has a
  * rank summary, the summary's exact weighted counts prove a VALUE
  * threshold v with at least k rows at-or-under it, so the plan gains
  * a `col <= v` prefilter — which the scan's manifest min/max skipping
  * then turns into FILE pruning. On a layout clustered on the column,
  * the top-k touches the handful of files that can hold it.
  *
  * Soundness is pure arithmetic, no span property needed for ASC: a
  * summary point's cumulative weight never exceeds the true rank of
  * its value (every counted row has value ≤ some point ≤ v), so
  * `cum(j) ≥ k ⇒ at least k rows ≤ values(j)` — the k smallest all
  * survive the filter, and the Sort+Limit above it picks exactly the
  * same rows. DESC additionally needs the span property (rows counted
  * ABOVE a point must provably lie above it) — held per-SEGMENT by
  * both analyze output and the delta refresh's span-preserving
  * segments ([[graft.sources.RankStats.SegmentView.descThreshold]]),
  * so both directions stay armed at ingest cadence; only a legacy
  * merged summary refuses DESC.
  *
  * SECOND PROOF TIER — per-file stats. The manifest already carries
  * (lo, hi, nulls, rows) per file for every stats column, and those
  * prove a threshold over ANY file subset: sort the subset's files by
  * `hi`, accumulate non-null rows until ≥ k — every counted row is ≤
  * its file's hi ≤ the last hi, so that hi is a proven ASC threshold
  * (DESC mirrors with lo, descending). This tier (a) serves tables
  * with NO rank sidecar at all (clustered layout + statsCols is
  * enough), (b) never goes stale (the stats are pinned in the planned
  * manifest itself), and (c) — the real win — survives a FILTER, the
  * shape the sidecar can never serve (a table-wide summary says
  * nothing about the filtered subpopulation): when every conjunct
  * under the Sort is a partition-value equality/IN, the files whose
  * partition stamp satisfies ALL of them contain ONLY passing rows,
  * so the accumulation over exactly those files proves the filtered
  * top-k's threshold. `WHERE part = X ORDER BY col LIMIT k` then
  * file-prunes like the bare shape. The sidecar tier is preferred
  * when fresh (its threshold is rank-tight; file-hi can be coarse on
  * an unclustered layout); the stats tier is the fallback and the
  * only filtered path.
  *
  * Refusals, never guesses: a non-partition (or non-whole-file)
  * filter conjunct refuses; a masked read (pending deletes) never
  * exposes the bare relation shape at all; fewer than k provable rows
  * refuses; a LongType sort column whose stat/summary values reach
  * 2^53 refuses (lossy double image). Null ordering is honored (a
  * NULLS FIRST top-k keeps its nulls via an `OR IS NULL` arm — both
  * tiers count non-null rows only); NaNs sort greatest in Spark and
  * compare greatest too, so a DESC threshold keeps them (a file whose
  * hi is NaN sorts last in the ASC accumulation and everything is ≤
  * NaN in Spark's ordering — sound, merely unprunable).
  *
  * Installed with the other [[Rules]]; switch it off with
  * `spark.sql.optimizer.excludedRules=graft.plans.RankTopK`.
  */
object RankTopK extends Rule[LogicalPlan] with PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUp {
      case limit @ Limit(limitExpr @ IntegerLiteral(k),
          sort @ Sort(SortOrder(attr: AttributeReference, dir, nulls, _) +: _,
            true, child, _)) if k > 0 =>
        thresholdFor(child, attr, dir, nulls, k) match {
          case Some(cond) =>
            Limit(limitExpr, sort.copy(child = Filter(cond, child)))
          case None => limit
        }
    }

  private val Pow53 = 9007199254740992.0 // 2^53: doubles stop being exact

  /** Prove a threshold predicate for the top-`k` by `attr` over
    * `child`, or None. `child` peels through bare Projects and
    * deterministic Filters to a snapshot relation; an unfiltered
    * relation is served by the rank sidecar (tight) or per-file stats
    * (fallback); a filter is served ONLY by per-file stats over the
    * files its partition-equality conjuncts provably keep whole.
    */
  private def thresholdFor(child: LogicalPlan, attr: AttributeReference,
                           dir: SortDirection, nulls: NullOrdering,
                           k: Int): Option[Expression] = {
    if (!attr.dataType.isInstanceOf[NumericType]) return None
    // a re-run over our own output sees the injected (non-partition)
    // Filter conjunct and refuses — convergent under a fixpoint batch
    def walk(p: LogicalPlan, conj: Seq[Expression])
        : Option[(SnapshotFileIndex, LogicalRelation, Seq[Expression])] =
      p match {
        case Project(ps, ch) if ps.forall(_.isInstanceOf[AttributeReference]) =>
          walk(ch, conj)
        case Filter(cond, ch) if cond.deterministic =>
          walk(ch, conj ++ splitConjunctivePredicates(cond))
        case l: LogicalRelation if !l.isStreaming => l.relation match {
          case fs: HadoopFsRelation => fs.location match {
            case i: SnapshotFileIndex => Some((i, l, conj))
            case _ => None
          }
          case _ => None
        }
        case _ => None
      }
    val (idx, rel, conj) = walk(child, Nil).getOrElse(return None)
    val name = rel.output.find(_.exprId == attr.exprId)
      .map(_.name).getOrElse(return None)
    val bound: Option[Double] =
      if (conj.isEmpty)
        sidecarBound(idx, name, attr.dataType, dir, k)
          .orElse(fileStatsBound(idx.fileEntries, name, attr.dataType, dir, k))
      else
        wholePassEntries(idx, rel, conj)
          .flatMap(fileStatsBound(_, name, attr.dataType, dir, k))
    bound.flatMap { v =>
      numericLiteral(v, attr.dataType).map { lit =>
        val cmp: Expression = dir match {
          case Ascending  => LessThanOrEqual(attr, lit)
          case Descending => GreaterThanOrEqual(attr, lit)
        }
        // a top-k whose null ordering puts nulls FIRST owns its null
        // rows; both proof tiers count non-null rows only, so keep
        // the nulls explicitly
        if (nulls == NullsFirst) Or(cmp, IsNull(attr)) else cmp
      }
    }
  }

  /** Tier 1: the rank sidecar, iff fingerprint-fresh and mask-free for
    * exactly the planned file list.
    */
  private def sidecarBound(idx: SnapshotFileIndex, name: String,
                           dt: DataType, dir: SortDirection,
                           k: Int): Option[Double] = {
    val spark = SparkSession.active
    val planned = idx.fileEntries.map(_.path)
    val view = RankStats.segmentsFor(spark, idx.tablePath, name, planned)
      .getOrElse(return None)
    if (view.n < k) return None
    // long columns beyond 2^53: summary values are lossy long->double
    // casts, so double(x) can round DOWN onto the served threshold
    // while the true x exceeds v.toLong — the injected filter would
    // cut a genuine top-k row. The literal's own round-trip check
    // cannot see this (it validates the threshold, not the column
    // values it stands for), so refuse outright.
    if (dt == LongType &&
        view.segs.exists(_.values.exists(v => math.abs(v) >= Pow53)))
      return None
    dir match {
      // ≥ k rows proven ≤ v — sound on any segments (cum ≤ true rank)
      case Ascending => view.ascThreshold(k)
      // ≥ k rows proven ≥ v — needs every segment's span property
      // (held by analyze output AND delta-refresh segments; only a
      // legacy merged summary refuses)
      case Descending => view.descThreshold(k)
    }
  }

  /** Tier 2: per-file (lo, hi, nulls, rows) from the planned manifest
    * entries themselves — valid for any subset, never stale. ASC:
    * ascending by hi, accumulate non-null rows to k, threshold = the
    * closing hi (every counted row ≤ its hi ≤ threshold). DESC:
    * descending by lo, threshold = the closing lo. A file without
    * recorded stats or an exact null count for the column simply
    * contributes nothing (its rows may still pass the final filter —
    * soundness needs only ≥ k provable rows, not all of them).
    */
  private[plans] def fileStatsBound(entries: Seq[graft.sources.SnapshotTable.FileEntry],
                             name: String, dt: DataType, dir: SortDirection,
                             k: Int): Option[Double] = {
    val known = entries.flatMap { e =>
      e.stats.find(_.col == name).flatMap { s =>
        if (s.nulls < 0L || e.rows <= 0L) None
        else Some((s.lo, s.hi, e.rows - s.nulls)).filter(_._3 > 0L)
      }
    }.filterNot { t =>
      // an all-NaN float/double file records lo = hi = NaN with
      // nonNull > 0. Its NaN bound must never become the threshold:
      // NaN sorts LAST in both accumulation orders, and if it closed
      // the count the injected DESC filter `attr >= NaN` would keep
      // ONLY NaN rows while the proof counted real-lo files' rows —
      // cutting genuine top-k rows. Drop the entry from the proof
      // instead (soundness only needs >= k provable rows, not all):
      // its NaN rows still pass any real threshold either way (NaN
      // compares greatest in Spark, so NaN >= v and NaN <= NaN-free
      // ASC thresholds never cut them — ASC keeps them out of top-k
      // by the Sort itself, DESC keeps them IN via the filter).
      if (dir == Ascending) t._2.isNaN else t._1.isNaN
    }
    if (known.isEmpty) return None
    // the same 2^53 lossy-double refusal as the sidecar tier: lo/hi
    // are double casts of the column's values
    if (dt == LongType && known.exists(t =>
        math.abs(t._1) >= Pow53 || math.abs(t._2) >= Pow53))
      return None
    val ordered = dir match {
      case Ascending  => known.sortBy(_._2)
      case Descending => known.sortBy(t => -t._1)
    }
    var acc = 0L
    var i = 0
    while (i < ordered.length) {
      acc += ordered(i)._3
      if (acc >= k)
        return Some(if (dir == Ascending) ordered(i)._2 else ordered(i)._1)
      i += 1
    }
    None
  }

  /** The planned entries whose rows ALL pass every conjunct — provable
    * when each conjunct constrains the file's OWN partition column by
    * equality/IN against string literals (stamp-set membership) or by
    * a RANGE (`>=`/`>`/`<=`/`<`, and BETWEEN via its two conjuncts)
    * against a literal of the column's type: the writer's one-value-
    * per-file invariant means a file whose single stamp satisfies the
    * range wholly passes — the same membership argument as equality.
    * Range stamps compare in the COLUMN's semantics (UTF8String order
    * for strings — Spark's own, not java.lang.String's — numeric for
    * integral columns); any other type, or a stamp that fails to
    * parse, just excludes that file from the count (soundness needs
    * only ≥ k provable rows). Any other conjunct shape refuses (None):
    * the accumulation must count only rows that pass the user's
    * filter.
    */
  private def wholePassEntries(idx: SnapshotFileIndex, rel: LogicalRelation,
                               conj: Seq[Expression])
      : Option[Seq[graft.sources.SnapshotTable.FileEntry]] = {
    import org.apache.spark.unsafe.types.UTF8String
    def lit(e: Expression): Option[String] = e match {
      case Literal(s: UTF8String, StringType) => Some(s.toString)
      case _ => None
    }
    // the default-partition stamp is where NULL and empty-string
    // partition values land (FileFormatWriter's empty2null): a file so
    // stamped holds rows that provably DO NOT pass an equality — and a
    // row whose real string value IS the stamp lands there too, so for
    // that literal whole-file membership is unprovable either way.
    // Drop stamped files from the count (their rows never pass a
    // non-stamp equality) and refuse outright when a literal equals
    // the stamp. The grouped metadata fold makes the same exclusion.
    val DefaultStamp = "__HIVE_DEFAULT_PARTITION__"
    def keep(acc: Seq[graft.sources.SnapshotTable.FileEntry],
             a: AttributeReference, vals: Set[String])
        : Option[Seq[graft.sources.SnapshotTable.FileEntry]] = {
      if (vals.contains(DefaultStamp)) return None
      val colName = rel.output.find(_.exprId == a.exprId).map(_.name)
        .getOrElse(return None)
      Some(acc.filter(e =>
        e.effPartCol(idx.defaultPartCol).contains(colName) &&
          e.parts.exists(ps => ps.nonEmpty && ps.forall(v =>
            v != DefaultStamp && vals.contains(v)))))
    }
    def keepRange(acc: Seq[graft.sources.SnapshotTable.FileEntry],
                  a: AttributeReference, l: Literal,
                  sign: Int => Boolean)
        : Option[Seq[graft.sources.SnapshotTable.FileEntry]] = {
      if (l.value == null) return None
      val cmp = StampOrder.cmp(a.dataType, l.value).getOrElse(return None)
      val colName = rel.output.find(_.exprId == a.exprId).map(_.name)
        .getOrElse(return None)
      // stamped (default-partition) files hold NULL / empty-string
      // rows that pass no range — dropping them from the count is
      // always sound, no literal-vs-stamp refusal needed here
      Some(acc.filter(e =>
        e.effPartCol(idx.defaultPartCol).contains(colName) &&
          e.parts.exists(ps => ps.nonEmpty && ps.forall(v =>
            v != DefaultStamp && cmp(v).exists(sign)))))
    }
    // the optimizer derives `isnotnull(p)` next to `p = 'x'` or
    // `p >= x`; it is implied (whole-file membership on non-null
    // literals ⇒ non-null), so admit it exactly when an equality/IN/
    // range on the same attribute is ALSO present — a bare IS NOT
    // NULL proves nothing about a file's partition stamp and refuses
    val isNotNullIds = conj.collect {
      case IsNotNull(a: AttributeReference) => a.exprId }
    val eqIds = conj.collect {
      case EqualTo(a: AttributeReference, l) if lit(l).isDefined => a.exprId
      case EqualTo(l, a: AttributeReference) if lit(l).isDefined => a.exprId
      case In(a: AttributeReference, ls) if ls.nonEmpty &&
        ls.forall(lit(_).isDefined) => a.exprId
      case GreaterThanOrEqual(a: AttributeReference, _: Literal) => a.exprId
      case GreaterThan(a: AttributeReference, _: Literal) => a.exprId
      case LessThanOrEqual(a: AttributeReference, _: Literal) => a.exprId
      case LessThan(a: AttributeReference, _: Literal) => a.exprId
      case GreaterThanOrEqual(_: Literal, a: AttributeReference) => a.exprId
      case GreaterThan(_: Literal, a: AttributeReference) => a.exprId
      case LessThanOrEqual(_: Literal, a: AttributeReference) => a.exprId
      case LessThan(_: Literal, a: AttributeReference) => a.exprId
    }.toSet
    if (!isNotNullIds.forall(eqIds.contains)) return None
    conj.foldLeft(Option(idx.fileEntries)) { (accOpt, c) =>
      accOpt.flatMap { acc =>
        c match {
          case EqualTo(a: AttributeReference, l) if lit(l).isDefined =>
            keep(acc, a, Set(lit(l).get))
          case EqualTo(l, a: AttributeReference) if lit(l).isDefined =>
            keep(acc, a, Set(lit(l).get))
          case In(a: AttributeReference, ls) if ls.nonEmpty &&
              ls.forall(lit(_).isDefined) =>
            keep(acc, a, ls.flatMap(lit).toSet)
          // ranges: stamp satisfies ⇒ whole file passes (one value per
          // file); BETWEEN arrives as its two conjuncts
          case GreaterThanOrEqual(a: AttributeReference, l: Literal) =>
            keepRange(acc, a, l, _ >= 0)
          case GreaterThan(a: AttributeReference, l: Literal) =>
            keepRange(acc, a, l, _ > 0)
          case LessThanOrEqual(a: AttributeReference, l: Literal) =>
            keepRange(acc, a, l, _ <= 0)
          case LessThan(a: AttributeReference, l: Literal) =>
            keepRange(acc, a, l, _ < 0)
          case GreaterThanOrEqual(l: Literal, a: AttributeReference) =>
            keepRange(acc, a, l, _ <= 0)
          case GreaterThan(l: Literal, a: AttributeReference) =>
            keepRange(acc, a, l, _ < 0)
          case LessThanOrEqual(l: Literal, a: AttributeReference) =>
            keepRange(acc, a, l, _ >= 0)
          case LessThan(l: Literal, a: AttributeReference) =>
            keepRange(acc, a, l, _ > 0)
          case IsNotNull(_: AttributeReference) => Some(acc) // implied
          case _ => None
        }
      }
    }
  }

  /** The threshold as a literal of the COLUMN's own type, only when the
    * double-space value converts losslessly (summary values are real
    * column values cast to double — exact for integrals up to 2^53 and
    * for float/double by construction).
    */
  private[plans] def numericLiteral(v: Double, dt: DataType): Option[Expression] =
    dt match {
      case DoubleType => Some(Literal(v, DoubleType))
      case FloatType  => Some(Literal(v.toFloat, FloatType))
      case LongType if v == v.toLong.toDouble => Some(Literal(v.toLong, LongType))
      case IntegerType if v == v.toInt.toDouble => Some(Literal(v.toInt, IntegerType))
      case ShortType if v == v.toShort.toDouble => Some(Literal(v.toShort, ShortType))
      case _ => None
    }
}
