package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types._

import graft.sources.SnapshotFileIndex
import graft.sources.SnapshotTable.FileEntry

/** `[EXT]` GROUPED top-k pushdown for snapshot tables: the
  * `row_number() OVER (PARTITION BY p ORDER BY v) <= k` shape — "top k
  * per category", the grouped twin of [[RankTopK]]'s global
  * `ORDER BY … LIMIT k`. Spark's own `InferWindowGroupLimit` bounds
  * the per-group SORT to k rows, but the SCAN still reads the whole
  * table; at 100 TB, "cheapest 3 orders per priority" reading every
  * file is the same worst work-to-result ratio the global rule exists
  * to kill.
  *
  * When the window's partition key IS the table's partition column,
  * each group's rows live exactly in the files stamped with its value
  * (the writer's one-value-per-file invariant), so [[RankTopK]]'s
  * per-file-stats accumulation applied to ONE group's files proves a
  * per-group threshold t_g with ≥ k rows at-or-under it. The rule
  * injects one conjunct per proven group directly above the relation:
  *
  * {{{ NOT(p <=> g) OR v <= t_g   [OR v IS NULL when nulls rank first] }}}
  *
  * — null-safe, so rows of OTHER groups (including the NULL group, a
  * plain `p = g` would three-value those away) pass untouched, while
  * group g's own files prune by their v-stats through
  * [[SnapshotFileIndex]]'s `Not(EqualNullSafe)` / `Or` arms. On a
  * layout range-clustered on v within partitions, each group's top-k
  * touches a handful of files.
  *
  * Soundness (why a filter BELOW a window is legal here): every
  * removed row has v strictly above its group's threshold, and ≥ k
  * rows of that group sort strictly at-or-below it — so a removed row
  * sorts strictly AFTER every surviving row of its group on the FIRST
  * order key (tiebreakers never reached), its true rank exceeds k,
  * and the ranks of all surviving rows are unchanged by its removal.
  * The Window above recomputes identical ranks for survivors; the
  * user's rank filter then selects exactly the rows it always would.
  * This requires every window expression in the node to be RANK-LIKE
  * (`row_number` / `rank` — removal-invariant for survivors); any
  * aggregate window function over the group (an `avg`, a `sum`)
  * would see different inputs and refuses the whole rewrite.
  * `dense_rank` refuses too: its rank counts DISTINCT values, which a
  * row-count accumulation cannot bound.
  *
  * Refusals, never guesses: a non-single-attribute partition spec; a
  * Filter anywhere under the Window (the accumulation must count only
  * rows that pass it — [[RankTopK]]'s filtered tier owns that shape
  * for the global case); a non-numeric or 2^53-lossy-long sort
  * column; more distinct stamps than `maxGroups` (the injected
  * predicate is per-group — planning cost must stay bounded); groups
  * whose stamp fails to parse or whose files cannot prove k rows
  * simply keep their rows unfiltered (per-group conjuncts are
  * independently sound). Fixpoint-stable: the second pass sees the
  * injected Filter under the Window and refuses.
  *
  * Installed with the other [[Rules]]; switch it off with
  * `spark.sql.optimizer.excludedRules=graft.plans.WindowTopK`.
  */
object WindowTopK extends Rule[LogicalPlan] with PredicateHelper
    with graft.QueryPack {

  private val MaxGroupsKey = "spark.graft.snapshot.windowTopK.maxGroups"

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUp {
      case f @ Filter(cond, w: Window) =>
        rankLimit(cond, w) match {
          case Some(k) =>
            groupedThreshold(w, k) match {
              case Some(newChild) => f.copy(child = w.copy(child = newChild))
              case None => f
            }
          case None => f
        }
    }

  private val Pow53 = 9007199254740992.0

  /** The tightest rank bound the filter puts on one of the window's
    * rank-like outputs, or None. Every window expression must be
    * rank-like (see soundness note) — one aggregate among them
    * refuses.
    */
  private def rankLimit(cond: Expression, w: Window): Option[Int] = {
    val rankIds: Set[ExprId] = {
      val ids = w.windowExpressions.map {
        case a @ Alias(WindowExpression(fn, _), _) => fn match {
          case _: RowNumber => Some(a.exprId)
          case _: Rank      => Some(a.exprId)
          case _            => None
        }
        case _ => None
      }
      if (ids.exists(_.isEmpty)) return None // a non-rank window expr
      ids.flatten.toSet
    }
    if (rankIds.isEmpty) return None
    val ks = splitConjunctivePredicates(cond).flatMap {
      case LessThanOrEqual(a: AttributeReference, IntegerLiteral(k))
          if rankIds.contains(a.exprId) => Some(k)
      case LessThan(a: AttributeReference, IntegerLiteral(k))
          if rankIds.contains(a.exprId) => Some(k - 1)
      case GreaterThanOrEqual(IntegerLiteral(k), a: AttributeReference)
          if rankIds.contains(a.exprId) => Some(k)
      case GreaterThan(IntegerLiteral(k), a: AttributeReference)
          if rankIds.contains(a.exprId) => Some(k - 1)
      case EqualTo(a: AttributeReference, IntegerLiteral(k))
          if rankIds.contains(a.exprId) => Some(k)
      case EqualTo(IntegerLiteral(k), a: AttributeReference)
          if rankIds.contains(a.exprId) => Some(k)
      case _ => None
    }
    ks.filter(_ > 0).minOption
  }

  /** Window child with the per-group threshold Filter injected above
    * its snapshot relation, or None (shape/proof refusal).
    */
  private def groupedThreshold(w: Window, k: Int): Option[LogicalPlan] = {
    val (p, v, dir, nulls) = (w.partitionSpec, w.orderSpec) match {
      case (Seq(pa: AttributeReference),
            SortOrder(va: AttributeReference, d, n, _) +: _) =>
        (pa, va, d, n)
      case _ => return None
    }
    if (!v.dataType.isInstanceOf[NumericType]) return None

    // walk to the relation through attribute Projects and Spark's own
    // WindowGroupLimit (a per-group row cap — injecting below it is
    // sound by the same survivors-unchanged argument); any Filter
    // refuses: pass 1 because the proof cannot count filtered rows,
    // pass 2+ because OUR OWN injection now sits there (convergence)
    def walk(q: LogicalPlan): Option[(SnapshotFileIndex, LogicalRelation)] =
      q match {
        case Project(ps, ch) if ps.forall(_.isInstanceOf[AttributeReference]) =>
          walk(ch)
        case wgl: WindowGroupLimit => walk(wgl.child)
        case l: LogicalRelation if !l.isStreaming => l.relation match {
          case fs: HadoopFsRelation => fs.location match {
            case i: SnapshotFileIndex => Some((i, l))
            case _ => None
          }
          case _ => None
        }
        case _ => None
      }
    val (idx, rel) = walk(w.child).getOrElse(return None)
    val pName = rel.output.find(_.exprId == p.exprId)
      .map(_.name).getOrElse(return None)
    val vName = rel.output.find(_.exprId == v.exprId)
      .map(_.name).getOrElse(return None)

    val DefaultStamp = "__HIVE_DEFAULT_PARTITION__"
    // groups = distinct single-value stamps of files stamped by p;
    // un-stamped (partition-evolved) files and the default stamp
    // contribute no proof and stay unfiltered
    val grouped: Map[String, Seq[FileEntry]] = idx.fileEntries
      .filter(e => e.effPartCol(idx.defaultPartCol).contains(pName))
      .flatMap(e => e.parts match {
        case Some(Seq(one)) if one != DefaultStamp => Some(one -> e)
        case _ => None
      })
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    if (grouped.isEmpty) return None
    val maxGroups =
      try conf.getConfString(MaxGroupsKey, "128").toInt
      catch { case _: NumberFormatException => 128 }
    if (grouped.size > maxGroups) return None

    val conjuncts = grouped.toSeq.sortBy(_._1).flatMap { case (g, es) =>
      for {
        glit <- stampLiteral(g, p.dataType)
        t <- RankTopK.fileStatsBound(es, vName, v.dataType, dir, k)
        tlit <- RankTopK.numericLiteral(t, v.dataType)
      } yield {
        val cmp: Expression = dir match {
          case Ascending  => LessThanOrEqual(v, tlit)
          case Descending => GreaterThanOrEqual(v, tlit)
        }
        val keep = if (nulls == NullsFirst) Or(cmp, IsNull(v)) else cmp
        Or(Not(EqualNullSafe(p, glit)), keep)
      }
    }
    if (conjuncts.isEmpty) return None
    val injected = w.child transformUp {
      case l: LogicalRelation if l eq rel => Filter(conjuncts.reduce(And), l)
    }
    Some(injected)
  }

  /** The stamp string as a literal of the partition column's type —
    * exactly the round-trip set the grouped metadata fold claims.
    */
  private def stampLiteral(v: String, dt: DataType): Option[Expression] =
    try dt match {
      case StringType =>
        Some(Literal(org.apache.spark.unsafe.types.UTF8String.fromString(v),
          StringType))
      case IntegerType => Some(Literal(v.toInt, IntegerType))
      case LongType =>
        // beyond 2^53 the stamp still parses exactly (it is a string),
        // but the v-threshold literal path already refuses lossy longs;
        // the stamp itself is exact at any magnitude
        Some(Literal(v.toLong, LongType))
      case ShortType => Some(Literal(v.toShort, ShortType))
      case ByteType  => Some(Literal(v.toByte, ByteType))
      case _ => None
    } catch { case _: NumberFormatException => None }

  // ---- driver query ---------------------------------------------------

  /** Cheapest 3 orders per priority over the star fixture's orders
    * snapshot (partitioned by priority, price-clustered): result
    * pinned against the oracle's plain window query — an unsound
    * per-group threshold (a cut survivor, a shifted rank) breaks the
    * hash; the FILE pruning itself is pinned by WindowTopKSpec.
    */
  def topkGroupedQuery(s: SparkSession,
                       dir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, row_number}
    val orders = graft.sources.SnapshotTable.read(s,
      JoinOrder.fixturePaths(s, dir)._1)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    orders.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("o_orderpriority"), col("rn").cast("bigint").as("rn"),
        col("o_orderkey"),
        col("o_totalprice").cast("double").as("total_price"))
      .orderBy(col("o_orderpriority"), col("rn"))
  }

  /** The same shape from PLAIN SQL through the `snapshot_table` TVF —
    * the extensions-level proof that a SQL-only user gets the grouped
    * pruning with no Scala API in sight (k = 2 differentiates the
    * hash from the DataFrame twin).
    */
  def sqlTopkGroupedQuery(s: SparkSession,
                          dir: String): org.apache.spark.sql.DataFrame = {
    graft.sources.SnapshotSql.register(s)
    val t = JoinOrder.fixturePaths(s, dir)._1
    s.sql(
      s"""SELECT o_orderpriority, CAST(rn AS BIGINT) AS rn, o_orderkey,
         |  CAST(o_totalprice AS DOUBLE) AS total_price
         |FROM (
         |  SELECT o_orderpriority, o_orderkey, o_totalprice,
         |    row_number() OVER (PARTITION BY o_orderpriority
         |      ORDER BY o_totalprice, o_orderkey) AS rn
         |  FROM snapshot_table('$t')) t
         |WHERE rn <= 2
         |ORDER BY o_orderpriority, rn""".stripMargin)
  }

  override def queries: Map[String, graft.QueryPack.Q] = Map(
    "q_topk_grouped" -> (topkGroupedQuery _),
    "q_sql_topk_grouped" -> (sqlTopkGroupedQuery _))

  override def oracleSql: Map[String, String] = Map(
    "q_topk_grouped" ->
      """SELECT o_orderpriority, CAST(rn AS BIGINT) AS rn, o_orderkey,
        |  CAST(o_totalprice AS DOUBLE) AS total_price
        |FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY o_totalprice, o_orderkey) AS rn
        |  FROM orders) t
        |WHERE rn <= 3
        |ORDER BY o_orderpriority, rn""".stripMargin,
    "q_sql_topk_grouped" ->
      """SELECT o_orderpriority, CAST(rn AS BIGINT) AS rn, o_orderkey,
        |  CAST(o_totalprice AS DOUBLE) AS total_price
        |FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY o_totalprice, o_orderkey) AS rn
        |  FROM orders) t
        |WHERE rn <= 2
        |ORDER BY o_orderpriority, rn""".stripMargin)
}
