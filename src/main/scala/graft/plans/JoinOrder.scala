package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, max, sum}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

import graft.Staged
import graft.sources.{SnapshotFileIndex, TableStats}
import graft.sources.SnapshotTable.FileEntry

/** `[EXT]` Stats-driven join ORDERING for snapshot relations — the one
  * plan lever the engine's owned statistics did not yet feed. Spark's
  * own cost-based reorder needs ANALYZE TABLE in a catalog; a snapshot
  * relation arrives as a bare file scan whose only size signal is
  * bytes, so a 3+-table chain joins in WRITTEN order, and at 100 TB
  * the difference between `fact ⋈ big-dim` first and
  * `fact ⋈ selective-dim` first is the size of every intermediate
  * shuffle after it.
  *
  * This rule reorders a maximal INNER equi-join cluster whose leaves
  * are all snapshot relations (optionally under column-pruning
  * Projects and deterministic Filters) greedily by PROVEN numbers:
  *
  *  - leaf row counts come from the planned manifest itself (exact,
  *    never stale — the relation IS the file list), tightened by
  *    partition-value equality/IN conjuncts the way the metadata
  *    fold restricts entries (one stamp per file);
  *  - join-key distinct counts come from the ANALYZE sidecar's exact
  *    KMV sketches through [[TableStats.boundDistinct]] — the subset-
  *    valid, fingerprint-proven upper bound; a saturated sketch or a
  *    missing sidecar REFUSES the whole rewrite (the rule reorders
  *    on proven stats, never on guesses);
  *  - intermediate estimates use the textbook containment bound
  *    `|A ⋈ B| = rows(A)·rows(B) / max(ndv(keyA), ndv(keyB))`
  *    (Selinger's System R estimator — public knowledge), greedy
  *    smallest-intermediate-first, connected edges only (a reorder
  *    never manufactures a cross join).
  *
  * Inner equi-joins commute and associate, every conjunct is
  * re-attached at the first step whose sides cover it, and the
  * original output order is restored by a final Project — results are
  * invariant by construction; the flip is pure plan shape. A side
  * hint on a LEAF (the user's broadcast hint, or one
  * [[StatsBroadcast]] injected earlier in the same fixpoint batch)
  * TRAVELS with its leaf through the reorder; a hint on an
  * intermediate join side has no home after a reorder and refuses.
  *
  * Installed with the other [[Rules]] and switched off like them
  * (`spark.sql.optimizer.excludedRules=graft.plans.JoinOrder`).
  */
object JoinOrder extends Rule[LogicalPlan] with PredicateHelper
    with graft.QueryPack {

  // manual recursion instead of transformDown: a rebuilt or already-
  // canonical cluster's interior joins must NOT be re-flattened (a
  // sub-prefix re-reorder — greedy over the prefix alone — could
  // oscillate against the parent's choice across fixpoint
  // iterations); a REFUSED cluster recurses normally, since a
  // reorderable cluster may hide under an aggregate or a non-inner
  // join
  private sealed trait Outcome
  private case class Rebuilt(p: LogicalPlan) extends Outcome
  private case object Canonical extends Outcome
  private case object Refused extends Outcome

  override def apply(p: LogicalPlan): LogicalPlan = p match {
    case j: Join => reorder(j) match {
      case Rebuilt(np) => np
      case Canonical   => j // proven leaf-only below; nothing to visit
      case Refused     => j.mapChildren(apply)
    }
    case other => other.mapChildren(apply)
  }

  /** One leaf of a flattened cluster with its proven numbers and the
    * side HINT that rode it in the original tree (a broadcast hint —
    * the user's or [[StatsBroadcast]]'s — belongs to the LEAF it
    * marks and must travel with it through the reorder).
    */
  private final case class Leaf(plan: LogicalPlan, idx: SnapshotFileIndex,
                                rel: LogicalRelation, rows: Long,
                                hint: Option[HintInfo]) {
    def outputSet: AttributeSet = plan.outputSet
  }

  /** Flatten a maximal inner-equi cluster; None = any part refuses
    * (outer join, non-snapshot leaf, unmeasured entries, a hint on an
    * INTERMEDIATE join side — it has no home after a reorder).
    * Column-pruning Projects BETWEEN joins (the main optimizer batch
    * runs before this one and prunes every intermediate) are absorbed
    * when they sit over another join: dropping them widens the
    * rebuilt intermediates only by already-scanned columns, and the
    * final output Project restores the cluster's contract. A Project
    * over a NON-join child is the leaf's own pruning and stays with
    * the leaf. A side hint on a LEAF (a user broadcast hint, or one
    * [[StatsBroadcast]] injected earlier in the same fixpoint batch)
    * travels with that leaf.
    */
  private def isJoinish(p: LogicalPlan): Boolean = p match {
    case _: Join => true
    case Project(ps, _: Join) if ps.forall(_.isInstanceOf[AttributeReference]) =>
      true
    case _ => false
  }

  private def flatten(p: LogicalPlan)
      : Option[(Seq[(LogicalPlan, Option[HintInfo])], Seq[Expression])] =
    p match {
      case Join(l, r, Inner, cond, JoinHint(lh, rh)) =>
        def sideOf(q: LogicalPlan, h: Option[HintInfo])
            : Option[(Seq[(LogicalPlan, Option[HintInfo])], Seq[Expression])] =
          h match {
            case None => flatten(q)
            case Some(_) if isJoinish(q) => None // intermediate hint
            case some => Some((Seq((q, some)), Seq.empty))
          }
        for {
          (ll, lc) <- sideOf(l, lh)
          (rl, rc) <- sideOf(r, rh)
        } yield (ll ++ rl, lc ++ rc ++
          cond.toSeq.flatMap(splitConjunctivePredicates))
      case Project(ps, j: Join)
          if ps.forall(_.isInstanceOf[AttributeReference]) =>
        flatten(j)
      case other => Some((Seq((other, None)), Seq.empty))
    }

  /** The leaf's snapshot index + manifest-proven row count, through
    * column-pruning Projects and deterministic Filters. Partition
    * equality/IN conjuncts restrict the counted entries exactly (the
    * writer's one-value-per-file invariant); any other conjunct leaves
    * the count an upper bound — fine for ORDERING (results never
    * depend on the estimate, only the plan shape does).
    */
  private def leafOf(p: LogicalPlan, hint: Option[HintInfo]): Option[Leaf] = {
    def walk(q: LogicalPlan, conj: Seq[Expression])
        : Option[(SnapshotFileIndex, LogicalRelation, Seq[Expression])] =
      q match {
        case Project(ps, ch) if ps.forall(_.isInstanceOf[AttributeReference]) =>
          walk(ch, conj)
        case Filter(c, ch) if c.deterministic =>
          walk(ch, conj ++ splitConjunctivePredicates(c))
        case l: LogicalRelation if !l.isStreaming => l.relation match {
          case fs: HadoopFsRelation => fs.location match {
            case i: SnapshotFileIndex => Some((i, l, conj))
            case _ => None
          }
          case _ => None
        }
        case _ => None
      }
    walk(p, Nil).flatMap { case (idx, rel, conj) =>
      val entries = restrict(idx, rel, conj)
      if (entries.exists(_.rows <= 0L)) None // unmeasured fixture entry
      else {
        val base = math.max(1L, entries.map(_.rows).sum)
        Some(Leaf(p, idx, rel,
          math.max(1L, math.min(base, rankBound(idx, rel, conj))), hint))
      }
    }
  }

  /** Row upper bound from VALUE-range conjuncts through the rank
    * sidecar ([[graft.sources.RankStats.rangeBoundSubset]] — the
    * subset-valid, span-proven bound): a dim filtered by
    * `price < X` sizes from its quantile summary where the manifest
    * total says nothing. Estimation input only — a missing/stale
    * sidecar just leaves the manifest bound standing.
    */
  private def rankBound(idx: SnapshotFileIndex, rel: LogicalRelation,
                        conj: Seq[Expression]): Long = {
    def dbl(l: Literal): Option[Double] = l.value match {
      case n: java.lang.Number => Some(n.doubleValue())
      case _ => None
    }
    def bound(a: AttributeReference, lo: Option[Double],
              hi: Option[Double]): Option[Long] =
      rel.output.find(_.exprId == a.exprId).flatMap { out =>
        graft.sources.RankStats.rangeBoundSubset(SparkSession.active,
          idx.tablePath, out.name, idx.fileEntries.map(_.path), lo, hi)
      }
    conj.flatMap {
      case LessThan(a: AttributeReference, l: Literal) =>
        dbl(l).flatMap(v => bound(a, None, Some(v)))
      case LessThanOrEqual(a: AttributeReference, l: Literal) =>
        dbl(l).flatMap(v => bound(a, None, Some(v)))
      case GreaterThan(a: AttributeReference, l: Literal) =>
        dbl(l).flatMap(v => bound(a, Some(v), None))
      case GreaterThanOrEqual(a: AttributeReference, l: Literal) =>
        dbl(l).flatMap(v => bound(a, Some(v), None))
      case LessThan(l: Literal, a: AttributeReference) =>
        dbl(l).flatMap(v => bound(a, Some(v), None))
      case LessThanOrEqual(l: Literal, a: AttributeReference) =>
        dbl(l).flatMap(v => bound(a, Some(v), None))
      case GreaterThan(l: Literal, a: AttributeReference) =>
        dbl(l).flatMap(v => bound(a, None, Some(v)))
      case GreaterThanOrEqual(l: Literal, a: AttributeReference) =>
        dbl(l).flatMap(v => bound(a, None, Some(v)))
      case _ => None
    }.minOption.getOrElse(Long.MaxValue)
  }

  /** Entries surviving the partition-value conjuncts (equality/IN on
    * the file's own partition column); non-partition conjuncts keep
    * everything (upper bound).
    */
  private def restrict(idx: SnapshotFileIndex, rel: LogicalRelation,
                       conj: Seq[Expression]): Seq[FileEntry] = {
    import org.apache.spark.unsafe.types.UTF8String
    def lit(e: Expression): Option[String] = e match {
      case Literal(s: UTF8String, _) => Some(s.toString)
      case Literal(v: java.lang.Number, _) => Some(v.toString)
      case _ => None
    }
    def colName(a: AttributeReference): Option[String] =
      rel.output.find(_.exprId == a.exprId).map(_.name)
    conj.foldLeft(idx.fileEntries) { (acc, c) =>
      c match {
        case EqualTo(a: AttributeReference, l) if lit(l).isDefined =>
          keep(acc, idx, colName(a), Set(lit(l).get))
        case EqualTo(l, a: AttributeReference) if lit(l).isDefined =>
          keep(acc, idx, colName(a), Set(lit(l).get))
        case In(a: AttributeReference, ls) if ls.nonEmpty &&
            ls.forall(lit(_).isDefined) =>
          keep(acc, idx, colName(a), ls.flatMap(lit).toSet)
        case _ => acc
      }
    }
  }

  private def keep(acc: Seq[FileEntry], idx: SnapshotFileIndex,
                   colName: Option[String], vals: Set[String]): Seq[FileEntry] =
    colName match {
      case Some(n) =>
        val hit = acc.filter(e =>
          e.effPartCol(idx.defaultPartCol).contains(n) &&
            e.parts.exists(ps => ps.nonEmpty && ps.forall(vals.contains)))
        // a conjunct on a NON-partition column matches no stamps; only
        // apply the restriction when the layout is actually stamped by
        // this column (otherwise the filter says nothing about files)
        if (acc.exists(e => e.effPartCol(idx.defaultPartCol).contains(n)))
          hit
        else acc
      case None => acc
    }

  /** Exact-regime distinct-count upper bound of the attribute in its
    * base leaf, or None (no proof — the rewrite refuses).
    */
  private def ndvOf(leaves: Seq[Leaf], a: Attribute): Option[Long] =
    leaves.find(_.outputSet.contains(a)).flatMap { lf =>
      lf.rel.output.find(_.exprId == a.exprId).flatMap { out =>
        TableStats.boundDistinct(SparkSession.active, lf.idx.tablePath,
          out.name, lf.idx.fileEntries.map(_.path))
      }
    }

  private def reorder(top: Join): Outcome = {
    val (leafPlans, conds) = flatten(top).getOrElse(return Refused)
    if (leafPlans.size < 3 || conds.isEmpty) return Refused
    val leaves = leafPlans.map { case (p, h) =>
      leafOf(p, h).getOrElse(return Refused) }
    // every conjunct must be a placeable predicate over exactly the
    // cluster's attributes (no correlated/outer references)
    val allAttrs = AttributeSet(leaves.flatMap(_.plan.output))
    if (!conds.forall(_.references.subsetOf(allAttrs))) return Refused
    // equi edges with their proven key NDVs; any edge without a single
    // proven side refuses (declared stats, not guesses)
    val edges: Seq[(Int, Int, Long)] = conds.flatMap {
      case EqualTo(x: AttributeReference, y: AttributeReference) =>
        val xi = leaves.indexWhere(_.outputSet.contains(x))
        val yi = leaves.indexWhere(_.outputSet.contains(y))
        if (xi < 0 || yi < 0 || xi == yi) None
        else {
          val nx = ndvOf(leaves, x)
          val ny = ndvOf(leaves, y)
          if (nx.isEmpty && ny.isEmpty) return Refused
          Some((math.min(xi, yi), math.max(xi, yi),
            math.max(1L, math.max(nx.getOrElse(1L), ny.getOrElse(1L)))))
        }
      case _ => None
    }
    if (edges.isEmpty) return Refused
    def ndvBetween(a: Set[Int], b: Int): Option[Long] = {
      val hit = edges.filter(e =>
        (a.contains(e._1) && e._2 == b) || (a.contains(e._2) && e._1 == b))
      if (hit.isEmpty) None else Some(hit.map(_._3).max)
    }
    // greedy smallest-intermediate-first over connected leaves
    val n = leaves.size
    val startPairs = for {
      i <- 0 until n; j <- (i + 1) until n
      ndv <- ndvBetween(Set(i), j)
    } yield (i, j,
      leaves(i).rows.toDouble * leaves(j).rows.toDouble / ndv.toDouble)
    if (startPairs.isEmpty) return Refused
    val (s1, s2, est0) = startPairs.minBy(_._3)
    var order = Vector(s1, s2)
    var chosen = Set(s1, s2)
    var cur = est0
    while (chosen.size < n) {
      val cands = (0 until n).filterNot(chosen).flatMap { k =>
        ndvBetween(chosen, k).map(ndv =>
          (k, cur * leaves(k).rows.toDouble / ndv.toDouble))
      }
      if (cands.isEmpty) return Refused // disconnected: leave it alone
      val (k, est) = cands.minBy(_._2)
      order :+= k
      chosen += k
      cur = est
    }
    // already in this order? the cluster is canonical — stop here so
    // fixpoint iterations cannot re-reorder an interior prefix
    if (order == (0 until n).toVector) return Canonical
    // rebuild left-deep, attaching every conjunct at the first step
    // whose sides cover it; anything unplaced refuses (it would have
    // to ride a cross join)
    var remaining = conds
    var built: LogicalPlan = leaves(order.head).plan
    var builtSet = leaves(order.head).outputSet
    order.tail.zipWithIndex.foreach { case (k, step) =>
      val side = leaves(k)
      val both = builtSet ++ side.outputSet
      val (now, later) = remaining.partition(_.references.subsetOf(both))
      if (now.isEmpty) return Refused
      remaining = later
      // leaf hints travel with their leaf: the first join's left side
      // IS a leaf and keeps its hint; later left sides are rebuilt
      // intermediates (any intermediate hint already refused upstream)
      built = Join(built, side.plan, Inner, Some(now.reduce(And)),
        JoinHint(if (step == 0) leaves(order.head).hint else None,
          side.hint))
      builtSet = both
    }
    if (remaining.nonEmpty) return Refused
    Rebuilt(Project(top.output.toIndexedSeq, built))
  }

  // ---- driver query ---------------------------------------------------

  // orders ⋈ customer ⋈ nation over snapshot tables, WRITTEN in the
  // worst order (fact joins the big dim first); the greedy reorder
  // flips to customer ⋈ nation first from declared stats alone.
  // k = 65536 keeps every key sketch in its exact regime through the
  // bench SF (15k customers).

  /** The memoized (orders, customer, nation) snapshot fixture —
    * shared with [[DynamicPrune]]'s and [[WindowTopK]]'s driver queries
    * so the bench builds the star tables once.
    */
  private[plans] def fixturePaths(s: SparkSession, dir: String)
      : (String, String, String) =
    Staged(s, dir, "joinOrder") {
      import graft.sources.SnapshotTable
      import graft.Tables
      val root = Staged.scratch(s, "graft_joinorder")
      val (o, c, nt) = (s"$root/orders", s"$root/customer", s"$root/nation")
      // statsCols: per-file o_totalprice (lo, hi, nulls, rows) +
      // range clustering within each priority partition — what
      // arms WindowTopK's per-group thresholds on this fixture
      SnapshotTable.create(s, o, Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice"), col("o_orderpriority")),
        "o_orderpriority", statsCols = Seq("o_totalprice"))
      SnapshotTable.create(s, c, Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_nationkey"),
          col("c_mktsegment")), "c_mktsegment")
      SnapshotTable.create(s, nt, Tables.nation(s, dir)
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey")),
        "n_regionkey")
      TableStats.analyze(s, o, Seq("o_custkey"), k = 65536)
      TableStats.analyze(s, c, Seq("c_custkey", "c_nationkey"),
        k = 65536)
      TableStats.analyze(s, nt, Seq("n_nationkey"), k = 65536)
      (o, c, nt)
    }

  /** The reordered star rollup: plan shape comes from the greedy
    * reorder (JoinOrderSpec pins the flip and the refusals); this
    * query pins the RESULT — an order-dependent rewrite bug (a lost
    * conjunct, a broken output projection) breaks the hash against
    * the oracle's plain 3-way join.
    */
  def joinOrderQuery(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.SnapshotTable
    val (o, c, nt) = fixturePaths(s, dir)
    val orders = SnapshotTable.read(s, o)
    val customer = SnapshotTable.read(s, c)
    val nation = SnapshotTable.read(s, nt)
    orders
      .join(customer, col("o_custkey") === col("c_custkey"))
      .join(nation.filter(col("n_name") === "NATION_19"),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("total_price"),
        max(col("o_orderkey")).as("max_key"))
      .orderBy(col("c_mktsegment"))
  }

  override def queries: Map[String, graft.QueryPack.Q] = Map(
    "q_join_order" -> (joinOrderQuery _))

  override def oracleSql: Map[String, String] = Map(
    "q_join_order" ->
      """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_price,
        |  CAST(max(o_orderkey) AS BIGINT) AS max_key
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE n_name = 'NATION_19'
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)
}
