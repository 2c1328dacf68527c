package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

import graft.{QueryPack, Staged, Tables}
import graft.sources.{SnapshotFileIndex, SnapshotTable}

/** `[EXT]` Eager aggregation — push a partial aggregate below an inner
  * equi-join (Yan & Larson, VLDB '95; shipped by DB2 and SQL Server,
  * absent from Catalyst): `Agg(fact ⋈ dim)` whose aggregate functions
  * read only fact columns becomes
  * `Agg(PartialAgg(fact BY join-keys ∪ fact-group-cols) ⋈ dim)`.
  *
  * Soundness (inner equi-join, decomposable functions): every fact row
  * collapsed into one partial group shares ALL attributes the join
  * condition reads, so the join expands each partial row by exactly the
  * match count its rows had; `sum`/`count` are linear (Σ m·x per row =
  * m·Σ x per group) and `min`/`max` are multiplicity-blind, so the
  * re-aggregation over the expanded partials equals the original. Null
  * join keys drop whole partial groups exactly as the join dropped
  * their rows; a partial group with no dim partner vanishes like its
  * rows did. `count` re-aggregates as `coalesce(sum(partial), 0)`
  * (type- and null-profile-identical); a decimal `sum` re-aggregates
  * through Spark's widened re-sum with a cast back to the original
  * result type (lossless whenever the original sum itself fit). A
  * DOUBLE `sum` is exact up to floating-point re-association — the
  * same non-contract Spark's own partition-order-dependent partial
  * aggregation already has; integral and decimal sums are bit-exact.
  * `avg` (double result) decomposes to a (sum, count) partial pair and
  * re-assembles as the same sum-over-count division `Average` itself
  * evaluates. Refused outright: outer joins, non-equi or
  * non-deterministic conjuncts, distinct/FILTER aggregates, functions
  * beyond sum/count/min/max/avg, aggregates reading both sides,
  * non-attribute grouping expressions.
  *
  * At 100 TB this decides how many rows cross the fact table's join
  * shuffle: a raw fact⋈dim plan shuffles every fact ROW, the eager plan
  * shuffles one row per (join key × fact group) — orders of magnitude
  * fewer on the classic revenue-by-dim-attribute shape. It is a
  * heuristic with a known bad case (near-unique join keys make the
  * partial agg pure overhead) — so it is OPT-IN PER FACT TABLE
  * ([[enableFor]]): declaring "this table is the big one,
  * pre-aggregate it" is a data-model fact the pipeline owner states
  * once, the same trust model as [[JoinElimination]]'s keys (and
  * Iceberg's write-order hints). AND the engine now costs the known
  * bad case from the stats it owns: when EVERY partial-group column
  * carries a fresh exact NDV sketch ([[graft.sources.TableStats
  * .boundDistinct]]), the rule DECLINES unless the bound proves the
  * partial aggregate at least halves the shuffled rows
  * (`∏ ndv ≤ rows/2`) — the near-unique-key fact that slipped through
  * an over-broad opt-in no longer pays for it. No sketch (or a
  * saturated/stale one) keeps the owner's declaration;
  * `enableFor(table, force = true)` skips the cost gate entirely.
  *
  * Installed with the other [[Rules]]; switch it off with
  * `spark.sql.optimizer.excludedRules=graft.plans.EagerAggregation`.
  */
object EagerAggregation extends Rule[LogicalPlan] with PredicateHelper
    with QueryPack {

  // SESSION-SCOPED carrier: the opt-ins live in the SESSION CONF
  // (URL-encoded entries under one key), which draws exactly the right
  // boundary — `cloneSession` copies it, so the clones Structured
  // Streaming plans micro-batches under keep firing; `newSession`
  // starts fresh, so a sibling tenant inherits no trust. (An
  // instance-keyed map would silently disable the rule under clones;
  // a process global would leak across tenants.)
  private val TablesKey = "spark.graft.eagerAgg.tables"

  private def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
  private def dec(s: String) = java.net.URLDecoder.decode(s, "UTF-8")

  // entry = enc(norm(path)) with an optional "!force" marker; '!' and
  // ',' never appear in URL-encoded text. The parser runs in the
  // OPTIMIZER on every query: a hand-set or truncated conf value must
  // degrade to "entry ignored" (the rule declines to fire), never
  // throw mid-plan and fail every query in the session — malformed
  // entries (bad percent-escape) are skipped, not errors
  private def parseTables(v: String): Map[String, Boolean] =
    v.split(",").iterator.filter(_.nonEmpty).flatMap { e =>
      val force = e.endsWith("!force")
      try Some(dec(if (force) e.dropRight(6) else e) -> force)
      catch { case scala.util.control.NonFatal(_) => None }
    }.toMap

  private def renderTables(m: Map[String, Boolean]): String =
    m.toSeq.sortBy(_._1).map { case (t, f) =>
      enc(t) + (if (f) "!force" else "") }.mkString(",")

  private def norm(p: String): String =
    new org.apache.hadoop.fs.Path(p).toUri.toString

  /** Opt `table` (a snapshot-table path) into eager aggregation when it
    * appears as the fact side of a qualifying aggregate-over-join, in
    * the ACTIVE session (pass the session explicitly to opt in another
    * one). `force = true` additionally skips the NDV cost gate — fire
    * even when fresh stats prove the partial aggregate can't halve the
    * shuffle (the owner knows better, e.g. a filter makes the sketch's
    * table-level view irrelevant).
    */
  def enableFor(table: String): Unit = enableFor(table, force = false)

  def enableFor(table: String, force: Boolean): Unit =
    enableFor(SparkSession.active, table, force)

  def enableFor(spark: SparkSession, table: String, force: Boolean): Unit =
    spark.conf.set(TablesKey, renderTables(
      parseTables(spark.conf.get(TablesKey, "")) + (norm(table) -> force)))

  private[graft] def clearEnabled(spark: SparkSession): Unit =
    spark.conf.unset(TablesKey)

  override def apply(plan: LogicalPlan): LogicalPlan = {
    // the planning session's conf (SQLConf is clone-copied) IS the
    // registry — no session-instance lookup anywhere in the rule
    val enabled = parseTables(conf.getConfString(TablesKey, ""))
    if (enabled.isEmpty) plan
    else plan.transformDown {
      // attr-only Projects between the Aggregate and the Join (column
      // pruning leaves one) are bypassed: the rebuilt child exposes a
      // superset of their output and the Aggregate projects for itself
      case a: Aggregate => stripProjects(a.child) match {
        case j: Join => tryRewrite(a, j, enabled).getOrElse(a)
        case _ => a
      }
    }
  }

  private def stripProjects(p: LogicalPlan): LogicalPlan = p match {
    case Project(ps, c) if ps.forall(_.isInstanceOf[AttributeReference]) =>
      stripProjects(c)
    case other => other
  }

  private def tryRewrite(a: Aggregate, j: Join,
                         enabled: Map[String, Boolean]): Option[LogicalPlan] = {
    if (j.joinType != Inner) return None
    val conjuncts = j.condition.toSeq.flatMap(splitConjunctivePredicates)
    if (conjuncts.isEmpty) return None
    if (!a.groupingExpressions.forall(_.isInstanceOf[AttributeReference]))
      return None
    val aggExprs = a.aggregateExpressions
      .flatMap(_.collect { case ae: AggregateExpression => ae })
    if (aggExprs.isEmpty) return None // pure distinct: not this rule's job
    if (aggExprs.exists(ae => ae.isDistinct || ae.filter.isDefined))
      return None

    def attempt(fact: LogicalPlan, dim: LogicalPlan,
                rebuild: LogicalPlan => Join): Option[LogicalPlan] = {
      if (enabledFact(fact, enabled).isEmpty) return None
      // every conjunct: fact-attr = dim-attr (any order)
      val factJoinAttrs = conjuncts.map {
        case EqualTo(l: AttributeReference, r: AttributeReference) =>
          if (fact.outputSet.contains(l) && dim.outputSet.contains(r)) l
          else if (fact.outputSet.contains(r) && dim.outputSet.contains(l)) r
          else return None
        case _ => return None
      }
      // aggregate functions read the fact side only
      if (!aggExprs.forall(_.references.subsetOf(fact.outputSet)))
        return None
      // grouping attrs split cleanly across the two sides
      val (factGroup, dimGroup) = a.groupingExpressions
        .map(_.asInstanceOf[AttributeReference])
        .partition(fact.outputSet.contains)
      if (!dimGroup.forall(dim.outputSet.contains)) return None

      // partials per distinct function (avg carries two: sum + count);
      // unsupported shape = refuse
      val distinctAggs = aggExprs.foldLeft(Seq.empty[AggregateExpression]) {
        (acc, ae) => if (acc.exists(_.semanticEquals(ae))) acc else acc :+ ae
      }
      def partial(fn: AggregateFunction, name: String): Alias =
        Alias(AggregateExpression(fn, Complete, isDistinct = false), name)()
      val partials: Seq[(AggregateExpression, Seq[Alias])] =
        distinctAggs.zipWithIndex.map { case (ae, i) =>
          ae.aggregateFunction match {
            case _: Sum | _: Count | _: Min | _: Max =>
              ae -> Seq(partial(ae.aggregateFunction, s"ea_p$i"))
            case a: Average if a.dataType == DoubleType =>
              // avg decomposes to (sum, count); re-assembled as the same
              // sum-over-count division Average itself evaluates
              ae -> Seq(partial(Sum(a.child), s"ea_p${i}s"),
                partial(Count(Seq(a.child)), s"ea_p${i}c"))
            case _ => return None
          }
        }
      def finalForm(ae: AggregateExpression): Option[Expression] =
        partials.find(_._1.semanticEquals(ae)).map { case (_, aliases) =>
          val p = aliases.head.toAttribute
          ae.aggregateFunction match {
            case s: Sum =>
              val resummed = ae.copy(aggregateFunction = s.copy(child = p))
              // decimal re-sum widens the result type; cast back (lossless
              // whenever the original total fit its own type)
              if (s.dataType.isInstanceOf[DecimalType]) Cast(resummed, s.dataType)
              else if (s.dataType == LongType || s.dataType == DoubleType) resummed
              else return None
            case _: Count =>
              Coalesce(Seq(
                ae.copy(aggregateFunction = Sum(p), resultId = ae.resultId),
                Literal(0L)))
            case m: Min => ae.copy(aggregateFunction = m.copy(child = p))
            case m: Max => ae.copy(aggregateFunction = m.copy(child = p))
            case _: Average =>
              val cnt = aliases(1).toAttribute
              // null exactly when every input was null: the sum side is
              // then SQL NULL and the division propagates it
              Divide(
                Cast(AggregateExpression(Sum(p), Complete,
                  isDistinct = false), DoubleType),
                Cast(AggregateExpression(Sum(cnt), Complete,
                  isDistinct = false), DoubleType))
            case _ => return None
          }
        }

      val partialGroup = (factJoinAttrs ++ factGroup)
        .foldLeft(Seq.empty[AttributeReference]) { (acc, at) =>
          if (acc.exists(_.exprId == at.exprId)) acc else acc :+ at
        }
      if (!worthIt(fact, partialGroup, enabled)) return None
      val partialAgg = Aggregate(partialGroup,
        partialGroup ++ partials.flatMap(_._2), fact)
      val rewrittenAe = a.aggregateExpressions.map { ne =>
        ne.transformUp {
          case ae: AggregateExpression => finalForm(ae).getOrElse(return None)
        }.asInstanceOf[NamedExpression]
      }
      Some(a.copy(aggregateExpressions = rewrittenAe,
        child = rebuild(partialAgg)))
    }

    attempt(j.left, j.right, p => j.copy(left = p))
      .orElse(attempt(j.right, j.left, p => j.copy(right = p)))
  }

  /** The opted-in snapshot relation under `p` (a bare scan through
    * attr-only Projects / deterministic Filters), with its force flag.
    * An already-aggregated side never matches, so the rewrite cannot
    * re-fire on its own output.
    */
  private def enabledFact(p: LogicalPlan, enabled: Map[String, Boolean])
      : Option[(SnapshotFileIndex, LogicalRelation, Boolean)] = p match {
    case Project(ps, c) if ps.forall(_.isInstanceOf[AttributeReference]) =>
      enabledFact(c, enabled)
    case Filter(cond, c) if cond.deterministic => enabledFact(c, enabled)
    case l: LogicalRelation if !l.isStreaming => l.relation match {
      case fs: HadoopFsRelation => fs.location match {
        case idx: SnapshotFileIndex =>
          enabled.get(norm(idx.tablePath)).map(f => (idx, l, f))
        case _ => None
      }
      case _ => None
    }
    case _ => None
  }

  /** NDV cost gate over the partial-group columns: fire only when the
    * exact sketches PROVE `∏ ndv(partial-group cols) ≤ fact rows / 2`
    * — i.e. the partial aggregate at least halves what crosses the
    * join shuffle. The sketches are valid as an upper bound because
    * the planned files are a subset of the analyzed live set
    * ([[graft.sources.TableStats.boundDistinct]]'s contract). A column
    * without a fresh sketch keeps the owner's opt-in (this gate
    * declines PROVEN-bad rewrites; it never demands proof to fire —
    * the opt-in already states the table is the big one), and
    * `force = true` skips the gate. Note the row count is the TABLE's:
    * under a fact-side filter the true reduction can be smaller than
    * proven — the same table-level-stats approximation every
    * stats-fed optimizer makes (and why force exists).
    */
  private def worthIt(fact: LogicalPlan,
                      partialGroup: Seq[AttributeReference],
                      enabled: Map[String, Boolean]): Boolean =
    enabledFact(fact, enabled) match {
      case None => false // unreachable: attempt() checked isEnabledFact
      case Some((_, _, true)) => true
      case Some((idx, rel, false)) =>
        val entries = idx.fileEntries
        if (entries.isEmpty || entries.exists(_.rows <= 0L)) return true
        val rows = entries.map(_.rows).sum
        val planned = entries.map(_.path)
        val spark = SparkSession.active
        val ndvs = partialGroup.map { at =>
          rel.output.find(_.exprId == at.exprId).map(_.name).flatMap { n =>
            graft.sources.TableStats.boundDistinct(
              spark, idx.tablePath, n, planned)
          }
        }
        if (ndvs.exists(_.isEmpty)) true // no proof -> declaration stands
        else {
          val groups = ndvs.flatten.map(BigInt(_)).product.min(BigInt(rows))
          groups * 2 <= BigInt(rows)
        }
    }

  // ------------------------------------------------------------------
  // driver query: revenue-by-dim-attribute over a snapshot lineitem
  // fact (opted in) joined to an orders dim — the canonical shape where
  // the fact's join shuffle carries one row per order instead of one
  // per line item. The oracle replays the plain join+aggregate.
  // ------------------------------------------------------------------

  private def fixture(s: SparkSession, dir: String): (String, String) =
    Staged(s, dir, "eagerAgg.fixture") {
      val root = Staged.scratch(s, "graft_eager_agg")
      val fact = s"$root/lineitem"
      val dim = s"$root/orders"
      SnapshotTable.create(s, fact,
        Tables.lineitem(s, dir).select(Seq("l_orderkey", "l_quantity",
          "l_extendedprice", "l_returnflag").map(col): _*),
        "l_returnflag")
      SnapshotTable.create(s, dim,
        Tables.orders(s, dir).select(Seq("o_orderkey",
          "o_orderpriority").map(col): _*),
        "o_orderpriority")
      enableFor(fact)
      (fact, dim)
    }

  /** Line-item rollup by ORDER priority — aggregates read the fact, the
    * group key reads the dim, so the partial aggregate (BY l_orderkey)
    * crosses the join in place of the raw line items.
    */
  def eagerAggQuery(s: SparkSession, dir: String): DataFrame = {
    val (factT, dimT) = fixture(s, dir)
    val fact = SnapshotTable.read(s, factT)
    val dim = SnapshotTable.read(s, dimT)
    fact.join(dim, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
          .as("sum_qty"),
        max(col("l_extendedprice")).as("max_price"))
      .orderBy(col("o_orderpriority"))
  }

  // second fixture: the per-entity fan-in shape (many events per user)
  // joined to a per-user dim — ANALYZEd on the join key, so
  // [[StatsBroadcast]]'s aggregate sizing can bound the partial
  // aggregate's output and broadcast it
  private def eventsFixture(s: SparkSession, dir: String): (String, String) =
    Staged(s, dir, "eagerAgg.events") {
      val root = Staged.scratch(s, "graft_eager_ev")
      val fact = s"$root/events"
      val dim = s"$root/users"
      SnapshotTable.create(s, fact,
        Tables.events(s, dir).select(Seq("event_id", "user_id",
          "event_type", "value").map(col): _*),
        "event_type")
      SnapshotTable.create(s, dim,
        Tables.events(s, dir).select(col("user_id")).distinct()
          .select(col("user_id").as("u_id"),
            (col("user_id") % 10).cast("string").as("u_region"),
            lit("all").as("u_part")),
        "u_part")
      enableFor(fact)
      graft.sources.TableStats.analyze(s, fact, Seq("user_id"),
        k = 4096)
      (fact, dim)
    }

  /** Per-region event rollup through the full composition: eager
    * aggregation collapses events to one partial row per user BELOW the
    * join, and [[StatsBroadcast]]'s NDV-bounded aggregate sizing lets
    * that partial side broadcast (Spark's own sizing sees it at fact
    * bytes). The oracle computes the rollup directly from events — the
    * users dim is definitionally redundant, which is what makes the
    * replay exact.
    */
  def aggBroadcastQuery(s: SparkSession, dir: String): DataFrame = {
    val (factT, dimT) = eventsFixture(s, dir)
    val fact = SnapshotTable.read(s, factT)
    val dim = SnapshotTable.read(s, dimT)
    fact.join(dim, col("user_id") === col("u_id"))
      .groupBy(col("u_region"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double")
          .as("sum_value"),
        max(col("event_id")).as("max_event"))
      .orderBy(col("u_region"))
  }

  override def queries: Map[String, QueryPack.Q] = Map(
    "q_eager_agg" -> (eagerAggQuery _),
    "q_agg_broadcast" -> (aggBroadcastQuery _))

  override def oracleSql: Map[String, String] = Map(
    "q_agg_broadcast" ->
      """SELECT CAST(user_id % 10 AS VARCHAR) AS u_region,
        |       count(*) AS n_events,
        |       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
        |         AS sum_value,
        |       CAST(max(event_id) AS BIGINT) AS max_event
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_eager_agg" ->
      """SELECT o_orderpriority,
        |       count(*) AS n_items,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |         AS sum_qty,
        |       max(l_extendedprice) AS max_price
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
}
