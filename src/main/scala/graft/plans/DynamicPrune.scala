package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, max, sum}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{Inner, LeftAnti, LeftOuter, LeftSemi, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.BooleanType

import graft.Staged
import graft.sources.SnapshotFileIndex

/** `[EXT]` IN-list dynamic file pruning for snapshot star joins — the
  * published Trino "dynamic filtering" construction (collect the small
  * build side's join keys, push them into the probe scan as an IN
  * predicate), re-expressed as a Catalyst rule over snapshot
  * relations. Spark's own dynamic partition pruning cannot serve these
  * tables: [[SnapshotFileIndex]] deliberately exposes NO partition
  * schema (partition values live in the rows; all pruning arrives as
  * data filters), so the `PartitionPruning` batch never matches, and
  * Spark's runtime bloom filters drop ROWS after the scan, never
  * FILES before it. At 100 TB the difference is the whole game:
  * `fact ⋈ dim WHERE dim.attr = x` selects a handful of join keys,
  * and the fact side's files for every other key need never be
  * planned, read, or shuffled.
  *
  * Mechanics: for an INNER (or LEFT SEMI) equi-join conjunct
  * `fk = dk` whose `dk` side is a REGISTERED snapshot relation under
  * deterministic Filters/Projects with a manifest-proven row bound ≤
  * `maxBuildRows`, the rule executes `SELECT DISTINCT dk` of that side
  * ONCE at planning time (capped at `maxKeys` + 1 — one over refuses),
  * and injects `fk IN (keys)` directly above the probe side's snapshot
  * relation. The scan's [[SnapshotFileIndex.listFiles]] then prunes
  * files by partition stamp, min/max stats, and per-file blooms — the
  * same machinery a literal IN enjoys — and the parquet reader gets
  * the pushed IN for row-group skipping on whatever survives.
  *
  * Soundness is the semi-join-reduction identity: every inner-join
  * output row has `fk = dk` for some build row that passed the build
  * filters, so `fk ∈ keys` holds for exactly the surviving rows (null
  * `fk` never equi-joins; null keys are dropped). An EMPTY key set
  * proves the join output empty and injects `false` — which
  * [[SnapshotFileIndex]] prunes to ZERO files. The build side runs
  * twice (once here, once in the join); registration + the row bound
  * keep that second run dim-sized, and the pinned manifest makes both
  * runs read the SAME snapshot even under concurrent commits.
  *
  * Refusals, never guesses: an unregistered build table (the registry
  * is the owner's promise that planning-time execution is acceptable);
  * a build side that is not Project/Filter-over-snapshot, is streaming,
  * carries a nondeterministic or subquery filter (it would execute
  * twice with different outcomes), or has an unmeasured/oversized
  * manifest bound; more than `maxKeys` distinct keys; a probe side
  * whose relation lacks any pruning evidence for `fk` (no partition
  * stamp, stats, or bloom — the IN would prune nothing); a
  * nondeterministic probe-side filter (injecting below it would
  * reorder its evaluation). Fixpoint-stable: collected key sets are
  * memoized per session (weak) keyed by the canonicalized build plan,
  * and a probe that already carries the exact conjunct is left alone.
  *
  * [[graft.operators.DynamicFilterJoin]] is this construction's
  * EXPLICIT form (the caller hands over fact/dim/keys and accepts the
  * collect); this rule is the transparent twin — a plain `.join` or
  * pure-SQL star query gets the same file pruning once the dim table
  * is registered, plus the shapes the helper cannot see (LEFT SEMI,
  * multi-conjunct, and the proven-empty build that here plans ZERO
  * probe files where the helper degrades to a full scan).
  *
  * Registry: `spark.graft.dynamicPrune.tables` — session-conf-carried
  * (micro-batch `cloneSession` inherits, `newSession` tenants stay
  * isolated), parsed defensively (a malformed entry is ignored, never
  * a planning failure). Installed with the other [[Rules]].
  */
object DynamicPrune extends Rule[LogicalPlan] with PredicateHelper
    with graft.QueryPack {

  private val TablesKey  = "spark.graft.dynamicPrune.tables"
  private val MaxBuildKey = "spark.graft.dynamicPrune.maxBuildRows"
  private val MaxKeysKey  = "spark.graft.dynamicPrune.maxKeys"

  private def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
  private def dec(s: String) = java.net.URLDecoder.decode(s, "UTF-8")

  private def parseTables(v: String): Set[String] =
    v.split(",").iterator.filter(_.nonEmpty).flatMap { e =>
      try Some(dec(e))
      catch { case scala.util.control.NonFatal(_) => None }
    }.toSet

  private def norm(p: String): String =
    new org.apache.hadoop.fs.Path(p).toUri.toString

  /** Opt `table` (a snapshot-table path) in as a dynamic-prune BUILD
    * side in the active (or given) session: joins whose small side
    * reads this table may execute that side at planning time.
    */
  def enableFor(table: String): Unit = enableFor(SparkSession.active, table)

  def enableFor(spark: SparkSession, table: String): Unit =
    spark.conf.set(TablesKey,
      (parseTables(spark.conf.get(TablesKey, "")) + norm(table))
        .toSeq.sorted.map(enc).mkString(","))

  private[graft] def clearEnabled(spark: SparkSession): Unit =
    spark.conf.unset(TablesKey)

  // collected DISTINCT key sets per session (weak — a dropped session
  // drops its cache), keyed by the canonicalized keys-subplan: the
  // fixpoint's second pass (and every later query over the same dim
  // shape) reuses the collected set instead of re-running the job.
  // None = refused (over maxKeys) — cached too, the re-run would only
  // re-discover the refusal at full cost.
  private val keysCache = new java.util.WeakHashMap[
    SparkSession,
    scala.collection.mutable.Map[(LogicalPlan, Int), Option[Seq[Any]]]]()

  private def cacheFor(s: SparkSession)
      : scala.collection.mutable.Map[(LogicalPlan, Int), Option[Seq[Any]]] =
    keysCache.synchronized {
      var m = keysCache.get(s)
      if (m == null) {
        m = scala.collection.mutable.Map.empty
        keysCache.put(s, m)
      }
      m
    }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val enabled = parseTables(conf.getConfString(TablesKey, ""))
    if (enabled.isEmpty) plan
    else plan.transformDown {
      case j @ Join(_, _,
          Inner | LeftSemi | LeftAnti | LeftOuter | RightOuter,
          Some(_), _) =>
        tryPrune(j, enabled)
    }
  }

  /** Which probe sides semi-join reduction is SOUND for, per join
    * type. Inner/LeftSemi: both — a probe row whose key matches no
    * build key joins nothing (semi's right side included: such a row
    * witnesses no match for anyone). LeftOuter: only the RIGHT side
    * may be pruned (left rows must all survive as outer rows; a right
    * row matching no left key contributes no match) — RightOuter
    * mirrors. LeftAnti: only the right side (removing never-matching
    * right rows preserves match-existence for every left row; pruning
    * the LEFT side would delete anti results). FullOuter never
    * appears here (neither side may lose rows).
    */
  private def directions(jt: org.apache.spark.sql.catalyst.plans.JoinType)
      : (Boolean, Boolean) = jt match {
    case Inner | LeftSemi      => (true, true)
    case LeftOuter | LeftAnti  => (false, true) // prune right only
    case RightOuter            => (true, false) // prune left only
    case _                     => (false, false)
  }

  private def tryPrune(j: Join, enabled: Set[String]): Join = {
    val maxBuild = longConf(MaxBuildKey, 1000000L)
    // clamped non-negative: the memo's range lane reserves -1
    val maxKeys  = math.max(0L, longConf(MaxKeysKey, 4096L)).toInt
    val (pruneLeft, pruneRight) = directions(j.joinType)
    var cur = j
    splitConjunctivePredicates(j.condition.get).foreach {
      case EqualTo(x: AttributeReference, y: AttributeReference) =>
        val (lk, rk) =
          if (cur.left.outputSet.contains(x) &&
            cur.right.outputSet.contains(y)) (Some(x), Some(y))
          else if (cur.left.outputSet.contains(y) &&
            cur.right.outputSet.contains(x)) (Some(y), Some(x))
          else (None, None)
        for (probeKey <- lk; buildKey <- rk) {
          if (pruneLeft)
            attempt(cur.left, probeKey, cur.right, buildKey,
              enabled, maxBuild, maxKeys)
              .foreach(nl => cur = cur.copy(left = nl))
          if (pruneRight)
            attempt(cur.right, buildKey, cur.left, probeKey,
              enabled, maxBuild, maxKeys)
              .foreach(nr => cur = cur.copy(right = nr))
        }
      case _ => ()
    }
    cur
  }

  private def longConf(key: String, dflt: Long): Long =
    try conf.getConfString(key, dflt.toString).toLong
    catch { case _: NumberFormatException => dflt }

  /** One direction of one conjunct: prove, collect, inject. None = any
    * gate refused or the conjunct is already in place.
    */
  private def attempt(probe: LogicalPlan, probeKey: AttributeReference,
                      build: LogicalPlan, buildKey: AttributeReference,
                      enabled: Set[String], maxBuild: Long, maxKeys: Int)
      : Option[LogicalPlan] = {
    if (!probe.outputSet.contains(probeKey) ||
      !build.outputSet.contains(buildKey)) return None
    if (!probePrunable(probe, probeKey)) return None
    // one dynamic IN per key: a probe already carrying an IN (ours or
    // the user's) or a proven-false conjunct refuses BEFORE any
    // planning-time job — this is what makes fixpoint pass 2 free,
    // and keeps the both-sides-registered case from stacking filters
    // keyed on each other's narrowed outputs
    if (hasKeyIn(probe, probeKey)) return None
    buildBound(build, enabled) match {
      case Some(rows) if rows <= maxBuild =>
        val cond = collectKeys(build, buildKey, maxKeys) match {
          case Some(keys) =>
            val sorted = keys.sortBy(Literal(_, buildKey.dataType).toString)
            if (sorted.isEmpty) Some(Literal.FalseLiteral)
            else Some(In(probeKey,
              sorted.map(v => Literal(v, buildKey.dataType))))
          // over-cap key count: fall back to the build side's [min,
          // max] RANGE (Trino's large-set dynamic filter) — a strictly
          // weaker but still sound reduction (removed rows lie outside
          // every build key), and the shape manifest min/max stats
          // prune on a key-clustered layout. Ordered numeric /
          // timestamp keys only: string stats are not recorded, the
          // range would prune nothing.
          case None if rangedType(buildKey.dataType) =>
            collectRange(build, buildKey).map {
              case Some((lo, hi)) =>
                And(GreaterThanOrEqual(probeKey, Literal(lo, buildKey.dataType)),
                  LessThanOrEqual(probeKey, Literal(hi, buildKey.dataType)))
              case None => Literal.FalseLiteral // all build keys NULL
            }
          case None => None
        }
        cond.flatMap(inject(probe, probeKey, _))
      case _ => None
    }
  }

  private def rangedType(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt match {
      case _: org.apache.spark.sql.types.NumericType => true
      case org.apache.spark.sql.types.TimestampType |
           org.apache.spark.sql.types.TimestampNTZType |
           org.apache.spark.sql.types.DateType => true
      case _ => false
    }

  /** The build side's (min, max) over non-null keys via one
    * planning-time agg job (memoized like the key set; inner None =
    * every key NULL — the join output is provably empty).
    */
  private def collectRange(build: LogicalPlan, key: AttributeReference)
      : Option[Option[(Any, Any)]] = {
    val spark = SparkSession.active
    import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Max, Min}
    def agg(f: org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction,
            n: String) =
      Alias(AggregateExpression(f, Complete, isDistinct = false), n)()
    val sub = Aggregate(Nil,
      Seq(agg(Min(key), "lo"), agg(Max(key), "hi")), build)
    val cacheKey = (sub.canonicalized, -1) // -1: the range lane
    val cache = cacheFor(spark)
    cache.synchronized(cache.get(cacheKey)) match {
      case Some(hit) => hit.map {
        case Seq(lo, hi) => Some((lo, hi))
        case _           => None
      }
      case None =>
        val res: Option[Seq[Any]] =
          try {
            val row = spark.sessionState.executePlan(sub)
              .executedPlan.executeCollect().head
            if (row.isNullAt(0) || row.isNullAt(1)) Some(Seq.empty)
            else Some(Seq(row.get(0, key.dataType), row.get(1, key.dataType)))
          } catch {
            case scala.util.control.NonFatal(e) =>
              logWarning(s"dynamic-prune range collection failed, " +
                s"skipping the filter: $e")
              None
          }
        cache.synchronized {
          if (cache.size >= MaxCacheEntries) cache.clear()
          cache.update(cacheKey, res)
        }
        res.map {
          case Seq(lo, hi) => Some((lo, hi))
          case _           => None
        }
    }
  }

  /** Manifest-proven row bound of a REGISTERED snapshot build side
    * through deterministic, subquery-free Filters and attribute
    * Projects; None refuses (unmeasured entries included — a 0-row
    * fixture entry means the bound was never recorded).
    */
  private def buildBound(p: LogicalPlan, enabled: Set[String]): Option[Long] =
    p match {
      case Project(ps, ch) if ps.forall(_.isInstanceOf[AttributeReference]) =>
        buildBound(ch, enabled)
      case Filter(c, ch) if c.deterministic &&
          !c.exists(_.isInstanceOf[PlanExpression[_]]) =>
        buildBound(ch, enabled)
      // grouping only REDUCES rows, so the child bound stands — this
      // admits the `SELECT DISTINCT dim_key WHERE …` build shape (a
      // Distinct is an Aggregate by this point in the optimizer)
      case Aggregate(ges, aes, ch, _)
          if (ges ++ aes).forall(e => e.deterministic &&
            !e.exists(_.isInstanceOf[PlanExpression[_]])) =>
        buildBound(ch, enabled)
      case Distinct(ch) => buildBound(ch, enabled)
      case l: LogicalRelation if !l.isStreaming => l.relation match {
        case fs: HadoopFsRelation => fs.location match {
          case idx: SnapshotFileIndex if enabled.contains(norm(idx.tablePath)) =>
            val es = idx.fileEntries
            if (es.exists(_.rows <= 0L)) None else Some(es.map(_.rows).sum)
          case _ => None
        }
        case _ => None
      }
      case _ => None
    }

  /** The probe side walks to a snapshot relation holding `key` with
    * some pruning evidence for it — a partition stamp, per-file stats,
    * or a bloom; anything else makes the IN useless at the file level.
    * Nondeterministic probe filters refuse here (injecting below one
    * would change which rows it evaluates on).
    */
  private def probePrunable(p: LogicalPlan, key: AttributeReference): Boolean =
    p match {
      case Project(ps, ch) if ps.forall(_.isInstanceOf[AttributeReference]) =>
        probePrunable(ch, key)
      case Filter(c, ch) if c.deterministic => probePrunable(ch, key)
      case l: LogicalRelation if !l.isStreaming => l.relation match {
        case fs: HadoopFsRelation => fs.location match {
          case idx: SnapshotFileIndex
              if l.output.exists(_.exprId == key.exprId) =>
            val name = l.output.find(_.exprId == key.exprId).get.name
            idx.fileEntries.exists(e =>
              e.effPartCol(idx.defaultPartCol).contains(name) ||
                e.stats.exists(_.col == name) ||
                e.blooms.exists(_.col == name))
          case _ => false
        }
        case _ => false
      }
      case _ => false
    }

  /** DISTINCT non-null build keys via one planning-time job (memoized
    * per session by the canonicalized subplan). None = over `maxKeys`.
    */
  private def collectKeys(build: LogicalPlan, key: AttributeReference,
                          maxKeys: Int): Option[Seq[Any]] = {
    val spark = SparkSession.active
    val sub = Limit(Literal(maxKeys + 1),
      Distinct(Project(Seq(key),
        Filter(IsNotNull(key), build))))
    // maxKeys is part of the key: a refusal under a small cap must not
    // mask a later success under a larger one (and vice versa)
    val cacheKey = (sub.canonicalized, maxKeys)
    val cache = cacheFor(spark)
    cache.synchronized(cache.get(cacheKey)) match {
      case Some(hit) => hit
      case None =>
        // a FAILED planning-time job degrades to "no dynamic filter"
        // (the query is fine without it — the join will surface any
        // real error on its own terms), and the failure is cached so
        // the fixpoint's second pass doesn't re-run it
        val res =
          try {
            val rows = spark.sessionState.executePlan(sub)
              .executedPlan.executeCollect()
            if (rows.length > maxKeys) None
            else Some(rows.map(_.get(0, key.dataType)).toSeq)
          } catch {
            case scala.util.control.NonFatal(e) =>
              logWarning(s"dynamic-prune key collection failed, " +
                s"skipping the filter: $e")
              None
          }
        cache.synchronized {
          if (cache.size >= MaxCacheEntries) cache.clear()
          cache.update(cacheKey, res)
        }
        res
    }
  }

  /** Per-session memo cap: every query pins a FRESH relation instance
    * (a new manifest read), so entries rarely re-hit across queries —
    * the memo exists for the fixpoint's second pass within one query.
    * Past the cap the map just resets; correctness never depended on
    * a hit.
    */
  private val MaxCacheEntries = 64

  /** Does any probe-side Filter already constrain `key` with an IN or
    * a constant-false conjunct? ([[attempt]]'s refuse-early gate.)
    */
  private def hasKeyIn(p: LogicalPlan, key: AttributeReference): Boolean =
    p match {
      case Project(_, ch) => hasKeyIn(ch, key)
      case Filter(c, ch) =>
        splitConjunctivePredicates(c).exists {
          case In(a: AttributeReference, _)    => a.exprId == key.exprId
          case InSet(a: AttributeReference, _) => a.exprId == key.exprId
          // a range on the key (ours from the large-set fallback, or
          // the user's own) — one dynamic filter per key, documented
          // over-refusal: a user range makes the dynamic one redundant
          case GreaterThanOrEqual(a: AttributeReference, _: Literal) =>
            a.exprId == key.exprId
          case LessThanOrEqual(a: AttributeReference, _: Literal) =>
            a.exprId == key.exprId
          case Literal(v, BooleanType)         => v == null || v == false
          case _                               => false
        } || hasKeyIn(ch, key)
      case _ => false
    }

  /** Place `cond` directly above the probe's snapshot relation.
    * [[probePrunable]] vetted the same walk and [[hasKeyIn]] the
    * already-present case, so this is pure tree surgery.
    */
  private def inject(p: LogicalPlan, key: AttributeReference,
                     cond: Expression): Option[LogicalPlan] = p match {
    case pr @ Project(ps, ch) if ps.forall(_.isInstanceOf[AttributeReference]) =>
      inject(ch, key, cond).map(nc => pr.copy(child = nc))
    case f @ Filter(c, ch) if c.deterministic =>
      inject(ch, key, cond).map(nc => f.copy(child = nc))
    case l: LogicalRelation if !l.isStreaming &&
        l.output.exists(_.exprId == key.exprId) =>
      Some(Filter(cond, l))
    case _ => None
  }

  // ---- driver query ---------------------------------------------------

  // the tiny derived dim: the 5 distinct order priorities classed by
  // their leading digit's parity — engine-identical arithmetic in the
  // DuckDB oracle's CTE, so the hash check is as strict as for a
  // native table. Build reuses JoinOrder's memoized orders snapshot
  // (partitioned by o_orderpriority — the probe's pruning evidence).
  private def fixture(s: SparkSession, dir: String): (String, String) = {
    val ordersPath = JoinOrder.fixturePaths(s, dir)._1
    (ordersPath, Staged(s, dir, "dynPrune.prio") {
      import graft.sources.SnapshotTable
      import org.apache.spark.sql.functions.substring
      val prio = Staged.scratch(s, "graft_dynprune") + "/prio"
      SnapshotTable.create(s, prio,
        SnapshotTable.read(s, ordersPath)
          .select(col("o_orderpriority").as("p")).distinct()
          .withColumn("pclass",
            (substring(col("p"), 1, 1).cast("int") % 2).cast("int")),
        "pclass")
      prio
    })
  }

  /** The dynamically-pruned star probe: result pinned against the
    * oracle's plain join (an unsound key set — a dropped key, a wrong
    * null rule — breaks the hash); the FILE pruning itself is pinned
    * by DynamicPruneSpec's executed-plan file counts.
    */
  def dppJoinQuery(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.SnapshotTable
    val (ordersPath, prioPath) = fixture(s, dir)
    enableFor(s, prioPath)
    val orders = SnapshotTable.read(s, ordersPath)
    val prio = SnapshotTable.read(s, prioPath).filter(col("pclass") === 1)
    orders
      .join(prio, col("o_orderpriority") === col("p"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("total_price"),
        max(col("o_orderkey")).as("max_key"))
      .orderBy(col("o_orderpriority"))
  }

  override def queries: Map[String, graft.QueryPack.Q] = Map(
    "q_dpp_join" -> (dppJoinQuery _))

  override def oracleSql: Map[String, String] = Map(
    "q_dpp_join" ->
      """WITH prio AS (
        |  SELECT DISTINCT o_orderpriority AS p,
        |         CAST(substr(o_orderpriority, 1, 1) AS INT) % 2 AS pclass
        |  FROM orders)
        |SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_price,
        |  CAST(max(o_orderkey) AS BIGINT) AS max_key
        |FROM orders JOIN prio ON o_orderpriority = prio.p
        |WHERE pclass = 1
        |GROUP BY 1 ORDER BY 1""".stripMargin)
}
