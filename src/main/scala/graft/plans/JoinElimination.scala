package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count}
import org.apache.spark.sql.catalyst.plans.{Inner, LeftAnti, LeftOuter, LeftSemi, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

import graft.{QueryPack, Staged, Tables}
import graft.sources.{SnapshotFileIndex, SnapshotTable}

/** `[EXT]` Join elimination from informational key constraints — the
  * classic warehouse optimization (Oracle/SQL Server "join elimination",
  * DB2 RELY constraints; Spark itself has no constraint surface, so it
  * can never do this): a fact⋈dim join whose OUTPUT uses no dim column
  * is removed from the plan entirely when declared keys prove the join
  * could only ever match-preserve the fact side.
  *
  * Provable cases, all over snapshot-table relations (the table
  * identity a [[graft.sources.SnapshotFileIndex]] leaf pins):
  *
  *  - '''LEFT OUTER''' `fact LEFT JOIN dim ON … ∧ fact.k = dim.pk` with
  *    `dim.pk` declared UNIQUE: a left join never drops or null-pads a
  *    fact row's own columns, and a unique match key caps fan-out at
  *    one — so when nothing above the join references a dim column, the
  *    join is the identity on the fact side. Sound for ANY dim-side
  *    Filter (a subset of unique rows is still unique; match-vs-no-match
  *    is invisible to an output that carries no dim column), any extra
  *    deterministic join conjuncts (they only make matches rarer), and
  *    any dim version (uniqueness is declared as a lifetime invariant of
  *    the table, like a schema-level key).
  *  - '''INNER''' `fact JOIN dim ON fact.fk = dim.pk` with a declared
  *    FOREIGN KEY `fact.fk → dim.pk` (and `dim.pk` UNIQUE): referential
  *    integrity says every non-null fk value finds exactly one partner,
  *    so the join reduces to `fact WHERE fk IS NOT NULL`. This claim is
  *    about MEMBERSHIP in the dim table, so the rule additionally
  *    requires the dim scan to be the table's CURRENT live version with
  *    no pending delete masks and no dim-side filter, and the single
  *    equality to be the ENTIRE join condition; the fk attribute must
  *    trace by exprId to a snapshot relation of the declared fact table
  *    through value-preserving operators only.
  *  - '''LEFT SEMI / LEFT ANTI''' (the `EXISTS` / `NOT EXISTS` subquery
  *    shapes) under the same FK proof: the semi collapses to `fact
  *    WHERE fk IS NOT NULL`, the anti to `fact WHERE fk IS NULL`.
  *
  * At 100 TB this is the star-schema payoff: BI/report queries routinely
  * join every dimension "just in case" (views, ORMs, semantic layers),
  * and each eliminated join deletes a broadcast build or a shuffle of
  * the fact table — the rule turns a declared data-model fact into plan
  * work Spark could never skip on its own. Constraints are
  * informational (RELY NOVALIDATE in warehouse terms): declared by the
  * pipeline owner, trusted by the planner, optionally checked once at
  * declaration time with `validate = true` (a groupBy-count probe for
  * uniqueness, an anti-join probe for RI — both one pass, both
  * manifest-pruned like any other read).
  *
  * Installed with the other [[Rules]]; switch it off with
  * `spark.sql.optimizer.excludedRules=graft.plans.JoinElimination`.
  */
object JoinElimination extends Rule[LogicalPlan] with PredicateHelper
    with QueryPack {

  // ---- informational constraint registry: norm'd table path →
  // declared key column SETS (a single-column key is a one-element
  // set; a composite key is unique only as a whole).
  // SESSION-SCOPED carrier: declarations live in the SESSION CONF
  // (URL-encoded entries under two keys) — `cloneSession` copies it,
  // so the clones Structured Streaming plans micro-batches under keep
  // the trust; `newSession` starts fresh, so a sibling tenant inherits
  // nothing (the persisted tag ledger + loadDeclarations is the
  // cross-session path). Rule-side lookups read the PLANNING session's
  // SQLConf directly — no session-instance registry anywhere.
  private val UniqKeysKey = "spark.graft.constraints.uniqueKeys"
  private val FksKey = "spark.graft.constraints.foreignKeys"

  private def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
  private def dec(s: String) = java.net.URLDecoder.decode(s, "UTF-8")

  // both parsers run in the OPTIMIZER on every query: a hand-set or
  // truncated conf value must degrade to "entry ignored" (the rule
  // just declines to fire), never throw mid-plan and fail every query
  // in the session — so malformed entries (missing separator, bad
  // percent-escape) are silently skipped, not errors
  private def defensively[T](e: String)(parse: String => T): Option[T] =
    try Some(parse(e)) catch { case scala.util.control.NonFatal(_) => None }

  // uniqueKeys: "enc(table)=enc(c1):enc(c2)|enc(c3);..." — ';' '=' '|'
  // ':' never appear in URL-encoded text
  private def parseUniq(v: String): Map[String, Set[Set[String]]] =
    v.split(";").iterator.filter(_.nonEmpty).flatMap { e =>
      defensively(e) { e =>
        val Array(t, ks) = e.split("=", 2)
        dec(t) -> ks.split("\\|").iterator.filter(_.nonEmpty)
          .map(_.split(":").map(dec).toSet).toSet
      }
    }.toMap

  private def renderUniq(m: Map[String, Set[Set[String]]]): String =
    m.toSeq.sortBy(_._1).map { case (t, ks) =>
      enc(t) + "=" + ks.toSeq.map(_.toSeq.sorted.map(enc).mkString(":"))
        .sorted.mkString("|")
    }.mkString(";")

  // foreignKeys: "enc(fact)@enc(fk)>enc(dim)@enc(pk);..."
  private def parseFks(v: String): Map[(String, String), (String, String)] =
    v.split(";").iterator.filter(_.nonEmpty).flatMap { e =>
      defensively(e) { e =>
        val Array(l, r) = e.split(">", 2)
        val Array(ft, fk) = l.split("@", 2)
        val Array(dt, pk) = r.split("@", 2)
        (dec(ft), dec(fk)) -> ((dec(dt), dec(pk)))
      }
    }.toMap

  private def renderFks(m: Map[(String, String), (String, String)]): String =
    m.toSeq.sortBy(_._1).map { case ((ft, fk), (dt, pk)) =>
      s"${enc(ft)}@${enc(fk)}>${enc(dt)}@${enc(pk)}" }.mkString(";")

  private def declaredKeys(table: String): Set[Set[String]] =
    parseUniq(conf.getConfString(UniqKeysKey, ""))
      .getOrElse(table, Set.empty)

  private def singleKeyDeclared(table: String, col: String): Boolean =
    declaredKeys(table).contains(Set(col))

  private def foreignKeyOf(factTable: String,
                           fkCol: String): Option[(String, String)] =
    parseFks(conf.getConfString(FksKey, "")).get((factTable, fkCol))

  private def addUniq(spark: SparkSession, table: String,
                      cols: Set[String]): Unit = {
    val cur = parseUniq(spark.conf.get(UniqKeysKey, ""))
    spark.conf.set(UniqKeysKey, renderUniq(
      cur + (table -> (cur.getOrElse(table, Set.empty) + cols))))
  }

  private def addFk(spark: SparkSession, fact: String, fk: String,
                    dim: String, pk: String): Unit =
    spark.conf.set(FksKey, renderFks(
      parseFks(spark.conf.get(FksKey, "")) + ((fact, fk) -> ((dim, pk)))))

  private def norm(p: String): String =
    new org.apache.hadoop.fs.Path(p).toUri.toString

  // persisted-declaration tag shapes (the table header's committed-tag
  // ledger): `uniq@col` on the keyed table; `fk@fkCol@pkCol@dimPath` on
  // the fact table
  private val UniqTag = raw"uniq@(.+)".r
  private val FkTag = raw"fk@([^@]+)@([^@]+)@(.+)".r

  /** Declare `col` unique over `table`'s lifetime (a primary/unique
    * key). With `validate = true`, probes the CURRENT version once and
    * refuses a declaration the data already violates — later commits
    * are the owner's contract, exactly like RELY constraints. With
    * `persist = true`, the declaration also lands in the table header's
    * tag ledger (one metadata-only commit, idempotent), so a later
    * session rehydrates it with [[loadDeclarations]] instead of relying
    * on whoever declared it still being around.
    */
  def declareUnique(spark: SparkSession, table: String, col: String,
                    validate: Boolean = false,
                    persist: Boolean = false): Unit =
    declareUniqueKey(spark, table, Seq(col), validate, persist)

  /** Composite form: `cols` are unique AS A WHOLE (the multi-column
    * natural-key shape — e.g. `(ds, event_id)`). Feeds outer-join and
    * distinct elimination when the plan covers every column of the
    * key; foreign keys reference single-column keys only.
    */
  def declareUniqueKey(spark: SparkSession, table: String,
                       cols: Seq[String], validate: Boolean = false,
                       persist: Boolean = false): Unit = {
    require(cols.nonEmpty, "declareUniqueKey: empty column list")
    if (validate) {
      val dup = SnapshotTable.read(spark, table).groupBy(cols.head,
        cols.tail: _*)
        .count().filter(org.apache.spark.sql.functions.col("count") > 1)
        .isEmpty
      require(dup,
        s"declareUniqueKey: $table(${cols.mkString(",")}) has duplicates")
    }
    addUniq(spark, norm(table), cols.toSet)
    if (persist) {
      require(cols.forall(c => !c.contains("@") && !c.contains(",")),
        "declareUniqueKey: '@'/',' in a column name is not " +
          "representable in a persisted declaration tag")
      SnapshotTable.commitTags(spark, table,
        Set(s"uniq@${cols.sorted.mkString(",")}"))
    }
  }

  /** Declare `factTable.fkCol` a foreign key into `dimTable.pkCol`
    * (every non-null fk value has a dim partner). Requires `pkCol`
    * already declared unique. With `validate = true`, probes the
    * current versions with one left-anti join. With `persist = true`,
    * the declaration rides the FACT table's tag ledger (rehydrate with
    * [[loadDeclarations]] on the fact table).
    */
  def declareForeignKey(spark: SparkSession, factTable: String, fkCol: String,
                        dimTable: String, pkCol: String,
                        validate: Boolean = false,
                        persist: Boolean = false): Unit = {
    require(parseUniq(spark.conf.get(UniqKeysKey, ""))
      .getOrElse(norm(dimTable), Set.empty).contains(Set(pkCol)),
      s"declareForeignKey: declare $dimTable.$pkCol unique first")
    if (validate) {
      val orphans = SnapshotTable.read(spark, factTable)
        .select(col(fkCol)).filter(col(fkCol).isNotNull)
        .join(SnapshotTable.read(spark, dimTable).select(col(pkCol)),
          col(fkCol) === col(pkCol), "left_anti")
        .isEmpty
      require(orphans,
        s"declareForeignKey: $factTable.$fkCol has values absent from $dimTable.$pkCol")
    }
    addFk(spark, norm(factTable), fkCol, norm(dimTable), pkCol)
    if (persist) {
      require(!fkCol.contains("@") && !pkCol.contains("@"),
        "declareForeignKey: '@' in a column name is not representable " +
          "in a persisted declaration tag")
      SnapshotTable.commitTags(spark, factTable,
        Set(s"fk@$fkCol@$pkCol@${norm(dimTable)}"))
    }
  }

  /** Rehydrate `table`'s persisted declarations from its tag ledger
    * into this session's registry: its own unique keys, plus foreign
    * keys it declares as a fact. A loaded FK enables inner-join
    * elimination only once the referenced dim table's own declarations
    * are loaded too (the pk-uniqueness half lives on the dim).
    */
  def loadDeclarations(spark: SparkSession, table: String): Unit =
    SnapshotTable.currentTags(spark, table).foreach {
      case UniqTag(cols) =>
        addUniq(spark, norm(table), cols.split(",").toSet)
      case FkTag(fkCol, pkCol, dim) =>
        addFk(spark, norm(table), fkCol, dim, pkCol)
      case _ => ()
    }

  /** Drop the session's declarations (test isolation). */
  private[graft] def clearDeclarations(spark: SparkSession): Unit = {
    spark.conf.unset(UniqKeysKey)
    spark.conf.unset(FksKey)
  }

  // run from the experimental optimizer batch (fixed point, after the
  // main operator batch), the rule sees column pruning's result:
  // "output uses no dim column" is syntactically visible as
  // Project/Aggregate references
  override def apply(plan: LogicalPlan): LogicalPlan =
    if (conf.getConfString(UniqKeysKey, "").isEmpty) plan
    else plan.transformDown {
      // semi/anti joins define their own output (= the left side), so
      // they need no parent gating: EXISTS/IN subqueries land here
      case j: Join if j.joinType == LeftSemi || j.joinType == LeftAnti =>
        trySemiAnti(j).getOrElse(j)
      // only nodes that DEFINE their output can prove "no dim column
      // escapes": a Filter/Sort forwards its child's full output, so a
      // grandparent could still read dim columns through it.
      case p @ Project(_, j: Join) =>
        tryEliminate(j, p.references).map(f => p.copy(child = f)).getOrElse(p)
      case a: Aggregate =>
        val reduced: LogicalPlan = (a.child match {
          case j: Join => tryEliminate(j, a.references)
            .map(f => a.copy(child = f))
          case _ => None
        }).orElse(tryDistinctElim(a)).getOrElse(a)
        reduced match {
          case ag: Aggregate => tryKeyedAggElim(ag)
            .orElse(tryCountDistinctElim(ag)).getOrElse(ag)
          case other => other
        }
    }

  /** GROUP BY covering a declared unique key (all grouping columns
    * attrs, the key's members strictly traced to one relation): every
    * group is exactly ONE row, so the whole aggregate — grouping
    * shuffle and all — collapses to a per-row projection of single-row
    * aggregate values: `sum(x)`→cast, `min/max/first/last(x)`→x,
    * `avg(x)`→cast, `count(…)`→0/1 by null checks. FILTER clauses and
    * unlisted functions refuse conservatively. The ORM/denormalization
    * shape (`GROUP BY id` to "re-row" a table) stops costing a full
    * shuffle of every aggregated column.
    */
  private def tryKeyedAggElim(a: Aggregate): Option[LogicalPlan] = {
    val groupAttrs = a.groupingExpressions.collect {
      case ar: AttributeReference => ar }
    if (groupAttrs.isEmpty ||
        groupAttrs.length != a.groupingExpressions.length) return None
    if (!a.aggregateExpressions.exists(_.exists(
        _.isInstanceOf[AggregateExpression]))) return None // distinct-elim's job
    val provs = groupAttrs.flatMap(strictProvenance(a.child, _))
    val keyed = provs.groupBy(_._1).exists { case (t, cs) =>
      declaredKeys(t).exists(_.subsetOf(cs.map(_._2).toSet)) }
    if (!keyed) return None
    val rewritten = a.aggregateExpressions.map { ne =>
      ne.transformUp {
        case ae: AggregateExpression =>
          if (ae.filter.isDefined) return None
          ae.aggregateFunction match {
            case s: aggregate.Sum => Cast(s.child, s.dataType)
            case m: aggregate.Min => m.child
            case m: aggregate.Max => m.child
            case av: aggregate.Average => Cast(av.child, av.dataType)
            case f: aggregate.First => f.child
            case l: aggregate.Last => l.child
            case c: Count =>
              val nn = c.children.filter(_.nullable).map(IsNotNull(_))
              if (nn.isEmpty) Literal(1L)
              else If(nn.reduce(And), Literal(1L), Literal(0L))
            case _ => return None
          }
      }.asInstanceOf[NamedExpression]
    }
    Some(Project(rewritten, a.child))
  }

  /** `count(DISTINCT key…)` drops its DISTINCT when the counted columns
    * cover a declared unique key, all strictly traced to one relation:
    * rows are already pairwise distinct on those columns (null-member
    * tuples are excluded by both forms identically), and the plan loses
    * the distinct-aggregate expansion — at 100 TB the difference
    * between one map-side-combined pass and a full per-key dedup
    * shuffle before the count. Scope: the single-distinct-group shape
    * (multi-distinct aggregates are already Expand-rewritten by
    * `RewriteDistinctAggregates` before the experimental batch runs;
    * installing via `GraftExtensions` catches those too, since
    * injected rules ride the operator batch).
    */
  private def tryCountDistinctElim(a: Aggregate): Option[LogicalPlan] = {
    var changed = false
    val rewritten = a.aggregateExpressions.map { ne =>
      ne.transformUp {
        case ae @ AggregateExpression(c: Count, _, true, None, _)
            if c.children.nonEmpty &&
              c.children.forall(_.isInstanceOf[AttributeReference]) => {
          val provs = c.children.flatMap(ch =>
            strictProvenance(a.child, ch.asInstanceOf[AttributeReference]))
          val keyed = provs.length == c.children.length &&
            provs.map(_._1).distinct.length == 1 &&
            declaredKeys(provs.head._1)
              .exists(_.subsetOf(provs.map(_._2).toSet))
          if (keyed) { changed = true; ae.copy(isDistinct = false) } else ae
        }
      }.asInstanceOf[NamedExpression]
    }
    if (changed) Some(a.copy(aggregateExpressions = rewritten)) else None
  }

  /** Semi/anti elimination from a declared FK — the EXISTS / NOT EXISTS
    * shapes: referential integrity says a non-null fk ALWAYS finds a
    * partner, so `fact LEFT SEMI dim ON fk = pk` is `fact WHERE fk IS
    * NOT NULL` and `fact LEFT ANTI dim ON fk = pk` is `fact WHERE fk IS
    * NULL` (null fks match nothing under plain equality; nothing else
    * can survive the anti side). Membership conditions mirror
    * [[tryInner]]: whole-condition single equality, unfiltered current
    * unmasked dim scan, declared (fk → pk) with pk unique, value-intact
    * fk provenance. The null-aware NOT IN shape (`fk <=> pk` or OR'd
    * null guards) is NOT a plain equality and never matches here.
    */
  private def trySemiAnti(j: Join): Option[LogicalPlan] =
    tryInner(j.left, j.right, j.condition).collect {
      // tryInner only ever builds this shape; collect keeps the match
      // total so anything else conservatively keeps the join
      case Filter(IsNotNull(fa), fact) =>
        Filter(if (j.joinType == LeftSemi) IsNotNull(fa) else IsNull(fa),
          fact)
    }

  /** DISTINCT elimination: `SELECT DISTINCT …` (which the optimizer has
    * already turned into a pure-grouping Aggregate) is the identity when
    * the distinct columns cover a declared unique key (single or
    * composite), each tracing — through row-preserving-or-subsetting
    * operators that never DUPLICATE (Filter, passthrough Project, Sort,
    * Limit; joins specifically are not walked) — to the same relation:
    * rows are already pairwise distinct on those columns alone. The
    * aggregate (a full shuffle of every distinct column at 100 TB)
    * collapses to a Project.
    */
  private def tryDistinctElim(a: Aggregate): Option[LogicalPlan] = {
    // function-free aggregate = duplicate removal over the grouping
    // keys, output some subset of them (column pruning may have trimmed
    // the original SELECT DISTINCT shape down to the columns used above)
    val groupIds = a.groupingExpressions.collect {
      case ar: AttributeReference => ar }
    val pureDistinct = groupIds.nonEmpty &&
      groupIds.length == a.groupingExpressions.length &&
      a.aggregateExpressions.forall {
        case out: AttributeReference =>
          groupIds.exists(_.exprId == out.exprId)
        case _ => false
      }
    if (!pureDistinct) return None
    // the grouping attrs' strict provenances, grouped per table: if ALL
    // columns of some declared key (single or composite) of one table
    // are among them, every input row is its own group
    val provs: Seq[(String, String)] =
      groupIds.flatMap(strictProvenance(a.child, _))
    val keyed = provs.groupBy(_._1).exists { case (table, cols) =>
      val colSet = cols.map(_._2).toSet
      declaredKeys(table).exists(_.subsetOf(colSet))
    }
    if (keyed) Some(Project(a.aggregateExpressions, a.child)) else None
  }

  /** The (table, column) `a` traces to, value-intact AND
    * row-multiplicity-intact (no operator on the path can duplicate a
    * row — joins specifically are not walked).
    */
  private def strictProvenance(p: LogicalPlan, a: AttributeReference)
      : Option[(String, String)] =
    p match {
      case l: LogicalRelation if l.output.exists(_.exprId == a.exprId) =>
        l.relation match {
          case fs: HadoopFsRelation => fs.location match {
            case idx: SnapshotFileIndex =>
              Some((norm(idx.tablePath),
                l.output.find(_.exprId == a.exprId).get.name))
            case _ => None
          }
          case _ => None
        }
      case Project(ps, c) if ps.exists(ne =>
          ne.exprId == a.exprId && ne.isInstanceOf[AttributeReference]) =>
        strictProvenance(c, a)
      case f: Filter => strictProvenance(f.child, a)
      case s: Sort => strictProvenance(s.child, a)
      case g: GlobalLimit => strictProvenance(g.child, a)
      case loc: LocalLimit => strictProvenance(loc.child, a)
      case sa: SubqueryAlias => strictProvenance(sa.child, a)
      case _ => None
    }

  /** The eliminated replacement for `j` (the surviving fact side, plus
    * the fk-not-null filter in the inner case), or None when no declared
    * key proves it. `used` = every attribute the parent reads.
    */
  private def tryEliminate(j: Join, used: AttributeSet): Option[LogicalPlan] = {
    def onlyUses(side: LogicalPlan): Boolean = used.subsetOf(side.outputSet)
    j.joinType match {
      case LeftOuter if onlyUses(j.left) =>
        tryOuter(j.left, j.right, j.condition)
      case RightOuter if onlyUses(j.right) =>
        tryOuter(j.right, j.left, j.condition)
      case Inner =>
        (if (onlyUses(j.left)) tryInner(j.left, j.right, j.condition)
         else None).orElse(
          if (onlyUses(j.right)) tryInner(j.right, j.left, j.condition)
          else None)
      case _ => None
    }
  }

  /** Outer case: the equality conjuncts cover EVERY column of some
    * declared unique key of the dim relation (reached through attr-only
    * Projects and deterministic Filters) — a single-column key needs
    * one `fact.a = dim.pk`, a composite key one equality per member.
    * All conjuncts must be deterministic — a nondeterministic predicate
    * must keep evaluating per row pair.
    */
  private def tryOuter(fact: LogicalPlan, dim: LogicalPlan,
                       cond: Option[Expression]): Option[LogicalPlan] = {
    val conjuncts = cond.toSeq.flatMap(splitConjunctivePredicates)
    if (conjuncts.isEmpty || !conjuncts.forall(_.deterministic)) return None
    // any dim-side filter is fine for the outer case (see scaladoc)
    val (idx, rel, _) = unwrapDim(dim).getOrElse(return None)
    // dim relation columns pinned by a fact-attr equality conjunct
    val covered: Set[String] = conjuncts.collect {
      case EqualTo(a: AttributeReference, b: AttributeReference) =>
        dimKeyCol(a, b, rel, dim, fact)
          .orElse(dimKeyCol(b, a, rel, dim, fact))
    }.flatten.toSet
    val hit = declaredKeys(norm(idx.tablePath)).exists(_.subsetOf(covered))
    if (hit) Some(fact) else None
  }

  /** The dim relation column name `dimAttr` pins, when the pair is a
    * cross-side equality.
    */
  private def dimKeyCol(dimAttr: AttributeReference,
                        factAttr: AttributeReference,
                        rel: LogicalRelation, dim: LogicalPlan,
                        fact: LogicalPlan): Option[String] =
    if (dim.outputSet.contains(dimAttr) && fact.outputSet.contains(factAttr))
      rel.output.find(_.exprId == dimAttr.exprId).map(_.name)
    else None

  /** Inner case: the WHOLE condition is one fk = pk equality, the pk is
    * declared unique, the fk is a declared foreign key into that exact
    * (table, column), the dim scan is the unfiltered current live
    * version with no pending masks, and the fk attribute traces to a
    * snapshot relation of the declared fact table.
    */
  private def tryInner(fact: LogicalPlan, dim: LogicalPlan,
                       cond: Option[Expression]): Option[LogicalPlan] = {
    val (fa, da) = cond match {
      case Some(EqualTo(a: AttributeReference, b: AttributeReference)) =>
        if (fact.outputSet.contains(a) && dim.outputSet.contains(b)) (a, b)
        else if (fact.outputSet.contains(b) && dim.outputSet.contains(a)) (b, a)
        else return None
      case _ => return None
    }
    val (idx, rel, dimFilters) = unwrapDim(dim).getOrElse(return None)
    // the ONLY dim filter that cannot break the membership proof is
    // `IsNotNull(pk)` on the join key itself (Catalyst infers it from
    // the equality; a null pk could never partner a non-null fk anyway)
    if (!dimFilters.forall {
      case IsNotNull(ar: AttributeReference) => ar.exprId == da.exprId
      case _ => false
    }) return None
    val dimTable = norm(idx.tablePath)
    val pkName = rel.output.find(o => o.exprId == da.exprId &&
      singleKeyDeclared(dimTable, o.name))
      .map(_.name).getOrElse(return None)
    // fk provenance: the fact-side attribute must come, value-intact,
    // from a snapshot relation of a table declared to reference
    // (dimTable, pkName)
    val factTable = provenance(fact, fa).getOrElse(return None)
    foreignKeyOf(factTable, fa.name) match {
      case Some((dt, pc)) if dt == dimTable && pc == pkName => ()
      case _ => return None
    }
    // membership proof is against the CURRENT table: the scan must read
    // exactly the live file set, with no pending equality-delete masks
    val spark = SparkSession.active
    val (paths, masked) = SnapshotTable.liveState(spark, idx.tablePath,
      SnapshotTable.currentVersion(spark, idx.tablePath))
    if (masked || idx.fileEntries.map(_.path).toSet != paths) return None
    Some(Filter(IsNotNull(fa), fact))
  }

  /** Strip the dim side to a bare snapshot relation: attribute-only
    * Projects and deterministic Filters only, returning the crossed
    * filter conjuncts (the outer case allows any; the inner case allows
    * only the inferred not-null on the join key). A masked
    * (pending-delete) read plans an anti-join, so it can never present
    * this shape.
    */
  private def unwrapDim(p: LogicalPlan)
      : Option[(SnapshotFileIndex, LogicalRelation, Seq[Expression])] = p match {
    case Project(ps, c) if ps.forall(_.isInstanceOf[AttributeReference]) =>
      unwrapDim(c)
    case Filter(cond, c) if cond.deterministic =>
      unwrapDim(c).map { case (i, r, fs) =>
        (i, r, fs ++ splitConjunctivePredicates(cond)) }
    case l: LogicalRelation if !l.isStreaming => l.relation match {
      case fs: HadoopFsRelation => fs.location match {
        case idx: SnapshotFileIndex => Some((idx, l, Nil))
        case _ => None
      }
      case _ => None
    }
    case _ => None
  }

  /** The snapshot table `a` (by exprId) comes from, walking only
    * operators that forward the attribute VALUE-INTACT on a row subset:
    * Filter, passthrough Projects, join sides, grouping passthroughs,
    * sorts/limits/dedup/repartition. Union (merges other children's
    * values into the first child's exprIds) and Expand (substitutes
    * nulls under reused exprIds, e.g. grouping sets) specifically do NOT
    * qualify and fall to the None default, as does anything unlisted.
    */
  private def provenance(p: LogicalPlan, a: AttributeReference): Option[String] =
    p match {
      case l: LogicalRelation if l.output.exists(_.exprId == a.exprId) =>
        l.relation match {
          case fs: HadoopFsRelation => fs.location match {
            case idx: SnapshotFileIndex => Some(norm(idx.tablePath))
            case _ => None
          }
          case _ => None
        }
      case Project(ps, c) if ps.exists(ne =>
          ne.exprId == a.exprId && ne.isInstanceOf[AttributeReference]) =>
        provenance(c, a)
      case f: Filter => provenance(f.child, a)
      case j: Join =>
        if (j.left.outputSet.contains(a)) provenance(j.left, a)
        else if (j.right.outputSet.contains(a)) provenance(j.right, a)
        else None
      case ag: Aggregate if ag.groupingExpressions.exists {
          case ar: AttributeReference => ar.exprId == a.exprId
          case _ => false
        } => provenance(ag.child, a)
      case s: Sort => provenance(s.child, a)
      case g: GlobalLimit => provenance(g.child, a)
      case loc: LocalLimit => provenance(loc.child, a)
      case d: Deduplicate => provenance(d.child, a)
      case r: RepartitionOperation => provenance(r.child, a)
      case sa: SubqueryAlias => provenance(sa.child, a)
      case _ => None
    }

  // ------------------------------------------------------------------
  // driver queries: the scenario is a star pair — a snapshot `orders`
  // fact and a snapshot `customer` dim with declared c_custkey key and
  // o_custkey → c_custkey FK (validated once against the data). Both
  // queries run through the ELIMINATED plan (specs pin the join-free
  // shape); the oracles replay the join literally — hash equality IS
  // the semantics-preservation proof.
  // ------------------------------------------------------------------

  private def fixture(s: SparkSession, dir: String): (String, String) =
    Staged(s, dir, "joinElim.fixture") {
      val root = Staged.scratch(s, "graft_join_elim")
      val fact = s"$root/orders"
      val dim = s"$root/customer"
      SnapshotTable.create(s, fact,
        Tables.orders(s, dir).select(Seq("o_orderkey", "o_custkey",
          "o_totalprice", "o_orderpriority").map(col): _*),
        "o_orderpriority")
      SnapshotTable.create(s, dim,
        Tables.customer(s, dir).select(Seq("c_custkey", "c_name",
          "c_acctbal", "c_mktsegment").map(col): _*),
        "c_mktsegment")
      declareUnique(s, dim, "c_custkey", validate = true)
      declareUnique(s, fact, "o_orderkey", validate = true)
      declareForeignKey(s, fact, "o_custkey", dim, "c_custkey",
        validate = true)
      (fact, dim)
    }

  private def factRollup(df: DataFrame): DataFrame =
    df.groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("total_price"),
        max(col("o_orderkey")).as("max_key"))
      .orderBy(col("o_orderpriority"))

  /** Fact rollup THROUGH a left join against a filtered dim slice no
    * output column uses — the semantic-layer shape (a view that joins
    * every dimension). The declared unique key eliminates the join.
    */
  def leftElimQuery(s: SparkSession, dir: String): DataFrame = {
    val (factT, dimT) = fixture(s, dir)
    val fact = SnapshotTable.read(s, factT)
    val dim = SnapshotTable.read(s, dimT)
      .filter(col("c_mktsegment") === "BUILDING")
    factRollup(fact.join(dim, col("o_custkey") === col("c_custkey"),
      "left"))
  }

  /** Same rollup through an INNER fact⋈dim join: the declared FK turns
    * the join into `o_custkey IS NOT NULL` on the fact alone.
    */
  def innerElimQuery(s: SparkSession, dir: String): DataFrame = {
    val (factT, dimT) = fixture(s, dir)
    val fact = SnapshotTable.read(s, factT)
    val dim = SnapshotTable.read(s, dimT)
    factRollup(fact.join(dim, col("o_custkey") === col("c_custkey")))
  }

  /** Rollup OVER a `SELECT DISTINCT` of columns that include the
    * declared unique key: the distinct (a second full shuffle) is
    * provably the identity and collapses to a projection; the rollup's
    * own aggregation is the plan's only shuffle.
    */
  def distinctElimQuery(s: SparkSession, dir: String): DataFrame = {
    val (factT, _) = fixture(s, dir)
    val distinctRows = SnapshotTable.read(s, factT)
      .filter(col("o_totalprice") > 100000.0)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority"),
        col("o_totalprice"))
      .distinct()
    factRollup(distinctRows)
  }

  /** The whole constraint lifecycle driven purely through `spark.sql`:
    * RELY declarations via the `snapshot_declare_*` procedures (both
    * validated against the data), then the inner fact⋈dim rollup over
    * `snapshot_table` TVF scans — which the declarations just made
    * join-free. Twin of [[innerElimQuery]]'s oracle.
    */
  def sqlConstraintsQuery(s: SparkSession, dir: String): DataFrame = {
    graft.sources.SnapshotSql.register(s)
    val (factT, dimT) = fixture(s, dir)
    s.sql(s"SELECT * FROM snapshot_declare_key('$dimT', 'c_custkey', 1)")
      .collect()
    s.sql("SELECT * FROM snapshot_declare_fk(" +
      s"'$factT', 'o_custkey', '$dimT', 'c_custkey', 1)").collect()
    s.sql(
      s"""SELECT o_orderpriority,
         |       count(*) AS n_orders,
         |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
         |         AS total_price,
         |       max(o_orderkey) AS max_key
         |FROM snapshot_table('$factT')
         |JOIN snapshot_table('$dimT') ON o_custkey = c_custkey
         |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
  }

  /** The EXISTS shape: rollup of fact rows with a dim partner, via a
    * LEFT SEMI join the declared FK collapses to a not-null filter.
    */
  def semiElimQuery(s: SparkSession, dir: String): DataFrame = {
    val (factT, dimT) = fixture(s, dir)
    val fact = SnapshotTable.read(s, factT)
    val dim = SnapshotTable.read(s, dimT)
    factRollup(fact.join(dim, col("o_custkey") === col("c_custkey"),
      "left_semi"))
  }

  /** `count(DISTINCT key)` alongside plain aggregates: the declared
    * key's DISTINCT drops, leaving one map-side-combined pass instead
    * of the per-key dedup expansion.
    */
  def countDistinctQuery(s: SparkSession, dir: String): DataFrame = {
    val (factT, _) = fixture(s, dir)
    SnapshotTable.read(s, factT)
      .groupBy(col("o_orderpriority"))
      .agg(countDistinct(col("o_orderkey")).as("n_keys"),
        count(lit(1)).as("n_rows"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("total_price"))
      .orderBy(col("o_orderpriority"))
  }

  /** A per-order "rollup" (GROUP BY the declared key — the ORM
    * re-rowing shape) under an outer priority summary: the inner
    * aggregate collapses to a projection, the outer one is the plan's
    * only shuffle. Decimal math keeps the oracle hash exact.
    */
  def groupByKeyQuery(s: SparkSession, dir: String): DataFrame = {
    val (factT, _) = fixture(s, dir)
    val perOrder = SnapshotTable.read(s, factT)
      .groupBy(col("o_orderkey"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(18,2)")).as("p"))
    perOrder.groupBy(col("o_orderpriority"))
      .agg(sum(col("n")).as("n_rows"),
        sum(col("p")).cast("double").as("total_price"),
        count(lit(1)).as("n_orders"))
      .orderBy(col("o_orderpriority"))
  }

  override def queries: Map[String, QueryPack.Q] = Map(
    "q_groupby_key" -> (groupByKeyQuery _),
    "q_join_elim_left" -> (leftElimQuery _),
    "q_join_elim_inner" -> (innerElimQuery _),
    "q_join_elim_semi" -> (semiElimQuery _),
    "q_distinct_elim" -> (distinctElimQuery _),
    "q_count_distinct_key" -> (countDistinctQuery _),
    "q_sql_constraints" -> (sqlConstraintsQuery _))

  override def oracleSql: Map[String, String] = Map(
    "q_groupby_key" ->
      """WITH per_order AS (
        |  SELECT o_orderkey, o_orderpriority, count(*) AS n,
        |         sum(CAST(o_totalprice AS DECIMAL(18,2))) AS p
        |  FROM orders GROUP BY o_orderkey, o_orderpriority)
        |SELECT o_orderpriority,
        |       CAST(sum(n) AS BIGINT) AS n_rows,
        |       CAST(sum(p) AS DOUBLE) AS total_price,
        |       count(*) AS n_orders
        |FROM per_order
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_join_elim_left" ->
      """SELECT o_orderpriority,
        |       count(*) AS n_orders,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |         AS total_price,
        |       max(o_orderkey) AS max_key
        |FROM orders LEFT JOIN (SELECT * FROM customer
        |                       WHERE c_mktsegment = 'BUILDING') c
        |  ON o_custkey = c_custkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_join_elim_inner" ->
      """SELECT o_orderpriority,
        |       count(*) AS n_orders,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |         AS total_price,
        |       max(o_orderkey) AS max_key
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_join_elim_semi" ->
      """SELECT o_orderpriority,
        |       count(*) AS n_orders,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |         AS total_price,
        |       max(o_orderkey) AS max_key
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM customer WHERE c_custkey = o_custkey)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_distinct_elim" ->
      """SELECT o_orderpriority,
        |       count(*) AS n_orders,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |         AS total_price,
        |       max(o_orderkey) AS max_key
        |FROM (SELECT DISTINCT o_orderkey, o_custkey, o_orderpriority,
        |             o_totalprice
        |      FROM orders WHERE o_totalprice > 100000.0)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_count_distinct_key" ->
      """SELECT o_orderpriority,
        |       count(DISTINCT o_orderkey) AS n_keys,
        |       count(*) AS n_rows,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |         AS total_price
        |FROM orders
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_sql_constraints" ->
      """SELECT o_orderpriority,
        |       count(*) AS n_orders,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |         AS total_price,
        |       max(o_orderkey) AS max_key
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
}
