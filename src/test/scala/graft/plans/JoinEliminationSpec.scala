package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.SparkSpec.withoutRules
import graft.sources.SnapshotTable

/** Declared-key join elimination must (a) delete the join from the
  * OPTIMIZED plan in exactly the provable shapes, (b) return the same
  * rows the joined plan returns (checked against the rule disabled),
  * and (c) stay conservative everywhere else: dim column referenced,
  * no declaration, filtered/stale dim in the inner case, extra inner
  * conjuncts, non-equality conditions.
  */
class JoinEliminationSpec extends SparkSpec {

  private def freshDir(name: String): String =
    graft.Staged.scratch(spark, name) + "/t"

  // dim: unique pk 0..99 with payload; one nonmatching pk band (>= 90
  // has no fact partner, fact fk 200..249 has no dim partner) so the
  // joins genuinely filter/null-pad when kept
  private lazy val dimPath: String = {
    val t = freshDir("je_dim")
    val df = spark.range(0, 100).select(
      col("id").as("pk"),
      concat(lit("d"), col("id").cast("string")).as("dname"),
      (col("id") % 4).cast("string").as("dpart"))
    SnapshotTable.create(spark, t, df, "dpart")
    JoinElimination.declareUnique(spark, t, "pk", validate = true)
    t
  }

  // fact: fk covers 0..89 (all members of dim) plus NULLs; every fk
  // value non-null appears in dim.pk, so the FK declaration validates
  private lazy val factPath: String = {
    val t = freshDir("je_fact")
    val df = spark.range(0, 1000).select(
      col("id").as("fid"),
      when(col("id") % 11 === 0, lit(null).cast("long"))
        .otherwise(col("id") % 90).as("fk"),
      (col("id") % 3).cast("string").as("fpart"),
      (col("id") * 2).as("fval"))
    SnapshotTable.create(spark, t, df, "fpart")
    dimPath // ensure pk declared before the FK references it
    JoinElimination.declareForeignKey(spark, t, "fk", dimPath, "pk",
      validate = true)
    t
  }

  private def fact: DataFrame = SnapshotTable.read(spark, factPath)
  private def dim: DataFrame = SnapshotTable.read(spark, dimPath)

  private def joins(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collect { case j: Join => j }.size

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private def factAgg(joined: DataFrame): DataFrame =
    joined.groupBy(col("fpart"))
      .agg(count(lit(1)).as("n"), sum(col("fval")).as("s"),
        count(col("fk")).as("nfk"))
      .orderBy(col("fpart"))

  test("left join on declared unique key is eliminated, rows unchanged") {
    val q = factAgg(fact.join(dim, col("fk") === col("pk"), "left"))
    assert(joins(q) == 0, q.queryExecution.optimizedPlan.toString)
    assert(rows(q) == withoutRules(spark, JoinElimination)(rows(
      factAgg(fact.join(dim, col("fk") === col("pk"), "left")))))
  }

  test("left elimination survives a dim-side filter and extra conjuncts") {
    def q = factAgg(fact.join(
      dim.filter(col("dpart") === "1"),
      col("fk") === col("pk") && col("fval") > col("pk"), "left"))
    assert(joins(q) == 0, q.queryExecution.optimizedPlan.toString)
    assert(rows(q) == withoutRules(spark, JoinElimination)(rows(q)))
  }

  test("inner join on declared FK reduces to a not-null filter") {
    def q = factAgg(fact.join(dim, col("fk") === col("pk")))
    assert(joins(q) == 0, q.queryExecution.optimizedPlan.toString)
    // NULL fks are dropped exactly like the real inner join drops them
    assert(rows(q) == withoutRules(spark, JoinElimination)(rows(q)))
  }

  test("kept: output references a dim column") {
    val q = fact.join(dim, col("fk") === col("pk"), "left")
      .groupBy(col("dname")).agg(count(lit(1)).as("n"))
    assert(joins(q) == 1)
  }

  test("kept: no declaration for the key") {
    val q = factAgg(fact.join(dim, col("fk") === col("dname"), "left"))
    assert(joins(q) == 1)
  }

  test("kept inner: filtered dim breaks the membership proof") {
    val q = factAgg(fact.join(dim.filter(col("pk") < 50),
      col("fk") === col("pk")))
    assert(joins(q) == 1)
  }

  test("kept inner: extra conjunct breaks the membership proof") {
    val q = factAgg(fact.join(dim,
      col("fk") === col("pk") && col("fval") > col("pk")))
    assert(joins(q) == 1)
  }

  test("kept inner: stale dim scan after a new dim commit") {
    // pin a scan of the CURRENT version, then advance the table: the
    // already-planned DataFrame must not eliminate (its file set no
    // longer equals the live set, so membership is unprovable)
    val pinned = factAgg(fact.join(dim, col("fk") === col("pk")))
    SnapshotTable.commitAppend(spark, dimPath,
      spark.range(100, 101).select(col("id").as("pk"),
        lit("late").as("dname"), lit("0").as("dpart")), "dpart")
    try assert(joins(pinned) == 1,
      pinned.queryExecution.optimizedPlan.toString)
    finally ()
  }

  test("semi join (EXISTS) collapses to a not-null filter") {
    def q = factAgg(fact.join(dim, col("fk") === col("pk"), "left_semi"))
    assert(joins(q) == 0, q.queryExecution.optimizedPlan.toString)
    assert(rows(q) == withoutRules(spark, JoinElimination)(rows(q)))
  }

  test("anti join (NOT EXISTS) collapses to an is-null filter") {
    def q = factAgg(fact.join(dim, col("fk") === col("pk"), "left_anti"))
    assert(joins(q) == 0, q.queryExecution.optimizedPlan.toString)
    assert(rows(q) == withoutRules(spark, JoinElimination)(rows(q)))
  }

  test("kept: semi on a key with no FK declaration") {
    val q = factAgg(fact.join(dim.select(col("dname")),
      col("fk") === length(col("dname")), "left_semi"))
    assert(joins(q) == 1)
  }

  test("right outer mirrors left") {
    val q = factAgg(dim.join(fact, col("fk") === col("pk"), "right"))
    assert(joins(q) == 0, q.queryExecution.optimizedPlan.toString)
    assert(rows(q) == withoutRules(spark, JoinElimination)(rows(
      factAgg(dim.join(fact, col("fk") === col("pk"), "right")))))
  }

  private def aggs(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a }.size

  test("distinct including the declared unique key collapses to a project") {
    // fid is NOT declared; declare it here (it is unique by construction)
    JoinElimination.declareUnique(spark, factPath, "fid", validate = true)
    def q = fact.filter(col("fval") > 100)
      .select(col("fid"), col("fk"), col("fpart")).distinct()
      .groupBy(col("fpart")).agg(count(lit(1)).as("n"))
      .orderBy(col("fpart"))
    assert(aggs(q) == 1, q.queryExecution.optimizedPlan.toString)
    assert(rows(q) == withoutRules(spark, JoinElimination)(rows(q)))
  }

  test("distinct kept: no distinct column is a declared key") {
    val q = fact.select(col("fk"), col("fpart")).distinct()
      .groupBy(col("fpart")).agg(count(lit(1)).as("n"))
    assert(aggs(q) == 2)
  }

  test("distinct kept: a join below could duplicate the key") {
    // dim side fans out nothing here, but the rule must not walk joins
    val q = fact.join(dim, col("fk") === col("pk"))
      .select(col("fid"), col("fpart"), col("dname")).distinct()
      .groupBy(col("fpart")).agg(count(lit(1)).as("n"))
    assert(aggs(q) == 2, q.queryExecution.optimizedPlan.toString)
  }

  private def distinctAggs(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate =>
        a.aggregateExpressions.flatMap(_.collect {
          case ae: org.apache.spark.sql.catalyst.expressions.aggregate
            .AggregateExpression if ae.isDistinct => ae
        }).size
    }.sum

  test("count(DISTINCT key) drops the DISTINCT; non-key keeps it") {
    // fid declared unique in the earlier distinct test; count distinct
    // over it is just a count. (Multi-distinct aggregates are expanded
    // by RewriteDistinctAggregates before the experimental batch — the
    // rewrite targets the common single-distinct shape.)
    def q = fact.filter(col("fval") > 50)
      .groupBy(col("fpart"))
      .agg(countDistinct(col("fid")).as("nk"), count(lit(1)).as("n"))
      .orderBy(col("fpart"))
    assert(distinctAggs(q) == 0, q.queryExecution.optimizedPlan.toString)
    assert(rows(q) == withoutRules(spark, JoinElimination)(rows(q)))
    def nonKey = fact.groupBy(col("fpart"))
      .agg(countDistinct(col("fk")).as("nfk"), count(lit(1)).as("n"))
    assert(distinctAggs(nonKey) == 1)
  }

  test("count(DISTINCT a,b) over a composite key drops the DISTINCT") {
    val t = freshDir("je_cd")
    SnapshotTable.create(spark, t,
      spark.range(0, 100).select((col("id") % 10).as("a"),
        (col("id") / 10).cast("long").as("b"), lit("x").as("cp")), "cp")
    JoinElimination.declareUniqueKey(spark, t, Seq("a", "b"))
    val src = SnapshotTable.read(spark, t)
    def q = src.agg(countDistinct(col("a"), col("b")).as("n"))
    assert(distinctAggs(q) == 0, q.queryExecution.optimizedPlan.toString)
    assert(rows(q) == withoutRules(spark, JoinElimination)(rows(q)))
    // one member alone proves nothing
    def half = src.agg(countDistinct(col("a")).as("n"))
    assert(distinctAggs(half) == 1)
  }

  test("GROUP BY covering the key collapses the aggregate to a projection") {
    // fid declared unique (earlier test); grouping by it makes every
    // group one row
    def q = fact.filter(col("fval") > 100)
      .groupBy(col("fid"), col("fpart"))
      .agg(count(lit(1)).as("n"), count(col("fk")).as("nfk"),
        sum(col("fval")).as("s"), max(col("fk")).as("mx"),
        avg(col("fval")).as("a"))
      .groupBy(col("fpart"))
      .agg(sum(col("n")).as("rows"), sum(col("nfk")).as("nfk"),
        sum(col("s")).as("s"), max(col("mx")).as("mx"),
        count(lit(1)).as("groups"))
      .orderBy(col("fpart"))
    assert(aggs(q) == 1, q.queryExecution.optimizedPlan.toString)
    assert(rows(q) == withoutRules(spark, JoinElimination)(rows(q)))
  }

  test("GROUP BY kept: grouping does not cover a key") {
    val q = fact.groupBy(col("fk"), col("fpart"))
      .agg(sum(col("fval")).as("s"))
      .groupBy(col("fpart")).agg(sum(col("s")).as("s"))
    assert(aggs(q) == 2)
  }

  test("GROUP BY kept: unsupported function refuses") {
    // the outer agg must CONSUME sd, or column pruning deletes the
    // stddev and the inner agg legitimately collapses as a distinct
    val q = fact.groupBy(col("fid"), col("fpart"))
      .agg(stddev(col("fval")).as("sd"))
      .groupBy(col("fpart")).agg(sum(col("sd")).as("sd_total"))
    assert(aggs(q) == 2, q.queryExecution.optimizedPlan.toString)
  }

  test("driver queries run the eliminated plans") {
    assert(joins(JoinElimination.leftElimQuery(spark, sfDir)) == 0)
    assert(joins(JoinElimination.innerElimQuery(spark, sfDir)) == 0)
    assert(joins(JoinElimination.semiElimQuery(spark, sfDir)) == 0)
    assert(distinctAggs(JoinElimination.countDistinctQuery(spark, sfDir)) == 0)
    // the per-order inner aggregate collapsed; only the outer remains
    assert(aggs(JoinElimination.groupByKeyQuery(spark, sfDir)) == 1)
    // one Aggregate = the rollup; the DISTINCT collapsed to a Project
    assert(aggs(JoinElimination.distinctElimQuery(spark, sfDir)) == 1)
    // the SQL-procedure twin: declarations + scan + rollup via spark.sql
    val sqlQ = JoinElimination.sqlConstraintsQuery(spark, sfDir)
    assert(joins(sqlQ) == 0, sqlQ.queryExecution.optimizedPlan.toString)
  }

  test("composite key: outer elimination needs every member covered") {
    val t = freshDir("je_comp")
    // (a, b) unique as a whole; a alone repeats
    SnapshotTable.create(spark, t,
      spark.range(0, 100).select((col("id") % 10).as("a"),
        (col("id") / 10).cast("long").as("b"), lit("x").as("cp")), "cp")
    JoinElimination.declareUniqueKey(spark, t, Seq("a", "b"),
      validate = true, persist = true)
    val cdim = SnapshotTable.read(spark, t)
    def covered = factAgg(fact.join(cdim,
      col("fk") === col("a") && col("fval") === col("b"), "left"))
    assert(joins(covered) == 0,
      covered.queryExecution.optimizedPlan.toString)
    assert(rows(covered) == withoutRules(spark, JoinElimination)(rows(covered)))
    // only one member covered: fan-out possible, join must stay
    val partial = factAgg(fact.join(cdim, col("fk") === col("a"), "left"))
    assert(joins(partial) == 1)
    // the composite declaration round-trips the tag ledger
    JoinElimination.clearDeclarations(spark)
    assert(joins(covered) == 1)
    JoinElimination.loadDeclarations(spark, t)
    assert(joins(covered) == 0)
  }

  test("composite key: distinct elimination needs the whole key in the distinct set") {
    val t = freshDir("je_compd")
    SnapshotTable.create(spark, t,
      spark.range(0, 100).select((col("id") % 10).as("a"),
        (col("id") / 10).cast("long").as("b"), lit("x").as("cp")), "cp")
    JoinElimination.declareUniqueKey(spark, t, Seq("a", "b"))
    val src = SnapshotTable.read(spark, t)
    def full = src.select("a", "b").distinct()
      .groupBy(col("a")).agg(count(lit(1)).as("n")).orderBy(col("a"))
    assert(aggs(full) == 1, full.queryExecution.optimizedPlan.toString)
    assert(rows(full) == withoutRules(spark, JoinElimination)(rows(full)))
    val half = src.select("a", "cp").distinct()
      .groupBy(col("cp")).agg(count(lit(1)).as("n"))
    assert(aggs(half) == 2)
  }

  // LAST (wipes the registry): persisted declarations ride the tag
  // ledger and rehydrate in a fresh session via loadDeclarations
  test("persisted declarations rehydrate across a registry wipe") {
    val d = freshDir("je_pd")
    SnapshotTable.create(spark, d,
      spark.range(0, 50).select(col("id").as("pk"),
        (col("id") % 2).cast("string").as("dpart")), "dpart")
    val f = freshDir("je_pf")
    SnapshotTable.create(spark, f,
      spark.range(0, 500).select(col("id").as("fid"),
        (col("id") % 50).as("fk"), (col("id") % 3).cast("string").as("fpart"),
        (col("id") * 2).as("fval")), "fpart")
    JoinElimination.declareUnique(spark, d, "pk", validate = true,
      persist = true)
    JoinElimination.declareForeignKey(spark, f, "fk", d, "pk",
      validate = true, persist = true)
    // idempotent persist: re-declaring burns no version
    val vd = SnapshotTable.currentVersion(spark, d)
    JoinElimination.declareUnique(spark, d, "pk", persist = true)
    assert(SnapshotTable.currentVersion(spark, d) == vd)

    def fct = SnapshotTable.read(spark, f)
    def dm = SnapshotTable.read(spark, d)
    def q = factAgg(fct.join(dm, col("fk") === col("pk")))
    assert(joins(q) == 0) // declared in-session: eliminated

    JoinElimination.clearDeclarations(spark)
    assert(joins(q) == 1) // fresh session: nothing declared

    JoinElimination.loadDeclarations(spark, d)
    JoinElimination.loadDeclarations(spark, f)
    assert(joins(q) == 0, q.queryExecution.optimizedPlan.toString)
    assert(joins(factAgg(fct.join(dm, col("fk") === col("pk"),
      "left"))) == 0)
  }

  test("declaration validation refuses violated constraints") {
    val t = freshDir("je_bad")
    SnapshotTable.create(spark, t,
      spark.range(0, 10).select((col("id") % 3).as("k"),
        lit("x").as("p")), "p")
    intercept[IllegalArgumentException] {
      JoinElimination.declareUnique(spark, t, "k", validate = true)
    }
    JoinElimination.declareUnique(spark, t, "k") // informational: allowed
    val f = freshDir("je_badf")
    SnapshotTable.create(spark, f,
      spark.range(0, 10).select(col("id").as("r"), lit("x").as("p")), "p")
    intercept[IllegalArgumentException] {
      // fact values 0..9 vs dim keys 0..2: orphans exist
      JoinElimination.declareForeignKey(spark, f, "r", t, "k",
        validate = true)
    }
  }

  test("declarations are SESSION-scoped: a sibling session with the " +
    "rule installed sees NO elimination until it loads the persisted " +
    "declarations itself") {
    // persist the dim's key so the sibling CAN rehydrate it
    val d = freshDir("je_iso_dim")
    SnapshotTable.create(spark, d,
      spark.range(0, 50).select(col("id").as("pk"),
        concat(lit("d"), col("id").cast("string")).as("dname"),
        lit("x").as("dpart")), "dpart")
    JoinElimination.declareUnique(spark, d, "pk", persist = true)
    def q(s: org.apache.spark.sql.SparkSession): DataFrame = {
      val f = SnapshotTable.read(s, factPath)
      val dd = SnapshotTable.read(s, d)
      f.join(dd, col("fk") === col("pk"), "left")
        .groupBy(col("fpart")).agg(count(lit(1)).as("n"))
    }
    assert(joins(q(spark)) == 0, "declaring session must eliminate")
    val sibling = spark.newSession()
    assert(joins(q(sibling)) == 1,
      "a sibling session must NOT inherit this session's trust")
    JoinElimination.loadDeclarations(sibling, d)
    assert(joins(q(sibling)) == 0,
      "rehydrating the persisted ledger arms the sibling")
    // a conf-carrying clone (streaming's micro-batch planner copies
    // the session conf) inherits the trust without re-declaring
    val cloneLike = spark.newSession()
    cloneLike.conf.set("spark.graft.constraints.uniqueKeys",
      spark.conf.get("spark.graft.constraints.uniqueKeys"))
    assert(joins(q(cloneLike)) == 0,
      "a conf-carrying clone must keep the declarations")
  }
}
