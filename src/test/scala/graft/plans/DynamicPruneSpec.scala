package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{In, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BooleanType

import graft.SparkSpec
import graft.SparkSpec.withConf
import graft.sources.SnapshotTable

/** IN-list dynamic file pruning: a registered small build side is
  * executed once at planning and its distinct keys land as an IN
  * directly above the probe's snapshot relation, where the manifest's
  * partition stamps turn them into FILE pruning. Every pruning
  * assertion pairs with a rule-off result-parity check — an unsound
  * key set (dropped key, wrong null handling) is exactly what these
  * specs exist to catch.
  */
class DynamicPruneSpec extends SparkSpec {

  private def freshDir(name: String): String =
    graft.Staged.scratch(spark, "dynprune") + "/" + name

  /** 10k-row fact over 10 partition stamps; (dp, attr) dim with 10
    * keys, `attr = 0` keeping 4 of them.
    */
  private def star(): (String, String) = {
    val fact = freshDir("fact")
    val dim = freshDir("dim")
    SnapshotTable.create(spark, fact,
      spark.range(0, 10000).select(
        col("id").as("k"),
        (col("id") % 10).cast("int").as("fp"),
        ((col("id") * 7) % 1000).cast("double").as("v")),
      "fp")
    SnapshotTable.create(spark, dim,
      spark.range(0, 10).select(
        col("id").cast("int").as("dp"),
        (col("id") % 3).cast("int").as("attr")),
      "attr")
    (fact, dim)
  }

  private def filesRead(df: DataFrame): Long = {
    df.collect()
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    def walk(p: SparkPlan): Long = {
      val self = p match {
        case s: FileSourceScanExec =>
          s.relation.location.listFiles(s.partitionFilters, s.dataFilters)
            .flatMap(_.files).size.toLong
        case _ => 0L
      }
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec        => Seq(q.plan)
        case r: ReusedExchangeExec    => Seq(r.child)
        case other                    => other.children
      }
      self + kids.map(walk).sum
    }
    walk(df.queryExecution.executedPlan)
  }

  /** Dynamic conjuncts sitting directly above a relation in the
    * OPTIMIZED plan: INs over all-literal lists and constant falses.
    */
  private def dynConjuncts(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collect {
      case Filter(c, _: LogicalRelation) =>
        splitConj(c).count {
          case In(_, vs) if vs.forall(_.isInstanceOf[Literal]) => true
          case Literal(v, BooleanType) => v == null || v == false
          case _ => false
        }
    }.sum

  private def splitConj(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] = e match {
    case org.apache.spark.sql.catalyst.expressions.And(a, b) =>
      splitConj(a) ++ splitConj(b)
    case other => Seq(other)
  }

  /** Injected RANGE conjunct pairs directly above a relation (the
    * large-set fallback lane): counted by their >= halves.
    */
  private def rangeConjuncts(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collect {
      case Filter(c, _: LogicalRelation) =>
        splitConj(c).count {
          case org.apache.spark.sql.catalyst.expressions
            .GreaterThanOrEqual(_, _: Literal) => true
          case _ => false
        }
    }.sum

  private def withOff[T](body: => T): T = {
    val saved = spark.conf.getOption("spark.graft.dynamicPrune.tables")
    DynamicPrune.clearEnabled(spark)
    try body
    finally saved.foreach(spark.conf.set("spark.graft.dynamicPrune.tables", _))
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("a registered small dim prunes the fact's files to the matching " +
    "partition stamps, with rule-off result parity") {
    val (fact, dim) = star()
    DynamicPrune.enableFor(spark, dim)
    def q() = SnapshotTable.read(spark, fact)
      .join(SnapshotTable.read(spark, dim).filter(col("attr") === 0),
        col("fp") === col("dp"))
      .groupBy(col("fp")).agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
    val (slowRows, slowFiles) = withOff { val d = q(); (rows(d), filesRead(d)) }
    val fast = q()
    assert(rows(fast) === slowRows)
    assert(dynConjuncts(q()) === 1, "exactly one dynamic IN lands")
    val fastFiles = filesRead(q())
    assert(fastFiles < slowFiles,
      s"4-of-10 keys should prune fact files: $fastFiles vs $slowFiles")
  }

  test("an EMPTY build side injects a proven-false filter that plans " +
    "ZERO probe files") {
    val (fact, dim) = star()
    DynamicPrune.enableFor(spark, dim)
    def q() = SnapshotTable.read(spark, fact)
      .join(SnapshotTable.read(spark, dim).filter(col("attr") === 99),
        col("fp") === col("dp"))
      .select(col("k"), col("dp"))
    assert(withOff(rows(q())) === Seq.empty)
    assert(rows(q()) === Seq.empty)
    assert(filesRead(q()) === 0L,
      "a proven-empty join must plan zero probe files")
  }

  test("LEFT SEMI probes prune the same way") {
    val (fact, dim) = star()
    DynamicPrune.enableFor(spark, dim)
    def q() = SnapshotTable.read(spark, fact)
      .join(SnapshotTable.read(spark, dim).filter(col("attr") === 0),
        col("fp") === col("dp"), "left_semi")
    val (slowRows, slowFiles) = withOff { val d = q(); (rows(d), filesRead(d)) }
    assert(rows(q()) === slowRows)
    assert(filesRead(q()) < slowFiles)
  }

  test("refusals: unregistered build, oversized build, nondeterministic " +
    "build filter, over-cap key count, and a probe key with no pruning " +
    "evidence — all leave the plan alone") {
    val (fact, dim) = star()
    def join(dimDf: DataFrame) = SnapshotTable.read(spark, fact)
      .join(dimDf, col("fp") === col("dp"))
      .groupBy(col("fp")).agg(count(lit(1)).as("n"))
    val filtered = SnapshotTable.read(spark, dim).filter(col("attr") === 0)

    // unregistered: inert
    assert(dynConjuncts(join(filtered)) === 0)

    DynamicPrune.enableFor(spark, dim)
    // oversized build (manifest rows 10 > cap 5)
    withConf(spark, "spark.graft.dynamicPrune.maxBuildRows" -> "5") {
      assert(dynConjuncts(join(filtered)) === 0)
    }

    // over-cap key count (4 keys > cap 2): the int key falls back to
    // the [min, max] RANGE lane (Trino's large-set dynamic filter) —
    // injected with parity, and the fallback must not poison the
    // default-cap IN lane
    withConf(spark, "spark.graft.dynamicPrune.maxKeys" -> "2") {
      assert(dynConjuncts(join(filtered)) === 0)
      assert(rangeConjuncts(join(filtered)) === 1,
        "over-cap int keys must fall back to a min/max range")
      assert(rows(join(filtered)) === withOff(rows(join(filtered))))
    }
    assert(dynConjuncts(join(filtered)) === 1,
      "the small-cap fallback must not mask the default-cap success")

    // nondeterministic build filter: would execute twice, refuses
    // (a FOLDABLE rand comparison like `rand < 2.0` is optimized away
    // before this rule runs — that plan is genuinely deterministic and
    // legitimately prunes; 0.5 survives as a real nondeterministic
    // filter, pulled out into a rand-projecting child)
    assert(dynConjuncts(join(
      SnapshotTable.read(spark, dim).filter(rand(7) < 0.5))) === 0)

    // probe key with no stamp/stats/bloom evidence: IN would prune
    // nothing, refuses (join on k, the non-partition fact key)
    val dimK = freshDir("dimk")
    SnapshotTable.create(spark, dimK,
      spark.range(0, 5).select(col("id").as("dk"), lit("x").as("p")), "p")
    DynamicPrune.enableFor(spark, dimK)
    assert(dynConjuncts(SnapshotTable.read(spark, fact)
      .join(SnapshotTable.read(spark, dimK), col("k") === col("dk"))
      .groupBy(col("fp")).agg(count(lit(1)).as("n"))) === 0)
  }

  test("a DISTINCT / grouped build side prunes too (grouping only " +
    "reduces the proven bound)") {
    val (fact, dim) = star()
    DynamicPrune.enableFor(spark, dim)
    def q() = SnapshotTable.read(spark, fact)
      .join(SnapshotTable.read(spark, dim).filter(col("attr") === 0)
        .select(col("dp")).distinct(),
        col("fp") === col("dp"))
      .groupBy(col("fp")).agg(count(lit(1)).as("n"))
    val (slowRows, slowFiles) = withOff { val d = q(); (rows(d), filesRead(d)) }
    assert(rows(q()) === slowRows)
    assert(filesRead(q()) < slowFiles)
  }

  test("LEFT OUTER and LEFT ANTI prune their RIGHT side from the " +
    "left build's keys — outer rows and anti semantics preserved " +
    "(parity includes an unmatched build key)") {
    val fact = freshDir("fact2")
    val dim = freshDir("dim2")
    SnapshotTable.create(spark, fact,
      spark.range(0, 10000).select(
        col("id").as("k"), (col("id") % 10).cast("int").as("fp")),
      "fp")
    // dim keys 0..14: dp = 12 passes attr = 0 but matches NO fact row
    // — the row outer/anti semantics exist to keep
    SnapshotTable.create(spark, dim,
      spark.range(0, 15).select(
        col("id").cast("int").as("dp"),
        (col("id") % 3).cast("int").as("attr")),
      "attr")
    DynamicPrune.enableFor(spark, dim)
    def outer() = SnapshotTable.read(spark, dim).filter(col("attr") === 0)
      .join(SnapshotTable.read(spark, fact), col("dp") === col("fp"),
        "left_outer")
      .groupBy(col("dp")).agg(count(col("k")).as("n"))
    val (slowO, slowOFiles) = withOff { val d = outer(); (rows(d), filesRead(d)) }
    assert(rows(outer()) === slowO)
    assert(slowO.exists(_.startsWith("[12,0")),
      "the unmatched build key must survive as an outer row")
    assert(filesRead(outer()) < slowOFiles)

    def anti() = SnapshotTable.read(spark, dim).filter(col("attr") === 0)
      .join(SnapshotTable.read(spark, fact), col("dp") === col("fp"),
        "left_anti")
      .select(col("dp")).orderBy(col("dp"))
    val (slowA, slowAFiles) = withOff { val d = anti(); (rows(d), filesRead(d)) }
    assert(slowA === Seq("[12]"), "only dp=12 has no fact match")
    assert(rows(anti()) === slowA)
    assert(filesRead(anti()) < slowAFiles)
  }

  test("the registry is SESSION-scoped: a sibling session with the " +
    "rule installed does not inherit it; a conf-carrying clone keeps " +
    "firing; the planner tier COMPOSES (dynamic IN + grouped metadata " +
    "fold on one star query)") {
    val (fact, dim) = star()
    DynamicPrune.enableFor(spark, dim)
    def q(s: org.apache.spark.sql.SparkSession) = {
      val f = SnapshotTable.read(s, fact)
      val d = SnapshotTable.read(s, dim).filter(col("attr") === 0)
      f.join(d, col("fp") === col("dp"))
        .groupBy(col("fp")).agg(count(lit(1)).as("n"))
    }
    assert(dynConjuncts(q(spark)) === 1)
    val sibling = spark.newSession()
    assert(dynConjuncts(q(sibling)) === 0,
      "a sibling session must not inherit the registry")
    val cloneLike = spark.newSession()
    cloneLike.conf.set("spark.graft.dynamicPrune.tables",
      spark.conf.get("spark.graft.dynamicPrune.tables"))
    assert(dynConjuncts(q(cloneLike)) === 1,
      "a conf-carrying clone (micro-batch planning) must keep firing")
    // composition: the grouped metadata fold (count per partition)
    // refuses under the join, but the probe's own per-partition count
    // AFTER dynamic pruning still answers correctly — parity is the
    // composed-tier contract
    assert(rows(q(spark)) === withOff(rows(q(spark))))
  }

  test("fixpoint-stable: re-optimizing the optimized plan changes " +
    "nothing and collects no second key set") {
    val (fact, dim) = star()
    DynamicPrune.enableFor(spark, dim)
    val q = SnapshotTable.read(spark, fact)
      .join(SnapshotTable.read(spark, dim).filter(col("attr") === 0),
        col("fp") === col("dp"))
    val opt: LogicalPlan = q.queryExecution.optimizedPlan
    val again = DynamicPrune(opt)
    assert(again.sameResult(opt), "second pass must be a no-op")
  }
}
