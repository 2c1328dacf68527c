package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.SparkSpec.withoutRules
import graft.sources.{SnapshotFileIndex, SnapshotTable, TableStats}

/** Stats-driven join ordering: a 3-table star written fact-first
  * reorders to selective-dim-first from declared stats alone, with no
  * opt-in — plan flip pinned here, result parity with the rule
  * excluded on every shape, and refusals (no stats, outer join,
  * 2-table) leave the plan alone.
  */
class JoinOrderSpec extends SparkSpec {

  private def freshDir(): String =
    graft.Staged.scratch(spark, "joinorder")

  /** In-order snapshot-table paths of the optimized plan — the join
    * order's observable.
    */
  private def leafOrder(df: DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collect {
      case l: LogicalRelation => l.relation match {
        case fs: HadoopFsRelation => fs.location match {
          case i: SnapshotFileIndex => i.tablePath
          case _ => ""
        }
        case _ => ""
      }
    }.filter(_.nonEmpty)

  private def ruleOff[T](body: => T): T = withoutRules(spark, JoinOrder)(body)

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  /** fact 20k rows; dimA 2k unique keys; dimB 100 unique keys over 5
    * partition stamps — the partition filter is what makes the dimB
    * edge strictly cheaper (under perfect containment every FK join
    * estimates to the fact's rows, so an unfiltered star legitimately
    * keeps its written order). All key sketches exact (k = 4096).
    */
  private def star(analyzed: Boolean): (String, String, String) = {
    val root = freshDir()
    val (f, a, b) = (s"$root/fact", s"$root/dima", s"$root/dimb")
    SnapshotTable.create(spark, f,
      spark.range(0, 20000).select(
        col("id").as("k"),
        (col("id") % 2000).as("a_id"),
        (col("id") % 100).as("b_id"),
        (col("id") % 4).cast("string").as("p")), "p")
    SnapshotTable.create(spark, a,
      spark.range(0, 2000).select(
        col("id").as("a_key"), (col("id") % 7).as("a_val"),
        lit("all").as("p")), "p")
    SnapshotTable.create(spark, b,
      spark.range(0, 100).select(
        col("id").as("b_key"), (col("id") % 9).as("b_val"),
        (col("id") % 5).cast("string").as("p")), "p")
    if (analyzed) {
      TableStats.analyze(spark, f, Seq("a_id", "b_id"), k = 4096)
      TableStats.analyze(spark, a, Seq("a_key"), k = 4096)
      TableStats.analyze(spark, b, Seq("b_key"), k = 4096)
    }
    (f, a, b)
  }

  private def starQuery(f: String, a: String, b: String,
                        bFilter: Boolean): DataFrame = {
    val dimB = SnapshotTable.read(spark, b)
      .select(col("b_key"), col("b_val"))
    SnapshotTable.read(spark, f)
      .join(SnapshotTable.read(spark, a)
        .select(col("a_key"), col("a_val")),
        col("a_id") === col("a_key"))
      .join(if (bFilter) SnapshotTable.read(spark, b)
          .filter(col("p") === "3").select(col("b_key"), col("b_val"))
        else dimB,
        col("b_id") === col("b_key"))
      .groupBy(col("b_val"))
      .agg(count(lit(1)).as("n"), sum(col("a_val")).as("s"))
      .orderBy(col("b_val"))
  }

  test("a star written fact-first flips to the partition-filtered " +
    "selective dim first — proven rows via entry restriction, exact " +
    "NDV sketches — with exact result parity") {
    val (f, a, b) = star(analyzed = true)
    val (off, offRows) = ruleOff {
      (leafOrder(starQuery(f, a, b, bFilter = true)),
        rows(starQuery(f, a, b, bFilter = true)))
    }
    assert(off === Seq(f, a, b), "rule off: the written order plans as written")
    val on = leafOrder(starQuery(f, a, b, bFilter = true))
    val onRows = rows(starQuery(f, a, b, bFilter = true))
    assert(on === Seq(f, b, a),
      s"the filtered dimB edge (20 of 100 rows by stamp) must join " +
        s"first; got $on")
    assert(onRows === offRows, "reorder must never change results")
    // UNFILTERED: perfect containment ties every edge at the fact's
    // rows — the written order is already canonical, no churn
    assert(leafOrder(starQuery(f, a, b, bFilter = false))
      === Seq(f, a, b), "an unfiltered star keeps its written order")
    // determinism / fixpoint: a second optimization pass yields the
    // same order (Canonical short-circuits, no oscillation)
    assert(leafOrder(starQuery(f, a, b, bFilter = true)) === Seq(f, b, a))
  }

  test("the packaged q_join_order actually flips: customer ⋈ nation " +
    "(the selective dim-dim edge) plans first, the fact last") {
    val df = JoinOrder.joinOrderQuery(spark, "/root/testdata/sf0.001")
    val order = leafOrder(df)
    assert(order.size === 3, s"3 snapshot leaves expected: $order")
    assert(order(0).endsWith("/customer") && order(1).endsWith("/nation")
      && order(2).endsWith("/orders"),
      s"expected [customer, nation, orders], got $order")
  }

  test("a VALUE-range-filtered dim sizes from the rank sidecar — rows " +
    "the manifest total cannot see — and flips the order; without the " +
    "rank summary the same query keeps its written order") {
    val (f, a, b) = star(analyzed = true)
    def q() = SnapshotTable.read(spark, f)
      .join(SnapshotTable.read(spark, a)
        .select(col("a_key"), col("a_val")),
        col("a_id") === col("a_key"))
      .join(SnapshotTable.read(spark, b)
          .filter(col("b_val") <= 0L).select(col("b_key"), col("b_val")),
        col("b_id") === col("b_key"))
      .groupBy(col("b_val"))
      .agg(count(lit(1)).as("n"), sum(col("a_val")).as("s"))
      .orderBy(col("b_val"))
    // no rank summary on b_val: the value filter is invisible to the
    // manifest total — every edge estimates to the fact's rows and
    // the written order stands
    assert(leafOrder(q()) === Seq(f, a, b),
      "without a rank summary the value filter cannot size the dim")
    // with it: ~12 of 100 rows pass b_val <= 0 (exact-regime bound),
    // the dimB edge wins the start pair, the order flips
    graft.sources.RankStats.analyze(spark, b, Seq("b_val"))
    assert(leafOrder(q()) === Seq(f, b, a),
      s"the rank-sized dim must join first: ${leafOrder(q())}")
    assert(rows(q()) === ruleOff(rows(q())),
      "reorder must never change results")
  }

  test("refusals leave the plan alone: no ANALYZE sketches, only two " +
    "tables, outer join in the chain") {
    val (f, a, b) = star(analyzed = false)
    assert(leafOrder(starQuery(f, a, b, bFilter = true)) === Seq(f, a, b),
      "no NDV proof -> no reorder (stats, not guesses)")
    val (f2, a2, b2) = star(analyzed = true)
    val two =
      leafOrder(SnapshotTable.read(spark, f2)
        .join(SnapshotTable.read(spark, a2)
          .select(col("a_key"), col("a_val")),
          col("a_id") === col("a_key"))
        .groupBy(col("a_val")).agg(count(lit(1)).as("n")))
    assert(two === Seq(f2, a2), "a 2-table join is not a chain")
    val outer =
      leafOrder(SnapshotTable.read(spark, f2)
        .join(SnapshotTable.read(spark, a2)
          .select(col("a_key"), col("a_val")),
          col("a_id") === col("a_key"))
        .join(SnapshotTable.read(spark, b2)
            .filter(col("p") === "3").select(col("b_key"), col("b_val")),
          col("b_id") === col("b_key"), "left_outer"))
    assert(outer === Seq(f2, a2, b2),
      "an outer join must refuse the reorder (only inner commutes)")
  }
}
