package graft.plans

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

import graft.{SessionTune, SparkEntry, SparkSpec}
import graft.SparkSpec.withoutRules
import graft.sources.{SnapshotFileIndex, SnapshotSql, SnapshotTable, TableStats}

/** The one rule list and its one installer: a session's first
  * table-access funnel installs every rule of [[Rules.all]], once, in
  * order, whichever query reaches it, and a rule is switched off by
  * name with Spark's `spark.sql.optimizer.excludedRules`.
  */
class RulesSpec extends SparkSpec {

  /** A session with no rules yet, sized like the suite's. */
  private def fresh(): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "4")
    s.conf.set("spark.graft.write.targetFileBytes", "1024")
    assert(s.experimental.extraOptimizations.isEmpty)
    s
  }

  // one driver query of each file whose queries used to install
  // their own rules before they ran
  private val queryPerFile = Seq(
    "plans/EagerAggregation"     -> "q_eager_agg",
    "plans/WindowTopK"           -> "q_topk_grouped",
    "plans/JoinElimination"      -> "q_join_elim_left",
    "plans/JoinOrder"            -> "q_join_order",
    "plans/DynamicPrune"         -> "q_dpp_join",
    "sources/MaterializedView"   -> "q_mview_rewrite",
    "sources/SecondaryIndex"     -> "q_secidx_join",
    "sources/SnapshotTable"      -> "q_snapshot_meta_agg",
    "sources/RankStats"          -> "q_rank_topk",
    "sources/IncrementalView"    -> "q_mview_join_rw")

  queryPerFile.foreach { case (file, name) =>
    test(s"$file: $name in a fresh session runs with every rule, installed once") {
      val s = fresh()
      assert(SparkEntry.queries(name)(s, sfDir).collect().nonEmpty)
      assert(s.experimental.extraOptimizations === Rules.all)
    }
  }

  test("sources/SnapshotSql: the SQL procedures and a snapshot_table " +
    "query in a fresh session run with every rule, installed once") {
    val s = fresh()
    SnapshotSql.register(s)
    val t = graft.Staged.scratch(s, "rules_sql") + "/t"
    SnapshotTable.create(s, t,
      s.range(0, 100).select(col("id").as("k"), lit("x").as("p")), "p")
    s.sql(s"SELECT * FROM snapshot_declare_key('$t', 'k', 1)").collect()
    s.sql(s"SELECT * FROM snapshot_enable_eager_agg('$t')").collect()
    s.sql(s"SELECT * FROM snapshot_enable_dynamic_prune('$t')").collect()
    assert(s.sql(s"SELECT count(*) FROM snapshot_table('$t')")
      .head().getLong(0) === 100L)
    assert(s.experimental.extraOptimizations === Rules.all)
  }

  test("a fact-first 3-way join over ANALYZEd snapshot tables plans the " +
    "same reordered leaf order before and after q_join_order runs in " +
    "the session, with nothing opted in") {
    val s = fresh()
    val root = graft.Staged.scratch(s, "rules_order")
    val (f, a, b) = (s"$root/fact", s"$root/dima", s"$root/dimb")
    SnapshotTable.create(s, f, s.range(0, 4000).select(col("id").as("k"),
      (col("id") % 400).as("a_id"), (col("id") % 40).as("b_id"),
      lit("all").as("p")), "p")
    SnapshotTable.create(s, a, s.range(0, 400).select(col("id").as("a_key"),
      (col("id") % 7).as("a_val"), lit("all").as("p")), "p")
    SnapshotTable.create(s, b, s.range(0, 40).select(col("id").as("b_key"),
      (col("id") % 9).as("b_val"), (col("id") % 5).cast("string").as("p")),
      "p")
    TableStats.analyze(s, f, Seq("a_id", "b_id"), k = 4096)
    TableStats.analyze(s, a, Seq("a_key"), k = 4096)
    TableStats.analyze(s, b, Seq("b_key"), k = 4096)
    def leafOrder(): Seq[String] = SnapshotTable.read(s, f)
      .join(SnapshotTable.read(s, a), col("a_id") === col("a_key"))
      .join(SnapshotTable.read(s, b).filter(col("p") === "3")
        .select(col("b_key"), col("b_val")), col("b_id") === col("b_key"))
      .groupBy(col("b_val")).agg(count(lit(1)).as("n"))
      .queryExecution.optimizedPlan.collect {
        case l: LogicalRelation => l.relation match {
          case fs: HadoopFsRelation => fs.location match {
            case i: SnapshotFileIndex => i.tablePath
            case _ => ""
          }
          case _ => ""
        }
      }.filter(_.nonEmpty)
    val before = leafOrder()
    assert(before === Seq(f, b, a),
      "the filtered selective dim joins first with no opt-in")
    SparkEntry.queries("q_join_order")(s, sfDir).collect()
    assert(leafOrder() === before,
      "running another query must not change this query's plan")
  }

  test("a plain parquet read is a funnel too, and a second funnel adds " +
    "nothing") {
    val s = fresh()
    graft.Tables.orders(s, sfDir)
    assert(s.experimental.extraOptimizations === Rules.all)
    graft.Tables.lineitem(s, sfDir)
    SessionTune.install(s)
    assert(s.experimental.extraOptimizations === Rules.all)
  }

  test("concurrent first funnels install each rule exactly once") {
    val s = fresh()
    val pool = Executors.newFixedThreadPool(8)
    val start = new CountDownLatch(1)
    try {
      (1 to 8).foreach(_ => pool.submit(new Runnable {
        def run(): Unit = { start.await(); SessionTune.install(s) }
      }))
      start.countDown()
    } finally {
      pool.shutdown()
      assert(pool.awaitTermination(60, TimeUnit.SECONDS))
    }
    assert(s.experimental.extraOptimizations === Rules.all)
  }

  test("excluding a rule by name switches it off, and only it") {
    val s = fresh()
    val t = graft.Staged.scratch(s, "rules_off") + "/t"
    SnapshotTable.create(s, t,
      s.range(0, 1000).select(col("id").as("k"), lit("x").as("p")), "p",
      statsCols = Seq("k"))
    def q(): DataFrame = SnapshotTable.read(s, t)
      .agg(count(lit(1)).as("n"), min(col("k")).as("lo"))
    def folded(df: DataFrame): Boolean =
      df.queryExecution.optimizedPlan.collectFirst { case l: LocalRelation => l }
        .nonEmpty
    assert(folded(q()))
    val off = withoutRules(s, MetadataAggPushdown) {
      assert(!folded(q()), "the excluded rule must not fire")
      q().head()
    }
    assert(off === q().head())
    assert(withoutRules(s, RankTopK)(folded(q())),
      "excluding another rule leaves this one on")
    assert(s.conf.getOption("spark.sql.optimizer.excludedRules").isEmpty,
      "the prior (unset) value comes back")
  }
}
