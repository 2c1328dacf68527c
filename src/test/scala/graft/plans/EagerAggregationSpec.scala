package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.SparkSpec.{withConf, withoutRules}
import graft.sources.SnapshotTable

/** Eager aggregation must (a) place a partial Aggregate BELOW the join
  * in the optimized plan for qualifying shapes, (b) return exactly the
  * rows the un-rewritten plan returns — including null join keys, null
  * aggregate inputs, count-vs-sum null profiles, global (ungrouped)
  * aggregates, and join fan-out — and (c) refuse every shape whose
  * decomposition proof fails: outer joins, non-equi conjuncts, distinct
  * aggregates, functions over both sides, un-opted tables, unsupported
  * functions.
  */
class EagerAggregationSpec extends SparkSpec {

  private def freshDir(name: String): String =
    graft.Staged.scratch(spark, name) + "/t"

  // fact: 1000 rows over 60 join keys (fan-in), some null keys, some
  // null measure values; key 59 has no dim partner
  private lazy val factPath: String = {
    val t = freshDir("ea_fact")
    val df = spark.range(0, 1000).select(
      when(col("id") % 13 === 0, lit(null).cast("long"))
        .otherwise(col("id") % 60).as("k"),
      when(col("id") % 7 === 0, lit(null).cast("double"))
        .otherwise(col("id").cast("double") / 3.0).as("v"),
      (col("id") % 5).cast("string").as("fgrp"),
      (col("id") % 4).cast("string").as("fpart"))
    SnapshotTable.create(spark, t, df, "fpart")
    EagerAggregation.enableFor(t)
    t
  }

  // dim: keys 0..58 (59 missing), with its own group column; keys
  // 0..9 appear TWICE (join fan-out: partials must multiply correctly)
  private lazy val dimPath: String = {
    val t = freshDir("ea_dim")
    val base = spark.range(0, 59).select(
      col("id").as("dk"),
      (col("id") % 3).cast("string").as("dgrp"),
      lit("a").as("dpart"))
    val dup = spark.range(0, 10).select(
      col("id").as("dk"), lit("9").as("dgrp"), lit("b").as("dpart"))
    SnapshotTable.create(spark, t, base.unionByName(dup), "dpart")
    t
  }

  private def fact: DataFrame = SnapshotTable.read(spark, factPath)
  private def dim: DataFrame = SnapshotTable.read(spark, dimPath)

  /** Aggregates strictly below a Join in the optimized plan. */
  private def partialAggs(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collect {
      case j: Join => j.children.flatMap(_.collect {
        case a: Aggregate => a }).size
    }.sum

  /** Canonical row strings; doubles at 9 significant digits — a double
    * `sum`'s grouping is re-associated by the rewrite (exactly as
    * Spark's own partial aggregation re-associates it across
    * partitions), so the last couple of bits are not contract.
    */
  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map {
      case d: Double => new java.math.BigDecimal(d)
        .round(new java.math.MathContext(9))
        .stripTrailingZeros.toPlainString
      case x => String.valueOf(x)
    }.mkString("[", ",", "]")).toSeq.sorted

  private def parity(build: => DataFrame): Unit = {
    val eager = build
    assert(partialAggs(eager) == 1,
      eager.queryExecution.optimizedPlan.toString)
    assert(rows(eager) == withoutRules(spark, EagerAggregation)(rows(build)))
  }

  test("grouped by dim attr: sum/count/min/max push below the join") {
    parity(fact.join(dim, col("k") === col("dk"))
      .groupBy(col("dgrp"))
      .agg(count(lit(1)).as("n"), count(col("v")).as("nv"),
        sum(col("v")).as("s"), min(col("v")).as("mn"),
        max(col("v")).as("mx")))
  }

  test("grouped by attrs from BOTH sides") {
    parity(fact.join(dim, col("k") === col("dk"))
      .groupBy(col("dgrp"), col("fgrp"))
      .agg(sum(col("v")).as("s"), count(lit(1)).as("n")))
  }

  test("global aggregate over the join") {
    parity(fact.join(dim, col("k") === col("dk"))
      .agg(sum(col("v")).as("s"), count(lit(1)).as("n"),
        max(col("v")).as("mx")))
  }

  test("decimal sum re-aggregates to the original result type") {
    def build = fact.join(dim, col("k") === col("dk"))
      .groupBy(col("dgrp"))
      .agg(sum(col("v").cast("decimal(18,4)")).as("s"))
    val eager = build
    assert(partialAggs(eager) == 1)
    assert(eager.schema("s").dataType ==
      withoutRules(spark, EagerAggregation)(build.schema("s").dataType))
    assert(rows(eager) == withoutRules(spark, EagerAggregation)(rows(build)))
  }

  test("multi-column equi condition qualifies") {
    parity(fact.join(dim,
      col("k") === col("dk") && col("fgrp") === col("dgrp"))
      .groupBy(col("dgrp"))
      .agg(sum(col("v")).as("s"), count(lit(1)).as("n")))
  }

  test("kept: aggregated side not opted in") {
    // aggs read the DIM side (never opted in); the opted-in fact only
    // contributes the group key, so no side qualifies
    val q = fact.join(dim, col("k") === col("dk"))
      .groupBy(col("fgrp")).agg(sum(col("dk")).as("s"))
    assert(partialAggs(q) == 0)
  }

  test("kept: outer join") {
    val q = fact.join(dim, col("k") === col("dk"), "left")
      .groupBy(col("dgrp")).agg(sum(col("v")).as("s"))
    assert(partialAggs(q) == 0)
  }

  test("kept: non-equi conjunct") {
    val q = fact.join(dim, col("k") === col("dk") && col("v") > col("dk"))
      .groupBy(col("dgrp")).agg(sum(col("v")).as("s"))
    assert(partialAggs(q) == 0)
  }

  test("kept: distinct aggregate") {
    val q = fact.join(dim, col("k") === col("dk"))
      .groupBy(col("dgrp")).agg(countDistinct(col("v")).as("n"))
    assert(partialAggs(q) == 0)
  }

  test("kept: aggregate reads both sides") {
    val q = fact.join(dim, col("k") === col("dk"))
      .groupBy(col("dgrp")).agg(sum(col("v") + col("dk")).as("s"))
    assert(partialAggs(q) == 0)
  }

  test("avg decomposes to a sum/count partial pair") {
    parity(fact.join(dim, col("k") === col("dk"))
      .groupBy(col("dgrp"))
      .agg(avg(col("v")).as("a"), count(lit(1)).as("n")))
  }

  test("avg of an all-null group stays SQL NULL") {
    // dgrp keys whose fact rows are all v-null: build one synthetically
    val nulls = spark.range(0, 20).select(lit(58L).as("k"),
      lit(null).cast("double").as("v"), lit("4").as("fgrp"),
      lit("3").as("fpart"))
    SnapshotTable.commitAppend(spark, factPath, nulls, "fpart")
    parity(fact.join(dim, col("k") === col("dk"))
      .groupBy(col("k")).agg(avg(col("v")).as("a")))
  }

  test("kept: unsupported function (stddev)") {
    val q = fact.join(dim, col("k") === col("dk"))
      .groupBy(col("dgrp")).agg(stddev(col("v")).as("sd"))
    assert(partialAggs(q) == 0)
  }

  test("NDV cost gate: a near-unique-key fact with fresh sketches " +
    "DECLINES without any opt-out, force=true overrides, and the " +
    "classic fan-in shape still fires under the same kind of sketch") {
    import graft.sources.TableStats
    // near-unique: one row per join key -> the partial agg shuffles as
    // many rows as the raw plan, pure overhead, and the sketch knows
    val uniq = freshDir("ea_uniq")
    SnapshotTable.create(spark, uniq,
      spark.range(0, 1000).select(col("id").as("uk"),
        col("id").cast("double").as("uv"), lit("x").as("up")), "up")
    EagerAggregation.enableFor(uniq)
    TableStats.analyze(spark, uniq, Seq("uk"), k = 4096)
    def q() = SnapshotTable.read(spark, uniq)
      .join(dim, col("uk") === col("dk"))
      .groupBy(col("dgrp")).agg(sum(col("uv")).as("s"))
    assert(partialAggs(q()) == 0,
      "proven near-unique partial keys must decline the rewrite")
    assert(rows(q()) == withoutRules(spark, EagerAggregation)(rows(q())))
    // the owner's force flag skips the gate
    EagerAggregation.enableFor(uniq, force = true)
    assert(partialAggs(q()) == 1, "force must skip the cost gate")
    // classic fan-in (50 rows per key) under the same sketch: fires
    val fan = freshDir("ea_fan")
    SnapshotTable.create(spark, fan,
      spark.range(0, 1000).select((col("id") % 20).as("fk"),
        col("id").cast("double").as("fv"), lit("x").as("fp")), "fp")
    EagerAggregation.enableFor(fan)
    TableStats.analyze(spark, fan, Seq("fk"), k = 4096)
    def q2() = SnapshotTable.read(spark, fan)
      .join(dim, col("fk") === col("dk"))
      .groupBy(col("dgrp")).agg(sum(col("fv")).as("s"))
    assert(partialAggs(q2()) == 1, "a proven 50x reduction must fire")
    assert(rows(q2()) == withoutRules(spark, EagerAggregation)(rows(q2())))
  }

  test("measured effect: a high fan-in fact ships its partial " +
    "aggregates, >= 5x fewer shuffle records than every fact row; rows " +
    "identical") {
    // 20000 rows over 50 join keys (400 per key), a per-key dimension;
    // AQE and broadcast off so the static plan's shuffles run as planned
    val f = freshDir("ea_fanin")
    SnapshotTable.create(spark, f, spark.range(0, 20000).select(
      (col("id") % 50).as("uk"), (col("id") % 997).cast("double").as("uv"),
      col("id").as("ue"), (col("id") % 4).cast("string").as("up")), "up")
    EagerAggregation.enableFor(f)
    val d = freshDir("ea_users")
    SnapshotTable.create(spark, d, spark.range(0, 50).select(
      col("id").as("u_id"), (col("id") % 10).cast("string").as("u_region"),
      lit("all").as("u_part")), "u_part")
    def q() = SnapshotTable.read(spark, f)
      .join(SnapshotTable.read(spark, d), col("uk") === col("u_id"))
      .groupBy(col("u_region"))
      .agg(count(lit(1)).as("n"),
        sum(col("uv").cast("decimal(18,6)")).cast("double").as("s"),
        max(col("ue")).as("mx"))
    def shuffled(): (Long, Seq[String]) = {
      val df = q()
      val out = rows(df)
      (df.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
          e.metrics("shuffleRecordsWritten").value
      }.sum, out)
    }
    withConf(spark, "spark.sql.adaptive.enabled" -> "false",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val (on, onRows) = shuffled()
      val (off, offRows) = withoutRules(spark, EagerAggregation)(shuffled())
      assert(onRows == offRows)
      assert(on * 5 < off, s"shuffle records: rule on $on, off $off")
    }
  }

  test("driver query runs the eager plan") {
    val q = EagerAggregation.eagerAggQuery(spark, sfDir)
    assert(partialAggs(q) == 1, q.queryExecution.optimizedPlan.toString)
    val qb = EagerAggregation.aggBroadcastQuery(spark, sfDir)
    assert(partialAggs(qb) == 1, qb.queryExecution.optimizedPlan.toString)
  }

  test("opt-ins are SESSION-scoped: a sibling session with the rule " +
    "installed does not inherit them until it opts in itself") {
    val sibling = spark.newSession()
    def q(s: org.apache.spark.sql.SparkSession) = {
      val f = SnapshotTable.read(s, factPath)
      val dd = SnapshotTable.read(s, dimPath)
      f.join(dd, col("k") === col("dk"))
        .groupBy(col("dgrp")).agg(sum(col("v")).as("s"))
    }
    assert(partialAggs(q(spark)) == 1, "opted-in session must rewrite")
    assert(partialAggs(q(sibling)) == 0,
      "a sibling session must not inherit the opt-in")
    // a CLONED session carries the session conf (what Structured
    // Streaming's micro-batch planner does) — the carrier key is the
    // whole registry, so copying it is all a clone needs to keep firing
    val cloneLike = spark.newSession()
    cloneLike.conf.set("spark.graft.eagerAgg.tables",
      spark.conf.get("spark.graft.eagerAgg.tables"))
    assert(partialAggs(q(cloneLike)) == 1,
      "a conf-carrying clone must keep the opt-in")
    EagerAggregation.enableFor(sibling, factPath, force = false)
    assert(partialAggs(q(sibling)) == 1,
      "its own opt-in arms the sibling")
  }

  test("SQL procedure opts a table in") {
    graft.sources.SnapshotSql.register(spark)
    val t = freshDir("ea_sql")
    spark.range(0, 100).select((col("id") % 10).as("k"),
      col("id").cast("double").as("v"), lit("x").as("p"))
      .createOrReplaceTempView("ea_sql_src")
    SnapshotTable.create(spark, t,
      spark.table("ea_sql_src"), "p")
    spark.sql(s"SELECT * FROM snapshot_enable_eager_agg('$t')").collect()
    val q = spark.sql(
      s"""SELECT dgrp, sum(v) AS s FROM snapshot_table('$t')
         |JOIN snapshot_table('$dimPath') ON k = dk
         |GROUP BY dgrp""".stripMargin)
    assert(partialAggs(q) == 1, q.queryExecution.optimizedPlan.toString)
  }
}
