package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.SparkSpec.{withConf, withoutRules}
import graft.sources.SnapshotTable

/** Grouped top-k pushdown: `row_number()/rank() OVER (PARTITION BY p
  * ORDER BY v) <= k` over a snapshot table partitioned by p gains one
  * per-group threshold conjunct from per-file stats, which the
  * manifest turns into file pruning on a v-clustered layout. Every
  * pruning assertion pairs with a rule-off result-parity check — a cut
  * survivor or a shifted rank is exactly what these specs exist to
  * catch.
  */
class WindowTopKSpec extends SparkSpec {

  private def freshDir(): String =
    graft.Staged.scratch(spark, "wintopk") + "/t"

  /** 10k rows over 5 partition stamps, v range-clustered within each
    * partition (statsCols head), so per-group thresholds prune most of
    * each group's files.
    */
  private def table(withNulls: Boolean = false): String = {
    val t = freshDir()
    val base = spark.range(0, 10000).select(
      col("id").as("k"),
      concat(lit("g"), (col("id") % 5).cast("string")).as("p"),
      ((col("id") * 6361L) % 10000L).cast("double").as("v"))
    val df = if (!withNulls) base
      else base.withColumn("v",
        when(col("k") % 97 === 0, lit(null)).otherwise(col("v")))
    SnapshotTable.create(spark, t, df, "p", statsCols = Seq("v"))
    t
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

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq

  private def topk(t: String, k: Int, desc: Boolean = false,
                   fn: String = "row_number"): DataFrame = {
    val ord = if (desc) col("v").desc else col("v")
    val w = Window.partitionBy(col("p")).orderBy(ord, col("k"))
    val rank = fn match {
      case "row_number" => row_number()
      case "rank"       => org.apache.spark.sql.functions.rank()
      case "dense_rank" => dense_rank()
    }
    SnapshotTable.read(spark, t)
      .withColumn("rn", rank.over(w)).filter(col("rn") <= k)
      .select(col("p"), col("rn"), col("k"), col("v"))
      .orderBy(col("p"), col("rn"), col("k"))
  }

  test("per-group ascending top-k reads a fraction of the files with " +
    "rule-off row parity") {
    val t = table()
    val (slowRows, slowFiles) = withoutRules(spark, WindowTopK) {
      val d = topk(t, 3); (rows(d), filesRead(d))
    }
    assert(rows(topk(t, 3)) === slowRows)
    val fast = filesRead(topk(t, 3))
    assert(fast < slowFiles,
      s"grouped top-3 of a clustered column should prune: $fast vs $slowFiles")
  }

  test("descending and rank() prune with parity; ties at the " +
    "threshold survive") {
    val t = table()
    val (slowDesc, slowDescFiles) = withoutRules(spark, WindowTopK) {
      val d = topk(t, 5, desc = true); (rows(d), filesRead(d))
    }
    assert(rows(topk(t, 5, desc = true)) === slowDesc)
    assert(filesRead(topk(t, 5, desc = true)) < slowDescFiles)

    val slowRank = withoutRules(spark, WindowTopK)(rows(topk(t, 4, fn = "rank")))
    assert(rows(topk(t, 4, fn = "rank")) === slowRank)
  }

  test("nulls-first ascending keeps the null rows that OWN the top " +
    "ranks (parity on a null-bearing column)") {
    val t = table(withNulls = true)
    // Spark's default ascending null ordering is NULLS FIRST: with
    // nulls in v, ranks 1..n_nulls ARE the null rows — an injected
    // filter that dropped them would break parity loudly
    val slow = withoutRules(spark, WindowTopK)(rows(topk(t, 3)))
    assert(rows(topk(t, 3)) === slow)
    assert(slow.exists(_.contains("null")),
      "fixture must actually put nulls in the top ranks")
  }

  test("refusals: dense_rank (distinct-value ranks), an aggregate " +
    "window expression over the same partition, and a filter under " +
    "the window all leave the scan unpruned") {
    val t = table()
    val all = withoutRules(spark, WindowTopK)(filesRead(topk(t, 3)))

    // dense_rank: a row-count accumulation cannot bound distinct ranks
    val slowDense = withoutRules(spark, WindowTopK)(rows(topk(t, 3, fn = "dense_rank")))
    assert(rows(topk(t, 3, fn = "dense_rank")) === slowDense)
    assert(filesRead(topk(t, 3, fn = "dense_rank")) === all)

    // a sibling aggregate window expr would see different inputs
    val w = Window.partitionBy(col("p")).orderBy(col("v"), col("k"))
    def withAvg() = SnapshotTable.read(spark, t)
      .withColumn("rn", row_number().over(w))
      .withColumn("ga", avg(col("v")).over(Window.partitionBy(col("p"))))
      .filter(col("rn") <= 3)
      .select(col("p"), col("rn"), col("k"), col("v"), col("ga"))
      .orderBy(col("p"), col("rn"))
    val slowAvg = withoutRules(spark, WindowTopK)(rows(withAvg()))
    assert(rows(withAvg()) === slowAvg)
    assert(filesRead(withAvg()) === all)

    // a filter under the window: the proof cannot count filtered rows
    def filtered() = {
      val base = SnapshotTable.read(spark, t).filter(col("k") % 2 === 0)
      base.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
        .select(col("p"), col("rn"), col("k"), col("v"))
        .orderBy(col("p"), col("rn"))
    }
    val slowF = withoutRules(spark, WindowTopK)(rows(filtered()))
    assert(rows(filtered()) === slowF)
    assert(filesRead(filtered()) === all)
  }

  test("fires from PLAIN SQL through the snapshot_table TVF — the " +
    "SQL-only user gets the same pruning") {
    val t = table()
    graft.sources.SnapshotSql.register(spark)
    def q() = spark.sql(
      s"""SELECT p, rn, k, v FROM (
         |  SELECT p, k, v, row_number() OVER (PARTITION BY p
         |    ORDER BY v, k) AS rn FROM snapshot_table('$t'))
         |WHERE rn <= 3 ORDER BY p, rn, k""".stripMargin)
    val (slowRows, slowFiles) =
      withoutRules(spark, WindowTopK) { val d = q(); (rows(d), filesRead(d)) }
    assert(rows(q()) === slowRows)
    assert(filesRead(q()) < slowFiles,
      "the TVF-resolved relation must prune like the Scala read")
  }

  test("over-cap group counts refuse (bounded predicate size)") {
    val t = table()
    withConf(spark, "spark.graft.snapshot.windowTopK.maxGroups" -> "2") {
      val all = withoutRules(spark, WindowTopK)(filesRead(topk(t, 3)))
      assert(filesRead(topk(t, 3)) === all, "5 groups > cap 2 must refuse")
    }
  }
}
