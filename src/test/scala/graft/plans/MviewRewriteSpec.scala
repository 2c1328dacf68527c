package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.SparkSpec.withoutRules
import graft.sources.{MaterializedView, SnapshotFileIndex, SnapshotTable}

/** Plan-level proof that [[MviewRewrite]] substitutes the registered
  * summary exactly when it may — and never when it may not. The driver
  * queries (`q_mview_*`) pin VALUES against the DuckDB oracle; this
  * spec pins which files the plan reads and the refusal cases.
  */
class MviewRewriteSpec extends SparkSpec {

  private lazy val init: (String, MaterializedView.MvDef) = {
    val src = graft.Staged.scratch(spark, "graft_mvr_src") + "/t"
    val df = spark.range(0, 1000).select(
      (col("id") % 7).as("k"),
      when(col("id") % 13 =!= 0, col("id").cast("double"))
        .as("v"), // every 13th row NULL — count(v) ≠ count(*)
      (col("id") % 3).as("p"))
    SnapshotTable.create(spark, src, df, partCol = "p")
    val view = graft.Staged.scratch(spark, "graft_mvr_view") + "/t"
    val d = MaterializedView.create(spark, view, src, "k", "v", buckets = 2)
    (src, d)
  }

  /** Snapshot table paths the optimized plan scans. */
  private def scanned(df: DataFrame): Set[String] =
    df.queryExecution.optimizedPlan.collect {
      case l: LogicalRelation => l.relation match {
        case fs: HadoopFsRelation => fs.location match {
          case idx: SnapshotFileIndex => Some(idx.tablePath)
          case _ => None
        }
        case _ => None
      }
    }.flatten.toSet

  private def agg(src: String): DataFrame =
    SnapshotTable.read(spark, src)
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n"), count(col("v")).as("nv"),
        sum(col("v")).as("s"), min(col("v")).as("lo"),
        max(col("v")).as("hi"), avg(col("v")).as("m"))
      .orderBy(col("k"))

  test("grouped aggregate is answered from the view, values unchanged") {
    val (src, d) = init
    val q = agg(src)
    assert(scanned(q) == Set(d.view),
      "rewritten plan must scan ONLY the view")
    val direct = withoutRules(spark, MviewRewrite) {
      val p = agg(src)
      assert(scanned(p) == Set(src), "flag off must scan the source")
      p.collect().toSeq
    }
    assert(q.collect().toSeq == direct,
      "rewritten ≡ scanned for count/count(v)/sum/min/max/avg with NULLs")
  }

  test("key filter transfers; value filter refuses") {
    val (src, d) = init
    val keyed = SnapshotTable.read(spark, src).filter(col("k") < 3)
      .groupBy(col("k")).agg(sum(col("v")).as("s")).orderBy(col("k"))
    assert(scanned(keyed) == Set(d.view))
    assert(keyed.collect().toSeq ==
      withoutRules(spark, MviewRewrite)(keyed.collect().toSeq))

    val valued = SnapshotTable.read(spark, src).filter(col("v") > 10)
      .groupBy(col("k")).agg(sum(col("v")).as("s"))
    assert(scanned(valued) == Set(src),
      "a value predicate cannot be answered from the summary")
  }

  test("global aggregate rewrites") {
    val (src, d) = init
    val g = SnapshotTable.read(spark, src)
      .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
    assert(scanned(g) == Set(d.view))
    assert(g.collect().toSeq == withoutRules(spark, MviewRewrite)(g.collect().toSeq))
  }

  test("distinct and unsupported aggregates refuse") {
    val (src, _) = init
    val q = SnapshotTable.read(spark, src)
      .groupBy(col("k")).agg(countDistinct(col("v")).as("nd"))
    assert(scanned(q) == Set(src))
  }

  test("stale view refuses until refreshed; time travel always refuses") {
    val (src, d) = init
    val extra = spark.range(5000, 5010).select(
      (col("id") % 7).as("k"), col("id").cast("double").as("v"),
      (col("id") % 3).as("p"))
    SnapshotTable.commitAppend(spark, src, extra, "p")
    val q = agg(src)
    assert(scanned(q) == Set(src),
      "scan of a version the view has not applied must NOT rewrite")
    MaterializedView.refresh(spark, d)
    val q2 = agg(src)
    assert(scanned(q2) == Set(d.view), "refresh restores the rewrite")
    assert(q2.collect().toSeq == withoutRules(spark, MviewRewrite)(q2.collect().toSeq))

    val old = SnapshotTable.readVersion(spark, src, 1L)
      .groupBy(col("k")).agg(sum(col("v")).as("s"))
    assert(scanned(old) == Set(src),
      "a time-traveled scan reads a different file set — no rewrite")
  }

  private lazy val joinInit: (String, String, String) = {
    val root = java.nio.file.Paths.get(graft.Staged.scratch(spark, "graft_mvr_join"))
    val fact = root.resolve("fact").toString
    val dim = root.resolve("dim").toString
    SnapshotTable.create(spark, fact,
      spark.range(0, 500).select(col("id").as("fk"),
        (col("id") % 40).as("cust"),
        (col("id") * 7 % 1000).cast("double").as("amount"),
        (col("id") % 3).as("p")), partCol = "p")
    SnapshotTable.create(spark, dim,
      spark.range(0, 40).select(col("id").as("ck"),
        concat(lit("seg"), (col("id") % 5).cast("string")).as("seg"),
        lit(0L).as("p")), partCol = "p")
    val view = root.resolve("view").toString
    graft.sources.IncrementalView.createJoin(spark, view, fact, dim,
      "cust", "ck", "seg", "amount")
    MaterializedView.registerJoin(MaterializedView.JoinMvDef(
      view, fact, dim, "cust", "ck", "seg", "amount"))
    (fact, dim, view)
  }

  private def joinAgg(fact: String, dim: String): DataFrame = {
    val f = SnapshotTable.read(spark, fact)
    val d = SnapshotTable.read(spark, dim)
    f.join(d, f("cust") === d("ck"))
      .groupBy(col("seg"))
      .agg(count(lit(1)).as("n"),
        sum(col("amount").cast("decimal(18,2)")).cast("double").as("total"))
      .orderBy(col("seg"))
  }

  test("join aggregate is answered from the join view, values unchanged") {
    val (fact, dim, view) = joinInit
    val q = joinAgg(fact, dim)
    assert(scanned(q) == Set(view),
      "rewritten plan must scan ONLY the join view — neither source")
    assert(q.collect().toSeq == withoutRules(spark, MviewRewrite) {
      val p = joinAgg(fact, dim)
      assert(scanned(p) == Set(fact, dim))
      p.collect().toSeq
    })
  }

  test("join rewrite: group filter transfers, fact filter refuses, stale pair refuses until refreshJoin") {
    val (fact, dim, view) = joinInit
    val f = SnapshotTable.read(spark, fact)
    val d = SnapshotTable.read(spark, dim)
    val filtered = f.join(d, f("cust") === d("ck"))
      .filter(col("seg") === "seg2")
      .groupBy(col("seg")).agg(count(lit(1)).as("n")).orderBy(col("seg"))
    assert(scanned(filtered) == Set(view))
    assert(filtered.collect().toSeq ==
      withoutRules(spark, MviewRewrite)(filtered.collect().toSeq))

    val factFiltered = f.filter(col("amount") > 100)
      .join(d, f("cust") === d("ck"))
      .groupBy(col("seg")).agg(count(lit(1)).as("n"))
    assert(scanned(factFiltered) == Set(fact, dim),
      "a fact-side predicate cannot be answered from the view")

    SnapshotTable.commitAppend(spark, fact,
      spark.range(500, 520).select(col("id").as("fk"),
        (col("id") % 40).as("cust"),
        lit(50.0).as("amount"), (col("id") % 3).as("p")), "p")
    val stale = joinAgg(fact, dim)
    assert(scanned(stale) == Set(fact, dim),
      "a fact commit the view has not applied must refuse")
    graft.sources.IncrementalView.refreshJoin(spark, view, fact, dim,
      "cust", "ck", "seg", "amount")
    val freshQ = joinAgg(fact, dim)
    assert(scanned(freshQ) == Set(view), "refreshJoin restores the rewrite")
    assert(freshQ.collect().toSeq ==
      withoutRules(spark, MviewRewrite)(freshQ.collect().toSeq))
  }

  test("refresh purges vanished groups and the rewrite stays exact") {
    val (srcBase, _) = init
    // isolated copy: deletes on the shared fixture would break others
    val src = SnapshotTable.cloneTable(spark, srcBase)
    val view = graft.Staged.scratch(spark, "graft_mvr_view2") + "/t"
    val d = MaterializedView.create(spark, view, src, "k", "v", buckets = 2)
    SnapshotTable.commitDelete(spark, src, col("k") === 2L, "p")
    MaterializedView.refresh(spark, d)
    val q = agg(src)
    assert(scanned(q) == Set(d.view))
    val ks = q.select("k").collect().map(_.getLong(0)).toSet
    assert(!ks.contains(2L), "vanished group must not resurface")
    assert(q.collect().toSeq == withoutRules(spark, MviewRewrite)(q.collect().toSeq))
  }
}
