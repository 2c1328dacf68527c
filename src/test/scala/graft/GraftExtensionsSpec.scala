package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The extension-registered SQL function must work from a plain
  * `spark.sql` string — the surface a SQL-only user of the engine sees.
  *
  * Extensions only apply at session construction, so this suite manages
  * its own session (getOrCreate would silently reuse a previous suite's
  * extension-less session).
  */
class GraftExtensionsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    spark = SparkSession.builder()
      .master("local[2]")
      .appName("GraftExtensionsSpec")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }

  override def afterAll(): Unit = {
    if (spark != null) spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  test("sample_k / topk_by reject a non-bigint id at ANALYSIS time " +
    "(not as a mid-job ClassCastException)") {
    spark.range(10)
      .selectExpr("CAST(id AS INT) AS i", "CAST(id AS DOUBLE) AS s")
      .createOrReplaceTempView("tc_t")
    val e1 = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT sample_k(i, 42, 3) FROM tc_t").collect()
    }
    assert(e1.getMessage.contains("BIGINT"), e1.getMessage)
    val e2 = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT topk_by(i, s, 3) FROM tc_t").collect()
    }
    assert(e2.getMessage.contains("BIGINT"), e2.getMessage)
    // and a non-literal k fails analysis too
    val e3 = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT sample_k(CAST(i AS BIGINT), 42, i) FROM tc_t").collect()
    }
    assert(e3.getMessage.contains("literal"), e3.getMessage)
  }

  test("cosine_similarity is callable from SQL") {
    val r = spark.sql(
      """SELECT cosine_similarity(
        |  CAST(array(1.0, 2.0, 3.0) AS array<float>),
        |  CAST(array(3.0, 2.0, 1.0) AS array<float>)) AS c""".stripMargin)
      .head().getDouble(0)
    // (3+4+3)/sqrt(14)/sqrt(14) = 10/14
    assert(math.abs(r - 10.0 / 14.0) < 1e-12)
  }

  test("SQL path matches the Column API path on corpus data") {
    val dir = "/root/testdata/sf0.001"
    spark.read.parquet(s"$dir/embeddings.parquet").createOrReplaceTempView("emb")
    val viaSql = spark.sql(
      """SELECT e.vec_id,
        |  round(cosine_similarity(e.embedding, q.embedding), 6) AS sim
        | FROM emb e, (SELECT embedding FROM emb WHERE vec_id = 0) q
        | WHERE e.vec_id <> 0
        | ORDER BY sim DESC, vec_id LIMIT 5""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val viaApi = graft.search.VectorSearch.knnBrute(spark, dir)
      .limit(5).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(viaSql == viaApi)
  }

  test("sample_k: deterministic across partitionings, matches brute-force " +
    "bottom-k, callable from SQL") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$dir/documents.parquet")

    def run(df: org.apache.spark.sql.DataFrame): Seq[(String, Long, String)] =
      df.groupBy(col("lang"))
        .agg(graft.functions.SampleKExpr(col("doc_id"), 42L, 5).as("s"))
        .select(col("lang"), explode(col("s")).as("e"))
        .select(col("lang"), col("e.id"), col("e.pri"))
        .orderBy("lang", "pri")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq

    val base = run(docs)
    assert(base.nonEmpty)
    // membership is a pure function of (seed, id): any partitioning agrees
    assert(run(docs.repartition(1)) == base)
    assert(run(docs.repartition(13)) == base)
    assert(run(docs.repartition(4, col("doc_id"))) == base)
    assert(run(docs.orderBy(col("doc_id").desc)) == base)

    // brute force: k smallest (md5("42:"+id), id) per lang
    val all = docs.select("lang", "doc_id").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val expected = all.groupBy(_._1).toSeq.flatMap { case (lang, rows) =>
      rows.map { case (_, id) => (lang, id, graft.functions.SampleKExpr.priority(42L, id)) }
        .sortBy(t => (t._3, t._2)).take(5)
    }.sortBy(t => (t._1, t._3))
    assert(base == expected)

    // SQL-registered form agrees with the Column API form
    docs.createOrReplaceTempView("docs_sk")
    val viaSql = spark.sql(
      """SELECT lang, e.id, e.pri
        |FROM (SELECT lang, sample_k(doc_id, 42, 5) AS s FROM docs_sk GROUP BY lang)
        |LATERAL VIEW explode(s) AS e
        |ORDER BY lang, e.pri""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq
    assert(viaSql == base)

    // a different seed draws a different (but equally deterministic) sample
    val reseeded = docs.groupBy(col("lang"))
      .agg(graft.functions.SampleKExpr(col("doc_id"), 7L, 5).as("s"))
      .select(col("lang"), explode(col("s")).as("e"))
      .select(col("lang"), col("e.id"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(reseeded.toSet != base.map(t => (t._1, t._2)).toSet)
  }

  test("dedup kernels register as SQL functions and agree with the " +
    "operator API") {
    graft.functions.GraftFunctions.register(spark)
    val row = spark.sql(
      """SELECT minhash_sig('the quick brown fox jumps over the lazy dog') AS sig,
        |  simhash64('the quick brown fox') AS fp,
        |  sig_agreement(minhash_sig('a b c d e f g'), minhash_sig('a b c d e f g')) AS self,
        |  sig_agreement(minhash_sig('a b c d e f g'), minhash_sig('x y z w v u t')) AS other
        |""".stripMargin).head()
    assert(row.getSeq[Long](0) ==
      graft.operators.MinHashDedup
        .signatureOf("the quick brown fox jumps over the lazy dog").toSeq)
    assert(row.getLong(1) ==
      graft.operators.SimHash.fingerprintOf(Seq("the", "quick", "brown", "fox")))
    assert(row.getDouble(2) == 1.0)
    assert(row.getDouble(3) < 0.3)
  }

  test("extension-injected RankTopK fires from plain SQL: ORDER BY " +
    "LIMIT over a rank-ANALYZEd snapshot_table gains the threshold " +
    "prefilter and returns the exact top-k") {
    import org.apache.spark.sql.functions._
    val t = graft.Staged.scratch(spark, "ext_topk") + "/t"
    graft.sources.SnapshotTable.create(spark, t,
      spark.range(0, 2000).select(col("id").as("k"),
        ((col("id") * 733L) % 2000L).cast("double").as("v"),
        lit("all").as("p")),
      "p", statsCols = Seq("v"))
    graft.sources.RankStats.analyze(spark, t, Seq("v"), m = 64)
    val df = spark.sql(
      s"""SELECT k, v FROM snapshot_table('$t')
         |ORDER BY v, k LIMIT 10""".stripMargin)
    val got = df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val expect = (0L until 2000L).map(k => (k, (k * 733L % 2000L).toDouble))
      .sortBy(t2 => (t2._2, t2._1)).take(10)
    assert(got === expect)
    assert(df.queryExecution.optimizedPlan.toString.contains("v#"),
      "sanity: plan mentions the sort column")
    assert(df.queryExecution.optimizedPlan.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f
    }.nonEmpty, "the injected threshold Filter must be in the plan")
  }

  test("extension-injected metadata SUM fold fires from plain SQL: " +
    "sum/avg over an analyzed snapshot_table plans a LocalRelation " +
    "and the TVF pipeline (analyze_sums -> sums) closes the loop") {
    import org.apache.spark.sql.functions._
    val t = graft.Staged.scratch(spark, "ext_sums") + "/t"
    graft.sources.SnapshotTable.create(spark, t,
      spark.range(1, 1001).select(col("id").as("k"),
        (col("id") * 3L).as("w"), lit("all").as("p")),
      "p", statsCols = Seq("k", "w"))
    // the whole flow through SQL: analyze procedure, then a plain
    // aggregate over the TVF relation folds to metadata
    val a = spark.sql(
      s"SELECT * FROM snapshot_analyze_sums('$t', 'k', 'w')").head()
    assert(a.getLong(1) === 2L)
    val df = spark.sql(
      s"""SELECT count(*) AS n, sum(k) AS sk, sum(w) AS sw,
         |  avg(k) AS ak FROM snapshot_table('$t')""".stripMargin)
    val r = df.head()
    assert(r.getLong(0) === 1000L)
    assert(r.getLong(1) === 500500L)
    assert(r.getLong(2) === 1501500L)
    assert(r.getDouble(3) === 500.5)
    assert(df.queryExecution.optimizedPlan.collectFirst {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => l
    }.nonEmpty, "the aggregate must fold to a LocalRelation: " +
      df.queryExecution.optimizedPlan.toString)
    assert(spark.sql(s"SELECT sum_value FROM snapshot_sums('$t', 'k')")
      .head().getLong(0) === 500500L)
  }

  test("extension-injected JoinOrder fires from plain SQL with no " +
    "opt-in: a fact-first 3-way join reorders to the filtered selective " +
    "dim first; with the rule excluded it plans as written, same rows") {
    import org.apache.spark.sql.functions._
    val root = graft.Staged.scratch(spark, "ext_joinorder")
    val (f, a, b) = (s"$root/fact", s"$root/dima", s"$root/dimb")
    graft.sources.SnapshotTable.create(spark, f,
      spark.range(0, 8000).select(col("id").as("k"),
        (col("id") % 800).as("a_id"), (col("id") % 40).as("b_id"),
        lit("all").as("p")), "p")
    graft.sources.SnapshotTable.create(spark, a,
      spark.range(0, 800).select(col("id").as("a_key"),
        (col("id") % 7).as("a_val"), lit("all").as("p")), "p")
    graft.sources.SnapshotTable.create(spark, b,
      spark.range(0, 40).select(col("id").as("b_key"),
        (col("id") % 9).as("b_val"),
        (col("id") % 5).cast("string").as("p")), "p")
    graft.sources.TableStats.analyze(spark, f, Seq("a_id", "b_id"), k = 4096)
    graft.sources.TableStats.analyze(spark, a, Seq("a_key"), k = 4096)
    graft.sources.TableStats.analyze(spark, b, Seq("b_key"), k = 4096)
    def q() = spark.sql(
      s"""SELECT b_val, count(*) AS n FROM snapshot_table('$f') f
         |JOIN snapshot_table('$a') a ON f.a_id = a.a_key
         |JOIN snapshot_table('$b') b ON f.b_id = b.b_key
         |WHERE b.p = '3'
         |GROUP BY b_val ORDER BY b_val""".stripMargin)
    def order(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.optimizedPlan.collect {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          l.relation match {
            case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              fs.location match {
                case i: graft.sources.SnapshotFileIndex => i.tablePath
                case _ => ""
              }
            case _ => ""
          }
      }.filter(_.nonEmpty)
    val (offOrder, offRows) = graft.SparkSpec.withoutRules(spark,
        graft.plans.JoinOrder) {
      val off = q()
      (order(off), off.collect().map(_.toString).toSeq)
    }
    assert(offOrder === Seq(f, a, b), "written order with the rule excluded")
    val on = q()
    assert(order(on) === Seq(f, b, a),
      s"the filtered selective dim must join first: ${order(on)}\n" +
        on.queryExecution.optimizedPlan.treeString)
    assert(on.collect().map(_.toString).toSeq === offRows,
      "reorder must never change results")
  }

  test("the extension injects graft.plans.Rules.all, in order") {
    assert(org.apache.spark.sql.GraftSessionBridge
      .extensionOptimizerRules(spark) === graft.plans.Rules.all)
  }

  test("a funnel in an extension-built session adds no rule a second " +
    "time, and excluding a rule by name switches it off") {
    import org.apache.spark.sql.functions._
    val t = graft.Staged.scratch(spark, "ext_funnel") + "/t"
    graft.sources.SnapshotTable.create(spark, t,
      spark.range(0, 500).select(col("id").as("k"), lit("all").as("p")),
      "p", statsCols = Seq("k"))
    def q() = graft.sources.SnapshotTable.read(spark, t)
      .agg(count(lit(1)).as("n"), max(col("k")).as("hi"))
    graft.Tables.orders(spark, "/root/testdata/sf0.001")
    graft.SessionTune.install(spark)
    val running = org.apache.spark.sql.GraftSessionBridge
      .extensionOptimizerRules(spark) ++ spark.experimental.extraOptimizations
    graft.plans.Rules.all.foreach { r =>
      assert(running.count(_ eq r) === 1, s"${r.ruleName} runs once")
    }
    def folded(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.optimizedPlan.collectFirst {
        case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => l
      }.nonEmpty
    assert(folded(q()))
    val off = graft.SparkSpec.withoutRules(spark,
        graft.plans.MetadataAggPushdown) {
      assert(!folded(q()), "the excluded injected rule must not fire")
      q().head()
    }
    assert(off === q().head())
  }
}
