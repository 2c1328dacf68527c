package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftExtensions

/** Native TypedImperativeAggregate top-k: Column-API and SQL paths must
  * both match the window-function reference answer exactly.
  */
class TopKByExprSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("TopKByExprSpec")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }

  override def afterAll(): Unit = {
    if (spark != null) spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  private def referenceTopK(k: Int): Array[(Long, Long)] = {
    import org.apache.spark.sql.expressions.Window
    val ev = graft.Tables.events(spark, "/root/testdata/sf0.001")
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("value").desc, col("event_id"))
    ev.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select(col("event_type"), col("event_id"))
      .collect().map(r => (r.getString(0).hashCode.toLong, r.getLong(1)))
  }

  private def heap(k: Int, items: Seq[(Long, Double)]): TopKByExpr.Buffer = {
    val buf = new TopKByExpr.Buffer(k)
    items.foreach { case (id, score) => buf.push(id, score) }
    buf
  }

  test("heap semantics: top-k by score desc, ties broken id asc") {
    val items = Seq(
      (1L, 0.5), (2L, 0.9), (3L, 0.9), (4L, 0.1), (5L, 0.7), (6L, 0.7))
    assert(heap(3, items).ranked == Seq((2L, 0.9), (3L, 0.9), (5L, 0.7)))
  }

  test("merge of partial heaps equals global top-k") {
    val rng = new scala.util.Random(11)
    val items = Seq.fill(500)((rng.nextLong() & 0xFFFF, rng.nextDouble()))
    val (a, b) = items.splitAt(250)
    // b's heap crosses the shuffle in its wire form
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    heap(4, b).writeTo(out)
    out.flush()
    val merged = heap(4, a)
    merged.pushAll(TopKByExpr.Buffer.readFrom(
      new java.io.DataInputStream(new java.io.ByteArrayInputStream(bos.toByteArray)), 4))
    val expected = items.sortBy { case (id, s) => (-s, id) }.take(4)
    assert(merged.ranked == expected)
  }

  test("NaN ranks above every score, so the kept set is the same in any push order") {
    val items = Seq((1L, 0.5), (2L, Double.NaN), (3L, 0.9), (4L, Double.NaN), (5L, 0.7))
    val want = Seq((2L, "NaN"), (4L, "NaN"), (3L, "0.9"))
    items.permutations.foreach { p =>
      assert(heap(3, p).ranked.map { case (id, s) => (id, s.toString) } == want, s"pushed $p")
    }
  }

  test("fewer rows than k: returns all, sorted") {
    assert(heap(10, Seq((1L, 0.2), (2L, 0.8))).ranked == Seq((2L, 0.8), (1L, 0.2)))
  }

  test("Column API: per-group top-k equals the window reference") {
    val ev = graft.Tables.events(spark, "/root/testdata/sf0.001")
    val got = ev.groupBy(col("event_type"))
      .agg(TopKByExpr(col("event_id"), col("value"), 3).as("top"))
      .select(col("event_type"), explode(col("top.id")).as("event_id"))
      .collect().map(r => (r.getString(0).hashCode.toLong, r.getLong(1)))
    assert(got.sorted.toSeq == referenceTopK(3).sorted.toSeq)
  }

  test("SQL path: topk_by registered by the extension") {
    graft.Tables.events(spark, "/root/testdata/sf0.001")
      .createOrReplaceTempView("ev")
    val rows = spark.sql(
      """SELECT event_type, topk_by(event_id, value, 2) AS top
        | FROM ev GROUP BY event_type ORDER BY event_type""".stripMargin)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val top = r.getSeq[org.apache.spark.sql.Row](1)
      assert(top.length == 2)
      assert(top(0).getDouble(1) >= top(1).getDouble(1))
    }
  }

  test("partial aggregation: shuffle carries k-sized buffers (plan check)") {
    val ev = graft.Tables.events(spark, "/root/testdata/sf0.001")
    val plan = ev.groupBy(col("event_type"))
      .agg(TopKByExpr(col("event_id"), col("value"), 5).as("top"))
      .queryExecution.executedPlan.toString
    // ObjectHashAggregate with partial_topkbyexpr before the exchange
    assert(plan.contains("ObjectHashAggregate") || plan.contains("SortAggregate"), plan)
    assert(plan.toLowerCase.contains("partial_topkbyexpr"), plan)
  }
}
