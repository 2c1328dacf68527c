package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.stats.TransplantStats

class CheckSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = {
    val s = Main.session(Paths.get("target", "bench-test"))
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  override def afterAll(): Unit = spark.stop()

  private val rnd = new scala.util.Random(7)
  private val vectors = Array.fill(300)(Array.fill(16)(rnd.nextGaussian().toFloat))
  private val oracle = new Oracle(vectors, vectors.indices.map(i => f"$i%05d").toArray)
  private val query = Array.fill(16)(rnd.nextGaussian().toFloat)

  test("the brute-force top-k agrees with itself and with a full sort") {
    val top = oracle.topK(query, 10, round6 = false)
    val qn = math.sqrt(query.map(x => x.toDouble * x).sum)
    val sorted = vectors.indices.map(r => Hit(oracle.keys(r), oracle.cosine(r, query, qn)))
      .sortBy(h => (-h.sim, h.key)).take(10)
    assert(top == sorted)
    assert(Check.topK(top, sorted).isEmpty)
  }

  test("a corrupted top-k fails the check") {
    val top = oracle.topK(query, 10, round6 = true)
    val swapped = top.updated(0, top(1)).updated(1, top(0))
    assert(Check.topK(top, swapped).nonEmpty)
    val dropped = top.init :+ Hit("99999", top.last.sim)
    assert(Check.topK(top, dropped).nonEmpty)
    val shifted = top.updated(3, top(3).copy(sim = top(3).sim + 2e-6))
    assert(Check.topK(top, shifted).nonEmpty)
    assert(Check.topK(top, top.take(9)).nonEmpty)
  }

  test("round6 matches Spark's round(x, 6)") {
    val xs = Seq(0.1234565, -0.7777775, 0.9999995, 0.5, 1.0 / 3, -2.0 / 3) ++
      Seq.fill(50)(rnd.nextDouble() * 2 - 1)
    val spark6 = spark.range(1).select(xs.map(x => round(lit(x), 6)): _*).head()
    xs.indices.foreach(i => assert(Check.round6(xs(i)) == spark6.getDouble(i), s"x = ${xs(i)}"))
  }

  private def hitsFrame = {
    import spark.implicits._
    Seq(
      (true, true, 120.0, 0), (true, false, 30.0, 0), (false, false, 0.0, 1),
      (false, false, 0.0, 3), (false, false, 0.0, 0))
      .toDF("received_transplant", "transplant_success", "days_to_transplant", "waitlist_status")
  }

  test("the engine's statistics row passes; a wrong one fails") {
    val hits = hitsFrame.collect().toSeq
    val stats = TransplantStats.statisticsBlock(hitsFrame).head()
    assert(Check.statsRow(hits, stats).isEmpty)
    val wrong = new GenericRowWithSchema(
      stats.toSeq.updated(stats.fieldIndex("transplanted_count"), 3L).toArray, stats.schema)
    assert(Check.statsRow(hits, wrong).exists(_.contains("transplanted_count")))
    assert(Check.statsRow(hits.drop(1), stats).nonEmpty)
  }

  test("totalSearched must be the sum over shards of min(k, shard size)") {
    val sizes = Map("A" -> 3L, "B" -> 40L, "C" -> 60L)
    assert(Check.totalSearched(sizes, 5, 13).isEmpty)
    assert(Check.totalSearched(sizes, 5, 15).nonEmpty)
  }

  test("a wrong hash fails") {
    val a = Seq(Row(1, "x", 0.5), Row(2, "y", 0.25))
    assert(Check.sameHash("q", Check.hash(a), Check.hash(a)).isEmpty)
    assert(Check.sameHash("q", Check.hash(a), Check.hash(a.reverse)).nonEmpty)
    assert(Check.sameHash("q", Check.hash(a), Check.hash(a.updated(1, Row(2, "y", 0.250001)))).nonEmpty)
  }

  /** Metric names and units declared in BENCHMARK.json, one list per key. */
  private def declared(key: String): Seq[(String, String)] = {
    val json = new String(Files.readAllBytes(Paths.get("..", "BENCHMARK.json")), "UTF-8")
    val section = json.substring(json.indexOf("\"" + key + "\""))
    val body = section.substring(section.indexOf('['), section.indexOf(']') + 1)
    "\"name\":\\s*\"([^\"]+)\",\\s*\"unit\":\\s*\"([^\"]+)\"".r
      .findAllMatchIn(body).map(m => m.group(1) -> m.group(2)).toSeq
  }

  for (workload <- Main.workloads; trace <- Seq(false, true)) {
    test(s"a tiny $workload run (trace=$trace) is correct and emits every declared metric") {
      val o = Opts(workload, seed = 5, seconds = 0.1, trace = trace, scale = 100,
        workDir = Paths.get("target", "bench-test"))
      val out = new Bench(spark, o, sessionS = 0.5).run()
      assert(out.correct && out.failed == 0 && out.attempted >= 3)
      val want = declared(if (trace) "per_layer" else "end_to_end")
      assert(want.nonEmpty)
      assert(out.metrics.map(m => m.name -> m.unit) == want)
      assert(out.metrics.forall(m => !m.value.isNaN && !m.value.isInfinite), out.metrics)
    }
  }
}
