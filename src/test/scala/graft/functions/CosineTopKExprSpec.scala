package graft.functions

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.util.Pretty

import graft.SparkSpec
import graft.search.VectorSearch

/** Differential spec of the batched cosine top-k kernel behind
  * `VectorSearch.batchKnn`: on generated corpora and query batches it
  * must give the bits of the per-pair plan — every (row, query) pair
  * scored by `round(cosine, 6)` and ranked per query_id by
  * [[TopKByExpr]] — which is kept here as the reference.
  */
class CosineTopKExprSpec extends SparkSpec {

  private def reference(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame =
    corpus.crossJoin(broadcast(queries))
      .select(col("query_id"), col("vec_id"),
        round(CosineSimilarityExpr(col("embedding"), col("q_emb")), 6).as("sim"))
      .groupBy(col("query_id"))
      .agg(TopKByExpr(col("vec_id"), col("sim"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), (col("pos") + 1).cast("int").as("rank"),
        col("col.id").as("vec_id"), col("col.score").as("sim"))
      .orderBy(col("query_id"), col("rank"))

  private val corpusSchema = StructType(Seq(
    StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType))))
  private val querySchema = StructType(Seq(
    StructField("query_id", LongType), StructField("q_emb", ArrayType(FloatType))))

  /** A frame of exactly `parts` partitions, rows in order within each. */
  private def frame(rows: Seq[Row], schema: StructType, parts: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, parts), schema)

  private type Hit = (Option[Long], Int, Long, Long)

  private def bits(df: DataFrame): Seq[Hit] = df.collect().toSeq.map { r =>
    (Option(r.get(0)).map(_.asInstanceOf[Long]), r.getInt(1), r.getLong(2),
      java.lang.Double.doubleToLongBits(r.getDouble(3)))
  }

  private def vec(xs: Float*): Seq[Float] = xs

  // ---- generators ----

  /** Small-integer components, so duplicate and scaled vectors tie at 6 dp. */
  private def baseVec(d: Int): Gen[Seq[Float]] =
    Gen.listOfN(d, Gen.choose(-3, 3).map(_.toFloat))

  private final case class Case(rows: Seq[(Option[Long], Option[Seq[Float]])],
                                queries: Seq[(Long, Seq[Float])],
                                k: Int, corpusParts: Int) {
    val dims: Set[Int] = (rows.flatMap(_._2) ++ queries.map(_._2)).map(_.length).toSet
    def features: Set[String] = Set(
      if (rows.isEmpty) Some("empty corpus") else None,
      if (queries.isEmpty) Some("empty batch") else None,
      if (rows.exists(_._1.isEmpty)) Some("null id") else None,
      if (rows.exists(_._2.isEmpty)) Some("null embedding") else None,
      if ((rows.flatMap(_._2) ++ queries.map(_._2)).exists(_.forall(_ == 0f)))
        Some("zero vector") else None,
      if (rows.count(r => r._1.isDefined && r._2.isDefined) < k) Some("k > corpus") else None,
      if (queries.map(_._1).distinct.size < queries.size) Some("repeated query_id") else None,
      if (dims.size > 1) Some("mismatched dims") else None,
      if (corpusParts > 1 && rows.size > 1) Some("several partitions") else None,
      if (rows.flatMap(_._2).distinct.size < rows.count(_._2.isDefined)) Some("duplicates") else None
    ).flatten
  }

  private val genCase: Gen[Case] = for {
    d <- Gen.choose(2, 5)
    pool <- Gen.listOfN(3, baseVec(d))
    vector = Gen.frequency(
      5 -> Gen.oneOf(pool),                                          // duplicate
      3 -> Gen.zip(Gen.oneOf(pool), Gen.oneOf(0.5f, 2f, 3f, 7f))     // scaled
        .map { case (v, s) => v.map(_ * s) },
      2 -> baseVec(d),
      1 -> Gen.const(Seq.fill(d)(0f)),                               // zero
      1 -> Gen.oneOf(d - 1, d + 1).flatMap(baseVec),                 // other length
      1 -> Gen.listOfN(d, Gen.choose(-1f, 1f)))
    n <- Gen.frequency(1 -> Gen.const(0), 9 -> Gen.choose(1, 24))
    ids <- Gen.listOfN(n, Gen.frequency(9 -> Gen.choose(0L, 40L).map(Some(_)), 1 -> Gen.const(None)))
    embs <- Gen.listOfN(n, Gen.frequency(9 -> vector.map(Some(_)), 1 -> Gen.const(None)))
    nq <- Gen.frequency(1 -> Gen.const(0), 9 -> Gen.choose(1, 7))
    qids <- Gen.listOfN(nq, Gen.choose(0L, 4L))
    qvecs <- Gen.listOfN(nq, vector)
    k <- Gen.choose(1, 6)
    parts <- Gen.choose(1, 4)
  } yield Case(ids.zip(embs), qids.zip(qvecs), k, parts)

  test("batchKnn equals the per-pair plan bit for bit on generated corpora") {
    val seen = mutable.Set[String]()
    val prop = Prop.forAll(genCase) { c =>
      seen ++= c.features
      val corpus = frame(c.rows.map { case (id, e) => Row(id.orNull, e.orNull) },
        corpusSchema, c.corpusParts)
      val queries = spark.createDataFrame(
        java.util.Arrays.asList(c.queries.map { case (q, e) => Row(q, e) }: _*), querySchema)
      val got = VectorSearch.batchKnn(corpus, queries, c.k)
      val want = reference(corpus, queries, c.k)
      Prop(got.schema == want.schema && bits(got) == bits(want)) :|
        s"schema ${got.schema.simpleString} vs ${want.schema.simpleString}\n" +
        s"got  ${bits(got)}\nwant ${bits(want)}"
    }
    val res = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(120).withInitialSeed(20261018L), prop)
    assert(res.passed, Pretty.pretty(res, Pretty.Params(2)))
    val required = Set("empty corpus", "empty batch", "null id", "null embedding",
      "zero vector", "k > corpus", "repeated query_id", "mismatched dims",
      "several partitions", "duplicates")
    assert(required.subsetOf(seen), s"generator never produced: ${required -- seen}")
  }

  test("a raw score just below the heap minimum that rounds into a tie still enters") {
    // q = (1, 0) and e = (1, y) score 1 / sqrt(1 + y²): step y down float
    // by float to find rows whose raw scores straddle 0.5000010
    def raw(y: Float): Double = {
      var na = 0.0; var nb = 0.0; var dot = 0.0
      for ((a, b) <- Seq((1.0, 1.0), (y.toDouble, 0.0))) { dot += a * b; na += a * a; nb += b * b }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    def round6(x: Double) =
      java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    val ys = Iterator.iterate(1.7320508f)(y => Math.nextDown(y)).take(200).toSeq
    val yA = ys.find(y => raw(y) > 0.5000011 && raw(y) < 0.5000014).get
    val yB = ys.find(y => raw(y) > 0.5000006 && raw(y) < 0.5000008).get
    assert(round6(raw(yA)) == 0.500001 && round6(raw(yB)) == 0.500001)
    assert(raw(yB) < round6(raw(yA)), "B's raw score must sit below the heap minimum")

    // one partition, k = 1: A (id 2) fills the heap first, then B (id 1)
    // ties it after rounding and wins on the smaller id
    val corpus = frame(Seq(Row(2L, vec(1f, yA)), Row(1L, vec(1f, yB))), corpusSchema, 1)
    val queries = frame(Seq(Row(7L, vec(1f, 0f))), querySchema, 1)
    val got = bits(VectorSearch.batchKnn(corpus, queries, 1))
    assert(got == Seq((Some(7L), 1, 1L, java.lang.Double.doubleToLongBits(0.500001))))
    assert(got == bits(reference(corpus, queries, 1)))
  }

  test("empty corpus and empty batch give no rows and the reference schema") {
    val corpus = frame(Seq(Row(1L, vec(1f, 2f))), corpusSchema, 1)
    val queries = frame(Seq(Row(0L, vec(2f, 1f))), querySchema, 1)
    val noRows = frame(Nil, corpusSchema, 1)
    val noQueries = frame(Nil, querySchema, 1)
    for ((c, q) <- Seq((noRows, queries), (corpus, noQueries), (noRows, noQueries))) {
      val got = VectorSearch.batchKnn(c, q, 3)
      assert(got.collect().isEmpty)
      assert(got.schema == reference(c, q, 3).schema)
    }
  }
}
