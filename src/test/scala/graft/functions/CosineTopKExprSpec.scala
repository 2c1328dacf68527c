package graft.functions

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.util.Pretty

import graft.SparkSpec
import graft.search.VectorSearch
import graft.tools.ListenerDrain

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

  /** Runs `body` and returns what its stages added to the kernel's
    * skipped-pairs accumulator; [[ListenerDrain]] waits (bounded) until
    * the listener has seen every stage of `body`. */
  private def skippedDuring[T](body: => T): (T, Long) = {
    val sc = spark.sparkContext
    val skipped = new AtomicLong
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        e.stageInfo.accumulables.values.foreach { a =>
          if (a.name.contains(CosineTopKExpr.skippedPairsAcc))
            a.value.foreach(v => skipped.addAndGet(v.toString.toLong))
        }
    }
    sc.addSparkListener(listener)
    try {
      val result = body
      ListenerDrain(sc)
      (result, skipped.get)
    } finally sc.removeSparkListener(listener)
  }

  // ---- the kernel's arithmetic, for the generator and its features ----

  /** `round(cosine, 6)` as both plans compute it: sums left to right over
    * the common prefix, 0 for a zero denominator. */
  private def score(e: Seq[Float], q: Seq[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    for (i <- 0 until math.min(e.length, q.length)) {
      val x = e(i).toDouble; val y = q(i).toDouble
      dot += x * y; na += x * x; nb += y * y
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    round6(if (denom == 0.0) 0.0 else dot / denom)
  }

  private def round6(x: Double): Double =
    if (x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Heap order of both plans: score desc (NaN first), ties id asc. */
  private def above(a: (Double, Long), b: (Double, Long)): Boolean =
    if (a._1.isNaN || b._1.isNaN) a._1.isNaN && (!b._1.isNaN || a._2 < b._2)
    else a._1 > b._1 || (a._1 == b._1 && a._2 < b._2)

  /** `b` with one element of its first half moved just far enough that
    * its score against `q` is one 6-dp step lower, if float steps get
    * there. Moving the first half keeps a copy of `q` parallel to it over
    * the second half, where the kernel's bound is tight. */
  private def stepBelow(b: Seq[Float], q: Seq[Float]): Option[Seq[Float]] = {
    val m = math.min(b.length, q.length)
    val c = score(b, q)
    if (m == 0 || c.isNaN) None
    else {
      val i = (0 until math.max(1, m / 2)).maxBy(j => math.abs(q(j)))
      def moved(delta: Double) = b.updated(i, (b(i) + delta).toFloat)
      def below(delta: Double) = score(moved(delta), q) < c
      Iterator(-1e-7, 1e-7).flatMap { step =>
        Iterator.iterate(step)(_ * 2).take(40).find(below).map { far =>
          var lo = 0.0; var hi = far
          for (_ <- 0 until 60) { val mid = (lo + hi) / 2; if (below(mid)) hi = mid else lo = mid }
          moved(hi)
        }
      }.find(v => score(v, q) == round6(c - 1e-6))
    }
  }

  // ---- generators ----

  /** Small-integer components, so duplicate and scaled vectors tie at 6 dp. */
  private def baseVec(d: Int): Gen[Seq[Float]] =
    Gen.listOfN(d, Gen.choose(-3, 3).map(_.toFloat))

  private final case class Case(rows: Seq[(Option[Long], Option[Seq[Float]])],
                                queries: Seq[(Long, Seq[Float])],
                                k: Int, corpusParts: Int, clustered: Boolean) {
    val dims: Set[Int] = (rows.flatMap(_._2) ++ queries.map(_._2)).map(_.length).toSet
    private val live = rows.collect { case (Some(id), Some(e)) => (id, e) }

    /** Per query_id, every live row's (score, id), best first. */
    private val scored: Map[Long, Seq[(Double, Long)]] =
      queries.groupBy(_._1).map { case (qid, qs) =>
        qid -> qs.flatMap { case (_, q) => live.map { case (id, e) => (score(e, q), id) } }.sortWith(above)
      }

    /** Queries of one length, in batch order: the kernel's groups. */
    private val groups: Seq[Seq[(Long, Seq[Float])]] =
      queries.groupBy(_._2.length).toSeq.sortBy(_._1).map(_._2)

    /** Pairs of the queries after a group's last block of four, which the
      * kernel scores one at a time. */
    val tailPairs: Long =
      groups.map(g => (g.size % 4).toLong * live.count(_._2.length == g.head._2.length)).sum

    /** Replays the kernel's pushes, partition by partition (as `frame`
      * slices the rows): true if a pair of a block of four queries as long
      * as the row entered a full heap, so that block went on past half
      * length and its score was kept. */
    def keptBlockEntered: Boolean = (0 until corpusParts).exists { p =>
      val part = rows.slice(p * rows.size / corpusParts, (p + 1) * rows.size / corpusParts)
      val heaps = mutable.Map[Long, Seq[(Double, Long)]]().withDefaultValue(Nil)
      var hit = false
      for ((Some(id), Some(e)) <- part; g <- groups; ((qid, q), j) <- g.zipWithIndex) {
        val h = heaps(qid)
        val full = h.size == k
        val s = (score(e, q), id)
        if (!full || above(s, h.last)) {
          heaps(qid) = (h :+ s).sortWith(above).take(k)
          hit ||= full && e.length == q.length && j < g.size / 4 * 4
        }
      }
      hit
    }

    def features: Set[String] = Set(
      if (rows.isEmpty) Some("empty corpus") else None,
      if (queries.isEmpty) Some("empty batch") else None,
      if (rows.exists(_._1.isEmpty)) Some("null id") else None,
      if (rows.exists(_._2.isEmpty)) Some("null embedding") else None,
      if (rows.flatMap(_._2).exists(_.forall(_ == 0f))) Some("zero row") else None,
      if (queries.exists(_._2.forall(_ == 0f))) Some("zero query") else None,
      if ((rows.flatMap(_._2) ++ queries.map(_._2)).exists(_.exists(x => x.isNaN || x.isInfinite)))
        Some("NaN or infinite element") else None,
      if (dims.exists(_ >= 64)) Some("long vectors") else None,
      if (dims.exists(d => d >= 64 && d % 2 == 1)) Some("odd long vectors") else None,
      if (clustered && dims.exists(_ >= 64)) Some("clustered") else None,
      if (live.size < k) Some("k > corpus") else None,
      if (queries.map(_._1).distinct.size < queries.size) Some("repeated query_id") else None,
      if (dims.size > 1) Some("mismatched dims") else None,
      if (corpusParts > 1 && rows.size > 1) Some("several partitions") else None,
      if (rows.flatMap(_._2).distinct.size < rows.count(_._2.isDefined)) Some("duplicates") else None,
      if (scored.values.exists(ss => ss.size > k && !ss(k - 1)._1.isNaN && ss(k)._1 == ss(k - 1)._1))
        Some("score equal to the heap minimum") else None,
      if (scored.values.exists(ss => ss.size > k && !ss(k - 1)._1.isNaN &&
          ss.drop(k).exists(_._1 == round6(ss(k - 1)._1 - 1e-6))))
        Some("score one rounding step below the heap minimum") else None,
      if (keptBlockEntered) Some("a kept group entered a heap") else None
    ).flatten
  }

  private val genCase: Gen[Case] = for {
    d <- Gen.frequency(3 -> Gen.choose(2, 5), 1 -> Gen.choose(6, 33), 3 -> Gen.choose(64, 131))
    pool <- Gen.listOfN(3, baseVec(d))
    clustered <- Gen.frequency(2 -> false, 1 -> true)
    vector = Gen.frequency(
      5 -> Gen.oneOf(pool),                                          // duplicate
      3 -> Gen.zip(Gen.oneOf(pool), Gen.oneOf(0.5f, 2f, 3f, 7f))     // scaled
        .map { case (v, s) => v.map(_ * s) },
      2 -> baseVec(d),
      1 -> Gen.const(Seq.fill(d)(0f)),                               // zero
      1 -> Gen.oneOf(d - 1, d + 1).flatMap(baseVec),                 // other length
      1 -> Gen.listOfN(d, Gen.choose(-1f, 1f)),
      1 -> (for {                                                    // NaN or ±Inf
        v <- Gen.oneOf(pool)
        i <- Gen.choose(0, d - 1)
        x <- Gen.oneOf(Float.NaN, Float.PositiveInfinity, Float.NegativeInfinity)
      } yield v.updated(i, x)),
      (if (clustered) 14 else 0) -> Gen.listOfN(d, Gen.choose(-0.05f, 0.05f))
        .map(_.zip(pool.head).map { case (noise, x) => x + noise }))  // near pool.head
    nq <- Gen.frequency(1 -> Gen.const(0), 9 -> Gen.choose(1, 9))
    qids <- Gen.listOfN(nq, Gen.choose(0L, 4L))
    qvecs <- Gen.listOfN(nq, vector)
    rowVector = if (qvecs.isEmpty) vector else Gen.frequency(
      8 -> vector,
      2 -> Gen.zip(Gen.oneOf(pool ++ qvecs), Gen.oneOf(qvecs))     // one step below
        .map { case (b, q) => stepBelow(b, q).getOrElse(b) })
    n <- Gen.frequency(1 -> Gen.const(0), 9 -> Gen.choose(1, if (clustered) 60 else 24))
    ids <- Gen.listOfN(n, Gen.frequency(9 -> Gen.choose(0L, 80L).map(Some(_)), 1 -> Gen.const(None)))
    embs <- Gen.listOfN(n, Gen.frequency(9 -> rowVector.map(Some(_)), 1 -> Gen.const(None)))
    k <- Gen.choose(1, 6)
    parts <- Gen.choose(1, 4)
  } yield Case(ids.zip(embs), qids.zip(qvecs), k, parts, clustered)

  test("batchKnn equals the per-pair plan bit for bit on generated corpora") {
    val seen = mutable.Set[String]()
    val prop = Prop.forAll(genCase) { c =>
      seen ++= c.features
      val corpus = frame(c.rows.map { case (id, e) => Row(id.orNull, e.orNull) },
        corpusSchema, c.corpusParts)
      val queries = spark.createDataFrame(
        java.util.Arrays.asList(c.queries.map { case (q, e) => Row(q, e) }: _*), querySchema)
      val got = VectorSearch.batchKnn(corpus, queries, c.k)
      val (gotBits, skipped) = skippedDuring(bits(got))
      if (skipped > c.tailPairs) seen += "a group was skipped"
      val want = reference(corpus, queries, c.k)
      Prop(got.schema == want.schema && gotBits == bits(want)) :|
        s"schema ${got.schema.simpleString} vs ${want.schema.simpleString}\n" +
        s"got  $gotBits\nwant ${bits(want)}"
    }
    val res = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(150).withInitialSeed(20261018L), prop)
    assert(res.passed, Pretty.pretty(res, Pretty.Params(2)))
    val required = Set("empty corpus", "empty batch", "null id", "null embedding",
      "zero row", "zero query", "NaN or infinite element", "long vectors", "odd long vectors",
      "clustered", "k > corpus", "repeated query_id", "mismatched dims", "several partitions",
      "duplicates", "score equal to the heap minimum",
      "score one rounding step below the heap minimum", "a group was skipped",
      "a kept group entered a heap")
    assert(required.subsetOf(seen), s"generator never produced: ${required -- seen}")
  }

  test("the skipped-pairs counter is > 0 on a clustered corpus and 0 when k >= its size") {
    val rng = new scala.util.Random(7)
    val center = Seq.fill(128)(rng.nextGaussian().toFloat)
    def near = center.map(x => (x + 0.05 * rng.nextGaussian()).toFloat)
    val rows = (0 until 400).map { i =>
      Row(i.toLong, if (i % 10 == 0) near else Seq.fill(128)(rng.nextGaussian().toFloat))
    }
    val corpus = frame(rows, corpusSchema, 2)
    // five queries: one block of four and one scored alone
    val queries = frame((0 until 5).map(j => Row(j.toLong, near)), querySchema, 1)
    for (k <- Seq(5, 400)) {
      val (got, skipped) = skippedDuring(bits(VectorSearch.batchKnn(corpus, queries, k)))
      assert(got == bits(reference(corpus, queries, k)))
      if (k < rows.size) assert(skipped > 0 && skipped <= 5L * rows.size, s"skipped $skipped")
      else assert(skipped == 0)
    }
  }

  test("a raw score just below the heap minimum that rounds into a tie still enters") {
    // q = (1, 0) and e = (1, y) score 1 / sqrt(1 + y²): step y down float
    // by float to find rows whose raw scores straddle 0.5000010
    def raw(y: Float): Double = {
      var na = 0.0; var nb = 0.0; var dot = 0.0
      for ((a, b) <- Seq((1.0, 1.0), (y.toDouble, 0.0))) { dot += a * b; na += a * a; nb += b * b }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
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

  test("an infinite element is never pruned: its NaN score enters a full heap with a positive minimum") {
    // k = 1. (a) the row's ‖e‖ is infinite: row 1 fills the heap at 1.0,
    // then row 2's first half sums to −∞ and its score is NaN. (b) the
    // query's ‖q‖ is infinite: row 1, one element long, scores over the
    // common prefix and fills the heap at 1.0; row 2 then scores NaN.
    val negInf = Float.NegativeInfinity
    for ((rows, q) <- Seq(
        (Seq(Row(1L, vec(1f, 1f, 0f, 0f)), Row(2L, vec(1f, negInf, 0f, 0f))), vec(1f, 1f, 0f, 0f)),
        (Seq(Row(1L, vec(1f)), Row(2L, vec(1f, -1f, 0f, 0f))), vec(1f, Float.PositiveInfinity, 0f, 0f)))) {
      val corpus = frame(rows, corpusSchema, 1)
      val queries = frame(Seq(Row(0L, q)), querySchema, 1)
      val got = bits(VectorSearch.batchKnn(corpus, queries, 1))
      assert(got == Seq((Some(0L), 1, 2L, java.lang.Double.doubleToLongBits(Double.NaN))))
      assert(got == bits(reference(corpus, queries, 1)))
    }
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
