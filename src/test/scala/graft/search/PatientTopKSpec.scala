package graft.search

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.util.Pretty

import graft.SparkSpec
import graft.functions.VectorFunctions
import graft.store.PatientIndex

/** Differential spec of the facade's global top-k: on generated indexes
  * [[PatientSearch.search]] must give the bits of the scatter-gather
  * plan it replaced — a `row_number` per hospital keeping each shard's
  * local top-k, then `orderBy(similarity desc, patient_id,
  * hospital).limit(k)` and the rank window — kept here as the reference,
  * with the conditional-aggregate statistics and insights plans over its
  * hits. Hits (every metadata field included), statistics and insights
  * rows and `totalSearched` must all agree.
  */
class PatientTopKSpec extends SparkSpec {
  import PatientTopKSpec._

  private val hospitals = Seq("Hospital_A", "Hospital_B", "Hospital_C")

  private def reference(idx: DataFrame, sizes: Map[String, Long],
                        q: Array[Float], k: Int): PatientSearch.Result = {
    val sim = VectorFunctions.cosineSimilarity(col("embedding"), typedlit(q.toSeq))
    val localW = Window.partitionBy(col("hospital"))
      .orderBy(col("similarity").desc, col("patient_id"))
    val localTopK = idx
      .withColumn("similarity", sim)
      .withColumn("local_rank", row_number().over(localW))
      .filter(col("local_rank") <= k)
    val globalOrder = Seq(col("similarity").desc, col("patient_id"), col("hospital"))
    val hits = localTopK
      .orderBy(globalOrder: _*)
      .limit(k)
      .withColumn("rank", row_number().over(Window.orderBy(globalOrder: _*)))
      .select(col("rank"), col("patient_id"), col("similarity"),
        col("hospital"), col("received_transplant"), col("transplant_success"),
        col("days_to_transplant"),
        coalesce(date_format(col("transplant_date"), "yyyy-MM-dd"), lit("N/A"))
          .as("transplant_date"),
        col("waitlist_status"), col("metadata"))
      .cache()
    PatientSearch.Result(hits, sizes.valuesIterator.map(math.min(_, k.toLong)).sum,
      TransplantStats.statisticsBlock(hits), TransplantStats.clinicalInsights(hits))
  }

  /** The embedded-table columns [[PatientIndex.build]] reads. */
  private val embeddedSchema = StructType(Seq(
    StructField("patient_id", StringType), StructField("hospital", StringType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("age", DoubleType), StructField("meld_score", DoubleType),
    StructField("bmi", DoubleType), StructField("received_transplant", IntegerType),
    StructField("transplant_success", IntegerType),
    StructField("days_to_transplant", DoubleType),
    StructField("transplant_date", DateType), StructField("follow_up_days", DoubleType),
    StructField("days_on_waitlist", DoubleType), StructField("waitlist_status", IntegerType),
    StructField("creatinine", DoubleType), StructField("bilirubin", DoubleType),
    StructField("dialysis", IntegerType), StructField("diabetes", IntegerType)))

  private def rows(df: DataFrame): Seq[Any] =
    df.collect().toSeq.map(PatientSearchSpec.bits)

  // ---- generators ----

  private val dim = 4

  /** Small-integer components, so duplicate and scaled vectors tie. */
  private val baseVec: Gen[Seq[Float]] =
    Gen.listOfN(dim, Gen.choose(-3, 3).map(_.toFloat))

  /** A row's embedding: mostly `vector`'s, sometimes NULL, one element
    * shorter or longer than the query, or holding a NULL element. */
  private def rowEmbedding(vector: Gen[Seq[Float]]): Gen[Seq[java.lang.Float]] = {
    def boxed(v: Seq[Float]): Seq[java.lang.Float] = v.map(Float.box)
    Gen.frequency(
      16 -> vector.map(boxed),
      1 -> Gen.const(null),
      1 -> vector.map(v => boxed(v.init)),
      1 -> Gen.zip(vector, Gen.choose(-3, 3)).map { case (v, x) => boxed(v :+ x.toFloat) },
      1 -> Gen.zip(vector, Gen.choose(0, dim - 1)).map { case (v, i) => boxed(v).updated(i, null) })
  }

  private val genRow: Gen[Seq[java.lang.Float] => Row] = for {
    age <- Gen.choose(18.0, 80.0)
    meld <- Gen.choose(6.0, 40.0)
    bmi <- Gen.choose(17.0, 40.0)
    received <- Gen.choose(0, 1)
    success <- Gen.choose(0, 1)
    wait <- Gen.choose(1.0, 900.0)
    date <- Gen.option(Gen.choose(17000, 20000))
    follow <- Gen.choose(0.0, 2000.0)
    onList <- Gen.choose(0.0, 900.0)
    status <- Gen.choose(0, 3)
    creat <- Gen.choose(0.5, 4.0)
    bili <- Gen.choose(0.2, 10.0)
    dialysis <- Gen.choose(0, 1)
    diabetes <- Gen.choose(0, 1)
  } yield (emb: Seq[java.lang.Float]) => Row(null, null, emb, age, meld, bmi, received, success,
    wait, date.map(d => java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(d.toLong))).orNull,
    follow, onList, status, creat, bili, dialysis, diabetes)

  private final case class Case(rows: Seq[Row], q: Seq[Float], k: Int, parts: Int) {
    private def key(r: Row) = (r.getString(0), r.getString(1))
    /** The row's embedding (NULL elements as the 0 they are stored as),
      * or `None` for a NULL embedding. */
    private def emb(r: Row): Option[Seq[Float]] =
      Option(r.getSeq[java.lang.Float](2)).map(_.map(x => if (x == null) 0f else x.floatValue))
    private def cosine(a: Seq[Float], b: Seq[Float]): Double = {
      val pairs = a.zip(b) // the common prefix, as the search scores it
      val d = pairs.map { case (x, y) => x.toDouble * y }.sum
      val n = math.sqrt(pairs.map { case (x, _) => x.toDouble * x }.sum) *
        math.sqrt(pairs.map { case (_, y) => y.toDouble * y }.sum)
      if (n == 0.0) 0.0 else d / n
    }
    private def embeddings = rows.map(r => r.getSeq[java.lang.Float](2))
    val sizes: Map[String, Long] =
      rows.groupBy(_.getString(1)).map { case (h, rs) => h -> rs.size.toLong }
    /** The row chunks `parallelize` makes: contiguous, in order. */
    private def chunks: Seq[Seq[Row]] =
      (0 until parts).map(i => rows.slice(i * rows.size / parts, (i + 1) * rows.size / parts))
    def features: Set[String] = Set(
      if (rows.groupBy(_.getString(0)).values.exists(rs =>
        rs.map(_.getString(1)).distinct.size > 1 && rs.map(emb).distinct.size < rs.size))
        Some("same id and embedding in two hospitals") else None,
      if (rows.flatMap(emb).map(cosine(_, q)).groupBy(identity).values.exists(_.size > 1))
        Some("similarity ties") else None,
      if (rows.flatMap(emb).exists(_.forall(_ == 0f)) || q.forall(_ == 0f))
        Some("zero embedding") else None,
      if (embeddings.contains(null)) Some("NULL embedding") else None,
      if (embeddings.exists(e => e != null && e.size < q.size))
        Some("embedding shorter than the query") else None,
      if (embeddings.exists(e => e != null && e.size > q.size))
        Some("embedding longer than the query") else None,
      if (embeddings.exists(e => e != null && e.contains(null)))
        Some("NULL element in an embedding") else None,
      if (hospitals.exists(h => sizes.getOrElse(h, 0L) > 0 && sizes(h) < k))
        Some("hospital with fewer than k rows") else None,
      if (rows.size < k) Some("k > corpus") else None,
      if (parts > 1 && chunks.exists(_.map(_.getString(1)).distinct.size > 1))
        Some("partitions mixing hospitals") else None
    ).flatten
    require(rows.map(key).distinct.size == rows.size)
  }

  private val genCase: Gen[Case] = for {
    pool <- Gen.listOfN(3, baseVec)
    vector = Gen.frequency(
      5 -> Gen.oneOf(pool),                                          // duplicate
      3 -> Gen.zip(Gen.oneOf(pool), Gen.oneOf(0.5f, 2f, 3f))         // scaled
        .map { case (v, s) => v.map(_ * s) },
      2 -> baseVec,
      1 -> Gen.const(Seq.fill(dim)(0f)),                             // zero
      1 -> Gen.listOfN(dim, Gen.choose(-1f, 1f)))
    n <- Gen.frequency(1 -> Gen.const(0), 9 -> Gen.choose(1, 30))
    keys <- Gen.listOfN(n, Gen.zip(Gen.choose(0, 9), Gen.frequency(
      5 -> Gen.const(hospitals(0)), 3 -> Gen.const(hospitals(1)), 1 -> Gen.const(hospitals(2)))))
    embs <- Gen.listOfN(n, rowEmbedding(vector))
    partials <- Gen.listOfN(n, genRow)
    q <- vector
    k <- Gen.choose(1, 8)
    parts <- Gen.choose(1, 4)
  } yield {
    // one row per (patient_id, hospital), the index's key; every other
    // row reuses the embedding its patient_id first had in any hospital
    val firstEmb = mutable.Map[Int, Seq[java.lang.Float]]()
    val rows = keys.zip(embs).zip(partials).distinctBy(_._1._1).zipWithIndex.map {
      case ((((id, h), e), mk), i) =>
        val emb = if (i % 2 == 0) firstEmb.getOrElseUpdate(id, e) else e
        Row.fromSeq(f"PT_$id%06d" +: h +: mk(emb).toSeq.drop(2))
    }
    Case(rows, q, k, parts)
  }

  test("the direct global top-k equals the per-hospital window plan bit " +
    "for bit on generated indexes") {
    val seen = mutable.Set[String]()
    val prop = Prop.forAll(genCase) { c =>
      seen ++= c.features
      val idx = PatientIndex.build(spark.createDataFrame(
        spark.sparkContext.parallelize(c.rows, c.parts), embeddedSchema))
      try {
        idx.count() // fill the cache: both plans read the same metadata.timestamp
        val q = c.q.toArray
        val got = PatientSearch.search(new PlannedIndex(idx), c.sizes, q, c.k)
        val want = reference(idx, c.sizes, q, c.k)
        try {
          val same = Seq(
            got.topSimilarPatients.schema == want.topSimilarPatients.schema,
            rows(got.topSimilarPatients) == rows(want.topSimilarPatients),
            rows(got.transplantStatistics) == rows(want.transplantStatistics),
            rows(got.clinicalInsights) == rows(want.clinicalInsights),
            got.totalSearched == want.totalSearched,
            got.totalSearched == c.sizes.values.map(math.min(_, c.k.toLong)).sum)
          Prop(same.forall(identity)) :|
            s"checks $same\ngot  ${rows(got.topSimilarPatients)}\n" +
            s"want ${rows(want.topSimilarPatients)}"
        } finally {
          got.topSimilarPatients.unpersist()
          want.topSimilarPatients.unpersist()
        }
      } finally idx.unpersist()
    }
    val res = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(60).withInitialSeed(20261018L), prop)
    assert(res.passed, Pretty.pretty(res, Pretty.Params(2)))
    val required = Set("same id and embedding in two hospitals", "similarity ties",
      "zero embedding", "hospital with fewer than k rows", "k > corpus",
      "partitions mixing hospitals", "NULL embedding", "embedding shorter than the query",
      "embedding longer than the query", "NULL element in an embedding")
    assert(required.subsetOf(seen), s"generator never produced: ${required -- seen}")
  }

  test("the search's frames inside larger plans, and collected twice, give " +
    "the reference's rows") {
    // the frames go on as one partition into joins, aggregates and sorts
    def larger(r: PatientSearch.Result): Seq[DataFrame] = Seq(
      r.topSimilarPatients.crossJoin(r.transplantStatistics).crossJoin(r.clinicalInsights)
        .orderBy(col("rank")),
      r.topSimilarPatients.groupBy(col("hospital"))
        .agg(count(lit(1)).as("n"), max(col("similarity")).as("best"), min(col("rank")).as("top"))
        .orderBy(col("hospital")),
      r.topSimilarPatients.select(col("rank"), round(col("similarity"), 3).as("s"))
        .union(r.transplantStatistics.select(lit(0), col("transplant_rate")))
        .orderBy(col("rank")))
    val prop = Prop.forAll(genCase) { c =>
      val idx = PatientIndex.build(spark.createDataFrame(
        spark.sparkContext.parallelize(c.rows, c.parts), embeddedSchema))
      try {
        idx.count()
        val q = c.q.toArray
        val got = PatientSearch.search(new PlannedIndex(idx), c.sizes, q, c.k)
        val want = reference(idx, c.sizes, q, c.k)
        try {
          val frames = (r: PatientSearch.Result) =>
            Seq(r.topSimilarPatients, r.transplantStatistics, r.clinicalInsights)
          val first = frames(got).map(rows)
          val same = Seq(
            frames(got).map(_.schema) == frames(want).map(_.schema),
            larger(got).map(rows) == larger(want).map(rows),
            frames(got).map(rows) == first,
            first == frames(want).map(rows))
          Prop(same.forall(identity)) :| s"checks $same"
        } finally want.topSimilarPatients.unpersist()
      } finally idx.unpersist()
    }
    val res = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(12).withInitialSeed(20261019L), prop)
    assert(res.passed, Pretty.pretty(res, Pretty.Params(2)))
  }
}


object PatientTopKSpec {
  /** The statistics and insights plans the facade ran before it folded
    * them on the driver: one conditional-aggregation pass over the hits
    * each (similarity_search.py:366-407 and 707-738). */
  object TransplantStats {
    def statisticsBlock(hits: DataFrame): DataFrame = {
      val t = col("received_transplant") // promoted boolean on index rows
      hits.agg(
        count(lit(1)).as("total_similar_patients"),
        sum(when(t, 1L).otherwise(0L)).as("transplanted_count"),
        sum(when(!t, 1L).otherwise(0L)).as("not_transplanted_count"),
        (sum(when(t, 1L).otherwise(0L)) / nullif(count(lit(1)), lit(0L)))
          .as("transplant_rate"),
        sum(when(t && col("transplant_success"), 1L).otherwise(0L))
          .as("successful_transplants"),
        (sum(when(t && col("transplant_success"), 1L).otherwise(0L)) /
          nullif(sum(when(t, 1L).otherwise(0L)), lit(0L)))
          .as("transplant_success_rate"),
        avg(when(t, col("days_to_transplant"))).as("average_wait_time_days"),
        (avg(when(t, col("days_to_transplant"))) / 30.44)
          .as("average_wait_time_months"),
        sum(when(!t && col("waitlist_status") === 0, 1L).otherwise(0L))
          .as("still_on_waitlist"),
        sum(when(!t && col("waitlist_status") === 1, 1L).otherwise(0L))
          .as("removed_too_sick"),
        sum(when(!t && col("waitlist_status") === 2, 1L).otherwise(0L))
          .as("removed_improved"),
        sum(when(!t && col("waitlist_status") === 3, 1L).otherwise(0L))
          .as("deceased_on_waitlist"))
    }

    def clinicalInsights(hits: DataFrame): DataFrame = {
      val t = col("received_transplant")
      val succ = t && col("transplant_success")
      hits.agg(
        avg(when(t, col("days_to_transplant"))).as("avg_wait_transplanted_days"),
        (avg(when(t, col("days_to_transplant"))) / 30.44)
          .as("avg_wait_transplanted_months"),
        avg(when(succ, col("metadata.age"))).as("avg_age_success"),
        avg(when(succ, col("metadata.meld_score"))).as("avg_meld_success"),
        avg(when(succ, col("metadata.diabetes").cast("int")))
          .as("diabetes_rate_success"),
        avg(when(!t, col("metadata.days_on_waitlist")))
          .as("avg_wait_not_transplanted_days"),
        sum(when(!t && col("waitlist_status") === 0, 1L).otherwise(0L))
          .as("still_waiting"))
    }
  }
}
