package graft.feat

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.util.Pretty

import graft.SparkSpec
import graft.search.PatientSearchSpec.bits

/** Differential spec of the z-score stats fold behind
  * `Normalization.zscore`: on generated frames its per-group mean and
  * population std must be the bits of Spark's
  * `groupBy(g).agg(avg(c), stddev_pop(c))` (and, ungrouped, `agg`) over
  * the untagged, uncoalesced frame — kept here as the reference — whether
  * the rows sit in their source partitions or were tagged with
  * `spark_partition_id()` and narrow-coalesced first.
  */
class ZScoreStatsSpec extends SparkSpec {
  import ZScoreStatsSpec._

  private val cols = Seq("i", "d", "c")
  private val schema = StructType(Seq(
    StructField("g", StringType), StructField("i", IntegerType),
    StructField("d", DoubleType), StructField("c", DoubleType)))

  private type Stat = (Option[String], Seq[Option[Long]])

  /** Rows of `stats` as (group, raw bits of every mean and std), sorted. */
  private def statBits(stats: DataFrame, grouped: Boolean): Seq[Stat] = {
    val names = cols.flatMap(c => Seq(s"__mean_$c", s"__std_$c"))
    stats.select((if (grouped) Seq(col("g")) else Nil) ++ names.map(col): _*).collect().toSeq
      .map { r =>
        val vs = if (grouped) r.toSeq.tail else r.toSeq
        (if (grouped) Option(r.getString(0)) else None,
          vs.map(v => Option(v).map(x => java.lang.Double.doubleToRawLongBits(x.asInstanceOf[Double]))))
      }.sortBy(_._1.getOrElse(""))
  }

  private def reference(source: DataFrame, grouped: Boolean): DataFrame = {
    val aggs = cols.flatMap(c => Seq(avg(col(c)).as(s"__mean_$c"), stddev_pop(col(c)).as(s"__std_$c")))
    if (grouped) source.groupBy(col("g")).agg(aggs.head, aggs.tail: _*)
    else source.agg(aggs.head, aggs.tail: _*)
  }

  // ---- generators ----

  private final case class Case(partitions: Seq[Seq[(Option[String], Option[Int], Option[Double], Double)]],
                                coalesceTo: Int) {
    private val rows = partitions.flatten
    private def groupParts = partitions.zipWithIndex
      .flatMap { case (p, i) => p.map(r => r._1 -> i) }.groupBy(_._1).map { case (g, ps) => g -> ps.map(_._2).toSet }
    def features: Set[String] = Set(
      Some(s"${partitions.size} source partitions"),
      if (partitions.exists(_.isEmpty)) Some("empty partition") else None,
      if (groupParts.values.exists(_.size > 1)) Some("group spans partitions") else None,
      if (rows.groupBy(_._1).values.exists(_.size == 1)) Some("single-row group") else None,
      if (rows.exists(r => r._2.isEmpty || r._3.isEmpty)) Some("null value") else None,
      if (rows.exists(_._1.isEmpty)) Some("null group") else None,
      if (rows.groupBy(_._1).values.exists(rs => rs.size > 1 && rs.map(_._4).distinct.size == 1))
        Some("constant column") else None,
      if (rows.exists(_._3.exists(d => d == 0.0 && 1 / d < 0))) Some("negative zero") else None,
      if (rows.exists(_._3.exists(d => math.abs(d) >= 1e12))) Some("large magnitude") else None
    ).flatten
  }

  private val genDouble: Gen[Double] = Gen.frequency(
    5 -> Gen.choose(-100.0, 100.0),
    2 -> Gen.choose(-5, 5).map(_.toDouble),
    1 -> Gen.const(-0.0),
    1 -> Gen.oneOf(1e12, -3e15, 7.5e150, 1e300).flatMap(m => Gen.choose(0.5, 2.0).map(_ * m)),
    1 -> Gen.choose(1e-300, 1e-290))

  private val genCase: Gen[Case] = for {
    parts <- Gen.choose(1, 8)
    groups <- Gen.choose(1, 4)
    constant <- Gen.oneOf(0.0, 2.5, -0.0, 1e300)
    partitions <- Gen.listOfN(parts, Gen.frequency(1 -> Gen.const(0), 4 -> Gen.choose(1, 12))
      .flatMap(n => Gen.listOfN(n, for {
        g <- Gen.frequency(9 -> Gen.choose(0, groups - 1).map(k => Some(s"g$k")), 1 -> Gen.const(None))
        i <- Gen.frequency(8 -> Gen.choose(-1000, 1000).map(Some(_)), 1 -> Gen.const(Some(Int.MaxValue)),
          1 -> Gen.const(None))
        d <- Gen.frequency(9 -> genDouble.map(Some(_)), 1 -> Gen.const(None))
      } yield (g, i, d, constant))))
    coalesceTo <- Gen.choose(1, parts)
  } yield Case(partitions, coalesceTo)

  test("the stats fold equals Spark's avg/stddev_pop bit for bit on generated frames") {
    val seen = mutable.Set[String]()
    val prop = Prop.forAll(genCase) { c =>
      seen ++= c.features
      val sc = spark.sparkContext
      // partition p holds exactly c.partitions(p), in order
      val rdd = sc.parallelize(c.partitions, c.partitions.size).flatMap(_.map { case (g, i, d, k) =>
        Row(g.orNull, i.getOrElse(null), d.getOrElse(null), k)
      })
      val source = spark.createDataFrame(rdd, schema)
      val tagged = source.withColumn("r", spark_partition_id()).coalesce(c.coalesceTo)
      val want = statBits(reference(source, grouped = true), grouped = true)
      val wantAll = statBits(reference(source, grouped = false), grouped = false)
      val inPlace = statBits(Normalization.sourceStats(source, None, cols, Some("g")), grouped = true)
      val coalesced = statBits(Normalization.sourceStats(tagged, Some("r"), cols, Some("g")), grouped = true)
      val ungrouped = statBits(Normalization.sourceStats(source, None, cols, None), grouped = false)
      Prop(inPlace == want && coalesced == want && ungrouped == wantAll) :|
        s"want $want\nin place $inPlace\ncoalesced $coalesced\nungrouped want $wantAll got $ungrouped"
    }
    val res = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(80).withInitialSeed(20261019L), prop)
    assert(res.passed, Pretty.pretty(res, Pretty.Params(2)))
    val required = (1 to 8).map(p => s"$p source partitions").toSet ++ Set("empty partition",
      "group spans partitions", "single-row group", "null value", "null group", "constant column",
      "negative zero", "large magnitude")
    assert(required.subsetOf(seen), s"generator never produced: ${required -- seen}")
  }

  test("zscore equals the aggregate-and-join plan bit for bit") {
    val rows = Seq(Row("a", 1, 2.0, 0.5), Row("a", 3, null, 0.5), Row("b", null, -0.0, 0.5),
      Row(null, 4, 8.0, 0.5), Row("b", 7, 1e15, 0.5), Row("a", -2, 3.25, 0.5))
    val source = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
    for (group <- Seq(Some("g"), None)) {
      val got = Normalization.zscore(source, cols, group)
      val want = aggregateZscore(source, cols, group)
      assert(got.schema == want.schema)
      assert(got.collect().map(bits).toSeq == want.collect().map(bits).toSeq)
    }
  }
}

object ZScoreStatsSpec {
  /** `Normalization.zscore` as a Spark aggregate joined back to the data:
    * stats by `groupBy(g).agg(avg, stddev_pop)` (or an ungrouped `agg`),
    * broadcast-joined on the group. The reference the fold is held to. */
  def aggregateZscore(df: DataFrame, cols: Seq[String], perGroup: Option[String]): DataFrame = {
    val aggs = cols.flatMap { c =>
      Seq(avg(col(c)).as(s"__mean_$c"), stddev_pop(col(c)).as(s"__std_$c"))
    }
    val normalized = perGroup match {
      case Some(g) => df.join(broadcast(df.groupBy(col(g)).agg(aggs.head, aggs.tail: _*)), Seq(g))
      case None => df.crossJoin(broadcast(df.agg(aggs.head, aggs.tail: _*)))
    }
    cols.foldLeft(normalized) { (acc, c) =>
      acc.withColumn(c, (col(c) - col(s"__mean_$c")) / (col(s"__std_$c") + lit(1e-8)))
    }.drop(cols.flatMap(c => Seq(s"__mean_$c", s"__std_$c")): _*)
  }
}
