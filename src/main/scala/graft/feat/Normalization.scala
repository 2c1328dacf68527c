package graft.feat

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, GraftPlanBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, FloatType, NumericType}

import graft.schema.PatientSchema.featureCols

/** Feature preparation (P1/P2/P3, similarity_search.py:186-200, 561-578). */
object Normalization {

  /** P2 — column-wise z-score `(x - mean) / (std + 1e-8)` with POPULATION
    * std (numpy `std(axis=0)` default, similarity_search.py:198).
    *
    * Per-hospital normalization (the reference normalizes each hospital's
    * data against its own stats, similarity_search.py:180): pass
    * `perGroup = Some("hospital")` — stats are computed per value of the
    * shard key and joined back on it (broadcast: #groups rows; rows whose
    * key is NULL drop out, as in any equi-join).
    *
    * The stats are one job over `df`, run when this is called, and they
    * are the bits of `groupBy(g).agg(avg(c), stddev_pop(c))` over `df`.
    * Why that holds: Spark's two-phase aggregate folds each partition's
    * rows, in order, into one partial buffer per group with its update
    * formulas; its final step starts each group from the initial buffer
    * and merges the partials in the order the shuffle read returns them,
    * which on local blocks is map-partition order. [[sourceStats]] keeps that
    * schedule and those formulas — a partial per (group, partition), the
    * merge on the driver in partition order — and only drops what cannot
    * change a bit: the shuffle, and the codegen-less hash aggregate that
    * 100 buffer fields for 20 columns force. `PatientSearchSpec` and
    * `ZScoreStatsSpec` pin it against Spark's aggregate. The z-score
    * itself is a broadcast join of the data with the stats rows.
    */
  def zscore(df: DataFrame, cols: Seq[String] = featureCols,
             perGroup: Option[String] = None): DataFrame =
    standardize(df, cols, perGroup, sourceStats(df, None, cols, perGroup))

  /** The `features` array of [[zscore]] followed by [[assembleFeatures]]
    * over the frame `df`'s rows were drawn from, when they have since
    * been narrow-coalesced; the columns themselves keep their raw values.
    * Int column `range` holds each row's source range — its partition in
    * that frame, `spark_partition_id()` evaluated before any
    * repartitioning — and within a range the rows keep their order. The
    * stats are then the source frame's bits, so a caller can materialize
    * the coalesced rows once and both fold the stats and compute the
    * features over them. `range` is dropped from the result.
    */
  def featuresBySourceRange(df: DataFrame, range: String, group: String): DataFrame = {
    val stats = sourceStats(df, Some(range), featureCols, Some(group))
    df.join(broadcast(stats), Seq(group))
      .withColumn("features", array(featureCols.map(c => standardized(c).cast("float")): _*))
      .drop(featureCols.flatMap(c => Seq(s"__mean_$c", s"__std_$c")) :+ range: _*)
  }

  /** Column `c` z-scored by the stats columns `__mean_c` and `__std_c`. */
  private def standardized(c: String) =
    (col(c) - col(s"__mean_$c")) / (col(s"__std_$c") + lit(1e-8))

  private def standardize(df: DataFrame, cols: Seq[String], perGroup: Option[String],
                          stats: DataFrame): DataFrame = {
    val normalized = perGroup match {
      case Some(g) => df.join(broadcast(stats), Seq(g))
      case None => df.crossJoin(broadcast(stats))
    }
    normalized.withColumns(cols.map(c => c -> standardized(c)).toMap)
      .drop(cols.flatMap(c => Seq(s"__mean_$c", s"__std_$c")): _*)
  }

  /** `(group?, __mean_c, __std_c, ...)` per group of `df`, as a local
    * frame: the bits `groupBy(group).agg(avg(c), stddev_pop(c))` (or,
    * with no group, `agg(...)`) gives over the frame `df`'s rows were
    * drawn from. Each row's source range is its column `range`, or its
    * partition in `df` when `range` is None.
    *
    * One job folds each (group, source range) into a [[Moments]] partial
    * with Spark's update formulas — the buffer that range's partial
    * aggregate emits, since a range's rows arrive in their source order.
    * The driver starts each group from the initial buffer and merges its
    * partials in range order with Spark's merge formulas, as the final
    * aggregate meets the shuffled partials. A grouped aggregate emits no
    * partial for a range without rows of the group; an ungrouped one
    * emits one per partition, empty or not, which only the partition
    * form can see (an ungrouped `range` column is not supported).
    */
  private[feat] def sourceStats(df: DataFrame, range: Option[String], cols: Seq[String],
                                group: Option[String]): DataFrame = {
    require(group.isDefined || range.isEmpty, "ungrouped stats need rows in their source partitions")
    // group values are compared as Scala values: a float key's -0.0/NaN
    // would not group as Spark groups them
    group.foreach { g =>
      require(!Seq(FloatType, DoubleType).contains(df.schema(g).dataType),
        s"z-score group $g must not be a floating type")
    }
    cols.foreach { c =>
      require(df.schema(c).dataType.isInstanceOf[NumericType] &&
        !df.schema(c).dataType.isInstanceOf[DecimalType],
        s"z-score column $c must be an integral or floating type, got ${df.schema(c).dataType.simpleString}")
    }
    // avg and stddev_pop fold each value as a double
    val in = df.select(group.map(col).toSeq ++ range.map(col) ++ cols.map(col(_).cast(DoubleType)): _*)
    val groupType = group.map(g => in.schema(g).dataType)
    val first = group.size + range.size
    val width = cols.size
    val partials = in.queryExecution.toRdd.mapPartitionsWithIndex { (p, rows) =>
      val byKey = mutable.LinkedHashMap.empty[(Any, Int), Moments]
      // a range's rows of one group usually come together: look up once per run
      var lastGroup: Any = null
      var lastRange = -1
      var last: Moments = null
      rows.foreach { r =>
        val g = groupType.map(t => r.get(0, t)).orNull
        val s = if (range.isDefined) r.getInt(group.size) else p
        if (last == null || s != lastRange || g != lastGroup) {
          lastGroup = InternalRow.copyValue(g)
          lastRange = s
          last = byKey.getOrElseUpdate((lastGroup, s), new Moments(width))
        }
        last.update(r, first)
      }
      if (group.isEmpty && byKey.isEmpty) byKey((null, p)) = new Moments(width)
      byKey.iterator.map { case ((g, s), m) => (g, s, m) }
    }.collect()

    val rows = partials.groupBy(_._1).toSeq.map { case (g, ps) =>
      val merged = new Moments(width)
      ps.sortBy(_._2).foreach(p => merged.merge(p._3))
      InternalRow.fromSeq(group.map(_ => g).toSeq ++ merged.stats)
    }
    val statsCols = group.map(g => AttributeReference(g, groupType.get)()).toSeq ++
      cols.flatMap(c => Seq(AttributeReference(s"__mean_$c", DoubleType)(),
        AttributeReference(s"__std_$c", DoubleType)()))
    GraftPlanBridge.ofRows(df.sparkSession, LocalRelation(statsCols, rows))
  }

  /** The aggregation buffers of `avg` (sum, count) and `stddev_pop`
    * (n, avg, m2) for each of `width` double columns, updated and merged
    * with Spark's formulas (`Average`, `CentralMomentAgg`) in the same
    * order of operations, so every buffer holds the bits Spark's would. */
  private final class Moments(width: Int) extends Serializable {
    private val sum = new Array[Double](width)
    private val count = new Array[Long](width)
    private val n = new Array[Double](width)
    private val avg = new Array[Double](width)
    private val m2 = new Array[Double](width)

    /** Folds the values at `r(first)`, `r(first + 1)`, ... */
    def update(r: InternalRow, first: Int): Unit = {
      var i = 0
      while (i < width) {
        if (r.isNullAt(first + i)) sum(i) = sum(i) + 0.0 // sum + coalesce(x, 0.0)
        else {
          val x = r.getDouble(first + i)
          sum(i) = sum(i) + x
          count(i) += 1
          val newN = n(i) + 1.0
          val delta = x - avg(i)
          val deltaN = delta / newN
          avg(i) = avg(i) + deltaN
          m2(i) = m2(i) + delta * (delta - deltaN)
          n(i) = newN
        }
        i += 1
      }
    }

    def merge(o: Moments): Unit = {
      var i = 0
      while (i < width) {
        sum(i) = sum(i) + o.sum(i)
        count(i) = count(i) + o.count(i)
        val newN = n(i) + o.n(i)
        val delta = o.avg(i) - avg(i)
        val deltaN = if (newN == 0.0) 0.0 else delta / newN
        avg(i) = avg(i) + deltaN * o.n(i)
        m2(i) = (m2(i) + o.m2(i)) + delta * deltaN * n(i) * o.n(i)
        n(i) = newN
        i += 1
      }
    }

    /** `avg` then `stddev_pop` of each column; NULL over no values. */
    def stats: Seq[Any] = (0 until width).flatMap { i =>
      Seq(if (count(i) == 0) null else sum(i) / count(i).toDouble,
        if (n(i) == 0.0) null else math.sqrt(m2(i) / n(i)))
    }
  }

  /** P1 — assemble the canonical 20-feature float32 array column
    * (similarity_search.py:195: `.values.astype(np.float32)`).
    */
  def assembleFeatures(df: DataFrame, outputCol: String = "features"): DataFrame =
    df.withColumn(outputCol,
      array(featureCols.map(c => col(c).cast("float")): _*))

  /** P3 — query-vector prep (similarity_search.py:561-578): dict → ordered
    * vector with missing keys defaulting to 0, then PER-ROW normalization
    * `(v - v.mean()) / (v.std() + 1e-8)` — deliberately a different axis
    * than P2 (a reference quirk, reproduced as specified; see SURVEY.md §7).
    * Driver-side O(20) scalar math.
    */
  def prepareQueryFeatures(query: Map[String, Double]): Array[Float] = {
    val v = featureCols.map(f => query.getOrElse(f, 0.0)).toArray
    val mean = v.sum / v.length
    val variance = v.map(x => (x - mean) * (x - mean)).sum / v.length
    val std = math.sqrt(variance)
    v.map(x => ((x - mean) / (std + 1e-8)).toFloat)
  }
}
