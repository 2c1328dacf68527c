package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QueryPack, Staged, Tables}

/** `[EXT]` Rank (quantile) statistics for snapshot tables — the second
  * sidecar family next to [[TableStats]]' NDV sketches: mergeable
  * per-column RANK SUMMARIES kept in `_stats/rank.json`, serving
  * median/p99-style order statistics from metadata with an EXPLICIT,
  * provable rank-error budget. Same honesty contract as the NDV tier:
  * an exact answer is served as exact (`errRows = 0`), everything else
  * carries its bound — never an estimate in disguise.
  *
  * Construction (deterministic — no KLL/t-digest randomness, so golden
  * oracles and workflow resume stay byte-stable): range-partition the
  * column into value-disjoint slices, sort each slice locally, and emit
  * every `s`-th order statistic as a weighted point (`s = ⌈n/m⌉`).
  * Because slices hold DISJOINT value ranges, per-slice rank errors do
  * not add up across slices: for any point, true global rank and
  * cumulative-weight rank differ by less than `s`. The summary is
  * `m`-ish points of `(value, weight)` — O(m) bytes per column.
  *
  *  - [[summarize]]: one narrow shuffle of the bare column (range
  *    split, explicit partition count — AQE-coalesce-exempt so the
  *    slice layout is run-stable), one local sort per slice, `≈ m`
  *    points to the driver. Never a global sort, never a value map
  *    held in memory ([[org.apache.spark.sql.functions.percentile]]'s
  *    OpenHashMap shape dies on high-cardinality columns at scale).
  *  - [[refresh]] (append window): summarize ONLY the fresh files into
  *    a new per-column SEGMENT — O(Δ) — and serve across segments
  *    through [[SegmentView]]. Segments cover OVERLAPPING ranges, so
  *    error budgets ADD at lookup (`errRows` is the proof-carrying
  *    term), but each segment keeps the span property, so the
  *    span-gated proofs (DESC top-k threshold, range row bounds)
  *    survive delta refresh. A column at `maxSegments` compacts via
  *    one full [[analyze]], resetting the budget to `⌈n/m⌉`.
  *  - [[merge]]: value-ordered concatenation + re-compression into ONE
  *    summary — kept for external callers that need a single point
  *    list; it records `spans = false` and is NOT what refresh uses.
  *  - n ≤ m is the EXACT regime: every point has weight 1, the summary
  *    IS the sorted column, quantiles are exact order statistics.
  *
  * At 100 TB: percentiles of latency/size/score columns are the other
  * statistic (next to NDV) that pipelines re-derive constantly — data
  * quality gates ("p99 doc length"), skew diagnosis, salting
  * thresholds. One ANALYZE pass + O(Δ) append maintenance keeps them a
  * metadata read instead of a per-report column scan.
  */
object RankStats extends QueryPack {

  /** One column's rank summary: `points` ascending by value, each
    * carrying the number of rows it closes (Σ weights = n). A quantile
    * answer's true rank differs from its cumulative-weight rank by at
    * most `errRows` (0 ⇒ exact order statistics).
    *
    * `spans` records the SPAN PROPERTY: every point's rows lie in
    * `(previous point's value, own value]`. True from [[summarize]]
    * (value-disjoint slices) and preserved by [[compress]] (folding
    * consecutive spans), but destroyed by [[merge]] (two sources'
    * spans interleave, so a span may reach below its merged
    * predecessor). [[rangeUpper]] — the optimizer's selectivity bound —
    * is only sound under it and refuses without it.
    *
    * `lo` is the TRUE MINIMUM of the summarized rows (NaN = unknown —
    * legacy sidecars and empty summaries). The point list alone cannot
    * provide it: the first point's rows lie anywhere below it. It is
    * what makes segment HULLS `[lo, values.last]` real row enclosures,
    * so [[refresh]]'s segment compaction can prove two segments
    * value-DISJOINT and concatenate them without reading a file.
    */
  final case class RankSummary(col: String, m: Int, n: Long, errRows: Long,
                               values: Array[Double], weights: Array[Long],
                               spans: Boolean = true,
                               lo: Double = Double.NaN) {
    require(values.length == weights.length,
      "rank summary: values/weights length mismatch")

    def exact: Boolean = errRows == 0L

    /** PROVEN upper bound on the rows with value in [lo, hi] (either
      * side open): rows ≤ C(hi) − C(lo⁻), where C(hi) is bounded above
      * by the cumulative weight through the last point ≤ hi plus the
      * one span that may straddle hi, and C(lo⁻) below by the
      * cumulative weight through the last point < lo (every row it
      * counts is provably < lo). Exact weighted arithmetic — no
      * errRows term; requires the span property.
      */
    def rangeUpper(lo: Option[Double], hi: Option[Double]): Option[Long] = {
      if (!spans || n == 0L) return None
      val cum = new Array[Long](values.length)
      var acc = 0L
      var i = 0
      while (i < values.length) { acc += weights(i); cum(i) = acc; i += 1 }
      val upperHi = hi match {
        case None => n
        case Some(h) =>
          val j = lastIndexWhere(values, _ <= h)
          val straddle =
            if (j + 1 < weights.length) weights(j + 1) else 0L
          math.min(n, (if (j < 0) 0L else cum(j)) + straddle)
      }
      val lowerLo = lo match {
        case None => 0L
        case Some(l) =>
          val m0 = lastIndexWhere(values, _ < l)
          if (m0 < 0) 0L else cum(m0)
      }
      Some(math.max(0L, upperHi - lowerLo))
    }

    private def lastIndexWhere(xs: Array[Double], p: Double => Boolean): Int = {
      var i = xs.length - 1
      while (i >= 0 && !p(xs(i))) i -= 1
      i
    }

    /** EQUI-DEPTH histogram from the summary alone: walk the weighted
      * points closing a bucket every `⌈n/buckets⌉` rows; each bucket
      * reports (first point value, closing point value, exact summed
      * weight). In the exact regime (weight-1 points) this is the true
      * equi-depth histogram — bucket i spans the values at ranks
      * `(i−1)·d+1 .. min(i·d, n)`; compressed summaries report the
      * same shape with boundaries within `errRows` ranks.
      */
    def histogram(buckets: Int): Seq[(Double, Double, Long)] = {
      require(buckets >= 1, s"histogram needs >= 1 bucket, got $buckets")
      if (n == 0L) return Seq.empty
      val depth = math.max(1L, (n + buckets - 1) / buckets)
      val out = scala.collection.mutable.ArrayBuffer.empty[(Double, Double, Long)]
      var lo = values(0)
      var acc = 0L
      var i = 0
      while (i < values.length) {
        if (acc == 0L) lo = values(i)
        acc += weights(i)
        if (acc >= depth || i == values.length - 1) {
          out += ((lo, values(i), acc)); acc = 0L
        }
        i += 1
      }
      out.toSeq
    }

    /** Value at quantile `q`: the first point whose cumulative weight
      * reaches `max(1, ⌈q·n⌉)` — within `errRows` ranks of the true
      * order statistic.
      */
    def quantile(q: Double): Double = {
      require(q > 0.0 && q <= 1.0, s"quantile out of (0,1]: $q")
      require(n > 0L, s"rank summary for $col is empty")
      val target = math.max(1L, math.ceil(q * n).toLong)
      var cum = 0L
      var i = 0
      while (i < values.length) {
        cum += weights(i)
        if (cum >= target) return values(i)
        i += 1
      }
      values.last
    }
  }

  /** Sidecar payload (same validity evidence as the NDV tier). A column
    * may appear MORE THAN ONCE: each entry is a value-overlapping but
    * internally span-sound SEGMENT ([[refresh]] appends one per
    * append window instead of merging — merging would destroy the span
    * property and turn the DESC top-k / range-bound optimizations off
    * at exactly the ingest cadence they were built for). Serve-time
    * consumers combine a column's segments through [[SegmentView]].
    */
  final case class RankFile(version: Long, filesFp: String, delFp: String,
                            summaries: Seq[RankSummary])

  /** Serve-time view over one column's SEGMENTS. Segments cover
    * overlapping value ranges (each append window resummarizes only its
    * own rows), so per-segment rank errors ADD at lookup — but each
    * segment KEEPS its span property, which is what lets the proofs
    * ([[rangeUpper]], [[descThreshold]]) survive delta refresh: a
    * per-segment exact bound summed over segments is still exact
    * arithmetic, where a merged point list would have to refuse.
    */
  final case class SegmentView(segs: Seq[RankSummary]) {
    require(segs.nonEmpty, "segment view over no segments")
    val n: Long = segs.map(_.n).sum
    val errRows: Long = segs.map(_.errRows).sum
    def spansAll: Boolean = segs.forall(_.spans)

    /** The flattened point list as ONE summary — correct for rank
      * lookups (quantile/histogram walk cumulative weights; a point's
      * rows are always ≤ its value, segments or not) and marked
      * span-less unless it is a single span-sound segment, so nobody
      * can misuse it for span arithmetic.
      */
    lazy val flat: RankSummary =
      if (segs.size == 1) segs.head
      else {
        val pts = segs.flatMap(s => s.values.zip(s.weights)).sortBy(_._1)
        RankSummary(segs.head.col, segs.head.m, n, errRows,
          pts.map(_._1).toArray, pts.map(_._2).toArray, spans = false)
      }

    /** PROVEN row upper bound for values in [lo, hi]: Σ of per-segment
      * [[RankSummary.rangeUpper]] — every segment must hold the span
      * property (a legacy merged segment refuses). An empty segment
      * contributes 0.
      */
    def rangeUpper(lo: Option[Double], hi: Option[Double]): Option[Long] = {
      if (!spansAll) return None
      val parts = segs.map(s =>
        if (s.n == 0L) Some(0L) else s.rangeUpper(lo, hi))
      if (parts.exists(_.isEmpty)) None else Some(parts.flatten.sum)
    }

    /** Largest value `v` PROVEN to have ≥ k rows at-or-under it: walk
      * the flattened cumulative weights (sound without spans — each
      * counted row is ≤ some point ≤ v). Feeds the ASC top-k filter.
      */
    def ascThreshold(k: Long): Option[Double] = {
      if (n < k) return None
      val f = flat
      var cum = 0L
      var i = 0
      while (i < f.values.length) {
        cum += f.weights(i)
        if (cum >= k) return Some(f.values(i))
        i += 1
      }
      None
    }

    /** Largest value `v` PROVEN to have ≥ k rows at-or-over it — the
      * DESC top-k filter. Needs the span property in EVERY segment:
      * within a span segment, rows of points strictly after the first
      * point ≥ v each exceed their predecessor's value (≥ v), so
      * `G_seg(v) = n_seg − cum(first idx with value ≥ v)` rows are
      * provably ≥ v; Σ over segments ≥ k proves the threshold.
      * Candidates descend, G is non-decreasing as v falls, so the
      * first hit is the largest provable threshold.
      */
    def descThreshold(k: Long): Option[Double] = {
      if (!spansAll || n < k) return None
      val cums = segs.map(_.weights.scanLeft(0L)(_ + _).drop(1))
      def g(si: Int, v: Double): Long = {
        val s = segs(si)
        val idx = firstGe(s.values, v)
        if (idx >= s.values.length) 0L else s.n - cums(si)(idx)
      }
      val cands = segs.flatMap(_.values).distinct
        .sorted(Ordering[Double].reverse)
      cands.find(v => segs.indices.map(g(_, v)).sum >= k)
    }

    private def firstGe(xs: Array[Double], v: Double): Int = {
      var lo = 0
      var hi = xs.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (xs(mid) >= v) hi = mid else lo = mid + 1
      }
      lo
    }
  }

  /** Deterministic slice count for a column of `n` rows: enough slices
    * that a local sort stays comfortable, few enough that tiny inputs
    * take one task. A function of the DATA, not of session conf — the
    * summary must not change shape when shuffle.partitions does.
    */
  private def sliceCount(n: Long): Int =
    math.min(64L, math.max(1L, (n + 262143L) / 262144L)).toInt

  /** Summarize one numeric column of `df` into ≈ `m` weighted points.
    * NaNs are excluded like nulls (a NaN has no rank); `n` counts the
    * summarized rows only.
    */
  def summarize(df: DataFrame, column: String, m: Int): RankSummary = {
    require(m >= 2, s"rank summary needs m >= 2, got $m")
    val vals = df.select(col(column).cast("double").as("v"))
      .where(col("v").isNotNull && !isnan(col("v")))
    val n = vals.count()
    if (n == 0L)
      return RankSummary(column, m, 0L, 0L, Array.empty, Array.empty)
    val s = math.max(1L, (n + m - 1) / m)
    val sliced = vals.repartitionByRange(sliceCount(n), col("v"))
      .sortWithinPartitions(col("v"))
    // per-slice walk: emit every s-th row (weight s) and the slice
    // remainder (weight t mod s) — cumulative weights are exact per
    // slice, and slices are value-disjoint, so the global rank error
    // of any lookup is bounded by ONE spacing, not one per slice
    val raw = sliced.queryExecution.toRdd.mapPartitions { it =>
      val out = scala.collection.mutable.ArrayBuffer.empty[(Double, Long)]
      var sinceLast = 0L
      var last = Double.NaN
      var first = true
      while (it.hasNext) {
        last = it.next().getDouble(0)
        // weight-0 marker: the partition's first (smallest) row — the
        // summary's true floor is the first marker in partition order
        if (first) { out += ((last, 0L)); first = false }
        sinceLast += 1L
        if (sinceLast == s) { out += ((last, s)); sinceLast = 0L }
      }
      if (sinceLast > 0L) out += ((last, sinceLast))
      out.iterator
    }.collect()
    // rdd collect preserves partition order; range slices are ordered
    // by value — the concatenation is globally value-ascending
    val pts = raw.filter(_._2 > 0L)
    val lo = raw.collectFirst { case (v, 0L) => v }.getOrElse(Double.NaN)
    RankSummary(column, m, n, if (s == 1L) 0L else s,
      pts.map(_._1), pts.map(_._2), lo = lo)
  }

  /** ALL of `specs`' (column, m) summaries in ONE range-partitioned
    * pass — the maintenance-tick twin of
    * [[TableStats.sketchesAndSums]]: the per-column path pays a count
    * job plus a range-sample job plus a sort-walk job PER COLUMN; this
    * explodes the columns into `(i, v)` pairs and range-partitions on
    * `(i, v)`, so one shuffle carries every column, each column's
    * slices stay value-disjoint (the span property per segment is the
    * lexicographic split's gift), and the driver sees ≈ Σ mᵢ points.
    *
    * `rowsUpper` (the manifest's fresh-file row total, when the caller
    * has it) replaces the count job: the spacing becomes
    * `sᵢ = ⌈upper/mᵢ⌉` — an upper bound on the true count gives a
    * spacing at least as coarse, so the recorded `errRows = sᵢ` bound
    * is still PROVEN (emission spacing is what bounds the error, not
    * how it was derived); `n` is recorded from the exact summed
    * weights either way. With it, a sub-256k-row append window
    * summarizes every tracked column in ONE Spark job (the single
    * range slice skips the partitioner's sampling pass too).
    */
  private[sources] def summarizeAll(df: DataFrame,
                                    specs: Seq[(String, Int)],
                                    rowsUpper: Option[Long] = None)
      : Seq[RankSummary] = {
    specs.foreach { case (_, m) =>
      require(m >= 2, s"rank summary needs m >= 2, got $m") }
    if (specs.isEmpty) return Seq.empty
    if (specs.size == 1 && rowsUpper.isEmpty)
      return Seq(summarize(df, specs.head._1, specs.head._2))
    val ns: Seq[Long] = rowsUpper match {
      case Some(u) => specs.map(_ => u)
      case None =>
        val aggs = specs.map { case (c, _) =>
          count(when(col(c).cast("double").isNotNull &&
            !isnan(col(c).cast("double")), 1)).as(s"n_$c")
        }
        val r = df.agg(aggs.head, aggs.tail: _*).head()
        specs.indices.map(r.getLong)
    }
    if (ns.forall(_ == 0L))
      return specs.map { case (c, m) =>
        RankSummary(c, m, 0L, 0L, Array.empty, Array.empty) }
    val spacing: Array[Long] = specs.zip(ns).map { case ((_, m), n) =>
      math.max(1L, (n + m - 1) / m) }.toArray
    val pairs = df.select(explode(array(specs.zipWithIndex.map {
        case ((c, _), i) =>
          struct(lit(i).as("i"), col(c).cast("double").as("v")) }: _*))
        .as("p"))
      .select(col("p.i").as("i"), col("p.v").as("v"))
      .where(col("v").isNotNull && !isnan(col("v")))
    val sliced = pairs.repartitionByRange(sliceCount(ns.sum),
        col("i"), col("v"))
      .sortWithinPartitions(col("i"), col("v"))
    // per-slice walk with a reset at each column boundary: a slice is a
    // contiguous (i, v) range, so a column's rows within it are
    // contiguous and sorted; emit every s_i-th row plus the column-run
    // remainder — cumulative weights stay exact per (column, slice)
    val raw = sliced.queryExecution.toRdd.mapPartitions { it =>
      val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Double, Long)]
      var curI = -1
      var since = 0L
      var last = 0.0
      def flush(): Unit =
        if (curI >= 0 && since > 0L) { out += ((curI, last, since)) }
      while (it.hasNext) {
        val r = it.next()
        val i = r.getInt(0)
        val v = r.getDouble(1)
        if (i != curI) {
          flush(); curI = i; since = 0L
          // weight-0 marker: the column run's first (smallest) row in
          // this slice — the first marker per column in partition
          // order is the column's true floor
          out += ((i, v, 0L))
        }
        last = v
        since += 1L
        if (since == spacing(i)) { out += ((i, v, spacing(i))); since = 0L }
      }
      flush()
      out.iterator
    }.collect()
    // partition order is (i, v)-ascending, so each column's points
    // concatenate globally value-ascending
    specs.zipWithIndex.map { case ((c, m), i) =>
      val mine = raw.filter(t => t._1 == i && t._3 > 0L)
      val lo = raw.collectFirst { case (`i`, v, 0L) => v }
        .getOrElse(Double.NaN)
      val s = spacing(i)
      RankSummary(c, m, mine.map(_._3).sum, if (s == 1L) 0L else s,
        mine.map(_._2).toArray, mine.map(_._3).toArray, lo = lo)
    }
  }

  /** Last segment-compaction audit: (column, files read, files in the
    * manifest), summed over the columns the last [[refresh]] call
    * compacted — the observability hook RankStatsSpec measures the
    * O(overlap) claim through. Test/ops visibility only; never read by
    * the serving or proof paths.
    */
  @volatile private[sources] var lastCompaction: Option[(Int, Int)] = None

  /** SEGMENT COMPACTION: fold one column's segments back to a single
    * span-sound segment at O(overlap) cost, not O(table). Segment
    * HULLS `[lo, values.last]` are true row enclosures (every
    * summarized row lies inside — that is what the recorded floor
    * exists for), so:
    *
    *  - hulls that DON'T overlap prove their segments value-disjoint,
    *    and value-disjoint span segments CONCATENATE for free: each
    *    point's rows still exceed the previous point's value (they
    *    are ≥ their own segment's floor > the previous segment's
    *    hull), and a rank lookup's error stays confined to the piece
    *    containing the probe — the concatenated budget is the MAX of
    *    the piece budgets, not the sum;
    *  - hulls that DO overlap cluster together, and each cluster is
    *    recomputed by ONE summarize over exactly the cluster's value
    *    interval, reading only the files whose manifest stats
    *    intersect it (a file with no usable stats must be read).
    *
    * A time-ordered ingest history (event-time appends) is mostly
    * value-disjoint, so its compaction tick reads nothing at all —
    * the shape that previously paid a full-table re-ANALYZE every
    * `maxSegments` appends. Returns None when the row-conservation
    * invariant fails (a hull bug would otherwise serve wrong stats) —
    * the caller falls back to the full analyze.
    */
  private def compactColumn(spark: SparkSession, table: String,
                            entries: Seq[SnapshotTable.FileEntry],
                            schema: Option[String], c: String, m: Int,
                            segs: Seq[RankSummary])
      : Option[(RankSummary, (Int, Int))] = {
    // an n = 0 segment (a column all-null at ANALYZE time) has no
    // points and no hull — it encloses nothing, so it simply drops
    // from the fold (the conservation check below counts its 0 rows)
    val hulls = segs.filter(_.n > 0L).map { s =>
      (if (s.lo.isNaN) Double.NegativeInfinity else s.lo,
        s.values.last, s)
    }.sortBy(_._1)
    if (hulls.isEmpty)
      return Some((RankSummary(c, m, 0L, 0L, Array.empty, Array.empty),
        (0, entries.size)))
    // sweep into maximal overlap clusters (closed-interval union)
    val clusters = scala.collection.mutable.ArrayBuffer
      .empty[(Double, Double, scala.collection.mutable.ArrayBuffer[RankSummary])]
    hulls.foreach { case (lo, hi, s) =>
      clusters.lastOption match {
        case Some(last) if lo <= last._2 =>
          clusters(clusters.length - 1) =
            (last._1, math.max(last._2, hi), last._3 += s)
        case _ =>
          clusters += ((lo, hi, scala.collection.mutable.ArrayBuffer(s)))
      }
    }
    var filesRead = 0
    val pieces = clusters.toSeq.map { case (cLo, cHi, members) =>
      if (members.size == 1) members.head
      else {
        val hit = entries.filter { e =>
          e.stats.find(_.col == c) match {
            case Some(st) if !st.lo.isNaN && !st.hi.isNaN =>
              !(st.hi < cLo || st.lo > cHi)
            case _ => true // no usable stats: must read
          }
        }
        filesRead += hit.size
        val v = col(c).cast("double")
        val cond = v.isNotNull && !isnan(v) &&
          (if (cLo == Double.NegativeInfinity) lit(true) else v >= cLo) &&
          v <= cHi
        summarize(SnapshotTable.readFiles(spark, table, hit, schema)
          .filter(cond), c, m)
      }
    }
    val n = pieces.map(_.n).sum
    // row conservation: the clusters partition exactly the summarized
    // rows — a miscount means a hull failed to enclose its rows, and
    // serving from it would be a lie
    if (n != segs.map(_.n).sum) return None
    val floor = pieces.head.lo
    Some((RankSummary(c, m, n, pieces.map(_.errRows).max,
      pieces.flatMap(_.values.toSeq).toArray,
      pieces.flatMap(_.weights.toSeq).toArray,
      spans = pieces.forall(_.spans), lo = floor),
      (filesRead, entries.size)))
  }

  /** Re-compress weighted points to ≈ `m`, folding runs of total weight
    * `⌈W/m⌉` into their last point. Adds exactly that spacing to the
    * error budget (0 when nothing folds).
    */
  private[sources] def compress(values: Array[Double], weights: Array[Long],
                                m: Int): (Array[Double], Array[Long], Long) = {
    if (values.length <= m) return (values, weights, 0L)
    val w = weights.sum
    val s = math.max(1L, (w + m - 1) / m)
    val outV = scala.collection.mutable.ArrayBuffer.empty[Double]
    val outW = scala.collection.mutable.ArrayBuffer.empty[Long]
    var acc = 0L
    var i = 0
    while (i < values.length) {
      acc += weights(i)
      if (acc >= s || i == values.length - 1) {
        outV += values(i); outW += acc; acc = 0L
      }
      i += 1
    }
    (outV.toArray, outW.toArray, s)
  }

  /** Merge two summaries of the same column: value-ordered weighted
    * union, error budgets ADD (overlapping ranges — unlike
    * [[summarize]]'s disjoint slices), plus the re-compression spacing.
    */
  def merge(a: RankSummary, b: RankSummary): RankSummary = {
    require(a.col == b.col && a.m == b.m,
      s"rank merge: mismatched summaries (${a.col}/${a.m} vs ${b.col}/${b.m})")
    if (a.n == 0L) return b
    if (b.n == 0L) return a
    val order = (a.values.zip(a.weights) ++ b.values.zip(b.weights))
      .sortBy(_._1)
    val (v, w, addErr) =
      compress(order.map(_._1), order.map(_._2), a.m)
    RankSummary(a.col, a.m, a.n + b.n, a.errRows + b.errRows + addErr, v, w,
      spans = false,
      lo = if (a.lo.isNaN || b.lo.isNaN) Double.NaN
        else math.min(a.lo, b.lo))
  }

  // ---- sidecar I/O (same replace-by-rename shape as the NDV tier) ----

  private def rankPath(table: String) = new Path(table, "_stats/rank.json")

  private def fs(spark: SparkSession, table: String) =
    new Path(table).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def b64d(xs: Array[Double]): String = {
    val bb = java.nio.ByteBuffer.allocate(xs.length * 8)
    xs.foreach(bb.putDouble)
    java.util.Base64.getEncoder.encodeToString(bb.array())
  }
  private def b64l(xs: Array[Long]): String = {
    val bb = java.nio.ByteBuffer.allocate(xs.length * 8)
    xs.foreach(bb.putLong)
    java.util.Base64.getEncoder.encodeToString(bb.array())
  }
  private def fromB64d(s: String): Array[Double] = {
    val bb = java.nio.ByteBuffer.wrap(java.util.Base64.getDecoder.decode(s))
    Array.fill(bb.remaining() / 8)(bb.getDouble)
  }
  private def fromB64l(s: String): Array[Long] = {
    val bb = java.nio.ByteBuffer.wrap(java.util.Base64.getDecoder.decode(s))
    Array.fill(bb.remaining() / 8)(bb.getLong)
  }

  // "lo" (raw IEEE bits of the true row minimum) is optional: a legacy
  // sidecar parses with it absent → NaN → unknown floor, which the
  // compaction path treats as an unbounded-below hull (honest degrade)
  private val sumRe =
    raw"""\{"col":"([^"]*)","m":(\d+),"n":(\d+),"err":(\d+),"sp":([01]),"vals":"([A-Za-z0-9+/=]*)","wts":"([A-Za-z0-9+/=]*)"(?:,"lo":(-?\d+))?\}""".r
  private val fileRe =
    raw"""\{"version":(\d+),"filesFp":"([0-9a-f]*)","delFp":"([0-9a-f]*)","summaries":\[(.*)\]\}""".r

  private def writeRanks(spark: SparkSession, table: String,
                         rf: RankFile): Unit = {
    val f = fs(spark, table)
    val p = rankPath(table)
    f.mkdirs(p.getParent)
    val body = rf.summaries.map { s =>
      val loPart = if (s.lo.isNaN) ""
        else s""","lo":${java.lang.Double.doubleToRawLongBits(s.lo)}"""
      s"""{"col":"${s.col}","m":${s.m},"n":${s.n},"err":${s.errRows},"sp":${if (s.spans) 1 else 0},"vals":"${b64d(s.values)}","wts":"${b64l(s.weights)}"$loPart}"""
    }.mkString(",")
    val json =
      s"""{"version":${rf.version},"filesFp":"${rf.filesFp}","delFp":"${rf.delFp}","summaries":[$body]}"""
    val tmp = new Path(p.getParent, s".rank-${java.util.UUID.randomUUID}.tmp")
    val out = f.create(tmp, true)
    try out.write(json.getBytes("UTF-8")) finally out.close()
    if (f.exists(p)) f.delete(p, false)
    require(f.rename(tmp, p), s"rank stats: could not publish $p")
  }

  /** The recorded sidecar, if present and parseable. */
  def readRanks(spark: SparkSession, table: String): Option[RankFile] = {
    val f = fs(spark, table)
    val p = rankPath(table)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      val body = try {
        val bos = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, bos, 65536, false)
        bos.toString("UTF-8")
      } finally in.close()
      body.trim match {
        case fileRe(v, ffp, dfp, sk) =>
          val sums = sumRe.findAllMatchIn(sk).map(mm =>
            RankSummary(mm.group(1), mm.group(2).toInt, mm.group(3).toLong,
              mm.group(4).toLong, fromB64d(mm.group(6)),
              fromB64l(mm.group(7)), spans = mm.group(5) == "1",
              lo = Option(mm.group(8))
                .map(b => java.lang.Double.longBitsToDouble(b.toLong))
                .getOrElse(Double.NaN))).toSeq
          Some(RankFile(v.toLong, ffp, dfp, sums))
        case _ => None
      }
    }
  }

  /** Compute + publish rank summaries for the table's CURRENT version
    * (the masked read — pending deletes applied).
    */
  def analyze(spark: SparkSession, table: String, cols: Seq[String],
              m: Int = 1024): RankFile = {
    val v = SnapshotTable.currentVersion(spark, table)
    val df = SnapshotTable.readVersion(spark, table, v)
    // all columns in one fused pass (single-column inputs keep the
    // dedicated per-column plan — same jobs, no explode overhead)
    val sums = summarizeAll(df, cols.map(c => (c, m)))
    val (ffp, dfp) = TableStats.fingerprints(spark, table, v)
    val rf = RankFile(v, ffp, dfp, sums)
    writeRanks(spark, table, rf)
    rf
  }

  /** Advance the sidecar to the current version: DELTA when every
    * commit since the recorded version only ADDED files; full
    * [[analyze]] otherwise (a summary cannot subtract). The delta path
    * is SPAN-PRESERVING: the fresh files are summarized into a NEW
    * per-column SEGMENT appended next to the recorded ones — never
    * merged into them — so every segment keeps its span property and
    * the span-gated optimizations (DESC rank-topk pushdown, quantile
    * broadcast sizing) stay armed at ingest cadence. The budget story
    * improves too: each serve pays Σ segment errRows (each
    * `⌈n_seg/m⌉`), where the old merge path re-compressed the WHOLE
    * point list (`⌈n_total/m⌉` added per refresh).
    *
    * A column reaching `maxSegments` triggers one full [[analyze]]
    * instead (segment compaction) — O(table) once per `maxSegments`
    * appends, amortized O(n/maxSegments) per tick, and it resets the
    * budget to a single exact-spacing segment. Returns the published
    * file and whether the delta path was taken.
    */
  def refresh(spark: SparkSession, table: String,
              maxSegments: Int = 8): (RankFile, Boolean) = {
    require(maxSegments >= 1, s"refresh: maxSegments must be >= 1")
    val prev = readRanks(spark, table).getOrElse(
      sys.error(s"rank stats: $table has no recorded sidecar — run analyze"))
    val cols = prev.summaries.map(_.col).distinct
    def mOf = prev.summaries.headOption.map(_.m).getOrElse(1024)
    val cur = SnapshotTable.currentVersion(spark, table)
    if (cur == prev.version) (prev, true)
    else {
      val oldEntries = SnapshotTable.readManifest(spark, table, prev.version)
      val newEntries = SnapshotTable.readManifest(spark, table, cur)
      val (_, oldDel, _) = SnapshotTable.readListRaw(spark, table, prev.version)
      val (_, newDel, hdr) = SnapshotTable.readListRaw(spark, table, cur)
      val oldPaths = oldEntries.map(_.path).toSet
      val removed = oldPaths -- newEntries.map(_.path).toSet
      val appendOnly = removed.isEmpty &&
        oldDel.map(_.path).sorted == newDel.map(_.path).sorted &&
        TableStats.fingerprints(spark, table, prev.version)._1 == prev.filesFp
      if (appendOnly) {
        val freshEntries = newEntries.filterNot(e => oldPaths.contains(e.path))
        locally {
          val segmented =
            if (freshEntries.isEmpty) prev.summaries
            else {
              val freshDf =
                SnapshotTable.readFiles(spark, table, freshEntries, hdr.schema)
              // one new segment per column, ALL columns in one fused
              // pass whose spacing comes from the MANIFEST's fresh-row
              // total instead of a count job — a typical append window
              // summarizes every tracked column in a single Spark job.
              // An all-null/empty window adds nothing (an empty
              // segment proves nothing and costs a slot); unmeasured
              // fixture entries (rows = 0) fall back to the counted
              // spacing — a bogus upper bound of 0 would emit a point
              // per row.
              val rowsUpper = Some(freshEntries.map(_.rows).sum)
                .filter(_ => freshEntries.forall(_.rows > 0L))
              val specs = cols.map(c =>
                (c, prev.summaries.find(_.col == c).map(_.m).getOrElse(mOf)))
              prev.summaries ++
                summarizeAll(freshDf, specs, rowsUpper).filter(_.n > 0L)
            }
          // SEGMENT COMPACTION for columns over the cap: fold their
          // segments to ONE at O(overlap) — value-disjoint hulls
          // concatenate for free, only overlapping clusters re-read
          // their (manifest-pruned) files. Pending delete masks force
          // the full masked analyze instead: old files cannot be
          // re-read raw without resurrecting deleted rows. A failed
          // conservation invariant (legacy hulls) falls back the same
          // way.
          val overCap =
            cols.filter(c => segmented.count(_.col == c) > maxSegments)
          lastCompaction = None
          val finalSums: Option[Seq[RankSummary]] =
            if (overCap.isEmpty) Some(segmented)
            else if (newDel.nonEmpty) None
            else {
              val audits = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
              val done = overCap.foldLeft(Option(segmented)) { (acc, c) =>
                acc.flatMap { sums =>
                  val mc = sums.find(_.col == c).map(_.m).getOrElse(mOf)
                  compactColumn(spark, table, newEntries, hdr.schema, c,
                    mc, sums.filter(_.col == c)).map { case (one, audit) =>
                    audits += audit
                    sums.filterNot(_.col == c) :+ one
                  }
                }
              }
              if (done.isDefined)
                lastCompaction =
                  Some((audits.map(_._1).sum, audits.map(_._2).sum))
              done
            }
          finalSums match {
            case Some(sums) =>
              val (ffp, dfp) = TableStats.fingerprints(spark, table, cur)
              val rf = RankFile(cur, ffp, dfp, sums)
              writeRanks(spark, table, rf)
              (rf, true)
            case None =>
              (analyze(spark, table, cols, mOf), false)
          }
        }
      } else
        (analyze(spark, table, cols, mOf), false)
    }
  }

  /** Re-bind across a row-set-preserving maintenance commit — the
    * [[TableStats.rebind]] twin, same proof obligations.
    */
  def rebind(spark: SparkSession, table: String,
             fromVersion: Long, toVersion: Long): Boolean =
    readRanks(spark, table) match {
      case Some(rf) if rf.version == fromVersion &&
          TableStats.fingerprints(spark, table, fromVersion) ==
            ((rf.filesFp, rf.delFp)) =>
        val (ffp, dfp) = TableStats.fingerprints(spark, table, toVersion)
        writeRanks(spark, table, RankFile(toVersion, ffp, dfp, rf.summaries))
        true
      case _ => false
    }

  /** Quantiles served WITH a freshness proof: fires only when the
    * sidecar's fingerprints match the table's CURRENT version (the
    * summaries describe exactly the rows a reader sees). Returns
    * (values, errRows, n); None when stale, missing, or the column was
    * never analyzed — degrade to a scan, never lie.
    */
  def quantilesServed(spark: SparkSession, table: String, column: String,
                      qs: Seq[Double]): Option[(Seq[Double], Long, Long)] =
    readRanks(spark, table).flatMap { rf =>
      val cur = SnapshotTable.currentVersion(spark, table)
      if (rf.version != cur) None
      else if (TableStats.fingerprints(spark, table, cur) !=
        ((rf.filesFp, rf.delFp))) None
      else {
        val segs = rf.summaries.filter(s => s.col == column && s.n > 0L)
        if (segs.isEmpty) None
        else {
          val view = SegmentView(segs)
          Some((qs.map(view.flat.quantile), view.errRows, view.n))
        }
      }
    }

  /** Equi-depth histogram served WITH the same freshness proof as
    * [[quantilesServed]]: fires only when the sidecar's version AND
    * fingerprints match the table's CURRENT version. The current-version
    * fingerprint check (not [[segmentsFor]]'s planned-path check) is
    * load-bearing: a DELETE-only commit adds delete files without
    * changing data paths, so a path fingerprint alone would still match
    * and the histogram would silently include deleted rows. None when
    * stale, missing, or the column was never analyzed.
    */
  def histogramServed(spark: SparkSession, table: String, column: String,
                      buckets: Int): Option[Seq[(Double, Double, Long)]] =
    readRanks(spark, table).flatMap { rf =>
      val cur = SnapshotTable.currentVersion(spark, table)
      if (rf.version != cur) None
      else if (TableStats.fingerprints(spark, table, cur) !=
        ((rf.filesFp, rf.delFp))) None
      else {
        val segs = rf.summaries.filter(s => s.col == column && s.n > 0L)
        if (segs.isEmpty) None
        else Some(SegmentView(segs).flat.histogram(buckets))
      }
    }

  /** PROVEN row upper bound for a range predicate on `column`, for a
    * reader planning exactly `plannedPaths` — the optimizer's
    * selectivity interface ([[graft.plans.StatsBroadcast]]): fires only
    * when the sidecar's fingerprint matches the planned file list, the
    * analyzed state had no pending delete masks, and EVERY segment
    * holds the span property (true for analyze output and for
    * [[refresh]]'s span-preserving delta segments; only a legacy
    * merged summary refuses). Never an estimate.
    */
  def rangeBound(spark: SparkSession, table: String, column: String,
                 plannedPaths: Seq[String],
                 lo: Option[Double], hi: Option[Double]): Option[Long] =
    segmentsFor(spark, table, column, plannedPaths)
      .flatMap(_.rangeUpper(lo, hi))

  /** [[rangeBound]]'s SUBSET form, for UPPER-BOUND-ONLY consumers
    * ([[graft.plans.StatsBroadcast]] sizing a partition-pruned side):
    * also fires when the planned files are a strict subset of the
    * analyzed live set — a subset holds no row the analyzed set lacks,
    * so the whole-table bound stays an upper bound (the
    * [[TableStats.boundDistinct]] argument). NEVER valid for
    * row-membership proofs (RankTopK's thresholds promise rows exist
    * IN the planned subset and keep the exact-set gate). The subset
    * proof reads the analyzed version's manifest once (driver-side
    * metadata); a vacuumed-away manifest or any pending delete mask at
    * analyze time refuses.
    */
  def rangeBoundSubset(spark: SparkSession, table: String, column: String,
                       plannedPaths: Seq[String],
                       lo: Option[Double], hi: Option[Double]): Option[Long] =
    readRanks(spark, table).flatMap { rf =>
      if (rf.delFp != TableStats.sha1(Seq.empty)) None
      else {
        val whole = rf.filesFp == TableStats.sha1(plannedPaths)
        val proven = whole || {
          try {
            val analyzed = SnapshotTable
              .readManifest(spark, table, rf.version).map(_.path)
            // the fingerprint re-check pins that rf.version's manifest
            // is really the analyzed state (rebind rewrites both)
            TableStats.sha1(analyzed) == rf.filesFp &&
              plannedPaths.forall(analyzed.toSet.contains)
          } catch { case _: java.io.IOException => false }
        }
        if (!proven) None
        else {
          val segs = rf.summaries.filter(_.col == column)
          if (segs.isEmpty) None
          else SegmentView(segs).rangeUpper(lo, hi)
        }
      }
    }

  /** The recorded segments for `column` IFF the sidecar describes
    * exactly `plannedPaths` with no pending delete masks — the shared
    * proof gate of every optimizer consumer ([[rangeBound]],
    * [[graft.plans.RankTopK]]).
    */
  def segmentsFor(spark: SparkSession, table: String, column: String,
                  plannedPaths: Seq[String]): Option[SegmentView] =
    readRanks(spark, table).flatMap { rf =>
      if (rf.filesFp != TableStats.sha1(plannedPaths)) None
      else if (rf.delFp != TableStats.sha1(Seq.empty)) None
      else {
        val segs = rf.summaries.filter(_.col == column)
        if (segs.isEmpty) None else Some(SegmentView(segs))
      }
    }

  // ---- driver queries -------------------------------------------------

  // fixture-vs-measured split: the table build + ANALYZE are the
  // one-time layout/stats cost (memoized per session × corpus, exactly
  // like a pipeline that analyzes once per ingest window); the measured
  // path is what a 100 TB user pays per report — the metadata serve
  // plus the validation scan.
  /** EXACT regime end-to-end: a ≤-m-row snapshot table's sidecar serves
    * quantiles as true order statistics, replayed by the oracle as a
    * rank window over the same rows. A wrong weight, a mis-ordered
    * point, or a broken lookup shifts a rank and breaks the hash.
    */
  private def exactFixture(s: SparkSession, dir: String): String =
    Staged(s, dir, "graft_rank_ex") {
      val t = Staged.scratch(s, "graft_rank_ex") + "/t"
      // % 101 keeps the slice under m through the bench SF (sf0.1 →
      // ~1.5k rows), so the exact regime (weight-1 points, errRows 0)
      // holds at every driver scale
      val slice = Tables.orders(s, dir)
        .filter(col("o_orderkey") % 101 === 0)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
      SnapshotTable.create(s, t, slice, "o_orderpriority")
      RankStats.analyze(s, t, Seq("o_totalprice"), m = 8192)
      t
    }

  def exactQuantileQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val t = exactFixture(s, dir)
    val (vals, err, n) = quantilesServed(s, t, "o_totalprice",
      Seq(0.25, 0.5, 0.75, 0.9)).get
    require(err == 0L, s"exact-regime query: expected errRows 0, got $err")
    Seq(("p25", vals(0)), ("p50", vals(1)), ("p75", vals(2)), ("p90", vals(3)))
      .toDF("q", "value")
      .withColumn("n_rows", lit(n))
      .orderBy(col("q"))
  }

  /** Compressed regime with the bound checked IN the result: summaries
    * of the full orders price column at a small `m` (compression
    * forced), each served quantile's true rank measured by a
    * count-below scan, `within_bound` asserting |rank − target| ≤
    * errRows. The oracle replays the exact interpolated percentile and
    * the constant-true flags — the flags are the spec-grade claim made
    * oracle-visible.
    */
  def boundedQuantileQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val t = Staged(s, dir, "graft_rank_bd") {
      val t = Staged.scratch(s, "graft_rank_bd") + "/t"
      val orders = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
      SnapshotTable.create(s, t, orders, "o_orderpriority")
      RankStats.analyze(s, t, Seq("o_totalprice"), m = 256)
      t
    }
    val qs = Seq(0.5, 0.9, 0.99)
    val (vals, err, n) = quantilesServed(s, t, "o_totalprice", qs).get
    val probes = qs.zip(vals).map { case (q, v) =>
      (f"p$q%.2f", q, v, math.max(1L, math.ceil(q * n).toLong))
    }.toDF("q", "frac", "sketch_value", "target_rank")
    val df = SnapshotTable.read(s, t)
    // tie-robust rank check: the served value occupies the rank
    // interval [count(< v) + 1, count(<= v)]; the claim holds iff that
    // interval intersects [target − err, target + err] — a plain
    // |count(<= v) − target| test would false-alarm on tied values,
    // whose count(<= v) legitimately overshoots the interval
    probes.as("p").join(df.as("d"), lit(true), "left")
      .groupBy(col("p.q"), col("p.frac"), col("p.target_rank"))
      .agg(
        count(when(col("d.o_totalprice") < col("p.sketch_value"), 1))
          .as("rank_lt"),
        count(when(col("d.o_totalprice") <= col("p.sketch_value"), 1))
          .as("rank_le"))
      .select(col("q"), col("frac"),
        (col("rank_lt") + 1 <= col("target_rank") + lit(err) &&
          col("rank_le") >= col("target_rank") - lit(err))
          .cast("long").as("within_bound"))
      .join(
        df.groupBy().agg(
          expr("percentile(o_totalprice, array(0.5, 0.9, 0.99))").as("ex")),
        lit(true))
      .select(col("q"),
        round(when(col("frac") === 0.5, element_at(col("ex"), 1))
          .when(col("frac") === 0.9, element_at(col("ex"), 2))
          .otherwise(element_at(col("ex"), 3)), 4).as("exact_pctile"),
        col("within_bound"))
      .orderBy(col("q"))
  }

  /** The same exact-regime serve driven PURELY through `spark.sql` —
    * the SQL user's whole path: `snapshot_quantiles` answers from the
    * sidecar with its freshness proof, no Scala API in sight.
    */
  def sqlQuantileQuery(s: SparkSession, dir: String): DataFrame = {
    SnapshotSql.register(s)
    val t = exactFixture(s, dir)
    s.sql(
      s"""SELECT q, value, CAST(err_rows AS BIGINT) AS err_rows,
         |  CAST(n_rows AS BIGINT) AS n_rows
         |FROM snapshot_quantiles('$t', 'o_totalprice', 0.1D, 0.5D, 0.95D)
         |ORDER BY q""".stripMargin)
  }

  /** The planner composition end-to-end: a price slice of the orders
    * dim that NO file stat can size (the layout clusters on the key,
    * so min/max skip nothing and the side weighs full-table bytes to
    * the file bound) broadcasts because the rank summary bounds the
    * rows that can pass. StatsBroadcastSpec pins the plan flip; this
    * query pins the RESULT — an unsound row bound that broadcast a
    * wrong build would break the oracle hash.
    */
  def rankBroadcastQuery(s: SparkSession, dir: String): DataFrame = {
    val t = Staged(s, dir, "graft_rank_bc") {
      val t = Staged.scratch(s, "graft_rank_bc") + "/t"
      val orders = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
      SnapshotTable.create(s, t, orders, "o_orderpriority",
        statsCols = Seq("o_orderkey"))
      RankStats.analyze(s, t, Seq("o_totalprice"), m = 256)
      t
    }
    val dim = SnapshotTable.read(s, t)
      .filter(col("o_totalprice") < 30000.0)
      .select(col("o_orderkey"), col("o_totalprice"))
    Tables.lineitem(s, dir)
      .join(dim, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
          .as("sum_qty"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("sum_price"),
        max(col("l_orderkey")).as("max_key"))
      .orderBy(col("l_returnflag"))
  }

  /** Top-k through the rank-threshold rewrite: the cheapest 20 orders
    * off a price-clustered snapshot, planned as a `price <= v`
    * prefilter (v proven by the summary to cover ≥ 20 rows) plus
    * TakeOrderedAndProject over the few files min/max cannot exclude.
    * RankTopKSpec pins the file pruning and every refusal; this query
    * pins the RESULT — a threshold that cut a true top-k row breaks
    * the oracle hash. The trailing unique key makes tie order
    * engine-stable.
    */
  private def topkFixture(s: SparkSession, dir: String): String =
    Staged(s, dir, "graft_rank_tk") {
      val t = Staged.scratch(s, "graft_rank_tk") + "/t"
      val orders = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
      SnapshotTable.create(s, t, orders, "o_orderpriority",
        statsCols = Seq("o_totalprice"))
      RankStats.analyze(s, t, Seq("o_totalprice"), m = 256)
      t
    }

  def rankTopKQuery(s: SparkSession, dir: String): DataFrame = {
    val t = topkFixture(s, dir)
    SnapshotTable.read(s, t)
      .orderBy(col("o_totalprice"), col("o_orderkey"))
      .limit(20)
      .select(col("o_orderkey"), col("o_totalprice"))
  }

  /** The FILTERED top-k — `WHERE part = X ORDER BY price LIMIT 20` —
    * the most common real top-k shape and the one the table-wide
    * sidecar can never serve: the threshold is proven instead from
    * per-file (lo, hi, nulls, rows) over exactly the files whose
    * partition stamp equals X ([[graft.plans.RankTopK]] tier 2).
    * RankTopKSpec pins the file pruning; this query pins the RESULT
    * against the oracle's plain filtered DESC/ASC SQL.
    */
  def rankTopKPartQuery(s: SparkSession, dir: String): DataFrame = {
    val t = topkFixture(s, dir)
    SnapshotTable.read(s, t)
      .filter(col("o_orderpriority") === "1-URGENT")
      .orderBy(col("o_totalprice"), col("o_orderkey"))
      .limit(20)
      .select(col("o_orderkey"), col("o_totalprice"))
  }

  /** The RANGE-filtered top-k — `WHERE part >= X ORDER BY price LIMIT
    * 20` — the other common filtered shape: the partition-RANGE
    * conjunct keeps whole files exactly like equality (one stamp per
    * file), so the threshold is proven from per-file stats over the
    * range's files ([[graft.plans.RankTopK]] tier 2). RankTopKSpec
    * pins the file pruning (string, numeric, and BETWEEN shapes); this
    * query pins the RESULT against the oracle's plain range SQL.
    */
  def rankTopKRangeQuery(s: SparkSession, dir: String): DataFrame = {
    val t = topkFixture(s, dir)
    SnapshotTable.read(s, t)
      .filter(col("o_orderpriority") >= "3")
      .orderBy(col("o_totalprice"), col("o_orderkey"))
      .limit(20)
      .select(col("o_orderkey"), col("o_totalprice"))
  }

  /** The DESC twin AT INGEST CADENCE — the exact shape that was dark
    * before span-preserving refresh: the table is created WITHOUT a
    * slice of orders, rank-ANALYZEd, then the slice is APPENDED and the
    * sidecar advanced by a DELTA refresh (asserted — a silent full
    * analyze would prove nothing). The `ORDER BY price DESC LIMIT 20`
    * threshold must then be proven ACROSS segments ([[SegmentView
    * .descThreshold]]); RankTopKSpec pins the file pruning, this query
    * pins the RESULT — an unsound cross-segment threshold that cut a
    * true top-k row (including one living in the appended slice) breaks
    * the oracle hash against plain full-table DESC SQL.
    */
  def rankTopKDescQuery(s: SparkSession, dir: String): DataFrame = {
    val t = Staged(s, dir, "graft_rank_tkdesc") {
      val t = Staged.scratch(s, "graft_rank_tkdesc") + "/t"
      val orders = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
      SnapshotTable.create(s, t, orders.filter(col("o_orderkey") % 7 =!= 0),
        "o_orderpriority", statsCols = Seq("o_totalprice"))
      RankStats.analyze(s, t, Seq("o_totalprice"), m = 256)
      SnapshotTable.commitAppend(s, t,
        orders.filter(col("o_orderkey") % 7 === 0), "o_orderpriority")
      val (rf, delta) = RankStats.refresh(s, t)
      require(delta, "desc-topk fixture: append window must take the " +
        "delta path (a full analyze would not exercise segments)")
      require(rf.summaries.forall(_.spans),
        "desc-topk fixture: delta segments must keep the span property")
      t
    }
    SnapshotTable.read(s, t)
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(20)
      .select(col("o_orderkey"), col("o_totalprice"))
  }

  /** Equi-depth histogram through the TVF on the exact-regime fixture —
    * four buckets of the price slice, replayed by the oracle as a
    * rank-group rollup (bucket = ⌊(rank−1)/⌈n/4⌉⌋): boundaries are
    * values AT specific ranks, so the comparison is tie-stable.
    */
  def sqlHistogramQuery(s: SparkSession, dir: String): DataFrame = {
    SnapshotSql.register(s)
    val t = exactFixture(s, dir)
    s.sql(
      s"""SELECT CAST(bucket AS BIGINT) AS bucket, lo, hi,
         |  CAST(n_rows AS BIGINT) AS n_rows
         |FROM snapshot_histogram('$t', 'o_totalprice', 4)
         |ORDER BY bucket""".stripMargin)
  }

  override def queries: Map[String, QueryPack.Q] = Map(
    "q_rank_exact" -> (exactQuantileQuery _),
    "q_rank_bound" -> (boundedQuantileQuery _),
    "q_sql_quantiles" -> (sqlQuantileQuery _),
    "q_rank_broadcast" -> (rankBroadcastQuery _),
    "q_rank_topk" -> (rankTopKQuery _),
    "q_rank_topk_desc" -> (rankTopKDescQuery _),
    "q_rank_topk_part" -> (rankTopKPartQuery _),
    "q_rank_topk_range" -> (rankTopKRangeQuery _),
    "q_sql_histogram" -> (sqlHistogramQuery _))

  override def oracleSql: Map[String, String] = Map(
    "q_rank_exact" ->
      """WITH slice AS (
        |  SELECT o_totalprice FROM orders WHERE o_orderkey % 101 = 0
        |), ranked AS (
        |  SELECT o_totalprice AS v,
        |    row_number() OVER (ORDER BY o_totalprice) AS rn,
        |    count(*) OVER () AS n
        |  FROM slice
        |)
        |SELECT q, value, CAST(n_rows AS BIGINT) AS n_rows FROM (
        |  SELECT 'p25' AS q,
        |    (SELECT v FROM ranked
        |     WHERE rn = GREATEST(1, CAST(CEIL(0.25 * n) AS BIGINT)) LIMIT 1)
        |      AS value,
        |    (SELECT count(*) FROM slice) AS n_rows
        |  UNION ALL
        |  SELECT 'p50',
        |    (SELECT v FROM ranked
        |     WHERE rn = GREATEST(1, CAST(CEIL(0.50 * n) AS BIGINT)) LIMIT 1),
        |    (SELECT count(*) FROM slice)
        |  UNION ALL
        |  SELECT 'p75',
        |    (SELECT v FROM ranked
        |     WHERE rn = GREATEST(1, CAST(CEIL(0.75 * n) AS BIGINT)) LIMIT 1),
        |    (SELECT count(*) FROM slice)
        |  UNION ALL
        |  SELECT 'p90',
        |    (SELECT v FROM ranked
        |     WHERE rn = GREATEST(1, CAST(CEIL(0.90 * n) AS BIGINT)) LIMIT 1),
        |    (SELECT count(*) FROM slice)
        |) ORDER BY q""".stripMargin,
    "q_rank_topk" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice, o_orderkey LIMIT 20""".stripMargin,
    "q_rank_topk_desc" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""".stripMargin,
    "q_rank_topk_part" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_orderpriority = '1-URGENT'
        |ORDER BY o_totalprice, o_orderkey LIMIT 20""".stripMargin,
    "q_rank_topk_range" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_orderpriority >= '3'
        |ORDER BY o_totalprice, o_orderkey LIMIT 20""".stripMargin,
    "q_sql_histogram" ->
      """WITH slice AS (
        |  SELECT o_totalprice AS v FROM orders WHERE o_orderkey % 101 = 0
        |), ranked AS (
        |  SELECT v, row_number() OVER (ORDER BY v) AS rn,
        |    count(*) OVER () AS n
        |  FROM slice
        |)
        |SELECT CAST(FLOOR((rn - 1) / CEIL(n * 1.0 / 4)) + 1 AS BIGINT)
        |    AS bucket,
        |  MIN(v) AS lo, MAX(v) AS hi, CAST(count(*) AS BIGINT) AS n_rows
        |FROM ranked
        |GROUP BY 1 ORDER BY bucket""".stripMargin,
    "q_rank_broadcast" ->
      """SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_price,
        |  CAST(max(l_orderkey) AS BIGINT) AS max_key
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_totalprice < 30000.0
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_sql_quantiles" ->
      """WITH slice AS (
        |  SELECT o_totalprice FROM orders WHERE o_orderkey % 101 = 0
        |), ranked AS (
        |  SELECT o_totalprice AS v,
        |    row_number() OVER (ORDER BY o_totalprice) AS rn,
        |    count(*) OVER () AS n
        |  FROM slice
        |)
        |SELECT q, value, CAST(0 AS BIGINT) AS err_rows,
        |  (SELECT CAST(count(*) AS BIGINT) FROM slice) AS n_rows
        |FROM (
        |  SELECT CAST(0.1 AS DOUBLE) AS q,
        |    (SELECT v FROM ranked
        |     WHERE rn = GREATEST(1, CAST(CEIL(0.1 * n) AS BIGINT)) LIMIT 1)
        |      AS value
        |  UNION ALL
        |  SELECT CAST(0.5 AS DOUBLE),
        |    (SELECT v FROM ranked
        |     WHERE rn = GREATEST(1, CAST(CEIL(0.5 * n) AS BIGINT)) LIMIT 1)
        |  UNION ALL
        |  SELECT CAST(0.95 AS DOUBLE),
        |    (SELECT v FROM ranked
        |     WHERE rn = GREATEST(1, CAST(CEIL(0.95 * n) AS BIGINT)) LIMIT 1)
        |) ORDER BY q""".stripMargin,
    "q_rank_bound" ->
      """SELECT q,
        |  ROUND(CASE q WHEN 'p0.50' THEN quantile_cont(o_totalprice, 0.5)
        |               WHEN 'p0.90' THEN quantile_cont(o_totalprice, 0.9)
        |               ELSE quantile_cont(o_totalprice, 0.99) END, 4)
        |    AS exact_pctile,
        |  CAST(1 AS BIGINT) AS within_bound
        |FROM orders, (SELECT 'p0.50' AS q UNION ALL SELECT 'p0.90'
        |              UNION ALL SELECT 'p0.99') qs
        |GROUP BY q ORDER BY q""".stripMargin)
}
