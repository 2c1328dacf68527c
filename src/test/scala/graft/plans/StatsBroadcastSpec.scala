package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.SparkSpec.{withConf, withoutRules}
import graft.sources.SnapshotTable

/** The stats-broadcast rule must (a) turn a shuffle join into a STATIC
  * broadcast join when the snapshot side's manifest-pruned bytes fit
  * under `autoBroadcastJoinThreshold` (the static plan matters: AQE's
  * runtime conversion still pays both map stages' shuffle writes),
  * (b) change nothing about the result rows, and (c) stay conservative:
  * no hint when pruning cannot bring the side under the threshold,
  * when auto-broadcast is disabled, or when the user pinned a strategy.
  *
  * Plan assertions read `queryExecution.sparkPlan` — the pre-AQE
  * physical plan, i.e. the static planner's decision this rule exists
  * to improve (AQE may later convert the flag-off run too; that is the
  * runtime fallback, not the subject).
  */
class StatsBroadcastSpec extends SparkSpec {

  private def freshDir(): String =
    graft.Staged.scratch(spark, "statsbc") + "/t"

  // ~5 partitions x ~2000 rows of incompressible-ish payload: full
  // table well over the 64 KB test threshold, one partition well under
  private def dimTable(): String = {
    val t = freshDir()
    val df = spark.range(0, 10000).select(
      col("id").as("k"),
      concat(lit("p"), (col("id") % 5).cast("string")).as("p"),
      md5(col("id").cast("string")).as("pad"))
    SnapshotTable.create(spark, t, df, "p", statsCols = Seq("k"))
    t
  }

  // fact sized ABOVE the threshold so it is never the broadcast side
  private lazy val factPath: String = {
    val f = freshDir()
    spark.range(0, 40000).select(
      (col("id") % 10000).as("fk"),
      md5(concat(lit("f"), col("id").cast("string"))).as("fpad"))
      .write.parquet(f)
    f
  }

  private def fact: DataFrame = spark.read.parquet(factPath)

  private def bhj(df: DataFrame): Int =
    df.queryExecution.sparkPlan.collect {
      case b: BroadcastHashJoinExec => b }.size

  private def smj(df: DataFrame): Int =
    df.queryExecution.sparkPlan.collect {
      case s: SortMergeJoinExec => s }.size

  private def withThreshold[T](bytes: Long)(body: => T): T =
    withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> bytes.toString)(body)

  // keeps every dim column in the output so Spark's column-ratio
  // sizing cannot shrink the flag-off side under the threshold
  private def joined(dim: DataFrame): DataFrame =
    fact.join(dim, col("fk") === col("k"))
      .groupBy(col("p"))
      .agg(count(lit(1)).as("n"), sum(length(col("pad"))).as("padlen"))
      .orderBy(col("p"))

  test("partition-filtered dim under the threshold plans a STATIC " +
    "broadcast join; rule off plans a shuffle join; rows identical") {
    val t = dimTable()
    val full = SnapshotTable.tableStats(spark, t)._2
    assert(full > 131072L, s"fixture too small: $full")
    withThreshold(131072L) {
      def dim() = SnapshotTable.read(spark, t).filter(col("p") === "p3")
      val on = joined(dim())
      assert(bhj(on) === 1 && smj(on) === 0)
      // plan must be forced INSIDE the flag-off scope (planning is lazy)
      val (offBhj, offSmj, offRows) = withoutRules(spark, StatsBroadcast) {
        val d = joined(dim()); (bhj(d), smj(d), d.collect().toSeq)
      }
      assert(offBhj === 0 && offSmj === 1)
      assert(on.collect().toSeq === offRows)
    }
  }

  test("min/max-stat range filter on a non-partition column also sizes " +
    "the side (same pruning machinery as the scan)") {
    val t = dimTable()
    withThreshold(131072L) {
      // k is the stats column; files are key-ranged within partitions,
      // so a narrow k slice prunes most files across every partition
      def dim() = SnapshotTable.read(spark, t)
        .filter(col("k") >= 9950L)
      assert(bhj(joined(dim())) === 1)
      assert(withoutRules(spark, StatsBroadcast) { bhj(joined(dim())) } === 0)
    }
  }

  test("conservative: unfiltered big dim, disabled auto-broadcast, and " +
    "a user strategy hint are all left alone") {
    val t = dimTable()
    withThreshold(131072L) {
      // pruning cannot help an unfiltered read over the threshold
      assert(bhj(joined(SnapshotTable.read(spark, t))) === 0)
      // the user said merge: the measured size must not override it
      val pinned = joined(
        SnapshotTable.read(spark, t).filter(col("p") === "p3")
          .hint("shuffle_merge"))
      assert(bhj(pinned) === 0 && smj(pinned) === 1)
    }
    withThreshold(-1L) {
      val dis = joined(SnapshotTable.read(spark, t).filter(col("p") === "p3"))
      assert(bhj(dis) === 0)
    }
  }

  test("index-pruned inner join: its filtered snapshot dim broadcasts " +
    "statically by the manifest fold that prunes the fact (Spark's own " +
    "sizing sees the full dim); rule off shuffle-joins; rows identical") {
    import graft.sources.SecondaryIndex
    val t = dimTable()
    val f = freshDir()
    SnapshotTable.create(spark, f,
      fact.withColumn("fp", (col("fk") % 4).cast("string")), "fp")
    SecondaryIndex.create(spark, f, "fk", f + "_idx", buckets = 8)
    withThreshold(131072L) {
      // the dim keeps its full width in the output (its pad rides the
      // aggregate), so only the pruned-bytes proof can fit it
      def q() = SecondaryIndex.innerJoinPruned(spark, f, "fk", f + "_idx",
        SnapshotTable.read(spark, t).filter(col("p") === "p3"), "k",
        autoRefresh = false)
        .groupBy(col("p"))
        .agg(count(lit(1)).as("n"), sum(length(col("pad"))).as("padlen"),
          sum(length(col("fpad"))).as("fpadlen"))
      val on = q()
      assert(bhj(on) === 1 && smj(on) === 0)
      val (offBhj, offSmj, offRows) = withoutRules(spark, StatsBroadcast) {
        val d = q(); (bhj(d), smj(d), d.collect().toSeq)
      }
      assert(offBhj === 0 && offSmj === 1)
      assert(on.collect().toSeq === offRows)
    }
  }

  // ---- aggregate-side sizing (NDV-bounded builds) --------------------

  import graft.sources.TableStats

  /** Snapshot fact with a small key space: 20k rows over 50 keys. */
  private def keyedTable(): String = {
    val t = freshDir()
    SnapshotTable.create(spark, t,
      spark.range(0, 20000).select((col("id") % 50).as("k"),
        col("id").as("v"), (col("id") % 4).cast("string").as("p")), "p")
    t
  }

  // fact side kept wide so Spark's width scaling never broadcasts it,
  // and neither side fits the threshold without the NDV bound
  private def aggJoined(aggSide: DataFrame): DataFrame =
    fact.join(aggSide, col("fk") === col("k"))
      .groupBy(col("fpad")).agg(sum(col("s")).as("s2"))

  private def aggSideOf(t: String): DataFrame =
    SnapshotTable.read(spark, t).groupBy(col("k"))
      .agg(sum(col("v")).as("s"))

  test("ANALYZEd aggregate side broadcasts by its exact NDV bound") {
    val t = keyedTable()
    TableStats.analyze(spark, t, Seq("k"), k = 1024)
    withThreshold(16384L) {
      // 50 groups x fixed width << 16 KB; every other estimate refuses
      val q = aggJoined(aggSideOf(t))
      assert(bhj(q) === 1 && smj(q) === 0,
        q.queryExecution.sparkPlan.toString)
      val (offB, offS) = withoutRules(spark, StatsBroadcast) {
        val d = aggJoined(aggSideOf(t)); (bhj(d), smj(d)) }
      assert(offB === 0 && offS === 1)
      assert(q.collect().toSeq.map(_.toString).sorted ===
        withoutRules(spark, StatsBroadcast)(aggJoined(aggSideOf(t))
          .collect().toSeq.map(_.toString).sorted))
    }
  }

  test("eager aggregation composes: the partial aggregate it pushes " +
    "below the join broadcasts by the fact's NDV bound where the wide " +
    "dim and the fact both refuse; rule off shuffle-joins; rows identical") {
    val f = keyedTable()
    EagerAggregation.enableFor(spark, f, force = false)
    TableStats.analyze(spark, f, Seq("k"), k = 1024)
    // 50 keys, each with eight 128-char pads the query groups by, so the
    // dim keeps its width through column pruning
    val d = freshDir()
    SnapshotTable.create(spark, d, spark.range(0, 50).select(
      Seq(col("id").as("dk"), (col("id") % 10).as("region")) ++
        (1 to 8).map(i => sha2(concat(lit(i.toString),
          col("id").cast("string")), 512).as(s"pad$i")) :+
        lit("all").as("dp"): _*), "dp")
    def q() = SnapshotTable.read(spark, f)
      .join(SnapshotTable.read(spark, d), col("k") === col("dk"))
      .groupBy(col("region") +: (1 to 8).map(i => col(s"pad$i")): _*)
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s"), max(col("v")).as("mx"))
    withThreshold(16384L) {
      val on = q()
      assert(bhj(on) === 1 && smj(on) === 0, on.queryExecution.sparkPlan.toString)
      val (offB, offS, offRows) = withoutRules(spark, StatsBroadcast) {
        val o = q(); (bhj(o), smj(o), o.collect().map(_.toString).sorted.toSeq)
      }
      assert(offB === 0 && offS === 1)
      assert(on.collect().map(_.toString).sorted.toSeq === offRows)
    }
  }

  test("aggregate side refused: saturated sketch is never a bound") {
    val t = keyedTable()
    TableStats.analyze(spark, t, Seq("k"), k = 8) // 50 distinct > 8: sat
    withThreshold(16384L) {
      assert(bhj(aggJoined(aggSideOf(t))) === 0)
    }
  }

  test("aggregate side refused: sketches stale after an append") {
    val t = keyedTable()
    TableStats.analyze(spark, t, Seq("k"), k = 1024)
    SnapshotTable.commitAppend(spark, t,
      spark.range(20000, 20100).select((col("id") % 50).as("k"),
        col("id").as("v"), lit("0").as("p")), "p")
    withThreshold(16384L) {
      // planned files are no longer a subset of the analyzed live set
      assert(bhj(aggJoined(aggSideOf(t))) === 0)
    }
  }

  test("aggregate side refused: variable-width output") {
    val t = keyedTable()
    TableStats.analyze(spark, t, Seq("k"), k = 1024)
    withThreshold(16384L) {
      val aggSide = SnapshotTable.read(spark, t).groupBy(col("k"))
        .agg(sum(col("v")).as("s"), max(col("p")).as("mp")) // string out
      val q = fact.join(aggSide, col("fk") === col("k"))
        .groupBy(col("fpad"))
        .agg(sum(col("s")).as("s2"), max(col("mp")).as("m2"))
      assert(bhj(q) === 0)
    }
  }

  // ---- rank-summary range sizing (quantile-bounded builds) -----------

  import graft.sources.RankStats

  /** Dim whose price column is UNCORRELATED with the layout: the files
    * are clustered on k, so a price range prunes NO files and the file
    * bound stays at full-table bytes — only the rank sidecar can see
    * how few rows pass.
    */
  private def pricedTable(): String = {
    val t = freshDir()
    val df = spark.range(0, 10000).select(
      col("id").as("k"),
      concat(lit("p"), (col("id") % 5).cast("string")).as("p"),
      ((col("id") * 7919L) % 10000L).cast("double").as("price"),
      md5(col("id").cast("string")).as("pad"))
    SnapshotTable.create(spark, t, df, "p", statsCols = Seq("k"))
    t
  }

  test("rank-summary range sizing: a price slice no file stat can see " +
    "broadcasts once the column is rank-ANALYZEd; without the sidecar " +
    "(or with the rule off) it shuffle-joins; rows identical") {
    val t = pricedTable()
    withThreshold(131072L) {
      def dim() = SnapshotTable.read(spark, t)
        .filter(col("price") < 300.0)
      def q() = fact.join(dim(), col("fk") === col("k"))
        .groupBy(col("p"))
        .agg(count(lit(1)).as("n"), sum(length(col("pad"))).as("padlen"))
        .orderBy(col("p"))
      // price is layout-invisible: no sidecar -> file bound = full table
      assert(bhj(q()) === 0, "without a rank sidecar the side must not shrink")
      RankStats.analyze(spark, t, Seq("price"), m = 256)
      val on = q()
      assert(bhj(on) === 1 && smj(on) === 0,
        "rank-bounded rows x max width must fit the threshold")
      val (offB, offRows) = withoutRules(spark, StatsBroadcast) {
        val d = q(); (bhj(d), d.collect().toSeq)
      }
      assert(offB === 0)
      assert(on.collect().toSeq === offRows)
    }
  }

  test("rank sizing never unwraps a NARROWING cast: CAST(price AS INT) " +
    "< c admits rows (5.9 passes as 5) the range bound never counted, " +
    "so the side keeps its file bound; the bare-column twin broadcasts") {
    val t = pricedTable()
    withThreshold(131072L) {
      RankStats.analyze(spark, t, Seq("price"), m = 256)
      def q(dim: DataFrame) = fact.join(dim, col("fk") === col("k"))
        .groupBy(col("p")).agg(count(lit(1)).as("n"))
      assert(bhj(q(SnapshotTable.read(spark, t)
        .filter(col("price") < 300.0))) === 1,
        "fixture sanity: the bare-column range must broadcast")
      assert(bhj(q(SnapshotTable.read(spark, t)
        .filter(col("price").cast("int") < 300))) === 0,
        "a truncating cast is not a value-preserving image of the column")
    }
  }

  test("rank sizing serves a SUBSET-planned side: a time-travel read " +
    "plans the analyzed set's strict subset, and the whole-table " +
    "bound is still an upper bound — the broadcast fires") {
    val t = pricedTable()
    withThreshold(131072L) {
      // grow the table, THEN analyze: the sidecar describes v2, while
      // a v1 read plans a strict subset of the analyzed files
      SnapshotTable.commitAppend(spark, t,
        spark.range(30000, 30400).select(col("id").as("k"), lit("p0").as("p"),
          lit(9999.0).as("price"), md5(col("id").cast("string")).as("pad")), "p")
      RankStats.analyze(spark, t, Seq("price"), m = 256)
      def dim() = SnapshotTable.readVersion(spark, t, 1L)
        .filter(col("price") < 300.0)
      def q() = fact.join(dim(), col("fk") === col("k"))
        .groupBy(col("p"))
        .agg(count(lit(1)).as("n"), sum(length(col("pad"))).as("padlen"))
        .orderBy(col("p"))
      val on = q()
      assert(bhj(on) === 1 && smj(on) === 0,
        "a planned subset of the analyzed set must still be sizable")
      val (offB, offRows) = withoutRules(spark, StatsBroadcast) {
        val d = q(); (bhj(d), d.collect().toSeq)
      }
      assert(offB === 0)
      assert(on.collect().toSeq === offRows)
    }
  }

  test("rank sizing refuses a stale sidecar and an unfit slice, but " +
    "SURVIVES a delta refresh: span-preserving segments keep the " +
    "range proof armed at ingest cadence") {
    val t = pricedTable()
    withThreshold(131072L) {
      def q(cut: Double) = fact.join(
        SnapshotTable.read(spark, t).filter(col("price") < cut),
        col("fk") === col("k"))
        .groupBy(col("p")).agg(count(lit(1)).as("n"))
      RankStats.analyze(spark, t, Seq("price"), m = 256)
      // a slice of most of the table cannot fit under the threshold
      assert(bhj(q(9000.0)) === 0)
      // a commit the sidecar has not seen: fingerprint mismatch refuses
      // a real-sized batch: a 1-row file's footer overhead would
      // dominate its bytes/row, and the conservative max-width bound
      // (correctly) refuses to broadcast behind such a file. The rows
      // sit ABOVE every cut used here, so once refreshed they add at
      // most one straddling span to the row bound.
      SnapshotTable.commitAppend(spark, t,
        spark.range(20000, 20400).select(col("id").as("k"), lit("p0").as("p"),
          lit(9999.0).as("price"), md5(col("id").cast("string")).as("pad")), "p")
      assert(bhj(q(300.0)) === 0, "stale sidecar must refuse")
      // delta refresh appends a span-sound SEGMENT: the proof holds
      // and the broadcast comes straight back - no full analyze needed
      val (rf, delta) = RankStats.refresh(spark, t)
      assert(delta, "append window should take the delta path")
      assert(rf.summaries.forall(_.spans), "delta segments must keep spans")
      assert(bhj(q(300.0)) === 1,
        "span-preserving segments must keep range sizing armed")
      // and the refreshed bound is still honest about the wide slice
      assert(bhj(q(9000.0)) === 0)
    }
  }
}
