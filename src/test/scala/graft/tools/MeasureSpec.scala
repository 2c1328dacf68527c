package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.BaseJoinExec

import graft.{SparkEntry, SparkSpec, Tables}

/** `Measure` over three declared queries: a broadcast join
  * (q3_shipping_priority), a manifest-pruned snapshot read
  * (q_snapshot_skip) and a MinHash query (q_minhash_neardup). Each
  * record must exclude the listener drain's sentinel job, label its
  * jobs, count the final plan's operators, split its wall time into the
  * union of its job intervals plus a non-negative driver time, count
  * the files its scans read against their tables' files, and carry the
  * dropped-candidate counters.
  */
class MeasureSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val queries =
    Seq("q3_shipping_priority", "q_snapshot_skip", "q_minhash_neardup")

  // each query's record, and the frame of its measured run (the last
  // one built), whose final plan AQE may have shaped differently from
  // another run's
  private lazy val measured: Map[String, (Measure.Record, DataFrame)] =
    queries.map { n =>
      var last: DataFrame = null
      val r = Measure.measure(spark, n) {
        last = SparkEntry.queries(n)(spark, sfDir); last
      }
      n -> (r, last)
    }.toMap

  private def records: Map[String, Measure.Record] =
    measured.map { case (n, (r, _)) => n -> r }

  test("covered time is the union of the job intervals, not their sum") {
    assert(Measure.covered(Seq((0L, 10L), (5L, 15L), (20L, 25L)), 100L) === 20L)
    assert(Measure.covered(Seq((10L, 20L), (0L, 50L)), 100L) === 50L)
    assert(Measure.covered(Seq((-5L, 10L), (90L, 120L)), 100L) === 20L)
  }

  test("wall time = job-covered time + driver time, the driver time is " +
    ">= 0, and the job-covered time is the union of the job intervals") {
    records.values.foreach { r =>
      assert(r.error.isEmpty, r.error)
      assert(r.driverMs >= 0 && r.jobMs + r.driverMs === r.wallMs)
      assert(r.jobMs === Measure.covered(
        r.jobs.map(j => (j.startMs, j.endMs)), r.wallMs))
      assert(r.jobMs <= r.jobs.map(j => j.endMs - j.startMs).sum)
      assert(r.phasesMs.contains("optimization") && r.phasesMs.contains("planning"))
    }
  }

  test("the drain's sentinel job is excluded and every job is labelled") {
    records.values.foreach { r =>
      assert(r.jobs.nonEmpty)
      assert(r.jobs.forall(j => j.label.nonEmpty && !j.label.contains("ListenerDrain")))
      assert(!r.stages.exists(_.name.contains("ListenerDrain")))
      assert(r.stages.forall(s => r.jobs.exists(_.id == s.job)))
    }
    // a description set around a query labels every job it runs
    val sc = spark.sparkContext
    sc.setJobDescription("measure-spec:q3")
    val r = try Measure.measure(spark, "q3")(
      SparkEntry.queries("q3_shipping_priority")(spark, sfDir))
    finally sc.setJobDescription(null)
    assert(r.jobs.nonEmpty && r.jobs.forall(_.label == "measure-spec:q3"))
    assert(!r.stages.exists(_.name.contains("ListenerDrain")))
  }

  test("exchange and join counts are the final plan's operator counts") {
    queries.foreach { n =>
      val (r, df) = measured(n)
      val plan = df.queryExecution.executedPlan
      val shape = r.shape.get
      assert(shape.shuffles === collect(plan) { case e: ShuffleExchangeLike => e }.size, n)
      assert(shape.broadcasts === collect(plan) { case e: BroadcastExchangeLike => e }.size, n)
      assert(shape.joins === collect(plan) { case j: BaseJoinExec => j.nodeName }
        .groupBy(identity).map { case (k, v) => k -> v.size }, n)
    }
    val q3 = records("q3_shipping_priority").shape.get
    assert(q3.broadcasts > 0 && q3.joins.getOrElse("BroadcastHashJoin", 0) > 0)
  }

  test("files read: the snapshot read plans fewer files than its table holds") {
    val scans = records("q_snapshot_skip").shape.get.scans
    assert(scans.nonEmpty && scans.forall(s => s.filesRead <= s.filesTotal))
    assert(scans.exists(s => s.filesRead > 0 && s.filesRead < s.filesTotal), scans)
  }

  test("the dropped-candidate counters are present; a capped MinHash " +
    "bucket is counted") {
    records.values.foreach(r => assert(r.counters.keySet === Measure.Counters.toSet))
    val capped = Measure.measure(spark, "capped")(graft.operators.MinHashDedup
      .candidatePairs(Tables.documents(spark, sfDir), "doc_id", "text",
        maxBucketSize = 1))
    assert(capped.counters(graft.operators.MinHashDedup.droppedBucketsAcc) > 0)
    assert(capped.counters(graft.operators.MinHashDedup.droppedDocSlotsAcc) >
      capped.counters(graft.operators.MinHashDedup.droppedBucketsAcc))
  }
}
