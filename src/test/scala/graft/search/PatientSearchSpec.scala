package graft.search

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.feat.Normalization
import graft.gen.PatientGenerator
import graft.schema.PatientSchema
import graft.sources.TableIO
import graft.store.PatientIndex

/** E2E pipeline + scatter-gather invariants (SURVEY.md §5.3/§5.4).
  * Small corpus + 1 training round keeps this fast; invariants (not golden
  * values) make it robust to training nondeterminism across JVMs.
  */
class PatientSearchSpec extends SparkSpec {

  private val topK = 5
  private val configs = Seq(("Hospital_A", 150L), ("Hospital_B", 100L), ("Hospital_C", 120L))

  private lazy val system: (PatientSearch, PatientSearch.Result) = {
    val ps = new PatientSearch(spark)
    ps.setupHospitals(configs)
    val losses = ps.runFederatedTraining(rounds = 1, localEpochs = 2)
    assert(losses.nonEmpty && losses.forall(l => !l.isNaN))
    ps.generateAndStoreEmbeddings()
    (ps, ps.searchSimilarPatients(PatientSchema.demoQueryPatient, topK))
  }

  /** What the jobs run by one block launched: job count and tasks per
    * stage. */
  private case class Observed(jobs: Int, tasksPerStage: Map[Int, Int])

  /** Runs `body` under a SparkListener and returns what its jobs launched.
    * The listener bus is asynchronous but delivers in order, so after
    * `body` one sentinel job runs and the drain waits (bounded) for the
    * sentinel's job-end event: by then every event of `body` has landed.
    * The sentinel's own job, stages and tasks are not counted.
    */
  private def observed[T](body: => T): (T, Observed) = {
    val sc = spark.sparkContext
    val sentinelKey = "graft.test.sentinel"
    def isSentinel(props: java.util.Properties): Boolean =
      props != null && props.getProperty(sentinelKey) != null
    val jobs = new AtomicInteger(0)
    val sentinelStages = ConcurrentHashMap.newKeySet[Int]()
    val tasks = new ConcurrentHashMap[Int, AtomicInteger]()
    val drained = new CountDownLatch(1)
    @volatile var sentinelJob = -1
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (isSentinel(js.properties)) sentinelJob = js.jobId
        else jobs.incrementAndGet()
      override def onStageSubmitted(ss: SparkListenerStageSubmitted): Unit =
        if (isSentinel(ss.properties)) sentinelStages.add(ss.stageInfo.stageId)
      override def onTaskStart(ts: SparkListenerTaskStart): Unit =
        if (!sentinelStages.contains(ts.stageId))
          tasks.computeIfAbsent(ts.stageId, _ => new AtomicInteger(0)).incrementAndGet()
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        if (je.jobId == sentinelJob) drained.countDown()
    }
    sc.addSparkListener(listener)
    try {
      val result = body
      sc.setLocalProperty(sentinelKey, "drain")
      try sc.parallelize(Seq(0), 1).count()
      finally sc.setLocalProperty(sentinelKey, null)
      assert(drained.await(60, TimeUnit.SECONDS),
        "listener bus did not deliver the sentinel job's end within 60 s")
      (result, Observed(jobs.get, tasks.asScala.map { case (k, v) => k -> v.get }.toMap))
    } finally sc.removeSparkListener(listener)
  }

  /** Row values with every float/double replaced by its raw bits (arrays
    * and structs recursively), so `==` is a bit-for-bit comparison. */
  private def bits(v: Any): Any = v match {
    case f: Float => java.lang.Float.floatToRawIntBits(f)
    case d: Double => java.lang.Double.doubleToRawLongBits(d)
    case r: Row => r.toSeq.map(bits)
    case xs: scala.collection.Seq[_] => xs.map(bits)
    case other => other
  }

  test("index holds one 128-dim embedding + metadata struct per patient") {
    val idx = system._1.vectorIndex.get
    assert(idx.count() == 370)
    val row = idx.select("embedding", "metadata.hospital", "metadata.age").head()
    assert(row.getSeq[Float](0).length == PatientSchema.embeddingDim)
    assert(row.getString(1).startsWith("Hospital_"))
  }

  test("hits: size == k, ranks 1..k, similarity descending in [-1,1]") {
    val hits = system._2.topSimilarPatients.collect()
    assert(hits.length == topK)
    assert(hits.map(_.getAs[Int]("rank")).toSeq == (1 to topK))
    val sims = hits.map(_.getAs[Double]("similarity"))
    assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
    assert(sims.forall(s => s >= -1.0 - 1e-9 && s <= 1.0 + 1e-9))
  }

  test("scatter-gather invariant: global top-k ⊆ union of local top-k " +
    "(similarity_search.py:332-356)") {
    val ps = system._1
    val idx = ps.vectorIndex.get
    val q = graft.feat.Normalization.prepareQueryFeatures(PatientSchema.demoQueryPatient)
    val qEmb = graft.model.Mlp.forward(ps.globalWeights, q)
    val scored = idx.withColumn("sim",
      graft.functions.VectorFunctions.cosineSimilarity(col("embedding"), typedlit(qEmb.toSeq)))
    // local top-k per hospital, computed independently
    val localUnion = scored.orderBy(col("sim").desc, col("patient_id"))
      .groupBy("hospital")
      .agg(slice(sort_array(collect_list(struct(col("sim"), col("patient_id"))), asc = false), 1, topK)
        .as("top"))
      .select(explode(col("top.patient_id")).as("patient_id"))
      .collect().map(_.getString(0)).toSet
    val globalIds = system._2.topSimilarPatients
      .select("patient_id").collect().map(_.getString(0)).toSet
    assert(globalIds.subsetOf(localUnion))
  }

  test("total_searched = min(n_hospitals × k, corpus) — pool not corpus " +
    "(similarity_search.py:361)") {
    assert(system._2.totalSearched == 3L * topK)
  }

  test("search path runs no bookkeeping scans: secureSimilaritySearch " +
    "launches zero Spark jobs (shard sizes come from index build)") {
    val ps = system._1
    system._2 // force lazy system init (training + index build jobs happen here)
    val (r, seen) = observed(ps.searchSimilarPatients(PatientSchema.demoQueryPatient, topK))
    assert(r.totalSearched == 3L * topK)
    val jobs = seen.jobs
    assert(jobs == 0,
      s"search construction must not scan the corpus, saw $jobs jobs")
  }

  test("layout: cached patient table and index hold <= one partition per core") {
    val ps = system._1
    val cores = spark.sparkContext.defaultParallelism
    assert(ps.patientTable.get.rdd.getNumPartitions <= cores)
    assert(ps.vectorIndex.get.rdd.getNumPartitions <= cores)
  }

  test("layout: coalescing the cached patient table keeps every row, " +
    "in order and bit for bit") {
    val uncoalesced = Normalization.assembleFeatures(Normalization.zscore(
      PatientGenerator.setupHospitals(spark, configs), perGroup = Some("hospital")))
    val cached = system._1.patientTable.get
    assert(cached.columns.toSeq == uncoalesced.columns.toSeq)
    val expected = uncoalesced.collect().map(bits).toSeq
    val actual = cached.collect().map(bits).toSeq
    assert(actual.length == configs.map(_._2).sum)
    assert(actual == expected)
  }

  test("layout: one search's scoring stage launches <= one task per core") {
    val ps = system._1
    val cores = spark.sparkContext.defaultParallelism
    // a query no earlier test ran: its cached hits cannot be reused
    val query = PatientSchema.demoQueryPatient.updated("age", 41.0)
    val (hits, seen) = observed {
      ps.searchSimilarPatients(query, topK).topSimilarPatients.collect()
    }
    assert(hits.length == topK)
    assert(seen.jobs > 0 && seen.tasksPerStage.nonEmpty)
    assert(seen.tasksPerStage.values.forall(_ <= cores),
      s"tasks per stage ${seen.tasksPerStage} exceed $cores cores")
  }

  test("stats block: counts partition and rates are consistent (A3)") {
    val s = system._2.transplantStatistics.head()
    val total = s.getAs[Long]("total_similar_patients")
    val t = s.getAs[Long]("transplanted_count")
    val nt = s.getAs[Long]("not_transplanted_count")
    assert(total == topK && t + nt == total)
    assert(math.abs(s.getAs[Double]("transplant_rate") - t.toDouble / total) < 1e-12)
    val byStatus = Seq("still_on_waitlist", "removed_too_sick",
      "removed_improved", "deceased_on_waitlist").map(s.getAs[Long]).sum
    assert(byStatus == nt, "waitlist breakdown must sum to not-transplanted")
    if (t > 0) {
      assert(s.getAs[Long]("successful_transplants") <= t)
      val m = s.getAs[Double]("average_wait_time_months")
      val d = s.getAs[Double]("average_wait_time_days")
      assert(math.abs(m - d / 30.44) < 1e-9)
    }
  }

  test("index persists shard-partitioned and search works after reload") {
    val (ps, before) = system
    val dir = java.nio.file.Files.createTempDirectory("graft_psearch").toString
    ps.persistIndex(dir)
    val reloaded = ps.loadIndex(dir)
    assert(reloaded.count() == 370)
    val after = ps.searchSimilarPatients(
      graft.schema.PatientSchema.demoQueryPatient, topK)
    val idsBefore = before.topSimilarPatients.select("patient_id")
      .collect().map(_.getString(0)).toSeq
    val idsAfter = after.topSimilarPatients.select("patient_id")
      .collect().map(_.getString(0)).toSeq
    assert(idsAfter == idsBefore, "cold-start search must reproduce results")
  }

  test("transplant_date presentation uses the reference's 'N/A' sentinel") {
    val dates = system._2.topSimilarPatients
      .select("transplant_date", "received_transplant").collect()
    dates.foreach { r =>
      if (r.getBoolean(1)) assert(r.getString(0).matches("\\d{4}-\\d{2}-\\d{2}"))
      else assert(r.getString(0) == "N/A")
    }
  }

  test("global merge breaks (similarity, patient_id) ties by hospital") {
    val s = spark
    import s.implicits._
    // patient ids restart per hospital: the same id and embedding in two
    // shards tie on both leading keys (without the hospital key these two
    // come back Hospital_C first)
    val emb = Array.tabulate(PatientSchema.embeddingDim)(i => (i % 7 - 3).toFloat)
    val embedded = Seq("Hospital_C", "Hospital_A").toDF("hospital").select(
      lit("PT_000000").as("patient_id"), col("hospital"),
      typedlit(emb.toSeq).as("embedding"),
      lit(50.0).as("age"), lit(20.0).as("meld_score"), lit(25.0).as("bmi"),
      lit(0).as("received_transplant"), lit(0).as("transplant_success"),
      lit(0.0).as("days_to_transplant"), lit(null).cast("date").as("transplant_date"),
      lit(0.0).as("follow_up_days"), lit(100.0).as("days_on_waitlist"),
      lit(1).as("waitlist_status"), lit(1.0).as("creatinine"),
      lit(1.0).as("bilirubin"), lit(0).as("dialysis"), lit(0).as("diabetes"))
    val dir = java.nio.file.Files.createTempDirectory("graft_psearch_tie").toString
    TableIO.writeIndex(PatientIndex.build(embedded), dir)
    val ps = new PatientSearch(spark)
    ps.loadIndex(dir)
    val hits = ps.secureSimilaritySearch(emb, topK = 2).topSimilarPatients
      .select("rank", "patient_id", "hospital", "similarity").collect()
    assert(hits.map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSeq ==
      Seq((1, "PT_000000", "Hospital_A"), (2, "PT_000000", "Hospital_C")))
    assert(hits(0).getDouble(3) == hits(1).getDouble(3))
  }

  test("clinical insights (A6) produce the reference's metric set") {
    val cols = system._2.clinicalInsights.columns.toSet
    Seq("avg_wait_transplanted_days", "avg_age_success",
      "avg_wait_not_transplanted_days", "still_waiting")
      .foreach(c => assert(cols.contains(c)))
  }
}
