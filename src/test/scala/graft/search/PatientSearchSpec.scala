package graft.search

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkEnv
import org.apache.spark.rdd.RDD
import org.apache.spark.scheduler._
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, Range}
import org.apache.spark.sql.catalyst.trees.TreeNode
import org.apache.spark.sql.execution.RangeExec
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.SparkSpec
import graft.feat.{Normalization, ZScoreStatsSpec}
import graft.gen.PatientGenerator
import graft.schema.PatientSchema
import graft.sources.TableIO
import graft.store.PatientIndex
import graft.tools.ListenerDrain

/** E2E pipeline + scatter-gather invariants (SURVEY.md §5.3/§5.4).
  * Small corpus + 1 training round keeps this fast; invariants (not golden
  * values) make it robust to training nondeterminism across JVMs.
  */
class PatientSearchSpec extends SparkSpec {
  import PatientSearchSpec.bits

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

  /** What the jobs run by one block launched: job count, tasks per
    * stage, the jobs' descriptions (labels) and the stages that ran. */
  private case class Observed(jobs: Int, tasksPerStage: Map[Int, Int],
                              descriptions: Seq[String], stages: Seq[StageRun])

  /** A stage that ran: its job's description and whether it computed
    * generator ranges — its lineage holds `spark.range`'s
    * [[PatientGenerator.genPartitions]]-partition source and its tasks
    * read neither a cached block nor shuffle output. */
  private case class StageRun(description: String, generates: Boolean)

  /** Runs `body` under a SparkListener and returns what its jobs launched.
    * The listener bus is asynchronous, so [[ListenerDrain]] then waits
    * (bounded) until every event of `body` has landed. The drain's own
    * sentinel job, stages and tasks are not counted.
    */
  private def observed[T](body: => T): (T, Observed) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger(0)
    val descriptions = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val sentinelStages = ConcurrentHashMap.newKeySet[Int]()
    val tasks = new ConcurrentHashMap[Int, AtomicInteger]()
    val stageJob = new ConcurrentHashMap[Int, String]()
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[StageRun]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (!ListenerDrain.isSentinel(js.properties)) {
          jobs.incrementAndGet()
          val d = String.valueOf(js.properties.getProperty("spark.job.description"))
          descriptions.add(d)
          js.stageIds.foreach(stageJob.put(_, d))
        }
      override def onStageSubmitted(ss: SparkListenerStageSubmitted): Unit =
        if (ListenerDrain.isSentinel(ss.properties)) sentinelStages.add(ss.stageInfo.stageId)
      override def onTaskStart(ts: SparkListenerTaskStart): Unit =
        if (!sentinelStages.contains(ts.stageId))
          tasks.computeIfAbsent(ts.stageId, _ => new AtomicInteger(0)).incrementAndGet()
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val info = sc.stageInfo
        if (stageJob.containsKey(info.stageId)) {
          val m = info.taskMetrics
          val reads = m.inputMetrics.bytesRead > 0 || m.shuffleReadMetrics.totalBytesRead > 0
          val ranges = info.rddInfos.exists(r =>
            r.name == "ParallelCollectionRDD" && r.numPartitions == PatientGenerator.genPartitions)
          stages.add(StageRun(stageJob.get(info.stageId), ranges && !reads))
        }
      }
    }
    sc.addSparkListener(listener)
    try {
      val result = body
      ListenerDrain(sc)
      (result, Observed(jobs.get, tasks.asScala.map { case (k, v) => k -> v.get }.toMap,
        descriptions.asScala.toSeq, stages.asScala.toSeq))
    } finally sc.removeSparkListener(listener)
  }

  test("layout: set-up generates once at <= one task per core, labels every " +
    "job, and leaves only the patient table in storage") {
    val cores = spark.sparkContext.defaultParallelism
    def stored = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
    val before = stored
    val ps = new PatientSearch(spark)
    val (table, setup) = observed(ps.setupHospitals(configs))
    val added = stored -- before
    val (index, embed) = observed(ps.generateAndStoreEmbeddings())
    try {
      for (seen <- Seq(setup, embed))
        assert(seen.tasksPerStage.values.forall(_ <= cores),
          s"tasks per stage ${seen.tasksPerStage} exceed $cores cores")
      val generating = (setup.stages ++ embed.stages).filter(_.generates).map(_.description)
      assert(generating == Seq("setup:generate"), s"generator ran in: $generating")
      assert(Seq("setup:generate", "setup:zscore-stats", "setup:cache-fill")
        .forall(setup.descriptions.contains), s"set-up jobs: ${setup.descriptions}")
      val unlabelled = (setup.descriptions ++ embed.descriptions)
        .filterNot(d => d.startsWith("setup:") || d.startsWith("index:"))
      assert(unlabelled.isEmpty, s"jobs without a set-up label: $unlabelled")
      assert(added.size == 1, s"storage after set-up: $added")
      table.unpersist(blocking = true)
      assert((stored & added).isEmpty, "the one RDD set-up left in storage is the patient table's")
    } finally {
      index.unpersist(blocking = true)
      table.unpersist(blocking = true)
    }
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
    // the stats by Spark's aggregate over the 192-range generator frame;
    // the raw copies of the feature columns are what the table keeps
    val feats = PatientSchema.featureCols
    val generated = PatientGenerator.setupHospitals(spark, configs)
    val zscored = Normalization.assembleFeatures(ZScoreStatsSpec.aggregateZscore(
      generated.select(col("*") +: feats.map(c => col(c).as(s"raw_$c")): _*),
      feats, Some("hospital")))
    val columns = ("hospital" +: generated.columns.toSeq.filterNot(_ == "hospital")) :+ "features"
    val uncoalesced = zscored.select(columns.map(c =>
      if (feats.contains(c)) col(s"raw_$c").as(c) else col(c)): _*)
    val cached = system._1.patientTable.get
    assert(cached.columns.toSeq == columns)
    assert(cached.schema == uncoalesced.schema)
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

  test("one job per search: collecting the hits, statistics and insights " +
    "runs one job of <= one task per core, labelled search:cosine-topk") {
    val ps = system._1
    val cores = spark.sparkContext.defaultParallelism
    val query = PatientSchema.demoQueryPatient.updated("meld_score", 22.0)
    val (rows, seen) = observed {
      val r = ps.searchSimilarPatients(query, topK)
      (r.topSimilarPatients.collect(), r.transplantStatistics.collect(),
        r.clinicalInsights.collect())
    }
    assert(rows._1.length == topK && rows._2.length == 1 && rows._3.length == 1)
    assert(seen.jobs == 1, s"saw ${seen.jobs} jobs")
    assert(seen.tasksPerStage.size == 1 && seen.tasksPerStage.values.forall(_ <= cores),
      s"tasks per stage ${seen.tasksPerStage}")
    assert(seen.descriptions == Seq("search:cosine-topk"))
  }

  test("one job per batch: batchKnn(...).collect() runs one job, labelled " +
    "search:batch-knn") {
    val idx = system._1.vectorIndex.get
    val corpus = idx.select(xxhash64(col("patient_id"), col("hospital")).as("vec_id"),
      col("embedding"))
    val s = spark
    import s.implicits._
    val queries = idx.select("embedding").head(3).zipWithIndex
      .map { case (r, j) => (j.toLong, r.getSeq[Float](0)) }.toSeq.toDF("query_id", "q_emb")
    val (rows, seen) = observed(VectorSearch.batchKnn(corpus, queries, 4).collect())
    assert(rows.length == 3 * 4)
    assert(seen.jobs == 1, s"saw ${seen.jobs} jobs")
    assert(seen.descriptions == Seq("search:batch-knn"))
  }

  /** Every node of `p`, through the plans that caches and adaptive
    * execution print as inner children. */
  private def planNodes(p: TreeNode[_]): Seq[TreeNode[_]] =
    p +: (p.children ++ p.innerChildren).flatMap {
      case c: TreeNode[_] => planNodes(c)
      case _ => Nil
    }

  test("plans: the cached patient table and index sit on one leaf, and a " +
    "search's frames explain in under 64 KB") {
    val ps = system._1
    for ((name, df) <- Seq("patientTable" -> ps.patientTable.get,
        "vectorIndex" -> ps.vectorIndex.get)) {
      val analyzed = df.queryExecution.analyzed
      assert(analyzed.collectLeaves().size == 1, s"$name:\n${analyzed.treeString}")
      val lineage = planNodes(df.queryExecution.withCachedData).collect {
        case n @ (_: Range | _: Join | _: Aggregate | _: RangeExec |
                  _: BaseJoinExec | _: BaseAggregateExec) => n.nodeName
      }
      assert(lineage.isEmpty, s"$name carries generator lineage: ${lineage.distinct}")
    }
    val r = ps.searchSimilarPatients(PatientSchema.demoQueryPatient.updated("bmi", 31.0), topK)
    r.transplantStatistics.collect()
    for ((name, df) <- Seq("hits" -> r.topSimilarPatients, "stats" -> r.transplantStatistics)) {
      val explained = df.queryExecution.toString.length
      assert(explained < 64 * 1024, s"$name frame explains in $explained chars")
    }
  }

  /** The RDDs of `rdd`'s lineage, down every dependency. */
  private def lineage(rdd: RDD[_]): Seq[RDD[_]] =
    rdd +: rdd.dependencies.flatMap(d => lineage(d.rdd))

  test("lineage: the index's planned scan, a loaded index's and a select over " +
    "the index stop at the index cache and serialize in under 64 KB") {
    val ps = new PatientSearch(spark)
    val table = ps.setupHospitals(configs)
    val index = ps.generateAndStoreEmbeddings()
    val dir = graft.Staged.scratch(spark, "graft_psearch_lineage")
    ps.persistIndex(dir)
    val reloaded = new PatientSearch(spark)
    val loaded = reloaded.loadIndex(dir)
    try {
      // perfbench's knn_batch corpus
      val corpus = index.select(xxhash64(col("patient_id"), col("hospital")).as("vec_id"),
        col("embedding"))
      val serializer = SparkEnv.get.closureSerializer.newInstance()
      for ((name, df) <- Seq("index" -> index, "loaded index" -> loaded, "select" -> corpus)) {
        val rdds = lineage(df.queryExecution.toRdd)
        val names = rdds.map(_.getClass.getSimpleName)
        val cached = rdds.filter(_.getStorageLevel != StorageLevel.NONE)
        assert(cached.size == 1 && cached.head.isCheckpointed,
          s"$name: lineage holds cached RDDs ${cached.map(_.id)}, not one checkpointed cache: $names")
        assert(rdds.filter(_.dependencies.isEmpty).forall(_.getClass.getSimpleName ==
          "LocalCheckpointRDD"), s"$name: lineage goes below the cache: $names")
        assert(!names.contains("ParallelCollectionRDD") && !names.contains("FileScanRDD"),
          s"$name: lineage holds a source: $names")
        val bytes = serializer.serialize(df.queryExecution.toRdd).limit()
        assert(bytes < 64 * 1024, s"$name: planned RDD serializes in $bytes bytes")
      }
    } finally {
      Seq(loaded, index, table).foreach(_.unpersist(blocking = true))
    }
  }

  test("a search over a released index cache fails at once with an " +
    "IllegalStateException; a reloaded index searches again") {
    val ps = new PatientSearch(spark)
    val table = ps.setupHospitals(configs)
    ps.generateAndStoreEmbeddings()
    val dir = graft.Staged.scratch(spark, "graft_psearch_released")
    ps.persistIndex(dir)
    def ids() = ps.searchSimilarPatients(PatientSchema.demoQueryPatient, topK)
      .topSimilarPatients.select("patient_id", "hospital").collect().toSeq
    try {
      val before = ids()
      ps.vectorIndex.get.unpersist(blocking = true)
      val (err, seen) = observed(intercept[IllegalStateException](ids()))
      assert(err.getMessage.contains("index cache was released") &&
        err.getMessage.contains("build or load the index again"), err.getMessage)
      assert(seen.jobs == 0, s"a search over the released cache ran ${seen.jobs} jobs")
      ps.loadIndex(dir)
      assert(ids() == before)
    } finally {
      ps.vectorIndex.foreach(_.unpersist(blocking = true))
      table.unpersist(blocking = true)
    }
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
    val dir = graft.Staged.scratch(spark, "graft_psearch")
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
    val dir = graft.Staged.scratch(spark, "graft_psearch_tie")
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

object PatientSearchSpec {
  /** Row values with every float/double replaced by its raw bits (arrays
    * and structs recursively), so `==` is a bit-for-bit comparison. */
  def bits(v: Any): Any = v match {
    case f: Float => java.lang.Float.floatToRawIntBits(f)
    case d: Double => java.lang.Double.doubleToRawLongBits(d)
    case r: Row => r.toSeq.map(bits)
    case xs: scala.collection.Seq[_] => xs.map(bits)
    case other => other
  }
}
