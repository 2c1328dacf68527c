package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.feat.Normalization
import graft.gen.PatientGenerator
import graft.model.{FederatedTrainer, Mlp}
import graft.schema.PatientSchema
import graft.search.{PatientSearch, VectorSearch}

final case class Metric(name: String, value: Double, unit: String)

/** `metrics` go into the result JSON; `derived` ones (throughput, error
  * rate) are printed beside them for reading only. */
final case class Outcome(correct: Boolean, attempted: Long, failed: Long, metrics: Seq[Metric],
                         derived: Seq[Metric] = Nil) {
  def json: String = {
    def num(d: Double) = if (d.isNaN || d.isInfinite) "null" else d.toString
    val ms = metrics.map(m => s""""${m.name}": {"value": ${num(m.value)}, "unit": "${m.unit}"}""")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }
}

/** Run settings. `scale` divides every table size (1 = the workload's own
  * size); tests use it for a tiny smoke run of the same code. */
final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      scale: Int = 1, workDir: Path = Paths.get(".bench_build"))

/** The paper's three hospitals (similarity_search.py:592-596). */
object Sizes {
  val demo: Seq[(String, Long)] =
    Seq("Hospital_A" -> 50000L, "Hospital_B" -> 40000L, "Hospital_C" -> 60000L)
  def divided(by: Int): Seq[(String, Long)] = demo.map { case (h, n) => h -> math.max(n / by, 1L) }
}

/** Entry point: `perfbench.Main --workload <name> --seed <n> --seconds <s>
  * --trace <0|1> [--scale <d>]`. Prints a summary and, as its last stdout
  * line, the result JSON. */
object Main {
  val workloads = Seq("knn_single", "knn_batch")

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument ${other.mkString(" ")}")
    }.toMap
    val o = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv.getOrElse("trace", "0") == "1", kv.getOrElse("scale", "1").toInt,
      Paths.get(kv.getOrElse("work-dir", ".bench_build")))
    require(workloads.contains(o.workload), s"unknown workload ${o.workload}; one of ${workloads.mkString(", ")}")
    require(o.seconds > 0 && o.scale >= 1)
    o
  }

  def session(workDir: Path): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    Files.createDirectories(workDir.resolve("spark-local"))
    SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", workDir.resolve("spark-local").toAbsolutePath.toString)
      .config("spark.sql.warehouse.dir", workDir.resolve("warehouse").toAbsolutePath.toString)
      .getOrCreate()
  }

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    val t0 = System.nanoTime()
    val spark = session(opts.workDir)
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val outcome = try new Bench(spark, opts, sessionS).run() finally spark.stop()
    (outcome.metrics ++ outcome.derived).foreach(m => println(f"${m.name}%-40s ${m.value}%.6g ${m.unit}"))
    println(s"attempted=${outcome.attempted} failed=${outcome.failed} correct=${outcome.correct}")
    println(outcome.json)
  }
}

/** An index built through the facade, with the storage bytes it holds. */
final case class Built(ps: PatientSearch, patients: DataFrame, index: DataFrame,
                       indexBytes: Long, rows: Long)

/** One search through the facade, with its collected outputs. */
final case class SearchOut(hits: Seq[Row], stats: Row, insights: Row, totalSearched: Long) {
  def rowsHash: String = Check.hash(hits ++ Seq(stats, insights))
}

/** One run of one workload: set-up, warm-up, a closed loop with one client
  * for `seconds`, checks of every output, and the metrics. */
final class Bench(spark: SparkSession, o: Opts, sessionS: Double) {
  import spark.implicits._

  private val tracer = new Tracer(spark.sparkContext, o.trace)
  private val rng = new scala.util.Random(o.seed)
  private val k = if (o.workload == "knn_batch") 10 else 5
  private val batchQueries = 25
  private val buildRounds = 3
  private val gcStart = gcMs()

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.toArray
      .map(_.asInstanceOf[java.lang.management.GarbageCollectorMXBean].getCollectionTime).sum

  private def timed[T](body: => T): (T, Double) = {
    val t = System.nanoTime(); val r = body; (r, (System.nanoTime() - t) / 1e6)
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  private def storageBytes(): Long = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  // ---- inputs, all drawn from the seed -------------------------------

  /** A seeded perturbation of the demo query patient: continuous features
    * jitter by ~10%, binary flags flip with probability 0.15. */
  private def queryProfile(): Map[String, Double] = PatientSchema.demoQueryPatient.map {
    case (f, v) if v == 0.0 || v == 1.0 =>
      f -> (if (rng.nextDouble() < 0.15) 1.0 - v else v)
    case (f, v) => f -> v * (1.0 + 0.1 * rng.nextGaussian())
  }

  // ---- the paper's index (knn_single, knn_batch) ---------------------

  private def buildIndex(sizes: Seq[(String, Long)]): Built = {
    val ps = new PatientSearch(spark)
    val (patients, rows) = tracer.span("setup.hospitals") {
      val p = ps.setupHospitals(sizes); (p, p.count())
    }
    val before = storageBytes()
    // the facade counts rows per hospital, which materializes the cache
    val index = tracer.span("setup.embed")(ps.generateAndStoreEmbeddings())
    Built(ps, patients, index, storageBytes() - before, rows)
  }

  /** The index's embeddings, collected once, keyed by `idCol`. */
  private def oracle(index: DataFrame, idCol: org.apache.spark.sql.Column): Oracle = {
    val rows = index.select(idCol.as("key"), col("embedding")).as[(String, Array[Float])].collect()
    new Oracle(rows.map(_._2), rows.map(_._1))
  }

  private val singleKey = concat(col("patient_id"), lit("@"), col("hospital"))

  /** A unique bigint id per corpus row: hospital ordinal and patient
    * number, XOR a seeded mask (`patient_id` alone repeats across
    * hospitals). */
  private val idMask = rng.nextLong() & 0x3fffffffffffL
  private def batchId(sizes: Seq[(String, Long)]) = {
    val ord = sizes.map(_._1).zipWithIndex.foldLeft(lit(null).cast("long")) {
      case (acc, (h, i)) => when(col("hospital") === h, lit(i.toLong)).otherwise(acc)
    }
    (ord * 1000000L + substring(col("patient_id"), 4, 12).cast("long")).bitwiseXOR(lit(idMask))
  }
  private def idKey(id: Long): String = f"$id%020d"

  // ---- one search through the facade ---------------------------------

  private def search(ps: PatientSearch, q: Map[String, Double]): SearchOut = {
    val (res, hits) = tracer.span("search") {
      val r = ps.searchSimilarPatients(q, k); (r, r.topSimilarPatients.collect().toSeq)
    }
    val (stats, insights) = tracer.span("stats") {
      (res.transplantStatistics.collect().head, res.clinicalInsights.collect().head)
    }
    if (tracer.active && measuring)
      planMs += planTime(res.topSimilarPatients, res.transplantStatistics, res.clinicalInsights)
    res.topSimilarPatients.unpersist()
    SearchOut(hits, stats, insights, res.totalSearched)
  }

  private def checkSearch(ps: PatientSearch, or: Oracle, sizes: Map[String, Long],
                          q: Map[String, Double], out: SearchOut): Seq[String] = {
    val qEmb = Mlp.forward(ps.globalWeights, Normalization.prepareQueryFeatures(q))
    val actual = out.hits.map(r => Hit(r.getAs[String]("patient_id") + "@" + r.getAs[String]("hospital"),
      r.getAs[Double]("similarity")))
    Check.topK(or.topK(qEmb, k, round6 = false), actual) ++
      Check.statsRow(out.hits, out.stats) ++
      Check.totalSearched(sizes, k, out.totalSearched)
  }

  // ---- workloads: one operation against the index ---------------------

  /** The paper's index, built once per run through the facade. */
  private val sizes = Sizes.divided(o.scale)
  private var index: Built = _

  private trait Workload {
    def queriesPerOp: Int
    /** Operations run before the measured loop, until their time levels off. */
    def warmUps: Int
    def vectors: Array[Array[Float]]
    /** Collect what the checks need; untimed. */
    def prepare(): Unit
    /** Run one operation; returns the check of its output, which runs
      * outside the operation's timing and lists the problems found. */
    def op(): () => Seq[String]
  }

  private final class KnnSingle extends Workload {
    var or: Oracle = _
    var shardSizes: Map[String, Long] = _
    def queriesPerOp = 1
    // the search's task code keeps getting faster over its first few
    // operations, so it warms up one operation longer than the batch
    def warmUps = 3
    def vectors = or.vectors
    def prepare(): Unit = {
      or = oracle(index.index, singleKey)
      shardSizes = or.keys.groupBy(_.split('@')(1)).map { case (h, ks) => h -> ks.length.toLong }
    }
    def op(): () => Seq[String] = {
      val q = queryProfile()
      val out = tracer.span("op")(search(index.ps, q))
      () => checkSearch(index.ps, or, shardSizes, q, out)
    }
  }

  private final class KnnBatch extends Workload {
    var or: Oracle = _
    var corpus: DataFrame = _
    def queriesPerOp = batchQueries
    def warmUps = 2
    def vectors = or.vectors
    def prepare(): Unit = {
      val ids = batchId(sizes)
      corpus = index.index.select(ids.as("vec_id"), col("embedding"))
      or = oracle(index.index, format_string("%020d", ids))
    }
    /** Query vectors: seeded picks from the index plus Gaussian noise of a
      * tenth of the picked vector's RMS. */
    def op(): () => Seq[String] = {
      val qs = Seq.fill(batchQueries)(or.vectors(rng.nextInt(or.vectors.length))).map { v =>
        val rms = math.sqrt(v.map(x => x.toDouble * x).sum / v.length)
        v.map(x => (x + 0.1 * rms * rng.nextGaussian()).toFloat)
      }
      val queries = qs.zipWithIndex.map { case (v, j) => (j.toLong, v) }.toDF("query_id", "q_emb")
      val (result, rows) = tracer.span("op")(tracer.span("search") {
        val r = VectorSearch.batchKnn(corpus, queries, k); (r, r.collect())
      })
      if (tracer.active && measuring) planMs += planTime(result)
      () => {
        val got = rows.groupBy(_.getAs[Long]("query_id")).map { case (qid, rs) =>
          qid -> rs.sortBy(_.getAs[Int]("rank")).map(r => Hit(idKey(r.getAs[Long]("vec_id")), r.getAs[Double]("sim"))).toSeq
        }
        val expected = Await.result(Future.traverse(qs.indices.toList) { j =>
          Future(j -> or.topK(qs(j), k, round6 = true))
        }, Duration.Inf)
        expected.flatMap { case (j, e) => Check.topK(e, got.getOrElse(j.toLong, Nil)).map(p => s"query $j: $p") }
      }
    }
  }

  /** Analysis + optimisation + planning time of each traced operation in
    * the measured loop. */
  private val planMs = scala.collection.mutable.ArrayBuffer.empty[Double]
  private var measuring = false
  private var measuredOps = 0 until 0 // spans' op numbers in the loop
  private def planTime(dfs: DataFrame*): Double =
    dfs.map(_.queryExecution.tracker.phases.values.map(_.durationMs.toDouble).sum).sum

  // ---- traced-run probes: each layer's public call timed on its own ----

  private var probeMetrics = Map.empty[String, Double]

  /** Generator, features and embedding forward pass materialized one at a
    * time at the index's size; a plain scan of the cached index and the
    * single-core dot-product loop as the roofline. */
  private def layerProbes(vectors: Array[Array[Float]]): Unit = {
    val n = sizes.map(_._2).sum.toDouble
    val raw = PatientGenerator.setupHospitals(spark, sizes, 42L)
    val genMs = timed(tracer.span("probe.gen")(noop(raw)))._2
    raw.cache(); raw.count()
    val featMs = timed(tracer.span("probe.feat")(noop(
      Normalization.assembleFeatures(Normalization.zscore(raw, perGroup = Some("hospital"))))))._2
    raw.unpersist(blocking = true)
    val embedMs = timed(tracer.span("probe.embed")(noop(
      FederatedTrainer.withEmbeddings(index.patients, index.ps.globalWeights).select("embedding"))))._2
    val scanMs = timed(noop(index.index.select("embedding")))._2
    tracer.drain()
    def stages(name: String) = tracer.named(name).flatMap(tracer.stagesOf)
    val embedCoreS = stages("probe.embed").map(_.runTimeMs).sum / 1000.0
    probeMetrics = Map(
      "gen.ms" -> genMs,
      "gen.rows_per_s" -> n / (genMs / 1000),
      "feat.ms" -> featMs,
      "feat.shuffle_bytes" -> stages("probe.feat").map(_.shuffleWriteBytes).sum.toDouble,
      "model.embed_ms" -> embedMs,
      "model.embed_rows_per_core_s" -> n / embedCoreS,
      "roofline.scan_bytes_per_s" -> vectors.length * 128 * 4 / (scanMs / 1000),
      "roofline.dot_per_core_s" -> Roofline.dotsPerCoreSecond(vectors))
  }

  /** The write side, at the reference demo's default size (1/100 of the
    * paper's): a fresh facade is set up, trained (3 rounds × 1 local
    * epoch), embedded, searched, persisted and reloaded, and searched
    * again; both searches must agree. Returns the check's problems. */
  private def pipelineProbes(): Seq[String] = {
    val small = new PatientSearch(spark)
    val patients = small.setupHospitals(Sizes.divided(100 * o.scale)); patients.count()
    tracer.span("model.train")(small.runFederatedTraining(rounds = buildRounds, localEpochs = 1))
    val built = small.generateAndStoreEmbeddings(); built.count()
    val q = queryProfile()
    val before = search(small, q)
    val dir = o.workDir.resolve(s"index-${ProcessHandle.current().pid()}").toAbsolutePath
    tracer.span("sources.write")(small.persistIndex(dir.toString))
    val loaded = tracer.span("sources.read") {
      val l = small.loadIndex(dir.toString); l.count(); l
    }
    val after = search(small, q)
    Seq(loaded, built, patients).foreach(_.unpersist(blocking = true))
    val files = Files.walk(dir)
    try files.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    finally files.close()
    Check.sameHash("search after persist and reload", before.rowsHash, after.rowsHash)
  }

  // ---- the run --------------------------------------------------------

  def run(): Outcome = {
    tracer.setActive(true)
    val (built, setupMs) = timed(buildIndex(sizes))
    index = built
    val w: Workload = if (o.workload == "knn_batch") new KnnBatch else new KnnSingle
    val prepareMs = timed(w.prepare())._2
    System.err.println(s"perfbench: session ${sessionS}s, set-up ms $setupMs, checks prepared in $prepareMs ms")
    var problems = Vector.empty[String]
    def runOp(): (Double, Seq[String]) = {
      tracer.beginOp()
      val (check, ms) = timed(w.op())
      (ms, check())
    }
    // warm-up operations: the first pays JIT and codegen for the
    // operation's path, the later ones let its time level off
    val warm = Seq.fill(w.warmUps) {
      val (ms, p) = runOp()
      problems ++= p.map("warm-up: " + _)
      ms
    }
    System.err.println(s"perfbench: warm-up ms ${warm.mkString(" ")}")
    // the measured closed loop; a traced run alternates traced and
    // untraced operations to measure the tracing overhead
    val loopStart = System.nanoTime()
    measuring = true
    val firstOp = tracer.currentOp + 1
    val times = Vector.newBuilder[(Double, Boolean)]
    var attempted = 0L; var failed = 0L; var i = 0
    while (i < 3 || (System.nanoTime() - loopStart) / 1e9 < o.seconds) {
      tracer.setActive(o.trace && i % 2 == 0)
      val traced = tracer.active
      val (ms, p) = runOp()
      attempted += 1
      if (p.nonEmpty) { failed += 1; problems ++= p.map(s"op $i: " + _) }
      else times += ms -> traced
      i += 1
    }
    measuring = false
    measuredOps = firstOp to tracer.currentOp
    System.err.println(s"perfbench: $attempted ops in ${(System.nanoTime() - loopStart) / 1e9}s: " +
      times.result().map(t => f"${t._1}%.0f").mkString(" "))
    tracer.setActive(o.trace)
    if (o.trace) {
      tracer.beginOp()
      layerProbes(w.vectors)
      val p = pipelineProbes()
      attempted += 1
      if (p.nonEmpty) { failed += 1; problems ++= p }
      tracer.drain()
    }
    problems.take(20).foreach(p => System.err.println(s"CHECK FAILED $p"))
    val ok = times.result()
    val opMs = ok.map(_._1)
    val metrics =
      if (!o.trace) Seq(
        Metric("setup_s", sessionS + setupMs / 1000, "s"),
        Metric("op_p50_ms", median(opMs), "ms"),
        Metric("index_mb", index.indexBytes / 1e6, "MB"))
      else layerMetrics(ok)
    writeTrace()
    index.index.unpersist(blocking = true); index.patients.unpersist(blocking = true)
    val derived = Seq(
      Metric("qps", ok.size * w.queriesPerOp / (opMs.sum / 1000), "1/s"),
      Metric("error_rate", failed.toDouble / attempted, "ratio"))
    Outcome(problems.isEmpty && failed == 0, attempted, failed, metrics, derived)
  }

  private def layerMetrics(ok: Seq[(Double, Boolean)]): Seq[Metric] = {
    val n = index.rows.toDouble
    def measured(name: String) = tracer.named(name).filter(s => measuredOps.contains(s.op))
    val searches = measured("search")
    val qPer = if (o.workload == "knn_batch") batchQueries.toDouble else 1.0
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else median(xs)
    def perQuery(f: Span => Double) = med(searches.map(s => f(s) / qPer))
    def scoring(s: Span): Option[StageStat] = tracer.stagesOf(s).sortBy(-_.runTimeMs).headOption
    val cosPerCoreS = med(searches.flatMap(s => scoring(s).filter(_.runTimeMs > 0)
      .map(st => qPer * n / (st.runTimeMs / 1000.0))))
    val trainSpans = tracer.named("model.train")
    // the training stage of each round is the one reading the shards'
    // shuffle output (groupByKey(hospital).mapGroups)
    val skews = trainSpans.flatMap(tracer.stagesOf).filter(_.shuffleReadBytes > 0).flatMap { st =>
      val ts = st.tasks.filter(_.recordsRead > 0).map(_.runTimeMs.toDouble)
      if (ts.isEmpty) None else Some(ts.max / math.max(ts.sum / ts.size, 1.0))
    }
    val tracedMs = ok.filter(_._2).map(_._1)
    val untracedMs = ok.filterNot(_._2).map(_._1)
    val overhead = if (tracedMs.isEmpty || untracedMs.isEmpty) 0.0
      else 100 * (median(tracedMs) - median(untracedMs)) / median(untracedMs)
    val pm = probeMetrics
    val m = Seq(
      ("gen.ms", pm("gen.ms"), "ms"),
      ("gen.rows_per_s", pm("gen.rows_per_s"), "1/s"),
      ("feat.ms", pm("feat.ms"), "ms"),
      ("feat.shuffle_bytes", pm("feat.shuffle_bytes"), "B"),
      ("model.train_ms", med(trainSpans.map(_.ms)), "ms"),
      ("model.round_ms", med(trainSpans.map(_.ms / buildRounds)), "ms"),
      ("model.task_skew", med(skews), "ratio"),
      ("model.embed_ms", pm("model.embed_ms"), "ms"),
      ("model.embed_rows_per_core_s", pm("model.embed_rows_per_core_s"), "1/s"),
      ("store.build_ms", med(tracer.named("setup.embed").map(_.ms)), "ms"),
      ("store.bytes_per_vector_byte", index.indexBytes / (n * 128 * 4), "ratio"),
      ("sources.index_write_ms", med(tracer.named("sources.write").map(_.ms)), "ms"),
      ("sources.index_read_ms", med(tracer.named("sources.read").map(_.ms)), "ms"),
      ("search.plan_ms", med(planMs.toSeq), "ms"),
      ("search.exec_ms", perQuery(s => s.ms - tracer.driverGapMs(s)), "ms"),
      ("search.driver_gap_ms", perQuery(tracer.driverGapMs), "ms"),
      ("search.jobs_per_query", perQuery(s => tracer.jobsOf(s).size.toDouble), "count"),
      ("search.stages_per_query", perQuery(s => tracer.stagesOf(s).size.toDouble), "count"),
      ("search.tasks_per_query", perQuery(s => tracer.stagesOf(s).map(_.numTasks).sum.toDouble), "count"),
      ("search.shuffle_bytes_per_query", perQuery(s => tracer.stagesOf(s).map(_.shuffleWriteBytes).sum.toDouble), "B"),
      ("search.rows_shuffled_per_hit", perQuery(s => tracer.stagesOf(s).map(_.shuffleWriteRecords).sum.toDouble / k), "ratio"),
      ("functions.cosine_per_core_s", cosPerCoreS, "1/s"),
      ("functions.pct_roofline", 100 * cosPerCoreS / pm("roofline.dot_per_core_s"), "%"),
      ("functions.scan_bytes_per_s", med(searches.flatMap(scoring).filter(_.wallMs > 0)
        .map(st => n * 128 * 4 / (st.wallMs / 1000.0))), "B/s"),
      ("functions.topk_shuffle_bytes_per_batch", med(searches.flatMap(scoring).map(_.shuffleWriteBytes.toDouble)), "B"),
      ("stats.ms", med(measured("stats").map(_.ms)), "ms"),
      ("roofline.dot_per_core_s", pm("roofline.dot_per_core_s"), "1/s"),
      ("roofline.scan_bytes_per_s", pm("roofline.scan_bytes_per_s"), "B/s"),
      ("jvm.gc_ms", (gcMs() - gcStart).toDouble, "ms"),
      ("trace.overhead_pct", overhead, "%"))
    m.map { case (a, b, c) => Metric(a, b, c) }
  }

  private def writeTrace(): Unit = if (o.trace) {
    val f = o.workDir.resolve(s"trace-${o.workload}-${o.seed}.jsonl")
    Files.createDirectories(o.workDir)
    Files.write(f, tracer.jsonLines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
