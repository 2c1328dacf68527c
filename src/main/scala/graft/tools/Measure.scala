package graft.tools

import scala.collection.mutable
import scala.util.{Failure, Success, Try}

import com.fasterxml.jackson.databind.{ObjectMapper, PropertyNamingStrategies}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.rules.RuleExecutor
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.functions.{broadcast, col}

/** Where did each query's time go. For every declared query this runs
  * one warm-up `collect()` (JIT, codegen caches, parquet footers, staged
  * fixtures) and one measured `collect()`, drains the listener bus
  * ([[ListenerDrain]]) and keeps one [[Record]]:
  *   - wall time, and the `QueryExecution.tracker` phases;
  *   - the time covered by the union of the query's job intervals, and
  *     the driver time outside it (`wall = job + driver`; AQE runs its
  *     broadcast and shuffle stages as concurrent jobs, so a plain sum
  *     of job times double-counts and understates the driver time);
  *   - each job with its label (`spark.job.description`, else the call
  *     site), and per stage: tasks, executor run time, shuffle bytes
  *     read and written, spill;
  *   - the plan shape, counted on the final executed plan tree, a
  *     reused exchange once (not on the explain text, which lists every
  *     node twice and, after AQE, prints the initial plan too): shuffle
  *     and broadcast exchanges, join strategies, top-k, pushdown,
  *     codegen, the scale-killer flags, and files read against the
  *     table's files per scan;
  *   - the Catalyst rule time of the measured run;
  *   - the operators' dropped-candidate counters and the batch cosine
  *     kernel's skipped-pair counter ([[Counters]]).
  *
  * Usage: runMain graft.tools.Measure <sfDir> <outFile> [q1,q2,...] [mult]
  *   - the query filter works as `graft.Verify`'s third argument does;
  *   - `mult` > 1 measures on a volume derived from `sfDir` ([[scaled]]):
  *     run it once with `SPARK_GRAFT_CPUS=8` and once with 32 and divide
  *     the per-query wall times for the 8-vs-32-core ratio.
  * Env: SPARK_GRAFT_CPUS (default 4): local[cpus], as many shuffle
  * partitions.
  */
object Measure {

  /** Names of the operators' dropped-candidate `longAccumulator`s (the
    * nine sites in `src/main` register these seven names) and of the
    * batch cosine kernel's skipped-pair counter. Every record carries
    * all of them, 0 when no task added to one.
    */
  val Counters: Seq[String] = {
    import graft.functions.CosineTopKExpr
    import graft.operators.{CdcChunking, MinHashDedup, SimHash}
    Seq(MinHashDedup.droppedBucketsAcc, MinHashDedup.droppedDocSlotsAcc,
      MinHashDedup.droppedShinglesAcc, SimHash.droppedBucketsAcc,
      SimHash.droppedDocSlotsAcc, CdcChunking.droppedChunksAcc,
      CdcChunking.droppedChunksAcc + ".slots", CosineTopKExpr.skippedPairsAcc)
  }

  /** A job of the measured run; start and end are ms after its start. */
  final case class Job(id: Int, label: String, startMs: Long, endMs: Long)
  final case class Stage(id: Int, job: Int, name: String, tasks: Int,
                         executorRunMs: Long, shuffleReadBytes: Long,
                         shuffleWriteBytes: Long, spillMemoryBytes: Long,
                         spillDiskBytes: Long)
  /** One file scan: the files it read and the files its table holds. */
  final case class Scan(table: String, filesRead: Long, filesTotal: Int)
  final case class Shape(shuffles: Int, broadcasts: Int,
                         joins: Map[String, Int], takeOrdered: Boolean,
                         pushedFilters: Boolean, codegen: Boolean,
                         flags: Seq[String], scans: Seq[Scan])
  final case class Record(query: String, wallMs: Long, jobMs: Long,
                          driverMs: Long, ruleMs: Long,
                          phasesMs: Map[String, Long], jobs: Seq[Job],
                          stages: Seq[Stage], shape: Option[Shape],
                          counters: Map[String, Long], error: Option[String])
  final case class Summary(sf: String, cpus: Int, mult: Int, queries: Int,
                           failed: Int, wallMs: Long, jobMs: Long,
                           driverMs: Long, executorRunMs: Long, ruleMs: Long)

  /** Length of the union of `spans`, each clipped to [0, wallMs]. */
  def covered(spans: Seq[(Long, Long)], wallMs: Long): Long = {
    var total = 0L
    var end = 0L
    spans.map { case (s, e) => (s.max(0L), e.min(wallMs)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
      .foreach { case (s, e) =>
        if (e > end) { total += e - s.max(end); end = e }
      }
    total
  }

  /** Collects one measured run's jobs, stages and counters; the drain's
    * sentinel job and its stages are skipped.
    */
  private final class Recorder(t0: Long) extends SparkListener {
    val jobs = mutable.LinkedHashMap[Int, Job]()
    val stages = mutable.ArrayBuffer[Stage]()
    private val stageJob = mutable.Map[Int, Int]()
    private val sentinelStages = mutable.Set[Int]()
    // accumulator id -> (name, value): a stage reports its counter's
    // running total, so the last report per id is the id's value
    private val accums = mutable.Map[Long, (String, Long)]()

    override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
      if (ListenerDrain.isSentinel(js.properties))
        sentinelStages ++= js.stageIds
      else {
        val props = Option(js.properties)
        val label = Seq("spark.job.description", "callSite.short").iterator
          .flatMap(k => props.flatMap(p => Option(p.getProperty(k))))
          .nextOption().orElse(js.stageInfos.lastOption.map(_.name))
          .getOrElse("?")
        jobs(js.jobId) = Job(js.jobId, label, js.time - t0, -1L)
        js.stageIds.foreach(stageJob(_) = js.jobId)
      }
    }

    override def onJobEnd(je: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(je.jobId).foreach(j => jobs(je.jobId) = j.copy(endMs = je.time - t0))
    }

    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
      synchronized {
        val si = sc.stageInfo
        if (!sentinelStages.contains(si.stageId)) {
          val m = si.taskMetrics
          stages += Stage(si.stageId, stageJob.getOrElse(si.stageId, -1),
            si.name, si.numTasks, m.executorRunTime,
            m.shuffleReadMetrics.totalBytesRead,
            m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled,
            m.diskBytesSpilled)
          si.accumulables.values.foreach { a =>
            for (n <- a.name if Counters.contains(n); v <- a.value)
              accums(a.id) = (n, v.toString.toLong)
          }
        }
      }

    def counters: Map[String, Long] = synchronized {
      val sums = accums.values.groupMapReduce(_._1)(_._2)(_ + _)
      Counters.map(n => n -> sums.getOrElse(n, 0L)).toMap
    }
  }

  /** Measure one query: a warm-up collect of `build`, then a measured one. */
  def measure(spark: SparkSession, name: String)(build: => DataFrame): Record = {
    val sc = spark.sparkContext
    Try(build.collect())
    // the warm-up's last events must not reach the measured run's recorder
    ListenerDrain(sc)
    val rule0 = RuleExecutor.getCurrentMetrics().time
    val t0 = System.currentTimeMillis()
    val rec = new Recorder(t0)
    sc.addSparkListener(rec)
    val run = Try { val df = build; df.collect(); df }
    val wallMs = System.currentTimeMillis() - t0
    val ruleMs = (RuleExecutor.getCurrentMetrics().time - rule0) / 1000000
    try ListenerDrain(sc) finally sc.removeSparkListener(rec)
    val shape = run.flatMap(df => Try(planShape(spark, df.queryExecution.executedPlan)))
    val jobs = rec.synchronized(rec.jobs.values.toSeq
      .map(j => if (j.endMs < 0) j.copy(endMs = wallMs) else j))
    val jobMs = covered(jobs.map(j => (j.startMs, j.endMs)), wallMs)
    Record(name, wallMs, jobMs, wallMs - jobMs, ruleMs,
      run.toOption.map(_.queryExecution.tracker.phases.map {
        case (k, p) => k -> p.durationMs }).getOrElse(Map.empty),
      jobs, rec.synchronized(rec.stages.toSeq), shape.toOption, rec.counters,
      shape match {
        case Failure(e) => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")
        case Success(_) => None
      })
  }

  /** The node an execution wrapper stands for (the final AQE plan, a
    * materialised stage's plan, a reused exchange's original, a codegen
    * body); None for an operator.
    */
  private def unwrap(p: SparkPlan): Option[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Some(a.executedPlan)
    case q: QueryStageExec        => Some(q.plan)
    case r: ReusedExchangeExec    => Some(r.child)
    case w: WholeStageCodegenExec => Some(w.child)
    case i: InputAdapter          => Some(i.child)
    case _                        => None
  }

  /** Every node of an executed plan, wrappers included. A reused
    * exchange ran once, where it was first planned, so its original is
    * not walked a second time.
    */
  private def tree(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case _: ReusedExchangeExec => Nil
    case _                     => unwrap(p).fold(p.children.flatMap(tree))(tree)
  })

  private def operators(p: SparkPlan): Seq[SparkPlan] =
    tree(p).filter(unwrap(_).isEmpty)

  private def strip(p: SparkPlan): SparkPlan = unwrap(p).fold(p)(strip)

  /** A subtree that bounds its row count before reaching a global
    * window: any limit or top-k, or an aggregation.
    */
  private def bounded(p: SparkPlan): Boolean = operators(p).exists {
    case _: GlobalLimitExec | _: LocalLimitExec | _: TakeOrderedAndProjectExec |
         _: CollectLimitExec | _: aggregate.BaseAggregateExec => true
    case _ => false
  }

  /** Runtime bytes of the nearest materialised query stage under `p`. */
  private def stageBytes(p: SparkPlan): Option[Long] = p match {
    case q: QueryStageExec => Some(q.getRuntimeStatistics.sizeInBytes.longValue)
    case s: SortExec       => stageBytes(s.child)
    case w                 => unwrap(w).flatMap(stageBytes)
  }

  /** The shape facts of a final executed plan. Flags:
    *   - CARTESIAN, BNLJ: a cartesian product or broadcast nested-loop join;
    *   - GLOBAL_WINDOW: a window with no partitioning over unbounded input;
    *   - SMJ_SMALL_SIDE: a sort-merge join with a side whose runtime bytes
    *     fit the broadcast threshold;
    *   - UNPUSHED_FILTER: a filter directly over a scan that pushed nothing
    *     (the predicate never reached the reader).
    */
  def planShape(spark: SparkSession, root: SparkPlan): Shape = {
    val ops = operators(root)
    val broadcastMax = spark.sessionState.conf.autoBroadcastJoinThreshold
    def scanBelow(p: SparkPlan): Option[FileSourceScanExec] = strip(p) match {
      case s: FileSourceScanExec => Some(s)
      case pr: ProjectExec       => scanBelow(pr.child)
      case c: ColumnarToRowExec  => scanBelow(c.child)
      case _                     => None
    }
    val flags = Seq(
      "CARTESIAN" -> ops.exists(_.isInstanceOf[joins.CartesianProductExec]),
      "BNLJ" -> ops.exists(_.isInstanceOf[joins.BroadcastNestedLoopJoinExec]),
      "GLOBAL_WINDOW" -> ops.exists {
        case w: window.WindowExec => w.partitionSpec.isEmpty && !bounded(w.child)
        case w: window.WindowGroupLimitExec =>
          w.partitionSpec.isEmpty && !bounded(w.child)
        case _ => false
      },
      "SMJ_SMALL_SIDE" -> (broadcastMax > 0 && ops.exists {
        case j: joins.SortMergeJoinExec => Seq(j.left, j.right)
          .flatMap(stageBytes).exists(b => b >= 0 && b <= broadcastMax)
        case _ => false
      }),
      "UNPUSHED_FILTER" -> ops.exists {
        case f: FilterExec => scanBelow(f.child)
          .exists(_.metadata.get("PushedFilters").contains("[]"))
        case _ => false
      }).collect { case (f, true) => f }
    val scans = ops.collect { case s: FileSourceScanExec => s }
    Shape(
      shuffles = ops.count(_.isInstanceOf[ShuffleExchangeLike]),
      broadcasts = ops.count(_.isInstanceOf[BroadcastExchangeLike]),
      joins = ops.collect { case j: joins.BaseJoinExec => j.nodeName }
        .groupMapReduce(identity)(_ => 1)(_ + _),
      takeOrdered = ops.exists(_.isInstanceOf[TakeOrderedAndProjectExec]),
      pushedFilters = scans.exists(_.metadata.get("PushedFilters").exists(_ != "[]")),
      codegen = tree(root).exists(_.isInstanceOf[WholeStageCodegenExec]),
      flags = flags,
      scans = scans.map { s =>
        val loc = s.relation.location
        val root = loc.rootPaths.headOption
        Scan(root.map(p => s"${p.getParent.getName}/${p.getName}").getOrElse("?"),
          s.metrics("numFiles").value, tableFiles(spark, loc))
      })
  }

  /** The files of the table a scan reads: a snapshot read may be served
    * an index of the manifest's pruned entries only (`readRange`), so
    * its table's files are those of the table's current manifest.
    */
  private def tableFiles(spark: SparkSession, loc: datasources.FileIndex): Int =
    loc match {
      case i: graft.sources.SnapshotFileIndex => Try {
        val st = graft.sources.SnapshotTable
        st.readManifest(spark, i.tablePath, st.currentVersion(spark, i.tablePath)).size
      }.getOrElse(i.inputFiles.length)
      case other => other.inputFiles.length
    }

  /** The volume `ScalingProbe` measured core scaling on: orders and
    * lineitem replicated `mult`× with the order keys offset by
    * `i * 1e9` per replica (keys stay unique, joins keep their fan-out),
    * the dimensions copied as they are. Staged once per (corpus, mult)
    * in a content-addressed directory that later runs reuse.
    */
  private def scaled(s: SparkSession, sfDir: String, mult: Int): String = {
    val tables = Seq("orders", "lineitem", "region", "nation", "customer",
      "supplier", "part")
    graft.sources.Ingest.ensureStaged(graft.sources.Ingest.stagedPath(s,
      s"graft_scaleprobe_${mult}x_", tables.map(t => s"$sfDir/$t.parquet"))) { out =>
      def replicate(df: DataFrame, key: String): DataFrame =
        df.crossJoin(broadcast(s.range(0, mult).select(col("id").as("__rep"))))
          .select(df.columns.map {
            case `key` => (col(key) + col("__rep") * 1000000000L).as(key)
            case c     => col(c)
          }: _*)
          // a healthy parallel scan, as a real table of this size has
          .repartition(32)
      replicate(graft.Tables.orders(s, sfDir), "o_orderkey")
        .write.parquet(s"$out/orders.parquet")
      replicate(graft.Tables.lineitem(s, sfDir), "l_orderkey")
        .write.parquet(s"$out/lineitem.parquet")
      tables.drop(2).foreach(t =>
        graft.Tables.load(s, sfDir, t).write.parquet(s"$out/$t.parquet"))
      java.nio.file.Files.createFile(java.nio.file.Paths.get(out, "_SUCCESS"))
    }
  }

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)
    .setPropertyNamingStrategy(PropertyNamingStrategies.SNAKE_CASE)

  /** The summary, then one record per line. */
  def render(summary: Summary, records: Seq[Record]): String =
    s"""{"summary": ${json.writeValueAsString(summary)},
       |"records": [
       |${records.map(json.writeValueAsString).mkString(",\n")}
       |]}
       |""".stripMargin

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outFile, rest @ _*) = args
    val only = rest.headOption.map(_.split(",").toSet)
    val mult = rest.lift(1).map(_.toInt).getOrElse(1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    // On the derived volume the default 64 MB advisory size coalesces
    // every reduce stage to a handful of tasks, so wall time would not
    // move with the core count whatever the compute; 8 MB gives the
    // partition count a much larger input reaches by itself.
    if (mult > 1)
      builder.config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val dir = if (mult > 1) scaled(spark, sfDir, mult) else sfDir

    val records = graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
        val r = measure(spark, name)(fn(spark, dir))
        println(s"[measure] $name wall=${r.wallMs}ms job=${r.jobMs}ms " +
          s"driver=${r.driverMs}ms${r.error.fold("")(e => s" FAILED $e")}")
        r
      }
    val summary = Summary(sfDir, cpus, mult, records.size,
      records.count(_.error.isDefined), records.map(_.wallMs).sum,
      records.map(_.jobMs).sum, records.map(_.driverMs).sum,
      records.flatMap(_.stages).map(_.executorRunMs).sum,
      records.map(_.ruleMs).sum)
    java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      render(summary, records).getBytes("UTF-8"))
    println(s"wrote $outFile: ${json.writeValueAsString(summary)}")
    spark.stop()
  }
}
