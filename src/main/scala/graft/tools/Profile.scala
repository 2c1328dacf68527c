package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** Dev-loop measurement harness (guide §1): times one warmed pass of each
  * named query and breaks it down into the Spark JOBS it ran — count,
  * per-job wall ms, callsite — plus stage/task totals. The gap between
  * query wall time and the sum of job times is driver-side work
  * (planning, manifest IO, parquet footers).
  *
  * Usage: runMain graft.tools.Profile <sfDir> <query> [query...]
  * Env: SPARK_GRAFT_CPUS (default 32).
  */
object Profile {

  private case class JobRec(id: Int, callsite: String, var ms: Double,
                            var started: Long)

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.drop(1).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // A/B switch for cached-plan AQE experiments
    sys.env.get("SPARK_GRAFT_CACHED_AQE").foreach(v => spark.conf.set(
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", v))

    val jobs = mutable.Map[Int, JobRec]()
    val order = mutable.ArrayBuffer[Int]()
    var stages = 0
    var tasks = 0L
    var taskMs = 0.0
    // stage id → owning job's label, recorded at job start
    val stageJob = mutable.Map[Int, String]()
    // (stage label, numTasks, executorRunTime ms) for hot-stage spotting
    val stageRecs = mutable.ArrayBuffer[(String, Int, Double)]()
    // the drain's sentinel job and its stages are not the query's
    val sentinelStages = mutable.Set[Int]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
        if (ListenerDrain.isSentinel(js.properties))
          sentinelStages ++= js.stageInfos.map(_.stageId)
        else {
          val cs = Option(js.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .orElse(Option(js.properties)
              .flatMap(p => Option(p.getProperty("callSite.short"))))
            .orElse(js.stageInfos.lastOption.map(_.name.take(60)))
            .getOrElse("?")
          jobs(js.jobId) = JobRec(js.jobId, cs, -1, js.time)
          js.stageInfos.foreach(si => stageJob(si.stageId) = s"job ${js.jobId} $cs")
          order += js.jobId
        }
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = synchronized {
        jobs.get(je.jobId).foreach(r => r.ms = (je.time - r.started).toDouble)
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        synchronized {
          if (!sentinelStages.contains(sc.stageInfo.stageId)) {
            stages += 1
            tasks += sc.stageInfo.numTasks
            taskMs += sc.stageInfo.taskMetrics.executorRunTime.toDouble
            val label = stageJob.getOrElse(sc.stageInfo.stageId,
              sc.stageInfo.name.take(40)) + " | " + sc.stageInfo.name.take(40)
            stageRecs += ((label, sc.stageInfo.numTasks,
              sc.stageInfo.taskMetrics.executorRunTime.toDouble))
          }
        }
    }

    names.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      // warmup (JIT, codegen cache, parquet footers, memoized fixtures)
      try fn(spark, sfDir).count() catch { case e: Throwable =>
        println(s"[$name] warmup FAILED: ${e.getMessage}"); }
      // settle, then profile one pass
      jobs.clear(); order.clear(); stages = 0; tasks = 0L; taskMs = 0.0
      stageRecs.clear(); stageJob.clear()
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      try fn(spark, sfDir).count() catch { case e: Throwable =>
        println(s"[$name] FAILED: ${e.getMessage}") }
      val wallMs = (System.nanoTime() - t0) / 1e6
      ListenerDrain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
      val recs = synchronized(order.toSeq.flatMap(jobs.get))
      val jobSum = recs.map(_.ms.max(0)).sum
      println(f"\n==== $name: wall=${wallMs}%.0fms jobs=${recs.size} " +
        f"jobMsSum=$jobSum%.0f driverGap=${wallMs - jobSum}%.0f " +
        f"stages=$stages tasks=$tasks taskMsSum=$taskMs%.0f")
      recs.foreach { r =>
        println(f"  job ${r.id}%4d ${r.ms}%8.0f ms  ${r.callsite}")
      }
      // hottest stages: a stage with few tasks and big run time is a
      // serialization point (guide §2.5 — input parallelism / skew)
      synchronized(stageRecs.sortBy(-_._3).take(12)).foreach {
        case (nm, nt, ms) if ms >= 50 =>
          println(f"  stage $ms%8.0f taskMs  ntasks=$nt%-4d $nm")
        case _ => ()
      }
    }
    if (sys.env.contains("SPARK_GRAFT_RULE_DUMP")) {
      println("\n==== catalyst rule time (whole run) ====")
      println(org.apache.spark.sql.catalyst.rules.RuleExecutor.dumpTimeSpent())
    }
    spark.stop()
  }
}
