package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution._

/** Whole-inventory plan audit (guide §1.2/§7.2): executes every declared
  * query once at the given SF and emits ONE TSV line per query with the
  * plan-shape facts regression reviews care about — Exchange count, join
  * strategies, TakeOrderedAndProject, scan pushdown, codegen presence,
  * the scale-killer flags (CartesianProduct / BroadcastNestedLoopJoin,
  * per-row Scala UDF nodes, global windows over unbounded input,
  * SortMergeJoin with a runtime-tiny side, unpushed filters directly
  * over an unfiltered scan), and the widest stage's task count (the
  * parallelism the query actually achieved — a 1 everywhere means the
  * suite cannot demonstrate core scaling, see SCALE.md).
  *
  * Usage: runMain graft.tools.PlanAuditAll [sfDir] [outFile]
  */
object PlanAuditAll {

  /** Strip execution wrappers so structural checks see the real operator
    * tree (final AQE plan, materialized stages, codegen bodies).
    */
  private def strip(p: SparkPlan): SparkPlan = p match {
    case a: adaptive.AdaptiveSparkPlanExec => strip(a.executedPlan)
    case q: adaptive.QueryStageExec        => strip(q.plan)
    case w: WholeStageCodegenExec          => strip(w.child)
    case i: InputAdapter                   => strip(i.child)
    case r: exchange.ReusedExchangeExec    => strip(r.child)
    case other                             => other
  }

  private def walk(p: SparkPlan): Seq[SparkPlan] = {
    val s = strip(p)
    s +: s.children.flatMap(walk)
  }

  /** A child subtree that bounds its row count before reaching a global
    * window: any limit/top-k, or an aggregation (grouped output is the
    * "daily aggregates" case — small by construction at the window).
    */
  private def bounded(p: SparkPlan): Boolean =
    walk(p).exists {
      case _: GlobalLimitExec | _: LocalLimitExec |
           _: TakeOrderedAndProjectExec | _: CollectLimitExec => true
      case _: org.apache.spark.sql.execution.aggregate.HashAggregateExec |
           _: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec |
           _: org.apache.spark.sql.execution.aggregate.SortAggregateExec => true
      case _ => false
    }

  /** Runtime bytes of the nearest materialized query stage under `p`
    * (AQE recorded them during execution), if any.
    */
  private def stageBytes(p: SparkPlan): Option[Long] = p match {
    case q: adaptive.QueryStageExec =>
      Some(q.getRuntimeStatistics.sizeInBytes.longValue)
    case w: WholeStageCodegenExec => stageBytes(w.child)
    case i: InputAdapter          => stageBytes(i.child)
    case s: SortExec              => stageBytes(s.child)
    case r: exchange.ReusedExchangeExec => stageBytes(r.child)
    case _ => None
  }

  private def structuralFlags(root: SparkPlan, broadcastMax: Long): Seq[String] = {
    val nodes = walk(root)
    val globalWindow = nodes.exists {
      case w: window.WindowExec if w.partitionSpec.isEmpty =>
        !bounded(w.child)
      case w: window.WindowGroupLimitExec if w.partitionSpec.isEmpty =>
        !bounded(w.child)
      case _ => false
    }
    val smjSmallSide = broadcastMax > 0 && nodes.exists {
      case j: joins.SortMergeJoinExec =>
        Seq(j.left, j.right).flatMap(stageBytes)
          .exists(b => b >= 0 && b <= broadcastMax)
      case _ => false
    }
    // a Filter sitting DIRECTLY on a scan that pushed nothing: the
    // predicate never reached the reader (derived column, UDF, complex
    // type). Projects in between are fine — they don't block pushdown,
    // so seeing one means pushdown was already decided against.
    def scanBelow(p: SparkPlan): Option[FileSourceScanExec] = strip(p) match {
      case s: FileSourceScanExec => Some(s)
      case pr: ProjectExec       => scanBelow(pr.child)
      case c: ColumnarToRowExec  => scanBelow(c.child)
      case _                     => None
    }
    val unpushedFilter = nodes.exists {
      case f: FilterExec => scanBelow(f.child)
        .exists(s => s.metadata.get("PushedFilters").contains("[]"))
      case _ => false
    }
    Seq(
      if (globalWindow) Some("GLOBAL_WINDOW") else None,
      if (smjSmallSide) Some("SMJ_SMALL_SIDE") else None,
      if (unpushedFilter) Some("UNPUSHED_FILTER") else None).flatten
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val outFile = args.drop(1).headOption.getOrElse("plans/r14/AUDIT.tsv")
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // widest-stage task count per query: the parallelism the query
    // actually achieved at this config (scaling evidence, guide §1)
    val maxTasks = new java.util.concurrent.atomic.AtomicInteger(0)
    val sentinelStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          if (ListenerDrain.isSentinel(js.properties))
            js.stageInfos.foreach(si => sentinelStages.add(si.stageId))
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
          if (!sentinelStages.contains(sc.stageInfo.stageId))
            maxTasks.getAndAccumulate(sc.stageInfo.numTasks, math.max)
      })

    val sb = new StringBuilder
    sb.append("query\texchanges\tjoins\ttakeOrdered\tpushedFilters\t" +
      "codegen\tmaxStageTasks\tflags\n")
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val line = try {
        spark.sparkContext.setJobDescription(s"audit: $name")
        maxTasks.set(0)
        val df = fn(spark, sfDir)
        df.collect()
        ListenerDrain(spark.sparkContext)
        val qe = df.queryExecution
        val plan = qe.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        val executed = qe.executedPlan.toString
        def count(s: String, n: String) = s.sliding(n.length).count(_ == n)
        val ex = count(plan, "Exchange")
        val joins = Seq("BroadcastHashJoin", "SortMergeJoin",
          "ShuffledHashJoin", "BroadcastNestedLoopJoin", "CartesianProduct")
          .map(j => j -> count(plan, j)).filter(_._2 > 0)
          .map { case (j, c) => s"$j:$c" }.mkString(",")
        val topk = count(plan + executed, "TakeOrderedAndProject") > 0
        // non-empty pushed list anywhere in the plan (any predicate
        // class — the old first-letter whitelist missed StringStartsWith
        // and friends, ADVICE r13)
        val pushed = raw"PushedFilters: \[[^\]]".r.findFirstIn(plan).isDefined
        val codegen = executed.contains("*(")
        val broadcastMax = try spark.conf
          .get("spark.sql.autoBroadcastJoinThreshold")
          .replace("b", "").replace("B", "") match {
            case s if s.endsWith("m") || s.endsWith("M") =>
              s.dropRight(1).toLong * 1024 * 1024
            case s if s.endsWith("k") || s.endsWith("K") =>
              s.dropRight(1).toLong * 1024
            case s => s.toLong
          } catch { case _: Throwable => 10L * 1024 * 1024 }
        val flags = (Seq(
          if (plan.contains("CartesianProduct")) Some("CARTESIAN") else None,
          if (plan.contains("BroadcastNestedLoopJoin")) Some("BNLJ") else None,
          if (executed.contains("BatchEvalPython")) Some("PYUDF") else None
        ).flatten ++
          (try structuralFlags(qe.executedPlan, broadcastMax)
           catch { case _: Throwable => Seq("FLAGS_ERR") })).mkString(",")
        s"$name\t$ex\t${if (joins.isEmpty) "-" else joins}\t$topk\t" +
          s"$pushed\t$codegen\t${maxTasks.get}\t${if (flags.isEmpty) "-" else flags}"
      } catch {
        case e: Throwable =>
          s"$name\tERR\t${e.getClass.getSimpleName}\t-\t-\t-\t-\t-"
      } finally spark.sparkContext.setJobDescription(null)
      sb.append(line).append('\n')
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      sb.toString.getBytes("UTF-8"))
    println(s"wrote $outFile")
    spark.stop()
  }
}
