package graft.tools

import org.apache.spark.sql.SparkSession

/** Dev measurement harness (guide §7.2): dumps `explain("formatted")` plus
  * the executed-plan string for one declared query to a file, optionally
  * flipping session confs AFTER the query function has built its fixtures
  * and DataFrame — the optimizer reads confs at action time, so this
  * produces honest "rule off" (before) vs "rule on" (after) plans from the
  * SAME binary, which is stronger evidence than plans from two builds
  * (nothing else can differ).
  *
  * Usage: runMain graft.tools.PlanDump <sfDir> <outFile> <query> [k=v ...]
  *
  * The rule-off plan of a query, say `q_rank_topk` without its rule:
  * `runMain graft.tools.PlanDump /root/testdata/sf0.01 off.txt q_rank_topk
  * spark.sql.optimizer.excludedRules=graft.plans.RankTopK`
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outFile, name, rest @ _*) = args
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val df = graft.SparkEntry.queries(name)(spark, sfDir)
    rest.foreach { kv =>
      val Array(k, v) = kv.split("=", 2)
      spark.conf.set(k, v)
    }
    // collect() finalizes THIS df's AQE plan (count() would plan and
    // run a different query, its own aggregate over this one)
    df.collect()
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    val executed = df.queryExecution.executedPlan.toString
    val overrides =
      if (rest.isEmpty) "(none — declared-query defaults)"
      else rest.mkString(" ")
    val out =
      s"""query: $name   sfDir: $sfDir
         |conf overrides applied after construction: $overrides
         |
         |$plan
         |==== executed plan (final, post-AQE) ====
         |$executed
         |""".stripMargin
    java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      out.getBytes("UTF-8"))
    println(s"wrote $outFile (${out.length} bytes)")
    spark.stop()
  }
}
