package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Parallel-scaling probe (closes the r13 measurement gap: at sf0.1 the
  * whole bench is fixed-latency-bound — per-query 8-core vs 32-core
  * ratios are ≈1, so "this query parallelises" was unfalsifiable from
  * driver data). The probe DERIVES a larger volume from the corpus
  * (lineitem/orders multiplied `mult`× with disjoint key ranges —
  * deterministic integer arithmetic, staged once per (corpus, mult) in
  * a content-addressed tmp dir that later runs reuse), times a fixed set of COMPUTE-SHAPED declared queries on
  * it at two core counts in one JVM (two sequential SparkContexts), and
  * prints one JSON line per query plus a summary. A compute-bound query
  * shows ratio(t_low / t_high) well above 1 at 4× the cores; a
  * cadence/latency-bound one stays ≈1 and is documented as such.
  *
  * This is measurement tooling, NOT part of the bench contract —
  * Bench.scala is untouched; the artifact is committed as
  * plans/r14/SCALING.json.
  *
  * Usage: runMain graft.tools.ScalingProbe [sfDir] [mult] [outFile]
  */
object ScalingProbe {

  /** The probed queries: plain relational/text shapes whose work grows
    * linearly (or n·log n) with the derived volume — no quadratic
    * self-joins, no streaming cadence, no scratch-table commits.
    */
  private val Probes = Seq(
    "q1_pricing_summary",    // lineitem scan + wide aggregate
    "q3_shipping_priority",  // customer ⋈ orders ⋈ lineitem + top-k
    "q9_product_profit",     // derived partsupp ⋈ lineitem ⋈ part ⋈ supplier
    "q18_large_orders",      // grouped HAVING over lineitem + join back
    "q21_waiting_suppliers") // the exists/not-exists (now conditional-agg) shape

  private def session(cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // probe-only (NOT the bench config): at probe volumes the default
      // 64 MB advisory target coalesces every post-shuffle stage to a
      // handful of tasks, so wall time is identical at 8 and 32 cores
      // regardless of compute — the first probe run measured ratios
      // 0.79-1.14 with 5-task reduce stages. A smaller advisory size
      // reproduces the partition-count regime a 100 TB input reaches
      // naturally (bytes/64 MB >> cores), which is exactly the regime
      // the scaling question is about.
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Derive the scaled corpus: orders/lineitem replicated `mult`× with
    * o_orderkey/l_orderkey offset per replica (keys stay unique, joins
    * stay 1:N with the same fan-out); dims copied as-is so dim joins
    * keep their cardinality. part is copied too — q9's derived partsupp
    * fans out from it in-query. Deterministic: replica i adds
    * i * (maxOrderKey rounded up to 1e9) to the order keys.
    */
  private def stage(s: SparkSession, sfDir: String, mult: Int,
                    out: String): Unit = {
    val offset = 1000000000L
    def replicate(df: DataFrame, keyCols: Seq[String]): DataFrame =
      df.crossJoin(broadcast(s.range(0, mult).select(col("id").as("__rep"))))
        .select(df.columns.map {
          case c if keyCols.contains(c) =>
            (col(c) + col("__rep") * offset).as(c)
          case c => col(c)
        }: _*)
    // repartition(32) before the write: the broadcast-replicated frame
    // would otherwise land as one or two giant files and cap every scan
    // at a couple of splits — the probe wants a healthy parallel scan,
    // like any real table of this size would have
    replicate(graft.Tables.orders(s, sfDir), Seq("o_orderkey"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/orders.parquet")
    replicate(graft.Tables.lineitem(s, sfDir), Seq("l_orderkey"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/lineitem.parquet")
    Seq("region", "nation", "customer", "supplier", "part").foreach { t =>
      graft.Tables.load(s, sfDir, t)
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
    }
  }

  private def runConfig(cpus: Int, dir: String): Map[String, (Double, Int)] = {
    val s = session(cpus)
    val maxTasks = new java.util.concurrent.atomic.AtomicInteger(0)
    val sentinelStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    s.sparkContext.addSparkListener(
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
    val out = Probes.map { name =>
      val fn = graft.SparkEntry.queries(name)
      s.sparkContext.setJobDescription(s"scaling-probe: $name warmup")
      fn(s, dir).count() // warmup: JIT, codegen, footers
      maxTasks.set(0)
      s.sparkContext.setJobDescription(s"scaling-probe: $name")
      // min of two timed passes, same discipline as Bench
      val t = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        fn(s, dir).count()
        (System.nanoTime() - t0) / 1e9
      }.min
      ListenerDrain(s.sparkContext)
      name -> (t, maxTasks.get)
    }.toMap
    s.stop()
    // a fresh context next — clear the session-scoped reader memo keys
    // is unnecessary (keyed per session), but let the JVM settle
    Thread.sleep(500)
    out
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val mult = args.drop(1).headOption.map(_.toInt).getOrElse(16)
    val outFile = args.drop(2).headOption.getOrElse("plans/r14/SCALING.json")
    val s0 = session(32)
    // the volume outlives s0 (both timed configs read it), so it is
    // staged the way Ingest stages its corpora, not as session scratch
    val scaled = graft.sources.Ingest.ensureStaged(
      graft.sources.Ingest.stagedPath(s0, s"graft_scaleprobe_${mult}x_",
        Seq("orders", "lineitem", "region", "nation", "customer",
          "supplier", "part").map(t => s"$sfDir/$t.parquet"))) { tmp =>
      stage(s0, sfDir, mult, tmp)
      java.nio.file.Files.createFile(java.nio.file.Paths.get(tmp, "_SUCCESS"))
    }
    s0.stop()
    Thread.sleep(500)

    val hi = runConfig(32, scaled)
    val lo = runConfig(8, scaled)

    val rows = Probes.map { q =>
      val (tHi, wHi) = hi(q)
      val (tLo, wLo) = lo(q)
      val ratio = if (tHi > 0) tLo / tHi else 0.0
      f"""  "$q": {"t32_sec": $tHi%.3f, "t8_sec": $tLo%.3f, "ratio_8v32": $ratio%.2f, "maxStageTasks32": $wHi, "maxStageTasks8": $wLo}"""
    }
    val json = s"""{"metric": "scaling_probe", "mult": $mult, "sf": "$sfDir", "advisory_partition_bytes": "8m", "queries": {
${rows.mkString(",\n")}
}}"""
    println(json)
    java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      (json + "\n").getBytes("UTF-8"))
    println(s"wrote $outFile")
  }
}
