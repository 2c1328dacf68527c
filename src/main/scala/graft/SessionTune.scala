package graft

import org.apache.spark.sql.{GraftSessionBridge, SparkSession}

import graft.plans.Rules

/** One-time per-session set-up the library installs at its table-access
  * funnels ([[Tables.readCached]], every [[graft.sources.SnapshotTable]]
  * read, and `SnapshotTable.create`): idempotent, marker-guarded, safe
  * under concurrent callers.
  *
  * Optimizer rules: appends [[Rules.all]] to the session's
  * `spark.experimental.extraOptimizations`, so every query of the
  * session plans with the same rules whichever query ran first. A
  * session built with [[GraftExtensions]] already runs them (injected
  * into its optimizer), and they are not added a second time. Switch a
  * rule off with Spark's own conf, in either kind of session:
  * `spark.sql.optimizer.excludedRules=graft.plans.RankTopK`.
  * `newSession` starts with no rules and installs them at its first
  * funnel; `cloneSession` copies them.
  *
  * `spark.sql.optimizer.canChangeCachedPlanOutputPartitioning=true`:
  * Spark defaults this OFF, which disables ALL of AQE (including
  * partition coalescing) for the materialization of persisted plans —
  * kept conservative upstream only because a consumer might rely on a
  * cached relation's exact output partitioning. This library's
  * persisted frames (commit batches in commitMerge/commitMergeInto,
  * merge deltas, appendUnique batches, signed change windows) are all
  * KB-to-MB sized and consumed by joins/writes that re-shuffle
  * explicitly, so the cached partitioning is never load-bearing —
  * while the disabled coalescing makes every such materialization pay
  * full-width shuffles (measured: q_scd2_apply 189 → 68 tasks,
  * taskMs 14.5 s → 6.3 s with the conf on; guide §2.2 "fewer, larger
  * reduce partitions"). Scale-neutral: at any volume AQE sizes the
  * cached plan's shuffles by bytes instead of the static conf.
  */
object SessionTune {

  private val Marker = "spark.graft.sessionTuned"

  private def tuned(s: SparkSession): Boolean =
    s.conf.getOption(Marker).contains("true")

  def install(s: SparkSession): Unit =
    if (!tuned(s)) synchronized {
      if (!tuned(s)) {
        s.conf.set(
          "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        val present = GraftSessionBridge.extensionOptimizerRules(s) ++
          s.experimental.extraOptimizations
        s.experimental.extraOptimizations ++= Rules.all.filterNot(present.contains)
        s.conf.set(Marker, "true")
      }
    }
}
