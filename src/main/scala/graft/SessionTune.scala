package graft

import org.apache.spark.sql.SparkSession

/** One-time per-session planner tuning the library installs at its
  * table-access funnels (idempotent, marker-guarded).
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

  def install(s: SparkSession): Unit =
    if (!s.conf.getOption(Marker).contains("true")) {
      s.conf.set(Marker, "true")
      s.conf.set(
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
    }
}
