package graft.plans

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

/** The engine's optimizer rules, in the order they run. This one list is
  * what [[graft.GraftExtensions]] injects and what [[graft.SessionTune]]
  * installs, once per session, at the library's table-access funnels, so
  * every query of a session plans with the same rules whichever query
  * ran first.
  *
  * Each rule is switched off the same way, with Spark's own conf:
  * `spark.sql.optimizer.excludedRules=graft.plans.RankTopK` (a
  * comma-separated list of rule names); no rule has a switch of its
  * own.
  */
object Rules {
  val all: Seq[Rule[LogicalPlan]] = Seq(
    MetadataAggPushdown,
    MviewRewrite,
    StatsBroadcast,
    JoinElimination,
    EagerAggregation,
    RankTopK,
    JoinOrder,
    DynamicPrune,
    WindowTopK)
}
