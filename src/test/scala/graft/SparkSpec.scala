package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session per suite (guide: one SparkSession per suite). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName(getClass.getSimpleName)
    .config("spark.sql.shuffle.partitions", "4")
    // KB-scale fixtures must still split into multiple files per
    // partition value (file-skipping specs need granularity); the
    // batch-sized writer task count would otherwise fold them to one
    .config("spark.graft.write.targetFileBytes", "1024")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val sfDir = "/root/testdata/sf0.001"
}

object SparkSpec {
  private val ExcludedRules = "spark.sql.optimizer.excludedRules"

  /** Runs `body` with each `k -> v` set in `spark`'s conf. Afterwards,
    * also when `body` throws, each key gets its prior value back, or is
    * unset when it had none.
    */
  def withConf[T](spark: SparkSession, kvs: (String, String)*)(body: => T): T = {
    val prior = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prior.reverse.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** Runs `body` with `rules` switched off in `spark`, the way a user
    * switches a rule off: their names appended to Spark's
    * `spark.sql.optimizer.excludedRules`. The prior value comes back
    * afterwards. Plans optimized inside `body` are the rule-off
    * reference.
    */
  def withoutRules[T](spark: SparkSession, rules: Rule[LogicalPlan]*)(body: => T): T =
    withConf(spark, ExcludedRules ->
      (spark.conf.getOption(ExcludedRules).filter(_.nonEmpty).toSeq ++
        rules.map(_.ruleName)).mkString(","))(body)
}
