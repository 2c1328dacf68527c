package graft.search

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftPlanBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions.{Attribute, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LogicalPlan, Statistics}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, SinglePartition}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

/** A cached frame planned once: the RDD its executed plan yields (a scan
  * of the cache). Searches run their job straight over this RDD, so an
  * index is analyzed and planned when it is built or loaded, not again
  * per query.
  *
  * An index cached by [[graft.store.PatientIndex.cache]] and filled
  * before it is planned here has its cache's lineage cut: the RDD's
  * lineage ends at the cache's blocks, so a search job ships a task
  * binary of the scan alone. That RDD cannot recompute a released
  * cache, so [[rdd]] checks that the cache is still held.
  */
final class PlannedIndex(val frame: DataFrame) {
  private val buffers =
    GraftPlanBridge.cacheBuffers(frame).getOrElse(throw PlannedIndex.released)
  private val planned: RDD[InternalRow] = frame.queryExecution.toRdd

  /** The planned scan of the cache. Throws an `IllegalStateException`
    * once the cache has been released (`unpersist`), rather than let a
    * job recompute the index's pipeline, or fail on the cut lineage's
    * missing blocks. */
  def rdd: RDD[InternalRow] =
    if (buffers.getStorageLevel == StorageLevel.NONE) throw PlannedIndex.released else planned
}

object PlannedIndex {
  private def released = new IllegalStateException(
    "the index cache was released (unpersisted): build or load the index again before searching it")
}

/** One top-k search over a [[PlannedIndex]]: a single Spark job (one
  * stage, one task per index partition, each keeping a k-bounded heap)
  * whose per-partition heaps the driver merges. Every output of the
  * search comes from that one result, as one frame per schema; the job
  * runs, under the job label `label`, when the first of those frames is
  * executed, and its rows are kept, so later actions on any of them run
  * no job.
  */
abstract class TopKJob(spark: SparkSession, label: String) {
  /** One schema per output frame. */
  def schemas: Seq[StructType]

  /** Runs the job and returns one row list per schema. */
  protected def run(): Seq[Seq[InternalRow]]

  private lazy val results: IndexedSeq[IndexedSeq[InternalRow]] =
    graft.JobLabel(spark, label)(run()).zip(schemas)
      .map { case (rows, schema) => TopKJob.toUnsafe(schema, rows) }.toIndexedSeq

  def rows(part: Int): IndexedSeq[InternalRow] = results(part)

  /** The output frames, one [[CosineTopK]] leaf each. Building them
    * analyzes the leaves and runs no job. */
  def frames: Seq[DataFrame] = {
    CosineTopKStrategy.register(spark)
    schemas.indices.map(i =>
      GraftPlanBridge.ofRows(spark, CosineTopK(this, i, DataTypeUtils.toAttributes(schemas(i)))))
  }
}

object TopKJob {
  /** One projection per output schema, made on first use and shared by
    * every later job of that schema (making one costs a codegen pass,
    * ~1 ms). A projection reuses its one output row, so a use holds its
    * lock. */
  private val projections = new ConcurrentHashMap[StructType, UnsafeProjection]()

  private def toUnsafe(schema: StructType, rows: Seq[InternalRow]): IndexedSeq[InternalRow] = {
    val p = projections.computeIfAbsent(schema, s => UnsafeProjection.create(s))
    p.synchronized(rows.map(r => p(r).copy(): InternalRow).toIndexedSeq)
  }
}

/** Logical leaf: output `part` of a [[TopKJob]]. */
case class CosineTopK(job: TopKJob, part: Int, output: Seq[Attribute])
    extends LeafNode with MultiInstanceRelation {
  override def newInstance(): LogicalPlan = copy(output = output.map(_.newInstance()))
  override def computeStats(): Statistics = Statistics(sizeInBytes = conf.defaultSizeInBytes)
  override def simpleString(maxFields: Int): String = s"CosineTopK $job[$part]"
}

/** The leaf's exec. Collects read the job's rows; inside a larger plan
  * the rows go on as one partition. */
case class CosineTopKExec(@transient job: TopKJob, part: Int, output: Seq[Attribute])
    extends LeafExecNode {
  override def outputPartitioning: Partitioning = SinglePartition
  override def executeCollect(): Array[InternalRow] = job.rows(part).toArray
  override def executeTake(n: Int): Array[InternalRow] = job.rows(part).take(n).toArray
  override protected def doExecute(): RDD[InternalRow] =
    sparkContext.parallelize(job.rows(part), 1)
  override def simpleString(maxFields: Int): String = s"CosineTopKExec $job[$part]"
}

/** Plans [[CosineTopK]] leaves. Registered per session through
  * `spark.experimental.extraStrategies`, so it needs no session
  * extension. */
object CosineTopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case CosineTopK(job, part, output) => CosineTopKExec(job, part, output) :: Nil
    case _ => Nil
  }

  def register(spark: SparkSession): Unit = synchronized {
    val ex = spark.experimental
    if (!ex.extraStrategies.contains(this)) ex.extraStrategies = this +: ex.extraStrategies
  }
}
