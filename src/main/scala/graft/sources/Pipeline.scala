package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.{QueryPack, Staged, Tables}

/** `[EXT]` Declarative incremental pipeline DAG — the training-data
  * pipeline as code: named nodes materialized as snapshot tables,
  * refreshed in topological order at DELTA cost, with per-node applied
  * versions as queryable lineage. This is the dbt-model /
  * Delta-Live-Tables shape, built on the snapshot layer's change feed
  * and time travel instead of shadow bookkeeping.
  *
  * Node kinds:
  *   - [[Pipeline.Source]] — an externally-committed snapshot table
  *     (ingest, a streaming sink, another pipeline's output);
  *   - [[Pipeline.Transform]] — a row-wise `DataFrame => DataFrame`
  *     (project / filter / derive). With a declared `key` the node
  *     maintains incrementally through ANY change window by the
  *     last-writer rule (below); without one, append-only windows
  *     append `fn(inserts)` and rewrite windows fall back to a full
  *     recompute (reported loudly as `full` — the dbt incremental-model
  *     contract);
  *   - [[Pipeline.Agg]] / [[Pipeline.JoinAgg]] — the
  *     [[IncrementalView]] count/sum views, delta-maintained from the
  *     change feed (signed-bag rule; delta-join rule).
  *
  * Keyed-transform maintenance is O(Δ) with NO input re-scan: the
  * change window's final state per key is decided by its MAX commit
  * version (an insert there → the key is present with that row; only
  * deletes there → absent). Present rows map through `fn` to fresh
  * output rows; delete-event rows ALSO map through `fn` — the feed
  * carries full old rows, so `fn(old row)` reconstructs the output row
  * to retire, including its partition value (no tombstone bookkeeping,
  * and an update that `fn` now filters out still retires its old output
  * row). Both sets land in ONE atomic, tag-idempotent
  * [[SnapshotTable.commitMergeInto]] (update / insert / delete
  * clauses), so a crashed-and-retried refresh can never half-apply.
  * Contract: `fn` is deterministic, row-wise, and key-preserving
  * (it may drop rows and move partition values — movers are detected by
  * the merge — but must not rewrite keys).
  *
  * At 100 TB the refresh cost per node is O(its input's change window)
  * + O(touched output files), never O(table): the feed reads only
  * changed files, the merge rewrites only affected files, and an
  * unchanged upstream short-circuits the whole subtree to `noop`.
  */
object Pipeline {

  sealed trait Node { def name: String; def out: String }

  /** An externally-maintained snapshot table the DAG reads. */
  final case class Source(name: String, out: String) extends Node

  /** Row-wise derived table. `key`: unique row identity `fn` preserves —
    * enables incremental maintenance under updates/deletes. `checks`:
    * EXPECTATIONS on the output (SQL boolean expressions installed as
    * the table's CHECK constraints at init — every later refresh
    * enforces them on its fresh rows in one O(changed) aggregate and a
    * violating window publishes NOTHING, the Delta-Live-Tables
    * expectation gate).
    */
  final case class Transform(name: String, out: String, input: String,
                             partCol: String, fn: DataFrame => DataFrame,
                             key: Option[String] = None,
                             checks: Seq[String] = Seq.empty) extends Node

  /** count/sum view grouped by `keyCol` (IncrementalView shape). */
  final case class Agg(name: String, out: String, input: String,
                       keyCol: String, valueCol: String) extends Node

  /** fact⋈dim count/sum view (IncrementalView delta-join shape). */
  final case class JoinAgg(name: String, out: String,
                           fact: String, dim: String,
                           factKey: String, dimKey: String,
                           groupKey: String, valueCol: String) extends Node

  private val TxTagRe = raw"ptx@(\d+)".r

  final case class Refreshed(node: String, action: String)
}

final case class Pipeline(nodes: Seq[Pipeline.Node]) {
  import Pipeline._

  private val byName: Map[String, Node] = {
    require(nodes.map(_.name).distinct.size == nodes.size,
      s"pipeline: duplicate node names")
    nodes.map(n => n.name -> n).toMap
  }

  private def inputsOf(n: Node): Seq[String] = n match {
    case _: Source              => Seq.empty
    case t: Transform           => Seq(t.input)
    case a: Agg                 => Seq(a.input)
    case j: JoinAgg             => Seq(j.fact, j.dim)
  }

  /** Topological order (Kahn); unknown inputs and cycles are loud. */
  val order: Seq[Node] = {
    nodes.foreach(n => inputsOf(n).foreach(i =>
      require(byName.contains(i), s"pipeline: node ${n.name} reads " +
        s"unknown input $i")))
    val indeg = collection.mutable.Map(
      nodes.map(n => n.name -> inputsOf(n).size): _*)
    val out = collection.mutable.Map(nodes.map(_.name -> Seq.empty[String]): _*)
    nodes.foreach(n => inputsOf(n).foreach(i => out(i) = out(i) :+ n.name))
    val queue = collection.mutable.Queue(
      nodes.filter(n => indeg(n.name) == 0).map(_.name): _*)
    val sorted = collection.mutable.ArrayBuffer.empty[String]
    while (queue.nonEmpty) {
      val n = queue.dequeue()
      sorted += n
      out(n).foreach { d =>
        indeg(d) -= 1; if (indeg(d) == 0) queue += d
      }
    }
    require(sorted.size == nodes.size,
      s"pipeline: cycle among ${indeg.filter(_._2 > 0).keys.mkString(", ")}")
    sorted.map(byName).toSeq
  }

  private def tablePath(name: String): String = byName(name).out

  /** Materialize every derived node from its inputs' CURRENT versions,
    * in topological order, recording applied versions.
    */
  def init(spark: SparkSession): Unit = order.foreach {
    case _: Source => ()
    case t: Transform =>
      val v = SnapshotTable.currentVersion(spark, tablePath(t.input))
      SnapshotTable.create(spark, t.out,
        t.fn(SnapshotTable.readVersion(spark, tablePath(t.input), v)),
        t.partCol, tags = Set(s"ptx@$v"))
      if (t.checks.nonEmpty) SnapshotTable.setChecks(spark, t.out, t.checks)
    case a: Agg =>
      IncrementalView.create(spark, a.out, tablePath(a.input),
        a.keyCol, a.valueCol)
    case j: JoinAgg =>
      IncrementalView.createJoin(spark, j.out, tablePath(j.fact),
        tablePath(j.dim), j.factKey, j.dimKey, j.groupKey, j.valueCol)
  }

  private def transformApplied(spark: SparkSession, t: Transform): Long =
    SnapshotTable.readManifestList(spark, t.out,
      SnapshotTable.currentVersion(spark, t.out))._2.tags
      .collect { case TxTagRe(v) => v.toLong }
      .maxOption.getOrElse(sys.error(
        s"pipeline: transform table ${t.out} records no applied version"))

  private def metaCols = Seq("_change_type", "_commit_version")

  private def refreshTransform(spark: SparkSession, t: Transform): String = {
    val input = tablePath(t.input)
    val applied = transformApplied(spark, t)
    val cur = SnapshotTable.currentVersion(spark, input)
    if (cur <= applied) return "noop"
    val w = SnapshotTable.readChangesBetween(spark, input, applied, cur)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val appendOnly =
        w.filter(col("_change_type") =!= "insert").limit(1).count() == 0L
      (appendOnly, t.key) match {
        case (true, _) =>
          SnapshotTable.commitWithRetry() {
            SnapshotTable.commitAppend(spark, t.out,
              t.fn(w.drop(metaCols: _*)), t.partCol,
              tag = Some(s"ptx@$cur"))
          }
          "append"
        case (false, Some(key)) =>
          // final state per key = its events at the window-max version
          val last = w.withColumn("__mv",
            max(col("_commit_version")).over(Window.partitionBy(col(key))))
            .filter(col("_commit_version") === col("__mv")).drop("__mv")
          val present = t.fn(
            last.filter(col("_change_type") === "insert").drop(metaCols: _*))
          // delete-event rows reconstruct the OLD output rows to retire
          // (anti-joined: an update whose new form survives keeps its row)
          val gone = t.fn(
            last.filter(col("_change_type") === "delete").drop(metaCols: _*))
            .join(present.select(col(key)), Seq(key), "left_anti")
          val source = present.withColumn("__del", lit(false))
            .unionByName(gone.withColumn("__del", lit(true)))
          val assigns = present.columns.toSeq.map(c =>
            c -> SnapshotTable.src(c))
          SnapshotTable.commitWithRetry() {
            SnapshotTable.commitMergeInto(spark, t.out, source, key,
              t.partCol,
              updateWhen = Some(!SnapshotTable.src("__del")),
              updateSet = assigns,
              deleteWhen = Some(SnapshotTable.src("__del")),
              insertWhen = Some(!col("__del")),
              tag = Some(s"ptx@$cur"))
          }
          "merge"
        case (false, None) =>
          // no row identity to carry deletes through → honest full
          // recompute (absolute state, so a crashed retry re-derives
          // the same table; the trailing tag-only commit records it)
          SnapshotTable.commitOverwrite(spark, t.out,
            t.fn(SnapshotTable.readVersion(spark, input, cur)), t.partCol)
          SnapshotTable.commitAppend(spark, t.out,
            SnapshotTable.read(spark, t.out).filter(lit(false)),
            t.partCol, tag = Some(s"ptx@$cur"))
          "full"
      }
    } finally w.unpersist(false)
  }

  /** Advance every derived node to its inputs' current versions, in
    * topological order (so a node's refresh sees its upstream's fresh
    * commits within the same call). Returns the per-node action taken:
    * `noop` (inputs unchanged), `append` / `merge` / `delta` (delta
    * maintenance), or `full` (unkeyed transform under a rewrite
    * window).
    */
  def refresh(spark: SparkSession): Seq[Refreshed] = order.map {
    case s: Source => Refreshed(s.name, "source")
    case t: Transform => Refreshed(t.name, refreshTransform(spark, t))
    case a: Agg =>
      val applied = IncrementalView.appliedVersion(spark, a.out)
      val cur = SnapshotTable.currentVersion(spark, tablePath(a.input))
      IncrementalView.refresh(spark, a.out, tablePath(a.input),
        a.keyCol, a.valueCol)
      Refreshed(a.name, if (cur > applied) "delta" else "noop")
    case j: JoinAgg =>
      val (aF, aD) = IncrementalView.appliedJoinVersions(spark, j.out)
      val cF = SnapshotTable.currentVersion(spark, tablePath(j.fact))
      val cD = SnapshotTable.currentVersion(spark, tablePath(j.dim))
      IncrementalView.refreshJoin(spark, j.out, tablePath(j.fact),
        tablePath(j.dim), j.factKey, j.dimKey, j.groupKey, j.valueCol)
      Refreshed(j.name, if (cF > aF || cD > aD) "delta" else "noop")
  }

  /** A node's applied frontier against one of its inputs. */
  private def appliedAgainst(spark: SparkSession, consumer: Node,
                             inputName: String): Long = consumer match {
    case t: Transform => transformApplied(spark, t)
    case a: Agg       => IncrementalView.appliedVersion(spark, a.out)
    case j: JoinAgg   =>
      val (f, d) = IncrementalView.appliedJoinVersions(spark, j.out)
      if (j.fact == inputName) f else d
    case s: Source    => sys.error(s"source ${s.name} consumes nothing")
  }

  /** DAG-wide housekeeping: run [[SnapshotTable.maintain]] (apply
    * pending deletes, fold small files, vacuum) on every node table —
    * with vacuum's retention WIDENED so no input table drops a version
    * a downstream node still has to read: each table keeps back to the
    * MINIMUM applied frontier among its consumers (their next refresh
    * reads the change window from there). Without this guard, a
    * by-the-book retention on a busy source would strand every view
    * behind it. Returns (node, versions kept) per table with a
    * recorded partition column.
    */
  def maintain(spark: SparkSession, keepVersions: Int = 3,
               minAgeMs: Long = 15 * 60 * 1000L): Seq[(String, Int)] =
    order.flatMap { n =>
      SnapshotTable.readManifestFull(spark, n.out,
        SnapshotTable.currentVersion(spark, n.out))._2.partCol.map { pc =>
        val cur = SnapshotTable.currentVersion(spark, n.out)
        val minApplied = nodes.filter(m => inputsOf(m).contains(n.name))
          .map(m => appliedAgainst(spark, m, n.name)).minOption
        val keep = math.max(keepVersions,
          minApplied.map(a => (cur - a + 1).toInt).getOrElse(keepVersions))
        SnapshotTable.maintain(spark, n.out, pc,
          keepVersions = keep, minAgeMs = minAgeMs)
        n.name -> keep
      }
    }

  /** Queryable lineage: one row per node — kind, inputs, materialized
    * path, and the input version(s) the node has applied (sources show
    * their own current version).
    */
  def lineage(spark: SparkSession): DataFrame = {
    val rows = order.map { n =>
      val (kind, applied) = n match {
        case _: Source    => ("source",
          SnapshotTable.currentVersion(spark, n.out))
        case t: Transform => ("transform", transformApplied(spark, t))
        case _: Agg       => ("agg",
          IncrementalView.appliedVersion(spark, n.out))
        case j: JoinAgg   => ("join_agg",
          IncrementalView.appliedJoinVersions(spark, j.out)._1)
      }
      Row(n.name, kind, inputsOf(n).mkString(","), applied)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(StructField("node", StringType),
        StructField("kind", StringType),
        StructField("inputs", StringType),
        StructField("applied", LongType))))
  }
}

/** Driver queries: a 3-node pipeline (orders source → keyed filtering
  * transform → revenue-by-priority agg view) initialized, then hit
  * with an append, a threshold-crossing update batch, and a row-level
  * delete, then delta-refreshed. The agg view must equal the oracle's
  * full replay — which holds only if the transform retired
  * now-filtered rows, propagated movers, and the agg netted the signed
  * deltas exactly.
  */
object PipelinePack extends QueryPack {
  import org.apache.spark.sql.functions._

  private def scenario(s: SparkSession, dir: String): Pipeline =
    Staged(s, dir, "pipeline")(buildScenario(s, dir, stream = false))

  /** The SAME source, mutations, and DAG — but the refresh is driven by
    * the continuous runner tailing the source's commit log instead of
    * one explicit call. Both must converge to the identical view.
    */
  private def streamScenario(s: SparkSession, dir: String): Pipeline =
    Staged(s, dir, "pipeline.stream")(buildScenario(s, dir, stream = true))

  private def buildScenario(s: SparkSession, dir: String,
                            stream: Boolean): Pipeline = {
    val root = Staged.scratch(s, "graft_pipeline")
    val src = s"$root/src"
    SnapshotTable.create(s, src, Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice"), col("o_orderpriority")),
      "o_orderpriority")
    val pipe = Pipeline(Seq(
      Pipeline.Source("orders_t", src),
      Pipeline.Transform("big_orders", s"$root/big", "orders_t",
        "o_orderpriority",
        df => df.filter(col("o_totalprice") > 50000.0),
        key = Some("o_orderkey")),
      Pipeline.Agg("rev_by_prio", s"$root/rev", "big_orders",
        "o_orderpriority", "o_totalprice")))
    pipe.init(s)
    // 1) append: 5 fresh rows straddling the filter threshold
    val maxKey = Tables.orders(s, dir)
      .agg(max(col("o_orderkey"))).head().getLong(0)
    val tableSchema = SnapshotTable.read(s, src).schema
    SnapshotTable.commitAppend(s, src, s.range(1, 6).select(
      (col("id") + maxKey).as("o_orderkey"),
      lit(1L).as("o_custkey"),
      (col("id") * 20000.0).as("o_totalprice"),
      lit("1-URGENT").as("o_orderpriority"))
      .select(tableSchema.map(f =>
        col(f.name).cast(f.dataType)).toIndexedSeq: _*),
      "o_orderpriority")
    // 2) update: %89 keys crash below the threshold, %97 keys
    //    get pushed above it (89 wins on overlap)
    val cur = SnapshotTable.read(s, src)
    SnapshotTable.commitMerge(s, src, cur
      .filter(col("o_orderkey") % 89 === 0 ||
        col("o_orderkey") % 97 === 0)
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 89 === 0, lit(1.0))
          .otherwise(col("o_totalprice") + 100000.0)),
      "o_orderkey", "o_orderpriority")
    // 3) delete: the classic key-window predicate
    SnapshotTable.commitDelete(s, src,
      col("o_orderkey") % 101 === 0 &&
        col("o_orderkey").between(1000, 5000),
      "o_orderpriority")
    if (stream) graft.streaming.SnapshotSink.runPipeline(s, pipe, src)
    else pipe.refresh(s)
    pipe
  }

  private def aggRollup(s: SparkSession, pipe: Pipeline): DataFrame =
    SnapshotTable.read(s, pipe.nodes.collectFirst {
      case a: Pipeline.Agg => a.out }.get)
      .select(col("o_orderpriority"), col("n"),
        col("total").cast("double").as("total"))
      .orderBy(col("o_orderpriority"))

  def pipelineQuery(s: SparkSession, dir: String): DataFrame =
    aggRollup(s, scenario(s, dir))

  /** Stream twin: the commit-log-driven runner must converge the DAG to
    * the same state the explicit refresh does.
    */
  def pipelineStreamQuery(s: SparkSession, dir: String): DataFrame =
    aggRollup(s, streamScenario(s, dir))

  /** Lineage after the refresh — node kinds, wiring, and applied input
    * versions are fully deterministic for the scenario (src v4 after
    * create/append/merge/delete; the transform applies 4; the agg
    * applies the transform table's post-merge version 2).
    */
  def lineageQuery(s: SparkSession, dir: String): DataFrame = {
    val pipe = scenario(s, dir)
    pipe.lineage(s).orderBy(col("node"))
  }

  override def queries: Map[String, QueryPack.Q] = Map(
    "q_pipeline" -> ((s, dir) => pipelineQuery(s, dir)),
    "q_stream_pipeline" -> ((s, dir) => pipelineStreamQuery(s, dir)),
    "q_pipeline_lineage" -> ((s, dir) => lineageQuery(s, dir)))

  // one SQL replay serves both the batch and stream twins — they must
  // converge to the identical view
  private val pipelineOracle =
    """WITH fresh AS (
        |  SELECT (SELECT max(o_orderkey) FROM orders) + i AS o_orderkey,
        |    CAST(1 AS BIGINT) AS o_custkey, i * 20000.0 AS o_totalprice,
        |    '1-URGENT' AS o_orderpriority
        |  FROM (SELECT unnest(generate_series(1, 5)) AS i)
        |), base AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
        |  FROM orders
        |  UNION ALL SELECT * FROM fresh
        |), mutated AS (
        |  SELECT o_orderkey, o_custkey,
        |    CASE WHEN o_orderkey % 89 = 0 THEN 1.0
        |         WHEN o_orderkey % 97 = 0 THEN o_totalprice + 100000.0
        |         ELSE o_totalprice END AS o_totalprice,
        |    o_orderpriority
        |  FROM base
        |  WHERE NOT (o_orderkey % 101 = 0 AND o_orderkey BETWEEN 1000 AND 5000)
        |), filtered AS (
        |  SELECT * FROM mutated WHERE o_totalprice > 50000.0
        |)
        |SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        |  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
        |    AS DECIMAL(28,2)) AS DOUBLE) AS total
        |FROM filtered GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin

  override def oracleSql: Map[String, String] = Map(
    "q_pipeline" -> pipelineOracle,
    "q_stream_pipeline" -> pipelineOracle,
    "q_pipeline_lineage" ->
      """SELECT * FROM (VALUES
        |  ('big_orders', 'transform', 'orders_t', CAST(4 AS BIGINT)),
        |  ('orders_t', 'source', '', CAST(4 AS BIGINT)),
        |  ('rev_by_prio', 'agg', 'big_orders', CAST(2 AS BIGINT)))
        |  AS t(node, kind, inputs, applied)
        |ORDER BY node""".stripMargin)
}
