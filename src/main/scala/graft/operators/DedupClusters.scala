package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryPack

/** `[EXT]` near-duplicate CLUSTER formation — the step a real dedup
  * pipeline needs after pair detection: pairs say "A≈B, B≈C", but the
  * deletion decision needs the transitive closure {A,B,C} with one kept
  * representative. This is connected components over the near-dup pair
  * graph.
  *
  * Algorithm: iterative hash-to-min label propagation with POINTER
  * DOUBLING — each round every node takes the min label over itself and
  * its neighbors (one shuffle: join + groupBy-min), then jumps to its
  * label's label (one more join), halving the remaining chain depth, so
  * convergence is O(log diameter) rounds, not O(diameter). This is the
  * practical warehouse-scale CC construction (the map-reduce CC family of
  * Kiveris et al., "Connected Components in MapReduce and Beyond",
  * rephrased on DataFrames); near-dup clusters additionally have tiny
  * diameters in practice, so the loop typically closes in 2-3 rounds.
  *
  * Scale design: state per round is one (node, label) row per vertex of
  * the PAIR GRAPH (near-dup pairs only — far smaller than the corpus),
  * labels are 8-byte ids, every step is a key-partitioned join/agg (no
  * driver-side graph), and each round CHECKPOINTS its labels — the
  * pointer-jump is a self-join, so without truncation the plan tree
  * doubles every round and planning itself becomes exponential (measured:
  * explain-string OOM by round ~5). Truncation is `localCheckpoint` by
  * default; pass `checkpointDir` (durable storage) to switch to reliable
  * `checkpoint` so a lost executor doesn't abort the loop. A `maxIter`
  * bound turns a pathological input into a loud error instead of a
  * runaway job.
  */
object DedupClusters extends QueryPack {

  /** Connected components over an undirected pair list. Returns one row
    * per distinct node: (node, cluster_rep) with cluster_rep = min node
    * id reachable — deterministic under any partitioning.
    *
    * `checkpointDir`: per-round lineage truncation defaults to
    * `localCheckpoint` (executor-stored — fine single-JVM, but on a real
    * cluster a lost executor aborts the job). Pass a DURABLE directory
    * (HDFS/S3) to switch every truncation to reliable `checkpoint`, so
    * executor loss recomputes from storage instead of killing the loop.
    */
  def connectedComponents(pairs: DataFrame, aCol: String = "a_id",
                          bCol: String = "b_id", maxIter: Int = 20,
                          checkpointDir: Option[String] = None): DataFrame = {
    val ck: DataFrame => DataFrame = checkpointDir match {
      case Some(dir) =>
        pairs.sparkSession.sparkContext.setCheckpointDir(dir)
        df => df.checkpoint()
      // LAZY local checkpoint: the logical plan is truncated immediately
      // (the explosion the ck exists to stop), but materialization rides
      // the round's OWN convergence action (labelSum) instead of a
      // dedicated eager job — one job per round, not two
      case None => df => df.localCheckpoint(false)
    }
    // materialize the pair list ONCE before symmetrizing: the self-union
    // would otherwise evaluate the (possibly expensive) upstream pair
    // pipeline twice — eager here, unlike the loop state, because BOTH
    // union legs read it in the same job and a pending lazy checkpoint
    // gives racing tasks no reuse guarantee
    val edges = checkpointDir match {
      case Some(_) => ck(
        pairs.select(col(aCol).cast("long").as("u"), col(bCol).cast("long").as("v")))
      case None => pairs
        .select(col(aCol).cast("long").as("u"), col(bCol).cast("long").as("v"))
        .localCheckpoint()
    }
    val sym = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
      .distinct().cache()
    var labels = ck(sym.select(col("u").as("node")).distinct()
      .withColumn("label", col("node")))
    def labelSum(df: DataFrame): Long =
      df.agg(sum(col("label"))).head().getLong(0)
    var prevSum = labelSum(labels)

    var iter = 0
    var done = false
    while (!done && iter < maxIter) {
      // neighbor-min: label(u) <- min(label(u), min_{v ∈ Γ(u)} label(v))
      val nbrMin = sym
        .join(labels.select(col("node").as("v"), col("label").as("vl")), "v")
        .groupBy(col("u").as("node")).agg(min(col("vl")).as("nl"))
      val merged = labels.join(nbrMin, Seq("node"), "left")
        .select(col("node"),
          least(col("label"), coalesce(col("nl"), col("label"))).as("label"))
      // pointer doubling: label(u) <- label(label(u)) — labels are always
      // node ids, so the jump table is merged itself
      val jump = merged.select(col("node").as("jn"), col("label").as("jl"))
      // truncate lineage: the self-join doubles the plan per round
      val doubled = ck(merged.join(jump, col("label") === col("jn"), "left")
        .select(col("node"), coalesce(col("jl"), col("label")).as("label")))

      // convergence: labels only ever DECREASE (min folds), so the label
      // sum is strictly monotone until fixpoint — an O(|V|) scan of the
      // fresh checkpoint instead of a join against the previous round
      val newSum = labelSum(doubled)
      labels = doubled
      done = newSum == prevSum
      prevSum = newSum
      iter += 1
    }
    sym.unpersist()
    require(done, s"connectedComponents did not converge in $maxIter rounds " +
      "(pointer doubling needs ~log2(diameter); raise maxIter for extreme chains)")
    labels.select(col("node"), col("label").as("cluster_rep"))
  }

  /** The (node, cluster_rep) table of the staged near-dup pair graph,
    * itself STAGED once per corpus fingerprint: the label-propagation
    * loop is the most expensive shared prelude in the curation family —
    * curation verdicts, leakage splits, and the training manifest all
    * consume the SAME clustering, and a 100 TB pipeline materializes it
    * once per corpus snapshot rather than re-iterating per consumer
    * (the staging key inherits [[MinHashDedup.minhashPairsStaged]]'s
    * source fingerprint, so a regenerated corpus re-derives both).
    * `q_dedup_clusters` still runs the live loop — it is the operator
    * under test; this staging is for its CONSUMERS.
    */
  private[graft] def componentsStaged(s: SparkSession, dir: String): DataFrame = {
    val path = graft.sources.Ingest.ensureStaged(
      graft.sources.Ingest.stagedPath(s, "graft_neardup_comp_",
        Seq(s"$dir/documents.parquet"))) { tmp =>
      connectedComponents(
        MinHashDedup.minhashPairsStaged(s, dir).select("a_id", "b_id"))
        .write.parquet(tmp)
    }
    graft.Tables.readCached(s, path)
  }

  /** Driver query: near-dup clusters over the verified MinHash pair set
    * (the q_minhash_neardup pairs), one row per clustered doc with its
    * representative (min doc_id — the doc a dedup pass KEEPS), the
    * cluster size, and the DELETION decision (`is_kept` = 1 iff the doc
    * IS the representative — the drop-side a dedup pass executes). Docs
    * in no near-dup pair are not emitted (they are their own singleton
    * clusters by definition).
    */
  def clustersQuery(s: SparkSession, dir: String): DataFrame = {
    val pairs = MinHashDedup.minhashPairsStaged(s, dir).select("a_id", "b_id")
    connectedComponents(pairs)
      .select(col("node").as("doc_id"), col("cluster_rep"))
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy(col("cluster_rep"))))
      .withColumn("is_kept",
        when(col("doc_id") === col("cluster_rep"), 1L).otherwise(0L))
      .orderBy(col("doc_id"))
  }

  /** PageRank over an undirected pair list — link-analysis centrality for
    * the same pair graph [[connectedComponents]] clusters: within a
    * near-dup cluster, the highest-centrality member is the natural KEEP
    * candidate when the policy is "keep the most-connected variant"
    * rather than min-id. Fixed iteration count (power iteration converges
    * geometrically; 3 rounds separate hubs from leaves on the
    * small-diameter graphs near-dup detection produces) keeps the result
    * closed-form for the oracle.
    *
    * Scale shape: state is one (vertex, degree, rank) row per PAIR-GRAPH
    * vertex; each round is one key-partitioned join + agg + join — the CC
    * loop's cost profile. Constants 0.15/0.85 are spelled as literals in
    * both engines (the BM25 rule); per-vertex neighbor sums are the only
    * order-sensitive float op, and the terminal round-6 absorbs ulp-level
    * reorder drift.
    */
  def pageRank(pairs: DataFrame, aCol: String = "a_id", bCol: String = "b_id",
               iters: Int = 3, tol: Option[Double] = None,
               checkpointDir: Option[String] = None): DataFrame = {
    val ck: DataFrame => DataFrame = checkpointDir match {
      case Some(dir) =>
        pairs.sparkSession.sparkContext.setCheckpointDir(dir)
        df => df.checkpoint()
      // LAZY local checkpoint (see [[connectedComponents]]): plans stay
      // truncated per round, but with no per-round convergence action
      // (tol off) the whole fixed-round loop materializes in ONE final
      // job DAG instead of one eager job per round
      case None => df => df.localCheckpoint(false)
    }
    val raw = checkpointDir match {
      case Some(_) => ck(
        pairs.select(col(aCol).cast("long").as("u"), col(bCol).cast("long").as("v")))
      case None => pairs
        .select(col(aCol).cast("long").as("u"), col(bCol).cast("long").as("v"))
        .localCheckpoint() // both union legs read it in one job — stay eager
    }
    val edges = raw.union(raw.select(col("v").as("u"), col("u").as("v")))
      .distinct().cache()
    val deg = edges.groupBy(col("u").as("v_id"))
      .agg(count(lit(1)).cast("double").as("deg"))
    val n = deg.count().toDouble
    // per-round checkpoint — the [[connectedComponents]] `ck` pattern:
    // each round joins against the previous round's state, so without
    // truncation plan depth grows linearly and anyone raising `iters`
    // past the demo 3 hits the same plan explosion CC solved
    var state = ck(deg.withColumn("rank", lit(1.0 / n)))
    var earlier = Vector.empty[DataFrame]
    var iter = 0
    var done = false
    while (iter < iters && !done) {
      val contrib = edges
        .join(state.select(col("v_id").as("u"), (col("rank") / col("deg")).as("w")), "u")
        .groupBy(col("v").as("v_id")).agg(sum(col("w")).as("c"))
      // every vertex of a symmetric edge list has degree >= 1, so the
      // inner join drops nothing
      val next = ck(deg.join(contrib, "v_id")
        .withColumn("rank", lit(0.15 / n) + lit(0.85) * col("c"))
        .select(col("v_id"), col("deg"), col("rank")))
      // optional convergence stop on max |Δrank| — OFF by default so the
      // fixed-round driver query stays closed-form for its unrolled
      // oracle; an O(|V|) scan of two checkpointed states when on
      tol.foreach { t =>
        done = next.join(state.select(col("v_id"), col("rank").as("prev")), "v_id")
          .agg(max(abs(col("rank") - col("prev"))).as("d"))
          .head().getDouble(0) < t
      }
      earlier :+= state
      state = next
      iter += 1
    }
    // unpersist now only when an action inside the loop already
    // materialized the final state (eager per-round checkpoints, or tol's
    // convergence scan). In the lazy fixed-round path NOTHING has run yet
    // — the one final job computes every round from the cached edges, so
    // dropping the cache here would recompute the union+distinct shuffle
    // once per round (ADVICE r13). There the edges, the pairs' checkpoint
    // and the earlier rounds are released after the consumer's action.
    if (tol.isDefined || checkpointDir.isDefined) edges.unpersist()
    else releaseOnceCheckpointed(state) {
      edges.unpersist(blocking = false)
      (raw +: earlier).foreach(checkpointOf(_).unpersist(blocking = false))
    }
    state.select(col("v_id"), col("rank"), col("deg").cast("long").as("degree"))
  }

  /** The RDD whose blocks hold a `localCheckpoint`ed frame's rows. */
  private def checkpointOf(df: DataFrame): org.apache.spark.rdd.RDD[_] =
    df.queryExecution.analyzed.asInstanceOf[org.apache.spark.sql.execution.LogicalRDD].rdd

  /** Runs `release` at the first job end after `result`, a lazily
    * `localCheckpoint`ed frame, has been checkpointed — i.e. after the
    * first action that computed it. From then on its rows are its own
    * checkpoint blocks, so what only that action read can go.
    */
  private def releaseOnceCheckpointed(result: DataFrame)(release: => Unit): Unit = {
    val sc = result.sparkSession.sparkContext
    val rdd = checkpointOf(result)
    sc.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      private val released = new java.util.concurrent.atomic.AtomicBoolean(false)
      override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        if (rdd.isCheckpointed && released.compareAndSet(false, true)) {
          sc.removeSparkListener(this)
          release
        }
    })
  }

  /** Driver query: centrality of the near-dup pair graph, top 20. */
  def pageRankQuery(s: SparkSession, dir: String): DataFrame =
    pageRank(MinHashDedup.minhashPairsStaged(s, dir).select("a_id", "b_id"))
      .select(col("v_id").as("doc_id"),
        round(col("rank"), 6).as("pagerank"), col("degree"))
      .orderBy(col("pagerank").desc, col("doc_id"))
      .limit(20)

  /** Orient canonical (u < v) edges from the LOW-degree endpoint to the
    * HIGH-degree endpoint (ties broken by id — any total order works).
    * The classic triangle-counting refinement (Chiba–Nishizeki /
    * Schank–Wagner "forward" orientation): out-degrees are bounded by
    * O(√m), so the wedge count the enumeration joins over drops from
    * Σ deg² (quadratic in the hub degree — a skewed star graph is the
    * worst case) to O(m^1.5), with one extra degree join to pay for it.
    */
  private[operators] def orientByDegree(e: DataFrame, deg: DataFrame): DataFrame =
    e.join(deg.select(col("node").as("u"), col("degree").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("degree").as("dv")), "v")
      .select(
        when(col("du") < col("dv") ||
            (col("du") === col("dv") && col("u") < col("v")),
          struct(col("u").as("src"), col("v").as("dst")))
          .otherwise(struct(col("v").as("src"), col("u").as("dst"))).as("o"))
      .select(col("o.src").as("src"), col("o.dst").as("dst"))

  /** Wedges of an oriented edge list: one row per unordered pair of
    * out-neighbors {b, c} of a common source, emitted with b < c so the
    * closing edge lookup is canonical. Exposed for the spec's wedge-count
    * comparison (degree orientation vs id orientation on a star graph).
    */
  private[operators] def wedges(oriented: DataFrame): DataFrame =
    oriented.as("o1").join(oriented.as("o2"),
        col("o1.src") === col("o2.src") && col("o1.dst") < col("o2.dst"))
      .select(col("o1.src").as("a"), col("o1.dst").as("b"), col("o2.dst").as("c"))

  /** Triangle counts + local clustering coefficient over an undirected
    * pair graph given as canonical (a < b) edges. Enumeration is the
    * standard wedge-close shape under DEGREE orientation
    * ([[orientByDegree]]): every triangle has exactly one vertex with
    * two out-edges (its degree-order minimum), so each is found exactly
    * once — no post-hoc dedup, no symmetric blow-up — and the wedge
    * volume is O(m^1.5) regardless of skew. The closing edge is probed
    * in the CANONICAL id-ordered list (wedge legs emit b < c), so the
    * close join needs no per-side orientation logic.
    */
  private[operators] def triangles(pairs: DataFrame,
                                   aCol: String = "a_id", bCol: String = "b_id"): DataFrame = {
    // materialize the edge list once: orientation, wedge-close, and the
    // degree table all reference it, and without this the upstream pair
    // pipeline (minhash signatures + banding + verify) is cloned into
    // every join leg
    val e = pairs.select(col(aCol).cast("long").as("u"), col(bCol).cast("long").as("v"))
      .localCheckpoint()
    val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
    val deg = sym.groupBy(col("u").as("node")).agg(count(lit(1)).as("degree"))
    // oriented list materialized once too — both wedge legs scan it
    val oriented = orientByDegree(e, deg).localCheckpoint()
    val tri = wedges(oriented)
      .join(e.as("e3"), col("e3.u") === col("b") && col("e3.v") === col("c"))
      .select(col("a"), col("b"), col("c"))
    val perNode = tri.select(col("a").as("node"))
      .union(tri.select(col("b").as("node")))
      .union(tri.select(col("c").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("n_triangles"))
    deg.join(perNode, Seq("node"), "left")
      .select(col("node"), col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        when(col("degree") >= 2,
          round(lit(2.0) * coalesce(col("n_triangles"), lit(0L)) /
            (col("degree") * (col("degree") - 1)), 6))
          .otherwise(lit(0.0)).as("clustering_coeff"))
  }

  /** Driver query: triangle structure of the near-dup pair graph, top 20
    * by triangle participation — dense triangles mark template families
    * (boilerplate) where pair-level dedup under-reports redundancy.
    */
  def trianglesQuery(s: SparkSession, dir: String): DataFrame =
    triangles(MinHashDedup.minhashPairsStaged(s, dir).select("a_id", "b_id"))
      .select(col("node").as("doc_id"), col("degree"),
        col("n_triangles"), col("clustering_coeff"))
      .orderBy(col("n_triangles").desc, col("doc_id"))
      .limit(20)

  override def queries: Map[String, QueryPack.Q] = Map(
    "q_dedup_clusters" -> (clustersQuery _),
    "q_pagerank"       -> (pageRankQuery _),
    "q_triangles"      -> (trianglesQuery _))

  /** Shared oracle prelude: the SAME pair set the engine clusters (the
    * full minhash signature/banding/verify replication from
    * [[MinHashDedup.minhashNeardupOracle]], nested as a subquery), then
    * the transitive closure with a recursive CTE — min reachable id per
    * node ≡ the engine's converged min-label. Ends with `comp(node, rep)`;
    * callers append their own CTEs/SELECT. Reused by
    * [[CuratedCorpus.oracleSql]].
    */
  private[operators] def closurePrelude: String =
    s"""WITH RECURSIVE vpairs AS MATERIALIZED (
       |  SELECT a_id, b_id FROM (
       |${MinHashDedup.minhashNeardupOracle}
       |  ) t
       |), nodes AS (
       |  SELECT a_id AS n FROM vpairs UNION SELECT b_id FROM vpairs
       |), edges AS (
       |  SELECT a_id AS u, b_id AS v FROM vpairs
       |  UNION SELECT b_id, a_id FROM vpairs
       |), reach AS (
       |  SELECT n AS node, n AS m FROM nodes
       |  UNION
       |  SELECT e.v AS node, r.m AS m FROM reach r JOIN edges e ON e.u = r.node
       |), comp AS MATERIALIZED (
       |  SELECT node, min(m) AS rep FROM reach GROUP BY node
       |)""".stripMargin

  /** Power iteration unrolled to closed-form CTEs — one (contrib, rank)
    * CTE pair per round, over the replicated pair set.
    */
  private def pageRankOracle: String = {
    val rounds = (1 to 3).map { i =>
      s"""c$i AS (
         |  SELECT e.v AS v_id, sum(r.rank / r.deg) AS c
         |  FROM edges e JOIN r${i - 1} r ON r.v_id = e.u GROUP BY e.v
         |), r$i AS (
         |  SELECT d.v_id, d.deg, 0.15 / (SELECT n FROM nn) + 0.85 * c.c AS rank
         |  FROM deg d JOIN c$i c ON c.v_id = d.v_id
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH vpairs AS MATERIALIZED (
       |  SELECT a_id, b_id FROM (
       |${MinHashDedup.minhashNeardupOracle}
       |  ) t
       |), edges AS (
       |  SELECT a_id AS u, b_id AS v FROM vpairs
       |  UNION SELECT b_id, a_id FROM vpairs
       |), deg AS (
       |  SELECT u AS v_id, count(*)::DOUBLE AS deg FROM edges GROUP BY u
       |), nn AS (SELECT count(*)::DOUBLE AS n FROM deg),
       |r0 AS (SELECT v_id, deg, 1.0 / (SELECT n FROM nn) AS rank FROM deg),
       |$rounds
       |SELECT v_id AS doc_id, round(rank, 6) AS pagerank,
       |  CAST(deg AS BIGINT) AS degree
       |FROM r3 ORDER BY pagerank DESC, doc_id LIMIT 20""".stripMargin
  }

  private def trianglesOracle: String =
    s"""WITH vpairs AS MATERIALIZED (
       |  SELECT a_id, b_id FROM (
       |${MinHashDedup.minhashNeardupOracle}
       |  ) t
       |), edges AS (
       |  SELECT a_id AS u, b_id AS v FROM vpairs
       |  UNION ALL SELECT b_id, a_id FROM vpairs
       |), deg AS (
       |  SELECT u AS node, count(*) AS degree FROM edges GROUP BY u
       |), tri AS (
       |  SELECT e1.a_id AS a, e1.b_id AS b, e2.b_id AS c
       |  FROM vpairs e1
       |  JOIN vpairs e2 ON e2.a_id = e1.b_id
       |  JOIN vpairs e3 ON e3.a_id = e1.a_id AND e3.b_id = e2.b_id
       |), pernode AS (
       |  SELECT node, count(*) AS n_triangles FROM (
       |    SELECT a AS node FROM tri
       |    UNION ALL SELECT b FROM tri
       |    UNION ALL SELECT c FROM tri) GROUP BY node
       |)
       |SELECT d.node AS doc_id, d.degree,
       |  coalesce(p.n_triangles, 0) AS n_triangles,
       |  CASE WHEN d.degree >= 2 THEN
       |    round(2.0 * coalesce(p.n_triangles, 0)
       |      / (d.degree * (d.degree - 1)), 6)
       |  ELSE 0.0 END AS clustering_coeff
       |FROM deg d LEFT JOIN pernode p ON p.node = d.node
       |ORDER BY n_triangles DESC, doc_id LIMIT 20""".stripMargin

  override def oracleSql: Map[String, String] = Map(
    "q_pagerank" -> pageRankOracle,
    "q_triangles" -> trianglesOracle,
    "q_dedup_clusters" ->
      s"""$closurePrelude, csize AS (
         |  SELECT rep, count(*) AS n FROM comp GROUP BY rep
         |)
         |SELECT c.node AS doc_id, CAST(c.rep AS BIGINT) AS cluster_rep,
         |  CAST(s.n AS BIGINT) AS cluster_size,
         |  CAST(CASE WHEN c.node = c.rep THEN 1 ELSE 0 END AS BIGINT) AS is_kept
         |FROM comp c JOIN csize s ON s.rep = c.rep
         |ORDER BY doc_id""".stripMargin)
}
