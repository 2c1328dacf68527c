package graft.operators

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QueryPack, Tables}
import graft.functions.VectorFunctions.cosineSimilarity

/** Approximate nearest-neighbor search over an embedding column — the
  * 100 TB scale path for [[graft.search.VectorSearch]]'s brute force.
  *
  * Two standard constructions:
  *
  *  - **Random-hyperplane LSH** (Charikar): bucket = sign-bit vector of h
  *    seeded hyperplane projections. At rest the bucket is a partition
  *    column — a query prunes the scan to its own bucket plus 1-bit-flip
  *    neighbors (multiprobe), reading h+1 of 2^h partitions instead of the
  *    corpus. Probability two vectors at angle θ share a bucket:
  *    (1 − θ/π)^h.
  *
  *  - **IVF** (inverted-file, FAISS-style): k-means coarse quantizer
  *    (MLlib KMeans); each vector is assigned to its nearest centroid's
  *    list; a query probes the nprobe nearest lists. Centroids live on the
  *    driver (k × dim floats — tiny); list id is again a partition column
  *    at scale.
  *
  * Both return exact cosine ranking WITHIN the probed candidate set, so
  * accuracy degrades only via recall, never via scoring error.
  */
object AnnSearch extends QueryPack {

  // ---------------------------------------------------------------- LSH

  /** Hyperplane count and seed of the engine's LSH bucketing: the
    * persisted index ([[ensureLshIndex]]) records its planes beside it,
    * and every later hash of a query or an appended vector reads them
    * from there. */
  val LshPlanes = 4
  val LshSeed = 42L

  def hyperplanes(nPlanes: Int, dim: Int, seed: Long = LshSeed): Array[Array[Double]] = {
    val rng = new scala.util.Random(seed)
    Array.fill(nPlanes, dim)(rng.nextGaussian())
  }

  private def bucketOf(v: Seq[Float], planes: Array[Array[Double]]): Int = {
    var bucket = 0
    var p = 0
    while (p < planes.length) {
      var dot = 0.0
      val plane = planes(p)
      var i = 0
      while (i < plane.length) { dot += plane(i) * v(i); i += 1 }
      if (dot >= 0) bucket |= (1 << p)
      p += 1
    }
    bucket
  }

  /** Corpus side: add the LSH bucket column (at scale: partitionBy this). */
  def withLshBucket(df: DataFrame, embCol: String, planes: Array[Array[Double]]): DataFrame = {
    val ps = planes
    val bucketUdf = udf { (v: Seq[Float]) => bucketOf(v, ps) }
    df.withColumn("lsh_bucket", bucketUdf(col(embCol)))
  }

  /** Query side: own bucket + all 1-bit flips (multiprobe). */
  def probeBuckets(queryVec: Array[Float], planes: Array[Array[Double]]): Seq[Int] = {
    val b = bucketOf(queryVec.toSeq, planes)
    b +: planes.indices.map(i => b ^ (1 << i))
  }

  /** LSH ANN: filter to probe buckets (partition pruning at scale), exact
    * cosine top-k within.
    */
  def lshSearch(corpus: DataFrame, embCol: String, idCol: String,
                queryVec: Array[Float], topK: Int = 10,
                nPlanes: Int = LshPlanes, seed: Long = LshSeed): DataFrame = {
    val planes = hyperplanes(nPlanes, queryVec.length, seed)
    withLshBucket(corpus, embCol, planes)
      .filter(col("lsh_bucket").isin(probeBuckets(queryVec, planes): _*))
      .withColumn("sim",
        round(cosineSimilarity(col(embCol), typedlit(queryVec.toSeq)), 6))
      .orderBy(col("sim").desc, col(idCol))
      .limit(topK)
      .select(col(idCol), col("lsh_bucket"), col("sim"))
  }

  // ---------------------------------------------------------------- IVF

  /** IVF index: (corpus with `ivf_list` column, centroid matrix). */
  def buildIvf(corpus: DataFrame, embCol: String, nLists: Int = 16,
               seed: Long = 42L): (DataFrame, Array[Array[Double]]) = {
    val toVec = udf { (v: Seq[Float]) => Vectors.dense(v.map(_.toDouble).toArray) }
    val vecDf = corpus.withColumn("__vec", toVec(col(embCol))).cache()
    // coarse quantizer: a handful of Lloyd iterations places centroids
    // well enough for an IVF router (recall comes from nprobe, not from
    // a converged k-means)
    val model = new KMeans().setK(nLists).setSeed(seed).setMaxIter(5)
      .setFeaturesCol("__vec").setPredictionCol("ivf_list")
      .fit(vecDf)
    val assigned = model.transform(vecDf).drop("__vec")
    vecDf.unpersist()
    (assigned, model.clusterCenters.map(_.toArray))
  }

  /** nprobe nearest centroids by Euclidean distance (driver-side, O(k·d)). */
  def nearestLists(queryVec: Array[Float], centroids: Array[Array[Double]],
                   nprobe: Int): Seq[Int] =
    centroids.zipWithIndex.map { case (c, i) =>
      var d = 0.0
      var j = 0
      while (j < c.length) { val t = c(j) - queryVec(j); d += t * t; j += 1 }
      (d, i)
    }.sortBy(_._1).take(nprobe).map(_._2).toSeq

  def ivfSearch(indexed: DataFrame, centroids: Array[Array[Double]],
                embCol: String, idCol: String, queryVec: Array[Float],
                topK: Int = 10, nprobe: Int = 3): DataFrame =
    indexed
      .filter(col("ivf_list").isin(nearestLists(queryVec, centroids, nprobe): _*))
      .withColumn("sim",
        round(cosineSimilarity(col(embCol), typedlit(queryVec.toSeq)), 6))
      .orderBy(col("sim").desc, col(idCol))
      .limit(topK)
      .select(col(idCol), col("ivf_list"), col("sim"))

  // ------------------------------------------------- driver-contract glue

  private def queryVector(s: SparkSession, dir: String): Array[Float] =
    Tables.embeddings(s, dir).filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).toArray

  /** Per-corpus on-disk index location, keyed by a collision-RESISTANT
    * digest of the corpus dir (not `String.hashCode`: two dirs with
    * colliding 32-bit hashes would share a path and the second build
    * would overwrite an index the first dir's cache entry still serves).
    */
  private def indexPath(prefix: String, dir: String): String = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
    new java.io.File(sys.props("java.io.tmpdir"), s"$prefix$digest").getAbsolutePath
  }

  /** Build-once bookkeeping for [[lshQuery]] — the LSH twin of
    * [[ensureIvfIndex]]. The corpus is hashed and written ONCE per corpus
    * as an `lsh_bucket`-partitioned parquet (planes persisted alongside);
    * serving never evaluates the bucket UDF — the probe-set filter is
    * partition pruning on the at-rest index, reading h+1 of 2^h
    * directories. At 100 TB the difference is an index lookup vs a full
    * corpus scan + per-row hash on EVERY query.
    */
  private val lshBuilt =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Array[Array[Double]])]()
  private[operators] val lshBuildCount = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Ensure a persisted, `lsh_bucket`-partitioned index exists for `dir`'s
    * embeddings table; returns (index path, planes). Hashes the corpus at
    * most once per corpus per process and always round-trips through
    * parquet, so serving exercises the real cold-start path.
    */
  def ensureLshIndex(s: SparkSession, dir: String, nPlanes: Int = LshPlanes,
                     seed: Long = LshSeed): (String, Array[Array[Double]]) =
    lshBuilt.computeIfAbsent(dir, { _ =>
      lshBuildCount.incrementAndGet()
      val corpus = Tables.embeddings(s, dir).filter(col("vec_id") =!= 0)
      val dim = corpus.select(col("embedding")).head().getSeq[Float](0).length
      // the q_ann_lsh / q_ann_batch oracles inline hyperplanes(4, dim=64);
      // a corpus with a different dim would build correct planes but the
      // oracle would silently derive wrong buckets — fail loudly at BUILD
      require(dim == 64,
        s"ensureLshIndex serves the driver corpus contract (dim=64, matching " +
        s"the inlined oracle hyperplanes); got dim=$dim — use lshSearch/" +
        s"withLshBucket directly for other corpora")
      val planes = hyperplanes(nPlanes, dim, seed)
      val path = indexPath("graft_lsh_", dir)
      graft.sources.TableIO.writeAnnIndex(
        withLshBucket(corpus, "embedding", planes), path, "lsh_bucket")
      graft.sources.TableIO.writeLshPlanes(s, path, planes, seed)
      (path, planes)
    })

  /** Serve-path LSH search against the persisted index: the multiprobe
    * bucket set is a PARTITION filter on the scan (spec-asserted) and no
    * hashing UDF runs in the query — buckets were computed once at build.
    */
  def lshQuery(s: SparkSession, dir: String): DataFrame = {
    val (path, planes) = ensureLshIndex(s, dir)
    val q = queryVector(s, dir)
    // bucket-pruned snapshot open: the probe set prunes at the MANIFEST
    // (only matching buckets' files are planned), with the residual
    // bucket filter on top
    graft.sources.TableIO
      .openAnnIndexBuckets(s, path, "lsh_bucket", probeBuckets(q, planes))
      .withColumn("sim",
        round(cosineSimilarity(col("embedding"), typedlit(q.toSeq)), 6))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(10)
      .select(col("vec_id"), col("lsh_bucket"), col("sim"))
  }

  /** Build-once bookkeeping for [[ivfQuery]]: (index path, centroids) per
    * corpus dir, plus a build counter the spec asserts on. Index BUILD is
    * an offline job (k-means fit + one partitioned write); the QUERY path
    * only reads the list-partitioned parquet — at 100 TB a per-query
    * training job is the difference between an index lookup and a full
    * pass over the corpus.
    */
  private val ivfBuilt =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Array[Array[Double]])]()
  private[operators] val ivfBuildCount = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Ensure a persisted, `ivf_list`-partitioned index exists for `dir`'s
    * embeddings table; returns (index path, centroids). Fits k-means at
    * most once per corpus per process and always round-trips through
    * parquet, so serving exercises the real cold-start path.
    */
  def ensureIvfIndex(s: SparkSession, dir: String): (String, Array[Array[Double]]) =
    ivfBuilt.computeIfAbsent(dir, { _ =>
      ivfBuildCount.incrementAndGet()
      // Pin the fit input to ONE sorted partition: the seeded k-means fit
      // is then a fully sequential float fold — bit-deterministic
      // regardless of local[N]/cluster width (file splits vary with
      // default parallelism, and parallel float aggregation order follows
      // the splits). This is what makes the q_ann_ivf golden-value oracle
      // safe (the q_patient_gen recipe). The quantizer fit input is
      // sample-sized BY DESIGN — at 100 TB you fit the coarse quantizer
      // on a bounded sample on one node (standard IVF practice) and only
      // the ASSIGNMENT runs distributed (see [[appendToIvfIndex]]'s udf
      // for the distributed-assignment shape).
      val corpus = Tables.embeddings(s, dir).filter(col("vec_id") =!= 0)
        .coalesce(1).sortWithinPartitions("vec_id")
      val (assigned, centroids) = buildIvf(corpus, "embedding")
      val path = indexPath("graft_ivf_", dir)
      graft.sources.TableIO.writeAnnIndex(assigned, path, "ivf_list")
      graft.sources.TableIO.writeIvfCentroids(s, path, centroids)
      (path, centroids)
    })

  /** Serve-path IVF search against the persisted index: the nprobe list
    * filter is a PARTITION filter on the scan (spec-asserted), so only
    * nprobe of nLists directories are read; no fit in the query.
    * nprobe = 4 of 16 lists: measured recall@10 ≥ 0.6 on all three driver
    * corpora while reading 1/4 of the index (q_ann_recall pins the floor).
    */
  def ivfQuery(s: SparkSession, dir: String): DataFrame = {
    val (path, centroids) = ensureIvfIndex(s, dir)
    val q = queryVector(s, dir)
    // manifest-prune to the nprobe lists; ivfSearch's own list filter
    // is then a residual over already-pruned files
    ivfSearch(graft.sources.TableIO.openAnnIndexBuckets(s, path, "ivf_list",
      nearestLists(q, centroids, 4)), centroids,
      "embedding", "vec_id", q, nprobe = 4)
  }

  /** Incremental LSH index maintenance: hash ONLY the new vectors with
    * the persisted sidecar planes and append them into the existing
    * bucket partition directories — O(|new batch|) work per update,
    * versus the reference's full per-update rebuild
    * (similarity_search.py:284-286). Serving is unchanged: the appended
    * files land inside the same partition-pruned layout.
    */
  def appendToLshIndex(s: SparkSession, path: String, newVectors: DataFrame,
                       embCol: String = "embedding", idCol: String = "vec_id"): Unit = {
    requireNewIds(s, path, newVectors, idCol)
    val planes = graft.sources.TableIO.readLshPlanes(s, path)
    graft.sources.TableIO.appendAnnIndex(
      withLshBucket(newVectors, embCol, planes), path, "lsh_bucket")
  }

  /** Duplicate-id guard for incremental appends: re-appending an id would
    * silently duplicate it in the index (it would appear twice in every
    * top-k it reaches). The check semi-joins the index's id column (a
    * column-pruned scan — 8 bytes per indexed vector, never the
    * embeddings) against the batch's ids and fails with a clear error
    * instead of corrupting the index. Join strategy is left to
    * Catalyst/AQE: a typical small batch broadcasts; a bulk backfill
    * falls back to a shuffle join rather than an OOM-ing forced
    * broadcast.
    */
  private def requireNewIds(s: SparkSession, path: String,
                            newVectors: DataFrame, idCol: String): Unit = {
    val batchIds = newVectors.select(col(idCol)).distinct()
    val batchN = newVectors.count()
    val distinctN = batchIds.count()
    require(distinctN == batchN,
      s"append batch contains ${batchN - distinctN} duplicate $idCol values within itself")
    val clashes = graft.sources.SnapshotTable.read(s, path).select(col(idCol))
      .join(batchIds, Seq(idCol), "left_semi")
      .limit(5).collect().map(_.get(0))
    require(clashes.isEmpty,
      s"append would duplicate ${clashes.length}+ existing $idCol values " +
      s"(e.g. ${clashes.mkString(", ")}) already in the index at $path; " +
      s"de-duplicate the batch or rebuild the index to upsert")
  }

  /** IVF twin of [[appendToLshIndex]]: assign new vectors to their
    * nearest persisted centroid (no re-fit — the quantizer is frozen
    * between offline rebuilds, the standard IVF maintenance contract)
    * and append into the list directories.
    */
  def appendToIvfIndex(s: SparkSession, path: String, newVectors: DataFrame,
                       embCol: String = "embedding", idCol: String = "vec_id"): Unit = {
    requireNewIds(s, path, newVectors, idCol)
    val centroids = graft.sources.TableIO.readIvfCentroids(s, path)
    val assign = udf { (v: Seq[Float]) => nearestLists(v.toArray, centroids, 1).head }
    graft.sources.TableIO.appendAnnIndex(
      newVectors.withColumn("ivf_list", assign(col(embCol))), path, "ivf_list")
  }

  /** BATCHED ANN serving — N queries against the persisted LSH index in
    * ONE partition-pruned scan (the serving-tier shape: amortize the
    * index read across a query batch instead of one scan per query):
    *
    *  1. the query batch's probe sets union into a single `isin`
    *     partition filter — the index is read once, covering every
    *     query's buckets;
    *  2. a tiny (query_id, bucket, embedding) probe table broadcasts
    *     into the scan — each candidate row joins only the queries
    *     probing its bucket, so no corpus row fans out to unrelated
    *     queries;
    *  3. per-query top-k runs through the native [[graft.functions.TopKByExpr]]
    *     aggregate — only k-sized heaps shuffle, never candidate sets.
    *
    * Queries here are corpus vectors 1..5 (self-match excluded); the
    * whole chain — buckets, probe sets, cosine, ranking — is
    * DuckDB-oracle-checked from the seeded hyperplane literals.
    */
  def batchLshQuery(s: SparkSession, dir: String, topK: Int = 3): DataFrame = {
    val (path, planes) = ensureLshIndex(s, dir)
    batchQuery(s, dir, path, "lsh_bucket", topK)(probeBuckets(_, planes))
  }

  /** IVF twin of [[batchLshQuery]] — same serving-tier shape on the
    * list-partitioned index: the query batch's nprobe list sets union
    * into ONE `isin` partition filter (one pruned scan covers every
    * query), a tiny (query_id, ivf_list, embedding) probe table
    * broadcasts into it (each candidate row meets only the queries
    * probing its list), and per-query top-k runs through the native
    * [[graft.functions.TopKByExpr]] heap — only k-sized buffers shuffle.
    * Reference analogue: the per-query loop at similarity_search.py:322-363
    * rescans the corpus once PER query; this is one pruned scan per BATCH.
    */
  def batchIvfQuery(s: SparkSession, dir: String, topK: Int = 3,
                    nprobe: Int = 4): DataFrame = {
    val (path, centroids) = ensureIvfIndex(s, dir)
    batchQuery(s, dir, path, "ivf_list", topK)(
      nearestLists(_, centroids, nprobe))
  }

  /** The one body of both batched queries: `probe` maps a query vector
    * to the values of `partCol` (LSH buckets or IVF lists) it reads.
    */
  private def batchQuery(s: SparkSession, dir: String, path: String,
                         partCol: String, topK: Int)(
                         probe: Array[Float] => Seq[Int]): DataFrame = {
    import s.implicits._
    val queries = Tables.embeddings(s, dir)
      .filter(col("vec_id").between(1, 5))
      .select(col("vec_id"), col("embedding"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val probeRows = queries.flatMap { case (qid, emb) =>
      probe(emb).map(p => (qid, p, emb.toSeq))
    }.toSeq
    val probes = probeRows.toDF("query_id", partCol, "q_emb")
    val allParts = probeRows.map(_._2).distinct

    graft.sources.TableIO
      .openAnnIndexBuckets(s, path, partCol, allParts) // ONE pruned scan
      .join(broadcast(probes), Seq(partCol))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("sim",
        round(cosineSimilarity(col("embedding"), col("q_emb")), 6))
      .groupBy(col("query_id"))
      .agg(graft.functions.TopKByExpr(col("vec_id"), col("sim"), topK).as("top"))
      .select(col("query_id"), explode(col("top")).as("t"))
      .select(col("query_id"), col("t.id").as("vec_id"), col("t.score").as("sim"))
      .orderBy(col("query_id"), col("sim").desc, col("vec_id"))
  }

  // ------------------------------------------------ ANN quality report

  /** Driver-visible ANN quality (the `q_minhash_recall` pattern): ONE row
    * whose exact side the DuckDB oracle recomputes independently.
    *
    *  - The LSH leg is **fully oracle-exact**: the seeded hyperplanes are
    *    pure f(seed, dim), so their literal values are inlined into the
    *    oracle SQL and DuckDB re-derives every bucket, the probe set, the
    *    candidate count and recall@10 bit-for-bit (`list_dot_product` on
    *    DOUBLE[] matches the build UDF's sequential left-fold).
    *  - The IVF leg rides on MLlib's k-means fit (not SQL-expressible), so
    *    it is asserted as a recall FLOOR (`ivf_recall_ge_half`) the oracle
    *    pins to TRUE — recall dropping below 0.5 fails the gate.
    *
    * All legs stay ONE lazy plan (crossJoin of 1-row aggregates) so Spark
    * schedules the subtrees in parallel — eagerly materializing them
    * measured 3× slower on the minhash twin.
    */
  def annRecallQuery(s: SparkSession, dir: String): DataFrame = {
    val (lshPath, planes) = ensureLshIndex(s, dir)
    val (ivfPath, centroids) = ensureIvfIndex(s, dir)
    val q = queryVector(s, dir)
    val scoredAll = graft.sources.SnapshotTable.read(s, lshPath)
      .withColumn("sim",
        round(cosineSimilarity(col("embedding"), typedlit(q.toSeq)), 6))
    val brute10 = scoredAll.orderBy(col("sim").desc, col("vec_id")).limit(10)
      .select(col("vec_id"), col("sim"))
    val cand = scoredAll.filter(col("lsh_bucket").isin(probeBuckets(q, planes): _*))
    val lsh10 = cand.orderBy(col("sim").desc, col("vec_id")).limit(10)
      .select(col("vec_id").as("lsh_vec"))
    val ivf10 = ivfSearch(graft.sources.SnapshotTable.read(s, ivfPath), centroids,
      "embedding", "vec_id", q, topK = 10, nprobe = 4)
      .select(col("vec_id").as("ivf_vec"))

    val corpusLeg = scoredAll.agg(count(lit(1)).as("n_corpus"))
    val bruteLeg = brute10.agg(
      count(lit(1)).as("n_brute"),
      sum(col("vec_id")).as("brute_id_sum"),
      max(col("sim")).as("brute_top1_sim"),
      min(col("sim")).as("brute_min_sim"))
    val candLeg = cand.agg(count(lit(1)).as("lsh_candidates"))
    val lshLeg = lsh10.join(brute10, col("lsh_vec") === col("vec_id"))
      .agg(count(lit(1)).as("lsh_hits"))
      .withColumn("lsh_recall", round(col("lsh_hits") / 10.0, 6))
    val ivfLeg = ivf10.join(brute10, col("ivf_vec") === col("vec_id"))
      .agg(count(lit(1)).as("ivf_hits"))
      .select((col("ivf_hits") >= 5).as("ivf_recall_ge_half"))

    corpusLeg.crossJoin(bruteLeg).crossJoin(candLeg)
      .crossJoin(lshLeg).crossJoin(ivfLeg)
  }

  /** SemDeDup-style embedding near-dup AT SCALE: the blocked self-join of
    * [[TextAnalysis.embeddingNearDup]] with the block key its scaladoc
    * promises for 100 TB — the ANN partition. Pairs are emitted only
    * WITHIN an IVF list of the persisted index, so the quadratic term is
    * Σ_list f² (bounded by the k-means balance) instead of corpus², and
    * the join reads the list-partitioned layout directly. The trade is
    * the standard SemDeDup one: cross-list near-dups are missed — the
    * spec measures that recall against the exact all-pairs truth at spec
    * scale instead of hiding it.
    */
  def ivfNearDupQuery(s: SparkSession, dir: String, threshold: Double = 0.4): DataFrame = {
    val (path, _) = ensureIvfIndex(s, dir)
    val idx = graft.sources.SnapshotTable.read(s, path)
      .select(col("ivf_list").cast("long").as("ivf_list"),
        col("vec_id"), col("embedding"))
    val a = idx.select(col("ivf_list"), col("vec_id").as("a_id"),
      col("embedding").as("a_emb"))
    val b = idx.select(col("ivf_list"), col("vec_id").as("b_id"),
      col("embedding").as("b_emb"))
    a.join(b, Seq("ivf_list"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("cos", round(cosineSimilarity(col("a_emb"), col("b_emb")), 6))
      .filter(col("cos") >= threshold)
      .select(col("ivf_list"), col("a_id"), col("b_id"), col("cos"))
      .orderBy(col("a_id"), col("b_id"))
  }

  override def queries: Map[String, QueryPack.Q] = Map(
    "q_ann_lsh"       -> (lshQuery _),
    "q_ann_ivf"       -> (ivfQuery _),
    "q_ann_batch"     -> ((s, d) => batchLshQuery(s, d)),
    "q_ann_batch_ivf" -> ((s, d) => batchIvfQuery(s, d)),
    "q_ann_recall"    -> (annRecallQuery _),
    "q_ann_neardup"   -> ((s, d) => ivfNearDupQuery(s, d)))

  /** `q_ann_lsh`/`q_ann_batch` are fully hash-matched: the seeded
    * hyperplanes are pure f(seed, dim), so DuckDB re-derives every bucket,
    * the probe set and the served top-k bit-for-bit.
    *
    * `q_ann_ivf`/`q_ann_batch_ivf` ride on MLlib's k-means fit (not
    * SQL-expressible), but the fit IS bit-deterministic — seed 42, maxIter
    * 5, and [[ensureIvfIndex]] pins the fit input to one sorted partition
    * so no parallel float aggregation order can drift — which makes the
    * served results a pure function of the corpus. Their oracles are
    * GOLDEN VALUES (the q_patient_gen recipe): captured from the pinned
    * build at the driver's verify corpus (sf0.01) and reproduced
    * bit-identically across fresh JVMs at local[4]/local[7]/local[32]
    * with shuffle.partitions 4/13/32 (graft.GoldenIvf probe). Any drift
    * in the seeded fit, the assignment, or the partitioning pinning fails
    * the hash gate. NOTE: golden values are sf0.01-specific — the
    * driver's correctness gate SF; self-checks at other SFs should skip
    * these two names. IVF recall stays additionally driver-gated via
    * q_ann_recall's `ivf_recall_ge_half`.
    */
  override def oracleSql: Map[String, String] = {
    // the exact planes the engine builds with: pure f(seed=42, dim=64)
    val planes = hyperplanes(4, 64, 42L)
    def lit(p: Array[Double]): String = p.mkString("[", ", ", "]")
    def bucketExpr(vec: String): String =
      planes.zipWithIndex.map { case (p, i) =>
        s"CASE WHEN list_dot_product($vec, ${lit(p)}) >= 0 THEN ${1 << i} ELSE 0 END"
      }.mkString("(", " + ", ")")
    Map(
      // GOLDEN-VALUE oracle (sf0.01): within-list pairs are a pure
      // function of the pinned IVF build (same determinism argument as
      // q_ann_ivf) plus the order-fixed cosine fold; bit-identical across
      // local[4]/local[32] (GoldenIvf probe).
      "q_ann_neardup" ->
        """SELECT * FROM (VALUES
          |  (CAST(14 AS BIGINT), CAST(7 AS BIGINT), CAST(425 AS BIGINT), CAST(0.40752 AS DOUBLE)),
          |  (CAST(4 AS BIGINT), CAST(16 AS BIGINT), CAST(402 AS BIGINT), CAST(0.446301 AS DOUBLE)),
          |  (CAST(2 AS BIGINT), CAST(32 AS BIGINT), CAST(200 AS BIGINT), CAST(0.437866 AS DOUBLE)),
          |  (CAST(5 AS BIGINT), CAST(45 AS BIGINT), CAST(298 AS BIGINT), CAST(0.45555 AS DOUBLE)),
          |  (CAST(1 AS BIGINT), CAST(84 AS BIGINT), CAST(190 AS BIGINT), CAST(0.41243 AS DOUBLE)),
          |  (CAST(10 AS BIGINT), CAST(85 AS BIGINT), CAST(404 AS BIGINT), CAST(0.43927 AS DOUBLE)),
          |  (CAST(0 AS BIGINT), CAST(108 AS BIGINT), CAST(142 AS BIGINT), CAST(0.437164 AS DOUBLE)),
          |  (CAST(0 AS BIGINT), CAST(166 AS BIGINT), CAST(324 AS BIGINT), CAST(0.473997 AS DOUBLE)),
          |  (CAST(4 AS BIGINT), CAST(191 AS BIGINT), CAST(431 AS BIGINT), CAST(0.442058 AS DOUBLE)),
          |  (CAST(1 AS BIGINT), CAST(203 AS BIGINT), CAST(414 AS BIGINT), CAST(0.409831 AS DOUBLE)),
          |  (CAST(0 AS BIGINT), CAST(205 AS BIGINT), CAST(485 AS BIGINT), CAST(0.407421 AS DOUBLE)),
          |  (CAST(8 AS BIGINT), CAST(234 AS BIGINT), CAST(384 AS BIGINT), CAST(0.444816 AS DOUBLE)),
          |  (CAST(0 AS BIGINT), CAST(238 AS BIGINT), CAST(287 AS BIGINT), CAST(0.451568 AS DOUBLE)),
          |  (CAST(8 AS BIGINT), CAST(262 AS BIGINT), CAST(291 AS BIGINT), CAST(0.417426 AS DOUBLE)),
          |  (CAST(6 AS BIGINT), CAST(269 AS BIGINT), CAST(340 AS BIGINT), CAST(0.433849 AS DOUBLE)),
          |  (CAST(6 AS BIGINT), CAST(290 AS BIGINT), CAST(325 AS BIGINT), CAST(0.458754 AS DOUBLE)),
          |  (CAST(6 AS BIGINT), CAST(290 AS BIGINT), CAST(331 AS BIGINT), CAST(0.412944 AS DOUBLE)),
          |  (CAST(6 AS BIGINT), CAST(325 AS BIGINT), CAST(331 AS BIGINT), CAST(0.428167 AS DOUBLE)),
          |  (CAST(6 AS BIGINT), CAST(334 AS BIGINT), CAST(382 AS BIGINT), CAST(0.429677 AS DOUBLE)),
          |  (CAST(6 AS BIGINT), CAST(334 AS BIGINT), CAST(438 AS BIGINT), CAST(0.403572 AS DOUBLE)),
          |  (CAST(3 AS BIGINT), CAST(338 AS BIGINT), CAST(406 AS BIGINT), CAST(0.48266 AS DOUBLE)),
          |  (CAST(14 AS BIGINT), CAST(355 AS BIGINT), CAST(417 AS BIGINT), CAST(0.40073 AS DOUBLE))
          |) t(ivf_list, a_id, b_id, cos)
          |ORDER BY a_id, b_id""".stripMargin,
      "q_ann_ivf" ->
        """SELECT CAST(365 AS BIGINT) AS vec_id, CAST(6 AS INT) AS ivf_list,
          |       CAST(0.369994 AS DOUBLE) AS sim
          |UNION ALL SELECT 334, 6, 0.362722
          |UNION ALL SELECT 387, 10, 0.331139
          |UNION ALL SELECT 73, 6, 0.295434
          |UNION ALL SELECT 190, 1, 0.281795
          |UNION ALL SELECT 388, 1, 0.276301
          |UNION ALL SELECT 344, 6, 0.252487
          |UNION ALL SELECT 257, 6, 0.248127
          |UNION ALL SELECT 36, 13, 0.238657
          |UNION ALL SELECT 478, 6, 0.237283
          |ORDER BY sim DESC, vec_id""".stripMargin,
      "q_ann_batch_ivf" ->
        """SELECT CAST(1 AS BIGINT) AS query_id, CAST(386 AS BIGINT) AS vec_id,
          |       CAST(0.371485 AS DOUBLE) AS sim
          |UNION ALL SELECT 1, 27, 0.348208
          |UNION ALL SELECT 1, 195, 0.322744
          |UNION ALL SELECT 2, 117, 0.318143
          |UNION ALL SELECT 2, 450, 0.266344
          |UNION ALL SELECT 2, 145, 0.263494
          |UNION ALL SELECT 3, 130, 0.399872
          |UNION ALL SELECT 3, 149, 0.329934
          |UNION ALL SELECT 3, 343, 0.308472
          |UNION ALL SELECT 4, 408, 0.322753
          |UNION ALL SELECT 4, 280, 0.279826
          |UNION ALL SELECT 4, 470, 0.252537
          |UNION ALL SELECT 5, 419, 0.319237
          |UNION ALL SELECT 5, 157, 0.311256
          |UNION ALL SELECT 5, 316, 0.291112
          |ORDER BY query_id, sim DESC, vec_id""".stripMargin,
      "q_ann_batch" ->
        s"""WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
           |           FROM embeddings WHERE vec_id BETWEEN 1 AND 5),
           | corp AS MATERIALIZED (
           |  SELECT vec_id, ${bucketExpr("embedding::DOUBLE[]")} AS b,
           |    embedding::DOUBLE[] AS ev
           |  FROM embeddings WHERE vec_id <> 0),
           | qb AS (SELECT query_id, qv, ${bucketExpr("qv")} AS b0 FROM q),
           | probes AS (
           |  SELECT query_id, qv,
           |    unnest([b0, xor(b0, 1), xor(b0, 2), xor(b0, 4), xor(b0, 8)]) AS b
           |  FROM qb),
           | cand AS (
           |  SELECT p.query_id, c.vec_id,
           |    round(list_dot_product(c.ev, p.qv) /
           |      (sqrt(list_dot_product(c.ev, c.ev)) *
           |       sqrt(list_dot_product(p.qv, p.qv))), 6) AS sim
           |  FROM corp c JOIN probes p ON c.b = p.b
           |  WHERE c.vec_id <> p.query_id),
           | ranked AS (
           |  SELECT query_id, vec_id, sim,
           |    row_number() OVER (PARTITION BY query_id
           |      ORDER BY sim DESC, vec_id) AS rn
           |  FROM cand)
           |SELECT query_id, vec_id, sim FROM ranked WHERE rn <= 3
           |ORDER BY query_id, sim DESC, vec_id""".stripMargin,
      "q_ann_lsh" ->
      s"""WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
         | corp AS MATERIALIZED (
         |  SELECT e.vec_id,
         |   ${bucketExpr("e.embedding::DOUBLE[]")} AS b,
         |   round(list_dot_product(e.embedding::DOUBLE[], q.qv) /
         |    (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
         |     sqrt(list_dot_product(q.qv, q.qv))), 6) AS sim
         |  FROM embeddings e, q WHERE e.vec_id <> 0),
         | qb AS (SELECT ${bucketExpr("qv")} AS b FROM q)
         |SELECT corp.vec_id, CAST(corp.b AS INT) AS lsh_bucket, corp.sim
         |FROM corp, qb
         |WHERE corp.b = qb.b OR corp.b = xor(qb.b, 1) OR corp.b = xor(qb.b, 2)
         |   OR corp.b = xor(qb.b, 4) OR corp.b = xor(qb.b, 8)
         |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin,
      "q_ann_recall" ->
      s"""WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
         | corp AS MATERIALIZED (
         |  SELECT e.vec_id,
         |   ${bucketExpr("e.embedding::DOUBLE[]")} AS b,
         |   round(list_dot_product(e.embedding::DOUBLE[], q.qv) /
         |    (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
         |     sqrt(list_dot_product(q.qv, q.qv))), 6) AS sim
         |  FROM embeddings e, q WHERE e.vec_id <> 0),
         | qb AS (SELECT ${bucketExpr("qv")} AS b FROM q),
         | brute AS MATERIALIZED (
         |  SELECT vec_id, sim FROM corp ORDER BY sim DESC, vec_id LIMIT 10),
         | cand AS MATERIALIZED (
         |  SELECT corp.* FROM corp, qb
         |  WHERE corp.b = qb.b OR corp.b = xor(qb.b, 1) OR corp.b = xor(qb.b, 2)
         |     OR corp.b = xor(qb.b, 4) OR corp.b = xor(qb.b, 8)),
         | lsh10 AS MATERIALIZED (
         |  SELECT vec_id FROM cand ORDER BY sim DESC, vec_id LIMIT 10)
         | SELECT
         |  (SELECT count(*) FROM corp) AS n_corpus,
         |  (SELECT count(*) FROM brute) AS n_brute,
         |  (SELECT CAST(sum(vec_id) AS BIGINT) FROM brute) AS brute_id_sum,
         |  (SELECT max(sim) FROM brute) AS brute_top1_sim,
         |  (SELECT min(sim) FROM brute) AS brute_min_sim,
         |  (SELECT count(*) FROM cand) AS lsh_candidates,
         |  (SELECT count(*) FROM lsh10 JOIN brute USING (vec_id)) AS lsh_hits,
         |  (SELECT round(count(*) / 10.0, 6) FROM lsh10 JOIN brute USING (vec_id)) AS lsh_recall,
         |  TRUE AS ivf_recall_ge_half""".stripMargin)
  }
}
