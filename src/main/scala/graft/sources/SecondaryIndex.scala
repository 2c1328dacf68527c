package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, LongType, StringType, StructField, StructType}

import graft.{QueryPack, Staged, Tables}

/** `[EXT]` Record-level secondary index over a snapshot table — exact
  * key → data-file postings, for point lookups on a column the layout
  * does NOT cluster on (the Hudi record-index / Iceberg bloom niche).
  *
  * Why it earns its keep next to the per-file blooms the manifests
  * already carry: bloom probing is O(table files) DRIVER work per query
  * (and ~1 KB of manifest per file·column), with false positives
  * scanning extra files. The index is a snapshot table of `(k, file)`
  * postings hash-partitioned by `pmod(xxhash64(k), buckets)` — a
  * lookup reads ONLY the probed keys' buckets (partition-pruned,
  * O(postings) executor work, O(1) driver work in the table's file
  * count) and yields the EXACT file list, no false positives. At 100 TB
  * / ~100k files: blooms cost ~100 MB of manifest + 100k probes per
  * lookup; the index costs one pruned scan of a few-MB bucket
  * partition.
  *
  * Maintenance is O(changed files): [[refresh]] diffs the live file
  * sets of the applied and current versions through the manifest layer
  * (never a data scan of carried files), indexes only fresh files, and
  * RETIRES postings of files that left the live set in the same pass —
  * rewrite-style commits (compact / merge / delete) no longer grow the
  * index monotonically between rebuilds. Any postings a crash leaves
  * stale stay harmless (a lookup intersects its file list with the
  * current manifest's live set) and the next refresh retires them.
  * Lazy equality deletes advance the version with no file
  * change: the tag-only refresh keeps postings as-is and the restricted
  * read applies the masks, so deleted keys never resurface.
  *
  * The index can only be WRONG by being STALE (missing postings for
  * files it has not seen). [[read]] therefore degrades, never lies: if
  * the applied version trails the table (or the posting list trips its
  * cap), the lookup falls back to a plain filtered scan of the current
  * snapshot.
  */
object SecondaryIndex extends QueryPack {

  private val AppliedRe = raw"six@(\d+)".r
  private val BucketsRe = raw"sixn@(\d+)".r

  private def fileName(relPath: String): String =
    relPath.substring(relPath.lastIndexOf('/') + 1)

  /** Postings `(k, file, __bucket)` for `entries`' rows, keyed back to
    * manifest-relative paths via the file NAME (unique within a table —
    * writers stamp UUIDs; asserted). One distinct-shuffle over the
    * subset's rows, map-side combined; the raw (unmasked) read is
    * correct here because a masked row's posting is at worst a false
    * positive the restricted read re-masks.
    *
    * `dedup = false` skips the distinct: every consumer reduces
    * postings to a file SET (lookup/probe paths `.distinct()` the file
    * column), so duplicate (k, file) rows are only a SIZE cost — and
    * for a key-unique table (the [[appendUnique]] enforced contract)
    * the pairs are already distinct, making the dedup shuffle a full
    * pass over the postings that removes nothing (guide §2.4: a
    * `distinct` on data that is already unique). Never a correctness
    * knob, only a layout/size one.
    */
  private def postingsOf(spark: SparkSession, table: String, version: Long,
                         keyCol: String, entries: Seq[SnapshotTable.FileEntry],
                         buckets: Int, dedup: Boolean = true): DataFrame = {
    val names = entries.map(e => fileName(e.path) -> e.path)
    require(names.map(_._1).distinct.size == names.size,
      s"secondary index: duplicate data-file names in $table")
    val nameMap = spark.createDataFrame(
      spark.sparkContext.parallelize(names.map { case (n, p) => Row(n, p) }, 1),
      StructType(Seq(StructField("__fn", StringType), StructField("file", StringType))))
    val pairs = SnapshotTable
      .readEntryCols(spark, table, entries, version, Seq(keyCol))
      .select(col(keyCol).as("k"),
        substring_index(input_file_name(), "/", -1).as("__fn"))
      .filter(col("k").isNotNull)
    (if (dedup) pairs.distinct() else pairs)
      .join(broadcast(nameMap), Seq("__fn"))
      .select(col("k"), col("file"),
        pmod(xxhash64(col("k")), lit(buckets)).as("__bucket"))
  }

  /** Build the index for `table`'s CURRENT version. `buckets` bounds
    * the partition fan-out (a lookup touches only its keys' buckets);
    * size it so a bucket's postings are a few files at the target
    * scale.
    */
  def create(spark: SparkSession, table: String, keyCol: String,
             index: String, buckets: Int = 64,
             dedupPostings: Boolean = true): Long = {
    require(buckets > 0, s"secondary index: buckets $buckets out of range")
    val v = SnapshotTable.currentVersion(spark, table)
    val (entries, _) = SnapshotTable.readManifestFull(spark, table, v)
    require(entries.nonEmpty, s"secondary index: $table is empty")
    // statsCols = k RANGE-CLUSTERS the postings on the key WITHIN each
    // hash bucket (and every append/rebuild inherits it through the
    // header): point lookups still prune whole bucket partitions, and
    // a RANGE probe — which must visit every bucket — prunes to the
    // few posting FILES per bucket whose recorded [lo, hi] intersects
    // the range. That one layout decision is what makes
    // [[lookupRangeFiles]] O(postings in range) instead of O(index).
    graft.JobLabel(spark, "six:index-build") {
    SnapshotTable.create(spark, index,
      postingsOf(spark, table, v, keyCol, entries, buckets,
        dedup = dedupPostings), "__bucket",
      statsCols = Seq("k"),
      tags = Set(s"six@$v", s"sixn@$buckets"),
      // manifest-measured bound on the postings bytes: see refresh —
      // the optimizer's estimate over scan→distinct→join would
      // otherwise size the range split at the cap for any input
      sizeHint = Some(entries.map(_.bytes).sum).filter(_ > 0L))
    }
  }

  private def headerTags(spark: SparkSession, index: String): Set[String] =
    SnapshotTable.readManifestList(spark, index,
      SnapshotTable.currentVersion(spark, index))._2.tags

  /** The table version whose live files the index has postings for. */
  def appliedVersion(spark: SparkSession, index: String): Long =
    headerTags(spark, index).collect { case AppliedRe(v) => v.toLong }
      .maxOption.getOrElse(
        sys.error(s"secondary index $index records no applied version"))

  private def bucketCount(spark: SparkSession, index: String): Int =
    headerTags(spark, index).collect { case BucketsRe(n) => n.toInt }
      .headOption.getOrElse(
        sys.error(s"secondary index $index records no bucket count"))

  /** Advance the index to the table's current version: postings are
    * appended for files LIVE NOW but not at the applied version (a
    * manifest-level diff — carried files are never re-read), and the
    * applied tag rides the same commit, so a replayed refresh is a
    * no-op. A version-only advance (lazy delete, setChecks, …) commits
    * just the tag. Requires the applied version un-vacuumed (the diff
    * needs its manifest); a vacuumed-away base is a loud error naming
    * [[rebuild]].
    *
    * Postings GC rides the same diff: files that LEFT the live set
    * (compact / merge / delete rewrites) get their postings retired
    * BEFORE the append, so the index no longer grows monotonically
    * between rebuilds. Cost model: the retire is one column-pruned
    * scan of the index's `file` column plus a rewrite of only the
    * posting files that referenced the departed data files — and it
    * runs ONLY on rewrite commits, which already paid O(subset) data
    * work on the table itself; the streaming-cadence common case
    * (append / version-only advance) has an empty removed set and
    * pays nothing. Ordering makes a replay convergent: a crash after
    * the retire but before the tagged append re-runs the same diff,
    * the retire finds no surviving matches (no-op, no commit), and
    * the append lands once. [[rebuild]] stays as the REPAIR tool for
    * a vacuumed-away base, not routine hygiene.
    */
  def refresh(spark: SparkSession, table: String, keyCol: String,
              index: String, dedupPostings: Boolean = true): Option[Long] = {
    val vNow = SnapshotTable.currentVersion(spark, table)
    val applied = appliedVersion(spark, index)
    if (vNow <= applied) None
    else {
      require(SnapshotTable.versions(spark, table).contains(applied),
        s"secondary index $index: applied version $applied of $table was " +
          s"vacuumed — run SecondaryIndex.rebuild")
      val (cur, _) = SnapshotTable.readManifestFull(spark, table, vNow)
      val curPaths = cur.map(_.path).toSet
      val seen = SnapshotTable.readManifest(spark, table, applied)
        .map(_.path).toSet
      val freshEntries = cur.filterNot(e => seen.contains(e.path))
      val removed = (seen -- curPaths).toSeq.sorted
      if (removed.nonEmpty)
        SnapshotTable.commitWithRetry() {
          SnapshotTable.commitDelete(spark, index,
            col("file").isin(removed: _*), "__bucket")
        }
      val buckets = bucketCount(spark, index)
      val postings =
        if (freshEntries.isEmpty)
          // schema-preserving empty frame → tag-only commit
          SnapshotTable.read(spark, index).filter(lit(false))
        else postingsOf(spark, table, vNow, keyCol, freshEntries, buckets,
          dedup = dedupPostings)
      // size the range-clustered postings write from the MANIFEST's
      // fresh-file bytes (a safe over-bound: postings are a projection
      // of those rows): without the hint the optimizer's estimate over
      // scan→distinct→join saturates the task cap and every micro-batch
      // index advance pays a sampling re-execution of the postings plan
      val hint = freshEntries.map(_.bytes).sum
      graft.JobLabel(spark, "six:refresh-postings") {
        SnapshotTable.commitWithRetry() {
          SnapshotTable.commitAppend(spark, index, postings, "__bucket",
            tag = Some(s"six@$vNow"),
            sizeHint = Some(hint).filter(_ > 0L))
        }
      }
    }
  }

  /** Re-derive the whole index at the table's current version (one
    * atomic overwrite) — the recovery path when the applied version was
    * vacuumed, and the hygiene path that sheds stale postings rewrites
    * left behind.
    */
  def rebuild(spark: SparkSession, table: String, keyCol: String,
              index: String): Long = {
    val v = SnapshotTable.currentVersion(spark, table)
    val (entries, _) = SnapshotTable.readManifestFull(spark, table, v)
    val buckets = bucketCount(spark, index)
    SnapshotTable.commitOverwrite(spark, index,
      postingsOf(spark, table, v, keyCol, entries, buckets), "__bucket",
      sizeHint = Some(entries.map(_.bytes).sum).filter(_ > 0L))
  }

  /** Driver-side twin of the build's `pmod(xxhash64(k), buckets)` —
    * the SAME Catalyst expression (XxHash64, seed 42) evaluated on a
    * literal, so prober and writer can never disagree.
    */
  private def bucketOf(value: Any, dt: DataType, buckets: Int): Long = {
    val norm: Any = (value, dt) match {
      case (n: Number, LongType)    => n.longValue()
      case (n: Number, IntegerType) => n.intValue()
      case (n: Number, DoubleType)  => n.doubleValue()
      case (v, StringType)          => String.valueOf(v)
      case (v, _)                   => v
    }
    val h = org.apache.spark.sql.catalyst.expressions.XxHash64(
      Seq(org.apache.spark.sql.catalyst.expressions.Literal.create(norm, dt)), 42L)
      .eval(org.apache.spark.sql.catalyst.InternalRow.empty).asInstanceOf[Long]
    ((h % buckets) + buckets) % buckets
  }

  /** The distinct data files (manifest-relative paths) the index proves
    * may hold `keys`, reading only the keys' hash buckets. `None` when
    * the list trips `maxFiles` (caller should full-scan instead — the
    * collect stays bounded either way).
    */
  def lookupFiles(spark: SparkSession, table: String, keyCol: String,
                  index: String, keys: Seq[Any],
                  maxFiles: Int = 4096): Option[Seq[String]] = {
    if (keys.isEmpty) return Some(Seq.empty)
    val dt = SnapshotTable.read(spark, table).schema(keyCol).dataType
    val buckets = bucketCount(spark, index)
    val wanted = keys.filter(_ != null)
      .map(k => bucketOf(k, dt, buckets)).distinct
    val files = SnapshotTable.readWhere(spark, index, "__bucket",
      wanted.map(_.toString))
      .filter(col("k").isin(keys: _*))
      .select(col("file")).distinct()
      .limit(maxFiles + 1).collect().map(_.getString(0)).toSeq
    if (files.length > maxFiles) None else Some(files)
  }

  /** The distinct data files the index proves may hold keys in
    * `[lo, hi]` (both inclusive, the key column's own type). The probe
    * filters the postings on `k`'s range: every hash bucket is
    * VISITED, but within each bucket the postings are range-clustered
    * on k ([[create]]'s statsCols), so manifest min/max skipping plans
    * only the posting files whose recorded key range intersects —
    * O(postings in range + one manifest fold), no new index structure.
    * Indexes built before the clustered layout (no k stats) still
    * answer correctly, just without posting-file pruning. `None` when
    * the list trips `maxFiles` (caller full-scans instead).
    */
  def lookupRangeFiles(spark: SparkSession, table: String, keyCol: String,
                       index: String, lo: Any, hi: Any,
                       maxFiles: Int = 4096): Option[Seq[String]] = {
    val files = SnapshotTable.read(spark, index)
      .filter(col("k") >= lit(lo) && col("k") <= lit(hi))
      .select(col("file")).distinct()
      .limit(maxFiles + 1).collect().map(_.getString(0)).toSeq
    if (files.length > maxFiles) None else Some(files)
  }

  /** RANGE read: `table`'s rows with `keyCol` in `[lo, hi]`, planning
    * only the posting-named data files — the lookup shape equality
    * postings alone cannot serve (a BETWEEN over a hash-bucketed index
    * would otherwise fall back to a table scan). Same degrade-don't-lie
    * contract as [[read]]: a stale index or an over-cap file list falls
    * back to the plain filtered scan of the same pinned snapshot.
    */
  def readRange(spark: SparkSession, table: String, keyCol: String,
                index: String, lo: Any, hi: Any, maxFiles: Int = 4096,
                autoRefresh: Boolean = true): DataFrame = {
    if (autoRefresh) refresh(spark, table, keyCol, index)
    val v = SnapshotTable.currentVersion(spark, table)
    def between(df: DataFrame) =
      df.filter(col(keyCol) >= lit(lo) && col(keyCol) <= lit(hi))
    def fullScan = between(SnapshotTable.readVersion(spark, table, v))
    if (appliedVersion(spark, index) < v) fullScan
    else lookupRangeFiles(spark, table, keyCol, index, lo, hi, maxFiles) match {
      case None => fullScan
      case Some(files) =>
        val fileSet = files.toSet
        val (entries, _) = SnapshotTable.readManifestFull(spark, table, v)
        between(SnapshotTable.readEntriesAt(spark, table,
          entries.filter(e => fileSet.contains(e.path)), v))
    }
  }

  /** Point-lookup read: `table`'s rows with `keyCol` in `keys`,
    * planning ONLY the index's posting files (restricted read with the
    * version's delete masks, residual IN on top). With `autoRefresh`
    * the index is first advanced to the current version (cheap —
    * O(new files)); a still-stale index or an over-cap posting list
    * degrades to the plain filtered scan of the same snapshot — never a
    * wrong answer.
    */
  def read(spark: SparkSession, table: String, keyCol: String,
           index: String, keys: Seq[Any], maxFiles: Int = 4096,
           autoRefresh: Boolean = true): DataFrame = {
    if (autoRefresh) refresh(spark, table, keyCol, index)
    val v = SnapshotTable.currentVersion(spark, table)
    def fullScan = SnapshotTable.readVersion(spark, table, v)
      .filter(col(keyCol).isin(keys: _*))
    if (appliedVersion(spark, index) < v) fullScan
    else lookupFiles(spark, table, keyCol, index, keys, maxFiles) match {
      case None => fullScan
      case Some(files) =>
        val fileSet = files.toSet
        val (entries, _) = SnapshotTable.readManifestFull(spark, table, v)
        SnapshotTable.readEntriesAt(spark, table,
          entries.filter(e => fileSet.contains(e.path)), v)
          .filter(col(keyCol).isin(keys: _*))
    }
  }

  /** Key-delete with the candidate scan INDEX-SERVED: the rewrite set
    * comes from the postings (partition-pruned reads of the probed
    * keys' hash buckets — O(postings)) instead of
    * [[SnapshotTable.commitDeleteKeys]]' column-pruned scan of EVERY
    * table file. At 100 TB that is the GDPR-delete shape: a handful of
    * keys against a billion-row table rewrites the few files that hold
    * them after an index probe that opens none of the table's data.
    *
    * Exactness: at `applied == current` the postings name every file
    * that holds a key (masked-row false positives only widen the set),
    * so the candidate list is a proven superset and the version-guarded
    * fast path inside `commitDeleteKeys` may trust it. Same
    * degrade-don't-lie contract as [[read]]: a still-stale index or an
    * over-cap posting list falls back to the plain scan path of the
    * same table — never a wrong delete.
    */
  def deleteKeys(spark: SparkSession, table: String, keyCol: String,
                 index: String, keys: Seq[Any], partCol: String,
                 maxFiles: Int = 4096,
                 autoRefresh: Boolean = true): (Long, Long) = {
    if (autoRefresh) refresh(spark, table, keyCol, index)
    val v = SnapshotTable.currentVersion(spark, table)
    val dt = SnapshotTable.read(spark, table).schema(keyCol).dataType
    val keyDf = spark.createDataFrame(
      spark.sparkContext.parallelize(keys.map(Row(_)), 1),
      StructType(Seq(StructField(keyCol, dt))))
    val cands =
      if (appliedVersion(spark, index) < v) None
      else lookupFiles(spark, table, keyCol, index, keys, maxFiles)
        .map(files => (v, files.toSet))
    SnapshotTable.commitDeleteKeys(spark, table, keyDf, keyCol, partCol,
      candidates = cands)
  }

  /** INNER equi-join with the FACT side planned from the index — the
    * scale path past [[graft.operators.DynamicFilterJoin]]'s IN-seed:
    * there, the dim's distinct keys COLLECT to the driver (capped at
    * ~10k); here the probe is a distributed semi-join of the dim's
    * keys against the postings table, and only the resulting FILE list
    * — bounded by the fact's file count, never its rows — reaches the
    * driver. The probe scans two narrow index columns instead of the
    * wide fact, which is the entire point: a 100 TB fact joined to a
    * 1%-selective dim plans ~1% of its files after an index scan that
    * costs a fraction of one fact column.
    *
    * Same degrade-don't-lie contract as [[read]]: a stale index or an
    * over-cap file list falls back to the plain join on the same
    * pinned snapshot. INNER only — pruned fact rows must be ones the
    * join discards anyway.
    *
    * The DIM side's sizing rides [[graft.plans.StatsBroadcast]]: when
    * the dim is itself a filtered
    * snapshot relation, its broadcastability is decided from the same
    * manifest fold that prunes the fact — Spark's own Filter sizing
    * sees the dim at full-table bytes and would shuffle the pruned
    * fact anyway, wasting the index's work (`StatsBroadcastSpec`
    * pins the static BroadcastHashJoin, "index-pruned inner join").
    */
  def innerJoinPruned(spark: SparkSession, table: String, factKey: String,
                      index: String, dim: DataFrame, dimKey: String,
                      maxFiles: Int = 100000,
                      autoRefresh: Boolean = true): DataFrame = {
    if (autoRefresh) refresh(spark, table, factKey, index)
    val v = SnapshotTable.currentVersion(spark, table)
    def plain = {
      val fact = SnapshotTable.readVersion(spark, table, v)
      fact.join(dim, fact(factKey) === dim(dimKey))
    }
    if (appliedVersion(spark, index) < v) plain
    else {
      val files = SnapshotTable.read(spark, index)
        .join(dim.select(col(dimKey).as("k")).filter(col("k").isNotNull)
          .distinct(), Seq("k"), "left_semi")
        .select(col("file")).distinct()
        .limit(maxFiles + 1).collect().map(_.getString(0)).toSet
      if (files.size > maxFiles) plain
      else {
        val (entries, _) = SnapshotTable.readManifestFull(spark, table, v)
        val fact = SnapshotTable.readEntriesAt(spark, table,
          entries.filter(e => files.contains(e.path)), v)
        fact.join(dim, fact(factKey) === dim(dimKey))
      }
    }
  }

  /** ENFORCED-unique append — the teeth behind a declared unique key
    * ([[graft.plans.JoinElimination.declareUnique]] is RELY/trusted;
    * this is the commit path that keeps the declaration true): append
    * `df` rejecting (`onConflict="error"`) or dropping
    * (`onConflict="skip"`) rows whose key ALREADY EXISTS, with the
    * existence probe INDEX-SERVED — a distributed semi-join of the
    * batch's keys against the postings' two narrow columns names
    * candidate files, and only those files are then read (masked, so a
    * deleted key correctly re-inserts; a posting is at worst a false
    * positive the masked read clears). Cost at 100 TB: O(batch ·
    * postings-slice) per commit instead of the O(table scan) a
    * merge-based insert-if-absent pays — the Hudi record-index
    * dedup-on-ingest shape. Malformed batches (null keys, duplicate
    * keys WITHIN the batch) are refused in both modes: a batch that
    * cannot satisfy the constraint on its own is a pipeline bug, not a
    * conflict to resolve.
    *
    * Degrade-don't-lie: a still-stale index or an over-cap candidate
    * list falls back to a column-pruned scan probe of the same pinned
    * version — never a wrong append. Concurrency contract: the probe
    * and the commit are two steps, so uniqueness is enforced against
    * the probed version; run one `appendUnique` writer per table at a
    * time (the same single-leader cadence the streaming sinks already
    * use). Returns (version, n_inserted, n_conflicts); a fully-
    * conflicting batch commits nothing and leaves the version
    * unchanged.
    */
  def appendUnique(spark: SparkSession, table: String, df: DataFrame,
                   keyCol: String, partCol: String, index: String,
                   onConflict: String = "error", maxFiles: Int = 100000,
                   tag: Option[String] = None,
                   autoRefresh: Boolean = true): (Long, Long, Long) = {
    require(onConflict == "error" || onConflict == "skip",
      s"appendUnique: onConflict must be error|skip, got $onConflict")
    // the table is ENFORCED-unique on keyCol (this operator's contract),
    // so postings pairs are born distinct — skip the dedup shuffle
    if (autoRefresh) refresh(spark, table, keyCol, index,
      dedupPostings = false)
    val v = SnapshotTable.currentVersion(spark, table)
    val batch = df.persist()
    try {
      // one aggregate job validates the whole batch: nulls are rows the
      // key count misses, in-batch duplicates are rows the distinct
      // count misses. It shares no inputs with the index probe below,
      // so the two jobs OVERLAP (guide §2.6 — the probe's tail
      // back-fills cores the validate frees); the checks still gate the
      // commit because the await lands before any conflict decision.
      // Analysis+planning run HERE on the calling thread (which may hold
      // the SessionCatalog monitor — the SQL TVF path invokes this whole
      // procedure from inside function resolution) so the future never
      // needs a catalog lock; and if the caller DOES hold it, skip the
      // overlap entirely — a cross-thread job from under that lock
      // deadlocks against any analysis the future still performs.
      val chkDf = batch.agg(count(lit(1)), count(col(keyCol)),
        count_distinct(col(keyCol)))
      chkDf.queryExecution.executedPlan // plan on the calling thread
      def runChk() = graft.JobLabel(spark, "six:validate-batch") {
        chkDf.head()
      }
      val chkF =
        if (Thread.holdsLock(spark.sessionState.catalog)) None
        else Some(scala.concurrent.Future(runChk())(
          scala.concurrent.ExecutionContext.global))
      val batchKeys = batch.select(col(keyCol).as("k")).distinct()
      def scanExisting = SnapshotTable.readVersion(spark, table, v)
        .select(col(keyCol).as("k"))
        .join(batchKeys, Seq("k"), "left_semi").distinct()
      val existing =
        if (appliedVersion(spark, index) < v) scanExisting
        else {
          val files = graft.JobLabel(spark, "six:probe-postings") {
            SnapshotTable.read(spark, index)
              .join(batchKeys, Seq("k"), "left_semi")
              .select(col("file")).distinct()
              .limit(maxFiles + 1).collect()
          }.map(_.getString(0)).toSet
          if (files.size > maxFiles) scanExisting
          else if (files.isEmpty) batchKeys.limit(0)
          else {
            val (entries, _) = SnapshotTable.readManifestFull(spark, table, v)
            SnapshotTable.readEntriesAt(spark, table,
              entries.filter(e => files.contains(e.path)), v)
              .select(col(keyCol).as("k"))
              .join(batchKeys, Seq("k"), "left_semi").distinct()
          }
        }
      val chk = chkF match {
        case Some(f) => scala.concurrent.Await.result(f,
          scala.concurrent.duration.Duration(1, "hour"))
        case None => runChk()
      }
      val (nAll, nNonNull, nDistinct) =
        (chk.getLong(0), chk.getLong(1), chk.getLong(2))
      require(nNonNull == nAll,
        s"appendUnique: batch carries ${nAll - nNonNull} NULL $keyCol keys")
      require(nDistinct == nNonNull,
        s"appendUnique: batch carries duplicate $keyCol keys")
      val nConflicts = graft.JobLabel(spark, "six:count-conflicts") {
        existing.count()
      }
      require(onConflict == "skip" || nConflicts == 0,
        s"appendUnique: $nConflicts key(s) in the batch already exist in $table")
      val fresh =
        if (nConflicts == 0) batch
        else batch.join(existing, batch(keyCol) === existing("k"), "left_anti")
      // the batch is key-unique, so inserts are just the non-conflicts
      val nInserted = nAll - nConflicts
      if (nInserted == 0) (v, 0L, nConflicts)
      else {
        graft.JobLabel(spark, "six:append-fresh") {
          SnapshotTable.commitAppend(spark, table, fresh, partCol, tag = tag)
        }
        if (autoRefresh) refresh(spark, table, keyCol, index,
          dedupPostings = false)
        (SnapshotTable.currentVersion(spark, table), nInserted, nConflicts)
      }
    } finally batch.unpersist()
  }

  // ---- driver queries -------------------------------------------------
  //
  // Scenario (memoized per session·corpus): orders → a snapshot table
  // partitioned by priority at 1 MB file granularity (keys SCATTER
  // across files — min/max stats would not prune; the index is the only
  // skipping path), indexed on o_orderkey; then a 5-row append lands
  // and the index refreshes incrementally. Both queries are read-only
  // against the finished state.

  // base state (table@v1 + index applied=1, both read-only) and the
  // finished batch scenario (append landed, index refreshed) — the
  // streaming twin clones the BASE and lets the stream do the rest
  private def freshBatch(s: SparkSession, dir: String,
                         work: String): DataFrame = {
    val maxKey = Tables.orders(s, dir)
      .agg(max(col("o_orderkey"))).head().getLong(0)
    val tableSchema = SnapshotTable.read(s, work).schema
    s.range(1, 6).select(
      (col("id") + maxKey).as("o_orderkey"),
      lit(1L).as("o_custkey"),
      lit(123.45).as("o_totalprice"),
      lit("1-URGENT").as("o_orderpriority"))
      .select(tableSchema.map(f =>
        col(f.name).cast(f.dataType)).toIndexedSeq: _*)
  }

  private def baseScenario(s: SparkSession, dir: String): (String, String) =
    Staged(s, dir, "secIdx.base") {
      val work = Staged.scratch(s, "graft_secidx") + "/t"
      val idx = work + "_idx"
      SnapshotTable.withFileGranularity(s, 1L << 20) {
        SnapshotTable.create(s, work, Tables.orders(s, dir)
          .select(col("o_orderkey"), col("o_custkey"),
            col("o_totalprice"), col("o_orderpriority")),
          "o_orderpriority")
      }
      create(s, work, "o_orderkey", idx, buckets = 16)
      (work, idx)
    }

  private def scenario(s: SparkSession, dir: String): (String, String) =
    Staged(s, dir, "secIdx") {
      val (workBase, idxBase) = baseScenario(s, dir)
      val work = SnapshotTable.cloneTable(s, workBase)
      val idx = SnapshotTable.cloneTable(s, idxBase)
      SnapshotTable.commitAppend(s, work, freshBatch(s, dir, work),
        "o_orderpriority")
      refresh(s, work, "o_orderkey", idx)
      (work, idx)
    }

  private def shape(df: DataFrame): DataFrame =
    df.select(col("o_orderkey"), col("o_custkey"),
      col("o_totalprice").cast("decimal(18,2)").cast("double")
        .as("total_price"),
      col("o_orderpriority"))
      .orderBy(col("o_orderkey"))

  /** Index-pruned point lookup of base keys (scattered across the
    * priority-partitioned layout) — must equal the oracle's WHERE IN.
    */
  def lookupQuery(s: SparkSession, dir: String): DataFrame = {
    val (work, idx) = scenario(s, dir)
    shape(read(s, work, "o_orderkey", idx,
      Seq(7L, 13L, 101L, 388L, 555L, 999L, 999999999L),
      autoRefresh = false))
  }

  /** Lookup mixing pre-existing keys with keys from the post-create
    * append — correct only if [[refresh]] indexed exactly the fresh
    * files (carried files never re-read, new keys never missed).
    */
  def freshQuery(s: SparkSession, dir: String): DataFrame = {
    val (work, idx) = scenario(s, dir)
    val maxKey = Tables.orders(s, dir)
      .agg(max(col("o_orderkey"))).head().getLong(0)
    shape(read(s, work, "o_orderkey", idx,
      Seq(101L, 999L, maxKey + 2L, maxKey + 4L), autoRefresh = false))
  }

  /** RANGE lookup through the postings' clustered layout: keys
    * 100..220 scattered across the priority partitions, planned from
    * the posting files whose key stats intersect the range — must
    * equal the oracle's plain BETWEEN. (The appended synthetic keys
    * sit far above the range and must not leak in.)
    */
  def rangeQuery(s: SparkSession, dir: String): DataFrame = {
    val (work, idx) = scenario(s, dir)
    shape(readRange(s, work, "o_orderkey", idx, 100L, 220L,
      autoRefresh = false))
  }

  /** STREAMING twin of [[freshQuery]]: the append lands on a clone of
    * the BASE state and [[graft.streaming.SnapshotSink.runSecIdx]]
    * drives the index refresh by tailing the table's commit log — the
    * same mixed old+fresh lookup must then be index-served. Shares the
    * batch twin's oracle: stream-maintained ≡ batch-refreshed.
    */
  def streamQuery(s: SparkSession, dir: String): DataFrame = {
    val (workBase, idxBase) = baseScenario(s, dir)
    val work = SnapshotTable.cloneTable(s, workBase)
    val idx = SnapshotTable.cloneTable(s, idxBase)
    SnapshotTable.commitAppend(s, work, freshBatch(s, dir, work),
      "o_orderpriority")
    graft.streaming.SnapshotSink.runSecIdx(s, work, "o_orderkey", idx)
    val maxKey = Tables.orders(s, dir)
      .agg(max(col("o_orderkey"))).head().getLong(0)
    shape(read(s, work, "o_orderkey", idx,
      Seq(101L, 999L, maxKey + 2L, maxKey + 4L), autoRefresh = false))
  }

  /** Index-served key DELETE on a per-run CLONE of the scenario table
    * (hardlink clones keep data-file names, so the SHARED index's
    * postings stay valid for the clone), then the survivors' rollup —
    * correct only if the posting-derived candidate set named every file
    * holding a deleted key, scattered base keys and an appended fresh
    * key alike, and the absent probe key changed nothing.
    */
  def deleteQuery(s: SparkSession, dir: String): DataFrame = {
    val (work, idx) = scenario(s, dir)
    val workClone = SnapshotTable.cloneTable(s, work)
    val maxKey = Tables.orders(s, dir)
      .agg(max(col("o_orderkey"))).head().getLong(0)
    deleteKeys(s, workClone, "o_orderkey", idx,
      Seq(7L, 101L, 999L, maxKey + 2L, 999999999L), "o_orderpriority",
      autoRefresh = false)
    SnapshotTable.read(s, workClone)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("total_price"),
        max(col("o_orderkey")).as("max_key"))
      .orderBy(col("o_orderpriority"))
  }

  /** The DEGRADE path of [[deleteKeys]], oracle-visible: a RACING
    * append advances the clone past the shared index's applied version
    * before the delete runs, so the stale index MUST be refused and
    * the candidate set come from the plain scan of the current
    * snapshot. One deleted key lives ONLY in the racing batch — a
    * delete that wrongly trusted the stale postings would miss it and
    * the survivor rollup's hash would break. Same "never a wrong
    * delete" contract [[deleteKeys]] documents, pinned by the oracle
    * instead of a spec.
    */
  def deleteStaleQuery(s: SparkSession, dir: String): DataFrame = {
    val (work, idx) = scenario(s, dir)
    val workClone = SnapshotTable.cloneTable(s, work)
    val maxKey = Tables.orders(s, dir)
      .agg(max(col("o_orderkey"))).head().getLong(0)
    // the racing commit: keys maxKey+6..8, invisible to the index
    val tableSchema = SnapshotTable.read(s, workClone).schema
    SnapshotTable.commitAppend(s, workClone,
      s.range(6, 9).select(
        (col("id") + maxKey).as("o_orderkey"),
        lit(1L).as("o_custkey"),
        lit(123.45).as("o_totalprice"),
        lit("1-URGENT").as("o_orderpriority"))
        .select(tableSchema.map(f =>
          col(f.name).cast(f.dataType)).toIndexedSeq: _*),
      "o_orderpriority")
    require(appliedVersion(s, idx) <
      SnapshotTable.currentVersion(s, workClone),
      "scenario must force the stale-index degrade path")
    deleteKeys(s, workClone, "o_orderkey", idx,
      Seq(7L, 101L, maxKey + 2L, maxKey + 7L, 999999999L),
      "o_orderpriority", autoRefresh = false)
    SnapshotTable.read(s, workClone)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("total_price"),
        max(col("o_orderkey")).as("max_key"))
      .orderBy(col("o_orderpriority"))
  }

  /** Index-pruned fact⋈dim rollup where the dim (orders referenced by
    * a max-quantity lineitem) is far past the IN-seed's collect cap at
    * bench scale — the fact files come from the distributed postings
    * probe. The appended synthetic keys sit in the fact but match no
    * dim key, so the rollup must equal the oracle's plain-orders join.
    */
  def joinQuery(s: SparkSession, dir: String): DataFrame = {
    val (work, idx) = scenario(s, dir)
    val dim = Tables.lineitem(s, dir).filter(col("l_quantity") === 50.0)
      .select(col("l_orderkey")).distinct()
    val joined = innerJoinPruned(s, work, "o_orderkey", idx,
      dim, "l_orderkey", autoRefresh = false)
    joined.groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("total_price"),
        max(col("o_orderkey")).as("max_key"))
      .orderBy(col("o_orderpriority"))
  }

  // enforced-unique append scenario: a batch mixing CONFLICTS (existing
  // keys carrying changed prices — must be dropped whole, not updated)
  // with genuinely fresh shifted keys, applied in skip mode against a
  // clone of the base state. The rollup proves exactly the fresh rows
  // landed: a wrongly-inserted conflict doubles a count, a wrongly-
  // updated price shifts a sum, a wrongly-dropped fresh row loses one.
  private def uniqueScenario(s: SparkSession, dir: String): (String, String) =
    Staged(s, dir, "secIdx.unique") {
      val (workBase, idxBase) = baseScenario(s, dir)
      val work = SnapshotTable.cloneTable(s, workBase)
      val idx = SnapshotTable.cloneTable(s, idxBase)
      val orders = Tables.orders(s, dir)
      val maxKey = orders.agg(max(col("o_orderkey"))).head().getLong(0)
      val conflicts = orders.filter(col("o_orderkey") % 97 === 0)
        .select(col("o_orderkey"), col("o_custkey"),
          (col("o_totalprice") + 5000.0).as("o_totalprice"),
          col("o_orderpriority"))
      // shift past maxKey + 1: keys are 0-based, so a plain +max
      // would fold key 0 onto the existing maxKey row
      val freshRows = orders.filter(col("o_orderkey") % 89 === 0)
        .select((col("o_orderkey") + maxKey + 1L).as("o_orderkey"),
          col("o_custkey"),
          (col("o_totalprice") + 1000.0).as("o_totalprice"),
          col("o_orderpriority"))
      appendUnique(s, work, conflicts.unionByName(freshRows),
        "o_orderkey", "o_orderpriority", idx, onConflict = "skip")
      (work, idx)
    }

  /** Post-append rollup of the enforced-unique table: base rows plus
    * ONLY the batch's fresh keys (conflicting rows dropped whole).
    */
  def uniqueAppendQuery(s: SparkSession, dir: String): DataFrame = {
    val (work, _) = uniqueScenario(s, dir)
    SnapshotTable.read(s, work)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("total_price"),
        max(col("o_orderkey")).as("max_key"))
      .orderBy(col("o_orderpriority"))
  }

  override def queries: Map[String, QueryPack.Q] = Map(
    "q_secidx_lookup" -> ((s, dir) => lookupQuery(s, dir)),
    "q_secidx_fresh" -> ((s, dir) => freshQuery(s, dir)),
    "q_secidx_range" -> ((s, dir) => rangeQuery(s, dir)),
    "q_secidx_join" -> ((s, dir) => joinQuery(s, dir)),
    "q_secidx_delete" -> ((s, dir) => deleteQuery(s, dir)),
    "q_secidx_delete_stale" -> ((s, dir) => deleteStaleQuery(s, dir)),
    "q_unique_append" -> ((s, dir) => uniqueAppendQuery(s, dir)),
    "q_stream_secidx" -> ((s, dir) => streamQuery(s, dir)))

  override def oracleSql: Map[String, String] = Map(
    "q_unique_append" ->
      """WITH fresh AS (
        |  SELECT o_orderkey + (SELECT max(o_orderkey) FROM orders) + 1
        |      AS o_orderkey,
        |    o_custkey, o_totalprice + 1000.0 AS o_totalprice,
        |    o_orderpriority
        |  FROM orders WHERE o_orderkey % 89 = 0
        |), unioned AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
        |  FROM orders
        |  UNION ALL SELECT * FROM fresh
        |)
        |SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_price,
        |  CAST(max(o_orderkey) AS BIGINT) AS max_key
        |FROM unioned
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_secidx_range" ->
      """SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
        |  CAST(o_custkey AS BIGINT) AS o_custkey,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS total_price,
        |  o_orderpriority
        |FROM orders
        |WHERE o_orderkey BETWEEN 100 AND 220
        |ORDER BY o_orderkey""".stripMargin,
    "q_secidx_lookup" ->
      """SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
        |  CAST(o_custkey AS BIGINT) AS o_custkey,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS total_price,
        |  o_orderpriority
        |FROM orders
        |WHERE o_orderkey IN (7, 13, 101, 388, 555, 999, 999999999)
        |ORDER BY o_orderkey""".stripMargin,
    "q_secidx_delete" ->
      """WITH fresh AS (
        |  SELECT (SELECT max(o_orderkey) FROM orders) + i AS o_orderkey,
        |    CAST(1 AS BIGINT) AS o_custkey, 123.45 AS o_totalprice,
        |    '1-URGENT' AS o_orderpriority
        |  FROM (SELECT unnest(generate_series(1, 5)) AS i)
        |), unioned AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
        |  FROM orders
        |  UNION ALL SELECT * FROM fresh
        |)
        |SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_price,
        |  CAST(max(o_orderkey) AS BIGINT) AS max_key
        |FROM unioned
        |WHERE o_orderkey NOT IN (7, 101, 999,
        |  (SELECT max(o_orderkey) FROM orders) + 2, 999999999)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_secidx_delete_stale" ->
      """WITH fresh AS (
        |  SELECT (SELECT max(o_orderkey) FROM orders) + i AS o_orderkey,
        |    CAST(1 AS BIGINT) AS o_custkey, 123.45 AS o_totalprice,
        |    '1-URGENT' AS o_orderpriority
        |  FROM (SELECT unnest(generate_series(1, 8)) AS i)
        |), unioned AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
        |  FROM orders
        |  UNION ALL SELECT * FROM fresh
        |)
        |SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_price,
        |  CAST(max(o_orderkey) AS BIGINT) AS max_key
        |FROM unioned
        |WHERE o_orderkey NOT IN (7, 101,
        |  (SELECT max(o_orderkey) FROM orders) + 2,
        |  (SELECT max(o_orderkey) FROM orders) + 7, 999999999)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_secidx_fresh" ->
      """WITH fresh AS (
        |  SELECT (SELECT max(o_orderkey) FROM orders) + i AS o_orderkey,
        |    CAST(1 AS BIGINT) AS o_custkey, 123.45 AS o_totalprice,
        |    '1-URGENT' AS o_orderpriority
        |  FROM (SELECT unnest(generate_series(1, 5)) AS i)
        |), unioned AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
        |  FROM orders
        |  UNION ALL SELECT * FROM fresh
        |)
        |SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
        |  CAST(o_custkey AS BIGINT) AS o_custkey,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS total_price,
        |  o_orderpriority
        |FROM unioned
        |WHERE o_orderkey IN (101, 999)
        |   OR o_orderkey - (SELECT max(o_orderkey) FROM orders) IN (2, 4)
        |ORDER BY o_orderkey""".stripMargin,
    "q_stream_secidx" ->
      """WITH fresh AS (
        |  SELECT (SELECT max(o_orderkey) FROM orders) + i AS o_orderkey,
        |    CAST(1 AS BIGINT) AS o_custkey, 123.45 AS o_totalprice,
        |    '1-URGENT' AS o_orderpriority
        |  FROM (SELECT unnest(generate_series(1, 5)) AS i)
        |), unioned AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
        |  FROM orders
        |  UNION ALL SELECT * FROM fresh
        |)
        |SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
        |  CAST(o_custkey AS BIGINT) AS o_custkey,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS total_price,
        |  o_orderpriority
        |FROM unioned
        |WHERE o_orderkey IN (101, 999)
        |   OR o_orderkey - (SELECT max(o_orderkey) FROM orders) IN (2, 4)
        |ORDER BY o_orderkey""".stripMargin,
    "q_secidx_join" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
        |  CAST(max(o_orderkey) AS BIGINT) AS max_key
        |FROM orders
        |JOIN (SELECT DISTINCT l_orderkey FROM lineitem
        |      WHERE l_quantity = 50) d
        |  ON o_orderkey = l_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
}
