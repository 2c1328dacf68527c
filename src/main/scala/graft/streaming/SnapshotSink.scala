package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.{QueryPack, Staged, Tables}
import graft.sources.{SnapshotCatalog, SnapshotTable}

/** `[EXT]` streaming sink committing each micro-batch as one atomic
  * snapshot-table version — the exactly-once parquet sink done with
  * table commits instead of batch-scoped directory overwrites (compare
  * [[EventStreams.etlToParquet]], whose sink needs a `batch_id=` dir
  * per batch and leaves readers to union an ever-growing directory
  * tree; here readers see ONE table that is never mid-batch).
  *
  * Exactly-once under retry comes from
  * [[SnapshotTable.commitAppend]]'s idempotence tag (`b<batchId>`): a
  * re-delivered batch finds its tag in the current manifest and no-ops;
  * a crashed attempt's files are referenced by no manifest, so they are
  * invisible to readers and reclaimed by vacuum. Downstream consumers
  * get snapshot isolation for free — a reader planned at version N is
  * unaffected by batches landing while it runs — and
  * [[SnapshotTable.compact]] folds the per-batch small files without
  * changing the data (the maintenance pass a micro-batch cadence
  * makes mandatory).
  */
object SnapshotSink extends QueryPack {

  /** Stream the events corpus (AvailableNow over the staged source)
    * into a snapshot table, one commit per micro-batch, partitioned by
    * event_type. Returns the table path.
    *
    * `maintainEvery = Some(k)` runs [[SnapshotTable.maintain]]'s
    * threshold policies in-sink after every k-th batch — the janitor
    * cadence a micro-batch sink makes mandatory (per-batch small files
    * accumulate at stream timescales), co-scheduled with the writer so
    * maintenance never races a foreign process. Replay-safe by
    * construction: compaction preserves rows and the tag ledger, so a
    * batch replayed after a fold is still a no-op.
    */
  def run(spark: SparkSession, dir: String, table: String,
          checkpoint: Option[String] = None,
          maintainEvery: Option[Int] = None,
          smallThreshold: Long = 1000000L,
          maxSmallFiles: Int = 64,
          refreshStats: Boolean = false): String =
      StreamHousekeeping.withStatePartitions(spark, 8) {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val source = spark.readStream
      .schema(Tables.load(spark, dir, "events").schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(DocDedupStream.stagedDir(dir, "events.parquet"))
      .transform(Tables.tsToTimestamp)

    if (SnapshotTable.versions(spark, table).isEmpty)
      SnapshotTable.createEmpty(spark, table) // every batch rides the tagged path
    val q = source.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // retry on version conflicts: a maintenance commit (compact,
        // vacuum-era delete) racing the sink must not fail the stream —
        // the rebase re-reads the ledger, so a replayed tag still no-ops
        SnapshotTable.commitWithRetry() {
          SnapshotTable.commitAppend(batch.sparkSession, table, batch,
            "event_type", tag = Some(s"b$batchId"))
        }
        maintainEvery.foreach { k =>
          if (k > 0 && batchId % k == k - 1)
            SnapshotTable.commitWithRetry() {
              SnapshotTable.maintain(batch.sparkSession, table,
                "event_type", smallThreshold = smallThreshold,
                maxSmallFiles = maxSmallFiles, refreshStats = refreshStats)
            }
        }
        ()
      }
      .option("checkpointLocation",
        checkpoint.getOrElse(StreamHousekeeping.freshCheckpointDir(spark)))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    table
  }

  /** STREAMING JOIN-VIEW maintenance: tail the FACT table's commit log
    * (the `graft-snapshot` source) and advance a fact⋈dim aggregate
    * view per micro-batch via [[graft.sources.IncrementalView
    * .refreshJoin]]. The stream is the SCHEDULER, the change feed is
    * the source of truth: each batch callback refreshes the view from
    * the versions the feed recorded (not from the batch frame), so
    * exactly-once needs no sink-side ledger of its own — the view's
    * (vF, vD) pair tag already makes a replayed or restarted refresh a
    * no-op, and a refresh racing a view-maintenance commit rebases
    * through [[SnapshotTable.commitWithRetry]]. This is the lakehouse
    * trifecta composed end to end: commit log → delta-join IVM →
    * snapshot view, every hop atomic and idempotent.
    */
  def runJoinView(spark: SparkSession, factTable: String, dimTable: String,
                  view: String, factKey: String, dimKey: String,
                  groupKey: String, valueCol: String,
                  checkpoint: Option[String] = None): Unit =
      StreamHousekeeping.withStatePartitions(spark, 8) {
    // start from version 0 so commits that landed BEFORE the stream's
    // first run still fire a refresh (the refresh itself is version-
    // aware, so re-seen windows are no-ops — tail-only would silently
    // strand a view created behind the fact's head)
    val source = spark.readStream.format("graft-snapshot")
      .option("startingVersion", "0").load(factTable)
    val q = source.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        SnapshotTable.commitWithRetry() {
          graft.sources.IncrementalView.refreshJoin(batch.sparkSession,
            view, factTable, dimTable, factKey, dimKey, groupKey, valueCol)
        }
        ()
      }
      .option("checkpointLocation",
        checkpoint.getOrElse(StreamHousekeeping.freshCheckpointDir(spark)))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** STREAMING SCD2 maintenance: tail the change-LOG table's commit log
    * and, per micro-batch, advance the type-2 dimension to the log head
    * via [[graft.operators.Scd2.refreshFromLog]] — the same
    * stream-as-scheduler shape as [[runJoinView]]: the refresh consumes
    * exactly its unseen log window (applied tag → head) and its
    * `scd2@<version>` tag makes replays and restarts ledger no-ops, so
    * late-arriving change batches keep landing exactly once while the
    * dim stays queryable (snapshot-isolated readers) throughout.
    */
  def runScd2(spark: SparkSession, log: String, dim: String,
              keyCol: String, tsCol: String, attrCols: Seq[String],
              tieCol: String, buckets: Int = 64,
              checkpoint: Option[String] = None): Unit =
    // micro-batch shuffles sized to the BATCH, not the session default:
    // a per-commit change window is orders of magnitude smaller than a
    // table scan, and streaming pins the partitioning per checkpoint —
    // the same deployment knob withStatePartitions documents
    StreamHousekeeping.withStatePartitions(spark, 8) {
      val source = spark.readStream.format("graft-snapshot")
        .option("startingVersion", "0")
        // one micro-batch per log commit: the refresh cadence matches the
        // change cadence (replayed pre-applied windows are ledger no-ops)
        .option("maxVersionsPerTrigger", "1").load(log)
      val q = source.writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          SnapshotTable.commitWithRetry() {
            graft.operators.Scd2.refreshFromLog(batch.sparkSession, dim, log,
              keyCol, tsCol, attrCols, tieCol, buckets)
          }
          ()
        }
        .option("checkpointLocation",
          checkpoint.getOrElse(StreamHousekeeping.freshCheckpointDir(spark)))
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }

  /** STREAMING SECONDARY-INDEX maintenance: tail the indexed table's
    * commit log and advance the key→file postings per micro-batch via
    * [[graft.sources.SecondaryIndex.refresh]] — an O(window fresh
    * files) postings append whose `six@<version>` tag absorbs replays,
    * so point lookups stay index-served as the table streams (a stale
    * index degrades to the pinned-snapshot scan, never a wrong answer,
    * but at micro-batch cadence this keeps the fast path hot).
    */
  def runSecIdx(spark: SparkSession, table: String, keyCol: String,
                index: String, checkpoint: Option[String] = None): Unit =
      StreamHousekeeping.withStatePartitions(spark, 8) {
    val source = spark.readStream.format("graft-snapshot")
      .option("startingVersion", "0")
      .option("maxVersionsPerTrigger", "1").load(table)
    val q = source.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // refresh wraps its own commitAppend in commitWithRetry
        graft.sources.SecondaryIndex.refresh(batch.sparkSession, table,
          keyCol, index)
        ()
      }
      .option("checkpointLocation",
        checkpoint.getOrElse(StreamHousekeeping.freshCheckpointDir(spark)))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** CONTINUOUS PIPELINE: tail `sourceTable`'s commit log as a stream
    * and refresh the whole DAG once per micro-batch — the
    * Delta-Live-Tables shape on top of [[graft.sources.Pipeline]]. The
    * stream is only the SCHEDULER: each node's refresh re-reads its
    * applied frontier and consumes exactly the version window it has
    * not seen, and every node commit is tag-idempotent, so replayed
    * batches (and commits to inputs OTHER than the tailed source,
    * picked up on the next tick) are handled by construction —
    * exactly-once by ledger, not by checkpoint. Starts from version 0
    * so commits predating the stream still fire.
    */
  def runPipeline(spark: SparkSession, pipe: graft.sources.Pipeline,
                  sourceTable: String,
                  checkpoint: Option[String] = None): Unit =
      StreamHousekeeping.withStatePartitions(spark, 8) {
    val source = spark.readStream.format("graft-snapshot")
      .option("startingVersion", "0").load(sourceTable)
    val q = source.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        pipe.refresh(batch.sparkSession)
        ()
      }
      .option("checkpointLocation",
        checkpoint.getOrElse(StreamHousekeeping.freshCheckpointDir(spark)))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Driver query: stream-commit the corpus, then report per-type
    * counts and value sums FROM THE TABLE — identical to the same
    * rollup computed directly on `events` (the oracle), which only
    * holds if every row landed exactly once.
    */
  def streamEtlQuery(s: SparkSession, dir: String): DataFrame = {
    val table = Staged.scratch(s, "graft_snapsink") + "/t"
    run(s, dir, table)
    SnapshotTable.read(s, table)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
      .orderBy(col("event_type"))
  }

  /** STREAMING CDC-APPLY: each micro-batch MERGEs into the table by
    * `user_id`, keeping the row with the highest `event_id` per key —
    * monotone-sequence ("last writer by sequence, not by arrival")
    * conflict resolution via [[SnapshotTable.commitMergeInto]]'s
    * conditional update. The final state is the corpus-wide argmax per
    * key REGARDLESS of how the source split into micro-batches: a
    * replayed batch is first a tag no-op and, even re-applied, its rows
    * lose the `src(event_id) > event_id` update condition against
    * anything newer — exactly-once by ledger, idempotent by VALUE. The
    * first batch bootstraps the table via a tagged create (same replay
    * contract). A key's latest event may change event_type (= the
    * partition column): whole-row replace + mover detection relocate
    * the row atomically.
    */
  def runUpsert(spark: SparkSession, dir: String, table: String,
                checkpoint: Option[String] = None): String =
      StreamHousekeeping.withStatePartitions(spark, 8) {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val source = spark.readStream
      .schema(Tables.load(spark, dir, "events").schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(DocDedupStream.stagedDir(dir, "events.parquet"))
      .transform(Tables.tsToTimestamp)

    val q = source.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        import org.apache.spark.sql.expressions.Window
        // within-batch last-wins by sequence: commitMergeInto refuses
        // duplicate source keys (clause results would be order-dependent)
        val dedup = batch.withColumn("__rn",
            row_number().over(Window.partitionBy(col("user_id"))
              .orderBy(col("event_id").desc)))
          .filter(col("__rn") === 1).drop("__rn")
        SnapshotTable.commitWithRetry() {
          if (SnapshotTable.versions(batch.sparkSession, table).isEmpty)
            SnapshotTable.create(batch.sparkSession, table, dedup,
              "event_type", tags = Set(s"b$batchId"))
          else
            SnapshotTable.commitMergeInto(batch.sparkSession, table, dedup,
              "user_id", "event_type",
              updateWhen = Some(SnapshotTable.src("event_id") > col("event_id")),
              insertWhen = Some(lit(true)), tag = Some(s"b$batchId"))
        }
        ()
      }
      .option("checkpointLocation",
        checkpoint.getOrElse(StreamHousekeeping.freshCheckpointDir(spark)))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    table
  }

  /** Driver query: CDC-apply the events corpus, then read the table —
    * one row per user, the corpus-wide max-event_id event. The oracle
    * computes the same argmax directly; the hash matches only if every
    * batch's merge kept exactly the newest row per key across batch
    * boundaries, partition moves, and the bootstrap create.
    */
  def streamUpsertQuery(s: SparkSession, dir: String): DataFrame = {
    val table = Staged.scratch(s, "graft_snapup") + "/t"
    runUpsert(s, dir, table)
    SnapshotTable.read(s, table)
      .select(col("user_id").cast("long").as("user_id"),
        col("event_id").cast("long").as("event_id"),
        col("event_type"),
        col("value").cast("double").as("value"))
      .orderBy(col("user_id"))
  }

  /** STREAMING MULTI-TABLE TRANSACTIONS: each micro-batch (a) appends
    * its slice to the FACT table, (b) advances the per-type AGGREGATE
    * table by the batch's DELTA (exact decimal arithmetic at a pinned
    * column type, O(batch + touched groups) — never a recompute), and
    * (c) publishes ONE [[graft.sources.SnapshotCatalog]] version
    * re-pinning both — a catalog reader sees fact and aggregate move
    * TOGETHER or not at all, at micro-batch cadence, even though the
    * underlying versions land one rename at a time.
    *
    * Exactly-once end to end: both table commits carry the batch tag
    * (`ctx<id>`), so a replay no-ops each; a crash BETWEEN the two
    * commits replays into fact-no-op + agg-delta-applied-once (the tag
    * rides the agg commit atomically, so the delta can never land
    * twice); and the catalog publish is SKIPPED when the pins already
    * match, so a full replay leaves the catalog history untouched.
    * Single-writer contract: the stream owns both tables' data commits
    * (row-preserving maintenance like compact may race — the rebase
    * keeps pins current and rollups unchanged).
    */
  def runCatalogTxn(spark: SparkSession, sourceDir: String,
                    schema: org.apache.spark.sql.types.StructType,
                    root: String, factName: String = "fact",
                    aggName: String = "agg", typeCol: String = "event_type",
                    valueCol: String = "value",
                    checkpoint: Option[String] = None): Unit =
    catalogTxn(spark, sourceDir, schema, root, factName, aggName, typeCol,
      valueCol, checkpoint, DeltaCollectBound)

  /** Most per-type delta rows one [[runCatalogTxn]] tick collects to the
    * driver. A batch with more distinct types keeps its delta a frame:
    * the merge source is the batch aggregate itself, joined against the
    * whole aggregate table instead of a pruned read of the touched types.
    */
  private[streaming] val DeltaCollectBound = 4096

  private[streaming] def catalogTxn(spark: SparkSession, sourceDir: String,
                                    schema: org.apache.spark.sql.types.StructType,
                                    root: String, factName: String,
                                    aggName: String, typeCol: String,
                                    valueCol: String, checkpoint: Option[String],
                                    collectBound: Int): Unit =
      StreamHousekeeping.withStatePartitions(spark, 8) {
    val pins0 = SnapshotCatalog.entries(spark, root)
    val factPath = pins0(factName)._1
    val aggPath = pins0(aggName)._1
    val source = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(sourceDir)
    val q = source.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        val tag = s"ctx$batchId"
        SnapshotTable.commitWithRetry() {
          SnapshotTable.commitAppend(s, factPath, batch, typeCol,
            tag = Some(tag))
          // ONE batch aggregation per tick: the delta is bounded by the
          // type domain, so COLLECT it (the partition-probe idiom every
          // merge path already uses) and serve both the touched-type
          // list and the merge source from the collected rows — the
          // merge's own materialization then joins a LOCAL relation
          // against the few touched agg rows instead of re-aggregating
          // the batch a second time (guide §2.4: don't compute things
          // twice; measured: one full batch scan per tick removed).
          // At most collectBound + 1 rows reach the driver; past the
          // bound the delta stays a frame (one more batch aggregation
          // in the merge, against the whole agg table).
          // Pinned column types (long, decimal(28,6)) keep the agg
          // schema FIXED across batches — decimal addition is exact
          // and associative, so the running totals are independent
          // of how the source split into micro-batches.
          val deltaQ = batch.groupBy(col(typeCol))
            .agg(count(lit(1)).cast("long").as("n"),
              sum(col(valueCol).cast("decimal(18,6)"))
                .cast("decimal(28,6)").as("sum_value"))
          val deltaRows = graft.JobLabel(s, "ctx:batch-delta") {
            deltaQ.limit(collectBound + 1).collect()
          }
          if (deltaRows.nonEmpty) {
            val collected = deltaRows.length <= collectBound
            val delta =
              if (collected) s.createDataFrame(
                s.sparkContext.parallelize(deltaRows.toIndexedSeq, 1),
                deltaQ.schema)
              else deltaQ
            val merged =
              if (SnapshotTable.tableStats(s, aggPath)._1 == 0L) delta
              else {
                val existing =
                  (if (collected) SnapshotTable.readWhere(s, aggPath, typeCol,
                    deltaRows.map(_.get(0).toString).toSeq)
                  else SnapshotTable.read(s, aggPath))
                  .select(col(typeCol), col("n").as("__n0"),
                    col("sum_value").as("__s0"))
                delta.join(existing, Seq(typeCol), "left_outer")
                  .select(col(typeCol),
                    (col("n") + coalesce(col("__n0"), lit(0L)))
                      .cast("long").as("n"),
                    (col("sum_value") + coalesce(col("__s0"),
                      lit(java.math.BigDecimal.ZERO)
                        .cast("decimal(28,6)")))
                      .cast("decimal(28,6)").as("sum_value"))
              }
            SnapshotTable.commitMerge(s, aggPath, merged, typeCol, typeCol,
              tag = Some(tag))
          }
          val vF = SnapshotTable.currentVersion(s, factPath)
          val vA = SnapshotTable.currentVersion(s, aggPath)
          val pins = SnapshotCatalog.entries(s, root)
          if (pins(factName)._2 != vF || pins(aggName)._2 != vA)
            SnapshotCatalog.commit(s, root)(_ =>
              Map(factName -> vF, aggName -> vA))
        }
        ()
      }
      .option("checkpointLocation",
        checkpoint.getOrElse(StreamHousekeeping.freshCheckpointDir(spark)))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Driver query: stream the events corpus through the multi-table
    * transaction sink, then read the AGGREGATE through the catalog —
    * the hash matches the corpus rollup only if every batch's fact
    * append, agg delta, and catalog re-pin each applied exactly once.
    */
  def streamCatalogTxnQuery(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val root = Staged.scratch(s, "graft_ctxroot")
    val fact = root + "/fact"
    val agg = root + "/agg"
    SnapshotTable.createEmpty(s, fact)
    SnapshotTable.createEmpty(s, agg)
    SnapshotCatalog.create(s, root)
    SnapshotCatalog.register(s, root, "fact", fact)
    SnapshotCatalog.register(s, root, "agg", agg)
    runCatalogTxn(s, DocDedupStream.stagedDir(dir, "events.parquet"),
      Tables.load(s, dir, "events").schema, root)
    SnapshotCatalog.read(s, root, "agg")
      .select(col("event_type"), col("n"),
        col("sum_value").cast("double").as("sum_value"))
      .orderBy(col("event_type"))
  }

  /** DEDUP-ON-INGEST: stream an at-least-once source (re-delivered
    * rows) into a snapshot table through
    * [[graft.sources.SecondaryIndex.appendUnique]] — idempotence comes
    * from the KEY CONSTRAINT, not the tag ledger: a replayed or
    * re-delivered row conflicts on its key and is skipped, so even a
    * FRESH-CHECKPOINT restart (which re-offers every batch and defeats
    * checkpoint- and tag-based exactly-once for sinks that only
    * append) moves nothing. Within a batch, re-deliveries are exact
    * row copies and collapse under `dropDuplicates(key)`; across
    * batches the index probe drops them at O(batch × postings-slice).
    * The first batch bootstraps table + index; replaying it lands on
    * the conflict path like any other.
    */
  def runUniqueAppend(spark: SparkSession, sourceDir: String,
                      schema: org.apache.spark.sql.types.StructType,
                      table: String, index: String,
                      checkpoint: Option[String] = None): Unit =
      StreamHousekeeping.withStatePartitions(spark, 8) {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val source = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(sourceDir)
      .transform(Tables.tsToTimestamp)
    val q = source.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val s = batch.sparkSession
        val b = batch.dropDuplicates("event_id")
        if (SnapshotTable.versions(s, table).isEmpty) {
          val v = graft.JobLabel(s, "uniq:create-table") {
            SnapshotTable.create(s, table, b, "event_type")
          }
          // the batch was key-deduped above and the table will be
          // enforced-unique from here on — postings are born distinct.
          // Bucket count SIZED TO THE VOLUME (manifest row total — pure
          // metadata), not the 64-bucket point-lookup default: this
          // sink's only index consumer is appendUnique's BULK probe,
          // which semi-joins every batch's keys against the postings —
          // it always touches every bucket, so many buckets buy no
          // pruning here and cost a per-FILE open/footer fee on every
          // tick (guide §6 small files; measured: the 64-file probe
          // scan was the query's hottest stage, 6.5 CPU-s of mostly
          // per-file overhead for a 3 MB index). ~50k postings per
          // bucket ≈ sub-MB posting files; the cap keeps 100 TB
          // bootstraps at Iceberg-like fan-out.
          val rows = SnapshotTable.readManifest(s, table, v).map(_.rows).sum
          val buckets = math.max(8L, math.min(4096L, rows / 50000L)).toInt
          graft.sources.SecondaryIndex.create(s, table, "event_id", index,
            buckets = buckets, dedupPostings = false)
        } else {
          graft.JobLabel(s, "uniq:append-tick") {
            graft.sources.SecondaryIndex.appendUnique(s, table, b,
              "event_id", "event_type", index, onConflict = "skip")
          }
        }
        ()
      }
      .option("checkpointLocation",
        checkpoint.getOrElse(StreamHousekeeping.freshCheckpointDir(spark)))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  // staged at-least-once corpus: the full events table plus an exact
  // re-delivery of the event_id % 13 slice, as separate files so the
  // duplicates mostly arrive in LATER micro-batches than the originals
  private def stagedDupDir(s: SparkSession, dir: String): String =
    Staged(s, dir, "snapSink.dupSrc") {
      val out = Staged.scratch(s, "graft_dupsrc")
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      // the even-id half of the corpus (the dedup semantics need
      // volume, not the whole table; the oracle filters the same)
      val ev = Tables.load(s, dir, "events")
        .filter(col("event_id") % 2 === 0)
      ev.repartition(1).write.mode("append").parquet(out)
      ev.filter(col("event_id") % 13 === 0)
        .repartition(1).write.mode("append").parquet(out)
      out
    }

  /** Driver query: ingest the duplicated corpus through the
    * constraint-enforcing sink, then roll up FROM THE TABLE — equal to
    * the rollup over the clean corpus only if every re-delivered row
    * was dropped and every original landed exactly once.
    */
  def streamUniqueAppendQuery(s: SparkSession, dir: String): DataFrame = {
    val root = Staged.scratch(s, "graft_uniqsink")
    val table = root + "/t"
    val index = root + "/t_idx"
    runUniqueAppend(s, stagedDupDir(s, dir),
      Tables.load(s, dir, "events").schema, table, index)
    SnapshotTable.read(s, table)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
      .orderBy(col("event_type"))
  }

  override def queries: Map[String, QueryPack.Q] = Map(
    "q_stream_snapshot_etl" -> (streamEtlQuery _),
    "q_stream_catalog_txn" -> (streamCatalogTxnQuery _),
    "q_stream_unique_append" -> (streamUniqueAppendQuery _),
    "q_stream_snapshot_upsert" -> (streamUpsertQuery _))

  override def oracleSql: Map[String, String] = Map(
    "q_stream_unique_append" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events WHERE event_id % 2 = 0
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_stream_snapshot_etl" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_stream_catalog_txn" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_stream_snapshot_upsert" ->
      """SELECT CAST(user_id AS BIGINT) AS user_id,
        |  CAST(event_id AS BIGINT) AS event_id, event_type,
        |  CAST(value AS DOUBLE) AS value
        |FROM events
        |QUALIFY row_number() OVER (PARTITION BY user_id
        |  ORDER BY event_id DESC) = 1
        |ORDER BY user_id""".stripMargin)
}
