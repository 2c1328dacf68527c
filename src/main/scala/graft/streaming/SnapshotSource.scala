package graft.streaming

import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.SerializedOffset
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider, DataSourceRegister, RelationProvider, StreamSourceProvider}
import org.apache.spark.sql.types.StructType

import graft.sources.SnapshotTable

/** Stream offset = snapshot-table version. A committed version is an
  * immutable fact, so the offset is exact, replayable, and totally
  * ordered — the properties Structured Streaming's WAL needs.
  */
final case class VersionOffset(version: Long) extends Offset {
  override def json: String = version.toString
}

/** `[EXT]` Structured Streaming SOURCE tailing a snapshot table — the
  * read-side complement of [[SnapshotSink]] (together: table-to-table
  * streaming ETL with exactly-once on both edges). The published
  * Delta-source construction: offsets are table VERSIONS; a micro-batch
  * plans exactly the files that versions `(start, end]` APPENDED (by
  * manifest diff — never a directory listing, never a re-read of
  * carried files), and the offset log replays deterministically because
  * manifests are immutable.
  *
  * Batch semantics are INSERT-ONLY, Delta's default: a rewrite commit
  * (merge / eager delete / compaction) inside the window fails the
  * stream loudly, because its row-level meaning cannot be expressed as
  * appends — `option("ignoreChanges", true)` opts into Delta's
  * documented relaxation (skip removals, still emit fresh files; rows
  * rewritten unchanged MAY re-emit: at-least-once for those commits).
  * For full row-level change semantics batch-read
  * [[SnapshotTable.readChangesBetween]] instead.
  *
  * Scale shape: `getOffset` lists one directory; `getBatch` reads two
  * manifest lists + the window's fresh segments — O(changed), never
  * O(table). The planned scan is the standard pruned parquet relation
  * ([[graft.sources.SnapshotFileIndex]]), so downstream filters still
  * skip files within the batch.
  *
  * `startingVersion` (default: the table's CURRENT version at FIRST
  * stream start — tail-only, Delta's `latest`; the resolved value is
  * pinned in the checkpoint's source-metadata dir so restarts never
  * re-resolve it): the first batch emits everything committed AFTER
  * it; pass 0 to replay the initial snapshot as the first batch, or
  * any committed version for a mid-history resume (its manifest must
  * not be vacuumed).
  */
final class SnapshotSource(sqlContext: SQLContext, table: String,
                           options: Map[String, String],
                           metadataPath: String) extends Source {

  private val spark = sqlContext.sparkSession
  private val ignoreChanges =
    options.get("ignoreChanges").exists(_.toBoolean)

  /** Resolved ONCE per checkpoint and pinned in the source's metadata
    * dir: the default ("current version at stream start") must not
    * re-resolve on restart, or commits landing between runs would be
    * silently skipped as "pre-start". (The offset log can't cover this:
    * a tail-only stream that saw no data yet has committed no offset.)
    */
  private val startVersion: Long = {
    val f = new org.apache.hadoop.fs.Path(metadataPath, "graft-start-version")
    val fs = f.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(f)) {
      val in = fs.open(f)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toLong
      finally in.close()
    } else {
      val v = options.get("startingVersion").map(_.toLong).getOrElse(
        SnapshotTable.currentVersion(spark, table))
      fs.mkdirs(f.getParent)
      val out = fs.create(f, false)
      try out.write(v.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      v
    }
  }

  override val schema: StructType = SnapshotTable.recordedSchema(spark, table)

  /** Rate limit: at most this many table versions per micro-batch
    * (Delta's maxFilesPerTrigger analogue at commit granularity —
    * versions are this source's natural admission unit). Default:
    * unlimited, one batch drains to latest.
    */
  private val maxVersionsPerTrigger: Option[Long] =
    options.get("maxVersionsPerTrigger").map(_.toLong)

  /** Byte-budget admission (Delta's maxBytesPerTrigger): admit whole
    * versions while their manifest-recorded fresh bytes fit the budget
    * — always at least one version, however large (the batch must be
    * able to progress). Costs two manifest-LIST reads per probed
    * version, no data or segment I/O.
    */
  private val maxBytesPerTrigger: Option[Long] =
    options.get("maxBytesPerTrigger").map(_.toLong)

  // highest version already planned or committed this run — the base
  // the next rate-limited offer builds on. Advanced by getBatch AND by
  // commit(): on restart the engine re-commits the recovered offset
  // before polling, so the base catches up without a replay.
  @volatile private var highWater: Long = startVersion

  private def ver(o: Offset): Long = o match {
    case VersionOffset(v)    => v
    case s: SerializedOffset => s.json.trim.toLong
    case other => sys.error(s"snapshot source: unexpected offset $other")
  }

  override def getOffset: Option[Offset] = {
    SnapshotTable.versions(spark, table).lastOption.flatMap { latest =>
      val base = math.max(highWater, startVersion)
      val vCap = maxVersionsPerTrigger
        .fold(latest)(m => math.min(latest, base + m))
      val capped = maxBytesPerTrigger match {
        case None => vCap
        case Some(budget) =>
          var v = base; var acc = 0L; var full = false
          while (!full && v < vCap) {
            val nb = SnapshotTable.freshBytesAt(spark, table, v + 1)
            if (acc > 0L && acc + nb > budget) full = true
            else { acc += nb; v += 1 }
          }
          v
      }
      if (capped > startVersion) Some(VersionOffset(capped)) else None
    }
  }

  override def commit(end: Offset): Unit =
    highWater = math.max(highWater, ver(end))

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val endV = ver(end)
    val fromV = start.map(ver).getOrElse(startVersion)
    // O(changed) in the append-only steady state: two manifest lists +
    // the window's fresh segments (appendWindow's fast path); only a
    // rewrite or segment fold in the window reads full manifests
    val (added, postHdr, removed, newDeletes) =
      SnapshotTable.appendWindow(spark, table, fromV, endV)
    if ((removed.nonEmpty || newDeletes.nonEmpty) && !ignoreChanges)
      sys.error(s"snapshot source: versions ($fromV, $endV] of $table " +
        s"rewrote ${removed.size} file(s) and committed " +
        s"${newDeletes.size} equality delete(s). An insert-only stream " +
        "cannot represent removals; set ignoreChanges=true to skip " +
        "them, or consume readChangesBetween as a batch.")
    highWater = math.max(highWater, endV)
    SnapshotTable.readEntriesStreaming(spark, table, added, postHdr)
      .select(schema.fieldNames.map(org.apache.spark.sql.functions.col).toIndexedSeq: _*)
  }

  override def stop(): Unit = ()

  override def toString: String = s"SnapshotSource[$table]"
}

/** Driver query for the source: snapshot-table-to-snapshot-table
  * streaming ETL, the full commit-log round trip.
  */
object SnapshotSource extends graft.QueryPack {

  import org.apache.spark.sql.functions._
  import graft.{Staged, Tables}

  // the three-commit SOURCE table is read-only once built (the stream
  // only tails it) — memoized per (session, corpus) so repeated bench
  // runs measure the stream, not a repeated table build. The dst table
  // and checkpoint stay per-invocation.
  private def srcTable(s: org.apache.spark.sql.SparkSession, dir: String): String =
    Staged(s, dir, "snapTail.src") {
      val src = Staged.scratch(s, "graft_snaptail_src") + "/t"
      val ev = Tables.events(s, dir)
        .select(Seq("event_id", "ts", "user_id", "event_type", "value")
          .map(col): _*)
      SnapshotTable.create(s, src, ev.filter(col("event_id") % 3 === 0),
        "event_type", statsCols = Seq("event_id"))
      SnapshotTable.commitAppend(s, src,
        ev.filter(col("event_id") % 3 === 1), "event_type")
      SnapshotTable.commitAppend(s, src,
        ev.filter(col("event_id") % 3 === 2), "event_type")
      src
    }

  /** Tail a three-commit source table (a disjoint event_id-mod split
    * of the events corpus) with `format("graft-snapshot")` at one
    * VERSION per micro-batch, land each batch as a tagged exactly-once
    * commit into a second snapshot table, and roll the DESTINATION up
    * per event type. Equal to the plain events rollup iff every commit
    * was emitted exactly once and no row leaked across the two commit
    * logs.
    */
  def tailQuery(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val work = Staged.scratch(s, "graft_snaptail")
    val (src, dst) = (srcTable(s, dir), s"$work/dst")

    SnapshotTable.createEmpty(s, dst)
    // live trigger + processAllAvailable, NOT AvailableNow: the
    // AvailableNow wrapper latches one target offset for the whole
    // run, which would collapse the per-version admission this query
    // is exercising into a single batch
    StreamHousekeeping.withStatePartitions(s, 8) {
    val q = s.readStream.format("graft-snapshot")
      .option("startingVersion", "0")
      .option("maxVersionsPerTrigger", "1")
      .load(src)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        SnapshotTable.commitWithRetry() {
          SnapshotTable.commitAppend(batch.sparkSession, dst, batch,
            "event_type", tag = Some(s"b$batchId"))
        }
        ()
      }
      .option("checkpointLocation", s"$work/cp")
      .start()
    q.processAllAvailable()
    q.stop()
    q.awaitTermination()
    }

    SnapshotTable.read(s, dst)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"),
        max(col("event_id")).as("max_id"))
      .orderBy(col("event_type"))
  }

  override def queries: Map[String, graft.QueryPack.Q] = Map(
    "q_snapshot_tail" -> (tailQuery _))

  override def oracleSql: Map[String, String] = Map(
    "q_snapshot_tail" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
        |  CAST(max(event_id) AS BIGINT) AS max_id
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)
}

/** The `graft-snapshot` FORMAT — one registered name for the whole
  * surface:
  *
  * {{{
  * spark.read.format("graft-snapshot")[.option("version", 3)].load(t)
  * df.write.format("graft-snapshot").option("partCol", "p")
  *   [.option("statsCols", "a,b")].mode(...).save(t)
  * spark.readStream.format("graft-snapshot").load(t)
  * }}}
  *
  * Batch writes map SaveMode onto table commits: ErrorIfExists/Ignore →
  * [[SnapshotTable.create]], Append → [[SnapshotTable.commitAppend]]
  * (bootstrapping an empty table), Overwrite →
  * [[SnapshotTable.commitOverwrite]] (one atomic version — readers
  * pinned to the old one are unaffected, unlike the classic
  * delete-then-write). The sink side of STREAMS stays `foreachBatch` +
  * [[SnapshotSink]], the idiomatic modern shape.
  */
final class SnapshotSourceProvider extends StreamSourceProvider
    with RelationProvider with CreatableRelationProvider
    with DataSourceRegister {

  override def shortName(): String = "graft-snapshot"

  private def tablePath(params: Map[String, String]): String =
    params.getOrElse("path",
      sys.error("graft-snapshot: .load/.save(<table path>) is required"))

  override def sourceSchema(sqlContext: SQLContext,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String]): (String, StructType) =
    (shortName(), schema.getOrElse(SnapshotTable.recordedSchema(
      sqlContext.sparkSession, tablePath(parameters))))

  override def createSource(sqlContext: SQLContext, metadataPath: String,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String]): Source =
    new SnapshotSource(sqlContext, tablePath(parameters), parameters,
      metadataPath)

  override def createRelation(sqlContext: SQLContext,
                              parameters: Map[String, String]): BaseRelation =
    SnapshotTable.batchRelation(sqlContext.sparkSession,
      tablePath(parameters), parameters.get("version").map(_.toLong))

  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
                              parameters: Map[String, String],
                              data: org.apache.spark.sql.DataFrame): BaseRelation = {
    val spark = sqlContext.sparkSession
    val table = tablePath(parameters)
    val partCol = parameters.getOrElse("partCol",
      sys.error("graft-snapshot write: option(\"partCol\", <column>) is required"))
    val statsCols = parameters.get("statsCols")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)
    val exists = SnapshotTable.versions(spark, table).nonEmpty
    mode match {
      case SaveMode.ErrorIfExists =>
        SnapshotTable.create(spark, table, data, partCol, statsCols)
      case SaveMode.Ignore =>
        if (!exists) SnapshotTable.create(spark, table, data, partCol, statsCols)
      case SaveMode.Append =>
        if (!exists) SnapshotTable.createEmpty(spark, table)
        SnapshotTable.commitAppend(spark, table, data, partCol,
          statsCols = statsCols)
      case SaveMode.Overwrite =>
        if (!exists) SnapshotTable.create(spark, table, data, partCol, statsCols)
        else SnapshotTable.commitOverwrite(spark, table, data, partCol,
          statsCols)
    }
    SnapshotTable.batchRelation(spark, table, None)
  }
}
