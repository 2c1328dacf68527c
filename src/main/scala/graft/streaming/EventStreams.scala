package graft.streaming


import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

import graft.Tables

/** `[EXT]` Structured Streaming over the events table (SURVEY.md §2.9):
  * watermarked tumbling-window aggregation and custom session state via
  * `flatMapGroupsWithState` — the streaming forms of
  * [[graft.operators.Events.hourlyCounts]] / [[graft.operators.Events.sessions]].
  *
  * Locally a static parquet dir drives the stream to completion
  * (memory sink + processAllAvailable); in production the same plan runs
  * on a file/Kafka source unchanged. State scales per-key (event_type /
  * user_id partitions), watermark bounds state size.
  */
object EventStreams {

  /** The streaming file source wants a DIRECTORY; the corpus ships single
    * parquet files — stage a copy dir (never touches the corpus). The
    * path is FIXED per corpus and fingerprint-guarded
    * ([[StreamHousekeeping.stageWithOrderedMtimes]]), so repeated runs —
    * and checkpointed queries restarted in a later process, which pin
    * their basePath in the checkpoint — all see the same dir, re-staged
    * only when the source bytes change.
    */
  private def stagedDir(dir: String): String = {
    val spark = org.apache.spark.sql.SparkSession.active
    StreamHousekeeping.stageWithOrderedMtimes(spark, "graft_events_src_",
      dir, Seq(new org.apache.hadoop.fs.Path(s"$dir/events.parquet")))
  }

  /** Tumbling 1-hour counts with a 30-minute watermark, streamed to a
    * memory sink in complete mode; returns the final table.
    */
  def hourlyCountsStreaming(spark: SparkSession, dir: String): DataFrame = {
    // nanos-as-long conf must be set before footer/schema inference
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val source = spark.readStream
      .schema(Tables.load(spark, dir, "events").schema)
      .parquet(stagedDir(dir))
      .transform(Tables.tsToTimestamp)

    val agg = source
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("event_type"), col("n"))

    val name = s"hourly_${System.nanoTime()}"
    StreamHousekeeping.trackSink(spark, "hourly", dir, name)
    val q = agg.writeStream
      .outputMode(OutputMode.Complete())
      .format("memory").queryName(name)
      .option("checkpointLocation", StreamHousekeeping.freshCheckpointDir(spark))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(name).orderBy(col("hour"), col("event_type"))
  }

  /** Watermarked hourly counts in APPEND mode over a multi-file source
    * (one file per micro-batch) WITH late-data accounting — what the
    * complete-mode demo above cannot show: complete mode never evicts,
    * so it never drops, while the production append/update path silently
    * discards sub-watermark rows. This surfaces Spark's own per-batch
    * `numRowsDroppedByWatermark` (summed over the run) next to the
    * result, so the pipeline reports what it REFUSED alongside what it
    * produced — the observability gap a silent-drop incident postmortem
    * always finds. Returns (finalized hourly counts, rows dropped as
    * too-late). EventStreamsSpec injects a late event and asserts the
    * drop count moves while the finalized result does not.
    *
    * `srcDir`/`schema` are caller-staged (the spec controls file arrival
    * order; production points this at the landing directory) with a
    * TimestampType `ts` and an `event_type` column.
    *
    * Drop timing is Spark's two-phase watermark (SPARK-39931): in batch
    * N the LATE-EVENT filter uses the watermark that was in force during
    * batch N−1, while EVICTION uses the one advanced by batch N−1's
    * data. So a row that is late relative to data seen one batch ago is
    * merged into still-open state (or silently ignored if its window
    * already closed — never double-emitted, since append emits a window
    * once); only rows a full batch behind the advanced watermark are
    * counted as dropped. The spec stages three files to land the late
    * row in that third batch.
    */
  def hourlyCountsWithDropReport(spark: SparkSession, srcDir: String,
                                 schema: org.apache.spark.sql.types.StructType,
                                 delay: String = "30 minutes"): (DataFrame, Long) = {
    val source = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(srcDir)
    val agg = source
      .withWatermark("ts", delay)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("event_type"), col("n"))
    val name = s"hourly_drops_${System.nanoTime()}"
    StreamHousekeeping.trackSink(spark, "hourly_drops", srcDir, name)
    val q = agg.writeStream
      .outputMode(OutputMode.Append())
      .format("memory").queryName(name)
      .option("checkpointLocation", StreamHousekeeping.freshCheckpointDir(spark))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val dropped = q.recentProgress.toSeq
      .flatMap(p => Option(p.stateOperators).toSeq.flatMap(_.toSeq))
      .map(_.numRowsDroppedByWatermark).sum
    (spark.table(name).orderBy(col("hour"), col("event_type")), dropped)
  }

  /** Streaming top-k per key through the custom TypedImperativeAggregate
    * ([[graft.functions.TopKByExpr]]) in complete mode — custom Catalyst
    * aggregates compose with streaming state like built-ins do.
    */
  def topkStreaming(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val source = spark.readStream
      .schema(Tables.load(spark, dir, "events").schema)
      .parquet(stagedDir(dir))
      .groupBy(col("event_type"))
      .agg(graft.functions.TopKByExpr(col("event_id"), col("value"), k).as("top"))
      .select(col("event_type"), explode(col("top.id")).as("event_id"))

    val name = s"topk_${System.nanoTime()}"
    StreamHousekeeping.trackSink(spark, "topk", dir, name)
    val q = source.writeStream
      .outputMode(OutputMode.Complete())
      .format("memory").queryName(name)
      .option("checkpointLocation", StreamHousekeeping.freshCheckpointDir(spark))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(name).orderBy(col("event_type"), col("event_id"))
  }

  /** Streaming exact-dedup: `dropDuplicates` on a key with a watermark
    * bounding the dedup state (keys older than the watermark age out —
    * the unbounded-stream form of the batch hash-dedup in
    * [[graft.operators.TextAnalysis.dedupExact]]).
    */
  def dedupStreaming(spark: SparkSession, dir: String,
                     keys: Seq[String] = Seq("user_id", "event_type")): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val source = spark.readStream
      .schema(Tables.load(spark, dir, "events").schema)
      .parquet(stagedDir(dir))
      .transform(Tables.tsToTimestamp)
      .withWatermark("ts", "1 hour")
      .dropDuplicates(keys :+ "ts")
      .dropDuplicates(keys) // within-watermark key dedup
      .select(keys.map(col): _*)

    val name = s"dedup_${System.nanoTime()}"
    StreamHousekeeping.trackSink(spark, "dedup", dir, name)
    val q = source.writeStream
      .outputMode(OutputMode.Append())
      .format("memory").queryName(name)
      .option("checkpointLocation", StreamHousekeeping.freshCheckpointDir(spark))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(name).distinct().orderBy(keys.map(col): _*)
  }

  /** Stream-STATIC dim enrichment: the event stream joined to the static
    * customer dim (stream side keyed by user_id). The static side is a
    * plain batch DataFrame — Spark plans it as a broadcast into every
    * micro-batch, the production shape for dimension lookup at the edge
    * of a 100 TB event firehose (no stream state, no shuffle of the
    * stream side). Aggregates per market segment after enrichment.
    */
  def enrichStreaming(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val source = spark.readStream
      .schema(Tables.load(spark, dir, "events").schema)
      .parquet(stagedDir(dir))
      .transform(Tables.tsToTimestamp)

    val dim = broadcast(Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment")))

    val enriched = source
      .join(dim, col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))

    val name = s"enrich_${System.nanoTime()}"
    StreamHousekeeping.trackSink(spark, "enrich", dir, name)
    val q = enriched.writeStream
      .outputMode(OutputMode.Complete())
      .format("memory").queryName(name)
      .option("checkpointLocation", StreamHousekeeping.freshCheckpointDir(spark))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(name).orderBy(col("c_mktsegment"), col("event_type"))
  }

  /** Stream-stream inner join with watermarks on both sides and a time
    * band (purchases joined to clicks by the same user within the
    * preceding hour) — watermark + band bound both join states. The batch
    * form of the same join proves result equality in the spec.
    */
  def purchaseClickJoinStreaming(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val staged = stagedDir(dir)
    def src = spark.readStream
      .schema(Tables.load(spark, dir, "events").schema)
      .parquet(staged)
      .transform(Tables.tsToTimestamp)

    val purchases = src.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("p_id"), col("ts").as("p_ts"))
      .withWatermark("p_ts", "2 hours")
    val clicks = src.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("c_id"), col("ts").as("c_ts"))
      .withWatermark("c_ts", "2 hours")

    val joined = purchases.join(clicks,
      col("user_id") === col("c_user") &&
        col("c_ts") <= col("p_ts") &&
        col("c_ts") > col("p_ts") - expr("INTERVAL 1 HOUR"))
      .select(col("user_id"), col("p_id"), col("c_id"))

    val name = s"ssjoin_${System.nanoTime()}"
    StreamHousekeeping.trackSink(spark, "ssjoin", dir, name)
    val q = joined.writeStream
      .outputMode(OutputMode.Append())
      .format("memory").queryName(name)
      .option("checkpointLocation", StreamHousekeeping.freshCheckpointDir(spark))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(name).orderBy(col("p_id"), col("c_id"))
  }

  /** Streaming ETL to a durable sink: `foreachBatch` writes each
    * micro-batch into a `batch_id=N` subdirectory with OVERWRITE mode —
    * a retried batch (failure between write and checkpoint commit)
    * rewrites its own directory instead of appending duplicates, making
    * the sink idempotent per batch id; end-to-end exactly-once then
    * holds ONLY when `checkpoint` is a durable caller-supplied location
    * reused across restarts (the default temp dir gives a fresh
    * checkpoint per invocation, which re-ingests the source — fine for
    * the spec's single-shot runs, wrong for production; pass your own).
    * Downstream readers see `batch_id` as a partition column and prune
    * on `event_type` within each batch dir. Returns the sink directory.
    */
  def etlToParquet(spark: SparkSession, dir: String, outDir: String,
                   checkpoint: Option[String] = None): String = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val source = spark.readStream
      .schema(Tables.load(spark, dir, "events").schema)
      .parquet(stagedDir(dir))
      .transform(Tables.tsToTimestamp)
      .withColumn("day", to_date(col("ts")))

    val q = source.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.write.mode("overwrite") // idempotent: retry rewrites its dir
          .partitionBy("event_type")
          .parquet(s"$outDir/batch_id=$batchId")
      }
      .option("checkpointLocation",
        checkpoint.getOrElse(StreamHousekeeping.freshCheckpointDir(spark)))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    outDir
  }

  case class Event(user_id: Long, tsMicros: Long)
  case class SessionState(lastTs: Long, sessions: Long, events: Long)
  case class UserSessions(user_id: Long, n_events: Long, n_sessions: Long)

  /** Gap-based sessionization as explicit streaming state (30-minute gap,
    * same rule as the batch window variant): one `SessionState` per user,
    * updated per micro-batch.
    */
  def sessionizeStreaming(spark: SparkSession, dir: String,
                          gapSeconds: Long = 1800): DataFrame = {
    import spark.implicits._

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.readStream
      .schema(Tables.load(spark, dir, "events").schema)
      .parquet(stagedDir(dir))
    val source = raw
      .select(col("user_id"), Tables.tsMicrosCol(raw).as("tsMicros"))
      .as[Event]

    val sessions = source
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, UserSessions](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (user: Long, events: Iterator[Event], state: GroupState[SessionState]) =>
          val sorted = events.toSeq.sortBy(_.tsMicros)
          var st = state.getOption.getOrElse(SessionState(Long.MinValue, 0L, 0L))
          sorted.foreach { e =>
            val gap = st.lastTs == Long.MinValue ||
              (e.tsMicros - st.lastTs) / 1000000L > gapSeconds
            st = SessionState(e.tsMicros,
              st.sessions + (if (gap) 1 else 0), st.events + 1)
          }
          state.update(st)
          Iterator(UserSessions(user, st.events, st.sessions))
      }

    val name = s"sessions_${System.nanoTime()}"
    StreamHousekeeping.trackSink(spark, "sessions", dir, name)
    val q = sessions.writeStream
      .outputMode(OutputMode.Update())
      .format("memory").queryName(name)
      .option("checkpointLocation", StreamHousekeeping.freshCheckpointDir(spark))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // update mode emits one row per key per batch; keep the latest
    spark.table(name)
      .groupBy(col("user_id"))
      .agg(max(col("n_events")).as("n_events"), max(col("n_sessions")).as("n_sessions"))
      .orderBy(col("user_id"))
  }
}
