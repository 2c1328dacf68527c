package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

import graft.Tables

/** Streaming funnel detection — the stateful-stream twin of
  * [[graft.operators.Events.funnelMatchOn]] (view → click → purchase,
  * strictly ordered per user): one `FunnelState` per user advanced by
  * `flatMapGroupsWithState`, so completions surface as users cross the
  * last stage instead of waiting for a batch recompute.
  *
  * State machine (events applied in (ts, event_id) order): a view lowers
  * `minView`; a click with ANY earlier-processed view sets `minQClick`; a
  * purchase with ANY earlier-processed qualified click records the first
  * `completed`. That "earlier-processed = earlier in the funnel" reading
  * is exact under the same arrival-order contract the other streaming
  * drivers pin ([[DocDedupStream.stagedDir]]: mtime-staged files +
  * `maxFilesPerTrigger=1` replay time-partitioned files in order; within
  * a micro-batch the group iterator is explicitly sorted) — which is why
  * the driver query can share the BATCH funnel's DuckDB oracle verbatim.
  *
  * Scale shape: CROSS-BATCH state is three longs per user — never a
  * collected event array — and only (user, ts, type, id) tuples shuffle;
  * across micro-batches a hot user costs the same 24 bytes as a cold one.
  * WITHIN one micro-batch, though, `detect` buffers and sorts each user's
  * events for that batch in task memory (`evs.toSeq.sortBy`) to pin the
  * processing order — bounded here by `maxFilesPerTrigger=1` (one staged
  * file per batch), and at production scale by the watermark window.
  * At 100 TB/day the same plan runs with a real event-time watermark +
  * state TTL for abandoned funnels (here NoTimeout, since the corpus
  * replay is finite).
  */
object FunnelStream {

  case class Ev(user_id: Long, event_id: Long, tsMicros: Long, event_type: String)
  case class FunnelState(minView: Long, minQClick: Long, completed: Long)
  case class Progress(user_id: Long, started_us: Option[Long], completed_us: Option[Long])

  private val Unset = Long.MaxValue

  private[streaming] def advance(st: FunnelState, e: Ev): FunnelState =
    e.event_type match {
      case "view" =>
        st.copy(minView = math.min(st.minView, e.tsMicros))
      case "click" if st.minView != Unset =>
        st.copy(minQClick = math.min(st.minQClick, e.tsMicros))
      case "purchase" if st.minQClick != Unset && st.completed == Unset =>
        st.copy(completed = e.tsMicros)
      case _ => st
    }

  /** Core stateful transform over a (possibly streaming) event Dataset. */
  private[streaming] def detect(events: Dataset[Ev]): Dataset[Progress] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, Progress](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (user: Long, evs: Iterator[Ev], state: GroupState[FunnelState]) =>
          val sorted = evs.toSeq.sortBy(e => (e.tsMicros, e.event_id))
          var st = state.getOption.getOrElse(FunnelState(Unset, Unset, Unset))
          sorted.foreach(e => st = advance(st, e))
          state.update(st)
          Iterator(Progress(user,
            Option(st.minView).filter(_ != Unset),
            Option(st.completed).filter(_ != Unset)))
      }
  }

  /** Driver query: stream the events corpus (AvailableNow over the staged
    * source), keep each user's final progress, emit completions in the
    * batch funnel's exact schema — `q_stream_funnel` shares
    * `q_funnel_match`'s oracle.
    */
  def funnelStreaming(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.readStream
      .schema(Tables.load(spark, dir, "events").schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(DocDedupStream.stagedDir(dir, "events.parquet"))
    val source = raw
      .filter(col("event_type").isin("view", "click", "purchase"))
      .select(col("user_id"), col("event_id"),
        Tables.tsMicrosCol(raw).as("tsMicros"), col("event_type"))
      .as[Ev]

    val name = s"funnel_${System.nanoTime()}"
    StreamHousekeeping.trackSink(spark, "funnel", dir, name)
    // 8 state stores: the corpus-sized keyspace never fills 32, and the
    // store count is a first-run sizing knob (see withStatePartitions)
    StreamHousekeeping.withStatePartitions(spark, 8) {
      val q = detect(source).writeStream
        .outputMode(OutputMode.Update())
        .format("memory").queryName(name)
        .option("checkpointLocation", StreamHousekeeping.freshCheckpointDir(spark))
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }

    // update mode re-emits a user's progress each batch; min() keeps the
    // final (tightest) values — both fields only ever decrease or fill in
    spark.table(name)
      .groupBy(col("user_id"))
      .agg(min(col("started_us")).as("started_us"),
        min(col("completed_us")).as("completed_us"))
      .filter(col("completed_us").isNotNull)
      .select(col("user_id"), col("started_us"), col("completed_us"),
        (col("completed_us") - col("started_us")).as("funnel_us"))
      .orderBy(col("user_id"))
  }
}
