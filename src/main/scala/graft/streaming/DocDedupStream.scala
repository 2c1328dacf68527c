package graft.streaming


import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

import graft.Tables
import graft.operators.MinHashDedup

/** Streaming NEAR-duplicate dedup — MinHash banding inside a watermarked
  * `dropDuplicates` (SURVEY.md §2.9 meets the dedup family):
  *
  * each arriving document explodes into its 16 LSH band keys
  * ([[MinHashDedup.bandKeys]], a narrow streaming-compatible projection);
  * `dropDuplicates(band_id, bucket)` lets the FIRST-arriving document
  * claim each bucket, and a document is near-novel iff it claims ALL its
  * bands — sharing even one bucket with any earlier document makes it an
  * LSH near-dup candidate and suppresses it. This is the streaming form
  * of [[MinHashDedup.candidatePairs]]' "shares ≥ 1 band bucket"
  * candidate rule (admission-control semantics: candidates are dropped
  * without the exact-Jaccard verify pass; a stricter pipeline verifies
  * suppressed docs against their bucket owners downstream).
  *
  * Scale design: state = one row per (band, bucket) — 16 longs per
  * RETAINED distinct doc, aged out by the watermark; the stream never
  * shuffles document text, only (band_id, bucket, id) triples. First
  * arrival wins: membership depends on arrival order (the nature of
  * streaming dedup), which is why the driver query is rows-only — the
  * spec pins stream ≡ sequential-greedy-batch on a controlled two-batch
  * corpus instead.
  */
object DocDedupStream {

  /** The streaming file source wants a DIRECTORY; the corpus ships single
    * parquet files — stage a copy dir (never touches the corpus).
    *
    * If the table path is itself a DIRECTORY of part files, each part is
    * staged with strictly increasing mtimes in lexicographic part-name
    * order, so the file source's mtime ordering (and
    * `maxFilesPerTrigger=1` in [[nearDupDedupStreaming]]) replays parts
    * in name order — the order a sorted write produced them in.
    *
    * The staging path is FIXED per corpus and fingerprint-guarded
    * ([[StreamHousekeeping.stageWithOrderedMtimes]]): a long-lived
    * session holds one staging dir per corpus, reused while the source
    * bytes are unchanged and re-staged when they are not.
    */
  private[streaming] def stagedDir(dir: String, file: String): String = {
    val spark = org.apache.spark.sql.SparkSession.active
    val src = new org.apache.hadoop.fs.Path(s"$dir/$file")
    val fs = src.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts =
      if (fs.getFileStatus(src).isDirectory)
        fs.listStatus(src).toSeq.map(_.getPath)
          .filter(_.getName.endsWith(".parquet"))
          .sortBy(_.getName)
      else Seq(src)
    StreamHousekeeping.stageWithOrderedMtimes(spark, "graft_docs_src_",
      src.toString, parts)
  }

  /** Core transform (works on a streaming OR batch docs frame bearing an
    * event-time column): band keys → watermarked first-claim per bucket.
    */
  def claimBands(docs: DataFrame, idCol: String, textCol: String,
                 tsCol: String, watermark: String): DataFrame =
    MinHashDedup.bandKeys(docs, idCol, textCol)
      .withWatermark(tsCol, watermark)
      .dropDuplicates("band_id", "bucket")
      .select(col("id"), col("band_id"), col("bucket"))

  /** Drive the documents table through the streaming near-dup dedup and
    * return the admitted (near-novel) docs: `n_claimed` = 16 means no
    * band collided with any earlier arrival.
    *
    * ARRIVAL-ORDER CONTRACT (what the closed-form oracle relies on):
    * membership of a streaming dedup is inherently a function of arrival
    * order; this driver makes that order an explicit, reproducible
    * contract rather than an accident of file listing —
    * `maxFilesPerTrigger=1` processes one file per micro-batch in staged
    * mtime order ([[stagedDir]] pins mtimes to part-name order), and
    * within a file the row order is the write order. The corpus writes
    * documents in doc_id order, so arrival = doc_id order and the
    * first-arrival claim process has the closed form the
    * `q_stream_neardup` oracle computes (min doc_id per band group).
    * DocDedupStreamSpec asserts stream ≡ sequential-greedy on a 2-file
    * source driven through this same path.
    */
  def nearDupDedupStreaming(spark: SparkSession, dir: String): DataFrame = {
    val static = Tables.documents(spark, dir)
    val source = spark.readStream
      .schema(static.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(stagedDir(dir, "documents.parquet"))
      // synthetic event time (corpus has none): 1s per doc, watermark demo
      .withColumn("ts", timestamp_micros(lit(1700000000000000L) +
        col("doc_id") * lit(1000000L)))

    val claims = claimBands(source, "doc_id", "text", "ts", "1 hour")

    val name = s"neardup_${System.nanoTime()}"
    StreamHousekeeping.trackSink(spark, "neardup", dir, name)
    // 8 state stores — first-run sizing knob, see withStatePartitions
    StreamHousekeeping.withStatePartitions(spark, 8) {
      val q = claims.writeStream
        .outputMode(OutputMode.Append())
        .format("memory").queryName(name)
        .option("checkpointLocation", StreamHousekeeping.freshCheckpointDir(spark))
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }

    spark.table(name)
      .groupBy(col("id").as("doc_id"))
      .agg(count(lit(1)).as("n_claimed"))
      .filter(col("n_claimed") === MinHashDedup.bands)
      .select(col("doc_id"))
      .orderBy(col("doc_id"))
  }
}
