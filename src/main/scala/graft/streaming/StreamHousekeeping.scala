package graft.streaming

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.SparkSession

/** Shared housekeeping for the streaming drivers — bounds the on-disk and
  * in-catalog litter a long-lived session would otherwise accumulate:
  *
  *  - per-run CHECKPOINT dirs (unavoidably fresh: reusing one would make a
  *    re-run a no-op replay) are [[graft.Staged.scratch]] dirs, deleted
  *    when the session's SparkContext stops;
  *  - STAGING dirs are fixed per key (md5 of the source path), so repeated
  *    runs reuse one dir per corpus — and a checkpointed query restarted
  *    against the "same" source sees the same basePath across processes;
  *  - each driver run DROPS its predecessor's memory-sink table for the
  *    same (sink kind, corpus), keeping at most one live catalog entry per
  *    pair.
  */
private[streaming] object StreamHousekeeping {

  // checkpoints are scratch state: prefer the ram-backed tmpfs when the
  // host has one — a micro-batch commits its offset/state files
  // synchronously, so checkpoint fsync latency is pure overhead at local
  // scale (a production deployment points this at durable storage by
  // passing an explicit checkpointLocation instead)
  private lazy val ckBase: String = {
    val shm = new java.io.File("/dev/shm")
    if (shm.isDirectory && shm.canWrite) shm.getPath
    else System.getProperty("java.io.tmpdir")
  }

  /** A fresh checkpoint dir, deleted when `spark`'s context stops. */
  def freshCheckpointDir(spark: SparkSession): String =
    graft.Staged.scratch(spark, "graft_stream_ck", ckBase)

  /** Run `body` (a whole stream run: start → awaitTermination) with the
    * session's shuffle-partition count — which for a stateful stream is
    * also its STATE-STORE instance count, fixed at first planning —
    * set to `n`, restoring the session default afterwards. The store
    * count is a deployment knob sized to keyspace and executor count
    * (Spark pins it per checkpoint lifetime precisely because it is a
    * sizing decision): the fixture streams size it to the corpus the
    * same way [[graft.sources.SnapshotTable]] writers size files via
    * `spark.graft.write.targetFileBytes`; a 100 TB deployment raises
    * the same conf before the FIRST run against a fresh checkpoint.
    */
  def withStatePartitions[T](s: SparkSession, n: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, n.toString)
    try body finally s.conf.set(key, prev)
  }

  def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  /** Fixed, creation-idempotent staging dir PATH for `key` under the
    * system tmp dir (not created here). The caller owns the contents
    * contract (what to stage, when stale) — see
    * [[stageWithOrderedMtimes]] for the standard one.
    */
  def fixedStagingDir(prefix: String, key: String): String =
    new HPath(System.getProperty("java.io.tmpdir"),
      s"$prefix${md5Hex(key)}").toUri.getPath

  /** Stage `srcFiles` into the fixed staging dir for `key` as COPIES
    * with strictly increasing mtimes in the given order, Hadoop
    * FileSystem API end to end — the discipline every durable path in
    * the repo follows (the previous symlink shortcut exists only on a
    * local filesystem). A `_fingerprint` sidecar records each source's
    * (name, length, mtime): staging is reused only while the sources
    * are bit-identical, so a regenerated corpus re-stages instead of
    * silently serving stale bytes (Spark's file source ignores the
    * underscore-prefixed sidecar). Returns the staging dir.
    */
  def stageWithOrderedMtimes(spark: SparkSession, prefix: String, key: String,
                             srcFiles: Seq[org.apache.hadoop.fs.Path]): String = {
    import org.apache.hadoop.fs.{FileUtil, Path => HPath}
    val conf = spark.sparkContext.hadoopConfiguration
    val dst = new HPath(fixedStagingDir(prefix, key))
    val fs = dst.getFileSystem(conf)
    val fpFile = new HPath(dst, "_fingerprint")
    val wanted = srcFiles.map { p =>
      val st = p.getFileSystem(conf).getFileStatus(p)
      s"${p.getName}:${st.getLen}:${st.getModificationTime}"
    }.mkString("\n")
    val current =
      if (!fs.exists(fpFile)) None
      else {
        val in = fs.open(fpFile)
        try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
        finally in.close()
      }
    if (!current.contains(wanted)) {
      fs.delete(dst, true)
      fs.mkdirs(dst)
      srcFiles.zipWithIndex.foreach { case (src, i) =>
        val out = new HPath(dst, src.getName)
        FileUtil.copy(src.getFileSystem(conf), src, fs, out, false, conf)
        fs.setTimes(out, 1000000L + i * 1000L, -1)
      }
      val os = fs.create(fpFile, true)
      try os.write(wanted.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally os.close()
    }
    dst.toString
  }

  private val lastSink = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Register `name` as the live memory-sink table for (kind, corpus),
    * dropping the previous run's table if one exists.
    */
  def trackSink(spark: SparkSession, kind: String, dir: String, name: String): Unit =
    Option(lastSink.put(s"$kind:$dir", name))
      .foreach(prev => spark.catalog.dropTempView(prev))
}
