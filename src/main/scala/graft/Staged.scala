package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession

/** Per-session fixture memo and scratch-dir owner — the one place that
  * decides how a write-once fixture is memoized and where its files live.
  *
  *  - `Staged(spark, dir, name) { build }` runs `build` at most once per
  *    (name, session, corpus dir) and returns the memoized value after.
  *    A build that throws is not memoized (the next call retries), and a
  *    build may call another key's build: each key has its own lazy
  *    holder, so there is no global lock and no build runs inside a map
  *    update. A hit is a lock-free map lookup plus one volatile read.
  *  - `Staged.scratch(spark, prefix)` mints a fresh local scratch dir for
  *    per-run clones and fixture tables.
  *
  * Both are scoped to the session's SparkContext: when it stops, its
  * memo entries are dropped and every scratch dir minted under it is
  * deleted (a listener on application end, installed once per context).
  * Content-addressed staging that is meant to outlive the process
  * ([[graft.sources.Ingest.ensureStaged]]) does not go through here.
  */
object Staged {

  /** Lazy holder for one key: the build runs under this cell's monitor
    * only, so unrelated keys build concurrently and a nested build of
    * another key takes that key's monitor, not this one.
    */
  private final class Cell {
    @volatile private var built = false
    private var value: Any = _

    def get[T](build: => T): T = {
      if (!built) synchronized {
        if (!built) { value = build; built = true }
      }
      value.asInstanceOf[T]
    }
  }

  private val cells = new ConcurrentHashMap[(String, SparkSession, String), Cell]()

  // scratch dirs minted per live context; an entry also marks the context
  // as carrying the eviction listener
  private val scratchOf =
    new ConcurrentHashMap[SparkContext, ConcurrentLinkedQueue[String]]()

  def apply[T](spark: SparkSession, dir: String, name: String)(build: => T): T = {
    val key = (name, spark, dir)
    var cell = cells.get(key)
    if (cell == null) {
      track(spark.sparkContext)
      cell = cells.computeIfAbsent(key, _ => new Cell)
    }
    cell.get(build)
  }

  /** A fresh dir `<base>/<prefix><random>`, deleted when `spark`'s context
    * stops. `base` defaults to `java.io.tmpdir`.
    */
  def scratch(spark: SparkSession, prefix: String,
              base: String = System.getProperty("java.io.tmpdir")): String = {
    val d = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get(base), prefix).toString
    track(spark.sparkContext).add(d)
    d
  }

  private def track(sc: SparkContext): ConcurrentLinkedQueue[String] =
    scratchOf.computeIfAbsent(sc, { _ =>
      sc.addSparkListener(new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
          evict(sc)
      })
      new ConcurrentLinkedQueue[String]()
    })

  /** Drop `sc`'s memo entries and delete the scratch dirs minted under it. */
  private[graft] def evict(sc: SparkContext): Unit = {
    cells.keySet.removeIf(_._2.sparkContext eq sc)
    Option(scratchOf.remove(sc)).foreach(_.forEach { d =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d))
      ()
    })
  }
}
