package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.{SnapshotCatalog, SnapshotTable}

/** The streaming multi-table transaction must (a) leave EVERY catalog
  * version internally consistent — the pinned aggregate equals the
  * rollup of the pinned fact, for all versions, not just the last —
  * (b) converge to the corpus rollup, and (c) be exactly-once under a
  * full fresh-checkpoint replay: tags no-op both table commits and the
  * unchanged pins skip the catalog publish, so even the catalog's
  * HISTORY is unchanged.
  */
class CatalogTxnStreamSpec extends SparkSpec {

  import spark.implicits._

  private def slice(rows: Seq[(String, Double)]): DataFrame =
    rows.toDF("event_type", "value")

  // three parquet slices with pinned ascending mtimes: the file stream
  // source orders by modification time, so batch ids are deterministic
  // across runs (the property the fresh-checkpoint replay test needs)
  private def buildSource(): String = {
    val src = java.nio.file.Files.createTempDirectory("ctxsrc").toString
    val slices = Seq(
      slice(Seq("a" -> 1.0, "b" -> 2.0)),
      slice(Seq("a" -> 3.0)),
      slice(Seq("c" -> 4.0, "b" -> 5.0, "b" -> 0.5)))
    slices.zipWithIndex.foreach { case (df, i) =>
      val tmp = java.nio.file.Files.createTempDirectory("ctxslice").toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = new java.io.File(src, f"slice$i%03d.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      assert(dst.setLastModified(1600000000000L + i * 60000L))
    }
    src
  }

  private def buildRoot(): (String, String, String) = {
    val root = java.nio.file.Files.createTempDirectory("ctxroot").toString
    val fact = root + "/fact"
    val agg = root + "/agg"
    SnapshotTable.createEmpty(spark, fact)
    SnapshotTable.createEmpty(spark, agg)
    SnapshotCatalog.create(spark, root)
    SnapshotCatalog.register(spark, root, "fact", fact)
    SnapshotCatalog.register(spark, root, "agg", agg)
    (root, fact, agg)
  }

  private def rollup(df: DataFrame): Seq[String] =
    df.groupBy(col("event_type"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("value").cast("decimal(18,6)"))
          .cast("decimal(28,6)").as("sum_value"))
      .orderBy(col("event_type"))
      .collect().map(_.toString).toSeq

  private def aggRows(df: DataFrame): Seq[String] =
    df.select(col("event_type"), col("n"), col("sum_value"))
      .orderBy(col("event_type"))
      .collect().map(_.toString).toSeq

  private def schema = slice(Seq("x" -> 0.0)).schema

  test("every catalog version is internally consistent, and the final " +
    "aggregate is the corpus rollup") {
    val src = buildSource()
    val (root, fact, agg) = buildRoot()
    SnapshotSink.runCatalogTxn(spark, src, schema, root)
    val catVs = SnapshotCatalog.versions(spark, root)
    // create + 2 registers + one publish per (moving) batch
    assert(catVs.size === 3 + 3)
    catVs.foreach { cv =>
      val pins = SnapshotCatalog.entries(spark, root, Some(cv))
      if (pins.contains("fact") && pins.contains("agg")) {
        val (fp, fv) = pins("fact")
        val (ap, av) = pins("agg")
        if (SnapshotTable.tableStats(spark, fp, Some(fv))._1 == 0L)
          assert(SnapshotTable.tableStats(spark, ap, Some(av))._1 === 0L)
        else
          assert(aggRows(SnapshotTable.readVersion(spark, ap, av)) ===
            rollup(SnapshotTable.readVersion(spark, fp, fv)))
      }
    }
    // final state: the whole corpus, exactly once each
    assert(aggRows(SnapshotCatalog.read(spark, root, "agg")) ===
      rollup(spark.read.parquet(src)))
    assert(SnapshotTable.read(spark, fact).count() === 6L)
  }

  test("a tick whose delta passes the collect bound merges from the " +
    "frame and lands where the collected path does") {
    val src = buildSource()
    def run(collectBound: Int): (Seq[String], Long, Int) = {
      val (root, fact, _) = buildRoot()
      SnapshotSink.catalogTxn(spark, src, schema, root, "fact", "agg",
        "event_type", "value", None, collectBound)
      (aggRows(SnapshotCatalog.read(spark, root, "agg")),
        SnapshotTable.read(spark, fact).count(),
        SnapshotCatalog.versions(spark, root).size)
    }
    // bound 1: the first slice (two types, empty agg table) and the last
    // (two types, one of them already in the agg table) go over it; the
    // second (one type) is collected
    val framed = run(1)
    assert(framed === run(SnapshotSink.DeltaCollectBound))
    assert(framed._1 === rollup(spark.read.parquet(src)))
  }

  test("a fresh-checkpoint replay is exactly-once: no table version, no " +
    "catalog version, no value moves") {
    val src = buildSource()
    val (root, fact, agg) = buildRoot()
    SnapshotSink.runCatalogTxn(spark, src, schema, root)
    val catV = SnapshotCatalog.currentVersion(spark, root)
    val factV = SnapshotTable.currentVersion(spark, fact)
    val aggV = SnapshotTable.currentVersion(spark, agg)
    val before = aggRows(SnapshotCatalog.read(spark, root, "agg"))
    // brand-new checkpoint: every batch re-fires; tags must absorb all
    SnapshotSink.runCatalogTxn(spark, src, schema, root)
    assert(SnapshotCatalog.currentVersion(spark, root) === catV)
    assert(SnapshotTable.currentVersion(spark, fact) === factV)
    assert(SnapshotTable.currentVersion(spark, agg) === aggV)
    assert(aggRows(SnapshotCatalog.read(spark, root, "agg")) === before)
  }
}
