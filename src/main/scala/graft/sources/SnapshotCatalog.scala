package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QueryPack, Staged}

/** `[EXT]` Multi-table CATALOG with atomic cross-table transactions —
  * the published Nessie / Iceberg-REST-catalog construction scaled to
  * this repo's manifest machinery: the catalog is itself a VERSIONED
  * LEDGER of `(table name → path @ pinned version)` entries, each
  * catalog version published by the same tmp-write + rename commit
  * point the tables use.
  *
  * A transaction ([[commit]]) performs ordinary per-table commits —
  * each table's own optimistic log, tag ledger, and maintenance are
  * untouched — and then publishes ONE catalog version re-pinning every
  * table the transaction moved. Readers resolving through the catalog
  * ([[read]]) therefore see either ALL of a transaction's effects or
  * NONE of them: a data table and its derived aggregate (or an ANN
  * index and its corpus) can never be observed out of step, even
  * though the underlying table versions land one rename at a time.
  *
  * Catalog versions compose with table versions into whole-lakehouse
  * time travel: resolving at catalog version K yields the exact set of
  * table versions that were current together at K.
  *
  * Scale shape: a catalog version is O(#tables) bytes of metadata (one
  * line per table), read once at resolution — never per file, never
  * per query stage. Racing transactions conflict on the catalog
  * rename and retry via [[SnapshotTable.commitWithRetry]]; a crashed
  * transaction's table versions exist but are pinned by no catalog
  * version, so catalog readers never see the partial state (the
  * table-level garbage stays invisible and vacuumable).
  */
object SnapshotCatalog {

  private def catDir(root: String) = new Path(root, "_catalog")
  private def fs(spark: SparkSession, root: String): FileSystem =
    catDir(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private val vRe = raw"v(\d+)\.json".r
  private val lineRe =
    raw"""\{"name":"(.*)","path":"(.*)","version":(\d+)\}""".r

  def versions(spark: SparkSession, root: String): Seq[Long] = {
    val f = fs(spark, root)
    if (!f.exists(catDir(root))) Seq.empty
    else f.listStatus(catDir(root)).toSeq.flatMap(_.getPath.getName match {
      case vRe(n) => Some(n.toLong)
      case _      => None
    }).sorted
  }

  def currentVersion(spark: SparkSession, root: String): Long =
    versions(spark, root).lastOption.getOrElse(
      sys.error(s"snapshot catalog $root has no committed version"))

  /** The (name → (table path, pinned table version)) map at catalog
    * version `atVersion` (default current).
    */
  def entries(spark: SparkSession, root: String,
              atVersion: Option[Long] = None): Map[String, (String, Long)] = {
    val v = atVersion.getOrElse(currentVersion(spark, root))
    val f = fs(spark, root)
    val in = f.open(new Path(catDir(root), s"v$v.json"))
    val lines =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .filter(_.nonEmpty).toList
      finally in.close()
    lines.map {
      case lineRe(n, p, tv) =>
        SnapshotTable.unesc(n) -> ((SnapshotTable.unesc(p), tv.toLong))
      case other => sys.error(s"snapshot catalog: bad line: $other")
    }.toMap
  }

  private def publish(spark: SparkSession, root: String, version: Long,
                      pins: Map[String, (String, Long)]): Unit = {
    val f = fs(spark, root)
    f.mkdirs(catDir(root))
    val tmp = new Path(catDir(root),
      s"v$version.json.tmp.${java.util.UUID.randomUUID.toString.take(8)}")
    val body = pins.toSeq.sortBy(_._1).map { case (n, (p, tv)) =>
      s"""{"name":"${SnapshotTable.esc(n)}","path":"${SnapshotTable.esc(p)}","version":$tv}"""
    }.mkString("", "\n", "\n")
    val out = f.create(tmp, false)
    try out.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val target = new Path(catDir(root), s"v$version.json")
    // same atomic exclusive commit point as table manifests (POSIX
    // rename REPLACES an existing target — exists+rename is a TOCTOU
    // hole under racing transactions)
    if (!SnapshotTable.publishExclusive(f, tmp, target)) {
      f.delete(tmp, false)
      sys.error(s"snapshot commit conflict: catalog v$version already published for $root")
    }
  }

  /** Create an empty catalog at version 1. */
  def create(spark: SparkSession, root: String): Long = {
    require(versions(spark, root).isEmpty,
      s"snapshot catalog $root already exists")
    publish(spark, root, 1L, Map.empty)
    1L
  }

  /** Register (or re-pin) `name` → `table` at its current (or a given)
    * version — itself a catalog commit.
    */
  def register(spark: SparkSession, root: String, name: String,
               table: String, atVersion: Option[Long] = None): Long =
    SnapshotTable.commitWithRetry() {
      val v = currentVersion(spark, root)
      val pin = atVersion.getOrElse(SnapshotTable.currentVersion(spark, table))
      publish(spark, root, v + 1, entries(spark, root) + (name -> ((table, pin))))
      v + 1
    }

  /** Resolve `name` through the catalog and read the PINNED table
    * version — cross-table-consistent with every other read resolved
    * from the same catalog version.
    */
  def read(spark: SparkSession, root: String, name: String,
           catVersion: Option[Long] = None): DataFrame = {
    val (path, tv) = entries(spark, root, catVersion).getOrElse(name,
      sys.error(s"snapshot catalog: no table '$name' in $root"))
    SnapshotTable.readVersion(spark, path, tv)
  }

  /** Atomic cross-table transaction: `work` receives the current pins
    * and performs ordinary per-table commits, returning the new table
    * versions for every table it moved (by catalog name); ONE catalog
    * commit then re-pins them together. On a catalog race the
    * transaction body is NOT re-run — the publish rebases the new pins
    * onto the latest catalog version and retries the rename (the
    * per-table commits already succeeded on their own logs; two
    * transactions moving the SAME table would have conflicted at the
    * table level first).
    */
  def commit(spark: SparkSession, root: String)
            (work: Map[String, (String, Long)] => Map[String, Long]): Long = {
    val moved = work(entries(spark, root))
    SnapshotTable.commitWithRetry() {
      val v = currentVersion(spark, root)
      val cur = entries(spark, root)
      val unknown = moved.keySet.diff(cur.keySet)
      require(unknown.isEmpty,
        s"snapshot catalog txn: unregistered tables: ${unknown.mkString(", ")}")
      val next = cur.map { case (n, (p, tv)) =>
        n -> ((p, moved.getOrElse(n, tv)))
      }
      publish(spark, root, v + 1, next)
      v + 1
    }
  }
}

/** Driver query + oracle for the catalog transaction path. */
object SnapshotCatalogPack extends QueryPack {

  /** Per-priority rollup read through the catalog at BOTH catalog
    * versions — v2 (post-registration baseline) and v3 (after one
    * transaction appended rows to `orders` AND refreshed `rollup`
    * atomically). Correct only if the pinned pair moves together:
    * a torn catalog would pair the old rollup with new orders (or
    * vice versa) and break one of the two version blocks.
    */
  def catalogTxnQuery(s: SparkSession, dir: String): DataFrame = {
    import SnapshotCatalog._
    val work = Staged.scratch(s, "graft_snapshot_cat")
    val ordersT = SnapshotTable.cloneTable(s,
      SnapshotTable.deleteBase(s, dir))
    val rollupT = s"$work/rollup"
    def rollupOf(df: DataFrame): DataFrame =
      df.groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("o_totalprice").cast("decimal(18,2)"))
            .cast("decimal(28,2)").as("total"),
          max(col("o_orderkey")).as("max_key"))
    SnapshotTable.create(s, rollupT,
      rollupOf(SnapshotTable.read(s, ordersT)), "o_orderpriority")

    val root = s"$work/cat"
    create(s, root)                       // catalog v1: empty
    register(s, root, "orders", ordersT)  // v2 (after both: v3)
    register(s, root, "rollup", rollupT)
    val baseline = currentVersion(s, root)

    // one transaction: append to orders AND refresh the rollup
    val tableSchema = SnapshotTable.read(s, ordersT).schema
    val maxKey = graft.Tables.orders(s, dir).agg(max(col("o_orderkey")))
      .head().getLong(0)
    val fresh = s.range(1, 6).select(
      (col("id") + maxKey).as("o_orderkey"),
      lit(1L).as("o_custkey"),
      lit(123.45).as("o_totalprice"),
      to_timestamp(lit("1999-01-01")).as("o_orderdate"),
      lit("1-URGENT").as("o_orderpriority"))
      .select(tableSchema.map(f => col(f.name).cast(f.dataType)).toIndexedSeq: _*)
    commit(s, root) { pins =>
      val ov = SnapshotTable.commitAppend(s, ordersT, fresh,
        "o_orderpriority").get
      val rv = SnapshotTable.commitOverwrite(s, rollupT,
        rollupOf(SnapshotTable.readVersion(s, ordersT, ov)),
        "o_orderpriority")
      Map("orders" -> ov, "rollup" -> rv)
    }

    def shaped(catV: Long): DataFrame =
      read(s, root, "rollup", Some(catV))
        .select(lit(catV - baseline).cast("long").as("txn"),
          col("o_orderpriority"), col("n_rows"),
          col("total").cast("double").as("total_price"),
          col("max_key"))
    shaped(baseline).unionByName(shaped(baseline + 1))
      .orderBy(col("txn"), col("o_orderpriority"))
  }

  override def queries: Map[String, QueryPack.Q] = Map(
    "q_catalog_txn" -> (catalogTxnQuery _))

  override def oracleSql: Map[String, String] = Map(
    "q_catalog_txn" ->
      """WITH fresh AS (
        |  SELECT (SELECT max(o_orderkey) FROM orders) + i AS o_orderkey,
        |    123.45 AS o_totalprice, '1-URGENT' AS o_orderpriority
        |  FROM (SELECT unnest(generate_series(1, 5)) AS i)
        |), post AS (
        |  SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
        |  UNION ALL SELECT * FROM fresh
        |), pre_r AS (
        |  SELECT CAST(0 AS BIGINT) AS txn, o_orderpriority,
        |    CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
        |    CAST(max(o_orderkey) AS BIGINT) AS max_key
        |  FROM orders GROUP BY o_orderpriority
        |), post_r AS (
        |  SELECT CAST(1 AS BIGINT) AS txn, o_orderpriority,
        |    CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
        |    CAST(max(o_orderkey) AS BIGINT) AS max_key
        |  FROM post GROUP BY o_orderpriority
        |)
        |SELECT * FROM pre_r UNION ALL SELECT * FROM post_r
        |ORDER BY txn, o_orderpriority""".stripMargin)
}
