package graft.sources

import org.apache.spark.sql.{GraftRegistryBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `[EXT]` SQL surface for snapshot tables — TABLE-VALUED FUNCTIONS, so
  * a SQL-only user reaches the whole lakehouse layer without the Scala
  * API (the published `delta.`/Iceberg SQL-extension shape, done with
  * Spark's native TVF registry instead of a parser extension):
  *
  * {{{
  * SELECT * FROM snapshot_table('/path/to/t')             -- current
  * SELECT * FROM snapshot_table('/path/to/t', 3)          -- time travel
  * SELECT * FROM snapshot_changes('/path/to/t', 1, 4)     -- CDC feed
  * SELECT * FROM snapshot_history('/path/to/t')           -- describe
  * SELECT * FROM snapshot_files('/path/to/t')             -- files meta
  * SELECT * FROM snapshot_merge('/path/to/t', 'updates_view',
  *                              'key', 'part')            -- MERGE INTO
  * SELECT * FROM snapshot_delete('/path/to/t', 'doomed_keys_view',
  *                               'key', 'part')           -- DELETE
  * SELECT * FROM snapshot_declare_key('/t', 'pk', 1)      -- RELY key
  * SELECT * FROM snapshot_declare_fk('/f','fk','/t','pk',1) -- RELY FK
  * SELECT * FROM snapshot_enable_eager_agg('/f')          -- opt-in
  * SELECT * FROM snapshot_enable_dynamic_prune('/t')      -- opt-in
  * }}}
  *
  * The declare and enable calls are PROCEDURES in TVF syntax
  * (Iceberg's `CALL` shape expressed on Spark's native TVF registry):
  * analyzing the statement declares the key or opts the table in, and
  * the relation is the outcome row.
  *
  * The TVF resolves to the SAME relation the Scala API plans
  * ([[SnapshotFileIndex]]-backed), so WHERE predicates on a
  * `snapshot_table` scan push down into manifest file skipping like
  * any other filter. Registered per session via [[register]], or for
  * every session through `spark.sql.extensions=graft.GraftExtensions`
  * (both paths share [[tvfs]]).
  *
  * Arguments must be literals — these functions pin a table/version at
  * ANALYSIS time (exactly the snapshot-isolation contract: the plan
  * stays on those files however long the query runs).
  */
object SnapshotSql {

  private def strArg(fn: String, exprs: Seq[Expression], i: Int): String =
    exprs(i) match {
      case Literal(s: UTF8String, StringType) => s.toString
      case other => throw new IllegalArgumentException(
        s"$fn: argument ${i + 1} must be a string literal, got $other")
    }

  private def longArg(fn: String, exprs: Seq[Expression], i: Int): Long =
    exprs(i) match {
      case Literal(v: java.lang.Integer, IntegerType) => v.toLong
      case Literal(v: java.lang.Long, LongType)       => v
      case other => throw new IllegalArgumentException(
        s"$fn: argument ${i + 1} must be an integer literal, got $other")
    }

  private def dblArg(fn: String, exprs: Seq[Expression], i: Int): Double =
    exprs(i) match {
      case Literal(v: java.lang.Double, org.apache.spark.sql.types.DoubleType) => v
      case Literal(d: org.apache.spark.sql.types.Decimal, _: org.apache.spark.sql.types.DecimalType) =>
        d.toDouble
      case Literal(v: java.lang.Integer, IntegerType) => v.toDouble
      case Literal(v: java.lang.Long, LongType)       => v.toDouble
      case other => throw new IllegalArgumentException(
        s"$fn: argument ${i + 1} must be a numeric literal, got $other")
    }

  /** (name, info, builder) triples — shared by [[register]] and
    * [[graft.GraftExtensions]].
    */
  def tvfs: Seq[(String, ExpressionInfo, Seq[Expression] => LogicalPlan)] = Seq(
    ("snapshot_table",
      new ExpressionInfo(getClass.getName, null, "snapshot_table",
        "_FUNC_(path[, version]) - read a snapshot table at its current " +
          "(or a pinned) version; predicates push down into manifest " +
          "file skipping",
        "_FUNC_(string[, bigint])"),
      (exprs: Seq[Expression]) => {
        val spark = SparkSession.active
        val path = strArg("snapshot_table", exprs, 0)
        val df = exprs.length match {
          case 1 => SnapshotTable.read(spark, path)
          case 2 => SnapshotTable.readVersion(spark, path,
            longArg("snapshot_table", exprs, 1))
          case n => throw new IllegalArgumentException(
            s"snapshot_table: expected 1 or 2 arguments, got $n")
        }
        df.queryExecution.logical
      }),
    ("snapshot_changes",
      new ExpressionInfo(getClass.getName, null, "snapshot_changes",
        "_FUNC_(path, from_version, to_version) - row-level change feed " +
          "committed in (from, to]: data columns plus _change_type " +
          "(insert|delete) and _commit_version",
        "_FUNC_(string, bigint, bigint)"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 3,
          s"snapshot_changes: expected 3 arguments, got ${exprs.length}")
        val spark = SparkSession.active
        SnapshotTable.readChangesBetween(spark,
          strArg("snapshot_changes", exprs, 0),
          longArg("snapshot_changes", exprs, 1),
          longArg("snapshot_changes", exprs, 2))
          .queryExecution.logical
      }),
    ("catalog_table",
      new ExpressionInfo(getClass.getName, null, "catalog_table",
        "_FUNC_(root, name[, catalog_version]) - resolve a table " +
          "through the versioned catalog and read its PINNED version; " +
          "two catalog_table reads at the same catalog version are " +
          "cross-table consistent",
        "_FUNC_(string, string[, bigint])"),
      (exprs: Seq[Expression]) => {
        val spark = SparkSession.active
        val root = strArg("catalog_table", exprs, 0)
        val name = strArg("catalog_table", exprs, 1)
        val df = exprs.length match {
          case 2 => SnapshotCatalog.read(spark, root, name)
          case 3 => SnapshotCatalog.read(spark, root, name,
            Some(longArg("catalog_table", exprs, 2)))
          case n => throw new IllegalArgumentException(
            s"catalog_table: expected 2 or 3 arguments, got $n")
        }
        df.queryExecution.logical
      }),
    ("snapshot_history",
      new ExpressionInfo(getClass.getName, null, "snapshot_history",
        "_FUNC_(path) - one row per retained version: (version, n_files, " +
          "n_rows, n_tags, committed_at); reads only manifest lists",
        "_FUNC_(string)"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 1,
          s"snapshot_history: expected 1 argument, got ${exprs.length}")
        SnapshotTable.history(SparkSession.active,
          strArg("snapshot_history", exprs, 0)).queryExecution.logical
      }),
    ("snapshot_files",
      new ExpressionInfo(getClass.getName, null, "snapshot_files",
        "_FUNC_(path[, version]) - the files inspection table: one row " +
          "per data file with partition stamp, row/byte counts, commit " +
          "seq, and stat/bloom columns; zero data-file reads",
        "_FUNC_(string[, bigint])"),
      (exprs: Seq[Expression]) => {
        val spark = SparkSession.active
        val path = strArg("snapshot_files", exprs, 0)
        val df = exprs.length match {
          case 1 => SnapshotTable.filesTable(spark, path)
          case 2 => SnapshotTable.filesTable(spark, path,
            Some(longArg("snapshot_files", exprs, 1)))
          case n => throw new IllegalArgumentException(
            s"snapshot_files: expected 1 or 2 arguments, got $n")
        }
        df.queryExecution.logical
      }),
    ("snapshot_merge",
      new ExpressionInfo(getClass.getName, null, "snapshot_merge",
        "_FUNC_(path, source, key_col, part_col) - MERGE INTO the " +
          "snapshot table at `path` from the view/table named `source`: " +
          "matched keys are UPDATED with every column the source " +
          "carries, unmatched source rows INSERT (the upsert shape). " +
          "A write PROCEDURE in TVF syntax (the Iceberg CALL shape on " +
          "Spark's native TVF registry): analyzing the statement " +
          "performs the commit exactly once per spark.sql() call and " +
          "the result row reports (version, n_updated, n_deleted, " +
          "n_inserted)",
        "_FUNC_(string, string, string, string)"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 4,
          s"snapshot_merge: expected 4 arguments, got ${exprs.length}")
        val spark = SparkSession.active
        val path = strArg("snapshot_merge", exprs, 0)
        val source = spark.table(strArg("snapshot_merge", exprs, 1))
        val (v, nU, nD, nI) = SnapshotTable.commitMergeInto(spark, path,
          source, strArg("snapshot_merge", exprs, 2),
          strArg("snapshot_merge", exprs, 3),
          updateWhen = Some(org.apache.spark.sql.functions.lit(true)),
          insertWhen = Some(org.apache.spark.sql.functions.lit(true)))
        outcomeRow(spark, Seq("version" -> v, "n_updated" -> nU,
          "n_deleted" -> nD, "n_inserted" -> nI))
      }),
    ("snapshot_delete",
      new ExpressionInfo(getClass.getName, null, "snapshot_delete",
        "_FUNC_(path, source, key_col, part_col) - DELETE FROM the " +
          "snapshot table at `path` every row whose key appears in the " +
          "view/table named `source` (one key column). Write procedure " +
          "in TVF syntax, like snapshot_merge; the result row reports " +
          "(version, n_deleted)",
        "_FUNC_(string, string, string, string)"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 4,
          s"snapshot_delete: expected 4 arguments, got ${exprs.length}")
        val spark = SparkSession.active
        val path = strArg("snapshot_delete", exprs, 0)
        val keys = spark.table(strArg("snapshot_delete", exprs, 1))
        val (v, n) = SnapshotTable.commitDeleteKeys(spark, path, keys,
          strArg("snapshot_delete", exprs, 2),
          strArg("snapshot_delete", exprs, 3))
        outcomeRow(spark, Seq("version" -> v, "n_deleted" -> n))
      }),
    ("snapshot_compact",
      new ExpressionInfo(getClass.getName, null, "snapshot_compact",
        "_FUNC_(path, part_col[, small_threshold_rows]) - fold small " +
          "files per partition into fewer larger ones (one atomic " +
          "commit; row set unchanged). Maintenance procedure in TVF " +
          "syntax; the result row reports (version, n_folded, n_written)",
        "_FUNC_(string, string[, bigint])"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2 || exprs.length == 3,
          s"snapshot_compact: expected 2-3 arguments, got ${exprs.length}")
        val spark = SparkSession.active
        val (v, nIn, nOut) =
          if (exprs.length == 2)
            SnapshotTable.compact(spark,
              strArg("snapshot_compact", exprs, 0),
              strArg("snapshot_compact", exprs, 1))
          else SnapshotTable.compact(spark,
            strArg("snapshot_compact", exprs, 0),
            strArg("snapshot_compact", exprs, 1),
            longArg("snapshot_compact", exprs, 2))
        outcomeRow(spark, Seq("version" -> v, "n_folded" -> nIn.toLong,
          "n_written" -> nOut.toLong))
      }),
    ("snapshot_expire",
      new ExpressionInfo(getClass.getName, null, "snapshot_expire",
        "_FUNC_(path, keep_versions) - vacuum: drop manifests older " +
          "than the newest keep_versions (refs always pinned) and " +
          "delete data files no retained version references. The " +
          "result row reports (n_files_deleted)",
        "_FUNC_(string, bigint)"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2,
          s"snapshot_expire: expected 2 arguments, got ${exprs.length}")
        val spark = SparkSession.active
        val n = SnapshotTable.vacuum(spark,
          strArg("snapshot_expire", exprs, 0),
          longArg("snapshot_expire", exprs, 1).toInt)
        outcomeRow(spark, Seq("n_files_deleted" -> n))
      }),
    ("snapshot_analyze",
      new ExpressionInfo(getClass.getName, null, "snapshot_analyze",
        "_FUNC_(path, col[, k]) - ANALYZE: compute the column's KMV " +
          "distinct sketch for the current version and persist it to " +
          "the _stats sidecar (exact until k distinct hashes, flagged " +
          "estimate after). The result row reports (version, ndv, " +
          "exact 1|0)",
        "_FUNC_(string, string[, bigint])"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2 || exprs.length == 3,
          s"snapshot_analyze: expected 2-3 arguments, got ${exprs.length}")
        val spark = SparkSession.active
        val k = if (exprs.length == 3)
          longArg("snapshot_analyze", exprs, 2).toInt else 1024
        val st = TableStats.analyze(spark,
          strArg("snapshot_analyze", exprs, 0),
          Seq(strArg("snapshot_analyze", exprs, 1)), k)
        val sk = st.sketches.head
        outcomeRow(spark, Seq("version" -> st.version,
          "ndv" -> math.round(sk.estimate),
          "exact" -> (if (sk.sat) 0L else 1L)))
      }),
    ("snapshot_analyze_ranks",
      new ExpressionInfo(getClass.getName, null, "snapshot_analyze_ranks",
        "_FUNC_(path, col[, m]) - ANALYZE rank statistics: build the " +
          "column's deterministic quantile summary (~m weighted " +
          "points) for the current version and persist it to the " +
          "_stats sidecar. The result row reports (version, n_rows, " +
          "err_rows, n_points); err_rows 0 means exact order statistics",
        "_FUNC_(string, string[, bigint])"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2 || exprs.length == 3,
          s"snapshot_analyze_ranks: expected 2-3 arguments, got ${exprs.length}")
        val spark = SparkSession.active
        val m = if (exprs.length == 3)
          longArg("snapshot_analyze_ranks", exprs, 2).toInt else 1024
        val rf = RankStats.analyze(spark,
          strArg("snapshot_analyze_ranks", exprs, 0),
          Seq(strArg("snapshot_analyze_ranks", exprs, 1)), m)
        val s = rf.summaries.head
        outcomeRow(spark, Seq("version" -> rf.version, "n_rows" -> s.n,
          "err_rows" -> s.errRows, "n_points" -> s.values.length.toLong))
      }),
    ("snapshot_analyze_sums",
      new ExpressionInfo(getClass.getName, null, "snapshot_analyze_sums",
        "_FUNC_(path, col, ...) - ANALYZE exact column sums: record " +
          "decimal-exact sums + non-null counts of the given INTEGRAL/" +
          "DECIMAL columns in the _stats sidecar (existing NDV " +
          "sketches are recomputed alongside, keeping the sidecar one " +
          "consistent snapshot). A 'group:'-prefixed column " +
          "additionally records its PER-PARTITION sums (the grouped " +
          "fold + snapshot_group_sums lane). Feeds the metadata " +
          "sum/avg folds and snapshot_sums. The result row reports " +
          "(version, n_cols)",
        "_FUNC_(string, string, ...)"),
      (exprs: Seq[Expression]) => {
        require(exprs.length >= 2,
          s"snapshot_analyze_sums: expected >= 2 arguments, got ${exprs.length}")
        val spark = SparkSession.active
        val path = strArg("snapshot_analyze_sums", exprs, 0)
        val raw = (1 until exprs.length)
          .map(i => strArg("snapshot_analyze_sums", exprs, i))
        val groupCols = raw.filter(_.startsWith("group:"))
          .map(_.stripPrefix("group:"))
        val cols = raw.map(_.stripPrefix("group:")).distinct
        val prev = TableStats.readStats(spark, path)
        val st = TableStats.analyze(spark, path,
          prev.map(_.sketches.map(_.col)).getOrElse(Seq.empty),
          prev.flatMap(_.sketches.headOption).map(_.k).getOrElse(1024),
          sumCols = cols, groupSumCols = groupCols)
        outcomeRow(spark, Seq("version" -> st.version,
          "n_cols" -> st.sums.length.toLong))
      }),
    ("snapshot_sums",
      new ExpressionInfo(getClass.getName, null, "snapshot_sums",
        "_FUNC_(path, col) - the column's exact sum served from the " +
          "stats sidecar with a freshness proof (current version + " +
          "fingerprints; a delete-only commit refuses): one row " +
          "(col, sum_value, n_nonnull), answered from metadata alone. " +
          "sum_value is NULL when no non-null rows were recorded or " +
          "the exact total exceeds the BIGINT range. Errors loudly " +
          "when the sidecar is missing or stale",
        "_FUNC_(string, string)"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2,
          s"snapshot_sums: expected 2 arguments, got ${exprs.length}")
        val spark = SparkSession.active
        val path = strArg("snapshot_sums", exprs, 0)
        val column = strArg("snapshot_sums", exprs, 1)
        val (bd, nn) = TableStats.sumsServed(spark, path, column).getOrElse(
          throw new IllegalArgumentException(
            s"snapshot_sums: no fresh exact sum for $column of $path " +
              "at the current version - run snapshot_analyze_sums first"))
        // longValueExact also refuses a SCALED total (a decimal
        // column's cents): sum_value stays the BIGINT lane, the exact
        // decimal rides sum_text verbatim
        val asLong: Option[Long] =
          if (nn == 0L) None
          else scala.util.Try(bd.longValueExact()).toOption
        val asText: Option[String] =
          if (nn == 0L) None else Some(bd.toPlainString)
        import spark.implicits._
        // sum_text LAST: positional consumers of the original
        // (col, sum_value, n_nonnull) shape keep working
        Seq((column, asLong, nn, asText))
          .toDF("col", "sum_value", "n_nonnull", "sum_text")
          .queryExecution.logical
      }),
    ("snapshot_group_sums",
      new ExpressionInfo(getClass.getName, null, "snapshot_group_sums",
        "_FUNC_(path, col) - the column's exact PER-PARTITION sums " +
          "served from the stats sidecar with a freshness proof " +
          "(current version + fingerprints): one row per partition " +
          "value (part_col, part_value, sum_value, n_nonnull, " +
          "sum_text), answered from metadata alone. sum_value is NULL " +
          "outside the BIGINT range; the exact decimal rides " +
          "sum_text. Errors loudly when the sidecar is missing, " +
          "stale, or the column has no grouped lane (run " +
          "snapshot_analyze_sums with group columns)",
        "_FUNC_(string, string)"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2,
          s"snapshot_group_sums: expected 2 arguments, got ${exprs.length}")
        val spark = SparkSession.active
        val path = strArg("snapshot_group_sums", exprs, 0)
        val column = strArg("snapshot_group_sums", exprs, 1)
        val gs = TableStats.groupSumsServed(spark, path, column).getOrElse(
          throw new IllegalArgumentException(
            s"snapshot_group_sums: no fresh per-partition sums for " +
              s"$column of $path at the current version - analyze with " +
              "groupSumCols first"))
        import spark.implicits._
        gs.groups.map { case (v, bd, nn) =>
          val asLong: Option[Long] =
            if (nn == 0L) None
            else scala.util.Try(bd.longValueExact()).toOption
          val asText: Option[String] =
            if (nn == 0L) None else Some(bd.toPlainString)
          (gs.partCol, v, asLong, nn, asText)
        }.toDF("part_col", "part_value", "sum_value", "n_nonnull",
          "sum_text")
          .queryExecution.logical
      }),
    ("snapshot_quantiles",
      new ExpressionInfo(getClass.getName, null, "snapshot_quantiles",
        "_FUNC_(path, col, q, ...) - quantiles served from the rank " +
          "sidecar with a freshness proof: one row per requested q " +
          "(q, value, err_rows, n_rows), answered from metadata alone. " +
          "Errors loudly when the sidecar is missing or stale for the " +
          "CURRENT version (run snapshot_analyze_ranks / refresh) - " +
          "it degrades to a refusal, never to a silent scan or a lie",
        "_FUNC_(string, string, double, ...)"),
      (exprs: Seq[Expression]) => {
        require(exprs.length >= 3,
          s"snapshot_quantiles: expected >= 3 arguments, got ${exprs.length}")
        val spark = SparkSession.active
        val path = strArg("snapshot_quantiles", exprs, 0)
        val column = strArg("snapshot_quantiles", exprs, 1)
        val qs = (2 until exprs.length)
          .map(i => dblArg("snapshot_quantiles", exprs, i))
        val (vals, err, n) =
          RankStats.quantilesServed(spark, path, column, qs).getOrElse(
            throw new IllegalArgumentException(
              s"snapshot_quantiles: no fresh rank summary for $column " +
                s"of $path at the current version - run " +
                "snapshot_analyze_ranks (or RankStats.refresh) first"))
        import spark.implicits._
        qs.zip(vals).map { case (q, v) => (q, v, err, n) }
          .toDF("q", "value", "err_rows", "n_rows")
          .queryExecution.logical
      }),
    ("snapshot_histogram",
      new ExpressionInfo(getClass.getName, null, "snapshot_histogram",
        "_FUNC_(path, col, buckets) - equi-depth histogram served from " +
          "the rank sidecar with the same freshness proof as " +
          "snapshot_quantiles: one row per bucket (bucket, lo, hi, " +
          "n_rows), exact in the uncompressed regime, answered from " +
          "metadata alone. Errors loudly when the sidecar is missing " +
          "or stale for the current version",
        "_FUNC_(string, string, bigint)"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 3,
          s"snapshot_histogram: expected 3 arguments, got ${exprs.length}")
        val spark = SparkSession.active
        val path = strArg("snapshot_histogram", exprs, 0)
        val column = strArg("snapshot_histogram", exprs, 1)
        val buckets = longArg("snapshot_histogram", exprs, 2).toInt
        // served through the CURRENT-VERSION freshness gate (the
        // quantilesServed proof): a planned-path fingerprint alone
        // would accept a delete-only commit (same data paths, new
        // delete files) and include deleted rows
        val rows = RankStats.histogramServed(spark, path, column, buckets)
          .getOrElse(throw new IllegalArgumentException(
            s"snapshot_histogram: no fresh rank summary for $column of " +
              s"$path at the current version - run snapshot_analyze_ranks " +
              "(or RankStats.refresh) first"))
        import spark.implicits._
        rows.zipWithIndex
          .map { case ((lo, hi, rows), i) => (i + 1L, lo, hi, rows) }
          .toDF("bucket", "lo", "hi", "n_rows")
          .queryExecution.logical
      }),
    ("snapshot_stats",
      new ExpressionInfo(getClass.getName, null, "snapshot_stats",
        "_FUNC_(path[, col]) - per-version physical profile from " +
          "manifests only: (version, n_files, n_rows, n_bytes, " +
          "n_delete_files, min_val, max_val, n_nulls); with a column " +
          "argument the bounds/null cells fill where provable, SQL " +
          "NULL otherwise; zero data-file reads",
        "_FUNC_(string[, string])"),
      (exprs: Seq[Expression]) => {
        val spark = SparkSession.active
        val path = strArg("snapshot_stats", exprs, 0)
        val df = exprs.length match {
          case 1 => SnapshotTable.statsHistory(spark, path)
          case 2 => SnapshotTable.statsHistory(spark, path,
            Some(strArg("snapshot_stats", exprs, 1)))
          case n => throw new IllegalArgumentException(
            s"snapshot_stats: expected 1 or 2 arguments, got $n")
        }
        df.queryExecution.logical
      }),
    ("snapshot_declare_key",
      new ExpressionInfo(getClass.getName, null, "snapshot_declare_key",
        "_FUNC_(path, cols[, validate 1|0]) - declare `cols` (one name " +
          "or a comma-separated composite) UNIQUE over the snapshot " +
          "table (informational / RELY): feeds join and distinct " +
          "elimination. validate=1 probes the current version once and " +
          "refuses a violated declaration. The result row reports " +
          "(validated 1|0)",
        "_FUNC_(string, string[, bigint])"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2 || exprs.length == 3,
          s"snapshot_declare_key: expected 2-3 arguments, got ${exprs.length}")
        val spark = SparkSession.active
        val validate = exprs.length == 3 &&
          longArg("snapshot_declare_key", exprs, 2) == 1L
        graft.plans.JoinElimination.declareUniqueKey(spark,
          strArg("snapshot_declare_key", exprs, 0),
          strArg("snapshot_declare_key", exprs, 1)
            .split(",").map(_.trim).toSeq, validate)
        outcomeRow(spark, Seq("validated" -> (if (validate) 1L else 0L)))
      }),
    ("snapshot_declare_fk",
      new ExpressionInfo(getClass.getName, null, "snapshot_declare_fk",
        "_FUNC_(fact_path, fk_col, dim_path, pk_col[, validate 1|0]) - " +
          "declare a FOREIGN KEY (informational / RELY; the pk must be " +
          "declared unique first): feeds inner-join elimination. " +
          "validate=1 probes the current versions with one anti-join. " +
          "The result row reports (validated 1|0)",
        "_FUNC_(string, string, string, string[, bigint])"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 4 || exprs.length == 5,
          s"snapshot_declare_fk: expected 4-5 arguments, got ${exprs.length}")
        val spark = SparkSession.active
        val validate = exprs.length == 5 &&
          longArg("snapshot_declare_fk", exprs, 4) == 1L
        graft.plans.JoinElimination.declareForeignKey(spark,
          strArg("snapshot_declare_fk", exprs, 0),
          strArg("snapshot_declare_fk", exprs, 1),
          strArg("snapshot_declare_fk", exprs, 2),
          strArg("snapshot_declare_fk", exprs, 3), validate)
        outcomeRow(spark, Seq("validated" -> (if (validate) 1L else 0L)))
      }),
    ("snapshot_append_unique",
      new ExpressionInfo(getClass.getName, null, "snapshot_append_unique",
        "_FUNC_(path, source, key_col, part_col, index, mode) - append " +
          "the view/table named `source` enforcing key uniqueness via " +
          "the secondary index at `index`: mode 'error' refuses a " +
          "conflicting batch, 'skip' drops conflicting rows. Write " +
          "procedure in TVF syntax; the result row reports (version, " +
          "n_inserted, n_conflicts)",
        "_FUNC_(string, string, string, string, string, string)"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 6,
          s"snapshot_append_unique: expected 6 arguments, got ${exprs.length}")
        val spark = SparkSession.active
        val (v, nI, nC) = SecondaryIndex.appendUnique(spark,
          strArg("snapshot_append_unique", exprs, 0),
          spark.table(strArg("snapshot_append_unique", exprs, 1)),
          strArg("snapshot_append_unique", exprs, 2),
          strArg("snapshot_append_unique", exprs, 3),
          strArg("snapshot_append_unique", exprs, 4),
          onConflict = strArg("snapshot_append_unique", exprs, 5))
        outcomeRow(spark, Seq("version" -> v, "n_inserted" -> nI,
          "n_conflicts" -> nC))
      }),
    ("snapshot_enable_eager_agg",
      new ExpressionInfo(getClass.getName, null, "snapshot_enable_eager_agg",
        "_FUNC_(path[, force 1|0]) - opt the snapshot table into eager " +
          "aggregation (partial aggregates pushed below inner " +
          "equi-joins when it is the fact side); fresh NDV sketches " +
          "still DECLINE a rewrite proven unable to halve the shuffle " +
          "unless force=1. The result row reports (enabled)",
        "_FUNC_(string[, bigint])"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 1 || exprs.length == 2,
          s"snapshot_enable_eager_agg: expected 1-2 arguments, got ${exprs.length}")
        val spark = SparkSession.active
        val force = exprs.length == 2 &&
          longArg("snapshot_enable_eager_agg", exprs, 1) == 1L
        graft.plans.EagerAggregation.enableFor(
          strArg("snapshot_enable_eager_agg", exprs, 0), force)
        outcomeRow(spark, Seq("enabled" -> 1L))
      }),
    ("snapshot_enable_dynamic_prune",
      new ExpressionInfo(getClass.getName, null,
        "snapshot_enable_dynamic_prune",
        "_FUNC_(path) - register the snapshot table as a dynamic-prune " +
          "BUILD side: joins whose provably-small side reads it may " +
          "execute that side once at planning time and push its " +
          "distinct join keys into the probe scan as an IN, pruning " +
          "probe FILES by partition stamp / stats / bloom. The result " +
          "row reports (enabled)",
        "_FUNC_(string)"),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 1,
          s"snapshot_enable_dynamic_prune: expected 1 argument, got ${exprs.length}")
        val spark = SparkSession.active
        graft.plans.DynamicPrune.enableFor(spark,
          strArg("snapshot_enable_dynamic_prune", exprs, 0))
        outcomeRow(spark, Seq("enabled" -> 1L))
      }))

  /** One-row outcome relation for the write procedures. */
  private def outcomeRow(spark: SparkSession,
                         cols: Seq[(String, Long)]): LogicalPlan = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    spark.createDataFrame(
      java.util.Collections.singletonList(Row(cols.map(_._2): _*)),
      StructType(cols.map(c => StructField(c._1, LongType, nullable = false))))
      .queryExecution.logical
  }

  /** Imperative per-session registration (idempotent — re-registering
    * replaces the previous builder).
    */
  def register(spark: SparkSession): Unit =
    tvfs.foreach { case (name, info, builder) =>
      GraftRegistryBridge.registerTableFunction(spark, name, info, builder)
    }
}
