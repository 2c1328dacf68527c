package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QueryPack, Staged, Tables}

/** `[EXT]` manifest-committed snapshot table — atomic multi-partition
  * commits and snapshot-isolated readers for a plain-parquet table,
  * following the published Iceberg/Delta construction (a log of
  * immutable manifests naming immutable data files; readers pin one
  * manifest; writers race on publishing the next). [[Upsert]] mutates
  * partition directories in place — its two-rename swap is atomic per
  * partition but a reader planned mid-loop can see partition A new and
  * partition B old. Here a commit is ONE atomic event (the manifest
  * rename), data files are never modified or renamed after creation,
  * and old snapshots remain readable until [[vacuum]].
  *
  * Layout:
  * {{{
  *   table/data/<commit>-part-*.parquet   immutable; partition column
  *                                        stored IN the rows (no hive dirs)
  *   table/_manifests/seg-<uuid>.json     immutable SEGMENT; one line per
  *                                        file: {"path","parts",...,"stats"}
  *   table/_manifests/v<N>.json           manifest LIST; header + one line
  *                                        per segment: {"seg","files","rows"}
  * }}}
  *
  * Commit protocol (optimistic, Iceberg's HadoopTableOperations shape):
  * write data files → write a segment for the fresh entries (and
  * rewrite only segments that LOSE entries; untouched segments carry by
  * NAME) → write `v<N+1>.json.tmp.<uuid>` → RENAME to `v<N+1>.json`.
  * The rename is the commit point: it fails if a concurrent writer
  * published N+1 first (loud conflict — [[commitWithRetry]] rebases and
  * retries); a crash before it leaves orphan files/segments that no
  * list references (cleaned by [[vacuum]], invisible to readers).
  * Commit METADATA is therefore O(changed files + #segments), never
  * O(table files) — a micro-batch append to a 100k-file table writes
  * one small segment and a list of segment names, not a 10 MB file
  * inventory ([[foldIfWide]] bounds the segment count). Version
  * discovery lists `_manifests` — small (one entry per commit), so no
  * hint file is needed; a real object-store deployment would add one as
  * a fast path.
  *
  * Scale shape: planning reads ONE small manifest — no recursive
  * directory listing (the 100 TB killer for hive layouts). Partition
  * pruning becomes manifest-level FILE SKIPPING: each entry records the
  * file's partition values (the writer emits exactly one value per
  * file), and [[readWhere]] plans only intersecting files.
  * [[commitMerge]] is the
  * snapshot-isolated MERGE: affected files (batch partitions + detected
  * cross-partition movers, both at FILE granularity) are read, merged,
  * and replaced in the next manifest; untouched files are carried over
  * by reference — zero IO, zero rewrite.
  */
object SnapshotTable extends QueryPack {

  private val maintLog =
    org.slf4j.LoggerFactory.getLogger("graft.sources.SnapshotTable")

  /** Per-file min/max of one numeric column (stored as doubles — exact
    * for bigint keys up to 2^53; timestamps record epoch seconds). The
    * column NAME rides along so a read pruning on a different column
    * can never skip on the wrong stats. `nulls` is the file's NULL
    * count for the column (−1 = not recorded — legacy entries): with it
    * `count(col)` becomes a manifest fold and `IS [NOT] NULL`
    * predicates skip all-null / no-null files. An ALL-NULL column
    * records NaN bounds (range skipping and min/max folding both
    * refuse NaN; the null count is still exact).
    */
  final case class ColStats(col: String, lo: Double, hi: Double,
                            nulls: Long = -1L)

  /** Per-file BLOOM FILTER over one column's values — equality/IN
    * skipping for columns min/max can't help with (high-cardinality
    * ids scattered across a layout clustered on something else; the
    * Iceberg-Puffin / Delta-bloom construction, inlined into the
    * manifest because at `mBits` = 8192 it is ~1 KB per file·column).
    * Bit positions are `xxhash64(value, i) mod mBits` for hash round
    * `i < kHashes` — the SAME Catalyst expression the writer aggregated
    * with, evaluated driver-side at planning, so writer and prober can
    * never disagree. Membership "no" is exact → skipping drops only
    * proven-absent files; "yes" (incl. false positives) scans.
    */
  final case class ColBloom(col: String, mBits: Int, kHashes: Int,
                            bits: Array[Long]) {
    def mightContain(positions: Seq[Int]): Boolean =
      positions.forall(p => (bits(p >> 6) & (1L << (p & 63))) != 0L)
  }

  /** One segment line. `parts` is the file's partition-value list
    * (`None` = unknown, never skipped — reserved for future multi-value
    * files; the current writer emits exactly one value per file).
    * `stats` holds PER-COLUMN min/max for range skipping — a file with
    * no stats for a column is never skipped on it. `seq` is the version
    * the file was committed at (0 = the create commit): equality
    * deletes apply only to files with a SMALLER seq, so a later append
    * legitimately re-inserts a lazily-deleted key.
    */
  final case class FileEntry(path: String, parts: Option[Seq[String]],
                             rows: Long, stats: Seq[ColStats] = Seq.empty,
                             seq: Long = 0L, bytes: Long = 0L,
                             partBy: Option[String] = None,
                             blooms: Seq[ColBloom] = Seq.empty) {
    /** The column this file's `parts` values belong to — its own stamp,
      * or (pre-partition-evolution manifests) the table default. Parts
      * pruning on any OTHER column must never skip this file.
      */
    def effPartCol(default: Option[String]): Option[String] =
      partBy.orElse(default)
  }

  /** One equality-delete line in the manifest list (the Iceberg v2
    * merge-on-read construction): `path` is a small parquet of `col`
    * key values whose rows are masked at READ time from data files
    * committed before `seq`. Recording one costs O(keys) — the delete
    * write path for CDC/GDPR streams at 100 TB, where an eager
    * candidate-scan + rewrite per batch would dwarf the ingest;
    * [[applyDeletes]] materializes them off the write path.
    */
  final case class DeleteFile(path: String, col: String, rows: Long,
                              seq: Long)

  private def fs(spark: SparkSession, table: String): FileSystem =
    new Path(table).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifestDir(table: String) = new Path(table, "_manifests")
  private def dataDir(table: String) = new Path(table, "data")

  private val vRe = raw"v(\d+)\.json".r

  /** Committed versions, ascending (listing `_manifests`, tmp files and
    * debris ignored).
    */
  def versions(spark: SparkSession, table: String): Seq[Long] = {
    val f = fs(spark, table)
    val dir = manifestDir(table)
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).toSeq.flatMap(_.getPath.getName match {
      case vRe(n) => Some(n.toLong)
      case _      => None
    }).sorted
  }

  def currentVersion(spark: SparkSession, table: String): Long =
    versions(spark, table).lastOption.getOrElse(
      sys.error(s"snapshot table $table has no committed version"))

  // ---- manifest (de)serialization: flat JSON lines, repo-escaped

  private[sources] def esc(s: String): String =
    s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c    => c.toString
    }
  private[sources] def unesc(s: String): String = {
    val b = new StringBuilder; var i = 0
    while (i < s.length) {
      s(i) match {
        case '\\' if i + 1 < s.length =>
          s(i + 1) match {
            case 'u' => b.append(Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar); i += 6
            case c   => b.append(c); i += 2
          }
        case c => b.append(c); i += 1
      }
    }
    b.toString
  }

  private def entryJson(e: FileEntry): String = {
    val parts = e.parts match {
      case None     => "\"*\""
      case Some(ps) => ps.map(p => "\"" + esc(p) + "\"").mkString("[", ",", "]")
    }
    val stats = if (e.stats.isEmpty) "" else
      e.stats.map { s =>
        val nu = if (s.nulls < 0L) "" else s""","nu":${s.nulls}"""
        s"""{"col":"${esc(s.col)}","lo":${s.lo},"hi":${s.hi}$nu}"""
      }.mkString(""","stats":[""", ",", "]")
    val seq = if (e.seq == 0L) "" else s""","seq":${e.seq}"""
    // bytes ride the entry so PLANNING (split sizing, relation
    // sizeInBytes) never stats files — at 100 TB / 100k files that is
    // 100k RPCs per query saved; 0 = unknown (legacy entry), statted
    // lazily on first plan
    val bytes = if (e.bytes == 0L) "" else s""","bytes":${e.bytes}"""
    val pcol = e.partBy.fold("")(c => s""","pcol":"${esc(c)}"""")
    val blooms = if (e.blooms.isEmpty) "" else
      e.blooms.map(b => s"""{"col":"${esc(b.col)}","m":${b.mBits},""" +
        s""""k":${b.kHashes},"bits":"${bloomToB64(b.bits)}"}""")
        .mkString(""","blooms":[""", ",", "]")
    s"""{"path":"${esc(e.path)}","parts":$parts,"rows":${e.rows}$bytes$pcol$blooms$stats$seq}"""
  }

  private def bloomToB64(bits: Array[Long]): String = {
    val bb = java.nio.ByteBuffer.allocate(bits.length * 8)
    bits.foreach(bb.putLong)
    java.util.Base64.getEncoder.encodeToString(bb.array())
  }

  private def bloomFromB64(s: String): Array[Long] = {
    val raw = java.util.Base64.getDecoder.decode(s)
    val bb = java.nio.ByteBuffer.wrap(raw)
    Array.fill(raw.length / 8)(bb.getLong)
  }

  private val entryRe =
    raw"""\{"path":"(.*)","parts":(\[.*\]|"\*"),"rows":(\d+)(,"bytes":(\d+))?(,"pcol":"((?:[^"\\]|\\.)*)")?(,"blooms":\[(.*?)\])?(,"stats":\[(.*)\])?(,"seq":(\d+))?\}""".r
  private val bloomItemRe =
    raw"""\{"col":"((?:[^"\\]|\\.)*)","m":(\d+),"k":(\d+),"bits":"([A-Za-z0-9+/=]*)"\}""".r
  private val statsItemRe =
    raw"""\{"col":"((?:[^"\\]|\\.)*)","lo":([-0-9.eENaN]+),"hi":([-0-9.eENaN]+)(?:,"nu":(\d+))?\}""".r
  private val quotedRe = "\"((?:[^\"\\\\]|\\\\.)*)\"".r

  private def parseEntry(line: String): FileEntry = line.trim match {
    case entryRe(p, parts, rows, _, bytesGrp, _, pcolGrp, _, bloomsBody, _, statsBody, _, seqGrp) =>
      val ps = if (parts == "\"*\"") None
        else Some(quotedRe.findAllMatchIn(parts).map(m => unesc(m.group(1))).toSeq)
      val stats = Option(statsBody).toSeq.flatMap(b =>
        statsItemRe.findAllMatchIn(b).map(m =>
          ColStats(unesc(m.group(1)), m.group(2).toDouble, m.group(3).toDouble,
            Option(m.group(4)).map(_.toLong).getOrElse(-1L))))
      val blooms = Option(bloomsBody).toSeq.flatMap(b =>
        bloomItemRe.findAllMatchIn(b).map(m =>
          ColBloom(unesc(m.group(1)), m.group(2).toInt, m.group(3).toInt,
            bloomFromB64(m.group(4)))))
      FileEntry(unesc(p), ps, rows.toLong, stats,
        Option(seqGrp).map(_.toLong).getOrElse(0L),
        Option(bytesGrp).map(_.toLong).getOrElse(0L),
        Option(pcolGrp).map(unesc), blooms)
    case other => sys.error(s"snapshot manifest: bad entry: $other")
  }

  /** Version-level metadata riding the manifest list's header line: the
    * cumulative committed-tag ledger, the table's recorded stats
    * columns, and its CURRENT schema as a DDL string. Tags live here
    * (not in file names) because [[compact]] renames data files; the
    * stats columns live here so an append never has to read the full
    * file list to learn what to record; the schema lives here because
    * schema evolution must not rewrite old files — readers apply the
    * recorded schema and parquet fills absent columns with null.
    */
  /** `checks` are table-level CHECK constraints — SQL boolean
    * expressions over column names, enforced on every commit's FRESH
    * rows (SQL-standard three-valued semantics: a row violates only
    * when the expression is FALSE; NULL/unknown passes, as in Delta's
    * CHECK). They are expression STRINGS over current column names: a
    * rename/drop that orphans a referenced name fails loudly at the
    * next enforcement, never silently.
    */
  /** `bucketBy`/`buckets` record the table's BUCKET SPEC (Spark
    * bucketing: bucket id = `pmod(murmur3hash(col), n)`, stamped into
    * every data-file name) — the read path then serves the relation
    * with a `BucketSpec`, so joins/aggregations on the bucket column
    * elide their shuffle entirely. Set at create; every rewrite path
    * re-buckets through the header, so the invariant "every data file
    * carries a valid bucket id" holds for the table's lifetime.
    *
    * `sortBy` (bucketed tables only) is the table's SORT ORDER (the
    * Iceberg sort-order / Hive SORTED BY construction): every data
    * file holds its rows ordered by this column, the invariant riding
    * every rewrite path exactly like the bucket spec, and the read
    * serves it as the `BucketSpec`'s sort columns. Spark then claims
    * the scan's `outputOrdering` precisely when the PLANNED file set
    * holds at most one file per bucket (its own single-file-per-bucket
    * rule) — a sort-merge join on the bucket column plans with zero
    * exchanges AND zero sorts; an append that splits a bucket across
    * files degrades the claim (never the correctness), and [[compact]]
    * restores it.
    */
  final case class Header(tags: Set[String] = Set.empty,
                          schema: Option[String] = None,
                          statsCols: Seq[String] = Seq.empty,
                          partCol: Option[String] = None,
                          bloomCols: Seq[String] = Seq.empty,
                          checks: Seq[String] = Seq.empty,
                          bucketBy: Option[String] = None,
                          buckets: Int = 0,
                          sortBy: Option[String] = None) {
    def bucket: Option[(String, Int)] = bucketBy.map(_ -> buckets)
  }

  // ---- manifest lists + segments (the O(changed)-commit construction)
  //
  // A version is a LIST file naming immutable SEGMENT files; segments
  // hold the entries. A commit writes one fresh segment for its new
  // files, rewrites only segments that LOSE entries, and publishes a
  // list referencing carried segments by name — so commit metadata is
  // O(changed files + #segments), never O(table files). This is the
  // published Iceberg manifest-list layering; [[foldIfWide]] bounds
  // #segments the way Iceberg's commit-time manifest merge does.

  /** One manifest-list line. `files`/`rows`/`bytes` ride along so
    * [[history]], fold decisions, and the streaming source's byte
    * admission read only the list, never the segments (bytes 0 =
    * pre-recording segment; consumers treat it as unknown).
    */
  private[sources] final case class SegmentRef(path: String, files: Int,
                                               rows: Long, bytes: Long = 0L)

  private def segJson(r: SegmentRef): String = {
    val bytes = if (r.bytes == 0L) "" else s""","bytes":${r.bytes}"""
    s"""{"seg":"${esc(r.path)}","files":${r.files},"rows":${r.rows}$bytes}"""
  }
  private val segRe =
    raw"""\{"seg":"(.*)","files":(\d+),"rows":(\d+)(?:,"bytes":(\d+))?\}""".r

  private def delJson(d: DeleteFile): String =
    s"""{"del":"${esc(d.path)}","col":"${esc(d.col)}","rows":${d.rows},"seq":${d.seq}}"""
  private val delRe =
    raw"""\{"del":"(.*)","col":"(.*)","rows":(\d+),"seq":(\d+)\}""".r

  /** Write an immutable segment holding `entries` — not part of any
    * version until a list references it (a conflict-orphaned segment is
    * vacuum food, invisible to readers).
    */
  private def writeSegment(spark: SparkSession, table: String,
                           entries: Seq[FileEntry]): SegmentRef = {
    val f = fs(spark, table)
    val dir = manifestDir(table)
    f.mkdirs(dir)
    val name = s"seg-${java.util.UUID.randomUUID.toString.take(12)}.json"
    val out = f.create(new Path(dir, name), false)
    try out.write(entries.map(entryJson).mkString("", "\n", "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    SegmentRef(name, entries.size, entries.map(_.rows).sum,
      entries.map(_.bytes).sum)
  }

  private def readLines(f: FileSystem, p: Path): List[String] = {
    val in = f.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filter(_.nonEmpty).toList
    finally in.close()
  }

  private[sources] def readSegment(spark: SparkSession, table: String,
                                   ref: SegmentRef): Seq[FileEntry] =
    readLines(fs(spark, table), new Path(manifestDir(table), ref.path))
      .map(parseEntry)

  // header order is load-bearing for the parse: tags and statsCols are
  // simple values (no unescaped brackets), so their non-greedy groups
  // terminate correctly; the schema DDL is arbitrary and goes LAST
  private val headerRe =
    raw"""\{"tags":\[(.*?)\](?:,"statsCols":\[(.*?)\])?(?:,"bloomCols":\[(.*?)\])?(?:,"checks":\[(.*?)\])?(?:,"bucketBy":"((?:[^"\\]|\\.)*)","buckets":(\d+))?(?:,"sortBy":"((?:[^"\\]|\\.)*)")?(?:,"partCol":"((?:[^"\\]|\\.)*)")?(?:,"schema":"(.*)")?\}""".r

  /** The per-version manifest list: segment refs, equality-delete refs,
    * and the header.
    */
  private[sources] def readListRaw(spark: SparkSession, table: String,
                                   version: Long): (Seq[SegmentRef], Seq[DeleteFile], Header) =
    readListAt(fs(spark, table), new Path(manifestDir(table), s"v$version.json"))

  private def readListAt(f: FileSystem,
                         path: Path): (Seq[SegmentRef], Seq[DeleteFile], Header) = {
    readLines(f, path) match {
      case headerRe(tagsBody, statsBody, bloomBody, checksBody, bucketByGrp,
                    bucketsGrp, sortByGrp, partColGrp, schemaGrp) :: rest =>
        val tags = quotedRe.findAllMatchIn(tagsBody)
          .map(m => unesc(m.group(1))).toSet
        val statsCols = Option(statsBody).toSeq.flatMap(b =>
          quotedRe.findAllMatchIn(b).map(m => unesc(m.group(1))))
        val bloomCols = Option(bloomBody).toSeq.flatMap(b =>
          quotedRe.findAllMatchIn(b).map(m => unesc(m.group(1))))
        val checks = Option(checksBody).toSeq.flatMap(b =>
          quotedRe.findAllMatchIn(b).map(m => unesc(m.group(1))))
        val (segLines, rest2) = rest.partition(_.trim.startsWith("{\"seg\""))
        val refs = segLines.map(_.trim match {
          case segRe(p, files, rows, bytesGrp) =>
            SegmentRef(unesc(p), files.toInt, rows.toLong,
              Option(bytesGrp).map(_.toLong).getOrElse(0L))
          case other => sys.error(s"snapshot manifest list: bad line: $other")
        })
        val deletes = rest2.map(_.trim match {
          case delRe(p, c, rows, seq) =>
            DeleteFile(unesc(p), unesc(c), rows.toLong, seq.toLong)
          case other => sys.error(s"snapshot manifest list: bad line: $other")
        })
        (refs, deletes, Header(tags, Option(schemaGrp).map(unesc), statsCols,
          Option(partColGrp).map(unesc), bloomCols, checks,
          Option(bucketByGrp).map(unesc),
          Option(bucketsGrp).map(_.toInt).getOrElse(0),
          Option(sortByGrp).map(unesc)))
      case Nil => (Seq.empty, Seq.empty, Header())
      case other :: _ =>
        sys.error(s"snapshot manifest list: bad header: $other")
    }
  }

  private[sources] def readManifestList(spark: SparkSession, table: String,
                                        version: Long): (Seq[SegmentRef], Header) = {
    val (refs, _, hdr) = readListRaw(spark, table, version)
    (refs, hdr)
  }

  /** Publish `version` referencing `refs` — THE commit point (tmp write
    * + rename). The list is O(#segments) bytes regardless of table
    * size; the rename fails iff a concurrent writer published this
    * version first (loud conflict; callers retry via
    * [[commitWithRetry]] or re-read and rebase themselves).
    */
  private def commitList(spark: SparkSession, table: String, version: Long,
                         refs: Seq[SegmentRef], deletes: Seq[DeleteFile],
                         hdr: Header): Unit =
    writeListAt(fs(spark, table), manifestDir(table), s"v$version.json",
      refs, deletes, hdr,
      s"snapshot commit conflict: v$version already published for $table")

  private def writeListAt(f: FileSystem, dir: Path, targetName: String,
                          refs: Seq[SegmentRef], deletes: Seq[DeleteFile],
                          hdr: Header, conflictMsg: String): Unit = {
    f.mkdirs(dir)
    val tmp = new Path(dir, s"$targetName.tmp.${java.util.UUID.randomUUID.toString.take(8)}")
    val header = hdr.tags.toSeq.sorted
      .map(t => "\"" + esc(t) + "\"").mkString("""{"tags":[""", ",", "]") +
      (if (hdr.statsCols.isEmpty) "" else hdr.statsCols
        .map(c => "\"" + esc(c) + "\"").mkString(""","statsCols":[""", ",", "]")) +
      (if (hdr.bloomCols.isEmpty) "" else hdr.bloomCols
        .map(c => "\"" + esc(c) + "\"").mkString(""","bloomCols":[""", ",", "]")) +
      (if (hdr.checks.isEmpty) "" else hdr.checks
        .map(c => "\"" + esc(c) + "\"").mkString(""","checks":[""", ",", "]")) +
      hdr.bucketBy.fold("")(c =>
        s""","bucketBy":"${esc(c)}","buckets":${hdr.buckets}""") +
      hdr.sortBy.fold("")(c => s""","sortBy":"${esc(c)}"""") +
      hdr.partCol.fold("")(c => s""","partCol":"${esc(c)}"""") +
      hdr.schema.fold("")(s => s""","schema":"${esc(s)}"""") + "}\n"
    val body = (refs.map(segJson) ++ deletes.map(delJson))
      .mkString("", "\n", "\n")
    val out = f.create(tmp, false)
    try out.write((header + body)
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val target = new Path(dir, targetName)
    if (!publishExclusive(f, tmp, target)) {
      f.delete(tmp, false)
      sys.error(conflictMsg)
    }
  }

  /** The commit point: publish `tmp` at `target` iff `target` does not
    * exist, ATOMICALLY. On a local (POSIX) filesystem rename REPLACES
    * an existing target, so an exists-then-rename pair is a TOCTOU
    * hole: two racers can both "win" and one committed manifest
    * silently vanishes (observed: a concurrent-append spec landing
    * version 4 with one of two rows after both renames succeeded).
    * The mechanism is store-specific and PLUGGABLE — hard link on
    * `file://`, atomic-no-replace rename on HDFS, a registered
    * conditional put on object stores; see [[CommitPrimitive]].
    */
  private[sources] def publishExclusive(f: FileSystem, tmp: Path,
                               target: Path): Boolean =
    CommitPrimitive.forScheme(f.getScheme).publish(f, tmp, target)

  /** Commit-time segment merge: past the threshold, fold ALL segments
    * into one — an O(table files) METADATA write amortized over
    * `segmentFoldThreshold` commits, which keeps both the list and the
    * per-read segment fan-in bounded (Iceberg's min-count-to-merge).
    */
  private val segmentFoldThreshold = 32
  private def foldIfWide(spark: SparkSession, table: String,
                         refs: Seq[SegmentRef]): Seq[SegmentRef] =
    if (refs.size <= segmentFoldThreshold) refs
    else Seq(writeSegment(spark, table,
      refs.flatMap(readSegment(spark, table, _))))

  def readManifest(spark: SparkSession, table: String, version: Long): Seq[FileEntry] =
    readManifestFull(spark, table, version)._1

  /** All of a version's file entries plus the header — the READ path
    * (planning); commits go through [[readMeta]] to keep the
    * entry→segment mapping for reference-carrying.
    */
  def readManifestFull(spark: SparkSession, table: String,
                       version: Long): (Seq[FileEntry], Header) = {
    val (refs, _, hdr) = readListRaw(spark, table, version)
    (refs.flatMap(readSegment(spark, table, _)), hdr)
  }

  /** A version's full metadata: segments WITH their entries, pending
    * equality deletes, and the header.
    */
  private[sources] final case class TableMeta(
      segs: Seq[(SegmentRef, Seq[FileEntry])],
      deletes: Seq[DeleteFile], hdr: Header) {
    def entries: Seq[FileEntry] = segs.flatMap(_._2)
  }

  private def readMeta(spark: SparkSession, table: String,
                       version: Long): TableMeta = {
    val (refs, deletes, hdr) = readListRaw(spark, table, version)
    TableMeta(refs.map(r => r -> readSegment(spark, table, r)), deletes, hdr)
  }

  /** Publish `v + 1` = version `v` minus `removed` paths plus `fresh`
    * entries (stamped with their commit seq), rewriting ONLY segments
    * that lose entries; untouched segments carry by reference.
    */
  private def commitRewrite(spark: SparkSession, table: String, v: Long,
                            segs: Seq[(SegmentRef, Seq[FileEntry])],
                            removed: Set[String], fresh: Seq[FileEntry],
                            deletes: Seq[DeleteFile], hdr: Header): Unit = {
    val kept = segs.flatMap { case (ref, entries) =>
      if (!entries.exists(e => removed.contains(e.path))) Some(ref)
      else {
        val surviving = entries.filterNot(e => removed.contains(e.path))
        if (surviving.isEmpty) None
        else Some(writeSegment(spark, table, surviving))
      }
    }
    val freshRefs =
      if (fresh.isEmpty) Seq.empty
      else Seq(writeSegment(spark, table, fresh.map(_.copy(seq = v + 1))))
    commitList(spark, table, v + 1,
      foldIfWide(spark, table, kept ++ freshRefs), deletes, hdr)
  }

  /** Single-segment commit convenience (create/bootstrap, and the
    * conflict-handling seam the racing-writer spec exercises).
    */
  private[sources] def writeManifest(spark: SparkSession, table: String,
                                     version: Long,
                                     entries: Seq[FileEntry],
                                     hdr: Header = Header()): Unit = {
    val refs =
      if (entries.isEmpty) Seq.empty
      else Seq(writeSegment(spark, table, entries))
    commitList(spark, table, version, refs, Seq.empty, hdr)
  }

  // ---- data-file production

  /** Write `df` as immutable data files under `data/`, exactly one
    * partition value per file (so manifest skipping is exact), and
    * return their manifest entries. Separation comes from the WRITER —
    * `partitionBy` on a duplicate of the partition column — not from a
    * hash repartition, which AQE's partition coalescing would merge at
    * low volume. The duplicate keeps the real column in the row data
    * (snapshot files have no hive layout to re-infer it from);
    * `maxRecordsPerFile` splits a hot value into right-sized files at
    * scale. Partition values must be non-null.
    */
  // bloom geometry: 8192 bits (1 KB) × 6 hash rounds ≈ 2% false
  // positives at ~1k distinct values/file, saturating gracefully —
  // a saturated bloom stops skipping, never lies
  private val bloomBits = 8192
  private val bloomHashes = 6

  /** Driver-side parallel map for per-file metadata work (footer
    * reads): each call is an independent ~10 ms I/O round trip, so a
    * commit staging 100+ files pays seconds sequentially and one round
    * trip wide. Exceptions propagate; the pool never outlives the call.
    */
  private def inParallel[A, B](xs: Seq[A], threads: Int = 16)(fn: A => B): Seq[B] =
    if (xs.lengthCompare(2) < 0) xs.map(fn)
    else {
      val pool = java.util.concurrent.Executors
        .newFixedThreadPool(math.min(threads, xs.size))
      try {
        val fs = xs.map(x => pool.submit(
          new java.util.concurrent.Callable[B] { def call(): B = fn(x) }))
        fs.map(_.get())
      } catch {
        case e: java.util.concurrent.ExecutionException => throw e.getCause
      } finally pool.shutdown()
    }

  private val plannedWriteKey = "spark.sql.optimizer.plannedWrite.enabled"

  private def writeDataFiles(spark: SparkSession, table: String, df: DataFrame,
                             partCol: String,
                             namePrefix: Option[String] = None,
                             statsCols: Seq[String] = Seq.empty,
                             clusterExpr: Option[org.apache.spark.sql.Column] = None,
                             bloomCols: Seq[String] = Seq.empty,
                             bucket: Option[(String, Int)] = None,
                             bucketSort: Option[String] = None,
                             sizeHint: Option[Long] = None): Seq[FileEntry] = {
    val f = fs(spark, table)
    // a batch may legally OMIT a recorded stats column (ADD-only
    // evolution allows absent columns) — its files then carry no stats
    // for it and are never skipped on it
    val effStats = statsCols.filter(df.columns.contains)
    // the optional caller prefix TAGS the files (idempotence probes key
    // on it); the uuid keeps retried attempts from colliding on names
    val commit = namePrefix.map(_ + "_").getOrElse("") +
      java.util.UUID.randomUUID.toString.take(8)
    val staging = new Path(table, s"_staging_$commit")
    // repartition before the write: without it every input task emits
    // its own file per value it touches (compaction would fold N files
    // into N), and with it AQE coalesces small inputs into few writer
    // tasks while partitionBy still enforces per-value file separation.
    // With stats columns the repartition is BY RANGE of the FIRST one
    // (the cluster column) — writer tasks then hold disjoint value
    // ranges, so each (task × partition value) file carries a tight
    // min/max and range skipping actually bites; secondary stats
    // columns prune only as well as they correlate with the cluster
    // column. Without stats, hash by partition value. A hot value
    // serializes into one writer task (maxRecordsPerFile bounds its
    // FILES, not its wall clock) — the standard remedy, salting the
    // repartition key, is the caller's choice at ingest shape.
    // BUCKETED writes override range clustering: each row's bucket id is
    // Spark's own bucket expression — pmod(murmur3hash(col), n), the
    // exact id HashPartitioning assigns — computed here and stamped into
    // the file NAME below, so the bucketed scan's co-partitioning claim
    // is true by construction. Rows shuffle by (partition value, bucket);
    // per-file min/max stats are still recorded but files span the full
    // value range (bucketing and range clustering are rival layouts).
    // explicit range-split count, SIZED TO THE BATCH: a bare
    // repartitionByRange is an AQE-coalescible shuffle, and coalescing
    // the range splits back together leaves every file spanning the
    // whole keyspace — stats that can never skip. The explicit count
    // (REPARTITION_BY_NUM) is exempt from coalescing, but pinning it
    // blindly to shuffle.partitions makes every small commit (a
    // micro-batch, a view refresh, a merge of a few groups) pay
    // max-width task scheduling and emit per-task file litter — so the
    // count comes from the optimizer's byte estimate at a 128 MB/task
    // target, capped by shuffle.partitions. At 100 TB the estimate
    // saturates the cap (the conf stays the operator's knob); at
    // commit scale a KB-sized batch range-splits into one task.
    // rewrite paths pass the MANIFEST's byte total for the files being
    // rewritten (sizeHint): the optimizer's sizeInBytes over a
    // join/union rewrite plan multiplies estimates and saturates the
    // cap, range-splitting an 11 MB merge into 32 tasks × values files
    // of footer-litter; the manifest total is the measured truth
    def rangeTasks: Int = {
      val cap = df.sparkSession.sessionState.conf.numShufflePartitions
      val target = spark.conf
        .get("spark.graft.write.targetFileBytes", "134217728").toLong.max(1L)
      val est = sizeHint.filter(_ > 0L).map(BigInt(_))
        .getOrElse(df.queryExecution.optimizedPlan.stats.sizeInBytes)
      val byBytes = (est / target) + (if (est % target > 0) 1 else 0)
      byBytes.min(BigInt(cap)).max(BigInt(1)).toInt
    }
    val clustered = bucket match {
      case Some((bc, n)) =>
        val withB = df.withColumn("__bkt", pmod(hash(col(bc)), lit(n)))
          .repartition(col(partCol), col("__bkt"))
        // with a table SORT ORDER the within-task sort happens below,
        // AFTER __part exists, prefixed by the write's partition dirs —
        // that prefix satisfies FileFormatWriter's required ordering,
        // so no writer-inserted re-sort can disturb the per-file order
        // the read-side BucketSpec sort claim depends on
        if (bucketSort.isDefined) withB
        else effStats.headOption.fold(withB)(sc => withB.sortWithinPartitions(col(sc)))
      case None => (clusterExpr, effStats.headOption) match {
      // an explicit cluster expression (the Z-order path) range-splits
      // on it AND sorts within tasks, so every file covers a compact
      // curve segment — tight min/max boxes over every interleaved dim
      case (Some(z), _) => df.repartitionByRange(rangeTasks, z)
        .sortWithinPartitions(z)
      // sort WITHIN the range split too: each 128 MB file then holds
      // its stats column in order, so parquet ROW-GROUP min/max are
      // near-disjoint and the reader's row-group pruning becomes a
      // second skipping tier under the manifest's file-level one
      case (None, Some(sc)) => df.repartitionByRange(rangeTasks, col(sc))
        .sortWithinPartitions(col(sc))
      case (None, None)     => df.repartition(col(partCol))
      }
    }
    // stamp field ids from the column metadata into the parquet files
    // (Spark's default, asserted explicitly — rename/drop depend on it)
    spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    val partDirs = "__part" +: bucket.map(_ => "__bkt").toSeq
    val toWrite0 = clustered.withColumn("__part", col(partCol))
    // sorted-bucket layout: order every task's rows by (partition dirs,
    // sort column), so every emitted file is internally ordered by the
    // sort column — the invariant the scan's outputOrdering claim
    // states. The PLANNED write path (Spark 3.4+) would defeat this: it
    // requires ordering by `empty2null(__part)`, an internal wrapper a
    // public sortWithinPartitions can never semantically satisfy, so it
    // inserts its OWN sort by the partition dirs alone — with no
    // stability contract, scrambling rows inside every (part, bucket)
    // group (observed: lineitem buckets written fully unordered). The
    // legacy writer compares raw attributes, accepts this pre-sort as
    // satisfying, and inserts nothing — so it is pinned ON for exactly
    // the sorted writes (and restored after; no other path changes).
    val (toWrite, savedPlanned) = (bucket, bucketSort) match {
      case (Some(_), Some(s)) =>
        val saved = spark.conf.getOption(plannedWriteKey)
        spark.conf.set(plannedWriteKey, "false")
        (toWrite0.sortWithinPartitions(col("__part"), col("__bkt"), col(s)),
          Some(saved))
      case _ => (toWrite0, None)
    }
    try graft.JobLabel.ifUnset(spark,
      s"snap:write ${new Path(table).getName}") {
      toWrite.write
        .option("maxRecordsPerFile", 5000000L)
        .partitionBy(partDirs: _*).parquet(staging.toString)
    } finally savedPlanned.foreach {
      case Some(v) => spark.conf.set(plannedWriteKey, v)
      case None    => spark.conf.unset(plannedWriteKey)
    }

    // list BEFORE the stats scan: an empty input produced no partition
    // dirs, and spark.read on a file-less staging dir cannot infer a
    // schema — an empty batch (e.g. an empty streaming micro-batch) is
    // a legitimate entries-empty commit, not an error
    // (partition dir name, bucket id, file path, bytes); bucketed
    // writes nest one more dir level (__part=V/__bkt=N/files)
    val staged: Seq[(String, Option[Int], Path, Long)] =
      f.listStatus(staging).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("__part="))
        .flatMap { dirSt =>
          if (bucket.isEmpty)
            f.listStatus(dirSt.getPath).toSeq
              .filter(_.getPath.getName.endsWith(".parquet"))
              .map(st => (dirSt.getPath.getName, None, st.getPath, st.getLen))
          else
            f.listStatus(dirSt.getPath).toSeq
              .filter(st => st.isDirectory && st.getPath.getName.startsWith("__bkt="))
              .flatMap { bSt =>
                val b = bSt.getPath.getName.stripPrefix("__bkt=").toInt
                f.listStatus(bSt.getPath).toSeq
                  .filter(_.getPath.getName.endsWith(".parquet"))
                  .map(st => (dirSt.getPath.getName, Some(b), st.getPath, st.getLen))
              }
        }
    if (staged.isEmpty) { f.delete(staging, true); return Seq.empty }

    // ONE resolution of the freshly written staging dir, shared by the
    // stats and bloom passes below: each spark.read.parquet call re-lists
    // the path and re-infers the schema on the driver (ResolveDataSource,
    // measured at 100-400 ms for multi-file staged batches), and the two
    // passes read the SAME immutable just-written file set
    lazy val stagingDf = spark.read.parquet(staging.toString)

    // per-file row counts (+ per-column min/max): one column-pruned
    // scan of the NEW files (never the table), keyed by
    // (partition dir, file base). With NO stats columns the counts come
    // from the parquet FOOTERS driver-side instead — row counts are
    // already in every footer, so a stats-less commit (streaming sinks,
    // catalog transactions, pipeline nodes) skips the whole Spark job;
    // at 100 TB this is the O(fresh files) metadata pass a commit
    // already pays, not a data scan.
    val rows: Map[String, (Long, Seq[ColStats])] =
      if (effStats.isEmpty)
        inParallel(staged) { case (_, _, p, _) =>
          val fr = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
              p, spark.sparkContext.hadoopConfiguration))
          val n = try fr.getRecordCount finally fr.close()
          p.toUri.getPath -> ((n, Seq.empty[ColStats]))
        }.toMap
      else if (effStats.forall(sc => df.schema.find(_.name == sc)
          .map(_.dataType).exists {
            case org.apache.spark.sql.types.ByteType |
                 org.apache.spark.sql.types.ShortType |
                 org.apache.spark.sql.types.IntegerType |
                 org.apache.spark.sql.types.LongType => true
            case _ => false
          }))
        // INTEGRAL stats columns come from the footers too: parquet's
        // int32/int64 row-group min/max are exact and `.toDouble` is
        // the same encoding the agg path's cast("double") records, so
        // the commit's stats pass is pure metadata (floats would drag
        // NaN-ordering questions in, timestamps the INT96-no-stats
        // question — both keep the Spark-job path)
        inParallel(staged) { case (_, _, p, _) =>
          val fr = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
              p, spark.sparkContext.hadoopConfiguration))
          try {
            val blocks = fr.getFooter.getBlocks
            import scala.jdk.CollectionConverters._
            val st = effStats.flatMap { sc =>
              val chunks = blocks.asScala.flatMap(_.getColumns.asScala
                .filter(_.getPath.toDotString == sc))
              // null counts: exact when EVERY chunk records one
              val nuls = chunks.map(c => Option(c.getStatistics)
                .filter(_.isNumNullsSet).map(_.getNumNulls))
              val nulls =
                if (chunks.nonEmpty && nuls.forall(_.isDefined))
                  nuls.flatten.sum
                else -1L
              val ranges = chunks.flatMap { c =>
                val s = c.getStatistics
                if (s == null || s.isEmpty || !s.hasNonNullValue) None
                else s match {
                  case i: org.apache.parquet.column.statistics.IntStatistics =>
                    Some((i.getMin.toDouble, i.getMax.toDouble))
                  case l: org.apache.parquet.column.statistics.LongStatistics =>
                    Some((l.getMin.toDouble, l.getMax.toDouble))
                  case _ => None
                }
              }
              // every chunk must carry usable stats, and the column must
              // appear at all (an all-null or absent column records no
              // BOUNDS — but a proven all-null column still records its
              // exact null count under NaN bounds)
              if (ranges.nonEmpty && ranges.size == chunks.size)
                Some(ColStats(sc, ranges.map(_._1).min, ranges.map(_._2).max,
                  nulls))
              else if (chunks.nonEmpty && nulls == fr.getRecordCount)
                Some(ColStats(sc, Double.NaN, Double.NaN, nulls))
              else None
            }
            p.toUri.getPath -> ((fr.getRecordCount, st))
          } finally fr.close()
        }.toMap
      else {
        val statsAggs = count(lit(1)).as("rows") +: effStats.flatMap(sc =>
          Seq(min(col(sc)).cast("double").as(s"lo_$sc"),
            max(col(sc)).cast("double").as(s"hi_$sc"),
            sum(when(col(sc).isNull, 1L).otherwise(0L)).as(s"nu_$sc")))
        stagingDf
          .groupBy(input_file_name().as("f")).agg(statsAggs.head, statsAggs.tail: _*)
          .collect().map { r =>
            // keyed by the file's absolute path: with bucketed (two-level)
            // staging dirs, (parent dir, name) alone could collide across
            // partition values
            val p = new java.net.URI(r.getString(0)).getPath
            // an all-null stats column yields null min/max: record NaN
            // bounds (range skipping refuses NaN) with the exact null
            // count, so count(col) folding and IS NULL skipping survive
            val st = effStats.zipWithIndex.flatMap { case (sc, i) =>
              val nulls =
                if (r.isNullAt(4 + 3 * i)) -1L else r.getLong(4 + 3 * i)
              if (r.isNullAt(2 + 3 * i) || r.isNullAt(3 + 3 * i)) {
                if (nulls >= 0L && nulls == r.getLong(1))
                  Some(ColStats(sc, Double.NaN, Double.NaN, nulls))
                else None
              } else Some(ColStats(sc, r.getDouble(2 + 3 * i),
                r.getDouble(3 + 3 * i), nulls))
            }
            p -> (r.getLong(1), st)
          }.toMap
      }

    // per-file bloom bitmaps: ONE pass over the fresh files emitting
    // (col, xxhash64(value, round) mod m) pairs, collect_set per
    // (file, col) — bounded by m bits, so never larger than the bitmap
    // it becomes. Executors and the planning-time prober evaluate the
    // SAME XxHash64 expression, so membership answers agree exactly.
    val effBlooms = bloomCols.filter(df.columns.contains)
    val bloomMap: Map[String, Seq[ColBloom]] =
      if (effBlooms.isEmpty) Map.empty
      else {
        val probes = effBlooms.flatMap(bc => (0 until bloomHashes).map(i =>
          struct(lit(bc).as("c"),
            pmod(xxhash64(col(bc), lit(i)), lit(bloomBits.toLong))
              .cast("int").as("p"),
            col(bc).isNull.as("n"))))
        stagingDf
          .select(input_file_name().as("f"),
            explode(array(probes: _*)).as("cp"))
          .where(!col("cp.n"))
          .groupBy(col("f"), col("cp.c").as("c"))
          .agg(collect_set(col("cp.p")).as("ps"))
          .collect().groupBy { r =>
            new java.net.URI(r.getString(0)).getPath
          }.map { case (k, rs) =>
            k -> rs.toSeq.map { r =>
              val bits = new Array[Long](bloomBits / 64)
              r.getSeq[Int](2).foreach(p =>
                bits(p >> 6) |= (1L << (p & 63)))
              ColBloom(r.getString(1), bloomBits, bloomHashes, bits)
            }
          }
      }

    f.mkdirs(dataDir(table))
    val entries = staged.zipWithIndex
      .map { case ((dirName, bkt, src, len), i) =>
        val value = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .unescapePathName(dirName.stripPrefix("__part="))
        // bucketed files carry their bucket id in the NAME, in the
        // exact `_%05d` suffix form BucketingUtils parses — the
        // bucketed scan derives co-partitioning from nothing else
        val name = bkt match {
          case Some(b) => f"$commit-$i-f_$b%05d.parquet"
          case None    => s"$commit-$i-${src.getName}"
        }
        val dest = new Path(dataDir(table), name)
        require(f.rename(src, dest),
          s"snapshot: could not place data file $dest")
        val key = src.toUri.getPath
        val (n, st) = rows.getOrElse(key, (0L, Seq.empty[ColStats]))
        FileEntry(s"data/$name", Some(Seq(value)), n, st,
          bytes = len, partBy = Some(partCol),
          blooms = bloomMap.getOrElse(key, Seq.empty))
      }
    f.delete(staging, true)
    entries
  }

  // ---- field-id schema plumbing (rename/drop evolution)
  //
  // Every data file is written with parquet FIELD IDS riding the schema
  // metadata; the header records the schema WITH those ids. Reads match
  // columns by id, so a RENAME is a header-only commit (old files keep
  // the old physical name, the id finds them) and a DROP followed by a
  // re-ADD of the same name gets a FRESH id — old values can never
  // resurrect. This is the published Iceberg/parquet field-id contract.

  private val FieldIdKey = "parquet.field.id"

  private def schemaToString(s: org.apache.spark.sql.types.StructType): String =
    s.json
  private def schemaFromString(s: String): org.apache.spark.sql.types.StructType =
    if (s.trim.startsWith("{"))
      org.apache.spark.sql.types.DataType.fromJson(s)
        .asInstanceOf[org.apache.spark.sql.types.StructType]
    else org.apache.spark.sql.types.StructType.fromDDL(s)

  /** Assign fresh field ids (max existing + 1 onward) to fields that
    * lack one; existing ids are never changed.
    */
  private def assignFieldIds(
      schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types.{MetadataBuilder, StructType}
    var next = schema.fields.iterator.map(f =>
      if (f.metadata.contains(FieldIdKey)) f.metadata.getLong(FieldIdKey)
      else 0L).foldLeft(0L)(math.max)
    StructType(schema.fields.map { f =>
      if (f.metadata.contains(FieldIdKey)) f
      else {
        next += 1
        f.copy(metadata = new MetadataBuilder().withMetadata(f.metadata)
          .putLong(FieldIdKey, next).build())
      }
    })
  }

  /** Re-alias `df`'s columns with the metadata (field ids) the table
    * schema records for them, so the parquet writer stamps the ids.
    */
  private def applySchemaMeta(df: DataFrame,
                              st: org.apache.spark.sql.types.StructType): DataFrame =
    df.select(df.schema.fields.map { f =>
      val m = st.find(_.name == f.name).map(_.metadata).getOrElse(f.metadata)
      col(f.name).as(f.name, m)
    }.toIndexedSeq: _*)

  private[sources] def readFiles(spark: SparkSession, table: String,
                        entries: Seq[FileEntry],
                        schema: Option[String] = None): DataFrame = {
    require(entries.nonEmpty, "snapshot read: empty file set")
    schema match {
      // recorded schema → serve the entry set through SnapshotFileIndex
      // directly: the DataFrameReader path pays a full ResolveDataSource
      // per call (DataSource construction + a file-listing InMemoryFileIndex
      // over every path — measured ~400 ms for a 16-file merge target,
      // the single largest driver cost of a commit), while the indexed
      // relation resolves in O(entries) from manifest bytes with zero
      // FS calls (guide §5 driver, §7.3 ResolveDataSource frames)
      case Some(str) =>
        spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
          .baseRelationToDataFrame(
            indexedRelation(spark, table, entries, str, None))
      case None =>
        // pre-schema fixtures: footer inference needs the reader path
        spark.read.parquet(entries.map(e => s"$table/${e.path}"): _*)
    }
  }

  /** The relation-backed read: `entries` served to the standard
    * parquet scan through a [[SnapshotFileIndex]], so Catalyst's
    * pushed-down data filters drive manifest stat/partition-value file
    * skipping on ANY later `.filter` — see the index's scaladoc.
    * Pre-schema tables (writeManifest-direct fixtures) fall back to
    * the explicit-path reader, which infers from footers.
    */
  /** EXPLICIT opt-in for sorted bucketed scans. Spark computes the V1
    * bucketed scan's outputOrdering only under
    * `spark.sql.legacy.bucketedTableScan.outputOrdering` (it must list
    * the scan's files at planning — expensive for a generic hive
    * layout, free here since the manifest already names them). The
    * conf is SESSION-GLOBAL: it also affects the user's own sorted
    * `saveAsTable` output for the rest of the session, so it is set
    * here — by [[create]] when a table declares `sortBy` (the writer
    * session opted into sorted tables) or by a reader session once,
    * deliberately — never as a hidden side effect of planning a read.
    * A session that skips it still reads sorted tables correctly; the
    * join/agg plan just re-sorts.
    */
  def enableSortedScans(spark: SparkSession): Unit =
    spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")

  private def sortedScansEnabled(spark: SparkSession): Boolean =
    spark.conf.getOption("spark.sql.legacy.bucketedTableScan.outputOrdering")
      .contains("true")

  private[sources] def indexedRelation(spark: SparkSession, table: String,
                                       entries: Seq[FileEntry], schemaStr: String,
                                       partCol: Option[String],
                                       bucket: Option[(String, Int)] = None,
                                       bucketSort: Option[String] = None): org.apache.spark.sql.sources.BaseRelation =
    indexedRelationOf(spark, table, entries,
      schemaFromString(schemaStr), partCol, bucket, bucketSort)

  private[sources] def indexedRelationOf(spark: SparkSession, table: String,
                                       entries: Seq[FileEntry],
                                       schema: org.apache.spark.sql.types.StructType,
                                       partCol: Option[String],
                                       bucket: Option[(String, Int)] = None,
                                       bucketSort: Option[String] = None): org.apache.spark.sql.sources.BaseRelation = {
    // nullable-izing is load-bearing (DataFrameReader's asNullable
    // does the same): files predating an added column must yield
    // NULL for it, and the vectorized reader only null-fills
    // nullable fields
    val st = org.apache.spark.sql.types.StructType(
      schema.fields.map(_.copy(nullable = true)))
    if (st.exists(_.metadata.contains(FieldIdKey)))
      spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    // Spark gates the V1 bucketed scan's outputOrdering claim behind a
    // SESSION-GLOBAL legacy conf (it also changes planning for the
    // user's own sorted saveAsTable output), so merely READING a sorted
    // table must not flip it as a side effect — the claim engages only
    // where the session already opted in ([[enableSortedScans]]: set by
    // `create(sortBy = ...)`, or explicitly by a reader session).
    // Without the opt-in the sort claim is simply dropped: the plan
    // re-sorts (one SortExec per side), results unchanged.
    val claimedSort = bucketSort.filter(_ => sortedScansEnabled(spark))
    // the BucketSpec makes the scan report HashPartitioning(col, n) —
    // joins/aggs on the bucket column then plan WITHOUT an exchange;
    // valid because every data file's rows hash to the bucket id in
    // its name (the writer computes ids with the same expression)
    org.apache.spark.sql.execution.datasources.HadoopFsRelation(
      new SnapshotFileIndex(spark, table, entries, partCol),
      new org.apache.spark.sql.types.StructType(), st,
      // sort columns ride the spec; Spark itself claims the resulting
      // outputOrdering only when the planned file set has at most one
      // file per bucket, so a post-append multi-file bucket degrades
      // the claim (an extra SortExec), never the results
      bucket.map { case (c, n) =>
        org.apache.spark.sql.catalyst.catalog.BucketSpec(
          n, Seq(c), claimedSort.toSeq) },
      new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat(),
      Map.empty)(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession])
  }

  private def indexedRead(spark: SparkSession, table: String,
                          entries: Seq[FileEntry], hdr: Header): DataFrame =
    hdr.schema match {
      case None => readFiles(spark, table, entries, None)
      case Some(str) =>
        require(entries.nonEmpty, "snapshot read: empty file set")
        spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
          .baseRelationToDataFrame(
            indexedRelation(spark, table, entries, str, hdr.partCol,
              hdr.bucket, hdr.sortBy))
    }

  /** Restricted read of an explicit live-entry subset under `version`'s
    * header, with the version's pending delete masks applied — the seam
    * index-driven readers ([[SecondaryIndex]]) use to plan exactly the
    * files a lookup proved relevant. An empty subset yields a
    * schema-preserving empty frame.
    */
  private[sources] def readEntriesAt(spark: SparkSession, table: String,
                                     entries: Seq[FileEntry],
                                     version: Long): DataFrame = {
    val (_, deletes, hdr) = readListRaw(spark, table, version)
    if (entries.isEmpty) readVersion(spark, table, version).filter(lit(false))
    else readWithDeletes(spark, table, entries, deletes, hdr)
  }

  /** Plain column-pruned parquet read of an explicit entry subset:
    * only `cols` of the version's RECORDED schema, field-id matching
    * enabled when the schema carries ids (renamed columns still
    * resolve in pre-rename files), absent-in-file columns null-filled.
    * No delete masks — the [[SecondaryIndex]] BUILD path, where masked
    * rows' postings are harmless false positives, wants the raw files.
    */
  private[sources] def readEntryCols(spark: SparkSession, table: String,
                                     entries: Seq[FileEntry], version: Long,
                                     cols: Seq[String]): DataFrame = {
    require(entries.nonEmpty, "readEntryCols: empty file set")
    val (_, _, hdr) = readListRaw(spark, table, version)
    val full = schemaFromString(hdr.schema.getOrElse(
      sys.error(s"snapshot table $table has no recorded schema")))
    val st = org.apache.spark.sql.types.StructType(cols.map(c =>
      full.find(_.name == c).getOrElse(sys.error(
        s"readEntryCols: no column $c in $table")).copy(nullable = true)))
    // indexed relation, not spark.read: same ResolveDataSource/listing
    // avoidance as readFiles — the index-build path calls this per
    // commit window
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .baseRelationToDataFrame(
        indexedRelationOf(spark, table, entries, st, None))
  }

  /** STREAMING-flagged relation read of an explicit entry subset under
    * a version's header — the hook [[graft.streaming.SnapshotSource]]
    * uses to plan exactly the files a micro-batch's version window
    * added (a V1 Source's getBatch frame must carry isStreaming=true;
    * an empty entry set plans an empty scan, for data-less commits).
    */
  private[graft] def readEntriesStreaming(spark: SparkSession, table: String,
                                          entries: Seq[FileEntry],
                                          hdr: Header): DataFrame =
    org.apache.spark.sql.GraftStreamingBridge.streamingFrame(spark,
      indexedRelation(spark, table, entries, hdr.schema.getOrElse(
        sys.error(s"snapshot table $table has no recorded schema")),
        hdr.partCol))

  /** The streaming source's window probe: entries versions
    * `(fromV, toV]` ADDED, the `toV` header, plus what an insert-only
    * consumer cannot represent — removed data-file paths and fresh
    * equality-delete files. The append-only steady state takes the
    * FAST PATH: every `fromV` segment carried by NAME in `toV`'s list
    * means only fresh segments hold new entries, so the probe reads two
    * manifest lists + the fresh segments — O(changed), never O(table).
    * A list with dropped segment refs (a rewrite commit OR a pure
    * commit-time fold) falls back to the full entry diff to tell the
    * two apart — the fold is metadata-only reorganization and yields an
    * empty removed set.
    */
  private[graft] def appendWindow(spark: SparkSession, table: String,
                                  fromV: Long, toV: Long): (Seq[FileEntry], Header, Seq[String], Seq[DeleteFile]) = {
    val (postRefs, postDels, postHdr) = readListRaw(spark, table, toV)
    val (preRefs, preDels) =
      if (fromV <= 0) (Seq.empty[SegmentRef], Seq.empty[DeleteFile])
      else { val (r, d, _) = readListRaw(spark, table, fromV); (r, d) }
    val newDeletes = postDels.filterNot(d => preDels.exists(_.path == d.path))
    val postRefSet = postRefs.map(_.path).toSet
    if (preRefs.forall(r => postRefSet.contains(r.path))) {
      val preRefSet = preRefs.map(_.path).toSet
      val fresh = postRefs.filterNot(r => preRefSet.contains(r.path))
      (fresh.flatMap(readSegment(spark, table, _)), postHdr, Seq.empty,
        newDeletes)
    } else {
      val post = postRefs.flatMap(readSegment(spark, table, _))
      val pre =
        if (fromV <= 0) Seq.empty[FileEntry]
        else readManifestFull(spark, table, fromV)._1
      val prePaths = pre.map(_.path).toSet
      val postPaths = post.map(_.path).toSet
      (post.filterNot(e => prePaths.contains(e.path)), postHdr,
        pre.filterNot(e => postPaths.contains(e.path)).map(_.path),
        newDeletes)
    }
  }

  /** The bare relation for the `format("graft-snapshot")` batch read
    * path. A BaseRelation cannot compose the equality-delete anti-join,
    * so tables with PENDING deletes refuse loudly rather than
    * resurrect masked rows — use the Scala read API / the TVF (which
    * plan the mask), or materialize with [[applyDeletes]] first.
    */
  private[graft] def batchRelation(spark: SparkSession, table: String,
                                   version: Option[Long]): org.apache.spark.sql.sources.BaseRelation = {
    val v = version.getOrElse(currentVersion(spark, table))
    val meta = readMeta(spark, table, v)
    require(meta.deletes.isEmpty,
      s"graft-snapshot: $table@v$v has ${meta.deletes.size} pending " +
        "equality delete(s), which a bare relation cannot mask — read " +
        "via SnapshotTable.read/the snapshot_table TVF, or run " +
        "applyDeletes first")
    indexedRelation(spark, table, meta.entries,
      meta.hdr.schema.getOrElse(
        sys.error(s"snapshot table $table has no recorded schema")),
      meta.hdr.partCol, meta.hdr.bucket, meta.hdr.sortBy)
  }

  /** Data bytes version `v` added, from the manifest LISTS alone (the
    * refs new in `v`'s list vs its predecessor's) — the streaming
    * source's byte-admission probe: two small list reads, no segment
    * I/O. A commit that also FOLDED segments over-counts (the folded
    * segment looks fresh) — admission then conservatively under-admits,
    * never over.
    */
  private[graft] def freshBytesAt(spark: SparkSession, table: String,
                                  v: Long): Long = {
    val cur = readManifestList(spark, table, v)._1
    val prev =
      if (v <= 1L) Set.empty[String]
      else readManifestList(spark, table, v - 1)._1.map(_.path).toSet
    cur.filterNot(r => prev.contains(r.path)).map(_.bytes).sum
  }

  /** The recorded (current-version) table schema, nullable-ized the way
    * every read path serves it. Loud failure for pre-schema tables.
    */
  private[graft] def recordedSchema(spark: SparkSession,
                                    table: String): org.apache.spark.sql.types.StructType = {
    val hdr = readManifestList(spark, table, currentVersion(spark, table))._2
    val st = schemaFromString(hdr.schema.getOrElse(sys.error(
      s"snapshot table $table has no recorded schema yet (empty bootstrap? " +
        "start the stream after the first append commits)")))
    org.apache.spark.sql.types.StructType(st.fields.map(_.copy(nullable = true)))
  }

  /** Plan `entries` with pending equality deletes applied: data files
    * group by the SET of deletes that apply to them (delete.seq >
    * entry.seq — a file appended after a delete is never masked by it),
    * each group anti-joins its delete keys (AQE broadcasts the usual
    * small sets), and the groups union. With no deletes this is a bare
    * scan — the plan existing specs and callers see is unchanged.
    */
  /** Sentinel `col` marking a POSITIONAL delete file (deletion
    * vector): its parquet holds (file basename, row position) pairs
    * instead of key values.
    */
  private[sources] val PosCol = "__pos__"

  // basename (not full path) keys the DV: data files carry UUID names
  // that are never reused, and a hard-link CLONE of the table keeps
  // masking correctly even though every absolute path changed
  private def withFilePos(df: DataFrame): DataFrame =
    df.withColumn("__file",
        element_at(split(col("_metadata.file_path"), "/"), -1))
      .withColumn("__pos", col("_metadata.row_index"))

  /** Apply `dels` masks to `base` (rows read from files that all share
    * the SAME applicable-delete set): equality deletes anti-join on
    * their key column; positional deletes anti-join on (file basename,
    * row position) from the parquet metadata columns. `keepMeta`
    * retains the `__file`/`__pos` helpers for callers that need victim
    * positions.
    */
  private def maskDeletes(spark: SparkSession, table: String,
                          base: DataFrame, dels: Seq[DeleteFile],
                          keepMeta: Boolean = false): DataFrame = {
    val (posDels, eqDels) = dels.partition(_.col == PosCol)
    val attached = posDels.nonEmpty || keepMeta
    val start = if (attached) withFilePos(base) else base
    val afterEq = eqDels.foldLeft(start) { (df, d) =>
      df.join(spark.read.parquet(s"$table/${d.path}"), Seq(d.col), "left_anti")
    }
    val afterPos = posDels.foldLeft(afterEq) { (df, d) =>
      df.join(spark.read.parquet(s"$table/${d.path}")
        .select(col("file").as("__file"), col("pos").as("__pos")),
        Seq("__file", "__pos"), "left_anti")
    }
    if (attached && !keepMeta) afterPos.drop("__file", "__pos") else afterPos
  }

  private def readWithDeletes(spark: SparkSession, table: String,
                              entries: Seq[FileEntry],
                              deletes: Seq[DeleteFile],
                              hdr: Header): DataFrame = {
    // every snapshot read is a table-access funnel (the optimizer rules
    // match snapshot relations only)
    graft.SessionTune.install(spark)
    if (deletes.isEmpty) indexedRead(spark, table, entries, hdr)
    else entries.groupBy(e => deletes.filter(_.seq > e.seq))
      .map { case (dels, es) =>
        maskDeletes(spark, table, indexedRead(spark, table, es, hdr), dels)
      }.reduce(_.unionByName(_))
  }

  // ---- public surface

  /** Create the table with `df` as version 1. With `statsCols`, writes
    * are range-clustered on the FIRST column and every file records
    * min/max for EACH listed column — [[readRange]] then skips on any
    * of them (secondary columns prune as well as they correlate with
    * the cluster column). The columns are recorded in the header, so
    * every later commit keeps collecting them without restating.
    */
  /** Enforce `checks` on `df` — ONE aggregate job over the batch (the
    * commit paths pass only their FRESH rows, so enforcement is
    * O(changed), never O(table)). A row violates a check only when the
    * expression is FALSE; NULL passes (SQL-standard CHECK semantics,
    * as in Delta). All violated checks are reported together.
    */
  private def enforceChecks(df: DataFrame, checks: Seq[String],
                            op: String): Unit =
    if (checks.nonEmpty) {
      val counters = checks.zipWithIndex.map { case (c, i) =>
        coalesce(sum(when(not(coalesce(expr(c), lit(true))), 1L)
          .otherwise(0L)), lit(0L)).as(s"c$i")
      }
      val row = df.select(counters: _*).head()
      val violated = checks.zipWithIndex
        .map { case (c, i) => c -> row.getLong(i) }
        .filter(_._2 > 0)
      require(violated.isEmpty,
        s"snapshot $op: CHECK constraint violation: " +
          violated.map { case (c, n) => s"`$c` ($n rows)" }.mkString("; "))
    }

  /** Install `checks` as the table's CHECK constraints (replacing the
    * current set; empty = drop all). Newly-introduced checks are first
    * validated against the EXISTING data in one scan — the published
    * Delta `ADD CONSTRAINT` contract — then a header-only commit
    * records them; afterwards every append/merge/overwrite enforces
    * them on its fresh rows.
    */
  /** Append `tags` to the table's cumulative committed-tag ledger in
    * one header-only commit — a no-op returning the current version
    * when every tag is already present, so persisting the same fact
    * twice never burns a version. The ledger is how cross-session facts
    * about a table persist: WAP publication marks, the secondary
    * index's applied-version stamps, and persisted RELY constraint
    * declarations ([[graft.plans.JoinElimination]]) all ride it.
    */
  def commitTags(spark: SparkSession, table: String,
                 tags: Set[String]): Long = {
    val v = currentVersion(spark, table)
    val (refs, deletes, hdr) = readListRaw(spark, table, v)
    if (tags.subsetOf(hdr.tags)) v
    else {
      commitList(spark, table, v + 1, refs, deletes,
        hdr.copy(tags = hdr.tags ++ tags))
      v + 1
    }
  }

  def setChecks(spark: SparkSession, table: String,
                checks: Seq[String]): Long = {
    require(checks.forall(c => !c.contains("]") && !c.contains("[")),
      "snapshot setChecks: square brackets in a check expression are " +
        "not representable in the manifest header")
    val v = currentVersion(spark, table)
    val (refs, deletes, hdr) = readListRaw(spark, table, v)
    val novel = checks.filterNot(hdr.checks.contains)
    if (novel.nonEmpty && refs.nonEmpty)
      enforceChecks(read(spark, table), novel, "setChecks")
    commitList(spark, table, v + 1, refs, deletes,
      hdr.copy(checks = checks))
    v + 1
  }

  /** With `bucketBy = Some((col, n))` the table is BUCKETED: every data
    * file holds exactly one bucket of Spark's hash space for `col`
    * (id = `pmod(murmur3hash(col), n)`, stamped in the file name), the
    * spec rides the header so every rewrite path preserves it, and
    * reads serve a `BucketSpec` — joins and aggregations on `col`
    * against this table (or another table bucketed the same way) plan
    * with NO shuffle on this side. Bucketing and range clustering are
    * rival layouts: with both requested, files are bucketed and only
    * sorted (not range-split) on the first stats column.
    */
  def create(spark: SparkSession, table: String, df: DataFrame,
             partCol: String, statsCols: Seq[String] = Seq.empty,
             bloomCols: Seq[String] = Seq.empty,
             tags: Set[String] = Set.empty,
             bucketBy: Option[(String, Int)] = None,
             sortBy: Option[String] = None,
             sizeHint: Option[Long] = None): Long = {
    graft.SessionTune.install(spark)
    require(versions(spark, table).isEmpty,
      s"snapshot table $table already exists")
    bucketBy.foreach { case (c, n) =>
      require(df.columns.contains(c), s"bucketBy: no column $c")
      require(n > 0 && n <= 100000, s"bucketBy: bucket count $n out of range")
    }
    sortBy.foreach { s =>
      require(bucketBy.isDefined,
        "sortBy: a table sort order requires a bucket spec — without " +
          "bucketing the scan has no co-partitioning to hang the " +
          "ordering claim on (use statsCols for range clustering)")
      require(df.columns.contains(s), s"sortBy: no column $s")
      // creating a sorted table IS the session's opt-in to sorted
      // scans (see enableSortedScans — the conf is session-global, so
      // the read path never flips it silently)
      enableSortedScans(spark)
    }
    val st = assignFieldIds(df.schema)
    val entries = writeDataFiles(spark, table, applySchemaMeta(df, st),
      partCol, statsCols = statsCols, bloomCols = bloomCols,
      bucket = bucketBy, bucketSort = sortBy, sizeHint = sizeHint)
    writeManifest(spark, table, 1L, entries,
      Header(tags = tags, schema = Some(schemaToString(st)),
        statsCols = statsCols, partCol = Some(partCol),
        bloomCols = bloomCols, bucketBy = bucketBy.map(_._1),
        buckets = bucketBy.fold(0)(_._2), sortBy = sortBy))
    1L
  }

  /** Create the table EMPTY at version 1 — the sink bootstrap: with an
    * empty v1 in place, every producer batch (including the first) goes
    * through [[commitAppend]]'s tagged idempotent path, so a retried
    * first batch cannot double-commit the way an untagged `create`
    * would. (An empty table has no schema yet; reads fail until the
    * first append commits.)
    */
  def createEmpty(spark: SparkSession, table: String): Long = {
    require(versions(spark, table).isEmpty,
      s"snapshot table $table already exists")
    writeManifest(spark, table, 1L, Seq.empty)
    1L
  }

  /** Read the current snapshot (resolved once, at call time — the plan
    * stays on those files even if commits land before an action runs).
    */
  def read(spark: SparkSession, table: String): DataFrame =
    readVersion(spark, table, currentVersion(spark, table))

  /** A version's live file-path set plus whether equality deletes are
    * pending at it — the freshness evidence [[graft.plans.MviewRewrite]]
    * checks before substituting a materialized view for a scan (a scan
    * whose planned paths equal the summarized version's paths, with no
    * pending masks on either side, provably reads the summarized state).
    */
  private[graft] def liveState(spark: SparkSession, table: String,
                               version: Long): (Set[String], Boolean) = {
    val m = readMeta(spark, table, version)
    (m.entries.map(_.path).toSet, m.deletes.nonEmpty)
  }

  /** Time travel: read an older (still un-vacuumed) snapshot. */
  def readVersion(spark: SparkSession, table: String, version: Long): DataFrame = {
    val meta = readMeta(spark, table, version)
    readWithDeletes(spark, table, meta.entries, meta.deletes, meta.hdr)
  }

  /** Manifest-level file skipping: plan ONLY files whose recorded
    * partition values intersect `values` (a `*` entry always
    * qualifies), with the residual row filter on top. Under PARTITION
    * EVOLUTION a file's values may belong to a DIFFERENT column (its
    * `partBy` stamp) — such files never skip on `partCol`, so the
    * pruning stays exact across layout generations.
    */
  def readWhere(spark: SparkSession, table: String, partCol: String,
                values: Seq[String]): DataFrame = {
    val wanted = values.toSet
    // full meta read for the HEADER too: a pruned read over mixed
    // pre/post-evolution files must apply the recorded table schema, not
    // whatever one surviving footer happens to infer
    val meta = readMeta(spark, table, currentVersion(spark, table))
    val hit = meta.entries.filter(e =>
      !e.effPartCol(meta.hdr.partCol).contains(partCol) ||
        e.parts.forall(_.exists(wanted.contains)))
    if (hit.isEmpty)
      read(spark, table).filter(lit(false)) // schema-preserving empty
    else readWithDeletes(spark, table, hit, meta.deletes, meta.hdr)
      .filter(col(partCol).isin(values: _*))
  }

  /** Manifest-stats RANGE skipping: plan only files whose recorded
    * [lo, hi] for `statsCol` intersects [lo, hi] (inclusive). A file
    * without stats — or with stats of a DIFFERENT column — always
    * qualifies, so pruning can only ever drop files proven disjoint.
    * The residual row filter rides on top.
    */
  def readRange(spark: SparkSession, table: String, statsCol: String,
                lo: Double, hi: Double): DataFrame = {
    val meta = readMeta(spark, table, currentVersion(spark, table))
    val hit = meta.entries.filter(_.stats.find(_.col == statsCol).forall(s =>
      s.hi >= lo && s.lo <= hi))
    if (hit.isEmpty)
      read(spark, table).filter(lit(false))
    else readWithDeletes(spark, table, hit, meta.deletes, meta.hdr)
      .filter(col(statsCol) >= lo && col(statsCol) <= hi)
  }

  /** Snapshot-isolated MERGE: rows of `updates` replace same-key rows,
    * only affected files are rewritten, the rest carry over by
    * reference. Affected = files intersecting the batch's partition
    * values, WIDENED by files still holding a batch key elsewhere
    * (cross-partition movers, detected with one column-pruned scan of
    * the complement — file-granular, so a clean batch rewrites nothing
    * extra). Returns (new version, rows replaced, rows inserted).
    */
  def commitMerge(spark: SparkSession, table: String, updates0: DataFrame,
                  keyCol: String, partCol: String,
                  tag: Option[String] = None): (Long, Long, Long) = {
    val v = currentVersion(spark, table)
    val meta = readMeta(spark, table, v)
    requireNoPendingDeletes(table, meta, "commitMerge")
    // same idempotence ledger as commitAppend: a retried merge whose
    // tag already committed is a no-op — the contract an incremental
    // view refresh (or any merge-shaped consumer) needs under retry
    if (tag.exists(meta.hdr.tags.contains)) return (v, 0L, 0L)
    // MATERIALIZE the batch (Delta's merge-source rule): the merge
    // evaluates it up to four times (checks, partition probe, mover
    // detection, the write) — a lazily-expensive or nondeterministic
    // source would otherwise multiply its cost or, worse, change
    // between passes. Batches are O(changed rows); the cache spills.
    val updates = updates0.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try commitMergeMaterialized(spark, table, updates, keyCol, partCol,
      tag, v, meta)
    finally updates.unpersist(false)
  }

  private def commitMergeMaterialized(spark: SparkSession, table: String,
                                      updates: DataFrame, keyCol: String,
                                      partCol: String, tag: Option[String],
                                      v: Long, meta: TableMeta): (Long, Long, Long) = {
    val (segs, hdr) = (meta.segs, meta.hdr)
    // constraints gate only the BATCH — carried and re-written target
    // rows already passed when they were committed
    enforceChecks(updates, hdr.checks, "commitMerge")
    val manifest = meta.entries
    // one job serves both the partition probe and the replaced/inserted
    // arithmetic below (updCount) — the batch is already materialized
    val partCounts = graft.JobLabel(spark, "merge:part-probe") {
      updates.groupBy(col(partCol).cast("string").as("__p"))
        .count().collect()
    }
    val batchParts = partCounts.map(_.getString(0)).toSet
    val updCount = partCounts.map(_.getLong(1)).sum

    // files partitioned by ANOTHER column (partition evolution) fall to
    // the mover path — their values aren't comparable to the batch's
    val (hit0, miss0) = manifest.partition(e =>
      e.effPartCol(hdr.partCol).contains(partCol) &&
        e.parts.forall(_.exists(batchParts.contains)))
    val movers =
      if (miss0.isEmpty) Seq.empty
      else {
        val stale = graft.JobLabel(spark, "merge:mover-probe") {
          readFiles(spark, table, miss0, hdr.schema)
            .select(col(keyCol), input_file_name().as("__f"))
            .join(updates.select(col(keyCol)), Seq(keyCol), "left_semi")
            .select(col("__f")).distinct()
            .collect()
        }.map(r => new Path(r.getString(0)).getName).toSet
        miss0.filter(e => stale.contains(new Path(e.path).getName))
      }
    val affected = hit0 ++ movers

    val target =
      if (affected.isEmpty) updates.filter(lit(false))
      else readFiles(spark, table, affected, hdr.schema)
    val merged = target
      .join(updates.select(col(keyCol)), Seq(keyCol), "left_anti")
      .unionByName(updates.select(target.columns.map(col).toIndexedSeq: _*))
    // re-stamp field ids: unionByName takes the LEFT side's column
    // metadata, and when `affected` is empty the left side derives from
    // the raw batch — without the stamp the fresh file would carry no
    // ids and id-matched reads would null its columns
    val stamped = hdr.schema.fold(merged)(s =>
      applySchemaMeta(merged, schemaFromString(s)))
    val fresh = graft.JobLabel(spark, "merge:rewrite") {
      writeDataFiles(spark, table, stamped, partCol,
        statsCols = hdr.statsCols, bloomCols = hdr.bloomCols, bucket = hdr.bucket, bucketSort = hdr.sortBy,
        sizeHint = Some(affected.map(_.bytes).sum))
    }
    commitRewrite(spark, table, v, segs, affected.map(_.path).toSet,
      fresh, Seq.empty, hdr.copy(tags = hdr.tags ++ tag))
    // replaced/inserted by ARITHMETIC, not extra scans: the manifest
    // already records affected-file row counts, writeDataFiles already
    // counted the merged output, and updCount rode the partition-probe
    // job above — zero additional passes over either side.
    //   freshRows = targetRows − nReplaced + updCount
    val targetRows = affected.map(_.rows).sum
    val freshRows = fresh.map(_.rows).sum
    val nReplaced = targetRows + updCount - freshRows
    (v + 1, nReplaced, updCount - nReplaced)
  }

  /** Source-column accessor for [[commitMergeInto]] conditions and
    * assignments: matched rows are evaluated over a frame holding the
    * TARGET columns under their own names and the SOURCE columns
    * prefixed — `src("o_totalprice")` is the source row's price.
    */
  def src(name: String): org.apache.spark.sql.Column = col("__src_" + name)

  /** Conditional MERGE INTO (the full Delta/SQL-standard shape, of
    * which [[commitMerge]] is the unconditional-upsert special case):
    *
    *   - `deleteWhen`: WHEN MATCHED AND cond THEN DELETE — evaluated
    *     FIRST (fixed clause order, documented rather than positional);
    *   - `updateWhen` + `updateSet`: WHEN MATCHED AND cond THEN UPDATE;
    *     an empty `updateSet` replaces every column the source carries,
    *     otherwise only the assigned columns change;
    *   - `insertWhen`: WHEN NOT MATCHED AND cond THEN INSERT the source
    *     row (columns the source lacks become null).
    *
    * `None` for a clause means the clause is ABSENT (pass
    * `Some(lit(true))` for an unconditional clause); a condition
    * evaluating NULL does not fire its clause (three-valued logic).
    * Matched conditions and `updateSet` expressions see target columns
    * by name and source columns through [[src]]; `insertWhen` sees the
    * source row's columns by plain name. Multiple source rows sharing
    * one key are refused (their clause results would be
    * order-dependent — Delta's rule).
    *
    * Scale shape is [[commitMerge]]'s: affected files = the batch's
    * partition values widened by detected cross-partition movers (so
    * target rows matching a source key are ALL in the affected set —
    * which also makes the not-matched test exact against the whole
    * table while scanning only affected files); everything else carries
    * by reference. The rewrite is snapshot-isolated and tag-idempotent.
    * CHECK constraints are enforced on the commit's fresh rows (the
    * rewritten files' output plus inserts — updated rows are new
    * expressions, so source-only enforcement would under-check).
    * Returns (new version, rows updated, rows deleted, rows inserted);
    * version unchanged for a replayed tag.
    */
  def commitMergeInto(spark: SparkSession, table: String, source0: DataFrame,
                      keyCol: String, partCol: String,
                      updateWhen: Option[org.apache.spark.sql.Column] = None,
                      updateSet: Seq[(String, org.apache.spark.sql.Column)] = Seq.empty,
                      deleteWhen: Option[org.apache.spark.sql.Column] = None,
                      insertWhen: Option[org.apache.spark.sql.Column] = None,
                      tag: Option[String] = None): (Long, Long, Long, Long) = {
    val v = currentVersion(spark, table)
    val meta = readMeta(spark, table, v)
    requireNoPendingDeletes(table, meta, "commitMergeInto")
    if (tag.exists(meta.hdr.tags.contains)) return (v, 0L, 0L, 0L)
    // materialize the batch like commitMerge: it feeds the partition
    // probe, mover detection, the join, and the insert anti-join
    val source = source0.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val hdr = meta.hdr
      val dup = source.groupBy(col(keyCol)).count()
        .filter(col("count") > 1).limit(1).collect()
      require(dup.isEmpty,
        s"commitMergeInto: multiple source rows share $keyCol=" +
          s"${dup.head.get(0)} — matched-clause results would be order-dependent")
      val manifest = meta.entries
      val batchParts = source.select(col(partCol).cast("string")).distinct()
        .collect().map(_.getString(0)).toSet
      val (hit0, miss0) = manifest.partition(e =>
        e.effPartCol(hdr.partCol).contains(partCol) &&
          e.parts.forall(_.exists(batchParts.contains)))
      val movers =
        if (miss0.isEmpty) Seq.empty
        else {
          val stale = readFiles(spark, table, miss0, hdr.schema)
            .select(col(keyCol), input_file_name().as("__f"))
            .join(source.select(col(keyCol)), Seq(keyCol), "left_semi")
            .select(col("__f")).distinct()
            .collect().map(r => new Path(r.getString(0)).getName).toSet
          miss0.filter(e => stale.contains(new Path(e.path).getName))
        }
      val affected = hit0 ++ movers

      val target =
        if (affected.isEmpty) hdr.schema match {
          case Some(s) => spark.createDataFrame(
            new java.util.ArrayList[org.apache.spark.sql.Row](),
            schemaFromString(s))
          case None => source.filter(lit(false))
        }
        else readFiles(spark, table, affected, hdr.schema)
      val tCols = target.columns.toSeq
      val srcCols = source.columns.toSet

      val sPref = source.select(source.columns.map(c =>
        col(c).as("__src_" + c)).toIndexedSeq: _*)
        .withColumn("__src_matched", lit(true))
      val joined = target.join(sPref,
        col(keyCol) === col("__src_" + keyCol), "left_outer")
      val matched = coalesce(col("__src_matched"), lit(false))
      val delExpr = deleteWhen.fold(lit(false))(c =>
        matched && coalesce(c, lit(false)))
      val updExpr = updateWhen.fold(lit(false))(c =>
        matched && !delExpr && coalesce(c, lit(false)))

      // empty updateSet = replace every column the source carries;
      // explicit assignments change only their columns
      val assigns: Map[String, org.apache.spark.sql.Column] =
        if (updateSet.nonEmpty) updateSet.toMap
        else tCols.filter(srcCols.contains).map(c => c -> src(c)).toMap
      assigns.keys.foreach(c => require(tCols.contains(c),
        s"commitMergeInto: updateSet assigns unknown column $c"))
      val keptOrUpdated = joined.filter(!delExpr)
        .select(tCols.map(c => assigns.get(c)
          .fold(col(c))(nv => when(updExpr, nv).otherwise(col(c)).as(c))): _*)

      // one small agg over the affected-file join for the clause counts
      val cnts = joined.agg(
        coalesce(sum(when(delExpr, 1L).otherwise(0L)), lit(0L)),
        coalesce(sum(when(updExpr, 1L).otherwise(0L)), lit(0L))).head()
      val (nDeleted, nUpdated) = (cnts.getLong(0), cnts.getLong(1))

      // not-matched = no key hit in the affected files, which hold ALL
      // rows sharing a source key (mover detection guarantees it) — so
      // this is a whole-table membership test at affected-file cost
      val unmatched = source.join(target.select(col(keyCol)),
        Seq(keyCol), "left_anti")
      val inserts = insertWhen.fold(unmatched.filter(lit(false)))(c =>
        unmatched.filter(coalesce(c, lit(false))))
        .select(tCols.map(c =>
          if (srcCols.contains(c)) col(c)
          else lit(null).cast(target.schema(c).dataType).as(c)): _*)

      val freshDf = keptOrUpdated.unionByName(inserts)
      enforceChecks(freshDf, hdr.checks, "commitMergeInto")
      val stamped = hdr.schema.fold(freshDf)(s =>
        applySchemaMeta(freshDf, schemaFromString(s)))
      val fresh = writeDataFiles(spark, table, stamped, partCol,
        statsCols = hdr.statsCols, bloomCols = hdr.bloomCols, bucket = hdr.bucket, bucketSort = hdr.sortBy,
        sizeHint = Some(affected.map(_.bytes).sum))
      commitRewrite(spark, table, v, meta.segs, affected.map(_.path).toSet,
        fresh, Seq.empty, hdr.copy(tags = hdr.tags ++ tag))
      // inserted by arithmetic (manifest row counts + fresh entries):
      //   freshRows = targetRows − nDeleted + nInserted
      val nInserted = fresh.map(_.rows).sum -
        (affected.map(_.rows).sum - nDeleted)
      (v + 1, nUpdated, nDeleted, nInserted)
    } finally source.unpersist(false)
  }

  /** Append `df` as a new snapshot version, all current files carried by
    * reference. With a `tag`, the append is IDEMPOTENT on it: the tag
    * joins the manifest header's cumulative committed-tag set, and a
    * call whose tag is already recorded is a no-op returning None — the
    * retry contract a streaming sink needs (a crashed attempt's files
    * are referenced by no manifest: invisible to readers, vacuum food).
    * The record survives [[compact]] renaming the data files, so even a
    * retry delivered after maintenance ran stays a no-op. Returns the
    * new version, or None for a duplicate.
    */
  /** `sizeHint`: measured byte size of the batch when the CALLER knows
    * it (e.g. an index refresh whose postings derive from manifest-
    * listed fresh files) — the same estimate-inflation guard the
    * rewrite paths use: without it, a range-clustered append sizes its
    * range split from the optimizer's sizeInBytes, which multiplies
    * through joins/distincts and saturates the task cap, making every
    * micro-batch append pay a sampling pass (a full re-execution of
    * the batch plan) plus a max-width shuffle for a KB of rows.
    */
  def commitAppend(spark: SparkSession, table: String, df: DataFrame,
                   partCol: String, tag: Option[String] = None,
                   statsCols: Seq[String] = Seq.empty,
                   sizeHint: Option[Long] = None): Option[Long] = {
    val v = currentVersion(spark, table)
    // the append path reads ONLY the manifest list (header + segment
    // refs) — never the file entries: per micro-batch metadata I/O is
    // O(#segments), independent of table file count. Pending equality
    // deletes carry through untouched: the fresh files' seq exceeds
    // every delete's, so the append is never masked.
    val (refs, deletes, hdr) = readListRaw(spark, table, v)
    if (tag.exists(hdr.tags.contains))
      None
    else {
      enforceChecks(df, hdr.checks, "commitAppend")
      val evolved = assignFieldIds(evolveSchema(hdr.schema, df.schema))
      val effStats = if (statsCols.nonEmpty) statsCols else hdr.statsCols
      val fresh = writeDataFiles(spark, table, applySchemaMeta(df, evolved),
        partCol, tag, effStats, bloomCols = hdr.bloomCols,
        bucket = hdr.bucket, bucketSort = hdr.sortBy, sizeHint = sizeHint)
      val freshRefs =
        if (fresh.isEmpty) Seq.empty
        else Seq(writeSegment(spark, table, fresh.map(_.copy(seq = v + 1))))
      commitList(spark, table, v + 1,
        foldIfWide(spark, table, refs ++ freshRefs), deletes,
        hdr.copy(tags = hdr.tags ++ tag, schema = Some(schemaToString(evolved)),
          statsCols = effStats, partCol = hdr.partCol.orElse(Some(partCol))))
      Some(v + 1)
    }
  }

  /** OVERWRITE as one atomic version: every current file is replaced by
    * `df`'s, pending equality deletes clear (all masked data is being
    * replaced anyway), the tag ledger survives (idempotence outlives an
    * overwrite), and the schema evolves by the usual ADD-and-WIDEN
    * rules so field ids stay stable for shared names. Readers pinned to
    * the old version keep it until vacuum — this is `SaveMode.Overwrite`
    * with snapshot isolation instead of the classic
    * delete-then-write window where concurrent readers see nothing.
    */
  def commitOverwrite(spark: SparkSession, table: String, df: DataFrame,
                      partCol: String,
                      statsCols: Seq[String] = Seq.empty,
                      sizeHint: Option[Long] = None): Long = {
    val v = currentVersion(spark, table)
    val meta = readMeta(spark, table, v)
    val hdr = meta.hdr
    enforceChecks(df, hdr.checks, "commitOverwrite")
    val evolved = assignFieldIds(evolveSchema(hdr.schema, df.schema))
    val effStats = if (statsCols.nonEmpty) statsCols else hdr.statsCols
    val fresh = writeDataFiles(spark, table, applySchemaMeta(df, evolved),
      partCol, statsCols = effStats, bloomCols = hdr.bloomCols,
      bucket = hdr.bucket, bucketSort = hdr.sortBy, sizeHint = sizeHint)
    commitRewrite(spark, table, v, meta.segs,
      meta.entries.map(_.path).toSet, fresh, Seq.empty,
      hdr.copy(schema = Some(schemaToString(evolved)), statsCols = effStats,
        partCol = Some(partCol)))
    v + 1
  }

  /** ADD-and-WIDEN schema evolution: the table schema grows by the
    * batch's novel columns, and a shared name may WIDEN (int→long,
    * float→double — the lossless promotions Spark 4's parquet reader
    * upcasts natively); any other type change is a loud failure. Old
    * files are never rewritten — reads apply the evolved schema, the
    * parquet reader widens narrower physical types, and yields null
    * for columns a file predates. A batch may also OMIT existing
    * columns (they read back null for its rows).
    */
  private def evolveSchema(current: Option[String],
                           incoming: org.apache.spark.sql.types.StructType): org.apache.spark.sql.types.StructType =
    current match {
      case None => incoming
      case Some(str) =>
        import org.apache.spark.sql.types._
        val cur = schemaFromString(str)
        // the widened type covers BOTH sides: table int + batch long
        // widens the table; table long + batch int keeps long (the new
        // int32 files upcast on read like the old ones)
        def widened(a: DataType, b: DataType): Option[DataType] = (a, b) match {
          case _ if a == b                                        => Some(a)
          case (IntegerType, LongType) | (LongType, IntegerType)  => Some(LongType)
          case (FloatType, DoubleType) | (DoubleType, FloatType)  => Some(DoubleType)
          case _                                                  => None
        }
        val updated = cur.fields.map { c =>
          incoming.find(_.name == c.name) match {
            case None => c
            case Some(f) => widened(c.dataType, f.dataType) match {
              case Some(t) => c.copy(dataType = t)
              case None => throw new IllegalArgumentException(
                s"schema evolution: column ${f.name} is ${f.dataType}, table has ${c.dataType}")
            }
          }
        }
        val added = incoming.filterNot(f => cur.exists(_.name == f.name))
        StructType(updated ++ added)
    }

  /** RENAME a column — a header-only commit (nothing rewritten): old
    * files keep the old physical name and the read path matches them by
    * FIELD ID, which renames exist for. The stats-column list follows
    * the rename; per-file stats recorded under the old name simply stop
    * skipping (safe — a file with no stats for a column never skips).
    * A batch appended later under the STALE name is treated as an
    * added column, the standard field-id semantics — writers must use
    * current names.
    */
  def renameColumn(spark: SparkSession, table: String,
                   from: String, to: String): Long = {
    val v = currentVersion(spark, table)
    val (refs, dels, hdr) = readListRaw(spark, table, v)
    val st = schemaFromString(hdr.schema.getOrElse(
      sys.error(s"renameColumn: $table has no schema yet")))
    require(st.fieldNames.contains(from), s"renameColumn: no column $from")
    require(!st.fieldNames.contains(to), s"renameColumn: $to already exists")
    require(st.forall(_.metadata.contains(FieldIdKey)),
      s"renameColumn: $table predates field-id schemas")
    val renamed = org.apache.spark.sql.types.StructType(
      st.fields.map(f => if (f.name == from) f.copy(name = to) else f))
    commitList(spark, table, v + 1, refs, dels,
      hdr.copy(schema = Some(schemaToString(renamed)),
        statsCols = hdr.statsCols.map(c => if (c == from) to else c),
        partCol = hdr.partCol.map(c => if (c == from) to else c),
        // bucket ids hash VALUES, not names — the spec just follows
        bucketBy = hdr.bucketBy.map(c => if (c == from) to else c),
        sortBy = hdr.sortBy.map(c => if (c == from) to else c)))
    v + 1
  }

  /** DROP a column — a header-only commit: old files keep the bytes
    * (reclaimed as files are rewritten by later maintenance), reads
    * stop projecting them, and a later re-ADD of the same name gets a
    * FRESH field id — the old values can never resurrect into it (the
    * reason drops need field ids at all).
    */
  def dropColumn(spark: SparkSession, table: String, name: String): Long = {
    val v = currentVersion(spark, table)
    val (refs, dels, hdr) = readListRaw(spark, table, v)
    val st = schemaFromString(hdr.schema.getOrElse(
      sys.error(s"dropColumn: $table has no schema yet")))
    require(st.fieldNames.contains(name), s"dropColumn: no column $name")
    require(st.fields.length > 1, "dropColumn: cannot drop the last column")
    require(!hdr.bucketBy.contains(name),
      s"dropColumn: $name is the table's bucket column")
    require(!hdr.sortBy.contains(name),
      s"dropColumn: $name is the table's sort column")
    require(st.forall(_.metadata.contains(FieldIdKey)),
      s"dropColumn: $table predates field-id schemas")
    val dropped = org.apache.spark.sql.types.StructType(
      st.fields.filterNot(_.name == name))
    commitList(spark, table, v + 1, refs, dels,
      hdr.copy(schema = Some(schemaToString(dropped)),
        statsCols = hdr.statsCols.filterNot(_ == name)))
    v + 1
  }

  /** Fold the current version's small files (rows < `smallThreshold`)
    * into right-sized ones, publishing the SAME rows as a new version —
    * the steady-state maintenance a micro-batch append sink needs (each
    * batch adds a file per touched partition value; a day of 1-minute
    * batches is ~1 440 tiny files per value). Large files carry over by
    * reference. Returns (new version, files folded, files produced);
    * current version unchanged when fewer than 2 files qualify.
    */
  def compact(spark: SparkSession, table: String, partCol: String,
              smallThreshold: Long = 1000000L): (Long, Int, Int) = {
    val v = currentVersion(spark, table)
    val meta = readMeta(spark, table, v)
    requireNoPendingDeletes(table, meta, "compact")
    val (segs, hdr) = (meta.segs, meta.hdr)
    val small0 = meta.entries.filter(_.rows < smallThreshold)
    // fold only partitions where folding can REDUCE the file count —
    // a partition already down to one small file is carried verbatim,
    // so steady-state maintenance is a version NO-OP instead of a
    // whole-table rewrite every janitor tick (bucketed layouts keep
    // the whole set: files are per (partition, bucket) there and the
    // writer re-buckets, so reduction is decided by the write itself)
    val small =
      if (hdr.bucket.isDefined) small0
      else small0.groupBy(_.parts).filter(_._2.size >= 2)
        .values.flatten.toSeq
    if (small.size < 2) (v, 0, 0)
    else {
      val fresh = writeDataFiles(spark, table,
        readFiles(spark, table, small, hdr.schema), partCol,
        statsCols = hdr.statsCols, bloomCols = hdr.bloomCols, bucket = hdr.bucket, bucketSort = hdr.sortBy,
        sizeHint = Some(small.map(_.bytes).sum))
      // the header (tag ledger + schema) rides along — idempotence and
      // the evolved schema both outlive the renames
      commitRewrite(spark, table, v, segs, small.map(_.path).toSet,
        fresh, Seq.empty, hdr)
      // compaction preserves the visible row set: ANALYZE sketches stay
      // valid verbatim, only their file fingerprint moves
      TableStats.rebind(spark, table, v, v + 1)
      RankStats.rebind(spark, table, v, v + 1)
      (v + 1, small.size, fresh.size)
    }
  }

  /** PARTITION-SCOPED compaction (Iceberg's `rewrite_data_files` with
    * a filter): fold small files only inside the named partition
    * values, carrying every other file by reference. At 100 TB,
    * maintenance runs where ingest runs — today's hot partitions
    * accumulate micro-batch litter and get compacted on a tight
    * cadence while the cold ones are never read, listed, or rewritten.
    * Same atomicity/pinned-reader semantics as [[compact]]; returns
    * (version, files folded, files produced).
    */
  def compactWhere(spark: SparkSession, table: String, partCol: String,
                   values: Seq[String],
                   smallThreshold: Long = 1000000L): (Long, Int, Int) = {
    val v = currentVersion(spark, table)
    val meta = readMeta(spark, table, v)
    requireNoPendingDeletes(table, meta, "compactWhere")
    val (segs, hdr) = (meta.segs, meta.hdr)
    val vset = values.toSet
    val small0 = meta.entries.filter(e =>
      e.rows < smallThreshold &&
        e.effPartCol(hdr.partCol).contains(partCol) &&
        e.parts.exists(ps => ps.nonEmpty && ps.forall(vset.contains)))
    // same no-churn rule as [[compact]]: a hot partition already folded
    // to one small file is carried, so the janitor's tick after the
    // fold is a version no-op (bucketed layouts keep the whole set)
    val small =
      if (hdr.bucket.isDefined) small0
      else small0.groupBy(_.parts).filter(_._2.size >= 2)
        .values.flatten.toSeq
    if (small.size < 2) (v, 0, 0)
    else {
      val fresh = writeDataFiles(spark, table,
        readFiles(spark, table, small, hdr.schema), partCol,
        statsCols = hdr.statsCols, bloomCols = hdr.bloomCols, bucket = hdr.bucket, bucketSort = hdr.sortBy,
        sizeHint = Some(small.map(_.bytes).sum))
      commitRewrite(spark, table, v, segs, small.map(_.path).toSet,
        fresh, Seq.empty, hdr)
      TableStats.rebind(spark, table, v, v + 1) // row-set-preserving
      RankStats.rebind(spark, table, v, v + 1)
      (v + 1, small.size, fresh.size)
    }
  }

  /** Z-ORDER maintenance (the OPTIMIZE ZORDER BY analogue): rewrite the
    * table ordered by the Morton interleave of TWO numeric/timestamp
    * columns, so every file covers a compact curve segment — a tight
    * min/max box over BOTH dimensions at once. 1-D range clustering
    * prunes a second column only as far as it correlates with the
    * first; after z-clustering, predicates on EITHER column (or both)
    * skip files through the same per-file stats, with no correlation
    * required — the standard lakehouse answer for two independent query
    * dimensions (time + user, time + key, …).
    *
    * Each dimension is scaled to a 16-bit bucket over its observed
    * [min, max] (one agg pass), interleaved with
    * [[graft.operators.ZOrder.zValue]], and the rewrite range-splits +
    * sorts on the code. Both columns join the header's stats list, so
    * later appends keep recording them. A full-table rewrite — run it
    * at the cadence you would run compaction; readers pinned to older
    * versions are unaffected (it is one atomic commit like any other).
    * Returns the new version.
    */
  def clusterZOrder(spark: SparkSession, table: String, partCol: String,
                    dimA: String, dimB: String): Long = {
    val v = currentVersion(spark, table)
    val meta = readMeta(spark, table, v)
    requireNoPendingDeletes(table, meta, "clusterZOrder")
    val hdr = meta.hdr
    // rival layouts: a z-rewrite would break the files-hold-one-bucket
    // invariant the bucketed scan's co-partitioning claim rests on
    require(hdr.bucketBy.isEmpty,
      s"clusterZOrder: $table is bucketed by ${hdr.bucketBy.get} — " +
        "bucketing and z-order are mutually exclusive layouts")
    val df = indexedRead(spark, table, meta.entries, hdr)
    val b = df.agg(
      min(col(dimA)).cast("double"), max(col(dimA)).cast("double"),
      min(col(dimB)).cast("double"), max(col(dimB)).cast("double")).head()
    require(!b.isNullAt(0) && !b.isNullAt(2),
      s"clusterZOrder: $dimA/$dimB have no non-null values")
    def bucket(c: String, lo: Double, hi: Double) =
      ((col(c).cast("double") - lit(lo)) /
        lit(math.max(hi - lo, 1e-12)) * lit(65535.0)).cast("long")
    val z = graft.operators.ZOrder.zValue(
      bucket(dimA, b.getDouble(0), b.getDouble(1)),
      bucket(dimB, b.getDouble(2), b.getDouble(3)))
    val statsCols = (hdr.statsCols ++ Seq(dimA, dimB)).distinct
    val fresh = writeDataFiles(spark, table, df, partCol,
      statsCols = statsCols, clusterExpr = Some(z),
      bloomCols = hdr.bloomCols, bucket = hdr.bucket, bucketSort = hdr.sortBy,
      sizeHint = Some(meta.entries.map(_.bytes).sum))
    commitRewrite(spark, table, v, meta.segs,
      meta.entries.map(_.path).toSet, fresh, Seq.empty,
      hdr.copy(statsCols = statsCols))
    TableStats.rebind(spark, table, v, v + 1) // row-set-preserving
    RankStats.rebind(spark, table, v, v + 1)
    v + 1
  }

  /** Row-level DELETE: drop rows matching `predicate`, rewriting ONLY
    * files that contain a match and carrying every other file by
    * reference. Candidates come from one column-pruned scan tagging
    * rows with their source file; `rangeHint` lets the caller assert a
    * stats-column bound implied by the predicate, manifest-pruning that
    * scan too. Deletes are snapshot-isolated like every other commit:
    * readers pinned to the old version keep seeing the rows until
    * [[vacuum]]. Returns (new version, rows deleted) — current version
    * unchanged when nothing matches.
    */
  def commitDelete(spark: SparkSession, table: String,
                   predicate: org.apache.spark.sql.Column,
                   partCol: String,
                   rangeHint: Option[(String, Double, Double)] = None): (Long, Long) = {
    val v = currentVersion(spark, table)
    val meta = readMeta(spark, table, v)
    requireNoPendingDeletes(table, meta, "commitDelete")
    val (segs, hdr) = (meta.segs, meta.hdr)
    val manifest = meta.entries
    // rangeHint is the caller's ASSERTION that the predicate implies
    // col ∈ [lo, hi]: the candidate scan then skips files whose stats
    // are disjoint (a wrong hint silently misses rows — it narrows the
    // scan, the predicate still decides row membership)
    val scanSet = rangeHint.fold(manifest) { case (c, lo, hi) =>
      manifest.filter(_.stats.find(_.col == c).forall(s =>
        s.hi >= lo && s.lo <= hi))
    }
    if (scanSet.isEmpty) return (v, 0L)
    // three-valued logic: a predicate that evaluates NULL marks a row
    // NON-matching. Without the coalesce, filter(pred) and filter(!pred)
    // BOTH drop the row — null rows in rewritten files would silently
    // vanish while identical rows in untouched files survive.
    val matches = coalesce(predicate, lit(false))
    val hitNames = readFiles(spark, table, scanSet, hdr.schema)
      .withColumn("__f", input_file_name())
      .filter(matches)
      .select(col("__f")).distinct()
      .collect().map(r => new Path(new java.net.URI(r.getString(0)).getPath).getName)
      .toSet
    val affected = manifest.filter(e =>
      hitNames.contains(new Path(e.path).getName))
    if (affected.isEmpty) (v, 0L)
    else {
      val target = readFiles(spark, table, affected, hdr.schema)
      val nDeleted = target.filter(matches).count()
      val kept = target.filter(!matches)
      val fresh =
        if (kept.isEmpty) Seq.empty
        else writeDataFiles(spark, table, kept, partCol,
          statsCols = hdr.statsCols, bloomCols = hdr.bloomCols, bucket = hdr.bucket, bucketSort = hdr.sortBy,
          sizeHint = Some(affected.map(_.bytes).sum))
      commitRewrite(spark, table, v, segs, affected.map(_.path).toSet,
        fresh, Seq.empty, hdr)
      (v + 1, nDeleted)
    }
  }

  /** RETENTION delete — expire every row with `double(tsCol) < cutoff`
    * (the comparison happens in the per-file STATS' double domain, and
    * the row predicate uses the same `cast(tsCol as double)` encoding,
    * so the proof and the predicate can never disagree; for timestamps
    * the double cast is micros-exact through 2^52 seconds). Files whose
    * stats PROVE every row expired (`hi < cutoff`, zero recorded nulls,
    * measured rows) are dropped BY REFERENCE — zero data I/O, the
    * Iceberg drop-partition fast path generalized to stat ranges;
    * files whose stats prove no row expired (`lo >= cutoff`, or a
    * proven all-NULL column — NULL compares UNKNOWN, the row survives)
    * carry by reference; only cutoff-STRADDLING files (or files with
    * no usable stats) are read and rewritten. On a time-clustered
    * table the daily retention pass is a manifest fold plus the
    * rewrite of at most the boundary files — the 100 TB shape, where
    * expiring a day must not cost a table scan.
    */
  def commitExpire(spark: SparkSession, table: String, tsCol: String,
                   cutoff: Double, partCol: String): (Long, Long) = {
    val v = currentVersion(spark, table)
    val meta = readMeta(spark, table, v)
    requireNoPendingDeletes(table, meta, "commitExpire")
    val (segs, hdr) = (meta.segs, meta.hdr)
    def st(e: FileEntry) = e.stats.find(_.col == tsCol)
    val (dropped, rest) = meta.entries.partition(e => st(e).exists(s =>
      !s.hi.isNaN && s.hi < cutoff && s.nulls == 0L && e.rows > 0L))
    // carry: provably live (lo >= cutoff) or provably all-NULL (NaN
    // bounds with exact null count — no row can match); everything
    // else must be read
    val candidates = rest.filterNot(e => st(e).exists(s =>
      (!s.lo.isNaN && s.lo >= cutoff) ||
        (s.lo.isNaN && s.nulls >= 0L && s.nulls == e.rows && e.rows > 0L)))
    val matches = coalesce(col(tsCol).cast("double") < lit(cutoff),
      lit(false))
    val (fresh, rewrittenPaths, nRewriteDeleted) =
      if (candidates.isEmpty) (Seq.empty[FileEntry], Set.empty[String], 0L)
      else {
        val target = readFiles(spark, table, candidates, hdr.schema)
        // a stats-present candidate straddles by proof (its min row
        // matches); stats-absent ones may hold no hit — tag hit files
        val hitNames = target.withColumn("__f", input_file_name())
          .filter(matches).select(col("__f")).distinct()
          .collect()
          .map(r => new Path(new java.net.URI(r.getString(0)).getPath).getName)
          .toSet
        val affected = candidates.filter(e =>
          hitNames.contains(new Path(e.path).getName))
        if (affected.isEmpty) (Seq.empty[FileEntry], Set.empty[String], 0L)
        else {
          val aff = readFiles(spark, table, affected, hdr.schema)
          val nDel = aff.filter(matches).count()
          val kept = aff.filter(!matches)
          val written =
            if (kept.isEmpty) Seq.empty[FileEntry]
            else writeDataFiles(spark, table, kept, partCol,
              statsCols = hdr.statsCols, bloomCols = hdr.bloomCols,
              bucket = hdr.bucket, bucketSort = hdr.sortBy,
              sizeHint = Some(affected.map(_.bytes).sum))
          (written, affected.map(_.path).toSet, nDel)
        }
      }
    val removed = dropped.map(_.path).toSet ++ rewrittenPaths
    if (removed.isEmpty) (v, 0L)
    else {
      commitRewrite(spark, table, v, segs, removed, fresh, Seq.empty, hdr)
      (v + 1, dropped.map(_.rows).sum + nRewriteDeleted)
    }
  }

  /** Row-level DELETE BY KEY SET: drop rows whose `keyCol` appears in
    * `keys`, rewriting only the files that contain a hit and carrying
    * every other file by reference — the deletion-list maintenance op
    * (GDPR / takedown) as ONE atomic commit. Unlike [[commitDelete]]'s
    * predicate form, membership comes from a DataFrame (semi/anti
    * joins, broadcast for typical lists — a deletion list can be
    * millions of keys; no literal explosion). Keys absent from the
    * table are simply not hits. Returns (new version, rows deleted);
    * current version unchanged when nothing matches.
    */
  /** `candidates`: a PROVEN (version, file-path) superset of the files
    * holding any key — e.g. a current secondary index's postings
    * ([[SecondaryIndex.deleteKeys]]). When its version still matches
    * the table, the column-pruned candidate SCAN is skipped entirely
    * (O(postings) driver work instead of O(table) scan); rows in
    * non-candidate files are TRUSTED absent, so an unproven set would
    * silently under-delete. A version mismatch (racing commit between
    * the probe and this call) falls back to the scan — never wrong.
    */
  def commitDeleteKeys(spark: SparkSession, table: String, keys: DataFrame,
                       keyCol: String, partCol: String,
                       candidates: Option[(Long, Set[String])] = None): (Long, Long) = {
    val v = currentVersion(spark, table)
    val meta = readMeta(spark, table, v)
    requireNoPendingDeletes(table, meta, "commitDeleteKeys")
    val (segs, hdr) = (meta.segs, meta.hdr)
    val manifest = meta.entries
    val keyset = keys.select(col(keyCol)).distinct()
    val affected = candidates match {
      case Some((atV, paths)) if atV == v =>
        manifest.filter(e => paths.contains(e.path))
      case _ =>
        // one column-pruned scan (key column only) tags hit files
        val hitNames = readFiles(spark, table, manifest, hdr.schema)
          .select(col(keyCol), input_file_name().as("__f"))
          .join(keyset, Seq(keyCol), "left_semi")
          .select(col("__f")).distinct()
          .collect().map(r => new Path(new java.net.URI(r.getString(0)).getPath).getName)
          .toSet
        manifest.filter(e => hitNames.contains(new Path(e.path).getName))
    }
    if (affected.isEmpty) (v, 0L)
    else {
      val target = readFiles(spark, table, affected, hdr.schema)
      val kept = target.join(keyset, Seq(keyCol), "left_anti")
      val fresh = writeDataFiles(spark, table, kept, partCol,
        statsCols = hdr.statsCols, bloomCols = hdr.bloomCols, bucket = hdr.bucket, bucketSort = hdr.sortBy,
        sizeHint = Some(affected.map(_.bytes).sum))
      commitRewrite(spark, table, v, segs, affected.map(_.path).toSet,
        fresh, Seq.empty, hdr)
      // deleted = affected rows − surviving rows: both already counted
      // (manifest + fresh entries), no extra pass
      (v + 1, affected.map(_.rows).sum - fresh.map(_.rows).sum)
    }
  }

  // the eager rewrite ops read data files RAW (no delete masking), so
  // running one with deletes pending would resurrect masked rows into
  // fresh files whose seq outranks the delete — refuse loudly instead
  private def requireNoPendingDeletes(table: String, meta: TableMeta,
                                      op: String): Unit =
    require(meta.deletes.isEmpty,
      s"$op: $table has ${meta.deletes.size} pending equality delete(s); " +
        "run applyDeletes first")

  private def deletesDir(table: String) = new Path(table, "deletes")

  /** EQUALITY-DELETE commit (merge-on-read): record `keys` as a small
    * parquet delete file masked into reads of data files committed
    * BEFORE it (sequence scoping — a later append legitimately
    * re-inserts a key). The commit writes O(|keys|) bytes and rewrites
    * NOTHING — the delete write path for CDC/takedown streams at
    * 100 TB, where [[commitDeleteKeys]]' candidate scan + rewrite per
    * batch would dwarf the ingest. Readers pay one (typically
    * broadcast) anti-join per delete file until [[applyDeletes]]
    * materializes them. Returns (new version, distinct keys recorded).
    */
  def commitDeleteLazy(spark: SparkSession, table: String, keys: DataFrame,
                       keyCol: String): (Long, Long) = {
    val v = currentVersion(spark, table)
    val (refs, dels, hdr) = readListRaw(spark, table, v)
    val name = s"deletes/del-${java.util.UUID.randomUUID.toString.take(12)}.parquet"
    val distinct = keys.select(col(keyCol)).distinct()
    distinct.coalesce(1).write.parquet(s"$table/$name")
    val n = spark.read.parquet(s"$table/$name").count()
    // the delete file exists before the list referencing it publishes —
    // a conflict orphans it (vacuum food), never a dangling reference
    commitList(spark, table, v + 1, refs,
      dels :+ DeleteFile(name, keyCol, n, v + 1), hdr)
    (v + 1, n)
  }

  /** POSITIONAL delete (deletion vector, the Delta-DV / Iceberg
    * position-delete construction): rows matching `predicate` are
    * recorded as (file basename, row position) pairs in a small
    * parquet, masked at read time — the commit scans only stat-pruned
    * candidate files (via `rangeHint`) and REWRITES NOTHING, so a
    * predicate delete on a 100 TB table costs one pruned scan plus
    * O(matched rows) of metadata. Complements [[commitDeleteLazy]]
    * (which needs the delete expressed as keys): a DV can delete by
    * ANY predicate, applies only to rows that existed at commit time
    * (positions are file-scoped — later appends are untouched by
    * construction, no sequence subtleties), and the same
    * [[applyDeletes]] materializes it off the read path. Returns
    * (new version, rows masked); version unchanged when nothing
    * matched.
    */
  def commitDeletePositional(spark: SparkSession, table: String,
                             predicate: org.apache.spark.sql.Column,
                             rangeHint: Option[(String, Double, Double)] = None): (Long, Long) = {
    val v = currentVersion(spark, table)
    val meta = readMeta(spark, table, v)
    val candidates = meta.entries.filter(e => rangeHint.forall {
      case (c, lo, hi) => e.stats.find(_.col == c).forall(s =>
        s.hi >= lo && s.lo <= hi)
    })
    if (candidates.isEmpty) return (v, 0L)
    // victims are selected from the MASKED view (a row an earlier
    // delete already hides cannot be re-deleted), with per-era
    // applicable-delete grouping like any read
    val victims = candidates.groupBy(e => meta.deletes.filter(_.seq > e.seq))
      .map { case (dels, es) =>
        maskDeletes(spark, table,
          readFiles(spark, table, es, meta.hdr.schema), dels,
          keepMeta = true)
          .filter(coalesce(predicate, lit(false)))
          .select(col("__file").as("file"), col("__pos").as("pos"))
      }.reduce(_.unionByName(_))
    val name = s"deletes/dv-${java.util.UUID.randomUUID.toString.take(12)}.parquet"
    victims.coalesce(1).write.parquet(s"$table/$name")
    val n = spark.read.parquet(s"$table/$name").count()
    if (n == 0L) {
      fs(spark, table).delete(new Path(table, name), true)
      (v, 0L)
    } else {
      commitList(spark, table, v + 1, meta.segs.map(_._1),
        meta.deletes :+ DeleteFile(name, PosCol, n, v + 1), meta.hdr)
      (v + 1, n)
    }
  }

  /** Materialize pending equality deletes: rewrite ONLY the data files
    * that contain a masked row (grouped by which deletes apply to them
    * under the seq rule), carry the rest by reference, and publish ONE
    * version with no delete files — the compaction half of
    * merge-on-read. Returns (new version, rows removed); current
    * version unchanged when no deletes are pending.
    */
  def applyDeletes(spark: SparkSession, table: String,
                   partCol: String): (Long, Long) = {
    val v = currentVersion(spark, table)
    val meta = readMeta(spark, table, v)
    if (meta.deletes.isEmpty) return (v, 0L)
    val hdr = meta.hdr
    var removed = Set.empty[String]
    var freshAll = Seq.empty[FileEntry]
    // one candidate scan + one rewrite per distinct applicable-delete
    // set (usually a single group; mixed-era tables get one per era)
    meta.entries.groupBy(e => meta.deletes.filter(_.seq > e.seq))
      .foreach { case (dels, entries) =>
        if (dels.nonEmpty) {
          val (posDels, eqDels) = dels.partition(_.col == PosCol)
          // positional deletes NAME their hit files; only equality
          // deletes need the candidate scan
          val posNames = posDels.flatMap(d =>
            spark.read.parquet(s"$table/${d.path}")
              .select(col("file")).distinct()
              .collect().map(_.getString(0))).toSet
          val eqNames =
            if (eqDels.isEmpty) Set.empty[String]
            else {
              val tagged = readFiles(spark, table, entries, hdr.schema)
                .withColumn("__f", input_file_name())
              eqDels.map(d =>
                tagged.join(spark.read.parquet(s"$table/${d.path}"),
                  Seq(d.col), "left_semi").select(col("__f")))
                .reduce(_.union(_)).distinct()
                .collect()
                .map(r => new Path(new java.net.URI(r.getString(0)).getPath).getName)
                .toSet
            }
          val hitNames = posNames ++ eqNames
          val affected = entries.filter(e =>
            hitNames.contains(new Path(e.path).getName))
          if (affected.nonEmpty) {
            val kept = maskDeletes(spark, table,
              readFiles(spark, table, affected, hdr.schema), dels)
            removed ++= affected.map(_.path)
            freshAll ++= writeDataFiles(spark, table, kept, partCol,
              statsCols = hdr.statsCols, bloomCols = hdr.bloomCols,
              bucket = hdr.bucket, bucketSort = hdr.sortBy,
              sizeHint = Some(affected.map(_.bytes).sum))
          }
        }
      }
    val before = meta.entries.filter(e => removed.contains(e.path))
      .map(_.rows).sum
    commitRewrite(spark, table, v, meta.segs, removed, freshAll,
      Seq.empty, hdr)
    (v + 1, before - freshAll.map(_.rows).sum)
  }

  /** Threshold-driven AUTO-MAINTENANCE — the "optimize service" a
    * micro-batch cadence makes mandatory, as one idempotent call a
    * pipeline invokes every K batches (or a janitor on a timer):
    *
    *   1. pending delete files ≥ `maxDeleteFiles` → [[applyDeletes]]
    *      (bounds the per-read anti-join fan-in);
    *   2. small files (< `smallThreshold` rows) ≥ `maxSmallFiles` →
    *      [[compact]] (bounds scan task count);
    *   3. [[vacuum]] with `keepVersions`/`minAgeMs` (bounds metadata
    *      and orphan growth — the age window keeps it safe to run
    *      beside writers and un-published WAP stages).
    *
    * Below-threshold calls are no-ops, so the policy is safe to call
    * unconditionally. Returns (version after, deletes applied,
    * files folded, artifacts vacuumed).
    */
  /** `expireBefore = Some((tsCol, cutoff))` adds a RETENTION policy to
    * the janitor: rows older than the cutoff expire via [[commitExpire]]
    * (stat-proven whole-file drops, boundary rewrites only). It runs
    * after the delete-debt step and ONLY when no deletes are pending
    * (the rewrite paths refuse pending masks); a tick that skipped it
    * is caught by the next one once applyDeletes has cleared the debt.
    */
  def maintain(spark: SparkSession, table: String, partCol: String,
               maxDeleteFiles: Int = 8, maxSmallFiles: Int = 64,
               smallThreshold: Long = 1000000L, keepVersions: Int = 3,
               minAgeMs: Long = 15 * 60 * 1000L,
               hotValues: Seq[String] = Seq.empty,
               expireBefore: Option[(String, Double)] = None,
               refreshStats: Boolean = false): (Long, Long, Int, Long) = {
    val meta = readMeta(spark, table, currentVersion(spark, table))
    val applied =
      if (meta.deletes.size >= maxDeleteFiles)
        applyDeletes(spark, table, partCol)._2
      else 0L
    expireBefore.foreach { case (tsCol, cutoff) =>
      val pending = readMeta(spark, table,
        currentVersion(spark, table)).deletes
      if (pending.isEmpty) commitExpire(spark, table, tsCol, cutoff, partCol)
    }
    // with hotValues (today's ingest partitions), the small-file count
    // and the fold are SCOPED to them — the janitor never reads or
    // rewrites cold partitions, so its cadence can match the ingest
    def hot(e: FileEntry): Boolean =
      hotValues.isEmpty || (e.effPartCol(meta.hdr.partCol).contains(partCol) &&
        e.parts.exists(ps => ps.nonEmpty && ps.forall(hotValues.contains)))
    val folded =
      if (readManifest(spark, table, currentVersion(spark, table))
        .count(e => e.rows < smallThreshold && hot(e)) >= maxSmallFiles) {
        if (hotValues.isEmpty) compact(spark, table, partCol, smallThreshold)._2
        else compactWhere(spark, table, partCol, hotValues, smallThreshold)._2
      } else 0
    val removed = vacuum(spark, table, keepVersions, minAgeMs)
    // stats maintenance rides the same tick (opt-in): an ANALYZEd
    // sidecar is advanced at delta cost on append windows, recomputed
    // otherwise — without this, every sink batch leaves the quantile/
    // NDV serves refusing (correct, but a lakehouse whose stats expire
    // at ingest cadence effectively has none). A refresh whose recorded
    // version was vacuumed away above cannot prove its append window
    // (the old manifest is gone) — it falls back to a full ANALYZE of
    // the columns the sidecar already tracks.
    if (refreshStats) {
      // only the provably-unprovable delta refresh falls back to a full
      // ANALYZE: the recorded version's manifest was vacuumed away (the
      // step above), so the append window cannot be verified — that is
      // a FileNotFoundException from the old list read, and the
      // swallowed cause is logged. Any OTHER failure (a transient IO
      // error mid-summarize, say) propagates instead of silently
      // turning a cheap delta tick into a full-table stats scan.
      def orAnalyze(what: String)(refresh: => Unit)(analyze: => Unit): Unit =
        try refresh
        catch {
          case e: java.io.FileNotFoundException =>
            maintLog.warn(s"$what refresh for $table cannot prove its " +
              s"append window (recorded manifest gone: ${e.getMessage}); " +
              "falling back to full ANALYZE", e)
            analyze
        }
      TableStats.readStats(spark, table).foreach { prev =>
        orAnalyze("NDV stats")(TableStats.refresh(spark, table))(
          TableStats.analyze(spark, table, prev.sketches.map(_.col),
            prev.sketches.headOption.map(_.k).getOrElse(1024),
            sumCols = prev.sums.map(_.col)))
      }
      RankStats.readRanks(spark, table).foreach { prev =>
        orAnalyze("rank stats")(RankStats.refresh(spark, table))(
          RankStats.analyze(spark, table, prev.summaries.map(_.col),
            prev.summaries.headOption.map(_.m).getOrElse(1024)))
      }
    }
    (currentVersion(spark, table), applied, folded, removed)
  }

  /** Run `commit` with bounded optimistic-concurrency retries: on a
    * version-conflict failure the closure is re-invoked — every commit
    * operation re-resolves the current version at entry, so re-running
    * IS the rebase (append re-carries the new current segment list;
    * merge/delete re-evaluate their row semantics against the new
    * snapshot — last-writer-wins, which is what optimistic table
    * commits give; a caller needing stricter merge semantics should
    * compare snapshots itself and fail). A losing attempt's data files
    * and segments are referenced by no list — invisible to readers,
    * vacuum food. Non-conflict failures propagate immediately.
    */
  def commitWithRetry[T](maxAttempts: Int = 5)(commit: => T): T = {
    var attempt = 1
    while (true) {
      try return commit
      catch {
        case e: RuntimeException
          if e.getMessage != null &&
            e.getMessage.contains("snapshot commit conflict") &&
            attempt < maxAttempts =>
          attempt += 1
      }
    }
    sys.error("unreachable")
  }

  /** Remove data files referenced by NO retained manifest and manifests
    * older than the newest `keepVersions`. Orphans from crashed commits
    * (files without a manifest, manifest tmps) go too. Returns files
    * deleted.
    *
    * `minAgeMs` is the reader-protection window: a version stays
    * retained until its SUCCESSOR's manifest is at least that old —
    * a reader can have pinned v_n no later than v_{n+1}'s publish, so
    * after that point plus the window, v_n's files can no longer be in
    * any running scan (the Delta/Iceberg retention-period discipline;
    * size it to the longest query you run). Default 0 keeps the
    * explicit-maintenance behavior.
    */
  def vacuum(spark: SparkSession, table: String, keepVersions: Int = 1,
             minAgeMs: Long = 0L): Long = {
    require(keepVersions >= 1, "vacuum must keep at least the current version")
    val f = fs(spark, table)
    val vs = versions(spark, table)
    require(vs.nonEmpty, s"vacuum: $table has no committed version")
    val cutoff = System.currentTimeMillis() - minAgeMs
    val protectedVs =
      if (minAgeMs <= 0) Seq.empty
      else vs.zip(vs.drop(1)).collect { case (v, next)
        if f.getFileStatus(new Path(manifestDir(table), s"v$next.json"))
          .getModificationTime > cutoff => v
      }
    // named refs pin their versions unconditionally — a tagged snapshot
    // outlives keepVersions until the ref is dropped (Iceberg tags)
    val refVs = refs(spark, table).values.filter(vs.contains)
    val keep = (vs.takeRight(keepVersions) ++ protectedVs ++ refVs)
      .toSeq.distinct.sorted
    // un-published WAP stages are live too: their segments and data
    // files are referenced by no version yet, but a later publish will
    // reference them — vacuum must not eat a stage awaiting audit
    val staged = stagedIds(spark, table)
      .map(id => readListAt(f, wapPath(table, id))._1)
    val liveSegs: Set[String] =
      (keep.flatMap(readManifestList(spark, table, _)._1) ++
        staged.flatten).map(_.path).toSet
    val liveDels: Set[String] =
      keep.flatMap(readListRaw(spark, table, _)._2)
        .map(d => new Path(d.path).getName).toSet
    val live: Set[String] =
      (keep.flatMap(readManifest(spark, table, _)) ++
        staged.flatten.flatMap(readSegment(spark, table, _)))
        .map(e => new Path(e.path).getName).toSet
    // the age window also protects UNREFERENCED artifacts: a data file,
    // manifest tmp, or staging dir younger than the window may belong to
    // an IN-FLIGHT commit whose manifest is about to publish — deleting
    // it would leave a committed manifest pointing at missing files
    // (the Delta/Iceberg rule: retention applies to data-file age too)
    def oldEnough(st: org.apache.hadoop.fs.FileStatus): Boolean =
      minAgeMs <= 0 || st.getModificationTime <= cutoff
    var deleted = 0L
    if (f.exists(dataDir(table)))
      f.listStatus(dataDir(table)).foreach { st =>
        if (!live.contains(st.getPath.getName) && oldEnough(st)) {
          f.delete(st.getPath, false); deleted += 1
        }
      }
    f.listStatus(manifestDir(table)).foreach { st =>
      st.getPath.getName match {
        case vRe(n) if !keep.contains(n.toLong) =>
          f.delete(st.getPath, false); deleted += 1
        case name if name.contains(".json.tmp.") && oldEnough(st) =>
          f.delete(st.getPath, false); deleted += 1
        // segments referenced by no retained list: fold/rewrite
        // leftovers and conflict orphans (a YOUNG one may belong to an
        // in-flight commit whose list is about to publish)
        case name if name.startsWith("seg-") && !liveSegs.contains(name) &&
          oldEnough(st) =>
          f.delete(st.getPath, false); deleted += 1
        case _ => ()
      }
    }
    // delete files referenced by no retained list: applyDeletes
    // leftovers and conflict orphans (same age window as data files)
    if (f.exists(deletesDir(table)))
      f.listStatus(deletesDir(table)).foreach { st =>
        if (!liveDels.contains(st.getPath.getName) && oldEnough(st)) {
          f.delete(st.getPath, true); deleted += 1
        }
      }
    // crashed writeDataFiles stagings are unreferenced by construction —
    // but a YOUNG one may be a commit mid-write, so the window applies
    f.listStatus(new Path(table)).foreach { st =>
      if (st.getPath.getName.startsWith("_staging_") && oldEnough(st)) {
        f.delete(st.getPath, true); deleted += 1
      }
    }
    deleted
  }

  // ---- named refs (the Iceberg tag construction): ref-<name>.json in
  // _manifests pins a version by NAME — vacuum retains pinned versions
  // regardless of keepVersions, so "the audited training snapshot"
  // survives routine retention until the ref is dropped. Refs are
  // metadata-only (a few bytes); the data they pin is shared with the
  // live table by reference.

  private val refRe = raw"ref-([A-Za-z0-9._-]+)\.json".r
  private def refPath(table: String, name: String): Path = {
    require(name.nonEmpty && name.matches("[A-Za-z0-9._-]+"),
      s"snapshot ref name must be [A-Za-z0-9._-]+, got '$name'")
    new Path(manifestDir(table), s"ref-$name.json")
  }

  /** Pin `version` (default: current) under `name`. Re-pointing an
    * existing ref requires `overwrite = true`; the write is
    * tmp+rename like every manifest publish (a racing setRef loses
    * loudly).
    */
  def setRef(spark: SparkSession, table: String, name: String,
             version: Option[Long] = None,
             overwrite: Boolean = false): Long = {
    val f = fs(spark, table)
    val v = version.getOrElse(currentVersion(spark, table))
    require(versions(spark, table).contains(v),
      s"snapshot setRef: version $v not retained for $table")
    val p = refPath(table, name)
    if (f.exists(p)) {
      require(overwrite, s"snapshot ref '$name' already exists for $table")
      f.delete(p, false)
    }
    val tmp = new Path(manifestDir(table),
      s"ref-$name.json.tmp.${java.util.UUID.randomUUID.toString.take(8)}")
    val out = f.create(tmp, false)
    try out.write(s"""{"version":$v}""".getBytes(
      java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    require(f.rename(tmp, p), {
      f.delete(tmp, false)
      s"snapshot setRef: ref '$name' raced for $table"
    })
    v
  }

  /** All named refs of the table. */
  def refs(spark: SparkSession, table: String): Map[String, Long] = {
    val f = fs(spark, table)
    val dir = manifestDir(table)
    if (!f.exists(dir)) Map.empty
    else f.listStatus(dir).toSeq.flatMap(_.getPath.getName match {
      case refRe(n) =>
        val body = readLines(f, refPath(table, n)).mkString.trim
        val vRefRe = raw"""\{"version":(\d+)\}""".r
        body match {
          case vRefRe(v) => Some(n -> v.toLong)
          case _ => sys.error(s"snapshot ref '$n': bad body: $body")
        }
      case _ => None
    }).toMap
  }

  /** Read the snapshot a ref pins — `readVersion` by name. */
  def readRef(spark: SparkSession, table: String, name: String): DataFrame =
    readVersion(spark, table, refs(spark, table).getOrElse(name,
      sys.error(s"snapshot ref '$name' does not exist for $table")))

  def dropRef(spark: SparkSession, table: String, name: String): Unit = {
    val f = fs(spark, table)
    require(f.delete(refPath(table, name), false),
      s"snapshot ref '$name' does not exist for $table")
  }

  /** TIMESTAMP AS OF: the latest version whose manifest committed at or
    * before `tsMillis` (manifest mtime is the commit instant — the
    * rename that published it). Loud failure when the table has no
    * commit that old or the candidate was vacuumed.
    */
  def versionAsOf(spark: SparkSession, table: String, tsMillis: Long): Long = {
    val f = fs(spark, table)
    val cands = versions(spark, table).filter(v =>
      f.getFileStatus(new Path(manifestDir(table), s"v$v.json"))
        .getModificationTime <= tsMillis)
    cands.lastOption.getOrElse(sys.error(
      s"snapshot asOf: no retained version of $table at or before $tsMillis"))
  }

  def readAsOf(spark: SparkSession, table: String, tsMillis: Long): DataFrame =
    readVersion(spark, table, versionAsOf(spark, table, tsMillis))

  /** Version history as a DataFrame: one row per retained manifest —
    * (version, n_files, n_rows, n_tags, committed_at). The table's
    * operational describe; at scale this reads K small manifests, never
    * data.
    */
  def history(spark: SparkSession, table: String): DataFrame = {
    import spark.implicits._
    val f = fs(spark, table)
    versions(spark, table).map { v =>
      // file/row counts come from the LIST's per-segment summaries —
      // describing K versions reads K small lists, never the segments
      val (refs, hdr) = readManifestList(spark, table, v)
      val mtime = f.getFileStatus(new Path(manifestDir(table), s"v$v.json"))
        .getModificationTime
      (v, refs.map(_.files.toLong).sum, refs.map(_.rows).sum,
        hdr.tags.size.toLong,
        new java.sql.Timestamp(mtime))
    }.toDF("version", "n_files", "n_rows", "n_tags", "committed_at")
  }

  /** Table-level statistics from the manifest LIST alone — (rows,
    * bytes, files) without opening a single data or segment file: the
    * metastore-free ANALYZE. `bytes` is 0 when any segment predates
    * byte recording (consumers must treat that as unknown, never as
    * small).
    */
  def tableStats(spark: SparkSession, table: String,
                 version: Option[Long] = None): (Long, Long, Long) = {
    val v = version.getOrElse(currentVersion(spark, table))
    val (refs, _) = readManifestList(spark, table, v)
    val bytes =
      if (refs.exists(_.bytes == 0L) && refs.exists(_.files > 0)) 0L
      else refs.map(_.bytes).sum
    (refs.map(_.rows).sum, bytes, refs.map(_.files.toLong).sum)
  }

  /** [[read]] with a SIZE-AWARE broadcast hint: when the manifest's
    * recorded byte total is positive and under the session's
    * `autoBroadcastJoinThreshold`, the relation is wrapped in
    * `broadcast()` — so a join of a snapshot dim table against a huge
    * fact side plans a broadcast join even though Spark cannot size a
    * bare HadoopFsRelation built from a custom FileIndex without
    * listing it. Unknown sizes (pre-recording segments) never hint.
    */
  def readHinted(spark: SparkSession, table: String): DataFrame = {
    val df = read(spark, table)
    val (_, bytes, _) = tableStats(spark, table)
    val threshold =
      org.apache.spark.sql.GraftConfBridge.autoBroadcastJoinThreshold(spark)
    if (bytes > 0L && threshold > 0L && bytes <= threshold) broadcast(df)
    else df
  }

  /** Per-file metadata of `version` (default current) as a DataFrame —
    * the files INSPECTION table (Iceberg's `table$files` /
    * `DESCRIBE DETAIL` surface): one row per data file with its
    * partition stamp, row/byte counts, commit seq, and which columns
    * carry min/max stats and blooms. Built from the manifest alone —
    * zero data-file opens, O(table files) driver rows (the same bound
    * planning already pays). The operational answer to "is this table
    * small-file-ridden / is the clustering holding / which partition
    * is skewed" WITHOUT scanning 100 TB.
    */
  def filesTable(spark: SparkSession, table: String,
                 version: Option[Long] = None): DataFrame = {
    import spark.implicits._
    val v = version.getOrElse(currentVersion(spark, table))
    val (entries, hdr) = readManifestFull(spark, table, v)
    entries.map { e =>
      (e.path, e.effPartCol(hdr.partCol), e.parts.map(_.mkString("/")),
        e.rows, e.bytes, e.seq, e.stats.map(_.col), e.blooms.map(_.col))
    }.toDF("path", "part_col", "partition", "n_rows", "n_bytes", "seq",
      "stats_cols", "bloom_cols")
  }

  /** RESTORE `table` to the logical state of `version` — published
    * Delta-RESTORE semantics: history moves FORWARD (a new version is
    * committed; pinned readers and the retained chain are untouched)
    * and the restored state is a plain O(#segments) list commit
    * carrying `version`'s segments, pending deletes, and schema BY
    * REFERENCE — no data is copied or rewritten. The idempotence tag
    * ledger is the UNION of the restored and current headers: a sink
    * micro-batch applied after `version` stays recorded, so a replay
    * after restore no-ops instead of double-applying (as in Delta,
    * where setTransaction history survives RESTORE). Fails loudly —
    * before publishing anything — if vacuum already removed a data or
    * delete file the target references.
    */
  def restoreTo(spark: SparkSession, table: String, version: Long): Long = {
    val cur = currentVersion(spark, table)
    val vs = versions(spark, table)
    require(vs.contains(version),
      s"snapshot restore: version $version not retained for $table (have ${vs.mkString(",")})")
    if (version == cur) cur
    else {
      val (refs, deletes, hdr) = readListRaw(spark, table, version)
      val f = fs(spark, table)
      val missing =
        (refs.flatMap(readSegment(spark, table, _)).map(_.path) ++
          deletes.map(_.path))
          .filterNot(p => f.exists(new Path(table, p)))
      require(missing.isEmpty,
        s"snapshot restore: v$version references vacuumed files: ${missing.take(3).mkString(", ")}")
      val curTags = readListRaw(spark, table, cur)._3.tags
      commitList(spark, table, cur + 1, refs, deletes,
        hdr.copy(tags = hdr.tags ++ curTags))
      cur + 1
    }
  }

  // ---- write-audit-publish (staged commits)
  //
  // The published Iceberg WAP construction: a writer STAGES an append
  // (data files + a staged manifest invisible to every reader), an
  // AUDIT job queries the staged state, and only then does PUBLISH
  // turn it into a real table version — atomically, rebased onto
  // whatever head the table reached in the meantime (appends rebase
  // cleanly by construction). An audit failure discards the stage;
  // readers never saw a byte of it. At 100 TB this is how quality
  // gates run on ingest without a quarantine COPY of the data: the
  // staged files are already in place, publish is a metadata commit.

  private val wapBaseRe = raw"wapbase@(\d+)".r

  private def wapPath(table: String, stageId: String): Path = {
    require(stageId.nonEmpty && stageId.matches("[A-Za-z0-9._-]+"),
      s"snapshot stage id must be [A-Za-z0-9._-]+, got '$stageId'")
    new Path(manifestDir(table), s"wap-$stageId.json")
  }

  /** Stage `df` as an un-published append under `stageId`. The staged
    * manifest records the base version, the schema the batch evolves
    * the table to (ADD-and-WIDEN, validated now), and the CHECK set it
    * was validated against. No reader — including the streaming
    * source and the change feed — can observe staged files.
    */
  def stageAppend(spark: SparkSession, table: String, df: DataFrame,
                  partCol: String, stageId: String): Unit = {
    val f = fs(spark, table)
    val p = wapPath(table, stageId)
    require(!f.exists(p), s"snapshot stage '$stageId' already exists for $table")
    val v = currentVersion(spark, table)
    val (_, _, hdr) = readListRaw(spark, table, v)
    enforceChecks(df, hdr.checks, "stageAppend")
    val evolved = assignFieldIds(evolveSchema(hdr.schema, df.schema))
    val fresh = writeDataFiles(spark, table, applySchemaMeta(df, evolved),
      partCol, statsCols = hdr.statsCols, bloomCols = hdr.bloomCols, bucket = hdr.bucket, bucketSort = hdr.sortBy)
    val refs =
      if (fresh.isEmpty) Seq.empty
      else Seq(writeSegment(spark, table, fresh))
    writeListAt(f, manifestDir(table), s"wap-$stageId.json", refs, Seq.empty,
      hdr.copy(tags = Set(s"wapbase@$v"),
        schema = Some(schemaToString(evolved))),
      s"snapshot stage '$stageId' already exists for $table")
  }

  private def readWapList(spark: SparkSession, table: String,
                          stageId: String): (Seq[SegmentRef], Header, Long) = {
    val p = wapPath(table, stageId)
    require(fs(spark, table).exists(p),
      s"snapshot stage '$stageId' does not exist for $table")
    val (refs, _, hdr) = readListAt(fs(spark, table), p)
    val base = hdr.tags.collectFirst { case wapBaseRe(n) => n.toLong }
      .getOrElse(sys.error(s"snapshot stage '$stageId': no base version recorded"))
    (refs, hdr, base)
  }

  /** The AUDIT view: the CURRENT head's rows plus the staged batch,
    * read under the staged (possibly evolved) schema — exactly what
    * the table WILL look like if the stage publishes now (publish
    * rebases onto the head, so auditing against the stage's original
    * base would check a state that can no longer occur).
    */
  def readStaged(spark: SparkSession, table: String,
                 stageId: String): DataFrame = {
    val (refs, wapHdr, _) = readWapList(spark, table, stageId)
    val headMeta = readMeta(spark, table, currentVersion(spark, table))
    // audit under the MERGED schema — the head may have evolved since
    // staging, and so may the stage: the audit sees both sides' columns
    val merged = wapHdr.schema.fold(headMeta.hdr.schema)(s =>
      Some(schemaToString(assignFieldIds(
        evolveSchema(headMeta.hdr.schema, schemaFromString(s))))))
    val entries = headMeta.entries ++ refs.flatMap(readSegment(spark, table, _))
    readWithDeletes(spark, table, entries, headMeta.deletes,
      headMeta.hdr.copy(schema = merged))
  }

  /** PUBLISH the stage as the next table version — one metadata commit
    * rebased onto the CURRENT head (the staged entries are appends, so
    * the rebase is always clean; the schema re-evolves against the
    * head's, which may itself have moved). `stageId` joins the tag
    * ledger, so a crashed-and-retried publish is a no-op, and the
    * staged manifest is removed after the commit lands. If the CHECK
    * set changed since staging, the staged rows are re-validated
    * against the new checks before anything publishes.
    */
  def publishStaged(spark: SparkSession, table: String,
                    stageId: String): Long = commitWithRetry() {
    val f = fs(spark, table)
    val v = currentVersion(spark, table)
    val meta = readMeta(spark, table, v)
    val hdr = meta.hdr
    if (hdr.tags.contains(s"wap:$stageId")) {
      f.delete(wapPath(table, stageId), false) // crashed-retry leftover
      v
    } else {
      val (refs, wapHdr, _) = readWapList(spark, table, stageId)
      val novel = hdr.checks.filterNot(wapHdr.checks.contains)
      val entries = refs.flatMap(readSegment(spark, table, _))
      if (novel.nonEmpty && entries.nonEmpty)
        enforceChecks(readFiles(spark, table, entries, wapHdr.schema),
          novel, "publishStaged")
      val merged = wapHdr.schema.fold(hdr.schema) { s =>
        val m = assignFieldIds(evolveSchema(hdr.schema, schemaFromString(s)))
        // staged files are WRITTEN with their stage-time field ids — a
        // concurrent evolution that claimed the same id for a different
        // column cannot be remapped after the fact, only refused
        val ids = m.fields.filter(_.metadata.contains(FieldIdKey))
          .map(_.metadata.getLong(FieldIdKey))
        require(ids.distinct.length == ids.length,
          s"snapshot publish '$stageId': field-id collision with a " +
            "concurrent schema evolution — re-stage against the current head")
        Some(schemaToString(m))
      }
      val freshRefs =
        if (entries.isEmpty) Seq.empty
        else Seq(writeSegment(spark, table, entries.map(_.copy(seq = v + 1))))
      commitList(spark, table, v + 1,
        foldIfWide(spark, table, meta.segs.map(_._1) ++ freshRefs),
        meta.deletes,
        hdr.copy(tags = hdr.tags + s"wap:$stageId", schema = merged))
      f.delete(wapPath(table, stageId), false)
      v + 1
    }
  }

  /** Discard a stage: its manifest, segment, and data files — readers
    * never saw any of it, so this is pure garbage collection.
    */
  def discardStaged(spark: SparkSession, table: String,
                    stageId: String): Unit = {
    val f = fs(spark, table)
    val (refs, _, _) = readWapList(spark, table, stageId)
    refs.flatMap(readSegment(spark, table, _)).foreach(e =>
      f.delete(new Path(table, e.path), false))
    refs.foreach(r => f.delete(new Path(manifestDir(table), r.path), false))
    f.delete(wapPath(table, stageId), false)
  }

  /** Stage ids currently awaiting audit/publish. */
  def stagedIds(spark: SparkSession, table: String): Seq[String] = {
    val f = fs(spark, table)
    val dir = manifestDir(table)
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).toSeq.map(_.getPath.getName).collect {
      case n if n.startsWith("wap-") && n.endsWith(".json") =>
        n.stripPrefix("wap-").stripSuffix(".json")
    }.sorted
  }

  // ---- change-data-feed reads

  /** Row-level changes committed in `(fromV, toV]` — each row tagged
    * `_change_type` (`insert` | `delete`; an update is its delete +
    * insert pair) and `_commit_version`. Derived entirely from the
    * MANIFEST DIFF per commit step — no change files are written on
    * the commit path (the merge-on-read analogue of Delta's CDF
    * without `delta.enableChangeDataFeed` materialization):
    *
    *   - append commit (files added, none removed): the added files'
    *     rows are inserts — O(new data), one scan of the fresh files.
    *   - rewrite commit (merge / eager delete / applyDeletes /
    *     compact): diff the REPLACED files against their REPLACEMENTS
    *     (both bounded by the commit's touched files, never the
    *     table): old∖new are deletes, new∖old inserts. Unchanged
    *     carried rows cancel exactly; a pure compaction diffs empty —
    *     physical reorganization is not a logical change.
    *   - equality-delete commit: the delete keys semi-join the
    *     PRE-commit snapshot (candidate files pruned by the keys'
    *     min/max against manifest stats) — those rows are deletes.
    *
    * All steps are read under the FINAL version's schema (field-id
    * matching keeps renames consistent; widened types upcast; columns
    * dropped by `toV` are absent from the feed). Pending equality
    * deletes at each boundary are masked with their usual seq scoping,
    * so a row deletes exactly once, at the version that logically
    * removed it.
    */
  def readChangesBetween(spark: SparkSession, table: String,
                         fromV: Long, toV: Long): DataFrame = {
    val vs = versions(spark, table)
    require(fromV < toV, s"readChangesBetween: need fromV < toV, got $fromV, $toV")
    require(vs.contains(fromV) && vs.contains(toV),
      s"readChangesBetween: versions $fromV..$toV not all retained (have ${vs.mkString(",")})")
    require((fromV to toV).forall(vs.contains),
      s"readChangesBetween: a version in $fromV..$toV was vacuumed")
    val metas = (fromV to toV).map(v => v -> readMeta(spark, table, v)).toMap
    val finalHdr = metas(toV).hdr
    val outCols = schemaFromString(finalHdr.schema.getOrElse(
      sys.error(s"readChangesBetween: $table has no schema"))).fieldNames.toSeq

    def tag(df: DataFrame, t: String, v: Long): DataFrame =
      df.select(outCols.map(col): _*)
        .withColumn("_change_type", lit(t))
        .withColumn("_commit_version", lit(v))

    val parts = (fromV until toV).flatMap { v =>
      val pre = metas(v); val post = metas(v + 1)
      val prePaths = pre.entries.map(_.path).toSet
      val postPaths = post.entries.map(_.path).toSet
      // rewrites never reuse paths (files are immutable), so a path
      // present in the pre manifest is carried-over, not new
      val added = post.entries.filterNot(e => prePaths.contains(e.path))
      val removed = pre.entries.filterNot(e => postPaths.contains(e.path))
      val newDeletes = post.deletes
        .filterNot(d => pre.deletes.exists(_.path == d.path))

      val fileChanges: Seq[DataFrame] =
        if (removed.isEmpty && added.nonEmpty)
          Seq(tag(indexedRead(spark, table, added, finalHdr), "insert", v + 1))
        else if (removed.nonEmpty) {
          val oldRows = readWithDeletes(spark, table, removed, pre.deletes,
            finalHdr).select(outCols.map(col): _*)
          val newRows =
            (if (added.isEmpty) oldRows.filter(lit(false))
             else indexedRead(spark, table, added, finalHdr))
              .select(outCols.map(col): _*)
          Seq(tag(newRows.exceptAll(oldRows), "insert", v + 1),
            tag(oldRows.exceptAll(newRows), "delete", v + 1))
        } else Seq.empty

      val lazyDeletes: Seq[DataFrame] = newDeletes.map { d =>
        val keys = spark.read.parquet(s"$table/${d.path}")
        if (d.col == PosCol) {
          // positional: the DV names its files — no stats needed
          val names = keys.select(col("file")).distinct()
            .collect().map(_.getString(0)).toSet
          val candidates = pre.entries.filter(e =>
            names.contains(new Path(e.path).getName))
          if (candidates.isEmpty) None
          else Some(tag(
            candidates.groupBy(e => pre.deletes.filter(_.seq > e.seq))
              .map { case (dels, es) =>
                maskDeletes(spark, table,
                  indexedRead(spark, table, es, finalHdr), dels,
                  keepMeta = true)
              }.reduce(_.unionByName(_))
              .join(keys.select(col("file").as("__file"),
                col("pos").as("__pos")), Seq("__file", "__pos"), "left_semi")
              .drop("__file", "__pos"), "delete", v + 1))
        } else {
          // prune candidate files driver-side with the keys' min/max vs
          // manifest stats — one tiny agg job instead of a full scan
          val mm = keys.agg(min(col(d.col)).cast("double"),
            max(col(d.col)).cast("double")).head()
          val candidates =
            if (mm.isNullAt(0)) Seq.empty
            else pre.entries.filter(e => e.seq < d.seq &&
              e.stats.find(_.col == d.col).forall(s =>
                s.hi >= mm.getDouble(0) && s.lo <= mm.getDouble(1)))
          if (candidates.isEmpty) None
          else Some(tag(
            readWithDeletes(spark, table, candidates, pre.deletes, finalHdr)
              .join(keys, Seq(d.col), "left_semi"), "delete", v + 1))
        }
      }.flatten

      fileChanges ++ lazyDeletes
    }

    if (parts.isEmpty)
      tag(readVersion(spark, table, toV).filter(lit(false)), "insert", toV)
        .filter(lit(false))
    else parts.reduce(_.unionByName(_))
  }

  /** The tag ledger of the table's CURRENT version — the public probe
    * operators outside this package use to read their applied-frontier
    * tags (`mv@v`, `scd2@v`, micro-batch ids) without manifest access.
    */
  def currentTags(spark: SparkSession, table: String): Set[String] =
    readManifestList(spark, table, currentVersion(spark, table))._2.tags

  /** Rows APPENDED in versions `(fromV, toV]` of an append-only window
    * — the batch view of what the `graft-snapshot` stream would
    * deliver. LOUD if any step in the window rewrote or deleted files
    * (a change LOG must be append-only; consume
    * [[readChangesBetween]] for general windows). O(window) in the
    * steady state: two manifest lists + the window's fresh segments.
    */
  def readAppendWindow(spark: SparkSession, table: String,
                       fromV: Long, toV: Long): DataFrame = {
    require(fromV <= toV, s"readAppendWindow: need fromV <= toV, got $fromV, $toV")
    val (added, postHdr, removed, newDeletes) =
      appendWindow(spark, table, fromV, toV)
    require(removed.isEmpty && newDeletes.isEmpty,
      s"readAppendWindow: $table versions ($fromV, $toV] rewrote " +
        s"${removed.size} file(s) / added ${newDeletes.size} delete " +
        "file(s) — the window is not append-only")
    if (added.isEmpty) readVersion(spark, table, toV).filter(lit(false))
    else indexedRead(spark, table, added, postHdr)
  }

  /** DISTINCT `keyCol` values of every row ADDED or REMOVED between the
    * two versions — the cheap OVER-approximation an absolute-state IVM
    * refresh needs for its touched-group probe. Where
    * [[readChangesBetween]] reconstructs exact change pairs (two
    * `exceptAll` set-diffs per rewrite step), this unions ONE
    * column-pruned scan of the fresh files with one of the replaced
    * files: a key in a rewritten file whose rows did not change is
    * reported anyway, which merely re-aggregates an unchanged group —
    * never a wrong result, and at 100 TB the probe reads two narrow
    * file sets instead of diffing them row-by-row. Steps that add
    * equality/positional delete files keep their candidate files'
    * keys the same way (the masked rows are a subset). Returns one
    * column named `keyCol`.
    */
  def changedKeysBetween(spark: SparkSession, table: String,
                         fromV: Long, toV: Long,
                         keyCol: String): DataFrame = {
    val vs = versions(spark, table)
    require(fromV < toV, s"changedKeysBetween: need fromV < toV, got $fromV, $toV")
    require((fromV to toV).forall(vs.contains),
      s"changedKeysBetween: a version in $fromV..$toV was vacuumed")
    val metas = (fromV to toV).map(v => v -> readMeta(spark, table, v)).toMap
    val finalHdr = metas(toV).hdr
    val parts = (fromV until toV).flatMap { v =>
      val pre = metas(v); val post = metas(v + 1)
      val prePaths = pre.entries.map(_.path).toSet
      val postPaths = post.entries.map(_.path).toSet
      val added = post.entries.filterNot(e => prePaths.contains(e.path))
      val removed = pre.entries.filterNot(e => postPaths.contains(e.path))
      // new equality/positional delete files mask rows of still-live
      // candidate files: every candidate's keys are touched candidates
      val newDeletes = post.deletes
        .filterNot(d => pre.deletes.exists(_.path == d.path))
      val maskCandidates =
        if (newDeletes.isEmpty) Seq.empty
        else pre.entries.filter(e => newDeletes.exists(_.seq > e.seq))
      (added ++ removed ++ maskCandidates).distinct match {
        case Seq() => None
        case files => Some(
          indexedRead(spark, table, files, finalHdr).select(col(keyCol)))
      }
    }
    if (parts.isEmpty)
      readVersion(spark, table, toV).select(col(keyCol)).filter(lit(false))
    else parts.reduce(_.unionByName(_)).distinct()
  }

  // ---- driver queries: the deterministic upsert scenario, run through
  // snapshot commits (same batch as q_upsert_merge; its oracle replays
  // the merge, and time travel replays the PRE-merge table)

  // one scenario per (session, corpus): both driver queries read the same
  // committed table — the create+merge would otherwise run twice per
  // verify/bench pass for no information (PatientPipeline's memo shape).
  // The table is never mutated after the merge commits, so sharing is safe.
  /** Pin the writer's target file size around a fixture build: the
    * skipping demos need FILE GRANULARITY at bench SF (a ~15 MB corpus
    * under the 128 MB default would land in one file per partition
    * value, leaving min/max pruning nothing to skip) — exactly the
    * granularity call a real deployment makes when it sizes files to
    * its table. Restores the session default afterwards so ordinary
    * commits keep batch-sized task counts.
    */
  private[sources] def withFileGranularity[T](s: SparkSession, bytes: Long)(body: => T): T = {
    val key = "spark.graft.write.targetFileBytes"
    val prev = s.conf.getOption(key)
    s.conf.set(key, bytes.toString)
    try body finally prev match {
      case Some(v) => s.conf.set(key, v)
      case None    => s.conf.unset(key)
    }
  }

  private def scenario(s: SparkSession, dir: String): String =
    Staged(s, dir, "snapshot.scenario")(buildScenario(s, dir))

  private def buildScenario(s: SparkSession, dir: String): String = {
    val work = Staged.scratch(s, "graft_snapshot_run") + "/t"
    val orders = Tables.orders(s, dir)
      .select(Seq("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate",
        "o_orderpriority").map(col): _*)
    withFileGranularity(s, 1L << 20) {
      create(s, work, orders, "o_orderpriority", statsCols = Seq("o_orderkey"))
    }
    val changed = Tables.orders(s, dir).filter(col("o_orderkey") % 97 === 0)
      .select(col("o_orderkey"), col("o_custkey"),
        (col("o_totalprice") + 1000.0).as("o_totalprice"),
        col("o_orderdate"), col("o_orderpriority"))
    val maxKey = Tables.orders(s, dir).agg(max(col("o_orderkey"))).head().getLong(0)
    val fresh = s.range(1, 6).select(
      (col("id") + maxKey).as("o_orderkey"),
      lit(1L).as("o_custkey"),
      lit(123.45).as("o_totalprice"),
      to_timestamp(lit("1999-01-01")).as("o_orderdate"),
      lit("1-URGENT").as("o_orderpriority"))
    commitMerge(s, work, changed.unionByName(fresh),
      "o_orderkey", "o_orderpriority")
    work
  }

  private def rollup(df: DataFrame): DataFrame =
    df.groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("total_price"),
        max(col("o_orderkey")).as("max_key"))
      .orderBy(col("o_orderpriority"))

  /** Post-merge rollup from the NEW snapshot (shares the relational
    * merge replay with `q_upsert_merge`'s oracle shape).
    */
  def snapshotMergeQuery(s: SparkSession, dir: String): DataFrame =
    rollup(read(s, scenario(s, dir)))

  /** Lineitem revenue against ONE priority slice of the post-merge
    * snapshot, joined through [[graft.plans.StatsBroadcast]]: the dim
    * side's size is re-measured from the manifest's partition-pruned
    * file bytes (Spark's own estimate for a filtered custom-FileIndex
    * relation is the FULL table size), so the static plan broadcasts
    * the slice instead of shuffling the fact — at 100 TB the single
    * biggest plan decision a fact⋈dim join makes, settled before any
    * stage runs rather than by AQE after both map stages shuffled.
    */
  def statsBroadcastQuery(s: SparkSession, dir: String): DataFrame = {
    val dim = read(s, scenario(s, dir))
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"), col("o_totalprice"))
    Tables.lineitem(s, dir)
      .join(dim, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
          .as("sum_qty"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("sum_price"),
        max(col("l_orderkey")).as("max_key"))
      .orderBy(col("l_returnflag"))
  }

  /** The SAME table, version 1, read AFTER the merge committed — time
    * travel must reproduce the pre-merge table exactly (oracle: plain
    * rollup of `orders`).
    */
  def timeTravelQuery(s: SparkSession, dir: String): DataFrame =
    rollup(readVersion(s, scenario(s, dir), 1L))

  /** Rollup of a key range read through manifest min/max skipping on
    * the post-merge table — correct only if the pruned plan loses no
    * qualifying row (stats recorded at create must survive the merge
    * rewrite).
    */
  def rangeSkipQuery(s: SparkSession, dir: String): DataFrame =
    rollup(readRange(s, scenario(s, dir), "o_orderkey", 1000d, 3000d))

  // second memoized scenario: the events corpus range-clustered on ts
  // with per-file (ts, event_id) stats — the two columns correlate
  // (ids are assigned in arrival order), so a predicate on the
  // NON-cluster column still skips files. Read-only after create.
  private def eventsScenario(s: SparkSession, dir: String): String =
    Staged(s, dir, "snapshot.events") {
      val work = Staged.scratch(s, "graft_snapshot_ev") + "/t"
      withFileGranularity(s, 1L << 20) {
        create(s, work, Tables.events(s, dir)
          .select(Seq("event_id", "ts", "user_id", "event_type",
            "value").map(col): _*),
          "event_type", statsCols = Seq("ts", "event_id"))
      }
      work
    }

  /** Per-type rollup AFTER a retention pass (expire `ts <
    * 2024-01-20`) on a per-run CLONE of the ts-clustered events table:
    * fully-expired files drop by reference, only the cutoff-straddling
    * files rewrite (the spec pins the file accounting); the surviving
    * rollup must equal the oracle's relational replay.
    */
  def expireQuery(s: SparkSession, dir: String): DataFrame = {
    val work = cloneTable(s, eventsScenario(s, dir))
    // 2024-01-20T00:00:00Z in the stats' fractional-epoch-seconds domain
    commitExpire(s, work, "ts", 1.7057088e9, "event_type")
    read(s, work).groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).cast("double")
          .as("sum_value"),
        min(col("event_id")).as("min_id"))
      .orderBy(col("event_type"))
  }

  /** Per-type rollup of an event_id window read through SECONDARY-
    * column skipping: the table is clustered on ts, the predicate is on
    * event_id, and pruning still drops the files whose recorded
    * event_id range is disjoint — the multi-column-stats payoff (a
    * time-clustered 100 TB event table answers id-window queries
    * without a full scan).
    */
  def rangeSkip2Query(s: SparkSession, dir: String): DataFrame =
    readRange(s, eventsScenario(s, dir), "event_id", 100d, 299d)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"),
        max(col("event_id")).as("max_id"))
      .orderBy(col("event_type"))

  // z-order scenario: the events corpus rewritten by clusterZOrder on
  // (ts, user_id) — two INDEPENDENT dimensions (user ids are uniform
  // across time), so 1-D ts clustering could never prune a user_id
  // predicate. Read-only after the cluster commit → memoized.
  private def zorderScenario(s: SparkSession, dir: String): String =
    Staged(s, dir, "snapshot.zorder") {
      val work = Staged.scratch(s, "graft_snapshot_zo") + "/t"
      withFileGranularity(s, 1L << 20) {
        create(s, work, Tables.events(s, dir)
          .select(Seq("event_id", "ts", "user_id", "event_type",
            "value").map(col): _*),
          "event_type", statsCols = Seq("ts"))
        clusterZOrder(s, work, "event_type", "ts", "user_id")
      }
      work
    }

  /** Per-type rollup of a (time window × user band) read on the
    * z-clustered table — BOTH predicates reach
    * [[SnapshotFileIndex.listFiles]] as plain pushed filters and BOTH
    * prune files, which no 1-D layout could do for the uncorrelated
    * user dimension. Correct only if the z-rewrite lost no row and the
    * 2-D pruning drops only proven-disjoint files.
    */
  def zorderQuery(s: SparkSession, dir: String): DataFrame =
    read(s, zorderScenario(s, dir))
      .filter(col("ts").between(
        lit("2024-01-08 00:00:00").cast("timestamp"),
        lit("2024-01-16 00:00:00").cast("timestamp")) &&
        col("user_id") <= 4)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"),
        max(col("event_id")).as("max_id"))
      .orderBy(col("event_type"))

  // bloom scenario: orders keyed by bloom on o_orderkey, NO min/max
  // stats — equality skipping must come from the filters alone.
  // Read-only after create → memoized.
  private def bloomScenario(s: SparkSession, dir: String): String =
    Staged(s, dir, "snapshot.bloom") {
      val work = Staged.scratch(s, "graft_snapshot_bl") + "/t"
      create(s, work, Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice"), col("o_orderpriority")),
        "o_orderpriority", bloomCols = Seq("o_orderkey"))
      work
    }

  /** Point-lookup rollup through per-file BLOOM skipping: the probed
    * keys live in a layout clustered by nothing relevant, so min/max
    * could never skip — only the blooms can, and a false "absent"
    * would lose a row and fail the oracle hash.
    */
  def bloomQuery(s: SparkSession, dir: String): DataFrame =
    read(s, bloomScenario(s, dir))
      .filter(col("o_orderkey").isin(1L, 7L, 32L, 33L, 34L))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("total_price"),
        max(col("o_orderkey")).as("max_key"))
      .orderBy(col("o_orderpriority"))

  // partition-evolution scenario: generation 1 partitioned by priority,
  // generation 2 by customer — read-only after the append, memoized
  private def partEvoScenario(s: SparkSession, dir: String): String =
    Staged(s, dir, "snapshot.partEvo") {
      val work = Staged.scratch(s, "graft_snapshot_pe") + "/t"
      create(s, work, Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice"), col("o_orderpriority")),
        "o_orderpriority")
      commitAppend(s, work, Tables.orders(s, dir)
        .filter(col("o_custkey") <= 5)
        .select((col("o_orderkey") + 7000000L).as("o_orderkey"),
          col("o_custkey"), col("o_totalprice"),
          col("o_orderpriority")),
        "o_custkey")
      work
    }

  /** Rollup of a priority-pruned read over a PARTITION-EVOLVED table
    * (generation 1 laid out by priority, generation 2 by customer) —
    * correct only if pruning on the old column never drops new-layout
    * files, whose recorded values belong to a different column.
    */
  def partEvoQuery(s: SparkSession, dir: String): DataFrame =
    readWhere(s, partEvoScenario(s, dir), "o_orderpriority",
      Seq("1-URGENT", "3-MEDIUM"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("total_price"),
        max(col("o_orderkey")).as("max_key"))
      .orderBy(col("o_orderpriority"))

  // the delete query's PRIVATE base table (it cannot share the merge
  // scenario: a delete commit would advance the version the other
  // queries read) — built once per (session, corpus) and CLONED per
  // invocation, so repeated runs measure the delete (candidate scan +
  // pruned rewrite), not a repeated table build
  private[sources] def deleteBase(s: SparkSession, dir: String): String =
    Staged(s, dir, "snapshot.deleteBase") {
      val work = Staged.scratch(s, "graft_snapshot_delbase") + "/t"
      withFileGranularity(s, 1L << 20) {
        create(s, work, Tables.orders(s, dir)
          .select(Seq("o_orderkey", "o_custkey", "o_totalprice",
            "o_orderdate", "o_orderpriority").map(col): _*),
          "o_orderpriority", statsCols = Seq("o_orderkey"))
      }
      work
    }

  /** Clone a committed table to a fresh location — immutable files
    * make ANY faithful copy a valid clone at a quiesced version (the
    * sandbox stand-in for an object-store server-side copy; at scale
    * you would time-travel-read the source instead). On a local
    * filesystem the clone is HARD LINKS — O(files) metadata, zero data
    * bytes moved, and mutation-safe both ways: data files and
    * manifests are never modified in place, and a vacuum on either
    * side unlinks only its own directory entry.
    */
  private[graft] def cloneTable(s: SparkSession, src: String): String = {
    val dst = Staged.scratch(s, "graft_snapshot_del") + "/t"
    val f = fs(s, src)
    if (f.getScheme == "file") {
      val base = java.nio.file.Paths.get(src)
      val out = java.nio.file.Paths.get(dst)
      val it = java.nio.file.Files.walk(base).iterator()
      while (it.hasNext) {
        val p = it.next()
        val target = out.resolve(base.relativize(p))
        if (java.nio.file.Files.isDirectory(p))
          java.nio.file.Files.createDirectories(target)
        else {
          java.nio.file.Files.createDirectories(target.getParent)
          java.nio.file.Files.createLink(target, p)
        }
      }
    } else require(org.apache.hadoop.fs.FileUtil.copy(f, new Path(src), f,
      new Path(dst), false, s.sparkContext.hadoopConfiguration),
      s"snapshot clone: could not copy $src")
    dst
  }

  /** Rollup after a row-level DELETE (keys ≡ 0 mod 101 inside a key
    * range) — on a per-run CLONE of the memoized base table.
    * The range-bounded predicate matches the range-clustered layout, so
    * only the files holding the key window are rewritten — a scattered
    * predicate would legitimately rewrite every file.
    */
  def deleteQuery(s: SparkSession, dir: String): DataFrame = {
    val work = cloneTable(s, deleteBase(s, dir))
    commitDelete(s, work,
      col("o_orderkey") % 101 === 0 && col("o_orderkey").between(1000, 5000),
      "o_orderpriority", rangeHint = Some(("o_orderkey", 1000d, 5000d)))
    rollup(read(s, work))
  }

  /** The SAME deletion as [[deleteQuery]], done as a POSITIONAL
    * deletion vector: the commit scans only the rangeHint-pruned
    * files, writes (file, pos) pairs, rewrites nothing — and the
    * rollup must still match the eager-delete oracle through the
    * read-time mask.
    */
  /** Exact LIVE row count of `version` as a pure manifest fold — zero
    * data files planned: Σ per-file recorded rows − Σ positional-delete
    * rows. Positional deletes are disjoint by construction (victims are
    * selected on the MASKED view, so an already-masked row can never be
    * re-deleted), which makes the subtraction exact. None — never a
    * guess — when any pending delete is an EQUALITY delete (its
    * recorded count is keys, not matched rows; the masked scan is the
    * only exact answer) or when any live entry's rows were never
    * measured. This is the metadata `count(*)` for merge-on-read
    * states, which the bare-relation optimizer fold can never see (a
    * masked read plans an anti-join, not a bare scan).
    */
  def liveRowCount(spark: SparkSession, table: String,
                   version: Option[Long] = None): Option[Long] = {
    val v = version.getOrElse(currentVersion(spark, table))
    val meta = readMeta(spark, table, v)
    val (pos, eq) = meta.deletes.partition(_.col == PosCol)
    if (eq.nonEmpty || meta.entries.exists(_.rows <= 0L)) None
    else Some(meta.entries.map(_.rows).sum - pos.map(_.rows).sum)
  }

  /** Live-row accounting over PENDING positional deletes: the manifest
    * fold (rows − delete positions, zero data files) must equal the
    * oracle's relational replay of the masked state.
    */
  def dvCountQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val work = cloneTable(s, deleteBase(s, dir))
    commitDeletePositional(s, work,
      col("o_orderkey") % 101 === 0 && col("o_orderkey").between(1000, 5000),
      rangeHint = Some(("o_orderkey", 1000d, 5000d)))
    val folded = liveRowCount(s, work).getOrElse(read(s, work).count())
    Seq(folded).toDF("n_live")
  }

  def dvQuery(s: SparkSession, dir: String): DataFrame = {
    val work = cloneTable(s, deleteBase(s, dir))
    commitDeletePositional(s, work,
      col("o_orderkey") % 101 === 0 && col("o_orderkey").between(1000, 5000),
      rangeHint = Some(("o_orderkey", 1000d, 5000d)))
    rollup(read(s, work))
  }

  /** Rollup after a row-level DELETE is UNDONE by [[restoreTo]] — the
    * restored table must equal the pre-delete snapshot exactly (same
    * oracle as the plain-orders rollup), which only holds if restore
    * carries v1's complete file set, schema, and no stray deletes.
    */
  def restoreQuery(s: SparkSession, dir: String): DataFrame = {
    val work = cloneTable(s, deleteBase(s, dir))
    commitDelete(s, work,
      col("o_orderkey") % 101 === 0 && col("o_orderkey").between(1000, 5000),
      "o_orderpriority", rangeHint = Some(("o_orderkey", 1000d, 5000d)))
    restoreTo(s, work, 1L)
    rollup(read(s, work))
  }

  /** Per-partition row accounting from the files INSPECTION table of
    * the post-merge snapshot — manifest metadata alone (zero data-file
    * reads) must reproduce the true per-partition row counts, which
    * only holds if every commit path recorded exact per-file rows.
    */
  def filesQuery(s: SparkSession, dir: String): DataFrame =
    filesTable(s, scenario(s, dir))
      .groupBy(col("partition").as("o_orderpriority"))
      .agg(sum(col("n_rows")).as("n_rows"))
      .orderBy(col("o_orderpriority"))

  /** Rollup after CHECK constraints are installed, a CLEAN batch
    * commits, and a VIOLATING batch is rejected — the final state must
    * contain exactly base + clean batch (the oracle), which holds only
    * if enforcement passed the good rows and the refused commit
    * published nothing (atomicity of the failed append).
    */
  def constraintsQuery(s: SparkSession, dir: String): DataFrame = {
    val work = cloneTable(s, deleteBase(s, dir))
    setChecks(s, work,
      Seq("o_totalprice >= 0", "o_orderkey IS NOT NULL"))
    val maxKey = Tables.orders(s, dir).agg(max(col("o_orderkey")))
      .head().getLong(0)
    val tableSchema = read(s, work).schema
    val clean = s.range(1, 6).select(
      (col("id") + maxKey).as("o_orderkey"),
      lit(1L).as("o_custkey"),
      lit(123.45).as("o_totalprice"),
      to_timestamp(lit("1999-01-01")).as("o_orderdate"),
      lit("1-URGENT").as("o_orderpriority"))
      // align to the table's physical types (o_orderdate may be NTZ
      // depending on the testdata's parquet form) — append evolves
      // schema strictly, it never coerces
      .select(tableSchema.map(f => col(f.name).cast(f.dataType)).toIndexedSeq: _*)
    commitAppend(s, work, clean, "o_orderpriority")
    val dirty = clean
      .withColumn("o_totalprice", lit(-5.0))
      .withColumn("o_orderkey", col("o_orderkey") + 100)
    val refused =
      try { commitAppend(s, work, dirty, "o_orderpriority"); false }
      catch { case e: IllegalArgumentException
        if e.getMessage.contains("CHECK") => true }
    require(refused, "violating batch must be refused")
    rollup(read(s, work))
  }

  /** Rollup through the WRITE-AUDIT-PUBLISH flow: a good batch is
    * staged, audited against the staged view, and published; a bad
    * batch is staged, FAILS its audit, and is discarded. The final
    * state must be exactly base + good batch — which holds only if
    * staging is invisible until publish and a discarded stage leaves
    * no trace.
    */
  def wapQuery(s: SparkSession, dir: String): DataFrame = {
    val work = cloneTable(s, deleteBase(s, dir))
    val tableSchema = read(s, work).schema
    val maxKey = Tables.orders(s, dir).agg(max(col("o_orderkey")))
      .head().getLong(0)
    def batch(offset: Long, price: Double) = s.range(1, 6).select(
      (col("id") + maxKey + offset).as("o_orderkey"),
      lit(1L).as("o_custkey"),
      lit(price).as("o_totalprice"),
      to_timestamp(lit("1999-01-01")).as("o_orderdate"),
      lit("1-URGENT").as("o_orderpriority"))
      .select(tableSchema.map(f => col(f.name).cast(f.dataType)).toIndexedSeq: _*)

    val preCount = read(s, work).count()
    stageAppend(s, work, batch(0L, 123.45), "o_orderpriority", "good")
    stageAppend(s, work, batch(100L, -5.0), "o_orderpriority", "bad")
    require(read(s, work).count() == preCount,
      "staged batches must be invisible to readers")
    // audit: price must be non-negative over the staged view
    def negPrices(stage: String): Long =
      readStaged(s, work, stage).filter(col("o_totalprice") < 0).count()
    require(negPrices("good") == 0L, "good stage must pass its audit")
    require(negPrices("bad") > 0L, "bad stage must fail its audit")
    publishStaged(s, work, "good")
    discardStaged(s, work, "bad")
    require(stagedIds(s, work).isEmpty, "no stage may remain")
    rollup(read(s, work))
  }

  /** Rollup through a RENAME + DROP (field-id evolution, header-only
    * commits): `o_totalprice` becomes `price`, `o_orderdate` is
    * dropped, and the rollup on the renamed column must equal the plain
    * relational rollup — old files are matched by field id, nothing is
    * rewritten.
    */
  def renameQuery(s: SparkSession, dir: String): DataFrame = {
    val work = cloneTable(s, deleteBase(s, dir))
    renameColumn(s, work, "o_totalprice", "price")
    dropColumn(s, work, "o_orderdate")
    read(s, work)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("price").cast("decimal(18,2)")).cast("double")
          .as("total_price"),
        max(col("o_orderkey")).as("max_key"))
      .orderBy(col("o_orderpriority"))
  }

  /** The SAME deletion as [[deleteQuery]], done MERGE-ON-READ: the keys
    * are recorded as an equality-delete file (an O(keys) commit — zero
    * data files rewritten), and the rollup reads through the anti-join
    * mask. Must hash-match the eager `q_snapshot_delete` oracle
    * exactly — the two delete paths are interchangeable for readers.
    */
  def lazyDeleteQuery(s: SparkSession, dir: String): DataFrame = {
    val work = cloneTable(s, deleteBase(s, dir))
    val keys = Tables.orders(s, dir)
      .filter(col("o_orderkey") % 101 === 0 &&
        col("o_orderkey").between(1000, 5000))
      .select(col("o_orderkey"))
    commitDeleteLazy(s, work, keys, "o_orderkey")
    rollup(read(s, work))
  }

  /** Rollup across a schema-evolving append: v1 stores `o_custkey` as
    * INT and has no `o_bonus`; the appended batch brings a BIGINT
    * `o_custkey` (widening the table column to long — old int32 files
    * upcast on read, never rewritten) and adds `o_bonus` (null for
    * pre-evolution rows). The per-priority rollup must agree with the
    * relational union replay — exact integer sums prove the upcast
    * loses nothing.
    */
  def evolveQuery(s: SparkSession, dir: String): DataFrame = {
    val work = Staged.scratch(s, "graft_snapshot_evo") + "/t"
    val base = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey").cast("int").as("o_custkey"),
        col("o_totalprice"), col("o_orderpriority"))
    create(s, work, base, "o_orderpriority")
    val extra = Tables.orders(s, dir).filter(col("o_orderkey") % 50 === 0)
      .select(col("o_orderkey") + 10000000L as "o_orderkey",
        col("o_custkey"), col("o_totalprice"), col("o_orderpriority"),
        (col("o_orderkey") * 2).as("o_bonus"))
    commitAppend(s, work, extra, "o_orderpriority")
    read(s, work)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_rows"),
        count(col("o_bonus")).as("n_bonus"),
        sum(coalesce(col("o_bonus"), lit(0L))).as("bonus_sum"),
        sum(col("o_custkey")).as("cust_sum"))
      .orderBy(col("o_orderpriority"))
  }

  /** The SAME id-window rollup as `q_snapshot_skip2`, but pruned by
    * CATALYST: a plain `.filter` on the relation-backed read — no
    * bespoke readRange call — whose pushed-down data filters reach
    * [[SnapshotFileIndex.listFiles]] and skip stat-disjoint files
    * (plus negated partition equality dropping the `error` files).
    * Matching `q_snapshot_skip2`'s shape proves the two pruning paths
    * agree; SnapshotFileIndexSpec pins that files are actually
    * skipped.
    */
  def pushdownQuery(s: SparkSession, dir: String): DataFrame =
    read(s, eventsScenario(s, dir))
      .filter(col("event_id").between(100, 299) &&
        col("event_type") =!= "error")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"),
        max(col("event_id")).as("max_id"))
      .orderBy(col("event_type"))

  /** One day's rollup filtered by `date_trunc('day', ts)` — the
    * predicate the user actually writes — pruned by MONOTONE-TRANSFORM
    * skipping: [[SnapshotFileIndex]] evaluates the truncation at each
    * file's ts min/max and plans only the files whose transformed
    * interval covers the probed day (the Iceberg transform-predicate
    * idea; at 100 TB a day query over a time-clustered event corpus
    * reads one day's files, not one month's, with NO predicate
    * rewriting onto the raw column). SnapshotFileIndexSpec pins the
    * actual file skipping; this oracle pins exactness.
    */
  def exprSkipQuery(s: SparkSession, dir: String): DataFrame =
    read(s, eventsScenario(s, dir))
      .filter(date_trunc("day", col("ts")) ===
        lit("2024-01-15 00:00:00").cast("timestamp"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"),
        max(col("event_id")).as("max_id"))
      .orderBy(col("event_type"))

  // the CDC scenario commits once (append, merge, lazy delete) and is
  // READ-ONLY afterwards — readChangesBetween never advances versions —
  // so it memoizes like the merge/events scenarios and repeated bench
  // runs measure the change-feed read, not a repeated table build
  private[sources] def changesScenario(s: SparkSession, dir: String): String =
    Staged(s, dir, "snapshot.changes")(buildChangesScenario(s, dir))

  /** Change-data-feed rollup: on a clone of the base table, append
    * (v2), merge (v3), equality-delete (v4), and aggregate
    * [[readChangesBetween]](1, 4) per (change type, commit version).
    * The oracle replays the same three commits relationally — the diff
    * must surface exactly the appended rows as v2 inserts, each merge
    * update as a v3 delete+insert pair (carried rows cancel), and the
    * masked keys as v4 deletes.
    */
  def changesQuery(s: SparkSession, dir: String): DataFrame =
    readChangesBetween(s, changesScenario(s, dir), 1L, 4L)
      .groupBy(col("_change_type"), col("_commit_version"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("total_price"),
        max(col("o_orderkey")).as("max_key"))
      .orderBy(col("_commit_version"), col("_change_type"))

  /** The append (5 fresh rows) + merge (+1000.0 on every `%97` key)
    * commit pair the CDC/mview fixtures share — applied to `work`, a
    * clone of [[deleteBase]]. Oracles replay it relationally (see the
    * `q_snapshot_mview*` / `q_mview_*` SQL).
    */
  private[sources] def appendMergeInto(s: SparkSession, dir: String,
                                       work: String): Unit = {
    val orders = Tables.orders(s, dir)
    val maxKey = orders.agg(max(col("o_orderkey"))).head().getLong(0)
    val fresh = s.range(1, 6).select(
      (col("id") + maxKey).as("o_orderkey"),
      lit(1L).as("o_custkey"),
      lit(123.45).as("o_totalprice"),
      // match the corpus' physical timestamp type — commitAppend's
      // schema evolution refuses TZ/NTZ mismatches by design
      to_timestamp(lit("1999-01-01"))
        .cast(orders.schema("o_orderdate").dataType).as("o_orderdate"),
      lit("1-URGENT").as("o_orderpriority"))
    commitAppend(s, work, fresh, "o_orderpriority")
    val changed = Tables.orders(s, dir).filter(col("o_orderkey") % 97 === 0)
      .select(col("o_orderkey"), col("o_custkey"),
        (col("o_totalprice") + 1000.0).as("o_totalprice"),
        col("o_orderdate"), col("o_orderpriority"))
    commitMerge(s, work, changed, "o_orderkey", "o_orderpriority")
  }

  private def buildChangesScenario(s: SparkSession, dir: String): String = {
    val work = cloneTable(s, deleteBase(s, dir))
    appendMergeInto(s, dir, work)
    val keys = Tables.orders(s, dir)
      .filter(col("o_orderkey") % 101 === 0 &&
        col("o_orderkey").between(1000, 5000))
      .select(col("o_orderkey"))
    commitDeleteLazy(s, work, keys, "o_orderkey")
    work
  }

  // bucketed-pair scenario: orders and customer, BOTH bucketed 16 ways
  // on custkey — the fact⋈dim join then plans with zero shuffles (the
  // SMJ reads co-partitioned buckets straight off the manifests).
  // Read-only after create → memoized; repeated bench runs measure the
  // shuffle-free join, not the table build.
  private def bucketedScenario(s: SparkSession, dir: String): (String, String) =
    Staged(s, dir, "snapshot.bucketed") {
      val base = Staged.scratch(s, "graft_snapshot_bk")
      val t1 = s"$base/orders"
      val t2 = s"$base/customer"
      create(s, t1, Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice"), col("o_orderpriority")),
        "o_orderpriority", bucketBy = Some(("o_custkey", 16)))
      create(s, t2, Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment")),
        "c_mktsegment", bucketBy = Some(("c_custkey", 16)))
      (t1, t2)
    }

  /** Per-segment revenue rollup of the BUCKETED orders⋈customer join —
    * both tables bucketed 16 ways on custkey, so the join plans with
    * no exchange on either side (SnapshotBucketedSpec pins the plan;
    * this query pins the RESULT: a wrong bucket id in any file name
    * would silently drop matches and break the oracle hash).
    */
  def bucketedQuery(s: SparkSession, dir: String): DataFrame = {
    val (t1, t2) = bucketedScenario(s, dir)
    read(s, t1).join(read(s, t2), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
          .as("revenue"),
        max(col("o_orderkey")).as("max_key"))
      .orderBy(col("c_mktsegment"))
  }

  // sorted-bucket scenario: orders and lineitem, both bucketed 16 ways
  // on the order key AND sorted by it within every file, under a single
  // constant partition value so the whole-table scan holds exactly one
  // file per bucket — the shape where Spark grants the scan an
  // outputOrdering and the fact⋈fact SMJ plans with zero exchanges AND
  // zero sorts. Read-only after create → memoized.
  private def sortedBucketScenario(s: SparkSession, dir: String): (String, String) =
    Staged(s, dir, "snapshot.sortedBucket") {
      val base = Staged.scratch(s, "graft_snapshot_sb")
      val t1 = s"$base/orders"
      val t2 = s"$base/lineitem"
      create(s, t1, Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderpriority"))
        .withColumn("grp", lit("all")),
        "grp", bucketBy = Some(("o_orderkey", 16)),
        sortBy = Some("o_orderkey"))
      create(s, t2, Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_extendedprice"))
        .withColumn("grp", lit("all")),
        "grp", bucketBy = Some(("l_orderkey", 16)),
        sortBy = Some("l_orderkey"))
      (t1, t2)
    }

  /** Priority rollup of the SORTED-bucketed orders⋈lineitem join — the
    * fact⋈fact shape where bucketing elides both exchanges and the
    * table sort order (files internally ordered by the key, one file
    * per bucket) elides both SMJ sorts; the merge hint keeps the
    * measured path the sort-merge join at oracle SF, where the small
    * side would otherwise broadcast. SortedBucketSpec pins the plan
    * (zero shuffles, zero sorts); this query pins the RESULT — an
    * unsorted file behind the ordering claim would make the merge join
    * silently drop or mis-pair rows and break the oracle hash.
    */
  def sortedBucketQuery(s: SparkSession, dir: String): DataFrame = {
    val (t1, t2) = sortedBucketScenario(s, dir)
    read(s, t1).hint("merge")
      .join(read(s, t2), col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
          .as("revenue"),
        max(col("l_orderkey")).as("max_key"))
      .orderBy(col("o_orderpriority"))
  }

  /** Rollup after a CONDITIONAL MERGE INTO on a clone of the base
    * table: matched keys with a low (doubled) price are DELETED,
    * remaining matched keys get only their price UPDATED, and
    * brand-new keys INSERT — all three clause kinds in one commit, so
    * the oracle hash pins clause order (delete before update), the
    * partial-update projection, and the whole-table not-matched test.
    */
  def mergeIntoQuery(s: SparkSession, dir: String): DataFrame = {
    val work = cloneTable(s, deleteBase(s, dir))
    val orders = Tables.orders(s, dir)
    val maxKey = orders.agg(max(col("o_orderkey"))).head().getLong(0)
    val tableSchema = read(s, work).schema
    val changed = orders.filter(col("o_orderkey") % 131 === 0)
      .select(col("o_orderkey"), col("o_custkey"),
        (col("o_totalprice") * 2).as("o_totalprice"),
        col("o_orderdate"), col("o_orderpriority"))
    val fresh = s.range(1, 6).select(
      (col("id") + maxKey).as("o_orderkey"),
      lit(1L).as("o_custkey"),
      lit(123.45).as("o_totalprice"),
      to_timestamp(lit("1999-01-01")).as("o_orderdate"),
      lit("1-URGENT").as("o_orderpriority"))
      .select(tableSchema.map(f => col(f.name).cast(f.dataType)).toIndexedSeq: _*)
    val (_, nU, nD, nI) = commitMergeInto(s, work,
      changed.unionByName(fresh), "o_orderkey", "o_orderpriority",
      updateWhen = Some(lit(true)),
      updateSet = Seq("o_totalprice" -> src("o_totalprice")),
      deleteWhen = Some(src("o_totalprice") < 100000.0),
      insertWhen = Some(col("o_totalprice") > 0))
    require(nI == 5L, s"merge-into: expected 5 inserts, got $nI")
    require(nU > 0L && nD > 0L,
      s"merge-into: degenerate clause counts (upd=$nU del=$nD)")
    rollup(read(s, work))
  }

  /** The pre-merge snapshot read through a NAMED REF — `setRef` pins
    * version 1 as `premerge` on the shared scenario table (idempotent
    * re-point; the table itself is never mutated) and the rollup must
    * hash-match the plain-orders oracle exactly, like `q_time_travel`.
    */
  def refQuery(s: SparkSession, dir: String): DataFrame = {
    val t = scenario(s, dir)
    setRef(s, t, "premerge", Some(1L), overwrite = true)
    rollup(readRef(s, t, "premerge"))
  }

  /** The `q_snapshot_skip` rollup, expressed entirely in SQL through
    * the [[SnapshotSql]] `snapshot_table` TVF — the plain WHERE range
    * must reach [[SnapshotFileIndex]] as pushed data filters and hash-
    * match the Scala readRange path exactly (same oracle).
    */
  def sqlQuery(s: SparkSession, dir: String): DataFrame = {
    SnapshotSql.register(s)
    val t = scenario(s, dir)
    s.sql(
      s"""SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
         |  CAST(max(o_orderkey) AS BIGINT) AS max_key
         |FROM snapshot_table('$t')
         |WHERE o_orderkey BETWEEN 1000 AND 3000
         |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
  }

  /** `q_upsert_merge`'s MERGE driven PURELY through `spark.sql` — the
    * updates view is built in SQL over the raw parquet, the write is
    * the [[SnapshotSql]] `snapshot_merge` procedure-TVF, and the
    * rollup reads back through `snapshot_table`. Shares
    * `q_upsert_merge`'s oracle verbatim: SQL twin ≡ Scala upsert ≡
    * the oracle's relational replay, or the hash breaks.
    */
  def sqlMergeQuery(s: SparkSession, dir: String): DataFrame = {
    SnapshotSql.register(s)
    val work = cloneTable(s, deleteBase(s, dir))
    // the batch is PARTITION-SCOPED (one priority) — the daily-refresh
    // shape commitMergeInto is built for: affected files are that
    // partition's (plus detected movers), the other four carry by
    // reference, so the measured commit rewrites ~1/5 of the table
    s.sql(
      s"""CREATE OR REPLACE TEMPORARY VIEW graft_sql_merge_updates AS
         |WITH src AS (SELECT * FROM parquet.`$dir/orders.parquet`),
         |changed AS (
         |  SELECT o_orderkey, o_custkey,
         |    o_totalprice + 1000.0 AS o_totalprice,
         |    o_orderdate, o_orderpriority
         |  FROM src
         |  WHERE o_orderkey % 97 = 0 AND o_orderpriority = '1-URGENT'
         |), fresh AS (
         |  SELECT (SELECT max(o_orderkey) FROM src) + id AS o_orderkey,
         |    CAST(1 AS BIGINT) AS o_custkey,
         |    CAST(123.45 AS DOUBLE) AS o_totalprice,
         |    CAST('1999-01-01' AS TIMESTAMP) AS o_orderdate,
         |    '1-URGENT' AS o_orderpriority
         |  FROM range(1, 6)
         |)
         |SELECT * FROM changed UNION ALL SELECT * FROM fresh""".stripMargin)
    val out = s.sql(s"SELECT * FROM snapshot_merge('$work', " +
      "'graft_sql_merge_updates', 'o_orderkey', 'o_orderpriority')").head()
    require(out.getLong(3) == 5L,
      s"sql merge: expected 5 inserts, got ${out.getLong(3)}")
    s.sql(
      s"""SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
         |    AS total_price,
         |  CAST(max(o_orderkey) AS BIGINT) AS max_key
         |FROM snapshot_table('$work')
         |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
  }

  /** Key-DELETE driven purely through `spark.sql` via the
    * `snapshot_delete` procedure-TVF, rollup read back through
    * `snapshot_table` — the oracle replays the deletion relationally.
    */
  def sqlDeleteQuery(s: SparkSession, dir: String): DataFrame = {
    SnapshotSql.register(s)
    val work = cloneTable(s, deleteBase(s, dir))
    s.sql(
      s"""CREATE OR REPLACE TEMPORARY VIEW graft_sql_delete_keys AS
         |SELECT o_orderkey FROM parquet.`$dir/orders.parquet`
         |WHERE o_orderkey % 101 = 0
         |  AND o_orderkey BETWEEN 1000 AND 5000""".stripMargin)
    s.sql(s"SELECT * FROM snapshot_delete('$work', " +
      "'graft_sql_delete_keys', 'o_orderkey', 'o_orderpriority')").head()
    s.sql(
      s"""SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
         |    AS total_price,
         |  CAST(max(o_orderkey) AS BIGINT) AS max_key
         |FROM snapshot_table('$work')
         |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
  }

  /** Whole-table `count(*)`/`min`/`max` over the post-merge snapshot,
    * answered by [[graft.plans.MetadataAggPushdown]] from the manifest
    * alone — the executed plan is a LocalTableScan, ZERO data files
    * planned (MetadataAggSpec asserts this; at 100 TB the same query
    * costs one in-memory fold instead of a full scan). The oracle
    * replays the merge and aggregates the rows, so the hash check
    * proves the manifest's row counts and stats ARE the data's.
    */
  def metaAggQuery(s: SparkSession, dir: String): DataFrame = {
    read(s, scenario(s, dir)).agg(
      count(lit(1)).as("n_rows"),
      min(col("o_orderkey")).as("min_key"),
      max(col("o_orderkey")).as("max_key"))
  }

  // exact-sum scenario: plain orders snapshot, ANALYZEd with integral
  // column sums — read-only after the analyze, memoized
  private def sumScenario(s: SparkSession, dir: String): String =
    Staged(s, dir, "snapshot.sum") {
      val work = Staged.scratch(s, "graft_snapshot_sum") + "/t"
      // o_price_dec is the DECIMAL sum lane (money columns are
      // where SUM pushdown pays); its per-file stats feed the
      // same-sign proof the decimal fold demands in every mode
      create(s, work, Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice"),
          col("o_totalprice").cast("decimal(12,2)").as("o_price_dec"),
          col("o_orderpriority")),
        "o_orderpriority",
        // custkey stats feed the same-sign proof the grouped
        // long-sum fold demands under ANSI (Spark 4's default)
        statsCols = Seq("o_orderkey", "o_price_dec", "o_custkey"))
      TableStats.analyze(s, work, Seq.empty,
        sumCols = Seq("o_orderkey", "o_custkey", "o_price_dec"),
        groupSumCols = Seq("o_price_dec", "o_custkey"))
      work
    }

  /** Whole-table SUMs answered from the ANALYZE sidecar's exact
    * decimal column sums ([[graft.plans.MetadataAggPushdown]]'s sum
    * fold — integral columns, fingerprint-gated, O(Δ)-maintained):
    * the executed plan is a LocalTableScan, zero data files. The
    * oracle replays the sums relationally, so the hash check proves
    * the recorded decimal totals ARE the data's.
    */
  def metaSumQuery(s: SparkSession, dir: String): DataFrame = {
    read(s, sumScenario(s, dir)).agg(
      count(lit(1)).as("n_rows"),
      sum(col("o_orderkey")).as("sum_key"),
      sum(col("o_custkey")).as("sum_cust"),
      max(col("o_orderkey")).as("max_key"))
  }

  /** The DECIMAL twin of [[metaSumQuery]]: a money column's whole-table
    * SUM answered from the sidecar's scale-carrying exact decimal total
    * ([[graft.plans.MetadataAggPushdown]]'s decimal fold — same-sign
    * proven in EVERY eval mode, total within Sum's result precision).
    * The terminal double cast lives in a Project ABOVE the aggregate,
    * so the Aggregate itself still folds to a LocalRelation; the
    * oracle replays the decimal sum relationally — a fold that served
    * anything but the scan's exact total breaks the hash.
    */
  def metaSumDecQuery(s: SparkSession, dir: String): DataFrame = {
    // avg_price is emitted as the decimal(16,6) STRING: the oracle
    // rebuilds the identical digits by integer arithmetic (half-up at
    // scale 6 — provably Spark's own result here: the quotient of
    // cents by a row count can't land within 1e-17 of a scale-6 tie
    // without BEING one, and exact ties round up in both paths), so
    // the hash check is exact with no cross-engine float division
    read(s, sumScenario(s, dir)).agg(
      count(lit(1)).as("n_rows"),
      sum(col("o_price_dec")).as("dec_total"),
      sum(col("o_custkey")).as("sum_cust"),
      avg(col("o_price_dec")).as("dec_avg"))
      .select(col("n_rows"),
        col("dec_total").cast("double").as("sum_price"),
        col("sum_cust"),
        col("dec_avg").cast("string").as("avg_price"))
  }

  /** Per-PARTITION revenue profile answered ENTIRELY from metadata:
    * counts from the manifest's per-file rows, SUM/AVG per priority
    * from the sidecar's value-keyed grouped sums
    * ([[graft.sources.TableStats.exactGroupSum]]) — "sum and average
    * order value per priority" on a 100 TB table plans ZERO data
    * files. The money AVG is emitted as the decimal(16,6) string with
    * the same integer half-up-at-6 oracle replica as the global fold.
    */
  def metaGroupSumsQuery(s: SparkSession, dir: String): DataFrame = {
    read(s, sumScenario(s, dir))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("o_price_dec")).as("dec_total"),
        avg(col("o_price_dec")).as("dec_avg"),
        sum(col("o_custkey")).as("cust_total"))
      .select(col("o_orderpriority"), col("n_rows"),
        col("dec_total").cast("double").as("sum_price"),
        col("dec_avg").cast("string").as("avg_price"),
        col("cust_total").as("sum_cust"))
      .orderBy(col("o_orderpriority"))
  }

  /** The same exact-sum serve driven PURELY through `spark.sql`: the
    * `snapshot_sums` TVF answers from the sidecar with its
    * current-version freshness proof — no Scala API in sight.
    */
  def sqlSumsQuery(s: SparkSession, dir: String): DataFrame = {
    SnapshotSql.register(s)
    val t = sumScenario(s, dir)
    s.sql(
      s"""SELECT col, CAST(sum_value AS BIGINT) AS sum_value,
         |  CAST(n_nonnull AS BIGINT) AS n_nonnull
         |FROM (
         |  SELECT * FROM snapshot_sums('$t', 'o_custkey')
         |  UNION ALL
         |  SELECT * FROM snapshot_sums('$t', 'o_orderkey')
         |) ORDER BY col""".stripMargin)
  }

  /** The PARTITION-FILTERED metadata fold: `count/min/max WHERE
    * priority IN (...)` answered from the manifest's per-file
    * (partition value, rows, stats) lines alone — the writer's
    * one-value-per-file invariant makes the filter an exact entry
    * restriction, so the operational "how big is this slice" query
    * plans zero data files (MetadataAggSpec pins the LocalRelation).
    */
  def metaSelQuery(s: SparkSession, dir: String): DataFrame = {
    read(s, scenario(s, dir))
      .filter(col("o_orderpriority").isin("1-URGENT", "3-MEDIUM"))
      .agg(
        count(lit(1)).as("n_rows"),
        min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"))
  }

  /** Fact⋈dim join with RUNTIME file pruning: the dim's two event
    * types seed the fact scan as an IN filter, which the FileIndex
    * turns into partition-value skipping — only the matching types'
    * files are planned (DynamicFilterJoinSpec asserts the numFiles
    * drop; at 100 TB the join reads the dim-relevant slice, not the
    * table). Oracle: the plain SQL join.
    */
  def dynJoinQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val dim = Seq("view", "purchase").toDF("etype")
    graft.operators.DynamicFilterJoin
      .inner(read(s, eventsScenario(s, dir)), "event_type",
        broadcast(dim), "etype")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"),
        max(col("event_id")).as("max_id"))
      .orderBy(col("event_type"))
  }

  /** Per-PARTITION row counts and key bounds — the operational
    * "describe my partitions" profile — answered as a manifest fold
    * over the per-file (partition value, rows, stats) lines: the
    * writer's one-value-per-file invariant makes the group-by exact
    * with zero data files planned.
    */
  def metaPartsQuery(s: SparkSession, dir: String): DataFrame = {
    read(s, scenario(s, dir)).groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"))
      .orderBy(col("o_orderpriority"))
  }

  // nullable-column scenario for the null-count stats path: a sparse
  // reference column (integral, so the commit's stats pass is pure
  // parquet-footer metadata — null counts included) over the standard
  // priority partitioning
  private def nullScenario(s: SparkSession, dir: String): String =
    Staged(s, dir, "snapshot.nullScenario") {
      val work = Staged.scratch(s, "graft_snapshot_nulls") + "/t"
      val orders = Tables.orders(s, dir).select(
        col("o_orderkey"),
        when(col("o_orderkey") % 3 === 0, col("o_custkey"))
          .as("o_ship_ref"),
        (col("o_custkey") % 701).as("o_ref_bucket"),
        col("o_orderpriority"))
      withFileGranularity(s, 1L << 20) {
        create(s, work, orders, "o_orderpriority",
          statsCols = Seq("o_orderkey", "o_ship_ref"))
      }
      // ANALYZE once at build: ≤701 distinct buckets at k=1024
      // keeps the sketch in its exact regime (TableStatsSpec
      // covers saturation + staleness)
      TableStats.analyze(s, work, Seq("o_ref_bucket"), k = 1024)
      work
    }

  /** Driver query: per-partition `count(*)` AND `count(col)` over a
    * NULLABLE column — both answered from the manifest's per-file row
    * and null counts (the spec pins the LocalRelation plan; the oracle
    * pins the values against a raw recompute).
    */
  def metaNullsQuery(s: SparkSession, dir: String): DataFrame = {
    read(s, nullScenario(s, dir)).groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_rows"),
        count(col("o_ship_ref")).as("n_ref"),
        min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"))
      .orderBy(col("o_orderpriority"))
  }

  /** Per-version PHYSICAL table profile, folded from manifests only —
    * zero data files planned for any version. One row per version:
    * file/row/byte totals, pending-delete file count, and (when every
    * entry of that version carries complete stats for `statsCol`) the
    * column's bounds and null total; unprovable cells are SQL NULL,
    * never a guess. This is the drift-monitoring primitive for a
    * training-data pipeline: "did yesterday's ingest halve row counts,
    * spike nulls, or shift the key range" answered at metadata cost —
    * at 100 TB the alternative is a scan per version per question.
    * Reports the PHYSICAL row set (pending equality deletes are
    * counted as `n_delete_files`, not subtracted) — the audit view of
    * what is durably on disk.
    */
  def statsHistory(spark: SparkSession, table: String,
                   statsCol: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val rows = versions(spark, table).sorted.map { v =>
      val m = readMeta(spark, table, v)
      val es = m.entries
      val sts = statsCol.map(c => es.map(e => (e, e.stats.find(_.col == c))))
      def complete =
        sts.exists(xs => xs.nonEmpty && xs.forall(_._2.isDefined))
      // a NaN bound is the all-null marker ONLY when nulls == rows; a
      // float/double file merely CONTAINING NaN also records NaN bounds
      // (Spark min/max order NaN greatest) — its true extremes are
      // unknowable from the manifest, so the bound cells go SQL NULL
      // rather than silently excluding that file's real contribution
      def tainted = sts.get.exists { case (e, so) => so.exists(s =>
        (s.lo.isNaN || s.hi.isNaN) && s.nulls != e.rows) }
      def real =
        sts.get.flatMap(_._2).filterNot(s => s.lo.isNaN || s.hi.isNaN)
      val (lo, hi) =
        if (complete && !tainted && real.nonEmpty)
          (Some(real.map(_.lo).min), Some(real.map(_.hi).max))
        else (None, None)
      val nulls =
        if (complete && sts.get.flatMap(_._2).forall(_.nulls >= 0L))
          Some(sts.get.flatMap(_._2).map(_.nulls).sum)
        else None
      Row(v, es.size.toLong, es.map(_.rows).sum, es.map(_.bytes).sum,
        m.deletes.size.toLong, lo.orNull, hi.orNull, nulls.orNull)
    }
    val schema = StructType(Seq(
      StructField("version", LongType, nullable = false),
      StructField("n_files", LongType, nullable = false),
      StructField("n_rows", LongType, nullable = false),
      StructField("n_bytes", LongType, nullable = false),
      StructField("n_delete_files", LongType, nullable = false),
      StructField("min_val", DoubleType, nullable = true),
      StructField("max_val", DoubleType, nullable = true),
      StructField("n_nulls", LongType, nullable = true)))
    spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters
        .SeqHasAsJava(rows).asJava), schema)
  }

  /** Driver query: the version-history profile of the shared merge
    * scenario — row counts and key bounds PER VERSION, every cell a
    * manifest fold (the oracle replays both states relationally).
    */
  def historyQuery(s: SparkSession, dir: String): DataFrame =
    statsHistory(s, scenario(s, dir), Some("o_orderkey"))
      .select(col("version"), col("n_rows"),
        col("min_val").cast("long").as("min_key"),
        col("max_val").cast("long").as("max_key"))
      .orderBy(col("version"))

  /** Driver query: whole-table `count(*)` + `count(DISTINCT bucket)` +
    * key bounds, ALL folded from metadata — rows and min/max from the
    * manifest, the distinct count from the fingerprint-verified ANALYZE
    * sidecar in its exact regime ([[TableStats]]).
    */
  // two event-type user corpora as snapshot tables + their ANALYZE
  // sidecars — read-only after build, memoized; the overlap query then
  // costs two sidecar reads and a driver-side hash-set fold
  private def overlapScenario(s: SparkSession, dir: String): (String, String) =
    Staged(s, dir, "snapshot.overlap") {
      val root = Staged.scratch(s, "graft_ndv_overlap")
      val ev = Tables.load(s, dir, "events")
        .select(col("user_id"), col("event_type"))
      def side(name: String, etype: String): String = {
        val t = s"$root/$name"
        create(s, t, ev.filter(col("event_type") === etype),
          "event_type")
        TableStats.analyze(s, t, Seq("user_id"), k = 8192)
        t
      }
      (side("viewers", "view"), side("purchasers", "purchase"))
    }

  /** Cross-table audience overlap from the ANALYZE sidecars — distinct
    * viewers, purchasers, their union and intersection — all four
    * numbers a METADATA fold ([[TableStats.overlap]]: two sidecar
    * reads, zero data files) while the sketches are in their exact
    * regime; a saturated sketch at larger scale degrades to the exact
    * relational recompute, never an estimate in an oracle-compared
    * result.
    */
  def ndvOverlapQuery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (va, vb) = overlapScenario(s, dir)
    val sa = TableStats.readStats(s, va).get.sketches
      .find(_.col == "user_id").get
    val sb = TableStats.readStats(s, vb).get.sketches
      .find(_.col == "user_id").get
    val ov = TableStats.overlap(sa, sb)
    (sa.exact, sb.exact) match {
      case (Some(nA), Some(nB)) if ov.exact =>
        Seq((nA, nB, ov.union.toLong, ov.intersect.toLong))
          .toDF("n_view", "n_purchase", "n_union", "n_intersect")
      case _ =>
        val a = read(s, va).select(col("user_id")).distinct()
        val b = read(s, vb).select(col("user_id")).distinct()
        Seq((a.count(), b.count(),
          a.unionByName(b).distinct().count(),
          a.join(b, Seq("user_id"), "left_semi").count()))
          .toDF("n_view", "n_purchase", "n_union", "n_intersect")
    }
  }

  def metaNdvQuery(s: SparkSession, dir: String): DataFrame = {
    read(s, nullScenario(s, dir)).agg(
      count(lit(1)).as("n_rows"),
      count_distinct(col("o_ref_bucket")).as("n_buckets"),
      min(col("o_orderkey")).as("min_key"),
      max(col("o_orderkey")).as("max_key"))
  }

  override def queries: Map[String, QueryPack.Q] = Map(
    "q_snapshot_history" -> (historyQuery _),
    "q_snapshot_ndv" -> (metaNdvQuery _),
    "q_ndv_overlap" -> (ndvOverlapQuery _),
    "q_snapshot_meta_nulls" -> (metaNullsQuery _),
    "q_snapshot_dynjoin" -> (dynJoinQuery _),
    "q_snapshot_meta_agg" -> (metaAggQuery _),
    "q_snapshot_meta_sum" -> (metaSumQuery _),
    "q_snapshot_meta_sumdec" -> (metaSumDecQuery _),
    "q_meta_group_sums" -> (metaGroupSumsQuery _),
    "q_sql_sums" -> (sqlSumsQuery _),
    "q_snapshot_meta_sel" -> (metaSelQuery _),
    "q_snapshot_meta_parts" -> (metaPartsQuery _),
    "q_snapshot_sql" -> (sqlQuery _),
    "q_sql_merge" -> (sqlMergeQuery _),
    "q_sql_delete" -> (sqlDeleteQuery _),
    "q_snapshot_merge" -> (snapshotMergeQuery _),
    "q_stats_broadcast" -> (statsBroadcastQuery _),
    "q_time_travel" -> (timeTravelQuery _),
    "q_snapshot_skip" -> (rangeSkipQuery _),
    "q_snapshot_skip2" -> (rangeSkip2Query _),
    "q_snapshot_pushdown" -> (pushdownQuery _),
    "q_snapshot_skip_expr" -> (exprSkipQuery _),
    "q_snapshot_zorder" -> (zorderQuery _),
    "q_snapshot_partevo" -> (partEvoQuery _),
    "q_snapshot_bloom" -> (bloomQuery _),
    "q_snapshot_changes" -> (changesQuery _),
    "q_snapshot_delete" -> (deleteQuery _),
    "q_snapshot_dv" -> (dvQuery _),
    "q_snapshot_dv_count" -> (dvCountQuery _),
    "q_snapshot_expire" -> (expireQuery _),
    "q_snapshot_restore" -> (restoreQuery _),
    "q_snapshot_files" -> (filesQuery _),
    "q_snapshot_constraints" -> (constraintsQuery _),
    "q_snapshot_wap" -> (wapQuery _),
    "q_snapshot_lazy_del" -> (lazyDeleteQuery _),
    "q_snapshot_rename" -> (renameQuery _),
    "q_snapshot_evolve" -> (evolveQuery _),
    "q_snapshot_merge_into" -> (mergeIntoQuery _),
    "q_snapshot_ref" -> (refQuery _),
    "q_snapshot_bucketed" -> (bucketedQuery _),
    "q_bucketed_sorted" -> (sortedBucketQuery _))

  override def oracleSql: Map[String, String] = Map(
    "q_snapshot_dynjoin" ->
      """WITH dim AS (SELECT 'view' AS etype UNION ALL SELECT 'purchase')
        |SELECT e.event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
        |  CAST(max(event_id) AS BIGINT) AS max_id
        |FROM events e JOIN dim d ON e.event_type = d.etype
        |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin,
    "q_snapshot_history" ->
      """WITH changed AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice + 1000.0 AS o_totalprice,
        |    o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderkey % 97 = 0
        |), fresh AS (
        |  SELECT (SELECT max(o_orderkey) FROM orders) + i AS o_orderkey,
        |    CAST(1 AS BIGINT) AS o_custkey, 123.45 AS o_totalprice,
        |    '1999-01-01' AS o_orderdate, '1-URGENT' AS o_orderpriority
        |  FROM (SELECT unnest(generate_series(1, 5)) AS i)
        |), upd AS (
        |  SELECT * FROM changed UNION ALL SELECT * FROM fresh
        |), merged AS (
        |  SELECT o_orderkey FROM orders
        |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
        |  UNION ALL
        |  SELECT o_orderkey FROM upd
        |)
        |SELECT CAST(1 AS BIGINT) AS version,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(min(o_orderkey) AS BIGINT) AS min_key,
        |  CAST(max(o_orderkey) AS BIGINT) AS max_key FROM orders
        |UNION ALL
        |SELECT CAST(2 AS BIGINT) AS version,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(min(o_orderkey) AS BIGINT) AS min_key,
        |  CAST(max(o_orderkey) AS BIGINT) AS max_key FROM merged
        |ORDER BY version""".stripMargin,
    "q_snapshot_ndv" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(DISTINCT o_custkey % 701) AS BIGINT) AS n_buckets,
        |  CAST(min(o_orderkey) AS BIGINT) AS min_key,
        |  CAST(max(o_orderkey) AS BIGINT) AS max_key
        |FROM orders""".stripMargin,
    "q_ndv_overlap" ->
      """SELECT
        |  CAST((SELECT count(DISTINCT user_id) FROM events
        |        WHERE event_type = 'view') AS BIGINT) AS n_view,
        |  CAST((SELECT count(DISTINCT user_id) FROM events
        |        WHERE event_type = 'purchase') AS BIGINT) AS n_purchase,
        |  CAST((SELECT count(DISTINCT user_id) FROM events
        |        WHERE event_type IN ('view', 'purchase')) AS BIGINT)
        |    AS n_union,
        |  CAST((SELECT count(DISTINCT user_id) FROM events
        |        WHERE event_type = 'view' AND user_id IN
        |          (SELECT user_id FROM events WHERE event_type = 'purchase'))
        |    AS BIGINT) AS n_intersect""".stripMargin,
    "q_snapshot_meta_nulls" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(CASE WHEN o_orderkey % 3 = 0 THEN o_custkey END)
        |    AS BIGINT) AS n_ref,
        |  CAST(min(o_orderkey) AS BIGINT) AS min_key,
        |  CAST(max(o_orderkey) AS BIGINT) AS max_key
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "q_sql_sums" ->
      """SELECT col, CAST(s AS BIGINT) AS sum_value,
        |  CAST(n AS BIGINT) AS n_nonnull
        |FROM (
        |  SELECT 'o_custkey' AS col, sum(o_custkey) AS s,
        |    count(o_custkey) AS n FROM orders
        |  UNION ALL
        |  SELECT 'o_orderkey', sum(o_orderkey), count(o_orderkey)
        |  FROM orders
        |) ORDER BY col""".stripMargin,
    "q_snapshot_meta_sum" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
        |  CAST(sum(o_custkey) AS BIGINT) AS sum_cust,
        |  CAST(max(o_orderkey) AS BIGINT) AS max_key
        |FROM orders""".stripMargin,
    "q_snapshot_meta_sumdec" ->
      """WITH s AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |    sum(CAST(o_totalprice AS DECIMAL(12,2))) AS dec_total,
        |    CAST(sum(o_custkey) AS BIGINT) AS sum_cust
        |  FROM orders
        |), q AS (
        |  SELECT *,
        |    (2 * CAST(dec_total * 100 AS BIGINT) * 10000 + n_rows)
        |      // (2 * n_rows) AS q6
        |  FROM s)
        |SELECT n_rows, CAST(dec_total AS DOUBLE) AS sum_price, sum_cust,
        |  printf('%d.%06d', q6 // 1000000, q6 % 1000000) AS avg_price
        |FROM q""".stripMargin,
    "q_meta_group_sums" ->
      """WITH s AS (
        |  SELECT o_orderpriority,
        |    CAST(count(*) AS BIGINT) AS n_rows,
        |    sum(CAST(o_totalprice AS DECIMAL(12,2))) AS dec_total,
        |    CAST(sum(o_custkey) AS BIGINT) AS sum_cust
        |  FROM orders GROUP BY o_orderpriority
        |), q AS (
        |  SELECT *,
        |    (2 * CAST(dec_total * 100 AS BIGINT) * 10000 + n_rows)
        |      // (2 * n_rows) AS q6
        |  FROM s)
        |SELECT o_orderpriority, n_rows,
        |  CAST(dec_total AS DOUBLE) AS sum_price,
        |  printf('%d.%06d', q6 // 1000000, q6 % 1000000) AS avg_price,
        |  sum_cust
        |FROM q ORDER BY o_orderpriority""".stripMargin,
    "q_snapshot_meta_agg" ->
      """WITH changed AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice + 1000.0 AS o_totalprice,
        |    o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderkey % 97 = 0
        |), fresh AS (
        |  SELECT (SELECT max(o_orderkey) FROM orders) + i AS o_orderkey,
        |    CAST(1 AS BIGINT) AS o_custkey, 123.45 AS o_totalprice,
        |    '1999-01-01' AS o_orderdate, '1-URGENT' AS o_orderpriority
        |  FROM (SELECT unnest(generate_series(1, 5)) AS i)
        |), upd AS (
        |  SELECT * FROM changed UNION ALL SELECT * FROM fresh
        |), merged AS (
        |  SELECT o_orderkey FROM orders
        |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
        |  UNION ALL
        |  SELECT o_orderkey FROM upd
        |)
        |SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(min(o_orderkey) AS BIGINT) AS min_key,
        |  CAST(max(o_orderkey) AS BIGINT) AS max_key
        |FROM merged""".stripMargin,
    "q_snapshot_meta_sel" ->
      """WITH changed AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice + 1000.0 AS o_totalprice,
        |    o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderkey % 97 = 0
        |), fresh AS (
        |  SELECT (SELECT max(o_orderkey) FROM orders) + i AS o_orderkey,
        |    CAST(1 AS BIGINT) AS o_custkey, 123.45 AS o_totalprice,
        |    '1999-01-01' AS o_orderdate, '1-URGENT' AS o_orderpriority
        |  FROM (SELECT unnest(generate_series(1, 5)) AS i)
        |), upd AS (
        |  SELECT * FROM changed UNION ALL SELECT * FROM fresh
        |), merged AS (
        |  SELECT o_orderkey, o_orderpriority FROM orders
        |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
        |  UNION ALL
        |  SELECT o_orderkey, o_orderpriority FROM upd
        |)
        |SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(min(o_orderkey) AS BIGINT) AS min_key,
        |  CAST(max(o_orderkey) AS BIGINT) AS max_key
        |FROM merged
        |WHERE o_orderpriority IN ('1-URGENT', '3-MEDIUM')""".stripMargin,
    "q_snapshot_meta_parts" ->
      """WITH changed AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice + 1000.0 AS o_totalprice,
        |    o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderkey % 97 = 0
        |), fresh AS (
        |  SELECT (SELECT max(o_orderkey) FROM orders) + i AS o_orderkey,
        |    CAST(1 AS BIGINT) AS o_custkey, 123.45 AS o_totalprice,
        |    '1999-01-01' AS o_orderdate, '1-URGENT' AS o_orderpriority
        |  FROM (SELECT unnest(generate_series(1, 5)) AS i)
        |), upd AS (
        |  SELECT * FROM changed UNION ALL SELECT * FROM fresh
        |), merged AS (
        |  SELECT o_orderkey, o_orderpriority FROM orders
        |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
        |  UNION ALL
        |  SELECT o_orderkey, o_orderpriority FROM upd
        |)
        |SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(min(o_orderkey) AS BIGINT) AS min_key,
        |  CAST(max(o_orderkey) AS BIGINT) AS max_key
        |FROM merged GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "q_sql_merge" ->
      """WITH changed AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice + 1000.0 AS o_totalprice,
        |    o_orderdate, o_orderpriority
        |  FROM orders
        |  WHERE o_orderkey % 97 = 0 AND o_orderpriority = '1-URGENT'
        |), fresh AS (
        |  SELECT (SELECT max(o_orderkey) FROM orders) + i AS o_orderkey,
        |    CAST(1 AS BIGINT) AS o_custkey, 123.45 AS o_totalprice,
        |    '1999-01-01' AS o_orderdate, '1-URGENT' AS o_orderpriority
        |  FROM (SELECT unnest(generate_series(1, 5)) AS i)
        |), upd AS (
        |  SELECT * FROM changed UNION ALL SELECT * FROM fresh
        |), merged AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
        |  FROM orders WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority FROM upd
        |)
        |SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
        |  CAST(max(o_orderkey) AS BIGINT) AS max_key
        |FROM merged GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_sql_delete" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
        |  CAST(max(o_orderkey) AS BIGINT) AS max_key
        |FROM orders
        |WHERE NOT (o_orderkey % 101 = 0 AND o_orderkey BETWEEN 1000 AND 5000)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_snapshot_sql" ->
      """WITH changed AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice + 1000.0 AS o_totalprice,
        |    o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderkey % 97 = 0
        |), fresh AS (
        |  SELECT (SELECT max(o_orderkey) FROM orders) + i AS o_orderkey,
        |    CAST(1 AS BIGINT) AS o_custkey, 123.45 AS o_totalprice,
        |    '1999-01-01' AS o_orderdate, '1-URGENT' AS o_orderpriority
        |  FROM (SELECT unnest(generate_series(1, 5)) AS i)
        |), upd AS (
        |  SELECT * FROM changed UNION ALL SELECT * FROM fresh
        |), merged AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
        |  FROM orders WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority FROM upd
        |)
        |SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
        |  CAST(max(o_orderkey) AS BIGINT) AS max_key
        |FROM merged WHERE o_orderkey BETWEEN 1000 AND 3000
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_snapshot_merge" ->
      """WITH changed AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice + 1000.0 AS o_totalprice,
        |    o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderkey % 97 = 0
        |), fresh AS (
        |  SELECT (SELECT max(o_orderkey) FROM orders) + i AS o_orderkey,
        |    CAST(1 AS BIGINT) AS o_custkey, 123.45 AS o_totalprice,
        |    '1999-01-01' AS o_orderdate, '1-URGENT' AS o_orderpriority
        |  FROM (SELECT unnest(generate_series(1, 5)) AS i)
        |), upd AS (
        |  SELECT * FROM changed UNION ALL SELECT * FROM fresh
        |), merged AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
        |  FROM orders WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority FROM upd
        |)
        |SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
        |  CAST(max(o_orderkey) AS BIGINT) AS max_key
        |FROM merged GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_stats_broadcast" ->
      """WITH changed AS (
        |  SELECT o_orderkey, o_totalprice + 1000.0 AS o_totalprice,
        |    o_orderpriority
        |  FROM orders WHERE o_orderkey % 97 = 0
        |), fresh AS (
        |  SELECT (SELECT max(o_orderkey) FROM orders) + i AS o_orderkey,
        |    123.45 AS o_totalprice, '1-URGENT' AS o_orderpriority
        |  FROM (SELECT unnest(generate_series(1, 5)) AS i)
        |), upd AS (
        |  SELECT * FROM changed UNION ALL SELECT * FROM fresh
        |), merged AS (
        |  SELECT o_orderkey, o_totalprice, o_orderpriority
        |  FROM orders WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
        |  UNION ALL
        |  SELECT o_orderkey, o_totalprice, o_orderpriority FROM upd
        |), dim AS (
        |  SELECT o_orderkey, o_totalprice FROM merged
        |  WHERE o_orderpriority = '1-URGENT'
        |)
        |SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |  CAST(max(l_orderkey) AS BIGINT) AS max_key
        |FROM lineitem JOIN dim ON l_orderkey = o_orderkey
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_time_travel" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
        |  CAST(max(o_orderkey) AS BIGINT) AS max_key
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_snapshot_skip" ->
      """WITH changed AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice + 1000.0 AS o_totalprice,
        |    o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderkey % 97 = 0
        |), fresh AS (
        |  SELECT (SELECT max(o_orderkey) FROM orders) + i AS o_orderkey,
        |    CAST(1 AS BIGINT) AS o_custkey, 123.45 AS o_totalprice,
        |    '1999-01-01' AS o_orderdate, '1-URGENT' AS o_orderpriority
        |  FROM (SELECT unnest(generate_series(1, 5)) AS i)
        |), upd AS (
        |  SELECT * FROM changed UNION ALL SELECT * FROM fresh
        |), merged AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
        |  FROM orders WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority FROM upd
        |)
        |SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
        |  CAST(max(o_orderkey) AS BIGINT) AS max_key
        |FROM merged WHERE o_orderkey BETWEEN 1000 AND 3000
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_snapshot_skip2" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
        |  CAST(max(event_id) AS BIGINT) AS max_id
        |FROM events WHERE event_id BETWEEN 100 AND 299
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_snapshot_skip_expr" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
        |  CAST(max(event_id) AS BIGINT) AS max_id
        |FROM events
        |WHERE date_trunc('day', ts) = TIMESTAMP '2024-01-15 00:00:00'
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_snapshot_delete" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
        |  CAST(max(o_orderkey) AS BIGINT) AS max_key
        |FROM orders
        |WHERE NOT (o_orderkey % 101 = 0 AND o_orderkey BETWEEN 1000 AND 5000)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_snapshot_dv_count" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_live FROM orders
        |WHERE NOT (o_orderkey % 101 = 0
        |  AND o_orderkey BETWEEN 1000 AND 5000)""".stripMargin,
    "q_snapshot_expire" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
        |  CAST(min(event_id) AS BIGINT) AS min_id
        |FROM events WHERE ts >= TIMESTAMP '2024-01-20 00:00:00'
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_snapshot_dv" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
        |  CAST(max(o_orderkey) AS BIGINT) AS max_key
        |FROM orders
        |WHERE NOT (o_orderkey % 101 = 0 AND o_orderkey BETWEEN 1000 AND 5000)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_snapshot_restore" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
        |  CAST(max(o_orderkey) AS BIGINT) AS max_key
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_snapshot_files" ->
      """WITH changed AS (
        |  SELECT o_orderkey, o_orderpriority
        |  FROM orders WHERE o_orderkey % 97 = 0
        |), fresh AS (
        |  SELECT (SELECT max(o_orderkey) FROM orders) + i AS o_orderkey,
        |    '1-URGENT' AS o_orderpriority
        |  FROM (SELECT unnest(generate_series(1, 5)) AS i)
        |), upd AS (
        |  SELECT * FROM changed UNION ALL SELECT * FROM fresh
        |), merged AS (
        |  SELECT o_orderkey, o_orderpriority
        |  FROM orders WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
        |  UNION ALL
        |  SELECT o_orderkey, o_orderpriority FROM upd
        |)
        |SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_rows
        |FROM merged GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_snapshot_wap" ->
      """WITH fresh AS (
        |  SELECT (SELECT max(o_orderkey) FROM orders) + i AS o_orderkey,
        |    123.45 AS o_totalprice, '1-URGENT' AS o_orderpriority
        |  FROM (SELECT unnest(generate_series(1, 5)) AS i)
        |), unioned AS (
        |  SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
        |  UNION ALL SELECT * FROM fresh
        |)
        |SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
        |  CAST(max(o_orderkey) AS BIGINT) AS max_key
        |FROM unioned GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_snapshot_constraints" ->
      """WITH fresh AS (
        |  SELECT (SELECT max(o_orderkey) FROM orders) + i AS o_orderkey,
        |    123.45 AS o_totalprice, '1-URGENT' AS o_orderpriority
        |  FROM (SELECT unnest(generate_series(1, 5)) AS i)
        |), unioned AS (
        |  SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
        |  UNION ALL SELECT * FROM fresh
        |)
        |SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
        |  CAST(max(o_orderkey) AS BIGINT) AS max_key
        |FROM unioned GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_snapshot_lazy_del" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
        |  CAST(max(o_orderkey) AS BIGINT) AS max_key
        |FROM orders
        |WHERE NOT (o_orderkey % 101 = 0 AND o_orderkey BETWEEN 1000 AND 5000)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_snapshot_rename" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
        |  CAST(max(o_orderkey) AS BIGINT) AS max_key
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_snapshot_evolve" ->
      """WITH ext AS (
        |  SELECT o_orderkey + 10000000 AS o_orderkey, o_custkey,
        |    o_orderpriority, o_orderkey * 2 AS o_bonus
        |  FROM orders WHERE o_orderkey % 50 = 0
        |), unioned AS (
        |  SELECT o_orderkey, o_custkey, o_orderpriority,
        |    CAST(NULL AS BIGINT) AS o_bonus
        |  FROM orders
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey, o_orderpriority, o_bonus FROM ext
        |)
        |SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(o_bonus) AS BIGINT) AS n_bonus,
        |  CAST(sum(COALESCE(o_bonus, 0)) AS BIGINT) AS bonus_sum,
        |  CAST(sum(o_custkey) AS BIGINT) AS cust_sum
        |FROM unioned GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "q_snapshot_pushdown" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
        |  CAST(max(event_id) AS BIGINT) AS max_id
        |FROM events
        |WHERE event_id BETWEEN 100 AND 299 AND event_type <> 'error'
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_snapshot_bloom" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
        |  CAST(max(o_orderkey) AS BIGINT) AS max_key
        |FROM orders WHERE o_orderkey IN (1, 7, 32, 33, 34)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_snapshot_partevo" ->
      """WITH ext AS (
        |  SELECT o_orderkey + 7000000 AS o_orderkey, o_custkey,
        |    o_totalprice, o_orderpriority
        |  FROM orders WHERE o_custkey <= 5
        |), unioned AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
        |  FROM orders
        |  UNION ALL SELECT * FROM ext
        |)
        |SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
        |  CAST(max(o_orderkey) AS BIGINT) AS max_key
        |FROM unioned WHERE o_orderpriority IN ('1-URGENT', '3-MEDIUM')
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_snapshot_zorder" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
        |  CAST(max(event_id) AS BIGINT) AS max_id
        |FROM events
        |WHERE ts BETWEEN TIMESTAMP '2024-01-08 00:00:00'
        |  AND TIMESTAMP '2024-01-16 00:00:00' AND user_id <= 4
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_snapshot_merge_into" ->
      """WITH src AS (
        |  SELECT o_orderkey, o_totalprice * 2 AS o_totalprice
        |  FROM orders WHERE o_orderkey % 131 = 0
        |  UNION ALL
        |  SELECT (SELECT max(o_orderkey) FROM orders) + i AS o_orderkey,
        |    123.45 AS o_totalprice
        |  FROM (SELECT unnest(generate_series(1, 5)) AS i)
        |), merged AS (
        |  SELECT t.o_orderkey,
        |    CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_totalprice
        |         ELSE t.o_totalprice END AS o_totalprice,
        |    t.o_orderpriority
        |  FROM orders t LEFT JOIN src s ON t.o_orderkey = s.o_orderkey
        |  WHERE NOT (s.o_orderkey IS NOT NULL AND s.o_totalprice < 100000.0)
        |  UNION ALL
        |  SELECT s.o_orderkey, s.o_totalprice, '1-URGENT' AS o_orderpriority
        |  FROM src s
        |  WHERE s.o_orderkey > (SELECT max(o_orderkey) FROM orders)
        |    AND s.o_totalprice > 0
        |)
        |SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
        |  CAST(max(o_orderkey) AS BIGINT) AS max_key
        |FROM merged GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_snapshot_ref" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
        |  CAST(max(o_orderkey) AS BIGINT) AS max_key
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_snapshot_bucketed" ->
      """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  CAST(max(o_orderkey) AS BIGINT) AS max_key
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q_bucketed_sorted" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  CAST(max(l_orderkey) AS BIGINT) AS max_key
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_snapshot_changes" ->
      """WITH fresh AS (
        |  SELECT (SELECT max(o_orderkey) FROM orders) + i AS o_orderkey,
        |    123.45 AS o_totalprice
        |  FROM (SELECT unnest(generate_series(1, 5)) AS i)
        |), changes AS (
        |  SELECT 'insert' AS t, 2 AS v, o_orderkey, o_totalprice FROM fresh
        |  UNION ALL
        |  SELECT 'delete', 3, o_orderkey, o_totalprice
        |  FROM orders WHERE o_orderkey % 97 = 0
        |  UNION ALL
        |  SELECT 'insert', 3, o_orderkey, o_totalprice + 1000.0
        |  FROM orders WHERE o_orderkey % 97 = 0
        |  UNION ALL
        |  SELECT 'delete', 4, o_orderkey, o_totalprice
        |  FROM orders
        |  WHERE o_orderkey % 101 = 0 AND o_orderkey BETWEEN 1000 AND 5000
        |)
        |SELECT t AS _change_type, CAST(v AS BIGINT) AS _commit_version,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
        |  CAST(max(o_orderkey) AS BIGINT) AS max_key
        |FROM changes GROUP BY t, v ORDER BY _commit_version, _change_type""".stripMargin)
}
