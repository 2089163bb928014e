package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.parquet.column.values.bloomfilter.BlockSplitBloomFilter
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.metadata.{ColumnChunkMetaData,
  ParquetMetadata}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, Filter,
  GreaterThanOrEqual, In, LessThanOrEqual, StringStartsWith}
import org.apache.spark.sql.graftbridge.Bridge

import graft.sources.StatsSkipping

/** Versioned parquet table store with time-travel reads — the
  * commit-log model (a log of add/remove file actions whose replay
  * at version v IS the snapshot) that every lakehouse table format
  * builds on, re-expressed with this engine's primitives. It unifies
  * the maintenance family under snapshot isolation: [[Compaction]]
  * rewrites files, [[Layout.recluster]] repairs layout, and
  * [[Partitioned.expireSlices]] drops slices — here each of those
  * becomes a new VERSION, old snapshots stay readable until
  * [[TableStore.vacuum]] retires them, and a reader pinned to v is
  * immune to every later rewrite.
  *
  * Layout under `root/`:
  *  - `data/v<N>-<attempt>/part-*.parquet` — immutable data files in
  *    attempt-unique dirs; a commit only ever ADDS files, never
  *    mutates one, and racing writers can never share a dir;
  *  - `_log/v=<N>/` — one parquet dir per version holding
  *    (path, action, n_rows) rows; hive-style naming makes the log
  *    itself one partitioned table (`spark.read.parquet(_log)`), the
  *    [[FooterStats]] "manifest is a table" posture.
  *
  * Commit protocol (optimistic, multi-writer-safe): data files land
  * first in an ATTEMPT-UNIQUE directory, then the staged log dir is
  * RENAMED to `_log/v=<N>` — the rename is the commit point, so a
  * crash before it leaves only unreferenced data files (invisible to
  * readers, swept by vacuum) and never a torn snapshot. Version
  * numbers are claimed optimistically: a writer that loses the
  * `v=<N>` race gets a [[CommitConflictException]]. APPENDS retry at
  * the next version automatically — their file sets are disjoint by
  * construction (nothing to re-validate, the reference's concurrent
  * `ON CONFLICT` upsert posture re-expressed as commits), so
  * concurrent appenders serialize into a linear history with no data
  * rewrite. LAYOUT rewrites (compact/optimize — content-identical by
  * construction) REBASE on a lost race: they re-validate that their
  * remove-set is still live and delete-vector-free at the new latest
  * and re-commit at the next version, so maintenance cannot starve
  * under a streaming sink's continuous appends
  * ([[commitLayoutRebasing]]). Content-CHANGING snapshot-dependent
  * ops (overwrite/delete/restore) computed their removes from a
  * specific latest version, so a lost race surfaces loudly as a
  * ConcurrentModificationException telling the caller to re-read —
  * never a silent clobber.
  *
  * Scale shape at 100 TB: reads resolve the file list from the LOG
  * (metadata-sized — actions, not bytes), never from an FS tree
  * walk; the per-commit log is proportional to files touched, and
  * [[vacuum]] writes a full-manifest checkpoint at the new horizon
  * (Delta's checkpoint move) so replay cost stays bounded by the
  * retention window instead of growing with table age. Driver-side
  * work is bounded by file count — the same planning-collect budget
  * as [[Compaction]] and [[FooterStats]].
  */
object TableStore {

  private val Log = "_log"
  private val Data = "data"

  private def fsOf(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** File size for maintenance planning: the log-carried length when
    * the commit recorded one (zero driver IO — the 100 TB path), one
    * stat as the pre-upgrade fallback. */
  private[graft] def sizeOf(spark: SparkSession, root: String,
                     e: FileEntry): Long =
    if (e.bytes > 0) e.bytes
    else fsOf(spark, new Path(root))
      .getFileStatus(new Path(resolve(root, e.path))).getLen

  /** Log paths are root-relative for files the table OWNS; a
    * [[shallowClone]] re-references its SOURCE's files by absolute
    * path (leading slash or URI scheme). This is the single place
    * that knows the difference — every read, prune, rewrite and
    * vacuum resolves through it, so clones behave identically to
    * owned tables everywhere. (Vacuum's data sweep walks only the
    * clone's own data dir, so external files are structurally
    * un-deletable from the clone side.) */
  private[graft] def resolve(root: String, path: String): String =
    if (path.startsWith("/") || path.contains("://")) path
    else s"$root/$path"

  /** Thrown when an optimistic commit loses the version race: another
    * writer published `v=N` first. Appends catch it and retry at the
    * next version (their data dirs are attempt-unique, so nothing was
    * clobbered); snapshot-dependent ops surface it loudly. */
  final class CommitConflictException(msg: String)
    extends java.io.IOException(msg)

  /** Committed versions, ascending (staged `.tmp` dirs excluded by
    * the `v=` naming contract).
    *
    * The common call is PURE — one directory listing, zero mutation,
    * so read paths work on read-only storage and concurrent readers
    * never race each other. Only when a crashed checkpoint swap's
    * marker (`.old_ckpt_vN` with `v=N` missing) is actually present
    * does it repair — and then with CHECKED renames: a concurrent
    * recoverer winning the race is tolerated (the restored log is
    * byte-identical either way), and a loser whose rename nested the
    * marker inside the published dir (Hadoop rename-into-existing-dir
    * semantics) sweeps the stale nested copy instead of silently
    * leaving it. */
  def versions(spark: SparkSession, root: String): Seq[Long] = {
    val logRoot = new Path(s"$root/$Log")
    val fs = fsOf(spark, logRoot)
    if (!fs.exists(logRoot)) return Seq.empty
    val entries = fs.listStatus(logRoot).toSeq
    // recover a checkpoint swap that crashed between its two renames
    // (the Upsert.recoverCrashedSwap posture): .old_ckpt_vN present
    // with v=N missing means the new checkpoint never published —
    // restore the original log so no snapshot loses files
    val markers = entries.filter(
      _.getPath.getName.startsWith(".old_ckpt_v"))
    markers.foreach { o =>
      val n = o.getPath.getName.stripPrefix(".old_ckpt_v")
      val target = new Path(s"$root/$Log/v=$n")
      if (!fs.exists(target)) {
        if (!fs.rename(o.getPath, target))
          // rename refused: either a concurrent recoverer already
          // restored the log (tolerated — same content) or storage
          // is read-only mid-crash-window (genuinely unrecoverable
          // here; fail rather than read a store missing version n)
          require(fs.exists(target),
            s"cannot recover crashed checkpoint swap at ${o.getPath}")
      } else
        // swap completed but its marker cleanup crashed: delete the
        // stale backup NOW — a later vacuum dropping v=n must not
        // let this marker resurrect a log whose remove-actions are
        // already gone
        fs.delete(o.getPath, true)
      // a racer that called rename AFTER the winner published moved
      // its source INSIDE v=N (Hadoop rename-into-existing-dir
      // semantics): the nested dot-dir is invisible to the parquet
      // reader but stale — sweep it
      val nested = new Path(target, o.getPath.getName)
      if (fs.exists(nested)) fs.delete(nested, true)
    }
    // no marker: the listing already in hand is current — don't list
    // twice on the hot read path
    val current =
      if (markers.isEmpty) entries else fs.listStatus(logRoot).toSeq
    current
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("v="))
      .map(_.getPath.getName.stripPrefix("v=").toLong).sorted
  }

  /** One live data file as the log records it: row count plus the
    * per-column [min, max] captured at COMMIT time for the columns
    * the writer declared (`statsCols`) — Delta's stats-in-log move.
    * Pruning then reads the LOG ALONE: zero per-file IO, which is
    * what survives a million-file table (a footer open per file is
    * itself the listing bottleneck the log exists to avoid). */
  final case class FileEntry(path: String, rows: Long,
                             mins: Map[String, Long],
                             maxs: Map[String, Long],
                             smins: Map[String, String] = Map.empty,
                             smaxs: Map[String, String] = Map.empty,
                             bytes: Long = 0L)

  /** True when the column's stats can be read as plain signed
    * integers/floats: no logical annotation, or a signed-int one.
    * DECIMAL/DATE/TIME(STAMP) annotate INT32/INT64 storage — their
    * raw footer integers are unscaled/encoded, and interpreting them
    * as values would plan pruning from lies. */
  private def plainStatsType(
      pt: org.apache.parquet.schema.PrimitiveType): Boolean = {
    val ann = pt.getLogicalTypeAnnotation
    ann == null || (ann match {
      case i: org.apache.parquet.schema.LogicalTypeAnnotation
          .IntLogicalTypeAnnotation => i.isSigned
      case _ => false
    })
  }

  /** True when the column is UTF-8 string storage: BINARY physical
    * type with the String logical annotation. Its footer min/max are
    * ordered by parquet's UNSIGNED byte comparator — which is exactly
    * Spark's own string order (`UTF8String.compareTo` is unsigned
    * byte-wise over UTF-8), so log-carried string bounds prune
    * consistently with the residual `>=`/`<=`/`startsWith` filter. */
  private def stringStatsType(
      pt: org.apache.parquet.schema.PrimitiveType): Boolean =
    pt.getPrimitiveTypeName ==
      org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.BINARY &&
      pt.getLogicalTypeAnnotation.isInstanceOf[
        org.apache.parquet.schema.LogicalTypeAnnotation
          .StringLogicalTypeAnnotation]

  /** Log-carried string bounds are TRUNCATED so a long-key table
    * (URLs run to kilobytes) never bloats the metadata path the log
    * exists to keep small. Soundness under truncation is asymmetric:
    * a prefix only ever SHRINKS a string in byte order, so the min
    * side truncates freely; the max side needs a successor — bump the
    * rightmost ASCII char below 0x7f and drop the tail. */
  private val StatsTruncChars = 64

  /** Sound truncated lower bound: a prefix never exceeds the value.
    * Never cuts a surrogate pair in half — an unpaired surrogate
    * doesn't round-trip UTF-8 and would corrupt the comparison. */
  private def truncLower(s: String): String =
    if (s.length <= StatsTruncChars) s
    else if (Character.isHighSurrogate(s.charAt(StatsTruncChars - 1)))
      s.substring(0, StatsTruncChars - 1)
    else s.substring(0, StatsTruncChars)

  /** Sound truncated upper bound, or None when one can't be formed
    * (no ASCII char below 0x7f in the kept prefix): the caller then
    * omits the column's stats for the file — unskippable, never
    * wrong. The bumped char is ASCII, so the result is a valid
    * string strictly greater than every string sharing the prefix. */
  private def truncUpper(s: String): Option[String] =
    if (s.length <= StatsTruncChars) Some(s)
    else {
      val p = s.substring(0, StatsTruncChars)
      val i = p.lastIndexWhere(c => c < 0x7f)
      if (i < 0) None
      else Some(p.substring(0, i) + (p.charAt(i) + 1).toChar)
    }

  /** Spark's string order (unsigned UTF-8 bytes) — the ONLY order in
    * which the log's string bounds may be compared. Java's
    * `String.compareTo` orders UTF-16 code units, which disagrees
    * beyond the BMP; using it here would skip files that match. */
  private[graft] def strLe(a: String, b: String): Boolean =
    org.apache.spark.unsafe.types.UTF8String.fromString(a).compareTo(
      org.apache.spark.unsafe.types.UTF8String.fromString(b)) <= 0

  /** Data-file footer memo, keyed by resolved path and byte length.
    * A footer read once — at write time by [[writeData]], or by the
    * first read that plans over the file — serves every later prune
    * and schema resolution with zero IO. Unlike [[logDirCache]], an
    * entry is never re-checked against a listing: data files are
    * written once into attempt-unique dirs and never rewritten in
    * place, so a (path, length) names one content for the JVM's life.
    * Bounded by entry count, not bytes (a footer grows with row groups
    * times columns): cleared wholesale past 4096 files. */
  private val footerCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Long), ParquetMetadata]()

  /** The footer of data file `path` whose length is `len` (the log's
    * `bytes`; 0 for pre-upgrade entries), through [[footerCache]]. */
  private def footerOf(spark: SparkSession, path: String,
                       len: Long): ParquetMetadata = {
    val key = (path, len)
    val hit = footerCache.get(key)
    if (hit != null) return hit
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
      new Path(path), spark.sparkContext.hadoopConfiguration))
    val footer = try reader.getFooter finally reader.close()
    if (footerCache.size > 4096) footerCache.clear()
    footerCache.put(key, footer)
    footer
  }

  /** Rows + per-column [min, max] per declared stats column, from
    * file `f`'s footer. Columns dispatch on their PHYSICAL storage:
    * plain integers ride the long maps, UTF-8 strings ride the
    * (truncated) string maps, and anything else — annotated storage
    * whose raw footer values would be lies — stays a loud error. */
  private def footerInfo(footer: ParquetMetadata, f: String,
                         statsCols: Seq[String])
      : (Long, Map[String, Long], Map[String, Long],
         Map[String, String], Map[String, String]) = {
    import scala.jdk.CollectionConverters._
    val blocks = footer.getBlocks.asScala.toSeq
    val rows = blocks.map(_.getRowCount).sum
    val nums = Map.newBuilder[String, (Long, Long)]
    val strs = Map.newBuilder[String, (String, String)]
    statsCols.foreach { c =>
      val chunks = blocks.flatMap(_.getColumns.asScala)
        .filter(_.getPath.toDotString == c)
      require(rows == 0 || chunks.nonEmpty, s"stats column $c not in $f")
      val isString = chunks.forall(ch => stringStatsType(ch.getPrimitiveType))
      if (!isString)
        chunks.foreach(ch => require(plainStatsType(ch.getPrimitiveType),
          s"stats column $c in $f is logically annotated " +
            s"${ch.getPrimitiveType.getLogicalTypeAnnotation} — its raw " +
            "footer integers are unscaled/encoded and would plan " +
            "pruning from misinterpreted values; declare a plain " +
            "integer or string column instead"))
      val ss = chunks.map(_.getStatistics)
        .filter(st => st != null && st.hasNonNullValue)
      // an all-null column has no range — omit the key; pruning
      // treats the file as unskippable for that column
      if (ss.nonEmpty && isString) {
        val vals = ss.map { st =>
          (st.genericGetMin, st.genericGetMax) match {
            case (a: Binary, b: Binary) =>
              (a.toStringUsingUTF8, b.toStringUsingUTF8)
            case other => throw new IllegalArgumentException(
              s"stats column $c in $f is not string-typed: $other")
          }
        }
        val mn = vals.map(_._1).reduce((a, b) => if (strLe(a, b)) a else b)
        val mx = vals.map(_._2).reduce((a, b) => if (strLe(a, b)) b else a)
        truncUpper(mx).foreach(u => strs += c -> (truncLower(mn), u))
      } else if (ss.nonEmpty) {
        val vals = ss.map { st =>
          (st.genericGetMin, st.genericGetMax) match {
            case (a: java.lang.Number, b: java.lang.Number) =>
              (a.longValue, b.longValue)
            case other => throw new IllegalArgumentException(
              s"stats column $c in $f is not integer-typed: $other")
          }
        }
        nums += c -> (vals.map(_._1).min, vals.map(_._2).max)
      }
    }
    val nr = nums.result(); val sr = strs.result()
    (rows, nr.map { case (c, r) => c -> r._1 },
      nr.map { case (c, r) => c -> r._2 },
      sr.map { case (c, r) => c -> r._1 },
      sr.map { case (c, r) => c -> r._2 })
  }

  /** Write `df` into an attempt-unique `data/v<n>-<nonce>` dir and
    * return one [[FileEntry]] per produced file — row counts and
    * declared-column ranges from footers, zero data IO.
    *
    * The nonce is what makes concurrent writers safe: version n is
    * unreserved until the log rename, so two writers may be racing
    * toward the same n — with unique dirs the loser's files can never
    * clobber files the winner's log references, and the loser simply
    * re-commits the SAME files under the next version (appends) or
    * abandons them to the vacuum sweep (conflicted snapshot ops,
    * crashes). */
  private[graft] def writeData(df: DataFrame, root: String, n: Long,
                               statsCols: Seq[String],
                               bloomCols: Seq[String] = Nil): Seq[FileEntry] = {
    val spark = df.sparkSession
    val attempt = java.util.UUID.randomUUID.toString.take(8)
    val sub = s"v$n-$attempt"
    val dir = new Path(s"$root/$Data/$sub")
    // bloom sizing does NOT follow per-file NDV: with no expected NDV
    // declared, parquet allocates the whole max.bytes cap for every
    // bloom column, so each bloom is 16 MB however few rows the file
    // holds. The cap was raised from parquet's default 1 MB because
    // that saturates around ~1M distinct keys per file (measured at
    // the sf10 gate: fpp collapsed to ~1 and pruning died); 16 MB
    // holds fpp through ~10M-key files. Lookups never read a bloom
    // whole: `prunedFiles` reads one 32-byte block per probed key
    val writer0 =
      if (bloomCols.isEmpty) df.write.mode("overwrite")
      else df.write.mode("overwrite")
        .option("parquet.bloom.filter.max.bytes", (16L << 20).toString)
    val writer = bloomCols.foldLeft(writer0) {
      (w, c) => w.option(s"parquet.bloom.filter.enabled#$c", "true")
        .option(s"parquet.bloom.filter.fpp#$c", "0.001")
    }
    writer.parquet(dir.toString)
    // first-touch schema anchor: keeps all-empty stores readable
    // (the [[Partitioned.anchorSchema]] posture). Published by
    // RENAME so concurrent first-touch writers can't tear it — the
    // first rename wins, losers drop their (identical-schema) copy
    val anchor = new Path(s"$root/_schema")
    val afs = fsOf(spark, anchor)
    if (!afs.exists(anchor)) {
      val stagedAnchor = new Path(s"$root/.schema_tmp-$attempt")
      writeSchemaDir(spark, stagedAnchor, df.schema)
      if (afs.rename(stagedAnchor, anchor)) {
        // rename-into-existing-dir nests the source: sweep if we lost
        val nested = new Path(anchor, stagedAnchor.getName)
        if (afs.exists(nested)) afs.delete(nested, true)
      } else afs.delete(stagedAnchor, true)
    }
    val fs = fsOf(spark, dir)
    fs.listStatus(dir).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .sortBy(_.getPath.getName)
      .map { s =>
        val rel = s"$Data/$sub/${s.getPath.getName}"
        val path = resolve(root, rel)
        val (rows, mins, maxs, smins, smaxs) =
          footerInfo(footerOf(spark, path, s.getLen), path, statsCols)
        // the listing already holds each file's length — carrying it
        // in the log makes maintenance PLANNING (compact/optimize
        // sizing) zero-IO instead of one driver stat per live file,
        // the call pattern that melts at a million files
        FileEntry(rel, rows, mins, maxs, smins, smaxs, s.getLen)
      }
      // a zero-row part (empty write task) carries no row groups —
      // it contributes nothing to any snapshot, so never log it
      .filter(_.rows > 0)
  }

  /** Stage the action rows and RENAME into place — the commit point.
    * `batchId` rides INSIDE the commit (the Delta txn-action move):
    * a streaming batch is recorded exactly when its files are, so a
    * retry after any crash sees either both or neither. */
  private def commitLog(spark: SparkSession, root: String, n: Long,
                        adds: Seq[FileEntry],
                        removes: Seq[String],
                        batchId: Option[Long] = None,
                        marker: Option[String] = None,
                        metaRows: Seq[(String, String, String)] = Nil)
      : Unit = {
    val none = Map.empty[String, Long]
    val snone = Map.empty[String, String]
    val noMeta = None: Option[String]
    // commit-TYPE markers ride as inert rows (the vacuum "txn"
    // posture — liveAt filters on "add", so they never affect a
    // snapshot): "layout" = content-identical rewrite (compact/
    // optimize; an incremental reader skips it), "rewrite" =
    // content-CHANGING non-append (delete/restore; an incremental
    // reader must resync, loudly). metaRows carry table METADATA
    // as (name, action, payload) — constraints today — versioned
    // exactly like data actions.
    val rows =
      adds.map(e => LogRow(n, e.path, "add", e.rows, batchId,
          e.mins, e.maxs, e.smins, e.smaxs, noMeta, e.bytes)) ++
        removes.map(p => LogRow(n, p, "remove", 0L, batchId, none,
          none, snone, snone, noMeta, 0L)) ++
        marker.map(m => LogRow(n, "", m, 0L, None, none, none,
          snone, snone, noMeta, 0L)) ++
        metaRows.map { case (name, action, payload) =>
          LogRow(n, name, action, 0L, None, none, none,
            snone, snone, Some(payload), 0L) } ++
        // a batch id normally rides on the add/remove rows; a commit
        // with NEITHER (e.g. an empty-content overwrite from an
        // incremental tick) must still record it — losing the id
        // would replay the batch forever (inert txn row, the vacuum
        // checkpoint posture)
        (if (batchId.nonEmpty && adds.isEmpty && removes.isEmpty)
           Seq(LogRow(n, "", "txn", 0L, batchId, none, none, snone,
             snone, noMeta, 0L))
         else Nil)
    // the drop-tombstone fence: a store whose v1 is a `dropped`
    // marker is being recursively deleted — any commit racing past it
    // (a lost-v1 appender retrying at v2) must refuse, or its data
    // lands in a directory the dropper is about to erase. Checked
    // only on the v1→v2 transition (every writer's first step past
    // the tombstone's slot), so a normal store pays one tiny log read
    // once in its lifetime.
    if (n == 2) {
      val v1 = new Path(s"$root/$Log/v=1")
      val v1fs = fsOf(spark, v1)
      if (v1fs.exists(v1)) {
        if (readLogDir(spark, root, 1L).exists(_.action == "dropped"))
          throw new IllegalStateException(
            s"$root was DROPPED — the root is being retired; re-create " +
              "the store instead of writing to it")
      } else
        // a committer at v2 read versions=[1] moments ago; v1 gone now
        // means the DROP's recursive delete ran in between — landing
        // this commit would resurrect a gapped, anchor-less store out
        // of the erased directory. (A vacuum never retires the only
        // version, so a legitimate v2 commit always still sees v1.)
        throw new IllegalStateException(
          s"$root has no version 1 — the store was dropped while this " +
            "commit was in flight; re-create it instead")
    }
    // attempt-unique staging: concurrent committers racing toward the
    // same n never share (or clobber) a staging dir
    val attempt = java.util.UUID.randomUUID.toString.take(8)
    val staged = new Path(s"$root/$Log/.tmp_v$n-$attempt")
    val target = new Path(s"$root/$Log/v=$n")
    val fs = fsOf(spark, staged)
    writeLogFile(spark, staged, rows)
    def conflict(): Nothing = {
      fs.delete(staged, true)
      throw new CommitConflictException(
        s"version $n already committed at $root — concurrent writer")
    }
    if (fs.exists(target)) conflict()
    if (!fs.rename(staged, target)) {
      // refused rename: the target appeared between check and rename
      // (lost race) or genuine IO failure
      if (fs.exists(target)) conflict()
      throw new java.io.IOException(s"cannot commit version $n at $root")
    }
    // rename(src, existing-dir) can MOVE src INSIDE the target and
    // still return true (Hadoop semantics — the TOCTOU the r10
    // advisory called out): a losing commit would then report success
    // while its log rows sit invisible in a dot-prefixed nested dir.
    // Verify the staged dir BECAME the target: no nested copy, and
    // the target directly contains log part files.
    val nested = new Path(target, staged.getName)
    if (fs.exists(nested)) { fs.delete(nested, true); conflict() }
    require(fs.listStatus(target).exists(s =>
      s.isFile && s.getPath.getName.endsWith(".parquet")),
      s"commit $n at $root published no log files — torn commit")
  }

  /** Commit for SNAPSHOT-DEPENDENT operations (adds/removes computed
    * from a specific latest version): a lost version race cannot be
    * silently retried — the new latest may invalidate what this op
    * read — so it surfaces loudly with the remedy. The abandoned
    * attempt's data files are unreferenced and vacuum-swept. */
  private[graft] def commitExclusive(spark: SparkSession, root: String,
                                     n: Long, adds: Seq[FileEntry],
                                     removes: Seq[String],
                                     marker: Option[String] = None,
                                     batchId: Option[Long] = None,
                                     metaRows: Seq[(String, String, String)]
                                       = Nil): Unit =
    try commitLog(spark, root, n, adds, removes, batchId, marker,
      metaRows)
    catch { case e: CommitConflictException =>
      throw new java.util.ConcurrentModificationException(
        s"concurrent writer committed version $n at $root while this " +
          "operation was computing from the previous snapshot — " +
          "re-read and retry", e)
    }

  /** Commit for LAYOUT maintenance (content-identical rewrites —
    * compact / small-file fold / recluster): the adds replace exactly
    * `removes`' content, so a lost version race is REBASED instead of
    * abandoned. Appends already auto-retry; without this, a
    * compaction that loses to the streaming sink's continuous appends
    * does its full rewrite IO and then throws it away — maintenance
    * starves under the sink's NORMAL state. Rebase validity is
    * exactly the content-identity claim re-checked at the new latest:
    * every removed path must still be LIVE (nobody else rewrote,
    * deleted or compacted it) and DELETE-VECTOR-FREE (a merge-on-read
    * delete landing on a source file would make the raw-content
    * rewrite resurrect its deleted rows). A racer that passes both
    * checks — a pure append, a metadata commit, a rewrite of DISJOINT
    * files — composes with this rewrite in either order, so the
    * rebased commit publishes the same table content the two ops
    * would produce serially. Anything else still surfaces loudly as
    * ConcurrentModificationException: rebasing is for provably
    * disjoint races only, never a silent clobber. Returns the version
    * actually committed. */
  private[graft] def commitLayoutRebasing(spark: SparkSession,
                                          root: String, first: Long,
                                          adds: Seq[FileEntry],
                                          removes: Seq[String]): Long = {
    var n = first
    var attempts = 0
    while (attempts < 64) {
      try {
        commitLog(spark, root, n, adds, removes,
          marker = Some("layout"))
        return n
      } catch { case e: CommitConflictException =>
        attempts += 1
        val latest = versions(spark, root).lastOption.getOrElse(0L)
        val live = liveAt(spark, root, latest)
        def refuse(why: String): Nothing =
          throw new java.util.ConcurrentModificationException(
            s"layout rewrite at $root lost the version-$n race and " +
              s"cannot rebase: $why — re-plan from version $latest", e)
        val liveP = live.map(_.path).toSet
        val lost = removes.filterNot(liveP.contains)
        if (lost.nonEmpty)
          refuse(s"a concurrent writer removed ${lost.size} of its " +
            s"source files (e.g. ${lost.head})")
        if (dvsAt(spark, root, latest,
            live.filter(f => removes.contains(f.path))).nonEmpty)
          refuse("a concurrent merge-on-read delete vector landed on " +
            "a source file; rewriting its raw content would " +
            "resurrect the deleted rows")
        n = math.max(n + 1, latest + 1)
      }
    }
    throw new java.io.IOException(
      s"layout rewrite lost the commit race $attempts times at $root " +
        "— livelocked against a faster writer")
  }

  /** Commit for CONTENT-CHANGING row-level rewrites (DELETE / UPDATE /
    * MERGE from [[Dml]]): a lost version race REBASES when the racer
    * is provably disjoint, instead of abandoning the whole rewrite —
    * the [[commitLayoutRebasing]] argument applied to DML: under the
    * streaming sink's continuous appends, a keyed DELETE that loses
    * every race starves even though the appended rows provably cannot
    * match its predicate. Unlike a layout rewrite, the adds here are
    * NOT content-identical to the removes, so disjointness needs one
    * more screen beyond live-sources + no-DVs: SERIALIZABILITY over
    * the racer's new content. `screenFilters` carries the predicate's
    * translated necessary conditions (each a conjunct the full
    * predicate implies); a concurrently ADDED file whose log stats
    * the filters cannot REFUTE might hold a row the op should have
    * seen — serial execution would differ — so the rebase refuses
    * loudly (the caller's remedy: re-read and re-run). An EMPTY
    * filter set therefore means "any concurrent add refuses" — the
    * conservative default for untranslatable predicates,
    * unconditional ops, and not-matched-by-source merges.
    *
    * Remaining refusals, each a real serial-inequivalence:
    *  - a removed (touched) path no longer live: the racer rewrote or
    *    deleted the very rows this op rewrote;
    *  - ANY delete-vector action in the race window: a MoR delete
    *    changes logical content without moving file liveness, and
    *    this op's scans read raw bytes;
    *  - a constraint change in the window: the op validated its
    *    rewritten rows against the constraints it READ.
    * Returns the version actually committed. */
  private[graft] def commitRewriteRebasing(
      spark: SparkSession, root: String, first: Long,
      adds: Seq[FileEntry], removes: Seq[String],
      screenFilters: Seq[org.apache.spark.sql.sources.Filter],
      marker: Option[String] = Some("rewrite")): Long = {
    val base = first - 1
    var n = first
    var attempts = 0
    while (attempts < 64) {
      try {
        commitLog(spark, root, n, adds, removes, marker = marker)
        return n
      } catch { case e: CommitConflictException =>
        attempts += 1
        val latest = versions(spark, root).lastOption.getOrElse(0L)
        def refuse(why: String): Nothing =
          throw new java.util.ConcurrentModificationException(
            s"row-level rewrite at $root lost the version-$n race " +
              s"and cannot rebase: $why — re-read version $latest " +
              "and re-run the operation", e)
        val live = liveAt(spark, root, latest)
        val liveP = live.map(_.path).toSet
        val lost = removes.filterNot(liveP.contains)
        if (lost.nonEmpty)
          refuse(s"a concurrent writer removed ${lost.size} of its " +
            s"touched files (e.g. ${lost.head})")
        // any dv/constraint action in (base, latest] — metadata-sized
        val windowMeta = readLogTo(spark, root, latest)
          .find(r => r.v > base &&
            Set("dv", "constraint", "constraint_drop")(r.action))
        windowMeta.foreach(m =>
          refuse(s"a concurrent ${m.action} " +
            "action landed in the race window; this rewrite's scans " +
            "and validation predate it"))
        // serializability screen: every file the racers ADDED must be
        // REFUTED by the predicate's necessary conditions
        val baseP =
          if (versions(spark, root).contains(base))
            liveAt(spark, root, base).map(_.path).toSet
          else Set.empty[String]
        val newAdds = live.filterNot(f => baseP.contains(f.path))
        val unrefuted =
          graft.sources.StatsSkipping.prune(newAdds, screenFilters)
        if (unrefuted.nonEmpty)
          refuse(s"${unrefuted.size} concurrently added file(s) " +
            s"(e.g. ${unrefuted.head.path}) might hold rows the " +
            "predicate matches — serial execution could differ")
        // the empty-filter contract ("refuse on ANY live-set change")
        // must cover REMOVES too: a racer can commit removes with zero
        // adds (a COW DELETE whose matched files rewrite to zero rows
        // drops the empty parts), and for a subquery predicate or a
        // self-reading MERGE source the match set depends on rows in
        // files this op never touched — removing them changes the
        // subquery/source result, so serial execution could differ.
        // With non-empty filters removes stay irrelevant: the
        // predicate is per-row and a vanished row this op didn't
        // touch can't change which of ITS rows match.
        if (screenFilters.isEmpty) {
          val goneElsewhere = baseP -- liveP -- removes
          if (goneElsewhere.nonEmpty)
            refuse(s"${goneElsewhere.size} file(s) beyond this op's " +
              s"touched set (e.g. ${goneElsewhere.head}) were " +
              "concurrently removed — a subquery/self-reading/" +
              "unconditional operation's match set could depend on " +
              "their rows, so serial execution could differ")
        }
        n = math.max(n + 1, latest + 1)
      }
    }
    throw new java.io.IOException(
      s"row-level rewrite lost the commit race $attempts times at " +
        s"$root — livelocked against a faster writer")
  }

  // ------------------------------------------------------------------
  // Driver-side log IO (guide §5: the log is metadata-sized BY
  // CONTRACT — actions, not data — so replaying it through a Spark
  // job paid ~100-300 ms of scheduler+shuffle latency per snapshot
  // resolution for work a driver loop does in microseconds. Every
  // gate operation used to cost 2-3 such jobs (liveAt window +
  // dvsAt + declaredSchemaAt) before its first byte of data IO; at
  // cluster scale the same jobs serialize on the driver anyway, so
  // DRIVER-side parsing is strictly better at every scale. Delta
  // reads its log on the driver for the same reason. Files are
  // parsed with parquet-hadoop directly; the on-disk format is
  // unchanged (`spark.read.parquet(_log)` keeps working — the
  // "manifest is a table" posture).
  // ------------------------------------------------------------------

  /** One log action row, driver-parsed — the same shape logFrame
    * exposed, with `v` from the hive-style dir name. */
  private[graft] final case class LogRow(
      v: Long, path: String, action: String, nRows: Long,
      batchId: Option[Long],
      mins: Map[String, Long], maxs: Map[String, Long],
      smins: Map[String, String], smaxs: Map[String, String],
      meta: Option[String], bytes: Long) {
    def toEntry: FileEntry =
      FileEntry(path, nRows, mins, maxs, smins, smaxs, bytes)
  }

  private def groupStr(g: org.apache.parquet.example.data.Group,
                       field: String): Option[String] =
    if (g.getType.containsField(field) &&
        g.getFieldRepetitionCount(field) > 0)
      Some(g.getString(field, 0))
    else None

  private def groupLong(g: org.apache.parquet.example.data.Group,
                        field: String): Option[Long] =
    if (g.getType.containsField(field) &&
        g.getFieldRepetitionCount(field) > 0)
      Some(g.getLong(field, 0))
    else None

  /** Parse a Spark-shaped MAP group (repeated key_value {key, value})
    * into a Scala map; absent/null field → empty. */
  private def groupMap[V](g: org.apache.parquet.example.data.Group,
                          field: String,
                          value: org.apache.parquet.example.data.Group
                            => Option[V]): Map[String, V] =
    if (!g.getType.containsField(field) ||
        g.getFieldRepetitionCount(field) == 0) Map.empty
    else {
      val m = g.getGroup(field, 0)
      if (!m.getType.containsField("key_value")) Map.empty
      else (0 until m.getFieldRepetitionCount("key_value")).flatMap { i =>
        val kv = m.getGroup("key_value", i)
        value(kv).map(v => kv.getString("key", 0) -> v)
      }.toMap
    }

  /** Parsed-log memo, content-addressed: keyed by the version dir's
    * path and its LISTING SIGNATURE (file names + lengths + mtimes),
    * so a checkpoint swap replacing `v=N` re-parses and a vacuumed
    * dir simply stops being asked for. This caches the engine's own
    * immutable commit METADATA within one JVM (the Delta snapshot-
    * cache posture) — never query results: every bench/oracle read
    * still resolves files from the on-disk log and scans data fresh.
    * Bounded: cleared wholesale past 4096 dirs. */
  private val logDirCache = new java.util.concurrent.ConcurrentHashMap[
    String, (String, Seq[LogRow])]()

  /** Read every row of one committed log version dir, driver-side.
    * Per-file schema is honoured (pre-upgrade logs lack columns), so
    * this subsumes logFrame's mergeSchema=true. */
  private def readLogDir(spark: SparkSession, root: String, v: Long)
      : Seq[LogRow] = {
    val dir = new Path(s"$root/$Log/v=$v")
    val fs = fsOf(spark, dir)
    val conf = spark.sparkContext.hadoopConfiguration
    val files = fs.listStatus(dir).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .sortBy(_.getPath.getName)
    val sig = files.map(s =>
      s"${s.getPath.getName}:${s.getLen}:${s.getModificationTime}")
      .mkString(";")
    val key = dir.toString
    val hit = logDirCache.get(key)
    if (hit != null && hit._1 == sig) return hit._2
    val rows = files.flatMap { s =>
        val out = Seq.newBuilder[LogRow]
        val reader = org.apache.parquet.hadoop.ParquetReader
          .builder(new org.apache.parquet.hadoop.example.GroupReadSupport(),
            s.getPath)
          .withConf(conf).build()
        try {
          var g = reader.read()
          while (g != null) {
            out += LogRow(
              v,
              groupStr(g, "path").getOrElse(""),
              groupStr(g, "action").getOrElse(""),
              groupLong(g, "n_rows").getOrElse(0L),
              groupLong(g, "batch_id"),
              groupMap(g, "min_vals", kv => groupLong(kv, "value")),
              groupMap(g, "max_vals", kv => groupLong(kv, "value")),
              groupMap(g, "smin_vals", kv => groupStr(kv, "value")),
              groupMap(g, "smax_vals", kv => groupStr(kv, "value")),
              groupStr(g, "meta"),
              groupLong(g, "n_bytes").getOrElse(0L))
            g = reader.read()
          }
        } finally reader.close()
        out.result()
      }
    if (logDirCache.size > 4096) logDirCache.clear()
    logDirCache.put(key, (sig, rows))
    rows
  }

  /** The full log replay, driver-side: every action row of every
    * committed version (ascending), after [[versions]]' crash
    * recovery. Bounded by the planning budget (actions ∝ files
    * touched per commit × retention window, never data rows). */
  private[graft] def readLog(spark: SparkSession, root: String)
      : Seq[LogRow] =
    versions(spark, root).flatMap(v => readLogDir(spark, root, v))

  /** Log replay capped at `asOf` — the common snapshot-resolution
    * read; versions above the cap are never opened. */
  private[graft] def readLogTo(spark: SparkSession, root: String,
                               asOf: Long): Seq[LogRow] =
    versions(spark, root).filter(_ <= asOf)
      .flatMap(v => readLogDir(spark, root, v))

  /** The parquet schema of a log file, structurally identical to what
    * Spark wrote for the same rows (map fields in Spark's 3-level
    * key_value shape, same nullability) — so driver-written and
    * Spark-written log versions stay one mergeable table. */
  private lazy val logMessageType =
    org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      """message spark_schema {
        |  optional binary path (UTF8);
        |  optional binary action (UTF8);
        |  required int64 n_rows;
        |  optional int64 batch_id;
        |  optional group min_vals (MAP) {
        |    repeated group key_value {
        |      required binary key (UTF8);
        |      required int64 value;
        |    }
        |  }
        |  optional group max_vals (MAP) {
        |    repeated group key_value {
        |      required binary key (UTF8);
        |      required int64 value;
        |    }
        |  }
        |  optional group smin_vals (MAP) {
        |    repeated group key_value {
        |      required binary key (UTF8);
        |      optional binary value (UTF8);
        |    }
        |  }
        |  optional group smax_vals (MAP) {
        |    repeated group key_value {
        |      required binary key (UTF8);
        |      optional binary value (UTF8);
        |    }
        |  }
        |  optional binary meta (UTF8);
        |  required int64 n_bytes;
        |}""".stripMargin)

  /** Spark's own footer schema stamp for the log shape — carried on
    * driver-written files so every reader (incl. schema-merging ones)
    * sees exactly the frame logFrame always produced. */
  private lazy val logRowMetadataJson: String = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("path", StringType),
      StructField("action", StringType),
      StructField("n_rows", LongType, nullable = false),
      StructField("batch_id", LongType),
      StructField("min_vals", MapType(StringType, LongType, false)),
      StructField("max_vals", MapType(StringType, LongType, false)),
      StructField("smin_vals", MapType(StringType, StringType, true)),
      StructField("smax_vals", MapType(StringType, StringType, true)),
      StructField("meta", StringType),
      StructField("n_bytes", LongType, nullable = false))).json
  }

  /** Write a ZERO-ROW parquet file of `schema` inside `dir` (created
    * here), driver-side — the schema-anchor write. Replaces the old
    * `df.limit(0).coalesce(1).write` Spark job (a full scheduler
    * round-trip to produce an empty file) at every anchor site; the
    * file carries Spark's own physical conversion of the schema plus
    * the `spark_schema` footer stamp, so `spark.read.parquet(anchor)`
    * resolves the identical StructType. */
  private[graft] def writeSchemaDir(spark: SparkSession, dir: Path,
      schema: org.apache.spark.sql.types.StructType): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    fsOf(spark, dir).mkdirs(dir)
    val name = s"part-00000-${java.util.UUID.randomUUID}-c000" +
      ".snappy.parquet"
    val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(org.apache.parquet.hadoop.util.HadoopOutputFile
        .fromPath(new Path(dir, name), conf))
      .withType(org.apache.spark.sql.graftbridge.Bridge
        .parquetMessageType(schema))
      .withConf(conf)
      .withCompressionCodec(
        org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
      .withExtraMetaData(java.util.Collections.singletonMap(
        "org.apache.spark.sql.parquet.row.metadata", schema.json))
      .build()
    writer.close() // zero rows: the schema is the payload
  }

  /** Write `rows` as ONE parquet file inside `dir` (created here),
    * driver-side — the log-commit write. Replaces the old
    * one-row-frame Spark job (~150 ms of scheduler latency per
    * commit) with a direct write of the identical file shape; the
    * part-file naming keeps the Spark-write convention so nothing
    * downstream can tell the difference. */
  private def writeLogFile(spark: SparkSession, dir: Path,
                           rows: Seq[LogRow]): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = fsOf(spark, dir)
    fs.mkdirs(dir)
    val name = s"part-00000-${java.util.UUID.randomUUID}-c000" +
      ".snappy.parquet"
    val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(org.apache.parquet.hadoop.util.HadoopOutputFile
        .fromPath(new Path(dir, name), conf))
      .withType(logMessageType)
      .withConf(conf)
      .withCompressionCodec(
        org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
      .withExtraMetaData(java.util.Collections.singletonMap(
        "org.apache.spark.sql.parquet.row.metadata", logRowMetadataJson))
      .build()
    try rows.foreach { r =>
      val g = new org.apache.parquet.example.data.simple.SimpleGroup(
        logMessageType)
      g.add("path", r.path)
      g.add("action", r.action)
      g.add("n_rows", r.nRows)
      r.batchId.foreach(b => g.add("batch_id", b))
      // maps are always PRESENT (possibly empty), matching the old
      // Spark write of non-null Map.empty values exactly
      def addMap[V](field: String, m: Map[String, V],
                    put: (org.apache.parquet.example.data.Group, V)
                      => Unit): Unit = {
        val mg = g.addGroup(field)
        m.toSeq.sortBy(_._1).foreach { case (k, v) =>
          val kv = mg.addGroup("key_value")
          kv.add("key", k)
          put(kv, v)
        }
      }
      addMap[Long]("min_vals", r.mins, (kv, v) => kv.add("value", v))
      addMap[Long]("max_vals", r.maxs, (kv, v) => kv.add("value", v))
      addMap[String]("smin_vals", r.smins, (kv, v) => kv.add("value", v))
      addMap[String]("smax_vals", r.smaxs, (kv, v) => kv.add("value", v))
      r.meta.foreach(m => g.add("meta", m))
      g.add("n_bytes", r.bytes)
      writer.write(g)
    } finally writer.close()
  }

  /** Live [[FileEntry]]s at `asOf`: per path, the latest action at a
    * version <= asOf must be an add. Metadata-sized. */
  private[graft] def liveAt(spark: SparkSession, root: String,
                     asOf: Long): Seq[FileEntry] =
    liveIn(logAt(spark, root, versions(spark, root), asOf))

  /** The log replay up to `asOf`, which must be one of the committed
    * versions `vs` — one listing serves the check and the replay. */
  private def logAt(spark: SparkSession, root: String, vs: Seq[Long],
                    asOf: Long): Seq[LogRow] = {
    require(vs.contains(asOf),
      s"version $asOf not committed at $root (have ${vs.mkString(",")})" +
        " — vacuumed past the horizon or never written")
    vs.filter(_ <= asOf).flatMap(v => readLogDir(spark, root, v))
  }

  /** The live files of a log replay. */
  private def liveIn(log: Seq[LogRow]): Seq[FileEntry] =
    // DATA actions only: metadata rows (dv vectors, constraints) share
    // the path column, and letting them into the latest-action pick
    // would shadow a file's add (the dv row would "win" and silently
    // drop the file from every snapshot). Driver replay — bounded by
    // file count, the planning budget; per-file schema variance
    // (pre-upgrade logs lacking the string-stat maps) resolves to
    // empty inside the reader.
    log
      .filter(r => r.action == "add" || r.action == "remove")
      .groupBy(_.path)
      .flatMap { case (_, rs) =>
        // one data action per (path, version) by construction, so the
        // max-version row IS the latest action
        val last = rs.maxBy(_.v)
        if (last.action == "add") Some(last.toEntry) else None
      }
      .toSeq.sortBy(_.path)

  /** Merge-on-read delete vectors active at `asOf`, restricted to
    * `live` files: data-file name → the dv parquet dirs holding its
    * deleted row indexes. File NAMES key the vectors (parquet part
    * names embed the write job's UUID — unique within a store), so
    * applying them is one equi anti-join, no path arithmetic. */
  private[graft] def dvsAt(spark: SparkSession, root: String, asOf: Long,
                    live: Seq[FileEntry]): Map[String, Seq[String]] =
    dvsIn(readLogTo(spark, root, asOf), live) // bounded: dv'd files, not rows

  private def dvsIn(log: Seq[LogRow],
                    live: Seq[FileEntry]): Map[String, Seq[String]] = {
    val liveNames = live.map(e => e.path.split('/').last).toSet
    log
      .filter(_.action == "dv")
      .map(r => (r.path, r.meta.getOrElse("")))
      .filter { case (f, _) => liveNames.contains(f.split('/').last) }
      .groupBy(_._1).map { case (f, xs) => f -> xs.map(_._2) }
  }

  /** Loud contract for operations that plan at FILE granularity:
    * merge-on-read delete vectors make a file's logical content a
    * (file, dv) pair, so stats pruning, file-diff feeds, clones and
    * rewrites that read files raw would silently resurrect deleted
    * rows. They refuse instead, naming the remedy. */
  private[graft] def requireNoDvs(spark: SparkSession, root: String,
                           asOf: Long, live: Seq[FileEntry],
                           op: String): Unit =
    requireNoDvsIn(readLogTo(spark, root, asOf), root, live, op)

  private def requireNoDvsIn(log: Seq[LogRow], root: String,
                             live: Seq[FileEntry], op: String): Unit =
    require(dvsIn(log, live).isEmpty,
      s"$op plans at file granularity, but merge-on-read delete " +
        s"vectors are present at $root — run purgeDeletes first")

  /** A snapshot resolved for a file-granular operation `op`: ONE
    * versions listing and ONE log replay give its version (default:
    * the latest), live files and declared schema, and refuse under
    * delete vectors ([[requireNoDvs]]). */
  private def fileSnapshot(spark: SparkSession, root: String,
                           version: Option[Long], op: String)
      : (Long, Seq[FileEntry],
         Option[org.apache.spark.sql.types.StructType]) = {
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"no committed versions at $root")
    val v = version.getOrElse(vs.max)
    val log = logAt(spark, root, vs, v)
    val live = liveIn(log)
    requireNoDvsIn(log, root, live, op)
    (v, live, schemaIn(log))
  }

  /** Scan a subset of LIVE data files under the snapshot's EFFECTIVE
    * schema: the declared (ALTER-evolved) schema when one is in force
    * at `asOf` — files predating an added column null-fill it inside
    * the reader, and a REWRITE of this frame CARRIES the column —
    * else the schema Spark would infer, resolved on the driver from
    * memoized footers ([[scanSchema]]; uniform live sets by
    * construction).
    * Every content-rewrite path (compaction, layout, DML,
    * replaceWhere, purge) and every pruned read must go through here:
    * a raw read of a mixed-schema live set infers ONE file's shape,
    * and a rewrite of that frame would silently drop the ALTERed
    * column's values from every rewritten file. */
  private[graft] def readLiveFiles(spark: SparkSession, root: String,
                                   asOf: Long,
                                   entries: Seq[FileEntry]): DataFrame =
    scanFiles(spark, root, declaredSchemaAt(spark, root, asOf), entries)

  /** [[readLiveFiles]] with the declared schema already resolved: the
    * one scan of store data files, typed, SQL, DML or change feed — a
    * native parquet scan over a [[graft.sources.GraftFileIndex]] of
    * `entries`, so the query's own filters prune it through
    * [[prunedFiles]] at planning. The scan always gets an explicit
    * schema ([[scanSchema]]), so planning it runs no Spark job:
    * Spark's own inference would launch one to read a footer the
    * driver already holds. */
  private[graft] def scanFiles(spark: SparkSession, root: String,
                               declared: Option[org.apache.spark.sql.types.StructType],
                               entries: Seq[FileEntry]): DataFrame =
    Bridge.dataFrame(spark, org.apache.spark.sql.execution.datasources
      .LogicalRelation(graft.sources.GraftFileIndex.relation(spark, root,
        entries, scanSchema(spark, root, declared, entries))))

  /** The schema a scan of `entries` reports: the declared one (built
    * from a scan's schema, so already nullable), else Spark's
    * inference rule run on the driver over memoized footers
    * ([[footerOf]]) — the first file in qualified-path order, or all
    * of them merged in that order when the session sets
    * `spark.sql.parquet.mergeSchema` — read by Spark's own
    * `ParquetFileFormat.readSchemaFromFooter`. The merge branch is
    * driver-serial: a footer not yet memoized is one file open after
    * another, where Spark's inference would read them in one parallel
    * job. No store caller sets that conf. `entries` must be non-empty
    * when nothing is declared. */
  private def scanSchema(spark: SparkSession, root: String,
                         declared: Option[org.apache.spark.sql.types.StructType],
                         entries: Seq[FileEntry])
      : org.apache.spark.sql.types.StructType =
    declared.getOrElse {
      val conf = spark.sparkContext.hadoopConfiguration
      val byPath = entries.map { e =>
        val p = new Path(resolve(root, e.path))
        (p.getFileSystem(conf).makeQualified(p), e)
      }.sortBy(_._1.toString)
      val merge = spark.conf.get("spark.sql.parquet.mergeSchema", "false")
        .toBoolean
      Bridge.footerSchema(spark,
        (if (merge) byPath else byPath.take(1)).map { case (p, e) =>
          new Footer(p, footerOf(spark, resolve(root, e.path), e.bytes))
        })
    }

  /** Apply `dvs` to a scan of `dirty` files: anti-join on
    * (file name, row index) removes exactly the vectored rows. */
  private def applyDvs(spark: SparkSession, root: String,
                       dirty: Seq[FileEntry],
                       dvs: Map[String, Seq[String]], asOf: Long): DataFrame = {
    val dvRows = spark.read.option("ignoreMissingFiles", "false")
      .parquet(dvs.values.flatten.toSeq.distinct
        .map(p => resolve(root, p)): _*)
      .select(col("fname").as("__dv_fname"), col("idx").as("__dv_idx"))
    val scan = readLiveFiles(spark, root, asOf, dirty)
    val cols = scan.columns
    scan
      .withColumn("__dv_fname",
        element_at(split(col("_metadata.file_path"), "/"), -1))
      .withColumn("__dv_idx", col("_metadata.row_index"))
      .join(dvRows, Seq("__dv_fname", "__dv_idx"), "left_anti")
      .select(cols.map(col): _*)
  }

  /** Merge-on-read row deletes — the cheap half of the delete
    * spectrum: instead of rewriting every touched file ([[deleteWhere]]
    * — copy-on-write), commit a DELETE VECTOR of (file name, row
    * index) pairs; the data files stay byte-identical and [[read]]
    * applies the vectors with one anti-join. Deleting one row from a
    * 100 TB table costs a KB-sized vector write, not a file rewrite.
    * `pruneBy` is the same explicit skipping hint as deleteWhere;
    * rows where the predicate is NULL are KEPT (three-valued
    * semantics, the deleteWhere contract).
    *
    * Contract: vectors are a TRANSIENT state. Snapshot reads
    * (read/readAt, any version) are vector-aware; every operation
    * that plans at file granularity (compaction, OPTIMIZE, merge,
    * range/point/prefix reads, clones, feeds, restore, vacuum)
    * refuses loudly until [[purgeDeletes]] folds the vectors back
    * into clean files. Returns the committed version, or the current
    * one when nothing matched (no-op, no commit). */
  def deleteWhereMoR(spark: SparkSession, root: String,
                     pred: org.apache.spark.sql.Column,
                     pruneBy: (String, Long, Long)): Long = {
    val (pcol, lo, hi) = pruneBy
    require(lo <= hi, s"empty prune interval [$lo, $hi]")
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"no committed versions at $root")
    val prev = vs.last
    val live = liveAt(spark, root, prev)
    val touched = prunedFiles(spark, root, live,
      declaredSchemaAt(spark, root, prev), within(pcol, lo, hi))
    deleteMoRTouched(spark, root, pred, prev, touched)
  }

  /** The merge-on-read delete core over an explicit candidate set —
    * shared by [[deleteWhereMoR]] (interval-hint pruning) and the SQL
    * DML path ([[Dml]] — predicate-derived pruning). Commits a delete
    * VECTOR for the definitely-matching rows of `touched`; data files
    * stay byte-identical. */
  private[graft] def deleteMoRTouched(spark: SparkSession, root: String,
                                      pred: org.apache.spark.sql.Column,
                                      prev: Long,
                                      touched: Seq[FileEntry]): Long = {
    if (touched.isEmpty) return prev
    val n = prev + 1
    val attempt = java.util.UUID.randomUUID.toString.take(8)
    val dvRel = s"dv/v$n-$attempt"
    val raw = readLiveFiles(spark, root, prev, touched)
      // aliased for correlated-subquery predicates from the SQL DML
      // path (their rebound outer refs are Dml.TargetAlias-qualified);
      // transparent to plain predicates
      .alias(Dml.TargetAlias)
      .where(coalesce(pred, lit(false))) // definite-true rows only
      .select(
        element_at(split(col("_metadata.file_path"), "/"), -1)
          .as("fname"),
        col("_metadata.row_index").as("idx"))
    // rows already vectored away are not re-deleted: the new vector
    // covers only rows live in the MoR view, so a delete that matches
    // nothing VISIBLE stays a no-op even over dirty files
    val existing = dvsAt(spark, root, prev, touched)
    val fresh =
      if (existing.isEmpty) raw
      else raw.join(
        spark.read.option("ignoreMissingFiles", "false")
          .parquet(existing.values.flatten.toSeq.distinct
            .map(p => resolve(root, p)): _*)
          .select("fname", "idx"),
        Seq("fname", "idx"), "left_anti")
    fresh.write.parquet(s"$root/$dvRel")
    // which touched files actually lost rows — bounded by file count
    val hitNames = spark.read.parquet(s"$root/$dvRel")
      .select("fname").distinct().collect().map(_.getString(0)).toSet
    if (hitNames.isEmpty) {
      fsOf(spark, new Path(root)).delete(new Path(s"$root/$dvRel"), true)
      return prev
    }
    val hitFiles = touched.map(_.path)
      .filter(p => hitNames.contains(p.split('/').last))
    commitExclusive(spark, root, n, Seq.empty, Seq.empty,
      marker = Some("rewrite"),
      metaRows = hitFiles.map(f => (f, "dv", dvRel)))
    n
  }

  /** Fold every outstanding delete vector back into clean files —
    * ONE proportional rewrite of only the vectored files, after
    * which the file-granularity operations work again. Content is
    * unchanged (the vectors were already applied by every read). */
  def purgeDeletes(spark: SparkSession, root: String,
                   statsCols: Seq[String] = Nil,
                   bloomCols: Seq[String] = Nil): Long = {
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"no committed versions at $root")
    val prev = vs.last
    val live = liveAt(spark, root, prev)
    val dvs = dvsAt(spark, root, prev, live)
    if (dvs.isEmpty) return prev
    val dirtyNames = dvs.keySet.map(_.split('/').last)
    val dirty = live.filter(e => dirtyNames.contains(e.path.split('/').last))
    val cleaned = applyDvs(spark, root, dirty, dvs, prev)
    val n = prev + 1
    commitExclusive(spark, root, n,
      writeData(cleaned, root, n, statsCols, bloomCols),
      dirty.map(_.path), marker = Some("rewrite"))
    n
  }

  /** Declared partition/cluster columns of a store — the
    * `PARTITIONED BY` of its CREATE ([[createEmpty]]'s sidecar), or
    * empty for plain stores. Every write path consults this
    * ([[withDeclaredLayout]]); it is a LAYOUT declaration, not a
    * directory shape: rows range-cluster on these columns and their
    * per-file bounds ride the commit log, so a partition predicate
    * prunes at planning time from metadata alone — the same
    * observable a Hive-style directory layout buys, without freezing
    * the physical shape at create time (OPTIMIZE can recluster). */
  def partitionColsOf(spark: SparkSession, root: String): Seq[String] = {
    val p = new Path(s"$root/$PartSidecar")
    val fs = fsOf(spark, p)
    if (!fs.exists(p)) Seq.empty
    else {
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        .split("\n").map(_.trim).filter(_.nonEmpty).toSeq
      finally in.close()
    }
  }

  private val PartSidecar = "_partition"

  /** Apply a store's declared layout to a write: range-cluster on
    * the partition columns (tight, non-overlapping per-file bounds —
    * hash clustering would scatter each value's range across every
    * file and gut the prune) and log their per-file stats. The
    * shuffle is the declared price of the layout; a 100 TB ingest
    * pays it once per batch and every reader prunes forever after. */
  private def withDeclaredLayout(df: DataFrame, root: String,
                                 statsCols: Seq[String])
      : (DataFrame, Seq[String]) = {
    val parts = partitionColsOf(df.sparkSession, root)
    if (parts.isEmpty) (df, statsCols)
    else {
      val missing = parts.filterNot(c =>
        df.columns.exists(_.equalsIgnoreCase(c)))
      require(missing.isEmpty,
        s"write to $root omits its declared partition column(s) " +
          s"[${missing.mkString(",")}]")
      (df.repartitionByRange(parts.map(col): _*),
        (statsCols ++ parts).distinct)
    }
  }

  /** Anchor a FRESH path's schema without committing data — the
    * `CREATE TABLE` of the commit-log model: the path becomes a
    * readable TYPED-EMPTY store (the anchored-but-never-committed
    * state [[read]] and the SQL catalog already understand), and the
    * first real commit lands as version 1. Published by the same
    * staged-rename the first write uses, so a racing CREATE cannot
    * tear the anchor; losing the race is a loud error, never a
    * silent clobber. Refuses paths that are already stores. */
  def createEmpty(spark: SparkSession, root: String,
                  schema: org.apache.spark.sql.types.StructType,
                  partitionBy: Seq[String] = Nil): Unit = {
    val anchor = new Path(s"$root/_schema")
    val logDir = new Path(s"$root/$Log")
    val fs = fsOf(spark, anchor)
    partitionBy.foreach { c =>
      require(schema.fieldNames.exists(_.equalsIgnoreCase(c)),
        s"PARTITIONED BY names unknown column $c — schema has " +
          s"[${schema.fieldNames.mkString(",")}]")
    }
    require(!fs.exists(anchor) && !fs.exists(logDir),
      s"$root is already a store — CREATE refuses to clobber it")
    val attempt = java.util.UUID.randomUUID.toString.take(8)
    val staged = new Path(s"$root/.schema_tmp-$attempt")
    writeSchemaDir(spark, staged, schema)
    if (!fs.rename(staged, anchor)) {
      fs.delete(staged, true)
      throw new IllegalStateException(
        s"concurrent CREATE published an anchor at $root first — " +
          "re-read the table instead of re-creating it")
    }
    // rename-into-existing-dir nests the source (writeData's lesson):
    // sweep the nested copy if a racer's anchor landed between checks
    val nested = new Path(anchor, staged.getName)
    if (fs.exists(nested)) fs.delete(nested, true)
    // the layout declaration lands AFTER the anchor wins its race (a
    // loser must not pollute the winner's store). A crash in between
    // leaves an anchored unpartitioned store with zero commits — the
    // torn CREATE is retired with DROP and re-created, same as any
    // other create failure.
    if (partitionBy.nonEmpty) {
      val out = fs.create(new Path(s"$root/$PartSidecar"), true)
      try out.write(partitionBy.mkString("\n").getBytes("UTF-8"))
      finally out.close()
    }
  }

  /** Retire an anchored-but-never-committed store — the only DROP the
    * engine allows: nothing was committed, so nothing can be lost and
    * no pinned reader exists. A store with ANY committed version
    * refuses (history retires through [[vacuum]] retention, never a
    * catalog-style drop). */
  def dropEmpty(spark: SparkSession, root: String): Unit = {
    val rootPath = new Path(root)
    val fs = fsOf(spark, rootPath)
    val anchor = new Path(s"$root/_schema")
    val logDir = new Path(s"$root/$Log")
    // failure modes are DISTINCT on purpose (the catalog maps them to
    // different user errors): committed history refuses toward vacuum
    // retention (IllegalArgumentException); a path that is not a
    // store at all — no anchor AND no log, e.g. a plain directory —
    // is a caller mistake (IllegalStateException). A log dir with
    // zero committed versions and no anchor (torn first commit) IS
    // droppable: nothing was ever published.
    if (!fs.exists(anchor) && !fs.exists(logDir))
      throw new IllegalStateException(
        s"no store at $root — nothing to drop")
    val vs = versions(spark, root)
    // crash recovery: a previous DROP that died between the v1
    // tombstone commit and the recursive delete leaves versions=[1]
    // with the `dropped` marker — the root is fenced (every writer's
    // v1→v2 step refuses) but still on disk. Re-running DROP must
    // RESUME the delete (idempotent drop), not refuse with the
    // misleading committed-history error that would brick the path.
    val resumingDrop = vs == Seq(1L) &&
      readLogDir(spark, root, 1L).exists(_.action == "dropped")
    require(resumingDrop || vs.isEmpty,
      s"$root has committed versions — history retires through " +
        "vacuum retention, not DROP")
    // TOMBSTONE fence: claim version 1 with a `dropped` marker — the
    // same rename-committed slot a racing first commit would take, so
    // exactly one of (drop, first commit) wins. Losing means a commit
    // landed: the store survives with its history, the drop aborts.
    // Winning fences every later writer: commitLog refuses the v1→v2
    // transition over a tombstone, so a racer mid-retry cannot land
    // data into a directory about to be recursively deleted (the
    // check-then-delete race the plain re-verify only narrowed).
    if (!resumingDrop)
      try commitLog(spark, root, 1L, Seq.empty, Seq.empty,
        marker = Some("dropped"))
      catch { case _: CommitConflictException =>
        throw new IllegalArgumentException(
          s"$root received its first commit while DROP was checking — " +
            "the store survives with its history; re-read it")
      }
    if (fs.exists(anchor)) fs.delete(anchor, true)
    fs.delete(rootPath, true)
    ()
  }

  /** Snapshot read at `version` (default: latest). The file list
    * comes from the log replay, never an FS walk; a concurrent later
    * commit cannot change what this frame reads.
    *
    * Retention contract: the frame is only guaranteed against
    * [[vacuum]]s that keep its version. A reader pinned to a version
    * the vacuum retires fails LOUDLY — at resolution time with the
    * horizon named, or (for a frame constructed pre-vacuum) at
    * execution time with a missing-file error, pinned here by
    * `ignoreMissingFiles=false` so a permissive session config can
    * never turn retired history into silent partial rows. */
  def read(spark: SparkSession, root: String,
           version: Option[Long] = None): DataFrame = {
    val vs = versions(spark, root)
    if (vs.isEmpty && version.isEmpty) {
      // a store that has seen data shapes (anchor written) but never
      // committed — e.g. an all-empty stream — reads as typed empty;
      // an untouched path is still a loud error
      val anchor = new Path(s"$root/_schema")
      require(fsOf(spark, anchor).exists(anchor),
        s"no committed versions at $root")
      return spark.read.parquet(anchor.toString).limit(0)
    }
    require(vs.nonEmpty, s"no committed versions at $root")
    val v = version.getOrElse(vs.max)
    val entries = liveAt(spark, root, v)
    val dvs = dvsAt(spark, root, v, entries)
    // an ALTER-evolved snapshot reads under its DECLARED schema:
    // by-name parquet resolution fills pre-ALTER files' missing
    // columns with null inside the reader (the readAs posture,
    // versioned). Never-ALTERed stores skip this entirely.
    val declared = declaredSchemaAt(spark, root, v)
    if (entries.isEmpty && declared.isEmpty)
      // empty never-ALTERed snapshot (all-empty commits, overwrite-
      // with-empty): the first-touch anchor's schema
      spark.read.parquet(s"$root/_schema").limit(0)
    else if (dvs.isEmpty) scanFiles(spark, root, declared, entries)
    else {
      // declared schema + outstanding vectors composes: both the
      // dirty scan (applyDvs) and the clean scan below read through
      // readLiveFiles, which applies the declared schema — an ALTER
      // landing between a MoR delete and its purge cannot brick reads
      // merge-on-read: vectored files anti-join their delete vectors;
      // clean files keep the plain columnar scan
      val dirtyNames = dvs.keySet.map(_.split('/').last)
      val (dirty, clean) = entries.partition(e =>
        dirtyNames.contains(e.path.split('/').last))
      val mor = applyDvs(spark, root, dirty, dvs, v)
      if (clean.isEmpty) mor
      else mor.unionByName(readLiveFiles(spark, root, v, clean))
    }
  }

  /** Snapshot read under an explicit TARGET schema — the
    * [[SchemaEvolution]] posture joined to versioning: files
    * committed before a column existed resolve it to null inside the
    * parquet reader (by-name resolution), so history is never
    * rewritten for a column add and the caller owns one fixed schema
    * contract instead of `mergeSchema`'s moving one. Pair with
    * [[SchemaEvolution.backfill]] for explicit, countable defaults. */
  def readAs(spark: SparkSession, root: String,
             target: org.apache.spark.sql.types.StructType,
             version: Option[Long] = None): DataFrame = {
    val (_, entries, _) = fileSnapshot(spark, root, version, "readAs")
    scanFiles(spark, root, Some(target), entries)
  }

  /** Metadata-only table digest at `version` (default: latest): file
    * count, exact row count, and total bytes — answered from the
    * COMMIT LOG ALONE, zero data-file IO. On a million-file 100 TB
    * table this is the difference between an instant answer and a
    * full scan: every `count(*)` dashboard tick, ingest-lag monitor
    * and reconciliation check should hit this, not [[read]].
    *
    * Exactness contract: the log's per-file row counts were captured
    * from the parquet footers at COMMIT time, so the sum is exact for
    * every snapshot — except under outstanding merge-on-read delete
    * vectors, where a file's logical count is (footer rows − vectored
    * rows); rather than silently over-count, this refuses until
    * [[purgeDeletes]] folds them in (the file-granularity contract).
    * `n_bytes` is null when any live file predates byte-carrying
    * commits — a bound would be a lie, a null is a visible unknown. */
  def metaStats(spark: SparkSession, root: String,
                version: Option[Long] = None): DataFrame = {
    import spark.implicits._
    val (v, live, _) = fileSnapshot(spark, root, version, "metaStats")
    val bytes: Option[Long] =
      if (live.forall(_.bytes > 0)) Some(live.map(_.bytes).sum) else None
    Seq((v, live.size.toLong, live.map(_.rows).sum, bytes))
      .toDF("version", "n_files", "n_rows", "n_bytes")
  }

  /** Exact per-column [min, max] at `version` from the commit log —
    * zero data-file IO. Only columns every live file DECLARED in its
    * commit's `statsCols` qualify: parquet footer min/max for plain
    * integer columns are exact values present in the file, so the
    * fold over live files is the table's exact extremes. A live file
    * without logged bounds for a requested column refuses loudly
    * (recommit via [[compact]] with `statsCols` to backfill) — a
    * partial fold would silently return a narrower range than the
    * data. String bounds are excluded by construction: the log
    * truncates them (sound for pruning, not for exact answers).
    * Empty snapshot: null bounds, the SQL aggregate convention. */
  def metaBounds(spark: SparkSession, root: String,
                 cols: Seq[String],
                 version: Option[Long] = None): DataFrame = {
    import spark.implicits._
    require(cols.nonEmpty, "metaBounds needs at least one column")
    val (v, live, _) = fileSnapshot(spark, root, version, "metaBounds")
    cols.map { c =>
      val missing = live.filter(e =>
        !e.mins.contains(c) || !e.maxs.contains(c))
      require(missing.isEmpty,
        s"metaBounds($c) at $root: ${missing.size} live file(s) carry " +
          s"no logged bounds for $c (e.g. ${missing.head.path}) — " +
          "compact with statsCols to backfill, or read the data")
      if (live.isEmpty) (c, None: Option[Long], None: Option[Long])
      else (c, Some(live.map(_.mins(c)).min), Some(live.map(_.maxs(c)).max))
    }.toDF("column", "min_val", "max_val")
  }

  /** Optimistic append commit: on a lost version race, re-read the
    * log and retry at the next version. Append file sets are disjoint
    * by construction (attempt-unique data dirs), so only the
    * metadata-sized log commit re-runs — the data files are already
    * final. The attempt cap turns a pathological livelock (a writer
    * that can never win) into a loud error instead of an infinite
    * loop. */
  private def appendRetrying(spark: SparkSession, root: String,
                             first: Long, adds: Seq[FileEntry],
                             batchId: Option[Long]): Long = {
    var n = first
    var attempts = 0
    while (attempts < 64) {
      try { commitLog(spark, root, n, adds, Seq.empty, batchId); return n }
      catch { case _: CommitConflictException =>
        attempts += 1
        n = math.max(n + 1,
          versions(spark, root).lastOption.getOrElse(0L) + 1)
      }
    }
    throw new java.io.IOException(
      s"append lost the commit race $attempts times at $root — " +
        "livelocked against a faster writer")
  }

  /** Append `df` as a new version; returns the committed version.
    * `statsCols` declares integer columns whose per-file [min, max]
    * ride in the commit log for log-only pruning. Safe under
    * CONCURRENT appenders: a lost version race retries at the next
    * version (disjoint-files fast path — no data rewrite, history
    * stays linear). */
  def append(df: DataFrame, root: String,
             statsCols: Seq[String] = Nil,
             bloomCols: Seq[String] = Nil): Long = {
    val spark = df.sparkSession
    val hint = versions(spark, root).lastOption.getOrElse(0L) + 1
    val (laid, stats) = withDeclaredLayout(df, root, statsCols)
    val adds = writeData(laid, root, hint, stats, bloomCols)
    enforceConstraints(spark, root, adds)
    appendRetrying(spark, root, hint, adds, None)
  }

  /** Replace the table's content with `df` as a new version; every
    * previously-live file gets a remove action, old snapshots stay
    * readable. Snapshot-dependent: a concurrent commit between the
    * live-set read and this commit fails loudly (re-read and retry),
    * never silently drops the racer's files. */
  def overwrite(df: DataFrame, root: String,
                statsCols: Seq[String] = Nil,
                bloomCols: Seq[String] = Nil,
                batchId: Option[Long] = None): Long = {
    val spark = df.sparkSession
    val prev = versions(spark, root).lastOption
    val removes = prev.map(liveAt(spark, root, _).map(_.path))
      .getOrElse(Seq.empty)
    val n = prev.getOrElse(0L) + 1
    val (laid, stats) = withDeclaredLayout(df, root, statsCols)
    val adds = writeData(laid, root, n, stats, bloomCols)
    enforceConstraints(spark, root, adds)
    commitExclusive(spark, root, n, adds, removes,
      marker = prev.map(_ => "rewrite"), batchId = batchId)
    n
  }

  /** Append with table-metadata rows riding the SAME commit, and
    * snapshot-DEPENDENT (a racer fails loudly instead of retrying at
    * the next version): the incremental-view machinery records its
    * consumed source positions atomically with the rows they
    * produced — a retried optimistic append could land AFTER a
    * concurrent tick and re-apply a stale delta. An empty `df` still
    * commits (the position must advance even when the delta produced
    * no rows). Returns the committed version. */
  private[graft] def appendExclusiveWithMeta(
      df: DataFrame, root: String,
      metaRows: Seq[(String, String, String)],
      statsCols: Seq[String] = Nil): Long = {
    val spark = df.sparkSession
    val n = versions(spark, root).lastOption.getOrElse(0L) + 1
    val adds = writeData(df, root, n, statsCols)
    enforceConstraints(spark, root, adds)
    commitExclusive(spark, root, n, adds, Seq.empty, metaRows = metaRows)
    n
  }

  /** Latest metadata payload committed for `action` at or below
    * `asOf`, or None. Bounded: one row back. */
  private[graft] def latestMeta(spark: SparkSession, root: String,
                                action: String,
                                asOf: Long): Option[String] =
    latestMetaIn(readLogTo(spark, root, asOf), action)

  private def latestMetaIn(log: Seq[LogRow],
                           action: String): Option[String] = {
    val hits = log.filter(_.action == action)
    if (hits.isEmpty) None else hits.maxBy(_.v).meta
  }

  /** Rows ADDED per version in `(fromExclusive, toInclusive]` — from
    * the log's per-file footer row counts, zero data IO. The
    * streaming source's row-based admission sizes its batches with
    * this (versions with no adds — schema/constraint/marker commits —
    * simply have no entry). */
  private[graft] def addedRowsByVersion(spark: SparkSession, root: String,
                                        fromExclusive: Long,
                                        toInclusive: Long)
      : Map[Long, Long] =
    readLogTo(spark, root, toInclusive)
      .filter(r => r.v > fromExclusive && r.action == "add")
      .groupBy(_.v).map { case (v, rs) => v -> rs.map(_.nRows).sum }

  /** Rows CHANGED per version in `(fromExclusive, toInclusive]` for
    * the rows/CDC feed's admission: adds by their footer counts PLUS
    * removes by their ORIGINAL add-time counts — a delete/rewrite
    * commit emits its removed rows as `_op = delete` rows, so
    * charging only the adds would admit batches over the cap by the
    * entire removed volume (exactly on the skewed commits the cap
    * exists for). Still metadata-only: one log self-join on path. */
  private[graft] def changedRowsByVersion(spark: SparkSession,
                                          root: String,
                                          fromExclusive: Long,
                                          toInclusive: Long)
      : Map[Long, Long] = {
    val lf = readLog(spark, root)
    val addRows = lf.filter(_.action == "add")
      .groupBy(_.path).map { case (p, rs) => p -> rs.map(_.nRows).max }
    val window = lf.filter(r => r.v > fromExclusive && r.v <= toInclusive)
    val added = window.filter(_.action == "add")
      .map(r => (r.v, r.nRows))
    val removed = window.filter(_.action == "remove")
      .flatMap(r => addRows.get(r.path).map(orig => (r.v, orig)))
    (added ++ removed).groupBy(_._1)
      .map { case (v, rs) => v -> rs.map(_._2).sum }
  }

  /** The DECLARED schema in force at `asOf`: the payload of the
    * newest `schema` action at v <= asOf — written by [[addColumn]]
    * (SQL `ALTER TABLE ADD COLUMN`). None for never-ALTERed stores,
    * whose reads infer from data files (the original contract, zero
    * cost preserved). */
  private[graft] def declaredSchemaAt(spark: SparkSession, root: String,
                                      asOf: Long)
      : Option[org.apache.spark.sql.types.StructType] =
    schemaIn(readLogTo(spark, root, asOf))

  private def schemaIn(log: Seq[LogRow])
      : Option[org.apache.spark.sql.types.StructType] =
    latestMetaIn(log, "schema").map(j =>
      org.apache.spark.sql.types.DataType.fromJson(j)
        .asInstanceOf[org.apache.spark.sql.types.StructType])

  /** `ALTER TABLE ADD COLUMN` as a COMMIT — the [[SchemaEvolution]]
    * readAs posture made first-class on the store itself: at 100 TB
    * you cannot rewrite history for a column add, so the new column
    * is one metadata row (the full target schema as JSON) and ZERO
    * data IO. From the commit on, [[read]] resolves files by NAME
    * under the declared schema — files predating the column surface
    * it as null inside the parquet reader (no extra pass, pruning
    * and pushdown intact). Time travel keeps each version's OWN
    * contract: a snapshot pinned before the ALTER reads with the
    * pre-ALTER schema (the Iceberg/Delta posture — history's shape
    * is part of history). Nullable, defaultless, top-level columns
    * only: anything else would need a backfill pass, which belongs
    * to an explicit UPDATE the operator prices, never a hidden one.
    * Returns the committed version. */
  def addColumn(spark: SparkSession, root: String, colName: String,
                dataType: org.apache.spark.sql.types.DataType): Long =
    addColumns(spark, root, Seq(colName -> dataType))

  /** Multi-column ADD as ONE schema commit — the catalog's
    * `ALTER TABLE t ADD COLUMNS (a …, b …)` must be atomic (Spark's
    * alterTable contract is apply-all-or-none): every column is
    * validated against the current schema AND against its siblings
    * before the single metadata row lands, so a bad column in the
    * list leaves the table untouched. */
  def addColumns(spark: SparkSession, root: String,
                 cols: Seq[(String, org.apache.spark.sql.types.DataType)])
      : Long = alterSchema(spark, root, cols, Nil)

  /** Column ADDS and type WIDENINGS as ONE schema commit — the shape
    * MERGE schema evolution needs (a source can both carry a new
    * column and widen an existing one; two commits would let a crash
    * land half the evolution). Every change is validated against the
    * current schema AND its siblings before the single metadata row
    * lands. */
  def alterSchema(spark: SparkSession, root: String,
                  adds: Seq[(String, org.apache.spark.sql.types.DataType)],
                  widens: Seq[(String, org.apache.spark.sql.types.DataType)])
      : Long = {
    require(adds.nonEmpty || widens.nonEmpty,
      "ALTER needs at least one column change")
    adds.foreach { case (colName, _) =>
      require(colName.nonEmpty && !colName.startsWith("_"),
        s"column names starting with _ are reserved for feed " +
          s"provenance: $colName")
    }
    val dupNew = (adds ++ widens).groupBy(_._1.toLowerCase)
      .filter(_._2.size > 1)
    require(dupNew.isEmpty,
      s"ALTER lists a column twice: ${dupNew.keys.mkString(",")}")
    val vs = versions(spark, root)
    val prev = vs.lastOption.getOrElse(0L)
    val cur = read(spark, root,
      if (vs.isEmpty) None else Some(prev)).schema
    adds.foreach { case (colName, _) =>
      require(!cur.fieldNames.exists(_.equalsIgnoreCase(colName)),
        s"column $colName already exists at $root " +
          s"[${cur.fieldNames.mkString(",")}]")
    }
    val byName = cur.fields.map(f => f.name.toLowerCase -> f).toMap
    widens.foreach { case (colName, to) =>
      val f = byName.getOrElse(colName.toLowerCase,
        throw new IllegalArgumentException(
          s"ALTER COLUMN TYPE names unknown column $colName — table " +
            s"has [${cur.fieldNames.mkString(",")}]"))
      require(f.dataType != to,
        s"column $colName already has type ${to.simpleString}")
      require(isSafeWidening(f.dataType, to),
        s"refusing ${f.dataType.simpleString} -> ${to.simpleString} " +
          s"for column $colName — only value-preserving widenings " +
          "(integer up-size, float->double, int->double, decimal " +
          "growth) change a column's type in place; anything else " +
          "is a priced rewrite (UPDATE with an explicit cast)")
    }
    val widenMap = widens.map { case (c, t) => c.toLowerCase -> t }.toMap
    val target = org.apache.spark.sql.types.StructType(
      cur.fields.map(f => widenMap.get(f.name.toLowerCase)
        .map(t => f.copy(dataType = t)).getOrElse(f)) ++
        adds.map { case (colName, dt) =>
          org.apache.spark.sql.types.StructField(colName, dt,
            nullable = true) })
    val n = prev + 1
    // snapshot-dependent (the target embeds the CURRENT schema), so a
    // lost race surfaces loudly rather than composing blindly with a
    // concurrent ALTER
    commitExclusive(spark, root, n, Seq.empty, Seq.empty,
      metaRows = Seq(((adds ++ widens).map(_._1).mkString(","), "schema",
        target.json)))
    n
  }

  /** Is `to` a SAFE read-time widening of `from` — value-preserving
    * for every representable `from` value AND supported by Spark's
    * vectorized parquet reader when old files are read under the new
    * declared type? Integer up-sizing, float→double, integer→double
    * (ints ≤ 2^31 are exact in a 53-bit mantissa; LONG→double is NOT
    * and refuses), and decimal growth that never drops integer or
    * fractional digits. */
  private def isSafeWidening(
      from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case (ByteType | ShortType | IntegerType, DoubleType) => true
      case (d1: DecimalType, d2: DecimalType) =>
        d2.scale >= d1.scale &&
          d2.precision - d2.scale >= d1.precision - d1.scale &&
          (d2.precision > d1.precision || d2.scale > d1.scale)
      case _ => false
    }
  }

  /** `ALTER TABLE … ALTER COLUMN … TYPE` as a COMMIT — the widening
    * half of schema evolution: at 100 TB you cannot rewrite history
    * because a key outgrew INT, so the type change is one metadata
    * row (the full target schema as JSON) and ZERO data IO. From the
    * commit on, every read path resolves files under the DECLARED
    * schema and the parquet reader up-casts pre-widen files' values
    * in place (int32 read as BIGINT — reader-level, pruning and
    * pushdown intact). Only provably value-preserving widenings are
    * accepted ([[isSafeWidening]]); narrowing and cross-family casts
    * refuse loudly toward an explicit UPDATE the operator prices.
    * Log-stats soundness: numeric bounds are logged as Long, so a
    * widened integer column's existing [min, max] entries compare
    * exactly under the new type — no stats rewrite needed. Time
    * travel keeps each version's own contract (a snapshot pinned
    * before the widen reads with the narrow schema). Returns the
    * committed version. */
  def widenColumns(spark: SparkSession, root: String,
                   cols: Seq[(String, org.apache.spark.sql.types.DataType)])
      : Long = alterSchema(spark, root, Nil, cols)

  /** Rewrite the live set to ~targetBytes files as a new version —
    * [[Compaction]] under snapshot isolation: content-identical to
    * the previous version, old file layout still readable there. */
  def compact(spark: SparkSession, root: String, targetBytes: Long,
              statsCols: Seq[String] = Nil,
              bloomCols: Seq[String] = Nil): Long = {
    require(targetBytes > 0, s"targetBytes must be positive: $targetBytes")
    val (prev, live, _) = fileSnapshot(spark, root, None, "compact")
    if (live.isEmpty) {
      // compacting an empty table: content unchanged, but callers
      // get the version they asked for (a no-action commit)
      return commitLayoutRebasing(spark, root, prev + 1,
        Seq.empty, Seq.empty)
    }
    val fs = fsOf(spark, new Path(root))
    val bytes = live.map(e =>
      sizeOf(spark, root, e)).sum
    val nOut = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    val df = readLiveFiles(spark, root, prev, live)
      .repartition(nOut)
    val n = prev + 1
    commitLayoutRebasing(spark, root, n,
      writeData(df, root, n, statsCols, bloomCols), live.map(_.path))
  }

  /** `c` ∈ [lo, hi] as pruning filters. */
  private def within(c: String, lo: Any, hi: Any): Seq[Filter] =
    Seq(GreaterThanOrEqual(c, lo), LessThanOrEqual(c, hi))

  /** The live files that may hold a row satisfying all `filters` —
    * the ONE file pruner behind every store read: the typed reads and
    * interval-scoped rewrites here, the SQL file index
    * ([[graft.sources.GraftFileIndex]]) and [[Dml]]'s candidates.
    *
    * The log's bounds go first, for every filter, zero IO. The footer
    * stage takes only the filters that reject nulls in every column
    * they read ([[StatsSkipping.rejectsNulls]]) — a row group whose
    * schema predates such a column cannot match them — and, when
    * `declared` is given, read only its non-nested columns, which
    * footers name chunks after. A survivor consults its footer —
    * memoized ([[footerOf]]), so a file is opened at most once per
    * JVM, and never when this JVM wrote it — only when it has no
    * logged bounds for one of their columns or one of them is an
    * EqualTo/In a bloom can refute; it then survives iff some row
    * group's footer bounds pass them and its blooms may hold every
    * probe. Blooms are probed one 32-byte block per distinct hash
    * ([[BloomProbe]]), not read whole: the store's blooms are 16 MB
    * each. Null probes match nothing (SQL IN). A probed column in no
    * logged bounds, no consulted footer and not `declared` (the
    * snapshot's declared schema, or the SQL/DML relation's) is a
    * misspelling, not an evolved column: loud. */
  private[graft] def prunedFiles(spark: SparkSession, root: String,
                                 live: Seq[FileEntry],
                                 declared: Option[org.apache.spark.sql.types.StructType],
                                 filters: Seq[Filter]): Seq[FileEntry] = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    val flat = declared.map(_.fields.filterNot(_.dataType match {
      case _: StructType | _: ArrayType | _: MapType => true
      case _ => false
    }).map(_.name).toSet)
    val strict = filters.filter(f => StatsSkipping.rejectsNulls(f) &&
      flat.forall(f.references.forall(_)))
    val cols = strict.flatMap(_.references).distinct
    def logged(e: FileEntry, c: String) =
      e.mins.contains(c) || e.smins.contains(c)
    val probes = strict.collect {
      case EqualTo(c, v) => c -> Seq(v)
      case In(c, vs) => c -> vs.toSeq
    }
    val seen = scala.collection.mutable.Set(
      cols.filter(c => live.exists(logged(_, c))): _*)
    declared.foreach(seen ++= _.fieldNames)
    var opened = false
    def footerMayContain(e: FileEntry): Boolean = {
      opened = true
      val path = resolve(root, e.path)
      val blocks = footerOf(spark, path, e.bytes).getBlocks.asScala
      val blooms = new BloomProbe(spark, path)
      try blocks.exists { block =>
        val chunks = block.getColumns.asScala
          .map(c => c.getPath.toDotString -> c).toMap
          .filter { case (c, _) => cols.contains(c) }
        seen ++= chunks.keys
        lazy val bounds = groupBounds(e.path, block.getRowCount,
          chunks.values.toSeq)
        chunks.size == cols.size &&
          strict.forall(StatsSkipping.mayContain(bounds, _)) &&
          probes.forall { case (c, vs) => blooms.mayHold(chunks(c), vs) }
      } finally blooms.close()
    }
    val kept = live.filter(e => filters.forall(StatsSkipping.mayContain(e, _)) &&
      (probes.isEmpty && cols.forall(logged(e, _)) || footerMayContain(e)))
    // with no footer consulted, every file was logged or ruled out by
    // the log, so nothing could show a column the logs lack
    val typos = cols.filterNot(seen)
    require(!opened || typos.isEmpty,
      s"column ${typos.mkString(",")} exists in NO live file of $root " +
        "— misspelled column, not an evolved one")
    kept
  }

  /** One data file's bloom probes, over at most one input stream.
    * Parquet's split-block bloom is `numBytes / 32` independent
    * 32-byte blocks: a hash `h` lives only in block
    * `((h >>> 32) * numBlocks) >>> 32`, as 8 bits chosen by its low 32
    * bits. So a probe reads the bloom's header, then only the blocks
    * its hashes select — 32 bytes each, by position, one read per
    * distinct block — and tests each with a one-block
    * [[BlockSplitBloomFilter]], whose block index is always 0 and
    * whose bit test is the whole filter's. A header this probe cannot
    * read — another algorithm, hash or compression, a size parquet
    * itself would refuse, or no parsable header — answers "may hold",
    * which is always safe; the store only writes BLOCK/XXHASH blooms. */
  private[graft] final class BloomProbe(spark: SparkSession, path: String)
      extends java.io.Closeable {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    private val file = new Path(path)
    private var in: org.apache.hadoop.fs.FSDataInputStream = null

    /** May chunk `cc` hold one of `values`? True without a bloom, or
      * when a value is not hashable for the column; nulls match
      * nothing. Values hash by the column's PHYSICAL type: probing an
      * INT32 bloom with long hashes would be a false NEGATIVE on
      * every key. */
    def mayHold(cc: ColumnChunkMetaData, values: Seq[Any]): Boolean = {
      val off = cc.getBloomFilterOffset
      if (off < 0) return true
      val hasher =
        new BlockSplitBloomFilter(BlockSplitBloomFilter.LOWER_BOUND_BYTES)
      val hashes = values.filter(_ != null).map { v =>
        (cc.getPrimitiveType.getPrimitiveTypeName, v) match {
          case (INT64, l: java.lang.Long) => Some(hasher.hash(l.longValue))
          case (INT32, l: java.lang.Long) => Some(hasher.hash(l.intValue))
          case (INT32, i: java.lang.Integer) => Some(hasher.hash(i.intValue))
          case (BINARY, s: String) => Some(hasher.hash(Binary.fromString(s)))
          case _ => None
        }
      }
      if (hashes.contains(None)) return true
      val keys = hashes.flatten
      if (in == null) in = fsOf(spark, file).open(file)
      val head = new Array[Byte](BloomHeaderBytes)
      val got = readAt(off, head)
      val src = new java.io.ByteArrayInputStream(head, 0, got)
      val header =
        try Some(org.apache.parquet.format.Util.readBloomFilterHeader(src))
        catch { case _: java.io.IOException => None }
      header.filter(h => h.getAlgorithm.isSetBLOCK &&
          h.getHash.isSetXXHASH && h.getCompression.isSetUNCOMPRESSED &&
          h.getNumBytes >= BlockSplitBloomFilter.LOWER_BOUND_BYTES &&
          h.getNumBytes <= BlockSplitBloomFilter.UPPER_BOUND_BYTES) match {
        case Some(h) =>
          val bits = off + got - src.available
          val numBlocks = (h.getNumBytes / 32).toLong
          keys.groupBy(k => ((k >>> 32) * numBlocks) >>> 32)
            .exists { case (b, hs) =>
              val block = new Array[Byte](32)
              in.readFully(bits + b * 32, block)
              val bf = new BlockSplitBloomFilter(block)
              hs.exists(bf.findHash)
            }
        case None => true // a bloom this probe cannot read: may hold
      }
    }

    /** Positional read into `buf` up to end of file; bytes read. */
    private def readAt(pos: Long, buf: Array[Byte]): Int = {
      var n = 0
      var r = 0
      while (n < buf.length &&
          { r = in.read(pos + n, buf, n, buf.length - n); r > 0 }) n += r
      n
    }

    def close(): Unit = if (in != null) in.close()
  }

  /** Bytes read to parse a bloom header: its thrift encoding is about
    * 20 bytes (the byte count plus three one-member unions). */
  private val BloomHeaderBytes = 64

  /** A row group's footer bounds as a [[FileEntry]], read the way
    * [[footerInfo]] logs them. Annotated storage (DECIMAL/DATE over
    * ints), all-null and stat-less chunks get none: they never skip. */
  private def groupBounds(path: String, rows: Long,
                          chunks: Seq[org.apache.parquet.hadoop.metadata
                            .ColumnChunkMetaData]): FileEntry =
    chunks.foldLeft(FileEntry(path, rows, Map.empty, Map.empty)) { (b, c) =>
      val s = c.getStatistics
      val n = c.getPath.toDotString
      if (s == null || !s.hasNonNullValue) b
      else (s.genericGetMin, s.genericGetMax) match {
        case (lo: Number, hi: Number) if plainStatsType(c.getPrimitiveType) =>
          b.copy(mins = b.mins + (n -> lo.longValue),
            maxs = b.maxs + (n -> hi.longValue))
        case (lo: Binary, hi: Binary) if stringStatsType(c.getPrimitiveType) =>
          b.copy(smins = b.smins + (n -> lo.toStringUsingUTF8),
            smaxs = b.smaxs + (n -> hi.toStringUsingUTF8))
        case _ => b
      }
    }

  /** The typed reads' one code path: resolve the snapshot once, keep
    * what [[prunedFiles]] cannot rule out, and scan it under the
    * snapshot's schema with `residual` re-applied — the filters only
    * choose files, the residual keeps the rows exact (and prunes the
    * scan's index through the same function, so to the same files).
    * Returns (frame, files touched, files live). */
  private def prunedRead(spark: SparkSession, root: String,
                         version: Option[Long], filters: Seq[Filter],
                         residual: org.apache.spark.sql.Column)
      : (DataFrame, Int, Int) = {
    val (v, live, declared) =
      fileSnapshot(spark, root, version, "stats- and bloom-pruned reads")
    val touched = prunedFiles(spark, root, live, declared, filters)
    // the schema of what is scanned (a store appended with a wider
    // frame is not uniform), or with every file refuted, of them all
    val df =
      if (live.isEmpty) read(spark, root, Some(v)).where(residual).limit(0)
      else scanFiles(spark, root, Some(scanSchema(spark, root, declared,
        if (touched.isEmpty) live else touched)), touched).where(residual)
    (df, touched.size, live.size)
  }

  /** Manifest-pruned range read: the rows with `pcol` ∈ [lo, hi],
    * scanning only the live files whose bounds can intersect it.
    * Returns the frame plus the (files touched, files live) evidence
    * pair — the skipping economics a layout is judged by. */
  def readRange(spark: SparkSession, root: String,
                pcol: String, lo: Long, hi: Long,
                version: Option[Long] = None): (DataFrame, Int, Int) =
    prunedRead(spark, root, version, within(pcol, lo, hi),
      col(pcol) >= lo && col(pcol) <= hi)

  /** [[readRange]] over a STRING key, compared in Spark's string
    * order — the shape for tables ingested in key order on URLs,
    * content hashes or date-string keys. Returns the frame plus
    * (files touched, files live). */
  def readRangeString(spark: SparkSession, root: String,
                      pcol: String, lo: String, hi: String,
                      version: Option[Long] = None)
      : (DataFrame, Int, Int) =
    prunedRead(spark, root, version, within(pcol, lo, hi),
      col(pcol) >= lit(lo) && col(pcol) <= lit(hi))

  /** Manifest-pruned PREFIX scan: the rows whose `pcol` starts with
    * `prefix`, scanning only the live files whose string bounds can
    * hold such a key — the domain/path-prefix probe of a URL-keyed
    * corpus ("all of en.wikipedia.org"). Returns the frame plus
    * (files touched, files live). */
  def readPrefix(spark: SparkSession, root: String,
                 pcol: String, prefix: String,
                 version: Option[Long] = None): (DataFrame, Int, Int) = {
    require(prefix.nonEmpty, "readPrefix needs a non-empty prefix")
    prunedRead(spark, root, version, Seq(StringStartsWith(pcol, prefix)),
      col(pcol).startsWith(prefix))
  }

  /** Point lookup with BLOOM skipping: the rows whose `pcol` is one of
    * `values`. Beyond what ranges prune, a per-file bloom written at
    * commit time ([[append]]'s `bloomCols`) skips every file that
    * provably lacks all probed keys — the prune min/max cannot make
    * when every file spans the key space (hash-distributed ingest).
    * False positives only ever ADD a file, never lose a row.
    *
    * Planning runs no Spark job and reads O(live files) bytes: the
    * log prunes, memoized footers ([[footerOf]]) give row-group bounds
    * and bloom offsets, each surviving bloom is probed one 32-byte
    * block per key ([[BloomProbe]]), and the frame's schema resolves
    * on the driver ([[scanSchema]]). Collecting the frame is the one
    * job. Returns the frame plus (files touched, files live). */
  def pointLookup(spark: SparkSession, root: String,
                  pcol: String, values: Seq[Long],
                  version: Option[Long] = None): (DataFrame, Int, Int) = {
    require(values.nonEmpty, "pointLookup needs at least one value")
    prunedRead(spark, root, version, Seq(In(pcol, values.toArray[Any])),
      col(pcol).isin(values: _*))
  }

  /** [[pointLookup]] for STRING keys — the high-cardinality id shape
    * of document stores (URLs, content hashes, doc ids). A null value
    * matches nothing (SQL IN). Returns the frame plus
    * (files touched, files live). */
  def pointLookupString(spark: SparkSession, root: String,
                        pcol: String, values: Seq[String],
                        version: Option[Long] = None)
      : (DataFrame, Int, Int) = {
    require(values.nonEmpty, "pointLookupString needs at least one value")
    prunedRead(spark, root, version, Seq(In(pcol, values.toArray[Any])),
      col(pcol).isin(values: _*))
  }

  /** Exactly-once streaming append: commit `df` as a new version
    * carrying `batchId` INSIDE the commit, or return None when some
    * version already carries it — a foreachBatch retry after a sink
    * crash (files written, checkpoint not advanced; or checkpoint
    * replay after restart) re-offers the same batchId and is
    * provably skipped, so the store never double-ingests a batch.
    * An all-empty batch commits nothing and returns None (there is
    * nothing a replay could duplicate). */
  def appendBatch(df: DataFrame, root: String, batchId: Long,
                  statsCols: Seq[String] = Nil): Option[Long] = {
    val spark = df.sparkSession
    def seen = versions(spark, root).nonEmpty &&
      readLog(spark, root).exists(_.batchId.contains(batchId))
    if (seen) None // cheap fast path before paying the data write
    else {
      val hint = versions(spark, root).lastOption.getOrElse(0L) + 1
      val (laid, stats) = withDeclaredLayout(df, root, statsCols)
      val adds = writeData(laid, root, hint, stats)
      enforceConstraints(spark, root, adds)
      if (adds.isEmpty) None
      else {
        var attempts = 0
        while (attempts < 64) {
          val n = versions(spark, root).lastOption.getOrElse(0L) + 1
          // ORDER MATTERS: the marker check happens AFTER observing
          // version n-1 committed. A twin writer (restarted stream,
          // zombie executor) offering the same batch either committed
          // before that observation — visible here, we stand down —
          // or commits after it, claiming version n and forcing our
          // commit into this conflict-and-recheck loop. Either way
          // the store ingests the batch exactly once.
          if (seen) return None
          try {
            commitLog(spark, root, n, adds, Seq.empty, Some(batchId))
            return Some(n)
          } catch { case _: CommitConflictException => attempts += 1 }
        }
        throw new java.io.IOException(
          s"appendBatch($batchId) lost the commit race $attempts " +
            s"times at $root — livelocked against a faster writer")
      }
    }
  }

  /** Rewrite only the live files SMALLER than `smallBytes` into
    * ~`targetBytes` files as a new version — the steady-state
    * maintenance shape under streaming ingest. Per-batch commits
    * accumulate small files; compacting just those keeps each
    * maintenance commit proportional to the SMALL-FILE BACKLOG,
    * never the table (a full [[compact]] under continuous ingest
    * would rewrite the whole live set again and again — quadratic
    * write amplification over the table's lifetime). Files already
    * at size stay untouched and stay live. Content-identical to the
    * previous version; fewer than two small files is a provable
    * no-op that commits nothing. */
  def compactSmall(spark: SparkSession, root: String,
                   smallBytes: Long, targetBytes: Long,
                   statsCols: Seq[String] = Nil,
                   bloomCols: Seq[String] = Nil): Long = {
    require(targetBytes > 0, s"targetBytes must be positive: $targetBytes")
    val (prev, live, _) = fileSnapshot(spark, root, None, "compactSmall")
    val fs = fsOf(spark, new Path(root))
    val small = live.filter(e =>
      sizeOf(spark, root, e) < smallBytes)
    if (small.size < 2) return prev // nothing worth merging
    val bytes = small.map(e =>
      sizeOf(spark, root, e)).sum
    val nOut = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    val df = readLiveFiles(spark, root, prev, small)
      .repartition(nOut)
    val n = prev + 1
    commitLayoutRebasing(spark, root, n,
      writeData(df, root, n, statsCols, bloomCols), small.map(_.path))
  }

  /** Maintenance policy for a streaming sink: once the live set
    * exceeds `maxLiveFiles`, the sink folds the small-file backlog
    * into ~`targetBytes` files via [[compactSmall]] — as an ordinary
    * store commit, so readers pinned to pre-compaction versions are
    * untouched and the batch-id ledger is unaffected. */
  final case class SinkMaintenance(maxLiveFiles: Int,
                                   targetBytes: Long = 128L << 20)

  /** Structured-streaming sink: every micro-batch becomes one
    * [[appendBatch]] commit, so readers always see whole batches
    * (snapshot isolation per micro-batch) and a restarted query
    * cannot double-append. Runs AvailableNow and blocks until
    * drained.
    *
    * With `maintenance` set, the sink self-heals the small-file
    * accumulation streaming ingest creates: after a batch COMMITS
    * (never on a replayed/skipped one — a checkpoint replay must
    * leave the store byte-identical), if live files exceed the
    * threshold, the backlog compacts as its own commit. The check is
    * metadata-sized (log replay + file stats). */
  def sinkStream(stream: DataFrame, root: String,
                 checkpoint: String,
                 maintenance: Option[SinkMaintenance] = None,
                 statsCols: Seq[String] = Nil): Unit = {
    val q = stream.writeStream
      .foreachBatch { (b: DataFrame, id: Long) =>
        val committed = appendBatch(b, root, id, statsCols)
        if (committed.nonEmpty) maintenance.foreach { m =>
          val spark = b.sparkSession
          val live = liveAt(spark, root, versions(spark, root).last)
          if (live.size > m.maxLiveFiles)
            compactSmall(spark, root,
              smallBytes = m.targetBytes, targetBytes = m.targetBytes,
              statsCols = statsCols)
        }
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Copy-on-write row deletes — the right-to-be-forgotten op a
    * training-data store must answer without rewriting the world.
    * `pred` selects the rows to REMOVE; `pruneBy = (column, lo, hi)`
    * is the caller's skipping hint ("every matching row has `column`
    * in [lo, hi]" — the same explicit-interval contract file-skipping
    * readers run): live files whose footer [min, max] for that column
    * doesn't intersect [lo, hi] are not read, not rewritten, and stay
    * live; only intersecting files are rewritten with the matching
    * rows dropped. At 100 TB deleting one user's documents touches
    * the files that can contain them, proportional to the key's
    * locality in the layout, never the table. Old snapshots keep the
    * deleted rows until [[vacuum]] retires them — deletion is a new
    * VERSION, so the audit trail survives exactly as long as the
    * retention window says it should.
    *
    * Returns the committed version, or the current latest when no
    * file overlaps the hint (a provable no-op commits nothing). */
  def deleteWhere(spark: SparkSession, root: String,
                  pred: org.apache.spark.sql.Column,
                  pruneBy: (String, Long, Long),
                  statsCols: Seq[String] = Nil,
                  bloomCols: Seq[String] = Nil): Long = {
    val (pcol, lo, hi) = pruneBy
    require(lo <= hi, s"empty prune interval [$lo, $hi]")
    val (prev, liveNow, declared) =
      fileSnapshot(spark, root, None, "deleteWhere")
    val touched =
      prunedFiles(spark, root, liveNow, declared, within(pcol, lo, hi))
    if (touched.isEmpty) return prev
    // keep a row unless the predicate is DEFINITELY true: under
    // three-valued logic `!pred` drops NULL-valued rows the caller
    // never selected — a silent data loss, not a delete
    val kept = readLiveFiles(spark, root, prev, touched)
      .where(!coalesce(pred, lit(false)))
    val n = prev + 1
    commitExclusive(spark, root, n,
      writeData(kept, root, n, statsCols, bloomCols),
      touched.map(_.path), marker = Some("rewrite"))
    n
  }

  /** Predicate-scoped atomic overwrite — "replace this slice" as ONE
    * commit: every live row matching `pred` is removed and `df`
    * inserted, so readers see either the old slice or the new one,
    * never a window with both gone (the delete-then-append gap) or
    * doubled (append-then-delete). This is the idempotent-backfill
    * workhorse: re-running a day's pipeline replaces exactly that
    * day, a crash between nothing — the reference's replace-partition
    * sink posture under snapshot isolation.
    *
    * Containment contract (checked, one pass over the batch): every
    * row of `df` must DEFINITELY satisfy `pred` — otherwise a retried
    * backfill would duplicate the out-of-scope rows it smuggled in,
    * exactly the corruption the operation exists to prevent. NULL
    * predicate rows fail the check (not definitely in scope).
    * `pruneBy` must cover `pred` (the [[deleteWhere]] hint contract);
    * rows where `pred` is NULL are KEPT (three-valued delete
    * semantics). Returns the committed version. */
  def replaceWhere(df: DataFrame, root: String,
                   pred: org.apache.spark.sql.Column,
                   pruneBy: (String, Long, Long),
                   statsCols: Seq[String] = Nil,
                   bloomCols: Seq[String] = Nil): Long = {
    val spark = df.sparkSession
    val (pcol, lo, hi) = pruneBy
    require(lo <= hi, s"empty prune interval [$lo, $hi]")
    val (prev, live, declared) =
      fileSnapshot(spark, root, None, "replaceWhere")
    val store = read(spark, root, Some(prev))
    require(df.columns.sorted.sameElements(store.columns.sorted),
      s"replaceWhere schema mismatch at $root: batch " +
        s"[${df.columns.sorted.mkString(",")}] vs table " +
        s"[${store.columns.sorted.mkString(",")}]")
    val n = prev + 1
    // stage the batch's files FIRST, then probe containment on the
    // staged bytes themselves: a non-deterministic df could pass a
    // pre-write probe and still write rows outside pred — re-creating
    // the duplicate-on-rerun hazard the check exists to prevent
    // (ADVICE r11). A violation deletes the staged files and aborts
    // before any commit.
    val batchAdds = writeData(
      df.select(store.columns.map(col): _*), root, n, statsCols,
      bloomCols)
    val staged =
      if (batchAdds.isEmpty) df.limit(0)
      else scanFiles(spark, root, None, batchAdds)
    val escapee = staged.where(!coalesce(pred, lit(false))).limit(1)
      .collect() // bounded: first violation only
    if (escapee.nonEmpty) {
      val fs = fsOf(spark, new Path(root))
      batchAdds.map(_.path.split('/').dropRight(1).mkString("/"))
        .distinct.foreach(d => fs.delete(new Path(s"$root/$d"), true))
      throw new IllegalArgumentException(
        s"replaceWhere batch carries a row OUTSIDE its own predicate " +
          s"(e.g. $pcol=${escapee.headOption.map(r =>
            if (r.schema.fieldNames.contains(pcol))
              r.get(r.fieldIndex(pcol)) else r).orNull}) — a replaced " +
          "slice must contain only rows it replaces, or re-runs " +
          "duplicate")
    }
    val touched =
      prunedFiles(spark, root, live, declared, within(pcol, lo, hi))
    val kept =
      if (touched.isEmpty) df.limit(0).select(store.columns.map(col): _*)
      else readLiveFiles(spark, root, prev, touched)
        .where(!coalesce(pred, lit(false)))
    val adds = batchAdds ++ writeData(kept, root, n, statsCols, bloomCols)
    enforceConstraints(spark, root, adds)
    commitExclusive(spark, root, n, adds, touched.map(_.path),
      marker = Some("rewrite"))
    n
  }

  /** Copy-on-write MERGE — upsert by `key`, the CDC ingestion
    * workhorse: every live row whose key appears (non-null) in
    * `updates` is replaced by its update row; unmatched update rows
    * insert. Three-level touch discovery keeps the rewrite
    * proportional to the CHANGE, not the table:
    *
    *  1. the log-carried [min, max] of the update batch's key span
    *     prunes whole files with ZERO IO (long and string keys both;
    *     other key types fall through to level 2);
    *  2. ONE distributed scan of the surviving candidates, joined to
    *     the distinct update keys on `_metadata.file_path`, yields
    *     the files that actually hold a matched row — range overlaps
    *     that hold no key drop out here, so a false candidate costs
    *     a scan, never a rewrite;
    *  3. only those files are rewritten (matched rows anti-joined
    *     away); the update rows land as fresh files in the same
    *     commit.
    *
    * Soundness: pruning only ever widens the candidate set, and the
    * exact scan catches every file the prune admits — a file outside
    * the candidates provably holds no update key. NULL keys never
    * equal anything (SQL join semantics): null-keyed update rows
    * insert, null-keyed target rows survive. Snapshot-dependent: a
    * concurrent commit between the live-set read and this commit
    * fails loudly (re-read and retry). An all-null or empty update
    * batch is a no-action commit.
    *
    * At 100 TB this is the shape that matters: a CDC batch touching
    * 0.1% of keys rewrites ~0.1% of a key-clustered table's files
    * ([[optimizeLayout]] keeps them clustered), while the naive
    * overwrite-with-join rewrites all of it. */
  def merge(updates: DataFrame, root: String, key: String,
            statsCols: Seq[String] = Nil,
            bloomCols: Seq[String] = Nil): Long =
    cowUpsert(updates, updates, root, key, statsCols, bloomCols, "merge")

  /** Apply a CDC batch — upserts AND deletes in ONE commit, the
    * consumer side of [[readChangesSince]]: `changes` carries the
    * table's columns plus `opCol` ∈ {"upsert", "delete"}. Every live
    * row whose key appears in the batch (either op) is removed via
    * the merge touch discovery; the upsert rows then insert — a
    * delete is "remove and don't re-insert", an upsert is "remove
    * and re-insert", one proportional rewrite either way. The batch
    * must carry at most one row per key: a key that is both upserted
    * and deleted has no well-defined outcome, so ambiguity fails
    * loudly instead of resolving by accident of row order. A
    * null-keyed delete matches nothing (SQL semantics) and is
    * dropped; a null-keyed upsert inserts. */
  def applyChanges(changes: DataFrame, root: String, key: String,
                   opCol: String = "_op",
                   statsCols: Seq[String] = Nil,
                   bloomCols: Seq[String] = Nil): Long = {
    require(changes.columns.contains(opCol),
      s"applyChanges needs the op column $opCol")
    // both batch screens (known ops, at most one row per key) ride
    // ONE aggregate action: per-key partial agg, then a one-row
    // global rollup — each extra action here re-ran the whole batch
    // (for a feed-driven apply, the change-feed scan)
    val screen = changes.groupBy(col(key))
      .agg(count(lit(1)).as("__graft_n"),
        collect_set(when(!col(opCol).isin("upsert", "delete"),
          col(opCol))).as("__graft_badops"))
      .agg(
        array_sort(array_distinct(flatten(
          collect_list(col("__graft_badops"))))).as("badOps"),
        min(when(col(key).isNotNull && col("__graft_n") > 1,
          col(key).cast("string"))).as("dupKey"),
        // the batch's key span rides the same rollup, sparing
        // cowUpsert its own span aggregate over the feed
        min(col(key)).as("kmin"), max(col(key)).as("kmax"))
      .collect()(0)
    val badOps = screen.getSeq[String](0)
    require(badOps.isEmpty,
      s"unknown ops ${badOps.mkString(",")} " +
        s"in $opCol — applyChanges understands upsert and delete")
    require(screen.isNullAt(1),
      s"applyChanges batch carries key ${Some(screen.getString(1))} " +
        "more than once — one row per key, or the outcome would depend " +
        "on row order")
    cowUpsert(changes.where(col(opCol) === "upsert").drop(opCol),
      changes.drop(opCol), root, key, statsCols, bloomCols,
      "applyChanges",
      precomputedSpan =
        Some(org.apache.spark.sql.Row(screen.get(2), screen.get(3))))
  }

  /** Shared copy-on-write upsert machinery: rows of `keyRows` whose
    * `key` is live get their files rewritten without them; `inserts`
    * lands as fresh files in the same commit. See [[merge]] for the
    * three-level touch discovery and its soundness argument. */
  private def cowUpsert(inserts: DataFrame, keyRows: DataFrame,
                        root: String, key: String,
                        statsCols: Seq[String],
                        bloomCols: Seq[String], opName: String,
                        batchId: Option[Long] = None,
                        precomputedSpan: Option[org.apache.spark.sql.Row]
                          = None): Long = {
    val spark = inserts.sparkSession
    val (prev, live, declared) = fileSnapshot(spark, root, None, opName)
    val store = read(spark, root, Some(prev))
    // schema contract: an upsert that widened or narrowed the row
    // shape would leave a mixed-schema live set behind — loud, not
    // latent (column ADDS go through readAs/SchemaEvolution)
    require(inserts.columns.sorted.sameElements(store.columns.sorted),
      s"$opName schema mismatch at $root: batch " +
        s"[${inserts.columns.sorted.mkString(",")}] vs table " +
        s"[${store.columns.sorted.mkString(",")}]")
    require(inserts.columns.contains(key), s"$opName key $key not in batch")
    val aligned = inserts.select(store.columns.map(col): _*)
    import org.apache.spark.sql.types._
    // level 1: log-stats prune on the batch's key span (one agg job,
    // or zero when the caller's batch screen already computed it)
    val span = precomputedSpan.getOrElse(
      keyRows.agg(min(col(key)), max(col(key))).collect()(0))
    val candidates: Seq[FileEntry] =
      if (span.isNullAt(0)) Seq.empty // no non-null keys: no matches
      else keyRows.schema(key).dataType match {
        case ByteType | ShortType | IntegerType | LongType | StringType =>
          prunedFiles(spark, root, live, declared,
            within(key, span.get(0), span.get(1)))
        case _ => live // unpruneable key type: exact scan decides
      }
    val keys = keyRows.select(col(key).as("__merge_key"))
      .where(col("__merge_key").isNotNull).distinct()
    // level 2: exact touched-file discovery — bounded by file count.
    // (Measured-and-rejected, r15: overlapping the discovery chain
    // with the new-content write on a two-thread pool made every DML
    // gate SLOWER — q_store_mirror 5.8→9.7 s — concurrent Catalyst
    // planning on the driver contends worse than the ~2 small jobs
    // it hides; sequential stands.)
    val touched: Seq[String] =
      if (candidates.isEmpty) Seq.empty
      else readLiveFiles(spark, root, prev, candidates)
        .select(col(key), col("_metadata.file_path").as("__f"))
        .join(keys, col(key) === col("__merge_key"))
        .select("__f").distinct()
        .collect().map(_.getString(0)).toSeq
        .map(u => candidates.map(_.path)
          .find(p => u.endsWith("/" + p) || u.endsWith(p))
          .getOrElse(throw new IllegalStateException(
            s"scanned file $u is not a candidate of $root")))
    // level 3: rewrite ONLY the touched files, matched rows dropped
    val survivors =
      if (touched.isEmpty) None
      else {
        val byPath = candidates.map(e => e.path -> e).toMap
        Some(readLiveFiles(spark, root, prev, touched.map(byPath))
          .join(keys, col(key) === col("__merge_key"), "left_anti"))
      }
    val n = prev + 1
    // Constraint-free stores (the common case) land new content and
    // survivor rewrites in ONE write job — same files' worth of
    // content, one scheduler round trip instead of two. A constrained
    // store keeps the two-write shape: validation must see ONLY the
    // new content (survivors are a subset of rows that already
    // passed; re-validating them would re-read the whole rewrite).
    val adds =
      if (survivors.isEmpty ||
          activeConstraints(spark, root, prev).nonEmpty) {
        val newAdds = writeData(aligned, root, n, statsCols, bloomCols)
        enforceConstraints(spark, root, newAdds)
        newAdds ++
          survivors.map(sv => writeData(sv, root, n, statsCols, bloomCols))
            .getOrElse(Seq.empty)
      } else
        writeData(aligned.unionByName(survivors.get), root, n,
          statsCols, bloomCols)
    // a batch that touched nothing is a pure append: no rewrite
    // marker, so an adds-only change feed stays consumable across it
    commitExclusive(spark, root, n, adds, touched,
      marker = if (touched.isEmpty) None else Some("rewrite"),
      batchId = batchId)
    n
  }

  /** Exactly-once streaming MERGE: reduce the micro-batch to its
    * latest row per `key` (ordered by `latestBy`, descending — the
    * CDC last-writer-wins contract), then upsert it with the batch id
    * riding INSIDE the commit; a foreachBatch retry after a sink
    * crash sees the id and stands down, exactly the [[appendBatch]]
    * posture applied to merges. Returns None when the batch was
    * already committed (or reduces to nothing). The FIRST batch into
    * an empty store is a plain keyed append (nothing to match).
    *
    * Unlike appendBatch, a merge is ORDER-dependent (later batches
    * overwrite earlier keys), so this sink is single-logical-writer:
    * a concurrent committer surfaces as the loud
    * ConcurrentModificationException, never an interleaved history. */
  def mergeBatch(updates: DataFrame, root: String, key: String,
                 batchId: Long, latestBy: Seq[String],
                 statsCols: Seq[String] = Nil): Option[Long] = {
    require(latestBy.nonEmpty,
      "mergeBatch needs latestBy columns — without an order, which of " +
        "a key's rows within one batch wins is nondeterministic")
    val spark = updates.sparkSession
    def seen = versions(spark, root).nonEmpty &&
      readLog(spark, root).exists(_.batchId.contains(batchId))
    if (seen) return None
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(key)).orderBy(latestBy.map(col(_).desc): _*)
    val latest = updates.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1).drop("__rn")
    if (latest.isEmpty) return None // empty batch: never a commit
    if (versions(spark, root).isEmpty) {
      val adds = writeData(latest, root, 1L, statsCols)
      if (adds.isEmpty) None
      else { commitExclusive(spark, root, 1L, adds, Seq.empty,
        batchId = Some(batchId)); Some(1L) }
    } else
      Some(cowUpsert(latest, latest, root, key, statsCols, Nil,
        "mergeBatch", Some(batchId)))
  }

  /** Drive a stream of CDC rows into the store as exactly-once
    * MERGE commits — the continuously-mirrored-table sink: each
    * micro-batch upserts its latest row per `key`. One commit per
    * batch, checkpoint-replay safe, single logical writer (see
    * [[mergeBatch]]). */
  def sinkStreamMerge(stream: DataFrame, root: String, key: String,
                      checkpoint: String, latestBy: Seq[String],
                      statsCols: Seq[String] = Nil): Unit = {
    val q = stream.writeStream
      .foreachBatch { (b: DataFrame, id: Long) =>
        mergeBatch(b, root, key, id, latestBy, statsCols)
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** The latest version whose commit was PUBLISHED at or before
    * `tsMillis` — time travel by timestamp, resolved from the log
    * dirs' modification times (the rename that publishes a commit
    * stamps it; the Delta timestamp-resolution model). Loud when the
    * timestamp precedes every surviving commit: resolving it to the
    * oldest version would silently read data the caller never meant.
    * Caveat (also Delta's): [[vacuum]] rewrites the horizon commit
    * as a checkpoint, refreshing its publish time — timestamps at or
    * below the horizon are retired along with the versions they
    * named. */
  def versionAt(spark: SparkSession, root: String,
                tsMillis: Long): Long = {
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"no committed versions at $root")
    val fs = fsOf(spark, new Path(s"$root/$Log"))
    val stamped = vs.map(v =>
      v -> fs.getFileStatus(new Path(s"$root/$Log/v=$v"))
        .getModificationTime)
    val at = stamped.filter(_._2 <= tsMillis).map(_._1)
    require(at.nonEmpty,
      s"timestamp $tsMillis precedes every commit at $root " +
        s"(oldest published ${stamped.head._2}) — nothing to read")
    at.max
  }

  /** Snapshot read as of a wall-clock instant:
    * `read(root, versionAt(ts))`. */
  def readAt(spark: SparkSession, root: String,
             tsMillis: Long): DataFrame =
    read(spark, root, Some(versionAt(spark, root, tsMillis)))

  /** Time-based retention — the operational dial ("keep 7 days")
    * composed from [[versionAt]]'s publish-time model and [[vacuum]]:
    * retire every version published before `cutoffMillis`, always
    * keeping the latest. The caller computes the cutoff (now minus
    * the retention window), which keeps this deterministic and
    * testable; the vacuum caveats (checkpoint at the horizon,
    * in-flight-writer safety, pinned readers fail loudly past the
    * horizon) apply unchanged. */
  def vacuumOlderThan(spark: SparkSession, root: String,
                      cutoffMillis: Long): Unit = {
    val vs = versions(spark, root)
    if (vs.isEmpty) return
    val fs = fsOf(spark, new Path(s"$root/$Log"))
    val keep = vs.count(v =>
      fs.getFileStatus(new Path(s"$root/$Log/v=$v"))
        .getModificationTime >= cutoffMillis)
    vacuum(spark, root, keepVersions = math.max(1, keep))
  }

  /** CHECK constraints active at `asOf`: (name, boolean SQL expr)
    * pairs, latest declaration per name wins, drops remove. Replayed
    * from the log's metadata rows — versioned exactly like data, so
    * time travel knows when enforcement started, and [[vacuum]]'s
    * checkpoint carries the active set past the horizon. */
  def activeConstraints(spark: SparkSession, root: String,
                        asOf: Long): Seq[(String, String)] = {
    readLogTo(spark, root, asOf) // bounded: constraints, not rows
      .filter(r => r.action == "constraint" ||
        r.action == "constraint_drop")
      .groupBy(_.path)
      .flatMap { case (name, rs) =>
        val last = rs.maxBy(_.v)
        if (last.action == "constraint")
          Some((name, last.meta.getOrElse(""))) else None
      }
      .toSeq.sortBy(_._1)
  }

  /** Declare a CHECK constraint as a commit: every future write of
    * NEW content (append/overwrite/merge/CDC/streaming) must satisfy
    * `exprSql` or the commit is refused with the staged files
    * abandoned to the vacuum sweep. SQL CHECK semantics: NULL passes
    * (only a definite false violates). The Delta ADD CONSTRAINT
    * contract applies at declaration: existing rows must already
    * satisfy it — validated here with one scan — so content-identical
    * rewrites (compact/OPTIMIZE) never need re-validation and skip
    * the check entirely. */
  def addConstraint(spark: SparkSession, root: String,
                    name: String, exprSql: String): Long = {
    require(name.nonEmpty && !name.contains("/") && !name.contains("="),
      s"constraint name must be a plain identifier: $name")
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"no committed versions at $root")
    val prev = vs.last
    val bad = read(spark, root, Some(prev))
      .where(!coalesce(expr(exprSql), lit(true))).limit(1).collect()
    require(bad.isEmpty,
      s"cannot add CHECK constraint $name at $root: existing rows " +
        s"violate ($exprSql), e.g. ${bad.headOption.getOrElse("")}")
    val n = prev + 1
    commitExclusive(spark, root, n, Seq.empty, Seq.empty,
      metaRows = Seq((name, "constraint", exprSql)))
    n
  }

  /** Drop a CHECK constraint (a commit; history keeps the old
    * enforcement window visible). Dropping an unknown name is loud —
    * a typo here would otherwise silently keep enforcing. */
  def dropConstraint(spark: SparkSession, root: String,
                     name: String): Long = {
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"no committed versions at $root")
    require(activeConstraints(spark, root, vs.last).exists(_._1 == name),
      s"no active constraint named $name at $root")
    val n = vs.last + 1
    commitExclusive(spark, root, n, Seq.empty, Seq.empty,
      metaRows = Seq((name, "constraint_drop", "")))
    n
  }

  /** Validate freshly-written NEW-content files against the active
    * constraints BEFORE their commit: reads back what was actually
    * persisted (column-pruned to the expressions' needs), so even a
    * nondeterministic upstream can't sneak a violation in. On
    * violation the staged files stay unreferenced (vacuum sweeps
    * them) and the commit never happens. */
  private[graft] def enforceConstraints(spark: SparkSession, root: String,
                                        entries: Seq[FileEntry]): Unit = {
    if (entries.isEmpty) return
    val vs = versions(spark, root)
    if (vs.isEmpty) return // first-ever write: nothing declared yet
    val cs = activeConstraints(spark, root, vs.max)
    if (cs.isEmpty) return
    val df = readLiveFiles(spark, root, vs.max, entries)
    cs.foreach { case (name, exprSql) =>
      val bad = df.where(!coalesce(expr(exprSql), lit(true)))
        .limit(1).collect()
      if (bad.nonEmpty) throw new IllegalArgumentException(
        s"CHECK constraint $name violated at $root: ($exprSql) is " +
          s"false for row ${bad.head} — commit refused, staged files " +
          "abandoned to the vacuum sweep")
    }
  }

  /** Zero-copy SHALLOW CLONE: `dstRoot`'s version 1 re-ADDS the live
    * files of `srcRoot` at `version` by ABSOLUTE path — an instantly
    * materialized dev/experiment branch of a 100 TB table, no data
    * movement, stats maps carried so pruning works unchanged. The
    * clone owns none of the referenced data: copy-on-write ops
    * (merge/applyChanges/deleteWhere/compact/optimize) write their
    * rewrites into the clone's own data dir and re-reference less
    * and less of the source, the source is never mutated, and the
    * clone's [[vacuum]] can never delete source files (its sweep
    * walks only the clone's own data dir). Retention caveat — the
    * standard lakehouse clone contract: the SOURCE's vacuum does not
    * know about clones; keep source retention wider than any clone's
    * pin, or the clone fails loudly on the missing files it reads
    * (`ignoreMissingFiles=false`), never partial rows. A typed read
    * whose prune refutes every file from the log or memoized footers
    * reads no file, so it answers empty without noticing the loss —
    * still the snapshot's content for that filter. */
  def shallowClone(spark: SparkSession, srcRoot: String,
                   dstRoot: String,
                   version: Option[Long] = None): Long = {
    require(srcRoot.startsWith("/") || srcRoot.contains("://"),
      s"shallowClone needs an absolute source root: $srcRoot")
    val vs = versions(spark, srcRoot)
    require(vs.nonEmpty, s"no committed versions at $srcRoot")
    require(versions(spark, dstRoot).isEmpty,
      s"clone target $dstRoot already has commits")
    val v = version.getOrElse(vs.max)
    val srcLive = liveAt(spark, srcRoot, v)
    // a clone re-references FILES; active delete vectors would be
    // left behind, silently resurrecting deleted rows in the clone
    requireNoDvs(spark, srcRoot, v, srcLive, "shallowClone")
    val entries = srcLive.map(e => e.copy(path = resolve(srcRoot, e.path)))
    // schema anchor: clones of empty snapshots still read typed-empty
    val anchor = new Path(s"$dstRoot/_schema")
    val afs = fsOf(spark, anchor)
    if (!afs.exists(anchor)) {
      val staged = new Path(s"$dstRoot/.schema_tmp-clone")
      writeSchemaDir(spark, staged,
        read(spark, srcRoot, Some(v)).schema)
      if (afs.rename(staged, anchor)) {
        val nested = new Path(anchor, staged.getName)
        if (afs.exists(nested)) afs.delete(nested, true)
      } else afs.delete(staged, true)
    }
    commitLog(spark, dstRoot, 1L, entries, Seq.empty)
    1L
  }

  /** Roll the table back to `toVersion`'s content as a NEW commit —
    * the undo every versioned store owes its operators (a bad
    * overwrite or delete is reverted forward, never by mutating
    * history). Zero data movement: files are immutable, so the
    * restore commit simply re-ADDS the target snapshot's files
    * (stats maps ride along) and removes the current live set;
    * every version including the mistake stays readable until
    * [[vacuum]] retires it. The target must still be within the
    * retention window — a vacuumed version is gone and fails
    * loudly in [[read]]'s version check. */
  def restore(spark: SparkSession, root: String,
              toVersion: Long): Long = {
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"no committed versions at $root")
    val prev = vs.last
    val target = liveAt(spark, root, toVersion) // loud if vacuumed
    // restore re-ADDS files; delete vectors are versioned separately
    // and would re-apply to the restored files out of their epoch
    requireNoDvs(spark, root, prev, liveAt(spark, root, prev),
      "restore")
    requireNoDvs(spark, root, toVersion, target, "restore (target)")
    val current = liveAt(spark, root, prev).map(_.path)
    val n = prev + 1
    // a file live in BOTH stays live: remove only what the target
    // lacks, add only what the current set lacks — the minimal diff
    // keeps the log commit proportional to the actual change
    val targetPaths = target.map(_.path).toSet
    commitExclusive(spark, root, n,
      target.filterNot(e => current.contains(e.path)),
      current.filterNot(targetPaths.contains),
      marker = Some("rewrite"))
    n
  }

  /** Layout OPTIMIZE as a commit: rewrite the live set RANGE-
    * CLUSTERED on `clusterCol` into ~targetBytes files — after it,
    * per-file [min, max] intervals are (sample-boundary) disjoint,
    * so a [[readRange]] point probe opens ~one file instead of every
    * file that ever ingested part of the key space. Content-
    * identical to the previous version (same rows, new layout); the
    * cluster column is always captured into the log stats so the
    * optimized files prune with zero IO. This is [[Layout]]'s
    * clustered-write posture joined to snapshot isolation: readers
    * pinned to the old version keep the old files, and a crash
    * mid-rewrite publishes nothing. */
  def optimizeLayout(spark: SparkSession, root: String,
                     clusterCol: String, targetBytes: Long,
                     statsCols: Seq[String] = Nil,
                     bloomCols: Seq[String] = Nil): Long = {
    require(targetBytes > 0, s"targetBytes must be positive: $targetBytes")
    val (prev, live, _) = fileSnapshot(spark, root, None, "optimizeLayout")
    if (live.isEmpty) {
      return commitLayoutRebasing(spark, root, prev + 1,
        Seq.empty, Seq.empty)
    }
    val fs = fsOf(spark, new Path(root))
    val bytes = live.map(e =>
      sizeOf(spark, root, e)).sum
    val nOut = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    val df = readLiveFiles(spark, root, prev, live)
      .repartitionByRange(nOut, col(clusterCol))
      .sortWithinPartitions(clusterCol)
    val n = prev + 1
    commitLayoutRebasing(spark, root, n,
      writeData(df, root, n, (statsCols :+ clusterCol).distinct,
        bloomCols),
      live.map(_.path))
  }

  /** SCOPED layout OPTIMIZE — recluster only the live files whose
    * logged [min, max] for `clusterCol` can intersect [lo, hi]: the
    * steady-state maintenance shape under continuous ingest, where
    * yesterday's landing zone needs clustering and last year's
    * already-clustered files must NOT be rewritten again (a full
    * [[optimizeLayout]] per day is quadratic write amplification over
    * the table's lifetime, the [[compactSmall]] argument applied to
    * clustering). The rewrite is proportional to the SCOPE —
    * planning is log-only, untouched files stay live, and the commit
    * is a "layout" marker (content-identical: feeds skip it, pinned
    * readers keep the old layout). Returns the committed version, or
    * the current one when fewer than two files overlap (nothing to
    * gain — a no-op commits nothing). */
  def optimizeLayoutWhere(spark: SparkSession, root: String,
                          clusterCol: String, lo: Long, hi: Long,
                          targetBytes: Long,
                          statsCols: Seq[String] = Nil,
                          bloomCols: Seq[String] = Nil): Long = {
    require(targetBytes > 0, s"targetBytes must be positive: $targetBytes")
    require(lo <= hi, s"empty scope interval [$lo, $hi]")
    val (prev, live, declared) =
      fileSnapshot(spark, root, None, "optimizeLayoutWhere")
    val touched =
      prunedFiles(spark, root, live, declared, within(clusterCol, lo, hi))
    if (touched.size < 2) return prev
    val bytes = touched.map(e => sizeOf(spark, root, e)).sum
    val nOut = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    val df = readLiveFiles(spark, root, prev, touched)
      .repartitionByRange(nOut, col(clusterCol))
      .sortWithinPartitions(clusterCol)
    val n = prev + 1
    commitLayoutRebasing(spark, root, n,
      writeData(df, root, n, (statsCols :+ clusterCol).distinct,
        bloomCols),
      touched.map(_.path))
  }

  /** Multi-dimensional layout OPTIMIZE as a commit: rewrite the live
    * set clustered on the HILBERT index of (`xCol`, `yCol`) —
    * [[Layout]]'s space-filling-curve layout joined to snapshot
    * isolation. The curve key is an ORDERING DEVICE only, never
    * persisted (schema unchanged): a curve maps 1-D file boundaries
    * to compact 2-D tiles, so every rewritten file's per-column
    * [min, max] for BOTH xCol and yCol come out simultaneously
    * narrow, and the ordinary log-stats pruning ([[readBox]]) does
    * the rest — the same design every lakehouse Z-ORDER ships.
    * Compare [[optimizeLayout]]: a 1-D range cluster makes one
    * column's ranges disjoint and leaves the other's spanning the
    * whole table, so a probe tight only in the second column prunes
    * nothing there. Both cluster columns are always captured into
    * the log stats. Values must fit the curve grid `[0, 2^bits)` —
    * pre-scale with [[Layout.normalize]] otherwise. */
  def optimizeLayoutCurve(spark: SparkSession, root: String,
                          xCol: String, yCol: String, bits: Int,
                          targetBytes: Long,
                          statsCols: Seq[String] = Nil,
                          bloomCols: Seq[String] = Nil): Long = {
    require(targetBytes > 0, s"targetBytes must be positive: $targetBytes")
    val (prev, live, _) = fileSnapshot(spark, root, None, "optimizeLayout")
    if (live.isEmpty) {
      return commitLayoutRebasing(spark, root, prev + 1,
        Seq.empty, Seq.empty)
    }
    val fs = fsOf(spark, new Path(root))
    val bytes = live.map(e =>
      sizeOf(spark, root, e)).sum
    val nOut = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    val key = Layout.hilbertValue(col(xCol), col(yCol), bits)
    val df = readLiveFiles(spark, root, prev, live)
      .repartitionByRange(nOut, key)
      .sortWithinPartitions(key)
    val n = prev + 1
    commitLayoutRebasing(spark, root, n,
      writeData(df, root, n,
        (statsCols ++ Seq(xCol, yCol)).distinct, bloomCols),
      live.map(_.path))
  }

  /** Manifest-pruned 2-D box read: the rows with `x` ∈ [xlo, xhi]
    * AND `y` ∈ [ylo, yhi], scanning only the live files whose bounds
    * can intersect both. On an [[optimizeLayoutCurve]]d table a box
    * tight in EITHER dimension prunes, because curve tiles are compact
    * in both. Returns the frame plus (files touched, files live). */
  def readBox(spark: SparkSession, root: String,
              x: (String, Long, Long), y: (String, Long, Long),
              version: Option[Long] = None): (DataFrame, Int, Int) = {
    require(x._2 <= x._3 && y._2 <= y._3,
      s"empty box [${x._2},${x._3}]×[${y._2},${y._3}]")
    prunedRead(spark, root, version,
      within(x._1, x._2, x._3) ++ within(y._1, y._2, y._3),
      col(x._1).between(x._2, x._3) && col(y._1).between(y._2, y._3))
  }

  /** Zero-mutation VACUUM DRY RUN — what [[vacuum]](keepVersions)
    * would do, answered from the COMMIT LOG ALONE: the horizon, how
    * many log versions fall, how many owned data files become
    * unreferenced, and their byte total (log-carried sizes; files
    * from pre-byte-logging commits count 0 toward bytes, never a
    * guess). Plan-before-destroy is the operational contract every
    * retention job wants: the numbers here are exactly the sweep set
    * vacuum computes, minus crash residue (uncommitted attempt dirs
    * are invisible to the log by design — vacuum sweeps them
    * opportunistically, a plan cannot promise them). Clone-external
    * (absolute-path) references are excluded: structurally
    * un-deletable from this root. */
  def vacuumPlan(spark: SparkSession, root: String,
                 keepVersions: Int): DataFrame = {
    import spark.implicits._
    require(keepVersions >= 1, s"keepVersions must be >= 1")
    val vs = versions(spark, root)
    val empty = (0L, 0L, 0L, 0L)
    if (vs.isEmpty)
      return Seq(empty).toDF("horizon", "n_versions_dropped",
        "n_files_swept", "bytes_swept").limit(0)
    val horizon = math.max(vs.head, vs.last - keepVersions + 1)
    val dropped = vs.filter(_ < horizon)
    val keepSet = vs.filter(_ >= horizon)
      .flatMap(liveAt(spark, root, _)).map(_.path).toSet
    val swept = dropped.flatMap(liveAt(spark, root, _))
      .filter(e => !keepSet.contains(e.path) &&
        !e.path.startsWith("/") && !e.path.contains("://"))
      .groupBy(_.path).map(_._2.head).toSeq
    Seq((horizon, dropped.size.toLong, swept.size.toLong,
        swept.map(_.bytes).sum))
      .toDF("horizon", "n_versions_dropped", "n_files_swept",
        "bytes_swept")
  }

  /** Retire history: keep the last `keepVersions` snapshots readable,
    * write a full-manifest CHECKPOINT at the new horizon (so replay
    * never needs the dropped logs), delete the dropped log dirs and
    * every data file no surviving snapshot references. Idempotent —
    * a re-run finds nothing left to drop.
    *
    * Retention contract for pinned readers: a reader holding version
    * v < the new horizon is NOT protected — there is no lease. After
    * the vacuum, resolving v fails loudly with the surviving window
    * named ([[read]]'s version check), and a frame CONSTRUCTED before
    * the vacuum fails at execution with a missing-file error rather
    * than returning the subset of rows whose files survived
    * (`ignoreMissingFiles` is pinned false on every store read). A
    * typed read that prunes every file away reads none and answers
    * empty, which is still that snapshot's content for its filter.
    * Operators size `keepVersions` to cover their longest reader —
    * the same contract every lakehouse retention knob carries. */
  def vacuum(spark: SparkSession, root: String,
             keepVersions: Int): Unit = {
    require(keepVersions >= 1, s"keepVersions must be >= 1")
    val vs = versions(spark, root)
    if (vs.isEmpty) return
    val horizon = math.max(vs.head, vs.last - keepVersions + 1)
    if (horizon == vs.head) return
    val kept = vs.filter(_ >= horizon)
    val keepFiles = kept.flatMap(liveAt(spark, root, _))
      .map(_.path).distinct
    val fs = fsOf(spark, new Path(root))
    // checkpoint BEFORE dropping logs: horizon's log becomes a full
    // add-manifest of its live set (rename-committed like any version)
    val horizonLive = liveAt(spark, root, horizon)
    // batch ids recorded at or below the horizon must SURVIVE the
    // checkpoint (Delta keeps SetTransaction actions in checkpoints
    // for the same reason): a streaming retry after vacuum re-offers
    // an old batch id, and losing the marker would double-ingest it.
    // Inert `txn` marker rows carry them — liveAt filters on "add",
    // so they never affect snapshots.
    val none = Map.empty[String, Long]
    val snone = Map.empty[String, String]
    val seenBatches = readLogTo(spark, root, horizon)
      .flatMap(_.batchId).distinct.sorted // bounded: batches, not rows
    val target = new Path(s"$root/$Log/v=$horizon")
    val staged = new Path(s"$root/$Log/.tmp_ckpt_v$horizon")
    fs.delete(staged, true)
    // constraints declared at or below the horizon must also survive
    // the checkpoint (same posture as batch-id markers): losing one
    // would silently stop enforcing it on future writes
    val keptConstraints = activeConstraints(spark, root, horizon)
    // ...and so must delete vectors still active on the horizon's
    // live files: dropping one would resurrect deleted rows in every
    // surviving snapshot that shares the file
    val keptDvs = dvsAt(spark, root, horizon, horizonLive)
    // ...and the latest incremental-view position marker (the
    // DerivedView consumed-positions row): losing it would make the
    // next tick replay from an older position and DOUBLE-append its
    // delta — the same must-survive class as batch-id markers
    val keptViewPos = latestMeta(spark, root, "viewpos", horizon)
    // ...and the declared (ALTERed) schema: losing it would silently
    // shrink every surviving snapshot back to its data files' shape
    val keptSchema = latestMeta(spark, root, "schema", horizon)
    val noMeta = None: Option[String]
    writeLogFile(spark, staged,
      horizonLive
        .map(e => LogRow(horizon, e.path, "add", e.rows, None,
          e.mins, e.maxs, e.smins, e.smaxs, noMeta, e.bytes)) ++
        seenBatches.map(b =>
          LogRow(horizon, "", "txn", 0L, Some(b), none, none,
            snone, snone, noMeta, 0L)) ++
        keptConstraints.map { case (name, expr) =>
          LogRow(horizon, name, "constraint", 0L, None, none, none,
            snone, snone, Some(expr), 0L) } ++
        keptDvs.toSeq.flatMap { case (f, dvRels) => dvRels.map(d =>
          LogRow(horizon, f, "dv", 0L, None, none, none,
            snone, snone, Some(d), 0L)) } ++
        keptViewPos.map(p =>
          LogRow(horizon, "", "viewpos", 0L, None, none, none,
            snone, snone, Some(p), 0L)) ++
        keptSchema.map(j =>
          LogRow(horizon, "", "schema", 0L, None, none, none,
            snone, snone, Some(j), 0L)))
    val old = new Path(s"$root/$Log/.old_ckpt_v$horizon")
    fs.delete(old, true)
    if (!fs.rename(target, old))
      throw new java.io.IOException(s"cannot stage checkpoint at $target")
    if (!fs.rename(staged, target)) {
      if (fs.exists(target)) {
        // a concurrent reader's crash-recovery restored the original
        // log between our two renames — that log is intact and
        // correct, so this vacuum simply stands down: no checkpoint,
        // and crucially NO pre-horizon log/file deletion (the delta
        // log still needs them); the next vacuum retries
        fs.delete(staged, true)
        return
      }
      fs.rename(old, target)
      throw new java.io.IOException(s"cannot publish checkpoint at $target")
    }
    fs.delete(old, true)
    // drop pre-horizon logs, then any data file nothing kept references
    vs.filter(_ < horizon).foreach(v =>
      fs.delete(new Path(s"$root/$Log/v=$v"), true))
    val keepSet = keepFiles.toSet
    val dataRoot = new Path(s"$root/$Data")
    // a shallow clone that never rewrote anything owns no data dir at
    // all — nothing to sweep (its externally-referenced source files
    // are structurally out of reach of this walk)
    if (!fs.exists(dataRoot)) return
    // an IN-FLIGHT optimistic append has written its (attempt-unique)
    // data dir but not yet committed — its files are unreferenced by
    // every snapshot, exactly like crash residue. The dir's version
    // hint separates them: residue worth sweeping targeted a version
    // below the horizon; an in-flight writer's hint is at least
    // latest+1 > horizon. Dirs at or above the horizon are left for a
    // LATER vacuum (by then they are either committed and referenced,
    // or provably dead). The residual caveat is the standard lakehouse
    // retention contract: a writer stalled for longer than the
    // retention window can still lose its uncommitted files — size
    // keepVersions over the slowest writer, as with any table format.
    def dirHint(name: String): Long = {
      val core = name.stripPrefix("v").takeWhile(_.isDigit)
      if (name.startsWith("v") && core.nonEmpty) core.toLong
      else Long.MaxValue // unrecognized: never sweep
    }
    fs.listStatus(dataRoot).toSeq
      .filter(d => d.isDirectory && dirHint(d.getPath.getName) < horizon)
      .foreach { d =>
        fs.listStatus(d.getPath).toSeq
          .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
          .foreach { f =>
            val rel = s"$Data/${d.getPath.getName}/${f.getPath.getName}"
            if (!keepSet.contains(rel)) fs.delete(f.getPath, false)
          }
        // dir is dead when no parquet survives — sweep it whole so the
        // _SUCCESS/crc markers don't keep an empty commit dir alive
        val liveLeft = fs.listStatus(d.getPath).toSeq
          .exists(_.getPath.getName.endsWith(".parquet"))
        if (!liveLeft) fs.delete(d.getPath, true)
      }
    // delete-vector dirs: keep those any SURVIVING version still
    // references (per-version live sets — a vector purged before the
    // horizon is garbage exactly like the file rewrite it avoided)
    val dvRoot = new Path(s"$root/dv")
    if (fs.exists(dvRoot)) {
      val keepDvDirs = kept.flatMap { v =>
        dvsAt(spark, root, v, liveAt(spark, root, v)).values.flatten
      }.toSet
      fs.listStatus(dvRoot).toSeq
        .filter(d => d.isDirectory &&
          dirHint(d.getPath.getName) < horizon &&
          !keepDvDirs.contains(s"dv/${d.getPath.getName}"))
        .foreach(d => fs.delete(d.getPath, true))
    }
  }

  /** The store as an INCREMENTAL BATCH SOURCE: rows ADDED by the
    * commits in `(sinceVersion, toVersion]` (toVersion defaults to
    * latest), each tagged with its `_commit_version` — a downstream
    * consumer remembers the last version it processed and reads only
    * the delta, the change-data-feed read every derived table /
    * downstream training tick wants at 100 TB (re-reading the whole
    * table per tick is the thing this method exists to delete).
    *
    * Commit-type discipline makes the delta TRUSTWORTHY instead of
    * merely available:
    *  - append commits surface their adds;
    *  - "layout" commits (compact/optimize — content-identical
    *    rewrites) are SKIPPED: their adds are old rows in new files,
    *    and surfacing them would double-process every compaction;
    *  - "rewrite" commits (delete/restore/overwrite — content CHANGED
    *    in a way an adds-only feed cannot express) FAIL LOUDLY: the
    *    consumer must resync from a snapshot, and silence here would
    *    mean silently missing deletions.
    *
    * `sinceVersion = 0` reads from the beginning; the since version
    * must still be within the vacuum retention window (its successor
    * commits' files must be live or the read fails loudly, the same
    * pinned-reader contract as [[read]]). Metadata-sized planning:
    * one log replay, no FS walk. */
  def readChangesSince(spark: SparkSession, root: String,
                       sinceVersion: Long,
                       toVersion: Option[Long] = None): DataFrame = {
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"no committed versions at $root")
    val to = toVersion.getOrElse(vs.max)
    require(sinceVersion == 0 || vs.contains(sinceVersion),
      s"since-version $sinceVersion not committed at $root " +
        s"(have ${vs.mkString(",")}) — vacuumed past the horizon?")
    require(vs.contains(to), s"to-version $to not committed at $root")
    val range = readLogTo(spark, root, to).filter(_.v > sinceVersion)
    val marked = range // bounded: one row per non-append commit
      .filter(r => r.action == "layout" || r.action == "rewrite")
    val rewrites = marked.filter(_.action == "rewrite")
      .map(_.v).sorted
    require(rewrites.isEmpty,
      s"commits ${rewrites.mkString(",")} in ($sinceVersion, $to] " +
        s"rewrote content (delete/restore/overwrite) at $root — an " +
        "adds-only change feed cannot express removals; resync from " +
        "a snapshot read and continue from there")
    val layoutVs = marked.map(_.v).toSet
    val adds = range // bounded by files added in the window
      .filter(r => r.action == "add" && !layoutVs.contains(r.v))
      .map(r => (r.toEntry, r.v))
    if (adds.isEmpty) {
      val anchor = new Path(s"$root/_schema")
      return spark.read.parquet(anchor.toString).limit(0)
        .withColumn("_commit_version", lit(0L))
    }
    // union by NAME with missing columns resolved to null: a feed
    // window spanning a column add would fail a positional union
    // (mixed shapes) — this is the readAs posture applied to the
    // feed, and it costs ZERO extra IO (the first cut resolved a
    // merged target schema via a mergeSchema footer scan of every
    // add file, which tripled the version-diff gate's cost)
    adds.groupBy(_._2).toSeq.sortBy(_._1).map { case (v, rows) =>
      scanFiles(spark, root, None, rows.map(_._1))
        .withColumn("_commit_version", lit(v))
    }.reduce((a, b) => a.unionByName(b, allowMissingColumns = true))
  }

  /** ROW-level change feed across ANY commits in `(since, to]` —
    * including the rewrites [[readChangesSince]] refuses: the
    * snapshot delta computed from the FILE-set diff. Files live at
    * `to` but not at `since` hold the candidate inserts; files live
    * at `since` but not at `to` hold the candidate deletes; the
    * multiset differences cancel rows that merely moved (compaction
    * and OPTIMIZE rewrites contribute nothing), leaving exactly
    * `snapshot(to) ∖ snapshot(since)` as `_op = insert` and the
    * reverse as `_op = delete`. An update surfaces as its
    * delete + insert pair; [[netChanges]] folds those into the
    * upsert/delete shape [[applyChanges]] consumes — feed → net →
    * apply mirrors the table exactly (gated end to end).
    *
    * Scale shape: only CHANGED files are read — a merge that touched
    * 0.1% of a key-clustered table yields a feed read of ~0.2% of
    * it, never the two-snapshot scan a naive diff pays. Files read
    * under the `to` snapshot's schema ([[SchemaEvolution]] target
    * posture), so evolution in the window can't tear the compare. */
  def readRowChanges(spark: SparkSession, root: String,
                     sinceVersion: Long,
                     toVersion: Option[Long] = None): DataFrame = {
    val vs = versions(spark, root)
    require(vs.nonEmpty, s"no committed versions at $root")
    val to = toVersion.getOrElse(vs.max)
    require(sinceVersion == 0 || vs.contains(sinceVersion),
      s"since-version $sinceVersion not committed at $root " +
        s"(have ${vs.mkString(",")}) — vacuumed past the horizon?")
    require(vs.contains(to), s"to-version $to not committed at $root")
    require(sinceVersion <= to,
      s"empty change window ($sinceVersion, $to]")
    val before =
      if (sinceVersion == 0) Seq.empty[FileEntry]
      else liveAt(spark, root, sinceVersion)
    val after = liveAt(spark, root, to)
    // the file-set diff reads files RAW: an active delete vector at
    // either end would resurrect its rows into the feed (a vector
    // both added and purged strictly inside the window cancels and
    // is fine — both ends are vector-free for the affected files)
    if (sinceVersion > 0)
      requireNoDvs(spark, root, sinceVersion, before,
        "readRowChanges (window start)")
    requireNoDvs(spark, root, to, after, "readRowChanges (window end)")
    val beforeP = before.map(_.path).toSet
    val afterP = after.map(_.path).toSet
    val addedFiles = after.filterNot(e => beforeP.contains(e.path))
    val removedFiles = before.filterNot(e => afterP.contains(e.path))
    val target = read(spark, root, Some(to)).schema
    val a = scanFiles(spark, root, Some(target), addedFiles)
    val r = scanFiles(spark, root, Some(target), removedFiles)
    // Multiset difference in ONE pass. The previous shape —
    // a.exceptAll(r) UNION r.exceptAll(a) — scanned BOTH file sets
    // TWICE and ran two aggregates (Spark rewrites each exceptAll
    // into union+aggregate+generate), for a feed whose two directions
    // share one grouping. One tagged union + one aggregate computes
    // both directions with identical semantics: a distinct row with
    // na copies among the adds and nr among the removes nets to
    // |na-nr| rows, inserts when na>nr, deletes when nr>na
    // (exceptAll's max(0, na-nr) / max(0, nr-na), fused). Windows
    // that only added or only removed files skip the aggregate
    // entirely — exceptAll against an empty side is the identity, so
    // an append-only CDC window (the streaming source's steady state)
    // is a plain pruned scan with zero shuffles.
    val dataCols = target.fieldNames.toSeq
    if (removedFiles.isEmpty) a.withColumn("_op", lit("insert"))
    else if (addedFiles.isEmpty) r.withColumn("_op", lit("delete"))
    else a.withColumn("__graft_d", lit(1L))
      .unionByName(r.withColumn("__graft_d", lit(-1L)))
      .groupBy(dataCols.map(col): _*)
      .agg(sum(col("__graft_d")).as("__graft_d"))
      .where(col("__graft_d") =!= 0L)
      .withColumn("_op",
        when(col("__graft_d") > 0L, lit("insert")).otherwise(lit("delete")))
      .withColumn("__graft_i",
        explode(sequence(lit(1L), abs(col("__graft_d")))))
      .select(dataCols.map(col) :+ col("_op"): _*)
  }

  /** Fold a [[readRowChanges]] feed (insert/delete row pairs) into
    * the one-row-per-key upsert/delete shape [[applyChanges]]
    * consumes: a key with an insert in the window nets to `upsert`
    * (its delete half, if any, is the old row being replaced); a key
    * with only deletes nets to `delete`. Loud where netting is
    * ill-defined: null keys can't key a mirror, and a key inserted
    * twice (duplicate rows per key in the source table) has no
    * single net row. */
  def netChanges(changes: DataFrame, key: String,
                 opCol: String = "_op"): DataFrame = {
    require(changes.columns.contains(opCol),
      s"netChanges needs the op column $opCol")
    // materialize the feed ONCE (eager localCheckpoint): `changes` is
    // typically the readRowChanges diff — a changed-file scan + one
    // aggregate whose recompute cost dwarfs its churn-bounded row
    // count — and the netting CONSUMER (applyChanges' op screen, dup
    // screen, and cowUpsert's span/touch/rewrite/insert actions)
    // drives ~6 more actions over whatever this returns. Without a
    // lineage cut each of those re-scanned the changed files and
    // re-ran the diff aggregate (measured: 7 executions of the feed
    // per q_store_mirror run); after it the feed is computed exactly
    // once and every downstream action reads churn-bounded cached
    // rows. Callers that are done with the result can release the
    // blocks via [[Checkpoints.release]].
    val feed = changes.localCheckpoint()
    // both contract screens (no null keys, at most one insert per
    // key) ride ONE aggregate action over the materialized feed
    val bad = feed.groupBy(col(key))
      .agg(sum(when(col(opCol) === "insert", 1L).otherwise(0L))
        .as("__graft_ins"))
      .where(col(key).isNull || col("__graft_ins") > 1L)
      // nulls first: a window holding BOTH a null key and a duplicate
      // insert reports the null deterministically (the pre-fusion
      // behaviour; an unordered limit(1) picked whichever partition
      // answered first)
      .orderBy(col(key).asc_nulls_first)
      .limit(1).collect()
    bad.headOption.foreach { r =>
      if (r.isNullAt(0))
        throw new IllegalArgumentException(
          s"null $key in the change window — a keyed mirror needs keys")
      throw new IllegalArgumentException(
        s"key ${Some(r.get(0))} inserts more than once " +
          "in the window — a keyed mirror needs one live row per key")
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(key))
      .orderBy(when(col(opCol) === "insert", 0).otherwise(1))
    feed.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1).drop("__rn")
      .withColumn(opCol,
        when(col(opCol) === "insert", lit("upsert"))
          .otherwise(lit("delete")))
  }

  /** Largest batch id any commit carries, None when none do —
    * the consumed-position accessor for incremental consumers
    * ([[DerivedView]]): the position lives INSIDE the consumer's own
    * commits, so a crashed tick replays from the last one that
    * actually landed. */
  def maxBatchId(spark: SparkSession, root: String): Option[Long] = {
    if (versions(spark, root).isEmpty) return None
    readLog(spark, root).flatMap(_.batchId).maxOption
  }

  /** Per-version commit summary — the store's audit surface. Every
    * committed version appears, including no-action commits
    * (compact/optimize of an empty table), so the audit has no
    * holes against [[versions]]. */
  def history(spark: SparkSession, root: String): DataFrame = {
    val spark0 = spark
    import spark0.implicits._
    val byV = readLog(spark, root).groupBy(_.v)
    versions(spark, root).sorted.map { v =>
      val rs = byV.getOrElse(v, Seq.empty)
      (v, rs.count(_.action == "add").toLong,
        rs.count(_.action == "remove").toLong,
        rs.filter(_.action == "add").map(_.nRows).sum)
    }.toDF("version", "n_added", "n_removed", "rows_added")
      .orderBy("version")
  }
}
