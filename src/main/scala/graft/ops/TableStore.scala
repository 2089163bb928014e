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
import org.apache.spark.sql.sources._
import org.apache.spark.sql.graftbridge.Bridge

import graft.sources.StatsSkipping

/** Versioned parquet table store with time-travel reads — the
  * commit-log model (a log of add/remove file actions whose replay
  * at version v IS the snapshot) that every lakehouse table format
  * builds on, re-expressed with this engine's primitives. It unifies
  * the maintenance family under snapshot isolation: [[compact]]
  * folds files, [[optimizeLayout]] repairs layout (the plain-layer
  * [[Layout.recluster]]), and [[Partitioned.expireSlices]] drops
  * slices — here each of those becomes a new VERSION, old snapshots
  * stay readable until [[TableStore.vacuum]] retires them, and a
  * reader pinned to v is immune to every later rewrite.
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
  * as [[FooterStats]].
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
    // each file keeps the smallest bloom that holds its distinct keys
    // at fpp 0.001: parquet's adaptive writer fills 16/8/4/2/1 MB
    // candidates side by side, drops each one its distinct count
    // outgrows, and writes the smallest left. The 16 MB cap holds fpp
    // through ~10M-key files (parquet's default 1 MB saturated at the
    // sf10 gate around ~1M keys and pruning died). The 1 MB floor
    // (~583k keys) is deliberate: with KB-sized blooms the dead copies
    // copy-on-write merges leave become most of a store's bytes
    // (space amplification 1.51 → 1.87 on the daily-merge benchmark);
    // the candidate count, parquet's default 5, is pinned here because
    // it sets that floor (16 MB / 2^4). The price is 31 MB of
    // candidates per bloom column per open writer, held until the
    // writer closes. Lookups never read a bloom whole: `prunedFiles`
    // reads one 32-byte block per probed key, whatever size was kept
    val writer0 =
      if (bloomCols.isEmpty) df.write.mode("overwrite")
      else df.write.mode("overwrite")
        .option("parquet.bloom.filter.max.bytes", (16L << 20).toString)
        .option("parquet.bloom.filter.adaptive.enabled", "true")
    val writer = bloomCols.foldLeft(writer0) {
      (w, c) => w.option(s"parquet.bloom.filter.enabled#$c", "true")
        .option(s"parquet.bloom.filter.fpp#$c", "0.001")
        .option(s"parquet.bloom.filter.candidates.number#$c", "5")
    }
    writer.parquet(dir.toString)
    // first-touch schema anchor: keeps all-empty stores readable
    // (the [[Partitioned.anchorSchema]] posture)
    if (!hasAnchor(spark, root)) publishAnchor(spark, root, df.schema)
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

  private def hasAnchor(spark: SparkSession, root: String): Boolean = {
    val anchor = new Path(s"$root/_schema")
    fsOf(spark, anchor).exists(anchor)
  }

  /** Publish `schema` as `root`'s schema anchor by RENAME, so racing
    * first-touch writers can't tear it: the first rename wins, and a
    * loser drops its (identical-schema) copy. True when this call's
    * copy won. */
  private def publishAnchor(spark: SparkSession, root: String,
      schema: org.apache.spark.sql.types.StructType): Boolean = {
    val anchor = new Path(s"$root/_schema")
    val fs = fsOf(spark, anchor)
    val staged = new Path(
      s"$root/.schema_tmp-${java.util.UUID.randomUUID.toString.take(8)}")
    writeSchemaDir(spark, staged, schema)
    val won = fs.rename(staged, anchor)
    if (!won) fs.delete(staged, true)
    // rename-into-existing-dir nests the source: sweep the nested copy
    // if a racer's anchor landed between the check and the rename
    val nested = new Path(anchor, staged.getName)
    if (won && fs.exists(nested)) fs.delete(nested, true)
    won
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
    // commit-TYPE markers ride as inert rows (the vacuum "txn"
    // posture — a live set reads only add and remove rows, so they
    // never affect a snapshot): "layout" = content-identical rewrite (compact/
    // optimize; an incremental reader skips it), "rewrite" =
    // content-CHANGING non-append (delete/restore; an incremental
    // reader must resync, loudly). metaRows carry table METADATA
    // as (name, action, payload) — constraints today — versioned
    // exactly like data actions.
    val rows =
      adds.map(LogRow.add(n, _, batchId)) ++
        removes.map(LogRow.meta(n, _, "remove", batchId)) ++
        marker.map(LogRow.meta(n, "", _)) ++
        metaRows.map { case (name, action, payload) =>
          LogRow.meta(n, name, action, payload = Some(payload)) } ++
        // a batch id normally rides on the add/remove rows; a commit
        // with NEITHER (e.g. an empty-content overwrite from an
        // incremental tick) must still record it — losing the id
        // would replay the batch forever (inert txn row, the vacuum
        // checkpoint posture)
        (if (batchId.nonEmpty && adds.isEmpty && removes.isEmpty)
           Seq(LogRow.meta(n, "", "txn", batchId))
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
                                          removes: Seq[String]): Long =
    commitRetrying(spark, root, first, "layout rewrite", adds, removes,
        marker = Some("layout")) { (n, now, e) =>
      def refuse(why: String): Nothing =
        throw new java.util.ConcurrentModificationException(
          s"layout rewrite at $root lost the version-$n race and " +
            s"cannot rebase: $why — re-plan from version ${now.version}", e)
      val liveP = now.live.map(_.path).toSet
      val lost = removes.filterNot(liveP.contains)
      if (lost.nonEmpty)
        refuse(s"a concurrent writer removed ${lost.size} of its " +
          s"source files (e.g. ${lost.head})")
      val removedNames = removes.map(_.split('/').last).toSet
      if (now.dvs.keys.exists(f => removedNames(f.split('/').last)))
        refuse("a concurrent merge-on-read delete vector landed on " +
          "a source file; rewriting its raw content would " +
          "resurrect the deleted rows")
    }

  /** Commit `adds`/`removes` at version `first`; on each lost version
    * race, `rebase` checks the FRESH latest snapshot — the racers'
    * commits — and refuses by throwing, else the commit retries at the
    * next version. The attempt cap turns a pathological livelock (a
    * writer that can never win) into a loud error naming `what`
    * instead of an infinite loop. Returns the version committed. */
  private def commitRetrying(spark: SparkSession, root: String, first: Long,
                             what: String, adds: Seq[FileEntry],
                             removes: Seq[String],
                             batchId: Option[Long] = None,
                             marker: Option[String] = None)(
      rebase: (Long, Snapshot, CommitConflictException) => Unit): Long = {
    var n = first
    var attempts = 0
    while (attempts < 64) {
      try { commitLog(spark, root, n, adds, removes, batchId, marker); return n }
      catch { case e: CommitConflictException =>
        attempts += 1
        val now = resolved(spark, root)
        rebase(n, now, e)
        n = math.max(n + 1, now.version + 1)
      }
    }
    throw new java.io.IOException(
      s"$what lost the commit race $attempts times at $root — " +
        "livelocked against a faster writer")
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
    commitRetrying(spark, root, first, "row-level rewrite", adds, removes,
        marker = marker) { (n, now, e) =>
      def refuse(why: String): Nothing =
        throw new java.util.ConcurrentModificationException(
          s"row-level rewrite at $root lost the version-$n race " +
            s"and cannot rebase: $why — re-read version ${now.version} " +
            "and re-run the operation", e)
      val live = now.live
      val liveP = live.map(_.path).toSet
      val lost = removes.filterNot(liveP.contains)
      if (lost.nonEmpty)
        refuse(s"a concurrent writer removed ${lost.size} of its " +
          s"touched files (e.g. ${lost.head})")
      // any dv/constraint action in (base, latest] — metadata-sized
      val windowMeta = now.log
        .find(r => r.v > base &&
          Set("dv", "constraint", "constraint_drop")(r.action))
      windowMeta.foreach(m =>
        refuse(s"a concurrent ${m.action} " +
          "action landed in the race window; this rewrite's scans " +
          "and validation predate it"))
      // serializability screen: every file the racers ADDED must be
      // REFUTED by the predicate's necessary conditions
      val baseP =
        if (now.versions.contains(base)) now.at(base).live.map(_.path).toSet
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
    }
  }

  // ------------------------------------------------------------------
  // Driver-side log IO (guide §5: the log is metadata-sized BY
  // CONTRACT — actions, not data — so replaying it through a Spark
  // job paid ~100-300 ms of scheduler+shuffle latency per snapshot
  // resolution for work a driver loop does in microseconds. Every
  // gate operation used to cost 2-3 such jobs (live set, delete
  // vectors, declared schema) before its first byte of data IO; at
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

  private[graft] object LogRow {
    /** The add action of file `e` at version `v`. */
    def add(v: Long, e: FileEntry, batchId: Option[Long] = None): LogRow =
      LogRow(v, e.path, "add", e.rows, batchId, e.mins, e.maxs, e.smins,
        e.smaxs, None, e.bytes)

    /** A stat-less action row: a remove, a commit marker, or table
      * metadata carrying `payload`. */
    def meta(v: Long, path: String, action: String,
             batchId: Option[Long] = None,
             payload: Option[String] = None): LogRow =
      LogRow(v, path, action, 0L, batchId, Map.empty, Map.empty,
        Map.empty, Map.empty, payload, 0L)
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
    * recovery — the latest [[Snapshot]]'s log, empty with no commits.
    * Bounded by the planning budget (actions ∝ files touched per
    * commit × retention window, never data rows). */
  private def readLog(spark: SparkSession, root: String): Seq[LogRow] =
    snapshotOf(spark, root).fold(Seq.empty[LogRow])(_.log)

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
      schema: org.apache.spark.sql.types.StructType): Unit =
    parquetFileIn(spark, dir, Bridge.parquetMessageType(schema),
      schema.json).close() // zero rows: the schema is the payload

  /** A writer of ONE new parquet file inside `dir` (created here),
    * driver-side, named by the Spark-write part-file convention and
    * stamped with Spark's row-metadata schema `sparkSchemaJson`, so
    * `spark.read.parquet` resolves the same StructType Spark wrote. */
  private def parquetFileIn(spark: SparkSession, dir: Path,
      messageType: org.apache.parquet.schema.MessageType,
      sparkSchemaJson: String)
      : org.apache.parquet.hadoop.ParquetWriter[
        org.apache.parquet.example.data.Group] = {
    val conf = spark.sparkContext.hadoopConfiguration
    fsOf(spark, dir).mkdirs(dir)
    val name = s"part-00000-${java.util.UUID.randomUUID}-c000" +
      ".snappy.parquet"
    org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(org.apache.parquet.hadoop.util.HadoopOutputFile
        .fromPath(new Path(dir, name), conf))
      .withType(messageType)
      .withConf(conf)
      .withCompressionCodec(
        org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
      .withExtraMetaData(java.util.Collections.singletonMap(
        "org.apache.spark.sql.parquet.row.metadata", sparkSchemaJson))
      .build()
  }

  /** Write `rows` as ONE parquet file inside `dir` (created here),
    * driver-side — the log-commit write. Replaces the old
    * one-row-frame Spark job (~150 ms of scheduler latency per
    * commit) with a direct write of the identical file shape; the
    * part-file naming keeps the Spark-write convention so nothing
    * downstream can tell the difference. */
  private def writeLogFile(spark: SparkSession, dir: Path,
                           rows: Seq[LogRow]): Unit = {
    val writer = parquetFileIn(spark, dir, logMessageType, logRowMetadataJson)
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

  /** The store at `version`: the committed `versions` from ONE `_log`
    * listing, and the log up to `version` from at most ONE replay, run
    * on first use. Every op takes its live files, delete vectors,
    * declared schema and metadata rows from here, and an earlier
    * version by projection ([[at]]), with no further IO. Commit-time
    * conflict checks never reuse an op's snapshot: they resolve anew. */
  private[graft] final class Snapshot(val root: String,
                                      val versions: Seq[Long],
                                      val version: Long,
                                      replay: => Seq[LogRow]) {

    /** Every action row of the committed versions up to [[version]]. */
    lazy val log: Seq[LogRow] = replay

    /** Per path, the newest row among the two `actions` (one per
      * path and version by construction), kept when it is the first
      * of them — the replay rule shared by files and constraints. */
    private def newest(actions: (String, String)): Seq[LogRow] =
      log.filter(r => r.action == actions._1 || r.action == actions._2)
        .groupBy(_.path).values.map(_.maxBy(_.v))
        .filter(_.action == actions._1).toSeq.sortBy(_.path)

    /** Live files: per path, the latest DATA action must be an add.
      * Metadata rows (dv vectors, constraints) share the path column,
      * and letting them into the pick would shadow a file's add. */
    lazy val live: Seq[FileEntry] = newest(("add", "remove")).map(_.toEntry)

    /** Merge-on-read delete vectors on live files: data-file name →
      * the dv parquet dirs holding its deleted row indexes. File NAMES
      * key the vectors (parquet part names embed the write job's UUID
      * — unique within a store), so applying them is one equi
      * anti-join, no path arithmetic. */
    lazy val dvs: Map[String, Seq[String]] = {
      val liveNames = live.map(e => e.path.split('/').last).toSet
      log
        .filter(_.action == "dv")
        .map(r => (r.path, r.meta.getOrElse("")))
        .filter { case (f, _) => liveNames.contains(f.split('/').last) }
        .groupBy(_._1).map { case (f, xs) => f -> xs.map(_._2) }
    }

    private lazy val vectoredNames = dvs.keySet.map(_.split('/').last)

    /** Does a delete vector apply to live file `e`? */
    def vectored(e: FileEntry): Boolean =
      vectoredNames.contains(e.path.split('/').last)

    /** The DECLARED schema: the payload of the newest `schema` action,
      * written by [[alterSchema]] (SQL `ALTER TABLE`). None for
      * never-ALTERed stores, whose reads infer from data files. */
    lazy val declared: Option[org.apache.spark.sql.types.StructType] =
      meta("schema").map(j =>
        org.apache.spark.sql.types.DataType.fromJson(j)
          .asInstanceOf[org.apache.spark.sql.types.StructType])

    /** Latest metadata payload committed for `action`, or None. */
    def meta(action: String): Option[String] =
      log.filter(_.action == action).maxByOption(_.v).flatMap(_.meta)

    /** CHECK constraints: (name, boolean SQL expr) pairs, latest
      * declaration per name wins, drops remove — versioned exactly
      * like data, so time travel knows when enforcement started. */
    def constraints: Seq[(String, String)] =
      newest(("constraint", "constraint_drop"))
        .map(r => (r.path, r.meta.getOrElse("")))

    /** The snapshot at committed version `v` <= [[version]]. */
    def at(v: Long): Snapshot = {
      requireCommitted(root, versions.filter(_ <= version), v)
      new Snapshot(root, versions, v, log.filter(_.v <= v))
    }

    /** Loud contract for operations that plan at FILE granularity:
      * merge-on-read delete vectors make a file's logical content a
      * (file, dv) pair, so stats pruning, file-diff feeds, clones and
      * rewrites that read files raw would silently resurrect deleted
      * rows. They refuse instead, naming the remedy. Returns this. */
    def requireNoDvs(op: String): Snapshot = {
      require(dvs.isEmpty,
        s"$op plans at file granularity, but merge-on-read delete " +
          s"vectors are present at $root — run purgeDeletes first")
      this
    }
  }

  private def requireCommitted(root: String, vs: Seq[Long], v: Long): Unit =
    require(vs.contains(v),
      s"version $v not committed at $root (have ${vs.mkString(",")})" +
        " — vacuumed past the horizon or never written")

  /** The snapshot at `version` (default: the latest), or None on a
    * store with no commits — the one resolver. A version pinned on a
    * store with no commits, or one outside the retention window, is
    * loud. */
  private[graft] def snapshotOf(spark: SparkSession, root: String,
                                version: Option[Long] = None)
      : Option[Snapshot] = {
    val vs = versions(spark, root)
    if (vs.isEmpty) {
      require(version.isEmpty, s"no committed versions at $root")
      None
    } else {
      val v = version.getOrElse(vs.last)
      requireCommitted(root, vs, v)
      Some(new Snapshot(root, vs, v,
        vs.filter(_ <= v).flatMap(readLogDir(spark, root, _))))
    }
  }

  /** [[snapshotOf]] a store that must have commits. */
  private def resolved(spark: SparkSession, root: String,
                       version: Option[Long] = None): Snapshot = {
    val s = snapshotOf(spark, root, version)
    require(s.nonEmpty, s"no committed versions at $root")
    s.get
  }

  /** [[resolved]] for a file-granular operation `op`: refused under
    * delete vectors ([[Snapshot.requireNoDvs]]). */
  private def fileSnapshot(spark: SparkSession, root: String,
                           version: Option[Long], op: String): Snapshot =
    resolved(spark, root, version).requireNoDvs(op)

  /** Live [[FileEntry]]s at committed version `asOf`. */
  private[graft] def liveAt(spark: SparkSession, root: String,
                            asOf: Long): Seq[FileEntry] =
    resolved(spark, root, Some(asOf)).live

  /** Scan a subset of LIVE data files of snapshot `s` under its
    * EFFECTIVE schema: the declared (ALTER-evolved) schema when one is
    * in force — files predating an added column null-fill it inside
    * the reader, and a REWRITE of this frame CARRIES the column — else
    * the schema Spark would infer, resolved on the driver from
    * memoized footers ([[scanSchema]]; uniform live sets by
    * construction).
    * Every content-rewrite path (compaction, layout, DML,
    * replaceWhere, purge) and every pruned read must go through here:
    * a raw read of a mixed-schema live set infers ONE file's shape,
    * and a rewrite of that frame would silently drop the ALTERed
    * column's values from every rewritten file. */
  private def readLiveFiles(spark: SparkSession, s: Snapshot,
                            entries: Seq[FileEntry]): DataFrame =
    scanFiles(spark, s.root, s.declared, entries)

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

  /** Apply snapshot `s`'s delete vectors to a scan of its `dirty`
    * files: anti-join on (file name, row index) removes exactly the
    * vectored rows. */
  private def applyDvs(spark: SparkSession, s: Snapshot,
                       dirty: Seq[FileEntry]): DataFrame = {
    val dvRows = spark.read.option("ignoreMissingFiles", "false")
      .parquet(s.dvs.values.flatten.toSeq.distinct
        .map(p => resolve(s.root, p)): _*)
      .select(col("fname").as("__dv_fname"), col("idx").as("__dv_idx"))
    val scan = readLiveFiles(spark, s, dirty)
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
    * ([[read]], any version) are vector-aware; every operation that
    * plans at file granularity (compaction, OPTIMIZE, merge,
    * [[readWhere]] and its aliases, clones, feeds, restore) refuses
    * loudly until [[purgeDeletes]] folds the vectors back
    * into clean files. Returns the committed version, or the current
    * one when nothing matched (no-op, no commit). */
  def deleteWhereMoR(spark: SparkSession, root: String,
                     pred: org.apache.spark.sql.Column,
                     pruneBy: (String, Long, Long)): Long = {
    val (pcol, lo, hi) = pruneBy
    require(lo <= hi, s"empty prune interval [$lo, $hi]")
    val s = resolved(spark, root)
    deleteMoRTouched(spark, s, pred,
      prunedFiles(spark, root, s.live, s.declared, within(pcol, lo, hi)))
  }

  /** The merge-on-read delete core over an explicit candidate set —
    * shared by [[deleteWhereMoR]] (interval-hint pruning) and the SQL
    * DML path ([[Dml]] — predicate-derived pruning). Commits a delete
    * VECTOR for the definitely-matching rows of snapshot `s`'s
    * `touched` files; data files stay byte-identical. */
  private[graft] def deleteMoRTouched(spark: SparkSession, s: Snapshot,
                                      pred: org.apache.spark.sql.Column,
                                      touched: Seq[FileEntry]): Long = {
    val (root, prev) = (s.root, s.version)
    if (touched.isEmpty) return prev
    val n = prev + 1
    val attempt = java.util.UUID.randomUUID.toString.take(8)
    val dvRel = s"dv/v$n-$attempt"
    val raw = readLiveFiles(spark, s, touched)
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
    val touchedNames = touched.map(_.path.split('/').last).toSet
    val existing =
      s.dvs.filter { case (f, _) => touchedNames(f.split('/').last) }
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
    val s = resolved(spark, root)
    val prev = s.version
    if (s.dvs.isEmpty) return prev
    val dirty = s.live.filter(s.vectored)
    val cleaned = applyDvs(spark, s, dirty)
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
    if (!publishAnchor(spark, root, schema))
      throw new IllegalStateException(
        s"concurrent CREATE published an anchor at $root first — " +
          "re-read the table instead of re-creating it")
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
    val snap = snapshotOf(spark, root)
    // crash recovery: a previous DROP that died between the v1
    // tombstone commit and the recursive delete leaves versions=[1]
    // with the `dropped` marker — the root is fenced (every writer's
    // v1→v2 step refuses) but still on disk. Re-running DROP must
    // RESUME the delete (idempotent drop), not refuse with the
    // misleading committed-history error that would brick the path.
    val resumingDrop = snap.exists(s => s.versions == Seq(1L) &&
      s.log.exists(_.action == "dropped"))
    require(resumingDrop || snap.isEmpty,
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
           version: Option[Long] = None): DataFrame =
    readSnapshot(spark, root, snapshotOf(spark, root, version))

  /** [[read]] of an already-resolved snapshot — None for a store with
    * no commits, which reads as typed empty when something anchored
    * its schema (e.g. an all-empty stream); an untouched path is
    * still a loud error. */
  private[graft] def readSnapshot(spark: SparkSession, root: String,
                                  snap: Option[Snapshot]): DataFrame =
    snap match {
      case None =>
        require(hasAnchor(spark, root), s"no committed versions at $root")
        spark.read.parquet(s"$root/_schema").limit(0)
      // empty never-ALTERed snapshot (all-empty commits, overwrite-
      // with-empty): the first-touch anchor's schema
      case Some(s) if s.live.isEmpty && s.declared.isEmpty =>
        spark.read.parquet(s"$root/_schema").limit(0)
      // every scan reads under the snapshot's DECLARED schema when an
      // ALTER set one (readLiveFiles): pre-ALTER files null-fill its
      // columns inside the reader, also when an ALTER lands between a
      // MoR delete and its purge
      case Some(s) if s.dvs.isEmpty => readLiveFiles(spark, s, s.live)
      case Some(s) =>
        // merge-on-read: vectored files anti-join their delete
        // vectors; clean files keep the plain columnar scan
        val (dirty, clean) = s.live.partition(s.vectored)
        val mor = applyDvs(spark, s, dirty)
        if (clean.isEmpty) mor
        else mor.unionByName(readLiveFiles(spark, s, clean))
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
    scanFiles(spark, root, Some(target),
      fileSnapshot(spark, root, version, "readAs").live)
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
    val s = fileSnapshot(spark, root, version, "metaStats")
    val live = s.live
    val bytes: Option[Long] =
      if (live.forall(_.bytes > 0)) Some(live.map(_.bytes).sum) else None
    Seq((s.version, live.size.toLong, live.map(_.rows).sum, bytes))
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
    val live = fileSnapshot(spark, root, version, "metaBounds").live
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
    enforceConstraints(spark, snapshotOf(spark, root), adds)
    // append file sets are disjoint by construction (attempt-unique
    // data dirs), so a lost race needs no check: only the
    // metadata-sized log commit re-runs at the next version
    commitRetrying(spark, root, hint, "append", adds, Nil)((_, _, _) => ())
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
    val snap = snapshotOf(spark, root)
    val n = snap.fold(0L)(_.version) + 1
    val (laid, stats) = withDeclaredLayout(df, root, statsCols)
    val adds = writeData(laid, root, n, stats, bloomCols)
    enforceConstraints(spark, snap, adds)
    commitExclusive(spark, root, n, adds,
      snap.fold(Seq.empty[String])(_.live.map(_.path)),
      marker = snap.map(_ => "rewrite"), batchId = batchId)
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
    val snap = snapshotOf(spark, root)
    val n = snap.fold(0L)(_.version) + 1
    val adds = writeData(df, root, n, statsCols)
    enforceConstraints(spark, snap, adds)
    commitExclusive(spark, root, n, adds, Seq.empty, metaRows = metaRows)
    n
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
    readLog(spark, root)
      .filter(r => r.v > fromExclusive && r.v <= toInclusive &&
        r.action == "add")
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

  /** `ALTER TABLE ADD COLUMN` / `ALTER COLUMN TYPE` as ONE COMMIT —
    * the [[SchemaEvolution]] readAs posture made first-class: at 100 TB
    * history is never rewritten for a column add or a key that outgrew
    * INT, so the change is one metadata row (the target schema as
    * JSON) and ZERO data IO. From the commit on, reads resolve files by
    * NAME under the declared schema: pre-ALTER files surface an added
    * column as null and up-cast a widened one in the parquet reader,
    * pruning and pushdown intact; a snapshot pinned before the ALTER
    * keeps its own schema. `adds` are nullable, defaultless, top-level
    * columns (anything else needs a priced UPDATE backfill); `widens`
    * are value-preserving only ([[isSafeWidening]]) — Long log bounds
    * compare exactly under the wider type. Both land in one commit, so
    * MERGE schema evolution and a multi-column ALTER are
    * all-or-nothing: every change is validated against the current
    * schema AND its siblings first. Returns the committed version. */
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
    val snap = snapshotOf(spark, root)
    val prev = snap.fold(0L)(_.version)
    val cur = readSnapshot(spark, root, snap).schema
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

  /** The one LAYOUT rewrite behind every maintenance op `op`: `pick`
    * files from the latest (live, declared schema), refused as `op`
    * under delete vectors, fold them into ~`targetBytes` files, rows
    * spread round-robin or range-clustered and sorted on `clusterKey`,
    * and commit them via [[commitLayoutRebasing]]. Fewer than
    * `minFiles` picked commits nothing; an empty pick at `minFiles` 0
    * commits a no-action version. */
  private def rewriteLayout(spark: SparkSession, root: String, op: String,
                            targetBytes: Long, minFiles: Int,
                            statsCols: Seq[String], bloomCols: Seq[String],
                            clusterKey: Option[org.apache.spark.sql.Column])(
      pick: (Seq[FileEntry], Option[org.apache.spark.sql.types.StructType])
        => Seq[FileEntry]): Long = {
    require(targetBytes > 0, s"targetBytes must be positive: $targetBytes")
    val snap = fileSnapshot(spark, root, None, op)
    val (prev, declared) = (snap.version, snap.declared)
    val files = pick(snap.live, declared)
    if (files.size < minFiles) return prev
    val n = prev + 1
    val adds = if (files.isEmpty) Seq.empty else {
      val bytes = files.map(sizeOf(spark, root, _)).sum
      val nOut = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
      val scan = scanFiles(spark, root, declared, files)
      writeData(clusterKey.fold(scan.repartition(nOut))(k =>
        scan.repartitionByRange(nOut, k).sortWithinPartitions(k)),
        root, n, statsCols, bloomCols)
    }
    commitLayoutRebasing(spark, root, n, adds, files.map(_.path))
  }

  /** Rewrite the live set to ~targetBytes files as a new version,
    * rows spread round-robin: content-identical to the previous
    * version, old file layout still readable there. An empty store
    * commits a no-action version. */
  def compact(spark: SparkSession, root: String, targetBytes: Long,
              statsCols: Seq[String] = Nil,
              bloomCols: Seq[String] = Nil): Long =
    rewriteLayout(spark, root, "compact", targetBytes, 0, statsCols,
      bloomCols, None)((live, _) => live)

  /** `c` ∈ [lo, hi] as pruning filters. */
  private def within(c: String, lo: Any, hi: Any): Seq[Filter] =
    Seq(GreaterThanOrEqual(c, lo), LessThanOrEqual(c, hi))

  /** The live files that may hold a row satisfying all `filters` —
    * the ONE file pruner behind every store read: [[readWhere]] and
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
    * ([[BloomProbe]]), not read whole: the store's blooms are 1 to
    * 16 MB each (16 MB in files written before blooms were sized to
    * their keys). Null probes match nothing (SQL IN). A probed column
    * in no logged bounds, no consulted footer and not `declared` (the
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

  /** The one filtered read: the rows of the snapshot at `version`
    * (default: latest) satisfying every one of `filters` — range,
    * string range, prefix, point and box probes, or any conjunction of
    * them — scanning only the live files [[prunedFiles]] cannot rule
    * out, log bounds, footer bounds and blooms (an `EqualTo`/`In` skips
    * files that provably lack every key, where min/max cannot when
    * files span the key space; a null key matches nothing). The same
    * filters, re-applied as a residual, keep the rows exact and prune
    * the scan's index to the same files.
    *
    * Planning runs no Spark job: memoized footers, one 32-byte block
    * per bloom probe ([[BloomProbe]]), and the schema of what is
    * scanned (of every live file when all are refuted) resolved on the
    * driver ([[scanSchema]]). Plans at file granularity, so it refuses
    * under delete vectors. Returns the frame plus (files touched, files
    * live) — the skipping economics a layout is judged by. */
  def readWhere(spark: SparkSession, root: String, filters: Seq[Filter],
                version: Option[Long] = None): (DataFrame, Int, Int) = {
    val snap = fileSnapshot(spark, root, version,
      "stats- and bloom-pruned reads")
    val (live, declared) = (snap.live, snap.declared)
    val residual = filters.map(residualOf).reduceOption(_ && _)
      .getOrElse(lit(true))
    val touched = prunedFiles(spark, root, live, declared, filters)
    val df =
      if (live.isEmpty) readSnapshot(spark, root, Some(snap)).where(residual)
        .limit(0)
      else scanFiles(spark, root, Some(scanSchema(spark, root, declared,
        if (touched.isEmpty) live else touched)), touched).where(residual)
    (df, touched.size, live.size)
  }

  /** A pruning filter as the row predicate it stands for: the shapes
    * the log and footer bounds prune on ([[StatsSkipping.mayContain]]). */
  private def residualOf(f: Filter): org.apache.spark.sql.Column =
    f match {
      case And(l, r) => residualOf(l) && residualOf(r)
      case Or(l, r) => residualOf(l) || residualOf(r)
      case EqualTo(c, v) => col(c) === lit(v)
      case EqualNullSafe(c, v) => col(c) <=> lit(v)
      case In(c, vs) => col(c).isin(vs.toSeq: _*)
      case GreaterThan(c, v) => col(c) > lit(v)
      case GreaterThanOrEqual(c, v) => col(c) >= lit(v)
      case LessThan(c, v) => col(c) < lit(v)
      case LessThanOrEqual(c, v) => col(c) <= lit(v)
      case StringStartsWith(c, p) => col(c).startsWith(p)
      case other => throw new IllegalArgumentException(
        s"readWhere takes the filter shapes the store prunes on, not $other")
    }

  /** [[readWhere]] of `pcol` ∈ [lo, hi]. */
  def readRange(spark: SparkSession, root: String,
                pcol: String, lo: Long, hi: Long,
                version: Option[Long] = None): (DataFrame, Int, Int) =
    readWhere(spark, root, within(pcol, lo, hi), version)

  /** [[readWhere]] of `pcol` IN `values`, for STRING keys. */
  def pointLookupString(spark: SparkSession, root: String,
                        pcol: String, values: Seq[String],
                        version: Option[Long] = None)
      : (DataFrame, Int, Int) =
    readWhere(spark, root, Seq(In(pcol, values.toArray[Any])), version)

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
    val first = snapshotOf(spark, root)
    if (carries(first, batchId)) None // cheap fast path before the data write
    else {
      val hint = first.fold(0L)(_.version) + 1
      val (laid, stats) = withDeclaredLayout(df, root, statsCols)
      val adds = writeData(laid, root, hint, stats)
      if (adds.isEmpty) None
      else {
        // the constraint check and the first commit attempt share one
        // snapshot; only a lost race resolves again
        var snap = snapshotOf(spark, root)
        enforceConstraints(spark, snap, adds)
        var attempts = 0
        while (attempts < 64) {
          val n = snap.fold(0L)(_.version) + 1
          // ORDER MATTERS: the marker check reads the log of the same
          // snapshot that observed version n-1 committed. A twin writer
          // (restarted stream, zombie executor) offering the same batch
          // either committed before that observation — visible here,
          // we stand down — or commits after it, claiming version n
          // and forcing our commit into this conflict-and-recheck
          // loop. Either way the store ingests the batch exactly once.
          if (carries(snap, batchId)) return None
          try {
            commitLog(spark, root, n, adds, Seq.empty, Some(batchId))
            return Some(n)
          } catch { case _: CommitConflictException =>
            attempts += 1
            snap = snapshotOf(spark, root)
          }
        }
        throw new java.io.IOException(
          s"appendBatch($batchId) lost the commit race $attempts " +
            s"times at $root — livelocked against a faster writer")
      }
    }
  }

  /** Does some commit of `snap` carry `batchId`? */
  private def carries(snap: Option[Snapshot], batchId: Long): Boolean =
    snap.exists(_.log.exists(_.batchId.contains(batchId)))

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
                   bloomCols: Seq[String] = Nil): Long =
    rewriteLayout(spark, root, "compactSmall", targetBytes, 2, statsCols,
      bloomCols, None)(
      (live, _) => live.filter(sizeOf(spark, root, _) < smallBytes))

  /** Maintenance policy for a streaming sink: once the live set
    * exceeds `maxLiveFiles`, the sink folds the small-file backlog
    * into ~`targetBytes` files via [[compactSmall]] — as an ordinary
    * store commit, so readers pinned to pre-compaction versions are
    * untouched and the batch-id ledger is unaffected. */
  final case class SinkMaintenance(maxLiveFiles: Int,
                                   targetBytes: Long = 128L << 20) {
    /** The policy, run after a batch COMMITS (never on a replayed one:
      * a checkpoint replay must leave the store byte-identical). */
    private[graft] def afterCommit(spark: SparkSession, root: String,
                                   statsCols: Seq[String]): Unit =
      if (resolved(spark, root).live.size > maxLiveFiles)
        compactSmall(spark, root, targetBytes, targetBytes, statsCols)
  }

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
                 statsCols: Seq[String] = Nil): Unit =
    drain(stream, checkpoint) { (b, id) =>
      if (appendBatch(b, root, id, statsCols).nonEmpty)
        maintenance.foreach(_.afterCommit(b.sparkSession, root, statsCols))
    }

  /** Run `stream` AvailableNow through `batch` per micro-batch, and
    * block until drained. */
  private def drain(stream: DataFrame, checkpoint: String)(
      batch: (DataFrame, Long) => Unit): Unit =
    stream.writeStream
      .foreachBatch(batch)
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
      .awaitTermination()

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
    val snap = fileSnapshot(spark, root, None, "deleteWhere")
    val prev = snap.version
    val touched =
      prunedFiles(spark, root, snap.live, snap.declared, within(pcol, lo, hi))
    if (touched.isEmpty) return prev
    // keep a row unless the predicate is DEFINITELY true: under
    // three-valued logic `!pred` drops NULL-valued rows the caller
    // never selected — a silent data loss, not a delete
    val kept = readLiveFiles(spark, snap, touched)
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
    val snap = fileSnapshot(spark, root, None, "replaceWhere")
    val prev = snap.version
    val store = readSnapshot(spark, root, Some(snap))
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
      prunedFiles(spark, root, snap.live, snap.declared, within(pcol, lo, hi))
    val kept =
      if (touched.isEmpty) df.limit(0).select(store.columns.map(col): _*)
      else readLiveFiles(spark, snap, touched)
        .where(!coalesce(pred, lit(false)))
    val adds = batchAdds ++ writeData(kept, root, n, statsCols, bloomCols)
    enforceConstraints(spark, Some(snap), adds)
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
    val snap = fileSnapshot(spark, root, None, opName)
    val prev = snap.version
    val store = readSnapshot(spark, root, Some(snap))
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
          prunedFiles(spark, root, snap.live, snap.declared,
            within(key, span.get(0), span.get(1)))
        case _ => snap.live // unpruneable key type: exact scan decides
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
      else readLiveFiles(spark, snap, candidates)
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
        Some(readLiveFiles(spark, snap, touched.map(byPath))
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
      if (survivors.isEmpty || snap.constraints.nonEmpty) {
        val newAdds = writeData(aligned, root, n, statsCols, bloomCols)
        enforceConstraints(spark, Some(snap), newAdds)
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
    if (carries(snapshotOf(spark, root), batchId)) return None
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
                      statsCols: Seq[String] = Nil): Unit =
    drain(stream, checkpoint) { (b, id) =>
      mergeBatch(b, root, key, id, latestBy, statsCols)
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
    val stamped = published(spark, resolved(spark, root))
    val at = stamped.filter(_._2 <= tsMillis).map(_._1)
    require(at.nonEmpty,
      s"timestamp $tsMillis precedes every commit at $root " +
        s"(oldest published ${stamped.head._2}) — nothing to read")
    at.max
  }

  /** Time-based retention — the operational dial ("keep 7 days")
    * composed from [[versionAt]]'s publish-time model and [[vacuum]]:
    * retire every version published before `cutoffMillis`, always
    * keeping the latest. The caller computes the cutoff (now minus
    * the retention window), which keeps this deterministic and
    * testable; the vacuum caveats (checkpoint at the horizon,
    * in-flight-writer safety, pinned readers fail loudly past the
    * horizon) apply unchanged. */
  private[graft] def vacuumOlderThan(spark: SparkSession, root: String,
                                     cutoffMillis: Long): Unit =
    snapshotOf(spark, root).foreach { s =>
      val keep = published(spark, s).count(_._2 >= cutoffMillis)
      vacuum(spark, root, keepVersions = math.max(1, keep))
    }

  /** Each committed version of `s` with its log dir's publish time. */
  private def published(spark: SparkSession, s: Snapshot): Seq[(Long, Long)] = {
    val fs = fsOf(spark, new Path(s"${s.root}/$Log"))
    s.versions.map(v => v ->
      fs.getFileStatus(new Path(s"${s.root}/$Log/v=$v")).getModificationTime)
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
    val snap = resolved(spark, root)
    val prev = snap.version
    val bad = readSnapshot(spark, root, Some(snap))
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
    val snap = resolved(spark, root)
    require(snap.constraints.exists(_._1 == name),
      s"no active constraint named $name at $root")
    val n = snap.version + 1
    commitExclusive(spark, root, n, Seq.empty, Seq.empty,
      metaRows = Seq((name, "constraint_drop", "")))
    n
  }

  /** Validate freshly-written NEW-content files against the
    * constraints active at `snap` — the snapshot the commit builds on;
    * None for a first-ever write, where nothing is declared yet —
    * BEFORE their commit: reads back what was actually persisted
    * (column-pruned to the expressions' needs), so even a
    * nondeterministic upstream can't sneak a violation in. On
    * violation the staged files stay unreferenced (vacuum sweeps
    * them) and the commit never happens. */
  private[graft] def enforceConstraints(spark: SparkSession,
                                        snap: Option[Snapshot],
                                        entries: Seq[FileEntry]): Unit =
    snap.filter(_ => entries.nonEmpty).foreach { s =>
      lazy val df = readLiveFiles(spark, s, entries)
      s.constraints.foreach { case (name, exprSql) =>
        val bad = df.where(!coalesce(expr(exprSql), lit(true)))
          .limit(1).collect()
        if (bad.nonEmpty) throw new IllegalArgumentException(
          s"CHECK constraint $name violated at ${s.root}: ($exprSql) " +
            s"is false for row ${bad.head} — commit refused, staged " +
            "files abandoned to the vacuum sweep")
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
    * (`ignoreMissingFiles=false`), never partial rows. A [[readWhere]]
    * whose prune refutes every file from the log or memoized footers
    * reads no file, so it answers empty without noticing the loss —
    * still the snapshot's content for that filter. */
  def shallowClone(spark: SparkSession, srcRoot: String,
                   dstRoot: String,
                   version: Option[Long] = None): Long = {
    require(srcRoot.startsWith("/") || srcRoot.contains("://"),
      s"shallowClone needs an absolute source root: $srcRoot")
    // a clone re-references FILES; active delete vectors would be
    // left behind, silently resurrecting deleted rows in the clone
    val src = fileSnapshot(spark, srcRoot, version, "shallowClone")
    require(versions(spark, dstRoot).isEmpty,
      s"clone target $dstRoot already has commits")
    val entries = src.live.map(e => e.copy(path = resolve(srcRoot, e.path)))
    // schema anchor: clones of empty snapshots still read typed-empty
    if (!hasAnchor(spark, dstRoot))
      publishAnchor(spark, dstRoot,
        readSnapshot(spark, srcRoot, Some(src)).schema)
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
    // restore re-ADDS files; delete vectors are versioned separately
    // and would re-apply to the restored files out of their epoch, so
    // both snapshots refuse under them
    val snap = fileSnapshot(spark, root, None, "restore")
    // loud if the target was vacuumed
    val target = snap.at(toVersion).requireNoDvs("restore (target)").live
    val current = snap.live.map(_.path)
    val n = snap.version + 1
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
                     bloomCols: Seq[String] = Nil): Long =
    rewriteLayout(spark, root, "optimizeLayout", targetBytes, 0,
      (statsCols :+ clusterCol).distinct, bloomCols,
      Some(col(clusterCol)))((live, _) => live)

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
    require(lo <= hi, s"empty scope interval [$lo, $hi]")
    rewriteLayout(spark, root, "optimizeLayoutWhere", targetBytes, 2,
      (statsCols :+ clusterCol).distinct, bloomCols, Some(col(clusterCol)))(
      (live, declared) =>
        prunedFiles(spark, root, live, declared, within(clusterCol, lo, hi)))
  }

  /** Multi-dimensional layout OPTIMIZE as a commit: rewrite the live
    * set clustered on the HILBERT index of (`xCol`, `yCol`) —
    * [[Layout]]'s space-filling-curve layout joined to snapshot
    * isolation. The curve key is an ORDERING DEVICE only, never
    * persisted (schema unchanged): a curve maps 1-D file boundaries
    * to compact 2-D tiles, so every rewritten file's per-column
    * [min, max] for BOTH xCol and yCol come out simultaneously
    * narrow, and the ordinary log-stats pruning of a two-column
    * [[readWhere]] box does the rest — the same design every lakehouse Z-ORDER ships.
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
                          bloomCols: Seq[String] = Nil): Long =
    rewriteLayout(spark, root, "optimizeLayoutCurve", targetBytes, 0,
      (statsCols ++ Seq(xCol, yCol)).distinct, bloomCols,
      Some(Layout.hilbertValue(col(xCol), col(yCol), bits)))((live, _) => live)

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
    val snap = snapshotOf(spark, root)
    val empty = (0L, 0L, 0L, 0L)
    if (snap.isEmpty)
      return Seq(empty).toDF("horizon", "n_versions_dropped",
        "n_files_swept", "bytes_swept").limit(0)
    val s = snap.get
    val horizon = horizonOf(s, keepVersions)
    val keepSet = keptFiles(s, horizon)
    val dropped = s.versions.filter(_ < horizon)
    val swept = dropped.flatMap(s.at(_).live)
      .filter(e => !keepSet.contains(e.path) &&
        !e.path.startsWith("/") && !e.path.contains("://"))
      .groupBy(_.path).map(_._2.head).toSeq
    Seq((horizon, dropped.size.toLong, swept.size.toLong,
        swept.map(_.bytes).sum))
      .toDF("horizon", "n_versions_dropped", "n_files_swept",
        "bytes_swept")
  }

  /** The horizon when `s`'s store keeps its last `keepVersions`. */
  private def horizonOf(s: Snapshot, keepVersions: Int): Long =
    math.max(s.versions.head, s.versions.last - keepVersions + 1)

  /** Every file a version at or above `horizon` references, each live
    * set a projection of `s`'s one replay. */
  private def keptFiles(s: Snapshot, horizon: Long): Set[String] =
    s.versions.filter(_ >= horizon).flatMap(s.at(_).live).map(_.path).toSet

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
    * [[readWhere]] that prunes every file away reads none and answers
    * empty, which is still that snapshot's content for its filter.
    * Operators size `keepVersions` to cover their longest reader —
    * the same contract every lakehouse retention knob carries. */
  def vacuum(spark: SparkSession, root: String,
             keepVersions: Int): Unit = {
    require(keepVersions >= 1, s"keepVersions must be >= 1")
    val snap = snapshotOf(spark, root) match {
      case Some(s) => s
      case None => return
    }
    val vs = snap.versions
    val horizon = horizonOf(snap, keepVersions)
    if (horizon == vs.head) return
    val kept = vs.filter(_ >= horizon)
    val keepSet = keptFiles(snap, horizon)
    val fs = fsOf(spark, new Path(root))
    // checkpoint BEFORE dropping logs: horizon's log becomes a full
    // add-manifest of its live set (rename-committed like any version)
    val atHorizon = snap.at(horizon)
    val horizonLive = atHorizon.live
    // batch ids recorded at or below the horizon must SURVIVE the
    // checkpoint (Delta keeps SetTransaction actions in checkpoints
    // for the same reason): a streaming retry after vacuum re-offers
    // an old batch id, and losing the marker would double-ingest it.
    // Inert `txn` marker rows carry them — a snapshot's live set
    // reads only add/remove rows, so they never affect snapshots.
    val seenBatches = atHorizon.log
      .flatMap(_.batchId).distinct.sorted // bounded: batches, not rows
    val target = new Path(s"$root/$Log/v=$horizon")
    val staged = new Path(s"$root/$Log/.tmp_ckpt_v$horizon")
    fs.delete(staged, true)
    // constraints declared at or below the horizon must also survive
    // the checkpoint (same posture as batch-id markers): losing one
    // would silently stop enforcing it on future writes
    val keptConstraints = atHorizon.constraints
    // ...and so must delete vectors still active on the horizon's
    // live files: dropping one would resurrect deleted rows in every
    // surviving snapshot that shares the file
    val keptDvs = atHorizon.dvs
    // ...and the latest incremental-view position marker (the
    // DerivedView consumed-positions row): losing it would make the
    // next tick replay from an older position and DOUBLE-append its
    // delta — the same must-survive class as batch-id markers
    val keptViewPos = atHorizon.meta("viewpos")
    // ...and the declared (ALTERed) schema: losing it would silently
    // shrink every surviving snapshot back to its data files' shape
    val keptSchema = atHorizon.meta("schema")
    writeLogFile(spark, staged,
      horizonLive.map(LogRow.add(horizon, _)) ++
        seenBatches.map(b => LogRow.meta(horizon, "", "txn", Some(b))) ++
        keptConstraints.map { case (name, expr) =>
          LogRow.meta(horizon, name, "constraint", payload = Some(expr)) } ++
        keptDvs.toSeq.flatMap { case (f, dvRels) => dvRels.map(d =>
          LogRow.meta(horizon, f, "dv", payload = Some(d))) } ++
        keptViewPos.map(p =>
          LogRow.meta(horizon, "", "viewpos", payload = Some(p))) ++
        keptSchema.map(j =>
          LogRow.meta(horizon, "", "schema", payload = Some(j))))
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
      val keepDvDirs = kept.flatMap(snap.at(_).dvs.values.flatten).toSet
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
    val snap = windowEnd(spark, root, sinceVersion, toVersion)
    val to = snap.version
    val range = snap.log.filter(_.v > sinceVersion)
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
    if (adds.isEmpty)
      return spark.read.parquet(s"$root/_schema").limit(0)
        .withColumn("_commit_version", lit(0L))
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

  /** The snapshot closing the change window `(since, to]` (`to`
    * defaults to the latest); `since` is 0 or a committed version. */
  private def windowEnd(spark: SparkSession, root: String, since: Long,
                        to: Option[Long]): Snapshot = {
    val snap = resolved(spark, root, to)
    require(since == 0 || snap.versions.contains(since),
      s"since-version $since not committed at $root " +
        s"(have ${snap.versions.mkString(",")}) — vacuumed past the horizon?")
    snap
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
    val snap = windowEnd(spark, root, sinceVersion, toVersion)
    require(sinceVersion <= snap.version,
      s"empty change window ($sinceVersion, ${snap.version}]")
    // the file-set diff reads files RAW: an active delete vector at
    // either end would resurrect its rows into the feed (a vector
    // both added and purged strictly inside the window cancels and
    // is fine — both ends are vector-free for the affected files)
    val before =
      if (sinceVersion == 0) Seq.empty[FileEntry]
      else snap.at(sinceVersion)
        .requireNoDvs("readRowChanges (window start)").live
    snap.requireNoDvs("readRowChanges (window end)")
    val after = snap.live
    val beforeP = before.map(_.path).toSet
    val afterP = after.map(_.path).toSet
    val addedFiles = after.filterNot(e => beforeP.contains(e.path))
    val removedFiles = before.filterNot(e => afterP.contains(e.path))
    val target = readSnapshot(spark, root, Some(snap)).schema
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
  def maxBatchId(spark: SparkSession, root: String): Option[Long] =
    snapshotOf(spark, root).flatMap(_.log.flatMap(_.batchId).maxOption)

  /** Per-version commit summary — the store's audit surface. Every
    * committed version appears, including no-action commits
    * (compact/optimize of an empty table), so the audit has no
    * holes against [[versions]]. */
  def history(spark: SparkSession, root: String): DataFrame = {
    val spark0 = spark
    import spark0.implicits._
    val snap = snapshotOf(spark, root)
    val byV = snap.fold(Seq.empty[LogRow])(_.log).groupBy(_.v)
    snap.fold(Seq.empty[Long])(_.versions).map { v =>
      val rs = byV.getOrElse(v, Seq.empty)
      (v, rs.count(_.action == "add").toLong,
        rs.count(_.action == "remove").toLong,
        rs.filter(_.action == "add").map(_.nRows).sum)
    }.toDF("version", "n_added", "n_removed", "rows_added")
      .orderBy("version")
  }
}
