package graft.sources

import java.util.{Set => JSet}

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SQLContext, SparkSession}
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability}
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns, V1Scan}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources.{BaseRelation, Filter, InsertableRelation, TableScan}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.ops.TableStore

/** One [[TableStore]] snapshot as a DataSource V2 table: the unit the
  * SQL surface names (`SELECT … FROM graft.t [VERSION AS OF n]`) and
  * `spark.read.format("graft")` loads. The reference consumes its
  * warehouse ENTIRELY through SQL over named tables
  * (dags/SQL/DWH_Quality_Checks.sql:1-325,
  * dags/SQL/Gold/create_load_data_gold.sql:122-145) — this class is
  * what lets a user of this engine do the same against versioned
  * stores.
  *
  * The version pin happens at LOAD time (`version = None` resolves to
  * the latest committed version once, here), so every scan of one
  * resolved table reads one immutable snapshot — a concurrent commit
  * between analysis and execution cannot tear a query.
  *
  * Every read of this table scans the one store relation, a
  * [[GraftFileIndex]]-backed native parquet scan pruned by
  * [[TableStore.prunedFiles]] (log bounds, footer bounds, blooms):
  *  - [[graft.functions.GraftExtensions]] rewrites the relation to it
  *    during analysis — vectorized reader + whole-stage codegen; this
  *    is the plan every SQL query gets;
  *  - the DSv2 [[GraftScanBuilder]] below is the self-contained
  *    fallback (extensions not installed, or merge-on-read delete
  *    vectors outstanding — the rewrite refuses those): V1Scan
  *    delegation to the same pruned scan when the snapshot is
  *    vector-free, else to the dv-aware [[TableStore.read]].
  */
class GraftStoreTable(val root: String, val requestedVersion: Option[Long],
                      providedSchema: Option[StructType] = None)
    extends Table with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.TruncatableTable {

  private def spark: SparkSession = SparkSession.active

  /** A path IS a store once any write anchored it (commit log or
    * first-touch schema anchor). */
  private lazy val storeExists: Boolean = {
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(new org.apache.hadoop.fs.Path(s"$root/_log")) ||
      fs.exists(new org.apache.hadoop.fs.Path(s"$root/_schema"))
  }

  /** The pinned snapshot version: requested (validated by the read
    * below) or latest-at-load. */
  lazy val resolvedVersion: Long = requestedVersion.getOrElse {
    val vs = TableStore.versions(spark, root)
    // an anchored-but-never-committed store (all-empty stream) still
    // loads — version 0 reads as typed empty through TableStore.read
    if (vs.isEmpty) 0L else vs.max
  }

  private[sources] lazy val liveEntries: Seq[TableStore.FileEntry] =
    if (resolvedVersion == 0L) Seq.empty
    else TableStore.liveAt(spark, root, resolvedVersion)

  /** Outstanding merge-on-read delete vectors make a file's logical
    * content a (file, dv) pair — raw file scans are then wrong, and
    * both read paths must route through the dv-aware
    * [[TableStore.read]]. */
  private[sources] lazy val hasDeleteVectors: Boolean =
    liveEntries.nonEmpty &&
      TableStore.dvsAt(spark, root, resolvedVersion, liveEntries).nonEmpty

  /** The dv-aware snapshot frame — the hash target both read paths
    * must match. */
  private[sources] def snapshot: org.apache.spark.sql.DataFrame =
    TableStore.read(spark, root,
      if (resolvedVersion == 0L) None else Some(resolvedVersion))

  /** An existing store's commit log is the source of truth (a
    * user-provided schema is ignored there, the Delta posture); a
    * FRESH path — the first `df.write.format("graft")` target —
    * takes the writer-provided schema, since nothing is committed
    * yet to infer from. */
  override lazy val schema: StructType =
    if (storeExists) snapshot.schema
    else providedSchema.getOrElse(
      throw new IllegalArgumentException(
        s"no store at $root — reads need a committed store; a first " +
          "write reaches here only through df.write.format(\"graft\")"))

  override def name(): String =
    s"graft.`$root`" +
      requestedVersion.map(v => s" VERSION AS OF $v").getOrElse("")

  // AUTOMATIC_SCHEMA_EVOLUTION opts into Spark's own
  // ResolveMergeIntoSchemaEvolution: `MERGE WITH SCHEMA EVOLUTION`
  // computes the add/widen TableChanges from the source schema and
  // routes them through GraftCatalog.alterTable — i.e. the SAME
  // one-metadata-commit evolution ALTER TABLE takes — before the
  // merge resolves against the evolved relation. Without the keyword
  // nothing changes (the capability only enables the opt-in syntax).
  override def capabilities(): JSet[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE,
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)

  /** The declared layout columns (`CREATE … PARTITIONED BY`),
    * reported as identity transforms so DESCRIBE/SHOW surfaces the
    * contract. Writes honor it inside [[TableStore.append]] (range
    * clustering + logged bounds), not through Spark's distribution
    * machinery. */
  override def partitioning()
      : Array[org.apache.spark.sql.connector.expressions.Transform] =
    TableStore.partitionColsOf(spark, root)
      .map(org.apache.spark.sql.connector.expressions.Expressions.identity)
      .toArray

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = new GraftScanBuilder(this)

  /** `TRUNCATE TABLE` — the unconditional [[graft.ops.Dml.delete]]:
    * METADATA-ONLY (every live file leaves the log in one commit,
    * zero data IO — truncating a 100 TB table costs one log write),
    * history stays readable behind the new version, and the commit
    * rebases past provably-disjoint racers like every row-level
    * rewrite. A time-travel pin is read-only, as everywhere. */
  override def truncateTable(): Boolean = {
    require(requestedVersion.isEmpty,
      s"a time-travel pin is read-only: TRUNCATE targets $root's " +
        "latest version — drop VERSION AS OF / TIMESTAMP AS OF")
    graft.ops.Dml.delete(spark, root,
      org.apache.spark.sql.functions.lit(true))
    true
  }

  /** `INSERT INTO` / `INSERT OVERWRITE` on the SQL surface. NOT a
    * bypass of the commit contracts — the write routes through the
    * very [[TableStore.append]]/[[TableStore.overwrite]] commits the
    * API path takes (constraints enforced pre-commit, optimistic
    * retry, snapshot isolation); only catalog DDL stays refused.
    * Writes always target the table's LATEST version: a time-travel
    * pin is a READ pin, so `INSERT INTO t VERSION AS OF n` refuses
    * rather than silently forking history. Stats/bloom-bearing
    * writes stay on the API (SQL has nowhere to carry statsCols). */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(requestedVersion.isEmpty,
      s"a time-travel pin is read-only: INSERT targets $root's " +
        "latest version — drop VERSION AS OF / TIMESTAMP AS OF")
    new GraftWriteBuilder(this, info)
  }
}

/** V1Write delegation: `INSERT INTO` appends one commit,
  * `INSERT OVERWRITE` (Spark calls `truncate()`) replaces content as
  * one commit with every prior snapshot still readable.
  *
  * `df.write.format("graft")` reaches the same builder with WRITER
  * OPTIONS riding [[LogicalWriteInfo]]: `statsCols` (comma-separated
  * integer columns whose per-file [min, max] land in the commit log
  * for zero-IO pruning) and `bloomCols` (parquet bloom filters for
  * point-lookup probes) — the commit-log contracts SQL INSERT has no
  * syntax for, available to the writer API:
  *
  * {{{
  *   df.write.format("graft").option("statsCols", "id,ts")
  *     .mode("append").save("/data/events")
  * }}} */
class GraftWriteBuilder(table: GraftStoreTable, info: LogicalWriteInfo)
    extends WriteBuilder with SupportsTruncate {

  private var overwriteAll = false

  private def cols(key: String): Seq[String] =
    Option(info.options.get(key)).toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)

  override def truncate(): WriteBuilder = { overwriteAll = true; this }

  override def build(): Write = new V1Write {
    override def toInsertableRelation: InsertableRelation =
      new InsertableRelation {
        override def insert(data: DataFrame, overwrite: Boolean): Unit = {
          val stats = cols("statsCols")
          val blooms = cols("bloomCols")
          if (overwriteAll || overwrite)
            TableStore.overwrite(data, table.root, stats, blooms)
          else TableStore.append(data, table.root, stats, blooms)
          ()
        }
      }
  }
}

/** DSv2 scan builder: column pruning + filter pushdown. Every filter
  * is RETURNED as residual (Spark re-evaluates it after the scan — a
  * skipping bug can cost IO, never rows) and also recorded, reported
  * as `pushedFilters`, for [[TableStore.prunedFiles]] to prune with
  * inside the scan. */
class GraftScanBuilder(table: GraftStoreTable)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns {

  private var required: StructType = table.schema
  private var pushed: Array[Filter] = Array.empty

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters
    filters // all residual: exactness never rests on the skip
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = new GraftScan(table, required, pushed)
}

/** V1Scan delegation: the scan plans as a RowDataSourceScanExec whose
  * RDD is the store's one pruned scan ([[TableStore.prunedFiles]] then
  * [[TableStore.scanFiles]]) when the snapshot is vector-free, the
  * dv-aware full read when not.
  * (The primary SQL path never reaches here: the analysis rewrite in
  * [[graft.functions.GraftExtensions]] replaces the relation with a
  * native parquet scan first. This path serves `spark.read
  * .format("graft")` without extensions, and dv-carrying snapshots.)
  *
  * Statistics come from the COMMIT LOG (byte and row sums over the
  * live entries — metadata-sized, zero IO): without them a fallback
  * relation defaults to `defaultSizeInBytes` = "huge", and a small
  * store on this path would never broadcast in a join — the planner
  * regression a no-extensions session (or a dv-carrying snapshot)
  * would otherwise silently pay. Bytes from pre-byte-logging commits
  * are unknown: the estimate then reports only the row count rather
  * than guessing low (an under-estimate flips joins the WRONG way).
  * Under delete vectors the sums slightly over-count — conservative
  * for broadcast decisions. */
class GraftScan(table: GraftStoreTable, required: StructType,
                pushed: Array[Filter]) extends V1Scan
    with org.apache.spark.sql.connector.read.SupportsReportStatistics {

  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics =
    new org.apache.spark.sql.connector.read.Statistics {
      private val entries = table.liveEntries
      override def sizeInBytes(): java.util.OptionalLong =
        if (entries.forall(_.bytes > 0))
          java.util.OptionalLong.of(entries.map(_.bytes).sum)
        else java.util.OptionalLong.empty()
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.of(entries.map(_.rows).sum)
    }

  override def readSchema(): StructType = required

  override def description(): String =
    s"${table.name()} pushed=[${pushed.mkString(", ")}]"

  override def toV1TableScan[T <: BaseRelation with TableScan](
      context: SQLContext): T = {
    val rel = new BaseRelation with TableScan {
      override def sqlContext: SQLContext = context
      override def schema: StructType = required
      override def buildScan(): RDD[Row] = {
        val spark = context.sparkSession
        val base =
          if (table.hasDeleteVectors || table.liveEntries.isEmpty)
            table.snapshot
          // read under the table's (declared-aware) schema: an
          // ALTER-evolved snapshot's pre-ALTER files null-fill the
          // added column instead of inferring one file's shape
          else TableStore.scanFiles(spark, table.root, Some(table.schema),
            TableStore.prunedFiles(spark, table.root, table.liveEntries,
              Some(table.schema), pushed))
        base.select(required.fieldNames.toIndexedSeq.map(col): _*).rdd
      }
    }
    rel.asInstanceOf[T]
  }
}
