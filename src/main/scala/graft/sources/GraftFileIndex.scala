package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

import graft.ops.TableStore
import graft.ops.TableStore.FileEntry

/** [[TableStore]] data files as a Spark `FileIndex` — the relation
  * every store read scans, typed, SQL or DML: the NATIVE parquet scan
  * (FileSourceScanExec: vectorized reader, whole-stage codegen,
  * parquet predicate pushdown) over files the COMMIT LOG names, never
  * a filesystem listing. `listFiles` translates the query's data
  * filters to the `sources.Filter` ADT and keeps what
  * [[TableStore.prunedFiles]] cannot rule out — the same pruner, so
  * the same files, as [[TableStore.readWhere]] for the same filters.
  *
  * Scale shape: the file list is fixed at construction (the snapshot
  * pin) and its paths are qualified there once, as Spark's own
  * listing reports them; per-file sizes ride the log (`n_bytes`), so
  * only pre-upgrade files cost a driver stat. Pruning is driver-side,
  * bounded by file count.
  */
class GraftFileIndex(spark: SparkSession, root: String,
                     live: Seq[FileEntry], dataSchema: StructType)
    extends FileIndex {

  private def this(spark: SparkSession, root: String,
                   snap: TableStore.Snapshot) =
    this(spark, root, snap.live,
      TableStore.readSnapshot(spark, root, Some(snap)).schema)

  def this(spark: SparkSession, root: String, version: Long) =
    this(spark, root, TableStore.snapshotOf(spark, root, Some(version)).get)

  private val statuses: Seq[(FileEntry, FileStatus)] = {
    val conf = spark.sparkContext.hadoopConfiguration
    live.map { e =>
      val raw = new Path(TableStore.resolve(root, e.path))
      val fs = raw.getFileSystem(conf)
      val p = fs.makeQualified(raw)
      val len = if (e.bytes > 0) e.bytes else fs.getFileStatus(p).getLen
      // modification time 0: the snapshot is immutable by contract,
      // so no freshness check ever consults it
      e -> new FileStatus(len, false, 1, 128L << 20, 0L, p)
    }
  }

  override def rootPaths: Seq[Path] = Seq(new Path(root))

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression])
      : Seq[PartitionDirectory] = {
    val filters = dataFilters
      .flatMap(org.apache.spark.sql.graftbridge.Bridge.translateFilter)
    val kept = TableStore.prunedFiles(spark, root, live,
      Some(dataSchema), filters).map(_.path).toSet
    Seq(PartitionDirectory(InternalRow.empty,
      statuses.collect { case (e, st) if kept(e.path) => st }.toArray))
  }

  override def inputFiles: Array[String] =
    statuses.map(_._2.getPath.toString).toArray

  override def refresh(): Unit = ()

  override def sizeInBytes: Long = statuses.map(_._2.getLen).sum

  override def partitionSchema: StructType = new StructType()
}

object GraftFileIndex {

  /** The parquet relation over `live` under `schema` (made nullable,
    * as Spark's file sources treat a given schema) — what
    * [[TableStore.scanFiles]] and the SQL rewrite ([[GraftRewrite]])
    * both plan. Missing files fail the scan whatever the session sets:
    * a pinned reader whose files were vacuumed must never return
    * partial rows. */
  private[graft] def relation(spark: SparkSession, root: String,
                              live: Seq[FileEntry],
                              schema: StructType): HadoopFsRelation = {
    val dataSchema = org.apache.spark.sql.graftbridge.Bridge.nullable(schema)
    HadoopFsRelation(
      location = new GraftFileIndex(spark, root, live, dataSchema),
      partitionSchema = new StructType(),
      dataSchema = dataSchema,
      bucketSpec = None,
      fileFormat = new ParquetFileFormat(),
      options = Map("ignoreMissingFiles" -> "false"))(spark)
  }
}
