package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Run-date-partitioned layer tables — SURVEY.md §2.2 P10.
  *
  * The reference's fact queries filter on `run_date`
  * (dags/ml_churn_pipeline.py:153). On a 100 TB fact the difference
  * between "read one day" and "read the table" IS partition layout:
  * the fact is written `partitionBy(run_date)` so a `run_date = …`
  * predicate prunes at PLANNING time — the scan's PartitionFilters
  * (asserted in PruningSpec) keep every other partition's files out of
  * the job entirely. Filters on non-partition columns still push down
  * to parquet row groups, but only partition pruning skips whole
  * directories.
  */
object Partitioned {

  /** Write a layer partitioned by `partCol` (dynamic overwrite: only
    * partitions present in `df` are replaced, the reference's
    * per-run-date append/replace shape). */
  def writeBy(df: DataFrame, path: String, partCol: String): Unit = {
    // repartition on the partition column first: without it every task
    // opens a writer per partition value (tasks x partitions small
    // files); with it each partition directory gets one writer's
    // output. At skewed scale add a salt column to the repartition.
    writeAsLaidOut(df.repartition(col(partCol)), path, partCol)
  }

  /** [[writeBy]] without its repartition: each task of `df` writes the
    * partitions its rows fall in. For a frame already laid out by
    * `partCol`, such as one whose rows all share one value. */
  private[graft] def writeAsLaidOut(df: DataFrame, path: String,
                                    partCol: String): Unit = {
    df.write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partCol)
      .parquet(path)
    anchorSchema(df, path)
  }

  /** Keep a partitioned store READABLE across empty batches. Spark's
    * partitioned writer emits NO files for a zero-row frame (not even
    * a schema-bearing empty part file), so a store whose first batch
    * is empty — an everyday event for incremental ingests — has no
    * schema on disk and every read fails with UNABLE_TO_INFER_SCHEMA.
    * After each partitioned write, one root listing (FS metadata, no
    * data IO) decides:
    *  - store has no data at all → anchor the schema with one
    *    zero-row UNpartitioned parquet file at the root (`partCol`
    *    rides along as a data column, so the anchored store reads
    *    with the exact schema a populated one would);
    *  - store has real partition directories AND a leftover root
    *    anchor from an earlier empty batch → delete the anchor, so
    *    partition discovery never sees leaf files at two depths. */
  def anchorSchema(df: DataFrame, path: String): Unit = {
    val spark = df.sparkSession
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val entries =
      if (fs.exists(root)) fs.listStatus(root).toSeq
      else Seq.empty
    def isAnchor(s: org.apache.hadoop.fs.FileStatus) =
      s.isFile && s.getPath.getName.startsWith("part-")
    val hasPartDirs = entries.exists(_.isDirectory)
    if (!hasPartDirs && !entries.exists(isAnchor))
      // driver-side zero-row write (TableStore's anchor posture):
      // same file shape as the old limit(0) Spark job, no scheduler
      // round-trip
      TableStore.writeSchemaDir(spark, root, df.schema)
    else if (hasPartDirs)
      entries.filter(isAnchor).foreach(s => fs.delete(s.getPath, false))
  }

  /** Read one run-date slice; the equality predicate on the partition
    * column becomes a catalog-side PartitionFilter, never a data scan. */
  def readSlice(spark: SparkSession, path: String, partCol: String,
                value: String): DataFrame =
    spark.read.parquet(path).filter(col(partCol) === lit(value))

  /** Retention: expire every partition whose `partCol` value sorts
    * strictly BELOW `keepFrom` (partition values are strings — run
    * dates/months in zero-padded ISO form sort correctly; that is the
    * layout convention [[writeBy]] establishes). The missing third of
    * the data lifecycle beside [[writeBy]] (produce) and
    * [[TableStore.compact]] (reorganize): a 100 TB fact with a 90-day
    * retention contract must DROP directories, not filter at read
    * time — storage, listing cost and compliance all hang on the
    * files actually going away.
    *
    * Shape: pure FS-metadata planning (one root listing — no data
    * scan, no job), per-partition directory deletes (each atomic at
    * the FS level; a crash mid-expiry leaves whole surviving
    * partitions, never half-files, and the re-run completes the
    * rest — the idempotent-retry posture of the upsert family).
    * `dryRun = true` plans without deleting. Returns the expiry
    * manifest (partition value, decision) for the caller's ledger. */
  def expireSlices(spark: SparkSession, path: String, partCol: String,
                   keepFrom: String,
                   dryRun: Boolean = false): Seq[(String, String)] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Seq.empty
    val prefix = s"$partCol="
    fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(prefix))
      .map { s =>
        val value = java.net.URLDecoder.decode(
          s.getPath.getName.stripPrefix(prefix), "UTF-8")
        val decision =
          if (value >= keepFrom) "kept"
          else if (dryRun) "would_expire"
          else { fs.delete(s.getPath, true); "expired" }
        (value, decision)
      }
      .sortBy(_._1)
  }
}
