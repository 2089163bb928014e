package graft.ops

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets

/** Landing-zone CSV ingestion — SURVEY.md §2.1 S1/S2 + §2.2 P1.
  *
  * The reference glob-scans a landing directory and reads each CSV
  * file-by-file with pandas because header dialects differ per file
  * (dags/DataWarehouse.py:583,615-631; two dialects documented in
  * SURVEY §1.3). A per-file `spark.read` would mean one job per file —
  * fine for tens of files, wrong for a 100 TB landing zone. Instead
  * files are grouped by their header line (one cheap driver-side
  * first-line read per file — metadata-scale, like the listing itself)
  * and each *dialect group* becomes ONE multi-file scan, normalized
  * and conformed to the target layer schema, then unioned:
  * #scans = #dialects, not #files. The header line already read also
  * gives each group its all-string schema (Spark's own header rules,
  * applied to a one-line local dataset), so no scan runs a
  * header-inference job: ingesting plans without any Spark job.
  */
object CsvIngest {

  /** First line of a file (the CSV header), read driver-side. */
  private def headerLine(fs: FileSystem, p: Path): String = {
    val in = new BufferedReader(
      new InputStreamReader(fs.open(p), StandardCharsets.UTF_8))
    try in.readLine() finally in.close()
  }

  /** S1: list `*.csv` under `dir`, sorted by name (the reference
    * processes files in sorted order). */
  def listCsv(spark: SparkSession, dir: String): Seq[Path] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty // a missing landing dir = nothing new
    else fs.listStatus(p).toIndexedSeq.map(_.getPath)
      .filter(_.getName.endsWith(".csv")).sortBy(_.getName)
  }

  /** S2+P1: ingest every CSV in `dir` into the fixed `target` schema.
    * All columns are read as strings (no inference — the layer schema
    * owns the types, reference §1.3), headers canonicalized + renamed
    * ([[Normalize.headers]]), missing columns become typed NULLs and
    * extras are dropped ([[Normalize.conformTo]]), and a `src_file`
    * lineage column carries the basename (the reference tracks
    * file_name through its ledger). */
  def ingestDir(spark: SparkSession, dir: String, target: StructType,
                renames: Map[String, String] = Normalize.renameMap): DataFrame =
    ingestFiles(spark, listCsv(spark, dir), target, renames)

  /** Same, over an explicit file list (the ledger-driven path: only
    * new/changed files get ingested — see pipeline/Warehouse). */
  def ingestFiles(spark: SparkSession, files: Seq[Path], target: StructType,
                  renames: Map[String, String] = Normalize.renameMap): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val groups = files.groupBy(p => headerLine(p.getFileSystem(conf), p))
    import spark.implicits._
    val frames = groups.toSeq.sortBy(_._2.head.getName).map { case (header, paths) =>
      val schema = spark.read.option("header", "true")
        .csv(Seq(header).toDS()).schema
      val raw = spark.read.schema(schema).option("header", "true")
        .csv(paths.map(_.toString): _*)
      Normalize.conformTo(Normalize.headers(raw, renames), target)
        .withColumn("src_file",
          element_at(split(input_file_name(), "/"), -1))
    }
    // an empty landing zone is a normal skip, not an error (the
    // reference's sensor simply finds nothing)
    if (frames.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(target.fields.toIndexedSeq :+
          org.apache.spark.sql.types.StructField("src_file",
            org.apache.spark.sql.types.StringType)))
    else frames.reduce(_ unionByName _)
  }
}
