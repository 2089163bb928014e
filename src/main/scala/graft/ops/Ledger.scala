package graft.ops

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Processed-file ledger — SURVEY.md §2.9 ST2 + §2.1 S10.
  *
  * The reference keeps an MD5-checksum ledger of every landing file and
  * decides per run: never seen → process as new; seen with a different
  * checksum → reprocess; same checksum → skip
  * (reference: dags/DataWarehouse.py:36-50,67-116). Same protocol here:
  * the ledger is a small engine-owned table with columns, IN ORDER,
  * (file_name, size_bytes, checksum) — [[update]] merges by schema and
  * requires exactly this order. The scan is the binaryFile source; the
  * decision and the update run on the driver over collected rows, since
  * a scan and a ledger are metadata-sized (one row per landing file) no
  * matter how big the data files are: [[decide]] is one Spark job and
  * returns a local frame, and [[update]] adds no job to its write.
  */
object Ledger {

  /** Scan a landing dir into (file_name, size_bytes, checksum) —
    * checksum is md5 over the raw bytes, computed distributed (each
    * task hashes its own files; only the digests reach the driver). */
  def scan(spark: SparkSession, dir: String, glob: String = "*"): DataFrame =
    Multimodal.readBinaryDir(spark, dir, glob)
      .select(col("file_name"), col("size_bytes"),
        md5(col("content")).as("checksum"))

  /** Decision: scanned files vs ledger state, as a full-outer match on
    * file_name (a NULL name matches nothing).
    *  - `new`       on disk, never in the ledger  → process
    *  - `changed`   on disk, ledger checksum differs → reprocess
    *  - `unchanged` on disk, same checksum → skip
    *  - `missing`   in the ledger, no longer on disk (reference's
    *    archived/removed files; reported, never processed)
    * Both inputs are collected by one execution and matched on the
    * driver; the decisions come back as a local frame, so later reads
    * of it run no job and never re-scan the landing files. */
  def decide(scanned: DataFrame, ledger: DataFrame): DataFrame = {
    val sizeType = scanned.schema("size_bytes").dataType
    val rows = scanned.select(lit(true).as("_scan"), col("file_name"),
        col("size_bytes"), col("checksum").cast(StringType).as("checksum"))
      .unionByName(ledger.select(lit(false).as("_scan"), col("file_name"),
        lit(null).cast(sizeType).as("size_bytes"),
        col("checksum").cast(StringType).as("checksum")))
      .collect()
    val (scan, led) = rows.partition(_.getBoolean(0))
    def name(r: Row): Option[String] = Option(r.getString(1))
    val ledByName = led.filter(name(_).isDefined).groupBy(name(_).get)
    val onDisk = scan.flatMap(name).toSet
    def decision(scanCk: String, ledCk: String): String =
      if (ledCk == null) "new"
      else if (scanCk == null) "missing"
      else if (scanCk == ledCk) "unchanged"
      else "changed"
    def out(s: Row, ledCk: String): Row = {
      val scanCk = s.getString(3)
      Row(s.getString(1), s.get(2), Option(scanCk).getOrElse(ledCk),
        decision(scanCk, ledCk))
    }
    val matched = scan.flatMap { s =>
      name(s).flatMap(ledByName.get) match {
        case Some(ls) => ls.toSeq.map(l => out(s, l.getString(3)))
        case None => Seq(out(s, null))
      }
    }
    val missing = led.filterNot(l => name(l).exists(onDisk)).map(l =>
      Row(l.getString(1), null, l.getString(3), decision(null, l.getString(3))))
    scanned.sparkSession.createDataFrame(
      java.util.Arrays.asList(matched ++ missing: _*),
      StructType(Seq(StructField("file_name", StringType),
        StructField("size_bytes", sizeType), StructField("checksum", StringType),
        StructField("decision", StringType, nullable = false))))
  }

  /** Files the current run must actually read (reference skips
    * unchanged and missing). */
  def toProcess(decisions: DataFrame): DataFrame =
    decisions.filter(col("decision").isin("new", "changed"))

  /** Post-run ledger update: every processed file's row refreshed or
    * inserted (the reference's ON CONFLICT (file_name) DO UPDATE, every
    * column refreshed on a conflict). The processed rows are collected
    * (a local frame, as [[decide]]'s rows are, collects with no job);
    * the result keeps the ledger rows no processed row names — a filter
    * on the ledger's own scan, NULL-safe on the name — plus the
    * processed rows, in one partition, so writing it is one job and
    * one file. */
  def update(ledger: DataFrame, processedScan: DataFrame): DataFrame = {
    val incoming = processedScan.select("file_name", "size_bytes", "checksum")
    require(ledger.columns.sameElements(incoming.columns),
      "ledger update requires (file_name, size_bytes, checksum), in order")
    val rows = incoming.collect()
    val names = rows.map(_.getString(0))
    val named = coalesce(col("file_name").isin(names.filter(_ != null): _*),
      lit(false))
    val hit = if (names.contains(null)) named || col("file_name").isNull else named
    ledger.filter(!hit).unionByName(ledger.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), incoming.schema)).coalesce(1)
  }

  /** S10: archive a processed file — move to `archiveDir` with a
    * suffix before the extension (the reference stamps a timestamp;
    * the caller passes it, keeping this deterministic and testable).
    * A same-suffix collision (the same file re-landed and reprocessed
    * within one stamp period) gets a numeric disambiguator instead of
    * failing: the archive rename runs AFTER layers commit but BEFORE
    * the ledger commit, so throwing here would wedge the protocol in
    * a reprocess-crash loop. */
  def archiveFile(fs: FileSystem, file: Path, archiveDir: Path,
                  suffix: String): Path = {
    val name = file.getName
    val dot = name.lastIndexOf('.')
    def candidate(n: Int): String = {
      val tag = if (n == 0) suffix else s"${suffix}_$n"
      if (dot >= 0) s"${name.substring(0, dot)}_$tag${name.substring(dot)}"
      else s"${name}_$tag"
    }
    fs.mkdirs(archiveDir)
    val dest = Iterator.from(0).map(n => new Path(archiveDir, candidate(n)))
      .find(!fs.exists(_))
      .get // Iterator.from is unbounded — some candidate is always free
    if (!fs.rename(file, dest))
      throw new java.io.IOException(s"cannot archive $file -> $dest")
    dest
  }
}
