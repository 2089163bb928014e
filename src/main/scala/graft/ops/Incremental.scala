package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.nio.charset.StandardCharsets

/** Incremental-extract family — SURVEY.md §2.9 ST1-ST4, §2.2 P7.
  *
  * The reference drives a watermark variable through a half-open
  * change window `(last_wm, run_ts]`, advances it ONLY after the sink
  * write succeeds, and never advances on an empty batch
  * (dags/churn_export_dag_cloude.py:369-371,536-569). Same protocol
  * here with a driver-side state file: write sink → fsync-rename
  * commit. A crash between sink write and commit re-extracts the same
  * window on retry — safe because the sinks are idempotent
  * (overwrite-by-window-name).
  */
object Incremental {

  /** P7/F11: the change-timestamp is GREATEST(created, updated). */
  def changeTs(created: Column, updated: Column): Column =
    greatest(created, updated)

  /** Half-open watermark window (lowExclusive, highInclusive]. */
  def window(df: DataFrame, change: Column,
             lowExclusive: Column, highInclusive: Column): DataFrame =
    df.filter(change > lowExclusive && change <= highInclusive)

  /** Durable watermark: one value in a file, committed by atomic
    * rename so a torn write can never corrupt state. */
  final class WatermarkStore(path: String, init: String = "1970-01-01T00:00:00") {
    def read(): String = {
      val p = Paths.get(path)
      if (Files.exists(p)) new String(Files.readAllBytes(p), StandardCharsets.UTF_8).trim
      else init
    }
    def commit(value: String): Unit = {
      val p = Paths.get(path)
      if (p.getParent != null) Files.createDirectories(p.getParent)
      val tmp = Paths.get(path + ".tmp")
      Files.write(tmp, value.getBytes(StandardCharsets.UTF_8))
      Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    }
  }

  /** ST1+ST4: run one incremental batch. `sink` runs strictly before
    * the watermark commit; an empty window skips both (watermark
    * unchanged, reference AirflowSkipException semantics).
    * Returns the number of exported rows. */
  def runBatch(
      store: WatermarkStore,
      extract: String => DataFrame,   // lastWm => windowed frame
      runTs: String,
      sink: DataFrame => Unit): Long = {
    val lastWm = store.read()
    val batch = extract(lastWm)
    // single action: count drives the cached batch; isEmpty-then-write
    // would scan twice.
    val persisted = batch.persist()
    try {
      val n = persisted.count()
      if (n > 0) {
        sink(persisted)      // side effect FIRST
        store.commit(runTs)  // advance ONLY after a successful write
      }
      n
    } finally { persisted.unpersist() }
  }

  /** S8: deterministic single-file CSV export sink (the reference
    * writes one watermark-named CSV per window): one partition, sorted
    * within itself by `orderCols` — the same file, in the same key
    * order, as a global sort would give, without the global sort's
    * range-sampling job and shuffle: the write is one job. coalesce(1)
    * is intentional and bounded: an incremental window is small by
    * construction; a full-table export wants a distributed sort and
    * many files instead. */
  def csvSink(df: DataFrame, path: String, orderCols: Seq[String]): Unit =
    df.coalesce(1)
      .sortWithinPartitions(orderCols.map(col): _*)
      .write.mode("overwrite").option("header", "true").csv(path)
}
