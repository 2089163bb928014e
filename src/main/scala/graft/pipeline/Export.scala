package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.GraftSession
import graft.ops.Incremental

/** The incremental churn-export pipeline — the reference's
  * daily_churn_export_pipeline DAG (dags/churn_export_dag_cloude.py:
  * 602-616): read the last watermark, extract the half-open change
  * window `(last_wm, run_ts]` on GREATEST(created_at, updated_at),
  * write one watermark-named CSV, and advance the watermark ONLY
  * after a successful write; an empty window advances nothing
  * (AirflowSkipException semantics). All composed from
  * [[Incremental]] — this file wires the churn shapes.
  */
object Export {

  /** Window extract over a bronze-shaped frame (P7 + F11). The bounds
    * are cast row by row from per-run [[graft.GraftSession.constant]]
    * strings, so every run's extract is the same generated code. */
  def extractWindow(bronze: DataFrame, lastWm: String, runTs: String): DataFrame =
    Incremental.window(bronze,
      Incremental.changeTs(col("created_at"), col("updated_at")),
      GraftSession.constant(lastWm).cast("timestamp"),
      GraftSession.constant(runTs).cast("timestamp"))

  /** One export run. Returns exported row count (0 = skipped batch,
    * watermark untouched). The export file name carries the window
    * bounds like the reference's Churn_Export_<from>_to_<to>.csv. */
  def run(spark: SparkSession, bronze: DataFrame, stateFile: String,
          exportDir: String, runTs: String,
          hook: NotifyHook = NotifyHook.Log): Long = {
    val store = new Incremental.WatermarkStore(stateFile)
    val lastWm = store.read()
    val fileSafe = (s: String) => s.replace(":", "").replace(" ", "T")
    val dest =
      s"$exportDir/Churn_Export_${fileSafe(lastWm)}_to_${fileSafe(runTs)}"
    val n = Incremental.runBatch(
      store,
      wm => extractWindow(bronze, wm, runTs),
      runTs,
      batch => Incremental.csvSink(batch, dest, Seq("customer_id")))
    // success mail / skip notice of the reference's export DAG
    hook.send(Notify.BatchStats("export",
      Map("exported_rows" -> n, "skipped" -> (if (n == 0) 1L else 0L))))
    n
  }
}
