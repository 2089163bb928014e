package graft.pipeline

import org.apache.spark.sql.Row

/** Pluggable notification events — the engine-side contract behind the
  * reference's email callbacks (dags/DataWarehouse.py:499-506: the
  * quarantine-preview + batch-stats mails; `on_failure_callback`
  * alerts). Transport (SMTP, Slack, webhook) is deployment code:
  * implement [[NotifyHook.send]] and pass it into
  * Warehouse/Reprocess/Export; the default hook logs one structured
  * line per event.
  *
  * Every event is driver-side and BOUNDED — a preview carries at most
  * [[Notify.PreviewRows]] stringified rows, stats are scalar maps — so
  * no hook implementation can accidentally pull a layer through the
  * driver.
  */
object Notify {

  /** Preview cap, matching the reference's emailed head() excerpt. */
  val PreviewRows = 20

  sealed trait Event { def stage: String }

  /** Rejected-row preview: column header + ≤ [[PreviewRows]]
    * stringified rows, with the FULL rejected count alongside. */
  final case class QuarantinePreview(stage: String, total: Long,
      header: Seq[String], rows: Seq[Seq[String]]) extends Event

  /** End-of-stage scalar counters. */
  final case class BatchStats(stage: String,
      stats: Map[String, Long]) extends Event

  /** A hard gate tripped; the run aborts right after this fires. */
  final case class GateFailure(stage: String, reason: String) extends Event

  /** Bounded preview of rows already on the driver, under `header`:
    * at most [[PreviewRows]], stringified (nulls stay null). `total`
    * is passed in, not recounted here. */
  private[pipeline] def previewOf(header: Seq[String], rows: Seq[Row],
                                  total: Long, stage: String): QuarantinePreview =
    QuarantinePreview(stage, total, header, rows.take(PreviewRows).map { r =>
      header.indices.map(i =>
        if (r.isNullAt(i)) null else String.valueOf(r.get(i)))
    })
}

trait NotifyHook extends Serializable {
  def send(event: Notify.Event): Unit
}

object NotifyHook {

  /** Default transport: one structured stderr line per event (the
    * same channel Spark logs to; greppable as `[notify]`). */
  object Log extends NotifyHook {
    def send(e: Notify.Event): Unit = System.err.println(e match {
      case Notify.QuarantinePreview(stage, total, header, rows) =>
        s"[notify] $stage: $total rejected (preview=${rows.length} " +
          s"cols=${header.mkString(",")})"
      case Notify.BatchStats(stage, stats) =>
        s"[notify] $stage stats: " + stats.toSeq.sorted
          .map { case (k, v) => s"$k=$v" }.mkString(" ")
      case Notify.GateFailure(stage, reason) =>
        s"[notify] $stage GATE FAILURE: $reason"
    })
  }
}
