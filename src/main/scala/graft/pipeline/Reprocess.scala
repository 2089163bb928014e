package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops._

/** The correction-loop pipeline — the reference's churn_99_reprocessing
  * DAG (dags/Reprocessing.py:165-200): a sensor watches a fixed-data
  * folder; each correction file is validated with the STRICTER
  * reprocessing rule set (whitelists + numeric coercion), accepted
  * fixes replace silver rows by key (delete+insert upsert J4,
  * transactional via atomic overwrite), rejected fixes quarantine.
  *
  * The folder sensor (ST5) is the batch entry point here: a caller
  * invokes [[run]] per discovered file (Structured Streaming's file
  * source with availableNow is the always-on variant; the engine op —
  * ingest+validate+upsert — is identical either way).
  */
object Reprocess {

  /** Reprocessing rule chain (dags/Reprocessing.py:41-44,68-106):
    * base rules + whitelists + tenure-coercion check (P8: flags
    * values that were present but not numeric). */
  def rules(rawTenure: org.apache.spark.sql.Column): Seq[Validate.Rule] =
    ChurnSchema.stagingRules ++ Seq(
      Validate.Rule("Tenure not numeric",
        rawTenure.isNotNull && rawTenure.cast("double").isNull),
      Validate.Rule("Invalid Contract Type",
        col("contract").isNotNull &&
          !col("contract").isin(ChurnSchema.validContracts: _*)),
      Validate.Rule("Invalid Payment Method",
        col("payment_method").isNotNull &&
          !col("payment_method").isin(ChurnSchema.validPayments: _*)),
      Validate.Rule("Invalid Internet Service",
        col("internet_service").isNotNull &&
          !col("internet_service").isin(ChurnSchema.validInternet: _*)))

  /** Apply one correction drop to silver. Returns (accepted, rejected)
    * row counts; silver is atomically replaced with corrections
    * upserted by key.
    *
    * Corrections arrive as `.csv` OR `.xlsx` (the reference accepts
    * both, dags/Reprocessing.py:31,55-59) — both ingest paths conform
    * to the same raw string schema before the shared rule chain runs.
    *
    * Validation runs on the RAW string schema — conforming first would
    * turn 'twelve' into a typed NULL and the numeric-coercion rule
    * could never fire (it must REJECT such rows, not silently null
    * them into silver). */
  def run(spark: SparkSession, correctionsDir: String,
          layers: Warehouse.Layers,
          hook: NotifyHook = NotifyHook.Log): (Long, Long) = {
    val raw = CsvIngest
      .ingestDir(spark, correctionsDir, ChurnSchema.stagingRaw)
      .unionByName(
        Xlsx.ingestDir(spark, correctionsDir, ChurnSchema.stagingRaw))
      .drop("src_file")
    val annotated = Validate.annotate(raw, rules(col("tenure_in_months")))
      .persist()
    try {
      val rejected = Validate.bad(annotated)
      val accepted = Validate.good(annotated).drop("error_details")
      // one pass fills the cache, counts both sides and keeps the
      // quarantine preview's rows
      val (total, nRejected, head) =
        Validate.tally(annotated, Notify.PreviewRows)
      val nAccepted = total - nRejected
      if (nRejected > 0) {
        rejected.write.mode("append").parquet(layers.reprocessQuarantine)
        // analyst-facing xlsx preview of the rejects (the reference
        // mails an Excel report, dags/DataWarehouse.py:640-644). Named
        // by the correction batch, so a retried batch overwrites its
        // own report instead of accumulating duplicates; the parquet
        // quarantine above remains the complete record.
        Xlsx.writeReport(rejected,
          s"${layers.reprocessQuarantine}_report/" +
            s"report_${new java.io.File(correctionsDir).getName}.xlsx")
        // the reference mails the same preview it attaches, here the
        // first rejected rows as the counting pass collected them
        hook.send(Notify.previewOf(rejected.columns.toIndexedSeq, head,
          nRejected, "reprocess_quarantine"))
      }
      if (nAccepted > 0) {
        // a silver swap that crashed between its renames left the
        // layer parked at .__old__; restore it before reading
        Upsert.recoverCrashedSwap(spark, layers.silver)
        val silver = spark.read.schema(ChurnSchema.silver)
          .parquet(layers.silver)
        val conformed = accepted.select(ChurnSchema.silver.fields
          .map(f => col(f.name).cast(f.dataType).as(f.name)).toIndexedSeq: _*)
        Upsert.atomicOverwrite(
          Upsert.replaceByKey(silver, conformed, Seq("customer_id")),
          layers.silver)
      }
      hook.send(Notify.BatchStats("reprocess",
        Map("accepted" -> nAccepted, "rejected" -> nRejected)))
      (nAccepted, nRejected)
    } finally annotated.unpersist()
  }
}
