package graft.pipeline

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ops.Validate.Rule

/** Churn-warehouse layer schemas + rules — SURVEY.md §2.1 S12, §1.3,
  * FIXTURES.md §A5.
  *
  * Fixed StructTypes per layer (the reference declares them as DDL:
  * dags/SQL/Bronze/DDL_BronzeTable.sql:8-92, Silver/DDL_Silver_Table
  * .sql:3-38, Gold/DDL_gold.sql:4-73); CSV inference never decides a
  * layer schema. Column set is the reference's modulo geo columns
  * that no operator consumes (lat_long/latitude/longitude/zip_code
  * ride through P2 projections unchanged).
  */
object ChurnSchema {

  /** The 9 service columns that form dim_services' composite key
    * (reference: dags/SQL/Gold/create_load_data_gold.sql:75-86). */
  val serviceCols: Seq[String] = Seq(
    "phone_service", "multiple_lines", "internet_service",
    "online_security", "online_backup", "device_protection",
    "tech_support", "streaming_tv", "streaming_movies")

  private def s(n: String) = StructField(n, StringType)
  private def d(n: String) = StructField(n, DoubleType)

  /** Staging: everything lands as typed-but-lenient (strings + the
    * doubles the reference types at the edge). */
  val staging: StructType = StructType(
    Seq(s("customer_id"), s("gender"), s("senior_citizen"), s("partner"),
      s("dependents"), s("country"), s("state"), s("city")) ++
      serviceCols.map(s) ++
      Seq(s("paperless_billing"), s("payment_method"), s("contract"),
        d("tenure_in_months"), d("monthly_charges_amount"),
        d("total_charges"), s("churn_label"), s("churn_value"),
        s("churn_score"), s("cltv"), s("churn_reason"),
        StructField("created_at", TimestampType),
        StructField("updated_at", TimestampType), s("record_type")))

  /** Bronze = staging + audit semantics (record_type required). */
  val bronze: StructType = staging

  /** Raw edge schema: every column lands as STRING. The reprocessing
    * path validates on raw values (the numeric-coercion rule must see
    * the original 'twelve', not a typed NULL) BEFORE conforming to a
    * typed layer schema. */
  val stagingRaw: StructType =
    StructType(staging.fields.map(f => StructField(f.name, StringType)))

  /** Silver: same columns, dirty numerics recovered to typed NULLs
    * (churn_score/cltv 'n/a' → NULL DOUBLE). */
  val silver: StructType = StructType(staging.fields.map {
    case StructField("churn_score", _, n, m) => StructField("churn_score", DoubleType, n, m)
    case StructField("cltv", _, n, m)        => StructField("cltv", DoubleType, n, m)
    case f => f
  })

  /** A gold dim's schema: its surrogate key, then its value columns
    * (the layout [[Warehouse.loadDim]]/[[Warehouse.loadEntityDim]]
    * write). */
  private[pipeline] def dim(keyCol: String, keyType: DataType,
                            values: StructType): StructType =
    StructType(StructField(keyCol, keyType) +: values.fields.toIndexedSeq)

  /** Gold dims (Gold/DDL_gold.sql). dim_customer is hash-keyed (LONG);
    * the combo dims take dense INT keys. */
  val dimCustomer: StructType = dim("customer_key", LongType, StructType(
    Seq("customer_id", "gender", "senior_citizen", "partner", "dependents",
      "city", "state").map(s)))
  val dimContract: StructType =
    dim("contract_key", IntegerType, StructType(Seq(s("contract_type"))))
  val dimPaymentMethod: StructType =
    dim("payment_key", IntegerType, StructType(Seq(s("payment_method"))))
  val dimChurnReason: StructType =
    dim("reason_key", IntegerType, StructType(Seq(s("churn_reason"))))
  val dimServices: StructType =
    dim("service_key", IntegerType, StructType(serviceCols.map(s)))

  /** fact_customer_churn: the five dim keys, the measures, the load's
    * run date. */
  val fact: StructType = StructType(Seq(
    StructField("customer_key", LongType),
    StructField("contract_key", IntegerType),
    StructField("payment_key", IntegerType),
    StructField("reason_key", IntegerType),
    StructField("service_key", IntegerType),
    d("tenure_in_months"), d("monthly_charges_amount"), d("total_charges"),
    s("churn_flag"), d("churn_score"), d("cltv"),
    StructField("run_date", DateType)))

  /** Bronze partial-update list (reference ON CONFLICT DO UPDATE,
    * dags/SQL/Bronze/insert_data_into_bronze.sql:60-77): these columns
    * refresh on conflict; every other column keeps the existing value. */
  val bronzeUpdateCols: Seq[String] = Seq(
    "gender", "senior_citizen", "partner", "dependents", "state", "city",
    "contract", "tenure_in_months", "monthly_charges_amount",
    "total_charges", "churn_label", "churn_value", "updated_at")

  /** Validation rule chain, reference order and names
    * (dags/DataWarehouse.py:626-634, FIXTURES.md §A3). The duplicate
    * rule is appended by the caller (needs a window). */
  def stagingRules: Seq[Rule] = Seq(
    Rule("Missing ID", col("customer_id").isNull),
    Rule("Negative Tenure", col("tenure_in_months") < 0),
    Rule("Negative Charges", col("monthly_charges_amount") < 0),
    Rule("Invalid Gender",
      col("gender").isNotNull && !col("gender").isin("Male", "Female")))

  /** Reprocessing whitelists (dags/Reprocessing.py:41-44). */
  val validContracts = Seq("Month-to-month", "Month-to-Month", "One year", "Two year")
  val validPayments = Seq("Electronic check", "Mailed check",
    "Bank transfer (automatic)", "Credit card (automatic)")
  val validInternet = Seq("DSL", "Fiber optic", "No")

  /** Silver null-defaults (insert_data_into_silver.sql null guards). */
  def silverDefaults: Map[String, Column] = Map(
    "country" -> lit("United States"),
    "churn_reason" -> lit("n/a"))
}
