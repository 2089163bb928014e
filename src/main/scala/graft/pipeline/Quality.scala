package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The warehouse quality-check corpus — the reference's
  * DWH_Quality_Checks.sql (dags/SQL/DWH_Quality_Checks.sql:1-325)
  * re-expressed as a runnable suite over the layer paths.
  *
  * Shape: the whole corpus is ONE Spark plan, run by one action (the
  * reference runs ~30 separate SELECTs). Each layer's counters and its
  * duplicate-key count are one aggregate keyed by the layer's key
  * (§2.4 A2): the per-key rows sum to each counter, and a key held by
  * more than one row adds one to the duplicate count. The orphan checks are
  * anti-joins (§2.3 J12), and they, the missed-record join and the dim
  * row counts are branches of the same plan, so Spark schedules the
  * independent stages together instead of running one job at a time. Every read pins its layer's schema: no inference
  * job. Output: (section, check, value, pass) — `pass` encodes each
  * check's invariant; informational counters pass trivially.
  */
object Quality {

  final case class Check(section: String, name: String, value: Long,
                         pass: Boolean)

  /** One layer's counters and its duplicate-key count as (name, value)
    * rows, from one aggregate keyed by `key`: `<layer>.total_rows`,
    * `<layer>.<counter>` per condition, and `<layer>.duplicate_key`,
    * one per non-NULL key held by more than one row. Summed over keys
    * by the caller. */
  private def keyedCounters(layer: String, df: DataFrame, key: String,
                            conds: Seq[(String, Column)]): DataFrame = {
    val perKey = df.groupBy(col(key)).agg(count(lit(1)).as("total_rows"),
      conds.map { case (n, c) => count(when(c, 1)).as(n) }: _*)
    val values = ("total_rows" -> col("total_rows")) +:
      conds.map { case (n, _) => n -> col(n) } :+
      ("duplicate_key" ->
        when(col(key).isNotNull && col("total_rows") > 1, 1L).otherwise(0L))
    perKey.select(explode(map(values.flatMap { case (n, v) =>
      Seq(lit(s"$layer.$n"), v) }: _*)).as(Seq("name", "value")))
  }

  /** One (name, 1) row per row of `df`: a count once summed. */
  private def rowCount(name: String, df: DataFrame): DataFrame =
    df.select(lit(name).as("name"), lit(1L).as("value"))

  def runAll(spark: SparkSession, layers: Warehouse.Layers): DataFrame = {
    import spark.implicits._
    val bronze = spark.read.schema(ChurnSchema.bronze).parquet(layers.bronze)
    val silver = spark.read.schema(ChurnSchema.silver).parquet(layers.silver)
    val fact = spark.read.schema(ChurnSchema.fact).parquet(layers.fact)
    def dim(name: String, schema: StructType) =
      spark.read.schema(schema).parquet(layers.dim(name))
    val dimCustomer = dim("customer", ChurnSchema.dimCustomer)
    val dimContract = dim("contract", ChurnSchema.dimContract)
    val dimServices = dim("services", ChurnSchema.dimServices)
    // §5.1 row counts across every dimension (informational)
    val dimRows = Seq("contract" -> dimContract,
      "payment_method" -> dim("payment_method", ChurnSchema.dimPaymentMethod),
      "churn_reason" -> dim("churn_reason", ChurnSchema.dimChurnReason),
      "services" -> dimServices)

    // NULL keys are the null_*_key counters' concern; the orphan
    // metric measures referential integrity among KEYED rows only —
    // same filter discipline for all three
    def orphans(key: String, dim: DataFrame) =
      fact.filter(col(key).isNotNull)
        .join(dim.select(key), Seq(key), "left_anti")
    // §7 end-to-end: silver customers that never reached the fact
    val missed = silver.select("customer_id")
      .join(dimCustomer.select(col("customer_id"), col("customer_key")),
        Seq("customer_id"), "left")
      .join(fact.select(col("customer_key"), lit(1).as("_in_fact"))
          .distinct(),
        Seq("customer_key"), "left")
      .filter(col("_in_fact").isNull)

    val v = Seq(
      // §3 bronze
      keyedCounters("bronze", bronze, "customer_id", Seq(
        "null_customer_id" -> col("customer_id").isNull,
        "null_churn_label" -> col("churn_label").isNull,
        "null_gender" -> col("gender").isNull,
        "invalid_churn_label" -> (col("churn_label").isNotNull &&
          !col("churn_label").isin("Yes", "No", "0", "1")),
        "negative_numeric" ->
          (col("tenure_in_months") < 0 || col("monthly_charges_amount") < 0))),
      // §4 silver
      keyedCounters("silver", silver, "customer_id", Seq(
        "null_customer_id" -> col("customer_id").isNull,
        "invalid_gender" ->
          (col("gender").isNotNull && !col("gender").isin("Male", "Female")),
        "score_out_of_range" ->
          (col("churn_score") < 0 || col("churn_score") > 100),
        "negative_numeric" ->
          (col("tenure_in_months") < 0 || col("monthly_charges_amount") < 0))),
      // §6 fact
      keyedCounters("fact", fact, "customer_key", Seq(
        "null_customer_key" -> col("customer_key").isNull,
        "null_contract_key" -> col("contract_key").isNull,
        "null_service_key" -> col("service_key").isNull,
        "negative_charges" ->
          (col("monthly_charges_amount") < 0 || col("total_charges") < 0),
        "score_out_of_range" ->
          (col("churn_score") < 0 || col("churn_score") > 100))),
      keyedCounters("dim_customer", dimCustomer, "customer_id", Nil),
      rowCount("orphan_customers", orphans("customer_key", dimCustomer)),
      rowCount("orphan_contracts", orphans("contract_key", dimContract)),
      rowCount("orphan_services", orphans("service_key", dimServices)),
      rowCount("missed_records", missed)) ++
      dimRows.map { case (n, df) => rowCount(s"dim_${n}_rows", df) }
    val value = v.reduce(_ unionByName _)
      .groupBy("name").agg(sum("value"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      .withDefaultValue(0L)
    val b = (n: String) => value(s"bronze.$n")
    val sv = (n: String) => value(s"silver.$n")
    val f = (n: String) => value(s"fact.$n")
    val bronzeDups = b("duplicate_key")
    val silverDups = sv("duplicate_key")
    val dimCustomerRows = value("dim_customer.total_rows")
    val dimCustomerDups = value("dim_customer.duplicate_key")
    val factDups = f("duplicate_key")
    val orphanCustomers = value("orphan_customers")
    val orphanContracts = value("orphan_contracts")
    val orphanServices = value("orphan_services")
    val missedRecords = value("missed_records")
    val dimRowCounts = dimRows.map { case (n, _) => n -> value(s"dim_${n}_rows") }

    val checks = Seq(
      Check("bronze", "total_rows", b("total_rows"), b("total_rows") >= 0),
      Check("bronze", "null_customer_id", b("null_customer_id"),
        b("null_customer_id") == 0),
      Check("bronze", "null_churn_label", b("null_churn_label"),
        b("null_churn_label") == 0),
      Check("bronze", "null_gender", b("null_gender"), b("null_gender") == 0),
      Check("bronze", "negative_numeric", b("negative_numeric"),
        b("negative_numeric") == 0),
      Check("bronze", "invalid_churn_label", b("invalid_churn_label"),
        b("invalid_churn_label") == 0),
      Check("bronze", "duplicate_customer_id", bronzeDups, bronzeDups == 0),
      Check("silver", "total_rows", sv("total_rows"),
        sv("total_rows") <= b("total_rows")),
      Check("silver", "null_customer_id", sv("null_customer_id"),
        sv("null_customer_id") == 0),
      Check("silver", "invalid_gender", sv("invalid_gender"),
        sv("invalid_gender") == 0),
      Check("silver", "score_out_of_range", sv("score_out_of_range"),
        sv("score_out_of_range") == 0),
      Check("silver", "negative_numeric", sv("negative_numeric"),
        sv("negative_numeric") == 0),
      Check("silver", "duplicate_customer_id", silverDups, silverDups == 0),
      Check("gold", "dim_customer_rows", dimCustomerRows, dimCustomerRows > 0)) ++
      dimRowCounts.map { case (n, c) =>
        Check("gold", s"dim_${n}_rows", c, c > 0) } ++ Seq(
      Check("gold", "dim_customer_dup_id", dimCustomerDups, dimCustomerDups == 0),
      Check("gold", "fact_rows", f("total_rows"), f("total_rows") > 0),
      Check("gold", "fact_null_customer_key", f("null_customer_key"),
        f("null_customer_key") == 0),
      Check("gold", "fact_null_contract_key", f("null_contract_key"),
        f("null_contract_key") == 0),
      Check("gold", "fact_null_service_key", f("null_service_key"),
        f("null_service_key") == 0),
      Check("gold", "fact_negative_charges", f("negative_charges"),
        f("negative_charges") == 0),
      Check("gold", "fact_score_out_of_range", f("score_out_of_range"),
        f("score_out_of_range") == 0),
      Check("gold", "fact_dup_customer_key", factDups, factDups == 0),
      Check("gold", "orphan_customers", orphanCustomers, orphanCustomers == 0),
      Check("gold", "orphan_contracts", orphanContracts, orphanContracts == 0),
      Check("gold", "orphan_services", orphanServices, orphanServices == 0),
      Check("e2e", "missed_records", missedRecords, missedRecords == 0))
    checks.toDF()
  }
}
