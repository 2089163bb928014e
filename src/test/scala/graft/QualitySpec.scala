package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.graftbridge.SqlExecutions
import graft.pipeline._
import graft.pipeline.Quality.Check

/** The quality corpus runs as one Spark plan; this pins it to the
  * per-check corpus it replaced (kept below as the oracle): the same
  * 30 (section, name, value, pass) rows in the same order, on a
  * warehouse where every check's counter is non-zero and on a clean
  * one built by the pipeline. */
class QualitySpec extends SparkSpec {

  /** The per-check corpus, one job (or more) per check. */
  private def oracle(spark: SparkSession, layers: Warehouse.Layers): Seq[Check] = {
    def dupKeys(df: DataFrame, key: String): Long =
      df.filter(col(key).isNotNull).groupBy(col(key))
        .agg(count(lit(1)).as("n")).filter(col("n") > 1).count()
    def counters(df: DataFrame,
                 conds: Seq[(String, org.apache.spark.sql.Column)]): Map[String, Long] = {
      val row = df.agg(count(lit(1)).as("__total"),
        conds.map { case (n, c) => count(when(c, 1)).as(n) }: _*).head()
      (("__total" -> row.getLong(0)) +:
        conds.zipWithIndex.map { case ((n, _), i) => n -> row.getLong(i + 1) }).toMap
    }
    val bronze = spark.read.schema(ChurnSchema.bronze).parquet(layers.bronze)
    val silver = spark.read.schema(ChurnSchema.silver).parquet(layers.silver)
    val fact = spark.read.parquet(layers.fact)
    val dimCustomer = spark.read.parquet(layers.dim("customer"))
    val dimContract = spark.read.parquet(layers.dim("contract"))
    val dimServices = spark.read.parquet(layers.dim("services"))
    val b = counters(bronze, Seq(
      "null_customer_id" -> col("customer_id").isNull,
      "null_churn_label" -> col("churn_label").isNull,
      "null_gender" -> col("gender").isNull,
      "invalid_churn_label" -> (col("churn_label").isNotNull &&
        !col("churn_label").isin("Yes", "No", "0", "1")),
      "negative_numeric" ->
        (col("tenure_in_months") < 0 || col("monthly_charges_amount") < 0)))
    val sv = counters(silver, Seq(
      "null_customer_id" -> col("customer_id").isNull,
      "invalid_gender" ->
        (col("gender").isNotNull && !col("gender").isin("Male", "Female")),
      "score_out_of_range" ->
        (col("churn_score") < 0 || col("churn_score") > 100),
      "negative_numeric" ->
        (col("tenure_in_months") < 0 || col("monthly_charges_amount") < 0)))
    val f = counters(fact, Seq(
      "null_customer_key" -> col("customer_key").isNull,
      "null_contract_key" -> col("contract_key").isNull,
      "null_service_key" -> col("service_key").isNull,
      "negative_charges" ->
        (col("monthly_charges_amount") < 0 || col("total_charges") < 0),
      "score_out_of_range" ->
        (col("churn_score") < 0 || col("churn_score") > 100)))
    def orphans(key: String, dim: DataFrame) = fact.filter(col(key).isNotNull)
      .join(dim.select(key), Seq(key), "left_anti").count()
    val orphanCustomers = orphans("customer_key", dimCustomer)
    val orphanContracts = orphans("contract_key", dimContract)
    val orphanServices = orphans("service_key", dimServices)
    val missedRecords = silver.select("customer_id")
      .join(dimCustomer.select(col("customer_id"), col("customer_key")),
        Seq("customer_id"), "left")
      .join(fact.select(col("customer_key"), lit(1).as("_in_fact")).distinct(),
        Seq("customer_key"), "left")
      .filter(col("_in_fact").isNull).count()
    val bronzeDups = dupKeys(bronze, "customer_id")
    val silverDups = dupKeys(silver, "customer_id")
    val dimCustomerRows = dimCustomer.count()
    val dimCustomerDups = dupKeys(dimCustomer, "customer_id")
    val factDups = dupKeys(fact, "customer_key")
    val dimRowCounts = Seq(
      "contract" -> dimContract.count(),
      "payment_method" -> spark.read.parquet(layers.dim("payment_method")).count(),
      "churn_reason" -> spark.read.parquet(layers.dim("churn_reason")).count(),
      "services" -> dimServices.count())
    Seq(
      Check("bronze", "total_rows", b("__total"), b("__total") >= 0),
      Check("bronze", "null_customer_id", b("null_customer_id"), b("null_customer_id") == 0),
      Check("bronze", "null_churn_label", b("null_churn_label"), b("null_churn_label") == 0),
      Check("bronze", "null_gender", b("null_gender"), b("null_gender") == 0),
      Check("bronze", "negative_numeric", b("negative_numeric"), b("negative_numeric") == 0),
      Check("bronze", "invalid_churn_label", b("invalid_churn_label"),
        b("invalid_churn_label") == 0),
      Check("bronze", "duplicate_customer_id", bronzeDups, bronzeDups == 0),
      Check("silver", "total_rows", sv("__total"), sv("__total") <= b("__total")),
      Check("silver", "null_customer_id", sv("null_customer_id"), sv("null_customer_id") == 0),
      Check("silver", "invalid_gender", sv("invalid_gender"), sv("invalid_gender") == 0),
      Check("silver", "score_out_of_range", sv("score_out_of_range"),
        sv("score_out_of_range") == 0),
      Check("silver", "negative_numeric", sv("negative_numeric"), sv("negative_numeric") == 0),
      Check("silver", "duplicate_customer_id", silverDups, silverDups == 0),
      Check("gold", "dim_customer_rows", dimCustomerRows, dimCustomerRows > 0)) ++
      dimRowCounts.map { case (n, c) => Check("gold", s"dim_${n}_rows", c, c > 0) } ++ Seq(
      Check("gold", "dim_customer_dup_id", dimCustomerDups, dimCustomerDups == 0),
      Check("gold", "fact_rows", f("__total"), f("__total") > 0),
      Check("gold", "fact_null_customer_key", f("null_customer_key"), f("null_customer_key") == 0),
      Check("gold", "fact_null_contract_key", f("null_contract_key"), f("null_contract_key") == 0),
      Check("gold", "fact_null_service_key", f("null_service_key"), f("null_service_key") == 0),
      Check("gold", "fact_negative_charges", f("negative_charges"), f("negative_charges") == 0),
      Check("gold", "fact_score_out_of_range", f("score_out_of_range"),
        f("score_out_of_range") == 0),
      Check("gold", "fact_dup_customer_key", factDups, factDups == 0),
      Check("gold", "orphan_customers", orphanCustomers, orphanCustomers == 0),
      Check("gold", "orphan_contracts", orphanContracts, orphanContracts == 0),
      Check("gold", "orphan_services", orphanServices, orphanServices == 0),
      Check("e2e", "missed_records", missedRecords, missedRecords == 0))
  }

  private def checks(df: DataFrame): Seq[Check] =
    df.collect().toSeq.map(r =>
      Check(r.getString(0), r.getString(1), r.getLong(2), r.getBoolean(3)))

  /** Writes a layer from sparse rows: columns a row omits are NULL. */
  private def layer(path: String, schema: StructType,
                    rows: Seq[(String, Any)]*): Unit =
    spark.createDataFrame(
      java.util.Arrays.asList(rows.map { r =>
        val m = r.toMap
        Row.fromSeq(schema.fieldNames.toSeq.map(m.getOrElse(_, null)))
      }: _*), schema)
      .coalesce(1).write.parquet(path)

  /** Every counter of the corpus is non-zero somewhere in here. */
  private def faultyWarehouse(): Warehouse.Layers = {
    val layers = Warehouse.Layers(TempRoots.create("graft_quality_faulty"))
    def ok(id: String) = Seq("customer_id" -> id, "churn_label" -> "No",
      "gender" -> "Male", "tenure_in_months" -> 1.0,
      "monthly_charges_amount" -> 10.0)
    layer(layers.bronze, ChurnSchema.bronze,
      ok("A"), ok("A"), // duplicate key
      ok(null), // null id
      ok("B") :+ ("churn_label" -> null), // null label
      ok("C") :+ ("gender" -> null), // null gender
      ok("D") :+ ("churn_label" -> "Maybe"), // invalid label
      ok("E") :+ ("tenure_in_months" -> -1.0)) // negative numeric
    layer(layers.silver, ChurnSchema.silver,
      ok("A") :+ ("churn_score" -> 50.0), ok("A"), // duplicate key
      ok(null), // null id
      ok("B") :+ ("gender" -> "X"), // invalid gender
      ok("C") :+ ("churn_score" -> 150.0), // out of range
      ok("D") :+ ("monthly_charges_amount" -> -5.0), // negative numeric
      ok("M")) // never reached dim_customer or the fact: missed
    layer(layers.dim("customer"), ChurnSchema.dimCustomer,
      Seq("customer_key" -> 1L, "customer_id" -> "A"),
      Seq("customer_key" -> 2L, "customer_id" -> "B"),
      Seq("customer_key" -> 3L, "customer_id" -> "C"),
      Seq("customer_key" -> 4L, "customer_id" -> "D"),
      Seq("customer_key" -> 5L, "customer_id" -> "A")) // duplicate id
    layer(layers.dim("contract"), ChurnSchema.dimContract,
      Seq("contract_key" -> 1, "contract_type" -> "Month-to-Month"),
      Seq("contract_key" -> 2, "contract_type" -> "Two year"))
    layer(layers.dim("payment_method"), ChurnSchema.dimPaymentMethod,
      Seq("payment_key" -> 1, "payment_method" -> "Mailed check"))
    layer(layers.dim("churn_reason"), ChurnSchema.dimChurnReason,
      Seq("reason_key" -> 1, "churn_reason" -> "N/A"))
    layer(layers.dim("services"), ChurnSchema.dimServices,
      ("service_key" -> 1) +: ChurnSchema.serviceCols.map(_ -> "No"))
    def fact(ck: Any, kk: Any, sk: Any) = Seq("customer_key" -> ck,
      "contract_key" -> kk, "service_key" -> sk, "monthly_charges_amount" -> 10.0,
      "total_charges" -> 100.0, "churn_flag" -> "No")
    layer(layers.fact, ChurnSchema.fact,
      fact(1L, 1, 1),
      fact(null, 1, 1), // null customer key
      fact(2L, null, 1), // null contract key
      fact(3L, 1, null), // null service key
      fact(4L, 2, 1) :+ ("total_charges" -> -1.0), // negative charges
      fact(4L, 2, 1) :+ ("churn_score" -> 101.0), // duplicate key, out of range
      fact(99L, 99, 99)) // orphaned from all three dims
    layers
  }

  /** A warehouse the pipeline built over two nightly runs, so each dim
    * holds the files of more than one append. */
  private def cleanWarehouse(): Warehouse.Layers = {
    val root = TempRoots.create("graft_quality_clean")
    val layers = Warehouse.Layers(root)
    val header = "customer_id,gender,senior_citizen,partner,dependents,country," +
      "state,city," + ChurnSchema.serviceCols.mkString(",") +
      ",paperless_billing,payment_method,contract,tenure_in_months," +
      "monthly_charges_amount,total_charges,churn_label,churn_value," +
      "churn_score,cltv,churn_reason,created_at,updated_at,record_type"
    def row(id: String, payment: String, contract: String) =
      s"$id,Female,No,Yes,No,United States,New York,Albany," +
        "Yes,Yes,Fiber optic,No,No,No,No,Yes,Yes,Yes," +
        s"$payment,$contract,24,80.25,1900.0,Yes,1,86,3239,Competitor," +
        "2026-04-01 08:00:00,2026-04-01 08:00:00,new"
    Seq(
      "2026-04-01" -> Seq(row("Q001", "Mailed check", "Two year"),
        row("Q002", "Mailed check", "One year")),
      "2026-04-02" -> Seq(row("Q003", "Electronic check", "Two year"),
        row("Q004", "Bank transfer (automatic)", "Month-to-month")))
      .foreach { case (day, rows) =>
        val landing = java.nio.file.Paths.get(root, s"landing_$day")
        java.nio.file.Files.createDirectories(landing)
        java.nio.file.Files.write(landing.resolve("export.csv"),
          (header +: rows).mkString("\n").getBytes("UTF-8"))
        Warehouse.run(spark, landing.toString, layers, day)
      }
    layers
  }

  test("the one-plan corpus returns the per-check oracle's rows, in order") {
    val faulty = faultyWarehouse()
    val expected = oracle(spark, faulty)
    assert(expected.size == 30)
    // the fixture is only a differential if every counter fires
    assert(expected.forall(_.value > 0), expected.filter(_.value == 0))
    assert(checks(Quality.runAll(spark, faulty)) == expected)

    val clean = cleanWarehouse()
    val cleanExpected = oracle(spark, clean)
    assert(cleanExpected.forall(_.pass), cleanExpected.filterNot(_.pass))
    assert(checks(Quality.runAll(spark, clean)) == cleanExpected)
  }

  test("the corpus is exactly one Spark execution") {
    val layers = faultyWarehouse()
    val (_, executions) = SqlExecutions.during(spark)(Quality.runAll(spark, layers))
    assert(executions.size == 1, executions)
  }
}
