package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The warehouse quality-check corpus — the reference's
  * DWH_Quality_Checks.sql (dags/SQL/DWH_Quality_Checks.sql:1-325)
  * re-expressed as a runnable suite over the layer paths.
  *
  * Shape: the whole corpus is ONE Spark plan, run by one action (the
  * reference runs ~30 separate SELECTs), built from two keyed
  * aggregates (§2.4 A2) and no join:
  *  - by (domain, key): the fact, keyed by customer_key, next to
  *    dim_customer's keys; the fact's contract and service keys next
  *    to those dims' keys; the payment and reason dims. A group gives
  *    the fact's counters and duplicate keys, the orphans (§2.3 J12:
  *    keyed fact rows in a group with no dim row) and the dim row
  *    counts, and it tags each dim_customer row with whether its key
  *    reached the fact.
  *  - by customer_id: bronze, silver and those tagged dim_customer
  *    rows. A group gives the two layers' counters, the duplicate ids
  *    of all three, and the silver rows that never reached the fact
  *    (§7 missed records).
  * A group's counters come out as (name, value) rows, and each
  * partition sums its own, so only about 30 pairs per partition reach
  * the driver. Every read pins its layer's schema: no inference job.
  * Output: (section, check, value, pass) — `pass` encodes each check's
  * invariant; informational counters pass trivially.
  */
object Quality {

  final case class Check(section: String, name: String, value: Long,
                         pass: Boolean)

  /** A group's counters as one name → value map, which the caller
    * explodes into (name, value) rows. */
  private def named(values: Seq[(String, Column)]): Column =
    map(values.flatMap { case (n, v) => Seq(lit(n), v.cast("long")) }: _*)

  /** 1 when `rows` (a group's row count) shows a duplicated key. */
  private def dup(rows: Column): Column =
    when(col("_key").isNotNull && rows > 1, 1L).otherwise(0L)

  def runAll(spark: SparkSession, layers: Warehouse.Layers): DataFrame = {
    import spark.implicits._
    val bronze = spark.read.schema(ChurnSchema.bronze).parquet(layers.bronze)
    val silver = spark.read.schema(ChurnSchema.silver).parquet(layers.silver)
    val fact = spark.read.schema(ChurnSchema.fact).parquet(layers.fact)
    def dim(name: String, schema: StructType) =
      spark.read.schema(schema).parquet(layers.dim(name))

    val bronzeConds = Seq(
      "null_customer_id" -> col("customer_id").isNull,
      "null_churn_label" -> col("churn_label").isNull,
      "null_gender" -> col("gender").isNull,
      "invalid_churn_label" -> (col("churn_label").isNotNull &&
        !col("churn_label").isin("Yes", "No", "0", "1")),
      "negative_numeric" ->
        (col("tenure_in_months") < 0 || col("monthly_charges_amount") < 0))
    val silverConds = Seq(
      "null_customer_id" -> col("customer_id").isNull,
      "invalid_gender" ->
        (col("gender").isNotNull && !col("gender").isin("Male", "Female")),
      "score_out_of_range" ->
        (col("churn_score") < 0 || col("churn_score") > 100),
      "negative_numeric" ->
        (col("tenure_in_months") < 0 || col("monthly_charges_amount") < 0))
    val factConds = Seq(
      "null_customer_key" -> col("customer_key").isNull,
      "null_contract_key" -> col("contract_key").isNull,
      "null_service_key" -> col("service_key").isNull,
      "negative_charges" ->
        (col("monthly_charges_amount") < 0 || col("total_charges") < 0),
      "score_out_of_range" ->
        (col("churn_score") < 0 || col("churn_score") > 100))
    // one flag column per counter, named `<layer>__<counter>`
    def flags(layer: String, conds: Seq[(String, Column)]) =
      conds.map { case (n, c) => c.as(s"${layer}__$n") }
    def counted(layer: String, conds: Seq[(String, Column)]) =
      conds.map { case (n, _) => count(when(col(s"${layer}__$n"), 1)).as(s"${layer}__$n") }
    def values(layer: String, conds: Seq[(String, Column)]) =
      conds.map { case (n, _) => s"$layer.$n" -> col(s"${layer}__$n") }

    // by (domain, key): a fact row is `_f`, a dim row is not. The fact
    // is read once and offered under each of its three keys; its
    // counters are read from the customer domain only
    def under(name: String, key: String) =
      struct(lit(name).as("_dom"), col(key).cast("long").as("_key"))
    val factRows = fact.select(explode(array(under("customer", "customer_key"),
        under("contract", "contract_key"), under("services", "service_key")))
        .as("_k") +: lit(true).as("_f") +: flags("fact", factConds): _*)
      .select(col("_k.*") +: col("_f") +: factConds.map { case (n, _) =>
        col(s"fact__$n") }: _*)
    def dimKeys(name: String, schema: StructType, key: String,
                extra: Seq[Column] = Nil) =
      dim(name, schema).select(Seq(lit(name).as("_dom"),
        col(key).cast("long").as("_key"), lit(false).as("_f")) ++ extra: _*)
    val byKey = Seq(factRows,
      dimKeys("customer", ChurnSchema.dimCustomer, "customer_key",
        Seq(col("customer_id").as("_id"))),
      dimKeys("contract", ChurnSchema.dimContract, "contract_key"),
      dimKeys("services", ChurnSchema.dimServices, "service_key"),
      dimKeys("payment_method", ChurnSchema.dimPaymentMethod, "payment_key"),
      dimKeys("churn_reason", ChurnSchema.dimChurnReason, "reason_key"))
      .reduce(_.unionByName(_, allowMissingColumns = true))
      .groupBy("_dom", "_key")
      .agg(count(when(col("_f"), 1)).as("_facts"),
        count(when(!col("_f"), 1)).as("_dims") +:
        collect_list(when(!col("_f") && col("_dom") === "customer",
          struct(col("_id")))).as("_ids") +:
        counted("fact", factConds): _*)
    val orphans = when(col("_key").isNotNull && col("_dims") === 0,
      col("_facts")).otherwise(0L)
    val domain = col("_dom")
    val keyCounters = byKey.select(explode(
      when(domain === "customer", named(Seq(
        "fact.total_rows" -> col("_facts"),
        "fact.duplicate_key" -> dup(col("_facts")),
        "orphan_customers" -> orphans) ++ values("fact", factConds)))
      .when(domain === "contract", named(Seq(
        "orphan_contracts" -> orphans, "dim_contract_rows" -> col("_dims"))))
      .when(domain === "services", named(Seq(
        "orphan_services" -> orphans, "dim_services_rows" -> col("_dims"))))
      .otherwise(map(concat(lit("dim_"), domain, lit("_rows")),
        col("_dims")))).as(Seq("name", "value")))
    // each dim_customer row, with whether its key reached the fact
    val tagged = byKey.filter(domain === "customer")
      .select(explode(col("_ids")).as("_row"),
        (col("_key").isNotNull && col("_facts") > 0).as("_in_fact"))
      .select(col("_row._id").as("_key"), lit(true).as("_h"),
        col("_in_fact"))

    // by customer_id: bronze `_b`, silver `_s`, dim_customer `_h`
    val byId = Seq(
      bronze.select(col("customer_id").as("_key") +: lit(true).as("_b") +:
        flags("bronze", bronzeConds): _*),
      silver.select(col("customer_id").as("_key") +: lit(true).as("_s") +:
        flags("silver", silverConds): _*),
      tagged)
      .reduce(_.unionByName(_, allowMissingColumns = true))
      .groupBy("_key")
      .agg(count(col("_b")).as("_bronze"), Seq(count(col("_s")).as("_silver"),
        count(col("_h")).as("_dim"),
        count(when(!col("_in_fact"), 1)).as("_dim_out")) ++
        counted("bronze", bronzeConds) ++ counted("silver", silverConds): _*)
    // a silver row is missed once with no dim row, else once per dim
    // row of its id whose key never reached the fact; a NULL id
    // matches no dim row
    val missed = col("_silver") * when(col("_key").isNull || col("_dim") === 0, 1L)
      .otherwise(col("_dim_out"))
    val idCounters = byId.select(explode(named(Seq(
      "bronze.total_rows" -> col("_bronze"),
      "bronze.duplicate_key" -> dup(col("_bronze")),
      "silver.total_rows" -> col("_silver"),
      "silver.duplicate_key" -> dup(col("_silver")),
      "dim_customer.total_rows" -> col("_dim"),
      "dim_customer.duplicate_key" -> dup(col("_dim")),
      "missed_records" -> missed) ++
      values("bronze", bronzeConds) ++ values("silver", silverConds)))
      .as(Seq("name", "value")))

    val value = keyCounters.unionByName(idCounters)
      .filter(col("value") =!= 0).as[(String, Long)]
      .mapPartitions { rows =>
        val sums = scala.collection.mutable.HashMap.empty[String, Long]
        rows.foreach { case (n, v) => sums(n) = sums.getOrElse(n, 0L) + v }
        sums.iterator
      }.collect()
      .groupMapReduce(_._1)(_._2)(_ + _)
      .withDefaultValue(0L)
    val dimRows = Seq("contract", "payment_method", "churn_reason", "services")
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
    val dimRowCounts = dimRows.map(n => n -> value(s"dim_${n}_rows"))

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
