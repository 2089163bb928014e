package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.{Compiles, SparkJobs, SqlExecutions}
import graft.ops.Ledger
import graft.pipeline._

/** End-to-end medallion pipeline over a churn-shaped fixture
  * (FIXTURES.md §A1-§A4): full run, partial-column upsert semantics,
  * idempotent fact, halt ordering, watermark export, correction loop,
  * and the quality corpus — the reference's three DAGs composed and
  * asserted in one place. */
class PipelineSpec extends SparkSpec {

  private val ClassicHeader =
    "Customer ID,Gender,Senior Citizen,Partner,Dependents,Country,State,City," +
      "Phone Service,Multiple Lines,Internet Service,Online Security," +
      "Online Backup,Device Protection,Tech Support,Streaming TV," +
      "Streaming Movies,Paperless Billing,Payment Method,Contract," +
      "Tenure In Months,Monthly Charges Amount,Total Charges,Churn Label," +
      "Churn Value,Churn Score,Cltv,Churn Reason"

  private val ExportHeader =
    "customer_id,gender,senior_citizen,partner,dependents,country,state,city," +
      ChurnSchema.serviceCols.mkString(",") +
      ",paperless_billing,payment_method,contract,tenure_in_months," +
      "monthly_charges_amount,total_charges,churn_label,churn_value," +
      "churn_score,cltv,churn_reason,created_at,updated_at,record_type"

  private def classicRow(id: String, tenure: String = "12",
                         charges: String = "50.5",
                         payment: String = "Mailed check"): String =
    s"$id,Male,No,No,No,United States,California,Los Angeles," +
      "Yes,No,DSL,Yes,No,No,No,No,No,Yes," +
      s"$payment,Month-to-month,$tenure,$charges,600.0,No,0,n/a,n/a,n/a"

  private def exportRow(id: String, ts: String,
                        charges: String = "80.25"): String =
    s"$id,Female,No,Yes,No,United States,New York,Albany," +
      "Yes,Yes,Fiber optic,No,No,No,No,Yes,Yes,Yes," +
      s"Electronic check,Two year,24,$charges,1900.0,Yes,1,86,3239," +
      s"Competitor made better offer,$ts,$ts,new"

  private def writeCsv(dir: String, name: String, lines: Seq[String]): Unit = {
    val p = java.nio.file.Paths.get(dir)
    java.nio.file.Files.createDirectories(p)
    java.nio.file.Files.write(p.resolve(name),
      lines.mkString("\n").getBytes("UTF-8"))
  }

  private def freshRoot(tag: String): String =
    graft.TempRoots.create(s"graft_wh_$tag")

  /** 31 rows, 3 bad (≈9.7% — under the 10% breaker): one negative
    * tenure, one duplicated id (both copies flagged). */
  private def landingFixture(dir: String): Unit = {
    val classic = (1 to 20).map(i => classicRow(f"C$i%03d")) ++
      Seq(classicRow("C900", tenure = "-5"), // Negative Tenure
        classicRow("C901"), classicRow("C901")) // Duplicate ID ×2
    writeCsv(dir, "classic.csv", ClassicHeader +: classic)
    val exportRows = (1 to 8).map(i =>
      exportRow(f"E$i%03d", "2026-04-01 08:00:00"))
    writeCsv(dir, "export.csv", ExportHeader +: exportRows)
  }

  test("full warehouse run: layers, quarantine, star, quality corpus") {
    val root = freshRoot("full"); val layers = Warehouse.Layers(root)
    val landing = s"$root/landing"
    landingFixture(landing)
    val quality = Warehouse.run(spark, landing, layers, "2026-04-01")

    val bronze = spark.read.parquet(layers.bronze)
    assert(bronze.count() == 28) // 20 classic clean + 8 export
    val quarantine = spark.read.parquet(layers.quarantine)
    assert(quarantine.count() == 3)
    assert(quarantine.filter(col("error_details") === "Duplicate ID")
      .count() == 2)
    assert(quarantine.filter(col("error_details") === "Negative Tenure")
      .count() == 1)
    // silver recovered 'n/a' to NULL doubles
    val silver = spark.read.parquet(layers.silver)
    assert(silver.filter(col("customer_id").startsWith("C"))
      .filter(col("churn_score").isNotNull).count() == 0)
    assert(silver.filter(col("customer_id").startsWith("E"))
      .filter(col("churn_score") =!= 86.0).count() == 0)
    // star: every silver row reached the fact exactly once
    val fact = spark.read.parquet(layers.fact)
    assert(fact.count() == 28)
    // two service combos → dim_services has 2 rows, each key resolves
    assert(spark.read.parquet(layers.dim("services")).count() == 2)
    assert(fact.filter(col("service_key").isNull).count() == 0)
    // F12: audit timestamps always present after the load
    assert(bronze.filter(col("created_at").isNull ||
      col("updated_at").isNull).count() == 0)
    // quality corpus: every check passes
    val failing = quality.filter(!col("pass"))
    assert(failing.isEmpty, failing.collect().mkString(", "))
  }

  test("partial-column upsert: update list refreshes, others retained") {
    val root = freshRoot("upsert"); val layers = Warehouse.Layers(root)
    val landing1 = s"$root/landing1"
    writeCsv(landing1, "classic.csv",
      ClassicHeader +: Seq(classicRow("U001", charges = "10.0",
        payment = "Mailed check")))
    Warehouse.run(spark, landing1, layers, "2026-04-01")
    // second run: same key, charges changed AND payment changed
    val landing2 = s"$root/landing2"
    writeCsv(landing2, "classic.csv",
      ClassicHeader +: Seq(classicRow("U001", charges = "99.0",
        payment = "Electronic check"), classicRow("U002")))
    Warehouse.run(spark, landing2, layers, "2026-04-02")
    val bronze = spark.read.parquet(layers.bronze)
    val u1 = bronze.filter(col("customer_id") === "U001").head()
    // monthly_charges_amount IS in the DO UPDATE list → refreshed
    assert(u1.getAs[Double]("monthly_charges_amount") == 99.0)
    // payment_method is NOT in the list → retains the insert value
    assert(u1.getAs[String]("payment_method") == "Mailed check")
    assert(u1.getAs[String]("record_type") == "updated")
    assert(bronze.filter(col("customer_id") === "U002").count() == 1)
    // run 3: a DIM attribute changes (city is in the update list) —
    // the entity dim must keep ONE row per customer and the fact must
    // not double-count (a combo-matched dim would grow a second key)
    val landing3 = s"$root/landing3"
    writeCsv(landing3, "classic.csv", ClassicHeader +:
      Seq(classicRow("U001").replace("Los Angeles", "Oakland")))
    Warehouse.run(spark, landing3, layers, "2026-04-03")
    val dimC = spark.read.parquet(layers.dim("customer"))
    assert(dimC.filter(col("customer_id") === "U001").count() == 1)
    val fact = spark.read.parquet(layers.fact)
    assert(fact.count() == 2, "one fact row per customer, ever")
  }

  test("fact load is idempotent across reruns") {
    val root = freshRoot("idem"); val layers = Warehouse.Layers(root)
    val landing = s"$root/landing"
    writeCsv(landing, "classic.csv",
      ClassicHeader +: (1 to 5).map(i => classicRow(s"I00$i")))
    Warehouse.run(spark, landing, layers, "2026-04-01")
    val n1 = spark.read.parquet(layers.fact).count()
    val dimFiles1 = dimFiles(layers)
    Warehouse.run(spark, landing, layers, "2026-04-02")
    val n2 = spark.read.parquet(layers.fact).count()
    assert(n1 == 5 && n2 == 5, "anti-join must keep the fact stable")
    // dims stable too (null-safe incremental load)
    assert(spark.read.parquet(layers.dim("services")).count() == 1)
    // append-only dims: nothing new, so no dim file was rewritten
    assert(dimFiles(layers) == dimFiles1)
    // and the rerun's gold load runs no write under a combo dim
    val (_, executions) = SqlExecutions.during(spark)(
      Warehouse.loadGold(spark, layers, "2026-04-03"))
    val comboDims = Seq("contract", "payment_method", "churn_reason",
      "services").map(layers.dim)
    // the probe does see writes: the fact's append stages one
    assert(executions.flatten.exists(_.contains(layers.fact)), executions)
    assert(!executions.flatten.exists(p => comboDims.exists(p.contains)),
      executions)
    assert(dimFiles(layers) == dimFiles1)

    // crash after the dims append, before the fact append: a plain
    // file where the fact should be fails the fact write only
    val landing2 = s"$root/landing2"
    writeCsv(landing2, "classic.csv", ClassicHeader +: Seq(
      classicRow("I006", payment = "Credit card (automatic)"),
      classicRow("I007").replace("Month-to-month", "Two year")))
    val clean = Warehouse.validateStaging(spark,
      Warehouse.loadStaging(spark, landing2), layers, "2026-04-04")
    Warehouse.upsertBronze(spark, clean, layers)
    Warehouse.refreshSilver(spark, layers)
    val fs = org.apache.hadoop.fs.FileSystem
      .get(spark.sparkContext.hadoopConfiguration)
    val factPath = new org.apache.hadoop.fs.Path(layers.fact)
    val parked = new org.apache.hadoop.fs.Path(layers.fact + "_parked")
    assert(fs.rename(factPath, parked))
    java.nio.file.Files.write(java.nio.file.Paths.get(layers.fact),
      "not parquet".getBytes("UTF-8"))
    intercept[Exception](Warehouse.loadGold(spark, layers, "2026-04-04"))
    assert(spark.read.parquet(layers.dim("payment_method")).count() == 2,
      "the crashed run appended its dims")
    assert(fs.delete(factPath, false) && fs.rename(parked, factPath))
    Warehouse.loadGold(spark, layers, "2026-04-04")
    for ((name, key, values) <- Seq(
        ("customer", "customer_key", Seq("customer_id")),
        ("contract", "contract_key", Seq("contract_type")),
        ("payment_method", "payment_key", Seq("payment_method")),
        ("churn_reason", "reason_key", Seq("churn_reason")),
        ("services", "service_key", ChurnSchema.serviceCols))) {
      val dim = spark.read.parquet(layers.dim(name))
      val n = dim.count()
      assert(dim.select(key).distinct().count() == n, s"dim_$name keys")
      assert(dim.select(values.map(col): _*).distinct().count() == n,
        s"dim_$name values")
    }
    assert(spark.read.parquet(layers.dim("contract")).count() == 2)
    val fact = spark.read.parquet(layers.fact)
    assert(fact.count() == 7 &&
      fact.select("customer_key").distinct().count() == 7)
  }

  test("the fact's customer_key is the key a dim_customer join gives, NULL ids included") {
    val root = freshRoot("derived_key"); val layers = Warehouse.Layers(root)
    val landing = s"$root/landing"
    writeCsv(landing, "classic.csv",
      ClassicHeader +: (1 to 4).map(i => classicRow(s"D00$i")))
    Warehouse.run(spark, landing, layers, "2026-04-01")
    // silver gains two new ids and a NULL id (which staging would
    // reject, so it is planted straight into the layer)
    val silver0 = spark.read.schema(ChurnSchema.silver).parquet(layers.silver)
    val template = silver0.filter(col("customer_id") === "D001")
    graft.ops.Upsert.atomicOverwrite(silver0
      .unionByName(template.withColumn("customer_id", lit("D900")))
      .unionByName(template.withColumn("customer_id", lit("D901")))
      .unionByName(template.withColumn("customer_id", lit(null).cast("string"))),
      layers.silver)
    Warehouse.loadGold(spark, layers, "2026-04-02")
    Warehouse.loadGold(spark, layers, "2026-04-03") // a rerun adds nothing
    val silver = spark.read.parquet(layers.silver)
    val dim = spark.read.parquet(layers.dim("customer"))
    // the fact as a join against the dim would key it: one row per
    // silver row whose id the dim holds; a NULL id joins nothing
    val viaJoin = silver.join(dim, Seq("customer_id")).select("customer_key")
    val fact = spark.read.parquet(layers.fact).select("customer_key")
    assert(fact.count() == 6)
    assert(fact.collect().map(_.getLong(0)).sorted.toSeq ==
      viaJoin.collect().map(_.getLong(0)).sorted.toSeq)
    assert(dim.filter(col("customer_id").isNull).count() > 0,
      "the NULL id reached the dim, so the join had a row to skip")
  }

  /** Every file under the five gold dims. */
  private def dimFiles(layers: Warehouse.Layers): Set[String] =
    Seq("customer", "contract", "payment_method", "churn_reason", "services")
      .flatMap { n =>
        val dir = java.nio.file.Paths.get(layers.dim(n))
        val s = java.nio.file.Files.walk(dir)
        try s.iterator().asScala.map(_.toString).toList finally s.close()
      }.toSet

  test("plain run on an empty landing dir skips cleanly") {
    val root = freshRoot("empty"); val layers = Warehouse.Layers(root)
    val landing = s"$root/landing"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(landing))
    val q = Warehouse.run(spark, landing, layers, "2026-04-01")
    assert(q.count() == 1 &&
      q.head().getString(1) == "skipped_empty_batch",
      "skipped run returns the explicit skip marker")
    // and a later real run over the same root works normally
    writeCsv(landing, "late.csv",
      ClassicHeader +: Seq(classicRow("E001")))
    val q2 = Warehouse.run(spark, landing, layers, "2026-04-02")
    assert(q2.filter(!col("pass")).isEmpty)
  }

  test("ledger run over a header-only file: ledgered + archived, layers untouched") {
    val root = freshRoot("hdr"); val layers = Warehouse.Layers(root)
    val landing = s"$root/landing"
    writeCsv(landing, "empty.csv", Seq(ClassicHeader)) // zero data rows
    val (decisions, quality) =
      Warehouse.runWithLedger(spark, landing, layers, "2026-04-01")
    assert(quality.isEmpty, "no data rows → no layer run, no quality")
    assert(decisions.filter(col("decision") === "new").count() == 1)
    // the file WAS processed: archived away and ledgered, so the next
    // tick doesn't re-ingest it forever
    assert(spark.read.parquet(layers.ledger)
      .filter(col("file_name") === "empty.csv").count() == 1)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(landing, "empty.csv")))
    // no schemaless fact was created
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(layers.fact)))
    // a later real run over the same root proceeds normally
    writeCsv(landing, "real.csv", ClassicHeader +: Seq(classicRow("H001")))
    val (_, q2) = Warehouse.runWithLedger(spark, landing, layers, "2026-04-02")
    assert(q2.isDefined && q2.get.filter(!col("pass")).isEmpty)
  }

  test("NULL contract flows to a keyed fact row, not a dqGoldCheck failure") {
    val root = freshRoot("nullct"); val layers = Warehouse.Layers(root)
    val landing = s"$root/landing"
    val nullContractRow = classicRow("N001")
      .replace("Month-to-month", "") // empty contract → NULL in silver
    writeCsv(landing, "classic.csv",
      ClassicHeader +: Seq(classicRow("N000"), nullContractRow))
    // must not throw at dqGoldCheck
    val q = Warehouse.run(spark, landing, layers, "2026-04-01")
    assert(q.filter(!col("pass")).isEmpty)
    val fact = spark.read.parquet(layers.fact)
    assert(fact.count() == 2)
    assert(fact.filter(col("contract_key").isNull).count() == 0,
      "the NULL-combo dim row must key the fact (null-safe join)")
  }

  test("crash-retry of the same batch does not double the quarantine") {
    val root = freshRoot("retry"); val layers = Warehouse.Layers(root)
    val landing = s"$root/landing"
    // one bad row (negative tenure) among ten
    writeCsv(landing, "classic.csv", ClassicHeader +:
      ((1 to 9).map(i => classicRow(s"R10$i")) :+
        classicRow("R110", tenure = "-3")))
    Warehouse.run(spark, landing, layers, "2026-04-01")
    val n1 = spark.read.parquet(layers.quarantine).count()
    // the documented recovery path: re-run the same batch/date
    Warehouse.run(spark, landing, layers, "2026-04-01")
    val n2 = spark.read.parquet(layers.quarantine).count()
    assert(n1 == 1 && n2 == 1,
      s"retry must replace the run-date partition, not append: $n1 -> $n2")
    // a different day's batch still accumulates
    Warehouse.run(spark, landing, layers, "2026-04-02")
    assert(spark.read.parquet(layers.quarantine).count() == 2)
  }

  /** A warm tick: a 40-row base through the ledgered nightly, then a
    * delta in both dialects beside it (see [[writeDelta]]). */
  private def warmTick(tag: String): (Warehouse.Layers, String) = {
    val root = freshRoot(tag); val layers = Warehouse.Layers(root)
    val landing = s"$root/landing"
    writeCsv(landing, "base.csv",
      ClassicHeader +: (1 to 40).map(i => classicRow(f"W$i%03d")))
    Warehouse.runWithLedger(spark, landing, layers, "2026-05-01")
    writeDelta(landing, 1)
    (layers, landing)
  }

  /** Tick `n`'s delta, the same shape on every tick: 15 updated and 15
    * new classic ids, 8 new export ids, and 3 bad rows (a negative
    * tenure and both copies of a duplicated id: 3 of 40, under the 10%
    * breaker). */
  private def writeDelta(landing: String, n: Int): Unit = {
    val name = if (n == 1) "delta" else s"delta$n"
    val (w, x) = (15 * (n - 1), 8 * (n - 1))
    writeCsv(landing, s"${name}_classic.csv", ClassicHeader +:
      ((1 to 30).map(i => classicRow(f"W${i + 25 + w}%03d", charges = "70.0")) :+
        classicRow(f"W${899 + n}%03d", tenure = "-4")))
    writeCsv(landing, s"${name}_export.csv", ExportHeader +:
      ((1 to 8).map(i => exportRow(f"X${i + x}%03d", "2026-05-02 08:00:00")) :+
        exportRow(f"X${1 + x}%03d", "2026-05-02 09:00:00")))
  }

  /** What a probe saw of one stage. */
  private trait Probe[M] { def apply[T](body: => T): (T, M) }

  /** `runWithLedger`'s chain for one tick, stage by stage as it calls
    * them, each stage through `probe`; returns what the probe saw per
    * stage, in order. Checks that the tick processed `files`, that its
    * quality corpus passes and that it quarantined 3 rows. */
  private def tickByStage[M](layers: Warehouse.Layers, landing: String,
                             runDate: String, files: Seq[String])
                            (probe: Probe[M]): Seq[(String, M)] = {
    val ledgerSchema = org.apache.spark.sql.types.StructType.fromDDL(
      "file_name STRING, size_bytes LONG, checksum STRING")
    val prior = spark.read.schema(ledgerSchema).parquet(layers.ledger)
    val seen = Seq.newBuilder[(String, M)]
    def stage[T](name: String)(body: => T): T = {
      val (out, m) = probe(body)
      seen += name -> m
      out
    }
    val decisions = stage("Ledger.decide") {
      val d = Ledger.decide(Ledger.scan(spark, landing, "*.csv"), prior)
      d.collect(); d
    }
    val toProcess = stage("Ledger.toProcess")(Ledger.toProcess(decisions)
      .select("file_name").collect().map(_.getString(0)).sorted.toIndexedSeq)
    assert(toProcess == files)
    val paths = toProcess.map(n => new org.apache.hadoop.fs.Path(landing, n))
    val staging = stage("CsvIngest.ingestFiles")(graft.ops.CsvIngest
      .ingestFiles(spark, paths, ChurnSchema.staging).drop("src_file"))
    val clean = stage("validateStaging")(
      Warehouse.validateStaging(spark, staging, layers, runDate))
    stage("upsertBronze")(Warehouse.upsertBronze(spark, clean, layers))
    stage("dqBronzeCheck")(Warehouse.dqBronzeCheck(spark, layers))
    stage("refreshSilver")(Warehouse.refreshSilver(spark, layers))
    stage("loadGold")(Warehouse.loadGold(spark, layers, runDate))
    stage("dqGoldCheck")(Warehouse.dqGoldCheck(spark, layers))
    stage("Ledger.update") {
      val processed = decisions.filter(col("file_name").isin(toProcess: _*))
        .select("file_name", "size_bytes", "checksum")
      graft.ops.Upsert.atomicOverwrite(Ledger.update(prior, processed),
        layers.ledger)
    }
    val quality = stage("Quality.runAll")(Quality.runAll(spark, layers))
    assert(quality.filter(!col("pass")).isEmpty)
    assert(spark.read.parquet(layers.quarantine)
      .filter(col("run_date") === runDate).count() == 3)
    seen.result()
  }

  /** `body`'s result, SQL executions and Spark jobs. */
  private def shape[T](body: => T): (T, Int, Int) = {
    val ((out, jobs), executions) =
      SqlExecutions.during(spark)(SparkJobs.during(spark)(body))
    (out, executions.size, jobs)
  }

  test("warm tick: every nightly stage runs a pinned number of executions") {
    val (layers, landing) = warmTick("shape")
    val stages = tickByStage(layers, landing, "2026-05-02",
        Seq("delta_classic.csv", "delta_export.csv"))(new Probe[(Int, Int)] {
      def apply[T](body: => T): (T, (Int, Int)) = {
        val (out, executions, jobs) = shape(body)
        (out, (executions, jobs))
      }
    }).toMap

    // the same tick through runWithLedger itself, on a twin warehouse
    val (twin, twinLanding) = warmTick("shape_twin")
    val ((_, q), runX, runJ) = shape(
      Warehouse.runWithLedger(spark, twinLanding, twin, "2026-05-02"))
    assert(q.isDefined && q.get.filter(!col("pass")).isEmpty)

    // (stage, pinned SQL executions, Spark job bound): a stage re-split
    // into more executions fails here
    Seq(
      ("Ledger.decide", 2, 1),
      ("Ledger.toProcess", 1, 0),
      ("CsvIngest.ingestFiles", 6, 0),
      ("validateStaging", 4, 4),
      ("upsertBronze", 1, 4),
      ("dqBronzeCheck", 1, 1),
      ("refreshSilver", 1, 1),
      ("loadGold", 7, 13),
      ("dqGoldCheck", 1, 1),
      ("Ledger.update", 2, 1),
      ("Quality.runAll", 1, 4),
      ("runWithLedger", 26, 30)).foreach { case (stage, pinned, bound) =>
      val (executions, jobs) = stages.getOrElse(stage, (runX, runJ))
      assert(executions == pinned,
        s"$stage ran $executions SQL executions, pinned at $pinned")
      assert(jobs <= bound, s"$stage ran $jobs Spark jobs, bound at $bound")
    }
  }

  test("warm ticks: a second tick of the same shape compiles no class again") {
    // the session's bound reached the JVM-wide cache, which reads it once
    assert(Compiles.cacheCapacity ==
      spark.conf.get("spark.sql.codegen.cache.maxEntries").toLong)
    val (layers, landing) = warmTick("codegen")
    Warehouse.runWithLedger(spark, landing, layers, "2026-05-02")
    writeDelta(landing, 2)
    val stages = tickByStage(layers, landing, "2026-05-03",
        Seq("delta2_classic.csv", "delta2_export.csv"))(new Probe[Compiles.Cost] {
      def apply[T](body: => T): (T, Compiles.Cost) = Compiles.during(body)
    })
    val seen = stages.mkString(", ")
    Seq("refreshSilver", "dqBronzeCheck", "dqGoldCheck", "Quality.runAll")
      .foreach { stage =>
        assert(stages.toMap.apply(stage).classes == 0,
          s"$stage compiled classes again: $seen")
      }
    // every per-run value reaches the generated code as a reference
    val nightly = stages.map(_._2).reduce(_ + _)
    assert(nightly.classes <= 0, s"the second tick compiled $nightly: $seen")
  }

  test("ledger-driven run: skip-processed, skip-empty, archive, ledger upsert") {
    val root = freshRoot("ledger"); val layers = Warehouse.Layers(root)
    val landing = s"$root/landing"
    writeCsv(landing, "day1.csv",
      ClassicHeader +: (1 to 6).map(i => classicRow(s"L00$i")))
    // run 1: processes day1.csv, archives it, records it in the ledger
    val (d1, q1) = Warehouse.runWithLedger(spark, landing, layers, "2026-04-01")
    assert(q1.isDefined)
    assert(d1.filter(col("decision") === "new").count() == 1)
    assert(spark.read.parquet(layers.bronze).count() == 6)
    assert(spark.read.parquet(layers.ledger).count() == 1)
    val fs = org.apache.hadoop.fs.FileSystem
      .get(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(landing, "day1.csv")))
    assert(fs.exists(new org.apache.hadoop.fs.Path(landing,
      "archive/day1_20260401.csv")))
    // run 2: nothing new → ST4 skip, layers untouched
    val (d2, q2) = Warehouse.runWithLedger(spark, landing, layers, "2026-04-02")
    assert(q2.isEmpty, "empty batch must skip the whole run")
    assert(d2.filter(col("decision") === "missing").count() == 1)
    assert(spark.read.parquet(layers.bronze).count() == 6)
    // run 3: one new file → only it is processed
    writeCsv(landing, "day3.csv",
      ClassicHeader +: Seq(classicRow("L900")))
    val (d3, q3) = Warehouse.runWithLedger(spark, landing, layers, "2026-04-03")
    assert(q3.isDefined)
    assert(d3.filter(col("decision") === "new").count() == 1)
    assert(spark.read.parquet(layers.bronze).count() == 7)
    assert(spark.read.parquet(layers.ledger).count() == 2)
    assert(spark.read.parquet(layers.fact).count() == 7)
  }

  test("faithful dim-load mode replicates the reference's NULL re-insert bug") {
    import spark.implicits._
    val root = freshRoot("faithful")
    // a combo with a NULL column: native mode inserts once; faithful
    // mode (reference `=` anti-join) re-inserts it every run
    val vals = Seq(("DSL", null: String), ("Fiber", "Yes"))
      .toDF("internet", "tv")
    val native = s"$root/native"; val faith = s"$root/faithful"
    Warehouse.loadDim(spark, native, vals, "k", Seq("internet", "tv"))
    Warehouse.loadDim(spark, native, vals, "k", Seq("internet", "tv"))
    assert(spark.read.parquet(native).count() == 2,
      "null-safe mode keeps the dim stable across runs")
    Warehouse.loadDim(spark, faith, vals, "k", Seq("internet", "tv"),
      faithful = true)
    Warehouse.loadDim(spark, faith, vals, "k", Seq("internet", "tv"),
      faithful = true)
    assert(spark.read.parquet(faith)
      .filter(col("tv").isNull).count() == 2,
      "faithful mode re-inserts the NULL-bearing combo per run (reference bug)")
    assert(spark.read.parquet(faith).count() == 3)
  }

  test("breaker halts BEFORE any write when bad rate exceeds 10%") {
    val root = freshRoot("halt"); val layers = Warehouse.Layers(root)
    val landing = s"$root/landing"
    writeCsv(landing, "classic.csv",
      ClassicHeader +: ((1 to 7).map(i => classicRow(s"H00$i")) ++
        Seq(classicRow("H900", tenure = "-1"),
          classicRow("H901", tenure = "-2"),
          classicRow("H902", tenure = "-3")))) // 3 bad of 10
    val e = intercept[IllegalStateException] {
      Warehouse.run(spark, landing, layers, "2026-04-01")
    }
    assert(e.getMessage.contains("halting"))
    val fs = org.apache.hadoop.fs.FileSystem
      .get(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(layers.quarantine)),
      "halt must precede the quarantine write")
    assert(spark.read.parquet(layers.bronze).count() == 0,
      "halt must precede the bronze upsert")
  }

  test("watermark export: window extract, skip-empty, no-advance") {
    val root = freshRoot("export"); val layers = Warehouse.Layers(root)
    val landing = s"$root/landing"
    writeCsv(landing, "export.csv", ExportHeader +: Seq(
      exportRow("X001", "2026-04-01 08:00:00"),
      exportRow("X002", "2026-04-02 09:00:00")))
    Warehouse.run(spark, landing, layers, "2026-04-02")
    val bronze = spark.read.schema(ChurnSchema.bronze)
      .parquet(layers.bronze)
    val state = s"$root/wm.txt"
    // first window catches only X001
    val n1 = Export.run(spark, bronze, state, s"$root/exports",
      "2026-04-01 12:00:00")
    assert(n1 == 1)
    val store = new graft.ops.Incremental.WatermarkStore(state)
    assert(store.read() == "2026-04-01 12:00:00")
    // second window catches X002
    val n2 = Export.run(spark, bronze, state, s"$root/exports",
      "2026-04-03 12:00:00")
    assert(n2 == 1)
    // empty window: nothing new → count 0 AND watermark unchanged
    val n3 = Export.run(spark, bronze, state, s"$root/exports",
      "2026-04-04 12:00:00")
    assert(n3 == 0)
    assert(store.read() == "2026-04-03 12:00:00",
      "empty batch must not advance the watermark")
  }

  test("correction loop: accepted fixes replace silver rows, rejected quarantine") {
    val root = freshRoot("reproc"); val layers = Warehouse.Layers(root)
    val landing = s"$root/landing"
    writeCsv(landing, "classic.csv",
      ClassicHeader +: (1 to 5).map(i => classicRow(s"R00$i")))
    Warehouse.run(spark, landing, layers, "2026-04-01")
    // corrections: R001 gets new tenure; one row has a bad contract;
    // one has non-numeric tenure (must REJECT, not null-coerce)
    val fixes = s"$root/fixed_data"
    writeCsv(fixes, "corrections.csv", ClassicHeader +: Seq(
      classicRow("R001", tenure = "99"),
      classicRow("R900").replace("Month-to-month", "Weekly"),
      classicRow("R901", tenure = "twelve")))
    val ((accepted, rejected), jobs) =
      SparkJobs.during(spark)(Reprocess.run(spark, fixes, layers))
    assert(accepted == 1 && rejected == 2)
    // one counting pass fills the cache and keeps the preview rows: a
    // second count or a preview job would add jobs
    assert(jobs <= 6, s"the correction loop ran $jobs Spark jobs")
    assert(spark.read.parquet(layers.reprocessQuarantine)
      .filter(col("error_details") === "Tenure not numeric").count() == 1)
    val silver = spark.read.parquet(layers.silver)
    assert(silver.filter(col("customer_id") === "R001")
      .head().getAs[Double]("tenure_in_months") == 99.0)
    assert(silver.count() == 5, "replace-by-key must not grow silver")
    assert(spark.read.parquet(layers.reprocessQuarantine)
      .filter(col("error_details") === "Invalid Contract Type").count() == 1)
    // gold refresh picks up nothing new (same keys) and stays clean
    Warehouse.loadGold(spark, layers, "2026-04-02")
    val failing = Quality.runAll(spark, layers).filter(!col("pass"))
    assert(failing.isEmpty, failing.collect().mkString(", "))
  }

  test("correction loop recovers silver parked by a crashed swap") {
    val root = freshRoot("reproc_crash"); val layers = Warehouse.Layers(root)
    val landing = s"$root/landing"
    writeCsv(landing, "classic.csv",
      ClassicHeader +: (1 to 3).map(i => classicRow(s"K00$i")))
    Warehouse.run(spark, landing, layers, "2026-04-01")
    // the crash window of a silver overwrite: the layer was renamed to
    // .__old__ and the staged copy never took its place
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val silverPath = new org.apache.hadoop.fs.Path(layers.silver)
    val parked = new org.apache.hadoop.fs.Path(layers.silver + ".__old__")
    assert(fs.rename(silverPath, parked))
    val fixes = s"$root/fixed_data"
    writeCsv(fixes, "corrections.csv",
      Seq(ClassicHeader, classicRow("K002", tenure = "77")))
    assert(Reprocess.run(spark, fixes, layers) == ((1L, 0L)))
    assert(!fs.exists(parked), "the parked layer must be restored")
    val silver = spark.read.parquet(layers.silver)
    assert(silver.count() == 3)
    assert(silver.filter(col("customer_id") === "K002")
      .head().getAs[Double]("tenure_in_months") == 77.0)
  }
}
