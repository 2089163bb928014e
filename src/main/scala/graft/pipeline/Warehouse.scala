package graft.pipeline

import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.types.{DateType, IntegerType, LongType, StructType}
import org.apache.spark.unsafe.types.UTF8String
import graft.GraftSession
import graft.ops._

/** The full medallion composition — the reference's
  * Data_Warehouse_Full_Pipeline DAG re-expressed as one deterministic
  * Spark program (reference: dags/DataWarehouse.py:760-879: ddl →
  * load_csv → bronze upsert → DQ gate → silver refresh → gold star →
  * DQ gate). Every step composes an existing engine op; this file adds
  * COMPOSITION, not new operator semantics.
  *
  * Layer storage is path-addressed parquet under one root. Bronze,
  * silver, staging and the ledger are overwritten through
  * [[Upsert.atomicOverwrite]] (the reference gets crash safety from
  * Postgres transactions; Parquet needs it built). The gold dims and
  * the fact are APPEND-ONLY: a run writes only the rows it adds, as
  * files staged next to the layer and renamed in (each combo dim's
  * new rows are one file, so they commit with one rename). A crashed
  * append is safe to rerun: each load anti-joins against what the
  * layer already holds, so rows an earlier attempt appended are
  * skipped, never added twice.
  *
  * Scale: staging→bronze is the only keyed shuffle (full-outer merge
  * on customer_id — broadcastable when the nightly batch is small
  * relative to bronze); dims are distinct-combo-sized (broadcast
  * joins); the fact anti-join is a hash join on the surrogate key.
  */
object Warehouse {

  final case class Layers(root: String) {
    val staging = s"$root/staging"
    val bronze = s"$root/bronze"
    val silver = s"$root/silver"
    val quarantine = s"$root/quarantine"
    /** Rejected correction rows (raw string schema — kept apart from
      * the typed staging quarantine; the reference likewise writes a
      * separate rejected_fixes report). */
    val reprocessQuarantine = s"$root/quarantine_reprocess"
    val ledger = s"$root/pipeline_file_metadata"
    def dim(name: String) = s"$root/gold/dim_$name"
    val fact = s"$root/gold/fact_customer_churn"
  }

  /** Path-scheme-aware FS resolution — layers may live on a
    * non-default scheme (s3a://…), where `FileSystem.get(conf)` throws
    * Wrong FS; matches the idiom in [[Upsert.atomicOverwrite]]. */
  private def fsFor(spark: SparkSession, path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def pathExists(spark: SparkSession, path: String): Boolean =
    fsFor(spark, path).exists(new org.apache.hadoop.fs.Path(path))

  /** Read a layer with its schema PINNED, or an empty typed frame when
    * the layer doesn't exist yet — inference on a dim that was written
    * empty throws 'Unable to infer schema', and inferred key types can
    * drift where an explicit schema fails loudly. The empty frame is a
    * parquet scan of no files: the plan, and so the generated code, of
    * a first run is then the plan of every later run. */
  private def readOrEmpty(spark: SparkSession, path: String,
                          schema: org.apache.spark.sql.types.StructType): DataFrame = {
    // a missing layer may be a crashed overwrite swap, not "no data" —
    // restore before concluding empty (silent-truncation guard)
    Upsert.recoverCrashedSwap(spark, path)
    val read = spark.read.schema(schema)
    if (pathExists(spark, path)) read.parquet(path) else read.parquet()
  }

  /** S12: DDL bootstrap — every layer exists (possibly empty) with its
    * declared schema before any run, like CREATE TABLE IF NOT EXISTS. */
  def ddlBootstrap(spark: SparkSession, layers: Layers): Unit = {
    def ensure(path: String, schema: org.apache.spark.sql.types.StructType): Unit = {
      Upsert.recoverCrashedSwap(spark, path) // never re-create over a crashed swap
      if (!pathExists(spark, path))
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
          .write.parquet(path)
    }
    ensure(layers.bronze, ChurnSchema.bronze)
    ensure(layers.silver, ChurnSchema.silver)
  }

  /** Landing CSVs → staging frame (S1/S2 + P1 via [[CsvIngest]]). */
  def loadStaging(spark: SparkSession, landingDir: String): DataFrame =
    CsvIngest.ingestDir(spark, landingDir, ChurnSchema.staging)
      .drop("src_file")

  /** Validation split with the reference's halt-order semantics:
    * annotate → circuit-breaker gate (throws above 10% BEFORE anything
    * is written) → quarantine sink for bad rows → clean rows persisted
    * as the staging layer (the reference's staging_churn table).
    * Returns the staging layer as written.
    *
    * The annotated batch is computed once: the gate's (total, bad)
    * pass fills a persisted copy and collects the quarantine preview's
    * rows, and the quarantine and staging writes read that copy — the
    * rule chain and its duplicate-key shuffle never run twice.
    *
    * The quarantine writes run-date-partitioned with DYNAMIC overwrite,
    * not append: the documented recovery for a mid-run crash is
    * re-running the batch, and every other layer is idempotent under
    * that — a plain append would double the quarantined rows per
    * retry. */
  def validateStaging(spark: SparkSession, staging: DataFrame,
                      layers: Layers, runDate: String,
                      thresholdPct: Double = 10.0,
                      hook: NotifyHook = NotifyHook.Log): DataFrame =
    validated(spark, staging, layers, runDate, thresholdPct, hook)._1

  /** [[validateStaging]], also returning the clean row count from the
    * gate's own pass, so a caller never counts the staging layer. */
  private def validated(spark: SparkSession, staging: DataFrame,
                        layers: Layers, runDate: String,
                        thresholdPct: Double = 10.0,
                        hook: NotifyHook = NotifyHook.Log): (DataFrame, Long) = {
    val rules = ChurnSchema.stagingRules :+
      Validate.Rule("Duplicate ID", Validate.duplicatedAll(col("customer_id")))
    // the batch is kept as persisted rows under a frame of its own:
    // counting that frame fills it in the same job, where a cached
    // Dataset would be filled by a job of its own before its first
    // reader's (the duplicate-key shuffle still runs first, once)
    val planned = Validate.annotate(staging, rules)
    val rows = planned.rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val annotated = spark.createDataFrame(rows, planned.schema)
    try {
      // the gate's pass also yields THIS batch's bad count — the
      // quarantine dir can't answer that (a clean re-run of a
      // previously rejecting run_date still sees the old partition,
      // because dynamic overwrite of an empty frame replaces nothing)
      // the gate's pass also brings the quarantine preview's rows
      val (clean, total, nBad, head) =
        try Validate.gateTotals(annotated, thresholdPct, Notify.PreviewRows)
        catch { case e: IllegalStateException =>
          // the reference's on_failure_callback mail: alert, then halt
          hook.send(Notify.GateFailure("staging_validate", e.getMessage))
          throw e
        }
      val rejected = Validate.bad(annotated).withColumn("run_date", lit(runDate))
      if (nBad > 0) {
        // every rejected row carries the one run_date, so one task
        // writes the one partition: no exchange, one file
        Partitioned.writeAsLaidOut(rejected.coalesce(1), layers.quarantine,
          "run_date")
      } else {
        // all-clean batch: clear any stale partition this run_date left
        // behind, so analysts never see a previous run's rejects
        val part = new org.apache.hadoop.fs.Path(
          s"${layers.quarantine}/run_date=$runDate")
        val fs = fsFor(spark, layers.quarantine)
        if (fs.exists(part)) fs.delete(part, true)
      }
      Upsert.atomicOverwrite(clean.drop("error_details"), layers.staging)
      // the quarantine-preview notification: the first rows just
      // written, as the gate's pass collected them
      if (nBad > 0)
        hook.send(Notify.previewOf(rejected.columns.toIndexedSeq,
          head.map(r => Row.fromSeq(r.toSeq :+ runDate)), nBad,
          "staging_quarantine"))
      (spark.read.schema(ChurnSchema.staging).parquet(layers.staging),
        total - nBad)
    } finally rows.unpersist()
  }

  /** Staging batch → bronze: in-batch dedup keeps the latest record
    * per key (W2), then the reference's partial-column upsert (J3) —
    * update-listed columns refresh, unlisted columns keep bronze
    * values, conflicts stamp record_type='updated' and refresh
    * updated_at to the load time (F12: the reference's DEFAULT
    * CURRENT_TIMESTAMP on insert + updated_at=CURRENT_TIMESTAMP on
    * conflict; the instant is taken once per load, so one load stamps
    * one instant). */
  def upsertBronze(spark: SparkSession, batch: DataFrame, layers: Layers): Unit = {
    val now = GraftSession.constant(java.time.Instant.now())
    // tiebreak on a content hash: duplicate keys with tied (or NULL)
    // updated_at must pick the SAME survivor on every run regardless
    // of partition order
    val latest = batch.withColumn("_rn",
        row_number().over(Window.partitionBy(col("customer_id"))
          .orderBy(col("updated_at").desc_nulls_last,
            xxhash64(batch.columns.map(col).toIndexedSeq: _*).asc)))
      .filter(col("_rn") === 1).drop("_rn")
      .withColumn("created_at",
        coalesce(col("created_at"), now))
      .withColumn("updated_at", coalesce(col("updated_at"), now))
    val existing = spark.read.schema(ChurnSchema.bronze).parquet(layers.bronze)
    val merged = Upsert.merge(existing, latest, Seq("customer_id"),
      ChurnSchema.bronzeUpdateCols,
      Map("record_type" -> lit("updated"),
        "updated_at" -> now))
    Upsert.atomicOverwrite(merged, layers.bronze)
  }

  /** Bronze → silver full refresh (P2 projection + F4-F7 safe casts +
    * null defaults — insert_data_into_silver.sql). */
  def refreshSilver(spark: SparkSession, layers: Layers): Unit = {
    val bronze = spark.read.schema(ChurnSchema.bronze).parquet(layers.bronze)
    val defaults = ChurnSchema.silverDefaults
    val silver = bronze.select(ChurnSchema.silver.fields.map { f =>
      val base = f.name match {
        case "churn_score" | "cltv" =>
          SafeCast.safeNumeric(col(f.name), f.dataType)
        case n if defaults.contains(n) => coalesce(col(n), defaults(n))
        case n => col(n)
      }
      base.cast(f.dataType).as(f.name)
    }.toIndexedSeq: _*)
    Upsert.atomicOverwrite(silver, layers.silver)
  }

  /** Incremental dim load (J8): values not yet in the dim get fresh
    * surrogate keys above the current max, in value order (ascending,
    * nulls first), and only those rows are appended. Returns the whole
    * dim (existing and new rows) as a local frame.
    *
    * The reference carries a key-equality ASYMMETRY (SURVEY §7.4): dim
    * anti-join loads use plain `=` — NULL-bearing combos never match
    * an existing row, so they re-insert with a fresh key EVERY run —
    * while the fact join uses `IS NOT DISTINCT FROM`
    * (create_load_data_gold.sql:75-86 vs :133-141). Engine-native mode
    * (default) joins null-safely and keeps the dim stable;
    * `faithful = true` replicates the reference's `=` byte-for-byte
    * for compatibility runs (the duplicate-growth behavior is pinned
    * in PipelineSpec). */
  def loadDim(spark: SparkSession, path: String, values: DataFrame,
              keyCol: String, valueCols: Seq[String],
              faithful: Boolean = false): DataFrame = {
    val schema = ChurnSchema.dim(keyCol, IntegerType,
      values.select(valueCols.map(col): _*).schema)
    resolveCombos(spark, values,
      Seq(ComboDim(path, schema, valueCols.map(col))), faithful)
      .select(col("_key").as(keyCol) +: schema.fieldNames.toSeq.tail
        .map(n => col(s"_v0_$n").as(n)): _*)
  }

  /** A combo dim for [[resolveCombos]]: its path, its schema (the
    * surrogate key first) and the expressions that give its values
    * from the source rows, one per value field of the schema, in
    * schema order. */
  private final case class ComboDim(path: String, schema: StructType,
                                    values: Seq[Column])

  /** Resolves combo dims together in ONE Spark execution: one scan of
    * `source` offers every dim's combos, and they and every dim's
    * existing rows go through one keyed aggregate (grouping is
    * null-safe, so `faithful` adds back the `=` semantics: a
    * NULL-bearing combo counts as new even when present); one window
    * partitioned by dim numbers the new combos above that dim's max
    * key. The aggregate carries each combo's existing keys, so the
    * execution's rows are every dim's existing rows and new rows
    * without a second read of the dims. Each dim with new rows then
    * appends them as ONE file, and a dim with none writes nothing.
    *
    * Dims are distinct-combo-sized, so the rows collected are bounded
    * by combo cardinality, never data size — and the bound is
    * ENFORCED: the key expression raises past BoundedDim.MaxCombos
    * inside the window's task, before any offending row is collected.
    * Returns every dim's full row set as ONE local frame: `_d` (the
    * dim's index in `dims`), `_key`, and the `_v<d>_<field>` value
    * columns, NULL outside the row's own dim. */
  private def resolveCombos(spark: SparkSession, source: DataFrame,
                            dims: Seq[ComboDim],
                            faithful: Boolean): DataFrame = {
    // one column per (dim, value column); a dim's rows carry NULL in
    // every other dim's columns, so ordering by all of them orders
    // each dim by its own values
    val wide = dims.zipWithIndex.flatMap { case (d, i) =>
      d.schema.fields.toIndexedSeq.tail.map(f => (i, f, s"_v${i}_${f.name}")) }
    def row(i: Int, values: Seq[Column], key: Column, offered: Boolean,
            nullCombo: Column): Seq[Column] = {
      val mine = values.iterator
      Seq(lit(i).as("_d"), key.cast("int").as("_key"),
        lit(offered).as("_in"), nullCombo.as("_nullc")) ++
        wide.map { case (j, f, n) =>
          (if (j == i) mine.next() else lit(null)).cast(f.dataType).as(n) }
    }
    val kept = dims.zipWithIndex.map { case (d, i) =>
      readOrEmpty(spark, d.path, d.schema).select(row(i,
        d.schema.fieldNames.toSeq.tail.map(col), col(d.schema.head.name),
        offered = false, lit(false)): _*)
    }
    val offered = source.select(explode(array(dims.zipWithIndex.map {
      case (d, i) => struct(row(i, d.values, lit(null), offered = true,
        lit(faithful) && d.values.map(_.isNull).reduce(_ || _)): _*)
    }: _*)).as("_c")).select("_c.*")
    val wideCols = wide.map { case (_, _, n) => col(n) }
    val grouped = (kept :+ offered).reduce(_ unionByName _)
      .groupBy(col("_d") +: wideCols: _*)
      .agg(collect_list(when(!col("_in"), struct(col("_key").as("k"))))
          .as("_keys"), max("_in").as("_in"), max("_nullc").as("_nullc"))
      .withColumn("_max", array_max(transform(col("_keys"), _.getField("k"))))
      .withColumn("_new",
        col("_in") && (col("_max").isNull || col("_nullc")))
    val byDim = Window.partitionBy(col("_d"))
    val rank = sum(col("_new").cast("int")).over(byDim
      .orderBy(wideCols.map(_.asc_nulls_first): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    val key = coalesce(max(col("_max")).over(byDim), lit(0)) + rank
    val capped = dims.indices.tail.foldLeft(when(col("_d") === 0,
      BoundedDim.cappedKey(key, s"loadDim(${dims.head.path})"))) { (c, i) =>
      c.when(col("_d") === i,
        BoundedDim.cappedKey(key, s"loadDim(${dims(i).path})"))
    }
    // each existing key, then the new combo's key
    val rows = grouped.withColumn("_k", capped.cast("int"))
      .select((col("_d") +: wideCols) :+ explode(concat(
        transform(col("_keys"), k =>
          struct(k.getField("k").as("_key"), lit(false).as("_new"))),
        filter(array(struct(col("_k").as("_key"), lit(true).as("_new"))),
          _ => col("_new")))).as("_r"): _*)
      .select(Seq(col("_d"), col("_r._key").as("_key"),
        col("_r._new").as("_new")) ++ wideCols: _*)
    val collected = rows.collect()

    dims.zipWithIndex.foreach { case (d, i) =>
      val cols = wide.collect { case (`i`, _, n) => n }
      val added = collected.filter(r => r.getAs[Int]("_d") == i && r.getAs[Boolean]("_new"))
        .map(r => Row.fromSeq(r.getAs[Any]("_key") +: cols.map(r.getAs[Any](_))))
        .sortBy(_.getInt(0))
      if (added.nonEmpty || !pathExists(spark, d.path))
        appendFiles(spark.createDataFrame(added.toSeq.asJava, d.schema)
          .coalesce(1), d.path)
    }
    val all = rows.schema.filterNot(_.name == "_new")
    spark.createDataFrame(collected.toSeq.map(r =>
      Row.fromSeq(all.map(f => r.getAs[Any](f.name)))).asJava, StructType(all))
  }

  /** Append-only commit: `df` is written to a staging dir next to
    * `path`, then every staged part file that holds rows is renamed
    * into `path`. Readers see a whole file or none of it; a frame with
    * no rows changes nothing; a layer that doesn't exist yet is
    * created (empty when `df` is). */
  private def appendFiles(df: DataFrame, path: String): Unit = {
    val spark = df.sparkSession
    val fs = fsFor(spark, path)
    val target = new Path(path)
    val staged = new Path(path + ".__append__")
    fs.delete(staged, true)
    df.write.mode("overwrite").parquet(staged.toString)
    if (!fs.exists(target)) {
      if (!fs.rename(staged, target))
        throw new java.io.IOException(s"cannot publish $path")
    } else {
      val conf = spark.sparkContext.hadoopConfiguration
      fs.listStatus(staged).map(_.getPath)
        .filter(_.getName.startsWith("part-"))
        .filter { p =>
          val reader = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
          try reader.getRecordCount > 0 finally reader.close()
        }
        .foreach { p =>
          if (!fs.rename(p, new Path(target, p.getName)))
            throw new java.io.IOException(s"cannot append $p to $path")
        }
      fs.delete(staged, true)
    }
  }

  /** Entity dim (dim_customer): one row per NATURAL key — the
    * reference inserts only unseen customer_ids and never revisits
    * attributes, so matching on the whole attribute combo (like the
    * small combo dims do) would grow a second row for a customer whose
    * city changes and double their fact rows downstream. Attributes
    * are first-seen; within-batch duplicate keys resolve
    * deterministically (ordered pick). Only the unseen ids are
    * appended, as a distributed write; a batch with none writes
    * nothing.
    *
    * Surrogate = xxhash64 of the natural key: a pure per-row
    * projection. An entity dim's cardinality IS data-sized, so the
    * combo dims' single-partition row_number would funnel the whole
    * table through one task here (SURVEY §7.5: surrogate keys become
    * hashes at scale); hash keys are also stable across runs without
    * reading the existing dim. Collisions land in the dup-key quality
    * check; 64-bit space is safe at warehouse entity counts. */
  def loadEntityDim(spark: SparkSession, path: String, values: DataFrame,
                    keyCol: String, naturalKey: String,
                    valueCols: Seq[String]): DataFrame = {
    val dimSchema = ChurnSchema.dim(keyCol, LongType, values.schema)
    val existing = readOrEmpty(spark, path, dimSchema)
    val deduped = values.withColumn("_rn",
        row_number().over(Window
          .partitionBy(col(naturalKey))
          .orderBy(valueCols.map(c => col(c).asc_nulls_first): _*)))
      .filter(col("_rn") === 1).drop("_rn")
    val fresh = deduped
      .join(existing.select(col(naturalKey)), Seq(naturalKey), "left_anti")
      .withColumn(keyCol, xxhash64(col(naturalKey)))
      .select(col(keyCol) +: valueCols.map(col): _*)
    appendFiles(fresh, path)
    spark.read.schema(dimSchema).parquet(path)
  }

  /** Silver → gold star load (J6/J7/J8 + W3): five dims + the fact
    * with the reference's expression keys — REPLACE-normalized
    * contract, TRIM/UPPER churn_reason with 'n/a' default, and the
    * 9-column null-safe composite services join — then the anti-join
    * on customer_key keeps the append idempotent. The four combo dims
    * resolve together ([[resolveCombos]]) and the fact joins their
    * resolved rows; nothing reads a dim back. dim_customer's key is a
    * pure function of the id ([[loadEntityDim]]), so the fact derives
    * it from silver, for exactly the rows the dim join would keep (a
    * NULL id matches no dim row). */
  def loadGold(spark: SparkSession, layers: Layers, runDate: String): Unit = {
    val silver = spark.read.schema(ChurnSchema.silver).parquet(layers.silver)
    // to_date(runDate): Spark's own string-to-date rule, applied once
    val runDay = DateTimeUtils.stringToDate(UTF8String.fromString(runDate))
      .fold(lit(null).cast(DateType))(d =>
        GraftSession.constant(java.time.LocalDate.ofEpochDay(d.toLong)))

    val contractNorm =
      regexp_replace(col("contract"), "Month-to-month", "Month-to-Month")
    val reasonNorm =
      upper(trim(coalesce(col("churn_reason"), lit("n/a"))))

    val customerDimCols = ChurnSchema.dimCustomer.fieldNames.toSeq.tail
    loadEntityDim(spark, layers.dim("customer"),
      silver.select(customerDimCols.map(col): _*),
      "customer_key", "customer_id", customerDimCols)
    // each combo dim with the silver expressions of its value columns
    val comboDims = Seq(
      ComboDim(layers.dim("contract"), ChurnSchema.dimContract, Seq(contractNorm)),
      ComboDim(layers.dim("payment_method"), ChurnSchema.dimPaymentMethod,
        Seq(col("payment_method"))),
      ComboDim(layers.dim("churn_reason"), ChurnSchema.dimChurnReason,
        Seq(reasonNorm)),
      ComboDim(layers.dim("services"), ChurnSchema.dimServices,
        ChurnSchema.serviceCols.map(col)))
    val combos = resolveCombos(spark, silver, comboDims, faithful = false)

    // Each dim's key comes from one left join against ALL the combo
    // dims' rows, keyed by the whole row: a struct of `_d` and every
    // value column, NULL-safe field by field, so it matches the
    // null-safe join a per-dim lookup would make (the dims were LOADED
    // null-safely, so a NULL contract has a dim row to match). The
    // build side and its key are the same in all four joins, so the
    // broadcast is built once and reused.
    val values = combos.columns.filterNot(_ == "_key").toSeq
    val byDim = comboDims.indices.map { i =>
      val probe = comboDims(i).values.iterator
      struct(combos.schema.fields.toSeq.filterNot(_.name == "_key").map { f =>
        (if (f.name == "_d") lit(i)
         else if (f.name.startsWith(s"_v${i}_")) probe.next()
         else lit(null)).cast(f.dataType).as(f.name)
      }: _*)
    }
    val keyed = comboDims.indices.foldLeft(
        silver.filter(col("customer_id").isNotNull)) { (df, i) =>
      df.join(broadcast(combos.as(s"_k$i")),
        byDim(i) <=> struct(values.map(c => col(s"_k$i.$c")): _*), "left")
    }
    val fact = keyed.select(
        xxhash64(col("customer_id")).as("customer_key"),
        col("_k0._key").as("contract_key"), col("_k1._key").as("payment_key"),
        col("_k2._key").as("reason_key"), col("_k3._key").as("service_key"),
        col("tenure_in_months"), col("monthly_charges_amount"),
        col("total_charges"),
        col("churn_label").as("churn_flag"),
        col("churn_score"), col("cltv"),
        runDay.as("run_date"))
    appendFiles(fact.join(readOrEmpty(spark, layers.fact, ChurnSchema.fact)
      .select("customer_key"), Seq("customer_key"), "left_anti"), layers.fact)
  }

  /** A12: the DAG's two hard value checks, at the DAG's positions —
    * bronze sanity after the upsert, fact integrity after gold load
    * (reference: dags/DataWarehouse.py:810-819,843-863; pass_value=0,
    * tolerance=0 → any violation fails the run). Each counts its
    * violations in one Spark job ([[Validate.rowCount]]). */
  def dqBronzeCheck(spark: SparkSession, layers: Layers): Unit =
    Validate.checkValue(Validate.rowCount(
      spark.read.schema(ChurnSchema.bronze).parquet(layers.bronze)
        .filter(col("customer_id").isNull || col("churn_label").isNull)),
      expected = 0, tolerance = 0, name = "dq_bronze_sanity_check")

  def dqGoldCheck(spark: SparkSession, layers: Layers): Unit =
    Validate.checkValue(Validate.rowCount(
      spark.read.schema(ChurnSchema.fact).parquet(layers.fact)
        .filter(col("customer_key").isNull ||
          col("contract_key").isNull || col("service_key").isNull ||
          col("monthly_charges_amount") < 0 || col("total_charges") < 0 ||
          (col("churn_score").isNotNull &&
            (col("churn_score") < 0 || col("churn_score") > 100)))),
      expected = 0, tolerance = 0, name = "dq_gold_fact_check")

  /** One full nightly run (the DAG's task chain, in order). Returns
    * the quality summary. */
  def run(spark: SparkSession, landingDir: String, layers: Layers,
          runDate: String, hook: NotifyHook = NotifyHook.Log): DataFrame = {
    ddlBootstrap(spark, layers)
    val staging = loadStaging(spark, landingDir)
    val (clean, nClean) = validated(spark, staging, layers, runDate, hook = hook)
    // ST4 for the plain path too: an empty landing zone yields an
    // empty clean batch (a >10%-bad batch THROWS at the gate and never
    // reaches here) and skips every downstream layer — running gold on
    // a first-ever empty batch would otherwise create a schemaless
    // empty fact. The explicit marker row distinguishes a skipped run
    // from a healthy one (both satisfy filter(!pass).isEmpty).
    if (nClean == 0) {
      import spark.implicits._
      return Seq(Quality.Check("run", "skipped_empty_batch", 0L, true))
        .toDF()
    }
    upsertBronze(spark, clean, layers)
    dqBronzeCheck(spark, layers)
    refreshSilver(spark, layers)
    loadGold(spark, layers, runDate)
    dqGoldCheck(spark, layers)
    // the reference's end-of-run stats mail: the count is the gate's
    hook.send(Notify.BatchStats("warehouse_run",
      Map("clean_rows" -> nClean)))
    Quality.runAll(spark, layers)
  }

  /** The reference DAG's FULL file protocol around [[run]]
    * (dags/DataWarehouse.py:67-147,711-752): scan the landing zone,
    * consult the MD5 ledger, process ONLY new/changed files, skip the
    * whole run when nothing is new (ST4 — no layer is touched),
    * archive processed files with a run stamp, and upsert the ledger
    * — all ordered so a crash re-processes rather than loses files
    * (ledger/archive strictly AFTER the layers commit; re-running a
    * crashed batch re-ingests the same files idempotently via the
    * bronze upsert + fact anti-join).
    *
    * Returns (decisions, Some(quality)) — or None when skipped. */
  def runWithLedger(spark: SparkSession, landingDir: String, layers: Layers,
                    runDate: String, hook: NotifyHook = NotifyHook.Log)
      : (DataFrame, Option[DataFrame]) = {
    val fs = fsFor(spark, landingDir)
    import spark.implicits._
    // a missing landing dir is the nothing-new case, same as CsvIngest
    if (!fs.exists(new org.apache.hadoop.fs.Path(landingDir)))
      return (Seq.empty[(String, Option[Long], String, String)]
        .toDF("file_name", "size_bytes", "checksum", "decision"), None)
    val scanned = Ledger.scan(spark, landingDir, "*.csv")
    val prior = readOrEmpty(spark, layers.ledger,
      org.apache.spark.sql.types.StructType.fromDDL(
        "file_name STRING, size_bytes LONG, checksum STRING"))
    // decisions come back materialized (a local frame): the scan reads
    // the landing files, which this run archives away, so a lazy
    // consumer after the run would re-scan moved files
    val decisions = Ledger.decide(scanned, prior)
    val toProcess = Ledger.toProcess(decisions)
      .select("file_name").collect().map(_.getString(0)).sorted.toIndexedSeq
    if (toProcess.isEmpty) return (decisions, None) // ST4: skip, touch nothing

    ddlBootstrap(spark, layers)
    val files = toProcess.map(n =>
      new org.apache.hadoop.fs.Path(landingDir, n))
    val staging = CsvIngest
      .ingestFiles(spark, files, ChurnSchema.staging).drop("src_file")
    val (clean, nClean) = validated(spark, staging, layers, runDate, hook = hook)
    // ST4 here too (same guard as run()): a new file with zero data
    // rows must not drive gold over a schemaless empty fact — but it
    // WAS processed, so the archive + ledger protocol below still
    // runs and the file won't re-ingest forever
    val haveData = nClean > 0
    if (haveData) {
      upsertBronze(spark, clean, layers)
      dqBronzeCheck(spark, layers)
      refreshSilver(spark, layers)
      loadGold(spark, layers, runDate)
      dqGoldCheck(spark, layers)
    }

    // Layers are committed: now the file protocol. The ledger rows
    // come from the MATERIALIZED decisions (the checksums that were
    // actually decided on), never a re-scan — a landing file
    // overwritten mid-run would otherwise get its NEW checksum
    // recorded against the OLD ingested content and silently skip on
    // the next run. Archive runs BEFORE the ledger commit: a crash
    // between the two re-processes idempotently (bronze upsert + fact
    // anti-join) rather than stranding files in the landing zone as
    // forever-"unchanged".
    val stamp = runDate.replace("-", "")
    val archive = new org.apache.hadoop.fs.Path(landingDir, "archive")
    files.foreach(f => Ledger.archiveFile(fs, f, archive, stamp))
    val processedRows = decisions
      .filter(col("file_name").isin(toProcess: _*))
      .select("file_name", "size_bytes", "checksum")
    Upsert.atomicOverwrite(Ledger.update(prior, processedRows), layers.ledger)
    hook.send(Notify.BatchStats("warehouse_run_ledger", Map(
      "files_processed" -> toProcess.size.toLong,
      "clean_rows" -> nClean)))
    (decisions, if (haveData) Some(Quality.runAll(spark, layers)) else None)
  }
}
