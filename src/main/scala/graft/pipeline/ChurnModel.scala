package graft.pipeline

import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.ml.classification.GBTClassifier
import org.apache.spark.ml.feature.{StandardScaler, StringIndexer, VectorAssembler}
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.Upsert

/** The ML churn layer — SURVEY.md §2.11 + §2.3 J11 + §2.4 A13.
  *
  * Reference (dags/scripts/train_churn_model.py:18-165): extract the
  * fact⋈dims feature join with COALESCE defaults, label-encode 10
  * categoricals, scale 3 numerics, train a gradient-boosted tree
  * classifier, full-refresh gold.churn_predictions with per-customer
  * prediction + P(churn).
  *
  * Spark-native translation: the feature prep is a spark.ml Pipeline —
  * StringIndexer (handleInvalid=keep: unseen categories at predict
  * time get their own bucket instead of failing, the distributed
  * analogue of a persisted LabelEncoder), VectorAssembler,
  * StandardScaler — and the booster is Spark's GBTClassifier (the
  * in-distribution stand-in for XGBoost; same additive-trees family,
  * trains distributed). Training data never leaves executors; only
  * the fitted model's coefficients come to the driver.
  */
object ChurnModel {

  val categoricalCols: Seq[String] = Seq(
    "contract_type", "payment_method", "gender", "senior_citizen",
    "partner", "dependents", "internet_service", "phone_service",
    "online_security", "streaming_tv")
  val numericCols: Seq[String] = Seq(
    "tenure_in_months", "monthly_charges_amount", "total_charges")

  /** The reference's extract join (J11): fact inner dim_customer,
    * LEFT dims, COALESCE defaults, training-row filter (P9). The
    * fact stores churn_flag as the raw label string; both the
    * reference's '0'/'1' and the load's 'Yes'/'No' conventions are
    * accepted. */
  def extractFeatures(spark: SparkSession, layers: Warehouse.Layers): DataFrame = {
    val fact = spark.read.schema(ChurnSchema.fact).parquet(layers.fact)
    val dc = spark.read.schema(ChurnSchema.dimCustomer)
      .parquet(layers.dim("customer"))
      .select(col("customer_key").as("_ck"), col("customer_id"),
        col("gender"), col("senior_citizen"), col("partner"),
        col("dependents"))
    val dk = spark.read.schema(ChurnSchema.dimContract)
      .parquet(layers.dim("contract"))
      .select(col("contract_key"), col("contract_type"))
    val dp = spark.read.schema(ChurnSchema.dimPaymentMethod)
      .parquet(layers.dim("payment_method"))
      .select(col("payment_key"), col("payment_method"))
    val ds = spark.read.schema(ChurnSchema.dimServices)
      .parquet(layers.dim("services"))
      .select(col("service_key"), col("internet_service"),
        col("phone_service"), col("online_security"), col("streaming_tv"))
    fact
      // cast-inside-key: the reference joins on customer_key::INTEGER;
      // graft surrogate keys are 64-bit hashes, so the widening cast
      // keeps the expression-key join shape without truncation
      .join(dc, fact("customer_key").cast("long") === col("_ck").cast("long"))
      .join(broadcast(dk), Seq("contract_key"), "left")
      .join(broadcast(dp), Seq("payment_key"), "left")
      .join(broadcast(ds), Seq("service_key"), "left")
      .filter(col("tenure_in_months").isNotNull &&
        col("monthly_charges_amount").isNotNull &&
        trim(col("churn_flag")).isin("0", "1", "No", "Yes"))
      .select(
        col("customer_key"), col("customer_id"),
        when(trim(col("churn_flag")).isin("1", "Yes"), 1.0).otherwise(0.0)
          .as("label"),
        col("tenure_in_months").cast("double"),
        col("monthly_charges_amount").cast("double"),
        coalesce(col("total_charges").cast("double"), lit(0.0))
          .as("total_charges"),
        coalesce(col("contract_type"), lit("Unknown")).as("contract_type"),
        coalesce(col("payment_method"), lit("Unknown")).as("payment_method"),
        coalesce(col("gender"), lit("Unknown")).as("gender"),
        coalesce(col("senior_citizen"), lit("0")).as("senior_citizen"),
        coalesce(col("partner"), lit("No")).as("partner"),
        coalesce(col("dependents"), lit("No")).as("dependents"),
        coalesce(col("internet_service"), lit("Unknown")).as("internet_service"),
        coalesce(col("phone_service"), lit("No")).as("phone_service"),
        coalesce(col("online_security"), lit("No")).as("online_security"),
        coalesce(col("streaming_tv"), lit("No")).as("streaming_tv"))
  }

  /** Feature-prep + booster pipeline (seeded — runs reproduce).
    *
    * Scaling matches the reference (train_churn_model.py:106-112):
    * ONLY the numeric features are standardized; label-indexed
    * categoricals enter the final assembler unscaled. Hence the
    * two-stage assembly — numerics → scaler → concat with indexes. */
  def buildPipeline(): Pipeline = {
    val indexers = categoricalCols.map(c =>
      new StringIndexer().setInputCol(c).setOutputCol(s"${c}_idx")
        .setHandleInvalid("keep"))
    val numAssembler = new VectorAssembler()
      .setInputCols(numericCols.toArray).setOutputCol("numeric_raw")
    val scaler = new StandardScaler()
      .setInputCol("numeric_raw").setOutputCol("numeric_scaled")
      .setWithMean(true).setWithStd(true)
    val assembler = new VectorAssembler()
      .setInputCols(("numeric_scaled" +: categoricalCols.map(_ + "_idx")).toArray)
      .setOutputCol("features")
    val gbt = new GBTClassifier()
      .setLabelCol("label").setFeaturesCol("features")
      .setMaxIter(20).setMaxDepth(4).setStepSize(0.1).setSeed(42L)
    new Pipeline().setStages(
      (indexers ++ Seq(numAssembler, scaler, assembler, gbt)).toArray)
  }

  final case class TrainResult(model: PipelineModel, predictions: DataFrame)

  /** Score features with a fitted model → the gold.churn_predictions
    * row shape (customer, class, P(churn), run stamp). */
  def score(model: PipelineModel, features: DataFrame, runTs: String): DataFrame = {
    val p1 = element_at(vector_to_array(col("probability")), 2)
    model.transform(features).select(
      col("customer_key"), col("customer_id"),
      col("prediction").cast("smallint").as("churn_prediction"),
      p1.cast("decimal(5,4)").as("churn_probability"),
      to_timestamp(lit(runTs)).as("model_run_date"))
  }

  /** One min-rows guard shared by every training entry point. */
  private def requireTrainable(features: DataFrame): Unit =
    require(features.limit(10).count() >= 10,
      "Insufficient data for training: need at least 10 rows")

  /** Train on the extracted features and score every row — the
    * reference trains and predicts on the same extract. */
  def trainPredict(features: DataFrame, runTs: String): TrainResult = {
    requireTrainable(features)
    val model = buildPipeline().fit(features)
    TrainResult(model, score(model, features, runTs))
  }

  // ------------------------------------------------------------------
  // Versioned artifact lifecycle — SURVEY §2.11 / O4. The reference
  // persists rf_churn_model_{ds}.pkl per monthly training run and the
  // daily inference DAG picks the lexicographic max
  // (dags/ml_churn_pipeline.py:71-95, :252-260). Spark-native: the
  // whole fitted Pipeline (indexers = the persisted LabelEncoders,
  // scaler, booster) saves as one PipelineModel directory named by the
  // run date — ISO dates sort lexicographically, so "latest" = max.
  // ------------------------------------------------------------------

  private val ArtifactPrefix = "churn_model_"

  /** Persist a fitted model under `artifactsRoot/churn_model_{runDate}`. */
  def saveVersioned(model: PipelineModel, artifactsRoot: String,
                    runDate: String): String = {
    val path = s"$artifactsRoot/$ArtifactPrefix$runDate"
    model.write.overwrite().save(path)
    path
  }

  /** List persisted versions, ascending (empty if none trained yet). */
  def listVersions(spark: SparkSession, artifactsRoot: String): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(artifactsRoot)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).filter(_.isDirectory)
      .map(_.getPath.getName).filter(_.startsWith(ArtifactPrefix))
      .sorted.toIndexedSeq
  }

  /** Load the newest artifact (lexicographic max, mirroring
    * _get_latest_artifact_paths, ml_churn_pipeline.py:77-95). Fails
    * loudly when no training run has happened, like the reference. */
  def loadLatest(spark: SparkSession, artifactsRoot: String): PipelineModel = {
    val versions = listVersions(spark, artifactsRoot)
    if (versions.isEmpty)
      throw new java.io.FileNotFoundException(
        s"No trained artifacts in '$artifactsRoot'. " +
          "Run trainAndSave first (reference: telecom_churn_training_monthly).")
    PipelineModel.load(s"$artifactsRoot/${versions.last}")
  }

  /** Monthly training DAG body: extract → fit → persist versioned.
    * Returns the artifact path. */
  def trainAndSave(spark: SparkSession, layers: Warehouse.Layers,
                   artifactsRoot: String, runDate: String): String = {
    val features = extractFeatures(spark, layers)
    requireTrainable(features)
    saveVersioned(buildPipeline().fit(features), artifactsRoot, runDate)
  }

  /** Daily inference DAG body (ml_churn_pipeline.py:324-349): load the
    * LATEST artifact, score today's extract WITHOUT retraining, and
    * delete+insert on DATE(model_run_date) so re-runs of the same day
    * are idempotent (the reference's ensure_idempotency task). */
  def predictWithLatest(spark: SparkSession, layers: Warehouse.Layers,
                        artifactsRoot: String, runTs: String): DataFrame = {
    // an unparseable runTs would score rows with a NULL model_run_date
    // AND make the non-null-safe idempotency filter below silently
    // delete earlier null-dated rows — fail loudly instead
    require(!spark.range(1)
      .select(to_timestamp(lit(runTs)).isNull).head().getBoolean(0),
      s"runTs '$runTs' does not parse as a timestamp")
    val model = loadLatest(spark, artifactsRoot)
    val preds = score(model, extractFeatures(spark, layers), runTs)
    val out = s"${layers.root}/gold/churn_predictions"
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // layer READERS must recover a crashed swap before the exists
    // check (Upsert contract): if a prior overwrite died between its
    // two renames, `out` is missing and `.__old__` holds the only
    // copy — without this, merged = today only and the overwrite
    // below would silently truncate all prior days' predictions
    Upsert.recoverCrashedSwap(spark, out)
    val merged =
      if (fs.exists(new org.apache.hadoop.fs.Path(out)))
        spark.read.parquet(out)
          // null-safe: a legacy row with a NULL run date is not
          // "today's run" and must survive the delete+insert
          .filter(!(to_date(col("model_run_date")) <=>
            to_date(to_timestamp(lit(runTs)))))
          .unionByName(preds)
      else preds
    Upsert.atomicOverwrite(merged, out)
    spark.read.parquet(out)
  }

  /** A13: feature-importance ranking from the fitted booster. */
  def featureImportance(spark: SparkSession, model: PipelineModel): DataFrame = {
    import spark.implicits._
    val gbt = model.stages.last
      .asInstanceOf[org.apache.spark.ml.classification.GBTClassificationModel]
    val names = numericCols ++ categoricalCols
    names.zip(gbt.featureImportances.toArray)
      .toDF("feature", "importance")
      .orderBy(col("importance").desc, col("feature"))
  }

  /** Full refresh of gold.churn_predictions (the reference TRUNCATEs
    * then appends; atomic overwrite is the parquet equivalent). */
  def run(spark: SparkSession, layers: Warehouse.Layers, runTs: String): DataFrame = {
    val result = trainPredict(extractFeatures(spark, layers), runTs)
    Upsert.atomicOverwrite(result.predictions,
      s"${layers.root}/gold/churn_predictions")
    spark.read.parquet(s"${layers.root}/gold/churn_predictions")
  }
}
