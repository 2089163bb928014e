package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge. Spark 4 made these conversions
  * `private[sql]` (the Column API is connect-agnostic); extension
  * libraries that ship custom Catalyst expressions use a bridge
  * object inside the sql package to reach the classic converter —
  * the same pattern public Spark-extension projects use. Only the
  * two conversion calls live here; all engine logic stays in graft. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** [[expression]] converted through the whole column tree: where
    * [[expression]] hands an API-built column back as one opaque lazy
    * node, this yields the Catalyst tree a tree walk can see — a
    * `Column.isin(Dataset)` as `InSubquery`, a `!` as the function
    * over its converted child. */
  def expressionTree(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)

  /** Catalyst predicate → `sources.Filter`, Spark's own translation
    * (`protected[sql]` on DataSourceStrategy) — used by the graft
    * file index to hand the query's data filters to the log-stats
    * skipper in the exact ADT the DSv2 pushdown path already
    * speaks. */
  def translateFilter(e: Expression)
      : Option[org.apache.spark.sql.sources.Filter] =
    org.apache.spark.sql.execution.datasources.DataSourceStrategy
      .translateFilter(e, supportNestedPredicatePushdown = false)

  /** LogicalPlan → DataFrame (`Dataset.ofRows` is `private[sql]`) —
    * the streaming store source builds its per-batch plan by marking
    * a batch read's leaf relations `isStreaming = true` (the V1
    * Source contract MicroBatchExecution asserts) and needs a frame
    * back. */
  def dataFrame(spark: org.apache.spark.sql.SparkSession,
                plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** `df` with the metadata columns (`_metadata`) its top projection
    * hides resolvable above it: the analyzer projects away what a join
    * condition pulled into a file scan, and the projection's hidden
    * output (where Spark keeps a USING join's) names them again. */
  def keepMetadata(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical.Project
    import org.apache.spark.sql.catalyst.util.MetadataColumnHelper
    df.queryExecution.analyzed match {
      case p: Project =>
        p.setTagValue(Project.hiddenOutputTag,
          p.child.output.filter(a => new MetadataColumnHelper(a).isMetadataCol))
        dataFrame(df.sparkSession, p)
      case _ => df
    }
  }

  /** Spark's own StructType → parquet MessageType conversion
    * (`SparkToParquetSchemaConverter` is sql-internal) — used to
    * write schema-anchor files driver-side with exactly the physical
    * shape a zero-row Spark write would have produced. */
  def parquetMessageType(schema: org.apache.spark.sql.types.StructType)
      : org.apache.parquet.schema.MessageType =
    new org.apache.spark.sql.execution.datasources.parquet
      .SparkToParquetSchemaConverter(
        org.apache.spark.sql.internal.SQLConf.get)
      .convert(schema)

  /** The schema Spark's parquet scan infers from `footers`, without
    * the inference job: each footer read by Spark's own
    * `ParquetFileFormat.readSchemaFromFooter` (the file's Spark row
    * metadata when present, else the session-configured converter),
    * merged left to right as schema merging does, then nullable as
    * every file scan reports it. The versioned store resolves its
    * scan schemas through this from footers it already holds. */
  def footerSchema(spark: org.apache.spark.sql.SparkSession,
                   footers: Seq[org.apache.parquet.hadoop.Footer])
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.execution.datasources.parquet.{
      ParquetFileFormat, ParquetToSparkSchemaConverter}
    val conf = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.conf
    val converter = new ParquetToSparkSchemaConverter(conf)
    footers.map(ParquetFileFormat.readSchemaFromFooter(_, converter))
      .reduce(_.merge(_, conf.caseSensitiveAnalysis)).asNullable
  }

  /** `s` with every field nullable, as Spark's file sources report a
    * user-specified schema (`StructType.asNullable` is spark-private):
    * a file lacking a column reads it as null. */
  def nullable(s: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = s.asNullable

  /** A V1 streaming Sink's `addBatch` frame re-wrapped as a PLAIN
    * batch frame over the micro-batch's already-planned RDD —
    * Spark's own ForeachBatchSink construction
    * (`LogicalRDD.fromDataset(isStreaming = false)`), needed because
    * a streaming-flagged frame refuses batch writes. */
  def batchView(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val classicDf = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    val node = org.apache.spark.sql.execution.LogicalRDD.fromDataset(
      classicDf.queryExecution.toRdd, classicDf, isStreaming = false)
    org.apache.spark.sql.classic.Dataset.ofRows(
      classicDf.sparkSession, node)
  }

  /** The reverse wrap: a fully-planned BATCH frame presented to the
    * streaming engine as a streaming leaf (`LogicalRDD(isStreaming =
    * true)` over its planned RDD — the KafkaSource construction).
    * Needed when a getBatch plan contains operators the streaming
    * planner refuses (the row feed's exceptAll set-ops): the batch
    * planner owns the computation, the engine sees one opaque
    * streaming relation. */
  def streamingView(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val classicDf = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    val node = org.apache.spark.sql.execution.LogicalRDD.fromDataset(
      classicDf.queryExecution.toRdd, classicDf, isStreaming = true)
    org.apache.spark.sql.classic.Dataset.ofRows(
      classicDf.sparkSession, node)
  }
}
