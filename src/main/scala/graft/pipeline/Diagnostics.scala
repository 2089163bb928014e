package graft.pipeline

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Layer diagnostics — SURVEY.md §2.8 F20.
  *
  * The reference's export DAG probes its database before running:
  * `current_database()`/`current_schema()` context, `to_regclass`
  * existence probes per expected relation, and a LIKE-pattern sweep of
  * information_schema for similarly-named tables
  * (churn_export_dag_cloude.py:414-471). The engine twin probes
  * parquet layers: per-layer existence with file/byte counts
  * (`to_regclass` semantics — a missing layer reports exists=false
  * rather than erroring), and a LIKE-style discovery listing under the
  * warehouse root. METADATA ONLY — pure FS listings, no data scan, no
  * job; safe to run before every pipeline at any corpus size. */
object Diagnostics {

  final case class LayerProbe(layer: String, path: String,
                              exists: Boolean, files: Long, bytes: Long)

  private def probe(fs: FileSystem, layer: String, path: String): LayerProbe = {
    val p = new Path(path)
    if (!fs.exists(p)) LayerProbe(layer, path, exists = false, 0L, 0L)
    else {
      val cs = fs.getContentSummary(p)
      LayerProbe(layer, path, exists = true, cs.getFileCount, cs.getLength)
    }
  }

  /** Probe every named layer of a warehouse (the `to_regclass` sweep). */
  def probeLayers(spark: SparkSession, layers: Warehouse.Layers): DataFrame = {
    import spark.implicits._
    // per-path FS resolution (layers may live on a non-default scheme)
    val fs = new Path(layers.root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    (Seq(
      "staging" -> layers.staging,
      "bronze" -> layers.bronze,
      "silver" -> layers.silver,
      "quarantine" -> layers.quarantine,
      "quarantine_reprocess" -> layers.reprocessQuarantine,
      "ledger" -> layers.ledger,
      "fact" -> layers.fact) ++
      Seq("customer", "contract", "payment_method", "churn_reason", "services")
        .map(n => s"dim_$n" -> layers.dim(n)))
      .map { case (name, path) => probe(fs, name, path) }
      .toDF()
  }

  /** LIKE-style discovery of layer directories under `root` — the
    * information_schema sweep (`%user%`/`%billing%` in the reference).
    * `like` uses SQL LIKE syntax, matched case-insensitively. */
  def findLayers(spark: SparkSession, root: String, like: String): DataFrame = {
    import spark.implicits._
    val p = new Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val re = java.util.regex.Pattern.quote(like.toLowerCase)
      .replace("%", "\\E.*\\Q").replace("_", "\\E.\\Q")
    val names =
      if (!fs.exists(p)) Seq.empty[String]
      else fs.listStatus(p).toIndexedSeq.filter(_.isDirectory)
        .map(_.getPath.getName).filter(_.toLowerCase.matches(re)).sorted
    names.toDF("layer_dir")
  }
}
