package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.Sink
import org.apache.spark.sql.graftbridge.Bridge

import graft.ops.TableStore

/** The versioned store as a native STREAMING SINK —
  * `df.writeStream.format("graft").start(root)` — the other half of
  * [[GraftStreamSource]]'s symmetry: a store can now sit at EITHER
  * end of a stream through the same format name. Each micro-batch
  * lands as one [[TableStore.appendBatch]] commit with the batch id
  * riding INSIDE it, so readers always see whole batches and a
  * checkpoint replay (restart, zombie twin) commits nothing — the
  * exactly-once contract [[TableStore.sinkStream]] proves through
  * foreachBatch, packaged as a sink Spark plans natively.
  *
  * Options: `statsCols` (per-file [min, max] into the commit log,
  * same as the writer API) and the self-healing maintenance pair
  * `maxLiveFiles`/`targetBytes` ([[TableStore.SinkMaintenance]]:
  * after a COMMITTED batch pushes the live set past the threshold,
  * the small-file backlog folds as an ordinary layout commit —
  * whose [[TableStore.Screen.Layout]] lets it race safely with
  * concurrent appenders). Append-only by contract: per-batch commits
  * ARE appends; Complete/Update modes have no store spelling and
  * refuse at start. */
class GraftStreamSink(spark: SparkSession, root: String,
                      statsCols: Seq[String],
                      maintenance: Option[TableStore.SinkMaintenance])
    extends Sink {

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    // the engine hands a streaming-flagged frame; re-wrap it over the
    // batch's planned RDD (ForeachBatchSink's own construction) so
    // the store's ordinary batch write path applies
    if (TableStore.appendBatch(Bridge.batchView(data), root, batchId,
        statsCols).nonEmpty)
      maintenance.foreach(_.afterCommit(spark, root, statsCols))
  }

  override def toString: String = s"GraftStreamSink[$root]"
}
