package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally-maintained aggregate views over a [[TableStore]] —
  * the derived-table tick every downstream consumer of a 100 TB fact
  * wants: a materialized `GROUP BY` kept in lockstep with the source
  * by consuming its adds-only change feed, with per-tick work
  * proportional to the DELTA (plus the view, which is group-count
  * sized), never a full source recompute.
  *
  * Mechanics per [[tick]]:
  *  1. the view's consumed position is `TableStore.maxBatchId` of the
  *     view's OWN log — the Delta txn posture: position and result
  *     commit atomically, so a tick that crashed anywhere simply
  *     re-runs from the last position that actually landed;
  *  2. the delta is `TableStore.readChangesSince(src, position)` —
  *     compaction/OPTIMIZE commits contribute nothing, and a content
  *     REWRITE in the source (delete/restore/overwrite) fails the
  *     tick loudly with the resync remedy rather than silently
  *     serving a stale view (the feed's own contract);
  *  3. the delta's partial aggregate combines with the view rows by
  *     group (count and sums are commutative monoids) and the result
  *     OVERWRITES the view as one commit carrying the consumed
  *     source version as its batch id.
  *
  * Concurrent tickers are safe: the overwrite is snapshot-dependent,
  * so the loser surfaces as a loud ConcurrentModificationException
  * and its retry observes the winner's position. A tick with nothing
  * new returns None and commits nothing.
  *
  * Reference anchor: the gold-layer aggregate tables the reference
  * rebuilds per DAG run (dags/DataWarehouse.py gold queries) — here
  * they become incremental instead of full-rebuild.
  */
object DerivedView {

  /** One maintenance tick of a (groupCols, COUNT(*), SUM(sumCols...))
    * view at `viewRoot` over the store at `srcRoot`. Returns the
    * committed view version, or None when the view is already at the
    * source's head. View schema: groupCols ++ `n_rows` ++
    * `sum_<c>` per sum column — sums are LONG (declare integer
    * columns; exactness is the point of maintaining the view). */
  def tick(spark: SparkSession, srcRoot: String, viewRoot: String,
           groupCols: Seq[String], sumCols: Seq[String]): Option[Long] = {
    require(groupCols.nonEmpty, "a view needs at least one group column")
    val to = TableStore.versions(spark, srcRoot).lastOption
      .getOrElse(return None) // source never committed: nothing to do
    val from = TableStore.maxBatchId(spark, viewRoot).getOrElse(0L)
    if (to <= from) return None // already at the head
    val delta = TableStore.readChangesSince(spark, srcRoot, from, Some(to))
    val partial = delta.groupBy(groupCols.map(col): _*).agg(
      count(lit(1)).as("n_rows"),
      sumCols.map(c => sum(col(c)).as(s"sum_$c")): _*)
    val combined =
      if (TableStore.versions(spark, viewRoot).isEmpty) partial
      else TableStore.read(spark, viewRoot).unionByName(partial)
        .groupBy(groupCols.map(col): _*).agg(
          sum(col("n_rows")).as("n_rows"),
          sumCols.map(c => sum(col(s"sum_$c")).as(s"sum_$c")): _*)
    Some(TableStore.overwrite(combined, viewRoot, batchId = Some(to)))
  }

  /** Continuously-maintained aggregate — the streaming gold table:
    * each micro-batch lands in the BASE store exactly once
    * ([[TableStore.appendBatch]], batch-id idempotent), then one
    * maintenance [[tick]] folds the delta into the view. Crash
    * anywhere and the replay is safe, because the two effects carry
    * independent idempotency: a re-offered batch stands down on its
    * commit-carried id, and the tick's position rides the VIEW's own
    * commit — a tick that never ran simply runs at the next batch.
    * The view can therefore LAG (by the un-ticked suffix) but never
    * drift or double-count; the final catch-up tick after the drain
    * makes "stream drained" imply "view current". */
  def sinkStreamWithView(stream: DataFrame, storeRoot: String,
                         viewRoot: String, checkpoint: String,
                         groupCols: Seq[String], sumCols: Seq[String],
                         statsCols: Seq[String] = Nil): Unit = {
    val q = stream.writeStream
      .foreachBatch { (b: DataFrame, id: Long) =>
        TableStore.appendBatch(b, storeRoot, id, statsCols)
        tick(b.sparkSession, storeRoot, viewRoot, groupCols, sumCols)
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    tick(stream.sparkSession, storeRoot, viewRoot, groupCols, sumCols)
  }

  /** One maintenance tick of a MAP view — a materialized ROW-WISE
    * transform of an append-only source (parse, featurize, encode,
    * fingerprint): per tick, only the delta flows through
    * `transform`, and its output APPENDS to the view with the
    * consumed source version riding the same commit. The third IVM
    * shape next to [[tick]] (aggregate) and [[tickJoin]] (join), and
    * the one index maintenance wants: an ANN-code or signature store
    * kept current without ever re-encoding history.
    *
    * Contract: `transform` must be row-wise and deterministic —
    * it sees each source row exactly once across the view's lifetime,
    * so anything cross-row (dedup, aggregation) belongs in the other
    * tick shapes. Source compactions contribute nothing; a content
    * rewrite fails loudly with the resync remedy. Returns the
    * committed view version, or None at the head. */
  def tickMap(spark: SparkSession, srcRoot: String, viewRoot: String,
              transform: DataFrame => DataFrame): Option[Long] = {
    val to = TableStore.versions(spark, srcRoot).lastOption
      .getOrElse(return None)
    val from = TableStore.snapshotOf(spark, viewRoot)
      .flatMap(_.meta("viewpos")).map(_.toLong).getOrElse(0L)
    if (to <= from) return None
    val delta = TableStore.readChangesSince(spark, srcRoot, from, Some(to))
      .drop("_commit_version")
    Some(TableStore.appendExclusiveWithMeta(transform(delta), viewRoot,
      metaRows = Seq(("", "viewpos", to.toString))))
  }

  /** One maintenance tick of an INNER EQUI-JOIN view — the other half
    * of incremental view maintenance, and the one that kills the
    * biggest recompute: a materialized `A JOIN B ON key` kept in
    * lockstep with TWO append-only stores. Per-tick work is the
    * classic delta-join decomposition
    *
    *   ΔV  =  ΔA ⋈ B(toB)  ∪  A(fromA) ⋈ ΔB
    *
    * — each delta joins ONE full snapshot, the two full snapshots
    * never join each other, and a pair with both halves new lands
    * exactly once (it lives in the first term only, because B(toB)
    * already contains ΔB). For append-only sources the view grows
    * monotonically, so the delta APPENDS; both consumed positions
    * ride the same commit as a `viewpos` marker (atomic — a tick that
    * crashed anywhere replays from the positions that actually
    * landed, and [[TableStore.vacuum]]'s checkpoint carries the
    * marker past the horizon). Source compactions contribute nothing
    * (layout commits are skipped by the feed); a content REWRITE in
    * either source fails the tick loudly with the resync remedy —
    * inner-join deltas of retracted rows are exactly what an
    * adds-only feed cannot express.
    *
    * Concurrent tickers are safe: the position-carrying append is
    * snapshot-dependent, so a lost race is a loud
    * ConcurrentModificationException and the retry observes the
    * winner's positions. Returns the committed view version, or None
    * when both sources are already consumed (or either has never
    * committed — an inner join with a side that doesn't exist yet
    * has nothing to say). Non-key column names must be disjoint
    * across the sources: the view owns ONE flat schema. */
  def tickJoin(spark: SparkSession, aRoot: String, bRoot: String,
               viewRoot: String, key: String): Option[Long] = {
    val toA = TableStore.versions(spark, aRoot).lastOption
      .getOrElse(return None)
    val toB = TableStore.versions(spark, bRoot).lastOption
      .getOrElse(return None)
    val (fromA, fromB) = TableStore.snapshotOf(spark, viewRoot)
      .flatMap(_.meta("viewpos"))
      .map { p =>
        val Array(a, b) = p.split(','); (a.toLong, b.toLong)
      }.getOrElse((0L, 0L))
    if (toA <= fromA && toB <= fromB) return None // both at the head
    val aNew = TableStore.read(spark, aRoot, Some(toA))
    val bNew = TableStore.read(spark, bRoot, Some(toB))
    require(aNew.columns.contains(key) && bNew.columns.contains(key),
      s"join key $key must exist in both sources")
    val overlap = (aNew.columns.toSet & bNew.columns.toSet) - key
    require(overlap.isEmpty,
      s"non-key columns ${overlap.mkString(",")} exist in BOTH " +
        "sources — the view owns one flat schema; project them apart")
    def delta(root: String, from: Long, to: Long, full: DataFrame) =
      if (to > from)
        TableStore.readChangesSince(spark, root, from, Some(to))
          .drop("_commit_version")
      else full.limit(0)
    val dA = delta(aRoot, fromA, toA, aNew)
    val dB = delta(bRoot, fromB, toB, bNew)
    val aOld =
      if (fromA == 0) aNew.limit(0)
      else TableStore.read(spark, aRoot, Some(fromA))
    val grown = dA.join(bNew, key)
      .unionByName(aOld.join(dB, key))
    Some(TableStore.appendExclusiveWithMeta(grown, viewRoot,
      metaRows = Seq(("", "viewpos", s"$toA,$toB"))))
  }
}
