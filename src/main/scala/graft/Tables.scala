package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the harness testdata layout (`TESTDATA.md`): one parquet
  * directory per table under an sf dir. Column pruning + predicate
  * pushdown reach the scan because these are plain parquet reads with
  * no intervening barriers.
  */
object Tables {
  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame   = t(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = t(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = t(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = t(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = t(s, d, "lineitem")

  /** The orders split keys (lo, hi) gates slice orders into three
    * key ranges on: 5000 and 10000 once the dense keys 0..max number
    * 15000 or more, else the key range's thirds — three non-empty
    * slices at every SF. Oracles restate it as [[Split3Sql]]. */
  private[graft] def split3(s: SparkSession, d: String): (Long, Long) = {
    val mx = orders(s, d)
      .agg(org.apache.spark.sql.functions.max("o_orderkey").cast("long"))
      .collect()(0)
    val n = if (mx.isNullAt(0)) 0L else mx.getLong(0) + 1
    (math.min(5000L, n / 3), math.min(10000L, 2 * n / 3))
  }

  /** [[split3]] as a DuckDB CTE body: one row (lo, hi). */
  private[graft] val Split3Sql: String =
    """SELECT LEAST(5000, (MAX(o_orderkey) + 1) // 3) AS lo,
              LEAST(10000, 2 * (MAX(o_orderkey) + 1) // 3) AS hi
       FROM orders"""

  /** events.ts has shipped in two physical forms across testdata
    * generations: TIMESTAMP(NANOS) parquet (surfaced as an epoch-nanos
    * long via spark.sql.legacy.parquet.nanosAsLong in GraftSession) and
    * plain micros TIMESTAMP/TIMESTAMP_NTZ. Normalize both to a micros
    * TimestampType so every downstream operator sees one shape. The
    * nanos branch floors with exact integer division (a double division
    * would lose precision above 2^53 ns ≈ 104 days); the NTZ cast is
    * value-preserving because the session timezone is pinned UTC. */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val raw = t(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampType => raw
      case _ => raw.withColumn("ts", col("ts").cast(TimestampType))
    }
  }
  /** Scale-adaptive read parallelism for ONE heavy scan-side pass:
    * the testdata ships every table as a single-row-group parquet
    * file, so a scan yields ONE partition and scan-side
    * projection/explode work (text shingling/hashing/BPE, the star
    * fact's join keys) runs single-threaded no matter how many cores
    * the session has. Hash-spread rows on a real key onto the
    * session's default parallelism ONLY when the scan is narrower
    * than it (guide §2.5: repartition immediately after an
    * unsplittable read); at production scale the input has thousands
    * of row groups, the guard is false, and the plan is untouched.
    * Hash partitioning on a unique id avoids round-robin's
    * sort-before-repartition pass and is retry-deterministic by
    * construction; filters and column pruning still push through the
    * exchange.
    *
    * APPLIED SURGICALLY at call sites, not inside the table
    * accessors (measured, r15): a blanket spread helps exactly the
    * one-heavy-pass class (q_star_fact_load 4.6→1.6 s, skew joins,
    * BPE/BM25/span-dedup) but TAXES everything else — iterative
    * algorithms multiply the wider partitioning into every round's
    * tiny jobs (q_pagerank 2.3→7.3 s), cheap scan+agg plans pay an
    * exchange they never amortize (z-order family ~4x), and the
    * similarity family's codebook-sized jobs drown in task-launch
    * overhead (q_ann_opq_rotation_topk 3.4→9.4 s). */
  def spread(s: SparkSession, df: DataFrame, key: String): DataFrame = {
    val p = s.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < p)
      df.repartition(p, org.apache.spark.sql.functions.col(key))
    else df
  }

  def documents(s: SparkSession, d: String): DataFrame  = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")
}
