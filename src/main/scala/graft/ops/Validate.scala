package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Row-validation family — SURVEY.md §2.2 P3-P6/P8, §2.5 W1, §2.4 A11.
  *
  * The reference annotates every row with a `; `-joined list of failed
  * rule names in declaration order ("Missing ID; Negative Tenure"),
  * then splits good (empty annotation) from quarantined rows
  * (reference: dags/DataWarehouse.py:626-637, dags/Reprocessing.py:68-109).
  *
  * Implementation: one `concat_ws` over `when(cond, name)` columns —
  * concat_ws skips NULLs, which reproduces the reference's
  * join-then-strip-trailing-"; " behavior exactly, stays fully
  * codegen'd, and costs a single projection (no shuffle). The
  * duplicate-key rule is the only one needing a shuffle (window count
  * partitioned by the key — scales as a hash shuffle on the key, no
  * global ordering).
  */
object Validate {

  final case class Rule(name: String, failsWhen: Column)

  /** Append `error_details` per the reference's annotation semantics. */
  def annotate(df: DataFrame, rules: Seq[Rule]): DataFrame =
    df.withColumn("error_details",
      concat_ws("; ", rules.map(r => when(r.failsWhen, lit(r.name))): _*))

  /** Duplicate-marking condition (reference pandas
    * `duplicated(keep=False)`): true on EVERY copy of a duplicated key.
    * NULL keys are not marked (reference drops NULLs before the dup
    * scan — dags/DataWarehouse.py:632-633). */
  def duplicatedAll(key: Column): Column =
    key.isNotNull && count(lit(1)).over(Window.partitionBy(key)) > 1

  def good(annotated: DataFrame): DataFrame =
    annotated.filter(col("error_details") === "")

  def bad(annotated: DataFrame): DataFrame =
    annotated.filter(col("error_details") =!= "")

  /** One-pass (total, bad) counters over an annotated frame: each
    * partition counts its own rows, and only those pairs reach the
    * driver — no shuffle, so a persisted frame is filled and counted by
    * the same job. */
  def counts(annotated: DataFrame): (Long, Long) = {
    val (total, bad, _) = tally(annotated, keep = 0)
    (total, bad)
  }

  /** Error-rate circuit breaker (reference: 10% threshold,
    * dags/DataWarehouse.py:456-482). */
  def errorRatePct(annotated: DataFrame): Double = {
    val (total, bad) = counts(annotated)
    if (total == 0) 0.0 else bad * 100.0 / total
  }

  /** Halt-or-clean gate: error rate above threshold throws BEFORE any
    * destructive step (reference halt ordering, §7.4). */
  def gate(annotated: DataFrame, thresholdPct: Double = 10.0): DataFrame =
    gateCounted(annotated, thresholdPct)._1

  /** [[gate]], also returning THIS batch's bad-row count from the same
    * single aggregate pass. Callers that branch on "did this batch
    * reject anything" need this scalar — inferring it from quarantine
    * directory contents is wrong, because a re-run of a previously
    * rejecting run_date can still see the prior run's partition. */
  def gateCounted(annotated: DataFrame,
                  thresholdPct: Double = 10.0): (DataFrame, Long) = {
    val (clean, _, bad, _) = gateTotals(annotated, thresholdPct)
    (clean, bad)
  }

  /** [[gateCounted]] with the batch's total row count and its first
    * `keep` bad rows as well, from the same pass: (clean rows, total,
    * bad, head of the bad rows). */
  private[graft] def gateTotals(annotated: DataFrame, thresholdPct: Double,
                                keep: Int = 0): (DataFrame, Long, Long, Seq[Row]) = {
    val (total, bad, head) = tally(annotated, keep)
    val rate = if (total == 0) 0.0 else bad * 100.0 / total
    if (rate > thresholdPct)
      throw new IllegalStateException(
        f"error rate $rate%.2f%% exceeds $thresholdPct%.1f%% — halting before cleanup")
    (good(annotated), total, bad, head)
  }

  /** [[counts]]' pass, also keeping the first `keep` bad rows in
    * partition order — the rows `bad(annotated).coalesce(1).limit(keep)`
    * returns; each partition sends at most `keep` rows to the driver. */
  private[graft] def tally(annotated: DataFrame,
                           keep: Int): (Long, Long, Seq[Row]) = {
    val read = if (keep == 0) annotated.select("error_details") else annotated
    val i = read.schema.fieldIndex("error_details")
    val perPartition = read.rdd.mapPartitions { rows =>
      var total, bad = 0L
      val head = Seq.newBuilder[Row]
      rows.foreach { r =>
        total += 1
        if (!r.isNullAt(i) && r.getString(i) != "") {
          if (bad < keep) head += r
          bad += 1
        }
      }
      Iterator((total, bad, head.result()))
    }.collect()
    (perPartition.map(_._1).sum, perPartition.map(_._2).sum,
      perPartition.flatMap(_._3).take(keep).toSeq)
  }

  /** Rows of `df`, counted within each partition and summed on the
    * driver: one Spark job, where `count()`'s global aggregate adds an
    * exchange that adaptive execution runs as a job of its own. */
  private[graft] def rowCount(df: DataFrame): Long =
    df.select(lit(1)).mapPartitions(rows => Iterator(rows.size.toLong))(
      org.apache.spark.sql.Encoders.scalaLong).collect().sum

  /** A12: value-check assertion — the reference's SQLValueCheckOperator
    * (dags/DataWarehouse.py:810-819,843-863): a scalar query result
    * must equal `expected` within `tolerance` (fractional, as in
    * Airflow: |actual − expected| ≤ expected·tolerance) or the
    * pipeline fails at that task. `df` must be a 1×1 frame. */
  def valueCheck(df: DataFrame, expected: Double, tolerance: Double = 0.0,
                 name: String = "value check"): Unit =
    checkValue(df.head().get(0) match {
      case n: Number => n.doubleValue()
      case other => throw new IllegalArgumentException(
        s"$name: non-numeric check result $other")
    }, expected, tolerance, name)

  /** [[valueCheck]] of a result already on the driver. */
  private[graft] def checkValue(actual: Double, expected: Double,
                                tolerance: Double, name: String): Unit = {
    val allowed = math.abs(expected) * tolerance
    if (math.abs(actual - expected) > allowed)
      throw new IllegalStateException(
        s"$name failed: got $actual, expected $expected ± $allowed")
  }

  /** Functional-dependency violation audit: keys of `df` where
    * `key → attr` does NOT hold — i.e. one key maps to more than one
    * distinct attr value (the classic conformed-dimension corruption:
    * one customer id with two countries, one order with two ship
    * dates). Emits (key, n_values, min/max attr as the violation
    * evidence pair). Nulls count as a value: a key mapping to both
    * 'x' and NULL IS a violation, surfaced via the `__null__`
    * sentinel (the Drift convention).
    *
    * Scale shape: dedup-then-count — one map-side-combinable agg on
    * (key, attr), then a key-sized agg with a HAVING; no
    * count(DISTINCT) Expand, no join. Output is violation-sized. */
  def fdViolations(df: DataFrame, key: Column, attr: Column): DataFrame =
    df.select(key.as("fd_key"),
        coalesce(attr.cast("string"), lit("__null__")).as("_attr"))
      .groupBy("fd_key", "_attr").agg(count(lit(1)).as("_n"))
      .groupBy("fd_key")
      .agg(count(lit(1)).as("n_values"),
        min(col("_attr")).as("min_attr"),
        max(col("_attr")).as("max_attr"))
      .filter(col("n_values") > 1)
}
