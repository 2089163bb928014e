package graft

import scala.reflect.runtime.universe.TypeTag
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.udf

/** Single place that pins the session semantics the engine depends on.
  *
  * The reference warehouse (see SURVEY.md §1.2, §2.8) relies on
  * PostgreSQL's lenient post-regex casts (`NULLIF(...)::INT` after a
  * `REGEXP_REPLACE` guard) — i.e. cast failures surface as NULL, never
  * as errors. Spark 4 defaults to ANSI mode (errors on bad cast), so we
  * switch it off and use `try_cast`-equivalent semantics engine-wide.
  *
  * Timezone is pinned UTC: reference `TIMESTAMP` columns are tz-naive
  * (dags/SQL/Bronze/DDL_BronzeTable.sql:42-43) and the DuckDB oracle
  * reads the same parquet with naive timestamps.
  *
  * Scale posture (100 TB target, tested on local[32]):
  *  - AQE on: runtime coalescing + skew-join splitting replaces hand
  *    tuning at each scale factor.
  *  - shuffle.partitions defaults to the local core count here; on a
  *    real cluster this is overridden per deployment (AQE coalesces
  *    down from a high initial number anyway).
  *  - autoBroadcastJoinThreshold left at default (10 MB): every dim in
  *    the star schema is tiny relative to the fact at any SF, so dim
  *    joins plan as broadcast-hash automatically; we additionally hint
  *    `broadcast()` where the optimizer lacks stats (freshly derived
  *    frames).
  *
  * Generated code: Spark compiles each distinct piece of generated
  * Java once and keeps the class in one JVM-wide cache of
  * `spark.sql.codegen.cache.maxEntries` entries, 100 by default. A
  * driver compile and an executor compile of the same code are two
  * entries. One day of the churn warehouse (nightly, reprocess, export,
  * and a store merge with its reads) compiles about 270 classes, 194
  * of them in the nightly. At 100 entries each day evicted the classes
  * of the day before, and every nightly paid 2.7–3.1 s of compilation
  * again. The cache holds 1000 entries: more than three such days, so
  * a long-lived process compiles the nightly once, with room left for
  * one-off classes such as a store range read's bounds. Measured after
  * two passes over the 39 registry store and SQL gates (748 distinct
  * classes, all kept), it held 4.4 MB more metaspace than a 100-entry
  * cache, about 7 KB a class, and 4.8 MB less JIT code, having
  * compiled 748 classes instead of 1962. The setting is static, and
  * the cache is built at the JVM's first compile, so it takes effect
  * through the first session a JVM builds. [[constant]] keeps per-run
  * values out of the generated code, so a run's classes are the last
  * run's.
  */
object GraftSession {

  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  /** Apply graft semantics to an existing builder (Verify/Bench own
    * their master/memory settings; semantics must never diverge). */
  def tune(b: SparkSession.Builder): SparkSession.Builder = b
    // SQL names for the native graft expressions (word_shingles,
    // simhash_bits, hyperplane_buckets, nearest_centroid)
    .config("spark.sql.extensions", "graft.functions.GraftExtensions")
    .config("spark.sql.ansi.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.parquet.int96RebaseModeInWrite", "CORRECTED")
    .config("spark.sql.parquet.datetimeRebaseModeInWrite", "CORRECTED")
    // the events table ships TIMESTAMP(NANOS) parquet, which the
    // vectorized reader rejects outright; read as epoch-nanos longs
    // and let Tables.events convert to a micros timestamp.
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    // a day of generated classes with room to spare (see above)
    .config("spark.sql.codegen.cache.maxEntries", "1000")

  /** A per-run constant (a load instant, a run date) as a column whose
    * generated code reads the value from the generated class's
    * references. Spark writes date, timestamp and long literals into
    * the Java source itself, so a stage that differs from the last run
    * only by such a literal compiles anew each run; through this
    * column it is the same cached class. The optimizer does not fold
    * it: it is for projected and compared values, not for predicates a
    * scan should push down. */
  private[graft] def constant[T: TypeTag](value: T): Column =
    udf(() => value).asNonNullable()()

  def local(appName: String = "graft"): SparkSession = {
    val s = tune(
      SparkSession.builder()
        .master(s"local[$cpus]")
        .appName(appName)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.ui.enabled", "false")
    ).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
