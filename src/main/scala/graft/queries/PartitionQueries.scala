package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{GreaterThanOrEqual, In,
  LessThanOrEqual, StringStartsWith}
import org.apache.spark.sql.types.DecimalType
import graft.Tables
import graft.ops.Partitioned

/** Run-date partition pruning — SURVEY.md §2.2 P10.
  *
  * The reference fact queries filter `WHERE f.run_date = %(run_date)s`
  * (dags/ml_churn_pipeline.py:153). Here the fact is WRITTEN
  * partitioned by run month and the slice read prunes at planning time
  * (PartitionFilters — asserted structurally in PruningSpec; this
  * query verifies the VALUES that flow through the pruned scan).
  */
object PartitionQueries extends QueryPack {

  private def fixturePath(d: String): String =
    s"/tmp/graft_fixtures/fact_part_${new java.io.File(d).getName}/fact"

  /** Max of a LONG column, 0 on an empty table — the degenerate-sweep
    * contract: store-gate fixtures still build (empty commits) and the
    * query returns a well-typed empty result instead of a null-scalar
    * crash on a zero-row corpus. */
  private def maxOrZero(df: org.apache.spark.sql.DataFrame,
                        c: String): Long = {
    val r = df.agg(max(col(c))).collect()(0)
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  /** Multiset equality in ONE pass — the gate requires used to spell
    * this `a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty`: two
    * actions, each scanning both sides and aggregating (Spark rewrites
    * exceptAll to union+aggregate). Equality of the two multisets is
    * exactly "no row whose tagged counts differ", one union + one
    * aggregate + one action. The property enforced is unchanged:
    * same rows, same multiplicities, both directions. */
  private def sameRows(a: org.apache.spark.sql.DataFrame,
                       b: org.apache.spark.sql.DataFrame): Boolean = {
    val cols = a.columns.toSeq
    a.withColumn("__d", lit(1L))
      .unionByName(b.select(cols.map(col): _*).withColumn("__d", lit(-1L)))
      .groupBy(cols.map(col): _*)
      .agg(sum(col("__d")).as("__d"))
      .where(col("__d") =!= 0L)
      .isEmpty
  }

  /** Schema version of the fixture projection — bump when the fact
    * columns below change so stale fixtures rebuild. */
  private val FixtureVersion = 2

  /** Idempotent fixture ensure (shared [[Fixtures]] protocol): write
    * the run-month-partitioned fact once per sf dir. Bench calls this
    * untimed via `prepare`; the query body calls it too so
    * Verify/standalone runs stay self-sufficient. */
  private def ensureFixture(s: org.apache.spark.sql.SparkSession,
                            d: String): Unit = {
    val path = fixturePath(d)
    val fingerprint = s"v$FixtureVersion:" +
      Fixtures.sourceStamp(s, s"$d/orders.parquet")
    Fixtures.ensure(s, path, fingerprint) {
      val fact = Tables.orders(s, d).select(
        col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
        date_format(col("o_orderdate"), "yyyy-MM").as("run_month"))
      Partitioned.writeBy(fact, path, "run_month")
    }
  }

  val runMonthPruning = GQuery(
    "q_runmonth_pruning",
    (s, d) => {
      ensureFixture(s, d)
      Partitioned.readSlice(s, fixturePath(d), "run_month", "1995-03")
        .groupBy("o_orderstatus")
        .agg(
          count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(DecimalType(18, 4))).cast("double")
            .as("total_price"))
        .orderBy("o_orderstatus")
    },
    Some("""
      SELECT o_orderstatus,
             COUNT(*) AS n_orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
               AS total_price
      FROM orders
      WHERE strftime(o_orderdate, '%Y-%m') = '1995-03'
      GROUP BY o_orderstatus
      ORDER BY o_orderstatus
    """),
    prepare = Some(ensureFixture))

  /** Cut-off for the retention gate: everything before July 1995
    * expires, the rest survives — a mid-corpus bound so both sides
    * are non-trivial at every SF. */
  private val RetainFrom = "1995-07"

  /** Retention expiry ([[Partitioned.expireSlices]]): write a
    * run-month-partitioned fact into a PER-RUN temp store (never the
    * shared pruning fixture — expiry deletes directories), expire
    * months below [[RetainFrom]], then aggregate what the store still
    * READS BACK per month. The oracle computes the same from the
    * source with the retention predicate — so the gate proves the
    * expired directories are actually gone from disk AND the
    * survivors are untouched, value-exactly. Eager: the store write,
    * the dry-run plan, and the expiry all run at construction; the
    * dry-run manifest is asserted in MaintenanceSpec. */
  val retentionExpire = GQuery(
    "q_retention_expire",
    (s, d) => {
      val store = graft.TempRoots
        .create("graft_retention") + "/fact"
      val fact = Tables.orders(s, d).select(
        col("o_orderkey"), col("o_totalprice"),
        date_format(col("o_orderdate"), "yyyy-MM").as("run_month"))
      Partitioned.writeBy(fact, store, "run_month")
      // zero-row source: no partitions to expire, empty result — the
      // store still reads (schema anchored by writeBy)
      Partitioned.expireSlices(s, store, "run_month", keepFrom = RetainFrom)
      s.read.parquet(store)
        .groupBy("run_month")
        .agg(
          count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(DecimalType(18, 4))).cast("double")
            .as("total_price"))
        .orderBy("run_month")
    },
    Some(s"""
      SELECT strftime(o_orderdate, '%Y-%m') AS run_month,
             COUNT(*) AS n_orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
               AS total_price
      FROM orders
      WHERE strftime(o_orderdate, '%Y-%m') >= '$RetainFrom'
      GROUP BY 1
      ORDER BY 1
    """),
    eager = true)

  /** Versioned-store time travel ([[graft.ops.TableStore]]): four
    * commits against a per-run store — two appends, an overwrite, a
    * compaction — then EVERY version is snapshot-read back and
    * digested. The oracle states each version's logical content as a
    * predicate over the source table, so the gate pins: append
    * accumulation (v2 = v1 + batch), snapshot isolation (v2 read
    * AFTER the overwrite removed its files from the live set),
    * overwrite semantics (v3 = only the new slice), and
    * content-preserving compaction (v4 ≡ v3 through different
    * files). Reads resolve files from the commit log, never an FS
    * walk — the 100 TB read path. */
  val timeTravel = GQuery(
    "q_time_travel",
    (s, d) => {
      val root = graft.TempRoots
        .create("graft_tstore") + "/orders"
      val src = Tables.orders(s, d)
        .select("o_orderkey", "o_orderdate", "o_totalprice")
      graft.ops.TableStore.append(
        src.where(col("o_orderdate") < "1996-01-01"), root)
      graft.ops.TableStore.append(
        src.where(col("o_orderdate") >= "1996-01-01" &&
          col("o_orderdate") < "1998-01-01"), root)
      graft.ops.TableStore.overwrite(
        src.where(col("o_orderdate") >= "1998-01-01"), root)
      graft.ops.TableStore.compact(s, root, targetBytes = 64L << 20)
      (1L to 4L).map { v =>
        graft.ops.TableStore.read(s, root, Some(v))
          .agg(
            lit(v).as("version"),
            count(lit(1)).as("n_orders"),
            sum(col("o_totalprice").cast(DecimalType(18, 4)))
              .cast("double").as("total_price"),
            min("o_orderkey").as("min_key"),
            max("o_orderkey").as("max_key"))
          .select("version", "n_orders", "total_price",
            "min_key", "max_key")
      }.reduce(_ unionAll _).orderBy("version")
    },
    Some("""
      WITH digest AS (
        SELECT v.version,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
                 AS total_price,
               MIN(o_orderkey) AS min_key,
               MAX(o_orderkey) AS max_key
        FROM (VALUES (1), (2), (3), (4)) v(version)
        JOIN orders ON CASE
          WHEN v.version = 1 THEN o_orderdate < DATE '1996-01-01'
          WHEN v.version = 2 THEN o_orderdate < DATE '1998-01-01'
          ELSE o_orderdate >= DATE '1998-01-01' END
        GROUP BY v.version)
      SELECT CAST(version AS BIGINT) AS version, n_orders,
             total_price, min_key, max_key
      FROM digest ORDER BY version
    """),
    eager = true)

  /** Copy-on-write row deletion ([[graft.ops.Dml.delete]])
    * — the right-to-be-forgotten path: three key-ranged appends, then
    * delete o_orderkey ∈ [500, 1500]; the footer-stats prune
    * guarantees only the first commit's files get rewritten (spec
    * asserts the skip structurally; this gate verifies the VALUES).
    * Output digests the snapshot before and after the delete — the
    * oracle states both from the source, pinning that exactly the
    * predicate's rows vanished from the latest version while the
    * pre-delete snapshot still carries them. */
  val rowDelete = GQuery(
    "q_row_delete",
    (s, d) => {
      val root = graft.TempRoots
        .create("graft_tsdel") + "/orders"
      val src = Tables.orders(s, d)
        .select("o_orderkey", "o_orderdate", "o_totalprice")
      graft.ops.TableStore.append(
        src.where(col("o_orderkey") < 5000L), root)
      graft.ops.TableStore.append(
        src.where(col("o_orderkey") >= 5000L &&
          col("o_orderkey") < 10000L), root)
      graft.ops.TableStore.append(
        src.where(col("o_orderkey") >= 10000L), root)
      val vDel = graft.ops.Dml.delete(s, root,
        col("o_orderkey").between(500L, 1500L))
      Seq(("before", vDel - 1), ("after", vDel)).map { case (tag, v) =>
        graft.ops.TableStore.read(s, root, Some(v))
          .agg(
            lit(tag).as("snapshot"),
            count(lit(1)).as("n_orders"),
            sum(col("o_totalprice").cast(DecimalType(18, 4)))
              .cast("double").as("total_price"),
            min("o_orderkey").as("min_key"),
            max("o_orderkey").as("max_key"))
          .select("snapshot", "n_orders", "total_price",
            "min_key", "max_key")
      }.reduce(_ unionAll _).orderBy("snapshot")
    },
    Some("""
      SELECT 'after' AS snapshot, COUNT(*) AS n_orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
               AS total_price,
             MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
      FROM orders WHERE o_orderkey NOT BETWEEN 500 AND 1500
      UNION ALL
      SELECT 'before', COUNT(*),
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE),
             MIN(o_orderkey), MAX(o_orderkey)
      FROM orders
      ORDER BY snapshot
    """),
    eager = true)

  /** Manifest-pruned range read ([[graft.ops.TableStore.readRange]]):
    * three key-ranged single-file commits, then a point probe
    * [500, 1500] that lies inside the FIRST commit's key range at
    * every SF. The digest carries the values AND the skipping
    * economics: files_touched = 1 (only commit 1 can contain the
    * probe) out of files_total = the non-empty commits — the oracle
    * derives both counts from the data (a commit is a file exactly
    * when its key slice is non-empty), so a broken prune that opens
    * everything, or a prune that silently drops a matching file,
    * fails the same hash compare as a wrong sum. The commits
    * declare statsCols, so the prune answers from the COMMIT LOG
    * alone — zero per-file IO, the shape that survives a
    * million-file table. */
  val storeSkipping = GQuery(
    "q_store_skipping",
    (s, d) => {
      val root = graft.TempRoots
        .create("graft_tsread") + "/orders"
      val src = Tables.orders(s, d)
        .select("o_orderkey", "o_orderdate", "o_totalprice")
      graft.ops.TableStore.append(
        src.where(col("o_orderkey") < 5000L).coalesce(1), root,
        statsCols = Seq("o_orderkey"))
      graft.ops.TableStore.append(
        src.where(col("o_orderkey") >= 5000L &&
          col("o_orderkey") < 10000L).coalesce(1), root,
        statsCols = Seq("o_orderkey"))
      graft.ops.TableStore.append(
        src.where(col("o_orderkey") >= 10000L).coalesce(1), root,
        statsCols = Seq("o_orderkey"))
      val (probe, touched, total) = graft.ops.TableStore.readRange(
        s, root, "o_orderkey", 500L, 1500L)
      probe.agg(
          count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(DecimalType(18, 4)))
            .cast("double").as("total_price"),
          min("o_orderkey").as("min_key"),
          max("o_orderkey").as("max_key"))
        .withColumn("files_touched", lit(touched.toLong))
        .withColumn("files_total", lit(total.toLong))
        .select("n_orders", "total_price", "min_key", "max_key",
          "files_touched", "files_total")
    },
    Some("""
      SELECT COUNT(*) AS n_orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
               AS total_price,
             MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key,
             CAST(1 AS BIGINT) AS files_touched,
             (SELECT CAST(1
                + CASE WHEN count(*) FILTER (WHERE o_orderkey >= 5000
                    AND o_orderkey < 10000) > 0 THEN 1 ELSE 0 END
                + CASE WHEN count(*) FILTER (WHERE o_orderkey >= 10000)
                    > 0 THEN 1 ELSE 0 END AS BIGINT)
              FROM orders) AS files_total
      FROM orders WHERE o_orderkey BETWEEN 500 AND 1500
    """),
    eager = true)

  /** Version-to-version change feed: two store versions (an append,
    * then an overwrite that drops a date slice, adds a newer one,
    * and reprices every 10th overlapping order) diffed with
    * [[graft.ops.CorpusDiff]] into the added/removed/changed/
    * unchanged rollup with membership id-sums. The oracle replays
    * both version definitions straight from the source — so the
    * snapshot reads AND the diff classification gate together.
    * Prices compare as integer cents (the repo's no-floats-in-
    * gate-outputs arithmetic contract). */
  val versionDiff = GQuery(
    "q_version_diff",
    (s, d) => {
      val root = graft.TempRoots
        .create("graft_tsdiff") + "/orders"
      val src = Tables.orders(s, d).select(
        col("o_orderkey"), col("o_orderdate"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      graft.ops.TableStore.append(
        src.where(col("o_orderdate") < "1996-07-01"), root)
      graft.ops.TableStore.overwrite(
        src.where(col("o_orderdate") >= "1995-07-01")
          .withColumn("cents",
            when(col("o_orderkey") % 10 === 0, col("cents") * 2)
              .otherwise(col("cents"))), root)
      def snap(v: Long) = graft.ops.TableStore.read(s, root, Some(v))
        .withColumn("content", concat(
          col("o_orderdate").cast("string"), lit(":"),
          col("cents").cast("string")))
      graft.ops.CorpusDiff.summarize(
          graft.ops.CorpusDiff.diff(snap(1L), snap(2L),
            "o_orderkey", "content"), "o_orderkey")
        .orderBy("status")
    },
    Some(s"""
      ${graft.ops.CorpusDiff.summarizeSql(
        """SELECT o_orderkey,
             CAST(o_orderdate AS VARCHAR) || ':' ||
             CAST(CAST(round(o_totalprice*100) AS BIGINT) AS VARCHAR)
               AS content
           FROM orders WHERE o_orderdate < DATE '1996-07-01'""",
        """SELECT o_orderkey,
             CAST(o_orderdate AS VARCHAR) || ':' ||
             CAST(CASE WHEN o_orderkey % 10 = 0
                  THEN 2*CAST(round(o_totalprice*100) AS BIGINT)
                  ELSE CAST(round(o_totalprice*100) AS BIGINT) END
               AS VARCHAR) AS content
           FROM orders WHERE o_orderdate >= DATE '1995-07-01'""",
        "o_orderkey", "content")}
      ORDER BY status
    """),
    eager = true)

  /** Layout OPTIMIZE under snapshot isolation
    * ([[graft.ops.TableStore.optimizeLayout]]): three round-robin
    * appends leave every file spanning the whole key space, so a
    * point probe must open all of them; the optimize commit
    * range-clusters the live set, after which the same probe opens
    * at most two files (a sampled range boundary can split one
    * interval). The oracle pins CONTENT preservation — identical
    * digests before and after, both equal to the source predicate —
    * while the probe economics are enforced loudly inside the body
    * (`require(after < before)`) and pinned deterministically in
    * TableStoreSpec; a broken rewrite fails the hash compare, a
    * broken prune fails the run. */
  val storeOptimize = GQuery(
    "q_store_optimize",
    (s, d) => {
      val root = graft.TempRoots
        .create("graft_tsopt") + "/orders"
      val src = Tables.orders(s, d)
        .select("o_orderkey", "o_orderdate", "o_totalprice")
      (0L until 3L).foreach { i =>
        graft.ops.TableStore.append(
          src.where(col("o_orderkey") % 3 === i).coalesce(1), root,
          statsCols = Seq("o_orderkey"))
      }
      val (_, tBefore, totBefore) = graft.ops.TableStore.readRange(
        s, root, "o_orderkey", 500L, 1500L)
      require(tBefore == totBefore,
        s"round-robin commits must all overlap the probe: $tBefore/$totBefore")
      val vOpt = graft.ops.TableStore.optimizeLayout(
        s, root, "o_orderkey", targetBytes = 64L << 10)
      val (_, tAfter, _) = graft.ops.TableStore.readRange(
        s, root, "o_orderkey", 500L, 1500L)
      // the economics claim needs files to exist — a zero-row corpus
      // optimizes an empty table (no-action commit, nothing to probe)
      require(totBefore == 0 || (tAfter <= 2 && tAfter < tBefore),
        s"clustered probe must open <= 2 files, got $tAfter (before $tBefore)")
      Seq(("before", vOpt - 1), ("after", vOpt)).map { case (tag, v) =>
        graft.ops.TableStore.read(s, root, Some(v))
          .where(col("o_orderkey").between(500L, 1500L))
          .agg(
            lit(tag).as("phase"),
            count(lit(1)).as("n_orders"),
            sum(col("o_totalprice").cast(DecimalType(18, 4)))
              .cast("double").as("total_price"),
            min("o_orderkey").as("min_key"),
            max("o_orderkey").as("max_key"))
          .select("phase", "n_orders", "total_price",
            "min_key", "max_key")
      }.reduce(_ unionAll _).orderBy("phase")
    },
    Some("""
      SELECT p.phase, COUNT(*) AS n_orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
               AS total_price,
             MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
      FROM (VALUES ('before'), ('after')) p(phase)
      JOIN orders ON o_orderkey BETWEEN 500 AND 1500
      GROUP BY p.phase ORDER BY p.phase
    """),
    eager = true)

  /** Multi-dimensional store OPTIMIZE
    * ([[graft.ops.TableStore.optimizeLayoutCurve]] — Z-ORDER's
    * semantics via the Hilbert curve): three round-robin appends make
    * every file span BOTH key dimensions, so a box probe tight only
    * in yk (xk unconstrained) touches every file; the curve-optimize
    * commit rewrites the live set Hilbert-clustered on (xk, yk),
    * after which the files' per-column ranges are compact in both
    * dims at once and the SAME box probe ([[graft.ops.TableStore
    * .readWhere]] over both columns — plain per-column stats, the
    * curve key is never persisted) skips most files. Economics are enforced loudly in
    * the body; the oracle pins CONTENT invariance across the rewrite
    * — both phases must equal the source box digest. */
  val storeOptimizeCurve = GQuery(
    "q_store_optimize_curve",
    (s, d) => {
      val root = graft.TempRoots
        .create("graft_tsopt2") + "/orders"
      val src = Tables.orders(s, d).select(
        col("o_orderkey"),
        (col("o_orderkey") % 256).as("xk"),
        (col("o_custkey") % 256).as("yk"),
        col("o_totalprice"))
      (0L until 3L).foreach { i =>
        graft.ops.TableStore.append(
          src.where(col("o_orderkey") % 3 === i).coalesce(1), root,
          statsCols = Seq("xk", "yk"))
      }
      val box = Seq(GreaterThanOrEqual("xk", 0L), LessThanOrEqual("xk", 255L),
        GreaterThanOrEqual("yk", 16L), LessThanOrEqual("yk", 47L))
      val (_, tBefore, totBefore) =
        graft.ops.TableStore.readWhere(s, root, box)
      require(tBefore == totBefore,
        s"round-robin commits must all overlap the box: $tBefore/$totBefore")
      // ~8 output files at ANY scale factor: size the target from the
      // store's actual bytes so the probe economics stay comparable
      // across the sf0.01 gate and the sf1/sf10 stamps
      def du(f: java.io.File): Long =
        if (f.isFile) f.length
        else Option(f.listFiles).map(_.map(du).sum).getOrElse(0L)
      // floor low enough that even the sf0.001 smoke store splits
      // into enough files for the fraction check to be satisfiable
      val targetBytes =
        math.max(4L << 10, du(new java.io.File(s"$root/data")) / 8)
      val vOpt = graft.ops.TableStore.optimizeLayoutCurve(
        s, root, "xk", "yk", bits = 8, targetBytes = targetBytes)
      val (_, tAfter, totAfter) =
        graft.ops.TableStore.readWhere(s, root, box)
      // economics by FRACTION of the live set, not absolute count —
      // the optimize produces more, smaller files, so touching 3 of 8
      // beats touching 3 of 3
      require(totBefore == 0 ||
        (totAfter > 2 && tAfter < totAfter &&
          tAfter.toLong * totBefore < tBefore.toLong * totAfter),
        s"curve-clustered box probe must skip a larger fraction: " +
          s"$tAfter/$totAfter (before $tBefore/$totBefore)")
      Seq(("before", vOpt - 1), ("after", vOpt)).map { case (tag, v) =>
        graft.ops.TableStore.readWhere(s, root, box, Some(v))._1
          .agg(
            lit(tag).as("phase"),
            count(lit(1)).as("n_orders"),
            sum(col("o_totalprice").cast(DecimalType(18, 4)))
              .cast("double").as("total_price"),
            min("o_orderkey").as("min_key"),
            max("o_orderkey").as("max_key"))
          .select("phase", "n_orders", "total_price",
            "min_key", "max_key")
      }.reduce(_ unionAll _).orderBy("phase")
    },
    Some("""
      SELECT p.phase, COUNT(*) AS n_orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
               AS total_price,
             MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
      FROM (VALUES ('before'), ('after')) p(phase)
      JOIN orders ON (o_custkey % 256) BETWEEN 16 AND 47
      GROUP BY p.phase ORDER BY p.phase
    """),
    eager = true)

  /** The store as an incremental batch source
    * ([[graft.ops.TableStore.readChangesSince]]): three key-ranged
    * appends, a compaction (content-identical layout commit), then a
    * fourth append — the change feed since version 1 must surface
    * exactly versions 2, 3→skipped, and 5's rows, each tagged with
    * its commit version, with the compaction's re-added old rows NOT
    * reappearing (the double-processing a naive adds feed would
    * cause on every maintenance tick). The oracle restates each
    * surfaced version's content from the source predicates. */
  val storeChanges = GQuery(
    "q_store_changes",
    (s, d) => {
      val root = graft.TempRoots
        .create("graft_tscdc") + "/orders"
      val src = Tables.orders(s, d)
        .select("o_orderkey", "o_totalprice")
      graft.ops.TableStore.append(
        src.where(col("o_orderkey") % 3 === 0), root)   // v1
      graft.ops.TableStore.append(
        src.where(col("o_orderkey") % 3 === 1), root)   // v2
      graft.ops.TableStore.compact(s, root, 64L << 20)  // v3 layout
      graft.ops.TableStore.append(
        src.where(col("o_orderkey") % 3 === 2), root)   // v4
      graft.ops.TableStore.readChangesSince(s, root, sinceVersion = 1L)
        .groupBy(col("_commit_version").as("commit_version"))
        .agg(
          count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(DecimalType(18, 4)))
            .cast("double").as("total_price"),
          min("o_orderkey").as("min_key"),
          max("o_orderkey").as("max_key"))
        .orderBy("commit_version")
    },
    Some("""
      SELECT v.cv AS commit_version, COUNT(*) AS n_orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
               AS total_price,
             MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
      FROM (VALUES (CAST(2 AS BIGINT)), (CAST(4 AS BIGINT))) v(cv)
      JOIN orders ON (v.cv = 2 AND o_orderkey % 3 = 1)
                  OR (v.cv = 4 AND o_orderkey % 3 = 2)
      GROUP BY v.cv ORDER BY commit_version
    """),
    eager = true)

  /** String-key bloom point lookups
    * ([[graft.ops.TableStore.pointLookupString]]): documents keyed by
    * a derived string id land in three bloom-indexed commits split by
    * doc_id range — every probe key lives in ONE commit's file, so
    * the bloom walk must answer from a strict subset of the live set
    * (enforced loudly; integer range stats cannot exist for strings,
    * so blooms are the only thing standing between a point probe and
    * a full-table read). The oracle recomputes the probed rows from
    * the source by the same key derivation. */
  val storePointLookupStr = GQuery(
    "q_store_pointlookup_str",
    (s, d) => {
      val root = graft.TempRoots
        .create("graft_tspls") + "/docs"
      val src = Tables.documents(s, d).select(
        concat(lit("doc:"), col("doc_id").cast("string")).as("k"),
        col("doc_id"), length(col("text")).cast("long").as("text_len"))
      val n = maxOrZero(src, "doc_id")
      (0L until 3L).foreach { i =>
        graft.ops.TableStore.append(
          src.where(col("doc_id") % 3 === i).coalesce(1), root,
          bloomCols = Seq("k"))
      }
      // probe ids forced into ONE residue class (≡ 0 mod 3), so at
      // any scale factor exactly one commit can hold them and the
      // skip assertion below is satisfiable by construction — the
      // raw n/m ids can land in all three classes at some SFs
      val probes = Seq(3L, 6L, 9L)
        .map(m => n / m - (n / m % 3)).distinct.map(v => s"doc:$v")
      val (df, touched, total) = graft.ops.TableStore.pointLookupString(
        s, root, "k", probes)
      require(total == 0 || touched < total,
        s"string blooms must skip at least one commit: $touched/$total")
      df.select("k", "doc_id", "text_len").orderBy("doc_id")
    },
    Some("""
      WITH n AS (SELECT MAX(doc_id) AS m FROM documents)
      SELECT 'doc:' || CAST(doc_id AS VARCHAR) AS k, doc_id,
             CAST(LENGTH(text) AS BIGINT) AS text_len
      FROM documents, n
      WHERE doc_id IN ((n.m // 3) - ((n.m // 3) % 3),
                       (n.m // 6) - ((n.m // 6) % 3),
                       (n.m // 9) - ((n.m // 9) % 3))
      ORDER BY doc_id
    """),
    eager = true)

  /** Log-carried STRING bounds (a [[graft.ops.TableStore.readWhere]]
    * prefix probe):
    * documents keyed by a `domNN/doc_id` string land in four commits
    * clustered by domain — the natural shape of a URL-keyed corpus
    * ingested crawl-by-crawl. A domain-prefix probe must answer from
    * a strict subset of the live set using ONLY the truncated string
    * [min, max] riding in the commit log (zero file IO — integer
    * range stats cannot exist for string keys). The oracle recomputes
    * the domain's rows from the source by the same key derivation. */
  val storePrefixScan = GQuery(
    "q_store_prefix_scan",
    (s, d) => {
      val root = graft.TempRoots
        .create("graft_tspfx") + "/docs"
      val src = Tables.documents(s, d).select(
        concat(lit("dom"),
          lpad((col("doc_id") % 8).cast("string"), 2, "0"),
          lit("/"), col("doc_id").cast("string")).as("k"),
        col("doc_id"), length(col("text")).cast("long").as("text_len"))
      (0L until 4L).foreach { i =>
        graft.ops.TableStore.append(
          src.where(col("doc_id") % 8 === 2 * i ||
            col("doc_id") % 8 === 2 * i + 1).coalesce(1), root,
          statsCols = Seq("k"))
      }
      val (df, touched, total) = graft.ops.TableStore.readWhere(
        s, root, Seq(StringStartsWith("k", "dom03/")))
      require(total == 0 || touched < total,
        s"string log bounds must skip at least one commit: $touched/$total")
      df.select("k", "doc_id", "text_len").orderBy("doc_id")
    },
    Some("""
      SELECT 'dom' || lpad(CAST(doc_id % 8 AS VARCHAR), 2, '0') ||
             '/' || CAST(doc_id AS VARCHAR) AS k, doc_id,
             CAST(LENGTH(text) AS BIGINT) AS text_len
      FROM documents
      WHERE doc_id % 8 = 3
      ORDER BY doc_id
    """),
    eager = true)

  /** Copy-on-write MERGE ([[graft.ops.TableStore.merge]]): orders land
    * in four key-ranged commits; a CDC batch doubles the price of
    * every tenth key in the FIRST quartile and inserts brand-new keys
    * above the table's range. The upsert must rewrite a strict subset
    * of the files (enforced in-body — the whole point of merge over
    * overwrite-with-join is that the rewrite is proportional to the
    * change), and the merged content must hash-match the oracle's
    * UNION-reconstruction of the same upsert. */
  val storeMerge = GQuery(
    "q_store_merge",
    (s, d) => {
      val root = graft.TempRoots
        .create("graft_tsmrg") + "/orders"
      val src = Tables.orders(s, d).select(
        col("o_orderkey"), col("o_custkey"),
        col("o_totalprice"), col("o_orderstatus"))
      val mx = maxOrZero(src, "o_orderkey")
      val qq = mx / 4 + 1
      (0L until 4L).foreach { i =>
        graft.ops.TableStore.append(
          src.where(col("o_orderkey") >= i * qq &&
            col("o_orderkey") < (i + 1) * qq).coalesce(1), root,
          statsCols = Seq("o_orderkey"))
      }
      val upd = src
        .where(col("o_orderkey") < qq && col("o_orderkey") % 10 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
        .unionByName(src.where(col("o_orderkey") % 1000 === 1)
          .select((col("o_orderkey") + 2L * mx).as("o_orderkey"),
            col("o_custkey"), col("o_totalprice"),
            lit("X").as("o_orderstatus")))
      val v = graft.ops.TableStore.merge(upd, root, "o_orderkey",
        statsCols = Seq("o_orderkey"))
      val removed = graft.ops.TableStore.history(s, root)
        .where(col("version") === v).collect()(0)
        .getAs[Long]("n_removed")
      require(removed < 4,
        s"merge must rewrite a strict subset of files: $removed/4")
      graft.ops.TableStore.read(s, root)
        .groupBy((col("o_orderkey") % 8).as("bucket"))
        .agg(count(lit(1)).as("n_orders"),
          graft.ops.Exact.fixedSum(col("o_totalprice"), 2)
            .as("total_price"),
          sum("o_orderkey").as("sum_key"))
        .orderBy("bucket")
    },
    Some(s"""
      WITH m AS (SELECT MAX(o_orderkey) AS mx FROM orders),
      upd AS (
        SELECT o_orderkey, o_custkey,
               o_totalprice * 2 AS o_totalprice, o_orderstatus
        FROM orders, m
        WHERE o_orderkey < (m.mx // 4 + 1) AND o_orderkey % 10 = 0
        UNION ALL
        SELECT o_orderkey + 2 * m.mx, o_custkey, o_totalprice, 'X'
        FROM orders, m WHERE o_orderkey % 1000 = 1
      ),
      merged AS (
        SELECT * FROM upd
        UNION ALL
        SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
        FROM orders
        WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
      )
      SELECT o_orderkey % 8 AS bucket, COUNT(*) AS n_orders,
             ${graft.ops.Exact.fixedSumSql("o_totalprice", 2)}
               AS total_price,
             CAST(SUM(o_orderkey) AS BIGINT) AS sum_key
      FROM merged GROUP BY 1 ORDER BY 1
    """),
    eager = true)

  /** CDC apply ([[graft.ops.TableStore.applyChanges]]) — the consumer
    * side of the change feed: one batch carrying upserts (price
    * doubles, brand-new keys) AND deletes (every key ≡ 5 mod 10 in
    * the first quartile) lands in ONE commit whose rewrite must stay
    * a strict subset of the files. The oracle reconstructs the same
    * apply with a UNION + NOT IN over the source. */
  val storeCdcApply = GQuery(
    "q_store_cdc_apply",
    (s, d) => {
      val root = graft.TempRoots
        .create("graft_tscdc") + "/orders"
      val src = Tables.orders(s, d).select(
        col("o_orderkey"), col("o_custkey"),
        col("o_totalprice"), col("o_orderstatus"))
      val mx = maxOrZero(src, "o_orderkey")
      val qq = mx / 4 + 1
      (0L until 4L).foreach { i =>
        graft.ops.TableStore.append(
          src.where(col("o_orderkey") >= i * qq &&
            col("o_orderkey") < (i + 1) * qq).coalesce(1), root,
          statsCols = Seq("o_orderkey"))
      }
      val chg = src
        .where(col("o_orderkey") < qq && col("o_orderkey") % 10 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
        .withColumn("_op", lit("upsert"))
        .unionByName(src
          .where(col("o_orderkey") < qq && col("o_orderkey") % 10 === 5)
          .withColumn("_op", lit("delete")))
        .unionByName(src.where(col("o_orderkey") % 1000 === 1)
          .select((col("o_orderkey") + 2L * mx).as("o_orderkey"),
            col("o_custkey"), col("o_totalprice"),
            lit("X").as("o_orderstatus"), lit("upsert").as("_op")))
      val v = graft.ops.TableStore.applyChanges(chg, root, "o_orderkey",
        statsCols = Seq("o_orderkey"))
      val removed = graft.ops.TableStore.history(s, root)
        .where(col("version") === v).collect()(0)
        .getAs[Long]("n_removed")
      require(removed < 4,
        s"CDC apply must rewrite a strict subset of files: $removed/4")
      graft.ops.TableStore.read(s, root)
        .groupBy((col("o_orderkey") % 8).as("bucket"))
        .agg(count(lit(1)).as("n_orders"),
          graft.ops.Exact.fixedSum(col("o_totalprice"), 2)
            .as("total_price"),
          sum("o_orderkey").as("sum_key"))
        .orderBy("bucket")
    },
    Some(s"""
      WITH m AS (SELECT MAX(o_orderkey) AS mx FROM orders),
      chg AS (
        SELECT o_orderkey, o_custkey,
               o_totalprice * 2 AS o_totalprice, o_orderstatus,
               'upsert' AS op
        FROM orders, m
        WHERE o_orderkey < (m.mx // 4 + 1) AND o_orderkey % 10 = 0
        UNION ALL
        SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus,
               'delete'
        FROM orders, m
        WHERE o_orderkey < (m.mx // 4 + 1) AND o_orderkey % 10 = 5
        UNION ALL
        SELECT o_orderkey + 2 * m.mx, o_custkey, o_totalprice, 'X',
               'upsert'
        FROM orders, m WHERE o_orderkey % 1000 = 1
      ),
      merged AS (
        SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
        FROM chg WHERE op = 'upsert'
        UNION ALL
        SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
        FROM orders
        WHERE o_orderkey NOT IN (SELECT o_orderkey FROM chg)
      )
      SELECT o_orderkey % 8 AS bucket, COUNT(*) AS n_orders,
             ${graft.ops.Exact.fixedSumSql("o_totalprice", 2)}
               AS total_price,
             CAST(SUM(o_orderkey) AS BIGINT) AS sum_key
      FROM merged GROUP BY 1 ORDER BY 1
    """),
    eager = true)

  /** Change-feed ROUND TRIP ([[graft.ops.TableStore.readRowChanges]]
    * → [[graft.ops.TableStore.netChanges]] →
    * [[graft.ops.TableStore.applyChanges]]): store A takes a merge
    * (repriced keys + past-range inserts) and a CDC batch (deletes +
    * restatused upserts); a mirror B, seeded from A's version 1, is
    * caught up purely from the row-level feed of A's changed files.
    * Exact A≡B equality is enforced in-body (multiset equality,
    * [[sameRows]]); the oracle independently reconstructs the final
    * state from the source, so the feed, the netting, AND the apply
    * all have to be right for the hash to match. */
  val storeMirror = GQuery(
    "q_store_mirror",
    (s, d) => {
      val rootA = graft.TempRoots.create("graft_tsmirA") + "/t"
      val rootB = graft.TempRoots.create("graft_tsmirB") + "/t"
      val src = Tables.orders(s, d).select(col("o_orderkey"),
        round(col("o_totalprice") * 100).cast("long").as("cents"),
        col("o_orderstatus"))
      val mx = maxOrZero(src, "o_orderkey")
      val base = src.where(col("o_orderkey") % 3 === 0)
      graft.ops.TableStore.append(base.coalesce(2), rootA,
        statsCols = Seq("o_orderkey"))
      graft.ops.TableStore.append(
        graft.ops.TableStore.read(s, rootA, Some(1L)), rootB)
      graft.ops.TableStore.merge(
        base.where(col("o_orderkey") % 30 === 0)
          .withColumn("cents", col("cents") * 2)
          .unionByName(src.where(col("o_orderkey") % 1000 === 1)
            .select((col("o_orderkey") + 2L * mx).as("o_orderkey"),
              col("cents"), lit("X").as("o_orderstatus"))),
        rootA, "o_orderkey", statsCols = Seq("o_orderkey"))
      graft.ops.TableStore.applyChanges(
        base.where(col("o_orderkey") % 30 === 6)
          .withColumn("_op", lit("delete"))
          .unionByName(base.where(col("o_orderkey") % 30 === 12)
            .withColumn("o_orderstatus", lit("U"))
            .withColumn("_op", lit("upsert"))),
        rootA, "o_orderkey", statsCols = Seq("o_orderkey"))
      val net = graft.ops.TableStore.netChanges(
        graft.ops.TableStore.readRowChanges(s, rootA, 1L), "o_orderkey")
      graft.ops.TableStore.applyChanges(net, rootB, "o_orderkey")
      // the apply was the feed's last consumer: release the blocks
      // netChanges' one-scan materialization pinned (the r7
      // session-residue posture)
      graft.ops.Checkpoints.release(net)
      val a = graft.ops.TableStore.read(s, rootA)
      val b = graft.ops.TableStore.read(s, rootB)
      require(sameRows(a, b),
        "mirror drifted from source after feed replay")
      b.groupBy((col("o_orderkey") % 8).as("bucket"))
        .agg(count(lit(1)).as("n_orders"),
          sum("cents").as("total_cents"),
          sum("o_orderkey").as("sum_key"))
        .orderBy("bucket")
    },
    Some("""
      WITH m AS (SELECT MAX(o_orderkey) AS mx FROM orders),
      base AS (
        SELECT o_orderkey,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
               o_orderstatus
        FROM orders WHERE o_orderkey % 3 = 0
      ),
      fin AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 30 = 0 THEN cents * 2
                    ELSE cents END AS cents,
               CASE WHEN o_orderkey % 30 = 12 THEN 'U'
                    ELSE o_orderstatus END AS o_orderstatus
        FROM base WHERE o_orderkey % 30 <> 6
        UNION ALL
        SELECT o_orderkey + 2 * m.mx,
               CAST(round(o_totalprice * 100) AS BIGINT), 'X'
        FROM orders, m WHERE o_orderkey % 1000 = 1
      )
      SELECT o_orderkey % 8 AS bucket, COUNT(*) AS n_orders,
             CAST(SUM(cents) AS BIGINT) AS total_cents,
             CAST(SUM(o_orderkey) AS BIGINT) AS sum_key
      FROM fin GROUP BY 1 ORDER BY 1
    """),
    eager = true)

  /** Zero-copy shallow clone
    * ([[graft.ops.TableStore.shallowClone]]): a documents store is
    * cloned with NO data movement (the clone's v1 re-references the
    * source's files absolutely), then a merge rewrites every tenth
    * doc ON THE CLONE. Source immutability is enforced in-body
    * (multiset equality against a fresh snapshot read); the oracle
    * recomputes the clone's merged content from the source table, so
    * the clone read path, carried stats, and the COW divergence all
    * gate together. */
  val storeClone = GQuery(
    "q_store_clone",
    (s, d) => {
      val src = graft.TempRoots.create("graft_tsclA") + "/docs"
      val dst = graft.TempRoots.create("graft_tsclB") + "/docs"
      val sdf = Tables.documents(s, d).select(
        col("doc_id"), length(col("text")).cast("long").as("text_len"))
      val n = maxOrZero(sdf, "doc_id")
      val third = n / 3 + 1
      (0L until 3L).foreach { i =>
        graft.ops.TableStore.append(
          sdf.where(col("doc_id") >= i * third &&
            col("doc_id") < (i + 1) * third).coalesce(1), src,
          statsCols = Seq("doc_id"))
      }
      graft.ops.TableStore.shallowClone(s, src, dst)
      graft.ops.TableStore.merge(
        sdf.where(col("doc_id") % 10 === 0)
          .withColumn("text_len", lit(-1L)),
        dst, "doc_id", statsCols = Seq("doc_id"))
      val srcNow = graft.ops.TableStore.read(s, src)
      require(sameRows(srcNow, sdf),
        "clone mutation leaked into the source store")
      graft.ops.TableStore.read(s, dst)
        .groupBy((col("doc_id") % 8).as("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          sum("text_len").as("sum_len"),
          sum("doc_id").as("sum_id"))
        .orderBy("bucket")
    },
    Some("""
      SELECT doc_id % 8 AS bucket, COUNT(*) AS n_docs,
             CAST(SUM(CASE WHEN doc_id % 10 = 0 THEN -1
                           ELSE LENGTH(text) END) AS BIGINT) AS sum_len,
             CAST(SUM(doc_id) AS BIGINT) AS sum_id
      FROM documents GROUP BY 1 ORDER BY 1
    """),
    eager = true)

  /** CHECK constraints ([[graft.ops.TableStore.addConstraint]]): the
    * reference's validity gates re-expressed as table-level
    * invariants — declared as a commit, enforced on every write of
    * new content BEFORE its commit. A batch carrying negated prices
    * is refused (loudness + version-count unchanged enforced
    * in-body), the cleaned remainder lands, and the oracle recomputes
    * what the constrained table must now hold. */
  val storeConstraints = GQuery(
    "q_store_constraints",
    (s, d) => {
      val root = graft.TempRoots
        .create("graft_tscon") + "/orders"
      val src = Tables.orders(s, d).select(col("o_orderkey"),
        round(col("o_totalprice") * 100).cast("long").as("cents"),
        col("o_orderstatus"))
      graft.ops.TableStore.append(
        src.where(col("o_orderkey") % 2 === 0), root)
      graft.ops.TableStore.addConstraint(s, root, "cents_pos",
        "cents > 0")
      val dirty = src.where(col("o_orderkey") % 2 === 1)
        .withColumn("cents",
          when(col("o_orderkey") % 100 === 1, -col("cents"))
            .otherwise(col("cents")))
      val vsBefore = graft.ops.TableStore.versions(s, root)
      val refused =
        try { graft.ops.TableStore.append(dirty, root); false }
        catch { case e: IllegalArgumentException =>
          require(e.getMessage.contains("cents_pos"),
            s"wrong refusal: ${e.getMessage}")
          true
        }
      // a zero-row corpus has no violating rows — nothing to refuse
      val dirtyHasViolations =
        dirty.where(col("cents") <= 0).limit(1).collect().nonEmpty
      require(refused == dirtyHasViolations,
        s"refusal ($refused) must track violations ($dirtyHasViolations)")
      if (refused)
        require(graft.ops.TableStore.versions(s, root) == vsBefore,
          "a refused write must not commit")
      graft.ops.TableStore.append(dirty.where(col("cents") > 0), root)
      graft.ops.TableStore.read(s, root)
        .groupBy((col("o_orderkey") % 8).as("bucket"))
        .agg(count(lit(1)).as("n_orders"),
          sum("cents").as("total_cents"),
          sum("o_orderkey").as("sum_key"))
        .orderBy("bucket")
    },
    Some("""
      SELECT o_orderkey % 8 AS bucket, COUNT(*) AS n_orders,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
               AS BIGINT) AS total_cents,
             CAST(SUM(o_orderkey) AS BIGINT) AS sum_key
      FROM orders WHERE o_orderkey % 100 <> 1
      GROUP BY 1 ORDER BY 1
    """),
    eager = true)

  /** Merge-on-read deletes
    * ([[graft.ops.TableStore.deleteWhereMoR]]): deleting rows from a
    * key-ranged orders store commits a DELETE VECTOR — zero files
    * added or removed (enforced in-body from the history row: the
    * whole point is that a row delete in a 100 TB table costs a
    * KB-sized vector, not a rewrite) — and the vector-aware read must
    * hash-match the oracle's plain NOT-predicate. [[purgeDeletes]]
    * then folds the vectors into ONE proportional rewrite (1 of 3
    * commits, enforced) whose content is required identical to the
    * MoR view (multiset equality, [[sameRows]]). */
  val storeMorDelete = GQuery(
    "q_store_mor_delete",
    (s, d) => {
      val root = graft.TempRoots
        .create("graft_tsmor") + "/orders"
      val src = Tables.orders(s, d).select(col("o_orderkey"),
        round(col("o_totalprice") * 100).cast("long").as("cents"),
        col("o_orderstatus"))
      val mx = maxOrZero(src, "o_orderkey")
      val third = mx / 3 + 1
      (0L until 3L).foreach { i =>
        graft.ops.TableStore.append(
          src.where(col("o_orderkey") >= i * third &&
            col("o_orderkey") < (i + 1) * third).coalesce(1), root,
          statsCols = Seq("o_orderkey"))
      }
      val v = graft.ops.TableStore.deleteWhereMoR(s, root,
        col("o_orderkey") % 100 === 7 && col("o_orderkey") < third)
      if (v > 3L) {
        val h = graft.ops.TableStore.history(s, root)
          .where(col("version") === v).collect()(0)
        require(h.getAs[Long]("n_added") == 0L &&
          h.getAs[Long]("n_removed") == 0L,
          "a MoR delete must move no data files")
        val morView = graft.ops.TableStore.read(s, root)
        val pv = graft.ops.TableStore.purgeDeletes(s, root,
          statsCols = Seq("o_orderkey"))
        val ph = graft.ops.TableStore.history(s, root)
          .where(col("version") === pv).collect()(0)
        require(ph.getAs[Long]("n_removed") < 3,
          "purge must rewrite only the vectored commits")
        val purged = graft.ops.TableStore.read(s, root)
        require(sameRows(morView, purged),
          "purge changed content")
      }
      graft.ops.TableStore.read(s, root)
        .groupBy((col("o_orderkey") % 8).as("bucket"))
        .agg(count(lit(1)).as("n_orders"),
          sum("cents").as("total_cents"),
          sum("o_orderkey").as("sum_key"))
        .orderBy("bucket")
    },
    Some("""
      WITH m AS (SELECT MAX(o_orderkey) AS mx FROM orders)
      SELECT o_orderkey % 8 AS bucket, COUNT(*) AS n_orders,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
               AS BIGINT) AS total_cents,
             CAST(SUM(o_orderkey) AS BIGINT) AS sum_key
      FROM orders, m
      WHERE NOT (o_orderkey % 100 = 7
                 AND o_orderkey < (m.mx // 3 + 1))
      GROUP BY 1 ORDER BY 1
    """),
    eager = true)

  /** Incrementally-maintained aggregate view
    * ([[graft.ops.DerivedView.tick]]): the source store takes three
    * date-sliced appends with a maintenance tick after each (and a
    * compaction mid-stream that must contribute nothing); the view —
    * a materialized GROUP BY status — must end hash-identical to the
    * oracle's full recompute while never having read more than each
    * tick's delta. Position exactly-once is enforced in-body: a
    * fourth tick at the head commits nothing, and the view's history
    * carries one commit per productive tick. */
  val derivedView = GQuery(
    "q_derived_view",
    (s, d) => {
      val src = graft.TempRoots.create("graft_dvw_src") + "/orders"
      val view = graft.TempRoots.create("graft_dvw_v") + "/agg"
      val orders = Tables.orders(s, d).select(col("o_orderkey"),
        col("o_orderstatus"), col("o_orderdate"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      val cuts = Seq(("0000-01-01", "1995-01-01"),
        ("1995-01-01", "1997-01-01"), ("1997-01-01", "9999-01-01"))
      cuts.zipWithIndex.foreach { case ((lo, hi), i) =>
        graft.ops.TableStore.append(
          orders.where(col("o_orderdate") >= lo &&
            col("o_orderdate") < hi), src)
        if (i == 1) // layout-only commit: the next tick must skip it
          graft.ops.TableStore.compact(s, src, targetBytes = 256L << 20)
        val t = graft.ops.DerivedView.tick(s, src, view,
          Seq("o_orderstatus"), Seq("cents", "o_orderkey"))
        require(t.nonEmpty, s"tick $i must commit")
      }
      require(graft.ops.DerivedView.tick(s, src, view,
        Seq("o_orderstatus"), Seq("cents", "o_orderkey")).isEmpty,
        "a tick at the head must commit nothing")
      graft.ops.TableStore.read(s, view)
        .select(col("o_orderstatus"), col("n_rows"),
          col("sum_cents"), col("sum_o_orderkey").as("sum_key"))
        .orderBy("o_orderstatus")
    },
    Some("""
      SELECT o_orderstatus, COUNT(*) AS n_rows,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
               AS BIGINT) AS sum_cents,
             CAST(SUM(o_orderkey) AS BIGINT) AS sum_key
      FROM orders GROUP BY 1 ORDER BY 1
    """),
    eager = true)

  /** Metadata-only table digest
    * ([[graft.ops.TableStore.metaStats]] / [[graft.ops.TableStore
    * .metaBounds]]): three key-banded appends declaring statsCols, a
    * COW delete, a compaction — then each phase's row count and exact
    * key extremes are answered FROM THE COMMIT LOG ALONE (the zero-
    * data-IO fact is pinned structurally in TableStoreSpec, where the
    * data dir is physically hidden and the digest still answers).
    * The oracle recomputes every phase from the source, so a stale
    * count after the delete, or bounds that missed the rewrite,
    * fail the same hash compare as a wrong sum. */
  val storeMetaStats = GQuery(
    "q_store_metastats",
    (s, d) => {
      val root = graft.TempRoots
        .create("graft_tsmeta") + "/orders"
      val src = Tables.orders(s, d).select("o_orderkey", "o_totalprice")
      val stats = Seq("o_orderkey")
      graft.ops.TableStore.append(
        src.where(col("o_orderkey") < 5000L), root, statsCols = stats)
      graft.ops.TableStore.append(
        src.where(col("o_orderkey") >= 5000L &&
          col("o_orderkey") < 10000L), root, statsCols = stats)
      val v0 = graft.ops.TableStore.append(
        src.where(col("o_orderkey") >= 10000L), root, statsCols = stats)
      val vDel = graft.ops.Dml.delete(s, root,
        col("o_orderkey").between(500L, 1500L))
      val vCmp = graft.ops.TableStore.compact(s, root,
        targetBytes = 64L << 20, statsCols = stats)
      val rows = Seq(("initial", v0), ("deleted", vDel),
        ("compacted", vCmp)).map { case (phase, v) =>
        val st = graft.ops.TableStore.metaStats(s, root, Some(v))
          .collect()(0) // one row: the digest is metadata-sized
        // byte totals ride the log on every modern commit — a null
        // here would mean a live file lost its logged size
        require(st.getAs[Long]("n_rows") == 0 ||
          (!st.isNullAt(st.fieldIndex("n_bytes")) &&
            st.getAs[Long]("n_bytes") > 0L),
          s"phase $phase lost its logged byte totals")
        val bd = graft.ops.TableStore.metaBounds(
          s, root, Seq("o_orderkey"), Some(v)).collect()(0)
        (phase, st.getAs[Long]("n_rows"),
          Option(bd.get(1)).map(_.asInstanceOf[Long]),
          Option(bd.get(2)).map(_.asInstanceOf[Long]))
      }
      import s.implicits._
      rows.toDF("phase", "n_rows", "min_key", "max_key")
        .orderBy("phase")
    },
    Some("""
      SELECT 'compacted' AS phase, COUNT(*) AS n_rows,
             MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
      FROM orders WHERE o_orderkey NOT BETWEEN 500 AND 1500
      UNION ALL
      SELECT 'deleted', COUNT(*), MIN(o_orderkey), MAX(o_orderkey)
      FROM orders WHERE o_orderkey NOT BETWEEN 500 AND 1500
      UNION ALL
      SELECT 'initial', COUNT(*), MIN(o_orderkey), MAX(o_orderkey)
      FROM orders
      ORDER BY phase
    """),
    eager = true)

  /** Predicate-scoped atomic overwrite
    * ([[graft.ops.TableStore.replaceWhere]]) — the idempotent
    * backfill: the key band [2000, 4000] is replaced IN ONE COMMIT by
    * its recomputed slice (cents doubled), so the digest pair pins
    * that exactly the band changed, nothing outside it moved, and the
    * pre-replace snapshot still reads the original slice. The
    * containment check (a batch row outside its own predicate refuses
    * the commit) is pinned in TableStoreSpec. */
  val storeReplaceWhere = GQuery(
    "q_store_replace_where",
    (s, d) => {
      val root = graft.TempRoots
        .create("graft_tsrepl") + "/orders"
      val src = Tables.orders(s, d).select(col("o_orderkey"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      val stats = Seq("o_orderkey")
      graft.ops.TableStore.append(
        src.where(col("o_orderkey") < 5000L), root, statsCols = stats)
      graft.ops.TableStore.append(
        src.where(col("o_orderkey") >= 5000L), root, statsCols = stats)
      val redone = src.where(col("o_orderkey").between(2000L, 4000L))
        .withColumn("cents", col("cents") * 2L)
      val vNew = graft.ops.TableStore.replaceWhere(redone, root,
        col("o_orderkey").between(2000L, 4000L), statsCols = stats)
      Seq(("before", vNew - 1), ("after", vNew)).map { case (tag, v) =>
        graft.ops.TableStore.read(s, root, Some(v))
          .agg(
            lit(tag).as("snapshot"),
            count(lit(1)).as("n_orders"),
            sum("cents").as("total_cents"),
            min("o_orderkey").as("min_key"),
            max("o_orderkey").as("max_key"))
          .select("snapshot", "n_orders", "total_cents",
            "min_key", "max_key")
      }.reduce(_ unionAll _).orderBy("snapshot")
    },
    Some("""
      SELECT 'after' AS snapshot, COUNT(*) AS n_orders,
             CAST(SUM(CASE WHEN o_orderkey BETWEEN 2000 AND 4000
               THEN 2 * CAST(round(o_totalprice * 100) AS BIGINT)
               ELSE CAST(round(o_totalprice * 100) AS BIGINT) END)
               AS BIGINT) AS total_cents,
             MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
      FROM orders
      UNION ALL
      SELECT 'before', COUNT(*),
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
               AS BIGINT),
             MIN(o_orderkey), MAX(o_orderkey)
      FROM orders
      ORDER BY snapshot
    """),
    eager = true)

  /** Incrementally-maintained JOIN view
    * ([[graft.ops.DerivedView.tickJoin]]): a materialized
    * `orders ⋈ customer` kept in lockstep with TWO independently-
    * appending stores by the delta-join decomposition
    * ΔV = ΔA⋈B ∪ A_old⋈ΔB — each tick joins a delta against one
    * snapshot, never snapshot × snapshot. The schedule advances the
    * sides unevenly (A alone, then B, then A with a mid-stream
    * compaction that must contribute nothing, then both at once), a
    * tick before B exists must decline, and a tick at the head must
    * commit nothing; the final view hash-matches the oracle's full
    * join recompute. */
  val derivedJoinView = GQuery(
    "q_derived_join_view",
    (s, d) => {
      val aRoot = graft.TempRoots.create("graft_djv_a") + "/orders"
      val bRoot = graft.TempRoots.create("graft_djv_b") + "/customer"
      val view = graft.TempRoots.create("graft_djv_v") + "/join"
      val orders = Tables.orders(s, d).select(
        col("o_custkey").as("custkey"), col("o_orderkey"),
        round(col("o_totalprice") * 100).cast("long").as("cents"),
        col("o_orderdate"))
      val customer = Tables.customer(s, d).select(
        col("c_custkey").as("custkey"), col("c_mktsegment"))
      def tick() = graft.ops.DerivedView.tickJoin(
        s, aRoot, bRoot, view, "custkey")
      graft.ops.TableStore.append(
        orders.where(col("o_orderdate") < "1995-01-01"), aRoot)
      require(tick().isEmpty, "tick before B exists must decline")
      graft.ops.TableStore.append(
        customer.where(col("custkey") % 2 === 0), bRoot)
      require(tick().nonEmpty, "first productive tick must commit")
      graft.ops.TableStore.append(
        orders.where(col("o_orderdate") >= "1995-01-01" &&
          col("o_orderdate") < "1997-01-01"), aRoot)
      graft.ops.TableStore.compact(s, aRoot, targetBytes = 256L << 20)
      require(tick().nonEmpty, "A-side tick must commit")
      graft.ops.TableStore.append(
        customer.where(col("custkey") % 2 === 1), bRoot)
      graft.ops.TableStore.append(
        orders.where(col("o_orderdate") >= "1997-01-01"), aRoot)
      require(tick().nonEmpty, "both-sides tick must commit")
      require(tick().isEmpty, "a tick at the head must commit nothing")
      graft.ops.TableStore.read(s, view)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_rows"),
          sum("cents").as("total_cents"),
          sum("custkey").as("sum_custkey"))
        .orderBy("c_mktsegment")
    },
    Some("""
      SELECT c_mktsegment, COUNT(*) AS n_rows,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
               AS BIGINT) AS total_cents,
             CAST(SUM(c_custkey) AS BIGINT) AS sum_custkey
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY 1 ORDER BY 1
    """),
    eager = true)

  /** CHAINED incremental maintenance — the silver→gold pipeline as
    * ticks: two appending stores feed a JOIN view
    * ([[graft.ops.DerivedView.tickJoin]]), and a GROUP BY view
    * ([[graft.ops.DerivedView.tick]]) consumes the JOIN VIEW'S own
    * change feed — the downstream tick never touches the base tables,
    * and no stage ever recomputes. Valid composition because tickJoin
    * appends (adds-only commits), which is exactly the feed contract
    * tick consumes; a head-of-chain tick pair must commit nothing.
    * The oracle recomputes join+group from scratch, so a missed
    * delta, a doubled pair, or a stale downstream position all break
    * the hash. */
  val ivmPipeline = GQuery(
    "q_ivm_pipeline",
    (s, d) => {
      val aRoot = graft.TempRoots.create("graft_ivm_a") + "/orders"
      val bRoot = graft.TempRoots.create("graft_ivm_b") + "/customer"
      val joinV = graft.TempRoots.create("graft_ivm_j") + "/join"
      val aggV = graft.TempRoots.create("graft_ivm_g") + "/agg"
      val orders = Tables.orders(s, d).select(
        col("o_custkey").as("custkey"), col("o_orderkey"),
        round(col("o_totalprice") * 100).cast("long").as("cents"),
        col("o_orderdate"))
      val customer = Tables.customer(s, d).select(
        col("c_custkey").as("custkey"), col("c_mktsegment"))
      def tickAll(): Unit = {
        graft.ops.DerivedView.tickJoin(s, aRoot, bRoot, joinV, "custkey")
        graft.ops.DerivedView.tick(s, joinV, aggV,
          Seq("c_mktsegment"), Seq("cents", "custkey"))
      }
      graft.ops.TableStore.append(
        orders.where(col("o_orderdate") < "1996-01-01"), aRoot)
      graft.ops.TableStore.append(customer, bRoot)
      tickAll()
      graft.ops.TableStore.append(
        orders.where(col("o_orderdate") >= "1996-01-01"), aRoot)
      tickAll()
      // at the head: NEITHER stage may commit (stale-position guard)
      require(graft.ops.DerivedView.tickJoin(
        s, aRoot, bRoot, joinV, "custkey").isEmpty,
        "join tick at the head must commit nothing")
      require(graft.ops.DerivedView.tick(s, joinV, aggV,
        Seq("c_mktsegment"), Seq("cents", "custkey")).isEmpty,
        "agg tick at the head must commit nothing")
      graft.ops.TableStore.read(s, aggV)
        .select(col("c_mktsegment"), col("n_rows"),
          col("sum_cents").as("total_cents"),
          col("sum_custkey").as("sum_custkey"))
        .orderBy("c_mktsegment")
    },
    Some("""
      SELECT c_mktsegment, COUNT(*) AS n_rows,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
               AS BIGINT) AS total_cents,
             CAST(SUM(c_custkey) AS BIGINT) AS sum_custkey
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY 1 ORDER BY 1
    """),
    // correctness-only composition gate: its tick machinery is
    // individually benched by q_derived_view and q_derived_join_view;
    // timing the chain would double-count both
    bench = false,
    eager = true)

  /** SCOPED layout OPTIMIZE
    * ([[graft.ops.TableStore.optimizeLayoutWhere]]) — incremental
    * clustering: two key bands land as band-spanning files, only the
    * LOWER band is reclustered, and the body enforces the two claims
    * a scoped rewrite exists for — the out-of-scope files' paths are
    * byte-identical afterwards (no quadratic re-write of history),
    * and a narrow probe's files-touched FRACTION shrinks inside the
    * optimized scope. The oracle pins content invariance under the
    * layout change (a lost or doubled row breaks the hash). */
  val storeOptimizeScoped = GQuery(
    "q_store_optimize_scoped",
    (s, d) => {
      val src = Tables.orders(s, d).select(col("o_orderkey"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      val digestCols = (df: org.apache.spark.sql.DataFrame) => df
        .groupBy((col("o_orderkey") % 8).as("bucket"))
        .agg(count(lit(1)).as("n_orders"),
          sum("cents").as("total_cents"),
          min("o_orderkey").as("min_key"),
          max("o_orderkey").as("max_key"))
        .orderBy("bucket")
      val maxK = Option(src.agg(max("o_orderkey")).head().get(0))
        .map(_.asInstanceOf[Long])
      if (maxK.isEmpty) digestCols(src) // zero-row corpus: typed empty
      else {
        val root = graft.TempRoots
          .create("graft_tsoptw") + "/orders"
        val mid = maxK.get / 2
        val stats = Seq("o_orderkey")
        // two commits per band, each file spanning its whole band —
        // a narrow probe can prune nothing inside a band
        Seq(0, 1).foreach { i =>
          graft.ops.TableStore.append(
            src.where(col("o_orderkey") <= mid &&
              col("o_orderkey") % 2 === i).coalesce(1),
            root, statsCols = stats)
          graft.ops.TableStore.append(
            src.where(col("o_orderkey") > mid &&
              col("o_orderkey") % 2 === i).coalesce(1),
            root, statsCols = stats)
        }
        val probe = (math.max(1L, mid / 4),
          math.max(1L, mid / 4) + math.max(1L, mid / 64))
        val (_, tBefore, liveBefore) = graft.ops.TableStore.readRange(
          s, root, "o_orderkey", probe._1, probe._2)
        val upperBefore = graft.ops.TableStore.read(s, root)
          .inputFiles.toSet
        val vOpt = graft.ops.TableStore.optimizeLayoutWhere(
          s, root, "o_orderkey", 0L, mid, targetBytes = 64L << 20,
          statsCols = stats)
        val after = graft.ops.TableStore.read(s, root)
          .inputFiles.toSet
        // scope exclusion: every file NOT rewritten survives by path;
        // the rewrite only ever touched lower-band files
        val surviving = upperBefore.intersect(after)
        require(surviving.nonEmpty,
          "scoped optimize must leave out-of-scope files untouched")
        if (graft.ops.TableStore.versions(s, root).last == vOpt) {
          val (_, tAfter, liveAfter) = graft.ops.TableStore.readRange(
            s, root, "o_orderkey", probe._1, probe._2)
          require(liveBefore > 0 && liveAfter > 0, "live sets empty")
          require(tAfter.toDouble / liveAfter <
            tBefore.toDouble / liveBefore,
            s"narrow probe must prune harder after scoped optimize: " +
              s"$tAfter/$liveAfter vs $tBefore/$liveBefore")
        }
        digestCols(graft.ops.TableStore.read(s, root))
      }
    },
    Some("""
      SELECT o_orderkey % 8 AS bucket, COUNT(*) AS n_orders,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
               AS BIGINT) AS total_cents,
             MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
      FROM orders GROUP BY 1 ORDER BY 1
    """),
    eager = true)

  /** Schema evolution across store versions
    * ([[graft.ops.TableStore.readAs]] +
    * [[graft.ops.SchemaEvolution.backfill]]): version 1 is committed
    * WITHOUT the channel column, version 2 adds it; the latest
    * snapshot is read under the evolved target schema (old files
    * resolve the column to null inside the reader — history is never
    * rewritten for DDL) and nulls are backfilled to 'legacy' with
    * the countable audit tag. The oracle derives each row's channel
    * from the commit-membership predicate — so by-name resolution,
    * the backfill default, AND the audit count gate together. */
  val storeEvolution = GQuery(
    "q_store_evolution",
    (s, d) => {
      val root = graft.TempRoots
        .create("graft_tsevo") + "/orders"
      val src = Tables.orders(s, d).select(
        col("o_orderkey"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      graft.ops.TableStore.append(
        src.where(col("o_orderkey") % 2 === 0), root)
      graft.ops.TableStore.append(
        src.where(col("o_orderkey") % 2 === 1)
          .withColumn("channel", lit("web")), root)
      val target = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("o_orderkey",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("cents",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("channel",
          org.apache.spark.sql.types.StringType)))
      graft.ops.SchemaEvolution.backfill(
          graft.ops.TableStore.readAs(s, root, target),
          Map("channel" -> lit("legacy")))
        .groupBy("channel")
        .agg(
          count(lit(1)).as("n_orders"),
          sum(col("cents")).as("total_cents"),
          sum(col("_backfilled")).as("n_backfilled"))
        .orderBy("channel")
    },
    Some("""
      SELECT CASE WHEN o_orderkey % 2 = 0 THEN 'legacy'
                  ELSE 'web' END AS channel,
             COUNT(*) AS n_orders,
             CAST(SUM(CAST(round(o_totalprice*100) AS BIGINT))
               AS BIGINT) AS total_cents,
             CAST(COUNT(*) FILTER (WHERE o_orderkey % 2 = 0)
               AS BIGINT) AS n_backfilled
      FROM orders GROUP BY 1 ORDER BY 1
    """),
    eager = true)

  /** Bloom-skipped point lookup (a [[graft.ops.TableStore.readWhere]]
    * `IN` probe): three round-robin
    * appends make every file's [min, max] span the whole key space —
    * range stats prune NOTHING — but each commit wrote a parquet
    * bloom on the key, so probing three keys that all live in one
    * commit opens one file (false positives can only add a file,
    * never lose a row; fpp 0.001 per commit). The oracle pins the
    * VALUES; the economics are enforced loudly in the body and
    * pinned deterministically in TableStoreSpec. */
  val storePointLookup = GQuery(
    "q_store_pointlookup",
    (s, d) => {
      val root = graft.TempRoots
        .create("graft_tsbloom") + "/orders"
      val src = Tables.orders(s, d)
        .select("o_orderkey", "o_orderdate", "o_totalprice")
      (0L until 3L).foreach { i =>
        graft.ops.TableStore.append(
          src.where(col("o_orderkey") % 3 === i).coalesce(1), root,
          statsCols = Seq("o_orderkey"),
          bloomCols = Seq("o_orderkey"))
      }
      val keys = Seq(300L, 600L, 900L) // all ≡ 0 mod 3: one commit
      val (probe, touched, total) = graft.ops.TableStore.readWhere(
        s, root, Seq(In("o_orderkey", keys.toArray[Any])))
      require(total == 0 || (touched <= 2 && touched < total),
        s"bloom prune must beat the full scan: $touched/$total")
      probe.agg(
          count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(DecimalType(18, 4)))
            .cast("double").as("total_price"),
          min("o_orderkey").as("min_key"),
          max("o_orderkey").as("max_key"))
        .select("n_orders", "total_price", "min_key", "max_key")
    },
    Some("""
      SELECT COUNT(*) AS n_orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
               AS total_price,
             MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
      FROM orders WHERE o_orderkey IN (300, 600, 900)
    """),
    eager = true)

  /** The store's audit surface ([[graft.ops.TableStore.history]]):
    * a deterministic commit sequence — two single-file key-sliced
    * appends, a copy-on-write delete (one file out, one in), and a
    * no-action compact of what is already one file per the 64 MB
    * target — then history() is read back whole. The oracle derives
    * every row from the source: file counts from the commit shapes
    * (coalesce(1) per non-empty append; the delete rewrites exactly
    * the one overlapping file), rows_added from the slice counts.
    * Gates that the log's audit view matches what the commits
    * actually did, including the no-action row. */
  val storeHistory = GQuery(
    "q_store_history",
    (s, d) => {
      val root = graft.TempRoots
        .create("graft_tshist") + "/orders"
      val src = Tables.orders(s, d)
        .select("o_orderkey", "o_totalprice")
      graft.ops.TableStore.append(
        src.where(col("o_orderkey") < 5000L).coalesce(1), root,
        statsCols = Seq("o_orderkey"))
      graft.ops.TableStore.append(
        src.where(col("o_orderkey") >= 5000L).coalesce(1), root,
        statsCols = Seq("o_orderkey"))
      graft.ops.Dml.delete(s, root, col("o_orderkey").between(100L, 200L))
      graft.ops.TableStore.compact(s, root, targetBytes = 64L << 20)
      graft.ops.TableStore.history(s, root).orderBy("version")
    },
    Some("""
      WITH c AS (
        SELECT count(*) FILTER (WHERE o_orderkey < 5000) AS n1,
               count(*) FILTER (WHERE o_orderkey >= 5000) AS n2,
               count(*) FILTER (WHERE o_orderkey < 5000
                 AND o_orderkey NOT BETWEEN 100 AND 200) AS n1_kept,
               count(*) FILTER (WHERE o_orderkey >= 5000) > 0 AS has2
        FROM orders)
      SELECT CAST(v.version AS BIGINT) AS version,
             CAST(CASE v.version
               WHEN 1 THEN CASE WHEN n1 > 0 THEN 1 ELSE 0 END
               WHEN 2 THEN CASE WHEN has2 THEN 1 ELSE 0 END
               WHEN 3 THEN CASE WHEN n1_kept > 0 THEN 1 ELSE 0 END
               -- compact folds every live file into one (64 MB target
               -- dwarfs the data) — a real commit unless nothing lives
               ELSE CASE WHEN n1_kept > 0 OR has2 THEN 1 ELSE 0 END
               END AS BIGINT) AS n_added,
             CAST(CASE v.version
               WHEN 3 THEN CASE WHEN n1 > 0 THEN 1 ELSE 0 END
               WHEN 4 THEN (CASE WHEN n1_kept > 0 THEN 1 ELSE 0 END)
                         + (CASE WHEN has2 THEN 1 ELSE 0 END)
               ELSE 0 END AS BIGINT) AS n_removed,
             CAST(CASE v.version
               WHEN 1 THEN n1 WHEN 2 THEN n2
               WHEN 3 THEN n1_kept
               ELSE n1_kept + n2 END AS BIGINT) AS rows_added
      FROM (VALUES (1), (2), (3), (4)) v(version), c
      ORDER BY version
    """),
    eager = true)

  /** Snapshot restore ([[graft.ops.TableStore.restore]]): two
    * appends, a bad overwrite, then a restore to version 2 — zero
    * data movement, the restore commit just re-references the
    * immutable files. The digest reads the restored latest AND the
    * mistake version (still time-travelable); the oracle states
    * both from the source, pinning that undo is a forward commit
    * that loses nothing. */
  val storeRestore = GQuery(
    "q_store_restore",
    (s, d) => {
      val root = graft.TempRoots
        .create("graft_tsrest") + "/orders"
      val src = Tables.orders(s, d)
        .select("o_orderkey", "o_orderdate", "o_totalprice")
      graft.ops.TableStore.append(
        src.where(col("o_orderkey") < 5000L), root)
      graft.ops.TableStore.append(
        src.where(col("o_orderkey") >= 5000L), root)
      graft.ops.TableStore.overwrite(
        src.where(col("o_orderkey") < 100L), root) // the mistake
      graft.ops.TableStore.restore(s, root, toVersion = 2L)
      Seq(("mistake", 3L), ("restored", 4L)).map { case (tag, v) =>
        graft.ops.TableStore.read(s, root, Some(v))
          .agg(
            lit(tag).as("phase"),
            count(lit(1)).as("n_orders"),
            sum(col("o_totalprice").cast(DecimalType(18, 4)))
              .cast("double").as("total_price"),
            min("o_orderkey").as("min_key"),
            max("o_orderkey").as("max_key"))
          .select("phase", "n_orders", "total_price",
            "min_key", "max_key")
      }.reduce(_ unionAll _).orderBy("phase")
    },
    Some("""
      SELECT 'mistake' AS phase, COUNT(*) AS n_orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
               AS total_price,
             MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key
      FROM orders WHERE o_orderkey < 100
      UNION ALL
      SELECT 'restored', COUNT(*),
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE),
             MIN(o_orderkey), MAX(o_orderkey)
      FROM orders
      ORDER BY phase
    """),
    eager = true)

  def all: Seq[GQuery] =
    Seq(runMonthPruning, retentionExpire, timeTravel, rowDelete,
      storeSkipping, versionDiff, storeOptimize, storeOptimizeCurve,
      storeEvolution, storePointLookup, storePointLookupStr,
      storePrefixScan, storeMerge, storeCdcApply, storeMirror,
      storeClone, storeConstraints, storeMorDelete, derivedView,
      storeHistory, storeRestore, storeChanges, storeMetaStats,
      storeReplaceWhere, derivedJoinView, ivmPipeline,
      storeOptimizeScoped)
}
