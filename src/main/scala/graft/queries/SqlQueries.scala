package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.Tables.{split3, Split3Sql}

/** The versioned store consumed the way the reference consumes its
  * warehouse — through SQL over named tables (the reference's entire
  * consumption surface is SQL: dags/SQL/DWH_Quality_Checks.sql,
  * dags/SQL/Gold/create_load_data_gold.sql): the
  * [[graft.sources.GraftCatalog]] V2 catalog + the
  * [[graft.sources.GraftRewrite]] native-scan rewrite +
  * the table_changes table-valued feed sugar, each hash-gated against
  * a DuckDB replay from the source table. */
object SqlQueries extends QueryPack {

  /** The shared pre-mutation seeding the DML gates branch from — a
    * [[Fixtures]] master built once per JVM (untimed in the bench's
    * prepare), with each gate body taking a METADATA-ONLY branch
    * whose v1 is exactly this state. Gates that need the master's
    * internal version numbering or relative file paths (q_sql_truncate,
    * q_sql_maintenance's vacuum) deliberately do NOT branch — they
    * time their fixtures on purpose. */
  private def ordersSplit3(s: org.apache.spark.sql.SparkSession,
                           d: String)(root: String): Unit = {
    val src = Tables.orders(s, d)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    val (lo, hi) = split3(s, d)
    Seq(col("o_orderkey") < lo,
      col("o_orderkey") >= lo && col("o_orderkey") < hi,
      col("o_orderkey") >= hi).foreach(p =>
      graft.ops.TableStore.append(src.where(p).coalesce(1), root,
        statsCols = Seq("o_orderkey")))
  }

  /** (o_orderkey, o_custkey, o_totalprice) in one file — the
    * delete-exists twin stores' seeding. */
  private def ordersCustKey(s: org.apache.spark.sql.SparkSession,
                            d: String)(root: String): Unit =
    graft.ops.TableStore.append(
      Tables.orders(s, d)
        .select("o_orderkey", "o_custkey", "o_totalprice").coalesce(1),
      root, statsCols = Seq("o_orderkey"))

  /** The dup-and-dirty silver the subquery-delete gate cleans
    * (base + doubled keys < 2000 + negative-price offset rows). */
  private def ordersDupDirty(s: org.apache.spark.sql.SparkSession,
                             d: String)(root: String): Unit = {
    val base = Tables.orders(s, d)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    graft.ops.TableStore.append(base.coalesce(1), root,
      statsCols = Seq("o_orderkey"))
    graft.ops.TableStore.append(
      base.where(col("o_orderkey") < 2000L).coalesce(1), root,
      statsCols = Seq("o_orderkey"))
    graft.ops.TableStore.append(
      base.where(col("o_orderkey").between(2200L, 2400L))
        .select((col("o_orderkey") + 100000000L).as("o_orderkey"),
          col("o_custkey"),
          (-col("o_totalprice")).as("o_totalprice"))
        .coalesce(1), root,
      statsCols = Seq("o_orderkey"))
  }

  /** SQL over a versioned store: three key-ranged commits, then (a) a
    * range probe through `spark.sql` — planned by the analysis
    * rewrite as a native parquet scan whose file list the COMMIT
    * LOG's stats prune (SqlStoreSpec plan-asserts the 1-of-3 skip;
    * this gate pins the VALUES), and (b) a `VERSION AS OF 1` time-
    * travel read through the same SQL surface. The files_touched
    * evidence column is computed by the very [[graft.ops.TableStore
    * .prunedFiles]] evaluator the scan's file index runs, so a
    * broken skip fails the hash, not just a spec. */
  val storeSql = GQuery(
    "q_store_sql",
    (s, d) => {
      val root = graft.TempRoots.create("graft_sqlgate") + "/orders"
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
      s.conf.set("spark.sql.catalog.gsql",
        classOf[graft.sources.GraftCatalog].getName)
      // the skip evidence, from the same evaluator the scan runs
      val snap = graft.ops.TableStore.snapshotOf(s, root, Some(3L)).get
      val live = snap.live
      val touched = graft.ops.TableStore.prunedFiles(s, root, live,
        snap.declared, Seq(
        org.apache.spark.sql.sources.GreaterThanOrEqual("o_orderkey", 500L),
        org.apache.spark.sql.sources.LessThanOrEqual("o_orderkey", 1500L)))
      s.sql(s"""
        SELECT 'probe' AS leg, COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
                 AS total_price,
               MIN(o_orderkey) AS min_key, MAX(o_orderkey) AS max_key,
               CAST(${touched.size} AS BIGINT) AS files_touched,
               CAST(${live.size} AS BIGINT) AS files_total
        FROM gsql.`$root`
        WHERE o_orderkey BETWEEN 500 AND 1500
        UNION ALL
        SELECT 'v1', COUNT(*),
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE),
               MIN(o_orderkey), MAX(o_orderkey),
               CAST(${touched.size} AS BIGINT),
               CAST(${live.size} AS BIGINT)
        FROM gsql.`$root` VERSION AS OF 1
        ORDER BY leg""")
    },
    Some("""
      SELECT 'probe' AS leg, COUNT(*) AS n_orders,
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
      UNION ALL
      SELECT 'v1', COUNT(*),
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE),
             MIN(o_orderkey), MAX(o_orderkey),
             CAST(1 AS BIGINT),
             (SELECT CAST(1
                + CASE WHEN count(*) FILTER (WHERE o_orderkey >= 5000
                    AND o_orderkey < 10000) > 0 THEN 1 ELSE 0 END
                + CASE WHEN count(*) FILTER (WHERE o_orderkey >= 10000)
                    > 0 THEN 1 ELSE 0 END AS BIGINT)
              FROM orders)
      FROM orders WHERE o_orderkey < 5000
      ORDER BY leg
    """),
    eager = true)

  /** The row-level change feed on the SQL surface:
    * `table_changes(root, since[, to])` — the
    * [[graft.ops.TableStore.readRowChanges]] plumbing as a
    * table-valued function, so a CDC consumer is one SELECT, not an
    * API integration. Digests two windows ((1, 3] and (1, 2]) per
    * `_op`; the oracle restates both windows' inserts from the
    * source slices (append-only history: the feed is pure inserts,
    * and a delete leg appearing would break the hash). */
  val storeSqlChanges = GQuery(
    "q_store_sql_changes",
    (s, d) => {
      val root = graft.TempRoots.create("graft_sqlfeed") + "/orders"
      val src = Tables.orders(s, d)
        .select("o_orderkey", "o_orderdate", "o_totalprice")
      val (lo, hi) = split3(s, d)
      graft.ops.TableStore.append(
        src.where(col("o_orderkey") < lo), root)
      graft.ops.TableStore.append(
        src.where(col("o_orderkey") >= lo &&
          col("o_orderkey") < hi), root)
      graft.ops.TableStore.append(
        src.where(col("o_orderkey") >= hi), root)
      s.sql(s"""
        SELECT 'w13' AS win, _op, COUNT(*) AS n_rows,
               SUM(o_orderkey) AS key_sum
        FROM table_changes('$root', 1)
        GROUP BY _op
        UNION ALL
        SELECT 'w12', _op, COUNT(*), SUM(o_orderkey)
        FROM table_changes('$root', 1, 2)
        GROUP BY _op
        ORDER BY win, _op""")
    },
    Some(s"""
      WITH b AS ($Split3Sql)
      SELECT 'w13' AS win, 'insert' AS _op, COUNT(*) AS n_rows,
             CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
      FROM orders, b WHERE o_orderkey >= b.lo
      UNION ALL
      SELECT 'w12', 'insert', COUNT(*), CAST(SUM(o_orderkey) AS BIGINT)
      FROM orders, b WHERE o_orderkey >= b.lo AND o_orderkey < b.hi
      ORDER BY win, _op
    """),
    eager = true)

  /** DML through the catalog ([[graft.sources.GraftWriteBuilder]]):
    * `INSERT INTO` appends one commit and `INSERT OVERWRITE` replaces
    * content as one commit — the SQL spellings of the very
    * append/overwrite commits the API takes, which is how the
    * reference loads its warehouse (dags/SQL/Bronze/
    * insert_data_into_bronze.sql — the entire ingest surface is
    * INSERT statements). The gate bootstraps v1 via the API, INSERTs
    * the rest of the table through SQL (in-body `require` pins one
    * commit per statement), then INSERT OVERWRITEs a slice and
    * digests BOTH the post-insert snapshot (`VERSION AS OF 2` — the
    * overwrite must not have touched it) and the overwritten latest.
    * The oracle restates both states from the source slices. */
  val storeSqlInsert = GQuery(
    "q_store_sql_insert",
    (s, d) => {
      val root = graft.TempRoots.create("graft_sqlins") + "/orders"
      val src = Tables.orders(s, d)
        .select("o_orderkey", "o_orderdate", "o_totalprice")
      graft.ops.TableStore.append(
        src.where(col("o_orderkey") < 5000L), root)
      s.conf.set("spark.sql.catalog.gsqlw",
        classOf[graft.sources.GraftCatalog].getName)
      src.where(col("o_orderkey") >= 5000L)
        .createOrReplaceTempView("gate_sqlins_delta")
      s.sql(s"INSERT INTO gsqlw.`$root` " +
        "SELECT * FROM gate_sqlins_delta")
      require(graft.ops.TableStore.versions(s, root) == Seq(1L, 2L),
        "INSERT INTO must land as exactly one append commit")
      s.sql(s"INSERT OVERWRITE gsqlw.`$root` " +
        "SELECT * FROM gate_sqlins_delta WHERE o_orderkey >= 10000")
      require(graft.ops.TableStore.versions(s, root) ==
        Seq(1L, 2L, 3L),
        "INSERT OVERWRITE must land as exactly one rewrite commit")
      s.sql(s"""
        SELECT 'post_insert' AS leg, COUNT(*) AS n_rows,
               CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
        FROM gsqlw.`$root` VERSION AS OF 2
        UNION ALL
        SELECT 'post_overwrite', COUNT(*),
               CAST(SUM(o_orderkey) AS BIGINT)
        FROM gsqlw.`$root`
        ORDER BY leg""")
    },
    Some("""
      SELECT 'post_insert' AS leg, COUNT(*) AS n_rows,
             CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
      FROM orders
      UNION ALL
      SELECT 'post_overwrite', COUNT(*),
             CAST(SUM(o_orderkey) AS BIGINT)
      FROM orders WHERE o_orderkey >= 10000
      ORDER BY leg
    """),
    eager = true)

  /** `DELETE FROM` on the SQL surface ([[graft.sources.GraftDmlRule]]
    * → [[graft.ops.Dml.delete]]): three key-ranged commits, one keyed
    * DELETE whose predicate mixes a PRUNABLE range conjunct with an
    * untranslatable modulo — the log-stats prune keeps the two
    * out-of-range files from even being READ, and the in-body
    * `require` pins them live-by-the-same-log-entry (proportionality
    * as part of the hash gate, not just a spec). Digests the latest
    * state AND the pre-delete snapshot (history must survive a
    * delete). The reference's correction loop is exactly this
    * statement (dags/SQL/Silver/Delete_duplicates_in_silver.sql). */
  val storeSqlDelete = GQuery(
    "q_sql_delete",
    (s, d) => {
      val root = Fixtures.branch(s, d, "orders3")(ordersSplit3(s, d))
      val src = Tables.orders(s, d)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      s.conf.set("spark.sql.catalog.gdmlq",
        classOf[graft.sources.GraftCatalog].getName)
      val (lo, hi) = split3(s, d)
      val before = graft.ops.TableStore.liveAt(s, root, 1L).map(_.path)
      s.sql(s"DELETE FROM gdmlq.`$root` WHERE o_orderkey >= $lo " +
        s"AND o_orderkey < $hi AND o_orderkey % 2 = 0").collect()
      val after = graft.ops.TableStore.liveAt(s, root,
        graft.ops.TableStore.versions(s, root).last).map(_.path).toSet
      require(before.isEmpty || before.count(after.contains) == 2,
        s"DELETE must carry the two unpruned files over live: " +
          s"$before -> $after")
      s.sql(s"""
        SELECT 'latest' AS leg, COUNT(*) AS n_rows,
               SUM(o_orderkey) AS key_sum,
               CAST(SUM(CAST(ROUND(o_totalprice * 1e2) AS BIGINT)) AS DOUBLE) / 1e2
                 AS total_price
        FROM gdmlq.`$root`
        UNION ALL
        SELECT 'pre_delete', COUNT(*), SUM(o_orderkey),
               CAST(SUM(CAST(ROUND(o_totalprice * 1e2) AS BIGINT)) AS DOUBLE) / 1e2
        FROM gdmlq.`$root` VERSION AS OF 1
        ORDER BY leg""")
    },
    Some(s"""
      WITH b AS ($Split3Sql)
      SELECT 'latest' AS leg, COUNT(*) AS n_rows,
             CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
             CAST(SUM(CAST(ROUND(o_totalprice * 1e2) AS BIGINT)) AS DOUBLE) / 1e2
               AS total_price
      FROM orders, b
      WHERE NOT (o_orderkey >= b.lo AND o_orderkey < b.hi
                 AND o_orderkey % 2 = 0)
      UNION ALL
      SELECT 'pre_delete', COUNT(*), CAST(SUM(o_orderkey) AS BIGINT),
             CAST(SUM(CAST(ROUND(o_totalprice * 1e2) AS BIGINT)) AS DOUBLE) / 1e2
      FROM orders
      ORDER BY leg
    """),
    prepare = Some((s, d) => {
      Fixtures.master(s, d, "orders3")(ordersSplit3(s, d)); ()
    }),
    eager = true)

  /** The reference's LITERAL mutation statements — all three of its
    * DELETEs are IN-SUBQUERY deletes — run shape-verbatim through
    * `spark.sql` against one store ([[graft.sources.GraftDmlRule]]
    * routes uncorrelated subquery predicates into
    * [[graft.ops.Dml.delete]], which re-plans them as existence joins
    * inside its discovery/rewrite Filters):
    *
    *  1. the silver dup-delete whose predicate SELF-REFERENCES the
    *     table through GROUP BY … HAVING COUNT(*) > 1 OR'd with
    *     scalar conditions (dags/DataWarehouse.py:531-540) — the
    *     in-body `require` pins PRE-IMAGE semantics: ALL copies of a
    *     duplicated key go, never "all but one" (the subquery reads
    *     the pinned pre-delete snapshot);
    *  2. the correction-loop upsert: DELETE … WHERE key IN (SELECT
    *     key FROM staging) then INSERT the staging rows
    *     (dags/Reprocessing.py:117-126);
    *  3. the staging-dedup delete: IN over a two-table JOIN subquery
    *     (dags/DataWarehouse.py:666-673).
    *
    * The oracle replays the full three-statement algebra in DuckDB
    * (same IN-subquery semantics, same pre-image reads via CTE
    * staging of each state). */
  val storeSqlDeleteSubquery = GQuery(
    "q_sql_delete_subquery",
    (s, d) => {
      // dup/dirty seeding (keys < 2000 doubled, offset negative-price
      // rows) branches from the ordersDupDirty master — the states the
      // reference's cleanup statement exists to remove, pre-built once
      val root = Fixtures.branch(s, d, "delsub")(ordersDupDirty(s, d))
      val base = Tables.orders(s, d)
        .select("o_orderkey", "o_custkey", "o_totalprice")
      s.conf.set("spark.sql.catalog.gdsub",
        classOf[graft.sources.GraftCatalog].getName)
      // 1. DataWarehouse.py:531-540, shape verbatim
      s.sql(s"""
        DELETE FROM gdsub.`$root`
        WHERE o_totalprice < 0
           OR o_orderkey IN (
               SELECT o_orderkey FROM gdsub.`$root`
               GROUP BY o_orderkey HAVING COUNT(*) > 1)""").collect()
      require(s.sql(s"SELECT COUNT(*) FROM gdsub.`$root` " +
        "WHERE o_orderkey < 2000").head.getLong(0) == 0L,
        "pre-image dup delete must remove ALL copies of a dup key")
      // 2. Reprocessing.py:117-126 — the correction upsert
      base.where(col("o_orderkey").between(8000L, 9000L))
        .withColumn("o_totalprice", col("o_totalprice") + 500.0)
        .createOrReplaceTempView("gate_delsub_stg")
      s.sql(s"DELETE FROM gdsub.`$root` WHERE o_orderkey IN " +
        "(SELECT o_orderkey FROM gate_delsub_stg)").collect()
      s.sql(s"INSERT INTO gdsub.`$root` SELECT * FROM gate_delsub_stg")
      // 3. DataWarehouse.py:666-673 — IN over a join subquery
      base.where(col("o_orderkey").between(3000L, 4000L))
        .select("o_orderkey").createOrReplaceTempView("gate_delsub_a")
      base.where(col("o_orderkey").between(3500L, 4500L))
        .select("o_orderkey").createOrReplaceTempView("gate_delsub_b")
      s.sql(s"""
        DELETE FROM gdsub.`$root`
        WHERE o_orderkey IN (
            SELECT x.o_orderkey FROM gate_delsub_a x
            JOIN gate_delsub_b y ON x.o_orderkey = y.o_orderkey)""")
        .collect()
      s.sql(s"""
        SELECT COUNT(*) AS n_rows, SUM(o_orderkey) AS key_sum,
               CAST(SUM(CAST(ROUND(o_totalprice * 1e2) AS BIGINT))
                 AS DOUBLE) / 1e2 AS total_price,
               COUNT(CASE WHEN o_orderkey < 2000 THEN 1 END)
                 AS n_dup_range
        FROM gdsub.`$root`""")
    },
    Some("""
      WITH base AS (
        SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      ), t0 AS (
        SELECT * FROM base
        UNION ALL SELECT * FROM base WHERE o_orderkey < 2000
        UNION ALL SELECT o_orderkey + 100000000, o_custkey,
                         -o_totalprice
                  FROM base WHERE o_orderkey BETWEEN 2200 AND 2400
      ), t1 AS (
        SELECT * FROM t0
        WHERE NOT (o_totalprice < 0 OR o_orderkey IN (
          SELECT o_orderkey FROM t0
          GROUP BY o_orderkey HAVING COUNT(*) > 1))
      ), stg AS (
        SELECT o_orderkey, o_custkey, o_totalprice + 500.0 AS o_totalprice
        FROM base WHERE o_orderkey BETWEEN 8000 AND 9000
      ), t2 AS (
        SELECT * FROM t1
        WHERE o_orderkey NOT IN (SELECT o_orderkey FROM stg)
        UNION ALL SELECT * FROM stg
      ), j AS (
        SELECT x.o_orderkey AS k
        FROM (SELECT o_orderkey FROM base
              WHERE o_orderkey BETWEEN 3000 AND 4000) x
        JOIN (SELECT o_orderkey FROM base
              WHERE o_orderkey BETWEEN 3500 AND 4500) y
          ON x.o_orderkey = y.o_orderkey
      ), t3 AS (
        SELECT * FROM t2 WHERE o_orderkey NOT IN (SELECT k FROM j)
      )
      SELECT COUNT(*) AS n_rows,
             CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
             CAST(SUM(CAST(ROUND(o_totalprice * 1e2) AS BIGINT))
               AS DOUBLE) / 1e2 AS total_price,
             COUNT(CASE WHEN o_orderkey < 2000 THEN 1 END)
               AS n_dup_range
      FROM t3
    """),
    prepare = Some((s, d) => {
      Fixtures.master(s, d, "delsub")(ordersDupDirty(s, d)); ()
    }),
    eager = true)

  /** `UPDATE` on the SQL surface → [[graft.ops.Dml.update]]: a keyed
    * range update over two columns (simultaneous assignment against
    * the ORIGINAL row), the two out-of-range files carried over live
    * by the same log entries (`require`), and the whole final state
    * digested per order-status group so a mis-scoped update (wrong
    * rows, wrong columns, chained assignment) breaks the hash. */
  val storeSqlUpdate = GQuery(
    "q_sql_update",
    (s, d) => {
      val root = Fixtures.branch(s, d, "orders3")(ordersSplit3(s, d))
      val src = Tables.orders(s, d)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      s.conf.set("spark.sql.catalog.gdmlq",
        classOf[graft.sources.GraftCatalog].getName)
      val (lo, hi) = split3(s, d)
      val before = graft.ops.TableStore.liveAt(s, root, 1L).map(_.path)
      s.sql(s"UPDATE gdmlq.`$root` SET " +
        "o_totalprice = o_totalprice + 1000.0, " +
        "o_orderstatus = concat('U', o_orderstatus) " +
        s"WHERE o_orderkey >= $lo AND o_orderkey < $hi").collect()
      val after = graft.ops.TableStore.liveAt(s, root,
        graft.ops.TableStore.versions(s, root).last).map(_.path).toSet
      require(before.isEmpty || before.count(after.contains) == 2,
        s"UPDATE must carry the two unpruned files over live: " +
          s"$before -> $after")
      s.sql(s"""
        SELECT o_orderstatus, COUNT(*) AS n_rows,
               SUM(o_orderkey) AS key_sum,
               CAST(SUM(CAST(ROUND(o_totalprice * 1e2) AS BIGINT)) AS DOUBLE) / 1e2
                 AS total_price
        FROM gdmlq.`$root`
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus""")
    },
    Some(s"""
      WITH b AS ($Split3Sql)
      SELECT CASE WHEN o_orderkey >= b.lo AND o_orderkey < b.hi
                  THEN 'U' || o_orderstatus ELSE o_orderstatus END
               AS o_orderstatus,
             COUNT(*) AS n_rows,
             CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
             CAST(SUM(CAST(ROUND(
               (CASE WHEN o_orderkey >= b.lo AND o_orderkey < b.hi
                     THEN o_totalprice + 1000.0 ELSE o_totalprice END)
               * 1e2) AS BIGINT)) AS DOUBLE) / 1e2 AS total_price
      FROM orders, b
      GROUP BY 1
      ORDER BY o_orderstatus
    """),
    prepare = Some((s, d) => {
      Fixtures.master(s, d, "orders3")(ordersSplit3(s, d)); ()
    }),
    eager = true)

  /** `MERGE INTO` on the SQL surface → [[graft.ops.Dml.merge]]: one
    * statement carrying all three clause families — a conditional
    * matched DELETE, a matched UPDATE reading BOTH sides, and a
    * NOT MATCHED INSERT landing synthetic high keys — against a
    * three-file store. The `require` pins the high-range file live
    * (its keys match nothing; exact discovery must spare it even
    * though the source's key span covers everything). The oracle
    * restates the slice algebra from the source table. */
  val storeSqlMerge = GQuery(
    "q_sql_merge",
    (s, d) => {
      val root = Fixtures.branch(s, d, "orders3")(ordersSplit3(s, d))
      val src = Tables.orders(s, d)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      s.conf.set("spark.sql.catalog.gdmlq",
        classOf[graft.sources.GraftCatalog].getName)
      // the high-range file holds no matched key — it must survive
      // empty-corpus sweeps have no files at all — Option, not throw
      val highFile = graft.ops.TableStore.liveAt(s, root, 1L)
        .find(_.mins.get("o_orderkey").exists(_ >= 10000L))
        .map(_.path)
      src.where(col("o_orderkey") < 7500L)
        .select(col("o_orderkey").as("m_key"),
          col("o_orderstatus").as("m_status"),
          col("o_totalprice").as("m_price"))
        .union(src.where(
          col("o_orderkey") >= 10000L && col("o_orderkey") < 12500L)
          .select((col("o_orderkey") + 100000000L).as("m_key"),
            col("o_orderstatus").as("m_status"),
            col("o_totalprice").as("m_price")))
        .createOrReplaceTempView("gate_merge_src")
      s.sql(s"""
        MERGE INTO gdmlq.`$root` t USING gate_merge_src s
        ON t.o_orderkey = s.m_key
        WHEN MATCHED AND s.m_key >= 5000 THEN DELETE
        WHEN MATCHED THEN UPDATE SET
          o_totalprice = t.o_totalprice + s.m_price
        WHEN NOT MATCHED THEN INSERT
          (o_orderkey, o_orderstatus, o_totalprice)
          VALUES (s.m_key, s.m_status, s.m_price)""").collect()
      val after = graft.ops.TableStore.liveAt(s, root,
        graft.ops.TableStore.versions(s, root).last).map(_.path).toSet
      require(highFile.forall(after.contains),
        s"MERGE exact discovery must spare the unmatched high file " +
          s"$highFile: $after")
      s.sql(s"""
        SELECT COUNT(*) AS n_rows, SUM(o_orderkey) AS key_sum,
               CAST(SUM(CAST(ROUND(o_totalprice * 1e2) AS BIGINT)) AS DOUBLE) / 1e2
                 AS total_price,
               COUNT(DISTINCT o_orderstatus) AS n_status
        FROM gdmlq.`$root`""")
    },
    Some("""
      WITH survivors AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey < 7500
                    THEN o_totalprice + o_totalprice
                    ELSE o_totalprice END AS o_totalprice,
               o_orderstatus
        FROM orders
        WHERE NOT (o_orderkey >= 5000 AND o_orderkey < 7500)
      ), inserted AS (
        SELECT o_orderkey + 100000000 AS o_orderkey,
               o_totalprice, o_orderstatus
        FROM orders
        WHERE o_orderkey >= 10000 AND o_orderkey < 12500
      ), final AS (
        SELECT * FROM survivors UNION ALL SELECT * FROM inserted
      )
      SELECT COUNT(*) AS n_rows,
             CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
             CAST(SUM(CAST(ROUND(o_totalprice * 1e2) AS BIGINT)) AS DOUBLE) / 1e2
               AS total_price,
             COUNT(DISTINCT o_orderstatus) AS n_status
      FROM final
    """),
    prepare = Some((s, d) => {
      Fixtures.master(s, d, "orders3")(ordersSplit3(s, d)); ()
    }),
    eager = true)

  /** The maintenance lifecycle as SQL (`CALL` procedures,
    * [[graft.sources.GraftProcedures]]): constraint declaration,
    * small-file OPTIMIZE, and a zero-mutation VACUUM dry run — each
    * returning its evidence row, each the same TableStore commit the
    * API takes. The digest carries SF-STABLE evidence (content sums,
    * version counts, boolean contract bits) so a procedure that
    * mutated the wrong thing — or a dry run that mutated ANYTHING —
    * breaks the hash, not just a spec. */
  val storeSqlMaintenance = GQuery(
    "q_sql_maintenance",
    (s, d) => {
      val root = graft.TempRoots.create("graft_sqlmx") + "/orders"
      val src = Tables.orders(s, d)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      // six small key-ranged commits: the compaction fodder
      (0 until 6).foreach { i =>
        graft.ops.TableStore.append(
          src.where(col("o_orderkey") % 6 === i).coalesce(1), root,
          statsCols = Seq("o_orderkey"))
      }
      s.conf.set("spark.sql.catalog.gmx",
        classOf[graft.sources.GraftCatalog].getName)
      s.sql(s"CALL gmx.add_constraint(table => '$root', " +
        "name => 'price_pos', expr => 'o_totalprice >= 0')").collect()
      val filesBefore = graft.ops.TableStore.liveAt(s, root, 7L).size
      // target 1 GiB: the six slices must classify as small at every
      // stamped SF (sf10's sixths are ~100 MB) for the fold to fire
      val opt = s.sql(s"CALL gmx.optimize(table => '$root', " +
        "target_mb => 1024, stats_cols => 'o_orderkey')").collect().head
      require(filesBefore == 0 || opt.getLong(0) == 8L,
        s"optimize commit version: $opt")
      val filesAfter = opt.getLong(1)
      val dry = s.sql(s"CALL gmx.vacuum(table => '$root', " +
        "keep_versions => 2, dry_run => true)").collect().head
      // dry run evidence: horizon 7, six versions dropped, nothing run
      val v1Readable =
        try { graft.ops.TableStore.read(s, root, Some(1L)).limit(1)
          .count() >= 0L }
        catch { case _: Throwable => false }
      s.sql(s"""
        SELECT COUNT(*) AS n_rows, SUM(o_orderkey) AS key_sum,
               CAST(SUM(CAST(ROUND(o_totalprice * 1e2) AS BIGINT)) AS DOUBLE) / 1e2
                 AS total_price,
               CAST(${if (filesAfter <= filesBefore && filesAfter >= 1)
                   1 else 0} AS BIGINT) AS files_folded,
               CAST(${dry.getLong(0)} AS BIGINT) AS horizon,
               CAST(${dry.getLong(1)} AS BIGINT) AS versions_dropped,
               CAST(${if (!dry.getBoolean(4) && v1Readable) 1 else 0}
                 AS BIGINT) AS dry_run_zero_mutation
        FROM gmx.`$root`""")
    },
    Some("""
      SELECT COUNT(*) AS n_rows,
             CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
             CAST(SUM(CAST(ROUND(o_totalprice * 1e2) AS BIGINT)) AS DOUBLE) / 1e2
               AS total_price,
             CAST(1 AS BIGINT) AS files_folded,
             CAST(7 AS BIGINT) AS horizon,
             CAST(6 AS BIGINT) AS versions_dropped,
             CAST(1 AS BIGINT) AS dry_run_zero_mutation
      FROM orders
    """),
    eager = true)

  /** DDL on the SQL surface: `CREATE TABLE … AS SELECT` anchors a
    * fresh store and lands the query as ONE ordinary append commit
    * (`require` pins versions == [1]); a follow-up `INSERT INTO`
    * proves the created store is a full citizen of the write path;
    * the digest reads both the latest state and the CTAS snapshot
    * (`VERSION AS OF 1`) back through SQL. The oracle restates both
    * states from the source slices. */
  val storeSqlCtas = GQuery(
    "q_sql_ctas",
    (s, d) => {
      val root = graft.TempRoots.create("graft_sqlctas") + "/orders"
      s.conf.set("spark.sql.catalog.gctas",
        classOf[graft.sources.GraftCatalog].getName)
      Tables.orders(s, d)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .createOrReplaceTempView("gate_ctas_src")
      s.sql(s"CREATE TABLE gctas.`$root` AS " +
        "SELECT * FROM gate_ctas_src WHERE o_orderkey < 10000")
      require(graft.ops.TableStore.versions(s, root) == Seq(1L),
        "CTAS must land exactly one commit")
      s.sql(s"INSERT INTO gctas.`$root` " +
        "SELECT * FROM gate_ctas_src WHERE o_orderkey >= 10000")
      s.sql(s"""
        SELECT 'latest' AS leg, COUNT(*) AS n_rows,
               SUM(o_orderkey) AS key_sum,
               CAST(SUM(CAST(ROUND(o_totalprice * 1e2) AS BIGINT)) AS DOUBLE) / 1e2
                 AS total_price
        FROM gctas.`$root`
        UNION ALL
        SELECT 'ctas_snapshot', COUNT(*), SUM(o_orderkey),
               CAST(SUM(CAST(ROUND(o_totalprice * 1e2) AS BIGINT)) AS DOUBLE) / 1e2
        FROM gctas.`$root` VERSION AS OF 1
        ORDER BY leg""")
    },
    Some("""
      SELECT 'latest' AS leg, COUNT(*) AS n_rows,
             CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
             CAST(SUM(CAST(ROUND(o_totalprice * 1e2) AS BIGINT)) AS DOUBLE) / 1e2
               AS total_price
      FROM orders
      UNION ALL
      SELECT 'ctas_snapshot', COUNT(*), CAST(SUM(o_orderkey) AS BIGINT),
             CAST(SUM(CAST(ROUND(o_totalprice * 1e2) AS BIGINT)) AS DOUBLE) / 1e2
      FROM orders WHERE o_orderkey < 10000
      ORDER BY leg
    """),
    eager = true)

  /** Metadata-only COUNT(*) ([[graft.sources.GraftRewrite]]'s count
    * pre-pass): a bare count over a store answers from the log's
    * per-file footer row counts — zero data IO (SqlStoreSpec pins the
    * no-scan plan; this gate pins the VALUES across the states that
    * could break the sum: post-append, post-DELETE (the log shrinks),
    * and a time-travel pin (the historical log slice)). The filtered
    * count rides along as the scan-path control — if the rewrite ever
    * over-matched a filtered count, this digest breaks. */
  val storeSqlCountMeta = GQuery(
    "q_sql_count_meta",
    (s, d) => {
      val root = graft.TempRoots.create("graft_sqlcnt") + "/orders"
      val src = Tables.orders(s, d)
        .select("o_orderkey", "o_totalprice")
      Seq(col("o_orderkey") < 5000L,
        col("o_orderkey") >= 5000L && col("o_orderkey") < 10000L,
        col("o_orderkey") >= 10000L).foreach(p =>
        graft.ops.TableStore.append(src.where(p).coalesce(1), root,
          statsCols = Seq("o_orderkey")))
      s.conf.set("spark.sql.catalog.gcnt",
        classOf[graft.sources.GraftCatalog].getName)
      s.sql(s"DELETE FROM gcnt.`$root` WHERE o_orderkey >= 5000 " +
        "AND o_orderkey < 10000 AND o_orderkey % 3 = 0").collect()
      s.sql(s"""
        SELECT 'latest_meta' AS leg,
               (SELECT COUNT(*) FROM gcnt.`$root`) AS n
        UNION ALL
        SELECT 'v3_meta',
               (SELECT COUNT(*) FROM gcnt.`$root` VERSION AS OF 3)
        UNION ALL
        SELECT 'filtered_scan',
               (SELECT COUNT(*) FROM gcnt.`$root`
                WHERE o_orderkey < 5000)
        ORDER BY leg""")
    },
    Some("""
      SELECT 'latest_meta' AS leg,
             (SELECT COUNT(*) FROM orders
              WHERE NOT (o_orderkey >= 5000 AND o_orderkey < 10000
                         AND o_orderkey % 3 = 0)) AS n
      UNION ALL
      SELECT 'v3_meta', (SELECT COUNT(*) FROM orders)
      UNION ALL
      SELECT 'filtered_scan',
             (SELECT COUNT(*) FROM orders WHERE o_orderkey < 5000)
      ORDER BY leg
    """),
    eager = true)

  /** Merge-on-read DELETE on the SQL surface
    * (`SET spark.graft.dml.deleteMode = mor` → [[graft.ops.Dml]]
    * routes to delete vectors): the same keyed DELETE as q_sql_delete
    * but the data files stay BYTE-IDENTICAL (the in-body `require`
    * pins every pre-delete file still live — a one-row delete at
    * 100 TB is a KB-sized vector commit), reads apply the vector, and
    * `CALL purge_deletes` folds it back into clean files with the
    * content unchanged. Digests the MoR state AND the post-purge
    * state against one slice-algebra oracle (both must equal it). */
  val storeSqlDeleteMor = GQuery(
    "q_sql_delete_mor",
    (s, d) => {
      val root = Fixtures.branch(s, d, "orders3")(ordersSplit3(s, d))
      val src = Tables.orders(s, d)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      s.conf.set("spark.sql.catalog.gmor",
        classOf[graft.sources.GraftCatalog].getName)
      val before = graft.ops.TableStore.liveAt(s, root, 1L)
        .map(_.path).toSet
      s.conf.set(graft.ops.Dml.DeleteModeKey, "mor")
      try s.sql(s"DELETE FROM gmor.`$root` WHERE o_orderkey >= 5000 " +
        "AND o_orderkey < 10000 AND o_orderkey % 2 = 0").collect()
      finally s.conf.set(graft.ops.Dml.DeleteModeKey, "cow")
      val after = graft.ops.TableStore.liveAt(s, root,
        graft.ops.TableStore.versions(s, root).last).map(_.path).toSet
      require(before.subsetOf(after),
        s"merge-on-read must keep every data file live: " +
          s"$before -> $after")
      val morLeg = s.sql(s"""
        SELECT 'mor' AS leg, COUNT(*) AS n_rows,
               SUM(o_orderkey) AS key_sum,
               CAST(SUM(CAST(ROUND(o_totalprice * 1e2) AS BIGINT))
                 AS DOUBLE) / 1e2 AS total_price
        FROM gmor.`$root`""")
      // one proportional fold later, the content is identical
      s.sql(s"CALL gmor.purge_deletes(table => '$root')").collect()
      morLeg.unionAll(s.sql(s"""
        SELECT 'purged' AS leg, COUNT(*) AS n_rows,
               SUM(o_orderkey) AS key_sum,
               CAST(SUM(CAST(ROUND(o_totalprice * 1e2) AS BIGINT))
                 AS DOUBLE) / 1e2 AS total_price
        FROM gmor.`$root`""")).orderBy("leg")
    },
    Some("""
      WITH kept AS (
        SELECT * FROM orders
        WHERE NOT (o_orderkey >= 5000 AND o_orderkey < 10000
                   AND o_orderkey % 2 = 0))
      SELECT 'mor' AS leg, COUNT(*) AS n_rows,
             CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
             CAST(SUM(CAST(ROUND(o_totalprice * 1e2) AS BIGINT))
               AS DOUBLE) / 1e2 AS total_price
      FROM kept
      UNION ALL
      SELECT 'purged', COUNT(*), CAST(SUM(o_orderkey) AS BIGINT),
             CAST(SUM(CAST(ROUND(o_totalprice * 1e2) AS BIGINT))
               AS DOUBLE) / 1e2
      FROM kept
      ORDER BY leg
    """),
    prepare = Some((s, d) => {
      Fixtures.master(s, d, "orders3")(ordersSplit3(s, d)); ()
    }),
    eager = true)

  /** `TRUNCATE TABLE` on the SQL surface
    * ([[graft.sources.GraftStoreTable]].truncateTable → the
    * unconditional [[graft.ops.Dml.delete]]): METADATA-ONLY — the
    * in-body `require`s pin zero live files after one commit with the
    * data bytes untouched on disk (history reads them) — then the
    * store keeps working (INSERT lands as the next commit) and the
    * pre-truncate snapshot stays readable. Three digest legs against
    * a DuckDB restating. */
  val storeSqlTruncate = GQuery(
    "q_sql_truncate",
    (s, d) => {
      val root = graft.TempRoots.create("graft_sqltrunc") + "/orders"
      val src = Tables.orders(s, d)
        .select("o_orderkey", "o_totalprice")
      graft.ops.TableStore.append(
        src.where(col("o_orderkey") < 10000L).coalesce(1), root)
      graft.ops.TableStore.append(
        src.where(col("o_orderkey") >= 10000L).coalesce(1), root)
      s.conf.set("spark.sql.catalog.gtrunc",
        classOf[graft.sources.GraftCatalog].getName)
      val dataFiles = graft.ops.TableStore.liveAt(s, root, 2L).map(_.path)
      s.sql(s"TRUNCATE TABLE gtrunc.`$root`").collect()
      require(graft.ops.TableStore.versions(s, root) == Seq(1L, 2L, 3L),
        "TRUNCATE must land as exactly one commit")
      require(graft.ops.TableStore.liveAt(s, root, 3L).isEmpty,
        "TRUNCATE must empty the live set")
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      require(dataFiles.forall(p =>
        fs.exists(new org.apache.hadoop.fs.Path(s"$root/$p"))),
        "TRUNCATE must be metadata-only — data bytes untouched")
      src.where(col("o_orderkey") < 2500L)
        .createOrReplaceTempView("gate_trunc_reload")
      s.sql(s"INSERT INTO gtrunc.`$root` " +
        "SELECT * FROM gate_trunc_reload")
      s.sql(s"""
        SELECT 'pre_truncate' AS leg, COUNT(*) AS n_rows,
               SUM(o_orderkey) AS key_sum
        FROM gtrunc.`$root` VERSION AS OF 2
        UNION ALL
        SELECT 'post_truncate', COUNT(*), SUM(o_orderkey)
        FROM gtrunc.`$root` VERSION AS OF 3
        UNION ALL
        SELECT 'reloaded', COUNT(*), SUM(o_orderkey)
        FROM gtrunc.`$root`
        ORDER BY leg""")
    },
    Some("""
      SELECT 'post_truncate' AS leg, CAST(0 AS BIGINT) AS n_rows,
             CAST(NULL AS BIGINT) AS key_sum
      UNION ALL
      SELECT 'pre_truncate', COUNT(*), CAST(SUM(o_orderkey) AS BIGINT)
      FROM orders
      UNION ALL
      SELECT 'reloaded', COUNT(*), CAST(SUM(o_orderkey) AS BIGINT)
      FROM orders WHERE o_orderkey < 2500
      ORDER BY leg
    """),
    eager = true)

  /** `UPDATE` with a SUBQUERY predicate — the update-shaped half of
    * the reference's correction loop (Reprocessing.py repairs rows it
    * previously rejected; the IN-subquery selects them). The engine
    * takes the two-Filter rewrite shape ([[graft.ops.Dml.update]]:
    * IN/EXISTS are not plannable inside a projection, so matched rows
    * select assignments and unmatched rows pass through, both behind
    * Filters Spark re-plans as existence joins). The predicate MIXES
    * a prunable range conjunct with the subquery — the in-body
    * `require` pins the two out-of-range files live-by-the-same-log-
    * entry (the prune works off the translatable conjuncts even when
    * a subquery rides along). */
  val storeSqlUpdateSubquery = GQuery(
    "q_sql_update_subquery",
    (s, d) => {
      val root = Fixtures.branch(s, d, "orders3")(ordersSplit3(s, d))
      val src = Tables.orders(s, d)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      s.conf.set("spark.sql.catalog.gusub",
        classOf[graft.sources.GraftCatalog].getName)
      // the selected band sits inside the updated range: 6000..7000
      // at the 5000/10000 split
      val (lo, hi) = split3(s, d)
      src.where(col("o_orderkey").between(lo + (hi - lo) / 5,
          lo + 2 * (hi - lo) / 5))
        .select("o_orderkey")
        .createOrReplaceTempView("gate_updsub_sel")
      val before = graft.ops.TableStore.liveAt(s, root, 1L).map(_.path)
      s.sql(s"""
        UPDATE gusub.`$root`
        SET o_totalprice = o_totalprice + 100.0,
            o_orderstatus = concat('R', o_orderstatus)
        WHERE o_orderkey >= $lo AND o_orderkey < $hi
          AND o_orderkey IN (SELECT o_orderkey FROM gate_updsub_sel)""")
        .collect()
      val after = graft.ops.TableStore.liveAt(s, root,
        graft.ops.TableStore.versions(s, root).last).map(_.path).toSet
      require(before.isEmpty || before.count(after.contains) == 2,
        s"the range conjunct must carry the two out-of-range files " +
          s"over live even with a subquery riding along: " +
          s"$before -> $after")
      s.sql(s"""
        SELECT o_orderstatus, COUNT(*) AS n_rows,
               SUM(o_orderkey) AS key_sum,
               CAST(SUM(CAST(ROUND(o_totalprice * 1e2) AS BIGINT))
                 AS DOUBLE) / 1e2 AS total_price
        FROM gusub.`$root`
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus""")
    },
    Some(s"""
      WITH b AS ($Split3Sql),
      r AS (SELECT lo + (hi - lo) // 5 AS a,
                   lo + 2 * (hi - lo) // 5 AS z FROM b)
      SELECT CASE WHEN o_orderkey BETWEEN r.a AND r.z
                  THEN 'R' || o_orderstatus ELSE o_orderstatus END
               AS o_orderstatus,
             COUNT(*) AS n_rows,
             CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
             CAST(SUM(CAST(ROUND(
               (CASE WHEN o_orderkey BETWEEN r.a AND r.z
                     THEN o_totalprice + 100.0 ELSE o_totalprice END)
               * 1e2) AS BIGINT)) AS DOUBLE) / 1e2 AS total_price
      FROM orders, r
      GROUP BY 1
      ORDER BY o_orderstatus
    """),
    prepare = Some((s, d) => {
      Fixtures.master(s, d, "orders3")(ordersSplit3(s, d)); ()
    }),
    eager = true)

  /** `ALTER TABLE ADD COLUMN` on the SQL surface
    * ([[graft.sources.GraftCatalog]].alterTable →
    * [[graft.ops.TableStore.alterSchema]]): one metadata commit, zero
    * data IO (the in-body `require` pins the live file set
    * byte-identical across the ALTER), pre-ALTER files resolve the
    * column to null inside the reader, a post-ALTER INSERT carries
    * values, time travel keeps the pre-ALTER snapshot's OWN schema
    * (`require` pins the column list), and the change feed resolves
    * across the boundary (the readAs posture) — digested as three
    * legs against a DuckDB restating of the same slice algebra. */
  val storeSqlAddColumn = GQuery(
    "q_sql_add_column",
    (s, d) => {
      val root = graft.TempRoots.create("graft_sqladdcol") + "/orders"
      val base = Tables.orders(s, d)
        .select("o_orderkey", "o_totalprice")
      graft.ops.TableStore.append(
        base.where(col("o_orderkey") < 10000L).coalesce(1), root,
        statsCols = Seq("o_orderkey"))
      graft.ops.TableStore.append(
        base.where(col("o_orderkey") >= 10000L).coalesce(1), root,
        statsCols = Seq("o_orderkey"))
      s.conf.set("spark.sql.catalog.galt",
        classOf[graft.sources.GraftCatalog].getName)
      val filesBefore = graft.ops.TableStore.liveAt(s, root, 2L)
        .map(_.path).toSet
      s.sql(s"ALTER TABLE galt.`$root` ADD COLUMN o_note STRING")
      require(graft.ops.TableStore.versions(s, root) == Seq(1L, 2L, 3L),
        "ALTER must land as exactly one metadata commit")
      require(graft.ops.TableStore.liveAt(s, root, 3L).map(_.path)
        .toSet == filesBefore,
        "ALTER must be zero data IO — same live files")
      base.where(col("o_orderkey") < 2500L)
        .select((col("o_orderkey") + 200000000L).as("o_orderkey"),
          col("o_totalprice"),
          concat(lit("n"), col("o_orderkey")).as("o_note"))
        .createOrReplaceTempView("gate_addcol_ins")
      s.sql(s"INSERT INTO galt.`$root` SELECT * FROM gate_addcol_ins")
      require(s.table(s"galt.`$root`").schema.fieldNames.toSeq ==
        Seq("o_orderkey", "o_totalprice", "o_note"),
        "latest must read under the declared schema")
      require(s.sql(s"SELECT * FROM galt.`$root` VERSION AS OF 2")
        .schema.fieldNames.toSeq == Seq("o_orderkey", "o_totalprice"),
        "the pre-ALTER snapshot keeps its own schema")
      s.sql(s"""
        SELECT 'latest' AS leg, COUNT(*) AS n_rows,
               SUM(o_orderkey) AS key_sum,
               COUNT(o_note) AS n_notes
        FROM galt.`$root`
        UNION ALL
        SELECT 'pre_alter', COUNT(*), SUM(o_orderkey),
               CAST(-1 AS BIGINT)
        FROM galt.`$root` VERSION AS OF 2
        UNION ALL
        SELECT 'feed', COUNT(*), SUM(o_orderkey), COUNT(o_note)
        FROM table_changes('$root', 1)
        ORDER BY leg""")
    },
    Some("""
      WITH base AS (
        SELECT o_orderkey, o_totalprice FROM orders
      ), ins AS (
        SELECT o_orderkey + 200000000 AS o_orderkey, o_totalprice,
               'n' || o_orderkey AS o_note
        FROM base WHERE o_orderkey < 2500
      ), latest AS (
        SELECT o_orderkey, NULL AS o_note FROM base
        UNION ALL SELECT o_orderkey, o_note FROM ins
      ), feedset AS (
        SELECT o_orderkey, NULL AS o_note FROM base
        WHERE o_orderkey >= 10000
        UNION ALL SELECT o_orderkey, o_note FROM ins
      )
      SELECT 'latest' AS leg, COUNT(*) AS n_rows,
             CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
             COUNT(o_note) AS n_notes
      FROM latest
      UNION ALL
      SELECT 'pre_alter', COUNT(*), CAST(SUM(o_orderkey) AS BIGINT),
             CAST(-1 AS BIGINT)
      FROM base
      UNION ALL
      SELECT 'feed', COUNT(*), CAST(SUM(o_orderkey) AS BIGINT),
             COUNT(o_note)
      FROM feedset
      ORDER BY leg
    """),
    eager = true)

  /** The cross-table consistency guarantee on the SQL surface: the
    * `run_manifest(root)` TVF ([[graft.ops.RunManifest.currentFrame]])
    * resolves the latest PUBLISHED (silver, gold) pins with one
    * SELECT, and the pinned layer reads back through ordinary
    * `VERSION AS OF` — the pure-SQL consumer loop the reference's
    * quality checks are (dags/SQL/DWH_Quality_Checks.sql). The gate
    * publishes run 1, then lands a HALF-FINISHED tick 2 (silver
    * committed, gold never refreshed, manifest never published): the
    * SQL consumer must keep resolving tick 1's consistent pair, and
    * the in-body `require` pins the SQL pinned-read hash-equal to
    * [[graft.ops.RunManifest.readLayer]]. */
  val storeSqlManifest = GQuery(
    "q_store_sql_manifest",
    (s, d) => {
      val base = graft.TempRoots.create("graft_sqlmanifest")
      val silver = s"$base/silver"
      val gold = s"$base/gold"
      val manifest = s"$base/_runs"
      val src = Tables.orders(s, d)
        .select("o_orderkey", "o_totalprice")
      // tick 1: silver load, gold refresh, publish LAST
      val sv1 = graft.ops.TableStore.append(
        src.where(col("o_orderkey") < 10000L).coalesce(1), silver)
      val gv1 = graft.ops.TableStore.append(
        graft.ops.TableStore.read(s, silver, Some(sv1))
          .agg(count(lit(1)).as("n"),
            sum("o_orderkey").as("key_sum")).coalesce(1), gold)
      graft.ops.RunManifest.publish(s, manifest, 1L,
        Map("silver" -> (silver, sv1), "gold" -> (gold, gv1)))
      // tick 2 CRASHES between the silver commit and the gold refresh
      graft.ops.TableStore.append(
        src.where(col("o_orderkey") >= 10000L).coalesce(1), silver)
      s.conf.set("spark.sql.catalog.gman",
        classOf[graft.sources.GraftCatalog].getName)
      // the SQL consumer: resolve pins, read the pinned layer
      val pins = s.sql(
        s"SELECT layer, version FROM run_manifest('$manifest')")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      require(pins == Map("silver" -> sv1, "gold" -> gv1),
        s"SQL pins must be tick 1's pair: $pins")
      val sqlRead = s.sql(s"SELECT COUNT(*) AS n, SUM(o_orderkey) AS k " +
        s"FROM gman.`$silver` VERSION AS OF ${pins("silver")}")
        .collect().head
      val apiRead = graft.ops.RunManifest.readLayer(s, manifest, "silver")
        .agg(count(lit(1)), sum("o_orderkey")).collect().head
      require(sqlRead == apiRead,
        s"SQL pinned read must equal readLayer: $sqlRead vs $apiRead")
      s.sql(s"""
        SELECT m.layer, m.version, d.n_rows, d.key_sum
        FROM run_manifest('$manifest') m
        CROSS JOIN (
          SELECT COUNT(*) AS n_rows, SUM(o_orderkey) AS key_sum
          FROM gman.`$silver` VERSION AS OF ${pins("silver")}) d
        ORDER BY m.layer""")
    },
    Some("""
      WITH d AS (
        SELECT COUNT(*) AS n_rows,
               CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
        FROM orders WHERE o_orderkey < 10000
      )
      SELECT 'gold' AS layer, CAST(1 AS BIGINT) AS version,
             n_rows, key_sum FROM d
      UNION ALL
      SELECT 'silver', CAST(1 AS BIGINT), n_rows, key_sum FROM d
      ORDER BY layer
    """),
    eager = true)

  /** `ALTER TABLE … ALTER COLUMN … TYPE` widening on the SQL surface
    * — the key-outgrew-INT evolution every long-lived warehouse hits
    * (the reference's DDL declares INTEGER keys,
    * dags/SQL/create_table_datawarehouse.sql; at 100 TB the fix must
    * be metadata-only). [[graft.sources.GraftCatalog.alterTable]] →
    * [[graft.ops.TableStore.alterSchema]]: one schema commit, zero
    * data IO, pre-widen files up-cast inside the parquet reader,
    * log-stats pruning still exact in the widened type (in-body
    * prunedFiles evidence rides the hash), pre-widen snapshots
    * keep their own narrow schema (`require`). */
  val storeSqlWidenColumn = GQuery(
    "q_sql_widen_column",
    (s, d) => {
      val root = graft.TempRoots.create("graft_sqlwiden") + "/orders"
      val base = Tables.orders(s, d)
        .select(col("o_orderkey").cast("int").as("o_key"),
          col("o_totalprice"))
      val (lo, hi) = split3(s, d)
      graft.ops.TableStore.append(
        base.where(col("o_key") < hi).coalesce(1), root,
        statsCols = Seq("o_key"))
      graft.ops.TableStore.append(
        base.where(col("o_key") >= hi).coalesce(1), root,
        statsCols = Seq("o_key"))
      s.conf.set("spark.sql.catalog.gwid",
        classOf[graft.sources.GraftCatalog].getName)
      val filesBefore = graft.ops.TableStore.liveAt(s, root, 2L)
        .map(_.path).toSet
      s.sql(s"ALTER TABLE gwid.`$root` ALTER COLUMN o_key TYPE BIGINT")
      require(graft.ops.TableStore.versions(s, root) == Seq(1L, 2L, 3L),
        "widen must land as exactly one metadata commit")
      require(graft.ops.TableStore.liveAt(s, root, 3L).map(_.path)
        .toSet == filesBefore,
        "widen must be zero data IO — same live files")
      require(s.table(s"gwid.`$root`").schema("o_key").dataType ==
        org.apache.spark.sql.types.LongType,
        "latest must read the widened type")
      require(s.sql(s"SELECT * FROM gwid.`$root` VERSION AS OF 2")
        .schema("o_key").dataType ==
        org.apache.spark.sql.types.IntegerType,
        "the pre-widen snapshot keeps its narrow schema")
      // rows only BIGINT can hold land through the same surface
      s.sql(s"INSERT INTO gwid.`$root` " +
        "SELECT o_key + 5000000000, o_totalprice " +
        s"FROM gwid.`$root` VERSION AS OF 2 WHERE o_key < ${lo / 2}")
      // pruning evidence in the WIDENED type: a probe above 2^32
      // must touch only the post-widen file, proved by the same
      // evaluator the scan runs
      val snap = graft.ops.TableStore.snapshotOf(s, root).get
      val live = snap.live
      val touched = graft.ops.TableStore.prunedFiles(s, root, live,
        snap.declared, Seq(org.apache.spark.sql.sources.GreaterThanOrEqual(
          "o_key", 4000000000L)))
      s.sql(s"""
        SELECT 'latest' AS leg, COUNT(*) AS n_rows,
               SUM(o_key) AS key_sum,
               CAST(${touched.size} AS BIGINT) AS files_touched,
               CAST(${live.size} AS BIGINT) AS files_total
        FROM gwid.`$root`
        UNION ALL
        SELECT 'big_keys', COUNT(*), SUM(o_key),
               CAST(${touched.size} AS BIGINT),
               CAST(${live.size} AS BIGINT)
        FROM gwid.`$root` WHERE o_key > 4000000000
        UNION ALL
        SELECT 'pre_widen', COUNT(*), SUM(CAST(o_key AS BIGINT)),
               CAST(${touched.size} AS BIGINT),
               CAST(${live.size} AS BIGINT)
        FROM gwid.`$root` VERSION AS OF 2
        ORDER BY leg""")
    },
    Some(s"""
      WITH b AS ($Split3Sql), base AS (
        SELECT CAST(o_orderkey AS INTEGER) AS o_key, o_totalprice
        FROM orders
      ), ins AS (
        SELECT CAST(o_key AS BIGINT) + 5000000000 AS o_key
        FROM base, b WHERE o_key < b.lo // 2
      ), latest AS (
        SELECT CAST(o_key AS BIGINT) AS o_key FROM base
        UNION ALL SELECT o_key FROM ins
      )
      SELECT 'latest' AS leg, COUNT(*) AS n_rows,
             CAST(SUM(o_key) AS BIGINT) AS key_sum,
             CAST(1 AS BIGINT) AS files_touched,
             CAST(3 AS BIGINT) AS files_total
      FROM latest
      UNION ALL
      SELECT 'big_keys', COUNT(*), CAST(SUM(o_key) AS BIGINT),
             CAST(1 AS BIGINT), CAST(3 AS BIGINT)
      FROM latest WHERE o_key > 4000000000
      UNION ALL
      SELECT 'pre_widen', COUNT(*), CAST(SUM(o_key) AS BIGINT),
             CAST(1 AS BIGINT), CAST(3 AS BIGINT)
      FROM base
      ORDER BY leg
    """),
    eager = true)

  /** `CREATE TABLE … PARTITIONED BY` on the SQL surface — the
    * reference's run-date-partitioned layers (SURVEY P10,
    * dags/ml_churn_pipeline.py:153) created and loaded purely
    * through SQL. The identity transform maps onto the store's
    * declared LAYOUT ([[graft.ops.TableStore.partitionColsOf]]):
    * every INSERT range-clusters on the column and logs its per-file
    * bounds, so the month probe prunes at planning time from the
    * commit log alone — the in-body `require` pins files_touched <
    * files_total with the same [[graft.ops.TableStore.prunedFiles]]
    * evaluator the scan's file index runs, and the hashed result
    * carries the pruned flag beside the per-month digest. */
  val storeSqlCreatePartitioned = GQuery(
    "q_sql_create_partitioned",
    (s, d) => {
      val root = graft.TempRoots.create("graft_sqlpart") + "/fact"
      s.conf.set("spark.sql.catalog.gprt",
        classOf[graft.sources.GraftCatalog].getName)
      s.sql(s"CREATE TABLE gprt.`$root` " +
        "(o_key BIGINT, o_month STRING, o_price DOUBLE) " +
        "PARTITIONED BY (o_month)")
      require(graft.ops.TableStore.partitionColsOf(s, root) ==
        Seq("o_month"), "CREATE must declare the layout")
      val (lo, hi) = split3(s, d)
      val src = Tables.orders(s, d).select(
        col("o_orderkey").as("o_key"),
        when(col("o_orderkey") < lo, "2024-01")
          .when(col("o_orderkey") < hi, "2024-02")
          .otherwise("2024-03").as("o_month"),
        col("o_totalprice").as("o_price"))
      src.createOrReplaceTempView("gate_part_src")
      // the reference's per-run-date ingest: one batch per month
      Seq("2024-01", "2024-02", "2024-03").foreach { m =>
        s.sql(s"INSERT INTO gprt.`$root` SELECT * FROM gate_part_src " +
          s"WHERE o_month = '$m'")
      }
      val snap = graft.ops.TableStore.snapshotOf(s, root).get
      val live = snap.live
      val touched = graft.ops.TableStore.prunedFiles(s, root, live,
        snap.declared, Seq(
          org.apache.spark.sql.sources.EqualTo("o_month", "2024-02")))
      require(touched.nonEmpty && touched.size < live.size,
        s"the month probe must prune: ${touched.size} of ${live.size}")
      require(touched.forall(e =>
        e.smins.get("o_month").contains("2024-02") &&
          e.smaxs.get("o_month").contains("2024-02")),
        "touched files must be single-month (clustered write)")
      s.sql(s"""
        SELECT o_month, COUNT(*) AS n_rows, SUM(o_key) AS key_sum,
               CAST(SUM(CAST(ROUND(o_price * 1e2) AS BIGINT))
                 AS DOUBLE) / 1e2 AS total_price,
               CAST(${touched.size < live.size} AS BOOLEAN) AS pruned
        FROM gprt.`$root`
        GROUP BY o_month
        ORDER BY o_month""")
    },
    Some(s"""
      WITH b AS ($Split3Sql), src AS (
        SELECT o_orderkey AS o_key,
               CASE WHEN o_orderkey < b.lo THEN '2024-01'
                    WHEN o_orderkey < b.hi THEN '2024-02'
                    ELSE '2024-03' END AS o_month,
               o_totalprice AS o_price
        FROM orders, b
      )
      SELECT o_month, COUNT(*) AS n_rows,
             CAST(SUM(o_key) AS BIGINT) AS key_sum,
             CAST(SUM(CAST(ROUND(o_price * 1e2) AS BIGINT))
               AS DOUBLE) / 1e2 AS total_price,
             true AS pruned
      FROM src
      GROUP BY o_month
      ORDER BY o_month
    """),
    eager = true)

  /** CORRELATED EXISTS / NOT EXISTS deletes on the SQL surface — the
    * reference's staging dedup (dags/DataWarehouse.py:666-673)
    * written the way a Postgres user writes it (`WHERE EXISTS
    * (SELECT 1 … WHERE x.k = t.k)`), plus the gold-corpus orphan
    * shape its quality layer is built on (correlated NOT EXISTS,
    * dags/SQL/Gold/create_load_data_gold.sql:142-145).
    * [[graft.sources.GraftDmlRule]] routes both through
    * [[graft.ops.Dml]] with the subquery's outer references rebound
    * against the op's aliased scans; the in-body `require` pins the
    * EXISTS form HASH-EQUAL to the reference's literal IN form run
    * on a twin store, and the oracle replays the full algebra in
    * DuckDB with its own EXISTS semantics. */
  val storeSqlDeleteExists = GQuery(
    "q_sql_delete_exists",
    (s, d) => {
      val rootEx = Fixtures.branch(s, d, "ordersck")(ordersCustKey(s, d))
      val rootIn = Fixtures.branch(s, d, "ordersck")(ordersCustKey(s, d))
      val src = Tables.orders(s, d)
        .select("o_orderkey", "o_custkey", "o_totalprice")
      s.conf.set("spark.sql.catalog.gdex",
        classOf[graft.sources.GraftCatalog].getName)
      src.where(col("o_orderkey").between(3000L, 4000L))
        .select("o_orderkey").createOrReplaceTempView("gate_delex_a")
      src.where(col("o_orderkey").between(3500L, 4500L))
        .select("o_orderkey").createOrReplaceTempView("gate_delex_b")
      // the EXISTS twin of DataWarehouse.py:666-673…
      s.sql(s"""
        DELETE FROM gdex.`$rootEx` t
        WHERE EXISTS (
            SELECT 1 FROM gate_delex_a x
            JOIN gate_delex_b y ON x.o_orderkey = y.o_orderkey
            WHERE x.o_orderkey = t.o_orderkey)""").collect()
      // …must be hash-equal to the reference's literal IN form
      s.sql(s"""
        DELETE FROM gdex.`$rootIn`
        WHERE o_orderkey IN (
            SELECT x.o_orderkey FROM gate_delex_a x
            JOIN gate_delex_b y ON x.o_orderkey = y.o_orderkey)""")
        .collect()
      // both twins' digests ride ONE action (and the comparison reuses
      // the collected rows instead of re-running the digests in the
      // failure message)
      def digestSql(r: String) = s"SELECT COUNT(*) AS n, " +
        s"SUM(o_orderkey) AS ks, " +
        s"SUM(CAST(ROUND(o_totalprice * 1e2) AS BIGINT)) AS ps " +
        s"FROM gdex.`$r`"
      val twins = s.sql(s"SELECT 'ex' AS t, * FROM (${digestSql(rootEx)}) " +
        s"UNION ALL SELECT 'in', * FROM (${digestSql(rootIn)})")
        .collect().map(r => r.getString(0) -> r.toSeq.tail).toMap
      require(twins("ex") == twins("in"),
        s"EXISTS delete must be hash-equal to its IN twin: " +
          s"${twins("ex")} vs ${twins("in")}")
      // the gold-corpus orphan delete: rows whose customer is not in
      // the dimension go (correlated NOT EXISTS)
      Tables.customer(s, d).select("c_custkey")
        .where(col("c_custkey") % 3 =!= 0L)
        .createOrReplaceTempView("gate_delex_dim")
      s.sql(s"""
        DELETE FROM gdex.`$rootEx` t
        WHERE NOT EXISTS (
            SELECT 1 FROM gate_delex_dim d
            WHERE d.c_custkey = t.o_custkey)""").collect()
      s.sql(s"""
        SELECT COUNT(*) AS n_rows, SUM(o_orderkey) AS key_sum,
               CAST(SUM(CAST(ROUND(o_totalprice * 1e2) AS BIGINT))
                 AS DOUBLE) / 1e2 AS total_price,
               COUNT(DISTINCT o_custkey) AS n_cust
        FROM gdex.`$rootEx`""")
    },
    Some("""
      WITH t0 AS (
        SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      ), a AS (
        SELECT o_orderkey FROM t0 WHERE o_orderkey BETWEEN 3000 AND 4000
      ), b AS (
        SELECT o_orderkey FROM t0 WHERE o_orderkey BETWEEN 3500 AND 4500
      ), t1 AS (
        SELECT * FROM t0 t
        WHERE NOT EXISTS (
          SELECT 1 FROM a x JOIN b y ON x.o_orderkey = y.o_orderkey
          WHERE x.o_orderkey = t.o_orderkey)
      ), dim AS (
        SELECT c_custkey FROM customer WHERE c_custkey % 3 <> 0
      ), t2 AS (
        SELECT * FROM t1 t
        WHERE EXISTS (SELECT 1 FROM dim d WHERE d.c_custkey = t.o_custkey)
      )
      SELECT COUNT(*) AS n_rows,
             CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
             CAST(SUM(CAST(ROUND(o_totalprice * 1e2) AS BIGINT))
               AS DOUBLE) / 1e2 AS total_price,
             COUNT(DISTINCT o_custkey) AS n_cust
      FROM t2
    """),
    prepare = Some((s, d) => {
      Fixtures.master(s, d, "ordersck")(ordersCustKey(s, d)); ()
    }),
    eager = true)

  /** The SQL WRITE-side of the run manifest — `CALL publish_run`
    * beside the TVF consumer, so a pure-SQL producer gets the
    * reference's cross-table transaction shape end to end
    * (dags/Reprocessing.py:113-126's engine.begin() replaced by
    * publish-last): tick 1 lands via CALL with an `@current` pin,
    * tick 2 commits silver then CRASHES before its publish — the
    * in-body `require`s pin the TVF to tick 1's consistent pair and
    * a replayed CALL to the stand-down row, and the hashed result is
    * the consumer's manifest join against the pinned layer read. */
  val storeSqlPublishRun = GQuery(
    "q_sql_publish_run",
    (s, d) => {
      val base = graft.TempRoots.create("graft_sqlpubrun")
      val silver = s"$base/silver"
      val gold = s"$base/gold"
      val manifest = s"$base/_runs"
      val src = Tables.orders(s, d)
        .select("o_orderkey", "o_totalprice")
      graft.ops.TableStore.append(
        src.where(col("o_orderkey") < 10000L).coalesce(1), silver)
      graft.ops.TableStore.append(
        graft.ops.TableStore.read(s, silver, Some(1L))
          .agg(count(lit(1)).as("n"),
            sum("o_orderkey").as("key_sum")).coalesce(1), gold)
      s.conf.set("spark.sql.catalog.gpub",
        classOf[graft.sources.GraftCatalog].getName)
      // tick 1 published through SQL, silver pinned at @current
      val r1 = s.sql(s"CALL gpub.publish_run(manifest => '$manifest', " +
        s"run_id => 1, layers => 'silver=$silver@current,gold=$gold@1')")
        .collect().head
      require(!r1.isNullAt(0) && !r1.getBoolean(1),
        s"tick 1 must publish fresh: $r1")
      // a replayed CALL stands down (idempotent on run_id)
      val r2 = s.sql(s"CALL gpub.publish_run(manifest => '$manifest', " +
        s"run_id => 1, layers => 'silver=$silver@current,gold=$gold@1')")
        .collect().head
      require(r2.isNullAt(0) && r2.getBoolean(1),
        s"replayed publish must stand down: $r2")
      // tick 2 commits silver then crashes before its publish
      graft.ops.TableStore.append(
        src.where(col("o_orderkey") >= 10000L).coalesce(1), silver)
      val pins = s.sql(
        s"SELECT layer, version FROM run_manifest('$manifest')")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      require(pins == Map("silver" -> 1L, "gold" -> 1L),
        s"the half-finished tick must stay invisible: $pins")
      s.sql(s"""
        SELECT m.layer, m.version, d.n_rows, d.key_sum
        FROM run_manifest('$manifest') m
        CROSS JOIN (
          SELECT COUNT(*) AS n_rows, SUM(o_orderkey) AS key_sum
          FROM gpub.`$silver` VERSION AS OF 1) d
        ORDER BY m.layer""")
    },
    Some("""
      WITH d AS (
        SELECT COUNT(*) AS n_rows,
               CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
        FROM orders WHERE o_orderkey < 10000
      )
      SELECT 'gold' AS layer, CAST(1 AS BIGINT) AS version,
             n_rows, key_sum FROM d
      UNION ALL
      SELECT 'silver', CAST(1 AS BIGINT), n_rows, key_sum FROM d
      ORDER BY layer
    """),
    eager = true)

  /** `MERGE WITH SCHEMA EVOLUTION` — the reference's two-dialect feed
    * problem (SURVEY §1.3: a new export column appears mid-stream)
    * absorbed by ONE statement: the AUTOMATIC_SCHEMA_EVOLUTION
    * capability routes Spark's ResolveMergeIntoSchemaEvolution
    * through the catalog's alterTable (one schema commit via
    * [[graft.ops.TableStore.alterSchema]]), then the merge lands
    * against the evolved relation with J3's partial-update semantics
    * unchanged. In-body `require`s pin the two-commit shape, the
    * pre-evolution snapshot's narrow schema, and null-filled old
    * rows; the oracle replays the evolved upsert algebra. */
  val storeSqlMergeEvolve = GQuery(
    "q_sql_merge_evolve",
    (s, d) => {
      val root = graft.TempRoots.create("graft_sqlmevo") + "/orders"
      val base = Tables.orders(s, d)
        .select("o_orderkey", "o_totalprice")
      graft.ops.TableStore.append(base.coalesce(1), root,
        statsCols = Seq("o_orderkey")) // v1, two columns
      s.conf.set("spark.sql.catalog.gmev",
        classOf[graft.sources.GraftCatalog].getName)
      // the evolved feed: keys 4000-6000 re-arrive with a price bump
      // AND a new o_channel column; keys above the corpus insert
      base.where(col("o_orderkey").between(4000L, 6000L))
        .select(col("o_orderkey"),
          (col("o_totalprice") + 100.0).as("o_totalprice"),
          concat(lit("c"), col("o_orderkey") % 3).as("o_channel"))
        .unionByName(
          base.where(col("o_orderkey") < 1500L)
            .select((col("o_orderkey") + 300000000L).as("o_orderkey"),
              col("o_totalprice"),
              lit("cnew").as("o_channel")))
        .createOrReplaceTempView("gate_mevo_src")
      s.sql(s"""
        MERGE WITH SCHEMA EVOLUTION INTO gmev.`$root` t
        USING gate_mevo_src s ON t.o_orderkey = s.o_orderkey
        WHEN MATCHED THEN UPDATE SET
          o_totalprice = s.o_totalprice, o_channel = s.o_channel
        WHEN NOT MATCHED THEN INSERT (o_orderkey, o_totalprice, o_channel)
          VALUES (s.o_orderkey, s.o_totalprice, s.o_channel)""")
        .collect()
      require(graft.ops.TableStore.versions(s, root) == Seq(1L, 2L, 3L),
        "one schema commit + one merge commit")
      require(s.sql(s"SELECT * FROM gmev.`$root` VERSION AS OF 1")
        .schema.fieldNames.toSeq == Seq("o_orderkey", "o_totalprice"),
        "the pre-evolution snapshot keeps its narrow schema")
      require(s.table(s"gmev.`$root`").schema.fieldNames.toSeq ==
        Seq("o_orderkey", "o_totalprice", "o_channel"),
        "latest reads the evolved schema")
      s.sql(s"""
        SELECT COALESCE(o_channel, '_none') AS o_channel,
               COUNT(*) AS n_rows, SUM(o_orderkey) AS key_sum,
               CAST(SUM(CAST(ROUND(o_totalprice * 1e2) AS BIGINT))
                 AS DOUBLE) / 1e2 AS total_price
        FROM gmev.`$root`
        GROUP BY 1
        ORDER BY o_channel""")
    },
    Some("""
      WITH base AS (
        SELECT o_orderkey, o_totalprice FROM orders
      ), matched AS (
        SELECT o_orderkey, o_totalprice + 100.0 AS o_totalprice,
               'c' || CAST(o_orderkey % 3 AS VARCHAR) AS o_channel
        FROM base WHERE o_orderkey BETWEEN 4000 AND 6000
      ), ins AS (
        SELECT o_orderkey + 300000000 AS o_orderkey, o_totalprice,
               'cnew' AS o_channel
        FROM base WHERE o_orderkey < 1500
      ), merged AS (
        SELECT b.o_orderkey,
               COALESCE(m.o_totalprice, b.o_totalprice) AS o_totalprice,
               m.o_channel
        FROM base b LEFT JOIN matched m USING (o_orderkey)
        UNION ALL
        SELECT o_orderkey, o_totalprice, o_channel FROM ins
      )
      SELECT COALESCE(o_channel, '_none') AS o_channel,
             COUNT(*) AS n_rows,
             CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
             CAST(SUM(CAST(ROUND(o_totalprice * 1e2) AS BIGINT))
               AS DOUBLE) / 1e2 AS total_price
      FROM merged
      GROUP BY 1
      ORDER BY o_channel
    """),
    eager = true)

  override def all: Seq[GQuery] =
    Seq(storeSql, storeSqlChanges, storeSqlInsert,
      storeSqlDelete, storeSqlUpdate, storeSqlMerge,
      storeSqlMaintenance, storeSqlCtas, storeSqlCountMeta,
      storeSqlDeleteMor, storeSqlDeleteSubquery, storeSqlUpdateSubquery,
      storeSqlAddColumn, storeSqlManifest, storeSqlTruncate,
      storeSqlDeleteExists, storeSqlWidenColumn, storeSqlCreatePartitioned,
      storeSqlPublishRun, storeSqlMergeEvolve)
}
