package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.{Incremental, Upsert}

/** Upsert + incremental family — SURVEY.md §2.3 J3/J4, §2.9 ST1/P7.
  * Snapshot-vs-delta built by splitting `orders` on key arithmetic
  * (FIXTURES.md §B): snapshot = keys not divisible by 3, delta =
  * even keys with mutated columns, so conflicts, inserts, and
  * untouched rows all occur.
  */
object UpsertQueries extends QueryPack {

  /** J3: full-outer partial-column merge. Delta mutates status, price
    * AND priority, but only status+price are in the on-conflict update
    * list — surviving priorities prove the partial semantics. */
  val partialMerge = GQuery(
    "q_upsert_partial_merge",
    (s, d) => {
      val o = Tables.orders(s, d)
      val snapshot = o.filter(col("o_orderkey") % 3 =!= 0)
      val delta = o.filter(col("o_orderkey") % 2 === 0).select(
        col("o_orderkey"), col("o_custkey"),
        lit("U").as("o_orderstatus"),
        // FP-exact delta mutation: Spark round(double,2) rounds the
        // shortest-decimal string (HALF_UP) while DuckDB rounds the
        // binary value, so round(x*1.1, 2) diverges on .xx5 ties.
        // Scaled-integer form is one IEEE multiply + one round-to-long
        // + one exact division — bit-identical in both engines.
        (round(col("o_totalprice") * 110).cast("long") / lit(100.0))
          .as("o_totalprice"),
        col("o_orderdate"),
        lit("X-DELTA").as("o_orderpriority"))
      Upsert.merge(snapshot, delta, Seq("o_orderkey"),
          updateOnConflict = Seq("o_orderstatus", "o_totalprice"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"),
          col("o_orderdate").cast("date").as("o_orderdate"),
          col("o_orderpriority"))
        .orderBy("o_orderkey")
    },
    Some("""
      WITH snap AS (SELECT * FROM orders WHERE o_orderkey % 3 <> 0),
      delta AS (SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
                       CAST(ROUND(o_totalprice * 110) AS BIGINT) / 100.0 AS o_totalprice,
                       o_orderdate, 'X-DELTA' AS o_orderpriority
                FROM orders WHERE o_orderkey % 2 = 0)
      SELECT COALESCE(d.o_orderkey, s.o_orderkey) AS o_orderkey,
             CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_custkey ELSE d.o_custkey END AS o_custkey,
             CASE WHEN d.o_orderkey IS NOT NULL THEN d.o_orderstatus ELSE s.o_orderstatus END AS o_orderstatus,
             CASE WHEN d.o_orderkey IS NOT NULL THEN d.o_totalprice ELSE s.o_totalprice END AS o_totalprice,
             CAST(CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_orderdate ELSE d.o_orderdate END AS DATE) AS o_orderdate,
             CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_orderpriority ELSE d.o_orderpriority END AS o_orderpriority
      FROM snap s FULL OUTER JOIN delta d ON s.o_orderkey = d.o_orderkey
      ORDER BY o_orderkey
    """))

  /** J4: delete+insert upsert — corrected rows replace, fresh rows
    * append. */
  val deleteInsert = GQuery(
    "q_delete_insert_upsert",
    (s, d) => {
      val c = Tables.customer(s, d)
      val fixed = c.filter(col("c_custkey") % 10 === 0).select(
        col("c_custkey"), col("c_name"), col("c_nationkey"),
        lit(0.0).as("c_acctbal"), lit("FIXED").as("c_mktsegment"))
      Upsert.replaceByKey(c, fixed, Seq("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
          col("c_mktsegment"))
        .orderBy("c_custkey")
    },
    Some("""
      WITH fixed AS (
        SELECT c_custkey, c_name, c_nationkey,
               0.0 AS c_acctbal, 'FIXED' AS c_mktsegment
        FROM customer WHERE c_custkey % 10 = 0)
      SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM fixed f WHERE f.c_custkey = c.c_custkey)
      UNION ALL
      SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM fixed
      ORDER BY c_custkey
    """))

  /** ST1/P7/O1: half-open watermark window with deterministic export
    * ordering. */
  val watermarkWindow = GQuery(
    "q_watermark_window",
    (s, d) => Incremental.window(
        Tables.events(s, d), col("ts"),
        lit("2024-01-10 00:00:00").cast("timestamp"),
        lit("2024-01-20 00:00:00").cast("timestamp"))
      .select(col("event_id"), col("ts"), col("event_type"), col("value"))
      .orderBy("ts", "event_id"),
    Some("""
      SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value
      FROM events
      WHERE ts > TIMESTAMP '2024-01-10 00:00:00'
        AND ts <= TIMESTAMP '2024-01-20 00:00:00'
      ORDER BY ts, event_id
    """))

  /** F11/F13 + record_type derivation (reference new/updated CASE:
    * dags/churn_export_dag_cloude.py:363-366). */
  val recordType = GQuery(
    "q_record_type",
    (s, d) => {
      val e = Tables.events(s, d)
        .withColumn("updated_ts",
          when(col("event_type") === "purchase",
            col("ts") + expr("INTERVAL 1 HOUR")).otherwise(col("ts")))
      e.select(
          col("event_id"),
          Incremental.changeTs(col("ts"), col("updated_ts")).as("change_ts"),
          when(col("updated_ts") > col("ts"), "updated").otherwise("new")
            .as("record_type"))
        .orderBy("event_id")
    },
    Some("""
      WITH e AS (
        SELECT *, CASE WHEN event_type = 'purchase'
                       THEN ts + INTERVAL 1 HOUR ELSE ts END AS updated_ts
        FROM events)
      SELECT event_id,
             CAST(GREATEST(ts, updated_ts) AS TIMESTAMP) AS change_ts,
             CASE WHEN updated_ts > ts THEN 'updated' ELSE 'new' END AS record_type
      FROM e ORDER BY event_id
    """))

  /** Late-arriving dimension handling
    * ([[graft.ops.InferredMembers.completeDim]]): the dim is thinned
    * to keys not divisible by 7, so ~1/7 of order custkeys have no
    * dim row; placeholders make the star join inner-COMPLETE (the
    * reference's inner join silently drops those facts — SURVEY §2.3
    * J6). The oracle re-derives membership, placeholder attribution,
    * and the revenue split independently; total n_orders equals the
    * fact count by construction, which the compare enforces. */
  val inferredMembers = GQuery(
    "q_inferred_members",
    (s, d) => {
      val dim = Tables.customer(s, d)
        .filter(col("c_custkey") % 7 =!= 0)
        .select(col("c_custkey"), col("c_mktsegment"))
      val facts = Tables.orders(s, d)
        .select(col("o_custkey").as("c_custkey"), col("o_totalprice"))
      val completed = graft.ops.InferredMembers.completeDim(
        dim, facts, "c_custkey",
        Map("c_mktsegment" -> lit("<inferred>")))
      facts.join(completed, Seq("c_custkey")) // inner-complete now
        .groupBy(col("c_mktsegment").as("segment"), col("is_inferred"))
        .agg(count(lit(1)).as("n_orders"),
          countDistinct(col("c_custkey")).as("n_customers"),
          graft.ops.Exact.fixedSum(col("o_totalprice"), 2).as("revenue"))
        .orderBy("segment", "is_inferred")
    },
    Some(s"""
      WITH dim AS (
        SELECT c_custkey, c_mktsegment FROM customer
        WHERE c_custkey % 7 <> 0),
      facts AS (SELECT o_custkey AS c_custkey, o_totalprice FROM orders),
      completed AS (
        SELECT c_custkey, c_mktsegment, 0 AS is_inferred FROM dim
        UNION ALL
        SELECT DISTINCT f.c_custkey, '<inferred>', 1
        FROM facts f WHERE f.c_custkey NOT IN (SELECT c_custkey FROM dim))
      SELECT c.c_mktsegment AS segment, c.is_inferred,
             COUNT(*) AS n_orders,
             CAST(COUNT(DISTINCT f.c_custkey) AS BIGINT) AS n_customers,
             ${graft.ops.Exact.fixedSumSql("f.o_totalprice", 2)} AS revenue
      FROM facts f JOIN completed c USING (c_custkey)
      GROUP BY 1, 2 ORDER BY segment, is_inferred
    """))

  /** Cross-table pipeline commit — the reference wraps the silver
    * delete+insert and the gold refresh in ONE Postgres transaction
    * (dags/Reprocessing.py:113-126); here each layer is its own
    * [[graft.ops.TableStore]] and the [[graft.ops.RunManifest]]
    * publishes (layer → version) LAST, so a crash between layers
    * can't expose a mixed view. The gate runs two warehouse ticks
    * with an injected CRASH between tick 2's silver commit and its
    * gold refresh, digests both layers THROUGH the manifest at the
    * crash point (must still be tick 1's consistent pair — the
    * in-body `require` pins that silver's latest has already moved
    * past the pin), then re-runs tick 2 (idempotent: the batch-id'd
    * silver delta stands down) and digests the published pair. The
    * oracle restates both consistent states from the source slices. */
  val warehouseManifest = GQuery(
    "q_warehouse_manifest",
    (s, d) => {
      val base = graft.TempRoots.create("graft_whman")
      val silver = s"$base/silver"; val gold = s"$base/gold"
      val man = s"$base/runs"
      val src = Tables.orders(s, d)
        .select("o_orderkey", "o_orderdate", "o_totalprice")
      def tick(runId: Long, delta: org.apache.spark.sql.DataFrame,
               crashBeforeGold: Boolean): Unit = {
        graft.ops.TableStore.appendBatch(delta, silver, batchId = runId)
        require(graft.ops.TableStore.versions(s, silver).nonEmpty,
          "a warehouse tick needs a non-empty first silver delta — " +
            "an all-empty batch commits nothing, so there is no " +
            "layer version to publish")
        if (crashBeforeGold) return
        val sv = graft.ops.TableStore.versions(s, silver).last
        val g = graft.ops.TableStore.read(s, silver, Some(sv))
          .groupBy(date_format(col("o_orderdate"), "yyyy-MM")
            .as("o_month"))
          .agg(count(lit(1)).as("n_orders"))
        val gv = graft.ops.TableStore.overwrite(g, gold)
        graft.ops.RunManifest.publish(s, man, runId,
          Map("silver" -> (silver, sv), "gold" -> (gold, gv)))
      }
      def digests(leg: String) = {
        val sd = graft.ops.RunManifest.readLayer(s, man, "silver")
          .agg(count(lit(1)).as("n_rows"),
            sum("o_orderkey").cast("long").as("checksum"))
          .select(lit(leg).as("leg"), lit("silver").as("layer"),
            col("n_rows"), col("checksum"))
        val gd = graft.ops.RunManifest.readLayer(s, man, "gold")
          .agg(count(lit(1)).as("n_rows"),
            sum("n_orders").cast("long").as("checksum"))
          .select(lit(leg).as("leg"), lit("gold").as("layer"),
            col("n_rows"), col("checksum"))
        sd.unionByName(gd)
      }
      val (_, hi) = Tables.split3(s, d)
      tick(1L, src.where(col("o_orderkey") < hi), false)
      tick(2L, src.where(col("o_orderkey") >= hi), true) // CRASH
      // the crash window is real: silver's latest moved past the pin
      val pins = graft.ops.RunManifest.current(s, man).get._2
      require(graft.ops.TableStore.versions(s, silver).last >
        pins("silver")._2,
        "crash injection failed: silver never advanced past the pin")
      val mid = digests("mid") // still tick 1's pair, or the hash breaks
      tick(2L, src.where(col("o_orderkey") >= hi), false) // re-run
      mid.unionByName(digests("post")).orderBy("leg", "layer")
    },
    Some(s"""
      WITH b AS (${Tables.Split3Sql})
      SELECT 'mid' AS leg, 'gold' AS layer,
             COUNT(DISTINCT strftime(o_orderdate, '%Y-%m')) AS n_rows,
             COUNT(*) AS checksum
      FROM orders, b WHERE o_orderkey < b.hi
      UNION ALL
      SELECT 'mid', 'silver', COUNT(*),
             CAST(SUM(o_orderkey) AS BIGINT)
      FROM orders, b WHERE o_orderkey < b.hi
      UNION ALL
      SELECT 'post', 'gold',
             COUNT(DISTINCT strftime(o_orderdate, '%Y-%m')), COUNT(*)
      FROM orders
      UNION ALL
      SELECT 'post', 'silver', COUNT(*),
             CAST(SUM(o_orderkey) AS BIGINT)
      FROM orders
      ORDER BY leg, layer
    """),
    eager = true)

  def all: Seq[GQuery] =
    Seq(partialMerge, deleteInsert, watermarkWindow, recordType,
      inferredMembers, warehouseManifest)
}
