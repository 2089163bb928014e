package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

import graft.ops.TableStore
import graft.sources.{GraftCatalog, StatsSkipping}

/** The versioned store on the SQL surface: V2 catalog resolution
  * (named + absolute-path identifiers), VERSION/TIMESTAMP AS OF time
  * travel, the analysis rewrite to the native pruned parquet scan
  * (plan-asserted: FileSourceScanExec, PushedFilters reaching
  * parquet, log-stats FILE pruning, column pruning) with delete
  * vectors applied, the V1Scan fallback, `spark.read.format("graft")`,
  * and the table_changes / table_history table-valued sugar. */
class SqlStoreSpec extends SparkSpec {

  private def tmp() = graft.TempRoots.create("graft_sqlstore") + "/t"

  private def mk(ids: Long*) = {
    val s = spark; import s.implicits._
    ids.map(i => (i, s"r$i")).toDF("id", "payload")
  }

  /** The (single) parquet file scan of an EXECUTED query, AQE-final. */
  private def fileScan(df: DataFrame): FileSourceScanExec = {
    df.collect()
    def scansOf(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[FileSourceScanExec] = p.collect {
      case f: FileSourceScanExec => Seq(f)
      case a: AdaptiveSparkPlanExec => scansOf(a.executedPlan)
    }.flatten
    val ss = scansOf(df.queryExecution.executedPlan)
    assert(ss.size == 1, s"expected one file scan, got $ss")
    ss.head
  }

  private def threeRangedCommits(): String = {
    val root = tmp()
    TableStore.append(mk(1L to 100L: _*).coalesce(1), root,
      statsCols = Seq("id"))
    TableStore.append(mk(101L to 200L: _*).coalesce(1), root,
      statsCols = Seq("id"))
    TableStore.append(mk(201L to 300L: _*).coalesce(1), root,
      statsCols = Seq("id"))
    root
  }

  test("absolute-path identifier: SQL read == API read; time travel") {
    val root = threeRangedCommits()
    spark.conf.set("spark.sql.catalog.gsql",
      classOf[GraftCatalog].getName)
    val viaSql = spark.sql(s"SELECT id, payload FROM gsql.`$root`")
    val viaApi = TableStore.read(spark, root).select("id", "payload")
    assert(rowsAsSet(viaSql) == rowsAsSet(viaApi))
    // VERSION AS OF pins the snapshot
    val v1 = spark.sql(s"SELECT id FROM gsql.`$root` VERSION AS OF 1")
    assert(v1.collect().map(_.getLong(0)).toSet == (1L to 100L).toSet)
    // a later overwrite is invisible to the pinned read
    TableStore.overwrite(mk(999L), root)
    assert(spark.sql(s"SELECT id FROM gsql.`$root` VERSION AS OF 2")
      .collect().map(_.getLong(0)).toSet == (1L to 200L).toSet)
    assert(spark.sql(s"SELECT id FROM gsql.`$root`")
      .collect().map(_.getLong(0)).toSet == Set(999L))
  }

  test("TIMESTAMP AS OF resolves through publish times") {
    val root = tmp()
    TableStore.append(mk(1L), root)
    Thread.sleep(1100) // fs modtime granularity
    val between = System.currentTimeMillis()
    Thread.sleep(1100)
    TableStore.append(mk(2L), root)
    spark.conf.set("spark.sql.catalog.gsql",
      classOf[GraftCatalog].getName)
    val ts = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
      .withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.ofEpochMilli(between))
    val pinned = spark.sql(
      s"SELECT id FROM gsql.`$root` TIMESTAMP AS OF '$ts'")
    assert(pinned.collect().map(_.getLong(0)).toSet == Set(1L))
  }

  test("SQL reads plan as native parquet scans with log-stats file " +
      "pruning and parquet pushdown") {
    val root = threeRangedCommits()
    spark.conf.set("spark.sql.catalog.gsql",
      classOf[GraftCatalog].getName)
    val probe = spark.sql(
      s"SELECT id, payload FROM gsql.`$root` WHERE id BETWEEN 120 AND 150")
    assert(probe.collect().map(_.getLong(0)).toSet ==
      (120L to 150L).toSet)
    val scan = fileScan(probe)
    // the rewrite put the query on the native file-source path, the
    // filter reached the parquet reader, and the log stats pruned the
    // two files whose [min, max] cannot hold the probe
    assert(scan.metadata("PushedFilters").contains("GreaterThanOrEqual(id,120)"),
      scan.metadata("PushedFilters"))
    // file pruning: hand the scan's OWN data filters back to its file
    // index (metrics live on AQE's executed clone, not this instance)
    def selected(s: FileSourceScanExec): Int =
      s.relation.location.listFiles(s.partitionFilters, s.dataFilters)
        .map(_.files.size).sum
    assert(selected(scan) == 1,
      s"expected 1 of 3 files after log-stats skip, got ${selected(scan)}")
    // column pruning reaches the reader
    val narrow = fileScan(spark.sql(
      s"SELECT payload FROM gsql.`$root` WHERE id = 7"))
    assert(narrow.requiredSchema.fieldNames.toSet == Set("id", "payload")
      || narrow.requiredSchema.fieldNames.toSet == Set("payload")
      || narrow.requiredSchema.fieldNames.contains("payload"))
    assert(!narrow.requiredSchema.fieldNames.contains("extra"))
    assert(selected(narrow) == 1)
  }

  test("aggregate-only SQL (count(*)) reads through the store") {
    val root = threeRangedCommits()
    spark.conf.set("spark.sql.catalog.gsql",
      classOf[GraftCatalog].getName)
    assert(spark.sql(s"SELECT COUNT(*) AS n FROM gsql.`$root`")
      .collect()(0).getLong(0) == 300L)
  }

  test("named tables resolve under the configured catalog root; " +
      "listTables; DDL refuses") {
    val whRoot = graft.TempRoots.create("graft_sqlwh")
    val root = s"$whRoot/orders"
    TableStore.append(mk(1L, 2L, 3L), root)
    spark.conf.set("spark.sql.catalog.whtest",
      classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.whtest.root", whRoot)
    assert(spark.sql("SELECT id FROM whtest.orders")
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L))
    val listed = spark.sql("SHOW TABLES IN whtest")
      .select("tableName").collect().map(_.getString(0)).toSet
    assert(listed == Set("orders"))
    // a missing table is a loud analysis error, not an empty frame
    val missing = intercept[Exception] {
      spark.sql("SELECT * FROM whtest.nope").collect()
    }
    assert(missing.getMessage.contains("nope"))
    val ddl = intercept[Exception] {
      spark.sql("DROP TABLE whtest.orders")
    }
    assert(ddl.getMessage.contains("vacuum"))
  }

  test("merge-on-read delete vectors route SQL through the dv-aware " +
      "read path") {
    val root = tmp()
    TableStore.append(mk(1L to 50L: _*), root, statsCols = Seq("id"))
    TableStore.deleteWhereMoR(spark, root,
      col("id").between(10L, 20L))
    spark.conf.set("spark.sql.catalog.gsql",
      classOf[GraftCatalog].getName)
    val viaSql = spark.sql(s"SELECT id FROM gsql.`$root`")
      .collect().map(_.getLong(0)).toSet
    assert(viaSql == ((1L to 9L) ++ (21L to 50L)).toSet)
    // and the result matches the API read exactly
    assert(viaSql == TableStore.read(spark, root)
      .select("id").collect().map(_.getLong(0)).toSet)
  }

  test("SQL point reads over delete vectors plan the native pruned scan") {
    val root = threeRangedCommits()
    TableStore.deleteWhereMoR(spark, root, col("id") === 150L)
    spark.conf.set("spark.sql.catalog.gsql",
      classOf[GraftCatalog].getName)
    def probe(k: Long): (Seq[Long], Int) = {
      val df = spark.sql(s"SELECT id FROM gsql.`$root` WHERE id = $k")
      val got = df.collect().map(_.getLong(0)).toSeq
      def scansOf(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[FileSourceScanExec] = p.collect {
        case f: FileSourceScanExec => Seq(f)
        case a: AdaptiveSparkPlanExec => scansOf(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          scansOf(q.plan)
      }.flatten
      val store = scansOf(df.queryExecution.executedPlan)
        .filter(_.relation.location.isInstanceOf[graft.sources.GraftFileIndex])
      assert(store.size == 1, s"expected the store's file scan: $store")
      val s = store.head
      (got, s.relation.location.listFiles(s.partitionFilters, s.dataFilters)
        .map(_.files.size).sum)
    }
    // the vectored row stays deleted; its neighbour reads; each probe
    // touches the one file of three its key can be in
    assert(probe(150L) == (Nil, 1))
    assert(probe(151L) == (Seq(151L), 1))
  }

  test("spark.read.format(graft) loads latest and pinned versions") {
    val root = threeRangedCommits()
    val latest = spark.read.format("graft").load(root)
    assert(latest.count() == 300L)
    val pinned = spark.read.format("graft")
      .option("versionAsOf", "1").load(root)
    assert(pinned.select("id").collect().map(_.getLong(0)).toSet ==
      (1L to 100L).toSet)
    // schema matches the API read
    assert(latest.schema == TableStore.read(spark, root).schema)
  }

  test("table_changes TVF == readRowChanges; table_history == history") {
    val root = threeRangedCommits()
    val tvf = spark.sql(
      s"SELECT id, payload, _op FROM table_changes('$root', 1)")
    val api = TableStore.readRowChanges(spark, root, 1L)
      .select("id", "payload", "_op")
    assert(rowsAsSet(tvf) == rowsAsSet(api))
    // bounded window
    val win = spark.sql(
      s"SELECT id FROM table_changes('$root', 1, 2) WHERE _op = 'insert'")
    assert(win.collect().map(_.getLong(0)).toSet == (101L to 200L).toSet)
    val hist = spark.sql(
      s"SELECT version, n_added FROM table_history('$root')")
    assert(rowsAsSet(hist) == rowsAsSet(
      TableStore.history(spark, root).select("version", "n_added")))
    // non-literal args fail loudly
    val bad = intercept[Exception] {
      spark.sql(s"SELECT * FROM table_changes('$root', 1 + 1)").collect()
    }
    assert(bad.getMessage.contains("integer literal"))
    // table_stats == metaStats: the metadata-only digest on the SQL
    // surface — the count(*) dashboard tick without a data scan
    val stats = spark.sql(s"SELECT * FROM table_stats('$root')")
    assert(rowsAsSet(stats) == rowsAsSet(TableStore.metaStats(spark, root)))
    val statsV1 = spark.sql(s"SELECT n_rows FROM table_stats('$root', 1)")
    assert(statsV1.collect().map(_.getLong(0)).toSeq == Seq(100L))
  }

  test("StatsSkipping semantics: conservative, truncation-sound") {
    import org.apache.spark.sql.sources._
    val e = TableStore.FileEntry("data/f", 10L,
      mins = Map("k" -> 100L), maxs = Map("k" -> 200L),
      smins = Map("s" -> "bbb"), smaxs = Map("s" -> "ddd"))
    def keep(f: Filter) = StatsSkipping.mayContain(e, f)
    assert(keep(EqualTo("k", 150L)) && !keep(EqualTo("k", 99L)))
    assert(keep(GreaterThan("k", 199L)) && !keep(GreaterThan("k", 200L)))
    assert(keep(LessThan("k", 101L)) && !keep(LessThan("k", 100L)))
    assert(!keep(And(EqualTo("k", 150L), EqualTo("k", 250L))))
    assert(keep(Or(EqualTo("k", 50L), EqualTo("k", 150L))))
    assert(!keep(In("k", Array(50L, 250L))) && keep(In("k", Array(150L))))
    assert(keep(EqualTo("s", "ccc")) && !keep(EqualTo("s", "aaa")))
    assert(keep(StringStartsWith("s", "cc")) &&
      !keep(StringStartsWith("s", "e")))
    // unknown columns, unknown shapes, nulls: never prune
    assert(keep(EqualTo("unknown", 5L)))
    assert(keep(IsNull("k")) && keep(IsNotNull("k")))
    assert(keep(Not(EqualTo("k", 150L))))
    assert(keep(EqualTo("k", 3.5))) // non-integral type: no proof
  }

  test("INSERT INTO appends a commit; INSERT OVERWRITE rewrites; " +
      "old snapshots stay readable") {
    val root = tmp()
    TableStore.append(mk(1L to 3L: _*), root) // bootstrap v1 via API
    spark.conf.set("spark.sql.catalog.gsqlw",
      classOf[GraftCatalog].getName)
    mk(4L to 6L: _*).createOrReplaceTempView("sqlw_delta")
    spark.sql(s"INSERT INTO gsqlw.`$root` SELECT * FROM sqlw_delta")
    assert(TableStore.versions(spark, root) == Seq(1L, 2L))
    assert(TableStore.read(spark, root).select("id")
      .collect().map(_.getLong(0)).toSet == (1L to 6L).toSet)
    spark.sql(
      s"INSERT OVERWRITE gsqlw.`$root` SELECT * FROM sqlw_delta " +
        "WHERE id = 5")
    assert(TableStore.versions(spark, root) == Seq(1L, 2L, 3L))
    assert(TableStore.read(spark, root).select("id")
      .collect().map(_.getLong(0)).toSet == Set(5L))
    // snapshot isolation: the pre-overwrite snapshot is intact
    assert(TableStore.read(spark, root, Some(2L)).select("id")
      .collect().map(_.getLong(0)).toSet == (1L to 6L).toSet)
  }

  test("df.write.format(graft): append/overwrite commits with " +
      "statsCols riding the writer options") {
    import org.apache.spark.sql.sources.LessThanOrEqual
    val root = tmp()
    mk(1L to 100L: _*).coalesce(1).write.format("graft")
      .option("statsCols", "id").mode("append").save(root)
    mk(101L to 200L: _*).coalesce(1).write.format("graft")
      .option("statsCols", "id").mode("append").save(root)
    assert(TableStore.versions(spark, root) == Seq(1L, 2L))
    // the writer option reached the commit log: per-file [min, max]
    // present, and a ranged probe prunes to one of the two files
    val live = TableStore.liveAt(spark, root, 2L)
    assert(live.size == 2 && live.forall(_.mins.contains("id")))
    assert(TableStore.prunedFiles(spark, root, live, None,
      Seq(LessThanOrEqual("id", 50L))).size == 1)
    // overwrite mode is one rewrite commit; the old snapshot survives
    mk(999L).write.format("graft").mode("overwrite").save(root)
    assert(TableStore.versions(spark, root) == Seq(1L, 2L, 3L))
    assert(TableStore.read(spark, root).select("id")
      .collect().map(_.getLong(0)).toSet == Set(999L))
    assert(TableStore.read(spark, root, Some(2L)).count() == 200L)
  }

  test("SQL INSERT enforces CHECK constraints; time-travel pins are " +
      "read-only") {
    val root = tmp()
    TableStore.append(mk(1L to 3L: _*), root)
    TableStore.addConstraint(spark, root, "pos_id", "id > 0")
    spark.conf.set("spark.sql.catalog.gsqlw",
      classOf[GraftCatalog].getName)
    mk(-7L).createOrReplaceTempView("sqlw_bad")
    // the SQL write path is the commit API: the constraint refuses
    // the commit, proving INSERT INTO is not a contract bypass
    val ex = intercept[Exception] {
      spark.sql(s"INSERT INTO gsqlw.`$root` SELECT * FROM sqlw_bad")
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e =>
        Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("pos_id")))
    assert(TableStore.versions(spark, root) == Seq(1L, 2L)) // nothing landed
    // a VERSION AS OF pin is a READ pin
    mk(9L).createOrReplaceTempView("sqlw_nine")
    val ex2 = intercept[Exception] {
      spark.sql(s"INSERT INTO gsqlw.`$root` VERSION AS OF 1 " +
        "SELECT * FROM sqlw_nine")
    }
    assert(messages(ex2).exists(m =>
      m.contains("read-only") || m.contains("VERSION AS OF")))
  }

  test("SQL = and IN on a bloom store select the files the typed " +
      "lookup touches") {
    val s = spark; import s.implicits._
    val root = tmp()
    // four files whose keys interleave: only the blooms tell them apart
    (0 until 4).foreach { f =>
      TableStore.append((0 until 40).map(i => i * 4 + f)
        .map(k => (k.toLong, k, s"id-$k")).toDF("id", "n", "cid")
        .coalesce(1), root, bloomCols = Seq("cid", "n"))
    }
    val g = "gsqlbloom"
    spark.conf.set(s"spark.sql.catalog.$g", classOf[GraftCatalog].getName)
    Seq(
      TableStore.pointLookupString(spark, root, "cid", Seq("id-5")) ->
        "cid = 'id-5'",
      TableStore.pointLookupString(spark, root, "cid",
        Seq("id-5", "id-6")) -> "cid IN ('id-5', 'id-6')",
      TableStore.pointLookupString(spark, root, "cid",
        Seq("id-5", "id-9")) -> "cid IN ('id-5', 'id-9')",
      // an int column: SQL probes it with an Integer literal
      TableStore.readWhere(spark, root,
        Seq(org.apache.spark.sql.sources.In("n", Array(5L)))) -> "n = 5"
    ).foreach { case ((typed, touched, live), cond) =>
      assert(live == 4)
      val viaSql = spark.sql(s"SELECT id, cid FROM $g.`$root` WHERE $cond")
      assert(fileScan(viaSql).selectedPartitions.totalNumberOfFiles ==
        touched, s"$cond: SQL scans differ from the typed lookup's $touched")
      assert(rowsAsSet(viaSql) == rowsAsSet(typed.select("id", "cid")))
    }
  }

  test("a SQL UPDATE keeps the rewritten file's bloom: = probes of " +
      "absent in-range keys still refute it") {
    val s = spark; import s.implicits._
    val root = tmp()
    // two files of even keys; min/max cannot refute an odd key
    Seq(0 until 40, 40 until 80).foreach { ks =>
      TableStore.append(ks.map(i => (i.toLong, s"id-${2 * i}", 0L))
        .toDF("id", "cid", "v").coalesce(1), root, bloomCols = Seq("cid"))
    }
    val g = "gsqlbloomupd"
    spark.conf.set(s"spark.sql.catalog.$g", classOf[GraftCatalog].getName)
    val before = TableStore.liveAt(spark, root, 2L).map(_.path).toSet
    spark.sql(s"UPDATE $g.`$root` SET v = 1 WHERE id = 50").collect()
    val after = TableStore.liveAt(spark, root,
      TableStore.versions(spark, root).last).map(_.path).toSet
    assert((before -- after).size == 1 && (after -- before).size == 1,
      s"the UPDATE rewrites exactly one file: $before -> $after")
    Seq("id-101", "id-115", "id-133", "id-157").foreach { k =>
      val viaSql = spark.sql(s"SELECT id FROM $g.`$root` WHERE cid = '$k'")
      assert(fileScan(viaSql).selectedPartitions.totalNumberOfFiles == 0,
        s"cid = '$k' scanned a file its bloom refutes")
    }
  }

  private def hasAnyScan(df: DataFrame): Boolean = {
    df.collect()
    def leaves(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = p.collect {
      case f: FileSourceScanExec => Seq(f)
      case r: org.apache.spark.sql.execution.RowDataSourceScanExec =>
        Seq(r)
      case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
      // materialized AQE stages are leaf wrappers: descend explicitly
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        leaves(q.plan)
    }.flatten
    leaves(df.queryExecution.executedPlan).nonEmpty
  }

  test("COUNT(*) answers from the log with zero data IO") {
    val root = threeRangedCommits()
    spark.conf.set("spark.sql.catalog.gsqlc",
      classOf[graft.sources.GraftCatalog].getName)
    val c = spark.sql(s"SELECT COUNT(*) AS n FROM gsqlc.`$root`")
    assert(c.collect().head.getLong(0) == 300L)
    assert(!hasAnyScan(c), "bare COUNT(*) must plan as a LocalRelation")
    // time travel counts from the pinned snapshot's log slice
    val c1 = spark.sql(
      s"SELECT COUNT(*) AS n FROM gsqlc.`$root` VERSION AS OF 1")
    assert(c1.collect().head.getLong(0) == 100L)
    assert(!hasAnyScan(c1))
    // a DELETE-shrunk snapshot counts the post-delete log exactly
    spark.sql(s"DELETE FROM gsqlc.`$root` WHERE id <= 10").collect()
    val c2 = spark.sql(s"SELECT COUNT(*) AS n FROM gsqlc.`$root`")
    assert(c2.collect().head.getLong(0) == 290L)
    assert(!hasAnyScan(c2))
    // the dashboard-tile shape: a bare count inside a SCALAR SUBQUERY
    // short-circuits too (the rewrite descends into subquery plans)
    val c3 = spark.sql(
      s"SELECT 'tile' AS leg, (SELECT COUNT(*) FROM gsqlc.`$root`) AS n")
    assert(c3.collect().head.getLong(1) == 290L)
    assert(!hasAnyScan(c3),
      "a scalar-subquery bare COUNT(*) must answer from the log")
  }

  test("COUNT with a filter, grouping, or other aggregates still scans") {
    val root = threeRangedCommits()
    spark.conf.set("spark.sql.catalog.gsqlc",
      classOf[graft.sources.GraftCatalog].getName)
    val f = spark.sql(
      s"SELECT COUNT(*) AS n FROM gsqlc.`$root` WHERE id <= 150")
    assert(f.collect().head.getLong(0) == 150L)
    assert(hasAnyScan(f), "filtered counts are data-dependent")
    val m = spark.sql(
      s"SELECT COUNT(*) AS n, SUM(id) AS s FROM gsqlc.`$root`")
    assert(m.collect().head.getLong(0) == 300L)
    assert(hasAnyScan(m), "mixed aggregates scan")
    val cc = spark.sql(
      s"SELECT COUNT(payload) AS n FROM gsqlc.`$root`")
    assert(cc.collect().head.getLong(0) == 300L)
    assert(hasAnyScan(cc), "COUNT(column) is null-sensitive — scans")
  }

  test("COUNT over a DV-carrying snapshot takes the dv-aware path") {
    val root = threeRangedCommits()
    spark.conf.set("spark.sql.catalog.gsqlc",
      classOf[graft.sources.GraftCatalog].getName)
    TableStore.deleteWhereMoR(spark, root, col("id") === 5L)
    val c = spark.sql(s"SELECT COUNT(*) AS n FROM gsqlc.`$root`")
    assert(c.collect().head.getLong(0) == 299L,
      "the vectored row must not be counted")
  }

  test("the V1Scan fallback reports log statistics: a small " +
      "dv-carrying store broadcasts in a join") {
    val root = tmp()
    TableStore.append(mk(1L to 50L: _*).coalesce(1), root,
      statsCols = Seq("id"))
    TableStore.deleteWhereMoR(spark, root, col("id") === 1L)
    // a session without the graft extensions plans the fallback path —
    // exactly where missing stats used to default the relation to
    // "huge" and break broadcast decisions
    val plain = org.apache.spark.sql.graftbridge.TestSessions
      .withoutExtensions(spark)
    // AQE off: the broadcast decision must come from PLAN-time stats
    // (AQE's runtime re-plan would mask a missing estimate)
    val aqe = plain.conf.get("spark.sql.adaptive.enabled")
    plain.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val small = plain.read.format("graft").load(root)
      val big = plain.range(0L, 100000L).select(col("id").as("k"))
      val j = big.join(small, col("k") === col("id"))
      assert(j.count() == 49L)
      val bhj = j.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
      }
      assert(bhj.nonEmpty,
        s"expected a broadcast join from log-reported stats:\n" +
          j.queryExecution.executedPlan)
      assert(j.queryExecution.executedPlan.collect {
        case r: org.apache.spark.sql.execution.RowDataSourceScanExec => r
      }.nonEmpty, "the store must plan through its V1Scan fallback")
    } finally plain.conf.set("spark.sql.adaptive.enabled", aqe)
  }
}
