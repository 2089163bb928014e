package graft

import org.apache.spark.sql.functions._

import graft.ops.TableStore

/** CREATE TABLE / CTAS / DROP on the graft catalog: create anchors a
  * typed-empty store, CTAS lands the query as version 1 through the
  * ordinary append commit, and DROP succeeds only where nothing was
  * ever committed. */
class SqlDdlSpec extends SparkSpec {

  private def cat(name: String): String = {
    spark.conf.set(s"spark.sql.catalog.$name",
      classOf[graft.sources.GraftCatalog].getName)
    name
  }

  test("CREATE TABLE anchors a typed-empty store; INSERT lands v1") {
    val root = graft.TempRoots.create("graft_ddl_create") + "/t"
    val g = cat("gddl")
    spark.sql(s"CREATE TABLE $g.`$root` (id BIGINT, v BIGINT)")
    // typed empty before any commit
    val empty = spark.sql(s"SELECT * FROM $g.`$root`")
    assert(empty.columns.toSeq == Seq("id", "v") && empty.count() == 0)
    assert(TableStore.versions(spark, root).isEmpty)
    spark.sql(s"INSERT INTO $g.`$root` VALUES (1, 10), (2, 20)")
    assert(TableStore.versions(spark, root) == Seq(1L))
    assert(spark.sql(s"SELECT SUM(v) FROM $g.`$root`")
      .collect().head.getLong(0) == 30L)
  }

  test("CTAS creates and loads in one statement, one commit") {
    val root = graft.TempRoots.create("graft_ddl_ctas") + "/t"
    val g = cat("gddl")
    val s = spark; import s.implicits._
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "name")
      .createOrReplaceTempView("ddl_src")
    spark.sql(
      s"CREATE TABLE $g.`$root` AS SELECT * FROM ddl_src WHERE id <= 2")
    assert(TableStore.versions(spark, root) == Seq(1L),
      "CTAS must land exactly one commit")
    assert(spark.sql(s"SELECT * FROM $g.`$root` ORDER BY id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L))
    // and the created store is a full citizen: DML works on it
    spark.sql(s"DELETE FROM $g.`$root` WHERE id = 1").collect()
    assert(spark.sql(s"SELECT COUNT(*) FROM $g.`$root`")
      .collect().head.getLong(0) == 1L)
  }

  test("CREATE over an existing store refuses") {
    val root = graft.TempRoots.create("graft_ddl_clobber") + "/t"
    val s = spark; import s.implicits._
    TableStore.append(Seq((1L, 1L)).toDF("id", "v"), root)
    val g = cat("gddl")
    val e = intercept[Exception] {
      spark.sql(s"CREATE TABLE $g.`$root` (id BIGINT, v BIGINT)")
    }
    assert(e.getMessage.toLowerCase.contains("already exists") ||
      e.getMessage.contains("TABLE_OR_VIEW_ALREADY_EXISTS"),
      e.getMessage)
  }

  test("PARTITIONED BY declares the store's layout: writes " +
      "range-cluster and log bounds, partition predicates prune " +
      "from metadata, non-identity transforms refuse") {
    val s = spark; import s.implicits._
    val root = graft.TempRoots.create("graft_ddl_part") + "/t"
    val g = cat("gddl")
    spark.sql(s"CREATE TABLE $g.`$root` " +
      "(id BIGINT, run_month STRING, v BIGINT) PARTITIONED BY (run_month)")
    assert(graft.ops.TableStore.partitionColsOf(spark, root) ==
      Seq("run_month"))
    // DESCRIBE surfaces the contract
    val desc = spark.sql(s"DESCRIBE TABLE $g.`$root`").collect()
      .map(_.getString(0))
    assert(desc.contains("# Partition Information"), desc.mkString("|"))
    // the incremental-ingest shape: one batch per run month (at
    // scale a single multi-month INSERT also splits, because each
    // range-clustered output partition is advisory-sized; at test
    // scale AQE coalesces the tiny shuffle to one file, which is the
    // right call there too). Each file's logged [smin, smax] covers
    // its month, so an equality probe prunes the others with zero IO
    (1 to 3).foreach { m =>
      (1L to 30L).map(i => (i, f"2024-$m%02d", i * 10L))
        .toDF("id", "run_month", "v")
        .createOrReplaceTempView("ddl_part_src")
      spark.sql(s"INSERT INTO $g.`$root` SELECT * FROM ddl_part_src")
    }
    val live = graft.ops.TableStore.liveAt(spark, root, 3L)
    assert(live.size == 3, s"one file per month batch: " +
      s"${live.map(_.path)}")
    val touched = graft.ops.TableStore.prunedFiles(spark, root, live, None,
      Seq(org.apache.spark.sql.sources.EqualTo("run_month", "2024-02")))
    assert(touched.size < live.size,
      s"month probe must prune: ${touched.size} of ${live.size}")
    // the SCAN itself prunes: the rewrite's file index hands the
    // month filter to the log-stats skipper at planning time
    val probe = spark.sql(s"SELECT id FROM $g.`$root` " +
      "WHERE run_month = '2024-02'")
    assert(probe.count() == 30L)
    val scan = probe.queryExecution.executedPlan.collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.orElse(probe.queryExecution.executedPlan.collect {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan.collectFirst {
          case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
    }.flatten.headOption).get
    val selected = scan.relation.location
      .listFiles(scan.partitionFilters, scan.dataFilters)
      .map(_.files.size).sum
    assert(selected == 1,
      s"month probe must scan 1 of ${live.size} files, got $selected")
    // a write omitting the declared column refuses
    val e0 = intercept[Exception] {
      graft.ops.TableStore.append(
        Seq((1L, 2L)).toDF("id", "v"), root)
    }
    assert(e0.getMessage.contains("partition column"), e0.getMessage)
    // non-identity transforms stay refused toward layout commits
    val root2 = graft.TempRoots.create("graft_ddl_part2") + "/t"
    val e = intercept[Exception] {
      spark.sql(s"CREATE TABLE $g.`$root2` (id BIGINT, ts TIMESTAMP) " +
        "PARTITIONED BY (days(ts))")
    }
    assert(e.getMessage.contains("identity"), e.getMessage)
    val e2 = intercept[Exception] {
      spark.sql(s"CREATE TABLE $g.`$root2` (id BIGINT, v BIGINT) " +
        "PARTITIONED BY (nope)")
    }
    assert(e2.getMessage.toLowerCase.contains("unknown column") ||
      e2.getMessage.contains("nope"), e2.getMessage)
  }

  test("DROP retires only never-committed stores") {
    val root = graft.TempRoots.create("graft_ddl_drop") + "/t"
    val g = cat("gddl")
    spark.sql(s"CREATE TABLE $g.`$root` (id BIGINT)")
    spark.sql(s"DROP TABLE $g.`$root`")
    intercept[Exception] { // gone: reads fail loudly
      spark.sql(s"SELECT * FROM $g.`$root`").collect()
    }
    // committed history refuses
    val root2 = graft.TempRoots.create("graft_ddl_drop2") + "/t"
    val s = spark; import s.implicits._
    TableStore.append(Seq((1L, 1L)).toDF("id", "v"), root2)
    val e = intercept[Exception] {
      spark.sql(s"DROP TABLE $g.`$root2`")
    }
    assert(e.getMessage.contains("vacuum"), e.getMessage)
    assert(TableStore.read(spark, root2).count() == 1)
  }
}
