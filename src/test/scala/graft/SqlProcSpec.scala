package graft

import org.apache.spark.sql.functions._

import graft.ops.TableStore

/** Maintenance procedures on the SQL surface (`CALL cat.proc(…)`):
  * each verb routes to the same TableStore commit the API takes and
  * returns its evidence row. */
class SqlProcSpec extends SparkSpec {

  private def cat(name: String): String = {
    spark.conf.set(s"spark.sql.catalog.$name",
      classOf[graft.sources.GraftCatalog].getName)
    name
  }

  private def manySmall(tag: String, commits: Int = 6): String = {
    val s = spark; import s.implicits._
    val root = graft.TempRoots.create(s"graft_sqlproc_$tag") + "/t"
    (1 to commits).foreach { i =>
      TableStore.append(
        (1L to 50L).map(j => (i * 1000L + j, j * 2L)).toDF("id", "v")
          .coalesce(1), root, statsCols = Seq("id"))
    }
    root
  }

  test("CALL optimize folds small files and reports the commit") {
    val root = manySmall("opt")
    val g = cat("gproc")
    val before = TableStore.liveAt(spark, root,
      TableStore.versions(spark, root).last).size
    assert(before == 6)
    val r = spark.sql(
      s"CALL $g.optimize(table => '$root')").collect().head
    assert(r.getLong(0) == 7L, s"layout commit version: $r")
    assert(r.getLong(1) < before, s"live files must shrink: $r")
    assert(TableStore.read(spark, root).count() == 300,
      "content identical after optimize")
  }

  test("CALL optimize with cluster_by reclusters on the column") {
    val root = manySmall("optc")
    val g = cat("gproc")
    spark.sql(s"CALL $g.optimize(table => '$root', " +
      "cluster_by => 'id', target_mb => 1, " +
      "stats_cols => 'id', bloom_cols => 'id')").collect()
    assert(TableStore.read(spark, root).count() == 300)
    // the rewrite re-declared id stats: point probes prune by the log
    val live = TableStore.liveAt(spark, root,
      TableStore.versions(spark, root).last)
    assert(live.forall(e => e.mins.contains("id")),
      "stats_cols must land in the rewritten files' log entries")
  }

  test("CALL vacuum dry_run reports the plan and mutates nothing") {
    val root = manySmall("vacdry")
    val g = cat("gproc")
    val r = spark.sql(s"CALL $g.vacuum(table => '$root', " +
      "keep_versions => 2, dry_run => true)").collect().head
    assert(r.getLong(0) == 5L, s"horizon: $r")
    assert(r.getLong(1) == 4L, s"versions dropped: $r")
    assert(!r.getBoolean(4), "dry run must report executed = false")
    // nothing mutated: the oldest snapshot still reads
    assert(TableStore.read(spark, root, Some(1L)).count() == 50)
  }

  test("CALL vacuum executes: old snapshots become unreadable") {
    val root = manySmall("vacrun")
    val g = cat("gproc")
    val r = spark.sql(s"CALL $g.vacuum(table => '$root', " +
      "keep_versions => 2)").collect().head
    assert(r.getBoolean(4), "executed = true")
    assert(TableStore.read(spark, root, Some(6L)).count() == 300)
    intercept[Exception] {
      TableStore.read(spark, root, Some(1L)).count()
    }
  }

  test("CALL add_constraint guards SQL INSERT; drop_constraint lifts") {
    val s = spark; import s.implicits._
    val root = manySmall("ck", commits = 1)
    val g = cat("gproc")
    spark.sql(s"CALL $g.add_constraint(table => '$root', " +
      "name => 'v_pos', expr => 'v > 0')").collect()
    Seq((9999L, -1L)).toDF("id", "v").createOrReplaceTempView("proc_bad")
    val e = intercept[Exception] {
      spark.sql(s"INSERT INTO $g.`$root` SELECT * FROM proc_bad")
    }
    assert(e.getMessage.contains("v_pos"), e.getMessage)
    spark.sql(s"CALL $g.drop_constraint(table => '$root', " +
      "name => 'v_pos')").collect()
    spark.sql(s"INSERT INTO $g.`$root` SELECT * FROM proc_bad")
    assert(TableStore.read(spark, root).where(col("v") < 0).count() == 1)
  }

  test("CALL purge_deletes folds merge-on-read vectors") {
    val root = manySmall("purge", commits = 2)
    val g = cat("gproc")
    TableStore.deleteWhereMoR(spark, root, col("id") === 1001L)
    val r = spark.sql(
      s"CALL $g.purge_deletes(table => '$root')").collect().head
    assert(r.getLong(0) == 4L, s"purge commit: $r")
    assert(TableStore.read(spark, root).count() == 99)
  }

  test("CALL clone + restore round trip") {
    val root = manySmall("clone", commits = 2)
    val dst = graft.TempRoots.create("graft_sqlproc_clonedst") + "/t"
    val g = cat("gproc")
    spark.sql(s"CALL $g.clone(source => '$root', target => '$dst', " +
      "version => 1)").collect()
    assert(TableStore.read(spark, dst).count() == 50)
    // restore the SOURCE back to v1 as a new commit
    val r = spark.sql(
      s"CALL $g.restore(table => '$root', version => 1)").collect().head
    assert(r.getLong(0) == 3L)
    assert(TableStore.read(spark, root).count() == 50)
    assert(TableStore.read(spark, root, Some(2L)).count() == 100,
      "history stays readable after restore")
  }

  test("CALL publish_run: @current pins, idempotent replay, the " +
      "half-finished tick stays invisible to run_manifest()") {
    val s = spark; import s.implicits._
    val base = graft.TempRoots.create("graft_sqlproc_pub")
    val silver = s"$base/silver"
    val gold = s"$base/gold"
    val manifest = s"$base/_runs"
    val g = cat("gproc")
    TableStore.append(Seq((1L, 10L), (2L, 20L)).toDF("id", "v")
      .coalesce(1), silver) // silver v1
    TableStore.append(Seq((2L, 30L)).toDF("n", "s").coalesce(1), gold)
    // tick 1 published via CALL, one layer pinned explicitly and one
    // at @current
    val r1 = spark.sql(s"CALL $g.publish_run(manifest => '$manifest', " +
      s"run_id => 1, layers => 'silver=$silver@current,gold=$gold@1')")
      .collect().head
    assert(!r1.isNullAt(0) && r1.getLong(0) == 1L, s"published: $r1")
    assert(!r1.getBoolean(1) && r1.getInt(2) == 2, s"fresh publish: $r1")
    // a REPLAYED publish stands down (batch-id ledger)
    val r2 = spark.sql(s"CALL $g.publish_run(manifest => '$manifest', " +
      s"run_id => 1, layers => 'silver=$silver@current,gold=$gold@1')")
      .collect().head
    assert(r2.isNullAt(0) && r2.getBoolean(1), s"replay stands down: $r2")
    // tick 2 commits silver then CRASHES before publish: the TVF
    // keeps resolving tick 1's consistent pair
    TableStore.append(Seq((9L, 90L)).toDF("id", "v").coalesce(1), silver)
    val pins = spark.sql(
      s"SELECT layer, version FROM run_manifest('$manifest') " +
        "ORDER BY layer").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(pins == Seq(("gold", 1L), ("silver", 1L)), pins.toString)
    // the re-run completes tick 2 and publishes — pins advance
    spark.sql(s"CALL $g.publish_run(manifest => '$manifest', " +
      s"run_id => 2, layers => 'silver=$silver@current,gold=$gold@1')")
    val pins2 = spark.sql(
      s"SELECT layer, version FROM run_manifest('$manifest') " +
        "ORDER BY layer").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(pins2 == Seq(("gold", 1L), ("silver", 2L)), pins2.toString)
    // malformed layer specs refuse loudly
    val e = intercept[Exception] {
      spark.sql(s"CALL $g.publish_run(manifest => '$manifest', " +
        s"run_id => 3, layers => 'silver$silver')").collect()
    }
    assert(e.getMessage.contains("name=store@version"), e.getMessage)
  }

  test("unknown procedure fails loudly with the inventory") {
    val g = cat("gproc")
    val e = intercept[Exception] {
      spark.sql(s"CALL $g.frobnicate(table => 'x')").collect()
    }
    // Spark wraps as FAILED_TO_LOAD_ROUTINE; our inventory message
    // rides the cause chain
    val msgs = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).take(5)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("optimize"), msgs)
  }
}
