package graft

import org.apache.spark.sql.functions._

import graft.ops.TableStore

/** Row-level DML on the SQL surface (DELETE / UPDATE / MERGE through
  * the graft catalog): value semantics against hand-computed states,
  * the PROPORTIONALITY contract (files the predicate provably misses
  * stay live — byte-identical, never rewritten), constraint
  * enforcement, the refusal surface (time travel, subqueries,
  * nondeterminism, cardinality violations), and EXPLAIN safety. */
class SqlDmlSpec extends SparkSpec {

  private def cat(name: String): String = {
    spark.conf.set(s"spark.sql.catalog.$name",
      classOf[graft.sources.GraftCatalog].getName)
    name
  }

  /** Three key-ranged single-file commits over (id, name, v):
    * ids 1-3 / 11-13 / 21-23, v = 10*id. */
  private def rangedStore(tag: String): String = {
    val s = spark; import s.implicits._
    val root = graft.TempRoots.create(s"graft_sqldml_$tag") + "/t"
    Seq(Seq(1L, 2L, 3L), Seq(11L, 12L, 13L), Seq(21L, 22L, 23L))
      .foreach { ids =>
        TableStore.append(
          ids.map(i => (i, s"n$i", i * 10L)).toDF("id", "name", "v")
            .coalesce(1),
          root, statsCols = Seq("id"))
      }
    root
  }

  private def livePaths(root: String): Set[String] =
    TableStore.liveAt(spark, root,
      TableStore.versions(spark, root).last).map(_.path).toSet

  private def state(root: String): Seq[(Long, String, Long)] =
    TableStore.read(spark, root).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .toIndexedSeq

  test("DELETE rewrites only files the predicate can touch") {
    val root = rangedStore("delprop")
    val g = cat("gdml")
    val before = livePaths(root)
    assert(before.size == 3)
    spark.sql(s"DELETE FROM $g.`$root` WHERE id = 12").collect()
    val after = livePaths(root)
    // the two untouched range files are STILL LIVE — same log entries
    val untouched = before.filter(p => after.contains(p))
    assert(untouched.size == 2,
      s"expected 2 carried-over files, got $untouched of $before -> $after")
    assert(state(root).map(_._1) ==
      Seq(1L, 2L, 3L, 11L, 13L, 21L, 22L, 23L))
  }

  test("DELETE on a bloom store scans and rewrites only the files " +
      "the blooms keep") {
    val s = spark; import s.implicits._
    val root = graft.TempRoots.create("graft_sqldml_bloom") + "/t"
    // four files whose keys interleave: only the blooms tell them apart
    (0 until 4).foreach { f =>
      TableStore.append((0 until 40).map(i => (i * 4 + f).toLong)
        .map(k => (k, s"id-$k")).toDF("id", "cid").coalesce(1), root,
        bloomCols = Seq("cid"))
    }
    val (_, kept, live) =
      TableStore.pointLookupString(spark, root, "cid", Seq("id-5"))
    assert(kept == 1 && live == 4)
    // the file count of every scan the DELETE plans, read off its
    // executed plans; a marker query flushes the async listener bus
    import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p.collect {
      case f: FileSourceScanExec => Seq(f)
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
    }.flatten
    val scanned = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.analyzed.output.exists(_.name == "graft_marker"))
          flushed.countDown()
        else scans(qe.executedPlan).foreach(sc =>
          scanned.add(sc.selectedPartitions.totalNumberOfFiles))
      override def onFailure(f: String, qe: QueryExecution,
                             e: Exception): Unit = ()
    }
    val before = livePaths(root)
    spark.listenerManager.register(listener)
    try {
      spark.sql(s"DELETE FROM ${cat("gdml")}.`$root` WHERE cid = 'id-5'")
        .collect()
      spark.range(1).toDF("graft_marker").collect()
      assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    assert(!scanned.isEmpty && scanned.asScala.forall(_ <= kept),
      s"the DELETE scanned ${scanned.asScala.mkString(",")} files; " +
        s"the blooms keep $kept")
    assert((before -- livePaths(root)).size == 1)
    assert(TableStore.read(spark, root).select("id").collect()
      .map(_.getLong(0)).toSet == (0L until 160L).toSet - 5L)
  }

  test("DELETE that provably matches nothing commits nothing") {
    val root = rangedStore("delnoop")
    val g = cat("gdml")
    val v = TableStore.versions(spark, root).last
    spark.sql(s"DELETE FROM $g.`$root` WHERE id = 999").collect()
    assert(TableStore.versions(spark, root).last == v,
      "a no-match DELETE must not commit a version")
  }

  test("unconditional DELETE is a metadata-only truncate") {
    val root = rangedStore("delall")
    val g = cat("gdml")
    spark.sql(s"DELETE FROM $g.`$root`").collect()
    assert(livePaths(root).isEmpty, "truncate must remove all live files")
    assert(TableStore.read(spark, root).count() == 0)
    // history intact: the pre-truncate snapshot still reads
    assert(TableStore.read(spark, root, Some(3L)).count() == 9)
  }

  test("TRUNCATE TABLE is the same metadata-only commit") {
    val root = rangedStore("truncate")
    val g = cat("gdml")
    val dataFiles = livePaths(root)
    spark.sql(s"TRUNCATE TABLE $g.`$root`").collect()
    assert(livePaths(root).isEmpty)
    assert(TableStore.read(spark, root).count() == 0)
    // metadata-only: the data files still EXIST on disk (history
    // reads them); only the log shrank
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    dataFiles.foreach(p => assert(
      fs.exists(new org.apache.hadoop.fs.Path(s"$root/$p")),
      s"truncate must not touch data bytes: $p"))
    assert(TableStore.read(spark, root, Some(3L)).count() == 9,
      "history stays readable behind the truncate")
    // and the store keeps working: an INSERT lands as the next commit
    spark.sql(s"INSERT INTO $g.`$root` VALUES (99, 'n99', 990)")
    assert(state(root).map(_._1) == Seq(99L))
  }

  test("DELETE keeps NULL-predicate rows (three-valued semantics)") {
    val s = spark; import s.implicits._
    val root = graft.TempRoots.create("graft_sqldml_delnull") + "/t"
    TableStore.append(
      Seq((1L, Some(5L)), (2L, None), (3L, Some(50L)))
        .toDF("id", "flag"), root)
    val g = cat("gdml")
    spark.sql(s"DELETE FROM $g.`$root` WHERE flag < 10").collect()
    val left = TableStore.read(spark, root).orderBy("id")
      .collect().map(_.getLong(0)).toSeq
    assert(left == Seq(2L, 3L), s"NULL flag must survive: $left")
  }

  test("UPDATE applies assignments simultaneously and casts values") {
    val s = spark; import s.implicits._
    val root = graft.TempRoots.create("graft_sqldml_updswap") + "/t"
    TableStore.append(Seq((1L, 10L, 20L)).toDF("id", "a", "b"), root)
    val g = cat("gdml")
    spark.sql(s"UPDATE $g.`$root` SET a = b, b = a").collect()
    val r = TableStore.read(spark, root).collect().head
    assert((r.getLong(1), r.getLong(2)) == ((20L, 10L)),
      "SET a = b, b = a must SWAP (simultaneous assignment), not chain")
  }

  test("UPDATE rewrites only files holding a matching row") {
    val root = rangedStore("updprop")
    val g = cat("gdml")
    val before = livePaths(root)
    spark.sql(
      s"UPDATE $g.`$root` SET v = v + 1 WHERE id >= 21").collect()
    val after = livePaths(root)
    assert(before.intersect(after).size == 2,
      "the two low-range files must stay live untouched")
    assert(state(root).filter(_._1 >= 21L).map(_._3) ==
      Seq(211L, 221L, 231L))
    assert(state(root).filter(_._1 < 21L).map(_._3) ==
      Seq(10L, 20L, 30L, 110L, 120L, 130L))
  }

  test("UPDATE cannot smuggle a CHECK-constraint violation in") {
    val s = spark; import s.implicits._
    val root = graft.TempRoots.create("graft_sqldml_updck") + "/t"
    TableStore.append(Seq((1L, 10L), (2L, 20L)).toDF("id", "v"), root)
    TableStore.addConstraint(spark, root, "v_pos", "v > 0")
    val g = cat("gdml")
    val e = intercept[Exception] {
      spark.sql(s"UPDATE $g.`$root` SET v = -5 WHERE id = 1").collect()
    }
    assert(e.getMessage.contains("v_pos"), e.getMessage)
    assert(state2(root) == Seq((1L, 10L), (2L, 20L)),
      "a refused UPDATE must leave the table untouched")
  }

  private def state2(root: String): Seq[(Long, Long)] =
    TableStore.read(spark, root).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toIndexedSeq

  test("MERGE: update + delete + conditional insert, first-true-wins") {
    val s = spark; import s.implicits._
    val root = rangedStore("mergefull")
    val g = cat("gdml")
    Seq((2L, "two", 200L), (12L, "twelve", 1200L), (31L, "new", 310L),
      (32L, "skipme", -1L))
      .toDF("mid", "mname", "mv").createOrReplaceTempView("dml_src")
    spark.sql(s"""
      MERGE INTO $g.`$root` t USING dml_src s ON t.id = s.mid
      WHEN MATCHED AND s.mv >= 1000 THEN DELETE
      WHEN MATCHED THEN UPDATE SET name = s.mname, v = s.mv
      WHEN NOT MATCHED AND s.mv > 0
        THEN INSERT (id, name, v) VALUES (s.mid, s.mname, s.mv)""")
      .collect()
    val got = state(root)
    assert(!got.exists(_._1 == 12L), "mv>=1000 matched row must DELETE")
    assert(got.find(_._1 == 2L).contains((2L, "two", 200L)),
      s"matched update: $got")
    assert(got.find(_._1 == 31L).contains((31L, "new", 310L)),
      s"conditional insert: $got")
    assert(!got.exists(_._1 == 32L),
      "insert clause condition false: row must be dropped")
    assert(got.size == 9, s"1 delete +1 insert over 9: $got")
  }

  test("MERGE rewrites only key-touched files; inserts are new files") {
    val s = spark; import s.implicits._
    val root = rangedStore("mergeprop")
    val g = cat("gdml")
    val before = livePaths(root)
    Seq((22L, "x", 0L), (40L, "y", 400L))
      .toDF("mid", "mname", "mv").createOrReplaceTempView("dml_srcp")
    spark.sql(s"""
      MERGE INTO $g.`$root` t USING dml_srcp s ON t.id = s.mid
      WHEN MATCHED THEN UPDATE SET v = s.mv
      WHEN NOT MATCHED THEN INSERT (id, name, v)
        VALUES (s.mid, s.mname, s.mv)""").collect()
    val after = livePaths(root)
    assert(before.intersect(after).size == 2,
      s"two untouched range files must stay live: $before -> $after")
    assert(state(root).size == 10)
  }

  test("MERGE cardinality violation fails loudly, store untouched") {
    val s = spark; import s.implicits._
    val root = rangedStore("mergecard")
    val g = cat("gdml")
    val v = TableStore.versions(spark, root).last
    Seq((2L, "a", 1L), (2L, "b", 2L))
      .toDF("mid", "mname", "mv").createOrReplaceTempView("dml_dup")
    val e = intercept[Exception] {
      spark.sql(s"""
        MERGE INTO $g.`$root` t USING dml_dup s ON t.id = s.mid
        WHEN MATCHED THEN UPDATE SET v = s.mv""").collect()
    }
    assert(e.getMessage.contains("cardinality"), e.getMessage)
    assert(TableStore.versions(spark, root).last == v)
  }

  test("MERGE WHEN NOT MATCHED BY SOURCE deletes the unmatched rest") {
    val s = spark; import s.implicits._
    val root = rangedStore("mergenmbs")
    val g = cat("gdml")
    Seq(1L, 2L, 3L, 11L, 12L, 13L).toDF("mid")
      .createOrReplaceTempView("dml_keep")
    spark.sql(s"""
      MERGE INTO $g.`$root` t USING dml_keep s ON t.id = s.mid
      WHEN NOT MATCHED BY SOURCE THEN DELETE""").collect()
    assert(state(root).map(_._1) == Seq(1L, 2L, 3L, 11L, 12L, 13L),
      "the sync-to-source shape: target rows absent from source go")
  }

  test("insert-only MERGE tolerates a multi-matching source") {
    val s = spark; import s.implicits._
    val root = rangedStore("mergeinsdup")
    val g = cat("gdml")
    // key 2 matches twice; per the standard that is FINE when no
    // matched clause exists — neither copy inserts, nothing rewrites
    Seq((2L, "x", 1L), (2L, "y", 2L), (40L, "new", 400L))
      .toDF("mid", "mname", "mv").createOrReplaceTempView("dml_insdup")
    spark.sql(s"""
      MERGE INTO $g.`$root` t USING dml_insdup s ON t.id = s.mid
      WHEN NOT MATCHED THEN INSERT (id, name, v)
        VALUES (s.mid, s.mname, s.mv)""").collect()
    val got = state(root)
    assert(got.count(_._1 == 2L) == 1, s"no duplication of key 2: $got")
    assert(got.find(_._1 == 2L).contains((2L, "n2", 20L)),
      "matched row untouched by an insert-only merge")
    assert(got.count(_._1 == 40L) == 1)
    assert(got.size == 10)
  }

  test("NMBS-only MERGE keeps multi-matched rows exactly once") {
    val s = spark; import s.implicits._
    val root = rangedStore("mergenmbsdup")
    val g = cat("gdml")
    // every low key listed TWICE: kept rows must not duplicate in the
    // rewritten files (the left join sees each match twice)
    Seq(1L, 1L, 2L, 2L, 3L, 3L).toDF("mid")
      .createOrReplaceTempView("dml_nmbsdup")
    spark.sql(s"""
      MERGE INTO $g.`$root` t USING dml_nmbsdup s ON t.id = s.mid
      WHEN NOT MATCHED BY SOURCE THEN DELETE""").collect()
    val got = state(root)
    assert(got.map(_._1) == Seq(1L, 2L, 3L),
      s"kept rows exactly once, unmatched deleted: $got")
  }

  test("MERGE star actions work despite colliding raw column names") {
    val s = spark; import s.implicits._
    val root = rangedStore("mergestar")
    val g = cat("gdml")
    // source columns NAMED LIKE the target's: star expansion binds by
    // exprId, execution renames positionally — no ambiguity possible
    Seq((3L, "three", 300L), (30L, "thirty", 3000L))
      .toDF("id", "name", "v").createOrReplaceTempView("dml_star")
    spark.sql(s"""
      MERGE INTO $g.`$root` t USING dml_star s ON t.id = s.id
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *""").collect()
    val got = state(root)
    assert(got.find(_._1 == 3L).contains((3L, "three", 300L)))
    assert(got.find(_._1 == 30L).contains((30L, "thirty", 3000L)))
    assert(got.size == 10)
  }

  test("MERGE source reading the SAME store stays on the native scan") {
    val s = spark
    val root = rangedStore("mergeself")
    val g = cat("gdml")
    // classic dedup-compact shape: source = the table's own high keys
    spark.sql(s"""
      MERGE INTO $g.`$root` t
      USING (SELECT id + 100 AS sid, v AS sv FROM $g.`$root`
             WHERE id >= 21) s
      ON t.id = s.sid
      WHEN NOT MATCHED THEN INSERT (id, name, v)
        VALUES (s.sid, 'mirrored', s.sv)""").collect()
    assert(state(root).count(_._2 == "mirrored") == 3)
  }

  test("deleteMode=mor: DELETE commits a vector, files stay put") {
    val root = rangedStore("delmor")
    val g = cat("gdml")
    val before = livePaths(root)
    spark.conf.set(graft.ops.Dml.DeleteModeKey, "mor")
    try {
      spark.sql(s"DELETE FROM $g.`$root` WHERE id = 12").collect()
      assert(livePaths(root) == before,
        "merge-on-read must leave every data file live and untouched")
      assert(state(root).map(_._1) ==
        Seq(1L, 2L, 3L, 11L, 13L, 21L, 22L, 23L),
        "reads apply the vector")
      // a second MoR delete composes with the outstanding vector
      spark.sql(s"DELETE FROM $g.`$root` WHERE id = 13").collect()
      assert(state(root).map(_._1) ==
        Seq(1L, 2L, 3L, 11L, 21L, 22L, 23L))
      // fold back via the procedure; files rewrite proportionally
      spark.sql(s"CALL $g.purge_deletes(table => '$root')").collect()
      assert(state(root).map(_._1) ==
        Seq(1L, 2L, 3L, 11L, 21L, 22L, 23L))
    } finally spark.conf.set(graft.ops.Dml.DeleteModeKey, "cow")
  }

  test("DML cannot target a time-travel pin") {
    val root = rangedStore("dmlpin")
    val g = cat("gdml")
    // Spark's grammar has no VERSION AS OF in DML — the surface is
    // closed at the parser (requireWritable stays as defense in depth
    // should a future grammar open it)
    val e = intercept[Exception] {
      spark.sql(
        s"DELETE FROM $g.`$root` VERSION AS OF 1 WHERE id = 1").collect()
    }
    assert(e.getMessage.contains("PARSE_SYNTAX_ERROR") ||
      e.getMessage.contains("read-only"), e.getMessage)
    assert(TableStore.read(spark, root, Some(1L)).count() == 3,
      "pinned snapshots stay readable and untouched")
  }

  test("DELETE takes uncorrelated subquery predicates; " +
      "nondeterminism still refused") {
    val root = rangedStore("dmlrefuse")
    val g = cat("gdml")
    // the r12-era refusal is gone: the reference's literal DELETEs
    // are IN-subquery deletes (full coverage in DmlSubquerySpec)
    spark.sql(s"DELETE FROM $g.`$root` WHERE id IN " +
      s"(SELECT id FROM $g.`$root` WHERE v > 100)").collect()
    assert(state(root).map(_._1) == Seq(1L, 2L, 3L))
    val e2 = intercept[Exception] {
      spark.sql(s"DELETE FROM $g.`$root` WHERE rand() < 0.5").collect()
    }
    assert(e2.getMessage.contains("deterministic"), e2.getMessage)
  }

  test("EXPLAIN of a DML statement runs nothing") {
    val root = rangedStore("dmlexplain")
    val g = cat("gdml")
    val v = TableStore.versions(spark, root).last
    spark.sql(s"EXPLAIN DELETE FROM $g.`$root` WHERE id = 2").collect()
    spark.sql(s"EXPLAIN UPDATE $g.`$root` SET v = 0 WHERE id = 2")
      .collect()
    assert(TableStore.versions(spark, root).last == v,
      "EXPLAIN must not mutate")
    assert(state(root).size == 9)
  }

  test("reads of OTHER graft tables inside DML statements still work") {
    val s = spark
    val root = rangedStore("dmlcross")
    val other = rangedStore("dmlcross2")
    val g = cat("gdml")
    // the merge source is a DIFFERENT graft store — GraftRewrite must
    // still rewrite it (only the mutation TARGET is protected)
    spark.sql(s"""
      MERGE INTO $g.`$root` t
      USING (SELECT id AS sid FROM $g.`$other` WHERE id <= 3) s
      ON t.id = s.sid
      WHEN MATCHED THEN DELETE""").collect()
    assert(state(root).map(_._1) == Seq(11L, 12L, 13L, 21L, 22L, 23L))
  }
}
