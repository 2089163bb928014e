package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThanOrEqual}

import graft.ops.{Dml, TableStore}

/** Conflict-aware rebase for row-level DML commits ([[TableStore.commit]]
  * under [[TableStore.Screen.Rows]]): a keyed DELETE/UPDATE/MERGE that
  * loses a version race to a provably-disjoint racer (a pure append
  * whose log or footer bounds the predicate's filters REFUTE) rebases
  * and commits instead of abandoning its rewrite — the Layout screen's
  * argument applied to DML, because under the streaming sink's
  * continuous appends an always-losing DELETE starves. Everything NOT
  * provably disjoint still refuses loudly: unrefuted concurrent adds
  * (serial order would differ), removed touched files, delete vectors,
  * constraint changes in the window. */
class DmlRebaseSpec extends SparkSpec {

  private def tmp() = graft.TempRoots.create("graft_dmlrebase") + "/t"

  private def mk(ids: Long*) = {
    val s = spark; import s.implicits._
    ids.map(i => (i, i * 10L)).toDF("id", "v")
  }

  private def ranged(root: String): Unit =
    Seq(Seq(1L, 2L, 3L), Seq(11L, 12L, 13L), Seq(21L, 22L, 23L))
      .foreach(ids => TableStore.append(mk(ids: _*).coalesce(1), root,
        statsCols = Seq("id")))

  private def ids(root: String): Seq[Long] =
    TableStore.read(spark, root).orderBy("id").select("id")
      .collect().map(_.getLong(0)).toIndexedSeq

  /** Stage a DML-style rewrite of the middle file with id=12 deleted,
    * screened by `filters`, WITHOUT committing — the injection point
    * that lets a racer land between the op's planning and its commit
    * deterministically. */
  private def stageDelete12(root: String,
                            filters: Seq[org.apache.spark.sql.sources.Filter])
      : TableStore.Change = {
    val live = TableStore.liveAt(spark, root,
      TableStore.versions(spark, root).last)
    val touched = live.filter(e =>
      e.mins.get("id").exists(_ == 11L)).map(_.path)
    assert(touched.size == 1, s"expected the 11-13 file: $live")
    val rel = "data/vX-dmlrebase" +
      java.util.UUID.randomUUID.toString.take(8)
    val keptDf = spark.read.parquet(
      touched.map(p => s"$root/$p"): _*).where(col("id") =!= 12L)
    keptDf.coalesce(1).write.parquet(s"$root/$rel")
    val p = new org.apache.hadoop.fs.Path(s"$root/$rel")
    val adds = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(p).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(s => TableStore.FileEntry(s"$rel/${s.getPath.getName}", 2L,
        Map("id" -> 11L), Map("id" -> 13L)))
    TableStore.Change(adds, touched, Some("rewrite"),
      screen = TableStore.Screen.Rows(filters))
  }

  private val filters1113 = Seq(GreaterThanOrEqual("id", 11L),
    LessThanOrEqual("id", 13L))

  test("DML rewrite rebases past a refuted concurrent append") {
    val root = tmp()
    ranged(root) // v1-3
    val delete12 = stageDelete12(root, filters1113)
    // the racer: an out-of-range append claims v4 — its logged bounds
    // [31, 33] are refuted by the predicate's [11, 13] filters
    assert(TableStore.append(mk(31L, 32L, 33L).coalesce(1), root,
      statsCols = Seq("id")) == 4L)
    val committed = TableStore.commit(spark, root, 4L, delete12)
    assert(committed == Some(5L)) // rebased once, not abandoned
    assert(TableStore.versions(spark, root) == Seq(1L, 2L, 3L, 4L, 5L))
    // both writers' work survives
    assert(ids(root) ==
      Seq(1L, 2L, 3L, 11L, 13L, 21L, 22L, 23L, 31L, 32L, 33L))
  }

  test("DML rewrite rebases past a stat-less append its footer " +
      "bounds refute") {
    val root = tmp()
    ranged(root) // v1-3
    val delete12 = stageDelete12(root, filters1113)
    // the racer logs no bounds, but its footer's [31, 33] is refuted
    // by the predicate's [11, 13] filters, the way a read prunes it
    assert(TableStore.append(mk(31L, 32L, 33L).coalesce(1), root) == 4L)
    assert(TableStore.commit(spark, root, 4L, delete12) == Some(5L))
    assert(ids(root) ==
      Seq(1L, 2L, 3L, 11L, 13L, 21L, 22L, 23L, 31L, 32L, 33L))
  }

  test("rebase refuses an UNREFUTED concurrent add (serial order " +
      "would differ)") {
    val root = tmp()
    ranged(root)
    val delete12 = stageDelete12(root, filters1113)
    // the racer appends a row INSIDE the predicate's range: serially
    // (append first) the delete should have examined it
    TableStore.append(mk(12L).coalesce(1), root, statsCols = Seq("id"))
    val ex = intercept[java.util.ConcurrentModificationException] {
      TableStore.commit(spark, root, 4L, delete12)
    }
    assert(ex.getMessage.contains("might hold rows"), ex.getMessage)
    assert(TableStore.versions(spark, root) == Seq(1L, 2L, 3L, 4L))
  }

  test("rebase refuses a racer whose files lack the predicate's column") {
    val root = tmp()
    ranged(root)
    val delete12 = stageDelete12(root, filters1113)
    val s = spark; import s.implicits._
    TableStore.append(Seq(7L).toDF("w").coalesce(1), root)
    val ex = intercept[java.util.ConcurrentModificationException] {
      TableStore.commit(spark, root, 4L, delete12)
    }
    assert(ex.getMessage.contains("might hold rows"), ex.getMessage)
  }

  test("empty filters refuse on ANY concurrent add (the truncate / " +
      "untranslatable-predicate posture)") {
    val root = tmp()
    ranged(root)
    val delete12 = stageDelete12(root, Nil)
    TableStore.append(mk(99L).coalesce(1), root, statsCols = Seq("id"))
    val ex = intercept[java.util.ConcurrentModificationException] {
      TableStore.commit(spark, root, 4L, delete12)
    }
    assert(ex.getMessage.contains("might hold rows"), ex.getMessage)
  }

  test("rebase refuses when a racer removed a touched file") {
    val root = tmp()
    ranged(root)
    val delete12 = stageDelete12(root, filters1113)
    TableStore.overwrite(mk(50L), root) // the racer rewrites the table
    val ex = intercept[java.util.ConcurrentModificationException] {
      TableStore.commit(spark, root, 4L, delete12)
    }
    assert(ex.getMessage.contains("touched files"), ex.getMessage)
    assert(ids(root) == Seq(50L)) // the winner's table is untouched
  }

  test("rebase refuses when a delete vector or constraint landed in " +
      "the window") {
    val root = tmp()
    ranged(root)
    val delete12 = stageDelete12(root, filters1113)
    TableStore.deleteWhereMoR(spark, root,
      col("id") === 21L) // v4: dv action
    val ex = intercept[java.util.ConcurrentModificationException] {
      TableStore.commit(spark, root, 4L, delete12)
    }
    assert(ex.getMessage.contains("dv"), ex.getMessage)

    val root2 = tmp()
    ranged(root2)
    val delete12b = stageDelete12(root2, filters1113)
    TableStore.addConstraint(spark, root2, "vpos", "v >= 0") // v4
    val ex2 = intercept[java.util.ConcurrentModificationException] {
      TableStore.commit(spark, root2, 4L, delete12b)
    }
    assert(ex2.getMessage.contains("constraint"), ex2.getMessage)
  }

  test("empty filters refuse a REMOVES-ONLY racer; keyed filters " +
      "rebase past it") {
    // the racer: a COW DELETE of every row in the 21-23 file — the
    // rewrite yields zero rows, writeData drops empty parts, so the
    // commit is removes-with-zero-adds. For a subquery predicate or
    // self-reading source (empty screen) the match set can depend on
    // rows in files this op never touched, so the rebase must refuse;
    // a keyed per-row predicate (non-empty screen) is unaffected by
    // vanished rows outside its touched set and keeps rebasing.
    val root = tmp()
    ranged(root)
    val delete12 = stageDelete12(root, Nil)
    assert(Dml.delete(spark, root,
      col("id") >= 21L && col("id") <= 23L) == 4L)
    assert(TableStore.liveAt(spark, root, 4L).size == 2,
      "racer must commit removes with zero adds")
    val ex = intercept[java.util.ConcurrentModificationException] {
      TableStore.commit(spark, root, 4L, delete12)
    }
    assert(ex.getMessage.contains("concurrently removed"), ex.getMessage)

    val root2 = tmp()
    ranged(root2)
    val delete12b = stageDelete12(root2, filters1113)
    assert(Dml.delete(spark, root2,
      col("id") >= 21L && col("id") <= 23L) == 4L)
    assert(TableStore.commit(spark, root2, 4L, delete12b) == Some(5L))
    assert(ids(root2) == Seq(1L, 2L, 3L, 11L, 13L))
  }

  test("dropEmpty resumes after a crash between tombstone and delete") {
    val fs = new org.apache.hadoop.fs.Path("/tmp")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the torn state: the v1 `dropped` tombstone committed (exactly
    // what dropEmpty commits), then the process died before the
    // recursive delete ran
    val root = graft.TempRoots.create("graft_dropresume") + "/t"
    TableStore.createEmpty(spark, root, mk(1L).schema)
    TableStore.commit(spark, root, 1L, TableStore.Change(Nil, Nil,
      Some("dropped"), screen = TableStore.Screen.Exclusive))
    assert(TableStore.versions(spark, root) == Seq(1L))
    // writers stay fenced by the tombstone (the v1→v2 check)…
    intercept[IllegalStateException] {
      TableStore.append(mk(5L), root)
    }
    // …and a re-run of dropEmpty RESUMES the delete instead of
    // refusing with the misleading "has committed versions" error
    // that would brick the root
    TableStore.dropEmpty(spark, root)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(root)))
  }

  test("end-to-end: keyed DELETEs interleaved with an appender " +
      "thread — history linear, both writers' content lands") {
    val root = tmp()
    ranged(root)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val appender = new Thread(() =>
      try (1L to 8L).foreach { i =>
        TableStore.append(mk(100L + i).coalesce(1), root,
          statsCols = Seq("id"))
      } catch { case t: Throwable => failures.add(t) })
    appender.start()
    // keyed deletes racing the appender: every append's bounds
    // (101-108) are refuted by each delete's key filter, so a lost
    // race REBASES — the deletes never starve
    try Seq(12L, 22L, 2L).foreach { k =>
      Dml.delete(spark, root, col("id") === k)
    } finally appender.join()
    assert(failures.isEmpty, s"appender failed: ${failures.peek()}")
    val vs = TableStore.versions(spark, root)
    assert(vs == (1L to vs.size), s"history must be linear: $vs")
    assert(ids(root) ==
      Seq(1L, 3L, 11L, 13L, 21L, 23L) ++ (101L to 108L))
  }
}
