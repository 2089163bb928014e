package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{GreaterThanOrEqual, In,
  LessThanOrEqual, StringStartsWith}
import graft.ops.TableStore

/** Commit-log table store: version numbering, snapshot isolation
  * across overwrite/compact, crash-invisible staging, vacuum
  * checkpointing, and the audit history. */
class TableStoreSpec extends SparkSpec {

  private def tmp() = graft.TempRoots
    .create("graft_tstore") + "/t"

  private def mk(ids: Long*) = {
    val s = spark; import s.implicits._
    ids.map(i => (i, s"r$i")).toDF("id", "payload")
  }

  private def ids(root: String, v: Option[Long] = None): Set[Long] =
    TableStore.read(spark, root, v)
      .select("id").collect().map(_.getLong(0)).toSet

  test("append accumulates; versions number from 1") {
    val root = tmp()
    assert(TableStore.append(mk(1, 2), root) == 1L)
    assert(TableStore.append(mk(3), root) == 2L)
    assert(TableStore.versions(spark, root) == Seq(1L, 2L))
    assert(ids(root) == Set(1L, 2L, 3L))
    assert(ids(root, Some(1L)) == Set(1L, 2L))
  }

  test("overwrite replaces content; earlier snapshots stay readable") {
    val root = tmp()
    TableStore.append(mk(1, 2), root)
    TableStore.append(mk(3), root)
    assert(TableStore.overwrite(mk(9), root) == 3L)
    assert(ids(root) == Set(9L))
    // time travel: version 2 is immune to the overwrite
    assert(ids(root, Some(2L)) == Set(1L, 2L, 3L))
    assert(ids(root, Some(1L)) == Set(1L, 2L))
  }

  test("compact preserves content as a new version; old layout readable") {
    val root = tmp()
    TableStore.append(mk(1L to 50L: _*).repartition(10), root)
    TableStore.append(mk(51L to 60L: _*).repartition(5), root)
    val v = TableStore.compact(spark, root, targetBytes = 1L << 30)
    assert(v == 3L)
    assert(ids(root, Some(3L)) == (1L to 60L).toSet)
    assert(ids(root, Some(2L)) == (1L to 60L).toSet) // same rows, old files
    val h = TableStore.history(spark, root).collect()
      .map(r => r.getAs[Long]("version") ->
        (r.getAs[Long]("n_added"), r.getAs[Long]("n_removed"),
          r.getAs[Long]("rows_added"))).toMap
    assert(h(3L)._1 == 1L) // one compacted file
    // every file v1+v2 added is removed by the compaction commit
    assert(h(3L)._2 == h(1L)._1 + h(2L)._1)
    assert(h(3L)._3 == 60L)
  }

  test("a staged-but-unrenamed log is invisible to readers") {
    val root = tmp()
    TableStore.append(mk(1), root)
    // simulate a crash between data write and log rename: data files
    // for v2 exist, log dir does not
    mk(2).write.parquet(s"$root/data/v2")
    assert(TableStore.versions(spark, root) == Seq(1L))
    assert(ids(root) == Set(1L))
  }

  test("vacuum retires history behind a checkpoint; window stays exact") {
    val root = tmp()
    TableStore.append(mk(1, 2), root)   // v1
    TableStore.append(mk(3), root)      // v2
    TableStore.overwrite(mk(7, 8), root) // v3 — v1/v2 files now dead there
    TableStore.append(mk(9), root)      // v4
    TableStore.vacuum(spark, root, keepVersions = 2)
    assert(TableStore.versions(spark, root) == Seq(3L, 4L))
    assert(ids(root, Some(3L)) == Set(7L, 8L))
    assert(ids(root) == Set(7L, 8L, 9L))
    // pre-horizon versions are gone, loudly
    intercept[IllegalArgumentException] {
      TableStore.read(spark, root, Some(2L))
    }
    // v1/v2 data files are physically deleted (nothing kept references
    // them after the v3 overwrite)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val dataDirs = fs.listStatus(
        new org.apache.hadoop.fs.Path(s"$root/data"))
      .map(_.getPath.getName)
    assert(!dataDirs.exists(_.startsWith("v1-")))
    // idempotent
    TableStore.vacuum(spark, root, keepVersions = 2)
    assert(ids(root) == Set(7L, 8L, 9L))
  }

  test("vacuum checkpoint keeps still-live old files") {
    val root = tmp()
    TableStore.append(mk(1, 2), root) // v1 — stays live forever
    TableStore.append(mk(3), root)    // v2
    TableStore.append(mk(4), root)    // v3
    TableStore.vacuum(spark, root, keepVersions = 2)
    // v1's file predates the horizon but is live at v2/v3: the
    // checkpoint must carry it
    assert(TableStore.versions(spark, root) == Seq(2L, 3L))
    assert(ids(root, Some(2L)) == Set(1L, 2L, 3L))
    assert(ids(root) == Set(1L, 2L, 3L, 4L))
  }

  test("empty overwrite yields a readable empty snapshot with schema") {
    val s = spark; import s.implicits._
    val root = tmp()
    TableStore.append(mk(1, 2), root)
    TableStore.overwrite(
      Seq.empty[(Long, String)].toDF("id", "payload"), root)
    val snap = TableStore.read(spark, root)
    assert(snap.count() == 0L)
    assert(snap.columns.toSeq == Seq("id", "payload"))
    assert(ids(root, Some(1L)) == Set(1L, 2L)) // history intact
  }

  test("deleteWhere drops rows copy-on-write; history keeps them") {
    val root = tmp()
    TableStore.append(mk(1L to 100L: _*).coalesce(1), root)
    TableStore.append(mk(1000L to 1100L: _*).coalesce(1), root)
    val v = TableStore.deleteWhere(spark, root,
      col("id").between(1050L, 1060L), ("id", 1050L, 1060L))
    assert(v == 3L)
    assert(ids(root) ==
      ((1L to 100L) ++ (1000L to 1049L) ++ (1061L to 1100L)).toSet)
    // pre-delete snapshot still carries the deleted rows
    assert(ids(root, Some(2L)).contains(1055L))
  }

  test("deleteWhere skips files whose stats range can't match") {
    val root = tmp()
    TableStore.append(mk(1L to 100L: _*).coalesce(1), root)   // one file
    TableStore.append(mk(1000L to 1100L: _*).coalesce(1), root) // one file
    TableStore.deleteWhere(spark, root,
      col("id").between(1050L, 1060L), ("id", 1050L, 1060L))
    // only commit 2's file was rewritten: exactly one remove action,
    // and it names a data/v2 file
    val removes = TableStore.history(spark, root)
      .where(col("version") === 3).collect().head
    assert(removes.getAs[Long]("n_removed") == 1L)
    val removedPaths = spark.read.parquet(s"$root/_log")
      .where(col("v") === 3 && col("action") === "remove")
      .select("path").collect().map(_.getString(0))
    assert(removedPaths.forall(_.startsWith("data/v2-")))
  }

  test("deleteWhere outside every file's range is a version no-op") {
    val root = tmp()
    TableStore.append(mk(1L to 50L: _*), root)
    val v = TableStore.deleteWhere(spark, root,
      col("id").between(900L, 950L), ("id", 900L, 950L))
    assert(v == 1L) // nothing touched, nothing committed
    assert(TableStore.versions(spark, root) == Seq(1L))
    assert(ids(root) == (1L to 50L).toSet)
  }

  test("appendBatch: same batch id commits once; empty batch never") {
    val s = spark; import s.implicits._
    val root = tmp()
    assert(TableStore.appendBatch(mk(1, 2), root, batchId = 0L)
      == Some(1L))
    // retry of batch 0 (foreachBatch crash-replay) is skipped
    assert(TableStore.appendBatch(mk(1, 2), root, batchId = 0L).isEmpty)
    assert(TableStore.appendBatch(mk(3), root, batchId = 1L)
      == Some(2L))
    assert(ids(root) == Set(1L, 2L, 3L))
    // empty batch: nothing to duplicate, nothing committed
    assert(TableStore.appendBatch(
      Seq.empty[(Long, String)].toDF("id", "payload"), root, 2L).isEmpty)
    assert(TableStore.versions(spark, root) == Seq(1L, 2L))
  }

  test("sinkStream lands one commit per micro-batch, replay-safe") {
    val s = spark; import s.implicits._
    val root = tmp()
    val src = s"$root/src"
    // three distinct source files -> three micro-batches at
    // maxFilesPerTrigger=1
    mk(1, 2).coalesce(1).write.parquet(s"$src/f1")
    mk(3).coalesce(1).write.parquet(s"$src/f2")
    mk(4, 5).coalesce(1).write.parquet(s"$src/f3")
    val schema = spark.read.parquet(s"$src/f1").schema
    def stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$src/f*")
    val store = s"$root/store"
    TableStore.sinkStream(stream, store, s"$root/ckpt")
    assert(ids(store) == Set(1L, 2L, 3L, 4L, 5L))
    assert(TableStore.versions(spark, store).size == 3)
    // restart on the same checkpoint: no new data, no new versions
    TableStore.sinkStream(stream, store, s"$root/ckpt")
    assert(TableStore.versions(spark, store).size == 3)
    assert(ids(store) == Set(1L, 2L, 3L, 4L, 5L))
  }

  test("all-empty lifecycle: append/overwrite/compact/delete on zero rows") {
    val s = spark; import s.implicits._
    val root = tmp()
    val empty = Seq.empty[(Long, String)].toDF("id", "payload")
    assert(TableStore.append(empty, root) == 1L)
    assert(TableStore.append(empty, root) == 2L)
    assert(TableStore.overwrite(empty, root) == 3L)
    assert(TableStore.compact(spark, root, 1L << 20) == 4L)
    // delete on an empty table is a provable no-op
    assert(TableStore.deleteWhere(spark, root,
      col("id") === 1L, ("id", 1L, 1L)) == 4L)
    (1L to 4L).foreach { v =>
      val snap = TableStore.read(spark, root, Some(v))
      assert(snap.count() == 0L)
      assert(snap.columns.toSeq == Seq("id", "payload"))
    }
    // an empty streamed batch doesn't block the next batch's version
    assert(TableStore.appendBatch(empty, root, batchId = 9L).isEmpty)
    assert(TableStore.appendBatch(mk(1), root, batchId = 10L)
      == Some(5L))
    // a touched-but-never-committed store reads as typed empty
    val root2 = tmp()
    assert(TableStore.appendBatch(empty, root2, batchId = 0L).isEmpty)
    val snap2 = TableStore.read(spark, root2)
    assert(snap2.count() == 0L &&
      snap2.columns.toSeq == Seq("id", "payload"))
  }

  test("readRange opens only stats-overlapping files; values exact") {
    val root = tmp()
    TableStore.append(mk(1L to 100L: _*).coalesce(1), root)
    TableStore.append(mk(1000L to 1100L: _*).coalesce(1), root)
    TableStore.append(mk(5000L to 5100L: _*).coalesce(1), root)
    val (df, touched, total) = TableStore.readRange(
      spark, root, "id", 1050L, 1060L)
    assert(touched == 1 && total == 3)
    assert(df.select("id").collect().map(_.getLong(0)).toSet ==
      (1050L to 1060L).toSet)
    // a probe hitting nothing is typed-empty, zero files opened
    val (miss, t2, _) = TableStore.readRange(
      spark, root, "id", 900L, 950L)
    assert(t2 == 0 && miss.count() == 0L)
    assert(miss.columns.toSeq == Seq("id", "payload"))
    // pinned to an old version, the probe sees that snapshot
    val (old, t3, tot3) = TableStore.readRange(
      spark, root, "id", 5000L, 5100L, version = Some(2L))
    assert(t3 == 0 && tot3 == 2 && old.count() == 0L)
  }

  test("declared statsCols ride in the log; pruning needs no footers") {
    val root = tmp()
    TableStore.append(mk(1L to 100L: _*).coalesce(1), root,
      statsCols = Seq("id"))
    TableStore.append(mk(1000L to 1100L: _*).coalesce(1), root,
      statsCols = Seq("id"))
    // the commit log itself carries the ranges
    val rows = spark.read.parquet(s"$root/_log")
      .where(col("action") === "add")
      .select(col("min_vals")("id"), col("max_vals")("id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows == Set((1L, 100L), (1000L, 1100L)))
    // prune still exact after the data files are MOVED aside — the
    // footers are unreachable, so only the log can have answered
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val v1dir = fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/data"))
      .map(_.getPath).find(_.getName.startsWith("v1-")).get
    val hidden = new org.apache.hadoop.fs.Path(s"$root/hidden_v1")
    fs.rename(v1dir, hidden)
    val (_, touched, total) = TableStore.readRange(
      spark, root, "id", 1050L, 1060L)
    assert(touched == 1 && total == 2)
    fs.rename(hidden, v1dir)
  }

  test("optimizeLayout: content preserved, probe collapses to one file") {
    val root = tmp()
    // each append spans the whole key space -> every file overlaps
    // every probe
    (0 until 3).foreach { i =>
      TableStore.append(
        mk((0L until 300L).filter(_ % 3 == i): _*).coalesce(1), root,
        statsCols = Seq("id"))
    }
    val (_, t0, tot0) = TableStore.readRange(spark, root, "id", 10L, 20L)
    assert(t0 == 3 && tot0 == 3)
    val v = TableStore.optimizeLayout(spark, root, "id",
      targetBytes = 1L << 10, statsCols = Seq("id"))
    assert(v == 4L)
    // content identical through the rewrite, old layout still pinned
    assert(ids(root, Some(4L)) == (0L until 300L).toSet)
    assert(ids(root, Some(3L)) == (0L until 300L).toSet)
    val (df1, t1, tot1) = TableStore.readRange(spark, root, "id", 10L, 20L)
    assert(tot1 > 1, "optimize must produce multiple clustered files")
    assert(t1 <= 2 && t1 < t0)
    assert(df1.select("id").collect().map(_.getLong(0)).toSet ==
      (10L to 20L).toSet)
    // the pinned pre-optimize version still probes its own layout
    val (_, tOld, _) = TableStore.readRange(
      spark, root, "id", 10L, 20L, version = Some(3L))
    assert(tOld == 3)
  }

  test("optimizeLayoutWhere reclusters only the files its interval meets") {
    val root = tmp()
    // two interleaved files over [0, 99], one over [200, 299] and one
    // over [400, 499]
    TableStore.append(mk((0L until 100L).filter(_ % 2 == 0): _*)
      .coalesce(1), root, statsCols = Seq("id"))
    TableStore.append(mk((0L until 100L).filter(_ % 2 == 1): _*)
      .coalesce(1), root, statsCols = Seq("id"))
    TableStore.append(mk(200L until 300L: _*).coalesce(1), root,
      statsCols = Seq("id"))
    TableStore.append(mk(400L until 500L: _*).coalesce(1), root,
      statsCols = Seq("id"))
    val before = TableStore.liveAt(spark, root, 4L).map(_.path)
    val far = TableStore.liveAt(spark, root, 4L)
      .filter(_.mins("id") == 400L).map(_.path)
    // [50, 250] meets the three files below 300, not the one at 400
    val v = TableStore.optimizeLayoutWhere(spark, root, "id", 50L, 250L,
      targetBytes = 1L << 30)
    assert(v == 5L)
    val h = TableStore.history(spark, root)
      .where(col("version") === v).collect().head
    assert(h.getAs[Long]("n_removed") == 3L)
    val after = TableStore.liveAt(spark, root, v)
    assert(after.map(_.path).intersect(before) == far,
      "the file outside the interval keeps its exact path")
    // the cluster column lands in the log stats with no statsCols
    assert(after.forall(e => e.mins.contains("id") && e.maxs.contains("id")))
    assert(ids(root) == ((0L until 100L) ++ (200L until 300L) ++
      (400L until 500L)).toSet)
    assert(ids(root, Some(v)) == ids(root, Some(4L)))
    // fewer than two overlapping files: no commit
    val vs = TableStore.versions(spark, root)
    assert(TableStore.optimizeLayoutWhere(spark, root, "id", 400L, 450L,
      targetBytes = 1L << 30) == v)
    assert(TableStore.optimizeLayoutWhere(spark, root, "id", 1000L,
      2000L, targetBytes = 1L << 30) == v)
    assert(TableStore.versions(spark, root) == vs)
  }

  test("optimizeLayoutCurve: 2-D tiles prune a box tight in either dim") {
    val s = spark; import s.implicits._
    val root = tmp()
    // 64x64 grid scattered round-robin: every file spans both dims
    (0 until 3).foreach { i =>
      val slice = (0L until 4096L).filter(_ % 3 == i)
        .map(id => (id, id % 64, (id * 37) % 64))
        .toDF("id", "x", "y").coalesce(1)
      TableStore.append(slice, root, statsCols = Seq("x", "y"))
    }
    val (_, t0, tot0) = TableStore.readWhere(spark, root,
      Seq(GreaterThanOrEqual("x", 0L), LessThanOrEqual("x", 63L),
        GreaterThanOrEqual("y", 8L), LessThanOrEqual("y", 15L)))
    assert(t0 == 3 && tot0 == 3, "scattered layout cannot prune")
    val v = TableStore.optimizeLayoutCurve(spark, root, "x", "y",
      bits = 6, targetBytes = 4L << 10)
    // content identical through the rewrite; schema UNCHANGED (the
    // curve key is an ordering device, never a column)
    val after = TableStore.read(spark, root)
    assert(after.columns.toSeq == Seq("id", "x", "y"))
    assert(after.count() == 4096L)
    assert(ids(root, Some(v)) == ids(root, Some(v - 1)))
    // a y-tight box (x unconstrained) now prunes: 1-D x-clustering
    // could never skip a file for this probe
    val (df1, t1, tot1) = TableStore.readWhere(spark, root,
      Seq(GreaterThanOrEqual("x", 0L), LessThanOrEqual("x", 63L),
        GreaterThanOrEqual("y", 8L), LessThanOrEqual("y", 15L)))
    assert(tot1 > 2, s"curve optimize must produce multiple files: $tot1")
    assert(t1 < tot1, s"y-slab must skip files: $t1/$tot1")
    assert(df1.count() ==
      (0L until 4096L).count(id => (id * 37) % 64 >= 8 && (id * 37) % 64 <= 15))
    // an x-tight box prunes too — compactness holds in BOTH dims
    val (_, t2, _) = TableStore.readWhere(spark, root,
      Seq(GreaterThanOrEqual("x", 8L), LessThanOrEqual("x", 15L),
        GreaterThanOrEqual("y", 0L), LessThanOrEqual("y", 63L)))
    assert(t2 < tot1, s"x-slab must skip files: $t2/$tot1")
    // the pinned pre-optimize version still probes its own layout
    val (_, tOld, totOld) = TableStore.readWhere(spark, root,
      Seq(GreaterThanOrEqual("x", 0L), LessThanOrEqual("x", 63L),
        GreaterThanOrEqual("y", 8L), LessThanOrEqual("y", 15L)),
      version = Some(v - 1))
    assert(tOld == 3 && totOld == 3)
  }

  test("pointLookup: blooms skip where ranges cannot") {
    val root = tmp()
    // interleaved keys: both files span [0, 999] so range stats
    // cannot separate them; blooms can
    TableStore.append(mk((0L until 1000L).filter(_ % 2 == 0): _*)
      .coalesce(1), root,
      statsCols = Seq("id"), bloomCols = Seq("id"))
    TableStore.append(mk((0L until 1000L).filter(_ % 2 == 1): _*)
      .coalesce(1), root,
      statsCols = Seq("id"), bloomCols = Seq("id"))
    val (df, touched, total) = TableStore.readWhere(
      spark, root, Seq(In("id", Array(84L, 422L, 918L)))) // all even: file 1
    assert(total == 2 && touched == 1)
    assert(df.select("id").collect().map(_.getLong(0)).toSet ==
      Set(84L, 422L, 918L))
    // keys from both parities touch both files
    val (_, t2, _) = TableStore.readWhere(
      spark, root, Seq(In("id", Array(84L, 85L))))
    assert(t2 == 2)
    // absent keys: blooms may skip everything; result stays exact
    val (miss, t3, _) = TableStore.readWhere(
      spark, root, Seq(In("id", Array(5000L, 6000L))))
    assert(miss.count() == 0L && t3 <= 2)
    // a file written WITHOUT a bloom is never skipped (not skippable)
    TableStore.append(mk(2000L).coalesce(1), root,
      statsCols = Seq("id"))
    val (hit, t4, _) = TableStore.readWhere(
      spark, root, Seq(In("id", Array(2000L))))
    assert(hit.count() == 1L && t4 == 1) // range stats already prune the others
  }

  test("deleteWhere keeps rows where the predicate is NULL") {
    val s = spark; import s.implicits._
    val root = tmp()
    // payload NULL for id 2: pred(payload === "r1") is NULL there —
    // three-valued !pred would silently drop it
    Seq((1L, "r1"), (2L, null.asInstanceOf[String]), (3L, "r3"))
      .toDF("id", "payload").coalesce(1)
      .write.parquet(s"$root/stage")
    TableStore.append(spark.read.parquet(s"$root/stage"), s"$root/t")
    TableStore.deleteWhere(spark, s"$root/t",
      col("payload") === "r1", ("id", 1L, 3L))
    assert(ids(s"$root/t") == Set(2L, 3L))
  }

  test("vacuum preserves batch-id markers: retry after vacuum still skips") {
    val root = tmp()
    assert(TableStore.appendBatch(mk(1), root, batchId = 0L).nonEmpty)
    assert(TableStore.appendBatch(mk(2), root, batchId = 1L).nonEmpty)
    assert(TableStore.appendBatch(mk(3), root, batchId = 2L).nonEmpty)
    TableStore.vacuum(spark, root, keepVersions = 1)
    // a foreachBatch crash-replay re-offers batch 0 AFTER the vacuum
    // rewrote the horizon log — the txn markers must still dedup it
    assert(TableStore.appendBatch(mk(1), root, batchId = 0L).isEmpty)
    assert(ids(root) == Set(1L, 2L, 3L))
  }

  test("a checkpoint swap crash between renames is recovered") {
    val root = tmp()
    TableStore.append(mk(1, 2), root)
    TableStore.append(mk(3), root)
    // simulate the crash window: v=2's log staged aside, target gone
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    fs.rename(new org.apache.hadoop.fs.Path(s"$root/_log/v=2"),
      new org.apache.hadoop.fs.Path(s"$root/_log/.old_ckpt_v2"))
    // first touch recovers the original log; nothing is lost
    assert(TableStore.versions(spark, root) == Seq(1L, 2L))
    assert(ids(root) == Set(1L, 2L, 3L))
  }

  test("pruning skips files that predate the column; typos stay loud") {
    val s = spark; import s.implicits._
    val root = tmp()
    TableStore.append(mk(1L to 50L: _*).coalesce(1), root) // no 'extra'
    TableStore.append(
      (100L to 120L).map(i => (i, s"r$i", i * 10)).toDF(
        "id", "payload", "extra").coalesce(1), root)
    // delete on the evolved column: the v1 file provably holds only
    // nulls for it — skipped, not a crash
    TableStore.deleteWhere(spark, root,
      col("extra").between(1000L, 1100L), ("extra", 1000L, 1100L))
    val snap = TableStore.readAs(spark, root,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("extra",
          org.apache.spark.sql.types.LongType))))
    assert(snap.where(col("extra").isNotNull).count() == 10L) // 111-120 kept
    assert(snap.count() == 60L) // 50 legacy + 10 survivors
    // a column NO file ever had is a misspelling, not evolution
    val ex = intercept[IllegalArgumentException] {
      TableStore.readRange(spark, root, "extrra", 0L, 1L)
    }
    assert(ex.getMessage.contains("misspelled"))
  }

  test("history has a row for every version, including no-action commits") {
    val s = spark; import s.implicits._
    val root = tmp()
    TableStore.append(
      Seq.empty[(Long, String)].toDF("id", "payload"), root)
    TableStore.compact(spark, root, 1L << 20) // no-action commit
    val h = TableStore.history(spark, root).collect()
    assert(h.map(_.getAs[Long]("version")).toSeq == Seq(1L, 2L))
    assert(h.forall(_.getAs[Long]("n_added") == 0L))
  }

  test("pointLookupString: string-key blooms skip; no-bloom files don't") {
    val s = spark; import s.implicits._
    val root = tmp()
    // two bloom-indexed files with disjoint string key sets — integer
    // range stats can't exist for strings, so only blooms can skip
    TableStore.append(
      (0 until 500).map(i => (s"doc-a-$i", i.toLong)).toDF("k", "v")
        .coalesce(1), root, bloomCols = Seq("k"))
    TableStore.append(
      (0 until 500).map(i => (s"doc-b-$i", i.toLong)).toDF("k", "v")
        .coalesce(1), root, bloomCols = Seq("k"))
    val (df, touched, total) = TableStore.pointLookupString(
      spark, root, "k", Seq("doc-a-42", "doc-a-411"))
    assert(total == 2 && touched == 1)
    assert(df.select("v").collect().map(_.getLong(0)).toSet ==
      Set(42L, 411L))
    // keys from both files touch both
    val (_, t2, _) = TableStore.pointLookupString(
      spark, root, "k", Seq("doc-a-1", "doc-b-1"))
    assert(t2 == 2)
    // absent keys: result exact, blooms may skip everything
    val (miss, t3, _) = TableStore.pointLookupString(
      spark, root, "k", Seq("doc-zzz"))
    assert(miss.count() == 0L && t3 <= 2)
    // a file written WITHOUT a bloom is never skipped
    TableStore.append(Seq(("doc-c-1", 1L)).toDF("k", "v")
      .coalesce(1), root)
    val (hit, t4, tot4) = TableStore.pointLookupString(
      spark, root, "k", Seq("doc-c-1"))
    assert(tot4 == 3 && hit.count() == 1L)
    assert(t4 >= 1, "the no-bloom file must stay unskippable")
    // probing an INT column with strings: never skips, stays exact
    val (ints, t5, _) = TableStore.pointLookupString(
      spark, root, "v", Seq("42"))
    assert(t5 == 3 && ints.count() == 2L) // v=42 in both a and b files
    // a null probe matches nothing (SQL IN) and never throws
    val (withNull, t6, _) = TableStore.pointLookupString(
      spark, root, "k", Seq("doc-a-42", null))
    assert(withNull.select("v").collect().map(_.getLong(0)).toSeq ==
      Seq(42L))
    assert(t6 == 1) // only doc-a's bloom and bounds hold "doc-a-42"
    // typos stay loud
    val ex = intercept[IllegalArgumentException] {
      TableStore.pointLookupString(spark, root, "kk", Seq("x"))
    }
    assert(ex.getMessage.contains("misspelled"))
  }

  test("string statsCols: prefix and range reads prune from the log alone") {
    val s = spark; import s.implicits._
    val root = tmp()
    TableStore.append(
      (0 until 200).map(i => (f"dom-a/$i%04d", i.toLong)).toDF("k", "v")
        .coalesce(1), root, statsCols = Seq("k"))
    TableStore.append(
      (0 until 200).map(i => (f"dom-b/$i%04d", i.toLong)).toDF("k", "v")
        .coalesce(1), root, statsCols = Seq("k"))
    // the log carries the string bounds: pruning needs ZERO file IO
    val log = spark.read.option("mergeSchema", "true")
      .parquet(root + "/_log")
    val bounds = log.where(col("action") === "add")
      .select(col("smin_vals")("k"), col("smax_vals")("k"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(bounds.length == 2 && bounds.forall(b =>
      b._1 != null && b._2 != null))
    assert(bounds.map(_._1).sorted.head == "dom-a/0000")
    val (pf, pt, ptot) =
      TableStore.readWhere(spark, root, Seq(StringStartsWith("k", "dom-a/")))
    assert(ptot == 2 && pt == 1)
    assert(pf.count() == 200L)
    val (rf, rt, _) = TableStore.readWhere(spark, root,
      Seq(GreaterThanOrEqual("k", "dom-b/0010"),
        LessThanOrEqual("k", "dom-b/0012")))
    assert(rt == 1)
    assert(rf.select("v").collect().map(_.getLong(0)).toSet ==
      Set(10L, 11L, 12L))
    // a file whose schema PREDATES k is a provably-null skip; a typo
    // column stays loud
    TableStore.append(Seq((99L, "pre")).toDF("v", "payload")
      .coalesce(1), root)
    val (_, pt2, ptot2) =
      TableStore.readWhere(spark, root, Seq(StringStartsWith("k", "dom-a/")))
    assert(ptot2 == 3 && pt2 == 1)
    val ex = intercept[IllegalArgumentException] {
      TableStore.readWhere(spark, root,
        Seq(StringStartsWith("k_typo", Seq("x").head)))
    }
    assert(ex.getMessage.contains("misspelled"))
  }

  test("string bounds truncate SOUNDLY on long keys (successor, not prefix)") {
    val s = spark; import s.implicits._
    val root = tmp()
    val a69 = "a" * 69
    // keys longer than the 64-char truncation budget: the logged max
    // must be a SUCCESSOR ("aaa…ab"), because the plain prefix
    // ("aaa…a") sorts BELOW the real values and would prune away the
    // file that holds every match
    TableStore.append(Seq(a69 + "0", a69 + "5").map((_, 1L))
      .toDF("k", "v").coalesce(1), root, statsCols = Seq("k"))
    TableStore.append(Seq(("b" * 69) + "0").map((_, 2L))
      .toDF("k", "v").coalesce(1), root, statsCols = Seq("k"))
    val log = spark.read.option("mergeSchema", "true")
      .parquet(root + "/_log")
    val mx = log.where(col("action") === "add")
      .select(col("smax_vals")("k")).collect().map(_.getString(0)).sorted
    assert(mx.head == "a" * 63 + "b") // bumped, tail dropped
    assert(mx.forall(_.length <= 64))
    val (df, t, tot) = TableStore.readWhere(spark, root,
      Seq(GreaterThanOrEqual("k", a69 + "4"), LessThanOrEqual("k", a69 + "9")))
    assert(tot == 2 && t == 1, "the long-key file must survive pruning")
    assert(df.select("k").collect().map(_.getString(0)).toSet ==
      Set(a69 + "5"))
    // prefix probe landing past the truncation point: same soundness
    val (pf, pt, _) =
      TableStore.readWhere(spark, root, Seq(StringStartsWith("k", a69)))
    assert(pt == 1 && pf.count() == 2L)
  }

  test("string prune: undeclared files fall back to the footer") {
    val s = spark; import s.implicits._
    val root = tmp()
    // no statsCols declared — the log carries no string bounds, so
    // pruning costs one footer read per file but still skips
    TableStore.append((0 until 50).map(i => (s"p/$i", i.toLong))
      .toDF("k", "v").coalesce(1), root)
    TableStore.append((0 until 50).map(i => (s"q/$i", i.toLong))
      .toDF("k", "v").coalesce(1), root)
    val (df, t, tot) =
      TableStore.readWhere(spark, root, Seq(StringStartsWith("k", "q/")))
    assert(tot == 2 && t == 1)
    assert(df.count() == 50L)
  }

  test("a pre-upgrade log without string-stat maps still reads") {
    val s = spark; import s.implicits._
    val root = tmp()
    TableStore.append((0 until 30).map(i => (s"k$i", i.toLong))
      .toDF("k", "v").coalesce(1), root)
    // simulate a store committed by the engine BEFORE string stats
    // existed: rewrite its log with only the original six columns
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val leaf = s"$root/_log/v=1"
    val old = spark.read.parquet(leaf)
      .select("path", "action", "n_rows", "batch_id",
        "min_vals", "max_vals")
      .collect()
    val oldDf = spark.createDataFrame(
      java.util.Arrays.asList(old: _*),
      spark.read.parquet(leaf).select("path", "action", "n_rows",
        "batch_id", "min_vals", "max_vals").schema)
    fs.delete(new org.apache.hadoop.fs.Path(leaf), true)
    oldDf.coalesce(1).write.parquet(leaf)
    // snapshot read, prefix read (footer fallback), and a NEW commit
    // mixing schemas in one log all work
    assert(TableStore.read(spark, root).count() == 30L)
    val (df, t, tot) =
      TableStore.readWhere(spark, root, Seq(StringStartsWith("k", "k2")))
    assert(tot == 1 && t == 1 && df.count() == 11L) // k2, k20..k29
    TableStore.append(Seq(("z9", 99L)).toDF("k", "v").coalesce(1),
      root, statsCols = Seq("k"))
    assert(TableStore.read(spark, root).count() == 31L)
    val (_, t2, tot2) =
      TableStore.readWhere(spark, root, Seq(StringStartsWith("k", "z")))
    assert(tot2 == 2 && t2 == 1) // new commit prunes from the log
  }

  test("merge rewrites only the files that hold a matched key") {
    val s = spark; import s.implicits._
    val root = tmp()
    // four key-ranged commits, one file each
    (0 until 4).foreach { i =>
      TableStore.append(
        (i * 100 until (i + 1) * 100).map(k =>
          (k.toLong, s"old$k")).toDF("id", "payload").coalesce(1),
        root, statsCols = Seq("id"))
    }
    // CDC batch: replace two rows in the 100..199 file, insert one new
    val upd = Seq((150L, "NEW150"), (199L, "NEW199"), (999L, "NEW999"))
      .toDF("id", "payload")
    val v = TableStore.merge(upd, root, "id", statsCols = Seq("id"))
    assert(v == 5L)
    val h = TableStore.history(spark, root).where(col("version") === v)
      .collect()(0)
    assert(h.getAs[Long]("n_removed") == 1L,
      "only the one file holding matched keys is rewritten")
    val rows = TableStore.read(spark, root)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.size == 401)
    assert(rows(150L) == "NEW150" && rows(199L) == "NEW199")
    assert(rows(151L) == "old151" && rows(999L) == "NEW999")
    // time travel: the pre-merge snapshot is intact
    assert(TableStore.read(spark, root, Some(4L)).count() == 400L)
    // a range-overlapping batch with NO matching key rewrites nothing
    val miss = Seq((1150L, "x")).toDF("id", "payload")
    val v2 = TableStore.merge(miss, root, "id")
    val h2 = TableStore.history(spark, root).where(col("version") === v2)
      .collect()(0)
    assert(h2.getAs[Long]("n_removed") == 0L)
    assert(TableStore.read(spark, root).count() == 402L)
    // null keys: update row inserts, target rows never match
    val nulls = Seq((Option.empty[Long], "nullrow"),
      (Some(150L), "NEWER150")).toDF("id", "payload")
    TableStore.merge(nulls, root, "id")
    val after = TableStore.read(spark, root)
    assert(after.where(col("id").isNull).count() == 1L)
    assert(after.where(col("id") === 150L).collect()(0)
      .getString(1) == "NEWER150")
    // schema drift is loud
    val ex = intercept[IllegalArgumentException] {
      TableStore.merge(Seq((1L, "x", 2L)).toDF("id", "payload", "extra"),
        root, "id")
    }
    assert(ex.getMessage.contains("schema mismatch"))
    // string-keyed merge prunes from string log bounds
    val sroot = tmp()
    TableStore.append(Seq(("a1", 1L), ("a2", 2L)).toDF("k", "v")
      .coalesce(1), sroot, statsCols = Seq("k"))
    TableStore.append(Seq(("b1", 1L), ("b2", 2L)).toDF("k", "v")
      .coalesce(1), sroot, statsCols = Seq("k"))
    val sv = TableStore.merge(Seq(("b2", 20L), ("c1", 30L)).toDF("k", "v"),
      sroot, "k", statsCols = Seq("k"))
    val sh = TableStore.history(spark, sroot)
      .where(col("version") === sv).collect()(0)
    assert(sh.getAs[Long]("n_removed") == 1L)
    assert(TableStore.read(spark, sroot).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap ==
      Map("a1" -> 1L, "a2" -> 2L, "b1" -> 1L, "b2" -> 20L, "c1" -> 30L))
  }

  test("applyChanges: upserts and deletes land in one proportional commit") {
    val s = spark; import s.implicits._
    val root = tmp()
    (0 until 4).foreach { i =>
      TableStore.append(
        (i * 100 until (i + 1) * 100).map(k =>
          (k.toLong, s"old$k")).toDF("id", "payload").coalesce(1),
        root, statsCols = Seq("id"))
    }
    // one CDC batch: update 110, delete 120, insert 999 — all keys in
    // (or above) one commit's range, so one file rewrites
    val chg = Seq((110L, "NEW110", "upsert"), (120L, "ignored", "delete"),
      (999L, "NEW999", "upsert")).toDF("id", "payload", "_op")
    val v = TableStore.applyChanges(chg, root, "id")
    val h = TableStore.history(spark, root).where(col("version") === v)
      .collect()(0)
    assert(h.getAs[Long]("n_removed") == 1L)
    val rows = TableStore.read(spark, root)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.size == 400) // 400 - 1 deleted + 1 inserted
    assert(rows(110L) == "NEW110" && rows(999L) == "NEW999")
    assert(!rows.contains(120L))
    assert(rows(121L) == "old121")
    // pre-apply snapshot intact
    assert(TableStore.read(spark, root, Some(4L)).count() == 400L)
    // a key carried twice is ambiguous — loud
    val dup = Seq((7L, "a", "upsert"), (7L, "b", "delete"))
      .toDF("id", "payload", "_op")
    val ex = intercept[IllegalArgumentException] {
      TableStore.applyChanges(dup, root, "id")
    }
    assert(ex.getMessage.contains("more than once"))
    // unknown ops are loud
    val bad = Seq((8L, "a", "replace")).toDF("id", "payload", "_op")
    val ex2 = intercept[IllegalArgumentException] {
      TableStore.applyChanges(bad, root, "id")
    }
    assert(ex2.getMessage.contains("unknown ops"))
  }

  test("readRowChanges: snapshot delta from changed files only") {
    val s = spark; import s.implicits._
    val root = tmp()
    TableStore.append(mk(1L to 100L: _*).coalesce(1), root,
      statsCols = Seq("id"))
    // a compaction (layout rewrite) must contribute NOTHING
    TableStore.compact(spark, root, targetBytes = 1L << 30)
    // then a real merge: replace 5, insert 200
    TableStore.merge(Seq((5L, "NEW5"), (200L, "NEW200"))
      .toDF("id", "payload"), root, "id")
    // and a delete: drop 7
    TableStore.applyChanges(Seq((7L, "x", "delete"))
      .toDF("id", "payload", "_op"), root, "id")
    val feed = TableStore.readRowChanges(spark, root, 2L)
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getAs[String]("_op"))).toSet
    assert(feed == Set(
      (5L, "NEW5", "insert"), (200L, "NEW200", "insert"),
      (5L, "r5", "delete"), (7L, "r7", "delete")))
    // from the very beginning (since = 0): net content of v-latest
    val full = TableStore.readRowChanges(spark, root, 0L)
    assert(full.where(col("_op") === "delete").count() == 0L)
    assert(full.count() == 100L) // 100 - 1 deleted + 1 inserted
    // netted, the window applies onto a mirror of version 2
    val mirror = tmp()
    TableStore.append(TableStore.read(spark, root, Some(2L)), mirror)
    val net = TableStore.netChanges(
      TableStore.readRowChanges(spark, root, 2L), "id")
    TableStore.applyChanges(net, mirror, "id")
    val a = TableStore.read(spark, root)
    val b = TableStore.read(spark, mirror)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("mergeBatch: exactly-once last-writer-wins upsert commits") {
    val s = spark; import s.implicits._
    val root = tmp()
    // batch 0 into an empty store: plain keyed append
    val b0 = Seq((1L, 10L, "a"), (2L, 11L, "b"), (1L, 12L, "c"))
      .toDF("id", "seq", "payload")
    assert(TableStore.mergeBatch(b0, root, "id", 0L,
      latestBy = Seq("seq")) == Some(1L))
    // within-batch reduction: key 1 keeps seq=12
    assert(TableStore.read(spark, root).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap ==
      Map(1L -> "c", 2L -> "b"))
    // batch 1 overwrites key 2, inserts key 3
    val b1 = Seq((2L, 20L, "B2"), (3L, 21L, "d"))
      .toDF("id", "seq", "payload")
    assert(TableStore.mergeBatch(b1, root, "id", 1L,
      latestBy = Seq("seq")).nonEmpty)
    assert(TableStore.read(spark, root).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap ==
      Map(1L -> "c", 2L -> "B2", 3L -> "d"))
    // retry of BOTH batch ids stands down — no new version
    val vs = TableStore.versions(spark, root)
    assert(TableStore.mergeBatch(b0, root, "id", 0L,
      latestBy = Seq("seq")).isEmpty)
    assert(TableStore.mergeBatch(b1, root, "id", 1L,
      latestBy = Seq("seq")).isEmpty)
    assert(TableStore.versions(spark, root) == vs)
    // empty batch: never a commit
    assert(TableStore.mergeBatch(b0.limit(0), root, "id", 2L,
      latestBy = Seq("seq")).isEmpty)
    assert(TableStore.versions(spark, root) == vs)
  }

  test("shallowClone: zero-copy branch; COW never mutates the source") {
    val s = spark; import s.implicits._
    val src = tmp()
    (0 until 3).foreach { i =>
      TableStore.append(
        (i * 100 until (i + 1) * 100).map(k => (k.toLong, s"r$k"))
          .toDF("id", "payload").coalesce(1), src,
        statsCols = Seq("id"))
    }
    val dst = tmp()
    assert(TableStore.shallowClone(spark, src, dst) == 1L)
    // the clone moved no data: it owns no data dir at all
    val fs = new org.apache.hadoop.fs.Path(dst)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dst/data")))
    assert(ids(dst) == (0L until 300L).toSet)
    // carried stats prune on the clone exactly as on the source
    val (_, t, tot) = TableStore.readRange(spark, dst, "id", 150L, 160L)
    assert(tot == 3 && t == 1)
    // COW on the clone: source stays untouched
    TableStore.merge(Seq((5L, "NEW5"), (400L, "NEW400"))
      .toDF("id", "payload"), dst, "id", statsCols = Seq("id"))
    TableStore.deleteWhere(spark, dst, col("id") === 250L,
      pruneBy = ("id", 250L, 250L))
    assert(ids(src) == (0L until 300L).toSet)
    val dr = TableStore.read(spark, dst)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(dr.size == 300 && dr(5L) == "NEW5" && dr(400L) == "NEW400"
      && !dr.contains(250L))
    // vacuuming the clone down to one version deletes NOTHING of the
    // source: its sweep walks only the clone's own data dir
    TableStore.vacuum(spark, dst, keepVersions = 1)
    assert(ids(src) == (0L until 300L).toSet)
    assert(TableStore.read(spark, dst).count() == 300L)
    // compaction MATERIALIZES the clone: after it, no external refs
    TableStore.compact(spark, dst, targetBytes = 1L << 30)
    TableStore.vacuum(spark, dst, keepVersions = 1)
    assert(TableStore.read(spark, dst).inputFiles
      .forall(_.contains(dst)), "compacted clone owns all its files")
    assert(ids(src) == (0L until 300L).toSet)
    // cloning into a non-empty store is loud
    val ex = intercept[IllegalArgumentException] {
      TableStore.shallowClone(spark, src, dst)
    }
    assert(ex.getMessage.contains("already has commits"))
  }

  test("CHECK constraints: declared as commits, enforced on new content") {
    val s = spark; import s.implicits._
    val root = tmp()
    TableStore.append(Seq((1L, 10L), (2L, 20L)).toDF("id", "v"), root)
    // declaring over violating data is refused
    val ex0 = intercept[IllegalArgumentException] {
      TableStore.addConstraint(spark, root, "v_big", "v >= 100")
    }
    assert(ex0.getMessage.contains("existing rows violate"))
    TableStore.addConstraint(spark, root, "v_pos", "v > 0")
    // valid appends pass; violating ones are refused pre-commit
    TableStore.append(Seq((3L, 30L)).toDF("id", "v"), root)
    val vsBefore = TableStore.versions(spark, root)
    val ex = intercept[IllegalArgumentException] {
      TableStore.append(Seq((4L, -1L)).toDF("id", "v"), root)
    }
    assert(ex.getMessage.contains("v_pos"))
    assert(TableStore.versions(spark, root) == vsBefore,
      "a refused write must not commit")
    // SQL CHECK semantics: NULL passes
    TableStore.append(Seq((Some(5L), Option.empty[Long]))
      .toDF("id", "v"), root)
    // merge and overwrite enforce too
    val ex2 = intercept[IllegalArgumentException] {
      TableStore.merge(Seq((1L, -7L)).toDF("id", "v"), root, "id")
    }
    assert(ex2.getMessage.contains("v_pos"))
    val ex3 = intercept[IllegalArgumentException] {
      TableStore.overwrite(Seq((9L, 0L)).toDF("id", "v"), root)
    }
    assert(ex3.getMessage.contains("v_pos"))
    // the constraint survives vacuum's checkpoint
    (0 until 3).foreach(i =>
      TableStore.append(Seq((100L + i, 1L)).toDF("id", "v"), root))
    TableStore.vacuum(spark, root, keepVersions = 2)
    val ex4 = intercept[IllegalArgumentException] {
      TableStore.append(Seq((6L, -2L)).toDF("id", "v"), root)
    }
    assert(ex4.getMessage.contains("v_pos"))
    // drop ends enforcement; dropping a typo is loud
    TableStore.dropConstraint(spark, root, "v_pos")
    TableStore.append(Seq((7L, -3L)).toDF("id", "v"), root)
    assert(TableStore.read(spark, root).where(col("v") === -3L)
      .count() == 1L)
    val ex5 = intercept[IllegalArgumentException] {
      TableStore.dropConstraint(spark, root, "v_poss")
    }
    assert(ex5.getMessage.contains("no active constraint"))
  }

  test("versionAt: timestamp time travel via commit publish times") {
    val root = tmp()
    TableStore.append(mk(1), root)
    Thread.sleep(30)
    val between = System.currentTimeMillis()
    Thread.sleep(30)
    TableStore.append(mk(2), root)
    assert(TableStore.versionAt(spark, root, between) == 1L)
    assert(TableStore.versionAt(spark, root,
      System.currentTimeMillis()) == 2L)
    assert(TableStore.read(spark, root,
      Some(TableStore.versionAt(spark, root, between))).count() == 1L)
    // a timestamp before the first commit is loud, never "oldest"
    val ex = intercept[IllegalArgumentException] {
      TableStore.versionAt(spark, root, 1L)
    }
    assert(ex.getMessage.contains("precedes every commit"))
  }

  test("merge-on-read deletes: vectors, not rewrites; purge folds back") {
    val s = spark; import s.implicits._
    val root = tmp()
    (0 until 3).foreach { i =>
      TableStore.append(
        (i * 100 until (i + 1) * 100).map(k => (k.toLong, s"r$k"))
          .toDF("id", "payload").coalesce(1), root,
        statsCols = Seq("id"))
    }
    val dataFiles = TableStore.read(spark, root).inputFiles.toSet
    // delete two rows from the middle file: NO data file changes
    val v = TableStore.deleteWhereMoR(spark, root,
      col("id") === 150L || col("id") === 160L,
      pruneBy = ("id", 150L, 160L))
    assert(v == 4L)
    val after = TableStore.read(spark, root)
    assert(after.count() == 298L)
    assert(after.where(col("id").isin(150L, 160L)).count() == 0L)
    assert(after.where(col("id") === 151L).count() == 1L)
    // the data files are byte-identical — only a vector was written
    val h = TableStore.history(spark, root).where(col("version") === v)
      .collect()(0)
    assert(h.getAs[Long]("n_added") == 0L &&
      h.getAs[Long]("n_removed") == 0L)
    // time travel BEFORE the delete still sees the rows
    assert(TableStore.read(spark, root, Some(3L)).count() == 300L)
    // a second vector on the SAME file accumulates
    TableStore.deleteWhereMoR(spark, root, col("id") === 151L,
      pruneBy = ("id", 151L, 151L))
    assert(TableStore.read(spark, root).count() == 297L)
    // a no-match MoR delete is a no-op, no commit
    val vsNow = TableStore.versions(spark, root)
    assert(TableStore.deleteWhereMoR(spark, root, col("id") === 150L,
      pruneBy = ("id", 150L, 150L)) == vsNow.last)
    assert(TableStore.versions(spark, root) == vsNow)
    // file-granularity ops refuse until purged, naming the remedy;
    // every layout rewrite names itself
    val rewrites: Seq[(String, () => Long)] = Seq(
      "compact" -> (() =>
        TableStore.compact(spark, root, targetBytes = 1L << 30)),
      "compactSmall" -> (() =>
        TableStore.compactSmall(spark, root, 1L << 30, 1L << 30)),
      "optimizeLayout" -> (() =>
        TableStore.optimizeLayout(spark, root, "id", 1L << 30)),
      "optimizeLayoutWhere" -> (() =>
        TableStore.optimizeLayoutWhere(spark, root, "id", 0L, 300L,
          1L << 30)),
      "optimizeLayoutCurve" -> (() =>
        TableStore.optimizeLayoutCurve(spark, root, "id", "id", 9,
          1L << 30)),
      "restore" -> (() => TableStore.restore(spark, root, 1L)))
    rewrites.foreach { case (op, run) =>
      val ex = intercept[IllegalArgumentException](run())
      assert(ex.getMessage.startsWith(s"requirement failed: $op plans"),
        s"$op refusal names another op: ${ex.getMessage}")
      assert(ex.getMessage.contains("purgeDeletes"))
    }
    val ex2 = intercept[IllegalArgumentException] {
      TableStore.readRange(spark, root, "id", 0L, 50L)
    }
    assert(ex2.getMessage.contains("purgeDeletes"))
    val ex3 = intercept[IllegalArgumentException] {
      TableStore.merge(Seq((1L, "x")).toDF("id", "payload"), root, "id")
    }
    assert(ex3.getMessage.contains("purgeDeletes"))
    // purge: one rewrite of ONLY the vectored file, content unchanged
    val pv = TableStore.purgeDeletes(spark, root)
    val ph = TableStore.history(spark, root)
      .where(col("version") === pv).collect()(0)
    assert(ph.getAs[Long]("n_removed") == 1L)
    val purged = TableStore.read(spark, root)
    assert(purged.count() == 297L)
    assert(purged.where(col("id").isin(150L, 151L, 160L)).count() == 0L)
    assert(dataFiles.intersect(purged.inputFiles.toSet).size == 2,
      "the two untouched files survive the purge as-is")
    // everything works again
    assert(TableStore.readRange(spark, root, "id", 0L, 50L)._1
      .count() == 51L)
    // purge with no vectors is a no-op
    assert(TableStore.purgeDeletes(spark, root) == pv)
    // vacuum keeps vectors needed by surviving versions, then sweeps
    // them once purged below the horizon
    TableStore.vacuum(spark, root, keepVersions = 1)
    assert(TableStore.read(spark, root).count() == 297L)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dvRoot = new org.apache.hadoop.fs.Path(s"$root/dv")
    assert(!fs.exists(dvRoot) || fs.listStatus(dvRoot).isEmpty,
      "purged-and-vacuumed vectors must be reclaimed")
  }

  test("MoR vectors survive vacuum while a surviving snapshot needs them") {
    val s = spark; import s.implicits._
    val root = tmp()
    TableStore.append((0 until 100).map(k => (k.toLong, s"r$k"))
      .toDF("id", "payload").coalesce(1), root, statsCols = Seq("id"))
    TableStore.deleteWhereMoR(spark, root, col("id") < 10L,
      pruneBy = ("id", 0L, 9L))
    TableStore.append(Seq((500L, "x")).toDF("id", "payload"), root)
    // horizon lands ON a vectored state: the checkpoint must carry it
    TableStore.vacuum(spark, root, keepVersions = 2)
    assert(TableStore.read(spark, root).count() == 91L)
    assert(TableStore.read(spark, root,
      Some(TableStore.versions(spark, root).head)).count() == 90L)
  }

  test("the log carries file byte sizes; maintenance plans without stats") {
    val s = spark; import s.implicits._
    val root = tmp()
    TableStore.append(mk(1L to 50L: _*).coalesce(2), root)
    val logged = spark.read.option("mergeSchema", "true")
      .parquet(root + "/_log")
      .where(col("action") === "add")
      .select("path", "n_bytes").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(logged.nonEmpty)
    logged.foreach { case (p, b) =>
      assert(b == new java.io.File(s"$root/$p").length,
        s"logged size for $p must equal the on-disk length")
    }
    // a pre-upgrade log (no n_bytes) still compacts via the stat
    // fallback: rewrite v1's log without the column
    val leaf = s"$root/_log/v=1"
    val oldDf = spark.read.parquet(leaf)
      .drop("n_bytes").cache()
    oldDf.count()
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(leaf), true)
    oldDf.coalesce(1).write.parquet(leaf)
    val v = TableStore.compact(spark, root, targetBytes = 1L << 30)
    assert(TableStore.read(spark, root, Some(v)).count() == 50L)
  }

  test("vacuumOlderThan retires by publish time, always keeps latest") {
    val root = tmp()
    TableStore.append(mk(1), root)
    TableStore.append(mk(2), root)
    Thread.sleep(40)
    val cutoff = System.currentTimeMillis()
    Thread.sleep(40)
    TableStore.append(mk(3), root)
    TableStore.vacuumOlderThan(spark, root, cutoff)
    assert(TableStore.versions(spark, root) == Seq(3L))
    assert(ids(root) == Set(1L, 2L, 3L))
    // a future cutoff still keeps the latest
    TableStore.vacuumOlderThan(spark, root,
      System.currentTimeMillis() + 60000)
    assert(TableStore.versions(spark, root) == Seq(3L))
    assert(ids(root) == Set(1L, 2L, 3L))
  }

  test("pointLookup hashes by the column's physical type (INT32 keys)") {
    val s = spark; import s.implicits._
    val root = tmp()
    // IntegerType key column: the bloom is built from 4-byte hashes,
    // probing with long hashes would false-NEGATIVE every key
    TableStore.append(
      (1 to 100).map(i => (i, s"r$i")).toDF("id", "payload")
        .coalesce(1), root, bloomCols = Seq("id"))
    val (df, touched, _) = TableStore.readWhere(
      spark, root, Seq(In("id", Array(42L))))
    assert(touched == 1)
    assert(df.count() == 1L)
  }

  test("pointLookup skips files that predate the column, loud on typos") {
    val s = spark; import s.implicits._
    val root = tmp()
    TableStore.append(mk(1L to 50L: _*).coalesce(1), root) // no 'extra'
    TableStore.append(
      (100L to 120L).map(i => (i, s"r$i", i * 10)).toDF(
        "id", "payload", "extra").coalesce(1), root,
      bloomCols = Seq("extra"))
    val (hit, t, tot) = TableStore.readWhere(
      spark, root, Seq(In("extra", Array(1100L))))
    assert(tot == 2 && t == 1) // legacy file provably null, skipped
    assert(hit.count() == 1L)
    val ex = intercept[IllegalArgumentException] {
      TableStore.readWhere(spark, root, Seq(In("extrra", Array(1L))))
    }
    assert(ex.getMessage.contains("misspelled"))
  }

  test("a stale checkpoint-swap backup is deleted once the swap landed") {
    val root = tmp()
    TableStore.append(mk(1), root)
    TableStore.append(mk(2), root)
    // simulate a crash AFTER publish but before marker cleanup:
    // v=2 exists AND .old_ckpt_v2 lingers
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(s"$root/_log/.old_ckpt_v2")
    fs.mkdirs(marker)
    assert(TableStore.versions(spark, root) == Seq(1L, 2L))
    assert(!fs.exists(marker)) // swept, cannot resurrect later
  }

  test("restore rolls content back as a new commit, history intact") {
    val root = tmp()
    TableStore.append(mk(1, 2), root)              // v1
    TableStore.append(mk(3), root)                 // v2
    TableStore.overwrite(mk(9), root)              // v3 — the mistake
    val v = TableStore.restore(spark, root, toVersion = 2L)
    assert(v == 4L)
    assert(ids(root) == Set(1L, 2L, 3L))           // undone forward
    assert(ids(root, Some(3L)) == Set(9L))         // mistake readable
    // minimal diff: v1+v2 files re-added, v3's single file removed
    val h = TableStore.history(spark, root)
      .where(col("version") === 4).collect().head
    assert(h.getAs[Long]("n_removed") == 1L)
    // restore survives vacuum of everything before it
    TableStore.vacuum(spark, root, keepVersions = 1)
    assert(ids(root) == Set(1L, 2L, 3L))
  }

  test("restoring to the current version is a no-op commit") {
    val root = tmp()
    TableStore.append(mk(1), root)
    val v = TableStore.restore(spark, root, toVersion = 1L)
    assert(v == 2L && ids(root) == Set(1L))
    val h = TableStore.history(spark, root)
      .where(col("version") === 2).collect().head
    assert(h.getAs[Long]("n_added") == 0L &&
      h.getAs[Long]("n_removed") == 0L)
  }

  test("a snapshot-dependent commit losing the version race is loud") {
    val root = tmp()
    TableStore.append(mk(1), root)
    // a snapshot op that computed removes from v0's live set and then
    // lost the race to this append must NOT silently clobber — it
    // surfaces the conflict with the remedy
    val ex = intercept[java.util.ConcurrentModificationException] {
      TableStore.commitExclusive(spark, root, 1L, Seq.empty, Seq.empty)
    }
    assert(ex.getMessage.contains("concurrent writer"))
    assert(ex.getMessage.contains("re-read and retry"))
    assert(ex.getCause.isInstanceOf[TableStore.CommitConflictException])
  }

  test("concurrent appends serialize into a linear history") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val root = tmp()
    // eight appenders race: each writes its own disjoint slice, every
    // commit that loses the v=N rename retries at the next version —
    // all must land, history must be gapless, content must be the
    // exact union (nothing clobbered, nothing double-committed)
    val slices = (0 until 8).map(i =>
      ((i * 10 + 1).toLong to (i * 10 + 10).toLong))
    val landed = Await.result(
      Future.sequence(slices.map(sl =>
        Future(TableStore.append(mk(sl: _*).coalesce(1), root)))),
      5.minutes)
    assert(landed.toSet == (1L to 8L).toSet) // every version claimed once
    assert(TableStore.versions(spark, root) == (1L to 8L))
    assert(ids(root) == (1L to 80L).toSet)
    // the log is consistent: 8 adds, 0 removes, 80 rows
    val h = TableStore.history(spark, root).collect()
    assert(h.map(_.getAs[Long]("rows_added")).sum == 80L)
    assert(h.map(_.getAs[Long]("n_removed")).sum == 0L)
  }

  test("concurrent same-batch twins commit exactly once between them") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val root = tmp()
    TableStore.append(mk(100), root) // v1 so the log exists
    // two writers offer the SAME micro-batch (a restarted stream's
    // twin executor): whoever loses the race re-checks the batch
    // marker and stands down — the store must never double-ingest
    val results = Await.result(
      Future.sequence(Seq(
        Future(TableStore.appendBatch(mk(1, 2).coalesce(1), root, 7L)),
        Future(TableStore.appendBatch(mk(1, 2).coalesce(1), root, 7L)))),
      5.minutes)
    assert(results.flatten.size == 1,
      s"twins committed ${results.flatten.size} times: $results")
    // exactly-once is on the STORE, not the callers: however the race
    // resolved, batch 7's rows appear exactly once
    val n = TableStore.read(spark, root)
      .where(col("id") === 1L).count()
    assert(n == 1L,
      s"batch 7 ingested $n times — exactly-once violated")
  }

  test("declaring an annotated column (DATE) as a statsCol fails loudly") {
    val root = tmp()
    // DATE annotates INT32: its raw footer stats are epoch days, and
    // logging them as plain integers would plan pruning from lies
    val df = spark.range(0, 10)
      .selectExpr("id", "DATE'2024-01-01' + CAST(id AS INT) AS d")
    val ex = intercept[IllegalArgumentException] {
      TableStore.append(df, root, statsCols = Seq("d"))
    }
    assert(ex.getMessage.contains("annotated"))
  }

  test("compactSmall folds only the small-file backlog; big files stay") {
    val root = tmp()
    // one big file (1000 rows) + three tiny ones
    TableStore.append(mk(1L to 1000L: _*).coalesce(1), root)
    TableStore.append(mk(2001), root)
    TableStore.append(mk(2002), root)
    TableStore.append(mk(2003), root)
    val before = TableStore.read(spark, root).inputFiles.length
    val v = TableStore.compactSmall(spark, root,
      smallBytes = 8L << 10, targetBytes = 1L << 30)
    assert(v == 5L)
    val after = TableStore.read(spark, root)
    assert(after.inputFiles.length < before)
    assert(after.count() == 1003L)
    // the big file was NOT rewritten: it is still referenced from v1
    val h = TableStore.history(spark, root)
      .where(col("version") === 5).collect().head
    assert(h.getAs[Long]("n_removed") == 3L) // only the three smalls
    // content identical through the fold; pinned version keeps layout
    assert(ids(root) == ((1L to 1000L) ++ (2001L to 2003L)).toSet)
    assert(ids(root, Some(4L)) == ids(root))
    // fewer than two smalls: provable no-op, no version burned
    assert(TableStore.compactSmall(spark, root,
      smallBytes = 8L << 10, targetBytes = 1L << 30) == 5L)
  }

  test("sink maintenance auto-compacts; pinned readers and replay safe") {
    val s = spark; import s.implicits._
    val root = tmp()
    val src = s"$root/src"
    (1 to 6).foreach { i =>
      mk(i * 10L, i * 10L + 1).coalesce(1)
        .write.parquet(s"$src/f$i")
    }
    val schema = spark.read.parquet(s"$src/f1").schema
    def stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$src/f*")
    val store = s"$root/store"
    val maint = Some(TableStore.SinkMaintenance(
      maxLiveFiles = 2, targetBytes = 1L << 30))
    TableStore.sinkStream(stream, store, s"$root/ckpt", maint)
    // the backlog folded: live files stay near the threshold even
    // though 6 batches landed
    assert(TableStore.read(spark, store).inputFiles.length <= 3)
    val expect = (1 to 6).flatMap(i => Seq(i * 10L, i * 10L + 1)).toSet
    assert(ids(store) == expect)
    // a version pinned BEFORE the last maintenance still reads its own
    // (pre-fold) file layout and full content at that point
    val vs = TableStore.versions(spark, store)
    assert(vs.size > 6, "maintenance commits must appear as versions")
    val firstFold = TableStore.history(spark, store)
      .where(col("n_removed") > 0).orderBy("version")
      .collect().head.getAs[Long]("version")
    assert(ids(store, Some(firstFold - 1)).subsetOf(expect))
    // restart on the same checkpoint: no new batches, no new
    // maintenance — byte-identical store
    TableStore.sinkStream(stream, store, s"$root/ckpt", maint)
    assert(TableStore.versions(spark, store) == vs)
    assert(ids(store) == expect)
  }

  test("readChangesSince: appends surface, layout skips, rewrites are loud") {
    val root = tmp()
    TableStore.append(mk(1, 2), root)            // v1
    TableStore.append(mk(3), root)               // v2
    TableStore.compact(spark, root, 1L << 30)    // v3 — layout only
    TableStore.append(mk(4, 5), root)            // v4
    def changes(since: Long) =
      TableStore.readChangesSince(spark, root, since)
        .select("id", "_commit_version").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toSet
    // the delta after v1: v2's and v4's rows, tagged; the compaction's
    // re-added old rows do NOT reappear
    assert(changes(1L) == Set(3L -> 2L, 4L -> 4L, 5L -> 4L))
    // from the beginning: every appended row exactly once
    assert(changes(0L) ==
      Set(1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 4L, 5L -> 4L))
    // an empty window is typed-empty
    assert(TableStore.readChangesSince(spark, root, 4L).count() == 0L)
    // streaming batches are appends too
    TableStore.appendBatch(mk(6), root, batchId = 0L) // v5
    assert(changes(4L) == Set(6L -> 5L))
    // a content-REWRITING commit in the window must fail loudly —
    // an adds-only feed cannot express its removals
    TableStore.deleteWhere(spark, root,
      col("id") === 3L, ("id", 3L, 3L))           // v6
    val ex = intercept[IllegalArgumentException] {
      TableStore.readChangesSince(spark, root, 4L)
    }
    assert(ex.getMessage.contains("resync"))
    // ...but a window that stops BEFORE it still reads
    assert(TableStore.readChangesSince(spark, root, 4L, Some(5L))
      .count() == 1L)
  }

  test("vacuum never sweeps an in-flight append's uncommitted files") {
    val root = tmp()
    TableStore.append(mk(1), root) // v1
    TableStore.append(mk(2), root) // v2
    TableStore.append(mk(3), root) // v3
    // simulate a writer mid-append: data staged under its hint dir
    // (latest+1 = v4), log not yet committed — unreferenced by every
    // snapshot, indistinguishable from crash residue EXCEPT by hint
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    mk(99).coalesce(1).write.parquet(s"$root/data/v4-inflight")
    // plus genuine residue from a long-dead attempt at v1
    mk(98).coalesce(1).write.parquet(s"$root/data/v1-deadresidue")
    TableStore.vacuum(spark, root, keepVersions = 2)
    // the dead residue (hint below the horizon) is swept...
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$root/data/v1-deadresidue")))
    // ...the in-flight attempt (hint above) survives
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$root/data/v4-inflight/")))
    assert(ids(root) == Set(1L, 2L, 3L)) // content untouched
  }

  test("a pinned reader whose version is vacuumed fails loudly, not partially") {
    val root = tmp()
    TableStore.append(mk(1, 2), root)    // v1
    TableStore.overwrite(mk(3), root)    // v2 — v1's files now dead there
    val pinned = TableStore.read(spark, root, Some(1L))
    TableStore.vacuum(spark, root, keepVersions = 1)
    // resolution after the vacuum: loud, horizon named
    val ex = intercept[IllegalArgumentException] {
      TableStore.read(spark, root, Some(1L))
    }
    assert(ex.getMessage.contains("vacuumed past the horizon"))
    // the PRE-vacuum frame: its files are gone — execution must throw
    // (ignoreMissingFiles pinned false), never return partial rows
    intercept[Exception] { pinned.count() }
  }

  test("vacuumPlan predicts exactly what vacuum then does") {
    val root = tmp()
    TableStore.append(mk(1L to 30L: _*), root)  // v1
    TableStore.overwrite(mk(31L to 40L: _*), root) // v2: v1 files dead
    TableStore.append(mk(41, 42), root)         // v3
    val plan = TableStore.vacuumPlan(spark, root, keepVersions = 2)
      .collect()(0)
    assert(plan.getAs[Long]("horizon") == 2L)
    assert(plan.getAs[Long]("n_versions_dropped") == 1L)
    assert(plan.getAs[Long]("n_files_swept") > 0L)
    assert(plan.getAs[Long]("bytes_swept") > 0L)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dataFiles(): Long = {
      val it = fs.listFiles(
        new org.apache.hadoop.fs.Path(s"$root/data"), true)
      var n = 0L
      while (it.hasNext) {
        if (it.next().getPath.getName.endsWith(".parquet")) n += 1
      }
      n
    }
    val before = dataFiles()
    TableStore.vacuum(spark, root, keepVersions = 2)
    // the dry run's sweep count is exactly the files vacuum removed,
    // and the dropped log version is gone
    assert(before - dataFiles() == plan.getAs[Long]("n_files_swept"))
    assert(TableStore.versions(spark, root) == Seq(2L, 3L))
    // content is untouched either way
    assert(ids(root) == ((31L to 40L) ++ Seq(41L, 42L)).toSet)
    // a plan that drops nothing is all-zero at the current horizon
    val idle = TableStore.vacuumPlan(spark, root, keepVersions = 5)
      .collect()(0)
    assert(idle.getAs[Long]("n_versions_dropped") == 0L &&
      idle.getAs[Long]("n_files_swept") == 0L)
  }

  test("change feed resolves a mid-window column add by name") {
    val s = spark; import s.implicits._
    val root = tmp()
    TableStore.append(Seq((1L, "a")).toDF("id", "payload"), root)
    TableStore.append(Seq((2L, "b", 7L))
      .toDF("id", "payload", "score"), root)
    // one window spanning the evolution: pre-add rows surface the new
    // column as null instead of tearing the per-version union
    val feed = TableStore.readChangesSince(spark, root, 0L)
      .select("id", "payload", "score", "_commit_version").collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)), r.getLong(3)))
      .toSet
    assert(feed == Set((1L, "a", None, 1L), (2L, "b", Some(7L), 2L)))
  }

  test("metaStats/metaBounds answer from the log alone: data dir hidden") {
    val root = tmp()
    TableStore.append(mk(1L to 40L: _*), root, statsCols = Seq("id"))
    TableStore.append(mk(41L to 50L: _*), root, statsCols = Seq("id"))
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val data = new org.apache.hadoop.fs.Path(s"$root/data")
    val hidden = new org.apache.hadoop.fs.Path(s"$root/data_hidden")
    assert(fs.rename(data, hidden)) // no data file can be opened now
    try {
      val st = TableStore.metaStats(spark, root).collect()(0)
      assert(st.getAs[Long]("n_rows") == 50L)
      assert(st.getAs[Long]("n_files") >= 2L)
      assert(st.getAs[Long]("n_bytes") > 0L)
      val bd = TableStore.metaBounds(spark, root, Seq("id")).collect()(0)
      assert(bd.getAs[Long]("min_val") == 1L &&
        bd.getAs[Long]("max_val") == 50L)
      // the same questions through the DATA path do fail — the digest
      // really did come from metadata, not a cached scan
      intercept[Exception] { TableStore.read(spark, root).count() }
    } finally fs.rename(hidden, data)
    // older snapshots answer too, and reflect their own live set
    val st1 = TableStore.metaStats(spark, root, Some(1L)).collect()(0)
    assert(st1.getAs[Long]("n_rows") == 40L)
  }

  test("metaStats refuses under delete vectors; metaBounds refuses missing stats") {
    val root = tmp()
    TableStore.append(mk(1L to 20L: _*), root, statsCols = Seq("id"))
    // a live file with NO logged bounds for the asked column: loud,
    // never a silently-narrower range
    TableStore.append(mk(21, 22), root) // no statsCols
    val exB = intercept[IllegalArgumentException] {
      TableStore.metaBounds(spark, root, Seq("id"))
    }
    assert(exB.getMessage.contains("no logged bounds"))
    // counts still fine (row counts ride every commit)
    assert(TableStore.metaStats(spark, root).collect()(0)
      .getAs[Long]("n_rows") == 22L)
    // outstanding merge-on-read vectors make footer counts lies —
    // refuse with the purge remedy, never over-count
    TableStore.deleteWhereMoR(spark, root, col("id") === 5L,
      ("id", 5L, 5L))
    val exS = intercept[IllegalArgumentException] {
      TableStore.metaStats(spark, root)
    }
    assert(exS.getMessage.contains("purgeDeletes"))
    TableStore.purgeDeletes(spark, root, statsCols = Seq("id"))
    assert(TableStore.metaStats(spark, root).collect()(0)
      .getAs[Long]("n_rows") == 21L)
  }

  test("replaceWhere swaps a slice atomically; containment is enforced") {
    val root = tmp()
    TableStore.append(mk(1L to 10L: _*), root, statsCols = Seq("id"))
    TableStore.append(mk(11L to 20L: _*), root, statsCols = Seq("id"))
    val s = spark; import s.implicits._
    // replace ids [5, 8] with recomputed payloads — ONE commit
    val redone = Seq((5L, "new5"), (6L, "new6"))
      .toDF("id", "payload")
    val v = TableStore.replaceWhere(redone, root,
      col("id").between(5L, 8L), ("id", 5L, 8L),
      statsCols = Seq("id"))
    assert(v == 3L) // exactly one version: no delete+append gap
    val now = TableStore.read(spark, root).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(now == ((1L to 4L) ++ (9L to 20L))
      .map(i => i -> s"r$i").toMap + (5L -> "new5") + (6L -> "new6"))
    // the pre-replace snapshot still reads the original slice
    assert(ids(root, Some(2L)) == (1L to 20L).toSet)
    // a batch row OUTSIDE its own predicate refuses the commit: a
    // re-run would duplicate it — the corruption the op exists to stop
    val ex = intercept[IllegalArgumentException] {
      TableStore.replaceWhere(
        Seq((5L, "ok"), (99L, "escapee")).toDF("id", "payload"),
        root, col("id").between(5L, 8L), ("id", 5L, 8L))
    }
    assert(ex.getMessage.contains("OUTSIDE its own predicate"))
    assert(TableStore.versions(spark, root).last == 3L) // nothing landed
    // rows where the predicate is NULL are KEPT (three-valued delete
    // semantics — never selected, never removed)
    val root2 = tmp()
    TableStore.append(Seq((Some(1L), "a"), (None, "nullkey"))
      .toDF("id", "payload"), root2, statsCols = Seq("id"))
    TableStore.replaceWhere(Seq((1L, "a2")).toDF("id", "payload"),
      root2, col("id") === 1L, ("id", 1L, 1L))
    val kept = TableStore.read(spark, root2).collect()
      .map(_.getString(1)).toSet
    assert(kept == Set("a2", "nullkey"))
  }

  /** Stage a content-identical rewrite of snapshot `v` the way a
    * compactor would (attempt-unique data dir + FileEntry adds)
    * WITHOUT committing — the injection point that lets these tests
    * put a racing writer between a maintenance op's planning and its
    * commit deterministically. */
  private def stageRewrite(root: String, v: Long)
      : Seq[TableStore.FileEntry] = {
    val rel = s"data/v${v + 1}-rebasetest" +
      java.util.UUID.randomUUID.toString.take(8)
    val snap = TableStore.read(spark, root, Some(v))
    val rows = snap.count()
    snap.coalesce(1).write.parquet(s"$root/$rel")
    val p = new org.apache.hadoop.fs.Path(s"$root/$rel")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(p).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(s => TableStore.FileEntry(
        s"$rel/${s.getPath.getName}", rows, Map.empty, Map.empty))
  }

  test("layout rewrite rebases past a concurrent append and commits") {
    val root = tmp()
    TableStore.append(mk(1, 2), root) // v1
    TableStore.append(mk(3), root)    // v2
    val live = TableStore.liveAt(spark, root, 2L)
    val adds = stageRewrite(root, 2L) // compactor's plan, uncommitted
    // the racer: an append claims version 3 while the compactor holds
    // its plan — the streaming sink's normal state
    assert(TableStore.append(mk(4), root) == 3L)
    val committed = TableStore.commitLayoutRebasing(
      spark, root, 3L, adds, live.map(_.path))
    assert(committed == 4L) // rebased once, not abandoned
    assert(TableStore.versions(spark, root) == Seq(1L, 2L, 3L, 4L))
    // both writers' work survives: the racer's row AND the rewrite
    assert(ids(root) == Set(1L, 2L, 3L, 4L))
    assert(ids(root, Some(3L)) == Set(1L, 2L, 3L, 4L))
    val h4 = TableStore.history(spark, root).where(col("version") === 4L)
      .collect().head
    assert(h4.getAs[Long]("n_added") == 1L)
    assert(h4.getAs[Long]("n_removed") == live.size.toLong)
  }

  test("layout rebase refuses when a racer removed a source file") {
    val root = tmp()
    TableStore.append(mk(1, 2), root) // v1
    val live = TableStore.liveAt(spark, root, 1L)
    val adds = stageRewrite(root, 1L)
    // the racer REWRITES the table: the staged rewrite's sources are
    // gone, so its content claim no longer holds
    TableStore.overwrite(mk(9), root) // v2
    val ex = intercept[java.util.ConcurrentModificationException] {
      TableStore.commitLayoutRebasing(
        spark, root, 2L, adds, live.map(_.path))
    }
    assert(ex.getMessage.contains("cannot rebase"))
    assert(ids(root) == Set(9L)) // the winner's table is untouched
    assert(TableStore.versions(spark, root) == Seq(1L, 2L))
  }

  test("layout rebase refuses when a delete vector landed on a source") {
    val root = tmp()
    TableStore.append(mk(1, 2), root) // v1
    val live = TableStore.liveAt(spark, root, 1L)
    val adds = stageRewrite(root, 1L)
    // the racer merge-on-read-deletes a row: the file stays LIVE, but
    // rewriting its raw bytes would resurrect the deleted row
    TableStore.deleteWhereMoR(spark, root,
      col("id") === 1L, ("id", 1L, 1L)) // v2
    val ex = intercept[java.util.ConcurrentModificationException] {
      TableStore.commitLayoutRebasing(
        spark, root, 2L, adds, live.map(_.path))
    }
    assert(ex.getMessage.contains("delete vector"))
    assert(ids(root) == Set(2L)) // the MoR delete holds
  }

  test("two competing compactors: one rebases only past appends, " +
      "the second refuses (its sources are gone)") {
    val root = tmp()
    TableStore.append(mk(1, 2), root) // v1
    TableStore.append(mk(3), root)    // v2
    val live = TableStore.liveAt(spark, root, 2L)
    // both compactors plan from v2 — the same remove-set
    val addsA = stageRewrite(root, 2L)
    val addsB = stageRewrite(root, 2L)
    // A wins the race outright (no conflict)
    val vA = TableStore.commitLayoutRebasing(
      spark, root, 3L, addsA, live.map(_.path))
    assert(vA == 3L)
    // B lost to a rewrite of its OWN sources: rebasing would publish
    // duplicate content (A's copy + B's copy) — must refuse
    val ex = intercept[java.util.ConcurrentModificationException] {
      TableStore.commitLayoutRebasing(
        spark, root, 3L, addsB, live.map(_.path))
    }
    assert(ex.getMessage.contains("cannot rebase"))
    assert(ids(root) == Set(1L, 2L, 3L)) // content intact, no dupes
    assert(TableStore.versions(spark, root) == Seq(1L, 2L, 3L))
  }

  test("compactor thread survives a concurrent appender: history linear") {
    val root = tmp()
    TableStore.append(mk(1, 2), root)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val appender = new Thread(() =>
      try (3L to 12L).foreach(i => TableStore.append(mk(i), root))
      catch { case t: Throwable => failures.add(t) })
    appender.start()
    try (1 to 3).foreach { _ =>
      TableStore.compact(spark, root, targetBytes = 1L << 30)
      Thread.sleep(5)
    } catch { case t: Throwable => failures.add(t) }
    appender.join()
    assert(failures.isEmpty, s"concurrent maintenance failed: " +
      failures.toArray.mkString("; "))
    // every append survived every compaction, whatever the interleave
    assert(ids(root) == (1L to 12L).toSet)
    val vs = TableStore.versions(spark, root)
    assert(vs == (1L to vs.size.toLong)) // linear, gap-free history
  }
test("merge on a CONSTRAINED store: a violating batch refuses with " +
    "the store untouched; a valid batch still rewrites survivors " +
    "(the r15 one-write fast path must NOT engage here)") {
    val root = tmp()
    TableStore.append(mk(1L, 2L, 3L), root, statsCols = Seq("id"))
    TableStore.addConstraint(spark, root, "id_nonneg", "id >= 0")
    val vBefore = TableStore.versions(spark, root).last
    val ex = intercept[IllegalArgumentException] {
      TableStore.merge(mk(2L, -7L), root, "id", statsCols = Seq("id"))
    }
    assert(ex.getMessage.contains("id_nonneg"))
    assert(TableStore.versions(spark, root).last == vBefore,
      "a refused merge must commit nothing")
    assert(ids(root) == Set(1L, 2L, 3L))
    // valid merge: key 2 rewritten, 9 inserted, survivors 1 and 3 kept
    TableStore.merge(mk(2L, 9L), root, "id", statsCols = Seq("id"))
    assert(ids(root) == Set(1L, 2L, 3L, 9L))
  }

  /** What Spark's own inference reports for the live files of `root`
    * at its latest version (or `v`). */
  private def inferred(root: String, v: Option[Long] = None) =
    spark.read.parquet(TableStore.liveAt(spark, root,
      v.getOrElse(TableStore.versions(spark, root).max))
      .map(e => TableStore.resolve(root, e.path)): _*).schema

  test("scan schemas resolve on the driver exactly as Spark infers them") {
    val s = spark; import s.implicits._
    // nested, decimal and timestamp columns ride Spark's row metadata
    def rows(lo: Long) = (lo until lo + 20L).map(i =>
      (i, s"r$i", BigDecimal(i) / 4, java.sql.Timestamp.valueOf(
        "2024-01-01 00:00:00"), Seq(i.toInt), Map(s"k$i" -> i * 0.5),
        (i.toInt, s"n$i"), if (i % 2 == 0) "east" else "west"))
      .toDF("id", "payload", "dec", "ts", "arr", "m", "st", "region")
    def frames(root: String, v: Option[Long] = None) = Seq(
      TableStore.read(spark, root, v),
      TableStore.readWhere(spark, root, Seq(In("id", Array(3L))), v)._1,
      // refuted by every file: the empty frame never touches a file
      TableStore.readWhere(spark, root, Seq(In("id", Array(-9L))), v)._1,
      TableStore.pointLookupString(spark, root, "payload", Seq("r5"), v)._1,
      TableStore.readRange(spark, root, "id", 0L, 30L, v)._1)
    def same(root: String, v: Option[Long] = None): Unit =
      frames(root, v).foreach(f => assert(f.schema == inferred(root, v)))

    val plain = tmp()
    Seq(0L, 20L).foreach(lo => TableStore.append(rows(lo).coalesce(1),
      plain, statsCols = Seq("id"), bloomCols = Seq("id", "payload")))
    same(plain)
    val part = tmp()
    TableStore.createEmpty(spark, part, rows(0L).schema,
      partitionBy = Seq("region"))
    TableStore.append(rows(0L).repartition(2), part, statsCols = Seq("id"))
    assert(TableStore.partitionColsOf(spark, part) == Seq("region"))
    same(part)
    val clone = tmp()
    TableStore.shallowClone(spark, plain, clone)
    same(clone)
    // pre-ALTER: the snapshot before the ALTER resolves from footers
    val pre = TableStore.versions(spark, plain).max
    TableStore.alterSchema(spark, plain,
      Seq("extra" -> org.apache.spark.sql.types.StringType), Nil)
    same(plain, Some(pre))
    assert(TableStore.read(spark, plain).columns.last == "extra")

    // mixed live schemas with nothing declared: Spark's first file in
    // path order, or every file merged once the session asks for it
    val mixed = tmp()
    TableStore.append(mk(1L).coalesce(1), mixed, bloomCols = Seq("id"))
    TableStore.append(mk(2L).withColumn("extra", lit(1)).coalesce(1), mixed,
      bloomCols = Seq("id"))
    same(mixed)
    assert(!TableStore.read(spark, mixed).columns.contains("extra"))
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try {
      same(mixed)
      assert(TableStore.read(spark, mixed).columns.contains("extra"))
    } finally spark.conf.unset("spark.sql.parquet.mergeSchema")
  }

  test("typed reads plan with zero Spark jobs; a one-file lookup " +
    "collects in one") {
    import org.apache.spark.sql.graftbridge.SparkJobs
    val root = tmp()
    TableStore.append(mk(1L to 50L: _*).coalesce(1), root,
      statsCols = Seq("id"), bloomCols = Seq("id", "payload"))
    TableStore.append(mk(51L to 100L: _*).coalesce(1), root,
      statsCols = Seq("id"), bloomCols = Seq("id", "payload"))
    val (built, planJobs) = SparkJobs.during(spark) {
      Seq(TableStore.readWhere(spark, root, Seq(In("id", Array(7L)))),
        TableStore.pointLookupString(spark, root, "payload", Seq("r70")),
        TableStore.readRange(spark, root, "id", 10L, 20L))
    }
    val (_, readJobs) = SparkJobs.during(spark)(TableStore.read(spark, root))
    assert(planJobs == 0 && readJobs == 0,
      s"planning ran $planJobs + $readJobs Spark jobs")
    assert(built.map(_._2) == Seq(1, 1, 1))
    val (got, jobs) = SparkJobs.during(spark)(built.head._1.collect())
    assert(got.map(_.getLong(0)).toSeq == Seq(7L))
    assert(jobs == 1, s"a one-file lookup ran $jobs Spark jobs")
  }

  test("a 25-row merge into a 4-file bloom store writes under 16 MB") {
    import scala.jdk.CollectionConverters._
    val s = spark; import s.implicits._
    val root = tmp()
    def rows(ks: Seq[Int], v: Long) =
      ks.map(k => (f"c$k%05d", k.toLong, v)).toDF("cid", "key_num", "v")
    (0 until 4).foreach { f =>
      TableStore.append(rows(f * 1250 until (f + 1) * 1250, 0L).coalesce(1),
        root, statsCols = Seq("key_num"), bloomCols = Seq("cid"))
    }
    def written(): Long =
      org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
        .filter(_.getScheme == "file").map(_.getBytesWritten).sum
    val b0 = written()
    // 20 updates spread over all four files, 5 new keys
    TableStore.merge(rows((0 until 20).map(_ * 250) ++ (5000 until 5005), 1L),
      root, "cid", statsCols = Seq("key_num"), bloomCols = Seq("cid"))
    val bytes = written() - b0
    // each rewritten file carries a bloom sized to its 1,250 keys (the
    // 1 MB floor), not the 16 MB cap
    assert(bytes < (16L << 20), s"the merge wrote $bytes bytes")
    val got = TableStore.read(spark, root)
    assert(got.count() == 5005L && got.where(col("v") === 1L).count() == 25L)
  }
}
