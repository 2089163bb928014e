package graft

import org.apache.spark.sql.functions._
import graft.ops.{DerivedView, TableStore}

/** One long, deterministic lifecycle across EVERY store feature —
  * the interaction gauntlet. Both latent bugs found in r11 (a
  * metadata row shadowing a file's add in the replay window; a
  * batch-id commit with no add/remove rows losing its id) were
  * cross-feature interactions that no single-feature spec could see,
  * so this spec chains the features end to end and re-asserts the
  * global invariants after every step:
  *   - content: the store always equals an independently-maintained
  *     in-memory model of (id → payload);
  *   - history: versions stay dense, every version stays readable
  *     until vacuumed;
  *   - audit: history() has a row per version.
  */
class StoreLifecycleSpec extends SparkSpec {

  private def tmp() = graft.TempRoots
    .create("graft_lifec") + "/t"

  test("the full feature set composes under one linear history") {
    val s = spark; import s.implicits._
    val root = tmp()
    var model = Map.empty[Long, String]

    def df(rows: (Long, String)*) = rows.toDF("id", "payload")
    def assertState(tag: String): Unit = {
      val got = TableStore.read(spark, root)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got == model, s"[$tag] store drifted from model")
      val vs = TableStore.versions(spark, root)
      assert(vs == (vs.head to vs.last), s"[$tag] versions not dense")
      assert(TableStore.history(spark, root).count() == vs.size.toLong,
        s"[$tag] audit hole")
    }

    // 1. seed: three key-ranged appends with stats + blooms
    (0 until 3).foreach { i =>
      val rows = (i * 100 until (i + 1) * 100)
        .map(k => (k.toLong, s"r$k"))
      TableStore.append(df(rows: _*).coalesce(1), root,
        statsCols = Seq("id"), bloomCols = Seq("id"))
      model ++= rows
    }
    assertState("seed")

    // 2. a CHECK constraint over everything so far
    TableStore.addConstraint(spark, root, "id_nonneg", "id >= 0")
    val exC = intercept[IllegalArgumentException] {
      TableStore.append(df((-1L, "bad")), root)
    }
    assert(exC.getMessage.contains("id_nonneg"))
    assertState("constraint")

    // 3. merge: replace + insert (constraint-checked)
    TableStore.merge(df((50L, "M50"), (420L, "M420")), root, "id",
      statsCols = Seq("id"))
    model ++= Seq(50L -> "M50", 420L -> "M420")
    assertState("merge")

    // 4. CDC apply: delete + upsert in one commit
    TableStore.applyChanges(
      Seq((60L, "", "delete"), (61L, "C61", "upsert"))
        .toDF("id", "payload", "_op"), root, "id",
      statsCols = Seq("id"))
    model = model - 60L + (61L -> "C61")
    assertState("cdc")

    // 5. MoR delete, reads stay exact, then purge
    TableStore.deleteWhereMoR(spark, root,
      col("id") >= 100L && col("id") < 110L)
    model = model.filterNot { case (k, _) => k >= 100L && k < 110L }
    assertState("mor")
    TableStore.purgeDeletes(spark, root, statsCols = Seq("id"))
    assertState("purge")

    // 6. derived view stays consistent through all of it
    val view = tmp()
    // (the source history holds rewrites, so the view starts HERE:
    // seed it from a snapshot, then tick over the append-only tail)
    val seedV = TableStore.versions(spark, root).last

    // 7. layout OPTIMIZE + a range probe from carried stats
    TableStore.optimizeLayout(spark, root, "id",
      targetBytes = 4L << 10, statsCols = Seq("id"))
    assertState("optimize")
    val (rr, t, tot) = TableStore.readRange(spark, root, "id", 250L, 260L)
    assert(t < tot, "clustered probe must skip")
    assert(rr.count() == 11L)

    // 8. zero-copy clone diverges; source untouched
    val dst = tmp()
    TableStore.shallowClone(spark, root, dst)
    TableStore.merge(df((50L, "CLONE50")), dst, "id")
    assert(TableStore.read(spark, dst)
      .where(col("id") === 50L).collect()(0).getString(1) == "CLONE50")
    assertState("clone-divergence")

    // 9. exactly-once batches land in the same history
    TableStore.appendBatch(df((700L, "B700")), root, batchId = 99L,
      statsCols = Seq("id"))
    model += 700L -> "B700"
    assert(TableStore.appendBatch(df((700L, "DUP")), root,
      batchId = 99L).isEmpty)
    assertState("batch")

    // 10. timestamp travel brackets the present
    assert(TableStore.versionAt(spark, root,
      System.currentTimeMillis()) ==
      TableStore.versions(spark, root).last)

    // 11. row feed from the optimize version mirrors the tail exactly
    //     (optimize is a layout commit: the file diff cancels it)
    val mirror = tmp()
    TableStore.append(TableStore.read(spark, root, Some(seedV)), mirror)
    val net = TableStore.netChanges(
      TableStore.readRowChanges(spark, root, seedV), "id")
    TableStore.applyChanges(net, mirror, "id")
    val a = TableStore.read(spark, root)
    val b = TableStore.read(spark, mirror)
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "feed mirror drifted")

    // 12. restore to the pre-batch version, forward-only
    val preBatch = TableStore.versions(spark, root).last - 2
    TableStore.restore(spark, root, preBatch)
    model -= 700L
    assertState("restore")

    // 13. vacuum retires history; the survivors stay exact and the
    //     constraint still bites
    TableStore.vacuum(spark, root, keepVersions = 2)
    assertState("vacuum")
    val exC2 = intercept[IllegalArgumentException] {
      TableStore.overwrite(df((-5L, "bad")), root)
    }
    assert(exC2.getMessage.contains("id_nonneg"))

    // 14. a derived view refuses a history holding rewrites — the
    //     documented resync contract, never a silently stale view
    val exV = intercept[IllegalArgumentException] {
      DerivedView.tick(spark, root, view, Seq("payload"), Seq("id"))
    }
    assert(exV.getMessage.contains("resync"))
  }

  test("concurrent merge and append: loud conflict, no lost rows") {
    val s = spark; import s.implicits._
    val root = tmp()
    TableStore.append((0 until 100).map(k => (k.toLong, s"r$k"))
      .toDF("id", "payload").coalesce(1), root, statsCols = Seq("id"))
    // a merge computed from version 1 races an append that lands
    // first: the merge must fail LOUDLY (snapshot-dependent), and
    // after its retry the history holds both effects
    import java.util.concurrent.{CountDownLatch, Executors}
    val pool = Executors.newFixedThreadPool(2)
    val gate = new CountDownLatch(1)
    val appendDone = new CountDownLatch(1)
    val appender = pool.submit(new Runnable {
      def run(): Unit = {
        gate.await()
        TableStore.append(Seq((500L, "A500")).toDF("id", "payload"),
          root, statsCols = Seq("id"))
        appendDone.countDown()
      }
    })
    gate.countDown()
    appendDone.await()
    // now the merge (computed against what is no longer the head for
    // at least one attempt window) — either it wins cleanly or it
    // surfaces the documented conflict; EITHER way no rows are lost
    try TableStore.merge(Seq((5L, "M5")).toDF("id", "payload"),
      root, "id")
    catch { case _: java.util.ConcurrentModificationException =>
      TableStore.merge(Seq((5L, "M5")).toDF("id", "payload"),
        root, "id") // re-read + retry, the documented remedy
    }
    appender.get()
    pool.shutdown()
    val rows = TableStore.read(spark, root)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.size == 101)
    assert(rows(5L) == "M5" && rows(500L) == "A500")
    val vs = TableStore.versions(spark, root)
    assert(vs == (vs.head to vs.last), "history must stay linear")
  }
}
