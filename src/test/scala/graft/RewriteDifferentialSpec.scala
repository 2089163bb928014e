package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.{Dml, TableStore}
import graft.ops.Dml.{WhenMatched, WhenNotMatched}

/** Seeded differential of the store's keyed upserts against the SQL
  * MERGE engine: both run the one row-level rewrite, so on the same
  * store and batch they must leave the same table. Random stores mix
  * commits with log stats, with blooms and stat-less ones, over unique
  * non-null keys plus NULL keys; batches are unique per non-null key,
  * may carry NULL keys, and may be empty. Before each op a
  * merge-on-read delete vectors some rows on both stores, so both
  * engines rewrite vectored files. [[TableStore.merge]] pairs
  * with `WHEN MATCHED UPDATE * / WHEN NOT MATCHED INSERT *`, and
  * [[TableStore.applyChanges]] with a leading delete clause and an
  * upsert-only insert. */
class RewriteDifferentialSpec extends SparkSpec {

  private type Row3 = (Option[Long], Long, Option[String])

  private def rows(root: String): Seq[String] =
    TableStore.read(spark, root).collect().map(_.toString).toSeq.sorted

  /** `batch` renamed apart from the target, as Dml.merge requires. */
  private def source(batch: DataFrame): DataFrame =
    batch.withColumnRenamed("k", "sk").withColumnRenamed("v", "sv")
      .withColumnRenamed("s", "ss")

  private val insertAll = Seq("k" -> col("sk"), "v" -> col("sv"),
    "s" -> col("ss"))

  test("merge and applyChanges leave the tables Dml.merge leaves " +
    "(seeded: NULL keys, empty batches, stats/bloom/stat-less commits)") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(20261021L)
    def payload(): Option[String] =
      if (rnd.nextInt(8) == 0) None else Some(s"s${rnd.nextInt(50)}")
    // `n` rows over distinct keys drawn from `pool`, ~1 in 6 NULL-keyed
    def draw(pool: Seq[Long], n: Int): Seq[Row3] =
      rnd.shuffle(pool).take(n).map(k =>
        (if (rnd.nextInt(6) == 0) None else Some(k),
          rnd.nextInt(1000).toLong, payload()))
    def frame(rs: Seq[Row3]): DataFrame = rs.toDF("k", "v", "s")
    (0 until 4).foreach { round =>
      val roots = Seq.fill(2)(TempRoots.create("graft_rewritediff") + "/t")
      val keys = rnd.shuffle((0L until 90L).toList)
      keys.grouped(30).zipWithIndex.foreach { case (ks, i) =>
        val df = frame(draw(ks, 5 + rnd.nextInt(20))).coalesce(1)
        val kind = rnd.nextInt(3)
        roots.foreach { r =>
          if (kind == 0) TableStore.append(df, r, statsCols = Seq("k"))
          else if (kind == 1) TableStore.append(df, r, bloomCols = Seq("k"))
          else TableStore.append(df, r)
        }
      }
      val Seq(store, sql) = roots
      def same(what: String): Unit =
        assert(rows(store) == rows(sql), s"round $round, $what")
      def batch(): Seq[Row3] =
        if (rnd.nextInt(5) == 0) Nil
        else draw(0L until 120L, 1 + rnd.nextInt(15))
      def morDelete(): Unit = {
        val (m, r) = (2 + rnd.nextInt(4), rnd.nextInt(2))
        roots.foreach(TableStore.deleteWhereMoR(spark, _,
          col("k") % m === r && col("v") < 700))
        same("MoR delete")
      }

      morDelete()
      val upserts = frame(batch())
      TableStore.merge(upserts, store, "k")
      Dml.merge(spark, sql, source(upserts), col("k") === col("sk"), "k",
        col("sk"), matched = Seq(WhenMatched(None, Some(insertAll))),
        notMatched = Seq(WhenNotMatched(None, insertAll)))
      same("merge")

      morDelete()
      val changes = batch().map { case (k, v, p) =>
        (k, v, p, if (rnd.nextBoolean()) "upsert" else "delete")
      }.toDF("k", "v", "s", "_op")
      TableStore.applyChanges(changes, store, "k")
      Dml.merge(spark, sql,
        source(changes.withColumnRenamed("_op", "sop")),
        col("k") === col("sk"), "k", col("sk"),
        matched = Seq(WhenMatched(Some(col("sop") === "delete"), None),
          WhenMatched(None, Some(insertAll))),
        notMatched = Seq(WhenNotMatched(Some(col("sop") === "upsert"),
          insertAll)))
      same("applyChanges")
    }
  }
}
