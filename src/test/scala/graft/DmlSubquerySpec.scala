package graft

import org.apache.spark.sql.functions._

import graft.ops.TableStore

/** Subquery predicates in SQL DML — the shapes the reference's own
  * mutation statements use verbatim (dags/DataWarehouse.py:531-540
  * self-referencing GROUP-BY-HAVING dup delete, :666-673 staging⋈
  * bronze dedup, dags/Reprocessing.py:117-126 correction-loop
  * delete): value semantics, PRE-IMAGE semantics for self-reference
  * (all copies of a dup go, never "all but one"), SQL's three-valued
  * NULL handling, proportionality under mixed prunable+subquery
  * predicates, and the refusal surface that remains (correlated
  * subqueries, value-position subqueries). */
class DmlSubquerySpec extends SparkSpec {

  private def cat(name: String): String = {
    spark.conf.set(s"spark.sql.catalog.$name",
      classOf[graft.sources.GraftCatalog].getName)
    name
  }

  private def rangedStore(tag: String): String = {
    val s = spark; import s.implicits._
    val root = graft.TempRoots.create(s"graft_dmlsub_$tag") + "/t"
    Seq(Seq(1L, 2L, 3L), Seq(11L, 12L, 13L), Seq(21L, 22L, 23L))
      .foreach { ids =>
        TableStore.append(
          ids.map(i => (i, s"n$i", i * 10L)).toDF("id", "name", "v")
            .coalesce(1),
          root, statsCols = Seq("id"))
      }
    root
  }

  private def ids(root: String): Seq[Long] =
    TableStore.read(spark, root).orderBy("id").select("id")
      .collect().map(_.getLong(0)).toIndexedSeq

  private def livePaths(root: String): Set[String] =
    TableStore.liveAt(spark, root,
      TableStore.versions(spark, root).last).map(_.path).toSet

  test("DELETE with IN over a temp view (the Reprocessing.py:117 " +
      "correction shape)") {
    val s = spark; import s.implicits._
    val root = rangedStore("inview")
    val g = cat("gsub")
    Seq(12L, 21L, 99L).toDF("k").createOrReplaceTempView("dmlsub_stg")
    spark.sql(s"DELETE FROM $g.`$root` WHERE id IN " +
      "(SELECT k FROM dmlsub_stg)").collect()
    assert(ids(root) == Seq(1L, 2L, 3L, 11L, 13L, 22L, 23L))
  }

  test("self-referencing dup delete reads the PRE-image: all copies " +
      "go (the DataWarehouse.py:531 shape)") {
    val s = spark; import s.implicits._
    val root = graft.TempRoots.create("graft_dmlsub_dup") + "/t"
    // ids 1..6 once, ids 2 and 5 a second time -> dup keys {2, 5}
    TableStore.append(
      (1L to 6L).map(i => (i, i * 10L)).toDF("id", "v").coalesce(1),
      root, statsCols = Seq("id"))
    TableStore.append(
      Seq((2L, 20L), (5L, 50L)).toDF("id", "v").coalesce(1),
      root, statsCols = Seq("id"))
    val g = cat("gsub")
    spark.sql(s"DELETE FROM $g.`$root` WHERE id IN " +
      s"(SELECT id FROM $g.`$root` GROUP BY id HAVING COUNT(*) > 1)")
      .collect()
    // pre-image semantics: BOTH copies of 2 and 5 are gone — an
    // engine that re-evaluated the subquery against post-delete state
    // (or deleted incrementally) would leave one copy behind
    assert(ids(root) == Seq(1L, 3L, 4L, 6L))
  }

  test("IN over a join subquery (the DataWarehouse.py:666 " +
      "staging-vs-bronze shape)") {
    val s = spark; import s.implicits._
    val root = rangedStore("injoin")
    val g = cat("gsub")
    Seq(11L, 12L, 22L).toDF("a").createOrReplaceTempView("dmlsub_a")
    Seq(12L, 22L, 23L).toDF("b").createOrReplaceTempView("dmlsub_b")
    spark.sql(s"DELETE FROM $g.`$root` WHERE id IN " +
      "(SELECT x.a FROM dmlsub_a x JOIN dmlsub_b y ON x.a = y.b)")
      .collect()
    assert(ids(root) == Seq(1L, 2L, 3L, 11L, 13L, 21L, 23L))
  }

  test("NULL keys keep SQL three-valued semantics under IN and NOT IN") {
    val s = spark; import s.implicits._
    val root = graft.TempRoots.create("graft_dmlsub_null") + "/t"
    TableStore.append(
      Seq(Some(1L), Some(2L), None).toDF("id").coalesce(1), root)
    val g = cat("gsub")
    Seq(1L).toDF("k").createOrReplaceTempView("dmlsub_nullk")
    // NULL IN (1) is NULL, not false -> the NULL row is KEPT
    spark.sql(s"DELETE FROM $g.`$root` WHERE id IN " +
      "(SELECT k FROM dmlsub_nullk)").collect()
    val afterIn = TableStore.read(spark, root)
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
      .toSet
    assert(afterIn == Set(Some(2L), None),
      s"IN must delete only id=1 (NULL is not-true): $afterIn")
    // NULL NOT IN (1) is NULL, not true -> the NULL row is KEPT
    spark.sql(s"DELETE FROM $g.`$root` WHERE id NOT IN " +
      "(SELECT k FROM dmlsub_nullk)").collect()
    val afterNotIn = TableStore.read(spark, root)
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
      .toSet
    assert(afterNotIn == Set(None),
      s"NOT IN must keep the NULL row (3VL): $afterNotIn")
  }

  test("empty subquery result folds to SQL's x IN (∅) = FALSE — " +
    "IN deletes nothing, NOT IN deletes everything (incl. NULL keys)") {
    val s = spark; import s.implicits._
    val root = graft.TempRoots.create("graft_dmlsub_empty") + "/t"
    TableStore.append(
      Seq(Some(1L), Some(2L), None).toDF("id").coalesce(1), root)
    val g = cat("gsub")
    Seq.empty[Long].toDF("k").createOrReplaceTempView("dmlsub_emptyk")
    spark.sql(s"DELETE FROM $g.`$root` WHERE id IN " +
      "(SELECT k FROM dmlsub_emptyk)").collect()
    assert(TableStore.read(spark, root).count() == 3,
      "IN over an empty set matches no row, not even NULL")
    // NULL NOT IN (∅) is TRUE (no element to compare): every row goes
    spark.sql(s"DELETE FROM $g.`$root` WHERE id NOT IN " +
      "(SELECT k FROM dmlsub_emptyk)").collect()
    assert(TableStore.read(spark, root).count() == 0,
      "NOT IN over an empty set matches every row, including NULL")
  }

  test("a NULL inside the subquery RESULT keeps 3VL: NOT IN can " +
    "never be true, IN still matches present values") {
    val s = spark; import s.implicits._
    val root = graft.TempRoots.create("graft_dmlsub_nullin") + "/t"
    TableStore.append(Seq(1L, 2L, 3L).toDF("id").coalesce(1), root)
    val g = cat("gsub")
    Seq(Some(1L), None).toDF("k")
      .createOrReplaceTempView("dmlsub_nullv")
    // 2 NOT IN (1, NULL) is NULL (not true): nothing deletes
    spark.sql(s"DELETE FROM $g.`$root` WHERE id NOT IN " +
      "(SELECT k FROM dmlsub_nullv)").collect()
    assert(ids(root) == Seq(1L, 2L, 3L),
      "NOT IN over a null-bearing set is never TRUE")
    // 1 IN (1, NULL) is TRUE: the present value still deletes
    spark.sql(s"DELETE FROM $g.`$root` WHERE id IN " +
      "(SELECT k FROM dmlsub_nullv)").collect()
    assert(ids(root) == Seq(2L, 3L))
  }

  test("a PURE IN-subquery predicate skips files by log stats " +
    "(the r15 driver materialization unlocks the prune)") {
    val s = spark; import s.implicits._
    val root = rangedStore("inprune")
    val g = cat("gsub")
    val before = livePaths(root)
    Seq(12L).toDF("k").createOrReplaceTempView("dmlsub_inprune")
    // no range conjunct: the prune must come from the materialized
    // IN values alone — only the middle file may be rewritten
    spark.sql(s"DELETE FROM $g.`$root` WHERE id IN " +
      "(SELECT k FROM dmlsub_inprune)").collect()
    val after = livePaths(root)
    assert(before.count(after.contains) == 2,
      s"two out-of-range files must survive untouched: $before -> $after")
    assert(ids(root) == Seq(1L, 2L, 3L, 11L, 13L, 21L, 22L, 23L))
  }

  test("scalar subquery and EXISTS predicates work") {
    val s = spark; import s.implicits._
    val root = rangedStore("scalar")
    val g = cat("gsub")
    // avg(v) over the store itself = 120 -> deletes v > 120
    spark.sql(s"DELETE FROM $g.`$root` WHERE v > " +
      s"(SELECT AVG(v) FROM $g.`$root`)").collect()
    assert(ids(root) == Seq(1L, 2L, 3L, 11L, 12L))
    Seq(1L, 11L).toDF("k").createOrReplaceTempView("dmlsub_exists")
    // uncorrelated EXISTS: non-empty -> everything matches the rest
    // of the predicate
    spark.sql(s"DELETE FROM $g.`$root` WHERE id < 3 AND EXISTS " +
      "(SELECT 1 FROM dmlsub_exists)").collect()
    assert(ids(root) == Seq(3L, 11L, 12L))
  }

  test("mixed prunable + subquery predicate still skips files by " +
      "log stats") {
    val s = spark; import s.implicits._
    val root = rangedStore("prune")
    val g = cat("gsub")
    val before = livePaths(root)
    Seq(12L, 1L).toDF("k").createOrReplaceTempView("dmlsub_prune")
    // the range conjunct proves files [1-3] and [21-23] can't match;
    // only the middle file is read and rewritten
    spark.sql(s"DELETE FROM $g.`$root` WHERE id >= 11 AND id <= 13 " +
      "AND id IN (SELECT k FROM dmlsub_prune)").collect()
    val after = livePaths(root)
    assert(before.count(after.contains) == 2,
      s"two out-of-range files must survive untouched: $before -> $after")
    assert(ids(root) == Seq(1L, 2L, 3L, 11L, 13L, 21L, 22L, 23L))
  }

  test("UPDATE with a subquery predicate (two-Filter rewrite shape)") {
    val s = spark; import s.implicits._
    val root = rangedStore("upd")
    val g = cat("gsub")
    Seq(11L, 21L).toDF("k").createOrReplaceTempView("dmlsub_upd")
    spark.sql(s"UPDATE $g.`$root` SET v = v + 1 WHERE id IN " +
      "(SELECT k FROM dmlsub_upd)").collect()
    val vs = TableStore.read(spark, root).orderBy("id").select("v")
      .collect().map(_.getLong(0)).toIndexedSeq
    assert(vs == Seq(10L, 20L, 30L, 111L, 120L, 130L, 211L, 220L, 230L))
  }

  test("value-position subqueries refuse (correlated predicates are " +
      "supported — DmlExistsSpec)") {
    val s = spark; import s.implicits._
    val root = rangedStore("refuse")
    val g = cat("gsub")
    Seq((1L, 5L)).toDF("k", "w").createOrReplaceTempView("dmlsub_corr")
    val e2 = intercept[Exception] {
      spark.sql(s"UPDATE $g.`$root` SET v = " +
        "(SELECT MAX(w) FROM dmlsub_corr) WHERE id = 1").collect()
    }
    assert(e2.getMessage.contains("subquer"), e2.getMessage)
    val e3 = intercept[Exception] {
      spark.sql(s"""
        MERGE INTO $g.`$root` t
        USING (SELECT 1L AS sid) s
        ON t.id = s.sid AND t.id IN (SELECT k FROM dmlsub_corr)
        WHEN MATCHED THEN DELETE""").collect()
    }
    assert(e3.getMessage.contains("subquer"), e3.getMessage)
    assert(ids(root).size == 9, "refused statements must not mutate")
  }

  test("both branches of the IN-subquery gate leave identical tables " +
    "(seeded differential: empty, all-NULL, duplicate and NULL keys)") {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference,
      SubqueryExpression}
    import org.apache.spark.sql.catalyst.plans.logical.Filter
    import org.apache.spark.sql.graftbridge.Bridge
    import graft.ops.Dml
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(20261020L)
    def key(nullPct: Int): Option[Long] =
      if (rnd.nextInt(100) < nullPct) None else Some(rnd.nextInt(12).toLong)
    // the gate's branches: materialized under the default bounds, live
    // over the input-bytes bound, live over the distinct-values bound
    // (an empty subquery holds no values, so a zero values bound still
    // materializes it, to FALSE)
    val gates = Seq[(String, Column => Column)](
      "materialized" -> (Dml.materializeInSubqueries(spark, _)),
      "live (bytes)" -> (Dml.materializeInSubqueries(spark, _,
        inputBytesBound = -1L)),
      "live (values)" -> (Dml.materializeInSubqueries(spark, _,
        valuesBound = 0)))
    def live(c: Column) = SubqueryExpression.hasSubquery(Bridge.expression(c))
    val subqueries = Seq(
      "empty" -> Seq.empty[Option[Long]],
      "all-NULL" -> Seq.fill(3)(Option.empty[Long]),
      "duplicates" -> Seq.fill(8)(key(0)),
      "mixed" -> Seq.fill(8)(key(25)))
    subqueries.foreach { case (what, keys) =>
      // target files with duplicate and NULL keys
      val files = Seq.fill(2)(Seq.fill(15 + rnd.nextInt(10))(
        (key(15), rnd.nextInt(1000).toLong)))
      // the resolved predicate the SQL surface hands to Dml: analyzed,
      // with the target column unbound again
      keys.toDF("k").createOrReplaceTempView("dmlsub_gate")
      def resolved(p: String) = Bridge.column(Seq(Option(0L)).toDF("id")
        .where(expr(p)).queryExecution.analyzed
        .collectFirst { case f: Filter => f.condition }
        .get.transform {
          case a: AttributeReference => UnresolvedAttribute(a.name)
        })
      val in = resolved("id IN (SELECT k FROM dmlsub_gate)")
      val notIn = resolved("id NOT IN (SELECT k FROM dmlsub_gate)")
      // the two DataFrame-API forms: a Dataset IN-subquery, and the
      // Column `!` over the analyzed IN
      val inDs = col("id").isin(spark.table("dmlsub_gate"))
      val bangIn = !in
      Seq(in, notIn, inDs, bangIn).foreach { p =>
        assert(live(gates(1)._2(p)),
          s"$what: $p materialized over the bytes bound")
        assert(!live(gates(0)._2(p)),
          s"$what: $p left live under the default bounds")
        assert(live(gates(2)._2(p)) == keys.nonEmpty,
          s"$what: $p live over the values bound: ${keys.nonEmpty} expected")
      }
      val roots = gates.map { case (g, _) =>
        val root = graft.TempRoots.create("graft_dmlsub_gate") + "/t"
        files.foreach(f => TableStore.append(
          f.toDF("id", "v").coalesce(1), root, statsCols = Seq("id")))
        root
      }
      def rows(root: String) = TableStore.read(spark, root).collect()
        .map(r => (Option(r.get(0)), r.getLong(1))).toSeq.sortBy(_.toString)
      val ops = Seq[(String, (String, Column => Column) => Long)](
        "UPDATE IN" -> ((root, m) => Dml.update(spark, root,
          Seq("v" -> (col("v") + 1)), Some(in), m)),
        "DELETE IN" -> ((root, m) => Dml.delete(spark, root, in, m)),
        "DELETE NOT IN" -> ((root, m) => Dml.delete(spark, root, notIn, m)),
        "UPDATE isin(ds)" -> ((root, m) => Dml.update(spark, root,
          Seq("v" -> (col("v") * 2)), Some(inDs), m)),
        "DELETE !IN" -> ((root, m) => Dml.delete(spark, root, bangIn, m)))
      ops.foreach { case (op, run) =>
        roots.zip(gates).foreach { case (root, (_, m)) => run(root, m) }
        val want = rows(roots.head)
        roots.zip(gates).tail.foreach { case (root, (g, _)) =>
          assert(rows(root) == want, s"$what, $op: $g differs")
        }
      }
    }
  }
}
