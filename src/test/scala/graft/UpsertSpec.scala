package graft

import org.apache.spark.sql.functions._
import graft.ops.Upsert

/** Partial-column merge semantics (SURVEY.md §2.3 J3, §7.4) — the
  * reference's ON CONFLICT update list covers only SOME columns
  * (dags/SQL/Bronze/insert_data_into_bronze.sql:60-77): unlisted
  * columns must KEEP the existing row's values on conflict.
  */
class UpsertSpec extends SparkSpec {
  private def df(rows: Seq[(Long, String, Int, String)]) = {
    val s = spark; import s.implicits._
    rows.toDF("id", "name", "score", "note")
  }

  test("conflict refreshes listed columns, retains unlisted ones") {
    val existing = df(Seq((1L, "old-name", 10, "keep-me")))
    val incoming = df(Seq((1L, "new-name", 99, "clobber"), (2L, "fresh", 7, "n")))
    val out = Upsert.merge(existing, incoming, Seq("id"), Seq("name", "score"))
    assert(rowsAsSet(out) === Set(
      Seq(1L, "new-name", 99, "keep-me"), // note retained from existing
      Seq(2L, "fresh", 7, "n")))          // new key: all incoming values
  }

  test("conflictOverrides fire only on conflict (record_type='updated')") {
    val existing = df(Seq((1L, "a", 1, "new")))
    val incoming = df(Seq((1L, "b", 2, "new"), (2L, "c", 3, "new")))
    val out = Upsert.merge(existing, incoming, Seq("id"), Seq("name", "score"),
      conflictOverrides = Map("note" -> lit("updated")))
    assert(rowsAsSet(out) === Set(
      Seq(1L, "b", 2, "updated"), Seq(2L, "c", 3, "new")))
  }

  test("replaceByKey replaces matching keys wholesale and appends fresh ones") {
    val target = df(Seq((1L, "t1", 1, "a"), (2L, "t2", 2, "b")))
    val fixed = df(Seq((2L, "FIX", 20, "B"), (3L, "t3", 3, "c")))
    val out = Upsert.replaceByKey(target, fixed, Seq("id"))
    assert(rowsAsSet(out) === Set(
      Seq(1L, "t1", 1, "a"), Seq(2L, "FIX", 20, "B"), Seq(3L, "t3", 3, "c")))
  }

  test("merge is idempotent: re-applying the same delta is a no-op (seeded property)") {
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 10) {
      val s = spark; import s.implicits._
      // one row per key (natural-key tables have unique keys)
      val e = Seq.fill(8)((rnd.nextLong(6), rnd.alphanumeric.take(4).mkString))
        .distinctBy(_._1)
      val i = Seq.fill(8)((rnd.nextLong(6), rnd.alphanumeric.take(4).mkString))
        .distinctBy(_._1)
      val existing = e.toDF("id", "name")
        .withColumn("score", lit(0)).withColumn("note", lit("e"))
      val incoming = i.toDF("id", "name")
        .withColumn("score", lit(1)).withColumn("note", lit("i"))
      val once = Upsert.merge(existing, incoming, Seq("id"), Seq("name", "score"))
      val twice = Upsert.merge(once, incoming, Seq("id"), Seq("name", "score"))
      assert(rowsAsSet(twice) === rowsAsSet(once))
      // key set = union of inputs' keys, one row per key
      val keys = once.select("id").collect().map(_.getLong(0)).toSeq
      assert(keys.sorted === keys.distinct.sorted)
      assert(keys.toSet === (e.map(_._1) ++ i.map(_._1)).toSet)
    }
  }

  test("inferred members make the star join inner-complete, and the " +
    "partial upsert later corrects the placeholder in place") {
    val s = spark; import s.implicits._
    val dim = Seq((1L, "AUTO"), (2L, "RETAIL")).toDF("k", "seg")
    val facts = Seq((1L, 10.0), (3L, 20.0), (3L, 5.0)).toDF("k", "amt")
    val completed = graft.ops.InferredMembers.completeDim(
      dim, facts, "k", Map("seg" -> lit("<inferred>")))
    // fact key 3 now has a flagged placeholder; nothing else changed
    val rows = completed.collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getInt(2))).toMap
    assert(rows(3L) == ("<inferred>", 1))
    assert(rows(1L) == ("AUTO", 0) && rows(2L) == ("RETAIL", 0))
    // inner-complete: no fact row lost
    assert(facts.join(completed, Seq("k")).count() == facts.count())
    // the correction loop: a late dim batch upserts the real
    // attributes over the placeholder via the existing partial merge
    val late = Seq((3L, "MACHINERY")).toDF("k", "seg")
    val corrected = graft.ops.Upsert.merge(
      completed.drop("is_inferred"), late, Seq("k"), Seq("seg"))
    assert(corrected.filter(col("k") === 3L).head().getString(1)
      == "MACHINERY")
  }
}
