package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThanOrEqual,
  StringStartsWith}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.ops.TableStore

/** `ALTER TABLE ADD COLUMN` as a metadata commit
  * ([[TableStore.alterSchema]] + the catalog's alterTable): declared
  * schemas version with the log, pre-ALTER files resolve the new
  * column to null inside the reader, time travel keeps each
  * snapshot's OWN shape, the change feed resolves across the
  * boundary, vacuum checkpoints carry the declaration, and the
  * refusal surface (NOT NULL, positions, nested, non-ADD changes,
  * reserved names, duplicate columns, DV-carrying snapshots). */
class SchemaAlterSpec extends SparkSpec {

  private def tmp() = graft.TempRoots.create("graft_alter") + "/t"

  private def mk(ids: Long*) = {
    val s = spark; import s.implicits._
    ids.map(i => (i, i * 10L)).toDF("id", "v")
  }

  private def cat(name: String): String = {
    spark.conf.set(s"spark.sql.catalog.$name",
      classOf[graft.sources.GraftCatalog].getName)
    name
  }

  test("addColumn: one metadata commit, nulls for old files, values " +
      "for new ones, history keeps its own schema") {
    val s = spark; import s.implicits._
    val root = tmp()
    TableStore.append(mk(1L, 2L).coalesce(1), root) // v1
    TableStore.append(mk(3L).coalesce(1), root)     // v2
    val filesBefore = TableStore.liveAt(spark, root, 2L).map(_.path).toSet
    assert(TableStore.alterSchema(spark, root, Seq("note" -> StringType), Nil) == 3L)
    // zero data IO: the same files are live, byte-identical
    assert(TableStore.liveAt(spark, root, 3L).map(_.path).toSet ==
      filesBefore)
    val post = TableStore.read(spark, root)
    assert(post.schema.fieldNames.toSeq == Seq("id", "v", "note"))
    assert(post.where(col("note").isNull).count() == 3L)
    // typed reads on the declared column: in no live file yet, yet no
    // typo — every file predates it, so none can match
    assert(post.where(col("note") === "x").count() == 0L)
    Seq(TableStore.pointLookupString(spark, root, "note", Seq("x")),
      TableStore.readWhere(spark, root,
        Seq(GreaterThanOrEqual("note", "a"), LessThanOrEqual("note", "z"))),
      TableStore.readWhere(spark, root,
        Seq(StringStartsWith("note", "x")))).foreach {
      case (df, touched, live) =>
        assert(df.count() == 0L && touched == 0 && live == 2)
    }
    // a write after the ALTER carries the column
    TableStore.append(Seq((9L, 90L, "hi")).toDF("id", "v", "note")
      .coalesce(1), root) // v4
    val rows = TableStore.read(spark, root).orderBy("id")
      .collect().map(r => (r.getLong(0), Option(r.getString(2))))
    assert(rows.toSeq ==
      Seq((1L, None), (2L, None), (3L, None), (9L, Some("hi"))))
    // time travel: the pre-ALTER snapshot keeps the pre-ALTER shape
    assert(TableStore.read(spark, root, Some(2L)).schema.fieldNames
      .toSeq == Seq("id", "v"))
    // and the post-ALTER pin reads the declared shape
    assert(TableStore.read(spark, root, Some(3L)).schema.fieldNames
      .toSeq == Seq("id", "v", "note"))
  }

  test("SQL surface: ALTER TABLE ADD COLUMN, INSERT with the column, " +
      "refusals for everything else") {
    val root = tmp()
    TableStore.append(mk(1L, 2L).coalesce(1), root)
    val g = cat("galt")
    spark.sql(s"ALTER TABLE $g.`$root` ADD COLUMN note STRING")
    spark.sql(s"INSERT INTO $g.`$root` VALUES (7, 70, 'x')")
    val got = spark.sql(s"SELECT id, note FROM $g.`$root` ORDER BY id")
      .collect().map(r => (r.getLong(0), Option(r.getString(1)))).toSeq
    assert(got == Seq((1L, None), (2L, None), (7L, Some("x"))))
    val e1 = intercept[Exception] {
      spark.sql(s"ALTER TABLE $g.`$root` ADD COLUMN bad LONG NOT NULL")
    }
    assert(e1.getMessage.contains("NULLABLE"), e1.getMessage)
    val e2 = intercept[Exception] {
      spark.sql(s"ALTER TABLE $g.`$root` ADD COLUMN b2 LONG FIRST")
    }
    assert(e2.getMessage.contains("FIRST/AFTER"), e2.getMessage)
    val e3 = intercept[Exception] {
      spark.sql(s"ALTER TABLE $g.`$root` DROP COLUMN note")
    }
    assert(e3.getMessage.contains("ADD COLUMN and ALTER"), e3.getMessage)
    val e4 = intercept[Exception] {
      spark.sql(s"ALTER TABLE $g.`$root` ADD COLUMN note STRING")
    }
    assert(e4.getMessage.contains("already exists"), e4.getMessage)
    intercept[Exception] {
      TableStore.alterSchema(spark, root, Seq("_commit_version" -> LongType), Nil)
    }
    // multi-column ADD is ATOMIC: a bad column anywhere in the list
    // leaves the table untouched (apply-all-or-none)
    val before = spark.table(s"$g.`$root`").schema.fieldNames.toSeq
    val vsBefore = TableStore.versions(spark, root)
    val e5 = intercept[Exception] {
      spark.sql(s"ALTER TABLE $g.`$root` ADD COLUMNS " +
        "(extra1 LONG, note STRING)") // note already exists
    }
    assert(e5.getMessage.contains("already exists"), e5.getMessage)
    assert(spark.table(s"$g.`$root`").schema.fieldNames.toSeq == before,
      "a failed multi-column ALTER must not change the schema")
    assert(TableStore.versions(spark, root) == vsBefore,
      "a failed multi-column ALTER must commit nothing")
    // and a GOOD multi-column list lands as ONE commit
    spark.sql(s"ALTER TABLE $g.`$root` ADD COLUMNS " +
      "(extra1 LONG, extra2 STRING)")
    assert(TableStore.versions(spark, root).size == vsBefore.size + 1)
    assert(spark.table(s"$g.`$root`").schema.fieldNames.toSeq ==
      before ++ Seq("extra1", "extra2"))
  }

  test("change feeds resolve across the ALTER boundary") {
    val s = spark; import s.implicits._
    val root = tmp()
    TableStore.append(mk(1L).coalesce(1), root)       // v1
    TableStore.alterSchema(spark, root, Seq("note" -> StringType), Nil) // v2
    TableStore.append(Seq((2L, 20L, "n2")).toDF("id", "v", "note")
      .coalesce(1), root) // v3
    // adds-only feed across (0, 3]: pre-ALTER file null-fills
    val feed = TableStore.readChangesSince(spark, root, 0L)
      .orderBy("id").collect()
      .map(r => (r.getAs[Long]("id"), Option(r.getAs[String]("note"))))
    assert(feed.toSeq == Seq((1L, None), (2L, Some("n2"))))
    // row feed across the boundary: reads under the to-schema
    val rows = TableStore.readRowChanges(spark, root, 0L, Some(3L))
      .orderBy("id").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("_op")))
    assert(rows.toSeq == Seq((1L, "insert"), (2L, "insert")))
  }

  test("vacuum checkpoints carry the declared schema") {
    val s = spark; import s.implicits._
    val root = tmp()
    TableStore.append(mk(1L).coalesce(1), root)           // v1
    TableStore.alterSchema(spark, root, Seq("note" -> StringType), Nil) // v2
    TableStore.append(Seq((2L, 20L, "n2")).toDF("id", "v", "note")
      .coalesce(1), root) // v3
    TableStore.append(mk(4L).withColumn("note", lit(null)
      .cast(StringType)).coalesce(1), root) // v4
    TableStore.vacuum(spark, root, keepVersions = 2)
    // the ALTER commit itself fell past the horizon — the checkpoint
    // must carry its declaration forward
    assert(TableStore.versions(spark, root) == Seq(3L, 4L))
    val post = TableStore.read(spark, root)
    assert(post.schema.fieldNames.toSeq == Seq("id", "v", "note"))
    assert(post.where(col("id") === 1L).select("note")
      .collect().head.isNullAt(0))
  }

  test("declared schema + outstanding delete vectors composes: reads " +
      "apply BOTH, purge carries the column") {
    val s = spark; import s.implicits._
    val root = tmp()
    TableStore.append(mk(1L, 2L, 3L).coalesce(1), root,
      statsCols = Seq("id"))
    TableStore.alterSchema(spark, root, Seq("note" -> StringType), Nil)
    TableStore.append(Seq((4L, 40L, "n4")).toDF("id", "v", "note")
      .coalesce(1), root, statsCols = Seq("id"))
    TableStore.deleteWhereMoR(spark, root, col("id") === 2L)
    def state() = TableStore.read(spark, root).orderBy("id")
      .collect().map(r => (r.getLong(0), Option(r.getString(2)))).toSeq
    // the MoR read applies the vector AND the declared schema
    assert(state() == Seq((1L, None), (3L, None), (4L, Some("n4"))))
    // purge folds the vector back with the column intact
    TableStore.purgeDeletes(spark, root)
    assert(state() == Seq((1L, None), (3L, None), (4L, Some("n4"))))
    // and TRUNCATE works from any state (the escape hatch never
    // refuses): metadata-only even with vectors outstanding
    val root2 = tmp()
    TableStore.append(mk(7L, 8L).coalesce(1), root2,
      statsCols = Seq("id"))
    TableStore.deleteWhereMoR(spark, root2, col("id") === 7L)
    graft.ops.Dml.delete(spark, root2, lit(true))
    assert(TableStore.read(spark, root2).count() == 0L)
  }

  test("compaction over a mixed-schema live set CARRIES the ALTERed " +
      "column's values (the raw-read data-loss regression)") {
    val s = spark; import s.implicits._
    val root = tmp()
    TableStore.append(mk(1L, 2L).coalesce(1), root)           // v1: no note
    TableStore.alterSchema(spark, root, Seq("note" -> StringType), Nil)     // v2
    TableStore.append(Seq((3L, 30L, "keepme")).toDF("id", "v", "note")
      .coalesce(1), root) // v3: carries values
    // a raw mixed read would infer ONE file's shape; if that file is
    // the pre-ALTER one, the compacted rewrite silently drops every
    // "note" value — the declared-schema read must carry it
    TableStore.compact(spark, root, targetBytes = 1L << 30)
    val rows = TableStore.read(spark, root).orderBy("id")
      .collect().map(r => (r.getLong(0), Option(r.getString(2))))
    assert(rows.toSeq ==
      Seq((1L, None), (2L, None), (3L, Some("keepme"))))
  }

  test("DML on an ALTER-evolved store: backfill UPDATE, predicate on " +
      "the new column, values carried through rewrites") {
    val s = spark; import s.implicits._
    val root = tmp()
    TableStore.append(mk(1L, 2L, 3L).coalesce(1), root,
      statsCols = Seq("id")) // v1: no note
    val g = cat("galt2")
    spark.sql(s"ALTER TABLE $g.`$root` ADD COLUMN note STRING")
    spark.sql(s"INSERT INTO $g.`$root` VALUES (4, 40, 'n4')")
    // the backfill shape: UPDATE the new column on pre-ALTER rows —
    // the rewrite reads pre-ALTER files under the declared schema
    spark.sql(s"UPDATE $g.`$root` SET note = concat('b', id) " +
      "WHERE note IS NULL").collect()
    val afterBackfill = spark.sql(
      s"SELECT id, note FROM $g.`$root` ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(afterBackfill == Seq((1L, "b1"), (2L, "b2"), (3L, "b3"),
      (4L, "n4")))
    // DELETE keyed on the new column
    spark.sql(s"DELETE FROM $g.`$root` WHERE note = 'b2'").collect()
    assert(spark.sql(s"SELECT id FROM $g.`$root` ORDER BY id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 3L, 4L))
  }

  test("null-accepting predicates on an ALTER-added column keep the " +
      "files that predate it: SQL reads and DELETE") {
    val s = spark; import s.implicits._
    val root = tmp()
    TableStore.append(mk(1L, 2L).coalesce(1), root) // v1: no note
    TableStore.alterSchema(spark, root, Seq("note" -> StringType), Nil)
    TableStore.append(Seq((3L, 30L, "a"), (4L, 40L, null))
      .toDF("id", "v", "note").coalesce(1), root, bloomCols = Seq("note"))
    val g = cat("galtnull")
    def ids(where: String): Set[Long] =
      spark.sql(s"SELECT id FROM $g.`$root` WHERE $where")
        .collect().map(_.getLong(0)).toSet
    assert(ids("note IS NULL") == Set(1L, 2L, 4L))
    assert(ids("note <=> NULL") == Set(1L, 2L, 4L))
    assert(ids("note = 'a' OR note IS NULL") == Set(1L, 2L, 3L, 4L))
    assert(ids("NOT (note <=> 'a')") == Set(1L, 2L, 4L))
    assert(ids("note IS NULL AND id >= 2") == Set(2L, 4L))
    // a null-rejecting probe still skips the file without the column
    assert(ids("note = 'a'") == Set(3L))
    spark.sql(s"DELETE FROM $g.`$root` WHERE note IS NULL").collect()
    assert(TableStore.read(spark, root).select("id").collect()
      .map(_.getLong(0)).toSet == Set(3L))
  }

  test("ALTER on an anchored-but-empty store (CREATE then ALTER " +
      "before first INSERT)") {
    val root = tmp()
    TableStore.createEmpty(spark, root, StructType(Seq(
      StructField("id", LongType), StructField("v", LongType))))
    assert(TableStore.alterSchema(spark, root, Seq("note" -> StringType), Nil) == 1L)
    val empty = TableStore.read(spark, root)
    assert(empty.schema.fieldNames.toSeq == Seq("id", "v", "note"))
    assert(empty.count() == 0L)
  }

  test("widenColumns: int->bigint is one metadata commit; old files " +
      "up-cast in the reader; out-of-int-range inserts land") {
    val s = spark; import s.implicits._
    val root = tmp()
    // an INT-keyed store (the shape that outgrows its key type)
    TableStore.append(Seq((1, 10L), (2, 20L)).toDF("k", "v")
      .coalesce(1), root, statsCols = Seq("k")) // v1, int k
    val filesBefore = TableStore.liveAt(spark, root, 1L).map(_.path).toSet
    assert(TableStore.alterSchema(spark, root, Nil,
      Seq("k" -> org.apache.spark.sql.types.LongType)) == 2L)
    assert(TableStore.liveAt(spark, root, 2L).map(_.path).toSet ==
      filesBefore, "widening must move zero data")
    val post = TableStore.read(spark, root)
    assert(post.schema("k").dataType ==
      org.apache.spark.sql.types.LongType)
    // a value only BIGINT can hold
    TableStore.append(Seq((5000000000L, 50L)).toDF("k", "v")
      .coalesce(1), root, statsCols = Seq("k")) // v3
    val ks = TableStore.read(spark, root).orderBy("k").select("k")
      .collect().map(_.getLong(0)).toSeq
    assert(ks == Seq(1L, 2L, 5000000000L))
    // time travel: the pre-widen snapshot keeps its own (int) shape
    assert(TableStore.read(spark, root, Some(1L))
      .schema("k").dataType ==
      org.apache.spark.sql.types.IntegerType)
    // log-stats pruning still prunes in the widened type: the probe
    // for the big key must touch only the post-widen file
    val snap = TableStore.snapshotOf(spark, root, Some(3L)).get
    val live = snap.live
    val touched = TableStore.prunedFiles(spark, root, live, snap.declared,
      Seq(org.apache.spark.sql.sources.GreaterThanOrEqual("k", 4000000000L)))
    assert(touched.size == 1, s"stats must prune the int-era file: " +
      s"${touched.map(_.path)}")
  }

  test("widenColumns: float->double and decimal growth; narrowing " +
      "and cross-family changes refuse; unknown column refuses") {
    val s = spark; import s.implicits._
    import org.apache.spark.sql.types._
    val root = tmp()
    TableStore.append(
      Seq((1, 1.5f, BigDecimal("12.34"), 10L),
          (2, 2.5f, BigDecimal("99.99"), 20L))
        .toDF("k", "f", "d", "n")
        .withColumn("d", col("d").cast(DecimalType(6, 2)))
        .coalesce(1), root)
    TableStore.alterSchema(spark, root, Nil, Seq(
      "f" -> DoubleType, "d" -> DecimalType(12, 4)))
    val r = TableStore.read(spark, root).orderBy("k").collect()
    assert(r.map(_.getDouble(1)).toSeq == Seq(1.5, 2.5))
    assert(r.map(_.getDecimal(2).toString).toSeq ==
      Seq("12.3400", "99.9900"))
    val vsBefore = TableStore.versions(spark, root)
    val e1 = intercept[IllegalArgumentException] {
      TableStore.alterSchema(spark, root, Nil, Seq("k" -> ShortType))
    }
    assert(e1.getMessage.contains("value-preserving"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      TableStore.alterSchema(spark, root, Nil, Seq("k" -> StringType))
    }
    assert(e2.getMessage.contains("value-preserving"), e2.getMessage)
    val e3 = intercept[IllegalArgumentException] {
      TableStore.alterSchema(spark, root, Nil, Seq("nope" -> LongType))
    }
    assert(e3.getMessage.contains("unknown column"), e3.getMessage)
    // LONG -> DOUBLE is lossy past 2^53 and must refuse
    val e4 = intercept[IllegalArgumentException] {
      TableStore.alterSchema(spark, root, Nil, Seq("n" -> DoubleType))
    }
    assert(e4.getMessage.contains("value-preserving"), e4.getMessage)
    assert(TableStore.versions(spark, root) == vsBefore,
      "refused widenings must commit nothing")
  }

  test("SQL surface: ALTER TABLE ALTER COLUMN TYPE widens through " +
      "the catalog; DML and the change feed work across the boundary") {
    val s = spark; import s.implicits._
    val root = tmp()
    TableStore.append(Seq((1, 10L), (2, 20L), (3, 30L)).toDF("k", "v")
      .coalesce(1), root, statsCols = Seq("k"))
    val g = cat("galt")
    spark.sql(s"ALTER TABLE $g.`$root` ALTER COLUMN k TYPE BIGINT")
    assert(spark.table(s"$g.`$root`").schema("k").dataType ==
      org.apache.spark.sql.types.LongType)
    spark.sql(s"INSERT INTO $g.`$root` VALUES (8000000000, 80)")
    // DML across the boundary: delete an int-era row by its (now
    // BIGINT) key — the predicate evaluates over up-cast values
    spark.sql(s"DELETE FROM $g.`$root` WHERE k = 2").collect()
    val ks = spark.sql(s"SELECT k FROM $g.`$root` ORDER BY k")
      .collect().map(_.getLong(0)).toSeq
    assert(ks == Seq(1L, 3L, 8000000000L))
    // narrowing refuses on the SQL surface too
    val e = intercept[Exception] {
      spark.sql(s"ALTER TABLE $g.`$root` ALTER COLUMN v TYPE INT")
    }
    // Spark's own CheckAnalysis screens narrowing upstream of the
    // catalog (NOT_SUPPORTED_CHANGE_COLUMN); either refusal is the
    // loud one the contract wants
    assert(e.getMessage.contains("value-preserving") ||
      e.getMessage.contains("NOT_SUPPORTED_CHANGE_COLUMN"), e.getMessage)
    // the change feed resolves across the widen boundary
    val feed = spark.sql(
      s"SELECT _op, COUNT(*) AS n FROM table_changes('$root', 0) " +
        "GROUP BY _op ORDER BY _op").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(feed.nonEmpty, "feed must resolve")
  }
}
