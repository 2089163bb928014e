package graft

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThanOrEqual}
import org.apache.spark.sql.types.StringType
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.ops.{Dml, TableStore}
import graft.ops.TableStore.{Change, Screen}

/** Seeded race differential of the store's one commit
  * ([[TableStore.commit]]). Each seed builds a store of id-range appends
  * (with log stats, with blooms, or neither) and one merge-on-read
  * delete, then stages op A at that base as a [[Change]], WITHOUT
  * committing: a layout rewrite of a random subset of the live files,
  * a range delete of the files holding a matching row (under its range
  * filters, and under `Rows(Nil)`), and a plain append. Racer B then
  * commits through the public API, and each A commits after it on its
  * own copy of the store. A must either refuse, leaving B's table, or
  * leave the table that the serial order B then A produces — A's
  * public op run on another copy after B — as a multiset of rows.
  *
  * The liveness list names the pairs that must commit, so a screen
  * that refuses everything fails: a layout rewrite past a disjoint
  * append, a range delete past an append its filters refute (log or
  * footer bounds), and an append past every racer but `addConstraint`.
  */
class StoreRaceSpec extends SparkSpec {

  private sealed trait Kind
  private case object Stats extends Kind
  private case object Bloom extends Kind
  private case object Bare extends Kind

  private val genKind: Gen[Kind] = Gen.oneOf(Stats, Bloom, Bare)

  /** Ids [lo, lo + n) in `files` files, written as `kind`. */
  private case class Slice(lo: Long, n: Int, kind: Kind, files: Int) {
    def hi: Long = lo + n - 1
  }

  /** The base store: one append per slice, then a merge-on-read delete
    * of the ids divisible by 3 in `mor`, inside the first slice.
    * `del` is A's delete range, mostly in that vectored slice;
    * `layoutPick` draws A's layout subset; `negative` makes A's append
    * carry a row `addConstraint` refuses. */
  private case class Shape(slices: Seq[Slice], mor: (Long, Long),
                           del: (Long, Long), layoutPick: Long,
                           negative: Boolean, racer: Racer)

  /** Racer B: a public op and its parameters. A `restore` mostly
    * targets the last append, so it removes nothing and re-adds every
    * vectored file, shedding its vector. */
  private case class Racer(op: String, lo: Long, hi: Long, kind: Kind,
                           toVersion: Int)

  private val Ops = Seq("append", "appendBatch", "merge", "Dml.delete",
    "deleteWhereMoR", "compact", "compactSmall", "purgeDeletes",
    "overwrite", "restore", "alterSchema", "addConstraint")

  private def genShape(op: String): Gen[Shape] = for {
    k <- Gen.choose(3, 6)
    slices <- Gen.sequence[Seq[Slice], Slice]((0 until k).map(i => for {
      n <- Gen.choose(10, 40)
      kind <- genKind
      files <- Gen.choose(1, 2)
    } yield Slice(i * 100L, n, kind, files)))
    morLo <- Gen.choose(0L, slices.head.hi - 6)
    morW <- Gen.choose(5L, slices.head.hi - morLo)
    delSlice <- Gen.frequency(3 -> Gen.const(slices.head),
      1 -> Gen.oneOf(slices))
    delLo <- Gen.choose(delSlice.lo, delSlice.hi - 2)
    delW <- Gen.choose(2L, 15L)
    pick <- Gen.choose(0L, Long.MaxValue)
    negative <- Gen.oneOf(true, false)
    rLo <- Gen.choose(0L, (k - 1) * 100L + 30L)
    rW <- Gen.choose(0L, 60L)
    kind <- genKind
    to <- Gen.frequency(2 -> Gen.const(k), 1 -> Gen.choose(1, k))
  } yield Shape(slices, (morLo, morLo + morW),
    (delLo, math.min(delLo + delW, delSlice.hi)), pick, negative,
    Racer(op, rLo, rLo + rW, kind, to))

  private def rowsOf(ids: Seq[Long], v: Long => Long): DataFrame = {
    val s = spark; import s.implicits._
    ids.map(i => (i, v(i))).toDF("id", "v")
  }

  private def write(df: DataFrame, root: String, kind: Kind): Long =
    kind match {
      case Stats => TableStore.append(df, root, statsCols = Seq("id"))
      case Bloom => TableStore.append(df, root, bloomCols = Seq("id"))
      case Bare => TableStore.append(df, root)
    }

  private def build(shape: Shape, root: String): Unit = {
    shape.slices.foreach { sl =>
      write(rowsOf(sl.lo to sl.hi, _ * 10L).repartition(sl.files), root,
        sl.kind)
    }
    val (lo, hi) = shape.mor
    TableStore.deleteWhereMoR(spark, root,
      col("id").between(lo, hi) && col("id") % 3 === 0)
  }

  /** The table's rows, a sorted multiset over its columns by name. */
  private def rows(root: String): Seq[String] = {
    val df = TableStore.read(spark, root)
    df.select(df.columns.sorted.map(col): _*).collect()
      .map(_.mkString("|")).toSeq.sorted
  }

  private def copy(root: String, to: String): String = {
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(FileUtil.copy(fs, new Path(root), fs, new Path(to), false,
      spark.sparkContext.hadoopConfiguration))
    to
  }

  /** A's append rows: fresh ids, one of them negative-`v` if asked. */
  private def appendRows(shape: Shape): DataFrame =
    rowsOf(5000L until 5005L,
      i => if (shape.negative && i == 5000L) -1L else i)

  /** Op A staged at `root`'s latest version: (name, change, the public
    * op that runs A serially). */
  private def stage(shape: Shape, root: String)
      : (Long, Seq[(String, Change, String => Unit)]) = {
    val snap = TableStore.snapshotOf(spark, root).get
    val n = snap.version + 1
    def scan(files: Seq[TableStore.FileEntry]) =
      TableStore.scanFiles(spark, root, Some(snap), snap.declared, files)
    // a random subset, always holding a vectored file when there is
    // one: the folded-vector case the Layout screen exists for
    val rnd = new scala.util.Random(shape.layoutPick)
    val (vectored, clean) = snap.live.partition(snap.vectored)
    val subset = rnd.shuffle(vectored).take(1) ++
      (rnd.shuffle(vectored).drop(1) ++ clean).filter(_ => rnd.nextBoolean())
    val layout = Change(
      TableStore.writeData(scan(subset).repartition(1), root, n, Seq("id")),
      subset.map(_.path), Some("layout"), screen = Screen.Layout)
    val (lo, hi) = shape.del
    val filters = Seq(GreaterThanOrEqual("id", lo), LessThanOrEqual("id", hi))
    val inRange = col("id").between(lo, hi)
    val candidates = TableStore.prunedFiles(spark, root, snap.live,
      snap.declared, filters)
    val hit = scan(candidates).where(inRange)
      .select(element_at(split(col("_metadata.file_path"), "/"), -1))
      .distinct().collect().map(_.getString(0)).toSet
    val touched = candidates.filter(e => hit(e.path.split('/').last))
    assert(touched.nonEmpty, s"the delete range [$lo, $hi] holds no row")
    val rowsChange = Change(
      TableStore.writeData(scan(touched).where(!inRange), root, n, Seq("id")),
      touched.map(_.path), Some("rewrite"), screen = Screen.Rows(filters))
    val append = Change(TableStore.writeData(appendRows(shape), root, n, Nil),
      Nil, screen = Screen.Append)
    val delete: String => Unit = r => Dml.delete(spark, r, inRange)
    (n, Seq(
      ("layout", layout,
        (r: String) => { TableStore.compact(spark, r, 1L << 30); () }),
      ("rows", rowsChange, delete),
      ("rowsNil", rowsChange.copy(screen = Screen.Rows(Nil)), delete),
      ("append", append,
        (r: String) => { TableStore.append(appendRows(shape), r); () })))
  }

  /** Racer B, committed through the public API. */
  private def race(b: Racer, root: String): Unit = {
    val fresh = 3000L to 3000L + (b.hi - b.lo) % 20
    b.op match {
      case "append" => write(rowsOf(fresh, _ * 10L).coalesce(1), root, b.kind)
      case "appendBatch" =>
        TableStore.appendBatch(rowsOf(fresh, _ * 10L), root, batchId = 42L)
      case "merge" =>
        TableStore.merge(rowsOf((b.lo to b.hi) ++ fresh.map(_ + 200L),
          _ => 99L), root, "id")
      case "Dml.delete" => Dml.delete(spark, root, col("id").between(b.lo, b.hi))
      case "deleteWhereMoR" =>
        TableStore.deleteWhereMoR(spark, root, col("id").between(b.lo, b.hi))
      case "compact" => TableStore.compact(spark, root, 1L << 30)
      case "compactSmall" =>
        TableStore.compactSmall(spark, root, 1L << 30, 1L << 30)
      case "purgeDeletes" => TableStore.purgeDeletes(spark, root)
      case "overwrite" =>
        TableStore.overwrite(rowsOf(fresh.map(_ + 1000L), _ * 10L), root)
      case "restore" => TableStore.restore(spark, root, b.toVersion.toLong)
      case "alterSchema" =>
        TableStore.alterSchema(spark, root, Seq("note" -> StringType), Nil)
      case "addConstraint" =>
        TableStore.addConstraint(spark, root, "v_pos", "v >= 0")
    }
  }

  /** The pairs that must commit: a screen refusing them is too strict. */
  private def mustCommit(a: String, b: String): Boolean = a match {
    case "layout" | "rows" => b == "append" || b == "appendBatch"
    case "append" => b != "addConstraint"
    case _ => false
  }

  test("each staged op either refuses, leaving the racer's table, or " +
      "commits the serial order racer then op") {
    // one seed per racer; the restore seed re-adds a vectored file that
    // A's layout subset and delete both hold, the race a re-add-blind
    // screen gets wrong
    val outcomes = Ops.indices.flatMap { i =>
      val shape = genShape(Ops(i))
        .pureApply(Gen.Parameters.default, Seed(20264022L + i))
      val base = TempRoots.create("graft_storerace")
      val root = s"$base/t"
      build(shape, root)
      val (n, staged) = stage(shape, root)
      race(shape.racer, root)
      val raced = rows(root)
      staged.zipWithIndex.map { case ((a, change, serialOp), j) =>
        val pair = s"seed $i: $a after ${shape.racer}"
        val serialRoot = copy(root, s"$base/serial$j")
        val serial =
          try { serialOp(serialRoot); rows(serialRoot) }
          catch { case _: IllegalArgumentException => raced } // A refused
        val mine = copy(root, s"$base/a$j")
        val committed =
          try Some(TableStore.commit(spark, mine, n, change))
          catch { case _: java.util.ConcurrentModificationException => None }
        val (want, why) =
          if (committed.isEmpty) (raced, "refused but moved the table")
          else (serial, "committed a non-serial table")
        val got = rows(mine)
        if (got != want)
          fail(s"$pair $why: lacks ${want.diff(got).take(5)}, " +
            s"has extra ${got.diff(want).take(5)}")
        assert(committed.nonEmpty || !mustCommit(a, shape.racer.op),
          s"$pair must commit")
        committed.nonEmpty
      }
    }
    assert(outcomes.contains(true) && outcomes.contains(false),
      "the differential saw only one outcome")
  }
}
