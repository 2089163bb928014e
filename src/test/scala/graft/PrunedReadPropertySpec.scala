package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{And, Expression}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.rng.Seed
import graft.ops.TableStore
import graft.sources.GraftFileIndex

/** Differential check of the store's one file-pruning path. Random
  * stores mix four kinds of commit — with log stats, stat-less, with
  * blooms, and one written before an ALTER added the probed string
  * column — and every typed read with a random probe must return
  * exactly the rows of a full snapshot read under the same residual.
  * Where every live file carries log bounds for the probed columns,
  * the read's `touched` must also equal what the SQL surface's
  * [[GraftFileIndex]] keeps for the same predicate, blooms included:
  * one pruner, two callers. Every frame's schema, which
  * the store resolves on the driver, must equal what Spark infers for
  * the snapshot's live files (merged, once an ALTER declared one),
  * including a snapshot pinned before the ALTER.
  */
class PrunedReadPropertySpec extends SparkSpec {

  private sealed trait Kind
  private case object Stats extends Kind
  private case object Bare extends Kind
  private case object Bloom extends Kind

  /** One commit: its kind, its rows (k, y, s) and its file count. */
  private case class Commit(kind: Kind,
                            rows: Seq[(Option[Long], Long, Option[String])],
                            files: Int)

  /** `preAlter`: the first commit predates column `s`. */
  private case class Shape(preAlter: Boolean, commits: Seq[Commit])

  // keys clustered per commit so the log can prune; `s` follows `k`
  // (prefix "p<k/100>/") so string probes prune too; ~10% nulls
  private val genCommit: Gen[Commit] = for {
    kind <- Gen.oneOf(Stats, Bare, Bloom)
    base <- Gen.choose(0L, 900L)
    n <- Gen.choose(1, 25)
    ks <- Gen.listOfN(n, Gen.choose(base, base + 99))
    nulls <- Gen.listOfN(n, Gen.choose(0, 19))
    ys <- Gen.listOfN(n, Gen.choose(0L, 63L))
    files <- Gen.choose(1, 2)
  } yield Commit(kind, ks.indices.map { i =>
    (if (nulls(i) == 0) None else Some(ks(i)), ys(i),
      if (nulls(i) == 1) None else Some(f"p${ks(i) / 100}/${ks(i)}%04d"))
  }, files)

  private val genShape: Gen[Shape] = Gen.frequency(
    1 -> Gen.listOfN(3, genCommit)
      .map(cs => Shape(preAlter = false, cs.map(_.copy(kind = Stats)))),
    3 -> (for {
      pre <- Gen.oneOf(true, false)
      cs <- Gen.listOfN(4, genCommit)
    } yield Shape(pre, cs)))

  private def build(shape: Shape): String = {
    val s = spark; import s.implicits._
    val root = TempRoots.create("graft_prunedprop") + "/t"
    shape.commits.zipWithIndex.foreach { case (c, i) =>
      val pre = shape.preAlter && i == 0
      val df0 = c.rows.toDF("k", "y", "s")
      val df = (if (pre) df0.drop("s") else df0).repartition(c.files)
      val cols = if (pre) Seq("k", "y") else Seq("k", "y", "s")
      c.kind match {
        case Stats => TableStore.append(df, root, statsCols = cols)
        case Bare => TableStore.append(df, root)
        case Bloom => TableStore.append(df, root,
          bloomCols = cols.filterNot(_ == "y"))
      }
      if (pre) TableStore.addColumn(spark, root, "s", StringType)
    }
    root
  }

  private def rows(df: DataFrame): Seq[String] =
    df.select("k", "y", "s").collect().map(_.toSeq.mkString("|"))
      .toSeq.sorted

  /** Files the native scan's index keeps for `residual`, handed the
    * optimized plan's filter as FileSourceStrategy would (constant
    * folding turns `isin(…, null)`'s cast into a translatable literal). */
  private def indexKeeps(root: String, residual: Column): Int = {
    val cond = TableStore.read(spark, root).where(residual)
      .queryExecution.optimizedPlan.collectFirst {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
          f.condition
      }.get
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    val v = TableStore.versions(spark, root).max
    new GraftFileIndex(spark, root, v).listFiles(Nil, conjuncts(cond))
      .map(_.files.size).sum
  }

  private var indexChecks = 0

  /** What Spark infers for the live files of `root` at `v`: merged
    * across files once an ALTER declared the schema (pre-ALTER files
    * lack the added column), else Spark's plain inference. */
  private def inferred(root: String, v: Long) = {
    val files = TableStore.liveAt(spark, root, v)
      .map(e => TableStore.resolve(root, e.path))
    val merged = TableStore.declaredSchemaAt(spark, root, v).isDefined
    spark.read.option("mergeSchema", merged.toString)
      .parquet(files: _*).schema
  }

  /** One typed read against its reference. */
  private def agree(root: String, name: String,
                    read: (DataFrame, Int, Int), residual: Column,
                    probed: Seq[String]): Unit = {
    val (df, touched, live) = read
    val want = rows(TableStore.read(spark, root).where(residual))
    val got = rows(df)
    assert(got == want, s"$name rows differ")
    assert(touched <= live, s"$name touched $touched of $live")
    val v = TableStore.versions(spark, root).max
    assert(df.schema == inferred(root, v), s"$name schema differs")
    val entries = TableStore.liveAt(spark, root, v)
    val allLogged = entries.forall(e => probed.forall(c =>
      e.mins.contains(c) || e.smins.contains(c)))
    if (allLogged) {
      indexChecks += 1
      val kept = indexKeeps(root, residual)
      assert(touched == kept,
        s"$name touched $touched but the file index keeps $kept")
    }
  }

  // lookups probe two keys the store holds and one random key, so
  // blooms face both hits and misses
  private def genProbe(shape: Shape) = for {
    lo <- Gen.choose(0L, 1000L)
    w <- Gen.choose(0L, 150L)
    ylo <- Gen.choose(0L, 63L)
    yw <- Gen.choose(0L, 20L)
    held <- Gen.listOfN(2, Gen.oneOf(shape.commits.flatMap(_.rows)
      .flatMap(_._1)))
    other <- Gen.choose(0L, 1000L)
    withNull <- Gen.oneOf(true, false)
  } yield (lo, lo + w, ylo, ylo + yw, other +: held, withNull)

  private def str(k: Long) = f"p${k / 100}/$k%04d"

  test("every typed read == full read + residual; touched == the " +
    "file index's count where the log bounds every probed file") {
    val params = SCTest.Parameters.default
      .withMinSuccessfulTests(4)
      .withInitialSeed(Seed(20261017L))
    val shapeAndProbe = for { sh <- genShape; p <- genProbe(sh) } yield (sh, p)
    val prop = Prop.forAllNoShrink(shapeAndProbe) {
      case (shape, (lo, hi, ylo, yhi, keys, withNull)) =>
        val root = build(shape)
        val (slo, shi) = (str(lo), str(hi))
        val prefix = s"p${lo / 100}/"
        val strKeys = keys.map(str) ++ (if (withNull) Seq(null) else Nil)
        agree(root, "readRange",
          TableStore.readRange(spark, root, "k", lo, hi),
          col("k") >= lo && col("k") <= hi, Seq("k"))
        agree(root, "readRangeString",
          TableStore.readRangeString(spark, root, "s", slo, shi),
          col("s") >= lit(slo) && col("s") <= lit(shi), Seq("s"))
        agree(root, "readPrefix",
          TableStore.readPrefix(spark, root, "s", prefix),
          col("s").startsWith(prefix), Seq("s"))
        agree(root, "pointLookup",
          TableStore.pointLookup(spark, root, "k", keys),
          col("k").isin(keys: _*), Seq("k"))
        agree(root, "pointLookupString",
          TableStore.pointLookupString(spark, root, "s", strKeys),
          col("s").isin(strKeys: _*), Seq("s"))
        agree(root, "readBox",
          TableStore.readBox(spark, root, ("k", lo, hi), ("y", ylo, yhi)),
          col("k").between(lo, hi) && col("y").between(ylo, yhi),
          Seq("k", "y"))
        if (shape.preAlter) {
          // version 1 predates the ALTER: its reads resolve from footers
          val before = Seq(TableStore.read(spark, root, Some(1L)),
            TableStore.pointLookup(spark, root, "k", keys, Some(1L))._1,
            TableStore.readRange(spark, root, "k", lo, hi, Some(1L))._1)
          before.foreach(df => assert(df.schema == inferred(root, 1L),
            "pre-ALTER snapshot schema differs"))
        }
        true
    }
    val res = SCTest.check(params, prop)
    assert(res.passed, s"pruned reads failed: $res")
    assert(indexChecks > 0, "no store let the file-index check run")
  }
}
