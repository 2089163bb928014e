package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-order (Morton) layout clustering for multi-dimensional data
  * skipping — a beyond-reference scale extension (SURVEY.md §7.5).
  *
  * At 100 TB the scan you never run is the cheapest: parquet readers
  * prune whole files from footer min/max stats, but a file layout
  * sorted on ONE column makes every OTHER column's min/max span the
  * full domain — a two-column probe still touches every file. Bit-
  * interleaving the (normalized) dimensions into one z-value and
  * clustering files by z bounds EVERY interleaved dimension per file,
  * so multi-dimensional probes prune (the same reason lakehouse
  * OPTIMIZE clusters by space-filling curves).
  *
  * Everything here is exact integer arithmetic — shifts, masks and
  * integer division only — so the skipping evidence is bit-identical
  * cross-engine (the same design rule as the milli-proportion drift
  * signal and the integer-micros interval family: no float in a
  * cross-engine contract).
  *
  * Scale shape: [[zValue]] is a pure per-row codegen expression (no
  * shuffle); [[writeZOrdered]] is one range Exchange on the z-key —
  * the sanctioned layout-write pattern (sampled range boundaries +
  * in-partition sort), NOT a global sort into one partition; the
  * skipping-evidence math ([[fileOf]] + per-file min/max aggregate)
  * is a per-row expression plus one hash aggregate.
  */
object Layout {

  /** N-dimensional Morton interleave of the low `bits` bits of each
    * column: bit i of dimension j (j = 0 is the MAJOR dimension)
    * lands at z-bit `i·D + (D−1−j)`. Out-of-range inputs raise rather
    * than silently alias distant rows into one cell (the
    * TrainingExport in-expression-assert precedent: a pruned guard is
    * no guard). `D·bits ≤ 62` keeps the z inside a signed long.
    */
  def zValueN(cols: Seq[Column], bits: Int): Column = {
    val d = cols.length
    require(d >= 2, s"zValueN needs at least 2 dimensions: $d")
    require(bits >= 1 && d * bits <= 62,
      s"zValueN needs 1 <= bits and dims*bits <= 62: $d * $bits")
    val lim = 1L << bits
    // ONE guard term OR'd into the result, not a per-dim wrapper: the
    // original form wrapped every dimension in when/raise_error and
    // each of the d·bits interleave terms referenced its wrapped dim,
    // so the guard predicate re-evaluated per TERM (codegen cannot
    // CSE across raise_error) — measured 10× on the cell-map join in
    // q_hilbert_skipping (6.2→0.6 s at sf0.1). Here the raw shifts
    // read the columns directly (cheap), and the single guard is
    // evaluated once per row; being part of the value expression it
    // still cannot be pruned away, and a bad/null input raises before
    // any result is observable (BitwiseOr evaluates both children).
    val bad = cols.map(c => c.isNull || c < 0 || c >= lim).reduce(_ || _)
    val guard = when(bad, raise_error(concat(
        lit(s"zValueN: dim outside [0, $lim): ("),
        concat_ws(", ", cols.map(_.cast("string")): _*), lit(")"))))
      .otherwise(lit(0L))
    val raw = (for {
      i <- 0 until bits
      (c, j) <- cols.zipWithIndex
    } yield shiftleft(shiftright(c, i).bitwiseAND(lit(1L)),
      i * d + (d - 1 - j)))
      .reduce(_.bitwiseOR(_))
    // guard on the LEFT: BitwiseOr never evaluates its right child
    // when the left is null, so `raw | guard` would return null on a
    // null dimension instead of raising — guard-first evaluates the
    // (null-safe) predicate before raw can short-circuit anything
    guard.bitwiseOR(raw)
  }

  /** Two-dimensional form: bit i of `a` lands at z-bit 2i+1, bit i of
    * `b` at 2i (`a` is the major dimension). */
  def zValue(a: Column, b: Column, bits: Int): Column =
    zValueN(Seq(a, b), bits)

  /** Normalize a value in [0, maxV] onto the dense [0, 2^bits) grid:
    * `v * 2^bits div (maxV+1)`. Interleaving RAW values with unequal
    * ranges wastes the curve (the wider dimension's high bits dominate
    * every split); normalizing first gives each dimension equal say in
    * the file boundaries. Exact: v ≤ maxV ⇒ result < 2^bits.
    *
    * Floor division spelled `(x - x mod d) / d`: the Column `/` is
    * DOUBLE division, and `floor(x / d)` can land one off when the
    * true quotient sits just under an integer — but here the dividend
    * is exactly divisible, so the correctly-rounded IEEE quotient IS
    * the integer (x < 2^52 by the headroom require below).
    */
  def normalize(v: Column, maxV: Long, bits: Int): Column = {
    require(bits >= 1 && bits <= 20, s"normalize bits must be in [1,20]: $bits")
    require(maxV >= 0, s"normalize maxV must be >= 0: $maxV")
    require(maxV <= (1L << (52 - bits)) - 2,
      s"normalize maxV too large for exact-division headroom: $maxV")
    val num = shiftleft(v, bits)
    val d = lit(maxV + 1)
    ((num - num % d) / d).cast("long")
  }

  /** File id = top `fileBits` bits of a `totalBits`-wide key: equal
    * key-RANGE files (the footer-stats model), a pure per-row shift —
    * no global rank, no sampled boundaries, deterministic cross-engine.
    */
  def fileOf(key: Column, totalBits: Int, fileBits: Int): Column = {
    require(fileBits >= 1 && fileBits < totalBits,
      s"fileOf needs 1 <= fileBits < totalBits: $fileBits / $totalBits")
    shiftright(key, totalBits - fileBits)
  }

  /** Production layout write: cluster parquet files by the N-dim z.
    * One range Exchange (sampled boundaries) + in-partition sort +
    * write — the plan a lakehouse OPTIMIZE-by-curve runs; never a
    * single-partition global sort. Files then carry tight min/max on
    * every interleaved dimension. `zCols` are already-normalized grid
    * coordinates (see [[normalize]]); the first is the major dimension.
    */
  def writeZOrderedN(df: DataFrame, path: String, zCols: Seq[String],
                     bits: Int, numFiles: Int): Unit = {
    require(numFiles >= 1, s"numFiles must be >= 1: $numFiles")
    df.withColumn("_z", zValueN(zCols.map(col), bits))
      .repartitionByRange(numFiles, col("_z"))
      .sortWithinPartitions("_z")
      .drop("_z")
      .write.mode("overwrite").parquet(path)
  }

  /** Two-dimensional [[writeZOrderedN]], kept for the common case. */
  def writeZOrdered(df: DataFrame, path: String, aCol: String, bCol: String,
                    bits: Int, numFiles: Int): Unit =
    writeZOrderedN(df, path, Seq(aCol, bCol), bits, numFiles)

  /** 2-D Hilbert-curve key of two already-normalized grid coordinates
    * (see [[graft.functions.HilbertIndex]] for why Hilbert beside
    * Morton: seam-continuity keeps equal-range files compact, so box
    * probes touch fewer of them). A pure per-row codegen expression,
    * like [[zValueN]]. */
  def hilbertValue(a: Column, b: Column, bits: Int): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(graft.functions.HilbertIndex(
      Bridge.expression(a.cast("long")),
      Bridge.expression(b.cast("long")), bits))
  }

  /** Production layout write clustered by the Hilbert key — the same
    * one-range-Exchange shape as [[writeZOrderedN]], different curve. */
  def writeHilbert(df: DataFrame, path: String, aCol: String, bCol: String,
                   bits: Int, numFiles: Int): Unit = {
    require(numFiles >= 1, s"numFiles must be >= 1: $numFiles")
    df.withColumn("_h", hilbertValue(col(aCol), col(bCol), bits))
      .repartitionByRange(numFiles, col("_h"))
      .sortWithinPartitions("_h")
      .drop("_h")
      .write.mode("overwrite").parquet(path)
  }

  /** Exact minimal Hilbert-range cover of an axis-aligned box — the
    * READ side of [[writeHilbert]]: a reader probing `x ∈ [loX,hiX],
    * y ∈ [loY,hiY]` against a curve-clustered layout wants the curve
    * POSITIONS the box occupies, as few contiguous ranges as
    * possible, so the probe becomes `key BETWEEN lo AND hi OR …`
    * ([[coverPredicate]]) and file/row-group pruning works off the
    * single clustered column's min/max stats.
    *
    * Algorithm: dyadic quadrant descent. An aligned 2^k-square is a
    * CONTIGUOUS aligned 4^k-block of curve positions (the curve fills
    * quadrants depth-first), and its block start is any member cell's
    * index with the low 2k bits cleared — so disjoint quadrants are
    * skipped, contained quadrants emit their whole block in O(1)
    * (one [[graft.functions.HilbertIndex.compute]] call), and only
    * boundary quadrants split further: O(perimeter·bits) work,
    * driver-side planning math like the IVF codebook — never a data
    * scan. Adjacent emitted blocks merge, so the result is exactly
    * the gaps-and-islands of the box's curve positions (the
    * uniqueness LayoutSpec and the q_hilbert_cover oracle both lean
    * on: the oracle rebuilds the islands by brute force and the two
    * derivations must agree range-for-range). */
  def hilbertCover(loX: Long, hiX: Long, loY: Long, hiY: Long,
                   bits: Int): Seq[(Long, Long)] =
    curveCover(graft.functions.HilbertIndex.compute,
      loX, hiX, loY, hiY, bits)

  /** Morton twin of [[hilbertCover]] — the same quadrant descent
    * applies verbatim (an aligned 2^k-square is a contiguous aligned
    * 4^k block on EITHER curve; only boundary behaviour differs), so
    * the two covers are directly comparable: across the
    * q_curve_cover_compare probe family Hilbert needs 922 ranges
    * where Morton needs 1798 — seam-continuity halving the pushdown
    * predicate a reader ships. */
  def mortonCover(loX: Long, hiX: Long, loY: Long, hiY: Long,
                  bits: Int): Seq[(Long, Long)] =
    curveCover(mortonIndex, loX, hiX, loY, hiY, bits)

  /** Driver-side Morton index (the [[zValue]] arithmetic as plain
    * Scala, for cover planning). */
  def mortonIndex(x: Long, y: Long, bits: Int): Long = {
    var z = 0L
    var i = 0
    while (i < bits) {
      z |= (((x >> i) & 1L) << (2 * i + 1)) | (((y >> i) & 1L) << (2 * i))
      i += 1
    }
    z
  }

  private def curveCover(cellIndex: (Long, Long, Int) => Long,
                         loX: Long, hiX: Long, loY: Long, hiY: Long,
                         bits: Int): Seq[(Long, Long)] = {
    val lim = 1L << bits
    require(0 <= loX && loX <= hiX && hiX < lim &&
      0 <= loY && loY <= hiY && hiY < lim,
      s"box [$loX,$hiX]x[$loY,$hiY] outside [0, $lim)^2 or inverted")
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    def rec(qx: Long, qy: Long, k: Int): Unit = {
      val size = 1L << k
      val (x1, y1) = (qx + size - 1, qy + size - 1)
      if (qx > hiX || x1 < loX || qy > hiY || y1 < loY) ()
      else if (qx >= loX && x1 <= hiX && qy >= loY && y1 <= hiY) {
        val cells = 1L << (2 * k)
        val d = cellIndex(qx, qy, bits) & ~(cells - 1)
        out += ((d, d + cells - 1))
      } else {
        val h = size >> 1
        rec(qx, qy, k - 1); rec(qx + h, qy, k - 1)
        rec(qx, qy + h, k - 1); rec(qx + h, qy + h, k - 1)
      }
    }
    rec(0, 0, bits)
    val sorted = out.sortBy(_._1)
    val merged = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    sorted.foreach { case (lo, hi) =>
      merged.lastOption match {
        case Some((plo, phi)) if lo <= phi + 1 =>
          merged(merged.length - 1) = (plo, math.max(phi, hi))
        case _ => merged += ((lo, hi))
      }
    }
    merged.toSeq
  }

  /** Push a range cover into a scan: `key BETWEEN lo AND hi OR …`.
    * Plain comparisons on the clustered column, so parquet row-group
    * min/max stats prune every range the file doesn't intersect. */
  def coverPredicate(key: Column, ranges: Seq[(Long, Long)]): Column = {
    require(ranges.nonEmpty, "empty cover: the box contains no cells")
    ranges.map { case (lo, hi) => key >= lit(lo) && key <= lit(hi) }
      .reduce(_ || _)
  }

  /** Binary-search form of [[coverPredicate]] for PROJECTED probe
    * flags ([[graft.functions.InSortedRanges]]): ~log₂(ranges)
    * comparisons per row instead of ~2·ranges, with the cover held as
    * one reference array outside the generated code. Use this when
    * the cover is evaluated, not pushed down — a batched multi-probe
    * scan projecting one flag per probe; keep [[coverPredicate]] for
    * filters, where the BETWEEN disjunction is what parquet min/max
    * pruning understands. Identical semantics (LayoutSpec pins the
    * two forms equal cell-for-cell over the full grid). */
  def coverPredicateCompiled(key: Column,
                             ranges: Seq[(Long, Long)]): Column = {
    require(ranges.nonEmpty, "empty cover: the box contains no cells")
    org.apache.spark.sql.graftbridge.Bridge.column(
      graft.functions.InSortedRanges(
        org.apache.spark.sql.graftbridge.Bridge.expression(key),
        ranges.flatMap { case (lo, hi) => Seq(lo, hi) }))
  }

  final case class ReclusterReport(groups: Int, kept: Int,
                                   rewritten: Int)

  /** Incremental OPTIMIZE for a key-clustered layer: appends since
    * the last clustered write break the files-are-disjoint-ranges
    * property that makes min/max pruning sharp, but re-clustering the
    * WHOLE layer (the [[TableStore.optimizeLayout]] posture)
    * re-encodes mostly-fine files. This repairs selectively: plan from
    * the footer manifest ([[FooterStats.manifest]] — metadata only),
    * merge files into overlap groups, rewrite ONLY groups of ≥2
    * overlapping files (range-partitioned + sorted, same file count),
    * byte-copy the already-disjoint rest, and publish with the crash-safe
    * double-rename swap ([[graft.ops.Upsert.atomicOverwrite]]'s
    * protocol): readers never observe a half-reclustered layer and a
    * crash is recovered by the next maintenance call. Re-running on a
    * clean layer rewrites nothing (idempotent no-op, rewritten = 0,
    * and the layer is left untouched entirely).
    *
    * Scale note: the byte-copy of kept files is the
    * directory-as-layer cost of atomic publish; a table format with
    * a manifest layer moves pointers instead — the SELECTION logic
    * (overlap groups from footer stats) is unchanged there. */
  def recluster(spark: org.apache.spark.sql.SparkSession, path: String,
                keyCol: String): ReclusterReport = {
    import org.apache.hadoop.fs.Path
    Upsert.recoverCrashedSwap(spark, path)
    val m = FooterStats.manifest(spark, path, Seq(keyCol)).collect()
      .map(r => (r.getAs[String]("file"),
        r.getAs[Long](s"min_$keyCol"), r.getAs[Long](s"max_$keyCol")))
      .sortBy(_._2)
    // overlap-merge into groups: a file joins the open group while its
    // min does not clear the group's running max
    val groups = scala.collection.mutable.ArrayBuffer
      .empty[scala.collection.mutable.ArrayBuffer[(String, Long, Long)]]
    m.foreach { f =>
      groups.lastOption match {
        case Some(g) if f._2 <= g.map(_._3).max =>
          g += f
        case _ =>
          groups += scala.collection.mutable.ArrayBuffer(f)
      }
    }
    val kept = groups.count(_.length == 1)
    val rewritten = groups.filter(_.length > 1).map(_.length).sum
    if (rewritten == 0)
      return ReclusterReport(groups.length, kept, 0)
    val conf = spark.sparkContext.hadoopConfiguration
    val target = new Path(path)
    val fs = target.getFileSystem(conf)
    val tmp = new Path(path + ".__tmp__")
    val old = new Path(path + ".__old__")
    fs.delete(tmp, true); fs.delete(old, true)
    fs.mkdirs(tmp)
    groups.foreach { g =>
      if (g.length == 1)
        org.apache.hadoop.fs.FileUtil.copy(fs,
          new Path(target, g.head._1), fs, new Path(tmp, g.head._1),
          false, conf)
      else
        spark.read
          .parquet(g.map(f => s"$path/${f._1}").toSeq: _*)
          .repartitionByRange(g.length, org.apache.spark.sql.functions
            .col(keyCol))
          .sortWithinPartitions(keyCol)
          .write.mode("append").parquet(tmp.toString)
    }
    if (!fs.rename(target, old))
      throw new java.io.IOException(s"cannot stage old $path")
    if (!fs.rename(tmp, target)) {
      fs.rename(old, target)
      throw new java.io.IOException(s"cannot publish $path")
    }
    fs.delete(old, true)
    ReclusterReport(groups.length, kept, rewritten)
  }

  /** DuckDB mirror of [[hilbertValue]]: the per-level quadrant walk
    * unrolled as one chained CTE per bit level (state = (hx, hy, hd);
    * each level adds its quadrant's s² offset and applies the
    * flip-within-the-full-grid + swap rotation — exactly
    * [[graft.functions.HilbertIndex.compute]]). Returns the CTE text
    * (to splice after a source CTE exposing `xExpr`/`yExpr` and the
    * `carry` columns) and the final CTE's name; the Hilbert distance
    * is its `hd` column. */
  def hilbertLevelsSql(src: String, xExpr: String, yExpr: String,
                       carry: Seq[String], bits: Int,
                       prefix: String = "h"): (String, String) = {
    require(bits >= 1 && 2 * bits <= 62, s"2*bits must fit a long: $bits")
    val lim = 1L << bits
    val carrySel = carry.map(c => s"$c, ").mkString
    val levels = (bits - 1) to 0 by -1
    val ctes = s"""${prefix}0 AS (
        SELECT $carrySel$xExpr AS hx, $yExpr AS hy,
               CAST(0 AS BIGINT) AS hd
        FROM $src)""" +:
      levels.zipWithIndex.map { case (level, i) =>
        val s = 1L << level
        s"""${prefix}${i + 1} AS (
        SELECT $carrySel
               hd + ${s * s} * xor(
                 3 * (CASE WHEN (hx & $s) > 0 THEN 1 ELSE 0 END),
                 CASE WHEN (hy & $s) > 0 THEN 1 ELSE 0 END) AS hd,
               CASE WHEN (hy & $s) > 0 THEN hx
                    WHEN (hx & $s) > 0 THEN ${lim - 1} - hy
                    ELSE hy END AS hx,
               CASE WHEN (hy & $s) > 0 THEN hy
                    WHEN (hx & $s) > 0 THEN ${lim - 1} - hx
                    ELSE hx END AS hy
        FROM $prefix$i)"""
      }
    (ctes.mkString(",\n      "), s"$prefix$bits")
  }
}
