package graft.sources

import org.apache.spark.sql.sources._

import graft.ops.TableStore
import graft.ops.TableStore.FileEntry

/** The bounds predicate of the versioned store's file pruning: from
  * a file's [min, max] bounds alone, can it hold a row satisfying a
  * `sources.Filter`? Every store read prunes through
  * [[TableStore.prunedFiles]], which asks it first of the commit log's
  * bounds (zero IO) and then of one row group's footer bounds handed
  * in as a [[FileEntry]]; [[TableStore.readWhere]], the SQL file index, the
  * DSv2 fallback scan, the DML planner and the commit-race screen all
  * reach it there.
  *
  * Soundness contract: `mayContain` returns false ONLY when the
  * bounds PROVE no row matches — unknown filter shapes, columns
  * without bounds, and null-related predicates (no null counts are
  * kept) all answer true. Truncated string bounds (the log's 64-char
  * cap) only ever WIDEN a file's range, so every comparison stays
  * conservative. The caller always re-applies the filter to the rows
  * it scans, so a too-wide answer costs IO, never correctness.
  */
object StatsSkipping {

  private def asLong(v: Any): Option[Long] = v match {
    case i: java.lang.Integer => Some(i.longValue)
    case l: java.lang.Long    => Some(l.longValue)
    case s: java.lang.Short   => Some(s.longValue)
    case b: java.lang.Byte    => Some(b.longValue)
    case _                    => None
  }

  private def asString(v: Any): Option[String] = v match {
    case s: String => Some(s)
    case u: org.apache.spark.unsafe.types.UTF8String => Some(u.toString)
    case _ => None
  }

  import TableStore.strLe

  // per-file bound tests; None bounds (column not in the entry's
  // bounds) always answer true — pruning needs proof, absence isn't it
  private def longOverlap(e: FileEntry, col: String,
                          lo: Option[Long], hi: Option[Long]): Boolean =
    (e.mins.get(col), e.maxs.get(col)) match {
      case (Some(mn), Some(mx)) =>
        lo.forall(l => mx >= l) && hi.forall(h => mn <= h)
      case _ => true
    }

  private def strOverlap(e: FileEntry, col: String,
                         lo: Option[String], hi: Option[String]): Boolean =
    (e.smins.get(col), e.smaxs.get(col)) match {
      case (Some(mn), Some(mx)) =>
        lo.forall(l => strLe(l, mx)) && hi.forall(h => strLe(mn, h))
      case _ => true
    }

  // strict variants: max > v / min < v (exact for the long maps; the
  // string maps are truncated, so strict degrades to non-strict there
  // — truncation widened the bound, and widening must stay sound)
  private def longGt(e: FileEntry, col: String, v: Long): Boolean =
    e.maxs.get(col).forall(_ > v)
  private def longLt(e: FileEntry, col: String, v: Long): Boolean =
    e.mins.get(col).forall(_ < v)

  /** Exclusive upper bound for "starts with `prefix`": bump the
    * rightmost ASCII char below 0x7f and drop the tail — every string
    * with the prefix sorts strictly below it. None when the prefix
    * has no such char: the probe then has no finite upper bound and
    * prunes on the lower side only (still sound). */
  private def prefixSuccessor(prefix: String): Option[String] = {
    val i = prefix.lastIndexWhere(c => c < 0x7f)
    if (i < 0) None
    else Some(prefix.substring(0, i) + (prefix.charAt(i) + 1).toChar)
  }

  /** Can `e` possibly hold a row satisfying `f`? Conservative. */
  def mayContain(e: FileEntry, f: Filter): Boolean = f match {
    case And(l, r) => mayContain(e, l) && mayContain(e, r)
    case Or(l, r)  => mayContain(e, l) || mayContain(e, r)
    case EqualTo(a, v) => eqTest(e, a, v)
    case EqualNullSafe(a, v) if v != null => eqTest(e, a, v)
    case In(a, vs) =>
      // null elements never equal anything; an all-null or unknown-
      // typed list can't prune
      val known = vs.filter(_ != null)
      known.isEmpty || known.exists(v => eqTest(e, a, v))
    case GreaterThan(a, v) =>
      asLong(v).map(longGt(e, a, _))
        .orElse(asString(v).map(s => strOverlap(e, a, Some(s), None)))
        .getOrElse(true)
    case GreaterThanOrEqual(a, v) =>
      asLong(v).map(l => longOverlap(e, a, Some(l), None))
        .orElse(asString(v).map(s => strOverlap(e, a, Some(s), None)))
        .getOrElse(true)
    case LessThan(a, v) =>
      asLong(v).map(longLt(e, a, _))
        .orElse(asString(v).map(s => strOverlap(e, a, None, Some(s))))
        .getOrElse(true)
    case LessThanOrEqual(a, v) =>
      asLong(v).map(l => longOverlap(e, a, None, Some(l)))
        .orElse(asString(v).map(s => strOverlap(e, a, None, Some(s))))
        .getOrElse(true)
    case StringStartsWith(a, p) if p.nonEmpty =>
      // [p, successor(p)): the prefix window; a successor-less
      // prefix (all chars >= 0x7f) prunes on the lower side only
      strOverlap(e, a, Some(p), prefixSuccessor(p))
    case _ => true // IsNull/IsNotNull/Not/unknown: no null counts, no proof
  }

  private def eqTest(e: FileEntry, a: String, v: Any): Boolean =
    asLong(v).map(l => longOverlap(e, a, Some(l), Some(l)))
      .orElse(asString(v).map(s => strOverlap(e, a, Some(s), Some(s))))
      .getOrElse(true)

  /** Is `f` false or null for a row with a null in ANY column it
    * reads? Only such filters may prune a row group lacking one of
    * those columns (an ALTER-added column reads as null there). IS
    * NULL, `<=>` NULL, NOT and an OR of different columns are not;
    * an unknown shape answers false. */
  private[graft] def rejectsNulls(f: Filter): Boolean = f match {
    case And(l, r) => rejectsNulls(l) && rejectsNulls(r)
    case Or(l, r) => rejectsNulls(l) && rejectsNulls(r) &&
      l.references.toSet == r.references.toSet
    case EqualNullSafe(_, v) => v != null
    case _: EqualTo | _: In | _: GreaterThan | _: GreaterThanOrEqual |
         _: LessThan | _: LessThanOrEqual | _: StringStartsWith |
         _: StringEndsWith | _: StringContains | _: IsNotNull => true
    case _ => false
  }
}
