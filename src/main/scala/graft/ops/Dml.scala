package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

import TableStore.{Change, FileEntry, Screen}

/** Row-level DML over the versioned store with AUTOMATIC pruning —
  * the engine behind `DELETE FROM` / `UPDATE` / `MERGE INTO` on the
  * SQL surface (graft.sources.GraftDml*), a first-class API in its
  * own right, and the one copy-on-write [[rewrite]] behind the
  * store's keyed upserts ([[TableStore.merge]], `applyChanges`,
  * `mergeBatch`) and `replaceWhere`. These ops derive the candidate
  * file set from the predicate ITSELF: the condition is translated to
  * `sources.Filter`s (Spark's own translation) and handed to
  * [[TableStore.prunedFiles]] — the same pruner every read path runs:
  * log bounds, then footer bounds and bloom probes. The reference
  * mutates its warehouse through exactly these statements: the
  * correction loop's IN-subquery delete + re-insert
  * (dags/Reprocessing.py:117-126), the silver dup-delete whose
  * predicate self-references the table through a GROUP BY … HAVING
  * subquery (dags/DataWarehouse.py:531-540), and the staging
  * dedup-against-bronze delete (dags/DataWarehouse.py:666-673) —
  * all three run verbatim on the SQL surface
  * ([[graft.sources.GraftDmlRule]] routes uncorrelated subquery
  * predicates here; q_sql_delete_subquery gates the shapes).
  *
  * Every op is ONE commit with three proportionality levels:
  *
  *  1. prune: files whose logged or footer bounds, or blooms, PROVE
  *     no row can match are never read (metadata-sized);
  *  2. exact discovery: one column-pruned scan of the survivors finds
  *     the files that actually HOLD an affected row — a false
  *     candidate costs a scan, never a rewrite;
  *  3. only those files are rewritten; at 100 TB a keyed DELETE or
  *     UPDATE touches the files the layout localizes the key to,
  *     never the table.
  *
  * Levels 2 and 3 run in [[rewrite]] for every op; each op supplies
  * its level-1 candidates and its row transforms.
  *
  * Determinism contract: predicates and assignment values must be
  * deterministic — discovery and rewrite evaluate them in separate
  * jobs, and a `rand()` that "matched" in discovery could keep
  * different rows in the rewrite (callers on the SQL path are
  * screened by [[graft.sources.GraftDmlRule]]; API callers own it).
  * Merge-on-read delete vectors compose: every scan here applies
  * them ([[TableStore.scanFiles]]), so discovery sees only visible
  * rows and a rewritten file's vectors leave the log with it.
  *
  * Three-valued logic: a row is affected only when the predicate is
  * DEFINITELY true; NULL keeps the row (SQL's own WHERE semantics). */
object Dml {

  /** The subquery-correlation anchor: every frame a DML predicate is
    * evaluated against is wrapped in `alias(TargetAlias)`, and the SQL
    * path rebinds a correlated subquery's `OuterReference`s to
    * attributes QUALIFIED by this name
    * ([[graft.sources.GraftDmlExecHelpers.rebind]]). Analysis of the
    * op's fresh Filter then resolves `__graft_target.col` ONLY
    * against the outer scan (the inner plan has no such qualifier),
    * re-discovering the correlation exactly where the original
    * statement had it. Unqualified predicates resolve through the
    * alias unchanged, so API callers never see it. */
  private[graft] val TargetAlias = "__graft_target"

  /** Stats columns every [[rewrite]] re-declares on top of the
    * caller's: every column any live file carries logged bounds for —
    * so a rewrite never silently degrades the table's future pruning.
    * (Blooms are carried from the touched files' footers, see
    * [[rewrite]].) */
  private def carriedStatsCols(live: Seq[FileEntry]): Seq[String] =
    live.flatMap(e => e.mins.keySet ++ e.maxs.keySet ++
      e.smins.keySet ++ e.smaxs.keySet).distinct.sorted

  /** Split a conjunction into its factors (And-tree flatten). */
  private def conjuncts(
      e: org.apache.spark.sql.catalyst.expressions.Expression)
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] =
    e match {
      case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
        conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }

  /** The predicate's NECESSARY conditions as `sources.Filter`s:
    * analyze `pred` against the snapshot's schema and translate each
    * conjunct (Spark's own translation; untranslatable conjuncts —
    * subqueries, modulo arithmetic — contribute nothing, which is
    * conservative in both uses). Because the full predicate implies
    * every conjunct, a file these filters REFUTE cannot hold a
    * matching row — sound for the candidate prune AND for the
    * commit-race serializability screen. */
  private[graft] def predicateFilters(snapshot: DataFrame, pred: Column)
      : Seq[org.apache.spark.sql.sources.Filter] =
    snapshot.alias(TargetAlias).where(pred).queryExecution.analyzed.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
        conjuncts(f.condition)
    }.flatten.flatMap(Bridge.translateFilter)

  /** The commit-race screen for a predicate: its translated necessary
    * conditions — UNLESS the predicate carries a subquery, where the
    * empty set (= refuse on ANY concurrent add) is the only sound
    * screen. The per-ROW refutation argument does not extend to
    * subqueries: `WHERE k < 100 AND c IN (SELECT c FROM t WHERE
    * k > 500)` has necessary condition k < 100, but a concurrent
    * append of k=600 rows — refuted per-row — still changes the
    * SUBQUERY's result set, so serial execution could delete
    * different k<100 rows. */
  private def screenFilters(snapshot: DataFrame, pred: Column,
                            filters: Seq[org.apache.spark.sql.sources.Filter])
      : Seq[org.apache.spark.sql.sources.Filter] =
    if (hasSubquery(pred)) Seq.empty else filters

  /** Does `df`'s plan read the target store itself? The merge
    * commit-race screen must then refuse on any concurrent add for
    * the same reason subquery predicates do: a refuted-per-row add
    * still changes what a SELF-READING source computes, so serial
    * execution could merge different rows. Detects the two shapes a
    * store read takes on this engine (the V2 relation and the
    * rewritten GraftFileIndex scan); an API caller reading the target
    * through bare parquet paths owns the race, as documented. */
  private def readsStore(df: DataFrame, root: String): Boolean = {
    // FS-qualified comparison with a '/'-boundary (the toEntries
    // strictness): a bare startsWith would (a) let a prefix-sharing
    // SIBLING store (/wh/t vs /wh/t2) spuriously void the key-span
    // screen, and (b) miss a scheme-qualified spelling of the SAME
    // root (file:/wh/t vs /wh/t), leaving the span screen in force
    // for a genuinely self-reading source — unsound in that spelling.
    val conf = df.sparkSession.sparkContext.hadoopConfiguration
    def qualify(p: org.apache.hadoop.fs.Path): String =
      p.getFileSystem(conf).makeQualified(p).toString
    val rootQ = qualify(new org.apache.hadoop.fs.Path(root))
    def underRoot(p: org.apache.hadoop.fs.Path): Boolean = {
      val q = qualify(p)
      q == rootQ || q.startsWith(rootQ + "/")
    }
    // collectWithSubqueries: a target read nested in a subquery of
    // the source counts too
    df.queryExecution.analyzed.collectWithSubqueries {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
          if r.table.isInstanceOf[graft.sources.GraftStoreTable] &&
            underRoot(new org.apache.hadoop.fs.Path(
              r.table.asInstanceOf[graft.sources.GraftStoreTable].root)) => ()
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation
          if lr.relation.isInstanceOf[
              org.apache.spark.sql.execution.datasources.HadoopFsRelation] &&
            lr.relation.asInstanceOf[
                org.apache.spark.sql.execution.datasources.HadoopFsRelation]
              .location.rootPaths.exists(underRoot) => ()
    }.nonEmpty
  }

  /** Refuse a nondeterministic predicate (`pred`) or assignment
    * values (`cols`): discovery and rewrite evaluate them in separate
    * jobs. The predicate is analyzed through a FILTER, the only
    * position IN/EXISTS subqueries are plannable in. */
  private def requireDeterministic(snapshot: DataFrame, what: String,
                                   pred: Column, cols: Column*): Unit = {
    val e = snapshot.alias(TargetAlias).where(pred).select(cols: _*)
      .queryExecution.analyzed.collect { case p => p.expressions }.flatten
    require(e.forall(_.deterministic),
      s"$what must be deterministic — discovery and rewrite evaluate " +
        "it in separate jobs, and a nondeterministic match set would " +
        "tear between them")
  }

  /** Does a (possibly still name-bound) predicate carry a subquery?
    * Decides which rewrite shape the op takes — subquery predicates
    * must stay in Filter position end to end. Read from the whole
    * column tree ([[Bridge.expressionTree]]): `col(k).isin(ds)` hides
    * its subquery from a lazy top node. */
  private def hasSubquery(pred: Column): Boolean =
    org.apache.spark.sql.catalyst.expressions.SubqueryExpression
      .hasSubquery(Bridge.expressionTree(pred))

  /** Size-gated driver materialization of uncorrelated single-column
    * `IN (subquery)` predicates — the adaptive-strategy posture
    * (broadcast joins, the components union-find) applied to DML.
    * Left as a live subquery, an IN-predicate DELETE/UPDATE executes
    * the subquery TWICE (the discovery scan plans it as an existence
    * join, then the rewrite scan re-plans the same join) and the
    * predicate contributes NOTHING to file pruning (a join is opaque
    * to `sources.Filter` translation). Evaluated ONCE here and spliced
    * back as a literal `In`, both passes run a plain row filter with
    * identical three-valued-logic semantics (all values kept,
    * including nulls; an empty result folds to FALSE — SQL's
    * `x IN (∅)`), and the translated `sources.In` engages the log-
    * stats prune, so a keyed correction-loop delete touches the files
    * holding its keys instead of scanning the table.
    *
    * Gated on the subquery's INPUT bytes (leaf plan statistics, the
    * broadcast-threshold discipline; `inputBytesBound`, 64 MB) so a
    * subquery over a 100 TB table is never executed speculatively,
    * plus a hard cap on the collected distinct values as the
    * driver-safety net (`valuesBound`, 131,072); over either
    * bound — or correlated, or multi-column — the predicate and both
    * plans stay exactly as they were. The COMMIT-RACE screen keeps
    * judging the ORIGINAL predicate: materialization pins the
    * subquery's result to this snapshot, but a concurrent add could
    * still have changed that result under serial execution, so the
    * refuse-on-any-add screen stands ([[screenFilters]]). */
  private[graft] def materializeInSubqueries(spark: SparkSession,
      pred: Column, inputBytesBound: Long = 64L << 20,
      valuesBound: Int = 1 << 17): Column = {
    import org.apache.spark.sql.catalyst.expressions.{In, InSubquery,
      ListQuery, Literal}
    // the whole column tree: `col(k).isin(ds)` and a Column `!` over
    // an analyzed IN-subquery only show their InSubquery there
    val e = Bridge.expressionTree(pred)
    if (!org.apache.spark.sql.catalyst.expressions.SubqueryExpression
        .hasSubquery(e)) return pred
    val out = e.transform {
      case in @ InSubquery(values, lq: ListQuery)
          if values.size == 1 && lq.plan.output.size == 1 &&
            lq.outerAttrs.isEmpty && lq.joinCond.isEmpty &&
            lq.plan.stats.sizeInBytes <= inputBytesBound =>
        val rows = Bridge.dataFrame(spark, lq.plan)
          .distinct().limit(valuesBound + 1).collect()
        if (rows.length > valuesBound) in
        else if (rows.isEmpty) Literal.FalseLiteral
        else In(values.head, rows.toSeq.map(r =>
          Literal.create(r.get(0), lq.plan.output.head.dataType)))
    }
    Bridge.column(out)
  }

  /** Is the predicate a constant TRUE — the unconditional
    * delete/truncate? SQL-parsed conditions arrive as a raw Catalyst
    * `Literal.TrueLiteral`; API literals (`lit(true)`, the
    * TRUNCATE TABLE path) arrive as Spark 4's LAZY column-node
    * wrapper, which a naive equality never matches — normalize those
    * through a trivial row-free analysis and fold. A predicate that
    * references columns fails that analysis and is (correctly) not
    * unconditional. */
  private def isUnconditional(spark: SparkSession, pred: Column): Boolean = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, Literal}
    // a subquery predicate is never unconditional — and, critically,
    // it must NOT reach the throwaway row-free analysis below: a
    // FAILED analysis of the shared expression tree marks its inner
    // plan nodes rule-ineffective (Spark's rule-ID pruning state
    // lives ON the TreeNode and survives across analyses), which
    // would silently disable resolution of a correlated subquery's
    // rebound outer references in the op's REAL analyses afterwards
    if (hasSubquery(pred)) return false
    if (Bridge.expression(pred) == Literal.TrueLiteral) return true
    try {
      val e = spark.range(1).select(pred.cast("boolean"))
        .queryExecution.analyzed.expressions.head match {
        case a: Alias => a.child
        case o => o
      }
      e.foldable && e.eval() == true
    } catch { case _: org.apache.spark.sql.AnalysisException => false }
  }

  /** URI file paths (from `_metadata.file_path`) back to the log's
    * entries. Matching requires a path-separator
    * boundary — `resolve(root, p)` always joins with '/', so a bare
    * suffix match could attribute a scanned URI to the WRONG entry
    * (a prefix-sharing part name), removing one file from the log
    * while rewriting another's rows: silent row loss. Exactly one
    * candidate must claim each URI; zero or several is a broken
    * invariant and fails loudly. */
  private def toEntries(uris: Seq[String], root: String,
                        candidates: Seq[FileEntry]): Seq[FileEntry] = {
    // FS-qualified EXACT matching: resolve each candidate entry to its
    // full path (relative entries join under root; absolute entries —
    // shallow-clone references into another store's data dir — pass
    // through) and require the scanned URI to equal it after
    // qualification. Strictly stronger than the old '/'-boundary
    // suffix match, and the only sound rule once entries can be
    // absolute. Two entries qualifying to the same path is a broken
    // invariant and fails loudly, as does an unclaimed URI.
    val conf = org.apache.spark.sql.SparkSession.active
      .sparkContext.hadoopConfiguration
    def qualify(p: String): String = {
      val hp = new org.apache.hadoop.fs.Path(p)
      hp.getFileSystem(conf).makeQualified(hp).toString
    }
    val byQualified = new scala.collection.mutable.HashMap[String, FileEntry]()
    candidates.foreach { e =>
      val q = qualify(TableStore.resolve(root, e.path))
      byQualified.put(q, e).foreach { prior =>
        throw new IllegalStateException(
          s"log entries ${prior.path} and ${e.path} of $root resolve " +
            s"to the same file $q — ambiguous attribution")
      }
    }
    uris.map { u =>
      byQualified.getOrElse(qualify(u), throw new IllegalStateException(
        s"scanned file $u is not a candidate of $root"))
    }
  }

  /** The frame a row-level op analyzes its predicate against and
    * rewrites under: every live file scanned under the declared
    * schema, else under the live files' footer schemas MERGED (one
    * memoized footer per live file) — a column only some files carry
    * (appended without an ALTER) resolves in a predicate and is
    * carried through a rewrite, never dropped with the first file's
    * shape. A snapshot with no live files reads as [[TableStore.read]]
    * does. */
  private[graft] def frameOf(spark: SparkSession, root: String,
                             snap: Option[TableStore.Snapshot]): DataFrame =
    snap.filter(_.live.nonEmpty) match {
      case Some(s) => TableStore.scanFiles(spark, root, Some(s),
        Some(TableStore.scanSchema(spark, root, s.declared, s.live,
          mergeAll = true)), s.live)
      case None => TableStore.readSnapshot(spark, root, snap)
    }

  /** The store's one scan ([[TableStore.scanFiles]]) of candidate
    * files under the snapshot's EFFECTIVE schema: the snapshot frame's
    * own schema is declared-aware ([[TableStore.read]]), so on an
    * ALTER-evolved store pre-ALTER files null-fill the added column
    * inside the reader — a DML predicate can reference it, and a
    * rewrite of these rows CARRIES it instead of silently dropping the
    * values. Aliased so a correlated subquery's rebound outer
    * references (`TargetAlias.col`) resolve against THIS scan —
    * transparent to unqualified predicates and to the merge join
    * (plain columns resolve through a SubqueryAlias unchanged). The
    * scan hides vectored rows and keeps `_metadata` resolvable. */
  private def target(spark: SparkSession, snap: TableStore.Snapshot,
                     snapshot: DataFrame,
                     entries: Seq[FileEntry]): DataFrame =
    TableStore.scanFiles(spark, snap.root, Some(snap),
      Some(snapshot.schema), entries, Some(TargetAlias))

  /** The one row-level rewrite — levels 2 and 3 of the discovery
    * contract (see the object doc), the write, the constraint check
    * and the commit — behind [[delete]], [[update]], [[merge]] and the
    * store's keyed upserts and `replaceWhere`:
    *  - `hits` maps the scan of the level-1 `candidates` to one column
    *    of `_metadata.file_path`s, one per changed row; [[toEntries]]
    *    attributes the distinct paths exactly;
    *  - `rewritten` maps the scan of those files to their rows after
    *    the op: NEW content when `rewrittenIsNew` (an assignment may
    *    have changed them), else survivors, which already passed the
    *    table's constraints;
    *  - `fresh` rows and survivors land in ONE write on a store with
    *    no constraints; a constrained one writes and checks the new
    *    content (plus `staged`, new files the caller already wrote)
    *    first, then writes the survivors;
    *  - files declare the caller's `statsCols` plus the stats the log
    *    carries for live files, and the caller's `bloomCols` plus the
    *    blooms the touched files' footers carry;
    *  - the change commits through [[TableStore.commit]] under
    *    `screen`: [[TableStore.Screen.Exclusive]] (a lost race is
    *    loud) or [[TableStore.Screen.Rows]] (it rebases past racers
    *    the predicate's filters prove disjoint).
    * Nothing touched and nothing written commits nothing and returns
    * the snapshot's version; else the committed version. */
  private[graft] def rewrite(spark: SparkSession, root: String,
      snap: Option[TableStore.Snapshot], snapshot: DataFrame,
      candidates: Seq[FileEntry], hits: DataFrame => DataFrame,
      rewritten: DataFrame => DataFrame, rewrittenIsNew: Boolean,
      fresh: Option[DataFrame],
      screen: Screen,
      statsCols: Seq[String] = Nil, bloomCols: Seq[String] = Nil,
      staged: Seq[FileEntry] = Nil, batchId: Option[Long] = None): Long = {
    val prev = snap.fold(0L)(_.version)
    val live = snap.fold(Seq.empty[FileEntry])(_.live)
    // (Measured-and-rejected, r15: overlapping discovery with the
    // new-content write on a two-thread pool made every DML gate
    // SLOWER — concurrent Catalyst planning on the driver contends
    // worse than the ~2 small jobs it hides; sequential stands.)
    val touched =
      if (candidates.isEmpty) Seq.empty[FileEntry]
      else toEntries(hits(target(spark, snap.get, snapshot, candidates))
        .distinct().collect().map(_.getString(0)).toSeq, // bounded by file count
        root, candidates)
    val changed =
      if (touched.isEmpty) None
      else Some(rewritten(target(spark, snap.get, snapshot, touched)))
    val (news, kept) =
      if (rewrittenIsNew) (fresh.toSeq ++ changed, Nil)
      else (fresh.toSeq, changed.toSeq)
    val n = prev + 1
    val stats = (statsCols ++ carriedStatsCols(live)).distinct
    val blooms =
      (bloomCols ++ TableStore.bloomColsOf(spark, root, touched)).distinct
    def write(dfs: Seq[DataFrame]): Seq[FileEntry] =
      dfs.reduceOption(_ unionByName _)
        .fold(Seq.empty[FileEntry])(TableStore.writeData(_, root, n, stats,
          blooms))
    val adds =
      if (snap.forall(_.constraints.isEmpty)) write(news ++ kept)
      else {
        val newAdds = write(news)
        TableStore.enforceConstraints(spark, snap, staged ++ newAdds)
        newAdds ++ write(kept)
      }
    if (touched.isEmpty && staged.isEmpty && adds.isEmpty) return prev
    // a rewrite that touched nothing is a pure append: no rewrite
    // marker, so an adds-only change feed stays consumable across it
    val marker = if (touched.isEmpty) None else Some("rewrite")
    TableStore.commit(spark, root, n, Change(staged ++ adds,
      touched.map(_.path), marker, batchId, screen = screen)).get
  }

  /** The DELETE execution mode knob the SQL surface reads:
    * `SET spark.graft.dml.deleteMode = mor` switches [[delete]] from
    * copy-on-write rewrites to MERGE-ON-READ delete vectors — a
    * one-row delete then costs a KB-sized vector commit instead of a
    * file rewrite (the right-to-be-forgotten shape at 100 TB), at the
    * price of an anti-join on every scan of the vectored files until
    * `CALL purge_deletes` (the ops that answer from files alone
    * refuse until then, see `TableStore.deleteWhereMoR`).
    * Unconditional deletes stay metadata-only in both modes. */
  val DeleteModeKey = "spark.graft.dml.deleteMode"

  /** `DELETE FROM store WHERE pred` — copy-on-write, one commit,
    * auto-pruned. An unconditional delete (`pred` is a true literal)
    * is METADATA-ONLY: every live file is removed from the log with
    * zero data IO — truncating a 100 TB table costs one log write.
    * Returns the committed version, or the current latest when no
    * row matches (a provable no-op commits nothing). */
  def delete(spark: SparkSession, root: String, pred: Column): Long =
    delete(spark, root, pred, materializeInSubqueries(spark, _))

  /** [[delete]] with the IN-subquery step as a parameter, so a test
    * can force either branch of [[materializeInSubqueries]]' gate. */
  private[graft] def delete(spark: SparkSession, root: String, pred: Column,
                            materialize: Column => Column): Long = {
    val snap = TableStore.snapshotOf(spark, root) match {
      case Some(s) => s
      case None => return 0L // anchored-but-empty store: typed no-op
    }
    val (prev, live) = (snap.version, snap.live)
    if (live.isEmpty) return prev
    // unconditional delete: no scan can change the answer — remove
    // every live file as one metadata commit (truncation is O(log));
    // the removed files take their vectors with them
    if (isUnconditional(spark, pred)) {
      // truncation rebases past metadata-only racers; the empty
      // filter set refuses on any concurrent ADD (a truncate's
      // predicate matches everything — serial order would decide
      // whether the appended rows survive)
      return TableStore.commit(spark, root, prev + 1, Change(Nil,
        live.map(_.path), Some("rewrite"),
        screen = Screen.Rows(Nil))).get
    }
    val mor = spark.conf.get(DeleteModeKey, "cow")
      .equalsIgnoreCase("mor")
    val snapshot = frameOf(spark, root, Some(snap))
    requireDeterministic(snapshot, "a DELETE predicate", pred)
    // one driver-side subquery evaluation serves BOTH passes below
    // (and unlocks the stats prune); no-op unless a small uncorrelated
    // IN-subquery is present — see materializeInSubqueries
    val predM = materialize(pred)
    val filters = predicateFilters(snapshot, predM)
    val candidates = TableStore.prunedFiles(spark, root, live,
      Some(snapshot.schema), filters)
    if (candidates.isEmpty) return prev
    if (mor)
      // merge-on-read: vector the matching rows of the pruned
      // candidates; data files stay byte-identical (the KB-sized
      // right-to-be-forgotten commit — purge_deletes folds later)
      return TableStore.deleteMoRTouched(spark, snap, predM, candidates)
    val matched = coalesce(predM, lit(false))
    // kept rows are survivors: nothing new to validate. A lost version
    // race rebases when the racer is provably disjoint (pure appends
    // the predicate's filters refute) — the streaming-sink coexistence
    // contract layout rewrites already have.
    rewrite(spark, root, Some(snap), snapshot, candidates,
      hits = _.where(matched).select(col("_metadata.file_path")),
      rewritten = _.where(!matched), rewrittenIsNew = false,
      fresh = None,
      screen = Screen.Rows(screenFilters(snapshot, pred, filters)))
  }

  /** `UPDATE store SET c = v, … WHERE pred` — copy-on-write, one
    * commit, auto-pruned. All assignments evaluate against the
    * ORIGINAL row (simultaneous-assignment SQL semantics: `SET a = b,
    * b = a` swaps). Values are cast to the column's declared type.
    * CHECK constraints re-validate the rewritten files before the
    * commit — an UPDATE cannot smuggle a violation in. Returns the
    * committed version, or the latest when nothing matches. */
  def update(spark: SparkSession, root: String,
             set: Seq[(String, Column)],
             pred: Option[Column] = None): Long =
    update(spark, root, set, pred, materializeInSubqueries(spark, _))

  /** [[update]] with the IN-subquery step as a parameter (see the
    * [[delete]] twin). */
  private[graft] def update(spark: SparkSession, root: String,
                            set: Seq[(String, Column)], pred: Option[Column],
                            materialize: Column => Column): Long = {
    require(set.nonEmpty, "UPDATE needs at least one assignment")
    val snap = TableStore.snapshotOf(spark, root) match {
      case Some(s) => s
      case None => return 0L // anchored-but-empty store: typed no-op
    }
    val (prev, live) = (snap.version, snap.live)
    if (live.isEmpty) return prev
    val snapshot = frameOf(spark, root, Some(snap))
    val fields = snapshot.schema.fields.map(f => f.name -> f).toMap
    set.foreach { case (c, _) =>
      require(fields.contains(c),
        s"UPDATE assigns unknown column $c — table has " +
          s"[${snapshot.columns.mkString(",")}]") }
    require(set.map(_._1).distinct.size == set.size,
      "UPDATE assigns a column twice")
    // (an anchored-but-empty store exits at live.isEmpty above)
    val cond0 = pred.getOrElse(lit(true))
    requireDeterministic(snapshot, "an UPDATE predicate or assignment",
      cond0, set.map(_._2): _*)
    // one driver-side subquery evaluation serves discovery AND the
    // rewrite (which then also takes the single-scan CASE shape);
    // no-op unless a small uncorrelated IN-subquery is present
    val cond = materialize(cond0)
    // unconditional update: empty filters (touches everything, and
    // the commit-race screen must refuse on any concurrent add)
    val filters = pred.map(_ => predicateFilters(snapshot, cond))
      .getOrElse(Seq.empty)
    val candidates = pred match {
      case Some(_) => TableStore.prunedFiles(spark, root, live,
        Some(snapshot.schema), filters)
      case None => live // unconditional update touches everything
    }
    if (candidates.isEmpty) return prev
    val matched = coalesce(cond, lit(false))
    val assigned = set.toMap
    // assignments evaluate against the ORIGINAL row in both shapes
    // (simultaneous-assignment semantics: a select's projections all
    // read the input row). The single-scan CASE shape needs the
    // predicate in a PROJECTION, where IN/EXISTS subqueries are not
    // plannable — a subquery predicate takes the two-Filter shape
    // instead (matched rows with assignments ∪ unmatched rows as-is;
    // same touched files, one extra scan of only those files).
    val applied = snapshot.columns.toIndexedSeq.map { c =>
      assigned.get(c).map(_.cast(fields(c).dataType).as(c))
        .getOrElse(col(c))
    }
    def rewritten(t: DataFrame): DataFrame =
      if (hasSubquery(cond))
        t.where(matched).select(applied: _*)
          .unionByName(t.where(!matched)
            .select(snapshot.columns.toIndexedSeq.map(col): _*))
      else t.select(snapshot.columns.toIndexedSeq.map { c =>
        assigned.get(c) match {
          case Some(v) =>
            when(matched, v.cast(fields(c).dataType)).otherwise(col(c)).as(c)
          case None => col(c)
        }
      }: _*)
    // updated rows are NEW content, re-validated against constraints;
    // the race screen judges the ORIGINAL predicate: a materialized
    // subquery's result could still change under serial execution
    rewrite(spark, root, Some(snap), snapshot, candidates,
      hits = _.where(matched).select(col("_metadata.file_path")),
      rewritten = rewritten, rewrittenIsNew = true, fresh = None,
      screen = Screen.Rows(screenFilters(snapshot, cond0, filters)))
  }

  /** One WHEN MATCHED clause: `set = None` is DELETE, `Some(…)` is
    * UPDATE with those assignments (over target AND source columns). */
  final case class WhenMatched(cond: Option[Column],
                               set: Option[Seq[(String, Column)]])

  /** One WHEN NOT MATCHED clause: INSERT with per-target-column
    * values (over source columns). */
  final case class WhenNotMatched(cond: Option[Column],
                                  values: Seq[(String, Column)])

  /** One WHEN NOT MATCHED BY SOURCE clause: `set = None` is DELETE,
    * `Some(…)` is UPDATE (over target columns only — no source row
    * exists). */
  final case class WhenNotMatchedBySource(cond: Option[Column],
                                          set: Option[Seq[(String, Column)]])

  /** `MERGE INTO store USING source ON …` — the full SQL merge as ONE
    * proportional commit. `on` must embed at least the
    * `targetKey = sourceKey` equality (the discovery key); arbitrary
    * residual conditions ride along. Clauses apply FIRST-TRUE-WINS in
    * declaration order (the SQL standard); a target row matching
    * multiple SOURCE rows is a cardinality violation and fails loudly
    * (the nondeterministic-merge guard every lakehouse engine ships).
    *
    * Source column names must be disjoint from the target's — the SQL
    * layer guarantees this by renaming; API callers own it.
    *
    * Proportionality: candidates come from the log-stats prune on the
    * source's key span ([min, max] of `sourceKey`, one agg job) —
    * UNLESS a not-matched-by-source clause is present, which by
    * definition must examine every target row, so candidates = all
    * live files (the cost is the semantics, not the engine). Exact
    * discovery then rewrites only files holding a row an action
    * actually changes. */
  def merge(spark: SparkSession, root: String, source: DataFrame,
            on: Column, targetKey: String, sourceKey: Column,
            matched: Seq[WhenMatched] = Nil,
            notMatched: Seq[WhenNotMatched] = Nil,
            notMatchedBySource: Seq[WhenNotMatchedBySource] = Nil): Long = {
    require(matched.nonEmpty || notMatched.nonEmpty ||
      notMatchedBySource.nonEmpty, "MERGE with no clauses is a no-op " +
      "by construction — refuse loudly instead of committing nothing")
    // an anchored-but-empty store still merges: nothing matches, the
    // NOT MATCHED inserts land as the first real commit
    val snap = TableStore.snapshotOf(spark, root)
    val snapshot = frameOf(spark, root, snap)
    val tCols = snapshot.columns.toIndexedSeq
    require(tCols.contains(targetKey),
      s"merge key $targetKey is not a column of $root [${tCols.mkString(",")}]")
    val overlap = source.columns.toSet.intersect(tCols.toSet)
    require(overlap.isEmpty,
      s"merge source column names must be disjoint from the target's " +
        s"(rename the source side): shared [${overlap.mkString(",")}]")
    // the rewrite plumbing rides on __graft_* working columns; a
    // table or source that already carries one of those names would
    // be silently clobbered by withColumn and the rewrite would emit
    // corrupted values — refuse loudly (the posture everywhere else)
    val working = Set("__graft_src_present", "__graft_file",
      "__graft_rid", "__graft_act", "__graft_iact")
    val clash = (tCols ++ source.columns).filter(working.contains)
    require(clash.isEmpty,
      s"merge target/source columns collide with the rewrite's " +
        s"internal working set [${clash.mkString(",")}] — rename them")
    val fields = snapshot.schema.fields.map(f => f.name -> f).toMap
    (matched.flatMap(_.set).flatten ++ notMatched.flatMap(_.values) ++
      notMatchedBySource.flatMap(_.set).flatten).foreach { case (c, _) =>
      require(fields.contains(c),
        s"merge assigns unknown target column $c") }
    notMatched.foreach { nm =>
      val missing = tCols.filterNot(nm.values.map(_._1).contains)
      require(missing.isEmpty,
        s"WHEN NOT MATCHED INSERT must provide every target column — " +
          s"missing [${missing.mkString(",")}]")
    }

    // the source is read up to three times (discovery, rewrite,
    // insert anti-join) — persist it for the op's duration so a
    // re-computed source can't tear the passes apart (the source is
    // batch-sized by assumption; the TABLE is what's 100 TB)
    source.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try mergeBody(spark, root, source, on, targetKey, sourceKey,
      matched, notMatched, notMatchedBySource, snap, snapshot,
      tCols, fields)
    finally source.unpersist()
  }

  private def mergeBody(spark: SparkSession, root: String,
                        source: DataFrame, on: Column, targetKey: String,
                        sourceKey: Column, matched: Seq[WhenMatched],
                        notMatched: Seq[WhenNotMatched],
                        notMatchedBySource: Seq[WhenNotMatchedBySource],
                        snap: Option[TableStore.Snapshot],
                        snapshot: DataFrame,
                        tCols: IndexedSeq[String],
                        fields: Map[String, org.apache.spark.sql.types.StructField]): Long = {
    val live = snap.fold(Seq.empty[FileEntry])(_.live)
    // the source's key span as filters — drives BOTH the candidate
    // prune and the commit-race serializability screen (a concurrent
    // add the span refutes cannot change any clause's match set).
    // Empty when NMBS is present (every target row participates — no
    // concurrent add is ever safe) or when the source has no non-null
    // keys (nothing can equi-match; conservative for the screen).
    val spanFilters: Seq[org.apache.spark.sql.sources.Filter] =
      if (notMatchedBySource.nonEmpty) Seq.empty
      else {
        val span = source.agg(min(sourceKey), max(sourceKey)).collect()(0)
        if (span.isNullAt(0)) Seq.empty
        else {
          import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThanOrEqual}
          Seq(GreaterThanOrEqual(targetKey, span.get(0)),
            LessThanOrEqual(targetKey, span.get(1)))
        }
      }
    // candidate files: key-span prune, unless NMBS forces a full look
    val candidates: Seq[FileEntry] =
      if (notMatchedBySource.nonEmpty) live
      else if (live.isEmpty || spanFilters.isEmpty) Seq.empty
      else TableStore.prunedFiles(spark, root, live, Some(snapshot.schema),
        spanFilters)

    val srcPresent = col("__graft_src_present")
    val src = source.withColumn("__graft_src_present", lit(true))

    // the matched / not-matched split: LEFT join of a target scan
    // against the source under the FULL on-condition
    def joined(t: DataFrame): DataFrame =
      t.withColumn("__graft_file", col("_metadata.file_path"))
        .withColumn("__graft_rid", col("_metadata.row_index"))
        .join(src, on, "left")

    // first-true-wins action index over a joined row; actions encode
    // as: -1 keep, 0..n-1 matched clause i, 100+i NMBS clause i
    def actionCol(): Column = {
      val chain = matched.zipWithIndex.map { case (wm, i) =>
        (srcPresent.isNotNull && coalesce(wm.cond.getOrElse(lit(true)),
          lit(false)), lit(i)) } ++
        notMatchedBySource.zipWithIndex.map { case (wn, i) =>
          (srcPresent.isNull && coalesce(wn.cond.getOrElse(lit(true)),
            lit(false)), lit(100 + i)) }
      chain.reverse.foldLeft(lit(-1): Column) { case (els, (cond, v)) =>
        when(cond, v).otherwise(els)
      }
    }

    // exact discovery covers files holding a row some clause CHANGES;
    // the cardinality guard (>1 source rows matching one target row)
    // runs first. Both only matter when a clause can touch target rows
    // at all — an insert-only merge rewrites nothing, and a
    // multi-matched target row is then unambiguous (it just isn't
    // inserted), so the SQL standard allows it there.
    val rowClauses = matched.nonEmpty || notMatchedBySource.nonEmpty
    val cardinalityBad = candidates.nonEmpty && matched.nonEmpty &&
      joined(target(spark, snap.get, snapshot, candidates))
        .where(srcPresent.isNotNull)
        .groupBy(col("__graft_file"), col("__graft_rid"))
        .count().where(col("count") > 1).limit(1).collect().nonEmpty
    require(!cardinalityBad,
      s"MERGE cardinality violation at $root: a target row matches " +
        "more than one source row under WHEN MATCHED clauses — the " +
        "outcome would depend on row order; de-duplicate the source " +
        "on the merge key")

    // rewrite pass: only the touched files, clause actions applied
    def rewritten(t: DataFrame): DataFrame = {
      val act = actionCol().as("__graft_act")
      val deleteActs =
        matched.zipWithIndex.collect { case (wm, i) if wm.set.isEmpty => i } ++
          notMatchedBySource.zipWithIndex.collect {
            case (wn, i) if wn.set.isEmpty => 100 + i }
      val updateActs: Seq[(Int, Map[String, Column])] =
        matched.zipWithIndex.collect { case (wm, i) if wm.set.isDefined =>
          (i, wm.set.get.toMap) } ++
          notMatchedBySource.zipWithIndex.collect {
            case (wn, i) if wn.set.isDefined => (100 + i, wn.set.get.toMap) }
      // one output row per surviving TARGET row: with no matched
      // clauses the cardinality guard is off, so a multi-matched
      // kept row appears once per source match in the left join —
      // (file, row-index) is the row's identity, and every copy
      // projects to the same target columns (act -1 keeps, NMBS
      // rows are unmatched and unique), so any-one-of is exact
      val withAct = joined(t).withColumn("__graft_act", act)
        .where(!col("__graft_act").isin(deleteActs: _*))
        .dropDuplicates("__graft_file", "__graft_rid")
      withAct.select(tCols.map { c =>
        updateActs.foldLeft(null: Column) { case (acc, (i, setMap)) =>
          setMap.get(c) match {
            case Some(v) =>
              val cast = v.cast(fields(c).dataType)
              if (acc == null) when(col("__graft_act") === i, cast)
              else acc.when(col("__graft_act") === i, cast)
            case None => acc
          }
        } match {
          case null => col(c).as(c)
          case chain => chain.otherwise(col(c)).as(c)
        }
      }: _*)
    }

    // inserts: source rows matching NO target row in the candidate set
    // (candidates cover every file that can hold the key — a row
    // unmatched there is unmatched, period), first-true-wins clause
    val inserts: Option[DataFrame] =
      if (notMatched.isEmpty) None
      else {
        val unmatchedSrc =
          if (candidates.isEmpty) source
          else source.join(target(spark, snap.get, snapshot, candidates), on,
            "left_anti")
        val insertAct = notMatched.zipWithIndex.reverse
          .foldLeft(lit(-1): Column) { case (els, (wn, i)) =>
            when(coalesce(wn.cond.getOrElse(lit(true)), lit(false)),
              lit(i)).otherwise(els)
          }
        val withAct = unmatchedSrc.withColumn("__graft_iact", insertAct)
          .where(col("__graft_iact") >= 0)
        Some(withAct.select(tCols.map { c =>
          notMatched.zipWithIndex.foldLeft(null: Column) {
            case (acc, (wn, i)) =>
              val v = wn.values.toMap.apply(c).cast(fields(c).dataType)
              if (acc == null) when(col("__graft_iact") === i, v)
              else acc.when(col("__graft_iact") === i, v)
          }.otherwise(lit(null).cast(fields(c).dataType)).as(c)
        }: _*))
      }

    // rewritten rows may carry UPDATE-assigned values and inserts are
    // new content — both re-validate against the CHECK constraints. A
    // SELF-READING source voids the key-span screen (a concurrent add
    // its span refutes can still change what the source computes) —
    // refuse on any concurrent add then, like subquery predicates
    rewrite(spark, root, snap, snapshot,
      if (rowClauses) candidates else Seq.empty,
      hits = joined(_).where(actionCol() >= 0).select(col("__graft_file")),
      rewritten = rewritten, rewrittenIsNew = true, fresh = inserts,
      screen = Screen.Rows(
        if (readsStore(source, root)) Nil else spanFilters))
  }
}
