package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

/** Analysis rewrite: every [[GraftStoreTable]] relation becomes the
  * relation every typed store read already scans — a NATIVE parquet
  * file-source relation over a [[GraftFileIndex]]
  * ([[GraftFileIndex.relation]]), the Delta-lake architecture for
  * putting a log-governed table on Spark's first-class read path.
  * What the swap buys, relative to the DSv2 V1Scan fallback the table
  * otherwise plans through:
  *
  *  - FileSourceScanExec: vectorized parquet reader inside
  *    whole-stage codegen, zero per-row adapter cost;
  *  - Catalyst's own pushdown: filters reach the scan as
  *    `PushedFilters` (parquet row-group pruning) AND reach the
  *    file index as data filters (FILE pruning: log bounds, footer
  *    bounds and bloom probes — `TableStore.readWhere`'s one pruner);
  *  - column pruning into the reader (`ReadSchema`), AQE, runtime
  *    filters — everything the planner knows how to do with a
  *    HadoopFsRelation.
  *
  * The rewrite waits for the whole plan to resolve. So the COUNT
  * pre-pass below always meets the V2 relation, and a DML target is
  * never rewritten: [[GraftDmlRule]], injected first, claims a
  * `DeleteFromTable`/`UpdateTable`/`MergeIntoTable` in the same pass
  * its plan resolves (a merge's SOURCE still rewrites). The rewrite
  * preserves the relation's resolved output attributes (same names,
  * types, exprIds), so parent operators are untouched. The
  * replacement is the store's one scan
  * ([[graft.ops.TableStore.scanFiles]]): the bare relation for a
  * vector-free snapshot, and under merge-on-read delete vectors the
  * same pruned native scan with the vectored rows anti-joined away. */
case class GraftRewrite(session: SparkSession) extends Rule[LogicalPlan] {

  import org.apache.spark.sql.catalyst.expressions.{Alias, Literal}
  import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count}
  import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation, Project, SubqueryAlias}

  /** A bare graft snapshot under aliases/trivial projections — the
    * only shape whose row count the LOG answers exactly (any Filter
    * or join in between makes the count data-dependent). Matches the
    * V2 relation only: a `readWhere` file-index relation must scan,
    * so a vacuumed file fails it loudly. Yields the log-exact row
    * count. */
  private object MetaCountable {
    def unapply(plan: LogicalPlan): Option[Long] = plan match {
      case SubqueryAlias(_, child) => unapply(child)
      case p @ Project(_, child) if p.projectList.forall(
        _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.Attribute]) =>
        unapply(child)
      case r: DataSourceV2Relation
          if r.table.isInstanceOf[GraftStoreTable] &&
            !r.table.asInstanceOf[GraftStoreTable].hasDeleteVectors =>
        Some(r.table.asInstanceOf[GraftStoreTable]
          .liveEntries.map(_.rows).sum)
      case _ => None
    }
  }

  private def isCountStar(e: org.apache.spark.sql.catalyst.expressions.NamedExpression): Boolean =
    e match {
      case Alias(AggregateExpression(
        Count(Seq(Literal(v, _))), _, false, None, _), _) => v != null
      case _ => false
    }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!plan.resolved) return plan
    // metadata-only COUNT(*) pre-pass (top-down: the count subsumes
    // its relation before the bottom-up scan rewrite converts it):
    // an ungrouped, unfiltered count over a vector-free snapshot is
    // the sum of the log's per-file footer row counts — exact by the
    // commit contract, ZERO data IO. At a million files this is the
    // difference between an instant dashboard tick and a full scan
    // (the metaStats contract on the query path). DV-carrying
    // snapshots fall through: their logical count is footer rows
    // minus vectored rows, which only the scan knows.
    // transformDownWithSubqueries: a bare COUNT(*) inside a SCALAR
    // SUBQUERY (`SELECT (SELECT COUNT(*) FROM wh.t) AS n, …` — the
    // dashboard-tile shape) short-circuits to the log sum too, not
    // just top-level counts
    val counted = plan.transformDownWithSubqueries {
      case a @ Aggregate(Nil, aggs, MetaCountable(total), _)
          if a.resolved && aggs.nonEmpty && aggs.forall(isCountStar) =>
        LocalRelation(a.output.map(_.asInstanceOf[
          org.apache.spark.sql.catalyst.expressions.Attribute]),
          Seq(org.apache.spark.sql.catalyst.InternalRow(
            Seq.fill(aggs.size)(total): _*)))
    }
    // transformUpWithSubqueries: relations INSIDE subquery expressions
    // (IN/EXISTS/scalar over a graft store — the reference's literal
    // DELETE shapes, and any SELECT with a store-reading subquery) get
    // the same native vectorized scan as top-level relations
    counted.transformUpWithSubqueries {
      case r: DataSourceV2Relation if r.table.isInstanceOf[GraftStoreTable] =>
        r.table.asInstanceOf[GraftStoreTable].scan(session, r.output)
          .queryExecution.analyzed
    }
  }
}
