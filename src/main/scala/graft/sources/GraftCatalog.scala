package graft.sources

import java.util.{Map => JMap}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException}
import org.apache.spark.sql.connector.catalog.{Identifier, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.ops.TableStore

/** V2 catalog over a directory of [[TableStore]]s — the piece that
  * gives versioned stores NAMES on the SQL surface, the way the
  * reference's consumers address their warehouse
  * (dags/SQL/Gold/create_load_data_gold.sql:122-140 reads
  * silver/gold tables purely by name):
  *
  * {{{
  *   spark.conf.set("spark.sql.catalog.wh", classOf[GraftCatalog].getName)
  *   spark.conf.set("spark.sql.catalog.wh.root", "/data/warehouse")
  *   spark.sql("SELECT * FROM wh.orders")                    // latest
  *   spark.sql("SELECT * FROM wh.orders VERSION AS OF 3")    // pinned
  *   spark.sql("SELECT * FROM wh.orders TIMESTAMP AS OF '…'")
  * }}}
  *
  * Identifier resolution: a name under the configured `root`
  * (namespaces are subdirectories: `wh.silver.orders` →
  * `<root>/silver/orders`), or — root-free — an ABSOLUTE store path
  * as a backquoted identifier (`` wh.`/tmp/run1/orders` ``), which is
  * how scratch-rooted gates and notebooks address stores without
  * touching session config (a catalog instance is cached per NAME for
  * the session's lifetime, so per-run roots can't ride the conf).
  *
  * Time travel is Spark's own surface: the analyzer hands `VERSION AS
  * OF` / `TIMESTAMP AS OF` to the two-argument `loadTable` overloads,
  * which pin the returned table to that snapshot
  * ([[TableStore.versionAt]]'s publish-time model for timestamps).
  *
  * DML writes are the commit API on the SQL surface: `INSERT INTO` /
  * `INSERT OVERWRITE` route through [[TableStore.append]] /
  * [[TableStore.overwrite]] (constraints enforced pre-commit,
  * optimistic retry, snapshot isolation — see
  * [[GraftStoreTable.newWriteBuilder]]); DELETE/UPDATE/MERGE through
  * [[GraftDmlRule]]. DDL follows the commit model, never bypasses it:
  * CREATE/CTAS anchor a typed-empty store whose first write is
  * version 1 ([[TableStore.createEmpty]]), DROP retires ONLY
  * never-committed stores (history goes through vacuum retention),
  * ALTER stays refused toward the readAs/SchemaEvolution posture,
  * and the lifecycle verbs are procedures ([[GraftProcedures]]).
  */
class GraftCatalog extends TableCatalog
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog {

  private var catalogName: String = _
  private var root: Option[String] = None

  override def initialize(name: String,
                          options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    root = Option(options.get("root"))
  }

  override def name(): String = catalogName

  private def spark: SparkSession = SparkSession.active

  private def pathFor(ident: Identifier): String = {
    val n = ident.name
    if (n.startsWith("/") || n.contains("://")) {
      require(ident.namespace.isEmpty,
        s"absolute-path table `$n` takes no namespace, got " +
          ident.namespace.mkString("."))
      n
    } else root match {
      case Some(r) => (r +: ident.namespace.toSeq :+ n).mkString("/")
      case None => throw new IllegalArgumentException(
        s"catalog $catalogName has no root configured — set " +
          s"spark.sql.catalog.$catalogName.root, or address the store " +
          s"by absolute path: $catalogName.`/path/to/store`")
    }
  }

  /** A directory IS a store when it carries a commit log or the
    * first-touch schema anchor (all-empty stores read as typed
    * empty). */
  private def isStore(path: String): Boolean = {
    val fs = new Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(new Path(s"$path/_log")) ||
      fs.exists(new Path(s"$path/_schema"))
  }

  private def load(ident: Identifier, version: Option[Long]): Table = {
    val p = pathFor(ident)
    if (!isStore(p))
      throw new NoSuchTableException(
        (catalogName +: ident.namespace.toSeq :+ ident.name))
    new GraftStoreTable(p, version)
  }

  override def loadTable(ident: Identifier): Table = load(ident, None)

  /** `VERSION AS OF v`. */
  override def loadTable(ident: Identifier, version: String): Table =
    load(ident, Some(version.toLongOption.getOrElse(
      throw new IllegalArgumentException(
        s"VERSION AS OF takes a commit version number, got '$version'"))))

  /** `TIMESTAMP AS OF ts` — Spark hands MICROseconds since epoch;
    * [[TableStore.versionAt]] works in the log's publish-time millis. */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val p = pathFor(ident)
    if (!isStore(p))
      throw new NoSuchTableException(
        (catalogName +: ident.namespace.toSeq :+ ident.name))
    new GraftStoreTable(p,
      Some(TableStore.versionAt(spark, p, timestamp / 1000L)))
  }

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val r = root.getOrElse(throw new NoSuchNamespaceException(
      (catalogName +: namespace.toSeq)))
    val dir = new Path((r +: namespace.toSeq).mkString("/"))
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir))
      throw new NoSuchNamespaceException((catalogName +: namespace.toSeq))
    fs.listStatus(dir).toSeq
      .filter(s => s.isDirectory && isStore(s.getPath.toString))
      .map(s => Identifier.of(namespace, s.getPath.getName))
      .toArray
  }

  /** `CREATE TABLE` / the create half of CTAS: anchors the schema on
    * a fresh path ([[TableStore.createEmpty]] — the typed-empty state
    * every read path already understands); the first INSERT (or the
    * CTAS write) lands as version 1 through the same commit the API
    * takes. `PARTITIONED BY (col, …)` — identity transforms only —
    * maps onto the store's declared LAYOUT: every write
    * range-clusters on the columns and logs their per-file bounds,
    * so a partition predicate prunes at planning time from the
    * commit log alone (the observable a directory layout buys,
    * without freezing the physical shape — OPTIMIZE can recluster).
    * Bucket/days/truncate transforms stay refused toward
    * CALL optimize(cluster_by => …). */
  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: JMap[String, String]): Table = {
    val partCols = partitions.toSeq.map { t =>
      if (t.name != "identity")
        throw new UnsupportedOperationException(
          s"graft PARTITIONED BY takes identity transforms only (got " +
            s"$t) — expression layouts are CALL optimize" +
            "(cluster_by => …)")
      t.references()(0).fieldNames() match {
        case Array(one) => one
        case other => throw new UnsupportedOperationException(
          s"graft PARTITIONED BY takes top-level columns, got " +
            other.mkString("."))
      }
    }
    // refuse-loudly posture: silently dropping a user's TBLPROPERTIES
    // would vanish declared intent without any signal. Spark itself
    // rides reserved keys (provider, owner, …) on this map — those
    // pass; anything user-declared names the supported mechanisms.
    val userProps = {
      import scala.jdk.CollectionConverters._
      properties.asScala.keys.filterNot(k =>
        k == TableCatalog.PROP_PROVIDER || k == TableCatalog.PROP_OWNER ||
          k == TableCatalog.PROP_LOCATION || k == TableCatalog.PROP_COMMENT ||
          k == TableCatalog.PROP_EXTERNAL || k.startsWith("option.")).toSeq
    }
    require(userProps.isEmpty,
      s"graft stores take no TBLPROPERTIES (got ${userProps.sorted
        .mkString(", ")}) — constraints are CALL add_constraint(…), " +
        "layout is CALL optimize(…)")
    val p = pathFor(ident)
    if (isStore(p))
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException(
          (catalogName +: ident.namespace.toSeq :+ ident.name))
    TableStore.createEmpty(spark, p, schema, partCols)
    new GraftStoreTable(p, None, Some(schema))
  }

  /** `ALTER TABLE ADD COLUMN` and `ALTER TABLE … ALTER COLUMN … TYPE`
    * map onto [[TableStore.alterSchema]] — each one metadata commit, zero
    * data IO, history untouched (pre-ALTER snapshots keep their own
    * schema; pre-widen files up-cast inside the parquet reader).
    * Only shapes the commit can honor without a hidden backfill or
    * rewrite are accepted: adds must be nullable defaultless
    * top-level columns, type changes must be value-preserving
    * widenings (narrowing refuses loudly toward a priced UPDATE).
    * Everything else stays refused toward the commit-model
    * mechanisms. */
  override def alterTable(ident: Identifier,
                          changes: TableChange*): Table = {
    val p = pathFor(ident)
    // validate EVERY change before committing ANY (the alterTable
    // contract is apply-all-or-none): a refused shape later in the
    // list must leave the table untouched, and each statement's
    // column list lands as ONE schema commit
    val (addChanges, rest) = changes.partition(
      _.isInstanceOf[TableChange.AddColumn])
    val (widenChanges, other) = rest.partition(
      _.isInstanceOf[TableChange.UpdateColumnType])
    other.foreach { o =>
      throw new UnsupportedOperationException(
        s"graft stores support ALTER TABLE ADD COLUMN and ALTER " +
          s"COLUMN TYPE widening only (got $o) — constraints are " +
          "CALL add_constraint(…), layout is CALL optimize(…), " +
          "history retires through vacuum")
    }
    val adds = addChanges.map {
      case add: TableChange.AddColumn =>
        require(add.fieldNames.length == 1,
          "graft ALTER adds top-level columns only, got " +
            add.fieldNames.mkString("."))
        require(add.isNullable,
          "graft ALTER adds NULLABLE columns only — pre-ALTER files " +
            "resolve the column to null, which a NOT NULL contract " +
            "would instantly violate")
        require(add.position() == null,
          "graft ALTER takes no FIRST/AFTER — the declared schema " +
            "appends")
        add.fieldNames()(0) -> add.dataType()
    }
    val widens = widenChanges.map {
      case up: TableChange.UpdateColumnType =>
        require(up.fieldNames.length == 1,
          "graft ALTER widens top-level columns only, got " +
            up.fieldNames.mkString("."))
        up.fieldNames()(0) -> up.newDataType()
    }
    // adds and widens land as ONE schema commit (MERGE schema
    // evolution can produce both in a single alterTable call; a
    // half-landed evolution would tear the merge's resolution)
    TableStore.alterSchema(spark, p, adds, widens)
    new GraftStoreTable(p, None)
  }

  /** DROP succeeds only for an anchored-but-never-committed store
    * (nothing to lose, no pinned readers — also the CTAS failure
    * cleanup path); anything with history still refuses toward
    * vacuum retention. [[TableStore.dropEmpty]] distinguishes its
    * failure modes: committed history (IllegalArgumentException —
    * mapped to the retention message here) vs not-a-store
    * (IllegalStateException — a caller mistake, propagated as-is,
    * though isStore screens it in practice). */
  override def dropTable(ident: Identifier): Boolean = {
    val p = pathFor(ident)
    if (!isStore(p)) return false
    try { TableStore.dropEmpty(spark, p); true }
    catch { case e: IllegalArgumentException =>
      throw new UnsupportedOperationException(
        "graft stores with committed history are retired through " +
          "vacuum retention, not catalog DROP — a catalog-level " +
          "delete would bypass the pinned-reader contract", e)
    }
  }

  override def renameTable(oldIdent: Identifier,
                           newIdent: Identifier): Unit =
    throw new UnsupportedOperationException(
      "graft store roots are physical paths; rename the directory and " +
        "re-address it")

  // ---- maintenance procedures (`CALL cat.optimize(…)` etc.) ----
  // DDL is refused above on purpose; the LIFECYCLE verbs a table
  // owner runs (optimize / vacuum / purge_deletes / constraints /
  // clone / restore) are commits with audited evidence rows, so they
  // DO belong on the SQL surface — see [[GraftProcedures]].

  /** Procedure `table =>` arguments resolve exactly like catalog
    * identifiers: absolute store paths pass through, names resolve
    * under the configured root. */
  private def resolveArg(name: String): String =
    if (name.startsWith("/") || name.contains("://")) name
    else pathFor(Identifier.of(Array.empty, name))

  private lazy val procedures: Map[String, GraftProcedure] =
    GraftProcedures.all(resolveArg)
      .map(pr => pr.name -> new GraftProcedure(pr)).toMap

  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    require(ident.namespace.isEmpty,
      s"graft procedures live at the catalog top level: " +
        s"$catalogName.${ident.name}")
    procedures.getOrElse(ident.name,
      throw new UnsupportedOperationException(
        s"unknown procedure ${ident.name} — graft has " +
          procedures.keys.toSeq.sorted.mkString(", ")))
  }

  override def listProcedures(namespace: Array[String])
      : Array[Identifier] = {
    if (namespace.nonEmpty)
      throw new NoSuchNamespaceException(
        (catalogName +: namespace.toSeq))
    procedures.keys.toSeq.sorted
      .map(n => Identifier.of(Array.empty, n)).toArray
  }
}
