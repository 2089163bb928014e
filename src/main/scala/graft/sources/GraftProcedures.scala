package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.ops.TableStore

/** The store's MAINTENANCE surface as SQL procedures — Spark 4's V2
  * `CALL` statement (the Iceberg `CALL cat.system.…` posture), bound
  * to the same TableStore commits the API takes:
  *
  * {{{
  *   CALL wh.optimize(table => '/data/events', cluster_by => 'id')
  *   CALL wh.vacuum(table => '/data/events', keep_versions => 3)
  *   CALL wh.vacuum(table => 't', keep_versions => 3, dry_run => true)
  *   CALL wh.purge_deletes(table => 't')
  *   CALL wh.add_constraint(table => 't', name => 'v_pos', expr => 'v > 0')
  *   CALL wh.drop_constraint(table => 't', name => 'v_pos')
  *   CALL wh.clone(source => '/a/t', target => '/b/t')
  *   CALL wh.restore(table => 't', version => 3)
  * }}}
  *
  * Every procedure RETURNS its evidence as a result row (committed
  * version, files swept, bytes reclaimed …) — the caller sees what the
  * commit did, not a silent void. Table arguments resolve exactly like
  * catalog identifiers: a name under the catalog's configured root, or
  * an absolute store path. DDL stays refused at the catalog; these are
  * the LIFECYCLE verbs a table owner runs, each an audited commit (or
  * an explicitly-zero-mutation dry run). */
private[sources] object GraftProcedures {

  /** One procedure: parameters, result schema, and the body. */
  final case class Proc(name: String, description: String,
                        params: Seq[ProcedureParameter],
                        resultSchema: StructType,
                        body: (SparkSession, InternalRow) => Seq[Any])

  private def p(name: String, dt: DataType): ProcedureParameter =
    ProcedureParameter.in(name, dt).build()

  private def opt(name: String, dt: DataType,
                  default: String): ProcedureParameter =
    ProcedureParameter.in(name, dt).defaultValue(default).build()

  private def str(row: InternalRow, i: Int, what: String): String = {
    require(!row.isNullAt(i), s"$what must not be NULL")
    row.getUTF8String(i).toString
  }

  /** The catalog hands us its identifier resolution so `table => 't'`
    * means the same thing `FROM cat.t` does. */
  def all(resolve: String => String): Seq[Proc] = Seq(

    Proc("optimize",
      "recluster (cluster_by set) or fold small files into ~target_mb " +
        "outputs; one layout commit, content identical, pinned readers " +
        "unaffected. bloom_cols re-establishes parquet bloom filters " +
        "the row-level DML rewrites drop (blooms are file-level, not " +
        "logged — OPTIMIZE is where a DML-heavy table gets its " +
        "point-lookup pruning back)",
      Seq(p("table", StringType),
        opt("cluster_by", StringType, "NULL"),
        opt("target_mb", IntegerType, "128"),
        opt("stats_cols", StringType, "NULL"),
        opt("bloom_cols", StringType, "NULL")),
      StructType(Seq(StructField("version", LongType),
        StructField("live_files", LongType))),
      (spark, in) => {
        val root = resolve(str(in, 0, "table"))
        val cluster =
          if (in.isNullAt(1)) None else Some(in.getUTF8String(1).toString)
        val targetBytes = in.getInt(2).toLong << 20
        def cols(i: Int): Seq[String] =
          if (in.isNullAt(i)) Nil
          else in.getUTF8String(i).toString.split(",").map(_.trim)
            .filter(_.nonEmpty).toSeq
        val stats = cols(3)
        val blooms = cols(4)
        val v = cluster match {
          case Some(c) =>
            TableStore.optimizeLayout(spark, root, c, targetBytes, stats,
              blooms)
          case None =>
            TableStore.compactSmall(spark, root, targetBytes, targetBytes,
              stats, blooms)
        }
        Seq(v, TableStore.liveAt(spark, root, v).size.toLong)
      }),

    Proc("vacuum",
      "retire history beyond keep_versions: checkpoint the horizon, " +
        "delete unreferenced files; dry_run => true reports the exact " +
        "plan and mutates NOTHING",
      Seq(p("table", StringType), p("keep_versions", IntegerType),
        opt("dry_run", BooleanType, "false")),
      StructType(Seq(StructField("horizon", LongType),
        StructField("n_versions_dropped", LongType),
        StructField("n_files_swept", LongType),
        StructField("bytes_swept", LongType),
        StructField("executed", BooleanType))),
      (spark, in) => {
        val root = resolve(str(in, 0, "table"))
        val keep = in.getInt(1)
        val dry = !in.isNullAt(2) && in.getBoolean(2)
        val plan = TableStore.vacuumPlan(spark, root, keep)
          .collect() // 1 row by construction
        val r = plan.headOption.map(r =>
          Seq(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
          .getOrElse(Seq(0L, 0L, 0L, 0L))
        if (!dry) TableStore.vacuum(spark, root, keep)
        r :+ !dry
      }),

    Proc("purge_deletes",
      "fold outstanding merge-on-read delete vectors back into clean " +
        "files — one proportional rewrite of only the vectored files",
      Seq(p("table", StringType),
        opt("stats_cols", StringType, "NULL")),
      StructType(Seq(StructField("version", LongType))),
      (spark, in) => {
        val root = resolve(str(in, 0, "table"))
        val stats =
          if (in.isNullAt(1)) Nil
          else in.getUTF8String(1).toString.split(",").map(_.trim)
            .filter(_.nonEmpty).toSeq
        Seq(TableStore.purgeDeletes(spark, root, stats))
      }),

    Proc("add_constraint",
      "declare a CHECK constraint: validates the WHOLE live table " +
        "first, then every future commit's new content pre-commit",
      Seq(p("table", StringType), p("name", StringType),
        p("expr", StringType)),
      StructType(Seq(StructField("version", LongType))),
      (spark, in) => Seq(TableStore.addConstraint(spark,
        resolve(str(in, 0, "table")), str(in, 1, "name"),
        str(in, 2, "expr")))),

    Proc("drop_constraint",
      "retire a CHECK constraint as one metadata commit",
      Seq(p("table", StringType), p("name", StringType)),
      StructType(Seq(StructField("version", LongType))),
      (spark, in) => Seq(TableStore.dropConstraint(spark,
        resolve(str(in, 0, "table")), str(in, 1, "name")))),

    Proc("clone",
      "zero-copy shallow clone: target's v1 re-references the " +
        "source snapshot's files by absolute path; no data moves",
      Seq(p("source", StringType), p("target", StringType),
        opt("version", LongType, "NULL")),
      StructType(Seq(StructField("version", LongType))),
      (spark, in) => {
        val ver = if (in.isNullAt(2)) None else Some(in.getLong(2))
        Seq(TableStore.shallowClone(spark,
          resolve(str(in, 0, "source")), resolve(str(in, 1, "target")),
          ver))
      }),

    Proc("restore",
      "roll the table back to a prior snapshot as a NEW commit " +
        "(history stays linear and auditable)",
      Seq(p("table", StringType), p("version", LongType)),
      StructType(Seq(StructField("version", LongType))),
      (spark, in) => {
        require(!in.isNullAt(1), "version must not be NULL")
        Seq(TableStore.restore(spark,
          resolve(str(in, 0, "table")), in.getLong(1)))
      }),

    Proc("publish_run",
      "publish a warehouse tick's layer->version pins as one run " +
        "manifest commit — the SQL write-side of run_manifest(): " +
        "layers is 'name=store@version,...' with '@current' pinning " +
        "the layer's latest committed version at call time; " +
        "batch-id idempotent on run_id (a replayed publish stands " +
        "down and reports already_published)",
      Seq(p("manifest", StringType), p("run_id", LongType),
        p("layers", StringType)),
      StructType(Seq(
        StructField("manifest_version", LongType, nullable = true),
        StructField("already_published", BooleanType),
        StructField("n_layers", IntegerType))),
      (spark, in) => {
        val manifest = resolve(str(in, 0, "manifest"))
        require(!in.isNullAt(1), "run_id must not be NULL")
        val runId = in.getLong(1)
        val layers = str(in, 2, "layers").split(",").map(_.trim)
          .filter(_.nonEmpty).toSeq.map { spec =>
            val eq = spec.indexOf('=')
            require(eq > 0, s"layer spec '$spec' is not " +
              "name=store@version")
            val name = spec.substring(0, eq).trim
            val at = spec.lastIndexOf('@')
            require(at > eq, s"layer spec '$spec' is not " +
              "name=store@version (use @current for the latest)")
            val root = resolve(spec.substring(eq + 1, at).trim)
            val verSpec = spec.substring(at + 1).trim
            val version =
              if (verSpec.equalsIgnoreCase("current")) {
                val vs = TableStore.versions(spark, root)
                require(vs.nonEmpty,
                  s"layer $name at $root has no committed versions " +
                    "to pin")
                vs.last
              } else verSpec.toLongOption.getOrElse(
                throw new IllegalArgumentException(
                  s"layer spec '$spec' version must be a number or " +
                    "'current'"))
            name -> (root, version)
          }
        val dup = layers.groupBy(_._1).filter(_._2.size > 1)
        require(dup.isEmpty,
          s"layers lists a layer twice: ${dup.keys.mkString(",")}")
        val v = graft.ops.RunManifest.publish(spark, manifest, runId,
          layers.toMap)
        Seq(v.map(Long.box).orNull, v.isEmpty, layers.size)
      })
  )
}

/** [[GraftProcedures.Proc]] adapted to Spark's V2 procedure API. The
  * bound form executes at CALL time and returns ONE LocalScan holding
  * the evidence row. */
private[sources] class GraftProcedure(proc: GraftProcedures.Proc)
    extends UnboundProcedure with BoundProcedure {

  override def name(): String = proc.name
  override def description(): String = proc.description
  override def bind(inputType: StructType): BoundProcedure = this
  override def parameters(): Array[ProcedureParameter] =
    proc.params.toArray
  override def isDeterministic: Boolean = false

  override def call(input: InternalRow): java.util.Iterator[Scan] = {
    val values = proc.body(SparkSession.active, input).map {
      case s: String => UTF8String.fromString(s)
      case other => other
    }
    val row: InternalRow = new GenericInternalRow(values.toArray)
    val scan: Scan = new LocalScan {
      override def rows(): Array[InternalRow] = Array(row)
      override def readSchema(): StructType = proc.resultSchema
      override def description(): String = s"graft procedure ${proc.name}"
    }
    Iterator(scan).asJava
  }
}
