package graft.queries

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables
import graft.ops.CsvIngest

/** CSV landing-zone ingestion — SURVEY.md §2.1 S1/S2 + §2.2 P1.
  *
  * The reference's edge is CSV-driven with two header dialects in the
  * wild (dags/DataWarehouse.py:583,615-631; SURVEY §1.3): a classic
  * dialect (mixed case + spaces, no record_type) and a backend-export
  * dialect (snake_case, extra audit columns). The fixture reproduces
  * both from the customer table, then [[CsvIngest.ingestDir]] lands
  * them in one fixed schema — exercising canonicalization, the rename
  * map, missing-column NULL fill, and extra-column drop. The oracle
  * reads the SAME files with DuckDB read_csv and mirrors the renames.
  */
object CsvQueries extends QueryPack {

  /** Fixed layer schema the landing files conform to. */
  val target: StructType = StructType(Seq(
    StructField("customer_id", LongType),
    StructField("market_segment", StringType),
    StructField("account_balance", DoubleType),
    StructField("nationkey", LongType),
    StructField("record_type", StringType)))

  private def landingDir(sfDir: String): String =
    s"/tmp/graft_fixtures/csv_ingest_${new java.io.File(sfDir).getName}/landing"

  /** Deterministic single-file write (csv with header, or raw text
    * for the JSONL fixture): ordered coalesce(1) write to a scratch
    * dir, then the part file is moved to `landing/name`. Fixture
    * scaffolding only — the engine paths are [[CsvIngest]] /
    * [[graft.ops.JsonlIngest]]. */
  private def writeOne(df: DataFrame, landing: String, name: String,
                       format: String = "csv"): Unit = {
    val spark = df.sparkSession
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val scratch = new Path(landing + "_scratch_" + name)
    val w = df.coalesce(1).write.mode("overwrite")
    if (format == "csv") w.option("header", "true").csv(scratch.toString)
    else w.text(scratch.toString)
    val part = fs.listStatus(scratch).map(_.getPath)
      .find(_.getName.startsWith("part-")).get
    val dest = new Path(landing, name)
    fs.mkdirs(dest.getParent)
    fs.delete(dest, false)
    fs.rename(part, dest)
    fs.delete(scratch, true)
  }

  /** Write both dialect files (idempotent overwrite per run). */
  def writeFixture(s: SparkSession, sfDir: String): String = {
    val landing = landingDir(sfDir)
    val c = Tables.customer(s, sfDir).filter(col("c_custkey") % 3 === 0)
      .orderBy("c_custkey")
    // classic dialect: mixed case/spaces, CustomerID needs the rename
    // map (customerid -> customer_id), record_type absent
    writeOne(
      c.filter(col("c_custkey") % 2 === 0).select(
        col("c_custkey").as("CustomerID"),
        col("c_mktsegment").as("Market Segment"),
        col("c_acctbal").as("Account Balance"),
        col("c_nationkey").as("NationKey")),
      landing, "classic.csv")
    // backend-export dialect: snake_case, record_type present, extra
    // created_note column that must be dropped
    writeOne(
      c.filter(col("c_custkey") % 2 === 1).select(
        col("c_custkey").as("customer_id"),
        col("c_mktsegment").as("market_segment"),
        col("c_acctbal").as("account_balance"),
        col("c_nationkey").as("nationkey"),
        lit("export").as("record_type"),
        concat(lit("n"), col("c_custkey")).as("created_note")),
      landing, "export.csv")
    landing
  }

  val csvIngest = GQuery(
    "q_csv_ingest",
    (s, d) => {
      val landing = writeFixture(s, d)
      CsvIngest.ingestDir(s, landing, target)
        .orderBy("customer_id")
    },
    oracle = None,
    // The oracle reads the same fixture files the Spark side lands.
    // Rendered against the Verify run's OWN sf dir (OracleContext) so
    // the gate works at any SF; the path stays sf-keyed so a Bench
    // run at another SF cannot overwrite the files between Verify and
    // the DuckDB pass.
    oracleAt = Some { sfDir =>
      val landing01 = landingDir(sfDir)
      s"""
      SELECT * FROM (
        SELECT CAST("CustomerID" AS BIGINT) AS customer_id,
               "Market Segment" AS market_segment,
               CAST("Account Balance" AS DOUBLE) AS account_balance,
               CAST("NationKey" AS BIGINT) AS nationkey,
               CAST(NULL AS VARCHAR) AS record_type,
               'classic.csv' AS src_file
        FROM read_csv('$landing01/classic.csv', header=true, all_varchar=true)
        UNION ALL
        SELECT CAST("customer_id" AS BIGINT),
               "market_segment",
               CAST("account_balance" AS DOUBLE),
               CAST("nationkey" AS BIGINT),
               "record_type",
               'export.csv'
        FROM read_csv('$landing01/export.csv', header=true, all_varchar=true)
      ) ORDER BY customer_id
    """})

  private def jsonlDir(sfDir: String): String =
    s"/tmp/graft_fixtures/jsonl_ingest_${new java.io.File(sfDir).getName}/landing"

  /** JSONL corpus fixture: every 4th document as a one-line JSON
    * object with NESTED metadata ({doc_id, text, meta:{lang,source}}),
    * plus three injected malformed lines (truncated object, bare
    * garbage, unterminated value) — the shapes a real crawl dump
    * carries. Every VALID line carries doc_id, which is what lets the
    * oracle identify quarantined lines (all-null rows) without
    * Spark's corrupt-record channel. */
  def writeJsonlFixture(s: SparkSession, sfDir: String): String = {
    import s.implicits._
    val landing = jsonlDir(sfDir)
    val docs = Tables.documents(s, sfDir)
      .filter(col("doc_id") % 4 === 0).orderBy("doc_id")
    val lines = docs.select(to_json(struct(col("doc_id"), col("text"),
        struct(col("lang"), col("source")).as("meta"))).as("value"))
      .unionByName(Seq("{\"doc_id\": 123, \"text\": \"trunca",
        "definitely not json",
        "{\"doc_id\":").toDF("value"))
    writeOne(lines, landing, "docs.jsonl", format = "text")
    landing
  }

  /** JSONL ingestion with explicit nested schema + malformed-line
    * quarantine ([[graft.ops.JsonlIngest]]): clean lines flatten
    * their nested meta and aggregate per language; malformed lines
    * land in a '__corrupt__' accounting group instead of crashing the
    * job (FAILFAST) or silently vanishing (DROPMALFORMED). The oracle
    * reads the same file with DuckDB's newline-delimited reader,
    * where unparseable lines surface as all-null rows — a genuinely
    * different malformed-line channel proving the same split. */
  val jsonlIngest = GQuery(
    "q_jsonl_ingest",
    (s, d) => {
      val landing = writeJsonlFixture(s, d)
      val schema = StructType(Seq(
        StructField("doc_id", LongType),
        StructField("text", StringType),
        StructField("meta", StructType(Seq(
          StructField("lang", StringType),
          StructField("source", StringType))))))
      graft.ops.JsonlIngest.read(s, s"$landing/docs.jsonl", schema)
        .groupBy(when(col("_corrupt").isNotNull, lit("__corrupt__"))
          .otherwise(col("meta.lang")).as("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("doc_id")).as("sum_ids"),
          sum(length(col("text"))).as("sum_chars"))
        .orderBy("lang")
    },
    oracle = None,
    oracleAt = Some { sfDir =>
      val landing01 = jsonlDir(sfDir)
      s"""
      SELECT CASE WHEN doc_id IS NULL THEN '__corrupt__'
                  ELSE meta.lang END AS lang,
             COUNT(*) AS n_docs,
             CAST(SUM(doc_id) AS BIGINT) AS sum_ids,
             CAST(SUM(length(text)) AS BIGINT) AS sum_chars
      FROM read_json('$landing01/docs.jsonl',
                     format='newline_delimited', ignore_errors=true,
                     columns={'doc_id':'BIGINT','text':'VARCHAR',
                              'meta':'STRUCT(lang VARCHAR, source VARCHAR)'})
      GROUP BY 1 ORDER BY lang
    """})

  private def jsonlExportDir(sfDir: String): String =
    s"/tmp/graft_fixtures/jsonl_export_${new java.io.File(sfDir).getName}/out"

  /** JSONL corpus export ([[graft.ops.JsonlExport]]): the documents
    * table written as sharded newline-delimited JSON, then verified
    * through TWO INDEPENDENT stacks — the Spark side digests the
    * SOURCE parquet (per-lang counts, id sums, md5-prefix content
    * hashes of text and source fields), the oracle computes the same
    * digest from what DuckDB's `read_json` parses OUT OF THE WRITTEN
    * FILES. Equality proves every row was written exactly once and
    * every field survived JSON escaping byte-for-byte — the actual
    * interchange contract, not a same-parser round-trip. */
  val jsonlExport = GQuery(
    "q_jsonl_export",
    (s, d) => {
      val out = jsonlExportDir(d)
      val docs = Tables.documents(s, d)
        .select("doc_id", "text", "lang", "source")
      Fixtures.ensure(s, out,
        Fixtures.sourceStamp(s, s"$d/documents.parquet") +
          ":jsonl_export:v1:shards4") {
        graft.ops.JsonlExport.write(docs, out, shards = 4,
          shardBy = "doc_id")
      }
      def h(c: String) =
        sum(conv(substring(md5(col(c)), 1, 8), 16, 10).cast("long"))
      docs.groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("doc_id")).as("sum_ids"),
          h("text").as("sum_text_h"),
          h("source").as("sum_src_h"))
        .orderBy("lang")
    },
    oracle = None,
    oracleAt = Some { sfDir =>
      val out01 = jsonlExportDir(sfDir)
      def h(c: String) =
        s"CAST(SUM(CAST(('0x' || substr(md5($c), 1, 8)) AS BIGINT)) AS BIGINT)"
      s"""
      SELECT lang, COUNT(*) AS n_docs,
             CAST(SUM(doc_id) AS BIGINT) AS sum_ids,
             ${h("text")} AS sum_text_h,
             ${h("source")} AS sum_src_h
      FROM read_json('$out01/part-*', format='newline_delimited',
                     columns={'doc_id':'BIGINT','text':'VARCHAR',
                              'lang':'VARCHAR','source':'VARCHAR'})
      GROUP BY 1 ORDER BY lang
    """})

  private def orcDir(sfDir: String): String =
    s"/tmp/graft_fixtures/orc_export_${new java.io.File(sfDir).getName}/out"

  /** ORC interchange round trip ([[graft.ops.Orc]]): documents written
    * as sharded ORC, read back through Spark's ORC stack with an
    * explicit schema, and digested; the oracle computes the same
    * digest from the SOURCE parquet through DuckDB. Two independent
    * stacks, two different physical files — digest equality proves
    * every row was written exactly once and every field survived the
    * columnar round trip (the q_training_export contract shape;
    * DuckDB reads no ORC, so the parquet source is the independent
    * truth). */
  val orcRoundtrip = GQuery(
    "q_orc_roundtrip",
    (s, d) => {
      val out = orcDir(d)
      val src = Tables.documents(s, d)
        .select("doc_id", "text", "lang", "source")
      Fixtures.ensure(s, out,
        Fixtures.sourceStamp(s, s"$d/documents.parquet") +
          ":orc_export:v1:shards4") {
        graft.ops.Orc.write(src, out, shards = 4, shardBy = "doc_id")
      }
      def h(c: String) =
        sum(conv(substring(md5(col(c)), 1, 8), 16, 10).cast("long"))
      graft.ops.Orc.read(s, out, org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("lang",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("source",
          org.apache.spark.sql.types.StringType))))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("doc_id")).as("sum_ids"),
          h("text").as("sum_text_h"),
          h("source").as("sum_src_h"))
        .orderBy("lang")
    },
    Some {
      def h(c: String) =
        s"CAST(SUM(CAST(('0x' || substr(md5($c), 1, 8)) AS BIGINT)) AS BIGINT)"
      s"""
      SELECT lang, COUNT(*) AS n_docs,
             CAST(SUM(doc_id) AS BIGINT) AS sum_ids,
             ${h("text")} AS sum_text_h,
             ${h("source")} AS sum_src_h
      FROM documents
      GROUP BY 1 ORDER BY lang
    """})

  private def compactDir(sfDir: String): String =
    s"/tmp/graft_fixtures/compaction_${new java.io.File(sfDir).getName}/layer"

  /** Small-file compaction gate ([[graft.ops.TableStore.compactSmall]])
    * — the `q_orc_roundtrip` two-stack pattern: the fixture appends
    * orders as one deliberately fragmented 50-file store commit, folds
    * it, and asserts the file-count contract (the fold commits; live
    * files after it == ceil(fragmented live bytes / target) < 50; a
    * zero-row corpus has nothing to fold and keeps no file); the
    * body digests the FOLDED snapshot while DuckDB digests the source
    * parquet — any row lost, duplicated, or mutated breaks the hash.
    * Build+fold runs inside the fixture lock (one marker records the
    * folded state); a regenerated sf dataset rebuilds. */
  val compaction = GQuery(
    "q_compaction",
    (s, d) => {
      val layer = compactDir(d)
      Fixtures.ensure(s, layer,
        Fixtures.sourceStamp(s, s"$d/orders.parquet") +
          ":compaction:v2:store:frag50:target1m") {
        import graft.ops.TableStore
        val v = TableStore.append(Tables.orders(s, d)
          .select("o_orderkey", "o_orderstatus", "o_totalprice",
            "o_orderpriority")
          .repartition(50), layer)
        val frag = TableStore.liveAt(s, layer, v)
        val bytes = frag.map(TableStore.sizeOf(s, layer, _)).sum
        val target = 1L << 20
        val expected = ((bytes + target - 1) / target).toInt
        val folded = TableStore.compactSmall(s, layer, target, target)
        require(folded == v + 1 || frag.size < 2,
          s"compactSmall left ${frag.size} fragmented files unfolded")
        val actual = TableStore.liveAt(s, layer, folded).size
        require(actual == expected,
          s"compaction file-count contract: $actual live files, " +
            s"expected ceil($bytes/$target) = $expected")
        require(actual < 50, s"layer not actually compacted: $actual files")
      }
      def h(c: String) =
        sum(conv(substring(md5(col(c)), 1, 8), 16, 10).cast("long"))
      graft.ops.TableStore.read(s, layer)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("o_orderkey")).as("sum_keys"),
          h("o_orderpriority").as("sum_prio_h"),
          graft.ops.Exact.fixedSum(col("o_totalprice"), 2).as("sum_price"))
        .orderBy("o_orderstatus")
    },
    Some(s"""
      SELECT o_orderstatus, COUNT(*) AS n_rows,
             CAST(SUM(o_orderkey) AS BIGINT) AS sum_keys,
             CAST(SUM(CAST(('0x' || substr(md5(o_orderpriority), 1, 8))
               AS BIGINT)) AS BIGINT) AS sum_prio_h,
             ${graft.ops.Exact.fixedSumSql("o_totalprice", 2)} AS sum_price
      FROM orders
      GROUP BY 1 ORDER BY o_orderstatus
    """))

  private def xlsxDir(sfDir: String): String =
    s"/tmp/graft_fixtures/xlsx_report_${new java.io.File(sfDir).getName}"

  /** Xlsx report-sink round trip — the last spec-only sink gains an
    * oracle gate: the quarantine-preview frame (deterministic ordered
    * top-500 of the negative-balance customers) goes out through
    * [[graft.ops.Xlsx.writeReport]] (JDK-only zip+XML writer), comes
    * back through [[graft.ops.Xlsx.ingestDir]] (the StAX reader), and
    * the digest of the round-tripped rows must equal what DuckDB
    * predicts straight from the customer parquet. DuckDB cannot read
    * xlsx, so the wire format itself is exercised engine-side both
    * ways while the CONTENT contract is still independently verified —
    * a writer or reader divergence (cell refs, shared strings, escape
    * handling, the maxRows cap) breaks the hash. Integer/string
    * columns only: the report stringifies cells, and float formatting
    * is not part of this contract. */
  val xlsxReport = GQuery(
    "q_xlsx_report",
    (s, d) => {
      val dest = s"${xlsxDir(d)}/report.xlsx"
      val preview = Tables.customer(s, d)
        .filter(col("c_acctbal") < 0)
        .select(col("c_custkey").as("customer_id"),
          col("c_mktsegment").as("market_segment"),
          col("c_nationkey").cast("long").as("nationkey"))
        .orderBy("customer_id")
      graft.ops.Xlsx.writeReport(preview, dest, maxRows = 500)
      val target2 = StructType(Seq(
        StructField("customer_id", LongType),
        StructField("market_segment", StringType),
        StructField("nationkey", LongType)))
      def h(c: String) =
        sum(conv(substring(md5(col(c)), 1, 8), 16, 10).cast("long"))
      graft.ops.Xlsx.ingestDir(s, xlsxDir(d), target2)
        .agg(count(lit(1)).as("n_rows"),
          sum("customer_id").as("sum_ids"),
          min("customer_id").as("min_id"),
          max("customer_id").as("max_id"),
          h("market_segment").as("sum_seg_h"),
          sum("nationkey").as("sum_nation"))
    },
    Some("""
      SELECT COUNT(*) AS n_rows,
             CAST(SUM(customer_id) AS BIGINT) AS sum_ids,
             MIN(customer_id) AS min_id,
             MAX(customer_id) AS max_id,
             CAST(SUM(CAST(('0x' || substr(md5(market_segment), 1, 8))
               AS BIGINT)) AS BIGINT) AS sum_seg_h,
             CAST(SUM(nationkey) AS BIGINT) AS sum_nation
      FROM (
        SELECT c_custkey AS customer_id,
               c_mktsegment AS market_segment,
               CAST(c_nationkey AS BIGINT) AS nationkey
        FROM customer WHERE c_acctbal < 0
        ORDER BY c_custkey LIMIT 500)
    """),
    eager = true)

  private def evoDir(sfDir: String): String =
    s"/tmp/graft_fixtures/schema_evo_${new java.io.File(sfDir).getName}/layer"

  /** Schema-evolution read ([[graft.ops.SchemaEvolution]]): the layer
    * holds two batches written under DIFFERENT schema versions —
    * batch 1 (even doc_ids) predates the `source`/`quality_milli`
    * columns, batch 2 (odd) carries them in a different column order.
    * The engine reads the files back under ONE explicit target schema
    * (by-name parquet resolution nulls the missing columns), applies
    * declared backfill defaults, and aggregates; the oracle never
    * sees the files — it recomputes the expected result analytically
    * from the source table (the q_orc_roundtrip two-stack shape), so
    * a by-name-resolution or null-fill bug diverges the compare. */
  val schemaEvolution = GQuery(
    "q_schema_evolution",
    (s, d) => {
      val layer = evoDir(d)
      val docs = Tables.documents(s, d)
      Fixtures.ensure(s, layer,
        Fixtures.sourceStamp(s, s"$d/documents.parquet") +
          ":schema_evo:v1") {
        docs.filter(col("doc_id") % 2 === 0)
          .select("doc_id", "text", "lang")
          .write.mode("overwrite").parquet(s"$layer/b1")
        docs.filter(col("doc_id") % 2 === 1)
          .select(col("source"),
            graft.ops.TextOps.qualityMilli(col("text"))
              .as("quality_milli"),
            col("doc_id"), col("text"), col("lang"))
          .write.mode("overwrite").parquet(s"$layer/b2")
      }
      val target = StructType(Seq(
        StructField("doc_id", LongType),
        StructField("text", StringType),
        StructField("lang", StringType),
        StructField("source", StringType),
        StructField("quality_milli", LongType)))
      val merged = graft.ops.SchemaEvolution
        .readWithTarget(s, target, s"$layer/b1", s"$layer/b2")
      graft.ops.SchemaEvolution
        .backfill(merged, Map(
          "quality_milli" -> lit(-1L),
          "source" -> lit("<unknown>")))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          count(when(col("_backfilled") > 0, 1)).as("n_backfilled"),
          sum(col("quality_milli")).cast("long").as("sum_quality"),
          countDistinct(col("source")).as("n_sources"),
          sum(col("doc_id")).cast("long").as("sum_ids"))
        .orderBy("lang")
    },
    Some(s"""
      WITH evolved AS (
        SELECT doc_id, text, lang,
               CASE WHEN doc_id % 2 = 1 THEN source
                    ELSE '<unknown>' END AS source,
               CASE WHEN doc_id % 2 = 1
                    THEN ${graft.ops.TextOps.qualityMilliSql("text")}
                    ELSE -1 END AS quality_milli,
               CAST(doc_id % 2 = 0 AS INT) AS backfilled
        FROM documents)
      SELECT lang, COUNT(*) AS n_docs,
             CAST(SUM(backfilled) AS BIGINT) AS n_backfilled,
             CAST(SUM(quality_milli) AS BIGINT) AS sum_quality,
             CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
             CAST(SUM(doc_id) AS BIGINT) AS sum_ids
      FROM evolved GROUP BY lang ORDER BY lang
    """))

  def all: Seq[GQuery] = Seq(csvIngest, jsonlIngest, jsonlExport,
    orcRoundtrip, compaction, xlsxReport, schemaEvolution)
}
