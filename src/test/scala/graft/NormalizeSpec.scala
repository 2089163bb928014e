package graft

import org.apache.spark.sql.types._
import graft.ops.Normalize

/** Edge-schema normalization over BOTH reference header dialects
  * (SURVEY.md §1.3): the classic IBM telco header and the backend
  * export header must land in one fixed layer schema, tolerating
  * missing columns (typed NULL) and extra columns (dropped).
  * Reference: dags/DataWarehouse.py:615-631, dags/Reprocessing.py:61-67.
  */
class NormalizeSpec extends SparkSpec {

  private val layer = StructType(Seq(
    StructField("customer_id", StringType),
    StructField("tenure_in_months", IntegerType),
    StructField("monthly_charges_amount", DoubleType),
    StructField("churn_reason", StringType),
    StructField("record_type", StringType)))

  test("classic IBM dialect: spaces, case, rename map, missing record_type") {
    val s = spark; import s.implicits._
    // raw header as in new_archived_20260407_115117.csv: mixed case +
    // spaces; has lat_long (extra), lacks record_type (missing)
    val raw = Seq(("C1", "12", "50.5", "Moved", "45.1,-93.2"))
      .toDF("CustomerID", "Tenure Months", "Monthly Charges", "Churn Reason", "Lat Long")
    val out = Normalize.conformTo(Normalize.headers(raw), layer)
    assert(out.schema === layer)
    val r = out.head()
    assert(r.getString(0) === "C1")
    assert(r.getInt(1) === 12)
    assert(r.getDouble(2) === 50.5)
    assert(r.getString(3) === "Moved")
    assert(r.isNullAt(4)) // record_type absent in this dialect → typed NULL
  }

  test("backend-export dialect: record_type present, audit cols dropped") {
    val s = spark; import s.implicits._
    val raw = Seq(("C2", "3", "20.0", "new", "2026-04-25T08:00:28", "2026-04-28T19:38:10"))
      .toDF("customer_id", "tenure_in_months", "monthly_charges_amount",
        "record_type", "created_at", "updated_at")
    val out = Normalize.conformTo(Normalize.headers(raw), layer)
    assert(out.schema === layer)
    val r = out.head()
    assert(r.getString(0) === "C2")
    assert(r.getInt(1) === 3)
    assert(r.getString(4) === "new")
    assert(r.isNullAt(3)) // churn_reason absent in this dialect
    assert(!out.columns.contains("created_at"))
  }

  test("empty or missing landing dir ingests zero rows, correct schema") {
    val empty = graft.TempRoots.create("graft_empty")
    val out = graft.ops.CsvIngest.ingestDir(spark, empty,
      graft.queries.CsvQueries.target)
    assert(out.count() == 0)
    assert(out.columns.toSeq ==
      graft.queries.CsvQueries.target.fieldNames.toSeq :+ "src_file")
    val missing = graft.ops.CsvIngest.ingestDir(spark,
      s"$empty/does_not_exist", graft.queries.CsvQueries.target)
    assert(missing.count() == 0)
  }

  test("a landing dir on a non-default scheme lists and ingests") {
    spark.sparkContext.hadoopConfiguration.set(
      s"fs.${SchemeLocalFileSystem.Scheme}.impl",
      classOf[SchemeLocalFileSystem].getName)
    val dir = graft.TempRoots.create("graft_scheme")
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "a.csv"),
      "customer_id,tenure_in_months\nC1,3\n".getBytes("UTF-8"))
    val landing = s"${SchemeLocalFileSystem.Scheme}://$dir"
    assert(graft.ops.CsvIngest.listCsv(spark, landing).map(_.getName) ==
      Seq("a.csv"))
    val out = graft.ops.CsvIngest.ingestDir(spark, landing, layer)
    assert(out.select("customer_id", "tenure_in_months").collect()
      .map(r => (r.getString(0), r.getInt(1))).toSeq == Seq(("C1", 3)))
  }

  test("each dialect's schema follows Spark's own header rules, with no job") {
    val dir = graft.TempRoots.create("graft_headers")
    // quoted names holding the delimiter, a duplicated name, an empty
    // name and surrounding spaces: every rule Spark applies to a header
    val headers = Seq("customer_id,\"Tenure, Months\",Monthly Charges",
      "Customer ID,city,city,,Churn Reason ")
    headers.zipWithIndex.foreach { case (h, i) =>
      java.nio.file.Files.write(java.nio.file.Paths.get(dir, s"d$i.csv"),
        s"$h\nC$i,1,2,3,4\n".getBytes("UTF-8"))
    }
    val files = graft.ops.CsvIngest.listCsv(spark, dir)
    // the oracle: each file read with Spark's header inference
    val inferred = headers.indices.map(i => Normalize.headers(
      spark.read.option("header", "true").csv(s"$dir/d$i.csv")))
    val target = StructType(inferred.flatMap(_.schema.fields).distinct)
    assert(target.size == 7, target) // both dialects carry customer_id
    val expected = inferred.map(Normalize.conformTo(_, target))
      .reduce(_ unionByName _)
    val (out, jobs) = org.apache.spark.sql.graftbridge.SparkJobs.during(spark)(
      graft.ops.CsvIngest.ingestFiles(spark, files, target))
    assert(jobs == 0)
    val got = rowsAsSet(out.drop("src_file"))
    assert(got == rowsAsSet(expected))
    assert(got.map(_.count(_ != null)) == Set(3, 5), got)
  }

  test("canonName: strip + lower + underscore") {
    assert(Normalize.canonName("  Churn Reason ") === "churn_reason")
    assert(Normalize.canonName("customerID") === "customerid")
  }

  test("rename map only fires on columns present after canonicalization") {
    val s = spark; import s.implicits._
    val raw = Seq(("a", "b")).toDF("customerid", "unrelated")
    val out = Normalize.headers(raw)
    assert(out.columns.toSeq === Seq("customer_id", "unrelated"))
  }
}

/** The local file system under a scheme of its own (registered per
  * test as `fs.<scheme>.impl`), so a landing zone can sit on a
  * non-default scheme. */
class SchemeLocalFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI =
    java.net.URI.create(s"${SchemeLocalFileSystem.Scheme}:///")
  override def getScheme: String = SchemeLocalFileSystem.Scheme
}

object SchemeLocalFileSystem {
  val Scheme = "graftlocal"
}
