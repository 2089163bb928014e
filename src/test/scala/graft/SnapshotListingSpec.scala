package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.In

import graft.ops.{Dml, TableStore}
import graft.sources.GraftCatalog

/** Every store op resolves its snapshot from ONE listing of the
  * `_log` root: reads, the change feed, metadata digests, vacuum
  * plans, a SQL SELECT through the catalog table, and DML, counted on
  * a store that lives on [[LogListingFileSystem]]'s scheme. A
  * streaming batch append lists it twice: once before and once after
  * its data write. */
class SnapshotListingSpec extends SparkSpec {

  test("each store op lists the _log root once") {
    spark.sparkContext.hadoopConfiguration.set(
      s"fs.${LogListingFileSystem.Scheme}.impl",
      classOf[LogListingFileSystem].getName)
    spark.conf.set("spark.sql.catalog.glisting", classOf[GraftCatalog].getName)
    val s = spark; import s.implicits._
    val root = s"${LogListingFileSystem.Scheme}://" +
      TempRoots.create("graft_listing") + "/t"
    def mk(lo: Long) = (lo until lo + 10L).map(i => (i, s"r$i"))
      .toDF("id", "payload").coalesce(1)
    TableStore.append(mk(0L), root, statsCols = Seq("id"),
      bloomCols = Seq("id"))
    TableStore.append(mk(10L), root, statsCols = Seq("id"))
    def listings(body: => Any): Int = {
      LogListingFileSystem.logListings.set(0)
      body
      LogListingFileSystem.logListings.get
    }
    val counts = Seq(
      "read" -> listings(TableStore.read(spark, root).collect()),
      "readWhere" -> listings(TableStore.readWhere(spark, root,
        Seq(In("id", Array(3L))))._1.collect()),
      "metaStats" -> listings(TableStore.metaStats(spark, root).collect()),
      "readRowChanges" ->
        listings(TableStore.readRowChanges(spark, root, 1L).collect()),
      "vacuumPlan" ->
        listings(TableStore.vacuumPlan(spark, root, 1).collect()),
      "SQL SELECT" -> listings(spark.sql(
        s"SELECT id FROM glisting.`$root` WHERE id > 5").collect()),
      // the commit protocol lists only the version dir it publishes
      "Dml.delete" -> listings(Dml.delete(spark, root, col("id") === 3L)))
    assert(counts.forall(_._2 == 1), s"_log root listings: $counts")
    assert(TableStore.read(spark, root).count() == 19L)
    // appendBatch resolves once for its batch-id fast path, then once
    // for both the constraint check and the commit that follows it
    val batched = listings(TableStore.appendBatch(mk(100L), root, 7L))
    assert(batched == 2, s"appendBatch: $batched _log root listings")
    assert(TableStore.read(spark, root).count() == 29L)
  }
}

/** [[SchemeLocalFileSystem]] under a scheme of its own that counts the
  * `listStatus` calls on any `_log` directory. */
class LogListingFileSystem extends SchemeLocalFileSystem {
  override def getUri: java.net.URI =
    java.net.URI.create(s"${LogListingFileSystem.Scheme}:///")
  override def getScheme: String = LogListingFileSystem.Scheme
  override def listStatus(f: org.apache.hadoop.fs.Path)
      : Array[org.apache.hadoop.fs.FileStatus] = {
    if (f.getName == "_log") LogListingFileSystem.logListings.incrementAndGet()
    super.listStatus(f)
  }
}

object LogListingFileSystem {
  val Scheme = "graftlisting"
  val logListings = new AtomicInteger
}
