package graft

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.functions._
import graft.ops.Ledger
import graft.queries.BinaryQueries

/** ST2/S10: ledger decisions, post-run ledger upsert, archive move. */
class LedgerSpec extends SparkSpec {

  test("decide covers new/changed/unchanged/missing exactly") {
    val dir = BinaryQueries.writeFixture()
    val decisions = Ledger.decide(
      Ledger.scan(spark, dir, "*.png"),
      BinaryQueries.plantedLedger(spark))
    val byDecision = decisions.groupBy("decision").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = BinaryQueries.NumFiles
    assert(byDecision("unchanged") == (0 until n).count(_ % 3 == 0))
    assert(byDecision("changed") == (0 until n).count(_ % 3 == 1))
    assert(byDecision("new") == (0 until n).count(_ % 3 == 2))
    assert(byDecision("missing") == 1)
  }

  test("ledger update refreshes changed rows and inserts new ones") {
    val dir = BinaryQueries.writeFixture()
    val scanned = Ledger.scan(spark, dir, "*.png")
    val ledger0 = BinaryQueries.plantedLedger(spark)
      .withColumn("size_bytes", lit(null).cast("long"))
      .select("file_name", "size_bytes", "checksum")
    // decide() already surfaces the SCAN checksum for new/changed rows
    val processed = Ledger.toProcess(Ledger.decide(scanned, ledger0))
      .select(col("file_name"), col("size_bytes"), col("checksum"))
    val updated = Ledger.update(ledger0, processed)
    // every on-disk file now carries its true checksum; ghost survives
    val joined = updated.join(
      scanned.select(col("file_name"), col("checksum").as("true_ck")),
      Seq("file_name"), "left")
    assert(joined.filter(col("true_ck").isNotNull &&
      col("checksum") =!= col("true_ck")).count() == 0)
    // every column is refreshed on a conflict: the planted rows had no
    // size, the processed ones carry the scan's
    assert(updated.join(processed.select("file_name"), Seq("file_name"))
      .filter(col("size_bytes").isNull).count() == 0)
    assert(updated.filter(col("file_name") === "ghost.png").count() == 1)
    assert(updated.count() == BinaryQueries.NumFiles + 1)
  }

  test("archiveFile moves with suffix before the extension") {
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val tmp = graft.TempRoots.create("graft_arch")
    val src = new Path(tmp, "batch.csv")
    val out = fs.create(src); out.writeBytes("x,y\n1,2\n"); out.close()
    val dest = Ledger.archiveFile(fs, src, new Path(tmp, "archive"),
      "20260401_120000")
    assert(dest.getName == "batch_20260401_120000.csv")
    assert(!fs.exists(src) && fs.exists(dest))
  }
}
