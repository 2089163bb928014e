package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.graftbridge.SparkJobs
import org.apache.spark.sql.types._
import org.apache.spark.sql.functions._
import graft.ops.Incremental
import graft.ops.Incremental.WatermarkStore
import java.nio.file.Files

/** Watermark commit protocol (SURVEY.md §2.9 ST1/ST4; reference
  * dags/churn_export_dag_cloude.py:536-569): sink strictly before
  * commit, empty batch advances nothing, failed sink advances nothing.
  */
class IncrementalSpec extends SparkSpec {

  private def tmpWm(): String =
    java.nio.file.Paths.get(TempRoots.create("graft-wm")).resolve("wm.txt").toString

  private def frame(n: Int): DataFrame = {
    val s = spark; import s.implicits._
    (1 to n).map(i => (i.toLong, s"r$i")).toDF("id", "v")
  }

  test("WatermarkStore: initial value, then durable round-trip") {
    val store = new WatermarkStore(tmpWm(), init = "1970-01-01T00:00:00")
    assert(store.read() === "1970-01-01T00:00:00")
    store.commit("2026-08-12T00:00:00")
    assert(store.read() === "2026-08-12T00:00:00")
  }

  test("successful batch: sink runs before commit, watermark advances") {
    val store = new WatermarkStore(tmpWm())
    val events = scala.collection.mutable.ArrayBuffer[String]()
    val n = Incremental.runBatch(
      store,
      extract = wm => { events += s"extract@$wm"; frame(3) },
      runTs = "T1",
      sink = df => { df.count(); events += "sink" })
    assert(n === 3)
    assert(store.read() === "T1")
    // ordering: extract → sink; the commit is observable via read()
    assert(events.toSeq === Seq("extract@1970-01-01T00:00:00", "sink"))
  }

  test("empty batch: no sink, watermark NOT advanced (skip semantics)") {
    val store = new WatermarkStore(tmpWm())
    var sank = false
    val n = Incremental.runBatch(store, _ => frame(0), "T1", _ => sank = true)
    assert(n === 0)
    assert(!sank)
    assert(store.read() === "1970-01-01T00:00:00")
  }

  test("failed sink: watermark NOT advanced, same window retried next run") {
    val store = new WatermarkStore(tmpWm())
    intercept[RuntimeException] {
      Incremental.runBatch(store, _ => frame(2), "T1",
        _ => throw new RuntimeException("sink died"))
    }
    assert(store.read() === "1970-01-01T00:00:00")
    // retry with a working sink sees the SAME lower bound
    var seenWm: String = null
    Incremental.runBatch(store,
      wm => { seenWm = wm; frame(2) }, "T2", _.count())
    assert(seenWm === "1970-01-01T00:00:00")
    assert(store.read() === "T2")
  }

  test("window is half-open: (low, high]") {
    val s = spark; import s.implicits._
    val df = Seq(1L, 2L, 3L, 4L).toDF("ts")
    val out = Incremental.window(df, col("ts"), lit(1L), lit(3L))
    assert(rowsAsSet(out) === Set(Seq(2L), Seq(3L)))
  }

  test("csvSink writes exactly one ordered header CSV file") {
    val dir = java.nio.file.Paths.get(TempRoots.create("graft-csv")).resolve("out").toString
    Incremental.csvSink(frame(5).orderBy(desc("id")), dir, Seq("id"))
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".csv"))
    assert(files.length === 1)
    val lines = scala.io.Source.fromFile(files.head).getLines().toSeq
    assert(lines.head === "id,v")
    assert(lines.tail.map(_.split(",")(0).toLong) === (1 to 5).map(_.toLong))
  }

  test("csvSink writes the bytes a global sort writes, in one job") {
    val ts = java.sql.Timestamp.valueOf("2026-04-01 08:00:00")
    // unsorted over three partitions; quotes, delimiters, NULLs and a
    // timestamp exercise the CSV writer's escaping
    val rows = Seq(Row(3L, "c,\"q\"", null, ts), Row(1L, "a", "x", null),
      Row(5L, null, "y", ts), Row(2L, "b\nb", "z", ts), Row(4L, "", " w ", ts))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3),
      StructType(Seq(StructField("id", LongType), StructField("v", StringType),
        StructField("w", StringType), StructField("ts", TimestampType))))
    val root = TempRoots.create("graft-csv-bytes")
    // the global sort the sink used before, as the oracle
    df.orderBy(col("id")).coalesce(1)
      .write.mode("overwrite").option("header", "true").csv(s"$root/oracle")
    val (_, jobs) = SparkJobs.during(spark)(
      Incremental.csvSink(df, s"$root/out", Seq("id")))
    assert(jobs == 1)
    def bytes(dir: String): Seq[Byte] = {
      val parts = new java.io.File(dir).listFiles()
        .filter(_.getName.endsWith(".csv"))
      assert(parts.length == 1, parts.toSeq)
      Files.readAllBytes(parts.head.toPath).toSeq
    }
    assert(bytes(s"$root/out") == bytes(s"$root/oracle"))
  }
}
