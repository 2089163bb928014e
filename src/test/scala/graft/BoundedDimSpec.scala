package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.BoundedDim

/** The "small dim" single-partition window is only sound while the
  * distinct-combo cardinality stays bounded — BoundedDim.cappedKey makes
  * that executable. An oversized dim must fail loudly (pointing at the
  * entity-dim hash path), never silently funnel through one task. */
class BoundedDimSpec extends SparkSpec {

  test("cappedKey passes small dims through untouched") {
    import spark.implicits._
    val dim = Seq("a", "b", "c").toDF("v")
      .withColumn("k",
        BoundedDim.cappedKey(row_number().over(Window.orderBy("v")), "spec"))
    assert(rowsAsSet(dim.select("v", "k")) ==
      Set(Seq("a", 1), Seq("b", 2), Seq("c", 3)))
  }

  test("an entity-sized dim raises loudly instead of one-task keying") {
    import spark.implicits._
    val big = spark.range(200).toDF("id").withColumn("v", col("id"))
      .withColumn("k",
        BoundedDim.cappedKey(
          row_number().over(Window.orderBy("v")), "spec-oversize",
          maxCombos = 100L))
    // count() would prune `k` away — aggregate over it so the guard runs.
    // Spark surfaces raise_error as SparkRuntimeException (sometimes
    // wrapped in a task-failure SparkException) — match on message.
    val ex = intercept[Exception](big.agg(max("k")).head())
    val msg = Option(ex.getCause).fold(ex.getMessage)(_.getMessage)
    assert(msg.contains("spec-oversize") &&
      msg.contains("loadEntityDim"),
      s"expected the bounded-dim error, got: $msg")
  }

  test("loadDim past MaxCombos fails in the plan, before any dim write") {
    val path = graft.TempRoots.create("graft_bounded") + "/dim"
    val values = spark.range(BoundedDim.MaxCombos + 1)
      .select(col("id").cast("string").as("v"))
    val ex = intercept[Exception](graft.pipeline.Warehouse.loadDim(
      spark, path, values, "k", Seq("v")))
    val msg = Iterator.iterate[Throwable](ex)(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    assert(msg.contains(s"loadDim($path)") && msg.contains("loadEntityDim"),
      s"expected the bounded-dim error, got: $msg")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(path)))
  }
}
