package graft

import org.apache.spark.sql.functions._
import graft.ops.Compaction
import graft.pipeline.{Diagnostics, Warehouse}

/** Layer maintenance: diagnostics probes (F20) and small-file
  * compaction — both metadata-driven, both safe to run anytime. */
class MaintenanceSpec extends SparkSpec {

  test("diagnostics probe layers like to_regclass: missing = false, not error") {
    val root = graft.TempRoots
      .create("graft_diag")
    val layers = Warehouse.Layers(root)
    // only bronze materialized
    spark.range(10).toDF("id").write.parquet(layers.bronze)
    val probes = Diagnostics.probeLayers(spark, layers).collect()
      .map(r => r.getString(0) -> r.getBoolean(2)).toMap
    assert(probes("bronze"))
    assert(!probes("silver") && !probes("fact"))
    // the gold dims are probed too
    spark.range(3).toDF("contract_key").write.parquet(layers.dim("contract"))
    val dimProbes = Diagnostics.probeLayers(spark, layers).collect()
      .map(r => r.getString(0) -> r.getBoolean(2)).toMap
    assert(dimProbes("dim_contract") && !dimProbes("dim_customer"))
    val bronzeRow = Diagnostics.probeLayers(spark, layers)
      .filter(col("layer") === "bronze").head()
    assert(bronzeRow.getLong(3) > 0 && bronzeRow.getLong(4) > 0,
      "existing layer must report files and bytes")
  }

  test("diagnostics LIKE discovery finds layer dirs case-insensitively") {
    val root = graft.TempRoots
      .create("graft_diag2")
    val layers = Warehouse.Layers(root)
    spark.range(1).toDF("id").write.parquet(layers.quarantine)
    spark.range(1).toDF("id").write.parquet(layers.reprocessQuarantine)
    spark.range(1).toDF("id").write.parquet(layers.bronze)
    val found = Diagnostics.findLayers(spark, root, "%QUARantine%")
      .collect().map(_.getString(0)).toSeq
    assert(found == Seq("quarantine", "quarantine_reprocess"))
  }

  test("compaction collapses accumulated small files, preserves rows atomically") {
    val dir = graft.TempRoots
      .create("graft_compact") + "/layer"
    // simulate 20 tiny appended batches → ≥20 files
    (0 until 20).foreach { i =>
      spark.range(i * 100L, (i + 1) * 100L).toDF("id")
        .coalesce(1).write.mode("append").parquet(dir)
    }
    val before = spark.read.parquet(dir)
    val filesBefore = before.inputFiles.length
    assert(filesBefore >= 20, s"fixture should be fragmented: $filesBefore")
    val sumBefore = before.agg(sum("id")).head().getLong(0)
    val n = Compaction.compact(spark, dir, targetBytes = 128L * 1024 * 1024)
    assert(n == 1, s"2000 tiny rows should compact to 1 file, got $n")
    val after = spark.read.parquet(dir)
    assert(after.inputFiles.length == 1)
    assert(after.count() == 2000L)
    assert(after.agg(sum("id")).head().getLong(0) == sumBefore)
    // near-empty guard: second run under minBytes is a no-op
    assert(Compaction.compact(spark, dir, 128L * 1024 * 1024,
      minBytes = 1L << 40) == 0)
  }

  test("retention expiry: dry-run plans without deleting, the real run " +
      "drops exactly the sub-threshold partitions, re-run is a no-op") {
    import graft.ops.Partitioned
    val dir = graft.TempRoots
      .create("graft_expire") + "/fact"
    val df = spark.range(0, 400).selectExpr("id",
      "concat('2024-0', 1 + CAST(id % 4 AS INT)) AS run_month")
    Partitioned.writeBy(df, dir, "run_month")
    val dry = Partitioned.expireSlices(spark, dir, "run_month",
      keepFrom = "2024-03", dryRun = true)
    assert(dry == Seq("2024-01" -> "would_expire",
      "2024-02" -> "would_expire", "2024-03" -> "kept",
      "2024-04" -> "kept"))
    assert(spark.read.parquet(dir).count() == 400,
      "dry run must not delete anything")
    val real = Partitioned.expireSlices(spark, dir, "run_month",
      keepFrom = "2024-03")
    assert(real.map(_._2) ==
      Seq("expired", "expired", "kept", "kept"))
    val back = spark.read.parquet(dir)
    assert(back.count() == 200)
    assert(rowsAsSet(back.select("run_month").distinct()) ==
      Set(Seq("2024-03"), Seq("2024-04")))
    // idempotent retry: the expired directories are simply absent
    assert(Partitioned.expireSlices(spark, dir, "run_month", "2024-03")
      == Seq("2024-03" -> "kept", "2024-04" -> "kept"))
    // missing store: empty manifest, not an error
    assert(Partitioned.expireSlices(spark, dir + "_nope", "run_month",
      "2024-03").isEmpty)
  }
}
