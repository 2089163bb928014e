package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.GraftSession
import graft.ops.{CsvIngest, Ledger, TableStore, Upsert}
import graft.pipeline._

/** The benchmark's driver: one process, one closed-loop client, the
  * engine's public functions only.
  *
  * Both workloads run the same "day" of the paper's system — the nightly
  * warehouse run (`Warehouse.runWithLedger`), the correction loop
  * (`Reprocess.run`), the watermark export (`Export.run`) and a merge
  * into the versioned store that serves bronze-shaped reads
  * (`TableStore.append`/`merge`, `pointLookupString`, `readRange`) — and differ
  * in what the day ingests:
  *
  *  - `full_load`: every day starts from an empty warehouse and store and
  *    lands the whole customer base; the first day runs in a fresh JVM,
  *    as a nightly job does. Ingest, validation and the cold start
  *    dominate; nothing is merged against.
  *  - `daily_ticks`: set-up loads the base once; every day then lands a
  *    1% delta (half updates, half new ids), a 0.2% correction drop and a
  *    0.5% store merge. The rewrite cost of bronze/silver/gold and the
  *    per-job overhead dominate; ingest does little.
  *
  * Untraced runs time each operation as a whole. Traced runs replay
  * `runWithLedger` stage by stage through the public stage functions,
  * inside [[Recorder]] spans, and report per-layer numbers instead.
  *
  * Usage: Main <workload> <seed> <seconds> <trace 0|1> <work dir>
  *        <result file> <cores> <customers>
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, work: String, out: String,
                        cores: Int, customers: Int)

  def main(argv: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    require(argv.length == 8, "usage: Main <workload> <seed> <seconds> " +
      "<trace> <work> <out> <cores> <customers>")
    val a = Args(argv(0), argv(1).toLong, argv(2).toDouble, argv(3) == "1",
      argv(4), argv(5), argv(6).toInt, argv(7).toInt)
    require(Set("full_load", "daily_ticks")(a.workload),
      s"unknown workload ${a.workload}")
    val t0 = System.nanoTime()
    val spark = GraftSession.tune(SparkSession.builder()
      .master(s"local[${a.cores}]")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/spark-warehouse"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val rec = if (a.trace) Some(new Recorder(spark)) else None
    rec.foreach(spark.sparkContext.addSparkListener)
    val bench = new Bench(spark, a, rec)
    // the listener bus drains on stop, so spans are summarized after it
    val days = try bench.run(t0) finally spark.stop()
    Files.write(Paths.get(a.out), bench.report(days).getBytes("UTF-8"))
    rec.foreach(r => Files.write(Paths.get(s"${a.out}.spans.jsonl"),
      r.spanRows().map(_.json).asJava))
  }
}

/** One run of one workload; see [[Main]]. */
final class Bench(spark: SparkSession, a: Main.Args, rec: Option[Recorder]) {

  private val gen = new Gen(a.seed, a.customers)
  private val work = a.work
  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val failures = mutable.ArrayBuffer.empty[String]
  private var attempted = 0L
  private var failed = 0L
  // per timed store op: (files touched, files live, bytes written)
  private val storeEvidence =
    mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[(Double, Double, Double)]]

  private def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  /** Run `body` as one attempted operation: its wall time goes to
    * `metric` when `timed`, and it fails when it throws or `ok` says its
    * output is wrong. */
  private def op[T](metric: String, timed: Boolean)(body: => T)(ok: T => Boolean): Option[T] = {
    attempted += 1
    rec.foreach(_.nextOp(timed))
    val t0 = System.nanoTime()
    val out = try Some(body) catch {
      case e: Exception =>
        failures += s"$metric: ${e.getClass.getSimpleName}: ${e.getMessage}"
        e.printStackTrace()
        None
    }
    val dt = (System.nanoTime() - t0) / 1e9
    val good = out.exists { v =>
      try ok(v) || { failures += s"$metric: wrong output"; false }
      catch { case e: Exception => failures += s"$metric check: ${e.getMessage}"; false }
    }
    if (good && timed) sample(metric, dt)
    if (!good) failed += 1
    out.filter(_ => good)
  }

  private def span[T](name: String)(body: => T): T = rec match {
    case Some(r) => r.span(name)(body)
    case None => body
  }

  // ---------------- the day's operations ----------------

  private val LedgerSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "file_name STRING, size_bytes LONG, checksum STRING")

  /** `Warehouse.runWithLedger`'s chain, stage by stage, through the same
    * public functions in the same order (traced runs only). */
  private def replayNightly(landing: String, layers: Warehouse.Layers,
                            runDate: String): Option[DataFrame] = {
    val fs = new Path(landing).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (decisions, prior, toProcess) = span("ledger") {
      val scanned = Ledger.scan(spark, landing, "*.csv")
      Upsert.recoverCrashedSwap(spark, layers.ledger)
      val prior =
        if (fs.exists(new Path(layers.ledger)))
          spark.read.schema(LedgerSchema).parquet(layers.ledger)
        else spark.createDataFrame(java.util.Collections.emptyList[org.apache.spark.sql.Row](),
          LedgerSchema)
      val lazyDecisions = Ledger.decide(scanned, prior)
      val decisions = spark.createDataFrame(
        java.util.Arrays.asList(lazyDecisions.collect(): _*), lazyDecisions.schema)
      val toProcess = Ledger.toProcess(decisions).select("file_name")
        .collect().map(_.getString(0)).sorted.toIndexedSeq
      (decisions, prior, toProcess)
    }
    if (toProcess.isEmpty) return None
    val files = toProcess.map(n => new Path(landing, n))
    // loadStaging-equivalent: a lazy frame, so the CSV parse itself is
    // paid inside `validate`
    val staging = span("load") {
      Warehouse.ddlBootstrap(spark, layers)
      CsvIngest.ingestFiles(spark, files, ChurnSchema.staging).drop("src_file")
    }
    val (clean, haveData) = span("validate") {
      val c = Warehouse.validateStaging(spark, staging, layers, runDate)
      (c, !c.isEmpty)
    }
    if (haveData) {
      span("bronze_upsert")(Warehouse.upsertBronze(spark, clean, layers))
      span("bronze_dq")(Warehouse.dqBronzeCheck(spark, layers))
      span("silver")(Warehouse.refreshSilver(spark, layers))
      span("gold")(Warehouse.loadGold(spark, layers, runDate))
      span("gold_dq")(Warehouse.dqGoldCheck(spark, layers))
    }
    span("ledger") {
      val archive = new Path(landing, "archive")
      files.foreach(f => Ledger.archiveFile(fs, f, archive, runDate.replace("-", "")))
      val processed = decisions.filter(col("file_name").isin(toProcess: _*))
        .select("file_name", "size_bytes", "checksum")
      Upsert.atomicOverwrite(Ledger.update(prior, processed), layers.ledger)
      NotifyHook.Log.send(Notify.BatchStats("warehouse_run_ledger", Map(
        "files_processed" -> toProcess.size.toLong,
        "clean_rows" -> (if (haveData) clean.count() else 0L))))
    }
    if (haveData) Some(span("quality")(Quality.runAll(spark, layers))) else None
  }

  private def quarantined(layers: Warehouse.Layers, runDate: String): Long =
    if (!Files.exists(Paths.get(layers.quarantine))) 0L
    else spark.read.parquet(layers.quarantine)
      .filter(col("run_date") === runDate).count()

  /** The nightly run; its output must pass the whole quality corpus and
    * match the generator's bronze, fact and quarantine counts. */
  private def nightly(landing: String, layers: Warehouse.Layers,
                      runDate: String, want: gen.Landing, timed: Boolean): Unit =
    op("nightly_s", timed) {
      val q = if (rec.isDefined) replayNightly(landing, layers, runDate)
        else Warehouse.runWithLedger(spark, landing, layers, runDate)._2
      q.map(_.collect().map(r => (s"${r.getString(0)}.${r.getString(1)}",
        r.getLong(2), r.getBoolean(3))).toSeq)
    } { q =>
      val checks = q.getOrElse(Nil)
      val value = checks.map { case (n, v, _) => n -> v }.toMap
      val bad = checks.filterNot(_._3).map(_._1)
      if (bad.nonEmpty) failures += s"nightly_s: quality checks failed: ${bad.mkString(",")}"
      val got = (value.get("bronze.total_rows"), value.get("gold.fact_rows"),
        quarantined(layers, runDate))
      val exp = (Some(want.bronze), Some(want.bronze), want.quarantined)
      if (got != exp) failures += s"nightly_s: (bronze, fact, quarantined) $got != $exp"
      checks.nonEmpty && bad.isEmpty && got == exp
    }

  private def reprocess(dir: String, layers: Warehouse.Layers,
                        want: (Long, Long), timed: Boolean): Unit =
    op("reprocess_s", timed)(span("reprocess")(Reprocess.run(spark, dir, layers))) { got =>
      if (got != want) failures += s"reprocess_s: (accepted, rejected) $got != $want"
      got == want
    }

  private val TsFormat = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
    .withZone(ZoneOffset.UTC)

  private def export(layers: Warehouse.Layers, want: Long, timed: Boolean): Unit =
    op("export_s", timed) {
      val runTs = TsFormat.format(Instant.now())
      span("export") {
        val bronze = spark.read.schema(ChurnSchema.bronze).parquet(layers.bronze)
        Export.run(spark, bronze, s"${layers.root}_export/watermark",
          s"${layers.root}_export/out", runTs)
      }
    } { n =>
      if (n != want) failures += s"export_s: exported $n != $want"
      n == want
    }

  private val StoreKey = "customer_id"

  /** The day's write into the versioned store: the first write of a
    * store is a bulk append, every later one a merge on the key. */
  private def storeWrite(store: String, rows: Seq[org.apache.spark.sql.Row],
                         timed: Boolean): Unit = {
    val b0 = Recorder.bytesWritten()
    op("store_write_s", timed)(span("tablestore.write") {
      val df = spark.createDataFrame(rows.asJava, gen.storeSchema)
      if (Files.exists(Paths.get(store)))
        TableStore.merge(df, store, StoreKey, statsCols = Seq("key_num"), bloomCols = Seq(StoreKey))
      else TableStore.append(df, store, statsCols = Seq("key_num"), bloomCols = Seq(StoreKey))
    })(_ => true).foreach { _ =>
      if (rec.isDefined && timed) {
        val h = TableStore.history(spark, store).orderBy(desc("version")).head()
        val (_, _, live) = TableStore.readRange(spark, store, "key_num", 0L, 0L)
        storeEvidence.getOrElseUpdate("write", mutable.ArrayBuffer.empty) +=
          ((h.getAs[Long]("n_removed").toDouble, live.toDouble,
            (Recorder.bytesWritten() - b0).toDouble))
      }
    }
  }

  private def evidence(kind: String, touched: Int, live: Int, timed: Boolean): Unit =
    if (timed) storeEvidence.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) +=
      ((touched.toDouble, live.toDouble, 0.0))

  /** Point lookups and as many narrow range reads; every answer is
    * checked against the generator's copy of the store. */
  private def reads(store: String, round: Int, timed: Boolean): Unit = {
    (0 until Bench.Reads).foreach { j =>
      val (id, tenure, charges) = gen.lookupProbe(round, j)
      op("lookup_p50_s", timed)(span("tablestore.lookup") {
        val (df, touched, live) = TableStore.pointLookupString(spark, store, StoreKey, Seq(id))
        evidence("lookup", touched, live, timed)
        df.select("tenure_in_months", "monthly_charges_amount").collect()
      }) { rows =>
        rows.length == 1 && rows(0).getDouble(0) == tenure && rows(0).getDouble(1) == charges
      }
    }
    (0 until Bench.Reads).foreach { j =>
      val (lo, hi, wantN, wantSum) = gen.rangeProbe(round, j)
      op("range_p50_s", timed)(span("tablestore.range") {
        val (df, touched, live) = TableStore.readRange(spark, store, "key_num", lo, hi)
        evidence("range", touched, live, timed)
        df.agg(count(lit(1)), coalesce(sum("tenure_in_months"), lit(0.0))).head()
      }) { r => r.getLong(0) == wantN && r.getDouble(1) == wantSum }
    }
  }

  /** Disk bytes under `root` per byte of the files a read of `live`
    * opens. */
  private def spaceAmp(root: String, live: Seq[DataFrame]): Double = {
    val liveBytes = live.flatMap(_.inputFiles).distinct
      .map(f => Files.size(Paths.get(new java.net.URI(f)))).sum
    Recorder.diskBytes(root).toDouble / liveBytes.max(1L)
  }

  private def layerReads(layers: Warehouse.Layers): Seq[DataFrame] =
    (Seq(layers.bronze, layers.silver, layers.fact) ++
      Seq("customer", "contract", "payment_method", "churn_reason", "services")
        .map(layers.dim)).map(spark.read.parquet(_))

  /** One day: nightly, corrections, export, store write, reads. The
    * write amplification counts every byte the warehouse side writes
    * per byte landed that day. */
  private def day(landing: String, layers: Warehouse.Layers, runDate: String,
                  want: gen.Landing, fixDir: String, fixes: (Long, Long, Long),
                  store: String, storeRows: Seq[org.apache.spark.sql.Row],
                  round: Int, timed: Boolean): Unit = {
    val t0 = System.nanoTime()
    val b0 = Recorder.bytesWritten()
    nightly(landing, layers, runDate, want, timed)
    reprocess(fixDir, layers, (fixes._2, fixes._3), timed)
    export(layers, want.exported, timed)
    if (timed) sample("write_amp",
      (Recorder.bytesWritten() - b0).toDouble / (want.bytes + fixes._1))
    storeWrite(store, storeRows, timed)
    reads(store, round, timed)
    if (timed) {
      sample("day_s", (System.nanoTime() - t0) / 1e9)
      sample("wh_space_amp", spaceAmp(layers.root, layerReads(layers)))
      sample("store_space_amp", spaceAmp(store, Seq(TableStore.read(spark, store))))
    }
  }

  private def deleteTree(p: String): Unit = {
    val root = Paths.get(p)
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.iterator.asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
    }
  }

  private def runDate(t: Int): String =
    java.time.LocalDate.parse("2026-01-01").plusDays(t.toLong).toString

  // ---------------- workloads ----------------

  /** Set up and measure; returns the number of measured days. */
  def run(jvmStart: Long): Int = a.workload match {
    case "full_load" => fullLoad(jvmStart)
    case "daily_ticks" => dailyTicks(jvmStart)
  }

  private var setupS = 0.0
  private var mark: Interference.Mark = _
  private var measureNs = 0L
  private var overhead0 = 0L
  private var interference = Map.empty[String, Double]

  /** Measure whole days while the next one (assumed as long as the last)
    * fits in the run's seconds; at least one. */
  private def measured(body: Int => Unit): Int = {
    mark = Interference.mark()
    overhead0 = rec.map(_.overheadNs).getOrElse(0L)
    val t0 = System.nanoTime()
    var i = 0
    var last = 0.0
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (i == 0 || elapsed + last <= a.seconds) {
      val d0 = elapsed
      i += 1; body(i)
      last = elapsed - d0
    }
    measureNs = System.nanoTime() - t0
    interference = Interference.since(mark)
    i
  }

  private def fullLoad(jvmStart: Long): Int = {
    val src = s"$work/landing_src"
    val base = gen.baseLanding(src)
    val storeRows = gen.storeBase()
    setupS = (System.nanoTime() - jvmStart) / 1e9
    measured { i =>
      val landing = s"$work/day$i/landing"
      Files.createDirectories(Paths.get(landing))
      Files.list(Paths.get(src)).iterator.asScala.foreach(f =>
        Files.copy(f, Paths.get(landing).resolve(f.getFileName), StandardCopyOption.REPLACE_EXISTING))
      val fixes = gen.corrections(s"$work/day$i/fix", i)
      day(landing, Warehouse.Layers(s"$work/day$i/wh"), runDate(0), base,
        s"$work/day$i/fix", fixes, s"$work/day$i/store", storeRows, i, timed = true)
      deleteTree(s"$work/day$i")
    }
  }

  private def dailyTicks(jvmStart: Long): Int = {
    val landing = s"$work/landing"
    val layers = Warehouse.Layers(s"$work/wh")
    val store = s"$work/store"
    // set-up: the base load, the first export window and the store's
    // first content, untimed but checked
    val base = gen.baseLanding(landing)
    nightly(landing, layers, runDate(0), base, timed = false)
    export(layers, base.exported, timed = false)
    storeWrite(store, gen.storeBase(), timed = false)
    setupS = (System.nanoTime() - jvmStart) / 1e9
    measured { t =>
      val want = gen.deltaLanding(landing, t)
      val fixes = gen.corrections(s"$work/fix$t", t)
      day(landing, layers, runDate(t), want, s"$work/fix$t", fixes, store,
        gen.storeBatch(t), t, timed = true)
    }
  }

  // ---------------- report ----------------

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  private def json(m: Seq[(String, String)]): String =
    m.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")

  private def metric(v: Double, unit: String): String =
    json(Seq("value" -> num(v), "unit" -> s""""$unit""""))

  /** The run's JSON: `detail` (every metric with its sample count, the
    * interference evidence, failures) and `result` (the metrics of this
    * run's kind). */
  def report(days: Int): String = {
    // every timing and ratio the run sampled; the result line carries
    // the ones BENCHMARK.json guards
    val e2e: Seq[(String, String, Double, Int)] =
      ("setup_s", "s", setupS, 1) +: samples.toSeq.map { case (n, xs) =>
        (n, if (n.endsWith("_s")) "s" else "ratio", median(xs.toSeq), xs.size)
      }
    val layer: Seq[(String, String, Double, Int)] = rec.toSeq.flatMap { r =>
      val rows = r.summary().filterNot(_.op == 0)
      val stage = Bench.Stages.flatMap { s =>
        val rs = rows.filter(_.name == s)
        def m(f: r.Row => Double) = median(rs.map(f))
        Seq((s"$s.wall_s", "s", m(_.wallS), rs.size), (s"$s.jobs", "count", m(_.jobs), rs.size),
          (s"$s.task_s", "s", m(_.taskS), rs.size), (s"$s.gap_s", "s", m(_.gapS), rs.size)) ++
          (if (Bench.WriteStages(s)) Seq(
            (s"$s.bytes_written", "bytes", m(_.bytesWritten.toDouble), rs.size),
            (s"$s.rows_out", "rows", m(_.rowsOut.toDouble), rs.size))
          else Nil)
      }
      val store = Seq("lookup", "range", "write").flatMap { k =>
        val ev = storeEvidence.getOrElse(k, mutable.ArrayBuffer.empty).toSeq
        val rs = rows.filter(_.name == s"tablestore.$k")
        val jobs = rs.map(_.jobs.toDouble)
        Seq((s"tablestore.$k.wall_s", "s", median(rs.map(_.wallS)), rs.size),
          (s"tablestore.$k.files_touched", "count", median(ev.map(_._1)), ev.size),
          (s"tablestore.$k.files_live", "count", median(ev.map(_._2)), ev.size),
          (s"tablestore.$k.jobs", "count", median(jobs), jobs.size)) ++
          (if (k == "write") Seq((s"tablestore.$k.bytes_written", "bytes",
            median(ev.map(_._3)), ev.size)) else Nil)
      }
      val overhead = (r.overheadNs - overhead0) / measureNs.toDouble
      stage ++ store :+ ("trace.overhead_frac", "ratio", overhead, 1)
    }
    val shown = if (a.trace) layer else e2e
    val detail = json(Seq(
      "workload" -> s""""${a.workload}"""", "seed" -> a.seed.toString,
      "trace" -> a.trace.toString, "cores" -> a.cores.toString,
      "customers" -> a.customers.toString, "days" -> days.toString,
      "metrics" -> json((e2e ++ layer).map { case (n, u, v, k) =>
        n -> json(Seq("value" -> num(v), "unit" -> s""""$u"""", "n" -> k.toString)) }),
      "interference" -> json(interference.toSeq.sortBy(_._1).map { case (k, v) => k -> num(v) }),
      "failures" -> failures.map(f => "\"" + f.replace("\\", "\\\\").replace("\"", "'")
        .replace("\n", " ") + "\"").mkString("[", ",", "]")))
    json(Seq("detail" -> detail,
      "result" -> json(Seq(
        "correct" -> (failed == 0).toString,
        "attempted" -> attempted.toString, "failed" -> failed.toString,
        "metrics" -> json(shown.map { case (n, u, v, _) => n -> metric(v, u) })))))
  }
}

object Bench {
  /** Point lookups per day, and range reads per day. */
  val Reads = 8

  val Stages: Seq[String] = Seq("ledger", "load", "validate", "bronze_upsert",
    "bronze_dq", "silver", "gold", "gold_dq", "quality", "reprocess", "export")
  val WriteStages: Set[String] = Set("ledger", "validate", "bronze_upsert",
    "silver", "gold", "reprocess", "export")
}
