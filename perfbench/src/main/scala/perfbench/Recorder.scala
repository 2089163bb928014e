package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Spans and counters for the traced run, recorded from the benchmark's
  * side of each call into the engine.
  *
  * A span is one call into a layer (a pipeline stage, a store op). The
  * client thread tags every Spark job it submits with the open span's
  * id through a local property, so the listener attributes jobs, task
  * time and written records to spans exactly, however late its events
  * arrive. Bytes written come from Hadoop's file-system counters, taken
  * on the client thread at the span's edges. Everything stays in memory
  * until [[summary]], which must run after `SparkContext.stop()` (stop
  * drains the listener bus, so no event is missing). */
final class Recorder(spark: SparkSession) extends SparkListener {
  private val Key = "perfbench.span"

  private final case class Job(span: String, start: Long, var end: Long,
                               var taskMs: Long = 0L, var records: Long = 0L)
  private val jobs = mutable.Map.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Int]
  private var listenerNs = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val t = System.nanoTime()
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Key)))
    span.foreach { s =>
      jobs(e.jobId) = Job(s, e.time, e.time)
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }
    listenerNs += System.nanoTime() - t
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val t = System.nanoTime()
    for (j <- stageJob.get(e.stageId).flatMap(jobs.get); m <- Option(e.taskMetrics)) {
      j.taskMs += m.executorRunTime
      j.records += m.outputMetrics.recordsWritten
    }
    listenerNs += System.nanoTime() - t
  }

  /** One finished span: `op` numbers the enclosing operation, so a stage
    * entered twice in one operation (the ledger) sums within it. */
  final case class Span(name: String, op: Int, id: String, startMs: Long,
                        endMs: Long, wallNs: Long, bytesWritten: Long)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var clientNs = 0L
  private var op = 0

  private var ops = 0

  /** Start the next operation (a nightly run, a tick's reprocess, …);
    * spans of untimed operations land in op 0. */
  def nextOp(timed: Boolean): Unit =
    op = if (timed) { ops += 1; ops } else 0

  def span[T](name: String)(body: => T): T = {
    val c0 = System.nanoTime()
    val sc = spark.sparkContext
    val id = s"$name#${spans.size}#$op"
    val prev = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, id)
    val b0 = Recorder.bytesWritten()
    val s0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    clientNs += t0 - c0
    try body
    finally {
      val t1 = System.nanoTime()
      val s1 = System.currentTimeMillis()
      spans += Span(name, op, id, s0, s1, t1 - t0, Recorder.bytesWritten() - b0)
      sc.setLocalProperty(Key, prev)
      clientNs += System.nanoTime() - t1
    }
  }

  /** Recorder bookkeeping time, on the client thread and on the
    * listener thread. */
  def overheadNs: Long = synchronized(clientNs + listenerNs)

  final case class Row(name: String, op: Int, startMs: Long, wallS: Double,
                       jobs: Int, taskS: Double, gapS: Double,
                       bytesWritten: Long, rowsOut: Long) {
    def json: String =
      s"""{"span":"$name","op":$op,"start_ms":$startMs,"wall_s":$wallS,""" +
        s""""jobs":$jobs,"task_s":$taskS,"gap_s":$gapS,""" +
        s""""bytes_written":$bytesWritten,"rows_out":$rowsOut}"""
  }

  /** One row per span, in the order the spans closed. */
  def spanRows(): Seq[Row] = synchronized {
    val byId = jobs.values.groupBy(_.span)
    spans.toSeq.map { s =>
      val js = byId.getOrElse(s.id, Nil).toSeq
      // driver time outside every job: span wall minus the union of its
      // jobs' intervals (clipped to the span)
      val iv = js.map(j => (j.start.max(s.startMs), j.end.min(s.endMs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L; var reach = Long.MinValue
      iv.foreach { case (a, b) =>
        val from = a.max(reach)
        if (b > from) covered += b - from
        reach = reach.max(b)
      }
      val wall = s.wallNs / 1e9
      Row(s.name, s.op, s.startMs, wall, js.size, js.map(_.taskMs).sum / 1e3,
        (wall - covered / 1e3).max(0.0), s.bytesWritten, js.map(_.records).sum)
    }
  }

  /** Per (span name, operation) totals. */
  def summary(): Seq[Row] =
    spanRows().groupBy(r => (r.name, r.op)).values.map(_.reduce((a, b) =>
      a.copy(wallS = a.wallS + b.wallS, jobs = a.jobs + b.jobs,
        taskS = a.taskS + b.taskS, gapS = a.gapS + b.gapS,
        bytesWritten = a.bytesWritten + b.bytesWritten,
        rowsOut = a.rowsOut + b.rowsOut))).toSeq.sortBy(_.op)
}

object Recorder {
  /** Bytes written through Hadoop's local file system, process-wide. */
  def bytesWritten(): Long =
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesWritten).sum

  /** Bytes on disk under `dir` (0 when it does not exist). */
  def diskBytes(dir: String): Long = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.iterator.asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(java.nio.file.Files.size).sum
      finally s.close()
    }
  }
}

/** Evidence that something else disturbed a run: CPU time stolen by the
  * hypervisor and spent waiting on IO across the machine (from
  * /proc/stat), the load average, and this JVM's GC time. */
object Interference {
  private def cpuLine(): Array[Long] = {
    val p = java.nio.file.Paths.get("/proc/stat")
    if (!java.nio.file.Files.isReadable(p)) Array.fill(10)(0L)
    else {
      val l = java.nio.file.Files.readAllLines(p).asScala.head
      l.trim.split("\\s+").drop(1).map(_.toLong).padTo(10, 0L)
    }
  }
  private def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime.max(0L)).sum

  final case class Mark(cpu: Array[Long], gcMs: Long, nanos: Long)
  def mark(): Mark = Mark(cpuLine(), gcMs(), System.nanoTime())

  /** Deltas since `m`, as seconds of CPU (USER_HZ = 100) and wall. */
  def since(m: Mark): Map[String, Double] = {
    val now = mark()
    val d = now.cpu.zip(m.cpu).map { case (a, b) => a - b }
    val total = d.sum.max(1L).toDouble
    val load = {
      val p = java.nio.file.Paths.get("/proc/loadavg")
      if (java.nio.file.Files.isReadable(p))
        new String(java.nio.file.Files.readAllBytes(p)).trim.split(" ")(0).toDouble
      else -1.0
    }
    Map("wall_s" -> (now.nanos - m.nanos) / 1e9,
      "iowait_s" -> d(4) / 100.0, "steal_s" -> d(7) / 100.0,
      "iowait_frac" -> d(4) / total, "steal_frac" -> d(7) / total,
      "loadavg_1m" -> load, "gc_s" -> (now.gcMs - m.gcMs) / 1e3)
  }
}
