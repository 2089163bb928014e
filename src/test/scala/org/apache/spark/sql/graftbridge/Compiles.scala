package org.apache.spark.sql.graftbridge

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Test probe for the generated classes a call compiles. Spark updates
  * `CodegenMetrics.METRIC_COMPILATION_TIME` once per Janino compile and
  * never on a cache hit, so the histogram's count is the number of
  * classes compiled. The histogram keeps a decaying sample of the
  * times, not their sum, so the milliseconds come from
  * `CodeGenerator.compileTime`, which the same compile adds its
  * duration to. Both are JVM-wide: compiles made concurrently by
  * another caller count too. */
object Compiles {

  /** Classes compiled and milliseconds spent compiling them. */
  final case class Cost(classes: Long, ms: Double) {
    def +(o: Cost): Cost = Cost(classes + o.classes, ms + o.ms)
  }

  private def now(): (Long, Long) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)

  /** Runs `body` and returns its result with the compiles it made. */
  def during[T](body: => T): (T, Cost) = {
    val (n0, ns0) = now()
    val out = body
    val (n1, ns1) = now()
    (out, Cost(n1 - n0, (ns1 - ns0) / 1e6))
  }

  /** The entry bound of the JVM-wide generated-class cache, as built:
    * the cache reads `spark.sql.codegen.cache.maxEntries` once, at
    * the first compile in the JVM, so a session setting made after
    * that has no effect. Read by reflection from the cache itself. */
  def cacheCapacity: Long = {
    def field(o: AnyRef, cls: Class[_], name: String): AnyRef = {
      val f = cls.getDeclaredField(name)
      f.setAccessible(true)
      f.get(o)
    }
    val accessor = CodeGenerator.getClass.getDeclaredMethod("cache")
    accessor.setAccessible(true)
    val guava = field(accessor.invoke(CodeGenerator),
      classOf[org.apache.spark.util.NonFateSharingCache[_, _]], "cache")
    // Guava's LocalManualCache wraps the LocalCache that holds the bound
    var cls: Class[_] = guava.getClass
    while (!cls.getDeclaredFields.exists(_.getName == "localCache"))
      cls = cls.getSuperclass
    val local = field(guava, cls, "localCache")
    field(local, local.getClass, "maxWeight").asInstanceOf[Long]
  }
}
