package graft

import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.Path
import org.apache.parquet.column.values.bloomfilter.BloomFilter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.rng.Seed
import graft.ops.TableStore

/** Differential check of the store's bloom probe, which reads one
  * 32-byte block per distinct hash, against parquet-mr's whole-filter
  * read and `findHash`. Random files carry INT32, INT64 and BINARY
  * bloom columns of random bloom size in several row groups, next to
  * an INT64 column without a bloom; every chunk is probed with held,
  * absent and null values, alone and in lists, and both answers must
  * agree exactly, false positives included.
  */
class BloomProbeSpec extends SparkSpec {

  /** One file set: rows (i, l, s, y), bloom bytes, files. */
  private case class Shape(rows: Seq[(Option[Int], Option[Long],
                                      Option[String], Long)],
                           bloomBytes: Int, files: Int)

  private val genShape: Gen[Shape] = for {
    n <- Gen.choose(150, 500)
    ks <- Gen.listOfN(n, Gen.choose(-5000L, 5000L))
    nulls <- Gen.listOfN(n, Gen.choose(0, 14))
    bytes <- Gen.oneOf(32, 64, 256, 2048)
    files <- Gen.choose(1, 2)
  } yield Shape(ks.indices.map { j =>
    val k = ks(j)
    (if (nulls(j) == 0) None else Some(k.toInt * 7),
      if (nulls(j) == 1) None else Some(k * 1000003L),
      if (nulls(j) == 2) None else Some(s"key-$k"), k)
  }, bytes, files)

  /** Parquet-mr's answer: the whole filter, hashed by physical type. */
  private def whole(bf: BloomFilter, t: Any, vs: Seq[Any]): Boolean =
    bf == null || vs.exists(v => v != null && ((t, v) match {
      case (INT64, l: java.lang.Long) => bf.findHash(bf.hash(l.longValue))
      case (INT32, l: java.lang.Long) => bf.findHash(bf.hash(l.intValue))
      case (BINARY, s: String) => bf.findHash(bf.hash(Binary.fromString(s)))
      case _ => true
    }))

  test("a one-block bloom probe answers exactly as parquet-mr's " +
    "whole-filter findHash") {
    val s = spark; import s.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    var groups, refuted, bloomless = 0
    val params = SCTest.Parameters.default
      .withMinSuccessfulTests(6)
      .withInitialSeed(Seed(20261018L))
    val prop = Prop.forAllNoShrink(genShape, Gen.long) { (shape, salt) =>
      val dir = TempRoots.create("graft_bloomprobe") + "/f"
      val w = shape.rows.toDF("i", "l", "s", "y").repartition(shape.files)
        .write
        // small row groups: parquet checks the size every 100 rows
        .option("parquet.block.size", "1024")
        .option("parquet.bloom.filter.max.bytes", shape.bloomBytes.toString)
      Seq("i", "l", "s").foldLeft(w)((w, c) =>
        w.option(s"parquet.bloom.filter.enabled#$c", "true"))
        .parquet(dir)
      val rnd = new scala.util.Random(salt)
      val held = shape.rows.map(_._4)
      def probes(f: Long => Any): Seq[Seq[Any]] = {
        val one = Seq.fill(6)(f(held(rnd.nextInt(held.size)))) ++
          Seq.fill(6)(f(rnd.nextLong() % 100000L)) :+ null
        one.map(Seq(_)) ++ Seq.fill(4)(Seq.fill(3)(one(rnd.nextInt(one.size))))
      }
      val byCol = Map[String, Seq[Seq[Any]]](
        "i" -> probes(k => java.lang.Long.valueOf(k.toInt * 7L)),
        "l" -> probes(k => java.lang.Long.valueOf(k * 1000003L)),
        "s" -> probes(k => s"key-$k"),
        "y" -> probes(k => java.lang.Long.valueOf(k)))
      val fs = new Path(dir).getFileSystem(conf)
      fs.listStatus(new Path(dir)).map(_.getPath)
        .filter(_.getName.endsWith(".parquet")).foreach { p =>
          val reader = ParquetFileReader.open(
            HadoopInputFile.fromPath(p, conf))
          val probe = new TableStore.BloomProbe(spark, p.toString)
          try reader.getFooter.getBlocks.asScala.foreach { block =>
            groups += 1
            block.getColumns.asScala.foreach { cc =>
              val bf = reader.readBloomFilter(cc)
              if (bf == null) bloomless += 1
              val t = cc.getPrimitiveType.getPrimitiveTypeName
              byCol(cc.getPath.toDotString).foreach { vs =>
                val want = whole(bf, t, vs)
                if (!want) refuted += 1
                assert(probe.mayHold(cc, vs) == want,
                  s"${cc.getPath} in $p: probe of $vs disagrees")
              }
            }
          } finally { probe.close(); reader.close() }
        }
      true
    }
    val res = SCTest.check(params, prop)
    assert(res.passed, s"bloom probes failed: $res")
    assert(groups > 12, s"only $groups row groups")
    assert(refuted > 0 && bloomless > 0,
      s"vacuous: $refuted refutations, $bloomless bloomless chunks")
  }
}
