package graft

import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.Path
import org.apache.parquet.column.values.bloomfilter.BloomFilter
import org.apache.parquet.format.Util
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.spark.sql.functions.{col, format_string}
import org.apache.spark.sql.sources.In
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.rng.Seed
import graft.ops.TableStore

/** Differential check of the store's bloom probe, which reads one
  * 32-byte block per distinct hash, against parquet-mr's whole-filter
  * read and `findHash`. Random files carry INT32, INT64 and BINARY
  * bloom columns of random bloom size in several row groups, next to
  * an INT64 column without a bloom; the same rows are also written
  * through the store's own writer ([[TableStore.append]]), whose
  * blooms take whatever size parquet's adaptive writer kept. Every
  * chunk is probed with held, absent and null values, alone and in
  * lists, and both answers must agree exactly, false positives
  * included.
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
    // the store's files keep their own counts: one row group each, with
    // a 1 MB bloom that refutes nearly every absent key, they must not
    // stand in for the small-block random files in the guards below
    var storeChunks, storeRefuted = 0
    val params = SCTest.Parameters.default
      .withMinSuccessfulTests(6)
      .withInitialSeed(Seed(20261018L))
    val prop = Prop.forAllNoShrink(genShape, Gen.long) { (shape, salt) =>
      val dir = TempRoots.create("graft_bloomprobe") + "/f"
      val df = shape.rows.toDF("i", "l", "s", "y").repartition(shape.files)
      val w = df.write
        // small row groups: parquet checks the size every 100 rows
        .option("parquet.block.size", "1024")
        .option("parquet.bloom.filter.max.bytes", shape.bloomBytes.toString)
      Seq("i", "l", "s").foldLeft(w)((w, c) =>
        w.option(s"parquet.bloom.filter.enabled#$c", "true"))
        .parquet(dir)
      val store = TempRoots.create("graft_bloomprobe") + "/t"
      TableStore.append(df, store, bloomCols = Seq("i", "l", "s"))
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
      val stored = TableStore.liveAt(spark, store, 1L)
        .map(e => new Path(TableStore.resolve(store, e.path)))
      val random = fs.listStatus(new Path(dir)).map(_.getPath)
        .filter(_.getName.endsWith(".parquet"))
      (random.map(_ -> false) ++ stored.map(_ -> true)).foreach {
        case (p, isStore) =>
          val reader = ParquetFileReader.open(
            HadoopInputFile.fromPath(p, conf))
          val probe = new TableStore.BloomProbe(spark, p.toString)
          try reader.getFooter.getBlocks.asScala.foreach { block =>
            if (!isStore) groups += 1
            block.getColumns.asScala.foreach { cc =>
              val bf = reader.readBloomFilter(cc)
              if (isStore && bf != null) storeChunks += 1
              if (!isStore && bf == null) bloomless += 1
              val t = cc.getPrimitiveType.getPrimitiveTypeName
              byCol(cc.getPath.toDotString).foreach { vs =>
                val want = whole(bf, t, vs)
                if (!want) { if (isStore) storeRefuted += 1 else refuted += 1 }
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
    assert(storeChunks > 0 && storeRefuted > 0, s"vacuous store files: " +
      s"$storeChunks bloom chunks, $storeRefuted refutations")
  }

  test("a store file with more than 583k distinct keys keeps a bloom " +
    "over 1 MB, and absent keys still refute it") {
    val root = TempRoots.create("graft_bloomwide") + "/t"
    // a 1 MB bloom holds about 583k keys at fpp 0.001
    TableStore.append(spark.range(700000L)
      .select(format_string("key-%d", col("id")).as("k")).coalesce(1),
      root, bloomCols = Seq("k"))
    val Seq(entry) = TableStore.liveAt(spark, root, 1L)
    val path = new Path(TableStore.resolve(root, entry.path))
    val conf = spark.sparkContext.hadoopConfiguration
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(path, conf))
    val in = path.getFileSystem(conf).open(path)
    val probe = new TableStore.BloomProbe(spark, path.toString)
    try {
      val chunks = reader.getFooter.getBlocks.asScala.toSeq
        .map(_.getColumns.get(0))
      chunks.foreach { cc =>
        in.seek(cc.getBloomFilterOffset)
        val bytes = Util.readBloomFilterHeader(in).getNumBytes
        assert(bytes > (1 << 20), s"a $bytes-byte bloom for 700k keys")
      }
      def mayHold(v: String) = chunks.exists(probe.mayHold(_, Seq(v)))
      assert(Seq("key-0", "key-350000", "key-699999").forall(mayHold))
      val absent = (0 until 200).map(j => s"absent-$j")
      val refuted = absent.filterNot(mayHold)
      assert(refuted.size >= absent.size - 2,
        s"only ${refuted.size} of ${absent.size} absent keys refuted")
      assert(TableStore.readWhere(spark, root,
        Seq(In("k", Array[Any](refuted.head))))._2 == 0)
    } finally { probe.close(); in.close(); reader.close() }
  }
}
