package graft.sources

import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Row, SaveMode, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Segment
import graft.lineage.SegmentStore

/** Golden stored bytes: two fixed, seeded tables written through
  * `format("graft")`, appended to once and compacted, must store exactly
  * the segments they stored when the constants below were recorded. The
  * hash reads decoded parquet values (per stream: codec, payload, bloom,
  * `nValues`, min/max) plus each file's `graft.filebloom.*` footer values,
  * so a change of the parquet container alone keeps it green, while any
  * change of sort order, chunk boundaries, codec choice or kernel bytes
  * turns it red. A change that moves segment boundaries on purpose
  * re-records the constants and says so. */
class GoldenStoredBytesSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val Buckets = 3
  private val TokensPerChunk = 8192

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-golden-spec").toString

  private val canonicalSchema = StructType(Seq(
    StructField("doc_id", StringType, nullable = false),
    StructField("tokens", ArrayType(IntegerType, containsNull = false), nullable = false),
    StructField("n_tok", IntegerType, nullable = false),
    StructField("source", StringType, nullable = false)))

  private val metaSchema = StructType(canonicalSchema.fields ++ Seq(
    StructField("score", LongType),
    StructField("tags", ArrayType(StringType, containsNull = true)),
    StructField("attrs", MapType(StringType, IntegerType, valueContainsNull = true)),
    StructField("info", StructType(Seq(
      StructField("lang", StringType), StructField("w", DoubleType)))),
    StructField("blob", BinaryType)))

  /** `n` rows with doc ids from `first` on: skewed lengths, a small hot
    * vocabulary with repeat runs, and (for the metadata table) nulls at
    * the row, list-element, map-value and struct-member level. */
  private def rows(seed: Long, first: Int, n: Int, withMeta: Boolean): Seq[Row] = {
    val rnd = new scala.util.Random(seed)
    (first until first + n).map { i =>
      val len = if (rnd.nextInt(10) == 0) 200 + rnd.nextInt(600) else rnd.nextInt(60)
      val tokens = new Array[Int](len)
      var k = 0
      while (k < len) {
        tokens(k) =
          if (k > 0 && rnd.nextInt(4) == 0) tokens(k - 1)
          else if (rnd.nextBoolean()) rnd.nextInt(64)
          else rnd.nextInt(50257)
        k += 1
      }
      val canonical = Seq(f"doc_$i%06d", tokens.toSeq, len, s"src_${rnd.nextInt(3)}")
      if (!withMeta) Row.fromSeq(canonical)
      else {
        def maybe[A](a: => A): Any = if (rnd.nextInt(5) == 0) null else a
        Row.fromSeq(canonical ++ Seq(
          maybe(rnd.nextInt(40).toLong - 10L),
          maybe(Seq.fill(rnd.nextInt(4))(maybe(s"t${rnd.nextInt(9)}"))),
          maybe((0 until rnd.nextInt(3)).map(j => s"k$j" -> maybe(rnd.nextInt(100))).toMap),
          maybe(Row(maybe(Seq("en", "de", "fr")(rnd.nextInt(3))), maybe(rnd.nextGaussian()))),
          maybe(Array.fill(rnd.nextInt(6))(rnd.nextInt(256).toByte))))
      }
    }
  }

  private def write(data: Seq[Row], schema: StructType, dir: String,
                    opts: Map[String, String]): Unit =
    spark.createDataFrame(spark.sparkContext.parallelize(data, 4), schema)
      .write.format("graft").option("buckets", Buckets.toString)
      .option("tokensPerChunk", TokensPerChunk.toString).options(opts)
      .mode(SaveMode.Append).save(dir)

  /** SHA-256 over the visible files' footer blooms, in (snapshot, bucket)
    * order, then over every visible segment in (segmentId, snapshot) order. */
  private def storedHash(dir: String): String = {
    val conf = spark.sessionState.newHadoopConf()
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def long(v: Long): Unit = md.update(java.nio.ByteBuffer.allocate(8).putLong(v).array())
    def bytes(b: Array[Byte]): Unit = { long(b.length.toLong); md.update(b) }
    def str(s: String): Unit = bytes(s.getBytes(UTF_8))
    val files = GraftLayout.listDataFiles(dir, conf)
      .map(f => GraftLayout.partitionOf(f).get -> f).sortBy(_._1)
    val segs = ArrayBuffer.empty[(String, Long, Segment)]
    files.foreach { case ((snapshot, bucket), f) =>
      GraftLayout.footerInfo(f, conf).blooms.toSeq.sortBy(_._1).foreach { case (c, b) =>
        str(c); bytes(b)
      }
      GraftLayout.foreachSegment(f, conf, bucket)(s => segs += ((s.segmentId, snapshot, s)))
    }
    segs.sortBy(s => (s._1, s._2)).foreach { case (id, _, s) =>
      str(id); long(s.nRows.toLong); long(s.nTokens)
      s.cols.foreach { c =>
        str(c.col); str(c.codecName); bytes(c.payload); bytes(c.bloom)
        long(c.nValues); long(c.minV); long(c.maxV); str(c.minS); str(c.maxS)
      }
    }
    md.digest().map(b => f"$b%02x").mkString
  }

  /** Write `seed`'s table, append once and compact: the hashes after the
    * append and after the compaction. */
  private def states(schema: StructType, withMeta: Boolean,
                     opts: Map[String, String]): (String, String) = {
    val dir = tmp()
    // > RowBuffer.BlockInts tokens per write task: buffers span blocks
    write(rows(101L, 0, 3000, withMeta), schema, dir, opts)
    write(rows(202L, 3000, 600, withMeta), schema, dir, Map.empty)
    val appended = storedHash(dir)
    assert(SegmentStore.compact(spark, dir, upTo = Long.MaxValue, buckets = Buckets,
      tokensPerChunk = TokensPerChunk).isDefined)
    (appended, storedHash(dir))
  }

  test("canonical table: stored bytes after append and compaction match the golden hashes") {
    val (appended, compacted) = states(canonicalSchema, withMeta = false,
      Map("graft.codec.bloomColumns" -> "doc_id,tokens"))
    assert((appended, compacted) === ((
      "a73575be17b6ee31adb65bdecb83ebad386206e0a770a6bec2824bc8e82a2561",
      "dc7e66ecb0ca879f9bf27d6018f70c21a4f282ab71500cf98ba44aafb836f9da")))
  }

  test("metadata table (sortBy, list, map, struct, binary, member bloom): stored " +
    "bytes after append and compaction match the golden hashes") {
    val (appended, compacted) = states(metaSchema, withMeta = true,
      Map("sortBy" -> "score", "graft.codec.bloomColumns" -> "doc_id,score,info.lang"))
    assert((appended, compacted) === ((
      "c6212972358c708f803f2bf48374766de5227029bdef8611b4212213c23456f5",
      "a71774aaaeddfd76e2ab2ee48eaad00921c1702003529388708cd87022c03484")))
  }
}
