package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.Types
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.{BINARY, INT64}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Regression pin for projected reads: a requested schema that silently
  * stops reaching parquet (as a `ReadSupport` overriding only the dead
  * parquet-1.16 `init` overload once did) turns every "pruned" read into a
  * full-file read. These tests measure ACTUAL filesystem bytes through
  * [[GraftLayout.RecordCursor]], so a reintroduction fails loudly. */
class ReadSupportIOSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // vectored IO bypasses FileSystem.Statistics; route reads through the
    // counted path so the assertions below measure real page IO
    s.sparkContext.hadoopConfiguration
      .set("parquet.hadoop.vectored.io.enabled", "false")
    s
  }

  private def fsBytesRead(): Long =
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesRead).sum

  test("GraftLayout.RecordCursor projection prunes column-chunk IO") {
    val conf = spark.sessionState.newHadoopConf()
    val dir = java.nio.file.Files.createTempDirectory("pq-proj-pin").toString
    val file = s"$dir/two-col.parquet"
    val schema = Types.buildMessage()
      .addField(Types.optional(INT64).named("small"))
      .addField(Types.optional(BINARY).named("big"))
      .named("spark_schema")
    val w = ExampleParquetWriter.builder(new Path(file))
      .withConf(conf).withType(schema)
      .withCompressionCodec(CompressionCodecName.UNCOMPRESSED)
      .build()
    val f = new SimpleGroupFactory(schema)
    val rnd = new java.util.Random(1)
    (0 until 200).foreach { i =>
      val g = f.newGroup()
      g.add("small", i.toLong)
      val bytes = new Array[Byte](8192); rnd.nextBytes(bytes)
      g.add("big", Binary.fromConstantByteArray(bytes))
      w.write(g)
    }
    w.close()

    def countedRead(keep: String => Boolean): Long = {
      val b0 = fsBytesRead()
      val c = new GraftLayout.RecordCursor(file, conf).select(keep)
      var n = 0
      try c.foreach(_ => n += 1) finally c.close()
      assert(n === 200)
      fsBytesRead() - b0
    }
    val full = countedRead(_ => true)
    val smallOnly = countedRead(_ == "small")
    // `big` is ~1.6 MB of the ~1.65 MB file; a live projection must skip it
    assert(smallOnly < full / 10,
      s"projected read counted $smallOnly B vs full $full B — projection not reaching parquet")
  }

  test("v2 header read (GraftLayout.header) skips payload pages") {
    val input = graft.engine.TokenTables.synthetic(spark, nDocs = 1500, seed = 3L)
    val dir = java.nio.file.Files.createTempDirectory("pq-header-pin").toString
    FlatSegments.flattenSegments(graft.engine.GraftEncoder.encode(input, buckets = 2))
      .withColumn("snapshotId", org.apache.spark.sql.functions.lit(1L))
      .write.partitionBy("snapshotId", "bucket").parquet(s"$dir/data")
    val conf = spark.sessionState.newHadoopConf()
    // count the bytes parquet asks for, not the readahead of the local
    // FS's read buffer (Spark sets it to 64 KiB): the v2 stat columns sit
    // on both sides of the tokens payload, and a 64 KiB window at each
    // would be a third of this small file. A fresh, uncached FS instance
    // picks the smaller buffer up.
    conf.setInt("io.file.buffer.size", 4096)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    val file = GraftLayout.listParquetFiles(s"$dir/data", conf).head
    val fileSize = new java.io.File(file.stripPrefix("file:")).length
    val b0 = fsBytesRead()
    val h = GraftLayout.header(file, conf)
    val headerBytes = fsBytesRead() - b0
    assert(h.rows > 0)
    assert(headerBytes < fileSize / 4,
      s"header read counted $headerBytes B of a $fileSize B file — stats projection not saving IO")
  }
}
