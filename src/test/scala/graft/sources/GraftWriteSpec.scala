package graft.sources

import org.apache.spark.sql.{Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{GraftEncoder, TokenRow, TokenTables}
import graft.lineage.SegmentStore

/** The DSv2 write contract: `df.write.format("graft")` encodes through the
  * shared engine kernel under a declared clustered distribution, commits
  * atomically through the lineage ledger (staging invisible until the
  * ledger append), stacks snapshots on append, truncates on overwrite,
  * stays byte-compatible with both read paths (the connector's Group
  * walker AND Spark's parquet reader via Dataset[Segment]), and the
  * streaming sink commits one idempotent snapshot per epoch. */
class GraftWriteSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-write-spec").toString

  private def tokenDf(nDocs: Int) = {
    TokenTables.synthetic(spark, nDocs = nDocs, seed = 42L)
      .toDF("doc_id", "tokens", "n_tok", "source")
  }

  private def collectTokens(df: org.apache.spark.sql.DataFrame): Seq[(String, Seq[Int], Int, String)] =
    df.collect().map(r =>
      (r.getString(0), r.getSeq[Int](1), r.getInt(2), r.getString(3)))
      .toSeq.sortBy(_._1)

  test("batch append write round-trips through both read paths") {
    val dir = tmp()
    val input = tokenDf(300)
    input.write.format("graft").option("buckets", "4").mode(SaveMode.Append).save(dir)

    // connector read path (Group walker over our ExampleParquetWriter files)
    assert(collectTokens(spark.read.format("graft").load(dir)) === collectTokens(input))

    // Spark parquet read path (Dataset[Segment] + engine decode)
    import spark.implicits._
    val viaSpark = GraftEncoder.decode(SegmentStore.readSegmentsAll(spark, dir))
      .toDF("doc_id", "tokens", "n_tok", "source")
    assert(collectTokens(viaSpark) === collectTokens(input))

    // ledger: one committed row per bucket, snapshotId = 1, stats real
    val ledger = SegmentStore.readLineage(spark, dir).collect()
    assert(ledger.length === 4)
    assert(ledger.forall(r => r.snapshotId == 1L && r.status == SegmentStore.Committed))
    assert(ledger.map(_.nRows).sum === 300L)
    assert(ledger.forall(r => r.nSegments == 0 || (r.bytesOut > 0 && r.codecs.nonEmpty)))

    // staging is gone after commit
    assert(!new java.io.File(s"$dir/_staging").exists())
  }

  test("append stacks snapshots; overwrite truncates to one") {
    import org.apache.spark.sql.functions._
    val dir = tmp()
    val all = tokenDf(200).cache()
    val first = all.filter(col("doc_id") < "doc_000100")
    val second = all.filter(col("doc_id") >= "doc_000100")
    first.write.format("graft").option("buckets", "2").mode(SaveMode.Append).save(dir)
    second.write.format("graft").option("buckets", "2").mode(SaveMode.Append).save(dir)

    val snaps = SegmentStore.readLineage(spark, dir).collect().map(_.snapshotId).distinct.sorted
    assert(snaps === Array(1L, 2L))
    // the table is the union of its snapshots
    assert(collectTokens(spark.read.format("graft").load(dir)) === collectTokens(all))

    // overwrite replaces everything with a fresh single snapshot
    first.write.format("graft").option("buckets", "2").mode(SaveMode.Overwrite).save(dir)
    val snaps2 = SegmentStore.readLineage(spark, dir).collect().map(_.snapshotId).distinct
    assert(snaps2 === Array(1L))
    assert(collectTokens(spark.read.format("graft").load(dir)) === collectTokens(first))
    all.unpersist()
  }

  test("written segments are deterministic: same input => identical segment content") {
    import spark.implicits._
    val d1 = tmp()
    val d2 = tmp()
    val input = tokenDf(250)
    input.write.format("graft").option("buckets", "4").mode(SaveMode.Append).save(d1)
    input.write.format("graft").option("buckets", "4").mode(SaveMode.Append).save(d2)
    def fingerprint(dir: String): Seq[(String, Int, Long, Long, String)] =
      SegmentStore.readSegmentsAll(spark, dir)
        .map(s => (s.segmentId, s.nRows, s.nTokens, s.bytesOut,
          s.cols.map(c => s"${c.col}:${c.codecName}:${java.util.Arrays.hashCode(c.payload)}").mkString("|")))
        .collect().toSeq.sortBy(_._1)
    assert(fingerprint(d1) === fingerprint(d2))
  }

  test("bucket is a pure function of doc_id under the declared distribution") {
    import spark.implicits._
    val dir = tmp()
    tokenDf(200).write.format("graft").option("buckets", "4").mode(SaveMode.Append).save(dir)
    // every doc lands in exactly one bucket, buckets within [0, 4)
    val perDoc = GraftEncoder.decode(SegmentStore.readSegmentsAll(spark, dir))
    val buckets = spark.read.parquet(s"$dir/data").select($"bucket").distinct()
      .as[Int].collect().sorted
    assert(buckets.forall(b => b >= 0 && b < 4))
    assert(perDoc.select($"doc_id").distinct().count() === 200L)
  }

  test("schema mismatch fails fast") {
    val dir = tmp()
    import spark.implicits._
    val bad = Seq(("a", 1)).toDF("doc_id", "n_tok")
    val e = intercept[Exception] {
      bad.write.format("graft").mode(SaveMode.Append).save(dir)
    }
    assert(e.getMessage.contains("graft write requires") ||
      Option(e.getCause).exists(_.getMessage.contains("graft write requires")) ||
      e.getMessage.contains("Cannot find data") || e.getMessage.contains("Cannot write"))
  }

  /** Drain `base/in` into `base/table` through the streaming sink, one
    * input file per epoch, checkpointing under `base/ckpt`. */
  private def drainStream(base: String): Unit = {
    implicit val enc = Encoders.product[TokenRow]
    val q = spark.readStream.schema(enc.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$base/in")
      .writeStream.format("graft")
      .option("checkpointLocation", s"$base/ckpt")
      .option("buckets", "4")
      .trigger(Trigger.AvailableNow())
      .start(s"$base/table")
    q.awaitTermination()
  }

  test("streaming sink: one ledgered snapshot per epoch, replay-idempotent") {
    val base = tmp()
    val input = TokenTables.synthetic(spark, nDocs = 200, seed = 7L)
    input.toDF("doc_id", "tokens", "n_tok", "source")
      .repartition(4).write.parquet(s"$base/in")

    def drainOnce(): Unit = drainStream(base)
    drainOnce()
    val snaps = SegmentStore.readLineage(spark, s"$base/table").collect()
      .filter(_.status == SegmentStore.Committed).map(_.snapshotId).distinct
    assert(snaps.length > 1, s"expected >1 epoch snapshots, got ${snaps.toSeq}")

    // union of epoch snapshots == the input, through the connector read
    assert(collectTokens(spark.read.format("graft").load(s"$base/table")) ===
      collectTokens(input.toDF("doc_id", "tokens", "n_tok", "source")))

    // a re-run over the drained checkpoint commits nothing new
    drainOnce()
    val snaps2 = SegmentStore.readLineage(spark, s"$base/table").collect()
      .filter(_.status == SegmentStore.Committed).map(_.snapshotId).distinct
    assert(snaps2.sorted === snaps.sorted)
  }

  test("streaming crash after the data move, before the ledger append: the replayed epoch publishes once") {
    val base = tmp()
    val input = TokenTables.synthetic(spark, nDocs = 200, seed = 21L)
      .toDF("doc_id", "tokens", "n_tok", "source")
    input.repartition(2).write.parquet(s"$base/in")
    drainStream(base)
    val conf = spark.sessionState.newHadoopConf()
    val last = GraftWriteCommit.StreamEpochBase + 1L
    assert(GraftLayout.committedSnapshots(s"$base/table", conf).get ===
      Set(last - 1L, last))

    // simulate the crash: epoch 1's part-files stay where the move put
    // them, its ledger file and its checkpoint commit never landed
    val ledgerDir = new org.apache.hadoop.fs.Path(s"$base/table/lineage")
    val fs = ledgerDir.getFileSystem(conf)
    val ledgerFile = fs.listStatus(ledgerDir).map(_.getPath)
      .filter(p => p.getName.endsWith(".parquet") && !p.getName.startsWith("."))
      .filter(p => spark.read.parquet(p.toString).filter(s"snapshotId = $last").count() > 0L)
    assert(ledgerFile.length === 1)
    assert(fs.delete(ledgerFile.head, false))
    val commit = new org.apache.hadoop.fs.Path(s"$base/ckpt/commits/1")
    assert(fs.delete(commit, false))
    fs.delete(new org.apache.hadoop.fs.Path(s"$base/ckpt/commits/.1.crc"), false)
    val stale = GraftLayout.listParquetFiles(s"$base/table/data/snapshotId=$last", conf)
    assert(stale.nonEmpty)

    // the restart replays epoch 1 with the same offsets
    drainStream(base)
    assert(GraftLayout.committedSnapshots(s"$base/table", conf).get ===
      Set(last - 1L, last))
    assert(collectTokens(spark.read.format("graft").load(s"$base/table")) ===
      collectTokens(input))
    val republished = GraftLayout.listParquetFiles(s"$base/table/data/snapshotId=$last", conf)
    assert(republished.intersect(stale).isEmpty, "stale files of the crashed epoch survived")
  }

  test("batch append crash after the data move, before the ledger append: the claimed id stays invisible") {
    import org.apache.spark.sql.functions.{col, concat, lit}
    val dir = tmp()
    val conf = spark.sessionState.newHadoopConf()
    def rows(prefix: String, nDocs: Int, seed: Long) =
      TokenTables.synthetic(spark, nDocs = nDocs, seed = seed)
        .toDF("doc_id", "tokens", "n_tok", "source")
        .withColumn("doc_id", concat(lit(prefix), col("doc_id")))
    def append(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("graft").option("buckets", "4").mode(SaveMode.Append).save(dir)
    def table() = collectTokens(spark.read.format("graft").load(dir))
    val first = rows("a_", 200, 42L)
    val crashed = rows("b_", 150, 7L)
    val next = rows("c_", 120, 9L)
    append(first)
    append(crashed)

    // simulate the crash: snapshot 2 claimed lineage/_commit_2 and moved
    // its part-files into data/snapshotId=2, its ledger file never landed
    val ledgerDir = new org.apache.hadoop.fs.Path(s"$dir/lineage")
    val fs = ledgerDir.getFileSystem(conf)
    val ledgerFile = fs.listStatus(ledgerDir).map(_.getPath)
      .filter(p => p.getName.endsWith(".parquet") && !p.getName.startsWith("."))
      .filter(p => spark.read.parquet(p.toString).filter("snapshotId = 2").count() > 0L)
    assert(ledgerFile.length === 1)
    assert(fs.delete(ledgerFile.head, false))
    assert(fs.exists(new org.apache.hadoop.fs.Path(ledgerDir, "_commit_2")))
    assert(GraftLayout.listParquetFiles(s"$dir/data/snapshotId=2", conf).nonEmpty)

    // readers never see the crashed append's files
    assert(GraftLayout.committedSnapshots(dir, conf).get === Set(1L))
    assert(table() === collectTokens(first))

    // the next append skips the claimed id and publishes exactly its rows
    append(next)
    assert(GraftLayout.committedSnapshots(dir, conf).get === Set(1L, 3L))
    val ledger3 = SegmentStore.readLineage(spark, dir).collect()
      .filter(r => r.snapshotId == 3L && r.status == SegmentStore.Committed)
    assert(ledger3.map(_.nRows).sum === 120L)
    val expected = collectTokens(first.union(next))
    assert(table() === expected)

    // compaction and expiry keep the table exact
    assert(SegmentStore.compact(spark, dir, upTo = 3L, buckets = 4).isDefined)
    assert(table() === expected)
    assert(SegmentStore.expireSuperseded(spark, dir) > 0L)
    assert(table() === expected)
  }

  test("snapshot-id claim is exclusive: of racing threads exactly one wins each id") {
    val dir = new org.apache.hadoop.fs.Path(tmp())
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val threads = 8
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      (1 to 50).foreach { round =>
        val marker = new org.apache.hadoop.fs.Path(dir, s"_commit_$round")
        val start = new java.util.concurrent.CyclicBarrier(threads)
        val claims = (0 until threads).map { _ =>
          pool.submit(new java.util.concurrent.Callable[Boolean] {
            override def call(): Boolean = {
              start.await()
              GraftWriteCommit.claim(fs, marker)
            }
          })
        }
        val winners = claims.count(_.get(30, java.util.concurrent.TimeUnit.SECONDS))
        assert(winners === 1, s"round $round: $winners threads claimed $marker")
      }
    } finally pool.shutdownNow()
  }

  test("part-files carry parquet page CRCs on the payload columns") {
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.format.Util
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val dir = tmp()
    tokenDf(50).write.format("graft").option("buckets", "1").mode(SaveMode.Append).save(dir)
    val conf = spark.sessionState.newHadoopConf()
    val file = HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(GraftLayout.listDataFiles(dir, conf).head), conf)
    val reader = ParquetFileReader.open(file)
    val chunk = try reader.getFooter.getBlocks.get(0).getColumns.asScala
      .find(_.getPath.toDotString == "c_tokens__payload").get
    finally reader.close()
    val in = file.newStream()
    val header = try { in.seek(chunk.getStartingPos); Util.readPageHeader(in) } finally in.close()
    // parquet-hadoop writes page checksums by default; readers check them
    // only when asked (ParquetReadOptions.usePageChecksumVerification)
    assert(header.isSetCrc)
  }

  test("a flipped byte in a payload page fails the scan by the part-file's name") {
    import java.nio.file.{Files, Path => JPath}
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.format.Util
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val src = tmp()
    val input = tokenDf(200)
    input.write.format("graft").option("buckets", "2").mode(SaveMode.Append).save(src)
    // copies without the `.crc` side files, so Hadoop's checksummed local
    // filesystem has nothing to check: only parquet's page CRCs can
    def copyWithoutCrc(): String = {
      val to = tmp()
      val from = java.nio.file.Paths.get(src)
      Files.walk(from).iterator().asScala.toList.foreach { p =>
        val dest: JPath = java.nio.file.Paths.get(to).resolve(from.relativize(p).toString)
        if (Files.isDirectory(p)) Files.createDirectories(dest)
        else if (!p.getFileName.toString.endsWith(".crc")) Files.copy(p, dest)
      }
      to
    }
    val intact = copyWithoutCrc()
    val broken = copyWithoutCrc()
    val conf = spark.sessionState.newHadoopConf()
    val part = GraftLayout.listDataFiles(broken, conf).head
    val file = HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(part), conf)
    val reader = ParquetFileReader.open(file)
    val chunk = try reader.getFooter.getBlocks.get(0).getColumns.asScala
      .find(_.getPath.toDotString == "c_tokens__payload").get
    finally reader.close()
    // the chunk's first data page: its header, then its stored bytes
    val in = file.newStream()
    val (dataStart, dataLen) = try {
      in.seek(chunk.getStartingPos)
      var header = Util.readPageHeader(in)
      if (header.isSetDictionary_page_header) {
        in.seek(in.getPos + header.getCompressed_page_size)
        header = Util.readPageHeader(in)
      }
      assert(header.isSetData_page_header || header.isSetData_page_header_v2)
      (in.getPos, header.getCompressed_page_size)
    } finally in.close()
    val raf = new java.io.RandomAccessFile(new java.io.File(new java.net.URI(part).getPath), "rw")
    try {
      val at = dataStart + dataLen / 2
      raf.seek(at)
      val b = raf.read()
      raf.seek(at)
      raf.write(b ^ 0x10)
    } finally raf.close()
    val e = intercept[Exception](spark.read.format("graft").load(broken).collect())
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).mkString("\n")
    assert(messages.contains(new org.apache.hadoop.fs.Path(part).getName), messages)
    assert(messages.contains("CRC"), messages)
    assert(collectTokens(spark.read.format("graft").load(intact)) === collectTokens(input))
  }
}
