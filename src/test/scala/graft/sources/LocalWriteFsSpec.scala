package graft.sources

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{ChecksumException, LocalFileSystem, RawLocalFileSystem, Path => HPath}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.TokenTables
import graft.lineage.SegmentStore

/** graft's local write filesystem ([[GraftLayout.writeFs]]): it sets
  * permissions in-process, yet every file and directory a commit leaves
  * has the stock mode, part-files keep their `.crc` side files, and the
  * stock read path still verifies them. */
class LocalWriteFsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmp(): String =
    Files.createTempDirectory("graft-local-write-fs-spec").toString

  private def tokenDf(nDocs: Int, seed: Long) =
    TokenTables.synthetic(spark, nDocs = nDocs, seed = seed)
      .toDF("doc_id", "tokens", "n_tok", "source")

  private def modeOf(p: java.nio.file.Path): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  private def walk(dir: String): Seq[java.nio.file.Path] = {
    val s = Files.walk(Paths.get(dir))
    try s.iterator.asScala.toList finally s.close()
  }

  test("local paths write through one in-process-chmod LocalFileSystem") {
    val conf = spark.sessionState.newHadoopConf()
    val p = new HPath(tmp())
    val fs = GraftLayout.writeFs(p, conf)
    assert(fs.asInstanceOf[LocalFileSystem].getRaw.isInstanceOf[InProcessChmodFs])
    assert(GraftLayout.writeFs(new HPath(tmp()), conf) eq fs)
    // a filesystem that is not a LocalFileSystem is left as it is
    val raw = new org.apache.hadoop.conf.Configuration(conf)
    raw.set("fs.file.impl", classOf[RawLocalFileSystem].getName)
    raw.setBoolean("fs.file.impl.disable.cache", true)
    assert(GraftLayout.writeFs(p, raw).getClass === classOf[RawLocalFileSystem])
    assert(GraftLayout.outputFile(new HPath(p, "x.parquet"), raw).isInstanceOf[HadoopOutputFile])
  }

  test("setPermission sets 0600, 0640, 0750 and 0755 exactly, on files and dirs") {
    val conf = spark.sessionState.newHadoopConf()
    val root = tmp()
    val fs = GraftLayout.writeFs(new HPath(root), conf)
    val file = new HPath(root, "f")
    fs.create(file, false).close()
    val dir = new HPath(root, "d")
    assert(fs.mkdirs(dir))
    for {
      p <- Seq(file, dir)
      (mode, want) <- Seq(0x180 -> "rw-------", 0x1a0 -> "rw-r-----",
                          0x1e8 -> "rwxr-x---", 0x1ed -> "rwxr-xr-x")
    } {
      fs.setPermission(p, new FsPermission(mode.toShort))
      assert(modeOf(Paths.get(p.toUri.getPath)) === want, s"$p at ${Integer.toOctalString(mode)}")
    }
  }

  test("a local append and its compaction keep the stock modes and every .crc") {
    val dir = tmp()
    val conf = spark.sessionState.newHadoopConf()
    val umask = FsPermission.getUMask(conf)
    val fileMode = FsPermission.getFileDefault.applyUMask(umask).toString
    val dirMode = FsPermission.getDirDefault.applyUMask(umask).toString
    tokenDf(300, 42L).write.format("graft").option("buckets", "4")
      .mode(SaveMode.Append).save(dir)
    assert(SegmentStore.compact(spark, dir, upTo = 1L, buckets = 4).isDefined)

    val paths = walk(dir)
    def named(p: java.nio.file.Path) = p.getFileName.toString
    val partFiles = paths.filter(p => p.toString.contains("/data/") &&
      named(p).endsWith(".parquet") && !named(p).startsWith("."))
    val ledgerFiles = paths.filter(p => p.getParent.toString == s"$dir/lineage" &&
      named(p).endsWith(".parquet") && !named(p).startsWith("."))
    val bucketDirs = paths.filter(p => Files.isDirectory(p) && named(p).startsWith("bucket="))
    // snapshot 1 and the compaction's snapshot, 4 buckets each
    assert(bucketDirs.map(_.getParent).distinct.length === 2)
    assert(bucketDirs.length === 8)
    assert(partFiles.length === 8)
    assert(ledgerFiles.length === 2)
    (partFiles ++ ledgerFiles :+ Paths.get(dir, "lineage", "_meta")).foreach { p =>
      assert(modeOf(p) === fileMode, p.toString)
    }
    bucketDirs.foreach(p => assert(modeOf(p) === dirMode, p.toString))
    (partFiles ++ ledgerFiles).foreach { p =>
      assert(Files.exists(p.resolveSibling(s".${named(p)}.crc")), s"no .crc beside $p")
    }
  }

  test("a flipped byte in a committed part-file fails the scan with a ChecksumException naming it") {
    val dir = tmp()
    val conf = spark.sessionState.newHadoopConf()
    tokenDf(300, 7L).write.format("graft").option("buckets", "1")
      .mode(SaveMode.Append).save(dir)
    val file = GraftLayout.listDataFiles(dir, conf).head
    // one byte in the middle of the tokens payload chunk, which a full scan reads
    val chunk = {
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(new HPath(file), conf))
      try r.getFooter.getBlocks.get(0).getColumns.asScala
        .find(_.getPath.toDotString == SegmentLayoutV2.field("tokens", "payload")).get
      finally r.close()
    }
    val at = chunk.getStartingPos + chunk.getTotalSize / 2
    val raf = new java.io.RandomAccessFile(new HPath(file).toUri.getPath, "rw")
    try {
      raf.seek(at)
      val b = raf.read()
      raf.seek(at)
      raf.write(b ^ 0xff)
    } finally raf.close()

    val e = intercept[Exception](spark.read.format("graft").load(dir).collect())
    val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toList
    val checksum = causes.collectFirst { case c: ChecksumException => c }
    assert(checksum.isDefined, s"no ChecksumException in ${causes.mkString(" <- ")}")
    assert(checksum.get.getMessage.contains(new HPath(file).getName), checksum.get.getMessage)
  }
}
