package graft.sources

import java.nio.charset.StandardCharsets

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite

/** The `listStatus` walk behind every data-file listing must return
  * exactly what Hadoop's `listFiles(root, recursive = true)` returned
  * under the same name filter: the walk only changes how statuses are
  * built, never which files a table is made of. `listFiles` stays here as
  * the reference. */
class GraftLayoutListingSpec extends AnyFunSuite {

  private val conf = new Configuration()

  /** A table-shaped tree with every kind of entry the filters must handle:
    * data files in nested `snapshotId=/bucket=` dirs (written through the
    * checksummed local FS, so each gets a `.crc` side file), `_SUCCESS`,
    * hidden and `_`-prefixed files, non-parquet files, and a `_temporary/`
    * subtree holding a half-committed part-file. */
  private def tree(): Path = {
    val root = new Path(
      java.nio.file.Files.createTempDirectory("graft-listing-spec").toUri)
    val fs = FileSystem.getLocal(conf)
    def put(rel: String): Unit = {
      val out = fs.create(new Path(root, rel), true)
      try out.write(rel.getBytes(StandardCharsets.UTF_8)) finally out.close()
    }
    Seq(
      "snapshotId=1/bucket=0/part-00000-a.parquet",
      "snapshotId=1/bucket=1/part-00001-a.parquet",
      "snapshotId=2/bucket=0/part-00000-b.parquet",
      "snapshotId=2/bucket=0/part-00001-b.parquet",
      "snapshotId=3/bucket=7/nested/part-00000-c.parquet",
      "_SUCCESS",
      "snapshotId=1/_SUCCESS",
      ".hidden",
      ".hidden.parquet",
      "_meta.parquet",
      "notes.txt",
      "snapshotId=2/bucket=0/part-00002-b.parquet.tmp",
      "_temporary/0/_temporary/attempt_1/part-00009-d.parquet",
      "_temporary/0/_temporary/attempt_1/.part-00009-d.parquet.crc"
    ).foreach(put)
    fs.mkdirs(new Path(root, "snapshotId=4/bucket=0")) // empty partition dir
    root
  }

  /** The reference: `listFiles` plus the data-file name filter. */
  private def viaListFiles(fs: FileSystem, root: Path, filter: Boolean): Seq[String] = {
    val out = ArrayBuffer.empty[String]
    val it = fs.listFiles(root, true)
    while (it.hasNext) {
      val f = it.next()
      val n = f.getPath.getName
      if (f.isFile && (!filter ||
          (n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith("."))))
        out += f.getPath.toString
    }
    out.toSeq.sorted
  }

  test("listParquetFiles returns the sorted set listFiles plus the name filter returns") {
    val root = tree()
    val fs = root.getFileSystem(conf)
    val got = GraftLayout.listParquetFiles(root.toString, conf)
    val want = viaListFiles(fs, root, filter = true)
    assert(got === want)
    assert(got === got.sorted)
    // the five committed data files are kept. Known gap, not a contract:
    // the filter is by file name only, so an in-flight part-file under
    // `_temporary/` is listed too (it is in `want` as well)
    assert(got.count(!_.contains("/_temporary/")) === 5, got)
    assert(!got.exists(p => p.endsWith(".crc") || p.contains("_SUCCESS") || p.contains(".hidden")))
  }

  test("the listStatus walk finds every file listFiles finds, .crc side files included") {
    val root = tree()
    val local = FileSystem.getLocal(conf)
    // the checksummed FS hides .crc files from both listings; the raw FS
    // under it shows them to both
    Seq[FileSystem](local, local.getRawFileSystem).foreach { fs =>
      val got = GraftLayout.listFilesUnder(fs, root).map(_.getPath.toString).sorted
      assert(got === viaListFiles(fs, root, filter = false), fs.getClass.getName)
    }
    val raw = GraftLayout.listFilesUnder(local.getRawFileSystem, root)
    assert(raw.exists(_.getPath.getName == ".part-00000-a.parquet.crc"))
  }

  test("a missing directory lists as empty") {
    val root = tree()
    assert(GraftLayout.listParquetFiles(new Path(root, "no-such-dir").toString, conf).isEmpty)
  }
}
