package graft.streaming

import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{GraftEncoder, TokenRow, TokenTables}
import graft.lineage.SegmentStore

/** Incremental-encode contract of `writeStream.format("graft")`:
  * micro-batches commit as per-batch snapshots through the SAME lineage
  * ledger as the batch path; the union of all snapshots decodes back to
  * exactly the input; a re-run over a drained checkpoint processes nothing
  * (exactly-once evidence). */
class StreamingEncodeSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-stream-spec").toString

  /** Drain every file under `input` into `table` through the graft
    * streaming sink, `maxFilesPerTrigger` files per micro-batch, and return
    * when done. */
  private def drain(input: String, table: String, checkpoint: String,
                    buckets: Int, maxFilesPerTrigger: Int): Unit = {
    implicit val enc = Encoders.product[TokenRow]
    spark.readStream.schema(enc.schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger).parquet(input)
      .writeStream.format("graft")
      .option("checkpointLocation", checkpoint)
      .option("buckets", buckets.toString)
      .trigger(Trigger.AvailableNow())
      .start(table)
      .awaitTermination()
  }

  test("drain encodes every micro-batch as its own ledgered snapshot; union decodes bit-identically") {
    import spark.implicits._
    val input = TokenTables.synthetic(spark, nDocs = 300, seed = 42L)
    val base = tmp()
    input.repartition(3).write.parquet(s"$base/input")

    drain(s"$base/input", s"$base/table", s"$base/ckpt",
      buckets = 4, maxFilesPerTrigger = 1)

    // one snapshot per micro-batch (3 files x maxFilesPerTrigger=1), every
    // (snapshot, bucket) committed exactly once
    val ledger = SegmentStore.readLineage(spark, s"$base/table").collect()
    val snaps = ledger.map(_.snapshotId).distinct.sorted
    assert(snaps.length === 3, s"expected 3 micro-batch snapshots, got ${snaps.toSeq}")
    assert(ledger.forall(_.status === SegmentStore.Committed))
    assert(ledger.groupBy(r => (r.snapshotId, r.bucket)).forall(_._2.length == 1))
    assert(ledger.map(_.nRows).sum === 300L)

    // union of all snapshots == the input, element-for-element
    val decoded = GraftEncoder.decode(SegmentStore.readSegmentsAll(spark, s"$base/table"))
      .collect().map(r => r.doc_id -> r).toMap
    val in = input.collect()
    assert(decoded.size === in.length)
    in.foreach { r =>
      val d = decoded(r.doc_id)
      assert(d.tokens.sameElements(r.tokens), s"token mismatch for ${r.doc_id}")
      assert(d.n_tok === r.n_tok && d.source === r.source)
    }
  }

  test("re-run over a drained checkpoint is a no-op (exactly-once across restarts)") {
    import spark.implicits._
    val input = TokenTables.synthetic(spark, nDocs = 200, seed = 7L)
    val base = tmp()
    input.repartition(2).write.parquet(s"$base/input")

    drain(s"$base/input", s"$base/table", s"$base/ckpt",
      buckets = 4, maxFilesPerTrigger = 1)
    val ledger1 = SegmentStore.readLineage(spark, s"$base/table").collect()
      .sortBy(r => (r.snapshotId, r.bucket))

    // second drain with the SAME checkpoint: no new files -> no new batches
    // -> the ledger is byte-for-byte what it was
    drain(s"$base/input", s"$base/table", s"$base/ckpt",
      buckets = 4, maxFilesPerTrigger = 1)
    val ledger2 = SegmentStore.readLineage(spark, s"$base/table").collect()
      .sortBy(r => (r.snapshotId, r.bucket))
    assert(ledger2.toSeq === ledger1.toSeq)

    // late-arriving file: ONLY the new file is processed, as one new snapshot
    TokenTables.synthetic(spark, nDocs = 50, seed = 9L)
      .map(r => r.copy(doc_id = "late_" + r.doc_id))
      .repartition(1).write.mode("append").parquet(s"$base/input")
    drain(s"$base/input", s"$base/table", s"$base/ckpt",
      buckets = 4, maxFilesPerTrigger = 1)
    val ledger3 = SegmentStore.readLineage(spark, s"$base/table").collect()
    val newSnaps = ledger3.map(_.snapshotId).distinct.length - ledger1.map(_.snapshotId).distinct.length
    assert(newSnaps === 1, s"late file must land as exactly one new snapshot, got $newSnaps")
    assert(ledger3.map(_.nRows).sum === 250L)

    // an epoch replay after "crash between data move and ledger append" is
    // GraftWriteSpec's tested domain; here we assert the composition: total
    // decoded rows match total input rows exactly
    assert(GraftEncoder.decode(SegmentStore.readSegmentsAll(spark, s"$base/table")).count() === 250L)
  }
}
