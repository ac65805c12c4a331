package graft.lineage

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.engine.Segment
import graft.sources.GraftLayout

/** Typed segments of chosen part-files of a table, read on the driver
  * through [[GraftLayout.foreachSegment]] — for specs that look at one
  * snapshot, or at the table as of a snapshot, rather than at what
  * [[SegmentStore.readSegmentsAll]] shows now. */
object StoredSegments {

  private def read(spark: SparkSession, files: Seq[String]): Dataset[Segment] = {
    import spark.implicits._
    val conf = spark.sessionState.newHadoopConf()
    val segs = Seq.newBuilder[Segment]
    files.foreach(f => GraftLayout.foreachSegment(f, conf,
      GraftLayout.partitionOf(f).fold(-1)(_._2))(segs += _))
    spark.createDataset(segs.result())
  }

  /** Every segment stored under snapshot `snap`, ledgered or not. */
  def ofSnapshot(spark: SparkSession, tableDir: String, snap: Long): Dataset[Segment] =
    read(spark, GraftLayout.listParquetFiles(
      s"${SegmentStore.dataDir(tableDir)}/snapshotId=$snap", spark.sessionState.newHadoopConf()))

  /** The segments visible as of snapshot `snap` (the connector's
    * time-travel rule, which fails fast on expired partitions). */
  def asOf(spark: SparkSession, tableDir: String, snap: Long): Dataset[Segment] =
    read(spark, GraftLayout.listDataFiles(tableDir, spark.sessionState.newHadoopConf(), Some(snap)))
}
