package graft.sources

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, Row}
import org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

import graft.engine.Segment
import graft.sources.SegmentLayoutV2.{CanonicalStreams, StreamFields, field, messageType}

/** Engine segments rendered as flat [[SegmentLayoutV2]] rows, for specs
  * that write a bare (unledgered) dump through Spark's parquet writer —
  * the one layout the readers accept, written without the connector. */
object FlatSegments {

  /** Segment-shaped DataFrame (with its `cols` array) -> flat v2 columns.
    * Non-cols columns (incl. `bucket`) pass through unchanged. `streams`
    * names the stream set to pivot (canonical only by default). */
  def flatten(df: DataFrame, streams: Seq[String] = CanonicalStreams): DataFrame = {
    val others = df.columns.filterNot(_ == "cols").map(col).toSeq
    val flats: Seq[Column] = streams.flatMap { s =>
      val c = element_at(filter(col("cols"), x => x.getField("col") === lit(s)), 1)
      StreamFields.map(f => c.getField(f).as(field(s, f)))
    }
    df.select(others ++ flats: _*)
  }

  /** Object-level twin of [[flatten]]: one pass over each Segment's cols,
    * no Catalyst expression tree — the expression version evaluates
    * `filter(cols, …)` once per (stream, field), each materializing a
    * filtered struct array INCLUDING the payload bytes. A stream absent
    * from a segment yields null fields, matching `element_at(…, 1)` on an
    * empty filter. */
  def flattenSegments(ds: Dataset[Segment],
                      streams: Seq[String] = CanonicalStreams): DataFrame = {
    // the layout's Spark schema is Spark's own conversion of its parquet schema
    val schema = StructType(new ParquetToSparkSchemaConverter().convert(messageType(streams)) :+
      StructField("bucket", IntegerType))
    val nTop = 8
    ds.map { seg =>
      val by = seg.cols.iterator.map(c => c.col -> c).toMap
      val vals = new Array[Any](nTop + streams.length * StreamFields.length + 1)
      vals(0) = seg.segmentId
      vals(1) = seg.source
      vals(2) = seg.partitionId
      vals(3) = seg.chunkIdx
      vals(4) = seg.nRows
      vals(5) = seg.nTokens
      vals(6) = seg.bytesIn
      vals(7) = seg.bytesOut
      var i = nTop
      streams.foreach { s =>
        by.get(s) match {
          case Some(c) =>
            vals(i) = c.codecId; vals(i + 1) = c.codecName; vals(i + 2) = c.nValues
            vals(i + 3) = c.bytesIn; vals(i + 4) = c.bytesOut
            vals(i + 5) = c.minV; vals(i + 6) = c.maxV
            vals(i + 7) = c.minS; vals(i + 8) = c.maxS
            vals(i + 9) = c.payload; vals(i + 10) = c.bloom
          case None => // leave the 11 slots null
        }
        i += StreamFields.length
      }
      vals(i) = seg.bucket
      Row.fromSeq(vals.toIndexedSeq)
    }(Encoders.row(schema))
  }
}
