package graft.engine

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.ScanMetrics

/** End-to-end engine correctness: the reference's decode-correctness
  * contract (golden batch equality, /root/reference/tests/basic_reading.rs)
  * re-expressed as element-for-element token equality through a full
  * Spark encode -> shuffle -> decode cycle (north_rule: bit-identical). */
class EnginePipelineSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** `rows` appended to a fresh graft table through the connector. */
  private def graftTable(rows: Dataset[TokenRow], buckets: Int,
                         tokensPerChunk: Int = GraftEncoder.DefaultTokensPerChunk): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-pipeline-spec").toString
    rows.write.format("graft").option("buckets", buckets.toString)
      .option("tokensPerChunk", tokensPerChunk.toString).mode(SaveMode.Append).save(dir)
    dir
  }

  private def assertRoundTrip(input: org.apache.spark.sql.Dataset[TokenRow]): Unit = {
    val segments = GraftEncoder.encode(input, buckets = 4)
    val decoded = GraftEncoder.decode(segments)
    val in = input.collect().map(r => r.doc_id -> r).toMap
    val out = decoded.collect().map(r => r.doc_id -> r).toMap
    assert(out.keySet === in.keySet, "doc ids must round-trip exactly")
    in.foreach { case (id, r) =>
      val d = out(id)
      assert(d.tokens.toSeq === r.tokens.toSeq, s"tokens of $id")
      assert(d.n_tok === r.n_tok, s"n_tok of $id")
      assert(d.source === r.source, s"source of $id")
    }
  }

  test("synthetic table round-trips bit-identically through encode/decode") {
    assertRoundTrip(TokenTables.synthetic(spark, nDocs = 800, seed = 42L))
  }

  test("documents-derived table round-trips bit-identically") {
    assertRoundTrip(TokenTables.fromDocuments(spark, "/root/testdata/sf0.001"))
  }

  test("pure chunk encode/decode without Spark (unit layer)") {
    val rnd = new scala.util.Random(7)
    val rows = Array.tabulate(300) { i =>
      val n = 1 + rnd.nextInt(500)
      val tokens = Array.fill(n)(rnd.nextInt(50257))
      TokenRow(f"doc_$i%09d", tokens, n, s"src_${i % 3}")
    }
    val seg = GraftEncoder.encodeChunk(rows, pid = 0, chunkIdx = 0)
    val back = GraftEncoder.decodeSegment(seg).toArray
    assert(back.length === rows.length)
    rows.zip(back).foreach { case (a, b) =>
      assert(a.doc_id === b.doc_id)
      assert(a.tokens.toSeq === b.tokens.toSeq)
      assert(a.n_tok === b.n_tok)
      assert(a.source === b.source)
    }
    assert(seg.bytesOut < seg.bytesIn, s"must compress: ${seg.bytesOut} vs ${seg.bytesIn}")
  }

  test("packed-partition encode emits byte-identical segments to the row path") {
    val rnd = new scala.util.Random(11)
    val tokensPerChunk = 20000
    def tokenRows(n: Int) = Array.tabulate(n) { i =>
      // one row longer than an arena block: it gets a block of its own
      val len = if (i == 7) RowBuffer.BlockInts + 1 else 1 + rnd.nextInt(400)
      val tokens = Array.fill(len)(rnd.nextInt(50257))
      BucketedRow(f"doc_$i%09d", tokens, len, s"src_${i % 3}", bucket = i % 4)
    }
    // the row path: rows in `sorted` order, cut greedy token-budget chunks
    // (at most MaxRowsPerChunk rows, never across a bucket) and encode each
    // through encodeChunk with the chunk's metadata as `extras`
    def viaRows(sorted: Seq[(BucketedRow, Array[AnyRef])],
                extras: Seq[Array[AnyRef]] => Seq[ExtraCol]): Seq[Segment] =
      sorted.groupBy(_._1.bucket).toSeq.sortBy(_._1).flatMap { case (bucket, _) =>
        val chunks = ArrayBuffer(ArrayBuffer.empty[(BucketedRow, Array[AnyRef])])
        var tokens = 0L
        sorted.filter(_._1.bucket == bucket).foreach { rm =>
          if (tokens >= tokensPerChunk || chunks.last.length >= GraftEncoder.MaxRowsPerChunk) {
            chunks += ArrayBuffer.empty
            tokens = 0L
          }
          chunks.last += rm
          tokens += rm._1.tokens.length
        }
        chunks.zipWithIndex.map { case (c, i) =>
          GraftEncoder.encodeChunk(c.map { case (r, _) =>
            TokenRow(r.doc_id, r.tokens, r.n_tok, r.source) }.toArray,
            pid = 0, chunkIdx = i, bucket = bucket, extras = extras(c.map(_._2).toSeq))
        }
      }
    def assertSame(viaRows: Seq[Segment], viaBuffer: Seq[Segment]): Unit = {
      assert(viaBuffer.length === viaRows.length, "same chunk boundaries")
      viaRows.zip(viaBuffer).foreach { case (a, b) =>
        assert(a.segmentId === b.segmentId)
        assert(a.nRows === b.nRows)
        assert(a.nTokens === b.nTokens)
        assert(a.cols.map(_.col) === b.cols.map(_.col))
        a.cols.zip(b.cols).foreach { case (ca, cb) =>
          assert(java.util.Arrays.equals(ca.payload, cb.payload), s"payload of ${ca.col}")
          assert(ca.nValues === cb.nValues, s"nValues of ${ca.col}")
          assert(ca.minV === cb.minV); assert(ca.maxV === cb.maxV)
          assert(ca.minS === cb.minS); assert(ca.maxS === cb.maxS)
        }
      }
    }

    // canonical rows, shuffled, through the shuffle's packs: the encoder
    // must sort them to the (bucket, source, doc_id) layout
    val rows = tokenRows(500)
    val packed = new RowBuffer(0)
    rnd.shuffle(rows.toSeq).foreach(r =>
      packed.appendPacked(PackedRow(r.doc_id, TokenPack.pack(r.tokens), r.n_tok, r.source, r.bucket)))
    assertSame(
      viaRows(rows.sortBy(r => (r.bucket, r.source, r.doc_id)).map(_ -> Array.empty[AnyRef]).toSeq,
        _ => Nil),
      GraftEncoder.encodePartition(packed, Nil, tokensPerChunk).toSeq)

    // rows with metadata slots: sortBy a nullable Long key, then a String
    // key (nulls first, UTF-8 byte order), plus a list and a binary column
    val specs = Seq(MetaColSpec("score", isString = false), MetaColSpec("lang", isString = true),
      MetaColSpec("nums", isString = false, isList = true),
      MetaColSpec("blob", isString = false, isBinary = true))
    val withMeta = tokenRows(400).map { r =>
      def maybe(v: => AnyRef): AnyRef = if (rnd.nextInt(4) == 0) null else v
      r -> Array[AnyRef](
        maybe(java.lang.Long.valueOf(rnd.nextInt(6) - 2L)),
        maybe(Seq("en", "de", "és", "🤔")(rnd.nextInt(4))),
        maybe(ListLongs(Array.fill(3)(rnd.nextInt(9).toLong), Array(true, rnd.nextBoolean(), true))),
        maybe(Array.fill(rnd.nextInt(5))(rnd.nextInt(256).toByte)))
    }
    val utf8 = Ordering.fromLessThan[String](GraftEncoder.compareUtf8(_, _) < 0)
    val sorted = withMeta.sortBy { case (r, m) =>
      (r.bucket, Option(m(0).asInstanceOf[java.lang.Long]).map(_.longValue),
        Option(m(1).asInstanceOf[String]), r.source, r.doc_id)
    }(Ordering.Tuple5(Ordering.Int, Ordering.Option(Ordering.Long), Ordering.Option(utf8),
      Ordering.String, Ordering.String))
    def extras(slots: Seq[Array[AnyRef]]): Seq[ExtraCol] = Seq(
      ExtraLongs("score", slots.map(m => Option(m(0).asInstanceOf[java.lang.Long]).fold(0L)(_.longValue)).toArray,
        slots.map(_(0) != null).toArray),
      ExtraStrings("lang", slots.map(_(1).asInstanceOf[String]).toArray),
      ExtraListLongs("nums", slots.map(_(2).asInstanceOf[ListLongs]).toArray),
      ExtraBinary("blob", slots.map(_(3).asInstanceOf[Array[Byte]]).toArray))
    val buf = new RowBuffer(specs.length)
    rnd.shuffle(withMeta.toSeq).foreach { case (r, m) =>
      buf.append(r.doc_id, r.tokens, r.n_tok, r.source, r.bucket, m)
    }
    assertSame(viaRows(sorted.toSeq, extras),
      GraftEncoder.encodePartition(buf, specs, tokensPerChunk,
        graft.codec.CodecConf(sortBy = Seq("score", "lang"))).toSeq)
  }

  test("empty and single-row chunks") {
    val row = TokenRow("doc_x", Array(1, 2, 3), 3, "web")
    val seg1 = GraftEncoder.encodeChunk(Array(row), 1, 0)
    assert(GraftEncoder.decodeSegment(seg1).toSeq.head.tokens.toSeq === Seq(1, 2, 3))
    val seg0 = GraftEncoder.encodeChunk(Array.empty[TokenRow], 1, 1)
    assert(GraftEncoder.decodeSegment(seg0).isEmpty)
  }

  test("edge-value tokens (reference extremes, SURVEY §1.2)") {
    val rows = Array(
      TokenRow("a", Array(0, Int.MaxValue, Int.MinValue, -1, 1, -128, 127, -32768, 32767), 9, "s"),
      TokenRow("b", Array.empty[Int], 0, "s"),
      TokenRow("大熊和奏🤔", Array.fill(600)(42), 600, "大熊"))
    val seg = GraftEncoder.encodeChunk(rows, 0, 0)
    val back = GraftEncoder.decodeSegment(seg).toArray
    rows.zip(back).foreach { case (a, b) =>
      assert(a.doc_id === b.doc_id)
      assert(a.tokens.toSeq === b.tokens.toSeq)
    }
  }

  test("encoding compresses the synthetic token payload >2x") {
    import spark.implicits._
    val segments = GraftEncoder.encode(
      TokenTables.synthetic(spark, nDocs = 500, seed = 42L), buckets = 4).cache()
    val stats = segments
      .select(org.apache.spark.sql.functions.explode($"cols").as("c"))
      .selectExpr("c.col AS col", "c.bytesIn AS bi", "c.bytesOut AS bo")
      .groupBy($"col").sum("bi", "bo")
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    val (tbi, tbo) = stats("tokens")
    // adaptive deflate-skip trades ~7% size on entropy-dense token chunks
    // for ~3x kernel speed (BlockCompression.MinSampledGain), so the bound
    // is 1.85x rather than the pre-skip 2x
    assert(tbo.toDouble / tbi < 0.54, s"tokens must compress >1.85x: $tbo/$tbi")
    segments.unpersist()
  }

  test("string chunks carry real min/max stats in UTF-8 byte order") {
    val rows = Array(
      TokenRow("doc_b", Array(1), 1, "web"),
      TokenRow("doc_a", Array(2), 1, "books"),
      TokenRow("doc_z", Array(3), 1, "code"))
    val seg = GraftEncoder.encodeChunk(rows, 0, 0)
    val docCol = seg.cols.find(_.col == "doc_id").get
    assert(docCol.minS === "doc_a" && docCol.maxS === "doc_z")
    val srcCol = seg.cols.find(_.col == "source").get
    assert(srcCol.minS === "books" && srcCol.maxS === "web")
  }

  test("compareUtf8 is UTF-8 byte order, not UTF-16 char order") {
    import GraftEncoder.compareUtf8
    assert(compareUtf8("abc", "abd") < 0)
    assert(compareUtf8("abc", "abcd") < 0, "prefix sorts first")
    assert(compareUtf8("", "a") < 0)
    assert(compareUtf8("same", "same") === 0)
    // U+10000 (UTF-8 F0 90 80 80) vs U+FFFF (EF BF BF): UTF-16 code-unit
    // order says supplementary < FFFF (surrogate D800 < FFFF), byte order
    // says the opposite — we must follow byte order (Spark UTF8String).
    val supp = new String(Character.toChars(0x10000))
    assert("￿" > supp, "UTF-16 order disagrees (precondition)")
    assert(compareUtf8(supp, "￿") > 0, "byte order must win")
    assert(compareUtf8("a大", "a熊") ===
      java.util.Arrays.compareUnsigned(
        "a大".getBytes("UTF-8"), "a熊".getBytes("UTF-8")))
  }

  test("doc_id range pruning: skips segments, never loses a matching row") {
    import spark.implicits._
    val input = TokenTables.synthetic(spark, nDocs = 600, seed = 5L)
    val table = spark.read.format("graft").load(graftTable(input, buckets = 8, tokensPerChunk = 4096))
    val target = "doc_000000000123"
    val expected = input.filter($"doc_id" === target).collect()
    assert(expected.length === 1)
    val (got, m) = ScanMetrics.collect(
      table.filter($"doc_id" >= target && $"doc_id" <= target))
    assert(got.length === 1 && got(0).getSeq[Int](1) === expected(0).tokens.toSeq)
    // the stat index must actually prune (inexact is fine, useless is not)
    val scanned = m.getOrElse("graft rows emitted", Long.MaxValue)
    assert(scanned < 600L, s"pruning must skip rows: $scanned of 600 ($m)")
  }

  test("chunking is by token count: no chunk greatly exceeds the budget") {
    import spark.implicits._
    val segments = GraftEncoder.encode(
      TokenTables.synthetic(spark, nDocs = 500, seed = 1L), buckets = 2,
      tokensPerChunk = 4096).collect()
    // one straddling row may overshoot by up to the max doc length (20k)
    assert(segments.forall(_.nTokens <= 4096 + 20000))
    assert(segments.count(_.nTokens >= 2048) >= segments.length / 2,
      "chunks should be reasonably full")
  }

  test("projected decode equals full decode on every projection subset") {
    val input = TokenTables.synthetic(spark, nDocs = 300, seed = 42L)
    val table = spark.read.format("graft").load(graftTable(input, buckets = 4))
    val (fullRows, mFull) = ScanMetrics.collect(table)
    val full = fullRows.map(r => r.getString(0) -> r).toMap
    val fullBytes = mFull.getOrElse("graft payload bytes decoded", -1L)
    val subsets = Seq(
      Seq("doc_id"), Seq("doc_id", "n_tok"), Seq("doc_id", "source"),
      Seq("doc_id", "tokens"), Seq("doc_id", "tokens", "n_tok", "source"))
    subsets.foreach { cols =>
      val (rows, m) = ScanMetrics.collect(table.select(cols.map(col): _*))
      assert(rows.length === full.size, s"projection $cols row count")
      assert(rows.head.schema.fieldNames.toSeq === cols)
      rows.foreach { r =>
        val exp = full(r.getString(0))
        cols.zipWithIndex.foreach { case (c, i) =>
          assert(r.get(i) === exp.get(exp.fieldIndex(c)), s"$c of ${r.getString(0)}")
        }
      }
      // only the projected streams' payloads are decoded
      val bytes = m.getOrElse("graft payload bytes decoded", -1L)
      if (cols.contains("tokens")) assert(bytes > 0L)
      else assert(bytes < fullBytes / 10, s"projection $cols decoded $bytes of $fullBytes bytes")
    }
    // an unknown column is rejected; an empty projection still counts rows
    intercept[org.apache.spark.sql.AnalysisException] {
      table.select("nope")
    }
    assert(table.select().count() === full.size.toLong)
  }
}
