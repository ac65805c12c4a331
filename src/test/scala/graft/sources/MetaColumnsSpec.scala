package graft.sources

import org.apache.spark.sql.sources.{And => SAnd, EqualTo, GreaterThan, In, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.codec.{ChunkValues, CodecConf, Nullable}
import graft.select.CodecSelector

/** Unit contract of the metadata-column machinery: the sortable-double
  * bijection, Spark-type -> stat-domain conversion, ddl round-trip, write
  * validation, filter normalization, and the PRESENT-framed encode path
  * the connector writer uses ([[Nullable.frame]] over selector output). */
class MetaColumnsSpec extends AnyFunSuite {

  test("sortableDouble is an order-preserving bijection (seeded sweep)") {
    val rnd = new scala.util.Random(42L)
    val samples = Array.fill(2000)(
      java.lang.Double.longBitsToDouble(rnd.nextLong())).filterNot(_.isNaN) ++
      Array(0.0, -0.0, 1.5, -1.5, Double.MinValue, Double.MaxValue,
        Double.MinPositiveValue, Double.NegativeInfinity, Double.PositiveInfinity)
    for (a <- samples.take(200); b <- samples.take(200)) {
      val (sa, sb) = (MetaColumns.sortableDouble(a), MetaColumns.sortableDouble(b))
      assert(java.lang.Double.compare(a, b).sign === java.lang.Long.compare(sa, sb).sign,
        s"order broken at ($a, $b)")
    }
    // exact bit round-trip, every sample
    for (d <- samples) {
      val r = MetaColumns.fromSortableDouble(MetaColumns.sortableDouble(d))
      assert(java.lang.Double.doubleToRawLongBits(r) ===
        java.lang.Double.doubleToRawLongBits(d), s"round-trip of $d gave $r")
    }
  }

  test("statDouble collapses -0.0 onto +0.0 (SQL equality); stats and predicates agree") {
    assert(MetaColumns.statDouble(-0.0) === MetaColumns.statDouble(0.0))
    assert(MetaColumns.statLong(DoubleType, -0.0) === MetaColumns.statLong(DoubleType, 0.0))
    // a chunk holding only -0.0 must NOT be pruned for `= 0.0`
    val stored = MetaColumns.statDouble(-0.0)
    val Some(pred) = MetaColumns.statLong(DoubleType, 0.0)
    assert(stored === pred)
  }

  test("statLong converts every external leaf shape; unconvertible answers None") {
    assert(MetaColumns.statLong(IntegerType, 7) === Some(7L))
    assert(MetaColumns.statLong(LongType, 7L) === Some(7L))
    assert(MetaColumns.statLong(DateType,
      java.sql.Date.valueOf("2026-01-10")) ===
      Some(java.time.LocalDate.of(2026, 1, 10).toEpochDay))
    assert(MetaColumns.statLong(DateType,
      java.time.LocalDate.of(2026, 1, 10)) ===
      Some(java.time.LocalDate.of(2026, 1, 10).toEpochDay))
    val inst = java.time.Instant.parse("2026-01-01T00:00:01.000001Z")
    assert(MetaColumns.statLong(TimestampType, inst) ===
      Some(1000001L + inst.getEpochSecond * 1000000L - 1000000L))
    assert(MetaColumns.statLong(TimestampType,
      java.sql.Timestamp.from(inst)) === MetaColumns.statLong(TimestampType, inst))
    // pre-epoch fractional timestamps: 1969-12-31 23:59:59.5 is -500000
    // micros; a truncating seconds split would answer +500000 (one second
    // high) and mis-prune segments. Timestamp and Instant shapes must agree.
    val preEpoch = java.time.Instant.parse("1969-12-31T23:59:59.500Z")
    assert(MetaColumns.statLong(TimestampType, preEpoch) === Some(-500000L))
    assert(MetaColumns.statLong(TimestampType,
      java.sql.Timestamp.from(preEpoch)) === Some(-500000L))
    // sub-milli component rides getNanos, not getTime
    val preEpochMicros = java.time.Instant.parse("1969-12-31T23:59:59.123456Z")
    assert(MetaColumns.statLong(TimestampType,
      java.sql.Timestamp.from(preEpochMicros)) ===
      MetaColumns.statLong(TimestampType, preEpochMicros))
    assert(MetaColumns.statLong(StringType, "x") === None) // strings pass through elsewhere
    assert(MetaColumns.statLong(IntegerType, "x") === None)
  }

  test("sortableFloat is an order-preserving bijection; statFloat collapses -0.0f") {
    val rnd = new scala.util.Random(43L)
    val samples = Array.fill(2000)(
      java.lang.Float.intBitsToFloat(rnd.nextInt())).filterNot(_.isNaN) ++
      Array(0.0f, -0.0f, 1.5f, -1.5f, Float.MinValue, Float.MaxValue,
        Float.MinPositiveValue, Float.NegativeInfinity, Float.PositiveInfinity)
    for (a <- samples.take(200); b <- samples.take(200)) {
      val (sa, sb) = (MetaColumns.sortableFloat(a), MetaColumns.sortableFloat(b))
      assert(java.lang.Float.compare(a, b).sign === java.lang.Long.compare(sa, sb).sign,
        s"order broken at ($a, $b)")
    }
    for (f <- samples) {
      val r = MetaColumns.fromSortableFloat(MetaColumns.sortableFloat(f))
      assert(java.lang.Float.floatToRawIntBits(r) ===
        java.lang.Float.floatToRawIntBits(f), s"round-trip of $f gave $r")
    }
    assert(MetaColumns.sortableFloat(-0.0f) === -1L) // the shared sentinel
    assert(MetaColumns.statFloat(-0.0f) === MetaColumns.statFloat(0.0f))
  }

  test("statLong covers the round-5 type matrix (bool/byte/short/float/decimal)") {
    assert(MetaColumns.statLong(BooleanType, true) === Some(1L))
    assert(MetaColumns.statLong(BooleanType, java.lang.Boolean.FALSE) === Some(0L))
    assert(MetaColumns.statLong(ByteType, (-7).toByte) === Some(-7L))
    assert(MetaColumns.statLong(ShortType, 300.toShort) === Some(300L))
    assert(MetaColumns.statLong(FloatType, 1.5f) ===
      Some(MetaColumns.sortableFloat(1.5f)))
    val d155 = DecimalType(15, 5)
    assert(MetaColumns.statLong(d155, new java.math.BigDecimal("1.10000")) ===
      Some(110000L))
    // coarser-scale literal rescales exactly
    assert(MetaColumns.statLong(d155, new java.math.BigDecimal("2")) === Some(200000L))
    // a literal needing rounding at the column scale is un-prunable, not wrong
    assert(MetaColumns.statLong(d155, new java.math.BigDecimal("0.000001")) === None)
    // unscaled overflow past 64 bits is un-prunable
    assert(MetaColumns.statLong(DecimalType(18, 0),
      new java.math.BigDecimal("99999999999999999999")) === None)
    // binary predicates never normalize (no ordered stats recorded)
    assert(MetaColumns.statLong(BinaryType, Array[Byte](1, 2)) === None)
  }

  test("ddl round-trips the full type matrix; canonical columns always lead") {
    val s = StructType(Seq(
      StructField("quality", DoubleType), // metadata deliberately FIRST
      StructField("doc_id", StringType, nullable = false),
      StructField("tokens", ArrayType(IntegerType, containsNull = false), nullable = false),
      StructField("n_tok", IntegerType, nullable = false),
      StructField("source", StringType, nullable = false),
      StructField("views", LongType),
      StructField("created", DateType),
      StructField("ts", TimestampType),
      StructField("lang", StringType),
      StructField("flag", BooleanType),
      StructField("tiny", ByteType),
      StructField("small", ShortType),
      StructField("ratio", FloatType),
      StructField("price", DecimalType(15, 5)),
      StructField("blob", BinaryType)))
    val ddl = MetaColumns.ddl(s)
    assert(ddl.startsWith("doc_id:string,tokens:array<int>,n_tok:int,source:string,"))
    assert(ddl.contains("price:decimal(15;5)")) // ';' — entries split on ','
    val back = MetaColumns.parseDdl(ddl)
    assert(back.fieldNames.toSeq ===
      Seq("doc_id", "tokens", "n_tok", "source", "quality", "views", "created",
        "ts", "lang", "flag", "tiny", "small", "ratio", "price", "blob"))
    assert(back("price").dataType === DecimalType(15, 5))
    assert(back("blob").dataType === BinaryType)
    assert(back("ratio").dataType === FloatType)
    // list columns: element nullability rides the '?' marker
    val lists = StructType(GraftTable.TokenSchema.fields.toSeq ++ Seq(
      StructField("tags", ArrayType(IntegerType, containsNull = true)),
      StructField("words", ArrayType(StringType, containsNull = false)),
      StructField("ids", ArrayType(LongType, containsNull = true))))
    val back2 = MetaColumns.parseDdl(MetaColumns.ddl(lists))
    assert(back2("tags").dataType === ArrayType(IntegerType, containsNull = true))
    assert(back2("words").dataType === ArrayType(StringType, containsNull = false))
    assert(back2("ids").dataType === ArrayType(LongType, containsNull = true))
    assert(MetaColumns.streamsFor(lists("tags")) === Seq("tags", "tags__len"))
    assert(MetaColumns.streamsFor(lists("doc_id")) === Seq("doc_id"))
    // MAP columns: ddl round-trip (';' key/value separator, '?' = nullable
    // values) and the two-pseudo-list engine expansion with four streams
    val maps = StructType(GraftTable.TokenSchema.fields.toSeq ++ Seq(
      StructField("attrs", MapType(StringType, StringType, valueContainsNull = true)),
      StructField("scores", MapType(StringType, LongType, valueContainsNull = false))))
    val back3 = MetaColumns.parseDdl(MetaColumns.ddl(maps))
    assert(back3("attrs").dataType ===
      MapType(StringType, StringType, valueContainsNull = true))
    assert(back3("scores").dataType ===
      MapType(StringType, LongType, valueContainsNull = false))
    assert(MetaColumns.streamsFor(maps("attrs")) ===
      Seq("attrs__k", "attrs__k__len", "attrs__v", "attrs__v__len"))
    assert(MetaColumns.engineFields(maps("attrs")).map(_.dataType) === Seq(
      ArrayType(StringType, containsNull = false),
      ArrayType(StringType, containsNull = true)))
    assert(MetaColumns.specsFor(maps("scores")).map(s => (s.name, s.isString, s.isList)) ===
      Seq(("scores__k", true, true), ("scores__v", false, true)))
    // STRUCT columns: '|' member separator (';' belongs to decimal), '?'
    // nullable members; presence stream + one mangled stream per member
    val structs = StructType(GraftTable.TokenSchema.fields.toSeq ++ Seq(
      StructField("info", StructType(Seq(
        StructField("score", DoubleType, nullable = true),
        StructField("price", DecimalType(15, 5), nullable = true),
        StructField("kind", StringType, nullable = false))))))
    val back4 = MetaColumns.parseDdl(MetaColumns.ddl(structs))
    assert(back4("info").dataType === StructType(Seq(
      StructField("score", DoubleType, nullable = true),
      StructField("price", DecimalType(15, 5), nullable = true),
      StructField("kind", StringType, nullable = false))))
    assert(MetaColumns.streamsFor(structs("info")) ===
      Seq("info__p", "info__f_score", "info__f_price", "info__f_kind"))
    assert(MetaColumns.specsFor(structs("info")).map(_.name) ===
      Seq("info__p", "info__f_score", "info__f_price", "info__f_kind"))
    assert(back("quality").dataType === DoubleType && back("quality").nullable)
    assert(back("doc_id").dataType === StringType && !back("doc_id").nullable)
    assert(MetaColumns.parseDdl(MetaColumns.CanonicalDdl) === MetaColumns.parseDdl(
      MetaColumns.ddl(GraftTable.TokenSchema)))
  }

  test("validate rejects bad names, reserved names, '__', duplicates, unsupported types") {
    def base(extra: StructField*) = StructType(
      GraftTable.TokenSchema.fields.toSeq ++ extra)
    MetaColumns.validate(base()) // canonical alone passes
    MetaColumns.validate(base(StructField("quality", DoubleType)))
    def rejected(f: StructField*): String =
      intercept[IllegalArgumentException](MetaColumns.validate(base(f: _*))).getMessage
    assert(rejected(StructField("Quality", DoubleType)).contains("illegal"))
    assert(rejected(StructField("a__b", DoubleType)).contains("illegal"))
    assert(rejected(StructField("tok_len", LongType)).contains("illegal"))
    assert(rejected(StructField("nRows", LongType)).contains("illegal"))
    // DECIMAL beyond the 64-bit unscaled domain is fenced by name
    assert(rejected(StructField("bad", DecimalType(20, 2))).contains("unsupported"))
    // maps are supported only over list-legal element types
    assert(rejected(StructField("bad", MapType(StringType, DoubleType))).contains("unsupported"))
    assert(rejected(StructField("bad", ArrayType(DoubleType))).contains("unsupported"))
    // the round-5 matrix additions all validate
    MetaColumns.validate(base(StructField("flag", BooleanType),
      StructField("tiny", ByteType), StructField("small", ShortType),
      StructField("ratio", FloatType), StructField("price", DecimalType(18, 2)),
      StructField("blob", BinaryType),
      StructField("tags", ArrayType(IntegerType, containsNull = true)),
      StructField("words", ArrayType(StringType)),
      StructField("attrs", MapType(StringType, StringType)),
      StructField("info", StructType(Seq(
        StructField("score", DoubleType), StructField("kind", StringType))))))
    // struct members: scalar types only, legal names, no nesting
    assert(rejected(StructField("bad", StructType(Seq(
      StructField("l", ArrayType(IntegerType)))))).contains("unsupported"))
    assert(rejected(StructField("bad", StructType(Seq(
      StructField("a__b", IntegerType))))).contains("unsupported"))
    assert(rejected(StructField("bad", StructType(Seq.empty))).contains("unsupported"))
    assert(rejected(
      StructField("dup", LongType), StructField("dup", LongType)).contains("duplicate"))
    // canonical column with the wrong type fails by name
    val wrong = StructType(base().fields.map(f =>
      if (f.name == "n_tok") f.copy(dataType = LongType) else f))
    intercept[IllegalArgumentException](MetaColumns.validate(wrong))
  }

  test("Nullable.frame over selector output round-trips ints and strings (sparse + dense)") {
    val rnd = new scala.util.Random(7L)
    for (trial <- 0 until 100) {
      val n = 1 + rnd.nextInt(300)
      val values = Array.fill(n)(
        if (trial % 3 == 0) rnd.nextLong() else rnd.nextInt(1000).toLong)
      val present = Array.fill(n)(trial % 4 != 0 || rnd.nextBoolean())
      val compacted = Nullable.compactLongs(values, present)
      val (_, inner) = CodecSelector.encodeIntsAuto(compacted, CodecConf.Default)
      val framed = Nullable.frame(present, inner)
      val (got, gotPresent) = Nullable.decodeInts(framed)
      assert(gotPresent.toSeq === present.toSeq)
      (0 until n).foreach { i =>
        if (present(i)) assert(got(i) === values(i))
      }
    }
    // strings, incl. all-null and no-null chunks
    for (vals <- Seq(
      Array[String](null, "a", null, "b", "a"),
      Array[String](null, null),
      Array[String]("x", "y", "z"))) {
      val present = vals.map(_ != null)
      val compacted = vals.filter(_ != null)
      val (_, inner) = CodecSelector.encodeStringsAuto(compacted, CodecConf.Default)
      val got = ChunkValues.nullableStrings(Nullable.frame(present, inner))
      assert(got.toSeq === vals.toSeq)
    }
  }

  test("normalize rewrites int-kind leaves to the stat domain; strings pass; junk drops") {
    val schema = MetaColumns.parseDdl(
      "doc_id:string,tokens:array<int>,n_tok:int,source:string," +
        "views:long,quality:double,created:date")
    val typeOf = (n: String) => schema.fields.find(_.name == n).map(_.dataType)
    val in: Array[org.apache.spark.sql.sources.Filter] = Array(
      EqualTo("n_tok", 7),
      GreaterThan("views", 5L),
      EqualTo("quality", -0.0),
      LessThanOrEqual("created", java.sql.Date.valueOf("2026-01-10")),
      EqualTo("doc_id", "d1"),
      In("n_tok", Array[Any](1, 2)),
      SAnd(EqualTo("source", "web"), EqualTo("n_tok", 3)),
      EqualTo("nope", 1)) // unknown column drops out
    val out = StatPredicate.normalize(in, typeOf)
    assert(out.length === in.length - 1)
    assert(out(0) === EqualTo("n_tok", 7L))
    assert(out(1) === GreaterThan("views", 5L))
    assert(out(2) === EqualTo("quality", MetaColumns.statDouble(0.0)))
    assert(out(3) === LessThanOrEqual("created",
      java.time.LocalDate.of(2026, 1, 10).toEpochDay))
    assert(out(4) === EqualTo("doc_id", "d1"))
    assert(out(5) match {
      case In("n_tok", vs) => vs.toSeq == Seq(1L, 2L)
      case _ => false
    })
    assert(out(6) === SAnd(EqualTo("source", "web"), EqualTo("n_tok", 3L)))
  }

  test("mustMatchAll never trusts nullable metadata stats (LIMIT soundness gate)") {
    val range = GraftLayout.ColRange(1L, 1L, "v", "v") // degenerate [v, v]
    val get = (_: String) => Some(range)
    // canonical columns: a degenerate range proves all-match
    assert(StatPredicate.mustMatchAll(get, EqualTo("n_tok", 1L)))
    assert(StatPredicate.mustMatchAll(get, EqualTo("doc_id", "v")))
    // metadata columns: same stats must guarantee NOTHING (nulls invisible)
    assert(!StatPredicate.mustMatchAll(get, EqualTo("views", 1L)))
    assert(!StatPredicate.mustMatchAll(get, EqualTo("lang", "v")))
    assert(!StatPredicate.mustMatchAll(get, In("views", Array[Any](1L))))
  }
}
