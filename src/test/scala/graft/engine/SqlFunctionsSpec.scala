package graft.engine

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The native-Expression SQL surface: graft_decode_ints/strings must decode
  * payload bytes to EXACTLY what the engine's own decode produces, stay
  * null-safe, and run inside WholeStageCodegen (the point of doGenCode —
  * a Scala UDF would fence the plan). */
class SqlFunctionsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    SqlFunctions.register(s)
    s
  }

  private lazy val segs = {
    val input = TokenTables.synthetic(spark, nDocs = 300, seed = 42L)
    val s = GraftEncoder.encode(input, buckets = 4)
    s.createOrReplaceTempView("sql_fn_segs")
    s
  }

  test("graft_decode_ints reproduces the engine decode stream per chunk") {
    segs.collect().foreach { seg =>
      val byCol = seg.cols.map(c => c.col -> c).toMap
      Seq("tokens", "n_tok", "tok_len").foreach { col =>
        val sql = spark.sql(
          s"SELECT graft_decode_ints(X'${byCol(col).payload.map("%02x".format(_)).mkString}')")
          .collect()(0).getSeq[Long](0)
        val direct = graft.codec.IntCodecs.decodeChunk(byCol(col).payload).toSeq
        assert(sql === direct, s"col=$col seg=${seg.segmentId}")
      }
    }
  }

  test("graft_decode_strings reproduces doc_id/source streams; SQL totals match engine decode") {
    import spark.implicits._
    val one = segs.collect()(0)
    val byCol = one.cols.map(c => c.col -> c).toMap
    Seq("doc_id", "source").foreach { col =>
      val sql = spark.sql(
        s"SELECT graft_decode_strings(X'${byCol(col).payload.map("%02x".format(_)).mkString}')")
        .collect()(0).getSeq[String](0)
      assert(sql === graft.codec.ChunkValues.strings(byCol(col).payload))
    }
    // whole-table cross-check entirely in SQL vs entirely in the engine
    val sqlTotal = spark.sql(
      """SELECT SUM(aggregate(graft_decode_ints(c.payload), 0L, (a, x) -> a + x))
        |FROM sql_fn_segs LATERAL VIEW explode(cols) t AS c
        |WHERE c.col = 'tokens'""".stripMargin).collect()(0).getLong(0)
    val engineTotal = GraftEncoder.decode(segs)
      .flatMap(_.tokens.map(_.toLong)).reduce(_ + _)
    assert(sqlTotal === engineTotal)
  }

  test("null payload is null-safe; expression participates in whole-stage codegen") {
    val r = spark.sql("SELECT graft_decode_ints(CAST(NULL AS BINARY))").collect()(0)
    assert(r.isNullAt(0))
    // codegen evidence: the projection over the expression must sit inside
    // a WholeStageCodegen span, not fall back to interpreted eval. AQE only
    // materializes the final plan (with its codegen spans) after execution.
    val df = spark.sql(
      """SELECT size(graft_decode_ints(c.payload))
        |FROM sql_fn_segs LATERAL VIEW explode(cols) t AS c
        |WHERE c.col IN ('tokens', 'n_tok', 'tok_len')""".stripMargin)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the `*(n)` prefix is the WholeStageCodegen marker: the Project that
    // evaluates the expression must carry it
    assert("""\*\(\d+\) Project \[size\(graft_decode_ints""".r.findFirstIn(plan).isDefined,
      s"graft_decode_ints projection not inside a codegen span:\n$plan")
  }
}
