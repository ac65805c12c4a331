package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.TokenTables
import graft.lineage.SegmentStore
import graft.sources.ScanMetrics.jobsOf

/** Point lookups that planning prunes to no file, or to one file and one
  * segment, are answered on the driver ([[GraftDriverAnswer]]): no Spark
  * job, no `BatchScanExec`, the rows the Spark scan returns, and the same
  * `graft …` metrics. Everything else keeps the Spark scan. The main table
  * has the shape of perfbench's `read` set-up: four appends of
  * `TokenTables.syntheticRow` rows into three buckets, so twelve
  * part-files; a small chunk budget gives each file several segments, as
  * perfbench's larger appends do. */
class DriverAnswerSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-driver-answer-spec").toString

  private val Seed = 4245L
  private val BatchRows = 300
  private val Batches = 4
  private val Layout = Map("buckets" -> "3", "tokensPerChunk" -> "2048")

  private def docId(id: Long): String = f"doc_$id%012d"

  /** Generator rows [k * BatchRows, (k + 1) * BatchRows): append k. */
  private def batch(k: Int): DataFrame = {
    val s = spark
    import s.implicits._
    val seed = Seed // the task closure must not capture the suite
    spark.range(k.toLong * BatchRows, (k + 1L) * BatchRows, 1L, 2).as[Long]
      .map(id => TokenTables.syntheticRow(seed, id)).toDF()
  }

  /** Append k with one metadata column of every shape. */
  private def metaBatch(k: Int): DataFrame = batch(k)
    .withColumn("quality", when(col("n_tok") % 5 =!= 0, (col("n_tok") / 10.0) - 3.0))
    .withColumn("lang", when(col("n_tok") % 4 =!= 0, concat(lit("l"), (col("n_tok") % 7).cast("string"))))
    .withColumn("tags", when(col("n_tok") % 3 =!= 0, array(col("n_tok") * 2, col("n_tok") * 2 + 1)))
    .withColumn("attrs", when(col("n_tok") % 6 =!= 0,
      map(lit("tier"), concat(lit("t"), (col("n_tok") % 3).cast("string")))))
    .withColumn("info", when(col("n_tok") % 8 =!= 1, struct(
      when(col("n_tok") % 9 =!= 0, col("n_tok") / 100.0).as("score"),
      concat(lit("k"), (col("n_tok") % 2).cast("string")).as("kind"))))

  private def writeTable(rows: Int => DataFrame = batch, opts: Map[String, String] = Map.empty): String = {
    val dir = tmp()
    (0 until Batches).foreach(k =>
      rows(k).write.format("graft").options(Layout ++ opts).mode(SaveMode.Append).save(dir))
    dir
  }

  private lazy val table: String = writeTable()

  private val hit = docId(517) // append 1, so snapshot 2
  private val miss = docId(BatchRows * Batches + 77L)

  private def load(dir: String, opts: Map[String, String] = Map.empty): DataFrame =
    spark.read.format("graft").options(opts).load(dir)

  private object Plans extends AdaptiveSparkPlanHelper
  private def driverAnswered(p: SparkPlan): Boolean =
    Plans.collectFirst(p) { case l: GraftLocalScanExec => l }.isDefined &&
      Plans.collectFirst(p) { case b: BatchScanExec => b }.isEmpty
  private def sparkScanned(p: SparkPlan): Boolean =
    Plans.collectFirst(p) { case b: BatchScanExec if b.scan.isInstanceOf[GraftScan] => b }.isDefined &&
      Plans.collectFirst(p) { case l: GraftLocalScanExec => l }.isEmpty

  private def sorted(rows: Seq[Row]): Seq[Row] = rows.sortBy(_.toString)

  /** `q` through the Spark scan: the pushdown kill switch turns the driver
    * answer off along with every prune. */
  private def reference(dir: String, opts: Map[String, String], q: DataFrame => DataFrame): Seq[Row] = {
    val df = q(load(dir, opts + ("pushdown" -> "false")))
    assert(sparkScanned(df.queryExecution.executedPlan), df.queryExecution.executedPlan.toString)
    df.collect().toSeq
  }

  /** `q` over `dir` is answered on the driver with no Spark job and
    * returns the Spark scan's rows. */
  private def assertAnswered(dir: String, q: DataFrame => DataFrame,
                             opts: Map[String, String] = Map.empty): Seq[Row] = {
    val ((rows, plan), jobs) = jobsOf(spark) {
      val df = q(load(dir, opts))
      (df.collect().toSeq, df.queryExecution.executedPlan)
    }
    assert(driverAnswered(plan), s"not answered on the driver:\n$plan")
    assert(jobs === 0, s"$jobs Spark job(s) for a driver answer")
    assert(sorted(rows) === sorted(reference(dir, opts, q)))
    rows
  }

  /** `q` over `dir` keeps the Spark scan and returns its exact rows. */
  private def assertScanned(dir: String, q: DataFrame => DataFrame): Seq[Row] = {
    val df = q(load(dir))
    assert(sparkScanned(df.queryExecution.executedPlan), df.queryExecution.executedPlan.toString)
    val rows = df.collect().toSeq
    assert(sorted(rows) === sorted(reference(dir, Map.empty, q)))
    rows
  }

  private def lookup(id: String): DataFrame => DataFrame = _.filter(col("doc_id") === id)

  /** Lookup shapes: the row, a projection over it, a second conjunct, a
    * LIMIT (`CollectLimitExec.executeTake`), and `tail`'s shape. */
  private def shapes(id: String): Seq[DataFrame => DataFrame] = Seq(
    lookup(id),
    lookup(id).andThen(_.select((col("n_tok") + 1).as("n1"), upper(col("source")), size(col("tokens")))),
    _.filter(col("doc_id") === id && col("n_tok") > 0),
    lookup(id).andThen(_.limit(1)),
    lookup(id).andThen(_.select(col("doc_id"), col("tokens")).limit(3)))

  test("a point miss and a point hit run no Spark job and plan no BatchScanExec") {
    val want = TokenTables.syntheticRow(Seed, 517)
    val got = assertAnswered(table, lookup(hit))
    assert(got.length === 1)
    assert(got.head.getAs[String]("doc_id") === want.doc_id &&
      got.head.getAs[Int]("n_tok") === want.n_tok &&
      got.head.getAs[String]("source") === want.source &&
      got.head.getAs[scala.collection.Seq[Int]]("tokens").toArray.sameElements(want.tokens))
    assert(assertAnswered(table, lookup(miss)).isEmpty)
    // the driver decodes the one segment the blooms keep, and nothing for a miss
    val (_, mHit) = ScanMetrics.collect(lookup(hit)(load(table)))
    assert(mHit("graft segments decoded") === 1L && mHit("graft files planned") === 1L, mHit)
    val (_, mMiss) = ScanMetrics.collect(lookup(miss)(load(table)))
    assert(mMiss("graft files pruned (planning)") === 12L && mMiss("graft files planned") === 0L &&
      mMiss.getOrElse("graft segments decoded", 0L) === 0L, mMiss)
  }

  test("driver answers return the Spark scan's rows for every lookup shape") {
    for (id <- Seq(hit, miss); q <- shapes(id)) assertAnswered(table, q)
    // take/tail/toLocalIterator reach the node without a job too
    val (n, jobs) = jobsOf(spark) {
      val df = lookup(hit)(load(table))
      df.take(5).length + df.tail(5).length + df.toLocalIterator().asScala.length
    }
    assert(n === 3 && jobs === 0, s"$n rows with $jobs job(s)")
  }

  test("snapshotId: a driver answer reads the table as of that snapshot") {
    // the hit's row was appended in snapshot 2: a miss as of 1, a hit as of 2
    assert(assertAnswered(table, lookup(hit), Map("snapshotId" -> "1")).isEmpty)
    assert(assertAnswered(table, lookup(hit), Map("snapshotId" -> "2")).length === 1)
    assert(assertAnswered(table, lookup(docId(1100)), Map("snapshotId" -> "3")).isEmpty)
  }

  test("metadata columns, a sortBy table and a compacted table stay exact") {
    val meta = writeTable(metaBatch)
    val sortedDir = writeTable(metaBatch, Map("sortBy" -> "quality"))
    val compacted = writeTable()
    assert(SegmentStore.compact(spark, compacted, upTo = Long.MaxValue, buckets = 3,
      tokensPerChunk = 2048).isDefined)
    for (dir <- Seq(meta, sortedDir, compacted); id <- Seq(hit, miss); q <- shapes(id)) assertAnswered(dir, q)
    for (dir <- Seq(meta, sortedDir)) {
      val got = assertAnswered(dir, lookup(hit).andThen(_.select("doc_id", "lang", "tags", "attrs", "info.kind")))
      assert(got.length === 1)
    }
  }

  test("an empty table is answered on the driver with no rows") {
    // as of snapshot 0 no file of a written table is visible
    for (q <- shapes(hit) :+ ((df: DataFrame) => df))
      assert(assertAnswered(table, q, Map("snapshotId" -> "0")).isEmpty)
  }

  test("more than one segment or one file keeps the Spark scan: duplicate ids, IN over two files") {
    val s = spark
    import s.implicits._
    // one file; the duplicate's source sorts it far from the original, into
    // another segment, so the blooms keep two segments
    val rows = (0L until 120L).map(TokenTables.syntheticRow(Seed, _))
    val dup = rows(5).copy(source = "zzz-duplicate")
    val dir = tmp()
    (rows :+ dup).toDF().write.format("graft").option("buckets", "1").option("tokensPerChunk", "512")
      .mode(SaveMode.Append).save(dir)
    assert(assertScanned(dir, lookup(rows(5).doc_id)).length === 2)
    // an IN whose ids live in two appends, so two files
    val in: DataFrame => DataFrame = _.filter(col("doc_id").isin(hit, docId(5)))
    assert(assertScanned(table, in).length === 2)
  }

  test("nondeterministic expressions stay exact: a projection keeps the Spark scan") {
    // a nondeterministic projection is part of the chain: the Spark scan
    // plans it
    val project = lookup(hit).andThen(_.select(col("doc_id"), rand(7).as("r")))
    val df0 = project(load(table))
    assert(sparkScanned(df0.queryExecution.executedPlan), df0.queryExecution.executedPlan.toString)
    assert(df0.collect().map(_.getString(0)).toSeq === Seq(hit))
    // the optimizer keeps a nondeterministic filter out of the scan's
    // chain: it runs in Spark over the deterministic rest, which may be
    // answered on the driver (one partition, as a one-file scan has)
    val filter: DataFrame => DataFrame = _.filter(col("doc_id") === hit && rand(7) >= 0.0)
    val df = filter(load(table))
    assert(Plans.collectFirst(df.queryExecution.executedPlan) { case b: BatchScanExec => b }.isEmpty)
    assert(df.collect().toSeq === reference(table, Map.empty, filter))
  }

  /** `q` planned without [[GraftDriverAnswer]]: the same optimized plan,
    * the same pushed filters, through the Spark scan. */
  private def viaSparkScan(q: DataFrame => DataFrame): DataFrame = {
    val s = spark.newSession()
    val df = q(s.read.format("graft").load(table)) // resolving installs the rules
    s.experimental.extraStrategies = Nil
    df
  }

  test("a driver-answered lookup reports the Spark scan's graft metrics") {
    for (id <- Seq(hit, miss)) {
      val driver = lookup(id)(load(table))
      val viaSpark = viaSparkScan(lookup(id))
      assert(driverAnswered(driver.queryExecution.executedPlan))
      assert(sparkScanned(viaSpark.queryExecution.executedPlan))
      val (r1, m1) = ScanMetrics.collect(driver)
      val (r2, m2) = ScanMetrics.collect(viaSpark)
      assert(r1 === r2)
      val names = GraftScan.customMetrics.map(_.name).toSeq
      assert(names.map(n => n -> m1.getOrElse(n, 0L)).toMap === names.map(n => n -> m2.getOrElse(n, 0L)).toMap,
        s"driver $m1 vs Spark scan $m2")
      if (id == hit) {
        assert(ScanMetrics.segmentsPrunedBy(driver, m1, "graft segments pruned (bloom)") > 0L, m1)
        assert(ScanMetrics.segmentsPrunedBy(viaSpark, m2, "graft segments pruned (bloom)") > 0L, m2)
      }
    }
  }

  test("the plan names the file and the pushed filters") {
    val plan = lookup(hit)(load(table)).queryExecution.executedPlan.toString
    assert(plan.contains("GraftLocalScan") && plan.contains(".parquet") &&
      plan.contains(s"PushedFilters: [EqualTo(doc_id,$hit)"), plan)
    val none = lookup(miss)(load(table)).queryExecution.executedPlan.toString
    assert(none.contains("file: none"), none)
  }
}
