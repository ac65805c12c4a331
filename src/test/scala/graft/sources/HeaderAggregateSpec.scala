package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.TokenTables
import graft.sources.ScanMetrics.jobsOf

/** Header-answerable aggregates run no Spark job on a plain
  * `format("graft")` session: the connector installs its optimizer rules
  * when the table resolves, and [[GraftStatsAggPushdown]] replaces the
  * aggregate with a local relation computed from the folded headers. Every
  * answer is checked against the generator; every shape the headers cannot
  * answer keeps scanning and stays exact. */
class HeaderAggregateSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-header-agg-spec").toString

  /** Generator rows plus one metadata column of every shape the fold
    * reads: nullable double and string, an int list, a map, a struct. */
  private def withMeta(nDocs: Int, seed: Long): DataFrame = {
    val s = spark
    import s.implicits._
    TokenTables.synthetic(spark, nDocs = nDocs, seed = seed)
      .toDF("doc_id", "tokens", "n_tok", "source")
      .withColumn("quality", when($"n_tok" % 5 =!= 0, ($"n_tok" / 10.0) - 3.0))
      .withColumn("lang", when($"n_tok" % 4 =!= 0, concat(lit("l"), ($"n_tok" % 7).cast("string"))))
      .withColumn("tags", when($"n_tok" % 3 =!= 0, array($"n_tok" * 2, $"n_tok" * 2 + 1)))
      .withColumn("attrs", when($"n_tok" % 6 =!= 0,
        map(lit("tier"), concat(lit("t"), ($"n_tok" % 3).cast("string")))))
      .withColumn("info", when($"n_tok" % 8 =!= 1, struct(
        when($"n_tok" % 9 =!= 0, $"n_tok" / 100.0).as("score"),
        concat(lit("k"), ($"n_tok" % 2).cast("string")).as("kind"))))
  }

  private lazy val input: DataFrame = withMeta(300, 21L)

  private lazy val table: String = {
    val dir = tmp()
    input.write.format("graft").option("buckets", "2").option("tokensPerChunk", "64")
      .mode(SaveMode.Append).save(dir)
    dir
  }

  /** The aggregate shapes the headers answer, each over the table's columns. */
  private val shapes: Seq[(String, DataFrame => DataFrame)] = Seq(
    "COUNT(*)" -> (_.agg(count(lit(1)))),
    "COUNT(col)" -> (_.agg(count(col("doc_id")), count(col("quality")), count(col("lang")),
      count(col("tags")), count(col("attrs")), count(col("info")))),
    "MIN/MAX canonical" -> (_.agg(min(col("n_tok")), max(col("n_tok")),
      min(col("doc_id")), max(col("source")))),
    "MIN/MAX metadata" -> (_.agg(min(col("quality")), max(col("quality")),
      min(col("lang")), max(col("lang")))),
    "struct member" -> (_.agg(min(col("info.score")), max(col("info.score")),
      min(col("info.kind")), count(col("info.score")), count(col("info.kind")))),
    "element extrema" -> (_.agg(min(array_min(col("tokens"))), max(array_max(col("tokens"))),
      min(array_min(col("tags"))), max(array_max(col("tags"))))),
    "mixed" -> (_.agg(count(lit(1)), max(col("n_tok")), min(array_min(col("tags"))),
      count(col("info.kind")), min(col("lang")))))

  private object Plans extends AdaptiveSparkPlanHelper
  private def scansGraft(df: DataFrame): Boolean =
    Plans.collectFirst(df.queryExecution.executedPlan) {
      case b: BatchScanExec if b.scan.isInstanceOf[GraftScan] => b
    }.isDefined

  /** Every shape on a session that has never resolved a graft table and
    * has no `spark.sql.extensions`: zero jobs, a local relation, the
    * generator's answer. */
  private def assertZeroJobShapes(fresh: SparkSession): Unit = {
    assert(!fresh.conf.getOption("spark.sql.extensions").exists(_.contains("Graft")))
    assert(!fresh.experimental.extraOptimizations.contains(GraftStatsAggPushdown),
      "the session already carries the rules")
    shapes.foreach { case (name, build) =>
      val (got, jobs) = jobsOf(fresh) {
        val q = build(fresh.read.format("graft").load(table))
        (q.collect().toSeq, q.queryExecution.executedPlan)
      }
      assert(GraftStatsAggPushdown.answeredOnDriver(got._2), s"$name not answered on the driver:\n${got._2}")
      assert(jobs === 0, s"$name submitted $jobs Spark job(s)")
      assert(got._1 === build(input).collect().toSeq, s"$name diverged from the generator")
    }
    val (n, jobs) = jobsOf(fresh)(fresh.read.format("graft").load(table).count())
    assert(jobs === 0 && n === 300L, s"count() = $n with $jobs job(s)")
  }

  test("header aggregates run zero Spark jobs from the first graft query of a fresh session") {
    val _ = table // written before the probe sessions exist
    assertZeroJobShapes(spark.newSession())
  }

  test("header aggregates run zero Spark jobs on every newSession()") {
    val _ = table
    val first = spark.newSession()
    first.read.format("graft").load(table).agg(count(lit(1))).collect()
    // a sibling session has its own optimizer: the connector installs there too
    assertZeroJobShapes(spark.newSession())
  }

  test("a projection left above an answered aggregate folds into the answer row: zero jobs") {
    // `n + n` reads the count twice, so CollapseProject keeps the Project
    // apart; the rule runs after ConvertToLocalRelation, which would
    // otherwise leave that Project to run as a one-task job
    val build = (df: DataFrame) => df.agg(count(lit(1)).as("n")).select((col("n") + col("n")).as("twice"))
    val q = build(spark.read.format("graft").load(table))
    assert(q.queryExecution.optimizedPlan.collectFirst {
      case p: org.apache.spark.sql.catalyst.plans.logical.Project => p }.isEmpty,
      s"the projection was not folded:\n${q.queryExecution.optimizedPlan}")
    val (rows, jobs) = jobsOf(spark)(q.collect().toSeq)
    assert(GraftStatsAggPushdown.answeredOnDriver(q.queryExecution.executedPlan))
    assert(jobs === 0)
    assert(rows === build(input).collect().toSeq)
    assert(rows === Seq(Row(600L)))
  }

  test("shapes the headers cannot answer keep scanning and stay exact") {
    val t = spark.read.format("graft").load(table)
    val cases: Seq[(String, DataFrame => DataFrame)] = Seq(
      "filtered count" -> (_.filter(col("n_tok") > 300).agg(count(lit(1)))),
      "avg" -> (_.agg(min(col("n_tok")), avg(col("n_tok")))),
      "LIMIT" -> (_.limit(50).agg(count(lit(1)))),
      "GROUP BY" -> (_.groupBy("source").agg(count(lit(1)), max(col("n_tok")))),
      "sum(size(tokens))" -> (_.agg(sum(size(col("tokens"))))),
      "lexicographic MIN over a list" -> (_.agg(min(col("tags")))),
      "DISTINCT count" -> (_.agg(countDistinct(col("source")))))
    cases.foreach { case (name, build) =>
      val q = build(t)
      assert(scansGraft(q), s"$name must scan:\n${q.queryExecution.executedPlan}")
      assert(q.collect().toSet === build(input).collect().toSet, s"$name diverged from the generator")
    }
  }

  test("graft.scan.pushdown=false keeps header-answerable aggregates scanning") {
    spark.conf.set(GraftScan.PushdownConf, "false")
    try shapes.foreach { case (name, build) =>
      val q = build(spark.read.format("graft").load(table))
      assert(scansGraft(q), s"$name folded from stats with pushdown off")
      assert(q.collect().toSeq === build(input).collect().toSeq, s"$name diverged from the generator")
    } finally spark.conf.unset(GraftScan.PushdownConf)
  }

  test("an empty table answers COUNT 0 and MIN null from headers") {
    val dir = tmp()
    input.limit(10).write.format("graft").option("buckets", "2").mode(SaveMode.Append).save(dir)
    // snapshot 0 predates every commit: no file is visible
    val q = spark.read.format("graft").option("snapshotId", "0").load(dir)
      .agg(count(lit(1)), min(col("n_tok")), count(col("lang")), min(array_min(col("tokens"))))
    val (rows, jobs) = jobsOf(spark)(q.collect().toSeq)
    assert(GraftStatsAggPushdown.answeredOnDriver(q.queryExecution.executedPlan))
    assert(jobs === 0)
    assert(rows === Seq(Row(0L, null, 0L, null)))
  }

  test("snapshotId folds only that snapshot's files") {
    val dir = tmp()
    val first = withMeta(100, 3L)
    val second = withMeta(60, 4L)
    Seq(first, second).foreach(_.write.format("graft").option("buckets", "2")
      .mode(SaveMode.Append).save(dir))
    def agg(df: DataFrame) = df.agg(count(lit(1)), max(col("n_tok")), min(col("doc_id")),
      max(array_max(col("tokens"))), count(col("quality")))
    for ((snap, want) <- Seq("1" -> first, "2" -> first.union(second))) {
      val q = agg(spark.read.format("graft").option("snapshotId", snap).load(dir))
      assert(GraftStatsAggPushdown.answeredOnDriver(q.queryExecution.executedPlan))
      assert(q.collect().toSeq === agg(want).collect().toSeq, s"as of snapshot $snap")
    }
  }

  test("a file written before a column existed contributes 0 to COUNT(col)") {
    val s = spark
    import s.implicits._
    val dir = tmp()
    val gen1 = TokenTables.synthetic(spark, nDocs = 60, seed = 8L).toDF()
    gen1.write.format("graft").option("buckets", "2").mode(SaveMode.Append).save(dir)
    val gen2 = TokenTables.synthetic(spark, nDocs = 40, seed = 9L).toDF()
      .withColumn("lang", when($"n_tok" % 3 =!= 0, concat(lit("l"), ($"n_tok" % 5).cast("string"))))
    GraftTableMeta.evolve(dir, spark.sessionState.newHadoopConf(), gen2.schema)
    gen2.write.format("graft").option("buckets", "2").mode(SaveMode.Append).save(dir)
    val q = spark.read.format("graft").load(dir)
      .agg(count(lit(1)), count($"lang"), min($"lang"), max($"lang"))
    assert(GraftStatsAggPushdown.answeredOnDriver(q.queryExecution.executedPlan))
    assert(q.collect().toSeq ===
      Seq(Row.fromSeq(100L +: gen2.agg(count($"lang"), min($"lang"), max($"lang")).collect().head.toSeq)))
  }

  test("the header fold sums each stream's encoded bytes as the segments record them") {
    val conf = spark.sessionState.newHadoopConf()
    val files = GraftLayout.listDataFiles(table, conf)
    val fromSegments = scala.collection.mutable.Map.empty[String, Long]
    files.foreach(f => GraftLayout.foreachSegment(f, conf, GraftLayout.partitionOf(f).get._2) { seg =>
      seg.cols.foreach(c => fromSegments(c.col) = fromSegments.getOrElse(c.col, 0L) + c.bytesOut)
    })
    val folded = GraftLayout.foldHeaders(files, conf).bytesOut
    assert(folded === fromSegments.toMap)
    assert(folded("tokens") > 0L && folded.contains("tags") && folded.contains("info__f_kind"))
  }
}
