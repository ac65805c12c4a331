package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** The `format("graft")` scan's DSv2 custom metrics as specs read them:
  * per query, from the SQL status store — the same UI-visible path a user
  * sees (reference metrics.rs:57-218 analog). */
object ScanMetrics {

  /** Collect `df` and return (rows, the graft custom scan metrics of the
    * executions this action ran), summed per metric name. */
  def collect(df: DataFrame): (Seq[Row], Map[String, Long]) = {
    val store = df.sparkSession.sharedState.statusStore
    val before = store.executionsList().map(_.executionId).foldLeft(-1L)(math.max)
    val rows = df.collect().toSeq
    val deadline = System.currentTimeMillis() + 20000
    var metrics = Map.empty[String, Long]
    var settled = false
    while (!settled && System.currentTimeMillis() < deadline) {
      val execs = store.executionsList().filter(_.executionId > before)
      settled = execs.nonEmpty && execs.forall(_.completionTime.isDefined)
      if (settled) {
        metrics = execs.flatMap { e =>
          val vals = store.executionMetrics(e.executionId)
          e.metrics.filter(_.name.startsWith("graft"))
            .flatMap(m => vals.get(m.accumulatorId).map(v => m.name -> v.replaceAll("[^0-9-]", "")))
        }.filter(_._2.nonEmpty)
          .groupBy(_._1).view.mapValues(_.map(_._2.toLong).sum).toMap
      } else Thread.sleep(100)
    }
    (rows, metrics)
  }

  /** Segments in the part-files `df`'s scan planned: a batch scan's input
    * partitions, or the file a driver answer read. */
  def segmentsPlanned(df: DataFrame): Long = {
    val files = df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.inputPartitions.map(GraftInputPartition.fileOf)
      case l: GraftLocalScanExec => l.file.toSeq
    }.flatten
    if (files.isEmpty) 0L else df.sparkSession.read.parquet(files: _*).count()
  }

  /** The scan's `counter` (`m`: its metrics), once its four segment
    * counters are checked to account for every segment of the part-files
    * it planned: each one is decoded or pruned exactly once. */
  def segmentsPrunedBy(df: DataFrame, m: Map[String, Long], counter: String): Long = {
    import org.scalatest.Assertions._
    val counted = Seq("graft segments decoded", "graft segments pruned (filter stats)",
      "graft segments pruned (token range)", "graft segments pruned (bloom)")
      .map(m.getOrElse(_, 0L)).sum
    assert(counted === segmentsPlanned(df),
      s"segment counters must cover every planned segment: $m")
    m.getOrElse(counter, 0L)
  }

  /** Runs `body` and counts the Spark jobs it submitted: the jobs of its
    * job group, read once a later sentinel job has been seen (listener
    * events arrive in order). */
  def jobsOf[A](s: SparkSession)(body: => A): (A, Int) = {
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    val sc = s.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("graft-jobs-probe", "counted")
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup("graft-jobs-sentinel", "sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!groups.contains("graft-jobs-sentinel") && System.nanoTime() < deadline)
        Thread.sleep(10)
      org.scalatest.Assertions.assert(groups.contains("graft-jobs-sentinel"),
        "listener never saw the sentinel job")
      (out, groups.toArray.count(_ == "graft-jobs-probe"))
    } finally sc.removeSparkListener(listener)
  }
}
