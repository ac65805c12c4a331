package graft.bench

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

import graft.SparkEntry

/** Round-6 optimization harness (guide §1.4/§1.5): per-query wall seconds
  * PLUS the fixed-overhead diagnostics the main bench does not record —
  * Spark job count, stage count, summed task time and shuffle bytes per
  * entry — and `.explain("formatted")` dumps for the plan evidence in
  * plans/r06/. Separate main so the FROZEN `graft.Bench` methodology stays
  * byte-identical.
  *
  * Env knobs:
  *   SPARK_GRAFT_SF_DIR      input dir (default /root/testdata/sf0.1)
  *   SPARK_GRAFT_CPUS        local[n] (default 32)
  *   SPARK_GRAFT_EXTRA_ONLY  regex over entry names (default: all)
  *   SPARK_GRAFT_EXTRA_REPS  timed repetitions per entry (default 1)
  *   SPARK_GRAFT_EXPLAIN_TO  if set, write <name>.txt formatted plans here
  */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val only = sys.env.get("SPARK_GRAFT_EXTRA_ONLY").map(_.r)
    val reps = sys.env.getOrElse("SPARK_GRAFT_EXTRA_REPS", "1").toInt
    val explainTo = sys.env.get("SPARK_GRAFT_EXPLAIN_TO")

    val spark = EncodeBench.session(cpus)
    try SparkEntry.entry(spark).count() catch {
      case e: Throwable =>
        // a failed warm-up silently re-skews every first-entry number —
        // say so loudly (and never swallow a fatal error)
        System.err.println(s"[extra] WARM-UP FAILED — timings below run cold: $e")
        if (!scala.util.control.NonFatal(e)) throw e
    }

    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val taskMs = new AtomicLong(0L)
    val shufB = new AtomicLong(0L)
    val jobLog = sys.env.get("SPARK_GRAFT_EXTRA_JOBLOG").contains("1")
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        if (jobLog) println(s"[extra-job] ${j.jobId} ${j.stageInfos.map(_.numTasks).sum} tasks  " +
          j.properties.getProperty("callSite.short", "?"))
        ()
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        taskMs.addAndGet(s.stageInfo.taskMetrics.executorRunTime)
        shufB.addAndGet(s.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
        if (jobLog) {
          val i = s.stageInfo
          println(f"[extra-stage] id=${i.stageId}%4d tasks=${i.numTasks}%4d " +
            f"wall=${i.completionTime.getOrElse(0L) - i.submissionTime.getOrElse(0L)}%5dms " +
            f"task=${i.taskMetrics.executorRunTime}%6dms ${i.name.take(80)}")
        }
        ()
      }
    }
    spark.sparkContext.addSparkListener(listener)

    // Graft-storage suite timing (the queries_graft block of the frozen
    // bench), runnable standalone for suite-scan optimization work.
    sys.env.get("SPARK_GRAFT_EXTRA_SUITE").map(_.toInt).filter(_ > 0).foreach { nReps =>
      val all = (1 to nReps).map(_ => GraftRelationalBench.run(spark, sfDir))
      val setup = all.map(_._1).min
      val byName = all.flatMap(_._2).groupBy(_._1)
      println(f"[extra-suite] setup ${setup}%.3f s (min of $nReps)")
      byName.toSeq.sortBy(_._1).foreach { case (n, rs) =>
        println(f"[extra-suite] $n%-34s ${rs.map(_._2).min}%8.3f s  rows=${rs.head._3}")
      }
      println(f"[extra-suite] TOTAL ${byName.values.map(_.map(_._2).min).sum}%.3f s")
      spark.stop()
      return
    }

    val entries = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.findFirstIn(name).isDefined) }
    val results = entries.map { case (name, fn) =>
      var best = Double.MaxValue
      var bestJobs = 0; var bestStages = 0; var bestTaskMs = 0L; var bestShuf = 0L
      var r = 0
      while (r < reps) {
        jobs.set(0); stages.set(0); taskMs.set(0L); shufB.set(0L)
        spark.sparkContext.setJobDescription(name)
        val t0 = System.nanoTime()
        var failed = false
        try {
          val df = fn(spark, sfDir)
          df.count()
          explainTo.filter(_ => r == 0).foreach { d =>
            val p = new java.io.File(d); if (!p.exists()) p.mkdirs()
            val txt = df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            java.nio.file.Files.write(
              java.nio.file.Paths.get(d, s"$name.txt"),
              txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          }
        } catch { case e: Throwable =>
          failed = true
          System.err.println(s"[extra] $name FAILED: $e")
          println(s"[extra] $name FAILED (rep $r): ${e.getClass.getSimpleName}")
        }
        // a failed rep's (fast) wall time must never win `best`
        val secs = if (failed) Double.MaxValue else (System.nanoTime() - t0) / 1e9
        Thread.sleep(500) // drain the async listener bus so counts attribute correctly
        if (secs < best) {
          best = secs
          bestJobs = jobs.get(); bestStages = stages.get()
          bestTaskMs = taskMs.get(); bestShuf = shufB.get()
        }
        r += 1
      }
      spark.sparkContext.setJobDescription(null)
      // every rep failed: `best` is still the sentinel, which is no time
      if (best == Double.MaxValue) {
        println(f"[extra] $name%-34s FAILED (all $reps reps)")
        name -> None
      } else {
        println(f"[extra] $name%-34s ${best}%8.3f s  jobs=$bestJobs%3d stages=$bestStages%3d " +
          f"task=${bestTaskMs / 1000.0}%8.1f s  shuffle=${bestShuf / 1024.0 / 1024.0}%7.2f MiB")
        name -> Some(best)
      }
    }
    val timed = results.flatMap(_._2)
    val failedNote =
      if (timed.size == results.size) ""
      else s" (${results.size - timed.size} FAILED entries excluded)"
    println(f"[extra] TOTAL ${timed.sum}%.3f s over ${timed.size} entries$failedNote")
    spark.stop()
  }
}
