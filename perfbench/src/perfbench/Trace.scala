package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** One timed interval. `parent` is -1 for a root; `op` groups the spans of
  * one benchmark operation (-1 outside the measured loop). */
final case class Span(id: Long, parent: Long, layer: String, name: String,
                      op: Long, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** Stage-level Spark task totals, summed over the stages a listener saw. */
final case class StageTotals(jobs: Long, stages: Long, tasks: Long, cpuNs: Long,
                             gcMs: Long, shuffleWriteBytes: Long)

/** Spans around the benchmark's calls into each layer, kept in memory and
  * written out when the run ends. Disabled, `span` only runs its body, so
  * untraced runs pay nothing but a branch.
  *
  * Spark jobs become child spans of the call that submitted them: the
  * enclosing span id rides the `perfbench.span` local property into the
  * job's properties, and each job's stages become its children. Stage
  * times come from Spark's own clock (ms), job times from the listener's
  * arrival, both mapped onto this JVM's `nanoTime` axis. */
final class Tracer(val enabled: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private var nextId = 0L
  private var stack: List[Long] = Nil
  private var currentOp = -1L
  private var sc: SparkContext = null

  private val wallToNano: Long = System.nanoTime() - System.currentTimeMillis() * 1000000L

  // job and stage ids restart with every SparkContext; keys carry the
  // attach generation
  private var gen = 0L
  private def key(id: Int): Long = (gen << 32) | id.toLong

  private final class Job(val id: Long, val span: Long, val op: Long, val startNs: Long,
                          val stageIds: Seq[Int]) { var endNs: Long = -1L }
  private val jobs = scala.collection.mutable.Map.empty[Long, Job]
  private val stageJob = scala.collection.mutable.Map.empty[Long, Long]
  private val stageSpans = ArrayBuffer.empty[(Long, Span)]
  private var totals = StageTotals(0, 0, 0, 0, 0, 0)
  private var opTotals = StageTotals(0, 0, 0, 0, 0, 0)

  private val listener = new SparkListener {
    override def onJobStart(j: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val parent = Option(j.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProp)))
        .map(_.toLong).getOrElse(-1L)
      val op = Option(j.properties).flatMap(p => Option(p.getProperty(Tracer.OpProp)))
        .map(_.toLong).getOrElse(-1L)
      jobs(key(j.jobId)) = new Job(key(j.jobId), parent, op, j.time * 1000000L + wallToNano, j.stageIds)
      j.stageIds.foreach(s => stageJob(key(s)) = key(j.jobId))
      totals = totals.copy(jobs = totals.jobs + 1)
      if (op >= 0) opTotals = opTotals.copy(jobs = opTotals.jobs + 1)
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(key(j.jobId)).foreach(_.endNs = j.time * 1000000L + wallToNano)
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val i = s.stageInfo
      val m = i.taskMetrics
      def add(t: StageTotals) = StageTotals(t.jobs, t.stages + 1, t.tasks + i.numTasks,
        t.cpuNs + m.executorCpuTime, t.gcMs + m.jvmGCTime,
        t.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten)
      totals = add(totals)
      if (stageJob.get(key(i.stageId)).flatMap(jobs.get).exists(_.op >= 0)) opTotals = add(opTotals)
      for (sub <- i.submissionTime; done <- i.completionTime)
        stageSpans += key(i.stageId) -> Span(-1L, -1L, "spark", s"stage ${i.stageId}: ${i.name.take(60)}",
          -1L, sub * 1000000L + wallToNano, done * 1000000L + wallToNano)
    }
  }

  def attach(context: SparkContext): Unit = if (enabled) {
    sc = context
    synchronized(gen += 1)
    sc.addSparkListener(listener)
  }

  /** Waits until every job the listener saw has ended and its stages were
    * delivered (the listener bus is asynchronous). */
  def quiesce(): Unit = if (enabled && sc != null) {
    val deadline = System.nanoTime() + 10000000000L
    while (synchronized(jobs.values.exists(_.endNs < 0)) && System.nanoTime() < deadline)
      Thread.sleep(20)
    Thread.sleep(200)
  }

  def detach(): Unit = if (enabled && sc != null) {
    quiesce()
    sc.removeSparkListener(listener)
    sc = null
  }

  /** Spans are recorded only while `on`; a traced run switches it off for
    * every other operation. */
  @volatile var on: Boolean = enabled

  def span[A](layer: String, name: String)(body: => A): A =
    if (!on) body
    else {
      val id = synchronized { nextId += 1; nextId }
      val parent = stack.headOption.getOrElse(-1L)
      val prevProp = if (sc != null) sc.getLocalProperty(Tracer.SpanProp) else null
      if (sc != null) sc.setLocalProperty(Tracer.SpanProp, id.toString)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        if (sc != null) sc.setLocalProperty(Tracer.SpanProp, prevProp)
        synchronized { spans += Span(id, parent, layer, name, currentOp, t0, t1) }
      }
    }

  /** Root span of one measured operation. */
  def op[A](opId: Long, name: String)(body: => A): A =
    if (!on) body
    else {
      currentOp = opId
      if (sc != null) sc.setLocalProperty(Tracer.OpProp, opId.toString)
      try span("bench", name)(body)
      finally {
        currentOp = -1L
        if (sc != null) sc.setLocalProperty(Tracer.OpProp, null)
      }
    }

  def stageTotals: StageTotals = synchronized(totals)

  /** Totals of the stages of jobs submitted inside traced operations. */
  def opStageTotals: StageTotals = synchronized(opTotals)

  /** Every span, Spark jobs and stages included. Call after [[detach]]. */
  def allSpans: Seq[Span] = synchronized {
    var id = nextId
    val jobSpans = jobs.values.toSeq.sortBy(_.id).map { j =>
      id += 1
      j.id -> Span(id, j.span, "spark", s"job ${j.id & 0xffffffffL}", j.op, j.startNs,
        if (j.endNs < 0) j.startNs else j.endNs)
    }.toMap
    val stages = stageSpans.toSeq.flatMap { case (sid, s) =>
      stageJob.get(sid).flatMap(jobSpans.get).map { js =>
        id += 1
        s.copy(id = id, parent = js.id, op = js.op)
      }
    }
    spans.toSeq ++ jobSpans.values ++ stages
  }
}

object Tracer {
  final val SpanProp = "perfbench.span"
  final val OpProp = "perfbench.op"

  /** Self time per layer over the spans of measured operations: a span's
    * duration minus the union of its children's intervals (clipped to the
    * span). Stage spans overlap their job; job spans nest in the call that
    * submitted them. */
  def selfTimeByLayer(all: Seq[Span]): Map[String, Long] = {
    val inOps = all.filter(_.op >= 0)
    val children = inOps.groupBy(_.parent)
    inOps.groupBy(_.layer).view.mapValues(_.map { s =>
      val ivs = children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curS = Long.MinValue
      var curE = Long.MinValue
      ivs.foreach { case (a, b) =>
        if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
      if (curE > curS) covered += curE - curS
      math.max(0L, s.durNs - covered)
    }.sum).toMap
  }

  def toJsonLines(all: Seq[Span]): Iterator[String] = all.sortBy(_.startNs).iterator.map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"layer":"${s.layer}",""" +
      s""""name":"${Json.esc(s.name)}","start_ns":${s.startNs},"end_ns":${s.endNs}}"""
  }
}
