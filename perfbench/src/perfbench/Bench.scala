package perfbench

import java.io.File

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession, functions => F}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.storage.StorageLevel

import graft.codec.{IntCodecs, StringCodecs}
import graft.engine.{GraftEncoder, TokenRow, TokenTables}
import graft.lineage.SegmentStore

object PlanWalk extends AdaptiveSparkPlanHelper {
  /** Sums of the connector's scan `CustomMetric`s in an executed plan. */
  def graftMetrics(plan: SparkPlan): Map[String, Long] =
    collect(plan) { case p if p.metrics.keys.exists(_.startsWith("graft")) => p }
      .flatMap(_.metrics.collect { case (k, m) if k.startsWith("graft") => k -> m.value })
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
}

/** One benchmark run: set-up (several times, for `setup_s`), the measured
  * closed loop of one workload from a single client thread, result checks
  * against the seeded generator, and, when traced, the layer probes.
  *
  * Sizes are chosen so every table fits in memory and in `GraftLayout`'s
  * 64k-file header cache; the first `read` query of a run is the
  * cold-cache case. */
final class Bench(conf: Conf) {
  import Bench._

  private val smoke = conf.smoke
  private val workload = conf.workload
  /** Rows per append batch and batches per table. */
  private val (batchRows, batches) = (workload, smoke) match {
    case (_, true) => (300, 2)
    case ("ingest", _) => (1250, 8)
    case _ => (5000, 4)
  }
  private val setupReps = if (smoke) 2 else 3
  private val nRows = batchRows * batches
  private val cores = Main.Cores
  private val buckets = cores
  /** Data files of the measured table: `buckets` per append, and `ingest`
    * measures its table after compaction into `buckets` files. */
  private val graftFiles = if (workload == "ingest") buckets else batches * buckets

  private val tracer = new Tracer(conf.trace)
  private var spark: SparkSession = _
  private val report = new Report
  private var attempted = 0L
  private var failed = 0L
  private var wrong = 0L

  // the generated inputs of the current set-up
  private var inputBatches: Seq[Dataset[TokenRow]] = Nil
  private var expect: Digest = _
  private var orcZlibBytes = 0L
  private var orcFiles = 0
  private var table: String = _ // the table the read loop queries

  // layer records, filled while tracing
  private val scanPlanMs = ArrayBuffer.empty[Double]
  private val scanExecMs = ArrayBuffer.empty[Double]
  private var firstPlanMs = Double.NaN
  private val scanCounters = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private var resultRows = 0L
  private var emittedRowsCounted = 0L
  private val writeFiles = ArrayBuffer.empty[Double]
  private val compactS = ArrayBuffer.empty[Double]
  private val expireMs = ArrayBuffer.empty[Double]
  private val bytesRewritten = ArrayBuffer.empty[Double]
  private val ledgerFiles = ArrayBuffer.empty[Double]

  private def session(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.local.dir", s"${conf.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${conf.work}/warehouse")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def stopSession(): Unit = if (spark != null) {
    tracer.detach()
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    spark = null
  }

  def run(): Int = {
    val calibBefore = Kernels.calibMs()
    println(f"[perfbench] workload=$workload seed=${conf.seed} seconds=${conf.seconds}%.1f " +
      s"trace=${conf.trace} cores=$cores smoke=$smoke")
    println(s"[perfbench] storage medium=${conf.medium}; flush policy: no fsync on either " +
      "side (graft and the ORC baseline both write through Hadoop's local filesystem and " +
      "stay in the OS page cache)")
    val work = new File(conf.work)
    try {
      val setupTimes = (0 until setupReps).map(setup)
      val loop = workload match {
        case "ingest" => ingestLoop()
        case "read" => readLoop()
      }
      if (conf.trace) probes(loop)
      val calibAfter = Kernels.calibMs()
      println(f"[noise] calib_kernel_ms=$calibBefore%.1f calib_kernel_ms_after=$calibAfter%.1f " +
        "(fixed single-thread RleV2 workload; inflated values flag a noisy host window)")
      val storedBytes = Stats.median(loop.storedBytes)
      val tokens = expect.tokens.toDouble
      println(f"[perfbench] error_rate=${failed.toDouble / math.max(1L, attempted)}%.4f ratio " +
        s"(failed $failed, wrong results $wrong, attempted $attempted)")
      println("[perfbench] timed op ms in run order: " + loop.opMs.map(m => f"$m%.0f").mkString(" "))
      println(f"[perfbench] op_p50_ms=${loop.typicalMs()}%.2f ms " +
        f"op_p90_ms=${Stats.quantile(loop.opMs, 0.9)}%.2f ms over ${loop.opMs.size} timed ops")
      println(s"[size] graft data files ${dataFiles(table)}, orc-zlib baseline files $orcFiles")
      loop.sensitivity(GatedTimeBound).foreach(l => println(s"[sensitivity] $l"))
      if (!conf.trace) {
        report.put("setup_s", Stats.median(setupTimes), "s")
        report.put("ops_per_s", loop.opsPerS, "1/s")
        report.put("op_p50_ms", loop.typicalMs(), "ms")
        report.put("stored_vs_orc_zlib", storedBytes / orcZlibBytes, "ratio")
        report.put("stored_bytes_per_token", storedBytes / tokens, "B")
      }
      println(report.json(correct = wrong == 0, attempted, failed))
      if (failed > 0) 1 else 0
    } finally {
      try stopSession() finally deleteRecursively(work)
    }
  }

  // ---------------------------------------------------------------- set-up

  /** Session start, input generation, the set-up table (read)
    * and the ORC-zlib baseline of the same rows. Returns its seconds. */
  private def setup(rep: Int): Double = {
    stopSession()
    val t0 = System.nanoTime()
    spark = session()
    tracer.attach(spark.sparkContext)
    val tSession = System.nanoTime()
    val session0 = spark
    import session0.implicits._
    val seed = conf.seed
    // generated in Spark tasks; rows depend only on (seed, row id)
    inputBatches = (0 until batches).map { k =>
      val ds = spark.range(k.toLong * batchRows, (k + 1L) * batchRows, 1L, cores).as[Long]
        .map(id => TokenTables.syntheticRow(seed, id))
        .persist(StorageLevel.MEMORY_ONLY)
      ds.count()
      ds
    }
    val all = inputBatches.reduce(_ union _)
    expect = Digest.of(all.toDF())
    val tInput = System.nanoTime()
    if (workload != "ingest") {
      table = s"${conf.work}/table-$rep"
      inputBatches.foreach(b => append(b, table))
    }
    val tTable = System.nanoTime()
    val orcDir = s"${conf.work}/orc-$rep"
    // as many files as the measured graft table, rows kept in id order
    all.coalesce(graftFiles).write.option("compression", "zlib").orc(orcDir)
    orcZlibBytes = dirBytes(new File(orcDir))
    orcFiles = filesEnding(new File(orcDir), ".orc")
    val secs = (System.nanoTime() - t0) / 1e9
    println(f"[setup] rep $rep: $secs%.3f s (session ${(tSession - t0) / 1e9}%.3f, inputs " +
      f"${(tInput - tSession) / 1e9}%.3f, table ${(tTable - tInput) / 1e9}%.3f, orc baseline " +
      f"${secs - (tTable - t0) / 1e9}%.3f; $nRows rows, ${expect.tokens} tokens, " +
      s"orc_zlib_bytes $orcZlibBytes in $orcFiles files)")
    if (rep > 0) {
      deleteRecursively(new File(s"${conf.work}/table-${rep - 1}"))
      deleteRecursively(new File(s"${conf.work}/orc-${rep - 1}"))
    }
    secs
  }

  /** `df.write.format("graft")` append, ledger commit included. */
  private def append(ds: Dataset[TokenRow], dir: String): Unit = tracer.span("sources.write", "append") {
    val before = if (tracer.on) dataFiles(dir) else 0
    ds.toDF().write.format("graft").mode("append").option("buckets", buckets.toString).save(dir)
    if (tracer.on) writeFiles += (dataFiles(dir) - before).toDouble
  }

  // ---------------------------------------------------------------- loops

  /** Single-thread time of the payload decodes a full scan makes: the
    * inflate + codec decode of every column chunk of every visible segment,
    * through the calls the columnar reader makes. Median of 3 passes after
    * a warm-up pass. */
  private def payloadDecodeNs(dir: String): Double = {
    val chunks = SegmentStore.readSegmentsAll(spark, dir).collect()
      .map(s => s.cols.map(c => c.col -> c.payload).toMap)
    def pass(): Double = {
      val t0 = System.nanoTime()
      chunks.foreach { c =>
        StringCodecs.decodeChunkBytes(c("doc_id"))
        StringCodecs.decodeChunkBytes(c("source"))
        IntCodecs.decodeChunkInt(c("n_tok"))
        IntCodecs.decodeChunkInt(c("tok_len"))
        IntCodecs.decodeChunkInt(c("tokens"))
      }
      (System.nanoTime() - t0).toDouble
    }
    pass()
    Stats.median((1 to 3).map(_ => pass()))
  }

  /** One timed operation that succeeded. */
  private final case class Op(kind: String, ms: Double, traced: Boolean)

  private final case class Loop(ops: Seq[Op], storedBytes: Seq[Double]) {
    def opMs: Seq[Double] = ops.map(_.ms)

    /** Timed operations per second of their summed time: each kind weighs
      * by its share of the time. */
    def opsPerS: Double = ops.size / (opMs.sum / 1e3)

    /** Geometric mean over operation kinds of each kind's median latency:
      * the median itself for a single kind, and for a mix a typical latency
      * that every kind moves by its own share, whatever the kinds' spread. */
    def typicalMs(traced: Option[Boolean] = None): Double = {
      val medians = ops.filter(o => traced.forall(_ == o.traced)).groupBy(_.kind).values
        .map(xs => Stats.median(xs.map(_.ms)))
      math.exp(medians.map(math.log).sum / medians.size)
    }

    /** Per kind: samples, median, share of the timed ops' summed time, and
      * how many times slower that kind alone must get before a gated time
      * metric is worse by `bound`: `op_p50_ms`, a geometric mean over K
      * kinds, needs (1 + bound)^K; `ops_per_s`, time-weighted, needs
      * 1 + (1 / (1 - bound) - 1) / share. */
    def sensitivity(bound: Double): Seq[String] = {
      val byKind = ops.groupBy(_.kind).toSeq.sortBy(_._1)
      val total = opMs.sum
      byKind.map { case (kind, xs) =>
        val share = xs.map(_.ms).sum / total
        f"kind=$kind n=${xs.size} p50_ms=${Stats.median(xs.map(_.ms))}%.1f time_share=$share%.3f " +
          f"slowdown_to_leave_bound: op_p50_ms ${math.pow(1 + bound, byKind.size)}%.2fx " +
          f"ops_per_s ${1 + (1 / (1 - bound) - 1) / share}%.2fx"
      }
    }
  }

  /** Runs `op` in a closed loop for the run's seconds, and for at least
    * `minOps` operations, after `warmOps` checked but untimed operations
    * that let the JIT and the caches settle. A traced run traces every
    * other block of `block` operations (one rotation of the mix), so
    * traced and untraced operations share one process, one window and one
    * mix, and their difference is the tracing overhead. Returns the results
    * of the timed operations that succeeded, each with whether it was
    * traced. */
  private def closedLoop[A](minOps: Int, warmOps: Int = 0, block: Int = 1)(
      op: Long => Option[A]): Seq[(A, Boolean)] = {
    tracer.on = false
    (0 until warmOps).foreach(i => op(i.toLong))
    val out = ArrayBuffer.empty[(A, Boolean)]
    val t0 = System.nanoTime()
    var n = warmOps.toLong
    // a traced run needs at least one traced and one untraced operation
    val least = warmOps + math.max(minOps, if (conf.trace) 2 * block else 1)
    while ((System.nanoTime() - t0) / 1e9 < conf.seconds || n < least) {
      tracer.on = conf.trace && ((n - warmOps) / block) % 2 == 1
      val traced = tracer.on
      op(n).foreach(a => out += a -> traced)
      n += 1
    }
    tracer.on = conf.trace
    out.toSeq
  }

  /** Runs one attempted operation: failures and wrong results are counted
    * and named, and never yield a sample. */
  private def attempt[A](what: String, ops: Int = 1)(body: => A)(check: A => Option[String]): Option[A] = {
    attempted += ops
    try {
      val a = body
      check(a) match {
        case None => Some(a)
        case Some(why) =>
          failed += ops; wrong += ops
          println(s"[perfbench] WRONG RESULT $what: $why")
          None
      }
    } catch {
      case e: Throwable if scala.util.control.NonFatal(e) =>
        failed += ops
        println(s"[perfbench] FAILED $what: ${Main.rootCause(e)}")
        None
    }
  }

  private def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  /** ingest: `batches` appends into a fresh table, then one compact +
    * expireSuperseded; repeated. Ops are each append and the compaction
    * (compact + expire). */
  private def ingestLoop(): Loop = {
    case class Cycle(appendMs: Seq[Double], compactMs: Double, expireMs: Double, stored: Long)
    var lastDir = ""
    // at least 3 timed cycles: the compaction median is then a middle
    // sample, and a slow run does not stop before its warmer cycles
    val cycles = closedLoop(minOps = if (smoke) 1 else 3, warmOps = 1) { c =>
      val dir = s"${conf.work}/ingest-$c"
      if (lastDir.nonEmpty) deleteRecursively(new File(lastDir))
      lastDir = dir
      // appends and the compaction are the cycle's operations
      attempt(s"ingest cycle $c", ops = batches + 1) {
        tracer.op(c, "ingest cycle") {
          val appendMs = inputBatches.map { b =>
            val t = System.nanoTime(); append(b, dir); ms(t)
          }
          val t1 = System.nanoTime()
          compact(dir)
          val cMs = ms(t1)
          val t2 = System.nanoTime()
          tracer.span("lineage", "expireSuperseded")(SegmentStore.expireSuperseded(spark, dir))
          val eMs = ms(t2)
          if (tracer.on) expireMs += eMs
          Cycle(appendMs, cMs, eMs, dirBytes(new File(dir)))
        }
      } { _ => ledgerCheck(dir) }
    }
    if (cycles.isEmpty) throw new IllegalStateException("no ingest cycle succeeded")
    table = lastDir // the last cycle's table stays for the probes
    val all = cycles.map(_._1)
    all.foreach(c => println(f"[ingest] cycle: appends ${c.appendMs.map(m => f"$m%.0f").mkString(" ")} ms, " +
      f"compact ${c.compactMs}%.0f ms, expire ${c.expireMs}%.0f ms"))
    val tokenMb = expect.tokens * 4.0 / 1e6
    println(f"[ingest] write_mb_s=${tokenMb * all.size / (all.map(_.appendMs.sum).sum / 1e3)}%.3f MB/s " +
      f"compact_mb_s=${tokenMb * all.size / (all.map(c => c.compactMs + c.expireMs).sum / 1e3)}%.3f MB/s " +
      s"(${all.size} cycles, ${all.size * batches} appends of $batchRows rows)")
    Loop(cycles.flatMap { case (c, traced) =>
      c.appendMs.map(Op("append", _, traced)) :+ Op("compact", c.compactMs + c.expireMs, traced)
    }, all.map(_.stored.toDouble))
  }

  private def compact(dir: String): Unit = {
    val t = System.nanoTime()
    val id = tracer.span("lineage", "compact") {
      SegmentStore.compact(spark, dir, Long.MaxValue, buckets)
    }
    if (tracer.on) {
      compactS += ms(t) / 1e3
      id.foreach(i => bytesRewritten += dirBytes(new File(s"$dir/data/snapshotId=$i")).toDouble)
      ledgerFiles += Option(new File(s"$dir/lineage").listFiles()).getOrElse(Array.empty[File])
        .count(f => f.isFile && !f.getName.endsWith(".crc") && !f.getName.startsWith(".")).toDouble
    }
  }

  /** The ledger's visible rows and tokens must equal the input's. */
  private def ledgerCheck(dir: String): Option[String] = {
    val ledger = SegmentStore.readLineage(spark, dir).collect()
    val superseded = ledger.flatMap(r => SegmentStore.supersededBy(r.status).map(_ => (r.snapshotId, r.bucket))).toSet
    val visible = ledger.filter(r => r.status == SegmentStore.Committed && !superseded((r.snapshotId, r.bucket)))
    val (r, t) = (visible.map(_.nRows).sum, visible.map(_.nTokens).sum)
    if (r == expect.rows && t == expect.tokens) None
    else Some(s"ledger holds $r rows / $t tokens, input has ${expect.rows} / ${expect.tokens}")
  }

  /** Plans (load → executedPlan) and executes one read query; records the
    * scan layer numbers when tracing. */
  private def query[A](build: DataFrame => DataFrame, usefulRows: Option[Long => Long] = Some(identity))(
      result: Array[Row] => A): (A, Double) = {
    val t0 = System.nanoTime()
    val q = tracer.span("sources.scan", "plan") {
      val q = build(spark.read.format("graft").load(table))
      q.queryExecution.executedPlan
      q
    }
    val planMs = ms(t0)
    val t1 = System.nanoTime()
    val out = tracer.span("sources.scan", "execute")(q.collect())
    val execMs = ms(t1)
    if (firstPlanMs.isNaN) firstPlanMs = planMs
    if (tracer.on) {
      scanPlanMs += planMs
      scanExecMs += execMs
      val m = PlanWalk.graftMetrics(q.queryExecution.executedPlan)
      m.foreach { case (k, v) => scanCounters(k) += v }
      usefulRows.foreach { f =>
        resultRows += f(out.length.toLong)
        emittedRowsCounted += m.getOrElse("graft rows emitted", 0L)
      }
    }
    (result(out), planMs + execMs)
  }

  /** read: one client, closed loop, over one table built in set-up: full
    * scans forcing all four columns (the training loader), point lookups
    * (hits and misses), filters with narrow projections, and header
    * aggregates. */
  private def readLoop(): Loop = {
    val rows = inputBatches.reduce(_ union _).toDF()
      .select(F.col("doc_id"), F.col("n_tok"), F.col("source"), F.array_min(F.col("tokens")))
      .collect().map(r => Meta(r.getString(0), r.getInt(1), r.getString(2), r.getInt(3)))
    val rnd = new java.util.Random(conf.seed * 1000003L + 17L)
    val sources = rows.map(_.source).distinct.sorted
    // filters: fixed (n_tok threshold, source) pairs taken in turn, so their
    // selectivity does not vary with the seed; answers come from the rows
    val filters = Array.tabulate(8) { k =>
      val t = Array(150, 300, 600, 1200)(k % 4)
      val s = sources(k % sources.length)
      val hit = rows.filter(r => r.n_tok > t && r.source == s)
      (t, s, (hit.length.toLong, hit.map(_.n_tok.toLong).sum, hit.map(_.doc_id.hashCode.toLong).sum))
    }
    val minTok = rows.iterator.map(_.minToken).min
    val aggs: Array[(String, DataFrame => DataFrame, Seq[Any])] = Array(
      ("count", _.agg(F.count(F.lit(1))), Seq(nRows.toLong)),
      ("min_max_n_tok", _.agg(F.min(F.col("n_tok")), F.max(F.col("n_tok"))),
        Seq(rows.map(_.n_tok).min, rows.map(_.n_tok).max)),
      ("min_max_doc_id", _.agg(F.min(F.col("doc_id")), F.max(F.col("doc_id"))),
        Seq(rows.map(_.doc_id).min, rows.map(_.doc_id).max)),
      ("min_array_min_tokens", _.agg(F.min(F.array_min(F.col("tokens")))), Seq(minTok)))
    val byKind = mutable.Map.empty[String, ArrayBuffer[Double]]
    val ops = closedLoop(minOps = if (smoke) 8 else 24, warmOps = 4, block = 8) { i =>
      // A fixed 8-slot rotation keeps the mix equal on every seed:
      // scan, hit, filter, aggregate, scan, miss, filter, aggregate, with
      // the aggregates taking turns; seeds pick ids and filter values.
      val slot = (i % 8).toInt
      val (name, kind, run): (String, String, () => Option[(Any, Double)]) = slot % 4 match {
        case 0 =>
          ("scan", "full_scan", () => attempt[(Digest, Double)](s"scan $i") {
            tracer.op(i, "full scan") {
              query(df => Digest.select(df), Some(_ => expect.rows))(r => Digest.from(r.head))
            }
          } { case (d, _) => if (d == expect) None else Some(s"scan digest $d, expected $expect") })
        case 1 =>
          val hit = slot == 1
          val id = if (hit) rnd.nextInt(nRows).toLong else nRows.toLong + rnd.nextInt(nRows)
          val docId = f"doc_$id%012d"
          ("lookup", if (hit) "point_hit" else "point_miss", () => attempt[(Array[Row], Double)](s"lookup $docId") {
            tracer.op(i, "point lookup") {
              query(_.filter(F.col("doc_id") === docId))(r => r)
            }
          } { case (r, _) =>
            if (!hit) (if (r.isEmpty) None else Some(s"miss $docId returned ${r.length} rows"))
            else {
              val want = TokenTables.syntheticRow(conf.seed, id)
              val ok = r.length == 1 && r(0).getAs[String]("doc_id") == want.doc_id &&
                r(0).getAs[Int]("n_tok") == want.n_tok && r(0).getAs[String]("source") == want.source &&
                r(0).getAs[scala.collection.Seq[Int]]("tokens").toArray.sameElements(want.tokens)
              if (ok) None else Some(s"hit $docId returned ${r.length} rows, not the generator's row")
            }
          })
        case 2 =>
          val (t, s, want) = filters((i / 4 % filters.length).toInt)
          ("filter", "filter", () => attempt[((Long, Long, Long), Double)](s"filter n_tok>$t source=$s") {
            tracer.op(i, "filter") {
              query(_.filter(F.col("n_tok") > t && F.col("source") === s).select("doc_id", "n_tok"))(r =>
                (r.length.toLong, r.map(_.getInt(1).toLong).sum, r.map(_.getString(0).hashCode.toLong).sum))
            }
          } { case (got, _) => if (got == want) None else Some(s"got $got, expected $want") })
        case _ =>
          val (aggName, build, want) = aggs((i / 4 % aggs.length).toInt)
          ("agg", "agg", () => attempt[(Seq[Any], Double)](s"agg $aggName") {
            tracer.op(i, s"agg $aggName") {
              query(build, None)(r => r.head.toSeq)
            }
          } { case (got, _) => if (got == want) None else Some(s"got $got, expected $want") })
      }
      run().map { case (_, t) => byKind.getOrElseUpdate(name, ArrayBuffer.empty) += t; (kind, t) }
    }
    val scans = byKind.getOrElse("scan", ArrayBuffer.empty[Double])
    if (scans.nonEmpty)
      println(f"[read] scan_mb_s=${expect.tokens * 4.0 / 1e6 * scans.size / (scans.sum / 1e3)}%.3f MB/s " +
        s"(${scans.size} full scans of $nRows rows)")
    Seq("lookup", "filter", "agg").foreach { k =>
      val xs = byKind.getOrElse(k, ArrayBuffer.empty[Double]).toSeq
      if (xs.nonEmpty)
        println(f"[read] ${k}_p50_ms=${Stats.quantile(xs, 0.5)}%.2f ms ${k}_p90_ms=" +
          f"${Stats.quantile(xs, 0.9)}%.2f ms (${xs.size} samples)")
    }
    println(f"[read] first_query_plan_ms=$firstPlanMs%.2f ms (cold caches)")
    Loop(ops.map { case ((kind, ms), traced) => Op(kind, ms, traced) }, Seq(dirBytes(new File(table)).toDouble))
  }

  // ---------------------------------------------------------------- probes

  /** Traced runs only: kernel, selector and engine probes on the
    * workload's rows, a small append + compact + expire cycle, a full scan
    * and a point lookup of the workload's table, then every per-layer
    * metric. */
  private def probes(loop: Loop): Unit = {
    val maxChunks = if (smoke) 2 else 8
    val chunks = Kernels.chunksOf(inputBatches.reduce(_ union _).collect().take(maxChunks * 4096).toSeq, maxChunks)
    val minMs = if (smoke) 20.0 else 150.0
    Kernels.codecMetrics(chunks, minMs).toSeq.sortBy(_._1).foreach { case (k, v) => report.put(k, v, "MB/s") }
    Kernels.selectorMetrics(chunks, minMs).foreach { case (k, v) =>
      report.put(k, v, if (k.endsWith("ns_per_value")) "ns" else if (k == "select.regret") "ratio" else "count")
    }

    // engine: GraftEncoder.encode without a sink, plus its stage metrics
    tracer.quiesce()
    val before = tracer.stageTotals
    val t0 = System.nanoTime()
    val agg = tracer.span("engine", "encode") {
      GraftEncoder.encode(inputBatches.reduce(_ union _), buckets)
        .agg(F.sum(F.col("nRows")).cast("long"), F.sum(F.col("nTokens")).cast("long")).collect()(0)
    }
    val encodeS = (System.nanoTime() - t0) / 1e9
    tracer.quiesce()
    val eng = minus(tracer.stageTotals, before)
    if (agg.getLong(0) != expect.rows || agg.getLong(1) != expect.tokens) {
      failed += 1; wrong += 1
      println(s"[perfbench] WRONG RESULT engine probe: $agg, expected ${expect.rows} rows")
    }
    report.put("engine.encode_s", encodeS, "s")
    report.put("engine.task_cpu_s", eng.cpuNs / 1e9, "s")
    report.put("engine.gc_s", eng.gcMs / 1e3, "s")
    report.put("engine.shuffle_bytes_per_token", eng.shuffleWriteBytes.toDouble / expect.tokens, "B")

    // lineage: a two-append table compacted and expired, then ledger reads
    val small = s"${conf.work}/probe-lineage"
    inputBatches.take(2).foreach(b => append(b, small))
    compact(small)
    val te = System.nanoTime()
    tracer.span("lineage", "expireSuperseded")(SegmentStore.expireSuperseded(spark, small))
    expireMs += ms(te)
    val ledgerReadMs = (1 to 3).map { _ =>
      val t = System.nanoTime()
      tracer.span("lineage", "readLineage")(SegmentStore.readLineage(spark, table).collect())
      ms(t)
    }

    // scan: one full scan and one point lookup of the workload's table
    tracer.quiesce()
    val beforeScan = tracer.stageTotals
    query(df => Digest.select(df), Some(_ => expect.rows))(r => Digest.from(r.head)) match {
      case (d, _) if d != expect =>
        failed += 1; wrong += 1
        println(s"[perfbench] WRONG RESULT probe scan: $d, expected $expect")
      case (_, scanMs) =>
        tracer.quiesce()
        val scanCpuNs = minus(tracer.stageTotals, beforeScan).cpuNs
        val decodeNs = payloadDecodeNs(table)
        report.put("sources.scan.decode_share", decodeNs / scanCpuNs, "ratio")
        println(f"[trace] full scan: wall $scanMs%.1f ms, task cpu ${scanCpuNs / 1e6}%.1f ms, " +
          f"payload decode ${decodeNs / 1e6}%.1f ms single-thread")
    }
    val probeId = f"doc_${nRows / 2}%012d"
    query(_.filter(F.col("doc_id") === probeId))(_.length) match {
      case (1, _) =>
      case (n, _) =>
        failed += 1; wrong += 1
        println(s"[perfbench] WRONG RESULT probe lookup $probeId: $n rows")
    }
    tracer.detach()
    val spans = tracer.allSpans

    // sources.write: job time and commit time of each traced append
    val byParent = spans.groupBy(_.parent)
    val appends = spans.filter(s => s.layer == "sources.write" && s.name == "append")
    val jobS = appends.map(a => byParent.getOrElse(a.id, Nil).filter(_.layer == "spark").map(_.durNs).sum / 1e9)
    val commitMs = appends.flatMap { a =>
      val js = byParent.getOrElse(a.id, Nil).filter(_.layer == "spark")
      if (js.isEmpty) None else Some((a.endNs - js.map(_.endNs).max) / 1e6)
    }
    report.put("sources.write.job_s", Stats.median(jobS), "s")
    report.put("sources.write.commit_ms", Stats.median(commitMs), "ms")
    report.put("sources.write.files", Stats.median(writeFiles.toSeq), "count")

    report.put("lineage.compact_s", Stats.median(compactS.toSeq), "s")
    report.put("lineage.bytes_rewritten", Stats.median(bytesRewritten.toSeq), "B")
    report.put("lineage.expire_ms", Stats.median(expireMs.toSeq), "ms")
    report.put("lineage.ledger_files", Stats.median(ledgerFiles.toSeq), "count")
    report.put("lineage.ledger_read_ms", Stats.median(ledgerReadMs), "ms")

    report.put("sources.scan.plan_ms", Stats.median(scanPlanMs.toSeq), "ms")
    report.put("sources.scan.first_plan_ms", firstPlanMs, "ms")
    report.put("sources.scan.exec_ms", Stats.median(scanExecMs.toSeq), "ms")
    ScanCounters.foreach { case (metric, name) =>
      report.put(s"sources.scan.$name", scanCounters(metric).toDouble, if (name.contains("bytes")) "B" else "count")
    }
    val pruned = Seq("graft segments pruned (filter stats)", "graft segments pruned (bloom)",
      "graft segments pruned (token range)").map(scanCounters).sum
    val planned = pruned + scanCounters("graft segments decoded")
    report.put("sources.scan.prune_ratio", if (planned == 0) 0.0 else pruned.toDouble / planned, "ratio")
    report.put("sources.scan.useful_row_ratio",
      if (emittedRowsCounted == 0) 0.0 else resultRows.toDouble / emittedRowsCounted, "ratio")

    val sp = tracer.opStageTotals
    report.put("spark.jobs", sp.jobs.toDouble, "count")
    report.put("spark.stages", sp.stages.toDouble, "count")
    report.put("spark.tasks", sp.tasks.toDouble, "count")
    report.put("spark.task_cpu_s", sp.cpuNs / 1e9, "s")
    report.put("spark.gc_s", sp.gcMs / 1e3, "s")

    // self time of each layer over the traced ops; shares of the ops' wall
    val self = Tracer.selfTimeByLayer(spans)
    val opWall = spans.filter(s => s.op >= 0 && s.parent == -1 && s.layer == "bench").map(_.durNs).sum
    TracedLayers.foreach { l =>
      report.put(s"trace.self_share.$l", self.getOrElse(l, 0L).toDouble / math.max(1L, opWall), "ratio")
    }
    val untraced = loop.typicalMs(Some(false))
    val traced = loop.typicalMs(Some(true))
    report.put("trace.overhead_ratio", (traced - untraced) / untraced, "ratio")
    report.put("trace.spans", spans.size.toDouble, "count")
    println(f"[trace] op_p50_ms untraced=$untraced%.2f traced=$traced%.2f " +
      f"(${loop.ops.count(!_.traced)} / ${loop.ops.count(_.traced)} ops); traced op wall ${opWall / 1e9}%.3f s, " +
      "layer self seconds: " + TracedLayers.map(l => f"$l=${self.getOrElse(l, 0L) / 1e9}%.3f").mkString(" "))

    val out = new File(conf.out)
    out.mkdirs()
    val f = new File(out, s"trace-$workload-seed${conf.seed}.jsonl")
    val w = new java.io.PrintWriter(f, "UTF-8")
    try Tracer.toJsonLines(spans).foreach(w.println) finally w.close()
    println(s"[trace] ${spans.size} spans written to ${f.getPath}")
  }
}

/** The per-row facts the lookup oracle needs. */
final case class Meta(doc_id: String, n_tok: Int, source: String, minToken: Int)

/** Order-independent digest of a table: rows, tokens, and two 32-bit
  * halves of the summed xxhash64 over all four columns. */
final case class Digest(rows: Long, tokens: Long, hashLo: Long, hashHi: Long)

object Digest {
  def select(df: DataFrame): DataFrame = {
    val h = F.xxhash64(F.col("doc_id"), F.col("tokens"), F.col("n_tok"), F.col("source"))
    df.agg(F.count(F.lit(1)), F.sum(F.size(F.col("tokens")).cast("long")),
      F.sum(h.bitwiseAND(0xffffffffL)), F.sum(F.shiftrightunsigned(h, 32)))
  }
  def from(r: Row): Digest = Digest(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
  def of(df: DataFrame): Digest = from(select(df).collect()(0))
}

object Bench {
  /** Connector counter name → metric suffix. */
  val ScanCounters: Seq[(String, String)] = Seq(
    "graft files planned" -> "files_planned",
    "graft files pruned (planning)" -> "files_pruned",
    "graft segments decoded" -> "segments_decoded",
    "graft segments pruned (filter stats)" -> "segments_pruned_stats",
    "graft segments pruned (bloom)" -> "segments_pruned_bloom",
    "graft segments pruned (token range)" -> "segments_pruned_token_range",
    "graft payload bytes decoded" -> "payload_bytes_decoded",
    "graft payload bytes pruned" -> "payload_bytes_pruned",
    "graft rows emitted" -> "rows_emitted")

  /** The bound BENCHMARK.json gives `ops_per_s` and `op_p50_ms`. */
  val GatedTimeBound = 0.25

  /** Layers that own spans inside measured operations. */
  val TracedLayers: Seq[String] = Seq("bench", "sources.write", "sources.scan", "lineage", "spark")

  def minus(a: StageTotals, b: StageTotals): StageTotals =
    StageTotals(a.jobs - b.jobs, a.stages - b.stages, a.tasks - b.tasks, a.cpuNs - b.cpuNs,
      a.gcMs - b.gcMs, a.shuffleWriteBytes - b.shuffleWriteBytes)

  /** On-disk bytes, Hadoop `.crc` side files excluded on both sides. */
  def dirBytes(f: File): Long =
    if (f.isFile) { if (f.getName.endsWith(".crc")) 0L else f.length() }
    else Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)

  def filesEnding(f: File, suffix: String): Int =
    if (f.isFile) (if (f.getName.endsWith(suffix)) 1 else 0)
    else Option(f.listFiles()).map(_.map(filesEnding(_, suffix)).sum).getOrElse(0)

  def dataFiles(table: String): Int = filesEnding(new File(s"$table/data"), ".parquet")

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }
}
