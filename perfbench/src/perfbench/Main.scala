package perfbench

import scala.collection.mutable

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolation quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) throw new IllegalStateException(s"non-finite metric value $d")
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.lang.Double.toString(d)
}

/** Command line of one run; see perfbench/README.md. */
final case class Conf(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      work: String, out: String, smoke: Boolean, medium: String)

object Main {
  val Workloads = Seq("ingest", "read")

  /** Spark `local[n]`: at most 4, and one core left for the client thread. */
  val Cores: Int = math.max(1, math.min(4, Runtime.getRuntime.availableProcessors() - 1))

  private def parse(argv: Array[String]): Conf = {
    val kv = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload = need("workload")
    require(Workloads.contains(workload), s"unknown workload '$workload' (one of ${Workloads.mkString(", ")})")
    Conf(workload, need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      need("work"), need("out"), kv.get("smoke").contains("1"), need("medium"))
  }

  /** The innermost cause, unwrapping the executor/future wrappers Spark
    * puts around a task failure. */
  def rootCause(e: Throwable): String = {
    var c = e
    while (c.getCause != null && c.getCause != c) c = c.getCause
    val msg = Option(c.getMessage).map(_.linesIterator.take(3).mkString(" | ")).getOrElse("")
    s"${c.getClass.getName}: $msg"
  }

  def main(argv: Array[String]): Unit = {
    val code =
      try {
        val conf = parse(argv)
        new Bench(conf).run()
      } catch {
        case e: Throwable =>
          println(s"[perfbench] FAILED: ${rootCause(e)}")
          e.printStackTrace()
          2
      }
    System.out.flush()
    // Spark leaves non-daemon threads behind; exit explicitly
    Runtime.getRuntime.halt(code)
  }
}

/** Collects the metrics of one run, in declaration order. */
final class Report {
  private val values = mutable.LinkedHashMap.empty[String, (Double, String)]
  def put(name: String, value: Double, unit: String): Unit = values(name) = (value, unit)
  def json(correct: Boolean, attempted: Long, failed: Long): String = {
    val ms = values.map { case (k, (v, u)) =>
      s""""$k": {"value": ${Json.num(v)}, "unit": "$u"}"""
    }.mkString(", ")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$ms}}"""
  }
}
