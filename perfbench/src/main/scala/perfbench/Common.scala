package perfbench

import scala.collection.mutable

/** What a workload hands back: named metrics with units, op counts, output
  * check verdicts and host context. Serialized as the run's result JSON. */
final class Result(val workload: String) {
  private val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val host = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val checks = mutable.LinkedHashMap.empty[String, Boolean]
  private val notes = mutable.LinkedHashMap.empty[String, String]
  var attempted = 0L
  var failed = 0L

  def metric(name: String, unit: String, v: Double): Unit = metrics(name) = (v, unit)
  def layer(name: String, unit: String, v: Double): Unit = layers(name) = (v, unit)
  def hostMetric(name: String, unit: String, v: Double): Unit = host(name) = (v, unit)
  def note(name: String, v: String): Unit = notes(name) = v

  /** Record an output check; a failed check counts as a failed op. */
  def check(name: String, ok: Boolean): Unit = {
    checks(name) = ok
    attempted += 1
    if (!ok) failed += 1
  }

  def json: String = {
    def obj(m: mutable.LinkedHashMap[String, (Double, String)]) = m.map { case (k, (v, u)) =>
      s"${Json.str(k)}: {\"value\": ${Json.num(v)}, \"unit\": ${Json.str(u)}}"
    }.mkString("{", ", ", "}")
    val cs = checks.map { case (k, v) => s"${Json.str(k)}: $v" }.mkString("{", ", ", "}")
    val ns = notes.map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ", ", "}")
    s"""{"workload": ${Json.str(workload)}, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": ${obj(metrics)}, "layers": ${obj(layers)}, "host": ${obj(host)}, """ +
      s""""checks": $cs, "notes": $ns}"""
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
}

object Stats {
  /** Linear-interpolated quantile of the samples (q in [0, 1]). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** Host context read from procfs: sorts a later regression into "host"
  * (CPU stall went up, task time flat) or "code" from the artifacts alone. */
object Host {
  private def read(path: String): Option[String] = scala.util.Try {
    val src = scala.io.Source.fromFile(path)
    try src.mkString finally src.close()
  }.toOption

  /** PSI CPU "some total": microseconds during which a runnable task waited
    * for a CPU; -1 when the kernel has no PSI. */
  def psiCpuSomeUs(): Long = read("/proc/pressure/cpu").flatMap(_.linesIterator
    .find(_.startsWith("some")).map(_.split("total=")(1).trim.toLong)).getOrElse(-1L)

  /** (steal, total) jiffies over all CPUs from /proc/stat: time the
    * hypervisor ran something else while this VM had work, which PSI inside
    * the VM does not count; (-1, -1) when unreadable. */
  def cpuSteal(): (Long, Long) = read("/proc/stat").flatMap(_.linesIterator
    .find(_.startsWith("cpu ")).map { l =>
      val f = l.trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.take(8).sum)
    }).getOrElse((-1L, -1L))

  def loadavg1(): Double =
    read("/proc/loadavg").map(_.trim.split("\\s+")(0).toDouble).getOrElse(-1.0)

  /** This JVM's peak resident set (VmHWM) in MB. */
  def peakRssMb(): Double = read("/proc/self/status").flatMap(_.linesIterator
    .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)).getOrElse(-1.0)

  @volatile private var probeSink = 0L
  private lazy val probeTable = Array.tabulate(1 << 18)(i => (i * 40503 + 17) & ((1 << 18) - 1))

  /** Wall time of a fixed single-threaded loop (dependent loads from a 1 MB
    * table plus integer arithmetic), median of 7: the host's per-core
    * speed. A busy neighbour on the same physical cores slows this VM's
    * CPUs without moving PSI or steal; this figure moves with it. */
  def cpuProbeMs(): Double = Stats.median((0 until 7).map { _ =>
    val t0 = System.nanoTime()
    var j, i = 0
    var x = 0L
    while (i < 4000000) {
      j = probeTable(j ^ (x & 0xff).toInt)
      x = x * 6364136223846793005L + j
      i += 1
    }
    probeSink = x
    (System.nanoTime() - t0) / 1e6
  })

  /** A window over which CPU stall share is measured; the CPU probe runs
    * just before it opens and just after it closes, outside the timed
    * region. */
  final class Window {
    private val probe0 = cpuProbeMs()
    private val psi0 = psiCpuSomeUs()
    private val steal0 = cpuSteal()
    private val t0 = System.nanoTime()
    def stallPct: Double = {
      val psi1 = psiCpuSomeUs()
      val wallUs = (System.nanoTime() - t0) / 1e3
      if (psi0 < 0 || psi1 < 0 || wallUs <= 0) -1.0 else (psi1 - psi0) / wallUs * 100.0
    }
    def stealPct: Double = {
      val (s1, t1) = cpuSteal()
      if (steal0._2 < 0 || t1 <= steal0._2) -1.0 else (s1 - steal0._1) * 100.0 / (t1 - steal0._2)
    }
    /** Mean of the probe before and after the window. */
    def probeMs: Double = (probe0 + cpuProbeMs()) / 2
  }

  def record(res: Result, w: Window): Unit = {
    res.hostMetric("host.cpu_stall_pct", "%", w.stallPct)
    res.hostMetric("host.steal_pct", "%", w.stealPct)
    res.hostMetric("host.cpu_probe_ms", "ms", w.probeMs)
    res.hostMetric("host.loadavg", "count", loadavg1())
  }
}

/** Phase marks on stderr, so a slow run shows where its wall went. */
object Log {
  private val t0 = System.nanoTime()
  def phase(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%7.2fs $msg")
}

object Timer {
  def ms[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }
}
