package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

/** Command line of one benchmark run (see perfbench/run.py). */
final case class Args(
    workload: String,
    seed: Long,
    seconds: Int,
    trace: Boolean,
    cpus: Int,
    dataDir: String,
    workDir: String,
    traceDir: String,
    expectedFile: String) {
  /** Where a traced run writes its spans, one JSON trace per line. */
  def traceFile: String = s"$traceDir/$workload-seed$seed.jsonl"
}

object Args {
  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("cpus").toInt, need("data"), need("work"), need("traces"),
      need("expected"))
  }
}

/** Outcome of one run: end-to-end metrics (measured with tracing off, or
  * with it on in a traced run) and per-layer metrics. Units live in
  * BENCHMARK.json; run.py attaches them.
  */
final case class Result(
    attempted: Long,
    failed: Long,
    problems: Seq[String],
    endToEnd: Seq[(String, Double)],
    perLayer: Seq[(String, Double)]) {
  def correct: Boolean = failed == 0 && problems.isEmpty

  def json: String = {
    def obj(ms: Seq[(String, Double)]) =
      ms.map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString("{", ",", "}")
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,""" +
      s""""problems":${problems.map(Json.str).mkString("[", ",", "]")},""" +
      s""""end_to_end":${obj(endToEnd)},"per_layer":${obj(perLayer)}}"""
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
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)
}

object Stats {
  /** Linear-interpolated percentile, p in [0, 100]. */
  def pct(xs: collection.Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val r = p / 100.0 * (s.length - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }
  def median(xs: collection.Seq[Double]): Double = pct(xs, 50)
}

/** Process-level probes. */
object Probe {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val threads = ManagementFactory.getThreadMXBean

  def processCpuNs: Long = os.getProcessCpuTime

  /** CPU time per live Java thread. */
  def threadCpuNs(): Map[Long, Long] = {
    val ids = threads.getAllThreadIds
    ids.zip(ids.map(threads.getThreadCpuTime)).filter(_._2 >= 0).toMap
  }

  /** CPU time of the JVM's garbage-collector threads (`GC Thread#n`, and
    * G1's `G1 ...` threads), which are not Java threads, read per OS
    * thread from /proc: nanoseconds from `schedstat`, else clock ticks from
    * `stat`.
    */
  def gcCpuNs(): Long = {
    import scala.jdk.CollectionConverters._
    val tasks = Files.list(Paths.get("/proc/self/task"))
    try tasks.iterator().asScala.map { t =>
      try {
        val comm = Files.readString(t.resolve("comm")).trim
        if (!comm.startsWith("GC Thread") && !comm.startsWith("G1 ")) 0L
        else {
          val sched = t.resolve("schedstat")
          if (Files.exists(sched)) Files.readString(sched).trim.split(" ")(0).toLong
          else {
            val stat = Files.readString(t.resolve("stat"))
            val f = stat.substring(stat.lastIndexOf(')') + 2).split(" ")
            (f(11).toLong + f(12).toLong) * 10000000L
          }
        }
      } catch { case _: java.io.IOException => 0L } // the thread ended meanwhile
    }.sum finally tasks.close()
  }

  /** Seconds since the JVM started: the `setup_s` clock. */
  def uptimeS: Double = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0

  /** Peak resident set size (VmHWM) in MB. */
  def rssPeakMb: Double = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }

  /** Epoch milliseconds with sub-millisecond resolution. */
  private val epochBaseMs = System.currentTimeMillis().toDouble
  private val nanoBase = System.nanoTime()
  def epochMs(nanos: Long): Double = epochBaseMs + (nanos - nanoBase) / 1e6
  def nowMs: Double = epochMs(System.nanoTime())
}

/** CPU used from construction to `stop()`, leaving out the threads
  * `skip` names (the load generator). `workS` is the cost metric: the Java
  * threads plus the garbage collector's threads. `processS` is the whole
  * process, which adds the JIT compiler threads; in a JVM seconds old their
  * share varies from run to run far more than the program's work.
  */
final class CpuWindow(skip: => Set[Long]) {
  private val threads0 = Probe.threadCpuNs()
  private val gc0 = Probe.gcCpuNs()
  private val process0 = Probe.processCpuNs
  var workS = 0.0
  var gcS = 0.0
  var processS = 0.0

  def stop(): this.type = {
    val now = Probe.threadCpuNs()
    val delta = now.map { case (id, ns) => id -> (ns - threads0.getOrElse(id, 0L)) }
    val skipped = delta.collect { case (id, ns) if skip(id) => ns }.sum
    gcS = (Probe.gcCpuNs() - gc0) / 1e9
    workS = (delta.values.sum - skipped) / 1e9 + gcS
    processS = (Probe.processCpuNs - process0 - skipped) / 1e9
    this
  }
}

/** Collects metric pairs in insertion order. */
final class Metrics {
  private val buf = ArrayBuffer.empty[(String, Double)]
  def update(name: String, v: Double): Unit = buf += name -> v
  def toSeq: Seq[(String, Double)] = buf.toSeq
}
