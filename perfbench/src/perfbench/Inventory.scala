package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.engine.Sessions

/** The analytics-inventory workloads: fixed query sets from
  * `SparkEntry.queries`, each query built and run to a no-op sink, with
  * Spark's cache cleared between queries (as `graft.Bench` does).
  *
  * One untimed warm-up pass checks each query's row count and
  * order-insensitive checksum against perfbench/expected/inventory.json;
  * then whole timed passes run, each in a seed-shuffled order, until the
  * run's seconds are spent and at least [[MinPasses]] have run.
  */
object Inventory {
  /** Sub-second queries, where DataFrame build and planning weigh most. */
  val Small: Seq[String] = Seq(
    "q01_scan", "q02_filter", "q03_json_path", "q04_missing_path", "q05_residual_json",
    "q06_cast_ts", "q08_join", "q09_multijoin", "q10_left_join", "q13_agg", "q14_distinct",
    "q17_rank", "q19_lag", "q20_topk", "q23_hourly", "q24_dedup_exact", "q27_wordcount",
    "q34_tokens", "q39_tpch3", "q40_tpch5", "q42_pivot", "q86_histogram", "q96_hll",
    "q111_tpch8", "q183_tpch6")

  /** Timed passes per run at the least: per-query medians need three. */
  val MinPasses = 3

  /** Row count and an order-insensitive checksum: the sum of per-row
    * xxhash64 values, with floating-point values rounded to 6 places so
    * that summation order inside Spark cannot change it.
    */
  def checksum(df: DataFrame): (Long, String) = {
    def canon(c: Column, dt: DataType): Column = dt match {
      case DoubleType | FloatType => round(c.cast(DoubleType), 6) + lit(0.0)
      case ArrayType(et, _) => transform(c, x => canon(x, et))
      case st: StructType =>
        struct(st.fields.toSeq.map(f => canon(c.getField(f.name), f.dataType).as(f.name)): _*)
      case _ => c
    }
    val cols = df.schema.fields.toSeq.map(f => canon(col(s"`${f.name}`"), f.dataType))
    val row = df.select(
      count(lit(1)).as("n"),
      sum(xxhash64(cols: _*).cast(DecimalType(38, 0))).as("h")).head()
    (row.getLong(0), Option(row.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  private final case class QueryRun(name: String, pass: Int, t0: Double, t1: Double, t2: Double) {
    def wallS: Double = (t2 - t0) / 1e3
  }

  def run(a: Args, names: Seq[String]): Result = {
    val spark = Sessions.local("perfbench", a.cpus.toString)
    val tracer = if (a.trace) Some(new Tracer(spark, "spark.jobGroup.id")) else None
    val fns = names.map(n => n -> SparkEntry.queries(n))
    val rnd = new Random(a.seed)
    val expected = Expected.load(a.expectedFile)
    val problems = ArrayBuffer.empty[String]
    var attempted = 0L
    var failed = 0L

    // Warm-up (counts in setup_s): JIT, codegen and file listings warm,
    // and every output is checked in this first pass.
    for ((name, fn) <- rnd.shuffle(fns)) {
      attempted += 1
      try {
        val (rows, sum) = checksum(fn(spark, a.dataDir))
        expected.get(name) match {
          case Some((r, s)) if r == rows && s == sum => ()
          case Some((r, s)) =>
            failed += 1
            problems += s"$name: rows $rows checksum $sum, expected rows $r checksum $s"
          case None =>
            failed += 1
            problems += s"$name: no expected output recorded"
        }
      } catch {
        case e: Exception =>
          failed += 1
          problems += s"$name failed: ${e.getMessage}"
      }
      spark.catalog.clearCache()
    }

    val runs = ArrayBuffer.empty[QueryRun]
    val passWall = ArrayBuffer.empty[Double]
    val passCpu = ArrayBuffer.empty[CpuWindow]
    /** One timed pass, in a seed-shuffled order. */
    def runPass(pass: Int): Unit = {
      val cpu = new CpuWindow(Set.empty)
      val p0 = System.nanoTime()
      var cleanS = 0.0
      for ((name, fn) <- rnd.shuffle(fns)) {
        attempted += 1
        try {
          spark.sparkContext.setJobGroup(s"$pass|$name|build", name)
          val t0 = Probe.nowMs
          val df = fn(spark, a.dataDir)
          val t1 = Probe.nowMs
          spark.sparkContext.setJobGroup(s"$pass|$name|exec", name)
          df.write.mode("overwrite").format("noop").save()
          runs += QueryRun(name, pass, t0, t1, Probe.nowMs)
        } catch {
          case e: Exception =>
            failed += 1
            problems += s"$name failed in pass $pass: ${e.getMessage}"
        } finally spark.sparkContext.clearJobGroup()
        val c0 = System.nanoTime()
        spark.catalog.clearCache()
        cleanS += (System.nanoTime() - c0) / 1e9
      }
      val wall = (System.nanoTime() - p0) / 1e9 - cleanS
      cpu.stop()
      System.err.println(f"perfbench: pass $pass: wall $wall%.3f s, CPU ${cpu.workS}%.3f s " +
        f"(GC ${cpu.gcS}%.3f s), process CPU ${cpu.processS}%.3f s")
      passWall += wall
      passCpu += cpu
    }

    val setupS = Probe.uptimeS
    val measureStart = System.nanoTime()
    var pass = 0
    while (pass < MinPasses || (System.nanoTime() - measureStart) / 1e9 < a.seconds) {
      runPass(pass)
      pass += 1
    }

    // a query's latency is its median wall time over the passes
    val walls = runs.groupBy(_.name).values.map(rs => Stats.median(rs.map(_.wallS * 1e3))).toSeq
    val e2e = Seq(
      "setup_s" -> setupS,
      "throughput_ops_s" -> runs.size / passWall.sum,
      "latency_p50_ms" -> Stats.median(walls),
      "latency_p99_ms" -> Stats.pct(walls, 99),
      "wall_s" -> Stats.median(passWall),
      "cpu_s" -> Stats.median(passCpu.map(_.workS)))

    val layers = new Metrics
    tracer.foreach { t =>
      t.sync()
      val plans = t.plans.asScala.toSeq
      val jobs = t.jobs.values.asScala.toSeq
      val traces = runs.map { r =>
        val build = t.jobsFor(s"${r.pass}|${r.name}|build")
        val exec = t.jobsFor(s"${r.pass}|${r.name}|exec")
        // the action's time outside its jobs is planning plus driver gap
        val plan = Span.covered(plans, r.t1, r.t2)
        val action = Span.parent("action", r.t2 - r.t1, Span("plan", plan, plan) +: Trace.jobSpans(exec))
        val tt = TaskTotals.of(build ++ exec)
        Trace("query", s"${r.pass}:${r.name}", r.t2 - r.t0,
          Seq(Span.parent("build", r.t1 - r.t0, Trace.jobSpans(build)), action),
          Seq("pass" -> r.pass.toDouble, "eager_jobs" -> build.size.toDouble,
            "jobs" -> (build.size + exec.size).toDouble, "tasks" -> tt.tasks.toDouble,
            "task_cpu_s" -> tt.cpuS))
      }
      problems ++= Trace.overCounted(traces.toSeq)
      Trace.write(a.traceFile, traces.toSeq)

      def perPass(f: Trace => Double): Double = traces.map(f).sum / pass
      def span(tr: Trace, n: String) = tr.spans.find(_.name == n).get
      // query actions only: the eager jobs are the operators layer
      val all = TaskTotals.of(jobs.filter(_.key.endsWith("|exec")))
      val eager = jobs.filter(_.key.endsWith("|build"))
      layers("engine.build_s") = perPass(tr => span(tr, "build").selfMs) / 1e3
      layers("engine.plan_s") = perPass(tr => span(tr, "action").children.head.durMs) / 1e3
      layers("operators.eager_jobs") = eager.size.toDouble / pass
      layers("operators.eager_job_s") = perPass(tr =>
        span(tr, "build").durMs - span(tr, "build").selfMs) / 1e3
      layers("queries.exec_s") = perPass(tr => {
        val ac = span(tr, "action"); ac.durMs - ac.selfMs - ac.children.head.durMs
      }) / 1e3
      layers("queries.jobs") = all.jobs.toDouble / pass
      layers("queries.tasks") = all.tasks.toDouble / pass
      layers("queries.task_cpu_s") = all.cpuS / pass
      layers("queries.task_run_s") = all.runS / pass
      layers("queries.shuffle_read_mb") = all.shuffleReadMb / pass
      layers("queries.shuffle_write_mb") = all.shuffleWriteMb / pass
      layers("queries.spill_mb") = all.spillMb / pass
      layers("queries.gc_s") = all.gcS / pass
      layers("queries.driver_gap_s") = perPass(tr => span(tr, "action").selfMs + tr.remainderMs) / 1e3
      names.foreach { n =>
        layers(s"queries.$n.wall_s") = Stats.median(runs.filter(_.name == n).map(_.wallS))
      }
      layers("trace.traces") = traces.size.toDouble
      layers("trace.remainder_ms_max") =
        if (traces.isEmpty) 0.0 else traces.map(_.remainderMs).max
      layers("trace.overrun_ms_max") = if (traces.isEmpty) 0.0 else traces.map(_.overrunMs).max
    }
    layers("process.passes") = pass.toDouble
    layers("process.latency_samples") = runs.size.toDouble
    layers("process.rss_peak_mb") = Probe.rssPeakMb
    layers("process.cpu_s") = Stats.median(passCpu.map(_.processS))
    layers("process.gc_cpu_s") = Stats.median(passCpu.map(_.gcS))

    spark.stop()
    Result(attempted, failed, problems.toSeq, e2e, layers.toSeq)
  }
}

/** Expected per-query outputs: `{"q01_scan": [rows, "checksum"], ...}`. */
object Expected {
  private val Entry = """"([^"]+)"\s*:\s*\[\s*(\d+)\s*,\s*"(-?\d+)"\s*\]""".r

  def load(path: String): Map[String, (Long, String)] = {
    val f = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(f)) Map.empty
    else Entry.findAllMatchIn(java.nio.file.Files.readString(f))
      .map(m => m.group(1) -> (m.group(2).toLong, m.group(3))).toMap
  }
}
