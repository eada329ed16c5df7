package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** One Spark job with its tasks' metrics summed. */
final class JobRec(val id: Int, val key: String, val startMs: Long) {
  var endMs: Long = -1L
  var tasks = 0
  var cpuNs = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleReadB = 0L
  var shuffleWriteB = 0L
  var spillB = 0L
  def durMs: Double = if (endMs < 0) 0.0 else (endMs - startMs).toDouble
}

/** Spark's public listeners, grouped by the job property `keyProp`: the
  * job group (one per query phase) for the inventory, the
  * `streaming.sql.batchId` property for a flow's micro-batches.
  */
final class Tracer(spark: SparkSession, keyProp: String) {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()
  /** (start ms, end ms) of every analysis, optimization and planning phase */
  val plans = new ConcurrentLinkedQueue[(Double, Double)]()
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(keyProp))).foreach { k =>
        val j = new JobRec(e.jobId, k, e.time)
        jobs.put(e.jobId, j)
        e.stageIds.foreach(s => stageJob.put(s, j))
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for (j <- Option(stageJob.get(e.stageId)); m <- Option(e.taskMetrics)) {
        j.tasks += 1
        j.cpuNs += m.executorCpuTime
        j.runMs += m.executorRunTime
        j.gcMs += m.jvmGCTime
        j.shuffleReadB += m.shuffleReadMetrics.localBytesRead + m.shuffleReadMetrics.remoteBytesRead
        j.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        j.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
      }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      qe.tracker.phases.values.foreach(p => plans.add((p.startTimeMs.toDouble, p.endTimeMs.toDouble)))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val progressListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  spark.sparkContext.addSparkListener(jobListener)
  spark.listenerManager.register(planListener)
  spark.streams.addListener(progressListener)

  /** Blocks until every event posted so far has reached the listeners. */
  def sync(): Unit = org.apache.spark.perfbench.BusSync.drain(spark.sparkContext)

  def jobOfStage(stage: Int): Option[Int] = Option(stageJob.get(stage)).map(_.id)

  def jobsFor(key: String): Seq[JobRec] =
    jobs.values.asScala.filter(_.key == key).toSeq.sortBy(_.startMs)
}

/** A span of a trace: self time is its duration minus its children's. */
final case class Span(name: String, durMs: Double, selfMs: Double, children: Seq[Span] = Nil) {
  def selfSum: Double = selfMs + children.map(_.selfSum).sum
  def json: String = {
    val kids = if (children.isEmpty) "" else children.map(_.json).mkString(""","children":[""", ",", "]")
    s"""{"name":${Json.str(name)},"dur_ms":${Json.num(durMs)},"self_ms":${Json.num(selfMs)}$kids}"""
  }
}

object Span {
  /** Length of the union of `ivs` clipped to [lo, hi]. */
  def covered(ivs: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  /** Wall-time shares of possibly overlapping intervals: each instant is
    * split evenly among the intervals active at it, so the shares sum to
    * the length of the intervals' union.
    */
  def shares(ivs: Seq[(Double, Double)]): Seq[Double] = {
    val out = Array.fill(ivs.size)(0.0)
    val points = ivs.flatMap { case (a, b) => Seq(a, b) }.distinct.sorted
    points.zip(points.drop(1)).foreach { case (p, q) =>
      val active = ivs.indices.filter(i => ivs(i)._1 <= p && ivs(i)._2 >= q)
      active.foreach(i => out(i) += (q - p) / active.size)
    }
    out.toSeq
  }

  /** A span of `dur` ms whose children took part of it. */
  def parent(name: String, dur: Double, children: Seq[Span]): Span =
    Span(name, dur, dur - children.map(_.durMs).sum, children)
}

/** One trace (a micro-batch or a query): its top-level spans plus the
  * unattributed remainder, which together sum to the wall time.
  *
  * Nothing is clamped to fit. Children that claim more than their parent
  * leave the parent a negative self time, and spans that claim more than
  * the wall leave a negative remainder; `overrunMs` sums both, so time
  * attributed twice shows instead of being absorbed.
  */
final case class Trace(kind: String, id: String, wallMs: Double, spans: Seq[Span],
    attrs: Seq[(String, Double)] = Nil) {
  val selfSumMs: Double = spans.map(_.selfSum).sum
  val remainderMs: Double = wallMs - selfSumMs
  private def all(s: Span): Seq[Span] = s +: s.children.flatMap(all)
  val spanCount: Int = spans.map(all(_).size).sum
  val overrunMs: Double =
    spans.flatMap(all).map(s => math.max(0.0, -s.selfMs)).sum + math.max(0.0, -remainderMs)
  def json: String =
    s"""{"trace":${Json.str(kind)},"id":${Json.str(id)},"wall_ms":${Json.num(wallMs)},""" +
      s""""self_sum_ms":${Json.num(selfSumMs)},"remainder_ms":${Json.num(remainderMs)},""" +
      s""""overrun_ms":${Json.num(overrunMs)},""" +
      attrs.map { case (k, v) => s""""$k":${Json.num(v)},""" }.mkString +
      s""""spans":${spans.map(_.json).mkString("[", ",", "]")}}"""
}

object Trace {
  def write(path: String, traces: Seq[Trace]): Unit = {
    val p = java.nio.file.Paths.get(path)
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.write(p, traces.map(_.json).asJava)
  }

  /** Traces that attribute time twice: a span's children, or the spans
    * together, claim more than they fit in. Only the millisecond rounding
    * of Spark's timestamps may do that, by up to 2 ms a span.
    */
  def overCounted(traces: Seq[Trace]): Seq[String] =
    traces.filter(t => t.overrunMs > math.max(2.0 * t.spanCount, 0.01 * t.wallMs))
      .map(t => f"trace ${t.kind} ${t.id}: spans overrun their parents by ${t.overrunMs}%.1f ms " +
        f"(wall ${t.wallMs}%.1f ms)")

  /** Spans of the jobs that ran inside one parent span. Jobs may overlap
    * (adaptive execution runs independent stages as concurrent jobs), so
    * each job's duration is its share of the wall time (see
    * [[Span.shares]]). A job's child is the JDBC time its tasks covered,
    * `jdbc` giving the calls' intervals, in proportion to the job's share.
    */
  def jobSpans(js: Seq[JobRec],
      jdbc: JobRec => Seq[(Double, Double)] = _ => Nil): Seq[Span] = {
    val done = js.filter(_.endMs >= 0)
    val sh = Span.shares(done.map(j => (j.startMs.toDouble, j.endMs.toDouble)))
    done.zip(sh).map { case (j, s) =>
      val calls = jdbc(j)
      if (calls.isEmpty) Span(s"job ${j.id}", s, s)
      else {
        val f = if (j.durMs <= 0) 0.0
          else Span.covered(calls, j.startMs.toDouble, j.endMs.toDouble) / j.durMs
        Span(s"job ${j.id}", s, s * (1 - f), Seq(Span("jdbc", s * f, s * f)))
      }
    }
  }
}

/** Summed task metrics of a set of jobs. */
final case class TaskTotals(jobs: Int, tasks: Int, cpuS: Double, runS: Double, gcS: Double,
    shuffleReadMb: Double, shuffleWriteMb: Double, spillMb: Double)

object TaskTotals {
  def of(js: Seq[JobRec]): TaskTotals = TaskTotals(js.size, js.map(_.tasks).sum,
    js.map(_.cpuNs).sum / 1e9, js.map(_.runMs).sum / 1e3, js.map(_.gcMs).sum / 1e3,
    js.map(_.shuffleReadB).sum / 1e6, js.map(_.shuffleWriteB).sum / 1e6,
    js.map(_.spillB).sum / 1e6)
}
