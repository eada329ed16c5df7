package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Per-micro-batch traces of a traced ETL run. A batch's wall time is its
  * `triggerExecution`; its spans are the other `durationMs` phases; the
  * `addBatch` phase's children are the batch's Spark jobs, and each job's
  * child is the JDBC time its tasks spent at the sink boundary.
  */
object EtlTrace {
  def layers(t: Tracer, windows: Seq[(Double, Double)], layers: Metrics,
      problems: ArrayBuffer[String], traceFile: String, deadLettered: Int): Unit = {
    t.sync()
    val inWindow = (ms: Double) => windows.exists { case (a, b) => ms >= a - 1 && ms <= b }
    val batches = t.progress.asScala.toSeq
      .filter(p => p.numInputRows > 0 && p.durationMs.containsKey("addBatch"))
      .filter(p => inWindow(java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble))
      .sortBy(_.batchId)
    val calls = TracingDriver.calls.asScala.toSeq.groupBy(_.batch)
    val jobsByBatch = t.jobs.values.asScala.toSeq.groupBy(_.key)

    val traces = batches.map { p =>
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }
      val jobs = jobsByBatch.getOrElse(p.batchId.toString, Nil).sortBy(_.startMs)
      val bCalls = calls.getOrElse(p.batchId, Nil)
      // the batch's jobs run inside addBatch; JDBC calls inside the jobs' tasks
      val phases = d.toSeq.filter(_._1 != "triggerExecution").sortBy(_._1).map { case (k, v) =>
        if (k == "addBatch") Span.parent(k, v, Trace.jobSpans(jobs, j =>
          bCalls.filter(c => t.jobOfStage(c.stage).contains(j.id)).map(c => (c.startMs, c.endMs))))
        else Span(k, v, v)
      }
      val tt = TaskTotals.of(jobs)
      def n(kind: String) = bCalls.count(_.kind == kind).toDouble
      Trace("batch", p.batchId.toString, d.getOrElse("triggerExecution", 0.0), phases, Seq(
        "rows" -> p.numInputRows.toDouble,
        "lag_msgs" -> lag(p),
        "jobs" -> jobs.size.toDouble,
        "task_cpu_s" -> tt.cpuS,
        "task_run_s" -> tt.runS,
        "gc_s" -> tt.gcS,
        "jdbc_ms" -> bCalls.map(_.durMs).sum,
        "jdbc_connections" -> n("connect"),
        "jdbc_rows" -> bCalls.filter(_.kind == "executeBatch").map(_.rows.toDouble).sum,
        "jdbc_commit_ms" -> bCalls.filter(_.kind == "commit").map(_.durMs).sum,
        "marker_roundtrips" -> n("marker")))
    }
    problems ++= Trace.overCounted(traces)
    Trace.write(traceFile, traces)

    def attr(k: String) = traces.map(_.attrs.toMap.apply(k))
    def phase(k: String) = batches.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0))
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    val windowMs = windows.map { case (a, b) => b - a }.sum
    layers("sources.lag_msgs_max") = if (traces.isEmpty) 0.0 else attr("lag_msgs").max
    layers("sources.latest_offset_ms_p50") = Stats.median(phase("latestOffset"))
    layers("sources.rows_per_batch_p50") = Stats.median(attr("rows"))
    layers("engine.batches") = batches.size.toDouble
    layers("engine.trigger_ms_p50") = Stats.median(phase("triggerExecution"))
    layers("engine.trigger_ms_p99") = Stats.pct(phase("triggerExecution"), 99)
    layers("engine.query_planning_ms_p50") = Stats.median(phase("queryPlanning"))
    layers("engine.wal_commit_ms_p50") = Stats.median(phase("walCommit"))
    layers("engine.commit_offsets_ms_p50") = Stats.median(phase("commitOffsets"))
    layers("engine.busy_share") = if (windowMs <= 0) 0.0 else phase("triggerExecution").sum / windowMs
    layers("engine.jobs_per_batch") = mean(attr("jobs"))
    layers("sinks.add_batch_ms_p50") = Stats.median(phase("addBatch"))
    layers("sinks.add_batch_ms_p99") = Stats.pct(phase("addBatch"), 99)
    layers("sinks.jdbc_ms_per_batch_p50") = Stats.median(attr("jdbc_ms"))
    layers("sinks.jdbc_connections_per_batch") = mean(attr("jdbc_connections"))
    layers("sinks.jdbc_commit_ms_per_batch_p50") = Stats.median(attr("jdbc_commit_ms"))
    layers("sinks.marker_roundtrips_per_batch") = mean(attr("marker_roundtrips"))
    layers("sinks.rows_written") = attr("jdbc_rows").sum
    layers("sinks.dead_lettered_rows") = deadLettered.toDouble
    layers("sinks.task_cpu_s") = attr("task_cpu_s").sum
    layers("sinks.task_cpu_over_run") = {
      val run = attr("task_run_s").sum
      if (run <= 0) 0.0 else attr("task_cpu_s").sum / run
    }
    layers("sinks.gc_s") = attr("gc_s").sum
    layers("trace.traces") = traces.size.toDouble
    layers("trace.remainder_ms_max") = if (traces.isEmpty) 0.0 else traces.map(_.remainderMs).max
    layers("trace.overrun_ms_max") = if (traces.isEmpty) 0.0 else traces.map(_.overrunMs).max
  }

  /** Broker backlog the batch left behind: latestOffset − endOffset. */
  private def lag(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Double =
    p.sources.headOption.map { s =>
      def off(x: String) = Option(x).map(_.trim).filter(_.matches("-?\\d+")).map(_.toDouble)
      (for (l <- off(s.latestOffset); e <- off(s.endOffset)) yield l - e).getOrElse(0.0)
    }.getOrElse(0.0)
}
