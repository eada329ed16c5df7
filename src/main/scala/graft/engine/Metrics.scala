package graft.engine

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.internal.Logging
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Per-flow streaming metrics (the engine's upgrade of the reference's
  * logging, cli.py:247-277): a StreamingQueryListener tracking rows
  * processed, batches, and last-batch throughput per query, exposed for
  * tests/ops via [[snapshot]] and logged at INFO on every progress
  * event. Dead-letter/nack counts live on [[graft.sources.MemoryBroker]]
  * (`nackCount`) and the dead-letter parquet dirs.
  */
object Metrics extends Logging {
  case class FlowStats(rows: Long, batches: Long, lastRowsPerSec: Double)

  private val stats = new ConcurrentHashMap[String, FlowStats]()

  final class Listener extends StreamingQueryListener {
    override def onQueryStarted(
        e: StreamingQueryListener.QueryStartedEvent): Unit =
      logInfo(s"flow started: ${e.name} (${e.id})")

    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val name = Option(p.name).getOrElse(p.id.toString)
      val prev = Option(stats.get(name)).getOrElse(FlowStats(0, 0, 0.0))
      stats.put(name, FlowStats(
        prev.rows + p.numInputRows,
        prev.batches + 1,
        p.processedRowsPerSecond))
      if (p.numInputRows > 0)
        logInfo(s"flow $name: batch ${p.batchId} rows=${p.numInputRows} " +
          f"rate=${p.processedRowsPerSecond}%.1f rows/s")
    }

    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      logInfo(s"flow terminated: ${e.id}" +
        e.exception.map(x => s" (error: $x)").getOrElse(""))
  }

  /** Idempotently attach the listener to a session. Listeners are per
    * session (each has its own StreamingQueryManager), so the check is
    * against this session's listeners, not a JVM-wide flag.
    */
  def register(spark: SparkSession): Unit = synchronized {
    if (!spark.streams.listListeners().exists(_.isInstanceOf[Listener]))
      spark.streams.addListener(new Listener)
  }

  def snapshot: Map[String, FlowStats] = {
    import scala.jdk.CollectionConverters._
    stats.asScala.toMap
  }

  def reset(): Unit = stats.clear()
}
