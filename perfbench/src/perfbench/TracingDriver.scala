package perfbench

import java.lang.reflect.{InvocationHandler, InvocationTargetException, Method, Proxy}
import java.sql.{Connection, DriverManager, PreparedStatement, Statement}
import java.util.Properties
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicBoolean
import java.util.logging.Logger

import org.apache.spark.TaskContext

/** A delegating JDBC driver at the sink's boundary, for traced runs:
  * `jdbc:perfbench:<url>` opens `jdbc:<url>` and times every connect,
  * statement execution, `executeBatch` (with its row count), commit and
  * close. Each call is tagged with the micro-batch id and stage of the
  * Spark task that made it, read off the task's local properties.
  */
object TracingDriver {
  val Prefix = "jdbc:perfbench:"

  /** kind: connect | executeBatch | marker | statement | commit | close */
  final case class Call(batch: Long, stage: Int, kind: String, startMs: Double,
      endMs: Double, rows: Int) {
    def durMs: Double = endMs - startMs
  }

  val calls = new ConcurrentLinkedQueue[Call]()
  private val registered = new AtomicBoolean(false)

  def register(): Unit =
    if (registered.compareAndSet(false, true)) DriverManager.registerDriver(new TracingDriver)

  def wrap(url: String): String = Prefix + url.stripPrefix("jdbc:")

  private def timed[T](kind: String, rows: T => Int)(f: => T): T = {
    val t0 = System.nanoTime()
    val out = f
    val t1 = System.nanoTime()
    val tc = TaskContext.get()
    val (batch, stage) =
      if (tc == null) (-1L, -1)
      else (Option(tc.getLocalProperty("streaming.sql.batchId")).map(_.toLong).getOrElse(-1L),
        tc.stageId())
    calls.add(Call(batch, stage, kind, Probe.epochMs(t0), Probe.epochMs(t1), rows(out)))
    out
  }

  private def unwrap[T](f: => T): T =
    try f catch { case e: InvocationTargetException => throw e.getCause }

  private def statement[S <: Statement](st: S, iface: Class[S], sql: String): S = {
    val kind = if (sql.contains(graft.sinks.SqlSink.MarkerTable)) "marker" else "statement"
    Proxy.newProxyInstance(getClass.getClassLoader, Array(iface), new InvocationHandler {
      override def invoke(p: Any, m: Method, args: Array[AnyRef]): AnyRef = m.getName match {
        case "executeBatch" =>
          timed[AnyRef]("executeBatch", r => r.asInstanceOf[Array[Int]].length)(unwrap(m.invoke(st, args: _*)))
        case n if n.startsWith("execute") => timed[AnyRef](kind, _ => 0)(unwrap(m.invoke(st, args: _*)))
        case _ => unwrap(m.invoke(st, args: _*))
      }
    }).asInstanceOf[S]
  }

  private[perfbench] def connection(c: Connection): Connection =
    Proxy.newProxyInstance(getClass.getClassLoader, Array(classOf[Connection]), new InvocationHandler {
      override def invoke(p: Any, m: Method, args: Array[AnyRef]): AnyRef = m.getName match {
        case "prepareStatement" =>
          statement(unwrap(m.invoke(c, args: _*)).asInstanceOf[PreparedStatement],
            classOf[PreparedStatement], String.valueOf(args(0)))
        case "createStatement" =>
          statement(unwrap(m.invoke(c, args: _*)).asInstanceOf[Statement], classOf[Statement], "")
        case "commit" | "close" => timed[AnyRef](m.getName, _ => 0)(unwrap(m.invoke(c, args: _*)))
        case _ => unwrap(m.invoke(c, args: _*))
      }
    }).asInstanceOf[Connection]
}

class TracingDriver extends java.sql.Driver {
  override def acceptsURL(url: String): Boolean = url != null && url.startsWith(TracingDriver.Prefix)
  override def connect(url: String, info: Properties): Connection =
    if (!acceptsURL(url)) null
    else TracingDriver.connection(TracingDriver.timed[Connection]("connect", _ => 0)(
      DriverManager.getConnection("jdbc:" + url.stripPrefix(TracingDriver.Prefix), info)))
  override def getPropertyInfo(url: String, info: Properties) = Array.empty[java.sql.DriverPropertyInfo]
  override def getMajorVersion: Int = 1
  override def getMinorVersion: Int = 0
  override def jdbcCompliant(): Boolean = false
  override def getParentLogger: Logger = throw new java.sql.SQLFeatureNotSupportedException
}
