package graft.sources

/** In-JVM broker registry with AMQP-shaped semantics (named exchanges,
  * publish, consume) over [[ExchangeLog]]s — the local-mode / test
  * transport. The cross-process transport with identical semantics is
  * [[BrokerServer]] + [[BrokerClient]]; the Spark source only sees the
  * [[BrokerLog]] contract either way.
  */
object MemoryBroker {
  @volatile private var walDir: Option[java.nio.file.Path] = None
  private val registry = new ExchangeRegistry(walDir)

  /** Enable file-backed WAL durability for exchanges created after this
    * call: publishes append to `<dir>/<exchange>.wal`, acks persist the
    * committed offset, and a restarted broker replays the un-acked
    * suffix (SURVEY §7.4's "file-backed WAL later" upgrade).
    */
  def enablePersistence(dir: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(dir)
    walDir = Some(dir)
  }
  def disablePersistence(): Unit = walDir = None

  def exchange(name: String): ExchangeLog = registry.log(name)

  /** Exchange-declare kwargs passthrough (reference amqp.py:55-78), see
    * [[ExchangeRegistry.declare]].
    */
  def declare(name: String, kwargs: Map[String, String]): Unit =
    registry.declare(name, kwargs)

  /** Kwargs recorded by a prior [[declare]] (empty if none). */
  def declared(name: String): Map[String, String] = registry.declared(name)

  def publish(exchangeName: String, msg: String,
      contentType: String = "application/json"): Long =
    exchange(exchangeName).publish(msg, contentType)

  /** Drops in-memory state (exchanges re-created lazily — with WAL
    * enabled they recover from disk, simulating a broker restart).
    */
  def reset(): Unit = registry.dropLogs()
}
