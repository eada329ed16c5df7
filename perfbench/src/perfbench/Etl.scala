package perfbench

import java.sql.{Connection, DriverManager}
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable.ArrayBuffer

import graft.engine.{Config, Flows, Sessions}
import graft.sources.amqp.{AmqpConnection, AmqpServer}

/** The generated messages. Every field is a pure function of (seed, id),
  * so the checks can recompute what each committed row must hold; only
  * the due time comes from the schedule.
  */
final class Generator(seed: Long, bodyBytes: Int, malformedShare: Double, textShare: Double) {
  final case class Msg(id: Long, city: String, attrs: String, valid: Boolean, contentType: String) {
    def body(dueUs: Long): String = {
      val r = rnd(id, 1)
      val head = s"""{"id":$id,"due_us":$dueUs,"user":{"name":"user-${r.nextInt(100000)}",""" +
        s""""geo":{"city":"$city","zip":"${10000 + r.nextInt(90000)}"}},"attrs":$attrs,"pad":""""
      val pad = new String(Array.fill(math.max(0, bodyBytes - head.length - 2))(
        ('a' + r.nextInt(26)).toChar))
      val full = head + pad + "\"}"
      // a body cut short inside a string is not JSON: it must dead-letter
      if (valid) full else full.substring(0, head.length - 8)
    }
  }

  // SplittableRandom mixes its seed: java.util.Random's first draws from
  // nearby seeds are correlated, which clustered the malformed ids
  private def rnd(id: Long, salt: Long) =
    new java.util.SplittableRandom(seed * 0x9E3779B97F4A7C15L + id * 31 + salt)

  def apply(id: Long): Msg = {
    val r = rnd(id, 0)
    val city = s"city-${r.nextInt(5000)}"
    val attrs = s"""{"k":${r.nextInt(1000000)},"tag":"t${r.nextInt(100)}",""" +
      s""""flags":[${r.nextInt(10)},${r.nextInt(10)}]}"""
    val valid = r.nextDouble() >= malformedShare
    val ct = if (r.nextDouble() < textShare) "text/plain" else "application/json"
    Msg(id, city, attrs, valid, ct)
  }
}

/** The pipeline workloads: an in-process AMQP broker (the repo's
  * AmqpServer), one publisher thread on one AMQP connection, and the flow
  * started the way `graft.cli.Main` starts it (`Sessions.local` +
  * `Flows.start` on a YAML config), writing into embedded Derby. Every
  * row carries the database's CURRENT_TIMESTAMP, so publish→commit
  * latency runs from the message's due time to the database's clock.
  */
object Etl {
  private val Table = "bench_rows"
  private val Exchange = "bench"

  private final case class Shape(
      sizeLimit: Int,
      durable: Boolean,
      idempotent: Boolean,
      deadLetter: Boolean,
      bodyBytes: Int,
      malformedShare: Double,
      textShare: Double)

  private val Steady = Shape(sizeLimit = 1000000, durable = false,
    idempotent = false, deadLetter = false, bodyBytes = 400, malformedShare = 0.0, textShare = 0.0)
  private val Burst = Shape(sizeLimit = 50, durable = true,
    idempotent = true, deadLetter = true, bodyBytes = 1000, malformedShare = 0.04, textShare = 0.04)

  /** Offered rate of etl-steady, messages per second. */
  val SteadyRate = 3000
  /** Least and most seconds of etl-steady load before the measured window. */
  val SteadyWarmupS = 3
  val MaxWarmupS = 40
  /** Messages per etl-burst burst: five full micro-batches at size_limit 50. */
  val BurstSize = 250
  /** Measured bursts per run at the least. */
  val MinBursts = 2

  /** Publishes on one AMQP connection from one thread and records, per
    * message id, the due time, the lateness and the publish call's time.
    */
  private final class Publisher(port: Int, gen: Generator, capacity: Int) {
    private val conn = new AmqpConnection("localhost", port)
    val dueUs = new Array[Long](capacity)
    val lateNs = new Array[Long](capacity)
    val publishNs = new Array[Long](capacity)
    val valid = new Array[Boolean](capacity)
    @volatile var next = 0
    @volatile var threadId = -1L
    /** The open loop publishes messages due before this instant. */
    @volatile var untilNanos = Long.MaxValue

    def publish(id: Int, dueNanos: Long): Unit = {
      val m = gen(id)
      val t0 = System.nanoTime()
      dueUs(id) = (Probe.epochMs(dueNanos) * 1000).toLong
      lateNs(id) = t0 - dueNanos
      conn.publish(Exchange, m.body(dueUs(id)), m.contentType)
      publishNs(id) = System.nanoTime() - t0
      valid(id) = m.valid
      next = id + 1
    }

    /** Open loop: message i is due at start + i/rate. The thread wakes
      * once a millisecond and sends whatever is due, so a stall shows as
      * lateness, never as a lower offered rate.
      */
    def runOpenLoop(rate: Int, from: Int): Thread = {
      val th = new Thread(() => {
        threadId = Thread.currentThread().getId
        val start = System.nanoTime()
        var i = from
        def due(i: Int) = start + ((i - from).toLong * 1000000000L) / rate
        while (i < capacity && due(i) < untilNanos) {
          val now = System.nanoTime()
          while (i < capacity && due(i) <= now && due(i) < untilNanos) { publish(i, due(i)); i += 1 }
          LockSupport.parkNanos(1000000L)
        }
      }, "perfbench-generator")
      th.start()
      th
    }

    def burst(from: Int, n: Int): Unit = {
      threadId = Thread.currentThread().getId
      val due = System.nanoTime()
      (from until from + n).foreach(publish(_, due))
    }

    def close(): Unit = conn.close()
  }

  private final case class Row(id: Long, dueUs: Long, committedMs: Double, city: String,
      planet: String, attrs: String)

  private def readRows(c: Connection): Seq[Row] = {
    val rs = c.createStatement().executeQuery(
      s"SELECT id, due_us, committed_at, city, planet, attrs FROM $Table")
    val out = ArrayBuffer.empty[Row]
    while (rs.next()) {
      val ts = rs.getTimestamp(3)
      out += Row(rs.getLong(1), rs.getLong(2), ts.getTime.toDouble + (ts.getNanos % 1000000) / 1e6,
        rs.getString(4), rs.getString(5), rs.getString(6))
    }
    rs.close()
    out.toSeq
  }

  private def count(c: Connection): Long = {
    val rs = c.createStatement().executeQuery(s"SELECT COUNT(*) FROM $Table")
    rs.next()
    try rs.getLong(1) finally rs.close()
  }

  /** Polls until `want` rows are committed; false on timeout. */
  private def awaitRows(c: Connection, want: Long, timeoutS: Double): Boolean = {
    val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
    var n = count(c)
    while (n < want && System.nanoTime() < deadline) { Thread.sleep(20); n = count(c) }
    n >= want
  }

  def steady(a: Args): Result = run(a, Steady)
  def burst(a: Args): Result = run(a, Burst)

  private def run(a: Args, shape: Shape): Result = {
    val runDir = java.nio.file.Paths.get(a.workDir)
    val dbUrl =
      if (shape.durable) s"jdbc:derby:directory:${runDir.resolve("db")};create=true"
      else s"jdbc:derby:memory:perfbench;create=true"
    val sinkUrl = if (a.trace) TracingDriver.wrap(dbUrl) else dbUrl
    val dlDir = runDir.resolve("dead-letter").toString

    val spark = Sessions.local("perfbench", a.cpus.toString)
    val tracer = if (a.trace) Some(new Tracer(spark, "streaming.sql.batchId")) else None
    if (a.trace) TracingDriver.register()
    val walDir = if (shape.durable) Some(java.nio.file.Files.createDirectories(runDir.resolve("wal")))
      else None
    val broker = new AmqpServer(0, walDir)
    val db = DriverManager.getConnection(dbUrl)
    db.createStatement().execute(s"CREATE TABLE $Table (id BIGINT NOT NULL, " +
      "due_us BIGINT NOT NULL, city VARCHAR(64), planet VARCHAR(64), attrs VARCHAR(256), " +
      "committed_at TIMESTAMP NOT NULL)")

    val cfg = Config.parseString(
      s"""size_limit: ${shape.sizeLimit}
         |time_limit: 1
         |blocks:
         |  - name: in
         |    type: amqp
         |    kwargs:
         |      broker: 'amqp://localhost:${broker.boundPort}'
         |  - name: out
         |    type: sql
         |    kwargs:
         |      url: '$sinkUrl'
         |flows:
         |  - - name: in
         |      kwargs:
         |        exchange: $Exchange
         |        exchange_declare_kwargs: {durable: ${shape.durable}}
         |    - name: out
         |      kwargs:
         |        query: "INSERT INTO $Table (id, due_us, city, planet, attrs, committed_at) VALUES (CAST(:id AS BIGINT), CAST(:due AS BIGINT), :city, :planet, :attrs, CURRENT_TIMESTAMP)"
         |        parameters: {id: id, due: due_us, city: user.geo.city, planet: user.geo.planet, attrs: attrs}
         |        idempotent: ${shape.idempotent}
         |""".stripMargin +
        (if (shape.deadLetter) s"        dead_letter_dir: '$dlDir'\n" else ""))
    val queries = Flows.start(spark, cfg, runDir.resolve("checkpoint").toString)
    val gen = new Generator(a.seed, shape.bodyBytes, shape.malformedShare, shape.textShare)

    val problems = ArrayBuffer.empty[String]
    val e2e = new Metrics
    val layers = new Metrics
    val capacity = if (shape == Steady) SteadyRate * (MaxWarmupS + a.seconds + 2)
      else BurstSize * (a.seconds + MinBursts + 1)
    val pub = new Publisher(broker.boundPort, gen, capacity)
    def validUpTo(n: Int) = (0 until n).count(pub.valid(_)).toLong

    // measured intervals [start, end] (epoch ms) and the ids published in each
    val windows = ArrayBuffer.empty[(Double, Double, Range)]
    val wallS = ArrayBuffer.empty[Double]
    val throughput = ArrayBuffer.empty[Double]
    var setupS = 0.0
    var rows: Seq[Row] = Nil
    val cpuWindows = ArrayBuffer.empty[CpuWindow]
    def cpuWindow() = new CpuWindow(Set(pub.threadId))

    try {
      if (shape == Steady) {
        // Warm-up: a first batch of one second's load takes the flow's
        // one-time costs (codegen, first JDBC connections) off the open
        // loop; then the loop runs at least SteadyWarmupS seconds, and until
        // committed rows trail published ones by under two seconds of load.
        pub.burst(0, SteadyRate)
        if (!awaitRows(db, SteadyRate, 60)) problems += "first batch did not commit"
        val start = System.nanoTime()
        val th = pub.runOpenLoop(SteadyRate, from = SteadyRate)
        Thread.sleep(SteadyWarmupS * 1000L)
        while (count(db) < pub.next - 2 * SteadyRate &&
            System.nanoTime() - start < MaxWarmupS * 1000000000L) Thread.sleep(50)
        val winStart = System.nanoTime()
        val winEnd = winStart + a.seconds * 1000000000L
        pub.untilNanos = winEnd
        setupS = Probe.uptimeS
        val first = pub.next
        val cpu = cpuWindow()
        LockSupport.parkNanos(winEnd - System.nanoTime())
        th.join()
        cpuWindows += cpu.stop()
        windows += ((Probe.epochMs(winStart), Probe.epochMs(winEnd), first until pub.next))
        if (!awaitRows(db, validUpTo(pub.next), 60)) problems += "flow did not drain"
        rows = readRows(db)
      } else {
        // Each burst is published at half past a second: the ProcessingTime
        // trigger fires on whole seconds, so every burst meets the same phase.
        def atHalfSecond(): Unit = {
          val phase = System.currentTimeMillis() % 1000
          Thread.sleep(if (phase < 500) 500 - phase else 1500 - phase)
        }
        var published = 0
        def oneBurst(): (Double, Double, Range) = {
          atHalfSecond()
          val cpu = cpuWindow()
          val from = published
          val t0 = Probe.nowMs
          pub.burst(from, BurstSize)
          published += BurstSize
          if (!awaitRows(db, validUpTo(published), 60)) problems += "flow did not drain"
          cpuWindows += cpu.stop()
          (t0, Probe.nowMs, from until published)
        }
        oneBurst() // warm-up burst, counts in setup_s
        cpuWindows.clear()
        setupS = Probe.uptimeS
        val measureStart = System.nanoTime()
        while ((windows.size < MinBursts || (System.nanoTime() - measureStart) / 1e9 < a.seconds) &&
            published + BurstSize <= capacity)
          windows += oneBurst()
        // the dead-letter write follows the sink write in the same batch
        queries.foreach(_.processAllAvailable())
        rows = readRows(db)
      }
    } finally pub.close()

    // ---- output checks ----
    val byId = rows.groupBy(_.id)
    val published = pub.next
    var failed = 0L
    (0 until published).foreach { i =>
      val m = gen(i)
      val got = byId.getOrElse(i.toLong, Nil)
      val ok =
        if (!m.valid) got.isEmpty
        else got.size == 1 && got.head.city == m.city && got.head.planet == null &&
          got.head.attrs == m.attrs && got.head.dueUs == pub.dueUs(i)
      if (!ok) {
        failed += 1
        if (failed <= 5) problems += s"message $i: expected ${if (m.valid) "one row" else "no row"}" +
          s" with ${m.city}/null/${m.attrs}, got ${got.map(r => (r.city, r.planet, r.attrs))}"
      }
    }
    val unknown = byId.keys.count(id => id < 0 || id >= published)
    if (unknown > 0) problems += s"$unknown rows with ids never published"
    val planted = (0 until published).filterNot(pub.valid(_)).map(_.toLong).toSet
    val deadLettered: Seq[Long] =
      if (!shape.deadLetter) Nil
      else {
        val IdField = """"id":(\d+)""".r
        spark.read.parquet(s"$dlDir/corrupt").select("value").collect().toSeq
          .flatMap(r => IdField.findFirstMatchIn(r.getString(0)).map(_.group(1).toLong))
      }
    if (deadLettered.toSet != planted)
      problems += s"dead-letter dir holds ${deadLettered.size} bodies, ${planted.size} were planted malformed"

    // ---- end-to-end metrics over the measured messages ----
    def committed(ids: Range) = ids.filter(pub.valid(_)).flatMap(i => byId.getOrElse(i.toLong, Nil))
    val measured = windows.flatMap { case (_, _, ids) => ids }
    val latency = windows.flatMap { case (_, _, ids) => committed(ids) }
      .map(r => r.committedMs - r.dueUs / 1000.0)
    windows.foreach { case (_, _, ids) =>
      val rs = committed(ids)
      if (rs.nonEmpty) {
        val spanS = (rs.map(_.committedMs).max - rs.map(_.dueUs / 1000.0).min) / 1e3
        wallS += spanS
        throughput += rs.size / spanS
      }
    }
    e2e("setup_s") = setupS
    e2e("throughput_ops_s") = Stats.median(throughput)
    e2e("latency_p50_ms") = Stats.median(latency)
    e2e("latency_p99_ms") = Stats.pct(latency, 99)
    e2e("wall_s") = Stats.median(wallS)
    e2e("cpu_s") = Stats.median(cpuWindows.map(_.workS))

    val mIds = measured.toSeq
    def nsPct(arr: Array[Long], p: Double) = Stats.pct(mIds.map(arr(_).toDouble), p)
    layers("process.latency_samples") = latency.size.toDouble
    layers("process.rss_peak_mb") = Probe.rssPeakMb
    layers("process.cpu_s") = Stats.median(cpuWindows.map(_.processS))
    layers("process.gc_cpu_s") = Stats.median(cpuWindows.map(_.gcS))
    layers("process.windows") = windows.size.toDouble
    layers("sources.amqp.publish_us_p50") = nsPct(pub.publishNs, 50) / 1e3
    layers("sources.amqp.publish_us_p99") = nsPct(pub.publishNs, 99) / 1e3
    layers("sources.amqp.generator_late_ms_max") =
      if (mIds.isEmpty) 0.0 else mIds.map(pub.lateNs(_)).max / 1e6

    tracer.foreach(t => EtlTrace.layers(t, windows.toSeq.map { case (a, b, _) => (a, b) },
      layers, problems, a.traceFile, deadLettered.size))

    queries.foreach(_.stop())
    spark.stop()
    broker.stop()
    db.close()
    Result(published.toLong, failed, problems.toSeq, e2e.toSeq, layers.toSeq)
  }
}
