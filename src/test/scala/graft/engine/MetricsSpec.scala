package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger
import graft.SparkSpec
import graft.sources.MemoryBroker

class MetricsSpec extends SparkSpec {
  test("listener accumulates per-flow row counts") {
    Metrics.register(spark)
    Metrics.reset()
    val ex = "metrics_ex"
    (1 to 9).foreach(i => MemoryBroker.publish(ex, s"""{"i":$i}"""))
    val q = spark.readStream.format("graftmq").option("exchange", ex).load()
      .writeStream.queryName("metrics_flow")
      .foreachBatch { (b: DataFrame, _: Long) => b.count(); () }
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("m-ckpt").toString)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val deadline = System.currentTimeMillis() + 20000
    def rows = Metrics.snapshot.get("metrics_flow").map(_.rows).getOrElse(0L)
    while (rows < 9L && System.currentTimeMillis() < deadline) Thread.sleep(200)
    assert(rows == 9L, s"snapshot=${Metrics.snapshot}")
  }

  test("a flow on a second session in the same JVM reaches the snapshot") {
    // the listener is per session: registering on `spark` must not stop
    // Flows.start from registering on a later session
    Metrics.register(spark)
    Metrics.reset()
    val s2 = spark.newSession()
    val ex = "metrics_ex_s2"
    (1 to 7).foreach(i => MemoryBroker.publish(ex, s"""{"i":$i}"""))
    val tmp = java.nio.file.Files.createTempDirectory("m-s2")
    val cfg = Config.parseString(
      s"""size_limit: 100
         |time_limit: 1
         |blocks:
         |  - name: in
         |    type: amqp
         |    kwargs: {}
         |  - name: out
         |    type: parquet
         |    kwargs:
         |      path: '$tmp/out'
         |flows:
         |  - - name: in
         |      kwargs:
         |        exchange: $ex
         |    - name: out
         |      kwargs: {}
         |""".stripMargin)
    val qs = Flows.start(s2, cfg, s"$tmp/ckpt")
    try {
      val deadline = System.currentTimeMillis() + 30000
      def rows = Metrics.snapshot.get("flow0").map(_.rows).getOrElse(0L)
      while (rows < 7L && System.currentTimeMillis() < deadline) Thread.sleep(200)
      assert(rows == 7L, s"snapshot=${Metrics.snapshot}")
    } finally qs.foreach(_.stop())
  }
}
