package perfbench

/** Entry point of one benchmark run; perfbench/run.py builds the
  * classpath and passes the arguments. Prints the run's result as one line
  * prefixed `PERFBENCH_RESULT `, then exits.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val result = a.workload match {
      case "etl-steady" => Etl.steady(a)
      case "etl-burst" => Etl.burst(a)
      case "inventory-small" => Inventory.run(a, Inventory.Small)
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }
    println("PERFBENCH_RESULT " + result.json)
    System.out.flush()
    // Spark, Derby and the broker leave non-daemon threads behind
    sys.exit(0)
  }
}
