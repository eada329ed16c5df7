package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec

class RelaxSpec extends SparkSpec {
  import spark.implicits._

  /** The previous inlined loop (union + groupBy min, fixed rounds) —
    * the reference [[Relax.rounds]] must reproduce exactly.
    */
  private def reference(e0: DataFrame, dist0: DataFrame, iters: Int,
      weighted: Boolean): DataFrame = {
    var dist = dist0
    for (_ <- 1 to iters) {
      val step = if (weighted) col("dd") + col("w") else col("dd") + lit(1L)
      val relaxed = dist.join(e0, col("node") === col("u"))
        .filter(col("dd") =!= Long.MaxValue)
        .select(col("v").as("node"), step.as("dd"))
      dist = dist.unionByName(relaxed)
        .groupBy(col("node")).agg(min(col("dd")).as("dd"))
    }
    dist
  }

  private def graph(): (DataFrame, DataFrame) = {
    // symmetric graph with a chain (convergence needs several rounds),
    // a cycle, and an unreachable island
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (2L, 6L),
      (6L, 7L), (7L, 1L), (10L, 11L))
    val e0 = und.flatMap { case (x, y) => Seq((x, y), (y, x)) }
      .toDF("u", "v")
      .withColumn("w", pmod(col("u") + col("v"), lit(97L)) + lit(1L))
    val dist0 = e0.select(col("u")).distinct()
      .select(col("u").as("node"),
        when(col("u") === 1L, 0L).otherwise(lit(Long.MaxValue)).as("dd"))
    (e0, dist0)
  }

  private def rows(df: DataFrame): Seq[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq

  test("rounds == inlined union+groupBy reference, unit and weighted") {
    val (e0, dist0) = graph()
    for (weighted <- Seq(false, true); iters <- Seq(1, 2, 4)) {
      val got = rows(Relax.rounds(e0, dist0, iters, weighted))
      val want = rows(reference(e0, dist0, iters, weighted))
      assert(got == want, s"weighted=$weighted iters=$iters")
    }
  }

  test("early exit skips only identity rounds") {
    val (e0, dist0) = graph()
    // diameter-from-seed is 3; by round 4 everything reachable is
    // final — 20 declared rounds must equal the 20-round reference
    // (which IS the 4-round fixed point) while exiting early
    val got = rows(Relax.rounds(e0, dist0, 20, weighted = false))
    val want = rows(reference(e0, dist0, 4, weighted = false))
    assert(got == want)
    // the unreachable island stays at MaxValue
    assert(got.filter(_._1 >= 10L).forall(_._2 == Long.MaxValue))
  }

  test("no reached node: an empty candidate set still converges") {
    // every candidate count must arrive even when the round relaxes
    // nothing (an empty side the planner could prune)
    val (e0, dist0) = graph()
    val unreached = dist0.select(col("node"),
      when(col("node") === -1L, 0L).otherwise(lit(Long.MaxValue)).as("dd"))
    for (weighted <- Seq(false, true))
      assert(rows(Relax.rounds(e0, unreached, 3, weighted)) == rows(unreached))
  }

  test("PRECONDITION: a relaxation onto a node absent from dist0 fails loudly") {
    // rounds() refreshes dist via a LEFT join, so it can only ever
    // UPDATE nodes already present in dist0; on an ASYMMETRIC edge list
    // the inlined union+groupBy reference would GROW the node set
    // instead. Node 3 is first reached in round 2; node 4 is never
    // reached (its only source 5 is unreached), so it drops nothing.
    val e0 = Seq((1L, 2L), (2L, 3L), (5L, 4L)).toDF("u", "v")
      .withColumn("w", lit(1L))
    val dist0 = Seq((1L, 0L), (2L, Long.MaxValue), (5L, Long.MaxValue))
      .toDF("node", "dd") // nodes 3 and 4 NOT seeded
    // the count holds whether the candidates are broadcast or shuffled
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    try for (threshold <- Seq(prev, "-1"); weighted <- Seq(false, true)) {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
      val err = intercept[IllegalArgumentException](
        Relax.rounds(e0, dist0, 2, weighted))
      assert(err.getMessage.contains(
        "round 2 relaxes 1 node(s) missing from dist0"), err.getMessage)
      // one round relaxes only node 2: nothing is dropped yet
      assert(rows(Relax.rounds(e0, dist0, 1, weighted)) ==
        rows(reference(e0, dist0, 1, weighted)))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    // seeding the full node universe restores equivalence
    val distFull = dist0.union(Seq((3L, Long.MaxValue), (4L, Long.MaxValue))
      .toDF("node", "dd"))
    assert(rows(Relax.rounds(e0, distFull, 2, weighted = false)) ==
      rows(reference(e0, distFull, 2, weighted = false)))
  }
}
