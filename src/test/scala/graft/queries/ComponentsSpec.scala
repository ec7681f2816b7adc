package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Behavior of the shared connected-components loop: multi-round
  * convergence on long paths, and the reliable checkpoint(dir)
  * durability mode — the cluster swap for localCheckpoint (lost
  * executors invalidate local checkpoint blocks; a reliable dir
  * survives churn) — which must be result-identical. */
class ComponentsSpec extends AnyFunSuite {
  private lazy val spark = graft.SparkTestSession.spark

  /** `blocks` disjoint paths over vertices 0..n-1 (edges v→v+1 with a
    * cut between consecutive blocks), diameter n/blocks − 1. */
  private def pathPairs(n: Int, blocks: Int) = {
    spark.range(n - 1).toDF("a")
      .filter((col("a") + 1) % (n / blocks) =!= 0)
      .select(col("a"), (col("a") + 1).as("b"))
  }

  test("multi-round convergence on long paths; labels are component minima") {
    import spark.implicits._
    val (labels, rounds) = TextOps.connectedComponents(spark, pathPairs(80, 2))
    assert(rounds > 1, s"40-vertex paths must need several rounds, took $rounds")
    val got = labels.select($"v", $"l").as[(Long, Long)].collect().toMap
    assert(got.size == 80)
    (0 until 80).foreach { v =>
      assert(got(v.toLong) == (if (v < 40) 0L else 40L), s"vertex $v")
    }
  }

  test("convergence check rides the checkpoint action: ~1 action per round, not 2") {
    // The label sum is observed on the SAME action that materializes
    // each round's checkpoint (Dataset.observe). Before the fold the
    // loop issued 2 query executions per round (checkpoint + separate
    // 1-row agg: 2·rounds+3 total incl. edges/initial); folded it
    // issues edges + initial + 1/round. Job counts are NOT the metric
    // (AQE runs one job per shuffle stage), so count query executions.
    val execs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit = { execs.incrementAndGet(); () }
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val (_, rounds) = TextOps.connectedComponents(spark, pathPairs(40, 1))
      // Reach per round is 5·(push reach) with the ×4 pointer jump:
      // 1 → 10 → 55, so diameter 39 converges in round 2 and round 3
      // observes the fixed point.
      assert(rounds >= 3, s"diameter-39 path should need several rounds, took $rounds")
      // listener delivery is async: poll until the count is stable
      var last = -1
      var stable = 0
      val deadline = System.nanoTime() + 10e9.toLong
      while (stable < 5 && System.nanoTime() < deadline) {
        val now = execs.get()
        if (now == last) stable += 1 else { stable = 0; last = now }
        Thread.sleep(100)
      }
      val total = execs.get()
      val unfolded = 2 * rounds + 3
      assert(total < unfolded,
        s"expected ~${rounds + 2} executions for $rounds rounds (unfolded would be ~$unfolded), saw $total")
    } finally spark.listenerManager.unregister(listener)
  }

  test("alternating-star variant is result-identical to min-label on the ordered fixture") {
    import spark.implicits._
    val pairs = pathPairs(80, 2)
    val (a, _) = TextOps.connectedComponents(spark, pairs)
    val (b, rounds) = TextOps.connectedComponentsRobust(spark, pairs)
    assert(rounds > 1, s"40-blocks should take several alternations, took $rounds")
    val la = a.select($"v", $"l").as[(Long, Long)].collect().sortBy(_._1).toSeq
    val lb = b.select($"v", $"l").as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(la == lb)
  }

  test("star alternation converges on the order-destroyed layout where min-label blows its bound") {
    import spark.implicits._
    // The hashed-id bijection q_cc_hashed_ids gates: order-destroying,
    // injective below the prime modulus — the id layout of a hashed-key graph.
    def remap(c: org.apache.spark.sql.Column) =
      pmod(c * 2654435761L, lit(4294967311L))
    val pairs = pathPairs(200, 5) // 5 blocks of 40, diameter 39
      .select(remap($"a").as("a"), remap($"b").as("b"))
    // Min-label jumps stall at local reach-ball minima on this layout:
    // the 16-round bound must throw LOUDLY, never silently split.
    val ex = intercept[IllegalArgumentException] {
      TextOps.connectedComponents(spark, pairs)
    }
    assert(ex.getMessage.contains("did not converge"))
    // The star variant converges and labels every vertex with its
    // component minimum (membership computed from the known blocks).
    val (labels, rounds) = TextOps.connectedComponentsRobust(spark, pairs)
    assert(rounds > 1)
    val h = (x: Long) => java.lang.Math.floorMod(x * 2654435761L, 4294967311L)
    val expected = (0L until 200L).groupBy(_ / 40).values.flatMap { block =>
      val ids = block.map(h)
      val mn = ids.min
      ids.map(_ -> mn)
    }.toMap
    val got = labels.select($"v", $"l").as[(Long, Long)].collect().toMap
    assert(got == expected)
  }

  test("reliable checkpoint(dir) mode is result-identical to localCheckpoint") {
    import spark.implicits._
    val pairs = pathPairs(60, 3)
    val ckDir = Scratch.fresh("cc_reliable", "spec")
    val (local, r1) = TextOps.connectedComponents(spark, pairs)
    val (reliable, r2) = TextOps.connectedComponents(spark, pairs, Some(ckDir))
    assert(r1 == r2, s"round counts diverged: $r1 vs $r2")
    val a = local.select($"v", $"l").as[(Long, Long)].collect().sortBy(_._1).toSeq
    val b = reliable.select($"v", $"l").as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(a == b)
  }
}
