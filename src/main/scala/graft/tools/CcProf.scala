package graft.tools

import org.apache.spark.sql.functions._

/** Isolates the connected-components loop's cost from its callers'
  * preludes (rank, chain join, pair generation): times
  * [[graft.queries.TextOps.connectedComponents]] on bare synthetic
  * path graphs of a chosen size/diameter (the ComponentsSpec
  * fixture), printing rounds and min-of-N wall per configuration.
  * The q_graph_components gap between this number and the TimeKeys
  * number is the prelude (staged-rank read + chain join + final
  * rollup) — the loop budget and the prelude budget are tuned
  * separately.
  *
  * Usage: runMain graft.tools.CcProf [nVertices] [blockSize]
  * (`SPARK_GRAFT_CONF="spark.sql.adaptive.enabled=false"` for the AQE-off
  * comparison)
  */
object CcProf {
  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toInt else 52000
    val block = if (args.length > 1) args(1).toInt else 40
    val spark = graft.Session.create()

    // -shuffle: remap vertex ids through a bijection that destroys
    // the order-locality correlation (path neighbors get unrelated
    // ids) — the regime a chain over arbitrary user ids runs in. The
    // min-label loop's JUMP effectiveness depends on the label VALUE
    // space: with order-correlated dense ids every local min lies
    // maximally far along the path; with shuffled ids jumps chase
    // jagged local minima and rounds grow.
    val shuffle = args.contains("-shuffle")
    // -sparse: order-PRESERVING remap (scattered values, same order) —
    // separates value-sparsity effects from order-correlation effects.
    val sparse = args.contains("-sparse")
    def remap(c: org.apache.spark.sql.Column) =
      if (shuffle) pmod(c * 2654435761L, lit(4294967311L))
      else if (sparse) c * 1000003L + 17L
      else c
    def pathPairs(nv: Int, blk: Int) =
      spark.range(nv - 1).toDF("a")
        .filter((col("a") + 1) % blk =!= 0)
        .select(remap(col("a")).as("a"), remap(col("a") + 1).as("b"))

    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val stages = new java.util.concurrent.atomic.AtomicInteger
    val tasks = new java.util.concurrent.atomic.AtomicInteger
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
      override def onStageCompleted(s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet(); tasks.addAndGet(s.stageInfo.numTasks); ()
      }
    })

    // -real <sfDir>: run the loop over q_graph_components' ACTUAL
    // chain (staged-rank order over distinct event users) instead of
    // the synthetic dense path — tells real-regime rounds apart from
    // fixture-regime rounds.
    val realDir = args.sliding(2).collectFirst {
      case Array("-real", d) => d }
    // -robust: run the alternating large-star/small-star variant
    // (layout-robust) instead of the min-label loop.
    val robust = args.contains("-robust")
    val pairs = (realDir match {
      case Some(dir) =>
        import spark.implicits._
        val users = graft.queries.Tables.events(spark, dir)
          .select($"user_id").distinct()
        val ranked = graft.queries.TextOps.rankPhase2(
          spark, graft.queries.TextOps.rankPhase1(users).localCheckpoint())
        val a = ranked.select($"user_id".as("src"), $"rk".as("rka"))
        val b = ranked.select($"user_id".as("dst"), $"rk".as("rkb"))
        a.join(b, $"rkb" === $"rka" + 1)
          .filter(($"rka" + 1) % block =!= 0)
          .select($"src", $"dst")
      case None => pathPairs(n, block)
    }).localCheckpoint()
    def run() =
      if (robust) graft.queries.TextOps.connectedComponentsRobust(spark, pairs)
      else graft.queries.TextOps.connectedComponents(spark, pairs)
    // warmup
    run()
    Thread.sleep(500); jobs.set(0); stages.set(0); tasks.set(0)
    val ts = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      val (_, rounds) = run()
      val t = (System.nanoTime() - t0) / 1e9
      (t, rounds)
    }
    Thread.sleep(500)
    println(f"CCPROF n=$n block=$block rounds=${ts.head._2} " +
      f"min=${ts.map(_._1).min}%.3f runs=${ts.map(t => f"${t._1}%.3f").mkString(",")} " +
      f"perRun: jobs=${jobs.get / 3} stages=${stages.get / 3} tasks=${tasks.get / 3}")
    spark.stop()
  }
}
