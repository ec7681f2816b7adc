package graft.tools

/** Measure SemDeDup's cell-count dial: runs
  * [[graft.queries.EmbeddingOps.semanticDedupAt]] at each requested k
  * (warm + min of 3) so the "size k ∝ n to hold within-cell pair work
  * constant" rule is a number, not prose (SCALE.md 10× stress).
  * Usage: runMain graft.tools.SemK <sfDir> <k> [k...]
  */
object SemK {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val ks = args.drop(1).map(_.toInt)
    val spark = graft.Session.create()

    import org.apache.spark.sql.functions._
    ks.foreach { k =>
      def once(): Double = {
        val t0 = System.nanoTime()
        graft.queries.EmbeddingOps.semanticDedupAt(spark, sfDir, k).count()
        (System.nanoTime() - t0) / 1e9
      }
      once() // warmup
      val ts = (1 to 3).map(_ => once())
      // the two work terms the k dial trades: within-cell pair volume
      // (n²-flavored, ∝ Σ cell·(cell−1)/2) vs assignment dots (n·k)
      val cells = graft.queries.EmbeddingOps.kmeansFinalAssign(spark, sfDir, k)
        .groupBy("cid").count()
      val pairVol = cells.agg(sum(expr("count * (count - 1) / 2")))
        .head.get(0)
      val n = cells.agg(sum("count")).head.get(0)
      println(f"SEMK k=$k%-4d min=${ts.min}%.3f runs=${ts.map(t => f"$t%.3f").mkString(",")} " +
        s"pair_volume=$pairVol assign_dots=${n.toString.toLong * k}")
    }
    spark.stop()
  }
}
