package graft.tools

/** Measure the LSH/IVF sizing dials at an arbitrary corpus scale: runs
  * [[graft.queries.EmbeddingOps.bandOccupancyAt]] /
  * [[graft.queries.EmbeddingOps.ivfOccupancyAt]] for each requested
  * setting and prints the audit rows, so "re-derive bits ∝ log₂ n,
  * nlist ∝ √n (or n/cap)" are measured numbers, not prose (SCALE.md
  * 100× stress). Usage:
  *   runMain graft.tools.Dial <sfDir> band <bits> [bits...]
  *   runMain graft.tools.Dial <sfDir> ivf <nlist> [nlist...]
  *   runMain graft.tools.Dial <sfDir> ivft <nlist> [nlist...]   (trained centroids)
  *   runMain graft.tools.Dial <sfDir> pq <ks> [ks...]           (codebook size: distortion + recall)
  *   runMain graft.tools.Dial <sfDir> pqmog                     (MoG-corpus flat-ADC recall@5)
  *   runMain graft.tools.Dial <sfDir> sq <bits> [bits...]       (scalar-quant bits/dim: bytes + recall)
  *   runMain graft.tools.Dial <sfDir> rp <dims> [dims...]       (random-projection dims: bytes + recall)
  *   runMain graft.tools.Dial <sfDir> recall <bits[:cap]> [bits[:cap]...]
  *
  * `recall` closes the loop on the sizing dials: it runs the sign-LSH
  * ANN at the explicit (bits, cap) and prints corpus recall@5 against
  * the brute-force truth — occupancy says what a setting COSTS, recall
  * says what it BUYS. cap defaults to the gate-pinned BucketCap.
  */
object Dial {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val mode = args(1)
    // parsed lazily: recall settings are bits[:cap], not plain ints
    lazy val vals = args.drop(2).map(_.toInt)
    val spark = graft.Session.create()

    if (mode == "recall") {
      // settings are bits[:cap]; cap defaults to the gate-pinned BucketCap
      args.drop(2).foreach { setting =>
        val (bits, cap) = setting.split(':') match {
          case Array(b)    => (b.toInt, graft.queries.EmbeddingOps.BucketCap)
          case Array(b, c) => (b.toInt, c.toInt)
          case _ => throw new IllegalArgumentException(s"recall setting $setting: bits[:cap]")
        }
        graft.queries.EmbeddingOps.annRecallSummaryAt(spark, sfDir, bits, cap)
          .collect().foreach(r => println(s"DIAL recall bits=$bits cap=$cap $r"))
      }
    } else if (mode == "pqmog") {
      graft.queries.PqOps.mogRecall(spark, sfDir)
        .collect().foreach(r => println(s"DIAL pqmog $r"))
    } else vals.foreach { v =>
      val df = mode match {
        case "band" => graft.queries.EmbeddingOps.bandOccupancyAt(spark, sfDir, v)
        case "ivf"  => graft.queries.EmbeddingOps.ivfOccupancyAt(spark, sfDir, v)
        case "ivft" => graft.queries.EmbeddingOps.ivfOccupancyTrainedAt(spark, sfDir, v)
        case "pq"   => graft.queries.PqOps.pqDialAt(spark, sfDir, v)
        case "sq"   => graft.queries.PqOps.sqDialAt(spark, sfDir, v)
        case "rp"   => graft.queries.EmbeddingOps.rpDialAt(spark, sfDir, v)
        case "sqmog" => graft.queries.PqOps.sqMogDialAt(spark, sfDir, v)
        case "rpmog" => graft.queries.EmbeddingOps.rpMogDialAt(spark, sfDir, v)
        case other  => throw new IllegalArgumentException(
          s"mode $other: band|ivf|ivft|pq|pqmog|sq|sqmog|rp|rpmog|recall")
      }
      df.collect().foreach(r => println(s"DIAL $mode=$v $r"))
    }
    spark.stop()
  }
}
