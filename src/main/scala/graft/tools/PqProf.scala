package graft.tools

/** Stage-level wall-time bisect for the PQ family: times each building
  * block of the IVF×PQ composition in isolation (count() actions on
  * the intermediate frames, min-of-3 warm) so the expensive stage at a
  * given corpus scale is measured, not guessed — the evidence behind
  * SCALE.md's PQ rows.
  * Usage: runMain graft.tools.PqProf <sfDir>
  */
object PqProf {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = graft.Session.create()

    def time(name: String)(mk: => org.apache.spark.sql.DataFrame): Unit = {
      mk.count() // warm
      val runs = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        mk.count()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"PQPROF $name%-22s min=${runs.min}%.3f runs=${runs.map(r => f"$r%.2f").mkString(",")}")
    }

    time("encode_a2")(graft.queries.PqOps.profEncode(spark, dir))
    time("codes_fold")(graft.queries.PqOps.profCodes(spark, dir))
    time("lut")(graft.queries.PqOps.profLut(spark, dir))
    time("ivf_cells")(graft.queries.PqOps.profCells(spark, dir))
    time("ivfpq_full")(graft.queries.PqOps.qIvfPqAnn(spark, dir))
    time("adc_flat_full")(graft.queries.PqOps.qPqAnn(spark, dir))
    spark.stop()
  }
}
