package graft.tools

/** Rewrite a fixture dir's tables as multi-file parquet. The Scale10
  * replicas come out as ONE file with ONE row group, which pins the
  * whole scan stage — including every per-doc projection that fuses
  * into it (tokenize/shingle/explode) — to a single task regardless of
  * cores. A real 100 TB table is thousands of files, so scan-stage
  * parallelism is free at deployment; this tool gives the local stress
  * fixtures the same property so measured walls reflect plan shape,
  * not a one-file-fixture artifact (SCALE.md records the A/B).
  * Usage: runMain graft.tools.Refile <srcDir> <outDir> [nFiles=32]
  */
object Refile {
  def main(args: Array[String]): Unit = {
    val src = args(0)
    val out = args(1)
    val n = args.lift(2).map(_.toInt).getOrElse(32)
    val spark = graft.Session.create()
    for (t <- Seq("documents", "embeddings", "events", "lineitem")) {
      val p = s"$src/$t.parquet"
      if (new java.io.File(p).exists) {
        spark.read.parquet(p).repartition(n)
          .write.mode("overwrite").parquet(s"$out/$t.parquet")
        println(s"REFILE $t -> $out/$t.parquet ($n files)")
      }
    }
    spark.stop()
  }
}
