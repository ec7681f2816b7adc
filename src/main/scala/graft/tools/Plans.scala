package graft.tools

import org.apache.spark.sql.execution.FormattedMode

/** Dump `.explain("formatted")` for named SparkEntry queries to files —
  * the before/after plan evidence for the optimization rounds. Usage:
  *   runMain graft.tools.Plans <sfDir> <outDir> <suffix> <query> [query...]
  * writes <outDir>/<query>_<suffix>.txt per query ("all" = every key).
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = java.nio.file.Paths.get(args(1))
    val suffix = args(2)
    val names =
      if (args.drop(3).sameElements(Array("all"))) graft.SparkEntry.queries.keys.toSeq.sorted
      else args.drop(3).toSeq
    val spark = graft.Session.create()
    java.nio.file.Files.createDirectories(outDir)
    names.foreach { name =>
      try {
        // inside the try (r19 advice): one mistyped name must print
        // PLANS FAILED and continue, not abort the whole dump run
        val fn = graft.SparkEntry.query(name)
        val df = fn(spark, sfDir)
        // Execute first so AQE-finalized subplans and localCheckpoint
        // fences reflect what the bench actually times, then dump the
        // formatted plan of a fresh instance (pre-execution shape —
        // the one whose Exchanges/joins/pushdowns the round argues
        // about) plus the executed plan for AQE's final word.
        df.count()
        spark.catalog.clearCache()
        val fresh = fn(spark, sfDir)
        val formatted = fresh.queryExecution.explainString(FormattedMode)
        val executed = df.queryExecution.executedPlan.toString
        java.nio.file.Files.writeString(
          outDir.resolve(s"${name}_$suffix.txt"),
          s"== explain(formatted) ==\n$formatted\n== executedPlan (post-AQE) ==\n$executed\n")
        spark.catalog.clearCache()
        println(s"PLANS wrote $name")
      } catch { case e: Throwable =>
        println(s"PLANS FAILED $name: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
