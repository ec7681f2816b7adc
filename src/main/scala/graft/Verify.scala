package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  val Usage = "usage: graft.Verify <sfDir> <outDir> [query ...]"

  /** `<sfDir> <outDir>` and the optional query-name filter, or None
    * when either directory is missing. */
  private[graft] def parseArgs(args: Array[String]): Option[(String, String, Set[String])] =
    if (args.length < 2) None else Some((args(0), args(1), args.drop(2).toSet))

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, only) = parseArgs(args).getOrElse {
      System.err.println(Usage)
      sys.exit(2)
    }
    val spark = Session.create()
    // Host-interference gauge (Session.calibrate), the one Bench times:
    // when a verify run is anomalously slow (or a query times out on
    // the driver), the bracketing calib pair says whether the HOST was
    // loaded or the PLAN regressed. Warm once, then time.
    Session.calibrate(spark)
    val calibIn = Session.calibrate(spark)
    val failed = dump(spark, sfDir, outDir, SparkEntry.queries, SparkEntry.oracleSql, only)
    val calibOut = Session.calibrate(spark)
    System.err.println(f"[verify] calib=[$calibIn%.3f,$calibOut%.3f]")
    spark.stop()
    // a failed key fails the run, after every other key is dumped
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} failed: ${failed.mkString(" ")}")
      sys.exit(1)
    }
  }

  /** Writes each of `queries` (only those in `only`, when it is
    * non-empty) to `<outDir>/<key>` as one parquet file, then `oracles`
    * to `<outDir>/oracle_sql.json`. A failing key is reported on stderr
    * and the rest still run. Returns the failed keys in run order. */
  private[graft] def dump(spark: SparkSession, sfDir: String, outDir: String,
      queries: Map[String, SparkEntry.Query], oracles: Map[String, String],
      only: Set[String]): List[String] = {
    new java.io.File(outDir).mkdirs()
    val failed = queries.toList.flatMap { case (name, fn) =>
      val failure =
        if (only.nonEmpty && !only(name)) None
        else try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
          None
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          Some(name)
        }
      spark.catalog.clearCache() // intra-query caches must not leak across queries
      failure
    }
    val json = oracles
      .map { case (k, v) => s"${Json.quote(k)}: ${Json.quote(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    failed
  }
}
