package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft Spark session is built. Every main runs on
  * [[create]]: the [[conf]] set at `SPARK_GRAFT_CPUS` local cores, then
  * the `SPARK_GRAFT_CONF` overlay. The test session builds the same
  * [[conf]] set at a fixed 4 cores. So a tool times and plans exactly
  * what `Bench` and `Verify` run, and a new setting lands everywhere
  * at once.
  */
object Session {

  /** Local cores when `SPARK_GRAFT_CPUS` is unset. */
  val DefaultCpus = "4"

  def cpus(env: Map[String, String] = sys.env): String =
    env.getOrElse("SPARK_GRAFT_CPUS", DefaultCpus)

  /** The conf set every graft session starts from, at `cpus` local cores. */
  def conf(cpus: String): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // recognize the dns scan's KeyGroupedPartitioning (storage-partitioned joins)
    "spark.sql.sources.v2.bucketing.enabled" -> "true",
    // The generated-class cache (CodeGenerator.cache) defaults to 100
    // entries; this suite plans ~216 keys × several codegen units per
    // pass (~1k+ distinct generated sources), so at the default every
    // pass evicts everything and re-Janino-compiles the whole suite —
    // the ~45-75 s/pass of HotSpot JIT churn the r18 instrumentation
    // measured (BASELINE.md). Sized to hold the whole suite, repeat
    // passes cache-hit instead (static conf — must be set at builder
    // time). Measured effect recorded in BASELINE.md r19.
    "spark.sql.codegen.cache.maxEntries" -> "5000",
    "spark.ui.enabled" -> "false")

  /** Parses a `SPARK_GRAFT_CONF` value, `"k=v;k=v"`. Each entry splits
    * at its first `=`, so a value may itself contain `=`; blank entries
    * are skipped. An entry without `=` or with an empty key is rejected
    * by name rather than dying later as an opaque `MatchError`. */
  def overlay(spec: String): Seq[(String, String)] =
    spec.split(';').toSeq.map(_.trim).filter(_.nonEmpty).map { kv =>
      val eq = kv.indexOf('=')
      require(eq > 0, s"bad SPARK_GRAFT_CONF entry (expected key=value): '$kv'")
      (kv.take(eq), kv.drop(eq + 1))
    }

  /** A session built from exactly `settings` (a later entry wins) with
    * the graft extensions, logging at WARN. */
  def build(settings: Seq[(String, String)]): SparkSession = {
    val builder = SparkSession.builder().withExtensions(new graft.functions.GraftExtensions)
    val spark = settings.foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The session a main runs on: [[conf]] at [[cpus]] cores, then the
    * `SPARK_GRAFT_CONF` overlay, applied last so it can override any
    * default — how the verification matrix runs mode cells and how
    * config A/Bs are measured without code edits. Unset, both leave
    * exactly the [[conf]] set. Says on stderr when the core count is
    * the default and which overlay applied. */
  def create(): SparkSession = {
    if (!sys.env.contains("SPARK_GRAFT_CPUS"))
      System.err.println(s"[session] SPARK_GRAFT_CPUS is unset: using the default of $DefaultCpus cores")
    val extra = overlay(sys.env.getOrElse("SPARK_GRAFT_CONF", ""))
    if (extra.nonEmpty)
      System.err.println(s"[session] extra conf: ${extra.map { case (k, v) => s"$k=$v" }.mkString(";")}")
    build(conf(cpus()) ++ extra)
  }

  /** Host-interference gauge: a fixed data-independent workload. Timed
    * beside a run, it says whether the HOST moved (calib drifts with the
    * run) or a plan regressed (calib flat). Returns seconds. */
  def calibrate(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(200000000L).selectExpr("sum(id * 3 + 1) AS s").count()
    (System.nanoTime() - t0) / 1e9
  }

  /** clearCache() drops registered table caches but NOT the RDD blocks
    * that eager localCheckpoint() fences leave in the BlockManager; they
    * accumulate across queries until ContextCleaner GC and smear later
    * timings with memory pressure. Release them deterministically. */
  def releaseBlocks(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
}
