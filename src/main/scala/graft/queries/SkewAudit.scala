package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew audit for the banded pair-stage family (r19 verdict item 1):
  * measures the RAW bucket-cardinality distribution behind every
  * pair-generating key — the data that says whether a hot band/bucket
  * needs salting/splitting (guide §2.5) or the existing caps already
  * bound it. Lives in graft.queries so it can read the same pre-cap
  * seams the queries themselves consume (zero drift between what runs
  * and what is audited). Usage:
  *   runMain graft.queries.SkewAudit <sfDir> [outFile]
  * Prints one block per family; with outFile also writes the report.
  */
object SkewAudit {

  /** One histogram block: bucket sizes of `df` grouped by `key`.
    * `cap` is the per-bucket cap the consuming query applies (0 =
    * uncapped); pairVolume reports Σ sz·(sz−1)/2 pre- and post-cap —
    * the quantity that actually goes quadratic under skew. Returns the
    * report lines; a family with no rows gets one "empty family" line,
    * since its max and percentiles are NULL. */
  def audit(name: String, df: DataFrame, key: Seq[String], cap: Int): Seq[String] = {
    val sz = col("sz")
    val sizes = df.groupBy(key.map(col): _*).agg(count(lit(1)).as("sz"))
      .select(sz).cache()
    try {
      val row = sizes.agg(
        count(lit(1)).as("n_buckets"), sum(sz).as("n_rows"),
        max(sz).as("max"), expr("percentile(sz, 0.5)").as("p50"),
        expr("percentile(sz, 0.99)").as("p99"),
        sum(expr("sz * (sz - 1) / 2")).as("pairs_raw"),
        sum(when(sz > cap, sz - cap).otherwise(0L)).as("rows_over_cap"),
        sum(expr(s"least(sz, $cap) * (least(sz, $cap) - 1) / 2")).as("pairs_capped"),
        sum(when(sz > cap, 1).otherwise(0)).as("n_buckets_over_cap")
      ).first()
      if (row.isNullAt(2)) Seq(f"$name%-28s empty family (0 buckets, 0 rows)")
      else {
        val top = sizes.orderBy(sz.desc).limit(5).collect().map(_.getLong(0))
        Seq(
          f"$name%-28s buckets=${row.getLong(0)}%-8d rows=${row.getLong(1)}%-9d " +
            f"max=${row.getLong(2)}%-6d p50=${row.getDouble(3)}%-7.1f p99=${row.getDouble(4)}%-8.1f " +
            f"max/p50=${row.getLong(2) / math.max(row.getDouble(3), 1e-9)}%-8.1f",
          f"  cap=$cap%-6d over-cap buckets=${row.getLong(8)} rows_dropped=${row.getLong(6)} " +
            f"pair_volume raw=${row.getDouble(5)}%.0f capped=${row.getDouble(7)}%.0f " +
            f"top5=[${top.mkString(",")}]")
      }
    } finally sizes.unpersist()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val out = args.lift(1)
    val spark = graft.Session.create()
    val report = new StringBuilder
    def emit(s: String): Unit = { println(s); report.append(s).append('\n') }

    emit(s"SKEW AUDIT sf=$sfDir cpus=${graft.Session.cpus()} (raw pre-cap bucket sizes per pair family)")
    audit("minhash bands (4/doc)", TextOps.minhashBandRows(spark, sfDir),
      Seq("band"), graft.queries.TextOps.MinhashBucketCap).foreach(emit)
    audit("ngram blocks (4/doc)", TextOps.ngramBandRows(spark, sfDir),
      Seq("band"), graft.queries.TextOps.NgramBlockCap).foreach(emit)
    val (_, idxRaw, probeRaw) = TextOps.tokenEditFrames(spark, sfDir, 2)
    audit("token-edit idx segs", idxRaw, Seq("l", "seg", "sub"),
      graft.queries.TextOps.MinhashBucketCap).foreach(emit)
    audit("token-edit probe segs", probeRaw, Seq("l", "seg", "sub"),
      graft.queries.TextOps.MinhashBucketCap).foreach(emit)
    // The passage family joins/aggregates on whash: q_common_passages
    // and q_split_contamination aggregate it (two-level, partial-agg
    // skew-proof); q_shared_spans SELF-JOINS window instances per
    // whash behind a <= 32-occurrence guard — its pair volume is the
    // capped one below.
    audit("passage whash (k=8)", PipelineOps.passageWindows(spark, sfDir),
      Seq("whash"), 32).foreach(emit)

    out.foreach { p =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(p), report.toString)
      println(s"SKEWAUDIT wrote $p")
    }
    spark.stop()
  }
}
