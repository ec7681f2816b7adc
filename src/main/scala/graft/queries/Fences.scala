package graft.queries

import org.apache.spark.sql.DataFrame

/** THE materialization-fence policy for multi-consumer frames — one
  * place (r19 verdict item 7, r19 advice) instead of per-site folklore.
  *
  * Why fences exist: a frame with several consumers re-derives its
  * whole subtree once per consumer (Spark plans are trees, not DAGs) —
  * the r19 audit found keys re-running scan+tokenize+hash 3-9x per
  * run. An eager `localCheckpoint()` materializes the frame once and
  * every consumer reads the blocks.
  *
  * Convention — fences are EAGER: calling a query constructor
  * `fn(spark, dir)` therefore runs Spark jobs at construction time.
  * Explain-only tooling must either audit the PRE-fence seam
  * (PlanAuditSpec's `phrasePullPlan` pattern) or accept
  * construction-time execution (`tools/Plans` re-executes for exactly
  * this reason). Eager vs lazy was A/B'd in r19 (OPTIMIZATION_r19.md):
  * lazy was no faster, and eager keeps failure attribution at the
  * fence site.
  *
  * Durability tiers:
  *
  *  - Sub-linear frames (class/vocab/sketch/index cardinality): bare
  *    `localCheckpoint()` at the call site. Recompute-on-executor-loss
  *    is cheap and the block footprint is bounded by construction —
  *    the durability swap is deliberately waived for these.
  *  - Corpus-ROW-scale frames (one narrow, text-free row per
  *    document/record — O(rows) blocks): [[rowScale]]. Locally it is
  *    the same eager localCheckpoint; on a cluster, localCheckpoint
  *    blocks live only on executors and are NOT recoverable (the
  *    truncated lineage cannot recompute a lost block), and O(rows)
  *    blocks are a real block-store footprint at 100 TB — so setting
  *    `spark.graft.checkpointDir` to a reliable path (HDFS/S3) swaps
  *    every rowScale fence to `checkpoint()` through that directory:
  *    same plan, durable sink. The persist-before-checkpoint dance
  *    avoids re-executing the plan for the checkpoint write job (the
  *    same discipline as TextOps.connectedComponents' reliableDir).
  *    Each call site states its per-row `budget` so the footprint at
  *    scale is a written number, not a surprise.
  */
private[graft] object Fences {

  /** Conf key enabling the reliable-checkpoint swap for row-scale
    * fences. Unset (local mode, the bench, the driver) keeps the
    * eager localCheckpoint behavior. */
  val CheckpointDirKey = "spark.graft.checkpointDir"

  /** Fence a corpus-row-scale frame. `budget` documents the per-row
    * width (e.g. "doc_id + 16-char fp ~ 40 B/doc") — it is part of the
    * call site's scale argument, not used at runtime. */
  def rowScale(df: DataFrame, budget: String): DataFrame = {
    val _ = budget // documentation-only parameter
    df.sparkSession.conf.getOption(CheckpointDirKey) match {
      case Some(d) =>
        val sc = df.sparkSession.sparkContext
        // setCheckpointDir makes a fresh UUID subdirectory per call:
        // set it once per (session, dir), not once per fence
        val root = new org.apache.hadoop.fs.Path(d)
        val qualified = root.getFileSystem(sc.hadoopConfiguration).makeQualified(root)
        if (!sc.getCheckpointDir.exists(c => new org.apache.hadoop.fs.Path(c).getParent == qualified))
          sc.setCheckpointDir(d)
        val cached = df.persist(
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val out = cached.checkpoint()
        cached.unpersist(blocking = false)
        out
      case None => df.localCheckpoint()
    }
  }
}
