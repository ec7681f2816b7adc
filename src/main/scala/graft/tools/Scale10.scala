package graft.tools

import org.apache.spark.sql.functions._

/** One-off scale-stress generator: writes a 10× replica of an SF dir's
  * `documents`/`embeddings` tables so the dedup/ANN cap claims ("bits
  * ∝ log n", "cells ∝ √n", bucket caps bound pair work under skew)
  * can be MEASURED instead of argued (SCALE.md records the numbers).
  *
  * Replica r (0..9) shifts ids by r·10⁷ (divisible by 100, so the
  * `vec_id % 100 == 0` query sets scale with the corpus). Text
  * replicas append a replica token — replicas become NEAR-duplicates,
  * the hard case for the minhash/LSH pipelines, not exact-hash drops.
  * Embedding replicas add r·10⁻³ to every element — replicas stay at
  * cosine ≈ 1, making the 10× corpus duplicate-HEAVY: worst case for
  * bucket occupancy, exactly what the per-bucket caps exist to bound.
  *
  * Usage: runMain graft.tools.Scale10 <srcSfDir> <outDir> [idStride]
  * `idStride` (default 10⁷) must exceed the source's max id — pass a
  * larger stride when re-applying to an already-scaled dir (10× of 10×
  * = 100×) so replica id ranges never collide.
  */
object Scale10 {
  def main(args: Array[String]): Unit = {
    val src = args(0)
    val out = args(1)
    val stride = args.lift(2).map(_.toLong).getOrElse(10000000L)
    val spark = graft.Session.create()
    import spark.implicits._

    val reps = spark.range(10).select($"id".cast("int").as("rep"))

    spark.read.parquet(s"$src/documents.parquet")
      .crossJoin(broadcast(reps))
      .select(
        ($"doc_id" + $"rep".cast("long") * stride).as("doc_id"),
        when($"rep" === 0, $"text")
          .otherwise(concat($"text", lit(" rep"), $"rep")).as("text"),
        $"lang", $"source", $"n_chars")
      .write.mode("overwrite").parquet(s"$out/documents.parquet")

    spark.read.parquet(s"$src/embeddings.parquet")
      .crossJoin(broadcast(reps))
      .select(
        ($"vec_id" + $"rep".cast("long") * stride).as("vec_id"),
        transform($"embedding", x => x + $"rep".cast("float") * lit(0.001f))
          .as("embedding"),
        $"label")
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    // Events: 10× the USER population (ids shifted per replica), so the
    // key-cardinality families (global rank, components, sessions,
    // per-user windows) scale in their real dimension; `ts` passes
    // through with whatever physical type the source has — the
    // schema-adaptive Tables.events normalizes any flavor on read.
    spark.read.parquet(s"$src/events.parquet")
      .crossJoin(broadcast(reps))
      .select(
        ($"event_id" + $"rep".cast("long") * stride * 100L).as("event_id"),
        $"ts",
        ($"user_id" + $"rep".cast("long") * stride).as("user_id"),
        $"event_type", $"value", $"props")
      .write.mode("overwrite").parquet(s"$out/events.parquet")

    // Lineitem: the two-phase-quantile key's input (q_mad_outliers).
    // The orderkey shift is stride×97 — a multiple of 97 keeps the
    // planted `%97 == 0` outlier share IDENTICAL per replica (10×
    // rows, same value distribution per group, the scaling a bigger
    // TPC-H SF would give the median/MAD machinery), and scaling with
    // `stride` keeps re-application (10× of 10×) collision-free.
    spark.read.parquet(s"$src/lineitem.parquet")
      .crossJoin(broadcast(reps))
      .select(
        ($"l_orderkey" + $"rep".cast("long") * (stride * 97L)).as("l_orderkey"),
        $"l_partkey", $"l_suppkey", $"l_linenumber", $"l_quantity",
        $"l_extendedprice", $"l_discount", $"l_tax", $"l_returnflag",
        $"l_linestatus", $"l_shipdate")
      .write.mode("overwrite").parquet(s"$out/lineitem.parquet")

    println(s"SCALE10 wrote $out: events=" +
      spark.read.parquet(s"$out/events.parquet").count() + " documents=" +
      spark.read.parquet(s"$out/documents.parquet").count() +
      " embeddings=" + spark.read.parquet(s"$out/embeddings.parquet").count())
    spark.stop()
  }
}
