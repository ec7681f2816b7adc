package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Measures what [[graft.plans.QuantizedDotRule]] is worth: the same
  * pairwise dot-product workload (the similarity-search inner loop)
  * three ways —
  *
  *   native   the registered `quantized_dot` function (what
  *            EmbeddingOps calls directly on a graft session)
  *   fused    the composed `aggregate(zip_with(...))` SQL as a user
  *            would write it, which the injected rule rewrites to the
  *            same native expression
  *   genuine  the identical SQL with the rule switched off via
  *            `spark.sql.optimizer.excludedRules` — the real HOF
  *            execution path (per-element lambda dispatch + zipped
  *            array materialization)
  *
  * `native` ≈ `fused` is the rewrite-works check; `genuine / fused`
  * is the measured speedup a stock-Spark query gets from the rule.
  * Workload: every corpus vector × a broadcast query set (default
  * 256), dims as in the embeddings table; the SUM over all dots
  * forces full evaluation and doubles as a cross-mode checksum.
  *
  * Usage: runMain graft.tools.DotProf <sfDir> [numQueries]
  */
object DotProf {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val nq = if (args.length > 1) args(1).toInt else 256
    val runs = sys.env.getOrElse("SPARK_GRAFT_RUNS", "3").toInt
    val spark = graft.Session.create()
    import spark.implicits._

    val qvec = expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))")
    val dvec = expr("transform(embedding, x -> CAST(x AS DOUBLE))")
    val corpus = spark.read.parquet(s"$dir/embeddings.parquet")
      .select($"vec_id", qvec.as("q"), dvec.as("dq")).cache()
    val queries = corpus.orderBy($"vec_id").limit(nq).select($"q".as("p"), $"dq".as("dp"))
    val pairs = corpus.crossJoin(broadcast(queries)).cache()
    println(s"DOTPROF corpus=${corpus.count()} queries=$nq dims=" +
      corpus.select(size($"q")).head().getInt(0))
    pairs.count() // materialize the cache so only the dot differs

    def excluded[A](body: => A): A = {
      val key = "spark.sql.optimizer.excludedRules"
      val prev = spark.conf.getOption(key)
      spark.conf.set(key, "graft.plans.QuantizedDotRule")
      try body
      finally prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }

    def bench(tag: String, modes: Seq[(String, () => Long)]): Unit = {
      val sums = modes.map { case (name, f) =>
        f() // warm
        val ts = (1 to runs).map { _ =>
          val t0 = System.nanoTime()
          val s = f()
          ((System.nanoTime() - t0) / 1e9, s)
        }
        println(f"DOTPROF $tag%-6s $name%-8s min=${ts.map(_._1).min}%7.3f s " +
          f"runs=${ts.map(t => f"${t._1}%.3f").mkString(",")} checksum=${ts.head._2}")
        (name, ts.head._2)
      }
      require(sums.map(_._2).distinct.size == 1,
        s"checksums diverge across $tag modes: $sums")
    }

    val composedSql =
      "aggregate(zip_with(q, p, (x, y) -> x * y), CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    def checksum(d: DataFrame): Long = d.agg(sum("d")).head().getLong(0)
    bench("bigint", Seq(
      "native" -> (() =>
        checksum(pairs.select(graft.functions.GraftFunctions.quantizedDot($"q", $"p").as("d")))),
      "fused" -> (() => checksum(pairs.select(expr(composedSql).as("d")))),
      "genuine" -> (() => excluded(checksum(pairs.select(expr(composedSql).as("d")))))))

    // double twin: same workload un-quantized. A double SUM's bits vary
    // with partial-agg association order, so the checksum rounds each
    // PER-DOT value to a fixed-point long first (deterministic per row)
    // and sums those — order-independent, still sensitive to any
    // cross-mode value drift
    val composedDblSql =
      "aggregate(zip_with(dq, dp, (x, y) -> x * y), CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    def dChecksum(d: DataFrame): Long =
      d.agg(sum(expr("CAST(round(d * 4096d) AS BIGINT)"))).head().getLong(0)
    bench("double", Seq(
      "native" -> (() =>
        dChecksum(pairs.select(graft.functions.GraftFunctions.vectorDot($"dq", $"dp").as("d")))),
      "fused" -> (() => dChecksum(pairs.select(expr(composedDblSql).as("d")))),
      "genuine" -> (() => excluded(dChecksum(pairs.select(expr(composedDblSql).as("d")))))))
    spark.stop()
  }
}
