package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Similarity-search operators over the `embeddings` table
  * (vec_id BIGINT, embedding ARRAY<FLOAT> dim 64, label INT).
  *
  * Determinism across engines: every float element is quantized
  * `floor(x * 1000)` to BIGINT up front, so dot products and squared
  * norms are exact integer arithmetic; the only floating point is the
  * final `dot / sqrt(nq * nc)` ranking value, computed from identical
  * integers in both engines (IEEE sqrt/divide are correctly rounded →
  * bit-identical). All vector math uses codegen-friendly higher-order
  * functions (`zip_with` + `aggregate`), no UDFs.
  *
  * Scale design: the brute-force path broadcasts the (tiny) query set
  * against a full scan — linear in corpus size, the right baseline.
  * The ANN paths bucket by multi-table sign-LSH FIRST and join
  * bucket-to-bucket, with TWO guards against quadratic blow-up:
  *
  *  1. `NumBands` independent band tables of `BitsPerBand` hyperplane
  *     signs each. Bits per band is the occupancy dial — expected
  *     occupancy is n / 2^bits, so production sets bits ∝ log2(n)
  *     (e.g. ~16-24 bits at 10^9-10^12 vectors) to hold mean occupancy
  *     roughly constant while the multiple tables preserve recall.
  *  2. A hard per-bucket cap (`BucketCap`): each (table, bucket) keeps
  *     only its `BucketCap` smallest vec_ids as candidates, so worst-
  *     case pair volume is bounded by buckets × cap² even under skew
  *     (a near-constant region of embedding space). The cap is NOT
  *     silent: `q_lsh_bucket_audit` reports per-table occupancy and
  *     exactly how many candidate slots the cap dropped.
  *
  * Both knobs are deterministic (axis-aligned planes, vec_id order), so
  * the DuckDB oracle reproduces candidate sets bit-for-bit. */
object EmbeddingOps {

  /** Band tables × bits: 4 tables of 8 sign bits (dims 8b..8b+7). At
    * the test SFs (≤ 2000 vectors) this yields mean occupancy ~8/bucket
    * per table; re-derive bits from log2(n) per deployment. */
  private val NumBands = 4
  private val BitsPerBand = 8
  /** Max candidate ids kept per (table, bucket), smallest-vec_id-first.
    * DialAuditSpec passes it as the cap when only bits is swept. */
  private[graft] val BucketCap = 128

  /** Quantized integer vector. */
  private val qvec: Column =
    expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))")

  /** Exact integer dot product. On a session with [[graft.functions
    * .GraftExtensions]] installed (Verify/Bench/tests do) this is the
    * native codegen'd `quantized_dot` expression — one fused multiply-
    * accumulate loop, no HOF lambda dispatch, no zipped-array
    * materialization. On a foreign session it falls back to composed
    * built-ins — which, under the extensions' injected
    * [[graft.plans.QuantizedDotRule]], the optimizer fuses into the
    * same native expression anyway. The two paths agree on EVERY
    * input (null array / ragged lengths / null element all yield
    * null on both — QuantizedDotRuleSpec holds the equivalence),
    * which is precisely what licenses that rewrite. */
  private[queries] def dot(s: SparkSession, a: String, b: String): Column =
    if (graft.functions.GraftFunctions.isRegistered(s))
      graft.functions.GraftFunctions.quantizedDot(col(a), col(b))
    else
      expr(s"aggregate(zip_with($a, $b, (x, y) -> x * y), CAST(0 AS BIGINT), (acc, v) -> acc + v)")

  /** vec_id, quantized vector `q`, exact squared norm `nsq` (the dot
    * of the vector with itself, same fast path). */
  private[queries] def vecs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "embeddings")
      .select($"vec_id", $"label", qvec.as("q"), size($"embedding").cast("long").as("dim"))
      .withColumn("nsq", dot(s, "q", "q"))
  }

  /** Per-table key-space width, derived from BitsPerBand so retuning
    * the occupancy dial can never alias band tables into each other. */
  private val TableSpan = 1L << BitsPerBand

  /** Band key for table b at an explicit bits-per-band: `bits` sign
    * bits over table b's dim slice, offset by b·2^bits so keys from
    * different tables never collide. The gate pins bits =
    * [[BitsPerBand]]; the dial audits pass re-derived values. */
  private def bandKeyAt(b: Int, bits: Int): Column =
    (0 until bits).map { i =>
      when(expr(s"q[${b * bits + i}]") >= 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _) + lit(b * (1L << bits))

  /** (vec_id, band) — one row per vector per band table, at an
    * explicit bits-per-band. */
  private def bandedAt(v: DataFrame, bits: Int): DataFrame = {
    require(bits >= 1, s"bits-per-band must be >= 1, got $bits")
    require(NumBands * bits <= 64,
      s"$NumBands band tables of $bits bits need ${NumBands * bits} dims, have 64")
    v.select(col("vec_id"),
      explode(array((0 until NumBands).map(bandKeyAt(_, bits)): _*)).as("band"))
  }

  /** (vec_id, band) at the gate-pinned [[BitsPerBand]]. */
  private def banded(v: DataFrame): DataFrame = bandedAt(v, BitsPerBand)

  /** Bands with the per-bucket candidate cap applied (shared banding
    * machinery — see [[Banding]]). */
  private def cappedBands(v: DataFrame): DataFrame =
    Banding.capBuckets(banded(v), "vec_id", BucketCap)

  /** Per-label corpus stats over the quantized vectors — proves the
    * vector column handles like any other (pruned scan, partial agg). */
  def qEmbedStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    vecs(s, dir)
      .groupBy($"label")
      .agg(count(lit(1)).as("n_vectors"),
        sum($"nsq").as("sum_sq_norm"),
        min($"nsq").as("min_sq_norm"),
        max($"nsq").as("max_sq_norm"),
        max($"dim").as("dim"))
      .orderBy($"label")
  }

  /** Brute-force cosine top-10: every vec_id % 100 == 0 is a query;
    * the query set is broadcast (~corpus/100) and each partition scores
    * its local candidates — one pass over the corpus. */
  def qKnnBrute(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val v = vecs(s, dir).select($"vec_id", $"q", $"nsq")
    val queries = v.filter($"vec_id" % 100 === 0)
      .select($"vec_id".as("qid"), $"q".as("qv"), $"nsq".as("nq"))
    val scored = v.join(broadcast(queries), $"vec_id" =!= $"qid")
      .select($"qid", $"vec_id".as("cid"),
        dot(s, "qv", "q").as("dot"), $"nq", $"nsq".as("nc"))
      .withColumn("cosine", $"dot" / sqrt(($"nq" * $"nc").cast("double")))
    val w = Window.partitionBy($"qid").orderBy($"cosine".desc, $"cid")
    scored.withColumn("rnk", row_number().over(w))
      .filter($"rnk" <= 10)
      .select($"qid", $"rnk".cast("long").as("rnk"), $"cid", $"dot", $"nq", $"nc")
      .orderBy($"qid", $"rnk")
  }

  /** Metadata-FILTERED vector search — the vector-DB "hard case": a
    * predicate on vector metadata must compose with top-k, and the
    * composition order is semantics, not implementation detail.
    * PRE-filter is the correct contract (restrict the candidate set,
    * THEN rank: post-filtering a top-k shortlist returns fewer than k
    * results whenever the filter is selective, silently) and the gate
    * pins it: per query, top-5 cosine among vectors whose label class
    * matches the query's target class (a closed form of qid, so the
    * oracle replays membership). Scale shape: the predicate lands on
    * the corpus side BEFORE any dot product — selectivity cuts
    * compute proportionally — and composes unchanged with the
    * bucketed candidate sources (probe-time filter on q_ann_lsh /
    * q_ivf_ann's candidate joins). */
  def qAnnFiltered(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val v = vecs(s, dir).select($"vec_id", $"label", $"q", $"nsq")
    val queries = v.filter($"vec_id" % 100 === 0)
      .select($"vec_id".as("qid"), $"q".as("qv"), $"nsq".as("nq"),
        ($"vec_id" % 4).as("want"))
    val scored = v.join(broadcast(queries),
        $"vec_id" =!= $"qid" && $"label" % 4 === $"want")
      .select($"qid", $"vec_id".as("cid"),
        dot(s, "qv", "q").as("dot"), $"nq", $"nsq".as("nc"))
      .withColumn("cosine", $"dot" / sqrt(($"nq" * $"nc").cast("double")))
    val w = Window.partitionBy($"qid").orderBy($"cosine".desc, $"cid")
    scored.withColumn("rnk", row_number().over(w))
      .filter($"rnk" <= 5)
      .select($"qid", $"rnk".cast("long").as("rnk"), $"cid", $"dot", $"nq", $"nc")
      .orderBy($"qid", $"rnk")
  }

  /** Bucketed ANN: candidates = corpus vectors sharing ANY band bucket
    * with the query (union over the band tables, deduped), capped per
    * bucket; exact cosine re-rank, top-5 per query. The only shuffles
    * are the band-key hash join and the vec_id joins that re-attach
    * vectors to the deduped candidate pairs — candidate volume scales
    * with (buckets × cap²), never corpus². */
  def qAnnLsh(s: SparkSession, dir: String): DataFrame =
    annLshAt(s, dir, BitsPerBand, BucketCap)

  /** [[qAnnLsh]] at an explicit (bits, cap) — the same plan with the
    * occupancy dial exposed, so recall-vs-sizing at any corpus scale is
    * a measurement ([[annRecallSummaryAt]], SCALE.md 100×), not
    * prose. The gate query delegates here with the pinned constants. */
  private[graft] def annLshAt(s: SparkSession, dir: String,
                              bits: Int, cap: Int): DataFrame = {
    import s.implicits._
    val v = vecs(s, dir).select($"vec_id", $"q", $"nsq")
    val queries = v.filter($"vec_id" % 100 === 0)
      .select($"vec_id".as("qid"), $"q".as("qv"), $"nsq".as("nq"))
    val qBands = bandedAt(v, bits).filter($"vec_id" % 100 === 0)
      .select($"vec_id".as("qid"), $"band")
    val cand = qBands.join(Banding.capBuckets(bandedAt(v, bits), "vec_id", cap), Seq("band"))
      .filter($"vec_id" =!= $"qid")
      .select($"qid", $"vec_id".as("cid"))
      .distinct()
    val scored = cand
      .join(broadcast(queries), Seq("qid"))
      .join(v, $"vec_id" === $"cid")
      .select($"qid", $"cid", dot(s, "qv", "q").as("dot"), $"nq", $"nsq".as("nc"))
      .withColumn("cosine", $"dot" / sqrt(($"nq" * $"nc").cast("double")))
    val w = Window.partitionBy($"qid").orderBy($"cosine".desc, $"cid")
    scored.withColumn("rnk", row_number().over(w))
      .filter($"rnk" <= 5)
      .select($"qid", $"rnk".cast("long").as("rnk"), $"cid", $"dot")
      .orderBy($"qid", $"rnk")
  }

  /** Embedding-cosine near-duplicate pairs: ALL within-bucket pairs
    * across the band tables (deduped), capped per bucket, exact cosine
    * >= 0.4 — the embedding-space analogue of MinHash dedup. Pairs are
    * expanded bucket-locally from the capped id list (collect_set is
    * bounded by BucketCap, so aggregation state is O(cap) per bucket),
    * then vectors are re-attached by vec_id join. The threshold is
    * calibrated to this corpus (max pairwise cosine ~0.51 — no injected
    * duplicates, so "near-dup" here means the closest natural pairs). */
  def qEmbedNearDup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    embedNearDupScored(s, dir)
      .select($"va", $"vb", $"dot", $"na", $"nb")
      .orderBy($"va", $"vb")
  }

  /** The verified embedding near-dup pair set (cosine ≥ 0.4 over the
    * banded candidates) — one definition shared by the gated
    * [[qEmbedNearDup]] and cross-signal consumers
    * ([[CurationOps.qDedupAgreement]]), so two keys can never disagree
    * about what an embedding near-dup is. */
  private[queries] def embedNearDupScored(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val v = vecs(s, dir).select($"vec_id", $"q", $"nsq")
    val pairs = Banding.bucketPairs(cappedBands(v), "vec_id", "va", "vb")
    pairs
      .join(v.as("a"), $"a.vec_id" === $"va")
      .join(v.as("b"), $"b.vec_id" === $"vb")
      .select($"va", $"vb", dot(s, "a.q", "b.q").as("dot"),
        $"a.nsq".as("na"), $"b.nsq".as("nb"))
      .withColumn("cosine", $"dot" / sqrt(($"na" * $"nb").cast("double")))
      .filter($"cosine" >= 0.4)
  }

  /** IVF ANN — the centroid-cell variant of the scale path. "Training"
    * is deterministic: the 16 vectors with vec_id < 16 are the
    * centroids (a real deployment k-means-trains them offline; the
    * assignment/search plan is identical). Every vector is assigned to
    * its max-dot centroid in ONE broadcast pass (nlist dots per row,
    * linear in the corpus — the broadcast nested loop over the 16-row
    * centroid table is intentional, like q_knn_brute's); queries probe
    * only their own cell, capped like the LSH buckets. Production
    * sizing: nlist ∝ √n keeps cells ~√n; with the cap the worst cell
    * is bounded regardless. */
  def qIvfAnn(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val v = vecs(s, dir).select($"vec_id", $"q", $"nsq")
    val cells = ivfCells(s, dir)
    val capped = Banding.capBuckets(cells, "vec_id", BucketCap, bucketCol = "cell")
    val queries = v.filter($"vec_id" % 100 === 0)
      .select($"vec_id".as("qid"), $"q".as("qv"), $"nsq".as("nq"))
    val qCells = cells.filter($"vec_id" % 100 === 0)
      .select($"vec_id".as("qid"), $"cell")
    val cand = qCells.join(capped, Seq("cell"))
      .filter($"vec_id" =!= $"qid")
      .select($"qid", $"vec_id".as("cid"))
    val scored = cand
      .join(broadcast(queries), Seq("qid"))
      .join(v, $"vec_id" === $"cid")
      .select($"qid", $"cid", dot(s, "qv", "q").as("dot"), $"nq", $"nsq".as("nc"))
      .withColumn("cosine", $"dot" / sqrt(($"nq" * $"nc").cast("double")))
    val w = Window.partitionBy($"qid").orderBy($"cosine".desc, $"cid")
    scored.withColumn("rnk", row_number().over(w))
      .filter($"rnk" <= 3)
      .select($"qid", $"rnk".cast("long").as("rnk"), $"cid", $"dot")
      .orderBy($"qid", $"rnk")
  }

  /** The untrained-centroid IVF cell assignment (vec_id, cell): max
    * dot against the 16 vec_id < 16 centroids, ties to the smallest
    * centroid id — one broadcast pass, linear in the corpus. Shared by
    * [[qIvfAnn]] and the IVF×PQ composition ([[PqOps.qIvfPqAnn]]) so
    * the two paths can never disagree about what a cell is. */
  private[queries] def ivfCells(s: SparkSession, dir: String): DataFrame =
    ivfCellsOf(s, vecs(s, dir).select(col("vec_id"), col("q")))

  /** [[ivfCells]] over an arbitrary (vec_id, q) frame — the coarse
    * assignment is corpus-agnostic (PqOps runs it over the synthetic
    * mixture-of-Gaussians corpus as well as the real embeddings). */
  private[queries] def ivfCellsOf(s: SparkSession, v: DataFrame): DataFrame = {
    import s.implicits._
    val cents = v.filter($"vec_id" < 16).select($"vec_id".as("ccid"), $"q".as("cq"))
    v.crossJoin(broadcast(cents))
      .select($"vec_id", $"ccid", dot(s, "cq", "q").as("cdot"))
      .groupBy($"vec_id")
      .agg(max_by($"ccid", struct($"cdot", -$"ccid")).as("cell"))
  }

  /** Cap audit: per band table, bucket count, occupancy extremes, and
    * exactly how many candidate slots the BucketCap drops — "no silent
    * caps": truncation is a first-class, oracle-checked output. */
  def qLshBucketAudit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    banded(vecs(s, dir)).groupBy($"band")
      .agg(count(lit(1)).as("occ"))
      .groupBy(expr(s"band DIV $TableSpan").as("band_table"))
      .agg(count(lit(1)).as("n_buckets"),
        sum($"occ").as("n_vectors"),
        max($"occ").as("max_occupancy"),
        sum(greatest($"occ" - BucketCap, lit(0L))).as("dropped"))
      .orderBy($"band_table")
  }

  /** The occupancy DIAL as a runnable code path, not prose: the same
    * sign-LSH banding at an explicit `bits` (the gate pins
    * [[BitsPerBand]]; production re-derives bits ∝ log₂ n to hold
    * mean occupancy constant as the corpus grows). Returns the
    * per-band-table audit — bucket count, occupancy mean/max, and how
    * many candidate slots a `cap` would drop — so re-sizing claims are
    * MEASURED at any corpus scale (SCALE.md; DialAuditSpec pins the
    * accounting). */
  private[graft] def bandOccupancyAt(s: SparkSession, dir: String, bits: Int,
                                     cap: Int = BucketCap): DataFrame = {
    import s.implicits._
    val span = 1L << bits
    bandedAt(vecs(s, dir), bits)
      .groupBy($"band").agg(count(lit(1)).as("occ"))
      .groupBy(expr(s"band DIV $span").as("band_table"))
      .agg(count(lit(1)).as("n_buckets"),
        sum($"occ").as("n_vectors"),
        round(sum($"occ") / count(lit(1)), 1).as("mean_occupancy"),
        max($"occ").as("max_occupancy"),
        sum(greatest($"occ" - cap, lit(0L))).as("dropped"))
      .orderBy($"band_table")
  }

  /** The IVF cell-count dial, same contract as [[bandOccupancyAt]]:
    * assignment at an explicit `nlist` (gate pins 16), one audit row —
    * cell count, occupancy mean/max, slots a `cap` would drop. The two
    * production rules it lets you measure against each other:
    * nlist ∝ √n (balances assignment dots n·nlist vs per-query probe
    * work n/nlist — the classical IVF speed point) and nlist ∝ n/cap
    * (holds cell size at the cap, drops ≈ 0). */
  private[graft] def ivfOccupancyAt(s: SparkSession, dir: String, nlist: Int,
                                    cap: Int = BucketCap): DataFrame = {
    import s.implicits._
    val v = vecs(s, dir).select($"vec_id", $"q")
    val cents = v.filter($"vec_id" < nlist).select($"vec_id".as("ccid"), $"q".as("cq"))
    val cells = v.crossJoin(broadcast(cents))
      .select($"vec_id", $"ccid", dot(s, "cq", "q").as("cdot"))
      .groupBy($"vec_id")
      .agg(max_by($"ccid", struct($"cdot", -$"ccid")).as("cell"))
    cells.groupBy($"cell").agg(count(lit(1)).as("occ"))
      .agg(lit(nlist).as("nlist"),
        count(lit(1)).as("n_cells"),
        sum($"occ").as("n_vectors"),
        round(sum($"occ") / count(lit(1)), 1).as("mean_occupancy"),
        max($"occ").as("max_occupancy"),
        sum(greatest($"occ" - cap, lit(0L))).as("dropped"))
  }

  /** [[ivfOccupancyAt]] with TRAINED centroids: the same audit over
    * the cells of [[kmeansFinalAssign]] run at k = nlist, so the
    * "untrained first-n centroids cost X% residual drops" attribution
    * in SCALE.md is measured, not argued — trained centroids relocate
    * into dense regions and split them, which is what separates the
    * IVF sizing rule (nlist ∝ n/cap) from the skew backstop (the cap).
    * Assignment is k-means' min-d² rather than max-dot — the occupancy
    * question (how many vectors per cell) is metric-agnostic. */
  private[graft] def ivfOccupancyTrainedAt(s: SparkSession, dir: String, nlist: Int,
                                           cap: Int = BucketCap): DataFrame = {
    import s.implicits._
    kmeansFinalAssign(s, dir, nlist)
      .groupBy($"cid").agg(count(lit(1)).as("occ"))
      .agg(lit(nlist).as("nlist"),
        count(lit(1)).as("n_cells"),
        sum($"occ").as("n_vectors"),
        round(sum($"occ") / count(lit(1)), 1).as("mean_occupancy"),
        max($"occ").as("max_occupancy"),
        sum(greatest($"occ" - cap, lit(0L))).as("dropped"))
  }

  /** ANN quality audit: recall@k of an approximate path against the
    * brute-force ground truth, per query vector, in integer basis
    * points — the "is the approximation good enough" number that must
    * ship next to any ANN index (a deployment re-runs it on every
    * index rebuild and alerts on regression). Re-runs both pipelines
    * (deliberate recompute-over-cache, same policy as the dedup
    * funnel) and joins their bounded outputs; the audit itself adds
    * only a top-k-sized join + one tiny agg. One definition serves
    * both audited paths so the two recall metrics can never drift. */
  private def recallAudit(s: SparkSession, dir: String, truthK: Int,
                          approx: DataFrame): DataFrame = {
    import s.implicits._
    val truth = qKnnBrute(s, dir).filter($"rnk" <= truthK).select($"qid", $"cid")
    truth
      .join(approx.select($"qid".as("aqid"), $"cid".as("acid")),
        $"qid" === $"aqid" && $"cid" === $"acid", "left")
      .groupBy($"qid")
      .agg(count(lit(1)).as("n_truth"), count($"acid").as("n_hits"))
      .select($"qid", $"n_truth", $"n_hits",
        expr("(10000 * n_hits) DIV n_truth").as("recall_bp"))
      .orderBy($"qid")
  }

  /** Corpus-level recall@5 of the sign-LSH path at an explicit
    * (bits, cap): [[recallAudit]] over [[annLshAt]], collapsed to one
    * summary row — recall-vs-sizing next to the occupancy audits at
    * any corpus scale, the measured counterpart of "bits ∝ log₂ n". */
  private[graft] def annRecallSummaryAt(s: SparkSession, dir: String,
                                        bits: Int, cap: Int): DataFrame = {
    import s.implicits._
    recallAudit(s, dir, truthK = 5, approx = annLshAt(s, dir, bits, cap))
      .agg(count(lit(1)).as("n_queries"),
        avg($"recall_bp").cast("long").as("mean_recall_bp"),
        min($"recall_bp").as("min_recall_bp"))
  }

  /** Random-projection (Johnson–Lindenstrauss) recall@5 — the third
    * axis of ANN cost, measured like the other two: IVF/LSH bound how
    * many candidates a query SCORES, PQ/SQ bound the BYTES a candidate
    * costs, and RP bounds the DIMENSIONS each score touches. The
    * corpus projects once through a deterministic ±1 sign matrix
    * (Achlioptas 2003's database-friendly JL variant; sign(j, d) =
    * md5-parity of the (j, d) label, so both engines regenerate the
    * matrix bit-for-bit — at scale it is 16×64 literal metadata, here
    * one broadcast row) and queries rank candidates by the 16-dim
    * projected inner product (E[⟨Px, Py⟩] = dims·⟨x, y⟩, so ranking
    * is scale-free), audited against the same exact 64-dim
    * max-inner-product truth and rollup as the quantizer recalls —
    * the three families read as one cost/recall menu. Integer-exact
    * end to end. */
  def qRpRecall(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val dims = 16
    val v = vecs(s, dir).select($"vec_id", $"q")
    // The sign matrix as ONE broadcast row: sg[j][d] ∈ {−1, +1} from
    // the md5 parity of the (j, d) label — index metadata, like the
    // SQ8 range arrays and the PQ codebooks.
    val signs = s.range(1).select(expr(
      s"""transform(sequence(1, $dims), j ->
         |  transform(sequence(1, 64), d ->
         |    CASE WHEN conv(substring(md5(concat('rp', CAST(j AS STRING), '_',
         |                                       CAST(d AS STRING))), 1, 1), 16, 10) % 2 = 0
         |         THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END))""".stripMargin).as("sg"))
    val pv = v.crossJoin(broadcast(signs))
      .select($"vec_id", expr(
        s"""transform(sequence(1, $dims), j ->
           |  aggregate(zip_with(q, element_at(sg, j), (x, sgn) -> x * sgn),
           |            CAST(0 AS BIGINT), (acc, t) -> acc + t))""".stripMargin).as("p"))
    val queries = pv.filter($"vec_id" % 100 === 0)
      .select($"vec_id".as("qid"), $"p".as("qp"))
    val scored = pv.join(broadcast(queries), $"vec_id" =!= $"qid")
      .select($"qid", $"vec_id".as("cid"), dot(s, "qp", "p").as("pdot"))
    val w = Window.partitionBy($"qid").orderBy($"pdot".desc, $"cid")
    val rpTop = scored.withColumn("rnk", row_number().over(w))
      .filter($"rnk" <= 5).select($"qid", $"cid")
    PqOps.dotTruthTopK(s, dir, 5)
      .join(rpTop.select($"qid".as("aqid"), $"cid".as("acid")),
        $"qid" === $"aqid" && $"cid" === $"acid", "left")
      .groupBy($"qid")
      .agg(count(lit(1)).as("n_truth"), count($"acid").as("n_hits"))
      .select($"qid", $"n_truth", $"n_hits",
        expr("(10000 * n_hits) DIV n_truth").as("recall_bp"))
      .orderBy($"qid")
  }

  /** Recall@5 of the sign-LSH path. */
  def qAnnRecall(s: SparkSession, dir: String): DataFrame =
    recallAudit(s, dir, truthK = 5, approx = qAnnLsh(s, dir))

  /** Recall@3 of the IVF path. */
  def qIvfRecall(s: SparkSession, dir: String): DataFrame =
    recallAudit(s, dir, truthK = 3, approx = qIvfAnn(s, dir))

  /** Cross-modal near-dup audit: every TEXT-verified near-dup pair
    * (minhash + exact-Jaccard, [[TextOps.qMinhashPairs]]) annotated
    * with its EMBEDDING-space agreement (integer dot + norms). The two
    * signals come from independent pipelines over independent columns,
    * so their agreement calibrates how aggressively either can be
    * trusted alone — and DISAGREEMENT is the finding: on this corpus
    * the embeddings do not separate the injected text duplicates from
    * background pairs (max natural cosine ≈ 0.5), exactly what this
    * audit exists to surface before anyone dedups 100 TB on embeddings
    * alone. Scale shape: the pair set is the (duplicate-density-sized)
    * minhash output; attaching vectors is two vec_id equi-joins. The
    * oracle nests the minhash oracle verbatim, like the recall audits. */
  def qNeardupXmodal(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pairs = TextOps.nearDupPairs(s, dir)
      .select($"doc_a", $"doc_b", $"inter", $"uni")
    val v = vecs(s, dir).select($"vec_id", $"q", $"nsq")
    pairs
      .join(v.as("xa"), $"xa.vec_id" === $"doc_a")
      .join(v.as("xb"), $"xb.vec_id" === $"doc_b")
      .select($"doc_a", $"doc_b", $"inter", $"uni",
        dot(s, "xa.q", "xb.q").as("dot"),
        $"xa.nsq".as("na"), $"xb.nsq".as("nb"))
      .orderBy($"doc_a", $"doc_b")
  }

  /** Distributed k-means (2 Lloyd rounds, k=8) over the quantized
    * embeddings — the clustering step of semantic curation pipelines
    * (SemDeDup-style cluster-then-prune, diversity balancing). Every
    * arithmetic step is EXACT: integer squared distances expand to
    * nsq − 2·dot + cnsq on the codegen'd quantized dot, ties break to
    * the smallest centroid id, and centroid means are floor(sum/count)
    * computed in IEEE double by both engines (sums stay ≤2^53, so the
    * division is exact) — which is what makes a cross-engine oracle for
    * an ML TRAINING loop possible at all. Plan shape: assignment is a
    * broadcast over the k-row centroid table (intentional, like IVF's);
    * the update is posexplode → partial-agg (cid, pos) sums — k×dim
    * groups regardless of corpus size — and the k×dim means fold back
    * to arrays. The fixed 2-round count is part of the spec (production
    * iterates to a movement threshold); per-cluster inertia (exact
    * integer) is reported so convergence quality is itself oracle-
    * checked. Init = the k lowest vec_ids, deterministic (production:
    * k-means|| sampling). The quantized corpus is re-scanned per Lloyd
    * pass here (~6 pruned scans for 2 rounds) because each pass is
    * pushdown-cheap at demo scale; production iterating more rounds
    * persists the working set once across rounds — exactly what MLlib's
    * KMeans does — trading one materialization for per-round scans. */
  def qKmeansClusters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    kmeansFinalAssign(s, dir)
      .groupBy($"cid".as("cluster_id"))
      .agg(count(lit(1)).as("n_vectors"), sum($"vec_id").as("sum_vec_ids"),
        sum($"d2").as("inertia"))
      .orderBy($"cluster_id")
  }

  /** The 2-round Lloyd machinery: returns the final-round assignment
    * (vec_id, cid, d2, q, nsq) for [[qKmeansClusters]]'s rollup and
    * [[qSemanticDedup]]'s within-cluster prune. `k` is the cell-count
    * dial (gate queries pin k=8 to match their oracles, and
    * [[ivfOccupancyTrainedAt]] runs k = nlist; production sizes k ∝ n
    * to hold cell size — and therefore SemDeDup's within-cell pair
    * volume per row — constant; SCALE.md measured that at 10×). */
  private[graft] def kmeansFinalAssign(s: SparkSession, dir: String,
                                       k: Int = 8): DataFrame = {
    import s.implicits._
    val v = vecs(s, dir).select($"vec_id", $"q", $"nsq")
    val c0 = v.filter($"vec_id" < k)
      .select($"vec_id".as("cid"), $"q".as("cq"), $"nsq".as("cnsq"))
    def assign(cents: DataFrame): DataFrame =
      v.crossJoin(broadcast(cents))
        .select($"vec_id", $"q", $"nsq", $"cid",
          ($"nsq" - lit(2L) * dot(s, "q", "cq") + $"cnsq").as("d2"))
        .groupBy($"vec_id")
        .agg(min_by(struct($"cid", $"d2", $"q", $"nsq"), struct($"d2", $"cid")).as("a"))
        .select($"vec_id", $"a.cid".as("cid"), $"a.d2".as("d2"),
          $"a.q".as("q"), $"a.nsq".as("nsq"))
    val c1 = assign(c0)
      .select($"cid", posexplode($"q").as(Seq("pos", "val")))
      .groupBy($"cid", $"pos")
      .agg(floor(sum($"val").cast("double") / count(lit(1))).cast("long").as("m"))
      .groupBy($"cid")
      .agg(transform(array_sort(collect_list(struct($"pos", $"m"))),
        _.getField("m")).as("cq"))
      .withColumn("cnsq", dot(s, "cq", "cq"))
    assign(c1)
  }

  /** SemDeDup: cluster-then-prune semantic deduplication — k-means
    * cells bound the pairwise stage, then every within-cluster pair
    * above the cosine threshold drops its larger vec_id (deterministic
    * keep-the-minimum greedy). The quadratic blowup that makes naive
    * embedding dedup impossible at 100 TB is contained BY CONSTRUCTION:
    * pairs exist only inside a cell, and production sizes k ∝ n to
    * hold cells at a constant target size, so total pair work is
    * linear in the corpus. Per-cluster accounting (total/dropped/kept
    * + kept-id sum) is the oracle surface; the oracle replays the full
    * composition — both Lloyd rounds, the pairwise cosines, the greedy
    * drop — nested verbatim over the same tables. */
  def qSemanticDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // The assignment feeds THREE consumers (both self-join sides + the
    // final membership join); without materialization each one replans
    // the whole 2-round Lloyd pipeline (measured: 13 parquet scans, 9
    // broadcast joins at sf0.01). localCheckpoint runs it once — the
    // same recompute-vs-materialize call as q_dedup_clusters' loop,
    // and the frame is embedding-table-sized, so the write is bounded
    // by the input it replaces.
    // k = 8, pinned to the oracle's Lloyd replay
    val a2 = kmeansFinalAssign(s, dir).select($"vec_id", $"cid", $"q", $"nsq")
      .localCheckpoint()
    val pairs = a2.as("a").join(a2.as("b"),
        $"a.cid" === $"b.cid" && $"a.vec_id" < $"b.vec_id")
      .select($"a.cid".as("cid"), $"b.vec_id".as("vb"),
        dot(s, "a.q", "b.q").as("dot"),
        $"a.nsq".as("na"), $"b.nsq".as("nb"))
      .filter($"dot" / sqrt(($"na" * $"nb").cast("double")) >= 0.4)
    val drops = pairs.select($"cid", $"vb".as("vec_id")).distinct()
    a2.join(drops.withColumn("dropped", lit(1)), Seq("cid", "vec_id"), "left")
      .groupBy($"cid".as("cluster_id"))
      .agg(count(lit(1)).as("n_vectors"),
        count($"dropped").as("n_dropped"),
        (count(lit(1)) - count($"dropped")).as("n_kept"),
        sum(when($"dropped".isNull, $"vec_id").otherwise(lit(0L))).as("sum_kept_ids"))
      .orderBy($"cluster_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_kmeans_clusters" -> qKmeansClusters,
    "q_semantic_dedup" -> qSemanticDedup,
    "q_neardup_xmodal" -> qNeardupXmodal,
    "q_embed_stats" -> qEmbedStats,
    "q_knn_brute" -> qKnnBrute,
    "q_ann_filtered" -> qAnnFiltered,
    "q_ann_lsh" -> qAnnLsh,
    "q_ivf_ann" -> qIvfAnn,
    "q_embed_neardup" -> qEmbedNearDup,
    "q_lsh_bucket_audit" -> qLshBucketAudit,
    "q_ann_recall" -> qAnnRecall,
    "q_ivf_recall" -> qIvfRecall,
    "q_rp_recall" -> qRpRecall,
  )

  private[queries] val qvecSql =
    "list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))"

  /** DuckDB 1-based: band-b bit i ⟷ q[8b+i+1]. */
  private def bandSqlFor(b: Int): String =
    (0 until BitsPerBand)
      .map(i => s"(CASE WHEN q[${b * BitsPerBand + i + 1}] >= 0 THEN ${1L << i} ELSE 0 END)")
      .mkString(" + ") + s" + ${b * TableSpan}"

  /** Banding/capping oracle SQL parameterized by the source CTE name —
    * one body serving both the bare-named CTE chain (the per-key
    * oracles below) and [[embedPairsCteSql]]'s e-prefixed namespace,
    * so the capping rule can never fork between them. */
  private def bandsSqlFrom(src: String): String = (0 until NumBands)
    .map(b => s"SELECT vec_id, ${bandSqlFor(b)} AS band FROM $src")
    .mkString(" UNION ALL ")

  private def cappedSqlFrom(src: String): String =
    s"""SELECT vec_id, band FROM (
       |  SELECT vec_id, band, row_number() OVER (PARTITION BY band ORDER BY vec_id) AS rn
       |  FROM $src) WHERE rn <= $BucketCap""".stripMargin

  private val bandsSql = bandsSqlFrom("v")
  private val cappedSql = cappedSqlFrom("bands")

  /** The embedding near-dup pipeline as reusable oracle CTEs in an
    * `e`-prefixed namespace — safe to combine in one WITH clause with
    * the minhash CTEs (which own the bare bands/capped/cand names).
    * `escored` is the verified pair set, threshold included — the
    * oracle twin of [[embedNearDupScored]], shared by the
    * q_embed_neardup and q_dedup_agreement oracles so they can never
    * drift. */
  private[queries] val embedPairsCteSql: String =
    s"""ev AS (SELECT vec_id, $qvecSql AS q FROM embeddings),
       |en AS (SELECT vec_id, CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS nsq FROM ev),
       |ebands AS (${bandsSqlFrom("ev")}),
       |ecapped AS (${cappedSqlFrom("ebands")}),
       |ecand AS (SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb
       |          FROM ecapped a JOIN ecapped b ON b.band = a.band AND b.vec_id > a.vec_id),
       |eterms AS (
       |  SELECT ecand.va, ecand.vb, unnest(av.q) AS x, unnest(bv.q) AS y
       |  FROM ecand JOIN ev av ON av.vec_id = ecand.va
       |             JOIN ev bv ON bv.vec_id = ecand.vb),
       |edots AS (SELECT va, vb, CAST(sum(x * y) AS BIGINT) AS dot FROM eterms GROUP BY va, vb),
       |escored AS (
       |  SELECT va, vb, dot, na.nsq AS na, nb.nsq AS nb
       |  FROM edots JOIN en na ON na.vec_id = va JOIN en nb ON nb.vec_id = vb
       |  WHERE CAST(dot AS DOUBLE) / sqrt(CAST(na.nsq * nb.nsq AS DOUBLE)) >= 0.4)""".stripMargin

  /** One recall-oracle template, instantiated per audited path: nests
    * the brute/approx oracles verbatim as subqueries (each keeps its
    * own WITH scope), so the audit can never disagree with the audited
    * queries about their results, and the two instantiations can never
    * drift from each other. */
  private def recallOracle(truthK: Int, approxSql: String): String =
    s"""SELECT t.qid, count(*) AS n_truth, count(a.cid) AS n_hits,
       |  CAST((10000 * count(a.cid)) // count(*) AS BIGINT) AS recall_bp
       |FROM (SELECT * FROM (${baseOracles("q_knn_brute")}) WHERE rnk <= $truthK) t
       |LEFT JOIN ($approxSql) a
       |  ON a.qid = t.qid AND a.cid = t.cid
       |GROUP BY t.qid ORDER BY t.qid""".stripMargin

  val oracles: Map[String, String] = baseOracles ++ Map(
    // Nests the minhash oracle verbatim (recall-audit pattern), then
    // replays the quantized dot/norm arithmetic per surviving pair.
    "q_neardup_xmodal" ->
      s"""WITH mh AS (${TextOps.oracles("q_minhash_pairs")}),
         |v AS (SELECT vec_id, $qvecSql AS q FROM embeddings),
         |n AS (SELECT vec_id, CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS nsq FROM v),
         |terms AS (
         |  SELECT mh.doc_a, mh.doc_b, mh.inter, mh.uni, unnest(av.q) AS x, unnest(bv.q) AS y
         |  FROM mh JOIN v av ON av.vec_id = mh.doc_a
         |          JOIN v bv ON bv.vec_id = mh.doc_b),
         |dots AS (
         |  SELECT doc_a, doc_b, inter, uni, CAST(sum(x * y) AS BIGINT) AS dot
         |  FROM terms GROUP BY 1, 2, 3, 4)
         |SELECT d.doc_a, d.doc_b, d.inter, d.uni, d.dot,
         |  na.nsq AS na, nb.nsq AS nb
         |FROM dots d JOIN n na ON na.vec_id = d.doc_a
         |            JOIN n nb ON nb.vec_id = d.doc_b
         |ORDER BY d.doc_a, d.doc_b""".stripMargin,
    "q_ann_recall" -> recallOracle(5, baseOracles("q_ann_lsh")),
    "q_ivf_recall" -> recallOracle(3, baseOracles("q_ivf_ann")),
    // RP replayed in full: the md5-parity sign matrix, the projection,
    // the projected-dot ranking, and the identical exact-dot truth and
    // rollup as the quantizer recall audits.
    "q_rp_recall" ->
      s"""WITH v AS (SELECT vec_id, $qvecSql AS q FROM embeddings),
         |sg AS (SELECT list_transform(generate_series(1, 16), j ->
         |         list_transform(generate_series(1, 64), d ->
         |           CASE WHEN CAST('0x' || substring(md5('rp' || CAST(j AS VARCHAR)
         |                    || '_' || CAST(d AS VARCHAR)), 1, 1) AS BIGINT) % 2 = 0
         |                THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END)) AS sg),
         |pv AS (SELECT vec_id, list_transform(generate_series(1, 16), j ->
         |         list_reduce(list_prepend(CAST(0 AS BIGINT),
         |           list_transform(generate_series(1, 64), d -> q[d] * sg[j][d])),
         |           (acc, t) -> acc + t)) AS p
         |       FROM v, sg),
         |terms AS (SELECT qv.vec_id AS qid, cv.vec_id AS cid,
         |            unnest(qv.p) AS a, unnest(cv.p) AS b
         |          FROM pv qv JOIN pv cv ON cv.vec_id <> qv.vec_id
         |          WHERE qv.vec_id % 100 = 0),
         |dots AS (SELECT qid, cid, CAST(sum(a*b) AS BIGINT) AS pdot FROM terms GROUP BY 1, 2),
         |rp AS (SELECT qid, cid FROM (
         |    SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY pdot DESC, cid) AS rnk
         |    FROM dots) WHERE rnk <= 5)
         |SELECT t.qid, count(*) AS n_truth, count(a.cid) AS n_hits,
         |  CAST((10000 * count(a.cid)) // count(*) AS BIGINT) AS recall_bp
         |FROM (${PqOps.dotTruthSql}) t
         |LEFT JOIN rp a ON a.qid = t.qid AND a.cid = t.cid
         |GROUP BY t.qid ORDER BY t.qid""".stripMargin)

  /** Both Lloyd rounds as reusable CTEs (ending in `a2`, the final
    * assignment) — shared verbatim between the k-means oracle and the
    * SemDeDup oracle so the two can never disagree about what a
    * cluster is. Zipped unnests give the integer squared distances,
    * floor(sum/count)-in-double gives the identical centroid means. */
  private lazy val kmeansA2Cte: String =
    s"""v AS (SELECT vec_id, $qvecSql AS q FROM embeddings),
       |c0 AS (SELECT vec_id AS cid, q AS cq FROM v WHERE vec_id < 8),
       |t1 AS (SELECT v.vec_id, c0.cid, unnest(v.q) AS a, unnest(c0.cq) AS b FROM v, c0),
       |d1 AS (SELECT vec_id, cid, sum((a - b) * (a - b)) AS d2 FROM t1 GROUP BY 1, 2),
       |a1 AS (SELECT vec_id, cid FROM (
       |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
       |    FROM d1) WHERE rn = 1),
       |u1 AS (SELECT a1.cid, generate_subscripts(v.q, 1) AS pos, unnest(v.q) AS val
       |       FROM a1 JOIN v USING (vec_id)),
       |m1 AS (SELECT cid, pos, CAST(floor(CAST(sum(val) AS DOUBLE) / count(*)) AS BIGINT) AS m
       |       FROM u1 GROUP BY 1, 2),
       |c1 AS (SELECT cid, list(m ORDER BY pos) AS cq FROM m1 GROUP BY cid),
       |t2 AS (SELECT v.vec_id, c1.cid, unnest(v.q) AS a, unnest(c1.cq) AS b FROM v, c1),
       |d2r AS (SELECT vec_id, cid, sum((a - b) * (a - b)) AS d2 FROM t2 GROUP BY 1, 2),
       |a2 AS (SELECT vec_id, cid, d2 FROM (
       |    SELECT vec_id, cid, d2, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
       |    FROM d2r) WHERE rn = 1)""".stripMargin

  private lazy val baseOracles: Map[String, String] = Map(
    // Two exact Lloyd rounds replayed in SQL; per-cluster inertia pins
    // the training loop's numeric trajectory, not just the final sizes.
    "q_kmeans_clusters" ->
      s"""WITH $kmeansA2Cte
         |SELECT cid AS cluster_id, count(*) AS n_vectors,
         |  CAST(sum(vec_id) AS BIGINT) AS sum_vec_ids,
         |  CAST(sum(d2) AS BIGINT) AS inertia
         |FROM a2 GROUP BY 1 ORDER BY 1""".stripMargin,
    // The full SemDeDup composition: the SAME two Lloyd rounds, then
    // within-cluster pairwise cosines and the greedy larger-id drop.
    "q_semantic_dedup" ->
      s"""WITH $kmeansA2Cte,
         |nsq AS (SELECT vec_id, CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS nsq FROM v),
         |pp AS (SELECT a.cid, a.vec_id AS va, b.vec_id AS vb
         |       FROM a2 a JOIN a2 b ON a.cid = b.cid AND a.vec_id < b.vec_id),
         |pd_t AS (SELECT pp.cid, pp.va, pp.vb, unnest(x.q) AS xa, unnest(y.q) AS xb
         |         FROM pp JOIN v x ON x.vec_id = pp.va JOIN v y ON y.vec_id = pp.vb),
         |pd AS (SELECT cid, va, vb, sum(xa * xb) AS dot FROM pd_t GROUP BY 1, 2, 3),
         |nd AS (SELECT pd.cid, pd.vb FROM pd
         |       JOIN nsq na ON na.vec_id = pd.va
         |       JOIN nsq nb ON nb.vec_id = pd.vb
         |       WHERE CAST(dot AS DOUBLE) / sqrt(CAST(na.nsq * nb.nsq AS DOUBLE)) >= 0.4),
         |drops AS (SELECT DISTINCT cid, vb AS vec_id FROM nd)
         |SELECT a2.cid AS cluster_id, count(*) AS n_vectors,
         |  count(d.vec_id) AS n_dropped,
         |  count(*) - count(d.vec_id) AS n_kept,
         |  CAST(sum(CASE WHEN d.vec_id IS NULL THEN a2.vec_id ELSE 0 END) AS BIGINT) AS sum_kept_ids
         |FROM a2 LEFT JOIN drops d ON d.cid = a2.cid AND d.vec_id = a2.vec_id
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_embed_stats" ->
      s"""WITH per AS (
         |  SELECT label, len(embedding) AS dim,
         |    CAST(list_sum(list_transform($qvecSql, v -> v * v)) AS BIGINT) AS nsq
         |  FROM embeddings)
         |SELECT label, count(*) AS n_vectors, CAST(sum(nsq) AS BIGINT) AS sum_sq_norm,
         |  min(nsq) AS min_sq_norm, max(nsq) AS max_sq_norm, max(dim) AS dim
         |FROM per GROUP BY label ORDER BY label""".stripMargin,
    // DuckDB zips parallel unnests in one SELECT, giving exact integer
    // dot products; ranking mirrors the Spark window exactly.
    "q_knn_brute" ->
      s"""WITH v AS (SELECT vec_id, $qvecSql AS q FROM embeddings),
         |n AS (SELECT vec_id, CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS nsq FROM v),
         |terms AS (
         |  SELECT qv.vec_id AS qid, cv.vec_id AS cid,
         |         unnest(qv.q) AS a, unnest(cv.q) AS b
         |  FROM v qv JOIN v cv ON cv.vec_id <> qv.vec_id
         |  WHERE qv.vec_id % 100 = 0),
         |dots AS (SELECT qid, cid, CAST(sum(a * b) AS BIGINT) AS dot FROM terms GROUP BY qid, cid),
         |scored AS (
         |  SELECT qid, cid, dot, nq.nsq AS nq, nc.nsq AS nc,
         |    CAST(dot AS DOUBLE) / sqrt(CAST(nq.nsq * nc.nsq AS DOUBLE)) AS cosine
         |  FROM dots JOIN n nq ON nq.vec_id = qid JOIN n nc ON nc.vec_id = cid),
         |ranked AS (SELECT qid, cid, dot, nq, nc,
         |    row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, cid) AS rnk
         |  FROM scored)
         |SELECT qid, rnk, cid, dot, nq, nc FROM ranked WHERE rnk <= 10
         |ORDER BY qid, rnk""".stripMargin,
    // the same brute chain with the class predicate applied BEFORE
    // ranking — pre-filter semantics pinned.
    "q_ann_filtered" ->
      s"""WITH v AS (SELECT vec_id, label, $qvecSql AS q FROM embeddings),
         |n AS (SELECT vec_id, CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS nsq FROM v),
         |terms AS (
         |  SELECT qv.vec_id AS qid, cv.vec_id AS cid,
         |         unnest(qv.q) AS a, unnest(cv.q) AS b
         |  FROM v qv JOIN v cv
         |    ON cv.vec_id <> qv.vec_id AND cv.label % 4 = qv.vec_id % 4
         |  WHERE qv.vec_id % 100 = 0),
         |dots AS (SELECT qid, cid, CAST(sum(a * b) AS BIGINT) AS dot FROM terms GROUP BY qid, cid),
         |scored AS (
         |  SELECT qid, cid, dot, nq.nsq AS nq, nc.nsq AS nc,
         |    CAST(dot AS DOUBLE) / sqrt(CAST(nq.nsq * nc.nsq AS DOUBLE)) AS cosine
         |  FROM dots JOIN n nq ON nq.vec_id = qid JOIN n nc ON nc.vec_id = cid),
         |ranked AS (SELECT qid, cid, dot, nq, nc,
         |    row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, cid) AS rnk
         |  FROM scored)
         |SELECT qid, rnk, cid, dot, nq, nc FROM ranked WHERE rnk <= 5
         |ORDER BY qid, rnk""".stripMargin,
    "q_ann_lsh" ->
      s"""WITH v AS (SELECT vec_id, $qvecSql AS q FROM embeddings),
         |n AS (SELECT vec_id, CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS nsq FROM v),
         |bands AS ($bandsSql),
         |capped AS ($cappedSql),
         |qb AS (SELECT vec_id AS qid, band FROM bands WHERE vec_id % 100 = 0),
         |cand AS (SELECT DISTINCT qb.qid, c.vec_id AS cid
         |         FROM qb JOIN capped c ON c.band = qb.band AND c.vec_id <> qb.qid),
         |terms AS (
         |  SELECT cand.qid, cand.cid, unnest(qv.q) AS a, unnest(cv.q) AS b
         |  FROM cand JOIN v qv ON qv.vec_id = cand.qid
         |            JOIN v cv ON cv.vec_id = cand.cid),
         |dots AS (SELECT qid, cid, CAST(sum(a * b) AS BIGINT) AS dot FROM terms GROUP BY qid, cid),
         |scored AS (
         |  SELECT qid, cid, dot,
         |    CAST(dot AS DOUBLE) / sqrt(CAST(nq.nsq * nc.nsq AS DOUBLE)) AS cosine
         |  FROM dots JOIN n nq ON nq.vec_id = qid JOIN n nc ON nc.vec_id = cid),
         |ranked AS (SELECT qid, cid, dot,
         |    row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, cid) AS rnk
         |  FROM scored)
         |SELECT qid, rnk, cid, dot FROM ranked WHERE rnk <= 5
         |ORDER BY qid, rnk""".stripMargin,
    "q_embed_neardup" ->
      s"""WITH $embedPairsCteSql
         |SELECT va, vb, dot, na, nb FROM escored
         |ORDER BY va, vb""".stripMargin,
    "q_ivf_ann" ->
      s"""WITH v AS (SELECT vec_id, $qvecSql AS q FROM embeddings),
         |n AS (SELECT vec_id, CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS nsq FROM v),
         |c AS (SELECT vec_id AS ccid, q AS cq FROM v WHERE vec_id < 16),
         |cd_terms AS (SELECT v.vec_id, c.ccid, unnest(v.q) AS a, unnest(c.cq) AS b FROM v, c),
         |cdots AS (SELECT vec_id, ccid, sum(a * b) AS cdot FROM cd_terms GROUP BY vec_id, ccid),
         |cells AS (SELECT vec_id, ccid AS cell FROM (
         |  SELECT vec_id, ccid,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY cdot DESC, ccid) AS rn
         |  FROM cdots) WHERE rn = 1),
         |capped AS (SELECT vec_id, cell FROM (
         |  SELECT vec_id, cell, row_number() OVER (PARTITION BY cell ORDER BY vec_id) AS rn
         |  FROM cells) WHERE rn <= 128),
         |qs AS (SELECT vec_id AS qid, cell FROM cells WHERE vec_id % 100 = 0),
         |cand AS (SELECT qs.qid, c2.vec_id AS cid
         |         FROM qs JOIN capped c2 ON c2.cell = qs.cell AND c2.vec_id <> qs.qid),
         |terms AS (
         |  SELECT cand.qid, cand.cid, unnest(qv.q) AS a, unnest(cv.q) AS b
         |  FROM cand JOIN v qv ON qv.vec_id = cand.qid
         |            JOIN v cv ON cv.vec_id = cand.cid),
         |dots AS (SELECT qid, cid, CAST(sum(a * b) AS BIGINT) AS dot FROM terms GROUP BY qid, cid),
         |scored AS (
         |  SELECT qid, cid, dot,
         |    CAST(dot AS DOUBLE) / sqrt(CAST(nq.nsq * nc.nsq AS DOUBLE)) AS cosine
         |  FROM dots JOIN n nq ON nq.vec_id = qid JOIN n nc ON nc.vec_id = cid),
         |ranked AS (SELECT qid, cid, dot,
         |    row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, cid) AS rnk
         |  FROM scored)
         |SELECT qid, rnk, cid, dot FROM ranked WHERE rnk <= 3
         |ORDER BY qid, rnk""".stripMargin,
    "q_lsh_bucket_audit" ->
      s"""WITH v AS (SELECT vec_id, $qvecSql AS q FROM embeddings),
         |bands AS ($bandsSql),
         |occ AS (SELECT band, count(*) AS occ FROM bands GROUP BY band)
         |SELECT CAST(band // $TableSpan AS BIGINT) AS band_table, count(*) AS n_buckets,
         |  CAST(sum(occ) AS BIGINT) AS n_vectors, max(occ) AS max_occupancy,
         |  CAST(sum(CASE WHEN occ > $BucketCap THEN occ - $BucketCap ELSE 0 END) AS BIGINT) AS dropped
         |FROM occ GROUP BY 1 ORDER BY 1""".stripMargin,
  )
}
