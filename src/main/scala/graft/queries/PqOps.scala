package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import EmbeddingOps.{dot, qvecSql, vecs}

/** Product quantization (PQ) — the memory half of the ANN scale story.
  *
  * The IVF/LSH families bound how many candidates a query SCORES; PQ
  * bounds what scoring a candidate COSTS and what the index STORES. The
  * 64-dim vector splits into [[M]] subvectors of [[SubDim]] dims; each
  * subspace trains its own [[Ks]]-centroid codebook (one exact Lloyd
  * round here, same init/tie/floor-mean discipline as
  * [[EmbeddingOps.kmeansFinalAssign]]); a vector is then M code ids —
  * at Ks=16, 8 codes of 4 bits = 4 BYTES against 256 bytes of float32,
  * a 64× compression. That is what turns a 100 TB embedding corpus
  * into a ~1.6 TB scan that fits a modest cluster's page cache.
  *
  * Query-time scoring is ADC (asymmetric distance computation): the
  * query stays full-precision, a per-query lookup table of
  * M × Ks partial dots is built against the codebooks (tiny — it costs
  * one dot per codebook entry), and every candidate's approximate dot
  * is M table lookups instead of a 64-dim multiply-accumulate. The
  * corpus-side scan never touches a vector — only codes.
  *
  * Determinism across engines (the oracle replays the FULL composition
  * — training, encoding, LUT, ADC, ranking): all arithmetic is exact
  * integers over the [[EmbeddingOps]] quantized vectors; assignment
  * ties break to the smallest centroid id; centroid means are
  * floor(sum/count) in IEEE double (sums ≤ 2^53 → exact); an empty
  * cluster keeps its previous centroid (the textbook Lloyd rule — and
  * what keeps every codebook at exactly Ks entries, which the ADC
  * gather indexes by). Init centroids are the subvectors of
  * vec_id < Ks — the same contract as IVF's vec_id < 16 and k-means'
  * vec_id < 8 (corpus ids are contiguous from 0; production uses
  * k-means|| sampling per subspace offline).
  *
  * Scale shape: training/encoding is the k-means plan per subspace —
  * broadcast codebook joins, partial-agg means, M × Ks groups
  * regardless of corpus size. The ADC scan is one broadcast of the
  * (query, LUT) rows against the codes table — linear in corpus ×
  * queries with O(M) work per pair, no shuffle until the top-k window
  * on qid. At production scale PQ composes with IVF (scan only the
  * probed cell's codes); here it scans the full code table so the
  * recall audit isolates PQ's own quantization loss. */
object PqOps {

  /** Subspace count × dims per subspace = 64 (the embedding dim). */
  private val M = 8
  private val SubDim = 8
  /** Codebook entries per subspace: 4-bit codes. Production sizing is
    * Ks=256 (byte codes) with bigger training samples; Ks=16 keeps the
    * demo corpus (≥500 vectors) ~31 training vectors per centroid. */
  private val Ks = 16

  /** One row per (vector, subspace): the quantized subvector and its
    * exact squared norm (reused across every assignment join). `base`
    * is any (vec_id, q) frame — the raw quantized vectors for plain
    * PQ, cell-relative residuals for the IVFADC variant. */
  private def subRowsOf(s: SparkSession, base: DataFrame): DataFrame =
    base.select(col("vec_id"), explode(array((0 until M).map(m =>
        struct(lit(m.toLong).as("m"),
          expr(s"slice(q, ${m * SubDim + 1}, $SubDim)").as("sub"))): _*)).as("e"))
      .select(col("vec_id"), col("e.m").as("m"), col("e.sub").as("sub"))
      .withColumn("snsq", dot(s, "sub", "sub"))

  private def subRows(s: SparkSession, dir: String): DataFrame =
    subRowsOf(s, vecs(s, dir).select(col("vec_id"), col("q")))

  /** Nearest-codebook-entry assignment: d² = ‖sub‖² − 2·sub·cq + ‖cq‖²
    * on the fused integer dot, ties to the smallest cid; the subvector
    * rides through min_by so the update step needs no second join.
    * Returns (vec_id, m, code, d2, sub). */
  private def assign(s: SparkSession, sub: DataFrame, cents: DataFrame): DataFrame =
    sub.join(broadcast(cents), Seq("m"))
      .select(col("vec_id"), col("m"), col("sub"), col("cid"),
        (col("snsq") - lit(2L) * dot(s, "sub", "cq") + col("cnsq")).as("d2"))
      .groupBy(col("vec_id"), col("m"))
      .agg(min_by(struct(col("cid"), col("d2"), col("sub")),
        struct(col("d2"), col("cid"))).as("a"))
      .select(col("vec_id"), col("m"), col("a.cid").as("code"),
        col("a.d2").as("d2"), col("a.sub").as("sub"))

  /** The trained codebooks (m, cid, cq, cnsq) and the final encoding
    * (vec_id, m, code, d2): init from vec_id < Ks, one exact Lloyd
    * update (assign → floor-mean → re-assign), empty clusters keep
    * their previous centroid. */
  private def trainEncode(s: SparkSession, dir: String): (DataFrame, DataFrame) =
    trainEncodeOf(s, subRows(s, dir))

  /** [[trainEncode]] over an arbitrary subvector frame (raw for plain
    * PQ, residual for IVFADC). `initLo`: codebook init uses the
    * subvectors of vec_id ∈ [initLo, initLo + Ks), cid = vec_id −
    * initLo (dense 0..Ks−1, which the ADC gather indexes by). The raw
    * path inits at 0; the RESIDUAL path inits at 16 because vectors
    * 0..15 are the coarse centroids themselves — their residuals are
    * ≈ zero vectors, a degenerate all-ties init. */
  private def trainEncodeOf(s: SparkSession, sub: DataFrame,
                            initLo: Int = 0, ks: Int = Ks): (DataFrame, DataFrame) = {
    val c0 = sub.filter(col("vec_id") >= initLo && col("vec_id") < initLo + ks)
      .select(col("m"), (col("vec_id") - initLo).as("cid"), col("sub").as("cq"))
      .withColumn("cnsq", dot(s, "cq", "cq"))
    val a1 = assign(s, sub, c0)
    val means = a1.select(col("m"), col("code").as("cid"),
        posexplode(col("sub")).as(Seq("pos", "v")))
      .groupBy(col("m"), col("cid"), col("pos"))
      .agg(floor(sum(col("v")).cast("double") / count(lit(1))).cast("long").as("mv"))
      .groupBy(col("m"), col("cid"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("mv")))),
        _.getField("mv")).as("ncq"))
    val c1 = c0.join(means, Seq("m", "cid"), "left")
      .select(col("m"), col("cid"), coalesce(col("ncq"), col("cq")).as("cq"))
      .withColumn("cnsq", dot(s, "cq", "cq"))
    // The trained codebooks feed every downstream consumer (encoding
    // pass, per-query LUT — two plan branches in each ANN key), and a
    // lazy c1 replays the whole training chain per branch. Codebooks
    // are index METADATA — M × Ks = 128 rows — so do what a production
    // index does: materialize them once and ship them (collect + local
    // relation; the bounded-driver-scalar exception, like rankPhase2's
    // ≤P-row first()). An eager localCheckpoint was measured WORSE
    // than either (q_pq_distortion 0.89 → 9.3 s — the checkpoint job
    // runs outside AQE and pays per-stage task overhead).
    val c1Local = s.createDataFrame(
      java.util.Arrays.asList(c1.collect(): _*), c1.schema)
    (c1Local,
      assign(s, sub, c1Local).select(col("vec_id"), col("m"), col("code"), col("d2")))
  }

  /** Once-per-JVM staged PQ INDEX (marker-gated, a pure function of
    * the SF dir — the deterministic training chain written to scratch
    * parquet exactly once per variant): the trained codebooks and the
    * full code table, READ by every serving-surface key. Production PQ
    * is built offline once and served many times — FAISS writes the
    * codebook + packed codes to an index file and queries mmap it —
    * so the index BUILD is the per-call-measured subject of exactly
    * the keys that audit it (q_pq_distortion, q_pq_incremental,
    * q_pq_mog_residual keep their own fresh chains), while the
    * SERVING keys (q_pq_ann, q_pq_rerank, q_pq_recall, the IVF×PQ
    * pair) measure the scan they are actually about. Same staging
    * discipline as [[graft.streaming.StreamingOps]]'s profile
    * checkpoint: prep runs once in warmup, results are bit-identical
    * (the artifact is the same chain's output), and the pid-scoped
    * [[Scratch]] root means Verify, tests, and every matrix cell
    * stage their own copy under their own session conf. */
  private def stagedIndex(s: SparkSession, dir: String,
                          variant: String = "raw"): (DataFrame, DataFrame) = {
    val base = Scratch.staged(s"pq_index_$variant", dir) { b =>
      val (c1, enc) = variant match {
        case "raw" => trainEncode(s, dir)
        case "residual" => trainEncodeOf(s, subRowsOf(s,
          residualBaseFrom(s, dir, EmbeddingOps.ivfCells(s, dir))), initLo = 16)
      }
      c1.write.mode("overwrite").parquet(s"$b/codebook")
      enc.write.mode("overwrite").parquet(s"$b/codes")
    }
    val c1r = s.read.parquet(s"$base/codebook")
    (s.createDataFrame(java.util.Arrays.asList(c1r.collect(): _*), c1r.schema),
      s.read.parquet(s"$base/codes"))
  }

  /** Quantization-loss audit, the PQ twin of q_lsh_bucket_audit's "no
    * silent caps": per subspace, how many codebook entries the corpus
    * actually uses and the exact total/max residual d² the codes carry
    * — the number that must ship with any PQ index (compression is
    * only as honest as its measured distortion). */
  def qPqDistortion(s: SparkSession, dir: String): DataFrame = {
    val (_, codes) = trainEncode(s, dir)
    codes.groupBy(col("m").as("subspace"))
      .agg(count(lit(1)).as("n_vectors"),
        countDistinct(col("code")).as("n_codes_used"),
        sum(col("d2")).as("total_d2"),
        max(col("d2")).as("max_d2"))
      .orderBy(col("subspace"))
  }

  /** PQ-ADC top-5 by approximate inner product: per query, a LUT of
    * M × Ks partial dots folds to an array-of-arrays (row m sorted by
    * cid — dense 0..Ks−1, so code+1 indexes it); the corpus scan is
    * codes ⨯ broadcast(query LUTs) with an M-lookup gather per pair.
    * Self-matches excluded; ties break to the smaller cid. */
  def qPqAnn(s: SparkSession, dir: String): DataFrame = adcTopK(s, dir, 5)

  /** (vec_id, code) — the encoding folded to one M-long code array per
    * vector, ordered by subspace. */
  private def codesOf(enc: DataFrame): DataFrame =
    enc.groupBy(col("vec_id"))
      .agg(transform(array_sort(collect_list(struct(col("m"), col("code")))),
        _.getField("code")).as("code"))

  /** Per-query ADC lookup tables: (qid, lut) where lut[m][cid+1] is the
    * exact dot of the query's m-th subvector with codebook entry cid —
    * M × Ks dots per query, the whole table a few hundred integers. */
  private def lutFor(s: SparkSession, dir: String, c1: DataFrame): DataFrame =
    subRows(s, dir).filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"), col("m"), col("sub").as("qsub"))
      .join(broadcast(c1), Seq("m"))
      .select(col("qid"), col("m"), col("cid"), dot(s, "qsub", "cq").as("pdot"))
      .groupBy(col("qid"), col("m"))
      .agg(transform(array_sort(collect_list(struct(col("cid"), col("pdot")))),
        _.getField("pdot")).as("lrow"))
      .groupBy(col("qid"))
      .agg(transform(array_sort(collect_list(struct(col("m"), col("lrow")))),
        _.getField("lrow")).as("lut"))

  /** The M-lookup ADC gather over a (code, lut) pair — the native
    * codegen'd [[graft.functions.PqGather]] when the session has
    * GraftExtensions (one fused loop of array reads and adds per
    * candidate), the composed HOF form on a foreign session (same
    * results on the valid domain — PqGatherSpec pins the agreement;
    * measured 9.6× apart at the 10× corpus, SCALE.md). */
  private def adcGather(s: SparkSession): org.apache.spark.sql.Column =
    if (graft.functions.GraftFunctions.pqGatherRegistered(s))
      graft.functions.GraftFunctions.pqGather(col("lut"), col("code"))
    else
      expr("aggregate(zip_with(lut, code, (l, c) -> element_at(l, CAST(c + 1 AS INT))), " +
        "CAST(0 AS BIGINT), (acc, x) -> acc + x)")

  /** The flat ADC scan at an explicit k over GIVEN codebooks/encoding
    * — one definition serves the gate, the re-rank shortlist, and the
    * sizing dial, so the scan a measurement runs can never drift from
    * the scan the gate ships. */
  private def adcTopKFrom(s: SparkSession, dir: String, k: Int,
                          c1: DataFrame, enc: DataFrame): DataFrame = {
    val scored = codesOf(enc).join(broadcast(lutFor(s, dir, c1)),
        col("vec_id") =!= col("qid"))
      .withColumn("adc", adcGather(s))
    val w = Window.partitionBy(col("qid")).orderBy(col("adc").desc, col("vec_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("rnk").cast("long").as("rnk"),
        col("vec_id").as("cid"), col("adc"))
      .orderBy(col("qid"), col("rnk"))
  }

  /** The ADC scan at an explicit k — the gate pins k=5; the re-rank
    * path widens to a k=20 shortlist. */
  private def adcTopK(s: SparkSession, dir: String, k: Int): DataFrame = {
    val (c1, enc) = stagedIndex(s, dir)
    adcTopKFrom(s, dir, k, c1, enc)
  }

  /** Exact max-inner-product top-k per query — the truth the recall
    * audits and the dial both rank against. */
  private[queries] def dotTruthTopK(s: SparkSession, dir: String, k: Int): DataFrame = {
    val v = vecs(s, dir).select(col("vec_id"), col("q"))
    val queries = v.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"), col("q").as("qv"))
    val scored = v.join(broadcast(queries), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("cid"), dot(s, "qv", "q").as("dot"))
    val w = Window.partitionBy(col("qid")).orderBy(col("dot").desc, col("cid"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k).select(col("qid"), col("cid"))
  }

  /** Shortlist-then-re-rank — how production actually deploys PQ: the
    * compressed scan nominates a k=20 shortlist per query (cheap — M
    * lookups per candidate over a 64×-smaller table), then ONLY the
    * shortlist pays for full-precision vectors and exact dots. Final
    * ranking is the exact integer dot, so any truth vector the
    * shortlist contains lands in its exact position — the recall gap
    * between this and q_pq_ann is pure shortlist-miss, the number that
    * sizes k. Scale shape: the re-rank joins are shortlist-sized
    * (queries × 20), never corpus-sized. */
  def qPqRerank(s: SparkSession, dir: String): DataFrame = {
    val v = vecs(s, dir).select(col("vec_id"), col("q"))
    val queries = v.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"), col("q").as("qv"))
    val short = adcTopK(s, dir, 20).select(col("qid"), col("cid"))
    val exact = short
      .join(broadcast(queries), Seq("qid"))
      .join(v, col("vec_id") === col("cid"))
      .select(col("qid"), col("cid"), dot(s, "qv", "q").as("dot"))
    val w = Window.partitionBy(col("qid")).orderBy(col("dot").desc, col("cid"))
    exact.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .select(col("qid"), col("rnk").cast("long").as("rnk"), col("cid"), col("dot"))
      .orderBy(col("qid"), col("rnk"))
  }

  /** IVF×PQ — the composition that survives 100 TB: the cell index
    * bounds how many candidates a query SCORES (its own capped cell,
    * ≤ 128 here), PQ bounds what each candidate COSTS (M lookups over
    * 4-bit codes), and the exact re-rank restores precision on the
    * shortlist. Per-query work is O(cap · M) + O(shortlist · dim) —
    * independent of corpus size — while flat ADC (q_pq_ann) is
    * O(corpus · M) per query; this is the FAISS-style IVFADC layout,
    * minus residual encoding (codes quantize raw vectors, not
    * cell-relative residuals — a documented simplification; the
    * index/scan/re-rank plan is identical). Cells come from
    * [[EmbeddingOps.ivfCells]] verbatim, so q_ivf_ann and this key can
    * never disagree about the coarse index. Output mirrors q_ivf_ann's
    * top-3, ranked by exact re-ranked dot. */
  def qIvfPqAnn(s: SparkSession, dir: String): DataFrame = {
    val cells = EmbeddingOps.ivfCells(s, dir)
    val (c1, enc) = stagedIndex(s, dir)
    cellAdcRerank(s, dir, cells, c1, enc)
  }

  /** The capped-cell ADC scan + shortlist + exact re-rank shared by
    * BOTH IVF×PQ variants — one definition, so a tie-break, cap,
    * shortlist, or re-rank change can never diverge them (the same
    * reason the coarse cells come from one [[EmbeddingOps.ivfCells]]).
    * Only the (codebooks, encoding) pair differs between the raw and
    * residual keys. */
  private def cellAdcRerank(s: SparkSession, dir: String, cells: DataFrame,
                            c1: DataFrame, enc: DataFrame): DataFrame = {
    val v = vecs(s, dir).select(col("vec_id"), col("q"))
    // Same cap constant as q_ivf_ann's capped cells — shared so a
    // BucketCap change can never desync the IVF×PQ keys from q_ivf_ann
    // (the oracles interpolate the same constant).
    val capped = Banding.capBuckets(cells, "vec_id", EmbeddingOps.BucketCap,
      bucketCol = "cell")
    val qCells = cells.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"), col("cell"))
    val cand = qCells.join(capped, Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("cid"))
    val scored = cand
      .join(codesOf(enc).withColumnRenamed("vec_id", "cid"), Seq("cid"))
      .join(broadcast(lutFor(s, dir, c1)), Seq("qid"))
      .withColumn("adc", adcGather(s))
    val ws = Window.partitionBy(col("qid")).orderBy(col("adc").desc, col("cid"))
    val short = scored.withColumn("rn", row_number().over(ws))
      .filter(col("rn") <= 10).select(col("qid"), col("cid"))
    val queries = v.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"), col("q").as("qv"))
    val exact = short
      .join(broadcast(queries), Seq("qid"))
      .join(v, col("vec_id") === col("cid"))
      .select(col("qid"), col("cid"), dot(s, "qv", "q").as("dot"))
    val w = Window.partitionBy(col("qid")).orderBy(col("dot").desc, col("cid"))
    exact.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("qid"), col("rnk").cast("long").as("rnk"), col("cid"), col("dot"))
      .orderBy(col("qid"), col("rnk"))
  }

  /** Frozen-codebook incremental encoding — how PQ ingests: codebooks
    * train on the ARCHIVE (the first 80% of the id range — ids arrive
    * in order, the q_tws_initial cutover shape) and NEW vectors encode
    * against them unchanged; retraining is an offline event, not an
    * ingest step. The audit per subspace: archive vs new counts and
    * distortions, and `drift_bp` — the per-vector distortion of new
    * data relative to the archive's, in basis points. ~10000 means the
    * frozen codebooks fit new data as well as what they trained on;
    * sustained growth is codebook STALENESS, the number a production
    * pipeline alerts on to schedule retraining. Integer-exact
    * throughout; the cutoff is a bounded driver scalar (one max()),
    * like rankPhase2's. */
  def qPqIncremental(s: SparkSession, dir: String): DataFrame = {
    val v = vecs(s, dir).select(col("vec_id"), col("q"))
    val cutoff = v.agg(expr("max(vec_id) * 4 DIV 5").as("c")).collect()(0).getLong(0)
    val sub = subRowsOf(s, v)
    val (c1, encA) = trainEncodeOf(s, sub.filter(col("vec_id") < cutoff))
    val encN = assign(s, sub.filter(col("vec_id") >= cutoff), c1)
    def roll(e: DataFrame, nCol: String, dCol: String) =
      e.groupBy(col("m")).agg(count(lit(1)).as(nCol), sum(col("d2")).as(dCol))
    roll(encA, "n_archive", "d2_archive")
      .join(roll(encN, "n_new", "d2_new"), Seq("m"))
      .select(col("m").as("subspace"), col("n_archive"), col("n_new"),
        col("d2_archive"), col("d2_new"),
        // nullif guards the perfectly-encoded-archive corner (d2=0 on a
        // degenerate corpus): NULL drift, not an ANSI divide-by-zero;
        // the oracle mirrors the same guard.
        expr("(10000 * d2_new * n_archive) DIV nullif(d2_archive * n_new, 0)").as("drift_bp"))
      .orderBy(col("subspace"))
  }

  /** (vec_id, q) where q is the CELL-RELATIVE RESIDUAL: the vector
    * minus its coarse centroid. Integer subtraction on the quantized
    * vectors — exact, oracle-replayable. */
  private def residualBase(s: SparkSession, dir: String): DataFrame =
    residualBaseFrom(s, dir, EmbeddingOps.ivfCells(s, dir))

  /** [[residualBase]] over a caller-held cell assignment, so a caller
    * that already computed cells doesn't replay the assignment pass. */
  private def residualBaseFrom(s: SparkSession, dir: String,
                               cells: DataFrame): DataFrame =
    residualBaseOf(vecs(s, dir).select(col("vec_id"), col("q")), cells)

  /** The residual subtraction over an arbitrary (vec_id, q) frame —
    * corpus-agnostic like [[EmbeddingOps.ivfCellsOf]]. */
  private def residualBaseOf(v: DataFrame, cells: DataFrame): DataFrame = {
    val cents = v.filter(col("vec_id") < 16)
      .select(col("vec_id").as("ccid"), col("q").as("ccq"))
    v.join(cells, Seq("vec_id"))
      .join(broadcast(cents), col("cell") === col("ccid"))
      .select(col("vec_id"), expr("zip_with(q, ccq, (x, y) -> x - y)").as("q"))
  }

  /** Deterministic MIXTURE-OF-GAUSSIANS corpus over the SAME vec_id
    * set as the embeddings table: 16 well-separated integer centers
    * (coordinates in ±1000) plus small per-vector noise (±30), both
    * pure integer arithmetic — Knuth multiplicative mixing mod a small
    * range — so DuckDB regenerates the corpus verbatim from the same
    * formula. Cluster of vector i is i % 16, so the IVF init
    * convention (coarse centroids = vectors 0..15) seeds exactly one
    * init vector per true cluster. This is the corpus where residual
    * encoding SHOULD pay: the center explains ~99.8% of per-dim
    * energy, so x − c(cell(x)) concentrates near zero and the 4-bit
    * code budget spends on a ~500× smaller signal. The noise input
    * reduces vec_id mod 1000003 BEFORE the Knuth multiply — the
    * unreduced product overflows Long past vec_id ≈ 5.4e7 (caught as
    * an ANSI error on the 10× scale replica; ids at 100 TB are far
    * beyond it), and the reduction keeps every intermediate below
    * 1.8e17 at ANY id. */
  private def mogVecs(s: SparkSession, dir: String): DataFrame =
    vecs(s, dir).select(col("vec_id"))
      .withColumn("q", expr(
        "transform(sequence(0, 63), d -> CAST(" +
          "(((vec_id % 16) * 64 + d + 1) * 2654435761) % 2001 - 1000 + " +
          "(((vec_id % 1000003) * 64 + d + 7919) * 2654435761) % 61 - 30 AS BIGINT))"))

  /** The same formula in DuckDB's spelling (list_transform/range). */
  private val MogQDuck: String =
    "list_transform(range(0, 64), d -> CAST(" +
      "(((vec_id % 16) * 64 + d + 1) * 2654435761) % 2001 - 1000 + " +
      "(((vec_id % 1000003) * 64 + d + 7919) * 2654435761) % 61 - 30 AS BIGINT))"

  /** Residual-vs-raw on the CLUSTERABLE corpus ([[mogVecs]]) — the
    * deployment-verdict twin of q_ivfpq_residual's audit. On the
    * near-random demo embeddings the coarse quantizer explains almost
    * nothing and residual encoding measures 1.35–1.4× WORSE than raw
    * (PqOpsSpec pins it); FAISS folklore says it flips on clustered
    * data, and this key PROVES the flip with the same machinery: per
    * subspace, raw-encoding vs residual-encoding total distortion and
    * their ratio in basis points (gain_bp ≪ 10000 = residual wins).
    * Same single Lloyd round, same init discipline (raw inits at 0,
    * residual at 16 past the degenerate self-residual centroids), and
    * the oracle replays the full composition — corpus generation,
    * coarse assignment, residual subtraction, both training chains —
    * in DuckDB. */
  def qPqMogResidual(s: SparkSession, dir: String): DataFrame = {
    val v = mogVecs(s, dir)
    val rawEnc = trainEncodeOf(s, subRowsOf(s, v))._2
    val cells = EmbeddingOps.ivfCellsOf(s, v)
    val resEnc = trainEncodeOf(s, subRowsOf(s, residualBaseOf(v, cells)),
      initLo = 16)._2
    def roll(e: DataFrame, dCol: String) =
      e.groupBy(col("m")).agg(sum(col("d2")).as(dCol))
    roll(rawEnc, "d2_raw").join(roll(resEnc, "d2_residual"), Seq("m"))
      .select(col("m").as("subspace"), col("d2_raw"), col("d2_residual"),
        expr("(10000 * d2_residual) DIV nullif(d2_raw, 0)").as("gain_bp"))
      .orderBy(col("subspace"))
  }

  /** True IVFADC — [[qIvfPqAnn]] with RESIDUAL encoding, the layout
    * FAISS actually ships: codes quantize x − c(cell(x)), not x. On
    * CLUSTERED data residuals concentrate near zero (the coarse
    * centroid explains most of the vector) and the 4-bit budget spends
    * on a smaller signal; on THIS near-random corpus the coarse
    * quantizer explains almost nothing (assigned cosines ≈ 0.2–0.5)
    * and the measured residual distortion is 1.35–1.4× the raw-vector
    * distortion — the deployment-deciding fact [[encDistortion]]
    * exists to surface, and PqOpsSpec pins it (the audit, not the
    * folklore, says whether residual encoding pays on a given
    * corpus). Scoring inside a cell: approx q·x̂ = q·c + q·r̂, and the
    * q·c term is CONSTANT across a cell's candidates (every candidate
    * shares the query's cell), so ranking needs only the residual
    * gather — the LUT is the query's RAW subvectors against the
    * residual codebooks. Shortlist → exact re-rank as before; output
    * mirrors q_ivfpq_ann (top-3 by exact dot). */
  def qIvfPqResidual(s: SparkSession, dir: String): DataFrame = {
    val cells = EmbeddingOps.ivfCells(s, dir)
    val (c1, enc) = stagedIndex(s, dir, "residual")
    cellAdcRerank(s, dir, cells, c1, enc)
  }

  /** Total quantization distortion of an encoding — the spec's
    * residual-vs-raw comparison surface. */
  private[graft] def encDistortion(s: SparkSession, dir: String,
                                   residual: Boolean): DataFrame = {
    val base = if (residual) residualBase(s, dir)
               else vecs(s, dir).select(col("vec_id"), col("q"))
    trainEncodeOf(s, subRowsOf(s, base), initLo = if (residual) 16 else 0)._2
      .agg(sum(col("d2")).as("total_d2"))
  }

  /** Recall@5 of PQ-ADC against the EXACT max-inner-product truth
    * (ADC approximates the dot, so the truth ranks by dot — the
    * cosine-truth audits live with the LSH/IVF paths). Same
    * recompute-and-join audit shape as [[EmbeddingOps.qAnnRecall]]. */
  def qPqRecall(s: SparkSession, dir: String): DataFrame =
    dotTruthTopK(s, dir, 5)
      .join(qPqAnn(s, dir).select(col("qid").as("aqid"), col("cid").as("acid")),
        col("qid") === col("aqid") && col("cid") === col("acid"), "left")
      .groupBy(col("qid"))
      .agg(count(lit(1)).as("n_truth"), count(col("acid")).as("n_hits"))
      .select(col("qid"), col("n_truth"), col("n_hits"),
        expr("(10000 * n_hits) DIV n_truth").as("recall_bp"))
      .orderBy(col("qid"))

  /** Scalar quantization (SQ8) recall@5 — PQ's sibling quantizer and
    * the other deployment option a 100 TB embedding store weighs. Each
    * dimension is quantized INDEPENDENTLY to 8 bits against the
    * corpus's per-dim [min, max] range: code_d = (x_d − min_d)·255 DIV
    * span_d, reconstructed as min_d + (code_d·span_d) DIV 255. 64 dims
    * × 1 byte = 64 B/vector (4× vs float32) against PQ's 4 B (64×) —
    * SQ8 spends 16× PQ's memory to keep per-dim resolution, and this
    * audit measures what that buys: recall against the same exact
    * max-inner-product truth as [[qPqRecall]], same query set, same
    * rollup, so the two keys ARE the memory/recall trade read
    * side-by-side (SCALE.md records the pair).
    *
    * Determinism: all arithmetic is integer over the quantized
    * vectors; (x−min) ≥ 0 by construction so DIV (truncating) equals
    * DuckDB's // (flooring) everywhere it runs; a constant dimension
    * (span 0) reconstructs exactly as min via the nullif/coalesce
    * guard — no ANSI divide-by-zero. The per-dim stats are one
    * 64-group partial-agg rollup collapsed to two broadcast arrays
    * (array_sort on (d, stat) structs pins element order under any
    * partitioning); scoring is the same asymmetric broadcast-queries
    * scan as the brute/ADC baselines — exact query against
    * reconstructed corpus, one corpus pass, no shuffle until the
    * top-k window. */
  def qSq8Recall(s: SparkSession, dir: String): DataFrame = {
    val v = vecs(s, dir).select(col("vec_id"), col("q"))
    val levels = 255 // the top 8-bit code
    val stats = v.select(posexplode(col("q")).as(Seq("d", "x")))
      .groupBy(col("d")).agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .agg(expr("transform(array_sort(collect_list(struct(d, mn))), p -> p.mn)").as("mn"),
        expr("transform(array_sort(collect_list(struct(d, mn, mx))), p -> p.mx - p.mn)").as("span"))
    val rec = v.crossJoin(broadcast(stats))
      .select(col("vec_id"), col("q"), expr(
        s"""transform(sequence(1, 64), d ->
           |  element_at(mn, d) + coalesce(
           |    (((element_at(q, d) - element_at(mn, d)) * $levels)
           |       DIV nullif(element_at(span, d), 0)) * element_at(span, d) DIV $levels,
           |    CAST(0 AS BIGINT)))""".stripMargin).as("r"))
    val queries = rec.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("qid"), col("q").as("qv"))
    val scored = rec.join(broadcast(queries), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("cid"), dot(s, "qv", "r").as("adc"))
    val w = Window.partitionBy(col("qid")).orderBy(col("adc").desc, col("cid"))
    val sqTop = scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5).select(col("qid"), col("cid"))
    dotTruthTopK(s, dir, 5)
      .join(sqTop.select(col("qid").as("aqid"), col("cid").as("acid")),
        col("qid") === col("aqid") && col("cid") === col("acid"), "left")
      .groupBy(col("qid"))
      .agg(count(lit(1)).as("n_truth"), count(col("acid")).as("n_hits"))
      .select(col("qid"), col("n_truth"), col("n_hits"),
        expr("(10000 * n_hits) DIV n_truth").as("recall_bp"))
      .orderBy(col("qid"))
  }

  /** The codebook-size DIAL as a runnable code path (DialAuditSpec
    * pins it), same contract as the bits/nlist dials: at an
    * explicit per-subspace codebook size `ks`, one summary row — the
    * bits each code costs, total/mean training distortion, and corpus
    * recall@5 of the flat ADC scan against the exact max-inner-product
    * truth. Occupancy dials say what a setting COSTS; this one shows
    * both sides of PQ's trade at once: distortion (and therefore
    * recall) vs bits per vector. Production sizes ks=256 (byte codes);
    * the gate pins 16 for the 500-vector demo corpus. */
  private[graft] def pqDialAt(s: SparkSession, dir: String, ks: Int): DataFrame = {
    require(ks >= 2, s"ks must be >= 2, got $ks")
    val v = vecs(s, dir).select(col("vec_id"), col("q"))
    // "no silent caps": the init window [0, ks) only yields ks
    // centroids when the corpus has that many vectors — a dial row
    // labeled ks=1024 over 500 vectors would report a codebook that
    // was never built.
    val nVecs = v.count()
    require(ks <= nVecs,
      s"ks=$ks exceeds the $nVecs-vector corpus — the codebook would silently cap")
    val (c1, enc) = trainEncodeOf(s, subRowsOf(s, v), ks = ks)
    val dist = enc.agg(sum(col("d2")).as("total_d2"),
      (sum(col("d2")) / count(lit(1))).cast("long").as("mean_d2_per_code"))
    val recall = dotTruthTopK(s, dir, 5)
      .join(adcTopKFrom(s, dir, 5, c1, enc)
          .select(col("qid").as("aqid"), col("cid").as("acid")),
        col("qid") === col("aqid") && col("cid") === col("acid"), "left")
      .groupBy(col("qid"))
      .agg(count(lit(1)).as("nt"), count(col("acid")).as("nh"))
      .agg(count(lit(1)).as("n_queries"),
        (sum(expr("(10000 * nh) DIV nt")) / count(lit(1))).cast("long")
          .as("mean_recall_bp"),
        min(expr("(10000 * nh) DIV nt")).as("min_recall_bp"))
    dist.crossJoin(recall)
      .select(lit(ks).as("ks"),
        // integer bit-length (ceil(log2 ks)) — double log arithmetic is
        // platform-fragile at exact powers of two (ks >= 2 required above)
        lit((64 - java.lang.Long.numberOfLeadingZeros(ks - 1L)).toLong * M).as("bits_per_vec"),
        col("total_d2"), col("mean_d2_per_code"),
        col("n_queries"), col("mean_recall_bp"), col("min_recall_bp"))
  }

  /** The codes and LUT frames PqOpsSpec recomputes every ADC value from. */
  private[graft] def profCodes(s: SparkSession, dir: String): DataFrame =
    codesOf(trainEncode(s, dir)._2)
  private[graft] def profLut(s: SparkSession, dir: String): DataFrame =
    lutFor(s, dir, trainEncode(s, dir)._1)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_pq_distortion" -> qPqDistortion,
    "q_pq_ann" -> qPqAnn,
    "q_pq_rerank" -> qPqRerank,
    "q_ivfpq_ann" -> qIvfPqAnn,
    "q_ivfpq_residual" -> qIvfPqResidual,
    "q_pq_incremental" -> qPqIncremental,
    "q_pq_recall" -> qPqRecall,
    "q_sq8_recall" -> qSq8Recall,
    "q_pq_mog_residual" -> qPqMogResidual)

  /** Training + encoding as shared CTEs (ending in `c1` = codebooks,
    * `a2` = codes) — nested verbatim by all three oracles so they can
    * never disagree about what a codebook is. Same replay discipline
    * as [[EmbeddingOps]]'s kmeansA2Cte. */
  /** The training/encoding CTE chain (sub → … → c1, a2) over an
    * arbitrary (vec_id, q) source CTE — `v` for raw PQ, `rv` for the
    * residual variant — with the same init-window parameter as the
    * Spark side. */
  private def pqTrainCte(src: String, initLo: Int): String =
    pqTrainCteP(src, initLo, "")

  /** [[pqTrainCte]] with every CTE name prefixed — lets one oracle
    * nest TWO training chains (raw + residual over the MoG corpus)
    * without name collisions. */
  private def pqTrainCteP(src: String, initLo: Int, p: String): String =
    s"""${p}sub AS (SELECT vec_id, r.m AS m, q[r.m*$SubDim+1 : r.m*$SubDim+$SubDim] AS sub
       |        FROM $src, range($M) r(m)),
       |${p}c0 AS (SELECT m, vec_id - $initLo AS cid, sub AS cq FROM ${p}sub
       |       WHERE vec_id >= $initLo AND vec_id < ${initLo + Ks}),
       |${p}t1 AS (SELECT s.vec_id, s.m, c.cid, unnest(s.sub) AS a, unnest(c.cq) AS b
       |       FROM ${p}sub s JOIN ${p}c0 c ON c.m = s.m),
       |${p}d1 AS (SELECT vec_id, m, cid, sum((a-b)*(a-b)) AS d2 FROM ${p}t1 GROUP BY 1,2,3),
       |${p}a1 AS (SELECT vec_id, m, cid FROM (
       |    SELECT vec_id, m, cid, row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, cid) AS rn
       |    FROM ${p}d1) WHERE rn = 1),
       |${p}u1 AS (SELECT a1.m, a1.cid, generate_subscripts(s.sub, 1) AS pos, unnest(s.sub) AS val
       |       FROM ${p}a1 a1 JOIN ${p}sub s ON s.vec_id = a1.vec_id AND s.m = a1.m),
       |${p}m1 AS (SELECT m, cid, pos, CAST(floor(CAST(sum(val) AS DOUBLE) / count(*)) AS BIGINT) AS mv
       |       FROM ${p}u1 GROUP BY 1,2,3),
       |${p}c1 AS (SELECT c0.m, c0.cid, coalesce(n.cq, c0.cq) AS cq
       |       FROM ${p}c0 c0 LEFT JOIN (SELECT m, cid, list(mv ORDER BY pos) AS cq FROM ${p}m1 GROUP BY 1,2) n
       |       ON n.m = c0.m AND n.cid = c0.cid),
       |${p}t2 AS (SELECT s.vec_id, s.m, c.cid, unnest(s.sub) AS a, unnest(c.cq) AS b
       |       FROM ${p}sub s JOIN ${p}c1 c ON c.m = s.m),
       |${p}d2r AS (SELECT vec_id, m, cid, sum((a-b)*(a-b)) AS d2 FROM ${p}t2 GROUP BY 1,2,3),
       |${p}a2 AS (SELECT vec_id, m, cid AS code, d2 FROM (
       |    SELECT vec_id, m, cid, d2, row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, cid) AS rn
       |    FROM ${p}d2r) WHERE rn = 1)""".stripMargin

  private lazy val pqCte: String =
    s"v AS (SELECT vec_id, $qvecSql AS q FROM embeddings),\n" + pqTrainCte("v", 0)

  /** The residual source CTEs: coarse cells (q_ivf_ann's assignment
    * verbatim) and rv = the element-wise integer residual. */
  private lazy val residualCte: String =
    s"""v AS (SELECT vec_id, $qvecSql AS q FROM embeddings),
       |cents AS (SELECT vec_id AS ccid, q AS ccq FROM v WHERE vec_id < 16),
       |ct AS (SELECT v.vec_id, c.ccid, unnest(v.q) AS a, unnest(c.ccq) AS b FROM v, cents c),
       |cdots AS (SELECT vec_id, ccid, sum(a*b) AS cdot FROM ct GROUP BY 1,2),
       |cells AS (SELECT vec_id, ccid AS cell FROM (
       |  SELECT vec_id, ccid, row_number() OVER (PARTITION BY vec_id ORDER BY cdot DESC, ccid) AS rn
       |  FROM cdots) WHERE rn = 1),
       |rt AS (SELECT v.vec_id, generate_subscripts(v.q, 1) AS pos, unnest(v.q) AS a, unnest(c2.ccq) AS b
       |       FROM v JOIN cells cl ON cl.vec_id = v.vec_id JOIN cents c2 ON c2.ccid = cl.cell),
       |rv AS (SELECT vec_id, list(a - b ORDER BY pos) AS q FROM rt GROUP BY 1),
       |""".stripMargin + pqTrainCte("rv", 16)

  private def annSqlAt(k: Int): String =
    s"""WITH $pqCte,
       |lt AS (SELECT s.vec_id AS qid, s.m AS m, c.cid AS cid, unnest(s.sub) AS a, unnest(c.cq) AS b
       |       FROM sub s JOIN c1 c ON c.m = s.m WHERE s.vec_id % 100 = 0),
       |lut AS (SELECT qid, m, cid, CAST(sum(a*b) AS BIGINT) AS pdot FROM lt GROUP BY 1,2,3),
       |adcs AS (SELECT l.qid, a2.vec_id AS cid, CAST(sum(l.pdot) AS BIGINT) AS adc
       |  FROM a2 JOIN lut l ON l.m = a2.m AND l.cid = a2.code AND a2.vec_id <> l.qid
       |  GROUP BY 1,2),
       |ranked AS (SELECT qid, cid, adc,
       |    row_number() OVER (PARTITION BY qid ORDER BY adc DESC, cid) AS rnk
       |  FROM adcs)
       |SELECT qid, rnk, cid, adc FROM ranked WHERE rnk <= $k ORDER BY qid, rnk""".stripMargin

  private lazy val annSql: String = annSqlAt(5)

  /** Exact max-inner-product top-5 — the ground truth ADC approximates. */
  private[queries] lazy val dotTruthSql: String =
    s"""WITH v AS (SELECT vec_id, $qvecSql AS q FROM embeddings),
       |terms AS (SELECT qv.vec_id AS qid, cv.vec_id AS cid, unnest(qv.q) AS a, unnest(cv.q) AS b
       |          FROM v qv JOIN v cv ON cv.vec_id <> qv.vec_id WHERE qv.vec_id % 100 = 0),
       |dots AS (SELECT qid, cid, CAST(sum(a*b) AS BIGINT) AS dot FROM terms GROUP BY 1,2),
       |ranked AS (SELECT qid, cid,
       |    row_number() OVER (PARTITION BY qid ORDER BY dot DESC, cid) AS rnk
       |  FROM dots)
       |SELECT qid, cid FROM ranked WHERE rnk <= 5""".stripMargin

  /** Full replay of the MoG flip: regenerate the corpus from the same
    * integer formula, assign coarse cells, subtract residuals, run BOTH
    * training chains (prefixed CTEs), compare distortions. */
  private lazy val mogResidualSql: String =
    s"""WITH mv AS (SELECT vec_id, $MogQDuck AS q FROM embeddings),
       |mcents AS (SELECT vec_id AS ccid, q AS ccq FROM mv WHERE vec_id < 16),
       |mct AS (SELECT mv.vec_id, c.ccid, unnest(mv.q) AS a, unnest(c.ccq) AS b FROM mv, mcents c),
       |mcdots AS (SELECT vec_id, ccid, sum(a*b) AS cdot FROM mct GROUP BY 1,2),
       |mcells AS (SELECT vec_id, ccid AS cell FROM (
       |  SELECT vec_id, ccid, row_number() OVER (PARTITION BY vec_id ORDER BY cdot DESC, ccid) AS rn
       |  FROM mcdots) WHERE rn = 1),
       |mrt AS (SELECT mv.vec_id, generate_subscripts(mv.q, 1) AS pos, unnest(mv.q) AS a, unnest(c2.ccq) AS b
       |       FROM mv JOIN mcells cl ON cl.vec_id = mv.vec_id JOIN mcents c2 ON c2.ccid = cl.cell),
       |mrv AS (SELECT vec_id, list(a - b ORDER BY pos) AS q FROM mrt GROUP BY 1),
       |${pqTrainCteP("mv", 0, "w")},
       |${pqTrainCteP("mrv", 16, "r")},
       |wr AS (SELECT m, CAST(sum(d2) AS BIGINT) AS d2_raw FROM wa2 GROUP BY 1),
       |rr AS (SELECT m, CAST(sum(d2) AS BIGINT) AS d2_residual FROM ra2 GROUP BY 1)
       |SELECT wr.m AS subspace, wr.d2_raw, rr.d2_residual,
       |  CAST((10000 * rr.d2_residual) // nullif(wr.d2_raw, 0) AS BIGINT) AS gain_bp
       |FROM wr JOIN rr ON rr.m = wr.m ORDER BY 1""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_pq_mog_residual" -> mogResidualSql,
    "q_pq_distortion" ->
      s"""WITH $pqCte
         |SELECT m AS subspace, count(*) AS n_vectors, count(DISTINCT code) AS n_codes_used,
         |  CAST(sum(d2) AS BIGINT) AS total_d2, CAST(max(d2) AS BIGINT) AS max_d2
         |FROM a2 GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_pq_ann" -> annSql,
    // The k=20 ADC shortlist nested verbatim, then exact integer dots
    // re-rank it — the oracle replays the full two-stage deployment.
    "q_pq_rerank" ->
      s"""WITH short AS (SELECT qid, cid FROM (${annSqlAt(20)})),
         |v AS (SELECT vec_id, $qvecSql AS q FROM embeddings),
         |terms AS (SELECT short.qid, short.cid, unnest(qv.q) AS a, unnest(cv.q) AS b
         |          FROM short JOIN v qv ON qv.vec_id = short.qid
         |                     JOIN v cv ON cv.vec_id = short.cid),
         |dots AS (SELECT qid, cid, CAST(sum(a*b) AS BIGINT) AS dot FROM terms GROUP BY 1,2),
         |ranked AS (SELECT qid, cid, dot,
         |    row_number() OVER (PARTITION BY qid ORDER BY dot DESC, cid) AS rnk
         |  FROM dots)
         |SELECT qid, rnk, cid, dot FROM ranked WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin,
    // The full IVF×PQ composition: coarse cells (the q_ivf_ann
    // assignment verbatim), within-cell ADC via the (m, code) join
    // form, top-10 shortlist, exact re-rank to top-3.
    "q_ivfpq_ann" ->
      s"""WITH $pqCte,
         |cents AS (SELECT vec_id AS ccid, q AS ccq FROM v WHERE vec_id < 16),
         |ct AS (SELECT v.vec_id, c.ccid, unnest(v.q) AS a, unnest(c.ccq) AS b FROM v, cents c),
         |cdots AS (SELECT vec_id, ccid, sum(a*b) AS cdot FROM ct GROUP BY 1,2),
         |cells AS (SELECT vec_id, ccid AS cell FROM (
         |  SELECT vec_id, ccid, row_number() OVER (PARTITION BY vec_id ORDER BY cdot DESC, ccid) AS rn
         |  FROM cdots) WHERE rn = 1),
         |cappedc AS (SELECT vec_id, cell FROM (
         |  SELECT vec_id, cell, row_number() OVER (PARTITION BY cell ORDER BY vec_id) AS rn
         |  FROM cells) WHERE rn <= ${EmbeddingOps.BucketCap}),
         |qs AS (SELECT vec_id AS qid, cell FROM cells WHERE vec_id % 100 = 0),
         |cand AS (SELECT qs.qid, c2.vec_id AS cid
         |         FROM qs JOIN cappedc c2 ON c2.cell = qs.cell AND c2.vec_id <> qs.qid),
         |lt AS (SELECT s.vec_id AS qid, s.m AS m, c.cid AS cid, unnest(s.sub) AS a, unnest(c.cq) AS b
         |       FROM sub s JOIN c1 c ON c.m = s.m WHERE s.vec_id % 100 = 0),
         |lut AS (SELECT qid, m, cid, CAST(sum(a*b) AS BIGINT) AS pdot FROM lt GROUP BY 1,2,3),
         |adcs AS (SELECT cand.qid, cand.cid, CAST(sum(l.pdot) AS BIGINT) AS adc
         |  FROM cand JOIN a2 ON a2.vec_id = cand.cid
         |            JOIN lut l ON l.qid = cand.qid AND l.m = a2.m AND l.cid = a2.code
         |  GROUP BY 1,2),
         |short AS (SELECT qid, cid FROM (
         |  SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY adc DESC, cid) AS rn
         |  FROM adcs) WHERE rn <= 10),
         |rterms AS (SELECT short.qid, short.cid, unnest(qv.q) AS a, unnest(cv.q) AS b
         |  FROM short JOIN v qv ON qv.vec_id = short.qid
         |             JOIN v cv ON cv.vec_id = short.cid),
         |rdots AS (SELECT qid, cid, CAST(sum(a*b) AS BIGINT) AS dot FROM rterms GROUP BY 1,2),
         |ranked AS (SELECT qid, cid, dot,
         |    row_number() OVER (PARTITION BY qid ORDER BY dot DESC, cid) AS rnk
         |  FROM rdots)
         |SELECT qid, rnk, cid, dot FROM ranked WHERE rnk <= 3 ORDER BY qid, rnk""".stripMargin,
    // Frozen-codebook ingest: train on the id-range archive, encode
    // the tail against unchanged codebooks, report staleness drift.
    "q_pq_incremental" ->
      s"""WITH v AS (SELECT vec_id, $qvecSql AS q FROM embeddings),
         |co AS (SELECT (max(vec_id) * 4) // 5 AS c FROM v),
         |va AS (SELECT v.vec_id, v.q FROM v, co WHERE v.vec_id < co.c),
         |${pqTrainCte("va", 0)},
         |nsub AS (SELECT v.vec_id, r.m AS m, q[r.m*$SubDim+1 : r.m*$SubDim+$SubDim] AS sub
         |         FROM v, co, range($M) r(m) WHERE v.vec_id >= co.c),
         |nt AS (SELECT s.vec_id, s.m, c.cid, unnest(s.sub) AS a, unnest(c.cq) AS b
         |       FROM nsub s JOIN c1 c ON c.m = s.m),
         |nd AS (SELECT vec_id, m, cid, sum((a-b)*(a-b)) AS d2 FROM nt GROUP BY 1,2,3),
         |na2 AS (SELECT vec_id, m, cid AS code, d2 FROM (
         |    SELECT vec_id, m, cid, d2, row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, cid) AS rn
         |    FROM nd) WHERE rn = 1),
         |ra AS (SELECT m, count(*) AS n_archive, CAST(sum(d2) AS BIGINT) AS d2_archive FROM a2 GROUP BY 1),
         |rn_ AS (SELECT m, count(*) AS n_new, CAST(sum(d2) AS BIGINT) AS d2_new FROM na2 GROUP BY 1)
         |SELECT ra.m AS subspace, ra.n_archive, rn_.n_new, ra.d2_archive, rn_.d2_new,
         |  CAST((10000 * rn_.d2_new * ra.n_archive) // nullif(ra.d2_archive * rn_.n_new, 0) AS BIGINT) AS drift_bp
         |FROM ra JOIN rn_ ON rn_.m = ra.m ORDER BY 1""".stripMargin,
    // True IVFADC: the residual CTEs feed the same training chain
    // (init window 16..31 — the coarse centroids' own residuals are
    // degenerate zeros), then capped-cell candidates score by the
    // residual-codebook LUT (the constant q·c term is rank-invariant
    // within a cell and omitted), shortlist 10, exact re-rank top-3.
    "q_ivfpq_residual" ->
      s"""WITH $residualCte,
         |cappedc AS (SELECT vec_id, cell FROM (
         |  SELECT vec_id, cell, row_number() OVER (PARTITION BY cell ORDER BY vec_id) AS rn
         |  FROM cells) WHERE rn <= ${EmbeddingOps.BucketCap}),
         |qs AS (SELECT vec_id AS qid, cell FROM cells WHERE vec_id % 100 = 0),
         |cand AS (SELECT qs.qid, c2.vec_id AS cid
         |         FROM qs JOIN cappedc c2 ON c2.cell = qs.cell AND c2.vec_id <> qs.qid),
         |qsub AS (SELECT vec_id, r.m AS m, q[r.m*$SubDim+1 : r.m*$SubDim+$SubDim] AS sub
         |         FROM v, range($M) r(m) WHERE vec_id % 100 = 0),
         |lt AS (SELECT s.vec_id AS qid, s.m AS m, c.cid AS cid, unnest(s.sub) AS a, unnest(c.cq) AS b
         |       FROM qsub s JOIN c1 c ON c.m = s.m),
         |lut AS (SELECT qid, m, cid, CAST(sum(a*b) AS BIGINT) AS pdot FROM lt GROUP BY 1,2,3),
         |adcs AS (SELECT cand.qid, cand.cid, CAST(sum(l.pdot) AS BIGINT) AS adc
         |  FROM cand JOIN a2 ON a2.vec_id = cand.cid
         |            JOIN lut l ON l.qid = cand.qid AND l.m = a2.m AND l.cid = a2.code
         |  GROUP BY 1,2),
         |short AS (SELECT qid, cid FROM (
         |  SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY adc DESC, cid) AS rn
         |  FROM adcs) WHERE rn <= 10),
         |rterms AS (SELECT short.qid, short.cid, unnest(qv.q) AS a, unnest(cv.q) AS b
         |  FROM short JOIN v qv ON qv.vec_id = short.qid
         |             JOIN v cv ON cv.vec_id = short.cid),
         |rdots AS (SELECT qid, cid, CAST(sum(a*b) AS BIGINT) AS dot FROM rterms GROUP BY 1,2),
         |ranked AS (SELECT qid, cid, dot,
         |    row_number() OVER (PARTITION BY qid ORDER BY dot DESC, cid) AS rnk
         |  FROM rdots)
         |SELECT qid, rnk, cid, dot FROM ranked WHERE rnk <= 3 ORDER BY qid, rnk""".stripMargin,
    "q_pq_recall" ->
      s"""SELECT t.qid, count(*) AS n_truth, count(a.cid) AS n_hits,
         |  CAST((10000 * count(a.cid)) // count(*) AS BIGINT) AS recall_bp
         |FROM ($dotTruthSql) t
         |LEFT JOIN ($annSql) a ON a.qid = t.qid AND a.cid = t.cid
         |GROUP BY t.qid ORDER BY t.qid""".stripMargin,
    // SQ8 replayed in full: per-dim [min, max] over the quantized
    // corpus, 8-bit encode/reconstruct in the same guarded integer
    // arithmetic, asymmetric exact-query × reconstructed-corpus scan,
    // and the identical truth/rollup as q_pq_recall.
    "q_sq8_recall" ->
      s"""WITH v AS (SELECT vec_id, $qvecSql AS q FROM embeddings),
         |st AS (SELECT r.d + 1 AS d, min(q[r.d + 1]) AS mn, max(q[r.d + 1]) AS mx
         |       FROM v, range(64) r(d) GROUP BY 1),
         |sa AS (SELECT list(mn ORDER BY d) AS mn, list(mx - mn ORDER BY d) AS span FROM st),
         |rec AS (SELECT vec_id, q, list_transform(generate_series(1, 64), d ->
         |          mn[d] + coalesce(
         |            (((q[d] - mn[d]) * 255) // nullif(span[d], 0)) * span[d] // 255,
         |            CAST(0 AS BIGINT))) AS r
         |        FROM v, sa),
         |terms AS (SELECT qv.vec_id AS qid, cv.vec_id AS cid,
         |            unnest(qv.q) AS a, unnest(cv.r) AS b
         |          FROM rec qv JOIN rec cv ON cv.vec_id <> qv.vec_id
         |          WHERE qv.vec_id % 100 = 0),
         |dots AS (SELECT qid, cid, CAST(sum(a*b) AS BIGINT) AS adc FROM terms GROUP BY 1,2),
         |sq AS (SELECT qid, cid FROM (
         |    SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY adc DESC, cid) AS rnk
         |    FROM dots) WHERE rnk <= 5)
         |SELECT t.qid, count(*) AS n_truth, count(a.cid) AS n_hits,
         |  CAST((10000 * count(a.cid)) // count(*) AS BIGINT) AS recall_bp
         |FROM ($dotTruthSql) t
         |LEFT JOIN sq a ON a.qid = t.qid AND a.cid = t.cid
         |GROUP BY t.qid ORDER BY t.qid""".stripMargin)
}
