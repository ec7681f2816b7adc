package graft.queries

import org.scalatest.funsuite.AnyFunSuite

/** The sizing-dial audit helpers (band, IVF, trained-IVF, PQ and
  * LSH-recall dials) fed SCALE.md's re-derivation tables; these invariants keep their
  * accounting honest: every corpus vector is counted exactly once at
  * any dial setting, cell/bucket counts respect the dial, and the
  * trained-centroid audit agrees with the untrained one on totals (the
  * two differ only in WHERE vectors land, never in how many there are). */
class DialAuditSpec extends AnyFunSuite {
  private lazy val spark = graft.SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  private lazy val nVecs =
    Tables.t(spark, dir, "embeddings").count()

  test("bandOccupancyAt: each band table accounts for every vector once") {
    val rows = EmbeddingOps.bandOccupancyAt(spark, dir, bits = 6).collect()
    assert(rows.length === 4) // NumBands tables
    rows.foreach { r =>
      assert(r.getAs[Long]("n_vectors") === nVecs)
      assert(r.getAs[Long]("n_buckets") <= (1L << 6))
      assert(r.getAs[Long]("dropped") >= 0L)
    }
  }

  test("annRecallSummaryAt: recall_bp bounded, degenerate bits rejected") {
    // the recall dial: one summary row, basis points in range
    val r = EmbeddingOps.annRecallSummaryAt(spark, dir,
      bits = 4, cap = EmbeddingOps.BucketCap).collect().head
    assert(r.getAs[Long]("n_queries") > 0L)
    val mean = r.getAs[Long]("mean_recall_bp")
    val min = r.getAs[Long]("min_recall_bp")
    assert(min >= 0L && min <= mean && mean <= 10000L)
    // bits = 0 must fail loudly at the dial, not deep in an expression
    val e = intercept[IllegalArgumentException] {
      EmbeddingOps.annRecallSummaryAt(spark, dir, bits = 0,
        cap = EmbeddingOps.BucketCap).collect()
    }
    assert(e.getMessage.contains("bits-per-band"))
  }

  test("ivfOccupancyAt and ivfOccupancyTrainedAt: totals match the corpus, cells <= nlist") {
    for (df <- Seq(EmbeddingOps.ivfOccupancyAt(spark, dir, nlist = 4),
                   EmbeddingOps.ivfOccupancyTrainedAt(spark, dir, nlist = 4))) {
      val r = df.collect().head
      assert(r.getAs[Long]("n_vectors") === nVecs)
      assert(r.getAs[Long]("n_cells") <= 4L)
      assert(r.getAs[Long]("max_occupancy") >= r.getAs[Long]("n_vectors") / 4)
    }
  }

  test("pqDialAt: distortion falls monotonically in ks, recall bounded, ks=1 rejected") {
    // The PQ dial's honesty contract: a bigger codebook can never
    // quantize WORSE (more centroids ⊇ the smaller init set after one
    // Lloyd round is not a strict guarantee, but the measured curve
    // must at least not invert between the gate's 16 and a 4x bigger
    // book on this corpus), and recall stays a basis-point fraction.
    val r16 = PqOps.pqDialAt(spark, dir, 16).collect().head
    val r64 = PqOps.pqDialAt(spark, dir, 64).collect().head
    assert(r16.getAs[Long]("total_d2") > r64.getAs[Long]("total_d2"),
      "bigger codebook did not reduce distortion")
    Seq(r16, r64).foreach { r =>
      val mean = r.getAs[Long]("mean_recall_bp")
      val min = r.getAs[Long]("min_recall_bp")
      assert(min >= 0L && min <= mean && mean <= 10000L)
    }
    val e = intercept[IllegalArgumentException] {
      PqOps.pqDialAt(spark, dir, 1).collect()
    }
    assert(e.getMessage.contains("ks"))
  }
}
