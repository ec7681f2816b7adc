package graft.sources.warc

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.sources.warc.read.{WarcScan, WarcSchemas, WarcSourceCounters}

/** The format("warc") DSv2 connector: scan shapes (whole-file vs
  * index-driven point reads — the counter discipline of
  * q_dns_pushdown's zone-pruned probe), sidecar-driven statistics, pushdown visibility,
  * the missing-sidecar fallback, and the fixed-schema contract. */
class WarcSourceSpec extends AnyFunSuite {
  private lazy val spark = graft.SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  /** Stage a corpus through the gate itself (shares the per-JVM
    * staged artifact), returning its directory. */
  private def corpus(): java.io.File = {
    graft.queries.Storage.qWarcSource(spark, dir).count() // forces staging
    new java.io.File(graft.queries.Scratch.dir("warc_source", dir))
  }

  test("full scan: one whole-file partition per file, zero point reads") {
    val base = corpus()
    val nFiles = base.listFiles().count(_.getName.endsWith(".warc.gz"))
    assert(nFiles == 8)
    WarcSourceCounters.reset()
    val n = spark.read.format("warc").load(base.getAbsolutePath).count()
    assert(n > 0)
    assert(WarcSourceCounters.filesOpened.get() == 8)
    assert(WarcSourceCounters.pointReads.get() == 0)
    assert(WarcSourceCounters.membersParsed.get() == n,
      "record-per-member corpus: every member parsed exactly once")
  }

  test("pushed uri IN-predicate: only matching files open, only matching members parse") {
    val base = corpus()
    WarcSourceCounters.reset()
    val rows = spark.read.format("warc").load(base.getAbsolutePath)
      .where(col("target_uri").isin(
        "http://example.com/doc/40", "http://example.com/doc/3"))
      .select("file", "member_idx", "warc_type").collect()
    // doc 40 (file 0: request + response) + doc 3 (file 3: response)
    assert(rows.length == 3, rows.mkString(","))
    assert(rows.map(_.getString(0)).toSet == Set("f0.warc.gz", "f3.warc.gz"))
    // the prune shape: 2 of 8 files opened, exactly 3 members seeked
    // and parsed — never a sequential split of anything
    assert(WarcSourceCounters.filesOpened.get() == 2)
    assert(WarcSourceCounters.pointReads.get() == 3)
    assert(WarcSourceCounters.membersParsed.get() == 3)
  }

  test("pushdown is pruning, not filtering: plan shows the predicate pushed AND re-applied") {
    val base = corpus()
    val df = spark.read.format("warc").load(base.getAbsolutePath)
      .where(col("target_uri") === "http://example.com/doc/40")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedPredicates"), plan)
    // Spark keeps a Filter above the scan — an index lie could only
    // cost I/O, never correctness
    assert(plan.contains("Filter"), plan)
    assert(df.count() == 2) // request + response of doc 40
  }

  test("sidecar statistics shrink under pruning (the auto-broadcast payoff)") {
    val base = corpus()
    val full = new WarcScan(base.getAbsolutePath, WarcSchemas.read, None, Array.empty)
      .estimateStatistics()
    val pruned = new WarcScan(base.getAbsolutePath, WarcSchemas.read,
      Some(Set("http://example.com/doc/40", "http://example.com/doc/3")), Array.empty)
      .estimateStatistics()
    assert(full.numRows().getAsLong > pruned.numRows().getAsLong)
    assert(pruned.numRows().getAsLong == 3)
    assert(full.sizeInBytes().getAsLong > pruned.sizeInBytes().getAsLong)
    assert(pruned.sizeInBytes().getAsLong > 0)
  }

  test("missing sidecar: file falls back to a whole-file scan, results identical") {
    val base = corpus()
    // clone the corpus, drop f0's sidecar
    val clone = java.nio.file.Files.createTempDirectory("warc-nocdx").toFile
    base.listFiles().filter(f => f.getName.endsWith(".warc.gz") ||
        f.getName.endsWith(".cdx")).foreach { f =>
      java.nio.file.Files.copy(f.toPath, new java.io.File(clone, f.getName).toPath)
    }
    assert(new java.io.File(clone, "f0.warc.gz.cdx").delete())
    WarcSourceCounters.reset()
    val rows = spark.read.format("warc").load(clone.getAbsolutePath)
      .where(col("target_uri").isin(
        "http://example.com/doc/40", "http://example.com/doc/3"))
      .select("file", "warc_type").collect()
    assert(rows.length == 3, "the index is an optimization, never the filter")
    // f0 (no sidecar) scanned fully; f3 still point-read
    assert(WarcSourceCounters.filesOpened.get() == 2)
    assert(WarcSourceCounters.pointReads.get() == 1)
    assert(WarcSourceCounters.membersParsed.get() > 3)
  }

  test("fixed schema: a user-supplied schema is rejected loudly") {
    val base = corpus()
    val e = intercept[Exception] {
      spark.read.format("warc")
        .schema("file STRING, nope LONG")
        .load(base.getAbsolutePath).collect()
    }
    // Spark rejects before getTable (the provider declares no external
    // metadata support); the provider's own fixed-schema check guards
    // the direct-API path
    assert(e.getMessage.contains("schema"), e.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      new graft.sources.warc.read.WarcTableProvider().getTable(
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("nope",
            org.apache.spark.sql.types.LongType))),
        Array.empty, java.util.Map.of("path", base.getAbsolutePath))
    }
    assert(e2.getMessage.contains("fixed schema"), e2.getMessage)
  }

  test("column pruning reaches the scan's read schema") {
    val base = corpus()
    val df = spark.read.format("warc").load(base.getAbsolutePath)
      .select("file", "target_uri")
    val scans = df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scans.nonEmpty)
    assert(scans.head.scan.readSchema().fieldNames.toSeq == Seq("file", "target_uri"),
      "payload must not survive a metadata-only projection")
  }
}
