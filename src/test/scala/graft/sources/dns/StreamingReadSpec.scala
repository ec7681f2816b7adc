package graft.sources.dns

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming read path: micro-batch source with self-managed progress
  * log. Mirrors the reference's hardest behavior — resume-effectively-
  * once across two Trigger.Once runs
  * (DnsSourceRelationProviderTest.java:203-226). */
class StreamingReadSpec extends AnyFunSuite {
  import Loopback.withServer
  private lazy val spark = graft.SparkTestSession.spark

  private def runOnce(wire: WireDnsServer, outDir: String, ckDir: String): Unit = {
    val q = spark.readStream.format("dns")
      .option("server", wire.host).option("port", wire.port.toString)
      .option("organization", "acme")
      .option("zones", "example.acme")
      .option("fixed-timestamp-micros", "1723400000000000")
      .load()
      .writeStream.format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", ckDir)
      .trigger(Trigger.Once())
      .start()
    q.awaitTermination(180000)
  }

  test("two Trigger.Once runs read each change exactly once") {
    withServer { wire =>
      val srv = wire.backing
      srv.addZone("example.acme.", Seq(
        ARecord("red.example.acme.", "10.1.0.1"),
        ARecord("green.example.acme.", "10.1.0.2")))

      val out = Files.createTempDirectory("dns-stream-out").toString
      val ck = Files.createTempDirectory("dns-stream-ck").toString

      runOnce(wire, out, ck) // initial: serial 0 → AXFR of 2 records

      // Change the zone between runs; the second run must see ONLY the delta.
      srv.update("example.acme.",
        Seq(ARecord("blue.example.acme.", "10.1.0.3")),
        Seq(ARecord("red.example.acme.", "10.1.0.1")))

      runOnce(wire, out, ck)

      val got = spark.read.parquet(out)
      assert(got.count() == 4) // 2 AXFR + 1 IXFR_ADD + 1 IXFR_DELETE
      // effectively-once: no identity row appears twice
      val dupes = got.groupBy("action", "fqdn", "ip", "organization", "zone")
        .count().filter(col("count") > 1).count()
      assert(dupes == 0)
      assert(got.filter(col("action") === DnsAction.IxfrAdd).count() == 1)
      assert(got.filter(col("action") === DnsAction.IxfrDelete).count() == 1)
    }
  }

  test("third run with no zone changes reads nothing new") {
    withServer { wire =>
      val srv = wire.backing
      srv.addZone("example.acme.", Seq(ARecord("a.example.acme.", "1.1.1.1")))

      val out = Files.createTempDirectory("dns-stream-out2").toString
      val ck = Files.createTempDirectory("dns-stream-ck2").toString
      runOnce(wire, out, ck)
      runOnce(wire, out, ck)
      assert(spark.read.parquet(out).count() == 1)
    }
  }

  test("Trigger.ProcessingTime: continuous micro-batches pick up live zone changes") {
    withServer { wire =>
      val srv = wire.backing
      srv.addZone("example.acme.", Seq(ARecord("a.example.acme.", "1.1.1.1")))

      val out = Files.createTempDirectory("dns-pt-out").toString
      val ck = Files.createTempDirectory("dns-pt-ck").toString
      val q = spark.readStream.format("dns")
        .option("server", wire.host).option("port", wire.port.toString)
        .option("organization", "acme")
        .option("zones", "example.acme")
        .option("fixed-timestamp-micros", "1723400000000000")
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .trigger(Trigger.ProcessingTime("200 milliseconds"))
        .start()
      try {
        // batch 1 delivers the AXFR; then mutate the zone mid-stream and
        // a later batch must deliver exactly the delta
        def countIs(n: Long): Boolean = {
          // generous deadline: this host occasionally stalls 10x under
          // external load, and a flaked gate voids more than it protects
          val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
          while (System.nanoTime() < deadline) {
            val c = try spark.read.parquet(out).count() catch { case _: Throwable => -1L }
            if (c == n) return true
            Thread.sleep(100)
          }
          false
        }
        assert(countIs(1), "initial AXFR record never arrived")
        srv.update("example.acme.", Seq(ARecord("b.example.acme.", "2.2.2.2")), Nil)
        assert(countIs(2), "IXFR delta never arrived under ProcessingTime")
      } finally q.stop()
      val got = spark.read.parquet(out)
      assert(got.filter(col("fqdn") === "b.example.acme.")
        .select("action").collect().map(_.getString(0)).toSeq == Seq(DnsAction.IxfrAdd))
      // effectively-once even across many empty batches
      assert(got.count() == 2)
    }
  }

  test("ReportsSourceMetrics: progress carries records/bytes/fallbacks/zones") {
    withServer { wire =>
      // Two zones with known content; one Trigger.Once batch. The
      // progress JSON's sources[0].metrics must carry the cumulative
      // counters, and their values must match what the server actually
      // served: 3 + 2 records, payloadBytes = Σ |fqdn|+|ip| (the
      // encoding-independent rdata bound DnsMetricsSpec pins for the
      // scan-level twin), 2 zones admitted, zero fallbacks on a serial-0
      // snapshot.
      val srv = wire.backing
      val recs1 = Seq(
        ARecord("a.m1.acme.", "10.9.0.1"),
        ARecord("b.m1.acme.", "10.9.0.2"),
        ARecord("c.m1.acme.", "10.9.0.3"))
      val recs2 = Seq(
        ARecord("a.m2.acme.", "10.9.1.1"),
        ARecord("b.m2.acme.", "10.9.1.2"))
      srv.addZone("m1.acme.", recs1)
      srv.addZone("m2.acme.", recs2)
      val out = Files.createTempDirectory("dns-metrics-out").toString
      val ck = Files.createTempDirectory("dns-metrics-ck").toString
      val q = spark.readStream.format("dns")
        .option("server", wire.host).option("port", wire.port.toString)
        .option("organization", "acme")
        .option("zones", "m1.acme,m2.acme")
        .option("fixed-timestamp-micros", "1723400000000000")
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .trigger(Trigger.Once())
        .start()
      q.awaitTermination(180000)
      val progresses = q.recentProgress
      assert(progresses.nonEmpty, "no progress events recorded")
      val withData = progresses.filter(_.numInputRows > 0)
      assert(withData.nonEmpty, "no progress with rows")
      val m = withData.last.sources(0).metrics
      val expectedBytes = (recs1 ++ recs2)
        .map(r => r.fqdn.getBytes("UTF-8").length + r.ip.getBytes("UTF-8").length)
        .sum.toLong
      assert(m.get("recordsTransferred") == "5", s"metrics were $m")
      assert(m.get("payloadBytes") == expectedBytes.toString, s"metrics were $m")
      assert(m.get("ixfrFallbacks") == "0", s"metrics were $m")
      assert(m.get("zonesAdmitted") == "2", s"metrics were $m")
    }
  }

  test("progress log restores latest serials and retains maxKept commits") {
    import graft.sources.dns.read.ProgressLog
    val ck = Files.createTempDirectory("dns-progress").toString
    val log = new ProgressLog(ck, maxKept = 3)
    assert(log.restore().isEmpty)
    (1L to 5L).foreach(i => log.commit(i, Map("z." -> i * 10)))
    assert(log.restore().contains(Map("z." -> 50L)))
    assert(log.latestBatchId() == 5L)
    // retention: only the newest 3 commit files survive (the local
    // Hadoop FS also writes .crc siblings — count numeric names only)
    val dir = new java.io.File(ck, "graft-dns-progress")
    val names = dir.listFiles().map(_.getName).filter(_.forall(_.isDigit)).toSet
    assert(names == Set("3", "4", "5"))
  }
}
