package graft.sources.dns

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming read path: micro-batch source whose offsets are the
  * zones' SOA serials. Mirrors the reference's hardest behavior —
  * resume-effectively-once across two Trigger.Once runs
  * (DnsSourceRelationProviderTest.java:203-226) — and pins what
  * polling adds: an idle stream transfers nothing, and a replayed
  * batch reads the rows of its first run. */
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
      // caught up: the last poll is the consumed offset
      assert(m.get("zonesBehind") == "0", s"metrics were $m")
      assert(m.get("serialsBehind") == "0", s"metrics were $m")
    }
  }

  private def sourceOpts(wire: WireDnsServer, zones: String, extra: (String, String)*) =
    sourceOptsAt(wire.host, wire.port, zones, extra: _*)

  private def sourceOptsAt(host: String, port: Int, zones: String, extra: (String, String)*) =
    DnsOptions.source(Map(
      "server" -> host, "port" -> port.toString, "organization" -> "acme",
      "zones" -> zones, "fixed-timestamp-micros" -> "1723400000000000") ++ extra)

  /** A stream read the way Spark reads it, without a query: offsets
    * from `latestOffset`, partitions from `planInputPartitions`, rows
    * from the stream's reader factory, as (action, fqdn, ip, _serial,
    * _xfr_kind). */
  private final class Direct(opts: DnsSourceOptions, parallelism: Int = 4) {
    import graft.sources.dns.read.{DnsMicroBatchStream, DnsOffset}
    import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}
    private val schema = org.apache.spark.sql.types.StructType(
      DnsSchemas.read.fields ++ DnsSchemas.metadata.fields)
    spark // the stream registers its counters on the active session
    val stream = new DnsMicroBatchStream(opts, opts.zones, schema, parallelism)
    def initial: Offset = stream.initialOffset()
    def next(start: Offset): Offset = stream.latestOffset(start, ReadLimit.allAvailable())
    def read(start: Offset, end: Offset): Seq[(String, String, String, Long, String)] = {
      val factory = stream.createReaderFactory()
      stream.planInputPartitions(start, end).toSeq.flatMap { p =>
        val r = factory.createReader(p)
        try Iterator.continually(r.next()).takeWhile(identity).map { _ =>
          val row = r.get()
          (row.getUTF8String(0).toString, row.getUTF8String(1).toString,
            row.getUTF8String(2).toString, row.getLong(6), row.getUTF8String(7).toString)
        }.toVector
        finally r.close()
      }
    }
    def serials(o: Offset): Map[String, Long] = DnsOffset.of(o).serials
  }

  test("an idle stream polls one SOA per zone and runs no batch: no transfer after batch 0") {
    withServer { wire =>
      val srv = wire.backing
      srv.addZone("i1.acme.", Seq(ARecord("a.i1.acme.", "10.3.0.1")))
      srv.addZone("i2.acme.", Seq(ARecord("a.i2.acme.", "10.3.0.2")))
      // the source itself: an unchanged poll mints the start offset's json
      val d = new Direct(sourceOpts(wire, "i1.acme,i2.acme"))
      try {
        val o1 = d.next(d.initial)
        assert(d.read(d.initial, o1).size == 2)
        val served = srv.transferCount
        (1 to 5).foreach(_ => assert(d.next(o1).json() == o1.json()))
        assert(srv.transferCount == served, "an idle poll transferred a zone")
        assert(wire.soaQueryCount >= 12, "each poll asks each zone's SOA")
      } finally d.stream.stop()

      // and under a running query: triggers poll, Spark runs no batch
      val batches = new java.util.concurrent.atomic.AtomicInteger(0)
      val ck = Files.createTempDirectory("dns-idle-ck").toString
      val q = spark.readStream.format("dns")
        .option("server", wire.host).option("port", wire.port.toString)
        .option("organization", "acme").option("zones", "i1.acme,i2.acme")
        .load()
        .writeStream
        .foreachBatch((b: org.apache.spark.sql.DataFrame, _: Long) => {
          b.count(); batches.incrementAndGet(); ()
        })
        .option("checkpointLocation", ck)
        .trigger(Trigger.ProcessingTime("50 milliseconds"))
        .start()
      try {
        val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
        while (batches.get == 0 && System.nanoTime() < deadline) Thread.sleep(20)
        assert(batches.get == 1, "batch 0 never ran")
        val served = srv.transferCount
        val polls = wire.soaQueryCount
        // five more polls of both zones
        while (wire.soaQueryCount < polls + 10 && System.nanoTime() < deadline) Thread.sleep(20)
        assert(wire.soaQueryCount >= polls + 10, "the stream stopped polling")
        assert(batches.get == 1, "an idle poll ran a batch")
        assert(srv.transferCount == served, "an idle poll transferred a zone")
      } finally q.stop()
    }
  }

  test("a replayed batch reads the rows of its first run; the later change arrives once, next") {
    withServer { wire =>
      val srv = wire.backing
      srv.addZone("r.acme.", Seq(ARecord("a.r.acme.", "10.4.0.1")))
      val d = new Direct(sourceOpts(wire, "r.acme"))
      try {
        val o1 = d.next(d.initial)
        d.read(d.initial, o1)
        srv.update("r.acme.", Seq(ARecord("b.r.acme.", "10.4.0.2")), Nil) // serial 2
        val o2 = d.next(o1)
        val first = d.read(o1, o2)
        assert(first == Seq((DnsAction.IxfrAdd, "b.r.acme.", "10.4.0.2", 2L, "IXFR")))
        // changes land after the batch was planned, before its replay
        srv.update("r.acme.", Seq(ARecord("c.r.acme.", "10.4.0.3")),
          Seq(ARecord("a.r.acme.", "10.4.0.1"))) // serial 3
        assert(d.read(o1, o2) == first, "the replay read past its end offset")
        // a fresh stream replays the same batch from the offset log alone
        val fresh = new Direct(sourceOpts(wire, "r.acme"))
        try assert(fresh.read(o1, o2) == first) finally fresh.stream.stop()
        // the later change arrives exactly once, in the next batch
        val o3 = d.next(o2)
        assert(d.serials(o3) == Map("r.acme." -> 3L))
        assert(d.read(o2, o3).toSet == Set(
          (DnsAction.IxfrDelete, "a.r.acme.", "10.4.0.1", 3L, "IXFR"),
          (DnsAction.IxfrAdd, "c.r.acme.", "10.4.0.3", 3L, "IXFR")))
        assert(d.next(o3).json() == o3.json())
      } finally d.stream.stop()
    }
  }

  test("a snapshot served past the end offset is emitted whole at its own serial; the next batch starts at end") {
    withServer { wire =>
      val srv = wire.backing
      srv.addZone("s.acme.", Seq(ARecord("a.s.acme.", "10.5.0.1")))
      // IXFR → AXFR journal-gap fallback
      val d = new Direct(sourceOpts(wire, "s.acme"))
      try {
        val o1 = d.next(d.initial)
        d.read(d.initial, o1)
        srv.update("s.acme.", Seq(ARecord("b.s.acme.", "10.5.0.2")), Nil) // serial 2
        val o2 = d.next(o1)
        srv.update("s.acme.", Seq(ARecord("c.s.acme.", "10.5.0.3")), Nil) // serial 3
        srv.trimJournal("s.acme.", 1) // only 2→3 left: IXFR from 1 is a gap
        assert(d.read(o1, o2).toSet == Set(
          (DnsAction.Axfr, "a.s.acme.", "10.5.0.1", 3L, "AXFR"),
          (DnsAction.Axfr, "b.s.acme.", "10.5.0.2", 3L, "AXFR"),
          (DnsAction.Axfr, "c.s.acme.", "10.5.0.3", 3L, "AXFR")))
        // the next batch transfers from end (2), re-applying 2→3 over
        // the snapshot that already holds it
        val o3 = d.next(o2)
        assert(d.read(o2, o3) == Seq((DnsAction.IxfrAdd, "c.s.acme.", "10.5.0.3", 3L, "IXFR")))
      } finally d.stream.stop()

      // xfr=AXFR: every batch is a snapshot at the serial it was served
      val a = new Direct(sourceOpts(wire, "s.acme", "xfr" -> "AXFR"))
      try {
        val o1 = a.next(a.initial)
        srv.update("s.acme.", Nil, Seq(ARecord("a.s.acme.", "10.5.0.1"))) // serial 4
        assert(a.serials(o1) == Map("s.acme." -> 3L))
        assert(a.read(a.initial, o1).map(r => (r._2, r._4, r._5)).toSet == Set(
          ("b.s.acme.", 4L, "AXFR"), ("c.s.acme.", 4L, "AXFR")))
        val o2 = a.next(o1)
        assert(a.serials(o2) == Map("s.acme." -> 4L))
      } finally a.stream.stop()
    }
  }

  test("under ignore-failures a stream batch whose transfer fails is re-read, not skipped: the change arrives once") {
    withServer { wire =>
      val srv = wire.backing
      srv.addZone("f.acme.", Seq(ARecord("a.f.acme.", "10.6.0.1")))
      val proxy = new DisconnectingProxy(wire)
      try {
        // the source itself: the poll succeeds, the batch's transfer is
        // cut; the read fails rather than return an empty zone, and the
        // retry of the same (start, end) reads the change
        val d = new Direct(sourceOptsAt(proxy.host, proxy.port, "f.acme", "ignore-failures" -> "true"))
        try {
          val o1 = d.next(d.initial)
          d.read(d.initial, o1)
          srv.update("f.acme.", Seq(ARecord("b.f.acme.", "10.6.0.2")), Nil) // serial 2
          val o2 = d.next(o1)
          proxy.drops.set(1)
          intercept[java.io.IOException](d.read(o1, o2))
          assert(d.read(o1, o2) == Seq((DnsAction.IxfrAdd, "b.f.acme.", "10.6.0.2", 2L, "IXFR")))
          assert(d.next(o2).json() == o2.json())
        } finally d.stream.stop()

        // under a running query: the failed task fails the query, and a
        // restart replays the logged batch from the offset log
        val out = Files.createTempDirectory("dns-flaky-out").toString
        val ck = Files.createTempDirectory("dns-flaky-ck").toString
        def run(): Option[Throwable] = {
          val q = spark.readStream.format("dns")
            .option("server", proxy.host).option("port", proxy.port.toString)
            .option("organization", "acme").option("zones", "f.acme")
            .option("ignore-failures", "true")
            .option("fixed-timestamp-micros", "1723400000000000")
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(Trigger.AvailableNow())
            .start()
          try { assert(q.awaitTermination(180000), "run did not finish"); None }
          catch { case e: org.apache.spark.sql.streaming.StreamingQueryException => Some(e) }
          finally q.stop()
        }
        assert(run().isEmpty) // batch 0: the snapshot at serial 2
        srv.update("f.acme.", Seq(ARecord("c.f.acme.", "10.6.0.3")), Nil) // serial 3
        proxy.drops.set(1)
        assert(run().isDefined, "the cut transfer was swallowed")
        assert(run().isEmpty)
        val got = spark.read.parquet(out).select("action", "fqdn").collect()
          .map(r => (r.getString(0), r.getString(1))).toSeq
        assert(got.sorted == Seq(
          (DnsAction.Axfr, "a.f.acme."), (DnsAction.Axfr, "b.f.acme."),
          (DnsAction.IxfrAdd, "c.f.acme.")).sorted)
      } finally proxy.close()
    }
  }

  test("a poll whose connection the server closed asks again on a fresh one") {
    withServer { wire =>
      wire.backing.addZone("p.acme.", Seq(ARecord("a.p.acme.", "10.7.0.1")))
      val proxy = new DisconnectingProxy(wire)
      try {
        val d = new Direct(sourceOptsAt(proxy.host, proxy.port, "p.acme"))
        try {
          val o1 = d.next(d.initial)
          assert(d.serials(o1) == Map("p.acme." -> 1L))
          proxy.disconnectAll() // as a server closes an idle connection
          wire.backing.update("p.acme.", Seq(ARecord("b.p.acme.", "10.7.0.2")), Nil)
          assert(d.serials(d.next(o1)) == Map("p.acme." -> 2L))
          assert(wire.connectionCount == 2)
        } finally d.stream.stop()
      } finally proxy.close()
    }
  }

  test("a trigger that admits more moved zones than the parallelism plans that many partitions") {
    withServer { wire =>
      val zones = (0 until 5).map(i => s"m$i.acme.")
      zones.foreach(z => wire.backing.addZone(z, Seq(ARecord(s"a.$z", "10.8.0.1"))))
      val d = new Direct(sourceOpts(wire, zones.mkString(",")), parallelism = 2)
      try {
        val o1 = d.next(d.initial)
        assert(d.stream.planInputPartitions(d.initial, o1).length == 2)
        assert(d.read(d.initial, o1).map(_._2) == zones.map(z => s"a.$z"))
        zones.foreach(z => wire.backing.update(z, Seq(ARecord(s"b.$z", "10.8.0.2")), Nil))
        val o2 = d.next(o1)
        val parts = d.stream.planInputPartitions(o1, o2)
          .map(_.asInstanceOf[graft.sources.dns.read.DnsZoneInputPartition])
        assert(parts.map(_.zones.map(_.zone)).toSeq == Seq(zones.take(2), zones.drop(2)))
        assert(d.read(o1, o2) == zones.map(z => (DnsAction.IxfrAdd, s"b.$z", "10.8.0.2", 2L, "IXFR")))
      } finally d.stream.stop()
    }
  }

  test("a 5-poll stream with a dead zone opens 1 connection and sends 1 SOA query per zone per poll") {
    withServer { wire =>
      wire.backing.addZone("l1.acme.", Seq(ARecord("a.l1.acme.", "10.9.0.1")))
      wire.backing.addZone("l2.acme.", Seq(ARecord("a.l2.acme.", "10.9.0.2")))
      val d = new Direct(sourceOpts(wire, "l1.acme,dead.acme,l2.acme", "ignore-failures" -> "true"))
      try {
        val o1 = d.next(d.initial)
        (2 to 5).foreach(_ => assert(d.next(o1).json() == o1.json()))
        // the dead zone's NOTAUTH is not asked again and keeps the connection
        assert(wire.soaQueryCount == 3 * 5)
        assert(wire.connectionCount == 1)
        assert(d.serials(o1) == Map("l1.acme." -> 1L, "dead.acme." -> 0L, "l2.acme." -> 1L))
      } finally d.stream.stop()
    }
  }
}
