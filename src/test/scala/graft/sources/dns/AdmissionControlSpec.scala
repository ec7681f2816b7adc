package graft.sources.dns

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.streaming.Trigger

import graft.sources.dns.read.{DnsMicroBatchStream, DnsOffset, DnsZoneInputPartition}

/** `SupportsAdmissionControl` on the dns micro-batch stream: the
  * round-robin cursor in the offset, deterministic selection among the
  * zones whose polled serial moved, partition planning of ONLY those
  * zones, checkpoint-forward offset parsing, the backlog metrics, and
  * the engine facts the q_dns_ratelimit gate design rests on
  * (Trigger.Once ignores read limits). */
class AdmissionControlSpec extends AnyFunSuite {
  private lazy val spark = graft.SparkTestSession.spark

  import org.apache.spark.sql.connector.read.streaming.ReadLimit

  private def stream(port: Int, zones: Seq[String],
      maxZones: Option[Int]): DnsMicroBatchStream = {
    spark // the stream registers its counters on the active session
    val opts = DnsOptions.source(Map(
      "server" -> "127.0.0.1", "port" -> port.toString, "organization" -> "acme",
      "zones" -> zones.mkString(",")) ++
      maxZones.map(n => "max-zones-per-batch" -> n.toString))
    new DnsMicroBatchStream(opts, opts.zones, DnsSchemas.read, parallelism = 4)
  }

  private val zones = Seq("z0.acme", "z1.acme", "z2.acme", "z3.acme")

  /** A loopback server holding `zones`, each at serial 1. */
  private def withZones[A](zs: Seq[String])(body: WireDnsServer => A): A =
    Loopback.withServer { wire =>
      zs.foreach(z => wire.backing.addZone(z, Seq(ARecord(s"h.$z", "10.9.9.9"))))
      body(wire)
    }

  /** The zones whose serial differs between two offsets. */
  private def moved(a: DnsOffset, b: DnsOffset): Set[String] =
    b.serials.collect { case (z, s) if a.serials.getOrElse(z, 0L) != s => z }.toSet

  private def offset(o: org.apache.spark.sql.connector.read.streaming.Offset) =
    o.asInstanceOf[DnsOffset]

  test("offset json carries the round-robin cursor; nonce-era offsets still parse") {
    val o = DnsOffset(Map("a.acme." -> 3L, "b.acme." -> 0L), 2)
    assert(DnsOffset.fromJson(o.json()) == o)
    // offsets written before serials were polled carry a nonce (and,
    // once rate-limited, an admitted list); they read at cursor 0
    val legacy = DnsOffset.fromJson("""{"nonce":4,"zones":{"a.acme.":9}}""")
    assert(legacy == DnsOffset(Map("a.acme." -> 9L), 0))
    val admitted = DnsOffset.fromJson(
      """{"nonce":7,"admitted":["b.acme."],"zones":{"a.acme.":3,"b.acme.":0}}""")
    assert(admitted == DnsOffset(Map("a.acme." -> 3L, "b.acme." -> 0L), 0))
    intercept[IllegalArgumentException](DnsOffset.fromJson("""{"nonce":4}"""))
  }

  test("default read limit comes from max-zones-per-batch; unlimited otherwise") {
    assert(stream(5461, zones, Some(2)).getDefaultReadLimit ==
      ReadLimit.maxFiles(2))
    assert(stream(5461, zones, None).getDefaultReadLimit ==
      ReadLimit.allAvailable())
  }

  test("round-robin admission: n zones per trigger, all served; the same start offset admits the same zones in a fresh stream") {
    withZones(zones) { wire =>
      val s1 = stream(wire.port, zones, Some(2))
      try {
        val limit = s1.getDefaultReadLimit
        val start = offset(s1.initialOffset())
        val o1 = offset(s1.latestOffset(start, limit))
        val o2 = offset(s1.latestOffset(o1, limit))
        // the walk starts limit zones past cursor 0: batch 0 = {z2, z3}
        assert(moved(start, o1) == Set("z2.acme.", "z3.acme."))
        assert(moved(o1, o2) == Set("z0.acme.", "z1.acme."))
        // unadmitted zones keep their start serial in the end offset
        assert(o1.serials == Map("z0.acme." -> 0L, "z1.acme." -> 0L,
          "z2.acme." -> 1L, "z3.acme." -> 1L))
        // planning honors the moved set — and only it — bounded at end
        val parts = s1.planInputPartitions(start, o1)
          .map(_.asInstanceOf[DnsZoneInputPartition]).toSeq.flatMap(_.zones)
        assert(parts.map(p => (p.zone, p.serial, p.until)) ==
          Seq(("z2.acme.", 0L, Some(1L)), ("z3.acme.", 0L, Some(1L))))
        // every zone caught up: the next poll is the start itself
        assert(s1.latestOffset(o2, limit).json() == o2.json())
        // a fresh stream from the same start admits the same zones
        val s2 = stream(wire.port, zones, Some(2))
        try assert(s2.latestOffset(start, limit).json() == o1.json(),
          "a fresh stream must not reshuffle admission order")
        finally s2.stop()
      } finally s1.stop()
    }
  }

  test("a limit at or above the zone count admits everything (no admitted set)") {
    withZones(zones.take(2)) { wire =>
      val s = stream(wire.port, zones.take(2), Some(2))
      try {
        val o = offset(s.latestOffset(s.initialOffset(), s.getDefaultReadLimit))
        assert(o == DnsOffset(Map("z0.acme." -> 1L, "z1.acme." -> 1L), 0))
      } finally s.stop()
    }
  }

  test("backlog: a rate-limited batch 0 leaves the unadmitted zones behind") {
    withZones(zones) { wire =>
      val s = stream(wire.port, zones, Some(2))
      try {
        val start = s.initialOffset()
        val o1 = s.latestOffset(start, s.getDefaultReadLimit)
        val polls = wire.soaQueryCount
        val m = s.metrics(java.util.Optional.of(o1))
        assert(m.get("zonesBehind") == "2", m)
        assert(m.get("serialsBehind") == "2", m)
        assert(m.get("zonesAdmitted") == "2", m)
        assert(wire.soaQueryCount == polls, "metrics queried the server")
        val o2 = s.latestOffset(o1, s.getDefaultReadLimit)
        assert(s.metrics(java.util.Optional.of(o2)).get("zonesBehind") == "0")
      } finally s.stop()
    }
  }

  test("AvailableNow pass: remaining set drains head-first, then the offset freezes") {
    withZones(zones) { wire =>
      val s = stream(wire.port, zones, Some(2))
      try {
        val limit = s.getDefaultReadLimit
        s.prepareForTriggerAvailableNow()
        val start = offset(s.initialOffset())
        val o1 = offset(s.latestOffset(start, limit))
        // a change after prepare is past the pass's target
        wire.backing.update("z3.acme.", Seq(ARecord("late.z3.acme.", "10.9.9.8")), Nil)
        val o2 = offset(s.latestOffset(o1, limit))
        // head-first drain in zone-list order, every zone exactly once
        assert(moved(start, o1) == Set("z0.acme.", "z1.acme."))
        assert(moved(o1, o2) == Set("z2.acme.", "z3.acme."))
        assert(o2.serials("z3.acme.") == 1L)
        // pass complete: the start comes back VERBATIM (same json),
        // which is what makes Spark see "no new data" and end the query
        val o3 = s.latestOffset(o2, limit)
        assert(o3.json() == o2.json())
        val o4 = s.latestOffset(o3, limit)
        assert(o4.json() == o2.json())
      } finally s.stop()
    }
  }

  test("engine fact: Trigger.Once ignores the read limit (why the gate uses ProcessingTime)") {
    // Spark's MicroBatchExecution logs "The read limit ... is ignored
    // when Trigger.Once is used." and passes allAvailable — so a
    // 2-zone stream with max-zones-per-batch 1 still lands BOTH zones
    // in the single batch. If this ever changes (Spark honoring
    // limits under Once), the q_dns_ratelimit fixture can simplify —
    // this test is the tripwire.
    Loopback.withServer { wire =>
      wire.backing.addZone("o1.acme.", Seq(ARecord("x.o1.acme.", "10.9.0.1")))
      wire.backing.addZone("o2.acme.", Seq(ARecord("y.o2.acme.", "10.9.0.2")))
      val out = Files.createTempDirectory("dns-adm-out").toString
      val ck = Files.createTempDirectory("dns-adm-ck2").toString
      val q = spark.readStream.format("dns")
        .option("server", wire.host).option("port", wire.port.toString)
        .option("organization", "acme")
        .option("zones", "o1.acme,o2.acme")
        .option("max-zones-per-batch", "1")
        .option("fixed-timestamp-micros", "1723400000000000")
        .load()
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ck)
        .trigger(Trigger.Once())
        .start()
      assert(q.awaitTermination(180000))
      val got = spark.read.parquet(out)
      assert(got.count() == 2, "Trigger.Once must transfer both zones in one batch")
      assert(got.select("zone").distinct().count() == 2)
    }
  }
}
