package graft.sources.dns

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.sources.dns.read.{DnsMicroBatchStream, DnsOffset, DnsZoneInputPartition}

/** `SupportsAdmissionControl` on the dns micro-batch stream: offset
  * carriage of the admitted set, deterministic round-robin selection,
  * partition planning of ONLY admitted zones, checkpoint-forward
  * offset parsing, and the engine facts the q_dns_ratelimit gate
  * design rests on (Trigger.Once ignores read limits). */
class AdmissionControlSpec extends AnyFunSuite {
  private lazy val spark = graft.SparkTestSession.spark

  import org.apache.spark.sql.connector.read.streaming.ReadLimit

  private def stream(port: Int, zones: Seq[String], ck: String,
      maxZones: Option[Int]): DnsMicroBatchStream = {
    spark // the stream registers ZoneVersion accumulators on the active session
    val opts = DnsOptions.source(Map(
      "server" -> "127.0.0.1", "port" -> port.toString, "organization" -> "acme",
      "zones" -> zones.mkString(",")) ++
      maxZones.map(n => "max-zones-per-batch" -> n.toString))
    new DnsMicroBatchStream(opts, opts.zones, DnsSchemas.read, ck)
  }

  test("offset json carries the admitted set; pre-admission offsets still parse") {
    val o = DnsOffset(Map("a.acme." -> 3L, "b.acme." -> 0L), 7L,
      Some(Seq("b.acme.")))
    val back = DnsOffset.fromJson(o.json())
    assert(back == o)
    // an offset written before admission control existed (no
    // "admitted" key) parses as unlimited — old checkpoints keep working
    val legacy = DnsOffset.fromJson("""{"nonce":4,"zones":{"a.acme.":9}}""")
    assert(legacy == DnsOffset(Map("a.acme." -> 9L), 4L, None))
  }

  test("default read limit comes from max-zones-per-batch; unlimited otherwise") {
    val ck1 = Files.createTempDirectory("dns-adm-ck").toString
    val zones = Seq("z0.acme", "z1.acme", "z2.acme", "z3.acme")
    assert(stream(5461, zones, ck1, Some(2)).getDefaultReadLimit ==
      ReadLimit.maxFiles(2))
    assert(stream(5461, zones, ck1, None).getDefaultReadLimit ==
      ReadLimit.allAvailable())
  }

  test("round-robin admission: n zones per trigger, all served, restart-stable") {
    val ck = Files.createTempDirectory("dns-adm-ck").toString
    val zones = Seq("z0.acme", "z1.acme", "z2.acme", "z3.acme")
    val s1 = stream(5462, zones, ck, Some(2))
    val limit = s1.getDefaultReadLimit
    val start = s1.initialOffset()
    val o1 = s1.latestOffset(start, limit).asInstanceOf[DnsOffset]
    val o2 = s1.latestOffset(o1, limit).asInstanceOf[DnsOffset]
    assert(o1.admitted.get.size == 2)
    assert(o2.admitted.get.size == 2)
    // consecutive triggers cover ALL zones (no starvation)
    assert((o1.admitted.get ++ o2.admitted.get).toSet ==
      zones.map(Fqdn.normalize).toSet)
    // planning honors the admitted set — and only it
    val parts = s1.planInputPartitions(start, o1)
    assert(parts.map(_.asInstanceOf[DnsZoneInputPartition].zone).toSeq ==
      o1.admitted.get)
    // an unlimited offset plans every zone (legacy/unlimited path)
    val all = s1.planInputPartitions(start,
      DnsOffset(o1.serials, o1.nonce, None))
    assert(all.length == 4)
    // selection is a pure function of the persisted nonce: a fresh
    // stream on the same checkpoint admits the same zones per nonce
    val s2 = stream(5462, zones, ck, Some(2))
    val r1 = s2.latestOffset(s2.initialOffset(), limit).asInstanceOf[DnsOffset]
    assert(r1.admitted == o1.admitted, "restart must not reshuffle admission order")
  }

  test("a limit at or above the zone count admits everything (no admitted set)") {
    val ck = Files.createTempDirectory("dns-adm-ck").toString
    val s = stream(5463, Seq("z0.acme", "z1.acme"), ck, Some(2))
    val o = s.latestOffset(s.initialOffset(), s.getDefaultReadLimit)
      .asInstanceOf[DnsOffset]
    assert(o.admitted.isEmpty)
  }

  test("AvailableNow pass: remaining set drains head-first, then the offset freezes") {
    val ck = Files.createTempDirectory("dns-adm-ck3").toString
    val zones = Seq("z0.acme", "z1.acme", "z2.acme", "z3.acme")
    val s = stream(5465, zones, ck, Some(2))
    val limit = s.getDefaultReadLimit
    s.prepareForTriggerAvailableNow()
    val o1 = s.latestOffset(s.initialOffset(), limit).asInstanceOf[DnsOffset]
    val o2 = s.latestOffset(o1, limit).asInstanceOf[DnsOffset]
    // head-first drain in zone-list order, every zone exactly once
    assert(o1.admitted.get == zones.take(2).map(Fqdn.normalize))
    assert(o2.admitted.get == zones.drop(2).map(Fqdn.normalize))
    // pass complete: the offset re-mints VERBATIM (same json), which
    // is what makes Spark see "no new data" and end the query
    val o3 = s.latestOffset(o2, limit)
    assert(o3.json() == o2.json())
    val o4 = s.latestOffset(o3, limit)
    assert(o4.json() == o2.json())
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
