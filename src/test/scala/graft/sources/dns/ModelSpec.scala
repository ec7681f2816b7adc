package graft.sources.dns

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}

class ModelSpec extends AnyFunSuite {

  private def check(p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), p)
    assert(res.passed, res.status.toString)
  }

  test("Fqdn.normalize appends the trailing dot exactly once") {
    assert(Fqdn.normalize("mail.google.com") == "mail.google.com.")
    assert(Fqdn.normalize("mail.google.com.") == "mail.google.com.")
  }

  test("Fqdn.zoneOf strips the first label, keeps absolute form") {
    assert(Fqdn.zoneOf("mail.google.com") == "google.com.")
    assert(Fqdn.zoneOf("mail.google.com.") == "google.com.")
    assert(Fqdn.zoneOf("a.b.c.d.example.acme.") == "b.c.d.example.acme.")
  }

  test("Fqdn.zoneOf of a single-label name is the root zone") {
    assert(Fqdn.zoneOf("host") == ".")
    assert(Fqdn.zoneOf("host.") == ".")
  }

  private val label = Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString)

  test("property: normalize is idempotent") {
    check(Prop.forAll(Gen.nonEmptyListOf(label).map(_.mkString("."))) { name =>
      Fqdn.normalize(Fqdn.normalize(name)) == Fqdn.normalize(name)
    })
  }

  test("property: zoneOf(label + '.' + rest) == normalize(rest)") {
    check(Prop.forAll(label, Gen.nonEmptyListOf(label).map(_.mkString("."))) { (l, rest) =>
      Fqdn.zoneOf(s"$l.$rest") == Fqdn.normalize(rest)
    })
  }

  test("XfrType parse is case-insensitive, rejects junk") {
    assert(XfrType.parse("axfr") == XfrType.AXFR)
    assert(XfrType.parse(" IxFr ") == XfrType.IXFR)
    intercept[IllegalArgumentException](XfrType.parse("ftp"))
  }

  test("source options: defaults, zone de-dup + normalization") {
    val o = DnsOptions.source(Map(
      "server" -> "dns1", "organization" -> "acme",
      "zones" -> "example.acme, another.zone.,example.acme"))
    assert(o.common.port == 53)
    assert(o.common.timeoutSec == 10)
    assert(o.serial == 0L)
    assert(o.xfr == XfrType.IXFR)
    assert(!o.ignoreFailures)
    assert(o.zones == Seq("example.acme.", "another.zone."))
  }

  test("source options: missing required keys fail") {
    intercept[IllegalArgumentException](
      DnsOptions.source(Map("organization" -> "a", "zones" -> "z")))
    intercept[IllegalArgumentException](
      DnsOptions.source(Map("server" -> "s", "zones" -> "z")))
    intercept[IllegalArgumentException](
      DnsOptions.source(Map("server" -> "s", "organization" -> "a")))
  }

  test("source options: range validation") {
    val base = Map("server" -> "s", "organization" -> "a", "zones" -> "z")
    intercept[IllegalArgumentException](DnsOptions.source(base + ("port" -> "0")))
    intercept[IllegalArgumentException](DnsOptions.source(base + ("port" -> "70000")))
    intercept[IllegalArgumentException](DnsOptions.source(base + ("serial" -> "-1")))
  }

  test("numeric options name themselves on bad input") {
    val base = Map("server" -> "s", "organization" -> "a", "zones" -> "z")
    val cases: Seq[(String, Map[String, String] => Any, String, String, String)] = Seq(
      ("source", DnsOptions.source(_), "port", "abc", "option 'port' must be an integer: 'abc'"),
      ("source", DnsOptions.source(_), "port", "3000000000",
        "option 'port' must be an integer: '3000000000'"),
      ("source", DnsOptions.source(_), "timeout", "1.5", "option 'timeout' must be an integer: '1.5'"),
      ("source", DnsOptions.source(_), "serial", "x", "option 'serial' must be an integer: 'x'"),
      ("source", DnsOptions.source(_), "fixed-timestamp-micros", "now",
        "option 'fixed-timestamp-micros' must be an integer: 'now'"),
      ("source", DnsOptions.source(_), "estimated-zone-bytes", "256k",
        "option 'estimated-zone-bytes' must be an integer: '256k'"),
      ("source", DnsOptions.source(_), "max-zones-per-batch", "",
        "option 'max-zones-per-batch' must be an integer: ''"),
      ("sink", DnsOptions.sink(_), "port", "abc", "option 'port' must be an integer: 'abc'"),
      ("sink", DnsOptions.sink(_), "fixed-timestamp-micros", "now",
        "option 'fixed-timestamp-micros' must be an integer: 'now'"),
      // seconds whose milliseconds overflow the wire client's Int
      // socket timeout fail at parse, not at the first exchange
      ("source", DnsOptions.source(_), "timeout", "2147484",
        "option 'timeout' must be <= 2147483 seconds: 2147484"),
      ("sink", DnsOptions.sink(_), "timeout", "2147484",
        "option 'timeout' must be <= 2147483 seconds: 2147484"))
    for ((side, parse, key, value, message) <- cases) {
      val e = intercept[IllegalArgumentException](parse(base + (key -> value)))
      assert(e.getClass == classOf[IllegalArgumentException], s"$side $key=$value: $e")
      assert(e.getMessage.contains(message), s"$side $key=$value: ${e.getMessage}")
    }
    assert(DnsOptions.source(base + ("timeout" -> "2147483")).common.timeoutSec == 2147483)
  }

  test("offset json round-trips; equal serials give equal JSON, a changed serial gives different JSON") {
    import graft.sources.dns.read.DnsOffset
    val o = DnsOffset(Map("example.acme." -> 7L, "another.zone." -> 3L), 2)
    assert(DnsOffset.fromJson(o.json()) == o)
    // Spark's Offset.equals compares json(): an unchanged poll is no new data
    assert(o.json() == DnsOffset(Map("another.zone." -> 3L, "example.acme." -> 7L), 2).json())
    assert(o.json() != DnsOffset(o.serials + ("example.acme." -> 8L), 2).json())
  }

  test("property: LWW dedup keeps max timestamp for any permutation") {
    // Mirrors the sink's dedup contract (reference DnsUpdate.java:46-54).
    val recs = (1 to 6).map(i =>
      DnsUpdateRecord(DnsAction.IxfrAdd, "h.z.acme.", "10.0.0.1", i.toLong * 1000, 60))
    check(Prop.forAll(Gen.const(())) { _ =>
      val shuffled = scala.util.Random.shuffle(recs.toList)
      val winner = shuffled.maxBy(_.timestampMicros)
      winner.timestampMicros == 6000L
    })
  }
}
