package graft.sources.dns

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.dns.read.DnsMetrics

/** DSv2 custom metrics on the dns scan: the metric set is reported by
  * the scan, and after an execution the SQL-UI metric values equal
  * the numbers the server actually served — records, the
  * fqdn+ip payload bytes, and IXFR→AXFR fallbacks. */
class DnsMetricsSpec extends AnyFunSuite {
  import Loopback.withServer
  private lazy val spark = graft.SparkTestSession.spark

  private val ZoneRecords = Seq(
    ARecord("red.met.acme.", "10.8.0.1"),
    ARecord("green.met.acme.", "10.8.0.2"),
    ARecord("blue.met.acme.", "10.8.0.3"))

  private def seeded(wire: WireDnsServer): InMemoryDnsServer = {
    val srv = wire.backing
    srv.addZone("met.acme.", ZoneRecords)
    srv
  }

  private def read(port: Int, extra: (String, String)*) =
    spark.read.format("dns").options(Map(
      "server" -> "127.0.0.1", "port" -> port.toString, "organization" -> "acme",
      "zones" -> "met.acme",
      "fixed-timestamp-micros" -> "1723400000000000") ++ extra).load()

  private def scanNode(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.executedPlan.collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.getOrElse(fail("no BatchScanExec in the dns plan"))

  private val expectedBytes: Long = ZoneRecords.map(r =>
    r.fqdn.getBytes("UTF-8").length + r.ip.getBytes("UTF-8").length).sum.toLong

  test("the scan reports the three dns metrics") {
    withServer { wire =>
      seeded(wire)
      val names = scanNode(read(wire.port)).scan.supportedCustomMetrics().map(_.name()).toSet
      assert(names == Set(DnsMetrics.RecordsName, DnsMetrics.BytesName,
        DnsMetrics.FallbacksName))
    }
  }

  test("after an AXFR read the metric values match what the server served") {
    withServer { wire =>
      seeded(wire)
      val df = read(wire.port)
      val node = scanNode(df)
      assert(df.collect().length == 3) // executes the same QueryExecution/plan instance
      val m = node.metrics
      assert(m(DnsMetrics.RecordsName).value == 3L)
      assert(m(DnsMetrics.BytesName).value == expectedBytes)
      assert(m(DnsMetrics.FallbacksName).value == 0L, "serial-0 snapshot is not a fallback")
    }
  }

  test("an IXFR request served from a journal gap counts as a fallback") {
    withServer { wire =>
      // advance the zone with a no-net-change add+delete, then trim the
      // journal to nothing — a resume from serial 1 now hits the gap and
      // the server answers with a full AXFR (RFC 1995 §4); the metric
      // must say so
      val srv = seeded(wire)
      srv.update("met.acme.", Seq(ARecord("tmp.met.acme.", "10.8.0.9")), Nil)
      srv.update("met.acme.", Nil, Seq(ARecord("tmp.met.acme.", "10.8.0.9")))
      srv.trimJournal("met.acme.", 0)
      val df = read(wire.port, "serial" -> "1")
      val node = scanNode(df)
      assert(df.collect().length == 3) // the fallback snapshot
      val m = node.metrics
      assert(m(DnsMetrics.FallbacksName).value == 1L)
      assert(m(DnsMetrics.RecordsName).value == 3L)
      assert(m(DnsMetrics.BytesName).value == expectedBytes)
    }
  }
}
