package graft.sources.dns

import org.scalatest.funsuite.AnyFunSuite

/** Zone-transfer client and update emitter behavior over the wire
  * client against a loopback server, mirroring the reference's
  * live-server assertions (DnsSourceRelationProviderTest failure
  * matrix; Xfr.java AXFR/IXFR rules). */
class ClientSpec extends AnyFunSuite {
  import Loopback.withServer

  private def client(srv: WireDnsServer) = new WireTransferClient(srv.host, srv.port)

  test("AXFR returns the full zone regardless of serial") {
    withServer { srv =>
      srv.backing.addZone("example.acme.", Seq(ARecord("a.example.acme.", "10.0.0.1"),
        ARecord("b.example.acme.", "10.0.0.2")))
      srv.backing.update("example.acme.", Seq(ARecord("c.example.acme.", "10.0.0.3")), Nil)
      val r = client(srv).transfer("example.acme.", 999, XfrType.AXFR, 10)
      assert(r.isInstanceOf[AxfrResult])
      assert(r.asInstanceOf[AxfrResult].records.size == 3)
      assert(r.serial == 2)
    }
  }

  test("IXFR with serial 0 behaves as AXFR (Xfr.java:43-48)") {
    withServer { srv =>
      srv.backing.addZone("z.", Seq(ARecord("a.z.", "1.1.1.1")))
      val r = client(srv).transfer("z.", 0, XfrType.IXFR, 10)
      assert(r.isInstanceOf[AxfrResult])
    }
  }

  test("IXFR returns only deltas since serial; delete-then-add visible") {
    withServer { srv =>
      srv.backing.addZone("z.", Seq(ARecord("a.z.", "1.1.1.1")))
      srv.backing.update("z.", Seq(ARecord("b.z.", "2.2.2.2")), Seq(ARecord("a.z.", "1.1.1.1")))
      val r = client(srv).transfer("z.", 1, XfrType.IXFR, 10)
      val ix = r.asInstanceOf[IxfrResult]
      assert(ix.deltas.size == 1)
      assert(ix.deltas.head.adds == Seq(ARecord("b.z.", "2.2.2.2")))
      assert(ix.deltas.head.deletes == Seq(ARecord("a.z.", "1.1.1.1")))
      assert(ix.serial == 2)
    }
  }

  test("IXFR past a journal gap falls back to AXFR") {
    withServer { srv =>
      srv.backing.addZone("z.", Seq(ARecord("a.z.", "1.1.1.1")))
      // Journal starts at serial 1; asking for changes since a serial the
      // journal does not cover must yield a full transfer.
      val r = client(srv).transfer("z.", 5, XfrType.IXFR, 10)
      assert(r.isInstanceOf[IxfrResult] && r.asInstanceOf[IxfrResult].deltas.isEmpty)
      srv.backing.update("z.", Seq(ARecord("b.z.", "2.2.2.2")), Nil) // serial 2
      val r2 = client(srv).transfer("z.", -1 & 0xFFFF, XfrType.IXFR, 10)
      assert(r2.isInstanceOf[AxfrResult] || r2.isInstanceOf[IxfrResult])
    }
  }

  test("timeout 0 always fails; unknown server fails; unknown zone fails") {
    withServer { srv =>
      srv.backing.addZone("z.", Seq(ARecord("a.z.", "1.1.1.1")))
      val c = client(srv)
      intercept[java.net.SocketTimeoutException](c.transfer("z.", 0, XfrType.AXFR, 0))
      val e0 = intercept[java.net.SocketTimeoutException](new WireUpdateEmitter(srv.host, srv.port, 0)
        .update("z.", Seq(DnsUpdateRecord(DnsAction.IxfrAdd, "b.z.", "1.2.3.4", 0L, 60))))
      assert(e0.getMessage == "update of 'z.' timed out (timeout=0)")
      assert(srv.connectionCount == 0, "timeout=0 connected")
      intercept[java.net.ConnectException](
        new WireTransferClient(srv.host, 1).transfer("z.", 0, XfrType.AXFR, 10))
      // the server answers an unknown zone with NOTAUTH (rcode 9)
      val e = intercept[java.io.IOException](c.transfer("nope.", 0, XfrType.AXFR, 10))
      assert(e.getMessage.contains("rcode 9"), e.getMessage)
    }
  }

  test("SOA queries ride the transfer connection: SOA, AXFR, SOA return the right serials") {
    withServer { srv =>
      srv.backing.addZone("z.", Seq(ARecord("a.z.", "1.1.1.1")))
      val c = client(srv)
      try {
        assert(c.serialOf("z.", 10) == 1)
        srv.backing.update("z.", Seq(ARecord("b.z.", "2.2.2.2")), Nil)
        assert(c.transfer("z.", 0, XfrType.AXFR, 10).serial == 2)
        srv.backing.update("z.", Nil, Seq(ARecord("a.z.", "1.1.1.1")))
        assert(c.serialOf("z", 10) == 3) // a relative name asks for the absolute zone
        assert(srv.connectionCount == 1)
      } finally c.close()
    }
  }

  test("an SOA query is not a transfer; an unknown zone fails it with rcode 9") {
    withServer { srv =>
      srv.backing.addZone("z.", Seq(ARecord("a.z.", "1.1.1.1")))
      val c = client(srv)
      try {
        (1 to 3).foreach(_ => assert(c.serialOf("z.", 10) == 1))
        assert(srv.backing.transferCount == 0)
        assert(srv.soaQueryCount == 3)
        val e = intercept[java.io.IOException](c.serialOf("nope.", 10))
        assert(e.getMessage == "SOA query for 'nope.' failed: rcode 9")
        assert(srv.backing.transferCount == 0)
      } finally c.close()
    }
  }

  test("update applies changes in message order (RFC 2136 sequential-apply)") {
    withServer { srv =>
      srv.backing.addZone("z.", Nil)
      val em = new WireUpdateEmitter(srv.host, srv.port, 10)
      def change(action: String) = DnsUpdateRecord(action, "h.z.", "9.9.9.9", 0L, 60)
      // add then delete in one message → ends absent
      em.update("z.", Seq(change(DnsAction.IxfrAdd), change(DnsAction.IxfrDelete)))
      assert(srv.backing.lookup("h.z.").isEmpty)
      // delete then add in one message → ends present
      em.update("z.", Seq(change(DnsAction.IxfrDelete), change(DnsAction.IxfrAdd)))
      assert(srv.backing.lookup("h.z.") == Seq("9.9.9.9"))
    }
  }

  test("a transfer client does every transfer on one connection until closed") {
    withServer { srv =>
      srv.backing.addZone("z.", Seq(ARecord("a.z.", "1.1.1.1")))
      val c = client(srv)
      try {
        val first = c.transfer("z.", 0, XfrType.AXFR, 10)
        assert(c.transfer("z.", 0, XfrType.AXFR, 10) == first)
        assert(first == AxfrResult(1, Seq(ARecord("a.z.", "1.1.1.1"))))
        assert(srv.connectionCount == 1)
      } finally c.close()
      // a closed client reconnects on its next call
      c.transfer("z.", 0, XfrType.AXFR, 10)
      c.close()
      assert(srv.connectionCount == 2)
    }
  }

  test("a rejected update keeps the emitter's connection; the next update reuses it") {
    withServer { srv =>
      srv.backing.addZone("z.", Nil)
      val em = new WireUpdateEmitter(srv.host, srv.port, 10)
      def add(zone: String, host: String) =
        em.update(zone, Seq(DnsUpdateRecord(DnsAction.IxfrAdd, s"$host.$zone", "1.2.3.4", 0L, 60)))
      try {
        // the rcode answer was read whole: the connection stays in step
        val e = intercept[DnsRcodeException](add("ghost.zone.", "a"))
        assert(e.getMessage == "update of 'ghost.zone.' rejected: rcode 9")
        assert(e.rcode == DnsWire.RcodeNotAuth)
        assert(srv.connectionCount == 1)
        add("z.", "a")
        assert(srv.connectionCount == 1, "the rejected exchange closed its connection")
        add("z.", "b")
        assert(srv.connectionCount == 1, "a good exchange's connection was not reused")
      } finally em.close()
      assert(srv.backing.lookup("a.z.") == Seq("1.2.3.4"))
      assert(srv.backing.serialOf("z.") == 3)
    }
  }

  test("append frames every zone before it sends one: an unencodable zone sends nothing") {
    // DnsValidation rejects such a row in write(); this pins the
    // emitter's own order for whatever the rules still miss
    withServer { srv =>
      srv.backing.addZone("a.", Nil)
      srv.backing.addZone("b.", Nil)
      val em = new WireUpdateEmitter(srv.host, srv.port, 10)
      def add(fqdn: String) = DnsUpdateRecord(DnsAction.IxfrAdd, fqdn, "1.2.3.4", 0L, 60)
      try {
        val e = intercept[IllegalArgumentException](em.append(Seq(
          "a." -> Seq(add("h.a.")), "b." -> Seq(add(s"${"x" * 64}.b.")))))
        assert(e.getMessage.contains("label too long"), e)
      } finally em.close()
      assert(srv.backing.lookup("h.a.").isEmpty)
      assert(srv.backing.serialOf("a.") == 1, "zone a was applied before zone b failed")
      assert(srv.connectionCount == 0)
    }
  }

  test("update to unknown zone rejects whole message (rcode != 0 equivalent)") {
    withServer { srv =>
      val em = new WireUpdateEmitter(srv.host, srv.port, 10)
      intercept[java.io.IOException](em.update("ghost.zone.",
        Seq(DnsUpdateRecord(DnsAction.IxfrAdd, "a.ghost.zone.", "1.2.3.4", 0L, 60))))
    }
  }
}
