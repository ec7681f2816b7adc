package graft.sources.dns

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** The wire-protocol path: RFC 1035 codec, AXFR/IXFR/UPDATE over real
  * loopback TCP, and the full connector stack over the wire client. */
class WireSpec extends AnyFunSuite {
  import DnsWire._
  import Loopback.withServer

  test("codec: message with question, A and SOA records round-trips") {
    val m = Message(42, queryFlags(OpcodeQuery),
      Seq(Question("example.acme.", TypeAxfr, ClassIn)),
      Seq(
        Rr("example.acme.", TypeSoa, ClassIn, 0, SoaData(7)),
        Rr("www.example.acme.", TypeA, ClassIn, 3600, AData("10.1.2.3")),
        Rr("example.acme.", TypeSoa, ClassIn, 0, SoaData(7))),
      Seq(Rr("x.example.acme.", TypeA, ClassNone, 0, AData("10.0.0.1"))),
      Nil)
    val back = decode(encode(m))
    assert(back == m)
  }

  test("codec: name decode follows compression pointers") {
    // hand-built: header with 1 answer; name at offset 12 is
    // "a.b." then an A record whose name is a pointer to offset 14 ("b.")
    val out = new java.io.ByteArrayOutputStream()
    def b(x: Int*): Unit = x.foreach(v => out.write(v & 0xff))
    b(0, 1, 0x84, 0, 0, 0, 0, 2, 0, 0, 0, 0) // id=1, response flags, an=2
    b(1, 'a', 1, 'b', 0) // offset 12: a.b.
    b(0, TypeA, 0, ClassIn, 0, 0, 0, 60, 0, 4, 10, 0, 0, 1)
    b(0xc0, 14) // pointer to offset 14 = "b."
    b(0, TypeA, 0, ClassIn, 0, 0, 0, 60, 0, 4, 10, 0, 0, 2)
    val m = decode(out.toByteArray)
    assert(m.answers.map(_.name) == Seq("a.b.", "b."))
    assert(m.answers.map(_.rdata) == Seq(AData("10.0.0.1"), AData("10.0.0.2")))
  }

  test("property: arbitrary messages round-trip the codec") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val genLabel = for {
      n <- Gen.choose(1, 12)
      cs <- Gen.listOfN(n, Gen.alphaLowerChar)
    } yield cs.mkString
    val genName = for {
      k <- Gen.choose(1, 5)
      ls <- Gen.listOfN(k, genLabel)
    } yield ls.mkString("", ".", ".")
    val genIp = for {
      a <- Gen.choose(0, 255); b <- Gen.choose(0, 255)
      c <- Gen.choose(0, 255); d <- Gen.choose(0, 255)
    } yield s"$a.$b.$c.$d"
    val genRr = for {
      name <- genName
      kind <- Gen.oneOf("a-in", "a-none", "soa")
      ttl <- Gen.choose(0L, 86400L)
      ip <- genIp
      serial <- Gen.choose(0L, Int.MaxValue.toLong)
    } yield kind match {
      case "a-in" => Rr(name, TypeA, ClassIn, ttl, AData(ip))
      case "a-none" => Rr(name, TypeA, ClassNone, 0, AData(ip))
      case _ => Rr(name, TypeSoa, ClassIn, 0, SoaData(serial))
    }
    val genMsg = for {
      id <- Gen.choose(0, 0xffff)
      op <- Gen.oneOf(OpcodeQuery, OpcodeUpdate)
      resp <- Gen.oneOf(true, false)
      rcode <- Gen.choose(0, 15)
      qt <- Gen.oneOf(TypeAxfr, TypeIxfr, TypeSoa)
      qn <- genName
      ans <- Gen.choose(0, 6).flatMap(Gen.listOfN(_, genRr))
      auth <- Gen.choose(0, 4).flatMap(Gen.listOfN(_, genRr))
    } yield Message(id,
      if (resp) responseFlags(op, rcode) else queryFlags(op),
      Seq(Question(qn, qt, ClassIn)), ans, auth, Nil)
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200),
      Prop.forAll(genMsg) { m => decode(encode(m)) == m })
    assert(res.passed, res.status.toString)
  }

  test("AXFR over TCP returns serial and all records") {
    withServer { srv =>
      srv.backing.addZone("z.acme.", Seq(
        ARecord("a.z.acme.", "10.0.0.1"), ARecord("b.z.acme.", "10.0.0.2")))
      val c = new WireTransferClient(srv.host, srv.port)
      val r = c.transfer("z.acme.", 0, XfrType.AXFR, timeoutSec = 5)
      assert(r == AxfrResult(1, Seq(
        ARecord("a.z.acme.", "10.0.0.1"), ARecord("b.z.acme.", "10.0.0.2"))))
      // empty zone: [SOA, SOA] response is an EMPTY SNAPSHOT, not an
      // empty delta — consumers treating AxfrResult as replace-state
      // must see the distinction
      srv.backing.addZone("empty.acme.", Nil)
      assert(c.transfer("empty.acme.", 0, XfrType.AXFR, 5) == AxfrResult(1, Nil))
    }
  }

  test("IXFR over TCP: up-to-date, delta, and journal-gap fallback") {
    withServer { srv =>
      srv.backing.addZone("z.acme.", Seq(ARecord("a.z.acme.", "10.0.0.1")))
      srv.backing.update("z.acme.", Seq(ARecord("b.z.acme.", "10.0.0.2")),
        Seq(ARecord("a.z.acme.", "10.0.0.1"))) // serial 1 -> 2
      val c = new WireTransferClient(srv.host, srv.port)

      assert(c.transfer("z.acme.", 2, XfrType.IXFR, 5) == IxfrResult(2, Nil))

      val delta = c.transfer("z.acme.", 1, XfrType.IXFR, 5)
      assert(delta == IxfrResult(2, Seq(IxfrDelta(1, 2,
        adds = Seq(ARecord("b.z.acme.", "10.0.0.2")),
        deletes = Seq(ARecord("a.z.acme.", "10.0.0.1"))))))

      // serial below the journal start → AXFR-style fallback response
      srv.backing.dropZone("z.acme.")
      srv.backing.addZone("z.acme.", Seq(ARecord("c.z.acme.", "10.0.0.3")))
      srv.backing.update("z.acme.", Seq(ARecord("d.z.acme.", "10.0.0.4")), Nil)
      val fb = c.transfer("z.acme.", 5, XfrType.IXFR, 5)
      assert(fb == IxfrResult(2, Nil)) // 5 >= current 2 ⇒ up to date
      val fb2 = c.transfer("z.acme.", 1, XfrType.IXFR, 5)
      assert(fb2.isInstanceOf[IxfrResult]) // journal covers 1→2
    }
  }

  test("RFC 2136 update over TCP: adds, deletes, serial bump, NOTAUTH") {
    withServer { srv =>
      srv.backing.addZone("z.acme.", Seq(ARecord("old.z.acme.", "10.0.0.9")))
      val e = new WireUpdateEmitter(srv.host, srv.port, timeoutSec = 5)
      e.update("z.acme.", Seq(
        DnsUpdateRecord(DnsAction.IxfrAdd, "new.z.acme.", "10.0.0.1", 1L, 60),
        DnsUpdateRecord(DnsAction.IxfrDelete, "old.z.acme.", "10.0.0.9", 2L, 60)))
      assert(srv.backing.lookup("new.z.acme.") == Seq("10.0.0.1"))
      assert(srv.backing.lookup("old.z.acme.").isEmpty)
      assert(srv.backing.serialOf("z.acme.") == 2)

      val rejected = intercept[java.io.IOException] {
        e.update("ghost.acme.", Seq(
          DnsUpdateRecord(DnsAction.IxfrAdd, "h.ghost.acme.", "1.1.1.1", 1L, 60)))
      }
      assert(rejected.getMessage.contains("rcode 9"))
    }
  }

  test("AXFR client reassembles a transfer split across messages (RFC 5936 §2.2)") {
    // hand-rolled one-shot server: answers the query in TWO framed
    // messages — WireDnsServer never does this, real servers may
    val ss = new java.net.ServerSocket(0, 1, java.net.InetAddress.getByName("127.0.0.1"))
    val t = new Thread(() => {
      val sock = ss.accept()
      val in = new java.io.DataInputStream(sock.getInputStream)
      val out = new java.io.DataOutputStream(sock.getOutputStream)
      val req = readFramed(in)
      def msg(rrs: Seq[Rr]) = Message(req.id,
        responseFlags(OpcodeQuery, RcodeNoError), req.questions, rrs, Nil, Nil)
      val soa = Rr("z.acme.", TypeSoa, ClassIn, 0, SoaData(3))
      writeFramed(out, msg(Seq(soa,
        Rr("a.z.acme.", TypeA, ClassIn, 60, AData("10.0.0.1")))))
      writeFramed(out, msg(Seq(
        Rr("b.z.acme.", TypeA, ClassIn, 60, AData("10.0.0.2")), soa)))
      sock.close()
    })
    t.setDaemon(true)
    t.start()
    val c = new WireTransferClient("127.0.0.1", ss.getLocalPort)
    val r = c.transfer("z.acme.", 0, XfrType.AXFR, 5)
    ss.close()
    assert(r == AxfrResult(3, Seq(
      ARecord("a.z.acme.", "10.0.0.1"), ARecord("b.z.acme.", "10.0.0.2"))))
  }

  test("IXFR client reassembles a delta stream split across messages (RFC 1995 §2)") {
    // hand-rolled one-shot server splitting a 2-delta stream at the
    // three adversarial boundaries: mid-delete-section, exactly after
    // the FINAL delta's add-header SOA(new) — the RR where a naive
    // "saw SOA(new) again" termination would stop early and drop the
    // adds — and the closing SOA alone in the last message.
    val ss = new java.net.ServerSocket(0, 1, java.net.InetAddress.getByName("127.0.0.1"))
    val soa = (s: Long) => Rr("z.acme.", TypeSoa, ClassIn, 0, SoaData(s))
    val a = (n: String, ip: String) => Rr(n, TypeA, ClassIn, 60, AData(ip))
    val t = new Thread(() => {
      val sock = ss.accept()
      val in = new java.io.DataInputStream(sock.getInputStream)
      val out = new java.io.DataOutputStream(sock.getOutputStream)
      val req = readFramed(in)
      def msg(rrs: Seq[Rr]) = Message(req.id,
        responseFlags(OpcodeQuery, RcodeNoError), req.questions, rrs, Nil, Nil)
      // SOA(3) | SOA(1) del-a SOA(2) add-b | SOA(2) del-b SOA(3) add-c1 add-c2 | SOA(3)
      writeFramed(out, msg(Seq(soa(3), soa(1), a("a.z.acme.", "10.0.0.1"))))
      writeFramed(out, msg(Seq(soa(2), a("b.z.acme.", "10.0.0.2"),
        soa(2), a("b.z.acme.", "10.0.0.2"), soa(3))))
      writeFramed(out, msg(Seq(a("c1.z.acme.", "10.0.0.3"), a("c2.z.acme.", "10.0.0.4"))))
      writeFramed(out, msg(Seq(soa(3))))
      sock.close()
    })
    t.setDaemon(true)
    t.start()
    val c = new WireTransferClient("127.0.0.1", ss.getLocalPort)
    val r = c.transfer("z.acme.", 1, XfrType.IXFR, 5)
    ss.close()
    assert(r == IxfrResult(3, Seq(
      IxfrDelta(1, 2, adds = Seq(ARecord("b.z.acme.", "10.0.0.2")),
        deletes = Seq(ARecord("a.z.acme.", "10.0.0.1"))),
      IxfrDelta(2, 3,
        adds = Seq(ARecord("c1.z.acme.", "10.0.0.3"), ARecord("c2.z.acme.", "10.0.0.4")),
        deletes = Seq(ARecord("b.z.acme.", "10.0.0.2"))))))
  }

  test("IXFR delta larger than the server chunk reassembles end-to-end") {
    withServer { srv =>
      // one update of 7 adds ⇒ delta stream of 11 RRs ⇒ 3 framed
      // messages at XfrChunk=5 through the REAL server path
      srv.backing.addZone("big.acme.", Seq(ARecord("seed.big.acme.", "10.1.0.0")))
      srv.backing.update("big.acme.",
        (1 to 7).map(i => ARecord(s"h$i.big.acme.", s"10.1.0.$i")), Nil)
      val c = new WireTransferClient(srv.host, srv.port)
      val r = c.transfer("big.acme.", 1, XfrType.IXFR, 5)
      assert(r == IxfrResult(2, Seq(IxfrDelta(1, 2,
        adds = (1 to 7).map(i => ARecord(s"h$i.big.acme.", s"10.1.0.$i")),
        deletes = Nil))))
    }
  }

  test("IXFR response of [SOA, SOA] is an empty SNAPSHOT, not up-to-date") {
    // the journal-gap fallback for an emptied zone: a streaming reader
    // that mistook this for "no change" would keep deleted records
    // forever — pin AxfrResult(serial, Nil) on the IXFR request path
    val ss = new java.net.ServerSocket(0, 1, java.net.InetAddress.getByName("127.0.0.1"))
    val t = new Thread(() => {
      val sock = ss.accept()
      val in = new java.io.DataInputStream(sock.getInputStream)
      val out = new java.io.DataOutputStream(sock.getOutputStream)
      val req = readFramed(in)
      val soa = Rr("z.acme.", TypeSoa, ClassIn, 0, SoaData(7))
      writeFramed(out, Message(req.id, responseFlags(OpcodeQuery, RcodeNoError),
        req.questions, Seq(soa, soa), Nil, Nil))
      sock.close()
    })
    t.setDaemon(true)
    t.start()
    val c = new WireTransferClient("127.0.0.1", ss.getLocalPort)
    val r = c.transfer("z.acme.", 5, XfrType.IXFR, 5)
    ss.close()
    assert(r == AxfrResult(7, Nil))
  }

  test("AXFR answered with a delta-shaped stream is rejected, never read as a delta") {
    // RFC 5936 §2.2: an AXFR response holds a SOA only first and last.
    // [SOA(3), SOA(1), del, SOA(2), add, SOA(3)] is an IXFR shape; the
    // write side reads zone state through AXFR, so it must not come
    // back as an IxfrResult
    val ss = new java.net.ServerSocket(0, 1, java.net.InetAddress.getByName("127.0.0.1"))
    val soa = (s: Long) => Rr("z.acme.", TypeSoa, ClassIn, 0, SoaData(s))
    val t = new Thread(() => {
      val sock = ss.accept()
      val in = new java.io.DataInputStream(sock.getInputStream)
      val out = new java.io.DataOutputStream(sock.getOutputStream)
      val req = readFramed(in)
      writeFramed(out, Message(req.id, responseFlags(OpcodeQuery, RcodeNoError),
        req.questions, Seq(soa(3), soa(1), Rr("a.z.acme.", TypeA, ClassIn, 60, AData("10.0.0.1")),
          soa(2), Rr("b.z.acme.", TypeA, ClassIn, 60, AData("10.0.0.2")), soa(3)), Nil, Nil))
      out.flush()
      sock.close()
    })
    t.setDaemon(true)
    t.start()
    val c = new WireTransferClient("127.0.0.1", ss.getLocalPort)
    val e = intercept[java.io.IOException](c.transfer("z.acme.", 0, XfrType.AXFR, 5))
    ss.close()
    assert(e.getMessage.contains("SOA inside its record stream"), e.getMessage)
  }

  test("malformed stored record answers SERVFAIL, not a dead connection") {
    withServer { srv =>
      srv.backing.addZone("bad.acme.", Seq(ARecord("h.bad.acme.", "300.1.1.1")))
      val c = new WireTransferClient(srv.host, srv.port)
      val e = intercept[java.io.IOException](c.transfer("bad.acme.", 0, XfrType.AXFR, 5))
      assert(e.getMessage.contains("rcode 2"), e.getMessage)
    }
  }

  /** A raw connection to `srv` with a 5 s read timeout: a response the
    * server leaves in its buffer fails the read instead of hanging it. */
  private def withRawSocket(srv: WireDnsServer)
                           (f: (java.io.DataInputStream, java.io.OutputStream) => Unit): Unit = {
    val sock = new java.net.Socket(srv.host, srv.port)
    try {
      sock.setSoTimeout(5000)
      f(new java.io.DataInputStream(sock.getInputStream), sock.getOutputStream)
    } finally sock.close()
  }

  private def axfrQuery(zone: String) =
    Message(1, queryFlags(OpcodeQuery), Seq(Question(zone, TypeAxfr, ClassIn)), Nil, Nil, Nil)

  private def updateMsg(zone: String, rrs: Seq[Rr]) =
    Message(1, queryFlags(OpcodeUpdate), Seq(Question(zone, TypeSoa, ClassIn)), Nil, rrs, Nil)

  test("un-encodable record mid-zone: one SERVFAIL, no partial transfer, connection lives") {
    withServer { srv =>
      // the 13th of 20 records sits in the third 5-RR message
      srv.backing.addZone("bad.acme.", (1 to 20).map { i =>
        ARecord(f"h$i%02d.bad.acme.", if (i == 13) "300.1.1.1" else s"10.5.0.$i")
      })
      srv.backing.addZone("good.acme.", Seq(ARecord("a.good.acme.", "10.5.1.1")))
      withRawSocket(srv) { (in, out) =>
        writeFramed(out, axfrQuery("bad.acme."))
        val first = readFramed(in)
        assert(first.rcode == RcodeServFail, first)
        assert(first.answers.isEmpty)
        writeFramed(out, axfrQuery("good.acme."))
        val good = readFramed(in)
        assert(good.rcode == RcodeNoError)
        assert(good.answers.map(_.rdata) == Seq(SoaData(1), AData("10.5.1.1"), SoaData(1)))
      }
    }
  }

  test("one connection, AXFR then up-to-date IXFR then UPDATE: every response arrives") {
    withServer { srv =>
      val z = "f.acme."
      srv.backing.addZone(z, (1 to 7).map(i => ARecord(s"h$i.$z", s"10.6.0.$i")))
      withRawSocket(srv) { (in, out) =>
        writeFramed(out, axfrQuery(z))
        val axfr = scala.collection.mutable.ArrayBuffer.empty[Rr]
        while (!(axfr.size > 1 && axfr.last.rtype == TypeSoa)) axfr ++= readFramed(in).answers
        assert(axfr.size == 9) // SOA, 7 records, SOA over two messages

        writeFramed(out, Message(2, queryFlags(OpcodeQuery), Seq(Question(z, TypeIxfr, ClassIn)),
          Nil, Seq(Rr(z, TypeSoa, ClassIn, 0, SoaData(1))), Nil))
        val ixfr = readFramed(in)
        assert(ixfr.id == 2 && ixfr.answers == Seq(Rr(z, TypeSoa, ClassIn, 0, SoaData(1))))

        writeFramed(out, updateMsg(z, Seq(Rr(s"new.$z", TypeA, ClassIn, 60, AData("10.6.1.1")))))
        assert(readFramed(in).rcode == RcodeNoError)
      }
      assert(srv.backing.serialOf(z) == 2)
      assert(srv.backing.lookup(s"new.$z") == Seq("10.6.1.1"))
    }
  }

  test("an update over the 65,535-byte TCP frame fails unsent and leaves the zone alone") {
    withServer { srv =>
      val z = "big.acme."
      srv.backing.addZone(z, Nil)
      def adds(n: Int, tag: String) = (1 to n).map(i =>
        DnsUpdateRecord(DnsAction.IxfrAdd, s"$tag$i.$z", "10.6.0.1", i.toLong, 60))
      def rrs(n: Int, tag: String) = adds(n, tag).map(u =>
        Rr(u.fqdn, TypeA, ClassIn, u.ttl.toLong, AData(u.ip)))
      val size = encode(updateMsg(z, rrs(2500, "n"))).length
      assert(size > MaxFramedBytes)

      val emitter = new WireUpdateEmitter(srv.host, srv.port, timeoutSec = 5)
      val e = intercept[IllegalArgumentException](emitter.update(z, adds(2500, "n")))
      assert(e.getMessage == s"update of '$z' with 2500 changes: " +
        s"DNS message of $size bytes exceeds the 65535-byte TCP frame limit")
      assert(srv.backing.serialOf(z) == 1)

      // on one connection: the rejected frame leaves no byte on the
      // stream, so the server thread reading it answers the next update
      withRawSocket(srv) { (in, out) =>
        intercept[IllegalArgumentException](writeFramed(out, updateMsg(z, rrs(2500, "n"))))
        writeFramed(out, updateMsg(z, rrs(3, "m")))
        assert(readFramed(in).rcode == RcodeNoError)
      }
      emitter.update(z, adds(10, "k"))
      assert(srv.backing.serialOf(z) == 3)
      assert(srv.backing.lookup(s"n1.$z").isEmpty)
      assert(srv.backing.lookup(s"m3.$z") == Seq("10.6.0.1"))
      assert(srv.backing.lookup(s"k10.$z") == Seq("10.6.0.1"))
    }
  }

  test("splitForFrames: a batch that fits is one message as is; a larger one splits in order") {
    val z = "z00.bench."
    def rrs(n: Int) = (1 to n).map(i => Rr(s"h$i.$z", TypeA, ClassIn, 300, AData("10.6.0.1")))
    // a benchmark write op sends 288 changes per zone, at most 1,000:
    // the very message comes back, so it is encoded once and never split
    Seq(288, 1000).foreach { n =>
      val m = updateMsg(z, rrs(n))
      val parts = splitForFrames(m)
      assert(parts.size == 1 && (parts.head eq m), s"$n changes")
    }
    val big = updateMsg(z, rrs(5000))
    assert(encode(big).length > MaxFramedBytes)
    val parts = splitForFrames(big)
    assert(parts.size > 1)
    assert(parts.flatMap(_.authority) == big.authority, "runs keep the RR order")
    assert(parts.forall(p => p.id == big.id && p.flags == big.flags && p.questions == big.questions))
    assert(parts.forall(p => encode(p).length <= MaxFramedBytes))
  }

  test("connection dropped mid-transfer surfaces an IO error (task retry path)") {
    // server sends the opening SOA + one record, then closes without
    // the terminating SOA — the client must fail, never return a
    // truncated zone as if complete
    val ss = new java.net.ServerSocket(0, 1, java.net.InetAddress.getByName("127.0.0.1"))
    val t = new Thread(() => {
      val sock = ss.accept()
      val in = new java.io.DataInputStream(sock.getInputStream)
      val out = new java.io.DataOutputStream(sock.getOutputStream)
      val req = readFramed(in)
      writeFramed(out, Message(req.id, responseFlags(OpcodeQuery, RcodeNoError),
        req.questions, Seq(
          Rr("z.acme.", TypeSoa, ClassIn, 0, SoaData(3)),
          Rr("a.z.acme.", TypeA, ClassIn, 60, AData("10.0.0.1"))), Nil, Nil))
      sock.close() // truncate
    })
    t.setDaemon(true)
    t.start()
    val c = new WireTransferClient("127.0.0.1", ss.getLocalPort)
    intercept[java.io.IOException](c.transfer("z.acme.", 0, XfrType.AXFR, 5))
    ss.close()
  }

  test("timeout=0 fails fast; unreachable port fails with IO error") {
    val c = new WireTransferClient("127.0.0.1", 1)
    intercept[java.net.SocketTimeoutException](c.transfer("z.", 0, XfrType.AXFR, 0))
    intercept[java.io.IOException](c.transfer("z.", 0, XfrType.AXFR, 2))
  }

  test("8 concurrent writer tasks over the wire: all updates land, no loss") {
    val spark = graft.SparkTestSession.spark
    withServer { srv =>
      (0 to 2).foreach(z => srv.backing.addZone(s"cz$z.test.", Nil))
      import spark.implicits._
      spark.range(60).repartition(8).select(
        lit(DnsAction.IxfrAdd).as("action"),
        concat(lit("h"), $"id", lit(".cz"), ($"id" % 3), lit(".test")).as("fqdn"),
        concat(lit("10.4.0."), ($"id" % 250)).as("ip"),
        timestamp_micros(lit(1723400000000000L) + $"id").as("timestamp"),
        lit(60).cast("int").as("ttl"))
        .write.format("dns_update")
        .option("server", srv.host).option("port", srv.port.toString)
        .mode("append").save()
      // every record present, each task×zone message applied atomically
      (0L until 60L).foreach { i =>
        assert(srv.backing.lookup(s"h$i.cz${i % 3}.test.") == Seq(s"10.4.0.${i % 250}"), s"h$i")
      }
    }
  }

  test("streaming read over the wire: two Trigger.Once runs, delta only") {
    val spark = graft.SparkTestSession.spark
    withServer { srv =>
      srv.backing.addZone("ws.acme.", Seq(ARecord("a.ws.acme.", "10.3.0.1")))
      val out = java.nio.file.Files.createTempDirectory("wire-stream-out").toString
      val ck = java.nio.file.Files.createTempDirectory("wire-stream-ck").toString
      def runOnce(): Unit = {
        val q = spark.readStream.format("dns")
          .option("server", srv.host).option("port", srv.port.toString)
          .option("organization", "acme").option("zones", "ws.acme")
          .option("fixed-timestamp-micros", "1723400000000000")
          .load()
          .writeStream.format("parquet").option("path", out)
          .option("checkpointLocation", ck)
          .trigger(org.apache.spark.sql.streaming.Trigger.Once())
          .start()
        q.awaitTermination(180000)
      }
      runOnce()
      srv.backing.update("ws.acme.", Seq(ARecord("b.ws.acme.", "10.3.0.2")), Nil)
      runOnce()
      val got = spark.read.parquet(out)
      assert(got.count() == 2) // 1 AXFR + 1 IXFR_ADD, each exactly once
      assert(got.filter(org.apache.spark.sql.functions.col("action") === DnsAction.IxfrAdd)
        .count() == 1)
    }
  }

  test("wire failure matrix: disconnect/timeout-0/unreachable × ignore-failures") {
    // The reference's failure-policy matrix (ref
    // DnsSourceRelationProviderTest.java:98-124,149-200) on the REAL
    // TCP path: each transfer failure mode must (a) fail the read
    // loudly with ignore-failures=false — a truncated zone must never
    // pass as complete — and (b) collapse to an empty zone with
    // ignore-failures=true.
    val spark = graft.SparkTestSession.spark
    def read(port: Int, ignore: Boolean, timeout: Int) =
      spark.read.format("dns")
        .option("server", "127.0.0.1").option("port", port.toString)
        .option("organization", "acme").option("zones", "m.acme")
        .option("ignore-failures", ignore.toString)
        .option("timeout", timeout.toString)
        .load()
    def assertBothModes(port: Int, timeout: Int): Unit = {
      intercept[org.apache.spark.SparkException](read(port, ignore = false, timeout).count())
      assert(read(port, ignore = true, timeout).count() == 0)
    }

    // Mode 1: connection dropped mid-transfer — the server answers the
    // request with the opening SOA + one record, then closes without
    // the terminating SOA, for every connection it accepts (the
    // failing and suppressed reads each open their own).
    val trunc = new java.net.ServerSocket(0, 8, java.net.InetAddress.getByName("127.0.0.1"))
    val t = new Thread(() => {
      try while (true) {
        val sock = trunc.accept()
        try {
          val in = new java.io.DataInputStream(sock.getInputStream)
          val out = new java.io.DataOutputStream(sock.getOutputStream)
          val req = readFramed(in)
          writeFramed(out, Message(req.id, responseFlags(OpcodeQuery, RcodeNoError),
            req.questions, Seq(
              Rr("m.acme.", TypeSoa, ClassIn, 0, SoaData(3)),
              Rr("a.m.acme.", TypeA, ClassIn, 60, AData("10.0.0.1"))), Nil, Nil))
        } finally sock.close() // truncate
      } catch { case _: Throwable => () } // ServerSocket closed: loop ends
    })
    t.setDaemon(true)
    t.start()
    try assertBothModes(trunc.getLocalPort, timeout = 5)
    finally trunc.close()

    // Mode 2: timeout=0 — fails fast by contract even against a LIVE
    // server holding the zone (the failure is the policy, not the peer).
    withServer { srv =>
      srv.backing.addZone("m.acme.", Seq(ARecord("a.m.acme.", "10.0.0.1")))
      assertBothModes(srv.port, timeout = 0)
    }

    // Mode 3: unreachable endpoint (nothing listens on port 1).
    assertBothModes(port = 1, timeout = 1)
  }

  test("ignore-failures suppresses a dead wire endpoint (0 rows, no throw)") {
    val spark = graft.SparkTestSession.spark
    val df = spark.read.format("dns")
      .option("server", "127.0.0.1").option("port", "1")
      .option("organization", "acme").option("zones", "dead.acme")
      .option("ignore-failures", "true")
      .option("timeout", "1")
      .load()
    assert(df.count() == 0)
  }

  test("12-zone wire AXFR: one partition per core, every record lands") {
    // Packed parallelism on REAL TCP at connector breadth: the 12
    // zones ride 4 concurrent connections (local[4]), 3 transfers
    // each, so the accept loop's thread-per-connection path, the
    // chunked-AXFR reassembly and back-to-back transfers on one
    // connection all run.
    val spark = graft.SparkTestSession.spark
    withServer { srv =>
      val zones = (0 until 12).map(i => s"z$i.breadth.acme.")
      zones.zipWithIndex.foreach { case (z, i) =>
        srv.backing.addZone(z, Seq(
          ARecord(s"a.$z", s"10.7.$i.1"), ARecord(s"b.$z", s"10.7.$i.2")))
      }
      val df = spark.read.format("dns")
        .option("server", srv.host).option("port", srv.port.toString)
        .option("organization", "acme")
        .option("zones", zones.map(_.dropRight(1)).mkString(","))
        .option("xfr", "AXFR").load()
      assert(df.rdd.getNumPartitions == 4, "expected one input partition per core")
      val got = df.select("fqdn", "ip").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      val want = zones.zipWithIndex.flatMap { case (z, i) =>
        Seq((s"a.$z", s"10.7.$i.1"), (s"b.$z", s"10.7.$i.2"))
      }.toSet
      assert(got == want)
      assert(srv.connectionCount == 4, "expected one connection per pack")
    }
  }

  test("12-zone wire IXFR: updated zones ship deltas, current zones ship nothing") {
    val spark = graft.SparkTestSession.spark
    withServer { srv =>
      val zones = (0 until 12).map(i => s"x$i.breadth.acme.")
      zones.foreach(z => srv.backing.addZone(z, Seq(ARecord(s"a.$z", "10.8.0.1"))))
      // bump 5 of the 12 to serial 2: one add + one delete each
      val bumped = zones.take(5)
      bumped.foreach { z =>
        srv.backing.update(z, Seq(ARecord(s"n.$z", "10.8.0.2")),
          Seq(ARecord(s"a.$z", "10.8.0.1")))
      }
      val df = spark.read.format("dns")
        .option("server", srv.host).option("port", srv.port.toString)
        .option("organization", "acme")
        .option("zones", zones.map(_.dropRight(1)).mkString(","))
        .option("xfr", "IXFR").option("serial", "1").load()
      assert(df.rdd.getNumPartitions == 4) // 12 zones packed on local[4]
      val rows = df.select("fqdn", "action").collect()
        .map(r => (r.getString(0), r.getString(1)))
      // 5 bumped zones x (1 delete + 1 add); the 7 up-to-date zones
      // answer [SOA] (RFC 1995 up-to-date) and contribute zero rows
      assert(rows.length == 10, rows.mkString(", "))
      assert(rows.count(_._2 == DnsAction.IxfrAdd) == 5)
      assert(rows.count(_._2 == DnsAction.IxfrDelete) == 5)
      assert(bumped.forall(z => rows.contains((s"n.$z", DnsAction.IxfrAdd))))
    }
  }

  /** Multi-zone one-shot wire server where `poison` zones truncate
    * mid-transfer (opening SOA + one record, then close — no
    * terminating SOA): the per-zone failure matrix needs a server
    * that is healthy for SOME zones on the SAME port. */
  private def withPoisonServer(good: Seq[String], poison: Set[String])
                              (f: (String, Int) => Unit): Unit = {
    val ss = new java.net.ServerSocket(0, 50, java.net.InetAddress.getByName("127.0.0.1"))
    val acceptor = new Thread(() => {
      try while (true) {
        val sock = ss.accept()
        val h = new Thread(() => {
          try {
            val in = new java.io.DataInputStream(sock.getInputStream)
            val out = new java.io.DataOutputStream(sock.getOutputStream)
            val req = readFramed(in)
            val zone = req.questions.head.name
            def msg(rrs: Seq[Rr]) = Message(req.id,
              responseFlags(OpcodeQuery, RcodeNoError), req.questions, rrs, Nil, Nil)
            if (poison(zone)) {
              writeFramed(out, msg(Seq(
                Rr(zone, TypeSoa, ClassIn, 0, SoaData(3)),
                Rr(s"trunc.$zone", TypeA, ClassIn, 60, AData("10.9.9.9")))))
            } else {
              val soa = Rr(zone, TypeSoa, ClassIn, 0, SoaData(1))
              writeFramed(out, msg(Seq(soa,
                Rr(s"a.$zone", TypeA, ClassIn, 60, AData("10.9.0.1")), soa)))
            }
          } catch { case _: Throwable => () }
          finally sock.close() // poison zones: truncate without the closing SOA
        })
        h.setDaemon(true)
        h.start()
      } catch { case _: java.io.IOException => () } // closed
    })
    acceptor.setDaemon(true)
    acceptor.start()
    try f("127.0.0.1", ss.getLocalPort) finally ss.close()
  }

  test("mid-transfer disconnect on ONE zone: ignore-failures matrix on the wire path") {
    // The reference exercises its failure matrix against live Bind
    // (DnsSourceRelationProviderTest.java:98-124,149-200); here the
    // same matrix runs against a real TCP server that truncates one
    // zone's transfer mid-stream. ignore-failures=true: the poisoned
    // zone contributes 0 rows and every healthy zone still lands
    // (per-ZONE suppression, not whole-read). Default (false): the
    // read fails loudly — a truncated zone must never pass as empty.
    val spark = graft.SparkTestSession.spark
    val good = (0 until 3).map(i => s"g$i.matrix.acme.")
    val poison = "p.matrix.acme."
    withPoisonServer(good, Set(poison)) { (host, port) =>
      def read(ignore: Boolean) = spark.read.format("dns")
        .option("server", host).option("port", port.toString)
        .option("organization", "acme")
        .option("zones", (good :+ poison).map(_.dropRight(1)).mkString(","))
        .option("xfr", "AXFR")
        .option("ignore-failures", ignore.toString)
        .load()

      val lenient = read(ignore = true).select("fqdn").collect().map(_.getString(0)).toSet
      assert(lenient == good.map(z => s"a.$z").toSet,
        s"healthy zones only, got $lenient")

      val e = intercept[org.apache.spark.SparkException](read(ignore = false).count())
      def rootChain(t: Throwable): Seq[Throwable] =
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq
      assert(rootChain(e).exists(_.isInstanceOf[java.io.IOException]),
        s"expected an IOException in the cause chain, got $e")
    }
  }

  test("full connector stack over the wire: read and write with client=wire") {
    val spark = graft.SparkTestSession.spark
    withServer { srv =>
      srv.backing.addZone("w.acme.", Seq(ARecord("a.w.acme.", "10.2.0.1")))

      // write through the V2 sink, over TCP
      import spark.implicits._
      Seq((DnsAction.IxfrAdd, "b.w.acme", "10.2.0.2", new java.sql.Timestamp(5L), 60))
        .toDF("action", "fqdn", "ip", "timestamp", "ttl")
        .write.format("dns_update")
        .option("server", srv.host).option("port", srv.port.toString)
        .mode("append").save()
      assert(srv.backing.lookup("b.w.acme.") == Seq("10.2.0.2"))

      // read back through the V2 source, over TCP (AXFR)
      val df = spark.read.format("dns")
        .option("server", srv.host).option("port", srv.port.toString)
        .option("organization", "acme").option("zones", "w.acme")
        .option("xfr", "AXFR").load()
      val got = df.select("fqdn", "ip").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      assert(got == Set(("a.w.acme.", "10.2.0.1"), ("b.w.acme.", "10.2.0.2")))
      assert(df.select("action").distinct().collect().map(_.getString(0)).toSeq
        == Seq(DnsAction.Axfr))
    }
  }
}
