package graft.sources.dns

import org.scalatest.funsuite.AnyFunSuite
import DnsWire._

/** Golden wire-format vectors, hand-derived from RFC 1035 §4 (message
  * format, name compression), RFC 5936 (AXFR), and RFC 2136 (update).
  *
  * The zero-egress build can't point [[WireTransferClient]] at a real
  * BIND (the reference proves interop against a Bind9 container —
  * BindContainerFactory.java:21-22); these vectors are the closest
  * offline substitute: every byte below is derived from the RFC text,
  * NOT from this codec, so agreement means the codec speaks the
  * standard, not merely round-trips with itself. The decode-side
  * vectors deliberately use encodings our own encoder never emits —
  * compression pointers (§4.1.4) and full SOA MNAME/RNAME — because
  * that is exactly what a foreign server sends.
  */
class WireGoldenSpec extends AnyFunSuite {

  private def hex(s: String): Array[Byte] =
    s.split("\\s+").filter(_.nonEmpty).map(Integer.parseInt(_, 16).toByte)

  private def toHex(b: Array[Byte]): String =
    b.map(x => f"${x & 0xff}%02x").mkString(" ")

  // ------------------------------------------------------------- encode

  test("golden: AXFR query for example.com (RFC 1035 §4.1.1-4.1.2 + qtype 252)") {
    val q = Message(1, queryFlags(OpcodeQuery),
      Seq(Question("example.com.", TypeAxfr, ClassIn)), Nil, Nil, Nil)
    val expected = hex(
      "00 01" +        // ID = 1
      " 00 00" +       // QR=0 OPCODE=QUERY flags=0
      " 00 01 00 00 00 00 00 00" + // QD=1 AN=0 NS=0 AR=0
      " 07 65 78 61 6d 70 6c 65 03 63 6f 6d 00" + // 7"example"3"com"0
      " 00 fc" +       // QTYPE = 252 (AXFR)
      " 00 01")        // QCLASS = IN
    assert(toHex(encode(q)) == toHex(expected))
  }

  test("golden: IXFR query carries client SOA in authority (RFC 1995 §3)") {
    val z = "example.com."
    val q = Message(1, queryFlags(OpcodeQuery),
      Seq(Question(z, TypeIxfr, ClassIn)),
      Nil, Seq(Rr(z, TypeSoa, ClassIn, 0, SoaData(41))), Nil)
    val expected = hex(
      "00 01 00 00" +
      " 00 01 00 00 00 01 00 00" + // QD=1 NS=1
      " 07 65 78 61 6d 70 6c 65 03 63 6f 6d 00 00 fb 00 01" + // QTYPE 251 (IXFR)
      // authority SOA: name, type 6, class 1, ttl 0
      " 07 65 78 61 6d 70 6c 65 03 63 6f 6d 00 00 06 00 01 00 00 00 00" +
      " 00 16" +       // RDLENGTH = 22: root mname(1) + root rname(1) + 5×u32
      " 00 00" +       // MNAME="." RNAME="." (root-encoded)
      " 00 00 00 29" + // SERIAL = 41
      " 00 00 00 00 00 00 00 00 00 00 00 00 00 00 00 00") // timers
    assert(toHex(encode(q)) == toHex(expected))
  }

  test("golden: RFC 2136 update — class-IN add, class-NONE delete") {
    val z = "example.com."
    val m = Message(1, queryFlags(OpcodeUpdate),
      Seq(Question(z, TypeSoa, ClassIn)), Nil,
      Seq(Rr("www.example.com.", TypeA, ClassIn, 300, AData("192.0.2.1")),
          Rr("old.example.com.", TypeA, ClassNone, 0, AData("192.0.2.9"))), Nil)
    val expected = hex(
      "00 01" +
      " 28 00" +       // QR=0 OPCODE=5 (UPDATE) << 11
      " 00 01 00 00 00 02 00 00" + // zone=1, update RRs in NS count = 2
      " 07 65 78 61 6d 70 6c 65 03 63 6f 6d 00 00 06 00 01" + // zone section
      // add: www.example.com. IN A 192.0.2.1 ttl 300
      " 03 77 77 77 07 65 78 61 6d 70 6c 65 03 63 6f 6d 00" +
      " 00 01 00 01 00 00 01 2c 00 04 c0 00 02 01" +
      // delete: old.example.com. NONE A 192.0.2.9 ttl 0 (RFC 2136 §2.5.4)
      " 03 6f 6c 64 07 65 78 61 6d 70 6c 65 03 63 6f 6d 00" +
      " 00 01 00 fe 00 00 00 00 00 04 c0 00 02 09")
    assert(toHex(encode(m)) == toHex(expected))
  }

  test("golden: AXFR response encodes SOA, A records, closing SOA (RFC 5936 §2.2)") {
    val z = "example.com."
    val m = Message(7, responseFlags(OpcodeQuery, RcodeNoError),
      Seq(Question(z, TypeAxfr, ClassIn)),
      Seq(Rr(z, TypeSoa, ClassIn, 0, SoaData(3)),
          Rr("a.example.com.", TypeA, ClassIn, 3600, AData("10.0.0.1")),
          Rr(z, TypeSoa, ClassIn, 0, SoaData(3))), Nil, Nil)
    val soaHex =
      "07 65 78 61 6d 70 6c 65 03 63 6f 6d 00 00 06 00 01 00 00 00 00" +
      " 00 16 00 00 00 00 00 03" +
      " 00 00 00 00 00 00 00 00 00 00 00 00 00 00 00 00"
    val expected = hex(
      "00 07 80 00" + // ID=7, QR=1 rcode=0
      " 00 01 00 03 00 00 00 00" +
      " 07 65 78 61 6d 70 6c 65 03 63 6f 6d 00 00 fc 00 01" +
      " " + soaHex +
      " 01 61 07 65 78 61 6d 70 6c 65 03 63 6f 6d 00" + // a.example.com.
      " 00 01 00 01 00 00 0e 10 00 04 0a 00 00 01" +
      " " + soaHex)
    assert(toHex(encode(m)) == toHex(expected))
  }

  test("golden: SOA query and the server's one-RR answer (RFC 1035 §4.1, QTYPE 6)") {
    val query = hex(
      "00 01 00 00" +  // ID=1, QR=0 OPCODE=QUERY
      " 00 01 00 00 00 00 00 00" +
      " 07 65 78 61 6d 70 6c 65 03 63 6f 6d 00" +
      " 00 06" +       // QTYPE = 6 (SOA)
      " 00 01")
    assert(toHex(encode(soaQuery("example.com"))) == toHex(query))
    val answer = hex(
      "00 01 80 00" +  // ID=1, QR=1 rcode=0
      " 00 01 00 01 00 00 00 00" + // QD=1 AN=1
      " 07 65 78 61 6d 70 6c 65 03 63 6f 6d 00 00 06 00 01" +
      // the zone's SOA: ttl 0, root MNAME/RNAME, SERIAL = 3, zero timers
      " 07 65 78 61 6d 70 6c 65 03 63 6f 6d 00 00 06 00 01 00 00 00 00" +
      " 00 16 00 00 00 00 00 03" +
      " 00 00 00 00 00 00 00 00 00 00 00 00 00 00 00 00")
    Loopback.withServer { srv =>
      srv.backing.addZone("example.com.", Nil)
      srv.backing.update("example.com.", Seq(ARecord("a.example.com.", "10.0.0.1")), Nil)
      srv.backing.update("example.com.", Seq(ARecord("b.example.com.", "10.0.0.2")), Nil)
      val sock = new java.net.Socket(srv.host, srv.port)
      try {
        sock.setSoTimeout(10000)
        sock.getOutputStream.write(hex("00 1d") ++ query)
        val in = new java.io.DataInputStream(sock.getInputStream)
        val len = in.readUnsignedShort()
        val got = new Array[Byte](len)
        in.readFully(got)
        assert(len == answer.length)
        assert(toHex(got) == toHex(answer))
      } finally sock.close()
    }
  }

  // ------------------------------------------------- encode edge cases
  // Input handling the encoder must keep exactly: which names and IPs
  // it accepts, how it normalizes them, and the message it rejects with.

  private def aMsg(name: String, ip: String) = Message(1, queryFlags(OpcodeUpdate),
    Seq(Question("example.com.", TypeSoa, ClassIn)), Nil,
    Seq(Rr(name, TypeA, ClassIn, 60, AData(ip))), Nil)

  private def rejection(m: Message): String =
    intercept[IllegalArgumentException](encode(m)).getMessage

  test("encode: a name without the trailing dot encodes as the absolute name") {
    def q(n: String) = Message(1, queryFlags(OpcodeQuery),
      Seq(Question(n, TypeAxfr, ClassIn)), Nil, Nil, Nil)
    assert(toHex(encode(q("example.com"))) == toHex(encode(q("example.com."))))
    assert(toHex(encode(aMsg("www.example.com", "10.0.0.1"))) ==
      toHex(encode(aMsg("www.example.com.", "10.0.0.1"))))
  }

  test("encode: empty labels are skipped, the root name is one zero byte") {
    val m = Message(1, queryFlags(OpcodeQuery),
      Seq(Question("a..b.", TypeAxfr, ClassIn), Question(".", TypeAxfr, ClassIn)),
      Nil, Nil, Nil)
    assert(toHex(encode(m)) == toHex(hex(
      "00 01 00 00 00 02 00 00 00 00 00 00" +
      " 01 61 01 62 00 00 fc 00 01" + // a..b. -> 1"a"1"b"0
      " 00 00 fc 00 01")))            // .     -> 0
  }

  test("encode: a 63-byte label is accepted, a 64-byte label is rejected") {
    val ok = ("x" * 63) + ".example.com."
    val body = encode(aMsg(ok, "10.0.0.1"))
    assert(decode(body).authority.map(_.name) == Seq(ok))
    val bad = ("x" * 64) + ".example.com."
    assert(rejection(aMsg(bad, "10.0.0.1")) == s"requirement failed: label too long in '$bad'")
  }

  test("encode: malformed IPv4 rdata is rejected with the codec's messages") {
    assert(rejection(aMsg("a.example.com.", "300.1.1.1")) ==
      "requirement failed: IPv4 octet out of range in '300.1.1.1'")
    assert(rejection(aMsg("a.example.com.", "1.2.3")) ==
      "requirement failed: not an IPv4 address: '1.2.3'")
    assert(rejection(aMsg("a.example.com.", "1.2.3.4.5")) ==
      "requirement failed: not an IPv4 address: '1.2.3.4.5'")
    assert(rejection(aMsg("a.example.com.", "a.b.c.d")) ==
      "not an IPv4 address: 'a.b.c.d'")
  }

  // ------------------------------------------------------------- decode
  // These vectors use foreign-encoder shapes: compression pointers and
  // full (non-root) SOA MNAME/RNAME, which this codec never produces.

  test("golden decode: answer name via compression pointer to the question (RFC 1035 §4.1.4)") {
    val m = decode(hex(
      "12 34 80 00" +                    // ID=0x1234, response
      " 00 01 00 01 00 00 00 00" +
      " 07 65 78 61 6d 70 6c 65 03 63 6f 6d 00 00 01 00 01" + // question at offset 12
      " c0 0c" +                         // answer name = pointer to offset 12
      " 00 01 00 01 00 00 0e 10 00 04 c0 00 02 01"))
    assert(m.id == 0x1234 && m.isResponse)
    assert(m.answers == Seq(Rr("example.com.", TypeA, ClassIn, 3600L, AData("192.0.2.1"))))
  }

  test("golden decode: label prefix + pointer tail (www + ->example.com)") {
    val m = decode(hex(
      "00 01 80 00 00 01 00 01 00 00 00 00" +
      " 07 65 78 61 6d 70 6c 65 03 63 6f 6d 00 00 01 00 01" +
      " 03 77 77 77 c0 0c" +             // "www" then pointer to offset 12
      " 00 01 00 01 00 00 00 3c 00 04 0a 00 00 02"))
    assert(m.answers == Seq(Rr("www.example.com.", TypeA, ClassIn, 60L, AData("10.0.0.2"))))
  }

  test("golden decode: SOA with real MNAME/RNAME (pointer-compressed) yields the serial") {
    // rdata: MNAME = ns1 + ptr(12) = 6 bytes, RNAME = admin + ptr(12)
    // = 8 bytes, serial + 4 timers = 20 bytes -> RDLENGTH 34
    val m = decode(hex(
      "00 02 80 00 00 01 00 01 00 00 00 00" +
      " 07 65 78 61 6d 70 6c 65 03 63 6f 6d 00 00 fc 00 01" +
      " c0 0c 00 06 00 01 00 00 00 00" +
      " 00 22" +                         // RDLENGTH = 34
      " 03 6e 73 31 c0 0c" +             // MNAME ns1.example.com.
      " 05 61 64 6d 69 6e c0 0c" +       // RNAME admin.example.com.
      " 00 00 00 2a" +                   // SERIAL = 42
      " 00 00 0e 10 00 00 01 2c 00 09 3a 80 00 00 00 3c")) // timers
    assert(m.answers == Seq(Rr("example.com.", TypeSoa, ClassIn, 0L, SoaData(42))))
  }

  test("golden decode: pointer loop is rejected, not spun on") {
    // a name that points at itself
    val bytes = hex(
      "00 01 00 00 00 01 00 00 00 00 00 00" +
      " c0 0c 00 01 00 01") // question name at offset 12 points to offset 12
    assertThrows[IllegalArgumentException](decode(bytes))
  }

  test("golden: encode/decode round-trip equals the original message") {
    val z = "zone.test."
    val m = Message(99, responseFlags(OpcodeQuery, RcodeNoError),
      Seq(Question(z, TypeIxfr, ClassIn)),
      Seq(Rr(z, TypeSoa, ClassIn, 0, SoaData(5)),
          Rr(z, TypeSoa, ClassIn, 0, SoaData(4)),
          Rr("gone.zone.test.", TypeA, ClassIn, 0, AData("10.1.1.1")),
          Rr(z, TypeSoa, ClassIn, 0, SoaData(5)),
          Rr("new.zone.test.", TypeA, ClassIn, 600, AData("10.1.1.2")),
          Rr(z, TypeSoa, ClassIn, 0, SoaData(5))), Nil, Nil)
    assert(decode(encode(m)) == m)
  }

  test("golden: TCP framing prefixes the 2-byte length (RFC 1035 §4.2.2)") {
    val m = Message(1, queryFlags(OpcodeQuery),
      Seq(Question("example.com.", TypeAxfr, ClassIn)), Nil, Nil, Nil)
    val buf = new java.io.ByteArrayOutputStream()
    writeFramed(new java.io.DataOutputStream(buf), m)
    val framed = buf.toByteArray
    val body = encode(m)
    assert(framed.length == body.length + 2)
    assert(((framed(0) & 0xff) << 8 | (framed(1) & 0xff)) == body.length)
    assert(framed.drop(2).sameElements(body))
    val back = readFramed(new java.io.DataInputStream(
      new java.io.ByteArrayInputStream(framed)))
    assert(back == m)
  }

  test("framing: writeFramed issues exactly one write and leaves the flush to the caller") {
    val m = Message(1, queryFlags(OpcodeQuery),
      Seq(Question("example.com.", TypeAxfr, ClassIn)), Nil, Nil, Nil)
    val sink = new java.io.ByteArrayOutputStream()
    var writes = 0
    var flushes = 0
    val counting = new java.io.OutputStream {
      override def write(b: Int): Unit = { writes += 1; sink.write(b) }
      override def write(b: Array[Byte], off: Int, len: Int): Unit = {
        writes += 1; sink.write(b, off, len)
      }
      override def flush(): Unit = flushes += 1
    }
    writeFramed(counting, m)
    assert(writes == 1 && flushes == 0, s"writes=$writes flushes=$flushes")
    assert(toHex(sink.toByteArray) == toHex(hex("00 1d") ++ encode(m)))
  }

  test("framing: a 65,535-byte message is framed, one byte more is rejected unwritten") {
    // 12-byte header + 5,955 root-named RRs of 11 bytes + one of 18
    // ("abcdef." = 8-byte name) = 65,535; "abcdefg." adds the one byte
    def msg(last: String) = Message(1, queryFlags(OpcodeUpdate), Nil, Nil,
      Seq.fill(5955)(Rr(".", TypeA, ClassAny, 0, EmptyData)) :+
        Rr(last, TypeA, ClassAny, 0, EmptyData), Nil)
    val max = msg("abcdef.")
    assert(encode(max).length == MaxFramedBytes)
    val framed = frame(max)
    assert(framed.length == MaxFramedBytes + 2 && framed(0) == -1 && framed(1) == -1)

    val sink = new java.io.ByteArrayOutputStream()
    val e = intercept[IllegalArgumentException](writeFramed(sink, msg("abcdefg.")))
    assert(e.getMessage == "DNS message of 65536 bytes exceeds the 65535-byte TCP frame limit")
    assert(sink.size == 0)
  }
}
