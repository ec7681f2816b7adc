package graft.sources.dns

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, EOFException, IOException, OutputStream}
import java.net.{InetSocketAddress, ServerSocket, Socket}
import java.nio.charset.StandardCharsets

/** DNS wire protocol, the connector's one transport, hand-built from
  * the public RFCs (1035 message format, TCP framing and the SOA
  * query, 5936 AXFR, 1995 IXFR, 2136 dynamic update) — the role
  * dnsjava plays in the reference (Xfr.java:37-50,
  * DnsUpdate.java:46-81). The zero-egress
  * build can't reach a real BIND, so [[WireDnsServer]] serves the same
  * protocol over loopback TCP from an [[InMemoryDnsServer]]; the client
  * side ([[WireTransferClient]], [[WireUpdateEmitter]]) is a real socket
  * client — framing, timeouts, rcode handling — and would point at any
  * standards-compliant server unchanged. Scope: A records in class IN,
  * the subset the connector's schema carries.
  */
object DnsWire {
  // record types / classes (RFC 1035 §3.2, RFC 1995, RFC 5936)
  val TypeA = 1
  val TypeSoa = 6
  val TypeIxfr = 251
  val TypeAxfr = 252
  val ClassIn = 1
  val ClassNone = 254 // RFC 2136 §2.5.4: delete specific RR
  val ClassAny = 255 // RFC 2136 §2.5.2: delete the RRset at a name (empty RDATA)

  val OpcodeQuery = 0
  val OpcodeUpdate = 5 // RFC 2136

  val RcodeNoError = 0
  val RcodeServFail = 2
  val RcodeNotAuth = 9

  /** One resource record; rdata stays structural (no raw bytes above
    * the codec): A → ip string, SOA → (serial). */
  sealed trait Rdata
  case class AData(ip: String) extends Rdata
  case class SoaData(serial: Long) extends Rdata
  /** RDLENGTH 0 — the §2.5.2 delete-RRset form carries no RDATA. */
  case object EmptyData extends Rdata
  case class Rr(name: String, rtype: Int, rclass: Int, ttl: Long, rdata: Rdata)

  case class Question(name: String, qtype: Int, qclass: Int)

  /** A DNS message. `authority` carries the client SOA in IXFR queries
    * and the update RRs in RFC 2136 messages (where the sections are
    * re-labelled zone/prereq/update/additional but share the format). */
  case class Message(id: Int, flags: Int, questions: Seq[Question],
                     answers: Seq[Rr], authority: Seq[Rr], additional: Seq[Rr]) {
    def opcode: Int = (flags >> 11) & 0xf
    def rcode: Int = flags & 0xf
    def isResponse: Boolean = (flags & 0x8000) != 0
  }

  /** The refresh check's query: one question for the zone's SOA RR. */
  def soaQuery(zone: String): Message =
    Message(1, queryFlags(OpcodeQuery), Seq(Question(Fqdn.normalize(zone), TypeSoa, ClassIn)),
      Nil, Nil, Nil)

  def queryFlags(opcode: Int): Int = (opcode & 0xf) << 11
  def responseFlags(opcode: Int, rcode: Int): Int =
    0x8000 | ((opcode & 0xf) << 11) | (rcode & 0xf)

  // ------------------------------------------------------------ encode

  /** The longest label a name may carry (RFC 1035 §2.3.4). */
  final val MaxLabelBytes = 63

  /** Writes a message straight into one array sized from an upper bound
    * of its encoding, so nothing grows or is copied on the way. The
    * first `offset` bytes stay free for the TCP length prefix. */
  private final class Writer(capacity: Int, offset: Int) {
    private val buf = new Array[Byte](capacity)
    private var pos = offset

    def u8(v: Int): Unit = { buf(pos) = v.toByte; pos += 1 }
    def u16(v: Int): Unit = { buf(pos) = (v >>> 8).toByte; buf(pos + 1) = v.toByte; pos += 2 }
    def u32(v: Int): Unit = { u16(v >>> 16); u16(v) }

    /** Bytes written after the reserved offset. */
    def size: Int = pos - offset
    def setU16(at: Int, v: Int): Unit = { buf(at) = (v >>> 8).toByte; buf(at + 1) = v.toByte }
    def toArray: Array[Byte] =
      if (pos == buf.length) buf else java.util.Arrays.copyOf(buf, pos)

    /** Labels of the absolute form of `name`, empty labels skipped. */
    def name(name: String): Unit = {
      var start = 0
      while (start < name.length) {
        var end = name.indexOf('.', start)
        if (end < 0) end = name.length
        if (end > start) label(name, start, end)
        start = end + 1
      }
      u8(0)
    }

    private def label(name: String, start: Int, end: Int): Unit = {
      var i = start
      while (i < end && name.charAt(i) < 0x80) i += 1
      if (i == end) {
        require(end - start <= MaxLabelBytes, s"label too long in '$name'")
        u8(end - start)
        i = start
        while (i < end) { buf(pos) = name.charAt(i).toByte; pos += 1; i += 1 }
      } else {
        // non-ASCII: the charset's replacement rules set the byte count
        val bytes = name.substring(start, end).getBytes(StandardCharsets.US_ASCII)
        require(bytes.length <= MaxLabelBytes, s"label too long in '$name'")
        u8(bytes.length)
        System.arraycopy(bytes, 0, buf, pos, bytes.length)
        pos += bytes.length
      }
    }

    /** A dotted quad: four '.'-separated fields (trailing empty fields
      * ignored), each an optionally signed decimal integer in 0..255.
      * Out-of-range octets are rejected rather than silently truncated
      * to a byte — a record like '300.1.1.1' must fail the write, not
      * land as 44.1.1.1. */
    def ipv4(ip: String): Unit = {
      var end = ip.length
      while (end > 0 && ip.charAt(end - 1) == '.') end -= 1
      var fields = 1
      var i = 0
      while (i < end) { if (ip.charAt(i) == '.') fields += 1; i += 1 }
      require(fields == 4, s"not an IPv4 address: '$ip'")
      u16(4)
      var start = 0
      while (start < end) {
        var stop = ip.indexOf('.', start)
        if (stop < 0) stop = end
        u8(octet(ip, start, stop))
        start = stop + 1
      }
    }

    private def octet(ip: String, start: Int, end: Int): Int = {
      def malformed = new IllegalArgumentException(s"not an IPv4 address: '$ip'")
      val negative = start < end && ip.charAt(start) == '-'
      var i = if (negative || (start < end && ip.charAt(start) == '+')) start + 1 else start
      if (i == end) throw malformed
      var v = 0L
      while (i < end) {
        val d = Character.digit(ip.charAt(i), 10)
        if (d < 0) throw malformed
        v = v * 10 + d
        if (v > Int.MaxValue + 1L) throw malformed
        i += 1
      }
      if (!negative && v > Int.MaxValue) throw malformed
      if (negative) v = -v
      require(v >= 0 && v <= 255, s"IPv4 octet out of range in '$ip'")
      v.toInt
    }

    def rr(rr: Rr): Unit = {
      name(rr.name)
      u16(rr.rtype)
      u16(rr.rclass)
      u32(rr.ttl.toInt)
      rr.rdata match {
        case AData(ip) => ipv4(ip)
        case EmptyData => u16(0)
        case SoaData(serial) =>
          // MNAME/RNAME are irrelevant to transfer/update semantics;
          // root-encode them (1 byte each) and zero the timers.
          u16(1 + 1 + 20)
          u8(0) // mname = "."
          u8(0) // rname = "."
          u32(serial.toInt)
          u32(0); u32(0); u32(0); u32(0)
      }
    }
  }

  /** Upper bound on a message's encoded size: a name takes at most one
    * byte per character plus two, an RR its fixed 10 bytes plus its
    * rdata ([[rdataBytes]]). */
  private def encodedBound(m: Message): Int = {
    var n = 12
    m.questions.foreach(q => n += q.name.length + 2 + 4)
    def rrs(s: Seq[Rr]): Unit = s.foreach(r => n += rrBound(r))
    rrs(m.answers); rrs(m.authority); rrs(m.additional)
    n
  }

  private def rrBound(r: Rr): Int = r.name.length + 2 + 10 + rdataBytes(r.rdata)

  /** RDATA bytes as [[Writer.rr]] writes them: an address 4, the
    * root-named SOA 22, the delete-RRset form none. */
  private def rdataBytes(d: Rdata): Int = d match {
    case _: AData => 4
    case _: SoaData => 22
    case EmptyData => 0
  }

  private def write(m: Message, offset: Int): Writer = {
    val w = new Writer(offset + encodedBound(m), offset)
    w.u16(m.id)
    w.u16(m.flags)
    w.u16(m.questions.size)
    w.u16(m.answers.size)
    w.u16(m.authority.size)
    w.u16(m.additional.size)
    m.questions.foreach { q => w.name(q.name); w.u16(q.qtype); w.u16(q.qclass) }
    m.answers.foreach(w.rr)
    m.authority.foreach(w.rr)
    m.additional.foreach(w.rr)
    w
  }

  def encode(m: Message): Array[Byte] = write(m, 0).toArray

  // ------------------------------------------------------------ decode

  private final class Reader(bytes: Array[Byte]) {
    var pos = 0
    def u8(): Int = { val v = bytes(pos) & 0xff; pos += 1; v }
    def u16(): Int = (u8() << 8) | u8()
    def u32(): Long = (u16().toLong << 16) | u16().toLong

    /** Name decode with RFC 1035 §4.1.4 compression-pointer support. */
    def name(): String = {
      val sb = new StringBuilder
      var p = pos
      var jumped = false
      var hops = 0
      var continue = true
      while (continue) {
        val len = bytes(p) & 0xff
        if ((len & 0xc0) == 0xc0) {
          val target = ((len & 0x3f) << 8) | (bytes(p + 1) & 0xff)
          if (!jumped) pos = p + 2
          p = target
          jumped = true
          hops += 1
          require(hops < 64, "compression pointer loop")
        } else if (len == 0) {
          if (!jumped) pos = p + 1
          continue = false
        } else {
          sb.append(new String(bytes, p + 1, len, StandardCharsets.US_ASCII)).append('.')
          p += 1 + len
        }
      }
      if (sb.isEmpty) "." else sb.toString
    }

    def rr(): Rr = {
      val n = name()
      val rtype = u16(); val rclass = u16(); val ttl = u32(); val rdlen = u16()
      val end = pos + rdlen
      val rdata = rtype match {
        case TypeA if rdlen == 0 => EmptyData // §2.5.2 delete-RRset form
        case TypeA =>
          require(rdlen == 4, s"A rdata length $rdlen")
          AData(s"${u8()}.${u8()}.${u8()}.${u8()}")
        case TypeSoa =>
          name(); name() // mname, rname
          val serial = u32()
          pos = end // skip timers
          SoaData(serial)
        case other =>
          throw new IOException(s"unsupported record type $other in transfer")
      }
      pos = end
      Rr(n, rtype, rclass, ttl, rdata)
    }
  }

  def decode(bytes: Array[Byte]): Message = {
    val r = new Reader(bytes)
    val id = r.u16(); val flags = r.u16()
    val qd = r.u16(); val an = r.u16(); val ns = r.u16(); val ar = r.u16()
    val questions = (0 until qd).map(_ => Question(r.name(), r.u16(), r.u16()))
    val answers = (0 until an).map(_ => r.rr())
    val authority = (0 until ns).map(_ => r.rr())
    val additional = (0 until ar).map(_ => r.rr())
    Message(id, flags, questions, answers, authority, additional)
  }

  // ------------------------------------------------- TCP framing (§4.2.2)

  /** The largest message a TCP frame can carry: its length prefix is
    * 16 bits. */
  val MaxFramedBytes = 65535

  /** `m` encoded behind its 2-byte length prefix, ready for one `write`.
    * A message over [[MaxFramedBytes]] is rejected here, before any
    * byte of it can reach a stream. */
  def frame(m: Message): Array[Byte] = {
    val w = write(m, 2)
    if (w.size > MaxFramedBytes) throw new IllegalArgumentException(
      s"DNS message of ${w.size} bytes exceeds the $MaxFramedBytes-byte TCP frame limit")
    w.setU16(0, w.size)
    w.toArray
  }

  /** `m` as consecutive messages that each fit one frame by
    * [[encodedBound]]: its authority section (an update's RRs) is cut,
    * in order, into runs that share `m`'s header and question. A
    * message whose bound fits comes back as is, so it is never split
    * and encodes once. An RR too large for any frame is a run of its
    * own and fails at [[frame]]. */
  def splitForFrames(m: Message): Seq[Message] =
    if (encodedBound(m) <= MaxFramedBytes) Seq(m)
    else {
      val fixed = encodedBound(m.copy(authority = Nil))
      val runs = scala.collection.mutable.ArrayBuffer.empty[Message]
      val run = scala.collection.mutable.ArrayBuffer.empty[Rr]
      var size = fixed
      m.authority.foreach { r =>
        if (run.nonEmpty && size + rrBound(r) > MaxFramedBytes) {
          runs += m.copy(authority = run.toSeq)
          run.clear()
          size = fixed
        }
        run += r
        size += rrBound(r)
      }
      runs += m.copy(authority = run.toSeq)
      runs.toSeq
    }

  /** Writes `m` as one frame in a single `write`. It does not flush:
    * the caller flushes once per exchange, after its last message. */
  def writeFramed(out: OutputStream, m: Message): Unit = out.write(frame(m))

  def readFramed(in: DataInputStream): Message = {
    val len = in.readUnsignedShort()
    val bytes = new Array[Byte](len)
    in.readFully(bytes)
    decode(bytes)
  }
}

/** Loopback TCP server speaking the wire protocol, backed by an
  * [[InMemoryDnsServer]] for zone state (AXFR/IXFR/update logic lives
  * there; this class is only the protocol). Single-threaded accept loop
  * on a daemon thread; each connection handles any number of framed
  * requests. */
final class WireDnsServer(val backing: InMemoryDnsServer = new InMemoryDnsServer) {
  import DnsWire._

  private val serverSocket = new ServerSocket()
  serverSocket.bind(new InetSocketAddress("127.0.0.1", 0))
  def port: Int = serverSocket.getLocalPort
  def host: String = "127.0.0.1"

  @volatile private var running = true

  /** Connections accepted since construction — the observable that
    * client connection reuse is graded on, as transfers are on
    * `backing.transferCount`. */
  private val accepted = new java.util.concurrent.atomic.AtomicLong(0L)
  def connectionCount: Long = accepted.get()

  /** SOA queries answered, a NOTAUTH for an unknown zone included —
    * the observable that stream polling is graded on, beside
    * `backing.transferCount`. */
  private val soaAnswered = new java.util.concurrent.atomic.AtomicLong(0L)
  def soaQueryCount: Long = soaAnswered.get()

  private val acceptor = new Thread(() => {
    while (running) {
      try {
        val sock = serverSocket.accept()
        accepted.incrementAndGet()
        val t = new Thread(() => serve(sock), s"wire-dns-conn")
        t.setDaemon(true)
        t.start()
      } catch { case _: IOException => () } // closed
    }
  }, s"wire-dns-accept")
  acceptor.setDaemon(true)
  acceptor.start()

  def close(): Unit = { running = false; serverSocket.close() }

  private def serve(sock: Socket): Unit = {
    try {
      sock.setTcpNoDelay(true)
      val in = WireSocket.input(sock)
      val out = WireSocket.output(sock)
      while (true) {
        val req = DnsWire.readFramed(in)
        val resp = try handle(req) catch {
          case _: IllegalArgumentException =>
            // unknown zone → NOTAUTH, the rcode != 0 the reference maps
            // to a job failure (DnsUpdate.java:76-81)
            Seq(Message(req.id, responseFlags(req.opcode, RcodeNotAuth), req.questions,
              Nil, Nil, Nil))
        }
        // Every message is encoded before any is written, so a response
        // is all or nothing: un-encodable data (e.g. a malformed stored
        // record) answers one SERVFAIL, never a partial transfer, and
        // does not kill the connection — a died connection reads as
        // EOF, which ignore-failures would silently turn into an empty
        // zone.
        val frames = try resp.map(DnsWire.frame) catch {
          case _: IllegalArgumentException =>
            Seq(DnsWire.frame(Message(req.id,
              responseFlags(req.opcode, RcodeServFail), req.questions, Nil, Nil, Nil)))
        }
        frames.foreach(out.write)
        out.flush()
      }
    } catch {
      case _: EOFException | _: IOException => () // client done
    } finally sock.close()
  }

  private def soaRr(zone: String, serial: Long): Rr =
    Rr(zone, TypeSoa, ClassIn, 0, SoaData(serial))
  private def aRr(r: ARecord, ttl: Long = 3600): Rr =
    Rr(r.fqdn, TypeA, ClassIn, ttl, AData(r.ip))

  private def handle(req: Message): Seq[Message] = req.opcode match {
    case OpcodeQuery =>
      val q = req.questions.headOption.getOrElse(
        throw new IOException("query without question"))
      q.qtype match {
        case TypeSoa =>
          // RFC 1034 §4.3.5: the secondary's refresh check, one SOA RR
          // back; not a transfer, so `transferCount` does not move
          soaAnswered.incrementAndGet()
          val soa = soaRr(q.name, backing.serialOf(q.name))
          Seq(Message(req.id, responseFlags(OpcodeQuery, RcodeNoError), req.questions,
            Seq(soa), Nil, Nil))
        case TypeAxfr => axfrResponse(req, q.name)
        case TypeIxfr =>
          val clientSerial = req.authority.collectFirst {
            case Rr(_, TypeSoa, _, _, SoaData(s)) => s
          }.getOrElse(0L)
          ixfrResponse(req, q.name, clientSerial)
        case other => throw new IOException(s"unsupported qtype $other")
      }
    case OpcodeUpdate =>
      val zone = req.questions.headOption.map(_.name).getOrElse(
        throw new IOException("update without zone section"))
      val ops = req.authority.map {
        case Rr(name, TypeA, ClassIn, _, AData(ip)) => AddOp(ARecord(name, ip))
        case Rr(name, TypeA, ClassNone, _, AData(ip)) => DeleteOp(ARecord(name, ip))
        case Rr(name, TypeA, ClassAny, _, EmptyData) => DeleteNameOp(name)
        case rr => throw new IOException(s"unsupported update RR: $rr")
      }
      backing.applyOps(zone, ops) // throws on unknown zone → NOTAUTH
      Seq(Message(req.id, responseFlags(OpcodeUpdate, RcodeNoError), req.questions, Nil, Nil, Nil))
    case other => throw new IOException(s"unsupported opcode $other")
  }

  /** How many RRs per transfer response message. Real servers stream
    * large zones across many messages (RFC 5936 §2.2 for AXFR; RFC
    * 1995 §2 allows the same for IXFR); a small chunk makes EVERY
    * multi-record transfer in the suite — including the gated wire
    * keys — exercise the client's multi-message reassembly, not just a
    * golden vector. */
  private val XfrChunk = 5

  private def chunked(req: Message, rrs: Seq[Rr]): Seq[Message] =
    rrs.grouped(XfrChunk).map { chunk =>
      Message(req.id, responseFlags(OpcodeQuery, RcodeNoError), req.questions,
        chunk, Nil, Nil)
    }.toSeq

  /** RFC 5936: SOA, all records, closing SOA — streamed across
    * multiple framed messages of at most [[XfrChunk]] RRs. */
  private def axfrResponse(req: Message, zone: String): Seq[Message] =
    chunked(req, {
      val result = backing.axfr(zone)
      val soa = soaRr(zone, result.serial)
      (soa +: result.records.map(aRr(_))) :+ soa
    })

  /** RFC 1995: up-to-date → single SOA; journal hit → SOA(new) then per
    * delta SOA(old) deletes SOA(new) adds, closing SOA(new); journal
    * gap → AXFR-style response. Delta and AXFR-style bodies chunk like
    * AXFR; up-to-date stays one single-SOA message (the shape clients
    * terminate on). */
  private def ixfrResponse(req: Message, zone: String, clientSerial: Long): Seq[Message] =
    backing.ixfr(zone, clientSerial) match {
      case AxfrResult(serial, records) =>
        val soa = soaRr(zone, serial)
        chunked(req, (soa +: records.map(aRr(_))) :+ soa)
      case IxfrResult(serial, deltas) if deltas.isEmpty =>
        Seq(Message(req.id, responseFlags(OpcodeQuery, RcodeNoError), req.questions,
          Seq(soaRr(zone, serial)), Nil, Nil))
      case IxfrResult(serial, deltas) =>
        val body = deltas.flatMap { d =>
          (soaRr(zone, d.startSerial) +: d.deletes.map(aRr(_))) ++
            (soaRr(zone, d.endSerial) +: d.adds.map(aRr(_)))
        }
        chunked(req, (soaRr(zone, serial) +: body) :+ soaRr(zone, serial))
    }
}

private object WireSocket {
  /** Both ends buffer their streams, so a framed read or write costs no
    * syscall of its own; writers flush once per exchange. */
  private val BufferBytes = 64 * 1024

  def input(sock: Socket): DataInputStream =
    new DataInputStream(new BufferedInputStream(sock.getInputStream, BufferBytes))
  def output(sock: Socket): BufferedOutputStream =
    new BufferedOutputStream(sock.getOutputStream, BufferBytes)
}

/** The server answered with a non-zero rcode, and the exchange read
  * that answer whole, so the connection is still in step: the message
  * names the rcode, and [[WireConnection]] keeps the connection open. */
final class DnsRcodeException(message: String, val rcode: Int) extends IOException(message)

/** A client's one TCP connection to a DNS server, opened by the first
  * exchange and reused by every later one (RFC 7766 §6.2.1), until its
  * owner calls [[close]]. An exchange that throws closes it, so the
  * next one reconnects — except on a [[DnsRcodeException]], whose
  * answer was read whole; nothing is retried inside a call. timeout=0
  * always fails, before connecting (reference failure matrix);
  * otherwise it is a real connect + SO read timeout. TCP_NODELAY is
  * on: each exchange is one flushed request, so Nagle's algorithm only
  * adds delay. One owner, one thread: a task, or a driver-side commit. */
private final class WireConnection(host: String, port: Int) {
  private var sock: Socket = _
  private var in: DataInputStream = _
  private var out: OutputStream = _

  def exchange[A](timeoutSec: Int, what: String)(f: (DataInputStream, OutputStream) => A): A =
    try {
      if (timeoutSec == 0)
        throw new java.net.SocketTimeoutException(s"$what timed out (timeout=0)")
      if (sock == null) open(timeoutSec)
      sock.setSoTimeout(timeoutSec * 1000)
      f(in, out)
    } catch {
      case e: DnsRcodeException => throw e
      case t: Throwable => close(); throw t
    }

  private def open(timeoutSec: Int): Unit = {
    val s = new Socket()
    sock = s
    s.setTcpNoDelay(true)
    s.connect(new InetSocketAddress(host, port), timeoutSec * 1000)
    in = WireSocket.input(s)
    out = WireSocket.output(s)
  }

  /** Idempotent and quiet: it runs on failure paths, where an error of
    * its own would hide the one that closed the connection. */
  def close(): Unit = if (sock != null) {
    try sock.close() catch { case _: IOException => () }
    sock = null; in = null; out = null
  }
}

/** Zone transfers over TCP, each on the client's one connection
  * ([[WireConnection]]), transfer after transfer, until its owner
  * calls [[close]]. Reads framed messages until the closing SOA (AXFR
  * responses may span messages — RFC 5936 §2.2). */
final class WireTransferClient(host: String, port: Int) extends ZoneTransferClient {
  import DnsWire._

  @transient private lazy val connection = new WireConnection(host, port)

  def close(): Unit = connection.close()

  /** The zone's current SOA serial: one standard query (QTYPE=SOA,
    * RFC 1035), one RR back — how a secondary polls its primary
    * before deciding to transfer (RFC 1034 §4.3.5). An unknown zone
    * fails with the server's rcode, as a transfer does. */
  def serialOf(zone: String, timeoutSec: Int): Long =
    connection.exchange(timeoutSec, s"SOA query for '$zone'") { (in, out) =>
      writeFramed(out, soaQuery(zone))
      out.flush()
      val m = readFramed(in)
      if (m.rcode != RcodeNoError)
        throw new DnsRcodeException(s"SOA query for '$zone' failed: rcode ${m.rcode}", m.rcode)
      require(m.isResponse, "expected a response message")
      m.answers.collectFirst { case Rr(_, TypeSoa, _, _, SoaData(s)) => s }
        .getOrElse(throw new IOException(s"SOA query for '$zone' answered without a SOA RR"))
    }

  override def transfer(zone: String, serial: Long, xfr: XfrType,
                        timeoutSec: Int): TransferResult =
    connection.exchange(timeoutSec, s"zone transfer of '$zone'") { (in, out) =>
      val z = Fqdn.normalize(zone)
      // serial 0 ⇒ full transfer, like the reference (Xfr.java:43-48)
      val useAxfr = xfr == XfrType.AXFR || serial == 0L
      val query =
        if (useAxfr)
          Message(1, queryFlags(OpcodeQuery), Seq(Question(z, TypeAxfr, ClassIn)), Nil, Nil, Nil)
        else
          Message(1, queryFlags(OpcodeQuery), Seq(Question(z, TypeIxfr, ClassIn)),
            Nil, Seq(Rr(z, TypeSoa, ClassIn, 0, SoaData(serial))), Nil)
      writeFramed(out, query)
      out.flush()

      val rrs = scala.collection.mutable.ArrayBuffer.empty[Rr]
      var messages = 0
      def readInto(): Unit = {
        val m = readFramed(in)
        messages += 1
        if (m.rcode != RcodeNoError) {
          // A first response is the whole answer; a later one may leave
          // the rest of the transfer unread on the connection.
          val msg = s"zone transfer of '$zone' failed: rcode ${m.rcode}"
          throw (if (messages == 1) new DnsRcodeException(msg, m.rcode) else new IOException(msg))
        }
        require(m.isResponse, "expected a response message")
        rrs ++= m.answers
      }
      readInto()
      // AXFR record streams may span messages (RFC 5936 §2.2) and
      // contain SOAs only as first/last RR, so "ends with a SOA after
      // the first RR" is the exact termination test there. IXFR
      // responses may span messages too (RFC 1995 §2), but their delta
      // streams interleave SOA section-headers, so termination is
      // STATEFUL: walk the delta grammar and stop only at a SOA bearing
      // the new serial at a delta-START boundary ([[IxfrWalk]]).
      // A first message holding exactly one SOA is up-to-date, the
      // standard client reading (dnsjava does the same) of RFC 1995's
      // single-SOA response.
      if (useAxfr)
        while (!(rrs.size > 1 && rrs.last.rtype == TypeSoa)) readInto()
      else if (rrs.size == 1 && rrs.head.rtype == TypeSoa) ()
      else if (rrs(1).rtype != TypeSoa) // AXFR-style answer to IXFR (journal gap)
        while (!(rrs.size > 1 && rrs.last.rtype == TypeSoa)) readInto()
      else {
        val walk = new IxfrWalk(rrs)
        while (!walk.complete()) readInto()
      }
      parseTransfer(zone, rrs.toSeq, useAxfr)
    }

  /** Is the accumulated RR stream a COMPLETE IXFR delta sequence?
    * Grammar (RFC 1995 §4): SOA(n) then deltas, each delta =
    * SOA(start) deletes SOA(end) adds, closed by SOA(n). Serials
    * strictly increase within the journal, so the only SOA carrying
    * serial n at a delta-start position is the closing one (the last
    * delta's ADD-section header also carries n, but sits at an
    * add-header position, never a delta start). [[complete]] is called
    * once per received message while `rrs` grows; the walk resumes
    * where the previous call stopped, so each RR is examined once and
    * reassembly stays linear in the stream length. */
  private final class IxfrWalk(rrs: scala.collection.Seq[Rr]) {
    private val n = rrs.head.rdata match {
      case SoaData(s) => s
      case _ => throw new IOException("transfer does not start with SOA")
    }
    private var i = 1 // next RR to examine
    private var section = 0 // 0: at a delta start, 1: deletes, 2: adds

    def complete(): Boolean = {
      while (i < rrs.size) {
        if (section == 0) {
          val atDeltaStart = rrs(i).rdata match {
            case SoaData(s) => s
            case _ => throw new IOException("malformed IXFR delta (expected SOA)")
          }
          if (atDeltaStart == n) {
            if (i != rrs.size - 1)
              throw new IOException("trailing records after closing IXFR SOA")
            return true
          }
          section = 1
          i += 1
        } else if (rrs(i).rtype != TypeSoa) i += 1
        else if (section == 1) { section = 2; i += 1 } // add-section header
        else section = 0 // next delta start, or the closing SOA
      }
      false
    }
  }

  /** Classify the RR stream per RFC 1995 §4: single SOA = up to date
    * (IXFR only); second RR not SOA = AXFR-style; [SOA, SOA] = an
    * EMPTY AXFR-style snapshot (distinguishable from up-to-date by
    * length — a real delta sequence has ≥ 2 inner SOAs, so ≥ 4 RRs);
    * else IXFR delta sequence. An explicit AXFR request is always a
    * snapshot, never a delta: a SOA inside its record stream is a
    * malformed response (RFC 5936 §2.2 allows one only first and
    * last) and throws. */
  private def parseTransfer(zone: String, rrs: Seq[Rr],
                            requestedAxfr: Boolean): TransferResult = {
    val serial = rrs.head.rdata match {
      case SoaData(s) => s
      case _ => throw new IOException("transfer does not start with SOA")
    }
    def aRecords(s: Seq[Rr]): Seq[ARecord] =
      s.collect { case Rr(n, TypeA, _, _, AData(ip)) => ARecord(n, ip) }

    if (!requestedAxfr && rrs.size == 1) IxfrResult(serial, Nil) // up to date
    else if (rrs.size == 2 || rrs(1).rtype != TypeSoa) // snapshot (incl. empty zone)
      AxfrResult(serial, aRecords(rrs.drop(1).dropRight(1)))
    else if (requestedAxfr)
      throw new IOException(s"zone transfer of '$zone' failed: AXFR response carries " +
        "a SOA inside its record stream (RFC 5936 §2.2: only first and last)")
    else {
      // IXFR: SOA(new) [SOA(old) dels SOA(mid) adds]... SOA(new).
      // Indexed: the walk below indexes and slices per delta.
      val body = rrs.toIndexedSeq.drop(1).dropRight(1)
      val deltas = scala.collection.mutable.ArrayBuffer.empty[IxfrDelta]
      var i = 0
      while (i < body.size) {
        val startSerial = body(i).rdata match {
          case SoaData(s) => s
          case _ => throw new IOException("malformed IXFR delta (expected SOA)")
        }
        val delEnd = body.indexWhere(_.rtype == TypeSoa, i + 1)
        require(delEnd > 0, "malformed IXFR delta (no add SOA)")
        val endSerial = body(delEnd).rdata match { case SoaData(s) => s; case _ => 0L }
        var addEnd = body.indexWhere(_.rtype == TypeSoa, delEnd + 1)
        if (addEnd < 0) addEnd = body.size
        deltas += IxfrDelta(startSerial, endSerial,
          adds = aRecords(body.slice(delEnd + 1, addEnd)),
          deletes = aRecords(body.slice(i + 1, delEnd)))
        i = addEnd
      }
      IxfrResult(serial, deltas.toSeq)
    }
  }
}

/** RFC 2136 dynamic updates over TCP: adds as class-IN RRs with the
  * record TTL, deletes as class-NONE; any rcode != 0 throws (job fails,
  * like the reference) and keeps the connection, whose next request
  * waits for no earlier answer. Every message of a call is framed before the
  * first is sent, so a batch that cannot be framed fails unsent. All
  * calls share the emitter's one connection ([[WireConnection]]), zone
  * after zone, until its owner calls [[close]]. */
final class WireUpdateEmitter(host: String, port: Int, timeoutSec: Int) extends UpdateEmitter {
  import DnsWire._

  @transient private lazy val connection = new WireConnection(host, port)

  def close(): Unit = connection.close()

  override def update(zone: String, changes: Seq[DnsUpdateRecord]): Unit =
    send("update", Seq(zone -> Seq(updateMessage(zone, changes))))

  /** The append path's update of every zone a task saw, in the given
    * order: each zone's changes in their order as consecutive messages,
    * each within one TCP frame ([[DnsWire.splitForFrames]]) — one
    * message when they fit. Each message applies atomically, the batch
    * as a whole does not; appends are set-semantic, so a retried task
    * re-sends them safely. */
  def append(zones: Seq[(String, Seq[DnsUpdateRecord])]): Unit =
    send("update", zones.map { case (zone, changes) =>
      zone -> splitForFrames(updateMessage(zone, changes))
    })

  /** One atomic overwrite message: §2.5.2 delete-RRset RRs (CLASS ANY,
    * TTL 0, empty RDATA) for every wiped name, then the adds. */
  override def overwrite(zone: String, wipeNames: Seq[String],
                         adds: Seq[DnsUpdateRecord]): Unit =
    send("overwrite", Seq(zone -> Seq(message(zone,
      wipeNames.map(n => Rr(n, TypeA, ClassAny, 0, EmptyData)) ++
        adds.map(u => Rr(u.fqdn, TypeA, ClassIn, u.ttl.toLong, AData(u.ip)))))))

  private def updateMessage(zone: String, changes: Seq[DnsUpdateRecord]): Message =
    message(zone, changes.map { u =>
      if (u.action == DnsAction.IxfrDelete)
        Rr(u.fqdn, TypeA, ClassNone, 0, AData(u.ip))
      else
        Rr(u.fqdn, TypeA, ClassIn, u.ttl.toLong, AData(u.ip))
    })

  private def message(zone: String, rrs: Seq[Rr]): Message =
    Message(1, queryFlags(OpcodeUpdate),
      Seq(Question(Fqdn.normalize(zone), TypeSoa, ClassIn)), Nil, rrs, Nil)

  /** Frames every zone's messages, then sends them in order on the
    * connection, each answered before the next goes. */
  private def send(what: String, zones: Seq[(String, Seq[Message])]): Unit = {
    val framed = zones.map { case (zone, messages) =>
      zone -> messages.map { m =>
        try frame(m) catch {
          case e: IllegalArgumentException => throw new IllegalArgumentException(
            s"$what of '$zone' with ${m.authority.size} changes: ${e.getMessage}", e)
        }
      }
    }
    framed.foreach { case (zone, frames) =>
      connection.exchange(timeoutSec, s"$what of '$zone'") { (in, out) =>
        frames.foreach { bytes =>
          out.write(bytes)
          out.flush()
          val resp = readFramed(in)
          if (resp.rcode != RcodeNoError)
            throw new DnsRcodeException(s"$what of '$zone' rejected: rcode ${resp.rcode}", resp.rcode)
        }
      }
    }
  }
}
