package graft.sources.dns

import scala.collection.mutable

/** The protocol boundary, abstracted. The reference talks to a live
  * DNS server through dnsjava (`Xfr.java:37-50` for transfers,
  * `DnsUpdate.java:46-81` for RFC 2136 updates); this build is
  * zero-egress, so the same two operations are expressed as traits and
  * served by an in-process implementation. On a real cluster the
  * `client` option selects a network-backed implementation; everything
  * above this boundary (partition planning, offsets, dedup, validation)
  * is identical either way.
  */
trait ZoneTransferClient extends Serializable {
  /** Run a zone transfer. `serial == 0` or xfr=AXFR means full transfer
    * (reference DnsZoneRDD.java:76-80, Xfr.java:43-48); an IXFR may
    * legitimately come back as an AXFR (protocol fallback —
    * DnsZoneTransferHandler.java:31-40). Throws on unknown zone,
    * unreachable server, or timeout. */
  def transfer(zone: String, serial: Long, xfr: XfrType, timeoutSec: Int): TransferResult

  /** A zone's current records: a serial-0 AXFR (RFC 1995 §2 makes it a
    * full snapshot). The write side's one reading of zone state — the
    * wipe set of a replace, the victims of a DELETE, the row-level
    * scan. A delta reply means the client or server broke that
    * contract; read as state it would let a replace wipe every record
    * the delta did not name, so it throws instead. */
  final def snapshot(zone: String, timeoutSec: Int): Seq[ARecord] =
    transfer(zone, 0L, XfrType.AXFR, timeoutSec) match {
      case AxfrResult(_, records) => records
      case r: IxfrResult =>
        throw new IllegalStateException(
          s"dns_update: zone $zone answered a serial-0 (full state) " +
            s"scan with an IXFR delta (serial ${r.serial}) — " +
            "refusing to treat a delta as zone state")
    }
}

trait UpdateEmitter extends Serializable {
  /** Apply one ordered batch of updates to a zone as a single atomic
    * message (reference sends one RFC 2136 Update per partition×zone —
    * DnsUpdate.java:46-81). The caller passes already-deduplicated
    * changes; they are applied sequentially in the given order. The
    * reference iterates a HashMap here (order unspecified —
    * DnsUpdate.java:52-74); this build fixes the quirk by requiring a
    * deterministic order (SURVEY §2.3.5, documented divergence).
    * Throws if the server rejects (rcode != 0). */
  def update(zone: String, changes: Seq[DnsUpdateRecord]): Unit

  /** Zone-scoped overwrite as ONE atomic RFC 2136 message: the update
    * section leads with a §2.5.2 delete-all-RRsets for every name in
    * `wipeNames`, followed by the adds — operations apply in message
    * order, so the zone's observable state jumps from old content to
    * new content in a single serial bump (the Overwrite semantics the
    * reference advertises but ignores — DnsSinkRelation.java:33-42,
    * SURVEY §2.3). */
  def overwrite(zone: String, wipeNames: Seq[String], adds: Seq[DnsUpdateRecord]): Unit
}

object DnsClients {
  /** Resolve the client implementation named by the `client` option.
    * Executors call this from partition readers/writers, so resolution
    * must be side-effect free and local. */
  def transferClient(opts: DnsCommonOptions): ZoneTransferClient = opts.client match {
    case "inmemory" => new InMemoryTransferClient(opts.server, opts.port)
    case "wire" => new WireTransferClient(opts.server, opts.port)
    case other => throw new IllegalArgumentException(
      s"unknown dns client '$other' (this build ships: inmemory, wire)")
  }

  def updateEmitter(opts: DnsCommonOptions): UpdateEmitter = opts.client match {
    case "inmemory" => new InMemoryUpdateEmitter(opts.server, opts.port, opts.timeoutSec)
    case "wire" => new WireUpdateEmitter(opts.server, opts.port, opts.timeoutSec)
    case other => throw new IllegalArgumentException(
      s"unknown dns client '$other' (this build ships: inmemory, wire)")
  }
}

/** In-process DNS server: zones with SOA serials, AXFR/IXFR semantics
  * and dynamic updates. Thread-safe. Stands in for the reference's
  * Bind9 testcontainer (BindContainerFactory.java:21-22).
  */
final class InMemoryDnsServer {
  private final class ZoneState {
    var serial: Long = 1L
    val records = mutable.LinkedHashSet.empty[ARecord]
    /** IXFR journal: delta that advanced the zone to `endSerial`. */
    val journal = mutable.ArrayBuffer.empty[IxfrDelta]
  }

  private val zones = mutable.Map.empty[String, ZoneState]

  /** Transfers served since construction (AXFR + IXFR, any zone) — the
    * observable that runtime zone pruning is graded on: a pruned zone
    * is a transfer that never reaches the server, so
    * q_dns_runtime_prune / ReadConnectorSpec assert this count, not a
    * plan string. */
  private val xfrServed = new java.util.concurrent.atomic.AtomicLong(0L)
  def transferCount: Long = xfrServed.get()

  def addZone(zone: String, records: Seq[ARecord]): Unit = synchronized {
    val st = new ZoneState
    records.foreach(r => st.records += ARecord(r.fqdn.toLowerCase(java.util.Locale.ROOT), r.ip))
    zones(Fqdn.normalize(zone)) = st
  }

  def dropZone(zone: String): Unit = synchronized { zones -= Fqdn.normalize(zone) }

  /** Bound the IXFR journal the way a real server does (RFC 1995
    * journals are finite): keep only the newest `keep` deltas, so a
    * client resuming from an older serial hits the journal gap and is
    * served a full AXFR — the fallback path `dnsIxfrFallbacks` counts. */
  def trimJournal(zone: String, keep: Int): Unit = synchronized {
    val st = state(zone)
    val drop = st.journal.length - keep
    if (drop > 0) st.journal.remove(0, drop)
  }

  private def state(zone: String): ZoneState =
    zones.getOrElse(Fqdn.normalize(zone),
      throw new IllegalArgumentException(s"zone transfer failed: unknown zone '$zone'"))

  def axfr(zone: String): AxfrResult = synchronized {
    val st = state(zone)
    xfrServed.incrementAndGet()
    AxfrResult(st.serial, st.records.toVector)
  }

  /** IXFR since `fromSerial`. Falls back to AXFR when the journal no
    * longer covers the requested serial (DNS protocol behavior). */
  def ixfr(zone: String, fromSerial: Long): TransferResult = synchronized {
    val st = state(zone)
    xfrServed.incrementAndGet()
    if (fromSerial >= st.serial) IxfrResult(st.serial, Vector.empty)
    else {
      val deltas = st.journal.dropWhile(_.startSerial < fromSerial).toVector
      if (deltas.headOption.exists(_.startSerial == fromSerial)) IxfrResult(st.serial, deltas)
      else AxfrResult(st.serial, st.records.toVector) // journal gap → full transfer
    }
  }

  /** RFC 2136-style dynamic update: changes applied sequentially in
    * message order (RFC 2136 §3.4.2), one serial bump per message.
    * Unknown zone rejects the whole message (rcode != 0 in the
    * reference — DnsUpdate.java:76-81). */
  def update(zone: String, changes: Seq[ZoneChange]): Unit =
    applyOps(zone, changes.map(c =>
      if (c.delete) DeleteOp(c.record) else AddOp(c.record)))

  /** The general update-section form: §2.5.1 adds, §2.5.4 specific
    * deletes, §2.5.2 whole-name RRset wipes — one atomic message, one
    * serial bump. A [[DeleteNameOp]] expands, at its position in the
    * sequence, to deletes of every record the name holds RIGHT THEN
    * (so a wipe followed by adds of the same name keeps the adds —
    * the overwrite shape), and the expansion lands in the IXFR journal
    * as concrete record deletes, keeping incremental transfers exact. */
  def applyOps(zone: String, ops: Seq[ZoneOp]): Unit = synchronized {
    val st = state(zone)
    def canon(r: ARecord) = ARecord(r.fqdn.toLowerCase(java.util.Locale.ROOT), r.ip)
    val adds = mutable.ArrayBuffer.empty[ARecord]
    val deletes = mutable.ArrayBuffer.empty[ARecord]
    ops.foreach {
      case AddOp(r0) =>
        val r = canon(r0); st.records += r; adds += r
      case DeleteOp(r0) =>
        val r = canon(r0); st.records -= r; deletes += r
      case DeleteNameOp(fqdn0) =>
        val name = Fqdn.normalize(fqdn0).toLowerCase(java.util.Locale.ROOT)
        val gone = st.records.filter(_.fqdn == name).toVector
        gone.foreach(st.records -= _)
        deletes ++= gone
    }
    val from = st.serial
    st.serial += 1
    st.journal += IxfrDelta(from, st.serial, adds = adds.toSeq, deletes = deletes.toSeq)
  }

  /** Convenience for tests: adds then deletes. */
  def update(zone: String, adds: Seq[ARecord], deletes: Seq[ARecord]): Unit =
    update(zone, adds.map(ZoneChange(_, delete = false)) ++ deletes.map(ZoneChange(_, delete = true)))

  def lookup(fqdn: String): Seq[String] = synchronized {
    val name = Fqdn.normalize(fqdn).toLowerCase(java.util.Locale.ROOT)
    zones.values.iterator.flatMap(_.records.iterator)
      .filter(_.fqdn == name).map(_.ip).toVector
  }

  def serialOf(zone: String): Long = synchronized(state(zone).serial)
}

/** Process-wide registry of in-memory servers keyed by (host, port).
  * local[N] runs executors in the driver JVM, so readers/writers reach
  * the same instance; a networked client implementation replaces this
  * on a real cluster.
  */
object InMemoryDnsServer {
  private val servers = mutable.Map.empty[(String, Int), InMemoryDnsServer]

  def at(host: String, port: Int): InMemoryDnsServer = synchronized {
    servers.getOrElseUpdate((host, port), new InMemoryDnsServer)
  }

  def exists(host: String, port: Int): Boolean = synchronized {
    servers.contains((host, port))
  }

  def reset(host: String, port: Int): Unit = synchronized { servers -= ((host, port)) }

  /** The server a client reaches at (host, port) for `what`: timeout 0
    * always fails (reference failure matrix, the wire client's
    * contract too), and an address with no registered server refuses. */
  private[dns] def reach(host: String, port: Int, timeoutSec: Int,
                         what: String): InMemoryDnsServer = {
    if (timeoutSec == 0)
      throw new java.net.SocketTimeoutException(s"$what timed out (timeout=0)")
    if (!exists(host, port))
      throw new java.net.ConnectException(s"no DNS server at $host:$port")
    at(host, port)
  }
}

final class InMemoryTransferClient(host: String, port: Int) extends ZoneTransferClient {
  override def transfer(zone: String, serial: Long, xfr: XfrType,
                        timeoutSec: Int): TransferResult = {
    val server = InMemoryDnsServer.reach(host, port, timeoutSec, s"zone transfer of '$zone'")
    xfr match {
      case XfrType.AXFR => server.axfr(zone) // always full, serial ignored (DnsZoneRDD.java:76-80)
      case XfrType.IXFR if serial == 0L => server.axfr(zone) // serial 0 ⇒ AXFR (Xfr.java:43-48)
      case XfrType.IXFR => server.ixfr(zone, serial)
    }
  }
}

/** The sink's `timeout` option reaches the emitter the same way the
  * reference hands it to its update resolver (DnsUpdate.java:46-81):
  * via construction. The in-memory server answers instantly, so the
  * only observable semantic is the failure matrix's timeout=0 ⇒
  * immediate timeout, mirroring the transfer client. */
final class InMemoryUpdateEmitter(host: String, port: Int, timeoutSec: Int) extends UpdateEmitter {
  private def server(zone: String): InMemoryDnsServer =
    InMemoryDnsServer.reach(host, port, timeoutSec, s"update of '$zone'")

  override def update(zone: String, changes: Seq[DnsUpdateRecord]): Unit =
    server(zone).update(zone, changes.map { u =>
      ZoneChange(ARecord(u.fqdn, u.ip), delete = u.action == DnsAction.IxfrDelete)
    })

  override def overwrite(zone: String, wipeNames: Seq[String],
                         adds: Seq[DnsUpdateRecord]): Unit =
    server(zone).applyOps(zone,
      wipeNames.map(DeleteNameOp(_)) ++
        adds.map(u => AddOp(ARecord(u.fqdn, u.ip))))
}
