package graft.sources.dns

import org.apache.spark.sql.types._

/** Data model for the DNS source/sink connector.
  *
  * Mirrors the reference's semantics (not its code): the read side
  * exposes zone transfers as an append-only change log with a 6-column
  * schema; the write side consumes a 5-column add/delete update log.
  * Schemas are fixed, code-defined constants in alphabetical field
  * order (reference derives them via `Encoders.bean`, which reflects
  * bean properties alphabetically — DnsRecordToRowConverter.java:20,
  * DnsSinkRelation.java:19).
  */
object DnsAction {
  val Axfr = "AXFR"
  val IxfrAdd = "IXFR_ADD"
  val IxfrDelete = "IXFR_DELETE"
  val all: Set[String] = Set(Axfr, IxfrAdd, IxfrDelete)
}

/** Transfer mode (reference Xfr.java; `xfr` option, case-insensitive). */
sealed trait XfrType
object XfrType {
  case object AXFR extends XfrType
  case object IXFR extends XfrType
  def parse(s: String): XfrType = s.trim.toUpperCase(java.util.Locale.ROOT) match {
    case "AXFR" => AXFR
    case "IXFR" => IXFR
    case other => throw new IllegalArgumentException(
      s"invalid xfr type '$other' (expected AXFR or IXFR)")
  }
}

object DnsSchemas {
  /** Read/source schema (FIXTURES.md §1; DnsRecordToRowConverter.java:26-29).
    * Column order is part of the public API. */
  val read: StructType = StructType(Seq(
    StructField("action", StringType, nullable = true),
    StructField("fqdn", StringType, nullable = true),
    StructField("ip", StringType, nullable = true),
    StructField("organization", StringType, nullable = true),
    StructField("timestamp", TimestampType, nullable = true),
    StructField("zone", StringType, nullable = true)))

  /** Metadata columns (`SupportsMetadataColumns`) — per-TRANSFER facts
    * a row's data columns don't carry, selectable as `_serial` /
    * `_xfr_kind` like the file sources' `_metadata`: the zone's final
    * SOA serial the transfer reported, and the transfer kind that
    * actually RAN (an IXFR request downgrades to AXFR on a journal
    * gap — RFC 1995 §4 — so the kind is a runtime fact, not an echo
    * of the `xfr` option). Beyond the reference, which exposes the
    * serial only through its accumulator (DnsSourceRelationProvider
    * .java:73-88). Not part of [[read]]: metadata columns exist only
    * when a query names them. */
  val metadata: StructType = StructType(Seq(
    StructField("_serial", LongType, nullable = false),
    StructField("_xfr_kind", StringType, nullable = false)))

  /** Write/sink schema (FIXTURES.md §2; DnsRecordUpdate.java:15-18). */
  val write: StructType = StructType(Seq(
    StructField("action", StringType, nullable = true),
    StructField("fqdn", StringType, nullable = true),
    StructField("ip", StringType, nullable = true),
    StructField("timestamp", TimestampType, nullable = true),
    StructField("ttl", IntegerType, nullable = true)))
}

/** One A record inside a zone. */
case class ARecord(fqdn: String, ip: String)

/** One IXFR delta: changes that moved the zone serial start→end
  * (reference Delta.java:13-35). */
case class IxfrDelta(startSerial: Long, endSerial: Long,
                     adds: Seq[ARecord], deletes: Seq[ARecord])

/** Result of one zone transfer; `serial` is the zone's SOA serial
  * observed at transfer time. */
sealed trait TransferResult { def serial: Long }
case class AxfrResult(serial: Long, records: Seq[ARecord]) extends TransferResult
case class IxfrResult(serial: Long, deltas: Seq[IxfrDelta]) extends TransferResult

/** A single validated update on the write path. */
case class DnsUpdateRecord(action: String, fqdn: String, ip: String,
                           timestampMicros: Long, ttl: Int)

object Fqdn {
  /** Normalize to an absolute name: append the trailing dot if missing
    * (reference DnsPartitionHandler.java:85-94). */
  def normalize(fqdn: String): String =
    if (fqdn.endsWith(".")) fqdn else fqdn + "."

  /** Derive the zone from an fqdn by stripping the first label, keeping
    * the absolute form: mail.google.com → google.com. A single-label
    * name ("host.") belongs to the root zone "." — matching the
    * reference's dnsjava behavior (DnsPartitionHandler.java:52-62). */
  def zoneOf(fqdn: String): String = {
    val abs = normalize(fqdn)
    val i = abs.indexOf('.')
    require(i >= 0, s"fqdn '$fqdn' has no zone part")
    if (i == abs.length - 1) "." else abs.substring(i + 1)
  }
}

/** One ordered change inside an RFC 2136 update message. */
case class ZoneChange(record: ARecord, delete: Boolean)

/** One ordered update-section operation, covering the RFC 2136 §2.5
  * forms the connector uses: §2.5.1 add, §2.5.4 delete a specific RR,
  * §2.5.2 delete the whole RRset at a name (CLASS ANY, empty RDATA —
  * the wipe half of overwrite). Operations apply sequentially in
  * message order (§3.4.2); the whole message is atomic. */
sealed trait ZoneOp
case class AddOp(record: ARecord) extends ZoneOp
case class DeleteOp(record: ARecord) extends ZoneOp
case class DeleteNameOp(fqdn: String) extends ZoneOp

object Ipv4 {
  /** Strict dotted-quad check: exactly 4 numeric octets in 0-255. */
  def isValid(ip: String): Boolean = {
    val parts = ip.split('.')
    parts.length == 4 && parts.forall { p =>
      p.nonEmpty && p.length <= 3 && p.forall(_.isDigit) && p.toInt <= 255
    }
  }
}

/** The write-side row rules as ONE pure function — the single source of
  * truth: [[graft.sources.dns.write]]'s DataWriter enforces it per row
  * and the gated audit query `q_dns_validate` classifies a
  * mixed-validity batch through the SAME code, with a DuckDB oracle
  * re-deriving every rule in SQL — so the Scala rules and their
  * documented semantics can never drift apart unnoticed.
  *
  * The rule SET mirrors the reference's DnsPartitionHandler.java:69-77
  * (this repo is deliberately stricter on whitespace-only strings —
  * SURVEY §2.3 — and rejects a label the wire encoder cannot carry as
  * `long_label`); the FIRST-VIOLATION ORDER is this connector's writer
  * order (action→fqdn→ip→timestamp→ttl), NOT the reference's
  * (ip→action→timestamp→ttl→fqdn). The accept/reject set is identical
  * either way — only which reason is reported for a multi-invalid row
  * differs, and the gated oracle pins THIS order. Do not "fix" the
  * order to match the reference: that would flip q_dns_validate. */
object DnsValidation {
  def invalidReason(action: Option[String], fqdn: Option[String],
                    ip: Option[String], hasTimestamp: Boolean,
                    ttl: Option[Int]): Option[String] = {
    def str(v: Option[String], name: String): Option[String] = v match {
      case None => Some(s"null_$name")
      case Some(s) if s.trim.isEmpty => Some(s"empty_$name")
      case _ => None
    }
    str(action, "action")
      .orElse(if (!DnsAction.all.contains(action.get)) Some("bad_action") else None)
      .orElse(str(fqdn, "fqdn"))
      .orElse(if (hasLongLabel(fqdn.get)) Some("long_label") else None)
      .orElse(str(ip, "ip"))
      .orElse(if (!Ipv4.isValid(ip.get)) Some("bad_ip") else None)
      .orElse(if (!hasTimestamp) Some("null_timestamp") else None)
      .orElse(ttl match {
        case None => Some("null_ttl")
        case Some(t) if t <= 0 => Some("bad_ttl")
        case _ => None
      })
  }

  /** True when a '.'-separated label of `fqdn` is longer than
    * [[DnsWire.MaxLabelBytes]] as [[DnsWire]] encodes it: one byte per
    * code point, since a non-ASCII one becomes a single replacement byte.
    * Runs on every written row, so it walks the string in place. */
  private def hasLongLabel(fqdn: String): Boolean = {
    var label = 0
    var i = 0
    while (i < fqdn.length) {
      val cp = fqdn.codePointAt(i)
      label = if (cp == '.') 0 else label + 1
      if (label > DnsWire.MaxLabelBytes) return true
      i += Character.charCount(cp)
    }
    false
  }
}

/** Last-write-wins dedup for one update message: group by record
  * identity (action, fqdn, ip), keep the max-timestamp update
  * (reference DnsUpdate.java:46-54), order the survivors
  * chronologically with a full lexicographic tiebreak — a pure,
  * permutation-invariant function (the reference iterates a HashMap
  * here; SURVEY §2.3.5 documents the conscious fix). */
object LwwDedup {
  def apply(updates: Seq[DnsUpdateRecord]): Seq[DnsUpdateRecord] =
    updates
      .groupBy(u => (u.action, u.fqdn, u.ip))
      .valuesIterator.map(_.maxBy(_.timestampMicros)).toSeq
      .sortBy(u => (u.timestampMicros, u.action, u.fqdn, u.ip))
}

/** Typed view of one read-path row (field names/order match
  * [[DnsSchemas.read]], so `df.as[DnsRecordChange]` resolves by name;
  * reference bean hierarchy OrgDnsRecordChange.java:14-18). */
case class DnsRecordChange(action: String, fqdn: String, ip: String,
                           organization: String,
                           timestamp: java.sql.Timestamp, zone: String)
