package graft.sources.dns

import scala.jdk.CollectionConverters._

/** Option parsing/validation for both connector directions
  * (reference DnsOptions.java:19-60, DnsSourceOptions.java:28-112,
  * DnsSinkOptions.java:8-12; README.md:26-37,123-129).
  *
  * The full option surface is part of the public API and is reproduced,
  * including defaults. One reference quirk consciously fixed
  * (SURVEY.md §2.3.1): `ignore-failures` defaults to a clean `false`
  * instead of parsing the option *name* as a boolean.
  */
final case class DnsCommonOptions(server: String, port: Int, timeoutSec: Int) {
  require(server.nonEmpty, "option 'server' is required")
  require(port >= 1 && port <= 65535, s"option 'port' out of range: $port")
  require(timeoutSec >= 0, s"option 'timeout' must be >= 0: $timeoutSec")
  require(timeoutSec <= DnsOptions.MaxTimeoutSec,
    s"option 'timeout' must be <= ${DnsOptions.MaxTimeoutSec} seconds: $timeoutSec")
}

final case class DnsSourceOptions(common: DnsCommonOptions,
                                  organization: String,
                                  zones: Seq[String],
                                  serial: Long,
                                  xfr: XfrType,
                                  ignoreFailures: Boolean,
                                  fixedTimestampMicros: Option[Long],
                                  estimatedZoneBytes: Long,
                                  maxZonesPerBatch: Option[Int] = None) {
  require(organization.nonEmpty, "option 'organization' is required")
  require(zones.nonEmpty, "option 'zones' is required (CSV of zone names)")
  require(serial >= 0, s"option 'serial' must be >= 0: $serial")
  require(maxZonesPerBatch.forall(_ > 0),
    s"option 'max-zones-per-batch' must be > 0: ${maxZonesPerBatch.get}")
  require(estimatedZoneBytes > 0,
    s"option 'estimated-zone-bytes' must be > 0: $estimatedZoneBytes")

  /** Row-count companion to the bytes bound — expected records per
    * zone at [[DnsOptions.EstimatedRowBytes]] per A-record row. Feeds
    * the scan's reported `numRows` + per-column statistics, which is
    * what lets the cost-based optimizer ORDER a multi-way join
    * involving the connector — a wrong value changes plan choice,
    * never results. */
  def estimatedZoneRows: Long = estimatedZoneBytes / DnsOptions.EstimatedRowBytes
}

/** Sink options. The two row-level fields exist ONLY for SQL
  * UPDATE/MERGE INTO (`SupportsRowLevelOperations`): a group-based
  * rewrite must SCAN current zone state before writing replacements
  * back, and the append-only write path has no zone list to scan —
  * so `zones` names the operation's groups, and `fixed-timestamp-
  * micros` supplies the write-schema timestamp the server model does
  * not store per record (the reference's A-record state is (name, ip)
  * pairs — Xfr.java keeps no per-record timestamp or TTL; the scan's
  * TTL is [[DnsOptions.DefaultScanTtl]]). Plain appends/overwrites/
  * deletes ignore both. */
final case class DnsSinkOptions(common: DnsCommonOptions,
                                zones: Seq[String] = Nil,
                                fixedTimestampMicros: Option[Long] = None)

object DnsOptions {
  val DefaultPort = 53
  val DefaultTimeoutSec = 10
  val DefaultSerial = 0L
  val DefaultXfr: XfrType = XfrType.IXFR
  /** Planner hint for `SupportsReportStatistics`: expected wire payload
    * per zone. A zone's size is unknowable before its transfer runs, so
    * the scan reports zones × this bound — enough for Catalyst to
    * auto-broadcast a small DNS dimension in joins (the decision the
    * estimate exists to enable); a wrong value changes plan choice,
    * never results. 256 KiB ≈ a few thousand A records. */
  val DefaultEstimatedZoneBytes = 256L * 1024L
  /** Bytes per A-record row the row estimate assumes: the default
    * 256 KiB bound is 2048 rows per zone. */
  val EstimatedRowBytes = 128L
  /** TTL the row-level scan presents for current records: the server
    * model stores A records as (name, ip) only (reference parity), so
    * rows written back by UPDATE/MERGE carry this nominal TTL unless
    * the statement assigns one. */
  val DefaultScanTtl = 3600
  /** Largest `timeout` whose milliseconds fit the socket API's Int. */
  val MaxTimeoutSec: Int = Int.MaxValue / 1000

  /** A numeric option, None when absent. A value that does not parse
    * fails naming the option, not as a bare NumberFormatException. */
  private def number[A](o: Map[String, String], key: String,
                        parse: String => Option[A]): Option[A] =
    o.get(key).map(v => parse(v).getOrElse(
      throw new IllegalArgumentException(s"option '$key' must be an integer: '$v'")))

  private def common(o: Map[String, String]): DnsCommonOptions =
    DnsCommonOptions(
      server = o.getOrElse("server",
        throw new IllegalArgumentException("option 'server' is required")),
      port = number(o, "port", _.toIntOption).getOrElse(DefaultPort),
      timeoutSec = number(o, "timeout", _.toIntOption).getOrElse(DefaultTimeoutSec))

  def source(javaMap: java.util.Map[String, String]): DnsSourceOptions =
    source(lowerKeys(javaMap))

  def source(o: Map[String, String]): DnsSourceOptions = {
    // Zone list is de-duplicated preserving first occurrence and each
    // name normalized to absolute form (DnsSourceOptions.java:61-65).
    val zones = o.getOrElse("zones",
        throw new IllegalArgumentException("option 'zones' is required"))
      .split(",").iterator.map(_.trim).filter(_.nonEmpty)
      .map(Fqdn.normalize).distinct.toSeq
    DnsSourceOptions(
      common = common(o),
      organization = o.getOrElse("organization",
        throw new IllegalArgumentException("option 'organization' is required")),
      zones = zones,
      serial = number(o, "serial", _.toLongOption).getOrElse(DefaultSerial),
      xfr = o.get("xfr").map(XfrType.parse).getOrElse(DefaultXfr),
      ignoreFailures = o.get("ignore-failures").exists(_.trim.equalsIgnoreCase("true")),
      fixedTimestampMicros = number(o, "fixed-timestamp-micros", _.toLongOption),
      estimatedZoneBytes = number(o, "estimated-zone-bytes", _.toLongOption)
        .getOrElse(DefaultEstimatedZoneBytes),
      // Streaming admission control (SupportsAdmissionControl): at most
      // this many ZONES transfer per micro-batch, the rest carry over
      // to later triggers round-robin. Zones are the only subdividable
      // axis — a single transfer is serial by protocol. Batch reads
      // ignore it (a batch is one scan by definition).
      maxZonesPerBatch = number(o, "max-zones-per-batch", _.toIntOption))
  }

  def sink(javaMap: java.util.Map[String, String]): DnsSinkOptions =
    sink(lowerKeys(javaMap))

  def sink(o: Map[String, String]): DnsSinkOptions = DnsSinkOptions(
    common = common(o),
    // Same normalize/dedup as the source's zone list; OPTIONAL here —
    // only row-level operations (UPDATE/MERGE) need it, and they fail
    // loudly at scan build if it's absent (DnsRowLevel.scala).
    zones = o.get("zones").toSeq
      .flatMap(_.split(",").iterator.map(_.trim).filter(_.nonEmpty))
      .map(Fqdn.normalize).distinct,
    fixedTimestampMicros = number(o, "fixed-timestamp-micros", _.toLongOption))

  private[dns] def lowerKeys(m: java.util.Map[String, String]): Map[String, String] =
    m.asScala.map { case (k, v) => k.toLowerCase(java.util.Locale.ROOT) -> v }.toMap
}
