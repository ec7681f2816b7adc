package graft.sources.dns.write

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsDelete, SupportsRead, SupportsRowLevelOperations, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.sources.{EqualTo, Filter, In}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.dns._

/** DataSource V2 write path for `format("dns_update")`.
  *
  * Re-expresses the reference's V1 sink cluster
  * (DnsSinkRelationProvider.java:21-46, DnsBatchPartitionHandler.java:28-51,
  * DnsPartitionHandler.java:30-94, DnsUpdate.java:46-81,
  * DnsStreamingSink.java:25-55) on public Spark 4 interfaces. V2 removes
  * both reference hacks: no `to_json(struct(*))` transport packing (the
  * DataWriter reads InternalRow fields directly) and no
  * `queryExecution.toRdd` streaming workaround (StreamingWrite is native).
  *
  * Per-task pipeline, identical either direction (batch/streaming):
  * validate → normalize fqdn → derive zone → buffer per zone; on task
  * commit, per zone: last-write-wins dedup on record identity
  * (action, fqdn, ip) keeping max timestamp (DnsUpdate.java:46-54), then
  * ONE atomic update message per (task × zone) applied in chronological
  * order (the reference iterates a HashMap here — order unspecified; we
  * fix the quirk deterministically, SURVEY §2.3.5). A zone's batch too
  * large for one 65,535-byte TCP frame goes as consecutive messages in
  * the same order ([[WireUpdateEmitter.append]]).
  *
  * Scale design: the only network per task is one connection, which
  * carries the task's zones in order and is closed by the writer's
  * owner-side `close`; pre-partitioning the input by derived zone
  * ([[DnsWrites.repartitionByZone]]) makes that one message per zone
  * cluster-wide, from one task per shuffle partition — left to the
  * caller, as in the reference.
  */
final class DnsUpdateTableProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "dns_update"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    DnsSchemas.write

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table =
    new DnsUpdateTable(DnsOptions.sink(properties))
}

final class DnsUpdateTable(opts: DnsSinkOptions) extends Table with SupportsWrite
  with SupportsRead with SupportsDelete with SupportsRowLevelOperations {

  /** SQL UPDATE / MERGE INTO / non-pushable DELETE — the group-based
    * operation in [[DnsRowLevel]] (groups = the zones named in the
    * table's `zones` option). Built unconditionally: the analyzer
    * routes EVERY DELETE on a row-level table through this shape
    * before `OptimizeMetadataOnlyDeleteFromTable` restores the
    * [[deleteWhere]] metadata path for pushable predicates, so the
    * zones requirement lives at scan materialization, not here. */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder =
    () => new DnsRowLevelOperation(opts, info.command)

  /** Without `zones`, BATCH_READ is declared ONLY because the
    * analyzer's capability check requires the DELETE target to be
    * readable, and the optimizer's scan pushdown BUILDS a scan for the
    * target before the metadata-only delete rewrite discards it. The
    * scan therefore must build — but `toBatch` (which a DELETE never
    * reaches) fails fast with the pointer, so an actual SELECT errors
    * at physical planning instead of silently returning an empty or
    * stale frame; reads of zone state go through `format("dns")`.
    *
    * WITH `zones` (a row-level table), the scan is REAL: current zone
    * state in the write schema ([[DnsRowLevelScan]]). It must be —
    * Catalyst rewrites an insert-only MERGE into an anti-join of the
    * source against THIS scan feeding a plain append, not through the
    * row-level operation at all. */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): org.apache.spark.sql.connector.read.Scan =
        if (opts.zones.nonEmpty) new DnsRowLevelScan(opts)
        else new org.apache.spark.sql.connector.read.Scan {
          override def readSchema(): StructType = DnsSchemas.write
          override def description(): String =
            "the dns_update sink is write/delete-only; read zone state via " +
              "spark.read.format(\"dns\") with zones + organization options"
          // default toBatch throws UnsupportedOperationException(description)
        }
    }
  override def name(): String = s"dns_update(${opts.common.server}:${opts.common.port})"

  /** SQL `DELETE FROM … WHERE` over the sink (`SupportsDelete`) — the
    * write-side twin of the read scan's pushdown family, and the one
    * statement RFC 2136 maps to PERFECTLY: a DNS delete is "remove
    * these (name, ip) records from their zone". Supported predicate
    * shapes: `fqdn =` / `fqdn IN`, optionally narrowed by `ip =` /
    * `ip IN` — at least one fqdn constraint is required, because an
    * unconstrained delete would need a zone list this table doesn't
    * have (fail-fast in [[canDeleteWhere]], so Spark rejects the
    * statement at analysis instead of silently deleting nothing).
    * Execution is driver-side METADATA work bounded by the named
    * zones, never the table size: per zone one AXFR (RFC 2136 deletes
    * name IP pairs, so current records are read first) and one atomic
    * ordered update message of the matching deletes — the same
    * emitter, ordering, and quirk-fix as the DataWriter path. Beyond
    * the reference, whose sink is append-only (DnsSinkRelation
    * .java:33-42). */
  override def canDeleteWhere(filters: Array[Filter]): Boolean = {
    def on(column: String)(f: Filter): Boolean = f match {
      case EqualTo(`column`, _: String) => true
      case In(`column`, vs) => vs.nonEmpty && vs.forall(_.isInstanceOf[String])
      case _ => false
    }
    filters.exists(on("fqdn")) && filters.forall(f => on("fqdn")(f) || on("ip")(f))
  }

  override def deleteWhere(filters: Array[Filter]): Unit = {
    require(canDeleteWhere(filters),
      s"unsupported DELETE predicate: ${filters.mkString(", ")} " +
        "(supported: fqdn =/IN, optionally narrowed by ip =/IN)")
    // Conjunctive semantics like any WHERE: multiple fqdn constraints
    // intersect; ip constraints narrow the matched records.
    val fqdnSets = filters.collect {
      case EqualTo("fqdn", v: String) => Set(v)
      case In("fqdn", vs) => vs.map(_.asInstanceOf[String]).toSet
    }.map(_.map(v => Fqdn.normalize(v).toLowerCase(java.util.Locale.ROOT)))
    val fqdns = fqdnSets.reduce(_ intersect _)
    val ipSets = filters.collect {
      case EqualTo("ip", v: String) => Set(v)
      case In("ip", vs) => vs.map(_.asInstanceOf[String]).toSet
    }
    val ips: Option[Set[String]] = ipSets.reduceOption(_ intersect _)
    DriverWire(opts.common) { (client, emitter) =>
      fqdns.groupBy(Fqdn.zoneOf).toSeq.sortBy(_._1).foreach { case (zone, names) =>
        val victims = client.snapshot(zone, opts.common.timeoutSec)
          .filter(r => names.contains(r.fqdn.toLowerCase(java.util.Locale.ROOT)) &&
            ips.forall(_.contains(r.ip)))
          .sortBy(r => (r.fqdn, r.ip)).distinct
        if (victims.nonEmpty)
          emitter.update(zone, victims.map(r =>
            // timestamp/ttl are append-path fields; a delete is keyed by
            // (name, ip) alone (RFC 2136 §2.5.4 — class NONE, TTL 0).
            DnsUpdateRecord(DnsAction.IxfrDelete, r.fqdn, r.ip, 0L, 0)))
      }
    }
  }

  override def schema(): StructType = DnsSchemas.write

  override def capabilities(): java.util.Set[TableCapability] = {
    val base = Set(TableCapability.BATCH_WRITE, TableCapability.STREAMING_WRITE,
      TableCapability.BATCH_READ, // analyzer precondition for DELETE FROM; see newScanBuilder
      TableCapability.TRUNCATE) // SaveMode.Overwrite / INSERT OVERWRITE → zone-scoped wipe+add (ref ignores the flag — DnsSinkRelation.java:33-42; fixed here, SURVEY §2.3)
    // ACCEPT_ANY_SCHEMA = the reference's lenient bean decode (columns
    // matched by name, extras ignored) — but it also sets Catalyst's
    // `skipSchemaResolution`, under which UPDATE/MERGE assignments are
    // never aligned and the row-level rewrites never fire (the planner
    // then reports "does not support UPDATE TABLE"). The two are
    // mutually exclusive upstream, so the `zones` option — which
    // row-level ops require anyway — is the switch: a zones table is
    // strict-schema (SQL UPDATE/MERGE work), a zones-less table keeps
    // the reference-parity lenient appends.
    (if (opts.zones.isEmpty) base + TableCapability.ACCEPT_ANY_SCHEMA else base).asJava
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new DnsWriteBuilder(opts, info.schema())
}

final class DnsWriteBuilder(opts: DnsSinkOptions, inputSchema: StructType)
  extends WriteBuilder with SupportsTruncate {

  // SaveMode.Overwrite / INSERT OVERWRITE: zone-scoped wipe+add (the
  // reference advertises the mode but silently appends —
  // DnsSinkRelation.java:33-42; divergence documented in SURVEY §2.3).
  private var truncating = false
  override def truncate(): WriteBuilder = { truncating = true; this }

  override def build(): Write =
    if (truncating) new DnsTruncateWrite(opts, inputSchema)
    else new Write {
      override def toBatch: BatchWrite = new DnsBatchWrite(opts, inputSchema)
      override def toStreaming: StreamingWrite = new DnsStreamingWrite(opts, inputSchema)
    }
}

/** The overwrite Write. Every zone touched by the input is wiped and
  * refilled in ONE atomic RFC 2136 message (§2.5.2 delete-RRset per
  * existing name, then the adds — message order is apply order, so
  * readers only ever see old content or new content, never a
  * half-wiped zone). The wipe must happen exactly once per zone, so
  * the Write DEMANDS a single input partition through Spark's own
  * `RequiresDistributionAndOrdering` contract rather than trusting the
  * caller to repartition: Catalyst inserts the shuffle when needed.
  * This is not the scale bottleneck it looks like — a zone's new
  * content must fit one update message anyway, so an overwrite is
  * small by construction; bulk ingest stays on the append path with
  * free parallelism ([[DnsWrites.repartitionByZone]]).
  *
  * Unlike the append path (where a re-sent batch is a set-semantic
  * no-op), re-running a wipe+add bumps the zone serial AGAIN — so the
  * task side only STAGES the validated new content into its commit
  * message, and the wipe-set AXFR + the overwrite message happen here
  * in [[BatchWrite.commit]], which Spark runs on the driver exactly
  * once after all tasks succeeded. A retried or speculative task
  * therefore never touches the server, and the window between reading
  * the wipe set and applying the overwrite is not re-entered per
  * retry. */
final class DnsTruncateWrite(opts: DnsSinkOptions, schema: StructType)
  extends Write with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
  import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}

  // numPartitions = 1 needs a concrete distribution to ride on
  // (unspecified may not carry a partition count, and clustered-on-
  // nothing degenerates to unspecified); with ONE partition the
  // clustering key itself is irrelevant — fqdn is just a column the
  // write schema is already required to have.
  override def requiredDistribution(): Distribution =
    Distributions.clustered(Array(
      org.apache.spark.sql.connector.expressions.Expressions.column("fqdn")))
  override def requiredNumPartitions(): Int = 1
  override def requiredOrdering(): Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    Array.empty

  override def toBatch: BatchWrite = new BatchWrite {
    override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
      new DnsWriterFactory(opts, FieldIndices(schema), truncating = true)
    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      // Driver-side, once per job: replace every staged zone. One
      // partition was demanded, so the cross-task merge sees one
      // task's deduped content and keeps its chronological order.
      val staged = DnsOverwriteStaged.merge(messages)
      DriverWire(opts.common) { (client, emitter) =>
        DnsOverwriteStaged.replaceZones(client, emitter,
          opts.common.timeoutSec, staged.keys.toSeq, staged)
      }
    }
    override def abort(messages: Array[WriterCommitMessage]): Unit = ()
  }
}

final class DnsBatchWrite(opts: DnsSinkOptions, schema: StructType) extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new DnsWriterFactory(opts, FieldIndices(schema))

  override def commit(messages: Array[WriterCommitMessage]): Unit = ()
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

final class DnsStreamingWrite(opts: DnsSinkOptions, schema: StructType) extends StreamingWrite {
  override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory =
    new DnsWriterFactory(opts, FieldIndices(schema))

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
}

/** Input columns are resolved by NAME against whatever schema the query
  * produces (any order, extra columns ignored — the reference's
  * bean-from-JSON decode behaves the same way). */
final case class FieldIndices(action: Int, fqdn: Int, ip: Int, timestamp: Int, ttl: Int)

object FieldIndices {
  def apply(schema: StructType): FieldIndices = {
    // ACCEPT_ANY_SCHEMA means Spark does no type checking for us: a
    // wrong-typed column would be silently misread through the raw
    // InternalRow getters (e.g. getLong over an int column), so each
    // matched field's type is validated against DnsSchemas.write here,
    // at planning time, and rejected with a clear error.
    def idx(name: String): Int = {
      val i =
        try schema.fieldIndex(name)
        catch { case _: IllegalArgumentException => throw new IllegalArgumentException(
          s"dns_update input must have column '$name' (got: ${schema.fieldNames.mkString(", ")})") }
      val expected = DnsSchemas.write(DnsSchemas.write.fieldIndex(name)).dataType
      val actual = schema(i).dataType
      if (actual != expected) throw new IllegalArgumentException(
        s"dns_update column '$name' must be $expected, got $actual")
      i
    }
    FieldIndices(idx("action"), idx("fqdn"), idx("ip"), idx("timestamp"), idx("ttl"))
  }
}

final class DnsWriterFactory(opts: DnsSinkOptions, idx: FieldIndices,
                             truncating: Boolean = false)
  extends DataWriterFactory with StreamingDataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DnsDataWriter(opts, idx, truncating)

  override def createWriter(partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] =
    new DnsDataWriter(opts, idx, truncating)
}

/** Executor-side writer. Buffers validated updates per derived zone;
  * on the APPEND path all network I/O happens in commit() — the
  * emitter's one connection carries the task's zones in order, one
  * message per zone unless its batch outgrows a TCP frame — and
  * close() closes that connection.
  *
  * Failure semantics, append path: a task that fails before commit()
  * sends nothing (abort() just drops the buffers), so Spark's retry
  * re-sends the whole partition. Appends are set-semantic (add/delete
  * of a concrete record), so the retry is idempotent — at-least-once
  * task execution yields exactly-once observable zone state. That
  * argument does NOT hold for overwrite (a re-sent wipe+add bumps the
  * serial twice), so the truncating writer sends nothing at all: it
  * stages the new content into its commit message and the driver-side
  * [[DnsTruncateWrite]] BatchWrite.commit — which Spark invokes
  * exactly once, never for a losing speculative attempt — does the
  * AXFR + atomic overwrite. */
final class DnsDataWriter(opts: DnsSinkOptions, idx: FieldIndices,
                          truncating: Boolean = false)
  extends DataWriter[InternalRow] {

  private val emitter =
    new WireUpdateEmitter(opts.common.server, opts.common.port, opts.common.timeoutSec)

  private val perZone = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[DnsUpdateRecord]]

  override def write(row: InternalRow): Unit = {
    // Validation mirrors DnsPartitionHandler.java:69-77 via the shared
    // rule table (DnsValidation — the same function the gated
    // q_dns_validate audit classifies with), including the label
    // length the wire encoder enforces. Anything the rules still miss
    // fails at wire encoding, which commit() runs for every zone before
    // it sends the first one, so a task's write stays all-or-nothing
    // either way (the reference fails the same way when dnsjava parses
    // the address).
    def strOpt(i: Int): Option[String] =
      if (row.isNullAt(i)) None else Some(row.getUTF8String(i).toString)
    val actionOpt = strOpt(idx.action)
    val fqdnOpt = strOpt(idx.fqdn)
    val ipOpt = strOpt(idx.ip)
    val hasTs = !row.isNullAt(idx.timestamp)
    val ttlOpt = if (row.isNullAt(idx.ttl)) None else Some(row.getInt(idx.ttl))
    DnsValidation.invalidReason(actionOpt, fqdnOpt, ipOpt, hasTs, ttlOpt).foreach { r =>
      throw new IllegalArgumentException(
        s"dns_update: invalid row ($r): action=${actionOpt.orNull}, " +
          s"fqdn=${fqdnOpt.orNull}, ip=${ipOpt.orNull}, ttl=${ttlOpt.map(_.toString).getOrElse("null")}")
    }
    val action = actionOpt.get
    // Overwrite input is the zone's NEW CONTENT — a delete row inside
    // it is contradictory (the wipe already removes everything), so it
    // fails loudly instead of being silently swallowed by the wipe.
    if (truncating && action == DnsAction.IxfrDelete)
      throw new IllegalArgumentException(
        s"dns_update overwrite input must not contain delete rows (got action=$action for fqdn=${fqdnOpt.orNull})")
    val ip = ipOpt.get
    val tsMicros = row.getLong(idx.timestamp)
    val ttl = ttlOpt.get
    val fqdnRaw = fqdnOpt.get

    // Normalize to absolute name (DnsPartitionHandler.java:85-94), then
    // group by the zone derived from the fqdn (:52-62).
    val fqdn = Fqdn.normalize(fqdnRaw)
    val zone = Fqdn.zoneOf(fqdn)
    perZone.getOrElseUpdate(zone, mutable.ArrayBuffer.empty) +=
      DnsUpdateRecord(action, fqdn, ip, tsMicros, ttl)
  }

  override def commit(): WriterCommitMessage = {
    val msg: WriterCommitMessage =
      if (truncating) {
        // Send NOTHING from the task: overwrite is not retry-
        // idempotent, so the deduped new content rides the commit
        // message to the driver (small by construction — it must fit
        // one update message anyway) and DnsTruncateWrite emits it
        // exactly once.
        DnsOverwriteStaged(perZone.toSeq.map { case (z, u) => z -> LwwDedup(u.toSeq) })
      } else {
        emitter.append(perZone.toSeq
          .map { case (zone, updates) => zone -> LwwDedup(updates.toSeq) }
          .filter(_._2.nonEmpty))
        DnsWriteCommitted
      }
    perZone.clear()
    msg
  }

  override def abort(): Unit = perZone.clear()
  override def close(): Unit = emitter.close()
}

case object DnsWriteCommitted extends WriterCommitMessage

/** Overwrite content staged task→driver: zone → deduped new records. */
final case class DnsOverwriteStaged(zones: Seq[(String, Seq[DnsUpdateRecord])])
  extends WriterCommitMessage

/** The driver-side half of every zone replace (overwrite and the
  * row-level group replace): merge what the tasks staged, then wipe
  * and refill each zone in one atomic message. */
object DnsOverwriteStaged {
  /** Zone → new content across all tasks. Tasks dedup locally, but
    * two tasks may stage the same record, so the merge runs
    * last-write-wins again (a no-op on one task's deduped output). */
  def merge(messages: Array[WriterCommitMessage]): Map[String, Seq[DnsUpdateRecord]] =
    messages.collect { case DnsOverwriteStaged(zones) => zones }
      .flatten.groupBy(_._1).view
      .mapValues(g => LwwDedup(g.flatMap(_._2).toSeq)).toMap

  /** Per zone, in sorted order: snapshot the current names, then send
    * the §2.5.2 wipe of those names followed by the zone's `content`
    * (none for a zone absent from it — the replace empties it). */
  private[dns] def replaceZones(client: ZoneTransferClient, emitter: UpdateEmitter,
                                timeoutSec: Int, zones: Seq[String],
                                content: Map[String, Seq[DnsUpdateRecord]]): Unit =
    zones.sorted.foreach { zone =>
      val names = client.snapshot(zone, timeoutSec).map(_.fqdn).distinct
      emitter.overwrite(zone, names, content.getOrElse(zone, Nil))
    }
}

/** The driver-side wire pair of a DELETE or a zone replace, both
  * closed when `body` returns or throws. */
private object DriverWire {
  def apply[A](common: DnsCommonOptions)(body: (WireTransferClient, WireUpdateEmitter) => A): A = {
    val client = new WireTransferClient(common.server, common.port)
    val emitter = new WireUpdateEmitter(common.server, common.port, common.timeoutSec)
    try body(client, emitter) finally { client.close(); emitter.close() }
  }
}

/** Cluster-scale write helpers. */
object DnsWrites {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.functions._

  /** Repartition an update DataFrame by each row's derived zone, so a
    * cluster-wide write emits ONE RFC 2136 message per zone instead of
    * one per (task × zone) — and changes to the same record are applied
    * by a single task in one deterministic order. This is the engine-
    * level form of the reference's per-partition zone grouping
    * (DnsPartitionHandler.java:32-35): pay one hash shuffle, get
    * minimal network fan-out to the DNS servers.
    *
    * The shuffle has a fixed partition count, the frame's session's
    * `spark.sql.shuffle.partitions`: AQE coalesces a by-column
    * repartition (to one task for a small batch) but leaves a by-number
    * one alone, so the write runs one task per shuffle partition, each
    * sending its zones in order on its own connection. */
  def repartitionByZone(updates: DataFrame): DataFrame = {
    val normalized = when(col("fqdn").endsWith("."), col("fqdn"))
      .otherwise(concat(col("fqdn"), lit(".")))
    val zone = normalized.substr(instr(normalized, ".") + 1, length(normalized))
    updates.repartition(
      updates.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt, zone)
  }
}
