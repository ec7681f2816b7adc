package graft.sources.dns.write

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.RowLevelOperation.Command
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.dns._

/** GROUP-BASED row-level operation for the `dns_update` table — the
  * DSv2 surface behind SQL `UPDATE` and `MERGE INTO` (and the
  * non-pushable `DELETE` shapes `SupportsDelete` rejects).
  *
  * Why group-based and not `SupportsDelta`: a delta operation needs
  * stable row IDs the engine can hand back; the DNS model's identity
  * is the record itself (name, ip) and the sink is already
  * action-tagged, so the natural unit is the GROUP — one ZONE — whose
  * replacement is exactly the wipe+add message [[DnsTruncateWrite]]
  * already emits (RFC 2136 §2.5.2 delete-RRset per name, then the
  * adds, one atomic message, one serial bump). Catalyst does the rest:
  * `RewriteUpdateTable` / `RewriteMergeIntoTable` rewrite the
  * statement into a join of this operation's SCAN (current zone state)
  * with the source, and a `ReplaceData` write of the surviving rows —
  * the connector only supplies the two ends re-used from the existing
  * paths (read: a serial-0 AXFR snapshot of each zone; write: the
  * truncate writer's stage-then-commit discipline).
  *
  * Beyond the reference, whose sink is append-only
  * (DnsSinkRelation.java:33-42); the batch twin of the IXFR-apply
  * semantics the query-level `q_cdc_apply` demonstrates.
  *
  * Scale shape: the scan is one task per zone ([[DnsZoneStatePartition]];
  * unlike the read connector, which packs zones one task per core, it
  * reads one zone per task); the write stages per-zone replacement content on
  * tasks and commits ONE overwrite message per zone from the driver,
  * exactly once — content must fit one RFC 2136 message anyway, so a
  * zone replacement is small by construction, and the number of
  * messages is the number of groups, never the row count.
  */
final class DnsRowLevelOperation(opts: DnsSinkOptions, cmd: Command)
  extends RowLevelOperation {

  override def command(): Command = cmd

  override def description(): String =
    s"DnsRowLevelOperation($cmd, zones=${opts.zones.mkString(",")})"

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new DnsRowLevelScan(opts)
    }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new DnsReplaceDataWrite(opts, info.schema())
    }
}

/** Current zone state in the WRITE schema (action, fqdn, ip,
  * timestamp, ttl): each existing record surfaces as an `IXFR_ADD`
  * row — "to reproduce this state, add these" — so unmatched rows
  * survive the rewrite and re-validate on the way back unchanged.
  * `timestamp`/`ttl` are presented from options ([[DnsSinkOptions]])
  * because the server model stores neither per record.
  *
  * The zones requirement is enforced at `toBatch`, NOT at operation
  * build: the analyzer rewrites every DELETE on a
  * `SupportsRowLevelOperations` table through this plan shape before
  * the optimizer's `OptimizeMetadataOnlyDeleteFromTable` converts
  * pushable predicates back to the [[DnsUpdateTable.deleteWhere]]
  * metadata path — a build-time failure would break those statements
  * on zones-less tables that never actually scan. */
final class DnsRowLevelScan(opts: DnsSinkOptions) extends Scan {
  override def readSchema(): StructType = DnsSchemas.write
  override def description(): String =
    s"dns zone-state scan for row-level ops (zones=${opts.zones.mkString(",")})"

  override def toBatch: Batch = {
    require(opts.zones.nonEmpty,
      "dns_update: SQL UPDATE/MERGE INTO (and non-pushable DELETE) need the " +
        "table's 'zones' option — the groups a row-level operation scans and " +
        "replaces. Add OPTIONS (zones 'a.example,b.example') to the table.")
    new Batch {
      override def planInputPartitions(): Array[InputPartition] =
        opts.zones.map(z => DnsZoneStatePartition(z): InputPartition).toArray
      override def createReaderFactory(): PartitionReaderFactory =
        new DnsZoneStateReaderFactory(opts)
    }
  }
}

final case class DnsZoneStatePartition(zone: String) extends InputPartition

final class DnsZoneStateReaderFactory(opts: DnsSinkOptions)
  extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[DnsZoneStatePartition]
    new PartitionReader[InternalRow] {
      private val client = new WireTransferClient(opts.common.server, opts.common.port)
      private val rows: Iterator[InternalRow] = {
        // A delta reply would make the group-replace commit wipe every
        // carryover record, so snapshot throws on one.
        val records = client.snapshot(p.zone, opts.common.timeoutSec)
        val ts = opts.fixedTimestampMicros.getOrElse(0L)
        records.iterator.map { r =>
          new GenericInternalRow(Array[Any](
            UTF8String.fromString(DnsAction.IxfrAdd),
            UTF8String.fromString(r.fqdn.toLowerCase(java.util.Locale.ROOT)),
            UTF8String.fromString(r.ip),
            ts, DnsOptions.DefaultScanTtl)): InternalRow
        }
      }
      private var current: InternalRow = _
      override def next(): Boolean = {
        val h = rows.hasNext
        if (h) current = rows.next()
        h
      }
      override def get(): InternalRow = current
      override def close(): Unit = client.close()
    }
  }
}

/** The `ReplaceData` write: Catalyst hands back the FULL new content
  * of every scanned group (matched rows updated or dropped, unmatched
  * target rows verbatim, NOT MATCHED inserts appended), and the
  * commit replaces each configured zone with its share of it.
  *
  * Task side reuses [[DnsDataWriter]] in truncating mode — validate,
  * normalize, zone-group, LWW-dedup, STAGE (replacement content is
  * state, so a delete-action row inside it is contradictory and
  * rejected loudly, same as overwrite input). Driver side then emits
  * ONE atomic wipe+add per configured zone — including zones whose
  * replacement content came back EMPTY (every row deleted): group
  * semantics replace the group, so an empty group wipes. A replacement
  * row for a zone OUTSIDE the configured groups is a contract
  * violation (it was never scanned, so "replacing" it would silently
  * append) and fails the job before any message is sent. */
final class DnsReplaceDataWrite(opts: DnsSinkOptions, schema: StructType)
  extends Write {

  override def description(): String =
    s"dns group replacement (zones=${opts.zones.mkString(",")})"

  override def toBatch: BatchWrite = new BatchWrite {
    override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
      new DnsReplaceWriterFactory(opts, schema)

    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      val staged = DnsOverwriteStaged.merge(messages)
      val groups = opts.zones // normalized + deduped at option parse
      val stray = staged.keySet -- groups.toSet
      require(stray.isEmpty,
        s"dns_update row-level write produced rows for zones outside the " +
          s"table's zones option (${stray.toSeq.sorted.mkString(", ")}) — " +
          "unscanned zones cannot be replaced; add them to OPTIONS zones")
      // Replacement content is a SET — deterministic (fqdn, ip) order,
      // not chronological: there is no apply order to preserve in a
      // state snapshot. Every group is replaced, an empty one wiped.
      DriverWire(opts.common) { (client, emitter) =>
        DnsOverwriteStaged.replaceZones(client, emitter, opts.common.timeoutSec, groups,
          staged.view.mapValues(_.sortBy(r => (r.fqdn, r.ip))).toMap)
      }
    }

    override def abort(messages: Array[WriterCommitMessage]): Unit = ()
  }
}

/** Task-side adapter over [[DnsDataWriter]] (truncating mode) that
  * absorbs an upstream projection gap: Catalyst's group-based rewrite
  * prepends an int `__row_operation` column to the replacement rows
  * and builds a `ReplaceDataProjections.rowProjection` to strip it —
  * but `ReplaceDataExec.writingTask` only APPLIES projections when a
  * metadata projection is also present (`DataAndMetadataWritingSparkTask`;
  * with `requiredMetadataAttributes` empty it falls back to the plain
  * task, Spark 4.1.2 WriteToDataSourceV2Exec), so the writer receives
  * the RAW row: `[op, action, fqdn, ip, timestamp, ttl]` — while
  * `LogicalWriteInfo.schema()` reports only the 5 data columns.
  * DELETE's rewrite, by contrast, emits bare data rows. The adapter
  * therefore detects the layout from the first row's width (dataWidth
  * or dataWidth+1 — anything else fails loudly), shifts the by-name
  * field indices, and checks each op code the way the projecting task
  * would: WRITE / WRITE_WITH_METADATA rows are content, any delta-mode
  * code (DELETE/UPDATE/INSERT/REINSERT) here means a planner contract
  * change and must surface, not be mis-written. */
final class DnsReplaceWriterFactory(opts: DnsSinkOptions, schema: StructType)
  extends DataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[InternalRow] = {
    val base = FieldIndices(schema)
    val dataWidth = schema.length
    new org.apache.spark.sql.connector.write.DataWriter[InternalRow] {
      import org.apache.spark.sql.catalyst.util.RowDeltaUtils
      private var inner: DnsDataWriter = _
      private var shift = -1

      override def write(row: InternalRow): Unit = {
        if (inner == null) {
          shift = row.numFields - dataWidth
          require(shift == 0 || shift == 1,
            s"dns_update row-level write: unexpected row width ${row.numFields} " +
              s"for data schema of $dataWidth columns")
          val idx =
            if (shift == 0) base
            else FieldIndices(base.action + 1, base.fqdn + 1, base.ip + 1,
              base.timestamp + 1, base.ttl + 1)
          inner = new DnsDataWriter(opts, idx, truncating = true)
        }
        if (shift == 1) {
          val op = row.getInt(0)
          require(op == RowDeltaUtils.WRITE_OPERATION ||
              op == RowDeltaUtils.WRITE_WITH_METADATA_OPERATION,
            s"dns_update row-level write: unexpected __row_operation code $op " +
              "(group-based replacement rows must all be writes)")
        }
        inner.write(row)
      }

      override def commit(): WriterCommitMessage =
        // A zero-row task never initialized `inner` — its staged
        // content is simply empty (the all-deleted-group shape).
        if (inner == null) DnsOverwriteStaged(Nil) else inner.commit()
      override def abort(): Unit = if (inner != null) inner.abort()
      override def close(): Unit = if (inner != null) inner.close()
    }
  }
}
