package graft.sources.dns.read

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{MetadataColumn, SupportsMetadataColumns, SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expression => V2Expression, Literal => V2Literal, NamedReference, NullOrdering, SortDirection, SortOrder, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType, TimestampType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.dns._

/** DataSource V2 read path for `format("dns")`.
  *
  * Re-expresses the reference's V1 connector (DnsSourceRelationProvider
  * .java:36-88, DnsSourceRelation.java:17-45, DnsZoneRDD.java:40-103) on
  * public Spark 4 interfaces: registry → Table → ScanBuilder → Batch with
  * one InputPartition per pack of zones → PartitionReader running the
  * pack's zone transfers on the executor, one after another over one
  * connection.
  *
  * Scale design: one task per core, not one per zone. A single zone
  * transfer is serial by protocol (reference README.md:4-6), so a scan
  * cannot use more tasks than Spark has cores for leaf scans; the zone
  * list is cut into that many contiguous packs
  * ([[DnsZoneInputPartition.plan]]), and each task pays Spark's
  * per-task cost and one TCP connect once for its whole pack
  * (RFC 5936 §4.1 and RFC 7766 §6.2.1 allow many transfers on one
  * connection). Everything above the scan (joins, aggregation) is
  * stock Catalyst and scales independently.
  */
final class DnsTableProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "dns"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    DnsSchemas.read

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table = {
    // Fixed-schema contract: a user-supplied schema that differs from the
    // connector's constant is an error, not a silent no-op (the reference
    // ignores it — DnsSourceRelationProvider.java:51-53; we fail fast).
    if (schema != null && schema != DnsSchemas.read)
      throw new IllegalArgumentException(
        s"the dns source has a fixed schema ${DnsSchemas.read.simpleString}; " +
          s"user-supplied schema ${schema.simpleString} is not supported")
    new DnsTable(DnsOptions.source(properties))
  }
}

final class DnsTable(opts: DnsSourceOptions) extends Table with SupportsRead
  with SupportsMetadataColumns {
  override def name(): String =
    s"dns(${opts.common.server}:${opts.common.port})[${opts.zones.mkString(",")}]"

  override def schema(): StructType = DnsSchemas.read

  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
      .asJava // streaming: DnsMicroBatchStream (DnsStreamConnector.scala)

  /** Per-transfer facts as queryable `_serial` / `_xfr_kind` columns
    * (see [[DnsSchemas.metadata]]) — present in a scan only when a
    * query names them, like the file sources' `_metadata`. */
  override def metadataColumns(): Array[MetadataColumn] =
    DnsSchemas.metadata.fields.map { f =>
      new MetadataColumn {
        override def name(): String = f.name
        override def dataType() = f.dataType
        override def isNullable(): Boolean = f.nullable
        override def comment(): String = f.name match {
          case "_serial" => "final SOA serial the zone transfer reported"
          case _ => "transfer kind that actually ran (AXFR, or IXFR downgraded on journal gap)"
        }
      }
    }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new DnsScanBuilder(opts)
}

/** Zone-predicate algebra shared by the static (`SupportsPushDownV2Filters`)
  * and runtime (`SupportsRuntimeV2Filtering`) pruning paths. V2
  * `Predicate`s are Spark 4's forward-facing pushdown currency (the V1
  * `Filter` translation is the legacy path); both prune the same way:
  * exact string match against the normalized zone names rows carry. */
private[read] object ZonePredicates {
  private def isZoneRef(e: V2Expression): Boolean = e match {
    case n: NamedReference => n.fieldNames.sameElements(Array("zone"))
    case _ => false
  }

  private def strLit(e: V2Expression): Option[String] = e match {
    case l: V2Literal[_] if l.dataType == StringType && l.value != null =>
      Some(l.value.toString)
    case _ => None
  }

  /** Some(prunedZones) iff the predicate is a supported zone shape
    * (`zone = 'x.'`, `zone IN (...)`, `zone IS NOT NULL`); None means
    * "can't consume — Spark keeps it above the scan". The null check
    * Spark adds around a zone equality/grouping is a no-op (every
    * emitted row carries a zone) — accepting it matters because a
    * residual filter node between scan and aggregate would veto
    * COUNT(*) pushdown. */
  def prune(zones: Seq[String], p: Predicate): Option[Seq[String]] = p.name() match {
    case "=" => p.children() match {
      case Array(a, b) if isZoneRef(a) => strLit(b).map(v => zones.filter(_ == v))
      case Array(a, b) if isZoneRef(b) => strLit(a).map(v => zones.filter(_ == v))
      case _ => None
    }
    case "IN" =>
      val cs = p.children()
      if (cs.nonEmpty && isZoneRef(cs(0))) {
        val vs = cs.tail.map(strLit)
        if (vs.forall(_.isDefined)) {
          val wanted = vs.flatten.toSet
          Some(zones.filter(wanted.contains))
        } else None
      } else None
    case "IS_NOT_NULL" =>
      if (p.children().length == 1 && isZoneRef(p.children()(0))) Some(zones)
      else None
    case _ => None
  }
}

/** One column of a pushed ORDER BY: name + direction (`nullsFirst`
  * recorded for the description; no dns column is nullable). */
final case class SortSpec(field: String, ascending: Boolean, nullsFirst: Boolean) {
  def describe: String = s"$field ${if (ascending) "ASC" else "DESC"}"
}

/** Marker for a pushed ORDER BY ... LIMIT: per-partition sort + take.
  * Complete (single-zone) pushdown may carry a `PushedOffset` too. */
final case class PushedTopN(orders: Seq[SortSpec], limit: Int)

/** Marker for a pushed-down COUNT(*): `byZone` = grouped by `zone`
  * (complete pushdown — one final row per zone) vs global (partial —
  * Spark sums the per-partition counts). */
final case class PushedCountAgg(byZone: Boolean)

/** Everything [[DnsScanBuilder]] accepted into the scan, as ONE value:
  * the zone predicates (already applied to the zone list, kept for the
  * description), the COUNT(*) aggregate, the limit, the TopN and the
  * offset. A complete TopN/LIMIT/OFFSET push deletes Spark's own Sort
  * and Limit nodes, so a layer that dropped part of it would return
  * wrong rows without failing — scan, batch and reader factory carry
  * it as one required parameter, and [[DnsPartitionReader]] applies
  * it. */
final case class DnsPushdown(predicates: Array[Predicate],
                             agg: Option[PushedCountAgg],
                             limit: Option[Int],
                             topN: Option[PushedTopN],
                             offset: Option[Int]) {
  /** The pushdown part of the scan description, in the form the plan
    * assertions read (`PushedPredicates=[...]`, `PushedTopN=[...]`…). */
  def describe: String =
    (if (predicates.nonEmpty)
      s", PushedPredicates=[${predicates.map(_.describe()).mkString(", ")}]" else "") +
      agg.map(a => s", PushedAggregation=[COUNT(*)${if (a.byZone) " GROUP BY zone" else ""}]")
        .getOrElse("") +
      topN.map(t => s", PushedTopN=[ORDER BY ${t.orders.map(_.describe).mkString(", ")} " +
        s"LIMIT ${t.limit}]").getOrElse("") +
      limit.map(n => s", PushedLimit=LIMIT $n").getOrElse("") +
      offset.map(n => s", PushedOffset=OFFSET $n").getOrElse("")
}

object DnsPushdown {
  /** Nothing pushed — the builder's start state, and what the
    * micro-batch stream reads with (every record of every delta). */
  val empty: DnsPushdown = DnsPushdown(Array.empty, None, None, None, None)
}

/** Pushdown upgrades over the reference's plain TableScan (SURVEY §4):
  *
  *  - zone-equality predicates (`zone = 'x.'`, `zone IN (...)`) prune
  *    the zone list BEFORE partition planning — a pruned zone is a
  *    whole zone transfer (network round-trip + full zone payload)
  *    that never happens. Exact because the `zone` column of every row
  *    in a partition IS the partition's zone name. Spark 4's V2
  *    `Predicate` surface (`SupportsPushDownV2Filters`) — the V1
  *    `Filter` translation this replaces is the legacy path Catalyst
  *    may stop producing.
  *  - column pruning narrows the rows the reader materializes; a
  *    `select(fqdn, ip)` no longer builds 6-field rows.
  *  - COUNT(*) / LIMIT / ORDER-BY-LIMIT / OFFSET pushdowns below.
  *
  * The `serial` option remains a further pushdown: a source-level
  * "changes since" predicate evaluated by the DNS server itself during
  * IXFR (reference DnsZoneRDD.java:76-80).
  */
final class DnsScanBuilder(opts: DnsSourceOptions) extends ScanBuilder
  with SupportsPushDownV2Filters with SupportsPushDownRequiredColumns
  with SupportsPushDownAggregates with SupportsPushDownLimit
  with SupportsPushDownTopN with SupportsPushDownOffset {

  private var zones: Seq[String] = opts.zones
  private var required: StructType = DnsSchemas.read
  private var pushdown: DnsPushdown = DnsPushdown.empty

  /** LIMIT pushdown — partial on a multi-zone scan (each partition's
    * reader stops materializing after `n` rows; Spark keeps the global
    * limit), COMPLETE on a single-zone scan (one partition IS the
    * global row order, so the scan's `n` rows are the answer and the
    * plan drops its limit node). The zone transfer itself still runs
    * (the protocol has no partial-transfer form) — the saving is row
    * materialization and scan→limit traffic on wide zones. Composes
    * with aggregate pushdown by refusing: a LIMIT under a pushed COUNT
    * would change the count. */
  override def pushLimit(n: Int): Boolean =
    if (pushdown.agg.isDefined) false
    else { pushdown = pushdown.copy(limit = Some(n)); true }

  /** ORDER BY ... LIMIT pushdown (`SupportsPushDownTopN`): the reader
    * sorts its pack's records in memory (each zone is bounded by
    * message size — it's already a materialized Seq) and emits the top
    * n. Multi-zone: partial — Spark merges the per-partition top-n's.
    * Single zone: complete — one zone is one partition, so the scan
    * output IS the query result, and OFFSET composes ([[pushOffset]]).
    * Sort columns may be outside the projected schema (a complete
    * pushdown removes the Sort node, so nothing upstream keeps them
    * alive) — the reader materializes them for the comparison and
    * projects them away. */
  override def pushTopN(orders: Array[SortOrder], n: Int): Boolean = {
    if (pushdown.agg.isDefined || orders.isEmpty) false
    else {
      val specs = orders.toSeq.map(parseOrder)
      if (specs.exists(_.isEmpty)) false
      else { pushdown = pushdown.copy(topN = Some(PushedTopN(specs.flatten, n))); true }
    }
  }

  private def parseOrder(o: SortOrder): Option[SortSpec] = o.expression() match {
    case n: NamedReference if n.fieldNames.length == 1 &&
        (DnsSchemas.read.fieldNames.contains(n.fieldNames()(0)) ||
          DnsSchemas.metadata.fieldNames.contains(n.fieldNames()(0))) =>
      Some(SortSpec(n.fieldNames()(0),
        o.direction() == SortDirection.ASCENDING,
        o.nullOrdering() == NullOrdering.NULLS_FIRST))
    case _ => None
  }

  /** Complete pushdown needs the scan's row order to BE the global
    * order — true exactly when one zone survives static pruning (one
    * partition). Spark consults this for both LIMIT and TopN; on a
    * complete push it drops its own sort/limit nodes and, for
    * `LIMIT k OFFSET m`, goes on to offer the offset. */
  override def isPartiallyPushed(): Boolean = zones.length != 1

  /** OFFSET pushdown — single-zone scans only (skipping `m` rows per
    * PARTITION is only the global skip when there is one partition).
    * Spark offers it after a COMPLETE limit/TopN push (as
    * `pushTopN(orders, k + m)` + `pushOffset(m)`) or standalone for a
    * bare `.offset(m)`. */
  override def pushOffset(n: Int): Boolean =
    if (pushdown.agg.isDefined || zones.length != 1) false
    else { pushdown = pushdown.copy(offset = Some(n)); true }

  /** COUNT(*) pushdown (`SupportsPushDownAggregates`): a zone-level
    * record census — the monitoring query a DNS estate runs all day —
    * ships ONE row per zone instead of every record. The transfer
    * itself still runs (the protocol has no server-side count), but
    * row materialization, the scan→agg exchange, and the aggregate
    * hash table all disappear. Accepted shapes: COUNT(*) grouped by
    * `zone`, or globally. Grouping by `zone` is COMPLETE pushdown —
    * a reader emits one count row per zone of its pack, and no zone is
    * in two packs (guarded on the zone list being duplicate-free), so
    * they are final group rows; the global form stays PARTIAL (Spark
    * sums the per-partition counts), and every partition emits a row —
    * count 0 included, the ignore-failures "empty zone" semantic — so
    * the final sum is never null. An empty static zone list refuses pushdown (zero
    * partitions would sum to NULL where COUNT must return 0). */
  private def acceptableAgg(agg: Aggregation): Boolean = {
    val countsOnly = agg.aggregateExpressions.nonEmpty &&
      agg.aggregateExpressions.forall(_.isInstanceOf[CountStar])
    val groupOk = agg.groupByExpressions.isEmpty ||
      (agg.groupByExpressions.length == 1 && (agg.groupByExpressions()(0) match {
        case n: NamedReference => n.fieldNames.sameElements(Array("zone"))
        case _ => false
      }))
    countsOnly && groupOk && zones.nonEmpty
  }

  override def supportCompletePushDown(agg: Aggregation): Boolean =
    acceptableAgg(agg) && agg.groupByExpressions.nonEmpty &&
      zones.distinct.lengthCompare(zones.length) == 0

  override def pushAggregation(agg: Aggregation): Boolean = {
    if (!acceptableAgg(agg)) false
    else {
      val byZone = agg.groupByExpressions.nonEmpty
      pushdown = pushdown.copy(agg = Some(PushedCountAgg(byZone)))
      required = StructType(
        (if (byZone) Seq(StructField("zone", StringType, nullable = false)) else Nil) ++
          agg.aggregateExpressions.indices
            .map(i => StructField(s"count$i", LongType, nullable = false)))
      true
    }
  }

  override def pushPredicates(predicates: Array[Predicate]): Array[Predicate] = {
    // Exact-match semantics: values compare verbatim against the
    // normalized zone names rows carry (a predicate on an
    // un-normalized name matches no rows either way).
    val (zonePreds, rest) = predicates.partition(
      p => ZonePredicates.prune(zones, p).isDefined)
    zonePreds.foreach(p => zones = ZonePredicates.prune(zones, p).get)
    pushdown = pushdown.copy(predicates = zonePreds)
    rest // everything else is evaluated by Spark above the scan
  }

  override def pushedPredicates(): Array[Predicate] = pushdown.predicates

  override def pruneColumns(requiredSchema: StructType): Unit = {
    // After aggregate pushdown the scan's output IS the aggregation
    // schema (set in pushAggregation); column pruning no longer
    // applies to it.
    if (pushdown.agg.isDefined) return
    // Preserve the connector's canonical column order; a referenced
    // metadata column (`_serial`/`_xfr_kind`) arrives appended to the
    // required schema and stays appended, in its own canonical order.
    val keep = requiredSchema.fieldNames.toSet
    required = StructType(
      DnsSchemas.read.fields.filter(f => keep.contains(f.name)) ++
        DnsSchemas.metadata.fields.filter(f => keep.contains(f.name)))
  }

  override def build(): Scan = new DnsScan(opts, zones, required, pushdown)
}

final class DnsScan(opts: DnsSourceOptions, zones: Seq[String], schema: StructType,
                    pushdown: DnsPushdown)
  extends Scan with SupportsRuntimeV2Filtering with SupportsReportStatistics
  with SupportsReportPartitioning with SupportsReportOrdering {

  /** How many packs at most: read once, so the reported partitioning
    * and ordering and the planned partitions agree. */
  private val parallelism = DnsZoneInputPartition.leafParallelism(SparkSession.active)

  /** Zones surviving RUNTIME filtering ([[filter]]). Static pushdown
    * already pruned `zones` at ScanBuilder time; this second stage
    * prunes against values that only exist at execution time — a
    * dynamic-partition-pruning subquery over the join's other side.
    * The reference has no pushdown at all (DnsSourceRelation.java:17);
    * here a zone pruned EITHER way is a whole zone transfer (network
    * round-trip + full zone payload) that never happens. */
  @volatile private var runtimeZones: Seq[String] = zones

  override def readSchema(): StructType = schema

  /** DSv2 custom metrics (DnsMetrics.scala): records / payload bytes /
    * IXFR→AXFR fallbacks per scan, summed across zone transfers and
    * shown in the SQL UI — batch AND streaming (the micro-batch reader
    * factory shares [[DnsPartitionReader]], whose
    * `currentMetricsValues` reports them). */
  override def supportedCustomMetrics(): Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    Array(new DnsRecordsMetric, new DnsBytesMetric, new DnsFallbacksMetric)

  override def description(): String =
    s"DnsScan(server=${opts.common.server}, zones=${runtimeZones.mkString(",")}, " +
      s"xfr=${opts.xfr}, columns=[${schema.fieldNames.mkString(",")}]" +
      pushdown.describe + ")"

  /** Planner statistics (`SupportsReportStatistics`), reported AFTER
    * static pushdown so a pruned zone shrinks the estimate:
    * size = surviving zones × the `estimated-zone-bytes` bound,
    * rows = surviving zones × that bound / 128 B per A-record row
    * ([[DnsSourceOptions.estimatedZoneRows]]), and per-COLUMN
    * statistics for `zone` — the one column whose statistics the
    * connector knows EXACTLY before any transfer runs (the zone list
    * is configuration: ndv = surviving zones, zero nulls, real name
    * lengths). Two payoffs: a handful of zones lands far under
    * `spark.sql.autoBroadcastJoinThreshold`, so Catalyst broadcasts
    * the DNS side of an equi-join with no hint — without the estimate
    * a DSv2 relation defaults to `spark.sql.defaultSizeInBytes`
    * (Long.MaxValue) and the join sort-merges a 4-zone table; and
    * under CBO the row count + zone ndv let CostBasedJoinReorder
    * order a multi-way join so the smallest estates join first
    * (plan-asserted in PlanAuditSpec). The reference reports no
    * statistics at all (DnsSourceRelation.java:17 — V1 TableScan has
    * no such surface). */
  override def estimateStatistics(): Statistics = new Statistics {
    private val nZones = runtimeZones.length.toLong
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(nZones * opts.estimatedZoneBytes)
    override def numRows(): java.util.OptionalLong =
      java.util.OptionalLong.of(nZones * opts.estimatedZoneRows)
    override def columnStats(): java.util.Map[NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
      val m = new java.util.HashMap[NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
      if (runtimeZones.nonEmpty && schema.fieldNames.contains("zone")) {
        val lens = runtimeZones.map(_.length.toLong)
        m.put(org.apache.spark.sql.connector.expressions.Expressions.column("zone"),
          new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
            override def distinctCount(): java.util.OptionalLong =
              java.util.OptionalLong.of(nZones)
            override def nullCount(): java.util.OptionalLong =
              java.util.OptionalLong.of(0L)
            override def avgLen(): java.util.OptionalLong =
              java.util.OptionalLong.of(lens.sum / nZones)
            override def maxLen(): java.util.OptionalLong =
              java.util.OptionalLong.of(lens.max)
          })
      }
      m
    }
  }

  /** True when every pack holds one zone (zones ≤ leaf parallelism)
    * and `zone` survived projection: only then does each partition
    * have one partition key. */
  private def oneZonePerPack: Boolean =
    runtimeZones.nonEmpty && runtimeZones.length <= parallelism &&
      schema.fieldNames.contains("zone")

  /** Output partitioning (`SupportsReportPartitioning`): while every
    * pack holds one zone, the scan IS key-grouped by `zone` — every row
    * a partition emits carries its zone (the pushed-COUNT-by-zone form
    * included). Reporting it (each partition exposes its zone via
    * [[DnsZoneInputPartition]] `HasPartitionKey`) lets Catalyst drop
    * the exchanges a zone-keyed join or aggregation would otherwise
    * plan: two dns scans joined on `zone` become a
    * storage-partitioned join. Recognized when
    * `spark.sql.sources.v2.bucketing.enabled` is true (set by
    * `graft.Session`); inert otherwise — results never change, only
    * the exchanges. More zones than leaf parallelism: a pack holds
    * several zones and has no single key, so the scan reports
    * `UnknownPartitioning` over its packs and a zone-keyed join
    * shuffles — the price of one task per core instead of one per
    * zone. */
  override def outputPartitioning(): org.apache.spark.sql.connector.read.partitioning.Partitioning = {
    import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, UnknownPartitioning}
    if (oneZonePerPack)
      new KeyGroupedPartitioning(
        Array(org.apache.spark.sql.connector.expressions.Expressions.identity("zone")),
        runtimeZones.length)
    else new UnknownPartitioning(math.min(runtimeZones.length, parallelism))
  }

  /** Output ordering (`SupportsReportOrdering`): while every pack
    * holds one zone, the `zone` column is CONSTANT within a partition,
    * so the scan's output is `zone ASC`-ordered for free, no
    * reader-side sort, no change to the observable emission order (the
    * IXFR deletes-before-adds contract, §2.3.4, stays byte-identical).
    * Reporting it is what deletes the Sort nodes a zone-keyed
    * sort-merge join would otherwise plan under each scan: combined
    * with [[outputPartitioning]], two dns estates merge-join with NO
    * exchange and NO sort (asserted in PlanAuditSpec). A pack of
    * several zones is ordered by the zone list, not by name, so it
    * reports no ordering. */
  override def outputOrdering(): Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
    import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection}
    if (oneZonePerPack)
      Array(Expressions.sort(Expressions.column("zone"), SortDirection.ASCENDING))
    else Array.empty
  }

  /** DPP handshake: declare `zone` runtime-filterable. Spark's
    * PartitionPruning rule then plants a DynamicPruningSubquery on any
    * equi-join over `zone` whose other side carries a selective filter;
    * at execution BatchScanExec evaluates it, calls [[filter]] with the
    * surviving values, and re-plans partitions — so the transfers for
    * runtime-eliminated zones never start. */
  override def filterAttributes(): Array[NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.column("zone"))

  override def filter(predicates: Array[Predicate]): Unit =
    predicates.foreach { p =>
      // Same exact-match contract (and the same V2 Predicate algebra)
      // as the static pushdown; an unsupported shape keeps the
      // superset — Spark still applies the predicate above the scan.
      ZonePredicates.prune(runtimeZones, p).foreach(runtimeZones = _)
    }

  /** A batch at the `serial` option for every zone, over the zones
    * that survived runtime filtering when Spark asked for it. */
  override def toBatch: Batch = {
    val planned = runtimeZones
    new Batch {
      override def planInputPartitions(): Array[InputPartition] =
        DnsZoneInputPartition.plan(planned, parallelism, _ => opts.serial, _ => None)
      override def createReaderFactory(): PartitionReaderFactory =
        new DnsReaderFactory(opts, schema, pushdown, counters = None)
    }
  }

  override def toMicroBatchStream(checkpointLocation: String) =
    new DnsMicroBatchStream(opts, zones, schema, parallelism)
}

/** One zone of a pack: the changes since `serial`. A stream batch
  * bounds them at its end offset's serial (`until`); a batch scan
  * reads to the server's current serial. */
final case class DnsZoneRead(zone: String, serial: Long, until: Option[Long])

/** One partition: a pack of zones, read one after another over one
  * connection (the reference plans one partition per zone,
  * DnsZonePartition.java:11-19). `HasPartitionKey` exposes a one-zone
  * pack's zone as its key-grouped identity — the row-level half of the
  * scan's [[DnsScan.outputPartitioning]] contract, which reports key
  * grouping only while every pack holds one zone. */
final case class DnsZoneInputPartition(index: Int, zones: Seq[DnsZoneRead])
  extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow = zones match {
    case Seq(only) => new GenericInternalRow(Array[Any](UTF8String.fromString(only.zone)))
    case _ => throw new IllegalStateException(
      s"a pack of ${zones.size} zones has no single partition key")
  }
}

object DnsZoneInputPartition {
  /** Spark's own parallelism for leaf scans, which bounds the packs:
    * `spark.sql.leafNodeDefaultParallelism` if set, else the context's
    * default parallelism (its cores, run locally). */
  def leafParallelism(spark: SparkSession): Int =
    spark.conf.getOption("spark.sql.leafNodeDefaultParallelism").map(_.toInt)
      .getOrElse(spark.sparkContext.defaultParallelism)

  /** The partition plan of batch and stream alike: the zone list cut
    * into at most `packs` contiguous packs whose zone counts differ by
    * at most one (a zone's size is unknown before its transfer), each
    * zone transferring from `from(zone)` up to `until(zone)`. Packs
    * keep zone-list order, so partition order is the row order of one
    * partition per zone. */
  def plan(zones: Seq[String], packs: Int, from: String => Long,
           until: String => Option[Long]): Array[InputPartition] = {
    require(packs >= 1, s"a dns scan needs at least one pack, got $packs")
    val n = math.min(packs, zones.length)
    Array.tabulate[InputPartition](n) { i =>
      DnsZoneInputPartition(i, zones.slice(i * zones.length / n, (i + 1) * zones.length / n)
        .map(z => DnsZoneRead(z, from(z), until(z))))
    }
  }
}

final class DnsReaderFactory(opts: DnsSourceOptions, schema: StructType,
                             pushdown: DnsPushdown,
                             counters: Option[DnsStreamCounters])
  extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[DnsZoneInputPartition]
    new DnsPartitionReader(opts, schema, p, pushdown, counters)
  }
}

/** Executor-side reader: runs the pack's zone transfers one after
  * another over one connection, filters to A records (done inside the
  * client), tags actions, stamps one timestamp per partition (reference
  * DnsZoneRDD.java:63-97). IXFR deltas flatten as ALL deletes then ALL
  * adds — the global order is part of the observable output (reference
  * Xfr.java:52-74, SURVEY §2.3.4). A zone is transferred once the rows
  * of the zone before it are used up; a pushed TopN or global COUNT
  * needs the whole pack first. Everything but the connection and the
  * summed metrics stays per zone. close() closes the connection.
  */
final class DnsPartitionReader(opts: DnsSourceOptions, schema: StructType,
                               p: DnsZoneInputPartition,
                               pushdown: DnsPushdown,
                               counters: Option[DnsStreamCounters])
  extends PartitionReader[InternalRow] {
  import DnsPartitionReader._

  private val client = new WireTransferClient(opts.common.server, opts.common.port)

  // Custom-metric counters, summed over the pack's transfers (reported
  // via currentMetricsValues — DnsMetrics.scala).
  private var metricRecords = 0L
  private var metricBytes = 0L
  private var metricFallbacks = 0L

  /** One zone's transfer: its records in runs that share an action, in
    * emission order, and the transfer's `_serial`/`_xfr_kind` values. */
  private final class Transferred(val zone: String, val serial: Long, val kind: String,
                                  val runs: Seq[(UTF8String, Seq[ARecord])]) {
    val size: Long = runs.map(_._2.size.toLong).sum
  }

  /** Transfers one zone and counts it into the metrics. None: a batch
    * scan under ignore-failures swallowed its failure, so the zone is
    * empty (DnsZoneRDD.java:83-92) and the pack reads on. A stream
    * batch does not swallow: its end offset is already logged, so an
    * empty zone would lose (start, end] for good. The task fails
    * instead, and its retry or the batch's replay re-reads the same
    * bounds; ignore-failures drops a dead zone at the poll. */
  private def transfer(z: DnsZoneRead): Option[Transferred] = {
    val served =
      try Some(client.transfer(z.zone, z.serial, opts.xfr, opts.common.timeoutSec))
      catch { case _: Exception if opts.ignoreFailures && z.until.isEmpty => None }
    served.map { result =>
      var fallbacks = 0L
      val t = result match {
        case AxfrResult(serial, records) =>
          // RFC 1995 §4: an IXFR request answered with a full zone is
          // the server falling back — surfaced as a metric (a delta
          // request from serial 0 legitimately snapshots; not a fallback).
          // A snapshot cannot be cut at `until`: it is emitted whole,
          // `_serial` naming the serial it was served at, and the next
          // stream batch re-applies the deltas past `until` over it,
          // which set semantics make harmless.
          if (opts.xfr == XfrType.IXFR && z.serial > 0L) fallbacks = 1L
          new Transferred(z.zone, serial, "AXFR", Seq(AxfrAction -> records))
        case IxfrResult(serial, all) =>
          // A stream batch ends at its end offset's serial: later
          // deltas belong to the next batch, so a replayed batch
          // reads the rows of its first run.
          val deltas = z.until.fold(all)(u => all.takeWhile(_.endSerial <= u))
          new Transferred(z.zone, deltas.lastOption.fold(math.min(serial, z.serial))(_.endSerial),
            "IXFR", Seq(IxfrDeleteAction -> deltas.flatMap(_.deletes),
              IxfrAddAction -> deltas.flatMap(_.adds)))
      }
      var bytes = 0L
      t.runs.foreach(_._2.foreach(r => bytes += utf8Length(r.fqdn) + utf8Length(r.ip)))
      metricRecords += t.size
      metricBytes += bytes
      metricFallbacks += fallbacks
      // Streaming per-progress counters ride accumulators to the driver
      // (ReportsSourceMetrics) — the same numbers as the task metrics.
      counters.foreach { c =>
        c.records.add(t.size)
        c.bytes.add(bytes)
        c.fallbacks.add(fallbacks)
      }
      t
    }
  }

  private val transfers: Iterator[Transferred] = p.zones.iterator.flatMap(transfer)

  /** A pushed COUNT(*) row: the zone first when grouped by it. */
  private def countRow(zone: Option[String], n: Long): InternalRow = {
    val row = new GenericInternalRow(schema.length)
    var i = 0
    zone.foreach { z => row.update(0, UTF8String.fromString(z)); i = 1 }
    while (i < schema.length) { row.setLong(i, n); i += 1 }
    row
  }

  /** The columns rows are built with: a pushed ORDER BY may name
    * columns the projection pruned away (a COMPLETE TopN push removes
    * the Sort node, so nothing upstream keeps them alive), so they are
    * materialized for the comparison, appended, and projected away
    * after. Only the pruned columns are materialized otherwise
    * (SupportsPushDownRequiredColumns). */
  private val sortOnly: Seq[String] = pushdown.topN
    .map(_.orders.map(_.field).distinct.filterNot(schema.fieldNames.contains))
    .getOrElse(Seq.empty)
  private val buildSchema = StructType(schema.fields ++ sortOnly.map(f =>
    (DnsSchemas.read.fields ++ DnsSchemas.metadata.fields).find(_.name == f)
      .getOrElse(throw new IllegalStateException(s"unknown dns sort column '$f'"))))
  private val actionAt = buildSchema.fieldNames.indexOf("action")
  private val fqdnAt = buildSchema.fieldNames.indexOf("fqdn")
  private val ipAt = buildSchema.fieldNames.indexOf("ip")
  private val organization = UTF8String.fromString(opts.organization)
  private val tsMicros: Any = opts.fixedTimestampMicros
    .getOrElse(System.currentTimeMillis() * 1000L)

  /** One zone's rows. The columns that are constant over the zone are
    * encoded once into a template; a row copies it and adds the
    * record's own action, fqdn and ip. */
  private def rowsOf(t: Transferred): Iterator[InternalRow] = {
    val template = buildSchema.fieldNames.map[Any] {
      case "action" | "fqdn" | "ip" => null
      case "organization" => organization
      case "timestamp" => tsMicros
      case "zone" => UTF8String.fromString(t.zone)
      case "_serial" => t.serial
      case "_xfr_kind" => UTF8String.fromString(t.kind)
      case other => throw new IllegalStateException(s"unknown dns column '$other'")
    }
    t.runs.iterator.flatMap { case (action, records) =>
      records.iterator.map { r =>
        val values = template.clone()
        if (actionAt >= 0) values(actionAt) = action
        if (fqdnAt >= 0) values(fqdnAt) = UTF8String.fromString(r.fqdn.toLowerCase(java.util.Locale.ROOT))
        if (ipAt >= 0) values(ipAt) = UTF8String.fromString(r.ip)
        new GenericInternalRow(values): InternalRow
      }
    }
  }

  private val rows: Iterator[InternalRow] = pushdown.agg match {
    // Pushed COUNT(*): the transfers run, count rows ship instead of
    // record rows. Grouped by zone (complete pushdown), a zone emits its
    // group row only when records exist — matching the row path, where
    // an empty or swallowed-failure zone contributes no group. The
    // global (partial) form emits one row per pack, count 0 included,
    // so Spark's final sum is never null.
    case Some(PushedCountAgg(true)) =>
      transfers.filter(_.size > 0).map(t => countRow(Some(t.zone), t.size))
    case Some(PushedCountAgg(false)) =>
      Iterator.single(countRow(None, transfers.map(_.size).sum))
    case None =>
      val selected: Iterator[InternalRow] = pushdown.topN match {
        case Some(t) =>
          // Pushed ORDER BY ... LIMIT: in-memory sort of the pack's
          // rows (each zone bounded by the DNS message size), stable so
          // ties keep serve order. Take BEFORE drop: a complete push
          // arrives as pushTopN(orders, k + m) + pushOffset(m).
          transfers.flatMap(rowsOf).toVector.sorted(topNOrdering(t))
            .iterator.take(t.limit).drop(pushdown.offset.getOrElse(0))
        case None =>
          // Partial limit: stop materializing past the pushed bound —
          // Spark's global limit above the scan finishes the job (a
          // single-zone complete push takes exactly the answer).
          pushdown.limit.foldLeft(transfers.flatMap(rowsOf))((it, n) => it.take(n))
            .drop(pushdown.offset.getOrElse(0))
      }
      // project away sort-only columns (they sit appended, so the
      // output row is the first schema.length fields)
      if (sortOnly.isEmpty) selected
      else selected.map { r =>
        val out = new GenericInternalRow(schema.length)
        var i = 0
        while (i < schema.length) {
          schema(i).dataType match {
            case StringType => out.update(i, r.getUTF8String(i))
            case LongType | TimestampType => out.setLong(i, r.getLong(i))
            case other => throw new IllegalStateException(s"unexpected dns column type $other")
          }
          i += 1
        }
        out.asInstanceOf[InternalRow]
      }
  }

  /** Row ordering for a pushed TopN: column-by-column comparison over
    * the build schema (strings and long-backed timestamps are the only
    * dns column kinds; nothing is nullable). */
  private def topNOrdering(t: PushedTopN): Ordering[InternalRow] = {
    val keys: Seq[(Int, DataType, Boolean)] = t.orders.map(o =>
      (buildSchema.fieldIndex(o.field), buildSchema(o.field).dataType, o.ascending))
    (a: InternalRow, b: InternalRow) => {
      var res = 0
      val it = keys.iterator
      while (res == 0 && it.hasNext) {
        val (i, dt, asc) = it.next()
        val c = dt match {
          case StringType => a.getUTF8String(i).compareTo(b.getUTF8String(i))
          case LongType | TimestampType => java.lang.Long.compare(a.getLong(i), b.getLong(i))
          case other => throw new IllegalStateException(s"unexpected dns sort column type $other")
        }
        res = if (asc) c else -c
      }
      res
    }
  }

  private var current: InternalRow = _

  override def next(): Boolean = {
    if (rows.hasNext) { current = rows.next(); true } else false
  }

  override def get(): InternalRow = current

  /** Per-task custom metrics — Spark polls these as the task runs and
    * folds the final values into the scan node's SQL-UI metrics. */
  override def currentMetricsValues(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    Array(
      new DnsTaskMetric(DnsMetrics.RecordsName, metricRecords),
      new DnsTaskMetric(DnsMetrics.BytesName, metricBytes),
      new DnsTaskMetric(DnsMetrics.FallbacksName, metricFallbacks))

  override def close(): Unit = client.close()
}

object DnsPartitionReader {
  private val AxfrAction = UTF8String.fromString(DnsAction.Axfr)
  private val IxfrAddAction = UTF8String.fromString(DnsAction.IxfrAdd)
  private val IxfrDeleteAction = UTF8String.fromString(DnsAction.IxfrDelete)

  /** `s.getBytes(UTF_8).length`, without encoding `s`: a surrogate
    * pair is 4 bytes, and an unpaired surrogate is the 1-byte '?' the
    * encoder writes for it. */
  private[read] def utf8Length(s: String): Int = {
    var n = 0
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      n += (if (c < 0x80) 1
      else if (c < 0x800) 2
      else if (!Character.isSurrogate(c)) 3
      else if (Character.isHighSurrogate(c) && i + 1 < s.length &&
          Character.isLowSurrogate(s.charAt(i + 1))) { i += 1; 4 }
      else 1)
      i += 1
    }
    n
  }
}
