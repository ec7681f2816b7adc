package graft.sources.warc.read

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expression => V2Expression, Literal => V2Literal, NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.warc.{CdxSidecar, GzipMembers, WarcCodec}

/** DataSource V2 read path for `format("warc")` — the crawl-carrier
  * connector (r18 verdict item 1), unifying the repo's two halves:
  * the `.warc.gz` codecs the query-level keys exercise
  * ([[graft.sources.warc.GzipMembers]]/[[graft.sources.warc.WarcCodec]],
  * gated by `q_warc_gz`/`q_warc_cdx`) become a first-class
  * TableProvider, so a crawl corpus on disk reads as
  * `spark.read.format("warc").load(dir)` exactly like the reference's
  * DNS estate reads as `format("dns")`.
  *
  * Layout contract: a directory of record-per-member `.warc.gz` files
  * (the Common Crawl shape — one WARC record per gzip member, members
  * concatenated), each optionally carrying a [[CdxSidecar]]
  * (`<file>.cdx`) naming every member's (target_uri, comp_offset,
  * comp_len) — the index crawl archives actually ship.
  *
  * Scale design mirrors [[graft.sources.dns.read.DnsReadConnector]]:
  *  - one InputPartition per FILE (the codec seam — a sequential
  *    member split + parse where the bytes live; payload bytes never
  *    leave the partition);
  *  - a pushed `target_uri` predicate consults each file's CDX
  *    sidecar and re-plans the file as index-driven POINT READS
  *    ([[GzipMembers.first]] at the matching members' offsets — the
  *    cost of a point read is one member's bytes, independent of file
  *    size), skipping files with no match entirely;
  *  - statistics come from the sidecars (member counts, compressed
  *    bytes), shrinking under pushdown so a pruned scan broadcasts.
  *
  * Pushdown is PRUNING, never filtering: the scan reports the uri
  * predicates it consumed (plan visibility) but also RETURNS them for
  * Spark to re-evaluate above the scan — so a file without a sidecar
  * (which must scan fully) and an index row rounding both stay
  * correct by construction; the index only decides how much I/O
  * happens, exactly parquet's pushed-filter contract. */
final class WarcTableProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "warc"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    WarcSchemas.read

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table = {
    if (schema != null && schema != WarcSchemas.read)
      throw new IllegalArgumentException(
        s"the warc source has a fixed schema ${WarcSchemas.read.simpleString}; " +
          s"user-supplied schema ${schema.simpleString} is not supported")
    val path = properties.get("path")
    require(path != null && path.nonEmpty,
      "warc source requires a 'path' option (directory of .warc.gz files)")
    new WarcTable(path)
  }
}

object WarcSchemas {
  /** Fixed read schema: member coordinates (the random-access surface
    * WarcGzSpec proves) + the parsed record fields, `payload` last so
    * the common metadata-only projection prunes it. `file` is the
    * file NAME (not path): stable across hosts and scratch roots. */
  val read: StructType = StructType(Seq(
    StructField("file", StringType, nullable = false),
    StructField("member_idx", LongType, nullable = false),
    StructField("comp_offset", LongType, nullable = false),
    StructField("comp_len", LongType, nullable = false),
    StructField("rec_idx", LongType, nullable = false),
    StructField("warc_type", StringType, nullable = false),
    StructField("target_uri", StringType, nullable = false),
    StructField("content_length", LongType, nullable = false),
    StructField("record_id", StringType, nullable = false),
    StructField("refers_to", StringType, nullable = false),
    StructField("payload_digest", StringType, nullable = false),
    StructField("payload", StringType, nullable = false)))
}

/** Test observability (the zone-pruning discipline of q_dns_pushdown): JVM-wide
  * counters the specs reset and read to PIN the prune shape — a
  * pruned scan must show point reads and never a full member parse.
  * Monotone counters only; results never depend on them. */
object WarcSourceCounters {
  val filesOpened = new java.util.concurrent.atomic.AtomicLong
  val membersParsed = new java.util.concurrent.atomic.AtomicLong
  val pointReads = new java.util.concurrent.atomic.AtomicLong
  def reset(): Unit = { filesOpened.set(0); membersParsed.set(0); pointReads.set(0) }
}

final class WarcTable(path: String) extends Table with SupportsRead {
  override def name(): String = s"warc($path)"
  override def schema(): StructType = WarcSchemas.read
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new WarcScanBuilder(path)
}

/** `target_uri` predicate algebra — the [[graft.sources.dns.read.ZonePredicates]]
  * shape: Some(uris) iff the predicate is a supported uri form
  * (`target_uri = '…'`, `target_uri IN (…)`), None = can't consume. */
private[read] object UriPredicates {
  private def isUriRef(e: V2Expression): Boolean = e match {
    case n: NamedReference => n.fieldNames.sameElements(Array("target_uri"))
    case _ => false
  }
  private def strLit(e: V2Expression): Option[String] = e match {
    case l: V2Literal[_] if l.dataType == StringType && l.value != null =>
      Some(l.value.toString)
    case _ => None
  }
  def uris(p: Predicate): Option[Set[String]] = p.name() match {
    case "=" => p.children() match {
      case Array(a, b) if isUriRef(a) => strLit(b).map(Set(_))
      case Array(a, b) if isUriRef(b) => strLit(a).map(Set(_))
      case _ => None
    }
    case "IN" =>
      val cs = p.children()
      if (cs.nonEmpty && isUriRef(cs(0))) {
        val vs = cs.tail.map(strLit)
        if (vs.forall(_.isDefined)) Some(vs.flatten.toSet) else None
      } else None
    case _ => None
  }
}

final class WarcScanBuilder(path: String) extends ScanBuilder
  with SupportsPushDownV2Filters with SupportsPushDownRequiredColumns {

  private var required: StructType = WarcSchemas.read
  private var pushed: Array[Predicate] = Array.empty
  private var wantedUris: Option[Set[String]] = None

  override def pushPredicates(predicates: Array[Predicate]): Array[Predicate] = {
    val uriSets = predicates.flatMap(p => UriPredicates.uris(p).map(p -> _))
    if (uriSets.nonEmpty) {
      // conjunction: a row must satisfy every uri predicate
      wantedUris = Some(uriSets.map(_._2).reduce(_ intersect _))
      pushed = uriSets.map(_._1)
    }
    // Pruning, not filtering: Spark re-evaluates EVERYTHING above the
    // scan (see class doc) — correctness never rides the index.
    predicates
  }

  override def pushedPredicates(): Array[Predicate] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit = {
    val keep = requiredSchema.fieldNames.toSet
    required = StructType(WarcSchemas.read.fields.filter(f => keep.contains(f.name)))
  }

  override def build(): Scan = new WarcScan(path, required, wantedUris, pushed)
}

/** One planned slice of one file: either the whole file (sequential
  * member split — `points` empty, the no-index / no-predicate path)
  * or the index-driven point reads (`points` = matching members'
  * (member_idx, comp_offset, comp_len) from the sidecar). */
final case class WarcInputPartition(fileName: String, filePath: String,
    points: Seq[(Long, Long, Long)], whole: Boolean) extends InputPartition

final class WarcScan(path: String, schema: StructType,
    wantedUris: Option[Set[String]], pushedPreds: Array[Predicate])
  extends Scan with Batch with SupportsReportStatistics {

  override def readSchema(): StructType = schema
  override def toBatch: Batch = this

  override def description(): String =
    s"WarcScan(path=$path, columns=[${schema.fieldNames.mkString(",")}]" +
      (if (pushedPreds.nonEmpty)
        s", PushedPredicates=[${pushedPreds.map(_.describe()).mkString(", ")}]" else "") + ")"

  private def listFiles(): Seq[java.io.File] = {
    val dir = new java.io.File(path)
    require(dir.isDirectory, s"warc source path is not a directory: $path")
    dir.listFiles().filter(_.getName.endsWith(".warc.gz")).sortBy(_.getName).toSeq
  }

  /** The planned work: per file, Left(whole) when no index/predicate
    * applies, Right(points) when the sidecar prunes it (possibly to
    * nothing — the file then plans NO partition at all). */
  private lazy val planned: Seq[WarcInputPartition] = listFiles().flatMap { f =>
    val sidecar = CdxSidecar.fileFor(f)
    wantedUris match {
      case Some(uris) if sidecar.exists() =>
        val points = CdxSidecar.read(sidecar).zipWithIndex.collect {
          case (e, i) if uris.contains(e.uri) => (i.toLong, e.compOffset, e.compLen)
        }
        if (points.isEmpty) None
        else Some(WarcInputPartition(f.getName, f.getAbsolutePath, points, whole = false))
      case _ =>
        Some(WarcInputPartition(f.getName, f.getAbsolutePath, Nil, whole = true))
    }
  }

  /** Planner statistics from the sidecars, AFTER pruning — a
    * handful of point-read members lands far under the broadcast
    * threshold, so a pruned crawl join broadcasts with no hint (the
    * [[graft.sources.dns.read.DnsScan.estimateStatistics]] payoff).
    * Files without a sidecar contribute their full compressed size
    * and an unknown row count. */
  override def estimateStatistics(): Statistics = new Statistics {
    private lazy val perFile: Seq[(Long, Option[Long])] = listFiles().map { f =>
      val sidecar = CdxSidecar.fileFor(f)
      if (sidecar.exists()) {
        val entries = CdxSidecar.read(sidecar)
        val kept = wantedUris match {
          case Some(uris) => entries.filter(e => uris.contains(e.uri))
          case None => entries
        }
        (kept.map(_.compLen).sum, Some(kept.length.toLong))
      } else (f.length(), None)
    }
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(perFile.map(_._1).sum)
    override def numRows(): java.util.OptionalLong =
      if (perFile.forall(_._2.isDefined))
        java.util.OptionalLong.of(perFile.flatMap(_._2).sum)
      else java.util.OptionalLong.empty()
  }

  override def planInputPartitions(): Array[InputPartition] =
    planned.toArray

  override def createReaderFactory(): PartitionReaderFactory =
    new WarcReaderFactory(schema)
}

final class WarcReaderFactory(schema: StructType) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new WarcPartitionReader(schema, partition.asInstanceOf[WarcInputPartition])
}

/** Executor-side reader. Whole-file mode streams the file's bytes
  * once and splits members sequentially (the one-task-per-file codec
  * seam every WARC gate runs). Point mode NEVER reads the whole file:
  * it seeks to each planned member's `comp_offset` and reads exactly
  * `comp_len` bytes (the sidecar carries both), so a point read costs
  * one member's I/O regardless of file size — the CDX payoff, and at
  * 100 TB the ranged GET a distributed FS serves. The member's own
  * header/CRC verification still runs on the slice, so a lying index
  * fails loudly at the gzip magic check, never by mis-parsing. Only
  * the pruned columns materialize. */
final class WarcPartitionReader(schema: StructType, p: WarcInputPartition)
  extends PartitionReader[InternalRow] {

  private val rows: Iterator[InternalRow] = {
    val fileId = 0L // file identity rides the `file` column, not the parse
    val members: Iterator[(Long, graft.sources.warc.GzipMember)] =
      if (p.whole) {
        val bytes = java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(p.filePath))
        WarcSourceCounters.filesOpened.incrementAndGet()
        GzipMembers.split(bytes).iterator.map(m => (m.member_idx, m))
      } else {
        WarcSourceCounters.filesOpened.incrementAndGet()
        val ch = java.nio.channels.FileChannel.open(
          java.nio.file.Paths.get(p.filePath),
          java.nio.file.StandardOpenOption.READ)
        try {
          p.points.map { case (idx, off, len) =>
            WarcSourceCounters.pointReads.incrementAndGet()
            val slice = java.nio.ByteBuffer.allocate(len.toInt)
            var read = 0
            while (read < len && ch.read(slice, off + read) >= 0)
              read = slice.position()
            require(read == len,
              s"warc[${p.fileName}]: short read at offset $off (want $len, got $read)")
            val m = GzipMembers.first(slice.array(), 0)
            require(m.comp_len == len,
              s"warc[${p.fileName}]: index comp_len $len != parsed ${m.comp_len} at $off")
            // re-stamp the ABSOLUTE offset: the slice parse sees 0
            (idx, m.copy(comp_offset = off))
          }.iterator
        } finally ch.close()
      }
    members.flatMap { case (idx, m) =>
      WarcSourceCounters.membersParsed.incrementAndGet()
      val recs = WarcCodec.parse(fileId, m.bytes)
      require(recs.nonEmpty,
        s"warc[${p.fileName}]: member $idx parsed to zero records")
      recs.map(r => build(idx, m, r))
    }
  }

  private val fieldWriters: Array[(InternalRow, Int, Long,
      graft.sources.warc.GzipMember, graft.sources.warc.WarcRecord) => Unit] =
    schema.fieldNames.map[(InternalRow, Int, Long,
        graft.sources.warc.GzipMember, graft.sources.warc.WarcRecord) => Unit] {
      case "file" => (row, i, _, _, _) => row.update(i, UTF8String.fromString(p.fileName))
      case "member_idx" => (row, i, idx, _, _) => row.setLong(i, idx)
      case "comp_offset" => (row, i, _, m, _) => row.setLong(i, m.comp_offset)
      case "comp_len" => (row, i, _, m, _) => row.setLong(i, m.comp_len)
      case "rec_idx" => (row, i, _, _, r) => row.setLong(i, r.rec_idx)
      case "warc_type" => (row, i, _, _, r) => row.update(i, UTF8String.fromString(r.warc_type))
      case "target_uri" => (row, i, _, _, r) => row.update(i, UTF8String.fromString(r.target_uri))
      case "content_length" => (row, i, _, _, r) => row.setLong(i, r.content_length)
      case "record_id" => (row, i, _, _, r) => row.update(i, UTF8String.fromString(r.record_id))
      case "refers_to" => (row, i, _, _, r) => row.update(i, UTF8String.fromString(r.refers_to))
      case "payload_digest" => (row, i, _, _, r) => row.update(i, UTF8String.fromString(r.payload_digest))
      case "payload" => (row, i, _, _, r) => row.update(i, UTF8String.fromString(r.payload))
      case other => throw new IllegalStateException(s"unknown warc column '$other'")
    }

  private def build(idx: Long, m: graft.sources.warc.GzipMember,
      r: graft.sources.warc.WarcRecord): InternalRow = {
    val row = new GenericInternalRow(fieldWriters.length)
    var i = 0
    while (i < fieldWriters.length) { fieldWriters(i)(row, i, idx, m, r); i += 1 }
    row
  }

  private var current: InternalRow = _
  override def next(): Boolean =
    if (rows.hasNext) { current = rows.next(); true } else false
  override def get(): InternalRow = current
  override def close(): Unit = ()
}
