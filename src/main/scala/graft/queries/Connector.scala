package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.sources.dns._
import graft.streaming.Replay

/** Connector-backed CORRECTNESS queries: deterministic in-memory DNS
  * fixtures, read/written through the real `dns` / `dns_update`
  * DataSource V2 paths, with DuckDB oracles that regenerate the same
  * data from `generate_series` arithmetic (no parquet tables needed).
  *
  * Fixtures are reseeded from scratch on every call so Verify/Bench
  * runs are idempotent.
  */
object Connector {

  private val Host = "verify-dns"
  private val TsMicros = 1723400000000000L

  /** Per-call fixture keys. The in-memory "port" is a JVM-local
    * registry key, NOT an OS port — two concurrent JVMs each have
    * their own registry and can never collide on it. Within a JVM,
    * allocating a FRESH key per call makes each invocation's fixture
    * private, so the seed-then-lazy-read window cannot race a
    * concurrent caller of the same query; resetting the previous
    * call's key keeps the registry bounded (≤1 live fixture per
    * query), and a stale DataFrame consumed after a newer call fails
    * loudly (ConnectException) instead of silently reading the newer
    * call's state. */
  private val portGen = new java.util.concurrent.atomic.AtomicInteger(56000)
  private val lastPort = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
  private def freshPort(name: String): Int = {
    val p = portGen.incrementAndGet()
    val prev = lastPort.put(name, p)
    if (prev != null) InMemoryDnsServer.reset(Host, prev.intValue())
    p
  }

  /** Zones z0..z3; zone j holds hosts h0..h(9+j) with formulaic IPs.
    * Parameterized by target server so the in-memory and wire paths
    * share one fixture — and therefore one oracle. */
  private def seedReadZones(srv: InMemoryDnsServer): Unit =
    (0 to 3).foreach { j =>
      srv.addZone(s"z$j.graft.",
        (0 to 9 + j).map(i => ARecord(s"h$i.z$j.graft.", s"10.$j.0.$i")))
    }

  private def seedReadFixture(port: Int): Unit = {
    InMemoryDnsServer.reset(Host, port)
    seedReadZones(InMemoryDnsServer.at(Host, port))
  }

  /** Per-call loopback wire servers (real TCP on ephemeral 127.0.0.1
    * ports, daemon accept threads), one namespace per query — the
    * wire analogue of [[freshPort]]. Previously ONE shared server was
    * re-seeded by all q_dns_wire_* queries, which made correctness
    * silently depend on sequential execution (r8 ADVICE); a fresh
    * server per call removes the coupling entirely. The replaced
    * server for the same query is stopped — by then its DataFrame has
    * been consumed (Verify writes / Bench counts before re-invoking),
    * and a stale one would fail loudly on connect. */
  private val lastWire = new java.util.concurrent.ConcurrentHashMap[String, WireDnsServer]()
  private def freshWire(name: String): WireDnsServer = {
    val s = WireDnsServer.start()
    val prev = lastWire.put(name, s)
    if (prev != null) WireDnsServer.stop(prev.port)
    s
  }

  /** Full batch read through spark.read.format("dns"): registry →
    * table → one partition per zone → AXFR rows. */
  def qDnsRead(s: SparkSession, dir: String): DataFrame = {
    val port = freshPort("q_dns_read")
    seedReadFixture(port)
    s.read.format("dns")
      .option("server", Host).option("port", port.toString)
      .option("organization", "graft")
      .option("zones", "z0.graft,z1.graft,z2.graft,z3.graft")
      .option("xfr", "AXFR")
      .option("fixed-timestamp-micros", TsMicros.toString)
      .load()
      .select("action", "fqdn", "ip", "organization", "timestamp", "zone")
      .orderBy("zone", "fqdn")
  }

  private val qDnsReadOracle: String =
    s"""WITH h AS (
       |  SELECT j, i FROM (SELECT unnest(generate_series(0,3)) AS j)
       |  CROSS JOIN (SELECT unnest(generate_series(0,12)) AS i)
       |  WHERE i <= 9 + j)
       |SELECT 'AXFR' AS action,
       |  'h'||i||'.z'||j||'.graft.' AS fqdn,
       |  '10.'||j||'.0.'||i AS ip,
       |  'graft' AS organization,
       |  make_timestamp($TsMicros) AS "timestamp",
       |  'z'||j||'.graft.' AS zone
       |FROM h ORDER BY zone, fqdn""".stripMargin

  /** Zone-pruned read: four zones registered, ONE requested via an
    * ordinary `filter` — the zone-equality predicate reaches the
    * connector's `SupportsPushDownFilters`, which plans one
    * InputPartition and runs ONE zone transfer instead of four
    * (asserted partition-level in ReadConnectorSpec; this query makes
    * the pruned RESULT part of the official oracle gate). Pruning
    * whole transfers is the connector's only meaningful scan
    * optimization — at a large zone count it is the difference
    * between O(zones) network transfers and O(requested). */
  def qDnsZonePruned(s: SparkSession, dir: String): DataFrame = {
    val port = freshPort("q_dns_zone_pruned")
    seedReadFixture(port)
    s.read.format("dns")
      .option("server", Host).option("port", port.toString)
      .option("organization", "graft")
      .option("zones", "z0.graft,z1.graft,z2.graft,z3.graft")
      .option("xfr", "AXFR")
      .option("fixed-timestamp-micros", TsMicros.toString)
      .load()
      .filter(col("zone") === "z2.graft.")
      .select("action", "fqdn", "ip", "zone")
      .orderBy("fqdn")
  }

  private val qDnsZonePrunedOracle: String =
    """SELECT 'AXFR' AS action, 'h'||i||'.z2.graft.' AS fqdn,
      |  '10.2.0.'||i AS ip, 'z2.graft.' AS zone
      |FROM (SELECT unnest(generate_series(0, 11)) AS i)
      |ORDER BY fqdn""".stripMargin

  /** RUNTIME zone pruning (`SupportsRuntimeFiltering`) under the oracle
    * gate: four zones registered, NONE statically filtered — the zones
    * a tenant wants exist only as ROWS of a dimension table, so
    * ScanBuilder-time pushdown cannot see them. The equi-join on `zone`
    * against the dimension (filtered `wanted = 1`) makes Spark's
    * dynamic-partition-pruning rule plant a subquery filter on the DNS
    * scan; at execution BatchScanExec evaluates the dim side first,
    * hands the surviving zone values to `DnsScan.filter`, and re-plans
    * partitions — so the two unwanted zones' transfers NEVER run. The
    * gate pins that behaviorally: `transfers_run` is the in-memory
    * server's served-transfer count read after execution, and the
    * oracle says 2 — a regression to scan-all-four (DPP not fired, or
    * the filter ignored) breaks the hash, not just a plan assert.
    * At scale this is the difference between O(registered) and
    * O(joined) zone transfers when the zone list is data, not a
    * predicate. The dim lives as a (tiny) parquet scratch table
    * because a purely local relation's filter constant-folds away
    * before the DPP rule looks for a selective predicate. */
  def qDnsRuntimePrune(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val port = freshPort("q_dns_runtime_prune")
    seedReadFixture(port)
    stageRuntimePruneDim(s, dir)
    val joined = runtimePruneJoin(s, dir, port)
    // Execute NOW: the transfer count is only meaningful after the scan
    // ran, and it must ride the returned frame. The collect is fixture-
    // scale (24 rows) — the same eager-fixture shape as the other
    // connector keys, not a data-path collect.
    val rows = joined.collect().toSeq
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    val transfers = InMemoryDnsServer.at(Host, port).transferCount
    rows.toDF("zone", "fqdn", "ip")
      .withColumn("transfers_run", lit(transfers))
      .orderBy("zone", "fqdn")
  }

  /** The lazy join [[qDnsRuntimePrune]] executes — exposed so
    * PlanAuditSpec can assert the DPP subquery reached the DNS scan
    * (the gated key returns a post-execution local frame, whose plan no
    * longer shows the join). Caller seeds the fixture + dim first. */
  private[graft] def runtimePruneJoin(s: SparkSession, dir: String, port: Int): DataFrame = {
    import s.implicits._
    val dimPath = new java.io.File(Scratch.dir("dns_rtp_dim", dir), "dim")
    val dns = s.read.format("dns")
      .option("server", Host).option("port", port.toString)
      .option("organization", "graft")
      .option("zones", "z0.graft,z1.graft,z2.graft,z3.graft")
      .option("xfr", "AXFR")
      .option("fixed-timestamp-micros", TsMicros.toString)
      .load()
      .select("zone", "fqdn", "ip")
    val dim = s.read.parquet(dimPath.toString).filter($"wanted" === 1).select("zone")
    dns.join(dim, Seq("zone")).select($"zone", $"fqdn", $"ip")
  }

  /** Seed the [[qDnsRuntimePrune]] fixture on a fresh port and return
    * it — the spec-side entry to the same fixture + staged dim. */
  private[graft] def seedRuntimePruneFixture(s: SparkSession, dir: String): Int = {
    val port = freshPort("q_dns_runtime_prune_audit")
    seedReadFixture(port)
    stageRuntimePruneDim(s, dir)
    port
  }

  /** Spec-side read of the fixture server's served-transfer count. */
  private[graft] def transfersServed(port: Int): Long =
    InMemoryDnsServer.at(Host, port).transferCount

  /** Staged once per JVM (marker-gated, a pure function of nothing):
    * the dimension rows say z1/z3 are wanted, z0 is present-but-not
    * (and z2 has no dim row at all). */
  private def stageRuntimePruneDim(s: SparkSession, dir: String): Unit = {
    import s.implicits._
    Scratch.staged("dns_rtp_dim", dir) { b =>
      Seq(("z1.graft.", 1), ("z3.graft.", 1), ("z0.graft.", 0))
        .toDF("zone", "wanted").coalesce(1)
        .write.mode("overwrite").parquet(new java.io.File(b, "dim").toString)
    }: Unit
  }

  private val qDnsRuntimePruneOracle: String =
    """WITH h AS (
      |  SELECT j, i FROM (SELECT unnest([1, 3]) AS j)
      |  CROSS JOIN (SELECT unnest(generate_series(0, 12)) AS i)
      |  WHERE i <= 9 + j)
      |SELECT 'z'||j||'.graft.' AS zone,
      |  'h'||i||'.z'||j||'.graft.' AS fqdn,
      |  '10.'||j||'.0.'||i AS ip,
      |  CAST(2 AS BIGINT) AS transfers_run
      |FROM h ORDER BY zone, fqdn""".stripMargin

  /** Metadata columns (`SupportsMetadataColumns`): per-TRANSFER facts
    * selectable as `_serial` / `_xfr_kind` alongside data columns,
    * like the file sources' `_metadata`. The fixture makes the serial
    * a real signal: zone j receives j RFC 2136 updates after seeding
    * (one serial bump each), so its transfer reports SOA serial 1 + j
    * and carries j extra `u*` records — the metadata column exposes a
    * per-zone runtime fact no data column holds (the reference
    * surfaces the serial only through its accumulator,
    * DnsSourceRelationProvider.java:73-88). `_xfr_kind` pins the kind
    * that actually RAN (AXFR here), not an echo of the `xfr` option. */
  def qDnsMetadataCols(s: SparkSession, dir: String): DataFrame = {
    val port = freshPort("q_dns_metadata_cols")
    seedReadFixture(port)
    val srv = InMemoryDnsServer.at(Host, port)
    (0 to 3).foreach { j =>
      (0 until j).foreach { k =>
        srv.update(s"z$j.graft.",
          adds = Seq(ARecord(s"u$k.z$j.graft.", s"10.$j.1.$k")), deletes = Nil)
      }
    }
    s.read.format("dns")
      .option("server", Host).option("port", port.toString)
      .option("organization", "graft")
      .option("zones", "z0.graft,z1.graft,z2.graft,z3.graft")
      .option("xfr", "AXFR")
      .option("fixed-timestamp-micros", TsMicros.toString)
      .load()
      .select(col("zone"), col("fqdn"), col("_serial"), col("_xfr_kind"))
      .orderBy("zone", "fqdn")
  }

  private val qDnsMetadataColsOracle: String =
    """WITH h AS (
      |  SELECT j, 'h'||i||'.z'||j||'.graft.' AS fqdn
      |  FROM (SELECT unnest(generate_series(0, 3)) AS j)
      |  CROSS JOIN (SELECT unnest(generate_series(0, 12)) AS i)
      |  WHERE i <= 9 + j
      |  UNION ALL
      |  SELECT j, 'u'||k||'.z'||j||'.graft.' AS fqdn
      |  FROM (SELECT unnest(generate_series(0, 3)) AS j)
      |  CROSS JOIN (SELECT unnest(generate_series(0, 2)) AS k)
      |  WHERE k <= j - 1)
      |SELECT 'z'||j||'.graft.' AS zone, fqdn,
      |  CAST(1 + j AS BIGINT) AS "_serial", 'AXFR' AS "_xfr_kind"
      |FROM h ORDER BY zone, fqdn""".stripMargin

  /** Connector-reported statistics (`SupportsReportStatistics`) doing
    * their one job: a resolve-the-logs join where the DNS table is the
    * SMALL side and nobody writes a broadcast hint. The scan reports
    * zones × `estimated-zone-bytes` (1 MiB here, far under the 10 MiB
    * auto-broadcast threshold), so Catalyst plans a broadcast hash
    * join of the zone table against the 3M-row log frame on its own;
    * without the estimate a DSv2 relation defaults to
    * `spark.sql.defaultSizeInBytes` = Long.MaxValue and this join
    * sort-merges — shuffling 3M rows to co-locate them with 46. The
    * gate pins the RESULT (per-zone hit counts and weight sums); the
    * plan claim — reported stats visible to the optimizer, broadcast
    * chosen without a hint — is asserted in PlanAuditSpec. At scale
    * this is the difference between shipping a 100 TB fact table and
    * shipping a kilobyte zone list. */
  def qDnsAutoBroadcast(s: SparkSession, dir: String): DataFrame = {
    val port = freshPort("q_dns_auto_broadcast")
    seedReadFixture(port)
    autoBroadcastJoin(s, port)
  }

  /** Spec-side fixture for the auto-broadcast audit: same seeding on
    * its own port. */
  private[graft] def seedAutoBroadcastFixture(): Int = {
    val port = freshPort("q_dns_auto_broadcast_audit")
    seedReadFixture(port)
    port
  }

  /** The lazy join [[qDnsAutoBroadcast]] gates — exposed so
    * PlanAuditSpec can assert the reported statistics and the hint-free
    * broadcast choice on the exact plan the key runs. */
  private[graft] def autoBroadcastJoin(s: SparkSession, port: Int): DataFrame = {
    val dns = s.read.format("dns")
      .option("server", Host).option("port", port.toString)
      .option("organization", "graft")
      .option("zones", "z0.graft,z1.graft,z2.graft,z3.graft")
      .option("xfr", "AXFR")
      .option("fixed-timestamp-micros", TsMicros.toString)
      .load()
      .select(col("zone"), col("fqdn"))
    val logs = s.range(0, 3000000L).select(
      concat(lit("h"), col("id") % 10, lit(".z"), col("id") % 4, lit(".graft."))
        .as("fqdn"),
      (col("id") % 97).as("w"))
    logs.join(dns, Seq("fqdn"))
      .groupBy(col("zone"))
      .agg(count(lit(1)).as("n_hits"), sum(col("w")).as("w_sum"))
      .orderBy(col("zone"))
  }

  private val qDnsAutoBroadcastOracle: String =
    """WITH logs AS (
      |  SELECT 'h'||(id % 10)||'.z'||(id % 4)||'.graft.' AS fqdn, id % 97 AS w
      |  FROM (SELECT unnest(generate_series(0, 2999999)) AS id)),
      |dns AS (
      |  SELECT 'z'||j||'.graft.' AS zone, 'h'||i||'.z'||j||'.graft.' AS fqdn
      |  FROM (SELECT unnest(generate_series(0, 3)) AS j)
      |  CROSS JOIN (SELECT unnest(generate_series(0, 12)) AS i)
      |  WHERE i <= 9 + j)
      |SELECT dns.zone, count(*) AS n_hits, CAST(sum(logs.w) AS BIGINT) AS w_sum
      |FROM logs JOIN dns ON logs.fqdn = dns.fqdn
      |GROUP BY dns.zone ORDER BY dns.zone""".stripMargin

  /** The same full read through the WIRE client: executors open real
    * TCP sockets to the loopback [[WireDnsServer]] and speak RFC
    * 1035/5936 — message encode, TCP framing, compression-pointer-aware
    * decode, multi-message AXFR termination — instead of calling the
    * in-memory registry. Identical fixture ⇒ identical oracle: the two
    * transports must be result-indistinguishable, which is exactly the
    * contract that lets `client=wire` point at a standards-compliant
    * server on a real cluster (the role dnsjava plays in the reference,
    * Xfr.java:37-50). */
  def qDnsWireRead(s: SparkSession, dir: String): DataFrame = {
    val wire = freshWire("q_dns_wire_read")
    seedReadZones(wire.backing)
    s.read.format("dns")
      .option("server", wire.host).option("port", wire.port.toString)
      .option("client", "wire")
      .option("organization", "graft")
      .option("zones", "z0.graft,z1.graft,z2.graft,z3.graft")
      .option("xfr", "AXFR")
      .option("fixed-timestamp-micros", TsMicros.toString)
      .load()
      .select("action", "fqdn", "ip", "organization", "timestamp", "zone")
      .orderBy("zone", "fqdn")
  }

  /** Write-then-read round trip through BOTH connectors: a formulaic
    * update log (adds, deletes of seeded records, add/delete flips on
    * the same identity at different timestamps) written via
    * format("dns_update") — exercising validation, fqdn normalization,
    * zone derivation, LWW dedup, chronological apply — then the final
    * zone state read back via format("dns") AXFR.
    *
    * The update DF is hash-repartitioned by derived zone
    * (`DnsWrites.repartitionByZone`) so each zone's whole history
    * arrives in ONE task → one LWW-deduped message per zone, and
    * cross-task message order cannot reorder changes to the same
    * record — the scale write path, not a coalesce(1).
    *
    * The oracle replays the identical log in DuckDB and computes
    * presence as "latest change per (fqdn, ip) is not a delete" —
    * exactly the LWW-dedup + chronological-apply contract. */
  def qDnsRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val port = freshPort("q_dns_roundtrip")
    InMemoryDnsServer.reset(Host, port)
    seedRoundtripZones(InMemoryDnsServer.at(Host, port))
    // The SCALE write path: one hash exchange on the derived zone puts
    // each zone's entire update set in one task → exactly one RFC 2136
    // message per zone, LWW-deduped over the full zone history — the
    // same deterministic final state a coalesce(1) would give, without
    // serializing the write to one task.
    graft.sources.dns.write.DnsWrites.repartitionByZone(roundtripUpdates(s))
      .write.format("dns_update")
      .option("server", Host).option("port", port.toString)
      .mode("append").save()

    s.read.format("dns")
      .option("server", Host).option("port", port.toString)
      .option("organization", "graft").option("zones", "w0.graft,w1.graft")
      .option("xfr", "AXFR")
      .option("fixed-timestamp-micros", TsMicros.toString)
      .load()
      .select("fqdn", "ip", "zone")
      .orderBy("zone", "fqdn", "ip")
  }

  private def seedRoundtripZones(srv: InMemoryDnsServer): Unit =
    (0 to 1).foreach { j =>
      srv.addZone(s"w$j.graft.", (0 to 9).map(k => ARecord(s"seed$k.w$j.graft.", s"10.88.$j.$k")))
    }

  /** The formulaic roundtrip update log (adds, deletes of seeded
    * records, add/delete flips on the same identity at different
    * timestamps), shared between the in-memory and wire roundtrips. */
  private def roundtripUpdates(s: SparkSession): DataFrame = {
    import s.implicits._
    val j = $"id" % 2
    val k = $"id" % 15
    val firstHalf = $"id" < 30
    s.range(60).select(
      when(k <= 4, DnsAction.IxfrAdd)
        .when(k <= 9, DnsAction.IxfrDelete)
        .when(k <= 12, when(firstHalf, DnsAction.IxfrAdd).otherwise(DnsAction.IxfrDelete))
        .otherwise(when(firstHalf, DnsAction.IxfrDelete).otherwise(DnsAction.IxfrAdd))
        .as("action"),
      when(k <= 4, concat(lit("add"), k, lit(".w"), j, lit(".graft")))
        .when(k <= 9, concat(lit("seed"), k - 5, lit(".w"), j, lit(".graft")))
        .when(k <= 12, concat(lit("flipa"), k - 10, lit(".w"), j, lit(".graft")))
        .otherwise(concat(lit("flipb"), k - 13, lit(".w"), j, lit(".graft")))
        .as("fqdn"),
      when(k <= 4, concat(lit("10.77."), j, lit("."), k))
        .when(k <= 9, concat(lit("10.88."), j, lit("."), k - 5))
        .when(k <= 12, concat(lit("10.99."), j, lit("."), k - 10))
        .otherwise(concat(lit("10.66."), j, lit("."), k - 13))
        .as("ip"),
      timestamp_micros(lit(TsMicros + 1000000L) + $"id").as("timestamp"),
      lit(3600).cast("int").as("ttl"))
  }

  /** The identical roundtrip through the WIRE transport on both legs:
    * every partition's RFC 2136 update message is encoded, TCP-framed,
    * decoded and applied by the loopback server (adds as class-IN RRs,
    * deletes as class-NONE, rcode checked — wire.scala), and the final
    * state is read back over a wire AXFR. Same update log, same oracle
    * as [[qDnsRoundtrip]]: transport must never change results. */
  def qDnsWireRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val wire = freshWire("q_dns_wire_roundtrip")
    seedRoundtripZones(wire.backing)
    graft.sources.dns.write.DnsWrites.repartitionByZone(roundtripUpdates(s))
      .write.format("dns_update")
      .option("server", wire.host).option("port", wire.port.toString)
      .option("client", "wire")
      .mode("append").save()

    s.read.format("dns")
      .option("server", wire.host).option("port", wire.port.toString)
      .option("client", "wire")
      .option("organization", "graft").option("zones", "w0.graft,w1.graft")
      .option("xfr", "AXFR")
      .option("fixed-timestamp-micros", TsMicros.toString)
      .load()
      .select("fqdn", "ip", "zone")
      .orderBy("zone", "fqdn", "ip")
  }

  private val qDnsRoundtripOracle: String =
    s"""WITH ids AS (SELECT unnest(generate_series(0,59)) AS id),
       |upd AS (
       |  SELECT
       |    CASE WHEN id%15 <= 4 THEN 'IXFR_ADD'
       |         WHEN id%15 <= 9 THEN 'IXFR_DELETE'
       |         WHEN id%15 <= 12 THEN (CASE WHEN id < 30 THEN 'IXFR_ADD' ELSE 'IXFR_DELETE' END)
       |         ELSE (CASE WHEN id < 30 THEN 'IXFR_DELETE' ELSE 'IXFR_ADD' END) END AS action,
       |    CASE WHEN id%15 <= 4 THEN 'add'||(id%15)||'.w'||(id%2)||'.graft.'
       |         WHEN id%15 <= 9 THEN 'seed'||(id%15-5)||'.w'||(id%2)||'.graft.'
       |         WHEN id%15 <= 12 THEN 'flipa'||(id%15-10)||'.w'||(id%2)||'.graft.'
       |         ELSE 'flipb'||(id%15-13)||'.w'||(id%2)||'.graft.' END AS fqdn,
       |    CASE WHEN id%15 <= 4 THEN '10.77.'||(id%2)||'.'||(id%15)
       |         WHEN id%15 <= 9 THEN '10.88.'||(id%2)||'.'||(id%15-5)
       |         WHEN id%15 <= 12 THEN '10.99.'||(id%2)||'.'||(id%15-10)
       |         ELSE '10.66.'||(id%2)||'.'||(id%15-13) END AS ip,
       |    ${TsMicros + 1000000L} + id AS ts
       |  FROM ids),
       |seeded AS (
       |  SELECT 'IXFR_ADD' AS action,
       |    'seed'||k||'.w'||j||'.graft.' AS fqdn,
       |    '10.88.'||j||'.'||k AS ip, 0 AS ts
       |  FROM (SELECT unnest(generate_series(0,1)) AS j)
       |  CROSS JOIN (SELECT unnest(generate_series(0,9)) AS k)),
       |log AS (SELECT * FROM upd UNION ALL SELECT * FROM seeded),
       |last AS (SELECT fqdn, ip, arg_max(action, ts) AS action
       |         FROM log GROUP BY fqdn, ip)
       |SELECT fqdn, ip, substring(fqdn, instr(fqdn, '.') + 1) AS zone
       |FROM last WHERE action <> 'IXFR_DELETE'
       |ORDER BY zone, fqdn, ip""".stripMargin

  /** IXFR delta read: seed a zone, apply two formulaic update messages
    * (serials 1→2→3), then read changes since serial 1 through the
    * connector. Exercises the incremental path end-to-end: the serial
    * predicate handed to the server, delta journaling, and the
    * deletes-before-adds flattening order (made hash-stable here by the
    * ord column, mirroring q_union_changes). */
  def qDnsIxfr(s: SparkSession, dir: String): DataFrame = {
    val port = freshPort("q_dns_ixfr")
    InMemoryDnsServer.reset(Host, port)
    seedIxfrZone(InMemoryDnsServer.at(Host, port))
    ixfrProjection(s, s.read.format("dns")
      .option("server", Host).option("port", port.toString)
      .option("organization", "graft").option("zones", "x.graft")
      .option("xfr", "IXFR").option("serial", "1")
      .option("fixed-timestamp-micros", TsMicros.toString)
      .load())
  }

  /** Zone at serial 3 with a two-delta journal since serial 1. */
  private def seedIxfrZone(srv: InMemoryDnsServer): Unit = {
    srv.addZone("x.graft.", (0 to 4).map(k => ARecord(s"h$k.x.graft.", s"10.0.0.$k")))
    // serial 1 → 2: add h5..h7, delete h0
    srv.update("x.graft.",
      (5 to 7).map(k => ARecord(s"h$k.x.graft.", s"10.0.0.$k")),
      Seq(ARecord("h0.x.graft.", "10.0.0.0")))
    // serial 2 → 3: add h8, delete h1 h2
    srv.update("x.graft.",
      Seq(ARecord("h8.x.graft.", "10.0.0.8")),
      (1 to 2).map(k => ARecord(s"h$k.x.graft.", s"10.0.0.$k")))
  }

  private def ixfrProjection(s: SparkSession, df: DataFrame): DataFrame = {
    import s.implicits._
    df.select($"action", $"fqdn", $"ip",
        when($"action" === DnsAction.IxfrDelete, 0).otherwise(1).as("ord"))
      .orderBy($"ord", $"fqdn")
  }

  /** The same IXFR through the wire: the hardest stretch of the codec
    * under the oracle gate — the server serializes the RFC 1995 delta
    * sequence (SOA(new), then per delta SOA(old) deletes SOA(mid) adds,
    * closing SOA(new)) and [[WireTransferClient.parseTransfer]] must
    * reconstruct the exact delta structure from the flat RR stream,
    * including the client-SOA-in-authority request encoding. Same
    * journal, same oracle as [[qDnsIxfr]]. */
  def qDnsWireIxfr(s: SparkSession, dir: String): DataFrame = {
    val wire = freshWire("q_dns_wire_ixfr")
    seedIxfrZone(wire.backing)
    ixfrProjection(s, s.read.format("dns")
      .option("server", wire.host).option("port", wire.port.toString)
      .option("client", "wire")
      .option("organization", "graft").option("zones", "x.graft")
      .option("xfr", "IXFR").option("serial", "1")
      .option("fixed-timestamp-micros", TsMicros.toString)
      .load())
  }

  private val qDnsIxfrOracle: String =
    """WITH dels AS (
      |  SELECT 'IXFR_DELETE' AS action, 'h'||k||'.x.graft.' AS fqdn,
      |         '10.0.0.'||k AS ip, 0 AS ord
      |  FROM (SELECT unnest([0, 1, 2]) AS k)),
      |adds AS (
      |  SELECT 'IXFR_ADD' AS action, 'h'||k||'.x.graft.' AS fqdn,
      |         '10.0.0.'||k AS ip, 1 AS ord
      |  FROM (SELECT unnest([5, 6, 7, 8]) AS k))
      |SELECT * FROM (SELECT * FROM dels UNION ALL SELECT * FROM adds)
      |ORDER BY ord, fqdn""".stripMargin

  /** SQL-DDL surface: the connector registered as a catalog table via
    * `CREATE TABLE ... USING dns OPTIONS (...)` and queried through
    * `spark.sql` — the reference's RelationProvider SQL path
    * (DnsSourceRelationProviderTest.java:125-135) on the V2 session
    * catalog. Same fixture and oracle as [[qDnsRead]]: DDL-vs-DataFrame
    * registration must be result-invisible. */
  def qDnsSql(s: SparkSession, dir: String): DataFrame = {
    val port = freshPort("q_dns_sql")
    seedReadFixture(port)
    s.sql("DROP TABLE IF EXISTS graft_dns_sql")
    s.sql(
      s"""CREATE TABLE graft_dns_sql USING dns OPTIONS (
         | server '$Host', port '$port', organization 'graft',
         | zones 'z0.graft,z1.graft,z2.graft,z3.graft', xfr 'AXFR',
         | `fixed-timestamp-micros` '$TsMicros')""".stripMargin)
    s.sql(
      """SELECT action, fqdn, ip, organization, timestamp, zone
        |FROM graft_dns_sql ORDER BY zone, fqdn""".stripMargin)
  }

  /** The failure POLICY under the gate: four zones requested, one
    * nonexistent, `ignore-failures=true` — the dead zone's transfer
    * error is swallowed into an empty partition (reference
    * DnsZoneRDD.java:83-92) and the other three read fully. The oracle
    * states the surviving rows exactly: too many rows means a phantom
    * zone, too few means the swallow took good zones with it, a thrown
    * job means the policy didn't apply. (The fail-fast default and
    * write-side validation rejections stay spec-tested — an error has
    * no result row to hash.) */
  def qDnsIgnoreFailures(s: SparkSession, dir: String): DataFrame = {
    val port = freshPort("q_dns_ignore_failures")
    seedReadFixture(port)
    s.read.format("dns")
      .option("server", Host).option("port", port.toString)
      .option("organization", "graft")
      .option("zones", "z0.graft,z1.graft,nosuch.graft,z3.graft")
      .option("xfr", "AXFR")
      .option("ignore-failures", "true")
      .option("fixed-timestamp-micros", TsMicros.toString)
      .load()
      .select("fqdn", "ip", "zone")
      .orderBy("zone", "fqdn")
  }

  private val qDnsIgnoreFailuresOracle: String =
    """WITH h AS (
      |  SELECT j, i FROM (SELECT unnest([0, 1, 3]) AS j)
      |  CROSS JOIN (SELECT unnest(generate_series(0, 12)) AS i)
      |  WHERE i <= 9 + j)
      |SELECT 'h'||i||'.z'||j||'.graft.' AS fqdn,
      |  '10.'||j||'.0.'||i AS ip, 'z'||j||'.graft.' AS zone
      |FROM h ORDER BY zone, fqdn""".stripMargin

  private case class ValidationProbe(k: Long, action: Option[String],
                                     fqdn: Option[String], ip: Option[String],
                                     hasTs: Boolean, ttl: Option[Int])

  /** Write-side row validation under the gate: a formulaic
    * mixed-validity batch (5× each of 12 cases — both valid actions
    * and every rejection rule) classified through
    * [[graft.sources.dns.DnsValidation.invalidReason]] — the EXACT
    * function the DataWriter throws on, not a parallel Column
    * reimplementation — via a typed map (an audit path, not a hot
    * path). The oracle re-derives every rule in SQL over the same
    * constructed values: null/empty checks, the action enum, strict
    * dotted-quad IPv4 octets, timestamp presence, positive ttl. A
    * drift between the writer's Scala rules and their documented
    * semantics now breaks this row instead of hiding in a spec. */
  def qDnsValidate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val probes = s.range(60).as[Long].map { id =>
      val k = id % 12
      val action = k match {
        case 2 => None
        case 3 => Some("  ")
        case 4 => Some("SOMETHING")
        case 1 => Some(DnsAction.IxfrDelete)
        case _ => Some(DnsAction.IxfrAdd)
      }
      val fqdn = k match {
        case 5 => None
        case 6 => Some("")
        case _ => Some(s"h$id.v.graft")
      }
      val ip = k match {
        case 7 => None
        case 8 => Some("10.0.0.300")
        case 9 => Some("10.0.0")
        case _ => Some("10.0.0.1")
      }
      ValidationProbe(k, action, fqdn, ip, hasTs = k != 10,
        ttl = if (k == 11) Some(0) else Some(3600))
    }
    probes.map { p =>
      DnsValidation.invalidReason(p.action, p.fqdn, p.ip, p.hasTs, p.ttl)
        .getOrElse("ok")
    }.toDF("reason")
      .groupBy($"reason").agg(count(lit(1)).as("n"))
      .orderBy($"reason")
  }

  /** Same construction, rules re-derived in SQL (not a k→reason lookup
    * table — the oracle must exercise the rule SEMANTICS). */
  private val qDnsValidateOracle: String =
    """WITH probes AS (
      |  SELECT i % 12 AS k,
      |    CASE WHEN i % 12 = 2 THEN NULL
      |         WHEN i % 12 = 3 THEN '  '
      |         WHEN i % 12 = 4 THEN 'SOMETHING'
      |         WHEN i % 12 = 1 THEN 'IXFR_DELETE'
      |         ELSE 'IXFR_ADD' END AS action,
      |    CASE WHEN i % 12 = 5 THEN NULL
      |         WHEN i % 12 = 6 THEN ''
      |         ELSE 'h'||i||'.v.graft' END AS fqdn,
      |    CASE WHEN i % 12 = 7 THEN NULL
      |         WHEN i % 12 = 8 THEN '10.0.0.300'
      |         WHEN i % 12 = 9 THEN '10.0.0'
      |         ELSE '10.0.0.1' END AS ip,
      |    (i % 12 <> 10) AS has_ts,
      |    CASE WHEN i % 12 = 11 THEN 0 ELSE 3600 END AS ttl
      |  FROM (SELECT unnest(generate_series(0, 59)) AS i)),
      |classified AS (
      |  SELECT CASE
      |    WHEN action IS NULL THEN 'null_action'
      |    WHEN trim(action) = '' THEN 'empty_action'
      |    WHEN action NOT IN ('AXFR', 'IXFR_ADD', 'IXFR_DELETE') THEN 'bad_action'
      |    WHEN fqdn IS NULL THEN 'null_fqdn'
      |    WHEN trim(fqdn) = '' THEN 'empty_fqdn'
      |    WHEN ip IS NULL THEN 'null_ip'
      |    WHEN trim(ip) = '' THEN 'empty_ip'
      |    WHEN NOT (regexp_matches(ip, '^[0-9]{1,3}(\.[0-9]{1,3}){3}$')
      |              AND len(list_filter(string_split(ip, '.'),
      |                    x -> CAST(x AS INT) > 255)) = 0) THEN 'bad_ip'
      |    WHEN NOT has_ts THEN 'null_timestamp'
      |    WHEN ttl IS NULL THEN 'null_ttl'
      |    WHEN ttl <= 0 THEN 'bad_ttl'
      |    ELSE 'ok' END AS reason
      |  FROM probes)
      |SELECT reason, count(*) AS n FROM classified
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** The SQL INSERT sink under the gate: `CREATE TABLE ... USING
    * dns_update` + `INSERT INTO ... SELECT ... FROM range(...)` — the
    * V2-native SQL write path (reference surface
    * DnsSourceRelationProviderTest via RelationProvider; here the
    * session catalog resolves the sink table and plans AppendData).
    * The log adds 8 records and deletes 2 seeded ones; the oracle
    * replays the final zone state. */
  def qDnsSqlInsert(s: SparkSession, dir: String): DataFrame = {
    val port = freshPort("q_dns_sql_insert")
    InMemoryDnsServer.reset(Host, port)
    val srv = InMemoryDnsServer.at(Host, port)
    srv.addZone("sq.graft.", (0 to 2).map(k => ARecord(s"seed$k.sq.graft.", s"10.6.0.$k")))
    s.sql("DROP TABLE IF EXISTS graft_dns_sink")
    s.sql(
      s"""CREATE TABLE graft_dns_sink USING dns_update
         |OPTIONS (server '$Host', port '$port')""".stripMargin)
    s.sql(
      s"""INSERT INTO graft_dns_sink
         |SELECT CASE WHEN id < 8 THEN 'IXFR_ADD' ELSE 'IXFR_DELETE' END AS action,
         |  CASE WHEN id < 8 THEN 'i' || id || '.sq.graft'
         |       ELSE 'seed' || (id - 8) || '.sq.graft' END AS fqdn,
         |  CASE WHEN id < 8 THEN '10.7.0.' || id
         |       ELSE '10.6.0.' || (id - 8) END AS ip,
         |  timestamp_micros(${TsMicros + 1000000L} + id) AS timestamp,
         |  CAST(3600 AS INT) AS ttl
         |FROM range(10)""".stripMargin)
    s.read.format("dns")
      .option("server", Host).option("port", port.toString)
      .option("organization", "graft").option("zones", "sq.graft")
      .option("xfr", "AXFR")
      .option("fixed-timestamp-micros", TsMicros.toString)
      .load()
      .select("fqdn", "ip", "zone")
      .orderBy("fqdn", "ip")
  }

  private val qDnsSqlInsertOracle: String =
    """WITH final AS (
      |  SELECT 'seed2.sq.graft.' AS fqdn, '10.6.0.2' AS ip
      |  UNION ALL
      |  SELECT 'i'||i||'.sq.graft.', '10.7.0.'||i
      |  FROM (SELECT unnest(generate_series(0, 7)) AS i))
      |SELECT fqdn, ip, 'sq.graft.' AS zone FROM final ORDER BY fqdn, ip""".stripMargin

  /** SQL `DELETE FROM` over the sink (`SupportsDelete`) under the
    * gate: a 10-record zone, one DELETE with an `fqdn IN` predicate
    * narrowed by `ip =` for one of the names — so both the name-wide
    * delete (d1: both its records go) and the record-precise delete
    * (d3: only the .1 record goes, the multi-record name keeps its
    * other ip) are pinned — then the zone read back over AXFR. The
    * deleteWhere path runs one AXFR + ONE atomic ordered update
    * message per (statement × zone) — driver-side metadata work
    * bounded by named zones, never table size; the serial read back
    * (3 = seed + one message per DELETE) proves message atomicity
    * through the same metadata-column surface q_dns_metadata_cols
    * gates. */
  def qDnsSqlDelete(s: SparkSession, dir: String): DataFrame = {
    val port = freshPort("q_dns_sql_delete")
    InMemoryDnsServer.reset(Host, port)
    val srv = InMemoryDnsServer.at(Host, port)
    srv.addZone("dz.graft.",
      (0 to 7).map(k => ARecord(s"d$k.dz.graft.", s"10.9.0.$k")) ++
        Seq(ARecord("d1.dz.graft.", "10.9.1.1"), ARecord("d3.dz.graft.", "10.9.1.3")))
    // Table name carries the fixture port: two sessions sharing a
    // metastore (or concurrent invocations of this key) each get a
    // self-contained table aimed at their own live server, never a
    // DELETE against a stale port.
    val tbl = s"graft_dns_del_$port"
    s.sql(s"DROP TABLE IF EXISTS $tbl")
    s.sql(
      s"""CREATE TABLE $tbl USING dns_update
         |OPTIONS (server '$Host', port '$port')""".stripMargin)
    // unnormalized relative names on purpose: DELETE values normalize
    // like every other connector entry point
    s.sql(
      s"DELETE FROM $tbl WHERE fqdn IN ('d1.dz.graft', 'd5.dz.graft')")
    s.sql(
      s"DELETE FROM $tbl WHERE fqdn = 'd3.dz.graft' AND ip = '10.9.0.3'")
    s.read.format("dns")
      .option("server", Host).option("port", port.toString)
      .option("organization", "graft").option("zones", "dz.graft")
      .option("xfr", "AXFR")
      .option("fixed-timestamp-micros", TsMicros.toString)
      .load()
      .select(col("fqdn"), col("ip"), col("zone"), col("_serial"))
      .orderBy("fqdn", "ip")
  }

  private val qDnsSqlDeleteOracle: String =
    """WITH remaining AS (
      |  SELECT 'd'||i||'.dz.graft.' AS fqdn, '10.9.0.'||i AS ip
      |  FROM (SELECT unnest([0, 2, 4, 6, 7]) AS i)
      |  UNION ALL SELECT 'd3.dz.graft.', '10.9.1.3')
      |SELECT fqdn, ip, 'dz.graft.' AS zone, CAST(3 AS BIGINT) AS "_serial"
      |FROM remaining ORDER BY fqdn, ip""".stripMargin

  /** `SaveMode.Overwrite` on the sink under the gate: zone-scoped
    * wipe+add in ONE atomic RFC 2136 message (`DnsTruncateWrite` —
    * fixes reference quirk §2.3, DnsSinkRelation.java:33-42 silently
    * appends). The fixture seeds TWO zones; the overwrite's rows
    * target only one of them, and the read-back proves three facts at
    * once: the target zone holds exactly the new content (seeded
    * records gone), the untouched zone is bit-identical at its seed
    * serial, and the target's serial is seed+1 — the wipe and the
    * adds landed in a single message, not a wipe message plus an add
    * message. */
  def qDnsOverwrite(s: SparkSession, dir: String): DataFrame = {
    val port = freshPort("q_dns_overwrite")
    InMemoryDnsServer.reset(Host, port)
    val srv = InMemoryDnsServer.at(Host, port)
    srv.addZone("oz.graft.", (0 to 5).map(k => ARecord(s"o$k.oz.graft.", s"10.8.0.$k")))
    srv.addZone("keep.graft.", (0 to 2).map(k => ARecord(s"k$k.keep.graft.", s"10.8.1.$k")))
    import s.implicits._
    s.range(4).select(
        lit(DnsAction.IxfrAdd).as("action"),
        concat(lit("n"), $"id", lit(".oz.graft")).as("fqdn"),
        concat(lit("10.8.2."), $"id").as("ip"),
        timestamp_micros(lit(TsMicros) + $"id").as("timestamp"),
        lit(300).as("ttl"))
      .write.format("dns_update")
      .option("server", Host).option("port", port.toString)
      .mode("overwrite").save()

    s.read.format("dns")
      .option("server", Host).option("port", port.toString)
      .option("organization", "graft").option("zones", "oz.graft,keep.graft")
      .option("xfr", "AXFR")
      .option("fixed-timestamp-micros", TsMicros.toString)
      .load()
      .select(col("fqdn"), col("ip"), col("zone"), col("_serial"))
      .orderBy("fqdn", "ip")
  }

  private val qDnsOverwriteOracle: String =
    """WITH oz AS (
      |  SELECT 'n'||i||'.oz.graft.' AS fqdn, '10.8.2.'||i AS ip,
      |    'oz.graft.' AS zone, CAST(2 AS BIGINT) AS "_serial"
      |  FROM (SELECT unnest(generate_series(0, 3)) AS i)),
      |keep AS (
      |  SELECT 'k'||i||'.keep.graft.' AS fqdn, '10.8.1.'||i AS ip,
      |    'keep.graft.' AS zone, CAST(1 AS BIGINT) AS "_serial"
      |  FROM (SELECT unnest(generate_series(0, 2)) AS i))
      |SELECT * FROM (SELECT * FROM oz UNION ALL SELECT * FROM keep)
      |ORDER BY fqdn, ip""".stripMargin

  /** SQL `MERGE INTO` over the sink (`SupportsRowLevelOperations`,
    * write/DnsRowLevel.scala) under the gate — the batch twin of IXFR
    * apply that `q_cdc_apply` demonstrates at query level, now
    * accepted by the CONNECTOR: a changelog with delete / update /
    * insert ops lands on live zones in one statement. The operation is
    * GROUP-BASED, groups = the zones named in the table's `zones`
    * option: Catalyst joins the operation's zone-state scan (one AXFR
    * task per zone, rows in the write schema) with the changelog and
    * hands back the full replacement content; the connector replaces
    * each configured zone with ONE atomic RFC 2136 wipe+add message
    * (the DnsTruncateWrite emitter), so each configured zone's serial
    * advances by exactly 1 per MERGE — pinned via `_serial` — while a
    * seeded zone OUTSIDE the groups is untouched at its seed serial.
    * The changelog also carries a matched row no clause accepts
    * (op='noop'), which must CARRY OVER unchanged — the group
    * semantics a delta operation wouldn't exercise. */
  def qDnsMerge(s: SparkSession, dir: String): DataFrame = {
    val port = freshPort("q_dns_merge")
    InMemoryDnsServer.reset(Host, port)
    val srv = InMemoryDnsServer.at(Host, port)
    srv.addZone("mz.graft.", (0 to 7).map(k => ARecord(s"m$k.mz.graft.", s"10.20.0.$k")))
    srv.addZone("m2z.graft.", (0 to 3).map(k => ARecord(s"n$k.m2z.graft.", s"10.21.0.$k")))
    srv.addZone("keep.graft.", (0 to 2).map(k => ARecord(s"k$k.keep.graft.", s"10.22.0.$k")))
    val tbl = s"graft_dns_merge_$port"
    s.sql(s"DROP TABLE IF EXISTS $tbl")
    s.sql(
      s"""CREATE TABLE $tbl USING dns_update
         |OPTIONS (server '$Host', port '$port', zones 'mz.graft,m2z.graft',
         |  `fixed-timestamp-micros` '$TsMicros')""".stripMargin)
    s.sql(
      s"""SELECT * FROM VALUES
         |  ('del', 'm0.mz.graft.',  '10.20.0.0', CAST(NULL AS STRING)),
         |  ('del', 'm1.mz.graft.',  '10.20.0.1', CAST(NULL AS STRING)),
         |  ('upd', 'm2.mz.graft.',  '10.20.0.2', '10.20.9.2'),
         |  ('upd', 'n1.m2z.graft.', '10.21.0.1', '10.21.9.1'),
         |  ('noop', 'm3.mz.graft.', '10.20.0.3', CAST(NULL AS STRING)),
         |  ('add', 'x0.mz.graft.',  '10.20.5.0', CAST(NULL AS STRING)),
         |  ('add', 'x1.m2z.graft.', '10.21.5.1', CAST(NULL AS STRING))
         |AS s(op, fqdn, ip, new_ip)""".stripMargin)
      .createOrReplaceTempView("graft_dns_merge_changes")
    s.sql(
      s"""MERGE INTO $tbl t
         |USING graft_dns_merge_changes s
         |ON t.fqdn = s.fqdn AND t.ip = s.ip
         |WHEN MATCHED AND s.op = 'del' THEN DELETE
         |WHEN MATCHED AND s.op = 'upd' THEN UPDATE SET ip = s.new_ip
         |WHEN NOT MATCHED AND s.op = 'add' THEN INSERT
         |  (action, fqdn, ip, timestamp, ttl)
         |  VALUES ('IXFR_ADD', s.fqdn, s.ip, timestamp_micros(${TsMicros + 1L}), 300)
         |""".stripMargin)
    s.read.format("dns")
      .option("server", Host).option("port", port.toString)
      .option("organization", "graft").option("zones", "mz.graft,m2z.graft,keep.graft")
      .option("xfr", "AXFR")
      .option("fixed-timestamp-micros", TsMicros.toString)
      .load()
      .select(col("fqdn"), col("ip"), col("zone"), col("_serial"))
      .orderBy("fqdn", "ip")
  }

  /** Final state closed-form: mz loses m0/m1, m2 re-IPs, m3..m7 carry
    * over, x0 inserted (serial 2); m2z re-IPs n1, x1 inserted
    * (serial 2); keep untouched (serial 1). */
  private val qDnsMergeOracle: String =
    """WITH mz AS (
      |  SELECT 'm'||i||'.mz.graft.' AS fqdn,
      |    CASE WHEN i = 2 THEN '10.20.9.2' ELSE '10.20.0.'||i END AS ip
      |  FROM (SELECT unnest(generate_series(2, 7)) AS i)
      |  UNION ALL SELECT 'x0.mz.graft.', '10.20.5.0'),
      |m2z AS (
      |  SELECT 'n'||i||'.m2z.graft.' AS fqdn,
      |    CASE WHEN i = 1 THEN '10.21.9.1' ELSE '10.21.0.'||i END AS ip
      |  FROM (SELECT unnest(generate_series(0, 3)) AS i)
      |  UNION ALL SELECT 'x1.m2z.graft.', '10.21.5.1'),
      |labeled AS (
      |  SELECT fqdn, ip, 'mz.graft.' AS zone, CAST(2 AS BIGINT) AS "_serial" FROM mz
      |  UNION ALL
      |  SELECT fqdn, ip, 'm2z.graft.', CAST(2 AS BIGINT) FROM m2z
      |  UNION ALL
      |  SELECT 'k'||i||'.keep.graft.', '10.22.0.'||i, 'keep.graft.', CAST(1 AS BIGINT)
      |  FROM (SELECT unnest(generate_series(0, 2)) AS i))
      |SELECT fqdn, ip, zone, "_serial" FROM labeled ORDER BY fqdn, ip""".stripMargin

  /** The NATIVE streaming sink under the gate: a formulaic update log
    * replayed through the file-stream source into
    * `writeStream.format("dns_update")` (the V2 StreamingWrite — no
    * foreachBatch), one run to the end of the log + checkpoint, final
    * zone state read back over AXFR. Ids 8-15 re-add the same fqdns
    * with different IPs and later timestamps, so multi-record names and
    * chronological apply are both exercised through the streaming
    * path. */
  def qDnsStreamSink(s: SparkSession, dir: String): DataFrame =
   // Same once-per-JVM staging as qDnsStream: the native-sink replay
   // plus the AXFR read-back run as the staging; the key reads back.
   Replay.result(s, dir, "dns_stream_sink") {
    import s.implicits._
    val port = freshPort("q_dns_stream_sink")
    InMemoryDnsServer.reset(Host, port)
    val srv = InMemoryDnsServer.at(Host, port)
    srv.addZone("sk.graft.", (0 to 4).map(k => ARecord(s"seed$k.sk.graft.", s"10.8.0.$k")))

    val base = Scratch.fresh("dns_stream_sink", dir)
    val k = $"id" % 8
    val gen = ($"id" / 8).cast("long")
    s.range(16).select(
        when(k <= 4, DnsAction.IxfrAdd).otherwise(DnsAction.IxfrDelete).as("action"),
        when(k <= 4, concat(lit("n"), k.cast("string"), lit(".sk.graft")))
          .otherwise(concat(lit("seed"), (k - 5).cast("string"), lit(".sk.graft"))).as("fqdn"),
        when(k <= 4, concat(lit("10.9."), gen.cast("string"), lit("."), k.cast("string")))
          .otherwise(concat(lit("10.8.0."), (k - 5).cast("string"))).as("ip"),
        timestamp_micros(lit(TsMicros + 2000000L) + $"id").as("timestamp"),
        lit(3600).cast("int").as("ttl"))
      .coalesce(1).write.mode("overwrite").parquet(s"$base/log")

    Replay.run("dns_stream_sink", s.readStream.schema(DnsSchemas.write).parquet(s"$base/log")
      .writeStream.format("dns_update")
      .option("server", Host).option("port", port.toString)
      .option("checkpointLocation", s"$base/ck")): Unit

    s.read.format("dns")
      .option("server", Host).option("port", port.toString)
      .option("organization", "graft").option("zones", "sk.graft")
      .option("xfr", "AXFR")
      .option("fixed-timestamp-micros", TsMicros.toString)
      .load()
      .select("fqdn", "ip", "zone")
   }.orderBy("fqdn", "ip")

  /** Final zone: seeds 3-4 survive (0-2 deleted), n0..n4 carry BOTH
    * generation IPs (distinct A records per name). */
  private val qDnsStreamSinkOracle: String =
    """WITH adds AS (
      |  SELECT 'n'||k||'.sk.graft.' AS fqdn, '10.9.'||g||'.'||k AS ip
      |  FROM (SELECT unnest(generate_series(0, 4)) AS k)
      |  CROSS JOIN (SELECT unnest(generate_series(0, 1)) AS g)),
      |seeds AS (
      |  SELECT 'seed'||k||'.sk.graft.' AS fqdn, '10.8.0.'||k AS ip
      |  FROM (SELECT unnest(generate_series(3, 4)) AS k))
      |SELECT fqdn, ip, 'sk.graft.' AS zone
      |FROM (SELECT * FROM adds UNION ALL SELECT * FROM seeds)
      |ORDER BY fqdn, ip""".stripMargin

  /** The streaming source under the oracle gate, resume-once included:
    * two run-to-end runs of `readStream.format("dns")` into one
    * parquet sink sharing one checkpoint. Run 1 starts at serial 0 ⇒
    * AXFR of the seeded zone (10 rows); the zone then changes (3 adds,
    * 1 delete); run 2 restores the committed serial from the
    * self-managed progress log and transfers ONLY the IXFR delta
    * (4 rows). The oracle pins the union — if resume re-ran the AXFR
    * (duplicate rows) or the commit log failed to persist (13-record
    * snapshot instead of the delta), the hash breaks. This is the
    * reference's headline behavior (DnsStreamingSource.java:31-178,
    * resume test DnsSourceRelationProviderTest.java:203-226) as an
    * official gate row, not just a spec. */
  def qDnsStream(s: SparkSession, dir: String): DataFrame =
   // The two-run resume sequence stages once per JVM (same discipline
   // as StreamingOps' staged replays — both lifecycles still run, in
   // this process, as the staging; the timed key reads the artifact).
   Replay.result(s, dir, "dns_stream") {
    val port = freshPort("q_dns_stream")
    InMemoryDnsServer.reset(Host, port)
    val srv = InMemoryDnsServer.at(Host, port)
    srv.addZone("st.graft.", (0 to 9).map(i => ARecord(s"h$i.st.graft.", s"10.5.0.$i")))

    val base = Scratch.fresh("dns_stream", dir)
    val out = s"$base/out"
    val ck = s"$base/ck"

    def runOnce(): Unit =
      Replay.run("dns_stream", s.readStream.format("dns")
        .option("server", Host).option("port", port.toString)
        .option("organization", "graft").option("zones", "st.graft")
        .option("fixed-timestamp-micros", TsMicros.toString)
        .load()
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ck)): Unit

    runOnce() // serial 0 ⇒ AXFR h0..h9
    srv.update("st.graft.",
      (10 to 12).map(i => ARecord(s"h$i.st.graft.", s"10.5.0.$i")),
      Seq(ARecord("h0.st.graft.", "10.5.0.0")))
    runOnce() // resume ⇒ IXFR delta only

    s.read.parquet(out).select("action", "fqdn", "ip", "zone")
   }.orderBy("action", "fqdn")

  /** Zone-SET change across a streaming restart (r15 verdict item 5 —
    * the reference quirk §2.3.3 made a gate: DnsStreamingSource
    * .java:145-149's null-guard for a zone absent from committed
    * progress is unreachable in the reference because its progress
    * map is keyed by the CURRENT option list; this connector's
    * restore keys by zone NAME, so the contract is testable and
    * gated). Run 1 streams zones {a, b}: both AXFR from serial 0.
    * Between runs: zone a changes (2 adds, 1 delete), zone b ALSO
    * changes (an add that must never surface), and a brand-new zone c
    * is seeded. Run 2 — SAME checkpoint, zone list {a, c} — must:
    * carry a's committed serial over (only the IXFR delta transfers,
    * never a re-AXFR), start c at serial 0 (full AXFR), and plan
    * nothing for the dropped b (its post-drop add stays invisible,
    * and its run-1 rows stay in the output untouched). The oracle
    * pins the exact union: a duplicated AXFR, a lost serial, a
    * leaked b-add, or a c started at the wrong serial each move the
    * hash. */
  def qDnsZoneChange(s: SparkSession, dir: String): DataFrame =
   Replay.result(s, dir, "dns_zone_change") {
    val port = freshPort("q_dns_zone_change")
    InMemoryDnsServer.reset(Host, port)
    val srv = InMemoryDnsServer.at(Host, port)
    srv.addZone("zca.graft.", (0 to 3).map(i => ARecord(s"a$i.zca.graft.", s"10.6.0.$i")))
    srv.addZone("zcb.graft.", (0 to 2).map(i => ARecord(s"b$i.zcb.graft.", s"10.6.1.$i")))

    val base = Scratch.fresh("dns_zone_change", dir)
    val out = s"$base/out"
    val ck = s"$base/ck"

    def runOnce(zones: String): Unit =
      Replay.run("dns_zone_change", s.readStream.format("dns")
        .option("server", Host).option("port", port.toString)
        .option("organization", "graft").option("zones", zones)
        .option("fixed-timestamp-micros", TsMicros.toString)
        .load()
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ck)): Unit

    runOnce("zca.graft,zcb.graft") // both AXFR from 0
    srv.update("zca.graft.",
      (4 to 5).map(i => ARecord(s"a$i.zca.graft.", s"10.6.0.$i")),
      Seq(ARecord("a0.zca.graft.", "10.6.0.0")))
    srv.update("zcb.graft.", Seq(ARecord("b9.zcb.graft.", "10.6.1.9")), Nil)
    srv.addZone("zcc.graft.", (0 to 4).map(i => ARecord(s"c$i.zcc.graft.", s"10.6.2.$i")))
    runOnce("zca.graft,zcc.graft") // a: IXFR delta; c: AXFR from 0; b: dropped

    s.read.parquet(out).select("action", "fqdn", "ip", "zone")
   }.orderBy("action", "fqdn")

  /** Streaming ADMISSION CONTROL under the oracle gate (r16 verdict
    * item 4 — the last idiomatic DSv2 streaming surface): with
    * `max-zones-per-batch 2` over a 4-zone stream, each micro-batch
    * transfers at most 2 zones (`SupportsAdmissionControl`; zones are
    * the only subdividable axis — a single transfer is serial by
    * protocol, and a zone's size is unknowable before transferring).
    * Selection is round-robin on the persisted nonce, and the
    * admitted set rides INSIDE the offset, so a WAL-replayed batch
    * re-plans the same zones. Spark ignores read limits under
    * Trigger.Once (pinned in AdmissionControlSpec), so the fixture
    * runs ProcessingTime and stops once all four AXFRs landed; rows
    * are tagged with their foreachBatch id. The oracle pins the exact
    * (zone → batch) assignment: batch 0 admits zones {2,3} (nonce 1 ×
    * limit 2 mod 4), batch 1 admits {0,1}, later batches re-visit
    * committed zones and transfer NOTHING (empty IXFR) — a source
    * that over-admits, re-transfers, or loses a carried-over zone
    * moves a batch_id, duplicates rows, or drops a zone. */
  def qDnsRatelimit(s: SparkSession, dir: String): DataFrame = {
   val staged = Scratch.staged("dns_ratelimit_result", dir) { sb =>
    val port = freshPort("q_dns_ratelimit")
    InMemoryDnsServer.reset(Host, port)
    val srv = InMemoryDnsServer.at(Host, port)
    (0 to 3).foreach { j =>
      srv.addZone(s"rl$j.graft.",
        (0 to 1 + j).map(i => ARecord(s"a$i.rl$j.graft.", s"10.7.$j.$i")))
    }
    val base = Scratch.fresh("dns_ratelimit", dir)
    val out = s"$base/out"
    val ck = s"$base/ck"
    val q = s.readStream.format("dns")
      .option("server", Host).option("port", port.toString)
      .option("organization", "graft")
      .option("zones", "rl0.graft,rl1.graft,rl2.graft,rl3.graft")
      .option("max-zones-per-batch", "2")
      .option("fixed-timestamp-micros", TsMicros.toString)
      .load()
      .writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        batch.select(col("action"), col("fqdn"), col("ip"), col("zone"),
            lit(id).as("batch_id"))
          .write.mode("append").parquet(out)
      }
      .option("checkpointLocation", ck)
      .trigger(Trigger.ProcessingTime(50))
      .start()
    try {
      val deadline = System.nanoTime() + 180L * 1000 * 1000 * 1000
      // transient read races against a concurrent micro-batch commit
      // poll as 0 and retry; the final require uses the LOOP's last
      // observation, never a post-loop re-read that could race an
      // empty batch's commit (review r17)
      def landed(): Long =
        if (!new java.io.File(out).exists()) 0L
        else try s.read.parquet(out).count() catch { case _: Exception => 0L }
      var seen = landed()
      while (seen < 14 && System.nanoTime() < deadline) {
        Thread.sleep(100); seen = landed()
      }
      require(seen == 14,
        s"dns ratelimit stream landed $seen of 14 rows in 180 s")
    } finally { q.stop(); q.awaitTermination() }
    s.read.parquet(out)
      .select("action", "fqdn", "ip", "zone", "batch_id")
      .write.parquet(new java.io.File(sb, "result").toString)
   }
   s.read.parquet(new java.io.File(staged, "result").toString)
     .orderBy("zone", "fqdn")
  }

  /** Trigger.AvailableNow + admission control under the oracle gate —
    * the SELF-TERMINATING rate-limited catch-up
    * (`SupportsTriggerAvailableNow`): "available" is unknowable for a
    * poll-incapable source, so the prepared pass is defined as each
    * zone transferred exactly once, spread over ⌈zones/limit⌉
    * batches, after which the source re-mints its last offset
    * verbatim and Spark ends the query — no manual stop, no polling
    * loop (contrast [[qDnsRatelimit]], which must stop a
    * ProcessingTime stream by hand). 4 zones, limit 2 ⇒ exactly two
    * batches in zone-list order (AvailableNow consumes the REMAINING
    * set head-first, unlike the steady-state round-robin): batch 0 =
    * zones {0,1}, batch 1 = {2,3}. The oracle pins the zone→batch
    * assignment; a source that fails to terminate is stopped and fails
    * the gate at the [[Replay]] bound, one that re-admits duplicates
    * rows, one that leaks un-admitted zones into a batch moves a
    * batch_id. */
  def qDnsAvailableNow(s: SparkSession, dir: String): DataFrame =
   Replay.result(s, dir, "dns_available_now") {
    val port = freshPort("q_dns_available_now")
    InMemoryDnsServer.reset(Host, port)
    val srv = InMemoryDnsServer.at(Host, port)
    (0 to 3).foreach { j =>
      srv.addZone(s"an$j.graft.",
        (0 to 1 + j).map(i => ARecord(s"a$i.an$j.graft.", s"10.10.$j.$i")))
    }
    val base = Scratch.fresh("dns_available_now", dir)
    val out = s"$base/out"
    val ck = s"$base/ck"
    Replay.run("dns_available_now", s.readStream.format("dns")
      .option("server", Host).option("port", port.toString)
      .option("organization", "graft")
      .option("zones", "an0.graft,an1.graft,an2.graft,an3.graft")
      .option("max-zones-per-batch", "2")
      .option("fixed-timestamp-micros", TsMicros.toString)
      .load()
      .writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        batch.select(col("action"), col("fqdn"), col("ip"), col("zone"),
            lit(id).as("batch_id"))
          .write.mode("append").parquet(out)
      }
      .option("checkpointLocation", ck)): Unit
    s.read.parquet(out).select("action", "fqdn", "ip", "zone", "batch_id")
   }.orderBy("zone", "fqdn")

  private val qDnsAvailableNowOracle: String =
    """WITH z AS (SELECT unnest(generate_series(0, 3)) AS j),
      |rows_ AS (
      |  SELECT j, unnest(generate_series(0, 1 + j)) AS i FROM z)
      |SELECT 'AXFR' AS action,
      |       'a'||i||'.an'||j||'.graft.' AS fqdn,
      |       '10.10.'||j||'.'||i AS ip,
      |       'an'||j||'.graft.' AS zone,
      |       CAST(j // 2 AS BIGINT) AS batch_id
      |FROM rows_ ORDER BY zone, fqdn""".stripMargin

  private val qDnsRatelimitOracle: String =
    """WITH z AS (SELECT unnest(generate_series(0, 3)) AS j),
      |rows_ AS (
      |  SELECT j, unnest(generate_series(0, 1 + j)) AS i FROM z)
      |SELECT 'AXFR' AS action,
      |       'a'||i||'.rl'||j||'.graft.' AS fqdn,
      |       '10.7.'||j||'.'||i AS ip,
      |       'rl'||j||'.graft.' AS zone,
      |       CAST(CASE WHEN j >= 2 THEN 0 ELSE 1 END AS BIGINT) AS batch_id
      |FROM rows_ ORDER BY zone, fqdn""".stripMargin

  private val qDnsZoneChangeOracle: String =
    """WITH axfr_a AS (
      |  SELECT 'AXFR' AS action, 'a'||i||'.zca.graft.' AS fqdn,
      |         '10.6.0.'||i AS ip, 'zca.graft.' AS zone
      |  FROM (SELECT unnest(generate_series(0, 3)) AS i)),
      |axfr_b AS (
      |  SELECT 'AXFR', 'b'||i||'.zcb.graft.', '10.6.1.'||i, 'zcb.graft.'
      |  FROM (SELECT unnest(generate_series(0, 2)) AS i)),
      |axfr_c AS (
      |  SELECT 'AXFR', 'c'||i||'.zcc.graft.', '10.6.2.'||i, 'zcc.graft.'
      |  FROM (SELECT unnest(generate_series(0, 4)) AS i)),
      |adds_a AS (
      |  SELECT 'IXFR_ADD', 'a'||i||'.zca.graft.', '10.6.0.'||i, 'zca.graft.'
      |  FROM (SELECT unnest(generate_series(4, 5)) AS i)),
      |dels_a AS (SELECT 'IXFR_DELETE', 'a0.zca.graft.', '10.6.0.0', 'zca.graft.')
      |SELECT * FROM (
      |  SELECT * FROM axfr_a UNION ALL SELECT * FROM axfr_b
      |  UNION ALL SELECT * FROM axfr_c UNION ALL SELECT * FROM adds_a
      |  UNION ALL SELECT * FROM dels_a)
      |ORDER BY action, fqdn""".stripMargin

  private val qDnsStreamOracle: String =
    """WITH axfr AS (
      |  SELECT 'AXFR' AS action, 'h'||i||'.st.graft.' AS fqdn, '10.5.0.'||i AS ip
      |  FROM (SELECT unnest(generate_series(0, 9)) AS i)),
      |adds AS (
      |  SELECT 'IXFR_ADD' AS action, 'h'||i||'.st.graft.' AS fqdn, '10.5.0.'||i AS ip
      |  FROM (SELECT unnest(generate_series(10, 12)) AS i)),
      |dels AS (SELECT 'IXFR_DELETE' AS action, 'h0.st.graft.' AS fqdn, '10.5.0.0' AS ip)
      |SELECT action, fqdn, ip, 'st.graft.' AS zone
      |FROM (SELECT * FROM axfr UNION ALL SELECT * FROM adds UNION ALL SELECT * FROM dels)
      |ORDER BY action, fqdn""".stripMargin

  /** COUNT(*) pushdown (`SupportsPushDownAggregates`) under the oracle
    * gate, both accepted shapes in one result: the per-zone census is
    * COMPLETE pushdown (one partition IS one zone, so the scan's rows
    * ARE the final groups — no aggregate node survives in that branch,
    * asserted in ReadConnectorSpec) and the TOTAL row is the PARTIAL
    * form (the scan ships one count per zone, Spark sums them). Wire
    * cost drops from every record to one row per zone; the fixture's
    * formulaic counts (zone j → 10 + j records) make a wrong or
    * double-counted partition an oracle mismatch, not a flake. */
  def qDnsPushedCount(s: SparkSession, dir: String): DataFrame = {
    val port = freshPort("q_dns_pushed_count")
    seedReadFixture(port)
    def load() = s.read.format("dns")
      .option("server", Host).option("port", port.toString)
      .option("organization", "graft")
      .option("zones", "z0.graft,z1.graft,z2.graft,z3.graft")
      .option("xfr", "AXFR")
      .option("fixed-timestamp-micros", TsMicros.toString)
      .load()
    val byZone = load().groupBy(col("zone")).agg(expr("count(*)").as("n_records"))
    val total = load().agg(expr("count(*)").as("n_records"))
      .select(lit("TOTAL").as("zone"), col("n_records"))
    byZone.unionAll(total).orderBy("zone")
  }

  private val qDnsPushedCountOracle: String =
    """SELECT 'z'||j||'.graft.' AS zone, CAST(10 + j AS BIGINT) AS n_records
      |FROM (SELECT unnest(generate_series(0, 3)) AS j)
      |UNION ALL SELECT 'TOTAL', CAST(46 AS BIGINT)
      |ORDER BY zone""".stripMargin

  /** LIMIT pushdown (`SupportsPushDownLimit`) under the oracle gate.
    * Deterministic by construction: the zone filter statically prunes
    * to ONE partition, whose reader yields records in the zone's
    * serve order (h0..h11), so the pushed `LIMIT 5` materializes
    * exactly h0..h4 before Spark's global limit confirms it — the
    * rows, not just the count, are part of the hash. The re-sort
    * ABOVE the limit only canonicalizes output order. The partial
    * contract (reader stops early, Spark keeps the global limit) and
    * the agg-composition refusal are spec-asserted. */
  def qDnsLimit(s: SparkSession, dir: String): DataFrame = {
    val port = freshPort("q_dns_limit")
    seedReadFixture(port)
    s.read.format("dns")
      .option("server", Host).option("port", port.toString)
      .option("organization", "graft")
      .option("zones", "z0.graft,z1.graft,z2.graft,z3.graft")
      .option("xfr", "AXFR")
      .option("fixed-timestamp-micros", TsMicros.toString)
      .load()
      .filter(col("zone") === "z2.graft.")
      .select("action", "fqdn", "ip", "zone")
      .limit(5)
      .orderBy("fqdn")
  }

  private val qDnsLimitOracle: String =
    """SELECT 'AXFR' AS action, 'h'||i||'.z2.graft.' AS fqdn,
      |  '10.2.0.'||i AS ip, 'z2.graft.' AS zone
      |FROM (SELECT unnest(generate_series(0, 4)) AS i)
      |ORDER BY fqdn""".stripMargin

  /** TopN pushdown (`SupportsPushDownTopN`) under the oracle gate —
    * the natural completion of the pushdown surface after COUNT and
    * LIMIT (the reference has none of it: DnsSourceRelation.java:17 is
    * a plain TableScan). Four zones, NO static filter: each of the
    * four partition readers sorts its own zone's records by fqdn
    * in memory (a zone is bounded by message size) and ships its top
    * 7; Spark's TakeOrdered merges 28 candidate rows instead of
    * resorting all 46 — at estate scale, top-k over the scan moves
    * k×zones rows, not the estate. Deterministic: fqdn is globally
    * unique, so the top-7 set has no tie to break. The pushed shape
    * (`PushedTopN=[ORDER BY fqdn ASC LIMIT 7]`) is plan-asserted in
    * ReadConnectorSpec. */
  def qDnsTopn(s: SparkSession, dir: String): DataFrame = {
    val port = freshPort("q_dns_topn")
    seedReadFixture(port)
    s.read.format("dns")
      .option("server", Host).option("port", port.toString)
      .option("organization", "graft")
      .option("zones", "z0.graft,z1.graft,z2.graft,z3.graft")
      .option("xfr", "AXFR")
      .option("fixed-timestamp-micros", TsMicros.toString)
      .load()
      .select("action", "fqdn", "ip", "zone")
      .orderBy("fqdn")
      .limit(7)
  }

  private val qDnsTopnOracle: String =
    """WITH h AS (
      |  SELECT 'AXFR' AS action, 'h'||i||'.z'||j||'.graft.' AS fqdn,
      |    '10.'||j||'.0.'||i AS ip, 'z'||j||'.graft.' AS zone
      |  FROM (SELECT unnest(generate_series(0,3)) AS j)
      |  CROSS JOIN (SELECT unnest(generate_series(0,12)) AS i)
      |  WHERE i <= 9 + j)
      |SELECT * FROM h ORDER BY fqdn LIMIT 7""".stripMargin

  /** OFFSET pushdown (`SupportsPushDownOffset`) composed with a
    * COMPLETE TopN push: the zone filter statically prunes to ONE
    * partition, so the scan's row order IS the global order — Spark
    * pushes `ORDER BY fqdn LIMIT 5 OFFSET 2` as topN(fqdn, 7) +
    * offset(2), drops its own sort/limit/offset nodes entirely, and
    * the reader's sorted take(7).drop(2) is the answer (rows h10, h11,
    * h2, h3, h4 of the lexicographic order — the stringy sort is the
    * point, it pins the reader's UTF8 comparison against DuckDB's).
    * A multi-zone scan refuses the offset (skipping m rows per
    * partition is not the global skip); that refusal is spec-pinned. */
  def qDnsOffset(s: SparkSession, dir: String): DataFrame = {
    val port = freshPort("q_dns_offset")
    seedReadFixture(port)
    s.read.format("dns")
      .option("server", Host).option("port", port.toString)
      .option("organization", "graft")
      .option("zones", "z0.graft,z1.graft,z2.graft,z3.graft")
      .option("xfr", "AXFR")
      .option("fixed-timestamp-micros", TsMicros.toString)
      .load()
      .filter(col("zone") === "z2.graft.")
      .select("action", "fqdn", "ip", "zone")
      .orderBy("fqdn")
      .offset(2)
      .limit(5)
  }

  private val qDnsOffsetOracle: String =
    """SELECT 'AXFR' AS action, 'h'||i||'.z2.graft.' AS fqdn,
      |  '10.2.0.'||i AS ip, 'z2.graft.' AS zone
      |FROM (SELECT unnest(generate_series(0, 11)) AS i)
      |ORDER BY fqdn LIMIT 5 OFFSET 2""".stripMargin

  /** Storage-partitioned join (`SupportsReportPartitioning` +
    * `HasPartitionKey`) under the oracle gate: every record joined to
    * its zone's record census — two scans of the same estate, both
    * key-grouped by zone, so with v2 bucketing enabled the whole plan
    * runs transfer-local with ZERO hash exchanges (spec-asserted; the
    * `merge` hint only forbids the broadcast the scan's own size
    * statistics would otherwise win). The census counts `fqdn`, not
    * `*`, deliberately: only COUNT(*) is pushable into the scan, and
    * Spark's V2ScanPartitioningAndOrdering does not assign key-grouped
    * partitioning to a pushed-aggregate scan (observed on 4.1 — its
    * relation output is the rewritten agg columns), so a pushed census
    * would re-shuffle. Kept on Spark, the aggregation fuses
    * partial+final back-to-back over the key-grouped scan and the join
    * is SortMergeJoin directly over both scans — at estate scale the
    * difference between shuffling every record of every zone and
    * joining transfer-local. Results are conf-independent; only the
    * exchanges differ. */
  def qDnsSpj(s: SparkSession, dir: String): DataFrame = {
    val port = freshPort("q_dns_spj")
    seedReadFixture(port)
    spjJoin(s, port)
  }

  private[graft] def seedSpjFixture(): Int = {
    val port = freshPort("q_dns_spj_audit")
    seedReadFixture(port)
    port
  }

  private[graft] def spjJoin(s: SparkSession, port: Int): DataFrame = {
    def load() = s.read.format("dns")
      .option("server", Host).option("port", port.toString)
      .option("organization", "graft")
      .option("zones", "z0.graft,z1.graft,z2.graft,z3.graft")
      .option("xfr", "AXFR")
      .option("fixed-timestamp-micros", TsMicros.toString)
      .load()
    val records = load().select(col("zone"), col("fqdn"), col("ip"))
    val census = load().groupBy(col("zone")).agg(count(col("fqdn")).as("zone_records"))
    records.hint("merge").join(census, Seq("zone"))
      .select("zone", "fqdn", "ip", "zone_records")
      .orderBy("zone", "fqdn")
  }

  /** The estate-reconciliation composition, spec-only (PlanAuditSpec):
    * census restricted to a zone SUBSET. Catalyst propagates the zone
    * predicate across the inner join's equi-condition to the records
    * side, so BOTH scans statically prune to the two zones (two
    * transfers each, not four) and the join still plans
    * storage-partitioned — pruning and SPJ compose. */
  private[graft] def spjSubsetJoin(s: SparkSession, port: Int): DataFrame = {
    def load() = s.read.format("dns")
      .option("server", Host).option("port", port.toString)
      .option("organization", "graft")
      .option("zones", "z0.graft,z1.graft,z2.graft,z3.graft")
      .option("xfr", "AXFR")
      .option("fixed-timestamp-micros", TsMicros.toString)
      .load()
    val records = load().select(col("zone"), col("fqdn"), col("ip"))
    val census = load()
      .filter(col("zone").isin("z1.graft.", "z3.graft."))
      .groupBy(col("zone")).agg(count(col("fqdn")).as("zone_records"))
    records.hint("merge").join(census, Seq("zone"))
      .select("zone", "fqdn", "ip", "zone_records")
  }

  private val qDnsSpjOracle: String =
    """WITH h AS (
      |  SELECT j, i FROM (SELECT unnest(generate_series(0,3)) AS j)
      |  CROSS JOIN (SELECT unnest(generate_series(0,12)) AS i)
      |  WHERE i <= 9 + j)
      |SELECT 'z'||j||'.graft.' AS zone,
      |  'h'||i||'.z'||j||'.graft.' AS fqdn,
      |  '10.'||j||'.0.'||i AS ip,
      |  CAST(10 + j AS BIGINT) AS zone_records
      |FROM h ORDER BY zone, fqdn""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dns_read" -> qDnsRead,
    "q_dns_zone_pruned" -> qDnsZonePruned,
    "q_dns_runtime_prune" -> qDnsRuntimePrune,
    "q_dns_roundtrip" -> qDnsRoundtrip,
    "q_dns_ixfr" -> qDnsIxfr,
    "q_dns_wire_read" -> qDnsWireRead,
    "q_dns_wire_roundtrip" -> qDnsWireRoundtrip,
    "q_dns_wire_ixfr" -> qDnsWireIxfr,
    "q_dns_sql" -> qDnsSql,
    "q_dns_sql_insert" -> qDnsSqlInsert,
    "q_dns_stream" -> qDnsStream,
    "q_dns_zone_change" -> qDnsZoneChange,
    "q_dns_ratelimit" -> qDnsRatelimit,
    "q_dns_available_now" -> qDnsAvailableNow,
    "q_dns_stream_sink" -> qDnsStreamSink,
    "q_dns_ignore_failures" -> qDnsIgnoreFailures,
    "q_dns_validate" -> qDnsValidate,
    "q_dns_metadata_cols" -> qDnsMetadataCols,
    "q_dns_auto_broadcast" -> qDnsAutoBroadcast,
    "q_dns_sql_delete" -> qDnsSqlDelete,
    "q_dns_overwrite" -> qDnsOverwrite,
    "q_dns_merge" -> qDnsMerge,
    "q_dns_pushed_count" -> qDnsPushedCount,
    "q_dns_limit" -> qDnsLimit,
    "q_dns_topn" -> qDnsTopn,
    "q_dns_offset" -> qDnsOffset,
    "q_dns_spj" -> qDnsSpj,
  )

  /** Same discipline as [[graft.streaming.StreamingOps.stagedReadbackKeys]]:
    * these keys' timed passes read the once-per-JVM staged replay
    * result, not a fresh streaming-query lifecycle. All but
    * q_dns_ratelimit (a ProcessingTime run stopped by hand) stage
    * through the [[Replay]] harness's [[Replay.result]]. */
  val stagedReadbackKeys: Set[String] =
    Set("q_dns_stream", "q_dns_stream_sink", "q_dns_zone_change", "q_dns_ratelimit",
      "q_dns_available_now")

  /** Wire and SQL variants share the in-memory oracles verbatim —
    * transport and registration surface must never change results. */
  val oracles: Map[String, String] = Map(
    "q_dns_read" -> qDnsReadOracle,
    "q_dns_zone_pruned" -> qDnsZonePrunedOracle,
    "q_dns_runtime_prune" -> qDnsRuntimePruneOracle,
    "q_dns_roundtrip" -> qDnsRoundtripOracle,
    "q_dns_ixfr" -> qDnsIxfrOracle,
    "q_dns_wire_read" -> qDnsReadOracle,
    "q_dns_wire_roundtrip" -> qDnsRoundtripOracle,
    "q_dns_wire_ixfr" -> qDnsIxfrOracle,
    "q_dns_sql" -> qDnsReadOracle,
    "q_dns_sql_insert" -> qDnsSqlInsertOracle,
    "q_dns_stream" -> qDnsStreamOracle,
    "q_dns_zone_change" -> qDnsZoneChangeOracle,
    "q_dns_ratelimit" -> qDnsRatelimitOracle,
    "q_dns_available_now" -> qDnsAvailableNowOracle,
    "q_dns_stream_sink" -> qDnsStreamSinkOracle,
    "q_dns_ignore_failures" -> qDnsIgnoreFailuresOracle,
    "q_dns_validate" -> qDnsValidateOracle,
    "q_dns_metadata_cols" -> qDnsMetadataColsOracle,
    "q_dns_auto_broadcast" -> qDnsAutoBroadcastOracle,
    "q_dns_sql_delete" -> qDnsSqlDeleteOracle,
    "q_dns_overwrite" -> qDnsOverwriteOracle,
    "q_dns_merge" -> qDnsMergeOracle,
    "q_dns_pushed_count" -> qDnsPushedCountOracle,
    "q_dns_limit" -> qDnsLimitOracle,
    "q_dns_topn" -> qDnsTopnOracle,
    "q_dns_offset" -> qDnsOffsetOracle,
    "q_dns_spj" -> qDnsSpjOracle,
  )
}
