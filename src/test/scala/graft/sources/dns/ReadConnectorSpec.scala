package graft.sources.dns

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Batch read path end-to-end through spark.read.format("dns"):
  * registry resolution, partition-per-zone scan, action tagging,
  * failure policy — the reference's read-test matrix
  * (DnsSourceRelationProviderTest.java:86-200) against the in-memory
  * server. */
class ReadConnectorSpec extends AnyFunSuite {
  private lazy val spark = graft.SparkTestSession.spark

  private def seeded(port: Int): InMemoryDnsServer = {
    InMemoryDnsServer.reset("t", port)
    val srv = InMemoryDnsServer.at("t", port)
    srv.addZone("example.acme.", Seq(
      ARecord("red.example.acme.", "10.1.0.1"),
      ARecord("green.example.acme.", "10.1.0.2"),
      ARecord("BLUE.example.acme.", "10.1.0.3")))
    srv.addZone("another.zone.", Seq(
      ARecord("a.another.zone.", "10.2.0.1"),
      ARecord("b.another.zone.", "10.2.0.2")))
    srv
  }

  private def read(port: Int, extra: (String, String)*) = {
    val base = Map(
      "server" -> "t", "port" -> port.toString, "organization" -> "acme",
      "zones" -> "example.acme,another.zone",
      "fixed-timestamp-micros" -> "1723400000000000")
    spark.read.format("dns").options(base ++ extra).load()
  }

  test("short name 'dns' resolves via DataSourceRegister; full AXFR read") {
    seeded(5301)
    val df = read(5301, "xfr" -> "AXFR")
    assert(df.schema == DnsSchemas.read)
    val rows = df.collect()
    assert(rows.length == 5)
    assert(rows.forall(_.getString(0) == DnsAction.Axfr))
    assert(rows.forall(_.getString(3) == "acme"))
    // names are lowercased by the wire→row projection
    assert(df.filter(col("fqdn") === "blue.example.acme.").count() == 1)
  }

  test("persist(): cached dns frame re-reads consistently with no second transfer") {
    // ref test parity: DnsSourceRelationProviderTest.java:89 persists
    // the dns read. The cache must pin the transferred rows — repeat
    // reads serve from InMemoryRelation (transfer counter frozen), and
    // a server-side update after materialization is invisible until
    // unpersist.
    val srv = seeded(5317)
    val df = read(5317, "xfr" -> "AXFR").persist()
    try {
      assert(df.count() == 5) // materializes: one transfer per zone
      val transfersAfterFirst = srv.transferCount
      assert(transfersAfterFirst == 2)
      srv.update("example.acme.",
        adds = Seq(ARecord("late.example.acme.", "10.1.0.9")), deletes = Nil)
      assert(df.count() == 5) // cache serves; the new record is absent
      assert(df.filter(col("fqdn") === "late.example.acme.").count() == 0)
      assert(df.filter(col("zone") === "example.acme.").count() == 3)
      assert(srv.transferCount == transfersAfterFirst,
        "persisted frame must not re-run zone transfers")
    } finally df.unpersist()
  }

  test("one input partition per zone") {
    seeded(5302)
    val df = read(5302, "xfr" -> "AXFR")
    assert(df.rdd.getNumPartitions == 2)
  }

  test("IXFR since serial yields delete-before-add tagged changes") {
    val srv = seeded(5303)
    srv.update("example.acme.",
      Seq(ARecord("new.example.acme.", "10.1.0.9")),
      Seq(ARecord("red.example.acme.", "10.1.0.1")))
    val df = read(5303, "serial" -> "1").filter(col("zone") === "example.acme.")
    val acts = df.select("action", "fqdn").collect().map(r => (r.getString(0), r.getString(1)))
    assert(acts.toSet == Set(
      (DnsAction.IxfrDelete, "red.example.acme."),
      (DnsAction.IxfrAdd, "new.example.acme.")))
    // deletes flatten before adds (Xfr.java:52-74 order preserved)
    assert(acts.head._1 == DnsAction.IxfrDelete)
  }

  test("failure matrix: timeout 0 fails, ignore-failures suppresses") {
    seeded(5304)
    intercept[Exception](read(5304, "timeout" -> "0").collect())
    assert(read(5304, "timeout" -> "0", "ignore-failures" -> "true").count() == 0)
  }

  test("failure matrix: wrong port fails, ignore-failures suppresses") {
    seeded(5305)
    intercept[Exception](read(9999).collect())
    assert(read(9999, "ignore-failures" -> "true").count() == 0)
  }

  test("unknown zone fails even with one good zone, unless ignored") {
    val port = 5306
    InMemoryDnsServer.reset("t", port)
    InMemoryDnsServer.at(port = port, host = "t")
      .addZone("example.acme.", Seq(ARecord("x.example.acme.", "10.0.0.1")))
    val opts = Map("server" -> "t", "port" -> port.toString, "organization" -> "o",
      "zones" -> "example.acme,ghost.zone", "xfr" -> "AXFR")
    intercept[Exception](spark.read.format("dns").options(opts).load().collect())
    val ok = spark.read.format("dns").options(opts + ("ignore-failures" -> "true")).load()
    assert(ok.count() == 1)
  }

  test("metadata columns report the transfer kind that actually ran, per zone") {
    val srv = seeded(5321)
    srv.update("example.acme.",
      Seq(ARecord("new.example.acme.", "10.1.0.9")), Nil)
    // IXFR from serial 1: example.acme. (serial 2) serves a true IXFR;
    // another.zone. is still at serial 1 → empty IXFR (no rows). The
    // _xfr_kind metadata column carries the runtime kind, and _serial
    // the final SOA serial the transfer reported.
    val df = read(5321, "serial" -> "1")
      .select(col("zone"), col("fqdn"), col("_serial"), col("_xfr_kind"))
    val rows = df.collect().map(r =>
      (r.getString(0), r.getString(1), r.getLong(2), r.getString(3)))
    assert(rows.toSet == Set(("example.acme.", "new.example.acme.", 2L, "IXFR")))
    // serial 0 ⇒ AXFR protocol rule: the same read reports AXFR ran
    val kinds = read(5321, "serial" -> "0")
      .select(col("zone"), col("_serial"), col("_xfr_kind")).distinct()
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    assert(kinds == Set(("example.acme.", 2L, "AXFR"), ("another.zone.", 1L, "AXFR")))
  }

  test("estimated-zone-bytes feeds the reported scan statistics") {
    seeded(5322)
    val df = read(5322, "xfr" -> "AXFR", "estimated-zone-bytes" -> "1024")
    val v2 = df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r
    }
    assert(v2.nonEmpty)
    assert(v2.head.stats.sizeInBytes == BigInt(2 * 1024), v2.head.stats.toString)
    assert(v2.head.stats.rowCount.contains(BigInt(2 * 8)), v2.head.stats.toString)
    // the zone column's statistics are exact — the zone list IS config
    val zstat = v2.head.stats.attributeStats.find(_._1.name == "zone").map(_._2)
    assert(zstat.exists(s => s.distinctCount.contains(BigInt(2)) &&
      s.nullCount.contains(BigInt(0))), v2.head.stats.attributeStats.toString)
    // a zone-pruned scan shrinks the estimate with it
    val pruned = read(5322, "xfr" -> "AXFR", "estimated-zone-bytes" -> "1024")
      .filter(col("zone") === "example.acme.")
    val pv2 = pruned.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r
    }
    assert(pv2.head.stats.sizeInBytes == BigInt(1024), pv2.head.stats.toString)
  }

  test("SQL DDL: CREATE TABLE USING dns + SELECT") {
    seeded(5307)
    spark.sql("DROP TABLE IF EXISTS dns_sql_test")
    spark.sql(
      """CREATE TABLE dns_sql_test USING dns OPTIONS (
        | server 't', port '5307', organization 'acme',
        | zones 'example.acme,another.zone', xfr 'AXFR',
        | `fixed-timestamp-micros` '1723400000000000')""".stripMargin)
    assert(spark.sql("SELECT * FROM dns_sql_test").count() == 5)
    assert(spark.sql("SELECT zone, count(*) n FROM dns_sql_test GROUP BY zone")
      .count() == 2)
    // DESC TABLE surfaces the fixed connector schema (ref test :128-131)
    val desc = spark.sql("DESC TABLE dns_sql_test").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(desc("action") == "string" && desc("timestamp") == "timestamp")
    spark.sql("DROP TABLE dns_sql_test")
  }

  test("32 zones transfer in parallel, one partition each") {
    val port = 5314
    InMemoryDnsServer.reset("t", port)
    val srv = InMemoryDnsServer.at("t", port)
    (0 until 32).foreach { z =>
      srv.addZone(s"z$z.many.", (0 to z).map(i => ARecord(s"h$i.z$z.many.", s"10.$z.0.$i")))
    }
    val df = spark.read.format("dns")
      .option("server", "t").option("port", port.toString)
      .option("organization", "o")
      .option("zones", (0 until 32).map(z => s"z$z.many").mkString(","))
      .option("xfr", "AXFR").load()
    assert(df.rdd.getNumPartitions == 32)
    assert(df.count() == (1 to 32).sum) // zone z holds z+1 records
  }

  test("zone equality filter prunes partitions (skips whole zone transfers)") {
    seeded(5309)
    val df = read(5309, "xfr" -> "AXFR").filter(col("zone") === "example.acme.")
    // one partition instead of two: the other zone is never transferred
    assert(df.rdd.getNumPartitions == 1)
    assert(df.count() == 3)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("zones=example.acme."), plan)
    // V2 predicate surface (SupportsPushDownV2Filters): the pushed
    // shapes are part of the scan description
    assert(plan.contains("PushedPredicates=["), plan)
    assert(plan.contains("zone = 'example.acme.'"), plan)
  }

  test("TopN pushes down: partial on multi-zone, complete (with OFFSET) on single zone") {
    seeded(5325)
    // multi-zone: PARTIAL — each partition ships its own top 3 and
    // Spark's TakeOrdered merges 6 candidates, not the estate
    val multi = read(5325, "xfr" -> "AXFR")
      .select("fqdn", "ip").orderBy(col("fqdn").desc).limit(3)
    val mp = multi.queryExecution.executedPlan.toString
    assert(mp.contains("PushedTopN=[ORDER BY fqdn DESC LIMIT 3]"), mp)
    assert(mp.contains("TakeOrdered"), s"partial contract keeps Spark's merge:\n$mp")
    assert(multi.collect().map(_.getString(0)).toSeq ==
      Seq("red.example.acme.", "green.example.acme.", "blue.example.acme."))
    // multi-zone OFFSET is refused (a per-partition skip is not the
    // global skip), so Spark keeps the offset in its own plan
    val moff = read(5325, "xfr" -> "AXFR")
      .select("fqdn").orderBy("fqdn").offset(1).limit(2)
    val mop = moff.queryExecution.executedPlan.toString
    assert(!mop.contains("PushedOffset"), mop)
    assert(moff.collect().map(_.getString(0)).toSeq ==
      Seq("b.another.zone.", "blue.example.acme."))
    // single zone: COMPLETE — sort/limit/offset all consumed by the
    // scan (LIMIT 2 OFFSET 1 arrives as topN(3) + offset(1)); no sort
    // node remains above it
    val one = read(5325, "xfr" -> "AXFR")
      .filter(col("zone") === "example.acme.")
      .select("ip", "fqdn").orderBy("fqdn").offset(1).limit(2)
    val op = one.queryExecution.executedPlan.toString
    assert(op.contains("PushedTopN=[ORDER BY fqdn ASC LIMIT 3]"), op)
    assert(op.contains("PushedOffset=OFFSET 1"), op)
    assert(!op.contains("TakeOrdered") && !op.contains("Sort "), op)
    assert(one.collect().map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("10.1.0.2", "green.example.acme."), ("10.1.0.1", "red.example.acme.")))
    // a complete push removes the Sort node, so the projection may
    // prune the sort column from the scan schema — the reader
    // materializes it for the comparison and projects it away
    val pruned = read(5325, "xfr" -> "AXFR")
      .filter(col("zone") === "example.acme.")
      .orderBy("fqdn").limit(2).select("ip")
    val pp = pruned.queryExecution.executedPlan.toString
    assert(pp.contains("PushedTopN=[ORDER BY fqdn ASC LIMIT 2]"), pp)
    assert(pp.contains("columns=[ip]"), s"sort column must not widen the output schema:\n$pp")
    assert(pruned.collect().map(_.getString(0)).toSeq == Seq("10.1.0.3", "10.1.0.2"))
    // TopN refuses under a pushed COUNT, exactly like LIMIT
    val aggTop = read(5325, "xfr" -> "AXFR")
      .groupBy(col("zone")).agg(org.apache.spark.sql.functions.expr("count(*)").as("n"))
      .orderBy("zone").limit(1)
    val ap = aggTop.queryExecution.executedPlan.toString
    assert(ap.contains("PushedAggregation") && !ap.contains("PushedTopN"), ap)
    assert(aggTop.collect().map(_.getString(0)).toSeq == Seq("another.zone."))
  }

  test("runtime filtering: a zone-dim join prunes transfers via dynamic partition pruning") {
    import spark.implicits._
    val port = 5315
    InMemoryDnsServer.reset("t", port)
    val srv = InMemoryDnsServer.at("t", port)
    (0 to 3).foreach { z =>
      srv.addZone(s"z$z.rtp.", (0 to z).map(i => ARecord(s"h$i.z$z.rtp.", s"10.$z.0.$i")))
    }
    // Dim must be a file scan: a local relation's filter constant-folds
    // away before the DPP rule looks for a selective predicate.
    val dimPath = java.nio.file.Files.createTempDirectory("rtp_dim").toString
    Seq(("z1.rtp.", 1), ("z3.rtp.", 1), ("z0.rtp.", 0)).toDF("zone", "wanted")
      .coalesce(1).write.mode("overwrite").parquet(dimPath)
    val dns = spark.read.format("dns")
      .option("server", "t").option("port", port.toString)
      .option("organization", "o")
      .option("zones", "z0.rtp,z1.rtp,z2.rtp,z3.rtp")
      .option("xfr", "AXFR").load()
      .select("zone", "fqdn", "ip")
    val dim = spark.read.parquet(dimPath).filter($"wanted" === 1).select("zone")
    val joined = dns.join(dim, Seq("zone"))
    val rows = joined.collect()
    // z1 holds 2 hosts, z3 holds 4 — and only those two zones transfer
    assert(rows.length == 6, rows.mkString(","))
    assert(srv.transferCount == 2,
      s"expected 2 zone transfers after runtime pruning, got ${srv.transferCount}")
    // the planner planted a DPP subquery on the DNS scan side
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"), plan)
  }

  test("zone IN filter prunes to the named zones; non-listed zone yields 0 rows") {
    seeded(5310)
    val in = read(5310, "xfr" -> "AXFR")
      .filter(col("zone").isin("example.acme.", "ghost.zone."))
    assert(in.rdd.getNumPartitions == 1)
    assert(in.count() == 3)
    val none = read(5310, "xfr" -> "AXFR").filter(col("zone") === "nope.")
    assert(none.count() == 0)
  }

  test("unnormalized zone filter value matches nothing (exact semantics kept)") {
    seeded(5311)
    // rows carry 'example.acme.' — filtering on the dotless form finds
    // no rows, with or without pushdown
    assert(read(5311, "xfr" -> "AXFR").filter(col("zone") === "example.acme").count() == 0)
  }

  test("column pruning narrows the scan to the selected fields") {
    seeded(5312)
    val df = read(5312, "xfr" -> "AXFR").select("fqdn", "ip")
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("columns=[fqdn,ip]"), scan)
    assert(df.collect().length == 5)
    // column order requested in reverse still resolves correctly
    val rev = read(5312, "xfr" -> "AXFR").select("zone", "fqdn")
      .filter(col("fqdn") === "red.example.acme.").collect()
    assert(rev.map(r => (r.getString(0), r.getString(1))).toSeq
      == Seq(("example.acme.", "red.example.acme.")))
  }

  test("COUNT(*) GROUP BY zone pushes down COMPLETELY: no aggregate node survives") {
    seeded(5320)
    val df = read(5320, "xfr" -> "AXFR")
      .groupBy(col("zone")).agg(org.apache.spark.sql.functions.expr("count(*)").as("n"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregation=[COUNT(*) GROUP BY zone]"), plan)
    assert(!plan.contains("HashAggregate") && !plan.contains("SortAggregate"),
      s"complete pushdown must leave no aggregate node:\n$plan")
    assert(df.collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
      == Seq(("another.zone.", 2L), ("example.acme.", 3L)))
  }

  test("global COUNT(*) pushes down PARTIALLY: scan ships per-zone counts, Spark sums") {
    seeded(5321)
    val df = read(5321, "xfr" -> "AXFR")
      .agg(org.apache.spark.sql.functions.expr("count(*)").as("n"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregation=[COUNT(*)]"), plan)
    assert(plan.contains("Aggregate"), s"partial pushdown keeps the final sum:\n$plan")
    assert(df.collect().head.getLong(0) == 5L)
  }

  test("aggregate pushdown refuses unsupported shapes and the row path answers") {
    seeded(5322)
    // grouping by a non-zone column: partition != group, so no pushdown
    val byFqdn = read(5322, "xfr" -> "AXFR")
      .groupBy(col("fqdn")).agg(org.apache.spark.sql.functions.expr("count(*)").as("n"))
    val plan = byFqdn.queryExecution.executedPlan.toString
    assert(!plan.contains("PushedAggregation"), plan)
    assert(plan.contains("HashAggregate") || plan.contains("SortAggregate"), plan)
    assert(byFqdn.collect().length == 5)
    // non-count aggregate: same refusal
    val maxTs = read(5322, "xfr" -> "AXFR")
      .groupBy(col("zone")).agg(org.apache.spark.sql.functions.max("fqdn").as("m"))
    assert(!maxTs.queryExecution.executedPlan.toString.contains("PushedAggregation"))
    assert(maxTs.collect().length == 2)
  }

  test("pushed count composes with zone-filter pushdown (pruned THEN counted)") {
    seeded(5323)
    val df = read(5323, "xfr" -> "AXFR")
      .filter(col("zone") === "example.acme.")
      .groupBy(col("zone")).agg(org.apache.spark.sql.functions.expr("count(*)").as("n"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregation=[COUNT(*) GROUP BY zone]"), plan)
    assert(plan.contains("zones=example.acme."), s"static prune must precede the count:\n$plan")
    assert(df.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      == Seq(("example.acme.", 3L)))
  }

  test("LIMIT pushes down partially; refused under a pushed aggregate") {
    seeded(5324)
    val lim = read(5324, "xfr" -> "AXFR").limit(3)
    val plan = lim.queryExecution.executedPlan.toString
    assert(plan.contains("PushedLimit=LIMIT 3"), plan)
    assert(plan.contains("Limit"), s"partial contract keeps Spark's global limit:\n$plan")
    assert(lim.collect().length == 3)
    // limit ABOVE a pushed count must not reach the reader: a LIMIT
    // under the COUNT would change the count
    val aggThenLimit = read(5324, "xfr" -> "AXFR")
      .groupBy(col("zone")).agg(org.apache.spark.sql.functions.expr("count(*)").as("n"))
      .limit(1)
    val p2 = aggThenLimit.queryExecution.executedPlan.toString
    assert(p2.contains("PushedAggregation") && !p2.contains("PushedLimit"), p2)
    assert(aggThenLimit.collect().length == 1)
  }

  test("typed Dataset[DnsRecordChange] view over the connector read") {
    seeded(5313)
    import spark.implicits._
    val ds = read(5313, "xfr" -> "AXFR").as[DnsRecordChange]
    val recs = ds.filter(_.zone == "another.zone.").collect()
    assert(recs.length == 2)
    assert(recs.forall(r => r.action == DnsAction.Axfr && r.organization == "acme"))
    assert(recs.map(_.fqdn).sorted.toSeq == Seq("a.another.zone.", "b.another.zone."))
    assert(recs.head.timestamp.getTime == 1723400000000L)
  }

  test("user-supplied schema that differs from the contract is rejected") {
    seeded(5308)
    intercept[Exception] {
      spark.read.format("dns").schema("a STRING, b INT")
        .option("server", "t").option("port", "5308")
        .option("organization", "o").option("zones", "example.acme")
        .load().collect()
    }
  }
}
