package graft.sources.dns

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Batch read path end-to-end through spark.read.format("dns"):
  * registry resolution, partition-per-zone scan, action tagging,
  * failure policy — the reference's read-test matrix
  * (DnsSourceRelationProviderTest.java:86-200) against a loopback
  * wire server. */
class ReadConnectorSpec extends AnyFunSuite {
  import Loopback.withServer
  private lazy val spark = graft.SparkTestSession.spark

  private def seeded(wire: WireDnsServer): InMemoryDnsServer = {
    val srv = wire.backing
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
      "server" -> "127.0.0.1", "port" -> port.toString, "organization" -> "acme",
      "zones" -> "example.acme,another.zone",
      "fixed-timestamp-micros" -> "1723400000000000")
    spark.read.format("dns").options(base ++ extra).load()
  }

  test("short name 'dns' resolves via DataSourceRegister; full AXFR read") {
    withServer { wire =>
      seeded(wire)
      val df = read(wire.port, "xfr" -> "AXFR")
      assert(df.schema == DnsSchemas.read)
      val rows = df.collect()
      assert(rows.length == 5)
      assert(rows.forall(_.getString(0) == DnsAction.Axfr))
      assert(rows.forall(_.getString(3) == "acme"))
      // names are lowercased by the wire→row projection
      assert(df.filter(col("fqdn") === "blue.example.acme.").count() == 1)
    }
  }

  test("persist(): cached dns frame re-reads consistently with no second transfer") {
    withServer { wire =>
      // ref test parity: DnsSourceRelationProviderTest.java:89 persists
      // the dns read. The cache must pin the transferred rows — repeat
      // reads serve from InMemoryRelation (transfer counter frozen), and
      // a server-side update after materialization is invisible until
      // unpersist.
      val srv = seeded(wire)
      val df = read(wire.port, "xfr" -> "AXFR").persist()
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
  }

  test("one input partition per zone") {
    withServer { wire =>
      seeded(wire)
      val df = read(wire.port, "xfr" -> "AXFR")
      assert(df.rdd.getNumPartitions == 2)
    }
  }

  test("IXFR since serial yields delete-before-add tagged changes") {
    withServer { wire =>
      val srv = seeded(wire)
      srv.update("example.acme.",
        Seq(ARecord("new.example.acme.", "10.1.0.9")),
        Seq(ARecord("red.example.acme.", "10.1.0.1")))
      val df = read(wire.port, "serial" -> "1").filter(col("zone") === "example.acme.")
      val acts = df.select("action", "fqdn").collect().map(r => (r.getString(0), r.getString(1)))
      assert(acts.toSet == Set(
        (DnsAction.IxfrDelete, "red.example.acme."),
        (DnsAction.IxfrAdd, "new.example.acme.")))
      // deletes flatten before adds (Xfr.java:52-74 order preserved)
      assert(acts.head._1 == DnsAction.IxfrDelete)
    }
  }

  test("failure matrix: timeout 0 fails, ignore-failures suppresses") {
    withServer { wire =>
      seeded(wire)
      intercept[Exception](read(wire.port, "timeout" -> "0").collect())
      assert(read(wire.port, "timeout" -> "0", "ignore-failures" -> "true").count() == 0)
    }
  }

  test("failure matrix: wrong port fails, ignore-failures suppresses") {
    withServer { wire =>
      seeded(wire)
      // nothing listens on port 1
      intercept[Exception](read(1).collect())
      assert(read(1, "ignore-failures" -> "true").count() == 0)
    }
  }

  test("unknown zone fails even with one good zone, unless ignored") {
    withServer { wire =>
      wire.backing.addZone("example.acme.", Seq(ARecord("x.example.acme.", "10.0.0.1")))
      val opts = Map("server" -> wire.host, "port" -> wire.port.toString, "organization" -> "o",
        "zones" -> "example.acme,ghost.zone", "xfr" -> "AXFR")
      intercept[Exception](spark.read.format("dns").options(opts).load().collect())
      val ok = spark.read.format("dns").options(opts + ("ignore-failures" -> "true")).load()
      assert(ok.count() == 1)
    }
  }

  test("metadata columns report the transfer kind that actually ran, per zone") {
    withServer { wire =>
      val srv = seeded(wire)
      srv.update("example.acme.",
        Seq(ARecord("new.example.acme.", "10.1.0.9")), Nil)
      // IXFR from serial 1: example.acme. (serial 2) serves a true IXFR;
      // another.zone. is still at serial 1 → empty IXFR (no rows). The
      // _xfr_kind metadata column carries the runtime kind, and _serial
      // the final SOA serial the transfer reported.
      val df = read(wire.port, "serial" -> "1")
        .select(col("zone"), col("fqdn"), col("_serial"), col("_xfr_kind"))
      val rows = df.collect().map(r =>
        (r.getString(0), r.getString(1), r.getLong(2), r.getString(3)))
      assert(rows.toSet == Set(("example.acme.", "new.example.acme.", 2L, "IXFR")))
      // serial 0 ⇒ AXFR protocol rule: the same read reports AXFR ran
      val kinds = read(wire.port, "serial" -> "0")
        .select(col("zone"), col("_serial"), col("_xfr_kind")).distinct()
        .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
      assert(kinds == Set(("example.acme.", 2L, "AXFR"), ("another.zone.", 1L, "AXFR")))
    }
  }

  test("estimated-zone-bytes feeds the reported scan statistics") {
    withServer { wire =>
      seeded(wire)
      val df = read(wire.port, "xfr" -> "AXFR", "estimated-zone-bytes" -> "1024")
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
      val pruned = read(wire.port, "xfr" -> "AXFR", "estimated-zone-bytes" -> "1024")
        .filter(col("zone") === "example.acme.")
      val pv2 = pruned.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r
      }
      assert(pv2.head.stats.sizeInBytes == BigInt(1024), pv2.head.stats.toString)
    }
  }

  test("SQL DDL: CREATE TABLE USING dns + SELECT") {
    withServer { wire =>
      seeded(wire)
      spark.sql("DROP TABLE IF EXISTS dns_sql_test")
      spark.sql(
        s"""CREATE TABLE dns_sql_test USING dns OPTIONS (
          | server '${wire.host}', port '${wire.port}', organization 'acme',
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
  }

  test("32 zones transfer in parallel, one partition per core") {
    withServer { wire =>
      val srv = wire.backing
      (0 until 32).foreach { z =>
        srv.addZone(s"z$z.many.", (0 to z).map(i => ARecord(s"h$i.z$z.many.", s"10.$z.0.$i")))
      }
      val df = spark.read.format("dns")
        .option("server", wire.host).option("port", wire.port.toString)
        .option("organization", "o")
        .option("zones", (0 until 32).map(z => s"z$z.many").mkString(","))
        .option("xfr", "AXFR").load()
      assert(df.rdd.getNumPartitions == 4) // 32 zones packed on local[4]
      assert(df.count() == (1 to 32).sum) // zone z holds z+1 records
    }
  }

  test("zone equality filter prunes partitions (skips whole zone transfers)") {
    withServer { wire =>
      seeded(wire)
      val df = read(wire.port, "xfr" -> "AXFR").filter(col("zone") === "example.acme.")
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
  }

  test("TopN pushes down: partial on multi-zone, complete (with OFFSET) on single zone") {
    withServer { wire =>
      seeded(wire)
      // multi-zone: PARTIAL — each partition ships its own top 3 and
      // Spark's TakeOrdered merges 6 candidates, not the estate
      val multi = read(wire.port, "xfr" -> "AXFR")
        .select("fqdn", "ip").orderBy(col("fqdn").desc).limit(3)
      val mp = multi.queryExecution.executedPlan.toString
      assert(mp.contains("PushedTopN=[ORDER BY fqdn DESC LIMIT 3]"), mp)
      assert(mp.contains("TakeOrdered"), s"partial contract keeps Spark's merge:\n$mp")
      assert(multi.collect().map(_.getString(0)).toSeq ==
        Seq("red.example.acme.", "green.example.acme.", "blue.example.acme."))
      // multi-zone OFFSET is refused (a per-partition skip is not the
      // global skip), so Spark keeps the offset in its own plan
      val moff = read(wire.port, "xfr" -> "AXFR")
        .select("fqdn").orderBy("fqdn").offset(1).limit(2)
      val mop = moff.queryExecution.executedPlan.toString
      assert(!mop.contains("PushedOffset"), mop)
      assert(moff.collect().map(_.getString(0)).toSeq ==
        Seq("b.another.zone.", "blue.example.acme."))
      // single zone: COMPLETE — sort/limit/offset all consumed by the
      // scan (LIMIT 2 OFFSET 1 arrives as topN(3) + offset(1)); no sort
      // node remains above it
      val one = read(wire.port, "xfr" -> "AXFR")
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
      val pruned = read(wire.port, "xfr" -> "AXFR")
        .filter(col("zone") === "example.acme.")
        .orderBy("fqdn").limit(2).select("ip")
      val pp = pruned.queryExecution.executedPlan.toString
      assert(pp.contains("PushedTopN=[ORDER BY fqdn ASC LIMIT 2]"), pp)
      assert(pp.contains("columns=[ip]"), s"sort column must not widen the output schema:\n$pp")
      assert(pruned.collect().map(_.getString(0)).toSeq == Seq("10.1.0.3", "10.1.0.2"))
      // TopN refuses under a pushed COUNT, exactly like LIMIT
      val aggTop = read(wire.port, "xfr" -> "AXFR")
        .groupBy(col("zone")).agg(org.apache.spark.sql.functions.expr("count(*)").as("n"))
        .orderBy("zone").limit(1)
      val ap = aggTop.queryExecution.executedPlan.toString
      assert(ap.contains("PushedAggregation") && !ap.contains("PushedTopN"), ap)
      assert(aggTop.collect().map(_.getString(0)).toSeq == Seq("another.zone."))
    }
  }

  test("runtime filtering: a zone-dim join prunes transfers via dynamic partition pruning") {
    withServer { wire =>
      import spark.implicits._
      val srv = wire.backing
      (0 to 3).foreach { z =>
        srv.addZone(s"z$z.rtp.", (0 to z).map(i => ARecord(s"h$i.z$z.rtp.", s"10.$z.0.$i")))
      }
      // Dim must be a file scan: a local relation's filter constant-folds
      // away before the DPP rule looks for a selective predicate.
      val dimPath = java.nio.file.Files.createTempDirectory("rtp_dim").toString
      Seq(("z1.rtp.", 1), ("z3.rtp.", 1), ("z0.rtp.", 0)).toDF("zone", "wanted")
        .coalesce(1).write.mode("overwrite").parquet(dimPath)
      val dns = spark.read.format("dns")
        .option("server", wire.host).option("port", wire.port.toString)
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
  }

  test("zone IN filter prunes to the named zones; non-listed zone yields 0 rows") {
    withServer { wire =>
      seeded(wire)
      val in = read(wire.port, "xfr" -> "AXFR")
        .filter(col("zone").isin("example.acme.", "ghost.zone."))
      assert(in.rdd.getNumPartitions == 1)
      assert(in.count() == 3)
      val none = read(wire.port, "xfr" -> "AXFR").filter(col("zone") === "nope.")
      assert(none.count() == 0)
    }
  }

  test("unnormalized zone filter value matches nothing (exact semantics kept)") {
    withServer { wire =>
      seeded(wire)
      // rows carry 'example.acme.' — filtering on the dotless form finds
      // no rows, with or without pushdown
      assert(read(wire.port, "xfr" -> "AXFR").filter(col("zone") === "example.acme").count() == 0)
    }
  }

  test("column pruning narrows the scan to the selected fields") {
    withServer { wire =>
      seeded(wire)
      val df = read(wire.port, "xfr" -> "AXFR").select("fqdn", "ip")
      val scan = df.queryExecution.executedPlan.toString
      assert(scan.contains("columns=[fqdn,ip]"), scan)
      assert(df.collect().length == 5)
      // column order requested in reverse still resolves correctly
      val rev = read(wire.port, "xfr" -> "AXFR").select("zone", "fqdn")
        .filter(col("fqdn") === "red.example.acme.").collect()
      assert(rev.map(r => (r.getString(0), r.getString(1))).toSeq
        == Seq(("example.acme.", "red.example.acme.")))
    }
  }

  test("COUNT(*) GROUP BY zone pushes down COMPLETELY: no aggregate node survives") {
    withServer { wire =>
      seeded(wire)
      val df = read(wire.port, "xfr" -> "AXFR")
        .groupBy(col("zone")).agg(org.apache.spark.sql.functions.expr("count(*)").as("n"))
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("PushedAggregation=[COUNT(*) GROUP BY zone]"), plan)
      assert(!plan.contains("HashAggregate") && !plan.contains("SortAggregate"),
        s"complete pushdown must leave no aggregate node:\n$plan")
      assert(df.collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq
        == Seq(("another.zone.", 2L), ("example.acme.", 3L)))
    }
  }

  test("global COUNT(*) pushes down PARTIALLY: scan ships per-zone counts, Spark sums") {
    withServer { wire =>
      seeded(wire)
      val df = read(wire.port, "xfr" -> "AXFR")
        .agg(org.apache.spark.sql.functions.expr("count(*)").as("n"))
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("PushedAggregation=[COUNT(*)]"), plan)
      assert(plan.contains("Aggregate"), s"partial pushdown keeps the final sum:\n$plan")
      assert(df.collect().head.getLong(0) == 5L)
    }
  }

  test("aggregate pushdown refuses unsupported shapes and the row path answers") {
    withServer { wire =>
      seeded(wire)
      // grouping by a non-zone column: partition != group, so no pushdown
      val byFqdn = read(wire.port, "xfr" -> "AXFR")
        .groupBy(col("fqdn")).agg(org.apache.spark.sql.functions.expr("count(*)").as("n"))
      val plan = byFqdn.queryExecution.executedPlan.toString
      assert(!plan.contains("PushedAggregation"), plan)
      assert(plan.contains("HashAggregate") || plan.contains("SortAggregate"), plan)
      assert(byFqdn.collect().length == 5)
      // non-count aggregate: same refusal
      val maxTs = read(wire.port, "xfr" -> "AXFR")
        .groupBy(col("zone")).agg(org.apache.spark.sql.functions.max("fqdn").as("m"))
      assert(!maxTs.queryExecution.executedPlan.toString.contains("PushedAggregation"))
      assert(maxTs.collect().length == 2)
    }
  }

  test("pushed count composes with zone-filter pushdown (pruned THEN counted)") {
    withServer { wire =>
      seeded(wire)
      val df = read(wire.port, "xfr" -> "AXFR")
        .filter(col("zone") === "example.acme.")
        .groupBy(col("zone")).agg(org.apache.spark.sql.functions.expr("count(*)").as("n"))
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("PushedAggregation=[COUNT(*) GROUP BY zone]"), plan)
      assert(plan.contains("zones=example.acme."), s"static prune must precede the count:\n$plan")
      assert(df.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
        == Seq(("example.acme.", 3L)))
    }
  }

  test("LIMIT pushes down partially; refused under a pushed aggregate") {
    withServer { wire =>
      seeded(wire)
      val lim = read(wire.port, "xfr" -> "AXFR").limit(3)
      val plan = lim.queryExecution.executedPlan.toString
      assert(plan.contains("PushedLimit=LIMIT 3"), plan)
      assert(plan.contains("Limit"), s"partial contract keeps Spark's global limit:\n$plan")
      assert(lim.collect().length == 3)
      // limit ABOVE a pushed count must not reach the reader: a LIMIT
      // under the COUNT would change the count
      val aggThenLimit = read(wire.port, "xfr" -> "AXFR")
        .groupBy(col("zone")).agg(org.apache.spark.sql.functions.expr("count(*)").as("n"))
        .limit(1)
      val p2 = aggThenLimit.queryExecution.executedPlan.toString
      assert(p2.contains("PushedAggregation") && !p2.contains("PushedLimit"), p2)
      assert(aggThenLimit.collect().length == 1)
    }
  }

  test("typed Dataset[DnsRecordChange] view over the connector read") {
    withServer { wire =>
      seeded(wire)
      import spark.implicits._
      val ds = read(wire.port, "xfr" -> "AXFR").as[DnsRecordChange]
      val recs = ds.filter(_.zone == "another.zone.").collect()
      assert(recs.length == 2)
      assert(recs.forall(r => r.action == DnsAction.Axfr && r.organization == "acme"))
      assert(recs.map(_.fqdn).sorted.toSeq == Seq("a.another.zone.", "b.another.zone."))
      assert(recs.head.timestamp.getTime == 1723400000000L)
    }
  }

  test("user-supplied schema that differs from the contract is rejected") {
    withServer { wire =>
      seeded(wire)
      intercept[Exception] {
        spark.read.format("dns").schema("a STRING, b INT")
          .option("server", wire.host).option("port", wire.port.toString)
          .option("organization", "o").option("zones", "example.acme")
          .load().collect()
      }
    }
  }
}
