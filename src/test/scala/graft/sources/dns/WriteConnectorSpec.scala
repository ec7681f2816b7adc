package graft.sources.dns

import java.nio.file.Files
import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Write path end-to-end through df.write.format("dns_update"):
  * validation, normalization, zone grouping, LWW dedup, emission —
  * with the DNS server itself as the oracle (the reference's pattern,
  * DnsSinkRelationProviderTest.java:96-197). */
class WriteConnectorSpec extends AnyFunSuite {
  import Loopback.withServer
  private lazy val spark = graft.SparkTestSession.spark

  private def fresh(wire: WireDnsServer, zones: String*): InMemoryDnsServer = {
    val srv = wire.backing
    zones.foreach(z => srv.addZone(z, Nil))
    srv
  }

  /** The reference generates its update DF from spark.range + column
    * expressions (DnsSinkRelationProviderTest.java:199-209); same here. */
  private def updatesDf(n: Int) = {
    import spark.implicits._
    spark.range(n).select(
      when($"id" % 10 === 0, DnsAction.IxfrDelete).otherwise(DnsAction.IxfrAdd).as("action"),
      concat(lit("host"), $"id", lit(".example.acme")).as("fqdn"),
      concat(lit("10.0."), ($"id" % 256).cast("string"), lit("."), (($"id" + 1) % 256).cast("string")).as("ip"),
      timestamp_micros(lit(1723400000000000L) + $"id").as("timestamp"),
      lit(3600).cast("int").as("ttl"))
  }

  test("batch save: adds resolve, deletes do not (server as oracle)") {
    withServer { wire =>
      val srv = fresh(wire, "example.acme.")
      updatesDf(10).write.format("dns_update")
        .option("server", wire.host).option("port", wire.port.toString).mode("append").save()
      // id 0 was a delete of a nonexistent record → absent; 1-9 added
      assert(srv.lookup("host0.example.acme.").isEmpty)
      (1 to 9).foreach { i =>
        assert(srv.lookup(s"host$i.example.acme.") == Seq(s"10.0.$i.${i + 1}"), s"host$i")
      }
      assert(srv.serialOf("example.acme.") >= 1)
    }
  }

  test("SaveMode.Overwrite wipes the zone and lands the new content atomically") {
    withServer { wire =>
      // the reference ignores the overwrite flag (DnsSinkRelation.java:33-42,
      // silently appends); this build maps it to a zone-scoped wipe+add in
      // ONE RFC 2136 message — serial advances by exactly 1 per overwrite.
      val srv = fresh(wire, "ow.test.")
      import spark.implicits._
      def save(host: String, ip: String) =
        Seq((DnsAction.IxfrAdd, host, ip, new Timestamp(1L), 60))
          .toDF("action", "fqdn", "ip", "timestamp", "ttl")
          .write.format("dns_update").option("server", wire.host).option("port", wire.port.toString)
          .mode("overwrite").save()
      val serial0 = srv.serialOf("ow.test.")
      save("a.ow.test", "1.1.1.1")
      save("b.ow.test", "2.2.2.2")
      // the second overwrite REPLACED the zone's content
      assert(srv.lookup("a.ow.test.").isEmpty)
      assert(srv.lookup("b.ow.test.") == Seq("2.2.2.2"))
      // one atomic message per overwrite: wipe+add share a serial bump
      assert(srv.serialOf("ow.test.") == serial0 + 2)
    }
  }

  test("overwrite only wipes zones the input touches; re-added names survive the wipe") {
    withServer { wire =>
      val srv = fresh(wire, "owa.test.", "owb.test.")
      srv.update("owa.test.", adds = Seq(ARecord("keepname.owa.test.", "9.9.9.9"),
        ARecord("gone.owa.test.", "8.8.8.8")), deletes = Nil)
      srv.update("owb.test.", adds = Seq(ARecord("other.owb.test.", "7.7.7.7")), deletes = Nil)
      import spark.implicits._
      Seq((DnsAction.IxfrAdd, "keepname.owa.test", "9.9.9.10", new Timestamp(1L), 60))
        .toDF("action", "fqdn", "ip", "timestamp", "ttl")
        .write.format("dns_update").option("server", wire.host).option("port", wire.port.toString)
        .mode("overwrite").save()
      // owa: wiped then refilled — the re-added name holds ONLY the new ip
      assert(srv.lookup("keepname.owa.test.") == Seq("9.9.9.10"))
      assert(srv.lookup("gone.owa.test.").isEmpty)
      // owb untouched (no rows targeted it)
      assert(srv.lookup("other.owb.test.") == Seq("7.7.7.7"))
    }
  }

  test("SQL INSERT OVERWRITE reaches the same truncate path") {
    withServer { wire =>
      val srv = fresh(wire, "owsql.test.")
      srv.update("owsql.test.", adds = Seq(ARecord("old.owsql.test.", "1.2.3.4")), deletes = Nil)
      spark.sql("DROP TABLE IF EXISTS graft_dns_ow_5518")
      spark.sql(
        s"""CREATE TABLE graft_dns_ow_5518 USING dns_update
          |OPTIONS (server '${wire.host}', port '${wire.port}')""".stripMargin)
      spark.sql(
        """INSERT OVERWRITE graft_dns_ow_5518
          |SELECT 'IXFR_ADD' AS action, 'new.owsql.test' AS fqdn, '4.3.2.1' AS ip,
          |  timestamp_micros(1723400000000000) AS timestamp, 60 AS ttl""".stripMargin)
      assert(srv.lookup("old.owsql.test.").isEmpty)
      assert(srv.lookup("new.owsql.test.") == Seq("4.3.2.1"))
    }
  }

  test("overwrite input with delete rows is rejected loudly") {
    withServer { wire =>
      fresh(wire, "owdel.test.")
      import spark.implicits._
      val e = intercept[Exception] {
        Seq((DnsAction.IxfrDelete, "x.owdel.test", "1.1.1.1", new Timestamp(1L), 60))
          .toDF("action", "fqdn", "ip", "timestamp", "ttl")
          .write.format("dns_update").option("server", wire.host).option("port", wire.port.toString)
          .mode("overwrite").save()
      }
      assert(e.getMessage != null)
    }
  }

  test("overwrite over the wire client: §2.5.2 delete-RRset RRs + adds in one message") {
    withServer { wire =>
      wire.backing.addZone("oww.test.", Seq(ARecord("seed0.oww.test.", "10.1.1.1"),
        ARecord("seed1.oww.test.", "10.1.1.2")))
      import spark.implicits._
      Seq((DnsAction.IxfrAdd, "fresh.oww.test", "10.2.2.2", new Timestamp(1L), 60))
        .toDF("action", "fqdn", "ip", "timestamp", "ttl")
        .write.format("dns_update")
        .option("server", wire.host).option("port", wire.port.toString)
        .mode("overwrite").save()
      assert(wire.backing.lookup("seed0.oww.test.").isEmpty)
      assert(wire.backing.lookup("seed1.oww.test.").isEmpty)
      assert(wire.backing.lookup("fresh.oww.test.") == Seq("10.2.2.2"))
      // wipe + adds shared one message: serial went 1 (seed) -> 2
      assert(wire.backing.serialOf("oww.test.") == 2L)
    }
  }

  test("a 5,000-change append to one zone goes as frame-sized messages; AXFR reads back the LWW model") {
    // One task holds every change of one zone, too many for one 65,535-
    // byte RFC 2136 message. Ids 0-2999 add h0..h2999; ids 3000-4999
    // delete h0..h1999 again. Dedup keeps all 5,000 (action is part of
    // the identity), so the deletes must land after their adds across
    // message boundaries — sent out of order, h0..h1999 would survive.
    withServer { wire =>
      val srv = fresh(wire, "big.test.")
      import spark.implicits._
      val changes = (0 until 5000).map { id =>
        val i = id % 3000
        (if (id < 3000) DnsAction.IxfrAdd else DnsAction.IxfrDelete,
          s"h$i.big.test.", s"10.7.${i / 250}.${i % 250}", id.toLong)
      }
      changes.map { case (a, f, ip, ts) => (a, f, ip, new Timestamp(ts), 60) }
        .toDF("action", "fqdn", "ip", "timestamp", "ttl")
        .coalesce(1)
        .write.format("dns_update")
        .option("server", wire.host).option("port", wire.port.toString)
        .mode("append").save()
      // the LWW model: per (fqdn, ip), the latest change decides
      val model = changes.groupBy { case (_, f, ip, _) => (f, ip) }
        .collect { case (rec, cs) if cs.maxBy(_._4)._1 == DnsAction.IxfrAdd => rec }.toSet
      assert(model.size == 1000)
      val back = spark.read.format("dns")
        .option("server", wire.host).option("port", wire.port.toString)
        .option("organization", "o").option("zones", "big.test")
        .option("xfr", "AXFR").load()
        .select("fqdn", "ip").collect().map(r => (r.getString(0), r.getString(1))).toSet
      assert(back == model)
      // three frame-sized messages reached the zone, one serial bump
      // each: the bound charges an A record its 4 rdata bytes, so a
      // frame holds about 2,100 of these changes
      assert(srv.serialOf("big.test.") == 4)
    }
  }

  test("a task's append is all-or-nothing: an unencodable zone fails it before any zone is sent") {
    // A label of 64 bytes or more fails DnsValidation as long_label,
    // the limit the encoder enforces. Zone A's rows come first in the
    // task, so a write that sent zone after zone would apply A, then fail.
    withServer { wire =>
      val srv = fresh(wire, "lbl-a.test.", "lbl-b.test.")
      import spark.implicits._
      val e = intercept[Exception] {
        Seq(
          (DnsAction.IxfrAdd, "h1.lbl-a.test", "1.1.1.1", new Timestamp(1L), 60),
          (DnsAction.IxfrAdd, "h2.lbl-a.test", "1.1.1.2", new Timestamp(2L), 60),
          (DnsAction.IxfrAdd, s"${"x" * 64}.lbl-b.test", "2.2.2.2", new Timestamp(3L), 60))
          .toDF("action", "fqdn", "ip", "timestamp", "ttl")
          .coalesce(1)
          .write.format("dns_update").option("server", wire.host).option("port", wire.port.toString)
          .mode("append").save()
      }
      val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
      assert(chain.exists(t => t.getMessage != null && t.getMessage.contains("long_label")), e)
      assert(srv.serialOf("lbl-a.test.") == 1, "zone A was applied before zone B failed")
      assert(srv.lookup("h1.lbl-a.test.").isEmpty)
      assert(wire.connectionCount == 0)
    }
  }

  test("rows route to the zone derived from each fqdn") {
    withServer { wire =>
      val srv = fresh(wire, "zone-a.test.", "zone-b.test.")
      import spark.implicits._
      Seq(
        (DnsAction.IxfrAdd, "h1.zone-a.test", "1.1.1.1", new Timestamp(1000L), 60),
        (DnsAction.IxfrAdd, "h2.zone-b.test", "2.2.2.2", new Timestamp(1000L), 60))
        .toDF("action", "fqdn", "ip", "timestamp", "ttl")
        .write.format("dns_update").option("server", wire.host).option("port", wire.port.toString)
        .mode("append").save()
      assert(srv.lookup("h1.zone-a.test.") == Seq("1.1.1.1"))
      assert(srv.lookup("h2.zone-b.test.") == Seq("2.2.2.2"))
      assert(srv.serialOf("zone-a.test.") == 2 && srv.serialOf("zone-b.test.") == 2)
    }
  }

  test("LWW dedup: latest timestamp wins for the same record identity") {
    withServer { wire =>
      val srv = fresh(wire, "z.test.")
      import spark.implicits._
      // Same (fqdn, ip): ADD at t=1000 and t=5000, DELETE at t=3000.
      // Dedup keeps ADD@5000 and DELETE@3000 (action is part of the key —
      // SURVEY §2.3.5); chronological apply: DELETE@3000 then ADD@5000 →
      // the record ends PRESENT.
      Seq(
        (DnsAction.IxfrAdd, "h.z.test", "9.9.9.9", new Timestamp(1L), 60),
        (DnsAction.IxfrDelete, "h.z.test", "9.9.9.9", new Timestamp(3L), 60),
        (DnsAction.IxfrAdd, "h.z.test", "9.9.9.9", new Timestamp(5L), 60))
        .toDF("action", "fqdn", "ip", "timestamp", "ttl")
        .coalesce(1) // one task → one message, forcing the dedup path
        .write.format("dns_update").option("server", wire.host).option("port", wire.port.toString)
        .mode("append").save()
      assert(srv.lookup("h.z.test.") == Seq("9.9.9.9"))
      // one task × one zone = ONE update message = one serial bump
      assert(srv.serialOf("z.test.") == 2)
    }
  }

  test("AXFR action writes like IXFR_ADD; column order is by-name") {
    withServer { wire =>
      val srv = fresh(wire, "z.test.")
      import spark.implicits._
      // shuffled column order + an extra column, both must be tolerated
      Seq(("ignored", new Timestamp(1L), "3.3.3.3", DnsAction.Axfr, "ax.z.test", 60))
        .toDF("extra", "timestamp", "ip", "action", "fqdn", "ttl")
        .write.format("dns_update").option("server", wire.host).option("port", wire.port.toString)
        .mode("append").save()
      assert(srv.lookup("ax.z.test.") == Seq("3.3.3.3"))
    }
  }

  test("validation rejects: bad ttl, empty fqdn, null ip, bad action") {
    withServer { wire =>
      fresh(wire, "z.test.")
      import spark.implicits._
      def attempt(action: String, fqdn: String, ip: String, ttl: Int) =
        intercept[Exception] {
          Seq((action, fqdn, ip, new Timestamp(1L), ttl))
            .toDF("action", "fqdn", "ip", "timestamp", "ttl")
            .write.format("dns_update").option("server", wire.host).option("port", wire.port.toString)
            .mode("append").save()
        }
      attempt(DnsAction.IxfrAdd, "h.z.test", "1.1.1.1", 0)
      attempt(DnsAction.IxfrAdd, " ", "1.1.1.1", 60)
      attempt("SOMETHING", "h.z.test", "1.1.1.1", 60)
      val e = intercept[Exception] {
        Seq((null.asInstanceOf[String], "h.z.test", "1.1.1.1", new Timestamp(1L), 60))
          .toDF("action", "fqdn", "ip", "timestamp", "ttl")
          .write.format("dns_update").option("server", wire.host).option("port", wire.port.toString)
          .mode("append").save()
      }
      assert(e != null)
    }
  }

  test("failed task sends nothing: validation failure leaves zones untouched") {
    withServer { wire =>
      val srv = fresh(wire, "z.test.")
      import spark.implicits._
      // first row valid, second row poisons the task AFTER buffering —
      // since all network I/O happens in commit(), nothing reaches the server
      intercept[Exception] {
        Seq(
          (DnsAction.IxfrAdd, "ok.z.test", "1.1.1.1", new Timestamp(1L), 60),
          (DnsAction.IxfrAdd, "bad.z.test", "2.2.2.2", new Timestamp(2L), 0))
          .toDF("action", "fqdn", "ip", "timestamp", "ttl")
          .coalesce(1)
          .write.format("dns_update").option("server", wire.host).option("port", wire.port.toString)
          .mode("append").save()
      }
      assert(srv.lookup("ok.z.test.").isEmpty, "partial update escaped an aborted task")
      assert(srv.serialOf("z.test.") == 1)
    }
  }

  test("missing required column is rejected with a clear error") {
    withServer { wire =>
      fresh(wire, "z.test.")
      import spark.implicits._
      val e = intercept[Exception] {
        Seq(("a.z.test", "1.1.1.1")).toDF("fqdn", "ip")
          .write.format("dns_update").option("server", wire.host).option("port", wire.port.toString)
          .mode("append").save()
      }
      assert(e.getMessage != null)
    }
  }

  test("wrong-typed column is rejected at planning, not misread") {
    withServer { wire =>
      fresh(wire, "z.test.")
      import spark.implicits._
      // 'ttl' as string and 'timestamp' as long would be silently misread
      // through the raw InternalRow getters under ACCEPT_ANY_SCHEMA
      val e = intercept[Exception] {
        Seq((DnsAction.IxfrAdd, "h.z.test", "1.1.1.1", 1000L, "60"))
          .toDF("action", "fqdn", "ip", "timestamp", "ttl")
          .write.format("dns_update").option("server", wire.host).option("port", wire.port.toString)
          .mode("append").save()
      }
      def root(t: Throwable): Throwable = if (t.getCause == null) t else root(t.getCause)
      assert(root(e).getMessage.contains("must be"))
    }
  }

  test("sink timeout=0 fails the write; nothing lands (failure matrix)") {
    withServer { wire =>
      val srv = fresh(wire, "z.test.")
      import spark.implicits._
      intercept[Exception] {
        Seq((DnsAction.IxfrAdd, "h.z.test", "1.1.1.1", new Timestamp(1L), 60))
          .toDF("action", "fqdn", "ip", "timestamp", "ttl")
          .write.format("dns_update").option("server", wire.host).option("port", wire.port.toString)
          .option("timeout", "0").mode("append").save()
      }
      assert(srv.lookup("h.z.test.").isEmpty)
      assert(srv.serialOf("z.test.") == 1)
    }
  }

  test("update to an unknown zone fails the job (rcode != 0 contract)") {
    withServer { wire =>
      fresh(wire, "z.test.")
      import spark.implicits._
      intercept[Exception] {
        Seq((DnsAction.IxfrAdd, "h.ghost.zone", "1.1.1.1", new Timestamp(1L), 60))
          .toDF("action", "fqdn", "ip", "timestamp", "ttl")
          .write.format("dns_update").option("server", wire.host).option("port", wire.port.toString)
          .mode("append").save()
      }
    }
  }

  test("SQL: CREATE TABLE USING dns_update + INSERT INTO") {
    withServer { wire =>
      val srv = fresh(wire, "sqlzone.test.")
      spark.sql("DROP TABLE IF EXISTS dns_out")
      spark.sql(
        s"""CREATE TABLE dns_out USING dns_update
          |OPTIONS (server '${wire.host}', port '${wire.port}')""".stripMargin)
      spark.sql(
        """INSERT INTO dns_out
          |SELECT 'IXFR_ADD' AS action, 'sql.sqlzone.test' AS fqdn,
          |       '7.7.7.7' AS ip, timestamp_micros(1000) AS timestamp,
          |       CAST(60 AS INT) AS ttl""".stripMargin)
      assert(srv.lookup("sql.sqlzone.test.") == Seq("7.7.7.7"))
      spark.sql("DROP TABLE dns_out")
    }
  }

  test("SQL DELETE: name-wide and record-precise deletes land as one message each") {
    withServer { wire =>
      val srv = fresh(wire, "delzone.test.")
      srv.update("delzone.test.", Seq(
        ARecord("a.delzone.test.", "1.1.1.1"), ARecord("a.delzone.test.", "1.1.1.2"),
        ARecord("b.delzone.test.", "2.2.2.2"), ARecord("c.delzone.test.", "3.3.3.3")), Nil)
      spark.sql("DROP TABLE IF EXISTS dns_del")
      spark.sql(
        s"""CREATE TABLE dns_del USING dns_update
          |OPTIONS (server '${wire.host}', port '${wire.port}')""".stripMargin)
      // record-precise: only one of a's two records goes
      spark.sql("DELETE FROM dns_del WHERE fqdn = 'a.delzone.test' AND ip = '1.1.1.2'")
      assert(srv.lookup("a.delzone.test.") == Seq("1.1.1.1"))
      // name-wide, multi-name IN: all records of b and c go; one message
      val serialBefore = srv.serialOf("delzone.test.")
      spark.sql("DELETE FROM dns_del WHERE fqdn IN ('b.delzone.test', 'c.delzone.test')")
      assert(srv.lookup("b.delzone.test.").isEmpty && srv.lookup("c.delzone.test.").isEmpty)
      assert(srv.serialOf("delzone.test.") == serialBefore + 1, "one atomic message per statement x zone")
      // a no-match delete sends nothing (no empty update message)
      val serialAfter = srv.serialOf("delzone.test.")
      spark.sql("DELETE FROM dns_del WHERE fqdn = 'ghost.delzone.test'")
      assert(srv.serialOf("delzone.test.") == serialAfter)
      spark.sql("DROP TABLE dns_del")
    }
  }

  test("SQL DELETE over three zones: one snapshot and one update connection") {
    withServer { wire =>
      val zones = (0 to 2).map(i => s"dz$i.test.")
      val srv = fresh(wire, zones: _*)
      zones.foreach(z => srv.update(z, Seq(ARecord(s"a.$z", "1.1.1.1"), ARecord(s"b.$z", "1.1.1.2")), Nil))
      spark.sql("DROP TABLE IF EXISTS dns_del3")
      spark.sql(
        s"""CREATE TABLE dns_del3 USING dns_update
          |OPTIONS (server '${wire.host}', port '${wire.port}')""".stripMargin)
      val before = wire.connectionCount
      spark.sql(s"DELETE FROM dns_del3 WHERE fqdn IN (${zones.map(z => s"'a.${z.dropRight(1)}'").mkString(", ")})")
      // the driver's transfer client and emitter each open one
      // connection for all three zones
      assert(wire.connectionCount - before == 2)
      zones.foreach { z =>
        assert(srv.lookup(s"a.$z").isEmpty && srv.lookup(s"b.$z") == Seq("1.1.1.2"), z)
        assert(srv.serialOf(z) == 3, z)
      }
      spark.sql("DROP TABLE dns_del3")
    }
  }

  test("SQL DELETE without an fqdn constraint is rejected; SELECT fails fast with the pointer") {
    withServer { wire =>
      fresh(wire, "delzone2.test.")
      spark.sql("DROP TABLE IF EXISTS dns_del2")
      spark.sql(
        s"""CREATE TABLE dns_del2 USING dns_update
          |OPTIONS (server '${wire.host}', port '${wire.port}')""".stripMargin)
      // ip-only predicate cannot bound the zone set -> canDeleteWhere false
      val e1 = intercept[Exception](spark.sql("DELETE FROM dns_del2 WHERE ip = '1.2.3.4'"))
      assert(e1.getMessage != null)
      // the sink is write/delete-only: reading it errors with the pointer
      val e2 = intercept[Exception](spark.sql("SELECT * FROM dns_del2").collect())
      assert(e2.getMessage.contains("write/delete-only"), e2.getMessage)
      spark.sql("DROP TABLE dns_del2")
    }
  }

  test("streaming: native dns_update sink via writeStream") {
    withServer { wire =>
      val srv = fresh(wire, "stream.test.")
      val src = Files.createTempDirectory("dns-sink-src")
      // feed rows through a file stream so the write truly runs as a stream
      updatesDf(5).write.mode("overwrite").parquet(src.toString + "/data")
      val sdf = spark.readStream.schema(DnsSchemas.write)
        .parquet(src.toString + "/data")
        .withColumn("fqdn", regexp_replace(col("fqdn"), "example\\.acme", "stream.test"))
      val q = sdf.writeStream.format("dns_update")
        .option("server", wire.host).option("port", wire.port.toString)
        .option("checkpointLocation", Files.createTempDirectory("dns-sink-ck").toString)
        .trigger(Trigger.Once())
        .start()
      q.awaitTermination(180000)
      (1 to 4).foreach { i =>
        assert(srv.lookup(s"host$i.stream.test.") == Seq(s"10.0.$i.${i + 1}"), s"host$i")
      }
    }
  }

  test("streaming: foreachBatch style also lands updates") {
    withServer { wire =>
      val srv = fresh(wire, "fb.test.")
      val src = Files.createTempDirectory("dns-fb-src")
      updatesDf(4).write.mode("overwrite").parquet(src.toString + "/data")
      val sdf = spark.readStream.schema(DnsSchemas.write).parquet(src.toString + "/data")
        .withColumn("fqdn", regexp_replace(col("fqdn"), "example\\.acme", "fb.test"))
      val q = sdf.writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          batch.write.format("dns_update")
            .option("server", wire.host).option("port", wire.port.toString).mode("append").save()
        }
        .option("checkpointLocation", Files.createTempDirectory("dns-fb-ck").toString)
        .trigger(Trigger.Once())
        .start()
      q.awaitTermination(180000)
      assert(srv.lookup("host1.fb.test.") == Seq("10.0.1.2"))
    }
  }

  test("repartitionByZone yields one update message per zone cluster-wide") {
    withServer { wire =>
      val srv = fresh(wire, "pz0.test.", "pz1.test.", "pz2.test.")
      import spark.implicits._
      val updates = spark.range(60).repartition(8).select(
        lit(DnsAction.IxfrAdd).as("action"),
        concat(lit("h"), $"id", lit(".pz"), ($"id" % 3), lit(".test")).as("fqdn"),
        concat(lit("10.1.0."), ($"id" % 250)).as("ip"),
        timestamp_micros(lit(1723400000000000L) + $"id").as("timestamp"),
        lit(60).cast("int").as("ttl"))
      graft.sources.dns.write.DnsWrites.repartitionByZone(updates)
        .write.format("dns_update")
        .option("server", wire.host).option("port", wire.port.toString).mode("append").save()
      // each zone saw exactly ONE RFC 2136 message (serial 1 → 2); without
      // the repartition, up to 8 tasks would each send one per zone
      (0 to 2).foreach { z =>
        assert(srv.serialOf(s"pz$z.test.") == 2, s"zone pz$z")
        assert(srv.lookup(s"h$z.pz$z.test.") == Seq(s"10.1.0.$z"))
      }
    }
  }

  /** `body` with the session confs `kv` set, restored after. */
  private def withConf[A](kv: (String, String)*)(body: => A): A = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("a 64-zone repartitionByZone append: 4 reduce tasks under AQE, one connection each") {
    import org.apache.spark.scheduler._
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    val group = "repartition-by-zone-write"
    // tasks per completed stage of the write's jobs, in completion order
    val stageTasks = new java.util.concurrent.ConcurrentLinkedQueue[Int]
    val groupStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val g = Option(j.properties).map(_.getProperty("spark.jobGroup.id")).orNull
        if (g == group) j.stageIds.foreach(groupStages.add)
        if (g == group + "-sentinel") drained.countDown()
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        if (groupStages.contains(s.stageInfo.stageId)) stageTasks.add(s.stageInfo.numTasks)
    }
    sc.addSparkListener(listener)
    try withServer { wire =>
      import spark.implicits._
      val zones = (0 until 64).map(i => s"cc$i.test.")
      val srv = fresh(wire, zones: _*)
      val updates = zones.flatMap(z => (1 to 5).map(i =>
        (DnsAction.IxfrAdd, s"h$i.$z", s"10.2.0.$i", new Timestamp(i.toLong), 60)))
        .toDF("action", "fqdn", "ip", "timestamp", "ttl")
      withConf("spark.sql.shuffle.partitions" -> "4", "spark.sql.adaptive.enabled" -> "true") {
        sc.setJobGroup(group, "repartitionByZone write")
        try graft.sources.dns.write.DnsWrites.repartitionByZone(updates)
          .write.format("dns_update")
          .option("server", wire.host).option("port", wire.port.toString).mode("append").save()
        finally sc.clearJobGroup()
      }
      // the listener bus delivers in order: once a later job's start is
      // seen, every event of the write has been
      sc.setJobGroup(group + "-sentinel", "listener drain")
      try spark.range(1).count() finally sc.clearJobGroup()
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS))
      // the map stage, then the write's reduce stage: 4 tasks, where a
      // by-column shuffle of this little data coalesces to 1
      assert(stageTasks.size == 2 && stageTasks.asScala.last == 4, stageTasks)
      // each task sends its zones on one connection; one connection per
      // zone would be 64
      assert(wire.connectionCount <= 4, s"${wire.connectionCount} connections")
      zones.foreach { z =>
        assert(srv.serialOf(z) == 2, z)
        assert(srv.lookup(s"h5.$z") == Seq("10.2.0.5"), z)
      }
    } finally sc.removeSparkListener(listener)
  }

  test("written changes round-trip through a dns read") {
    withServer { wire =>
      fresh(wire, "rt.test.")
      import spark.implicits._
      Seq(
        (DnsAction.IxfrAdd, "a.rt.test", "1.0.0.1", new Timestamp(1L), 60),
        (DnsAction.IxfrAdd, "b.rt.test", "1.0.0.2", new Timestamp(2L), 60))
        .toDF("action", "fqdn", "ip", "timestamp", "ttl")
        .write.format("dns_update").option("server", wire.host).option("port", wire.port.toString)
        .mode("append").save()
      val back = spark.read.format("dns")
        .option("server", wire.host).option("port", wire.port.toString)
        .option("organization", "o").option("zones", "rt.test")
        .option("xfr", "AXFR").load()
      assert(back.select("fqdn", "ip").collect().map(r => (r.getString(0), r.getString(1))).toSet
        == Set(("a.rt.test.", "1.0.0.1"), ("b.rt.test.", "1.0.0.2")))
    }
  }
}
