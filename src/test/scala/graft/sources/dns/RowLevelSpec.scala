package graft.sources.dns

import org.scalatest.funsuite.AnyFunSuite

/** SQL UPDATE / MERGE INTO through `SupportsRowLevelOperations`
  * (write/DnsRowLevel.scala) — server as oracle, like
  * WriteConnectorSpec. Groups are zones: every statement replaces each
  * configured zone with ONE atomic wipe+add message (serial advances
  * by exactly 1 per zone per statement). */
class RowLevelSpec extends AnyFunSuite {
  import Loopback.withServer
  private lazy val spark = graft.SparkTestSession.spark

  /** Catalog table aimed at the fixture server; `zones` names the
    * row-level groups. Port-suffixed like q_dns_sql_delete's table. */
  private def mkTable(wire: WireDnsServer, zones: String): String = {
    val tbl = s"graft_rl_${wire.port}"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(
      s"""CREATE TABLE $tbl USING dns_update
         |OPTIONS (server '${wire.host}', port '${wire.port}', zones '$zones',
         |  `fixed-timestamp-micros` '1723400000000000')""".stripMargin)
    tbl
  }

  test("q_dns_sql_delete and q_dns_merge leave no table in the catalog") {
    // tables only: q_dns_merge's changelog is a temp view
    def leftover = spark.catalog.listTables().collect().filterNot(_.isTemporary).map(_.name)
      .filter(n => n.startsWith("graft_dns_del_") || n.startsWith("graft_dns_merge_")).toSeq
    val before = leftover
    assert(graft.queries.Connector.qDnsSqlDelete(spark, "/unused").count() == 6)
    assert(graft.queries.Connector.qDnsMerge(spark, "/unused").count() == 15)
    assert(leftover == before, "a key left its table behind")
  }

  test("MERGE INTO: delete + update(ip) + insert, one message per zone") {
    withServer { wire =>
      val srv = wire.backing
      srv.addZone("m.rl.", Seq(
        ARecord("a.m.rl.", "10.0.0.1"),
        ARecord("b.m.rl.", "10.0.0.2"),
        ARecord("c.m.rl.", "10.0.0.3")))
      val tbl = mkTable(wire, "m.rl")
      val serial0 = srv.serialOf("m.rl.")
      spark.sql(
        """SELECT * FROM VALUES
          |  ('del', 'a.m.rl.', '10.0.0.1', CAST(NULL AS STRING)),
          |  ('upd', 'b.m.rl.', '10.0.0.2', '10.9.9.2'),
          |  ('add', 'd.m.rl.', '10.0.0.4', CAST(NULL AS STRING))
          |AS s(op, fqdn, ip, new_ip)""".stripMargin)
        .createOrReplaceTempView("rl_changes")
      spark.sql(
        s"""MERGE INTO $tbl t
           |USING rl_changes s
           |ON t.fqdn = s.fqdn AND t.ip = s.ip
           |WHEN MATCHED AND s.op = 'del' THEN DELETE
           |WHEN MATCHED AND s.op = 'upd' THEN UPDATE SET ip = s.new_ip
           |WHEN NOT MATCHED AND s.op = 'add' THEN INSERT
           |  (action, fqdn, ip, timestamp, ttl)
           |  VALUES ('IXFR_ADD', s.fqdn, s.ip, timestamp_micros(1723400000000001), 300)
           |""".stripMargin)
      assert(srv.lookup("a.m.rl.").isEmpty, "matched-delete row gone")
      assert(srv.lookup("b.m.rl.") == Seq("10.9.9.2"), "matched-update replaced ip")
      assert(srv.lookup("c.m.rl.") == Seq("10.0.0.3"), "unmatched row survives")
      assert(srv.lookup("d.m.rl.") == Seq("10.0.0.4"), "not-matched insert landed")
      assert(srv.serialOf("m.rl.") == serial0 + 1,
        "one atomic wipe+add message per zone per MERGE")
    }
  }

  test("UPDATE statement rewrites matching rows, group-replaces the zone") {
    withServer { wire =>
      val srv = wire.backing
      srv.addZone("u.rl.", Seq(
        ARecord("a.u.rl.", "10.1.0.1"),
        ARecord("b.u.rl.", "10.1.0.2")))
      val tbl = mkTable(wire, "u.rl")
      val serial0 = srv.serialOf("u.rl.")
      spark.sql(s"UPDATE $tbl SET ip = '10.1.9.1' WHERE fqdn = 'a.u.rl.'")
      assert(srv.lookup("a.u.rl.") == Seq("10.1.9.1"))
      assert(srv.lookup("b.u.rl.") == Seq("10.1.0.2"))
      assert(srv.serialOf("u.rl.") == serial0 + 1)
    }
  }

  test("UPDATE SET fqdn renames a record — and a cross-zone rename into an unscanned zone is rejected") {
    withServer { wire =>
      val srv = wire.backing
      srv.addZone("rn.rl.", Seq(
        ARecord("old.rn.rl.", "10.10.0.1"),
        ARecord("keep.rn.rl.", "10.10.0.2")))
      srv.addZone("other.rl.", Seq(ARecord("a.other.rl.", "10.10.1.1")))
      val tbl = mkTable(wire, "rn.rl")
      spark.sql(s"UPDATE $tbl SET fqdn = 'new.rn.rl.' WHERE fqdn = 'old.rn.rl.'")
      assert(srv.lookup("old.rn.rl.").isEmpty, "old name gone (group replace)")
      assert(srv.lookup("new.rn.rl.") == Seq("10.10.0.1"), "record carried its ip")
      assert(srv.lookup("keep.rn.rl.") == Seq("10.10.0.2"))
      // renaming INTO a zone outside the groups would silently append to
      // an unscanned zone — the stray-zone check must fire first
      val e = intercept[Exception] {
        spark.sql(s"UPDATE $tbl SET fqdn = 'new.other.rl.' WHERE fqdn = 'new.rn.rl.'")
      }
      def chain(t: Throwable): Seq[String] =
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10)
          .map(x => Option(x.getMessage).getOrElse("")).toSeq
      assert(chain(e).exists(_.contains("outside the table's zones option")),
        s"expected stray-zone rejection, got: ${chain(e).mkString(" | ")}")
      assert(srv.lookup("a.other.rl.") == Seq("10.10.1.1"), "unscanned zone untouched")
    }
  }

  test("non-pushable DELETE predicate takes the group path; empty group wipes") {
    withServer { wire =>
      val srv = wire.backing
      srv.addZone("g.rl.", Seq(
        ARecord("x1.g.rl.", "10.2.0.1"),
        ARecord("x2.g.rl.", "10.2.0.2")))
      val tbl = mkTable(wire, "g.rl")
      val serial0 = srv.serialOf("g.rl.")
      // LIKE is not a canDeleteWhere shape → group-based rewrite
      spark.sql(s"DELETE FROM $tbl WHERE fqdn LIKE 'x%'")
      assert(srv.lookup("x1.g.rl.").isEmpty && srv.lookup("x2.g.rl.").isEmpty)
      assert(srv.serialOf("g.rl.") == serial0 + 1,
        "all-rows-deleted group still wipes in one message")
    }
  }

  test("pushable DELETE on a zones-less table keeps the metadata path") {
    withServer { wire =>
      // q_dns_sql_delete's contract: SupportsRowLevelOperations must not
      // steal DELETEs that OptimizeMetadataOnlyDeleteFromTable can hand
      // back to deleteWhere — a zones-less table proves it (the group
      // scan would fail loudly).
      val srv = wire.backing
      srv.addZone("p.rl.", Seq(
        ARecord("a.p.rl.", "10.3.0.1"),
        ARecord("b.p.rl.", "10.3.0.2")))
      val tbl = s"graft_rl_nz_5604"
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      spark.sql(
        s"""CREATE TABLE $tbl USING dns_update
           |OPTIONS (server '${wire.host}', port '${wire.port}')""".stripMargin)
      spark.sql(s"DELETE FROM $tbl WHERE fqdn = 'a.p.rl.'")
      assert(srv.lookup("a.p.rl.").isEmpty)
      assert(srv.lookup("b.p.rl.") == Seq("10.3.0.2"))
    }
  }

  test("UPDATE on a zones-less table is rejected at planning (lenient-append mode)") {
    withServer { wire =>
      // A zones-less table keeps ACCEPT_ANY_SCHEMA (the reference-parity
      // lenient bean decode), and that capability sets Catalyst's
      // skipSchemaResolution, under which UPDATE/MERGE assignments are
      // never aligned and the row-level rewrite never fires — so Spark
      // itself reports the standard unsupported-operation error before
      // any connector code runs. Pinned here so a capability change that
      // silently re-routes these statements is caught.
      wire.backing.addZone("nz.rl.", Seq(ARecord("a.nz.rl.", "10.4.0.1")))
      val tbl = s"graft_rl_nz_5605"
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      spark.sql(
        s"""CREATE TABLE $tbl USING dns_update
           |OPTIONS (server '${wire.host}', port '${wire.port}')""".stripMargin)
      val e = intercept[Exception] {
        spark.sql(s"UPDATE $tbl SET ip = '1.2.3.4' WHERE fqdn = 'a.nz.rl.'")
      }
      assert(e.getMessage != null && e.getMessage.contains("does not support UPDATE TABLE"),
        s"expected Spark's unsupported-operation error, got: ${e.getMessage}")
    }
  }

  test("MERGE inserting a delete-action row is rejected like overwrite input") {
    withServer { wire =>
      val srv = wire.backing
      srv.addZone("rj.rl.", Seq(ARecord("a.rj.rl.", "10.5.0.1")))
      val tbl = mkTable(wire, "rj.rl")
      // the matched clause forces the group-based ReplaceData path (an
      // insert-only MERGE rewrites to an anti-join append instead, where
      // a delete-action row is legal append currency — pinned below)
      spark.sql("SELECT 'z.rj.rl.' AS fqdn, '10.5.0.9' AS ip")
        .createOrReplaceTempView("rl_badins")
      val e = intercept[Exception] {
        spark.sql(
          s"""MERGE INTO $tbl t
             |USING rl_badins s
             |ON t.fqdn = s.fqdn AND t.ip = s.ip
             |WHEN MATCHED THEN UPDATE SET ttl = 60
             |WHEN NOT MATCHED THEN INSERT (action, fqdn, ip, timestamp, ttl)
             |  VALUES ('IXFR_DELETE', s.fqdn, s.ip, timestamp_micros(1), 60)
             |""".stripMargin)
      }
      def chain(t: Throwable): Seq[String] =
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10)
          .map(x => Option(x.getMessage).getOrElse("")).toSeq
      assert(chain(e).exists(_.contains("must not contain delete rows")),
        s"expected the truncate-writer rejection, got: ${chain(e).mkString(" | ")}")
      // nothing landed
      assert(srv.lookup("a.rj.rl.") == Seq("10.5.0.1"))
    }
  }

  test("insert-only MERGE takes the anti-join append path: no wipe, adds only") {
    withServer { wire =>
      // With only NOT MATCHED clauses Catalyst rewrites MERGE to an
      // anti-join of the source against the table's scan feeding a plain
      // append — which is why a zones table's newScanBuilder must serve
      // real zone state. Semantics follow the append path: existing
      // records untouched (no group replacement), one update message for
      // the touched zone, and the anti-join filters rows that already
      // exist.
      val srv = wire.backing
      srv.addZone("io.rl.", Seq(ARecord("a.io.rl.", "10.7.0.1")))
      val tbl = mkTable(wire, "io.rl")
      val serial0 = srv.serialOf("io.rl.")
      spark.sql(
        """SELECT * FROM VALUES
          |  ('a.io.rl.', '10.7.0.1'),
          |  ('b.io.rl.', '10.7.0.2')
          |AS s(fqdn, ip)""".stripMargin)
        .createOrReplaceTempView("rl_insonly")
      spark.sql(
        s"""MERGE INTO $tbl t
           |USING rl_insonly s
           |ON t.fqdn = s.fqdn AND t.ip = s.ip
           |WHEN NOT MATCHED THEN INSERT (action, fqdn, ip, timestamp, ttl)
           |  VALUES ('IXFR_ADD', s.fqdn, s.ip, timestamp_micros(1723400000000002), 300)
           |""".stripMargin)
      assert(srv.lookup("a.io.rl.") == Seq("10.7.0.1"), "existing record untouched")
      assert(srv.lookup("b.io.rl.") == Seq("10.7.0.2"), "anti-join inserted the new row")
      assert(srv.serialOf("io.rl.") == serial0 + 1, "one append message, no wipe")
    }
  }

  test("SELECT over a zones table reads current state in the write schema") {
    withServer { wire =>
      val srv = wire.backing
      srv.addZone("rd.rl.", Seq(ARecord("b.rd.rl.", "10.8.0.2"), ARecord("a.rd.rl.", "10.8.0.1")))
      val tbl = mkTable(wire, "rd.rl")
      val rows = spark.sql(s"SELECT action, fqdn, ip, ttl FROM $tbl ORDER BY fqdn")
        .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getInt(3)))
      assert(rows.toSeq == Seq(
        (DnsAction.IxfrAdd, "a.rd.rl.", "10.8.0.1", 3600),
        (DnsAction.IxfrAdd, "b.rd.rl.", "10.8.0.2", 3600)))
    }
  }

  test("insert into a zone outside the configured groups fails before any message") {
    withServer { wire =>
      val srv = wire.backing
      srv.addZone("in.rl.", Seq(ARecord("a.in.rl.", "10.6.0.1")))
      srv.addZone("out.rl.", Seq(ARecord("a.out.rl.", "10.6.1.1")))
      val tbl = mkTable(wire, "in.rl")
      val serialIn = srv.serialOf("in.rl.")
      val serialOut = srv.serialOf("out.rl.")
      spark.sql("SELECT 'z.out.rl.' AS fqdn, '10.6.1.9' AS ip")
        .createOrReplaceTempView("rl_stray")
      val e = intercept[Exception] {
        spark.sql(
          s"""MERGE INTO $tbl t
             |USING rl_stray s
             |ON t.fqdn = s.fqdn AND t.ip = s.ip
             |WHEN MATCHED THEN UPDATE SET ttl = 60
             |WHEN NOT MATCHED THEN INSERT (action, fqdn, ip, timestamp, ttl)
             |  VALUES ('IXFR_ADD', s.fqdn, s.ip, timestamp_micros(1), 60)
             |""".stripMargin)
      }
      def chain(t: Throwable): Seq[String] =
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10)
          .map(x => Option(x.getMessage).getOrElse("")).toSeq
      assert(chain(e).exists(_.contains("outside the table's zones option")),
        s"expected the stray-zone rejection, got: ${chain(e).mkString(" | ")}")
      assert(srv.serialOf("in.rl.") == serialIn, "no message sent to in.rl.")
      assert(srv.serialOf("out.rl.") == serialOut, "no message sent to out.rl.")
      assert(srv.lookup("a.out.rl.") == Seq("10.6.1.1"))
    }
  }
}
