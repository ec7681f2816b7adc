package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every main's session comes from [[Session]]; this pins the conf set
  * `Bench` and `Verify` run on, the `SPARK_GRAFT_CPUS` default and the
  * `SPARK_GRAFT_CONF` parser, so a drifted setting fails here instead of
  * silently moving the correctness gate or the official bench. */
class SessionSpec extends AnyFunSuite {

  test("the conf set Bench and Verify build is exactly the pinned one") {
    assert(Session.conf("4") == Seq(
      "spark.master" -> "local[4]",
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.codegen.cache.maxEntries" -> "5000",
      "spark.ui.enabled" -> "false"))
    val c32 = Session.conf("32").toMap
    assert(c32("spark.master") == "local[32]" && c32("spark.sql.shuffle.partitions") == "32")
  }

  test("SPARK_GRAFT_CPUS defaults to 4") {
    assert(Session.cpus(Map.empty) == "4")
    assert(Session.cpus(Map("SPARK_GRAFT_CPUS" -> "32")) == "32")
  }

  test("the test session runs the same conf set at 4 cores") {
    val conf = SparkTestSession.spark.sparkContext.getConf
    Session.conf("4").foreach { case (k, v) => assert(conf.get(k) == v, k) }
    assert(conf.get("spark.app.name") == "graft-test")
  }

  test("SPARK_GRAFT_CONF: a '='-less entry is rejected by name") {
    val e = intercept[IllegalArgumentException](
      Session.overlay("spark.sql.ansi.enabled=false;spark.sql.adaptive.enabled"))
    assert(e.getMessage.contains("'spark.sql.adaptive.enabled'"), e.getMessage)
    assert(e.getMessage.contains("expected key=value"), e.getMessage)
    intercept[IllegalArgumentException](Session.overlay("=v"))
  }

  test("SPARK_GRAFT_CONF: an entry splits at its first '='") {
    assert(Session.overlay("spark.a=x=y") == Seq("spark.a" -> "x=y"))
    assert(Session.overlay("spark.a=") == Seq("spark.a" -> ""))
  }

  test("SPARK_GRAFT_CONF: empty and whitespace entries are skipped, order kept") {
    assert(Session.overlay("") == Nil)
    assert(Session.overlay(" ;  ; ") == Nil)
    assert(Session.overlay(" spark.b=2 ;; spark.a=1 ;") == Seq("spark.b" -> "2", "spark.a" -> "1"))
  }

  test("an unknown query key fails with its name") {
    val e = intercept[IllegalArgumentException](SparkEntry.query("q_no_such_key"))
    assert(e.getMessage == "unknown query key 'q_no_such_key'")
    assert(SparkEntry.query("q3_shipping_priority") != null)
  }
}
