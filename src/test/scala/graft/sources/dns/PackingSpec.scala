package graft.sources.dns

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.dns.read.{DnsPushdown, DnsScan}

/** Zone packing: a dns scan plans one partition per core (Spark's
  * leaf-scan parallelism, 4 in the test session), each reading a
  * contiguous pack of zones over one connection; per-zone semantics
  * (rows, COUNT-by-zone groups, ignore-failures) stay per zone. */
class PackingSpec extends AnyFunSuite {
  import Loopback.withServer
  private lazy val spark = graft.SparkTestSession.spark

  /** `n` zones named `<prefix><i>.pack.`; zone i holds i % 5 + 1 records. */
  private def estate(wire: WireDnsServer, n: Int, prefix: String): Seq[String] = {
    val zones = (0 until n).map(i => s"$prefix$i.pack.")
    zones.zipWithIndex.foreach { case (z, i) =>
      wire.backing.addZone(z, (0 to i % 5).map(j => ARecord(s"h$j.$z", s"10.$i.0.$j")))
    }
    zones
  }

  private def read(wire: WireDnsServer, zones: Seq[String], extra: (String, String)*): DataFrame =
    spark.read.format("dns").options(Map(
      "server" -> wire.host, "port" -> wire.port.toString, "organization" -> "acme",
      "zones" -> zones.mkString(","), "xfr" -> "AXFR",
      "fixed-timestamp-micros" -> "1723400000000000") ++ extra).load()

  private def tuples(df: DataFrame): Seq[(String, String, String, String)] =
    df.select("action", "fqdn", "ip", "zone").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3))).toSeq

  /** Tasks of every stage `body` runs, read off the listener bus. */
  private def tasksOf(body: => Unit): Int = {
    import org.apache.spark.scheduler._
    val sc = spark.sparkContext
    val group = "dns-packing-tasks"
    val tasks = new java.util.concurrent.atomic.AtomicInteger(0)
    val groupStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val g = Option(j.properties).map(_.getProperty("spark.jobGroup.id")).orNull
        if (g == group) j.stageIds.foreach(groupStages.add)
        if (g == group + "-sentinel") drained.countDown()
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        if (groupStages.contains(s.stageInfo.stageId)) tasks.addAndGet(s.stageInfo.numTasks)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "packed dns scan")
      try body finally sc.clearJobGroup()
      // the listener bus delivers in order: once a later job's start is
      // seen, every event of `body` has been
      sc.setJobGroup(group + "-sentinel", "listener drain")
      try spark.range(1).count() finally sc.clearJobGroup()
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS))
      tasks.get
    } finally sc.removeSparkListener(listener)
  }

  test("a 64-zone scan runs 4 tasks over at most 4 connections; its rows are the per-zone reads in zone order") {
    withServer { wire =>
      val zones = estate(wire, 64, "p")
      var got = Seq.empty[(String, String, String, String)]
      assert(tasksOf { got = tuples(read(wire, zones)) } == 4)
      assert(wire.connectionCount <= 4, s"${wire.connectionCount} connections")
      assert(wire.backing.transferCount == 64)
      // contiguous packs keep the row order of one partition per zone
      assert(got == zones.flatMap(z => tuples(read(wire, Seq(z)))))
    }
  }

  test("zones within leaf parallelism report key-grouped partitioning and zone order; more zones report neither") {
    import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, UnknownPartitioning}
    withServer { wire =>
      val zones = estate(wire, 8, "k")
      val opts = DnsOptions.source(Map("server" -> wire.host, "port" -> wire.port.toString,
        "organization" -> "acme", "zones" -> zones.mkString(",")))
      def scan(zs: Seq[String]) = new DnsScan(opts, zs, DnsSchemas.read, DnsPushdown.empty)
      val four = scan(zones.take(4))
      assert(four.outputPartitioning().isInstanceOf[KeyGroupedPartitioning])
      assert(four.outputOrdering().map(o => (o.expression().describe(), o.direction())).toSeq ==
        Seq(("zone", org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING)))
      assert(four.toBatch.planInputPartitions().length == 4)
      val eight = scan(zones)
      val unknown = eight.outputPartitioning()
      assert(unknown.isInstanceOf[UnknownPartitioning])
      assert(unknown.numPartitions() == 4)
      assert(eight.outputOrdering().isEmpty)
      assert(eight.toBatch.planInputPartitions().length == 4)

      // a zone-keyed self-join over two-zone packs shuffles, and its
      // rows are still each record beside its zone's count
      val records = read(wire, zones).select("zone", "fqdn")
      val census = read(wire, zones).groupBy("zone").agg(count(col("fqdn")).as("n"))
      val joined = records.hint("merge").join(census, Seq("zone"))
      val rows = joined.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      val want = zones.zipWithIndex.flatMap { case (z, i) =>
        (0 to i % 5).map(j => (z, s"h$j.$z", (i % 5 + 1).toLong))
      }.toSet
      assert(rows == want)
      assert(joined.queryExecution.executedPlan.toString.contains("Exchange hashpartitioning"),
        joined.queryExecution.executedPlan.toString)
    }
  }

  test("COUNT(*) GROUP BY zone returns one row per zone when two zones share a pack") {
    withServer { wire =>
      val zones = estate(wire, 8, "c")
      val df = read(wire, zones).groupBy("zone").count()
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("PushedAggregation=[COUNT(*) GROUP BY zone]"), plan)
      assert(!plan.contains("HashAggregate"), plan)
      assert(df.collect().map(r => (r.getString(0), r.getLong(1))).toMap ==
        zones.zipWithIndex.map { case (z, i) => z -> (i % 5 + 1).toLong }.toMap)
      // the global form sums one partial count per pack
      assert(read(wire, zones).count() == zones.indices.map(_ % 5 + 1).sum)
    }
  }

  test("a batch read with a dead zone in the middle of a pack returns every other zone's rows over one connection") {
    withServer { wire =>
      val live = estate(wire, 11, "d")
      // 12 zones on local[4]: the first pack is (d0, dead, d1)
      val zones = live.head +: "dead.pack." +: live.tail
      val got = tuples(read(wire, zones, "ignore-failures" -> "true"))
      // the NOTAUTH answer kept the first pack's connection: 4 packs,
      // 4 connections
      assert(wire.connectionCount == 4, s"${wire.connectionCount} connections")
      assert(got == live.flatMap(z => tuples(read(wire, Seq(z)))))
    }
  }
}
