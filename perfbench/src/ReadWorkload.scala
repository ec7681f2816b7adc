package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.sources.dns._

/** dns_read — closed loop, one client. Each op is a full AXFR scan of
  * every zone over the wire client, materialized with the noop sink.
  * After every [[ReadWorkload.CheckEvery]]-th op, outside its timer, a
  * check scan of the same zones is reduced to (count, order-insensitive
  * hash) and compared with the seeded records. A check scan costs as
  * much as an op, so checking every op would halve the ops a run can
  * time. */
final class ReadWorkload(seed: Long, sizes: Sizes) extends Workload {
  val name = "dns_read"
  private val zones = Gen.readZones(seed, sizes)
  private val totalRecords = zones.map(_._2.size).sum.toLong
  private var spark: SparkSession = _
  private var checkSpark: SparkSession = _
  private var server: WireDnsServer = _
  private var expected: Option[(Long, Long)] = None

  private def scan(session: SparkSession = spark): DataFrame =
    session.read.format("dns")
      .option("server", server.host).option("port", server.port.toString)
      .option("zones", zones.map(_._1).mkString(","))
      .option("client", "wire").option("xfr", "AXFR")
      .option("organization", "bench")
      .load()

  /** Hashes are summed modulo this prime, so the sum cannot overflow. */
  private val Prime = 2147483647L

  private def fingerprint(df: DataFrame): (Long, Long) = Checks.run(df.sparkSession) {
    val r = df.agg(count(lit(1)),
      coalesce(sum(pmod(xxhash64(col("action"), col("fqdn"), col("ip"), col("zone")), lit(Prime))), lit(0L)))
      .collect()(0)
    (r.getLong(0), r.getLong(1))
  }

  private def op(): Unit = scan().write.format("noop").mode("overwrite").save()

  def setup(s: SparkSession, warmS: Double): Unit = {
    spark = s
    checkSpark = s.newSession()
    server = new WireDnsServer(new InMemoryDnsServer)
    zones.foreach { case (z, recs) => server.backing.addZone(z, recs) }
    Warm.forSeconds(warmS)(op())
  }

  /** The seeded records as the scan must return them, reduced the same
    * way as a check scan. Computed once, outside any timed region. */
  private def expectedFingerprint(): (Long, Long) = expected.getOrElse {
    val schema = StructType(Seq("action", "fqdn", "ip", "zone").map(StructField(_, StringType)))
    val rows = zones.flatMap { case (z, recs) => recs.map(r => Row(DnsAction.Axfr, r.fqdn, r.ip, z)) }
    val fp = fingerprint(checkSpark.createDataFrame(rows.asJava, schema))
    expected = Some(fp)
    fp
  }

  def corruptExpected(): Unit = {
    val (c, h) = expectedFingerprint()
    expected = Some((c, h + 1))
  }

  def loop(seconds: Double): LoopResult = {
    val want = expectedFingerprint()
    val lat = mutable.ArrayBuffer.empty[Double]
    val errors = mutable.ArrayBuffer.empty[String]
    var failed = 0L
    var busyNs = 0L
    var transfers = 0L
    val deadline = System.nanoTime() + (seconds * 4 + 60).toLong * 1000000000L
    while (busyNs < seconds * 1e9 && System.nanoTime() < deadline) {
      val x0 = server.backing.transferCount
      val t0 = System.nanoTime()
      op()
      val dt = System.nanoTime() - t0
      transfers += server.backing.transferCount - x0
      busyNs += dt
      lat += Stats.ms(dt)
      if (lat.size % ReadWorkload.CheckEvery == 1) {
        val got = fingerprint(scan(checkSpark))
        if (got != want) {
          failed += 1
          if (errors.size < 3) errors += s"dns_read check after op ${lat.size}: got (count, hash) $got, want $want"
        }
      }
    }
    val ops = lat.size.toLong
    // a failed check counts against every op it stands for
    LoopResult(attempted = ops, failed = math.min(ops, failed * ReadWorkload.CheckEvery), latenciesMs = lat.toArray,
      units = ops * totalRecords, busyS = busyNs / 1e9, ops = ops,
      layer = Map("server.transfers_per_zone_op" ->
        transfers.toDouble / math.max(1L, ops) / zones.size),
      errors = errors.toSeq)
  }

  def teardown(): Unit = if (server != null) { server.close(); server = null }
}

object ReadWorkload {
  val CheckEvery = 4
}
