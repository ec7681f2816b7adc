package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicIntegerArray, AtomicLong, AtomicLongArray}
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.dns._

/** dns_stream — open loop. A generator thread applies single-record
  * changes straight to the server (outside the system under test) at a
  * fixed rate, round-robin over the zones in a seeded order: each zone
  * alternates an add of a new record and a delete of its oldest
  * stream-added record, so zone sizes stay flat and every change has an
  * identity (action, fqdn, ip) of its own. Each change is due at
  * `start + i / rate`; the generator records how late it ran.
  *
  * The system under test is a `readStream.format("dns")` query with
  * xfr=IXFR, the wire client and the default trigger, delivering into a
  * `foreachBatch` sink that collects each batch and stamps its arrival.
  * Lag is arrival minus due time. The check: every generated change
  * arrives exactly once, and nothing else arrives. */
final class StreamWorkload(seed: Long, sizes: Sizes, scratchDir: String) extends Workload {
  val name = "dns_stream"
  private val zones = (0 until sizes.zones).map(Gen.zone)
  private val order = new scala.util.Random(seed).shuffle(zones.indices.toVector)
  private val capacity = 1 << 20
  private val rng = new scala.util.Random(seed * 104729L + 3L)

  // generated changes: identity -> index, due time and arrivals by index
  private val byKey = new ConcurrentHashMap[String, Integer]()
  private val dueNs = new AtomicLongArray(capacity)
  private val arrivedNs = new AtomicLongArray(capacity)
  private val arrivals = new AtomicIntegerArray(capacity)
  private val lateNs = new AtomicLongArray(capacity)
  private val unexpected = new AtomicLong
  private val batches = new AtomicLong
  private var generated = 0 // changes generated so far
  private var checkedUntil = 0 // changes before this index belong to set-up or earlier loops
  private val added = zones.map(_ => mutable.Queue.empty[ARecord]).toArray
  private val addNext = Array.fill(zones.size)(true)
  private var fresh = 0L

  private var server: WireDnsServer = _
  private var query: StreamingQuery = _

  private def key(action: String, fqdn: String, ip: String) = s"$action|$fqdn|$ip"

  private def sink(batch: DataFrame, id: Long): Unit = {
    val rows = batch.select("action", "fqdn", "ip").collect()
    val now = System.nanoTime()
    batches.incrementAndGet()
    rows.foreach { r =>
      val action = r.getString(0)
      if (action != DnsAction.Axfr) {
        val i = byKey.get(key(action, r.getString(1), r.getString(2)))
        if (i == null) unexpected.incrementAndGet()
        else if (arrivals.incrementAndGet(i) == 1) arrivedNs.set(i, now)
      }
    }
  }

  /** Generate `n` changes at the configured rate, starting now. */
  private def generate(n: Int): (Int, Int) = {
    val from = generated
    val intervalNs = 1e9 / sizes.streamRate
    val start = System.nanoTime()
    (0 until n).foreach { j =>
      val i = from + j
      require(i < capacity, "stream change capacity exceeded")
      val due = start + (j * intervalNs).toLong
      val wait = due - System.nanoTime()
      if (wait > 0) LockSupport.parkNanos(wait)
      val k = order(i % zones.size)
      val (action, rec) =
        if (addNext(k) || added(k).isEmpty) {
          fresh += 1
          val r = ARecord(s"s$fresh.${zones(k)}", Gen.ip(rng))
          added(k).enqueue(r)
          (DnsAction.IxfrAdd, r)
        } else (DnsAction.IxfrDelete, added(k).dequeue())
      addNext(k) = !addNext(k)
      dueNs.set(i, due)
      byKey.put(key(action, rec.fqdn, rec.ip), i)
      server.backing.update(zones(k), Seq(ZoneChange(rec, delete = action == DnsAction.IxfrDelete)))
      lateNs.set(i, System.nanoTime() - due)
    }
    generated = from + n
    (from, generated)
  }

  /** Wait until every change in [from, until) has arrived, or time out. */
  private def drain(from: Int, until: Int, timeoutS: Double): Unit = {
    val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
    var i = from
    while (i < until && System.nanoTime() < deadline) {
      if (arrivals.get(i) > 0) i += 1 else Thread.sleep(5)
    }
  }

  def setup(spark: SparkSession, warmS: Double): Unit = {
    server = new WireDnsServer(new InMemoryDnsServer)
    val seedRng = new scala.util.Random(seed)
    zones.foreach { z =>
      server.backing.addZone(z, Vector.tabulate(sizes.streamZoneRecords)(j => ARecord(s"h$j.$z", Gen.ip(seedRng))))
    }
    // stream-added records of an earlier set-up are gone with its server
    added.foreach(_.clear())
    val b0 = batches.get
    val checkpoint = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(scratchDir), "stream-ck").toString
    query = spark.readStream.format("dns")
      .option("server", server.host).option("port", server.port.toString)
      .option("zones", zones.mkString(","))
      .option("client", "wire").option("xfr", "IXFR")
      .option("organization", "bench")
      .load()
      .writeStream
      .foreachBatch((b: DataFrame, id: Long) => sink(b, id))
      .option("checkpointLocation", checkpoint)
      .start()
    val firstBatch = System.nanoTime() + 60L * 1000000000L
    while (batches.get == b0 && System.nanoTime() < firstBatch) {
      query.exception.foreach(e => throw e)
      Thread.sleep(10)
    }
    require(batches.get > b0, "stream delivered no first batch within 60 s")
    val (from, until) = generate((warmS * sizes.streamRate).toInt)
    drain(from, until, 30)
    checkedUntil = until
  }

  def corruptExpected(): Unit = {
    // a phantom change the server never saw: the check must report it lost
    val i = generated
    dueNs.set(i, System.nanoTime())
    byKey.put(key(DnsAction.IxfrAdd, "phantom.bench.", "10.0.0.1"), i)
    generated += 1
  }

  def loop(seconds: Double): LoopResult = {
    val from = checkedUntil
    val b0 = batches.get
    val x0 = server.backing.transferCount
    val u0 = unexpected.get
    val (from0, until) = generate((seconds * sizes.streamRate).toInt)
    drain(from0, until, 30)
    checkedUntil = until
    val nBatches = batches.get - b0
    val transfers = server.backing.transferCount - x0
    val idx = from until until
    val lost = idx.count(i => arrivals.get(i) == 0)
    val dup = idx.count(i => arrivals.get(i) > 1)
    val extra = unexpected.get - u0
    val delivered = idx.filter(i => arrivals.get(i) > 0)
    val lag = delivered.map(i => Stats.ms(arrivedNs.get(i) - dueNs.get(i))).toArray
    val firstDue = dueNs.get(from0)
    val lastArrival = if (delivered.isEmpty) firstDue else delivered.map(arrivedNs.get).max
    val errors = Seq(
      if (lost > 0) Some(s"dns_stream: $lost changes never arrived") else None,
      if (dup > 0) Some(s"dns_stream: $dup changes arrived more than once") else None,
      if (extra > 0) Some(s"dns_stream: $extra rows arrived that were never generated") else None
    ).flatten
    LoopResult(attempted = idx.size.toLong,
      failed = math.min(idx.size.toLong, (lost + dup).toLong + extra),
      latenciesMs = lag, units = delivered.size.toLong,
      busyS = math.max(1e-9, (lastArrival - firstDue) / 1e9),
      ops = nBatches,
      layer = Map(
        "server.transfers_per_zone_op" -> transfers.toDouble / math.max(1L, nBatches) / zones.size,
        "stream.gen_late_max_ms" -> idx.map(i => Stats.ms(lateNs.get(i))).max),
      errors = errors)
  }

  def teardown(): Unit = {
    if (query != null) { query.stop(); query = null }
    if (server != null) { server.close(); server = null }
  }
}
