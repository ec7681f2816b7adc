package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}

import graft.sources.dns._
import graft.sources.dns.write.DnsWrites

/** The write workload's generator and its own model of the zones.
  *
  * Per op and zone it emits `a` adds of new records, `a` deletes of live
  * records, and `f` flips of each kind: add@t1, delete@t2, add@t3 of a new
  * record (ends present) and delete@t1, add@t2, delete@t3 of a live one
  * (ends absent). Adds and deletes balance, so zone sizes stay flat; flips
  * repeat an identity at different timestamps, so last-write-wins has work.
  * The expected state is computed here, independently of the program's
  * dedup code: per (action, fqdn, ip) keep the latest change, then apply in
  * timestamp order. */
final class WriteModel(seed: Long, sizes: Sizes) {
  private val rng = new scala.util.Random(seed * 7919L + 17L)
  val zones: IndexedSeq[String] = (0 until sizes.zones).map(Gen.zone)
  private val live = zones.map(_ => new IndexedSet[ARecord]).toArray
  private val fresh = Array.fill(zones.size)(0L)

  zones.indices.foreach { k =>
    (0 until sizes.writeZoneRecords).foreach(j => live(k).add(ARecord(s"h$j.${zones(k)}", Gen.ip(rng))))
  }

  def seeded(k: Int): Seq[ARecord] = live(k).toSeq
  def expected(k: Int): Set[ARecord] = live(k).toSeq.toSet
  def dropOneExpected(): Unit = live(0).remove(live(0).get(0))

  private val flipsPerZone = math.max(1, sizes.writeChangesPerZone / 14)
  private val plainPerZone = (sizes.writeChangesPerZone - 6 * flipsPerZone) / 2
  val changesPerZone: Int = 2 * plainPerZone + 6 * flipsPerZone
  require(changesPerZone <= Sizes.MaxChangesPerMessage && plainPerZone >= 1,
    s"write op must send 1..${Sizes.MaxChangesPerMessage} changes per zone, got $changesPerZone")

  /** Changes of op `op`, per zone: (action, record, timestamp micros). */
  def nextOp(op: Long): IndexedSeq[IndexedSeq[(String, ARecord, Long)]] = zones.indices.map { k =>
    val z = zones(k)
    def newRecord(): ARecord = { fresh(k) += 1; ARecord(s"n${fresh(k)}.$z", Gen.ip(rng)) }
    val picked = live(k).sample(rng, plainPerZone + flipsPerZone)
    val ts = rng.shuffle((0 until changesPerZone).toVector).map(t => op * 1000000000L + t)
    var next = 0
    def take(n: Int): Seq[Long] = { val s = ts.slice(next, next + n).sorted; next += n; s }
    val out = mutable.ArrayBuffer.empty[(String, ARecord, Long)]
    picked.take(plainPerZone).foreach(r => out += ((DnsAction.IxfrDelete, r, take(1).head)))
    (1 to plainPerZone).foreach(_ => out += ((DnsAction.IxfrAdd, newRecord(), take(1).head)))
    picked.drop(plainPerZone).foreach { r =>
      val Seq(t1, t2, t3) = take(3)
      out ++= Seq((DnsAction.IxfrDelete, r, t1), (DnsAction.IxfrAdd, r, t2), (DnsAction.IxfrDelete, r, t3))
    }
    (1 to flipsPerZone).foreach { _ =>
      val r = newRecord()
      val Seq(t1, t2, t3) = take(3)
      out ++= Seq((DnsAction.IxfrAdd, r, t1), (DnsAction.IxfrDelete, r, t2), (DnsAction.IxfrAdd, r, t3))
    }
    out.toIndexedSeq
  }

  /** Advance the model by one op (last write wins per identity). */
  def apply(changes: IndexedSeq[IndexedSeq[(String, ARecord, Long)]]): Unit =
    changes.zipWithIndex.foreach { case (cs, k) =>
      cs.groupBy(c => (c._1, c._2)).values.map(_.maxBy(_._3)).toSeq.sortBy(_._3).foreach {
        case (DnsAction.IxfrDelete, r, _) => live(k).remove(r)
        case (_, r, _) => live(k).add(r)
      }
    }
}

/** Insertion-ordered set with O(1) add, remove and random sampling. */
final class IndexedSet[A] {
  private val items = mutable.ArrayBuffer.empty[A]
  private val index = mutable.HashMap.empty[A, Int]
  def add(a: A): Unit = if (!index.contains(a)) { index(a) = items.size; items += a }
  def remove(a: A): Unit = index.remove(a).foreach { i =>
    val last = items.remove(items.size - 1)
    if (i < items.size) { items(i) = last; index(last) = i }
  }
  def get(i: Int): A = items(i)
  def size: Int = items.size
  def toSeq: Seq[A] = items.toSeq
  def sample(rng: scala.util.Random, n: Int): Seq[A] = {
    require(n <= items.size, s"cannot sample $n of ${items.size}")
    val chosen = mutable.LinkedHashSet.empty[Int]
    while (chosen.size < n) chosen += rng.nextInt(items.size)
    chosen.toSeq.map(items)
  }
}

/** dns_write — closed loop, one client. Each op writes one generated
  * batch of changes through `DnsWrites.repartitionByZone` and
  * `format("dns_update")` with the wire client: one RFC 2136 message per
  * zone. After each op, outside its timer: every zone's serial must have
  * moved by exactly the messages sent to it, and an AXFR of every zone
  * must equal the model's expected state. */
final class WriteWorkload(seed: Long, sizes: Sizes) extends Workload {
  val name = "dns_write"
  private val model = new WriteModel(seed, sizes)
  private var spark: SparkSession = _
  private var server: WireDnsServer = _
  private var opIndex = 0L

  private def rows(changes: IndexedSeq[IndexedSeq[(String, ARecord, Long)]]): java.util.List[Row] = {
    val all = changes.flatten.map { case (a, r, ts) =>
      val t = new java.sql.Timestamp(ts / 1000)
      t.setNanos(((ts % 1000000) * 1000).toInt)
      Row(a, r.fqdn, r.ip, t, 300)
    }
    new scala.util.Random(seed + opIndex).shuffle(all).asJava
  }

  /** Run one op and check it. Returns the write's time in ns, the
    * messages the server applied (serial bumps), the changes those
    * messages carried after dedup (from the server's IXFR journal), and
    * the check's verdict. */
  private def op(): (Long, Long, Long, String) = {
    opIndex += 1
    val changes = model.nextOp(opIndex)
    val df = spark.createDataFrame(rows(changes), DnsSchemas.write)
    val serials0 = model.zones.map(server.backing.serialOf)
    val t0 = System.nanoTime()
    DnsWrites.repartitionByZone(df).write.format("dns_update")
      .option("server", server.host).option("port", server.port.toString)
      .option("client", "wire")
      .mode("append").save()
    val dt = System.nanoTime() - t0
    model.apply(changes)
    val bumps = model.zones.map(server.backing.serialOf).zip(serials0).map { case (a, b) => a - b }
    val applied = model.zones.indices.map { k =>
      server.backing.ixfr(model.zones(k), serials0(k)) match {
        case IxfrResult(_, deltas) => deltas.map(d => d.adds.size + d.deletes.size).sum
        case _: AxfrResult => 0
      }
    }.sum.toLong
    val msgs = changes.count(_.nonEmpty)
    val stateOk = model.zones.indices.forall(k =>
      server.backing.axfr(model.zones(k)).records.toSet == model.expected(k))
    val bumpsOk = bumps.sum == msgs && bumps.forall(_ <= 1)
    val err =
      if (!bumpsOk) s"serial bumps ${bumps.sum} != messages sent $msgs"
      else if (!stateOk) "zone state after op differs from the expected LWW state"
      else ""
    (dt, bumps.sum, applied, err)
  }

  def setup(s: SparkSession, warmS: Double): Unit = {
    spark = s
    server = new WireDnsServer(new InMemoryDnsServer)
    model.zones.indices.foreach(k => server.backing.addZone(model.zones(k), model.seeded(k)))
    Warm.forSeconds(warmS)(op())
  }

  def corruptExpected(): Unit = model.dropOneExpected()

  private def changesPerOp: Int = model.changesPerZone * model.zones.size

  def loop(seconds: Double): LoopResult = {
    val lat = mutable.ArrayBuffer.empty[Double]
    val errors = mutable.ArrayBuffer.empty[String]
    var failed = 0L
    var busyNs = 0L
    var msgs = 0L
    var applied = 0L
    val deadline = System.nanoTime() + (seconds * 4 + 60).toLong * 1000000000L
    while (busyNs < seconds * 1e9 && System.nanoTime() < deadline) {
      val (dt, bumps, changesApplied, err) = op()
      busyNs += dt
      msgs += bumps
      applied += changesApplied
      lat += Stats.ms(dt)
      if (err.nonEmpty) {
        failed += 1
        if (errors.size < 3) errors += s"dns_write op ${lat.size}: $err"
      }
    }
    val ops = lat.size.toLong
    val sent = ops * changesPerOp
    LoopResult(attempted = ops, failed = failed, latenciesMs = lat.toArray,
      units = sent, busyS = busyNs / 1e9, ops = ops,
      layer = Map(
        "server.update_msgs_per_op" -> msgs.toDouble / math.max(1L, ops),
        "write.dedup_ratio" -> applied.toDouble / math.max(1L, sent),
        "write.changes_per_msg" -> applied.toDouble / math.max(1L, msgs)),
      errors = errors.toSeq)
  }

  def teardown(): Unit = if (server != null) { server.close(); server = null }
}
