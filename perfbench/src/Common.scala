package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.sources.dns.ARecord

/** Input sizes of one run. `full` is what the benchmark measures;
  * `smoke` is the tiny size the self-test (negative control) uses. */
final case class Sizes(
    zones: Int,
    readRecords: Int, // total A records over all read zones (Zipf-skewed)
    minZone: Int, maxZone: Int,
    writeZoneRecords: Int, // live records per write zone (kept flat)
    writeChangesPerZone: Int, // changes per zone per write op
    streamZoneRecords: Int,
    streamRate: Int, // changes per second, open loop
    setups: Int, // set-ups per run; setup_s is their median
    warmS: Double, // warm-up of each set-up
    settleS: Double) // untimed loop before the timed one, while the JIT settles

object Sizes {
  val full = Sizes(zones = 64, readRecords = 40000, minZone = 200, maxZone = 20000,
    writeZoneRecords = 500, writeChangesPerZone = 288,
    streamZoneRecords = 200, streamRate = 2000,
    setups = 3, warmS = 1.0, settleS = 10.0)
  val smoke = Sizes(zones = 8, readRecords = 2000, minZone = 50, maxZone = 800,
    writeZoneRecords = 40, writeChangesPerZone = 28,
    streamZoneRecords = 20, streamRate = 200,
    setups = 1, warmS = 0.5, settleS = 0.5)

  /** The protocol bound on one RFC 2136 message: a TCP-framed DNS
    * message carries a 16-bit length (RFC 1035 §4.2.2), so at ~30
    * bytes per A-record RR one update message holds at most ~2,100
    * changes. The write workload keeps every per-zone message at or
    * below this many changes. */
  val MaxChangesPerMessage = 1000
}

/** Deterministic input generation: everything the program sees is a
  * function of the seed. Sizes, and which zone gets which size, do not
  * depend on the seed (only addresses and which records change do), so
  * runs with different seeds measure the same work in the same task
  * order. */
object Gen {
  def zone(k: Int): String = f"z$k%02d.bench."

  def ip(rng: scala.util.Random): String =
    s"10.${rng.nextInt(256)}.${rng.nextInt(256)}.${1 + rng.nextInt(254)}"

  /** Zipf(1.1) over zone rank, clamped to [minZone, maxZone], with the
    * ranks spread over the zones by one fixed permutation. A scan runs
    * one task per zone in zone order, so where the largest zone falls
    * sets how much of its task overlaps the others; a permutation that
    * moved with the seed made op times differ from seed to seed. */
  def zipfSizes(s: Sizes): Array[Int] = {
    val w = (1 to s.zones).map(i => 1.0 / math.pow(i, 1.1))
    val sum = w.sum
    val sized = w.map(x => math.max(s.minZone, math.min(s.maxZone, math.round(s.readRecords * x / sum).toInt)))
    new scala.util.Random(0x5eed).shuffle(sized).toArray
  }

  /** The read workload's zones: zone name → its records. */
  def readZones(seed: Long, s: Sizes): IndexedSeq[(String, Vector[ARecord])] = {
    val rng = new scala.util.Random(seed)
    val sizes = zipfSizes(s)
    (0 until s.zones).map { k =>
      val z = zone(k)
      z -> Vector.tabulate(sizes(k))(j => ARecord(s"h$j.$z", ip(rng)))
    }
  }
}

object Warm {
  /** Repeat `op` until `seconds` have passed (at least once). */
  def forSeconds(seconds: Double)(op: => Unit): Unit = {
    val end = System.nanoTime() + (seconds * 1e9).toLong
    op
    while (System.nanoTime() < end) op
  }
}

object Stats {
  /** Linear-interpolated quantile (numpy's default), q in [0, 1]. */
  def quantile(xs: Iterable[Double], q: Double): Double = {
    val v = xs.toArray.sorted
    if (v.isEmpty) 0.0
    else {
      val pos = q * (v.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, v.length - 1)
      v(lo) + (v(hi) - v(lo)) * (pos - lo)
    }
  }
  def median(xs: Iterable[Double]): Double = quantile(xs, 0.5)
  def ms(ns: Long): Double = ns / 1e6
}

object Host {
  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def rssPeakMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0 }
      .getOrElse(0.0)

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** A fixed, data-independent Spark job: when figures move between
    * two runs of the same code, a moved `calib` says the host moved. */
  def calibMs(spark: SparkSession): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 20000000L).selectExpr("sum(id * 3 + 1) AS s").collect()
      Stats.ms(System.nanoTime() - t0)
    }
    once()
    Stats.median(Seq.fill(3)(once()))
  }

  def fingerprint(spark: SparkSession, calibMs: Double): String =
    s"""{"nproc":${Runtime.getRuntime.availableProcessors},"jdk":"${System.getProperty("java.version")}",""" +
      s""""spark":"${spark.version}","scala":"${scala.util.Properties.versionNumberString}",""" +
      s""""calib_ms":${"%.3f".format(calibMs)}}"""
}

object Session {
  val Cores = 4

  def create(scratchDir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$scratchDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$scratchDir/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
