package graft.sources.dns.read

import org.apache.spark.SparkContext
import org.apache.spark.util.AccumulatorV2

/** Max-serial accumulator: executors observe the zone's SOA serial
  * during a transfer and ship it to the driver, where the streaming
  * source folds it into the next offset. add/merge = max, so replayed
  * or reordered tasks are harmless (reference ZoneVersion.java:13-53).
  */
final class ZoneVersion extends AccumulatorV2[Long, Long] {
  private var serial: Long = 0L

  override def isZero: Boolean = serial == 0L

  override def copy(): ZoneVersion = {
    val c = new ZoneVersion
    c.serial = serial
    c
  }

  override def reset(): Unit = serial = 0L

  override def add(v: Long): Unit = serial = math.max(serial, v)

  override def merge(other: AccumulatorV2[Long, Long]): Unit =
    serial = math.max(serial, other.value)

  override def value: Long = serial
}

object ZoneVersion {
  /** One accumulator per zone, registered on the driver as
    * `<prefix>.<zone>` (the name the Spark UI shows). */
  def register(sc: SparkContext, prefix: String, zones: Seq[String]): Map[String, ZoneVersion] =
    zones.map { z =>
      val acc = new ZoneVersion
      sc.register(acc, s"$prefix.$z")
      z -> acc
    }.toMap
}
