package perfbench

import java.io.{DataInputStream, DataOutputStream}
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.sources.dns._

/** Direct calls into single layers, timed from outside: the wire codec
  * and clients, the in-memory server, and last-write-wins dedup. */
object Probes {
  private def nsPer(units: Long)(body: => Unit): Double = {
    body // warm
    Stats.median((1 to 3).map { _ =>
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0).toDouble / units
    })
  }

  /** Framed messages in one AXFR of `zone`, read on a socket of our own. */
  private def axfrMessages(wire: WireDnsServer, zone: String): Int = {
    import DnsWire._
    val sock = new java.net.Socket(wire.host, wire.port)
    try {
      val in = new DataInputStream(sock.getInputStream)
      val out = new DataOutputStream(sock.getOutputStream)
      writeFramed(out, Message(1, queryFlags(OpcodeQuery),
        Seq(Question(zone, TypeAxfr, ClassIn)), Nil, Nil, Nil))
      var msgs = 0
      var rrs = 0
      var done = false
      while (!done) {
        val m = readFramed(in)
        msgs += 1
        rrs += m.answers.size
        done = rrs > 1 && m.answers.lastOption.exists(_.rtype == TypeSoa)
      }
      msgs
    } finally sock.close()
  }

  def run(seed: Long, sizes: Sizes): Map[String, Double] = {
    val zones = Gen.readZones(seed, sizes)
    val total = zones.map(_._2.size).sum.toLong
    val backing = new InMemoryDnsServer
    zones.foreach { case (z, recs) => backing.addZone(z, recs) }
    val wire = new WireDnsServer(backing)
    try {
      val client = new WireTransferClient(wire.host, wire.port)
      val serverAxfr = nsPer(total)(zones.foreach { case (z, _) => backing.axfr(z) })
      val wireAxfr = nsPer(total)(zones.foreach { case (z, _) =>
        client.transfer(z, 0L, XfrType.AXFR, 30) })
      val msgs = zones.map { case (z, _) => axfrMessages(wire, z) }.sum.toDouble / zones.size

      // IXFR: 100 single-record journal entries on each of 8 zones
      val ixZones = zones.take(8).map(_._1)
      val from = ixZones.map(backing.serialOf)
      ixZones.foreach { z =>
        val recs = (1 to 50).map(j => ARecord(s"p$j.$z", "10.9.9.9"))
        recs.foreach(r => backing.update(z, Seq(r), Nil))
        recs.foreach(r => backing.update(z, Nil, Seq(r)))
      }
      val wireIxfr = nsPer(100L * ixZones.size)(ixZones.zip(from).foreach { case (z, s) =>
        client.transfer(z, s, XfrType.IXFR, 30) })

      // RFC 2136 update: 500 adds then the 500 matching deletes per zone
      val emitter = new WireUpdateEmitter(wire.host, wire.port, 30)
      val batches = ixZones.map { z =>
        val adds = (1 to 500).map(j => DnsUpdateRecord(DnsAction.IxfrAdd, s"u$j.$z", "10.8.8.8", j, 300))
        (z, adds, adds.map(_.copy(action = DnsAction.IxfrDelete)))
      }
      val wireUpdate = nsPer(1000L * ixZones.size)(batches.foreach { case (z, adds, dels) =>
        emitter.update(z, adds); emitter.update(z, dels) })

      val sample = new WriteModel(seed + 1, sizes).nextOp(1L).map(_.map { case (a, r, ts) =>
        DnsUpdateRecord(a, r.fqdn, r.ip, ts, 300) })
      val lww = nsPer(sample.map(_.size).sum.toLong)(sample.foreach(LwwDedup(_)))

      Map(
        "server.axfr_us_per_record" -> serverAxfr / 1e3,
        "wire.axfr_us_per_record" -> wireAxfr / 1e3,
        "wire.msgs_per_axfr" -> msgs,
        "wire.ixfr_us_per_record" -> wireIxfr / 1e3,
        "wire.update_us_per_change" -> wireUpdate / 1e3,
        "write.lww_us_per_change" -> lww / 1e3)
    } finally wire.close()
  }
}

object DnsBench {
  val Workloads = Seq("dns_read", "dns_write", "dns_stream")

  /** End-to-end metrics (untraced runs), with units. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "records_per_s" -> "1/s",
    "latency_p50_ms" -> "ms", "latency_p90_ms" -> "ms", "rss_peak_mb" -> "MiB")

  /** Per-layer metrics (traced runs), with units. */
  val PerLayer: Seq[(String, String)] = Seq(
    "wire.axfr_us_per_record" -> "us", "wire.msgs_per_axfr" -> "count",
    "wire.ixfr_us_per_record" -> "us", "wire.update_us_per_change" -> "us",
    "server.axfr_us_per_record" -> "us", "server.transfers_per_zone_op" -> "count",
    "server.update_msgs_per_op" -> "count",
    "read.transfer_records" -> "count", "read.transfer_bytes" -> "B",
    "read.rows_out_per_record" -> "ratio", "read.ixfr_fallbacks" -> "count",
    "read.scan_task_ms_p50" -> "ms", "read.scan_task_ms_max" -> "ms",
    "write.lww_us_per_change" -> "us", "write.dedup_ratio" -> "ratio",
    "write.changes_per_msg" -> "count",
    "stream.batch_ms_p50" -> "ms", "stream.latest_offset_ms" -> "ms",
    "stream.query_planning_ms" -> "ms", "stream.add_batch_ms" -> "ms",
    "stream.wal_commit_ms" -> "ms", "stream.commit_offsets_ms" -> "ms",
    "stream.records_per_batch" -> "count", "stream.empty_batch_ratio" -> "ratio",
    "stream.gen_late_max_ms" -> "ms",
    "spark.plan_ms" -> "ms", "spark.jobs_per_op" -> "count", "spark.stages_per_op" -> "count",
    "spark.tasks_per_op" -> "count", "spark.exec_run_ms_per_op" -> "ms",
    "spark.busy_ratio" -> "ratio", "spark.shuffle_write_mb" -> "MiB",
    "spark.shuffle_read_mb" -> "MiB", "spark.fetch_wait_ms" -> "ms",
    "spark.spill_mb" -> "MiB", "spark.peak_exec_mem_mb" -> "MiB",
    "jvm.gc_ms_per_op" -> "ms", "jvm.jit_ms" -> "ms",
    "host.calib_ms" -> "ms",
    "trace.records_per_s" -> "1/s", "trace.latency_p50_ms" -> "ms", "trace.overhead_pct" -> "%")

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        scratch: String, result: String, selftest: Boolean)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def req(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val selftest = m.get("selftest").contains("1")
    Args(workload = if (selftest) "" else req("workload"),
      seed = m.getOrElse("seed", "1").toLong, seconds = m.getOrElse("seconds", "18").toInt,
      trace = m.get("trace").contains("1"), scratch = req("scratch"), result = req("result"),
      selftest = selftest)
  }

  def make(name: String, seed: Long, sizes: Sizes, scratch: String): Workload = name match {
    case "dns_read" => new ReadWorkload(seed, sizes)
    case "dns_write" => new WriteWorkload(seed, sizes)
    case "dns_stream" => new StreamWorkload(seed, sizes, scratch)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (expected one of ${Workloads.mkString(", ")})")
  }

  /** Stream per-layer metrics from the progress events of a traced loop.
    * Source metrics are cumulative, so the read.* figures are deltas. */
  private def streamMetrics(t: Tracer): Map[String, Double] = {
    val ps = t.progress.asScala.toSeq.sortBy(_.batchId)
    def d(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    def src(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String): Double =
      p.sources.headOption.flatMap(s => Option(s.metrics.get(k))).map(_.toDouble).getOrElse(0.0)
    def delta(k: String) = if (ps.size < 2) 0.0 else src(ps.last, k) - src(ps.head, k)
    val n = math.max(1, ps.size - 1).toDouble
    val rows = ps.drop(1).map(_.numInputRows).sum.toDouble
    val records = delta("recordsTransferred")
    Map(
      "stream.batch_ms_p50" -> Stats.median(ps.map(d(_, "triggerExecution"))),
      "stream.latest_offset_ms" -> Stats.median(ps.map(d(_, "latestOffset"))),
      "stream.query_planning_ms" -> Stats.median(ps.map(d(_, "queryPlanning"))),
      "stream.add_batch_ms" -> Stats.median(ps.map(d(_, "addBatch"))),
      "stream.wal_commit_ms" -> Stats.median(ps.map(d(_, "walCommit"))),
      "stream.commit_offsets_ms" -> Stats.median(ps.map(d(_, "commitOffsets"))),
      "stream.records_per_batch" -> ps.map(_.numInputRows.toDouble).sum / math.max(1, ps.size),
      "stream.empty_batch_ratio" -> ps.count(_.numInputRows == 0).toDouble / math.max(1, ps.size),
      "read.transfer_records" -> records / n,
      "read.transfer_bytes" -> delta("payloadBytes") / n,
      "read.rows_out_per_record" -> (if (records > 0) rows / records else 0.0),
      "read.ixfr_fallbacks" -> delta("ixfrFallbacks"))
  }

  /** Run `w`'s loop under a tracer; returns the loop and its per-layer
    * metrics (the tracer's plus the workload's own). */
  private def traced(spark: SparkSession, w: Workload, seconds: Double): (LoopResult, Map[String, Double]) = {
    val t = new Tracer(spark)
    t.start()
    val r = try w.loop(seconds) finally t.stop()
    val own = w match {
      case _: ReadWorkload => t.scanMetrics(r)
      case _: StreamWorkload =>
        t.scanMetrics(r).filter(_._1.startsWith("read.scan_task")) ++ streamMetrics(t)
      case _ => Map.empty[String, Double]
    }
    (r, t.sparkMetrics(r) ++ own ++ r.layer)
  }

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  private def resultJson(correct: Boolean, attempted: Long, failed: Long,
                         metrics: Seq[(String, String, Double)]): String = {
    val ms = metrics.map { case (n, u, v) => s""""$n": {"value": ${fmt(v)}, "unit": "$u"}""" }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }

  private def summary(tag: String, r: LoopResult): String =
    f"$tag: ops=${r.ops} samples=${r.latenciesMs.length} records_per_s=${r.recordsPerS}%.1f " +
      f"latency_p50_ms=${r.p50}%.3f latency_p90_ms=${r.p90}%.3f attempted=${r.attempted} failed=${r.failed}"

  /** Negative control: on tiny inputs every workload's check must be
    * green on a clean loop and red once its expected state is corrupted. */
  private def selfTest(a: Args): Boolean = {
    val spark = Session.create(a.scratch)
    try Workloads.forall { name =>
      val w = make(name, a.seed, Sizes.smoke, a.scratch)
      w.setup(spark, Sizes.smoke.warmS)
      try {
        val clean = w.loop(1.0)
        w.corruptExpected()
        val bad = w.loop(1.0)
        val ok = clean.failed == 0 && clean.errors.isEmpty && clean.attempted > 0 && bad.failed > 0
        println(s"selftest $name: clean failed=${clean.failed}/${clean.attempted}, " +
          s"corrupted failed=${bad.failed}/${bad.attempted} -> ${if (ok) "PASS" else "FAIL"}")
        ok
      } finally w.teardown()
    } finally spark.stop()
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    if (a.selftest) sys.exit(if (selfTest(a)) 0 else 1)
    val sizes = Sizes.full
    val w = make(a.workload, a.seed, sizes, a.scratch)

    // Set up several times (session, server, zone seeding, warm-up);
    // setup_s is the median. The first one counts from JVM start.
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    var spark: SparkSession = null
    val setups = (1 to sizes.setups).map { i =>
      val t0 = System.nanoTime()
      spark = Session.create(a.scratch)
      w.setup(spark, sizes.warmS)
      val s = if (i == 1) (System.currentTimeMillis() - jvmStartMs) / 1000.0 else (System.nanoTime() - t0) / 1e9
      if (i < sizes.setups) { w.teardown(); spark.stop() }
      s
    }
    println(f"setup_s per set-up: ${setups.map(s => f"$s%.3f").mkString(", ")}")

    val calib = Host.calibMs(spark)
    println(s"host ${Host.fingerprint(spark, calib)}")
    try {
      // An untimed loop in the session that is measured, so the timed
      // loop does not start on a cold JIT or a fresh session. Its checks
      // count like those of the timed loop.
      val settle = w.loop(sizes.settleS)
      println(summary(s"${w.name} settle (untimed)", settle))
      settle.errors.foreach(e => println(s"CHECK FAILED $e"))
      // a traced run splits its time: an untraced loop, then a traced one
      val loopS = if (a.trace) a.seconds / 2.0 else a.seconds.toDouble
      val base = w.loop(loopS)
      println(summary(s"${w.name} untraced", base))
      base.errors.foreach(e => println(s"CHECK FAILED $e"))
      var correct = settle.failed == 0 && settle.errors.isEmpty && base.failed == 0 && base.errors.isEmpty
      var attempted = settle.attempted + base.attempted
      var failed = settle.failed + base.failed
      val out =
        if (!a.trace) {
          val values = Map(
            "setup_s" -> Stats.median(setups), "records_per_s" -> base.recordsPerS,
            "latency_p50_ms" -> base.p50, "latency_p90_ms" -> base.p90,
            "rss_peak_mb" -> Host.rssPeakMb())
          EndToEnd.map { case (n, u) => (n, u, values(n)) }
        } else {
          val (tr, main) = traced(spark, w, loopS)
          println(summary(s"${w.name} traced", tr))
          tr.errors.foreach(e => println(s"CHECK FAILED $e"))
          correct &&= tr.failed == 0 && tr.errors.isEmpty
          attempted += tr.attempted
          failed += tr.failed
          val overhead = 100.0 * (tr.p50 / base.p50 - 1.0)
          println(f"tracing overhead: latency_p50 ${base.p50}%.3f ms untraced -> ${tr.p50}%.3f ms traced " +
            f"($overhead%+.1f%%), records_per_s ${base.recordsPerS}%.1f -> ${tr.recordsPerS}%.1f")
          // paths this workload does not exercise get a short traced loop of their own
          val others = Workloads.filterNot(_ == w.name).map { name =>
            val o = make(name, a.seed, sizes, a.scratch)
            o.setup(spark, sizes.warmS)
            try {
              val (r, m) = traced(spark, o, math.max(2.0, a.seconds / 4.0))
              println(summary(s"$name traced (secondary)", r))
              r.errors.foreach(e => println(s"CHECK FAILED $e"))
              correct &&= r.failed == 0 && r.errors.isEmpty
              m.filterNot(kv => kv._1.startsWith("spark.") || kv._1.startsWith("jvm."))
            } finally o.teardown()
          }
          // where two secondaries measure the same metric, the first one listed wins
          val values = others.reverse.foldLeft(Map.empty[String, Double])(_ ++ _) ++ main ++
            Probes.run(a.seed, sizes) ++ Map(
              "host.calib_ms" -> calib, "trace.records_per_s" -> tr.recordsPerS,
              "trace.latency_p50_ms" -> tr.p50, "trace.overhead_pct" -> overhead)
          val missing = PerLayer.map(_._1).filterNot(values.contains)
          require(missing.isEmpty, s"per-layer metrics not measured: ${missing.mkString(", ")}")
          PerLayer.map { case (n, u) => (n, u, values(n)) }
        }
      out.foreach { case (n, u, v) => println(f"  $n%-30s ${fmt(v)} $u") }
      val json = resultJson(correct, attempted, failed, out)
      java.nio.file.Files.write(java.nio.file.Paths.get(a.result), json.getBytes("UTF-8"))
    } finally {
      w.teardown()
      spark.stop()
    }
  }
}
