package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench main's LAST stdout/stderr line is what the driver's
  * output-tail buffer (~2000 chars) actually captures; ANCHORS.json
  * r11_official records a round where a growing per-query map pushed
  * the parseable JSON out of the buffer. The compact line exists to be
  * immune to suite growth — this spec pins that property at 250+ keys
  * so the suite can keep growing without re-discovering the truncation
  * the hard way (r15 verdict item 9). */
class BenchSpec extends AnyFunSuite {

  /** The driver captures roughly the last 2000 chars of output; leave
    * headroom for the shell/sbt line noise that shares the buffer. */
  private val DriverCaptureLimit = 2000

  private def lines(nKeys: Int, errors: List[String]) =
    Bench.resultLines(
      (1 to nKeys).map(i => f"q_synthetic_key_with_a_long_name_$i%03d" -> 1.234),
      staged = Set("q_dns_stream", "q_cdc_stream"),
      calibs = Seq(0.083, 0.413, 0.28),
      errors = errors,
      sfDir = "/root/testdata/sf0.1",
      cpus = "32",
      nproc = 4)

  test("compact line stays under the driver capture limit at 250 keys") {
    val (_, compact) = lines(250, Nil)
    assert(compact.length < DriverCaptureLimit,
      s"compact line is ${compact.length} chars — the driver tail would truncate it")
    assert(!compact.contains('\n'))
  }

  test("compact line length is independent of suite size") {
    // the rendered TOTAL legitimately grows a few chars with the suite;
    // normalize it away so the assert pins the structural fields only
    def normalized(s: String) = s.replaceAll(""""value":[-0-9.eE]+""", """"value":X""")
    val (_, c1) = lines(10, Nil)
    val (_, c2) = lines(1000, Nil)
    assert(normalized(c1).length == normalized(c2).length,
      "a per-query term leaked into the compact line — it will outgrow the tail buffer")
  }

  test("full line carries the per-query map; compact is flagged and does not") {
    val (full, compact) = lines(5, Nil)
    assert(full.contains("\"queries\":{"))
    assert(full.contains("q_synthetic_key_with_a_long_name_003"))
    assert(compact.contains("\"compact\":true"))
    assert(!compact.contains("\"queries\""))
  }

  test("full line self-describes its core count (official c32/c8 twins)") {
    // BENCH_OFFICIAL.json vs BENCH_OFFICIAL_c8.json differ only in the
    // numbers; the cpus field is what lets a consumer confirm which run
    // it is reading without trusting the file name.
    val (full, _) = lines(5, Nil)
    assert(full.contains("\"cpus\":\"32\""), full.take(200))
  }

  test("both lines carry the host's processor count beside cpus") {
    // a c4 line from a 32-core host and one from a 4-core host must
    // tell apart: nproc is availableProcessors, cpus the configured count
    val (full, compact) = lines(5, Nil)
    Seq(full, compact).foreach(l =>
      assert(l.contains("\"cpus\":\"32\",\"nproc\":4"), l.take(200)))
  }

  test("multi-line error messages stay on one escaped line in both forms") {
    val err = "q_x: Job aborted.\nCaused by:\n\tboom [id=\"y\"]"
    val (full, compact) = lines(3, List(err))
    assert(!full.contains('\n') && !compact.contains('\n'))
    assert(compact.contains("\\n") && compact.contains("\\\""))
  }

  test("compact line stays bounded even when many queries fail with huge messages") {
    // the capture-limit property must hold exactly when it matters —
    // failures: each compact error truncates to 150 chars, at most 3
    // shown, the rest summarized (full detail rides the full line)
    val errs = (1 to 10).map(i => s"q_$i: " + ("Caused by: boom\n" * 200)).toList
    val (full, compact) = lines(250, errs)
    assert(compact.length < DriverCaptureLimit,
      s"compact line with failures is ${compact.length} chars")
    assert(compact.contains("+7 more"))
    assert(full.contains("q_10")) // the full line keeps every message
    assert(!compact.contains('\n'))
  }

  test("official file routes on the committed anchor's core count, not the host's") {
    val c32 = """{"metric":"total","value":73.1,"unit":"sec","cpus":"32","queries":{}}"""
    assert(Bench.officialName("32", Some(c32)) == "BENCH_OFFICIAL.json")
    assert(Bench.officialName("8", Some(c32)) == "BENCH_OFFICIAL_c8.json")
    assert(Bench.officialName("4", Some(c32)) == "BENCH_OFFICIAL_c4.json")
    // no anchor yet: the run becomes it; an unstamped one is never replaced
    assert(Bench.officialName("4", None) == "BENCH_OFFICIAL.json")
    assert(Bench.officialName("4", Some("""{"metric":"total","value":1.0}""")) ==
      "BENCH_OFFICIAL_c4.json")
  }

  test("the committed anchor is replaced only by a run at its own core count") {
    val anchor = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("BENCH_OFFICIAL.json")), "UTF-8")
    val cpus = """"cpus":"([^"]*)"""".r.findFirstMatchIn(anchor).map(_.group(1))
    assert(cpus.nonEmpty, "BENCH_OFFICIAL.json must record its core count")
    assert(Bench.officialName(cpus.get, Some(anchor)) == "BENCH_OFFICIAL.json")
    val other = (cpus.get.toInt + 1).toString
    assert(Bench.officialName(other, Some(anchor)) == s"BENCH_OFFICIAL_c$other.json")
  }

  test("the shared timing loop records a failing key as -1 plus an error") {
    val spark = SparkTestSession.spark
    var passes = 0
    val keys: Seq[(String, SparkEntry.Query)] = Seq(
      "q_good" -> ((s, _) => s.range(7).toDF("id")),
      "q_bad" -> ((_, _) => throw new IllegalStateException("boom")))
    val t = Bench.timeKeys(spark, "/unused", keys, passes = 2, beforePass = () => passes += 1)
    assert(passes == 2)
    assert(t.seconds.map(_._1) == Seq("q_good", "q_bad"))
    assert(t.seconds.toMap.apply("q_good") >= 0 && t.seconds.toMap.apply("q_bad") == -1.0)
    assert(t.rows == Map("q_good" -> 7L))
    assert(t.errors == List("q_bad: boom"))
  }
}
