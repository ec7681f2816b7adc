package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints one JSON line. A failed query is
  * recorded as -1 (never a fake timing) and listed in "errors". Every
  * query runs once untimed first — whole-stage-codegen compilation and
  * JIT dominate first executions (10-20x on sub-second queries) and
  * would measure the JVM, not the plan. The timed phase takes the
  * per-query MINIMUM of three runs: the host shares hardware and a
  * single run can catch a 10x external stall (round-5 recorded one at
  * 3x total); the minimum is the standard least-interference estimator
  * of steady-state plan cost.
  *
  * The three timed runs are ROUND-ROBIN passes over the whole suite,
  * not back-to-back repeats of each query: a multi-second host stall
  * then intersects at most one of a query's three runs, so the min
  * survives it. Back-to-back repeats put all three runs of one query
  * inside a single stall window — that is exactly how the r8 official
  * run recorded 7.34 s for a 0.55 s query (BASELINE.md r9 A/B).
  */
object Bench {

  /** The two result lines, extracted so BenchSpec can guard their
    * shape: the FULL line (per-query map — grows with the suite, goes
    * to bench.json / BENCH_OFFICIAL.json and stdout for humans) and
    * the COMPACT line (no per-query map — its length must stay under
    * the driver's ~2000-char output-tail capture at ANY suite size;
    * ANCHORS.json r11_official records what truncation did before the
    * compact form existed). */
  private[graft] def resultLines(
      results: Seq[(String, Double)], staged: Set[String],
      calibs: Seq[Double], errors: List[String], sfDir: String,
      cpus: String, nproc: Int): (String, String) = {
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    // Full JSON escaping (incl. control chars): exception messages are
    // routinely multi-line, and a raw \n here would split the one-line
    // JSON across lines on every channel — unparseable exactly when
    // there are errors to report.
    val errJson = errors.map(Json.quote).mkString("[", ",", "]")
    // Locale.ROOT pinned: the f"" interpolator uses the DEFAULT locale,
    // which renders 0,083 under tr/de and corrupts the JSON — exactly
    // the pathology the matrix's tr_locale cell exists to catch.
    val calibJson = calibs.map(c =>
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(c)))
      .mkString("[", ",", "]")
    // Tag the keys whose timing is a staged-artifact read-back (the
    // streaming gate keys): their minima are NOT streaming throughput
    // and must not be compared as such (r14 advice).
    val stagedJson = staged.toSeq.sorted.map(Json.quote).mkString("[", ",", "]")
    // "cpus" makes each committed artifact self-describing: the c32 and
    // c8 official files differ only in it and in the numbers, so a
    // consumer never has to infer the core count from the file name.
    // "nproc" is the host's processor count beside it, so a c4 line
    // from a 32-core host and one from a 4-core host tell apart.
    val host = s""""cpus":${Json.quote(cpus)},"nproc":$nproc"""
    val line = s"""{"metric":"total","value":$total,"unit":"sec",$host,"queries":$qs,"staged_readback":$stagedJson,"calib":$calibJson,"errors":$errJson,"sf":"$sfDir"}"""
    // "compact":true disambiguates this line from the full one above
    // for any consumer that greps by metric instead of taking the
    // absolute last line — both lines share "metric":"total".
    // The compact line must fit the driver's ~2000-char tail buffer
    // even when queries FAIL — multi-KB exception texts ride only in
    // the full line / bench.json; here each message truncates to 150
    // chars and at most 3 are shown (BenchSpec pins the bound).
    val compactErrs = {
      val shown = errors.take(3).map(e =>
        Json.quote(if (e.length > 150) e.take(150) + "…" else e))
      val more = errors.size - 3
      (if (more > 0) shown :+ Json.quote(s"(+$more more — see bench.json)")
       else shown).mkString("[", ",", "]")
    }
    val compact = s"""{"metric":"total","compact":true,"value":$total,"unit":"sec",$host,"calib":$calibJson,"errors":$compactErrs,"sf":"$sfDir"}"""
    (line, compact)
  }

  /** The committed file a run's full line goes to. The anchor
    * (`BENCH_OFFICIAL.json`, passed as its text) records the core count
    * it was taken at; only a run at that count replaces it, and any
    * other run writes its `BENCH_OFFICIAL_c<cpus>.json` twin. With no
    * anchor yet the run becomes it; an anchor without a `cpus` field is
    * never replaced. The host's own core count plays no part, so a
    * full-machine run on a smaller host cannot overwrite the anchor. */
  private[graft] def officialName(cpus: String, anchor: Option[String]): String = {
    val anchorCpus = anchor.flatMap(
      "\"cpus\":\"([^\"]*)\"".r.findFirstMatchIn(_).map(_.group(1)))
    if (anchor.isEmpty || anchorCpus.contains(cpus)) "BENCH_OFFICIAL.json"
    else s"BENCH_OFFICIAL_c$cpus.json"
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Session.cpus()
    val spark = Session.create()

    val names = SparkEntry.queries.toSeq.sortBy(_._1)
    // Host-interference gauge (Session.calibrate), timed once per pass:
    // when suite totals drift between same-code runs, the calib series
    // says whether the host or a plan moved — what previously took a
    // same-code A/B (BASELINE.md r9) to establish.
    Session.calibrate(spark) // warm the calib plan like every other query
    val calibs = scala.collection.mutable.ArrayBuffer.empty[Double]
    // Anchor-drift instrumentation (r17 verdict item 6, opt-in via
    // SPARK_GRAFT_BENCH_JVMSTATS): per-pass per-key timings (not just
    // the cross-pass min) plus cumulative JIT-compilation and GC time
    // sampled at pass boundaries — the within-JVM series that can
    // attribute a uniform suite smear to JVM state (rising jit/gc
    // deltas, pass1 ≫ pass3) vs host noise (calib moves) vs real plan
    // cost (flat everything, higher floor). Analysis in BASELINE.md.
    val jvmStats = sys.env.contains("SPARK_GRAFT_BENCH_JVMSTATS")
    val passDumps = scala.collection.mutable.ArrayBuffer.empty[String]
    def jitMs: Long = java.lang.management.ManagementFactory
      .getCompilationMXBean.getTotalCompilationTime
    def gcMs: Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime).sum
    }
    // Default 3 passes = the driver contract; SPARK_GRAFT_BENCH_PASSES
    // exists for the JIT-steady-state experiment (BASELINE.md r18): a
    // 6-pass instrumented run shows whether late passes drop once
    // jit_ms finally decays — the growing-suite drift attribution.
    val passes = sys.env.get("SPARK_GRAFT_BENCH_PASSES").map { v =>
      val n = try v.toInt catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"SPARK_GRAFT_BENCH_PASSES must be a positive integer, got '$v'")
      }
      // 0 (or negative) would silently skip every timed pass and emit
      // an all-failed (-1) result file (advice r18) — refuse loudly.
      require(n >= 1, s"SPARK_GRAFT_BENCH_PASSES must be >= 1, got $n")
      n
    }.getOrElse(3)
    var (jit0, gc0) = (0L, 0L)
    val timings = timeKeys(spark, sfDir, names, passes,
      beforePass = () => { calibs += Session.calibrate(spark); jit0 = jitMs; gc0 = gcMs },
      afterPass = passKeys => if (jvmStats) {
        val ks = passKeys.map { case (k, v) =>
          "\"" + k + "\":" + String.format(java.util.Locale.ROOT, "%.4f", Double.box(v))
        }.mkString("{", ",", "}")
        passDumps += s"""{"calib":${String.format(java.util.Locale.ROOT, "%.3f",
          Double.box(calibs.last))},"jit_ms":${jitMs - jit0},"gc_ms":${gcMs - gc0},"keys":$ks}"""
      })
    if (jvmStats) {
      try java.nio.file.Files.writeString(
        java.nio.file.Paths.get("target/bench_jvmstats.json"),
        passDumps.mkString("[", ",\n", "]\n"))
      catch { case e: Throwable =>
        System.err.println(s"[bench] jvmstats write failed: ${e.getMessage}") }
    }
    // The per-query map has grown past what the driver's output tail
    // buffer retains (~3.5 KB at 84 queries): four rounds running the
    // full line was captured starting mid-map and failed to parse. So
    // the ABSOLUTE last line on both streams is a compact summary with
    // no per-query map — it fits any tail buffer (guarded by BenchSpec
    // at 250+ keys). The full line still goes out first on both streams
    // and to bench.json for humans and for the per-query history.
    val (line, compact) = resultLines(timings.seconds, SparkEntry.stagedReadbackKeys,
      calibs.toSeq, timings.errors, sfDir, cpus, Runtime.getRuntime.availableProcessors())
    // The driver extracts this JSON from process output; sbt wraps
    // stdout lines in [info]/[success] noise that has drowned it three
    // rounds running. Emit it on all three channels: stdout, a known
    // file, and (last, after Spark is stopped so no WARN can trail it)
    // stderr as the final lines of the process.
    println(line)
    println(compact)
    try {
      val out = java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "target/bench.json")).toAbsolutePath
      java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.writeString(out, line + "\n")
      // target/ is gitignored, so the full per-query map of an OFFICIAL
      // run survived only as the driver's 2 KB output tail (truncated 4
      // rounds running). A second copy at the repo root is a COMMITTED
      // artifact: each round's official map rides the round commit and
      // tools/anchors.py folds it into the ANCHORS.json series without
      // tail archaeology. The repo root is found by walking up from the
      // CWD to the nearest build.sbt (a bench launched from a subdir
      // must not scatter the official map), and an ad-hoc/experimental
      // run opts out of touching the committed copy with
      // SPARK_GRAFT_BENCH_UNOFFICIAL=1.
      if (!sys.env.contains("SPARK_GRAFT_BENCH_UNOFFICIAL")) {
        val repoRoot = Iterator.iterate(
            java.nio.file.Paths.get("").toAbsolutePath)(_.getParent)
          .takeWhile(_ != null)
          .find(p => java.nio.file.Files.exists(p.resolve("build.sbt")))
        // A run at the anchor's core count updates THE official anchor
        // (BENCH_OFFICIAL.json); any other count writes a per-core-count
        // twin ([[officialName]]) — so neither a c8 scaling run nor a
        // run on a smaller host can clobber the c32 anchor, and the
        // per-query and scaling comparisons read committed FILES, never
        // the 2 KB output tail that truncated the r19 per-query map
        // (PERF_r19.json n_common=0).
        repoRoot match {
          case Some(root) =>
            val anchor = root.resolve("BENCH_OFFICIAL.json")
            val name = officialName(cpus,
              if (java.nio.file.Files.exists(anchor)) Some(java.nio.file.Files.readString(anchor))
              else None)
            java.nio.file.Files.writeString(root.resolve(name), line + "\n")
          case None => System.err.println(
            "[bench] no build.sbt above CWD; skipping BENCH_OFFICIAL.json")
        }
      }
    } catch { case e: Throwable => // the file is a convenience channel;
      System.err.println(s"[bench] bench.json write failed: ${e.getMessage}") }
    spark.stop()
    System.out.flush()
    System.err.println(line)
    System.err.println(compact)
    System.err.flush()
  }

  /** Bench's timing method over `keys`: each runs once untimed (a
    * failure there only prints), then `passes` round-robin passes time
    * `count()` per key. Table caches and fence blocks are released
    * after every run, outside the timed region, so no query's leftovers
    * tax the next. One failure marks a key failed for good: its seconds
    * are -1, never a partial min from the passes that did succeed, and
    * "key: message" joins the errors. `beforePass` and `afterPass` (the
    * pass's per-key seconds) bracket each timed pass. Returns seconds
    * in `keys` order, row counts of the keys that never failed, and the
    * errors in the order they happened. */
  private[graft] def timeKeys(spark: SparkSession, sfDir: String,
      keys: Seq[(String, SparkEntry.Query)], passes: Int,
      beforePass: () => Unit = () => (),
      afterPass: Seq[(String, Double)] => Unit = _ => ()): Timings = {
    def release(): Unit = { spark.catalog.clearCache(); Session.releaseBlocks(spark) }
    keys.foreach { case (name, fn) =>
      try fn(spark, sfDir).count() catch { case e: Throwable =>
        System.err.println(s"[bench] warmup of $name failed: ${e.getMessage}") }
      release()
    }
    val best = scala.collection.mutable.Map.empty[String, Double]
    val rows = scala.collection.mutable.Map.empty[String, Long]
    val failed = scala.collection.mutable.Set.empty[String]
    var errors = List.empty[String]
    (1 to passes).foreach { _ =>
      beforePass()
      val times = keys.filterNot(k => failed(k._1)).flatMap { case (name, fn) =>
        try {
          val t0 = System.nanoTime()
          val n = fn(spark, sfDir).count()
          val elapsed = (System.nanoTime() - t0) / 1e9
          release()
          rows(name) = n
          if (elapsed < best.getOrElse(name, Double.MaxValue)) best(name) = elapsed
          Some(name -> elapsed)
        } catch { case e: Throwable =>
          errors ::= s"$name: ${e.getMessage}"
          failed += name
          best.remove(name)
          rows.remove(name)
          release()
          None
        }
      }
      afterPass(times)
    }
    Timings(keys.map { case (k, _) => k -> best.getOrElse(k, -1.0) }, rows.toMap, errors.reverse)
  }

  private[graft] final case class Timings(
      seconds: Seq[(String, Double)], rows: Map[String, Long], errors: List[String])
}
