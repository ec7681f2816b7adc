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
      cpus: String = "?"): (String, String) = {
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
    val line = s"""{"metric":"total","value":$total,"unit":"sec","cpus":${Json.quote(cpus)},"queries":$qs,"staged_readback":$stagedJson,"calib":$calibJson,"errors":$errJson,"sf":"$sfDir"}"""
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
    val compact = s"""{"metric":"total","compact":true,"value":$total,"unit":"sec","calib":$calibJson,"errors":$compactErrs,"sf":"$sfDir"}"""
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
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // SPARK_GRAFT_CONF="k=v;k=v" overlays builder confs, same contract
    // as Verify's — how config experiments (e.g. join-strategy A/Bs)
    // are measured on the real bench without code edits. Applied last;
    // unset (the driver's case) leaves the builder exactly as below.
    val extraConf = sys.env.get("SPARK_GRAFT_CONF").toSeq
      .flatMap(_.split(';')).map(_.trim).filter(_.nonEmpty)
      .map { kv =>
        // a '='-less token would otherwise die as an opaque MatchError
        // at startup (r19 advice) — name the bad token instead
        require(kv.contains("="),
          s"bad SPARK_GRAFT_CONF entry (expected key=value): '$kv'")
        val Array(k, v) = kv.split("=", 2)
        (k, v)
      }
    val builder = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // recognize the dns scan's KeyGroupedPartitioning (storage-partitioned joins)
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      // The generated-class cache (CodeGenerator.cache) defaults to 100
      // entries; this suite plans ~216 keys × several codegen units per
      // pass (~1k+ distinct generated sources), so at the default every
      // pass evicts everything and re-Janino-compiles the whole suite —
      // the ~45-75 s/pass of HotSpot JIT churn the r18 instrumentation
      // measured (BASELINE.md). Sized to hold the whole suite, repeat
      // passes cache-hit instead (static conf — must be set at builder
      // time). Measured effect recorded in BASELINE.md r19.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.ui.enabled", "false")
    val spark = extraConf.foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    if (extraConf.nonEmpty)
      System.err.println(s"[bench] extra conf: ${extraConf.map(kv => kv._1 + "=" + kv._2).mkString(";")}")
    spark.sparkContext.setLogLevel("WARN")

    // clearCache() drops registered table caches but NOT the RDD blocks
    // that eager localCheckpoint() fences leave in the BlockManager
    // (r19 advice): ~15 checkpointed frames per suite pass × 4 passes
    // accumulate MEMORY_AND_DISK blocks until ContextCleaner GC and
    // smear later-pass timings with memory pressure. Release them
    // deterministically after every query, outside the timed region.
    def releaseBlocks(): Unit =
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))

    // Warmup pass: compile/JIT every plan shape once, untimed. A
    // warmup failure is never fatal here (the timed pass records it as
    // -1 + errors), but it IS surfaced immediately for humans tailing
    // the run.
    SparkEntry.queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).count() catch { case e: Throwable =>
        System.err.println(s"[bench] warmup of $name failed: ${e.getMessage}") }
      spark.catalog.clearCache() // intra-query caches must not leak across queries
      releaseBlocks()
    }

    var errors = List.empty[String]
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
    val best = scala.collection.mutable.Map.empty[String, Double]
    val failed = scala.collection.mutable.Set.empty[String]
    // Host-interference gauge: a fixed data-independent workload timed
    // once per pass. Same plan, same cardinality, every round — so when
    // suite totals drift between same-code runs, the calib series says
    // whether the HOST moved (calib drifts with it) or a plan regressed
    // (calib flat). Quantifies what previously took a same-code A/B
    // (BASELINE.md r9) to establish.
    def calibrate(): Double = {
      val t0 = System.nanoTime()
      spark.range(200000000L).selectExpr("sum(id * 3 + 1) AS s").count()
      (System.nanoTime() - t0) / 1e9
    }
    calibrate() // warm the calib plan like every other query
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
    (1 to passes).foreach { _ =>
      calibs += calibrate()
      val passKeys = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
      val (jit0, gc0) = (jitMs, gcMs)
      names.foreach { case (name, fn) =>
        if (!failed(name)) {
          try {
            val t0 = System.nanoTime()
            fn(spark, sfDir).count()
            val elapsed = (System.nanoTime() - t0) / 1e9
            spark.catalog.clearCache()
            releaseBlocks()
            if (elapsed < best.getOrElse(name, Double.MaxValue)) best(name) = elapsed
            if (jvmStats) passKeys += name -> elapsed
          } catch { case e: Throwable =>
            // one failure marks the query failed for good: -1, never a
            // partial min from the passes that did succeed
            errors ::= s"$name: ${e.getMessage}"
            failed += name
            best.remove(name)
            spark.catalog.clearCache()
            releaseBlocks()
          }
        }
      }
      if (jvmStats) {
        val ks = passKeys.map { case (k, v) =>
          "\"" + k + "\":" + String.format(java.util.Locale.ROOT, "%.4f", Double.box(v))
        }.mkString("{", ",", "}")
        passDumps += s"""{"calib":${String.format(java.util.Locale.ROOT, "%.3f",
          Double.box(calibs.last))},"jit_ms":${jitMs - jit0},"gc_ms":${gcMs - gc0},"keys":$ks}"""
      }
    }
    if (jvmStats) {
      try java.nio.file.Files.writeString(
        java.nio.file.Paths.get("target/bench_jvmstats.json"),
        passDumps.mkString("[", ",\n", "]\n"))
      catch { case e: Throwable =>
        System.err.println(s"[bench] jvmstats write failed: ${e.getMessage}") }
    }
    val results = names.map { case (name, _) => name -> best.getOrElse(name, -1.0) }
    // The per-query map has grown past what the driver's output tail
    // buffer retains (~3.5 KB at 84 queries): four rounds running the
    // full line was captured starting mid-map and failed to parse. So
    // the ABSOLUTE last line on both streams is a compact summary with
    // no per-query map — it fits any tail buffer (guarded by BenchSpec
    // at 250+ keys). The full line still goes out first on both streams
    // and to bench.json for humans and for the per-query history.
    val (line, compact) = resultLines(results, SparkEntry.stagedReadbackKeys,
      calibs.toSeq, errors.reverse, sfDir, cpus)
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
}
