package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, CartesianProductExec}

/** Physical-plan audits: the properties that make a plan survive a
  * 100x scale-up are asserted, not hoped for. Filters must reach the
  * parquet scan, scans must not read unprojected columns, and no query
  * may plan a cartesian product (the brute-force kNN's broadcast
  * nested loop is the one intentional exception, asserted as such). */
class PlanAuditSpec extends AnyFunSuite {
  private lazy val spark = graft.SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  private def executed(df: DataFrame): SparkPlan = {
    df.collect() // finalize AQE so the audited plan is the real one
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
  }

  private def planString(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  private def collectNodes(p: SparkPlan): Seq[SparkPlan] = {
    // AQE query stages are leaf nodes whose real subtree hangs off
    // .plan, not .children — without this case the traversal stops at
    // every stage boundary and node-presence assertions go vacuous.
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _ => p.children
    }
    (p +: kids.flatMap(collectNodes)) ++ p.subqueries.flatMap(collectNodes)
  }

  test("q1: shipdate filter is pushed to the lineitem parquet scan") {
    val s = planString(Relational.q1PricingSummary(spark, dir))
    assert(s.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"), s)
  }

  test("q1: scan reads only the 7 referenced lineitem columns") {
    val s = planString(Relational.q1PricingSummary(spark, dir))
    val readSchema = s.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_returnflag"))
    assert(!readSchema.contains("l_comment"), readSchema)
    assert(!readSchema.contains("l_orderkey"), readSchema)
  }

  test("q_dns_runtime_prune: the DPP runtime filter reaches the DNS scan") {
    val wire = Connector.seedRuntimePruneFixture(spark, dir)
    val joined = Connector.runtimePruneJoin(spark, dir, wire)
    val s = planString(joined)
    // the planner planted a dynamic-pruning subquery on the scan side…
    assert(s.contains("dynamicpruning"), s)
    // …and the filter reached DnsScan.filter, not just the plan header:
    // only the two wanted zones' transfers actually ran
    assert(wire.backing.transferCount == 2L,
      s"expected 2 transfers after runtime pruning, got ${wire.backing.transferCount}")
  }

  test("q_dns_pushdown: every probe keeps its pushed shape through the union") {
    // A branch that lost its push still returns the oracle's rows (Spark
    // finishes the filter/limit/sort itself), so only the plan shows it.
    import org.apache.spark.sql.execution.UnionExec
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val p = executed(Connector.qDnsPushdown(spark, dir))
    val unions = collectNodes(p).collect { case u: UnionExec => u }
    assert(unions.size == 1, p.toString)
    val branches = unions.head.children.map { child =>
      val nodes = collectNodes(child)
      val scans = nodes.collect { case b: BatchScanExec => b.scan.description() }
      assert(scans.size == 1, child.toString)
      (scans.head, nodes.map(_.nodeName))
    }
    def branch(what: String)(pick: String => Boolean): Seq[String] = {
      val hits = branches.filter(b => pick(b._1))
      assert(hits.size == 1, s"$what: expected one branch, got ${branches.map(_._1)}")
      hits.head._2
    }
    val sortOrLimit = (n: String) =>
      n.contains("Sort") || n.contains("Limit") || n.contains("TakeOrdered") || n.contains("Offset")
    // zone_pruned: the zone predicate reached the scan, nothing else pushed
    branch("zone_pruned")(d => d.contains("PushedPredicates=[") &&
      !d.contains("PushedLimit") && !d.contains("PushedTopN") && !d.contains("PushedOffset"))
    // limit: COMPLETE push over the one pruned zone, no Limit above it
    val limit = branch("limit")(_.contains("PushedLimit=LIMIT 5"))
    assert(!limit.exists(sortOrLimit), limit)
    // topn: PARTIAL push over four zones, Spark's TakeOrdered merges
    val topn = branch("topn")(d =>
      d.contains("PushedTopN=[ORDER BY fqdn ASC LIMIT 7]") && !d.contains("PushedOffset"))
    assert(topn.exists(_.contains("TakeOrdered")), topn)
    // offset: COMPLETE TopN + offset push, no Sort/Limit above it
    val offset = branch("offset")(d =>
      d.contains("PushedTopN=[ORDER BY fqdn ASC LIMIT 7]") && d.contains("PushedOffset=OFFSET 2"))
    assert(!offset.exists(sortOrLimit), offset)
  }

  test("packed dns scan: global COUNT(*), LIMIT and TopN over two-zone packs keep Spark's final operator") {
    // 8 zones on local[4] pack two to a partition, so each pushed
    // operator runs per pack and Spark's own node must finish it.
    import org.apache.spark.sql.functions.{col, count, lit}
    import org.apache.spark.sql.execution.{CollectLimitExec, GlobalLimitExec, TakeOrderedAndProjectExec}
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import graft.sources.dns.{ARecord, Loopback}
    Loopback.withServer { wire =>
      val zones = (0 until 8).map(i => s"pk$i.graft.")
      zones.zipWithIndex.foreach { case (z, i) =>
        wire.backing.addZone(z, (0 to i).map(j => ARecord(s"h$j.$z", s"10.$i.0.$j")))
      }
      def load() = spark.read.format("dns")
        .option("server", wire.host).option("port", wire.port.toString)
        .option("organization", "graft").option("zones", zones.mkString(","))
        .option("xfr", "AXFR").load()
      def audit(df: DataFrame, pushed: String): Seq[SparkPlan] = {
        val nodes = collectNodes(executed(df))
        val scans = nodes.collect { case b: BatchScanExec => b }
        assert(scans.size == 1 && scans.head.inputRDD.getNumPartitions == 4, nodes.mkString("\n"))
        assert(scans.head.scan.description().contains(pushed), scans.head.scan.description())
        nodes
      }
      val total = load().agg(count(lit(1)))
      assert(audit(total, "PushedAggregation=[COUNT(*)]").exists(_.isInstanceOf[HashAggregateExec]))
      assert(total.collect()(0).getLong(0) == (1 to 8).sum)

      val limited = load().limit(5)
      assert(audit(limited, "PushedLimit=LIMIT 5").exists(n =>
        n.isInstanceOf[CollectLimitExec] || n.isInstanceOf[GlobalLimitExec]))
      assert(limited.collect().length == 5)

      val top = load().orderBy(col("fqdn").desc).limit(7)
      assert(audit(top, "PushedTopN=[ORDER BY fqdn DESC LIMIT 7]")
        .exists(_.isInstanceOf[TakeOrderedAndProjectExec]))
      val fqdns = zones.zipWithIndex.flatMap { case (z, i) => (0 to i).map(j => s"h$j.$z") }
      assert(top.collect().map(_.getAs[String]("fqdn")).toSeq == fqdns.sorted.reverse.take(7))
    }
  }

  test("q_dns_auto_broadcast: reported statistics drive a hint-free static broadcast of the DNS side") {
    val wire = Connector.seedAutoBroadcastFixture()
    val df = Connector.autoBroadcastJoin(spark, wire)
    // The connector's estimate is what the optimizer sees: 4 surviving
    // zones × the 256 KiB default — not defaultSizeInBytes (Long.Max).
    val v2 = df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r
    }
    assert(v2.nonEmpty, df.queryExecution.optimizedPlan.toString)
    assert(v2.head.stats.sizeInBytes == BigInt(4L * 256 * 1024),
      s"dns scan stats: ${v2.head.stats}")
    // no hint anywhere in the user plan…
    assert(!df.queryExecution.logical.toString.toLowerCase.contains("hint"))
    // …and STATIC planning (pre-AQE sparkPlan — AQE could rescue the
    // no-stats case at runtime, which is exactly what this must not
    // depend on) already chose a broadcast hash join.
    val staticPlan = df.queryExecution.sparkPlan
    val bhj = staticPlan.collect { case b: BroadcastHashJoinExec => b }
    assert(bhj.nonEmpty, staticPlan.toString)
    // the broadcast (build) side is the DNS scan, not the 3M-row logs
    val build = bhj.map(b =>
      if (b.buildSide.toString.contains("Right")) b.right else b.left).mkString
    assert(build.contains("class graft.sources.dns.read.DnsScan") || build.contains("dns("),
      s"build side is not the dns scan: $build")
  }

  test("dns column statistics: CBO reorders a 3-way join so the small estates join first") {
    // The scan reports numRows (zones x estimated-zone-bytes / 128) and EXACT
    // per-column statistics for `zone` (the zone list is
    // configuration: ndv = surviving zones, zero nulls). Under CBO,
    // that is everything CostBasedJoinReorder needs to move a join
    // written worst-first (big estate innermost) into cheapest-first
    // order — the multi-way-join payoff column statistics exist for.
    val wire = Connector.seedAutoBroadcastFixture()
    def estate(zones: String, rowsPerZone: Long) =
      spark.read.format("dns")
        .option("server", wire.host).option("port", wire.port.toString)
        .option("organization", "graft")
        .option("zones", zones)
        .option("xfr", "AXFR")
        .option("estimated-zone-bytes", (rowsPerZone * 128L).toString)
        .load()
        .select(org.apache.spark.sql.functions.col("zone"),
          org.apache.spark.sql.functions.col("fqdn"))
    val big = estate("z0.graft,z1.graft,z2.graft,z3.graft", 100000L) // 400k rows, ndv 4
    val mid = estate("z0.graft,z1.graft", 1000L) //   2k rows, ndv 2
    val small = estate("z0.graft", 10L) //  10 rows, ndv 1
    // condition graph: both joins key on BIG's zone attribute, so the
    // reorderer's legal trees are (big><mid)><small — written order,
    // 2e8-row intermediate — and (big><small)><mid — 1e6. Identify the
    // mid estate by its exact zone list.
    def joined() = big.join(mid, Seq("zone")).join(small, Seq("zone"))
    def innermost(df: org.apache.spark.sql.DataFrame) = {
      val joins = df.queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
      }
      assert(joins.length == 2, df.queryExecution.optimizedPlan.toString)
      joins.find(j => !j.children.exists(
        _.exists(_.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Join]))).get
    }
    val midList = "[z0.graft.,z1.graft.]"
    // without CBO the written (worst) order survives
    assert(innermost(joined()).toString.contains(midList))
    val restore = Seq("spark.sql.cbo.enabled", "spark.sql.cbo.joinReorder.enabled")
      .map(k => k -> spark.conf.get(k))
    try {
      spark.conf.set("spark.sql.cbo.enabled", "true")
      spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
      val df = joined()
      // the reported statistics reached the logical relation…
      val rels = df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r
      }
      val bigRel = rels.find(_.scan.description().contains("z3.graft.")).get
      assert(bigRel.stats.rowCount.contains(BigInt(400000L)), bigRel.stats.toString)
      val zoneStat = bigRel.stats.attributeStats.find(_._1.name == "zone")
      assert(zoneStat.exists(_._2.distinctCount.contains(BigInt(4))),
        s"zone column stats missing: ${bigRel.stats.attributeStats}")
      // …and CostBasedJoinReorder moved the mid estate out of the
      // innermost join: the 10-row estate now joins first
      val in = innermost(df)
      assert(!in.toString.contains(midList),
        s"CBO did not reorder the join:\n${df.queryExecution.optimizedPlan}")
      assert(in.toString.contains("z3.graft."), in.toString)
    } finally restore.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("q_dns_spj: zone-keyed join of two dns scans is storage-partitioned — zero hash exchanges") {
    // The scan reports KeyGroupedPartitioning(zone) and every
    // InputPartition exposes its zone via HasPartitionKey, so with
    // v2 bucketing enabled the records ⋈ census join (and the census
    // groupBy feeding it) must plan with NO hash shuffle at all — the
    // only exchange in the whole plan is the final orderBy's range
    // partitioning. A regression in the partitioning report would
    // surface here as hash exchanges under the join.
    val wire = Connector.seedSpjFixture()
    val nodes = collectNodes(executed(Connector.spjJoin(spark, wire)))
    val hashExchanges = nodes.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
        if e.outputPartitioning.isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] => e
    }
    assert(hashExchanges.isEmpty,
      s"expected a storage-partitioned join (0 hash exchanges), got ${hashExchanges.size}:\n${hashExchanges.mkString("\n")}")
    val smj = nodes.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }
    assert(smj.nonEmpty, "expected a SortMergeJoin (merge hint) over the key-grouped scans")
    // SupportsReportOrdering: zone is constant within a partition, so
    // the scan reports `zone ASC` and the merge join's sort
    // requirement is satisfied straight off the scan — the RECORDS
    // side (every transferred row) must stream into the join with NO
    // SortExec. The census side legitimately re-sorts AFTER its
    // aggregation (a hash aggregate erases ordering; its input is one
    // row per zone, so that sort is zone-count-sized, not data-sized).
    smj.foreach { j =>
      val sortsOverRawScan = j.children.flatMap(collectNodes).collect {
        case s: org.apache.spark.sql.execution.SortExec
          if !collectNodes(s).exists(
            _.isInstanceOf[org.apache.spark.sql.execution.aggregate.HashAggregateExec]) => s
      }
      assert(sortsOverRawScan.isEmpty,
        s"reported ordering should eliminate the record-side sort, got:\n${sortsOverRawScan.mkString("\n")}")
    }
  }

  test("spj subset: zone pruning composes with the storage-partitioned join") {
    // Census filtered to 2 of 4 zones: the predicate propagates across
    // the join's equi-condition, so BOTH scans statically prune to the
    // two zones (2 transfers each side, not 4) AND the join still runs
    // storage-partitioned — the estate-reconciliation-over-a-subset
    // shape. Matched partition values after pruning mean zero hash
    // exchanges, same as the full join.
    val wire = Connector.seedSpjFixture()
    val df = Connector.spjSubsetJoin(spark, wire)
    df.collect()
    assert(df.count() == 24, s"expected 11+13 rows for z1/z3, got ${df.count()}")
    val nodes = collectNodes(executed(df))
    val scans = nodes.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scans.size == 2, s"expected 2 dns scans, got ${scans.size}")
    scans.foreach { sc =>
      val desc = sc.scan.description()
      assert(desc.contains("zones=z1.graft.,z3.graft."),
        s"scan not pruned to the census subset: $desc")
    }
    val hashExchanges = nodes.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
        if e.outputPartitioning.isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] => e
    }
    assert(hashExchanges.isEmpty, s"pruned SPJ re-shuffled: ${hashExchanges.mkString("\n")}")
  }

  test("q_dns_metadata_cols: requested metadata columns reach the pruned scan schema") {
    val s = planString(Connector.qDnsMetadataCols(spark, dir))
    assert(s.contains("_serial") && s.contains("_xfr_kind"), s)
    // pruned, not full-schema: an unprojected data column doesn't survive
    assert(!s.contains("organization"), s)
  }

  test("q_survivorship: golden record is ONE hash aggregate — no window, no join") {
    // The survivorship claim vs the oracle's window+join form: every
    // field resolves inside a single partial-aggregated hash aggregate
    // (max_by FILTER), so profile state is <= 1 value per field per key
    // and the only wide node is the final orderBy.
    val nodes = collectNodes(executed(Relational.qSurvivorship(spark, dir)))
    assert(nodes.collect { case w: org.apache.spark.sql.execution.window.WindowExec => w }.isEmpty,
      "survivorship must not plan a window")
    assert(nodes.collect { case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j }.isEmpty
      && nodes.collect { case j: BroadcastHashJoinExec => j }.isEmpty,
      "survivorship must not plan a join")
    // struct-ordered max_by buffers aren't mutable-fixed-width, so the
    // aggregate plans as SortAggregate — the partial/final split (map-
    // side state per key) is the property, not the exec flavor
    val partials = nodes.collect {
      case h: org.apache.spark.sql.execution.aggregate.BaseAggregateExec
        if h.aggregateExpressions.exists(_.mode.toString.contains("Partial")) => h
    }
    assert(partials.nonEmpty, "expected a map-side partial aggregate")
  }

  test("q_ngram_novelty: train-gram membership is an equi-join, never a nested loop") {
    val p = executed(PipelineOps.qNgramNovelty(spark, dir))
    val s = p.toString
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"), s)
  }

  test("q_token_edit_pairs: candidates from a segment equi-join, cap windows partitioned") {
    // The PassJoin pigeonhole must stay an equi-join on
    // (l, seg, substring) — a degradation to all-pairs would surface
    // as a CartesianProduct/BNLJ — and both bucket-cap rank windows
    // must partition by the join key, never run global.
    import org.apache.spark.sql.execution.window.WindowExec
    val p = executed(TextOps.qTokenEditPairs(spark, dir))
    val s = p.toString
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"), s)
    val windows = collectNodes(p).collect { case w: WindowExec => w }
    assert(windows.size >= 2, s"expected both bucket-cap rank windows:\n$s")
    windows.foreach(w => assert(w.partitionSpec.nonEmpty, s"unpartitioned window:\n$w"))
  }

  test("q_budget_select: cutoff windows run over the histogram, never the corpus") {
    // The whole point of the histogram form: every ordered window sits
    // ABOVE the (source, stop_bp) aggregate — its input is bounded by
    // sources × 10001 levels, not document count — and every window is
    // source-partitioned (a global sort would be the 100 TB killer).
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, SortAggregateExec}
    val p = executed(PipelineOps.qBudgetSelect(spark, dir))
    assert(!p.toString.contains("CartesianProduct"), p.toString)
    val windows = collectNodes(p).collect { case w: WindowExec => w }
    assert(windows.nonEmpty, "expected the budget/cumsum windows")
    windows.foreach { w =>
      assert(w.partitionSpec.nonEmpty, s"unpartitioned window:\n$w")
      assert(collectNodes(w.child).exists(n =>
        n.isInstanceOf[HashAggregateExec] || n.isInstanceOf[SortAggregateExec]),
        s"window reads the raw corpus, not the histogram:\n$w")
    }
  }

  test("q_winnow_fingerprint: selection is per-row HOF arithmetic — no join, no explode") {
    // The winnowing rule runs inside one projection (packed-key
    // array_min); the only exchange is the final orderBy.
    val p = executed(PipelineOps.qWinnowFingerprint(spark, dir))
    val s = p.toString
    assert(!s.contains("Join"), s)
    assert(!s.contains("Generate"), s) // no explode — grams stay in-array
  }

  test("q_shared_spans: pair stage is a whash equi-join, island windows stay partitioned") {
    // The span merge must never plan an unkeyed pair stage or a
    // global window — both would be corpus² at scale.
    import org.apache.spark.sql.execution.window.WindowExec
    val p = executed(PipelineOps.qSharedSpans(spark, dir))
    assert(!p.toString.contains("CartesianProduct"), p.toString)
    assert(!p.toString.contains("BroadcastNestedLoopJoin"), p.toString)
    val windows = collectNodes(p).collect { case w: WindowExec => w }
    assert(windows.nonEmpty, "expected the island row_number window")
    windows.foreach(w => assert(w.partitionSpec.nonEmpty, s"unpartitioned window:\n$w"))
  }

  test("q_sq8_recall: per-dim stats broadcast, pair stage is the labeled asymmetric scan") {
    // The per-dim [min, max] rollup collapses to ONE broadcast row
    // (like the trained-codebook metadata); the scoring pass is the
    // same intentional broadcast-queries corpus scan as the brute/ADC
    // baselines — a broadcast NL by design, never a CartesianProduct.
    val p = executed(PqOps.qSq8Recall(spark, dir))
    val s = p.toString
    assert(!s.contains("CartesianProduct"), s)
    assert(s.contains("BroadcastExchange"), s)
  }

  test("q_rp_recall: the sign matrix is one broadcast row, never a shuffle side") {
    // The JL matrix is index metadata — 16×64 signs computed once and
    // broadcast (like the SQ8 range arrays); the scoring pass is the
    // labeled asymmetric broadcast scan, never a CartesianProduct.
    val p = executed(EmbeddingOps.qRpRecall(spark, dir))
    val s = p.toString
    assert(!s.contains("CartesianProduct"), s)
    assert(s.contains("BroadcastExchange"), s)
  }

  test("q_source_overlap: exact pair stage is a whash equi-join, sketches broadcast") {
    // The only corpus-sized shuffles are keyed by the shingle hash
    // (distinct + the exact-intersection self-join); the sources²
    // combine runs over broadcast per-source rows. A degradation to
    // an unkeyed pair stage would surface as a CartesianProduct.
    val p = executed(PipelineOps.qSourceOverlap(spark, dir))
    val s = p.toString
    assert(!s.contains("CartesianProduct"), s)
    // keyed on whash whichever equi strategy the optimizer picks —
    // a shuffle on whash or a hash join built on it
    assert(s.contains("hashpartitioning(whash")
      || s.contains("BroadcastHashJoin [whash")
      || s.contains("ShuffledHashJoin [whash"), s)
  }

  test("q3: no SF-scaling table is broadcast by hint (AQE decides)") {
    // At sf0.001 AQE may legitimately choose broadcast for small
    // runtime sizes; what must NOT appear is a build side pinned by an
    // explicit hint in the logical plan.
    val logical = Relational.q3ShippingPriority(spark, dir)
      .queryExecution.logical.toString
    assert(!logical.contains("UnresolvedHint"), logical)
    assert(!logical.toLowerCase.contains("hint"), logical)
  }

  test("q5: only fixed-size dims carry broadcast hints") {
    val analyzed = Relational.q5RegionRevenue(spark, dir)
      .queryExecution.analyzed.toString
    val hints = analyzed.linesIterator.filter(_.contains("ResolvedHint")).toSeq
    // exactly the two hand-hinted broadcasts: region and nation
    assert(hints.size == 2, analyzed)
  }

  test("no query plans a cartesian product (kNN nested-loop excepted)") {
    graft.SparkEntry.queries.foreach { case (name, fn) =>
      val plan = executed(fn(spark, dir))
      val cartesians = collectNodes(plan).collect { case c: CartesianProductExec => c }
      assert(cartesians.isEmpty, s"$name plans a CartesianProduct")
    }
  }

  test("q_quality_classifier: model scoring is map-only — no join, no explode") {
    // The weight vector rides inside the scoring expression (a
    // broadcast in spirit); document text must never shuffle. The only
    // exchanges are the bounded (lang, source) rollup and the orderBy.
    val s = planString(CurationOps.qQualityClassifier(spark, dir))
    assert(!s.contains("Join"), s)
    assert(!s.contains("Generate"), s) // words stay in-array
    assert(s.contains("partial_sum"), s) // rollup is map-side combined
  }

  test("q_line_dedup: frequency join is keyed on the line hash, never unkeyed") {
    // Document frequencies join back on the 60-bit line key — a
    // broadcast at fixture scale, a co-partitioned hash join at corpus
    // scale; either way the join must be EQUI on lh (an unkeyed pair
    // stage would be lines² at 100 TB).
    val s = planString(CurationOps.qLineDedup(spark, dir))
    assert(!s.contains("CartesianProduct"), s)
    assert(!s.contains("BroadcastNestedLoopJoin"), s)
    assert(s.contains("hashpartitioning(lh")
      || s.contains("BroadcastHashJoin [lh")
      || s.contains("ShuffledHashJoin [lh"), s)
  }

  test("q_link_pagerank: graph is materialized once, every rank step is keyed") {
    // The checkpointed edge list shows up as ONE ExistingRDD scanned
    // per unrolled round (never re-derived from the parquet scan), the
    // rank ⋈ edges step is an equi-join on src, and the only
    // nested-loop joins are the 1-row broadcast of the node count.
    val p = executed(CurationOps.qLinkPagerank(spark, dir))
    val s = p.toString
    assert(!s.contains("CartesianProduct"), s)
    assert(s.contains("ExistingRDD"), s) // the localCheckpointed graph
    assert(s.contains("hashpartitioning(src")
      || s.contains("BroadcastHashJoin [src")
      || s.contains("ShuffledHashJoin [src"), s)
    // dst-sum is partial-aggregated map-side (in-edge skew lands in
    // the combiner, not one reducer)
    assert(s.contains("partial_sum"), s)
  }

  test("q_inverted_index: both aggregation levels partial-aggregate map-side") {
    // postings ((th, doc) tf) and the per-term rollup must both
    // combine before shuffling — a term repeated in one doc, and a
    // term's postings within one partition, compact locally
    val s = planString(CurationOps.qInvertedIndex(spark, dir))
    assert(!s.contains("Join"), s)
    assert(s.contains("partial_count"), s)
  }

  test("q_bm25_topk: query terms broadcast onto postings; top-k is bounded-state agg, not a window") {
    // candidate volume must be keyed by the term hash (inverted-index
    // economics: ∝ Σ df of query terms, not corpus size) and the
    // per-query top-5 must never sort a query's full candidate set
    import org.apache.spark.sql.execution.window.WindowExec
    val p = executed(CurationOps.qBm25TopK(spark, dir))
    val s = p.toString
    assert(!s.contains("CartesianProduct"), s)
    assert(s.contains("BroadcastHashJoin [th")
      || s.contains("hashpartitioning(th")
      || s.contains("ShuffledHashJoin [th"), s)
    assert(collectNodes(p).collect { case w: WindowExec => w }.isEmpty,
      "top-k must be the TopKAgg aggregator, not a rank window")
  }

  test("q_phrase_search: term pulls broadcast on th, adjacency stays equi") {
    // the phrase-term pull must be keyed on the term hash (work ∝
    // df, the positional-index economics) and the adjacency join is
    // equi on (query, doc, pos) — an unkeyed stage would be positions².
    // The pull is audited PRE-checkpoint (qPhraseSearch materializes
    // the df-sized match frame once, which truncates the final plan's
    // lineage to an RDD scan — the r19 single-pass rewrite).
    val (tokpos, ph) = CurationOps.phraseInputs(spark, dir)
    val pull = planString(CurationOps.phrasePullPlan(tokpos, ph))
    assert(!pull.contains("CartesianProduct"), pull)
    assert(!pull.contains("BroadcastNestedLoopJoin"), pull)
    assert(pull.contains("BroadcastHashJoin [th")
      || pull.contains("hashpartitioning(th"), pull)
    val s = planString(CurationOps.qPhraseSearch(spark, dir))
    assert(!s.contains("CartesianProduct"), s)
    assert(!s.contains("BroadcastNestedLoopJoin"), s)
  }

  test("q_postings_merge: pure union-of-aggregates — no join anywhere") {
    val s = planString(CurationOps.qPostingsMerge(spark, dir))
    assert(!s.contains("Join"), s)
    assert(s.contains("partial_count"), s)
  }

  test("q_compression_ratio: deflate is per-partition map work — no join, one sort exchange") {
    // the codec seam must stay a map pass: one object-seam
    // mapPartitions, then the band projection; the ONLY exchange is
    // the presentation orderBy
    val p = executed(TextOps.qCompressionRatio(spark, dir))
    val s = p.toString
    assert(!s.contains("Join"), s)
    assert(!s.contains("Generate"), s)
    val exchanges = collectNodes(p).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e }
    assert(exchanges.size <= 1, s"expected only the orderBy exchange:\n$s")
  }

  test("q_sentence_split: boundary detection is HOF-only — no join, no explode") {
    val p = executed(TextOps.qSentenceSplit(spark, dir))
    val s = p.toString
    assert(!s.contains("Join"), s)
    assert(!s.contains("Generate"), s) // tokens/bounds stay in-array
    val exchanges = collectNodes(p).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e }
    assert(exchanges.size <= 1, s"expected only the orderBy exchange:\n$s")
  }

  test("q_bpe_tokens: the native expression is in the plan, no join, no explode") {
    val p = executed(TextOps.qBpeTokens(spark, dir))
    val s = p.toString
    assert(s.contains("bpe_encode"), s) // the heap-merge expression, not a chain
    assert(!s.contains("Join"), s)
    assert(!s.contains("Generate"), s)
  }

  test("q_warc_ingest: parse feeds projections without any join; fixture grouping is keyed") {
    val p = executed(graft.queries.Storage.qWarcIngest(spark, dir))
    val s = p.toString
    assert(!s.contains("Join"), s)
    assert(!s.contains("CartesianProduct"), s)
    assert(s.contains("MapPartitions"), s) // the codec seam is an object seam
  }

  test("q_warc_gz: member split + parse stay at the codec seam — no join") {
    val p = executed(graft.queries.Storage.qWarcGz(spark, dir))
    val s = p.toString
    assert(!s.contains("Join"), s)
    assert(!s.contains("CartesianProduct"), s)
    assert(s.contains("MapPartitions"), s) // inflate+verify+parse, one object seam
  }

  test("q_warc_cdx: index build + point reads in ONE codec-seam pass — no join") {
    val p = executed(graft.queries.Storage.qWarcCdx(spark, dir))
    val s = p.toString
    assert(!s.contains("Join"), s)
    assert(!s.contains("CartesianProduct"), s)
    assert(s.contains("MapPartitions"), s) // split + index + seek in one object seam
  }

  test("q_unigram_tokens: native Viterbi expression in-plan, map-only below the sort") {
    val p = executed(TextOps.qUnigramTokens(spark, dir))
    val s = p.toString
    assert(s.contains("unigram_encode"), s) // the DP expression really runs in-plan
    assert(!s.contains("Join"), s)
    assert(!s.contains("Generate"), s) // cost ledger via HOFs, never an explode
  }

  test("q_warc_source_pruned: uri predicate pushed to the warc scan, partitions pruned") {
    val df = Storage.qWarcSourcePruned(spark, dir)
    val p = executed(df)
    val s = p.toString
    assert(s.contains("PushedPredicates"), s) // index-driven point reads planned
    val scans = collectNodes(p).collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scans.nonEmpty)
    // 2 of 8 files survive planning — the pruned partition count is
    // the plan-level fact (member-level point-read counts are pinned
    // in WarcSourceSpec)
    assert(scans.head.inputRDD.getNumPartitions == 2, s)
  }

  test("q_fn_catalog: catalog calls collapse to native nodes — no V2 invocation shapes") {
    val p = executed(TextOps.qFnCatalog(spark, dir))
    val s = p.toString
    assert(s.contains("nfc_normalize") && s.contains("strip_accents"), s)
    // Typed collection, not substring matching: `!contains("Invoke")`
    // would also trip on unrelated StaticInvoke nodes Spark introduces
    // for casts/object expressions in future plan shapes (advice r18).
    // The pin is exactly the two V2 invocation shapes
    // V2NativeFunctionRule must have collapsed.
    val v2Shapes = collectNodes(p).flatMap(_.expressions).flatMap(_.collect {
      case a: org.apache.spark.sql.catalyst.expressions.ApplyFunctionExpression => a
      case i: org.apache.spark.sql.catalyst.expressions.objects.Invoke => i
    })
    assert(v2Shapes.isEmpty,
      s"V2 invocation shape survived optimization: ${v2Shapes.mkString(", ")}")
    assert(!s.contains("Join"), s)
  }

  test("q_bpe_bytelevel / q_bpe_roundtrip: native byte expressions in-plan, map-only") {
    val p1 = executed(TextOps.qBpeBytelevel(spark, dir))
    val s1 = p1.toString
    assert(s1.contains("bpe_encode_bytes"), s1) // the remap+heap expression
    assert(!s1.contains("Join"), s1)
    assert(!s1.contains("Generate"), s1)
    val p2 = executed(TextOps.qBpeRoundtrip(spark, dir))
    val s2 = p2.toString
    assert(s2.contains("bpe_decode_bytes"), s2) // decode really runs in-plan
    assert(!s2.contains("Join"), s2)
  }

  test("q_variant_extract: parse-once probe-many is map work — no join, one rollup") {
    val s = planString(Relational.qVariantExtract(spark, dir))
    assert(!s.contains("Join"), s)
    assert(s.contains("variant_get"), s) // typed binary probes, not string re-parses
  }

  test("q_epoch_shuffle: per-shard order folds in aggregation state — no global sort, no window") {
    // each epoch's serving order is fingerprinted shard-locally: the
    // only SortExec allowed is the 3-row output orderBy — a global
    // sort or a rank window here would single-task the whole corpus
    import org.apache.spark.sql.execution.window.WindowExec
    val p = executed(PipelineOps.qEpochShuffle(spark, dir))
    assert(collectNodes(p).collect { case w: WindowExec => w }.isEmpty)
    val sorts = collectNodes(p).collect {
      case s: org.apache.spark.sql.execution.SortExec => s }
    assert(sorts.size <= 1, s"expected only the output orderBy sort:\n${sorts.mkString("\n")}")
    assert(!p.toString.contains("CartesianProduct"), p.toString)
  }

  test("q_span_corrupt: example synthesis is pure per-row HOF work — no join, no explode") {
    val s = planString(PipelineOps.qSpanCorrupt(spark, dir))
    assert(!s.contains("Join"), s)
    assert(!s.contains("Generate"), s) // blocks stay in-array
  }

  test("q_anchor_text: hub filter precedes the equi join; top-1 is min_by, not a window") {
    import org.apache.spark.sql.execution.window.WindowExec
    val p = executed(CurationOps.qAnchorText(spark, dir))
    assert(collectNodes(p).collect { case w: WindowExec => w }.isEmpty,
      "per-hub top anchor must be bounded-state min_by, not a rank window")
    assert(!p.toString.contains("CartesianProduct"), p.toString)
  }

  test("q_compaction: the compact step narrows partitions without any shuffle") {
    // Compaction = read + coalesce + rewrite; a shuffle here would
    // move 100 TB to fix a file-count problem. Audit the actual
    // coalesce plan (the gated query's result row only shows counts).
    val base = Scratch.dir("compaction_audit", dir)
    Tables.t(spark, dir, "orders").select("o_orderkey", "o_totalprice")
      .repartition(8).write.mode("overwrite").parquet(s"$base/frag")
    val compact = spark.read.parquet(s"$base/frag").coalesce(1)
    compact.collect()
    val s = compact.queryExecution.executedPlan.toString
    assert(!s.contains("Exchange"), s)
    assert(s.contains("Coalesce"), s)
  }

  test("q_graph_components: chain edges come from an equi-join, propagation stays hash-joined") {
    val s = planString(TextOps.qGraphComponents(spark, dir))
    assert(!s.contains("CartesianProduct"), s)
    assert(!s.contains("BroadcastNestedLoopJoin"), s)
  }

  test("q_graph_components: two-phase rank has no unpartitioned window, offsets are equi-only") {
    // The r8 scaffold ranked users with a global Window.orderBy — a
    // single-reducer step at 10^9 users. The replacement must keep
    // every window PARTITIONED (phase 1, audited pre-checkpoint: the
    // production caller's localCheckpoint would hide it behind a
    // LogicalRDD) and build the cumulative offsets without windows or
    // nested-loop joins (phase 2).
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.functions.col
    val users = Tables.events(spark, dir).select(col("user_id")).distinct()
    val p1 = executed(TextOps.rankPhase1(users))
    val windows = collectNodes(p1).collect { case w: WindowExec => w }
    assert(windows.nonEmpty, "expected the partitioned local-rank window")
    windows.foreach(w => assert(w.partitionSpec.nonEmpty, s"unpartitioned window:\n$w"))
    val p2 = executed(TextOps.rankPhase2(spark, TextOps.rankPhase1(users).localCheckpoint()))
    val nodes = collectNodes(p2)
    assert(!nodes.exists(_.isInstanceOf[WindowExec]), "phase 2 must not use a window")
    val s2 = p2.toString
    assert(!s2.contains("CartesianProduct"), s2)
    assert(!s2.contains("BroadcastNestedLoopJoin"), s2)
  }

  test("q_semantic_dedup: within-cell pairs come from a cid equi-join") {
    // SemDeDup's whole scale story is that the pairwise stage is
    // bounded BY CONSTRUCTION to within-cluster pairs — the self-join
    // must stay an equi-join on cid (vec_id< is a post-join filter).
    // If the condition ever degraded to pure inequality the planner
    // would emit a nested-loop over the full corpus square.
    val s = planString(EmbeddingOps.qSemanticDedup(spark, dir))
    assert(!s.contains("CartesianProduct"), s)
    assert(!s.contains("BroadcastNestedLoopJoin"), s)
  }

  test("q_kmeans_clusters: centroid update keeps map-side partial aggregation") {
    // The (cid, pos) sums after posexplode MUST partial-aggregate —
    // that compression (dim x n rows -> k x dim groups per task) is
    // the whole scale story of the Lloyd update.
    val s = planString(EmbeddingOps.qKmeansClusters(spark, dir))
    assert(s.contains("partial_sum") || s.contains("Partial"), s)
    assert(!s.contains("CartesianProduct"), s)
  }

  test("q_minhash_pairs: bucket-local verify — no join of any kind in the plan") {
    // The verify intersection runs inside each band bucket
    // (Banding.verifiedPairs): a plan with ANY join node would mean
    // the pair×payload join shape crept back — the shape that shipped
    // pair_volume × ~1 KB shingle arrays and failed the 100× stress.
    val s = planString(TextOps.qMinhashPairs(spark, dir))
    assert(!s.contains("Join"), s)
    assert(!s.contains("CartesianProduct"), s)
  }

  test("q_ann_lsh: bucket join is an equi-join, not all-pairs") {
    val s = planString(EmbeddingOps.qAnnLsh(spark, dir))
    assert(!s.contains("CartesianProduct"), s)
    assert(!s.contains("BroadcastNestedLoopJoin"), s)
  }

  test("q_knn_brute: the full scan is the intentional broadcast nested loop") {
    val s = planString(EmbeddingOps.qKnnBrute(spark, dir))
    assert(s.contains("BroadcastNestedLoopJoin"), s)
  }

  test("bucket caps run as map-side WindowGroupLimit, not a post-shuffle filter") {
    // The rn <= cap window filter must compile to a partial
    // WindowGroupLimit below the exchange: each mapper ships at most
    // `cap` rows per bucket, so the cap REDUCES shuffle volume. A plan
    // where the cap is an ordinary Filter above the Window would ship
    // the whole bucket first.
    for (q <- Seq(TextOps.qMinhashPairs(spark, dir),
                  EmbeddingOps.qAnnLsh(spark, dir))) {
      val s = planString(q)
      assert(s.contains("WindowGroupLimit"), s)
      assert(s.contains("Partial"), s)
    }
  }

  test("q_dataset_mix: literal rank cap engages WindowGroupLimit; no single-partition window") {
    // The 1000-doc budget bound is a LITERAL predicate precisely so the
    // membership window compiles to a map-side WindowGroupLimit (the
    // exact `rnk <= target_k` filter alone is non-literal and would
    // fully sort every source's corpus slice at scale); and the w_total
    // is a broadcast 1-row agg, never an unpartitioned window.
    val df = PipelineOps.qDatasetMix(spark, dir)
    val s = planString(df)
    assert(s.contains("WindowGroupLimit"), s)
    val unpartitioned = collectNodes(executed(df)).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec if w.partitionSpec.isEmpty => w
    }
    assert(unpartitioned.isEmpty, s"unpartitioned WindowExec (single-partition funnel): $s")
  }

  test("q_sequence_pack: the window's exchange is the plan's ONLY hash exchange") {
    // The (source, bin) aggregation must reuse the running-sum window's
    // hashpartitioning(source) (partitioning-subset rule) — Spark then
    // plans it as a single complete aggregation with no second shuffle.
    val df = PipelineOps.qSequencePack(spark, dir)
    val nodes = collectNodes(executed(df))
    val hashExchanges = nodes.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
        if e.outputPartitioning.isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] => e
    }
    assert(hashExchanges.size == 1, s"expected 1 hash exchange, got ${hashExchanges.size}")
    val unpartitioned = nodes.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec if w.partitionSpec.isEmpty => w
    }
    assert(unpartitioned.isEmpty, "unpartitioned WindowExec")
  }

  test("q_vocab_coverage: literal-bounded vocab joins by broadcast") {
    val p = executed(PipelineOps.qVocabCoverage(spark, dir))
    assert(collectNodes(p).exists(_.isInstanceOf[BroadcastHashJoinExec]), p.toString)
    assert(!p.toString.contains("CartesianProduct"), p.toString)
  }

  test("q_collocations: bigram aggregate materialized once — no parquet rescan per consumer") {
    // tot, ux, uy, and the support filter push different null filters
    // into their subplan copies, so exchange reuse can't fire; the
    // localCheckpoint must leave the final plan reading the
    // materialized RDD with ZERO parquet scans.
    val s = executed(TextOps.qCollocations(spark, dir)).toString
    assert(!s.contains("FileScan parquet"), s)
    assert(s.contains("ExistingRDD"), s)
    assert(!s.contains("CartesianProduct"), s)
  }

  test("q_repetition_ratio: partial aggregation + pruned scan") {
    val s = planString(TextOps.qRepetitionRatio(spark, dir))
    assert(s.contains("partial_count") || s.contains("partial_max") || s.contains("Partial"), s)
    val readSchema = s.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("lang") && !readSchema.contains("source"), readSchema)
  }

  test("q_dedup_clusters: iteration lineage is checkpoint-truncated, joins are equi") {
    // The load-bearing property: the returned plan must hang off
    // materialized RDD scans (LogicalRDD from localCheckpoint), not a
    // 2^iters-deep re-expansion of the minhash pipeline.
    val s = planString(TextOps.qDedupClusters(spark, dir))
    assert(s.contains("ExistingRDD") || s.contains("LogicalRDD"), s)
    assert(!s.contains("CartesianProduct"), s)
    assert(!s.contains("BroadcastNestedLoopJoin"), s)
  }

  test("q_semantic_dedup: the Lloyd pipeline is materialized once, downstream never rescans") {
    // Three consumers (both self-join sides + the membership join)
    // must hang off the checkpointed assignment — zero parquet scans
    // in the final plan (measured 13 scans / 9 broadcast joins before
    // the localCheckpoint).
    val s = planString(EmbeddingOps.qSemanticDedup(spark, dir))
    assert(s.contains("ExistingRDD") || s.contains("LogicalRDD"), s)
    assert(!s.linesIterator.exists(_.contains("Scan parquet")), s)
    assert(!s.contains("CartesianProduct"), s)
  }

  test("q_url_canonical: canonicalize is pure map work, host rollup keeps partial aggregation") {
    // parse_url + HOF filter/sort must stay per-row map work feeding ONE
    // host-keyed aggregation: partial map-side combine, no join anywhere.
    // The scan needs only doc_id (the URL fixture is synthesized from it).
    val s = planString(PipelineOps.qUrlCanonical(spark, dir))
    assert(s.contains("partial_count") || s.contains("Partial"), s)
    assert(!s.contains("Join"), s)
    val readSchema = s.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("doc_id") && !readSchema.contains("text"), readSchema)
  }

  test("q_pii_scrub: scrub is pure map work, rollup keeps partial aggregation") {
    val s = planString(TextOps.qPiiScrub(spark, dir))
    assert(s.contains("partial_count") || s.contains("Partial"), s)
    assert(!s.contains("Join"), s) // no join anywhere — map + one agg
  }

  test("q_html_extract: block judge is pure map work, source rollup keeps partial aggregation") {
    // split/strip/judge HOFs must stay per-row; the raw crawl never
    // shuffles — one bounded (source) agg is the only exchange. The
    // scan reads only the three columns the fixture consumes.
    val s = planString(TextOps.qHtmlExtract(spark, dir))
    assert(s.contains("partial_count") || s.contains("Partial"), s)
    assert(!s.contains("Join"), s)
    val readSchema = s.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("n_chars") && !readSchema.contains("lang"), readSchema)
  }

  test("q_quantile_sketch: the k-row sample cap runs as map-side WindowGroupLimit") {
    val s = planString(TextOps.qQuantileSketch(spark, dir))
    assert(s.contains("WindowGroupLimit"), s)
    assert(s.contains("Partial"), s)
  }

  test("q_incremental_dedup: pruned scan, corpus side aggregated before the join") {
    val s = planString(PipelineOps.qIncrementalDedup(spark, dir))
    val readSchema = s.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("lang") && !readSchema.contains("source"), readSchema)
    assert(s.contains("partial_count"), s) // fingerprint index is partial-agged
  }

  test("q_user_retention: both aggregations keep map-side partials") {
    val s = planString(Relational.qUserRetention(spark, dir))
    assert(s.contains("partial_min") || s.contains("partial_count"), s)
    assert(!s.contains("CartesianProduct"), s)
  }

  test("q_lww_dedup_events: window partitions on the dedup key (hash shuffle)") {
    val s = planString(Relational.qLwwDedupEvents(spark, dir))
    assert(s.contains("hashpartitioning(user_id"), s)
  }

  test("q_ivf_ann: only the 16-row centroid table rides a nested loop") {
    // centroid assignment is the intentional broadcast nested loop
    // (nlist dots per row); everything after it must be hash joins
    val s = planString(EmbeddingOps.qIvfAnn(spark, dir))
    assert(s.contains("BroadcastNestedLoopJoin"), s)
    assert(!s.contains("CartesianProduct"), s)
  }

  test("q_lm_surprisal: pruned scan, partial aggs, hash equi-joins only") {
    val df = TextOps.qLmSurprisal(spark, dir)
    val s = planString(df)
    val readSchema = s.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("doc_id") && readSchema.contains("text"), readSchema)
    assert(!readSchema.contains("lang"), readSchema)
    assert(s.contains("partial_count") || s.contains("partial_sum") ||
      "HashAggregate.*partial".r.findFirstIn(s).isDefined, s)
    val nodes = collectNodes(executed(df))
    assert(!nodes.exists(_.nodeName.toLowerCase.contains("cartesian")), "cartesian in plan")
  }

  test("q_dsir_weights: pruned scan, one model aggregation, no cartesian beyond the 1-row totals") {
    val df = TextOps.qDsirWeights(spark, dir)
    val s = planString(df)
    val readSchema = s.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("doc_id") && readSchema.contains("text")
      && readSchema.contains("lang"), readSchema)
    assert(!readSchema.contains("source"), readSchema)
    // the only nested-loop is the broadcast 1-row totals combine
    val nodes = collectNodes(executed(df))
    val loops = nodes.filter(_.nodeName.toLowerCase.contains("broadcastnestedloop"))
    assert(loops.size <= 1, s)
    assert(!nodes.exists(_.nodeName.toLowerCase.contains("cartesian")), "cartesian in plan")
  }

  test("q_tfidf_top_terms: both rollups keep map-side partial aggregation") {
    val s = planString(PipelineOps.qTfidfTopTerms(spark, dir))
    assert(s.contains("partial_count"), s)
  }

  test("q_dataset_split/quality: scan reads only referenced columns") {
    for (q <- Seq(PipelineOps.qDatasetSplit(spark, dir),
                  PipelineOps.qQualityScore(spark, dir))) {
      val s = planString(q)
      val readSchema = s.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
      assert(!readSchema.contains("embedding"), readSchema)
      assert(!readSchema.contains("url"), readSchema)
    }
  }

  test("aggregations keep map-side partial aggregation") {
    // partial_sum in the pre-shuffle HashAggregate = map-side combine
    val s = planString(Relational.q1PricingSummary(spark, dir))
    assert(s.contains("partial_sum"), s)
    assert(s.sliding("HashAggregate".length).count(_ == "HashAggregate") >= 2, s)
  }

  test("q_asof_join: planned as one window pass — no join operator at all") {
    // The union-window form's whole point: the executed plan must be
    // scan → union → sort+window → filter, with zero join nodes (a
    // range/ASOF join would buffer per-key or index intervals).
    val p = executed(Relational.qAsofJoin(spark, dir))
    val joins = collectNodes(p).filter(_.nodeName.toLowerCase.contains("join"))
    assert(joins.isEmpty, s"as-of join planned a join: ${joins.map(_.nodeName)}")
    assert(collectNodes(p).exists(_.nodeName.contains("Window")))
  }

  test("q_click_attribution: bucketed range join stays an equi-join") {
    val s = planString(Relational.qClickAttribution(spark, dir))
    assert(!s.contains("CartesianProduct"), s)
    assert(!s.contains("BroadcastNestedLoopJoin"), s)
  }

  test("q_rolling_peak: window frame is RANGE (time-bounded state)") {
    val s = planString(Relational.qRollingPeak(spark, dir))
    assert(s.contains("RANGE BETWEEN") || s.contains("specifiedwindowframe(RangeFrame"), s)
  }

  test("q_salted_agg: phase-1 aggregate keys include the salt") {
    val s = planString(Relational.qSaltedAgg(spark, dir))
    assert(s.contains("salt"), s)
    assert(s.contains("partial_count") || s.contains("Partial"), s)
  }

  test("q_salted_join: join key carries the salt column") {
    val s = planString(Relational.qSaltedJoin(spark, dir))
    assert(s.contains("__graft_salt"), s)
    assert(!s.contains("CartesianProduct"), s)
    assert(!s.contains("BroadcastNestedLoopJoin"), s)
  }

  test("q_simhash_pairs: pigeonhole candidates come from a band equi-join") {
    val s = planString(TextOps.qSimhashPairs(spark, dir))
    assert(!s.contains("CartesianProduct"), s)
    assert(!s.contains("BroadcastNestedLoopJoin"), s)
  }

  test("q_cube_docs: grouping sets expand once, aggregation stays partial") {
    val s = planString(Relational.qCubeDocs(spark, dir))
    assert(s.contains("Expand"), s)
    assert(s.contains("partial_count") || s.contains("Partial"), s)
  }

  test("q_pivot_priority: explicit value list keeps pivot a single agg pass") {
    val s = planString(Relational.qPivotPriority(spark, dir))
    assert(s.contains("partial_count") || s.contains("Partial"), s)
  }

  test("q_partitioned_prune: returnflag prunes directories, shipdate pushes to row groups") {
    // The layout's whole point: the partition-column predicate must be
    // a PartitionFilter (directories never opened), NOT a post-scan
    // Filter; the range predicate must reach PushedFilters where the
    // sortWithinPartitions-built row-group stats can skip pages.
    val s = planString(Storage.qPartitionedPrune(spark, dir))
    val scanLine = s.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(scanLine.contains("l_returnflag"), s)
    assert(s.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate"), s)
    // the partition column comes from the directory path, not file IO:
    // the ReadSchema struct (same line as the rest of the scan) must
    // not list it
    val readSchema = scanLine.split("ReadSchema:").last
    assert(!readSchema.contains("l_returnflag"), readSchema)
  }

  test("q_bpe_learn: the per-round pair count partial-aggregates over the checkpointed vocab") {
    // The trainer's scale split: each round's pair count must
    // partial-aggregate map-side, and its input must be the
    // checkpointed vocab RDD (lineage truncated), never a
    // re-derivation from the corpus scan.
    import spark.implicits._
    val vocab = Seq(("abab", 3L), ("ab", 2L)).toDF("w", "freq")
      .selectExpr("w", "freq",
        "transform(sequence(1, length(w)), i -> substring(w, i, 1)) AS syms")
      .localCheckpoint()
    val s = planString(TextOps.bpePairCounts(vocab))
    assert(s.contains("partial_sum") || s.contains("Partial"), s)
    assert(s.contains("ExistingRDD") || s.contains("LogicalRDD") || s.contains("Scan ExistingRDD"), s)
    assert(!s.linesIterator.exists(_.contains("Scan parquet")), s)
    // and the full key end-to-end stays healthy on real data
    assert(TextOps.qBpeLearn(spark, dir).count() == 6)
  }

  test("q_robots_filter: the rule table broadcasts; pages never shuffle at data size") {
    // Rules are robots.txt-sized at any corpus scale — the join must
    // be a broadcast with the prefix test as a residual, never a
    // shuffle of the page side keyed on host.
    val s = planString(PipelineOps.qRobotsFilter(spark, dir))
    assert(s.contains("BroadcastExchange"), s)
    assert(s.contains("BroadcastHashJoin") || s.contains("BroadcastNestedLoopJoin"), s)
  }

  test("q_crawl_pipeline: one fused plan — two hash exchanges, no join") {
    // canonicalize → dedup → strip → host rollup must fuse: exactly the
    // canonical_url dedup exchange and the host rollup exchange (the
    // final orderBy adds range partitioning, not hash), survivor text
    // carried through min_by rather than joined back, extraction after
    // dedup so its cost scales with unique pages.
    val df = PipelineOps.qCrawlPipeline(spark, dir)
    val nodes = collectNodes(executed(df))
    val hashExchanges = nodes.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
        if e.outputPartitioning.isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] => e
    }
    assert(hashExchanges.size == 2, s"expected 2 hash exchanges:\n${hashExchanges.mkString("\n")}")
    assert(!nodes.exists(_.nodeName.contains("Join")), nodes.map(_.nodeName).mkString(","))
  }

  test("q_warc_pipeline: one fused plan — three hash exchanges, no join") {
    // WARC-parse → response filter → canonicalize → dedup → strip →
    // host rollup must fuse like the capstone: the plant's file
    // assembly (fixture-only — on-disk .warc files at deployment),
    // the canonical_url dedup, and the host rollup, with survivor
    // payloads carried through min_by rather than joined back and
    // extraction running after dedup.
    val df = PipelineOps.qWarcPipeline(spark, dir)
    val nodes = collectNodes(executed(df))
    val hashExchanges = nodes.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
        if e.outputPartitioning.isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning] => e
    }
    assert(hashExchanges.size == 3, s"expected 3 hash exchanges:\n${hashExchanges.mkString("\n")}")
    assert(!nodes.exists(_.nodeName.contains("Join")), nodes.map(_.nodeName).mkString(","))
  }

  test("q_orc_roundtrip: the status filter and projection reach the ORC scan") {
    // ORC must keep the same scan-side contract as parquet: the
    // predicate in PushedFilters, the 4-column projection in
    // ReadSchema (o_orderpriority written but never read back).
    val s = planString(Storage.qOrcRoundtrip(spark, dir))
    assert(s.contains("PushedFilters: [IsNotNull(o_orderstatus), Not(EqualTo(o_orderstatus,P))"), s)
    val readSchema = s.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("o_orderpriority"), readSchema)
  }

  test("q_zorder_prune: both range predicates reach PushedFilters") {
    // Z-ordering's contract: min/max row-group stats can serve EITHER
    // dimension, so both predicates must be pushed into the scan.
    // (Read the scan node's metadata — the plan string truncates long
    // PushedFilters lists.)
    val p = executed(Storage.qZorderPrune(spark, dir))
    val pushed = collectNodes(p).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.metadata.getOrElse("PushedFilters", "")
    }.mkString
    assert(pushed.contains("GreaterThanOrEqual(o_custkey"), pushed)
    assert(pushed.contains("GreaterThanOrEqual(o_orderdate"), pushed)
  }

  test("q_cdc_apply: changelog compaction is partial-aggregated, apply is a single equi-join") {
    val s = planString(Relational.qCdcApply(spark, dir))
    assert(s.contains("partial_max_by") || s.contains("Partial"), s)
    assert(!s.contains("CartesianProduct"), s)
    assert(!s.contains("BroadcastNestedLoopJoin"), s)
    assert(s.contains("FullOuter"), s)
  }

  test("q_corpus_pipeline: one fused plan — semi/anti dedup joins, no cartesian") {
    // The capstone must stay declarative: per-doc stages fuse into the
    // scan projection, dedup is a semi-join, the near-dup drop an
    // anti-join — never a nested loop or a collect-driven stage.
    val s = planString(PipelineOps.qCorpusPipeline(spark, dir))
    assert(!s.contains("CartesianProduct"), s)
    assert(!s.contains("BroadcastNestedLoopJoin"), s)
    assert(s.contains("LeftSemi"), s)
    assert(s.contains("LeftAnti"), s)
  }

  test("q_session_window: sessions shard by user_id, no cartesian") {
    val s = planString(Relational.qSessionWindow(spark, dir))
    assert(s.contains("hashpartitioning(user_id"), s)
    assert(!s.contains("CartesianProduct"), s)
  }

  test("q_bloom_gate: filter broadcasts, probe is a pre-join filter, exact join is equi") {
    // The gate's value is WHERE the bloom test runs: the `might`
    // predicate must sit on the probe side BELOW the exact fingerprint
    // join (definite-new rows never shuffle), the 1-row filter must
    // arrive by broadcast, and the verify join must be an equi-join.
    val p = executed(PipelineOps.qBloomGate(spark, dir))
    val s = p.toString
    assert(!s.contains("CartesianProduct"), s)
    assert(collectNodes(p).exists(n =>
      n.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec] ||
        n.isInstanceOf[BroadcastHashJoinExec]), s) // the 1-row bloom crossJoin
    val joins = collectNodes(p).collect {
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }
    // exact fingerprint join may be shuffled or AQE-broadcast at this SF,
    // but never nested-loop on the fingerprint side
    assert(joins.forall(_.leftKeys.nonEmpty), s)
  }

  test("dns scan: partition count equals (pruned) zone count") {
    val bhj = executed(graft.queries.Connector.qDnsRead(spark, dir))
    val bcast = collectNodes(bhj).collect { case b: BroadcastHashJoinExec => b }
    assert(bcast.isEmpty) // plain scan, no join — sanity check the audit helper
  }

  test("q_pq_ann: native gather in the scan projection, rank filter limits below the exchange") {
    // The two claims SCALE.md makes for the ADC scan: scoring is the
    // codegen'd pq_gather expression (not the HOF chain), and the
    // top-k row_number filter compiles to a partial WindowGroupLimit
    // so each mapper ships <= k rows per query instead of the whole
    // scored set.
    val s = planString(PqOps.qPqAnn(spark, dir))
    assert(s.contains("pq_gather"), s.linesIterator.take(5).mkString("\n"))
    assert(s.contains("WindowGroupLimit") && s.contains("Partial"), s)
  }

  test("q_k_anonymity: every join is broadcast — class stats attach to rows, never shuffle them") {
    // The audit's scale claim: class-size tables are QI-cardinality
    // and broadcast back; the customer table is scanned and
    // partial-aggregated but never the big side of a shuffle join.
    val p = executed(Relational.qKAnonymity(spark, dir))
    val s = p.toString
    assert(!s.contains("SortMergeJoin"), s)
    assert(!s.contains("ShuffledHashJoin"), s)
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"), s)
    assert(collectNodes(p).exists(_.isInstanceOf[BroadcastHashJoinExec]), s)
  }

  test("q_cms_heavy_hitters: exact top-20 is TakeOrdered, never a global sort/window") {
    val s = planString(PipelineOps.qCmsHeavyHitters(spark, dir))
    assert(s.contains("TakeOrderedAndProject"), s)
    assert(!s.contains("WindowExec"), s)
  }

  test("q_mad_outliers: scan reads only the 3 referenced lineitem columns; fences broadcast") {
    val s = planString(Relational.qMadOutliers(spark, dir))
    val readSchema = s.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_returnflag") && readSchema.contains("l_extendedprice"))
    assert(!readSchema.contains("l_comment") && !readSchema.contains("l_partkey"), readSchema)
    // the fence frames attach by broadcast — the raw rows never
    // shuffle on the group key for a join
    assert(!s.contains("SortMergeJoin"), s)
    assert(!s.contains("ShuffledHashJoin"), s)
    assert(!s.contains("row_number"), s)
  }

  test("q_mad_outliers median phase: no unbounded per-group sort of raw rows (r14 fix)") {
    // Audit the PRE-checkpoint phase plan (qMadOutliers truncates it
    // to an RDD scan): every window must sit on histogram rows —
    // an aggregate (or the checkpointed pass-1 histogram, itself
    // ≤ #buckets rows/group) must separate it from any file scan. The
    // old shape ranked the target bucket's RAW rows with row_number,
    // one task per group — the suite's one scale-killer (r14 verdict).
    val phase = Relational.histMedianPlan(
      Relational.madCents(spark, dir), "cents", "median_cents")
    val p = executed(phase)
    assert(!p.toString.contains("row_number"), p.toString)
    val windows = collectNodes(p).filter(
      _.isInstanceOf[org.apache.spark.sql.execution.window.WindowExec])
    assert(windows.nonEmpty, "expected cumulative-frequency windows in the phase plan")
    // walk each window's subtree, pruning at aggregates: nothing left
    // may be a row-level file scan
    def rawScanBelow(n: SparkPlan): Boolean = {
      val name = n.getClass.getSimpleName
      if (name.contains("HashAggregate") || name.contains("SortAggregate")) false
      else if (name.contains("FileSourceScan") || name.contains("BatchScan")) true
      else {
        val kids = n match {
          case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
          case q: QueryStageExec => Seq(q.plan)
          case _ => n.children
        }
        kids.exists(rawScanBelow)
      }
    }
    windows.foreach { w =>
      assert(!w.children.exists(rawScanBelow),
        s"window fed by raw file-scan rows (unbounded per-group sort):\n$w")
    }
  }

  test("unicode pair: pure map work — no exchange below the output sort") {
    for (df <- Seq(TextOps.qUnicodeNormalize(spark, dir),
                   TextOps.qStripAccents(spark, dir))) {
      val p = executed(df)
      val s = p.toString
      // exactly the range-partitioning exchange of the final orderBy,
      // nothing hash-partitioned (no groupBy/join anywhere)
      assert(!s.contains("Exchange hashpartitioning"), s)
      assert(!s.contains("SortMergeJoin") && !s.contains("BroadcastHashJoin"), s)
    }
  }

  test("q_parquet_dpp: the runtime pruning subquery reaches the partitioned scan") {
    val s = planString(Storage.qParquetDpp(spark, dir))
    assert(s.contains("dynamicpruningexpression"), s)
    assert(s.contains("PartitionFilters"), s)
  }

  test("q_bucketed_join: bucketed scans serve the join — no exchange keyed on the join key") {
    val s = planString(Storage.qBucketedJoin(spark, dir))
    assert(!s.contains("Exchange hashpartitioning(l_orderkey"), s)
    assert(!s.contains("Exchange hashpartitioning(o_orderkey"), s)
  }

  /** Every key whose plan may contain a BroadcastNestedLoopJoin, with
    * the reason it is INTENTIONAL (r19 verdict item 6: zero
    * blessed-by-silence nested loops). Two classes only:
    *  - 1-row scalar attach: crossJoin(broadcast(1-row aggregate)) —
    *    corpus count, totals, trained model/codebook metadata, bloom
    *    bitset, per-dim stats. Constant broadcast, linear scan.
    *  - labeled asymmetric scan: the ANN/recall family's deliberate
    *    brute-force scoring pass — every corpus vector scored against
    *    the BROADCAST bounded query set (and the exact-truth pass the
    *    recalls are measured against). The whole point of those keys
    *    is to measure approximations against this scan.
    * Anything else planning a nested loop fails this sweep. */
  private val IntentionalBnlj: Set[String] = Set(
    // 1-row scalar attaches
    "q_anchor_text", "q_bloom_gate", "q_bm25_topk", "q_cms_heavy_hitters",
    "q_collocations", "q_compaction", "q_dataset_mix", "q_dedup_funnel",
    "q_dsir_weights", "q_epoch_shuffle", "q_hll_union_audit",
    "q_link_pagerank", "q_scd2_lookup", "q_source_overlap",
    // labeled asymmetric scans (query-broadcast scoring / exact truth)
    "q_ann_recall", "q_ivf_ann", "q_ivf_recall", "q_ivfpq_ann",
    "q_ivfpq_residual", "q_kmeans_clusters", "q_knn_brute", "q_pq_ann",
    "q_pq_mog_residual", "q_pq_recall", "q_pq_rerank", "q_rp_recall",
    "q_sq8_recall", "q_semantic_dedup", "q_embed_neardup",
    "q_neardup_xmodal", "q_dedup_agreement", "q_ann_filtered", "q_ann_lsh",
    "q_audio_fingerprint", "q_image_phash",
  )

  test("global BNLJ sweep: nested loops appear ONLY in the asserted-intentional keys") {
    // Executes every declared query at sf0.001 and inspects the final
    // adaptive plan. A BroadcastNestedLoopJoin outside the allowlist is
    // a quadratic pair stage that crept in unlabeled — the class of
    // regression the per-key audits above cannot catch for keys they
    // do not cover.
    val unknown = IntentionalBnlj -- graft.SparkEntry.queries.keySet
    assert(unknown.isEmpty, s"allowlist names unknown keys: $unknown")
    val offenders = scala.collection.mutable.ArrayBuffer.empty[String]
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      // collectNodes (not plan toString) so nested-loop joins inside
      // AQE query stages and subqueries are seen too
      val nodes = collectNodes(executed(fn(spark, dir))).map(_.nodeName)
      spark.catalog.clearCache()
      if (nodes.exists(_.contains("BroadcastNestedLoopJoin")) && !IntentionalBnlj(name))
        offenders += name
      if (nodes.exists(_.contains("CartesianProduct")))
        offenders += s"$name(cartesian)"
    }
    assert(offenders.isEmpty,
      s"unasserted nested loops/cartesians in: ${offenders.mkString(", ")}")
  }

  test("fence vacuity guard: no fenced key's audited plan collapses to a bare RDD read") {
    // Eager localCheckpoint fences truncate lineage to an RDD scan, so
    // a plan audit pointed at the POST-fence plan can silently stop
    // seeing the operators it asserts about (r19 verdict item 9 — the
    // q_phrase_search pull audit needed its pre-fence seam for exactly
    // this). This guard pins, for every fenced key, that the plan the
    // audits read still contains real operators ABOVE the fence; if a
    // future refactor fences the whole query result, this fails and
    // the audit must move to a pre-fence seam.
    val fencedKeys = Seq(
      "q_source_overlap", "q_shared_spans", "q_bm25_topk", "q_phrase_search",
      "q_lm_surprisal", "q_dsir_weights", "q_bloom_gate", "q_dedup_funnel",
      "q_cms_heavy_hitters", "q_corpus_pipeline", "q_warc_revisit",
      "q_token_edit_pairs", "q_dataset_mix", "q_set_ops", "q_k_anonymity",
      "q_l_diversity", "q_data_constraints", "q_link_pagerank")
    fencedKeys.foreach { name =>
      val p = executed(graft.SparkEntry.queries(name)(spark, dir))
      val nodes = collectNodes(p).map(_.nodeName)
      val real = nodes.exists(n => n.contains("Aggregate") || n.contains("Join")
        || n.contains("Window") || n.contains("Generate") || n.contains("Expand"))
      spark.catalog.clearCache()
      assert(real, s"$name's audited plan holds no aggregate/join/window above " +
        s"its fence — audits of it are vacuous; audit the pre-fence seam. Nodes: " +
        nodes.distinct.mkString(", "))
    }
  }
}
