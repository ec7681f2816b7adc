package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import Tables._

/** Dataset-assembly operators over `documents` — the selection /
  * splitting / weighting steps between "corpus" and "training run".
  * Everything is DETERMINISTIC by construction (content/id hashes, no
  * `rand()`): the same corpus always yields the same split, the same
  * sample, the same chunks — reproducibility is a pipeline requirement,
  * and it is what makes every operator DuckDB-oracle-checkable.
  *
  * Scale shapes: splits and samples are one map + one bounded
  * aggregation or window (no shuffle whose volume exceeds the output);
  * TF-IDF is two partial-agg rollups and a broadcast-friendly join;
  * chunking is a per-row `sequence` explode — rows out ∝ tokens in,
  * never corpus². */
object PipelineOps {

  private def docs(s: SparkSession, dir: String): DataFrame = t(s, dir, "documents")

  /** Tracking-parameter rule table for URL canonicalization — the
    * public-knowledge ad/analytics params every crawl pipeline strips
    * (Google/Facebook/Microsoft/Mailchimp click ids, generic utm_*
    * campaign tags, bare referrer tags). Rules are LIKE patterns over
    * one `key=value` pair; the table is data, so deployments extend it
    * without touching the operator. */
  val TrackingParamRules: Seq[String] =
    Seq("utm_%", "ref=%", "fbclid=%", "gclid=%", "msclkid=%", "mc_eid=%")

  /** Canonicalize a raw URL column — the first stage of crawl-source
    * dedup (two fetches of the same page differ by scheme/host case,
    * default ports, tracking params, fragments; dedup must not).
    * Rules applied: lowercase scheme+authority, strip `:80`/`:443`
    * when they match the scheme, default empty path to `/`, drop the
    * fragment, remove [[TrackingParamRules]] params and SORT the
    * survivors (param order is transport noise). All Spark built-ins +
    * higher-order functions over `parse_url` — codegen-friendly per-row
    * map work, zero UDFs, zero shuffles. */
  def urlCanonical(url: String): org.apache.spark.sql.Column = {
    val proto = s"lower(parse_url($url, 'PROTOCOL'))"
    val auth = s"lower(parse_url($url, 'AUTHORITY'))"
    val host = s"substring_index($auth, ':', 1)"
    val port = s"CASE WHEN $auth LIKE '%:%' THEN substring_index($auth, ':', -1) END"
    val portPart = s"""CASE WHEN $port IS NULL THEN ''
      WHEN $proto = 'http' AND $port = '80' THEN ''
      WHEN $proto = 'https' AND $port = '443' THEN ''
      ELSE ':' || $port END"""
    val path = s"coalesce(nullif(parse_url($url, 'PATH'), ''), '/')"
    val notTracking = TrackingParamRules.map(r => s"p LIKE '$r'").mkString("NOT (", " OR ", ")")
    val cq = s"array_join(array_sort(filter(split(parse_url($url, 'QUERY'), '&'), " +
      s"p -> $notTracking)), '&')"
    val queryPart = s"CASE WHEN coalesce($cq, '') = '' THEN '' ELSE '?' || $cq END"
    expr(s"concat($proto, '://', $host, $portPart, $path, $queryPart)")
  }

  /** URL canonicalization + crawl-source rollup under the gate. The
    * fixture plants every hazard the canonicalizer exists for —
    * uppercase scheme/host, default `:443` on some rows, a REAL
    * `:8080` that must survive, empty paths, utm/ref tracking params
    * (sometimes leading, sometimes trailing, so survivor SORTING is
    * load-bearing), fragments — as a closed form of doc_id, with the
    * canonical space deliberately smaller (period 70) than the raw
    * space: each host's 100 raw URLs collapse to 14 canonical pages,
    * which is the crawl-dedup story in one number. The oracle
    * reconstructs the expected canonical strings closed-form (it never
    * parses), so any slip anywhere in the parse/rules chain breaks the
    * per-host XOR of canonical-string hashes, not just a count. Scale:
    * pure per-row map work + one partial-agg rollup on `host` —
    * nothing here ships more than hosts × bytes. */
  /** The hazard-URL fixture for a doc id — shared by [[qUrlCanonical]]
    * and [[qCrawlPipeline]]. The canonical space it collapses to is a
    * bijection with `doc_id % 70` (CRT over the %5 host, %7 port/path,
    * %2 query components; the %3 scheme case, %4 host case, %6 `:443`
    * and %9 fragment are transport noise the canonicalizer erases). */
  private def crawlUrl(docId: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat(
      when(docId % 3 === 0, "HTTPS").otherwise("https"), lit("://"),
      when(docId % 4 === 0, concat(lit("WWW.SITE"), docId % 5, lit(".COM")))
        .otherwise(concat(lit("www.site"), docId % 5, lit(".com"))),
      when(docId % 7 === 5, ":8080")
        .when(docId % 6 < 2, ":443").otherwise(""),
      when(docId % 7 === 0, "").otherwise(concat(lit("/p/"), docId % 7)),
      when(docId % 2 === 0, "?utm_source=feed&id=7").otherwise("?z=9&utm_campaign=x&a=7"),
      when(docId % 9 === 0, "#sec2").otherwise(""))

  def qUrlCanonical(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val raw = docs(s, dir).select($"doc_id", crawlUrl($"doc_id").as("url"))
    raw.select(urlCanonical("url").as("canonical_url"))
      .select($"canonical_url",
        expr("substring_index(substring_index(canonical_url, '://', -1), '/', 1)").as("hostport"))
      .select($"canonical_url", expr("substring_index(hostport, ':', 1)").as("host"))
      .groupBy($"host")
      .agg(count(lit(1)).as("n_urls"),
        countDistinct($"canonical_url").as("n_canonical"),
        expr("bit_xor(CAST(conv(substring(md5(canonical_url), 1, 15), 16, 10) AS BIGINT))")
          .as("url_xor"))
      .orderBy($"host")
  }

  /** Crawl-ingestion capstone — the front half of a real web pipeline
    * FUSED into one declarative plan: canonicalize the fetch URL
    * ([[urlCanonical]]), dedup fetches by canonical page (keep the
    * smallest doc_id — the first fetch wins, the standard crawl rule),
    * boilerplate-strip ONLY the survivors (TextOps' block heuristics),
    * and account per host. Composition is the point: the two fixture
    * closed forms compose (CRT makes the canonical space `doc_id % 70`,
    * so the oracle knows each survivor in closed form and rebuilds its
    * extraction), and a wrong stage ANYWHERE moves the per-host XOR.
    *
    * Scale shape: exactly TWO exchanges — one on canonical_url for the
    * dedup (min_by carries the survivor's text through the same
    * shuffle, deliberately: a dedup-then-join-back would shuffle the
    * text a second time), one bounded host rollup. The HTML judge runs
    * AFTER dedup — at real crawl dup rates that is the design decision
    * worth money: extraction cost scales with unique pages, not
    * fetches. Plan-asserted: 2 shuffles, no join. */
  def qCrawlPipeline(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docs(s, dir)
      .select($"doc_id", $"text", crawlUrl($"doc_id").as("url"))
      .select($"doc_id", $"text", urlCanonical("url").as("canonical_url"))
      .groupBy($"canonical_url")
      .agg(min_by(struct($"doc_id", $"text"), $"doc_id").as("s"),
        count(lit(1)).as("n_raw"))
      .select(
        expr("substring_index(substring_index(substring_index(canonical_url, '://', -1), '/', 1), ':', 1)")
          .as("host"),
        $"n_raw", $"s.doc_id".as("doc_id"), $"s.text".as("text"))
      .withColumn("html", TextOps.htmlPage($"doc_id", $"text"))
      .withColumn("blocks", expr(TextOps.htmlBlocksSql))
      .withColumn("verdicts", expr(TextOps.htmlVerdictsSql))
      .withColumn("extracted", expr(TextOps.htmlExtractedSql))
      .groupBy($"host")
      .agg(
        sum($"n_raw").as("n_fetched"),
        count(lit(1)).as("n_pages"),
        sum(expr("size(filter(verdicts, v -> v = 'content'))")).as("n_content"),
        expr("bit_xor(CAST(conv(substring(md5(extracted), 1, 15), 16, 10) AS BIGINT))")
          .as("text_xor"))
      .orderBy($"host")
  }

  /** WARC → extract → dedup → rollup, END TO END (r16 verdict item 2 —
    * the second half of the crawl-ingest story `q_warc_ingest` opened):
    * the fetch corpus arrives as ISO 28500 WARC bytes whose response
    * records carry the [[crawlUrl]] hazard URL as WARC-Target-URI and
    * the [[TextOps.htmlPage]] boilerplate page as payload (request +
    * warcinfo records planted too — the type filter is load-bearing:
    * an unfiltered warcinfo has no URL and no title and would surface
    * as a null-host row). ONE fused plan then does what
    * [[qCrawlPipeline]] does on pre-parsed text: parse records at the
    * codec seam, keep responses, canonicalize the fetch URL, dedup by
    * canonical page (first fetch = smallest doc_id, read from the
    * page's own <title> — the crawl has no side channel), block-strip
    * ONLY survivors, account per host. The oracle is the capstone's:
    * survivors and their extraction are closed-form (period-70
    * canonical space), so a slip in WARC build, parse, filter,
    * canonicalize, dedup, or strip moves a count or the per-host XOR.
    *
    * Scale shape: THREE hash exchanges, no join (plan-asserted) — one
    * to assemble the planted files (fixture-only; at 100 TB the .warc
    * files exist on disk and this exchange disappears), the
    * canonical_url dedup, and the bounded host rollup. Payload bytes
    * cross the dedup exchange once via min_by — the crawl reality:
    * post-parse you hold bytes, and extraction must still run AFTER
    * dedup so its cost scales with unique pages, not fetches. */
  def qWarcPipeline(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val crlf = "\r\n"
    // The Column-API twin of Storage.WarcFixture's record builders —
    // intentionally a different record SHAPE (no record-id header);
    // both only have to satisfy WarcCodec's grammar. Content-Length is
    // octet_length (BYTES): the parser slices bytes after the UTF-8
    // encode, so a character count would mis-frame any non-ASCII text
    // (review r17 — the byte-vs-char class the compression-ratio
    // oracle fix closed). WarcFixture keeps char length() because its
    // string is shared verbatim with DuckDB (no common octet_length
    // dialect) under the enforced Storage.WarcFixture.asciiGuardSql
    // (applied where the corpus text enters its builders).
    def record(uri: org.apache.spark.sql.Column, payload: org.apache.spark.sql.Column,
        typ: String): org.apache.spark.sql.Column =
      concat(lit(s"WARC/1.0${crlf}WARC-Type: $typ${crlf}WARC-Target-URI: "), uri,
        lit(s"${crlf}Content-Length: "), octet_length(payload).cast("string"),
        lit(s"$crlf$crlf"), payload, lit(s"$crlf$crlf"))
    val d = docs(s, dir).select($"doc_id", ($"doc_id" % 8).as("file_id"),
      crawlUrl($"doc_id").as("url"), $"text")
    val resp = d.select($"file_id", $"doc_id", lit(1).as("kind"),
      record($"url", TextOps.htmlPage($"doc_id", $"text"), "response").as("rec"))
    val req = d.where($"doc_id" % 4 === 0)
      .select($"file_id", $"doc_id", lit(0).as("kind"),
        record($"url", concat(lit("GET "), $"url", lit(s" HTTP/1.1$crlf$crlf")),
          "request").as("rec"))
    val files = resp.unionByName(req)
      .groupBy($"file_id")
      .agg(concat(lit(Storage.WarcFixture.infoRecord),
        expr("array_join(transform(array_sort(collect_list(struct(doc_id, kind, rec))), x -> x.rec), '')"))
        .as("wtext"))
      .select($"file_id".cast("long").as("file_id"),
        encode($"wtext", "UTF-8").as("bytes"))
    // the OPERATOR: codec seam → response filter → canonical dedup →
    // survivor-only extraction → host rollup
    files.as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (fid, b) =>
        graft.sources.warc.WarcCodec.parse(fid, b) })
      .toDF()
      .filter($"warc_type" === "response")
      .select(urlCanonical("target_uri").as("canonical_url"),
        expr("CAST(regexp_extract(payload, '<title>Doc ([0-9]+)</title>', 1) AS BIGINT)")
          .as("doc_id"),
        $"payload")
      .groupBy($"canonical_url")
      .agg(min_by(struct($"doc_id", $"payload"), $"doc_id").as("s"),
        count(lit(1)).as("n_raw"))
      .select(
        expr("substring_index(substring_index(substring_index(canonical_url, '://', -1), '/', 1), ':', 1)")
          .as("host"),
        $"n_raw", $"s.payload".as("html"))
      .withColumn("blocks", expr(TextOps.htmlBlocksSql))
      .withColumn("verdicts", expr(TextOps.htmlVerdictsSql))
      .withColumn("extracted", expr(TextOps.htmlExtractedSql))
      .groupBy($"host")
      .agg(
        sum($"n_raw").as("n_fetched"),
        count(lit(1)).as("n_pages"),
        sum(expr("size(filter(verdicts, v -> v = 'content'))")).as("n_content"),
        expr("bit_xor(CAST(conv(substring(md5(extracted), 1, 15), 16, 10) AS BIGINT))")
          .as("text_xor"))
      .orderBy($"host")
  }

  /** The planted robots rule table for [[qRobotsFilter]] — one row per
    * (host index, path prefix, allow). Covers every RFC 9309 decision
    * shape: longest-prefix override (site1 blocks `/p/` but re-allows
    * `/p/3`), root disallow with subtree re-allow (site2), an exact
    * same-prefix allow/disallow tie that must resolve to ALLOW
    * (site3's `/p/2`), a targeted single-page block (site0), and a
    * host with no rules at all (site4 → implicit allow). Rules are
    * DATA — a deployment ships its parsed robots.txt as a table. */
  val RobotsRules: Seq[(Int, String, Boolean)] = Seq(
    (0, "/p/5", false),
    (1, "/p/", false), (1, "/p/3", true),
    (2, "/", false), (2, "/p/", true),
    (3, "/p/", false), (3, "/p/2", false), (3, "/p/2", true))

  /** Robots-rules evaluation (RFC 9309 semantics: longest matching
    * path prefix wins; an allow/disallow tie at equal length resolves
    * to allow; no match → allow) over the canonical crawl pages — the
    * politeness gate between URL canonicalization and fetching.
    *
    * Scale shape: the rule table is tiny at any scale (robots.txt
    * files per host) and BROADCASTS; evaluation is a broadcast join on
    * host with the prefix test as a residual condition, then one
    * `max_by((prefix_len, is_allow))` partial agg per page — the URL
    * side never shuffles at data size. Per-rule attribution
    * (`matched_prefix`) makes the block accounting auditable, the
    * same accountability style as `q_filter_funnel`. */
  def qRobotsFilter(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rules = broadcast(RobotsRules.toDF("h", "prefix", "allow"))
    val withPath = docs(s, dir)
      .select($"doc_id", crawlUrl($"doc_id").as("url"))
      .select(urlCanonical("url").as("canonical_url"))
      .groupBy($"canonical_url")
      .agg(count(lit(1)).as("n_raw")) // fetch volume rides the dedup
      .select($"canonical_url", $"n_raw",
        expr("substring_index(substring_index(substring_index(canonical_url, '://', -1), '/', 1), ':', 1)")
          .as("host"),
        expr("substring_index(parse_url(canonical_url, 'PATH'), '?', 1)").as("path"))
      .withColumn("hidx", expr("CAST(regexp_extract(host, 'site([0-9]+)', 1) AS INT)"))
    withPath
      .join(rules, $"hidx" === $"h" && expr("startswith(path, prefix)"), "left")
      .groupBy($"canonical_url", $"host", $"path", $"n_raw")
      .agg(max_by(struct($"prefix", $"allow"),
        struct(length($"prefix"), $"allow")).as("m"))
      .select($"canonical_url", $"host", $"n_raw",
        coalesce($"m.allow", lit(true)).as("is_allowed"),
        coalesce($"m.prefix", lit("-")).as("matched_prefix"))
      .groupBy($"host",
        when($"is_allowed", "allow").otherwise("deny").as("verdict"),
        $"matched_prefix")
      .agg(count(lit(1)).as("n_pages"),
        sum($"n_raw").as("n_fetches"),
        expr("bit_xor(CAST(conv(substring(md5(canonical_url), 1, 15), 16, 10) AS BIGINT))")
          .as("url_xor"))
      .orderBy($"host", $"verdict", $"matched_prefix")
  }

  /** T5-style span corruption — denoising-objective example synthesis:
    * mask ~14% of each document in block-aligned spans, replace each
    * masked span with a numbered sentinel in the INPUT, and emit the
    * sentinel→content mapping as the TARGET (Raffel et al. 2020's
    * span-corruption objective, block-aligned so span selection is
    * closed-form instead of a stateful greedy scan: 3-word blocks,
    * block b of doc d masked iff md5(d:b) ≡ 0 mod 7 — deterministic,
    * so the same example is regenerated bit-identically on any retry
    * or re-shard, which is what makes mid-training data replay
    * possible at all).
    *
    * Both input and target bytes are md5-gated per doc, so sentinel
    * numbering (k = rank among the doc's masked blocks), span
    * boundaries, and the ragged last block must all be exact. Scale
    * shape: pure per-row HOF map work — the sentinel rank is computed
    * by counting masked predecessors per block (O(blocks²) per doc
    * with blocks ≈ words/3; quadratic only in the PER-DOC block count,
    * flat across the corpus), zero joins, zero shuffles beyond the
    * output sort. */
  def qSpanCorrupt(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docs(s, dir)
      .select($"doc_id", expr("split(text, '\\\\s+')").as("ws"))
      .withColumn("blocks", expr(
        """transform(sequence(0, CAST((size(ws) + 2) DIV 3 AS INT) - 1),
          |  c -> struct(c AS bi,
          |    array_join(slice(ws, c * 3 + 1, 3), ' ') AS txt,
          |    CAST(conv(substring(md5(concat(CAST(doc_id AS STRING), ':', CAST(c AS STRING))), 1, 8), 16, 10) AS BIGINT) % 7 = 0 AS m))""".stripMargin))
      .select($"doc_id",
        expr("CAST(size(blocks) AS BIGINT)").as("n_blocks"),
        expr("CAST(size(filter(blocks, x -> x.m)) AS BIGINT)").as("n_masked"),
        expr("""md5(array_join(transform(blocks, x ->
               |  CASE WHEN x.m
               |    THEN concat('<X', CAST(size(filter(blocks, y -> y.m AND y.bi < x.bi)) AS STRING), '>')
               |    ELSE x.txt END), ' '))""".stripMargin).as("input_md5"),
        expr("""md5(array_join(transform(filter(blocks, x -> x.m), x ->
               |  concat('<X', CAST(size(filter(blocks, y -> y.m AND y.bi < x.bi)) AS STRING), '> ', x.txt)), ' '))""".stripMargin).as("target_md5"))
      .orderBy($"doc_id")
  }

  /** Deterministic output sharding — the DELIVERY stage: assign every
    * document to one of 16 shards by id-hash (never `rand()`, never
    * round-robin: a retried task must land every row in the same
    * shard), and emit the per-shard manifest a training loader checks
    * before reading — doc count, byte volume, and a content
    * fingerprint (XOR of id·31+size) that a dropped or duplicated
    * document flips.
    *
    * Scale shape: one codegen'd map pass + a 16-row partial-agged
    * rollup; the actual write is `df.repartition(shard).write.
    * partitionBy(shard)` against the SAME hash column, so the audit
    * and the layout can never disagree. The hash-mod balance is a
    * MEASURED property, not an assumption — n_docs rides out so the
    * max/min shard ratio is visible in the gate row (the fixture's
    * 16 shards land within ~2× at sf0.01; a pathological id space
    * would surface here before it skews training). */
  def qShardAssign(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docs(s, dir)
      .select($"doc_id", $"n_chars",
        (conv(substring(md5($"doc_id".cast("string")), 1, 8), 16, 10)
          .cast("long") % 16).as("shard"))
      .groupBy($"shard")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_chars").as("n_chars"),
        expr("bit_xor(doc_id * 31 + n_chars)").as("manifest_xor"))
      .orderBy($"shard")
  }

  /** Deterministic epoch shuffling: the order documents are served in
    * epoch e is the sort by md5(e ‖ ':' ‖ doc_id) — a different, fully
    * reproducible permutation every epoch, no `rand()`, no stored
    * permutation table (the training-data answer to "shuffle between
    * epochs AND be able to replay step 3 141 592 of epoch 2").
    *
    * The gate fingerprints each epoch's order SHARD-LOCALLY (md5 of
    * the shard's id sequence in serving order, XOR-combined per
    * epoch): orders differ across epochs (distinct fingerprints) yet
    * are bit-reproducible. Scale shape: the sort is per (epoch,
    * shard) — shards are sized to fit an executor by construction
    * (that is what a shard IS), so no global sort, no single-task
    * order fold; the per-shard manifest list lives in one aggregation
    * buffer exactly like the real shard manifest it models. */
  def qEpochShuffle(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docs(s, dir)
      .select($"doc_id",
        (conv(substring(md5($"doc_id".cast("string")), 1, 8), 16, 10)
          .cast("long") % 16).as("shard"))
      .crossJoin(broadcast(s.range(3).select($"id".as("epoch"))))
      .withColumn("ek", expr(
        "CAST(conv(substring(md5(concat(CAST(epoch AS STRING), ':', CAST(doc_id AS STRING))), 1, 15), 16, 10) AS BIGINT)"))
      .groupBy($"epoch", $"shard")
      .agg(expr("""md5(array_join(transform(
                  |  array_sort(collect_list(struct(ek, doc_id))),
                  |  x -> CAST(x.doc_id AS STRING)), ','))""".stripMargin).as("order_md5"))
      .groupBy($"epoch")
      .agg(count(lit(1)).as("n_shards"),
        expr("bit_xor(CAST(conv(substring(order_md5, 1, 15), 16, 10) AS BIGINT))")
          .as("order_xor"))
      .orderBy($"epoch")
  }

  /** Hash bucket 0-99 from the doc id — the split die. md5 (not
    * `hash()`) so DuckDB reproduces it bit-for-bit. */
  private val bucket =
    (conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10).cast("long") % 100)

  /** Deterministic train/val/test split (80/10/10 by id-hash bucket)
    * with per-(split, lang) volume accounting. A pipeline must be able
    * to re-derive the exact membership of every split at any time —
    * hence hashing the stable id, never `rand()`. Pure map + partial
    * agg on a low-cardinality key: the canonical 100 TB-safe shape. */
  def qDatasetSplit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docs(s, dir)
      .select($"doc_id", $"lang",
        size(split($"text", "\\s+")).cast("long").as("nw"),
        when(bucket < 10, "test").when(bucket < 20, "val").otherwise("train").as("split"))
      .groupBy($"split", $"lang")
      .agg(count(lit(1)).as("n_docs"), sum($"nw").as("n_words"))
      .orderBy($"split", $"lang")
  }

  /** Deterministic stratified sample: per (lang, source) stratum keep
    * the K=5 docs that rank first by (id-hash, id) — a reservoir
    * sample whose "random" order is a hash, so it is stable across
    * runs and engines. The window sorts only within strata and keeps
    * K rows of state per stratum. */
  def qStratifiedSample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"lang", $"source")
      .orderBy(md5($"doc_id".cast("string")), $"doc_id")
    docs(s, dir)
      .select($"lang", $"source", $"doc_id")
      .withColumn("rnk", row_number().over(w))
      .filter($"rnk" <= 5)
      .select($"lang", $"source", $"rnk".cast("long").as("rnk"), $"doc_id")
      .orderBy($"lang", $"source", $"rnk")
  }

  /** Sequence-length bucketing dial: the padding-waste audit that
    * sizes a batch-formation strategy. For each bucket count B in
    * {1,2,4,8,16,32} over the 0-128-token range, documents are routed
    * to fixed-width length buckets and every document pays padding up
    * to its bucket's observed max — the cost model of "batch within
    * length buckets" with unbounded batch size, i.e. the LOWER bound
    * padding a B-bucket scheme can reach. One row per B (buckets used,
    * real tokens, padded tokens, waste in basis points) shows the
    * dial's diminishing returns; B=1 is the no-bucketing worst case.
    * All-integer arithmetic end to end (max/sum/count + integer DIV),
    * so the audit is engine-exact and partition-invariant. Shape: one
    * scan exploded 6× on a constant array, then two partial-agg
    * rollups whose key cardinalities are B-bounded (≤ 63 and 6 rows of
    * state), never corpus-bounded. */
  def qPaddingWaste(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docs(s, dir)
      .select(least(size(split($"text", "\\s+")).cast("long"), lit(128L)).as("nw"))
      .select($"nw", explode(lit(Array(1L, 2L, 4L, 8L, 16L, 32L))).as("b"))
      // width = 128/B; least() pins nw=128 into the top bucket
      .select($"b", least(expr("(nw * b) DIV 128"), $"b" - 1L).cast("long").as("bucket"), $"nw")
      .groupBy($"b", $"bucket")
      .agg(count(lit(1)).as("n_docs"), sum($"nw").as("tok"), max($"nw").as("mx"))
      .groupBy($"b")
      .agg(
        count(lit(1)).as("buckets_used"),
        sum($"tok").as("real_tokens"),
        sum($"mx" * $"n_docs" - $"tok").as("padded_tokens"),
        expr("sum(mx * n_docs - tok) * 10000 DIV sum(mx * n_docs)").as("waste_bp"))
      .orderBy($"b")
  }

  /** Quality-weighted Poisson sampling: every document is accepted
    * independently with probability proportional to an integer quality
    * weight — the importance-sampling primitive a corpus build uses to
    * up-weight wanted text without a global sort or a fixed-K
    * reservoir (each of which serializes a stratum; this is a pure
    * map). The weight here is the capped word count (stand-in for any
    * integer quality score — the mechanism, not the metric, is the
    * operator). Acceptance is an INTEGER comparison: a 52-bit md5 draw
    * against w·2^45, so p = w/128 exactly — bit-reproducible across
    * engines and re-derivable at audit time, which rand() can never
    * be. The draw is salted (":ws") so it is independent of the
    * split die's hash. Output is the per-source acceptance audit
    * (totals, accepted count, accepted weight mass, order-free xor of
    * accepted ids) — the shape that verifies a 100 TB sample without
    * materializing it. Pure map + partial agg on a low-cardinality
    * key: nothing here is corpus-order- or partition-dependent. */
  def qWeightedSample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val h52 = conv(substring(md5(concat($"doc_id".cast("string"), lit(":ws"))), 1, 13), 16, 10)
      .cast("long")
    val w = least(size(split($"text", "\\s+")).cast("long"), lit(128L))
    docs(s, dir)
      .select($"source", $"doc_id", w.as("w"), h52.as("h52"))
      .withColumn("accepted", $"h52" < $"w" * lit(1L << 45))
      .groupBy($"source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when($"accepted", 1L).otherwise(0L)).as("n_sampled"),
        sum(when($"accepted", $"w").otherwise(0L)).as("w_sampled"),
        sum($"w").as("w_total"),
        expr("bit_xor(CASE WHEN accepted THEN doc_id ELSE 0 END)").as("sample_xor"))
      .orderBy($"source")
  }

  /** Top-5 terms per source by tf/df: tf = occurrences within the
    * source, df = number of distinct docs containing the term
    * (corpus-wide). The idf log is monotone in 1/df, so ranking by the
    * exact double tf/df (IEEE division of exact integers — bit-stable)
    * orders identically to tf·idf without a transcendental whose
    * rounding differs across engines. Two partial-agg rollups over the
    * exploded words; the tf←df join keys on the term. */
  def qTfidfTopTerms(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val words = docs(s, dir)
      .select($"doc_id", $"source", explode(split($"text", "\\s+")).as("w"))
    val tf = words.groupBy($"source", $"w").agg(count(lit(1)).as("tf"))
    val df = words.select($"w", $"doc_id").distinct()
      .groupBy($"w").agg(count(lit(1)).as("df"))
    val scored = tf.join(df, Seq("w"))
      .withColumn("score", $"tf".cast("double") / $"df")
    val win = Window.partitionBy($"source").orderBy($"score".desc, $"w")
    scored.withColumn("rnk", row_number().over(win))
      .filter($"rnk" <= 5)
      .select($"source", $"rnk".cast("long").as("rnk"), $"w".as("term"), $"tf", $"df")
      .orderBy($"source", $"rnk")
  }

  /** Fixed-size sequence chunking (64-token windows, last chunk
    * ragged): the boundary table a packing/tokenization stage consumes.
    * Demonstrated on the deterministic doc_id % 25 sample so the
    * output stays result-sized; rows out = ceil(tokens/64) per doc
    * regardless of corpus size. */
  def qDocChunks(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docs(s, dir)
      .filter($"doc_id" % 25 === 0)
      .select($"doc_id", size(split($"text", "\\s+")).cast("long").as("nw"))
      .select($"doc_id", $"nw",
        explode(expr("sequence(CAST(0 AS BIGINT), (nw + 63) DIV 64 - 1)")).as("chunk_id"))
      .select($"doc_id", $"chunk_id",
        ($"chunk_id" * 64).as("start_word"),
        least(($"chunk_id" + 1) * 64, $"nw").as("end_word"))
      .orderBy($"doc_id", $"chunk_id")
  }

  /** Strided chunking with overlap — the long-document treatment
    * training pipelines actually use (fixed context window 64, stride
    * 48 ⇒ 16-word overlap), where [[qDocChunks]] is the disjoint
    * form: boundary context survives because consecutive windows
    * share their edges, and the price is re-tokenized words. Chunk c
    * covers [c·48, min(c·48 + 64, nw)); stride < window guarantees
    * every word lands in ≥ 1 chunk (specced). Per-doc accounting:
    * chunk count, total chunk words, and `overlap_words` — the
    * duplicated-token TAX the overlap costs, the number that sizes
    * stride against budget. Same per-row sequence-explode shape as
    * the disjoint form: rows out ∝ tokens in, no shuffle before the
    * per-doc rollup. */
  def qChunkOverlap(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docs(s, dir)
      .filter($"doc_id" % 25 === 0)
      .select($"doc_id", size(split($"text", "\\s+")).cast("long").as("nw"))
      .select($"doc_id", $"nw",
        explode(expr(
          "sequence(CAST(0 AS BIGINT), (greatest(nw - 64, CAST(0 AS BIGINT)) + 47) DIV 48)"))
          .as("chunk_id"))
      .select($"doc_id", $"nw", $"chunk_id",
        ($"chunk_id" * 48).as("start_word"),
        least($"chunk_id" * 48 + 64, $"nw").as("end_word"))
      .groupBy($"doc_id", $"nw")
      .agg(count(lit(1)).as("n_chunks"),
        sum($"end_word" - $"start_word").as("total_chunk_words"),
        (sum($"end_word" - $"start_word") - first($"nw")).as("overlap_words"))
      .select($"doc_id", $"nw", $"n_chunks", $"total_chunk_words", $"overlap_words")
      .orderBy($"doc_id")
  }

  /** Quality scoring with basis-point integer arithmetic: stopword and
    * punctuation ratios per doc, bucketed into stopword-ratio deciles.
    * Ratios are `(10000 * count) DIV total` — integers end to end, so
    * per-bucket sums are exact under any partitioning (a sum of float
    * ratios would be association-order dependent). One map + one
    * low-cardinality agg. */
  def qQualityScore(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val stopArr = "array('the','a','of','and','to','in','is','it')"
    docs(s, dir)
      .select($"doc_id",
        size(split($"text", "\\s+")).cast("long").as("nw"),
        expr(s"CAST(size(filter(split(text, '\\\\s+'), x -> array_contains($stopArr, x))) AS BIGINT)")
          .as("nstop"),
        length($"text").cast("long").as("nc"),
        length(regexp_replace($"text", "[a-z0-9 ]", "")).cast("long").as("npunct"))
      .select($"doc_id",
        expr("(10000 * nstop) DIV nw").as("stop_bp"),
        expr("(10000 * npunct) DIV nc").as("punct_bp"))
      .groupBy(expr("stop_bp DIV 1000").as("stop_decile"))
      .agg(count(lit(1)).as("n_docs"),
        sum($"stop_bp").as("sum_stop_bp"),
        sum($"punct_bp").as("sum_punct_bp"),
        min($"stop_bp").as("min_stop_bp"),
        max($"stop_bp").as("max_stop_bp"))
      .orderBy($"stop_decile")
  }

  /** Token-budget quality selection per source — "keep the best 60%
    * of each source's tokens" — WITHOUT a per-group document sort.
    * The naive plan (rank docs by quality within source, cumulative
    * token window, cut at the budget) needs an ordered window over
    * every document of a source: with a handful of sources that is a
    * handful of reducers sorting corpus-sized runs — the plan that
    * dies first at 100 TB. This is the histogram form instead: docs
    * roll up into a (source × quality-bp) TOKEN histogram (map-side
    * partial agg; ≤ sources × 10001 rows regardless of corpus size),
    * the budget cutoff is derived by a cumulative window over that
    * result-sized histogram, and what ships back to the corpus is
    * only a threshold. Selection is level-granular (a quality level
    * is kept whole iff the running total through it fits the budget)
    * so the answer is integer-exact and partition-invariant — no
    * tie-splitting rule that depends on row order. Per source: the
    * token budget, the quality bar the budget buys (min kept
    * stop-ratio bp), docs/tokens kept, and budget fill in bp.
    * Quality metric = stopword-ratio basis points, shared verbatim
    * with [[qQualityScore]]'s arithmetic. */
  def qBudgetSelect(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val stopArr = "array('the','a','of','and','to','in','is','it')"
    val perDoc = docs(s, dir)
      .select($"source",
        size(split($"text", "\\s+")).cast("long").as("nw"),
        expr(s"CAST(size(filter(split(text, '\\\\s+'), x -> array_contains($stopArr, x))) AS BIGINT)")
          .as("nstop"))
      .select($"source", $"nw", expr("(10000 * nstop) DIV nw").as("stop_bp"))
    val hist = perDoc.groupBy($"source", $"stop_bp")
      .agg(sum($"nw").as("lvl_tokens"), count(lit(1)).as("lvl_docs"))
    val srcW = Window.partitionBy($"source")
    val cumW = srcW.orderBy($"stop_bp".desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hist
      .withColumn("budget", expr("sum(lvl_tokens) OVER (PARTITION BY source) * 6 DIV 10"))
      .withColumn("cum", sum($"lvl_tokens").over(cumW))
      .filter($"cum" <= $"budget")
      .groupBy($"source", $"budget")
      .agg(min($"stop_bp").as("q_threshold_bp"),
        sum($"lvl_docs").as("n_docs_kept"),
        sum($"lvl_tokens").as("tokens_kept"))
      .withColumn("fill_bp", expr("tokens_kept * 10000 DIV budget"))
      .orderBy($"source")
  }

  /** Per-word 32-bit hash (md5 prefix) — the rolling-hash alphabet,
    * shared via [[Hashing]] (single cross-engine source of truth). */
  private val wordHashSql = Hashing.wordHashSql

  /** Document-prefix fingerprint via polynomial rolling hash over the
    * first 8 words: acc = (acc * 31 + h(word)) mod 1e9+7 —
    * order-sensitive (unlike a bag-of-words hash) and computed in one
    * codegen'd aggregate per row, no shuffle until the final
    * fingerprint groupBy. Docs sharing a boilerplate opening collapse
    * to one fingerprint (the corpus has no full-text duplicates at any
    * SF, so the prefix is the scope where the collapse is observable —
    * this is also the production shape for header/boilerplate
    * screening); the modulus keeps every intermediate < 2^35 so the
    * arithmetic is exact in both engines. */
  def qRollingFingerprint(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docs(s, dir)
      .select($"doc_id",
        expr(Hashing.prefixFingerprintSql(8))
          .as("fingerprint"))
      .groupBy($"fingerprint")
      .agg(count(lit(1)).as("n_docs"), min($"doc_id").as("canonical_doc"))
      .filter($"n_docs" > 1)
      .orderBy($"fingerprint")
  }

  /** Incremental ingest-time dedup screen: the id-hash 80+ bucket
    * slice plays the "incoming batch", buckets < 80 the "existing
    * corpus"; an incoming doc is flagged when its first-8-word prefix
    * fingerprint (the boilerplate screen, same hash as
    * [[qRollingFingerprint]]) already exists in the corpus. This is
    * the op a production pipeline runs on every ingest — corpus-wide
    * dedup is the batch job, this is the gate — and its shape is one
    * fingerprint aggregation over the corpus side + one equi-join: at
    * 100 TB the corpus fingerprint index is the thing you keep
    * materialized (bucketed by fingerprint, or fronted by a Bloom
    * filter) so each batch joins against it without a rescan. */
  def qIncrementalDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val fp = docs(s, dir)
      .select($"doc_id", bucket.as("b"),
        expr(Hashing.prefixFingerprintSql(8))
          .as("fingerprint"))
    val existing = fp.filter($"b" < 80)
      .groupBy($"fingerprint").agg(count(lit(1)).as("n_existing"))
    fp.filter($"b" >= 80)
      .join(existing, Seq("fingerprint"))
      .select($"doc_id", $"fingerprint", $"n_existing")
      .orderBy($"doc_id")
  }

  /** Bloom-filter sizing: 2^20 bits / 3 probe hashes. The bit count is
    * the deployment dial (m ≈ 1.44·k·n for a target FP rate — at 100 TB
    * scale it to the corpus fingerprint cardinality; 2^33 bits = 1 GiB
    * still broadcasts); positions are pmod(xxhash64(fingerprint, i), m)
    * — computed by ONE shared SQL fragment so the build and probe sides
    * can never disagree (the false-negative bug class). */
  private val BloomBits = 1 << 20
  private val BloomK = 3
  private def bloomPosSql(i: Int): String =
    s"pmod(xxhash64(fingerprint, $i), $BloomBits)"
  private def bloomMightSql: String = (0 until BloomK).map { i =>
    s"((element_at(bloom, CAST((${bloomPosSql(i)}) div 64 AS INT) + 1) & " +
      s"shiftleft(CAST(1 AS BIGINT), CAST((${bloomPosSql(i)}) % 64 AS INT))) != 0)"
  }.mkString(" AND ")

  /** Bloom-fronted ingest gate: the scale path of
    * [[qIncrementalDedup]]. The corpus's prefix fingerprints build a
    * fixed-size Bloom filter ([[graft.functions.BitSetAgg]] over shared
    * hash positions); each incoming batch row probes the broadcast
    * filter, and ONLY "might contain" rows proceed to the exact
    * fingerprint join — definite-new rows (the vast majority of a
    * healthy ingest) never shuffle at all. False positives are
    * harmless by construction: the exact join clears them, so the
    * output is identical to the plain join the oracle runs — the same
    * result-invisibility contract as the salted operators. False
    * negatives are impossible (bitset OR never loses a bit; position
    * range is fail-fast checked). At 100 TB the filter is built ONCE,
    * OR-merged incrementally per ingest day (BitSetAgg.merge is
    * idempotent), and broadcast at megabytes — vs bucketing-or-
    * shuffling the full corpus fingerprint index per batch.
    *
    * In THIS self-contained query the `corpus` aggregation is planned
    * twice — once feeding the Bloom build, once as the exact-verify
    * join side — because the fixture corpus is a cheap scan. A
    * deployment materializes the corpus fingerprint index as a table
    * (exactly as [[qIncrementalDedup]]'s docs describe) so both roles
    * read the one artifact; the "built ONCE" above refers to that
    * deployment shape, not this demo plan. */
  def qBloomGate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // One fingerprint pass feeds BOTH gate sides: the corpus/batch
    // split is on the DERIVED bucket column, so neither side's filter
    // can prune the parquet scan — un-materialized, each consumer
    // re-scanned and re-hashed every doc (5 FileScans in the r19
    // executed plan). The corpus fingerprint table (the standing dedup
    // index) is materialized too: the bloom build and the exact verify
    // join both read it.
    val fp = Fences.rowScale(docs(s, dir)
      .select($"doc_id", $"lang", bucket.as("b"),
        expr(Hashing.prefixFingerprintSql(8)).as("fingerprint")),
      budget = "doc_id + lang + bucket + 16-char fingerprint ~ 45 B/doc")
    val corpus = Fences.rowScale(fp.filter($"b" < 80)
      .groupBy($"fingerprint").agg(count(lit(1)).as("n_existing")),
      budget = "fingerprint + count ~ 30 B per distinct corpus fingerprint")
    val bitset = udaf(new graft.functions.BitSetAgg(BloomBits))
    val bloom = corpus
      .select(explode(array((0 until BloomK).map(i => expr(bloomPosSql(i))): _*)).as("pos"))
      .agg(bitset($"pos").as("bloom"))
    val probed = fp.filter($"b" >= 80)
      .crossJoin(broadcast(bloom))
      .withColumn("might", expr(bloomMightSql))
    val verified = probed.filter($"might")
      .join(corpus.select($"fingerprint", lit(1).as("hit")), Seq("fingerprint"), "left")
    val certainNew = probed.filter(!$"might").withColumn("hit", lit(null).cast("int"))
    verified.select($"lang", $"hit")
      .unionByName(certainNew.select($"lang", $"hit"))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_batch"), count($"hit").as("n_dup"),
        (count(lit(1)) - count($"hit")).as("n_new"))
      .orderBy($"lang")
  }

  /** Built-in HLL++ sketch audited against the exact distinct count:
    * approx_count_distinct at 1% rsd must stay within 5% of exact per
    * group — a 5-sigma margin, so the flag is a regression tripwire,
    * not a coin flip (a 5%-rsd sketch against a 5% bound failed one
    * group at sf0.1: rsd is ONE standard deviation, audit bounds need
    * real headroom over the sketch's). The audit is the
    * oracle-checkable part — DuckDB computes the exact counts and the
    * flag must be TRUE for every group, so HLL drift turns the row
    * red. Register-max merges are order- and partitioning-independent,
    * so the flag is deterministic. This is the third sketch next to
    * the KMV estimator ([[qDistinctEstimate]], integer-exact
    * cross-engine) and the min-k sample ([[qMinkHash]]): the built-in
    * one a 100 TB dashboard actually runs, with its error bound
    * enforced rather than assumed. */
  def qHllAudit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "events")
      .groupBy($"event_type")
      .agg(countDistinct($"user_id").as("n_exact"),
        approx_count_distinct($"user_id", 0.01).as("n_approx"))
      .select($"event_type", $"n_exact",
        (abs($"n_approx" - $"n_exact") <= $"n_exact" * 0.05).as("within_5pct"))
      .orderBy($"event_type")
  }

  /** Count-min sketch heavy-hitter audit — the FREQUENCY sketch that
    * completes the family (KMV for distinct counts, HLL for the
    * built-in path, min-k for samples, Bloom for membership, quantile
    * for distributions): a d=4 × w=1024 table of counters where token
    * t increments cell (j, hashⱼ(t)) in every row, and its estimate is
    * the MINIMUM over its four cells. The table is d·w integers
    * REGARDLESS of vocabulary size, partial-agg mergeable across
    * partitions, streams, and days — which is why it is the structure
    * behind every "top queries right now" dashboard at 100 TB: exact
    * per-token counts need vocab-sized state; the sketch needs 4096
    * cells. Estimates never undercount (every cell ≥ the true count);
    * the audit reports each heavy hitter's exact count, its sketch
    * estimate, the overcount, and whether it sits within the 3N/w
    * Markov envelope (ε = e/w at δ = e^-d, loosened to 3/w for integer
    * exactness). Determinism: the four hash rows are the four disjoint
    * 8-hex-char slices of ONE md5 — independent 32-bit hashes, one
    * digest per token, reproduced bit-for-bit by the oracle. Plan
    * shape: tokenize → 4-way posexplode → (j, bucket) partial agg for
    * the sketch; exact top-20 via orderBy+limit (TakeOrderedAndProject
    * — per-partition top-k then merge, never a global sort); the
    * estimate join touches 80 candidate rows against the ≤4096-cell
    * sketch. */
  def qCmsHeavyHitters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val W = 1024
    val toks = docs(s, dir)
      .select(explode(split($"text", "\\s+")).as("token"))
      .filter($"token" =!= "")
    def bucketJ(j: Int) =
      expr(s"CAST(conv(substring(md5(token), ${8 * j + 1}, 8), 16, 10) AS BIGINT) % $W")
    val buckets = array((0 until 4).map(bucketJ): _*)
    // ONE tokenize pass: the token-count table (vocab-cardinality,
    // checkpointed) is a sufficient statistic for everything here —
    // each CMS cell is Σ true_count over the tokens hashing into it,
    // the heavy hitters are its top rows, and the stream length is
    // Σ true_count. The r19 shape re-exploded the full token STREAM
    // per consumer (3 FileScans) and ran the 4 md5 bucket hashes once
    // per token INSTANCE; now they run once per distinct token.
    val tokCounts = toks.groupBy($"token").agg(count(lit(1)).as("true_count"))
      .localCheckpoint()
    val sketch = tokCounts.select($"true_count",
        posexplode(buckets).as(Seq("j", "bucket")))
      .groupBy($"j", $"bucket").agg(sum($"true_count").as("cell"))
    val top = tokCounts.orderBy($"true_count".desc, $"token").limit(20)
    val n = tokCounts.agg(sum($"true_count").as("n_tokens"))
    top.select($"token", $"true_count", posexplode(buckets).as(Seq("j", "bucket")))
      .join(sketch, Seq("j", "bucket"))
      .groupBy($"token", $"true_count")
      .agg(min($"cell").as("est_count"))
      .crossJoin(broadcast(n))
      .select($"token", $"true_count", $"est_count",
        ($"est_count" - $"true_count").as("overcount"),
        (($"est_count" - $"true_count") <= expr(s"(3 * n_tokens) DIV $W"))
          .as("within_bound"))
      .orderBy($"true_count".desc, $"token")
  }

  /** The capstone composition: the corpus-to-training-set pipeline as
    * ONE query — length floor → stopword-ratio quality gate → exact
    * dedup (canonical-min per normalized-text fingerprint) → near-dup
    * drop (greedy larger-id of every minhash-verified pair, the
    * funnel's rule) → deterministic split assignment → per-(split,
    * lang) document and token accounting. Every stage is an operator
    * this library verifies separately; the composition is what a user
    * actually ships, and it stays one declarative plan: Catalyst fuses
    * the per-doc stages into the scan projection, the dedup is one
    * fingerprint exchange plus a semi-join, the near-dup drop is an
    * anti-join against the (duplicate-density-sized) pair set, and
    * the rollup is a bounded partial agg. At sf0.01: 500 raw → 457
    * length-pass → 290 quality-pass → minus dup drops — every gate
    * demonstrably bites. The oracle nests the minhash-pairs oracle
    * verbatim and replays each stage as a CTE. */
  def qCorpusPipeline(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val stopArr = "array('the','a','of','and','to','in','is','it')"
    val stats = docs(s, dir)
      .select($"doc_id", $"lang",
        size(split($"text", "\\s+")).cast("long").as("nw"),
        expr(s"CAST(size(filter(split(text, '\\\\s+'), x -> array_contains($stopArr, x))) AS BIGINT)")
          .as("nstop"),
        md5(lower(regexp_replace($"text", "\\s+", " "))).as("fp"),
        bucket.as("b"))
    // quality survivors feed the canon agg AND the semi-join side —
    // materialize the (text-free, per-doc metadata) frame once instead
    // of re-running the stopword filter + md5 scan per consumer
    val quality = Fences.rowScale(stats
      .filter($"nw" >= 20)
      .withColumn("stop_bp", expr("(10000 * nstop) DIV nw"))
      .filter($"stop_bp" >= 500),
      budget = "per-doc metadata row (ids + counts + 32-char fp) ~ 70 B/doc")
    val canon = quality.groupBy($"fp").agg(min($"doc_id").as("doc_id"))
    val exact = quality.join(canon.select($"doc_id"), Seq("doc_id"), "left_semi")
    val nearDupDrops = graft.queries.TextOps.nearDupPairs(s, dir)
      .select($"doc_b".as("doc_id")).distinct()
    exact.join(nearDupDrops, Seq("doc_id"), "left_anti")
      .select($"lang", $"nw",
        when($"b" < 10, "test").when($"b" < 20, "val").otherwise("train").as("split"))
      .groupBy($"split", $"lang")
      .agg(count(lit(1)).as("n_docs"), sum($"nw").as("n_tokens"))
      .orderBy($"split", $"lang")
  }

  /** Mergeable-sketch re-aggregation, audited: per-type DataSketches
    * HLL sketches of the user set union into ONE global sketch whose
    * estimate must land within 5% of the exact global distinct count
    * (lgConfigK=14 ⇒ ~0.8% rsd — >6 sigma under the 5% bound, same
    * headroom rule the [[qHllAudit]] sf0.1 failure taught). This is
    * the pattern that makes 100 TB dashboards cheap — sketch once per
    * partition/day at ingest, answer any rollup by unioning kilobyte
    * sketches, never rescanning raw data — and the union step is
    * exactly what [[qHllAudit]]'s single-level form doesn't exercise.
    * Register-max unions are order- and partitioning-independent, so
    * the audit flag is deterministic; the oracle pins it TRUE against
    * DuckDB's exact count. */
  def qHllUnionAudit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = t(s, dir, "events")
    val sketches = ev.groupBy($"event_type").agg(hll_sketch_agg($"user_id", 14).as("sk"))
    val unioned = sketches.agg(
      hll_sketch_estimate(hll_union_agg($"sk")).as("n_approx"),
      count(lit(1)).as("n_sketches"))
    val exact = ev.agg(countDistinct($"user_id").as("n_exact"))
    exact.crossJoin(broadcast(unioned))
      .select($"n_exact", $"n_sketches",
        (abs($"n_approx" - $"n_exact") <= $"n_exact" * 0.05).as("within_5pct"))
  }

  /** Cross-document repeated passages: hash every 8-word window of
    * every doc (the windowed form of the rolling hash — the window set
    * is the semantic; Catalyst evaluates each window in a constant-k
    * HOF), then find hashes occurring in ≥ 2 distinct docs — the
    * contamination / boilerplate screen a training corpus needs. Top-20
    * by spread so the output is result-sized; the full table is the
    * same plan minus the limit. */
  def qCommonPassages(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docs(s, dir)
      .select($"doc_id", expr(s"$wordHashSql").as("hs"))
      .filter(size($"hs") >= 8)
      .select($"doc_id", explode(expr(
        """transform(sequence(0, size(hs) - 8),
          |  i -> aggregate(slice(hs, i + 1, 8), CAST(0 AS BIGINT),
          |                 (acc, h) -> (acc * 31 + h) % 1000000007))""".stripMargin))
        .as("whash"))
      .groupBy($"whash")
      .agg(countDistinct($"doc_id").as("n_docs"), count(lit(1)).as("n_occurrences"))
      .filter($"n_docs" >= 2)
      .orderBy($"n_docs".desc, $"whash")
      .limit(20)
  }

  /** Maximal shared-passage extents between document pairs — the
    * span-level view of contamination (Lee et al. 2021's ExactSubstr
    * dedup reports exactly this: HOW LONG the verbatim overlap is,
    * not just that one window matched). From the same 8-word window
    * hashes as [[qCommonPassages]]: for every pair of docs sharing a
    * window instance, adjacent shared windows that advance BOTH
    * positions by 1 merge into maximal spans (diagonal run-length
    * merging: group by pa − pb, islands by pa − row_number), so a
    * k-word verbatim overlap reports as ONE span of k words, not
    * k − 7 window hits. Boilerplate guard: window hashes occurring
    * more than 32 times in the corpus are excluded BEFORE the pair
    * stage (q_common_passages is the screen that shows what they
    * are), so pair volume is bounded by rare-window co-occurrence —
    * linear in duplicated content, never corpus². All joins are
    * whash/pair equi-joins; the island window is partitioned by
    * (pair, diagonal), never global. Output is tiered pair rows:
    * `primary` (≥ 16-word maximal spans — span count, total shared
    * windows, longest span), the SHORT-REGION `tail` (4-word-window
    * pass, maximal spans of 6–15 words — what the primary pass
    * structurally misses), and one `tail_noise` summary row counting
    * the excluded 4–5-word coincidence spans (see the inline note).
    * The scrub key's ≥ 16 cut deliberately stays (the Lee et al.
    * policy); the tail measures what a lower cut would touch. */
  /** The k-word shared-window span frame behind [[qSharedSpans]]:
    * window-hash every k-word window, apply the ≤ 32-occurrence
    * rare-window guard (the COUNT window shares the whash exchange
    * with both self-join sides — ReusedExchange), pair up window
    * instances across docs, and merge diagonal runs into maximal
    * spans. Returns one row per (doc_a, doc_b, span) with `n_win`
    * (windows in the span) and `span_words` (= n_win + k − 1). */
  private def sharedSpanFrame(s: SparkSession, base: DataFrame, k: Int): DataFrame = {
    import s.implicits._
    val win = base
      .filter(size($"hs") >= k)
      .select($"doc_id", posexplode(expr(
        s"""transform(sequence(0, size(hs) - $k),
           |  i -> aggregate(slice(hs, i + 1, $k), CAST(0 AS BIGINT),
           |                 (acc, h) -> (acc * 31 + h) % 1000000007))""".stripMargin))
        .as(Seq("pos", "whash")))
    val w2 = win
      .withColumn("n_occ", count(lit(1)).over(Window.partitionBy($"whash")))
      .filter($"n_occ" <= 32).drop("n_occ")
    val pairs = w2.as("a")
      .join(w2.as("b"), $"a.whash" === $"b.whash" && $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"),
        $"a.pos".as("pa"), $"b.pos".as("pb"))
    pairs
      .withColumn("isl", $"pa" - row_number().over(
        Window.partitionBy($"doc_a", $"doc_b", $"pa" - $"pb").orderBy($"pa")))
      .groupBy($"doc_a", $"doc_b", ($"pa" - $"pb").as("diag"), $"isl")
      .agg(count(lit(1)).as("n_win"))
      .withColumn("span_words", $"n_win" + lit(k - 1))
  }

  def qSharedSpans(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // The tokenized (doc_id, hs) base feeds both tier passes (k=8 and
    // k=4), and inside each pass both self-join sides — four
    // scan+tokenize replays in the r19 executed plan (the whash
    // ReusedExchange the pair stage relies on at scale cannot fire
    // locally, where the build side becomes a BroadcastExchange). One
    // localCheckpoint = one pass of the split/md5 word-hash work; the
    // per-tier shingle explodes then read the materialized arrays.
    // The WordUnrollCap guard rides the base, so it still fails loudly
    // exactly once per oversized doc.
    val base = Fences.rowScale(docs(s, dir)
      .select($"doc_id", expr(s"$wordHashSql").as("hs"))
      // loud guard for the oracle's unroll bound (the generated k=8/k=4
      // chains enumerate positions with generate_series) — see
      // [[Hashing.WordUnrollCap]]
      .filter(expr(s"coalesce(assert_true(size(hs) <= ${Hashing.WordUnrollCap}, " +
        s"'q_shared_spans: doc exceeds Hashing.WordUnrollCap=${Hashing.WordUnrollCap} words; " +
        "the DuckDB oracle unroll would truncate — raise the shared cap'), true)")),
      budget = "doc_id + word-hash array ~ 8 B/word — the widest fence; " +
        "text-free but token-linear, the first to swap to a reliable dir")
    val main = sharedSpanFrame(s, base, 8)
      .groupBy($"doc_a", $"doc_b")
      .agg(count(lit(1)).as("n_spans"),
        sum($"n_win").as("n_shared_windows"),
        max($"span_words").as("max_span_words"))
      .filter($"max_span_words" >= 16)
      .select(lit("primary").as("tier"), $"doc_a", $"doc_b",
        $"n_spans", $"n_shared_windows", $"max_span_words")
    // The SHORT-REGION TAIL (r15 verdict item 7): 8-word windows
    // cannot see 4-7-word verbatim overlaps at all, and the >= 16
    // report threshold hides 8-15-word ones. A second pass with
    // 4-word windows behind ITS OWN rare-window guard merges spans
    // the same way; maximal spans of 6-15 words become per-pair
    // `tail` rows (>= 16-word spans are excluded — the primary owns
    // them), and the 4-5-word spans — measured 37.6k pairs at sf0.1
    // vs 54 signal pairs, pure n-gram coincidence at ~700x the
    // volume — are EXCLUDED from per-pair reporting but counted in
    // one gated `tail_noise` summary row (doc ids -1), so the
    // precision/volume trade is in the output itself, never a silent
    // cap. Both tiers come out of ONE aggregation over the 4-word
    // frame (tier tagged before the groupBy), so the trade costs one
    // pass. On this corpus the tiers select DISJOINT pair sets: the
    // near-dup pairs share one long region, the tail pairs share
    // short phrases. Growth per tier measured in SCALE.md at 10x.
    val tail = sharedSpanFrame(s, base, 4)
      .filter($"span_words" <= 15)
      .withColumn("tier",
        when($"span_words" >= 6, lit("tail")).otherwise(lit("tail_noise")))
      .select($"tier",
        when($"tier" === "tail", $"doc_a").otherwise(lit(-1L)).as("doc_a"),
        when($"tier" === "tail", $"doc_b").otherwise(lit(-1L)).as("doc_b"),
        $"n_win", $"span_words")
      .groupBy($"tier", $"doc_a", $"doc_b")
      .agg(count(lit(1)).as("n_spans"),
        sum($"n_win").as("n_shared_windows"),
        max($"span_words").as("max_span_words"))
    main.unionByName(tail)
      .orderBy($"tier", $"doc_a", $"doc_b")
  }

  /** ExactSubstr SCRUB — the acting half of [[qSharedSpans]] (Lee et
    * al. 2022's dedup policy: don't drop duplicated documents, CUT the
    * duplicated substrings out of them): every maximal corpus-shared
    * region covering ≥ 16 words is removed, and the rewrite itself is
    * gated — per doc, before/after word accounting plus the md5 of the
    * scrubbed text, which only matches if both engines cut exactly the
    * same word positions. A window is "shared" iff it occurs in ≥ 2
    * DISTINCT documents (min ≠ max doc_id over one whash exchange —
    * no pair join anywhere, so the scrub is strictly cheaper than the
    * span REPORT and survives any corpus size the same way); covered
    * word intervals then merge by the standard sort + running-max
    * sweep (overlapping and back-to-back shared regions coalesce, so
    * nothing double-cuts) before the ≥ 16 threshold picks what to
    * drop. The rewrite is per-doc HOF arithmetic against the doc's
    * own (few) cut spans — the expensive global work is one window
    * shuffle, same as any dedup pass. */
  def qExactsubstrScrub(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = docs(s, dir).select($"doc_id",
      split($"text", "\\s+").as("ws"), expr(s"$wordHashSql").as("hs"))
    val win = base
      .filter(size($"hs") >= 8)
      .select($"doc_id", posexplode(expr(
        """transform(sequence(0, size(hs) - 8),
          |  i -> aggregate(slice(hs, i + 1, 8), CAST(0 AS BIGINT),
          |                 (acc, h) -> (acc * 31 + h) % 1000000007))""".stripMargin))
        .as(Seq("pos", "whash")))
    val dup = win
      .withColumn("mn", min($"doc_id").over(Window.partitionBy($"whash")))
      .withColumn("mx", max($"doc_id").over(Window.partitionBy($"whash")))
      .filter($"mn" =!= $"mx")
      .select($"doc_id", $"pos".cast("long").as("st"),
        ($"pos" + 7L).cast("long").as("en"))
    val cutSpans = dup
      .withColumn("prev_en", max($"en").over(
        Window.partitionBy($"doc_id").orderBy($"st")
          .rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("newg",
        when($"prev_en".isNull || $"st" > $"prev_en" + 1L, 1L).otherwise(0L))
      .withColumn("grp", sum($"newg").over(
        Window.partitionBy($"doc_id").orderBy($"st")))
      .groupBy($"doc_id", $"grp")
      .agg(min($"st").as("st"), max($"en").as("en"))
      .withColumn("len", $"en" - $"st" + 1L)
      .filter($"len" >= 16L)
    val cuts = cutSpans.groupBy($"doc_id")
      .agg(count(lit(1)).as("n_cut_spans"), sum($"len").as("n_cut_words"),
        sort_array(collect_list(struct($"st", $"en"))).as("cuts"))
    base.join(cuts, Seq("doc_id"), "left")
      .select($"doc_id",
        size($"ws").cast("long").as("n_words"),
        coalesce($"n_cut_spans", lit(0L)).as("n_cut_spans"),
        coalesce($"n_cut_words", lit(0L)).as("n_cut_words"),
        expr(
          """transform(
            |  filter(transform(ws, (w, i) -> struct(w AS w, CAST(i AS BIGINT) AS i)),
            |         p -> cuts IS NULL OR NOT exists(cuts, c -> p.i >= c.st AND p.i <= c.en)),
            |  p -> p.w)""".stripMargin).as("kept"))
      .select($"doc_id", $"n_words", $"n_cut_spans", $"n_cut_words",
        size($"kept").cast("long").as("n_words_after"),
        md5(concat_ws(" ", $"kept")).as("scrub_md5"))
      .orderBy($"doc_id")
  }

  /** PII detection + redaction with per-type accounting — the scrub
    * every training-data pipeline runs before text leaves the trust
    * boundary. The corpus itself carries no PII (plain lowercase
    * words), so the key first CONSTRUCTS a PII-bearing view with
    * formulaic contact lines (an email for 2/3 of docs, one IP always
    * plus a second for every 5th doc, a phone for every 4th — closed
    * forms of doc_id, so the oracle rebuilds the identical input),
    * then counts each PII type on the raw text and rewrites it with
    * typed placeholders. The gate hash-matches BOTH halves: the
    * per-type counts (detection) and the md5 of the redacted text
    * (the rewrite — a regex that over- or under-matched anywhere
    * breaks it). Patterns stay in the Java∩RE2 common subset so both
    * engines compile the same automaton; redaction order
    * (email → ip → phone) is fixed and stated, since the output is
    * order-sensitive. Pure per-row regex work — codegen'd, no
    * shuffle, embarrassingly parallel at any scale. */
  def qPiiRedact(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emailPat = "[a-z0-9]+@[a-z0-9.]+\\.[a-z]+"
    val ipPat = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
    val phonePat = "\\+1-[0-9]{3}-[0-9]{4}"
    val withPii = docs(s, dir).select($"doc_id",
      concat($"text",
        when($"doc_id" % 3 > 0,
          concat(lit(" contact user"), $"doc_id", lit("@example.com")))
          .otherwise(lit("")),
        lit(" from 10."), $"doc_id" % 256, lit("."), $"doc_id" % 7,
        lit("."), $"doc_id" % 13,
        when($"doc_id" % 5 === 0,
          concat(lit(" via 192.168."), $"doc_id" % 31, lit("."), $"doc_id" % 11))
          .otherwise(lit("")),
        when($"doc_id" % 4 === 0,
          concat(lit(" call +1-555-"), lpad(($"doc_id" % 10000).cast("string"), 4, "0")))
          .otherwise(lit(""))).as("text"))
    withPii.select($"doc_id",
        size(regexp_extract_all($"text", lit(emailPat), lit(0))).cast("long").as("n_emails"),
        size(regexp_extract_all($"text", lit(ipPat), lit(0))).cast("long").as("n_ips"),
        size(regexp_extract_all($"text", lit(phonePat), lit(0))).cast("long").as("n_phones"),
        md5(regexp_replace(regexp_replace(regexp_replace($"text",
          emailPat, "<EMAIL>"), ipPat, "<IP>"), phonePat, "<PHONE>"))
          .as("redacted_md5"))
      .orderBy($"doc_id")
  }

  /** Quality-filter funnel with per-rule ATTRIBUTION — not just how
    * many documents survive the C4/Gopher-style screen but WHICH rule
    * each casualty died on (first-failing-rule semantics, the way a
    * production funnel reports so a rule change is accountable for
    * exactly the documents it kills). Rules, in order: too_short
    * (< 30 words), repetitive (distinct words < 30% of words),
    * high_punct (non-alnum chars > 15%), low_stop (stopword ratio
    * < 3% — an en-centric rule by design; the per-language attribution
    * EXPOSES that bias instead of hiding it). All per-doc math is
    * codegen'd HOF arithmetic in one pass (CASE short-circuits, so
    * too_short guards the later divisions); the rollup is one bounded
    * (lang, verdict) partial agg plus a lang-partitioned share
    * window over the tiny aggregate. */
  def qFilterFunnel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val stopArr = "array('the','a','of','and','to','in','is','it')"
    docs(s, dir)
      .select($"doc_id", $"lang",
        size(split($"text", "\\s+")).cast("long").as("nw"),
        expr("CAST(size(array_distinct(split(text, '\\\\s+'))) AS BIGINT)").as("nd"),
        expr(s"CAST(size(filter(split(text, '\\\\s+'), x -> array_contains($stopArr, x))) AS BIGINT)")
          .as("nstop"),
        length($"text").cast("long").as("nc"),
        length(regexp_replace($"text", "[a-z0-9 ]", "")).cast("long").as("npunct"))
      .select($"lang", expr(
        """CASE WHEN nw < 30 THEN 'too_short'
          |     WHEN (10000 * nd) DIV nw < 3000 THEN 'repetitive'
          |     WHEN (10000 * npunct) DIV nc > 1500 THEN 'high_punct'
          |     WHEN (10000 * nstop) DIV nw < 300 THEN 'low_stop'
          |     ELSE 'keep' END""".stripMargin).as("verdict"))
      .groupBy($"lang", $"verdict")
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("lang_share_bp",
        expr("(10000 * n_docs) DIV sum(n_docs) OVER (PARTITION BY lang)"))
      .orderBy($"lang", $"verdict")
  }

  /** Winnowing document fingerprints (Schleimer–Wilkerson–Aiken 2003,
    * the MOSS algorithm): per doc, 4-gram rolling hashes; over every
    * window of 4 consecutive gram hashes select the MINIMUM, ties to
    * the RIGHTMOST position — the guarantee the algorithm exists for
    * is that any shared substring of ≥ w+k−1 words shares a selected
    * fingerprint, at ~2/(w+1) the storage of all grams. The selection
    * is pure per-doc HOF arithmetic: (hash, pos) packs into one BIGINT
    * as hash·4096 + (4095 − u), so `array_min` IS the winnowing rule
    * (smallest hash, then largest in-window offset) and both engines
    * replay it exactly — no UDF, no shuffle until the bounded per-doc
    * rollup. Output per sampled doc: gram/window/selected counts,
    * selected density in basis points (theory says → 2/(w+1) = 4000bp
    * on random text), and the XOR of the selected instance set — the
    * checksum pins the exact fingerprint SET, not just its size.
    * Positions < 4096 by the corpus's ~2000-word bound; both engines
    * use the identical pack either way. */
  def qWinnowFingerprint(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docs(s, dir)
      .filter($"doc_id" % 10 === 0)
      .select($"doc_id", expr(s"$wordHashSql").as("hs"))
      .filter(size($"hs") >= 7)
      .select($"doc_id", expr(
        """transform(sequence(0, size(hs) - 4),
          |  i -> aggregate(slice(hs, i + 1, 4), CAST(0 AS BIGINT),
          |                 (acc, h) -> (acc * 31 + h) % 1000000007))""".stripMargin).as("g"))
      .select($"doc_id", size($"g").cast("long").as("n_grams"), expr(
        """array_distinct(zip_with(
          |  transform(sequence(0, size(g) - 4), j ->
          |    array_min(transform(sequence(0, 3),
          |      u -> element_at(g, j + u + 1) * 4096 + CAST(4095 - u AS BIGINT)))),
          |  sequence(0, size(g) - 4),
          |  (key, j) -> (key DIV 4096) * 4096 + j + 4095 - key % 4096))""".stripMargin)
        .as("insts"))
      .select($"doc_id", $"n_grams",
        ($"n_grams" - 3).as("n_windows"),
        size($"insts").cast("long").as("n_selected"),
        expr("10000 * size(insts) DIV (n_grams - 3)").as("density_bp"),
        expr("aggregate(insts, CAST(0 AS BIGINT), (acc, x) -> acc ^ x)").as("fp_xor"))
      .orderBy($"doc_id")
  }

  /** N-gram novelty — the memorization audit: what fraction of the
    * TEST split's 8-gram instances never occur in TRAIN? The
    * complement of [[qSplitContamination]]'s view: contamination lists
    * the worst shared passages; novelty measures how much of the eval
    * set is fresh at all, per language — the rate a memorization study
    * reports. Same deterministic split die and passage-hash machinery
    * (one shared [[Hashing]] source of truth); the train gram set is
    * corpus-scale so membership is a plain whash EQUI-join — AQE may
    * broadcast it at demo SF where the runtime size merits it, but the
    * plan is never a nested loop — and both rollups keep map-side
    * partials. */
  def qNgramNovelty(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val win = docs(s, dir)
      .select($"doc_id", $"lang",
        when(bucket < 10, "test").when(bucket < 20, "val").otherwise("train").as("split"),
        expr(s"$wordHashSql").as("hs"))
      .filter(size($"hs") >= 8)
      .select($"doc_id", $"lang", $"split", explode(expr(
        """transform(sequence(0, size(hs) - 8),
          |  i -> aggregate(slice(hs, i + 1, 8), CAST(0 AS BIGINT),
          |                 (acc, h) -> (acc * 31 + h) % 1000000007))""".stripMargin))
        .as("whash"))
    val trainGrams = win.filter($"split" === "train")
      .select($"whash").distinct().withColumn("seen", lit(1L))
    win.filter($"split" === "test")
      .join(trainGrams, Seq("whash"), "left")
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_test_grams"), count($"seen").as("n_seen"))
      .select($"lang", $"n_test_grams", $"n_seen",
        expr("10000 * (n_test_grams - n_seen) DIV n_test_grams").as("novelty_bp"))
      .orderBy($"lang")
  }

  /** Corpus-overlap matrix: pairwise Jaccard between SOURCES over
    * their distinct word-trigram shingle sets — the number a data-mix
    * designer needs BEFORE weighting corpora (two crawls of the same
    * sites deduplicate each other; [[qDatasetMix]]'s √size budgets
    * assume the sources are distinct populations). Each pair carries
    * both the EXACT Jaccard and the min-K sketch ESTIMATE with its
    * signed error, so the key is simultaneously the audit that
    * calibrates the estimator.
    *
    * Scale: at 100 TB the exact half is one distinct-(source, shingle)
    * shuffle plus a shingle-hash EQUI-join whose per-key fanout is
    * bounded by sources² — heavy but linear, the calibration run. The
    * sketch half is the standing path: K=64 smallest distinct hashes
    * per source (a bounded-buffer, mergeable bottom-K — same state
    * shape as [[qMinkHash]]), after which the pair stage is arithmetic
    * over sources² tiny arrays. Estimator: with U = the K smallest of
    * A ∪ B (union of sketches, since the sketch IS bottom-K),
    * est = |U ∩ A ∩ B| / |U| — the classic single-hash min-K Jaccard
    * estimator. Everything is integer-exact; ties impossible (hashes
    * distinct per source by construction). */
  def qSourceOverlap(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // The distinct (source, whash) shingle frame feeds FOUR consumers
    // (per-source counts, the bottom-K sketch, and both sides of the
    // exact-intersection self-join). Un-materialized, each consumer
    // replays the scan + tokenize + trigram explode + distinct — the
    // r19 executed plan showed SIX FileScans of documents.parquet, i.e.
    // six passes of the expensive text work per run. One
    // localCheckpoint makes it one pass; the frame itself is the
    // distinct shingle set (far smaller than the exploded stream), the
    // same edge-cardinality materialization discipline as the CC loop.
    val w = Fences.rowScale(docs(s, dir)
      .select($"source", expr(s"$wordHashSql").as("hs"))
      .filter(size($"hs") >= 3)
      .select($"source", explode(expr(
        """transform(sequence(0, size(hs) - 3),
          |  i -> aggregate(slice(hs, i + 1, 3), CAST(0 AS BIGINT),
          |                 (acc, h) -> (acc * 31 + h) % 1000000007))""".stripMargin))
        .as("whash"))
      .distinct(),
      budget = "source + 8-B whash per distinct (source, shingle) ~ 30 B/row")
    val counts = w.groupBy($"source").agg(count(lit(1)).as("n"))
    val rk = Window.partitionBy($"source").orderBy($"whash")
    val sk = w.withColumn("rn", row_number().over(rk)).filter($"rn" <= 64)
      .groupBy($"source").agg(sort_array(collect_list($"whash")).as("sk"))
    val inter = w.as("a")
      .join(w.as("b"), $"a.whash" === $"b.whash" && $"a.source" < $"b.source")
      .groupBy($"a.source".as("sa"), $"b.source".as("sb"))
      .agg(count(lit(1)).as("n_inter"))
    counts.select($"source".as("sa"), $"n".as("n_a"))
      .crossJoin(broadcast(counts.select($"source".as("sb"), $"n".as("n_b"))))
      .filter($"sa" < $"sb")
      .join(inter, Seq("sa", "sb"), "left").na.fill(0L, Seq("n_inter"))
      .join(broadcast(sk.select($"source".as("sa"), $"sk".as("ska"))), Seq("sa"))
      .join(broadcast(sk.select($"source".as("sb"), $"sk".as("skb"))), Seq("sb"))
      .withColumn("u", expr("slice(array_sort(array_union(ska, skb)), 1, 64)"))
      .select($"sa", $"sb", $"n_a", $"n_b", $"n_inter",
        expr("(10000 * n_inter) DIV (n_a + n_b - n_inter)").as("jaccard_bp"),
        expr("(10000 * size(array_intersect(u, array_intersect(ska, skb)))) DIV size(u)")
          .as("est_bp"))
      .withColumn("err_bp", $"est_bp" - $"jaccard_bp")
      .orderBy($"sa", $"sb")
  }

  /** The custom typed Aggregator in a query: per language, the 4
    * smallest doc-content hashes (a per-group MinHash-style sketch).
    * The udaf partial-aggregates map-side like any built-in (buffer is
    * ≤ k longs), then posexplode flattens the sketch for the oracle
    * compare; DuckDB reproduces it as a per-group row_number top-k. */
  def qMinkHash(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val mink = udaf(new graft.functions.MinKAgg(4))
    docs(s, dir)
      .select($"lang",
        conv(substring(md5($"text"), 1, 15), 16, 10).cast("long").as("h"))
      .groupBy($"lang")
      .agg(mink($"h").as("mins"))
      .select($"lang", posexplode($"mins").as(Seq("pos", "h")))
      .select($"lang", $"pos".cast("long").as("pos"), $"h")
      .orderBy($"lang", $"pos")
  }

  /** KMV (k-minimum-values) distinct-count sketch over document words,
    * per language: est ≈ (k-1) · H / h_(k), with H = 2^60 the hash
    * space and h_(k) the k-th smallest distinct word hash. The
    * production shape for approximate COUNT DISTINCT — sketch state is
    * k longs per group, mergeable, partial-aggregatable — but unlike
    * HLL implementations the arithmetic here is integer-exact, so the
    * estimate is bit-identical across engines and oracle-checkable.
    * n_exact rides along to show the estimate lands near truth. */
  def qDistinctEstimate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val k = 8
    val mink = udaf(new graft.functions.MinKAgg(k))
    val words = docs(s, dir)
      .select($"lang", explode(split($"text", "\\s+")).as("w"))
      .select($"lang", conv(substring(md5($"w"), 1, 15), 16, 10).cast("long").as("h"))
      .distinct()
    words.groupBy($"lang")
      .agg(mink($"h").as("mins"), count(lit(1)).as("n_exact"))
      .filter(size($"mins") >= k) // estimator defined only once k mins exist
      .select($"lang", $"n_exact",
        element_at($"mins", k).as("kth_min"),
        expr(s"CAST(${k - 1}L * 1152921504606846976L DIV element_at(mins, $k) AS BIGINT)")
          .as("est_distinct"))
      .orderBy($"lang")
  }

  /** Temperature-weighted mixture sampling: each source's share of a
    * fixed 1000-doc budget is ∝ √(source size) — the standard α=0.5
    * temperature that up-weights small sources relative to proportional
    * sampling. All arithmetic is integer-exact cross-engine: isqrt via
    * floor(sqrt(double)) (IEEE sqrt is correctly rounded, floor exact),
    * shares via integer division, and membership is the target_k
    * smallest id-hashes per source (deterministic, re-derivable).
    * Shapes: one agg for sizes, a broadcast 1-row total joined back to
    * the per-source rows (no unpartitioned window — that would funnel
    * everything through one partition), one ranking window for
    * membership with a LITERAL 1000-row pre-cap: the budget is 1000
    * docs total so target_k ≤ 1000 always, and the literal predicate
    * is what lets Spark compile the window to a map-side
    * WindowGroupLimit below the exchange instead of fully sorting each
    * source's entire corpus slice (the non-literal `rnk <= target_k`
    * alone would not trigger it). */
  def qDatasetMix(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // The per-source size table feeds BOTH the w_total rollup and the
    // per-source target join — un-fenced, each consumer re-scanned
    // docs (3 FileScans in the r20 before-plan). Sources-cardinality
    // frame: fence it once. The ranked scan below is the one
    // remaining docs pass; it cannot share this scan because the cap
    // window needs (source, doc_id) rows while this is their rollup.
    val sized = docs(s, dir)
      .groupBy($"source").agg(count(lit(1)).as("n_docs"))
      .withColumn("w", expr("CAST(floor(sqrt(CAST(n_docs AS DOUBLE))) AS BIGINT)"))
      .localCheckpoint() // sub-linear: ≤ #sources rows
    val total = sized.agg(sum($"w").as("w_total"))
    val perSource = sized.crossJoin(broadcast(total))
      .withColumn("target_k", greatest(lit(1L), expr("(w * 1000) DIV w_total")))
    val ranked = docs(s, dir)
      .select($"source", $"doc_id")
      .withColumn("rnk", row_number().over(
        Window.partitionBy($"source").orderBy(md5($"doc_id".cast("string")), $"doc_id")))
      .filter($"rnk" <= 1000) // literal cap => map-side WindowGroupLimit
    ranked.join(perSource, Seq("source"))
      .filter($"rnk" <= $"target_k")
      .groupBy($"source", $"n_docs", $"w", $"target_k")
      .agg(count(lit(1)).as("n_sampled"))
      .orderBy($"source")
  }

  /** Split decontamination: 8-word passages that occur in BOTH a
    * train-split and a test-split document (split = the same id-hash
    * die as q_dataset_split) — the eval-leak check run before any
    * train/test split ships. Same window-hash machinery as
    * q_common_passages; the contamination join is a conditional
    * aggregation over the split flag, no extra shuffle. Top-20 by
    * (test-doc spread, hash) keeps the output result-sized. */
  def qSplitContamination(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val win = docs(s, dir)
      .select($"doc_id",
        when(bucket < 10, "test").when(bucket < 20, "val").otherwise("train").as("split"),
        expr(s"$wordHashSql").as("hs"))
      .filter(size($"hs") >= 8)
      .select($"doc_id", $"split", explode(expr(
        """transform(sequence(0, size(hs) - 8),
          |  i -> aggregate(slice(hs, i + 1, 8), CAST(0 AS BIGINT),
          |                 (acc, h) -> (acc * 31 + h) % 1000000007))""".stripMargin))
        .as("whash"))
    // Two-level distinct instead of two countDistinct()s: multiple
    // distinct aggregates plan an Expand that doubles the exploded
    // window-hash volume through the shuffle; deduping (whash, split,
    // doc_id) first partial-aggregates map-side at 1× volume, and the
    // second rollup's conditional sums are plain partial aggs.
    win.groupBy($"whash", $"split", $"doc_id").agg(count(lit(1)).as("dup"))
      .groupBy($"whash")
      .agg(
        sum(when($"split" === "train", 1L).otherwise(0L)).as("n_train_docs"),
        sum(when($"split" === "test", 1L).otherwise(0L)).as("n_test_docs"))
      .filter($"n_train_docs" >= 1 && $"n_test_docs" >= 1)
      .orderBy($"n_test_docs".desc, $"whash")
      .limit(20)
  }

  /** Sequence packing: docs greedily packed into 256-token context
    * windows ("bins") per source, in stable doc_id order, via a running
    * token sum — bin = (cum−1) div budget. The training-data step that
    * turns a corpus into fixed-size model inputs. One window exchange
    * on source (the running sum), reused by the bin aggregation —
    * per-row state is one long, and packing is reproducible because
    * the order key is the stable id, never arrival order. A 100 TB run
    * partitions the window by (source, day-bucket) to keep any single
    * partition's sorted run bounded; the bin arithmetic is unchanged. */
  def qSequencePack(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"source").orderBy($"doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs(s, dir)
      .select($"source", $"doc_id",
        size(split($"text", "\\s+")).cast("long").as("n_tok"))
      .withColumn("cum", sum($"n_tok").over(w))
      .select($"source", expr("(cum - 1) div 256").as("bin"), $"n_tok")
      .groupBy($"source", $"bin")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tok").as("n_tokens"))
      .orderBy($"source", $"bin")
  }

  /** Vocabulary-coverage audit: share of corpus tokens covered by the
    * top-16 global vocabulary, per source, in basis points — the
    * tokenizer-fit / OOV-rate check a pipeline runs before committing
    * to a vocab. Two passes: a partial-agg word count whose top-K is a
    * LITERAL bound (so the broadcast is bounded by construction, like
    * the mix/quantile caps — never by data), then one token→vocab
    * broadcast left join + per-source aggregate. Integer basis points,
    * exact under any partitioning. */
  def qVocabCoverage(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val tok = docs(s, dir)
      .select($"source", explode(split($"text", "\\s+")).as("wd"))
    val vocab = tok.groupBy($"wd").agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"wd").limit(16)
      .select($"wd".as("vw"))
    tok.join(broadcast(vocab), $"wd" === $"vw", "left")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_tokens"), count($"vw").as("n_invocab"))
      .select($"source", $"n_tokens", $"n_invocab",
        expr("n_invocab * 10000 div n_tokens").as("coverage_bp"))
      .orderBy($"source")
  }

  /** Right-to-be-forgotten propagation: delete every record of an
    * erased user from the event log, with per-type accounting and a
    * survivor checksum. The operator is the delete-LIST-driven shape
    * a real pipeline runs — the list arrives as a table (here derived
    * from a closed form so the oracle can replay membership), gets
    * BROADCAST (erasure requests are minuscule next to the corpus),
    * and survivorship is decided row-locally against the broadcast
    * hash set — per-row map work, no shuffle of the 100 TB side.
    * The XOR fingerprint over survivors proves the scrub removed
    * exactly the erased users' rows and left every other row intact —
    * over- or under-deletion flips it. (At 100 TB the accounting pass
    * and the scrub share one scan exactly as written here; a
    * bloom-fronted variant of the same join is q_bloom_gate.) */
  def qGdprDelete(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = events(s, dir).select($"event_id", $"user_id", $"event_type")
    val erased = ev.select($"user_id").filter($"user_id" % 53 === 0).distinct()
    // ONE accounting+scrub pass (r19 plan: 3 FileScans of events — the
    // delete-list build, the `before` counts, and the anti-joined
    // survivor rollup each re-scanned the log). The broadcast delete
    // list now attaches as a LEFT-join flag and before/after/checksum
    // are conditional aggregates over the SAME rows: survivors are the
    // flag-null rows (identical to the left-anti semantics — a NULL
    // user_id matches nothing either way), erased rows contribute 0 to
    // the XOR (its identity), and an all-erased type keeps its group
    // (n_after = 0, checksum 0) without the extra before⋈after join.
    // Only the narrow delete-list scan remains beside the main pass.
    val flagged = ev.join(
      broadcast(erased.withColumn("erased", lit(1))), Seq("user_id"), "left")
    flagged.groupBy($"event_type")
      .agg(count(lit(1)).as("n_before"),
        count($"erased").as("n_deleted"),
        count(when($"erased".isNull, 1)).as("n_after"),
        expr("bit_xor(CASE WHEN erased IS NULL THEN " +
          "CAST(conv(substring(md5(concat_ws('|', " +
          "CAST(event_id AS STRING), CAST(user_id AS STRING))), 1, 15), " +
          "16, 10) AS BIGINT) ELSE CAST(0 AS BIGINT) END)").as("survivor_checksum"))
      .orderBy($"event_type")
  }

  /** Snapshot diff — the INVERSE of q_cdc_apply: given two table
    * versions, derive the changelog (added / removed / changed /
    * unchanged, with counts and per-class key fingerprints). This is
    * the reconciliation/audit op every table format needs when the
    * changelog was lost or distrusted. Version 2 is a formulaic
    * evolution of orders (drops, cent-bumps, key-shifted inserts)
    * both engines construct identically; the diff itself is ONE
    * full-outer equi-join on the primary key + null/value
    * classification — at 100 TB both snapshots are bucketed by key
    * (q_bucketed_join's layout), making the join exchange-free, and
    * the classification is map work. */
  def qSnapshotDiff(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = t(s, dir, "orders").select($"o_orderkey".as("k"),
      round($"o_totalprice" * 100).cast("long").as("cents"))
    val v2 = o.filter($"k" % 101 =!= 0)
      .select($"k",
        ($"cents" + when($"k" % 7 === 0, 1000L).otherwise(0L)).as("cents"))
      .unionByName(o.filter($"k" % 89 === 0)
        .select(($"k" + 100000000L).as("k"), ($"cents" + 7L).as("cents")))
    o.select($"k", $"cents".as("c1"))
      .join(v2.select($"k", $"cents".as("c2")), Seq("k"), "full_outer")
      .select($"k",
        when($"c1".isNull, "added").when($"c2".isNull, "removed")
          .when($"c1" === $"c2", "unchanged").otherwise("changed")
          .as("change_class"))
      .groupBy($"change_class")
      .agg(count(lit(1)).as("n"), expr("bit_xor(k)").as("key_xor"))
      .orderBy($"change_class")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_url_canonical" -> qUrlCanonical,
    "q_crawl_pipeline" -> qCrawlPipeline,
    "q_warc_pipeline" -> qWarcPipeline,
    "q_robots_filter" -> qRobotsFilter,
    "q_gdpr_delete" -> qGdprDelete,
    "q_snapshot_diff" -> qSnapshotDiff,
    "q_sequence_pack" -> qSequencePack,
    "q_vocab_coverage" -> qVocabCoverage,
    "q_mink_hash" -> qMinkHash,
    "q_dataset_mix" -> qDatasetMix,
    "q_split_contamination" -> qSplitContamination,
    "q_distinct_estimate" -> qDistinctEstimate,
    "q_dataset_split" -> qDatasetSplit,
    "q_span_corrupt" -> qSpanCorrupt,
    "q_shard_assign" -> qShardAssign,
    "q_epoch_shuffle" -> qEpochShuffle,
    "q_stratified_sample" -> qStratifiedSample,
    "q_weighted_sample" -> qWeightedSample,
    "q_padding_waste" -> qPaddingWaste,
    "q_tfidf_top_terms" -> qTfidfTopTerms,
    "q_doc_chunks" -> qDocChunks,
    "q_chunk_overlap" -> qChunkOverlap,
    "q_quality_score" -> qQualityScore,
    "q_rolling_fingerprint" -> qRollingFingerprint,
    "q_incremental_dedup" -> qIncrementalDedup,
    "q_bloom_gate" -> qBloomGate,
    "q_corpus_pipeline" -> qCorpusPipeline,
    "q_hll_audit" -> qHllAudit,
    "q_hll_union_audit" -> qHllUnionAudit,
    "q_cms_heavy_hitters" -> qCmsHeavyHitters,
    "q_common_passages" -> qCommonPassages,
    "q_winnow_fingerprint" -> qWinnowFingerprint,
    "q_ngram_novelty" -> qNgramNovelty,
    "q_source_overlap" -> qSourceOverlap,
    "q_shared_spans" -> qSharedSpans,
    "q_exactsubstr_scrub" -> qExactsubstrScrub,
    "q_pii_redact" -> qPiiRedact,
    "q_filter_funnel" -> qFilterFunnel,
    "q_budget_select" -> qBudgetSelect,
  )

  private val bucketSql =
    "CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT) % 100"

  private val wordHashListSql = Hashing.wordHashListSql

  val oracles: Map[String, String] = Map(
    // the oracle never parses: it reconstructs the expected canonical
    // string closed-form from doc_id (period-70 canonical space), so
    // the XOR pins the exact output of Spark's parse+rules chain.
    // same VALUES rule table, same longest-prefix/allow-tie order,
    // canonical pages rebuilt closed-form (the q_url_canonical form).
    "q_robots_filter" ->
      """WITH pages AS (
        |  SELECT
        |    'www.site' || (doc_id % 5) || '.com' AS host,
        |    doc_id % 5 AS hidx,
        |    CASE WHEN doc_id % 7 = 0 THEN '/' ELSE '/p/' || (doc_id % 7) END AS path,
        |    'https://www.site' || (doc_id % 5) || '.com'
        |      || CASE WHEN doc_id % 7 = 5 THEN ':8080' ELSE '' END
        |      || CASE WHEN doc_id % 7 = 0 THEN '/' ELSE '/p/' || (doc_id % 7) END
        |      || CASE WHEN doc_id % 2 = 0 THEN '?id=7' ELSE '?a=7&z=9' END AS canonical_url,
        |    count(*) AS n_raw
        |  FROM documents GROUP BY 1, 2, 3, 4),
        |rules(h, prefix, allow) AS (VALUES
        |  (0, '/p/5', false),
        |  (1, '/p/', false), (1, '/p/3', true),
        |  (2, '/', false), (2, '/p/', true),
        |  (3, '/p/', false), (3, '/p/2', false), (3, '/p/2', true)),
        |j AS (
        |  SELECT p.canonical_url, p.host, p.n_raw, r.prefix, r.allow,
        |    row_number() OVER (PARTITION BY p.canonical_url
        |      ORDER BY length(r.prefix) DESC NULLS LAST, r.allow DESC NULLS LAST) AS rn
        |  FROM pages p LEFT JOIN rules r
        |    ON r.h = p.hidx AND starts_with(p.path, r.prefix)),
        |dec AS (
        |  SELECT canonical_url, host, n_raw,
        |    coalesce(allow, true) AS is_allowed,
        |    coalesce(prefix, '-') AS matched_prefix
        |  FROM j WHERE rn = 1)
        |SELECT host,
        |  CASE WHEN is_allowed THEN 'allow' ELSE 'deny' END AS verdict,
        |  matched_prefix, count(*) AS n_pages,
        |  CAST(sum(n_raw) AS BIGINT) AS n_fetches,
        |  bit_xor(CAST('0x' || substring(md5(canonical_url), 1, 15) AS BIGINT)) AS url_xor
        |FROM dec GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    // The WARC envelope must be TRANSPARENT: parse → filter →
    // canonicalize → dedup → strip lands exactly where the capstone
    // lands on pre-parsed text, so the oracle IS the capstone's
    // closed form — and any WARC-layer slip (a mis-sliced payload, an
    // unfiltered warcinfo/request, a broken Target-URI) moves a
    // count, adds a null-host row, or flips the per-host XOR.
    "q_warc_pipeline" ->
      """WITH surv AS (
        |  SELECT min(doc_id) AS doc_id, count(*) AS n_raw
        |  FROM documents GROUP BY doc_id % 70),
        |d AS (
        |  SELECT s.n_raw, t.doc_id,
        |    'www.site' || (t.doc_id % 5) || '.com' AS host,
        |    trim(substring(t.text, 1, 80)
        |         || CASE WHEN t.doc_id % 5 = 0 THEN 'source' ELSE '' END) AS m,
        |    trim(substring(t.text, 81, 60)) AS b2
        |  FROM surv s JOIN documents t ON t.doc_id = s.doc_id),
        |e AS (
        |  SELECT host, n_raw,
        |    1 + CASE WHEN length(b2) >= 25 THEN 1 ELSE 0 END AS c_content,
        |    m || CASE WHEN length(b2) >= 25 THEN ' ' || b2 ELSE '' END AS extracted
        |  FROM d)
        |SELECT host, CAST(sum(n_raw) AS BIGINT) AS n_fetched,
        |  count(*) AS n_pages,
        |  CAST(sum(c_content) AS BIGINT) AS n_content,
        |  bit_xor(CAST('0x' || substring(md5(extracted), 1, 15) AS BIGINT)) AS text_xor
        |FROM e GROUP BY 1 ORDER BY 1""".stripMargin,
    // survivors are closed-form (min doc_id per doc_id % 70 group);
    // their extraction replays the q_html_extract closed form; a wrong
    // canonicalize/dedup/strip stage anywhere moves the per-host XOR.
    "q_crawl_pipeline" ->
      """WITH surv AS (
        |  SELECT min(doc_id) AS doc_id, count(*) AS n_raw
        |  FROM documents GROUP BY doc_id % 70),
        |d AS (
        |  SELECT s.n_raw, t.doc_id,
        |    'www.site' || (t.doc_id % 5) || '.com' AS host,
        |    trim(substring(t.text, 1, 80)
        |         || CASE WHEN t.doc_id % 5 = 0 THEN 'source' ELSE '' END) AS m,
        |    trim(substring(t.text, 81, 60)) AS b2
        |  FROM surv s JOIN documents t ON t.doc_id = s.doc_id),
        |e AS (
        |  SELECT host, n_raw,
        |    1 + CASE WHEN length(b2) >= 25 THEN 1 ELSE 0 END AS c_content,
        |    m || CASE WHEN length(b2) >= 25 THEN ' ' || b2 ELSE '' END AS extracted
        |  FROM d)
        |SELECT host, CAST(sum(n_raw) AS BIGINT) AS n_fetched,
        |  count(*) AS n_pages,
        |  CAST(sum(c_content) AS BIGINT) AS n_content,
        |  bit_xor(CAST('0x' || substring(md5(extracted), 1, 15) AS BIGINT)) AS text_xor
        |FROM e GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_url_canonical" ->
      """WITH c AS (SELECT doc_id,
        |  'www.site' || (doc_id % 5) || '.com' AS host,
        |  'https://www.site' || (doc_id % 5) || '.com'
        |    || CASE WHEN doc_id % 7 = 5 THEN ':8080' ELSE '' END
        |    || CASE WHEN doc_id % 7 = 0 THEN '/' ELSE '/p/' || (doc_id % 7) END
        |    || CASE WHEN doc_id % 2 = 0 THEN '?id=7' ELSE '?a=7&z=9' END AS canonical_url
        |  FROM documents)
        |SELECT host, count(*) AS n_urls,
        |  CAST(count(DISTINCT canonical_url) AS BIGINT) AS n_canonical,
        |  bit_xor(CAST('0x' || substring(md5(canonical_url), 1, 15) AS BIGINT)) AS url_xor
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,
    // one conditional-agg pass over events: membership is the closed
    // form, the survivor XOR must equal the anti-join's output.
    "q_gdpr_delete" ->
      """SELECT event_type, count(*) AS n_before,
        |  CAST(sum(CASE WHEN user_id % 53 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_deleted,
        |  CAST(sum(CASE WHEN user_id % 53 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_after,
        |  bit_xor(CASE WHEN user_id % 53 <> 0 THEN
        |    CAST('0x' || substring(md5(concat_ws('|',
        |      CAST(event_id AS VARCHAR), CAST(user_id AS VARCHAR))), 1, 15) AS BIGINT)
        |    ELSE 0 END) AS survivor_checksum
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    // both versions rebuilt from the same closed forms, diffed with
    // the same full-outer classification.
    "q_snapshot_diff" ->
      """WITH o AS (SELECT o_orderkey AS k,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
        |v2 AS (
        |  SELECT k, cents + CASE WHEN k % 7 = 0 THEN 1000 ELSE 0 END AS cents
        |  FROM o WHERE k % 101 <> 0
        |  UNION ALL
        |  SELECT k + 100000000, cents + 7 FROM o WHERE k % 89 = 0),
        |d AS (SELECT coalesce(o.k, v2.k) AS k,
        |    CASE WHEN o.k IS NULL THEN 'added'
        |         WHEN v2.k IS NULL THEN 'removed'
        |         WHEN o.cents = v2.cents THEN 'unchanged'
        |         ELSE 'changed' END AS change_class
        |  FROM o FULL OUTER JOIN v2 ON o.k = v2.k)
        |SELECT change_class, count(*) AS n, bit_xor(k) AS key_xor
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,
    // stride-48 / window-64 chunk grid replayed with a range explode;
    // the per-doc rollup carries the duplicated-token accounting.
    "q_chunk_overlap" ->
      """WITH d AS (SELECT doc_id,
        |    CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS nw
        |  FROM documents WHERE doc_id % 25 = 0),
        |cg AS (SELECT doc_id, nw,
        |    unnest(range(0, ((CASE WHEN nw > 64 THEN nw - 64 ELSE 0 END) + 47) // 48 + 1)) AS chunk_id
        |  FROM d),
        |ch AS (SELECT doc_id, nw, chunk_id, chunk_id * 48 AS start_word,
        |    least(chunk_id * 48 + 64, nw) AS end_word
        |  FROM cg)
        |SELECT doc_id, nw, count(*) AS n_chunks,
        |  CAST(sum(end_word - start_word) AS BIGINT) AS total_chunk_words,
        |  CAST(sum(end_word - start_word) - nw AS BIGINT) AS overlap_words
        |FROM ch GROUP BY doc_id, nw ORDER BY doc_id""".stripMargin,
    // The full sketch replayed: same md5-slice hash rows, same d×w
    // cells, same min-of-cells estimate, same 3N/w envelope.
    "q_cms_heavy_hitters" ->
      """WITH toks AS (SELECT unnest(string_split_regex(text, '\s+')) AS token FROM documents),
        |t AS (SELECT token FROM toks WHERE token <> ''),
        |n AS (SELECT count(*) AS n_tokens FROM t),
        |rws AS (SELECT token, j.j AS j,
        |    CAST('0x' || substring(md5(token), j.j*8+1, 8) AS BIGINT) % 1024 AS bucket
        |  FROM t, range(4) j(j)),
        |sketch AS (SELECT j, bucket, count(*) AS cell FROM rws GROUP BY 1,2),
        |exact AS (SELECT token, count(*) AS true_count FROM t GROUP BY 1),
        |top AS (SELECT token, true_count FROM exact ORDER BY true_count DESC, token LIMIT 20),
        |cand AS (SELECT top.token, top.true_count, j.j AS j,
        |    CAST('0x' || substring(md5(top.token), j.j*8+1, 8) AS BIGINT) % 1024 AS bucket
        |  FROM top, range(4) j(j)),
        |est AS (SELECT c.token, c.true_count, min(sk.cell) AS est_count
        |  FROM cand c JOIN sketch sk ON sk.j = c.j AND sk.bucket = c.bucket GROUP BY 1,2)
        |SELECT est.token, est.true_count, CAST(est.est_count AS BIGINT) AS est_count,
        |  CAST(est.est_count - est.true_count AS BIGINT) AS overcount,
        |  (est.est_count - est.true_count) <= ((3 * n.n_tokens) // 1024) AS within_bound
        |FROM est, n ORDER BY est.true_count DESC, est.token""".stripMargin,
    "q_sequence_pack" ->
      """WITH d AS (SELECT source, doc_id,
        |    CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_tok
        |  FROM documents),
        |r AS (SELECT source, doc_id, n_tok,
        |    sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM d)
        |SELECT source, CAST((cum - 1) // 256 AS BIGINT) AS bin,
        |  count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens
        |FROM r GROUP BY 1, 2 ORDER BY source, bin""".stripMargin,
    "q_vocab_coverage" ->
      """WITH tok AS (SELECT source, unnest(string_split_regex(text, '\s+')) AS wd FROM documents),
        |vocab AS (SELECT wd FROM (SELECT wd, count(*) AS n FROM tok GROUP BY 1
        |          ORDER BY n DESC, wd LIMIT 16)),
        |cv AS (SELECT source, count(*) AS n_tokens,
        |    CAST(sum(CASE WHEN wd IN (SELECT wd FROM vocab) THEN 1 ELSE 0 END) AS BIGINT) AS n_invocab
        |  FROM tok GROUP BY 1)
        |SELECT source, n_tokens, n_invocab,
        |  CAST(n_invocab * 10000 // n_tokens AS BIGINT) AS coverage_bp
        |FROM cv ORDER BY source""".stripMargin,
    "q_dataset_mix" ->
      """WITH per AS (
        |  SELECT source, count(*) AS n_docs,
        |    CAST(floor(sqrt(CAST(count(*) AS DOUBLE))) AS BIGINT) AS w
        |  FROM documents GROUP BY source),
        |tot AS (SELECT source, n_docs, w, CAST(sum(w) OVER () AS BIGINT) AS w_total FROM per),
        |tgt AS (SELECT source, n_docs, w,
        |    CAST(greatest(1, (w * 1000) // w_total) AS BIGINT) AS target_k FROM tot),
        |ranked AS (SELECT source, doc_id,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rnk
        |  FROM documents)
        |SELECT t.source, t.n_docs, t.w, t.target_k, count(*) AS n_sampled
        |FROM ranked r JOIN tgt t ON t.source = r.source
        |WHERE r.rnk <= t.target_k
        |GROUP BY t.source, t.n_docs, t.w, t.target_k
        |ORDER BY t.source""".stripMargin,
    "q_split_contamination" ->
      s"""WITH d AS (
         |  SELECT doc_id,
         |    CASE WHEN $bucketSql < 10 THEN 'test'
         |         WHEN $bucketSql < 20 THEN 'val'
         |         ELSE 'train' END AS split,
         |    $wordHashListSql AS hs
         |  FROM documents),
         |w AS (
         |  SELECT doc_id, split,
         |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_slice(hs, i + 1, i + 8)),
         |      (acc, x) -> (acc * 31 + x) % 1000000007) AS whash
         |  FROM d, (SELECT unnest(generate_series(0, 2000)) AS i) t
         |  WHERE len(hs) >= 8 AND i <= len(hs) - 8)
         |SELECT whash,
         |  count(DISTINCT CASE WHEN split = 'train' THEN doc_id END) AS n_train_docs,
         |  count(DISTINCT CASE WHEN split = 'test' THEN doc_id END) AS n_test_docs
         |FROM w GROUP BY whash
         |HAVING count(DISTINCT CASE WHEN split = 'train' THEN doc_id END) >= 1
         |   AND count(DISTINCT CASE WHEN split = 'test' THEN doc_id END) >= 1
         |ORDER BY n_test_docs DESC, whash LIMIT 20""".stripMargin,
    "q_mink_hash" ->
      """WITH h AS (
        |  SELECT lang, CAST('0x' || substring(md5(text), 1, 15) AS BIGINT) AS h
        |  FROM documents),
        |r AS (SELECT lang, h,
        |    row_number() OVER (PARTITION BY lang ORDER BY h) AS rn
        |  FROM h)
        |SELECT lang, rn - 1 AS pos, h FROM r WHERE rn <= 4
        |ORDER BY lang, pos""".stripMargin,
    "q_distinct_estimate" ->
      """WITH h AS (
        |  SELECT DISTINCT lang,
        |    CAST('0x' || substring(md5(w), 1, 15) AS BIGINT) AS h
        |  FROM (SELECT lang, unnest(string_split_regex(text, '\s+')) AS w FROM documents)),
        |r AS (SELECT lang, h, row_number() OVER (PARTITION BY lang ORDER BY h) AS rn,
        |             count(*) OVER (PARTITION BY lang) AS n_exact
        |      FROM h)
        |SELECT lang, n_exact, h AS kth_min,
        |  CAST(7 * 1152921504606846976 // h AS BIGINT) AS est_distinct
        |FROM r WHERE rn = 8
        |ORDER BY lang""".stripMargin,
    "q_dataset_split" ->
      s"""WITH d AS (
         |  SELECT doc_id, lang, len(string_split_regex(text, '\\s+')) AS nw,
         |    CASE WHEN $bucketSql < 10 THEN 'test'
         |         WHEN $bucketSql < 20 THEN 'val'
         |         ELSE 'train' END AS split
         |  FROM documents)
         |SELECT split, lang, count(*) AS n_docs, CAST(sum(nw) AS BIGINT) AS n_words
         |FROM d GROUP BY split, lang ORDER BY split, lang""".stripMargin,
    // The oracle regenerates both example halves with its own list
    // ops — block slicing (1-based inclusive, clamping like Spark's
    // (start, length) slice), the mod-7 mask die, sentinel ranks as
    // masked-predecessor counts — and the md5s must land bit-equal.
    // The target coalesce matters: DuckDB joins an EMPTY list to NULL
    // where Spark gives '' — a doc with zero masked blocks hashes
    // md5('') in both engines only through it.
    "q_span_corrupt" ->
      """WITH d AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS ws FROM documents),
        |b AS (
        |  SELECT doc_id,
        |    list_transform(range(0, CAST((len(ws) + 2) // 3 AS INT)),
        |      c -> struct_pack(
        |        bi := c,
        |        txt := array_to_string(ws[c*3+1 : c*3+3], ' '),
        |        m := CAST('0x' || substring(md5(doc_id || ':' || c), 1, 8) AS BIGINT) % 7 = 0)) AS blocks
        |  FROM d)
        |SELECT doc_id,
        |  CAST(len(blocks) AS BIGINT) AS n_blocks,
        |  CAST(len(list_filter(blocks, x -> x.m)) AS BIGINT) AS n_masked,
        |  md5(array_to_string(list_transform(blocks, x ->
        |    CASE WHEN x.m THEN '<X' || len(list_filter(blocks, y -> y.m AND y.bi < x.bi)) || '>'
        |         ELSE x.txt END), ' ')) AS input_md5,
        |  md5(coalesce(array_to_string(list_transform(list_filter(blocks, x -> x.m), x ->
        |    '<X' || len(list_filter(blocks, y -> y.m AND y.bi < x.bi)) || '> ' || x.txt), ' '), '')) AS target_md5
        |FROM b ORDER BY doc_id""".stripMargin,
    "q_shard_assign" ->
      """WITH sh AS (
        |  SELECT doc_id, n_chars,
        |         CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 16 AS shard
        |  FROM documents)
        |SELECT shard, count(*) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS n_chars,
        |       bit_xor(doc_id * 31 + n_chars) AS manifest_xor
        |FROM sh GROUP BY shard ORDER BY shard""".stripMargin,
    // The oracle states each epoch-shard serving order directly
    // (string_agg ORDER BY the epoch key); distinct order_xor values
    // across the three epochs are the shuffling-actually-happened
    // evidence, and equality with Spark is the reproducibility proof.
    "q_epoch_shuffle" ->
      """WITH e AS (SELECT unnest(generate_series(0, 2)) AS epoch),
        |sh AS (
        |  SELECT e.epoch, doc_id,
        |         CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 16 AS shard,
        |         CAST('0x' || substring(md5(e.epoch || ':' || doc_id), 1, 15) AS BIGINT) AS ek
        |  FROM documents, e),
        |fp AS (
        |  SELECT epoch, shard,
        |         md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY ek, doc_id)) AS order_md5
        |  FROM sh GROUP BY epoch, shard)
        |SELECT epoch, count(*) AS n_shards,
        |       bit_xor(CAST('0x' || substring(order_md5, 1, 15) AS BIGINT)) AS order_xor
        |FROM fp GROUP BY epoch ORDER BY epoch""".stripMargin,
    "q_padding_waste" ->
      """WITH nw AS (
        |  SELECT least(len(string_split_regex(text, '\s+')), 128) AS nw
        |  FROM documents),
        |e AS (
        |  SELECT b, least((nw * b) // 128, b - 1) AS bucket, nw
        |  FROM nw CROSS JOIN (SELECT unnest([1, 2, 4, 8, 16, 32]) AS b)),
        |per_bucket AS (
        |  SELECT b, bucket, count(*) AS n_docs, sum(nw) AS tok, max(nw) AS mx
        |  FROM e GROUP BY b, bucket)
        |SELECT CAST(b AS BIGINT) AS b,
        |  count(*) AS buckets_used,
        |  CAST(sum(tok) AS BIGINT) AS real_tokens,
        |  CAST(sum(mx * n_docs - tok) AS BIGINT) AS padded_tokens,
        |  CAST(sum(mx * n_docs - tok) * 10000 // sum(mx * n_docs) AS BIGINT) AS waste_bp
        |FROM per_bucket GROUP BY b ORDER BY b""".stripMargin,
    "q_weighted_sample" ->
      """WITH d AS (
        |  SELECT source, doc_id,
        |    least(len(string_split_regex(text, '\s+')), 128) AS w,
        |    CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':ws'), 1, 13) AS BIGINT) AS h52
        |  FROM documents)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN h52 < w * 35184372088832 THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
        |  CAST(sum(CASE WHEN h52 < w * 35184372088832 THEN w ELSE 0 END) AS BIGINT) AS w_sampled,
        |  CAST(sum(w) AS BIGINT) AS w_total,
        |  bit_xor(CASE WHEN h52 < w * 35184372088832 THEN doc_id ELSE 0 END) AS sample_xor
        |FROM d GROUP BY source ORDER BY source""".stripMargin,
    "q_stratified_sample" ->
      """SELECT lang, source, rnk, doc_id FROM (
        |  SELECT lang, source, doc_id,
        |    row_number() OVER (PARTITION BY lang, source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rnk
        |  FROM documents)
        |WHERE rnk <= 5 ORDER BY lang, source, rnk""".stripMargin,
    "q_tfidf_top_terms" ->
      """WITH words AS (
        |  SELECT doc_id, source, unnest(string_split_regex(text, '\s+')) AS w
        |  FROM documents),
        |tf AS (SELECT source, w, count(*) AS tf FROM words GROUP BY source, w),
        |df AS (SELECT w, count(*) AS df FROM (SELECT DISTINCT w, doc_id FROM words) GROUP BY w),
        |scored AS (
        |  SELECT tf.source, tf.w, tf.tf, df.df,
        |    CAST(tf.tf AS DOUBLE) / df.df AS score
        |  FROM tf JOIN df ON df.w = tf.w),
        |ranked AS (
        |  SELECT source, w, tf, df,
        |    row_number() OVER (PARTITION BY source ORDER BY score DESC, w) AS rnk
        |  FROM scored)
        |SELECT source, rnk, w AS term, tf, df FROM ranked WHERE rnk <= 5
        |ORDER BY source, rnk""".stripMargin,
    "q_doc_chunks" ->
      """WITH d AS (
        |  SELECT doc_id, len(string_split_regex(text, '\s+')) AS nw
        |  FROM documents WHERE doc_id % 25 = 0)
        |SELECT doc_id, i AS chunk_id, i * 64 AS start_word,
        |  least((i + 1) * 64, nw) AS end_word
        |FROM d, (SELECT unnest(generate_series(0, 100)) AS i) t
        |-- series bound assumes docs <= ~6400 words; the corpus caps at
        |-- ~2000 (same documented bound as the shingle oracles)
        |WHERE i <= (nw + 63) // 64 - 1
        |ORDER BY doc_id, chunk_id""".stripMargin,
    // Same stopword-bp arithmetic as q_quality_score; the cutoff is
    // derived over the (source x bp) token histogram, level-granular.
    "q_budget_select" ->
      """WITH d AS (
        |  SELECT source,
        |    CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS nw,
        |    CAST(len(list_filter(string_split_regex(text, '\s+'),
        |        x -> x IN ('the','a','of','and','to','in','is','it'))) AS BIGINT) AS nstop
        |  FROM documents),
        |pd AS (SELECT source, nw, (10000 * nstop) // nw AS stop_bp FROM d),
        |hist AS (SELECT source, stop_bp, CAST(sum(nw) AS BIGINT) AS lvl_tokens,
        |                count(*) AS lvl_docs
        |         FROM pd GROUP BY 1, 2),
        |c AS (SELECT source, stop_bp, lvl_tokens, lvl_docs,
        |        CAST(sum(lvl_tokens) OVER (PARTITION BY source) AS BIGINT) * 6 // 10 AS budget,
        |        CAST(sum(lvl_tokens) OVER (PARTITION BY source ORDER BY stop_bp DESC
        |               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |      FROM hist)
        |SELECT source, budget, min(stop_bp) AS q_threshold_bp,
        |  CAST(sum(lvl_docs) AS BIGINT) AS n_docs_kept,
        |  CAST(sum(lvl_tokens) AS BIGINT) AS tokens_kept,
        |  CAST(sum(lvl_tokens) AS BIGINT) * 10000 // budget AS fill_bp
        |FROM c WHERE cum <= budget
        |GROUP BY source, budget ORDER BY source""".stripMargin,
    "q_quality_score" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    len(string_split_regex(text, '\s+')) AS nw,
        |    len(list_filter(string_split_regex(text, '\s+'),
        |        x -> x IN ('the','a','of','and','to','in','is','it'))) AS nstop,
        |    length(text) AS nc,
        |    length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS npunct
        |  FROM documents),
        |bp AS (SELECT doc_id, (10000 * nstop) // nw AS stop_bp,
        |              (10000 * npunct) // nc AS punct_bp FROM d)
        |SELECT stop_bp // 1000 AS stop_decile, count(*) AS n_docs,
        |  CAST(sum(stop_bp) AS BIGINT) AS sum_stop_bp, CAST(sum(punct_bp) AS BIGINT) AS sum_punct_bp,
        |  min(stop_bp) AS min_stop_bp, max(stop_bp) AS max_stop_bp
        |FROM bp GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_rolling_fingerprint" ->
      s"""WITH f AS (
         |  SELECT doc_id,
         |    ${Hashing.prefixFingerprintDuck(8)} AS fingerprint
         |  FROM documents)
         |SELECT fingerprint, count(*) AS n_docs, min(doc_id) AS canonical_doc
         |FROM f GROUP BY fingerprint HAVING count(*) > 1
         |ORDER BY fingerprint""".stripMargin,
    "q_incremental_dedup" ->
      s"""WITH f AS (
         |  SELECT doc_id, $bucketSql AS b,
         |    ${Hashing.prefixFingerprintDuck(8)} AS fingerprint
         |  FROM documents),
         |old AS (SELECT fingerprint, count(*) AS n_existing
         |        FROM f WHERE b < 80 GROUP BY fingerprint)
         |SELECT n.doc_id, n.fingerprint, o.n_existing
         |FROM f n JOIN old o ON o.fingerprint = n.fingerprint
         |WHERE n.b >= 80 ORDER BY n.doc_id""".stripMargin,
    // The Bloom pre-filter must be result-invisible: the oracle is the
    // PLAIN exact corpus join, no filter anywhere.
    "q_bloom_gate" ->
      s"""WITH f AS (
         |  SELECT doc_id, lang, $bucketSql AS b,
         |    ${Hashing.prefixFingerprintDuck(8)} AS fingerprint
         |  FROM documents),
         |corpus AS (SELECT DISTINCT fingerprint FROM f WHERE b < 80),
         |batch AS (SELECT lang, fingerprint FROM f WHERE b >= 80)
         |SELECT lang, count(*) AS n_batch,
         |  count(c.fingerprint) AS n_dup,
         |  count(*) - count(c.fingerprint) AS n_new
         |FROM batch n LEFT JOIN corpus c ON c.fingerprint = n.fingerprint
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    // Each pipeline stage is a CTE; the near-dup pair set nests the
    // minhash oracle verbatim (the recall-audit pattern).
    "q_corpus_pipeline" ->
      s"""WITH mh AS (${graft.queries.TextOps.oracles("q_minhash_pairs")}),
         |stats AS (SELECT doc_id, lang,
         |    CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS nw,
         |    CAST(len(list_filter(string_split_regex(text, '\\s+'),
         |      x -> list_contains(['the','a','of','and','to','in','is','it'], x))) AS BIGINT) AS nstop,
         |    md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fp,
         |    $bucketSql AS b
         |  FROM documents),
         |q AS (SELECT *, (10000 * nstop) // nw AS stop_bp FROM stats WHERE nw >= 20),
         |q2 AS (SELECT * FROM q WHERE stop_bp >= 500),
         |exact AS (SELECT * FROM q2
         |          WHERE doc_id IN (SELECT min(doc_id) FROM q2 GROUP BY fp)),
         |surv AS (SELECT * FROM exact
         |         WHERE doc_id NOT IN (SELECT doc_b FROM mh))
         |SELECT CASE WHEN b < 10 THEN 'test' WHEN b < 20 THEN 'val'
         |            ELSE 'train' END AS split,
         |  lang, count(*) AS n_docs, CAST(sum(nw) AS BIGINT) AS n_tokens
         |FROM surv GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // Exact counts from DuckDB; the within-bound flag must be TRUE —
    // an HLL drift past its rsd makes the driver row red.
    "q_hll_audit" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_exact,
        |  TRUE AS within_5pct
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_hll_union_audit" ->
      """SELECT count(DISTINCT user_id) AS n_exact,
        |  count(DISTINCT event_type) AS n_sketches,
        |  TRUE AS within_5pct
        |FROM events""".stripMargin,
    "q_common_passages" ->
      s"""WITH h AS (SELECT doc_id, $wordHashListSql AS hs FROM documents),
         |w AS (
         |  SELECT doc_id,
         |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_slice(hs, i + 1, i + 8)),
         |      (acc, x) -> (acc * 31 + x) % 1000000007) AS whash
         |  FROM h, (SELECT unnest(generate_series(0, 2000)) AS i) t
         |  -- series bound = the corpus's documented ~2000-word max,
         |  -- same assumption as every shingle oracle
         |  WHERE len(hs) >= 8 AND i <= len(hs) - 8)
         |SELECT whash, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occurrences
         |FROM w GROUP BY whash HAVING count(DISTINCT doc_id) >= 2
         |ORDER BY n_docs DESC, whash LIMIT 20""".stripMargin,
    // winnowing replayed verbatim: the packed-key array_min IS the
    // rightmost-min rule, so the oracle only needs the same pack; the
    // key expression appears twice (DIV and %) because SQL lambdas
    // have no let-binding.
    "q_winnow_fingerprint" -> {
      val keyDuck = "list_min(list_transform(generate_series(0, 3), " +
        "u -> g[j + u + 1] * 4096 + CAST(4095 - u AS BIGINT)))"
      s"""WITH h AS (
         |  SELECT doc_id, $wordHashListSql AS hs FROM documents
         |  WHERE doc_id % 10 = 0),
         |g AS (
         |  SELECT doc_id, list_transform(generate_series(0, len(hs) - 4),
         |    i -> list_reduce(list_prepend(CAST(0 AS BIGINT), hs[i + 1:i + 4]),
         |                     (acc, x) -> (acc * 31 + x) % 1000000007)) AS g
         |  FROM h WHERE len(hs) >= 7),
         |sel AS (
         |  SELECT doc_id, len(g) AS n_grams,
         |    list_distinct(list_transform(generate_series(0, len(g) - 4),
         |      j -> (($keyDuck) // 4096) * 4096 + j + 4095 - ($keyDuck) % 4096)) AS insts
         |  FROM g)
         |SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
         |  CAST(n_grams - 3 AS BIGINT) AS n_windows,
         |  CAST(len(insts) AS BIGINT) AS n_selected,
         |  10000 * len(insts) // (n_grams - 3) AS density_bp,
         |  list_reduce(list_prepend(CAST(0 AS BIGINT), insts),
         |              (acc, x) -> xor(acc, x)) AS fp_xor
         |FROM sel ORDER BY doc_id""".stripMargin
    },
    "q_ngram_novelty" ->
      s"""WITH w AS (
         |  SELECT doc_id, lang,
         |    CASE WHEN $bucketSql < 10 THEN 'test'
         |         WHEN $bucketSql < 20 THEN 'val'
         |         ELSE 'train' END AS split,
         |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_slice(hs, i + 1, i + 8)),
         |      (acc, x) -> (acc * 31 + x) % 1000000007) AS whash
         |  FROM (SELECT doc_id, lang, $wordHashListSql AS hs FROM documents),
         |    (SELECT unnest(generate_series(0, 2000)) AS i) t
         |  WHERE len(hs) >= 8 AND i <= len(hs) - 8),
         |tg AS (SELECT DISTINCT whash FROM w WHERE split = 'train')
         |SELECT w.lang, count(*) AS n_test_grams, count(tg.whash) AS n_seen,
         |  10000 * (count(*) - count(tg.whash)) // count(*) AS novelty_bp
         |FROM w LEFT JOIN tg ON w.whash = tg.whash
         |WHERE w.split = 'test'
         |GROUP BY w.lang ORDER BY w.lang""".stripMargin,
    // Overlap matrix replayed in full: same trigram rolling hash, exact
    // Jaccard via the shingle equi-join, and the identical bottom-64
    // sketch estimator (list_filter/list_contains instead of
    // array_intersect — u is distinct so the counts agree exactly).
    "q_source_overlap" ->
      s"""WITH d AS (SELECT source, $wordHashListSql AS hs FROM documents),
         |w AS (SELECT DISTINCT source,
         |        list_reduce(list_prepend(CAST(0 AS BIGINT), hs[i + 1:i + 3]),
         |                    (acc, h) -> (acc * 31 + h) % 1000000007) AS whash
         |      FROM d, (SELECT unnest(generate_series(0, 2000)) AS i) t
         |      WHERE len(hs) >= 3 AND i <= len(hs) - 3),
         |c AS (SELECT source, count(*) AS n FROM w GROUP BY 1),
         |sk AS (SELECT source, (list(whash ORDER BY whash))[1:64] AS sk FROM w GROUP BY 1),
         |x AS (SELECT a.source AS sa, b.source AS sb, count(*) AS n_inter
         |      FROM w a JOIN w b ON a.whash = b.whash AND a.source < b.source
         |      GROUP BY 1, 2),
         |p AS (SELECT ca.source AS sa, cb.source AS sb, ca.n AS n_a, cb.n AS n_b
         |      FROM c ca, c cb WHERE ca.source < cb.source),
         |e AS (SELECT p.sa, p.sb, p.n_a, p.n_b,
         |        coalesce(x.n_inter, 0) AS n_inter, a.sk AS ska, b.sk AS skb,
         |        (list_sort(list_distinct(a.sk || b.sk)))[1:64] AS u
         |      FROM p LEFT JOIN x ON x.sa = p.sa AND x.sb = p.sb
         |      JOIN sk a ON a.source = p.sa JOIN sk b ON b.source = p.sb)
         |SELECT sa, sb, n_a, n_b, CAST(n_inter AS BIGINT) AS n_inter,
         |  CAST((10000 * n_inter) // (n_a + n_b - n_inter) AS BIGINT) AS jaccard_bp,
         |  CAST((10000 * len(list_filter(u, y -> list_contains(ska, y)
         |                                   AND list_contains(skb, y)))) // len(u)
         |    AS BIGINT) AS est_bp,
         |  CAST((10000 * len(list_filter(u, y -> list_contains(ska, y)
         |                                   AND list_contains(skb, y)))) // len(u)
         |    - (10000 * n_inter) // (n_a + n_b - n_inter) AS BIGINT) AS err_bp
         |FROM e ORDER BY sa, sb""".stripMargin,
    // Shared spans replayed in full: same windows with positions, the
    // same <= 32-occurrence boilerplate guard, the same diagonal
    // island arithmetic — once at k=8 (primary) and once at k=4 (the
    // short-region tail), via one generated chain per k.
    "q_shared_spans" -> {
      def chain(k: Int, sfx: String): String =
        s"""w$sfx AS (SELECT doc_id, i AS pos,
           |        list_reduce(list_prepend(CAST(0 AS BIGINT), hs[i + 1:i + $k]),
           |                    (acc, h) -> (acc * 31 + h) % 1000000007) AS whash
           |      FROM d, (SELECT unnest(generate_series(0, ${Hashing.WordUnrollCap})) AS i) t$sfx
           |      WHERE len(hs) >= $k AND i <= len(hs) - $k),
           |rare$sfx AS (SELECT whash FROM w$sfx GROUP BY whash HAVING count(*) <= 32),
           |w2$sfx AS (SELECT w$sfx.* FROM w$sfx JOIN rare$sfx USING (whash)),
           |p$sfx AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pa, b.pos AS pb
           |      FROM w2$sfx a JOIN w2$sfx b ON a.whash = b.whash AND a.doc_id < b.doc_id),
           |i2$sfx AS (SELECT doc_a, doc_b, pa - pb AS diag,
           |         pa - row_number() OVER (PARTITION BY doc_a, doc_b, pa - pb ORDER BY pa) AS isl
           |       FROM p$sfx),
           |sp$sfx AS (SELECT doc_a, doc_b, count(*) AS n_win
           |       FROM i2$sfx GROUP BY doc_a, doc_b, diag, isl)""".stripMargin
      s"""WITH d AS (SELECT doc_id, $wordHashListSql AS hs FROM documents),
         |${chain(8, "")},
         |${chain(4, "t")}
         |SELECT * FROM (
         |  SELECT 'primary' AS tier, doc_a, doc_b, count(*) AS n_spans,
         |    CAST(sum(n_win) AS BIGINT) AS n_shared_windows,
         |    CAST(max(n_win) + 7 AS BIGINT) AS max_span_words
         |  FROM sp GROUP BY doc_a, doc_b
         |  HAVING max(n_win) + 7 >= 16
         |  UNION ALL
         |  SELECT CASE WHEN n_win + 3 >= 6 THEN 'tail' ELSE 'tail_noise' END,
         |    CASE WHEN n_win + 3 >= 6 THEN doc_a ELSE -1 END,
         |    CASE WHEN n_win + 3 >= 6 THEN doc_b ELSE -1 END,
         |    count(*),
         |    CAST(sum(n_win) AS BIGINT),
         |    CAST(max(n_win) + 3 AS BIGINT)
         |  FROM spt WHERE n_win + 3 <= 15
         |  GROUP BY 1, 2, 3)
         |ORDER BY tier, doc_a, doc_b""".stripMargin
    },
    // Rebuilds the same formulaic PII view, counts, and redacts with
    // the same patterns in the same order — detection AND rewrite
    // both hash-gated.
    "q_pii_redact" ->
      """WITH p AS (
        |  SELECT doc_id, text ||
        |    CASE WHEN doc_id % 3 > 0
        |         THEN ' contact user' || doc_id || '@example.com' ELSE '' END ||
        |    ' from 10.' || (doc_id % 256) || '.' || (doc_id % 7) || '.' || (doc_id % 13) ||
        |    CASE WHEN doc_id % 5 = 0
        |         THEN ' via 192.168.' || (doc_id % 31) || '.' || (doc_id % 11) ELSE '' END ||
        |    CASE WHEN doc_id % 4 = 0
        |         THEN ' call +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |         ELSE '' END AS text
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[a-z0-9]+@[a-z0-9.]+\.[a-z]+')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(text, '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}')) AS BIGINT) AS n_ips,
        |  CAST(len(regexp_extract_all(text, '\+1-[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phones,
        |  md5(regexp_replace(regexp_replace(regexp_replace(text,
        |    '[a-z0-9]+@[a-z0-9.]+\.[a-z]+', '<EMAIL>', 'g'),
        |    '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '<IP>', 'g'),
        |    '\+1-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g')) AS redacted_md5
        |FROM p ORDER BY doc_id""".stripMargin,
    "q_exactsubstr_scrub" ->
      s"""WITH d AS (SELECT doc_id, string_split_regex(text, '\\s+') AS ws,
         |            $wordHashListSql AS hs FROM documents),
         |w AS (SELECT doc_id, i AS pos,
         |        list_reduce(list_prepend(CAST(0 AS BIGINT), hs[i + 1:i + 8]),
         |                    (acc, h) -> (acc * 31 + h) % 1000000007) AS whash
         |      FROM d, (SELECT unnest(generate_series(0, 2000)) AS i) t
         |      WHERE len(hs) >= 8 AND i <= len(hs) - 8),
         |dw AS (SELECT doc_id, CAST(pos AS BIGINT) AS st, CAST(pos + 7 AS BIGINT) AS en
         |       FROM (SELECT w.*, min(doc_id) OVER (PARTITION BY whash) AS mn,
         |                    max(doc_id) OVER (PARTITION BY whash) AS mx FROM w)
         |       WHERE mn <> mx),
         |m AS (SELECT doc_id, st, en,
         |        max(en) OVER (PARTITION BY doc_id ORDER BY st
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_en
         |      FROM dw),
         |g AS (SELECT *, sum(CASE WHEN prev_en IS NULL OR st > prev_en + 1
         |                         THEN 1 ELSE 0 END)
         |        OVER (PARTITION BY doc_id ORDER BY st) AS grp FROM m),
         |sp AS (SELECT doc_id, min(st) AS st, max(en) AS en,
         |         max(en) - min(st) + 1 AS len
         |       FROM g GROUP BY doc_id, grp
         |       HAVING max(en) - min(st) + 1 >= 16),
         |cutagg AS (SELECT doc_id, count(*) AS n_cut_spans, sum(len) AS n_cut_words
         |           FROM sp GROUP BY doc_id),
         |posns AS (SELECT doc_id, CAST(i AS BIGINT) AS idx, ws[i + 1] AS w
         |          FROM d, (SELECT unnest(generate_series(0, 2000)) AS i) t
         |          WHERE i < len(ws)),
         |kept AS (SELECT p.doc_id, p.idx, p.w FROM posns p
         |         WHERE NOT EXISTS (SELECT 1 FROM sp
         |           WHERE sp.doc_id = p.doc_id AND p.idx BETWEEN sp.st AND sp.en)),
         |ka AS (SELECT doc_id, count(*) AS n_after,
         |         md5(string_agg(w, ' ' ORDER BY idx)) AS scrub_md5
         |       FROM kept GROUP BY doc_id)
         |SELECT d.doc_id, CAST(len(d.ws) AS BIGINT) AS n_words,
         |  CAST(coalesce(c.n_cut_spans, 0) AS BIGINT) AS n_cut_spans,
         |  CAST(coalesce(c.n_cut_words, 0) AS BIGINT) AS n_cut_words,
         |  CAST(coalesce(k.n_after, 0) AS BIGINT) AS n_words_after,
         |  coalesce(k.scrub_md5, md5('')) AS scrub_md5
         |FROM d LEFT JOIN cutagg c USING (doc_id) LEFT JOIN ka k USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,
    "q_filter_funnel" ->
      """WITH f AS (
        |  SELECT lang,
        |    CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS nw,
        |    CAST(len(list_distinct(string_split_regex(text, '\s+'))) AS BIGINT) AS nd,
        |    CAST(len(list_filter(string_split_regex(text, '\s+'),
        |      x -> list_contains(['the','a','of','and','to','in','is','it'], x))) AS BIGINT) AS nstop,
        |    CAST(length(text) AS BIGINT) AS nc,
        |    CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS BIGINT) AS npunct
        |  FROM documents),
        |v AS (SELECT lang,
        |    CASE WHEN nw < 30 THEN 'too_short'
        |         WHEN (10000 * nd) // nw < 3000 THEN 'repetitive'
        |         WHEN (10000 * npunct) // nc > 1500 THEN 'high_punct'
        |         WHEN (10000 * nstop) // nw < 300 THEN 'low_stop'
        |         ELSE 'keep' END AS verdict
        |  FROM f)
        |SELECT lang, verdict, count(*) AS n_docs,
        |  CAST((10000 * count(*)) // sum(count(*)) OVER (PARTITION BY lang) AS BIGINT)
        |    AS lang_share_bp
        |FROM v GROUP BY lang, verdict
        |ORDER BY lang, verdict""".stripMargin,
  )
}
